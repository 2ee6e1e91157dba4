package graft.lake

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Builds ONE Spark relation over every hive-partitioned commit dir of
  * a snapshot, with the partition spec supplied by the manifest rather
  * than inferred from paths.
  *
  * Spark's own partition discovery requires a single directory root: N
  * commit dirs (each `data/<uuid>/_p_…=…/`) trip
  * CONFLICTING_DIRECTORY_STRUCTURES because the `<uuid>` path segments
  * look like N different tables. Table formats solve this by owning
  * the file index (Delta's `TahoeFileIndex`, Iceberg's
  * `SparkScan`) — here the same idea in its minimal form: enumerate
  * each commit dir's partition leaf dirs driver-side (O(partition
  * dirs), the same listing discovery itself would do), parse the
  * values with the manifest's typed fields, and hand Spark an
  * [[InMemoryFileIndex]] with a ready-made [[PartitionSpec]]. Catalyst
  * then plans ONE scan with working `PartitionFilters` pruning over
  * any number of commits — the per-commit `union` alternative costs
  * O(commits) plan nodes and serial listings, which a streaming sink's
  * thousands of micro-batch commits would turn into a driver
  * bottleneck.
  */
private[lake] object SnapshotRead {

  /** [[InMemoryFileIndex]] that additionally drops files outside the
    * per-dir manifest-stats keep sets ([[FileStats]]): file skipping
    * composes with partition pruning inside the one scan relation, and
    * skipped files never reach the parquet reader. `keep` maps a
    * commit dir's table-relative name (`data/<uuid>`) to the relative
    * file keys that can match; dirs absent from the map keep all their
    * files (no stats → conservative).
    */
  private final class StatsPrunedFileIndex(
      spark: SparkSession,
      roots: Seq[org.apache.hadoop.fs.Path],
      schemaOpt: Option[StructType],
      spec: org.apache.spark.sql.execution.datasources.PartitionSpec,
      keep: Map[String, Set[String]],
      root: HPath)
    extends InMemoryFileIndex(spark, roots, Map.empty, schemaOpt,
      userSpecifiedPartitionSpec = Some(spec)) {
    override def listFiles(
        partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
        dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.execution.datasources.PartitionDirectory] =
      super.listFiles(partitionFilters, dataFilters).map { pd =>
        pd.copy(files = pd.files.filter { f =>
          // an owned file's root-relative path is data/<uuid>/<key>
          FileKey.underRoot(root, f.getPath).map(_.split("/", 3)) match {
            case Some(Array(data, uuid, key)) => keep.get(s"$data/$uuid").forall(_.contains(key))
            case _                            => true // unidentifiable → keep
          }
        })
      }
  }

  def partitionedFrame(table: LakeTable, dirs: Seq[String],
                       fields: Seq[PartitionField], userSchema: StructType,
                       statsKeep: Map[String, Set[String]] = Map.empty,
                       withPos: Boolean = false): DataFrame = {
    val spark = table.spark
    val partCols = StructType(fields.map(f =>
      StructField(f.name, f.partitionType(userSchema), nullable = true)))
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    def parseValue(raw: String, dt: DataType): Any = {
      val s = ExternalCatalogUtils.unescapePathName(raw)
      if (s == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      else Cast(Literal(UTF8String.fromString(s), StringType), dt, Some(zone)).eval()
    }
    // leaf partition dirs: one nesting level per field, in spec order
    // (writeDataDir partitions by fields in that order) — listed
    // through the table's Hadoop filesystem, so any warehouse scheme
    // works
    def leafDirs(base: HPath, depth: Int): Seq[(HPath, List[String])] =
      if (depth == fields.size) Seq((base, Nil))
      else {
        val subs = table.io.list(base)
          .filter(st => st.isDirectory && st.getPath.getName.contains('='))
        subs.flatMap { st =>
          val nm = st.getPath.getName
          val raw = nm.substring(nm.indexOf('=') + 1)
          leafDirs(st.getPath, depth + 1).map { case (p, vs) => (p, raw :: vs) }
        }
      }
    val fs = table.io.fs
    val parts = dirs.flatMap(d => leafDirs(table.loc(d), 0)).map { case (p, raws) =>
      val row = InternalRow.fromSeq(raws.zip(partCols.fields).map {
        case (raw, f) => parseValue(raw, f.dataType)
      })
      // qualify exactly like the index's own listing, so partition
      // paths and listed leaf dirs compare equal
      PartitionPath(row, fs.makeQualified(p))
    }
    val index =
      if (statsKeep.nonEmpty)
        new StatsPrunedFileIndex(spark, parts.map(_.path), Some(userSchema),
          PartitionSpec(partCols, parts), statsKeep, table.rootQ)
      else
        new InMemoryFileIndex(spark, parts.map(_.path), Map.empty,
          Some(userSchema),
          userSpecifiedPartitionSpec = Some(PartitionSpec(partCols, parts)))
    // data files hold the user schema minus identity partition columns
    // (partitionBy lifts those into the directory names)
    val identNames = fields.filterNot(_.hidden).map(_.name).toSet
    val dataSchema = StructType(userSchema.filterNot(f => identNames.contains(f.name)))
    val rel = HadoopFsRelation(index, partCols, dataSchema,
      None, new ParquetFileFormat, Map.empty)(spark)
    val df = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(rel)
    // relation output is dataSchema ++ partition columns; restore the
    // user-schema order (+ hidden transform columns at the end, which
    // scan() filters on and then drops; + merge-on-read position
    // columns from the file-source `_metadata` struct when asked)
    import org.apache.spark.sql.functions.col
    val pos =
      if (withPos) Seq(FileKey.column.as(LakePos.FileCol),
        col("_metadata.row_index").as(LakePos.PosCol))
      else Nil
    df.select((userSchema.fieldNames.toSeq ++ fields.filter(_.hidden).map(_.name)).map(col)
      ++ pos: _*)
  }
}
