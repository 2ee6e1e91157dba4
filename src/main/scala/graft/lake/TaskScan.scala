package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One parquet file a table format hands to [[TaskScan]]: its path,
  * its partition values in the formats' string form (aligned with the
  * scan's partition columns, null = null value) and its data sequence
  * number.
  */
private[lake] final case class FileTask(path: String, partitionValues: Seq[String] = Nil,
                                        dataSeq: Long = 0L)

/** Deletes a scan applies. `positions` rows are (`file_path` string,
  * `pos` long, [[TaskScan.SeqCol]] long); each `equality` entry is a
  * key-column set and its key rows plus [[TaskScan.SeqCol]].
  */
private[lake] final case class ScanDeletes(positions: Option[DataFrame] = None,
                                           equality: Seq[(Seq[String], DataFrame)] = Nil) {
  def isEmpty: Boolean = positions.isEmpty && equality.isEmpty
}

/** The scan-task reader under the Delta and Iceberg readers: a format
  * resolves its metadata to [[FileTask]]s plus delete coordinates, and
  * this layer turns them into one scan.
  *
  *  - One relation: a single `HadoopFsRelation` over every task whose
  *    file index returns one partition directory per distinct
  *    partition tuple, so partition values come back typed. When
  *    deletes apply, each file is its own directory carrying two
  *    constant hidden columns, its task index and its data sequence,
  *    and `_metadata.row_index` gives each row's position.
  *  - Sequence rules (Iceberg v2, https://iceberg.apache.org/spec/#scan-planning):
  *    a position delete with sequence S removes its row from a data
  *    file with sequence <= S; an equality delete with sequence S
  *    removes null-safe key matches from data files with sequence < S.
  *    Delta deletion vectors are position deletes at the sequence of
  *    their own file, so they always apply.
  *  - One name-based projection to the table's current schema:
  *    columns absent from every file null-fill with their declared type.
  *
  * File statuses come from the filesystem, never from manifest or log
  * sizes.
  */
private[lake] object TaskScan {
  val SeqCol = "_gr_seq"
  val TaskCol = "_gr_task"
  val PosCol = "_gr_pos"

  /** Scan `tasks` as `schema` (by name; a NullType field is one only
    * the files can type). Data columns read with their declared types,
    * or with the merged footer schema under `mergeFooters`. `deletes`
    * drop rows; `only` then keeps just the rows its deletes would
    * delete, which is a changelog's delete rows. `coordinates` appends
    * [[TaskCol]] (index into `tasks`) and [[PosCol]].
    */
  def scan(spark: SparkSession, tasks: Seq[FileTask], schema: StructType,
           partitionColumns: Seq[String] = Nil, deletes: ScanDeletes = ScanDeletes(),
           only: Option[ScanDeletes] = None, mergeFooters: Boolean = false,
           coordinates: Boolean = false): DataFrame = {
    val keyed = coordinates || !deletes.isEmpty || only.isDefined
    val partSchema = StructType(partitionColumns.map(c => schema(c)))
    val dataSchema = if (mergeFooters) None
      else Some(StructType(schema.filterNot(f => partitionColumns.contains(f.name))))
    val statuses = statusesOf(spark, tasks)
    val rel = relation(spark, tasks, statuses, dataSchema, partSchema, keyed)
    val base = if (keyed) rel.withColumn(PosCol, col("_metadata.row_index")) else rel
    val rows =
      if (tasks.isEmpty) base
      else {
        val live = appliers(spark, tasks, statuses, deletes)
          .foldLeft(base)((d, a) => a(d, "left_anti"))
        only.fold(live) { kept =>
          val marked = appliers(spark, tasks, statuses, kept)
          // a row several deletes hit is one delete row: each applier
          // keeps its matches among the rows the earlier ones left
          marked.indices.map { i =>
            marked(i)(marked.take(i).foldLeft(live)((d, a) => a(d, "left_anti")), "left_semi")
          }.reduceOption(_ union _).getOrElse(live.where(lit(false)))
        }
      }
    val present = rows.columns.toSet
    val projected = schema.fields.toSeq.flatMap { f =>
      if (present(f.name)) Some(col(f.name))
      else if (f.dataType != NullType) Some(lit(null).cast(f.dataType).as(f.name))
      else if (tasks.isEmpty) None // an empty scan has no files to type it
      else throw new IllegalStateException(
        s"column '${f.name}' absent from data files and untypeable")
    }
    rows.select(projected ++ (if (coordinates) Seq(col(TaskCol), col(PosCol)) else Nil): _*)
  }

  /** Position-delete rows of parquet delete files (`file_path`, `pos`),
    * each file at its task's sequence: one relation over all of them.
    */
  def positionRows(spark: SparkSession, files: Seq[FileTask]): DataFrame =
    relation(spark, files, statusesOf(spark, files), Some(new StructType().add("file_path", StringType)
      .add("pos", LongType)), new StructType(), keyed = true)
      .select(col("file_path"), col("pos"), col(SeqCol))

  /** Key rows of parquet equality-delete files, each file at its
    * task's sequence: one relation over all of them.
    */
  def equalityRows(spark: SparkSession, files: Seq[FileTask], keys: StructType): DataFrame =
    relation(spark, files, statusesOf(spark, files), Some(keys), new StructType(), keyed = true)
      .select(keys.fieldNames.map(col).toIndexedSeq :+ col(SeqCol): _*)

  /** One join per delete kind, each `(data, joinType) => data`.
    * Position rows find their task by qualified path form, or by URI
    * form (older writers stored it as given), in either scheme
    * spelling ([[FileKey.canon]]).
    */
  private def appliers(spark: SparkSession, tasks: Seq[FileTask], statuses: Seq[FileStatus],
                       d: ScanDeletes): Seq[(DataFrame, String) => DataFrame] = {
    val positions = d.positions.map { rows =>
      import spark.implicits._
      val byPath = tasks.indices.flatMap { i =>
        val p = statuses(i).getPath
        Seq(p.toString, FileKey.uri(p)).distinct.map(k => (k, i, tasks(i).dataSeq))
      }.toDF("_gr_dpath", "_gr_dtask", "_gr_dtseq")
      val coords = rows.join(broadcast(byPath), FileKey.canon(rows("file_path")) === byPath("_gr_dpath"))
        .where(byPath("_gr_dtseq") <= rows(SeqCol))
        .select(col("_gr_dtask"), col("pos").as("_gr_dpos"))
      (data: DataFrame, how: String) => data.join(broadcast(coords),
        data(TaskCol) === coords("_gr_dtask") && data(PosCol) === coords("_gr_dpos"), how)
    }
    val equality = d.equality.map { case (keys, rows) =>
      val del = rows.select(keys.map(c => col(c).as(s"_gr_del_$c")) :+
        col(SeqCol).as("_gr_del_seq"): _*)
      (data: DataFrame, how: String) => data.join(broadcast(del),
        keys.map(c => data(c) <=> del(s"_gr_del_$c")).reduce(_ && _) &&
          data(SeqCol) < del("_gr_del_seq"), how)
    }
    positions.toSeq ++ equality
  }

  /** One `HadoopFsRelation` over `tasks`. `keyed` adds the hidden
    * [[TaskCol]]/[[SeqCol]] partition columns, one directory per file.
    * No `dataSchema` merges the files' footer schemas.
    */
  private def relation(spark: SparkSession, tasks: Seq[FileTask], statuses: Seq[FileStatus],
                       dataSchema: Option[StructType], partSchema: StructType,
                       keyed: Boolean): DataFrame = {
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    def values(t: FileTask): Seq[Any] = partSchema.fields.toSeq.zip(t.partitionValues).map {
      case (_, null) => null
      case (f, v)    => Cast(Literal(v), f.dataType, tz).eval()
    }
    val dirs =
      if (keyed) tasks.indices.map(i => PartitionDirectory(
        InternalRow.fromSeq(values(tasks(i)) ++ Seq[Any](i, tasks(i).dataSeq)), Array(statuses(i))))
      else tasks.indices.groupBy(i => tasks(i).partitionValues).toSeq.map { case (_, is) =>
        PartitionDirectory(InternalRow.fromSeq(values(tasks(is.head))), is.map(statuses).toArray)
      }
    val fullPartSchema =
      if (keyed) partSchema.add(TaskCol, IntegerType, nullable = false)
        .add(SeqCol, LongType, nullable = false)
      else partSchema
    val format = new ParquetFileFormat
    val data = dataSchema.getOrElse(format.inferSchema(spark, Map("mergeSchema" -> "true"),
      statuses).getOrElse(new StructType()))
    spark.baseRelationToDataFrame(HadoopFsRelation(new TaskIndex(dirs, fullPartSchema),
      fullPartSchema, data, None, format, Map.empty)(spark))
  }

  /** Statuses aligned with `tasks`: one listing per directory holding
    * several tasks, one stat for a lone file.
    */
  private def statusesOf(spark: SparkSession, tasks: Seq[FileTask]): IndexedSeq[FileStatus] = {
    val conf = spark.sessionState.newHadoopConf()
    val paths = tasks.map { t =>
      val p = new HPath(t.path)
      p.getFileSystem(conf).makeQualified(p)
    }
    val found: Map[HPath, FileStatus] = paths.distinct.groupBy(_.getParent).toSeq.flatMap {
      case (_, Seq(p)) => Seq(p -> p.getFileSystem(conf).getFileStatus(p))
      case (dir, _)    => dir.getFileSystem(conf).listStatus(dir).map(s => s.getPath -> s)
    }.toMap
    paths.map(p => found.getOrElse(p,
      throw new java.io.FileNotFoundException(s"data file $p does not exist"))).toIndexedSeq
  }

  /** Fixed directories; partition filters prune them, as Spark's own
    * indexes do (the scan does not re-apply them). Equal file lists
    * make equal indexes, so two reads of one version are one plan to
    * the cache manager.
    */
  private final case class TaskIndex(dirs: Seq[PartitionDirectory], partitionSchema: StructType)
      extends FileIndex {
    private def files = dirs.flatMap(_.files)
    override def rootPaths: Seq[HPath] = files.map(_.getPath)
    override def inputFiles: Array[String] = files.map(_.getPath.toUri.toString).toArray
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def refresh(): Unit = ()
    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      if (partitionFilters.isEmpty) dirs
      else {
        val keep = Predicate.createInterpreted(partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            BoundReference(partitionSchema.fieldIndex(a.name), a.dataType, a.nullable)
        })
        dirs.filter(d => keep.eval(d.values))
      }
  }
}
