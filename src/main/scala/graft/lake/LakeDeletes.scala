package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.Column

/** Column names for row positions exposed on merge-on-read scans.
  * Every data-file relation can surface the file-source `_metadata`
  * struct; these two derived columns — qualified file path + row index
  * within the file — are the coordinates Iceberg v2 positional delete
  * files use to identify a row without rewriting its file.
  */
private[lake] object LakePos {
  val FileCol = "_gr_file"
  val PosCol = "_gr_pos"
}

/** Positional delete files (Iceberg v2 merge-on-read semantics).
  *
  * A delete dir holds parquet rows of `(_file, _pos)`: the ROOT-RELATIVE
  * data file path and the row's position in that file. Relative paths
  * keep the table relocatable (same contract as manifest `dirs`).
  * Scans anti-join the union of a snapshot's delete dirs against the
  * data relation's `_metadata`-derived coordinates; a delete set is
  * typically tiny next to the data, so AQE broadcasts the build side
  * and the read cost is one extra hashed-relation probe per row —
  * the price merge-on-read pays until the next compaction folds the
  * deletes into rewritten files.
  */
private[lake] object DeleteFiles {
  val FileField = "_file"
  val PosField = "_pos"

  val schema: StructType = StructType(Seq(
    StructField(FileField, StringType, nullable = false),
    StructField(PosField, LongType, nullable = false)))

  /** Project a frame carrying [[LakePos]] columns down to the delete
    * file schema, keys in [[FileKey.relative]] form.
    */
  def toDeleteRows(df: DataFrame, table: LakeTable): DataFrame =
    df.select(
      FileKey.relative(col(LakePos.FileCol), table.rootQ).as(FileField),
      col(LakePos.PosCol).as(PosField))

  /** The rows of delete dirs `dirs`, each key in URI form: what
    * [[LakePos.FileCol]] holds for its data file.
    */
  def read(table: LakeTable, dirs: Seq[String]): DataFrame =
    table.spark.read.schema(schema).parquet(dirs.map(table.location): _*)
      .select(FileKey.absolute(col(FileField), table.rootQ).as(FileField), col(PosField))

  /** Anti-join `data` (which carries [[LakePos]] columns) against the
    * snapshot's delete dirs. Key forms are reconciled on the (small)
    * delete side, so the data side stays a plain column reference the
    * join can hash directly.
    */
  def applyTo(data: DataFrame, table: LakeTable, deleteDirs: Seq[String]): DataFrame = {
    if (deleteDirs.isEmpty) return data
    val del = read(table, deleteDirs)
    data.join(del,
      data(LakePos.FileCol) === del(FileField) && data(LakePos.PosCol) === del(PosField),
      "left_anti")
  }
}

/** One equality delete entry (Iceberg v2 equality delete files): a
  * parquet dir of KEY VALUES that deletes every matching row in data
  * files committed BEFORE the delete (strictly smaller commit
  * sequence). This is what makes a streaming CDC/upsert sink possible
  * without read-modify-write: each batch appends its rows plus an
  * equality delete on the keys, retiring prior versions of those keys
  * — the Flink→Iceberg upsert write shape.
  */
private[lake] final case class EqDelete(seq: Long, cols: Seq[String], dir: String)

private[lake] object EqDelete {
  /** Sentinel sequence: the delete dir carries a per-row [[SeqField]]
    * column instead of one uniform sequence — the shape
    * `rewriteEqualityDeletes` produces when folding many trickle
    * commits into one file (their original sequences must survive).
    */
  val PerRowSeq: Long = -1L
  val SeqField = "_gr_seq"

  /** Manifest encoding `"<seq>|<col1,col2>|<dir>"`. Dirs are uuid
    * paths (never contain '|'), but Spark column names may legally
    * contain BOTH delimiters (backtick-quoted identifiers), so
    * [[encode]] rejects such key names up front — a silently
    * mis-splitting [[decode]] would corrupt delete application for
    * the whole table.
    */
  def encode(e: EqDelete): String = {
    val bad = e.cols.filter(c => c.contains('|') || c.contains(','))
    require(bad.isEmpty,
      s"equality-delete key columns may not contain '|' or ',': ${bad.mkString(", ")} " +
        "(rename the column before using it as an upsert key)")
    s"${e.seq}|${e.cols.mkString(",")}|${e.dir}"
  }
  def decode(s: String): EqDelete = {
    val Array(seq, cols, dir) = s.split('|')
    EqDelete(seq.toLong, cols.split(',').toSeq, dir)
  }
}

private[lake] object EqualityDeletes {
  /** Anti-join `data` (carrying [[LakePos]] columns) against the
    * snapshot's equality delete entries. Sequence semantics are
    * Iceberg v2's: a delete with sequence S applies only to rows from
    * data dirs with commit sequence < S — the same commit's appended
    * rows (and later appends) survive, which is exactly what lets one
    * upsert commit delete old key versions while inserting new ones.
    *
    * Per-row sequence is derived from the row's file path: its
    * manifest dir ([[FileKey.dirOf]]) joins a broadcast dir→seq lookup
    * built from the manifest — O(dirs) driver-side rows, never
    * data-scaled.
    * Key matching is null-safe (`<=>`), and delete values read under
    * the current schema's types (widening after the delete was written
    * upcasts the stored values the same way it upcasts data files).
    */
  def applyTo(data: DataFrame, table: LakeTable, snap: Snapshot): DataFrame = {
    val entries = snap.eqDeletes.map(EqDelete.decode)
    if (entries.isEmpty) return data
    val spark = table.spark
    val seqRows = snap.dirs.indices.map(i => (snap.dirs(i), snap.dirSeq(i)))
    import spark.implicits._
    val seqDf = seqRows.toDF("_gr_dirname", "_gr_dirseq")
    val dirOf = FileKey.dirOf(col(LakePos.FileCol), table.rootQ,
      snap.dirs.filter(LakeTable.externalDir))
    val withSeq = data.withColumn("_gr_dirname", dirOf)
      .join(broadcast(seqDf), "_gr_dirname")
    val schema = snap.schema
    val applied = entries.groupBy(_.cols).toSeq.sortBy(_._2.head.dir)
      .foldLeft(withSeq) { case (acc, (cols, group)) =>
        val delSchema = StructType(cols.map(c =>
          StructField(c, schema(c).dataType, nullable = true)))
        val del = group.map { e => deleteRows(table, delSchema, e) }.reduce(_ union _)
          .select(cols.map(c => col(c).as(s"_gr_del_$c")) :+ col("_gr_del_seq"): _*)
        val cond = cols.map(c => acc(c) <=> del(s"_gr_del_$c")).reduce(_ && _) &&
          acc("_gr_dirseq") < del("_gr_del_seq")
        acc.join(del, cond, "left_anti")
      }
    applied.drop("_gr_dirname", "_gr_dirseq")
  }

  /** Key rows of one delete entry with their sequence attached —
    * uniform (`lit(seq)`) for single-commit files, per-row
    * ([[EqDelete.SeqField]]) for folded files.
    */
  private[lake] def deleteRows(table: LakeTable, delSchema: StructType,
                               e: EqDelete): DataFrame = {
    val spark = table.spark
    if (e.seq != EqDelete.PerRowSeq)
      spark.read.schema(delSchema).parquet(table.location(e.dir))
        .withColumn("_gr_del_seq", lit(e.seq))
    else
      spark.read.schema(StructType(delSchema.fields.toSeq :+
          StructField(EqDelete.SeqField, LongType, nullable = false)))
        .parquet(table.location(e.dir))
        .withColumnRenamed(EqDelete.SeqField, "_gr_del_seq")
  }
}
