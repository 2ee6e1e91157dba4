package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType
import graft.lake.DeltaTableReader

/** Streaming source over a Delta table's transaction log — the
  * `spark.readStream.format("delta")` shape with no Delta runtime:
  * offsets are LOG VERSIONS, and a micro-batch delivers exactly the
  * `dataChange` add actions of the commits in `(start, end]`, with
  * partition columns re-injected from `add.partitionValues` (the data
  * files physically lack them).
  *
  * Contracts (loud failures over silent drift — same posture as
  * [[GraftLakeSource]]):
  *  - a commit containing `dataChange` REMOVE actions (update/delete
  *    rewrites) fails the batch unless `skipChangeCommits` is set, in
  *    which case the whole commit is skipped (Delta's own
  *    `skipChangeCommits` semantics) — its adds are NOT delivered,
  *    because delivering the rewritten rows as fresh inserts would
  *    duplicate data. OPTIMIZE-shaped commits (dataChange=false on
  *    both sides) always pass silently.
  *  - schema is pinned at stream start; a covered commit that replaces
  *    `metaData` with a different schema fails the batch (restart pins
  *    the new schema) rather than null-filling renamed columns.
  *  - checkpoint-truncated history fails loud naming the version.
  *
  * Options: `path` (table root), `startingVersion` (number or
  * `latest`), `skipChangeCommits`, `maxVersionsPerTrigger` (admission
  * control — a lagging consumer drains its backlog as bounded batches).
  */
class DeltaStreamSourceProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-delta"

  private def readerFor(ctx: SQLContext, params: Map[String, String]): DeltaTableReader = {
    val path = params.getOrElse("path",
      throw new IllegalArgumentException("graft-delta source needs option(\"path\", <table root>)"))
    new DeltaTableReader(ctx.sparkSession, path)
  }

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
                            providerName: String, params: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(readerFor(ctx, params).schema()))

  override def createSource(ctx: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            params: Map[String, String]): Source = {
    val rdr = readerFor(ctx, params)
    val skipChanges = params.get("skipchangecommits").orElse(params.get("skipChangeCommits"))
      .exists(_.toBoolean)
    val maxVersions = params.get("maxversionspertrigger").orElse(params.get("maxVersionsPerTrigger"))
      .map(_.toInt)
    maxVersions.foreach(n => require(n >= 1, s"maxVersionsPerTrigger must be >= 1, got $n"))
    val startingVersion = params.get("startingversion").orElse(params.get("startingVersion"))
      .map {
        case v if v.equalsIgnoreCase("latest") =>
          rdr.latestVersion.map(_ + 1).getOrElse(0L)
        case v => v.toLong
      }
    new DeltaStreamingSource(ctx, rdr, schema, skipChanges, maxVersions, startingVersion)
  }
}

class DeltaStreamingSource(ctx: SQLContext, reader: DeltaTableReader,
                           userSchema: Option[StructType],
                           skipChangeCommits: Boolean = false,
                           maxVersionsPerTrigger: Option[Int] = None,
                           startingVersion: Option[Long] = None) extends Source {

  /** Exclusive lower offset of the first batch. Delta versions are
    * 0-based, so "start from the beginning" is offset -1.
    */
  private val seedOffset: Long = startingVersion.map(_ - 1).getOrElse(-1L)

  private val (pinned: StructType, partCols: Seq[String]) = {
    val (ts, pc) = reader.metaInfo(None)
    (userSchema.getOrElse(ts), pc)
  }
  private val pinnedJson = pinned.json

  @volatile private var highWater: Long = seedOffset

  override def schema: StructType = pinned

  override def getOffset: Option[V1Offset] = {
    val latest = reader.latestVersion.getOrElse(return None)
    val capped = maxVersionsPerTrigger match {
      case Some(n) => math.min(latest, math.max(highWater, seedOffset) + n)
      case None    => latest
    }
    val off = math.max(highWater, capped) // never move backwards
    if (off < 0) None else Some(LongOffset(off))
  }

  private def versionOf(o: V1Offset): Long = o match {
    case l: LongOffset => l.offset
    case other         => other.json.trim.toLong
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val lo = start.map(versionOf).getOrElse(seedOffset)
    val hi = versionOf(end)
    highWater = math.max(highWater, math.max(lo, hi))
    val spark = ctx.sparkSession
    val files = Seq.newBuilder[graft.lake.DeltaAddFile]
    for (v <- lo + 1 to hi) {
      val (adds, rewrites, newSchema) = reader.commitSummary(v)
      newSchema.filter(_ != pinnedJson).foreach { _ =>
        throw new IllegalStateException(
          s"commit v$v replaced the table schema; this stream pinned the schema at start — " +
            "restart the stream to pick up the evolved schema")
      }
      if (rewrites && !skipChangeCommits)
        throw new IllegalStateException(
          s"commit v$v rewrites data (dataChange remove actions); this stream delivers " +
            "appends only. Set option(\"skipChangeCommits\", \"true\") to skip such commits " +
            "(their row changes are not delivered), or restart with a fresh checkpoint.")
      if (!rewrites) files ++= adds
      // skipChangeCommits: the WHOLE commit is skipped — delivering its
      // adds would re-deliver rewritten rows as fresh inserts
    }
    val rdd = reader.scanFiles(files.result(), pinned, partCols).queryExecution.toRdd
    org.apache.spark.sql.GraftColumnBridge.streamingDataFrame(spark, rdd, pinned)
  }

  override def stop(): Unit = ()
}
