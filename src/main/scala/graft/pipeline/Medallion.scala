package graft.pipeline

import java.nio.file.Path
import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import graft.lake.{FileStats, LakeCatalog, WriteMode}
import graft.state.WatermarkStore

/** Bronze → Silver → Gold medallion pipeline — the reference's entire
  * analytic content (E1–E3, SURVEY.md §3) collapsed into one Spark
  * application:
  *
  *   extract (incremental watermark scan)  ≈ dags/etl.py:35-60
  *   transform (exact dedup)               ≈ dags/etl.py:62-78
  *   load (grouped identity count)         ≈ dags/etl.py:80-96
  *
  * Differences from the reference, on purpose (SURVEY.md §7.4):
  *   - stages pass DataFrames / lake tables, not deleted tmp paths
  *     (the reference reads a file it just removed, etl.py:59 vs 65);
  *   - bronze is APPENDed (incremental extract + overwrite in the
  *     reference silently discards history, etl.py:41+53); silver/gold
  *     are full rebuilds. `referenceParity = true` restores the
  *     reference's overwrite-everything behavior for parity testing;
  *   - watermark is an instant in an engine-owned store, not a
  *     formatted string from Airflow metadata;
  *   - retries with exponential backoff mirror
  *     dags/utils/constants/default_args.py:22-25 but live in the
  *     engine driver.
  */
final class Medallion(
    spark: SparkSession,
    catalog: LakeCatalog,
    state: WatermarkStore,
    pipeline: String = "medallion",
    retries: Int = 3,
    retryBaseDelayMs: Long = 100,
    referenceParity: Boolean = false,
    onFailure: (String, Throwable) => Unit = Medallion.logFailure) {

  private def withRetries[T](stage: String)(body: => T): T = {
    var attempt = 0
    var delay = retryBaseDelayMs
    while (true) {
      try return body
      catch {
        // NonFatal only: OOM/interrupt must propagate, not sleep+retry
        case scala.util.control.NonFatal(e) if attempt < retries =>
          attempt += 1
          System.err.println(s"[medallion] $stage attempt $attempt failed: ${e.getMessage}; retrying in ${delay}ms")
          Thread.sleep(delay)
          delay = math.min(delay * 2, 30 * 60 * 1000L) // 30 min cap, default_args.py:25
        case scala.util.control.NonFatal(e) =>
          // retries exhausted: fire the notification hook (the engine-
          // side analog of the reference's on-failure mail callback,
          // dags/utils/mailing/notifications_send_mail.py:41-49), then
          // propagate. A throwing hook must not mask the stage error.
          try onFailure(stage, e)
          catch { case scala.util.control.NonFatal(h) =>
            System.err.println(s"[medallion] onFailure hook threw: ${h.getMessage}") }
          throw e
      }
    }
    sys.error(s"unreachable: $stage")
  }

  /** Incremental extract → bronze. Only rows with tsCol strictly above
    * the watermark are read (the filter is pushed into the source
    * scan), then the watermark advances to the max extracted ts — the
    * reference's at-most-once-per-row-version semantics.
    *
    * Retry-idempotent: the new watermark travels INSIDE the bronze
    * commit's metadata (one atomic unit with the data), and the
    * effective watermark is the max of the store and the last bronze
    * commit — so a retry that died after the append but before the
    * store advance re-derives the watermark from bronze and appends
    * nothing twice.
    */
  def extractBronze(source: DataFrame, tsCol: String): Long = withRetries("extract") {
    val bronze = catalog.table(s"bronze.$pipeline")
    val committedWmUs = bronze.latest
      .flatMap(_.meta.get("watermark_us")).map(_.toLong).getOrElse(0L)
    val wmUs = math.max(
      WatermarkStore.toMicros(state.get(pipeline, "extract")), committedWmUs)
    val wm = WatermarkStore.fromMicros(wmUs) // micros: ms flooring re-extracts boundary rows
    // stage the delta once: a live source (JDBC) may gain rows between
    // two evaluations, which would put data above the recorded
    // watermark into bronze. The staged copy is the single evaluation
    // both the watermark and the commit are derived from. It lives
    // under the table root — the lake's shared filesystem — so
    // executors and driver see the same files on any cluster manager
    // (a driver-local java.io.tmpdir would break off-driver executors).
    val stagingDir = bronze.location(s"_staging/${java.util.UUID.randomUUID()}")
    try {
      source.filter(col(tsCol) > lit(wm)).write.mode("overwrite").parquet(stagingDir)
      // the source's schema is the staged files' schema: no inference job
      val delta = spark.read.schema(source.schema).parquet(stagingDir)
      // max(ts) and the row count from the staged footers; the scanning
      // aggregate only when they cannot bound ts (INT96, unreadable)
      val (footerRows, ranges) = FileStats.dirRowsAndRanges(
        bronze.io, new org.apache.hadoop.fs.Path(stagingDir), Seq(tsCol))
      val (maxTs, n) = (footerRows, ranges.get(tsCol)) match {
        case (Some(0L), _) => (null, 0L)
        case (Some(rows), Some((_, hi: Timestamp)))
            if source.schema(tsCol).dataType == TimestampType => (hi, rows)
        case _ =>
          val stats = delta.agg(max(col(tsCol)), count(lit(1))).head
          (stats.getTimestamp(0), stats.getLong(1))
      }
      val newWmUs =
        if (maxTs == null) wmUs else math.max(wmUs, WatermarkStore.toMicros(maxTs))
      val mode = if (referenceParity) WriteMode.Overwrite else WriteMode.Append
      catalog.write(delta, s"bronze.$pipeline", mode,
        meta = Map("watermark_us" -> newWmUs.toString))
      state.advance(pipeline, "extract", WatermarkStore.fromMicros(newWmUs))
      n
    } finally {
      // the staged copy is only needed until the commit; delete only
      // THIS run's uuid dir — a concurrent extract may be staging
      bronze.io.delete(new org.apache.hadoop.fs.Path(stagingDir))
    }
  }

  /** Exact dedup over all columns → silver (reference A3, etl.py:68).
    * The returned row count comes from the written snapshot's manifest
    * (an overwrite with per-dir row counts and no deletes): no job, where
    * counting the `silver` plan would re-run the dedup shuffle.
    */
  def transformSilver(): Long = withRetries("transform") {
    val bronze = catalog.read(s"bronze.$pipeline")
    val silver = bronze.dropDuplicates()
    catalog.write(silver, s"silver.$pipeline", WriteMode.Overwrite)
    catalog.table(s"silver.$pipeline").countRows()
  }

  /** Grouped identity count → gold (reference A1, etl.py:86). */
  def loadGold(identityCols: Seq[String]): DataFrame = withRetries("load") {
    val silver = catalog.read(s"silver.$pipeline")
    val gold = silver
      .groupBy(identityCols.map(col): _*)
      .agg(count(lit(1)).as("total_count"))
    catalog.write(gold, s"gold.$pipeline", WriteMode.Overwrite)
    catalog.read(s"gold.$pipeline")
  }

  /** Full E1–E3 run. Returns the gold DataFrame. */
  def run(source: DataFrame, tsCol: String, identityCols: Seq[String]): DataFrame = {
    extractBronze(source, tsCol)
    transformSilver()
    loadGold(identityCols)
  }
}

object Medallion {
  /** Default failure notification: stderr. Swap in mail/pager/webhook
    * callbacks per deployment — the hook fires once per stage, after
    * retries are exhausted, with the stage name and terminal cause.
    */
  val logFailure: (String, Throwable) => Unit = (stage, e) =>
    System.err.println(s"[medallion] stage '$stage' FAILED after retries: ${e.getMessage}")
}
