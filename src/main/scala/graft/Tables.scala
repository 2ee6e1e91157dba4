package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * One `spark.read.parquet` per table — schema comes from the parquet
  * footer (the reference also infers all schemas; SURVEY.md §1.3).
  * Reads are lazy `DataFrame`s: Catalyst pushes filters/projections
  * into the vectorized parquet scan, so callers should never pre-cache
  * or collect here.
  */
object Tables {
  /** TIMESTAMP(NANOS) parquet read as raw long (legacy conf) → µs
    * TimestampType, truncating exactly like DuckDB reads the same
    * file. Single definition — batch and streaming paths share it so
    * the oracle-proven stream/batch parity cannot drift.
    *
    * Built as a Catalyst `IntegralDivide` through the Column bridge —
    * string-splicing `c.toString` into `expr(...)` only parses for
    * simple named columns and would silently misbind for aliased or
    * computed inputs. Integer division (not `/ 1000.0`) because
    * epoch-nanos longs exceed 2^53 and would lose precision as doubles.
    */
  def tsFromNanos(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, Literal}
    org.apache.spark.sql.functions.timestamp_micros(GraftColumnBridge.column(
      IntegralDivide(GraftColumnBridge.expression(c.cast("long")), Literal(1000L))))
  }

  /** Normalize a loaded timestamp column to session-TZ `TimestampType`
    * regardless of the physical layout the fixture was generated with —
    * the driver has shipped BOTH `TIMESTAMP(NANOS)` (reads as raw long
    * under the legacy conf) and `timestamp[us]` / isAdjustedToUTC=false
    * (reads as TIMESTAMP_NTZ) across rounds, so every events consumer
    * dispatches on the type that actually loaded instead of assuming a
    * unit. NTZ→Timestamp is value-preserving under the UTC session TZ
    * all entry points set.
    */
  def normalizeTs(df: org.apache.spark.sql.DataFrame, name: String = "ts"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    df.schema(name).dataType match {
      case LongType         => df.withColumn(name, tsFromNanos(col(name)))
      case TimestampNTZType => df.withColumn(name, col(name).cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"unsupported physical type for timestamp column '$name': $other")
    }
  }
}

final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")

  /** `events.ts` arrives in whatever timestamp layout the fixture
    * generator used — TIMESTAMP(NANOS) (rejected by the vectorized
    * reader; read as raw nanos under the legacy conf and truncated to
    * µs, exactly what DuckDB does on the same file) or `timestamp[us]`
    * NTZ (cast to session-TZ timestamp, value-preserving at UTC).
    * [[Tables.normalizeTs]] dispatches on the loaded type so a fixture
    * regeneration can never change query results.
    */
  def events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.normalizeTs(table("events"))
  }

  /** Events filtered by `ts > lowerBound` with the comparison done in
    * the RAW loaded domain, BEFORE any conversion: the predicate then
    * reaches the parquet scan as a comparison on the stored column
    * (`PushedFilters: [GreaterThan(ts, ...)]`), so row groups and files
    * outside the watermark are pruned from footer stats. Filtering the
    * converted column instead wraps `ts` in a cast/divide and forfeits
    * stats pruning — at 100 TB that is a full-lake scan. Dispatches on
    * the loaded type like [[events]].
    */
  def eventsAfter(lowerBound: java.sql.Timestamp): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table("events")
    raw.schema("ts").dataType match {
      case LongType =>
        // coarse raw-nanos bound (superset of the exact predicate: any
        // row whose truncated µs exceeds the bound has raw ns exceeding
        // it too), then the exact truncation-aware µs predicate
        val lowerNanos = lowerBound.getTime * 1000000L // ms → ns
        raw.filter(col("ts") > lowerNanos)              // pushed to parquet stats
          .withColumn("ts", Tables.tsFromNanos(col("ts")))
          .filter(col("ts") > lit(lowerBound))
      case TimestampNTZType =>
        // compare in the stored NTZ domain (constant-folded literal →
        // still pushed to parquet stats), THEN cast the column
        raw.filter(col("ts") > lit(lowerBound).cast(TimestampNTZType))
          .withColumn("ts", col("ts").cast(TimestampType))
      case _ =>
        raw.filter(col("ts") > lit(lowerBound))
    }
  }
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

/** Scale-adaptive parallelism floor for scan-level frames. */
object TablesSpread {
  /** Round-robin repartition to the session's default parallelism —
    * but ONLY when the scan yields fewer input splits (guide §2.5
    * "input skew: one huge unsplittable file … repartition immediately
    * after the read"). The local fixtures are single-row-group parquet
    * files, so every per-row-heavy kernel (shingling, minhash, PQ
    * encode, levenshtein, text scoring) otherwise runs its whole scan
    * stage on ONE core; at production scale the source splits wide and
    * this is a provable no-op — the condition, not a constant, carries
    * the scale dependence.
    *
    * Callers must pass frames whose plan is exchange-free below this
    * point (scans, unions of scans, narrow projections): the partition
    * probe builds the physical RDD, which is free for scan-only plans
    * but would MATERIALIZE upstream query stages if an exchange were
    * present (AQE executes stages on `.rdd`).
    */
  def spread(df: DataFrame): DataFrame = {
    val want = fan(df.sparkSession)
    if (df.rdd.getNumPartitions >= want) df else df.repartition(want)
  }

  /** Fan-out target for kernel-stage repartitions. */
  def fan(spark: SparkSession): Int = spark.sparkContext.defaultParallelism
}
