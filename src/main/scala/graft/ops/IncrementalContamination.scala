package graft.ops

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.lake.{DriverTiers, LakePredicate, LakeTable, WriteMode}

/** At-ingest benchmark-contamination screening — the third member of
  * the at-ingest curation family ([[IncrementalDedup]],
  * [[IncrementalSemDedup]]): every arriving micro-batch of documents
  * is checked against a PERSISTED index of benchmark n-grams, and
  * documents sharing any distinct word-4-gram with the eval set are
  * flagged BEFORE they ever enter the training corpus. This is the
  * production decontamination shape (GPT-3 appendix C / PaLM /
  * Llama-style n-gram overlap screens) run incrementally: the
  * benchmark index is built once and every crawl session screens only
  * its own arrivals against it — never a corpus×benchmark rescan.
  *
  * Index layout mirrors the dedup family: `benchgrams/` holds the
  * benchmark's DISTINCT raw 4-gram strings hive-partitioned by
  * `bk = pmod(xxhash64(g), indexBuckets)`. The hash picks the BUCKET
  * only (physical pruning); matching is on the raw gram string, so
  * flags are exact and the DuckDB oracle restates them with zero
  * digest dependence (SCALE.md "oracle determinism contract" rule 5).
  * Per trigger: the batch's distinct grams hash to their buckets, the
  * index is read bucket-pruned (`In` on bk — O(batch's bucket span),
  * never O(benchmark)), one inner join + per-doc count lands in
  * `flags/` under the family's idempotent batch marker (foreachBatch
  * replay appends nothing twice).
  *
  * At 100 TB: the benchmark side is eval sets — millions of grams,
  * not billions — so the per-trigger join is batch-grams × a pruned
  * slice of a small index; `indexBuckets` in the thousands keeps each
  * bucket file small and the scan parallel. Flags are per-doc counts,
  * corpus-bounded.
  */
object IncrementalContamination {

  import IncrementalDedup.{idempotentAppend, prof, readOrEmpty}

  /** Distinct word-n-gram rows (id, g) — raw gram strings, in-row
    * distinct before the explode (no dedup shuffle).
    */
  private def gramRows(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    val grams =
      s"""array_distinct(transform(sequence(0, size(w) - $n),
         |  i -> concat_ws(' ', ${(0 until n).map(j => s"w[i+$j]").mkString(", ")})))""".stripMargin
    df.select(col(idCol).as("id"), TextOps.words(col(textCol)).as("w"))
      .where(size(col("w")) >= n)
      .select(col("id"), explode(expr(grams)).as("g"))
  }

  /** Build (or rebuild) the benchmark gram index under `workDir`:
    * the eval set's distinct raw n-grams, hive-bucketed for pruned
    * per-trigger reads. Benchmark sets are small and change rarely —
    * a full overwrite is the honest refresh.
    */
  /** Bucket count and gram width are PHYSICAL LAYOUT, fixed at index
    * build time — they ride the index's commit meta so every later
    * screen derives them from the table instead of trusting a caller
    * parameter (a mismatched bucket count would silently hash batch
    * grams into buckets the index never uses and report contaminated
    * documents as clean).
    */
  private val BucketsKey = LakeTable.CarryMetaPrefix + "contam.indexBuckets"
  private val GramNKey = LakeTable.CarryMetaPrefix + "contam.gramN"

  def indexBenchmark(spark: SparkSession, bench: DataFrame, workDir: Path,
                     textCol: String = "text", idCol: String = "doc_id",
                     n: Int = 4, indexBuckets: Int = 16): Unit = {
    val tbl = new LakeTable(spark, workDir.resolve("benchgrams").toString)
    val grams = gramRows(bench, textCol, idCol, n)
      .select(col("g")).distinct()
      .withColumn("bk", pmod(xxhash64(col("g")), lit(indexBuckets)).cast("int"))
      .repartition(col("bk"))
    tbl.write(grams, WriteMode.Overwrite, partitionBy = Seq("bk"),
      meta = Map(BucketsKey -> indexBuckets.toString, GramNKey -> n.toString))
  }

  private[ops] def screenBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                               benchTbl: LakeTable, flagsTbl: LakeTable,
                               textCol: String, idCol: String, n: Int,
                               indexBuckets: Int, compactEvery: Int = 4): Unit = {
    prof(s"contam batch=$batchId start")
    val (grams, bks) = DriverTiers.materialize(gramRows(batch, textCol, idCol, n)
      .withColumn("bk", pmod(xxhash64(col("g")), lit(indexBuckets)).cast("int"))
      .repartition(col("bk")), Seq("bk"), indexBuckets)
    prof(s"contam batch=$batchId grams checkpointed")
    val bench = readOrEmpty(spark, benchTbl,
      Seq(LakePredicate.In("bk", bks.values(0))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("g",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("bk",
          org.apache.spark.sql.types.IntegerType))))()
      .select(col("g"), col("bk"))
    // grams are distinct per doc AND distinct in the index, so the
    // join emits each (doc, gram) hit exactly once — the count is the
    // number of distinct shared grams, no post-join dedup needed
    // one materialization serves the emptiness probe (a census that
    // overflows at its first row) and the append
    val (flags, hits) = DriverTiers.materialize(grams.join(bench, Seq("g", "bk"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hit_grams"))
      .coalesce(1), Seq("id"), cap = 0)
    // most crawl batches are clean — an unconditional append would
    // grow flags/ by one empty commit per trigger for the stream's
    // whole lifetime (the trickle the dedup family bounds the same
    // way); a skipped marker is safe: a replay recomputes the same
    // empty frame
    if (!hits.isEmpty)
      idempotentAppend(flagsTbl, flags, batchId, Nil, Nil)
    // fragmentation-gated fold of the per-trigger commit trickle
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0 &&
        flagsTbl.latest.exists(_.dirs.size >= IncrementalDedup.CompactMinDirs))
      flagsTbl.compactBinPack(maxDirBytes = 64L << 20)
    prof(s"contam batch=$batchId flags appended")
  }

  /** Screen one ARRIVAL of documents against the benchmark index
    * (same arrivals/checkpoint contract as [[IncrementalDedup.ingest]]
    * — repeated calls screen only new arrivals).
    */
  def ingest(spark: SparkSession, docs: DataFrame, workDir: Path,
             batchName: String, slices: Int = 4, textCol: String = "text",
             idCol: String = "doc_id", filesPerTrigger: Int = 1,
             compactEvery: Int = 4): Unit = {
    val benchTbl = new LakeTable(spark, workDir.resolve("benchgrams").toString)
    val benchMeta = benchTbl.latest.getOrElse(throw new IllegalStateException(
      s"no benchmark index under $workDir — call indexBenchmark first")).meta
    // layout parameters come FROM the index, never from the caller —
    // a mismatched bucket count or gram width would silently miss hits
    val indexBuckets = benchMeta.getOrElse(BucketsKey,
      throw new IllegalStateException("benchmark index carries no bucket-count meta")).toInt
    val n = benchMeta.getOrElse(GramNKey,
      throw new IllegalStateException("benchmark index carries no gram-width meta")).toInt
    val flagsTbl = new LakeTable(spark, workDir.resolve("flags").toString)
    IncrementalDedup.ingestLoop(spark, docs.select(col(idCol), col(textCol)),
      workDir, batchName, slices, idCol, filesPerTrigger) { (batch, batchId) =>
      screenBatch(spark, batch, batchId, benchTbl, flagsTbl,
        textCol, idCol, n, indexBuckets, compactEvery)
    }
  }

  /** (doc_id, n_hit_grams, contaminated) for `docs` given the flags
    * accumulated under `workDir`: contaminated = shares at least one
    * distinct word-n-gram with the benchmark.
    */
  def report(spark: SparkSession, docs: DataFrame, workDir: Path,
             idCol: String = "doc_id"): DataFrame = {
    val flagsTbl = new LakeTable(spark, workDir.resolve("flags").toString)
    val flags = readOrEmpty(spark, flagsTbl, Nil,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", docs.schema(idCol).dataType),
        org.apache.spark.sql.types.StructField("n_hit_grams",
          org.apache.spark.sql.types.LongType))))()
      .groupBy(col("id").as(idCol))
      // replayed batches skip on the marker, but a crash between the
      // flags append and the checkpoint can legitimately re-flag a doc
      // in the NEXT batch id — max() makes the report replay-stable
      // (each batch computes the same exact count for a doc)
      .agg(max(col("n_hit_grams")).as("n_hit_grams"))
    docs.select(col(idCol))
      .join(flags, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
        (coalesce(col("n_hit_grams"), lit(0L)) > 0L).as("contaminated"))
      .orderBy(col(idCol))
  }

  /** One-shot form: index the benchmark slice, screen the arrivals,
    * report — the query-pack entry (2-file triggers, like the dedup
    * family's one-shot entries).
    */
  def screenAtIngest(spark: SparkSession, bench: DataFrame, arrivals: DataFrame,
                     workDir: Path, slices: Int = 4, textCol: String = "text",
                     idCol: String = "doc_id", n: Int = 4,
                     indexBuckets: Int = 16): DataFrame = {
    indexBenchmark(spark, bench, workDir, textCol, idCol, n, indexBuckets)
    ingest(spark, arrivals, workDir, "initial", slices, textCol, idCol,
      filesPerTrigger = 2)
    report(spark, arrivals, workDir, idCol)
  }
}
