package graft.ops

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** At-ingest benchmark screening on a corpus where contamination is
  * decidable by hand: one arrival embeds a benchmark span verbatim,
  * one shares only sub-4-gram fragments, one is disjoint.
  */
class IncrementalContaminationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val benchText = "the capital of france is paris and everyone knows it"

  private def bench = Seq((1000L, benchText)).toDF("doc_id", "text")

  private def arrivals = Seq(
    // embeds "capital of france is" (a benchmark 4-gram) mid-document
    (1L, "we learned that the capital of france is paris yesterday evening"),
    // shares words and even 3-grams ("of france is" never 4) — clean
    (2L, "the capital city france is proud of paris monuments"),
    // fully disjoint
    (3L, "completely unrelated words fill this training document entirely"),
    // too short for any 4-gram
    (4L, "three words only")).toDF("doc_id", "text")

  test("screening flags verbatim spans, not sub-gram overlap") {
    val work = Files.createTempDirectory("contam-")
    val got = IncrementalContamination
      .screenAtIngest(spark, bench, arrivals, work, slices = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(1L)._2, "verbatim benchmark span must flag")
    // doc 1's shared run is "the capital of france is paris" — its
    // three interior 4-grams appear in both documents
    assert(got(1L)._1 === 3L)
    assert(got(2L) === ((0L, false)), "3-gram overlap alone must not flag")
    assert(got(3L) === ((0L, false)))
    assert(got(4L) === ((0L, false)), "sub-4-gram docs are clean by definition")
  }

  test("later arrivals screen incrementally against the same index") {
    val work = Files.createTempDirectory("contam2-")
    IncrementalContamination.indexBenchmark(spark, bench, work)
    IncrementalContamination.ingest(spark, arrivals, work, "a1", slices = 2)
    val late = Seq(
      (10L, "quoting the capital of france is paris and everyone knows it"),
      (11L, "still perfectly clean new content here today")).toDF("doc_id", "text")
    IncrementalContamination.ingest(spark, late, work, "a2", slices = 1)
    val got = IncrementalContamination
      .report(spark, arrivals.union(late), work)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got === Map(1L -> true, 2L -> false, 3L -> false, 4L -> false,
      10L -> true, 11L -> false))
  }

  test("per-trigger benchmark read is bucket-local (partition-pruned)") {
    import graft.lake.{LakePredicate, LakeTable}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def filesRead(df: DataFrame): Long = {
      df.collect()
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case f: FileSourceScanExec    => Seq(f)
        case other                    => other.children.flatMap(scans)
      }
      scans(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum
    }
    val work = java.nio.file.Files.createTempDirectory("contam-prune")
    // a bigger benchmark so grams spread over many buckets
    val bigBench = (0 until 30).map(i =>
      (2000L + i, s"bench sentence number $i carries unique tokens t${i}a t${i}b t${i}c t${i}d"))
      .toDF("doc_id", "text")
    IncrementalContamination.indexBenchmark(spark, bigBench, work, indexBuckets = 8)
    val benchTbl = new LakeTable(spark, work.resolve("benchgrams").toString)
    val allRead = filesRead(benchTbl.read())
    val liveBuckets = benchTbl.read().select("bk").distinct()
      .collect().map(_.getInt(0)).sorted
    assert(liveBuckets.length > 1, "fixture must spread over >1 bucket")
    val prunedRead = filesRead(
      benchTbl.scan(Seq(LakePredicate.In("bk", Seq(liveBuckets.head)))))
    assert(prunedRead < allRead,
      s"expected bucket pruning: read $prunedRead of $allRead files")
  }

  test("screen derives layout from the index; erasure cascade reaches flags") {
    val work = Files.createTempDirectory("contam4-")
    // index built with a NON-default layout — a screen trusting its
    // own defaults would hash grams into buckets the index never uses
    IncrementalContamination.indexBenchmark(spark, bench, work,
      n = 4, indexBuckets = 32)
    IncrementalContamination.ingest(spark, arrivals, work, "a1", slices = 2)
    val got = IncrementalContamination.report(spark, arrivals, work)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got(1L), "layout must come from the index meta, not caller defaults")
    // the flags table stores subject doc ids, and the arrivals slices
    // the raw text — the erasure cascade must reach both
    val res = graft.lake.Privacy.forgetDedupIndex(spark, work, Seq(1L))
    assert(res.map(_.ident) === Seq("flags", "arrivals"))
    assert(res.head.rowsDeleted === 1L && res.head.residualRows === 0L)
    assert(res.last.rowsDeleted === 1L && res.last.residualRows === 0L)
    val after = IncrementalContamination.report(spark, arrivals, work)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(!after(1L), "erased subject's flag must be gone")
  }

  test("replayed batch appends nothing twice; counts stay exact") {
    val work = Files.createTempDirectory("contam3-")
    IncrementalContamination.indexBenchmark(spark, bench, work)
    val benchTbl = new graft.lake.LakeTable(spark, work.resolve("benchgrams").toString)
    val flagsTbl = new graft.lake.LakeTable(spark, work.resolve("flags").toString)
    IncrementalContamination.screenBatch(spark, arrivals, 0L, benchTbl, flagsTbl,
      "text", "doc_id", 4, 16)
    val v1 = flagsTbl.latest.get.version
    IncrementalContamination.screenBatch(spark, arrivals, 0L, benchTbl, flagsTbl,
      "text", "doc_id", 4, 16)
    assert(flagsTbl.latest.get.version === v1, "replay must be a no-op append")
    val got = IncrementalContamination.report(spark, arrivals, work)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 3L)
  }

  test("a warm screening trigger answers 'any hits?' from the flags' checkpoint job") {
    val work = Files.createTempDirectory("contam4-")
    IncrementalContamination.indexBenchmark(spark, bench, work)
    val benchTbl = new graft.lake.LakeTable(spark, work.resolve("benchgrams").toString)
    val flagsTbl = new graft.lake.LakeTable(spark, work.resolve("flags").toString)
    def screen(docs: org.apache.spark.sql.DataFrame, bid: Long): Unit =
      IncrementalContamination.screenBatch(spark, docs, bid, benchTbl, flagsTbl,
        "text", "doc_id", 4, 16, compactEvery = 0)
    screen(arrivals.where($"doc_id" === 3L), 0L)
    val jobs = TestSpark.jobs(screen(arrivals, 1L))
    assert(!jobs.exists(_.startsWith("isEmpty at")), jobs)
    assert(jobs.size <= 6, jobs) // a separate emptiness probe adds one
    assert(flagsTbl.read().select("id").as[Long].collect().toSeq === Seq(1L))
  }
}
