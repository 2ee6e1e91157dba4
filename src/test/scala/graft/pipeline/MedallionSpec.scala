package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.TestSpark
import graft.lake.LakeCatalog
import graft.state.WatermarkStore

/** End-to-end medallion semantics over the reference's own seed data
  * (/root/reference/docker/init.sql:10-19, reproduced as a literal
  * fixture per FIXTURES.md §A): 8 rows, 'Sophia Harris' and
  * 'Daniel Clark' duplicated exactly — the reference's only
  * correctness vector (SURVEY.md §5).
  */
object MedallionSpec {
  /** Shared with executor-side closures (same JVM in local mode). */
  val flakyAttempts = new java.util.concurrent.atomic.AtomicInteger(0)
}

class MedallionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // init.sql rows with the reference's DDL bug fixed (last_updated added)
  private def seed() = Seq(
    (1L, "John Doe",      "john@example.com",    "111", "Addr 1", ts("2024-01-01 10:00:00")),
    (2L, "Jane Smith",    "jane@example.com",    "222", "Addr 2", ts("2024-01-02 10:00:00")),
    (3L, "Alice Brown",   "alice@example.com",   "333", "Addr 3", ts("2024-01-03 10:00:00")),
    (4L, "Bob Stone",     "bob@example.com",     "444", "Addr 4", ts("2024-01-04 10:00:00")),
    // Sophia: EXACT duplicate rows (silver dedup removes one)
    (5L, "Sophia Harris", "sophia@example.com",  "555", "Addr 5", ts("2024-01-05 10:00:00")),
    (6L, "Sophia Harris", "sophia@example.com",  "555", "Addr 5", ts("2024-01-05 10:00:00")),
    // Daniel: same identity, different last_updated (CDC re-extract) —
    // survives full-column dedup, so gold counts the identity twice
    (7L, "Daniel Clark",  "daniel@example.com",  "666", "Addr 6", ts("2024-01-06 10:00:00")),
    (8L, "Daniel Clark",  "daniel@example.com",  "666", "Addr 6", ts("2024-01-07 10:00:00")),
  ).toDF("customer_id", "name", "email", "phone", "address", "last_updated")
    .drop("customer_id") // identity tuple only, like dags/etl.py:86's groupBy
  private val identity = Seq("name", "email", "phone", "address")

  private def freshPipeline() = {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("med-spec-").toString)
    val st = new WatermarkStore(Files.createTempDirectory("med-state-"))
    (new Medallion(spark, cat, st, retryBaseDelayMs = 1), cat, st)
  }

  test("golden: silver drops the exact dup, gold counts the CDC identity twice") {
    val (m, cat, _) = freshPipeline()
    val gold = m.run(seed(), "last_updated", identity)
    assert(cat.read("silver.medallion").count() === 7) // 8 - 1 exact dup
    val counts = gold.collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(counts("Sophia Harris") === 1) // exact dup removed by silver
    assert(counts("Daniel Clark") === 2)  // two row versions survive dedup
    assert(counts("John Doe") === 1)
    // invariant: sum(gold.total_count) == count(silver)
    assert(gold.agg(sum($"total_count")).head.getLong(0) === 7L)
  }

  test("idempotent re-run: no new rows → empty delta, results unchanged") {
    val (m, cat, st) = freshPipeline()
    m.run(seed(), "last_updated", identity)
    val deltaRows = m.extractBronze(seed(), "last_updated") // watermark now at max ts
    assert(deltaRows === 0L)
    m.transformSilver(); m.loadGold(identity)
    assert(cat.read("silver.medallion").count() === 7)
    assert(cat.read("gold.medallion").agg(sum($"total_count")).head.getLong(0) === 7L)
  }

  test("watermark split invariance: extract in two halves ≡ extract once") {
    val (m, cat, _) = freshPipeline()
    val firstHalf = seed().filter($"last_updated" <= lit(ts("2024-01-03 10:00:00")))
    m.extractBronze(firstHalf, "last_updated")
    m.extractBronze(seed(), "last_updated") // second call only picks up later rows
    assert(cat.read("bronze.medallion").count() === 8) // no row duplicated or lost
    m.transformSilver()
    assert(cat.read("silver.medallion").count() === 7)
  }

  test("reference-parity mode overwrites bronze with the delta only") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("med-par-").toString)
    val st = new WatermarkStore(Files.createTempDirectory("med-par-state-"))
    val m = new Medallion(spark, cat, st, referenceParity = true, retryBaseDelayMs = 1)
    val firstHalf = seed().filter($"last_updated" <= lit(ts("2024-01-03 10:00:00")))
    m.extractBronze(firstHalf, "last_updated")
    m.extractBronze(seed(), "last_updated")
    // the reference's (buggy) semantics: bronze holds only the latest delta
    assert(cat.read("bronze.medallion").count() === 5)
  }

  test("onFailure hook fires once with stage + cause after retries exhaust") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("med-hook-").toString)
    val st = new WatermarkStore(Files.createTempDirectory("med-hook-state-"))
    val calls = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val m = new Medallion(spark, cat, st, retries = 2, retryBaseDelayMs = 1,
      onFailure = (stage, e) => calls += (stage -> e.getMessage))
    // a source that fails at evaluation: filter over a missing column
    val bad = seed().drop("last_updated")
    val thrown = intercept[Exception](m.extractBronze(bad, "last_updated"))
    assert(calls.size === 1)
    assert(calls.head._1 === "extract")
    assert(calls.head._2 === thrown.getMessage) // terminal cause, verbatim
    // transform on the empty catalog also notifies with ITS stage name
    calls.clear()
    intercept[Exception](m.transformSilver())
    assert(calls.map(_._1).toSeq === Seq("transform"))
    // a throwing hook never masks the stage error
    val m2 = new Medallion(spark, cat, st, retries = 0, retryBaseDelayMs = 1,
      onFailure = (_, _) => sys.error("hook boom"))
    val e2 = intercept[Exception](m2.extractBronze(bad, "last_updated"))
    assert(!e2.getMessage.contains("hook boom"))
  }

  test("transient stage failure retries to eventual success, hook silent") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("med-flaky-").toString)
    val st = new WatermarkStore(Files.createTempDirectory("med-flaky-state-"))
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    val m = new Medallion(spark, cat, st, retries = 3, retryBaseDelayMs = 1,
      onFailure = (stage, _) => calls += stage)
    // a source whose evaluation fails twice, then succeeds — the
    // default_args.py:22-25 shape (transient extract flake, retried to
    // success). coalesce(1) → one task per attempt, so the shared
    // counter advances exactly once per evaluation in local mode.
    MedallionSpec.flakyAttempts.set(0)
    val flaky = seed().coalesce(1).mapPartitions { it =>
      if (MedallionSpec.flakyAttempts.getAndIncrement() < 2)
        throw new RuntimeException("transient source flake")
      it
    }(org.apache.spark.sql.Encoders.row(seed().schema))
    val rows = m.extractBronze(flaky, "last_updated")
    assert(rows === 8L, "third attempt must succeed with the full delta")
    assert(MedallionSpec.flakyAttempts.get() === 3)
    assert(calls.isEmpty, "the failure hook is for EXHAUSTED retries only")
    assert(cat.read("bronze.medallion").count() === 8)
    // the recovered run is a normal run: watermark advanced, so a
    // re-extract is an empty delta
    assert(m.extractBronze(seed(), "last_updated") === 0L)
  }

  test("retry after lost watermark advance appends nothing twice") {
    val (m, cat, st) = freshPipeline()
    m.extractBronze(seed(), "last_updated")
    assert(cat.read("bronze.medallion").count() === 8)
    // simulate a crash AFTER the bronze commit but BEFORE the store
    // advance: wipe the store and re-extract — the watermark inside the
    // bronze commit metadata must prevent a duplicate append
    val wiped = new WatermarkStore(Files.createTempDirectory("med-wipe-"))
    val m2 = new Medallion(spark, cat, wiped, retryBaseDelayMs = 1)
    val rows = m2.extractBronze(seed(), "last_updated")
    assert(rows === 0L)
    assert(cat.read("bronze.medallion").count() === 8) // unchanged
  }

  test("extract takes max(ts) and the count from staged footers: no aggregate") {
    val (m, cat, st) = freshPipeline()
    var n = -1L
    val jobs = TestSpark.jobs { n = m.extractBronze(seed(), "last_updated") }
    assert(n === 8L)
    assert(st.get("medallion", "extract") === ts("2024-01-07 10:00:00"))
    // the staging write and the bronze write, nothing else
    assert(jobs.size === 2, jobs)
    assert(cat.read("bronze.medallion").count() === 8)
  }

  test("extract under INT96 timestamps falls back to the aggregate, same watermark") {
    // a child session: INT96 footers carry no ts bounds; other suites'
    // writes keep the shared session's micros
    val s96 = spark.newSession()
    s96.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    val cat = new LakeCatalog(s96, Files.createTempDirectory("med-int96-").toString)
    val st = new WatermarkStore(Files.createTempDirectory("med-int96-state-"))
    val m = new Medallion(s96, cat, st, retryBaseDelayMs = 1)
    val src = s96.createDataFrame(seed().collect().toSeq.asJava, seed().schema)
    var n = -1L
    val jobs = TestSpark.jobs { n = m.extractBronze(src, "last_updated") }
    assert(n === 8L)
    assert(st.get("medallion", "extract") === ts("2024-01-07 10:00:00"))
    assert(jobs.size > 2, jobs)
    assert(m.extractBronze(src, "last_updated") === 0L)
  }

  test("transformSilver runs only its write's jobs; the count comes from the manifest") {
    val (m, cat, _) = freshPipeline()
    m.extractBronze(seed(), "last_updated")
    val write = TestSpark.jobs {
      cat.write(cat.read("bronze.medallion").dropDuplicates(), "silver.probe")
    }
    var n = -1L
    val jobs = TestSpark.jobs { n = m.transformSilver() }
    assert(n === 7L)
    assert(jobs.size === write.size, s"$jobs vs the bare write's $write")
  }
}
