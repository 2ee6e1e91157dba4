package graft.lake

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import graft.TestSpark
import graft.lake.sqlcat.GraftCatalog

/** Metadata-only aggregates: `count(*)` and numeric MIN/MAX answered
  * from manifests ([[LakeTable.metadataRowCount]]/[[LakeTable.metadataBounds]])
  * with zero Spark jobs, the SQL `count(*)` fold
  * ([[graft.plans.MetadataCountRule]]), and the soundness fences —
  * live delete files always force the scan path.
  */
class MetadataAggSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val n = new AtomicInteger(0)

  private def freshCatalog(): (String, LakeCatalog) = {
    val name = s"magg${n.incrementAndGet()}"
    val wh = Files.createTempDirectory("magg-wh-").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    (name, new LakeCatalog(spark, wh))
  }

  private def df(r: Range) = r.map(i => (i.toLong, s"name$i", i * 1.5)).toDF("id", "name", "v")

  test("count(*) from manifests: exact across appends, zero Spark jobs") {
    val (_, cat) = freshCatalog()
    cat.write(df(1 to 100), "ns.t", WriteMode.Overwrite)
    cat.write(df(101 to 150), "ns.t", WriteMode.Append)
    cat.write(df(151 to 160), "ns.t", WriteMode.Append)
    val t = cat.table("ns.t")

    val jobs = TestSpark.jobs {
      assert(t.metadataRowCount() === Some(160L))
      assert(t.countRows() === 160L)
      // time travel counts the PINNED snapshot from its own manifest
      assert(t.metadataRowCount(Some(1L)) === Some(100L))
      assert(t.metadataRowCount(Some(2L)) === Some(150L))
    }
    assert(jobs.isEmpty, s"metadata counts must launch no Spark job, ran $jobs")
    assert(t.read().count() === 160L)
  }

  test("live delete files force the scan path; compact re-arms it") {
    val (_, cat) = freshCatalog()
    cat.write(df(1 to 100), "ns.d", WriteMode.Overwrite)
    val t = cat.table("ns.d")
    LakeDml.delete(t, $"id" <= 10L, strategy = DmlStrategy.MergeOnRead)
    assert(t.latest.get.deleteDirs.nonEmpty)
    assert(t.metadataRowCount() === None, "positional deletes mask rows manifests cannot count")
    assert(t.countRows() === 90L) // fallback is the exact scan
    t.compact(1)
    assert(t.latest.get.deleteDirs.isEmpty)
    assert(t.metadataRowCount() === Some(90L))

    // equality deletes (upsert) are the same fence
    t.upsert(Seq((5L, "x", 0.0)).toDF("id", "name", "v"), Seq("id"))
    assert(t.metadataRowCount() === None)
    assert(t.countRows() === 91L) // id=5 was deleted above: upsert inserts it back
    t.compact(1)
    assert(t.metadataRowCount() === Some(91L))
  }

  test("numeric MIN/MAX from manifest stats blobs; strings and deletes never qualify") {
    val (_, cat) = freshCatalog()
    cat.write(df(1 to 100), "ns.b", WriteMode.Overwrite, statsBy = Seq("id", "v", "name"))
    cat.write(df(200 to 260), "ns.b", WriteMode.Append) // stats auto-collect
    val t = cat.table("ns.b")
    assert(t.metadataBounds("id") === Some((BigDecimal(1), BigDecimal(260))))
    assert(t.metadataBounds("v") === Some((BigDecimal(1.5), BigDecimal(390.0))))
    // strings: parquet BINARY stats may be truncated bounds — excluded
    assert(t.metadataBounds("name") === None)
    // a column with no stats blob coverage
    assert(t.metadataBounds("nope") === None)
    // deletes can tighten true bounds invisibly → unsound
    LakeDml.delete(t, $"id" >= 250L, strategy = DmlStrategy.MergeOnRead)
    assert(t.metadataBounds("id") === None)
    t.compact(1)
    assert(t.metadataBounds("id") === Some((BigDecimal(1), BigDecimal(249))))
  }

  test("row counts survive metadata-only commits (rename) and binpack keeps kept-dir counts") {
    val (_, cat) = freshCatalog()
    cat.write(df(1 to 50), "ns.m", WriteMode.Overwrite)
    cat.write(df(51 to 60), "ns.m", WriteMode.Append)
    val t = cat.table("ns.m")
    t.renameColumn("name", "title")
    assert(t.metadataRowCount() === Some(60L))
    // binpack: kept dirs carry their recorded counts, folded dir records fresh
    cat.write(df(61 to 62), "ns.m", WriteMode.Append)
    t.compactBinPack(maxDirBytes = 16 * 1024)
    assert(t.metadataRowCount() === Some(62L))
    assert(t.read().count() === 62L)
  }

  test(".files/.partitions serve from manifests on delete-free snapshots — no data scan") {
    val (_, cat) = freshCatalog()
    cat.write(df(1 to 80), "ns.ft", WriteMode.Overwrite)
    cat.write(df(81 to 100), "ns.ft", WriteMode.Append)
    val t = cat.table("ns.ft")

    def hasFileScan(d: org.apache.spark.sql.DataFrame): Boolean = {
      d.collect()
      // descend through AQE stage boundaries — completed stages hide
      // their subtrees from a plain exists()
      def scan(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scan(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scan(q.plan)
        case _: org.apache.spark.sql.execution.FileSourceScanExec => true
        case other => other.children.exists(scan)
      }
      scan(d.queryExecution.executedPlan)
    }

    val f = t.files()
    assert(!hasFileScan(f), "delete-free files table must not scan data")
    assert(f.agg(sum($"record_count")).head.getLong(0) === 100L)
    assert(t.partitionsTable().agg(sum($"n_rows")).head.getLong(0) === 100L)

    // live deletes: record_count means LIVE rows → scan path, exact
    LakeDml.delete(t, $"id" <= 30L, strategy = DmlStrategy.MergeOnRead)
    val fd = t.files()
    assert(hasFileScan(fd), "deletes force the live-count scan path")
    assert(fd.agg(sum($"record_count")).head.getLong(0) === 70L)
    t.compact(1)
    assert(!hasFileScan(t.files()))
    assert(t.files().agg(sum($"record_count")).head.getLong(0) === 70L)
  }

  test("SQL count(*) folds to a LocalRelation — no scan in the plan") {
    val (c, cat) = freshCatalog()
    cat.write(df(1 to 100), "ns.s", WriteMode.Overwrite)
    cat.write(df(101 to 130), "ns.s", WriteMode.Append)

    val q = spark.sql(s"SELECT count(*) AS cnt FROM $c.ns.s")
    assert(q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      s"expected a metadata fold, got:\n${q.queryExecution.optimizedPlan}")
    assert(q.head.getLong(0) === 130L)

    // live resolution: the NEXT query's fold sees the append
    cat.write(df(131 to 140), "ns.s", WriteMode.Append)
    assert(spark.sql(s"SELECT count(*) FROM $c.ns.s").head.getLong(0) === 140L)

    // pinned version folds the pinned snapshot's count
    val tt = spark.sql(s"SELECT count(*) FROM $c.ns.s VERSION AS OF 1")
    assert(tt.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(tt.head.getLong(0) === 100L)
  }

  test("SQL min/max fold: numeric stats columns through renames; strings/exprs decline") {
    val (c, cat) = freshCatalog()
    cat.write(df(1 to 100), "ns.mm", WriteMode.Overwrite, statsBy = Seq("id", "v"))
    cat.write(df(101 to 120), "ns.mm", WriteMode.Append)

    def folded(sql: String): Boolean =
      spark.sql(sql).queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

    val q = spark.sql(s"SELECT count(*) AS cnt, min(id) AS lo, max(v) AS hi FROM $c.ns.mm")
    assert(q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      s"expected a metadata fold, got:\n${q.queryExecution.optimizedPlan}")
    val r = q.head
    assert(r.getLong(0) === 120L && r.getLong(1) === 1L && r.getDouble(2) === 180.0)

    // a subquery rename still reaches the real column
    val ren = spark.sql(s"SELECT min(x) FROM (SELECT v AS x FROM $c.ns.mm)")
    assert(ren.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(ren.head.getDouble(0) === 1.5)

    // string bounds may be truncated → decline; computed exprs → decline
    assert(!folded(s"SELECT min(name) FROM $c.ns.mm"))
    assert(spark.sql(s"SELECT min(name) FROM $c.ns.mm").head.getString(0) === "name1")
    assert(!folded(s"SELECT max(v + 1.0) FROM $c.ns.mm"))
    // a column outside the stats set poisons the WHOLE fold (all-or-scan)
    val (c2, cat2) = freshCatalog()
    cat2.write(df(1 to 50), "ns.ns", WriteMode.Overwrite) // no statsBy
    assert(!folded(s"SELECT count(*), min(id) FROM $c2.ns.ns"))
    val mixed = spark.sql(s"SELECT count(*), min(id) FROM $c2.ns.ns").head
    assert(mixed.getLong(0) === 50L && mixed.getLong(1) === 1L)
  }

  test("SQL fold declines anything it cannot prove; results stay exact") {
    val (c, cat) = freshCatalog()
    cat.write(df(1 to 100), "ns.f", WriteMode.Overwrite)
    val t = cat.table("ns.f")

    def folded(sql: String): Boolean =
      spark.sql(sql).queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

    // WHERE → filter on the path → no fold, exact via scan
    val w = s"SELECT count(*) FROM $c.ns.f WHERE v > 15.0"
    assert(!folded(w))
    assert(spark.sql(w).head.getLong(0) === 90L)
    // count(col) skips nulls → never folded from row counts
    assert(!folded(s"SELECT count(name) FROM $c.ns.f"))
    assert(spark.sql(s"SELECT count(name) FROM $c.ns.f").head.getLong(0) === 100L)
    // count(DISTINCT …) → untouched
    assert(!folded(s"SELECT count(DISTINCT name) FROM $c.ns.f"))
    // grouped count → untouched
    assert(!folded(s"SELECT id % 2, count(*) FROM $c.ns.f GROUP BY 1"))

    // live deletes: thunk answers None → plan keeps the scan, result exact
    LakeDml.delete(t, $"id" <= 40L, strategy = DmlStrategy.MergeOnRead)
    val d = s"SELECT count(*) FROM $c.ns.f"
    assert(!folded(d))
    assert(spark.sql(d).head.getLong(0) === 60L)
  }
}
