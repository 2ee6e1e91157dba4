package graft.lake

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Incremental JOIN-view maintenance: changelog-driven refresh over
  * both sides, dim fan-out, delete handling, phantom guards, and the
  * full-rebuild fallback on rewrites.
  */
class JoinViewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh() = new LakeCatalog(spark,
    Files.createTempDirectory("jview-").toString)

  private def expected(cat: LakeCatalog): Set[(Long, Long, Double, String)] = {
    val f = cat.read("ns.fact").as[(Long, Long, Double)].collect()
    val d = cat.read("ns.dim").as[(Long, String)].collect().toMap
    f.map { case (id, ck, amt) => (id, ck, amt, d.getOrElse(ck, null)) }.toSet
  }

  private def viewRows(cat: LakeCatalog): Set[(Long, Long, Double, String)] =
    JoinView.read(cat, "ns.v").as[(Long, Long, Double, String)].collect().toSet

  private def mode(cat: LakeCatalog): String =
    cat.table("ns.v").latest.get.meta(IncrementalView.RefreshModeKey)

  test("full build, then changelog-driven refresh over both sides") {
    val cat = fresh()
    cat.write(Seq((1L, 10L, 5.0), (2L, 10L, 7.0), (3L, 20L, 9.0))
      .toDF("id", "ck", "amt"), "ns.fact", WriteMode.Overwrite)
    cat.write(Seq((10L, "A"), (20L, "B")).toDF("ck", "seg"),
      "ns.dim", WriteMode.Overwrite)
    def refresh() = JoinView.refreshSql(cat, "ns.fact", "ns.dim", "ns.v",
      factKey = "id", joinKey = "ck", dimKey = "ck", dimCols = Seq("seg"))

    refresh()
    assert(mode(cat) === "full")
    assert(viewRows(cat) === expected(cat))

    // fact appends + an unmatched join key (left-join null)
    cat.table("ns.fact").write(Seq((4L, 20L, 1.0), (5L, 99L, 2.0))
      .toDF("id", "ck", "amt"), WriteMode.Append)
    refresh()
    assert(mode(cat) === "incremental")
    assert(viewRows(cat) === expected(cat))
    assert(viewRows(cat).contains((5L, 99L, 2.0, null)))

    // dim upsert fans out to EVERY fact row holding the key
    cat.table("ns.dim").upsert(Seq((10L, "A2")).toDF("ck", "seg"), Seq("ck"))
    refresh()
    assert(mode(cat) === "incremental")
    assert(viewRows(cat) === expected(cat))
    assert(viewRows(cat).count(_._4 == "A2") === 2)

    // fact-side MOR delete leaves the changelog path and removes the row
    LakeDml.delete(cat.table("ns.fact"), $"id" === 2L,
      strategy = DmlStrategy.MergeOnRead)
    refresh()
    assert(mode(cat) === "incremental")
    assert(viewRows(cat) === expected(cat))
    assert(!viewRows(cat).exists(_._1 == 2L))

    // insert-then-delete inside one window plants no phantom
    cat.table("ns.fact").write(Seq((6L, 10L, 3.0)).toDF("id", "ck", "amt"),
      WriteMode.Append)
    LakeDml.delete(cat.table("ns.fact"), $"id" === 6L,
      strategy = DmlStrategy.MergeOnRead)
    refresh()
    assert(mode(cat) === "incremental")
    assert(!viewRows(cat).exists(_._1 == 6L))
    assert(viewRows(cat) === expected(cat))

    // both sides unchanged → no new commit
    val v = cat.table("ns.v").latest.get.version
    refresh()
    assert(cat.table("ns.v").latest.get.version === v)

    // dim-side DELETE un-enriches its fan-out (left-join nulls)
    LakeDml.delete(cat.table("ns.dim"), $"ck" === 20L,
      strategy = DmlStrategy.MergeOnRead)
    refresh()
    assert(mode(cat) === "incremental")
    assert(viewRows(cat) === expected(cat))
    assert(viewRows(cat).filter(_._2 == 20L).forall(_._4 == null))
  }

  test("rewrite on a source falls back to a loud full rebuild") {
    val cat = fresh()
    cat.write(Seq((1L, 10L, 5.0)).toDF("id", "ck", "amt"), "ns.fact", WriteMode.Overwrite)
    cat.write(Seq((10L, "A")).toDF("ck", "seg"), "ns.dim", WriteMode.Overwrite)
    def refresh() = JoinView.refreshSql(cat, "ns.fact", "ns.dim", "ns.v",
      "id", "ck", "ck", Seq("seg"))
    refresh()
    // overwrite = data rewrite = no row changelog
    cat.write(Seq((7L, 10L, 1.0), (8L, 10L, 2.0)).toDF("id", "ck", "amt"),
      "ns.fact", WriteMode.Overwrite)
    refresh()
    assert(mode(cat) === "full")
    assert(viewRows(cat) === expected(cat))
  }

  test("CALL refresh_view dispatches join-view definitions") {
    val wh = Files.createTempDirectory("jview-sql-").toString
    val c = "gjv1"
    spark.conf.set(s"spark.sql.catalog.$c", classOf[sqlcat.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$c.warehouse", wh)
    val cat = new LakeCatalog(spark, wh)
    cat.write(Seq((1L, 10L, 5.0)).toDF("id", "ck", "amt"), "ns.fact", WriteMode.Overwrite)
    cat.write(Seq((10L, "A")).toDF("ck", "seg"), "ns.dim", WriteMode.Overwrite)
    JoinView.refreshSql(cat, "ns.fact", "ns.dim", "ns.v", "id", "ck", "ck", Seq("seg"))
    cat.table("ns.fact").write(Seq((2L, 10L, 6.0)).toDF("id", "ck", "amt"),
      WriteMode.Append)
    val r = spark.sql(s"CALL $c.system.refresh_view(view => 'ns.v')").head
    assert(r.getString(2) === "incremental")
    assert(JoinView.read(cat, "ns.v").count() === 2L)
  }

  test("a declared MergeOnRead strategy survives by-name refresh (changelog contract)") {
    val cat = fresh()
    cat.write(Seq((1L, 10L, 5.0), (2L, 10L, 6.0)).toDF("id", "ck", "amt"),
      "ns.fact", WriteMode.Overwrite)
    cat.write(Seq((10L, "A")).toDF("ck", "seg"), "ns.dim", WriteMode.Overwrite)
    JoinView.refreshSql(cat, "ns.fact", "ns.dim", "ns.v", "id", "ck", "ck",
      Seq("seg"), strategy = DmlStrategy.MergeOnRead)
    // a dim re-assignment makes the refresh UPDATE existing view rows —
    // the path where Auto could pick a COW rewrite and break downstream
    // changelog readers
    cat.table("ns.dim").upsert(Seq((10L, "B")).toDF("ck", "seg"), Seq("ck"))
    val snap = JoinView.refreshByName(cat, "ns.v")
    assert(snap.op === "merge", s"expected a MOR merge commit, got '${snap.op}'")
    // MOR == dir-preserving: the downstream changelog read must not
    // hit the rewrite fallback
    val changes = cat.table("ns.v").readChanges(snap.version - 1, Some(snap.version))
    assert(changes.where(col("_change_type") === "insert").count() === 2L)
    assert(JoinView.read(cat, "ns.v").as[(Long, Long, Double, String)]
      .collect().toSet === Set((1L, 10L, 5.0, "B"), (2L, 10L, 6.0, "B")))
  }

  test("an unknown persisted strategy fails loud instead of voiding the contract") {
    val cat = fresh()
    cat.write(Seq((1L, 10L, 5.0)).toDF("id", "ck", "amt"),
      "ns.fact", WriteMode.Overwrite)
    cat.write(Seq((10L, "A")).toDF("ck", "seg"), "ns.dim", WriteMode.Overwrite)
    JoinView.refreshSql(cat, "ns.fact", "ns.dim", "ns.v", "id", "ck", "ck",
      Seq("seg"), strategy = DmlStrategy.MergeOnRead)
    // corrupt the persisted definition's strategy field — a future or
    // mangled value must NOT silently downgrade to Auto (that would
    // void the declared MergeOnRead changelog contract); an ABSENT
    // field (pre-strategy definitions) still defaults to Auto
    val tbl = cat.table("ns.v")
    val defJson = tbl.latest.get.meta(JoinView.DefinitionKey)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(defJson).asInstanceOf[
      com.fasterxml.jackson.databind.node.ObjectNode]
    root.put("strategy", "FancyFutureStrategy")
    cat.write(Seq((2L, 10L, 6.0)).toDF("id", "ck", "amt"),
      "ns.fact", WriteMode.Append)
    tbl.write(JoinView.read(cat, "ns.v"), WriteMode.Overwrite,
      meta = Map(JoinView.DefinitionKey -> om.writeValueAsString(root)))
    val ex = intercept[IllegalArgumentException] {
      JoinView.refreshByName(cat, "ns.v")
    }
    assert(ex.getMessage.contains("FancyFutureStrategy"))
  }

  test("null join keys take the LEFT-JOIN null arm, never a null-keyed dim row") {
    val cat = fresh()
    cat.write(Seq((1L, Some(10L), 5.0), (2L, Option.empty[Long], 7.0))
      .toDF("id", "ck", "amt"), "ns.fact", WriteMode.Overwrite)
    cat.write(Seq((Some(10L), "A"), (Option.empty[Long], "NULLSEG"))
      .toDF("ck", "seg"), "ns.dim", WriteMode.Overwrite)
    JoinView.refreshSql(cat, "ns.fact", "ns.dim", "ns.v",
      "id", "ck", "ck", Seq("seg"))
    val rows = JoinView.read(cat, "ns.v").as[(Long, Option[Long], Double, String)]
      .collect().toSet
    // declared definition is plain `=`: the null-keyed fact row must
    // NOT enrich against the null-keyed dim row
    assert(rows === Set((1L, Some(10L), 5.0, "A"), (2L, None, 7.0, null)))

    // the incremental path preserves the same semantics
    cat.table("ns.fact").write(Seq((3L, Option.empty[Long], 9.0))
      .toDF("id", "ck", "amt"), WriteMode.Append)
    JoinView.refreshSql(cat, "ns.fact", "ns.dim", "ns.v",
      "id", "ck", "ck", Seq("seg"))
    assert(mode(cat) === "incremental")
    val rows2 = JoinView.read(cat, "ns.v").as[(Long, Option[Long], Double, String)]
      .collect().toSet
    assert(rows2.contains((3L, None, 9.0, null)))
  }

  test("dim-column collisions are rejected; distinct dim-key names pass through") {
    val cat = fresh()
    cat.write(Seq((1L, 10L, 5.0)).toDF("id", "cust_fk", "amt"),
      "ns.fact", WriteMode.Overwrite)
    cat.write(Seq((10L, "A")).toDF("ck", "seg"), "ns.dim", WriteMode.Overwrite)
    // legitimately carry the dim's key under its own (distinct) name
    JoinView.refreshSql(cat, "ns.fact", "ns.dim", "ns.v",
      "id", "cust_fk", "ck", Seq("ck", "seg"))
    assert(JoinView.read(cat, "ns.v").columns.toSeq ===
      Seq("id", "cust_fk", "amt", "ck", "seg"))
    // joinKey == dimKey with the key in dimCols would mint a duplicate
    // column name — rejected up front, not as a late AMBIGUOUS_REFERENCE
    cat.write(Seq((1L, 10L, 5.0)).toDF("id", "ck", "amt"),
      "ns.fact2", WriteMode.Overwrite)
    val e = intercept[IllegalArgumentException](
      JoinView.refreshSql(cat, "ns.fact2", "ns.dim", "ns.v2",
        "id", "ck", "ck", Seq("ck", "seg")))
    assert(e.getMessage.contains("dimCols"))
    // any other fact/dim name collision fails loudly too
    cat.write(Seq((10L, 99.0)).toDF("ck", "amt"),
      "ns.dim2", WriteMode.Overwrite)
    val e2 = intercept[IllegalArgumentException](
      JoinView.refreshSql(cat, "ns.fact2", "ns.dim2", "ns.v3",
        "id", "ck", "ck", Seq("amt")))
    assert(e2.getMessage.contains("collide"))
  }

  test("driver-large dim change takes the bloom tier and stays exact") {
    val cat = fresh()
    // 42k fact rows over 21k join keys: a dim change touching all 21k
    // keys exceeds the 20k driver-exact cap, forcing the bloom +
    // semi-join tier end to end (touched set AND the bounded fact read)
    cat.write((1L to 42000L).map(i => (i, i % 21000L, i * 1.0))
      .toDF("id", "ck", "amt"), "ns.fact", WriteMode.Overwrite)
    cat.write((0L until 21000L).map(k => (k, s"s$k")).toDF("ck", "seg"),
      "ns.dim", WriteMode.Overwrite)
    def refresh() = JoinView.refreshSql(cat, "ns.fact", "ns.dim", "ns.v",
      "id", "ck", "ck", Seq("seg"))
    refresh()
    cat.table("ns.dim").upsert(
      (0L until 21000L).map(k => (k, s"S$k")).toDF("ck", "seg"), Seq("ck"))
    refresh()
    assert(mode(cat) === "incremental")
    val rows = JoinView.read(cat, "ns.v")
      .as[(Long, Long, Double, String)].collect()
    assert(rows.length === 42000)
    assert(rows.forall { case (id, ck, _, seg) => seg == s"S$ck" },
      "every fact row must reflect the upserted dim value")
  }

  test("a fact upsert (delete+insert in one window) keeps the key exactly once") {
    // the driver-small tier flags the key deleted from the changelog,
    // then must notice it was rebuilt live and emit NO delete marker —
    // a marker would be a duplicate MERGE key and abort the refresh
    val cat = fresh()
    cat.write(Seq((1L, 10L, 5.0), (2L, 10L, 7.0)).toDF("id", "ck", "amt"),
      "ns.fact", WriteMode.Overwrite)
    cat.write(Seq((10L, "A")).toDF("ck", "seg"), "ns.dim", WriteMode.Overwrite)
    def refresh() = JoinView.refreshSql(cat, "ns.fact", "ns.dim", "ns.v",
      "id", "ck", "ck", Seq("seg"))
    refresh()
    cat.table("ns.fact").upsert(Seq((2L, 10L, 8.5)).toDF("id", "ck", "amt"),
      Seq("id"))
    refresh()
    assert(mode(cat) === "incremental")
    val two = viewRows(cat).filter(_._1 == 2L)
    assert(two === Set((2L, 10L, 8.5, "A")), s"got $two")
    assert(viewRows(cat) === expected(cat))
  }

  test("binary fact keys refresh on the distributed tier") {
    // Array[Byte] compares by reference on the driver, so the
    // driver-small tier must refuse binary keys and the distributed
    // path (value-equality joins) must carry the whole refresh —
    // including a delete-window key that stays live (upsert)
    val cat = fresh()
    def bk(i: Int): Array[Byte] = Array.fill(4)(i.toByte)
    cat.write(Seq((bk(1), 10L, 5.0), (bk(2), 10L, 7.0)).toDF("id", "ck", "amt"),
      "nsb.fact", WriteMode.Overwrite)
    cat.write(Seq((10L, "A")).toDF("ck", "seg"), "nsb.dim", WriteMode.Overwrite)
    def refresh() = JoinView.refreshSql(cat, "nsb.fact", "nsb.dim", "nsb.v",
      "id", "ck", "ck", Seq("seg"))
    refresh()
    assert(cat.table("nsb.v").latest.get
      .meta(IncrementalView.RefreshModeKey) === "full")
    cat.table("nsb.fact").upsert(Seq((bk(2), 10L, 8.5)).toDF("id", "ck", "amt"),
      Seq("id"))
    refresh()
    assert(cat.table("nsb.v").latest.get
      .meta(IncrementalView.RefreshModeKey) === "incremental")
    val rows = JoinView.read(cat, "nsb.v")
      .as[(Array[Byte], Long, Double, String)].collect()
      .map { case (id, ck, amt, seg) => (id.toSeq, ck, amt, seg) }.toSet
    assert(rows === Set(
      (bk(1).toSeq, 10L, 5.0, "A"),
      (bk(2).toSeq, 10L, 8.5, "A")), s"got $rows")
  }

  test("an empty dim changelog refreshes without touching the view's rows") {
    val cat = fresh()
    cat.write(Seq((1L, 10L, 5.0), (2L, 20L, 7.0)).toDF("id", "ck", "amt"),
      "ns.fact", WriteMode.Overwrite)
    cat.write(Seq((10L, "A"), (20L, "B")).toDF("ck", "seg"),
      "ns.dim", WriteMode.Overwrite)
    def refresh() = JoinView.refreshSql(cat, "ns.fact", "ns.dim", "ns.v",
      "id", "ck", "ck", Seq("seg"))
    refresh()
    // a dim commit that changes no rows (empty append) still moves the
    // version; the refresh must fold it as an incremental no-op rather
    // than a full fact scan — and must not disturb the view
    cat.table("ns.dim").write(Seq.empty[(Long, String)].toDF("ck", "seg"),
      WriteMode.Append)
    refresh()
    assert(mode(cat) === "incremental")
    assert(viewRows(cat) === expected(cat))
    val rec = cat.table("ns.v").latest.get.meta(JoinView.DimVersionKey).toLong
    assert(rec === cat.table("ns.dim").latest.get.version)
  }

  test("fact history expired past the recorded version: typed fallback to a full rebuild") {
    val cat = fresh()
    cat.write(Seq((1L, 10L, 5.0)).toDF("id", "ck", "amt"), "ns.fact", WriteMode.Overwrite)
    cat.write(Seq((10L, "A")).toDF("ck", "seg"), "ns.dim", WriteMode.Overwrite)
    def refresh() = JoinView.refreshSql(cat, "ns.fact", "ns.dim", "ns.v",
      "id", "ck", "ck", Seq("seg"))
    refresh()
    val fact = cat.table("ns.fact")
    fact.write(Seq((2L, 10L, 1.0)).toDF("id", "ck", "amt"), WriteMode.Append)
    fact.write(Seq((3L, 99L, 2.0)).toDF("id", "ck", "amt"), WriteMode.Append)
    fact.expireSnapshots(retainLast = 1)
    intercept[SnapshotExpiredException](fact.readChanges(1L))
    refresh()
    assert(mode(cat) === "full")
    assert(viewRows(cat) === expected(cat))
  }

  test("a window of schema changes and compactions commits meta only: no job, no data dir") {
    val cat = fresh()
    cat.write(Seq((1L, 10L, 5.0), (2L, 20L, 7.0)).toDF("id", "ck", "amt"),
      "ns.fact", WriteMode.Overwrite)
    cat.write(Seq((10L, "A")).toDF("ck", "seg"), "ns.dim", WriteMode.Overwrite)
    cat.table("ns.dim").write(Seq((20L, "B")).toDF("ck", "seg"), WriteMode.Append)
    def refresh(v: String) = JoinView.refreshSql(cat, "ns.fact", "ns.dim", v,
      "id", "ck", "ck", Seq("seg"))
    refresh("ns.v")
    cat.table("ns.fact").addColumn("note", org.apache.spark.sql.types.StringType)
    cat.table("ns.dim").compactBinPack(maxDirBytes = Long.MaxValue)
    val dirs = cat.table("ns.v").latest.get.dirs
    val jobs = TestSpark.jobs(refresh("ns.v"))
    assert(jobs.isEmpty, jobs)
    val snap = cat.table("ns.v").latest.get
    assert(snap.dirs === dirs)
    assert(snap.meta(JoinView.FactVersionKey).toLong === cat.table("ns.fact").latest.get.version)
    assert(snap.meta(JoinView.DimVersionKey).toLong === cat.table("ns.dim").latest.get.version)
    refresh("ns.rebuilt")
    def rows(v: String) = JoinView.read(cat, v).select("id", "ck", "amt", "seg")
      .as[(Long, Long, Double, String)].collect().toSet
    assert(rows("ns.v") === rows("ns.rebuilt"))
  }

  test("job counts: fact-only, dim-only and delete-bearing windows") {
    // each tier materializes its keys once and reads their census; no
    // second action collects them (that costs 2, 3 and 3 jobs more)
    val cat = fresh()
    cat.write(Seq((1L, 10L, 5.0), (2L, 10L, 7.0), (3L, 20L, 9.0))
      .toDF("id", "ck", "amt"), "ns.fact", WriteMode.Overwrite)
    cat.write(Seq((10L, "A"), (20L, "B")).toDF("ck", "seg"),
      "ns.dim", WriteMode.Overwrite)
    def refresh() = JoinView.refreshSql(cat, "ns.fact", "ns.dim", "ns.v",
      factKey = "id", joinKey = "ck", dimKey = "ck", dimCols = Seq("seg"))
    def measured(): Seq[String] = {
      val jobs = TestSpark.jobs(refresh())
      assert(!jobs.exists(_.startsWith("collect at JoinView")), jobs)
      assert(mode(cat) === "incremental")
      assert(viewRows(cat) === expected(cat))
      jobs
    }
    refresh()
    cat.table("ns.fact").write(Seq((4L, 20L, 1.0)).toDF("id", "ck", "amt"), WriteMode.Append)
    assert(measured().size <= 9)
    cat.table("ns.dim").upsert(Seq((10L, "A2")).toDF("ck", "seg"), Seq("ck"))
    assert(measured().size <= 15)
    LakeDml.delete(cat.table("ns.fact"), $"id" === 2L, strategy = DmlStrategy.MergeOnRead)
    assert(measured().size <= 14)
  }
}
