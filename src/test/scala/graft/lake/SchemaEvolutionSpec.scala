package graft.lake

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The reference absorbs schema drift by overwriting (SURVEY.md §1.3);
  * the lake layer additionally supports additive evolution on append:
  * the manifest carries the latest schema and old parquet files
  * back-fill missing columns with nulls.
  */
class SchemaEvolutionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("append with an added column: old rows read as null") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("evo-").toString)
    cat.write(Seq((1L, "a")).toDF("id", "s"), "ns.t", WriteMode.Overwrite)
    cat.write(Seq((2L, "b", 9.5)).toDF("id", "s", "score"), "ns.t", WriteMode.Append)
    val rows = cat.read("ns.t").orderBy($"id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(rows(0).isNullAt(2))            // back-filled
    assert(rows(1).getDouble(2) === 9.5)
  }

  test("overwrite with a narrower schema replaces cleanly") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("evo2-").toString)
    cat.write(Seq((1L, "a", 1.0)).toDF("id", "s", "x"), "ns.t", WriteMode.Overwrite)
    cat.write(Seq((2L, "b")).toDF("id", "s"), "ns.t", WriteMode.Overwrite)
    assert(cat.read("ns.t").columns.toSeq === Seq("id", "s"))
    // old snapshot still time-travels with its own schema
    assert(cat.read("ns.t", Some(1L)).columns.toSeq === Seq("id", "s", "x"))
  }

  test("rename is metadata-only: old files resolve by field id; time travel sees the old name") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("evo4-").toString)
    cat.write(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "s", "score"),
      "ns.r", WriteMode.Overwrite)                       // v1
    val t = cat.table("ns.r")
    val dirsBefore = t.latest.get.dirs
    t.renameColumn("score", "quality")                   // v2, metadata-only
    assert(t.latest.get.dirs === dirsBefore)             // no data rewrite
    assert(t.read(None).columns.toSeq === Seq("id", "s", "quality"))
    assert(t.read(None).orderBy($"id").select($"quality").as[Double].collect().toSeq
      === Seq(10.0, 20.0))                               // old bytes, new name
    // time travel across the rename: v1 pins its own schema
    assert(t.read(Some(1L)).columns.toSeq === Seq("id", "s", "score"))
    assert(t.read(Some(1L)).agg(sum($"score")).head.getDouble(0) === 30.0)
    // appends after the rename use the new name; both generations union
    cat.write(Seq((3L, "c", 30.0)).toDF("id", "s", "quality"), "ns.r", WriteMode.Append)
    assert(t.read(None).agg(sum($"quality")).head.getDouble(0) === 60.0)
    // a fresh column named like the OLD one is a NEW field, not the old data
    cat.write(Seq((4L, "d", 40.0, 9.9)).toDF("id", "s", "quality", "score"),
      "ns.r", WriteMode.Append)
    val r = t.read(None).orderBy($"id").collect()
    assert(t.read(None).columns.toSeq === Seq("id", "s", "quality", "score"))
    assert(r(0).isNullAt(3) && r(3).getDouble(3) === 9.9)
  }

  test("drop is metadata-only and compaction reclaims the bytes") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("evo5-").toString)
    cat.write(Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "x"),
      "ns.d", WriteMode.Overwrite)
    val t = cat.table("ns.d")
    t.dropColumn("x")
    assert(t.read(None).columns.toSeq === Seq("id", "s"))
    assert(t.read(None).count() === 2)
    t.compact(1)
    // after the rewrite the physical files no longer contain x
    val physCols = spark.read.parquet(
      t.root.resolve(t.latest.get.dirs.head).toString).columns.toSeq
    assert(physCols === Seq("id", "s"))
    // time travel before the drop still shows x
    assert(cat.read("ns.d", Some(1L)).columns.toSeq === Seq("id", "s", "x"))
  }

  test("widen int->long reads old narrow files as the wide type; lossy casts rejected") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("evo6-").toString)
    cat.write(Seq((1, "a"), (2, "b")).toDF("n", "s"), "ns.w", WriteMode.Overwrite)
    val t = cat.table("ns.w")
    t.widenColumn("n", org.apache.spark.sql.types.LongType)
    assert(t.read(None).schema("n").dataType === org.apache.spark.sql.types.LongType)
    assert(t.read(None).orderBy($"n").select($"n").as[Long].collect().toSeq === Seq(1L, 2L))
    cat.write(Seq((3000000000L, "c")).toDF("n", "s"), "ns.w", WriteMode.Append)
    assert(t.read(None).agg(sum($"n")).head.getLong(0) === 3000000003L)
    val err = intercept[IllegalArgumentException](
      t.widenColumn("n", org.apache.spark.sql.types.IntegerType))
    assert(err.getMessage.contains("loss-free"))
  }

  test("rename + DML: conditions target the new name on old bytes") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("evo7-").toString)
    cat.write(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v"),
      "ns.m", WriteMode.Overwrite)
    val t = cat.table("ns.m")
    t.renameColumn("v", "value")
    LakeDml.delete(t, col("value") >= 25.0)
    assert(t.read(None).orderBy($"id").select($"value").as[Double].collect().toSeq
      === Seq(10.0, 20.0))
  }

  test("append can no longer silently narrow the table") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("evo8-").toString)
    cat.write(Seq((1L, "a", 1.0)).toDF("id", "s", "x"), "ns.n", WriteMode.Overwrite)
    cat.write(Seq((2L, "b")).toDF("id", "s"), "ns.n", WriteMode.Append)
    val t = cat.table("ns.n")
    assert(t.read(None).columns.toSeq === Seq("id", "s", "x")) // x survives
    val rows = t.read(None).orderBy($"id").collect()
    assert(rows(0).getDouble(2) === 1.0)
    assert(rows(1).isNullAt(2))
  }

  test("dropped field ids are never reused: a post-drop column reads null, not the dropped bytes") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("evo9-").toString)
    cat.write(Seq((1L, "a", 1.5)).toDF("id", "s", "x"), "ns.idr", WriteMode.Overwrite)
    val t = cat.table("ns.idr")
    t.dropColumn("x") // x held the max field id
    cat.write(Seq((2L, "b", 7.0)).toDF("id", "s", "y"), "ns.idr", WriteMode.Append)
    val rows = t.read(None).orderBy($"id").collect()
    assert(t.read(None).columns.toSeq === Seq("id", "s", "y"))
    assert(rows(0).isNullAt(2), "old row must NOT resurrect dropped x under y")
    assert(rows(1).getDouble(2) === 7.0)
  }

  test("metadata-only commits carry the field-id high-water mark past a drop") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("evo10-").toString)
    cat.write(Seq((1L, "a", 1.5), (5L, "e", 5.5), (6L, "f", 6.5)).toDF("id", "s", "x"),
      "ns.idm", WriteMode.Overwrite)
    val t = cat.table("ns.idm")
    t.dropColumn("x") // x held the max field id
    val mark = t.latest.get.meta(SchemaIds.LastIdKey)
    // two delete files of each kind, so both rewrites commit
    LakeDml.delete(t, $"id" === 5L, DmlStrategy.MergeOnRead)
    LakeDml.delete(t, $"id" === 6L, DmlStrategy.MergeOnRead)
    t.upsert(Seq((102L, "u")).toDF("id", "s"), Seq("id"))
    t.upsert(Seq((103L, "v")).toDF("id", "s"), Seq("id"))
    Seq[(String, () => Snapshot)](
      "rewrite-deletes" -> (() => t.rewritePositionDeletes()),
      "rewrite-deletes" -> (() => t.rewriteEqualityDeletes()),
      "set-autocompact" -> (() => t.setAutoCompact(1000)),
      "set-autocompact" -> (() => t.setAutoCompact(0)),
      "drop-check" -> { () => t.addCheckConstraint("c", "id >= 0"); t.dropCheckConstraint("c") },
      "add-check" -> (() => t.addCheckConstraint("s_set", "s IS NOT NULL"))
    ).foreach { case (op, run) => // each metadata-only commit keeps the mark
      val s = run()
      assert(s.op === op)
      assert(s.meta.get(SchemaIds.LastIdKey) === Some(mark), s"$op dropped the id mark")
    }
    // drop, then add-check, then an append with a new column: the new
    // column must not reuse x's id and read x's old bytes
    cat.write(Seq((2L, "b", 7.0)).toDF("id", "s", "y"), "ns.idm", WriteMode.Append)
    val rows = t.read(None).orderBy($"id").collect()
    assert(t.read(None).columns.toSeq === Seq("id", "s", "y"))
    assert(rows(0).getLong(0) === 1L && rows(0).isNullAt(2),
      "old row must NOT resurrect dropped x under y")
    assert(rows(1).getLong(0) === 2L && rows(1).getDouble(2) === 7.0)
  }

  test("append type conflicts: widen silently-compatible, reject lossy") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("evo10-").toString)
    cat.write(Seq((1, "a")).toDF("n", "s"), "ns.tc", WriteMode.Overwrite) // n: int
    val t = cat.table("ns.tc")
    // wider append auto-widens the table type
    cat.write(Seq((3000000000L, "b")).toDF("n", "s"), "ns.tc", WriteMode.Append)
    assert(t.read(None).schema("n").dataType === org.apache.spark.sql.types.LongType)
    assert(t.read(None).agg(sum($"n")).head.getLong(0) === 3000000001L)
    // narrower append reads back widened (table stays long)
    cat.write(Seq((5, "c")).toDF("n", "s"), "ns.tc", WriteMode.Append)
    assert(t.read(None).schema("n").dataType === org.apache.spark.sql.types.LongType)
    // incompatible append fails loudly instead of null-casting on read
    val err = intercept[IllegalArgumentException](
      cat.write(Seq(("oops", "d")).toDF("n", "s"), "ns.tc", WriteMode.Append))
    assert(err.getMessage.contains("incompatible"))
  }

  test("registerView exposes lake snapshots to spark.sql") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("evo3-").toString)
    cat.write(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"), "gold.metrics", WriteMode.Overwrite)
    val view = cat.registerView("gold.metrics")
    assert(view === "gold_metrics")
    val sum = spark.sql(s"SELECT CAST(SUM(v) AS DOUBLE) FROM $view").head.getDouble(0)
    assert(sum === 30.0)
  }
}
