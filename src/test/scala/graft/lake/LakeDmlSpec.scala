package graft.lake

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class LakeDmlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable() = {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("dml-spec-").toString)
    cat.write(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "name", "v"),
      "ns.t", WriteMode.Overwrite)
    cat.table("ns.t")
  }

  test("delete removes TRUE rows, keeps FALSE and NULL") {
    val t = freshTable()
    LakeDml.delete(t, $"v" > 15.0)
    assert(t.read(None).select($"id").as[Long].collect().sorted === Array(1L))
    // NULL predicate rows are kept
    val t2 = freshTable()
    LakeDml.delete(t2, when($"id" === 1L, lit(null).cast("boolean")).otherwise($"v" > 25.0))
    assert(t2.read(None).select($"id").as[Long].collect().sorted === Array(1L, 2L))
  }

  test("update rewrites matching rows only") {
    val t = freshTable()
    LakeDml.update(t, $"name" === "b", Map("v" -> lit(99.0), "name" -> lit("B")))
    val rows = t.read(None).orderBy($"id").collect()
    assert(rows.map(_.getString(1)).toSeq === Seq("a", "B", "c"))
    assert(rows.map(_.getDouble(2)).toSeq === Seq(10.0, 99.0, 30.0))
  }

  test("merge upserts: matched updated, unmatched inserted, others untouched") {
    val t = freshTable()
    val src = Seq((2L, "b2", 200.0), (9L, "new", 900.0)).toDF("id", "name", "v")
    LakeDml.merge(t, src, keys = Seq("id"))
    val rows = t.read(None).orderBy($"id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 9L))
    assert(rows.map(_.getString(1)).toSeq === Seq("a", "b2", "c", "new"))
  }

  test("merge with explicit SET only touches listed columns") {
    val t = freshTable()
    val src = Seq((3L, "ignored", 300.0)).toDF("id", "name", "v")
    LakeDml.merge(t, src, keys = Seq("id"), set = Map("v" -> lit(-1.0)))
    val row3 = t.read(None).filter($"id" === 3L).head
    assert(row3.getString(1) === "c")    // name untouched
    assert(row3.getDouble(2) === -1.0)   // v from SET
  }

  test("merge rejects duplicate-key source") {
    val t = freshTable()
    val dup = Seq((2L, "x", 1.0), (2L, "y", 2.0)).toDF("id", "name", "v")
    intercept[IllegalArgumentException](LakeDml.merge(t, dup, keys = Seq("id")))
  }

  test("merge matched-delete arm: CDC apply in one commit (upsert + delete)") {
    val t = freshTable()
    // a CDC batch: op column decides update vs delete
    val src = Seq((1L, "a1", 11.0, "u"), (2L, "b", 20.0, "d"), (9L, "new", 90.0, "u"))
      .toDF("id", "name", "v", "op")
    LakeDml.merge(t, src, keys = Seq("id"),
      set = Map("name" -> col("_src_name"), "v" -> col("_src_v")),
      deleteMatched = Some(col("_src_op") === "d"))
    val rows = t.read(None).orderBy($"id")
      .as[(Long, String, Double)].collect().toSeq
    assert(rows === Seq((1L, "a1", 11.0), (3L, "c", 30.0), (9L, "new", 90.0)))
  }

  test("merge matched-delete arm on the MOR path: no existing file rewritten") {
    val t = freshTable()
    val before = t.latest.get.dirs.toSet
    val src = Seq((2L, "b", 20.0)).toDF("id", "name", "v")
    val snap = LakeDml.merge(t, src, keys = Seq("id"),
      deleteMatched = Some(lit(true)), insertNotMatched = false,
      strategy = DmlStrategy.MergeOnRead)
    assert(t.read(None).select($"id").as[Long].collect().sorted === Array(1L, 3L))
    assert(before.subsetOf(snap.dirs.toSet)) // delete rode a delete file
  }

  test("merge matched-delete: NULL delete condition means keep (update)") {
    val t = freshTable()
    val src = Seq((1L, "a1", 11.0, null: String), (2L, "b2", 22.0, "d"))
      .toDF("id", "name", "v", "op")
    LakeDml.merge(t, src, keys = Seq("id"),
      set = Map("name" -> col("_src_name"), "v" -> col("_src_v")),
      deleteMatched = Some(col("_src_op") === "d"), insertNotMatched = false)
    val rows = t.read(None).orderBy($"id")
      .as[(Long, String, Double)].collect().toSeq
    assert(rows === Seq((1L, "a1", 11.0), (3L, "c", 30.0)))
  }

  test("merge without insert drops unmatched source rows") {
    val t = freshTable()
    val src = Seq((2L, "b2", 200.0), (9L, "new", 900.0)).toDF("id", "name", "v")
    LakeDml.merge(t, src, keys = Seq("id"), insertNotMatched = false)
    assert(t.read(None).count() === 3)
    assert(t.read(None).filter($"id" === 2L).head.getString(1) === "b2")
  }

  test("update evaluates all SETs against the pre-update row (swap works)") {
    val t = freshTable()
    // swap name and v-as-string; also condition references a SET column
    LakeDml.update(t, $"name" === "b",
      Map("name" -> lit("B"), "v" -> lit(99.0)))
    val row = t.read(None).filter($"id" === 2L).head
    assert(row.getString(1) === "B" && row.getDouble(2) === 99.0)
    // genuine swap of two columns
    val t2 = freshTable()
    LakeDml.update(t2, lit(true), Map("id" -> ($"v".cast("long")), "v" -> ($"id".cast("double"))))
    val r = t2.read(None).orderBy($"v").collect()
    assert(r.map(_.getLong(0)).toSeq === Seq(10L, 20L, 30L))
    assert(r.map(_.getDouble(2)).toSeq === Seq(1.0, 2.0, 3.0))
  }

  test("merge accepts a subset-column source when SET covers the update") {
    val t = freshTable()
    val src = Seq((2L, -5.0), (9L, -9.0)).toDF("id", "v")   // no `name` column
    // update path: only v from SET; insert path: name null-filled
    LakeDml.merge(t, src, keys = Seq("id"), set = Map("v" -> col("_src_v")))
    val rows = t.read(None).orderBy($"id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 9L))
    assert(rows.map(_.getDouble(2)).toSeq === Seq(10.0, -5.0, 30.0, -9.0))
    assert(rows.map(r => Option(r.getString(1))).toSeq ===
      Seq(Some("a"), Some("b"), Some("c"), None))
    // no-insert flavor with subset source also works
    val t2 = freshTable()
    LakeDml.merge(t2, src, keys = Seq("id"), set = Map("v" -> lit(0.0)),
      insertNotMatched = false)
    assert(t2.read(None).count() === 3)
    // set-less subset merge is ambiguous → clear error
    val t3 = freshTable()
    val err = intercept[RuntimeException](LakeDml.merge(t3, src, keys = Seq("id")))
    assert(err.getMessage.contains("lacks column"))
  }

  test("DML preserves hidden partition specs across rewrites") {
    import graft.lake.LakePredicate._
    val cat = new LakeCatalog(spark, Files.createTempDirectory("dml-hp-").toString)
    val df = Seq(
      (1L, "2024-01-01 10:00:00", 10.0), (2L, "2024-01-02 10:00:00", 20.0),
      (3L, "2024-01-02 11:00:00", 30.0), (4L, "2024-01-03 10:00:00", 40.0))
      .toDF("id", "s", "v").select($"id", to_timestamp($"s").as("ts"), $"v")
    cat.write(df, "ns.hp", WriteMode.Overwrite, partitionBy = Seq("days(ts)"))
    val t = cat.table("ns.hp")
    // DELETE rewrites through the spec; schema stays clean
    LakeDml.delete(t, $"id" === 4L)
    assert(t.read(None).columns.toSeq === Seq("id", "ts", "v"))
    assert(t.read(None).count() === 3)
    // UPDATE keeps partitioning live for scans
    LakeDml.update(t, $"id" === 2L, Map("v" -> lit(99.0)))
    val day2 = t.scan(Seq(
      GtEq("ts", java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
      LtEq("ts", java.sql.Timestamp.valueOf("2024-01-02 23:59:59"))))
    assert(day2.select($"v").as[Double].collect().sorted === Array(30.0, 99.0))
    day2.collect()
    assert(day2.queryExecution.executedPlan.toString.contains("_p_ts_day"))
    // MERGE on the partitioned table
    val src = Seq((3L, 333.0), (9L, 900.0)).toDF("id", "v")
    LakeDml.merge(t, src, keys = Seq("id"), set = Map("v" -> col("_src_v")))
    val after = t.read(None).orderBy($"id").collect()
    assert(after.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 9L))
    assert(after.map(_.getDouble(2)).toSeq === Seq(10.0, 99.0, 333.0, 900.0))
    assert(t.latest.get.partitionBy === Seq("days(ts)"))
  }

  // -- merge-on-read ------------------------------------------------------

  /** Parquet data files currently on disk under the snapshot's dirs. */
  private def dataFiles(t: LakeTable): Set[String] = {
    import scala.jdk.CollectionConverters._
    t.latest.get.dirs.flatMap { d =>
      val p = t.root.resolve(d)
      val s = Files.walk(p)
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .map(_.toString).toList
      finally s.close()
    }.toSet
  }

  private def wideTable() = {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("dml-mor-").toString)
    val df = (1L to 400L).map(i => (i, s"name$i", i * 1.0)).toDF("id", "name", "v")
    cat.write(df.repartition(8), "ns.w", WriteMode.Overwrite)
    cat.table("ns.w")
  }

  test("MOR: 1-row MERGE writes a delete file + tiny append, rewrites NO existing file") {
    val t = wideTable()
    val before = dataFiles(t)
    assert(before.size === 8)
    val src = Seq((7L, "SEVEN", -7.0), (999L, "new", 9.0)).toDF("id", "name", "v")
    val snap = LakeDml.merge(t, src, keys = Seq("id"), strategy = DmlStrategy.MergeOnRead)
    assert(snap.op === "merge")
    assert(snap.deleteDirs.size === 1)
    // every pre-merge file still on disk AND still referenced
    assert(dataFiles(t).intersect(before) === before)
    // exactly one new (small) data dir was appended
    assert(snap.dirs.size === 2)
    // content is the merge result
    val rows = t.read(None).orderBy($"id").collect()
    assert(rows.length === 401)
    assert(rows.find(_.getLong(0) == 7L).get.getString(1) === "SEVEN")
    assert(rows.find(_.getLong(0) == 999L).get.getString(1) === "new")
    // the delete file names exactly one position
    val delDir = t.root.resolve(snap.deleteDirs.head)
    assert(spark.read.parquet(delDir.toString).count() === 1)
  }

  test("MOR: delete removes rows without touching data files; time travel sees them back") {
    val t = wideTable()
    val before = dataFiles(t)
    val v1 = t.latest.get.version
    val snap = LakeDml.delete(t, $"id" <= 10L, strategy = DmlStrategy.MergeOnRead)
    assert(snap.op === "delete" && snap.deleteDirs.size === 1 && snap.dirs.size === 1)
    assert(dataFiles(t) === before) // zero data churn
    assert(t.read(None).count() === 390)
    assert(t.read(Some(v1)).count() === 400) // pre-delete snapshot unaffected
    // deletes COMPOUND: a second MOR delete applies on top of the first
    LakeDml.delete(t, $"id" > 390L, strategy = DmlStrategy.MergeOnRead)
    assert(t.read(None).count() === 380)
    assert(t.latest.get.deleteDirs.size === 2)
    // update after deletes only sees surviving rows
    LakeDml.update(t, $"id" === 5L, Map("v" -> lit(1.0)), strategy = DmlStrategy.MergeOnRead)
    assert(t.read(None).count() === 380) // id=5 was already deleted → no match, no-op
  }

  test("MOR: update moves only matched rows; compact folds deletes away") {
    val t = wideTable()
    LakeDml.update(t, $"id" === 3L, Map("v" -> lit(333.0)), strategy = DmlStrategy.MergeOnRead)
    assert(t.latest.get.deleteDirs.nonEmpty)
    assert(t.read(None).filter($"id" === 3L).head.getDouble(2) === 333.0)
    assert(t.read(None).count() === 400)
    val compacted = t.compact(targetPartitions = 2)
    assert(compacted.deleteDirs.isEmpty) // folded into rewritten data
    assert(t.read(None).count() === 400)
    assert(t.read(None).filter($"id" === 3L).head.getDouble(2) === 333.0)
  }

  test("MOR: Auto picks merge-on-read for selective DML, copy-on-write for bulk") {
    val t = wideTable()
    // selective: 1 row of 400 across 8 files → MOR
    val s1 = LakeDml.delete(t, $"id" === 1L)
    assert(s1.op === "delete" && s1.deleteDirs.nonEmpty)
    // bulk: everything matches → every file touched → COW overwrite
    val s2 = LakeDml.delete(t, $"id" > 1L)
    assert(s2.op === "overwrite" && s2.deleteDirs.isEmpty)
    assert(t.read(None).count() === 0)
  }

  test("MOR: forced strategies produce the expected commit shapes") {
    val t = freshTable()
    val cow = LakeDml.update(t, $"id" === 1L, Map("v" -> lit(0.0)),
      strategy = DmlStrategy.CopyOnWrite)
    assert(cow.op === "overwrite" && cow.deleteDirs.isEmpty)
    val mor = LakeDml.update(t, $"id" === 2L, Map("v" -> lit(0.0)),
      strategy = DmlStrategy.MergeOnRead)
    assert(mor.op === "update" && mor.deleteDirs.size === 1)
    assert(t.read(None).orderBy($"id").select($"v").as[Double].collect().toSeq
      === Seq(0.0, 0.0, 30.0))
  }

  test("MOR: no-match DML is a no-op snapshot; no-match MERGE appends inserts only") {
    val t = wideTable()
    val v = t.latest.get.version
    assert(LakeDml.delete(t, $"id" === -1L).version === v)
    assert(LakeDml.update(t, $"id" === -1L, Map("v" -> lit(0.0))).version === v)
    val src = Seq((1001L, "x", 1.0)).toDF("id", "name", "v")
    val s = LakeDml.merge(t, src, keys = Seq("id"))
    assert(s.op === "append" && s.deleteDirs.isEmpty)
    assert(t.read(None).count() === 401)
  }

  test("Auto decision resolves from manifest stats: zero jobs on a provable no-match") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("dml-stats-").toString)
    val df = (1L to 400L).map(i => (i, s"name$i", i * 1.0)).toDF("id", "name", "v")
    cat.write(df.repartitionByRange(8, $"id").sortWithinPartitions($"id"), "ns.s",
      WriteMode.Overwrite, statsBy = Seq("id"))
    val t = cat.table("ns.s")
    val v0 = t.latest.get.version

    val jobs = TestSpark.jobs {
      // no file's [min,max] can contain the probe → decided on the
      // driver from manifest blobs, no Spark job, no new snapshot
      val s = LakeDml.delete(t, $"id" === 100000L)
      assert(s.version === v0)
    }
    assert(jobs.isEmpty, s"expected a zero-job stats decision, ran $jobs")

    // stats bound 1 of 8 range-disjoint files → merge-on-read without
    // the decision aggregate; then a spread predicate → copy-on-write
    val s1 = LakeDml.delete(t, $"id" <= 3L)
    assert(s1.op === "delete" && s1.deleteDirs.nonEmpty)
    val s2 = LakeDml.delete(t, $"id" >= 10L)
    assert(s2.op === "overwrite" && s2.deleteDirs.isEmpty)
    assert(t.read(None).select($"id").as[Long].collect().sorted === (4L to 9L).toArray)
  }

  test("merge Auto decision bounds touched files from source key ranges") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("dml-stats-m-").toString)
    val df = (1L to 400L).map(i => (i, s"name$i", i * 1.0)).toDF("id", "name", "v")
    cat.write(df.repartitionByRange(8, $"id").sortWithinPartitions($"id"), "ns.s",
      WriteMode.Overwrite, statsBy = Seq("id"))
    val t = cat.table("ns.s")
    // source keys span one file's range → stats pick merge-on-read
    val src = Seq((1L, "u1", -1.0), (2L, "u2", -2.0)).toDF("id", "name", "v")
    val s = LakeDml.merge(t, src, keys = Seq("id"))
    assert(s.op === "merge" && s.deleteDirs.nonEmpty)
    assert(t.read(None).filter($"id" <= 2L).select($"name").as[String].collect().sorted
      === Array("u1", "u2"))
  }

  test("merge with a null source key ignores key ranges (null-safe match survives)") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("dml-stats-n-").toString)
    val base = (1L to 400L).map(i => (Some(i), s"name$i", i * 1.0)) :+
      (Option.empty[Long], "n0", -5.0)
    cat.write(base.toDF("id", "name", "v").repartitionByRange(8, $"id")
        .sortWithinPartitions($"id"), "ns.s",
      WriteMode.Overwrite, statsBy = Seq("id"))
    val t = cat.table("ns.s")
    // a null source key matches the null target key through the
    // null-safe join, but min/max ranges can't see it: if the range
    // bound [100000,100000] were trusted, the decision would claim
    // zero matches and the null-key UPDATE would be silently dropped
    val src = Seq((Option.empty[Long], "n1", -6.0), (Some(100000L), "new", 1.0))
      .toDF("id", "name", "v")
    LakeDml.merge(t, src, keys = Seq("id"))
    val got = t.read(None).filter($"id".isNull || $"id" === 100000L)
      .select($"name").as[String].collect().sorted
    assert(got === Array("n1", "new"))
  }

  test("MOR: works on hidden-partitioned tables; expiry reclaims delete dirs") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("dml-mor-hp-").toString)
    val df = Seq(
      (1L, "2024-01-01 10:00:00", 10.0), (2L, "2024-01-02 10:00:00", 20.0),
      (3L, "2024-01-02 11:00:00", 30.0), (4L, "2024-01-03 10:00:00", 40.0))
      .toDF("id", "s", "v").select($"id", to_timestamp($"s").as("ts"), $"v")
    cat.write(df, "ns.hp", WriteMode.Overwrite, partitionBy = Seq("days(ts)"))
    val t = cat.table("ns.hp")
    val snap = LakeDml.update(t, $"id" === 2L, Map("v" -> lit(99.0)),
      strategy = DmlStrategy.MergeOnRead)
    assert(snap.deleteDirs.size === 1)
    assert(t.read(None).columns.toSeq === Seq("id", "ts", "v"))
    assert(t.read(None).filter($"id" === 2L).head.getDouble(2) === 99.0)
    assert(t.read(None).count() === 4)
    // compact folds, then expiry drops the MOR snapshot's delete dir
    t.compact(1)
    val (manifests, dirs) = t.expireSnapshots(retainLast = 1)
    assert(manifests === 2)
    assert(dirs >= 2) // v1 data dir + v2 delete dir (+ v2's appended dir)
    assert(!Files.isDirectory(t.root.resolve(snap.deleteDirs.head)))
    assert(t.read(None).count() === 4)
  }

  test("merge pairs null-key rows instead of deleting them") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("dml-null-").toString)
    cat.write(
      Seq((Option(1L), "a"), (Option.empty[Long], "nullkey")).toDF("id", "name"),
      "ns.t", WriteMode.Overwrite)
    val t = cat.table("ns.t")
    val src = Seq((Option.empty[Long], "updated")).toDF("id", "name")
    LakeDml.merge(t, src, keys = Seq("id"), insertNotMatched = false)
    val rows = t.read(None).orderBy($"name").collect()
    // null-key target row was MATCHED (null-safe join) and updated, not dropped
    assert(rows.length === 2)
    assert(rows.map(_.getString(1)).toSeq === Seq("a", "updated"))
  }

  test("rewrite_position_deletes folds delete dirs; data untouched; append feed unaffected") {
    val t = wideTable()
    LakeDml.delete(t, $"id" <= 5L, strategy = DmlStrategy.MergeOnRead)
    LakeDml.delete(t, $"id" >= 6L && $"id" <= 8L, strategy = DmlStrategy.MergeOnRead)
    LakeDml.delete(t, $"id" > 395L, strategy = DmlStrategy.MergeOnRead)
    assert(t.latest.get.deleteDirs.size === 3)
    val before = dataFiles(t)
    val snap = t.rewritePositionDeletes()
    assert(snap.op === "rewrite-deletes" && snap.deleteDirs.size === 1)
    assert(dataFiles(t) === before) // zero data churn
    assert(t.read(None).select($"id").as[Long].collect().sorted === (9L to 395L).toArray)
    val folded = spark.read.parquet(t.location(snap.deleteDirs.head))
    assert(folded.count() === folded.distinct().count() && folded.count() === 13)
    // metadata-safe for incremental walks: no rewrite exception
    assert(t.appendedDirs(snap.version - 1, snap.version, skipRewrites = false).isEmpty)
    // single delete dir → calling again is a no-op, not a new commit
    assert(t.rewritePositionDeletes().version === snap.version)
    // expiry reclaims the three folded-away delete dirs
    t.expireSnapshots(retainLast = 1)
    import scala.jdk.CollectionConverters._
    val liveDeleteDirs = Files.list(t.root.resolve("deletes")).iterator().asScala.size
    assert(liveDeleteDirs === 1)
  }
}
