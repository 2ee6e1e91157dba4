package graft.lake

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._
import graft.TestSpark

/** `countfs://`: local disk that counts the opens and listings of
  * paths under [[DeltaLogCountingFileSystem.watched]].
  */
class DeltaLogCountingFileSystem extends GraftTestFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path}
  import DeltaLogCountingFileSystem._
  override protected def scheme: String = "countfs"
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.toUri.getPath.startsWith(watched)) opens.incrementAndGet()
    super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    if (f.toUri.getPath.startsWith(watched)) lists.incrementAndGet()
    super.listStatus(f)
  }
}

object DeltaLogCountingFileSystem {
  @volatile var watched: String = "\u0000"
  val opens = new java.util.concurrent.atomic.AtomicInteger
  val lists = new java.util.concurrent.atomic.AtomicInteger
}

/** The Delta-format interop contract: tables written by [[DeltaExport]]
  * follow the public Delta transaction-log protocol closely enough that
  * [[DeltaTableReader]] — a from-scratch log-replay reader — resolves
  * versions, tombstones, partition values, stats, and checkpoints
  * exactly. Unsupported protocol surface (deletion vectors, column
  * mapping, unknown reader features) must fail loud, never read wrong.
  */
class DeltaInteropSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshLoc(): String =
    Files.createTempDirectory("delta-interop-").toString

  private def logDir(loc: String) = new java.io.File(loc, "_delta_log")

  test("roundtrip: append, append, overwrite — tombstones honored") {
    val loc = freshLoc()
    val exp = new DeltaExport(spark, loc)
    assert(exp.append(Seq((1L, "a"), (2L, "b")).toDF("id", "name")) === 0L)
    assert(exp.append(Seq((3L, "c")).toDF("id", "name")) === 1L)
    val rdr = new DeltaTableReader(spark, loc)
    assert(rdr.read().orderBy($"id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // overwrite tombstones both prior commits' files in one commit
    assert(exp.overwrite(Seq((9L, "z")).toDF("id", "name")) === 2L)
    assert(new DeltaTableReader(spark, loc).read()
      .as[(Long, String)].collect().toSeq === Seq((9L, "z")))
  }

  test("time travel by version and by timestamp") {
    val loc = freshLoc()
    val exp = new DeltaExport(spark, loc)
    exp.append(Seq((1L, "a")).toDF("id", "name"))
    exp.append(Seq((2L, "b")).toDF("id", "name"))
    exp.overwrite(Seq((3L, "c")).toDF("id", "name"))
    val rdr = new DeltaTableReader(spark, loc)
    assert(rdr.read(versionAsOf = Some(0L)).as[(Long, String)].collect().toSeq ===
      Seq((1L, "a")))
    assert(rdr.read(versionAsOf = Some(1L)).orderBy($"id")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
    // timestamp far in the future resolves to the latest commit
    assert(rdr.read(timestampAsOf = Some(System.currentTimeMillis() + 3600 * 1000L))
      .as[(Long, String)].collect().toSeq === Seq((3L, "c")))
  }

  test("partition values round-trip: nulls, spaces, '+', ':' and timestamps") {
    val loc = freshLoc()
    val exp = new DeltaExport(spark, loc)
    val df = Seq(
      (1L, "with space"), (2L, "a+b"), (3L, "x:y"), (4L, null.asInstanceOf[String]),
      (5L, "plain")).toDF("id", "seg")
    exp.append(df, partitionBy = Seq("seg"))
    val back = new DeltaTableReader(spark, loc).read()
      .orderBy($"id").as[(Long, String)].collect().toSeq
    assert(back === Seq((1L, "with space"), (2L, "a+b"), (3L, "x:y"),
      (4L, null), (5L, "plain")))
    // timestamp partition column: value re-enters typed through
    // partitionValues (the files do NOT contain the column)
    val loc2 = freshLoc()
    val exp2 = new DeltaExport(spark, loc2)
    val ts = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-01 10:30:00")),
      (2L, java.sql.Timestamp.valueOf("2024-03-02 00:00:00"))).toDF("id", "ts")
    exp2.append(ts, partitionBy = Seq("ts"))
    val back2 = new DeltaTableReader(spark, loc2).read()
      .orderBy($"id").collect().map(r => (r.getLong(0), r.getTimestamp(1).toString))
    assert(back2.toSeq === Seq((1L, "2024-03-01 10:30:00.0"), (2L, "2024-03-02 00:00:00.0")))
  }

  test("partition pruning reads only matching files") {
    val loc = freshLoc()
    val exp = new DeltaExport(spark, loc)
    val df = (1 to 40).map(i => (i.toLong, s"p${i % 4}", i * 1.0)).toDF("id", "part", "v")
    exp.append(df.repartition(4, $"part"), partitionBy = Seq("part"))
    val rdr = new DeltaTableReader(spark, loc)
    val all = rdr.read().inputFiles.length
    val one = rdr.read(filters = Seq(LakePredicate.EqualTo("part", "p2"))).inputFiles.length
    assert(all >= 4 && one < all)
    assert(rdr.read(filters = Seq(LakePredicate.EqualTo("part", "p2")))
      .agg(count(lit(1))).head.getLong(0) === 10L)
    // a null partition value satisfies no equality
    val none = rdr.read(filters = Seq(LakePredicate.EqualTo("part", "nope")))
    assert(none.count() === 0L)
  }

  test("add.stats min/max skip files the probe cannot hit") {
    val loc = freshLoc()
    val exp = new DeltaExport(spark, loc)
    // 4 separate appends with disjoint id ranges → 4+ files with
    // disjoint [min,max]
    for (b <- 0 until 4)
      exp.append((b * 100 to b * 100 + 99).map(i => (i.toLong, s"r$i"))
        .toDF("id", "name").coalesce(1))
    val rdr = new DeltaTableReader(spark, loc)
    val all = rdr.read().inputFiles.length
    val probed = rdr.read(filters = Seq(LakePredicate.EqualTo("id", 250L)))
    assert(probed.inputFiles.length === 1 && all >= 4)
    assert(probed.where($"id" === 250L).count() === 1L)
    // range probe: GtEq keeps only the upper files
    val upper = rdr.read(filters = Seq(LakePredicate.GtEq("id", 300L)))
    assert(upper.inputFiles.length === 1)
    // string stats prune too
    val sProbe = rdr.read(filters = Seq(LakePredicate.LtEq("name", "r0")))
    assert(sProbe.inputFiles.length < all)
  }

  test("add.stats re-type the footer ranges per column, byte for byte") {
    val loc = freshLoc()
    val df = Seq(
      (1L, 7, 0.1, BigDecimal("12.50"), "a", java.sql.Date.valueOf("2024-01-01"), true, "p"),
      (2L, -3, 2.5e10, BigDecimal("-0.01"), "é", java.sql.Date.valueOf("2023-12-31"), false, "p"),
      (3L, 0, -1.0, BigDecimal("3.00"), "😀", java.sql.Date.valueOf("2024-02-29"), true, "q"),
      (4L, 9, 1.0, null, null, null, false, "q"))
      .toDF("id", "n", "x", "dec", "s", "day", "flag", "part")
      .withColumn("dec", $"dec".cast("decimal(10,2)"))
    new DeltaExport(spark, loc).append(df.repartition(1), partitionBy = Seq("part"))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val stats = new String(Files.readAllBytes(
        new java.io.File(logDir(loc), f"${0}%020d.json").toPath), "UTF-8")
      .split('\n').toSeq.map(om.readTree).flatMap(n => Option(n.get("add")))
      .map(_.get("stats").asText).sorted
    // booleans carry no stats; null counts are exact
    assert(stats === Seq(
      """{"numRecords":2,"minValues":{"id":1,"n":-3,"x":0.1,"dec":-0.01,"s":"a",""" +
        """"day":"2023-12-31"},"maxValues":{"id":2,"n":7,"x":2.5E+10,"dec":12.50,"s":"é",""" +
        """"day":"2024-01-01"},"nullCount":{"id":0,"n":0,"x":0,"dec":0,"s":0,"day":0}}""",
      """{"numRecords":2,"minValues":{"id":3,"n":0,"x":-1.0,"dec":3.00,"s":"😀",""" +
        """"day":"2024-02-29"},"maxValues":{"id":4,"n":9,"x":1.0,"dec":3.00,"s":"😀",""" +
        """"day":"2024-02-29"},"nullCount":{"id":0,"n":0,"x":0,"dec":1,"s":1,"day":1}}"""))
  }

  test("a version replays once per reader: a second read opens no log file, lists the log once") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[DeltaLogCountingFileSystem].getName)
    val loc = freshLoc()
    val exp = new DeltaExport(spark, loc)
    exp.append(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    exp.append(Seq((3L, "c")).toDF("id", "name"))
    exp.checkpoint()
    exp.deleteRows($"id" === 2L)
    exp.append(Seq((4L, "d")).toDF("id", "name"))
    val rdr = new DeltaTableReader(spark, s"countfs:$loc")
    val first = rdr.read().orderBy($"id").as[(Long, String)].collect().toSeq
    assert(first === Seq((1L, "a"), (3L, "c"), (4L, "d")))
    import DeltaLogCountingFileSystem._
    watched = logDir(loc).toString
    try {
      opens.set(0); lists.set(0)
      val second = rdr.read().orderBy($"id").as[(Long, String)].collect().toSeq
      assert(second === first)
      assert(opens.get === 0, "a cached version opens no _delta_log file")
      assert(lists.get <= 1, s"_delta_log listed ${lists.get} times")
      // a version the reader has not replayed still replays
      assert(rdr.read(versionAsOf = Some(1L)).count() === 3L)
      assert(opens.get > 0)
      // an exporter keeps one reader: its second state() at the same
      // version (here under vacuum) opens no log file either
      val cexp = new DeltaExport(spark, s"countfs:$loc")
      assert(cexp.vacuum() === Nil)
      opens.set(0)
      assert(cexp.vacuum() === Nil)
      assert(opens.get === 0, "a second state() at one version replays nothing")
    } finally watched = "\u0000"
  }

  test("checkpoint bounds replay: log truncated to the tail still reads") {
    val loc = freshLoc()
    val exp = new DeltaExport(spark, loc)
    exp.append(Seq((1L, "a")).toDF("id", "name"))
    exp.append(Seq((2L, "b")).toDF("id", "name"))
    exp.overwrite(Seq((3L, "c"), (4L, "d")).toDF("id", "name"))
    assert(exp.checkpoint() === 2L)
    exp.append(Seq((5L, "e")).toDF("id", "name"))
    // delete the pre-checkpoint JSON commits: replay MUST come from the
    // checkpoint + tail, proving the checkpoint is actually used
    for (v <- 0L to 2L) {
      val f = new java.io.File(logDir(loc), f"$v%020d.json")
      assert(f.delete(), s"fixture: could not delete $f")
    }
    val back = new DeltaTableReader(spark, loc).read()
      .orderBy($"id").as[(Long, String)].collect().toSeq
    assert(back === Seq((3L, "c"), (4L, "d"), (5L, "e")))
    // time travel before the checkpoint is now impossible — loud, not wrong
    intercept[Exception] {
      new DeltaTableReader(spark, loc).read(versionAsOf = Some(1L)).collect()
    }
  }

  test("metadata-only partition delete tombstones whole partitions") {
    val loc = freshLoc()
    val exp = new DeltaExport(spark, loc)
    val df = (1 to 30).map(i => (i.toLong, s"p${i % 3}")).toDF("id", "part")
    exp.append(df, partitionBy = Seq("part"))
    exp.deleteWhere(Seq(LakePredicate.EqualTo("part", "p1")))
    val back = new DeltaTableReader(spark, loc).read()
    assert(back.where($"part" === "p1").count() === 0L)
    assert(back.count() === 20L)
    // non-partition predicate would need a data rewrite → refuse
    intercept[IllegalArgumentException] {
      exp.deleteWhere(Seq(LakePredicate.EqualTo("id", 5L)))
    }
  }

  /** A partition delete may only tombstone what it PROVES matches:
    * an undecidable predicate fails the call and writes no commit.
    */
  private def assertUndecidableDelete(df: org.apache.spark.sql.DataFrame, part: String,
                                      probe: LakePredicate): Unit = {
    val loc = freshLoc()
    val exp = new DeltaExport(spark, loc)
    exp.append(df, partitionBy = Seq(part))
    val before = new DeltaTableReader(spark, loc).read().count()
    val e = intercept[IllegalArgumentException](exp.deleteWhere(Seq(probe)))
    assert(e.getMessage.contains(s"'$part'"), e.getMessage)
    val rdr = new DeltaTableReader(spark, loc)
    assert(rdr.latestVersion === Some(0L))
    assert(rdr.read().count() === before)
  }

  test("partition delete: a null probe deletes nothing, a null partition value is kept") {
    val loc = freshLoc()
    val exp = new DeltaExport(spark, loc)
    val df = Seq((1L, Some(1)), (2L, Some(2)), (3L, None)).toDF("id", "p")
    exp.append(df, partitionBy = Seq("p"))
    exp.deleteWhere(Seq(LakePredicate.EqualTo("p", 1)))
    assert(new DeltaTableReader(spark, loc).read().orderBy($"id")
      .select($"id").as[Long].collect().toSeq === Seq(2L, 3L))
    assertUndecidableDelete(df, "p", LakePredicate.EqualTo("p", null))
  }

  test("partition delete: a Timestamp probe on a DATE partition is undecidable") {
    val df = Seq((1L, java.sql.Date.valueOf("2024-01-01")),
      (2L, java.sql.Date.valueOf("2024-01-02"))).toDF("id", "day")
    assertUndecidableDelete(df, "day",
      LakePredicate.EqualTo("day", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
  }

  test("partition delete: a non-numeric string on an INT partition is undecidable") {
    val df = Seq((1L, 1), (2L, 2)).toDF("id", "p")
    assertUndecidableDelete(df, "p", LakePredicate.EqualTo("p", "x"))
  }

  test("unsupported protocol surface fails loud") {
    val loc = freshLoc()
    val exp = new DeltaExport(spark, loc)
    exp.append(Seq((1L, "a")).toDF("id", "name"))
    // unknown reader feature (deletionVectors/timestampNtz ARE
    // supported; v2Checkpoint is not)
    val feat = """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,
      |"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}"""
      .stripMargin.replace("\n", "")
    java.nio.file.Files.writeString(
      new java.io.File(logDir(loc), f"${1L}%020d.json").toPath, feat)
    intercept[IllegalArgumentException] {
      new DeltaTableReader(spark, loc).read().collect()
    }
    // id-mode column mapping (parquet field-id resolution) is
    // unsupported everywhere — name mode has its own positive test
    val loc3 = freshLoc()
    new DeltaExport(spark, loc3).append(Seq((1L, "a")).toDF("id", "name"))
    val schema = Seq((1L, "a")).toDF("id", "name").schema.json
    val cm = ("""{"metaData":{"id":"m2","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(schema)},""" +
      """"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id"},"createdTime":0}}""")
    java.nio.file.Files.writeString(
      new java.io.File(logDir(loc3), f"${1L}%020d.json").toPath, cm)
    val exId = intercept[IllegalArgumentException] {
      new DeltaTableReader(spark, loc3).read().collect()
    }
    assert(exId.getMessage.contains("'id'"))
  }

  test("column mapping: name-mode physical names resolve to logical columns") {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val loc = freshLoc()
    val dir = new java.io.File(loc); dir.mkdirs(); logDir(loc).mkdirs()
    def cmMeta(pn: String, id: Int) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", pn)
      .putLong("delta.columnMapping.id", id).build()
    // logical schema with per-field physical names, nested included
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, cmMeta("col-aaa", 1)),
      StructField("info", StructType(Seq(
        StructField("score", DoubleType, nullable = true, cmMeta("col-ccc", 3)))),
        nullable = true, cmMeta("col-bbb", 2)),
      StructField("seg", StringType, nullable = true, cmMeta("col-ddd", 4))))
    // data files carry PHYSICAL names (the on-disk contract of name mode)
    def writePhys(rows: Seq[(Long, Double)], name: String): Long = {
      val tmp = Files.createTempDirectory("cm-part-").toString
      spark.createDataFrame(rows.map { case (i, s) =>
        org.apache.spark.sql.Row(i, org.apache.spark.sql.Row(s)) }.asJava,
        StructType(Seq(
          StructField("col-aaa", LongType),
          StructField("col-bbb", StructType(Seq(StructField("col-ccc", DoubleType)))))))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, name)
      Files.copy(part.toPath, dst.toPath)
      dst.length()
    }
    val s1 = writePhys(Seq((1L, 0.5), (2L, 0.7)), "f1.parquet")
    val s2 = writePhys(Seq((10L, 0.9)), "f2.parquet")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    // protocol v2/v5 (legacy column-mapping gate), physical-keyed
    // partitionValues and stats per the protocol's writer requirements
    val lines = Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      """{"metaData":{"id":"cmx","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${om.writeValueAsString(logical.json)},""" +
        """"partitionColumns":["seg"],""" +
        """"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"4"},""" +
        """"createdTime":0}}""",
      s"""{"add":{"path":"f1.parquet","partitionValues":{"col-ddd":"x"},"size":$s1,""" +
        """"modificationTime":0,"dataChange":true,""" +
        """"stats":"{\"numRecords\":2,\"minValues\":{\"col-aaa\":1},\"maxValues\":{\"col-aaa\":2}}"}}""",
      s"""{"add":{"path":"f2.parquet","partitionValues":{"col-ddd":"y"},"size":$s2,""" +
        """"modificationTime":0,"dataChange":true,""" +
        """"stats":"{\"numRecords\":1,\"minValues\":{\"col-aaa\":10},\"maxValues\":{\"col-aaa\":10}}"}}""")
    Files.writeString(new java.io.File(logDir(loc), f"${0L}%020d.json").toPath,
      lines.mkString("\n"))
    val rdr = new DeltaTableReader(spark, loc)
    // logical names out, nested struct field renamed, partitions typed
    assert(rdr.schema().fieldNames.toSeq === Seq("id", "info", "seg"))
    val got = rdr.read().selectExpr("id", "info.score", "seg")
      .as[(Long, Double, String)].collect().toSet
    assert(got === Set((1L, 0.5, "x"), (2L, 0.7, "x"), (10L, 0.9, "y")))
    // pruning speaks logical: partition filter and stats filter each
    // open exactly one file through their PHYSICAL log keys
    assert(rdr.read(filters = Seq(LakePredicate.EqualTo("seg", "y")))
      .inputFiles.length === 1)
    assert(rdr.read(filters = Seq(LakePredicate.GtEq("id", 5L)))
      .inputFiles.length === 1)
    // non-batch access paths must keep failing loud, never misread
    val exCdc = intercept[IllegalArgumentException] {
      rdr.readChanges(-1L).collect()
    }
    assert(exCdc.getMessage.contains("batch reads"))
  }

  test("a racer's commit is observed, never overwritten") {
    val loc = freshLoc()
    val exp = new DeltaExport(spark, loc)
    exp.append(Seq((1L, "a")).toDF("id", "name"))
    // a racer landed version 1 between our replay and our write: the
    // exporter re-reads state, so the next append lands at version 2
    // with the racer's commit intact (optimistic concurrency); the
    // low-level publish is put-if-absent, so a true same-version race
    // would lose loudly instead of clobbering
    val racer = """{"commitInfo":{"timestamp":0,"operation":"WRITE"}}"""
    java.nio.file.Files.writeString(
      new java.io.File(logDir(loc), f"${1L}%020d.json").toPath, racer)
    assert(exp.append(Seq((2L, "b")).toDF("id", "name")) === 2L)
    assert(java.nio.file.Files.readString(
      new java.io.File(logDir(loc), f"${1L}%020d.json").toPath).trim === racer)
    val back = new DeltaTableReader(spark, loc).read()
      .orderBy($"id").as[(Long, String)].collect().toSeq
    assert(back === Seq((1L, "a"), (2L, "b")))
  }

  test("fromLakeTable publishes a lake snapshot as Delta, identity partitions carried") {
    val loc = Files.createTempDirectory("delta-pub-").toString
    val warehouse = Files.createTempDirectory("delta-pub-wh-").toString
    val cat = new LakeCatalog(spark, warehouse)
    val df = (1 to 20).map(i => (i.toLong, s"n$i", s"g${i % 2}")).toDF("id", "name", "grp")
    cat.write(df, "bronze.pub", WriteMode.Overwrite, partitionBy = Seq("grp"))
    DeltaExport.fromLakeTable(cat.table("bronze.pub"), loc)
    val rdr = new DeltaTableReader(spark, loc)
    assert(rdr.schema().fieldNames.toSeq === Seq("id", "name", "grp"))
    assert(rdr.read().orderBy($"id").as[(Long, String, String)].collect().toSeq ===
      (1 to 20).map(i => (i.toLong, s"n$i", s"g${i % 2}")))
    // identity partition carried: a partition filter prunes files
    val all = rdr.read().inputFiles.length
    val pruned = rdr.read(filters = Seq(LakePredicate.EqualTo("grp", "g0"))).inputFiles.length
    assert(pruned < all)
  }

  test("readChanges: appends as inserts, tombstoned partitions as deletes") {
    val loc = freshLoc()
    val exp = new DeltaExport(spark, loc)
    val df = (1 to 20).map(i => (i.toLong, s"p${i % 2}")).toDF("id", "part")
    exp.append(df, partitionBy = Seq("part"))                      // v0
    exp.append(Seq((21L, "p0")).toDF("id", "part"))                // v1
    exp.deleteWhere(Seq(LakePredicate.EqualTo("part", "p1")))      // v2
    val rdr = new DeltaTableReader(spark, loc)
    val ch = rdr.readChanges(-1L)
    assert(ch.where($"_change_type" === "insert" && $"_commit_version" === 0L)
      .count() === 20L)
    assert(ch.where($"_change_type" === "insert" && $"_commit_version" === 1L)
      .select($"id").as[Long].collect().toSeq === Seq(21L))
    // deletes carry the partition value re-injected from the tombstone
    val dels = ch.where($"_change_type" === "delete")
    assert(dels.count() === 10L)
    assert(dels.where($"part" =!= "p1").count() === 0L)
    assert(dels.select($"_commit_version").distinct().as[Long].collect().toSeq === Seq(2L))
    // subrange: (0, 1] sees only the v1 insert
    val sub = rdr.readChanges(0L, Some(1L))
    assert(sub.count() === 1L)
  }

  test("readChanges: DV commits deliver position-diff deletes; drops deliver live rows only") {
    val loc = freshLoc()
    val exp = new DeltaExport(spark, loc)
    exp.append((1 to 20).map(i => (i.toLong, s"n$i")).toDF("id", "name").coalesce(1)) // v0
    exp.deleteRows($"id" <= 5L)                                                      // v1 (DV)
    exp.deleteRows($"id".isin(6L, 7L))                                               // v2 (DV grows)
    val rdr = new DeltaTableReader(spark, loc)
    val ch = rdr.readChanges(-1L)
    assert(ch.where($"_change_type" === "insert").count() === 20L)
    // v1 deletes exactly ids 1..5; v2 exactly 6,7 (position DIFF, not
    // the whole vector again)
    assert(ch.where($"_change_type" === "delete" && $"_commit_version" === 1L)
      .select($"id").as[Long].collect().sorted.toSeq === (1L to 5L))
    assert(ch.where($"_change_type" === "delete" && $"_commit_version" === 2L)
      .select($"id").as[Long].collect().sorted.toSeq === Seq(6L, 7L))
    // overwrite drops the DV'd file: delete rows = LIVE rows only
    // (masked rows were already delivered at v1/v2)
    exp.overwrite(Seq((100L, "z")).toDF("id", "name"))                               // v3
    val ch3 = rdr.readChanges(2L, Some(3L))
    assert(ch3.where($"_change_type" === "delete")
      .select($"id").as[Long].collect().sorted.toSeq === (8L to 20L))
    assert(ch3.where($"_change_type" === "insert")
      .select($"id").as[Long].collect().toSeq === Seq(100L))
  }

  test("readChanges: dataChange=false rewrites pass through silently") {
    val loc = freshLoc()
    val exp = new DeltaExport(spark, loc)
    exp.append(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    // hand-craft an OPTIMIZE-shaped commit: same rows rewritten into a
    // new file, add+remove both dataChange=false
    val rdr0 = new DeltaTableReader(spark, loc)
    val live = rdr0.read().inputFiles
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val rewritten = new java.io.File(loc, "data/rewrite")
    rewritten.mkdirs()
    rdr0.read().coalesce(1).write.mode("overwrite").parquet(rewritten.toString + "/x")
    val part = new java.io.File(rewritten, "x").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val addPath = "data/rewrite/x/" + part.getName
    val removes = live.map { f =>
      val rel = f.substring(f.indexOf("/data/") + 1)
      s"""{"remove":{"path":"$rel","deletionTimestamp":0,"dataChange":false}}"""
    }
    val add = s"""{"add":{"path":"$addPath","partitionValues":{},"size":${part.length},""" +
      s""""modificationTime":0,"dataChange":false}}"""
    java.nio.file.Files.writeString(
      new java.io.File(logDir(loc), f"${1L}%020d.json").toPath,
      (removes :+ add).mkString("\n"))
    val ch = new DeltaTableReader(spark, loc).readChanges(0L)
    assert(ch.count() === 0L, "an OPTIMIZE-shaped commit must deliver no changes")
    // and the table still reads the rewritten file
    assert(new DeltaTableReader(spark, loc).read().count() === 2L)
  }

  test("roaring bitmap array: encode/decode round-trips sparse, dense, and 64-bit sets") {
    val rnd = new scala.util.Random(42)
    // sparse (array containers), dense (>4096 in one container → bitmap),
    // and values above 2^32 (multiple high-key bitmaps)
    val sparse = Array.fill(500)(rnd.nextInt(1 << 20).toLong).distinct.sorted
    val dense = (0L until 6000L).map(_ * 2).toArray // 6000 in container 0 span
    val wide = Array(1L, 65537L, (1L << 32) + 5L, (1L << 33) + 70000L)
    for (set <- Seq(sparse, dense, wide, Array.empty[Long])) {
      val back = Roaring64.decode(Roaring64.encode(set))
      assert(back.toSeq === set.distinct.sorted.toSeq)
    }
    // run-container decode (encoder never emits runs; real files do):
    // hand-build one 32-bit stream with a single run [10, 14]
    val bb = java.nio.ByteBuffer.allocate(64).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(Roaring64.Magic); bb.putLong(1L); bb.putInt(0) // high key 0
    bb.putInt(12347 | (0 << 16)) // run cookie, 1 container
    bb.put(1.toByte)             // run flag bitset: container 0 is a run
    bb.putShort(0.toShort); bb.putShort(4.toShort) // key 0, card-1 = 4
    // n < 4 with runs → NO offset header
    bb.putShort(1.toShort)       // 1 run
    bb.putShort(10.toShort); bb.putShort(4.toShort) // start 10, len-1 4
    val runBytes = java.util.Arrays.copyOf(bb.array(), bb.position())
    assert(Roaring64.decode(runBytes).toSeq === Seq(10L, 11L, 12L, 13L, 14L))
    // z85 round-trip
    val bytes = Array.tabulate(16)(i => (i * 17 + 3).toByte)
    assert(DeltaDv.z85Decode(DeltaDv.z85Encode(bytes)).toSeq === bytes.toSeq)
  }

  test("deletion vectors: deleteRows hides rows without rewriting files; deletes compose") {
    val loc = freshLoc()
    val exp = new DeltaExport(spark, loc)
    exp.append((1 to 50).map(i => (i.toLong, s"n$i")).toDF("id", "name").coalesce(1))
    exp.append((51 to 100).map(i => (i.toLong, s"n$i")).toDF("id", "name").coalesce(1))
    val filesBefore = new DeltaTableReader(spark, loc).read().inputFiles.sorted
    exp.deleteRows($"id".between(10L, 60L))
    val rdr = new DeltaTableReader(spark, loc)
    val after = rdr.read()
    assert(after.count() === 49L)
    assert(after.where($"id".between(10L, 60L)).count() === 0L)
    // no data file rewritten — same physical files, rows masked
    assert(after.inputFiles.sorted.toSeq === filesBefore.toSeq)
    // a second delete on an already-vectored file UNIONS positions
    exp.deleteRows($"id" === 70L)
    val after2 = new DeltaTableReader(spark, loc).read()
    assert(after2.count() === 48L)
    assert(after2.where($"id".isin(10L, 55L, 70L)).count() === 0L)
    // time travel before the deletes still sees every row
    assert(new DeltaTableReader(spark, loc).read(versionAsOf = Some(1L)).count() === 100L)
    // checkpoint carries the descriptors: truncate the JSON history,
    // the DV must still apply from the checkpoint alone
    exp.checkpoint()
    exp.append(Seq((101L, "tail")).toDF("id", "name"))
    for (v <- 0L to 3L)
      assert(new java.io.File(logDir(loc), f"$v%020d.json").delete())
    val fromCp = new DeltaTableReader(spark, loc).read()
    assert(fromCp.count() === 49L)
    assert(fromCp.where($"id" === 30L).count() === 0L)
    // deleting nothing commits nothing
    val vBefore = new DeltaTableReader(spark, loc).latestVersion.get
    exp.deleteRows($"id" === 99999L)
    assert(new DeltaTableReader(spark, loc).latestVersion.get === vBefore)
  }

  test("deletion vectors: large-fraction predicate sweep builds bitmaps executor-side") {
    // the GDPR-sweep shape: a predicate matching ~half the table across
    // many files. Positions aggregate per file in executors; the driver
    // fetches one compressed bitmap per touched file (never the raw
    // coordinate set), so this scales to a 1%-of-100TB sweep.
    val loc = freshLoc()
    val exp = new DeltaExport(spark, loc)
    // 8 files x 2500 rows
    for (f <- 0 until 8)
      exp.append((0 until 2500).map(i => (f * 2500L + i, i % 7))
        .toDF("id", "grp").coalesce(1))
    val filesBefore = new DeltaTableReader(spark, loc).read().inputFiles.sorted
    assert(filesBefore.length === 8)
    exp.deleteRows($"id" % 2L === 0L) // 10000 rows across every file
    val after = new DeltaTableReader(spark, loc).read()
    assert(after.count() === 10000L)
    assert(after.where($"id" % 2L === 0L).count() === 0L)
    assert(after.inputFiles.sorted.toSeq === filesBefore.toSeq, "no file rewritten")
    // compose a second sweep over the already-vectored files
    exp.deleteRows($"grp" === 3L)
    val after2 = new DeltaTableReader(spark, loc).read()
    assert(after2.count() ===
      (0 until 20000).count(i => (i % 2500) % 7 != 3 && i % 2 != 0).toLong)
    assert(after2.where($"grp" === 3L || $"id" % 2L === 0L).count() === 0L)
  }

  test("deletion vectors: inline (z85) descriptors and partitioned tables") {
    val loc = freshLoc()
    val exp = new DeltaExport(spark, loc)
    exp.append((1 to 20).map(i => (i.toLong, s"p${i % 2}")).toDF("id", "part"),
      partitionBy = Seq("part"))
    exp.deleteRows($"id" <= 4L) // spans both partitions
    val back = new DeltaTableReader(spark, loc).read()
    assert(back.count() === 16L)
    assert(back.where($"part".isNull).count() === 0L) // partition values intact
    // hand-craft an inline DV on a fresh single-file table
    val loc2 = freshLoc()
    val exp2 = new DeltaExport(spark, loc2)
    exp2.append((0 to 9).map(i => (i.toLong, s"n$i")).toDF("id", "name").coalesce(1))
    val bitmap = Roaring64.encode(Array(0L, 3L, 7L)) // row indexes in the file
    // z85 needs a 4-byte multiple; the protocol pads inline DVs
    val padded = java.util.Arrays.copyOf(bitmap, (bitmap.length + 3) / 4 * 4)
    val rdr0 = new DeltaTableReader(spark, loc2)
    val addPath = rdr0.read().inputFiles.head
    val rel = addPath.substring(addPath.indexOf("/data/") + 1)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val line = (s"""{"remove":{"path":"$rel","deletionTimestamp":0,"dataChange":true}}""" + "\n" +
      s"""{"add":{"path":"$rel","partitionValues":{},"size":1,"modificationTime":0,""" +
      s""""dataChange":true,"deletionVector":{"storageType":"i",""" +
      s""""pathOrInlineDv":${om.writeValueAsString(DeltaDv.z85Encode(padded))},""" +
      s""""sizeInBytes":${padded.length},"cardinality":3}}}""")
    java.nio.file.Files.writeString(
      new java.io.File(logDir(loc2), f"${1L}%020d.json").toPath, line)
    val masked = new DeltaTableReader(spark, loc2).read()
    assert(masked.count() === 7L)
    assert(masked.select($"id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 4L, 5L, 6L, 8L, 9L))
    // vacuum passes over the inline vector (no file) and keeps the data
    assert(new DeltaExport(spark, loc2).vacuum(retentionMs = 0L) === Nil)
    assert(new DeltaTableReader(spark, loc2).read().count() === 7L)
  }

  test("vacuum deletes only unreferenced files past the horizon") {
    val loc = freshLoc()
    val exp = new DeltaExport(spark, loc)
    exp.append(Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1))
    exp.deleteRows($"id" === 1L) // a referenced deletion-vector file exists
    exp.overwrite(Seq((9L, "z")).toDF("id", "name").coalesce(1))
    // a generous horizon protects everything
    assert(new DeltaExport(spark, loc).vacuum() === Nil)
    // horizon 0: the tombstoned data file AND its now-unreferenced DV go
    val deleted = new DeltaExport(spark, loc).vacuum(retentionMs = 0L)
    assert(deleted.nonEmpty)
    assert(deleted.exists(_.endsWith(".parquet")))
    assert(deleted.exists(_.contains("deletion_vector_")))
    val rdr = new DeltaTableReader(spark, loc)
    assert(rdr.read().as[(Long, String)].collect().toSeq === Seq((9L, "z")))
    // time travel to vacuumed history fails (files are gone), as in Delta
    intercept[Exception] {
      rdr.read(versionAsOf = Some(0L)).collect()
    }
    // live files and referenced DVs survive a second zero-horizon pass
    val exp2 = new DeltaExport(spark, loc)
    exp2.deleteRows($"id" === 9L)
    val deleted2 = new DeltaExport(spark, loc).vacuum(retentionMs = 0L)
    assert(deleted2 === Nil)
    assert(new DeltaTableReader(spark, loc).read().count() === 0L)
  }

  test("schema and spec drift on append are rejected") {
    val loc = freshLoc()
    val exp = new DeltaExport(spark, loc)
    exp.append(Seq((1L, "a")).toDF("id", "name"))
    intercept[IllegalArgumentException] {
      exp.append(Seq((2L, "b", 1.0)).toDF("id", "name", "extra"))
    }
    intercept[IllegalArgumentException] {
      exp.append(Seq((2L, "b")).toDF("id", "name"), partitionBy = Seq("name"))
    }
  }
}
