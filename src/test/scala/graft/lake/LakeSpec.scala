package graft.lake

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class LakeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCat() =
    new LakeCatalog(spark, Files.createTempDirectory("lake-spec-").toString)

  private def sample() =
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "v")

  /** Files the executed plan actually scanned — partition pruning and
    * listFiles-level stats pruning are invisible to
    * `DataFrame.inputFiles` (it reads the unfiltered index), so the
    * scan metric is the ground truth.
    */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numFiles").value
    }.sum
  }

  test("overwrite then read latest") {
    val cat = freshCat()
    cat.write(sample(), "ns.t", WriteMode.Overwrite)
    assert(cat.read("ns.t").count() === 3)
    cat.write(sample().filter($"id" <= 1), "ns.t", WriteMode.Overwrite)
    assert(cat.read("ns.t").count() === 1)
  }

  test("append accumulates; history versions monotonic") {
    val cat = freshCat()
    cat.write(sample(), "ns.t", WriteMode.Overwrite)
    cat.write(sample(), "ns.t", WriteMode.Append)
    cat.write(sample(), "ns.t", WriteMode.Append)
    assert(cat.read("ns.t").count() === 9)
    assert(cat.table("ns.t").history.map(_.version) === Seq(1L, 2L, 3L))
  }

  test("time travel reads old immutable snapshots") {
    val cat = freshCat()
    cat.write(sample(), "ns.t", WriteMode.Overwrite)
    cat.write(sample().withColumn("v", $"v" * 100), "ns.t", WriteMode.Overwrite)
    assert(cat.read("ns.t", Some(1L)).agg(sum($"v")).head.getDouble(0) === 60.0)
    assert(cat.read("ns.t").agg(sum($"v")).head.getDouble(0) === 6000.0)
  }

  test("snapshot isolation: a resolved reader survives a concurrent overwrite") {
    val cat = freshCat()
    cat.write(sample(), "ns.t", WriteMode.Overwrite)
    val readerAtV1 = cat.read("ns.t") // resolves v1's immutable file list now
    cat.write(sample().filter($"id" === 1L), "ns.t", WriteMode.Overwrite)
    assert(readerAtV1.count() === 3) // still sees v1, not the overwrite
    assert(cat.read("ns.t").count() === 1)
  }

  test("concurrent appends both land (optimistic claim + rebase)") {
    val cat = freshCat()
    cat.write(sample(), "ns.t", WriteMode.Overwrite)
    val threads = (1 to 4).map { i =>
      new Thread(() => cat.write(sample(), "ns.t", WriteMode.Append))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(cat.read("ns.t").count() === 15) // 3 + 4 appends × 3
    assert(cat.table("ns.t").history.map(_.version) === (1L to 5L))
  }

  test("compact folds commit dirs and preserves data") {
    val cat = freshCat()
    cat.write(sample().repartition(4), "ns.t", WriteMode.Overwrite)
    cat.write(sample().repartition(4), "ns.t", WriteMode.Append)
    assert(cat.table("ns.t").latest.get.dirs.size === 2)
    cat.table("ns.t").compact(targetPartitions = 1)
    val after = cat.table("ns.t").latest.get
    assert(after.dirs.size === 1)
    assert(after.op === "compact")
    assert(cat.read("ns.t").count() === 6)
    assert(cat.read("ns.t").agg(sum($"v")).head.getDouble(0) === 120.0)
  }

  test("sorted compaction clusters files by the sort key") {
    val cat = freshCat()
    val wide = spark.range(0, 1000).select($"id",
      (($"id" * 37) % 1000).as("k"), ($"id" % 7).cast("double").as("v"))
    cat.write(wide.repartition(8), "ns.s", WriteMode.Overwrite)
    cat.table("ns.s").compact(targetPartitions = 4, sortBy = Seq("k"))
    // data unchanged
    assert(cat.read("ns.s").count() === 1000)
    assert(cat.read("ns.s").agg(sum($"k")).head.getLong(0) ===
      wide.agg(sum($"k")).head.getLong(0))
    // per-file k-ranges are disjoint (range partition + in-file sort)
    val ranges = cat.read("ns.s")
      .groupBy(input_file_name().as("f"))
      .agg(min($"k").as("lo"), max($"k").as("hi"))
      .orderBy($"lo").collect()
    assert(ranges.length >= 2)
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(2) <= b.getLong(1),
        s"overlapping file ranges: $a vs $b")
      case _ =>
    }
  }

  test("zorder compaction bounds files in every dimension; lexicographic only in the first") {
    import graft.functions.ZOrderFunctions.zorder_code
    // unsigned lexicographic compare — Spark's BinaryType ordering
    def ult(a: Array[Byte], b: Array[Byte]): Boolean = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val x = a(i) & 0xff; val y = b(i) & 0xff
        if (x != y) return x < y
        i += 1
      }
      a.length < b.length
    }
    // Morton property on a small grid: fixing one dim, monotone in the other
    val grid = spark.range(0, 16).select(($"id" / 4).cast("long").as("x"), ($"id" % 4).as("y"))
    val codes = grid.select($"x", $"y", zorder_code($"x", $"y").as("z")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Array[Byte]](2))).toMap
    for (a <- 0L to 3L; b <- 0L until 3L) {
      assert(ult(codes((a, b)), codes((a, b + 1))), s"y-monotone at ($a,$b)")
      assert(ult(codes((b, a)), codes((b + 1, a))), s"x-monotone at ($b,$a)")
    }
    assert(ult(codes((0L, 0L)), codes((1L, 1L))))

    // 32×32 uniform grid → 4 files: z-order bounds BOTH dims per file;
    // lexicographic (x, y) gives x-stripes spanning the full y range
    val pts = spark.range(0, 1024).select(($"id" / 32).cast("long").as("x"), ($"id" % 32).as("y"))
    def fileRanges(cat: LakeCatalog, ident: String) =
      cat.read(ident).groupBy(input_file_name())
        .agg(min($"x").as("x0"), max($"x").as("x1"), min($"y").as("y0"), max($"y").as("y1"))
        .collect().map(r => (r.getLong(2) - r.getLong(1), r.getLong(4) - r.getLong(3)))
    val catZ = freshCat()
    catZ.write(pts.repartition(8), "ns.z", WriteMode.Overwrite)
    catZ.table("ns.z").compactZOrder(4, Seq("x", "y"))
    val zr = fileRanges(catZ, "ns.z")
    assert(zr.length >= 2)
    assert(zr.forall { case (xr, yr) => xr < 31 && yr < 31 },
      s"zorder files should bound both dims: ${zr.mkString(",")}")
    val catL = freshCat()
    catL.write(pts.repartition(8), "ns.l", WriteMode.Overwrite)
    catL.table("ns.l").compact(4, sortBy = Seq("x", "y"))
    val lr = fileRanges(catL, "ns.l")
    assert(lr.exists { case (_, yr) => yr === 31L },
      s"lexicographic files span full y: ${lr.mkString(",")}")
    // data preserved
    assert(catZ.read("ns.z").count() === 1024)
    assert(catZ.read("ns.z").agg(sum($"x") + sum($"y")).head.getLong(0) ===
      pts.agg(sum($"x") + sum($"y")).head.getLong(0))
  }

  test("expireSnapshots drops old versions and unreferenced dirs; latest survives") {
    val cat = freshCat()
    cat.write(sample(), "ns.e", WriteMode.Overwrite)            // v1
    cat.write(sample(), "ns.e", WriteMode.Append)               // v2 (refs v1 dir)
    cat.write(sample().filter($"id" === 1), "ns.e", WriteMode.Overwrite) // v3
    cat.write(sample(), "ns.e", WriteMode.Append)               // v4
    val t = cat.table("ns.e")
    val (manifests, dirs) = t.expireSnapshots(retainLast = 2)
    assert(manifests === 2)
    // v1's dir and v2's append dir are unreferenced by v3/v4 → both deleted
    assert(dirs === 2)
    assert(t.history.map(_.version) === Seq(3L, 4L))
    intercept[IllegalArgumentException](t.read(Some(1L)))
    assert(t.read(Some(3L)).count() === 1)
    assert(cat.read("ns.e").count() === 4) // v4 = v3 (1 row) + append (3)
    // idempotent
    assert(t.expireSnapshots(retainLast = 2) === ((0, 0)))
  }

  test("timestamp time travel: versionAt/readAsOf resolve the greatest version at-or-before") {
    val cat = freshCat()
    val v1 = cat.write(sample(), "ns.ts", WriteMode.Overwrite)
    val v2 = cat.write(sample().withColumn("v", $"v" * 10), "ns.ts", WriteMode.Overwrite)
    val t = cat.table("ns.ts")
    assert(v2.timestampMs > v1.timestampMs) // strictly monotonic even within one ms
    assert(t.versionAt(v1.timestampMs - 1) === None)
    assert(t.versionAt(v1.timestampMs) === Some(1L))
    assert(t.versionAt(v2.timestampMs - 1) === Some(1L))
    assert(t.versionAt(v2.timestampMs + 1000) === Some(2L))
    assert(t.readAsOf(v1.timestampMs).agg(sum($"v")).head.getDouble(0) === 60.0)
    assert(t.readAsOf(v2.timestampMs).agg(sum($"v")).head.getDouble(0) === 600.0)
    intercept[IllegalArgumentException](t.readAsOf(v1.timestampMs - 1))
  }

  test("expireSnapshotsOlderThan drops the time-expired prefix; latest always survives") {
    val cat = freshCat()
    val v1 = cat.write(sample(), "ns.et", WriteMode.Overwrite)
    val v2 = cat.write(sample(), "ns.et", WriteMode.Append)
    val v3 = cat.write(sample().filter($"id" === 1), "ns.et", WriteMode.Overwrite)
    val t = cat.table("ns.et")
    // cutoff between v2 and v3: v1+v2 expire, their dirs are dead
    val (manifests, dirs) = t.expireSnapshotsOlderThan(v3.timestampMs)
    assert(manifests === 2 && dirs === 2)
    assert(t.history.map(_.version) === Seq(3L))
    assert(cat.read("ns.et").count() === 1)
    // a cutoff far in the future still retains the latest snapshot
    assert(t.expireSnapshotsOlderThan(v3.timestampMs + 1000000) === ((0, 0)))
    assert(cat.read("ns.et").count() === 1)
    assert(v1.timestampMs < v2.timestampMs && v2.timestampMs < v3.timestampMs)
  }

  test("removeOrphanFiles deletes stale unreferenced dirs only") {
    val cat = freshCat()
    cat.write(sample(), "ns.o", WriteMode.Overwrite)
    val t = cat.table("ns.o")
    val orphan = t.root.resolve("data/deadbeef-orphan")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("junk.parquet"), "not parquet")
    // fresh orphan survives the grace period
    assert(t.removeOrphanFiles(graceMs = 60000) === 0)
    assert(Files.exists(orphan))
    // stale orphan goes; live dir stays
    assert(t.removeOrphanFiles(graceMs = 0) === 1)
    assert(!Files.exists(orphan))
    assert(cat.read("ns.o").count() === 3)
  }

  test("Hadoop-path roots: a scheme-qualified file:// URI works end-to-end") {
    val wh = Files.createTempDirectory("lake-uri-")
    // the warehouse addressed as a URI string, the way an s3a:// or
    // hdfs:// root would be — everything resolves through Hadoop
    val cat = new LakeCatalog(spark, wh.toUri.toString.stripSuffix("/"))
    cat.write(sample(), "ns.u", WriteMode.Overwrite)
    cat.write(sample(), "ns.u", WriteMode.Append)
    val t = cat.table("ns.u")
    assert(t.rootLocation.startsWith("file:"))
    assert(cat.read("ns.u").count() === 6)
    assert(t.history.map(_.version) === Seq(1L, 2L))
    // DML (incl. the MOR read path) through the URI root
    LakeDml.update(t, $"id" === 1L, Map("v" -> lit(0.0)), strategy = DmlStrategy.MergeOnRead)
    assert(t.read(None).filter($"v" === 0.0).count() === 2)
    t.compact(1)
    assert(t.read(None).count() === 6)
  }

  test("generic Hadoop CommitArbiter: full commit flow on the HDFS-shaped path") {
    sys.props("graft.lake.forceFsArbiter") = "true"
    try {
      val cat = freshCat()
      cat.write(sample(), "ns.fa", WriteMode.Overwrite)
      // concurrent appends still serialize through claim + rebase
      val threads = (1 to 4).map(_ => new Thread(() =>
        cat.write(sample(), "ns.fa", WriteMode.Append)))
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(cat.read("ns.fa").count() === 15)
      assert(cat.table("ns.fa").history.map(_.version) === (1L to 5L))
      cat.table("ns.fa").compact(1)
      assert(cat.read("ns.fa").count() === 15)
    } finally sys.props.remove("graft.lake.forceFsArbiter")
  }

  test("CommitArbiter primitives: claim is exclusive, publish refuses existing manifests") {
    val dir = Files.createTempDirectory("arb-")
    val hconf = spark.sessionState.newHadoopConf()
    val hdir = new org.apache.hadoop.fs.Path(dir.toUri)
    val io = new LakeIo(hdir.getFileSystem(hconf))
    for (arb <- Seq[CommitArbiter](new LocalCommitArbiter,
        new FsCommitArbiter(io))) {
      val claim = new org.apache.hadoop.fs.Path(hdir, s"c-${arb.getClass.getSimpleName}.claim")
      assert(arb.tryClaim(claim))
      assert(!arb.tryClaim(claim)) // second claim loses
      assert(arb.claimAgeMs(claim).exists(_ >= 0))
      val manifest = new org.apache.hadoop.fs.Path(hdir, s"m-${arb.getClass.getSimpleName}.json")
      assert(arb.publishIfAbsent(manifest, "{\"a\":1}"))
      assert(!arb.publishIfAbsent(manifest, "{\"a\":2}")) // no-replace
      assert(io.readString(manifest) === "{\"a\":1}")     // first write survives
      arb.releaseClaim(claim)
      assert(arb.claimAgeMs(claim).isEmpty)
    }
  }

  test("footer harvest of a many-file commit issues concurrent reads, not a serial driver loop") {
    val dir = Files.createTempDirectory("fanout-")
    val hconf = spark.sessionState.newHadoopConf()
    val hdir = new org.apache.hadoop.fs.Path(dir.toUri)
    val io = new LakeIo(hdir.getFileSystem(hconf))
    spark.range(0, 3200).select($"id", ($"id" % 7).cast("double").as("v"))
      .repartition(32).write.mode("overwrite").parquet(dir.toString)
    FileStats.peakFooterReads.set(0)
    val stats = FileStats.statsOf(Seq("id", "v"),
      FileStats.footerMeta(io, hdir, Seq("id", "v"), FileStats.listParquet(io, hdir)))
    assert(stats.isDefined)
    assert(stats.get.files.size === 32)
    // 32 submitted reads against a 16-thread pool must overlap
    assert(FileStats.peakFooterReads.get() > 1,
      s"footer harvest ran serially (peak=${FileStats.peakFooterReads.get()})")
    // fan-out changed the I/O schedule, not the answer: global range is
    // exact and every file is listed
    assert(stats.get.numericRange("id") ===
      Some((BigDecimal(0), BigDecimal(3199))))
    // row-count harvest rides the same pool
    FileStats.peakFooterReads.set(0)
    assert(FileStats.dirRowCount(io, hdir) === Some(3200L))
    assert(FileStats.peakFooterReads.get() > 1)
  }

  test("a zero-row file beside the data does not unbind footer ranges") {
    val dir = Files.createTempDirectory("empty-part-")
    val hdir = new org.apache.hadoop.fs.Path(dir.toUri)
    val io = new LakeIo(hdir.getFileSystem(spark.sessionState.newHadoopConf()))
    Seq((5L, "e"), (9L, "i")).toDF("id", "s").coalesce(1)
      .write.mode("overwrite").parquet(dir.toString)
    Seq.empty[(Long, String)].toDF("id", "s").coalesce(1)
      .write.mode("append").parquet(dir.toString)
    val rows = FileStats.dirFileRows(io, hdir).get
    assert(rows.size === 2 && rows.map(_._2).sorted === Seq(0L, 2L))
    assert(FileStats.dirColumnRanges(io, hdir, Seq("id", "s")) ===
      Map("id" -> (5L, 9L), "s" -> ("e", "i")))
    assert(FileStats.dirRowsAndRanges(io, hdir, Seq("id"))._1 === Some(2L))
  }

  test("metadata tables: files/partitions track live rows through MOR deletes") {
    val cat = freshCat()
    cat.write(sample().repartition(1), "ns.md", WriteMode.Overwrite)
    cat.write(sample().repartition(1), "ns.md", WriteMode.Append)
    val t = cat.table("ns.md")
    val f0 = t.files().collect()
    assert(f0.length === 2)
    assert(f0.map(_.getAs[Long]("record_count")).sum === 6)
    assert(f0.forall(_.getAs[Long]("size_bytes") > 0))
    assert(f0.forall(_.getAs[String]("partition") === ""))
    // MOR delete: files stay, live record counts drop
    LakeDml.delete(t, $"id" === 1L, strategy = DmlStrategy.MergeOnRead)
    val f1 = t.files().collect()
    assert(f1.length === 2)
    assert(f1.map(_.getAs[Long]("record_count")).sum === 4)
    // partitions aggregate; snapshots report the delete commit
    val p = t.partitionsTable().head
    assert(p.getAs[Long]("n_files") === 2 && p.getAs[Long]("n_rows") === 4)
    assert(t.snapshots.orderBy($"version").collect()
      .map(r => (r.getString(1), r.getAs[Int]("n_delete_dirs"))).toSeq
      === Seq(("overwrite", 0), ("append", 0), ("delete", 1)))
    // time travel: the pre-delete snapshot still reports 6 live rows
    assert(t.files(Some(2L)).collect().map(_.getAs[Long]("record_count")).sum === 6)
    // partitioned table: partition subpath is exposed
    cat.write(sample().repartition(1), "ns.mdp", WriteMode.Overwrite,
      partitionBy = Seq("name"))
    val fp = cat.table("ns.mdp").files().collect()
    assert(fp.map(_.getAs[String]("partition")).sorted.toSeq
      === Seq("name=a", "name=b", "name=c"))
  }

  test("metadata tables: files() counts live rows under escaped partition values") {
    // Spark writes `%` as `x%25y` on disk, which a per-row file path
    // reports as `x%2525y`: the live count must match both forms
    val t = new LakeTable(spark, Files.createTempDirectory("lake-spec-esc-").resolve("t"))
    t.write((1L to 20L).map(i => (i, if (i % 2 == 0) "a b" else "x%y")).toDF("id", "k")
      .repartition(1), WriteMode.Overwrite, partitionBy = Seq("k"))
    LakeDml.delete(t, $"id" === 3L, DmlStrategy.MergeOnRead)
    assert(t.read().count() === 19L)
    val f = t.files().collect()
    assert(f.map(_.getAs[String]("partition")).sorted.toSeq === Seq("k=a b", "k=x%25y"))
    assert(f.map(_.getAs[Long]("record_count")).sorted.toSeq === Seq(9L, 10L))
  }

  test("write(statsBy): scanning-fallback stats key files as footers do under escaped partition values") {
    import LakePredicate._
    // footers cannot bound the partition column, so the write scans for
    // its stats; a per-row file path reports `k=a%20b`, `k=x%2525y`
    val t = new LakeTable(spark, Files.createTempDirectory("lake-spec-esc-").resolve("t"))
    t.write((1L to 20L).map(i => (i, if (i % 2 == 0) "a b" else "x%y")).toDF("id", "k")
      .repartition(1), WriteMode.Overwrite, partitionBy = Seq("k"), statsBy = Seq("k", "id"))
    val snap = t.latest.get
    val stats = FileStats.dirStats(snap, 0, _ => true).get
    val keys = FileStats.decodeFileRows(snap.meta(FileStats.fileRowsKey(snap.dirs.head))).map(_._1)
    assert(stats.files.map(_._1).sorted === keys.sorted)
    assert(keys.map(_.takeWhile(_ != '/')).sorted === Seq("k=a b", "k=x%25y"))
    // ids of `k=x%y` top out at 19: its file is skipped
    val hit = t.scan(Seq(GtEq("id", 20L)))
    assert(scannedFiles(hit) === 1L)
    assert(hit.select($"id").as[Long].collect().toSeq === Seq(20L))
  }

  test("snapshots metadata table reflects history") {
    val cat = freshCat()
    cat.write(sample(), "ns.m", WriteMode.Overwrite)
    cat.write(sample(), "ns.m", WriteMode.Append)
    cat.table("ns.m").compact(1)
    val rows = cat.table("ns.m").snapshots
      .orderBy($"version").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(rows.map(_.getString(1)).toSeq === Seq("overwrite", "append", "compact"))
    assert(rows.map(_.getInt(3)).toSeq === Seq(1, 2, 1))
  }

  test("hidden partitioning: days(ts) — user schema clean, scan prunes dirs") {
    import LakePredicate._
    val cat = freshCat()
    val df = spark.range(0, 40).select($"id",
      to_timestamp(concat(lit("2024-01-0"), ($"id" % 4 + 1).cast("string"),
        lit(" 10:00:"), lpad(($"id" % 60).cast("string"), 2, "0"))).as("ts"),
      ($"id" % 7).cast("double").as("v"))
    cat.write(df, "ns.h", WriteMode.Overwrite, partitionBy = Seq("days(ts)"))
    val t = cat.table("ns.h")
    // user schema shows no derived columns
    assert(t.read(None).columns.toSeq === Seq("id", "ts", "v"))
    // scan: ts range filters data AND prunes partitions
    val from = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    val to = java.sql.Timestamp.valueOf("2024-01-03 23:59:59")
    val scanned = t.scan(Seq(GtEq("ts", from), LtEq("ts", to)))
    val want = t.read(None).where($"ts" >= from && $"ts" <= to)
      .orderBy($"id").collect().toSeq
    assert(scanned.orderBy($"id").collect().toSeq === want)
    assert(want.nonEmpty)
    scanned.collect()
    val plan = scanned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("_p_ts_day"), plan)
    // the derived column never leaks through scan either
    assert(scanned.columns.toSeq === Seq("id", "ts", "v"))
  }

  test("bucket and truncate transforms: probes route to the right partition") {
    import LakePredicate._
    val cat = freshCat()
    val df = Seq((1L, "alpha", 10), (2L, "alps", 20), (3L, "beta", 30), (4L, "gamma", 40))
      .toDF("id", "name", "qty")
    cat.write(df, "ns.b", WriteMode.Overwrite,
      partitionBy = Seq("bucket(4, id)", "truncate(3, name)"))
    val t = cat.table("ns.b")
    assert(t.read(None).columns.toSeq === Seq("id", "name", "qty"))
    // equality probe on the bucketed key — Int literal vs Long column
    // must still hash into the written bucket (cast-through-source-type)
    val hit = t.scan(Seq(EqualTo("id", 3)))
    assert(hit.select($"name").as[String].collect().toSeq === Seq("beta"))
    // string range projects through the prefix truncation
    val alp = t.scan(Seq(GtEq("name", "alp"), LtEq("name", "alz")))
    assert(alp.select($"id").as[Long].collect().sorted === Array(1L, 2L))
    // compaction preserves the hidden spec and data
    t.compact(1)
    assert(t.read(None).count() === 4)
    assert(t.scan(Seq(EqualTo("id", 3))).count() === 1)
  }

  test("append inherits the table's hidden spec; conflicting spec rejected") {
    import LakePredicate._
    val cat = freshCat()
    val df = Seq(("2024-01-01 10:00:00", 1L), ("2024-01-02 10:00:00", 2L))
      .toDF("s", "id").select(to_timestamp($"s").as("ts"), $"id")
    cat.write(df, "ns.ai", WriteMode.Overwrite, partitionBy = Seq("days(ts)"))
    // spec-less append (the streaming-sink / incremental-extract shape)
    cat.write(df, "ns.ai", WriteMode.Append)
    val t = cat.table("ns.ai")
    assert(t.latest.get.partitionBy === Seq("days(ts)"))
    assert(t.read(None).count() === 4)
    assert(t.scan(Seq(EqualTo("ts",
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))).count() === 2)
    // conflicting spec fails fast instead of bricking reads
    val err = intercept[IllegalArgumentException](
      cat.write(df, "ns.ai", WriteMode.Append, partitionBy = Seq("months(ts)")))
    assert(err.getMessage.contains("conflicts"))
  }

  test("zero-row snapshot of a hidden-partitioned table stays readable and scannable") {
    import LakePredicate._
    val cat = freshCat()
    val df = Seq(("2024-01-01 10:00:00", 1L))
      .toDF("s", "id").select(to_timestamp($"s").as("ts"), $"id")
    cat.write(df, "ns.z0", WriteMode.Overwrite, partitionBy = Seq("days(ts)"))
    val t = cat.table("ns.z0")
    LakeDml.delete(t, lit(true)) // delete everything → empty rewrite
    assert(t.read(None).count() === 0)
    assert(t.scan(Seq(GtEq("ts",
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))).count() === 0)
    // and appending after the empty snapshot works
    cat.write(df, "ns.z0", WriteMode.Append)
    assert(t.read(None).count() === 1)
    assert(t.scan(Seq(EqualTo("ts",
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))).count() === 1)
  }

  test("spec evolution: dirs written before a transform stay scannable (unpruned)") {
    import LakePredicate._
    val cat = freshCat()
    val df = Seq(("2024-01-01 10:00:00", 1L), ("2024-01-02 10:00:00", 2L))
      .toDF("s", "id").select(to_timestamp($"s").as("ts"), $"id")
    cat.write(df, "ns.ev", WriteMode.Overwrite) // unpartitioned v1
    cat.write(df, "ns.ev", WriteMode.Append, partitionBy = Seq("days(ts)")) // evolve
    val t = cat.table("ns.ev")
    assert(t.read(None).count() === 4)
    // predicate must match rows from BOTH the pre-spec dir (null
    // partition value → raw filter decides) and the partitioned dir
    val day1 = t.scan(Seq(LtEq("ts",
      java.sql.Timestamp.valueOf("2024-01-01 23:59:59"))))
    assert(day1.select($"id").as[Long].collect().sorted === Array(1L, 1L))
  }

  test("property: scan(preds) ≡ read().where(raw) across transforms and random bounds") {
    import LakePredicate._
    val r = new scala.util.Random(2026)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = (0 until 300).map { i =>
      val ts = new java.sql.Timestamp(base + r.nextLong() % (90L * 86400 * 1000))
      (i.toLong, ts, s"k${r.nextInt(40)}", r.nextInt(1000))
    }
    val df = rows.toDF("id", "ts", "name", "qty")
    val cat = freshCat()
    cat.write(df, "ns.prop", WriteMode.Overwrite,
      partitionBy = Seq("days(ts)", "bucket(8, name)", "truncate(100, qty)"))
    val t = cat.table("ns.prop")
    for (trial <- 0 until 8) {
      val tr = new scala.util.Random(7000 + trial)
      val lo = new java.sql.Timestamp(base + tr.nextInt(60) * 86400000L)
      val hi = new java.sql.Timestamp(lo.getTime + tr.nextInt(30) * 86400000L)
      val nm = s"k${tr.nextInt(40)}"
      val qlo = tr.nextInt(900)
      val preds = Seq(GtEq("ts", lo), LtEq("ts", hi), EqualTo("name", nm), GtEq("qty", qlo))
      val got = t.scan(preds).orderBy($"id").collect().toSeq
      val want = t.read(None)
        .where($"ts" >= lo && $"ts" <= hi && $"name" === nm && $"qty" >= qlo)
        .orderBy($"id").collect().toSeq
      assert(got === want, s"trial $trial: preds=$preds")

      // IN-list projection soundness: random multi-point probes on the
      // bucket-partitioned and truncate-partitioned columns
      val names = (0 until 3).map(_ => s"k${tr.nextInt(40)}").distinct
      val qs = (0 until 3).map(_ => tr.nextInt(1000)).distinct
      val inPreds = Seq(In("name", names), In("qty", qs))
      val gotIn = t.scan(inPreds).orderBy($"id").collect().toSeq
      val wantIn = t.read(None)
        .where($"name".isin(names: _*) && $"qty".isin(qs: _*))
        .orderBy($"id").collect().toSeq
      assert(gotIn === wantIn, s"trial $trial: inPreds=$inPreds")
    }
  }

  test("months transform groups days into one partition dir") {
    import LakePredicate._
    val cat = freshCat()
    val df = Seq(("2024-01-05 01:00:00", 1L), ("2024-01-25 01:00:00", 2L),
      ("2024-02-10 01:00:00", 3L))
      .toDF("s", "id").select(to_timestamp($"s").as("ts"), $"id")
    cat.write(df, "ns.m2", WriteMode.Overwrite, partitionBy = Seq("months(ts)"))
    val jan = cat.table("ns.m2")
      .scan(Seq(LtEq("ts", java.sql.Timestamp.valueOf("2024-01-31 23:59:59"))))
    assert(jan.select($"id").as[Long].collect().sorted === Array(1L, 2L))
  }

  test("days and months partition a DATE column: pruned scans match a plain filter") {
    import LakePredicate._
    val day0 = java.time.LocalDate.of(2024, 1, 1)
    def date(i: Int) = java.sql.Date.valueOf(day0.plusDays(i))
    val df = (0 until 150).map(i => (i.toLong, date(i % 75))).toDF("id", "d")
    val cat = freshCat()
    for ((spec, name) <- Seq("days(d)" -> "dd", "months(d)" -> "dm")) {
      cat.write(df, s"ns.$name", WriteMode.Overwrite, partitionBy = Seq(spec))
      val t = cat.table(s"ns.$name")
      val all = scannedFiles(t.read(None))
      val cases = Seq(
        Seq(GtEq("d", date(31)), LtEq("d", date(59))) -> ($"d" >= date(31) && $"d" <= date(59)),
        Seq(EqualTo("d", date(40))) -> ($"d" === date(40)),
        Seq(In("d", Seq(date(3), date(70)))) -> $"d".isin(date(3), date(70)))
      cases.foreach { case (preds, raw) =>
        val got = t.scan(preds)
        val want = t.read(None).where(raw).select($"id").as[Long].collect().sorted
        assert(want.nonEmpty)
        assert(got.select($"id").as[Long].collect().sorted === want, s"$spec $preds")
        assert(scannedFiles(got) < all, s"$spec $preds must prune partition dirs")
      }
    }
  }

  test("partitioned write recovers partition column and values") {
    val cat = freshCat()
    cat.write(sample(), "ns.p", WriteMode.Overwrite, partitionBy = Seq("name"))
    val got = cat.read("ns.p").filter($"name" === "b").select($"id", $"v").head
    assert(got.getLong(0) === 2L && got.getDouble(1) === 20.0)
  }

  test("bad identifiers rejected") {
    val cat = freshCat()
    intercept[IllegalArgumentException](cat.table("../escape"))
    intercept[IllegalArgumentException](cat.table(""))
  }

  test("orphaned claim is reclaimed after the lease horizon") {
    val cat = freshCat()
    cat.write(sample(), "ns.t", WriteMode.Overwrite)
    // simulate a writer that died between claim and publish
    val claims = cat.table("ns.t").root.resolve("_versions")
    Files.createFile(claims.resolve("v00000002.claim"))
    val prev = sys.props.put("graft.lake.staleClaimMs", "50")
    try {
      Thread.sleep(80) // age the orphan past the lease
      cat.write(sample(), "ns.t", WriteMode.Append) // must not deadlock
      assert(cat.read("ns.t").count() === 6)
      assert(cat.table("ns.t").latest.get.version === 2L)
    } finally prev match {
      case Some(v) => sys.props.put("graft.lake.staleClaimMs", v)
      case None => sys.props.remove("graft.lake.staleClaimMs")
    }
  }

  test("multi-commit read plans O(1) relations, not one per commit dir") {
    val cat = freshCat()
    cat.write(sample(), "ns.mc", WriteMode.Overwrite)
    (1 to 40).foreach(_ => cat.write(sample(), "ns.mc", WriteMode.Append))
    val t = cat.table("ns.mc")
    assert(t.latest.get.dirs.size === 41)
    val df = t.read(None)
    // one multi-path parquet relation for all 41 commit dirs — a
    // per-dir union would put 41 leaves (and 41 serial file listings)
    // in the plan and grow without bound under a streaming sink
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size === 1, s"expected one multi-path relation, got ${leaves.size}")
    assert(df.count() === 41 * 3)
    assert(df.agg(sum($"v")).head.getDouble(0) === 41 * 60.0)
  }

  test("partitioned multi-commit read: one hive relation + one bare relation, data exact") {
    import LakePredicate._
    val cat = freshCat()
    val df = Seq(("2024-01-01 10:00:00", 1L), ("2024-01-02 10:00:00", 2L))
      .toDF("s", "id").select(to_timestamp($"s").as("ts"), $"id")
    cat.write(df, "ns.mp", WriteMode.Overwrite) // pre-spec bare dir
    cat.write(df, "ns.mp", WriteMode.Append, partitionBy = Seq("days(ts)"))
    (1 to 10).foreach(_ => cat.write(df, "ns.mp", WriteMode.Append))
    cat.write(df.where(lit(false)), "ns.mp", WriteMode.Append) // zero-row commit dir
    val t = cat.table("ns.mp")
    assert(t.latest.get.dirs.size === 13)
    val r = t.read(None)
    // hive-partitioned dirs collapse into one relation; the pre-spec
    // and zero-row dirs (no _p_ subdirs) into a second, null-escaped
    val leaves = r.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size === 2, s"expected 2 grouped relations, got ${leaves.size}")
    assert(r.count() === 24)
    assert(r.columns.toSeq === Seq("ts", "id"))
    val day1 = t.scan(Seq(LtEq("ts",
      java.sql.Timestamp.valueOf("2024-01-01 23:59:59"))))
    assert(day1.select($"id").as[Long].collect().forall(_ === 1L))
    assert(day1.count() === 12)
  }

  test("manifest file stats: range scan on a z-ordered table skips files") {
    import LakePredicate._
    val cat = freshCat()
    val pts = spark.range(0, 4096).select(($"id" / 64).cast("long").as("x"),
      ($"id" % 64).as("y"), ($"id" % 13).cast("double").as("v"))
    cat.write(pts.repartition(8), "ns.fs", WriteMode.Overwrite)
    cat.table("ns.fs").compactZOrder(8, Seq("x", "y"))
    val t = cat.table("ns.fs")
    assert(t.latest.get.meta.keys.exists(_.startsWith("graft.stats:")))
    val all = t.read(None)
    // z-order bounds BOTH dims per file: a tight range on either
    // column must drop most files from the relation itself (no
    // footer ever opened for a skipped file)
    val byX = t.scan(Seq(GtEq("x", 0L), LtEq("x", 7L)))
    val byY = t.scan(Seq(GtEq("y", 0L), LtEq("y", 7L)))
    assert(all.inputFiles.length === 8)
    assert(byX.inputFiles.length < 8, s"x-range read ${byX.inputFiles.length} files")
    assert(byY.inputFiles.length < 8, s"y-range read ${byY.inputFiles.length} files")
    // pruning is sound: same rows as the unpruned filter
    assert(byX.orderBy($"x", $"y").collect().toSeq ===
      all.where($"x" >= 0 && $"x" <= 7).orderBy($"x", $"y").collect().toSeq)
    assert(byY.orderBy($"x", $"y").collect().toSeq ===
      all.where($"y" >= 0 && $"y" <= 7).orderBy($"x", $"y").collect().toSeq)
  }

  test("manifest file stats: sorted compaction + equality probe reads few files; appends auto-collect") {
    import LakePredicate._
    val cat = freshCat()
    val df = spark.range(0, 2000).select($"id", ($"id" % 97).cast("double").as("v"))
    cat.write(df.repartition(6), "ns.fe", WriteMode.Overwrite)
    cat.table("ns.fe").compact(targetPartitions = 5, sortBy = Seq("id"))
    val t = cat.table("ns.fe")
    val probe = t.scan(Seq(EqualTo("id", 1234L)))
    assert(probe.inputFiles.length === 1, s"expected 1 file, got ${probe.inputFiles.length}")
    assert(probe.select($"v").as[Double].head === (1234 % 97).toDouble)
    // an append AUTO-COLLECTS stats on the inherited stats-column set:
    // the compacted dir keeps its blob, the new dir gets its own, and
    // skipping keeps working with NO compaction in between
    val snap2 = cat.write(df.where($"id" < 5).repartition(1), "ns.fe", WriteMode.Append)
    assert(snap2.dirs.forall(d => snap2.meta.contains("graft.stats:" + d)),
      s"every dir should carry stats, got keys ${snap2.meta.keys.filter(_.startsWith("graft.stats"))}")
    // probe away from the appended [0,5) range: its dir is skipped too,
    // so the scan still reads exactly 1 of the 6 live files
    val probe2 = t.scan(Seq(EqualTo("id", 1234L)))
    assert(probe2.inputFiles.length === 1,
      s"append must not disarm skipping: read ${probe2.inputFiles.length} files")
    assert(probe2.count() === 1)
    // probe INTO the appended range: both covering files read, rows exact
    assert(t.scan(Seq(EqualTo("id", 3L))).count() === 2) // one per commit dir
    assert(t.read(None).count() === 2005)
    // a second append chains the inheritance without any explicit statsBy
    val snap3 = cat.write(df.where($"id" >= 1990).repartition(1), "ns.fe", WriteMode.Append)
    assert(snap3.dirs.forall(d => snap3.meta.contains("graft.stats:" + d)))
    assert(t.scan(Seq(EqualTo("id", 100L))).inputFiles.length === 1)
  }

  test("spec evolution: unpartitioned -> days(ts); both generations prune via their own layout") {
    import LakePredicate._
    val cat = freshCat()
    // generation 1: unpartitioned, 4 files sorted by ts with stats
    val g1 = spark.range(0, 400).select(
      to_timestamp(lit("2024-01-01 00:00:00")).cast("long").plus($"id" * 3600).cast("timestamp").as("ts"),
      $"id")
    cat.table("ns.se").write(g1.repartitionByRange(4, $"ts").sortWithinPartitions($"ts"),
      WriteMode.Overwrite, statsBy = Seq("ts"))
    val t = cat.table("ns.se")
    // evolve: future writes partition by days(ts)
    t.setPartitionSpec(Seq("days(ts)"))
    assert(t.latest.get.op === "set-spec")
    // generation 2: day-partitioned appends (hours 0..399 past Mar 1)
    val g2 = spark.range(400, 800).select(
      to_timestamp(lit("2024-03-01 00:00:00")).cast("long").plus(($"id" - 400) * 3600).cast("timestamp").as("ts"),
      $"id")
    cat.write(g2, "ns.se", WriteMode.Append)
    val snap = t.latest.get
    assert(snap.partitionBy === Seq("days(ts)"))
    assert(snap.dirSpec(0).isEmpty && snap.dirSpec(snap.dirs.size - 1) === Seq("days(ts)"))
    // full read sees both generations, user schema clean
    val all = t.read(None)
    assert(all.count() === 800)
    assert(all.columns.toSeq === Seq("ts", "id"))
    val totalFiles = scannedFiles(t.read(None))
    assert(t.read(None).inputFiles.count(!_.contains("_p_ts_day=")) === 4) // gen-1 files
    // a probe into generation 2: gen-2 prunes to the one day dir, and
    // gen-1's per-file ts stats (statsBy write) skip all 4 of its
    // files at the path level (disjoint ranges)
    val day = t.scan(Seq(
      GtEq("ts", java.sql.Timestamp.valueOf("2024-03-05 00:00:00")),
      LtEq("ts", java.sql.Timestamp.valueOf("2024-03-05 23:59:59"))))
    assert(day.count() === 24)
    assert(day.inputFiles.count(!_.contains("_p_ts_day=")) === 0,
      "gen-1 should be stats-skipped entirely")
    assert(scannedFiles(day) < totalFiles, s"${scannedFiles(day)} vs $totalFiles")
    // a probe into generation 1 file-skips: 1 of 4 gen-1 files; every
    // gen-2 day dir is partition-pruned (disjoint ranges) → the
    // executed plan reads exactly 1 file across both generations
    val early = t.scan(Seq(LtEq("ts", java.sql.Timestamp.valueOf("2024-01-03 00:00:00"))))
    assert(early.count() === 49)
    assert(scannedFiles(early) === 1,
      s"expected 1 scanned file, got ${scannedFiles(early)}")
    // results identical to the unpruned filter (soundness)
    assert(early.orderBy($"id").collect().toSeq ===
      all.where($"ts" <= "2024-01-03 00:00:00").orderBy($"id").collect().toSeq)
    // compact folds the generations back into ONE layout under the
    // current spec; data unchanged
    t.compact(4)
    assert(t.read(None).count() === 800)
    assert(t.latest.get.dirSpecs.isEmpty) // uniform again
    assert(t.read(None).inputFiles.forall(_.contains("_p_ts_day=")))
  }

  test("spec evolution: identity -> bucket transform; old identity dirs keep reading and pruning") {
    import LakePredicate._
    val cat = freshCat()
    val g1 = spark.range(0, 300).select(($"id" % 3).cast("int").as("region"), $"id")
    cat.write(g1, "ns.sid", WriteMode.Overwrite, partitionBy = Seq("region"))
    val t = cat.table("ns.sid")
    t.setPartitionSpec(Seq("bucket(4, id)"))
    val g2 = spark.range(300, 600).select(($"id" % 3).cast("int").as("region"), $"id")
    cat.write(g2, "ns.sid", WriteMode.Append)
    val all = t.read(None)
    assert(all.count() === 600)
    assert(all.columns.toSeq === Seq("region", "id"))
    // identity column restored for gen-1 rows (it lives in dir names)
    assert(all.where($"region".isNull).count() === 0)
    assert(all.groupBy($"region").count().count() === 3)
    val totalFiles = scannedFiles(t.read(None))
    // equality probe on the bucket source prunes gen-2 to one of four
    // buckets; gen-1 rows unaffected (null-escape keeps all its dirs)
    val probe = t.scan(Seq(EqualTo("id", 450L)))
    assert(probe.count() === 1)
    assert(scannedFiles(probe) < totalFiles,
      s"bucket pruning should drop gen-2 dirs: ${scannedFiles(probe)}/$totalFiles")
    // region probe still prunes gen-1's OLD identity dirs (1 of 3)
    val reg = t.scan(Seq(EqualTo("region", 1)))
    assert(reg.count() === 200)
    assert(scannedFiles(reg) < totalFiles,
      s"identity pruning should drop gen-1 dirs: ${scannedFiles(reg)}/$totalFiles")
  }

  test("spec evolution survives the manifest round-trip and DML") {
    val cat = freshCat()
    val df = spark.range(0, 100).select($"id", ($"id" % 10).cast("double").as("v"))
    cat.write(df, "ns.sdml", WriteMode.Overwrite)
    val t = cat.table("ns.sdml")
    t.setPartitionSpec(Seq("bucket(2, id)"))
    cat.write(spark.range(100, 200).select($"id", lit(0.5).as("v")), "ns.sdml", WriteMode.Append)
    // manifest round-trip preserves per-dir specs
    val reread = cat.table("ns.sdml").latest.get
    assert(reread.dirSpec(0).isEmpty && reread.dirSpec(1) === Seq("bucket(2, id)"))
    // DML across generations: MOR delete + CoW update both stay exact
    LakeDml.delete(t, $"id" === 50L || $"id" === 150L)
    assert(t.read(None).count() === 198)
    LakeDml.update(t, $"id" === 0L, Map("v" -> lit(9.9)), DmlStrategy.CopyOnWrite)
    val after = t.read(None)
    assert(after.count() === 198)
    assert(after.where($"id" === 0L).select($"v").as[Double].head === 9.9)
    // CoW rewrite landed under the CURRENT spec → uniform again
    assert(t.latest.get.dirSpecs.isEmpty)
    assert(t.read(None).inputFiles.forall(_.contains("_p_id_bucket=")))
  }

  test("file stats tolerate NaN/Infinity: no crash, NaN-stat files stay unprunable") {
    import LakePredicate._
    val cat = freshCat()
    val df = spark.range(0, 100).select($"id",
      when($"id" === 7, lit(Double.NaN))
        .when($"id" === 8, lit(Double.PositiveInfinity))
        .otherwise($"id".cast("double")).as("v"))
    cat.write(df.repartition(4), "ns.nan", WriteMode.Overwrite)
    cat.table("ns.nan").compact(4, sortBy = Seq("v")) // must not throw on NaN max
    val t = cat.table("ns.nan")
    assert(t.latest.get.meta.keys.exists(_.startsWith("graft.stats:")))
    val got = t.scan(Seq(GtEq("v", 90.0)))
    assert(got.where(!isnan($"v") && $"v" =!= Double.PositiveInfinity).count() === 10)
  }

  test("file stats compose with hidden partitioning: day-partitioned + z-ordered-within") {
    import LakePredicate._
    val cat = freshCat()
    // 4 day-blocks × a full 16×16 (x, y) grid each: partition by day,
    // z-order (x, y) within (both LONGS — a double dimension's
    // exponent bits would dominate the Morton interleave)
    val df = spark.range(0, 1024).select(
      to_timestamp(concat(lit("2024-01-0"), ($"id" / 256 + 1).cast("long").cast("string"),
        lit(" 10:00:00"))).as("ts"),
      (($"id" % 256) / 16).cast("long").as("x"), ($"id" % 16).as("y"))
    cat.write(df.repartition(8), "ns.pz", WriteMode.Overwrite, partitionBy = Seq("days(ts)"))
    cat.table("ns.pz").compactZOrder(8, Seq("x", "y"))
    val t = cat.table("ns.pz")
    assert(t.latest.get.meta.keys.exists(_.startsWith("graft.stats:")))
    // listFiles-level pruning is invisible to DataFrame.inputFiles
    // (it reads the unfiltered index) — read the scan's numFiles metric
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numFiles").value
      }.sum
    }
    val all = t.read(None)
    val totalFiles = scannedFiles(all)
    // partition pruning alone (one day)
    val oneDay = t.scan(Seq(
      GtEq("ts", java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
      LtEq("ts", java.sql.Timestamp.valueOf("2024-01-02 23:59:59"))))
    val oneDayFiles = scannedFiles(oneDay)
    assert(oneDayFiles < totalFiles)
    // file stats alone (x-range across all days)
    val xRange = t.scan(Seq(GtEq("x", 0L), LtEq("x", 3L)))
    val xRangeFiles = scannedFiles(xRange)
    assert(xRangeFiles < totalFiles, s"stats should skip files: $xRangeFiles/$totalFiles")
    // composed: both prune, results exact
    val both = t.scan(Seq(
      GtEq("ts", java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
      LtEq("ts", java.sql.Timestamp.valueOf("2024-01-02 23:59:59")),
      GtEq("x", 0L), LtEq("x", 3L)))
    assert(scannedFiles(both) <= math.min(oneDayFiles, xRangeFiles))
    val want = all.where($"ts" >= "2024-01-02 00:00:00" && $"ts" <= "2024-01-02 23:59:59"
      && $"x" >= 0 && $"x" <= 3).orderBy($"x", $"y").collect().toSeq
    assert(both.orderBy($"x", $"y").collect().toSeq === want)
    assert(want.nonEmpty)
  }

  test("write(statsBy) collects stats without compaction") {
    import LakePredicate._
    val cat = freshCat()
    val df = spark.range(0, 1000).select($"id", ($"id" * 3).as("k"))
    cat.table("ns.sb").write(df.repartitionByRange(4, $"id").sortWithinPartitions($"id"),
      WriteMode.Overwrite, statsBy = Seq("id"))
    val t = cat.table("ns.sb")
    assert(t.latest.get.meta.keys.exists(_.startsWith("graft.stats:")))
    val hit = t.scan(Seq(GtEq("id", 900L)))
    assert(hit.inputFiles.length === 1)
    assert(hit.count() === 100)
  }

  test("snapshot metadata round-trips through the manifest") {
    val cat = freshCat()
    val snap = cat.write(sample(), "ns.t", WriteMode.Overwrite,
      meta = Map("watermark_ms" -> "12345", "note" -> "x\"y"))
    assert(snap.meta("watermark_ms") === "12345")
    val reread = cat.table("ns.t").latest.get
    // engine-owned graft.* keys (field-id high-water mark) ride along
    assert(reread.meta.filterNot(_._1.startsWith("graft.")) ===
      Map("watermark_ms" -> "12345", "note" -> "x\"y"))
  }

  test("incremental read: appends in range, seed excluded, empty range empty") {
    val cat = freshCat()
    cat.write(sample(), "ns.inc", WriteMode.Overwrite)                       // v1 seed
    cat.write(sample().withColumn("id", $"id" + 10), "ns.inc", WriteMode.Append) // v2
    cat.write(sample().withColumn("id", $"id" + 20), "ns.inc", WriteMode.Append) // v3
    val t = cat.table("ns.inc")
    assert(t.readIncremental(fromVersion = 1).select("id").as[Long].collect().sorted
      === Seq(11L, 12L, 13L, 21L, 22L, 23L))
    // sub-range: only v3's rows
    assert(t.readIncremental(fromVersion = 2, toVersion = Some(3)).select("id")
      .as[Long].collect().sorted === Seq(21L, 22L, 23L))
    // empty range (caught up) delivers zero rows with the table schema
    val empty = t.readIncremental(fromVersion = 3)
    assert(empty.count() === 0 && empty.columns.toSeq === Seq("id", "name", "v"))
    // from version 0 includes the seeding overwrite
    assert(t.readIncremental(fromVersion = 0).count() === 9)
  }

  test("incremental read: rewrites fail loud, skipRewrites passes over them") {
    val cat = freshCat()
    cat.write(sample(), "ns.incr", WriteMode.Overwrite)                      // v1
    val t = cat.table("ns.incr")
    t.compact(targetPartitions = 1)                                          // v2 rewrite
    cat.write(sample().withColumn("id", $"id" + 10), "ns.incr", WriteMode.Append) // v3
    val e = intercept[RewriteCommitException](t.readIncremental(fromVersion = 1))
    assert(e.version === 2L && e.op === "compact")
    assert(t.readIncremental(fromVersion = 1, skipRewrites = true)
      .select("id").as[Long].collect().sorted === Seq(11L, 12L, 13L))
  }

  test("incremental read aligns old schema generations by field id") {
    val cat = freshCat()
    cat.write(sample(), "ns.ince", WriteMode.Overwrite)                      // v1 (id,name,v)
    val t = cat.table("ns.ince")
    t.renameColumn("name", "label")                                          // v2 metadata-only
    cat.write(Seq((10L, "x", 1.0)).toDF("id", "label", "v"), "ns.ince", WriteMode.Append) // v3
    val inc = t.readIncremental(fromVersion = 0)
    assert(inc.columns.toSeq === Seq("id", "label", "v"))
    // v1's dir was written under the old column name; field ids align it
    assert(inc.select("label").as[String].collect().sorted === Seq("a", "b", "c", "x"))
  }

  test("incremental read: hidden-partitioned dirs deliver; identity partitions reject") {
    val cat = freshCat()
    val days = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"))).toDF("id", "ts")
    cat.write(days, "ns.inch", WriteMode.Overwrite, partitionBy = Seq("days(ts)"))
    cat.write(days.withColumn("id", $"id" + 10), "ns.inch", WriteMode.Append)
    val t = cat.table("ns.inch")
    // hidden values live only in dir names, but they are derived — the
    // user columns are all in the files, so the delta reads fine
    assert(t.readIncremental(fromVersion = 1).select("id").as[Long].collect().sorted
      === Seq(11L, 12L))
    cat.write(sample(), "ns.incid", WriteMode.Overwrite, partitionBy = Seq("name"))
    val err = intercept[IllegalArgumentException](
      cat.table("ns.incid").readIncremental(fromVersion = 0))
    assert(err.getMessage.contains("identity partition"))
  }
}
