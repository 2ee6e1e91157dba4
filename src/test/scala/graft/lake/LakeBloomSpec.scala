package graft.lake

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Bloom-filter file skipping: equality probes on a declared bloom
  * column drop files min/max ranges cannot — the high-cardinality
  * UNSORTED column case (every file's range spans the whole domain, so
  * range stats keep everything; the parquet footer blooms say
  * "definitely not here" per file).
  */
class LakeBloomSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

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

  /** 8 files; emails hash-scattered so every file's [min, max] spans
    * ~the whole domain — range stats can prove nothing for an equality
    * probe.
    */
  private def unsortedTable() = {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("bloom-spec-").toString)
    val df = spark.range(0, 4000)
      .select($"id", concat(lit("user"), $"id", lit("@example.com")).as("email"),
        ($"id" % 97).cast("double").as("v"))
      .repartition(8) // hash-scatter: unsorted, overlapping ranges
    cat.write(df, "ns.u", WriteMode.Overwrite,
      statsBy = Seq("email"), bloomBy = Seq("email"))
    cat.table("ns.u")
  }

  test("equality probe on an unsorted high-cardinality column skips files ranges cannot") {
    val t = unsortedTable()
    // range stats alone keep all 8 files (every range straddles the probe)
    val probe = "user2024@example.com"
    val got = t.scan(Seq(LakePredicate.EqualTo("email", probe)))
    assert(scannedFiles(got) === 1L, "bloom must narrow the scan to the owning file")
    assert(got.select($"id").as[Long].head() === 2024L)
    // absent value: every file's bloom says definitely-not-here
    val none = t.scan(Seq(LakePredicate.EqualTo("email", "ghost@example.com")))
    assert(scannedFiles(none) === 0L)
    assert(none.count() === 0L)
  }

  test("IN probes keep a file when ANY value may be present; appends inherit blooms") {
    val t = unsortedTable()
    t.write(spark.range(4000, 4500)
      .select($"id", concat(lit("user"), $"id", lit("@example.com")).as("email"),
        ($"id" % 97).cast("double").as("v")).repartition(2),
      WriteMode.Append) // inherits bloomCols: new files carry blooms too
    val got = t.scan(Seq(LakePredicate.In("email",
      Seq("user10@example.com", "user4100@example.com"))))
    assert(got.select($"id").as[Long].collect().sorted === Array(10L, 4100L))
    assert(scannedFiles(got) <= 2L, "one owning file per probed value")
  }

  test("bloom pruning stays conservative: bloom-less files and non-bloom columns untouched") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("bloom-cons-").toString)
    val df = spark.range(0, 100)
      .select($"id", concat(lit("u"), $"id").as("email"))
    cat.write(df.repartition(4), "ns.plain", WriteMode.Overwrite) // no blooms declared
    val t = cat.table("ns.plain")
    val got = t.scan(Seq(LakePredicate.EqualTo("email", "u42")))
    assert(got.select($"id").as[Long].collect() === Array(42L)) // correct, just unpruned
    // declaring blooms later re-arms skipping from the next write on
    t.write(df.repartition(4), WriteMode.Overwrite, bloomBy = Seq("email"))
    val pruned = t.scan(Seq(LakePredicate.EqualTo("email", "u42")))
    assert(pruned.select($"id").as[Long].collect() === Array(42L))
    assert(scannedFiles(pruned) === 1L)
  }

  test("copy-on-write DML rewrite keeps the bloom contract armed") {
    val t = unsortedTable()
    LakeDml.update(t, $"v" >= 0.0, Map("v" -> ($"v" + 1.0))) // bulk COW rewrite
    val got = t.scan(Seq(LakePredicate.EqualTo("email", "user2024@example.com")))
    assert(got.select($"id").as[Long].head() === 2024L)
    val total = t.latest.get.dirs.map(d =>
      t.io.countFiles(t.loc(d), ".parquet")).sum
    assert(scannedFiles(got) < total, "rewrite must re-enable blooms via inheritance")
  }

  // ---- the bloom contract: right-sized blooms, one read per bloom ----

  private def footer(file: org.apache.hadoop.fs.Path) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      file, spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter finally r.close()
  }

  /** Serialized bloom bytes of `col`, one entry per row group. */
  private def bloomLengths(file: org.apache.hadoop.fs.Path, col: String): Seq[Int] = {
    import scala.jdk.CollectionConverters._
    footer(file).getBlocks.asScala.toSeq.map(_.getColumns.asScala
      .find(_.getPath.toDotString == col).get.getBloomFilterLength)
  }

  private def parquetFiles(t: LakeTable, dir: String): Seq[org.apache.hadoop.fs.Path] =
    t.io.fs.listStatus(t.loc(dir)).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)

  private def emails(lo: Long, hi: Long) = spark.range(lo, hi)
    .select($"id", concat(lit("user"), $"id", lit("@example.com")).as("email"))

  /** Runs `body` with parquet cutting row groups at ~1 KiB. */
  private def smallRowGroups[A](body: => A): A = {
    spark.conf.set("parquet.block.size", "1024")
    try body finally spark.conf.unset("parquet.block.size")
  }

  /** The pre-right-sizing probe formula, kept as the reference: any
    * value, any row group, re-reading the row group's bloom per value.
    */
  private def perValueMayContain(t: LakeTable, file: org.apache.hadoop.fs.Path,
                                 probes: Seq[(String, Seq[Any])]): Boolean = {
    import scala.jdk.CollectionConverters._
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, t.io.fs.getConf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        probes.forall { case (c, vs) =>
          vs.exists { v =>
            blocks.isEmpty || blocks.exists { b =>
              b.getColumns.asScala.find(_.getPath.toDotString == c) match {
                case None => true
                case Some(cc) =>
                  val bf = reader.getBloomFilterDataReader(b).readBloomFilter(cc)
                  if (bf == null) true
                  else FileStats.bloomHash(bf, cc, v) match {
                    case Some(h) => bf.findHash(h)
                    case None    => true
                  }
              }
            }
          }
        }
      } finally reader.close()
    } catch { case _: Exception => true }
  }

  test("a bloom is sized to its file's distinct values, not 1 MiB") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("bloom-size-").toString)
    cat.write(emails(0, 500).coalesce(1), "ns.s", WriteMode.Overwrite, bloomBy = Seq("email"))
    val t = cat.table("ns.s")
    val Seq(file) = parquetFiles(t, t.latest.get.dirs.head)
    val Seq(len) = bloomLengths(file, "email")
    assert(len > 0, "the declared bloom must still be written")
    assert(len <= 8 * 1024, s"500 distinct keys need a small bloom, got $len bytes")
    val got = t.scan(Seq(LakePredicate.EqualTo("email", "user321@example.com")))
    assert(got.select($"id").as[Long].collect() === Array(321L))
    assert(scannedFiles(t.scan(Seq(LakePredicate.EqualTo("email", "ghost@example.com")))) === 0L)
  }

  test("multi-row-group file: an IN keeps it for a value in the last row group only") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("bloom-rg-").toString)
    smallRowGroups {
      cat.write(emails(0, 2000).coalesce(1), "ns.rg", WriteMode.Overwrite, bloomBy = Seq("email"))
    }
    val t = cat.table("ns.rg")
    val dir = t.latest.get.dirs.head
    val Seq(file) = parquetFiles(t, dir)
    import scala.jdk.CollectionConverters._
    val blocks = footer(file).getBlocks.asScala.toSeq
    assert(blocks.size >= 2, s"expected several row groups, got ${blocks.size}")
    // rows keep their order through coalesce(1): the last id is in the
    // last row group and in no other
    val last = "user1999@example.com"
    assert(blocks.map(_.getRowCount).sum === 2000L)
    val lastStats = blocks.last.getColumns.asScala.find(_.getPath.toDotString == "email").get
      .getStatistics
    assert(lastStats.minAsString <= last && last <= lastStats.maxAsString)
    val absent = (0 until 20).map(i => s"ghost$i@example.com")
    val rel = Seq(file.getName)
    assert(FileStats.bloomSurviving(t.io, t.loc(dir), rel,
      Seq("email" -> (absent :+ last))) === rel)
    assert(FileStats.bloomSurviving(t.io, t.loc(dir), rel, Seq("email" -> absent)) === Nil)
    val got = t.scan(Seq(LakePredicate.In("email", absent :+ last)))
    assert(got.select($"id").as[Long].collect() === Array(1999L))
    assert(scannedFiles(t.scan(Seq(LakePredicate.In("email", absent)))) === 0L)
  }

  test("a table mixing legacy 1 MiB-bloom files and right-sized ones prunes both") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("bloom-mix-").toString)
    cat.write(emails(0, 400).repartition(2), "ns.mix", WriteMode.Overwrite, bloomBy = Seq("email"))
    val t = cat.table("ns.mix")
    // a legacy dir: blooms enabled without adaptive sizing, as writes
    // used to configure them
    val legacy = Files.createTempDirectory("bloom-legacy-").resolve("src").toString
    emails(400, 800).repartition(2).write
      .option("parquet.bloom.filter.enabled#email", "true").parquet(legacy)
    val snap = t.addFiles(legacy)
    val Seq(sized, old) = snap.dirs.map(d => parquetFiles(t, d))
    assert(sized.flatMap(bloomLengths(_, "email")).forall(_ <= 8 * 1024))
    assert(old.flatMap(bloomLengths(_, "email")).forall(_ >= 512 * 1024),
      "the legacy dir must carry parquet's fixed-size blooms")
    for (id <- Seq(17L, 623L)) {
      val got = t.scan(Seq(LakePredicate.EqualTo("email", s"user$id@example.com")))
      assert(got.select($"id").as[Long].collect() === Array(id))
      assert(scannedFiles(got) === 1L, s"id $id: one owning file out of four")
    }
    val both = t.scan(Seq(LakePredicate.In("email",
      Seq("user17@example.com", "user623@example.com", "ghost@example.com"))))
    assert(both.select($"id").as[Long].collect().sorted === Array(17L, 623L))
    assert(scannedFiles(both) === 2L)
    assert(scannedFiles(t.scan(Seq(LakePredicate.EqualTo("email", "ghost@example.com")))) === 0L)
  }

  test("differential: bloomSurviving equals the per-value formula over random probes") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("bloom-diff-").toString)
    def frame(lo: Long, hi: Long) = emails(lo, hi).select($"id", $"email",
      ($"id" % 7).cast("double").as("v"), ($"id" % 13).cast("int").as("n"))
    smallRowGroups {
      cat.write(frame(0, 1200).repartition(3), "ns.d", WriteMode.Overwrite,
        bloomBy = Seq("email", "id"))
    }
    val t = cat.table("ns.d")
    cat.write(frame(1200, 1500).repartition(2), "ns.d", WriteMode.Append)
    val legacy = Files.createTempDirectory("bloom-diff-legacy-").resolve("src").toString
    frame(1500, 1700).repartition(2).write
      .option("parquet.bloom.filter.enabled#email", "true").parquet(legacy)
    t.addFiles(legacy)
    val dirs = t.latest.get.dirs
    val r = new scala.util.Random(4242)
    def value(col: String): Any = r.nextInt(10) match {
      case 0 => null
      case 1 => "not-a-number" // unhashable for numeric columns
      case 2 => 3000L + r.nextInt(1000) // absent id
      case 3 => s"ghost${r.nextInt(100)}@example.com"
      case _ =>
        val id = r.nextInt(1700).toLong
        col match {
          case "email" => s"user$id@example.com"
          case "id"    => if (r.nextBoolean()) id else Int.box(id.toInt)
          case "v"     => (id % 7).toDouble
          case _       => Int.box((id % 13).toInt)
        }
    }
    var dropped, kept = 0
    for (trial <- 0 until 60) {
      val cols = r.shuffle(Seq("email", "id", "v", "n", "absent")).take(1 + r.nextInt(3))
      // value lists are never empty: the planner drops an empty IN
      val probes = cols.map(c => c -> Seq.fill(1 + r.nextInt(if (r.nextBoolean()) 3 else 40))(value(c)))
      dirs.foreach { d =>
        val files = parquetFiles(t, d)
        val want = files.filter(perValueMayContain(t, _, probes)).map(_.getName)
        val got = FileStats.bloomSurviving(t.io, t.loc(d), files.map(_.getName), probes)
        assert(got === want, s"trial $trial dir $d probes $probes")
        kept += want.size
        dropped += files.size - want.size
      }
    }
    assert(kept > 0 && dropped > 0, s"probes must both keep and drop files ($kept/$dropped)")
  }
}
