package graft.lake

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Pins the manifest every commit op publishes. Each op runs once on a
  * small table and its manifest, normalised (timestamps zeroed, dir
  * UUIDs named by position, other UUIDs and temp paths masked), must
  * equal the line recorded for it in `manifest-shapes.txt`. A refactor
  * of the commit path that changes any published byte beyond those
  * fails here. On a mismatch the actual shapes are written to
  * `target/manifest-shapes.actual.txt` for review.
  */
class ManifestShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Normalised manifest: dirs, delete dirs and equality-delete dirs
    * are named by their position (D0.., P0.., E0..) wherever they
    * appear; any other UUID (Spark part-file job ids) becomes `U`;
    * the given absolute roots become their labels.
    */
  private def shape(s: Snapshot, roots: Seq[(String, String)]): String = {
    val named = Seq(s.dirs -> "D", s.deleteDirs -> "P", s.eqDeleteDirs -> "E").flatMap {
      case (ds, tag) => ds.zipWithIndex.flatMap { case (d, i) =>
        Uuid.findFirstIn(d).map(_ -> s"$tag$i") }
    }.toMap
    def norm(x: String): String = {
      val rooted = roots.foldLeft(x) { case (acc, (r, label)) => acc.replace(r, label) }
      Uuid.replaceAllIn(rooted, m => named.getOrElse(m.matched, "U"))
    }
    Manifest.toJson(s.copy(
      timestampMs = 0L,
      dirs = s.dirs.map(norm),
      deleteDirs = s.deleteDirs.map(norm),
      eqDeletes = s.eqDeletes.map(norm),
      meta = s.meta.map { case (k, v) => norm(k) -> norm(v) }))
  }

  private def df(rows: (Long, String, Double)*) = rows.toDF("id", "name", "v").coalesce(1)
  private def rows(ids: Seq[Long]) = df(ids.map(i => (i, s"n$i", i.toDouble)): _*)

  test("every commit op publishes the recorded manifest shape") {
    val dir = Files.createTempDirectory("manifest-shape-")
    val t = new LakeTable(spark, dir.resolve("t"))
    val ext = dir.resolve("ext").toString
    rows(Seq(500L, 501L)).write.parquet(ext)
    val roots = Seq(
      new LakeTable(spark, Paths.get(ext)).rootLocation -> "<ext>",
      t.rootLocation -> "<src>")
    val got = Seq.newBuilder[(String, String)]
    def step(label: String)(op: => Snapshot): Snapshot = {
      val s = op
      got += label -> shape(s, roots)
      s
    }

    step("create")(t.create(rows(Seq(0L)).schema))
    val big = step("overwrite")(
      t.write(rows(1L to 40L), WriteMode.Overwrite, statsBy = Seq("id"), bloomBy = Seq("name")))
    step("append")(t.write(rows(Seq(100L, 101L)), WriteMode.Append))
    step("upsert")(t.upsert(df((1L, "a1", 1.5)), Seq("id")))
    step("mor-delete")(LakeDml.delete(t, col("id") === 2L, DmlStrategy.MergeOnRead))
    LakeDml.delete(t, col("id") === 3L, DmlStrategy.MergeOnRead)
    t.upsert(df((4L, "d1", 4.5)), Seq("id"))
    step("clone")(t.cloneTo(new LakeTable(spark, dir.resolve("c"))))
    step("rewrite-position-deletes")(t.rewritePositionDeletes())
    step("rewrite-equality-deletes")(t.rewriteEqualityDeletes())
    // interleaved so each declaration is carried by the other's commit
    step("add-check")(t.addCheckConstraint("v_nonneg", "v >= 0"))
    step("set-autocompact")(t.setAutoCompact(1000))
    step("drop-check")(t.dropCheckConstraint("v_nonneg"))
    step("clear-autocompact")(t.setAutoCompact(0))
    step("add-files")(t.addFiles(ext))
    t.write(rows(Seq(2000L, 2001L)), WriteMode.Append)
    step("metadata-delete")(LakeDml.delete(t, col("id") >= 2000L))
    t.write(rows(Seq(3000L)), WriteMode.Append)
    t.write(rows(Seq(3002L)), WriteMode.Append)
    step("compact-where")(t.compactWhere(Seq(LakePredicate.GtEq("id", 3000L))))
    val bigBytes = t.latest.get.meta(FileStats.bytesKey(big.dirs.head)).toLong
    val packed = step("binpack")(t.compactBinPack(bigBytes - 1))
    step("compact")(t.compact(1))
    step("rename")(t.renameColumn("name", "label"))
    step("drop")(t.dropColumn("label"))
    step("set-spec")(t.setPartitionSpec(Seq("bucket(2, id)")))
    step("append-new-spec")(t.write(Seq((5000L, 5.0)).toDF("id", "v").coalesce(1), WriteMode.Append))
    step("rollback")(t.rollbackTo(packed.version))
    t.createBranch("audit")
    step("branch-append")(t.writeBranch("audit", rows(Seq(7000L)), WriteMode.Append))
    step("fast-forward")(t.fastForward("audit"))
    step("publish-staged-append")(t.publishStaged(t.stageAppend(rows(Seq(8000L)))))
    step("publish-staged-overwrite")(
      t.publishStaged(t.stageWrite(rows(Seq(9000L)), WriteMode.Overwrite)))

    val actual = got.result()
    val expected = scala.io.Source.fromInputStream(
        getClass.getResourceAsStream("/graft/lake/manifest-shapes.txt"), "UTF-8")
      .getLines().filter(_.nonEmpty).map { l =>
        val i = l.indexOf('\t'); l.take(i) -> l.drop(i + 1)
      }.toSeq
    if (actual != expected) {
      val out = Paths.get("target", "manifest-shapes.actual.txt")
      Files.createDirectories(out.getParent)
      Files.write(out, actual.map { case (k, v) => s"$k\t$v\n" }.mkString.getBytes(UTF_8))
    }
    assert(actual.map(_._1) === expected.map(_._1))
    actual.zip(expected).foreach { case ((op, a), (_, e)) =>
      withClue(s"op $op: ") { assert(a === e) }
    }
  }

  /** Runs `op` on another thread, lets it lose the claim on the next
    * version to a competing writer, and returns once it is spinning in
    * the commit loop behind that claim; `resolve` then plays the
    * competitor's outcome.
    */
  private def racing(t: LakeTable)(op: => Snapshot)(resolve: Path => Unit)
      : scala.util.Try[Snapshot] = {
    val next = t.latest.get.version + 1
    val claim = t.root.resolve("_versions").resolve(f"v$next%08d.claim")
    Files.createFile(claim)
    @volatile var result: scala.util.Try[Snapshot] = null
    val th = new Thread(() => result = scala.util.Try(op))
    th.start()
    // a failed claim is followed by a sleep inside the commit loop
    def spinning = th.getState == Thread.State.TIMED_WAITING && {
      val frames = th.getStackTrace
      frames.exists(f => f.getClassName == classOf[LakeTable].getName && f.getMethodName == "commit") &&
        frames.exists(_.getMethodName.startsWith("sleep"))
    }
    val deadline = System.currentTimeMillis() + 120000
    while (!spinning && th.isAlive && System.currentTimeMillis() < deadline) Thread.sleep(2)
    assert(th.isAlive, s"op finished before reaching the held claim: $result")
    resolve(claim)
    th.join()
    result
  }

  /** The competitor publishes a metadata-only commit at the claimed version. */
  private def publishCompetitor(t: LakeTable)(claim: Path): Unit = {
    val base = t.latest.get
    val v = base.version + 1
    val tmp = claim.resolveSibling(s".v$v.tmp")
    Files.write(tmp, Manifest.toJson(
      base.copy(version = v, op = "add-check", timestampMs = base.timestampMs + 1)).getBytes(UTF_8))
    Files.move(tmp, claim.resolveSibling(f"v$v%08d.json"))
    Files.delete(claim)
  }

  test("a commit that loses its claim race stamps sequences with the version it lands at") {
    val t = new LakeTable(spark, Files.createTempDirectory("manifest-race-").resolve("t"))
    t.write(rows(1L to 3L), WriteMode.Overwrite)
    t.write(rows(Seq(10L)), WriteMode.Append)
    val v = t.latest.get.version

    // an upsert rebases past the competitor: its equality delete and
    // its new dir both take the version it finally lands at
    val up = racing(t)(t.upsert(df((1L, "a1", 1.5)), Seq("id")))(publishCompetitor(t)).get
    assert(up.version === v + 2)
    assert(EqDelete.decode(up.eqDeletes.last).seq === v + 2)
    assert(up.dirSeqs.last === v + 2)
    assert(t.read(None).where($"id" === 1L).select($"name").as[String].collect().toSeq === Seq("a1"))

    // a rewrite planned on a base that moved fails instead of rebasing
    val moved = racing(t)(t.compactBinPack(Long.MaxValue))(publishCompetitor(t))
    assert(moved.failed.get.isInstanceOf[java.util.ConcurrentModificationException])

    // a competitor that gives its claim up: the binpack lands at the
    // claimed version, and its folded dir carries that version
    val before = t.latest.get
    val packed = racing(t)(t.compactBinPack(Long.MaxValue))(Files.delete(_)).get
    assert(packed.version === before.version + 1)
    assert(packed.dirs.size === 1)
    assert(packed.dirSeqs === Seq(packed.version))
    assert(packed.eqDeletes === before.eqDeletes)
  }
}
