package graft.lake

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The scan-task layer under the Delta and Iceberg readers
  * ([[TaskScan]]): every read plans one parquet scan over its data
  * files, and seeded histories of appends and deletes read back, at
  * every version and as changelogs, exactly as a plain-Scala model of
  * the sequence-number rules says.
  */
class TaskScanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshLoc(): String = Files.createTempDirectory("task-scan-").toString

  /** Scans in `df`'s executed plan that read any of `dataFiles`. */
  private def dataScans(df: DataFrame, dataFiles: Set[String]): Seq[FileSourceScanExec] =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.location.inputFiles.exists(dataFiles) => s
    }

  test("an Iceberg read with position and equality deletes at different sequences is one data scan") {
    val loc = freshLoc()
    val exp = new IcebergExport(spark, loc)
    exp.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1))          // seq 1
    val s2 = exp.append(Seq((3L, "c"), (4L, "d")).toDF("id", "s").coalesce(1)) // seq 2
    exp.equalityDelete(Seq(Tuple1(1L)).toDF("id"), Seq("id"))                 // seq 3
    val rdr2 = new IcebergTableReader(spark, loc)
    val second = rdr2.read(snapshotId = Some(s2)).inputFiles
      .map(f => f -> spark.read.parquet(f).where($"id" === 4L).count()).find(_._2 == 1L).get._1
    exp.positionDelete(Seq((second, 1L)).toDF("file_path", "pos"))            // seq 4
    val s5 = exp.append(Seq((1L, "again")).toDF("id", "s").coalesce(1))      // seq 5
    val rdr = new IcebergTableReader(spark, loc)
    val dataFiles = (rdr.read(snapshotId = Some(s2)).inputFiles ++
      rdr.readAppendsSince(s5 - 1).inputFiles).toSet
    val df = rdr.read()
    val scans = dataScans(df, dataFiles)
    assert(scans.size === 1, scans.mkString("\n"))
    assert(scans.head.relation.location.inputFiles.toSet === dataFiles)
    assert(df.as[(Long, String)].collect().sorted.toSeq ===
      Seq((1L, "again"), (2L, "b"), (3L, "c")))
  }

  test("a Delta read over five partition tuples with deletion vectors is one data scan") {
    val loc = freshLoc()
    val exp = new DeltaExport(spark, loc)
    exp.append((0 until 50).map(i => (i.toLong, s"p${i % 5}")).toDF("id", "part")
      .repartition(2), partitionBy = Seq("part"))
    val dataFiles = new DeltaTableReader(spark, loc).read().inputFiles.toSet
    exp.deleteRows($"id" < 12L)
    val df = new DeltaTableReader(spark, loc).read()
    val scans = dataScans(df, dataFiles)
    assert(scans.size === 1, scans.mkString("\n"))
    assert(scans.head.relation.location.inputFiles.toSet === dataFiles)
    assert(df.as[(Long, String)].collect().sorted.toSeq ===
      (12 until 50).map(i => (i.toLong, s"p${i % 5}")))
  }

  /** One row of a model table: the sequence (or version) that added
    * it, its file and position, and its values.
    */
  private final case class ModelRow(seq: Long, file: String, pos: Long, id: Long, v: String)

  private def sorted(rows: Iterable[Any]): Seq[String] = rows.map(_.toString).toSeq.sorted

  test("seeded Iceberg delete history: reads and changelogs follow the sequence rules") {
    val rnd = new scala.util.Random(7L)
    val loc = freshLoc()
    val exp = new IcebergExport(spark, loc)
    // deletes as (sequence, applies-to-row) under the spec's rules
    var rows = Vector.empty[ModelRow]
    var deletes = Vector.empty[(Long, ModelRow => Boolean)]
    var snaps = Vector.empty[Long]
    def liveAt(seq: Long): Seq[ModelRow] = rows.filter(r =>
      r.seq <= seq && !deletes.exists { case (ds, hits) => ds <= seq && hits(r) })
    // appends (0), equality (1) and position (2) deletes; the third
    // append follows an equality delete and re-inserts a deleted key
    val schedule = Seq(0, 0) ++ rnd.shuffle(Seq(1, 2, 2)) ++ Seq(0) ++ rnd.shuffle(Seq(1, 2))
    var eqDeleted = Vector.empty[Long]
    for ((op, step) <- schedule.zipWithIndex) {
      val live = liveAt(snaps.lastOption.getOrElse(0L))
      (if (live.isEmpty) 0 else op) match {
        case 0 =>
          val batch = Seq.fill(1 + rnd.nextInt(4))((rnd.nextInt(5).toLong, s"v$step-${rnd.nextInt(100)}")) ++
            eqDeleted.lastOption.map(k => (k, s"v$step-again"))
          val sid = exp.append(batch.toDF("id", "v").coalesce(1))
          val rdr = new IcebergTableReader(spark, loc)
          val file = snaps.lastOption.fold(rdr.read(snapshotId = Some(sid)))(rdr.readAppendsSince)
            .inputFiles.head
          rows ++= batch.zipWithIndex.map { case ((id, v), i) => ModelRow(sid, file, i.toLong, id, v) }
          snaps :+= sid
        case 1 =>
          val keys = Seq.fill(1 + rnd.nextInt(2))(live(rnd.nextInt(live.size)).id).distinct
          val sid = exp.equalityDelete(keys.toDF("id"), Seq("id"))
          eqDeleted ++= keys
          deletes :+= (sid -> ((r: ModelRow) => r.seq < sid && keys.contains(r.id)))
          snaps :+= sid
        case _ =>
          val picked = Seq.fill(1 + rnd.nextInt(2))(live(rnd.nextInt(live.size))).distinct
          val sid = exp.positionDelete(picked.map(r => (r.file, r.pos)).toDF("file_path", "pos"))
          deletes :+= (sid -> ((r: ModelRow) => r.seq <= sid && picked.exists(p =>
            p.file == r.file && p.pos == r.pos)))
          snaps :+= sid
      }
    }
    val rdr = new IcebergTableReader(spark, loc)
    // every snapshot's read in one job, every changelog range in another
    val reads = snaps.map(s => rdr.read(snapshotId = Some(s)).select(lit(s).as("at"), $"id", $"v"))
      .reduce(_ unionByName _).as[(Long, Long, String)].collect().groupBy(_._1)
    for (s <- snaps)
      assert(sorted(reads.getOrElse(s, Array.empty).map(r => (r._2, r._3))) ===
        sorted(liveAt(s).map(r => (r.id, r.v))), s"read at snapshot $s")
    // each snapshot's own range, and the whole history in one
    val ranges = snaps.indices.drop(1).map(i => (snaps(i - 1), snaps(i))) :+ (snaps.head, snaps.last)
    val changes = ranges.indices.map { k =>
      rdr.readChangesSince(ranges(k)._1, Some(ranges(k)._2)).select(lit(k).as("range"), $"id", $"v",
        $"_change_type", $"_commit_version")
    }.reduce(_ unionByName _).as[(Int, Long, String, String, Long)].collect().groupBy(_._1)
    for (((from, to), k) <- ranges.zipWithIndex) {
      val expected = snaps.filter(s => s > from && s <= to).flatMap { s =>
        val prev = snaps.filter(_ < s).max
        rows.filter(_.seq == s).map(r => (r.id, r.v, "insert", s)) ++
          liveAt(prev).diff(liveAt(s)).map(r => (r.id, r.v, "delete", s))
      }
      assert(sorted(changes.getOrElse(k, Array.empty).map(r => (r._2, r._3, r._4, r._5))) ===
        sorted(expected), s"changelog ($from, $to]")
    }
  }

  /** A seeded Delta history on a table partitioned by `part` or not. */
  private def deltaHistory(seed: Long, partitioned: Boolean, schedule: Seq[Int]): Unit = {
    val rnd = new scala.util.Random(seed)
    val loc = freshLoc()
    val exp = new DeltaExport(spark, loc)
    val parts = Seq("x", "y", "z")
    // live rows after each version, by version
    var states = Vector.empty[Set[(Long, String)]]
    var nextId = 0L
    for (op <- 0 +: rnd.shuffle(schedule)) {
      val live = states.lastOption.getOrElse(Set.empty)
      states :+= ((if (live.isEmpty) 0 else op) match {
        case 0 =>
          val batch = Seq.fill(2 + rnd.nextInt(5)) { nextId += 1; (nextId, parts(rnd.nextInt(3))) }
          exp.append(batch.toDF("id", "part").repartition(2),
            partitionBy = if (partitioned) Seq("part") else Nil)
          live ++ batch
        case 1 =>
          // later deletes often land on files that already carry a
          // vector: the new one must union the old positions
          val ids = Seq.fill(1 + rnd.nextInt(3))(live.toSeq.sortBy(_._1).apply(rnd.nextInt(live.size))._1)
          val before = states.size - 1
          val v = exp.deleteRows($"id".isin(ids: _*))
          assert(v === before + 1)
          live.filterNot(r => ids.contains(r._1))
        case _ =>
          val p = parts(rnd.nextInt(3))
          exp.deleteWhere(Seq(LakePredicate.EqualTo("part", p)))
          live.filterNot(_._2 == p)
      })
    }
    val rdr = new DeltaTableReader(spark, loc)
    assert(rdr.latestVersion === Some(states.size - 1L))
    val reads = states.indices.map(v =>
      rdr.read(versionAsOf = Some(v.toLong)).select(lit(v).as("at"), $"id", $"part"))
      .reduce(_ unionByName _).as[(Int, Long, String)].collect().groupBy(_._1)
    for (v <- states.indices)
      assert(sorted(reads.getOrElse(v, Array.empty).map(r => (r._2, r._3))) === sorted(states(v)),
        s"read at version $v")
    // each version's own range, and the whole history in one
    val ranges = states.indices.map(v => (v - 1, v)) :+ (-1, states.size - 1)
    val changes = ranges.indices.map(k => rdr.readChanges(ranges(k)._1, Some(ranges(k)._2.toLong))
      .select(lit(k).as("range"), $"id", $"part", $"_change_type", $"_commit_version"))
      .reduce(_ unionByName _).as[(Int, Long, String, String, Long)].collect().groupBy(_._1)
    for (((from, to), k) <- ranges.zipWithIndex) {
      val expected = (from + 1 to to).flatMap { v =>
        val prev = if (v == 0) Set.empty[(Long, String)] else states(v - 1)
        (states(v) -- prev).toSeq.map(r => (r._1, r._2, "insert", v.toLong)) ++
          (prev -- states(v)).toSeq.map(r => (r._1, r._2, "delete", v.toLong))
      }
      assert(sorted(changes.getOrElse(k, Array.empty).map(r => (r._2, r._3, r._4, r._5))) ===
        sorted(expected), s"changelog ($from, $to]")
    }
  }

  test("seeded Delta delete history, partitioned: deletion vectors and partition deletes") {
    // after a first append: appends, DV deletes, partition deletes
    deltaHistory(seed = 11L, partitioned = true, schedule = Seq(0, 1, 1, 2, 2))
  }

  test("seeded Delta delete history, unpartitioned: repeat deletion vectors") {
    deltaHistory(seed = 13L, partitioned = false, schedule = Seq(1, 1, 1))
  }
}
