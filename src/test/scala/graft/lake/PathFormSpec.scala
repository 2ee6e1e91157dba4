package graft.lake

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The engine does not choose its table roots, so a lake, an Iceberg
  * export and a Delta export must keep every row under a root whose
  * name holds a space, `%`, `#` or `+` ([[FileKey]]). Each format runs
  * its own write ops in a seeded order, and `read`, the changelog and
  * (native) `files()` are checked after every version against a
  * plain-Scala model: id -> value.
  *
  * Roots run: `plain`, `with space`, `pct%x`, `hash#x`, `plus+x`.
  * Non-ASCII roots are not run: a JVM whose `sun.jnu.encoding` is not
  * UTF-8 cannot create those names.
  */
class PathFormSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Roots = Seq("plain", "with space", "pct%x", "hash#x", "plus+x")
  private val Seed = 13L

  private def dirNamed(name: String): String =
    Files.createDirectories(Files.createTempDirectory("pathform-").resolve(name)).toString

  private def frame(rows: Seq[(Long, String)], files: Int = 1): DataFrame =
    rows.toDF("id", "v").repartition(files)

  private def got(df: DataFrame): Seq[(Long, String)] =
    df.select($"id", $"v").as[(Long, String)].collect().toSeq.sorted

  /** A changelog as sorted (change type, id, value) rows. */
  private def changes(df: DataFrame): Seq[(String, Long, String)] =
    df.select($"_change_type", $"id", $"v").as[(String, Long, String)].collect().toSeq.sorted

  /** The changelog a model step implies: rows that left, then rows that came. */
  private def diff(before: Map[Long, String], after: Map[Long, String]): Seq[(String, Long, String)] =
    ((before.toSet -- after.toSet).toSeq.map { case (k, v) => ("delete", k, v) } ++
      (after.toSet -- before.toSet).toSeq.map { case (k, v) => ("insert", k, v) }).sorted

  private def firstRows(n: Int): Seq[(Long, String)] = (1L to n.toLong).map(i => (i, s"a$i"))

  /** Runs a native table under `name` through every write op, in an
    * order drawn from `rnd`, checking each version against the model.
    */
  private def nativeRun(name: String, rnd: scala.util.Random): Unit = {
    val t = new LakeTable(spark, dirNamed(name))
    var model = firstRows(20).toMap
    t.write(frame(firstRows(20), 2), WriteMode.Overwrite)
    var nextId = 21L
    def pick(): Long = model.keys.toSeq.sorted.apply(rnd.nextInt(model.size))
    def fresh(n: Int, tag: String): Seq[(Long, String)] = {
      val rows = (nextId until nextId + n).map(i => (i, s"$tag$i")); nextId += n; rows
    }
    val ops = rnd.shuffle(Seq("append", "delete", "upsert", "update", "compact", "addFiles",
      "delete", "upsert"))
    ops.zipWithIndex.foreach { case (op, step) =>
      val before = model
      val v0 = t.latest.get.version
      op match {
        case "append" =>
          val rows = fresh(6, "b"); t.write(frame(rows, 2), WriteMode.Append); model ++= rows
        case "delete" =>
          val k = pick(); LakeDml.delete(t, $"id" === k, DmlStrategy.MergeOnRead); model -= k
        case "upsert" =>
          val rows = Seq((pick(), s"u$step")) ++ fresh(1, s"u$step-")
          t.upsert(frame(rows), Seq("id")); model ++= rows
        case "update" =>
          val k = pick()
          LakeDml.update(t, $"id" === k, Map("v" -> lit(s"w$step")), DmlStrategy.MergeOnRead)
          model += k -> s"w$step"
        case "compact" => t.compact(1)
        case "addFiles" =>
          val ext = Files.createTempDirectory("pathform-ext-").resolve("ext dir").toString
          val rows = fresh(5, "x"); frame(rows, 2).write.parquet(ext)
          t.addFiles(ext); model ++= rows
      }
      val v1 = t.latest.get.version
      val where = s"root '$name', step $step ($op), v$v1"
      assert(got(t.read()) === model.toSeq.sorted, where)
      assert(t.files().agg(sum($"record_count")).as[Long].head === model.size.toLong, where)
      val expect = if (op == "compact") Nil else diff(before, model)
      assert(changes(t.readChanges(v0, Some(v1))) === expect, where)
    }
  }

  test("native tables keep every row under any root: append, MOR delete, upsert, update, compact, addFiles") {
    val rnd = new scala.util.Random(Seed)
    Roots.foreach(nativeRun(_, rnd))
  }

  test("Iceberg exports keep every row under any root: append, equality and position deletes") {
    val rnd = new scala.util.Random(Seed)
    Roots.foreach { name =>
      val loc = dirNamed(name)
      val exp = new IcebergExport(spark, loc)
      var model = Map.empty[Long, String]
      var prevSnap = Option.empty[Long]
      def check(sid: Long, before: Map[Long, String], op: String): Unit = {
        val rdr = new IcebergTableReader(spark, loc)
        assert(got(rdr.read()) === model.toSeq.sorted, s"root '$name', $op")
        prevSnap.foreach { p =>
          assert(changes(rdr.readChangesSince(p, Some(sid))) === diff(before, model),
            s"root '$name', $op changelog")
        }
        prevSnap = Some(sid)
      }
      def pick(): Long = model.keys.toSeq.sorted.apply(rnd.nextInt(model.size))
      val first = firstRows(10); model ++= first
      check(exp.append(frame(first, 2)), Map.empty, "append")
      val second = (11L to 20L).map(i => (i, s"a$i")); val b2 = model; model ++= second
      check(exp.append(frame(second, 2)), b2, "append")
      val eqKey = pick(); val b3 = model; model -= eqKey
      check(exp.equalityDelete(Seq(Tuple1(eqKey)).toDF("id"), Seq("id")), b3, "equality delete")
      // coordinates as a raw scan of the data files reports them
      val posKey = pick(); val b4 = model; model -= posKey
      val coords = spark.read.option("recursiveFileLookup", "true").parquet(s"$loc/data")
        .where($"id" === posKey)
        .select(col("_metadata.file_path").as("file_path"), col("_metadata.row_index").as("pos"))
      check(exp.positionDelete(coords), b4, "position delete")
    }
  }

  test("Delta exports keep every row under any root: append, deleteRows") {
    val rnd = new scala.util.Random(Seed)
    Roots.foreach { name =>
      val loc = dirNamed(name)
      val exp = new DeltaExport(spark, loc)
      var model = Map.empty[Long, String]
      def step(op: String)(write: => Long, next: Map[Long, String]): Unit = {
        val before = model
        val v = write; model = next
        val rdr = new DeltaTableReader(spark, loc)
        assert(got(rdr.read()) === model.toSeq.sorted, s"root '$name', $op")
        if (v > 0) assert(changes(rdr.readChanges(v - 1, Some(v))) === diff(before, model),
          s"root '$name', $op changelog")
      }
      step("append")(exp.append(frame(firstRows(10), 2)), firstRows(10).toMap)
      val more = (11L to 20L).map(i => (i, s"a$i"))
      step("append")(exp.append(frame(more, 2)), model ++ more)
      val k = model.keys.toSeq.sorted.apply(rnd.nextInt(model.size))
      step("deleteRows")(exp.deleteRows($"id" === k), model - k)
    }
  }

  // the cases a path-form split lost rows on, one root each
  private val Escaping = Seq("with space", "pct%x", "hash#x")

  test("regression: files() counts the live rows after a MOR delete under an escaping root") {
    Escaping.foreach { name =>
      val t = new LakeTable(spark, dirNamed(name))
      t.write(frame(firstRows(20), 2), WriteMode.Overwrite)
      LakeDml.delete(t, $"id" === 3L, DmlStrategy.MergeOnRead)
      assert(t.read().count() === 19L, name)
      assert(t.files().agg(sum($"record_count")).as[Long].head === 19L, name)
    }
  }

  test("regression: an upsert keeps every other row under an escaping root") {
    Escaping.foreach { name =>
      val t = new LakeTable(spark, dirNamed(name))
      t.write(frame(firstRows(20), 2), WriteMode.Overwrite)
      LakeDml.delete(t, $"id" === 3L, DmlStrategy.MergeOnRead)
      t.upsert(Seq((5L, "up")).toDF("id", "v"), Seq("id"))
      assert(got(t.read()) === (firstRows(20).toMap - 3L + (5L -> "up")).toSeq.sorted, name)
    }
  }

  test("regression: an Iceberg position delete from _metadata.file_path applies under an escaping root") {
    Escaping.foreach { name =>
      val loc = dirNamed(name)
      val exp = new IcebergExport(spark, loc)
      val s1 = exp.append(frame(firstRows(20), 2))
      exp.positionDelete(spark.read.parquet(s"$loc/data/*").where($"id" === 7L)
        .select(col("_metadata.file_path").as("file_path"), col("_metadata.row_index").as("pos")))
      val rdr = new IcebergTableReader(spark, loc)
      assert(rdr.read().count() === 19L, name)
      assert(changes(rdr.readChangesSince(s1)) === Seq(("delete", 7L, "a7")), name)
    }
  }
}
