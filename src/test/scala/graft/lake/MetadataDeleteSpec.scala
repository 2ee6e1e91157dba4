package graft.lake

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Metadata-only DELETE: whole-dir deletes commit from the manifest
  * with ZERO Spark jobs when stats prove full/none coverage for every
  * dir — and every unprovable shape (strict-bound edges, nulls, stats
  * gaps, partial dirs) declines to the measured paths with exact
  * results.
  */
class MetadataDeleteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df(r: Range, nullEvery: Int = 0) =
    r.map(i => (if (nullEvery > 0 && i % nullEvery == 0) None else Some(i.toLong),
      s"name$i", i * 1.5)).toDF("id", "name", "v")

  private def fresh(): LakeCatalog =
    new LakeCatalog(spark, Files.createTempDirectory("mdel-wh-").toString)

  private def countJobs(body: => Unit): Int = TestSpark.jobs(body).size

  test("whole-dir delete is metadata-only: zero jobs, dirs dropped, rows exact") {
    val cat = fresh()
    cat.write(df(1 to 1000), "ns.t", WriteMode.Overwrite, statsBy = Seq("id"))
    val t = cat.table("ns.t")
    t.write(df(1001 to 2000), WriteMode.Append)
    t.write(df(2001 to 3000), WriteMode.Append)
    val before = t.latest.get
    val jobs = countJobs {
      val snap = LakeDml.delete(t, $"id" <= 1000L)
      assert(snap.op === "delete")
      assert(snap.dirs.size === 2)
      assert(snap.dirs.toSet === before.dirs.drop(1).toSet)
    }
    assert(jobs === 0, s"metadata delete must run no Spark job (ran $jobs)")
    assert(t.read().count() === 2000L)
    assert(t.read().agg(min($"id")).head.getLong(0) === 1001L)
    // kept dirs kept their stats: a follow-up probe still skips
    assert(t.latest.get.meta.contains(FileStats.dirKey(t.latest.get.dirs.head)))
    // metadata count(*) still served from the manifest
    assert(t.metadataRowCount() === Some(2000L))
  }

  test("strict vs inclusive bound edges stay sound") {
    // dir1 = [1,1000], dir2 = [1001,2000]
    val cat = fresh()
    cat.write(df(1 to 1000), "ns.s", WriteMode.Overwrite, statsBy = Seq("id"))
    val t = cat.table("ns.s")
    t.write(df(1001 to 2000), WriteMode.Append)
    // id > 1000 fully covers dir2 (lo=1001 > 1000), none-covers dir1
    val jobs = countJobs { LakeDml.delete(t, $"id" > 1000L) }
    assert(jobs === 0)
    assert(t.read().count() === 1000L)
    // id >= 1000 makes dir1 PARTIAL (holds 1000) → must fall back, stay exact
    val t2cat = fresh()
    t2cat.write(df(1 to 1000), "ns.p", WriteMode.Overwrite, statsBy = Seq("id"))
    val t2 = t2cat.table("ns.p")
    t2.write(df(1001 to 2000), WriteMode.Append)
    val jobs2 = countJobs { LakeDml.delete(t2, $"id" >= 1000L) }
    assert(jobs2 > 0, "partial dir must take a measured path")
    assert(t2.read().count() === 999L)
    assert(t2.read().agg(max($"id")).head.getLong(0) === 999L)
  }

  test("nulls in the covered column defeat the proof; null rows survive") {
    val cat = fresh()
    // every 10th id NULL in dir1
    cat.write(df(1 to 1000, nullEvery = 10), "ns.n", WriteMode.Overwrite,
      statsBy = Seq("id"))
    val t = cat.table("ns.n")
    t.write(df(1001 to 2000), WriteMode.Append)
    val jobs = countJobs { LakeDml.delete(t, $"id" <= 1000L) }
    assert(jobs > 0, "null-bearing dir cannot be dropped from metadata")
    // SQL DELETE semantics: NULL never matches → null rows survive
    assert(t.read().where($"id".isNull).count() === 100L)
    assert(t.read().count() === 1100L)
  }

  test("unextractable conjuncts decline; disjunctions decline") {
    val cat = fresh()
    cat.write(df(1 to 1000), "ns.u", WriteMode.Overwrite, statsBy = Seq("id"))
    val t = cat.table("ns.u")
    t.write(df(1001 to 2000), WriteMode.Append)
    // length(name) is not a covering conjunct → measured path, exact
    val jobs = countJobs {
      LakeDml.delete(t, $"id" <= 1000L && length($"name") > 0)
    }
    assert(jobs > 0)
    assert(t.read().count() === 1000L)
    val cat2 = fresh()
    cat2.write(df(1 to 1000), "ns.o", WriteMode.Overwrite, statsBy = Seq("id"))
    val t2 = cat2.table("ns.o")
    t2.write(df(1001 to 2000), WriteMode.Append)
    val jobs2 = countJobs {
      LakeDml.delete(t2, $"id" <= 500L || $"id" > 1500L)
    }
    assert(jobs2 > 0, "OR is not a conjunction of covers")
    assert(t2.read().count() === 1000L)
    assert(t2.read().where($"id" <= 500L).count() === 0L)
  }

  test("delete everything leaves an empty readable table") {
    val cat = fresh()
    cat.write(df(1 to 100), "ns.e", WriteMode.Overwrite, statsBy = Seq("id"))
    val t = cat.table("ns.e")
    t.write(df(101 to 200), WriteMode.Append)
    val jobs = countJobs { LakeDml.delete(t, $"id" >= 1L) }
    assert(jobs === 0)
    assert(t.latest.get.dirs.isEmpty)
    assert(t.read().count() === 0L)
    t.write(df(1 to 10), WriteMode.Append)
    assert(t.read().count() === 10L)
  }

  test("kept dirs still honor their merge-on-read delete files") {
    val cat = fresh()
    cat.write(df(1 to 1000), "ns.m", WriteMode.Overwrite, statsBy = Seq("id"))
    val t = cat.table("ns.m")
    t.write(df(1001 to 2000), WriteMode.Append)
    LakeDml.delete(t, $"id".between(100L, 109L), strategy = DmlStrategy.MergeOnRead)
    assert(t.latest.get.deleteDirs.nonEmpty)
    val snap = LakeDml.delete(t, $"id" > 1000L)
    assert(snap.dirs.size === 1)
    assert(t.read().count() === 990L)
    assert(t.read().where($"id".between(100L, 109L)).count() === 0L)
  }

  test("SQL DELETE takes the metadata path through the catalog") {
    val name = "mdelcat"
    val wh = Files.createTempDirectory("mdel-sql-").toString
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.lake.sqlcat.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    val cat = new LakeCatalog(spark, wh)
    cat.write(df(1 to 500), "ns.q", WriteMode.Overwrite, statsBy = Seq("id"))
    val t = cat.table("ns.q")
    t.write(df(501 to 1000), WriteMode.Append)
    spark.sql(s"DELETE FROM $name.ns.q WHERE id > 500")
    assert(t.latest.get.dirs.size === 1)
    assert(spark.sql(s"SELECT count(*) FROM $name.ns.q").head.getLong(0) === 500L)
  }
}
