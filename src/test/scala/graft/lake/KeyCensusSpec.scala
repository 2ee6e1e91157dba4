package graft.lake

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, LongType, StringType}
import graft.TestSpark

/** [[KeyCensus]], the census [[DriverTiers.materialize]] fills from
  * inside a transformation: set semantics (a retried task re-adding its
  * rows changes nothing), overflow at exactly `cap + 1` distinct tuples,
  * no tuples in an overflowing task's result, and no range for keys the
  * stats domain cannot order.
  */
class KeyCensusSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def census(cap: Int, types: DataType*): KeyCensus = {
    val c = new KeyCensus(cap, types.toIndexedSeq)
    spark.sparkContext.register(c)
    c
  }

  private def bytes(o: AnyRef): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bo)
    out.writeObject(o); out.close()
    bo.toByteArray
  }

  private def read(b: Array[Byte]): KeyCensus =
    new ObjectInputStream(new ByteArrayInputStream(b)).readObject().asInstanceOf[KeyCensus]

  /** The copy a task fills: a registered census serializes as its reset
    * copy, which deserializes executor-side.
    */
  private def taskCopy(c: KeyCensus): KeyCensus = read(bytes(c))

  private def state(c: KeyCensus) =
    (c.overflowed, c.tuples.toSet, (0 until 2).map(i => (c.range(i), c.hasNull(i))))

  test("adding the same tuples twice, or merging a copy into itself, changes nothing") {
    val c = census(10, LongType, StringType)
    val rows = Seq(IndexedSeq[Any](3L, "b"), IndexedSeq[Any](1L, null), IndexedSeq[Any](7L, "a"))
    rows.foreach(c.add)
    val once = state(c)
    rows.foreach(c.add)
    assert(state(c) === once)
    c.merge(c.copy())
    assert(state(c) === once)
    assert(c.tuples.size === 3)
    assert(c.range(0) === Some((1L, 7L)))
    assert(c.range(1) === Some(("a", "b")))
    assert(!c.hasNull(0) && c.hasNull(1))
    // a null-bearing column bounds nothing
    assert(c.bounds(Seq("k", "s")) ===
      Seq(LakePredicate.GtEq("k", 1L), LakePredicate.LtEq("k", 7L)))
  }

  test("overflows at exactly cap + 1 distinct tuples, and stays overflowed") {
    val c = census(3, LongType)
    (1L to 3L).foreach(v => c.add(IndexedSeq(v)))
    c.add(IndexedSeq(2L))
    assert(!c.overflowed && c.tuples.size === 3)
    c.add(IndexedSeq(4L))
    assert(c.overflowed && c.tuples.isEmpty && !c.isEmpty)
    // the ranges still cover every key
    assert(c.range(0) === Some((1L, 4L)))
    // two under-cap task censuses whose union passes the cap
    val a = census(3, LongType)
    val b = census(3, LongType)
    Seq(1L, 2L).foreach(v => a.add(IndexedSeq(v)))
    Seq(2L, 3L).foreach(v => b.add(IndexedSeq(v)))
    a.merge(b)
    assert(!a.overflowed && a.tuples.toSet === Set(IndexedSeq(1L), IndexedSeq(2L), IndexedSeq(3L)))
    b.add(IndexedSeq(9L))
    a.merge(b)
    assert(a.overflowed && a.tuples.isEmpty)
    // cap 0 answers emptiness alone
    val e = census(0, LongType)
    assert(e.isEmpty)
    e.add(IndexedSeq(5L))
    assert(e.overflowed && !e.isEmpty)
  }

  test("an overflowing task ships its flag and ranges, no tuples") {
    val driver = census(1000, LongType, LongType)
    val under = taskCopy(driver)
    (1L to 1000L).foreach(v => under.add(IndexedSeq(v, v * 7)))
    val over = taskCopy(driver)
    (1L to 1001L).foreach(v => over.add(IndexedSeq(v, v * 7)))
    val shipped = bytes(over)
    assert(shipped.length * 20 < bytes(under).length,
      s"${shipped.length} bytes overflowed, ${bytes(under).length} under the cap")
    val got = read(shipped)
    assert(got.overflowed && got.tuples.isEmpty)
    driver.merge(got)
    assert(driver.overflowed && driver.range(1) === Some((7L, 7007L)))
  }

  test("binary and NaN keys get no range") {
    val c = census(10, BinaryType, DoubleType, DoubleType)
    c.add(IndexedSeq(Array[Byte](1, 2), 1.0, 2.0))
    c.add(IndexedSeq(Array[Byte](3), Double.NaN, 5.0))
    assert(c.range(0) === None && c.range(1) === None)
    assert(c.range(2) === Some((2.0, 5.0)))
    assert(c.bounds(Seq("b", "d", "e")) ===
      Seq(LakePredicate.GtEq("e", 2.0), LakePredicate.LtEq("e", 5.0)))
  }

  test("materialize: one job keeps every row and censuses only rowsWhere rows") {
    val df = spark.range(1, 41, 1, 4).select($"id".as("k"), ($"id" % 3 === 0).as("pick"))
    var out: (org.apache.spark.sql.DataFrame, KeyCensus) = null
    val jobs = TestSpark.jobs {
      out = DriverTiers.materialize(df, Seq("k"), cap = 100, rowsWhere = Some("pick"))
    }
    val (cp, c) = out
    assert(jobs.size === 1, jobs)
    assert(cp.count() === 40L)
    assert(c.tuples.map(_(0)).toSet === (3L to 39L by 3).toSet)
    assert(c.range(0) === Some((3L, 39L)))
    assert(DriverTiers.materialize(df.where(lit(false)), Seq("k"), cap = 0)._2.isEmpty)
  }
}
