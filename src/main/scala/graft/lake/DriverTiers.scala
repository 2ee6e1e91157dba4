package graft.lake

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.types.DataType
import org.apache.spark.util.AccumulatorV2

/** The ONE definition site for the driver-bounded execution tiers the
  * refresh/runtime-filter machinery shares ([[JoinView]],
  * [[IncrementalView]], [[RuntimeFilter]], and the stream-enrichment
  * query). Each knob answers the same scale question — "how much key
  * state may the driver hold, and in what form may it re-enter a
  * scan?" — and the policy previously lived in four scattered
  * constants with drifting values; this object owns it.
  *
  * The tiers:
  *
  *  1. **Driver-exact `In` pushdown** (≤ [[driverKeyCap]] values): the
  *     key set ships as ONE flat `In` predicate the lake scan applies
  *     BOTH as driver-side file skipping (directory projection +
  *     per-file min/max stats — evaluated via a pre-sorted probe set
  *     and a binary search per file, [[FileStats]], so the driver
  *     cost is O(V log V) once, not O(files × V)) and as an exact
  *     row filter. The cap is where the In expression's PLAN cost
  *     starts to matter: tens of thousands of cast literals make
  *     analysis and plan shipping measurable (measured at ~20k in
  *     SCALE.md round 11; the round-12 soak's third MV decade showed
  *     why the file-skip must extend to this whole tier — a 5k-key
  *     refresh read that loses file skipping becomes a table scan at
  *     a 100M-row base).
  *  2. **Bloom + semi-join** (above [[driverKeyCap]]): only a bloom
  *     summary of the keys reaches the plan (row-level filter inside
  *     the scan stage); a null-safe semi-join restores exactness.
  *     Never unbounded driver state.
  *
  * [[bloomFileThreshold]] gates tier 2's view-side variant: a bloom
  * build costs two extra driver actions, worth paying only when the
  * bounded table is big enough (manifest file count) for the saved
  * scan to matter.
  *
  * Carried as a VALUE (not globals) so tests exercise every tier
  * boundary on tiny data by passing shrunken caps — no shared
  * mutable `sys.props` under parallel suites.
  */
final case class DriverTiers(driverKeyCap: Int = 20000,
                             bloomFileThreshold: Int = 8) {
  require(driverKeyCap >= 0, s"negative driverKeyCap: $driverKeyCap")
}

object DriverTiers {
  /** Production policy — the measured defaults above. */
  val Default: DriverTiers = DriverTiers()

  /** `df` materialized (`localCheckpoint`) with a [[KeyCensus]] of its
    * `keys` filled by the checkpoint's own job, so no second action
    * reads the keys back. `rowsWhere` names a boolean column: only rows
    * where it is true enter the census (all rows by default); the
    * checkpoint keeps every row.
    *
    * What reaches the driver is bounded by `cap`: each task ships at
    * most `cap` tuples in its result, and a task that sees more (which
    * proves the whole census overflows) ships only its overflow flag
    * and column ranges, about 1.4 KB. The worst case is every task just
    * under the cap: tasks × `cap` tuples, all counted against
    * `spark.driver.maxResultSize`. Java-serialized, a tuple of two longs
    * takes about 53 bytes and `IncrementalDedup`'s candidate tuple (two
    * long ids, two int buckets) about 62, so at its 250,000-pair cap a
    * task ships at most about 16 MB. The driver merges the results into
    * at most `cap` tuples.
    */
  private[graft] def materialize(df: DataFrame, keys: Seq[String], cap: Int,
                                 rowsWhere: Option[String] = None): (DataFrame, KeyCensus) = {
    val census = new KeyCensus(cap, keys.map(df.schema(_).dataType).toIndexedSeq)
    df.sparkSession.sparkContext.register(census) // unnamed: no per-task UI strings
    val idx = keys.map(df.schema.fieldIndex).toIndexedSeq
    val when = rowsWhere.map(df.schema.fieldIndex)
    val cp = df.mapPartitions { it =>
      it.map { r =>
        if (when.forall(w => !r.isNullAt(w) && r.getBoolean(w))) census.add(idx.map(r.get))
        r
      }
    }(Encoders.row(df.schema)).localCheckpoint()
    (cp, census)
  }
}

/** A frame's distinct key tuples, at most `cap` of them (one more
  * overflows the census and drops them all), and per key column its
  * min, max and whether it holds a null. Filled from inside a
  * transformation ([[DriverTiers.materialize]]), where Spark may apply
  * a task's updates more than once, so every part is a set fold: a
  * retried task that re-adds its rows changes nothing. A column whose
  * values have no key in the stats domain that prunes on them (binary,
  * NaN) gets no range.
  */
final class KeyCensus private[lake] (cap: Int, types: IndexedSeq[DataType])
    extends AccumulatorV2[IndexedSeq[Any], KeyCensus] {
  private val width = types.size
  private val seen = scala.collection.mutable.LinkedHashSet.empty[IndexedSeq[Any]]
  private var over = false
  private val lo = new Array[Any](width)
  private val hi = new Array[Any](width)
  private val nulls = new Array[Boolean](width)
  private val unordered = new Array[Boolean](width)

  /** More than `cap` distinct tuples were seen; [[tuples]] is then empty. */
  def overflowed: Boolean = over
  /** No row entered the census. */
  def isEmpty: Boolean = !over && seen.isEmpty
  /** The distinct key tuples (Nil once overflowed). */
  def tuples: Seq[IndexedSeq[Any]] = seen.toSeq
  /** The distinct values of key column `i` among [[tuples]]. */
  def values(i: Int): Seq[Any] = seen.iterator.map(_(i)).distinct.toSeq
  /** Whether key column `i` held a null. */
  def hasNull(i: Int): Boolean = nulls(i)
  /** Key column `i`'s (min, max) over its non-null values, if ordered. */
  def range(i: Int): Option[(Any, Any)] =
    if (unordered(i) || lo(i) == null) None else Some((lo(i), hi(i)))

  /** Range predicates every key satisfies (Nil for an empty frame). */
  def bounds(keys: Seq[String]): Seq[LakePredicate] =
    keys.indices.flatMap { i =>
      if (nulls(i)) Nil
      else range(i).toSeq.flatMap { case (l, h) =>
        Seq(LakePredicate.GtEq(keys(i), l), LakePredicate.LtEq(keys(i), h)) }
    }

  private def insert(t: IndexedSeq[Any]): Unit =
    if (!over) {
      seen += t
      if (seen.size > cap) { over = true; seen.clear() }
    }

  private def fold(i: Int, vLo: Any, vHi: Any): Unit = {
    def key(v: Any) = FileStats.probeKey(v, types(i))
    if (!unordered(i)) (key(vLo), key(vHi)) match {
      case (Some(kl), Some(kh)) =>
        if (lo(i) == null) { lo(i) = vLo; hi(i) = vHi }
        else {
          if (FileStats.cmp(kl, key(lo(i)).get) < 0) lo(i) = vLo
          if (FileStats.cmp(kh, key(hi(i)).get) > 0) hi(i) = vHi
        }
      case _ => unordered(i) = true
    }
  }

  override def isZero: Boolean =
    isEmpty && (0 until width).forall(i => lo(i) == null && !nulls(i) && !unordered(i))
  override def copy(): KeyCensus = { val c = new KeyCensus(cap, types); c.merge(this); c }
  override def reset(): Unit = {
    seen.clear(); over = false
    for (i <- 0 until width) { lo(i) = null; hi(i) = null; nulls(i) = false; unordered(i) = false }
  }
  override def add(key: IndexedSeq[Any]): Unit = {
    insert(key)
    var i = 0
    while (i < width) {
      if (key(i) == null) nulls(i) = true else fold(i, key(i), key(i))
      i += 1
    }
  }
  override def merge(other: AccumulatorV2[IndexedSeq[Any], KeyCensus]): Unit = {
    val o = other.value
    if (o.over) { over = true; seen.clear() } else o.seen.foreach(insert)
    var i = 0
    while (i < width) {
      nulls(i) |= o.nulls(i)
      if (o.unordered(i)) unordered(i) = true
      else if (o.lo(i) != null) fold(i, o.lo(i), o.hi(i))
      i += 1
    }
  }
  override def value: KeyCensus = this
  override def toString: String =
    if (over) s"KeyCensus(> $cap tuples)" else s"KeyCensus(${seen.size} tuples)"
}
