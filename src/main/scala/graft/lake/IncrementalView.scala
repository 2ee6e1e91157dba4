package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained materialized aggregate view: a gold table
  * (`SELECT keys, aggs FROM source GROUP BY keys`) whose refresh cost
  * tracks the source CHANGELOG, not the source size — the
  * reference's gold layer (`/root/reference/dags/etl.py:80-96`)
  * recomputes its grouped count from the full silver table every run;
  * at 100 TB that full-table pass is the pipeline's whole cost, while
  * the actual change per run is a few commits of trickle data.
  *
  * Mechanics per [[refresh]]:
  *
  *  1. The view's snapshot meta records the source version it
  *     reflects ([[IncrementalView.SourceVersionKey]]).
  *  2. Refresh reads `source.readChanges(recorded, current)` — cost
  *     bounded by the changed data — and folds the signed deltas
  *     per group: +row on insert, -row on delete.
  *  3. COUNT and SUM are self-maintainable (count and non-null-count
  *     ride along so SUM-of-all-nulls stays NULL, exact SQL
  *     semantics). MIN/MAX are self-maintainable under inserts
  *     (`least`/`greatest` fold); a DELETE forces a recompute only
  *     when it could have removed the bound itself — the changelog's
  *     deleted extrema compare against the view's stored bounds, and
  *     a delete strictly inside a group's (min, max) keeps the fold
  *     (the extremum-touch fast path; [[RecomputedGroupsKey]] audits
  *     it). Touched groups recompute from the source restricted to
  *     exactly them (semi-join, plus `In` pushdown into the scan when
  *     the touched key set is small — manifest stats and partition
  *     pruning then bound the recompute read).
  *  4. The per-group results publish as ONE MERGE commit on the view:
  *     changed groups update, new groups insert, vanished groups
  *     (live-row count reaches zero) DELETE via the merge's
  *     matched-delete arm. The commit is CAS-guarded on the view's
  *     base version and carries the new source version in its meta —
  *     a concurrent refresh loses the race loudly, never silently
  *     double-applies.
  *
  * Fallback, honestly stated: a source commit that REMOVES data dirs
  * (overwrite, copy-on-write DML, rollback) has no row-level
  * changelog, and an expired snapshot breaks the walk — either case
  * falls back to a FULL rebuild (overwrite commit, same meta
  * contract). MOR deletes, equality-delete upserts, appends,
  * compactions and metadata commits all stay on the incremental path.
  * When no source commit since the recorded version changes rows (a
  * schema change, a compaction), the view's rows stand: one
  * metadata-only view commit records the new source version, and no
  * Spark job runs ([[ViewRefresh]], the driver shared with
  * [[JoinView]]).
  *
  * Scale: the delta aggregate shuffles changelog-sized data on the
  * group keys; the view-side MERGE touches only changed groups. The
  * only driver-side state is [[KeyCensus]]es, each filled by the job
  * that materializes its frame ([[DriverTiers.materialize]]): the
  * delta's (at most `driverKeyCap` key tuples, the bounded `In` of the
  * view read, a bloom above it; and each key column's range, which the
  * MERGE takes as its source's key bounds instead of aggregating its
  * source again), and for MIN/MAX views the recompute's, taken over
  * the extremum-touched groups of the materialized merge rows. A
  * COUNT/SUM/AVG refresh thus runs the delta's aggregate and
  * checkpoint, then the merge; a MIN/MAX recompute adds its bounded
  * source read.
  */
object IncrementalView {

  /** Snapshot-meta key on the VIEW table: the source version this
    * view state reflects.
    */
  val SourceVersionKey = "graft.view.sourceVersion"

  /** Snapshot-meta key on the VIEW table: 'incremental' when the
    * refresh folded a changelog, 'full' when it rebuilt — the audit
    * signal that the O(changes) path actually ran (the commit op alone
    * can't tell: the view-side MERGE may legitimately choose COW).
    */
  val RefreshModeKey = "graft.view.refreshMode"

  /** Snapshot-meta key on the VIEW table: the persisted definition
    * (source ident, group keys, agg specs as SQL strings) — what lets
    * `CALL graft.system.refresh_view(view => 'ns.v')` re-refresh with
    * no JVM client code carrying the definition.
    */
  val DefinitionKey = "graft.view.definition"

  /** Snapshot-meta key on the VIEW table (incremental refreshes of
    * MIN/MAX views only): how many groups the refresh recomputed from
    * the source. The audit face of the extremum-touch fast path — a
    * delete whose values sit strictly inside a group's stored
    * (min, max) provably cannot move either bound, so the group folds
    * instead of recomputing; this meta shows the O(touched-extremum)
    * claim held (">cap" when the set exceeded the driver tier).
    */
  val RecomputedGroupsKey = "graft.view.minmaxRecomputedGroups"

  /** Aggregates the view maintains. `expr` forms evaluate against the
    * source row (any deterministic column expression).
    */
  sealed trait ViewAgg { def out: String }
  /** COUNT(*) per group. */
  final case class GroupCount(out: String) extends ViewAgg
  /** SUM(expr) per group — exact incremental maintenance, including
    * the SUM-of-only-NULLs-is-NULL edge.
    */
  final case class Sum(expr: Column, out: String) extends ViewAgg
  /** MIN(expr); recomputed for delete-touched groups. */
  final case class Min(expr: Column, out: String) extends ViewAgg
  /** MAX(expr); recomputed for delete-touched groups. */
  final case class Max(expr: Column, out: String) extends ViewAgg
  /** AVG(expr): maintained as a hidden exact SUM + non-null count
    * (riding the same incremental machinery) and derived at read
    * time as `sum / n_nonnull` — NULL when the group has no non-null
    * values, which is SQL AVG semantics.
    */
  final case class Avg(expr: Column, out: String) extends ViewAgg

  // hidden maintenance columns (dropped by [[read]])
  private val N = "_n" // live rows per group: 0 = group vanished
  private def nn(out: String) = s"_nn_$out" // non-null count per SUM
  private val AvgPrefix = "_av_" // hidden SUM backing an AVG output

  /** The view without its maintenance columns — what a consumer
    * selects.
    */
  def read(cat: LakeCatalog, viewIdent: String): DataFrame = {
    val df = cat.read(viewIdent)
    // AVG outputs are stored as hidden exact sums; derive them here
    // (long/long and double/long both divide to double — SQL AVG)
    val withAvgs = df.columns.filter(_.startsWith(AvgPrefix)).foldLeft(df) {
      (d, c) => d.withColumn(c.stripPrefix(AvgPrefix),
        org.apache.spark.sql.functions.col(c) /
          org.apache.spark.sql.functions.col(nn(c)))
    }
    withAvgs.drop(withAvgs.columns.filter(_.startsWith("_")).toSeq: _*)
  }

  private val AggSpec =
    "(?i)\\s*(count|sum|min|max|avg)\\s*\\((.*)\\)\\s+as\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*".r

  /** Parse SQL-string agg specs (`count(*) as cnt`, `sum(price * 100)
    * as cents`, `min(ts) as first_ts`) — the serializable face of
    * [[ViewAgg]] that persisted definitions and the `CALL` procedure
    * speak.
    */
  def parseAggs(specs: Seq[String]): Seq[ViewAgg] = specs.map {
    case AggSpec(fn, arg, out) => fn.toLowerCase match {
      case "count" =>
        require(arg.trim == "*", s"count takes '*' (got 'count($arg)'); " +
          "count(expr) of a nullable expr is not self-maintainable — use sum(CASE...)")
        GroupCount(out)
      case "sum" => Sum(expr(arg), out)
      case "min" => Min(expr(arg), out)
      case "max" => Max(expr(arg), out)
      case "avg" => Avg(expr(arg), out)
    }
    case other => throw new IllegalArgumentException(
      s"bad aggregate spec '$other'; want count(*)/sum(e)/min(e)/max(e)/avg(e) AS name")
  }

  /** Define-or-refresh with a serializable definition: persists
    * `{source, keys, aggs}` in the view's snapshot meta so later
    * refreshes need only the view name ([[refreshByName]] / the
    * `refresh_view` SQL procedure).
    */
  def refreshSql(cat: LakeCatalog, sourceIdent: String, viewIdent: String,
                 keys: Seq[String], aggSpecs: Seq[String],
                 tiers: DriverTiers = DriverTiers.Default): Snapshot = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    root.put("source", sourceIdent)
    val kn = root.putArray("keys"); keys.foreach(kn.add)
    val an = root.putArray("aggs"); aggSpecs.foreach(an.add)
    refresh(cat, sourceIdent, viewIdent, keys, parseAggs(aggSpecs),
      extraMeta = Map(DefinitionKey -> om.writeValueAsString(root)),
      tiers = tiers)
  }

  /** Refresh a view whose definition was persisted by [[refreshSql]] —
    * the `CALL graft.system.refresh_view(view => ...)` body.
    */
  def refreshByName(cat: LakeCatalog, viewIdent: String,
                    tiers: DriverTiers = DriverTiers.Default): Snapshot = {
    import scala.jdk.CollectionConverters._
    val defJson = cat.table(viewIdent).latestMeta(DefinitionKey).getOrElse(
      throw new IllegalArgumentException(
        s"'$viewIdent' has no persisted view definition; create it with refreshSql()"))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(defJson)
    val keys = node.get("keys").elements().asScala.map(_.asText()).toSeq
    val specs = node.get("aggs").elements().asScala.map(_.asText()).toSeq
    refresh(cat, node.get("source").asText(), viewIdent, keys, parseAggs(specs),
      extraMeta = Map(DefinitionKey -> defJson), tiers = tiers)
  }

  /** Bring `viewIdent` up to date with `sourceIdent`. Returns the new
    * view snapshot (or the current one when the source hasn't moved).
    * First call (view absent) builds the view full; later calls are
    * incremental per the class doc.
    */
  def refresh(cat: LakeCatalog, sourceIdent: String, viewIdent: String,
              keys: Seq[String], aggs: Seq[ViewAgg],
              extraMeta: Map[String, String] = Map.empty,
              tiers: DriverTiers = DriverTiers.Default): Snapshot = {
    require(keys.nonEmpty, "view needs at least one group key")
    require(aggs.nonEmpty, "view needs at least one aggregate")
    val outs = aggs.map(_.out)
    require(outs.distinct == outs, s"duplicate aggregate output names: $outs")
    require(keys.intersect(outs).isEmpty, s"aggregate output shadows a key")
    require(outs.forall(!_.startsWith("_")),
      s"aggregate output names may not start with '_' (reserved): $outs")
    // AVG rides the exact-SUM machinery: expand to a hidden sum whose
    // ridden non-null count doubles as the divisor; read() derives
    val maintained: Seq[ViewAgg] = aggs.map {
      case Avg(e, o) => Sum(e, AvgPrefix + o)
      case a         => a
    }
    val src = cat.table(sourceIdent)
    val curSnap = src.latest.getOrElse(throw new IllegalStateException(
      s"view source '$sourceIdent' does not exist"))
    val cur = curSnap.version
    val viewT = cat.table(viewIdent)
    ViewRefresh(viewT, Seq(ViewRefresh.Source(src, curSnap, SourceVersionKey)), extraMeta)(
      (windows, meta) => incremental(src, viewT, windows.head.from, cur, keys, maintained, meta, tiers))(
      meta => fullBuild(cat, src, viewIdent, cur, keys, maintained, meta))
  }

  /** Aggregate columns for a full computation over source rows. */
  private def fullAggCols(aggs: Seq[ViewAgg]): Seq[Column] =
    aggs.map {
      case GroupCount(o) => count(lit(1)).as(o)
      case Sum(e, o)     => sum(e).as(o)
      case Min(e, o)     => min(e).as(o)
      case Max(e, o)     => max(e).as(o)
    } ++ (count(lit(1)).as(N) +: aggs.collect {
      case Sum(e, o) => count(when(e.isNotNull, 1)).as(nn(o))
    })

  private def fullBuild(cat: LakeCatalog, src: LakeTable, viewIdent: String,
                        cur: Long, keys: Seq[String], aggs: Seq[ViewAgg],
                        meta: Map[String, String]): Snapshot = {
    val aggCols = fullAggCols(aggs)
    val full = src.read(Some(cur)).groupBy(keys.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    cat.write(full, viewIdent, WriteMode.Overwrite, meta = meta,
      // engine-owned layout with a known access pattern: refreshes
      // read the view bounded by the delta's group keys and MERGE on
      // them — declare key stats so those reads file-skip
      statsBy = keys)
  }

  private def incremental(src: LakeTable, viewT: LakeTable,
                          from: Long, cur: Long, keys: Seq[String],
                          aggs: Seq[ViewAgg],
                          meta: Map[String, String],
                          tiers: DriverTiers): Snapshot = {
    val changes = src.readChanges(from, Some(cur))
    val sign = when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))

    // one changelog-sized aggregate: signed count/sum deltas, insert-
    // side min/max folds, and the DELETED-side extrema per MIN/MAX —
    // the changelog materializes deleted values anyway, and comparing
    // them against the view's stored bounds below is what lets
    // off-extremum deletes skip the recompute entirely
    val deltaCols = (sum(sign).as(s"_d$N") +:
      aggs.collect {
        case Sum(e, o) => Seq(
          sum(when(e.isNotNull, sign).otherwise(lit(0L))).as(s"_d_${nn(o)}"),
          sum(sign * e).as(s"_d_$o"))
        case Min(e, o) => Seq(min(when(sign > 0, e)).as(s"_d_$o"),
          min(when(sign < 0, e)).as(s"_dd_$o"))
        case Max(e, o) => Seq(max(when(sign > 0, e)).as(s"_d_$o"),
          max(when(sign < 0, e)).as(s"_dd_$o"))
      }.flatten).toSeq
    // materialize once: the delta is changelog-sized (small by the
    // whole premise), but its lineage — readChanges' per-commit
    // delete-materialization semi-joins — is expensive, and downstream
    // references it several times (bounded view read join, recompute
    // key set, anti-join, and the MERGE's staging and write). The same
    // job takes the delta's key census: the key tuples the view read is
    // bounded by, and the key ranges the merge's strategy decision
    // needs (newRows' keys are a subset of the delta's).
    val (delta, census) = graft.ProfStream.prof("iv delta ckpt") {
      DriverTiers.materialize(changes.groupBy(keys.map(col): _*)
        .agg(deltaCols.head, deltaCols.tail: _*), keys, tiers.driverKeyCap)
    }

    val old = boundedViewRead(viewT, delta, census, keys, tiers)
    // group keys may hold NULL (a legitimate GROUP BY group): null-safe
    // join. RIGHT outer on the delta side: untouched view groups never
    // enter the refresh — the merge stays changelog-sized, not
    // view-sized.
    val j = old.as("o").join(delta.as("d"),
      keys.map(k => old(k) <=> delta(k)).reduce(_ && _), "right_outer")
    // presence probe: N is never null on a real view row, so a null
    // here means the group is new (keys can't probe — NULL is a legal
    // group key value)
    val inOld = old.col(N)
    val newN = coalesce(old.col(N), lit(0L)) + coalesce(delta.col(s"_d$N"), lit(0L))

    def mergedCol(a: ViewAgg): Seq[Column] = a match {
      case GroupCount(o) => Seq(newN.as(o))
      case Sum(_, o) =>
        val n2 = coalesce(old.col(nn(o)), lit(0L)) + coalesce(delta.col(s"_d_${nn(o)}"), lit(0L))
        Seq(when(n2 === 0, lit(null)).otherwise(
          coalesce(old.col(o), lit(0)) + coalesce(delta.col(s"_d_$o"), lit(0))).as(o),
          n2.as(nn(o)))
      // least/greatest skip nulls: an absent side simply doesn't bound
      case Min(_, o) => Seq(least(old.col(o), delta.col(s"_d_$o")).as(o))
      case Max(_, o) => Seq(greatest(old.col(o), delta.col(s"_d_$o")).as(o))
    }
    // extremum-touch test, per MIN/MAX agg: the folded bound is wrong
    // only if some DELETED value could have BEEN the bound — i.e. the
    // deleted extremum reaches the stored one (≤ stored min / ≥ stored
    // max; strictly-inside deletes can't move either bound), or the
    // stored bound is unknown (new group, or all-null stored values —
    // either way an in-window insert-then-delete could have polluted
    // the insert-side fold). Deletes of NULL values never trigger
    // (`_dd` stays null): min/max skip nulls, so they can't be bounds.
    val recTriggers = aggs.collect {
      case Min(_, o) => delta.col(s"_dd_$o").isNotNull &&
        (old.col(o).isNull || delta.col(s"_dd_$o") <= old.col(o))
      case Max(_, o) => delta.col(s"_dd_$o").isNotNull &&
        (old.col(o).isNull || delta.col(s"_dd_$o") >= old.col(o))
    }
    // a vanished group (live count 0) is deleted, never recomputed
    val needRecCol =
      if (recTriggers.isEmpty) lit(false)
      else coalesce(recTriggers.reduce(_ || _), lit(false)) && newN > 0
    val keyCols = keys.map(k => coalesce(old(k), delta(k)).as(k))
    val inc = j.select((keyCols ++ aggs.flatMap(mergedCol) :+ newN.as(N) :+
      needRecCol.as("_needrec") :+
      isnull(inOld).as("_isnew")): _*)
      // a brand-new group netting to zero inside the range would insert
      // a phantom empty group: drop it (an EXISTING group reaching zero
      // stays — its marker row drives the view-side DELETE)
      .where(!(col("_isnew") && col(N) === 0))

    val hasMinMax = aggs.exists { case _: Min | _: Max => true; case _ => false }
    var recMeta = Map.empty[String, String]
    // true when newRows is a narrow projection of an already-
    // checkpointed frame — the merge then reads cached blocks directly
    // and a second materialization job would be pure overhead
    var fromCheckpoint = false
    val newRows =
      if (!hasMinMax) inc.drop("_needrec", "_isnew")
      else {
        // extremum-touched, still-live groups: MIN/MAX can only be
        // recomputed — but ONLY for those groups, from a source read
        // bounded to them. `inc` is referenced three times below
        // (recompute key set, the anti-join, the merge) — materialize
        // the changelog-sized frame once instead of re-running the
        // view⋈delta join per reference; the same job censuses the
        // recompute keys for the In pushdown and the audit count
        val (incC, recKeys) = graft.ProfStream.prof("iv incC ckpt") {
          DriverTiers.materialize(inc, keys, tiers.driverKeyCap, rowsWhere = Some("_needrec"))
        }
        val needRec = incC.where(col("_needrec")).select(keys.map(col): _*)
        recMeta = Map(RecomputedGroupsKey ->
          (if (recKeys.overflowed) s">${tiers.driverKeyCap}"
           else recKeys.tuples.size.toString))
        if (recKeys.isEmpty) {
          // nothing's bound was touched (insert-only window, or every
          // delete strictly inside its group's range): pure fold, no
          // source read, no anti-join — and the frame is already
          // materialized (incC), so the merge consumes it as-is
          fromCheckpoint = true
          incC.drop("_needrec", "_isnew")
        } else {
          // boundedSourceRead is already key-exact (semi-join applied
          // internally only when the In filters alone can't be)
          val rec = boundedSourceRead(src, cur, needRec, recKeys, keys)
            .groupBy(keys.map(col): _*)
            .agg(fullAggCols(aggs).head, fullAggCols(aggs).tail: _*)
          val incKept = incC.as("i").join(rec.as("r"),
              keys.map(k => incC(k) <=> rec(k)).reduce(_ && _), "left_anti")
            .drop("_needrec", "_isnew")
          incKept.unionByName(rec)
        }
      }

    // one commit: update changed groups, insert new ones, DELETE
    // vanished ones; CAS on the view base + source-version meta. The
    // merge evaluates its source once (copy-on-write) or twice (staged
    // positions, then the produced rows). Without MIN/MAX that is a
    // read of the checkpointed delta and a key-bounded view read; the
    // MIN/MAX recompute also reads the source, so materialize it first.
    val newRowsC =
      if (!hasMinMax || fromCheckpoint) newRows
      else graft.ProfStream.prof("iv newRows ckpt")(newRows.localCheckpoint())
    graft.ProfStream.prof("iv merge") {
      // key-unique by construction: incKept and rec are both groupBy
      // outputs on `keys` and the anti-join makes them key-disjoint
      LakeDml.merge(viewT, newRowsC, keys,
        deleteMatched = Some(col(s"_src_$N") === 0),
        meta = meta ++ recMeta,
        sourceKeyBounds = Some(census.bounds(keys)))
    }
  }

  /** View read bounded to the delta's group keys. SUPERSET-safe: the
    * right-outer join keeps only delta-matched view rows, so
    * per-column In/isNull filters (a cross-product superset of the
    * actual key tuples) cannot change the join's result — they only
    * cut the O(view) scan per refresh to the touched files/rows,
    * which is the difference between O(changes) and O(view) refresh
    * cost on a large view. The key tuples come from the delta's
    * census (no action here), and a driver-large delta falls back to
    * the bloom tier.
    */
  private def boundedViewRead(viewT: LakeTable, delta: DataFrame, census: KeyCensus,
                              keys: Seq[String], tiers: DriverTiers): DataFrame = {
    // bound only when every key column is null-free and the tuples fit
    // the driver tier: the In predicates then file-skip on the driver
    // AND row-filter exactly in the scan. A wide or null-bearing delta
    // takes the bloom tier — the bounding there would cost more (giant
    // isin plans over a view the delta touches densely anyway) than it
    // saves, and the right-outer join drops untouched groups regardless.
    if (census.isEmpty) viewT.read(None).where(lit(false))
    else if (census.overflowed || keys.indices.exists(census.hasNull))
      bloomBoundedViewRead(viewT, delta, keys, tiers)
    else viewT.scan(keys.indices.map(i => LakePredicate.In(keys(i), census.values(i))), None)
  }

  /** Driver-large (or null-bearing) delta over a LARGE view: a bloom
    * of ONE key column's delta values still bounds the view scan —
    * any single-column superset is safe under the right-outer join,
    * and nulls escape through (`isNull` arm), so false positives and
    * un-bloomable columns only cost rows the join drops anyway. The
    * extra driver action (one fused count+bloom pass on the
    * checkpointed delta) is only worth paying when the view itself
    * is big, so small views (below the file-count gate) read plain.
    */
  private def bloomBoundedViewRead(viewT: LakeTable, delta: DataFrame,
                                   keys: Seq[String],
                                   tiers: DriverTiers): DataFrame = {
    val full = viewT.read(None)
    // size gate from the manifest's per-dir stats blobs (in-memory
    // file counts, zero IO); only dirs without a blob fall back to a
    // filesystem listing
    val files = viewT.latest.map { s =>
      s.dirs.indices.map { i =>
        FileStats.dirStats(s, i, _ => false).map(_.files.size.toLong)
          .getOrElse(viewT.io.countFiles(viewT.loc(s.dirs(i)), ".parquet"))
      }.sum
    }.getOrElse(0L)
    if (files < tiers.bloomFileThreshold) return full
    keys.find(k => RuntimeFilter.BloomableTypes.contains(full.schema(k).dataType)) match {
      case None    => full
      case Some(k) =>
        // delta is checkpointed by the caller; the select re-reads
        // checkpoint blocks, not the changelog lineage
        RuntimeFilter.bloomRowFilter(full, k, delta.select(col(k)))
    }
  }

  /** Source rows restricted EXACTLY to the non-empty `needRec` key set
    * (for the MIN/MAX recompute), whose census `rec` the caller took.
    * Single null-free key with a driver-exact value set: `In` is the
    * exact row filter (scan predicates filter rows, not just files) —
    * no semi-join, with file skipping across the whole tier. Otherwise
    * per-column `In` predicates bound the scan where they can and a
    * null-safe semi-join restores tuple exactness.
    */
  private def boundedSourceRead(src: LakeTable, cur: Long,
                                needRec: DataFrame, rec: KeyCensus,
                                keys: Seq[String]): DataFrame =
    if (keys.size == 1 && !rec.overflowed && !rec.hasNull(0)) {
      // driver-exact tier: the flat In file-skips AND row-filters —
      // exact with no join (the probe-set binary search in FileStats
      // keeps the skip cheap at the full driverKeyCap)
      src.scan(Seq(LakePredicate.In(keys.head, rec.values(0))), Some(cur))
    } else {
      val base =
        if (rec.overflowed) src.read(Some(cur))
        // a NULL group key can't ride an In predicate; drop the bound
        // for that column (the semi-join stays exact)
        else src.scan(keys.indices.filterNot(rec.hasNull)
          .map(i => LakePredicate.In(keys(i), rec.values(i))), Some(cur))
      base.as("s").join(needRec.as("k"),
        keys.map(k => base(k) <=> needRec(k)).reduce(_ && _), "left_semi")
    }
}
