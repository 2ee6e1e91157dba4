package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}

/** Incrementally-maintained materialized JOIN view — the enrichment
  * shape next to [[IncrementalView]]'s aggregates: a view
  * `V = SELECT f.*, d.<dimCols> FROM fact f LEFT JOIN dim d ON
  * f.<joinKey> = d.<dimKey>`, keyed by the fact's primary key, whose
  * refresh cost tracks the CHANGELOGS of both sides, never their
  * sizes. The classic delta rule specialized to keyed enrichment:
  *
  *  1. The view's snapshot meta records the fact AND dim versions it
  *     reflects. Refresh reads both changelogs for `(recorded, cur]`.
  *  2. The fact keys needing new state are the union of (a) fact keys
  *     present in the fact changelog and (b) CURRENT fact rows whose
  *     join key appears in the dim changelog — the latter read with
  *     the changed dim keys pushed into the fact scan as `In`
  *     predicates when the set is driver-small (partition pruning +
  *     file skipping then bound it), a semi-join otherwise.
  *  3. Those keys' current enriched rows rebuild from a fact read
  *     BOUNDED to them (same pushdown policy) left-joined against the
  *     current dim; keys that vanished from the fact emit delete
  *     markers (guarded to keys actually present in the view, so an
  *     insert-then-delete inside the window cannot plant a phantom).
  *  4. One MERGE commit on the view applies updates, inserts, and
  *     deletes; CAS-guarded, with both source versions in its meta.
  *
  * Fallback, honestly stated: a data-REWRITING commit on either
  * source (overwrite, copy-on-write DML, rollback) has no row-level
  * changelog, and expired history breaks the walk — both fall back to
  * a full rebuild, loudly recorded as `refreshMode=full`. A side whose
  * window changes no rows (schema changes, compactions) is not read;
  * when neither side's does, one metadata-only commit records both
  * versions and no Spark job runs ([[ViewRefresh]], the driver shared
  * with [[IncrementalView]]).
  *
  * Contract: `factKey` is unique in the fact table and `dimKey` is
  * unique in the dim (the MERGE rejects duplicate-key sources, so a
  * violation fails loudly rather than silently duplicating rows).
  * At 100 TB the view-side MERGE touches only changed keys, the
  * dim-triggered fact read is bounded by the rows the dim change
  * actually affects (the TRUE size of the view delta), and no
  * unbounded state ever reaches the driver.
  */
object JoinView {
  val FactVersionKey = "graft.view.factVersion"
  val DimVersionKey = "graft.view.dimVersion"
  val DefinitionKey = "graft.view.joinDefinition"
  private val Live = "_live"
  private val HasDel = "_hasdel"

  /** User-facing read: the enriched rows without maintenance columns. */
  def read(cat: LakeCatalog, viewIdent: String): DataFrame = {
    val df = cat.read(viewIdent)
    df.drop(df.columns.filter(_.startsWith("_")).toSeq: _*)
  }

  /** Define-or-refresh with a persisted serializable definition (the
    * `CALL graft.system.refresh_view` body dispatches on it).
    */
  def refreshSql(cat: LakeCatalog, factIdent: String, dimIdent: String,
                 viewIdent: String, factKey: String, joinKey: String,
                 dimKey: String, dimCols: Seq[String],
                 strategy: DmlStrategy = DmlStrategy.Auto,
                 tiers: DriverTiers = DriverTiers.Default): Snapshot = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    root.put("fact", factIdent); root.put("dim", dimIdent)
    root.put("factKey", factKey); root.put("joinKey", joinKey)
    root.put("dimKey", dimKey)
    // persisted so CALL refresh_view keeps honoring the declared
    // changelog contract (a MergeOnRead view must never COW-rewrite
    // under a by-name refresh)
    root.put("strategy", strategy.toString)
    val cn = root.putArray("dimCols"); dimCols.foreach(cn.add)
    refresh(cat, factIdent, dimIdent, viewIdent, factKey, joinKey, dimKey,
      dimCols, extraMeta = Map(DefinitionKey -> om.writeValueAsString(root)),
      strategy = strategy, tiers = tiers)
  }

  /** Refresh a join view whose definition was persisted by [[refreshSql]]. */
  def refreshByName(cat: LakeCatalog, viewIdent: String,
                    tiers: DriverTiers = DriverTiers.Default): Snapshot = {
    import scala.jdk.CollectionConverters._
    val defJson = cat.table(viewIdent).latestMeta(DefinitionKey).getOrElse(
      throw new IllegalArgumentException(
        s"'$viewIdent' has no persisted join-view definition"))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = om.readTree(defJson)
    val strategy = Option(n.get("strategy")).map(_.asText()) match {
      case Some("MergeOnRead") => DmlStrategy.MergeOnRead
      case Some("CopyOnWrite") => DmlStrategy.CopyOnWrite
      case Some("Auto")        => DmlStrategy.Auto
      case None                => DmlStrategy.Auto // pre-strategy definitions
      // a corrupted/future value must FAIL, not silently void a declared
      // MergeOnRead changelog contract by defaulting to Auto
      case Some(other) => throw new IllegalArgumentException(
        s"'$viewIdent' persisted an unknown join-view strategy '$other'")
    }
    refresh(cat, n.get("fact").asText(), n.get("dim").asText(), viewIdent,
      n.get("factKey").asText(), n.get("joinKey").asText(),
      n.get("dimKey").asText(),
      n.get("dimCols").elements().asScala.map(_.asText()).toSeq,
      extraMeta = Map(DefinitionKey -> defJson), strategy = strategy,
      tiers = tiers)
  }

  /** `strategy` picks the refresh MERGE's DML path. Auto is right for
    * terminal views; a view that FEEDS a downstream incremental
    * consumer (an [[IncrementalView]] rollup, a CDC subscriber) should
    * pass `DmlStrategy.MergeOnRead` so its commits stay row-level
    * changelog-readable — a COW rewrite would force the consumer into
    * its full-rebuild fallback.
    */
  def refresh(cat: LakeCatalog, factIdent: String, dimIdent: String,
              viewIdent: String, factKey: String, joinKey: String,
              dimKey: String, dimCols: Seq[String],
              extraMeta: Map[String, String] = Map.empty,
              strategy: DmlStrategy = DmlStrategy.Auto,
              tiers: DriverTiers = DriverTiers.Default): Snapshot = {
    require(dimCols.nonEmpty, "join view needs at least one dim column")
    // dimKey ∈ dimCols is fine when it lands under a name the fact
    // does not use; when joinKey == dimKey the fact already carries
    // that exact name and the view would hold two columns called it
    require(!(dimCols.contains(dimKey) && joinKey == dimKey),
      s"'$dimKey' is already carried from the fact side; drop it from dimCols")
    val fact = cat.table(factIdent)
    val dim = cat.table(dimIdent)
    val curF = fact.latest.getOrElse(throw new IllegalStateException(
      s"join-view fact '$factIdent' does not exist"))
    val curD = dim.latest.getOrElse(throw new IllegalStateException(
      s"join-view dim '$dimIdent' does not exist"))
    val viewT = cat.table(viewIdent)
    ViewRefresh(viewT, Seq(ViewRefresh.Source(fact, curF, FactVersionKey),
      ViewRefresh.Source(dim, curD, DimVersionKey)), extraMeta)({
      case (Seq(f, d), meta) => incremental(fact, dim, viewT, f, d,
        factKey, joinKey, dimKey, dimCols, meta, strategy, tiers)
    })(meta => fullBuild(cat, fact, dim, viewIdent, curF.version, curD.version,
      factKey, joinKey, dimKey, dimCols, meta))
  }

  private def enriched(factDf: DataFrame, dimDf: DataFrame,
                       joinKey: String, dimKey: String,
                       dimCols: Seq[String]): DataFrame = {
    // any dim column sharing a fact column's name would leave the view
    // with duplicate names (ambiguous on the very next col() reference)
    val clash = dimCols.intersect(factDf.columns.toSeq)
    require(clash.isEmpty,
      s"dim column(s) ${clash.mkString(", ")} collide with fact columns; " +
        "alias or drop them from dimCols")
    val d = dimDf.select((dimKey +: dimCols).distinct.map(col): _*)
    // plain equality, matching the declared definition (`LEFT JOIN d ON
    // f.joinKey = d.dimKey`): a NULL fact key takes the LEFT-JOIN null
    // arm, never a null-keyed dim row (<=> would silently enrich it)
    val joined = factDf.join(d, factDf(joinKey) === d(dimKey), "left")
      .select(factDf.columns.map(factDf(_)) ++ dimCols.map(d(_)): _*)
      .withColumn(Live, lit(1L))
    // the two sources' columns carry their OWN tables' field-id
    // metadata, which collides in the view (fact id 2 and dim id 2 are
    // different columns); strip so the view mints a consistent id space
    joined.select(joined.columns.map(c =>
      col(c).as(c, org.apache.spark.sql.types.Metadata.empty)).toSeq: _*)
  }

  private def fullBuild(cat: LakeCatalog, fact: LakeTable, dim: LakeTable,
                        viewIdent: String, curF: Long, curD: Long,
                        factKey: String, joinKey: String, dimKey: String,
                        dimCols: Seq[String],
                        meta: Map[String, String]): Snapshot =
    cat.write(
      enriched(fact.read(Some(curF)), dim.read(Some(curD)), joinKey, dimKey, dimCols),
      viewIdent, WriteMode.Overwrite, meta = meta,
      // the view's physical layout is engine-owned and its access
      // pattern is known: every later refresh MERGEs keyed by factKey,
      // so declare key stats here — the merge's stage decision and the
      // delete-marker view read then file-skip instead of scanning
      statsBy = Seq(factKey))

  /** Exact key-bounded read of `t@version` from a DRIVER-HELD value
    * set: `scan` applies the `In` predicate as a row-level filter
    * (pushed to the parquet readers, where row-group stats skip) on
    * top of driver-side file skipping — no exactness join needed. The
    * whole driver-exact tier (≤ [[DriverTiers.driverKeyCap]] values by
    * the callers' sampling) keeps file skipping: the per-file In
    * evaluation is a binary search over a pre-sorted probe set
    * ([[FileStats]]), and losing the skip turns a bounded refresh
    * read into a table scan at large bases (the round-12 soak's
    * third MV decade measured that knee directly). The isin fallback
    * remains only as a safety net for an over-cap call.
    */
  private def inScan(t: LakeTable, version: Option[Long], keyCol: String,
                     vals: Seq[Any], tiers: DriverTiers): DataFrame =
    if (vals.isEmpty) t.read(version).where(lit(false))
    else if (vals.length <= tiers.driverKeyCap)
      t.scan(Seq(LakePredicate.In(keyCol, vals)), version)
    else {
      val r = t.read(version)
      r.where(r(keyCol).isin(vals.map(lit): _*))
    }

  /** Read `table@version` restricted to the `keyCol` values of `keys`,
    * a frame [[DriverTiers.materialize]]d with `census` (`keyCol` its
    * first census column). A census under the driver cap makes the read
    * EXACT via [[inScan]] — no semi-join. Above the cap: bloom row
    * filter inside the scan + null-safe semi-join for exactness, both
    * reading the materialized key frame.
    */
  private def boundedRead(t: LakeTable, version: Long, keys: DataFrame,
                          census: KeyCensus, keyCol: String,
                          tiers: DriverTiers): DataFrame =
    // provably-empty key frame (a changelog commit that touched no
    // rows): where(false) folds to an empty LocalRelation — zero files
    // read, where the fallthrough was a FULL table scan semi-joined
    // against nothing
    if (census.isEmpty) t.read(Some(version)).where(lit(false))
    else if (!census.overflowed) {
      val nonNull = census.values(0).filterNot(_ == null)
      if (nonNull.isEmpty) t.read(Some(version)).where(col(keyCol).isNull)
      else {
        val base = inScan(t, Some(version), keyCol, nonNull, tiers)
        // a null key in the frame matched null target rows through the
        // old null-safe semi-join; preserve that by unioning them in
        if (!census.hasNull(0)) base
        else {
          val r = t.read(Some(version))
          base.unionByName(r.where(r(keyCol).isNull))
        }
      }
    } else {
      // driver-large key set: no In pushdown, but a bloom built from
      // the keys (RuntimeFilter's row-level tier, null-escaped) still
      // drops non-matching rows INSIDE the scan stage before they
      // shuffle into the exactness semi-join
      val base = RuntimeFilter.bloomRowFilter(t.read(Some(version)), keyCol, keys)
      base.join(keys, base(keyCol) <=> keys(keyCol), "left_semi")
    }

  private def incremental(fact: LakeTable, dim: LakeTable, viewT: LakeTable,
                          f: ViewRefresh.Window, d: ViewRefresh.Window,
                          factKey: String, joinKey: String, dimKey: String,
                          dimCols: Seq[String], meta: Map[String, String],
                          strategy: DmlStrategy, tiers: DriverTiers): Snapshot = {
    val curF = f.to
    // fact keys with direct changes, carrying whether the window held
    // a non-insert row for the key: a key whose window is insert-only
    // provably still exists in the fact, so the flag is the EXACT gate
    // for the delete-marker leg below — it rides the changelog
    // aggregate the walk computes anyway, no manifest probe needed
    val dFact =
      if (!f.rowsChanged) None
      else Some(fact.readChanges(f.from, Some(curF))
        .groupBy(col(factKey))
        .agg(max(when(col("_change_type") === "insert", 0).otherwise(1)).as(HasDel)))
    // fact keys hit through a dim change: bounded current-fact read on
    // the changed join-key values (they come FROM the current fact, so
    // they exist by construction — no delete flag). The key frame needs
    // no distinct: the census, bloom and semi-join are all set-valued.
    val viaDim =
      if (!d.rowsChanged) None
      else {
        val (ks, census) = DriverTiers.materialize(dim.readChanges(d.from, Some(d.to))
          .select(col(dimKey).as(joinKey)), Seq(joinKey), tiers.driverKeyCap)
        Some(boundedRead(fact, curF, ks, census, joinKey, tiers)
          .select(col(factKey)).distinct().withColumn(HasDel, lit(0)))
      }
    val touchedF = (dFact.toSeq ++ viaDim.toSeq).reduce(_ unionByName _)
      .groupBy(col(factKey)).agg(max(col(HasDel)).as(HasDel))

    // one job materializes the touched keys — the changelog walk +
    // bounded fact read lineage, the refresh's expensive subtree — and
    // censuses them with their delete flags: the key tuples (one per
    // key) when they fit the driver tier, and the flag's max, which is
    // 0 exactly when the window held no non-insert row for any touched
    // key. Every later tier reads the materialized frame.
    val (touchedC, touched) = graft.ProfStream.prof("jv touched ckpt") {
      DriverTiers.materialize(touchedF, Seq(factKey, HasDel), tiers.driverKeyCap)
    }
    val sawDel = touched.range(1).exists(_._2 == 1)
    // the driver path compares collected key values with JVM equality
    // (Set membership below) and ships them as In literals — both are
    // only sound for types whose boxed equality matches SQL equality.
    // Binary (Array[Byte] compares by reference), nested types, and
    // floating point (boxed -0.0 != 0.0 while SQL normalizes them
    // equal — a -0.0 key upserted in the window would read as
    // vanished and plant a duplicate delete marker) take the
    // distributed path, whose joins compare by SQL VALUE semantics.
    val keyTypeSafe = fact.latest.map(_.schema(factKey).dataType).forall {
      case org.apache.spark.sql.types.BinaryType => false
      case org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType => false
      case _: org.apache.spark.sql.types.ArrayType |
           _: org.apache.spark.sql.types.MapType |
           _: org.apache.spark.sql.types.StructType => false
      case _ => true
    }
    def markers(rows: DataFrame, gone: DataFrame): DataFrame = {
      val nulls = rows.schema.fields.collect {
        case f if f.name != factKey && f.name != Live =>
          lit(null).cast(f.dataType).as(f.name)
      }.toSeq
      gone.select((col(factKey) +: nulls :+ lit(0L).as(Live)): _*)
    }
    val mergeSrc =
      if (keyTypeSafe && !touched.overflowed && !touched.hasNull(0)) {
        // driver-small touched set (the common case): the fact read is
        // exact via pushed In filters, materialized once with a census
        // of its keys and join keys
        val (factNow, factKeys) = DriverTiers.materialize(
          inScan(fact, Some(curF), factKey, touched.values(0), tiers),
          Seq(factKey, joinKey), tiers.driverKeyCap)
        // bound the DIM read by the touched slice's join keys: the dim
        // scales with the base while the affected slice is delta-sized,
        // and a full dim read here was the refresh's O(dim) term (the
        // r12 third-decade soak: 3.8 s against a 5M-row dim for 5k
        // facts). Exact for the LEFT join — dim rows with other keys
        // cannot match; null fact keys take the null arm regardless.
        // Values ship as SQL literals (In predicate), so SQL value
        // semantics apply even for types the driver-Set path refuses.
        val dimNow =
          if (factKeys.overflowed) dim.read(Some(d.to))
          else inScan(dim, Some(d.to), dimKey, factKeys.values(1).filterNot(_ == null), tiers)
        val rows = graft.ProfStream.prof("jv rows ckpt") {
          enriched(factNow, dimNow, joinKey, dimKey, dimCols).localCheckpoint()
        }
        // vanished = delete-flagged keys minus the rows just rebuilt
        // (the left join keeps every fact row, so the fact census holds
        // exactly the rebuilt keys), guarded to keys the view actually
        // holds via a reads-only-those-keys view scan (insert-then-
        // delete within the window must not plant a phantom row)
        lazy val live = factKeys.values(0).toSet
        val goneVals = touched.tuples.collect { case t if t(1) == 1 && !live(t(0)) => t(0) }
        if (goneVals.isEmpty) rows // insert-only window: nothing can vanish
        else rows.unionByName(markers(rows, inScan(viewT, None, factKey, goneVals, tiers)
          .select(col(factKey)).distinct())).localCheckpoint()
      } else {
        // driver-large (or null-keyed, or reference-equality-keyed)
        // touched set: fully distributed path, derived from the touched
        // frame. The current enriched state of every touched key is
        // materialized ONCE: the bloom-bounded fact read + exactness
        // semi-join is this tier's expensive subtree.
        val factNow = boundedRead(fact, curF, touchedC, touched, factKey, tiers)
          .localCheckpoint()
        // driver-large tier: a bloom of the touched slice's join keys
        // still bounds the dim scan (false positives keep extra dim rows
        // the LEFT join simply doesn't match — exact; nulls escape via
        // the kernel's isNull arm and can't match the plain === anyway).
        // The bloom's two actions read factNow's cached blocks.
        val dimNow = RuntimeFilter.bloomRowFilter(dim.read(Some(d.to)), dimKey,
          factNow.select(col(joinKey).as(dimKey)))
        val rows = enriched(factNow, dimNow, joinKey, dimKey, dimCols)
          .localCheckpoint()
        // touched keys that vanished from the fact → delete markers, but
        // only for keys the view actually holds (insert-then-delete
        // within the window must not plant a phantom row). When the
        // window was provably insert-only (the census's delete flag),
        // every touched key still exists in the fact, so it is in
        // factNow and hence in rows — `gone` is empty BY CONSTRUCTION
        // and the whole marker leg (two joins, a view read, and a
        // second merge-source checkpoint) is skipped.
        if (!sawDel) rows
        else {
          val gone = touchedC.select(col(factKey))
            .join(rows.select(col(factKey)), Seq(factKey), "left_anti")
            .join(viewT.read(None).select(col(factKey)), Seq(factKey), "left_semi")
          rows.unionByName(markers(rows, gone)).localCheckpoint()
        }
      }
    graft.ProfStream.prof("jv merge") {
      // NO sourceKeyBounds assertion here: factKey uniqueness is the
      // USER's contract, and the merge's duplicate check is exactly
      // the loud gate the class doc promises on violation
      LakeDml.merge(viewT, mergeSrc, Seq(factKey),
        strategy = strategy,
        deleteMatched = Some(col(s"_src_$Live") === 0),
        meta = meta)
    }
  }
}
