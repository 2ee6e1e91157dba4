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
  * a full rebuild, loudly recorded as `refreshMode=full`.
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
    val defJson = latestMeta(cat.table(viewIdent), DefinitionKey).getOrElse(
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
      s"join-view fact '$factIdent' does not exist")).version
    val curD = dim.latest.getOrElse(throw new IllegalStateException(
      s"join-view dim '$dimIdent' does not exist")).version
    val viewT = cat.table(viewIdent)
    val recF = latestMeta(viewT, FactVersionKey).map(_.toLong)
    val recD = latestMeta(viewT, DimVersionKey).map(_.toLong)

    (recF, recD) match {
      case (Some(f), Some(d)) if f == curF && d == curD => viewT.latest.get
      case (Some(f), Some(d)) if f <= curF && d <= curD =>
        try incremental(cat, fact, dim, viewT, f, curF, d, curD,
          factKey, joinKey, dimKey, dimCols, extraMeta, strategy, tiers)
        catch {
          case _: RewriteCommitException | _: SnapshotExpiredException =>
            fullBuild(cat, fact, dim, viewIdent, curF, curD,
              factKey, joinKey, dimKey, dimCols, extraMeta)
        }
      case _ =>
        fullBuild(cat, fact, dim, viewIdent, curF, curD,
          factKey, joinKey, dimKey, dimCols, extraMeta)
    }
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
                        extraMeta: Map[String, String]): Snapshot =
    cat.write(
      enriched(fact.read(Some(curF)), dim.read(Some(curD)), joinKey, dimKey, dimCols),
      viewIdent, WriteMode.Overwrite,
      meta = extraMeta ++ Map(FactVersionKey -> curF.toString,
        DimVersionKey -> curD.toString,
        IncrementalView.RefreshModeKey -> "full"),
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

  /** Read `table@version` restricted to `keys` values of `keyCol`.
    * Collect-first: one action materializes the key frame when it is
    * driver-small (≤ [[DriverTiers.driverKeyCap]]) and the read is
    * then EXACT via [[inScan]] — no semi-join, no checkpoint. Above
    * the cap: bloom
    * row filter inside the scan + null-safe semi-join for exactness
    * (the key frame is checkpointed HERE, where the double evaluation
    * actually happens, instead of unconditionally at every caller).
    * Trade made explicit: the over-cap tier evaluates the key lineage
    * once for the sample and once for the checkpoint — callers with a
    * hot driver-large tier should checkpoint before calling; the
    * common changelog-sized tier pays a single collect and nothing
    * else.
    */
  private def boundedRead(t: LakeTable, version: Long,
                          keys: DataFrame, keyCol: String, tiers: DriverTiers,
                          keysMaterialized: Boolean = false): DataFrame = {
    val sample = keys.limit(tiers.driverKeyCap + 1).collect()
    // provably-empty key frame (a changelog commit that touched no
    // rows): where(false) folds to an empty LocalRelation — zero files
    // read, where the fallthrough was a FULL table scan semi-joined
    // against nothing
    if (sample.isEmpty) return t.read(Some(version)).where(lit(false))
    if (sample.length <= tiers.driverKeyCap) {
      val vals = sample.map(_.get(0)).distinct.toSeq
      val nonNull = vals.filterNot(_ == null)
      if (nonNull.isEmpty) t.read(Some(version)).where(col(keyCol).isNull)
      else {
        val base = inScan(t, Some(version), keyCol, nonNull, tiers)
        // a null key in the frame matched null target rows through the
        // old null-safe semi-join; preserve that by unioning them in
        if (nonNull.length == vals.length) base
        else {
          val r = t.read(Some(version))
          base.unionByName(r.where(r(keyCol).isNull))
        }
      }
    } else {
      // driver-large key set: no In pushdown, but a bloom built from
      // the keys (RuntimeFilter's row-level tier, null-escaped) still
      // drops non-matching rows INSIDE the scan stage before they
      // shuffle into the exactness semi-join. The key frame is
      // evaluated twice here (fused count+bloom build, semi-join) —
      // checkpoint unless the caller says it already derives from one.
      val kc = if (keysMaterialized) keys else keys.localCheckpoint()
      val base = RuntimeFilter.bloomRowFilter(t.read(Some(version)), keyCol, kc)
      base.join(kc, base(keyCol) <=> kc(keyCol), "left_semi")
    }
  }

  private def incremental(cat: LakeCatalog, fact: LakeTable, dim: LakeTable,
                          viewT: LakeTable, fromF: Long, curF: Long,
                          fromD: Long, curD: Long,
                          factKey: String, joinKey: String, dimKey: String,
                          dimCols: Seq[String],
                          extraMeta: Map[String, String],
                          strategy: DmlStrategy = DmlStrategy.Auto,
                          tiers: DriverTiers = DriverTiers.Default): Snapshot = {
    // fact keys with direct changes, carrying whether the window held
    // a non-insert row for the key: a key whose window is insert-only
    // provably still exists in the fact, so the flag is the EXACT gate
    // for the delete-marker leg below — it rides the changelog
    // aggregate the walk computes anyway, no manifest probe needed
    val dFact =
      if (fromF == curF) None
      else Some(fact.readChanges(fromF, Some(curF))
        .groupBy(col(factKey))
        .agg(max(when(col("_change_type") === "insert", 0).otherwise(1)).as(HasDel)))
    // fact keys hit through a dim change: bounded current-fact read on
    // the changed join-key values (they come FROM the current fact, so
    // they exist by construction — no delete flag)
    val dDimKeys =
      if (fromD == curD) None
      else Some(dim.readChanges(fromD, Some(curD)).select(col(dimKey)).distinct())
    val viaDim = dDimKeys.map { ks =>
      boundedRead(fact, curF, ks.withColumnRenamed(dimKey, joinKey), joinKey, tiers)
        .select(col(factKey)).distinct().withColumn(HasDel, lit(0))
    }
    val touchedF = (dFact.toSeq ++ viaDim.toSeq) match {
      case Nil    => return viewT.latest.get // neither side moved
      case frames => frames.reduce(_ unionByName _)
        .groupBy(col(factKey)).agg(max(col(HasDel)).as(HasDel))
    }

    // materialize BEFORE sampling: the changelog walk + bounded fact
    // read lineage is the refresh's expensive subtree, and the old
    // collect-then-checkpoint order evaluated it twice whenever the
    // touched set spilled past the driver cap (sample job + checkpoint
    // job — measured ~1.4 s each on the sf0.1 join view). One
    // materialization now serves every tier; the sample is a cached-
    // block read. The driver-small tier pays one extra (cheap) job.
    // The delete-flag census rides the SAME checkpoint job via an
    // accumulator (the Dedup fixpoint-signature pattern): used only as
    // a >0 threshold, so task retries can inflate but never flip it,
    // and a successful materialization delivers every result-stage
    // update — sawDel == 0 PROVES the window held no non-insert row
    // for any touched key.
    val sawDel = touchedF.sparkSession.sparkContext
      .longAccumulator("jvWindowDeletes")
    val touchedC = graft.ProfStream.prof("jv touched ckpt") {
      touchedF.mapPartitions { it =>
        it.map { r => sawDel.add(r.getInt(1).toLong); r }
      }(org.apache.spark.sql.Encoders.row(touchedF.schema)).localCheckpoint()
    }
    val sample = graft.ProfStream.prof("jv touched collect") {
      touchedC.limit(tiers.driverKeyCap + 1).collect()
    }
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
    val smallNoNull = keyTypeSafe &&
      sample.length <= tiers.driverKeyCap && !sample.exists(_.isNullAt(0))
    if (smallNoNull) {
      // driver-small touched set (the common case): ONE action
      // materialized keys + delete flags; the fact read is exact via
      // pushed In filters, and the delete-marker leg runs only when
      // some key's window actually held a delete
      val factNow = inScan(fact, Some(curF), factKey,
        sample.map(_.get(0)).distinct.toSeq, tiers)
      // bound the DIM read by the touched slice's join keys: the dim
      // scales with the base while the affected slice is delta-sized,
      // and a full dim read here was the refresh's O(dim) term (the
      // r12 third-decade soak: 3.8 s against a 5M-row dim for 5k
      // facts). Exact for the LEFT join — dim rows with other keys
      // cannot match; null fact keys take the null arm regardless.
      // Values ship as SQL literals (In predicate), so SQL value
      // semantics apply even for types the driver-Set path refuses.
      val dimNow = {
        val jk = factNow.select(col(joinKey)).distinct()
          .limit(tiers.driverKeyCap + 1).collect()
        if (jk.length > tiers.driverKeyCap) dim.read(Some(curD))
        else inScan(dim, Some(curD), dimKey,
          jk.map(_.get(0)).filterNot(_ == null).toSeq, tiers)
      }
      val rows = graft.ProfStream.prof("jv rows ckpt") {
        enriched(factNow, dimNow, joinKey, dimKey, dimCols)
          .localCheckpoint()
      }
      val delCand = sample.filter(_.getInt(1) == 1).map(_.get(0)).toSeq
      val mergeInput =
        if (delCand.isEmpty) rows // insert-only window: nothing can vanish
        else {
          // vanished = delete-flagged keys minus the rows just rebuilt
          // (cheap collect on the checkpointed changelog-sized frame),
          // guarded to keys the view actually holds via a reads-only-
          // those-keys view scan (insert-then-delete within the window
          // must not plant a phantom row)
          val live = rows.select(col(factKey)).collect().map(_.get(0)).toSet
          val goneVals = delCand.filterNot(live)
          if (goneVals.isEmpty) rows
          else {
            val gone = inScan(viewT, None, factKey, goneVals, tiers)
              .select(col(factKey)).distinct()
            val nulls = rows.schema.fields.collect {
              case f if f.name != factKey && f.name != Live =>
                lit(null).cast(f.dataType).as(f.name)
            }.toSeq
            val markers = gone.select(
              (col(factKey) +: nulls :+ lit(0L).as(Live)): _*)
            rows.unionByName(markers).localCheckpoint()
          }
        }
      return graft.ProfStream.prof("jv merge") {
        // NO sourceKeyBounds assertion here: factKey uniqueness is the
        // USER's contract, and the merge's duplicate check is exactly
        // the loud gate the class doc promises on violation
        LakeDml.merge(viewT, mergeInput, Seq(factKey),
          strategy = strategy,
          deleteMatched = Some(col(s"_src_$Live") === 0),
          meta = extraMeta ++ Map(FactVersionKey -> curF.toString,
            DimVersionKey -> curD.toString,
            IncrementalView.RefreshModeKey -> "incremental"))
      }
    }

    // driver-large (or null-keyed, or reference-equality-keyed)
    // touched set: fully distributed path, derived from the shared
    // checkpoint above.
    val touched = touchedC.select(col(factKey))

    // current enriched state of every touched key, materialized ONCE:
    // the bloom-bounded fact read + exactness semi-join is this tier's
    // expensive subtree, and it used to run twice — once for the dim
    // bloom's key projection (checkpointed separately) and once inside
    // the enriched-rows checkpoint.
    val factNow = boundedRead(fact, curF, touched, factKey, tiers,
      keysMaterialized = true).localCheckpoint()
    // driver-large tier: a bloom of the touched slice's join keys
    // still bounds the dim scan (false positives keep extra dim rows
    // the LEFT join simply doesn't match — exact; nulls escape via
    // the kernel's isNull arm and can't match the plain === anyway).
    // The bloom's two actions read factNow's cached blocks.
    val dimNow = RuntimeFilter.bloomRowFilter(dim.read(Some(curD)), dimKey,
      factNow.select(col(joinKey).as(dimKey)))
    val rows = enriched(factNow, dimNow, joinKey, dimKey, dimCols)
      .localCheckpoint()

    // touched keys that vanished from the fact → delete markers, but
    // only for keys the view actually holds (insert-then-delete within
    // the window must not plant a phantom row). When the window was
    // provably insert-only (sawDel == 0 from the touched checkpoint's
    // census), every touched key still exists in the fact, so it is in
    // factNow and hence in rows — `gone` is empty BY CONSTRUCTION and
    // the whole marker leg (two joins, a view read, and a second
    // merge-source checkpoint) is skipped; the merge reads straight
    // from the `rows` checkpoint. A spurious nonzero (task retry) only
    // takes the slow path — never wrong, pinned by the chaos spec's
    // delete walks at distributed tiers.
    val mergeSrc =
      if (sawDel.value == 0L) rows
      else {
        val gone = touched
          .join(rows.select(col(factKey)), Seq(factKey), "left_anti")
          .join(viewT.read(None).select(col(factKey)), Seq(factKey), "left_semi")
        val markers = {
          val nulls = rows.schema.fields.collect {
            case f if f.name != factKey && f.name != Live =>
              lit(null).cast(f.dataType).as(f.name)
          }.toSeq
          gone.select((col(factKey) +: nulls :+ lit(0L).as(Live)): _*)
        }
        rows.unionByName(markers).localCheckpoint()
      }

    LakeDml.merge(viewT, mergeSrc, Seq(factKey),
      strategy = strategy,
      deleteMatched = Some(col(s"_src_$Live") === 0),
      meta = extraMeta ++ Map(FactVersionKey -> curF.toString,
        DimVersionKey -> curD.toString,
        IncrementalView.RefreshModeKey -> "incremental"))
  }

  private def latestMeta(t: LakeTable, key: String): Option[String] =
    t.latestMeta(key) // lazy newest-first walk, not an O(history) parse
}
