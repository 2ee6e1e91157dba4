package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** How a row-level DML statement materializes its result. */
sealed trait DmlStrategy
object DmlStrategy {
  /** Measure the touched-file footprint and pick: merge-on-read when
    * the statement touches a small fraction of the table's files,
    * copy-on-write when it rewrites most of them anyway (a delete
    * file covering every data file adds read cost for no write
    * savings). Threshold: `graft.lake.morMaxTouchedFileRatio`
    * (default 0.5).
    */
  case object Auto extends DmlStrategy
  /** Always rewrite touched snapshots whole (Iceberg v1 shape). */
  case object CopyOnWrite extends DmlStrategy
  /** Always write positional delete files (Iceberg v2 shape). */
  case object MergeOnRead extends DmlStrategy
}

/** Row-level DML over lake tables — the MERGE INTO / UPDATE / DELETE
  * surface the reference enables through
  * `IcebergSparkSessionExtensions` but never exercises
  * (/root/reference/dags/utils/constants/constant.py:48; SURVEY.md §4).
  *
  * Two materializations, selected per statement ([[DmlStrategy]]):
  *
  *  - **Copy-on-write**: one declarative read-transform-overwrite plan
  *    (filter / conditional projection / outer join) + one atomic
  *    snapshot commit. Simple reads, expensive writes.
  *  - **Merge-on-read** (Iceberg v2): matched rows become positional
  *    delete files; updated/inserted rows land in one small appended
  *    dir; every untouched file is carried forward byte-identical.
  *    At 100 TB this is the difference between a 1-row MERGE writing
  *    kilobytes and rewriting terabytes. Scans anti-join the delete
  *    files until the next [[LakeTable.compact]] folds them away.
  *
  * Both shapes are single Spark plans ending in one optimistic commit,
  * so Catalyst plans the heavy lifting and the commit inherits the
  * lake layer's snapshot isolation (`expectedBase` fails a statement
  * that raced a concurrent commit rather than losing it).
  */
object LakeDml {

  private def morMaxTouchedRatio: Double =
    sys.props.getOrElse("graft.lake.morMaxTouchedFileRatio", "0.5").toDouble

  /** Data files in the snapshot, counted from the filesystem listing.
    * (With manifest-level file lists this becomes pure metadata; the
    * recursive listing is the filesystem stand-in.)
    */
  private def dataFileCount(table: LakeTable, snap: Snapshot): Long =
    snap.dirs.map(d => table.io.countFiles(table.loc(d), ".parquet")).sum

  /** Upper-bound the statement's touched-file footprint from manifest
    * min/max stats alone — no data scan, no filesystem listing.
    * Returns `(candidateFiles, totalFiles)` when the bound is
    * meaningful: `preds` nonEmpty AND every data dir carries a stats
    * blob that covers at least one predicate column. Partial coverage
    * returns None (a vacuous bound would just bias the decision
    * toward copy-on-write), and the caller falls back to measuring.
    */
  private def statsBound(table: LakeTable, snap: Snapshot,
                         preds: Seq[LakePredicate]): Option[(Long, Long)] = {
    if (preds.isEmpty || snap.dirs.isEmpty) return None
    var cand = 0L
    var total = 0L
    val predCols = preds.map(_.col).toSet
    snap.dirs.indices.foreach { i =>
      val stats = FileStats.dirStats(snap, i, predCols)
        .getOrElse(return None) // a dir without stats — bound is vacuous
      val kept = stats.surviving(preds, snap.schema)
        .getOrElse(return None) // stats don't cover the predicate columns
      cand += kept.size
      total += stats.files.size
    }
    Some((cand, total))
  }

  /** Decide the strategy, preferring manifest stats over measurement,
    * then stage the positional-delete rows ONLY when merge-on-read won.
    *
    * Decision ladder (`statsPreds` = predicates IMPLIED by the
    * statement's match condition):
    *
    *  1. **Manifest stats** ([[statsBound]]): candidate files that
    *     could hold a matched row, counted from min/max blobs on the
    *     driver — zero Spark jobs. Zero candidates proves the
    *     statement matches nothing; a candidate count under the MOR
    *     threshold proves merge-on-read is safe (candidates
    *     upper-bound touched files). Over the threshold → copy-on-
    *     write (stats on the predicate columns are tight in practice;
    *     this is the same static call Iceberg's per-table
    *     write-mode property makes, made per statement).
    *  2. **Fallback aggregate** when stats are absent/inapplicable:
    *     one single-pass `(count, approx_count_distinct(file))` over
    *     the matched scan projected to the file-path metadata column —
    *     approx (HLL) instead of exact distinct keeps it one pass (no
    *     Expand), and a ±2% file-count error is irrelevant against a
    *     0.5 ratio threshold.
    *
    * When merge-on-read wins without measurement, the matched-row
    * count comes from the staged delete files' parquet footers (a
    * metadata-only count) — staging is never wasted work on a
    * copy-on-write statement, preserving the r4 finding that
    * staging-first measured 2× slower on COW shapes. A stats-decided
    * copy-on-write runs NO pre-jobs at all — the statement's total
    * cost is exactly the rewrite, as if no Auto decision existed. The
    * residual no-op case that decision could miss (candidates above
    * the threshold yet zero actual matches — stats egregiously loose
    * on more than half the files AND an empty match) commits a
    * content-identical overwrite; selective no-ops are caught free by
    * the zero-candidate check or the staged MOR count. Explicit
    * strategies report a zero/nonzero indicator from an `isEmpty`
    * probe (early-exits on the first match); `matched` is by-name so
    * paths that never measure never build the positional scan.
    */
  private def stageAndDecide(table: LakeTable, base: Snapshot,
                             matchedFrame: => DataFrame, strategy: DmlStrategy,
                             statsPreds: Seq[LakePredicate] = Nil)
      : (Option[org.apache.hadoop.fs.Path], Long) = {
    lazy val matched = matchedFrame

    // dot-prefixed staging name: invisible to manifests, reclaimed by
    // the orphan sweep if this statement dies before committing
    def stageFirst(): (Option[org.apache.hadoop.fs.Path], Long) = {
      val staged = table.loc(s"deletes/.staging-${java.util.UUID.randomUUID()}")
      DeleteFiles.toDeleteRows(matched, table.qualifiedRootPrefix)
        .write.mode("overwrite").parquet(staged.toString)
      // exact row count from the staged dir's parquet FOOTERS — zero
      // Spark jobs (the dir was just written by this driver); the
      // scanning count stays as the unreadable-footer fallback
      val rows = FileStats.dirRowCount(table.io, staged).getOrElse(
        matched.sparkSession.read.parquet(staged.toString).count())
      if (rows == 0) { table.io.delete(staged); (None, 0L) }
      else (Some(staged), rows)
    }

    strategy match {
      // an EXPLICIT strategy still gets the zero-candidate proof: when
      // manifest stats show no file can hold a matched row, staging
      // (or probing) would evaluate the target⋈source join — an
      // O(target) scan — only to find nothing. An insert-only MERGE
      // against a 100M-row MergeOnRead view paid exactly that before
      // this short-circuit (20 s staged-nothing joins in the r12
      // third-decade soak).
      case DmlStrategy.MergeOnRead => statsBound(table, base, statsPreds) match {
        case Some((0, _)) => (None, 0L) // provably no match: nothing to stage
        case _            => stageFirst()
      }
      case DmlStrategy.CopyOnWrite => statsBound(table, base, statsPreds) match {
        case Some((0, _)) => (None, 0L)
        case _            => (None, if (matched.isEmpty) 0L else 1L)
      }
      case DmlStrategy.Auto =>
        statsBound(table, base, statsPreds) match {
          case Some((cand, _)) if cand == 0 => (None, 0L) // provably no match
          case Some((cand, total)) =>
            // merge-on-read needs headroom: strictly fewer candidate
            // files than the table has (a delete file covering EVERY
            // file adds read cost for zero write savings — the
            // single-file table edge where max(1,·) alone would
            // always pick MOR)
            if (cand < total &&
                cand <= math.max(1L, (total * morMaxTouchedRatio).toLong)) stageFirst()
            else (None, 1L) // stats-decided COW: the rewrite is the only job
          case None =>
            val agg = matched.agg(count(lit(1)),
              approx_count_distinct(col(LakePos.FileCol))).head
            val (rows, touchedFiles) = (agg.getLong(0), agg.getLong(1))
            if (rows == 0) (None, 0L)
            else {
              val total = dataFileCount(table, base)
              if (touchedFiles < total &&
                  touchedFiles <= math.max(1L, (total * morMaxTouchedRatio).toLong)) {
                val staged = table.loc(s"deletes/.staging-${java.util.UUID.randomUUID()}")
                DeleteFiles.toDeleteRows(matched, table.qualifiedRootPrefix)
                  .write.mode("overwrite").parquet(staged.toString)
                (Some(staged), rows)
              } else (None, rows)
            }
        }
    }
  }

  /** Metadata-only DELETE (Iceberg's "metadata delete"): when manifest
    * stats PROVE every dir is either fully covered by the predicate
    * (all rows match: per-file ranges inside the bound, zero nulls on
    * covered columns) or provably untouched (no file range can
    * match), the statement is one manifest commit dropping the
    * fully-covered dirs — zero Spark jobs, zero rows read. This is the
    * 100 TB retention shape: `DELETE WHERE id < horizon` on an
    * append-ordered table drops whole commit dirs from metadata
    * instead of rewriting the warehouse. Requires LOSSLESS predicate
    * extraction ([[PredicateExtract.covering]] — strictness
    * preserved); any partial dir, stats gap, legacy blob (no null
    * counts), or unmappable conjunct declines to the measured paths.
    */
  private def metadataDelete(table: LakeTable, base: Snapshot,
                             cond: Column): Option[Snapshot] = {
    val covers = PredicateExtract.coveringFromCondition(
      table.read(Some(base.version)), cond).getOrElse(return None)
    if (covers.isEmpty) return None
    val full = scala.collection.mutable.ArrayBuffer.empty[Int]
    val coverCols = covers.map(_.col).toSet
    base.dirs.indices.foreach { i =>
      val stats = FileStats.dirStats(base, i, coverCols).getOrElse(return None)
      if (stats.allMatch(covers)) full += i
      else if (!stats.noneMatch(covers)) return None // partial
    }
    if (full.isEmpty) return None // pure no-op is the zero-candidate case
    val keepIdx = base.dirs.indices.filterNot(full.contains)
    // drop ONLY the dropped dirs' per-dir meta (stats/bytes/rows blobs,
    // plus the legacy single-blob key); every table-property key
    // (statsCols, sortOrder, bloomCols, field ids, view lineage, …)
    // survives untouched — a metadata delete rewrites membership, not
    // declarations
    val droppedKeys: Set[String] = full.iterator.map(base.dirs).flatMap { d =>
      Seq(FileStats.dirKey(d), FileStats.bytesKey(d),
        FileStats.rowsKey(d), FileStats.fileRowsKey(d))
    }.toSet ++ (if (base.dirs.size == 1) Set(FileStats.MetaKey) else Set.empty)
    val keptMeta = base.meta.filter { case (k, _) => !droppedKeys.contains(k) }
    Some(table.commit("delete", CommitChecks(base = Some(base.version)), (_, _) =>
      base.keepDirs(keepIdx).copy(meta = keptMeta)))
  }

  /** DELETE FROM t WHERE cond. Rows where `cond` is TRUE are removed;
    * FALSE and NULL rows are kept (SQL DELETE semantics).
    */
  def delete(table: LakeTable, cond: Column,
             strategy: DmlStrategy = DmlStrategy.Auto): Snapshot = {
    val base = table.latest.getOrElse(
      throw new IllegalStateException(s"empty lake table at ${table.rootLocation}"))
    val hit = coalesce(cond, lit(false))
    // top of the Auto ladder: a provable whole-dir delete commits
    // metadata only — no job at all
    if (strategy == DmlStrategy.Auto) metadataDelete(table, base, cond) match {
      case Some(snap) => return snap
      case None       => ()
    }
    // analysis-only extraction of the stats-boundable conjuncts of
    // `cond` — powers the zero-job strategy decision above
    val preds = PredicateExtract.fromCondition(table.read(Some(base.version)), cond)
    val (delRows, matchedRows) = stageAndDecide(table, base,
      table.readWithPos(Some(base.version)).where(hit), strategy, preds)
    delRows match {
      case _ if matchedRows == 0 => base // nothing matched: no new snapshot
      case Some(staged) => table.commitMor("delete", staged, None, base)
      case None =>
        val kept = table.read(Some(base.version)).where(!hit)
        table.write(kept, WriteMode.Overwrite, base.partitionBy,
          expectedBase = Some(base.version)) // fail instead of losing a concurrent commit
    }
  }

  /** UPDATE t SET col = expr, ... WHERE cond. All SET expressions and
    * the condition evaluate against the PRE-update row (one projection,
    * SQL UPDATE semantics) — a sequential foldLeft of withColumns would
    * feed already-updated columns into later SETs and the condition.
    */
  def update(table: LakeTable, cond: Column, set: Map[String, Column],
             strategy: DmlStrategy = DmlStrategy.Auto): Snapshot = {
    val base = table.latest.getOrElse(
      throw new IllegalStateException(s"empty lake table at ${table.rootLocation}"))
    val cols = base.schema.fieldNames.toSeq
    require(set.keySet.subsetOf(cols.toSet), s"unknown SET columns: ${set.keySet -- cols}")
    val hit = coalesce(cond, lit(false))
    // lazy: a stats-decided COW never builds the positional scan
    lazy val matched = table.readWithPos(Some(base.version)).where(hit)
    val preds = PredicateExtract.fromCondition(table.read(Some(base.version)), cond)
    val (delRows, matchedRows) = stageAndDecide(table, base, matched, strategy, preds)
    delRows match {
      case _ if matchedRows == 0 => base
      case Some(staged) =>
        // matched rows move: their old positions die, their updated
        // images append. Untouched rows never leave their files.
        val updated = matched.select(cols.map(c => set.getOrElse(c, col(c)).as(c)): _*)
        table.commitMor("update", staged, Some(updated), base)
      case None =>
        val df = table.read(Some(base.version))
        val out = cols.map { c =>
          set.get(c) match {
            case Some(e) => when(hit, e).otherwise(col(c)).as(c)
            case None    => col(c)
          }
        }
        table.write(df.select(out: _*), WriteMode.Overwrite, base.partitionBy,
          expectedBase = Some(base.version))
    }
  }

  /** MERGE INTO target USING source ON key equality:
    * WHEN MATCHED [AND cond] THEN DELETE / WHEN MATCHED THEN UPDATE
    * SET ... / WHEN NOT MATCHED THEN INSERT *.
    *
    * `set` maps target column name → expression over the joined row
    * (source columns are exposed as `_src_<name>`); when empty,
    * matched rows take all source columns (classic upsert). Source must
    * be key-unique (enforced — a multi-match MERGE is ambiguous and
    * errors in Iceberg/ANSI too). `deleteMatched` is the Iceberg/Delta
    * `WHEN MATCHED AND cond THEN DELETE` arm: matched rows satisfying
    * it (same joined namespace as `set`; null reads as false) are
    * removed instead of updated — the CDC-apply shape where a source
    * op column decides update vs delete in ONE commit.
    *
    * `sourceKeyBounds`: a caller whose source is key-unique BY
    * CONSTRUCTION (the output of a groupBy on the merge keys, or a
    * disjoint union of such) and already knows bounds every source
    * key satisfies (range predicates on key columns; Nil = none
    * known) passes them, and the merge runs no source aggregate: no
    * uniqueness check, no key-range pass. Asserting it for a source
    * that is NOT key-unique, or with bounds some key escapes, silently
    * produces wrong results — it is for provably-shaped internal
    * callers, not user-facing upserts.
    */
  def merge(table: LakeTable, source: DataFrame, keys: Seq[String],
            set: Map[String, Column] = Map.empty,
            insertNotMatched: Boolean = true,
            strategy: DmlStrategy = DmlStrategy.Auto,
            deleteMatched: Option[Column] = None,
            meta: Map[String, String] = Map.empty,
            sourceKeyBounds: Option[Seq[LakePredicate]] = None): Snapshot = {
    val base = table.latest.getOrElse(
      throw new IllegalStateException(s"empty lake table at ${table.rootLocation}"))
    val target = table.readWithPos(Some(base.version))
    val cols = base.schema.fieldNames.toSeq
    require(keys.nonEmpty && keys.forall(cols.contains), s"bad merge keys: $keys")
    require(keys.forall(source.columns.contains), s"merge keys missing from source: ${keys.filterNot(source.columns.contains)}")

    // ONE aggregate over the source covers three needs: the key-
    // uniqueness check, per-key min/max ranges (every matched target
    // row's key lies in the source's key range — the stats-boundable
    // predicate that lets the strategy decision skip scanning the
    // target), and per-key null counts (a null source key matches
    // null target keys through the null-safe join, which min/max
    // can't see — such a key contributes no range predicate)
    val keyPreds = sourceKeyBounds.getOrElse {
      val perKey = source.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_n"))
      val srcAggCols = max(col("_n")) +: keys.flatMap(k =>
        Seq(min(col(k)), max(col(k)), count(when(col(k).isNull, 1))))
      val srcAgg = perKey.agg(srcAggCols.head, srcAggCols.tail: _*).head
      val srcEmpty = srcAgg.isNullAt(0)
      require(srcEmpty || srcAgg.getLong(0) <= 1,
        "MERGE source has duplicate keys — ambiguous match")
      if (srcEmpty) Nil
      else keys.zipWithIndex.flatMap { case (k, i) =>
        val (lo, hi, nulls) = (srcAgg.get(1 + 3 * i), srcAgg.get(2 + 3 * i),
          srcAgg.getLong(3 + 3 * i))
        if (nulls > 0 || lo == null || hi == null) Nil
        else Seq(LakePredicate.GtEq(k, lo), LakePredicate.LtEq(k, hi))
      }
    }

    // presence markers instead of key-null tests: a null-safe (<=>)
    // join legitimately matches null-key rows on both sides, which
    // key-IS-NULL classification would misread as source-only
    val tgt = target.withColumn("_t_present", lit(true))
    val src = source.select(source.columns.map(c => col(c).as(s"_src_$c")).toSeq: _*)
      .withColumn("_s_present", lit(true))
    val joinCond = keys.map(k => tgt(k) <=> src(s"_src_$k")).reduce(_ && _)
    val joined = tgt.join(src, joinCond, "full_outer")
    val matched = tgt("_t_present").isNotNull && src("_s_present").isNotNull
    val srcOnly = tgt("_t_present").isNull
    // null-proofed delete arm; only meaningful on matched rows
    val del = deleteMatched.map(c => coalesce(c, lit(false))).getOrElse(lit(false))

    // resolve `_src_` columns only when they exist: a MERGE whose
    // source carries a subset of target columns is legal as long as the
    // missing columns are never taken from the source (covered by `set`
    // on match; null-filled on insert)
    val srcCols = source.columns.toSet
    def srcOr(c: String, alt: => Column): Column =
      if (srcCols.contains(c)) src(s"_src_$c") else alt
    def fromSrc(c: String): Column =
      if (set.nonEmpty) set.getOrElse(c, tgt(c))
      else srcOr(c, sys.error(s"MERGE source lacks column '$c'; supply `set` or a full-width source"))
    def insertCol(c: String): Column =
      if (insertNotMatched) srcOr(c, lit(null)) else lit(null)

    val (delRows, matchedRows) = stageAndDecide(table, base,
      joined.where(matched).select(tgt(LakePos.FileCol).as(LakePos.FileCol),
        tgt(LakePos.PosCol).as(LakePos.PosCol)), strategy, keyPreds)
    delRows match {
      case Some(staged) =>
        // only the rows the MERGE actually produces move; the rest of
        // the target stays in place (an insert-only MERGE of N rows
        // into a 100 TB table writes N rows)
        // delete-matched rows die with their staged positions and
        // produce no replacement image
        val produced = joined
          .where(if (insertNotMatched) (matched && !del) || srcOnly else matched && !del)
          .select(cols.map(c =>
            when(matched, fromSrc(c)).otherwise(insertCol(c)).as(c)): _*)
        table.commitMor("merge", staged, Some(produced), base, meta)
      case None if matchedRows == 0 =>
        // no matched rows — PROVEN, by manifest stats or by measuring
        // the matched frame: every source row is source-only, so the
        // MERGE reduces to appending the source AS IS (or to a no-op
        // when inserts are off). Critically, build the inserts from
        // the source frame alone: routing them through `joined` would
        // evaluate the full-outer join — an O(target) scan + shuffle
        // to append N rows, the exact cost the fast path exists to
        // avoid (an insert-only MERGE of N rows into a 100 TB table
        // writes N rows and reads ZERO target bytes; the round-12
        // third-decade soak measured the joined version at 61 s
        // against a 100M-row view for a 5k append).
        if (!insertNotMatched) base
        else {
          val inserts = src.select(cols.map(c =>
            insertCol(c).cast(base.schema(c).dataType).as(c)): _*)
          table.write(inserts, WriteMode.Append, Nil, meta = meta,
            expectedBase = Some(base.version))
        }
      case None =>
        // copy-on-write rewrite
        val out = cols.map { c =>
          when(matched, fromSrc(c))
            .when(srcOnly, insertCol(c))
            .otherwise(tgt(c)).as(c)
        }
        val merged = (if (insertNotMatched) joined else joined.where(!srcOnly))
          .where(!(matched && del))
          .select(out: _*)
        table.write(merged, WriteMode.Overwrite, base.partitionBy, meta = meta,
          expectedBase = Some(base.version))
    }
  }
}
