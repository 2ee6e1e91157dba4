package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Right-to-be-forgotten erasure across lake tables.
  *
  * A GDPR/CCPA deletion request must remove a subject's rows from
  * STORAGE, not just from the current snapshot: a merge-on-read delete
  * leaves the bytes in the old data files, and time travel keeps every
  * prior snapshot readable. [[forget]] therefore composes the three
  * primitives that together give physical erasure:
  *
  *  1. copy-on-write DELETE per table ([[LakeDml.delete]] forced to
  *     `CopyOnWrite`) — surviving rows rewrite into fresh files, so no
  *     NEW file contains the subject;
  *  2. full history expiry ([[LakeTable.expireSnapshotsOlderThan]])
  *     — prior snapshots stop being readable and their manifests drop;
  *  3. orphan sweep ([[LakeTable.removeOrphanFiles]] with zero grace)
  *     — the now-unreferenced old files (data, positional AND equality
  *     delete files — equality deletes store key VALUES, which are
  *     themselves personal data) leave the filesystem.
  *
  * Then it VERIFIES: every parquet file still under the table's data
  * root is scanned for the keys and the residual count is reported —
  * the auditor's number, measured from storage rather than inferred
  * from metadata.
  *
  * Tags and branches are retention anchors by design
  * ([[LakeTable.expireSnapshots]] flows around them), which means they
  * would silently PIN the subject's data; `forget` fails loud when any
  * exist instead of reporting an erasure it did not perform. Erasure
  * batches are legally bounded (a deletion request names subjects, not
  * corpora), so `keys` rides the DELETE as an `isin` literal — file
  * skipping prunes untouched files and the rewrite cost is bounded by
  * the files the subject actually occupies.
  */
object Privacy {

  /** Per-table erasure evidence: rows removed, the post-erasure
    * version, how much history was purged, and the storage-level
    * residual (must be 0).
    */
  final case class ErasureResult(ident: String, rowsDeleted: Long,
                                 version: Long, expiredSnapshots: Int,
                                 purgedDirs: Int, residualRows: Long)

  /** Erase `keys` from every (tableIdent, keyColumn) target. Returns
    * one [[ErasureResult]] per target, in input order.
    *
    * Retention anchors are validated for ALL targets before the first
    * delete — erasure is irreversible, so a bad second target must not
    * leave the batch half-applied with the first target's evidence
    * discarded by the throw (ADVICE r9). The orphan sweep is bounded
    * by the erasure start time rather than zero grace: a concurrent
    * committer stages its data dir BEFORE publishing the manifest, and
    * a zero-grace sweep could delete that staged dir and corrupt the
    * racer's commit; sweeping only dirs older than `t0` still removes
    * every pre-erasure residue file (the subject's bytes are by
    * definition older than the request) while never touching a dir
    * written after erasure began.
    */
  def forget(cat: LakeCatalog, targets: Seq[(String, String)],
             keys: Seq[Any]): Seq[ErasureResult] = {
    require(keys.nonEmpty, "empty erasure request")
    val resolved = targets.map { case (ident, keyCol) =>
      (ident, keyCol, cat.table(ident))
    }
    eraseAll(resolved, keys)
  }

  /** Cascade erasure into the AT-INGEST dedup index state under
    * `workDir` ([[graft.ops.IncrementalDedup]] /
    * [[graft.ops.IncrementalSemDedup]]): the subject's document ids —
    * and for the semantic index their EMBEDDING VECTORS, which are
    * content-derived personal data — live on in `bands/`, `shingles/`,
    * `buckets/`, `vecs/`, and `drops/` after the corpus tables are
    * scrubbed. Erases rows keyed by the subject's ids from every index
    * table present, with the same COW-delete + history-expiry +
    * orphan-sweep + storage-audit contract as [[forget]].
    *
    * Safe for the index semantics: deleting the subject's OWN rows
    * never changes another document's verdict (tombstones for other
    * documents keep their own ids), the COW rewrite preserves the
    * `bk`-bucketed layout ([[LakeDml.delete]] rewrites under
    * `base.partitionBy`), and the `graft.dedup.batch` idempotency
    * marker survives because it is carry-forward meta.
    */
  def forgetDedupIndex(spark: org.apache.spark.sql.SparkSession,
                       workDir: java.nio.file.Path,
                       keys: Seq[Any]): Seq[ErasureResult] = {
    require(keys.nonEmpty, "empty erasure request")
    // the whole cascade — INCLUDING target discovery — holds the work
    // dir's maintenance lock: an in-flight ingest trigger could
    // otherwise (a) make the FIRST commit to an index table after this
    // list was taken, leaving a subject-bearing table silently outside
    // the cascade, or (b) index PRE-rewrite slice bytes after the
    // final scrub (a reader that opened the slice before the in-place
    // rename keeps the old inode) — silent retention no rewrite
    // ordering can close. Under the lock the cascade runs strictly
    // between triggers and sees the post-trigger table set; the
    // erase-during-ingest race spec in IncrementalDedupSpec drives
    // both interleavings.
    WorkDirLock.withLock(workDir) {
      val targets = IndexTableNames.flatMap { name =>
        val t = new LakeTable(spark, workDir.resolve(name).toString)
        if (t.latest.isDefined) Some((name, "id", t)) else None
      }
      val arrivals = workDir.resolve("arrivals")
      val benchgrams = new LakeTable(spark, workDir.resolve("benchgrams").toString)
      // fail loud on a dir that is not an at-ingest work dir at all: a
      // typo'd path would otherwise report the cascade as trivially
      // complete while the real index still holds the subject. A
      // CONTAMINATION work dir whose corpus was entirely clean is
      // legitimate though — it has benchgrams/arrivals but no flags.
      require(targets.nonEmpty || benchgrams.latest.isDefined ||
          java.nio.file.Files.isDirectory(arrivals),
        s"no at-ingest state under $workDir — wrong work dir?")
      // the staging slices under arrivals/ hold the subject's RAW text
      // or vectors — more sensitive than any derived index row; erase
      // them too or the cascade's "residual 0" is a lie
      eraseAll(targets, keys) ++ eraseArrivals(spark, arrivals, keys).toSeq
    }
  }

  /** Rewrite every arrival slice file containing a subject row, IN
    * PLACE under its original file name — the streaming checkpoint
    * tracks consumed files by PATH, so keeping names means a later
    * ingest session neither re-processes the rewritten slices nor
    * loses its place. Slices are single-part by construction
    * ([[graft.ops.IncrementalDedup.ingestLoop]] writes coalesce(1)).
    * Returns None when there is no arrivals dir or no slices.
    */
  /** `Files.list`/`walk` return open directory streams — drain under
    * try/finally or every caller leaks a directory handle.
    */
  private def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Remove leftover `*.erasing` temp dirs under every batch dir of an
    * arrivals tree. A crash between an erasure's temp write and its
    * cleanup leaves one behind; it never holds the only copy (the
    * original part is replaced atomically AFTER the temp write), so
    * sweeping is always safe. Called by BOTH the erasure (before
    * rewriting) and the ingest scaffold (before its stream starts) —
    * a legacy non-underscore leftover is visible to the ingest's
    * `arrivals&#47;*&#47;*` glob and would otherwise be consumed as
    * brand-new arrivals, re-delivering possibly pre-erasure rows.
    *
    * Single-writer is ENFORCED, not assumed: every caller runs under
    * [[WorkDirLock]] (the ingest scaffold's slice-write phase, its
    * per-trigger bodies, and the erasure cascade all hold it), so a
    * sweep can never reap the temp dir of a LIVE rewrite in another
    * thread or process.
    */
  private[graft] def sweepErasingLeftovers(arrivals: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    if (!Files.isDirectory(arrivals)) return
    listDir(arrivals).filter(Files.isDirectory(_)).foreach { batch =>
      listDir(batch)
        .filter(_.getFileName.toString.endsWith(".erasing"))
        .foreach { leftover =>
          val walked = Files.walk(leftover)
          try walked.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
          finally walked.close()
        }
    }
  }

  private def eraseArrivals(spark: org.apache.spark.sql.SparkSession,
                            arrivals: java.nio.file.Path,
                            keys: Seq[Any]): Option[ErasureResult] = {
    import java.nio.file.{Files, Path, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    if (!Files.isDirectory(arrivals)) return None
    def subdirs(p: Path): Seq[Path] =
      listDir(p).filter(d =>
        Files.isDirectory(d) && !d.getFileName.toString.startsWith("_"))
    sweepErasingLeftovers(arrivals)
    val sliceDirs = subdirs(arrivals).flatMap(subdirs)
    if (sliceDirs.isEmpty) return None
    val idColMarker = arrivals.resolve("_id_col")
    require(Files.exists(idColMarker),
      s"$arrivals carries no _id_col marker — re-ingest once with the " +
        "current engine (the marker is written at ingest) or erase the " +
        "slices manually")
    val idCol = Files.readString(idColMarker).trim
    val paths = sliceDirs.map(_.toString)
    val cond = col(idCol).isin(keys: _*)
    validateKeyType(s"arrivals staging under $arrivals", idCol,
      spark.read.parquet(paths: _*).schema, keys)
    val hits = spark.read.parquet(paths: _*)
      .where(cond)
      .groupBy(FileKey.column.as("f")).agg(count(lit(1)).as("n"))
      .collect()
    val before = hits.map(_.getLong(1)).sum
    val hitDirs = hits.map(r => java.nio.file.Paths.get(
      new java.net.URI(r.getString(0))).getParent).distinct
    // validate EVERY hit slice before the first in-place rewrite (the
    // same validate-before-irreversible-act rule eraseAll applies to
    // anchors): a contract violation found mid-loop would otherwise
    // leave earlier slices rewritten with no ErasureResult to show
    // for them
    val hitParts = hitDirs.map { dir =>
      val parts = listDir(dir).filter(_.getFileName.toString.endsWith(".parquet"))
      require(parts.size == 1,
        s"$dir holds ${parts.size} part files; arrival slices are single-part " +
          "by the ingest contract (coalesce(1)). To recover: compact the " +
          "slice to one part under the SAME directory name (read it, " +
          "coalesce(1), rewrite, move the part in) and re-run the erasure, " +
          "or delete the slice dir manually if its batch was never consumed. " +
          "No slice has been rewritten by this request.")
      (dir, parts.head)
    }
    hitParts.foreach { case (dir, original) =>
      // underscore prefix keeps the temp dir invisible to the ingest
      // stream's arrivals/*/* file listing (same convention as the
      // _id_col marker) if we crash before cleanup
      val tmp = dir.resolveSibling("_" + dir.getFileName.toString + ".erasing")
      // three-valued logic: !cond is NULL (filtered out) for NULL-id
      // rows — coalesce keeps non-subject null-id rows in the slice
      spark.read.parquet(dir.toString).where(!coalesce(cond, lit(false)))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val newPart = listDir(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).head
      // same path, new bytes: invisible to the file-source checkpoint
      Files.move(newPart, original, StandardCopyOption.REPLACE_EXISTING)
      // Hadoop's checksummed local FS keeps a `.<name>.crc` sidecar
      // per file — the ORIGINAL's sidecar now mismatches the new
      // bytes and would fail every later read; carry the new file's
      // sidecar over under the original's checksum name
      val newCrc = tmp.resolve("." + newPart.getFileName.toString + ".crc")
      val originalCrc =
        original.resolveSibling("." + original.getFileName.toString + ".crc")
      if (Files.exists(newCrc))
        Files.move(newCrc, originalCrc, StandardCopyOption.REPLACE_EXISTING)
      else Files.deleteIfExists(originalCrc)
      val walked = Files.walk(tmp)
      try walked.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walked.close()
      // and the session's FileStatusCache still holds the OLD file
      // length for this path — refresh drops the stale listing
      spark.catalog.refreshByPath(dir.toString)
    }
    val residual = spark.read.parquet(paths: _*).where(cond).count()
    Some(ErasureResult("arrivals", before, version = 0,
      expiredSnapshots = 0, purgedDirs = hitDirs.length, residualRows = residual))
  }

  /** Index table layouts the at-ingest families maintain, all keyed
    * by document/vector `id`: the MinHash index (bands/shingles), the
    * semantic index (buckets/vecs), their shared tombstones (drops),
    * and the contamination screen's per-doc flags. (`benchgrams/`
    * holds only benchmark eval grams — no subject data — and is
    * deliberately NOT erased.)
    */
  private[graft] val IndexTableNames: Seq[String] =
    Seq("bands", "shingles", "drops", "buckets", "vecs", "flags")

  /** Catalog-wide erasure with DERIVED-TABLE discovery: erase `keys`
    * from EVERY table in the catalog whose current schema carries
    * `keyCol` — the base tables AND the subject-keyed derived state a
    * per-table request forgets about (an [[IncrementalView]] rollup
    * keyed by the subject still holds one row per erased user;
    * "delete the user from events" quietly leaves their aggregate
    * behind). Anchors pre-validate across the whole discovered set
    * before the first delete. A later refresh of an erased view stays
    * consistent: the base CoW delete is a rewrite commit, which the
    * view's incremental path detects and answers with a full rebuild
    * from the scrubbed source.
    *
    * Schema-name discovery is deliberately aggressive — under a
    * deletion request, ANY table carrying rows keyed by the subject
    * column must be scrubbed; pass `exclude` for tables where the
    * name collides with a non-subject meaning.
    */
  def forgetCatalog(cat: LakeCatalog, keyCol: String, keys: Seq[Any],
                    exclude: Seq[String] = Nil): Seq[ErasureResult] = {
    forgetDiscovered(discoverKeyTargets(cat, keyCol, exclude), keyCol, keys)
  }

  /** Tables whose current schema carries `keyCol` — discovery matches
    * the way Spark resolves columns: CASE-INSENSITIVE (a legacy table
    * cased `UID` still holds the subject and must not be silently
    * skipped); each target erases under its OWN spelling. Exposed so
    * the SQL procedure can discover ONCE for key typing and erasure.
    */
  private[graft] def discoverKeyTargets(cat: LakeCatalog, keyCol: String,
                                        exclude: Seq[String] = Nil)
      : Seq[(String, String, LakeTable)] = {
    val targets = cat.listTables()
      .filterNot(exclude.contains)
      .flatMap { id =>
        val t = cat.table(id)
        t.latest.flatMap(_.schema.find(_.name.equalsIgnoreCase(keyCol)))
          .map(f => (id, f.name, t))
      }
    require(targets.nonEmpty,
      s"no table in ${cat.warehouse} carries key column '$keyCol'")
    targets
  }

  /** Erase pre-discovered targets after validating key-type
    * uniformity: applying e.g. bigint keys to a string-typed column
    * makes Spark coerce the COLUMN, and '042' matches a request for
    * 42 — over-deleting a different subject (the ADVICE-r9
    * single-table bug, catalog edition). Integral widths may mix
    * (lossless widening); a string/numeric mix is ambiguous and fails
    * loud. Per-target key-vs-column validation then runs again inside
    * [[eraseAll]] for every erasure path.
    */
  private[graft] def forgetDiscovered(targets: Seq[(String, String, LakeTable)],
                                      keyCol: String,
                                      keys: Seq[Any]): Seq[ErasureResult] = {
    require(keys.nonEmpty, "empty erasure request")
    val kinds = targets.map { case (id, c, t) =>
      val dt = t.latest.get.schema(c).dataType
      import org.apache.spark.sql.types._
      val kind = dt match {
        case LongType | IntegerType | ShortType | ByteType => "integral"
        case StringType => "string"
        case other => s"unsupported($other)"
      }
      (id, kind)
    }
    require(kinds.map(_._2).distinct.size == 1 &&
        !kinds.head._2.startsWith("unsupported"),
      s"key column '$keyCol' has mixed/unsupported types across the catalog " +
        s"(${kinds.map { case (id, k) => s"$id:$k" }.mkString(", ")}) — " +
        "erasing with one key type would coerce columns and risk matching " +
        "the wrong subject; erase per table with typed keys instead")
    eraseAll(targets, keys)
  }

  /** Cascade erasure into a BITMAP SEGMENT store
    * ([[graft.ops.BitmapSegments]]): the subject's ids live on as BITS
    * inside every segment's Roaring bitmap — derived state a row-level
    * DELETE cannot reach, because the subject has no row of its own.
    * Every segment intersecting the keys is rewritten with
    * `bitmap64_remove` (exact ANDNOT — no rebuild from raw events,
    * which may already be scrubbed), then history expires, old files
    * sweep, and the residual audit re-reads every parquet file still
    * on disk and intersects its bitmaps with the keys: 0 = no bit of
    * the subject remains.
    *
    * `rowsDeleted` in the result counts segment ROWS scrubbed (rows
    * that contained at least one subject id); segments emptied by the
    * removal stay as empty segments — the slice legitimately has zero
    * members now. Cost: the keys ride as ONE broadcast bitmap literal,
    * the rewrite is bounded by the files whose segments intersect it,
    * and nothing ever re-scans the fact table.
    */
  def forgetSegments(segTbl: LakeTable, keys: Seq[Long],
                     bmCol: String = "bm"): ErasureResult = {
    import graft.functions.{BitmapFunctions => BF, BitmapOps}
    require(keys.nonEmpty, "empty erasure request")
    val anchors = segTbl.tags.map("tag " + _._1) ++ segTbl.branches.map("branch " + _._1)
    require(anchors.isEmpty,
      s"segment store has retention anchors (${anchors.mkString(", ")}) that " +
        "would pin the subject's data through expiry — drop them first")
    require(segTbl.read().schema.exists(_.name == bmCol),
      s"segment column '$bmCol' not in ${segTbl.rootLocation}'s schema")
    val keyBm = {
      val bm = new org.roaringbitmap.longlong.Roaring64Bitmap()
      keys.foreach(bm.addLong)
      lit(BitmapOps.toBytes(bm))
    }
    val hit = BF.bitmap64_and_count(col(bmCol), keyBm) > 0
    val t0 = System.currentTimeMillis()
    // pre-image hit count pinned to the pre-update version: a read-only
    // job over files the update never mutates (CoW writes new files),
    // so it overlaps the update's scan+rewrite commit (guide §2.6)
    // (both settle before an update failure rethrows)
    val preV = segTbl.latest.map(_.version)
    val (snap, before) = graft.Async.both(segTbl.spark)(
      LakeDml.update(segTbl, hit, Map(bmCol -> BF.bitmap64_remove(col(bmCol), keyBm)),
        strategy = DmlStrategy.CopyOnWrite),
      segTbl.read(preV).where(hit).count())
    val (expired, dirsFromExpiry) =
      segTbl.expireSnapshotsOlderThan(System.currentTimeMillis() + 1)
    val orphans =
      segTbl.removeOrphanFiles(graceMs = math.max(0L, System.currentTimeMillis() - t0))
    ErasureResult(segTbl.rootLocation, before, snap.version, expired,
      dirsFromExpiry + orphans,
      residualRows = segmentResidual(segTbl, keyBm, bmCol))
  }

  /** Storage-level audit for segment stores: rows whose bitmap still
    * intersects the keys, across every parquet file under the data
    * roots (referenced or not). 0 = no subject bit remains.
    */
  /** Every dir still on disk under the table's data roots,
    * manifest-referenced or not — the denominator of a storage-level
    * audit. Missing roots are legitimately empty; any OTHER listing
    * failure propagates (a swallowed IO blip would report "0 residual"
    * without scanning anything — the silent-success failure class).
    */
  private def auditDirs(t: LakeTable): Seq[String] =
    Seq("data", "eqdeletes").flatMap { sub =>
      try t.io.list(t.loc(sub)).map(_.getPath.toString)
      catch { case _: java.io.FileNotFoundException => Nil }
    }

  private[lake] def segmentResidual(t: LakeTable, keyBm: org.apache.spark.sql.Column,
                                    bmCol: String): Long = {
    import graft.functions.{BitmapFunctions => BF}
    val dirs = auditDirs(t)
    if (dirs.isEmpty) return 0L
    t.spark.read
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(bmCol,
          org.apache.spark.sql.types.BinaryType, nullable = true))))
      .parquet(dirs: _*)
      .where(col(bmCol).isNotNull && BF.bitmap64_and_count(col(bmCol), keyBm) > 0)
      .count()
  }

  /** Fail loud when the runtime type of `keys` cannot be applied to
    * the key column WITHOUT coercing the column: bigint keys against a
    * string column make Spark cast the COLUMN, so '042' matches a
    * request for 42 and a different subject's data is erased with the
    * residual audit (same coerced predicate) still reporting 0.
    * Integral keys may be narrower/wider than an integral column —
    * widening is lossless in both directions for equality.
    */
  private def validateKeyType(what: String, keyCol: String,
                              schema: org.apache.spark.sql.types.StructType,
                              keys: Seq[Any]): Unit = {
    import org.apache.spark.sql.types._
    val dt = schema.find(_.name == keyCol).map(_.dataType).getOrElse(
      throw new IllegalArgumentException(s"$what has no column '$keyCol'"))
    val ok = dt match {
      case LongType | IntegerType | ShortType | ByteType => keys.forall {
        case _: Long | _: Int | _: Short | _: Byte => true
        case _ => false
      }
      case StringType => keys.forall(_.isInstanceOf[String])
      case _ => false
    }
    require(ok,
      s"$what keys '$keyCol' as $dt but the request carries " +
        s"${keys.map(_.getClass.getSimpleName).distinct.mkString("/")} keys — " +
        "matching would coerce the COLUMN and can erase the wrong subject; " +
        "pass keys of the column's type")
  }

  private def eraseAll(targets: Seq[(String, String, LakeTable)],
                       keys: Seq[Any]): Seq[ErasureResult] = {
    // validate retention anchors AND key-vs-column types for ALL
    // targets BEFORE the first delete — erasure is irreversible, so a
    // bad later target must not leave the batch half-applied with the
    // completed targets' evidence discarded by the throw (ADVICE r9),
    // and a coercing key type must never reach a single isin (the
    // over-delete class — see validateKeyType)
    targets.foreach { case (ident, keyCol, t) =>
      val anchors = t.tags.map("tag " + _._1) ++ t.branches.map("branch " + _._1)
      require(anchors.isEmpty,
        s"'$ident' has retention anchors (${anchors.mkString(", ")}) that " +
          "would pin the subject's data through expiry — drop them first")
      validateKeyType(s"'$ident'", keyCol,
        t.latest.map(_.schema).getOrElse(t.read().schema), keys)
    }
    val t0 = System.currentTimeMillis()
    def eraseOne(ident: String, keyCol: String, t: LakeTable): ErasureResult = {
      val cond = col(keyCol).isin(keys: _*)
      // pre-image hit count pinned to the pre-delete version: a
      // read-only job over files the CoW delete never mutates, so it
      // overlaps the delete's scan+rewrite commit on a concurrent
      // action thread (guide §2.6 — the forgetSegments pattern).
      // Settled BEFORE expiry, which is what actually removes the
      // pre-delete files this count reads, and before a delete
      // failure rethrows.
      val preV = t.latest.map(_.version)
      val (snap, before) = graft.Async.both(t.spark)(
        LakeDml.delete(t, cond, strategy = DmlStrategy.CopyOnWrite),
        t.read(preV).where(cond).count())
      val (expired, dirsFromExpiry) =
        t.expireSnapshotsOlderThan(System.currentTimeMillis() + 1)
      // sweep bounded by the erasure start time, not zero grace: a
      // concurrent committer stages its data dir BEFORE publishing its
      // manifest, and a zero-grace sweep could delete that staged dir
      // and corrupt the racer's commit. Everything the subject ever
      // touched predates t0, so the sweep still removes every
      // pre-erasure residue file (ADVICE r9).
      val orphans =
        t.removeOrphanFiles(graceMs = math.max(0L, System.currentTimeMillis() - t0))
      ErasureResult(ident, before, snap.version, expired,
        dirsFromExpiry + orphans, residualRows = residual(t, keyCol, keys))
    }
    // DISTINCT tables run concurrently (disjoint roots, own
    // manifests; each pays several fixed-cost jobs, so batch
    // wall-clock is max-of-tables, not sum); repeated entries for the
    // SAME table — a request erasing two key columns — stay
    // sequential within their table's future (concurrent self-CAS
    // would conflict) and results return in input order
    val indexed = targets.zipWithIndex
    val perTable = indexed.groupBy(_._1._3.rootLocation).values.toSeq
      .map(group => graft.Async(group.head._1._3.spark)(group.map {
        case ((ident, keyCol, t), i) => i -> eraseOne(ident, keyCol, t)
      }))
    // await EVERY future before deciding the outcome: a runtime
    // failure on one table must neither discard the evidence of
    // erasures that DID complete (the compliance record of an
    // irreversible act) nor leave sibling erasures running
    // unsupervised past the caller's exception
    val settled = perTable.map(graft.Async.settle)
    val failures = settled.collect { case scala.util.Failure(e) => e }
    val completed = settled.collect { case scala.util.Success(rs) => rs }
      .flatten.sortBy(_._1).map(_._2)
    if (failures.nonEmpty)
      throw new IllegalStateException(
        s"erasure batch partially failed on ${failures.size} table(s); " +
          "COMPLETED (irreversible) erasures: " +
          completed.map(r => s"${r.ident}(rows=${r.rowsDeleted}," +
            s"residual=${r.residualRows})").mkString("; "),
        failures.head)
    completed
  }

  /** Storage-level audit: read every parquet file still present under
    * the table's data/eqdeletes roots (manifest-referenced or not) and
    * count rows matching the keys. 0 = physically erased. ONE
    * column-pruned scan over all dirs — the explicit single-column
    * schema makes files that lack the key column (eq-delete files for
    * other keys) read as nulls instead of failing, and keeps the audit
    * a single Spark job however many dirs a 100 TB table holds.
    */
  private[lake] def residual(t: LakeTable, keyCol: String, keys: Seq[Any]): Long = {
    val spark = t.spark
    val dirs = auditDirs(t)
    // fail loud on a missing key column: residual is a public audit
    // entry point, and "0 rows" from a misspelled/renamed column would
    // report 'physically erased' without scanning a single file
    val field = t.read().schema.find(_.name == keyCol).getOrElse(
      throw new IllegalArgumentException(
        s"audit key column '$keyCol' not in ${t.rootLocation}'s current schema"))
    if (dirs.isEmpty) return 0L
    spark.read
      .schema(org.apache.spark.sql.types.StructType(Seq(field.copy(nullable = true))))
      .parquet(dirs: _*)
      .where(col(keyCol).isin(keys: _*)).count()
  }
}
