package graft.lake

import java.nio.file.{Path, Paths}
import java.util.UUID
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Minimal Iceberg-semantics lake table layer over versioned Parquet
  * snapshots.
  *
  * The reference writes catalog-qualified Iceberg tables with
  * `format("iceberg").mode("overwrite").saveAsTable(...)` and enables
  * the Iceberg session extensions (MERGE/UPDATE/DELETE, time travel,
  * compaction) without exercising them
  * (/root/reference/dags/etl.py:49-54, dags/utils/constants/constant.py:43-50).
  * No Iceberg runtime jar exists for Spark 4.1/Scala 2.13 in this
  * offline env (SURVEY.md §7.1), so this layer re-implements the
  * *semantics* natively:
  *
  *   - immutable snapshot data directories + JSON manifests under
  *     `_versions/`; readers resolve a version first, then read only
  *     that version's immutable files → snapshot isolation (the
  *     behavior the reference's `iceberg-concurrent-write-isolation-test`
  *     session probed);
  *   - commits claim `vN.claim` with an atomic exclusive create, write
  *     the manifest to a temp file, and atomically rename it to
  *     `vN.json` — readers only ever see complete manifests;
  *   - overwrite / append / compact / delete / update / merge each
  *     produce a new snapshot; old versions stay readable (time travel).
  *
  * Layout (relocatable — manifests hold paths relative to the table root):
  * {{{
  *   warehouse/<namespace>/<table>/
  *     _versions/v00000001.json       manifest per committed snapshot
  *     data/<uuid>/part-*.parquet     immutable per-commit data dirs
  * }}}
  *
  * Scale notes: manifests store data *directories*, one per commit, so
  * manifest size grows with commits, not files; `compact()` folds all
  * dirs into one sized-partition dir. Partitioned tables
  * (`partitionBy`) keep hive-style dirs inside each commit dir and are
  * read with `basePath`, so Catalyst partition-prunes within every
  * commit dir.
  */
final case class Snapshot(
    version: Long,
    op: String,
    dirs: Seq[String],          // relative to table root
    partitionBy: Seq[String],
    schemaJson: String,
    timestampMs: Long,
    meta: Map[String, String] = Map.empty,
    // physical (write-time) schema per dir, parallel to `dirs`; empty
    // means every dir was written under `schemaJson` (pre-evolution
    // manifests). Lets rename/drop/widen be METADATA-ONLY commits:
    // files keep their written column names, reads align by field id.
    dirSchemaJsons: Seq[String] = Nil,
    // merge-on-read positional delete dirs (Iceberg v2 semantics):
    // each holds parquet files of (_file, _pos) rows naming deleted
    // positions in the data dirs; scans anti-join them out. Appends
    // carry them forward; overwrite/compact clear them (a rewrite
    // folds deletes into the data).
    deleteDirs: Seq[String] = Nil,
    // partition spec per dir (';'-joined spec strings, parallel to
    // `dirs`; empty string = unpartitioned dir, Nil = every dir was
    // written under `partitionBy`). Spec EVOLUTION (Iceberg's
    // `ALTER TABLE ... REPLACE PARTITION FIELD`) records each
    // generation's layout here: old dirs keep their directories and
    // still prune via their own spec, new writes land under the
    // current one.
    dirSpecs: Seq[String] = Nil,
    // equality delete entries (Iceberg v2's second delete-file kind),
    // encoded "<seq>|<cols>|<dir>" (EqDelete): each dir holds parquet
    // rows of KEY VALUES deleting every matching row in data dirs with
    // commit sequence < seq. The upsert write path (streaming CDC
    // ingest) appends a data dir + one of these per batch — no
    // read-modify-write. Carried like positional deletes; cleared by
    // rewrites (overwrite/compact fold them into the data).
    eqDeletes: Seq[String] = Nil,
    // commit sequence per data dir, parallel to `dirs` (Iceberg's
    // data-sequence-number): the version whose commit added the dir.
    // Nil = legacy manifest, all dirs sequence 0 — every equality
    // delete (whose seq is a real version >= 1) applies to them.
    dirSeqs: Seq[Long] = Nil) {
  def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  def dirSchemaJson(i: Int): String =
    if (dirSchemaJsons.isEmpty) schemaJson else dirSchemaJsons(i)
  def dirSpec(i: Int): Seq[String] =
    if (dirSpecs.isEmpty) partitionBy else Snapshot.splitSpec(dirSpecs(i))
  def dirSeq(i: Int): Long = if (dirSeqs.isEmpty) 0L else dirSeqs(i)
  /** Dirs of equality delete entries (for liveness/maintenance). */
  def eqDeleteDirs: Seq[String] = eqDeletes.map(EqDelete.decode(_).dir)

  /** Every dir with its write-time schema, spec and commit sequence. */
  private[lake] def entries: Seq[DirEntry] = dirs.indices.map(i =>
    DirEntry(dirs(i), dirSchemaJson(i), Snapshot.joinSpec(dirSpec(i)), dirSeq(i)))
  /** This snapshot over `es`, every per-dir list spelled out (a commit
    * stores a uniform one as Nil).
    */
  private[lake] def withEntries(es: Seq[DirEntry]): Snapshot =
    copy(dirs = es.map(_.dir), dirSchemaJsons = es.map(_.schemaJson),
      dirSpecs = es.map(_.spec), dirSeqs = es.map(_.seq))
  /** Only the dirs at `idx`, each keeping its schema, spec and sequence;
    * delete files and meta are unchanged.
    */
  private[lake] def keepDirs(idx: Seq[Int]): Snapshot = withEntries(idx.map(entries))
  /** Adds dirs a commit wrote, under the table spec unless `spec` says. */
  private[lake] def addDirs(ds: Seq[String], dirSchemaJson: String, seq: Long,
                            spec: String = Snapshot.joinSpec(partitionBy)): Snapshot =
    withEntries(entries ++ ds.map(DirEntry(_, dirSchemaJson, spec, seq)))
  private[lake] def plusMeta(m: Map[String, String]): Snapshot = copy(meta = meta ++ m)
  /** Reads the same data and delete files as `o`, each data dir at the
    * same commit sequence: no row was added or removed between them.
    */
  private[lake] def sameFiles(o: Snapshot): Boolean =
    dirs == o.dirs && dirs.indices.forall(i => dirSeq(i) == o.dirSeq(i)) &&
      deleteDirs == o.deleteDirs && eqDeletes == o.eqDeletes
  /** The field-id high-water mark ([[SchemaIds.LastIdKey]]): it keeps a
    * dropped column's id from ever being reissued.
    */
  private[lake] def idFloor: Long = meta.get(SchemaIds.LastIdKey).fold(0L)(_.toLong)
  /** A per-dir list uniform with its table-level value stored as Nil —
    * keeps pre-evolution manifests small.
    */
  private[lake] def compacted: Snapshot = copy(
    dirSchemaJsons = if (dirSchemaJsons.forall(_ == schemaJson)) Nil else dirSchemaJsons,
    dirSpecs =
      if (dirSpecs.forall(_ == Snapshot.joinSpec(partitionBy))) Nil else dirSpecs,
    dirSeqs = if (dirSeqs.forall(_ == 0L)) Nil else dirSeqs)
}

/** One manifest dir with its write-time schema json, joined partition
  * spec and commit sequence.
  */
private[lake] final case class DirEntry(dir: String, schemaJson: String, spec: String, seq: Long)

object Snapshot {
  /** ';' separates spec entries in the manifest — specs themselves
    * contain commas (`bucket(4, c)`), so ',' would be ambiguous.
    */
  def joinSpec(spec: Seq[String]): String = spec.mkString(";")
  def splitSpec(s: String): Seq[String] =
    if (s.isEmpty) Nil else s.split(';').toSeq.map(_.trim).filter(_.nonEmpty)

  /** Prefixes of the meta keys bound to one dir (`<prefix><dir>`). */
  private[lake] val PerDirMetaPrefixes = Seq(FileStats.DirKeyPrefix, FileStats.BytesKeyPrefix,
    FileStats.RowsKeyPrefix, FileStats.FileRowsKeyPrefix, FileStats.HiveColsKeyPrefix)

  /** A snapshot with no dirs; [[LakeTable.commit]] stamps its version,
    * op and time.
    */
  private[lake] def empty(partitionBy: Seq[String], schemaJson: String,
                          meta: Map[String, String] = Map.empty): Snapshot =
    Snapshot(0L, "", Nil, partitionBy, schemaJson, 0L, meta)

  /** The carry-forward rule of every commit that keeps the base's dirs
    * (append, upsert, merge-on-read DML, metadata-only commits): under
    * the commit's spec and schema, each base dir keeps its write-time
    * schema, spec and sequence, and the base's delete files ride along
    * (a rewrite replaces them instead). Of the meta, what is bound to
    * the dirs rides with them:
    *  - per-dir file stats and the table's stats/bloom/sort/auto-compact
    *    declarations — unless `carryStats` is off (schema evolution:
    *    a rename could make old-name stats prune a future same-named
    *    column); a legacy single-blob key is upgraded to the per-dir
    *    form on the way through;
    *  - per-dir byte sizes, row counts and hive-layout markers, which
    *    survive schema evolution (a rename changes none of them);
    *  - CHECK constraints, which are table properties: a schema
    *    evolution must not silently disarm validation;
    *  - the field-id high-water mark, which must outlive every commit
    *    or a later append could reissue a dropped column's id.
    * With no base it is the empty snapshot.
    */
  private[lake] def carry(base: Option[Snapshot], partitionBy: Seq[String], schemaJson: String,
                          carryStats: Boolean = true): Snapshot =
    base.fold(empty(partitionBy, schemaJson)) { b =>
      val stats: Map[String, String] =
        if (!carryStats) Map.empty
        else {
          val legacy = b.meta.get(FileStats.MetaKey) match {
            case Some(blob) if b.dirs.size == 1 => Map(FileStats.dirKey(b.dirs.head) -> blob)
            case _ => Map.empty[String, String]
          }
          legacy ++ b.meta.filter { case (k, _) =>
            k == FileStats.StatsColsKey || k == FileStats.BloomColsKey ||
              k == FileStats.SortOrderKey || k == FileStats.AutoCompactKey ||
              k.startsWith(FileStats.DirKeyPrefix)
          }
        }
      val dirMeta = b.meta.filter { case (k, _) =>
        k.startsWith(FileStats.BytesKeyPrefix) || k.startsWith(FileStats.RowsKeyPrefix) ||
          k.startsWith(FileStats.FileRowsKeyPrefix) || k.startsWith(FileStats.HiveColsKeyPrefix) ||
          k.startsWith(LakeChecks.KeyPrefix) || k == SchemaIds.LastIdKey
      }
      b.withEntries(b.entries)
        .copy(partitionBy = partitionBy, schemaJson = schemaJson, meta = stats ++ dirMeta)
    }
}

/** What [[LakeTable.commit]] re-checks against every base it tries,
  * and the lineage it commits to.
  *
  * @param base     the version a read-modify-write (DML, compaction,
  *                 metadata-only change) read: any other base fails the
  *                 commit rather than silently discard a concurrent one
  * @param schema   the base schema an append merged against (None =
  *                 empty table): publishing over a concurrently changed
  *                 schema would hide that change or mint colliding ids
  * @param spec     the spec an append resolved against its base: a lost
  *                 claim race that rebases onto a differently
  *                 partitioned base must not union incompatible dirs (an
  *                 empty base spec stays appendable)
  * @param branch   branch lineage to commit to (None = main)
  * @param firstVersion the version the first commit of an empty lineage
  *                 takes (a clone lands at its source's version)
  */
private[lake] final case class CommitChecks(
    base: Option[Long] = None,
    schema: Option[Option[String]] = None,
    spec: Option[Seq[String]] = None,
    branch: Option[String] = None,
    firstVersion: Long = 1L) {
  def verify(cur: Option[Snapshot], root: String): Unit = {
    base.foreach { eb =>
      val v = cur.map(_.version).getOrElse(0L)
      if (v != eb) throw new java.util.ConcurrentModificationException(
        s"table $root moved from v$eb to v$v since the operation read its base; retry the operation")
    }
    for (s <- spec; b <- cur if b.partitionBy.nonEmpty && b.partitionBy != s)
      throw new java.util.ConcurrentModificationException(
        s"append spec $s no longer matches table spec ${b.partitionBy} at $root " +
          "(spec changed concurrently); retry the append")
    schema.foreach { expected =>
      if (cur.map(_.schemaJson) != expected)
        throw new java.util.ConcurrentModificationException(
          s"table $root schema changed concurrently since the append was planned; retry the append")
    }
  }
}

sealed trait WriteMode
object WriteMode {
  case object Overwrite extends WriteMode
  case object Append extends WriteMode
}

object LakeTable {
  /** Lease horizon for orphaned-claim recovery (override for tests via
    * -Dgraft.lake.staleClaimMs).
    */
  def StaleClaimMs: Long =
    sys.props.getOrElse("graft.lake.staleClaimMs", "60000").toLong

  /** Commit ops that move no data — incremental walks always pass over
    * them. (`rewrite-deletes` folds delete FILES; the data dirs an
    * append-feed delivers are untouched by it.)
    */
  private[graft] val MetadataOps =
    Set("create", "rename", "add-column", "drop", "widen", "set-spec", "rewrite-deletes",
      "add-check", "drop-check", "set-autocompact", "set-meta")

  /** A manifest dir entry OUTSIDE the table root: an absolute URI (or
    * absolute path) registered by [[LakeTable.addFiles]]. Owned dirs
    * are always root-relative (`data/<uuid>`), so the forms never
    * collide. External dirs are data the table references but does NOT
    * own — maintenance never deletes them; a rewrite (compact/DML/
    * overwrite) adopts their rows into owned dirs.
    */
  private[graft] def externalDir(d: String): Boolean =
    d.startsWith("/") || d.contains(":/")

  /** Commit-meta keys under this prefix survive compaction (binpack,
    * where-scoped, full rewrite) the way declarations do — the
    * durable-marker contract for application state such as streaming
    * idempotency watermarks ([[graft.ops.IncrementalDedup]]'s batch
    * marker). Without it, a compaction landing between an append and
    * its foreachBatch checkpoint would erase the marker and a replayed
    * micro-batch would double-append.
    */
  val CarryMetaPrefix = "graft.carry."
}

/** An incremental walk needed snapshot `version`, but its manifest is
  * gone (expired by retention): the walk cannot deliver the changes
  * across it. Views catch this by type and rebuild.
  */
final class SnapshotExpiredException(val version: Long, root: String)
  extends IllegalStateException(
    s"snapshot v$version of $root is gone (expired?); incremental reads need " +
      "snapshot retention >= the read window")

/** An incremental walk ([[LakeTable.appendedDirs]]) covered a commit
  * that REWROTE data (overwrite/compact/DML). Callers surface their own
  * recovery advice (restart checkpoint, widen the range, opt into
  * skipping).
  */
final class RewriteCommitException(val version: Long, val op: String, root: String)
  extends IllegalStateException(
    s"commit v$version of $root is a data-rewriting '$op'; incremental reads deliver " +
      "appends only. Pass skipRewrites=true to pass over rewrite commits (their row " +
      "changes are not delivered), or re-read the full table.")

final class LakeTable(val spark: SparkSession, rootSpec: String) {
  /** Local java.nio constructor (tests, local tools). */
  def this(spark: SparkSession, root: Path) = this(spark, root.toString)

  private[graft] val io = new LakeIo(
    new HPath(rootSpec).getFileSystem(spark.sessionState.newHadoopConf()))
  /** Qualified Hadoop root — the canonical table location, any scheme. */
  private[lake] val rootQ: HPath = io.qualify(new HPath(rootSpec))
  /** Scheme-qualified location string (for options, manifests, logs). */
  def rootLocation: String = rootQ.toString
  /** Absolute location of a child path under the table root. */
  private[graft] def loc(child: String): HPath = new HPath(rootQ, child)
  def location(child: String): String = loc(child).toString
  /** Local-filesystem view of the root — only valid for `file://`
    * warehouses (tests and local tooling); cluster code should use
    * [[rootLocation]]/[[location]].
    */
  lazy val root: Path = Paths.get(rootQ.toUri)
  override def toString: String = rootLocation

  /** The scheme-appropriate atomic claim/publish primitives. */
  private[lake] val arbiter: CommitArbiter = CommitArbiter.forRoot(io, rootQ)

  private def versionsDir: HPath = loc("_versions")

  // a branch is a parallel commit lineage under _branches/<name>/ with
  // its own claim/manifest sequence; its manifests reference data dirs
  // under the SAME table root, so every read/commit helper (scan,
  // stats, delete application) works on branch snapshots unchanged
  private def lineageVersionsDir(branch: Option[String]): HPath =
    branch.map(b => loc(s"_branches/$b")).getOrElse(versionsDir)
  private def lineageManifestPath(branch: Option[String], v: Long): HPath =
    new HPath(lineageVersionsDir(branch), f"v$v%08d.json")
  private def lineageLatest(branch: Option[String]): Option[Snapshot] =
    branch.fold(latest)(branchHead)

  private def manifestPath(v: Long): HPath = new HPath(versionsDir, f"v$v%08d.json")

  private def manifestNames(): Seq[String] =
    io.list(versionsDir).map(_.getPath.getName)
      .filter(_.matches("v\\d{8}\\.json")).sorted

  def history: Seq[Snapshot] =
    manifestNames().flatMap(n => Manifest.read(io, new HPath(versionsDir, n)))

  /** Snapshot metadata as a DataFrame — the engine's analog of
    * Iceberg's `<table>.snapshots` / `<table>.history` metadata tables
    * (queryable audit surface over commits).
    */
  def snapshots: DataFrame = {
    val sp = spark
    import sp.implicits._
    history
      .map(s => (s.version, s.op, s.timestampMs, s.dirs.size,
        s.partitionBy.mkString(","), s.deleteDirs.size))
      .toDF("version", "op", "timestamp_ms", "n_dirs", "partition_by", "n_delete_dirs")
  }

  /** Iceberg's `<table>.refs` metadata table: named refs (tags) with
    * the snapshot they pin.
    */
  def refsTable: DataFrame = {
    val sp = spark
    import sp.implicits._
    tags.map { case (n, v) => (n, "tag", v) }
      .toDF("name", "type", "version")
  }

  /** Iceberg's `<table>.files` metadata table: one row per data file
    * of the snapshot — relative path, commit dir, partition subpath
    * ('' for unpartitioned), on-disk size, and the LIVE record count
    * (merge-on-read deletes already subtracted; a fully-deleted file
    * reports 0). File paths/sizes come from the manifest-dir listing
    * (driver-side metadata scale); record counts are one column-less
    * distributed aggregate over the snapshot.
    */
  def files(version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, regexp_extract, substring}
    val snap = resolve(version)
    val sp = spark
    import sp.implicits._
    val listed = snap.dirs.flatMap { d =>
      val it = if (io.isDir(loc(d))) Some(io.fs.listFiles(loc(d), true)) else None
      val b = Seq.newBuilder[(String, String, Long)]
      it.foreach { i =>
        while (i.hasNext) {
          val st = i.next()
          if (st.getPath.getName.endsWith(".parquet"))
            b += ((s"$d/${FileStats.relativeKey(st.getPath.toString, new HPath(d).getName)}",
              d, st.getLen))
        }
      }
      b.result()
    }
    // record_count semantics are LIVE rows per file. On a delete-free
    // snapshot those are the write-time footer counts recorded in the
    // manifest (legacy dirs: one driver-side footer pass) — no data
    // scan, the Iceberg manifests-only files table. Live delete files
    // mask rows per file in ways manifests can't see → scan path.
    val manifestCounts: Option[Map[String, Long]] =
      if (snap.deleteDirs.nonEmpty || snap.eqDeletes.nonEmpty) None
      else snap.dirs.foldLeft(Option(Map.empty[String, Long])) { (acc, d) =>
        acc.flatMap { m =>
          snap.meta.get(FileStats.fileRowsKey(d)).map(FileStats.decodeFileRows)
            .orElse(FileStats.dirFileRows(io, loc(d)))
            .map(fr => m ++ fr.map { case (k, n) => (s"$d/$k", n) })
        }
      }
    val withCounts = manifestCounts match {
      case Some(m) if listed.forall(f => m.contains(f._1)) =>
        listed.map(f => (f._1, f._2, f._3, m(f._1)))
          .toDF("file", "dir", "size_bytes", "record_count")
      case _ =>
        val files = listed.toDF("file", "dir", "size_bytes")
        val prefix = qualifiedRootPrefix
        // live-side key must mirror `listed`'s naming: root-relative
        // for owned files, "<dir-uri>/<relative>" for imported external
        // dirs (one prefix branch per external dir, commit-bounded)
        val ownedKey = substring(col(LakePos.FileCol), prefix.length + 1, Int.MaxValue)
        val liveKey = snap.dirs.filter(LakeTable.externalDir)
          .foldLeft(ownedKey) { (acc, d) =>
            val dl = location(d)
            org.apache.spark.sql.functions.when(
              col(LakePos.FileCol).startsWith(org.apache.spark.sql.functions.lit(dl + "/")),
              org.apache.spark.sql.functions.concat(
                org.apache.spark.sql.functions.lit(d + "/"),
                substring(col(LakePos.FileCol), dl.length + 2, Int.MaxValue))).otherwise(acc)
          }
        val live = scanImpl(Nil, version, keepPos = true)
          .groupBy(liveKey.as("file"))
          .agg(count(lit(1)).as("record_count"))
        files.join(live, Seq("file"), "left")
          .withColumn("record_count", coalesce(col("record_count"), lit(0L)))
    }
    withCounts
      .withColumn("partition",
        regexp_extract(col("file"), "^data/[^/]+/(.*)/[^/]*$", 1))
      .select($"file", $"dir", $"partition", $"size_bytes", $"record_count")
  }

  /** Iceberg's `<table>.partitions` metadata table: per partition
    * subpath ('' for unpartitioned), live file and record counts.
    */
  def partitionsTable(version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    files(version)
      .groupBy(col("partition"))
      .agg(count(lit(1)).as("n_files"), sum(col("record_count")).as("n_rows"))
  }

  /** O(1) in manifest parses: resolves the max version from file names
    * (lexicographic = numeric for the zero-padded scheme) and reads
    * only that manifest — `history` parses all and is for audit use.
    */
  def latest: Option[Snapshot] =
    manifestNames().maxOption.flatMap(n => Manifest.read(io, new HPath(versionsDir, n)))

  /** Newest-first commit-meta lookup: the value of `key` on the most
    * recent snapshot carrying it. Manifests are read LAZILY with early
    * exit, so the cost is O(commits since the key last appeared) — for
    * view definitions re-recorded on every refresh that is ONE
    * manifest read, where a `history` walk parses every manifest.
    */
  def latestMeta(key: String): Option[String] =
    latestMetaOf(Seq(key)).map(_._2)

  /** Newest snapshot carrying ANY of `keys` → (key, value). Lets a
    * caller dispatch on which of several mutually-exclusive
    * definition keys a table carries without materializing history.
    */
  def latestMetaOf(keys: Seq[String]): Option[(String, String)] =
    manifestNames().sorted(Ordering[String].reverse).iterator
      .flatMap(n => Manifest.read(io, new HPath(versionsDir, n)))
      .flatMap(s => keys.iterator.flatMap(k => s.meta.get(k).map(k -> _)).nextOption())
      .nextOption()

  /** Direct manifest lookup (no listing): the committed snapshot at
    * `v`, or None if never committed / expired.
    */
  private[graft] def snapshotAt(v: Long): Option[Snapshot] =
    if (v <= 0) None else Manifest.read(io, manifestPath(v))

  /** [[snapshotAt]] for an incremental walk: an absent version throws
    * [[SnapshotExpiredException]].
    */
  private def walkSnapshotAt(v: Long): Snapshot =
    snapshotAt(v).getOrElse(throw new SnapshotExpiredException(v, rootLocation))

  /** Timestamp time travel resolution: the greatest version committed
    * at or before `tsMs` (Iceberg's `FOR TIMESTAMP AS OF` contract).
    * Commit timestamps are strictly monotonic (enforced in [[commit]]),
    * so the scan over the version-ordered history is exact.
    */
  def versionAt(tsMs: Long): Option[Long] =
    history.takeWhile(_.timestampMs <= tsMs).lastOption.map(_.version)

  /** Read the table as of a wall-clock time. Fails when `tsMs` predates
    * the first (surviving) commit — same behavior as Iceberg when the
    * snapshot log has no entry at-or-before the requested time.
    */
  def readAsOf(tsMs: Long): DataFrame =
    read(Some(versionAt(tsMs).getOrElse(throw new IllegalArgumentException(
      s"no snapshot of $root at or before timestamp $tsMs (first commit is later, or expired)"))))

  /** Data dirs that entered the table through APPEND commits in
    * `(lo, hi]`, each with its write-time schema json — the shared walk
    * behind both the batch incremental read ([[readIncremental]]) and
    * the streaming source ([[graft.streaming.GraftLakeSource]]).
    *
    * Classification by manifest `op`, version by version (O(hi−lo)
    * manifest reads, no filesystem listing):
    *  - `append` delivers its new dirs; so does a SEEDING overwrite
    *    (first commit, or overwrite of a data-less table) — an append
    *    in overwrite clothing, and the standard way tables are born;
    *  - metadata-only commits (create, schema/spec evolution,
    *    delete-file rewrites) move no data and pass;
    *  - data-rewriting commits (overwrite/compact/DML) THROW
    *    [[RewriteCommitException]] unless `skipRewrites` — silently
    *    re-delivering rewritten dirs as fresh rows would duplicate
    *    data, and silently skipping them without opt-in would hide
    *    that changed rows are not delivered.
    *
    * Every manifest in the range must still exist (retention must
    * cover the read window) — fails naming the missing version.
    */
  private[graft] def appendedDirs(lo: Long, hi: Long,
                                  skipRewrites: Boolean): Seq[(String, String, Seq[String])] = {
    var prevDirs: Set[String] = if (lo <= 0) Set.empty else walkSnapshotAt(lo).dirs.toSet
    val added = Seq.newBuilder[(String, String, Seq[String])]
    for (v <- lo + 1 to hi) {
      val s = walkSnapshotAt(v)
      val newDirs = s.dirs.indices
        .filter(i => !prevDirs.contains(s.dirs(i)))
        .map(i => (s.dirs(i), s.dirSchemaJson(i), hiveColsOf(s, s.dirs(i))))
      s.op match {
        // add-files is an APPENDING commit: it introduces a (possibly
        // external) dir and rewrites nothing
        case "append" | "add-files"          => added ++= newDirs
        case "overwrite" if prevDirs.isEmpty => added ++= newDirs
        case op if LakeTable.MetadataOps.contains(op) => ()
        case op => if (!skipRewrites) throw new RewriteCommitException(v, op, rootLocation)
      }
      prevDirs = s.dirs.toSet
    }
    added.result()
  }

  /** Incremental append scan (Iceberg's incremental read): the rows
    * that entered the table through APPEND commits in
    * `(fromVersion, toVersion]`, read straight from those commits'
    * immutable dirs. This is the batch face of the streaming source —
    * a scheduler that processes "what arrived since my last run"
    * resolves its watermark to a version and reads exactly the delta,
    * never rescanning the table (at 100 TB, THE difference between an
    * incremental pipeline and a daily full scan).
    *
    * Rows are returned as appended — later row-level deletes are not
    * applied (they name positions in files this read may not cover;
    * Iceberg's incremental append scan has the same contract).
    * Dirs written under older schema generations align to the
    * `toVersion` schema by field id. Rewriting commits in the range
    * fail loud unless `skipRewrites` (their changed rows are then NOT
    * delivered).
    */
  def readIncremental(fromVersion: Long, toVersion: Option[Long] = None,
                      skipRewrites: Boolean = false): DataFrame = {
    val hi = toVersion.orElse(latest.map(_.version)).getOrElse(
      throw new IllegalArgumentException(s"empty lake table at $rootLocation"))
    val target = resolve(Some(hi))
    val identity = target.partitionBy.map(PartitionField.parse).filterNot(_.hidden)
    require(identity.isEmpty,
      s"incremental read cannot deliver identity partition columns ${identity.map(_.name)} " +
        "(values live in dir names, not files); use transform specs")
    val cur = target.schema
    val batch = appendedDirs(fromVersion, hi, skipRewrites)
    if (batch.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), cur)
    readDirsAligned(batch, cur)
  }

  /** Layout-encoded columns of `dir` in `s` (hive-partitioned
    * add_files imports); empty for owned/plain dirs.
    */
  private def hiveColsOf(s: Snapshot, dir: String): Seq[String] =
    s.meta.get(FileStats.hiveColsKey(dir)).map(FileStats.splitCols).getOrElse(Nil)

  /** Read a set of (dir, write-time schema, layout cols) triples
    * aligned to `cur`: one relation per schema generation, field-id
    * alignment across renames/widens, recursiveFileLookup through
    * hidden-partition subdirs (derived values are not part of the user
    * schema). Layout-encoded dirs (hive imports) read one relation per
    * dir with partition discovery instead — their column values live
    * in the `k=v` dir names, not the files.
    */
  private def readDirsAligned(batch: Seq[(String, String, Seq[String])],
                              cur: StructType): DataFrame = {
    val (hive, plain) = batch.partition(_._3.nonEmpty)
    val plainFrames = plain.groupBy(_._2).toSeq.sortBy(_._2.head._1).map { case (sj, group) =>
      val phys = DataType.fromJson(sj).asInstanceOf[StructType]
      val paths = group.map(_._1).map(location)
      SchemaIds.align(
        spark.read.schema(phys).option("recursiveFileLookup", "true").parquet(paths: _*),
        phys, cur)
    }
    val hiveFrames = hive.map { case (d, sj, _) =>
      val phys = DataType.fromJson(sj).asInstanceOf[StructType]
      SchemaIds.align(
        spark.read.schema(phys).option("basePath", location(d)).parquet(location(d)),
        phys, cur)
    }
    (plainFrames ++ hiveFrames).reduce(_ unionByName _)
  }

  /** Row-level changelog between versions (Iceberg's changelog scan /
    * Delta's Change Data Feed): every row-level change committed in
    * `(fromVersion, toVersion]`, tagged `_change_type`
    * ('insert'/'delete') and `_commit_version`. An update is a delete
    * + insert at the same version. This is the READ face of CDC: a
    * downstream consumer (index refresh, cache invalidation, derived
    * table) processes exactly what changed, never rescanning the
    * table.
    *
    * Changes derive from MANIFEST DIFFS, not data diffs — O(commits)
    * driver work plus reads bounded by the changed dirs/delete files:
    *   - new data dirs → 'insert' rows, read straight from the dirs;
    *   - new positional delete files → 'delete' rows, materialized by
    *     a coordinate semi-join against the PRIOR snapshot (the rows
    *     were live then by construction — DML stages deletes from the
    *     deletes-applied scan);
    *   - new equality delete files (upserts) → 'delete' rows,
    *     materialized by a null-safe key semi-join against the prior
    *     snapshot RESTRICTED to the batch's key range (bounds read
    *     from the delete file footers push into the scan as
    *     predicates, so manifest stats / partition pruning cut each
    *     per-commit scan to the touched region — a changelog batch
    *     over N trickle upserts stays O(changed data), not N table
    *     scans), mirroring scan-time sequence semantics (only
    *     strictly-older rows die).
    *
    * Compaction / delete-file rewrites / metadata commits move no
    * logical rows and are passed over. A commit that REMOVES data dirs
    * (overwrite, copy-on-write DML, rollback) has no row-level
    * changelog; it fails loud naming the version, or is passed over
    * with `skipRewrites=true` (its changes are then NOT delivered) —
    * the same contract as the incremental append read.
    */
  def readChanges(fromVersion: Long, toVersion: Option[Long] = None,
                  skipRewrites: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, concat}
    val hi = toVersion.orElse(latest.map(_.version)).getOrElse(
      throw new IllegalArgumentException(s"empty lake table at $rootLocation"))
    val target = resolve(Some(hi))
    val identity = target.partitionBy.map(PartitionField.parse).filterNot(_.hidden)
    require(identity.isEmpty,
      s"changelog read cannot deliver identity partition columns ${identity.map(_.name)} " +
        "(values live in dir names, not files); use transform specs")
    val cur = target.schema
    val userCols = cur.fieldNames.toSeq
    def tagged(df: DataFrame, change: String, v: Long): DataFrame =
      df.select(userCols.map(col): _*)
        .withColumn("_change_type", lit(change))
        .withColumn("_commit_version", lit(v))
    val frames = Seq.newBuilder[DataFrame]
    var prev = if (fromVersion <= 0) None else Some(walkSnapshotAt(fromVersion))
    for (v <- fromVersion + 1 to hi) {
      val s = walkSnapshotAt(v)
      val noRowChange = LakeTable.MetadataOps.contains(s.op) || s.op == "compact"
      val prevDirs = prev.map(_.dirs.toSet).getOrElse(Set.empty)
      val removed = prevDirs -- s.dirs.toSet
      if (noRowChange) ()
      else if (removed.nonEmpty) {
        if (!skipRewrites) throw new RewriteCommitException(v, s.op, rootLocation)
      } else {
        // deletes first (CDC convention: an update reads as delete+insert).
        // Prior-snapshot frames align to the CURRENT schema by field id
        // (renames resolve, added columns null-fill) — a schema change
        // inside the range after a delete commit must not break the walk.
        lazy val prevSchema = walkSnapshotAt(v - 1).schema
        val prevPosDeletes = prev.map(_.deleteDirs.toSet).getOrElse(Set.empty)
        val newPosDeletes = s.deleteDirs.filterNot(prevPosDeletes)
        if (newPosDeletes.nonEmpty) {
          val delRows = spark.read.schema(DeleteFiles.schema)
            .parquet(newPosDeletes.map(location): _*)
            .select(
              DeleteFiles.qualifiedKey(col(DeleteFiles.FileField), qualifiedRootPrefix)
                .as("_gr_del_file"),
              col(DeleteFiles.PosField).as("_gr_del_pos"))
          val prior = SchemaIds.align(readWithPos(Some(v - 1)), prevSchema, cur,
            Seq(LakePos.FileCol, LakePos.PosCol))
          frames += tagged(prior.join(delRows,
            prior(LakePos.FileCol) === delRows("_gr_del_file") &&
              prior(LakePos.PosCol) === delRows("_gr_del_pos"),
            "left_semi"), "delete", v)
        }
        val prevEq = prev.map(_.eqDeletes.toSet).getOrElse(Set.empty)
        s.eqDeletes.filterNot(prevEq).map(EqDelete.decode).foreach { e =>
          val delSchema = StructType(e.cols.map(c =>
            StructField(c, cur(c).dataType, nullable = true)))
          val del = spark.read.schema(delSchema).parquet(location(e.dir))
            .select(e.cols.map(c => col(c).as(s"_gr_del_$c")): _*)
          // bound the per-commit prior scan by the delete batch's own
          // key ranges, read from the delete file FOOTERS (no job, no
          // collect): manifest stats + partition pruning then cut each
          // scan to the touched key region, keeping a changelog batch
          // over N trickle upserts at O(changed data), not N table
          // scans. A column the batch holds nulls in contributes no
          // bound (min/max cannot see null-safe matches); rows a bound
          // drops provably cannot match any delete key.
          val ranges = FileStats.dirColumnRanges(io, loc(e.dir), e.cols)
          val rangePreds = e.cols.flatMap(c => ranges.get(c).toSeq.flatMap {
            case (lo, hi) => Seq(LakePredicate.GtEq(c, lo), LakePredicate.LtEq(c, hi)) })
          val prior = SchemaIds.align(scan(rangePreds, Some(v - 1)), prevSchema, cur)
          frames += tagged(prior.join(del,
            e.cols.map(c => prior(c) <=> del(s"_gr_del_$c")).reduce(_ && _),
            "left_semi"), "delete", v)
        }
        val newDirs = s.dirs.indices
          .filter(i => !prevDirs.contains(s.dirs(i)))
          .map(i => (s.dirs(i), s.dirSchemaJson(i), hiveColsOf(s, s.dirs(i))))
        if (newDirs.nonEmpty)
          frames += tagged(readDirsAligned(newDirs, cur), "insert", v)
      }
      prev = Some(s)
    }
    val out = frames.result()
    if (out.isEmpty) {
      val empty = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), cur)
      tagged(empty, "insert", 0L).where(lit(false))
    } else out.reduce(_ unionByName _)
  }

  private def resolve(version: Option[Long]): Snapshot = version match {
    case Some(v) => Manifest.read(io, manifestPath(v))
      .getOrElse(throw new IllegalArgumentException(s"no version $v at $rootLocation"))
    case None => latest
      .getOrElse(throw new IllegalArgumentException(s"empty lake table at $rootLocation"))
  }

  /** Snapshot read INCLUDING derived partition columns (`_p_…` — Spark
    * appends partition-dir columns absent from the user schema). The
    * public [[read]] drops them; [[scan]] filters on them first.
    *
    * A commit dir written from ZERO rows has no partition
    * subdirectories, so its frame comes back without the derived
    * columns — they are null-filled (typed per transform) so unions
    * across dirs and partition-filter resolution never break on an
    * empty delta (e.g. a delete-everything rewrite or an empty
    * streaming micro-batch).
    */
  /** One multi-path relation for the whole snapshot, NOT one relation
    * per commit dir: a streaming bronze table taking a commit per
    * micro-batch reaches thousands of dirs, and a per-dir
    * `union` plan costs the analyzer O(commits) plan nodes and one
    * serial driver-side file listing per dir. A single
    * `parquet(paths: _*)` relation lists all dirs in one (parallelized
    * above `spark.sql.sources.parallelPartitionDiscovery.threshold`)
    * pass and plans one scan. Partition-dir discovery treats every
    * input directory as its own base path, so hive-style `_p_…=` dirs
    * inside each commit dir resolve exactly as the per-dir
    * `basePath` reads did.
    *
    * The only per-dir split needed: commit dirs holding NO hive
    * subdirs under a partitioned spec (zero-row commits, or dirs
    * carried forward from before the spec) would poison discovery
    * with "conflicting partition structure", so they are read as a
    * second relation with the derived columns null-filled (typed per
    * transform) — the null-escape [[scan]] already relies on. That
    * grouping costs one first-level directory listing per commit dir,
    * not a recursive file listing.
    */
  /** All partition fields any dir generation of `snap` uses, plus the
    * current spec — one entry per distinct derived column name. Spec
    * evolution can put several generations in one snapshot; frames
    * from every generation align on this union (missing columns
    * null-filled), and scan() projects predicates onto each field so
    * every generation prunes via its own layout. `ambiguous` names —
    * two generations deriving the SAME column name from DIFFERENT
    * transforms (bucket(4,c) → bucket(8,c)) — are excluded from
    * predicate projection (a probe derived for one layout would
    * wrongly prune the other) but still null-filled and dropped.
    */
  private[lake] def specFields(snap: Snapshot): (Seq[PartitionField], Set[String]) = {
    val specs = (snap.partitionBy +: snap.dirs.indices.map(snap.dirSpec))
      .flatten.distinct.map(PartitionField.parse)
    val byName = specs.groupBy(_.name)
    (byName.values.map(_.head).toSeq.sortBy(_.name),
      byName.filter(_._2.size > 1).keySet)
  }

  private def readRaw(snap: Snapshot, preds: Seq[LakePredicate] = Nil,
                      withPos: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // merge-on-read: live delete files force position columns through
    // every leaf relation so the anti-join upstairs has coordinates
    // (equality deletes also need the file path, to derive the row's
    // commit sequence)
    val needPos = withPos || snap.deleteDirs.nonEmpty || snap.eqDeletes.nonEmpty
    val posNames = if (needPos) Seq(LakePos.FileCol, LakePos.PosCol) else Nil
    def attachPos(df: DataFrame): DataFrame =
      if (!needPos) df
      else df.withColumn(LakePos.FileCol, col("_metadata.file_path"))
        .withColumn(LakePos.PosCol, col("_metadata.row_index"))
    val cur = snap.schema
    val hiddenFields = specFields(snap)._1.filter(_.hidden)
    def emptyFrame(): DataFrame = {
      val empty = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), cur)
      val withParts = hiddenFields.foldLeft(empty)((df, pf) =>
        df.withColumn(pf.name, lit(null).cast(pf.partitionType(cur))))
      if (!needPos) withParts
      else withParts
        .withColumn(LakePos.FileCol, lit(null).cast(org.apache.spark.sql.types.StringType))
        .withColumn(LakePos.PosCol, lit(null).cast(org.apache.spark.sql.types.LongType))
    }
    // a freshly-created (DDL) table has a schema but no data dirs
    if (snap.dirs.isEmpty) return emptyFrame()

    // manifest-level file skipping, PER DIR: each dir's stats blob
    // (written by the commit that created it, carried forward since)
    // yields the files that can satisfy `preds`; dirs without stats
    // keep all their files — no file is ever wrongly skipped
    val predCols = preds.map(_.col).toSet
    def statsKeepFor(i: Int): Option[Set[String]] =
      if (preds.isEmpty) None
      else FileStats.dirStats(snap, i, predCols).flatMap(_.surviving(preds, cur))
    // bloom pruning on top of range pruning: equality/IN probes on the
    // table's declared bloom columns test candidate files' parquet
    // footer blooms — the skip min/max cannot make on a
    // high-cardinality unsorted column. Only files range stats KEPT
    // are ever opened; tables with no bloom columns pay nothing here.
    val bloomProbes: Seq[(String, Seq[Any])] =
      if (preds.isEmpty) Nil
      else {
        val bloomCols = snap.meta.get(FileStats.BloomColsKey)
          .map(FileStats.splitCols).getOrElse(Nil)
        preds.collect {
          case LakePredicate.EqualTo(c, v) if bloomCols.contains(c) => (c, Seq(v))
          case LakePredicate.In(c, vs) if bloomCols.contains(c) && vs.nonEmpty => (c, vs)
        }
      }
    def relFilesOf(i: Int): Seq[String] = {
      val marker = new HPath(snap.dirs(i)).getName
      FileStats.listParquet(io, loc(snap.dirs(i)))
        .map(f => FileStats.relativeKey(f.getPath.toString, marker))
    }
    def keepFor(i: Int): Option[Set[String]] = {
      val ranged = statsKeepFor(i)
      if (bloomProbes.isEmpty) ranged
      else {
        val candidates = ranged.map(_.toSeq).getOrElse(relFilesOf(i))
        // bloom reads fan out on the footer pool — planning latency is
        // candidates/poolSize round-trips, not candidates
        Some(FileStats.bloomSurviving(io, loc(snap.dirs(i)),
          candidates, bloomProbes).toSet)
      }
    }
    // surviving file paths of dir i (whole dir when unpruned; Nil when
    // stats prove nothing can match — the blob lists every file of the
    // dir, so surviving keys enumerate without a filesystem listing)
    def prunedPaths(i: Int): Seq[String] = keepFor(i) match {
      case Some(k) => k.toSeq.sorted.map(f => new HPath(loc(snap.dirs(i)), f).toString)
      case None    => Seq(location(snap.dirs(i)))
    }

    def hasHiveSubdirs(d: String): Boolean =
      io.list(loc(d)).exists(_.getPath.getName.contains('='))
    // Dir generations: dirs with a partition spec AND hive subdirs
    // read through ONE manifest-driven relation PER SPEC (partition
    // pruning within each); everything else — unpartitioned
    // generations, zero-row dirs, pre-spec dirs — reads file-aligned,
    // grouped per schema generation (rename/drop/widen are
    // metadata-only commits: old dirs keep their write-time column
    // names/types and align to the current schema by field id).
    // Uniform tables still collapse to at most two relations.
    // layout-encoded EXTERNAL dirs (hive-partitioned add_files
    // imports): their partition columns exist only in the `k=v`
    // directory names — read each through Spark partition discovery
    // with the dir as basePath, so the values re-materialize typed
    // (the dir schema declares them) and Catalyst partition-prunes on
    // layout-column predicates
    val extHiveIdx = snap.dirs.indices.filter(i =>
      snap.meta.contains(FileStats.hiveColsKey(snap.dirs(i))))
    val extHiveFrames = extHiveIdx.flatMap { i =>
      val phys = DataType.fromJson(snap.dirSchemaJson(i)).asInstanceOf[StructType]
      val paths = prunedPaths(i)
      if (paths.isEmpty) None
      else Some(SchemaIds.align(
        attachPos(spark.read.schema(phys)
          .option("basePath", location(snap.dirs(i))).parquet(paths: _*)),
        phys, cur, posNames))
    }
    val (hiveIdx, bareIdx) = snap.dirs.indices.filterNot(extHiveIdx.contains)
      .partition(i => snap.dirSpec(i).nonEmpty && hasHiveSubdirs(snap.dirs(i)))

    val hiveFrames = hiveIdx.groupBy(i => Snapshot.joinSpec(snap.dirSpec(i))).toSeq
      .sortBy(_._2.head).map { case (specStr, idxs) =>
        val gFields = Snapshot.splitSpec(specStr).map(PartitionField.parse)
        val keepMap = idxs.flatMap(i => keepFor(i).map(snap.dirs(i) -> _)).toMap
        SnapshotRead.partitionedFrame(this, idxs.map(snap.dirs), gFields, cur,
          keepMap, withPos = needPos)
      }
    val bareFrames = bareIdx.groupBy(snap.dirSchemaJson).toSeq.sortBy(_._2.head)
      .flatMap { case (sj, idxs) =>
        val paths = idxs.flatMap(prunedPaths)
        if (paths.isEmpty) None // stats pruned the whole generation
        else {
          val phys = DataType.fromJson(sj).asInstanceOf[StructType]
          Some(SchemaIds.align(attachPos(spark.read.schema(phys).parquet(paths: _*)),
            phys, cur, posNames))
        }
      }
    val frames = extHiveFrames ++ hiveFrames ++ bareFrames
    if (frames.isEmpty) return emptyFrame()
    // align every generation on the full derived-column union before
    // unioning: a generation lacking another generation's partition
    // column carries typed nulls there, and scan()'s null-escape keeps
    // its rows past that column's projected predicates
    val aligned = frames.map { f =>
      hiddenFields.filterNot(pf => f.columns.contains(pf.name))
        .foldLeft(f)((df, pf) => df.withColumn(pf.name, lit(null).cast(pf.partitionType(cur))))
    }
    aligned.reduce(_ unionByName _)
  }

  /** Read the table at `version` (latest when None). Immutable snapshot
    * dirs mean a concurrent overwrite never affects a running read.
    * Hidden partition columns (transform specs like `days(ts)`) never
    * appear — the user schema is exactly what was written.
    */
  def read(version: Option[Long] = None): DataFrame = scan(Nil, version)

  /** `count(*)` answered from MANIFEST metadata alone — zero Spark
    * jobs, zero data read, at any table size (the Iceberg/Delta
    * "count from manifests" shape; cf. Iceberg's file `record_count`
    * metrics). Sums the per-dir row counts recorded at write time
    * ([[FileStats.RowsKeyPrefix]]); a legacy dir without one falls
    * back to a driver-side footer read of that dir only. None when
    * the snapshot has live positional or equality delete files — they
    * mask rows the manifests cannot see, so only a scan is exact;
    * `compact()` folds them and re-arms the fast path.
    */
  def metadataRowCount(version: Option[Long] = None): Option[Long] =
    metadataRowCountOf(resolve(version))

  private[lake] def metadataRowCountOf(snap: Snapshot): Option[Long] = {
    if (snap.deleteDirs.nonEmpty || snap.eqDeletes.nonEmpty) None
    else snap.dirs.foldLeft(Option(0L)) { (acc, d) =>
      acc.flatMap { a =>
        snap.meta.get(FileStats.rowsKey(d)).map(_.toLong)
          .orElse(FileStats.dirRowCount(io, loc(d)))
          .map(a + _)
      }
    }
  }

  /** Exact row count: the metadata fast path when sound, else a scan. */
  def countRows(version: Option[Long] = None): Long =
    metadataRowCount(version).getOrElse(read(version).count())

  /** Exact (MIN, MAX) of a NUMERIC column answered from the manifest
    * stats blobs alone — the aggregate counterpart of file skipping.
    * Values come back in the stats key domain (BigDecimal). None
    * whenever metadata cannot be exact: live delete files (removing
    * rows can tighten true bounds), a dir without a stats blob for
    * the column, a file with no bound on it (all-null or stats-less),
    * or a non-numeric column (parquet BINARY stats may be truncated
    * bounds — fine for pruning, wrong for exact answers). Dirs the
    * manifest knows are EMPTY (zero recorded rows) contribute
    * nothing instead of unbinding the answer.
    */
  def metadataBounds(column: String, version: Option[Long] = None): Option[(BigDecimal, BigDecimal)] = {
    val snap = resolve(version)
    if (snap.deleteDirs.nonEmpty || snap.eqDeletes.nonEmpty) return None
    var acc: Option[(BigDecimal, BigDecimal)] = None
    snap.dirs.indices.foreach { i =>
      FileStats.dirStats(snap, i, Set(column)).flatMap(_.numericRange(column)) match {
        case Some((lo, hi)) =>
          acc = Some(acc.map { case (alo, ahi) => (alo.min(lo), ahi.max(hi)) }
            .getOrElse((lo, hi)))
        case None =>
          if (!snap.meta.get(FileStats.rowsKey(snap.dirs(i))).contains("0")) return None
      }
    }
    acc
  }

  /** Snapshot read that keeps the merge-on-read position columns
    * ([[LakePos.FileCol]], [[LakePos.PosCol]]) — the coordinates DML
    * needs to write positional delete files. Existing deletes are
    * already applied, so positions of dead rows never resurface.
    */
  private[lake] def readWithPos(version: Option[Long] = None): DataFrame =
    scanImpl(Nil, version, keepPos = true)

  /** Hadoop-qualified root with a trailing slash — the prefix under
    * which `_metadata.file_path` reports this table's data files.
    * Delete files store paths relative to it (relocatable manifests).
    */
  private[lake] lazy val qualifiedRootPrefix: String = {
    val q = rootQ.toString
    if (q.endsWith("/")) q else q + "/"
  }

  /** Predicate-pushing scan (Iceberg-style hidden-partition pruning):
    * each predicate filters the DATA column (exact semantics) AND,
    * when the snapshot's partition transforms admit a projection,
    * the derived partition column — giving directory pruning on
    * `days(ts)`-style specs without the caller ever naming the
    * partition column. Returns the user schema (hidden columns
    * dropped after filtering).
    */
  def scan(preds: Seq[LakePredicate], version: Option[Long] = None): DataFrame =
    scanImpl(preds, version, keepPos = false)

  private def scanImpl(preds: Seq[LakePredicate], version: Option[Long],
                       keepPos: Boolean): DataFrame =
    scanOf(resolve(version), preds, keepPos)

  /** Scan an explicit snapshot value — also used with a SUBSET view of
    * a snapshot (same delete files, fewer dirs) by the incremental
    * binpack compaction.
    */
  private def scanOf(snap: Snapshot, preds: Seq[LakePredicate],
                     keepPos: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (fields, ambiguous) = specFields(snap)
    val schema = snap.schema
    def typed(c: String, v: Any) = lit(v).cast(schema(c).dataType)
    val raw = preds.map {
      case LakePredicate.EqualTo(c, v) => col(c) === typed(c, v)
      case LakePredicate.GtEq(c, v)    => col(c) >= typed(c, v)
      case LakePredicate.LtEq(c, v)    => col(c) <= typed(c, v)
      case LakePredicate.In(c, vs) =>
        if (vs.isEmpty) lit(false)
        // ONE flat In node: a reduce(_ || _) over a large key set
        // builds a values-deep binary tree that overflows the column
        // converter's recursion (seen at ~900 keys)
        else col(c).isin(vs.map(v => typed(c, v)): _*)
    }
    // null-escape on every projected filter: a null partition value
    // means "this dir predates the spec / wrote zero rows / null
    // source" — those rows must fall through to the exact raw
    // predicate instead of being pruned (Iceberg's spec-evolution
    // contract: files without the transform stay scannable).
    // Directory pruning still applies wherever the value is present —
    // including OLD spec generations, whose fields are in the union
    // too, so each generation prunes via its own layout. Ambiguous
    // names (same column, different transforms across generations)
    // never project.
    val projected = for {
      p <- preds
      f <- fields if f.source == p.col && !ambiguous.contains(f.name)
      proj <- f.project(p, schema(p.col).dataType)
    } yield proj || col(f.name).isNull
    // merge-on-read deletes apply BEFORE user filters semantically,
    // but anti-join and row filters commute, so the filters stay
    // pushable into the scan
    val base = EqualityDeletes.applyTo(
      DeleteFiles.applyTo(readRaw(snap, preds, withPos = keepPos),
        this, snap.deleteDirs),
      this, snap)
    val filtered = (raw ++ projected).foldLeft(base)(_ where _)
    val noHidden = fields.filter(_.hidden).map(_.name).foldLeft(filtered)(_ drop _)
    if (keepPos) noHidden
    else Seq(LakePos.FileCol, LakePos.PosCol).foldLeft(noHidden)(_ drop _)
  }

  /** Optimistic commit: claim the next version with an atomic exclusive
    * create, then publish the manifest with an atomic rename. Loser of
    * a claim race waits for the winner's manifest and rebases (so
    * concurrent appends serialize without losing either commit).
    *
    * `edit` builds the snapshot from the base and the version claimed
    * over it. It runs inside the loop, once per claimed attempt, so a
    * rebase after a lost claim race re-resolves everything that depends
    * on them — above all the sequences of new dirs and equality
    * deletes, which must exceed every prior dir's. The loop re-runs
    * `checks` on each base, stamps version, op and timestamp, and stores
    * uniform per-dir lists as Nil.
    *
    * Crash recovery: a writer that dies between claiming and
    * publishing leaves an orphan claim that would otherwise block the
    * version forever. A claim older than [[LakeTable.StaleClaimMs]]
    * with no manifest is presumed dead (lease assumption — the same
    * one log-structured table formats make) and is removed by the next
    * writer.
    */
  private[lake] def commit(op: String, checks: CommitChecks,
                           edit: (Option[Snapshot], Long) => Snapshot): Snapshot = {
    val branch = checks.branch
    io.mkdirs(lineageVersionsDir(branch))
    // must outlive the stale-claim lease, else a crashed writer's
    // orphan claim exhausts the budget before it can be reclaimed
    val deadline = System.currentTimeMillis() + math.max(2 * LakeTable.StaleClaimMs, 10000L)
    var attempts = 0
    while (System.currentTimeMillis() < deadline) {
      attempts += 1
      val base = lineageLatest(branch)
      checks.verify(base, rootLocation)
      val next = base.fold(checks.firstVersion)(_.version + 1)
      val claim = new HPath(lineageVersionsDir(branch), f"v$next%08d.claim")
      if (arbiter.tryClaim(claim)) {
        // strictly monotonic commit timestamps: two commits inside one
        // millisecond would otherwise be indistinguishable to
        // timestamp time travel (`FOR TIMESTAMP AS OF` resolves the
        // greatest version at-or-before a time — Iceberg's contract
        // assumes snapshot-log timestamps are ordered)
        val ts = math.max(System.currentTimeMillis(),
          base.map(_.timestampMs + 1).getOrElse(Long.MinValue))
        val snap = edit(base, next).compacted.copy(version = next, op = op, timestampMs = ts)
        // publish with the arbiter's atomic NO-REPLACE primitive: a
        // plain overwrite would silently clobber a manifest published
        // by a concurrent writer. A failed publish means we lost
        // despite holding a claim — either our claim was reclaimed as
        // stale, or the store's claim create was not truly atomic
        // (check-then-act local FS) and two writers claimed the same
        // version. Both cases are safe to REBASE AND RETRY: nothing of
        // ours was published, the staged dirs recommit under the next
        // version, and the loop's checks decide whether the retry is
        // still legal.
        if (arbiter.publishIfAbsent(lineageManifestPath(branch, next), Manifest.toJson(snap))) {
          arbiter.releaseClaim(claim) // served its purpose; don't accumulate
          return snap
        }
        arbiter.releaseClaim(claim) // v`next` is published; the claim is junk now
      }
      // claim race lost: wait for the winner's manifest, reclaiming
      // orphaned claims whose writer died mid-commit
      if (!io.exists(lineageManifestPath(branch, next)))
        arbiter.claimAgeMs(claim).foreach { age => // None = winner just published
          if (age > LakeTable.StaleClaimMs) arbiter.releaseClaim(claim)
        }
      Thread.sleep(5)
    }
    throw new IllegalStateException(s"could not commit to $rootLocation after $attempts attempts")
  }

  /** Materialize transform-derived partition columns and write the
    * parquet dir for one commit. `partitionBy` entries are partition
    * SPECS — identity column names or transforms (`days(ts)`,
    * `months(ts)`, `bucket(n, c)`, `truncate(w, c)`); the manifest
    * stores the specs, the dirs use the derived `_p_…` names.
    */
  private def writeDataDir(df: DataFrame, dirName: String,
                           partitionBy: Seq[String],
                           bloomCols: Seq[String] = Nil): Unit = {
    val fields = partitionBy.map(PartitionField.parse)
    val withParts = fields.filter(_.hidden)
      .foldLeft(df)((d, f) => d.withColumn(f.name, f.derive(d)))
    // declared bloom columns ride parquet's native per-row-group bloom
    // filters — written inline with the files (no extra job), consulted
    // at plan time for equality-probe file skipping (readRaw) AND by
    // Spark's own row-group filtering during the scan. Sized adaptively:
    // without an NDV parquet gives every row group a 1 MiB bloom per
    // column, so a 40-row file would carry a megabyte the planner reads
    // back per probe. Adaptive sizing keeps candidates halving from
    // 1 MiB down to 2 KiB (10 of them) and writes the smallest one that
    // holds the row group's distinct values at the default 1% fpp. The
    // adaptive switch is a global key (parquet ignores its `#col` form)
    // and does nothing for columns without a bloom, so it is set once.
    val writer = bloomCols.filter(withParts.columns.contains)
      .foldLeft(withParts.write.mode("overwrite")
          .option("parquet.bloom.filter.adaptive.enabled", "true")) { (w, c) =>
        w.option(s"parquet.bloom.filter.enabled#$c", "true")
          .option(s"parquet.bloom.filter.candidates.number#$c", "10")
      }
    (if (fields.nonEmpty) writer.partitionBy(fields.map(_.name): _*) else writer)
      .parquet(location(dirName))
  }

  /** The table's persisted bloom-column set (what writes enable
    * parquet bloom filters on).
    */
  private def inheritedBloomCols(base: Option[Snapshot]): Seq[String] =
    base.flatMap(_.meta.get(FileStats.BloomColsKey))
      .map(FileStats.splitCols).getOrElse(Nil)

  /** The table's persisted clustering (columns, isZOrder) — what
    * writes cluster on. One declaration: plain range sort or z-order.
    */
  private def inheritedClustering(base: Option[Snapshot]): (Seq[String], Boolean) =
    base.flatMap(_.meta.get(FileStats.SortOrderKey))
      .map(FileStats.decodeClustering).getOrElse((Nil, false))

  /** Apply a clustering declaration to a frame about to be written:
    * range-distribute + sort within partitions, either on the columns
    * (lexicographic — tight stats on the LEADING column) or on their
    * Morton-interleaved [[graft.functions.ZOrderCode]] (tight stats on
    * EVERY listed dimension). One shuffle per write — the cost of a
    * persisted clustering that never decays between compactions.
    */
  private def clusterFrame(df: DataFrame, cols: Seq[String], z: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (cols.isEmpty) df
    else if (z) {
      // materialize the write batch ONCE: a z-clustered write otherwise
      // re-executes the caller's entire upstream plan THREE times — the
      // normalization min/max aggregate, the range partitioner's sketch
      // job, and the final shuffle each recompute it (guide §7.2
      // sampler double-eval). A write batch is one commit's worth of
      // data, bounded by ingest cadence, never the table. The
      // lexicographic branch stays uncheckpointed: it has no extra
      // min/max pass, and the A/B measured the materialization costing
      // more than the sketch pass it saves (1.48 → 2.19 s).
      val mat = df.localCheckpoint()
      val code = zorderCodeNormalized(mat, cols)
      mat.repartitionByRange(code).sortWithinPartitions(code)
    } else df.repartitionByRange(cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
  }

  /** Z-code over RANGE-NORMALIZED dimensions: raw bit interleaving is
    * only balanced when dimensions span comparable magnitudes (a
    * 16-bit orderkey next to an 11-bit custkey sorts orderkey-major
    * and the trailing dimension stops pruning). Each column is scaled
    * by its batch min/max into [1.0, 1.5]: every value in the window
    * shares ONE IEEE exponent, so the total-order bits reduce to the
    * mantissa — a linear fixed-point fraction, exactly what Morton
    * interleaving wants. Two traps frame the window. Mapping the max
    * to exactly 2.0 flips the EXPONENT: that bit outranks every
    * mantissa bit in the interleave, so all max-valued rows of any
    * dimension cluster together regardless of the others. Shrinking
    * the window (e.g. [1, 1.5]) keeps the exponent but parks the data
    * in the lower half of the mantissa, so the top interleaved bit is
    * ~always 0 and the quadrant split degenerates the same way. The
    * fix is a genuinely half-open [1, 2): scale the fraction by
    * (1 - 1e-9), landing the max at 1.999999998 — same exponent, top
    * mantissa bit still splits the range at its midpoint, and the
    * 1e-9 relative distortion is far below any file boundary. Costs one columnar
    * min/max aggregate over the batch per clustered write — the same
    * reason Iceberg's zorder rewrite samples range boundaries. NULL
    * dimensions yield NULL codes (sort together); a constant dimension
    * degrades to a midpoint (no discrimination, no failure).
    */
  private def zorderCodeNormalized(df: DataFrame,
                                   cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit, max, min}
    val aggs = cols.flatMap(c =>
      Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
    val row = df.agg(aggs.head, aggs.tail: _*).head
    val scaled = cols.zipWithIndex.map { case (c, i) =>
      if (row.isNullAt(2 * i) || row.isNullAt(2 * i + 1) ||
        row.getDouble(2 * i) == row.getDouble(2 * i + 1)) lit(1.5)
      else lit(1.0) + (col(c).cast("double") - lit(row.getDouble(2 * i))) /
        (lit(row.getDouble(2 * i + 1)) - lit(row.getDouble(2 * i))) * lit(1.0 - 1e-9)
    }
    graft.functions.ZOrderFunctions.zorder_code(scaled: _*)
  }

  /** The table's persisted stats-column set (what appends auto-collect
    * min/max on).
    */
  private def inheritedStatsCols(base: Option[Snapshot]): Seq[String] =
    base.flatMap(_.meta.get(FileStats.StatsColsKey))
      .map(FileStats.splitCols).getOrElse(Nil)

  /** Byte size + row count of a just-written dir: one listing plus
    * footer metadata reads, recorded in the commit meta and carried
    * with the dir. Bytes power streaming admission control; rows
    * power metadata-only `count(*)` ([[metadataRowCount]]). A dir
    * whose footers cannot be read simply records no row count — the
    * metadata count degrades to a footer re-read or a scan, never to
    * a wrong answer.
    */
  private def footprintMetaFor(dirName: String): Map[String, String] =
    Map(FileStats.bytesKey(dirName) -> io.dirBytes(loc(dirName)).toString) ++
      FileStats.dirFileRows(io, loc(dirName)).map { fr =>
        Map(FileStats.rowsKey(dirName) -> fr.map(_._2).sum.toString,
          FileStats.fileRowsKey(dirName) -> FileStats.encodeFileRows(fr))
      }.getOrElse(Map.empty[String, String])

  /** Combined write-time metadata for one freshly-written dir — the
    * stats blob, byte footprint, and per-file row counts from ONE
    * recursive listing and ONE footer pass ([[FileStats.footerMeta]]):
    * scanning fallback for footer-unboundable columns, no row count
    * when a footer is unreadable, bytes over every non-underscore file.
    * Stats columns absent from the written frame are skipped (a
    * post-rename append must not crash on stale names).
    */
  private def writeMetaFor(dirName: String, cols: Seq[String],
                           written: Seq[String],
                           rowMeta: Boolean = true): Map[String, String] = {
    val present = cols.filter(written.contains)
    val dir = loc(dirName)
    var bytes = 0L
    val pq = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    if (io.isDir(dir)) {
      val it = io.fs.listFiles(dir, true)
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.startsWith("_")) bytes += f.getLen
        if (f.getPath.getName.endsWith(".parquet")) pq += f
      }
    }
    val files = pq.result()
    // rowMeta=false skips the footer pass outright when there are no
    // stats columns to bound either (an append with neither stats nor
    // row-count consumers — engine-internal index tables — was paying
    // one footer open per written file purely for the rows blob).
    // Every rows-meta reader has a documented fallback (footer re-read
    // or scanning count), and bytes — the admission-control input —
    // still come from the listing above.
    val facts =
      if (present.isEmpty && !rowMeta) None
      else Some(FileStats.footerMeta(io, dir, present, files))
    val statsMeta = facts.flatMap(FileStats.statsOf(present, _)) match {
      case Some(stats) => Map(
        FileStats.dirKey(dirName) -> stats.encode,
        FileStats.StatsColsKey -> FileStats.joinCols(present))
      case None if present.isEmpty || files.isEmpty => Map.empty[String, String]
      case None => Map(
        FileStats.dirKey(dirName) -> FileStats.collect(spark, dir, present).encode,
        FileStats.StatsColsKey -> FileStats.joinCols(present))
    }
    val rowsMeta = facts.flatMap(FileStats.rowsOf).map { fr =>
      Map(FileStats.rowsKey(dirName) -> fr.map(_._2).sum.toString,
        FileStats.fileRowsKey(dirName) -> FileStats.encodeFileRows(fr))
    }.getOrElse(Map.empty[String, String])
    Map(FileStats.bytesKey(dirName) -> bytes.toString) ++ rowsMeta ++ statsMeta
  }

  /** Write a new snapshot. Overwrite replaces the file set (the
    * reference's only mode, dags/etl.py:53); Append carries prior dirs
    * forward untouched. `partitionBy` takes identity columns or
    * Iceberg-style transform specs (hidden partitioning).
    */
  def write(df: DataFrame, mode: WriteMode, partitionBy: Seq[String] = Nil,
            meta: Map[String, String] = Map.empty,
            expectedBase: Option[Long] = None,
            statsBy: Seq[String] = Nil,
            branch: Option[String] = None,
            bloomBy: Seq[String] = Nil,
            sortedBy: Seq[String] = Nil,
            zorderBy: Seq[String] = Nil,
            rowMeta: Boolean = true): Snapshot = {
    require(sortedBy.isEmpty || zorderBy.isEmpty,
      "declare sortedBy OR zorderBy, not both (one clustering per table)")
    // Append carries prior dirs forward, so its spec must be the
    // table's spec: an unspecified spec inherits the base snapshot's
    // (the common callers — streaming sink, incremental extract —
    // never re-state it), and a CONFLICTING spec is rejected up front:
    // committing it would union partitioned and unpartitioned dirs and
    // break every subsequent read of the table.
    val base = lineageLatest(branch)
    // CHECK constraints validate the incoming batch on BOTH modes (one
    // extra pass over the batch, zero cost when none are declared);
    // they survive an overwrite like stats/bloom declarations do
    val checkMeta: Map[String, String] =
      base.map(_.meta.filter(kv => kv._1.startsWith(LakeChecks.KeyPrefix) ||
          kv._1 == FileStats.AutoCompactKey))
        .getOrElse(Map.empty)
    base.foreach(b => LakeChecks.enforce(df, LakeChecks.of(b), rootLocation))
    val effectiveSpec = mode match {
      case WriteMode.Append =>
        base match {
          case Some(b) if partitionBy.isEmpty => b.partitionBy
          case Some(b) =>
            require(b.partitionBy.isEmpty || b.partitionBy == partitionBy,
              s"append partition spec $partitionBy conflicts with table spec ${b.partitionBy} at $root")
            partitionBy
          case None => partitionBy
        }
      case WriteMode.Overwrite => partitionBy
    }
    val dirName = s"data/${UUID.randomUUID().toString}"
    // stats/bloom column sets are TABLE properties in spirit: both
    // inherit across appends AND overwrites (a copy-on-write DML
    // rewrite must not silently disarm file skipping), refreshed when
    // the caller re-declares them
    val effectiveBloom =
      if (bloomBy.nonEmpty) bloomBy else inheritedBloomCols(base)
    // declared sort order: range-distribute + sort this write's rows so
    // its files are range-disjoint on the sort key (the per-write cost
    // of a persisted sort order — one shuffle — is what keeps per-file
    // stats tight WITHOUT a compaction after every append)
    val (declCols, declZ) =
      if (sortedBy.nonEmpty) (sortedBy, false)
      else if (zorderBy.nonEmpty) (zorderBy, true)
      else inheritedClustering(base)
    val effectiveSort = declCols.filter(df.columns.contains)
    val clustered = clusterFrame(df, effectiveSort, declZ)
    graft.ProfStream.prof(s"lake writeDataDir $root") {
      writeDataDir(clustered, dirName, effectiveSpec, effectiveBloom)
    }
    // per-file min/max for the manifest (file skipping at scan time);
    // under partition specs the keys are dir-relative paths and the
    // skipping composes with partition pruning inside the file index.
    // Writes AUTO-COLLECT on the table's persisted stats-column set
    // (parquet footer reads over the just-written dir), so skipping
    // survives append-heavy tables without waiting for a compaction.
    // sort columns join the stats set automatically — range-disjoint
    // files are only worth anything if their min/max are in the manifest
    val statsMeta = graft.ProfStream.prof(s"lake writeMeta $root") {
      writeMetaFor(dirName,
        ((if (statsBy.nonEmpty) statsBy else inheritedStatsCols(base)) ++ effectiveSort)
          .distinct,
        df.columns, rowMeta = rowMeta)
    }
    val bloomMeta =
      if (effectiveBloom.isEmpty) Map.empty[String, String]
      else Map(FileStats.BloomColsKey -> FileStats.joinCols(effectiveBloom))
    val sortMeta =
      if (effectiveSort.isEmpty) Map.empty[String, String]
      else Map(FileStats.SortOrderKey ->
        FileStats.encodeClustering(effectiveSort, declZ))
    val op = mode match { case WriteMode.Overwrite => "overwrite"; case WriteMode.Append => "append" }
    // field-id bookkeeping: the dir records the frame's write-time
    // schema; the snapshot schema is the append-merged union (appends
    // never silently narrow the table) with ids stable across commits.
    // The id high-water mark travels in the manifest so a dropped
    // column's id is NEVER reused (reuse would make align() resurrect
    // the dropped bytes under the new name).
    val idFloor = base.fold(0L)(_.idFloor)
    val annotatedDf = SchemaIds.annotate(df.schema, base.map(_.schema), idFloor)
    val currentSchema = mode match {
      case WriteMode.Append if base.nonEmpty => SchemaIds.merge(base.get.schema, df.schema, idFloor)
      case _                                 => annotatedDf
    }
    val idMeta = Map(SchemaIds.LastIdKey ->
      math.max(idFloor, math.max(SchemaIds.maxId(currentSchema), SchemaIds.maxId(annotatedDf))).toString)
    val append = mode == WriteMode.Append
    // an append's merged schema and spec derive from THIS base read: a
    // lost claim race against a schema- or spec-changing commit must
    // fail (and be re-planned) instead of publishing over the change
    val checks = CommitChecks(expectedBase, branch = branch,
      schema = if (append) Some(base.map(_.schemaJson)) else None,
      spec = if (append) Some(effectiveSpec) else None)
    val snap = graft.ProfStream.prof(s"lake commit $root") {
      commit(op, checks, (b, next) =>
        Snapshot.carry(if (append) b else None, effectiveSpec, currentSchema.json)
          .addDirs(Seq(dirName), annotatedDf.json, next)
          .plusMeta(meta ++ statsMeta ++ idMeta ++ bloomMeta ++ sortMeta ++ checkMeta))
    }
    // declared auto-compaction rides appends on the MAIN lineage only
    // (branch compaction belongs to the branch's own publisher)
    if (append && branch.isEmpty) maybeAutoCompact(snap)
    snap
  }

  /** Zero-copy shallow clone (Delta's `CREATE TABLE ... SHALLOW CLONE`
    * / Iceberg snapshot-table shape): publish `target`'s FIRST manifest
    * referencing this table's current data and equality-delete dirs by
    * absolute URI — no data bytes move, at any table size (positional
    * delete files alone are rewritten with absolute keys; their size
    * tracks deleted rows, not the table). The
    * clone then evolves independently: its commits never touch the
    * source, and the source's commits never appear in the clone (the
    * fork point is the manifest, not the files).
    *
    * Correctness hinges on commit-sequence preservation: equality
    * deletes apply to dirs with STRICTLY SMALLER sequences, so the
    * source's per-dir seqs and delete seqs are copied verbatim and the
    * clone's first version IS the source's current version — every
    * future clone commit (version+1…) outranks every preserved
    * sequence, keeping post-clone upserts correct. Per-dir schemas,
    * partition specs, column stats, bloom/sort declarations, byte/row
    * footprints, and hive-layout markers are carried under the
    * remapped absolute dir names, so file skipping and metadata-only
    * counts work on the clone from the first scan.
    *
    * Referenced dirs are EXTERNAL to the clone ([[LakeTable.externalDir]]):
    * its maintenance never deletes them, and a rewrite (compact/DML
    * overwrite) adopts the rows into owned dirs. The usual shallow-
    * clone caveat applies in reverse: `expireSnapshots`/`removeOrphanFiles`
    * on the SOURCE only drop dirs its own retained manifests no longer
    * reference — run a clone-side `compact()` (materializing the data)
    * before aggressively expiring a source you intend to delete.
    */
  def cloneTo(target: LakeTable): Snapshot = {
    import org.apache.spark.sql.functions.col
    val snap = latest.getOrElse(throw new IllegalArgumentException(
      s"clone source $rootLocation has no snapshots"))
    require(target.latest.isEmpty,
      s"clone target ${target.rootLocation} already exists")
    require(target.rootLocation != rootLocation, "clone target is the source")
    def abs(d: String): String =
      if (LakeTable.externalDir(d)) d else loc(d).toString
    val meta = snap.meta.map { case (k, v) =>
      Snapshot.PerDirMetaPrefixes.find(k.startsWith) match {
        case Some(p) => (p + abs(k.stripPrefix(p))) -> v
        case None    => k -> v
      }
    }
    // positional delete files key data files ROOT-RELATIVE to the
    // source, which would mis-resolve under the clone root — rewrite
    // them once into a clone-OWNED dir with source-qualified absolute
    // keys (cost ∝ deleted rows, never data; the Delta-shallow-clone
    // treatment of DV descriptors)
    val cloneDeleteDirs =
      if (snap.deleteDirs.isEmpty) Nil
      else {
        val del = spark.read.schema(DeleteFiles.schema)
          .parquet(snap.deleteDirs.map(location): _*)
          .select(
            DeleteFiles.qualifiedKey(col(DeleteFiles.FileField), qualifiedRootPrefix)
              .as(DeleteFiles.FileField),
            col(DeleteFiles.PosField))
        val staged = target.loc(s"deletes/.staging-${UUID.randomUUID()}")
        del.write.parquet(staged.toString)
        val dirName = s"deletes/${UUID.randomUUID()}"
        target.io.move(staged, target.loc(dirName))
        Seq(dirName)
      }
    val eqDeletes = snap.eqDeletes.map { e =>
      val d = EqDelete.decode(e); EqDelete.encode(d.copy(dir = abs(d.dir)))
    }
    target.commit("clone", CommitChecks(firstVersion = snap.version), (_, _) =>
      snap.withEntries(snap.entries.map(e => e.copy(dir = abs(e.dir))))
        .copy(meta = meta, deleteDirs = cloneDeleteDirs, eqDeletes = eqDeletes))
  }

  /** Declared CHECK constraints of the current snapshot (name → SQL
    * predicate). See [[LakeChecks]] for the validation contract.
    */
  def checkConstraints: Map[String, String] =
    latest.map(LakeChecks.of).getOrElse(Map.empty)

  /** ALTER TABLE ADD CONSTRAINT (Delta's CHECK shape): validate the
    * EXISTING table once (a constraint can never be born violated —
    * one scan, the same price Delta charges), then persist the named
    * predicate in a metadata-only commit. Every subsequent `write` and
    * `upsert` batch is validated against it; rename/drop of a
    * referenced column is rejected while the constraint stands.
    */
  def addCheckConstraint(name: String, sqlPredicate: String): Snapshot = {
    require(name.nonEmpty && !name.contains(':'), s"bad constraint name: $name")
    val base = latest.getOrElse(throw new IllegalStateException(
      s"cannot add a constraint to empty table $rootLocation"))
    require(!base.meta.contains(LakeChecks.key(name)),
      s"constraint $name already exists on $rootLocation (drop it first)")
    // parse now: an unparseable predicate must fail the DDL, not every
    // future write
    LakeChecks.referencedCols(spark, sqlPredicate)
    LakeChecks.enforce(read(Some(base.version)), Map(name -> sqlPredicate), rootLocation)
    commitMeta("add-check", base)(_.plusMeta(Map(LakeChecks.key(name) -> sqlPredicate)))
  }

  /** Declare (or clear, with `smallDirs = 0`) an auto-compaction
    * policy: after each append/upsert commit, if at least `smallDirs`
    * data dirs are under `maxDirBytes` — decided from manifest byte
    * footprints, zero filesystem listing — the writer folds them with
    * [[compactBinPack]] as a best-effort follow-up commit (a failure,
    * such as a loss to a racing writer, is logged and skipped; the
    * next write retries).
    * Delta's autoCompact shape: a trickle-ingest streaming sink keeps
    * its own file-count debt bounded with no external scheduler.
    */
  def setAutoCompact(smallDirs: Int, maxDirBytes: Long = 128L << 20): Snapshot = {
    val base = latest.getOrElse(throw new IllegalStateException(
      s"cannot declare auto-compact on empty table $rootLocation"))
    if (smallDirs <= 0)
      commitMeta("set-autocompact", base)(s => s.copy(meta = s.meta - FileStats.AutoCompactKey))
    else {
      require(maxDirBytes > 0, "maxDirBytes must be positive")
      commitMeta("set-autocompact", base)(
        _.plusMeta(Map(FileStats.AutoCompactKey -> s"$smallDirs,$maxDirBytes")))
    }
  }

  /** Metadata-only commit on `base`: every dir, delete file and carried
    * meta key rides along, and `f` makes the change.
    */
  private def commitMeta(op: String, base: Snapshot)(f: Snapshot => Snapshot): Snapshot =
    commit(op, CommitChecks(base = Some(base.version)), (b, _) =>
      f(Snapshot.carry(b, base.partitionBy, base.schemaJson)))

  /** Post-commit auto-compaction ([[setAutoCompact]]): best-effort —
    * the caller's write already committed, so losing a compaction race
    * costs nothing but deferral to the next write.
    */
  private def maybeAutoCompact(snap: Snapshot): Unit =
    snap.meta.get(FileStats.AutoCompactKey).foreach { v =>
      val Array(n, bytes) = v.split(',')
      val small = snap.dirs.count(d =>
        snap.meta.get(FileStats.bytesKey(d)).exists(_.toLong <= bytes.toLong))
      if (small >= n.toInt)
        // best-effort means ANY failure defers to the next write — the
        // caller's append already committed, so letting a compaction
        // error escape would fail a succeeded write and make retrying
        // callers (streaming foreachBatch) double-append their batch
        try compactBinPack(bytes.toLong)
        catch { case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"auto-compaction of $rootLocation failed; deferred to the next write", e)
        }
    }

  /** Metadata-only commit adding `meta` to the latest snapshot. */
  private[lake] def setMeta(meta: Map[String, String]): Snapshot =
    commitMeta("set-meta", latest.getOrElse(throw new IllegalStateException(
      s"empty table $rootLocation")))(_.plusMeta(meta))

  /** ALTER TABLE DROP CONSTRAINT: metadata-only removal. */
  def dropCheckConstraint(name: String): Snapshot = {
    val base = latest.getOrElse(throw new IllegalStateException(
      s"empty table $rootLocation"))
    require(base.meta.contains(LakeChecks.key(name)),
      s"no constraint $name on $rootLocation (have: ${checkConstraints.keys.mkString(", ")})")
    commitMeta("drop-check", base)(s => s.copy(meta = s.meta - LakeChecks.key(name)))
  }

  /** Register existing parquet data as a data dir of this table WITHOUT
    * copying, moving, or rewriting a single byte — Iceberg's
    * `add_files` procedure (and, on an empty table, its
    * `migrate`/`snapshot` in-place table adoption). At 100 TB this is
    * the difference between a metadata-only commit and re-writing the
    * whole warehouse to onboard it: the commit records the source dir's
    * ABSOLUTE URI in the manifest, harvests per-file row counts and
    * min/max stats from parquet FOOTERS (driver-side metadata reads, no
    * data scan), and merges the source schema into the table's with
    * fresh field ids — so imported data immediately gets file skipping,
    * metadata-only `count(*)`, CDC delivery, and merge-on-read DML like
    * any owned dir.
    *
    * Ownership semantics: the table REFERENCES the source, it does not
    * own it. Retention/expiry never deletes external dirs; any rewrite
    * (compact, binpack, copy-on-write DML, overwrite) adopts the rows
    * into table-owned dirs and drops the reference.
    *
    * Hive-partitioned sources (`k=v` subdirs): the layout columns are
    * NOT in the files — the import infers them via Spark partition
    * discovery, merges them into the table schema, and records the
    * dir as layout-encoded ([[FileStats.hiveColsKey]]) so every read
    * path re-materializes the values with a `basePath` discovery read
    * (Catalyst partition-prunes those dirs on layout-column
    * predicates for free). Still zero bytes copied.
    */
  def addFiles(srcDir: String): Snapshot = {
    val src = io.qualify(new HPath(srcDir))
    require(io.isDir(src), s"add_files source is not a directory: $src")
    val srcStr = src.toString
    require(!(srcStr + "/").startsWith(qualifiedRootPrefix) && srcStr != rootQ.toString,
      s"add_files source $srcStr is inside the table root — it is already table data")
    require(io.countFiles(src, ".parquet") > 0,
      s"add_files source $srcStr contains no parquet files")
    // schema from footers (metadata read); ids minted against the
    // table's id high-water mark so a dropped column's id is never
    // reused by an import. A hive-partitioned source contributes its
    // LAYOUT columns too (partition discovery infers them); the file
    // footers alone give the file-resident set
    val hiveLayout = io.list(src).exists(s =>
      s.isDirectory && s.getPath.getName.contains('='))
    val fileSchema = spark.read.option("recursiveFileLookup", "true")
      .parquet(srcStr).schema
    val srcSchema = if (hiveLayout) spark.read.parquet(srcStr).schema else fileSchema
    val hiveCols = srcSchema.fieldNames.filterNot(fileSchema.fieldNames.contains).toSeq
    require(!hiveLayout || hiveCols.nonEmpty,
      s"add_files source $srcStr has k=v subdirs but partition discovery inferred no " +
        "layout columns — ambiguous layout, import refused")
    val base = latest
    // imported rows must honor standing CHECK constraints like written
    // ones — one scan of the IMPORT, never the table
    base.map(LakeChecks.of).filter(_.nonEmpty).foreach { checks =>
      val importDf = if (hiveLayout) spark.read.parquet(srcStr)
        else spark.read.option("recursiveFileLookup", "true").parquet(srcStr)
      LakeChecks.enforce(importDf, checks, rootLocation)
    }
    val idFloor = base.fold(0L)(_.idFloor)
    val annotated = SchemaIds.annotate(srcSchema, base.map(_.schema), idFloor)
    val currentSchema = base match {
      case Some(b) => SchemaIds.merge(b.schema, srcSchema, idFloor)
      case None    => annotated
    }
    val idMeta = Map(SchemaIds.LastIdKey -> math.max(idFloor,
      math.max(SchemaIds.maxId(currentSchema), SchemaIds.maxId(annotated))).toString)
    // footer harvest: rows + bytes (metadata count(*), admission
    // control) and min/max blobs on the inherited stats set — imported
    // files skip like owned ones from the first scan. Layout columns
    // have no footer stats (they are not in the files)
    val statsMeta = writeMetaFor(srcStr,
      inheritedStatsCols(base).filter(fileSchema.fieldNames.contains),
      fileSchema.fieldNames)
    val hiveMeta: Map[String, String] =
      if (hiveCols.isEmpty) Map.empty
      else Map(FileStats.hiveColsKey(srcStr) -> FileStats.joinCols(hiveCols))
    val spec = base.map(_.partitionBy).getOrElse(Nil)
    commit("add-files", CommitChecks(schema = Some(base.map(_.schemaJson)), spec = Some(spec)),
      (b, next) => Snapshot.carry(b, spec, currentSchema.json)
        // the imported dir is an unpartitioned spec generation: on a
        // partitioned table it reads through the null-escape like any
        // pre-spec dir (no dir pruning, exact row filtering)
        .addDirs(Seq(srcStr), annotated.json, next, spec = "")
        .plusMeta(statsMeta ++ idMeta ++ hiveMeta))
  }

  /** Streaming/CDC upsert (the Flink→Iceberg upsert write shape):
    * append `df` as a new data dir AND write one equality delete file
    * on `keys` retiring every OLDER row with a matching key — one
    * commit, no read-modify-write, cost proportional to the BATCH, not
    * the table. This is what makes continuous CDC ingest viable at
    * 100 TB: a MERGE (even merge-on-read) must scan the table to find
    * matches; an equality-delete upsert never reads existing data —
    * matching is deferred to scan time (one broadcast anti-join per
    * key set) until `compact()` folds it in.
    *
    * Sequence semantics make the single commit sound: the delete's
    * sequence is the committed version and applies only to dirs with
    * a STRICTLY SMALLER sequence, so the batch's own rows survive.
    * Rows within `df` must be unique on `keys` (the same contract
    * Iceberg's upsert-mode writers impose per checkpoint); duplicate
    * keys in one batch would land as duplicate live rows.
    *
    * The batch cannot change the table schema (untouched files keep
    * their bytes — same contract as [[commitMor]]); columns are
    * coerced to the snapshot schema. An empty table accepts the first
    * upsert as a plain create-with-data.
    */
  def upsert(df: DataFrame, keys: Seq[String],
             meta: Map[String, String] = Map.empty): Snapshot = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    val base = latest.getOrElse { return write(df, WriteMode.Overwrite, meta = meta) }
    LakeChecks.enforce(df, LakeChecks.of(base), rootLocation)
    val schema = base.schema
    keys.foreach(k => require(schema.fieldNames.contains(k),
      s"upsert key '$k' is not a column of $rootLocation (${schema.fieldNames.mkString(", ")})"))
    import org.apache.spark.sql.functions.col
    val coerced = df.select(schema.fields.toSeq
      .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    // stage the delete file first (key values only, deduplicated —
    // the delete side of every future scan's anti-join stays minimal)
    io.mkdirs(loc("eqdeletes"))
    val staged = loc(s"eqdeletes/.staging-${UUID.randomUUID().toString}")
    coerced.select(keys.map(col): _*).distinct()
      .write.mode("overwrite").parquet(staged.toString)
    val delDir = s"eqdeletes/${UUID.randomUUID().toString}"
    io.move(staged, loc(delDir))
    val dirName = s"data/${UUID.randomUUID().toString}"
    writeDataDir(coerced, dirName, base.partitionBy, inheritedBloomCols(Some(base)))
    val statsMeta = writeMetaFor(dirName, inheritedStatsCols(Some(base)),
      schema.fieldNames.toSeq)
    // the coercion above resolved types against THIS schema; a
    // concurrent evolution must fail the commit, not be hidden
    val checks = CommitChecks(schema = Some(Some(base.schemaJson)), spec = Some(base.partitionBy))
    val snap = commit("upsert", checks, { (b, next) =>
      val s = Snapshot.carry(b, base.partitionBy, base.schemaJson)
        .addDirs(Seq(dirName), base.schemaJson, next)
        .plusMeta(meta ++ statsMeta)
      // the delete's sequence is the version the commit lands at
      s.copy(eqDeletes = s.eqDeletes :+ EqDelete.encode(EqDelete(next, keys, delDir)))
    })
    maybeAutoCompact(snap) // CDC trickle ingest is the main small-file source
    snap
  }

  /** Merge-on-read DML commit: stage one positional-delete dir (and
    * optionally one new data dir for updated/inserted rows), then
    * commit both carrying every existing dir forward untouched — the
    * Iceberg v2 row-level-delete shape where a 1-row MERGE writes a
    * tiny delete file instead of rewriting gigabytes.
    *
    * The delete rows frame must already be in [[DeleteFiles.schema]]
    * (root-relative `_file`, `_pos`). New data is coerced to the
    * snapshot's current schema: MOR can never change the table schema,
    * because the untouched files keep their bytes.
    */
  private[lake] def commitMor(op: String, stagedDeletes: HPath,
                              newData: Option[DataFrame], base: Snapshot,
                              meta: Map[String, String] = Map.empty): Snapshot = {
    // MOR DML writes new row images like any append, so CHECK
    // constraints gate them too (a delete alone cannot violate a row
    // predicate). Enforced before the staged-delete publish: a
    // violation leaves only the reclaimable dot-dir behind.
    newData.foreach(df => LakeChecks.enforce(df, LakeChecks.of(base), rootLocation))
    val delDir = s"deletes/${UUID.randomUUID().toString}"
    io.mkdirs(loc("deletes"))
    // the staged dir was written under a dot-name the orphan sweep can
    // reclaim if this commit dies; publishing is a same-FS move
    io.move(stagedDeletes, loc(delDir))
    val newDirs = newData.map { df =>
      import org.apache.spark.sql.functions.col
      val coerced = df.select(base.schema.fields.toSeq
        .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      val dirName = s"data/${UUID.randomUUID().toString}"
      writeDataDir(coerced, dirName, base.partitionBy, inheritedBloomCols(Some(base)))
      dirName
    }.toSeq
    // EVERY new data dir auto-collects stats like any append (carried
    // dirs keep theirs through the commit's stats carry; deletes never
    // invalidate min/max — removing rows only shrinks true ranges, so
    // manifest ranges stay a safe over-approximation). The path writes
    // one dir today, but a headOption here would silently drop the
    // byte/row/stats meta of any further dir and push its consumers
    // onto the listing/footer fallback for the table's lifetime.
    val statsMeta = newDirs.map(d =>
      writeMetaFor(d, inheritedStatsCols(Some(base)), base.schema.fieldNames.toSeq))
      .foldLeft(Map.empty[String, String])(_ ++ _)
    commit(op, CommitChecks(base = Some(base.version)), { (b, next) =>
      val s = Snapshot.carry(b, base.partitionBy, base.schemaJson)
        .addDirs(newDirs, base.schemaJson, next)
        .plusMeta(meta ++ statsMeta)
      s.copy(deleteDirs = s.deleteDirs :+ delDir)
    })
  }

  /** DDL create: commit a schema (and optional partition spec) with no
    * data dirs — the `CREATE TABLE` surface of the SQL catalog. The
    * table reads as empty until the first write.
    */
  def create(schema: StructType, partitionBy: Seq[String] = Nil,
             meta: Map[String, String] = Map.empty): Snapshot = {
    require(latest.isEmpty, s"table already exists at $root")
    commit("create", CommitChecks(), (_, _) => Snapshot.empty(partitionBy, schema.json, meta))
  }

  // -- schema evolution (rename / drop / widen) ---------------------------
  // Metadata-only commits: data dirs and their recorded write-time
  // schemas are carried unchanged; only the snapshot's current schema
  // moves. Reads align by field id (SchemaIds), so files written
  // before a rename keep resolving to the renamed column — and time
  // travel to a pre-rename version reads the old name, because every
  // snapshot pins its own schema.

  /** Renaming or dropping a column that live equality deletes key on
    * would break their value matching — silently resurrecting deleted
    * rows. Deletes key by NAME (they are small value files, not
    * id-mapped data files), so the evolution must wait for a
    * `compact()` to fold the deletes in first. Widening is safe (the
    * stored values upcast on read like data files do).
    */
  /** A column referenced by a standing CHECK constraint cannot be
    * renamed or dropped (the persisted predicate text would silently
    * stop validating, or break every write) — same contract as Delta.
    */
  private def requireNoCheckOn(snap: Snapshot, colName: String, op: String): Unit = {
    val hits = LakeChecks.of(snap).filter { case (_, e) =>
      LakeChecks.referencedCols(spark, e).contains(colName)
    }
    require(hits.isEmpty,
      s"cannot $op column '$colName': referenced by CHECK constraint(s) " +
        s"${hits.keys.mkString(", ")} — drop them first")
  }

  private def requireNoEqDeleteOn(snap: Snapshot, col: String, op: String): Unit = {
    val keyed = snap.eqDeletes.map(EqDelete.decode).filter(_.cols.contains(col))
    require(keyed.isEmpty,
      s"cannot $op column '$col' at $rootLocation: ${keyed.size} live equality delete(s) " +
        "key on it; run compact() first to fold the deletes into data")
  }

  private def evolveSchema(op: String, f: StructType => StructType): Snapshot = {
    val snap = latest.getOrElse(throw new IllegalStateException(s"empty table at $root"))
    // materialize ids for legacy snapshots (all dirs shared the
    // current names until now, so a uniform annotation is faithful)
    val annotated = SchemaIds.annotate(snap.schema, None, snap.idFloor)
    val written = if (snap.dirSchemaJsons.isEmpty) snap.copy(schemaJson = annotated.json) else snap
    // the id high-water mark MUST survive a drop: it is what prevents
    // the dropped column's id from being reissued by a later append
    val idMeta = Map(SchemaIds.LastIdKey ->
      math.max(snap.idFloor, SchemaIds.maxId(annotated)).toString)
    // stats blobs and the stats-column set are keyed by COLUMN NAME:
    // after a rename/drop they could match a future same-named column
    // and wrongly prune — drop them (conservative; next statsBy write
    // or sorted compact re-arms skipping)
    commit(op, CommitChecks(base = Some(snap.version)), (_, _) =>
      Snapshot.carry(Some(written), snap.partitionBy, f(annotated).json, carryStats = false)
        .plusMeta(idMeta))
  }

  /** Partition-spec evolution (Iceberg's `ALTER TABLE ... ADD/DROP/
    * REPLACE PARTITION FIELD`): a METADATA-ONLY commit that changes
    * the spec future writes use. Existing dirs keep their directories
    * AND their recorded spec, so scans keep pruning each generation
    * via its own layout — no data moves until the next [[compact]],
    * which rewrites everything under the current spec and folds the
    * generations back to one. (Iceberg's spec-evolution contract:
    * old files keep their partition tuples, new files get the new
    * ones, and split planning prunes each by what it has.)
    */
  def setPartitionSpec(newSpec: Seq[String]): Snapshot = {
    val snap = latest.getOrElse(throw new IllegalStateException(s"empty table at $root"))
    val fields = newSpec.map(PartitionField.parse)
    val schema = snap.schema
    fields.foreach(f => require(schema.fieldNames.contains(f.source),
      s"partition source '${f.source}' is not a column of $rootLocation"))
    require(fields.map(_.name).distinct.size == fields.size,
      s"duplicate partition field names in $newSpec")
    commit("set-spec", CommitChecks(base = Some(snap.version)), (b, _) =>
      Snapshot.carry(b, newSpec, snap.schemaJson))
  }

  /** Rename a column, keeping its field id: existing files resolve to
    * the new name through the id. Unpartitioned tables only (the
    * partitioned read path resolves files by name).
    */
  def renameColumn(oldName: String, newName: String): Snapshot = {
    val snap = latest.getOrElse(throw new IllegalStateException(s"empty table at $root"))
    require(snap.partitionBy.isEmpty && snap.dirs.indices.forall(snap.dirSpec(_).isEmpty),
      s"renameColumn on a partitioned table is not supported (spec ${snap.partitionBy})")
    requireNoEqDeleteOn(snap, oldName, "rename")
    requireNoCheckOn(snap, oldName, "rename")
    evolveSchema("rename", { cur =>
      require(cur.fieldNames.contains(oldName), s"no column '$oldName' at $root")
      require(!cur.fieldNames.contains(newName), s"column '$newName' already exists at $root")
      StructType(cur.fields.map(f => if (f.name == oldName) f.copy(name = newName) else f))
    })
  }

  /** Add a nullable column (metadata-only): existing rows read as
    * null. Works on partitioned tables too — every read path
    * null-backfills columns absent from older files.
    */
  def addColumn(name: String, dataType: DataType): Snapshot =
    evolveSchema("add-column", { cur =>
      require(!cur.fieldNames.contains(name), s"column '$name' already exists at $root")
      val floor = latest.fold(0L)(_.idFloor)
      SchemaIds.annotate(
        StructType(cur.fields :+ org.apache.spark.sql.types.StructField(name, dataType)),
        None, math.max(floor, SchemaIds.maxId(cur)))
    })

  /** Drop a column (metadata-only; file bytes are reclaimed at the
    * next compaction). The column must not source a partition
    * transform.
    */
  def dropColumn(name: String): Snapshot = {
    val snap = latest.getOrElse(throw new IllegalStateException(s"empty table at $root"))
    // every spec generation counts: a column sourcing an OLD dir's
    // spec is still needed to read/prune those dirs
    val sources = (snap.partitionBy +: snap.dirs.indices.map(snap.dirSpec))
      .flatten.distinct.map(PartitionField.parse).map(_.source)
    require(!sources.contains(name),
      s"cannot drop '$name': it sources partition spec ${snap.partitionBy}")
    requireNoEqDeleteOn(snap, name, "drop")
    requireNoCheckOn(snap, name, "drop")
    evolveSchema("drop", { cur =>
      require(cur.fieldNames.contains(name), s"no column '$name' at $root")
      require(cur.fields.length > 1, s"cannot drop the last column of $root")
      StructType(cur.fields.filterNot(_.name == name))
    })
  }

  /** Widen a column's type (int→long, float→double, …). Only loss-free
    * up-casts are allowed; existing files keep their narrow physical
    * type and widen on read.
    */
  def widenColumn(name: String, newType: DataType): Snapshot = {
    val snap = latest.getOrElse(throw new IllegalStateException(s"empty table at $root"))
    require(snap.partitionBy.isEmpty && snap.dirs.indices.forall(snap.dirSpec(_).isEmpty),
      s"widenColumn on a partitioned table is not supported (spec ${snap.partitionBy})")
    evolveSchema("widen", { cur =>
      require(cur.fieldNames.contains(name), s"no column '$name' at $root")
      val from = cur(name).dataType
      require(org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(from, newType),
        s"cannot widen '$name' from $from to $newType (not a loss-free up-cast)")
      StructType(cur.fields.map(f => if (f.name == name) f.copy(dataType = newType) else f))
    })
  }

  /** Small-file compaction (the `rewrite_data_files` capability the
    * reference enables via the Iceberg extensions): rewrite the current
    * snapshot into `targetPartitions` sized files in a single new dir.
    * Data is unchanged — only layout. With `sortBy`, files are
    * range-partitioned and sorted on those columns (Iceberg's
    * `rewrite_data_files(strategy => 'sort')`): parquet min/max stats
    * become disjoint across files, so later range/equality predicates
    * on the sort columns prune whole files — the cheap substitute for
    * indexes at 100 TB.
    */
  def compact(targetPartitions: Int, sortBy: Seq[String] = Nil): Snapshot = {
    // a declared sort order is the table's default clustering: an
    // unqualified compact() keeps honoring it instead of silently
    // de-sorting the table
    val (effective, z) =
      if (sortBy.nonEmpty) (sortBy, false) else inheritedClustering(latest)
    if (z) rewriteClustered(targetPartitions, Nil, statsCols = effective,
      zNormCols = effective)
    else rewriteClustered(targetPartitions,
      effective.map(org.apache.spark.sql.functions.col), statsCols = effective)
  }

  /** Z-order compaction (Iceberg's zorder rewrite strategy): files
    * cluster on the interleaved [[graft.functions.ZOrderCode]] of
    * `zorderBy`, keeping per-file min/max tight on ALL the listed
    * columns — predicates on any of them prune files, where a
    * lexicographic sort only serves its leading column.
    */
  def compactZOrder(targetPartitions: Int, zorderBy: Seq[String]): Snapshot =
    rewriteClustered(targetPartitions, Nil, statsCols = zorderBy,
      zNormCols = zorderBy)

  private def rewriteClustered(targetPartitions: Int,
                               sortCols0: Seq[org.apache.spark.sql.Column],
                               statsCols: Seq[String] = Nil,
                               zNormCols: Seq[String] = Nil): Snapshot = {
    val snap = latest.getOrElse(throw new IllegalStateException(s"empty table at $root"))
    // compaction rewrites data, never declarations: the table's
    // clustering and bloom properties must survive it or the NEXT
    // append silently de-clusters/disarms the table; so must the
    // field-id high-water mark, or a dropped column's id is reissued
    val propMeta = snap.meta.filter { case (k, _) =>
      k == FileStats.SortOrderKey || k == FileStats.BloomColsKey ||
        k == FileStats.AutoCompactKey || k == SchemaIds.LastIdKey ||
        k.startsWith(LakeChecks.KeyPrefix) ||
        k.startsWith(LakeTable.CarryMetaPrefix)
    }
    val base = read(Some(snap.version))
    // z-order rewrites cluster on the range-normalized code (see
    // zorderCodeNormalized) — computed against the FULL table here
    val sortCols =
      if (zNormCols.nonEmpty) Seq(zorderCodeNormalized(base, zNormCols))
      else sortCols0
    val df =
      if (sortCols.isEmpty) base.repartition(targetPartitions)
      else base.repartitionByRange(targetPartitions, sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
    val dirName = s"data/${UUID.randomUUID().toString}"
    writeDataDir(df, dirName, snap.partitionBy, inheritedBloomCols(Some(snap))) // re-derives transform columns
    // compaction is where file ranges become disjoint on the cluster
    // columns — collect per-file min/max there so scans skip files
    // from the manifest (z-order bounds EVERY listed dimension, so all
    // zorderBy columns get useful ranges, not just a leading one).
    // A plain compact (no sort) inherits the table's stats-column set:
    // its random clustering gives loose ranges, but the set survives
    // so subsequent appends keep auto-collecting.
    val statsMeta = writeMetaFor(dirName,
      if (statsCols.nonEmpty) statsCols else inheritedStatsCols(Some(snap)),
      snap.schema.fieldNames.toSeq)
    commit("compact", CommitChecks(base = Some(snap.version)), (_, next) =>
      Snapshot.empty(snap.partitionBy, snap.schemaJson, statsMeta ++ propMeta)
        .addDirs(Seq(dirName), snap.schemaJson, next))
  }

  /** Incremental binpack compaction (Iceberg's `rewrite_data_files`
    * binpack strategy with a size threshold): rewrite ONLY the commit
    * dirs at or under `maxDirBytes` into one sized dir, carrying every
    * larger dir untouched — at 100 TB "compact the table" is never one
    * job; maintenance folds the small-file debt of recent trickle
    * commits while the big, already-well-sized dirs stay in place.
    * Cost tracks the SMALL dirs, not the table.
    *
    * Delete-file semantics are preserved exactly: the subset is read
    * with all current deletes applied (so rewritten rows are the live
    * ones), delete files are carried for the kept dirs, positional
    * entries naming rewritten files match nothing afterwards, and the
    * new dir's commit sequence exempts it from already-applied
    * equality deletes while future ones (higher seq) still bind.
    * Kept dirs keep their stats blobs and byte sizes; the folded dir
    * auto-collects stats on the table's stats-column set.
    */
  def compactBinPack(maxDirBytes: Long, targetPartitions: Int = 1): Snapshot = {
    val base = latest.getOrElse(throw new IllegalStateException(s"empty table at $root"))
    def bytesOf(d: String): Long =
      base.meta.get(FileStats.bytesKey(d)).map(_.toLong).getOrElse(io.dirBytes(loc(d)))
    val smallIdx = base.dirs.indices.filter(i => bytesOf(base.dirs(i)) <= maxDirBytes)
    if (smallIdx.size <= 1) return base
    compactDirs(base, smallIdx)(_.repartition(targetPartitions))
  }

  /** Predicate-scoped compaction (Iceberg's `rewrite_data_files(where
    * => ...)`): rewrite ONLY the commit dirs that may hold matching
    * rows, carry every provably-disjoint dir untouched. At 100 TB the
    * whole-table `compact()` is a non-starter for routine maintenance —
    * the operational shape is "fold the last day's trickle commits",
    * and this bounds the rewrite to dirs whose manifest stats overlap
    * the predicate (append-heavy tables write many narrow commit dirs,
    * so dir granularity ≈ time/partition granularity there). The
    * predicate only SCOPES the rewrite — selected dirs rewrite all
    * their live rows, so a dropped/unextractable conjunct merely
    * rewrites more, never loses rows. Stats-less dirs rewrite
    * conservatively. The rewritten rows honor the table's declared
    * clustering; kept dirs keep their stats/bytes; delete files carry
    * for the kept dirs and are already folded into the rewritten rows.
    */
  def compactWhere(preds: Seq[LakePredicate], targetPartitions: Int = 1): Snapshot = {
    require(preds.nonEmpty,
      "compactWhere needs a predicate — use compact() for a full rewrite")
    val base = latest.getOrElse(throw new IllegalStateException(s"empty table at $root"))
    val cur = base.schema
    def disjoint(i: Int): Boolean =
      FileStats.dirStats(base, i, preds.map(_.col).toSet)
        .flatMap(_.surviving(preds, cur)).exists(_.isEmpty)
    val rewriteIdx = base.dirs.indices.filterNot(disjoint)
    if (rewriteIdx.isEmpty) return base
    val (clusterCols, clusterZ) = inheritedClustering(Some(base))
    compactDirs(base, rewriteIdx) { live =>
      val effective = clusterCols.filter(live.columns.contains)
      if (effective.isEmpty) live.repartition(targetPartitions)
      else if (clusterZ) {
        val code = zorderCodeNormalized(live, effective)
        live.repartitionByRange(targetPartitions, code).sortWithinPartitions(code)
      } else live.repartitionByRange(targetPartitions,
        effective.map(org.apache.spark.sql.functions.col): _*)
        .sortWithinPartitions(effective.map(org.apache.spark.sql.functions.col): _*)
    }
  }

  /** Rewrite the LIVE rows of the dirs of `base` at `rewriteIdx` into
    * one new dir laid out by `layout`, carrying every other dir, its
    * meta and every delete file untouched (delete semantics: see
    * [[compactBinPack]]). The new dir's sequence is the version the
    * commit lands at.
    */
  private def compactDirs(base: Snapshot, rewriteIdx: Seq[Int])
                         (layout: DataFrame => DataFrame): Snapshot = {
    val df = layout(scanOf(base.keepDirs(rewriteIdx), Nil, keepPos = false))
    val dirName = s"data/${UUID.randomUUID().toString}"
    writeDataDir(df, dirName, base.partitionBy, inheritedBloomCols(Some(base)))
    val keep = base.keepDirs(base.dirs.indices.filterNot(rewriteIdx.contains))
    val keptDirs = keep.dirs.toSet
    val keptMeta = base.meta.filter { case (k, _) =>
      Snapshot.PerDirMetaPrefixes.exists(p => k.startsWith(p) && keptDirs(k.stripPrefix(p))) ||
        k == FileStats.StatsColsKey || k == FileStats.SortOrderKey ||
        k == FileStats.BloomColsKey || k == FileStats.AutoCompactKey ||
        k == SchemaIds.LastIdKey || k.startsWith(LakeChecks.KeyPrefix) ||
        k.startsWith(LakeTable.CarryMetaPrefix)
    }
    val statsMeta = writeMetaFor(dirName, inheritedStatsCols(Some(base)),
      base.schema.fieldNames.toSeq)
    commit("compact", CommitChecks(base = Some(base.version)), (_, next) =>
      keep.addDirs(Seq(dirName), base.schemaJson, next)
        .copy(meta = keptMeta ++ statsMeta))
  }

  /** Fold all positional delete dirs into one (Iceberg's
    * `rewrite_position_deletes`): merge-on-read DML accretes one small
    * delete dir per statement, and every scan pays one relation +
    * anti-join build per dir — a month of trickle upserts turns the
    * read path into hundreds of tiny delete file reads. This rewrites
    * the union (deduplicated — the same position can be deleted by two
    * statements) into one dir WITHOUT touching data files: cheap
    * maintenance between real compactions, and a metadata-safe commit
    * for append feeds (streaming consumers pass over it — the data
    * dirs they deliver are untouched).
    */
  def rewritePositionDeletes(targetPartitions: Int = 1): Snapshot = {
    val base = latest.getOrElse(throw new IllegalStateException(s"empty table at $root"))
    if (base.deleteDirs.size <= 1) return base
    val staged = loc(s"deletes/.staging-${UUID.randomUUID().toString}")
    io.mkdirs(loc("deletes"))
    spark.read.schema(DeleteFiles.schema).parquet(base.deleteDirs.map(location): _*)
      .distinct()
      .repartition(targetPartitions)
      .write.mode("overwrite").parquet(staged.toString)
    val delDir = s"deletes/${UUID.randomUUID().toString}"
    io.move(staged, loc(delDir))
    commitMeta("rewrite-deletes", base)(_.copy(deleteDirs = Seq(delDir)))
  }

  /** Fold all equality delete files into ONE dir per key set, keeping
    * each row's ORIGINAL commit sequence in a per-row column — the
    * equality-delete face of `rewrite_position_deletes`. A month of
    * trickle upserts accretes one tiny delete dir per commit; scans
    * already pay only one anti-join per key set, but the union behind
    * it reads O(commits) small files — this rewrites it to one
    * relation without touching data files or changing any delete's
    * effect. Metadata-safe commit (`rewrite-deletes`): append feeds
    * pass over it.
    */
  def rewriteEqualityDeletes(targetPartitions: Int = 1): Snapshot = {
    import org.apache.spark.sql.functions.{col, lit}
    val base = latest.getOrElse(throw new IllegalStateException(s"empty table at $root"))
    val entries = base.eqDeletes.map(EqDelete.decode)
    if (entries.size <= 1) return base
    val schema = base.schema
    io.mkdirs(loc("eqdeletes"))
    val folded = entries.groupBy(_.cols).toSeq.sortBy(_._1.mkString(",")).map {
      case (_, Seq(single)) => single
      case (cols, group) =>
        val delSchema = org.apache.spark.sql.types.StructType(cols.map(c =>
          org.apache.spark.sql.types.StructField(c, schema(c).dataType, nullable = true)))
        val merged = group.map(e => EqualityDeletes.deleteRows(this, delSchema, e))
          .reduce(_ union _)
          .select(cols.map(col) :+ col("_gr_del_seq").as(EqDelete.SeqField): _*)
          .distinct() // identical (key, seq) rows from replayed batches
          .repartition(targetPartitions)
        val staged = loc(s"eqdeletes/.staging-${UUID.randomUUID().toString}")
        merged.write.mode("overwrite").parquet(staged.toString)
        val dir = s"eqdeletes/${UUID.randomUUID().toString}"
        io.move(staged, loc(dir))
        EqDelete(EqDelete.PerRowSeq, cols, dir)
    }
    commitMeta("rewrite-deletes", base)(_.copy(eqDeletes = folded.map(EqDelete.encode)))
  }

  /** Rollback (Iceberg's `rollback_to_snapshot`): re-commit the target
    * version's complete state — dirs, schema, spec generations, delete
    * files, stats — as a NEW version. History stays immutable (the bad
    * commits remain time-travel-readable until expired); the data dirs
    * are shared, immutable, and never copied. Fails when the target
    * was expired or the table moved since `latest` was read.
    */
  def rollbackTo(version: Long): Snapshot = {
    val cur = latest.getOrElse(throw new IllegalStateException(s"empty table at $root"))
    require(version != cur.version, s"table $rootLocation is already at v$version")
    val target = snapshotAt(version).getOrElse(throw new IllegalArgumentException(
      s"no snapshot v$version at $rootLocation (never committed, or expired)"))
    // equality-delete state restores EXACTLY: original sequences and
    // per-dir sequences must survive, or the seq<delSeq semantics
    // would re-delete (or resurrect) the wrong rows
    commit("rollback", CommitChecks(base = Some(cur.version)), (_, _) => target)
  }

  // -- tags & write-audit-publish -----------------------------------------

  private def refsDir: HPath = loc("_refs")
  private def refPath(name: String): HPath = new HPath(refsDir, s"$name.json")
  private def stagedDirPath: HPath = loc("_staged")
  private def stagedPath(id: String): HPath = new HPath(stagedDirPath, s"$id.json")
  private val RefName = "[A-Za-z0-9_][A-Za-z0-9_.-]*".r

  /** Create an immutable named tag on a snapshot (Iceberg's
    * `ALTER TABLE ... CREATE TAG`): a retention anchor and a stable
    * name for time travel (`readTag` / SQL `VERSION AS OF 'name'`).
    * Creation is the arbiter's atomic create-if-absent — two racers
    * cannot both claim a name. Tagged snapshots survive
    * `expireSnapshots` until the tag is dropped: at 100 TB, tags are
    * how audits/reproducibility pin a dataset release while routine
    * retention keeps trimming history around it.
    */
  def createTag(name: String, version: Option[Long] = None): Long = {
    require(RefName.matches(name), s"bad tag name '$name'")
    val v = version.orElse(latest.map(_.version)).getOrElse(
      throw new IllegalStateException(s"empty table at $root"))
    require(snapshotAt(v).nonEmpty, s"no snapshot v$v at $rootLocation to tag")
    io.mkdirs(refsDir)
    require(arbiter.publishIfAbsent(refPath(name), s"""{"name":"${name}","version":$v}"""),
      s"tag '$name' already exists at $rootLocation")
    v
  }

  def dropTag(name: String): Boolean = io.delete(refPath(name))

  def tagVersion(name: String): Option[Long] = {
    if (!io.exists(refPath(name))) return None
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = om.readTree(io.readString(refPath(name)))
    // branch refs share the _refs namespace but are not tags
    if (n.has("type") && n.get("type").asText() == "branch") None
    else Some(n.get("version").asLong())
  }

  /** All tags as (name, version), sorted by name. */
  def tags: Seq[(String, Long)] =
    io.list(refsDir).map(_.getPath.getName).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json")).sorted
      .flatMap(n => tagVersion(n).map(n -> _))

  def readTag(name: String): DataFrame =
    read(Some(tagVersion(name).getOrElse(
      throw new IllegalArgumentException(s"no tag '$name' at $rootLocation"))))

  // -- branches (mutable refs; audit-then-publish lineage) ----------------

  /** Create a named BRANCH at `version` (default: the current main
    * head) — Iceberg's `ALTER TABLE ... CREATE BRANCH` surface and the
    * multi-write half of write-audit-publish that staged single
    * commits ([[stageAppend]]) cannot cover: a validation pipeline
    * writes to the branch as many times as it needs
    * ([[writeBranch]]), audits with [[readBranch]], then
    * [[fastForward]] publishes the whole branch state onto main as
    * ONE metadata-only commit. Until then no main reader sees any of
    * it; [[dropBranch]] abandons it and the orphan sweep reclaims its
    * dirs.
    *
    * A branch is a parallel commit lineage under `_branches/<name>/`
    * using the SAME optimistic claim/publish protocol and the same
    * data-dir namespace as main. Branch versions CONTINUE main's
    * numbering from the base version, keeping commit sequences in one
    * ordered space — carried equality deletes keep applying only to
    * strictly-older dirs on the branch too.
    */
  def createBranch(name: String, version: Option[Long] = None): Long = {
    require(RefName.matches(name), s"bad branch name '$name'")
    val v = version.orElse(latest.map(_.version)).getOrElse(
      throw new IllegalStateException(s"empty table at $root"))
    val base = snapshotAt(v).getOrElse(throw new IllegalArgumentException(
      s"no snapshot v$v at $rootLocation to branch from"))
    io.mkdirs(lineageVersionsDir(Some(name)))
    // lineage first, ref second: a ref must never point at nothing
    require(arbiter.publishIfAbsent(lineageManifestPath(Some(name), v),
        Manifest.toJson(base.copy(op = "branch"))),
      s"branch '$name' lineage already exists at $rootLocation")
    io.mkdirs(refsDir)
    if (!arbiter.publishIfAbsent(refPath(name),
        s"""{"name":"${name}","type":"branch","base":$v}""")) {
      io.delete(lineageVersionsDir(Some(name)))
      throw new IllegalArgumentException(s"ref '$name' already exists at $rootLocation")
    }
    v
  }

  /** The main version a branch was created from, or None when no such
    * branch exists.
    */
  def branchBase(name: String): Option[Long] = {
    if (!io.exists(refPath(name))) return None
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = om.readTree(io.readString(refPath(name)))
    if (n.has("type") && n.get("type").asText() == "branch") Some(n.get("base").asLong())
    else None
  }

  /** The branch's newest snapshot (its manifests live in the branch
    * lineage dir; data dirs are shared with main's namespace).
    */
  def branchHead(name: String): Option[Snapshot] = {
    val manifests = io.list(lineageVersionsDir(Some(name))).map(_.getPath)
      .filter(_.getName.matches("v\\d{8}\\.json"))
    if (manifests.isEmpty) None
    else Manifest.read(io, manifests.maxBy(_.getName))
  }

  private def branchHistory(name: String): Seq[Snapshot] =
    io.list(lineageVersionsDir(Some(name))).map(_.getPath)
      .filter(_.getName.matches("v\\d{8}\\.json")).sortBy(_.getName)
      .flatMap(p => Manifest.read(io, p))

  /** All branches as (name, baseVersion, headVersion), sorted. */
  def branches: Seq[(String, Long, Long)] =
    io.list(refsDir).map(_.getPath.getName).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json")).sorted
      .flatMap(n => branchBase(n).flatMap(b => branchHead(n).map(h => (n, b, h.version))))

  /** Append/overwrite on the branch lineage — full write semantics
    * (schema merge, spec inheritance, stats auto-collect) against the
    * BRANCH head; main is untouched.
    */
  def writeBranch(name: String, df: DataFrame, mode: WriteMode,
                  partitionBy: Seq[String] = Nil,
                  statsBy: Seq[String] = Nil): Snapshot = {
    require(branchBase(name).nonEmpty, s"no branch '$name' at $rootLocation")
    write(df, mode, partitionBy, statsBy = statsBy, branch = Some(name))
  }

  /** The table as the branch sees it — the audit read. */
  def readBranch(name: String, version: Option[Long] = None): DataFrame = {
    val snap = version match {
      case Some(v) => branchHistory(name).find(_.version == v).getOrElse(
        throw new IllegalArgumentException(s"no snapshot v$v on branch '$name' at $rootLocation"))
      case None => branchHead(name).getOrElse(
        throw new IllegalArgumentException(s"no branch '$name' at $rootLocation"))
    }
    scanOf(snap, Nil, keepPos = false)
  }

  /** Publish the branch head onto main as one metadata-only commit
    * (Iceberg's `fast_forward` procedure). Requires main not to have
    * moved since the branch was created — fast-forward is an ancestor
    * move, anything else needs a rebase (re-branch from the new head
    * and replay). The branch is dropped on success: its state IS
    * main's state now.
    */
  def fastForward(name: String): Snapshot = {
    val baseV = branchBase(name).getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' at $rootLocation"))
    val head = branchHead(name).getOrElse(
      throw new IllegalArgumentException(s"branch '$name' has no lineage at $rootLocation"))
    val cur = latest.getOrElse(throw new IllegalStateException(s"empty table at $root"))
    if (cur.version != baseV) throw new java.util.ConcurrentModificationException(
      s"main moved from v$baseV to v${cur.version} since branch '$name' was created; " +
        "fast-forward must be an ancestor move — re-branch from the new head and replay")
    // dirs minted ON the branch re-stamp to the published version (-1
    // sentinel): their branch-lineage sequences may exceed main's next
    // version, which would let them escape later equality deletes.
    // Dirs inherited from the base keep their original sequences.
    val baseDirs = branchHistory(name).headOption.map(_.dirs.toSet).getOrElse(Set.empty)
    val snap = commit("fast-forward", CommitChecks(base = Some(cur.version)), (_, next) =>
      head.withEntries(head.entries.map(e => if (baseDirs(e.dir)) e else e.copy(seq = next))))
    dropBranch(name)
    snap
  }

  /** Drop the branch ref and lineage. Dirs only it referenced become
    * orphans and are reclaimed by [[removeOrphanFiles]] after the
    * grace period.
    */
  def dropBranch(name: String): Boolean = {
    val had = io.delete(refPath(name))
    io.delete(lineageVersionsDir(Some(name)))
    had
  }

  /** Dirs any live branch references (liveness for expiry/orphan
    * sweeps) — all branch lineage snapshots, not just heads, so a
    * branch's own history stays readable while it exists.
    */
  private def branchLiveDirs: Set[String] =
    branches.map(_._1).flatMap(branchHistory)
      .flatMap(s => s.dirs ++ s.deleteDirs ++ s.eqDeleteDirs).toSet

  /** Stage an append WITHOUT publishing it (Iceberg's
    * write-audit-publish pattern): data lands in a normal immutable
    * dir, described by a staged manifest under `_staged/` that no
    * reader resolves. Audit the candidate with [[readStaged]], then
    * [[publishStaged]] — which only commits metadata (the data was
    * already written) — or [[discardStaged]]. At 100 TB this is how a
    * pipeline validates a day's load (row counts, null ratios,
    * distribution checks) before ANY consumer can see it, without
    * writing the data twice.
    *
    * The frame is coerced to the current table schema at stage time
    * (same contract as [[upsert]]); publish revalidates that the
    * schema hasn't moved since.
    */
  def stageAppend(df: DataFrame): String = stageWrite(df, WriteMode.Append)

  /** Stage a write of either mode (the [[LakeTransaction]] building
    * block): data lands now, invisible to every reader until
    * [[publishStaged]].
    */
  def stageWrite(df: DataFrame, mode: WriteMode): String = {
    import org.apache.spark.sql.functions.col
    val base = latest.getOrElse(
      throw new IllegalStateException(s"empty table at $root — create or write it first"))
    val coerced = df.select(base.schema.fields.toSeq
      .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    // staged data honors the declared sort order like any direct write:
    // the audit window must not be a clustering-decay window
    val (clusterCols0, clusterZ) = inheritedClustering(Some(base))
    val clustered =
      clusterFrame(coerced, clusterCols0.filter(coerced.columns.contains), clusterZ)
    val dirName = s"data/${UUID.randomUUID().toString}"
    writeDataDir(clustered, dirName, base.partitionBy, inheritedBloomCols(Some(base)))
    val id = UUID.randomUUID().toString
    io.mkdirs(stagedDirPath)
    val modeStr = mode match {
      case WriteMode.Append    => "append"
      case WriteMode.Overwrite => "overwrite"
    }
    val json =
      s"""{"id":"$id","dirs":["$dirName"],"baseSchemaJson":${Manifest.quote(base.schemaJson)},""" +
        s""""partitionBy":${base.partitionBy.map(Manifest.quote).mkString("[", ",", "]")},""" +
        s""""mode":"$modeStr","timestampMs":${System.currentTimeMillis()}}"""
    require(arbiter.publishIfAbsent(stagedPath(id), json),
      s"staged commit '$id' already exists (uuid collision?)")
    id
  }

  private def stagedInfo(id: String): (Seq[String], String, Seq[String], WriteMode) = {
    require(io.exists(stagedPath(id)), s"no staged commit '$id' at $rootLocation")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = om.readTree(io.readString(stagedPath(id)))
    val a = n.get("dirs")
    val pb = n.get("partitionBy")
    val mode =
      if (n.has("mode") && n.get("mode").asText() == "overwrite") WriteMode.Overwrite
      else WriteMode.Append // legacy staged manifests are appends
    ((0 until a.size()).map(a.get(_).asText()), n.get("baseSchemaJson").asText(),
      if (pb == null) Nil else (0 until pb.size()).map(pb.get(_).asText()), mode)
  }

  /** The table AS IF the staged commit were published: current
    * snapshot plus the staged rows — the audit read.
    */
  def readStaged(id: String): DataFrame = {
    val (dirs, schemaJson, _, mode) = stagedInfo(id)
    val cur = resolve(None).schema
    val stagedRows = readDirsAligned(dirs.map(d => (d, schemaJson, Nil)), cur)
    mode match {
      case WriteMode.Append    => read(None).unionByName(stagedRows)
      case WriteMode.Overwrite => stagedRows // the candidate REPLACES the table
    }
  }

  /** Publish a staged append as a real commit. Metadata-only: the
    * data dirs were written at stage time. Fails (leaving the staged
    * commit intact for re-audit) if the schema evolved since staging.
    */
  def publishStaged(id: String, meta: Map[String, String] = Map.empty,
                    expectedBase: Option[Long] = None): Snapshot = {
    val (dirs, stagedSchema, stagedSpec, mode) = stagedInfo(id)
    val base = latest.getOrElse(
      throw new IllegalStateException(s"empty table at $root"))
    require(base.schemaJson == stagedSchema,
      s"table schema changed since staging '$id'; discard and re-stage")
    // the staged dir was physically laid out under the spec current at
    // stage time; publishing it under a DIFFERENT spec would read null
    // partition values / wrong pruning for identity partitions
    require(base.partitionBy == stagedSpec,
      s"table partition spec changed since staging '$id' " +
        s"(${stagedSpec.mkString(",")} -> ${base.partitionBy.mkString(",")}); discard and re-stage")
    val statsMeta = dirs.headOption.map(d =>
      writeMetaFor(d, inheritedStatsCols(Some(base)), base.schema.fieldNames.toSeq))
      .getOrElse(Map.empty[String, String])
    // head dir's bytes/rows ride writeMetaFor; remaining staged dirs
    // still pay their own footprint pass
    val bytesMeta = dirs.drop(1).flatMap(footprintMetaFor).toMap
    val (op, carry) = mode match {
      case WriteMode.Append    => ("append", true)
      case WriteMode.Overwrite => ("overwrite", false)
    }
    // overwrite drops carried meta with the dirs it replaces; re-declare
    // the table-property keys so file skipping and the sort contract
    // survive a staged rewrite (same inheritance write() applies), and
    // keep the field-id high-water mark
    val propMeta =
      if (carry) Map.empty[String, String]
      else base.meta.filter { case (k, _) =>
        k == FileStats.StatsColsKey || k == FileStats.BloomColsKey ||
          k == FileStats.SortOrderKey || k == SchemaIds.LastIdKey
      }
    val checks = CommitChecks(expectedBase, schema = Some(Some(base.schemaJson)),
      spec = if (carry) Some(base.partitionBy) else None)
    val snap = commit(op, checks, (b, next) =>
      Snapshot.carry(if (carry) b else None, base.partitionBy, base.schemaJson)
        .addDirs(dirs, base.schemaJson, next)
        .plusMeta(meta ++ statsMeta ++ bytesMeta ++ propMeta))
    io.delete(stagedPath(id))
    snap
  }

  /** Discard a staged write: data dirs and staged manifest go. */
  def discardStaged(id: String): Unit = {
    val (dirs, _, _, _) = stagedInfo(id)
    io.delete(stagedPath(id))
    dirs.foreach(d => io.delete(loc(d)))
  }

  /** Dirs referenced by live staged commits (orphan-sweep liveness). */
  private def stagedLiveDirs: Set[String] =
    io.list(stagedDirPath).map(_.getPath.getName).filter(_.endsWith(".json"))
      .flatMap(n => scala.util.Try(stagedInfo(n.stripSuffix(".json"))._1).getOrElse(Nil))
      .toSet

  /** Pending write-audit-publish commits as a DataFrame — the
    * operational "what is staged and since when" view (ids feed
    * [[readStaged]]/[[publishStaged]]/[[discardStaged]]).
    */
  def stagedCommits: DataFrame = {
    val sp = spark
    import sp.implicits._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    io.list(stagedDirPath).map(_.getPath).filter(_.getName.endsWith(".json"))
      .map { p =>
        val n = om.readTree(io.readString(p))
        (n.get("id").asText(), n.get("dirs").size(), n.get("timestampMs").asLong())
      }.sortBy(_._3)
      .toDF("id", "n_dirs", "staged_at_ms")
  }

  /** Snapshot expiry (Iceberg's `expire_snapshots`): drop all but the
    * newest `retainLast` manifests, then delete data dirs no surviving
    * manifest references. Bounds metadata growth and reclaims storage;
    * expired versions stop being time-travel-readable (same contract
    * as Iceberg — readers hold the lease assumption that they finish
    * within the retention window). Returns (manifests, dirs) deleted.
    */
  def expireSnapshots(retainLast: Int): (Int, Int) = {
    require(retainLast >= 1, "must retain at least the latest snapshot")
    val all = history
    if (all.size <= retainLast) return (0, 0)
    expireImpl(all, all.dropRight(retainLast))
  }

  /** Time-based expiry (Iceberg's `expire_snapshots(older_than => ts)`):
    * drop snapshots committed strictly before `olderThanMs`, always
    * retaining the latest one — a quiet table must stay readable no
    * matter how old its last commit is. Monotonic commit timestamps
    * make the expired set a prefix of the history, so time travel to
    * any surviving version keeps working.
    */
  def expireSnapshotsOlderThan(olderThanMs: Long): (Int, Int) = {
    val all = history
    expireImpl(all, all.dropRight(1).filter(_.timestampMs < olderThanMs))
  }

  private def expireImpl(all: Seq[Snapshot], expired0: Seq[Snapshot]): (Int, Int) = {
    // tagged snapshots are retention anchors: expiry flows around them
    // until the tag is dropped (Iceberg's ref-aware expiry)
    val tagged = tags.map(_._2).toSet
    val expired = expired0.filterNot(s => tagged.contains(s.version))
    if (expired.isEmpty) return (0, 0)
    val gone = expired.map(_.version).toSet
    val retained = all.filterNot(s => gone.contains(s.version))
    // live branches pin their dirs exactly like retained snapshots do
    val live = retained.flatMap(s => s.dirs ++ s.deleteDirs ++ s.eqDeleteDirs).toSet ++
      branchLiveDirs
    // delete manifests first: a concurrent reader that resolved an
    // expired version may still finish if its dirs are shared with a
    // retained snapshot; dirs go second and only when unreferenced
    expired.foreach(s => io.delete(manifestPath(s.version)))
    // external (imported) dirs are referenced, never owned: retention
    // must not destroy source data the table didn't write
    val deadDirs = expired.flatMap(s => s.dirs ++ s.deleteDirs ++ s.eqDeleteDirs)
      .distinct.filterNot(live).filterNot(LakeTable.externalDir)
    deadDirs.foreach(d => io.delete(loc(d)))
    (expired.size, deadDirs.size)
  }

  /** Orphan-file cleanup (Iceberg's `remove_orphan_files`): delete
    * `data/` dirs referenced by NO manifest and older than
    * `graceMs` — the residue of writers that died between staging and
    * commit. The grace period protects in-flight writes (a dir is
    * staged before its manifest exists). Returns dirs removed.
    */
  def removeOrphanFiles(graceMs: Long = 60 * 60 * 1000L): Int = {
    // liveness by root-relative name ("data/<uuid>"), scheme-agnostic;
    // staged (write-audit-publish) commits keep their dirs alive until
    // published or discarded
    val live = history.flatMap(s => s.dirs ++ s.deleteDirs ++ s.eqDeleteDirs).toSet ++
      stagedLiveDirs ++ branchLiveDirs
    val cutoff = System.currentTimeMillis() - graceMs
    // all three staging roots: data commits land under data/,
    // positional delete files under deletes/, equality delete files
    // under eqdeletes/ — a writer dying mid-commit can orphan any kind
    Seq("data", "deletes", "eqdeletes").map { sub =>
      val orphans = io.list(loc(sub))
        .filter(st => !live.contains(s"$sub/${st.getPath.getName}"))
        .filter(_.getModificationTime < cutoff)
      orphans.foreach(st => io.delete(st.getPath))
      orphans.size
    }.sum
  }
}

private object Manifest {
  // Hand-rolled (de)serialization over the tiny fixed manifest shape —
  // avoids coupling to the shaded JSON libs inside the Spark jars.
  private def esc(x: String): String = x.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }

  /** JSON string literal (shared with ref/staged-manifest writers). */
  def quote(s: String): String = "\"" + esc(s) + "\""

  def toJson(s: Snapshot): String = {
    def arr(xs: Seq[String]) = xs.map(x => "\"" + esc(x) + "\"").mkString("[", ",", "]")
    val metaJson = s.meta.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    val dirSchemasJson =
      if (s.dirSchemaJsons.isEmpty) "" else s""""dirSchemas":${arr(s.dirSchemaJsons)},"""
    val deleteDirsJson =
      if (s.deleteDirs.isEmpty) "" else s""""deleteDirs":${arr(s.deleteDirs)},"""
    val dirSpecsJson =
      if (s.dirSpecs.isEmpty) "" else s""""dirSpecs":${arr(s.dirSpecs)},"""
    val eqDeletesJson =
      if (s.eqDeletes.isEmpty) "" else s""""eqDeletes":${arr(s.eqDeletes)},"""
    val dirSeqsJson =
      if (s.dirSeqs.isEmpty) ""
      else s""""dirSeqs":${s.dirSeqs.mkString("[", ",", "]")},"""
    s"""{"version":${s.version},"op":"${esc(s.op)}","dirs":${arr(s.dirs)},""" +
      s""""partitionBy":${arr(s.partitionBy)},"timestampMs":${s.timestampMs},""" +
      dirSchemasJson + deleteDirsJson + dirSpecsJson + eqDeletesJson + dirSeqsJson +
      s""""meta":$metaJson,"schemaJson":"${esc(s.schemaJson)}"}"""
  }

  /** Parsed-manifest cache. Manifests are write-once (published via
    * the arbiter's create-if-absent), so a live path's content never
    * changes; the (mtime, length) check guards the one path-reuse case
    * (a dropped-and-recreated branch lineage can mint a new manifest
    * at an old path). Each `read` then costs one STAT round trip
    * instead of GET + JSON parse — on an object store the difference
    * between a HEAD and re-downloading stats-heavy manifests on every
    * table operation.
    */
  private val MaxCached = 256
  private val cache =
    new java.util.LinkedHashMap[String, (Long, Long, Snapshot)](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Long, Long, Snapshot)]): Boolean =
        size() > MaxCached
    }

  def read(io: LakeIo, p: HPath): Option[Snapshot] = {
    val st =
      try Some(io.fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    st.flatMap { s =>
      val key = io.qualify(p).toString
      // branch lineage is the one place a path can be REUSED with new
      // content (drop + recreate + recommit); on stores with coarse
      // mtime granularity (S3: seconds) the staleness guard could then
      // serve the dead branch — don't cache those paths at all. Main
      // lineage versions never reuse numbers, so the cache is exact.
      val cacheable = !key.contains("/_branches/")
      val hit = if (!cacheable) None else cache.synchronized {
        Option(cache.get(key)).collect {
          case (m, l, snap) if m == s.getModificationTime && l == s.getLen => snap
        }
      }
      hit.orElse {
        // stat→read race (concurrent expire): absent file = no snapshot
        val parsed =
          try Some(parse(io.readString(p)))
          catch { case _: java.io.FileNotFoundException => None }
        if (cacheable) parsed.foreach { sn =>
          cache.synchronized { cache.put(key, (s.getModificationTime, s.getLen, sn)); () }
        }
        parsed
      }
    }
  }

  private def parse(txt: String): Snapshot = {
    // jackson-databind ships with Spark and is the one JSON parser we
    // can rely on offline; the manifest shape is flat.
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = om.readTree(txt)
    def strs(field: String): Seq[String] = {
      val a = n.get(field)
      (0 until a.size()).map(a.get(_).asText())
    }
    val metaNode = n.get("meta")
    val meta: Map[String, String] =
      if (metaNode == null) Map.empty
      else {
        val it = metaNode.fields()
        val b = Map.newBuilder[String, String]
        while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue.asText()) }
        b.result()
      }
    Snapshot(
      version = n.get("version").asLong(),
      op = n.get("op").asText(),
      dirs = strs("dirs"),
      partitionBy = strs("partitionBy"),
      schemaJson = n.get("schemaJson").asText(),
      timestampMs = n.get("timestampMs").asLong(),
      meta = meta,
      dirSchemaJsons = if (n.has("dirSchemas")) strs("dirSchemas") else Nil,
      deleteDirs = if (n.has("deleteDirs")) strs("deleteDirs") else Nil,
      dirSpecs = if (n.has("dirSpecs")) strs("dirSpecs") else Nil,
      eqDeletes = if (n.has("eqDeletes")) strs("eqDeletes") else Nil,
      dirSeqs =
        if (!n.has("dirSeqs")) Nil
        else {
          val a = n.get("dirSeqs")
          (0 until a.size()).map(a.get(_).asLong())
        })
  }
}

/** Catalog of lake tables under a warehouse directory, addressed as
  * `namespace.table` — mirrors the reference's
  * `my_catalog.{bronze,silver,gold}.iceberg` namespace layout
  * (dags/etl.py:49,72,90).
  */
final class LakeCatalog(val spark: SparkSession, val warehouse: String) {
  private def resolve(ident: String): String = {
    val parts = ident.split('.')
    require(parts.nonEmpty && parts.forall(p => p.nonEmpty && !p.contains('/')),
      s"bad table identifier: $ident")
    // string-join rather than java.nio: the warehouse may live on any
    // Hadoop scheme (s3a://bucket/wh), which nio paths cannot carry
    (warehouse.stripSuffix("/") +: parts).mkString("/")
  }

  def table(ident: String): LakeTable = new LakeTable(spark, resolve(ident))

  /** Expose a lake table to SQL as a temp view (`namespace.table` →
    * `namespace_table`): the engine's `spark.sql` surface over lake
    * snapshots. Re-registering after a new commit refreshes the view.
    */
  def registerView(ident: String, version: Option[Long] = None): String = {
    val name = ident.replace('.', '_')
    read(ident, version).createOrReplaceTempView(name)
    name
  }

  def write(df: DataFrame, ident: String, mode: WriteMode = WriteMode.Overwrite,
            partitionBy: Seq[String] = Nil,
            meta: Map[String, String] = Map.empty,
            statsBy: Seq[String] = Nil,
            bloomBy: Seq[String] = Nil,
            sortedBy: Seq[String] = Nil,
            zorderBy: Seq[String] = Nil): Snapshot =
    table(ident).write(df, mode, partitionBy, meta, statsBy = statsBy,
      bloomBy = bloomBy, sortedBy = sortedBy, zorderBy = zorderBy)

  def read(ident: String, version: Option[Long] = None): DataFrame =
    table(ident).read(version)

  def exists(ident: String): Boolean = table(ident).latest.nonEmpty

  /** Every table ident under the warehouse (a table root is a dir
    * holding `_versions/`), namespace-qualified. Pure metadata walk,
    * bounded by table count — the discovery primitive catalog-wide
    * operations (erasure cascade over derived tables, maintenance
    * sweeps) build on.
    */
  def listTables(): Seq[String] = {
    val probe = new LakeTable(spark, warehouse)
    def walk(p: org.apache.hadoop.fs.Path, rel: List[String]): Seq[String] = {
      // a missing dir (empty warehouse, file amid namespaces) is a
      // legitimate "no tables here"; any OTHER IO failure must
      // propagate — a swallowed transient error would silently drop a
      // whole subtree from catalog-wide operations like erasure
      // discovery, reporting success while the data survives
      val kids =
        try probe.io.list(p)
        catch { case _: java.io.FileNotFoundException => return Nil }
      if (kids.exists(_.getPath.getName == "_versions")) Seq(rel.reverse.mkString("."))
      else kids.filter(_.isDirectory)
        .filterNot(_.getPath.getName.startsWith("_"))
        .flatMap(st => walk(st.getPath, st.getPath.getName :: rel))
    }
    walk(new org.apache.hadoop.fs.Path(warehouse), Nil).sorted
  }

  /** Zero-copy shallow clone of `srcIdent`'s current snapshot as
    * `dstIdent` ([[LakeTable.cloneTo]]): dev/test forks and
    * experiment branches of a 100 TB table cost one manifest write.
    */
  def cloneTable(srcIdent: String, dstIdent: String): Snapshot =
    table(srcIdent).cloneTo(table(dstIdent))

  /** Open a multi-statement transaction over this catalog's tables
    * (stage writes, then publish all-or-nothing — [[LakeTransaction]]).
    */
  def transaction(): LakeTransaction = new LakeTransaction(this)
}
