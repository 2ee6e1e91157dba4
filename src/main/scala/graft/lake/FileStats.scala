package graft.lake

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Per-file column statistics and the one pruning decision every table
  * format makes with them — the role Iceberg's manifest min/max and
  * Delta's `add.stats` play: planning skips files whose ranges cannot
  * satisfy a predicate without opening them.
  *
  * One model:
  *   - **One footer pass.** [[footerMeta]] is the only code that opens
  *     parquet footers for ranges and row counts. Commit-time stats and
  *     per-file row counts, the Delta exporter's `add.stats`, the
  *     changelog's delete-key bounds ([[dirColumnRanges]]) and footer
  *     row counts ([[dirFileRows]]) are folds over its per-file result.
  *     Bloom probes ([[bloomMayContain]]) are a different read.
  *   - **One stats value.** [[DirStats]] holds a commit dir's stats
  *     columns and, per file, one [[ColRange]] per column: bounds in an
  *     ordered key domain (numbers, DATE as epoch day, TIMESTAMP as
  *     micros and BOOLEAN as 0/1 in the numeric kind; strings in the
  *     string kind) and the exact null count. Its `encode` is the
  *     manifest blob; its `decode` reads only the columns a caller
  *     probes. [[dirStats]] holds the legacy single-blob rule.
  *   - **One comparator, two verdicts.** [[KeyPred]] is a conjunct with
  *     its probe typed by the column's type (a probe of another kind is
  *     unknown). `mayMatch` prunes: unknown keeps the file. `allMatch`
  *     proves metadata deletes: unknown declines. Strings compare in
  *     UTF-8 byte order, the order parquet and Delta write min/max in.
  *     Native scans, Delta partition values and stats, and Iceberg
  *     partition values all prune through it.
  *
  * Stats are gathered where they are cheap and tight: every write of a
  * table with stats columns ([[LakeTable.write]]'s `statsBy`, sorted
  * and z-ordered compactions, inherited by appends) reads the new
  * files' footers, falling back to one columnar aggregate
  * ([[collect]]) for columns footers cannot bound.
  */
private[graft] object FileStats {
  /** Legacy single-blob key: stats for a snapshot whose ONLY dir is
    * the one the blob describes. Still read (old manifests), no longer
    * written.
    */
  val MetaKey = "graft.stats"
  /** Per-dir stats keys (`graft.stats:data/<uuid>`): each commit dir
    * carries its own blob, so appends carry prior dirs' stats forward
    * untouched and file skipping survives append-heavy tables — no
    * compaction required to re-arm it.
    */
  val DirKeyPrefix = "graft.stats:"
  def dirKey(dirName: String): String = DirKeyPrefix + dirName
  /** The table's stats-column set (comma-joined), persisted in the
    * snapshot meta: set by `statsBy` writes and sorted/z-ordered
    * compactions, inherited by appends so every new dir auto-collects
    * min/max on the same columns.
    */
  val StatsColsKey = "graft.statsCols"
  /** The table's bloom-column set (comma-joined), persisted like
    * [[StatsColsKey]]: writes enable parquet's built-in bloom filters
    * for these columns (written inline with the data files — no extra
    * job), and scans consult the footers' blooms to skip files for
    * equality probes that min/max ranges cannot decide — the
    * high-cardinality unsorted column case (an `email = ?` lookup on
    * unclustered data skips nothing by range; a bloom says "definitely
    * not here" per file).
    */
  val BloomColsKey = "graft.bloomCols"
  /** The table's declared sort order (comma-joined ascending columns),
    * persisted like [[StatsColsKey]]: every write range-distributes and
    * sorts its rows on these columns (Iceberg's `write.distribution-
    * mode=range` + sort-order pair), so each commit's files are
    * range-DISJOINT on the sort key and per-file min/max stats stay
    * tight — range scans keep skipping without waiting for a
    * compaction, and compaction defaults to the same clustering.
    */
  val SortOrderKey = "graft.sortOrder"
  /** Declared auto-compaction policy (`"<smallDirs>,<maxDirBytes>"`):
    * after an append/upsert commit, if at least `smallDirs` data dirs
    * are under `maxDirBytes` (decided from manifest byte footprints —
    * zero filesystem listing), the writer folds them with
    * `compactBinPack` as a best-effort follow-up commit. Delta's
    * autoCompact shape: small-file debt from trickle ingest stays
    * bounded WITHOUT an external maintenance scheduler. Persisted like
    * [[StatsColsKey]] so the policy survives every commit class.
    */
  val AutoCompactKey = "graft.autoCompact"

  /** One persisted clustering declaration: plain range sort
    * ("a,b") or z-order ("z:a,b") — a single key so a re-declaration
    * REPLACES the old clustering instead of coexisting with it.
    */
  def encodeClustering(cols: Seq[String], z: Boolean): String =
    (if (z) "z:" else "") + joinCols(cols)
  def decodeClustering(s: String): (Seq[String], Boolean) =
    if (s.startsWith("z:")) (splitCols(s.substring(2)), true)
    else (splitCols(s), false)
  /** Per-dir data size (`graft.bytes:data/<uuid>` → total file bytes),
    * recorded by the commit that wrote the dir and carried with it.
    * Powers byte-based streaming admission control
    * (`maxBytesPerTrigger`) without any scan-time filesystem listing.
    */
  val BytesKeyPrefix = "graft.bytes:"
  def bytesKey(dirName: String): String = BytesKeyPrefix + dirName

  /** Per-dir marker for hive-partitioned EXTERNAL dirs registered by
    * `addFiles`: the comma-joined column names whose values live in the
    * source's `k=v` directory layout, not in the parquet files. Readers
    * must re-materialize them via Spark partition discovery (basePath);
    * carried with the dir like byte sizes (survives schema evolution —
    * the layout does not change when an unrelated column renames).
    */
  val HiveColsKeyPrefix = "graft.hive:"
  def hiveColsKey(dirName: String): String = HiveColsKeyPrefix + dirName
  /** Per-dir ROW COUNT (`graft.rows:data/<uuid>` → total rows across
    * the dir's parquet files), harvested from footers by the commit
    * that wrote the dir and carried with it exactly like
    * [[BytesKeyPrefix]]. Powers metadata-only aggregates
    * ([[graft.lake.LakeTable.metadataRowCount]]): `count(*)` on a
    * delete-free snapshot becomes a manifest sum — zero data read at
    * any table size, the Iceberg/Delta "count from manifests" shape.
    */
  val RowsKeyPrefix = "graft.rows:"
  def rowsKey(dirName: String): String = RowsKeyPrefix + dirName
  /** Per-dir per-FILE row counts (`graft.filerows:data/<uuid>` → JSON
    * {relative file key: rows}), from the same write-time footer pass
    * as [[RowsKeyPrefix]]. Powers the `.files`/`.partitions` metadata
    * tables without a data scan on delete-free snapshots — Iceberg's
    * manifests-only files table, where record counts are write-time
    * file metrics rather than a 100 TB read.
    */
  val FileRowsKeyPrefix = "graft.filerows:"
  def fileRowsKey(dirName: String): String = FileRowsKeyPrefix + dirName

  private val om = new ObjectMapper()

  def encodeFileRows(rows: Seq[(String, Long)]): String = {
    val node = om.createObjectNode()
    rows.foreach { case (k, n) => node.put(k, n) }
    om.writeValueAsString(node)
  }

  def decodeFileRows(s: String): Seq[(String, Long)] =
    om.readTree(s).properties().asScala.toSeq.map(e => e.getKey -> e.getValue.asLong())

  def joinCols(cols: Seq[String]): String = cols.mkString(",")
  def splitCols(s: String): Seq[String] =
    s.split(',').toSeq.map(_.trim).filter(_.nonEmpty)

  /** A stats value in its ordered key domain: Left = numbers (also
    * DATE as epoch day, TIMESTAMP as micros, BOOLEAN as 0/1), Right =
    * strings. Keys of different kinds never compare.
    */
  type Key = Either[BigDecimal, String]

  /** Key of a STORED value (footer bounds, aggregate results, Iceberg
    * partition values), whose Java type says its domain.
    * NaN/Infinity have no BigDecimal form → None, which both encodes
    * as "no stat" and compares as "unknown" — a NaN max (Spark sorts
    * NaN largest) degrades that file to unprunable instead of crashing
    * the write. Raw binary, arrays and structs have no key either:
    * `Array[Byte].toString` is JVM identity junk that would differ
    * between write and probe time.
    */
  private[lake] def toKey(v: Any): Option[Key] = v match {
    case null                  => None
    case d: java.lang.Double if d.isNaN || d.isInfinite => None
    case f: java.lang.Float  if f.isNaN || f.isInfinite => None
    case t: java.sql.Timestamp =>
      Some(Left(BigDecimal(t.getTime) * 1000 + BigDecimal((t.getNanos % 1000000) / 1000)))
    case d: java.sql.Date      => Some(Left(BigDecimal(d.toLocalDate.toEpochDay)))
    case b: java.lang.Boolean  => Some(Left(if (b) BigDecimal(1) else BigDecimal(0)))
    case n: java.lang.Number   => Some(Left(BigDecimal(n.toString)))
    case s: String             => Some(Right(s))
    case _                     => None
  }

  /** Key of a PROBE value against a column of type `dt`. A probe of
    * another kind has no key (unknown): a `Timestamp` against a DATE
    * column would otherwise compare micros with epoch days, and a
    * string against an INT column has no numeric order.
    */
  def probeKey(v: Any, dt: DataType): Option[Key] = (dt, v) match {
    case (ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
          _: DecimalType, n: java.lang.Number) => toKey(n)
    case (DateType, d: java.sql.Date) => toKey(d)
    case (DateType, d: java.time.LocalDate) => Some(Left(BigDecimal(d.toEpochDay)))
    case (TimestampType, t: java.sql.Timestamp) => toKey(t)
    case (TimestampType, i: java.time.Instant) => Some(Left(BigDecimal(micros(i))))
    // NTZ keys are wall micros taken as UTC; a Timestamp's wall time is
    // its JVM-default-zone local time, as Spark reads it
    case (TimestampNTZType, t: java.sql.Timestamp) => probeKey(t.toLocalDateTime, dt)
    case (TimestampNTZType, t: java.time.LocalDateTime) =>
      Some(Left(BigDecimal(micros(t.toInstant(java.time.ZoneOffset.UTC)))))
    case (BooleanType, b: java.lang.Boolean) => toKey(b)
    case (StringType, s: String) => Some(Right(s))
    case _ => None
  }

  private[lake] def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  private def encodeKey(k: Key): String = k match {
    case Left(n)  => "n:" + n.toString
    case Right(s) => "s:" + s
  }

  private def decodeKey(s: String): Key =
    if (s.startsWith("n:")) Left(BigDecimal(s.substring(2))) else Right(s.substring(2))

  /** Key order: numbers by value, strings in UTF-8 byte order — the
    * order parquet, Spark and Delta compute min/max in. Java's
    * `compareTo` is UTF-16 code-unit order, which disagrees above the
    * BMP (a supplementary-plane char sorts after every BMP char in
    * UTF-8, but its surrogates sort before U+E000..U+FFFF); UTF-8 byte
    * order is code-point order, so compare code points.
    */
  private[lake] def cmp(a: Key, b: Key): Int = (a, b) match {
    case (Left(x), Left(y))   => x.compare(y)
    case (Right(x), Right(y)) =>
      var i = 0
      while (i < x.length && i < y.length) {
        val cx = x.codePointAt(i)
        val cy = y.codePointAt(i)
        if (cx != cy) return Integer.compare(cx, cy)
        i += Character.charCount(cx)
      }
      Integer.compare(x.length - i, y.length - i)
    case _ => throw new IllegalArgumentException(s"keys of different kinds: $a, $b")
  }

  private def sameKind(a: Key, b: Key): Boolean = a.isLeft == b.isLeft

  /** One column's range in one file: bounds in the key domain (None =
    * no usable bound) and the exact null count (-1 = unknown).
    */
  final case class ColRange(lo: Option[Key], hi: Option[Key], nulls: Long)
  object ColRange {
    /** A column holding the single non-null value `k` (a partition value). */
    def point(k: Option[Key]): ColRange = ColRange(k, k, 0L)
  }

  /** One conjunct in its column's key domain — the comparator behind
    * every format's pruning and every metadata delete. `op` is "in"
    * (an equality is a one-key IN), "gt", "gteq", "lt" or "lteq". The
    * keys are sorted once, so a file costs one binary search however
    * many keys an IN holds: what lets the driver-exact key tier
    * ([[DriverTiers.driverKeyCap]], tens of thousands of values) keep
    * file skipping instead of degrading to a full-scan row filter. A
    * probe without a key, or keys of mixed kinds, make the conjunct
    * unknown.
    */
  private[graft] final class KeyPred(val col: String, val op: String, probe: Seq[Option[Key]]) {
    private val unknown = probe.exists(_.isEmpty) ||
      probe.flatten.exists(k => !sameKind(k, probe.head.get))
    private val keys: Array[Key] =
      if (unknown) Array.empty else probe.flatten.sortWith(cmp(_, _) < 0).toArray

    /** A bound the keys can be compared with (absent bounds are unbounded). */
    private def comparable(b: Option[Key]): Boolean =
      b.forall(k => keys.isEmpty || sameKind(k, keys(0)))

    /** Index of the first key >= `k`. */
    private def ceil(k: Key): Int = {
      var lo = 0; var hi = keys.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (cmp(keys(m), k) < 0) lo = m + 1 else hi = m
      }
      lo
    }

    /** May a file with range `r` hold a matching row? Unknown keeps it. */
    def mayMatch(r: ColRange): Boolean =
      unknown || !comparable(r.lo) || !comparable(r.hi) || (op match {
        case "in" =>
          val i = r.lo.fold(0)(ceil)
          i < keys.length && r.hi.forall(cmp(keys(i), _) <= 0)
        case "gt"   => r.hi.forall(cmp(keys(0), _) < 0)
        case "gteq" => r.hi.forall(cmp(keys(0), _) <= 0)
        case "lt"   => r.lo.forall(cmp(_, keys(0)) < 0)
        case "lteq" => r.lo.forall(cmp(_, keys(0)) <= 0)
      })

    /** Does every row of a file with range `r` match? Unknown declines,
      * and so does any null (or an unknown null count): a NULL
      * satisfies no comparison.
      */
    def allMatch(r: ColRange): Boolean =
      !unknown && r.nulls == 0 && ((r.lo, r.hi) match {
        case (Some(l), Some(h)) if keys.nonEmpty && comparable(r.lo) && comparable(r.hi) =>
          op match {
            case "in"   => cmp(l, h) == 0 && { val i = ceil(l); i < keys.length && cmp(keys(i), l) == 0 }
            case "gt"   => cmp(l, keys(0)) > 0
            case "gteq" => cmp(l, keys(0)) >= 0
            case "lt"   => cmp(h, keys(0)) < 0
            case "lteq" => cmp(h, keys(0)) <= 0
          }
        case _ => false
      })
  }

  private[graft] object KeyPred {
    /** `p` with its probe values typed by the column's type `dt`. */
    def apply(p: LakePredicate, dt: DataType): KeyPred = p match {
      case LakePredicate.EqualTo(c, v) => new KeyPred(c, "in", Seq(probeKey(v, dt)))
      case LakePredicate.In(c, vs)     => new KeyPred(c, "in", vs.map(probeKey(_, dt)))
      case LakePredicate.GtEq(c, v)    => new KeyPred(c, "gteq", Seq(probeKey(v, dt)))
      case LakePredicate.LtEq(c, v)    => new KeyPred(c, "lteq", Seq(probeKey(v, dt)))
    }
  }

  private def typeOf(schema: StructType, c: String): DataType =
    schema.find(_.name == c).map(_.dataType).getOrElse(NullType)

  /** One commit dir's stats: its stats columns and, per file (key
    * relative to the dir, in write order), one [[ColRange]] per column.
    * The blob lists every file of its dir, so `files` also counts the
    * dir's data files without a listing.
    */
  final case class DirStats(cols: IndexedSeq[String], files: Seq[(String, IndexedSeq[ColRange])]) {
    /** The manifest blob: `{"cols":[..],"files":{key:[[lo,hi,nulls],..]}}`
      * with bounds as `n:<decimal>` / `s:<string>` or null.
      */
    def encode: String = {
      val root = om.createObjectNode()
      val colsNode = root.putArray("cols")
      cols.foreach(colsNode.add)
      val filesNode = root.putObject("files")
      files.foreach { case (key, ranges) =>
        val fNode = filesNode.putArray(key)
        ranges.foreach { r =>
          val pair = fNode.addArray()
          pair.add(r.lo.map(encodeKey).orNull)
          pair.add(r.hi.map(encodeKey).orNull)
          pair.add(r.nulls)
        }
      }
      om.writeValueAsString(root)
    }

    /** Files (relative keys) that may hold a row matching every
      * predicate, or None when the stats cover no predicate column.
      */
    def surviving(preds: Seq[LakePredicate], schema: StructType): Option[Set[String]] = {
      val tests = preds.filter(p => cols.contains(p.col))
        .map(p => KeyPred(p, typeOf(schema, p.col))).toIndexedSeq
      if (tests.isEmpty) None
      else {
        val at = tests.map(t => cols.indexOf(t.col))
        Some(files.iterator.collect {
          case (f, rs) if tests.indices.forall(j => tests(j).mayMatch(rs(at(j)))) => f
        }.toSet)
      }
    }

    /** Does EVERY row of the dir provably satisfy ALL `preds`? Powers
      * metadata-only DELETE: a fully-covered dir drops from the
      * manifest without reading a row.
      */
    def allMatch(preds: Seq[KeyPred]): Boolean =
      preds.nonEmpty && preds.forall(p => cols.contains(p.col)) && files.forall { case (_, rs) =>
        preds.forall(p => p.allMatch(rs(cols.indexOf(p.col))))
      }

    /** Does provably NO row of the dir satisfy the `preds` conjunction?
      * One disproved conjunct per file suffices.
      */
    def noneMatch(preds: Seq[KeyPred]): Boolean =
      preds.nonEmpty && files.forall { case (_, rs) =>
        preds.exists(p => cols.contains(p.col) && !p.mayMatch(rs(cols.indexOf(p.col))))
      }

    /** Global (lo, hi) of `col` across every file, NUMERIC domain only —
      * the exact-aggregate counterpart of pruning. None when `col` is
      * not covered, any file lacks a bound on it (pruning tolerates
      * that, an exact MIN/MAX cannot), or it is a string: parquet
      * BINARY stats may be truncated bounds, sound for pruning but not
      * for exact answers.
      */
    def numericRange(col: String): Option[(BigDecimal, BigDecimal)] = {
      val i = cols.indexOf(col)
      if (i < 0) return None
      files.foldLeft(Option.empty[(BigDecimal, BigDecimal)]) { case (acc, (_, rs)) =>
        (rs(i).lo, rs(i).hi) match {
          case (Some(Left(lo)), Some(Left(hi))) =>
            Some(acc.fold((lo, hi)) { case (alo, ahi) => (alo.min(lo), ahi.max(hi)) })
          case _ => return None
        }
      }
    }
  }

  object DirStats {
    /** Decode a manifest blob, keeping only the columns `only` selects —
      * planning decodes the keys of the columns it probes and no more.
      * Legacy blobs without null counts decode them as unknown (-1).
      */
    def decode(json: String, only: String => Boolean): DirStats = {
      val node = om.readTree(json)
      val all = node.get("cols")
      val idx = (0 until all.size()).filter(i => only(all.get(i).asText())).toIndexedSeq
      def at(pair: com.fasterxml.jackson.databind.JsonNode, j: Int): Option[Key] =
        if (pair.size() <= j || pair.get(j).isNull) None else Some(decodeKey(pair.get(j).asText()))
      val files = node.get("files").properties().asScala.toSeq.map { e =>
        e.getKey -> idx.map { i =>
          val pair = e.getValue.get(i)
          ColRange(at(pair, 0), at(pair, 1), if (pair.size() > 2) pair.get(2).asLong(-1L) else -1L)
        }
      }
      DirStats(idx.map(all.get(_).asText()), files)
    }
  }

  /** Stats of dir `i` of `snap`, decoded for the columns `only` selects.
    * A legacy single-blob manifest ([[MetaKey]]) counts only when its
    * dir is the snapshot's sole one — the blob describes exactly that
    * commit.
    */
  def dirStats(snap: Snapshot, i: Int, only: String => Boolean): Option[DirStats] =
    snap.meta.get(dirKey(snap.dirs(i)))
      .orElse(if (snap.dirs.size == 1) snap.meta.get(MetaKey) else None)
      .map(DirStats.decode(_, only))

  /** File key = path RELATIVE to the commit dir (plain file name for
    * flat dirs, `_p_…=…/part-….parquet` under partition specs), cut
    * at the unique `<uuid>/` commit-dir segment so URI scheme
    * differences can't shift it.
    */
  def relativeKey(pathOrUri: String, commitDirName: String): String = {
    val marker = "/" + commitDirName + "/"
    val i = pathOrUri.indexOf(marker)
    if (i < 0) pathOrUri.substring(pathOrUri.lastIndexOf('/') + 1)
    else pathOrUri.substring(i + marker.length)
  }

  /** Driver-side footer I/O concurrency. Commit-time stats harvest and
    * scan-time bloom probes each touch one footer per file; serially
    * that is N round-trips in the commit/planning path — fine at 10
    * files, a stall at a 10k-file commit against an object store. The
    * cap bounds driver memory/connections (this is I/O fan-out, not
    * CPU), mirroring Iceberg's `worker-pool` for manifest reads.
    */
  private[lake] val FooterPoolSize = 16
  /** Peak observed concurrent footer reads — instrumentation for the
    * concurrency spec (and for operators diagnosing commit latency).
    */
  private[lake] val activeFooterReads = new java.util.concurrent.atomic.AtomicInteger(0)
  private[lake] val peakFooterReads = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run `f` over `items` on a bounded pool, preserving order. All
    * tasks are submitted before any result is awaited, so N footer
    * reads overlap up to [[FooterPoolSize]]-deep; the first thrown
    * exception propagates to the caller like the serial loop's would.
    * Single-item (and empty) inputs stay on the calling thread — no
    * pool churn on the common tiny-commit path.
    */
  private def parFooter[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    if (items.sizeIs <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(items.size, FooterPoolSize))
      try {
        val futures = items.map { a =>
          pool.submit(new java.util.concurrent.Callable[B] {
            def call(): B = {
              val n = activeFooterReads.incrementAndGet()
              peakFooterReads.accumulateAndGet(n, Math.max(_, _))
              try f(a) finally activeFooterReads.decrementAndGet()
            }
          })
        }
        futures.map { fut =>
          try fut.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      } finally pool.shutdown()
    }
  }

  private[lake] def listParquet(io: LakeIo, dir: HPath): Seq[FileStatus] = {
    val b = Seq.newBuilder[FileStatus]
    if (io.isDir(dir)) {
      val it = io.fs.listFiles(dir, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) b += f
      }
    }
    b.result()
  }

  /** One parquet file's footer facts: its key relative to the commit
    * dir; per requested column its (lo, hi) bounds as typed values
    * (null = no usable bound) and exact null count (-1 = unknown); and
    * its row count (None = unreadable footer).
    */
  private[lake] final case class FooterFacts(key: String, ranges: Seq[(Any, Any, Long)],
                                             rows: Option[Long])

  /** THE footer pass: one driver-side metadata read per pre-listed
    * file, fanned out on the footer pool — no Spark job, no data scan.
    * This is the Iceberg shape (file metrics collected at write).
    *
    * A file's column range is null when any row group gives it no
    * usable bound (INT96 timestamps — parquet writes no stats for
    * them; a NaN-polluted double chunk; an empty file). Truncated
    * binary stats are safe: parquet guarantees footer min/max are
    * BOUNDS (max truncation increments the prefix), and pruning only
    * needs bounds. An unreadable footer gives null ranges and no row
    * count.
    */
  private[lake] def footerMeta(io: LakeIo, dir: HPath, cols: Seq[String],
                               files: Seq[FileStatus]): Seq[FooterFacts] =
    parFooter(files) { st =>
      val key = relativeKey(st.getPath.toString, dir.getName)
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, io.fs.getConf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          val ranges = cols.map { c =>
            val chunks = blocks.map(_.getColumns.asScala.find(_.getPath.toDotString == c))
            val perBlock = chunks.map(_.flatMap(footerRange))
            // exact per-file null count when every row group states
            // one: what makes full-coverage proofs (metadata DELETE)
            // and null-free key bounds sound
            val nulls: Long = {
              val perChunk = chunks.map(_.map(_.getStatistics))
              if (perChunk.exists(s => s.isEmpty || s.get == null || !s.get.isNumNullsSet)) -1L
              else perChunk.map(_.get.getNumNulls).sum
            }
            if (blocks.isEmpty || perBlock.exists(_.isEmpty)) (null, null, nulls)
            else {
              val bounds = perBlock.flatten
              (bounds.map(_._1).reduce(minByKey), bounds.map(_._2).reduce(maxByKey), nulls)
            }
          }
          FooterFacts(key, ranges, Some(blocks.map(_.getRowCount).sum))
        } finally reader.close()
      } catch { case _: Exception =>
        FooterFacts(key, cols.map(_ => (null: Any, null: Any, -1L)), None)
      }
    }

  /** The dir's stats from its footer facts. None when some column is
    * bounded by NO file (INT96, identity-partition columns whose
    * values live in the directory layout): the caller decides between
    * the scanning [[collect]] and no stats. Per-file gaps stay
    * conservative: that file's range is null and it is never skipped.
    */
  private[lake] def statsOf(cols: Seq[String], facts: Seq[FooterFacts]): Option[DirStats] = {
    val served = cols.indices.forall(i => facts.exists(f => f.ranges(i)._1 != null || f.ranges(i)._2 != null))
    if (cols.isEmpty || !served) None
    else Some(DirStats(cols.toIndexedSeq, facts.map { f =>
      f.key -> f.ranges.map { case (lo, hi, n) => ColRange(toKey(lo), toKey(hi), n) }.toIndexedSeq
    }))
  }

  /** Per-file (relative key → rows); None when any footer was unreadable. */
  private[lake] def rowsOf(facts: Seq[FooterFacts]): Option[Seq[(String, Long)]] =
    if (facts.exists(_.rows.isEmpty)) None else Some(facts.map(f => f.key -> f.rows.get))

  /** Batch bloom filtering over a dir's candidate files: per file one
    * footer read plus one right-sized bloom read per row group and
    * probed column (see [[bloomMayContain]]), fanned out on the footer
    * pool instead of stalling scan planning on serial round-trips.
    * Returns the candidates (relative keys) whose blooms cannot rule
    * them out, preserving input order.
    */
  def bloomSurviving(io: LakeIo, dir: HPath, candidates: Seq[String],
                     probes: Seq[(String, Seq[Any])]): Seq[String] =
    parFooter(candidates) { f =>
      f -> bloomMayContain(io, new HPath(dir, f), probes)
    }.collect { case (f, true) => f }

  /** May `file` contain a row matching EVERY probe? Tests the parquet
    * footer bloom filters (written because the table declares
    * [[BloomColsKey]]): a file is droppable only when some probe
    * column's blooms say every candidate value is definitely absent
    * from every row group. A missing column or bloom, an unhashable
    * value or a read error keeps the file — pruning is always
    * conservative. Each row group's bloom for a probed column is read
    * once and tested against all of the probe's values, so an `IN` of
    * many keys costs one bloom read per row group, not one per value.
    */
  def bloomMayContain(io: LakeIo, file: HPath, probes: Seq[(String, Seq[Any])]): Boolean = {
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, io.fs.getConf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        probes.forall { case (c, vs) =>
          blocks.isEmpty || blocks.exists { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == c) match {
              case None => true // column absent (older generation) → keep
              case Some(cc) =>
                val bf = reader.getBloomFilterDataReader(b).readBloomFilter(cc)
                bf == null || vs.exists(v => bloomHash(bf, cc, v).forall(bf.findHash))
            }
          }
        }
      } finally reader.close()
    } catch { case _: Exception => true }
  }

  /** Probe value → parquet bloom hash, in the column's PHYSICAL
    * domain. None = unhashable (type mismatch, null) → no pruning.
    */
  private[lake] def bloomHash(bf: org.apache.parquet.column.values.bloomfilter.BloomFilter,
                        cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
                        v: Any): Option[Long] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    if (v == null) return None
    (cc.getPrimitiveType.getPrimitiveTypeName, v) match {
      case (INT64, t: java.sql.Timestamp) =>
        // INT64-micros timestamps (the session's output type)
        Some(bf.hash(t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L))
      case (INT64, n: java.lang.Number) => Some(bf.hash(n.longValue()))
      case (INT32, d: java.sql.Date) =>
        Some(bf.hash(d.toLocalDate.toEpochDay.toInt))
      case (INT32, n: java.lang.Number) => Some(bf.hash(n.intValue()))
      case (DOUBLE, n: java.lang.Number) => Some(bf.hash(n.doubleValue()))
      case (FLOAT, n: java.lang.Number) => Some(bf.hash(n.floatValue()))
      case (BINARY, s: String) =>
        Some(bf.hash(org.apache.parquet.io.api.Binary.fromString(s)))
      case _ => None
    }
  }

  /** Total row count across the parquet files under `dir`, from
    * footers only — driver-side metadata reads, no Spark job. An
    * empty dir counts 0; any unreadable footer → None (callers fall
    * back to a scanning count). Parquet footers carry exact per-block
    * row counts, so unlike min/max bounds this is never approximate.
    */
  def dirRowCount(io: LakeIo, dir: HPath): Option[Long] =
    dirFileRows(io, dir).map(_.map(_._2).sum)

  /** Per-file (relative key → row count) under `dir`, from footers
    * only — the per-file breakdown behind [[dirRowCount]] and the
    * `.files` metadata table. Same conventions: empty dir → empty,
    * any unreadable footer → None.
    */
  def dirFileRows(io: LakeIo, dir: HPath): Option[Seq[(String, Long)]] =
    rowsOf(footerMeta(io, dir, Nil, listParquet(io, dir)))

  /** Global (min, max) per requested column across every parquet file
    * under `dir`, from footers only — driver-side, no Spark job, no
    * value collect. A column with ANY nulls, missing stats, or an
    * unbounded type is omitted: callers use the ranges to PRUNE or
    * pre-filter a scan, and omission just means "no bound". Null
    * omission is what keeps null-safe key matching sound — min/max
    * cannot see null keys, so a nullable key must not prune. Files
    * whose footer reports zero rows bound nothing and are skipped
    * (Spark writes one beside the data when a task's input is empty).
    */
  def dirColumnRanges(io: LakeIo, dir: HPath, cols: Seq[String]): Map[String, (Any, Any)] =
    dirRowsAndRanges(io, dir, cols)._2

  /** [[dirRowCount]] and [[dirColumnRanges]] of `dir` from one footer pass. */
  def dirRowsAndRanges(io: LakeIo, dir: HPath,
                       cols: Seq[String]): (Option[Long], Map[String, (Any, Any)]) = {
    val facts = footerMeta(io, dir, cols, listParquet(io, dir))
    val bounding = facts.filterNot(_.rows.contains(0L))
    (rowsOf(facts).map(_.map(_._2).sum), cols.indices.flatMap { i =>
      val perFile = bounding.map(_.ranges(i))
      if (perFile.isEmpty || perFile.exists { case (lo, hi, n) => n != 0 || lo == null || hi == null })
        None
      else {
        val lo = perFile.map(_._1).reduce(minByKey)
        val hi = perFile.map(_._2).reduce(maxByKey)
        if (lo == null || hi == null) None else Some(cols(i) -> (lo, hi))
      }
    }.toMap)
  }

  /** The smaller / larger of two typed values by key order; null when
    * either has no key or they are of different kinds.
    */
  private def minByKey(a: Any, b: Any): Any = pickByKey(a, b, smaller = true)
  private def maxByKey(a: Any, b: Any): Any = pickByKey(a, b, smaller = false)
  private def pickByKey(a: Any, b: Any, smaller: Boolean): Any =
    (toKey(a), toKey(b)) match {
      case (Some(ka), Some(kb)) if sameKind(ka, kb) =>
        if ((cmp(ka, kb) <= 0) == smaller) a else b
      case _ => null
    }

  private def tsFromMicros(us: Long): java.sql.Timestamp = {
    val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    ts
  }

  /** Typed (min, max) of one column chunk from its footer statistics,
    * mapped into the value domains [[toKey]] understands. None = no
    * usable stats (absent, all-null, INT96, unordered binary).
    */
  private def footerRange(
      cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Option[(Any, Any)] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import LogicalTypeAnnotation._
    val s = cc.getStatistics
    if (s == null || !s.hasNonNullValue) return None
    val pt = cc.getPrimitiveType
    val lt = pt.getLogicalTypeAnnotation
    def decimalOf(unscaled: BigInt): java.math.BigDecimal = {
      val scale = lt.asInstanceOf[DecimalLogicalTypeAnnotation].getScale
      new java.math.BigDecimal(unscaled.bigInteger, scale)
    }
    pt.getPrimitiveTypeName match {
      case INT96 => None // parquet writes no (ordered) stats for INT96
      case BOOLEAN => Some((s.genericGetMin, s.genericGetMax))
      case INT32 => lt match {
        case _: DateLogicalTypeAnnotation =>
          def d(v: Any) = java.sql.Date.valueOf(
            java.time.LocalDate.ofEpochDay(v.asInstanceOf[Integer].longValue()))
          Some((d(s.genericGetMin), d(s.genericGetMax)))
        case _: DecimalLogicalTypeAnnotation =>
          Some((decimalOf(BigInt(s.genericGetMin.asInstanceOf[Integer].longValue())),
            decimalOf(BigInt(s.genericGetMax.asInstanceOf[Integer].longValue()))))
        case i: IntLogicalTypeAnnotation if !i.isSigned => None
        case _ => Some((s.genericGetMin, s.genericGetMax))
      }
      case INT64 => lt match {
        case t: TimestampLogicalTypeAnnotation =>
          val (lo, hi) = (s.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
            s.genericGetMax.asInstanceOf[java.lang.Long].longValue())
          t.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MICROS =>
              Some((tsFromMicros(lo), tsFromMicros(hi)))
            case LogicalTypeAnnotation.TimeUnit.MILLIS =>
              Some((new java.sql.Timestamp(lo), new java.sql.Timestamp(hi)))
            case LogicalTypeAnnotation.TimeUnit.NANOS =>
              // floor the lower bound, ceil the upper — stay BOUNDS
              Some((tsFromMicros(Math.floorDiv(lo, 1000L)),
                tsFromMicros(-Math.floorDiv(-hi, 1000L))))
          }
        case _: DecimalLogicalTypeAnnotation =>
          Some((decimalOf(BigInt(s.genericGetMin.asInstanceOf[java.lang.Long].longValue())),
            decimalOf(BigInt(s.genericGetMax.asInstanceOf[java.lang.Long].longValue()))))
        case i: IntLogicalTypeAnnotation if !i.isSigned => None
        case _: TimeLogicalTypeAnnotation => None
        case _ => Some((s.genericGetMin, s.genericGetMax))
      }
      case FLOAT | DOUBLE => Some((s.genericGetMin, s.genericGetMax))
      case BINARY | FIXED_LEN_BYTE_ARRAY => lt match {
        case _: StringLogicalTypeAnnotation =>
          def str(b: Any) = new String(
            b.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
            java.nio.charset.StandardCharsets.UTF_8)
          Some((str(s.genericGetMin), str(s.genericGetMax)))
        case _: DecimalLogicalTypeAnnotation =>
          def dec(b: Any) = decimalOf(BigInt(
            b.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes))
          Some((dec(s.genericGetMin), dec(s.genericGetMax)))
        case _ => None // raw binary: parquet order != our string domain
      }
      case _ => None
    }
  }

  /** Scanning fallback for columns footers cannot bound: one
    * distributed aggregate over the just-written dir (rows = files of
    * ONE commit dir, bounded by `targetPartitions`, not data size).
    */
  def collect(spark: SparkSession, dir: HPath, cols: Seq[String]): DirStats = {
    val df = spark.read.parquet(dir.toString)
    val present = cols.filter(df.columns.contains)
    require(present.nonEmpty, s"no stats columns $cols in ${df.columns.toSeq}")
    val aggs = present.flatMap(c => Seq(min(col(c)), max(col(c)),
      count(when(col(c).isNull, 1)).as(s"_n_$c")))
    val rows = df.groupBy(input_file_name().as("_f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    DirStats(present.toIndexedSeq, rows.toSeq.map { r =>
      relativeKey(r.getString(0), dir.getName) -> present.indices.map { i =>
        ColRange(toKey(r.get(1 + 3 * i)), toKey(r.get(2 + 3 * i)), r.getLong(3 + 3 * i))
      }
    })
  }
}
