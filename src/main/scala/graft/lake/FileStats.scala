package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Per-file column statistics carried in the snapshot manifest — the
  * role Iceberg's manifest min/max stats play: planning skips files
  * whose [min, max] cannot satisfy a predicate WITHOUT listing row
  * groups or reading parquet footers. At 100 TB the difference is
  * "open every footer of every live file" vs "drop most files from
  * the scan while still on the driver".
  *
  * Stats are gathered where they are cheap and tight: compaction
  * ([[LakeTable.compact]] / [[LakeTable.compactZOrder]]) collects
  * min/max of the sort / z-order columns over the files it just wrote
  * (one columnar aggregate over the new dir), which is exactly when
  * file ranges become disjoint and skipping starts paying.
  * [[LakeTable.write]] accepts `statsBy` for direct writes.
  *
  * Values are encoded in an ordered string domain per column type
  * (numbers/timestamps/dates as decimal strings, strings raw), so the
  * driver compares probe values without re-deriving Spark types.
  * Pruning is conservative: a file with missing/null stats, or a
  * probe whose domain mismatches, is always kept.
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

  def encodeFileRows(rows: Seq[(String, Long)]): String = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.createObjectNode()
    rows.foreach { case (k, n) => node.put(k, n) }
    om.writeValueAsString(node)
  }

  def decodeFileRows(s: String): Seq[(String, Long)] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(s)
    val b = Seq.newBuilder[(String, Long)]
    val it = node.fields()
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asLong() }
    b.result()
  }
  def joinCols(cols: Seq[String]): String = cols.mkString(",")
  def splitCols(s: String): Seq[String] =
    s.split(',').toSeq.map(_.trim).filter(_.nonEmpty)

  /** Ordered comparison key: Left = numeric domain, Right = string.
    * NaN/Infinity have no BigDecimal form → None, which both encodes
    * as "no stat" and compares as "unknown" — a NaN max (Spark sorts
    * NaN largest) degrades that file to unprunable instead of crashing
    * the write.
    */
  private def toKey(v: Any): Option[Either[BigDecimal, String]] = v match {
    case null                  => None
    case d: java.lang.Double if d.isNaN || d.isInfinite => None
    case f: java.lang.Float  if f.isNaN || f.isInfinite => None
    case t: java.sql.Timestamp =>
      Some(Left(BigDecimal(t.getTime) * 1000 + BigDecimal((t.getNanos % 1000000) / 1000)))
    case d: java.sql.Date      => Some(Left(BigDecimal(d.toLocalDate.toEpochDay)))
    case b: java.lang.Boolean  => Some(Left(if (b) BigDecimal(1) else BigDecimal(0)))
    case n: java.lang.Number   => Some(Left(BigDecimal(n.toString)))
    case s: String             => Some(Right(s))
    // everything else (raw binary, arrays, structs) has no stats
    // domain we can order consistently — Array[Byte].toString is JVM
    // identity junk that DIFFERS between write-time encoding and
    // probe-time comparison, so a Right(toString) here would let
    // stats prune files that really match (a declared-stats binary
    // merge key silently dropped its updates). None = never prune.
    case _                     => None
  }

  private def encode(v: Any): String = toKey(v) match {
    case Some(Left(n))  => "n:" + n.toString
    case Some(Right(s)) => "s:" + s
    case None           => null
  }

  private def decode(s: String): Option[Either[BigDecimal, String]] =
    if (s == null) None
    else if (s.startsWith("n:")) Some(Left(BigDecimal(s.substring(2))))
    else Some(Right(s.substring(2)))

  /** Spark computed the min/max in UTF-8 BINARY order; Java's String
    * compareTo is UTF-16 code-unit order and the two disagree above
    * the BMP (a supplementary-plane char is 4-byte UTF-8, sorting
    * after every BMP char, but its UTF-16 surrogates start at 0xD800,
    * sorting BEFORE U+E000..U+FFFF). Compare the same way the stats
    * were made, or a file whose max is a supplementary-plane string
    * gets wrongly pruned for high-BMP probes.
    */
  private def utf8Leq(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    a.length <= b.length
  }

  private def leq(a: Either[BigDecimal, String], b: Either[BigDecimal, String]): Option[Boolean] =
    (a, b) match {
      case (Left(x), Left(y))   => Some(x <= y)
      case (Right(x), Right(y)) => Some(utf8Leq(x, y))
      case _                    => None // mixed domains: unknown → keep
    }

  /** One distributed aggregate over the just-written dir → JSON stats
    * blob for the manifest meta. Row count = file count of ONE commit
    * dir (index state bounded by `targetPartitions`, not data size).
    */
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

  /** Harvest per-file min/max from the parquet FOOTERS of a
    * just-written dir — driver-side metadata reads, no Spark job, no
    * data scan. This is the Iceberg shape (file metrics collected at
    * write) and what keeps stats maintenance free on the write path:
    * a COW rewrite that re-collects via [[collect]] costs a second
    * table scan per statement, which is exactly the DML regression
    * this replaces.
    *
    * Returns None (caller falls back to the scanning [[collect]]) when
    * some requested column yields footer stats from NO file — the
    * INT96-timestamp case (parquet writes no stats for INT96; session
    * default `outputTimestampType=TIMESTAMP_MICROS` avoids it) and
    * identity-partition columns (values live in the directory layout,
    * not the files). Per-file gaps (a NaN-polluted double chunk, an
    * empty file) stay conservative: the file is listed with a null
    * range and is never skipped.
    *
    * Truncated binary stats are safe: parquet guarantees footer
    * min/max are BOUNDS (max truncation increments the prefix), and
    * pruning only needs bounds, not tight values.
    */
  def collectFromFooters(io: LakeIo, dir: org.apache.hadoop.fs.Path,
                         cols: Seq[String]): Option[String] =
    footerMeta(io, dir, cols, listParquet(io, dir))._1

  private[lake] def listParquet(io: LakeIo,
      dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val b = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    if (io.isDir(dir)) {
      val it = io.fs.listFiles(dir, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) b += f
      }
    }
    b.result()
  }

  /** ONE footer pass over pre-listed parquet files serving BOTH
    * write-time consumers: the per-file column-range stats blob (as
    * [[collectFromFooters]]) and the exact per-file row counts (as
    * [[dirFileRows]]). A commit previously listed the fresh dir three
    * times and opened every footer twice — at 100 TB-scale commit
    * rates the metadata round trips are a real term, and locally they
    * were ~half the non-Spark wall of each lake write.
    */
  private[lake] def footerMeta(io: LakeIo, dir: org.apache.hadoop.fs.Path,
      cols: Seq[String], files: Seq[org.apache.hadoop.fs.FileStatus])
      : (Option[String], Option[Seq[(String, Long)]]) = {
    import scala.jdk.CollectionConverters._
    if (files.isEmpty) return (None, Some(Nil))
    val perFile: Seq[(String, Seq[(Any, Any, Long)], Option[Long])] = parFooter(files) { st =>
      val key = relativeKey(st.getPath.toString, dir.getName)
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, io.fs.getConf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          val rows = blocks.map(_.getRowCount).sum
          val ranges = cols.map { c =>
            val chunks = blocks.map(_.getColumns.asScala
              .find(_.getPath.toDotString == c))
            val perBlock = chunks.map(_.flatMap(footerRange))
            // exact per-file null count when every row group states
            // one (-1 = unknown): what makes full-coverage proofs
            // (metadata DELETE) sound — a NULL satisfies no
            // comparison, so covered columns must be null-free
            val nulls: Long = {
              val perChunk = chunks.map(_.map(_.getStatistics))
              if (perChunk.exists(s => s.isEmpty || s.get == null || !s.get.isNumNullsSet)) -1L
              else perChunk.map(_.get.getNumNulls).sum
            }
            // every row group must contribute a valid range, else the
            // file is unprunable on this column
            if (blocks.isEmpty || perBlock.exists(_.isEmpty)) (null, null, nulls)
            else {
              val (lo, hi) = perBlock.flatten.reduce[(Any, Any)] {
                case ((lo1, hi1), (lo2, hi2)) => (minByKey(lo1, lo2), maxByKey(hi1, hi2))
              }
              (lo, hi, nulls)
            }
          }
          (key, ranges, Some(rows))
        } finally reader.close()
      } catch { case _: Exception =>
        // unreadable footer: unprunable ranges (never skipped) and no
        // row count (callers fall back to a scanning count)
        (key, cols.map(_ => (null: Any, null: Any, -1L)), None)
      }
    }
    val fileRows =
      if (perFile.exists(_._3.isEmpty)) None
      else Some(perFile.map { case (k, _, r) => k -> r.get })
    // a column no file can bound (INT96, partition-derived) → let the
    // caller decide between scanning and giving up
    val colServed = cols.indices.map(i => perFile.exists { case (_, rs, _) =>
      rs(i)._1 != null || rs(i)._2 != null })
    if (cols.isEmpty || colServed.contains(false)) return (None, fileRows)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val rootNode = om.createObjectNode()
    val colsNode = rootNode.putArray("cols")
    cols.foreach(colsNode.add)
    val filesNode = rootNode.putObject("files")
    perFile.foreach { case (key, ranges, _) =>
      val fNode = filesNode.putArray(key)
      ranges.foreach { case (lo, hi, nulls) =>
        val pair = fNode.addArray()
        pair.add(encode(lo))
        pair.add(encode(hi))
        pair.add(nulls)
      }
    }
    (Some(om.writeValueAsString(rootNode)), fileRows)
  }

  /** Batch bloom filtering over a dir's candidate files: per file one
    * footer read plus one right-sized bloom read per row group and
    * probed column (see [[bloomMayContain]]), fanned out on the footer
    * pool instead of stalling scan planning on serial round-trips.
    * Returns the candidates (relative keys) whose blooms cannot rule
    * them out, preserving input order.
    */
  def bloomSurviving(io: LakeIo, dir: org.apache.hadoop.fs.Path,
                     candidates: Seq[String],
                     probes: Seq[(String, Seq[Any])]): Seq[String] =
    parFooter(candidates) { f =>
      f -> bloomMayContain(io, new org.apache.hadoop.fs.Path(dir, f), probes)
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
  def bloomMayContain(io: LakeIo, file: org.apache.hadoop.fs.Path,
                      probes: Seq[(String, Seq[Any])]): Boolean = {
    import scala.jdk.CollectionConverters._
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
  def dirRowCount(io: LakeIo, dir: org.apache.hadoop.fs.Path): Option[Long] =
    dirFileRows(io, dir).map(_.map(_._2).sum)

  /** Per-file (relative key → row count) under `dir`, from footers
    * only — the per-file breakdown behind [[dirRowCount]] and the
    * `.files` metadata table. Same conventions: empty dir → empty,
    * any unreadable footer → None.
    */
  def dirFileRows(io: LakeIo,
                  dir: org.apache.hadoop.fs.Path): Option[Seq[(String, Long)]] = {
    import scala.jdk.CollectionConverters._
    if (!io.isDir(dir)) return Some(Nil)
    val files = {
      val b = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
      val it = io.fs.listFiles(dir, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) b += st
      }
      b.result()
    }
    val perFile = parFooter(files) { st =>
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, io.fs.getConf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try Some(relativeKey(st.getPath.toString, dir.getName) ->
          reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
        finally reader.close()
      } catch { case _: Exception => None } // any unreadable footer → whole dir None
    }
    if (perFile.contains(None)) None else Some(perFile.flatten)
  }

  /** Global (lo, hi) of `col` across EVERY file of a stats blob, in
    * the NUMERIC key domain — the exact-aggregate counterpart of
    * [[surviving]]'s pruning reads. None when the blob doesn't cover
    * the column, any file lacks a bound on it (all-null values or a
    * stats-less chunk — pruning tolerates that as "unprunable", an
    * exact MIN/MAX answer cannot), or the domain is non-numeric:
    * parquet BINARY stats may be TRUNCATED bounds, sound for pruning
    * but not for exact aggregate answers, so strings never qualify.
    */
  /** One covering conjunct for metadata-DML proofs: comparison op
    * ("eq" | "gt" | "gteq" | "lt" | "lteq") against a value already in
    * blob key space ([[toKey]]'s numeric domain — numbers, timestamps,
    * dates, booleans all canonicalize there). Built losslessly by
    * `PredicateExtract.covering`: unlike scan-pruning predicates,
    * strictness must survive (relaxing `>` to `>=` is sound for
    * pruning but UNSOUND for proving every row matches).
    */
  private[graft] final case class Cover(col: String, op: String, v: BigDecimal)

  /** `v` in blob key space, numeric domain only. */
  private[graft] def coverValue(v: Any): Option[BigDecimal] =
    toKey(v) match { case Some(Left(n)) => Some(n); case _ => None }

  private def fileColStats(pair: com.fasterxml.jackson.databind.JsonNode)
      : (Option[BigDecimal], Option[BigDecimal], Long) = {
    def num(j: Int): Option[BigDecimal] =
      if (pair.size() <= j || pair.get(j).isNull) None
      else decode(pair.get(j).asText()) match {
        case Some(Left(n)) => Some(n)
        case _             => None
      }
    val nulls = if (pair.size() > 2) pair.get(2).asLong(-1L) else -1L
    (num(0), num(1), nulls)
  }

  /** Does EVERY row of the blob's dir provably satisfy ALL `covers`?
    * Requires per-file [lo, hi] on each covered column AND an exact
    * ZERO null count (blob v2 third element; legacy blobs decline) —
    * a NULL satisfies no comparison, so any or unknown nulls defeat
    * the proof. Powers metadata-only DELETE: a fully-covered dir can
    * be dropped from the manifest without reading a row.
    */
  def blobFullyMatches(statsJson: String, covers: Seq[Cover]): Boolean = {
    if (covers.isEmpty) return false
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(statsJson)
    val colsNode = node.get("cols")
    val idxOf = covers.map { c =>
      c -> (0 until colsNode.size()).find(i => colsNode.get(i).asText() == c.col)
    }.toMap
    if (idxOf.values.exists(_.isEmpty)) return false
    val it = node.get("files").fields()
    while (it.hasNext) {
      val f = it.next().getValue
      covers.foreach { c =>
        val (lo, hi, nulls) = fileColStats(f.get(idxOf(c).get))
        val ok = nulls == 0L && ((lo, hi) match {
          case (Some(l), Some(h)) => c.op match {
            case "eq"   => l == c.v && h == c.v
            case "gteq" => l >= c.v
            case "gt"   => l > c.v
            case "lteq" => h <= c.v
            case "lt"   => h < c.v
            case _      => false
          }
          case _ => false
        })
        if (!ok) return false
      }
    }
    true
  }

  /** Does provably NO row of the blob's dir satisfy the `covers`
    * conjunction? Nulls are irrelevant here — a null row already fails
    * the conjunction. One disprovable conjunct per file suffices.
    */
  def blobNoneMatch(statsJson: String, covers: Seq[Cover]): Boolean = {
    if (covers.isEmpty) return false
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(statsJson)
    val colsNode = node.get("cols")
    val idxOf = covers.map { c =>
      c -> (0 until colsNode.size()).find(i => colsNode.get(i).asText() == c.col)
    }.toMap
    val it = node.get("files").fields()
    while (it.hasNext) {
      val f = it.next().getValue
      val fileExcluded = covers.exists { c =>
        idxOf(c).exists { i =>
          val (lo, hi, _) = fileColStats(f.get(i))
          (lo, hi) match {
            case (Some(l), Some(h)) => c.op match {
              case "eq"   => c.v < l || c.v > h
              case "gteq" => h < c.v
              case "gt"   => h <= c.v
              case "lteq" => l > c.v
              case "lt"   => l >= c.v
              case _      => false
            }
            case _ => false
          }
        }
      }
      if (!fileExcluded) return false
    }
    true
  }

  def blobNumericRange(statsJson: String, col: String): Option[(BigDecimal, BigDecimal)] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(statsJson)
    val colsNode = node.get("cols")
    val idx = (0 until colsNode.size()).find(i => colsNode.get(i).asText() == col)
      .getOrElse(return None)
    var acc: Option[(BigDecimal, BigDecimal)] = None
    val it = node.get("files").fields()
    while (it.hasNext) {
      val pair = it.next().getValue.get(idx)
      def at(j: Int): Option[BigDecimal] =
        if (pair.get(j).isNull) None
        else decode(pair.get(j).asText()) match {
          case Some(Left(n)) => Some(n)
          case _             => None // string domain: truncation-unsafe
        }
      (at(0), at(1)) match {
        case (Some(lo), Some(hi)) =>
          acc = Some(acc.map { case (alo, ahi) => (alo.min(lo), ahi.max(hi)) }
            .getOrElse((lo, hi)))
        case _ => return None
      }
    }
    acc
  }

  /** Global (min, max) per requested column across every parquet file
    * under `dir`, from footers only — driver-side, no Spark job, no
    * value collect. A column with ANY nulls, missing stats, or an
    * unbounded type is omitted: callers use the ranges to PRUNE or
    * pre-filter a scan, and omission just means "no bound". Null
    * omission is what keeps null-safe key matching sound — min/max
    * cannot see null keys, so a nullable key must not prune.
    */
  def dirColumnRanges(io: LakeIo, dir: org.apache.hadoop.fs.Path,
                      cols: Seq[String]): Map[String, (Any, Any)] = {
    import scala.jdk.CollectionConverters._
    if (!io.isDir(dir)) return Map.empty
    val files = {
      val b = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
      val it = io.fs.listFiles(dir, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) b += st
      }
      b.result()
    }
    // per-file footer reads fan out on the pool; the cross-file merge
    // (with its "any unusable file kills the column" semantics) folds
    // the ordered results on the calling thread
    val perFile: Seq[Seq[Option[(Any, Any)]]] = parFooter(files) { st =>
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, io.fs.getConf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          cols.map { c =>
            val perBlock = blocks.map(_.getColumns.asScala
              .find(_.getPath.toDotString == c).flatMap { cc =>
                val s = cc.getStatistics
                // any nulls (or unknown null count) unbound the column
                if (s == null || !s.isNumNullsSet || s.getNumNulls != 0) None
                else footerRange(cc)
              })
            if (blocks.isEmpty || perBlock.exists(_.isEmpty)) None
            else {
              val (lo, hi) = perBlock.flatten.reduce[(Any, Any)] {
                case ((l1, h1), (l2, h2)) => (minByKey(l1, l2), maxByKey(h1, h2))
              }
              if (lo == null || hi == null) None else Some((lo, hi))
            }
          }
        } finally reader.close()
      } catch { case _: Exception => cols.map(_ => None) }
    }
    var acc = Map.empty[String, (Any, Any)]
    var dead = Set.empty[String]
    perFile.foreach { ranges =>
      cols.indices.foreach { i =>
        val c = cols(i)
        if (!dead(c)) ranges(i) match {
          case None => dead += c
          case Some((lo, hi)) => acc += c -> (acc.get(c) match {
            case Some((al, ah)) =>
              val nl = minByKey(al, lo); val nh = maxByKey(ah, hi)
              if (nl == null || nh == null) { dead += c; (al, ah) }
              else (nl, nh)
            case None => (lo, hi)
          })
        }
      }
    }
    acc -- dead
  }

  private def minByKey(a: Any, b: Any): Any =
    if (a == null || b == null) null
    else (toKey(a), toKey(b)) match {
      case (Some(ka), Some(kb)) => leq(ka, kb) match {
        case Some(true)  => a
        case Some(false) => b
        case None        => null
      }
      case _ => null
    }
  private def maxByKey(a: Any, b: Any): Any =
    if (a == null || b == null) null
    else (toKey(a), toKey(b)) match {
      case (Some(ka), Some(kb)) => leq(ka, kb) match {
        case Some(true)  => b
        case Some(false) => a
        case None        => null
      }
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

  def collect(spark: SparkSession, dir: org.apache.hadoop.fs.Path,
              cols: Seq[String]): String = {
    val df = spark.read.parquet(dir.toString)
    val present = cols.filter(df.columns.contains)
    require(present.nonEmpty, s"no stats columns $cols in ${df.columns.toSeq}")
    val aggs = present.flatMap(c => Seq(min(col(c)), max(col(c)),
      count(when(col(c).isNull, 1)).as(s"_n_$c")))
    val rows = df.groupBy(input_file_name().as("_f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val rootNode = om.createObjectNode()
    val colsNode = rootNode.putArray("cols")
    present.foreach(colsNode.add)
    val filesNode = rootNode.putObject("files")
    rows.foreach { r =>
      val fNode = filesNode.putArray(relativeKey(r.getString(0), dir.getName))
      present.indices.foreach { i =>
        val pair = fNode.addArray()
        pair.add(encode(r.get(1 + 3 * i)))
        pair.add(encode(r.get(2 + 3 * i)))
        pair.add(r.getLong(3 + 3 * i))
      }
    }
    om.writeValueAsString(rootNode)
  }

  /** Number of files the blob describes — the blob lists every file of
    * its commit dir, so this counts the dir's data files without a
    * filesystem listing.
    */
  def fileCount(statsJson: String): Int = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    om.readTree(statsJson).get("files").size()
  }

  /** File names (relative to the commit dir) that can satisfy ALL
    * predicates, or None when the stats cover no predicate column
    * (no pruning possible).
    */
  /** Pre-decoded `In` probe: the predicate's values split into SORTED
    * numeric and string key arrays (plus an unknown-key flag for
    * null/NaN probes, which keep every file). The per-file question
    * "could any probe fall inside [lo, hi]?" is then one binary search
    * instead of an O(values) scan — what lets the driver-exact key
    * tier ([[DriverTiers.driverKeyCap]], tens of thousands of values)
    * keep FILE SKIPPING instead of degrading to a full-scan row
    * filter. At a 100M-row base that skip is the difference between a
    * bounded refresh read and a table scan (the round-12 soak's third
    * MV decade measured exactly that knee).
    */
  private final class InProbe(vs: Seq[Any]) {
    private val keys = vs.map(toKey)
    val hasUnknown: Boolean = keys.exists(_.isEmpty)
    val nums: Array[BigDecimal] =
      keys.collect { case Some(Left(n)) => n }.sorted.toArray
    val strs: Array[Array[Byte]] = keys
      .collect { case Some(Right(s)) =>
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8) }
      .sortWith(java.util.Arrays.compareUnsigned(_, _) < 0).toArray
    val nonEmpty: Boolean = hasUnknown || nums.nonEmpty || strs.nonEmpty
    private def anyNumIn(l: BigDecimal, h: BigDecimal): Boolean = {
      var lo = 0; var hi = nums.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (nums(m) < l) lo = m + 1 else hi = m
      }
      lo < nums.length && nums(lo) <= h
    }
    private def anyStrIn(l: Array[Byte], h: Array[Byte]): Boolean = {
      var lo = 0; var hi = strs.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (java.util.Arrays.compareUnsigned(strs(m), l) < 0) lo = m + 1
        else hi = m
      }
      lo < strs.length && java.util.Arrays.compareUnsigned(strs(lo), h) <= 0
    }
    /** Same verdicts as `vs.exists(pointIn)` under the original
      * semantics: unknown probes and cross-domain comparisons keep the
      * file; only a provably-disjoint same-domain range prunes.
      */
    def anyIn(lo: Option[Either[BigDecimal, String]],
              hi: Option[Either[BigDecimal, String]]): Boolean =
      hasUnknown || ((lo, hi) match {
        case (Some(Left(l)), Some(Left(h))) => anyNumIn(l, h) || strs.nonEmpty
        case (Some(Right(l)), Some(Right(h))) =>
          anyStrIn(l.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            h.getBytes(java.nio.charset.StandardCharsets.UTF_8)) || nums.nonEmpty
        // mixed-domain or missing stats: no probe is refutable
        case _ => nums.nonEmpty || strs.nonEmpty
      })
  }

  def surviving(statsJson: String, preds: Seq[LakePredicate],
                schema: StructType): Option[Set[String]] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(statsJson)
    val cols = {
      val a = node.get("cols")
      (0 until a.size()).map(a.get(_).asText())
    }
    val applicable = preds.filter(p => cols.contains(p.col))
    if (applicable.isEmpty) return None
    // decode + sort each In predicate's probe set ONCE; the file loop
    // below answers it per file in O(log values). Index-aligned with
    // `applicable` (keying a Map by the predicate would re-hash its
    // whole value Seq per file — the exact cost this removes)
    val inProbes: Array[InProbe] = applicable.map {
      case LakePredicate.In(_, vs) => new InProbe(vs)
      case _                       => null
    }.toArray
    val files = node.get("files")
    val kept = Set.newBuilder[String]
    val it = files.fields()
    while (it.hasNext) {
      val e = it.next()
      val ranges = e.getValue
      def range(c: String): (Option[Either[BigDecimal, String]], Option[Either[BigDecimal, String]]) = {
        val i = cols.indexOf(c)
        val pair = ranges.get(i)
        def at(j: Int): Option[Either[BigDecimal, String]] =
          if (pair.get(j).isNull) None else decode(pair.get(j).asText())
        (at(0), at(1))
      }
      val keep = applicable.zipWithIndex.forall { case (p, pi) =>
        val (lo, hi) = range(p.col)
        // can a point probe `v` fall inside this file's [lo, hi]?
        // (null probe / missing stats / cross-domain compare → keep;
        // only provable emptiness prunes)
        def pointIn(pv: Any): Boolean = (toKey(pv), lo, hi) match {
          case (None, _, _) => true
          case (Some(v), Some(l), Some(h)) => (leq(l, v), leq(v, h)) match {
            case (Some(a), Some(b)) => a && b
            case _                  => true
          }
          case _ => true
        }
        p match {
          case LakePredicate.EqualTo(_, v) => pointIn(v)
          // IN = disjunction of point probes: keep if ANY could match
          case LakePredicate.In(_, _)      => inProbes(pi).anyIn(lo, hi)
          case LakePredicate.GtEq(_, v) => (toKey(v), hi) match {
            case (Some(k), Some(h)) => leq(k, h).getOrElse(true)
            case _                  => true
          }
          case LakePredicate.LtEq(_, v) => (toKey(v), lo) match {
            case (Some(k), Some(l)) => leq(l, k).getOrElse(true)
            case _                  => true
          }
        }
      }
      if (keep) kept += e.getKey
    }
    Some(kept.result())
  }
}
