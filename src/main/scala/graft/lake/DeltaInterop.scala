package graft.lake

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Real Delta Lake FORMAT interop — read and write `_delta_log` tables
  * with no Delta runtime on the classpath.
  *
  * The graft lake layer reimplements lakehouse SEMANTICS (snapshots,
  * atomic commit, MOR deletes) natively; this module closes the format
  * gap for the OTHER major open table format, exactly as
  * [[IcebergTableReader]]/[[IcebergExport]] do for Iceberg (the
  * reference's declared format, docker/Dockerfile:22-28). Everything
  * here follows the public Delta transaction-log protocol
  * (delta.io PROTOCOL.md): versioned `%020d.json` commit files of
  * newline-delimited actions (`protocol` / `metaData` / `add` /
  * `remove` / `commitInfo`), optional parquet checkpoints named by
  * `_last_checkpoint`, relative percent-encoded data-file paths, and
  * partition values carried ONLY in `add.partitionValues` (partition
  * columns are physically absent from the data files — the reader must
  * re-inject them).
  *
  * Scale shape: log replay is driver-side METADATA work bounded by
  * (checkpoint actions + tail commits), never a data scan — the same
  * contract as the manifest-driven graft reader. Data reads build ONE
  * relation per live partition-value tuple (files grouped, no per-file
  * unions), with add.stats min/max file skipping and partition pruning
  * applied before any footer is opened.
  */
object DeltaFormat {
  /** Percent-encode a relative data path for `add.path` (RFC 3986
    * unreserved + '/' kept, everything else %XX-escaped — the encoding
    * real Delta writers apply via `Path.toUri`).
    */
  def encodePath(rel: String): String = {
    val sb = new java.lang.StringBuilder(rel.length)
    rel.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      val c = (b & 0xff).toChar
      if (c.isLetterOrDigit || "-._~/".indexOf(c) >= 0) sb.append(c)
      else sb.append(f"%%${b & 0xff}%02X")
    }
    sb.toString
  }

  /** Inverse of [[encodePath]]: decode %XX escapes ONLY (URLDecoder
    * would also turn a literal '+' into a space).
    */
  def decodePath(enc: String): String = {
    val buf = new java.io.ByteArrayOutputStream(enc.length)
    var i = 0
    while (i < enc.length) {
      val c = enc.charAt(i)
      if (c == '%' && i + 2 < enc.length) {
        buf.write(Integer.parseInt(enc.substring(i + 1, i + 3), 16))
        i += 3
      } else { buf.write(c.toInt); i += 1 }
    }
    new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Serialize a partition value for `add.partitionValues` per the
    * protocol's string rules (null stays a JSON null, handled by the
    * caller).
    */
  def serializePartitionValue(v: Any): String = v match {
    case d: java.sql.Date => d.toString
    case t: java.sql.Timestamp =>
      // "yyyy-MM-dd HH:mm:ss[.SSSSSS]" in session (UTC) time
      val ldt = t.toLocalDateTime
      val base = f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-${ldt.getDayOfMonth}%02d " +
        f"${ldt.getHour}%02d:${ldt.getMinute}%02d:${ldt.getSecond}%02d"
      if (ldt.getNano == 0) base else f"$base.${ldt.getNano / 1000}%06d"
    case other => other.toString
  }

  /** A partition value or stats bound in the protocol's string form →
    * key of its column's type (numbers, DATE → epoch day, TIMESTAMP →
    * micros, BOOLEAN, STRING); unparseable → None (unknown). `upper`
    * marks a stats max: writers truncate TIMESTAMP stats to
    * milliseconds, so a max is widened to the end of its millisecond.
    */
  def key(dt: DataType, s: String, upper: Boolean = false): Option[FileStats.Key] =
    if (s == null) None
    else try dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
           _: DecimalType => Some(Left(BigDecimal(s)))
      case DateType => Some(Left(BigDecimal(java.time.LocalDate.parse(s).toEpochDay)))
      case TimestampType | TimestampNTZType =>
        val us = timestampMicros(s, dt == TimestampNTZType)
        Some(Left(BigDecimal(if (upper) us + 999L else us)))
      case BooleanType if s == "true" || s == "false" =>
        Some(Left(BigDecimal(if (s == "true") 1 else 0)))
      case StringType => Some(Right(s))
      case _ => None
    } catch { case _: NumberFormatException | _: java.time.DateTimeException => None }

  /** Micros of a timestamp in either string form the log carries: ISO
    * stats (`2024-01-01T05:00:00.000Z`, an offset, or none for
    * TIMESTAMP_NTZ) and partition values (`2024-01-01 07:00:00[.ffffff]`,
    * written in JVM-default time by [[serializePartitionValue]]). A
    * zoneless value is UTC wall time for TIMESTAMP_NTZ.
    */
  private def timestampMicros(s: String, ntz: Boolean): Long = {
    val iso = s.trim.replace(' ', 'T')
    val instant =
      try java.time.OffsetDateTime.parse(iso).toInstant
      catch { case _: java.time.format.DateTimeParseException =>
        val local = java.time.LocalDateTime.parse(iso)
        if (ntz) local.toInstant(java.time.ZoneOffset.UTC)
        else local.atZone(java.time.ZoneId.systemDefault()).toInstant
      }
    FileStats.micros(instant)
  }
}

/** One live data file from log replay. `partitionValues` keeps the
  * protocol's string form (null = null partition value).
  */
private[graft] final case class DeltaAddFile(
    path: String, partitionValues: Seq[(String, String)], size: Long,
    statsJson: Option[String], dv: Option[DeltaDv.Descriptor] = None)

/** A `metaData` action: the logical schema as written, the partition
  * columns and the column-mapping mode.
  */
private[lake] final case class DeltaMeta(schemaJson: String, partitionColumns: Seq[String],
                                          mappingMode: String) {
  lazy val schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
}

/** One decoded log action: every reader of commit files and
  * checkpoints decodes through [[DeltaAction.decode]].
  */
private[lake] sealed trait DeltaAction

private[lake] object DeltaAction {
  final case class Add(file: DeltaAddFile, dataChange: Boolean) extends DeltaAction
  final case class Remove(path: String, dataChange: Boolean) extends DeltaAction
  final case class Meta(meta: DeltaMeta) extends DeltaAction
  final case class Protocol(node: JsonNode) extends DeltaAction
  final case class Info(timestampMs: Option[Long]) extends DeltaAction

  private val om = new ObjectMapper()

  /** The action a log line (or a checkpoint row as JSON) carries. */
  def decode(line: String): Option[DeltaAction] = {
    val n = om.readTree(line)
    def field(node: JsonNode, k: String): Option[JsonNode] = Option(node.get(k)).filter(!_.isNull)
    def dataChange(a: JsonNode): Boolean = field(a, "dataChange").forall(_.asBoolean)
    field(n, "add").map { a =>
      val pv = field(a, "partitionValues").map(_.properties().asScala.toSeq.map(e =>
        e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText))).getOrElse(Nil)
      val dv = field(a, "deletionVector").map(d => DeltaDv.Descriptor(
        d.get("storageType").asText, d.get("pathOrInlineDv").asText,
        field(d, "offset").map(_.asLong), d.get("sizeInBytes").asInt, d.get("cardinality").asLong))
      Add(DeltaAddFile(a.get("path").asText, pv, field(a, "size").map(_.asLong).getOrElse(0L),
        field(a, "stats").map(_.asText).filter(_.nonEmpty), dv), dataChange(a))
    }.orElse(field(n, "remove").map(r => Remove(r.get("path").asText, dataChange(r))))
      .orElse(field(n, "metaData").map { m =>
        Meta(DeltaMeta(m.get("schemaString").asText,
          field(m, "partitionColumns").map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil),
          field(m, "configuration").flatMap(field(_, "delta.columnMapping.mode"))
            .map(_.asText).getOrElse("none")))
      })
      .orElse(field(n, "protocol").map(Protocol))
      .orElse(field(n, "commitInfo").map(ci => Info(field(ci, "timestamp").map(_.asLong))))
  }
}

private object DeltaTableReader {
  /** One `_delta_log` listing: commit files and complete checkpoints
    * (every part present) by version.
    */
  final case class LogListing(commits: Map[Long, FileStatus],
                              checkpoints: Map[Long, Seq[FileStatus]]) {
    def latest: Option[Long] = (commits.keys ++ checkpoints.keys).maxOption
  }

  /** Table state at one version: live adds, newest metaData and
    * protocol.
    */
  final case class Replayed(adds: Seq[DeltaAddFile], metaData: Option[DeltaMeta],
                            protocol: Option[JsonNode]) {
    def meta: DeltaMeta =
      metaData.getOrElse(throw new IllegalStateException("no metaData action in log"))
  }
}

final class DeltaTableReader(spark: SparkSession, location: String) {
  import DeltaFormat._
  import DeltaTableReader.{LogListing, Replayed}

  private val om = new ObjectMapper()
  private[lake] val io = new LakeIo(
    new HPath(location).getFileSystem(spark.sessionState.newHadoopConf()))
  private val root: HPath = io.qualify(new HPath(location))
  private def logDir = new HPath(root, "_delta_log")

  private val Commit = """(\d{20})\.json""".r
  private val Checkpoint = """(\d{20})\.checkpoint(?:\.\d{10}\.(\d{10}))?\.parquet""".r

  private def listLog(): LogListing = {
    val files = io.list(logDir).map(s => (s.getPath.getName, s))
    val checkpoints = files.collect { case (Checkpoint(v, parts), s) =>
      (v.toLong, Option(parts).fold(1)(_.toInt), s)
    }.groupBy(c => (c._1, c._2)).collect {
      case ((v, parts), fs) if fs.size == parts => v -> fs.map(_._3).sortBy(_.getPath.getName)
    }
    LogListing(files.collect { case (Commit(v), s) => v.toLong -> s }.toMap, checkpoints)
  }

  def latestVersion: Option[Long] = listLog().latest

  private def latestOf(log: LogListing): Long =
    log.latest.getOrElse(throw new IllegalArgumentException(s"no Delta log at $logDir"))

  private def commitActions(p: HPath): Seq[DeltaAction] =
    io.readString(p).split('\n').iterator.map(_.trim).filter(_.nonEmpty)
      .flatMap(DeltaAction.decode).toSeq

  /** Commit timestamps for timestamp-based time travel: commitInfo's
    * timestamp when recorded, else the log file's modification time
    * (the protocol's defined fallback).
    */
  private def commitTimestampMs(s: FileStatus): Long =
    (try commitActions(s.getPath).collectFirst { case DeltaAction.Info(Some(ts)) => ts }
     catch { case _: Exception => None }).getOrElse(s.getModificationTime)

  /** Replayed states by version. Commit files and checkpoints are
    * write-once (put-if-absent publish), so a version's state never
    * changes; the (name, mtime, length) of every log file a replay
    * used guards the one reuse case (a table dropped and rewritten at
    * the same location), as the native manifest cache does.
    */
  private val MaxCached = 8
  private val replays =
    new java.util.LinkedHashMap[Long, (Seq[(String, Long, Long)], Replayed)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, (Seq[(String, Long, Long)], Replayed)]): Boolean =
        size() > MaxCached
    }

  /** Replay the log to `version` (or latest). Driver cost: one
    * checkpoint parquet read + the JSON tail — never data files — and
    * nothing but the listing when the version was replayed before.
    */
  private def replayTo(log: LogListing, version: Option[Long]): (Replayed, Long) = {
    val latest = latestOf(log)
    val target = version.getOrElse(latest)
    require(target <= latest, s"version $target beyond latest $latest")
    val cp = log.checkpoints.keys.filter(_ <= target).maxOption
    val from = cp.map(_ + 1).getOrElse(0L)
    require(cp.isDefined || log.commits.contains(0L),
      s"log truncated before any checkpoint: earliest commit ${log.commits.keys.minOption}")
    val tail = (from to target).flatMap(log.commits.get)
    require(tail.size == (target - from + 1), s"missing commit files in [$from, $target] at $logDir")
    val used = cp.toSeq.flatMap(log.checkpoints) ++ tail
    val stamp = used.map(s => (s.getPath.getName, s.getModificationTime, s.getLen))
    val hit = replays.synchronized(Option(replays.get(target)).collect { case (`stamp`, r) => r })
    val r = hit.getOrElse {
      // checkpoint rows go through JSON so one decoder serves both log
      // forms. The collect is METADATA-bounded: one row per live
      // file/txn action (what Delta itself replays on the driver)
      val cpActions = cp.toSeq.flatMap(v => spark.read.parquet(
        log.checkpoints(v).map(_.getPath.toString): _*).toJSON.collect().flatMap(DeltaAction.decode))
      val adds = scala.collection.mutable.LinkedHashMap[String, DeltaAddFile]()
      var meta: Option[DeltaMeta] = None
      var protocol: Option[JsonNode] = None
      (cpActions.iterator ++ tail.iterator.flatMap(s => commitActions(s.getPath))).foreach {
        case DeltaAction.Add(f, _)      => adds(f.path) = f
        case DeltaAction.Remove(p, _)   => adds.remove(p)
        case DeltaAction.Meta(m)        => meta = Some(m)
        case DeltaAction.Protocol(p)    => protocol = Some(p)
        case DeltaAction.Info(_)        => ()
      }
      val fresh = Replayed(adds.values.toIndexedSeq, meta, protocol)
      replays.synchronized(replays.put(target, (stamp, fresh)))
      fresh
    }
    (r, target)
  }

  /** Replayed table state at a version, for the exporter: live adds
    * (stats preserved), newest metaData, the resolved version.
    * Protocol-validated.
    */
  private[lake] def stateAt(version: Option[Long])
      : (Seq[DeltaAddFile], Option[DeltaMeta], Long) = {
    val (r, v) = replayTo(listLog(), version)
    checkProtocol(r)
    (r.adds, r.metaData, v)
  }

  /** Protocol gate. `allowNameMapping` is granted ONLY by the batch
    * read/schema paths, which rename physical→logical columns; every
    * other consumer (streaming, changelog, stateAt) would silently
    * read all-null columns against physically-named parquet, so they
    * keep failing loud on ANY mapping mode. `id` mode (field-id-based
    * parquet resolution) is unsupported everywhere and always fails
    * with a clear message.
    */
  private def checkProtocol(r: Replayed, allowNameMapping: Boolean = false): Unit = {
    val minReader = r.protocol.flatMap(p => Option(p.get("minReaderVersion")))
      .map(_.asInt).getOrElse(1)
    val features: Seq[String] = r.protocol.flatMap(p => Option(p.get("readerFeatures")))
      .filter(!_.isNull).map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)
    val supportedFeatures = Set("timestampNtz", "deletionVectors") ++
      (if (allowNameMapping) Set("columnMapping") else Set.empty)
    val unsupported = features.filterNot(supportedFeatures)
    require(unsupported.isEmpty,
      s"table requires unsupported reader features: ${unsupported.mkString(", ")}")
    require(minReader <= 3, s"unsupported minReaderVersion $minReader")
    checkMapping(r.metaData.fold("none")(_.mappingMode), allowNameMapping)
  }

  private def checkMapping(mode: String, allowName: Boolean): Unit =
    require(mode == "none" || (mode == "name" && allowName), if (mode == "name")
      s"column mapping mode 'name' is only supported for batch reads, not this access path"
    else
      s"column mapping mode '$mode' is not supported " +
        "(id-mode parquet field resolution; rewrite the table with " +
        "name mapping or no mapping)")

  private val PhysicalNameKey = "delta.columnMapping.physicalName"

  private def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalNameKey)) f.metadata.getString(PhysicalNameKey)
    else f.name

  /** Recursively rename a logical schema to the physical (on-disk)
    * names carried in each field's `delta.columnMapping.physicalName`
    * metadata — identity for tables without mapping metadata.
    */
  private def toPhysical(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(name = physicalName(f), dataType = toPhysical(f.dataType))))
    case a: ArrayType => a.copy(elementType = toPhysical(a.elementType))
    case m: MapType =>
      m.copy(keyType = toPhysical(m.keyType), valueType = toPhysical(m.valueType))
    case other => other
  }

  def schema(version: Option[Long] = None): StructType = {
    val (r, _) = replayTo(listLog(), version)
    checkProtocol(r, allowNameMapping = true) // schemaString IS logical
    r.meta.schema
  }

  /** Read the table at `versionAsOf` / `timestampAsOf` (default
    * latest), with optional partition + file-stats pruning.
    */
  def read(versionAsOf: Option[Long] = None, timestampAsOf: Option[Long] = None,
           filters: Seq[LakePredicate] = Nil): DataFrame = {
    val log = listLog()
    val version = versionAsOf.orElse(timestampAsOf.map { ts =>
      val eligible = log.commits.filter(c => commitTimestampMs(c._2) <= ts).keys
      require(eligible.nonEmpty, s"no commit at or before $ts")
      eligible.max
    })
    val (r, _) = replayTo(log, version)
    checkProtocol(r, allowNameMapping = true)
    val tableSchema = r.meta.schema
    val partCols = r.meta.partitionColumns
    val typeOf: Map[String, DataType] =
      tableSchema.fields.map(f => f.name -> f.dataType).toMap
    // name mapping: the log keys partitionValues/stats and the parquet
    // files carry PHYSICAL names; filters and output stay logical. The
    // maps are identity for unmapped tables, so one code path serves
    // both. partitionValues keys are matched through logOfTop (with an
    // identity fallback, tolerating writers that kept logical keys).
    val physOfTop: Map[String, String] =
      tableSchema.fields.map(f => f.name -> physicalName(f)).toMap
    val logOfTop: Map[String, String] = physOfTop.map(_.swap)

    val tests = filters.map(p => FileStats.KeyPred(p, typeOf.getOrElse(p.col, NullType)))

    def partitionKeeps(f: DeltaAddFile): Boolean = tests.forall { t =>
      f.partitionValues.find(kv => logOfTop.getOrElse(kv._1, kv._1) == t.col) match {
        case None => true
        case Some((_, null)) => false // a null partition value satisfies no comparison
        case Some((_, v)) => t.mayMatch(FileStats.ColRange.point(key(typeOf(t.col), v)))
      }
    }

    def statsKeep(f: DeltaAddFile): Boolean = f.statsJson match {
      case None => true
      case Some(js) =>
        val stats = try om.readTree(js) catch { case _: Exception => return true }
        tests.forall { t =>
          def bound(node: String): Option[FileStats.Key] =
            Option(stats.get(node)).filter(!_.isNull)
              .flatMap(n => Option(n.get(physOfTop.getOrElse(t.col, t.col)))
                .orElse(Option(n.get(t.col)))).filter(!_.isNull)
              .flatMap(v => key(typeOf.getOrElse(t.col, NullType), v.asText, node == "maxValues"))
          partCols.contains(t.col) ||
            t.mayMatch(FileStats.ColRange(bound("minValues"), bound("maxValues"), -1L))
        }
    }

    val live = r.adds.filter(partitionKeeps).filter(statsKeep)
    // the scan runs entirely under PHYSICAL names (files,
    // partitionValues and DV coordinates all live there); toLogical
    // renames once at the end — identity when there is no mapping
    val physSchema = toPhysical(tableSchema).asInstanceOf[StructType]
    val df = scanFiles(live, physSchema, partCols.map(c => physOfTop.getOrElse(c, c)),
      deletes = deletionVectors(live), partitionKey = k => physOfTop.getOrElse(k, k))
    if (physSchema == tableSchema) df
    else df.select(tableSchema.fields.map(f =>
      // positional struct cast renames NESTED physical fields back
      col(physOfTop(f.name)).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
  }

  /** Scan `files` as `schema` with their partition values typed by
    * it; `partitionKey` maps a log key to its column name.
    */
  private[graft] def scanFiles(files: Seq[DeltaAddFile], schema: StructType, partCols: Seq[String],
                               deletes: ScanDeletes = ScanDeletes(), only: Option[ScanDeletes] = None,
                               coordinates: Boolean = false,
                               partitionKey: String => String = identity): DataFrame = {
    val tasks = files.map { f =>
      val byCol = f.partitionValues.map { case (k, v) => partitionKey(k) -> v }.toMap
      FileTask(pathOf(f), partCols.map(c => byCol.getOrElse(c,
        throw new IllegalStateException(s"partition column $c missing from ${f.path}"))))
    }
    TaskScan.scan(spark, tasks, schema, partCols, deletes, only, coordinates = coordinates)
  }

  private def pathOf(f: DeltaAddFile): String = new HPath(root, decodePath(f.path)).toString

  /** Deletion vectors of `files` as position deletes at their own
    * file's sequence: the driver fetches each COMPRESSED bitmap
    * (bounded by the descriptors' sizeInBytes), executors expand them
    * to (file, position) rows.
    */
  private def deletionVectors(files: Seq[DeltaAddFile]): ScanDeletes = {
    val bitmaps = files.flatMap(f => f.dv.map(d => (pathOf(f), DeltaDv.readBitmap(io, root, d))))
    if (bitmaps.isEmpty) ScanDeletes()
    else {
      val sp = spark
      import sp.implicits._
      ScanDeletes(positions = Some(sp.createDataset(bitmaps)
        .flatMap { case (f, b) => Roaring64.decode(b).map(p => (f, p)) }
        .toDF("file_path", "pos").withColumn(TaskScan.SeqCol, lit(0L))))
    }
  }

  /** Table schema + partition columns at a version (streaming pin). */
  private[graft] def metaInfo(version: Option[Long]): (StructType, Seq[String]) = {
    val (r, _) = replayTo(listLog(), version)
    checkProtocol(r)
    (r.meta.schema, r.meta.partitionColumns)
  }

  /** Per-commit action summary for the streaming source: dataChange
    * adds, whether the commit REWRITES data (dataChange removes), and
    * any metaData replacement's schemaString. Fails loud when the
    * commit's JSON was truncated away (checkpointed history has no
    * per-commit actions).
    */
  private[graft] def commitSummary(v: Long): (Seq[DeltaAddFile], Boolean, Option[String]) = {
    val p = new HPath(logDir, f"$v%020d.json")
    require(io.exists(p),
      s"commit $v of $logDir is gone (checkpoint-truncated?); streaming reads need the " +
        "JSON history of the covered range — restart with a fresh checkpoint or startingVersion")
    val actions = commitActions(p)
    actions.foreach {
      case DeltaAction.Add(f, _) => require(f.dv.isEmpty,
        s"add at v$v carries a deletion vector; not supported")
      case _ => ()
    }
    (actions.collect { case DeltaAction.Add(f, true) => f },
      actions.exists { case DeltaAction.Remove(_, true) => true; case _ => false },
      actions.collect { case DeltaAction.Meta(m) => m.schemaJson }.lastOption)
  }

  /** File-granular row-level changelog of `(fromVersion, toVersion]` —
    * the log-replay face of Delta's Change Data Feed for tables
    * without `_change_data` files: per commit, `add` actions with
    * `dataChange` deliver their rows as 'insert' and `remove` actions
    * with `dataChange` re-read the tombstoned file (still on disk
    * until vacuum) as 'delete'; rewrite commits (dataChange=false on
    * both sides, the OPTIMIZE shape) pass through silently. An
    * update-style rewrite is delete + insert at the same version —
    * the standard CDC convention. Driver cost is O(commits) JSON
    * parses; reads are bounded by the changed files, at most three
    * scans per commit.
    */
  def readChanges(fromVersion: Long, toVersion: Option[Long] = None): DataFrame = {
    val log = listLog()
    val hi = toVersion.getOrElse(latestOf(log))
    val need = (fromVersion + 1) to hi
    require(need.forall(log.commits.contains),
      s"changelog needs the JSON commits of (${fromVersion}, $hi] at $logDir; " +
        "some were truncated (checkpointed history has no per-commit actions)")
    // running state at fromVersion: remove actions name only a path —
    // partitionValues/stats for the delete read come from here.
    // fromVersion = -1 starts before the initial commit (Delta
    // versions are 0-based), delivering v0's load as inserts.
    val state = scala.collection.mutable.LinkedHashMap[String, DeltaAddFile]()
    var meta: Option[DeltaMeta] = None
    if (fromVersion >= 0) {
      val (r, _) = replayTo(log, Some(fromVersion))
      checkProtocol(r)
      r.adds.foreach(a => state(a.path) = a)
      meta = r.metaData
    }
    def metaOf = meta.getOrElse(throw new IllegalStateException("no metaData action in log"))
    val frames = Seq.newBuilder[DataFrame]
    for (v <- need) {
      val actions = commitActions(log.commits(v).getPath)
      actions.foreach { case DeltaAction.Meta(m) => meta = Some(m); case _ => () }
      // mapped tables key partitionValues/files by PHYSICAL names; this
      // path assembles relations under logical names, so it must fail
      // loud for ANY commit whose metadata has mapping on (fromVersion
      // = -1 skips the entry checkProtocol, and mapping can turn on
      // mid-history)
      checkMapping(metaOf.mappingMode, allowName = false)
      val prior: Map[String, DeltaAddFile] = state.toMap
      actions.foreach {
        case DeltaAction.Add(f, _)    => state(f.path) = f
        case DeltaAction.Remove(p, _) => state.remove(p)
        case _                        => ()
      }
      val adds = actions.collect { case DeltaAction.Add(f, true) => f }
      val addedPaths = adds.map(_.path).toSet
      // a remove whose path is re-added in the SAME commit is a
      // deletion-vector (or metadata) update, not a file drop; full-file
      // drops deliver their LIVE rows only — rows a DV had already
      // masked were delivered as deletes when the DV landed
      val dropped = actions.collect { case DeltaAction.Remove(p, true) if !addedPaths(p) => p }
        .flatMap(prior.get)
      // DV update on a live file: newly-masked positions are deletes;
      // positions are never un-masked (DVs only grow)
      val grown = adds.filter(f => prior.get(f.path).exists(old => f.dv.nonEmpty && f.dv != old.dv))
      val fresh = adds.filterNot(f => prior.contains(f.path))
      val ts = metaOf.schema
      val pc = metaOf.partitionColumns
      def tagged(files: Seq[DeltaAddFile], tpe: String, only: Option[ScanDeletes] = None): Unit =
        if (files.nonEmpty) frames += scanFiles(files, ts, pc, deletionVectors(files), only)
          .withColumn("_change_type", lit(tpe)).withColumn("_commit_version", lit(v))
      tagged(dropped, "delete")
      tagged(grown.map(f => prior(f.path)), "delete", only = Some(deletionVectors(grown)))
      tagged(fresh, "insert")
    }
    val out = frames.result()
    if (out.nonEmpty) out.reduce(_ unionByName _)
    else scanFiles(Nil, metaOf.schema, metaOf.partitionColumns)
      .withColumn("_change_type", lit("insert")).withColumn("_commit_version", lit(0L))
  }
}

/** Writes spec-compliant Delta tables: `%020d.json` commits published
  * with put-if-absent (the object-store conditional PUT the protocol
  * requires for concurrent writers), real per-file `add.stats` from
  * parquet footers, partition values in `add.partitionValues`, and
  * single-file parquet checkpoints + `_last_checkpoint`.
  */
final class DeltaExport(spark: SparkSession, location: String) {
  import DeltaFormat._

  private val om = new ObjectMapper()
  private[lake] val io = new LakeIo(
    new HPath(location).getFileSystem(spark.sessionState.newHadoopConf()))
  private val root: HPath = io.qualify(new HPath(location))
  private def logDir = new HPath(root, "_delta_log")

  // one reader per export: its replay cache then serves every call at
  // an unchanged version (the cache checks each log file it used)
  private lazy val reader = new DeltaTableReader(spark, root.toString)

  private def writeCommit(version: Long, lines: Seq[String]): Unit = {
    io.mkdirs(logDir)
    val p = new HPath(logDir, f"$version%020d.json")
    // put-if-absent: a concurrent writer racing to the same version
    // must lose loudly, not overwrite
    val out =
      try io.fs.create(p, false)
      catch { case e: java.io.IOException =>
        throw new IllegalStateException(s"commit $version already exists at $logDir", e)
      }
    try out.write((lines.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def protocolLine: String =
    """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""

  private def metaDataLine(schema: StructType, partitionBy: Seq[String]): String = {
    val n = om.createObjectNode()
    val m = n.putObject("metaData")
    m.put("id", java.util.UUID.randomUUID().toString)
    val fmt = m.putObject("format")
    fmt.put("provider", "parquet")
    fmt.putObject("options")
    m.put("schemaString", schema.json)
    val pc = m.putArray("partitionColumns")
    partitionBy.foreach(pc.add)
    m.putObject("configuration")
    m.put("createdTime", System.currentTimeMillis())
    om.writeValueAsString(n)
  }

  import DeltaExport.State

  private def state(): State = {
    if (reader.latestVersion.isEmpty) return State(-1L, None, Nil, Nil)
    val (adds, metaData, v) = reader.stateAt(None)
    val meta = metaData.getOrElse(
      throw new IllegalStateException("no metaData action in log"))
    State(v, Some(meta.schemaJson), meta.partitionColumns, adds)
  }

  /** Write `df`'s rows as data files under `data/<uuid>`, returning
    * (relativePath, size, partitionValues, statsJson) per file. Stats
    * come from the parquet FOOTERS of the just-written files (one
    * driver-side metadata pass, no second data scan): numRecords
    * always; min/max for numeric, string, and date columns.
    */
  private def writeDataFiles(df: DataFrame, partitionBy: Seq[String])
      : Seq[(String, Long, Seq[(String, String)], String)] = {
    val dirName = java.util.UUID.randomUUID().toString
    val dir = new HPath(new HPath(root, "data"), dirName)
    if (partitionBy.isEmpty) df.write.mode("overwrite").parquet(dir.toString)
    else df.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(dir.toString)
    val statCols = df.schema.fields.toIndexedSeq
      .filterNot(f => partitionBy.contains(f.name))
      .filter(f => f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
             StringType | DateType | _: DecimalType => true
        case _ => false
      })
    val files = FileStats.listParquet(io, dir)
    val facts = FileStats.footerMeta(io, dir, statCols.map(_.name), files)
    val rows = FileStats.rowsOf(facts).getOrElse(
      throw new IllegalStateException(s"unreadable footers under $dir")).toMap
    val perFileRanges: Map[String, Seq[FileStats.ColRange]] =
      FileStats.statsOf(statCols.map(_.name), facts).map(_.files.toMap).getOrElse(Map.empty)

    // keys re-type through the column's declared type for
    // protocol-correct JSON stats
    def statsJsonFor(key: String, numRecords: Long): String = {
      val node = om.createObjectNode()
      node.put("numRecords", numRecords)
      val minN = node.putObject("minValues")
      val maxN = node.putObject("maxValues")
      val nullN = node.putObject("nullCount")
      perFileRanges.get(key).foreach { ranges =>
        statCols.zip(ranges).foreach { case (f, r) =>
          def putVal(target: ObjectNode, k: FileStats.Key): Unit = k match {
            case Left(bd) => f.dataType match {
              case ByteType | ShortType | IntegerType | LongType =>
                target.put(f.name, bd.toLong)
              case DateType =>
                target.put(f.name, java.time.LocalDate.ofEpochDay(bd.toLong).toString)
              case _ => target.put(f.name, bd.bigDecimal)
            }
            case Right(str) => target.put(f.name, str)
          }
          r.lo.foreach(putVal(minN, _))
          r.hi.foreach(putVal(maxN, _))
          if (r.nulls >= 0) nullN.put(f.name, r.nulls)
        }
      }
      om.writeValueAsString(node)
    }

    files.map { st =>
      val key = FileStats.relativeKey(st.getPath.toString, dirName)
      val segs = key.split('/').dropRight(1).map { seg =>
        val i = seg.indexOf('=')
        seg.substring(0, i) -> decodePath(seg.substring(i + 1))
      }.toMap
      // the hive layout already serializes dates and timestamps in the
      // protocol's form
      val pv: Seq[(String, String)] = partitionBy.map { c =>
        val raw = segs.getOrElse(c,
          throw new IllegalStateException(s"no partition segment for $c in $key"))
        c -> (if (raw == "__HIVE_DEFAULT_PARTITION__") null else raw)
      }
      (s"data/$dirName/$key", st.getLen, pv, statsJsonFor(key, rows(key)))
    }
  }

  private def addLine(rel: String, size: Long, pv: Seq[(String, String)],
                      stats: String): String = {
    val n = om.createObjectNode()
    val a = n.putObject("add")
    a.put("path", encodePath(rel))
    val pvN = a.putObject("partitionValues")
    pv.foreach { case (c, v) =>
      if (v == null) pvN.putNull(c) else pvN.put(c, v)
    }
    a.put("size", size)
    a.put("modificationTime", System.currentTimeMillis())
    a.put("dataChange", true)
    a.put("stats", stats)
    om.writeValueAsString(n)
  }

  private def removeLine(path: String): String = {
    val n = om.createObjectNode()
    val r = n.putObject("remove")
    r.put("path", path)
    r.put("deletionTimestamp", System.currentTimeMillis())
    r.put("dataChange", true)
    om.writeValueAsString(n)
  }

  private def commitInfoLine(op: String): String = {
    val n = om.createObjectNode()
    val ci = n.putObject("commitInfo")
    ci.put("timestamp", System.currentTimeMillis())
    ci.put("operation", op)
    ci.put("engineInfo", "graft-delta-export")
    om.writeValueAsString(n)
  }

  private def validateSchema(st: State, schema: StructType,
                             partitionBy: Seq[String]): Unit = {
    st.schemaJson.foreach { js =>
      require(js == schema.json,
        "appended schema differs from the table schema; Delta export does not evolve schemas")
    }
    if (st.version >= 0)
      require(partitionBy.isEmpty || partitionBy == st.partitionBy,
        s"partition columns $partitionBy do not match the table's ${st.partitionBy}")
  }

  /** Append `df` as a new commit; first commit also writes protocol +
    * metaData. Returns the committed version.
    */
  def append(df: DataFrame, partitionBy: Seq[String] = Nil): Long = {
    val st = state()
    val effSpec = if (st.version >= 0) st.partitionBy else partitionBy
    validateSchema(st, df.schema, partitionBy)
    val files = writeDataFiles(df, effSpec)
    val v = st.version + 1
    val head = if (st.version < 0)
      Seq(protocolLine, metaDataLine(df.schema, effSpec)) else Nil
    writeCommit(v, commitInfoLine("WRITE") +: head ++:
      files.map(f => addLine(f._1, f._2, f._3, f._4)))
    v
  }

  /** Replace the table's contents: tombstone every live file, add the
    * new ones — one atomic commit.
    */
  def overwrite(df: DataFrame, partitionBy: Seq[String] = Nil): Long = {
    val st = state()
    val effSpec = if (st.version >= 0) st.partitionBy else partitionBy
    validateSchema(st, df.schema, partitionBy)
    val files = writeDataFiles(df, effSpec)
    val v = st.version + 1
    val head = if (st.version < 0)
      Seq(protocolLine, metaDataLine(df.schema, effSpec)) else Nil
    writeCommit(v, commitInfoLine("OVERWRITE") +: head ++:
      (st.adds.map(a => removeLine(a.path)) ++
        files.map(f => addLine(f._1, f._2, f._3, f._4))))
    v
  }

  /** Metadata-only partition delete: tombstone every live file whose
    * partition values provably satisfy ALL predicates (which must
    * target partition columns — rows inside files are never
    * rewritten). A file some predicate provably fails is kept (a null
    * partition value satisfies none); a file no predicate disproves
    * but some predicate cannot decide (a probe of another type than
    * its column — a numeric string on an INT column included — a null
    * probe, an unparseable value) fails the call before any commit is
    * written: deleting data is never a guess.
    */
  def deleteWhere(filters: Seq[LakePredicate]): Long = {
    val st = state()
    require(st.version >= 0, "deleteWhere on a never-written table")
    require(filters.nonEmpty, "deleteWhere requires at least one predicate")
    filters.foreach(p => require(st.partitionBy.contains(p.col),
      s"deleteWhere predicate on non-partition column '${p.col}' would need a data rewrite"))
    val schema = DataType.fromJson(st.schemaJson.get).asInstanceOf[StructType]
    val typeOf = schema.fields.map(f => f.name -> f.dataType).toMap
    val tests = filters.map(p => FileStats.KeyPred(p, typeOf(p.col)))
    val doomed = st.adds.filter { a =>
      // per predicate: Some(true) provably holds, Some(false) provably fails
      val verdicts = tests.map { t =>
        a.partitionValues.find(_._1 == t.col) match {
          case Some((_, v)) if v != null =>
            val r = FileStats.ColRange.point(key(typeOf(t.col), v))
            if (t.allMatch(r)) Some(true) else if (!t.mayMatch(r)) Some(false) else None
          case _ => Some(false)
        }
      }
      val undecided = tests.zip(verdicts).collectFirst { case (t, None) => t.col }
      !verdicts.contains(Some(false)) && {
        require(undecided.isEmpty, s"deleteWhere cannot decide its predicate on column " +
          s"'${undecided.get}' (${typeOf(undecided.get).simpleString}) for ${a.path}; " +
          "pass a non-null probe of the column's type")
        true
      }
    }
    val v = st.version + 1
    writeCommit(v, commitInfoLine("DELETE") +: doomed.map(a => removeLine(a.path)))
    v
  }

  /** Row-level DELETE via deletion vectors (the protocol's
    * minReaderVersion-3 `deletionVectors` feature): matching rows'
    * (file, row_index) coordinates — existing DVs unioned in, so
    * repeated deletes compose — encode as portable roaring bitmaps
    * into ONE `deletion_vector_*.bin`, and each touched file is
    * re-added with its descriptor in a single commit. No data file is
    * rewritten; files with no matches are untouched. Positions
    * aggregate and compress EXECUTOR-side (one bitmap per file); the
    * driver fetches only (file, compressed bitmap, cardinality) rows,
    * so a predicate delete sweeping a large fraction of a 100 TB table
    * holds compressed-bitmap bytes on the driver, never the raw
    * (file, pos) coordinate set.
    */
  def deleteRows(cond: org.apache.spark.sql.Column): Long = {
    val st = state()
    require(st.version >= 0, "deleteRows on a never-written table")
    val schema = DataType.fromJson(st.schemaJson.get).asInstanceOf[StructType]
    // distributed per-file bitmap build: groupByKey on the file's task
    // index shuffles only the matched coordinates, each group encodes
    // its roaring bitmap in the executor that owns it
    val perFile: Array[(Int, Array[Byte], Long)] = {
      import spark.implicits._
      reader.scanFiles(st.adds, schema, st.partitionBy, coordinates = true)
        .where(cond)
        .select(col(TaskScan.TaskCol), col(TaskScan.PosCol))
        .as[(Int, Long)]
        .groupByKey(_._1)
        .mapGroups { (f, it) =>
          val ps = it.map(_._2).toArray.distinct.sorted
          (f, Roaring64.encode(ps), ps.length.toLong)
        }
        .collect()
    }
    if (perFile.isEmpty) return st.version // nothing to delete, no commit
    val touched: Seq[(DeltaAddFile, Array[Byte], Long)] = perFile.toSeq.map { case (i, bytes, n) =>
      val a = st.adds(i)
      a.dv match {
        case Some(d) =>
          // repeat delete on an already-vectored file: union with its
          // EXISTING deleted positions — decode cost is bounded by ONE
          // file's deletions, and only re-deleted files pay it
          val old = Roaring64.decode(DeltaDv.readBitmap(io, root, d))
          val merged = (old ++ Roaring64.decode(bytes)).distinct.sorted
          (a, Roaring64.encode(merged), merged.length.toLong)
        case None => (a, bytes, n)
      }
    }.sortBy(_._1.path)
    val descs = DeltaDv.writeDvFile(io, root,
      touched.map { case (_, b, n) => (b, n) })
    val protoLine =
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}"""
    val lines = touched.zip(descs).flatMap { case ((a, _, _), d) =>
      Seq(removeLine(a.path), addWithDvLine(a, d))
    }
    val v = st.version + 1
    writeCommit(v, commitInfoLine("DELETE") +: protoLine +: lines)
    v
  }

  private def addWithDvLine(a: DeltaAddFile, d: DeltaDv.Descriptor): String = {
    val n = om.createObjectNode()
    val add = n.putObject("add")
    add.put("path", a.path) // already encoded
    val pvN = add.putObject("partitionValues")
    a.partitionValues.foreach { case (c, v) =>
      if (v == null) pvN.putNull(c) else pvN.put(c, v)
    }
    add.put("size", a.size)
    add.put("modificationTime", System.currentTimeMillis())
    add.put("dataChange", true)
    // stats stay usable: min/max bounds remain VALID over the surviving
    // rows (they can only be loose), numRecords is pre-DV physical
    a.statsJson.foreach(add.put("stats", _))
    val dv = add.putObject("deletionVector")
    dv.put("storageType", d.storageType)
    dv.put("pathOrInlineDv", d.pathOrInlineDv)
    d.offset.foreach(dv.put("offset", _))
    dv.put("sizeInBytes", d.sizeInBytes)
    dv.put("cardinality", d.cardinality)
    om.writeValueAsString(n)
  }

  /** VACUUM: physically delete data and deletion-vector files that are
    * (a) not referenced by the CURRENT version and (b) older than the
    * retention horizon — the Delta maintenance contract. Time travel
    * to versions whose files were vacuumed stops working, exactly as
    * in Delta; the default 7-day horizon protects in-flight readers.
    * Returns the deleted paths. Never touches `_delta_log`.
    */
  def vacuum(retentionMs: Long = 7L * 24 * 3600 * 1000): Seq[String] = {
    val st = state()
    require(st.version >= 0, "vacuum on a never-written table")
    val live: Set[String] = st.adds.map(a =>
      TaskScan.canon(new HPath(root, decodePath(a.path)).toString)).toSet
    // inline (`i`) vectors live in the log entry itself: no file to keep
    val liveDvs: Set[String] = st.adds.flatMap(_.dv).filter(_.storageType != "i").map(d =>
      TaskScan.canon(io.qualify(DeltaDv.dvPath(root, d)).toString)).toSet
    val horizon = System.currentTimeMillis() - retentionMs
    val deleted = Seq.newBuilder[String]
    val it = io.fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val p = io.qualify(f.getPath)
      val rel = p.toString.stripPrefix(root.toString)
      val isLog = rel.contains("_delta_log")
      val isData = p.getName.endsWith(".parquet") ||
        p.getName.startsWith("deletion_vector_")
      val canon = TaskScan.canon(p.toString)
      if (!isLog && isData && !live.contains(canon) && !liveDvs.contains(canon) &&
          f.getModificationTime < horizon) {
        io.fs.delete(f.getPath, false)
        deleted += p.toString
      }
    }
    deleted.result()
  }

  /** Write a single-file parquet checkpoint of the current state and
    * point `_last_checkpoint` at it — bounding future replays to the
    * JSON tail (the many-commit scale lever of the Delta protocol).
    */
  def checkpoint(): Long = {
    val st = state()
    require(st.version >= 0, "checkpoint on a never-written table")
    val v = st.version
    val partitionBy = st.partitionBy
    val schemaJson = st.schemaJson.get
    val dvType = StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", LongType),
      StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))
    val addType = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType, valueContainsNull = true)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("deletionVector", dvType)))
    val metaType = StructType(Seq(
      StructField("id", StringType),
      StructField("name", StringType),
      StructField("description", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))
    val protoType = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType)))
    val cpSchema = StructType(Seq(
      StructField("add", addType), StructField("metaData", metaType),
      StructField("protocol", protoType)))
    val metaRow = Row(java.util.UUID.randomUUID().toString, null, null,
      Row("parquet", Map.empty[String, String]), schemaJson, partitionBy,
      Map.empty[String, String], System.currentTimeMillis())
    val protoRow = Row(1, 2)
    val addRows = st.adds.map { a =>
      val dvRow = a.dv.map { d =>
        Row(d.storageType, d.pathOrInlineDv, d.offset.map(Long.box).orNull,
          d.sizeInBytes, d.cardinality)
      }.orNull
      Row(a.path, a.partitionValues.toMap, a.size,
        System.currentTimeMillis(), true, a.statsJson.orNull, dvRow)
    }
    val rows: Seq[Row] =
      Row(null, metaRow, null) +: Row(null, null, protoRow) +:
        addRows.map(r => Row(r, null, null))
    val df = spark.createDataFrame(rows.asJava, cpSchema)
    // Spark writes a part file into a dir; the protocol wants ONE file
    // at an exact name — stage then move
    val tmp = new HPath(logDir, s".cp-tmp-${java.util.UUID.randomUUID()}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = io.list(tmp).map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no checkpoint part under $tmp"))
    val target = new HPath(logDir, f"$v%020d.checkpoint.parquet")
    io.fs.delete(target, false)
    io.move(part, target)
    io.delete(tmp)
    val lc = om.createObjectNode()
    lc.put("version", v)
    lc.put("size", rows.size)
    val lcPath = new HPath(logDir, "_last_checkpoint")
    val out = io.fs.create(lcPath, true)
    try out.write(om.writeValueAsString(lc)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    v
  }
}

object DeltaExport {
  /** Current table state needed to validate a new commit. */
  private final case class State(version: Long, schemaJson: Option[String],
                                 partitionBy: Seq[String], adds: Seq[DeltaAddFile])

  /** Publish a graft lake table's CURRENT snapshot as a Delta table.
    * Identity partition specs carry over (Delta has no transform
    * partitioning — `days(ts)`-style specs publish unpartitioned).
    */
  def fromLakeTable(table: LakeTable, location: String): Long = {
    val exp = new DeltaExport(table.spark, location)
    val specCols = table.latest.map { s =>
      if (s.dirSpecs.nonEmpty) Snapshot.splitSpec(s.dirSpecs.last) else s.partitionBy
    }.getOrElse(Nil)
    val identity = specCols.nonEmpty && specCols.forall(c => !c.contains("("))
    exp.overwrite(table.read(), if (identity) specCols else Nil)
  }
}
