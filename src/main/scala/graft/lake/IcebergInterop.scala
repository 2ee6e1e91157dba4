package graft.lake

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Interop with the APACHE ICEBERG table format itself — reading real
  * Iceberg metadata (`metadata.json` → manifest-list Avro → manifest
  * Avro → data/delete files) and exporting spec-compliant v2 tables,
  * WITHOUT the Iceberg runtime on the classpath.
  *
  * This is the reference's actual on-disk contract
  * (`iceberg-spark-runtime` pins, /root/reference/docker/Dockerfile:22-28;
  * warehouse + catalog config,
  * /root/reference/dags/utils/constants/constant.py:39-61): tables other
  * engines can open. The graft lake format reimplements the SEMANTICS
  * (no Iceberg jar exists offline for Spark 4.1/Scala 2.13 —
  * SURVEY.md §7.1); this module closes the FORMAT gap from public
  * knowledge only: the Iceberg table spec (format versions 1–2) and the
  * Avro container format, whose files embed their own schemas — so a
  * generic Avro reader plus field-name access parses any engine's
  * manifests.
  *
  * Read path ([[IcebergTableReader]]): metadata resolution
  * (version-hint or highest version file), snapshot selection (current /
  * by id / as-of-timestamp), v2 sequence-number inheritance, live-file
  * resolution (ADDED+EXISTING minus DELETED entries), POSITION and
  * EQUALITY deletes under the spec's sequence-number rules (applied by
  * [[TaskScan]]), partition pruning from manifest entry partition
  * tuples under identity AND projected transforms (day/hour/month/year
  * epoch-unit floors, truncate[W]; bucket[N] prunes on equality/IN via
  * the spec's murmur3 bucket index, keeps on ranges — the hash has no
  * sound range projection), and name-based projection to the
  * table's current schema (missing columns null-filled with their
  * declared type — add-column evolution; id-based column RENAME
  * resolution is out of scope without footer field-id remapping, the
  * one concession to reading by name).
  *
  * Scale shape: everything driver-side here is metadata-proportional
  * (manifest entries), and a read is one scan of its data files with
  * broadcast anti-joins against the delete files — no per-file unions.
  *
  * Export path ([[IcebergExport]]): append snapshots and
  * equality/position-delete commits with manifest + manifest-list Avro,
  * v2 metadata.json, and a `schema.name-mapping.default` property so
  * real Iceberg readers can resolve the Spark-written parquet (which
  * carries no Iceberg field ids) by name mapping.
  */
object IcebergFormat {
  /** manifest entry statuses (spec) */
  val Existing = 0; val Added = 1; val Deleted = 2
  /** data_file content (spec) */
  val DataContent = 0; val PositionDeletes = 1; val EqualityDeletes = 2

  /** Iceberg primitive type string → Spark type (spec §Schemas).
    * `timestamp` is WITHOUT zone in Iceberg → TimestampNTZ;
    * `timestamptz` is the zone-adjusted flavor.
    */
  def sparkType(t: String): Option[DataType] = t match {
    case "boolean"     => Some(BooleanType)
    case "int"         => Some(IntegerType)
    case "long"        => Some(LongType)
    case "float"       => Some(FloatType)
    case "double"      => Some(DoubleType)
    case "date"        => Some(DateType)
    case "timestamp"   => Some(TimestampNTZType)
    case "timestamptz" => Some(TimestampType)
    case "string"      => Some(StringType)
    case "uuid"        => Some(StringType)
    case "binary"      => Some(BinaryType)
    case d if d.startsWith("decimal(") =>
      val ps = d.stripPrefix("decimal(").stripSuffix(")").split(',')
      Some(DecimalType(ps(0).trim.toInt, ps(1).trim.toInt))
    case _ => None // nested / unknown: resolved by name from parquet
  }

  /** Spark type → Iceberg type string (export). */
  def icebergType(t: DataType): String = t match {
    case BooleanType      => "boolean"
    case IntegerType      => "int"
    case ShortType        => "int"
    case ByteType         => "int"
    case LongType         => "long"
    case FloatType        => "float"
    case DoubleType       => "double"
    case DateType         => "date"
    case TimestampNTZType => "timestamp"
    case TimestampType    => "timestamptz"
    case StringType       => "string"
    case BinaryType       => "binary"
    case d: DecimalType   => s"decimal(${d.precision}, ${d.scale})"
    case other => throw new IllegalArgumentException(
      s"iceberg export does not support column type $other")
  }

  /** Standard 32-bit Murmur3 (x86 variant, seed 0) — the hash the
    * Iceberg spec's `bucket[N]` transform is defined on (Appendix B).
    * Implemented from the public algorithm; verified against the
    * spec's published test vectors in `IcebergInteropSpec`.
    */
  def murmur3(bytes: Array[Byte], seed: Int = 0): Int = {
    val c1 = 0xcc9e2d51; val c2 = 0x1b873593
    var h1 = seed
    val nblocks = bytes.length / 4
    var i = 0
    while (i < nblocks) {
      var k1 = (bytes(4 * i) & 0xff) | ((bytes(4 * i + 1) & 0xff) << 8) |
        ((bytes(4 * i + 2) & 0xff) << 16) | ((bytes(4 * i + 3) & 0xff) << 24)
      k1 *= c1; k1 = Integer.rotateLeft(k1, 15); k1 *= c2
      h1 ^= k1; h1 = Integer.rotateLeft(h1, 13); h1 = h1 * 5 + 0xe6546b64
      i += 1
    }
    val tail = nblocks * 4
    var k1 = 0
    if ((bytes.length & 3) >= 3) k1 ^= (bytes(tail + 2) & 0xff) << 16
    if ((bytes.length & 3) >= 2) k1 ^= (bytes(tail + 1) & 0xff) << 8
    if ((bytes.length & 3) >= 1) {
      k1 ^= bytes(tail) & 0xff
      k1 *= c1; k1 = Integer.rotateLeft(k1, 15); k1 *= c2; h1 ^= k1
    }
    h1 ^= bytes.length
    h1 ^= h1 >>> 16; h1 *= 0x85ebca6b; h1 ^= h1 >>> 13
    h1 *= 0xc2b2ae35; h1 ^= h1 >>> 16
    h1
  }

  private def longLE(v: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array()

  /** Iceberg bucket hash of a predicate value (spec Appendix B):
    * int/long/date/timestamp hash their long form's little-endian
    * bytes; strings their UTF-8 bytes; decimals the minimal
    * two's-complement big-endian of the unscaled value; binary as-is.
    * None = type the spec does not bucket (float/double) or a runtime
    * type we can't map — callers must keep the file.
    */
  def bucketHash(v: Any): Option[Int] = v match {
    case n: java.lang.Byte    => Some(murmur3(longLE(n.longValue())))
    case n: java.lang.Short   => Some(murmur3(longLE(n.longValue())))
    case n: java.lang.Integer => Some(murmur3(longLE(n.longValue())))
    case n: java.lang.Long    => Some(murmur3(longLE(n.longValue())))
    case s: String            => Some(murmur3(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    case t: java.sql.Timestamp =>
      val micros = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
      Some(murmur3(longLE(micros)))
    case d: java.sql.Date     => Some(murmur3(longLE(d.toLocalDate.toEpochDay)))
    case d: java.time.LocalDate => Some(murmur3(longLE(d.toEpochDay)))
    case i: java.time.Instant =>
      Some(murmur3(longLE(Math.multiplyExact(i.getEpochSecond, 1000000L) + i.getNano / 1000L)))
    case d: java.math.BigDecimal => Some(murmur3(d.unscaledValue().toByteArray))
    case d: BigDecimal        => Some(murmur3(d.underlying().unscaledValue().toByteArray))
    case b: Array[Byte]       => Some(murmur3(b))
    case _                    => None
  }

  /** `bucket[N]` partition index of a value, when hashable. */
  def bucketIndex(n: Int, v: Any): Option[Int] =
    bucketHash(v).map(h => (h & Integer.MAX_VALUE) % n)

  /** Bucket index of a value whose hash domain is its long's
    * little-endian bytes (int/long/date-days/timestamp-micros) — the
    * write-path fast form ([[IcebergBucketExpr]]).
    */
  def bucketIndexOfLongBytes(n: Int, v: Long): Int =
    (murmur3(longLE(v)) & Integer.MAX_VALUE) % n

  /** Bucket index with the SOURCE COLUMN's Iceberg type in hand: the
    * spec hashes the column's representation, not the probe literal's
    * runtime type — a decimal literal must rescale to the column's
    * scale (a literal that cannot rescale exactly matches no stored
    * value, but we conservatively keep), a timestamp probe against a
    * `date` column hashes epoch DAYS, a date probe against a
    * timestamp column hashes micros. None = keep the file.
    */
  def bucketIndexTyped(n: Int, v: Any, icebergType: Option[String]): Option[Int] = {
    val coerced: Option[Any] = (icebergType, v) match {
      case (Some(t), d: java.math.BigDecimal) if t.startsWith("decimal(") =>
        val scale = t.stripPrefix("decimal(").stripSuffix(")").split(',')(1).trim.toInt
        try Some(d.setScale(scale)) catch { case _: ArithmeticException => None }
      case (Some(t), d: BigDecimal) if t.startsWith("decimal(") =>
        val scale = t.stripPrefix("decimal(").stripSuffix(")").split(',')(1).trim.toInt
        try Some(d.underlying().setScale(scale)) catch { case _: ArithmeticException => None }
      case (Some("date"), ts: java.sql.Timestamp) =>
        Some(java.time.Instant.ofEpochMilli(ts.getTime)
          .atZone(java.time.ZoneOffset.UTC).toLocalDate)
      case (Some("timestamp" | "timestamptz"), d: java.sql.Date) =>
        Some(new java.sql.Timestamp(d.toLocalDate.toEpochDay * 86400000L))
      case _ => Some(v)
    }
    coerced.flatMap(cv => bucketIndex(n, cv))
  }

  // ---- Avro schemas for EXPORT (field names per the Iceberg spec; a
  // generic reader — ours or Iceberg's — resolves them by name). ----
  val ManifestListSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514}
      |]}""".stripMargin)

  val ManifestEntrySchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int","field-id":0},
      |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |  {"name":"content","type":"int","field-id":134},
      |  {"name":"file_path","type":"string","field-id":100},
      |  {"name":"file_format","type":"string","field-id":101},
      |  {"name":"partition","type":{"type":"record","name":"r102","fields":[]},"field-id":102},
      |  {"name":"record_count","type":"long","field-id":103},
      |  {"name":"file_size_in_bytes","type":"long","field-id":104},
      |  {"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"default":null,"field-id":135}
      |]},"field-id":2}
      |]}""".stripMargin)
}

/** Row-level `bucket[N]` transform for the EXPORT write path: the
  * spec's murmur3 over the value's Iceberg byte form, reduced mod N —
  * the same arithmetic [[IcebergFormat.bucketIndexTyped]] uses to
  * prune on read, so written partition values and probe projections
  * can never disagree. A Catalyst expression (not a UDF) evaluated on
  * internal rows; CodegenFallback is fine here — it runs once per row
  * of an export write, never in a scan hot path.
  */
private[lake] final case class IcebergBucketExpr(
    child: org.apache.spark.sql.catalyst.expressions.Expression, n: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(n > 0, s"bucket count must be positive, got $n")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "iceberg_bucket"
  override protected def nullSafeEval(input: Any): Any = {
    import IcebergFormat._
    child.dataType match {
      case ByteType    => bucketIndexOfLongBytes(n, input.asInstanceOf[Byte].toLong)
      case ShortType   => bucketIndexOfLongBytes(n, input.asInstanceOf[Short].toLong)
      case IntegerType => bucketIndexOfLongBytes(n, input.asInstanceOf[Int].toLong)
      // timestamps are µs longs internally — exactly the spec's hash domain
      case LongType | TimestampType | TimestampNTZType =>
        bucketIndexOfLongBytes(n, input.asInstanceOf[Long])
      // dates are epoch-day ints internally; the spec hashes the days
      case DateType    => bucketIndexOfLongBytes(n, input.asInstanceOf[Int].toLong)
      case StringType  => bucketIndex(n, input.toString).orNull
      case _: DecimalType =>
        bucketIndex(n, input.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toJavaBigDecimal).orNull
      case BinaryType  => bucketIndex(n, input.asInstanceOf[Array[Byte]]).orNull
      case other => throw new IllegalArgumentException(
        s"bucket transform over unsupported type $other")
    }
  }
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): IcebergBucketExpr =
    copy(child = newChild)
}

/** One live file resolved from the manifests. `partition` carries
  * (source column, transform, raw Avro partition value) per spec
  * field; `bucket[N]` prunes only under equality/IN predicates.
  */
private[lake] final case class IcebergDataFile(path: String, format: String,
    sequence: Long, content: Int, equalityIds: Seq[Int],
    partition: Seq[(String, String, Any)])

private[lake] final case class IcebergSnapshot(id: Long, sequence: Long,
    timestampMs: Long, manifestList: String, operation: String)

/** Read a real Iceberg table directory (v1 or v2) without the Iceberg
  * runtime. See [[IcebergFormat]] for scope.
  */
final class IcebergTableReader(spark: SparkSession, location: String) {
  private val root = new HPath(location)
  private val io = new LakeIo(root.getFileSystem(spark.sessionState.newHadoopConf()))
  private val om = new com.fasterxml.jackson.databind.ObjectMapper()

  // ---- metadata resolution ----
  private def metadataDir = new HPath(root, "metadata")

  /** Current metadata file: `version-hint.text` when present (HadoopCatalog
    * convention), else the highest-versioned `*.metadata.json`.
    */
  private def currentMetadataPath: HPath = {
    val hint = new HPath(metadataDir, "version-hint.text")
    if (io.exists(hint)) {
      val v = io.readString(hint).trim
      val p = new HPath(metadataDir, s"v$v.metadata.json")
      if (io.exists(p)) return p
      val gz = new HPath(metadataDir, s"v$v.gz.metadata.json")
      if (io.exists(gz)) return gz
    }
    val candidates = io.list(metadataDir)
      .filter(_.getPath.getName.endsWith(".metadata.json"))
      .map(_.getPath)
    require(candidates.nonEmpty, s"no *.metadata.json under $metadataDir")
    // both naming schemes sort numerically: v<N>.metadata.json and
    // <five-digit-N>-<uuid>.metadata.json
    candidates.maxBy { p =>
      val n = p.getName.stripPrefix("v").takeWhile(_.isDigit)
      if (n.isEmpty) -1L else n.toLong
    }
  }

  /** metadata.json may be gzip-compressed (`write.metadata.compression-codec
    * =gzip`, named `*.gz.metadata.json`) — sniff the gzip magic rather
    * than trusting the name, since engines disagree on the naming.
    */
  private def readMetadataString(p: HPath): String = {
    val in = io.fs.open(p)
    try {
      val bytes = in.readAllBytes()
      val body =
        if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b) {
          val gz = new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try gz.readAllBytes() finally gz.close()
        } else bytes
      new String(body, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  private lazy val meta = om.readTree(readMetadataString(currentMetadataPath))

  def formatVersion: Int = meta.get("format-version").asInt

  /** (field id, name, type string) of the CURRENT schema. */
  lazy val schemaFields: Seq[(Int, String, String)] = {
    val schemaNode =
      if (meta.has("schemas")) {
        val cur = if (meta.has("current-schema-id")) meta.get("current-schema-id").asInt else 0
        val arr = meta.get("schemas")
        (0 until arr.size()).map(arr.get)
          .find(s => s.get("schema-id").asInt == cur)
          .getOrElse(arr.get(arr.size() - 1))
      } else meta.get("schema") // v1 single-schema form
    val fields = schemaNode.get("fields")
    (0 until fields.size()).map { i =>
      val f = fields.get(i)
      val t = f.get("type")
      (f.get("id").asInt, f.get("name").asText,
        if (t.isTextual) t.asText else t.toString)
    }
  }

  /** Partition fields of the given spec:
    * spec field name → (source column name, transform string).
    */
  private def specFields(specId: Int): Map[String, (String, String)] = {
    val specsNode =
      if (meta.has("partition-specs")) {
        val arr = meta.get("partition-specs")
        (0 until arr.size()).map(arr.get)
          .find(_.get("spec-id").asInt == specId)
      } else None
    val fieldsNode = specsNode.map(_.get("fields"))
      .orElse(Option(meta.get("partition-spec"))) // v1 flat form
    fieldsNode.map { fs =>
      val idOf = schemaFields.map { case (id, name, _) => id -> name }.toMap
      (0 until fs.size()).flatMap { i =>
        val f = fs.get(i)
        idOf.get(f.get("source-id").asInt).map(src =>
          f.get("name").asText -> (src, f.get("transform").asText))
      }.toMap
    }.getOrElse(Map.empty)
  }

  def snapshots: Seq[IcebergSnapshot] = {
    val arr = meta.get("snapshots")
    if (arr == null) Nil
    else (0 until arr.size()).map { i =>
      val s = arr.get(i)
      IcebergSnapshot(
        s.get("snapshot-id").asLong,
        if (s.has("sequence-number")) s.get("sequence-number").asLong else 0L, // v1: all 0
        s.get("timestamp-ms").asLong,
        s.get("manifest-list").asText,
        if (s.has("summary") && s.get("summary").has("operation"))
          s.get("summary").get("operation").asText else "append")
    }
  }

  def currentSnapshotId: Option[Long] =
    Option(meta.get("current-snapshot-id")).filterNot(_.isNull)
      .map(_.asLong).filter(_ != -1L)

  // ---- Avro plumbing: container files embed their schema; read
  // generically, access fields by NAME with absent-field tolerance so
  // v1 manifests (no content/sequence columns) parse with defaults ----
  private def avroRecords(path: String): Seq[GenericRecord] = {
    val in = new org.apache.avro.mapred.FsInput(resolve(path), io.fs.getConf)
    val rdr = DataFileReader.openReader(in, new GenericDatumReader[GenericRecord]())
    try {
      val b = Seq.newBuilder[GenericRecord]
      while (rdr.hasNext) b += rdr.next().asInstanceOf[GenericRecord]
      b.result()
    } finally rdr.close()
  }

  private def resolve(path: String): HPath = {
    val p = new HPath(path)
    if (p.isAbsolute || path.contains(":/")) p else new HPath(root, path)
  }

  private def field(r: GenericRecord, name: String): Option[Any] =
    Option(r.getSchema.getField(name)).flatMap(_ => Option(r.get(name)))
  private def longField(r: GenericRecord, name: String): Option[Long] =
    field(r, name).map(_.asInstanceOf[java.lang.Number].longValue())
  private def intField(r: GenericRecord, name: String, dflt: Int): Int =
    field(r, name).map(_.asInstanceOf[java.lang.Number].intValue()).getOrElse(dflt)
  private def strField(r: GenericRecord, name: String): Option[String] =
    field(r, name).map(_.toString)

  /** Live data + delete files of one snapshot, with v2 sequence-number
    * inheritance (a null entry sequence inherits the manifest's).
    */
  private def liveFiles(snap: IcebergSnapshot): Seq[IcebergDataFile] = {
    import IcebergFormat._
    avroRecords(snap.manifestList).flatMap { ml =>
      val manifestPath = strField(ml, "manifest_path").get
      val manifestSeq = longField(ml, "sequence_number").getOrElse(0L)
      val specId = intField(ml, "partition_spec_id", 0)
      val spec = specFields(specId)
      avroRecords(manifestPath).flatMap { e =>
        val status = intField(e, "status", Added)
        if (status == Deleted) None // removed by this snapshot: not scanned
        else {
          val seq = longField(e, "sequence_number").getOrElse(manifestSeq)
          val df = field(e, "data_file").get.asInstanceOf[GenericRecord]
          val partRec = field(df, "partition").map(_.asInstanceOf[GenericRecord])
          val partVals: Seq[(String, String, Any)] = partRec.map { pr =>
            spec.toSeq.flatMap { case (specField, (srcCol, transform)) =>
              Option(pr.getSchema.getField(specField))
                .flatMap(_ => Option(pr.get(specField)))
                .map(v => (srcCol, transform, v match {
                  case cs: CharSequence => cs.toString
                  case other => other
                }))
            }
          }.getOrElse(Nil)
          val eqIds = field(df, "equality_ids").map {
            // GenericData.Array implements java.util.List
            case l: java.util.List[_] =>
              l.toArray.toSeq.map(_.asInstanceOf[java.lang.Number].intValue())
            case other => throw new IllegalStateException(
              s"unexpected equality_ids representation: ${other.getClass}")
          }.getOrElse(Nil)
          Some(IcebergDataFile(
            strField(df, "file_path").get,
            strField(df, "file_format").getOrElse("PARQUET").toUpperCase,
            seq,
            intField(df, "content", DataContent),
            eqIds,
            partVals))
        }
      }
    }
  }

  /** Project a source-column predicate VALUE into a transform's
    * partition domain (spec §Partition Transforms): every row of a
    * file satisfies `transform(row) == partitionValue`, and each
    * supported transform is monotone, so `row ⊙ V` implies
    * `partitionValue ⊙ transform(V)` for ⊙ ∈ {==, >=, <=} — sound,
    * conservative pruning. None = no sound projection (`bucket[N]`,
    * handled separately for equality in [[partitionKeeps]]; unknown
    * transforms, undatable values) → keep.
    * Temporal transforms count UTC epoch units of the micros value
    * (day/hour as floor divisions; month/year via proleptic calendar).
    */
  private def projectBound(transform: String, v: Any): Option[Any] = {
    def epochMillis: Option[Long] = v match {
      case t: java.sql.Timestamp => Some(t.getTime)
      case d: java.sql.Date      => Some(d.toLocalDate.toEpochDay * 86400000L)
      case _                     => None
    }
    def localDate: Option[java.time.LocalDate] = v match {
      case t: java.sql.Timestamp =>
        Some(java.time.Instant.ofEpochMilli(t.getTime)
          .atZone(java.time.ZoneOffset.UTC).toLocalDate)
      case d: java.sql.Date => Some(d.toLocalDate)
      case _                => None
    }
    transform match {
      case "identity" => Some(v)
      case "day" | "days"     => epochMillis.map(ms => Math.floorDiv(ms, 86400000L))
      case "hour" | "hours"   => epochMillis.map(ms => Math.floorDiv(ms, 3600000L))
      case "month" | "months" => localDate.map(d => (d.getYear - 1970) * 12L + (d.getMonthValue - 1))
      case "year" | "years"   => localDate.map(d => (d.getYear - 1970).toLong)
      case t if t.startsWith("truncate[") =>
        val w = t.stripPrefix("truncate[").stripSuffix("]").toInt
        v match {
          case s: String =>
            // truncate[W] on strings counts Unicode CODE POINTS (spec),
            // not UTF-16 units — s.take(w) would split surrogate pairs
            // and diverge from the writer's partition value
            val cps = s.codePoints().toArray
            Some(if (cps.length <= w) s else new String(cps, 0, w))
          case n: java.lang.Number if !n.isInstanceOf[java.lang.Double] &&
              !n.isInstanceOf[java.lang.Float] =>
            Some(Math.floorDiv(n.longValue(), w.toLong) * w) // v - (v mod W), sign-correct
          case _ => None
        }
      case _ => None // bucket[N] and unknowns: no sound range projection
    }
  }

  /** Does a file whose partition value is `value` under `transform`
    * possibly satisfy `p`? The predicate is projected into the
    * partition domain and compared through [[FileStats.KeyPred]];
    * unknown domains keep the file — pruning is conservative, like
    * the graft stats path.
    */
  private def partitionKeeps(p: LakePredicate, transform: String, value: Any,
                             srcType: Option[String]): Boolean = {
    // bucket[N] admits EXACT equality projection (the spec's murmur3
    // bucket index of the probe value) but no range projection
    def eqBound(v: Any): Option[Any] =
      if (transform.startsWith("bucket["))
        IcebergFormat.bucketIndexTyped(
          transform.stripPrefix("bucket[").stripSuffix("]").toInt, v, srcType)
      else projectBound(transform, v)
    val projected: Option[LakePredicate] = p match {
      case LakePredicate.EqualTo(c, v) => eqBound(v).map(LakePredicate.EqualTo(c, _))
      case LakePredicate.In(c, vs) =>
        val bs = vs.map(eqBound)
        if (bs.forall(_.isDefined)) Some(LakePredicate.In(c, bs.flatten)) else None
      case LakePredicate.GtEq(c, v) => projectBound(transform, v).map(LakePredicate.GtEq(c, _))
      case LakePredicate.LtEq(c, v) => projectBound(transform, v).map(LakePredicate.LtEq(c, _))
    }
    // identity and truncate keep the source column's type; the other
    // transforms count (days, hours, months, years, buckets)
    val dt =
      if (transform == "identity" || transform.startsWith("truncate["))
        srcType.flatMap(IcebergFormat.sparkType).getOrElse(NullType)
      else LongType
    projected.forall(q => FileStats.KeyPred(q, dt)
      .mayMatch(FileStats.ColRange.point(FileStats.toKey(value))))
  }

  /** The current schema as scan columns; a field with no Spark type
    * (nested, resolved by name) is NullType, typed by the files.
    */
  private lazy val tableSchema: StructType = StructType(schemaFields.map { case (_, name, tpe) =>
    StructField(name, IcebergFormat.sparkType(tpe).getOrElse(NullType)) })

  private def task(f: IcebergDataFile): FileTask =
    FileTask(resolve(f.path).toString, dataSeq = f.sequence)

  /** Scan data files as the current schema. The TABLE's declared
    * schema is the read schema when every field maps to a Spark type:
    * no footer sampling, and under add-column evolution each file
    * null-fills its missing columns by name. Untypeable fields fall
    * back to merging the footers — correct, just footer-cost-per-file.
    */
  private def scan(data: Seq[IcebergDataFile], deletes: Seq[IcebergDataFile] = Nil,
                   only: Option[Seq[IcebergDataFile]] = None): DataFrame = {
    val unsupported = (data ++ deletes ++ only.getOrElse(Nil)).map(_.format).distinct
      .filterNot(_ == "PARQUET")
    require(unsupported.isEmpty, s"unsupported data file formats: $unsupported")
    // a delete file that no data file's sequence admits is never read
    val oldest = data.map(_.sequence).minOption
    def applicable(ds: Seq[IcebergDataFile]) = deletesOf(ds.filter(d => oldest.exists(m =>
      m < d.sequence || m == d.sequence && d.content == IcebergFormat.PositionDeletes)))
    TaskScan.scan(spark, data.map(task), tableSchema, deletes = applicable(deletes),
      only = only.map(applicable), mergeFooters = tableSchema.exists(_.dataType == NullType))
  }

  /** Delete files as scan deletes: all position files in one relation,
    * equality files in one relation per key-column set.
    */
  private def deletesOf(files: Seq[IcebergDataFile]): ScanDeletes = {
    import IcebergFormat._
    val idToName = schemaFields.map { case (id, name, _) => id -> name }.toMap
    val positions = files.filter(_.content == PositionDeletes)
    ScanDeletes(
      positions = if (positions.isEmpty) None
        else Some(TaskScan.positionRows(spark, positions.map(task))),
      equality = files.filter(_.content == EqualityDeletes).groupBy(_.equalityIds).toSeq
        .sortBy(_._1.mkString(",")).map { case (ids, fs) =>
          val cols = ids.map(id => idToName.getOrElse(id,
            throw new IllegalStateException(s"equality_id $id not in current schema")))
          cols -> TaskScan.equalityRows(spark, fs.map(task), StructType(cols.map(tableSchema(_))))
        })
  }

  /** Assemble the DataFrame of one snapshot (default: current): the
    * live data files that survive partition pruning, scanned once with
    * every live delete file applied under the spec's sequence-number
    * rules ([[TaskScan]]), then `filters` applied to the rows.
    */
  def read(snapshotId: Option[Long] = None, asOfTimestampMs: Option[Long] = None,
           filters: Seq[LakePredicate] = Nil): DataFrame = {
    import IcebergFormat._
    val snap = (snapshotId, asOfTimestampMs) match {
      case (Some(id), _) => Some(snapshots.find(_.id == id)
        .getOrElse(throw new IllegalArgumentException(s"no snapshot $id")))
      case (None, Some(ts)) =>
        val eligible = snapshots.filter(_.timestampMs <= ts)
        require(eligible.nonEmpty, s"no snapshot at or before $ts")
        Some(eligible.maxBy(_.timestampMs))
      // a never-written table reads as the schema-typed empty frame
      case (None, None) => currentSnapshotId.map(cur => snapshots.find(_.id == cur).get)
    }
    val files = snap.map(liveFiles).getOrElse(Nil)
    val colTypeOf: Map[String, String] =
      schemaFields.map { case (_, name, tpe) => name -> tpe }.toMap
    val data = files.filter(_.content == DataContent)
      // partition pruning: drop files a predicate disproves through ANY
      // of the column's spec fields (identity or projected transform)
      .filter(f => filters.forall(p =>
        f.partition.forall { case (src, transform, v) =>
          src != p.col || partitionKeeps(p, transform, v, colTypeOf.get(src)) }))
    val out = scan(data, deletes = files.filter(_.content != DataContent))
    if (filters.isEmpty) out else out.where(filters.map(predColumn).reduce(_ && _))
  }

  /** Incremental APPEND scan (Iceberg's `incremental read` /
    * the reference's daily watermark consumption shape): rows of data
    * files committed AFTER `fromSnapshotId` up to the current snapshot.
    * Sound only over append-only history — any intermediate snapshot
    * whose operation is not `append` (replace/overwrite/delete) fails
    * loud rather than silently double- or under-delivering, matching
    * Iceberg's own incremental-scan precondition. Cost tracks the NEW
    * files (selected by data sequence number from manifests), never
    * the table.
    */
  def readAppendsSince(fromSnapshotId: Long): DataFrame = {
    val snaps = snapshots
    val from = snaps.find(_.id == fromSnapshotId)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot $fromSnapshotId"))
    val cur = currentSnapshotId.flatMap(id => snaps.find(_.id == id))
      .getOrElse(throw new IllegalStateException("table has no current snapshot"))
    val intermediate = snaps.filter(s => s.sequence > from.sequence && s.sequence <= cur.sequence)
    val nonAppend = intermediate.filterNot(_.operation == "append")
    require(nonAppend.isEmpty,
      s"incremental append scan crosses non-append snapshots: ${nonAppend.map(s => s"${s.id}(${s.operation})").mkString(", ")}")
    scan(liveFiles(cur).filter(f =>
      f.content == IcebergFormat.DataContent && f.sequence > from.sequence))
  }

  /** Row-level changelog of `(fromSnapshotId, toSnapshotId]` — the
    * Iceberg changelog-scan shape for the histories this exporter
    * family produces: per snapshot, NEW data files deliver their rows
    * as 'insert', and NEW delete files deliver as 'delete' the rows
    * live in the prior snapshot that they remove — one scan of the
    * prior data files, bounded to the files a position-only commit
    * names. Snapshots that REMOVE data files (rewrites/overwrites) fail
    * loud — a compaction is not a row change, and silently
    * re-delivering rewritten rows would duplicate the feed.
    * `_commit_version` carries the snapshot's sequence number.
    */
  def readChangesSince(fromSnapshotId: Long,
                       toSnapshotId: Option[Long] = None): DataFrame = {
    import IcebergFormat._
    val snaps = snapshots.sortBy(_.sequence)
    val from = snaps.find(_.id == fromSnapshotId)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot $fromSnapshotId"))
    val to = toSnapshotId
      .map(id => snaps.find(_.id == id)
        .getOrElse(throw new IllegalArgumentException(s"no snapshot $id")))
      .orElse(currentSnapshotId.flatMap(id => snaps.find(_.id == id)))
      .getOrElse(throw new IllegalStateException("table has no current snapshot"))
    val range = snaps.filter(s => s.sequence > from.sequence && s.sequence <= to.sequence)
    def tagged(df: DataFrame, tpe: String, seq: Long): DataFrame =
      df.withColumn("_change_type", lit(tpe)).withColumn("_commit_version", lit(seq))
    val frames = Seq.newBuilder[DataFrame]
    var prevFiles = liveFiles(from)
    for (s <- range) {
      val (prevData, prevDel) = prevFiles.partition(_.content == DataContent)
      val curFiles = liveFiles(s)
      val prevPaths = prevData.map(_.path).toSet
      val curData = curFiles.filter(_.content == DataContent)
      val removed = prevPaths -- curData.map(_.path)
      require(removed.isEmpty,
        s"snapshot ${s.id} (${s.operation}) removes data files; the changelog covers " +
          "append and delete-file snapshots only — read the table instead")
      val addedData = curData.filterNot(f => prevPaths(f.path))
      if (addedData.nonEmpty) frames += tagged(scan(addedData), "insert", s.sequence)
      val prevDelPaths = prevDel.map(_.path).toSet
      val addedDeletes = curFiles.filter(f => f.content != DataContent && !prevDelPaths(f.path))
      if (addedDeletes.nonEmpty) {
        // position deletes name their files: read exactly those
        val targets =
          if (addedDeletes.exists(_.content == EqualityDeletes)) prevData
          else {
            val named = TaskScan.positionRows(spark, addedDeletes.map(task))
              .select(TaskScan.canon(col("file_path"))).distinct().collect().map(_.getString(0)).toSet
            prevData.filter(f => named(TaskScan.canon(io.qualify(resolve(f.path)).toString)))
          }
        if (targets.nonEmpty)
          frames += tagged(scan(targets, prevDel, only = Some(addedDeletes)), "delete", s.sequence)
      }
      prevFiles = curFiles
    }
    val out = frames.result()
    if (out.isEmpty) tagged(scan(Nil), "insert", 0L)
    else out.reduce(_ unionByName _)
  }

  private def predColumn(p: LakePredicate): Column = p match {
    case LakePredicate.EqualTo(c, v) => col(c) === lit(v)
    case LakePredicate.In(c, vs)     => col(c).isin(vs: _*)
    case LakePredicate.GtEq(c, v)    => col(c) >= lit(v)
    case LakePredicate.LtEq(c, v)    => col(c) <= lit(v)
  }
}

/** Export spec-compliant Iceberg v2 tables: append snapshots plus
  * equality/position-delete commits. Metadata carries
  * `schema.name-mapping.default` so real Iceberg readers resolve the
  * Spark-written parquet (no embedded field ids) by name. See
  * [[IcebergFormat]] for scope.
  */
final class IcebergExport(spark: SparkSession, location: String) {
  import IcebergFormat._
  private val root0 = new HPath(location)
  private val io = new LakeIo(root0.getFileSystem(spark.sessionState.newHadoopConf()))
  private val root = io.qualify(root0)
  private val om = new com.fasterxml.jackson.databind.ObjectMapper()
  private def metadataDir = new HPath(root, "metadata")
  private def dataDir = new HPath(root, "data")

  /** One partition-spec field: spec field name, transform
    * (`identity` | `day`), source column name.
    */
  private[lake] final case class SpecField(name: String, transform: String, srcCol: String)

  private final case class State(version: Int, lastSeq: Long,
      snapshots: Seq[com.fasterxml.jackson.databind.JsonNode],
      schemaJson: Option[com.fasterxml.jackson.databind.JsonNode],
      tableUuid: String, spec: Seq[SpecField])

  private def state: State = {
    val hint = new HPath(metadataDir, "version-hint.text")
    if (!io.exists(hint)) State(0, 0L, Nil, None,
      java.util.UUID.randomUUID().toString, Nil)
    else {
      val v = io.readString(hint).trim.toInt
      val node = om.readTree(io.readString(new HPath(metadataDir, s"v$v.metadata.json")))
      val snaps = Option(node.get("snapshots"))
        .map(a => (0 until a.size()).map(a.get)).getOrElse(Nil)
      val schemaNode = Option(node.get("schemas")).map(_.get(0))
      // partition spec 0 fields, source columns resolved by field id
      val spec: Seq[SpecField] = (for {
        specs <- Option(node.get("partition-specs")).toSeq
        s <- (0 until specs.size()).map(specs.get)
        if s.get("spec-id").asInt == 0
        fields = s.get("fields")
        f <- (0 until fields.size()).map(fields.get)
      } yield {
        val srcId = f.get("source-id").asInt
        val srcCol = schemaNode.map { sn =>
          val sf = sn.get("fields")
          (0 until sf.size()).map(sf.get)
            .find(_.get("id").asInt == srcId)
            .map(_.get("name").asText)
            .getOrElse(throw new IllegalStateException(s"no schema field id $srcId"))
        }.getOrElse(throw new IllegalStateException("partition spec without schema"))
        SpecField(f.get("name").asText, f.get("transform").asText, srcCol)
      })
      State(v, node.get("last-sequence-number").asLong, snaps,
        schemaNode, node.get("table-uuid").asText, spec)
    }
  }

  /** Parse the user-facing `partitionBy` forms: `"col"` (identity) or
    * `"days|months|hours|years(col)"` — the transforms the exporter
    * derives with built-in date functions. (`bucket[N]` export would
    * additionally need the murmur3 bucket as a Catalyst expression;
    * the READER prunes bucket tables other engines write.)
    */
  private def parseSpec(partitionBy: Seq[String]): Seq[SpecField] = {
    def temporal(s: String, prefix: String, transform: String): Option[SpecField] =
      if (s.startsWith(prefix + "(") && s.endsWith(")"))
        Some {
          val c = s.stripPrefix(prefix + "(").stripSuffix(")").trim
          SpecField(s"${c}_$transform", transform, c)
        }
      else None
    def trunc(s: String): Option[SpecField] =
      if (s.startsWith("truncate(") && s.endsWith(")")) {
        val parts = s.stripPrefix("truncate(").stripSuffix(")").split(',')
        require(parts.length == 2, s"truncate spec needs (W, col), got '$s'")
        val w = parts(0).trim.toInt
        val c = parts(1).trim
        Some(SpecField(s"${c}_trunc", s"truncate[$w]", c))
      } else None
    def bucket(s: String): Option[SpecField] =
      if (s.startsWith("bucket(") && s.endsWith(")")) {
        val parts = s.stripPrefix("bucket(").stripSuffix(")").split(',')
        require(parts.length == 2, s"bucket spec needs (N, col), got '$s'")
        val nv = parts(0).trim.toInt
        val c = parts(1).trim
        Some(SpecField(s"${c}_bucket", s"bucket[$nv]", c))
      } else None
    partitionBy.map { s =>
      temporal(s, "days", "day")
        .orElse(temporal(s, "months", "month"))
        .orElse(temporal(s, "hours", "hour"))
        .orElse(temporal(s, "years", "year"))
        .orElse(bucket(s))
        .orElse(trunc(s))
        .getOrElse(SpecField(s.trim, "identity", s.trim))
    }
  }

  /** Sequential Iceberg field ids for a Spark schema (1-based, spec
    * convention for fresh tables).
    */
  private def fieldIds(schema: StructType): Seq[(Int, StructField)] =
    schema.fields.toSeq.zipWithIndex.map { case (f, i) => (i + 1, f) }

  // column names (and the location) route through Jackson so a quote
  // or backslash in an identifier cannot corrupt the emitted JSON
  private def jstr(s: String): String = om.writeValueAsString(s)

  private def schemaJson(schema: StructType): String = {
    val fields = fieldIds(schema).map { case (id, f) =>
      s"""{"id":$id,"name":${jstr(f.name)},"required":false,"type":"${icebergType(f.dataType)}"}"""
    }.mkString(",")
    s"""{"type":"struct","schema-id":0,"fields":[$fields]}"""
  }

  private def nameMappingJson(schema: StructType): String =
    fieldIds(schema).map { case (id, f) =>
      s"""{"field-id":$id,"names":[${jstr(f.name)}]}"""
    }.mkString("[", ",", "]")

  /** Write `df` as parquet data files; returns (absolute path, rows,
    * bytes, partition values by spec-field name) per file. Row counts
    * ride the same footer pool as lake commits.
    *
    * Partitioned writes derive one `_ice_<name>` column per spec field
    * (identity COPIES the source column so the data file keeps it —
    * this reader does not reconstruct identity values from partition
    * metadata) and hand it to Spark's `partitionBy`; per-file values
    * are then parsed back from the hive-style path segments, converted
    * to the spec's representation (day → epoch days int, date identity
    * → epoch days int, numerics → int/long).
    */
  private def writeDataFiles(df: DataFrame,
      spec: Seq[SpecField]): Seq[(String, Long, Long, Seq[(String, Any)])] = {
    val dir = new HPath(dataDir, java.util.UUID.randomUUID().toString)
    if (spec.isEmpty) {
      df.write.mode("overwrite").parquet(dir.toString)
    } else {
      val withParts = spec.foldLeft(df) { (d, f) =>
        import org.apache.spark.sql.functions.{col => c, datediff, floor, lit, month, unix_timestamp, year}
        val src = c(f.srcCol)
        // epoch-unit transforms per the Iceberg spec (UTC session)
        val derived = f.transform match {
          case "identity" => src
          case "day"   => datediff(src.cast(DateType), lit("1970-01-01").cast(DateType))
          case "month" => ((year(src.cast(DateType)) - 1970) * 12 +
            month(src.cast(DateType)) - 1)
          case "year"  => year(src.cast(DateType)) - 1970
          case "hour"  => floor(unix_timestamp(src) / 3600L).cast(IntegerType)
          case b if b.startsWith("bucket[") =>
            val n = b.stripPrefix("bucket[").stripSuffix("]").toInt
            org.apache.spark.sql.GraftColumnBridge.column(IcebergBucketExpr(
              org.apache.spark.sql.GraftColumnBridge.expression(src), n))
          case t if t.startsWith("truncate[") =>
            import org.apache.spark.sql.functions.{pmod, substring}
            val w = t.stripPrefix("truncate[").stripSuffix("]").toInt
            df.schema(f.srcCol).dataType match {
              // Spark's substring walks UTF-8 code points — the spec's
              // unit (UTF-16 .take would split surrogate pairs)
              case StringType => substring(src, 1, w)
              // spec: v - (v mod W) with a POSITIVE mod
              case ByteType | ShortType | IntegerType | LongType =>
                src - pmod(src, lit(w))
              case other => throw new IllegalArgumentException(
                s"truncate export over unsupported type $other")
            }
          case t => throw new IllegalArgumentException(s"unsupported export transform $t")
        }
        d.withColumn(s"_ice_${f.name}", derived)
      }
      withParts.write.mode("overwrite")
        .partitionBy(spec.map(f => s"_ice_${f.name}"): _*).parquet(dir.toString)
    }
    val files = FileStats.listParquet(io, dir)
    val rows = FileStats.rowsOf(FileStats.footerMeta(io, dir, Nil, files)).getOrElse(
      throw new IllegalStateException(s"unreadable footers under $dir")).toMap
    val srcType: Map[String, DataType] =
      spec.map(f => f.name -> df.schema(f.srcCol).dataType).toMap
    // inverse of Spark's escapePathName: decode %XX sequences ONLY —
    // URLDecoder would also turn a literal '+' into a space and
    // corrupt string partition values
    def unescapePath(raw: String): String = {
      val sb = new java.lang.StringBuilder(raw.length)
      var i = 0
      while (i < raw.length) {
        val c = raw.charAt(i)
        if (c == '%' && i + 2 < raw.length) {
          sb.append(Integer.parseInt(raw.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
    def parseValue(f: SpecField, raw: String): Any = {
      val s = unescapePath(raw)
      if (s == "__HIVE_DEFAULT_PARTITION__") null
      else f.transform match {
        case "day" | "month" | "hour" | "year" => Integer.valueOf(s.toInt)
        case b if b.startsWith("bucket[") => Integer.valueOf(s.toInt)
        case t if t.startsWith("truncate[") => srcType(f.name) match {
          case IntegerType | ShortType | ByteType => Integer.valueOf(s.toInt)
          case LongType   => java.lang.Long.valueOf(s.toLong)
          case StringType => s
          case other => throw new IllegalArgumentException(
            s"unsupported truncate partition type $other")
        }
        case "identity" => srcType(f.name) match {
          case IntegerType | ShortType | ByteType => Integer.valueOf(s.toInt)
          case LongType   => java.lang.Long.valueOf(s.toLong)
          case DateType   => Integer.valueOf(java.time.LocalDate.parse(s).toEpochDay.toInt)
          case StringType => s
          case other => throw new IllegalArgumentException(
            s"unsupported identity partition type $other")
        }
      }
    }
    files.map { st =>
      val key = FileStats.relativeKey(st.getPath.toString, dir.getName)
      val segs = key.split('/').dropRight(1)
        .map { seg =>
          val i = seg.indexOf('=')
          seg.substring("_ice_".length, i) -> seg.substring(i + 1)
        }.toMap
      val partVals = spec.map(f => f.name -> parseValue(f, segs.getOrElse(f.name,
        throw new IllegalStateException(s"no partition segment for ${f.name} in $key"))))
      (io.qualify(st.getPath).toString, rows(key), st.getLen, partVals)
    }
  }

  /** `meta` becomes Avro key-value file metadata — the Iceberg spec
    * requires manifests to carry 'schema'/'partition-spec'/
    * 'partition-spec-id'/'format-version'/'content' and manifest lists
    * 'format-version' etc.; real readers (ManifestReader) parse these
    * before touching any record, so omitting them makes the table
    * unopenable outside this repo.
    */
  private def writeAvro(path: HPath, schema: Schema, records: Seq[GenericRecord],
                        meta: Seq[(String, String)]): Long = {
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    val out = io.fs.create(path, true)
    try {
      meta.foreach { case (k, v) => w.setMeta(k, v) }
      w.create(schema, out)
      records.foreach(w.append)
      w.close() // flushes + closes the stream
    } finally { try out.close() catch { case _: java.io.IOException => () } }
    io.fs.getFileStatus(path).getLen
  }

  /** Avro type of one partition field (nullable union member). */
  private def partAvroType(f: SpecField, srcTypes: Map[String, DataType]): String =
    f.transform match {
      case "day" | "month" | "hour" | "year" => "int"
      case b if b.startsWith("bucket[") => "int"
      case t if t.startsWith("truncate[") => srcTypes(f.name) match {
        case IntegerType | ShortType | ByteType => "int"
        case LongType   => "long"
        case StringType => "string"
        case other => throw new IllegalArgumentException(
          s"unsupported truncate partition type $other")
      }
      case "identity" => srcTypes(f.name) match {
        case IntegerType | ShortType | ByteType | DateType => "int"
        case LongType   => "long"
        case StringType => "string"
        case other => throw new IllegalArgumentException(
          s"unsupported identity partition type $other")
      }
    }

  /** Manifest entry schema whose partition record carries the spec's
    * fields (spec field-ids start at 1000 per convention). The static
    * [[IcebergFormat.ManifestEntrySchema]] is the empty-spec case.
    */
  private def entrySchemaFor(spec: Seq[SpecField],
      srcTypes: Map[String, DataType]): Schema =
    if (spec.isEmpty) ManifestEntrySchema
    else {
      val partFields = spec.zipWithIndex.map { case (f, i) =>
        s"""{"name":${jstr(f.name)},"type":["null","${partAvroType(f, srcTypes)}"],"default":null,"field-id":${1000 + i}}"""
      }.mkString(",")
      new Schema.Parser().parse(
        s"""{"type":"record","name":"manifest_entry","fields":[
           |{"name":"status","type":"int","field-id":0},
           |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
           |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
           |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
           |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
           |  {"name":"content","type":"int","field-id":134},
           |  {"name":"file_path","type":"string","field-id":100},
           |  {"name":"file_format","type":"string","field-id":101},
           |  {"name":"partition","type":{"type":"record","name":"r102","fields":[$partFields]},"field-id":102},
           |  {"name":"record_count","type":"long","field-id":103},
           |  {"name":"file_size_in_bytes","type":"long","field-id":104},
           |  {"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"default":null,"field-id":135}
           |]},"field-id":2}
           |]}""".stripMargin)
    }

  private def manifestEntry(schema: Schema, status: Int, seq: Long, snapshotId: Long,
      content: Int, path: String, rows: Long, bytes: Long,
      eqIds: Seq[Int], partVals: Seq[(String, Any)]): GenericRecord = {
    val e = new GenericData.Record(schema)
    e.put("status", status)
    e.put("snapshot_id", snapshotId)
    e.put("sequence_number", seq)
    e.put("file_sequence_number", seq)
    val d = new GenericData.Record(schema.getField("data_file").schema())
    d.put("content", content)
    d.put("file_path", path)
    d.put("file_format", "PARQUET")
    val p = new GenericData.Record(d.getSchema.getField("partition").schema())
    partVals.foreach { case (name, v) => p.put(name, v) }
    d.put("partition", p)
    d.put("record_count", rows)
    d.put("file_size_in_bytes", bytes)
    if (eqIds.nonEmpty) d.put("equality_ids",
      new java.util.ArrayList[Integer](eqIds.map(Int.box).asJavaList))
    e.put("data_file", d)
    e
  }

  private implicit class SeqOps[A](xs: Seq[A]) {
    def asJavaList: java.util.List[A] = {
      val l = new java.util.ArrayList[A](xs.size)
      xs.foreach(l.add); l
    }
  }

  private def manifestListEntry(path: String, length: Long, content: Int,
      seq: Long, snapshotId: Long, files: Int, rows: Long,
      specId: Int = 0): GenericRecord = {
    val r = new GenericData.Record(ManifestListSchema)
    r.put("manifest_path", path)
    r.put("manifest_length", length)
    r.put("partition_spec_id", specId)
    r.put("content", content)
    r.put("sequence_number", seq)
    r.put("min_sequence_number", seq)
    r.put("added_snapshot_id", snapshotId)
    r.put("added_files_count", files)
    r.put("existing_files_count", 0)
    r.put("deleted_files_count", 0)
    r.put("added_rows_count", rows)
    r.put("existing_rows_count", 0)
    r.put("deleted_rows_count", 0)
    r
  }

  /** One commit: write data files (or delete files), a manifest, a
    * manifest list carrying the prior snapshot's manifests forward, and
    * the next metadata.json. Returns the new snapshot id.
    */
  private def commit(df: DataFrame, content: Int, eqCols: Seq[String],
                     operation: String, partitionBy: Seq[String] = Nil): Long = {
    val st = state
    val seq = st.lastSeq + 1
    val snapshotId = seq
    val schema = df.schema
    // the partition spec is fixed at first append (like the schema);
    // later appends must restate it identically or omit it
    val tableSpec: Seq[SpecField] =
      if (st.spec.nonEmpty) {
        val asked = parseSpec(partitionBy)
        require(asked.isEmpty || asked == st.spec,
          s"partition spec $asked does not match the table's ${st.spec}")
        st.spec
      } else parseSpec(partitionBy)
    // this COMMIT's spec: data files use the table spec; delete files
    // are written unpartitioned (spec 1 on a partitioned table)
    val commitSpec = if (content == DataContent) tableSpec else Nil
    val commitSpecId = if (tableSpec.isEmpty || content == DataContent) 0 else 1
    if (content == DataContent)
      tableSpec.foreach(f => require(schema.fieldNames.contains(f.srcCol),
        s"partition source column '${f.srcCol}' missing from the appended frame"))
    val eqIds: Seq[Int] =
      if (content != EqualityDeletes) Nil
      else {
        // the table schema is the base table's, not the delete keys':
        // resolve equality ids against the EXISTING schema
        require(st.schemaJson.isDefined, "equality delete on a never-written table")
        val fields = st.schemaJson.get.get("fields")
        eqCols.map { c =>
          (0 until fields.size()).map(fields.get)
            .find(_.get("name").asText == c)
            .map(_.get("id").asInt)
            .getOrElse(throw new IllegalArgumentException(s"no column '$c' in table schema"))
        }
      }
    val files = writeDataFiles(df, commitSpec)
    io.mkdirs(metadataDir)
    // table schema at manifest-write time: the appended schema for data
    // commits, the existing table schema for delete commits
    val schemaJsonStr = if (content == DataContent) schemaJson(schema)
      else st.schemaJson.get.toString
    // spec fields as metadata JSON (source ids resolve by position in
    // the TABLE schema; spec field-ids start at 1000 per convention)
    def specFieldsJson(spec: Seq[SpecField], forSchema: String): String = {
      lazy val fields = om.readTree(forSchema).get("fields")
      spec.zipWithIndex.map { case (f, i) =>
        val srcId = (0 until fields.size()).map(fields.get)
          .find(_.get("name").asText == f.srcCol)
          .map(_.get("id").asInt)
          .getOrElse(throw new IllegalStateException(s"no schema field '${f.srcCol}'"))
        s"""{"name":${jstr(f.name)},"transform":"${f.transform}","source-id":$srcId,"field-id":${1000 + i}}"""
      }.mkString("[", ",", "]")
    }
    val commitSpecJson = specFieldsJson(commitSpec, schemaJsonStr)
    val manifestPath = io.qualify(new HPath(metadataDir,
      s"manifest-$snapshotId-${java.util.UUID.randomUUID()}.avro"))
    val srcTypes: Map[String, DataType] =
      commitSpec.map(f => f.name -> schema(f.srcCol).dataType).toMap
    val eSchema = entrySchemaFor(commitSpec, srcTypes)
    val entries = files.map { case (p, rows, bytes, partVals) =>
      manifestEntry(eSchema, Added, seq, snapshotId, content, p, rows, bytes,
        eqIds, partVals)
    }
    val mLen = writeAvro(manifestPath, eSchema, entries, Seq(
      "schema" -> schemaJsonStr,
      "schema-id" -> "0",
      "partition-spec" -> commitSpecJson,
      "partition-spec-id" -> commitSpecId.toString,
      "format-version" -> "2",
      "content" -> (if (content == DataContent) "data" else "deletes")))
    // carry prior manifests forward: previous snapshot's list + this one
    val priorListEntries: Seq[GenericRecord] = st.snapshots.lastOption.map { s =>
      val in = new org.apache.avro.mapred.FsInput(
        new HPath(s.get("manifest-list").asText), io.fs.getConf)
      val rdr = DataFileReader.openReader(in, new GenericDatumReader[GenericRecord]())
      try {
        val b = Seq.newBuilder[GenericRecord]
        while (rdr.hasNext) b += rdr.next().asInstanceOf[GenericRecord]
        b.result()
      } finally rdr.close()
    }.getOrElse(Nil)
    // rebuild prior entries against OUR schema (field-name copy) so one
    // writer schema serves the whole list file
    val carried = priorListEntries.map { r =>
      manifestListEntry(r.get("manifest_path").toString,
        r.get("manifest_length").asInstanceOf[java.lang.Number].longValue(),
        r.get("content").asInstanceOf[java.lang.Number].intValue(),
        r.get("sequence_number").asInstanceOf[java.lang.Number].longValue(),
        r.get("added_snapshot_id").asInstanceOf[java.lang.Number].longValue(),
        r.get("added_files_count").asInstanceOf[java.lang.Number].intValue(),
        r.get("added_rows_count").asInstanceOf[java.lang.Number].longValue(),
        // each prior manifest keeps ITS spec — deletes on a partitioned
        // table ride spec 1 and must not be re-stamped spec 0
        specId = r.get("partition_spec_id").asInstanceOf[java.lang.Number].intValue())
    }
    val listPath = io.qualify(new HPath(metadataDir,
      s"snap-$snapshotId-${java.util.UUID.randomUUID()}.avro"))
    val totalRows = files.map(_._2).sum
    writeAvro(listPath, ManifestListSchema,
      carried :+ manifestListEntry(manifestPath.toString, mLen,
        if (content == DataContent) 0 else 1, seq, snapshotId, files.size, totalRows,
        specId = commitSpecId),
      Seq(
        "format-version" -> "2",
        "snapshot-id" -> snapshotId.toString,
        "sequence-number" -> seq.toString,
        "parent-snapshot-id" -> st.snapshots.lastOption
          .map(_.get("snapshot-id").asLong.toString).getOrElse("null")))

    val now = java.lang.System.currentTimeMillis()
    val snapJson =
      s"""{"snapshot-id":$snapshotId,"sequence-number":$seq,"timestamp-ms":$now,
         |"summary":{"operation":"$operation"},
         |"manifest-list":${jstr(listPath.toString)},"schema-id":0}""".stripMargin
    val allSnaps = st.snapshots.map(_.toString) :+ snapJson
    // snapshot-log: (timestamp, id) per commit, spec-required history
    val snapshotLog = (st.snapshots.map(s =>
        s"""{"timestamp-ms":${s.get("timestamp-ms").asLong},"snapshot-id":${s.get("snapshot-id").asLong}}""") :+
      s"""{"timestamp-ms":$now,"snapshot-id":$snapshotId}""").mkString(",")
    val nameMapping = if (content == DataContent) nameMappingJson(schema)
      else om.readTree(io.readString(new HPath(metadataDir, s"v${st.version}.metadata.json")))
        .get("properties").get("schema.name-mapping.default").asText
    val lastColumnId = om.readTree(schemaJsonStr).get("fields").size()
    // spec 0 = the table's data spec; a partitioned table also carries
    // the empty spec 1 its (unpartitioned) delete manifests reference
    val tableSpecJson = specFieldsJson(tableSpec, schemaJsonStr)
    val partitionSpecsJson =
      if (tableSpec.isEmpty) """[{"spec-id":0,"fields":[]}]"""
      else s"""[{"spec-id":0,"fields":$tableSpecJson},{"spec-id":1,"fields":[]}]"""
    val lastPartitionId = 999 + tableSpec.size
    val metadataJson =
      s"""{"format-version":2,"table-uuid":"${st.tableUuid}",
         |"location":${jstr(root.toString)},"last-sequence-number":$seq,
         |"last-updated-ms":$now,"last-column-id":$lastColumnId,
         |"current-schema-id":0,"schemas":[$schemaJsonStr],
         |"default-spec-id":0,"partition-specs":$partitionSpecsJson,
         |"last-partition-id":$lastPartitionId,"default-sort-order-id":0,
         |"sort-orders":[{"order-id":0,"fields":[]}],
         |"properties":{"schema.name-mapping.default":${om.writeValueAsString(nameMapping)},
         |"write.format.default":"parquet"},
         |"current-snapshot-id":$snapshotId,
         |"snapshots":[${allSnaps.mkString(",")}],
         |"snapshot-log":[$snapshotLog],"metadata-log":[]}""".stripMargin
    val v = st.version + 1
    val out = io.fs.create(new HPath(metadataDir, s"v$v.metadata.json"), true)
    try out.write(metadataJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val hint = io.fs.create(new HPath(metadataDir, "version-hint.text"), true)
    try hint.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally hint.close()
    snapshotId
  }

  /** Append snapshot. First append fixes the table schema and (when
    * `partitionBy` is given — `"col"` identity or `"days(col)"`) the
    * partition spec; data files land hive-partitioned and manifest
    * entries carry typed partition values, so any spec-conformant
    * reader (including [[IcebergTableReader]]) prunes them from
    * manifests alone.
    */
  def append(df: DataFrame, partitionBy: Seq[String] = Nil): Long =
    commit(df, DataContent, Nil, "append", partitionBy)

  /** Equality-delete commit: rows matching any key tuple in `keys`
    * (projected to `cols`) disappear from data files of all PRIOR
    * sequences.
    */
  def equalityDelete(keys: DataFrame, cols: Seq[String]): Long =
    commit(keys.select(cols.map(col): _*), EqualityDeletes, cols, "delete")

  /** Position-delete commit: `coords` must have columns
    * (file_path string, pos long) naming rows of EXISTING data files.
    */
  def positionDelete(coords: DataFrame): Long =
    commit(coords.select(col("file_path"), col("pos")), PositionDeletes, Nil, "delete")
}

object IcebergExport {
  /** Publish a graft lake table's CURRENT state (deletes applied, all
    * hidden-partition columns stripped — `LakeTable.read` semantics) as
    * a fresh Iceberg v2 table at `location` — the exit ramp: a graft
    * warehouse becomes interchange-format data written to the public
    * Iceberg v2 spec (metadata.json, Avro manifests with the required
    * key-value file metadata, name mapping), via one append snapshot.
    * Spec conformance is asserted structurally in `IcebergInteropSpec`;
    * no real Iceberg runtime exists offline to cross-verify against,
    * so treat third-party opens as spec-derived, not runtime-proven.
    * Incremental publishing (snapshot
    * per graft commit) would ride `readChanges` the same way; this
    * ships the whole-table form the reference's overwrite-per-run
    * pipeline (`dags/etl.py:51-54`) actually uses.
    *
    * The graft table's own hidden-partition spec carries over where
    * Iceberg export supports it (identity, `days(col)`); other
    * transforms (months/hours/bucket/truncate) publish unpartitioned —
    * correct, just unpruned on that dimension.
    */
  def fromLakeTable(table: LakeTable, location: String): Long = {
    val df = table.read(None)
    // only specs the exporter can actually derive AND whose source
    // column type it can partition — anything else publishes
    // unpartitioned (never fails an export that used to succeed)
    def identitySupported(c: String): Boolean =
      df.schema.fields.find(_.name == c).map(_.dataType).exists {
        case IntegerType | ShortType | ByteType | LongType | StringType | DateType => true
        case _ => false
      }
    def temporalSupported(s: String, prefix: String): Boolean =
      s.startsWith(prefix + "(") && s.endsWith(")") && {
        val c = s.stripPrefix(prefix + "(").stripSuffix(")").trim
        df.schema.fields.find(_.name == c).map(_.dataType).exists {
          case TimestampType | TimestampNTZType | DateType => true
          case _ => false
        }
      }
    def bucketSupported(s: String): Boolean =
      s.startsWith("bucket(") && s.endsWith(")") && {
        val parts = s.stripPrefix("bucket(").stripSuffix(")").split(',')
        parts.length == 2 && parts(0).trim.forall(_.isDigit) &&
          df.schema.fields.find(_.name == parts(1).trim).map(_.dataType).exists {
            case ByteType | ShortType | IntegerType | LongType | StringType |
                 DateType | TimestampType | TimestampNTZType | _: DecimalType |
                 BinaryType => true
            case _ => false
          }
      }
    def truncateSupported(s: String): Boolean =
      s.startsWith("truncate(") && s.endsWith(")") && {
        val parts = s.stripPrefix("truncate(").stripSuffix(")").split(',')
        parts.length == 2 && parts(0).trim.forall(_.isDigit) &&
          df.schema.fields.find(_.name == parts(1).trim).map(_.dataType).exists {
            case ByteType | ShortType | IntegerType | LongType | StringType => true
            case _ => false
          }
      }
    val spec = table.latest.map(_.partitionBy).getOrElse(Nil).filter { s =>
      Seq("days", "months", "hours", "years").exists(temporalSupported(s, _)) ||
        bucketSupported(s) || truncateSupported(s) ||
        (s.matches("[A-Za-z_][A-Za-z0-9_]*") && identitySupported(s))
    }
    new IcebergExport(table.spark, location).append(df, spec)
  }
}
