package graft.lake

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.Instant

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** File pruning is one decision for native, Delta and Iceberg scans
  * ([[FileStats.KeyPred]]): whatever a format skips, a plain filter
  * over the unpruned read must agree with the pruned read. Strings
  * compare in UTF-8 byte order (the order parquet and Delta write
  * min/max in), probes are typed by their column, and Delta's ISO
  * timestamp stats compare as instants.
  */
class PruningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshLoc(): String = Files.createTempDirectory("pruning-").toString

  // U+FFFD sorts after the surrogates of U+1F600 in UTF-16, before it in UTF-8
  private val Replacement = "�"
  private val Grin = "😀"

  private def predColumn(p: LakePredicate): Column = p match {
    case LakePredicate.EqualTo(c, v) => col(c) === lit(v)
    case LakePredicate.In(c, vs)     => col(c).isin(vs: _*)
    case LakePredicate.GtEq(c, v)    => col(c) >= lit(v)
    case LakePredicate.LtEq(c, v)    => col(c) <= lit(v)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** An Iceberg v2 table identity-partitioned on `partCols`, laid out
    * by hand: the exporter's hive-style directories cannot name
    * non-ASCII partition values where the JVM's file-name encoding is
    * not UTF-8, so each partition's files sit under a numbered dir and
    * its values live only in the manifest, as the spec allows.
    */
  private def icebergIdentityTable(df: DataFrame, partCols: Seq[String]): IcebergTableReader = {
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.hadoop.fs.{Path => HPath}
    import IcebergFormat._
    val loc = freshLoc()
    val root = new HPath(loc)
    val io = new LakeIo(root.getFileSystem(spark.sessionState.newHadoopConf()))
    val fields = df.schema.fields.toSeq
    val local = df.collect().toSeq
    val parts = local.map(r => partCols.map(c => r.get(r.fieldIndex(c)))).distinct
    spark.createDataFrame(
      java.util.Arrays.asList(local.map(r => Row.fromSeq(r.toSeq :+
        parts.indexOf(partCols.map(c => r.get(r.fieldIndex(c)))))): _*),
      df.schema.add("_f", IntegerType)).write.partitionBy("_f").parquet(s"$loc/data")

    def iceType(t: DataType) = t match {
      case IntegerType => "int"
      case LongType    => "long"
      case DateType    => "date"
      case StringType  => "string"
    }
    def avroType(t: DataType) = if (t == StringType) "string" else if (t == LongType) "long" else "int"
    def avroValue(v: Any): Any = v match {
      case d: Date => Integer.valueOf(d.toLocalDate.toEpochDay.toInt)
      case other   => other
    }
    val typeOf = fields.map(f => f.name -> f.dataType).toMap
    val entrySchema = new org.apache.avro.Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"sequence_number","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |  {"name":"content","type":"int"},
        |  {"name":"file_path","type":"string"},
        |  {"name":"file_format","type":"string"},
        |  {"name":"partition","type":{"type":"record","name":"r102","fields":[
        |    ${partCols.map(c => s"""{"name":"$c","type":["null","${avroType(typeOf(c))}"],"default":null}""").mkString(",")}]}},
        |  {"name":"record_count","type":"long"},
        |  {"name":"file_size_in_bytes","type":"long"}
        |]}}]}""".stripMargin)
    val entries = parts.indices.flatMap { k =>
      io.fs.listStatus(new HPath(s"$loc/data/_f=$k")).filter(_.getPath.getName.endsWith(".parquet"))
        .map { st =>
          val e = new GenericData.Record(entrySchema)
          e.put("status", Added); e.put("sequence_number", 1L)
          val d = new GenericData.Record(entrySchema.getField("data_file").schema())
          d.put("content", DataContent); d.put("file_path", io.qualify(st.getPath).toString)
          d.put("file_format", "PARQUET")
          val p = new GenericData.Record(d.getSchema.getField("partition").schema())
          partCols.zip(parts(k)).foreach { case (c, v) => p.put(c, avroValue(v)) }
          d.put("partition", p); d.put("record_count", 1L); d.put("file_size_in_bytes", st.getLen)
          e.put("data_file", d)
          e: GenericRecord
        }
    }
    def write(path: HPath, schema: org.apache.avro.Schema, rs: Seq[GenericRecord]): Long = {
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      val out = io.fs.create(path, true)
      w.create(schema, out); rs.foreach(w.append); w.close()
      io.fs.getFileStatus(path).getLen
    }
    val mPath = new HPath(root, "metadata/manifest-1.avro")
    val mLen = write(mPath, entrySchema, entries)
    val ml = new GenericData.Record(ManifestListSchema)
    ml.put("manifest_path", io.qualify(mPath).toString); ml.put("manifest_length", mLen)
    ml.put("partition_spec_id", 0); ml.put("content", 0)
    ml.put("sequence_number", 1L); ml.put("min_sequence_number", 1L)
    ml.put("added_snapshot_id", 1L)
    ml.put("added_files_count", entries.size); ml.put("existing_files_count", 0)
    ml.put("deleted_files_count", 0)
    ml.put("added_rows_count", local.size.toLong); ml.put("existing_rows_count", 0L)
    ml.put("deleted_rows_count", 0L)
    val listPath = new HPath(root, "metadata/snap-1.avro")
    write(listPath, ManifestListSchema, Seq(ml))
    val schemaFields = fields.zipWithIndex.map { case (f, i) =>
      s"""{"id":${i + 1},"name":"${f.name}","required":false,"type":"${iceType(f.dataType)}"}""" }
    val specFields = partCols.zipWithIndex.map { case (c, i) =>
      s"""{"name":"$c","transform":"identity","source-id":${fields.indexWhere(_.name == c) + 1},""" +
        s""""field-id":${1000 + i}}""" }
    val metaJson =
      s"""{"format-version":2,"table-uuid":"t","location":"${io.qualify(root)}",
         |"last-sequence-number":1,"last-updated-ms":1,"last-column-id":${fields.size},
         |"current-schema-id":0,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[${schemaFields.mkString(",")}]}],
         |"default-spec-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[${specFields.mkString(",")}]}],
         |"last-partition-id":${999 + partCols.size},"default-sort-order-id":0,
         |"sort-orders":[{"order-id":0,"fields":[]}],"properties":{},
         |"current-snapshot-id":1,
         |"snapshots":[{"snapshot-id":1,"sequence-number":1,"timestamp-ms":1,
         |  "summary":{"operation":"append"},
         |  "manifest-list":"${io.qualify(listPath)}","schema-id":0}],
         |"snapshot-log":[],"metadata-log":[]}""".stripMargin
    val out = io.fs.create(new HPath(root, "metadata/v1.metadata.json"), true)
    out.write(metaJson.getBytes("UTF-8")); out.close()
    val hint = io.fs.create(new HPath(root, "metadata/version-hint.text"), true)
    hint.write("1".getBytes("UTF-8")); hint.close()
    new IcebergTableReader(spark, loc)
  }

  test("Delta add.stats string bounds compare in UTF-8 order") {
    val loc = freshLoc()
    new DeltaExport(spark, loc).append(
      Seq((1L, "a"), (2L, Replacement), (3L, Grin)).toDF("id", "s").coalesce(1))
    val rdr = new DeltaTableReader(spark, loc)
    val probe = LakePredicate.EqualTo("s", Replacement)
    assert(rows(rdr.read(filters = Seq(probe)).where(predColumn(probe))) ===
      rows(rdr.read().where(predColumn(probe))))
    assert(rdr.read(filters = Seq(probe)).where(predColumn(probe)).count() === 1L)
  }

  test("Iceberg identity string partitions compare in UTF-8 order") {
    val rdr = icebergIdentityTable(Seq((1L, "a"), (2L, Grin)).toDF("id", "s"), Seq("s"))
    val probe = LakePredicate.GtEq("s", Replacement)
    assert(rows(rdr.read(filters = Seq(probe))) === rows(rdr.read().where(predColumn(probe))))
    assert(rdr.read(filters = Seq(probe)).select($"id").as[Long].collect() === Array(2L))
  }

  test("Delta ISO-8601 timestamp stats compare as instants, max widened to its millisecond") {
    val loc = freshLoc()
    val at = Timestamp.from(Instant.parse("2024-01-01T05:00:00.000700Z"))
    Seq((1L, at)).toDF("id", "ts").coalesce(1).write.parquet(s"$loc/data")
    val file = new java.io.File(s"$loc/data").listFiles().find(_.getName.endsWith(".parquet")).get
    // the log a Delta writer leaves: ISO stats truncated to milliseconds
    val om = new ObjectMapper()
    val protocol = om.createObjectNode()
    protocol.putObject("protocol").put("minReaderVersion", 1).put("minWriterVersion", 2)
    val meta = om.createObjectNode()
    val m = meta.putObject("metaData")
    m.put("id", "iso-stats")
    m.putObject("format").put("provider", "parquet")
    m.put("schemaString", new StructType().add("id", LongType).add("ts", TimestampType).json)
    m.putArray("partitionColumns")
    val stats = om.createObjectNode()
    stats.put("numRecords", 1)
    stats.putObject("minValues").put("ts", "2024-01-01T05:00:00.000Z")
    stats.putObject("maxValues").put("ts", "2024-01-01T05:00:00.000Z")
    stats.putObject("nullCount").put("ts", 0)
    val add = om.createObjectNode()
    val a = add.putObject("add")
    a.put("path", s"data/${file.getName}")
    a.putObject("partitionValues")
    a.put("size", file.length()).put("modificationTime", 0L).put("dataChange", true)
    a.put("stats", om.writeValueAsString(stats))
    val log = new java.io.File(loc, "_delta_log")
    assert(log.mkdirs())
    Files.write(new java.io.File(log, f"${0}%020d.json").toPath,
      Seq(protocol, meta, add).map(om.writeValueAsString).mkString("\n").getBytes("UTF-8"))

    val rdr = new DeltaTableReader(spark, loc)
    val sameDay = LakePredicate.LtEq("ts", Timestamp.from(Instant.parse("2024-01-01T07:00:00Z")))
    assert(rdr.read(filters = Seq(sameDay)).where(predColumn(sameDay)).count() === 1L)
    // the row sits 700 µs past the truncated max
    val inMilli = LakePredicate.GtEq("ts", Timestamp.from(Instant.parse("2024-01-01T05:00:00.000500Z")))
    assert(rdr.read(filters = Seq(inMilli)).where(predColumn(inMilli)).count() === 1L)
    val pastMilli = LakePredicate.GtEq("ts", Timestamp.from(Instant.parse("2024-01-01T05:00:00.001Z")))
    assert(rdr.read(filters = Seq(pastMilli)).inputFiles.isEmpty)
  }

  test("native stats type the probe by the column: a Timestamp on a DATE column does not prune") {
    val t = new LakeCatalog(spark, freshLoc()).table("ns.d")
    val df = (0 until 6).map(i => (i.toLong, Date.valueOf(s"2024-01-0${i + 1}"))).toDF("id", "d")
    t.write(df.repartition(3), WriteMode.Overwrite, statsBy = Seq("d"))
    val probe = LakePredicate.GtEq("d", Timestamp.from(Instant.parse("2024-01-03T00:00:00Z")))
    assert(rows(t.scan(Seq(probe))) === rows(t.read().where(predColumn(probe))))
    assert(t.scan(Seq(probe)).count() === 4L)
  }

  test("a Timestamp probe on a TIMESTAMP_NTZ column keys by its wall time outside UTC") {
    val saved = java.util.TimeZone.getDefault
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("Etc/GMT-2")) // UTC+2
    try {
      val wall = "2024-01-01 07:00:00"
      val t = Timestamp.valueOf(wall)
      // NTZ partition values and stats are wall micros taken as UTC
      assert(FileStats.probeKey(t, TimestampNTZType) === DeltaFormat.key(TimestampNTZType, wall))
      assert(FileStats.probeKey(t, TimestampNTZType) ===
        DeltaFormat.key(TimestampNTZType, DeltaFormat.serializePartitionValue(t)))
      // a zoned column keys the instant; its zoneless partition string is JVM-default time
      assert(FileStats.probeKey(t, TimestampType) ===
        DeltaFormat.key(TimestampType, DeltaFormat.serializePartitionValue(t)))
      // deleteWhere's proof: the 07:00 partition, never the 05:00 one
      val eq = FileStats.KeyPred(LakePredicate.EqualTo("p", t), TimestampNTZType)
      assert(eq.allMatch(FileStats.ColRange.point(DeltaFormat.key(TimestampNTZType, wall))))
      assert(!eq.mayMatch(FileStats.ColRange.point(
        DeltaFormat.key(TimestampNTZType, "2024-01-01 05:00:00"))))
    } finally java.util.TimeZone.setDefault(saved)
  }

  test("seeded differential: pruned native, Delta and Iceberg reads equal a plain filter") {
    val rnd = new scala.util.Random(20240101L)
    val strs = Seq("a", "z", "é", Replacement, Grin)
    def day(n: Int) = Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(n.toLong))
    def orNull[A](a: A): A = if (rnd.nextInt(10) == 0) null.asInstanceOf[A] else a
    val schema = new StructType().add("i", IntegerType).add("d", DateType).add("s", StringType)
    val data = (0 until 30).map(_ => Row(orNull(Integer.valueOf(rnd.nextInt(4))),
      orNull(day(rnd.nextInt(4))), orNull(strs(rnd.nextInt(strs.size)))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(data, 4), schema)

    // a DATE column is also probed with midnight timestamps, which
    // Spark compares by widening the column: a probe of another kind
    def value(c: String, asTimestamp: Boolean): Any = c match {
      case "i" => Integer.valueOf(rnd.nextInt(6) - 1)
      case "d" if asTimestamp => new Timestamp(day(rnd.nextInt(6) - 1).getTime)
      case "d" => day(rnd.nextInt(6) - 1)
      case _   => (strs :+ "m")(rnd.nextInt(strs.size + 1))
    }
    def probe(): LakePredicate = {
      val c = Seq("i", "d", "s")(rnd.nextInt(3))
      val ts = rnd.nextInt(4) == 0
      rnd.nextInt(4) match {
        case 0 => LakePredicate.EqualTo(c, value(c, ts))
        case 1 => LakePredicate.In(c, Seq.fill(1 + rnd.nextInt(3))(value(c, ts)))
        case 2 => LakePredicate.GtEq(c, value(c, ts))
        case _ => LakePredicate.LtEq(c, value(c, ts))
      }
    }
    val probeSets = Seq.fill(16)(Seq.fill(1 + rnd.nextInt(2))(probe()))

    val native = new LakeCatalog(spark, freshLoc()).table("ns.diff")
    native.write(df, WriteMode.Overwrite, statsBy = Seq("i", "d", "s"))
    val deltaLoc = freshLoc()
    new DeltaExport(spark, deltaLoc).append(df, partitionBy = Seq("d"))
    val delta = new DeltaTableReader(spark, deltaLoc)
    val iceberg = icebergIdentityTable(df, Seq("i", "d", "s"))

    // the reference filter runs over a local copy of the unpruned rows
    val all = spark.createDataFrame(
      java.util.Arrays.asList(native.read().select("i", "d", "s").collect(): _*), schema)
    val conds = probeSets.map(_.map(predColumn).reduce(_ && _))
    val expected = conds.map(c => rows(all.where(c)))
    // one job per format: every probe set's pruned read, tagged
    def perProbeSet(read: Int => DataFrame): Seq[Seq[String]] = {
      val got = probeSets.indices.map(k => read(k).select(lit(k).as("k"), $"i", $"d", $"s"))
        .reduce(_ unionByName _).collect().groupBy(_.getInt(0))
      probeSets.indices.map(k => got.getOrElse(k, Array.empty[Row]).toSeq
        .map(r => Row(r.get(1), r.get(2), r.get(3)).toString).sorted)
    }
    val reads = Seq(
      "native" -> perProbeSet(k => native.scan(probeSets(k))),
      "delta" -> perProbeSet(k => delta.read(filters = probeSets(k)).where(conds(k))),
      "iceberg" -> perProbeSet(k => iceberg.read(filters = probeSets(k))))
    for ((format, got) <- reads; k <- probeSets.indices)
      assert(got(k) === expected(k), s"$format pruned read for ${probeSets(k)}")
    // the probes do exercise skipping, not only the keep-everything path
    val files = native.read().inputFiles.length
    assert(probeSets.exists(ps => native.scan(ps).inputFiles.length < files))
  }
}
