package graft.lake

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The format-interop contract: tables written by [[IcebergExport]]
  * follow the public Iceberg v2 spec closely enough that
  * [[IcebergTableReader]] — a from-scratch generic-Avro reader —
  * resolves snapshots, sequence numbers, deletes, and schema exactly.
  * Fixtures beyond the exporter's surface (null-sequence inheritance,
  * add-column evolution, path-form drift) are crafted by hand against
  * the spec's field names.
  */
class IcebergInteropSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshLoc(): String =
    Files.createTempDirectory("iceberg-interop-").toString

  test("roundtrip: two appends and an equality delete read back exactly") {
    val loc = freshLoc()
    val exp = new IcebergExport(spark, loc)
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "name", "v")
    val s1 = exp.append(base)
    val s2 = exp.append(Seq((4L, "d", 40.0), (5L, "e", 50.0)).toDF("id", "name", "v"))
    assert(s1 < s2)
    val rdr = new IcebergTableReader(spark, loc)
    assert(rdr.formatVersion === 2)
    assert(rdr.snapshots.map(_.id) === Seq(s1, s2))
    val full = rdr.read().orderBy($"id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(full.toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    // equality delete: ids 2 and 4 vanish from BOTH prior snapshots'
    // files (delete seq > both data seqs)
    exp.equalityDelete(Seq(Tuple1(2L), Tuple1(4L)).toDF("id"), Seq("id"))
    val afterDel = new IcebergTableReader(spark, loc).read()
      .orderBy($"id").select($"id").as[Long].collect()
    assert(afterDel.toSeq === Seq(1L, 3L, 5L))
  }

  test("time travel: snapshot-id and as-of-timestamp reads see historical content") {
    val loc = freshLoc()
    val exp = new IcebergExport(spark, loc)
    val s1 = exp.append(Seq((1L, "x")).toDF("id", "s"))
    val rdr1 = new IcebergTableReader(spark, loc)
    val t1 = rdr1.snapshots.find(_.id == s1).get.timestampMs
    Thread.sleep(5)
    exp.append(Seq((2L, "y")).toDF("id", "s"))
    val rdr = new IcebergTableReader(spark, loc)
    assert(rdr.read(snapshotId = Some(s1)).count() === 1)
    assert(rdr.read().count() === 2)
    assert(rdr.read(asOfTimestampMs = Some(t1)).select($"id").as[Long].collect() === Array(1L))
  }

  test("position deletes: (file_path, pos) rows drop exactly, across path renderings") {
    val loc = freshLoc()
    val exp = new IcebergExport(spark, loc)
    exp.append(spark.range(0, 100).select($"id", ($"id" % 3).as("m")))
    // name rows 7 and 42 by their physical coordinates, using the
    // file:/// rendering to exercise canonicalization on the join
    val rdr0 = new IcebergTableReader(spark, loc)
    val coords = rdr0.read() // re-scan WITH metadata to find coordinates
    val targets = new IcebergTableReader(spark, loc).read()
    // build coordinates from a raw scan of the same data files
    val dataGlob = s"$loc/data/*"
    val withPos = spark.read.parquet(spark.read.parquet(dataGlob + "/*.parquet")
        .inputFiles: _*)
      .select(col("_metadata.file_path").as("fp"), col("_metadata.row_index").as("pos"), col("id"))
    val del = withPos.where($"id".isin(7L, 42L))
      .select(regexp_replace($"fp", "^file:/", "file:///").as("file_path"), $"pos")
    assert(del.count() === 2)
    exp.positionDelete(del)
    val got = new IcebergTableReader(spark, loc).read().select($"id").as[Long].collect().sorted
    assert(got.length === 98)
    assert(!got.contains(7L) && !got.contains(42L))
    assert(coords.count() === 100) // pre-delete reader unaffected (lazy check ordering)
    assert(targets.count() === 100)
  }

  test("position deletes from _metadata.file_path apply under a root holding a space") {
    val loc = Files.createDirectories(
      Files.createTempDirectory("iceberg-interop-").resolve("with space")).toString
    val exp = new IcebergExport(spark, loc)
    val s1 = exp.append(spark.range(0, 20).select($"id", ($"id" % 3).as("m")).repartition(2))
    // a raw scan names rows in URI form (`with%20space`); the manifest
    // holds the path form
    exp.positionDelete(spark.read.option("recursiveFileLookup", "true").parquet(s"$loc/data")
      .where($"id" === 7L)
      .select(col("_metadata.file_path").as("file_path"), col("_metadata.row_index").as("pos")))
    val rdr = new IcebergTableReader(spark, loc)
    assert(rdr.read().select($"id").as[Long].collect().sorted.toSeq === (0L until 20L).filter(_ != 7L))
    val ch = rdr.readChangesSince(s1)
    assert(ch.where($"_change_type" === "delete").select($"id").as[Long].collect().toSeq === Seq(7L))
    assert(ch.count() === 1L)
  }

  test("position-delete files holding URI-form paths still apply under a spaced root") {
    val loc = Files.createDirectories(
      Files.createTempDirectory("iceberg-interop-").resolve("with space")).toString
    val exp = new IcebergExport(spark, loc)
    val s1 = exp.append(spark.range(0, 20).select($"id", ($"id" % 3).as("m")).repartition(2))
    // an older writer stored `_metadata.file_path` as given (`with%20space`)
    exp.commit(spark.read.option("recursiveFileLookup", "true").parquet(s"$loc/data")
      .where($"id" === 7L)
      .select(col("_metadata.file_path").as("file_path"), col("_metadata.row_index").as("pos")),
      IcebergFormat.PositionDeletes, Nil, "delete")
    val rdr = new IcebergTableReader(spark, loc)
    assert(rdr.read().select($"id").as[Long].collect().sorted.toSeq === (0L until 20L).filter(_ != 7L))
    val ch = rdr.readChangesSince(s1)
    assert(ch.where($"_change_type" === "delete").select($"id").as[Long].collect().toSeq === Seq(7L))
    assert(ch.count() === 1L)
  }

  test("v2 sequence inheritance: null entry sequence inherits the manifest list's") {
    import IcebergFormat._
    val loc = freshLoc()
    val exp = new IcebergExport(spark, loc)
    exp.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    // hand-append a second snapshot whose manifest entries carry NULL
    // sequence numbers (writers may rely on inheritance, per spec)
    val root = new HPath(loc)
    val io = new LakeIo(root.getFileSystem(spark.sessionState.newHadoopConf()))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = om.readTree(io.readString(new HPath(root, "metadata/v1.metadata.json")))
    // data file for the new snapshot
    val dir = new HPath(root, "data/manual")
    Seq((3L, "c")).toDF("id", "s").coalesce(1).write.parquet(dir.toString)
    val pf = io.fs.listStatus(dir).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    def write(path: HPath, schema: org.apache.avro.Schema, rs: Seq[GenericRecord]): Long = {
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      val out = io.fs.create(path, true)
      w.create(schema, out); rs.foreach(w.append); w.close()
      io.fs.getFileStatus(path).getLen
    }
    val entry = new GenericData.Record(ManifestEntrySchema)
    entry.put("status", Added)
    entry.put("sequence_number", null) // INHERITED
    val d = new GenericData.Record(ManifestEntrySchema.getField("data_file").schema())
    d.put("content", DataContent)
    d.put("file_path", io.qualify(pf).toString)
    d.put("file_format", "PARQUET")
    d.put("partition", new GenericData.Record(d.getSchema.getField("partition").schema()))
    d.put("record_count", 1L)
    d.put("file_size_in_bytes", io.fs.getFileStatus(pf).getLen)
    entry.put("data_file", d)
    val mPath = new HPath(root, "metadata/manifest-manual.avro")
    val mLen = write(mPath, ManifestEntrySchema, Seq(entry))
    // manifest list: prior snapshot's manifests + the new one at seq 2
    val prior = meta.get("snapshots").get(0)
    val priorList = prior.get("manifest-list").asText
    val in = new org.apache.avro.mapred.FsInput(new HPath(priorList), io.fs.getConf)
    val rdr = org.apache.avro.file.DataFileReader.openReader(in,
      new org.apache.avro.generic.GenericDatumReader[GenericRecord]())
    val carried = try {
      val b = Seq.newBuilder[GenericRecord]
      while (rdr.hasNext) b += rdr.next().asInstanceOf[GenericRecord]
      b.result()
    } finally rdr.close()
    val mlRec = new GenericData.Record(ManifestListSchema)
    mlRec.put("manifest_path", io.qualify(mPath).toString)
    mlRec.put("manifest_length", mLen)
    mlRec.put("partition_spec_id", 0)
    mlRec.put("content", 0)
    mlRec.put("sequence_number", 2L)
    mlRec.put("min_sequence_number", 2L)
    mlRec.put("added_snapshot_id", 2L)
    mlRec.put("added_files_count", 1); mlRec.put("existing_files_count", 0)
    mlRec.put("deleted_files_count", 0)
    mlRec.put("added_rows_count", 1L); mlRec.put("existing_rows_count", 0L)
    mlRec.put("deleted_rows_count", 0L)
    val listPath = new HPath(root, "metadata/snap-manual.avro")
    write(listPath, ManifestListSchema, carried :+ mlRec)
    val metaStr = io.readString(new HPath(root, "metadata/v1.metadata.json"))
    val snapJson = s"""{"snapshot-id":2,"sequence-number":2,"timestamp-ms":${System.currentTimeMillis()},"summary":{"operation":"append"},"manifest-list":"${io.qualify(listPath)}","schema-id":0}"""
    val v2meta = metaStr
      .replace(""""last-sequence-number":1""", """"last-sequence-number":2""")
      .replace(""""current-snapshot-id":1""", """"current-snapshot-id":2""")
      .replaceFirst("""\"snapshots\":\[""",
        java.util.regex.Matcher.quoteReplacement(s""""snapshots":[$snapJson,"""))
    val out = io.fs.create(new HPath(root, "metadata/v2.metadata.json"), true)
    out.write(v2meta.getBytes("UTF-8")); out.close()
    val hint = io.fs.create(new HPath(root, "metadata/version-hint.text"), true)
    hint.write("2".getBytes("UTF-8")); hint.close()

    val got = new IcebergTableReader(spark, loc).read()
      .select($"id").as[Long].collect().sorted
    assert(got.toSeq === Seq(1L, 2L, 3L))
    // an equality delete at seq 3 must hit the inherited-seq file too
    // (inheritance gave it sequence 2 < 3)
    new IcebergExport(spark, loc).equalityDelete(Seq(Tuple1(3L)).toDF("id"), Seq("id"))
    val afterDel = new IcebergTableReader(spark, loc).read()
      .select($"id").as[Long].collect().sorted
    assert(afterDel.toSeq === Seq(1L, 2L))
  }

  test("gzip-compressed metadata.json reads transparently (codec sniffed by magic, not name)") {
    val loc = freshLoc()
    val exp = new IcebergExport(spark, loc)
    exp.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val root = new HPath(loc)
    val io = new LakeIo(root.getFileSystem(spark.sessionState.newHadoopConf()))
    // recompress the current metadata under the gzip naming convention
    val raw = io.readString(new HPath(root, "metadata/v1.metadata.json"))
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(raw.getBytes("UTF-8")); gz.close()
    io.fs.delete(new HPath(root, "metadata/v1.metadata.json"), false)
    val out = io.fs.create(new HPath(root, "metadata/v1.gz.metadata.json"), true)
    out.write(bos.toByteArray); out.close()
    val got = new IcebergTableReader(spark, loc).read()
      .select($"id").as[Long].collect().sorted
    assert(got.toSeq === Seq(1L, 2L))
  }

  test("schema evolution by name: an added column null-fills with its declared type") {
    val loc = freshLoc()
    val exp = new IcebergExport(spark, loc)
    exp.append(Seq((1L, "a")).toDF("id", "s"))
    val root = new HPath(loc)
    val io = new LakeIo(root.getFileSystem(spark.sessionState.newHadoopConf()))
    // hand-evolve the schema: add a double column the parquet lacks
    val meta = io.readString(new HPath(root, "metadata/v1.metadata.json"))
    val evolved = meta.replace(
      """"type":"string"}]}""",
      """"type":"string"},{"id":3,"name":"score","required":false,"type":"double"}]}""")
    assert(evolved != meta, "schema splice failed — fixture drifted")
    val out = io.fs.create(new HPath(root, "metadata/v2.metadata.json"), true)
    out.write(evolved.getBytes("UTF-8")); out.close()
    val hint = io.fs.create(new HPath(root, "metadata/version-hint.text"), true)
    hint.write("2".getBytes("UTF-8")); hint.close()
    val df = new IcebergTableReader(spark, loc).read()
    assert(df.columns.toSeq === Seq("id", "s", "score"))
    assert(df.schema("score").dataType === org.apache.spark.sql.types.DoubleType)
    val r = df.collect().head
    assert(r.getLong(0) === 1L && r.isNullAt(2))
  }

  test("day-transform partition pruning: a timestamp range skips other days' files from manifests alone") {
    import IcebergFormat._
    val loc = freshLoc()
    val root = new HPath(loc)
    val io = new LakeIo(root.getFileSystem(spark.sessionState.newHadoopConf()))
    // two data files in distinct days
    def dayFile(name: String, day: String, ids: Seq[Long]): (String, Int) = {
      val dir = new HPath(root, s"data/$name")
      ids.map(i => (s"$day 10:0$i:00", i)).toDF("s", "id")
        .select(to_timestamp($"s").as("ts"), $"id")
        .coalesce(1).write.parquet(dir.toString)
      val pf = io.fs.listStatus(dir).map(_.getPath).find(_.getName.endsWith(".parquet")).get
      (io.qualify(pf).toString,
        java.time.LocalDate.parse(day).toEpochDay.toInt)
    }
    val (f1, d1) = dayFile("a", "2024-01-05", Seq(1L, 2L))
    val (f2, d2) = dayFile("b", "2024-03-20", Seq(3L, 4L))
    // manifest entry schema WITH a day-partition field (the exporter's
    // is unpartitioned, so craft the spec-shaped one by hand)
    val entrySchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"sequence_number","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |  {"name":"content","type":"int"},
        |  {"name":"file_path","type":"string"},
        |  {"name":"file_format","type":"string"},
        |  {"name":"partition","type":{"type":"record","name":"r102","fields":[
        |    {"name":"ts_day","type":["null","int"],"default":null}]}},
        |  {"name":"record_count","type":"long"},
        |  {"name":"file_size_in_bytes","type":"long"}
        |]}}]}""".stripMargin)
    def entry(path: String, day: Int): GenericRecord = {
      val e = new GenericData.Record(entrySchema)
      e.put("status", Added); e.put("sequence_number", 1L)
      val d = new GenericData.Record(entrySchema.getField("data_file").schema())
      d.put("content", DataContent); d.put("file_path", path)
      d.put("file_format", "PARQUET")
      val p = new GenericData.Record(d.getSchema.getField("partition").schema())
      p.put("ts_day", day)
      d.put("partition", p); d.put("record_count", 2L); d.put("file_size_in_bytes", 1L)
      e.put("data_file", d)
      e
    }
    def write(path: HPath, schema: org.apache.avro.Schema, rs: Seq[GenericRecord]): Long = {
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      val out = io.fs.create(path, true)
      w.create(schema, out); rs.foreach(w.append); w.close()
      io.fs.getFileStatus(path).getLen
    }
    io.mkdirs(new HPath(root, "metadata"))
    val mPath = new HPath(root, "metadata/manifest-1.avro")
    val mLen = write(mPath, entrySchema, Seq(entry(f1, d1), entry(f2, d2)))
    val ml = new GenericData.Record(ManifestListSchema)
    ml.put("manifest_path", io.qualify(mPath).toString); ml.put("manifest_length", mLen)
    ml.put("partition_spec_id", 0); ml.put("content", 0)
    ml.put("sequence_number", 1L); ml.put("min_sequence_number", 1L)
    ml.put("added_snapshot_id", 1L)
    ml.put("added_files_count", 2); ml.put("existing_files_count", 0)
    ml.put("deleted_files_count", 0)
    ml.put("added_rows_count", 4L); ml.put("existing_rows_count", 0L)
    ml.put("deleted_rows_count", 0L)
    val listPath = new HPath(root, "metadata/snap-1.avro")
    write(listPath, ManifestListSchema, Seq(ml))
    val metaJson =
      s"""{"format-version":2,"table-uuid":"t","location":"${io.qualify(root)}",
         |"last-sequence-number":1,"last-updated-ms":1,"last-column-id":2,
         |"current-schema-id":0,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[
         |  {"id":1,"name":"ts","required":false,"type":"timestamptz"},
         |  {"id":2,"name":"id","required":false,"type":"long"}]}],
         |"default-spec-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[
         |  {"name":"ts_day","transform":"day","source-id":1,"field-id":1000}]}],
         |"last-partition-id":1000,"default-sort-order-id":0,
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

    val rdr = new IcebergTableReader(spark, loc)
    assert(rdr.read().count() === 4) // unfiltered: both files
    val cut = graft.SqlCompat.utcTimestamp("2024-02-01 00:00:00")
    val pruned = rdr.read(filters = Seq(LakePredicate.GtEq("ts", cut)))
    assert(pruned.select($"id").as[Long].collect().sorted === Array(3L, 4L))
    // manifest-level pruning: the January file was never opened
    assert(pruned.inputFiles.length === 1, pruned.inputFiles.mkString(","))
    // equality within one day prunes to that day's file
    val jan = graft.SqlCompat.utcTimestamp("2024-01-05 10:01:00")
    val eq = rdr.read(filters = Seq(LakePredicate.EqualTo("ts", jan)))
    assert(eq.inputFiles.length === 1)
    assert(eq.select($"id").as[Long].collect() === Array(1L))
  }

  test("bucket transform hash matches the Iceberg spec's published test vectors") {
    import IcebergFormat._
    // spec Appendix B: identical published vectors for int/long 34
    assert(bucketHash(34).contains(2017239379))
    assert(bucketHash(34L).contains(2017239379))
    assert(bucketHash("iceberg").contains(1210000089))
    assert(bucketHash(new java.math.BigDecimal("14.20")).contains(-500754589))
    assert(bucketHash(java.sql.Date.valueOf("2017-11-16")).contains(-653330422))
    assert(bucketHash(java.time.LocalDate.of(2017, 11, 16)).contains(-653330422))
    val ts = graft.SqlCompat.utcTimestamp("2017-11-16 22:31:08")
    assert(bucketHash(ts).contains(-2047944441))
    assert(bucketHash(Array[Byte](0, 1, 2, 3)).contains(-188683207))
    // float/double are not bucketable per spec → no hash → keep
    assert(bucketHash(1.5d).isEmpty && bucketHash(1.5f).isEmpty)
    // typed coercion: a probe literal rescales to the COLUMN's decimal
    // scale before hashing (14.2 probed against decimal(9,2) must land
    // in 14.20's bucket), and a too-precise literal keeps the file
    assert(bucketIndexTyped(8, new java.math.BigDecimal("14.2"), Some("decimal(9, 2)"))
      === bucketIndex(8, new java.math.BigDecimal("14.20")))
    assert(bucketIndexTyped(8, new java.math.BigDecimal("14.205"), Some("decimal(9, 2)")).isEmpty)
    // a timestamp probe against a date-bucketed column hashes epoch days
    assert(bucketIndexTyped(8, ts, Some("date"))
      === bucketIndex(8, java.time.LocalDate.of(2017, 11, 16)))
  }

  test("bucket[N] partition pruning: an equality probe reads 1/N files from manifests alone") {
    import IcebergFormat._
    val loc = freshLoc()
    val root = new HPath(loc)
    val io = new LakeIo(root.getFileSystem(spark.sessionState.newHadoopConf()))
    val N = 4
    val byBucket = (0L until 40L).groupBy(id => bucketIndex(N, id).get)
    assert(byBucket.size === N, "fixture must populate every bucket")
    // one data file per bucket, exactly as a bucket-partitioned writer lays out
    def bucketFile(b: Int, ids: Seq[Long]): String = {
      val dir = new HPath(root, s"data/b$b")
      ids.map(i => (i, s"r$i")).toDF("id", "s").coalesce(1).write.parquet(dir.toString)
      val pf = io.fs.listStatus(dir).map(_.getPath).find(_.getName.endsWith(".parquet")).get
      io.qualify(pf).toString
    }
    val entrySchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"sequence_number","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |  {"name":"content","type":"int"},
        |  {"name":"file_path","type":"string"},
        |  {"name":"file_format","type":"string"},
        |  {"name":"partition","type":{"type":"record","name":"r102","fields":[
        |    {"name":"id_bucket","type":["null","int"],"default":null}]}},
        |  {"name":"record_count","type":"long"},
        |  {"name":"file_size_in_bytes","type":"long"}
        |]}}]}""".stripMargin)
    def entry(path: String, bucket: Int, rows: Long): GenericRecord = {
      val e = new GenericData.Record(entrySchema)
      e.put("status", Added); e.put("sequence_number", 1L)
      val d = new GenericData.Record(entrySchema.getField("data_file").schema())
      d.put("content", DataContent); d.put("file_path", path)
      d.put("file_format", "PARQUET")
      val p = new GenericData.Record(d.getSchema.getField("partition").schema())
      p.put("id_bucket", bucket)
      d.put("partition", p); d.put("record_count", rows); d.put("file_size_in_bytes", 1L)
      e.put("data_file", d)
      e
    }
    def write(path: HPath, schema: org.apache.avro.Schema, rs: Seq[GenericRecord]): Long = {
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      val out = io.fs.create(path, true)
      w.create(schema, out); rs.foreach(w.append); w.close()
      io.fs.getFileStatus(path).getLen
    }
    io.mkdirs(new HPath(root, "metadata"))
    val entries = byBucket.toSeq.sortBy(_._1).map { case (b, ids) =>
      entry(bucketFile(b, ids), b, ids.size.toLong)
    }
    val mPath = new HPath(root, "metadata/manifest-1.avro")
    val mLen = write(mPath, entrySchema, entries)
    val ml = new GenericData.Record(ManifestListSchema)
    ml.put("manifest_path", io.qualify(mPath).toString); ml.put("manifest_length", mLen)
    ml.put("partition_spec_id", 0); ml.put("content", 0)
    ml.put("sequence_number", 1L); ml.put("min_sequence_number", 1L)
    ml.put("added_snapshot_id", 1L)
    ml.put("added_files_count", N); ml.put("existing_files_count", 0)
    ml.put("deleted_files_count", 0)
    ml.put("added_rows_count", 40L); ml.put("existing_rows_count", 0L)
    ml.put("deleted_rows_count", 0L)
    val listPath = new HPath(root, "metadata/snap-1.avro")
    write(listPath, ManifestListSchema, Seq(ml))
    val metaJson =
      s"""{"format-version":2,"table-uuid":"t","location":"${io.qualify(root)}",
         |"last-sequence-number":1,"last-updated-ms":1,"last-column-id":2,
         |"current-schema-id":0,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[
         |  {"id":1,"name":"id","required":false,"type":"long"},
         |  {"id":2,"name":"s","required":false,"type":"string"}]}],
         |"default-spec-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[
         |  {"name":"id_bucket","transform":"bucket[$N]","source-id":1,"field-id":1000}]}],
         |"last-partition-id":1000,"default-sort-order-id":0,
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

    val rdr = new IcebergTableReader(spark, loc)
    assert(rdr.read().count() === 40) // unfiltered: all buckets
    // equality probe: exactly the probe's bucket file is opened
    val eq = rdr.read(filters = Seq(LakePredicate.EqualTo("id", 7L)))
    assert(eq.inputFiles.length === 1, eq.inputFiles.mkString(","))
    assert(eq.select($"id").as[Long].collect() === Array(7L))
    // IN over two values lands in at most two bucket files
    val vals = Seq(7L, 8L)
    val distinctBuckets = vals.map(v => bucketIndex(N, v).get).distinct.length
    val in = rdr.read(filters = Seq(LakePredicate.In("id", vals)))
    assert(in.inputFiles.length === distinctBuckets, in.inputFiles.mkString(","))
    assert(in.select($"id").as[Long].collect().sorted === vals.toArray)
    // a range predicate has no sound bucket projection: keep every file
    val rng = rdr.read(filters = Seq(LakePredicate.GtEq("id", 35L)))
    assert(rng.inputFiles.length === N)
    assert(rng.select($"id").as[Long].collect().sorted === (35L to 39L).toArray)
  }

  test("partitioned export: days+identity spec round-trips with manifest pruning and deletes") {
    val loc = freshLoc()
    val exp = new IcebergExport(spark, loc)
    val df = Seq(
      ("2024-01-05 10:00:00", 1L, "a", 3),
      ("2024-01-05 11:00:00", 2L, "b", 3),
      ("2024-03-20 09:00:00", 3L, "c", 7),
      ("2024-03-20 10:00:00", 4L, "d", 7))
      .toDF("s", "id", "name", "region")
      .select(to_timestamp($"s").as("ts"), $"id", $"name", $"region")
    exp.append(df, partitionBy = Seq("days(ts)", "region"))
    // spec persists: a second append without restating it follows it
    exp.append(Seq(("2024-03-20 12:00:00", 5L, "e", 7)).toDF("s", "id", "name", "region")
      .select(to_timestamp($"s").as("ts"), $"id", $"name", $"region"))
    val rdr = new IcebergTableReader(spark, loc)
    val all = rdr.read()
    assert(all.count() === 5)
    // identity source column survives in the data files (not null-filled)
    assert(all.where($"region" === 7).count() === 3)
    // manifest pruning: a timestamp range opens only March files
    val cut = graft.SqlCompat.utcTimestamp("2024-02-01 00:00:00")
    val march = rdr.read(filters = Seq(LakePredicate.GtEq("ts", cut)))
    assert(march.select($"id").as[Long].collect().sorted === Array(3L, 4L, 5L))
    assert(march.inputFiles.forall(_.contains("_ice_ts_day=")), march.inputFiles.mkString(","))
    assert(march.inputFiles.length < all.inputFiles.length)
    // identity equality prunes to that region's files
    val r3 = rdr.read(filters = Seq(LakePredicate.EqualTo("region", 3)))
    assert(r3.select($"id").as[Long].collect().sorted === Array(1L, 2L))
    assert(r3.inputFiles.length < all.inputFiles.length)
    // an (unpartitioned, spec-1) equality delete still applies across
    // the partitioned data files
    exp.equalityDelete(Seq(Tuple1(2L), Tuple1(4L)).toDF("id"), Seq("id"))
    val after = new IcebergTableReader(spark, loc).read()
    assert(after.select($"id").as[Long].collect().sorted === Array(1L, 3L, 5L))
    // restating a DIFFERENT spec on append fails loud
    val e = intercept[IllegalArgumentException](
      exp.append(df, partitionBy = Seq("region")))
    assert(e.getMessage.contains("partition spec"))
  }

  test("bucket-partitioned export: write-side hashes agree with the reader's pruning") {
    val loc = freshLoc()
    val exp = new IcebergExport(spark, loc)
    val df = (1 to 64).map(i => (i.toLong, s"name$i")).toDF("id", "name")
    exp.append(df, partitionBy = Seq("bucket(4, id)"))
    val rdr = new IcebergTableReader(spark, loc)
    val all = rdr.read()
    assert(all.count() === 64)
    // every row present, bucket dirs materialized
    assert(all.inputFiles.forall(_.contains("_ice_id_bucket=")))
    val nBuckets = all.inputFiles.map(f =>
      f.split("_ice_id_bucket=")(1).split('/')(0)).distinct.length
    assert(nBuckets === 4, s"64 sequential longs must land in all 4 buckets")
    // equality probe prunes to exactly ONE bucket's files via the
    // write-side hash — and finds its row (write/read hash agreement)
    for (probe <- Seq(1L, 17L, 42L)) {
      val hit = rdr.read(filters = Seq(LakePredicate.EqualTo("id", probe)))
      val probeBuckets = hit.inputFiles.map(f =>
        f.split("_ice_id_bucket=")(1).split('/')(0)).distinct
      assert(probeBuckets.length === 1, s"probe $probe read ${probeBuckets.length} buckets")
      assert(hit.where($"id" === probe).count() === 1L)
    }
    // string bucket: spec hash vector — bucket[16] of "iceberg" hashes
    // to index 9 (murmur3 1210000089 from the published test vectors)
    val loc2 = freshLoc()
    val exp2 = new IcebergExport(spark, loc2)
    exp2.append(Seq(("iceberg", 1L), ("other", 2L)).toDF("word", "id"),
      partitionBy = Seq("bucket(16, word)"))
    val rdr2 = new IcebergTableReader(spark, loc2)
    val f = rdr2.read(filters = Seq(LakePredicate.EqualTo("word", "iceberg"))).inputFiles
    assert(f.length === 1 && f.head.contains("_ice_word_bucket=9"), f.mkString(","))
    // graft lake table with a bucket spec publishes bucket-partitioned
    val wh = java.nio.file.Files.createTempDirectory("ice-bucket-wh-").toString
    val cat = new LakeCatalog(spark, wh)
    cat.write(df, "ns.b", WriteMode.Overwrite, partitionBy = Seq("bucket(4, id)"))
    val loc3 = freshLoc()
    IcebergExport.fromLakeTable(cat.table("ns.b"), loc3)
    val pub = new IcebergTableReader(spark, loc3)
    val probed = pub.read(filters = Seq(LakePredicate.EqualTo("id", 17L)))
    assert(probed.inputFiles.length < pub.read().inputFiles.length)
    assert(probed.where($"id" === 17L).count() === 1L)
  }

  test("truncate-partitioned export: string code-point and integer floor truncation round-trip") {
    val loc = freshLoc()
    val exp = new IcebergExport(spark, loc)
    val df = Seq(
      (1L, "alpha", -7L), (2L, "albatross", -3L), (3L, "beta", 5L),
      (4L, "bounty", 17L), (5L, "al", 23L))
      .toDF("id", "word", "n")
    exp.append(df, partitionBy = Seq("truncate(2, word)", "truncate(10, n)"))
    val rdr = new IcebergTableReader(spark, loc)
    val all = rdr.read()
    assert(all.count() === 5)
    assert(all.inputFiles.forall(f =>
      f.contains("_ice_word_trunc=") && f.contains("_ice_n_trunc=")))
    // string equality probe prunes to the 'al' prefix files only
    val al = rdr.read(filters = Seq(LakePredicate.EqualTo("word", "albatross")))
    assert(al.inputFiles.length < all.inputFiles.length)
    assert(al.where($"word" === "albatross").count() === 1L)
    // negative int floor: -7 truncates to -10, not 0 (sign-correct mod)
    assert(all.inputFiles.exists(_.contains("_ice_n_trunc=-10")),
      all.inputFiles.mkString(","))
    // range probe on the int dimension prunes low files
    val hi = rdr.read(filters = Seq(LakePredicate.GtEq("n", 15L)))
    assert(hi.inputFiles.length < all.inputFiles.length)
    assert(hi.select($"id").as[Long].collect().sorted === Array(4L, 5L))
  }

  test("changelog scan: appends insert, position and equality deletes materialize rows") {
    val loc = freshLoc()
    val exp = new IcebergExport(spark, loc)
    exp.append((1L to 10L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1)) // s1
    exp.append((11L to 20L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1)) // s2
    exp.equalityDelete(Seq(Tuple1(3L), Tuple1(15L)).toDF("id"), Seq("id")) // s3
    // position delete: coordinates of id 7 (find them via metadata)
    val coords = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$loc/data")
      .withColumn("file_path", col("_metadata.file_path"))
      .withColumn("pos", col("_metadata.row_index"))
      .where($"id" === 7L).select($"file_path", $"pos")
    exp.positionDelete(coords) // s4
    val rdr = new IcebergTableReader(spark, loc)
    val ids = rdr.snapshots.sortBy(_.sequence).map(_.id)
    val ch = rdr.readChangesSince(ids.head) // after s1
    assert(ch.where($"_change_type" === "insert")
      .select($"id").as[Long].collect().sorted.toSeq === (11L to 20L))
    assert(ch.where($"_change_type" === "delete" && $"_commit_version" === 3L)
      .select($"id").as[Long].collect().sorted.toSeq === Seq(3L, 15L))
    assert(ch.where($"_change_type" === "delete" && $"_commit_version" === 4L)
      .select($"id").as[Long].collect().toSeq === Seq(7L))
    // subrange stops at the requested snapshot
    val sub = rdr.readChangesSince(ids.head, toSnapshotId = Some(ids(1)))
    assert(sub.where($"_change_type" === "delete").count() === 0L)
    assert(sub.count() === 10L)
    // a data-file-removing snapshot fails the changelog loud: overwrite
    // the table via a fresh exporter-level append is additive, so craft
    // the failure from the graft publish path instead
    val wh = java.nio.file.Files.createTempDirectory("ice-cdc-wh-").toString
    val cat = new LakeCatalog(spark, wh)
    cat.write((1L to 5L).map(i => (i, s"x$i")).toDF("id", "name"), "ns.c", WriteMode.Overwrite)
    val loc2 = freshLoc()
    IcebergExport.fromLakeTable(cat.table("ns.c"), loc2)
    val rdr2 = new IcebergTableReader(spark, loc2)
    assert(rdr2.readChangesSince(rdr2.snapshots.head.id).count() === 0L)
  }

  test("month-partitioned export prunes from manifests; snapshot-log records history") {
    val loc = freshLoc()
    val exp = new IcebergExport(spark, loc)
    val df = Seq(("2024-01-05 10:00:00", 1L), ("2024-06-20 09:00:00", 2L))
      .toDF("s", "id").select(to_timestamp($"s").as("ts"), $"id")
    val s1 = exp.append(df, partitionBy = Seq("months(ts)"))
    exp.append(Seq(("2024-06-21 09:00:00", 3L)).toDF("s", "id")
      .select(to_timestamp($"s").as("ts"), $"id"))
    val rdr = new IcebergTableReader(spark, loc)
    val cut = graft.SqlCompat.utcTimestamp("2024-05-01 00:00:00")
    val summer = rdr.read(filters = Seq(LakePredicate.GtEq("ts", cut)))
    assert(summer.select($"id").as[Long].collect().sorted === Array(2L, 3L))
    assert(summer.inputFiles.length < rdr.read().inputFiles.length)
    // spec-required snapshot history is populated
    val root = new HPath(loc)
    val io = new LakeIo(root.getFileSystem(spark.sessionState.newHadoopConf()))
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(io.readString(new HPath(root, "metadata/v2.metadata.json")))
    val log = meta.get("snapshot-log")
    assert(log.size() === 2)
    assert(log.get(0).get("snapshot-id").asLong === s1)
  }

  test("incremental append scan delivers only post-snapshot files; non-append history fails loud") {
    val loc = freshLoc()
    val exp = new IcebergExport(spark, loc)
    val s1 = exp.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    exp.append(Seq((3L, "c")).toDF("id", "s"))
    exp.append(Seq((4L, "d")).toDF("id", "s"))
    val rdr = new IcebergTableReader(spark, loc)
    val delta = rdr.readAppendsSince(s1).select($"id").as[Long].collect().sorted
    assert(delta.toSeq === Seq(3L, 4L))
    // a delete commit in range poisons the append-only precondition
    exp.equalityDelete(Seq(Tuple1(1L)).toDF("id"), Seq("id"))
    val e = intercept[IllegalArgumentException](
      new IcebergTableReader(spark, loc).readAppendsSince(s1))
    assert(e.getMessage.contains("non-append"))
  }

  test("graft lake table publishes as an Iceberg table: MOR deletes applied, hidden partitions stripped") {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("g2i-src-").toString)
    val df = Seq(("2024-01-01 10:00:00", 1L, "a"), ("2024-01-02 10:00:00", 2L, "b"),
        ("2024-01-03 10:00:00", 3L, "c"))
      .toDF("s", "id", "name").select(to_timestamp($"s").as("ts"), $"id", $"name")
    cat.write(df, "ns.t", WriteMode.Overwrite, partitionBy = Seq("days(ts)"))
    val t = cat.table("ns.t")
    LakeDml.delete(t, $"id" === 2L, strategy = DmlStrategy.MergeOnRead)
    val loc = freshLoc()
    IcebergExport.fromLakeTable(t, loc)
    val rdr = new IcebergTableReader(spark, loc)
    val got = rdr.read()
    assert(got.columns.toSeq === Seq("ts", "id", "name")) // no _p_ leak
    assert(got.select($"id").as[Long].collect().sorted === Array(1L, 3L))
    // the graft table's days(ts) spec carried into the Iceberg export:
    // a day probe prunes at the manifest level
    val day3 = graft.SqlCompat.utcTimestamp("2024-01-03 00:00:00")
    val pruned = rdr.read(filters = Seq(LakePredicate.GtEq("ts", day3)))
    assert(pruned.select($"id").as[Long].collect() === Array(3L))
    assert(pruned.inputFiles.length < got.inputFiles.length,
      s"${pruned.inputFiles.length} vs ${got.inputFiles.length}")
  }

  test("exported manifests and manifest lists carry the spec's required Avro file metadata") {
    val loc = freshLoc()
    val exp = new IcebergExport(spark, loc)
    exp.append(Seq((1L, "a")).toDF("id", "s"))
    exp.equalityDelete(Seq(Tuple1(1L)).toDF("id"), Seq("id"))
    val root = new HPath(loc)
    val io = new LakeIo(root.getFileSystem(spark.sessionState.newHadoopConf()))
    def metaOf(p: HPath): Map[String, String] = {
      val in = new org.apache.avro.mapred.FsInput(p, io.fs.getConf)
      val rdr = new org.apache.avro.file.DataFileReader(in,
        new org.apache.avro.generic.GenericDatumReader[GenericRecord]())
      try {
        import scala.jdk.CollectionConverters._
        rdr.getMetaKeys.asScala.filterNot(_.startsWith("avro."))
          .map(k => k -> rdr.getMetaString(k)).toMap
      } finally rdr.close()
    }
    val files = io.fs.listStatus(new HPath(root, "metadata")).map(_.getPath)
    val manifests = files.filter(_.getName.startsWith("manifest-"))
    val lists = files.filter(_.getName.startsWith("snap-"))
    assert(manifests.length === 2 && lists.length === 2)
    manifests.foreach { m =>
      val md = metaOf(m)
      // ManifestReader refuses files missing these before reading a record
      Seq("schema", "partition-spec", "partition-spec-id", "format-version", "content")
        .foreach(k => assert(md.contains(k), s"${m.getName} missing '$k'"))
      assert(md("format-version") === "2")
      assert(md("partition-spec") === "[]")
      // the schema value must itself be valid JSON of a struct
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(md("schema"))
      assert(node.get("type").asText === "struct")
    }
    val contents = manifests.map(m => metaOf(m)("content")).sorted
    assert(contents.toSeq === Seq("data", "deletes"))
    lists.foreach { l =>
      val md = metaOf(l)
      Seq("format-version", "snapshot-id", "sequence-number", "parent-snapshot-id")
        .foreach(k => assert(md.contains(k), s"${l.getName} missing '$k'"))
    }
  }

  test("a backslash in a column name survives metadata JSON (escaped, not reinterpreted)") {
    val loc = freshLoc()
    val exp = new IcebergExport(spark, loc)
    // `\b` raw-interpolated into JSON would parse as a backspace escape
    // and silently rename the column
    exp.append(Seq((1L, "x")).toDF("id", "a\\b"))
    val rdr = new IcebergTableReader(spark, loc)
    assert(rdr.schemaFields.map(_._2) === Seq("id", "a\\b"))
    val got = rdr.read().orderBy($"id").collect().head
    assert(got.getLong(0) === 1L && got.getString(1) === "x")
  }

  test("add-column evolution across appends: both files' values survive one group read") {
    val loc = freshLoc()
    val exp = new IcebergExport(spark, loc)
    exp.append(Seq((1L, "a")).toDF("id", "s"))                 // no `score`
    exp.append(Seq((2L, "b", 9.5)).toDF("id", "s", "score"))   // with `score`
    // one delete-free group scans BOTH files: without mergeSchema Spark
    // samples one footer and may silently null the on-disk score
    val got = new IcebergTableReader(spark, loc).read().orderBy($"id").collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(got(0).isNullAt(2))
    assert(got(1).getDouble(2) === 9.5)
  }

  test("reader groups data files by applicable delete set — eq deletes skip same-sequence files") {
    val loc = freshLoc()
    val exp = new IcebergExport(spark, loc)
    exp.append(Seq((1L, "old")).toDF("id", "s"))       // seq 1
    exp.equalityDelete(Seq(Tuple1(1L)).toDF("id"), Seq("id")) // seq 2: deletes seq<2
    exp.append(Seq((1L, "new")).toDF("id", "s"))       // seq 3: re-insert SAME key
    val got = new IcebergTableReader(spark, loc).read()
      .orderBy($"id").collect().map(r => (r.getLong(0), r.getString(1)))
    // the re-inserted row survives: its data sequence (3) is NOT < 2
    assert(got.toSeq === Seq((1L, "new")))
  }
}
