package graft.lake

import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.fs.RawLocalFileSystem
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Local disk exposed under a NON-`file` scheme (`graftfs://`), so the
  * whole lake layer runs exactly as it would against an `hdfs://` or
  * `s3a://` warehouse — the reference's actual deployment target
  * (`s3a://mybucket`, /root/reference/dags/utils/constants/constant.py:49-54):
  * every path Spark and the metadata plane touch resolves through
  * `FileSystem.get(scheme)`, and the commit arbiter auto-selects the
  * HDFS-shaped implementation because the scheme is not `file`.
  * RawLocal has no client-side checksums, so the directory contents
  * match what LakeIo/FileStats expect byte-for-byte.
  */
class GraftTestFileSystem extends org.apache.hadoop.fs.FileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable

  /** The scheme this wrapper answers to; subclasses pick their own. */
  protected def scheme: String = "graftfs"
  private val inner = new RawLocalFileSystem
  private def toLocal(p: Path) = new Path("file", null, p.toUri.getPath)
  private def fromLocal(p: Path) = new Path(scheme, null, p.toUri.getPath)
  // plain FileStatus copy: RawLocal's lazy permission loader calls
  // `new java.io.File(status.path.toUri)`, which rejects any non-file
  // scheme — materializing here keeps the wrapper scheme opaque
  private def remap(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime, FsPermission.getDefault, null, null,
      fromLocal(s.getPath))

  override def initialize(uri: URI, conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(uri, conf)
    setConf(conf)
    inner.initialize(URI.create("file:///"), conf)
  }
  override def getScheme: String = scheme
  override def getUri: URI = URI.create(s"$scheme:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    inner.open(toLocal(f), bufferSize)
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    inner.create(toLocal(f), permission, overwrite, bufferSize, replication,
      blockSize, progress)
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    inner.append(toLocal(f), bufferSize, progress)
  override def rename(src: Path, dst: Path): Boolean =
    inner.rename(toLocal(src), toLocal(dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    inner.delete(toLocal(f), recursive)
  override def listStatus(f: Path): Array[FileStatus] =
    inner.listStatus(toLocal(f)).map(remap)
  override def setWorkingDirectory(dir: Path): Unit =
    inner.setWorkingDirectory(toLocal(dir))
  override def getWorkingDirectory: Path = fromLocal(inner.getWorkingDirectory)
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    inner.mkdirs(toLocal(f), permission)
  override def getFileStatus(f: Path): FileStatus =
    remap(inner.getFileStatus(toLocal(f)))
}

class NonLocalSchemeSpec extends AnyFunSuite {
  lazy val spark = {
    val s = TestSpark.spark
    s.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
    s
  }
  import spark.implicits._

  private def freshCat(): LakeCatalog = {
    val dir = Files.createTempDirectory("graftfs-wh-")
    new LakeCatalog(spark, s"graftfs:$dir")
  }

  private def sample() = Seq(
    (1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("id", "s", "v")

  test("append / DML / compact / time travel / maintenance run end-to-end over graftfs://") {
    val cat = freshCat()
    val v1 = cat.write(sample(), "ns.t", WriteMode.Overwrite)
    cat.write(sample().withColumn("id", $"id" + 10), "ns.t", WriteMode.Append)
    val t = cat.table("ns.t")
    // every path is scheme-qualified; the non-file scheme picked the
    // generic Hadoop arbiter, not the POSIX one
    assert(t.rootLocation.startsWith("graftfs:/"), t.rootLocation)
    assert(t.arbiter.getClass.getSimpleName === "FsCommitArbiter")
    val full = t.read(None)
    assert(full.count() === 6)
    assert(full.inputFiles.nonEmpty && full.inputFiles.forall(_.startsWith("graftfs:/")),
      full.inputFiles.take(3).mkString(","))
    // MOR delete: delete-file staging, manifest carry, anti-join read
    LakeDml.delete(t, $"id" === 2L, strategy = DmlStrategy.MergeOnRead)
    assert(t.read(None).select($"id").as[Long].collect().sorted === Array(1L, 3L, 11L, 12L, 13L))
    // copy-on-write update through the same scheme
    LakeDml.update(t, $"id" === 3L, Map("v" -> lit(0.0)), strategy = DmlStrategy.CopyOnWrite)
    assert(t.read(None).where($"v" === 0.0).select($"id").as[Long].collect() === Array(3L))
    // compaction rewrites through graftfs and drops the delete files
    t.compact(targetPartitions = 1)
    assert(t.read(None).count() === 5)
    // time travel to v1 still resolves through the scheme
    assert(t.read(Some(v1.version)).select($"id").as[Long].collect().sorted === Array(1L, 2L, 3L))
    // snapshot expiry + orphan sweep walk the same FileSystem facade
    val io = t.io
    val orphan = new org.apache.hadoop.fs.Path(t.rootLocation, "data/dead-orphan")
    io.mkdirs(orphan)
    val out = io.fs.create(new org.apache.hadoop.fs.Path(orphan, "junk.parquet"), true)
    out.write(Array[Byte](1, 2, 3)); out.close()
    t.expireSnapshotsOlderThan(t.latest.get.timestampMs)
    assert(t.removeOrphanFiles(graceMs = 0) >= 1)
    assert(!io.exists(orphan))
    assert(t.read(None).count() === 5) // live data untouched by the sweep
  }

  test("the manifest-driven streaming source drains a graftfs:// table") {
    val cat = freshCat()
    val ev = Seq((1L, "click"), (2L, "view"), (3L, "click"))
      .toDF("event_id", "event_type")
    cat.write(ev.filter($"event_id" <= 2), "bronze.ev", WriteMode.Overwrite)
    cat.write(ev.filter($"event_id" > 2), "bronze.ev", WriteMode.Append)
    val out = Files.createTempDirectory("graftfs-stream-out-")
    val q = graft.streaming.StreamingLakeSource.committedStream(cat.table("bronze.ev"))
      .writeStream.format("parquet")
      .option("path", out.resolve("data").toString)
      .option("checkpointLocation", out.resolve("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.read.parquet(out.resolve("data").toString)
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq === Seq(("click", 2L), ("view", 1L)))
  }
}
