package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lake.{IncrementalView, LakeCatalog, LakeTable}
import graft.pipeline.Medallion
import graft.state.WatermarkStore

/** `events`-shaped CDC batches: rising `ts`, ~10% exact duplicate
  * rows, ~1% updates of earlier `event_id`s (a new row version with a
  * later `ts`), Zipf-skewed `user_id`. Same seed, same batches.
  */
final class EventGen(seed: Long, users: Int = 5000, zipfS: Double = 1.1) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val cdf: Array[Double] = {
    val w = (1 to users).map(k => 1.0 / math.pow(k, zipfS))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  private val types = Array("view", "click", "purchase", "signup", "error")
  private var nextId = 0L
  private var tsUs = 1704067200000000L // 2024-01-01T00:00:00Z
  private val emitted = mutable.ArrayBuffer.empty[Long]

  private def user(): Long = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    (if (i >= 0) i else -i - 1).toLong.min(users - 1L)
  }
  private def ts(): Timestamp = {
    tsUs += 1 + rnd.nextInt(2000000)
    val t = new Timestamp(Math.floorDiv(tsUs, 1000L))
    t.setNanos((Math.floorMod(tsUs, 1000000L) * 1000L).toInt)
    t
  }
  private def row(id: Long): Row =
    Row(id, ts(), user(), types(rnd.nextInt(types.length)), rnd.nextInt(100000) / 100.0,
      s"""{"k": ${rnd.nextInt(100)}}""")

  /** One batch of `n` rows, in arrival (shuffled) order. */
  def batch(n: Int): Seq[Row] = {
    val nDup = n / 10
    val nUpd = math.min(n / 100, emitted.size)
    val upd = mutable.LinkedHashSet.empty[Long]
    while (upd.size < nUpd) upd += emitted(rnd.nextInt(emitted.size))
    val fresh = (0 until n - nDup - nUpd).map { _ => val id = nextId; nextId += 1; id }
    val rows = mutable.ArrayBuffer.empty[Row]
    // interleave new rows and updates so ts stays unique and rising
    val ids = scala.util.Random.javaRandomToRandom(new java.util.Random(rnd.nextLong()))
      .shuffle(fresh ++ upd.toSeq)
    ids.foreach(id => rows += row(id))
    (0 until nDup).foreach(_ => rows += rows(rnd.nextInt(rows.size)))
    emitted ++= fresh
    scala.util.Random.javaRandomToRandom(new java.util.Random(rnd.nextLong())).shuffle(rows.toSeq)
  }
}

object EventGen {
  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = false)))
}

/** The paper's Bronze → Silver → Gold pipeline re-run incrementally,
  * one CDC batch per op, plus a keyed silver table kept by upsert and
  * an incrementally maintained gold rollup read after every batch.
  * Every `MaintainEvery`-th batch also compacts, expires snapshots and
  * removes orphan files.
  */
final class CdcMedallion(ctx: Ctx) extends Workload {
  import CdcMedallion._
  private val spark = ctx.spark

  private var dir: Path = _
  private var gen: EventGen = _
  private var cat: LakeCatalog = _
  private var med: Medallion = _
  private var batches = 0
  private var refreshes = 0
  private var incremental = 0
  private var versions0 = Map.empty[String, Long]

  def lakeDir: Path = dir.resolve("lake")
  private def landing: String = dir.resolve("landing").toString
  private val Tables = Seq("bronze.medallion", "silver.medallion", "gold.medallion", Keyed, View)

  private val cents = round(col("value") * 100).cast("long")
  private val viewAggs = Seq(IncrementalView.GroupCount("n"), IncrementalView.Sum(cents, "value_cents"))

  def cycleOps: Int = MaintainEvery
  def classWeights: Map[String, Double] =
    Map("batch" -> (MaintainEvery - 1).toDouble, "batch_maint" -> 1.0)

  def setup(d: Path): Unit = {
    dir = d
    Files.createDirectories(d)
    gen = new EventGen(ctx.seed)
    cat = new LakeCatalog(spark, lakeDir.toString)
    med = new Medallion(spark, cat, new WatermarkStore(d.resolve("state")))
    batches = 0; refreshes = 0; incremental = 0
    // history the incremental runs start from: a few batches through
    // the full pipeline once
    runBatch(gen.batch(BatchRows * HistoryBatches), maintain = false)
    batches = 0; refreshes = 0; incremental = 0
    versions0 = Tables.map(t => t -> cat.table(t).latest.map(_.version).getOrElse(0L)).toMap
  }

  private def runBatch(rows: Seq[Row], maintain: Boolean): Long = {
    ctx.land(spark.createDataFrame(rows.asJava, EventGen.Schema).coalesce(1)
      .write.mode("append").parquet(landing))
    val batchDf = spark.createDataFrame(rows.asJava, EventGen.Schema)
    var silverRows = 0L
    var view: Array[Row] = null
    var wall = ctx.timed {
      ctx.span("pipeline.extract")(med.extractBronze(spark.read.parquet(landing), "ts"))
      silverRows = ctx.span("pipeline.silver")(med.transformSilver())
      ctx.span("pipeline.gold")(med.loadGold(Seq("event_type")))
      ctx.span("lake.upsert")(cat.table(Keyed).upsert(batchDf.dropDuplicates(), Seq("event_id")))
      ctx.span("lake.view_refresh")(IncrementalView.refresh(cat, Keyed, View, Seq("event_type"), viewAggs))
      val vdf = ctx.span("lake.plan")(IncrementalView.read(cat, View))
      view = ctx.span("lake.exec")(vdf.collect())
    }
    if (maintain) {
      wall += ctx.timed {
        ctx.span("lake.compact") {
          Seq("bronze.medallion", Keyed).foreach(t => cat.table(t).compactBinPack(CompactDirBytes))
        }
      }
      // expiring deletes manifests: count their java.nio writes first
      ctx.noteOutsideWrites()
      wall += ctx.timed {
        ctx.span("lake.expire") {
          Tables.foreach { t =>
            val tbl = cat.table(t)
            tbl.expireSnapshots(RetainLast)
            tbl.removeOrphanFiles(graceMs = 0L)
          }
        }
      }
    }
    batches += 1
    refreshes += 1
    ctx.unmeasured {
      if (cat.table(View).latest.flatMap(_.meta.get(IncrementalView.RefreshModeKey)).contains("incremental"))
        incremental += 1
      checkBatch(silverRows, view)
    }
    wall
  }

  /** Per-batch checks: gold counts every silver row, and the view
    * equals a from-scratch aggregate of the keyed table.
    */
  private def checkBatch(silverRows: Long, view: Array[Row]): Unit = {
    val goldSum = cat.read("gold.medallion").agg(sum("total_count")).head.getLong(0)
    ctx.check(goldSum == silverRows, s"sum(gold.total_count)=$goldSum != count(silver)=$silverRows")
    val want = cat.read(Keyed).groupBy("event_type").agg(count(lit(1)), sum(cents)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = view.map(r => r.getAs[String]("event_type") -> (r.getAs[Long]("n"), r.getAs[Long]("value_cents"))).toMap
    ctx.check(got == want, s"view != groupBy(keyed): $got vs $want")
  }

  def op(i: Int): Op = {
    val f0 = ctx.failures
    val maintain = (batches + 1) % MaintainEvery == 0
    val wall = runBatch(gen.batch(BatchRows), maintain)
    Op(if (maintain) "batch_maint" else "batch", wall, BatchRows, ctx.failures == f0)
  }

  /** Order-free fingerprint of a multiset of rows: (rows, sum of row
    * hashes mod a prime), one aggregation job.
    */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(pmod(xxhash64(df.columns.map(col): _*), lit(1000000007L)))).head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def finalChecks(): Seq[Boolean] = {
    val landed = spark.read.parquet(landing).distinct()
    val bronze = fingerprint(cat.read("bronze.medallion").distinct())
    // keyed table = latest version of every event_id
    val latest = landed
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_id").orderBy(col("ts").desc)))
      .where(col("_rk") === 1).drop("_rk")
    Seq(
      ctx.check(fingerprint(cat.read("silver.medallion")) == bronze, "silver != distinct(bronze)"),
      ctx.check(fingerprint(landed) == bronze, "bronze != distinct landed rows"),
      ctx.check(fingerprint(cat.read(Keyed)) == fingerprint(latest), "keyed silver != latest row per event_id"))
  }

  override def detail(ops: Seq[Op]): Map[String, Double] = {
    val s = ops.map(_.wallNs).sum / 1e9
    Map("all_batches_s.mean" -> s / math.max(1, ops.size), "ingest_rows_per_s" -> ops.map(_.rows).sum / s)
  }

  override def lakeCounters(ops: Seq[Op]): Map[String, Double] = Map(
    "lake.commits" -> Tables.map(t => cat.table(t).latest.map(_.version).getOrElse(0L) - versions0(t)).sum.toDouble,
    "lake.files_live" -> Tables.map(t => LakeFiles.live(cat.table(t))).sum.toDouble,
    "lake.view_incremental_ratio" -> incremental.toDouble / math.max(1, refreshes))
}

object CdcMedallion {
  val BatchRows = 2500
  val HistoryBatches = 2
  /** The engine's own cadence for periodic maintenance of incrementally
    * fed tables: `compactEvery` defaults to 4 batches in
    * `IncrementalDedup`, `IncrementalSemDedup` and
    * `IncrementalContamination`.
    */
  val MaintainEvery = 4
  val RetainLast = 3
  val CompactDirBytes: Long = 8L << 20
  val Keyed = "silver.events_keyed"
  val View = "gold.events_rollup"
}

object LakeFiles {
  /** Data files referenced by the table's snapshot `version` (latest
    * when None).
    */
  def live(t: LakeTable, version: Option[Long] = None): Long =
    version.fold(t.latest)(v => t.history.find(_.version == v)).map { s =>
    val root = new java.net.URI(t.rootLocation).getPath
    s.dirs.filterNot(_.contains(":/")).map { d =>
      val p = java.nio.file.Paths.get(root, d)
      if (!Files.exists(p)) 0L
      else {
        val st = Files.walk(p)
        try st.iterator().asScala.count(f => f.getFileName.toString.endsWith(".parquet")).toLong
        finally st.close()
      }
    }.sum
  }.getOrElse(0L)
}
