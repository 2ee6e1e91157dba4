package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One closed-loop operation as the client saw it. */
final case class Op(cls: String, wallNs: Long, rows: Long, ok: Boolean)

/** Shared run context: the session, the tracer, the seed, and the
  * bookkeeping every workload reports through.
  */
final class Ctx(val spark: SparkSession, val trace: Trace, val seed: Long) {
  private var landedBytes0 = 0L
  private var failures0 = 0
  val failureNotes = mutable.ArrayBuffer.empty[String]

  /** Bytes written as generated input ("landing") so far. */
  def landedBytes: Long = landedBytes0
  def failures: Int = failures0

  /** The directory the current set-up builds in: the tree the
    * outside-write scans cover.
    */
  var root: Path = _
  private val nio = new NioWrites

  /** Count the engine's java.nio writes made since the last call
    * (see [[NioWrites]]). Call before any step that deletes manifests.
    */
  def noteOutsideWrites(): Unit = nio.scan(root)

  /** Filesystem counts so far: CountingFs plus the java.nio writes the
    * scans found.
    */
  def fsSnapshot(): Map[String, Long] = {
    val n = nio.snapshot()
    CountingFs.snapshot().map { case (k, v) => k -> (v + n.getOrElse(k, 0L)) }
  }

  private var unmeasuredFs0 = Map.empty[String, Long]
  /** Filesystem counts made by the benchmark itself (landing input,
    * output checks), to be left out of the engine's counts.
    */
  def unmeasuredFs: Map[String, Long] = unmeasuredFs0

  /** Run benchmark-side work (generating input, checking output): its
    * filesystem calls are left out of the engine's counts, and its
    * Spark jobs run outside any span, so the trace leaves them out too.
    */
  def unmeasured[T](body: => T): T = {
    val f0 = CountingFs.snapshot()
    try body
    finally {
      val d = CountingFs.delta(f0, CountingFs.snapshot())
      unmeasuredFs0 = d.map { case (k, v) => k -> (v + unmeasuredFs0.getOrElse(k, 0L)) }
    }
  }

  /** Run `write` as the arrival of generated input: its filesystem
    * bytes count as source bytes, not as lake writes.
    */
  def land(write: => Unit): Unit = {
    val b0 = CountingFs.snapshot()("bytes_written")
    unmeasured(write)
    landedBytes0 += CountingFs.snapshot()("bytes_written") - b0
  }

  /** Record an output check; false marks the op failed. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) { failures0 += 1; if (failureNotes.size < 20) failureNotes += what }
    ok
  }

  def span[T](name: String)(body: => T): T = trace.span(name)(body)

  /** Time one op's body (the part after its input has landed). */
  def timed(body: => Unit): Long = {
    val t0 = System.nanoTime()
    body
    System.nanoTime() - t0
  }
}

trait Workload {
  /** Build the starting state under `dir`. Called several times, each
    * in a fresh directory; the workload keeps the last one.
    */
  def setup(dir: Path): Unit
  /** Untimed preparation of the output checks after the last set-up. */
  def prepareChecks(): Unit = ()
  /** One operation of the timed loop. */
  def op(i: Int): Op
  /** Fixed weight of each op class in the reported mean latency, so a
    * run's class mix does not move it.
    */
  def classWeights: Map[String, Double]
  /** One full cycle of the op mix. A traced run executes exactly this
    * fixed sequence, so its counters can repeat between runs of a seed;
    * every run measures `write_amp` and `space_amp` over it, so they do
    * not depend on how many ops a run fits.
    */
  def cycleOps: Int
  /** Checks over the final state; each failed one counts as a failed op. */
  def finalChecks(): Seq[Boolean]
  /** Whose filesystem writes `write_amp` measures: the first op cycle,
    * or (for a read-only loop) the last set-up.
    */
  def writeAmpOverSetup: Boolean = false
  /** The directory the lake lives in (for `space_amp`). */
  def lakeDir: Path
  /** Workload-specific figures for the detail line. */
  def detail(ops: Seq[Op]): Map[String, Double] = Map.empty
  /** Per-workload lake counters for the traced run. */
  def lakeCounters(ops: Seq[Op]): Map[String, Double] = Map.empty
}

object Main {
  val SetupReps = 3

  val Spans: Seq[String] = Seq(
    "pipeline.extract", "pipeline.silver", "pipeline.gold",
    "lake.upsert", "lake.view_refresh", "lake.compact", "lake.expire",
    "lake.plan", "lake.exec", "lake.runtime_filter",
    "ops.ingest_dedup", "ops.ann_topk", "functions.text_kernels")
  val SpanCounters: Seq[String] = Seq("wall_s", "gap_s", "jobs", "task_cpu_s", "plan_s", "fs_driver_ops")
  val KernelNames: Seq[String] = Seq("cosine_sim", "minhash_sig", "shingle_hashes", "token_count",
    "simhash64", "centroid_argmax")

  /** Every per-layer metric name with its unit, in report order. */
  val PerLayer: Seq[(String, String)] =
    Spans.flatMap(s => SpanCounters.map(c => s"$s.$c" -> (if (c.endsWith("_s")) "s" else "count"))) ++
    Seq("exec.tasks" -> "count", "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
      "exec.input_bytes" -> "bytes", "exec.spill_bytes" -> "bytes", "exec.gc_s" -> "s") ++
    (CountingFs.Names.map(n => s"fs.$n" -> "count") ++ Seq("fs.bytes_read" -> "bytes", "fs.bytes_written" -> "bytes")) ++
    Seq("lake.commits" -> "count", "lake.files_live" -> "count", "lake.files_opened_per_query" -> "count",
      "lake.skip_ratio" -> "ratio", "lake.view_incremental_ratio" -> "ratio") ++
    KernelNames.map(k => s"functions.$k.ns_per_row" -> "ns") ++
    Seq("trace.coverage" -> "ratio", "trace.op_wall_s" -> "s")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_s.mean" -> "s", "heap_live_mb" -> "MB",
    "write_amp" -> "ratio", "space_amp" -> "ratio")

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def session(work: Path): SparkSession = {
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // Spark's status store keeps finished jobs in the heap; a short
      // history keeps the live-heap metric about the engine
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // the counting filesystem must be the one every `file` path gets
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"), s.sessionState.newHadoopConf())
    require(fs.isInstanceOf[CountingFs], s"file scheme is served by ${fs.getClass.getName}, not CountingFs")
    s
  }

  /** Live heap in MB: used heap after a full collection, a pause for
    * Spark's cleaner to drop unreferenced broadcasts and shuffles, and
    * a second collection.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Percentile, or NaN when fewer than 10 samples lie beyond it. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val beyond = math.floor(xs.size * (1 - p)).toLong
    if (beyond < 10) Double.NaN
    else { val s = xs.sorted; s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1)) }
  }

  def duBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  private def jsonMetrics(ms: Seq[(String, String, Double)]): String =
    ms.map { case (n, u, v) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work is required"))).toAbsolutePath
    Files.createDirectories(work)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work)
    val trace = new Trace(spark, traced)
    val ctx = new Ctx(spark, trace, seed)
    // filesystem counts since (fs0, u0), less the benchmark's own
    def engineFs(fs0: Map[String, Long], u0: Map[String, Long]): Map[String, Long] = {
      val u = CountingFs.delta(u0, ctx.unmeasuredFs)
      ctx.noteOutsideWrites()
      CountingFs.delta(fs0, ctx.fsSnapshot()).map { case (k, v) => k -> (v - u.getOrElse(k, 0L)) }
    }
    val phase = mutable.LinkedHashMap("phase.start_s" -> (System.currentTimeMillis() - jvmStartMs) / 1e3)
    def lap(name: String): Unit =
      phase(name) = (System.currentTimeMillis() - jvmStartMs) / 1e3 - phase.values.sum
    val w: Workload = workload match {
      case "cdc_medallion" => new CdcMedallion(ctx)
      case "lake_scan"     => new LakeScan(ctx)
      case "llm_curation"  => new LlmCuration(ctx)
      case other           => sys.error(s"unknown workload '$other'")
    }

    // set-up: several fresh builds of the starting state, median wall;
    // the last one stays for the timed loop
    val setupS = mutable.ArrayBuffer.empty[Double]
    var setupFs = Map.empty[String, Long]
    var setupLanded = 0L
    var setupFailed = 0
    for (r <- 0 until SetupReps) {
      val f0 = ctx.failures
      val dir = work.resolve(s"setup$r")
      ctx.root = dir
      val fs0 = ctx.fsSnapshot(); val u0 = ctx.unmeasuredFs; val l0 = ctx.landedBytes
      val t0 = System.nanoTime()
      w.setup(dir)
      setupS += (System.nanoTime() - t0) / 1e9
      if (ctx.failures != f0) setupFailed += 1
      setupFs = engineFs(fs0, u0); setupLanded = ctx.landedBytes - l0
      if (r > 0) org.apache.commons.io.FileUtils.deleteDirectory(work.resolve(s"setup${r - 1}").toFile)
    }

    lap("phase.setups_s")
    w.prepareChecks()
    lap("phase.prepare_s")
    val heapAfterSetup = liveHeapMb()
    ctx.noteOutsideWrites()
    val fs0 = ctx.fsSnapshot(); val u0 = ctx.unmeasuredFs; val landed0 = ctx.landedBytes
    trace.start()
    val ops = mutable.ArrayBuffer.empty[Op]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val classes = w.classWeights.keySet
    // closed loop, one client. Untraced: keep going until the time is
    // used and every op class has a sample; once an op has failed, stop
    // waiting for missing classes (a failing op may never reach its
    // class). Traced: the fixed sequence.
    def more: Boolean =
      if (traced) ops.size < w.cycleOps
      else System.nanoTime() < deadline || ops.size < w.cycleOps ||
        (!classes.subsetOf(ops.map(_.cls).toSet) && ops.forall(_.ok))
    var cycleFs = Map.empty[String, Long]
    var cycleLanded = 0L
    var cycleLakeBytes = 0L
    var cycleLandedTotal = 0L
    while (more) {
      val i = ops.size
      ops += (try w.op(i) catch {
        case scala.util.control.NonFatal(e) =>
          ctx.check(ok = false, s"op $i threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          Op("error", 0L, 0L, ok = false)
      })
      ctx.noteOutsideWrites()
      if (ops.size == w.cycleOps) {
        cycleFs = engineFs(fs0, u0); cycleLanded = ctx.landedBytes - landed0
        // the lake holds the kept set-up's input and the cycle's, not
        // that of the set-ups built before it
        cycleLakeBytes = duBytes(w.lakeDir); cycleLandedTotal = setupLanded + cycleLanded
      }
    }
    trace.stop()
    lap("phase.loop_s")
    val opFs = engineFs(fs0, u0)
    val heapMb = math.max(heapAfterSetup, liveHeapMb())

    val finals = try w.finalChecks() catch {
      case scala.util.control.NonFatal(e) =>
        ctx.check(ok = false, s"final checks threw ${e.getMessage}"); Seq(false)
    }
    lap("phase.final_s")
    // every set-up, op and final check is one attempt
    val attempted = SetupReps + ops.size + finals.size
    val failed = setupFailed + ops.count(!_.ok) + finals.count(!_)

    val good = ops.filter(o => o.ok && o.cls != "error")
    val byClass = good.toSeq.groupBy(_.cls).map { case (c, os) => c -> os.map(_.wallNs / 1e9) }
    val opMean = w.classWeights.map { case (c, wt) =>
      wt * byClass.get(c).map(xs => xs.sum / xs.size).getOrElse(Double.NaN) }.sum / w.classWeights.values.sum
    val (wFs, wLanded) = if (w.writeAmpOverSetup) (setupFs, setupLanded) else (cycleFs, cycleLanded)
    val writeAmp = wFs.getOrElse("bytes_written", 0L).toDouble / math.max(1L, wLanded)
    val spaceAmp = cycleLakeBytes.toDouble / math.max(1L, cycleLandedTotal)

    val e2e = Map("setup_s" -> median(setupS.toSeq), "op_s.mean" -> opMean, "heap_live_mb" -> heapMb,
      "write_amp" -> writeAmp, "space_amp" -> spaceAmp)

    val detail = mutable.LinkedHashMap.empty[String, Double]
    detail("ops") = ops.size
    detail("setup_s.runs") = SetupReps
    detail("setup_s.first") = setupS.head
    detail("space.lake_bytes") = cycleLakeBytes
    detail("space.source_bytes") = cycleLandedTotal
    byClass.toSeq.sortBy(_._1).foreach { case (c, xs) =>
      detail(s"$c.n") = xs.size
      detail(s"${c}_s.mean") = xs.sum / xs.size
      val p50 = pct(xs, 0.5); if (!p50.isNaN) detail(s"${c}_s.p50") = p50
      val p90 = pct(xs, 0.9); if (!p90.isNaN) detail(s"${c}_s.p90") = p90
    }
    detail ++= w.detail(good.toSeq)
    detail ++= phase
    System.err.println(s"[perfbench] $workload seed=$seed detail " +
      detail.map { case (k, v) => s"$k=${num(v)}" }.mkString(" "))
    if (ctx.failureNotes.nonEmpty)
      System.err.println(s"[perfbench] check failures: ${ctx.failureNotes.mkString(" | ")}")

    val metrics: Seq[(String, String, Double)] =
      if (!traced) EndToEnd.map { case (n, u) => (n, u, e2e(n)) }
      else {
        val opWall = good.map(_.wallNs).sum / 1e9
        val layer = mutable.Map.empty[String, Double]
        layer ++= trace.report(Spans)
        opFs.foreach { case (k, v) => if (k != "driver_ops") layer(s"fs.$k") = v.toDouble }
        layer ++= w.lakeCounters(good.toSeq)
        layer ++= perfbench.Kernels.run(spark, seed)
        layer("trace.coverage") = trace.spanWallS / math.max(1e-9, opWall)
        layer("trace.op_wall_s") = opWall
        // end-to-end figures of the traced run, for the overhead report
        System.err.println("[perfbench] traced end-to-end " +
          EndToEnd.map { case (n, _) => s"$n=${num(e2e(n))}" }.mkString(" "))
        PerLayer.map { case (n, u) => (n, u, layer.getOrElse(n, 0.0)) }
      }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": ${jsonMetrics(metrics)}}""")
    spark.stop()
  }
}
