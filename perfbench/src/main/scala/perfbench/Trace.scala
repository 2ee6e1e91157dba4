package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer attribution from outside the engine.
  *
  * A span is one call into a layer's public API on the client thread.
  * Spans are flat: the workloads wrap each engine call in exactly one.
  * Spark work is attributed to spans by time — a job belongs to the
  * span open when it was submitted, a Catalyst phase to the span open
  * when the phase started — so work on engine-internal threads lands
  * in the right span too. Filesystem calls made outside tasks are
  * attributed by the span open while they ran.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  final case class SpanRec(name: String, startMs: Long, endMs: Long, wallNs: Long, fsDriverOps: Long)
  final case class JobRec(id: Int, submitMs: Long, var endMs: Long)
  final class Work {
    var tasks = 0L; var cpuNs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
    var input = 0L; var spill = 0L; var gcMs = 0L
  }

  private val lock = new Object
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobWork = mutable.Map.empty[Int, Work]
  private val phases = mutable.ArrayBuffer.empty[(Long, Long)] // (startMs, durationMs)
  private var active = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      if (active) {
        jobs(e.jobId) = JobRec(e.jobId, e.time, -1L)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        val w = jobWork.getOrElseUpdate(j, new Work)
        w.tasks += 1
        w.cpuNs += m.executorCpuTime
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.input += m.inputMetrics.bytesRead
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.gcMs += m.jvmGCTime
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      if (active) qe.tracker.phases.values.foreach(p => phases += ((p.startTimeMs, p.durationMs)))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }
  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Attribution covers what runs between `start` and `stop`. */
  def start(): Unit = lock.synchronized { active = true }
  def stop(): Unit = {
    org.apache.spark.sql.GraftColumnBridge.waitListenerBus(spark.sparkContext)
    lock.synchronized { active = false }
  }

  /** Time `body` as span `name`. Spans are recorded in every run so
    * that the traced and untraced runs execute the same code.
    */
  def span[T](name: String)(body: => T): T = {
    val fs0 = CountingFs.snapshot()("driver_ops")
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      val wall = System.nanoTime() - n0
      val fs1 = CountingFs.snapshot()("driver_ops")
      if (active) spans += SpanRec(name, t0, System.currentTimeMillis(), wall, fs1 - fs0)
    }
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }

  /** Per-span counters for `names` (zero for a span that never ran)
    * plus the workload's Spark execution totals over its spans.
    */
  def report(names: Seq[String]): Map[String, Double] = lock.synchronized {
    def owner(ms: Long): Option[SpanRec] = spans.find(s => ms >= s.startMs && ms <= s.endMs)
    val jobsBySpan = jobs.values.toSeq.groupBy(j => owner(j.submitMs).map(_.name))
    val phaseBySpan = phases.toSeq.groupBy(p => owner(p._1).map(_.name))
    val out = mutable.LinkedHashMap.empty[String, Double]
    names.foreach { n =>
      val mine = spans.filter(_.name == n)
      val wallS = mine.map(_.wallNs).sum / 1e9
      val js = jobsBySpan.getOrElse(Some(n), Nil)
      // job time inside this span's own intervals: the gap is the
      // span's wall that no job covered (driver planning, metadata IO,
      // scheduling between jobs)
      val clipped = for (s <- mine; j <- js; e = if (j.endMs < 0) s.endMs else j.endMs
                         if j.submitMs <= s.endMs && e >= s.startMs)
        yield (math.max(j.submitMs, s.startMs), math.min(e, s.endMs))
      val jobS = unionMs(clipped.toSeq) / 1e3
      out(s"$n.wall_s") = wallS
      out(s"$n.gap_s") = math.max(0.0, wallS - jobS)
      out(s"$n.jobs") = js.size.toDouble
      out(s"$n.task_cpu_s") = js.flatMap(j => jobWork.get(j.id)).map(_.cpuNs).sum / 1e9
      out(s"$n.plan_s") = phaseBySpan.getOrElse(Some(n), Nil).map(_._2).sum / 1e3
      out(s"$n.fs_driver_ops") = mine.map(_.fsDriverOps).sum.toDouble
    }
    // the engine's work: jobs some span owns (output checks run
    // outside spans)
    val all = jobs.values.filter(j => owner(j.submitMs).nonEmpty).flatMap(j => jobWork.get(j.id))
    out("exec.tasks") = all.map(_.tasks).sum.toDouble
    out("exec.shuffle_read_bytes") = all.map(_.shuffleRead).sum.toDouble
    out("exec.shuffle_write_bytes") = all.map(_.shuffleWrite).sum.toDouble
    out("exec.input_bytes") = all.map(_.input).sum.toDouble
    out("exec.spill_bytes") = all.map(_.spill).sum.toDouble
    out("exec.gc_s") = all.map(_.gcMs).sum / 1e3
    out.toMap
  }

  /** Sum of recorded span walls, in seconds (coverage numerator). */
  def spanWallS: Double = lock.synchronized(spans.map(_.wallNs).sum / 1e9)
}
