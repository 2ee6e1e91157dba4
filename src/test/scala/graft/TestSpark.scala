package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (guide: one per suite, but
  * a single JVM-wide session is faster and Spark sessions are
  * process-global anyway).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // INT64-micros timestamps: parquet footers then carry real
      // min/max stats (INT96 gets none), powering write-time stats
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse-").toString)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The call sites of the Spark jobs `body` starts, in start order
    * (`"collect at Foo.scala:12"`; AQE's stage jobs name their async
    * submitter). Job counts are deterministic for a fixed plan, so a
    * count pins which actions a code path runs.
    */
  def jobs(body: => Unit): Seq[String] =
    jobStarts(body).map(_.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?"))

  /** The start events of the Spark jobs `body` starts: their stages and
    * the local properties (job group, description) they ran under.
    */
  def jobStarts(body: => Unit): Seq[org.apache.spark.scheduler.SparkListenerJobStart] = {
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.scheduler.SparkListenerJobStart]()
    listening(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        starts.add(j)
    })(body)
    import scala.jdk.CollectionConverters._
    starts.asScala.toSeq
  }

  /** The number of Spark tasks `body` starts. */
  def tasks(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    listening(new org.apache.spark.scheduler.SparkListener {
      override def onTaskStart(t: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
        n.incrementAndGet()
    })(body)
    n.get
  }

  private def listening(l: org.apache.spark.scheduler.SparkListener)(body: => Unit): Unit = {
    org.apache.spark.sql.GraftColumnBridge.waitListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.sql.GraftColumnBridge.waitListenerBus(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
  }
}
