package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.lake.{DmlStrategy, LakeCatalog, LakeDml, LakePredicate, LakeTable, RuntimeFilter, WriteMode}

/** Read-heavy mirror of the lake layer: lineitem- and orders-shaped
  * tables with `months(...)` hidden partitioning, stats, sort order
  * and bloom filters on keys, merge-on-read deletes and equality-delete
  * upserts applied before the loop, so every current-version scan
  * applies deletes. The loop commits nothing; it runs a seeded mix of
  * point lookups, month ranges, full aggregates, runtime-filtered
  * joins, time travel and a metadata-answered SQL count(*).
  */
final class LakeScan(ctx: Ctx) extends Workload {
  import LakeScan._
  private val spark = ctx.spark
  private var setups = 0

  private var dir: Path = _
  private var cat: LakeCatalog = _
  private var sqlCatalog: String = _
  private var li: LakeTable = _
  private var ord: LakeTable = _
  private var vLoad = 0L // lineitem as loaded: no deletes, metadata-countable
  private var vMid = 0L  // after the MOR delete, before the upserts
  // plain-Spark reference of each lineitem version and of orders
  private var refNow: DataFrame = _
  private var refMid: DataFrame = _
  private var refOrders: DataFrame = _
  private var rnd: java.util.SplittableRandom = _
  private var deck: List[String] = Nil
  private var opened = 0L
  private var considered = 0L
  private var scans = 0

  def lakeDir: Path = dir.resolve("lake")
  override def writeAmpOverSetup: Boolean = true
  def cycleOps: Int = Deck.size
  def classWeights: Map[String, Double] = Deck.groupBy(identity).map { case (c, xs) => c -> xs.size.toDouble }

  private def lineitemGen(seed: Long): DataFrame = {
    def h(salt: Int, c: Column): Column = pmod(xxhash64(lit(seed), lit(salt), c), lit(Long.MaxValue))
    val okey = (col("id") / LinesPerOrder).cast("long") + 1
    spark.range(0, Lineitems).select(
      okey.as("l_orderkey"),
      (col("id") % LinesPerOrder + 1).cast("int").as("l_linenumber"),
      (h(1, col("id")) % 20000 + 1).as("l_partkey"),
      (h(2, col("id")) % 1000 + 1).as("l_suppkey"),
      (h(3, col("id")) % 50 + 1).cast("decimal(12,2)").as("l_quantity"),
      ((h(4, col("id")) % 9000000 + 90000) / 100).cast("decimal(12,2)").as("l_extendedprice"),
      ((h(5, col("id")) % 11) / 100).cast("decimal(12,2)").as("l_discount"),
      element_at(array(lit("A"), lit("N"), lit("R")), (h(6, col("id")) % 3 + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (h(7, col("id")) % 2 + 1).cast("int")).as("l_linestatus"),
      date_add(orderDate(seed, okey), (h(8, col("id")) % 120 + 1).cast("int")).cast("timestamp").as("l_shipdate"))
  }
  private def orderDate(seed: Long, okey: Column): Column =
    date_add(lit(java.sql.Date.valueOf("1992-01-01")),
      pmod(xxhash64(lit(seed), lit(9), okey), lit(DateSpan.toLong)).cast("int"))
  private def ordersGen(seed: Long): DataFrame = {
    val okey = col("id") + 1
    def h(salt: Int): Column = pmod(xxhash64(lit(seed), lit(salt), okey), lit(Long.MaxValue))
    spark.range(0, Orders).select(
      okey.as("o_orderkey"),
      (h(10) % Customers + 1).as("o_custkey"),
      ((h(11) % 50000000 + 100000) / 100).cast("decimal(12,2)").as("o_totalprice"),
      orderDate(seed, okey).cast("timestamp").as("o_orderdate"),
      element_at(array(Priorities.map(lit): _*), (h(12) % Priorities.size + 1).cast("int")).as("o_orderpriority"))
  }

  /** Rows the fixed MOR delete removes, and the keys the upserts rewrite. */
  private val deleted: Column = pmod(col("l_orderkey") * 31 + col("l_linenumber"), lit(97)) === 0
  private def upsertedLines(base: DataFrame): DataFrame =
    base.where(pmod(col("l_orderkey"), lit(1009)) === 7)
      .withColumn("l_quantity", (col("l_quantity") + 1).cast("decimal(12,2)"))
  private def upsertedOrders(base: DataFrame): DataFrame =
    base.where(pmod(col("o_orderkey"), lit(211)) === 3)
      .withColumn("o_totalprice", (col("o_totalprice") + 1).cast("decimal(12,2)"))

  def setup(d: Path): Unit = {
    dir = d
    Files.createDirectories(d)
    setups += 1
    rnd = new java.util.SplittableRandom(ctx.seed)
    deck = Nil; opened = 0L; considered = 0L; scans = 0
    cat = new LakeCatalog(spark, lakeDir.toString)
    sqlCatalog = s"scan$setups"
    spark.conf.set(s"spark.sql.catalog.$sqlCatalog", classOf[graft.lake.sqlcat.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$sqlCatalog.warehouse", lakeDir.toString)

    val landLi = d.resolve("landing/lineitem").toString
    val landOrd = d.resolve("landing/orders").toString
    ctx.land {
      lineitemGen(TableSeed).write.parquet(landLi)
      ordersGen(TableSeed).write.parquet(landOrd)
    }
    val srcLi = spark.read.parquet(landLi)
    val srcOrd = spark.read.parquet(landOrd)
    // file skipping only where a query can use it: order-key stats,
    // sort and bloom for point lookups and the join's `In` probe;
    // orders is only ever filtered by date (partition pruning)
    vLoad = cat.write(srcLi, "tpch.lineitem", WriteMode.Overwrite,
      partitionBy = Seq("months(l_shipdate)"), statsBy = Seq("l_orderkey"),
      sortedBy = Seq("l_orderkey"), bloomBy = Seq("l_orderkey")).version
    cat.write(srcOrd, "tpch.orders", WriteMode.Overwrite,
      partitionBy = Seq("months(o_orderdate)"), statsBy = Seq("o_orderkey"))
    li = cat.table("tpch.lineitem")
    ord = cat.table("tpch.orders")
    vMid = LakeDml.delete(li, deleted, DmlStrategy.MergeOnRead).version
    li.upsert(upsertedLines(srcLi.where(!deleted)), Seq("l_orderkey", "l_linenumber"))
    ord.upsert(upsertedOrders(srcOrd), Seq("o_orderkey"))
  }

  /** Plain-Spark reference over the generated data with the same
    * deletes and upserts applied; the output checks compare with it.
    */
  override def prepareChecks(): Unit = {
    val srcLi = spark.read.parquet(dir.resolve("landing/lineitem").toString)
    val srcOrd = spark.read.parquet(dir.resolve("landing/orders").toString)
    def replace(base: DataFrame, up: DataFrame, keys: Seq[String]): DataFrame =
      base.join(up.select(keys.map(col): _*), keys, "left_anti").unionByName(up)
    refMid = srcLi.where(!deleted).cache()
    refNow = replace(refMid, upsertedLines(refMid), Seq("l_orderkey", "l_linenumber")).cache()
    refOrders = replace(srcOrd, upsertedOrders(srcOrd), Seq("o_orderkey")).cache()
    Seq(refMid, refNow, refOrders).foreach(_.count())
    // one untimed query of every class: the first run of a query path
    // pays JIT and codegen, and a class with one sample in a run would
    // otherwise report that cold start
    checking = false
    Deck.foreach(query)
    checking = true
    opened = 0L; considered = 0L; scans = 0
  }

  /** Off during the warm-up queries only: every timed query is checked. */
  private var checking = true
  private def verify(ok: => Boolean, what: => String): Unit = if (checking) ctx.check(ok, what)

  private val agg: Seq[Column] = Seq(count(lit(1)).as("n"), sum("l_quantity").as("qty"),
    sum("l_extendedprice").as("price"), sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("disc"))
  private def byFlag(df: DataFrame): DataFrame = df.groupBy("l_returnflag", "l_linestatus").agg(agg.head, agg.tail: _*)
  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).sorted.toSeq

  private def ts(d: java.time.LocalDate): java.sql.Timestamp = java.sql.Timestamp.valueOf(d.atStartOfDay())
  /** A seeded calendar month [first day, last day] among the months
    * every order date covers (the timestamps are midnights:
    * `months(...)` partitions TIMESTAMP columns only).
    */
  private def month(): (java.time.LocalDate, java.time.LocalDate) = {
    val m0 = java.time.LocalDate.of(1992, 2, 1).plusMonths(rnd.nextInt(MonthsSpanned).toLong)
    (m0, m0.plusMonths(1).minusDays(1))
  }

  /** Time one lineitem query: `plan` builds the frame (its engine
    * calls carry their own spans), `lake.exec` runs it. Records the
    * lineitem data files the query's tasks read against those it could
    * have (files the driver only probes for bloom filters are skipped).
    */
  private def lineitemQuery(version: Option[Long])(plan: => DataFrame): (Array[Row], Long) = {
    var rows: Array[Row] = null
    val (wall, files) = CountingFs.recordOpens(ctx.timed {
      val df = plan
      rows = ctx.span("lake.exec")(df.collect())
    })
    val liRoot = new java.net.URI(li.rootLocation).getPath + "/data/"
    opened += files.count(f => f.startsWith(liRoot) && f.endsWith(".parquet"))
    considered += LakeFiles.live(li, version)
    scans += 1
    (rows, wall)
  }
  private def planned(df: => DataFrame): DataFrame = ctx.span("lake.plan")(df)

  def op(i: Int): Op = {
    if (deck.isEmpty) deck = scala.util.Random.javaRandomToRandom(new java.util.Random(rnd.nextLong())).shuffle(Deck)
    val cls = deck.head
    deck = deck.tail
    val f0 = ctx.failures
    val wall = query(cls)
    Op(cls, wall, 0L, ctx.failures == f0)
  }

  /** Run and check one query of class `cls`; returns its wall. The
    * reference answers come from cached plain-Spark frames: jobs
    * outside any span, no filesystem calls.
    */
  private def query(cls: String): Long =
    cls match {
      case "point" =>
        val keys = Seq.fill(PointKeys)(1L + rnd.nextLong(Orders.toLong))
        val cols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        val (rows, w) = lineitemQuery(None)(planned(li.scan(Seq(LakePredicate.In("l_orderkey", keys)))).select(cols.map(col): _*))
        lazy val want = refNow.where(col("l_orderkey").isin(keys: _*)).select(cols.map(col): _*).collect()
        verify(sorted(rows) == sorted(want), s"point lookup $keys")
        w
      case "range" =>
        val (lo, hi) = month()
        val (rows, w) = lineitemQuery(None)(byFlag(planned(li.scan(Seq(
          LakePredicate.GtEq("l_shipdate", ts(lo)), LakePredicate.LtEq("l_shipdate", ts(hi)))))))
        lazy val want = byFlag(refNow.where(col("l_shipdate").between(ts(lo), ts(hi)))).collect()
        verify(sorted(rows) == sorted(want), s"month range $lo..$hi")
        w
      case "full" =>
        val (rows, w) = lineitemQuery(None)(byFlag(planned(li.read())))
        verify(sorted(rows) == sorted(byFlag(refNow).collect()), "full aggregate")
        w
      case "join" =>
        val lo = java.time.LocalDate.of(1992, 1, 1).plusDays(rnd.nextInt(DateSpan - JoinDays).toLong)
        val hi = lo.plusDays(JoinDays - 1)
        def byPriority(df: DataFrame): DataFrame =
          df.groupBy("o_orderpriority").agg(count(lit(1)).as("n"), sum("l_extendedprice").as("price"))
        def window(o: DataFrame): DataFrame = o.where(col("o_orderdate").between(ts(lo), ts(hi)))
        val (rows, w) = lineitemQuery(None) {
          val dim = window(planned(ord.read()))
          byPriority(ctx.span("lake.runtime_filter")(RuntimeFilter.prunedJoin(li, "l_orderkey", dim, "o_orderkey")))
        }
        lazy val want = byPriority(refNow.join(window(refOrders), col("l_orderkey") === col("o_orderkey"))).collect()
        verify(sorted(rows) == sorted(want), s"pruned join $lo..$hi")
        w
      case "travel" =>
        val (rows, w) = lineitemQuery(Some(vMid))(byFlag(planned(li.read(Some(vMid)))))
        verify(sorted(rows) == sorted(byFlag(refMid).collect()), s"time travel to v$vMid")
        w
      case "meta" =>
        var n = -1L
        val w = ctx.timed {
          val df = ctx.span("lake.plan")(
            spark.sql(s"SELECT count(*) FROM $sqlCatalog.tpch.lineitem VERSION AS OF $vLoad"))
          n = ctx.span("lake.exec")(df.collect()).head.getLong(0)
        }
        verify(n == Lineitems, s"metadata count(*) $n != $Lineitems")
        w
    }

  // lineitem's rows are checked by every full aggregate (its count column)
  def finalChecks(): Seq[Boolean] = Seq(
    ctx.check(ord.read().count() == Orders, "orders row count"),
    ctx.check(li.latest.exists(s => s.deleteDirs.nonEmpty && s.eqDeletes.nonEmpty),
      "lineitem scans must apply positional and equality deletes"))

  override def detail(ops: Seq[Op]): Map[String, Double] =
    Map("queries_per_s" -> ops.size / (ops.map(_.wallNs).sum / 1e9))

  override def lakeCounters(ops: Seq[Op]): Map[String, Double] = Map(
    "lake.files_live" -> (LakeFiles.live(li, None) + LakeFiles.live(ord, None)).toDouble,
    "lake.files_opened_per_query" -> opened.toDouble / math.max(1, scans),
    "lake.skip_ratio" -> (1.0 - opened.toDouble / math.max(1L, considered)))
}

object LakeScan {
  /** The tables are the same for every seed, as a fixed-scale TPC-H
    * fixture is; the seed drives the query mix and its parameters.
    */
  val TableSeed = 42L
  val Lineitems = 100000L
  val LinesPerOrder = 4
  val Orders: Int = (Lineitems / LinesPerOrder).toInt
  val Customers = 15000
  val DateSpan = 90 // days of order dates from 1992-01-01
  val PointKeys = 5
  val JoinDays = 1 // order dates the join's dimension side keeps
  val MonthsSpanned = 3 // full months of ship dates, from 1992-02
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  /** One deck of queries, shuffled by the seed: one query of each
    * class. No trace or workload study in the repository gives the
    * classes' shares, so none is weighted above another.
    */
  val Deck: List[String] = List("point", "range", "full", "join", "travel", "meta")
}
