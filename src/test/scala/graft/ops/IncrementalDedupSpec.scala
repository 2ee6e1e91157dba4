package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** At-ingest incremental dedup: final kept set must equal the batch
  * exhaustive answer regardless of arrival order — including the
  * retroactive-tombstone case where the SMALLER-id member of a pair
  * arrives after its larger partner was already indexed and kept.
  */
class IncrementalDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ids interleave as id % 4 slices; the (2, 5) near-pair puts doc 5
  // (slice 1) in the index BEFORE doc 2 (slice 2) arrives — doc 5's
  // drop is retroactive. (0, 4) share slice 0 — in-batch pair.
  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "completely different text about spark shuffles and parquet footers"),
    (2L, "incremental minhash dedup indexes every batch of arriving documents"),
    (3L, "yet another unrelated document mentioning windows and watermarks"),
    (4L, "the quick brown fox jumps over the lazy dog again and again tonight"),
    (5L, "incremental minhash dedup indexes every batch of arriving document"),
    (6L, "sixth text with no resemblance to anything else in this tiny corpus"),
    (7L, "seventh text equally dissimilar from the rest of the small corpus"))
    .toDF("doc_id", "text")

  test("kept set equals the exhaustive batch answer; retro-tombstone fires") {
    val work = java.nio.file.Files.createTempDirectory("incdedup")
    val got = IncrementalDedup.dedupAtIngest(spark, docs, work)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap

    // exhaustive batch oracle: dropped = larger id of any pair
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.5)
      .select($"a_id", $"b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val droppedBatch = pairs.map(_._2).toSet
    assert(pairs.nonEmpty, "fixture must contain near-dup pairs")
    (0L to 7L).foreach { id =>
      assert(got(id) == !droppedBatch(id), s"doc $id: got ${got(id)}")
    }
    // the cross-slice pair (2, 5) must have dropped 5 retroactively
    assert(pairs.contains((2L, 5L)) || pairs.contains((0L, 4L)))
    assert(!got(5L) && got(2L))
    assert(!got(4L) && got(0L))
  }

  test("kept set is invariant to how arrivals are sliced") {
    def run(slices: Int): Map[Long, Boolean] = {
      val work = java.nio.file.Files.createTempDirectory(s"incdedup$slices")
      IncrementalDedup.dedupAtIngest(spark, docs, work, slices = slices)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    }
    // 1 slice = pure batch; 2 and 5 exercise different cross-batch
    // pair orientations — the tombstone rule must erase the difference
    val one = run(1)
    assert(run(2) == one)
    assert(run(5) == one)
  }

  test("over-cap candidate volume takes the distributed verify path, same answer") {
    // candPairCap=1 forces every trigger with >1 candidate pair onto
    // the shuffled-join fallback (no driver collect of the pairs, no
    // broadcast of the verify sides) — the adversarial-density guard.
    // The kept set must be identical to the collected/broadcast path.
    def run(cap: Int): Map[Long, Boolean] = {
      val work = java.nio.file.Files.createTempDirectory(s"incdedup-cap$cap")
      IncrementalDedup.dedupAtIngest(spark, docs, work, candPairCap = cap)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    }
    val capped = run(1)
    assert(capped === run(IncrementalDedup.DefaultCandPairCap))
    assert(capped.values.exists(!_), "fixture must tombstone something")
  }

  test("per-trigger index scan is bucket-local (partition-pruned file reads)") {
    import graft.lake.{LakePredicate, LakeTable}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // files the executed plan actually READ — the `bk` partition lives
    // in directory names, so pruning happens in the file index's
    // listFiles (PartitionFilters), which df.inputFiles ignores
    def filesRead(df: DataFrame): Long = {
      df.collect()
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case f: FileSourceScanExec    => Seq(f)
        case other                    => other.children.flatMap(scans)
      }
      scans(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum
    }
    val work = java.nio.file.Files.createTempDirectory("incdedup-prune")
    IncrementalDedup.dedupAtIngest(spark, docs, work, indexBuckets = 8)
    val bandsTbl = new LakeTable(spark, work.resolve("bands").toString)
    val allRead = filesRead(bandsTbl.read())
    val liveBuckets = bandsTbl.read().select("bk").distinct()
      .collect().map(_.getInt(0)).sorted
    assert(liveBuckets.length > 1, "fixture must spread over >1 bucket")
    // the scan a trigger issues for a 1-bucket batch reads ONLY that
    // bucket's files — the O(batch-span) not O(history) contract
    val prunedRead = filesRead(
      bandsTbl.scan(Seq(LakePredicate.In("bk", Seq(liveBuckets.head)))))
    assert(prunedRead < allRead,
      s"expected bucket pruning: read $prunedRead of $allRead files")
    // hive layout on disk: one subdir per bucket under each commit dir
    import scala.jdk.CollectionConverters._
    val sawBk = java.nio.file.Files.walk(work.resolve("bands")).iterator().asScala
      .exists(_.getFileName.toString.startsWith("bk="))
    assert(sawBk, "bands table must be hive-partitioned by bk")
    // shingle store prunes on its id-bucket the same way
    val shTbl = new LakeTable(spark, work.resolve("shingles").toString)
    val shBuckets = shTbl.read().select("bk").distinct().collect().map(_.getInt(0)).sorted
    if (shBuckets.length > 1) {
      val shAll = filesRead(shTbl.read())
      val shPruned = filesRead(
        shTbl.scan(Seq(LakePredicate.In("bk", Seq(shBuckets.head)))))
      assert(shPruned < shAll)
    }
  }

  test("replayed micro-batch is a no-op: no double index rows, no self-tombstones") {
    import graft.lake.LakeTable
    val work = java.nio.file.Files.createTempDirectory("incdedup-replay")
    val bandsTbl = new LakeTable(spark, work.resolve("bands").toString)
    val shTbl = new LakeTable(spark, work.resolve("shingles").toString)
    val dropsTbl = new LakeTable(spark, work.resolve("drops").toString)
    def ingest(bid: Long): Unit =
      IncrementalDedup.ingestBatch(spark, docs, bid, bandsTbl, shTbl, dropsTbl,
        textCol = "text", idCol = "doc_id", n = 3, numHashes = 128,
        bands = 32, threshold = 0.5, indexBuckets = 8, compactEvery = 0)
    ingest(0L)
    val bandRows = bandsTbl.read().count()
    val drops0 = dropsTbl.read().select("id").collect().map(_.getLong(0)).toSet
    assert(drops0.nonEmpty, "fixture has near-dup pairs")
    // foreachBatch retry: same batch, same id — every append must skip
    // on the batch marker and the recomputed candidates (now joining
    // against an index that holds this batch's own bands) must not
    // tombstone any document against itself
    ingest(0L)
    assert(bandsTbl.read().count() === bandRows, "bands appended twice on replay")
    val drops1 = dropsTbl.read().select("id").collect().map(_.getLong(0)).toSet
    assert(drops1 === drops0, s"replay changed tombstones: $drops0 -> $drops1")
    // unique docs survive the replay (the ADVICE failure mode: u==v
    // self-pairs exact-verifying at Jaccard 1.0 and dropping them)
    assert(!drops1.contains(1L) && !drops1.contains(3L) && !drops1.contains(6L))
  }

  test("crash between appends: bands landed, rest did not — replay converges") {
    import graft.lake.LakeTable
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val work = java.nio.file.Files.createTempDirectory("incdedup-crash")
    val bandsTbl = new LakeTable(spark, work.resolve("bands").toString)
    val shTbl = new LakeTable(spark, work.resolve("shingles").toString)
    val dropsTbl = new LakeTable(spark, work.resolve("drops").toString)
    // simulate the torn state a crash mid-trigger leaves: ONLY the
    // bands index holds batch 0 (the appends are concurrent, so any
    // subset can land) — build it exactly as ingestBatch would
    val (_, banded) = Dedup.bandedSignatures(docs, "text", "doc_id", 3, 128, 32)
    bandsTbl.write(
      banded.withColumn("bk", pmod(xxhash64(col("bh")), lit(8)).cast("int")),
      graft.lake.WriteMode.Append, partitionBy = Seq("bk"),
      meta = Map(LakeTable.CarryMetaPrefix + "dedup.batch" -> "0"))
    // foreachBatch replays batch 0 in full
    IncrementalDedup.ingestBatch(spark, docs, 0L, bandsTbl, shTbl, dropsTbl,
      textCol = "text", idCol = "doc_id", n = 3, numHashes = 128,
      bands = 32, threshold = 0.5, indexBuckets = 8, compactEvery = 0)
    // bands were NOT double-appended (marker), shingles/drops landed,
    // and the tombstone set equals the clean batch answer
    assert(bandsTbl.history.count(_.op == "append") === 1)
    assert(shTbl.latest.isDefined && dropsTbl.latest.isDefined)
    val drops = dropsTbl.read().select("id").collect().map(_.getLong(0)).toSet
    val expected = Dedup.ngramJaccardPairs(docs, threshold = 0.5)
      .select("b_id").collect().map(_.getLong(0)).toSet
    assert(drops === expected, s"torn-state replay diverged: $drops vs $expected")
  }

  test("multi-session ingest: later arrivals resume from the checkpoint") {
    import graft.lake.LakeTable
    val work = java.nio.file.Files.createTempDirectory("incdedup-resume")
    val first = docs.where(docs("doc_id") < 4L)   // 0..3: holds (0,4)'s smaller member
    val second = docs.where(docs("doc_id") >= 4L) // 4..7: (2,5)'s smaller member came FIRST here
    IncrementalDedup.ingest(spark, first, work, "crawl-a", slices = 2)
    val bandsTbl = new LakeTable(spark, work.resolve("bands").toString)
    val appendsAfterA = bandsTbl.history.count(_.op == "append")
    assert(appendsAfterA === 2, "first session: one append per slice file")
    // second crawl session, same workDir: the checkpointed stream must
    // consume ONLY crawl-b's files and dedup them against crawl-a's index
    IncrementalDedup.ingest(spark, second, work, "crawl-b", slices = 2)
    val appendsAfterB = bandsTbl.history.count(_.op == "append")
    assert(appendsAfterB === 4,
      s"second session reprocessed old arrivals: $appendsAfterB appends")
    // kept set over the union equals the exhaustive batch answer —
    // cross-SESSION pairs ((0,4) and (2,5) straddle the two crawls)
    // must still tombstone the larger id
    val got = IncrementalDedup.keptReport(spark, docs, work)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val droppedBatch = Dedup.ngramJaccardPairs(docs, threshold = 0.5)
      .select("b_id").collect().map(_.getLong(0)).toSet
    (0L to 7L).foreach { id =>
      assert(got(id) == !droppedBatch(id), s"doc $id: got ${got(id)}")
    }
    assert(!got(4L) && !got(5L) && got(0L) && got(2L))
  }

  test("a crashed erasure's leftover temp dir is swept before ingest consumes it") {
    import java.nio.file.Files
    val work = Files.createTempDirectory("incdedup-sweep")
    IncrementalDedup.ingest(spark, docs.where(docs("doc_id") < 4L), work,
      "crawl-a", slices = 1)
    // plant a LEGACY (non-underscore) leftover from a pre-upgrade
    // erasure crash: visible to the arrivals/*/* glob, holding rows
    // that must never be re-indexed as brand-new arrivals
    val leftover = work.resolve("arrivals/crawl-a/slice_000.erasing")
    Seq((999L, "stale pre-erasure content that must never be indexed"))
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(leftover.toString)
    IncrementalDedup.ingest(spark, docs.where(docs("doc_id") >= 4L), work,
      "crawl-b", slices = 1)
    assert(!Files.exists(leftover), "leftover .erasing dir must be swept at ingest")
    val got = IncrementalDedup.keptReport(spark, docs, work)
      .collect().map(_.getLong(0)).toSet
    assert(!got.contains(999L), "stale leftover rows were indexed")
    val sh = new graft.lake.LakeTable(spark, work.resolve("shingles").toString)
    assert(sh.read().where(col("id") === 999L).count() === 0L,
      "stale leftover rows reached the shingle index")
  }

  test("erasure racing a mid-flight ingest stream serializes; subject never retained") {
    import java.nio.file.Files
    import graft.lake.{LakeTable, Privacy}
    // two subjects with unique texts landing in DIFFERENT slices:
    // pmod(12,4)=0 is (typically) consumed before the erasure fires —
    // its index rows must be scrubbed; pmod(13,4)=1 is still
    // listed-but-unconsumed — the in-place slice rewrite must keep it
    // out of the index when its trigger finally reads it
    val subjects = Seq(
      (12L, "subject twelve writes about gardens and telescopes in private"),
      (13L, "subject thirteen writes about rivers and chess in confidence"))
      .toDF("doc_id", "text")
    val corpus = docs.unionByName(subjects)

    def assertClean(work: java.nio.file.Path, label: String): Unit = {
      // no subject byte in the arrivals staging
      assert(spark.read.parquet(work.resolve("arrivals").toString + "/*/*")
        .where(col("doc_id").isin(12L, 13L)).count() === 0L,
        s"$label: subject rows remain in arrival slices")
      // no subject row in any index table
      Seq("bands", "shingles", "drops").foreach { nm =>
        val t = new LakeTable(spark, work.resolve(nm).toString)
        if (t.latest.isDefined)
          assert(t.read().where(col("id").isin(12L, 13L)).count() === 0L,
            s"$label: subject rows remain in $nm")
      }
      // non-subject verdicts intact (the subjects near-dup nothing)
      val got = IncrementalDedup.keptReport(spark, docs, work)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val droppedBatch = Dedup.ngramJaccardPairs(docs, threshold = 0.5)
        .select("b_id").collect().map(_.getLong(0)).toSet
      (0L to 7L).foreach { id =>
        assert(got(id) == !droppedBatch(id), s"$label: doc $id verdict drifted")
      }
    }

    def runRace(concurrent: Boolean): Unit = {
      val label = if (concurrent) "concurrent-thread" else "in-trigger"
      val work = Files.createTempDirectory(s"incdedup-race-")
      val bandsTbl = new LakeTable(spark, work.resolve("bands").toString)
      val shTbl = new LakeTable(spark, work.resolve("shingles").toString)
      val dropsTbl = new LakeTable(spark, work.resolve("drops").toString)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      var erasure: Option[Future[Seq[Privacy.ErasureResult]]] = None
      IncrementalDedup.ingestLoop(spark, corpus, work, "initial",
        slices = 4, idCol = "doc_id", filesPerTrigger = 1) { (batch, bid) =>
        IncrementalDedup.ingestBatch(spark, batch, bid, bandsTbl, shTbl,
          dropsTbl, textCol = "text", idCol = "doc_id", n = 3,
          numHashes = 128, bands = 32, threshold = 0.5, indexBuckets = 8,
          compactEvery = 0)
        if (erasure.isEmpty) {
          // in-trigger: the cascade runs inline on this very trigger's
          // thread (the maintenance lock is reentrant) with the
          // remaining slices already listed by the AvailableNow
          // planner. concurrent: the cascade contends with the LIVE
          // stream from another thread — the lock must make it wait
          // out the in-flight trigger, never scrub mid-commit, never
          // race an open slice read handle
          erasure = Some(
            if (concurrent) Future(Privacy.forgetDedupIndex(spark, work, Seq(12L, 13L)))
            else Future.successful(Privacy.forgetDedupIndex(spark, work, Seq(12L, 13L))))
        }
      }
      val results = Await.result(erasure.get, Duration.Inf)
      assert(results.forall(_.residualRows == 0L),
        s"$label: erasure reported residual bytes")
      assertClean(work, label)
    }
    runRace(concurrent = false)
    runRace(concurrent = true)
  }

  /** `n` documents of 24 random words; every seventh copies an earlier
    * one but for its last word (a near-dup at Jaccard ~0.9).
    */
  private def corpus(n: Int) = {
    val rnd = new scala.util.Random(11)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until n).foreach { i =>
      texts += (if (i % 7 == 6) texts(rnd.nextInt(i)).split(' ').init.mkString(" ") + s" tail$i"
                else Seq.fill(24)(s"w${rnd.nextInt(400)}").mkString(" "))
    }
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq.toDF("doc_id", "text")
  }

  test("a 100-document trigger runs few tasks and appends at most indexBuckets files") {
    import java.nio.file.Files
    import graft.lake.LakeTable
    val all = corpus(200)
    val work = Files.createTempDirectory("incdedup-shape")
    val Seq(bandsTbl, shTbl, dropsTbl) = Seq("bands", "shingles", "drops")
      .map(n => new LakeTable(spark, work.resolve(n).toString))
    def trigger(batch: org.apache.spark.sql.DataFrame, bid: Long): Unit =
      IncrementalDedup.ingestBatch(spark, batch, bid, bandsTbl, shTbl, dropsTbl,
        textCol = "text", idCol = "doc_id", n = 3, numHashes = 128,
        bands = 32, threshold = 0.5, indexBuckets = 16, compactEvery = 0)
    // arrivals are parquet files, as the stream reads them
    def arrival(lo: Long): org.apache.spark.sql.DataFrame = {
      val dir = work.resolve(s"arrival$lo").toString
      all.where($"doc_id" >= lo && $"doc_id" < lo + 100).coalesce(1).write.parquet(dir)
      spark.read.parquet(dir)
    }
    trigger(arrival(0L), 0L) // the index the measured trigger reads
    val batch = arrival(100L)
    val before = Seq(bandsTbl, shTbl).map(_.latest.get.dirs.toSet)
    // byte-sized clustering: each checkpoint and each index append is
    // one task at this size (16 each when sized to indexBuckets)
    val tasks = TestSpark.tasks(trigger(batch, 1L))
    assert(tasks <= 40, s"$tasks tasks")
    Seq("bands" -> bandsTbl, "shingles" -> shTbl).zip(before).foreach { case ((nm, t), old) =>
      val added = t.latest.get.dirs.filterNot(old)
      assert(added.size === 1, added)
      val files = Files.walk(work.resolve(nm).resolve(added.head))
        .filter(_.toString.endsWith(".parquet")).count()
      assert(files > 1 && files <= 16, s"$nm: $files files")
    }
    val got = IncrementalDedup.keptReport(spark, all, work)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val dropped = Dedup.ngramJaccardPairs(all, threshold = 0.5)
      .select("b_id").collect().map(_.getLong(0)).toSet
    assert(dropped.exists(_ >= 100L), "fixture must drop in the measured trigger")
    (0L until 200L).foreach(id => assert(got(id) === !dropped(id), s"doc $id"))
  }

  test("every job an ingest trigger starts carries the stream's job group") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val sc = spark.sparkContext
    // a pool thread keeps the local properties of the thread that
    // created it: create every worker of the global pool under another
    // job group first, so a future that does not carry its caller's
    // properties shows up under that group
    sc.setJobGroup("pool-warm-up", "pool warm-up")
    try {
      val n = Runtime.getRuntime.availableProcessors
      val latch = new java.util.concurrent.CountDownLatch(n)
      val warm = (1 to n).map(_ => Future {
        latch.countDown(); latch.await(10, java.util.concurrent.TimeUnit.SECONDS)
      }(scala.concurrent.ExecutionContext.global))
      warm.foreach(Await.result(_, 30.seconds))
    } finally sc.clearJobGroup()
    val runIds = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        runIds.add(e.runId.toString)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(l)
    val work = java.nio.file.Files.createTempDirectory("incdedup-group")
    sc.setJobGroup("caller", "ingest caller")
    val groups = try TestSpark.jobStarts {
      IncrementalDedup.ingest(spark, docs, work, "a", slices = 2)
    }.map(_.properties.getProperty("spark.jobGroup.id"))
    finally { sc.clearJobGroup(); spark.streams.removeListener(l) }
    import scala.jdk.CollectionConverters._
    assert(runIds.size === 1)
    // the slice writes run under the caller's group, everything after
    // the stream starts under the stream's (its run id)
    assert(groups.count(_ == runIds.peek) >= 10, groups)
    assert(groups.forall(g => g == "caller" || runIds.asScala.toSet(g)), groups)
  }

  test("negative ids are sliced (pmod), deduped, and reported") {
    val negDocs = Seq(
      (-7L, "negative id document about minhash banding and bucket joins"),
      (-3L, "negative id document about minhash banding and bucket join"),
      (2L, "a positive id document that resembles nothing else here at all"))
      .toDF("doc_id", "text")
    val work = java.nio.file.Files.createTempDirectory("incdedup-neg")
    val got = IncrementalDedup.dedupAtIngest(spark, negDocs, work, slices = 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got.keySet === Set(-7L, -3L, 2L), "every doc reported exactly once")
    // the near-pair keeps the smaller id (-7) and drops -3
    assert(got(-7L) && !got(-3L) && got(2L))
  }
}
