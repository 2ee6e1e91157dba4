package graft.ops

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.Async
import graft.lake.{LakePredicate, LakeTable, Snapshot, WriteMode}

/** Incremental (at-ingest) MinHash near-dedup — the streaming form of
  * [[Dedup.minHashLshPairs]]: every arriving micro-batch is
  * deduplicated against the signature index of ALL previously ingested
  * documents, then its own signatures join the index. This is the
  * production shape for a continuously-crawled corpus: new documents
  * dedup against a 100 TB history WITHOUT rescanning it — per batch,
  * cost is the batch's hashing plus a BUCKET-LOCAL join against the
  * index, whose fan-out tracks true near-dup density.
  *
  * Drop semantics are ORDER-INDEPENDENT: a document is dropped iff it
  * has an exact-verified Jaccard ≥ threshold match with any smaller-id
  * document in the corpus. Every qualifying pair (a < b) is detected
  * when its later-ARRIVING member is processed (the earlier member's
  * bands are then in the index, or both share the batch); whichever
  * member has the LARGER id is tombstoned — including retroactively,
  * the way production pipelines issue late tombstones — so arrival
  * order cannot change the final kept set.
  *
  * Index state is three [[graft.lake.LakeTable]]s under `workDir`:
  *  - `bands/`: (id, band, bh, bk) LSH bucket rows, hive-partitioned
  *    by `bk = pmod(xxhash64(bh), indexBuckets)` — so a trigger's scan
  *    reads ONLY the partitions its own band hashes land in, never the
  *    full history. (A single-column bucket on `bh` suffices: `bh`
  *    already folds the band id into the hash, so (band, bh) entropy
  *    lives entirely in `bh`.)
  *  - `shingles/`: (id, sz, shingles, bk) for the exact-verify pass,
  *    partitioned by `bk = pmod(xxhash64(id), indexBuckets)` — pruned
  *    per trigger to the candidate ids' buckets.
  *  - `drops/`: accumulated tombstone ids.
  * foreachBatch is AT-LEAST-ONCE, so every per-batch append commits
  * with a `graft.dedup.batch` marker and is skipped when the marker
  * says this batch already landed in that table — a retried batch
  * re-appends nothing (and recomputing drops against an index that
  * already holds the batch's own bands is safe: self-pairs are
  * filtered, duplicate pairs verify to the same tombstone set).
  * Every `compactEvery` triggers each table is bin-packed
  * ([[LakeTable.compactBinPack]]), bounding the per-trigger commit-dir
  * trickle instead of letting the file list grow with stream lifetime.
  */
object IncrementalDedup {

  /** Phase timing behind `-Dgraft.ingest.profile` (stderr only; zero
    * cost when unset) — the at-ingest family's cost is per-trigger
    * fixed overhead, so optimization needs per-phase walls.
    */
  private[ops] def prof(msg: => String): Unit =
    if (sys.props.contains("graft.ingest.profile"))
      System.err.println(f"[ingest-prof] ${System.nanoTime() / 1e9}%.3f $msg")

  // under CarryMetaPrefix so compaction commits (the periodic bin-pack
  // below, or auto-compact) carry the marker forward — otherwise a
  // compact landing between an append and its checkpoint would erase
  // it and a replayed micro-batch would double-append the index
  private[ops] val BatchKey = graft.lake.LakeTable.CarryMetaPrefix + "dedup.batch"

  /** Append `df` to `tbl` exactly once per `batchId`: the commit meta
    * records the batch, and a replayed batch (foreachBatch retry)
    * whose marker is already ≥ batchId is a no-op for this table.
    */
  private[ops] def idempotentAppend(tbl: LakeTable, df: DataFrame, batchId: Long,
                                    partitionBy: Seq[String], statsBy: Seq[String]): Unit = {
    val done = tbl.latest.flatMap(_.meta.get(BatchKey)).exists(_.toLong >= batchId)
    if (!done)
      // rowMeta off: the index/tombstone tables are engine-internal —
      // nothing issues metadata-only counts against them, and the
      // footer pass was one open per bucket file on every trigger
      tbl.write(df, WriteMode.Append, partitionBy = partitionBy,
        statsBy = statsBy, meta = Map(BatchKey -> batchId.toString),
        rowMeta = false)
  }

  /** `tbl` at snapshot `at` (its latest by default) filtered by
    * `preds`; an empty frame of `schema` when there is no snapshot.
    */
  private[ops] def readOrEmpty(spark: SparkSession, tbl: LakeTable,
                               preds: Seq[LakePredicate],
                               schema: org.apache.spark.sql.types.StructType)
                              (at: Option[Snapshot] = tbl.latest): DataFrame =
    at.fold(spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))(
      s => tbl.scan(preds, Some(s.version)))

  /** Eagerly materialize `df` (localCheckpoint) AND census its `bk`
    * column in the SAME job, via an accumulator fed by a pass-through
    * mapPartitions: the distinct bucket keys are known the moment the
    * checkpoint lands, where a separate `select(bk).distinct.collect`
    * costs one more sequential job on the trigger's critical path —
    * at micro-batch sizes the fixed per-job scheduling cost is the
    * whole bill. Retried tasks may re-add keys (accumulator at-least-
    * once); a SET census is insensitive to that, and every key comes
    * from a real row so the census is exact.
    */
  private[ops] def checkpointWithBkCensus(df: DataFrame): (DataFrame, Seq[Int]) = {
    val acc = df.sparkSession.sparkContext.collectionAccumulator[Int]("bkCensus")
    val bkIdx = df.schema.fieldIndex("bk")
    val cp = df.mapPartitions { it =>
      val seen = new java.util.HashSet[Integer]()
      it.map { r =>
        val b = r.getInt(bkIdx)
        if (seen.add(b)) acc.add(b)
        r
      }
    }(org.apache.spark.sql.Encoders.row(df.schema)).localCheckpoint()
    import scala.jdk.CollectionConverters._
    (cp, acc.value.asScala.map(_.toInt).toSet.toSeq.sorted)
  }

  /** One micro-batch of the ingest loop — factored out of foreachBatch
    * so the at-least-once path is testable: calling it twice with the
    * same batchId must change nothing (appends skip on the batch
    * marker; the recomputed candidate join sees the batch's own rows
    * already indexed and the self-pair guards keep it from tombstoning
    * a document against itself).
    */
  /** Cap on candidate-pair ROWS collected to the driver per
    * micro-batch; above it the verify joins run distributed (see
    * ingestBatch). The probe counts pre-dedup rows (a pair can recur
    * once per band/LSH-table that witnesses it — measured factor ~2-3
    * on benign corpora), so the default carries headroom over the r9
    * distinct-pair cap; 250k rows of two ids + two ints is ~8 MB of
    * driver memory, still a safe bound.
    */
  val DefaultCandPairCap = 250000

  private[ops] def ingestBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                               bandsTbl: LakeTable, shTbl: LakeTable, dropsTbl: LakeTable,
                               textCol: String, idCol: String, n: Int,
                               numHashes: Int, bands: Int, threshold: Double,
                               indexBuckets: Int, compactEvery: Int,
                               candPairCap: Int = DefaultCandPairCap): Unit = {
    val (bsh, bbanded) =
      Dedup.bandedSignatures(batch, textCol, idCol, n, numHashes, bands)
    // checkpoint ALREADY hash-clustered by bk: sigs evaluate once
    // (not per join branch) AND the index appends below write straight
    // from the materialized layout — partitionBy emits one file per
    // bucket per holding task, and hash clustering puts each bucket in
    // exactly one task, so each append writes ≤ indexBuckets files
    // with no second shuffle. The partition COUNT is left to adaptive
    // execution, sized by bytes: a micro-batch coalesces to one task
    // (each write task's fixed cost, mostly deserializing its task
    // binary, dwarfs its data), while a large batch still fans out up
    // to spark.sql.shuffle.partitions. The two materializations are
    // independent jobs; run them concurrently.
    val bshF = Async(spark)(bsh
      .withColumn("bk", pmod(xxhash64(col("id")), lit(indexBuckets)).cast("int"))
      .repartition(col("bk"))
      .localCheckpoint())
    // the band-bucket census rides the checkpoint job itself
    // (accumulator in a pass-through mapPartitions) — the separate
    // distinct-collect it replaces was one more job on the trigger's
    // critical path, and at micro-batch sizes the per-job scheduling
    // fixed cost is the entire bill
    val bbandedF = Async(spark)(checkpointWithBkCensus(bbanded
      .withColumn("bk", pmod(xxhash64(col("bh")), lit(indexBuckets)).cast("int"))
      .repartition(col("bk"))))
    prof(s"batch=$batchId start")
    val bshC = Async.await(bshF)
    val (bbandedC, bandKeys) = Async.await(bbandedF)
    prof(s"batch=$batchId checkpoints done")
    // bucket-local index read: only the partitions this batch's
    // band hashes occupy — the per-trigger scan is O(batch's
    // bucket span), not O(history). Key sets are ≤ indexBuckets,
    // so the census is parameter-bounded driver state.
    val prevBanded = readOrEmpty(spark, bandsTbl,
      Seq(LakePredicate.In("bk", bandKeys)), bbandedC.schema)()
    // Index appends start NOW, overlapping the candidate/verify work
    // below. Both index reads are bound to the snapshot BEFORE the
    // append (lake snapshots are immutable): prevBanded above, and the
    // shingle read below at `shBase`, so what a trigger reads never
    // depends on whether its own append has landed yet. A foreachBatch
    // replay re-sees the batch's own rows, which the self-pair guards
    // and the duplicate-set NOTE make harmless. Each per-trigger Spark
    // job carries a fixed scheduling cost that dwarfs this data
    // volume, so independent jobs run concurrently throughout. Index
    // frames were checkpointed already clustered by bk, so each append
    // is a straight map-stage write of <= indexBuckets files. No
    // statsBy: bk lives in the directory names (pruning is
    // PartitionFilters), and declaring it would trigger the writer's
    // scanning-stats fallback every append.
    val shBase = shTbl.latest
    val bandsAppendF = Async(spark)(idempotentAppend(bandsTbl, bbandedC, batchId, Seq("bk"), Nil))
    val shAppendF = Async(spark)(idempotentAppend(shTbl, bshC, batchId, Seq("bk"), Nil))
    // candidates: batch × index bucket collisions (either direction)
    // + in-batch collisions; canonicalized u < v. The BATCH side is
    // broadcast: the bucket-pruned index is then STREAMED against a
    // hash table (one scan, zero index shuffle per batch) — the
    // difference between O(batch) and O(history) network per
    // trigger. Self-joins against an index that already holds this
    // batch's own rows (foreachBatch retry) must not tombstone a
    // document against itself, hence the id =!= pid guard.
    val crossIdx = prevBanded.select(col("band"), col("bh"), col("id").as("pid"))
      .join(broadcast(bbandedC.drop("bk")), Seq("band", "bh"))
      .where(col("id") =!= col("pid"))
      .select(least(col("id"), col("pid")).as("u"),
        greatest(col("id"), col("pid")).as("v"))
    val inBatch = bbandedC.select(col("band"), col("bh"), col("id").as("a"))
      .join(bbandedC.select(col("band"), col("bh"), col("id").as("b")), Seq("band", "bh"))
      .where(col("a") < col("b"))
      .select(col("a").as("u"), col("b").as("v"))
    // candidate pairs are near-dup-density-sized on benign corpora, so
    // the normal path collects them once (the rebuilt LocalRelation
    // makes both verify joins exchange-free and the shingle-bucket keys
    // need no extra job). But density is ADVERSARY-CONTROLLED — a
    // boilerplate-heavy crawl can collide one band bucket with a large
    // fraction of history — so the collect is CAPPED at `candPairCap`
    // (the RuntimeFilter limit(cap+1) pattern): above the cap the pairs
    // stay distributed and the verify joins run as ordinary shuffled
    // joins; only the bucket-key set — ≤ indexBuckets, a parameter —
    // ever reaches the driver.
    //
    // Two per-trigger cost choices, both measured: the frame
    // materializes ONCE (localCheckpoint serves the cap probe AND the
    // over-cap fallback — the old probe-then-re-evaluate shape
    // computed the banded joins twice precisely in the adversarial
    // case, ADVICE r9), and it carries NO distinct: both index joins
    // broadcast the batch side, so a distinct would be the candidate
    // path's ONLY exchange — pair dedup is instead done on the driver
    // under the cap (a band can witness the same pair ≤ `bands`
    // times, so raw rows bound distinct pairs within a small factor)
    // and by the distributed distinct in the rare over-cap fallback.
    val candQuery = crossIdx.unionByName(inBatch)
      .where(col("u") =!= col("v"))        // belt-and-suspenders vs self-pairs
      .withColumn("bku", pmod(xxhash64(col("u")), lit(indexBuckets)).cast("int"))
      .withColumn("bkv", pmod(xxhash64(col("v")), lit(indexBuckets)).cast("int"))
      .localCheckpoint()
    prof(s"batch=$batchId candidates checkpointed")
    val candSample = candQuery.limit(candPairCap + 1).collect()
    val underCap = candSample.length <= candPairCap
    val idType = batch.schema(idCol).dataType
    val candSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("u", idType),
      org.apache.spark.sql.types.StructField("v", idType)))
    val (cand, candKeys, hasCands) =
      if (underCap) {
        val distinctPairs = candSample.map(r => (r.get(0), r.get(1))).distinct
        val local = spark.createDataFrame(
          java.util.Arrays.asList(distinctPairs.map(p =>
            org.apache.spark.sql.Row(p._1, p._2)): _*), candSchema)
        val keys: Seq[Int] =
          candSample.flatMap(r => Seq(r.getInt(2), r.getInt(3))).distinct.toSeq
        (broadcast(local), keys, distinctPairs.nonEmpty)
      } else {
        val keys: Seq[Int] = candQuery.select(col("bku").as("bk"))
          .unionByName(candQuery.select(col("bkv").as("bk")))
          .distinct().collect().map(_.getInt(0)).toSeq
        (candQuery.select(col("u"), col("v")).distinct(), keys, true)
      }
    val prevSh = readOrEmpty(spark, shTbl,
      Seq(LakePredicate.In("bk", candKeys)), bshC.schema)(shBase)
    // NOTE: on a replayed batch the index already holds the batch's
    // sets, so ids can appear twice here — harmless (duplicate pairs
    // verify identically; `drops` is distinct) and cheaper than a
    // per-trigger dedup shuffle of the whole set store
    val sets = bshC.unionByName(prevSh).drop("bk")
    val uSide = sets
      .select(col("id").as("u"), col("shingles").as("u_sh"), col("sz").as("u_sz"))
      .join(cand, Seq("u")) // candidate-sized result
    val drops = sets
      .select(col("id").as("v"), col("shingles").as("v_sh"), col("sz").as("v_sz"))
      .join(if (underCap) broadcast(uSide) else uSide, Seq("v"))
      .withColumn("inter", size(array_intersect(col("u_sh"), col("v_sh"))))
      .where(col("inter").cast("double") /
        (col("u_sz") + col("v_sz") - col("inter")) >= threshold)
      .select(col("v").as("id")).distinct() // larger id tombstoned
    // Append ordering never mattered for safety: whatever subset
    // survives a crash, the replay recomputes drops against an index
    // that may already hold the batch's own rows (self-pair guards)
    // and each table skips itself on its batch marker. No candidates
    // ⇒ drops is provably empty ⇒ its write (and the verify joins
    // feeding it) are skipped outright.
    prof(s"batch=$batchId cands=${candSample.length} verify built")
    val dropsAppendF = Async(spark)(if (hasCands)
      idempotentAppend(dropsTbl, drops.coalesce(1), batchId, Nil, Nil))
    Seq(dropsAppendF, bandsAppendF, shAppendF).foreach(Async.await)
    prof(s"batch=$batchId appends done")
    // periodic bin-pack (also concurrent per table): fold the
    // per-trigger commit trickle so the manifest's dir list (and each
    // bucket's file count) stays bounded by corpus size, not stream
    // lifetime. Fragmentation-gated: the rewrite only pays for itself
    // once enough commit dirs accumulated (a manifest-level count, no
    // job), so a short stream never burns its last trigger folding a
    // handful of dirs it will never read again.
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
      Seq(dropsTbl, bandsTbl, shTbl)
        .map(t => Async(spark)(
          if (t.latest.exists(_.dirs.size >= CompactMinDirs))
            t.compactBinPack(maxDirBytes = 64L << 20)))
        .foreach(Async.await)
      prof(s"batch=$batchId compact done")
    }
  }

  /** Commit-dir fragmentation at which the periodic bin-pack engages
    * (below it the fold costs more than the trickle it removes).
    */
  private[ops] val CompactMinDirs = 6

  /** Ingest one ARRIVAL of documents into the work dir's index: the
    * docs land as `slices` parquet files under a `batchName`-scoped
    * arrivals directory, and the checkpointed AvailableNow stream
    * drains ONLY files it has not consumed before — so calling ingest
    * again later with a new batchName processes just the new arrivals
    * against the accumulated index. This is the production surface of
    * a continuously-crawled corpus: crawl sessions call
    * `ingest(newDocs, "crawl-2024-06-01")` as they land, and the
    * signature index, tombstones, and stream offsets all persist
    * between sessions.
    *
    * `indexBuckets` sizes the bucket space of both index tables (at
    * 100 TB use thousands; the default keeps test fixtures to a sane
    * file count) and must be held constant across ingests (the bucket
    * function is the physical layout). `compactEvery` is the bin-pack
    * cadence in triggers.
    */
  /** The at-ingest families' shared arrival scaffold (ONE copy —
    * MinHash, semantic, and contamination ingest all run through it):
    * the input lands as `slices` interleaved parquet files under a
    * `batchName`-scoped arrivals dir (pmod slicing, so negative ids
    * land too and later batches carry ids SMALLER than indexed ones —
    * the retroactive path), an `_id_col` marker records the id column
    * for the erasure cascade ([[graft.lake.Privacy.forgetDedupIndex]]
    * rewrites arrival slices — the subject's RAW content lives here),
    * and a checkpointed AvailableNow stream over `arrivals/<asterisk>/<asterisk>`
    * drains only unconsumed files into `body` (foreachBatch batchIds
    * continue monotonically across sessions, keeping the per-table
    * idempotency markers valid).
    */
  private[ops] def ingestLoop(spark: SparkSession, input: DataFrame, workDir: Path,
                              batchName: String, slices: Int, idCol: String,
                              filesPerTrigger: Int)
                             (body: (DataFrame, Long) => Unit): Unit = {
    require(batchName.matches("[A-Za-z0-9._-]+"), s"unsafe batch name: $batchName")
    val srcDir = workDir.resolve("arrivals")
    val batchDir = srcDir.resolve(batchName)
    // the slice-write phase runs under the work dir's maintenance lock
    // ([[graft.lake.WorkDirLock]]): an erasure cascade listing arrival
    // slices must never see a half-written slice dir, and its sweep
    // must never reap a dir this write is about to finish
    graft.lake.WorkDirLock.withLock(workDir) {
      Files.createDirectories(batchDir)
      // a crashed erasure's leftover temp dir must never be consumed as
      // brand-new arrivals (a legacy non-underscore `*.erasing` dir IS
      // visible to the depth-2 glob below) — sweep before streaming
      graft.lake.Privacy.sweepErasingLeftovers(srcDir)
      // depth-1 underscore file: never matched by the depth-2 glob, and
      // parquet readers skip _-prefixed names anyway
      val idColMarker = srcDir.resolve("_id_col")
      if (!Files.exists(idColMarker)) Files.writeString(idColMarker, idCol)
      prof(s"ingest $batchName: slice writes start")
      (0 until slices).map(s => Async(spark)(
        input.filter(pmod(col(idCol), lit(slices)) === s)
          .coalesce(1).write.mode("overwrite")
          .parquet(batchDir.resolve(f"slice_$s%03d").toString)))
        .foreach(Async.await)
    }
    prof(s"ingest $batchName: slices written, stream starting")
    val q = spark.readStream
      .schema(input.schema)
      .option("maxFilesPerTrigger", math.max(filesPerTrigger, 1))
      .parquet(s"$srcDir/*/*")
      .writeStream
      // each trigger holds the maintenance lock end to end, so a
      // concurrent erasure serializes BETWEEN triggers: it can never
      // scrub the index while this batch is mid-commit, and no reader
      // ever holds a pre-rewrite slice handle across the cascade
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        graft.lake.WorkDirLock.withLock(workDir)(body(batch, batchId)))
      .option("checkpointLocation", workDir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    prof(s"ingest $batchName: stream done")
  }

  def ingest(spark: SparkSession, docs: DataFrame, workDir: Path,
             batchName: String, slices: Int = 4, textCol: String = "text",
             idCol: String = "doc_id", n: Int = 3,
             numHashes: Int = 128, bands: Int = 32,
             threshold: Double = 0.5,
             indexBuckets: Int = 16,
             compactEvery: Int = 4,
             candPairCap: Int = DefaultCandPairCap,
             filesPerTrigger: Int = 1): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val bandsTbl = new LakeTable(spark, workDir.resolve("bands").toString)
    val shTbl = new LakeTable(spark, workDir.resolve("shingles").toString)
    val dropsTbl = new LakeTable(spark, workDir.resolve("drops").toString)
    ingestLoop(spark, docs.select(col(idCol), col(textCol)), workDir,
      batchName, slices, idCol, filesPerTrigger) { (batch, batchId) =>
      ingestBatch(spark, batch, batchId, bandsTbl, shTbl, dropsTbl,
        textCol, idCol, n, numHashes, bands, threshold,
        indexBuckets, compactEvery, candPairCap)
    }
  }

  /** (doc_id, kept) over `docs` given the tombstones accumulated under
    * `workDir` — kept = no verified near-dup with a smaller id across
    * EVERY ingest so far. Callers pass the union of all ingested
    * corpora (or any subset they want the verdicts for).
    */
  def keptReport(spark: SparkSession, docs: DataFrame, workDir: Path,
                 idCol: String = "doc_id"): DataFrame = {
    val dropsTbl = new LakeTable(spark, workDir.resolve("drops").toString)
    val dropped = readOrEmpty(spark, dropsTbl, Nil,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          docs.schema(idCol).dataType, nullable = false))))()
      .select(col("id").as(idCol)).distinct()
    docs.select(col(idCol))
      .join(dropped.withColumn("_drop", lit(true)), Seq(idCol), "left_outer")
      .select(col(idCol), col("_drop").isNull.as("kept"))
      .orderBy(col(idCol))
  }

  /** One-shot form: ingest `docs` as a single arrival and report the
    * kept set — the batch-simulating entry the query pack drives.
    * Triggers batch two arrival files each: per-trigger cost is FIXED
    * job-scheduling overhead (measured in SCALE.md), so trigger sizing
    * is the first-order production knob; the drop rule is order- and
    * batching-independent, and the spec suite pins the adversarial
    * 1-file-per-trigger path through [[ingest]] directly.
    */
  def dedupAtIngest(spark: SparkSession, docs: DataFrame, workDir: Path,
                    slices: Int = 4, textCol: String = "text",
                    idCol: String = "doc_id", n: Int = 3,
                    numHashes: Int = 128, bands: Int = 32,
                    threshold: Double = 0.5,
                    indexBuckets: Int = 16,
                    compactEvery: Int = 4,
                    candPairCap: Int = DefaultCandPairCap): DataFrame = {
    ingest(spark, docs, workDir, "initial", slices, textCol, idCol, n,
      numHashes, bands, threshold, indexBuckets, compactEvery, candPairCap,
      filesPerTrigger = 2)
    keptReport(spark, docs, workDir, idCol)
  }
}
