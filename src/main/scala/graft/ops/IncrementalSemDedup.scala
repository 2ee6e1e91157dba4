package graft.ops

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Async
import graft.lake.{LakePredicate, LakeTable, WriteMode}
import graft.functions.HashFunctions._
import graft.functions.VectorFunctions._

/** Incremental (at-ingest) SEMANTIC dedup — the embedding-space member
  * of the at-ingest family next to [[IncrementalDedup]]'s MinHash
  * path: every arriving micro-batch of vectors is near-dup-checked
  * (exact cosine ≥ threshold) against the hyperplane-LSH bucket index
  * of ALL previously ingested vectors, then its own buckets join the
  * index. This is the production shape for continuous embedding
  * ingest (a crawler emitting embeddings alongside text): new vectors
  * dedup against a 100 TB history WITHOUT rescanning it — per batch,
  * cost is the batch's bucketing plus a BUCKET-LOCAL candidate join
  * whose fan-out tracks true near-dup density.
  *
  * Drop semantics are ORDER-INDEPENDENT, same argument as
  * [[IncrementalDedup]]: a vector is dropped iff it exact-verifies at
  * cosine ≥ threshold against any smaller-id vector in the corpus;
  * whichever member of a pair has the LARGER id is tombstoned —
  * including retroactively when the smaller-id member arrives later.
  * Candidate recall is the multi-table SRP-LSH recall of
  * [[Similarity.cosineDupPairs]] (identical vectors collide in every
  * table unconditionally — argmax-free, the bucket is a pure function
  * of the vector and seed — so exact-duplicate recall is 1).
  *
  * Index state is three [[graft.lake.LakeTable]]s under `workDir`:
  *  - `buckets/`: (id, table, bucket, bk) SRP bucket rows,
  *    hive-partitioned by `bk = pmod(xxhash64(table, bucket),
  *    indexBuckets)` so a trigger scans only the partitions its own
  *    buckets land in, never the full history;
  *  - `vecs/`: (id, vec, bk) for the exact-cosine verify pass,
  *    partitioned by id-hash and pruned per trigger to the candidate
  *    ids' buckets;
  *  - `drops/`: accumulated tombstone ids.
  * The candidate-pair collect is capped at `candPairCap` with the same
  * distributed shuffled-verify fallback as [[IncrementalDedup]], and
  * every per-batch append is idempotent under foreachBatch replay via
  * the shared batch markers.
  */
object IncrementalSemDedup {

  private[ops] def ingestBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                               bucketsTbl: LakeTable, vecsTbl: LakeTable, dropsTbl: LakeTable,
                               vecCol: String, idCol: String, dim: Int,
                               tables: Int, bits: Int, threshold: Double,
                               indexBuckets: Int, compactEvery: Int,
                               candPairCap: Int): Unit = {
    import IncrementalDedup.{checkpointWithBkCensus, idempotentAppend, prof, readOrEmpty}
    prof(s"sem batch=$batchId start")
    // per-trigger fixed job costs dominate at micro-batch sizes, so
    // every independent job runs concurrently (the IncrementalDedup
    // pattern): the two checkpoint materializations, then the index
    // appends overlapped with the candidate/verify work below (the
    // index reads are bound to the pre-append snapshots, so the
    // overlap is safe)
    // hash-clustered by bk, partition count sized by adaptive
    // execution (see IncrementalDedup: a micro-batch is one task, each
    // bucket still lands in exactly one file per append)
    val vecsF = Async(spark)(batch
      .select(col(idCol).as("id"), col(vecCol).cast("array<float>").as("vec"))
      .withColumn("bk", pmod(xxhash64(col("id")), lit(indexBuckets)).cast("int"))
      .repartition(col("bk"))
      .localCheckpoint())
    // bucket census rides the checkpoint job (see
    // IncrementalDedup.checkpointWithBkCensus) — one fewer sequential
    // job per trigger than a separate distinct-collect
    val bucketsF = Async(spark)(checkpointWithBkCensus(batch
      .select(col(idCol).as("id"),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("table"),
            hyperplane_bucket(col(vecCol), dim, bits, seed = 104729L * (t + 1)).as("bucket"))): _*))
          .as("tb"))
      .select(col("id"), col("tb.table").as("table"), col("tb.bucket").as("bucket"))
      .withColumn("bk", pmod(xxhash64(col("table"), col("bucket")), lit(indexBuckets)).cast("int"))
      .repartition(col("bk"))))
    val vecs = Async.await(vecsF)
    // bucket-local index read: only the partitions this batch's LSH
    // buckets occupy — O(batch's bucket span), never O(history)
    val (buckets, bucketKeys) = Async.await(bucketsF)
    prof(s"sem batch=$batchId checkpoints done")
    val prevBuckets = readOrEmpty(spark, bucketsTbl,
      Seq(LakePredicate.In("bk", bucketKeys)), buckets.schema)()
    val vecsBase = vecsTbl.latest
    val bucketsAppendF = Async(spark)(idempotentAppend(bucketsTbl, buckets, batchId, Seq("bk"), Nil))
    val vecsAppendF = Async(spark)(idempotentAppend(vecsTbl, vecs, batchId, Seq("bk"), Nil))
    // candidates: batch × index bucket collisions + in-batch
    // collisions, canonical u < v; self-pairs guarded for replay
    val crossIdx = prevBuckets.select(col("table"), col("bucket"), col("id").as("pid"))
      .join(broadcast(buckets.drop("bk")), Seq("table", "bucket"))
      .where(col("id") =!= col("pid"))
      .select(least(col("id"), col("pid")).as("u"),
        greatest(col("id"), col("pid")).as("v"))
    val inBatch = buckets.select(col("table"), col("bucket"), col("id").as("a"))
      .join(buckets.select(col("table"), col("bucket"), col("id").as("b")),
        Seq("table", "bucket"))
      .where(col("a") < col("b"))
      .select(col("a").as("u"), col("b").as("v"))
    // materialized once and distinct-free (driver-side pair dedup
    // under the cap; distributed distinct only in the over-cap
    // fallback): the broadcast index joins make the candidate path
    // exchange-free — see IncrementalDedup for the rationale
    // (ADVICE r9 + per-trigger cost)
    val candQuery = crossIdx.unionByName(inBatch)
      .where(col("u") =!= col("v"))
      .withColumn("bku", pmod(xxhash64(col("u")), lit(indexBuckets)).cast("int"))
      .withColumn("bkv", pmod(xxhash64(col("v")), lit(indexBuckets)).cast("int"))
      .localCheckpoint()
    prof(s"sem batch=$batchId candidates checkpointed")
    val candSample = candQuery.limit(candPairCap + 1).collect()
    val underCap = candSample.length <= candPairCap
    prof(s"sem batch=$batchId cands=${candSample.length} underCap=$underCap")
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
    val prevVecs = readOrEmpty(spark, vecsTbl,
      Seq(LakePredicate.In("bk", candKeys)), vecs.schema)(vecsBase)
    val sets = vecs.unionByName(prevVecs).drop("bk")
    val uSide = sets
      .select(col("id").as("u"), col("vec").as("u_vec"))
      .join(cand, Seq("u"))
    val drops = sets
      .select(col("id").as("v"), col("vec").as("v_vec"))
      .join(if (underCap) broadcast(uSide) else uSide, Seq("v"))
      .where(cosine_sim(col("u_vec"), col("v_vec")) >= threshold)
      .select(col("v").as("id")).distinct() // larger id tombstoned
    val dropsAppendF = Async(spark)(if (hasCands)
      idempotentAppend(dropsTbl, drops.coalesce(1), batchId, Nil, Nil))
    Seq(dropsAppendF, bucketsAppendF, vecsAppendF).foreach(Async.await)
    prof(s"sem batch=$batchId appends done")
    // fragmentation-gated bin-pack (see IncrementalDedup.CompactMinDirs)
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      Seq(dropsTbl, bucketsTbl, vecsTbl)
        .map(t => Async(spark)(
          if (t.latest.exists(_.dirs.size >= IncrementalDedup.CompactMinDirs))
            t.compactBinPack(maxDirBytes = 64L << 20)))
        .foreach(Async.await)
  }

  /** Ingest one ARRIVAL of vectors: parquet slices land under a
    * `batchName`-scoped arrivals dir; the checkpointed AvailableNow
    * stream drains only files not yet consumed — repeated ingests
    * process just the new arrivals against the accumulated index
    * (the [[IncrementalDedup.ingest]] contract, for embeddings).
    */
  def ingest(spark: SparkSession, vectors: DataFrame, workDir: Path,
             batchName: String, slices: Int = 4, vecCol: String = "embedding",
             idCol: String = "vec_id", dim: Int = 64,
             tables: Int = 8, bits: Int = 10,
             threshold: Double = 0.99,
             indexBuckets: Int = 16,
             compactEvery: Int = 4,
             candPairCap: Int = IncrementalDedup.DefaultCandPairCap,
             filesPerTrigger: Int = 1): Unit = {
    val bucketsTbl = new LakeTable(spark, workDir.resolve("buckets").toString)
    val vecsTbl = new LakeTable(spark, workDir.resolve("vecs").toString)
    val dropsTbl = new LakeTable(spark, workDir.resolve("drops").toString)
    IncrementalDedup.ingestLoop(spark, vectors.select(col(idCol), col(vecCol)),
      workDir, batchName, slices, idCol, filesPerTrigger) { (batch, batchId) =>
      ingestBatch(spark, batch, batchId, bucketsTbl, vecsTbl, dropsTbl,
        vecCol, idCol, dim, tables, bits, threshold,
        indexBuckets, compactEvery, candPairCap)
    }
  }

  /** One-shot form: ingest `vectors` as a single arrival and report
    * (vec_id, kept) — kept = no verified cosine-dup with a smaller id.
    * Triggers batch two arrival files each (the amortized production
    * shape — per-trigger cost is FIXED job overhead, so trigger sizing
    * is the first-order knob; the spec suite pins the 1-file-per-
    * trigger path through [[ingest]] directly).
    */
  def dedupAtIngest(spark: SparkSession, vectors: DataFrame, workDir: Path,
                    slices: Int = 4, vecCol: String = "embedding",
                    idCol: String = "vec_id", dim: Int = 64,
                    tables: Int = 8, bits: Int = 10,
                    threshold: Double = 0.99,
                    indexBuckets: Int = 16,
                    compactEvery: Int = 4,
                    candPairCap: Int = IncrementalDedup.DefaultCandPairCap): DataFrame = {
    ingest(spark, vectors, workDir, "initial", slices, vecCol, idCol, dim,
      tables, bits, threshold, indexBuckets, compactEvery, candPairCap,
      filesPerTrigger = 2)
    IncrementalDedup.keptReport(spark, vectors, workDir, idCol)
  }
}
