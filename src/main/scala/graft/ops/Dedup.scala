package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.HashFunctions._

/** Order-independent 64-bit xor accumulator — the fixpoint-signature
  * rider for [[Dedup.nearDupClusters]]'s per-round checkpoints.
  */
private[ops] final class XorAccumulator
    extends org.apache.spark.util.AccumulatorV2[Long, Long] {
  private var acc = 0L
  override def isZero: Boolean = acc == 0L
  override def copy(): XorAccumulator = { val c = new XorAccumulator; c.acc = acc; c }
  override def reset(): Unit = acc = 0L
  override def add(v: Long): Unit = acc ^= v
  override def merge(o: org.apache.spark.util.AccumulatorV2[Long, Long]): Unit =
    acc ^= o.value
  override def value: Long = acc
}

/** Deduplication operators for LLM training-data pipelines, from exact
  * to fuzzy (north star; the reference's only dedup is
  * `dropDuplicates()`, dags/etl.py:68 — SURVEY.md §2.4 A3).
  *
  * Scale design: nothing here compares all pairs. Exact dedup is one
  * hash aggregate; near-dup goes through candidate generation (inverted
  * index or LSH banding) so the join fan-out is proportional to true
  * collisions, then an exact verify pass removes false positives.
  * Outputs are deterministic (no sampling, fixed seeds).
  */
object Dedup {

  /** In-bucket ordered pair expansion: rows carrying the same bucket
    * key become (a, b) struct pairs with a < b (by the struct's first
    * field), via a self-join on the key. The join keys are compact
    * (hashed longs), and a sort-merge join buffers one side's key
    * group in a SPILLABLE row array — a pathological mega-bucket (one
    * shingle/band shared by 10⁸ docs) degrades to disk instead of
    * OOMing, which is why this deliberately isn't a
    * groupBy-collect_list expansion (per-group aggregation buffers
    * don't spill within a group). Quadratic OUTPUT on hot buckets is
    * inherent to pair mining — production corpora bound it upstream by
    * document frequency (see [[graft.queries.TextQueries.winnowOverlap]]
    * for the df-cap pattern). `docStruct` must put the orderable id
    * first.
    */
  private[ops] def bucketPairs(inv: DataFrame, keyCols: Seq[String],
                               docStruct: org.apache.spark.sql.Column): DataFrame = {
    val tagged = inv.select(keyCols.map(col) :+ docStruct.as("d"): _*)
    tagged.select(keyCols.map(col) :+ col("d").as("a"): _*)
      .join(tagged.select(keyCols.map(col) :+ col("d").as("b"): _*), keyCols)
      .where(col("a") < col("b"))
      .select(col("a"), col("b"))
  }

  /** Exact n-gram Jaccard similarity join via shingle inverted index.
    *
    * Shingles live ONLY as 64-bit hashes ([[graft.functions.ShingleHashes]]
    * emits XXH64(shingle bytes) without materializing the strings):
    * the inverted index shuffles 8-byte longs, not ~30-byte strings
    * (a spurious intersection needs an xxh64 collision between two
    * shingles of the same document pair — P ≈ shingles²/2⁶⁵,
    * negligible at any corpus size that fits a cluster) → self-join on
    * the hash → count shared shingles per pair → jaccard from set
    * sizes. The shuffle key is the shingle hash, so skew is bounded by
    * shingle document frequency, not corpus size.
    */
  def ngramJaccardPairs(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id", n: Int = 3,
                        threshold: Double = 0.5): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
        graft.functions.ShingleHashFunctions
          .shingle_hashes(TextOps.words(col(textCol)), n).as("shingles"))
      .withColumn("sz", size(col("shingles")))
    val inv = sh.select(col("id"), col("sz"),
      explode(col("shingles")).as("sh_h"))
    bucketPairs(inv, Seq("sh_h"), struct(col("id"), col("sz")))
      .groupBy(col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.sz").as("a_sz"), col("b.sz").as("b_sz"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("a_sz") + col("b_sz") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** N-gram CONTAINMENT similarity join — the asymmetric complement of
    * [[ngramJaccardPairs]]: containment = |A∩B| / min(|A|,|B|), the
    * criterion that catches a document LARGELY EMBEDDED in a bigger one
    * (quote farms, boilerplate wrappers, chunk-of-page duplicates) that
    * Jaccard misses because the union is dominated by the larger side.
    * Same inverted-index shape and 8-byte-hash shuffle economics as the
    * Jaccard join; only the denominator differs, so skew and cost are
    * identical. Emits both set sizes so a curation policy can keep the
    * superset document (the smaller side is the contained one).
    */
  def ngramContainmentPairs(docs: DataFrame, textCol: String = "text",
                            idCol: String = "doc_id", n: Int = 3,
                            threshold: Double = 0.8): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
        graft.functions.ShingleHashFunctions
          .shingle_hashes(TextOps.words(col(textCol)), n).as("shingles"))
      .withColumn("sz", size(col("shingles")))
    val inv = sh.select(col("id"), col("sz"),
      explode(col("shingles")).as("sh_h"))
    bucketPairs(inv, Seq("sh_h"), struct(col("id"), col("sz")))
      .groupBy(col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.sz").as("a_sz"), col("b.sz").as("b_sz"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment",
        col("inter").cast("double") / least(col("a_sz"), col("b_sz")))
      .where(col("containment") >= threshold)
      .select(col("a_id"), col("b_id"),
        col("a_sz"), col("b_sz"), col("containment"))
  }

  /** Shared banded-minhash kernel: per-document shingle-hash sets
    * ((id, sz, shingles) — the exact-verify side) and LSH band-bucket
    * rows ((id, band, bh) — the candidate-join side). Batch
    * ([[minHashLshPairs]]) and incremental
    * ([[IncrementalDedup.dedupAtIngest]]) dedup both build on THIS
    * definition, so their kept sets cannot drift apart.
    *
    * Shingles live as 64-bit hashes end to end: signature positions
    * re-mix the 8-byte base hash (minhash_sig_hashes) instead of
    * re-reading shingle strings, and the exact verify intersects hash
    * sets (spurious intersection needs an xxh64 collision between two
    * shingles of the same pair — negligible at any feasible corpus).
    */
  private[ops] def bandedSignatures(docs: DataFrame, textCol: String, idCol: String,
                                    n: Int, numHashes: Int, bands: Int): (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sh = docs.select(col(idCol).as("id"),
        graft.functions.ShingleHashFunctions
          .shingle_hashes(TextOps.words(col(textCol)), n).as("shingles"))
      .withColumn("sz", size(col("shingles")))
      .where(col("sz") > 0)
    val banded = sh
      .withColumn("sig",
        graft.functions.ShingleHashFunctions.minhash_sig_hashes(col("shingles"), numHashes))
      .select(col("id"),
        explode(transform(sequence(lit(0), lit(bands - 1)), b =>
          struct(b.as("band"), xxhash64(b, slice(col("sig"), b * r + 1, lit(r))).as("bh"))))
          .as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    (sh.select(col("id"), col("sz"), col("shingles")), banded)
  }

  /** MinHash + LSH banding near-dup candidates, exact-verified.
    *
    * signature(k hashes) → `bands` bands of k/bands rows → band-hash
    * join buckets candidates (collision prob 1-(1-s^r)^b) → candidates
    * are re-checked with exact shingle Jaccard so the output contains
    * no false positives. With k=128, bands=32 (r=4), a pair at
    * jaccard 0.9 is missed with prob (1-0.9^4)^32 ≈ 1e-15.
    *
    * This is the 100 TB path: cost is O(corpus × k) hashing + a
    * bucket-join whose fan-out tracks true near-dup density, never
    * O(n²).
    */
  def minHashLshPairs(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id", n: Int = 3,
                      numHashes: Int = 128, bands: Int = 32,
                      threshold: Double = 0.5): DataFrame = {
    val (sh, banded) = bandedSignatures(docs, textCol, idCol, n, numHashes, bands)
    val cand = bucketPairs(banded, Seq("band", "bh"), struct(col("id")))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
    // exact verify: recompute jaccard on the candidate pairs only
    val sets = sh.select(col("id"), col("shingles"), col("sz"))
    cand
      .join(sets.select(col("id").as("a_id"), col("shingles").as("a_sh"), col("sz").as("a_sz")), Seq("a_id"))
      .join(sets.select(col("id").as("b_id"), col("shingles").as("b_sh"), col("sz").as("b_sz")), Seq("b_id"))
      .withColumn("inter", size(array_intersect(col("a_sh"), col("b_sh"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("a_sz") + col("b_sz") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** SimHash near-dup pairs: 64-bit fingerprints, banded into 4×16-bit
    * chunks (a pair within Hamming distance 3 must agree on at least
    * one chunk — pigeonhole), verified by exact popcount.
    * `portableHash = true` derives the per-token bits from md5 instead
    * of XXH64, making the fingerprints restatable in any SQL engine
    * (the DuckDB oracle for `d_simhash_pairs` recomputes them
    * bit-for-bit) at the cost of a slower per-token hash.
    */
  def simHashPairs(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id", maxHamming: Int = 3,
                   portableHash: Boolean = false): DataFrame = {
    // pigeonhole completeness requires one more chunk than the allowed
    // distance: d differing bits cannot touch all d+1 chunks
    require(maxHamming >= 0 && maxHamming <= 15, s"bad maxHamming $maxHamming")
    val chunks = maxHamming + 1
    val width = (64 + chunks - 1) / chunks
    val mask = if (width >= 64) -1L else (1L << width) - 1
    val fp = docs.select(col(idCol).as("id"),
        simhash64(TextOps.words(col(textCol)), md5Bits = portableHash).as("sh"))
    val banded = fp.select(col("id"), col("sh"),
        explode(array((0 until chunks).map(c =>
          struct(lit(c).as("chunk"),
            shiftrightunsigned(col("sh"), c * width).bitwiseAND(lit(mask)).as("ch"))): _*))
          .as("cc"))
      .select(col("id"), col("sh"), col("cc.chunk").as("chunk"), col("cc.ch").as("ch"))
    bucketPairs(banded, Seq("chunk", "ch"), struct(col("id"), col("sh")))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Embedding near-dup: cosine ≥ threshold via hyperplane-LSH
    * candidate buckets, exact-verified — see
    * [[Similarity.cosineDupPairs]].
    */

  /** Near-dup clusters from a pair list: connected components over the
    * similarity graph, labeling every involved doc with its component's
    * minimum doc id — the canonical "keep one per cluster" step that
    * turns pair mining into an actual dedup.
    *
    * DataFrame-native alternating large-star / small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    * O(log n) rounds regardless of component diameter (a Pregel
    * min-label propagation needs O(diameter) supersteps — pathological
    * on chain-shaped components), each round two hash aggregations +
    * joins over the edge list, whole-stage-codegen'd, no RDD caching or
    * vertex-cut machinery. At 100 TB the pair list tracks true near-dup
    * density, so the edge list is small relative to the corpus and the
    * round count is the cost that matters.
    */
  // Both star rounds are deliberately union-free: unioning branches
  // whose projections alias swapped columns leaks input attributes into
  // the branches' constraint sets, and Union.rewriteConstraints in
  // Spark 4.1 throws on constraints referencing non-output attributes.
  // explode(array(...)) expresses the same row fan-out inside one
  // projection.

  /** Large-star round: every node links its strictly-larger neighbors
    * to its neighborhood minimum m(u) = min(Γ(u) ∪ {u}). Input and
    * output edges are canonical (u < v): m ≤ u < v, so the emitted
    * (m, v) is already canonical.
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val dir = edges.select(explode(array(
        struct(col("u").as("u"), col("v").as("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val m = dir.groupBy(col("u")).agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    dir.where(col("v") > col("u"))
      .join(m, Seq("u"))
      .where(col("v") =!= col("m"))
      .select(col("m").as("u"), col("v"))
      .distinct()
  }

  /** Small-star round: every node links its smaller-side neighborhood
    * (and itself) to that neighborhood's minimum m. On canonical edges
    * the smaller-side neighborhood of v is exactly {u : (u,v) ∈ E}, so
    * per edge: the u = m edge survives as the (m, v) self-link and
    * every other u relinks to (m, u). Join-based — the only per-group
    * state is the constant-size min() buffer (a collect_set of the
    * neighborhood would hold a root's entire component in one
    * non-spillable aggregation buffer at convergence).
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val m = edges.groupBy(col("v")).agg(min(col("u")).as("m")) // m < v
    edges.join(m, Seq("v"))
      .select(when(col("u") === col("m"),
          struct(col("u").as("u"), col("v").as("v")))
        .otherwise( // least = m: m is the group minimum
          struct(col("m").as("u"), col("u").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .where(col("u") =!= col("v")).distinct()
  }

  /** Eagerly materialize the canonical edge frame (localCheckpoint)
    * AND compute its fixpoint signature (count, xor of row hashes) in
    * the SAME job via accumulators fed by a pass-through mapPartitions
    * — the separate per-round signature aggregate was one more
    * fixed-cost job on every star round. xor/sum are order-independent
    * and a re-run task re-adds its partition's EXACT contribution
    * (xor: self-canceling only in pairs — Spark only re-runs a lost
    * task's own partition, and accumulator updates from failed/retried
    * tasks of the SAME partition are deduplicated for result-stage
    * accumulators; localCheckpoint materialization is such a stage).
    */
  private def checkpointWithSignature(df: DataFrame): (DataFrame, (Long, Long)) = {
    val spark = df.sparkSession
    val cnt = spark.sparkContext.longAccumulator("ccEdgeCount")
    val xor = new XorAccumulator
    spark.sparkContext.register(xor, "ccEdgeXor")
    val cp = df.mapPartitions { it =>
      it.map { r =>
        cnt.add(1L)
        // same hash the old aggregate used: xxhash64(u, v)
        xor.add(org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(r.getLong(1),
          org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(r.getLong(0), 42L)))
        r
      }
    }(org.apache.spark.sql.Encoders.row(df.schema)).localCheckpoint()
    (cp, (cnt.value, xor.value))
  }

  def nearDupClusters(pairs: DataFrame): DataFrame = {
    // undirected edge list, canonicalized u < v. Fixpoint signature =
    // (edge count, xor of per-edge hashes): order-independent, cannot
    // overflow; a false convergence needs two distinct same-size edge
    // sets whose 64-bit hash XORs collide (~2⁻⁶⁴ — the same class of
    // risk as any hash-partitioned shuffle). The signature rides the
    // checkpoint job itself instead of costing one aggregate job per
    // round (fixed per-job cost dominates at fixpoint sizes).
    var (edges, sig) = checkpointWithSignature(pairs
      .select(least(col("a_id"), col("b_id")).cast("long").as("u"),
        greatest(col("a_id"), col("b_id")).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct())
    var stable = false
    var rounds = 0
    while (!stable && rounds < 64) { // ≫ the O(log n) bound for any feasible graph
      rounds += 1
      // one checkpoint per round: constant-size plans however many
      // rounds convergence takes
      val (next, nextSig) = checkpointWithSignature(smallStar(largeStar(edges)))
      stable = nextSig == sig
      sig = nextSig
      edges = next
    }
    if (!stable) throw new IllegalStateException(
      s"connected components did not converge after $rounds star rounds")
    // converged stars: (root=u, member=v) per edge; roots label themselves
    edges.select(explode(array(
        struct(col("v").as("doc_id"), col("u").as("cluster_root")),
        struct(col("u").as("doc_id"), col("u").as("cluster_root")))).as("e"))
      .select(col("e.doc_id").as("doc_id"), col("e.cluster_root").as("cluster_root"))
      .distinct()
  }

  /** Apply dedup: keep one canonical doc (min id) per near-dup cluster,
    * plus every doc not involved in any pair.
    */
  def dedupByClusters(docs: DataFrame, pairs: DataFrame,
                      idCol: String = "doc_id"): DataFrame = {
    val clusters = nearDupClusters(pairs)
    val drop = clusters.where(col("doc_id") =!= col("cluster_root"))
      .select(col("doc_id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }
}
