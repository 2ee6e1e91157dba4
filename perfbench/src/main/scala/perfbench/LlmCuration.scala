package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextScanFunctions._
import graft.ops.{Dedup, IncrementalDedup, IvfAnn}

/** Seeded documents with a controlled near-duplicate rate and
  * clustered embeddings. A near-duplicate copies an earlier document
  * and replaces one word; an exact duplicate copies it whole.
  */
final class DocGen(seed: Long) {
  import DocGen._
  private val rnd = new java.util.SplittableRandom(seed)
  private val vocab: Array[String] = Array.tabulate(Vocab) { i =>
    if (i < StopWords.size) StopWords(i)
    else { val r = new java.util.SplittableRandom(seed * 7919 + i); Seq.fill(3 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString }
  }
  val centroids: Array[Array[Float]] = Array.fill(Clusters)(Array.fill(Dim)((rnd.nextDouble() * 2 - 1).toFloat))
  private var nextId = 0L
  private val history = mutable.ArrayBuffer.empty[String]

  /** A unit-free point near a random cluster centre. */
  def embedding(): Array[Float] = {
    val c = centroids(rnd.nextInt(Clusters))
    c.map(x => (x + rnd.nextGaussian() * Spread).toFloat)
  }
  private def word(): String = vocab(math.min(Vocab - 1, (math.abs(rnd.nextGaussian()) * Vocab / 4).toInt))
  private def fresh(): String = Seq.fill(MinWords + rnd.nextInt(MaxWords - MinWords))(word()).mkString(" ") +
    (if (rnd.nextInt(4) == 0) s", ${rnd.nextInt(1000)}." else ".")

  /** `n` documents: (doc_id, text, embedding). */
  def batch(n: Int): Seq[Row] = (0 until n).map { _ =>
    val roll = rnd.nextDouble()
    val text =
      if (history.nonEmpty && roll < ExactDupRate) history(rnd.nextInt(history.size))
      else if (history.nonEmpty && roll < ExactDupRate + NearDupRate) {
        val ws = history(rnd.nextInt(history.size)).split(" ")
        ws(rnd.nextInt(ws.length - 1)) = word()
        ws.mkString(" ")
      } else fresh()
    history += text
    val id = nextId; nextId += 1
    Row(id, text, embedding().toSeq)
  }
}

object DocGen {
  val Vocab = 3000
  val MinWords = 40
  val MaxWords = 90
  val ExactDupRate = 0.03
  val NearDupRate = 0.12
  val Clusters = 16
  val Dim = 32
  val Spread = 0.15
  val StopWords = Seq("the", "a", "of", "and", "is", "to", "in")
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
}

/** LLM data curation rounds: at-ingest near-duplicate removal of a new
  * document batch, the TextScan quality kernels over it, and IVF
  * top-k of its embeddings against a clustered corpus.
  */
final class LlmCuration(ctx: Ctx) extends Workload {
  import LlmCuration._
  private val spark = ctx.spark

  private var dir: Path = _
  private var gen: DocGen = _
  private var corpus: DataFrame = _
  private var corpusArr: Array[(Long, Array[Float])] = _
  private var rounds = 0
  private var recallHits = 0L
  private var recallTotal = 0L

  def lakeDir: Path = dir.resolve("lake")
  private def landing(name: String): String = dir.resolve(s"landing/$name").toString
  def cycleOps: Int = CycleRounds
  def classWeights: Map[String, Double] = Map("round" -> 1.0)

  def setup(d: Path): Unit = {
    dir = d
    Files.createDirectories(d)
    gen = new DocGen(ctx.seed)
    rounds = 0; recallHits = 0L; recallTotal = 0L
    val vecs = (0 until CorpusVectors).map(i => Row(i.toLong, gen.embedding().toSeq))
    val vecSchema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
    // the corpus is read in place, never stored in the lake: it is not
    // source bytes of the amplification ratios
    ctx.unmeasured(spark.createDataFrame(vecs.asJava, vecSchema).write.parquet(landing("corpus")))
    corpus = spark.read.parquet(landing("corpus"))
    corpusArr = vecs.map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toArray
    // the index the rounds grow: a first batch ingested once
    ingest(land(gen.batch(BatchDocs), "history"), "history")
  }

  /** Land a batch (its arrival) and return it as read back. */
  private def land(rows: Seq[Row], name: String): DataFrame = {
    // uncompressed: snappy's ratio on this text swings by a third from
    // batch to batch, and the landed bytes are the source bytes of
    // `write_amp` and `space_amp`
    ctx.land(spark.createDataFrame(rows.asJava, DocGen.Schema).coalesce(1)
      .write.option("compression", "none").parquet(landing(name)))
    spark.read.parquet(landing(name))
  }
  private def ingest(docs: DataFrame, name: String): Unit =
    ctx.span("ops.ingest_dedup")(
      IncrementalDedup.ingest(spark, docs.select("doc_id", "text"), lakeDir, name, slices = 1))

  /** Warm the kernels and ANN paths untimed on the history batch (the
    * set-up already ran its ingest), so the first timed round is not a
    * cold start.
    */
  override def prepareChecks(): Unit = {
    val docs = spark.read.parquet(landing("history"))
    kernelSums(docs)
    ann(docs)
  }

  private def kernelSums(docs: DataFrame): Row = docs.agg(
    sum(token_count(col("text"))), sum(word_count(col("text"))), sum(stop_count(col("text"))),
    sum(punct_count(col("text"))), sum(has_cjk(col("text")).cast("int"))).head
  private def ann(docs: DataFrame): Array[Row] =
    IvfAnn.annTopK(corpus, docs.select(col("doc_id").as("vec_id"), col("embedding")),
      K, nlist = NList, nprobe = NProbe).collect()

  def op(i: Int): Op = {
    val f0 = ctx.failures
    val rows = gen.batch(BatchDocs)
    val name = f"round$rounds%04d"
    rounds += 1
    var kernels: Row = null
    var neighbours: Array[Row] = null
    val docs = land(rows, name)
    val wall = ctx.timed {
      ingest(docs, name)
      kernels = ctx.span("functions.text_kernels")(kernelSums(docs))
      neighbours = ctx.span("ops.ann_topk")(ann(docs))
    }
    ctx.unmeasured {
      checkKernels(docs, kernels)
      checkAnn(rows, neighbours)
    }
    Op("round", wall, BatchDocs.toLong, ctx.failures == f0)
  }

  /** Kernel sums equal the same counts in plain Spark expressions. */
  private def checkKernels(docs: DataFrame, got: Row): Unit = {
    val words = split(col("text"), " ")
    val want = docs.agg(
      sum(size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))),
      sum(size(filter(words, w => w =!= lit("")))),
      sum(size(filter(words, w => w.isin(DocGen.StopWords: _*))))).head
    ctx.check((0 until 3).forall(i => got.getLong(i) == want.getLong(i)) && got.getLong(4) == 0L,
      s"text kernels $got vs plain Spark $want")
  }

  /** Every probe gets k neighbours in rank order with the similarity
    * the exact cosine gives, and no ANN rank beats the exact rank.
    */
  private def checkAnn(rows: Seq[Row], ann: Array[Row]): Unit = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val byProbe = ann.groupBy(_.getLong(0))
    val ok = rows.forall { r =>
      val v = r.getSeq[Float](2).toArray
      val got = byProbe.getOrElse(r.getLong(0), Array.empty[Row]).sortBy(_.getInt(1))
      val sims = corpusArr.map(c => cos(v, c._2))
      val top = sims.indices.sortBy(i => -sims(i)).take(K) // corpus ids are indices
      recallHits += got.count(g => top.contains(g.getLong(2).toInt)); recallTotal += K
      got.length == K && got.map(_.getInt(1)).toSeq == (1 to K) &&
        got.indices.forall { j =>
          val s = got(j).getDouble(3)
          math.abs(s - sims(got(j).getLong(2).toInt)) < 1e-4 && s <= sims(top(j)) + 1e-4
        }
    }
    ctx.check(ok, "ANN top-k is not a valid ranked neighbour list")
  }

  /** The kept set equals the batch (exhaustive) near-duplicate answer
    * over every document ingested so far.
    */
  def finalChecks(): Seq[Boolean] = {
    val all = spark.read.parquet(dir.resolve("landing").toString + "/{history,round*}").select("doc_id", "text")
    val got = IncrementalDedup.keptReport(spark, all, lakeDir).collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val dropped = Dedup.ngramJaccardPairs(all, threshold = 0.5).select("b_id").collect().map(_.getLong(0)).toSet
    val want = got.keys.map(id => id -> !dropped(id)).toMap
    Seq(ctx.check(got == want && dropped.nonEmpty,
      s"kept set differs from batch Dedup on ${got.count { case (k, v) => want(k) != v }} docs"))
  }

  override def detail(ops: Seq[Op]): Map[String, Double] = Map(
    "docs_per_s" -> ops.map(_.rows).sum / (ops.map(_.wallNs).sum / 1e9),
    "ann_recall_at_k" -> recallHits.toDouble / math.max(1L, recallTotal))
}

object LlmCuration {
  val BatchDocs = 100
  val CorpusVectors = 5000
  val K = 10
  val NList = 16
  val NProbe = 4
  val CycleRounds = 2
}
