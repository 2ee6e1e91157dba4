package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{HashFunctions, ShingleHashFunctions, TextScanFunctions, VectorFunctions}
import graft.ops.TextOps

/** Kernel cost in ns/row: the noop-sink time of a projection with the
  * kernel minus the same projection of its inputs without it, over
  * cached generated rows. Medians of alternating repeats.
  */
object Kernels {
  val Rows = 20000
  val Repeats = 5

  def run(spark: SparkSession, seed: Long): Map[String, Double] = {
    val gen = new DocGen(seed)
    val rows = gen.batch(Rows / 10).map(r => (r.getString(1), r.getSeq[Float](2).toArray))
    val cents = gen.centroids.toSeq
    import spark.implicits._
    // 10 generated docs per base row keep the driver-side generation small
    val df = spark.createDataset(rows).toDF("text", "vec")
      .withColumn("copy", explode(sequence(lit(0), lit(9))))
      .withColumn("vec2", reverse(col("vec")))
      .withColumn("words", TextOps.words(col("text")))
      .drop("copy").repartition(4).cache()
    df.count()
    val kernels: Seq[(String, Seq[String], Column)] = Seq(
      ("cosine_sim", Seq("vec", "vec2"), VectorFunctions.cosine_sim(col("vec"), col("vec2"))),
      ("minhash_sig", Seq("words"), HashFunctions.minhash_sig(col("words"), 128)),
      ("shingle_hashes", Seq("words"), ShingleHashFunctions.shingle_hashes(col("words"), 3)),
      ("token_count", Seq("text"), TextScanFunctions.token_count(col("text"))),
      ("simhash64", Seq("words"), HashFunctions.simhash64(col("words"))),
      ("centroid_argmax", Seq("vec"), VectorFunctions.centroid_argmax(col("vec"), cents)))
    def noop(d: DataFrame): Double = {
      val t0 = System.nanoTime()
      d.write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0).toDouble
    }
    val out = kernels.map { case (name, inputs, k) =>
      val base = df.select(inputs.map(col): _*)
      val withK = df.select(k.as("k"))
      noop(base); noop(withK) // codegen and JIT
      val (bs, ks) = (1 to Repeats).map(_ => (noop(base), noop(withK))).unzip
      s"functions.$name.ns_per_row" -> (Main.median(ks) - Main.median(bs)) / Rows
    }.toMap
    df.unpersist()
    out
  }
}
