package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Sketches, TextExprs, VectorExprs}
import graft.queries.Vectors
import graft.sources.Tables

/** Per-row cost of the engine's public Column functions: one narrow
  * job through the function minus the same job without it (for the
  * minhash sketch: with one hash function instead of 128), divided by
  * the row (or pair) count. Inputs are cached and replicated `Copies`
  * times so the kernel, not job overhead, dominates. */
object Functions {
  val Reps = 3
  val Copies = 20

  /** Median wall time of `Reps` runs after one untimed run. */
  private def timed(df: => DataFrame): Double = {
    df.collect()
    val ts = (0 until Reps).map { _ =>
      val t = System.nanoTime
      df.collect()
      (System.nanoTime - t).toDouble
    }.sorted
    ts(Reps / 2)
  }

  def measure(spark: SparkSession, dir: String): Map[String, Double] = {
    val copies = spark.range(Copies).select(col("id").as("copy"))
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .crossJoin(copies).cache()
    val n = docs.count().toDouble
    val toks = TextExprs.tokens(col("text"))
    // octet_length is O(1) on UTF8String: the text is read, not scanned
    val scan = timed(docs.agg(sum(octet_length(col("text")))))
    val tok = timed(docs.agg(sum(size(toks))))
    val grams = timed(docs.agg(sum(size(TextExprs.hashedGramsN(toks, 3)))))
    // the sketch does 128 hashes per shingle: a quarter of the copies
    // is plenty
    val shDocs = docs.filter(col("copy") < Copies / 4)
    val nSh = shDocs.count().toDouble
    val sh = shDocs.select(col("doc_id"), col("copy"),
      explode(TextExprs.hashedGramsN(toks, 3)).as("s")).cache()
    sh.count()
    // same aggregate operator with one hash function as the baseline;
    // the outer max keeps the sketch from being pruned as unused
    def sig(k: Int) = sh.groupBy("doc_id", "copy")
      .agg(Sketches.minhash(col("s"), k).as("sig"))
      .agg(max(element_at(col("sig"), 1)))
    val grouped = timed(sig(1))
    val minhash = timed(sig(128))
    sh.unpersist()
    docs.unpersist()

    val e = Vectors.emb(spark, dir).select(col("vec_id"), col("v")).cache()
    val q = e.filter(col("vec_id") < 512).select(col("v").as("q"))
    val pairs = e.count().toDouble * q.count()
    val cross = e.crossJoin(broadcast(q))
    val dotT = timed(cross.agg(sum(VectorExprs.dot(col("v"), col("q")))))
    val sizeT = timed(cross.agg(sum(size(col("v")) + size(col("q")))))
    e.unpersist()
    Map(
      "tokens_ns_per_doc" -> (tok - scan) / n,
      "hashed_grams_ns_per_doc" -> (grams - tok) / n,
      "minhash_ns_per_doc" -> (minhash - grouped) / nSh * 128 / 127,
      "dot_ns_per_pair" -> (dotT - sizeT) / pairs)
  }
}
