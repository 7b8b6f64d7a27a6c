package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.functions.TextExprs.tokens

/** Build-once BM25 postings (k1=1.2, b=0.75, Lucene-style idf) — the
  * lexical twin of IvfIndex: the corpus-wide term statistics are
  * derived ONCE per corpus version (IndexLifecycle.buildOnce), and
  * every query is a probe: broadcast query terms ⋈ postings on t, a
  * sum of precomputed weights per (query, doc). The reference builds
  * its retrieval store once and answers each question with a top-k
  * lookup against it (conversadocs/bones.py:74-78); re-deriving
  * tf/dl/df/stats per question billed every answer for the build.
  *
  * Layout under `indexDir`:
  *   postings/ (t, doc_id, tf, idf, w), laid out by t — one row per
  *             distinct (term, document); `w` is that term's whole
  *             BM25 contribution to the document's score
  *
  * `idf` and `w` are the per-term BM25 expressions evaluated at build
  * time over the same doubles a per-query derivation would see, so
  * each weight is bit-identical to it; only the per-(query, doc)
  * float sum is left to the probe (its summation order was never
  * fixed, which is why rankings use the printed 4dp grid). */
object Bm25Index {

  /** The postings layout as written — the read side declares it
    * instead of inferring it (an inferring parquet read starts a
    * footer-reading job per load). */
  val PostingsSchema: StructType = StructType(Seq(
    StructField("t", StringType), StructField("doc_id", LongType),
    StructField("tf", DoubleType), StructField("idf", DoubleType),
    StructField("w", DoubleType)))

  /** Batch-build from a (doc_id, text) document frame. One
    * tokenization: dl, df and the corpus stats regroup the (doc, t, tf)
    * aggregate, so the tf shuffle is shared. Counts are exact in
    * doubles, so dl = Σ tf and avgdl = Σ dl / n equal the token
    * counts they stand for. Documents without a token have no
    * postings and do not count towards n. */
  def build(docs: DataFrame, indexDir: String): Unit = {
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val df = tf.groupBy(col("t")).agg(count(lit(1)).cast("double").as("df"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      (sum(col("dl")) / count(lit(1))).as("avgdl"))
    val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1)
    val termScore = idf * col("tf") * 2.2 /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val post = tf.join(df, "t").join(dl, "doc_id").crossJoin(broadcast(stats))
      .withColumn("idf", idf).withColumn("w", termScore)
    IndexLifecycle.laidOut(post, PostingsSchema)
      .repartition(col("t")).sortWithinPartitions(col("t"), col("doc_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/postings")
  }

  def postings(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.schema(PostingsSchema).parquet(s"$indexDir/postings")

  /** BM25 ranking of every (query_id, t) query term set against the
    * postings: scores sum the matched terms' weights per (query,
    * doc), the query's own document excluded, and `rn` ranks on the
    * printed 4dp grid with doc_id breaking ties. Query terms must be
    * distinct per query (a repeated term counts twice).
    *
    * The grid rule (the q_decile_lift rule): a BM25 score is a float
    * sum whose term order differs between engines, so two docs with
    * mathematically equal scores (exact replicas at scale) land ulps
    * apart in engine-dependent order — raw-score ordering flips their
    * ranks (caught by the sf1 gate); on the quantized grid the tie is
    * exact and doc_id breaks it identically everywhere. */
  def ranked(postings: DataFrame, qt: DataFrame): DataFrame =
    broadcast(qt).join(postings, "t")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w")).as("score"))
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(round(col("score"), 4).desc, col("doc_id"))))
}
