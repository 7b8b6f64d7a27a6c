package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextExprs.tokens
import graft.operators.{IndexLifecycle, IvfIndex, LakeFs}
import graft.queries.{Retrieval, Vectors}
import graft.sources.Tables

/** Conversational QA, the reference's own use (bones.py:123-144).
  * Each op answers one conversation of 8 seeded questions: question =
  * first 10 tokens of a seeded doc, history = the 2 earlier turns,
  * condensed into query terms the way qa_pipeline condenses them;
  * BM25 top-3 through Retrieval.bm25RankedFor, the stuffed context,
  * then 8 seeded query vectors through IvfIndex.query (top-5, nprobe
  * 4) against the index set-up built through IndexLifecycle. */
final class RagQa(spark: SparkSession, dir: String, work: String, seed: Long)
    extends Workload {
  val Questions = 8
  val TopK = 3
  private val ivfDir = s"$work/state/ivf"
  private var nDocs = 0L
  private var vectors: Map[Long, Array[Double]] = Map.empty
  // each doc's first 10 tokens, and each term's corpus document
  // frequency: what the client condenses questions from
  private var questionTerms: Map[Long, Seq[String]] = Map.empty
  private var termDf: Map[String, Long] = Map.empty

  // measured at local[4] (DESIGN.md): by the fourth op latency is
  // within ~15% of its steady level
  override def warmupOps: Int = 4
  override def itemsPerOp: Int = Questions

  override def clean(): Unit = {
    Main.rmKeyed(dir)
    LakeFs.rmTree(ivfDir)
  }

  override def setup(): Unit = {
    Trace.span("sources.mirror") {
      Tables.documents(spark, dir)
      Tables.embeddings(spark, dir)
    }
    Trace.span("operators.ivf_build") {
      IndexLifecycle.buildOnce(ivfDir,
        IndexLifecycle.sourceKey(s"$dir/embeddings.parquet", "ivf-k16")) { tmp =>
        val e = Vectors.emb(spark, dir).cache()
        IvfIndex.build(spark, e, tmp, k = 16)
        e.unpersist()
        ()
      }
    }
    val docs = Tables.documents(spark, dir)
    nDocs = docs.count()
    questionTerms = docs.select(col("doc_id"), slice(tokens(col("text")), 1, 10))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).distinct).toMap
    termDf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .distinct().groupBy(col("t")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    vectors = Vectors.emb(spark, dir).select("vec_id", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
  }

  /** (turn, query_id) pairs: 8 distinct seeded doc ids in turn order. */
  private def pick(r: scala.util.Random, n: Long, k: Int): Seq[Long] =
    Iterator.continually((r.nextDouble() * n).toLong).distinct.take(k).toSeq

  /** qa_pipeline's condensation over a seeded conversation, done by
    * the client: question terms plus up to 3 of the rarest (corpus df
    * ascending, then term) terms of the 2 earlier turns not already in
    * the question. Retrieval.condensedQueries has the same rule but
    * only condenses the fixed conversation doc_id < 5. */
  private def condensed(turns: Seq[Long]): DataFrame = {
    import spark.implicits._
    val qs = turns.map(questionTerms)
    turns.indices.flatMap { j =>
      val q = qs(j).toSet
      val hist = qs.slice(math.max(0, j - 2), j).flatten.toSet -- q
      val picked = hist.toSeq.sortBy(t => (termDf(t), t)).take(3)
      (q ++ picked).toSeq.sorted.map(t => (turns(j), t))
    }.toDF("query_id", "t")
  }

  override def op(i: Int): OpResult = {
    val r = Main.rng(seed, i)
    val turns = pick(r, nDocs, Questions)
    val qvecs = pick(r, vectors.size.toLong, Questions)
    val t0 = System.nanoTime
    val terms = condensed(turns)
    val hits = Trace.span("queries.bm25") {
      val ranked = Trace.span("queries.build") {
        Retrieval.bm25RankedFor(spark, dir, terms)
          .filter(col("rn") <= TopK)
          .select(col("query_id"), col("rn"), col("doc_id"),
            round(col("score"), 4).as("score"))
      }
      Trace.span("exec.action")(ranked.collect())
    }
    val contexts = Trace.span("queries.context") {
      val schema = StructType(Seq(StructField("query_id", LongType),
        StructField("rn", IntegerType), StructField("doc_id", LongType)))
      val top = spark.createDataFrame(java.util.Arrays.asList(
        hits.map(h => Row(h.getLong(0), h.getInt(1), h.getLong(2))): _*), schema)
      val ctx = broadcast(top).join(Tables.documents(spark, dir), "doc_id")
        .groupBy(col("query_id"))
        .agg(array_join(transform(array_sort(collect_list(
          struct(col("rn"), col("text")))), x => x("text")), " | ").as("context"))
      Trace.span("exec.action")(ctx.collect())
    }
    val dense = Trace.span("operators.ivf_probe") {
      val schema = StructType(Seq(StructField("query_id", LongType),
        StructField("vq", ArrayType(DoubleType)), StructField("nq", DoubleType)))
      val q = spark.createDataFrame(java.util.Arrays.asList(qvecs.map { id =>
        val v = vectors(id)
        Row(id, v.toSeq, v.map(x => x * x).sum)
      }: _*), schema)
      val res = IvfIndex.query(spark, ivfDir, q, topK = 5, nprobe = 4)
      Trace.span("exec.action")(res.select("query_id", "rank", "neighbor_id",
        "cos_sim").collect())
    }
    val lat = (System.nanoTime - t0) / 1e9
    OpResult(lat, Map(
      "turns" -> turns,
      "hits" -> hits.map(h => Seq(h.getLong(0), h.getInt(1).toLong,
        h.getLong(2), h.getDouble(3))).toSeq,
      "contexts" -> contexts.map(c => c.getLong(0).toString -> c.getString(1)).toMap,
      "qvecs" -> qvecs,
      "dense" -> dense.map(d => Seq(d.getLong(0), d.get(1).toString.toLong,
        d.getLong(2), d.getDouble(3))).toSeq))
  }

  override def finish(): Map[String, Any] = Map("ivf_dir" -> ivfDir)
}
