package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextExprs
import graft.operators.{Bm25Index, IndexLifecycle, IvfIndex, LakeFs}
import graft.queries.{Retrieval, Text, Vectors}

class RetrievalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("hashing embedder emits unit-norm 64-dim vectors, deterministically") {
    // registered query: exact long-form (doc_id, idx, w) weights
    val lf = Retrieval.embedHashing.run(spark, sf).collect()
    assert(lf.nonEmpty)
    assert(lf.forall { r => val i = r.getInt(1); i >= 0 && i < 64 })
    // dense array contract (what downstream consumers embed with)
    val docs = graft.sources.Tables.documents(spark, sf)
    val a = Retrieval.embeddedDocs(spark, sf, docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(a.nonEmpty)
    a.values.foreach { v =>
      assert(v.length == 64)
      val n2 = v.map(x => x * x).sum
      assert(math.abs(n2 - 1.0) < 1e-9, s"norm2 $n2")
    }
    val b = Retrieval.embeddedDocs(spark, sf, docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(a == b)
  }

  test("vector retrieval returns k=3 ranked hits; near-dups rank first") {
    val rows = Retrieval.retrievalVector.run(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 5L).toSet)
    byQ.values.foreach(rs => assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to 3)))
    // scores within [-1, 1] and descending
    byQ.values.foreach { rs =>
      val sc = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sc.forall(s => s <= 1.0001 && s >= -1.0001))
      assert(sc.zip(sc.tail).forall { case (x, y) => x >= y })
    }
  }

  test("bm25 ranks are dense and scores descend") {
    val rows = Retrieval.bm25.run(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 5L).toSet)
    byQ.values.foreach { rs =>
      val sc = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sc.zip(sc.tail).forall { case (x, y) => x >= y })
    }
  }

  test("context assembly concatenates exactly the top-3 in rank order") {
    val ctx = Retrieval.context.run(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ctx.keySet == (0L until 5L).toSet)
    ctx.values.foreach(c => assert(c.split(" \\| ").length == 3))
  }

  test("file loader ingests the reference demo corpus") {
    val rows = Retrieval.docLoadFiles.run(spark, sf).collect()
    assert(rows.nonEmpty)
    val demo = rows.find(_.getAs[String]("source").endsWith("demo.txt"))
    assert(demo.isDefined)
    assert(demo.get.getAs[String]("format") == "txt")
    assert(demo.get.getAs[Long]("n_chars") > 1000) // demo.txt is ~3 KB
    assert(demo.get.getAs[String]("text").nonEmpty)
  }

  test("file loader dispatches by extension: text, html strip, binary stub") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-docs").toString
    Files.writeString(Paths.get(s"$dir/a.txt"), "plain text body")
    Files.writeString(Paths.get(s"$dir/b.html"),
      "<html><body><h1>Title</h1><p>para &amp; more</p></body></html>")
    Files.write(Paths.get(s"$dir/c.pdf"), Array[Byte](0x25, 0x50, 0x44, 0x46))
    val rows = graft.sources.DocLoader.load(spark, dir).collect()
      .map(r => r.getAs[String]("format") -> r.getAs[String]("text")).toMap
    assert(rows.keySet == Set("txt", "html", "pdf"))
    assert(rows("txt") == "plain text body")
    assert(!rows("html").contains("<") && rows("html").contains("Title")
      && rows("html").contains("para") && !rows("html").contains("&amp;"))
    assert(rows("pdf") == "[unparsed pdf document, 4 bytes]")
  }

  test("qa pipeline returns question/context/answer per query") {
    val rows = Retrieval.qaPipeline.run(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSet == (0L until 5L).toSet)
    rows.foreach { r =>
      assert(r.getAs[String]("question").nonEmpty)
      assert(r.getAs[String]("answer").nonEmpty)
      assert(r.getAs[String]("context").split(" \\| ").length == 2)
    }
  }

  test("question condensation threads chat history into retrieval") {
    val (condQ, condQt) = Retrieval.condensedQueries(spark, sf)
    val rows = condQ.collect().map(r => (r.getLong(0),
      r.getAs[String]("question"), r.getAs[String]("condensed_question")))
    // the first turn has no history: condensed == raw
    val first = rows.find(_._1 == 0L).get
    assert(first._2 == first._3)
    // later turns gain history terms not present in the raw question
    val grew = rows.filter(r => r._3.length > r._2.length)
    assert(grew.nonEmpty)
    grew.foreach { case (_, q, cq) =>
      assert(cq.startsWith(q))
      val added = cq.drop(q.length).trim.split(" ")
      assert(added.forall(t => !q.split(" ").contains(t)))
    }
    // and the condensed term set actually changes the BM25 ranking
    import org.apache.spark.sql.functions._
    val qtRaw = condQ.select(col("query_id"),
      explode(split(col("question"), " ")).as("t")).distinct()
    val rankedRaw = Retrieval.bm25RankedFor(spark, sf, qtRaw)
      .filter(col("rn") <= 2).select("query_id", "doc_id", "rn")
    val rankedCond = Retrieval.bm25RankedFor(spark, sf, condQt)
      .filter(col("rn") <= 2).select("query_id", "doc_id", "rn")
    val a = rankedRaw.collect().map(_.toSeq).toSet
    val b = rankedCond.collect().map(_.toSeq).toSet
    assert(a != b, "history terms must influence the retrieval ranking")
  }

  test("MMR re-rank: top-1 is top relevance, deterministic, matches a sequential replay") {
    import org.apache.spark.sql.functions._
    import graft.queries.Retrieval
    val rows = Retrieval.mmr.run(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length))
    }
    // rank 1 = pure relevance argmax = bm25's rank 1
    val bmTop = Retrieval.bm25.run(spark, sf).filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    byQ.foreach { case (q, rs) =>
      val first = rs.find(_.getInt(1) == 1).get.getLong(2)
      assert(first == bmTop(q), s"query $q: MMR top-1 $first != bm25 top ${bmTop(q)}")
    }
    // deterministic across runs
    val again = Retrieval.mmr.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(again == rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet)
    // replay the greedy objective sequentially from the raw inputs
    // (bm25 top-10 + hashing embeddings) and demand identical picks —
    // validates the distributed plumbing (grouping, normalization,
    // tiebreaks) against a straight-line reference implementation
    val emb = Retrieval.embeddedDocsRaw(
      graft.sources.Tables.documents(spark, sf))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    // IDENTICAL arithmetic to the production fold (Retrieval.mmr):
    // left-fold dot/norm accumulation, sqrt(na*nb) (not
    // sqrt(na)*sqrt(nb)), and (1 - lambda) computed, not the literal
    // 0.3 — each differs from its "equivalent" in the last ulp, and a
    // near-tie would make the replay diverge spuriously
    val lambda = 0.7
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0 || nb == 0) 0.0 else dp / math.sqrt(na * nb)
    }
    val cand10 = Retrieval.bm25Ranked(spark, sf)
      .filter(col("rn") <= 10)
      .select(col("query_id"), col("doc_id"), col("score"))
      .collect().groupBy(_.getLong(0))
    byQ.foreach { case (q, rs) =>
      val cs = cand10(q).map(r => (r.getLong(1), r.getDouble(2)))
        .sortBy { case (id, rel) => (-rel, id) }
      val maxRel = cs.head._2 max 1e-12
      val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (picked.length < 3 && picked.length < cs.length) {
        var bestId = -1L
        var bestScore = Double.NegativeInfinity
        cs.foreach { case (id, rel) =>
          if (!picked.contains(id)) {
            val sim = if (picked.isEmpty) 0.0
              else picked.map(p => cos(emb(id).toSeq, emb(p).toSeq)).max
            val sc = lambda * (rel / maxRel) - (1 - lambda) * sim
            if (sc > bestScore || (sc == bestScore && bestId >= 0 && id < bestId)) {
              bestId = id; bestScore = sc
            }
          }
        }
        picked += bestId
      }
      val got = rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      assert(got == picked.toSeq, s"query $q: picks $got != replay ${picked.toSeq}")
    }
  }

  test("recursive chunking covers every document") {
    val docs = graft.sources.Tables.documents(spark, sf).count()
    val chunked = Text.chunkRecursive.run(spark, sf)
    assert(chunked.select("doc_id").distinct().count() == docs)
    // chunk bound: size 200 + overlap 30
    assert(chunked.filter("length(chunk) > 230").count() == 0)
  }

  /** The per-call BM25 the postings index replaced, kept as the
    * reference: tf, dl, df and stats from four independent tokenize
    * subtrees of `dir`'s documents, scored for every query in `qt`. */
  private def bm25Reference(dir: String, qt: DataFrame): DataFrame = {
    val tok = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextExprs.tokens(col("text"))).as("t"))
    val tf = tok.groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dl = tok.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("double").as("dl"))
    val df = tok.groupBy(col("t"))
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    val stats = tok.agg(
      countDistinct(col("doc_id")).cast("double").as("n"),
      (count(lit(1)).cast("double") / countDistinct(col("doc_id"))).as("avgdl"))
    val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1)
    val termScore = idf * col("tf") * 2.2 /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    broadcast(qt).join(tf, "t")
      .join(df, "t")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(termScore).as("score"))
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(round(col("score"), 4).desc, col("doc_id"))))
  }

  private def rankRows(ranked: DataFrame): Set[(Long, Int, Long, Double)] =
    ranked.select(col("query_id"), col("rn"), col("doc_id"),
        round(col("score"), 4))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet

  /** The raw question terms of sf's doc_id < 5 documents. */
  private def rawQt: DataFrame = Retrieval.questionTerms(spark, sf)

  test("bm25 served from the postings index == the per-call term statistics, raw and condensed") {
    val condQt = Retrieval.condensedQueries(spark, sf)._2
    for ((label, qt) <- Seq("raw" -> rawQt, "condensed" -> condQt)) {
      val want = rankRows(bm25Reference(sf, qt))
      assert(want.map(_._1) == (0L until 5L).toSet, label)
      val got = rankRows(Retrieval.bm25RankedFor(spark, sf, qt))
      assert(got == want, s"$label: only index ${(got -- want).take(5)}, " +
        s"only reference ${(want -- got).take(5)}")
    }
  }

  test("bm25 postings follow a rewritten documents.parquet: new key, rebuilt index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25").toString
    val idx = Vectors.sidecarDir("bm25", dir)
    def key = IndexLifecycle.sourceKey(s"$dir/documents.parquet", "bm25-v1")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val key1 = key
      val before = rankRows(Retrieval.bm25RankedFor(spark, dir, rawQt))
      assert(before == rankRows(bm25Reference(dir, rawQt)))
      // the new corpus drops every query's top hit
      val top1 = before.filter(_._2 == 1).map(_._3).toSeq
      docs.filter(!col("doc_id").isin(top1: _*))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      assert(key != key1, "rewriting the source must change the index key")
      val after = rankRows(Retrieval.bm25RankedFor(spark, dir, rawQt))
      assert(after == rankRows(bm25Reference(dir, rawQt)))
      assert(after != before)
      assert(after.forall(r => !top1.contains(r._3)))
      assert(LakeFs.readString(s"$idx/_GRAFT_INDEX_COMPLETE").map(_.trim)
        .contains(key), "the published index must carry the new key")
    } finally {
      LakeFs.rmTree(idx)
      LakeFs.rmTree(dir)
    }
  }

  test("engine-owned index layouts read back as the schema their writer declares") {
    // a reader that declares its schema never sees a drifted writer's
    // columns as anything but nulls — so pin writer == declaration
    Retrieval.bm25Postings(spark, sf)
    val ivf = Vectors.ivfIndexOf(spark, sf)
    for ((path, declared) <- Seq(
        s"${Vectors.sidecarDir("bm25", sf)}/postings" -> Bm25Index.PostingsSchema,
        s"$ivf/centroids" -> IvfIndex.CentroidsSchema,
        s"$ivf/vectors" -> IvfIndex.VectorsSchema))
      assert(spark.read.parquet(path).schema == declared, path)
  }
}
