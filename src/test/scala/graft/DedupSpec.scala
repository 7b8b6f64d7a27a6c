package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, countDistinct}

import graft.queries.Dedup

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("minhash-LSH finds exactly the exact-Jaccard pairs") {
    val exact = Dedup.ngramJaccard.run(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh.run(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"missed=${exact -- lsh} extra=${lsh -- exact}")
    assert(exact.nonEmpty)
  }

  test("simhash candidates: hamming <= 3 and high verified cosine") {
    val rows = Dedup.simhash.run(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("hamming") <= 3)
      // hamming<=3 over the 60 live bits implies high, not perfect,
      // cosine (min observed 0.7665 at sf0.001)
      assert(r.getAs[Double]("cos_sim") > 0.75)
    }
    // the bulk of the candidates are true near-dups
    assert(rows.count(_.getAs[Double]("cos_sim") > 0.95) * 2 > rows.length)
  }

  test("simhash finds the near-identical pairs (jaccard >= 0.95)") {
    val strong = Dedup.ngramJaccard.run(spark, sf)
      .filter("jaccard >= 0.95")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Dedup.simhash.run(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = strong -- sh
    // near-identical token multisets have hamming ~0; allow a stray miss
    assert(missed.size <= math.max(1, strong.size / 5), s"missed $missed")
  }

  test("stop-shingle cap kills the hot-shingle quadratic fan-out") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 100 docs all share one boilerplate shingle (df = 100 > n/2);
    // docs 0 and 1 also share a rare shingle. Without the cap the hot
    // shingle fans out 100*99/2 = 4950 candidate rows; with it, only
    // the rare-shingle pair survives candidate generation.
    val sh = (0L until 100L).map(_ -> 777L) ++ Seq(0L -> 1L, 1L -> 1L)
    val cand = Dedup.candidatePairs(sh.toDF("doc_id", "s"))
    assert(cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((0L, 1L)))
  }

  test("dedup_substring finds planted copied runs, counts windows, ignores shorter runs") {
    import spark.implicits._
    // every doc gets its own unique filler vocabulary (dIxJ tokens);
    // docs 1 and 2 embed one identical 16-token run (c0..c15) at
    // DIFFERENT positions; docs 4 and 5 share a 20-token run (b0..b19
    // → 5 sliding 16-windows); doc 3 carries only a 15-token prefix
    // of doc 1's run — below the window width, must NOT pair
    def filler(i: Int, n: Int, from: Int = 0): Seq[String] =
      (from until from + n).map(j => s"d${i}x$j")
    val run16 = (0 until 16).map(j => s"c$j")
    val run20 = (0 until 20).map(j => s"b$j")
    val docs = Seq(
      1L -> (filler(1, 5) ++ run16 ++ filler(1, 20, 5)),
      2L -> (filler(2, 12) ++ run16 ++ filler(2, 8, 12)),
      3L -> (filler(3, 6) ++ run16.take(15) ++ filler(3, 19, 6)),
      4L -> (filler(4, 3) ++ run20 ++ filler(4, 17, 3)),
      5L -> (filler(5, 9) ++ run20 ++ filler(5, 11, 9)),
      6L -> filler(6, 40)
    ).map { case (id, ts) => (id, ts.mkString(" ")) }
    val got = Dedup.substringPairsOf(docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.keySet == Set((1L, 2L), (4L, 5L)), got)
    assert(got((1L, 2L)) == 1L, s"16-token run = exactly 1 window: $got")
    assert(got((4L, 5L)) == 5L, s"20-token run = 5 sliding windows: $got")
  }

  test("dedup_substring pairs on the corpus genuinely share a 16-token run") {
    // re-verify EVERY reported pair against the raw text (the query
    // itself verifies one example window per pair)
    import org.apache.spark.sql.functions._
    val toks = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), expr("graft_tokens(text)").as("tk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val rows = Dedup.substringDedup.run(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b) = (toks(r.getLong(0)), toks(r.getLong(1)))
      val wins = a.sliding(16).toSet
      assert(b.sliding(16).exists(wins.contains),
        s"pair ${r.getLong(0)},${r.getLong(1)} shares no 16-token run")
    }
  }

  test("incremental substring dedup equals the full recompute on batch-involved pairs") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1)) -> r.getLong(2)
    val full = Dedup.substringDedup.run(spark, sf).collect().map(key)
      .filter { case ((a, b), _) => a % 5 == 4 || b % 5 == 4 }.toMap
    val inc = Dedup.substringIncremental.run(spark, sf).collect()
      .map(key).toMap
    assert(inc == full,
      s"missing=${full.keySet -- inc.keySet} extra=${inc.keySet -- full.keySet}")
    assert(inc.nonEmpty, "no batch-involved substring pairs at this sf")
  }

  test("substring index lifecycle: stop list gates boilerplate, append promotes df=1 windows") {
    import spark.implicits._
    def filler(i: Int, n: Int): Seq[String] = (0 until n).map(j => s"f${i}x$j")
    val boiler = (0 until 16).map(i => s"bp$i") // in 17 index docs -> stop
    val unique = (0 until 16).map(i => s"uq$i") // df=1 at build -> promoted
    // 17 non-batch ids (id % 5 != 4) carry the boilerplate run; doc 1
    // additionally carries the unique run; batch doc 24 carries BOTH.
    // Doc 1 orders them unique-then-boiler while doc 24 is
    // boiler-then-unique, so no boundary-straddling window is shared
    // and the only kept shared fp is the pure unique-run window
    val indexIds = Seq(1L, 2L, 3L, 5L, 6L, 7L, 8L, 10L, 11L, 12L, 13L,
      15L, 16L, 17L, 18L, 20L, 21L)
    val docs = indexIds.map { id =>
      val body = if (id == 1L) unique ++ boiler else boiler
      (id, (filler(id.toInt, 4) ++ body).mkString(" "))
    } :+ ((24L, (filler(24, 4) ++ boiler ++ unique).mkString(" ")))
    val got = Dedup.substringIncrementalOf(spark,
        docs.toDF("doc_id", "text"), "/tmp/graft_subidx_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // boilerplate fps: build df = 17 > 16 -> stop list; the batch's
    // copies are gated at append, so NO (i, 24) pair arises from them.
    // unique-run fps: df=1 at build (stored), promoted to df=2 by the
    // append -> exactly the (1, 24) pair, one window per fp
    assert(got.keySet == Set((1L, 24L)), got)
    assert(got((1L, 24L)) == 1L, s"16-token run = exactly 1 window: $got")
  }

  test("substring index compaction: climbed fps promoted to stop, positions dropped, reads equivalent") {
    import spark.implicits._
    val dir = "/tmp/graft_subidx_compact_spec"
    graft.operators.LakeFs.rmTree(dir)
    // cap 2: fp 10 builds at df=2 (docs 1,2 — stored); fp 20 df=2
    // (docs 1,3); fp 30 builds OVER cap (docs 1,2,3 > 2 — stop)
    val w0 = Seq((1L, 0, 10L), (2L, 0, 10L), (1L, 1, 20L), (3L, 0, 20L),
      (1L, 2, 30L), (2L, 1, 30L), (3L, 1, 30L)).toDF("doc_id", "pos", "fp")
    graft.operators.SubstringIndex.build(w0, dir, maxDf = 2)
    // two appends climb fp 10 to df=4 > cap; fp 30 is gated by stop/
    graft.operators.SubstringIndex.append(spark,
      Seq((4L, 0, 10L), (4L, 1, 30L)).toDF("doc_id", "pos", "fp"), dir)
    graft.operators.SubstringIndex.append(spark,
      Seq((9L, 0, 10L)).toDF("doc_id", "pos", "fp"), dir)
    // the read-side contract: kept fps have 2 <= df <= cap
    def kept(): Map[Long, Set[(Long, Int)]] = {
      val w = graft.operators.SubstringIndex.windows(spark, dir).cache()
      val k = w.groupBy("fp").agg(countDistinct("doc_id").as("df"))
        .filter(col("df") >= 2 && col("df") <= 2).select("fp")
      val m = w.join(k, "fp").collect()
        .groupBy(_.getAs[Long]("fp"))
        .map { case (fp, rs) => fp -> rs.map(r =>
          (r.getAs[Long]("doc_id"), r.getAs[Int]("pos"))).toSet }
      w.unpersist(); m
    }
    val before = kept()
    assert(before.keySet == Set(20L), before) // fp 10 dead weight, excluded
    // pre-compact: fp 10's 4 positions are still physically stored
    assert(graft.operators.SubstringIndex.windows(spark, dir)
      .filter(col("fp") === 10L).count() == 4)
    graft.operators.SubstringIndex.compact(spark, dir, maxDf = 2)
    assert(kept() == before) // reads equivalent
    // positions gone, fp promoted to the stop list
    assert(graft.operators.SubstringIndex.windows(spark, dir)
      .filter(col("fp") === 10L).count() == 0)
    val stop = spark.read.parquet(s"$dir/stop")
      .collect().map(_.getLong(0)).toSet
    assert(stop == Set(10L, 30L), stop)
    // a post-compact append is gated by the GROWN stop list: fp 10
    // (promoted by compaction) drops, fp 20 (still under cap at
    // append time) stores
    graft.operators.SubstringIndex.append(spark,
      Seq((14L, 0, 10L), (14L, 0, 20L)).toDF("doc_id", "pos", "fp"), dir)
    assert(graft.operators.SubstringIndex.windows(spark, dir)
      .filter(col("fp") === 10L).count() == 0)
    assert(graft.operators.SubstringIndex.windows(spark, dir)
      .filter(col("fp") === 20L && col("doc_id") === 14L).count() == 1)
  }

  test("shingle index lifecycle: batch pairs via lake state, index pairs not re-derived") {
    import spark.implicits._
    // A=1 and B=2 are near-identical index docs; the batch doc C=24
    // is an exact copy of A; ten unrelated index docs keep the
    // A/B-shared shingles under the hot cap (df=2 of 12 index docs).
    // The output must contain exactly the batch-involved pairs —
    // (1,24) at 1.0 and (2,24) at B's similarity — and must NOT
    // re-derive the index-resident (1,2) pair
    val base = (0 until 40).map(i => s"t$i")
    val docs = Seq(
      1L -> base.mkString(" "),
      2L -> (base.dropRight(1) :+ "zz").mkString(" "),
      24L -> base.mkString(" ")) ++
      Seq(3L, 5L, 6L, 7L, 8L, 10L, 11L, 12L, 13L, 15L).map(id =>
        id -> (0 until 40).map(i => s"u${id}x$i").mkString(" "))
    val got = Dedup.shingleIncrementalOf(spark,
        docs.toDF("doc_id", "text"), "/tmp/graft_shidx_spec")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == Set((1L, 24L), (2L, 24L)), got)
    assert(got((1L, 24L)) == 1.0, got)
    assert(got((2L, 24L)) >= 0.8 && got((2L, 24L)) < 1.0, got)
  }

  test("shingle index compaction: state equals a fresh build over the appended corpus") {
    import spark.implicits._
        val dirA = "/tmp/graft_shidx_compact_a" // build + append + compact
    val dirB = "/tmp/graft_shidx_compact_b" // fresh build over everything
    Seq(dirA, dirB).foreach(graft.operators.LakeFs.rmTree)
    // shingle 100: df=2 of nd=4 at build (2·2 > 4 false → not hot);
    // two appended docs carry it too → df=4 of nd=6 (8 > 6 → hot),
    // but append never refreshes stop/ — that's compaction's job
    val idxSh = Seq((1L, 100L), (1L, 1L), (2L, 100L), (2L, 2L),
      (3L, 3L), (4L, 4L)).toDF("doc_id", "s")
    val batchSh = Seq((5L, 100L), (5L, 5L), (6L, 100L), (6L, 6L))
      .toDF("doc_id", "s")
    graft.operators.ShingleIndex.build(spark, idxSh, dirA)
    graft.operators.ShingleIndex.append(spark, batchSh, dirA, 0L)
    assert(graft.operators.ShingleIndex.stop(spark, dirA).count() == 0,
      "append must not refresh the stop list")
    graft.operators.ShingleIndex.compact(spark, dirA)
    graft.operators.ShingleIndex.build(spark, idxSh.union(batchSh), dirB)
    def state(d: String) = (
      graft.operators.ShingleIndex.stop(spark, d)
        .collect().map(_.getLong(0)).toSet,
      graft.operators.ShingleIndex.shingles(spark, d)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      graft.operators.ShingleIndex.sizes(spark, d)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val (stopA, shA, szA) = state(dirA)
    val (stopB, shB, szB) = state(dirB)
    assert(stopA == Set(100L), stopA)
    assert(stopA == stopB && shA == shB && szA == szB,
      s"compacted != fresh: stop $stopA/$stopB sh ${shA.size}/${shB.size}")
    // a replayed append epoch (foreachBatch retry) commits nothing,
    // after compaction folded and vacuumed the versions it wrote too:
    // the state still equals the fresh build, with no repair pass
    graft.operators.ShingleIndex.append(spark, batchSh, dirA, 0L)
    assert(graft.operators.ShingleIndex.shingles(spark, dirA).count() ==
      shB.size, "a replayed epoch re-appended shingles")
    assert(graft.operators.ShingleIndex.sizes(spark, dirA).count() ==
      szB.size, "a replayed epoch re-appended sizes")
    val (stopA2, shA2, szA2) = state(dirA)
    assert(stopA2 == stopB && shA2 == shB && szA2 == szB,
      "a replayed epoch changed the compacted state")
  }

  test("exact dedup marks no false duplicates on a corpus without any") {
    val d = Dedup.exact.run(spark, sf)
    assert(d.filter("is_dup").count() == 0)
    assert(d.count() == 500)
  }
}
