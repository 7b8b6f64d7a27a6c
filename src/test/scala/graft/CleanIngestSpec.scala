package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LakeFs, ShingleIndex, Snapshots}
import graft.queries.Pipeline
import graft.streaming.StreamOps

/** StreamOps.cleanIngest — the full corpus_clean gate chain as an
  * exactly-once streaming ingest. Two contracts:
  *
  *  1. A single-batch ingest over a whole corpus is ROW-EQUAL to the
  *     registered corpus_clean query (same flags, same keep set) —
  *     the streaming path and the batch path cannot drift.
  *  2. Split across micro-batches (doc_id-ordered arrival), the
  *     emitted rows equal the one-shot ingest: cross-batch exact
  *     dups and near-dups surface when the later side arrives, and
  *     replaying the last epoch changes nothing (exactly-once).
  */
class CleanIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def flagRows(dir: String): Map[Long, Seq[Any]] =
    spark.read.parquet(dir)
      .select("doc_id", "lang_ok", "quality_ok", "repetition_ok",
        "nb_ok", "not_exact_dup", "near_dup_drop", "keep")
      .collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1))
      .toMap

  /** Row counts of the clean twin's index logs: exact (h, keeper),
    * shingles, sizes — read through the logs' live versions. */
  private def indexRows(exact: String, shingle: String): Seq[Long] = Seq(
    spark.read.schema(StreamOps.ExactIndexSchema)
      .parquet(Snapshots.logDataDirs(s"$exact/hashes", None): _*).count(),
    ShingleIndex.shingles(spark, shingle).count(),
    ShingleIndex.sizes(spark, shingle).count())

  test("one-shot cleaning ingest == the registered corpus_clean query") {
    val exact = "/tmp/graft_clean_oneshot_exact"
    val shingle = "/tmp/graft_clean_oneshot_shingle"
    val out = "/tmp/graft_clean_oneshot_out"
    Seq(exact, shingle, out).foreach(LakeFs.rmTree)
    val mdl = Pipeline.nbModelOf(spark, sf)
    StreamOps.cleanIngestBatch(spark,
      graft.sources.Tables.documents(spark, sf), 0L,
      exact, shingle, mdl, out)
    val got = flagRows(out)
    val want = Pipeline.corpusClean.run(spark, sf)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(got.size == want.size, s"got ${got.size} want ${want.size}")
    val diff = want.keys.filter(k => got(k) != want(k))
    assert(diff.isEmpty,
      s"flag mismatch for docs ${diff.toSeq.sorted.take(5)}: " +
        diff.toSeq.sorted.take(5).map(k => s"$k got=${got(k)} want=${want(k)}"))
  }

  test("micro-batched ingest == one-shot; cross-batch dups surface; epoch replay is a no-op") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val exact = "/tmp/graft_clean_stream_exact"
    val shingle = "/tmp/graft_clean_stream_shingle"
    val out = "/tmp/graft_clean_stream_out"
    val exact1 = "/tmp/graft_clean_stream1_exact"
    val shingle1 = "/tmp/graft_clean_stream1_shingle"
    val out1 = "/tmp/graft_clean_stream1_out"
    val mdlDir = "/tmp/graft_clean_stream_model"
    Seq(exact, shingle, out, out + "_ckpt",
      exact1, shingle1, out1, mdlDir).foreach(LakeFs.rmTree)

    // planted corpus: fillers pass every gate; 7 fails langid (German
    // stopwords), 8 fails quality (too short), 9 fails repetition;
    // 30 is an exact copy of 4 ACROSS the batch boundary; 27 is a
    // near-dup of 20 ACROSS the boundary (last of 40 tokens changed:
    // 37 shared 3-gram shingles of 38 each, Jaccard 37/39 ≈ 0.95).
    // All other shingles are unique per doc — nothing is hot, so the
    // stop list frozen at batch 1 equals the one-shot's.
    def filler(id: Long): (Long, String) = {
      val uniq = (0 until 34).map(i => s"u${id}x$i")
      id -> (Seq("the", "and", "of") ++ uniq.take(17) ++
        Seq("to", "is", "in") ++ uniq.drop(17)).mkString(" ")
    }
    // en stopwords scattered NON-adjacently so every base shingle
    // still contains a t-token unique to the 20/27 pair (df = 2,
    // never hot); 12 stopwords push quality past the 0.45 NB label
    // threshold so the learned gate trains the pair as hi-quality
    val stops2 = Seq("the", "and", "of", "to", "is", "in",
      "the", "and", "of", "to", "is", "in")
    val base = (0 until 12).flatMap(i =>
      Seq(s"t${2 * i}", s"t${2 * i + 1}", stops2(i))) ++
      Seq("t24", "t25", "t26", "t27")
    val b1: Seq[(Long, String)] =
      Seq(1L, 2L, 3L, 5L, 6L).map(filler) ++ Seq(
        filler(4L),
        20L -> base.mkString(" "),
        7L -> ((0 until 34).map(i => s"g$i") ++
          Seq("und", "der", "die", "das", "ist", "nicht")).mkString(" "),
        8L -> "zq",
        9L -> ("the " + Seq.fill(50)("rep").mkString(" ")))
    val b2: Seq[(Long, String)] = Seq(
      21L -> filler(21L)._2,
      27L -> (base.dropRight(1) :+ "zz").mkString(" "),
      30L -> filler(4L)._2)

    // NB model fitted over the whole planted corpus (the nightly
    // batch job), persisted in the nbModelOf layout
    val labeled = Pipeline.nbLabeledFrom((b1 ++ b2).toDF("doc_id", "text"))
      .cache()
    Pipeline.nbModel(labeled).coalesce(1).write.parquet(s"$mdlDir/model")
    labeled.agg(sum(col("label")).as("dhi"),
        (count(lit(1)) - sum(col("label"))).as("dlo"))
      .coalesce(1).write.parquet(s"$mdlDir/priors")
    labeled.unpersist()

    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamOps.cleanIngest(spark,
      ms.toDF().toDF("doc_id", "text"), exact, shingle, mdlDir, out)
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = flagRows(out)

    // equality with the one-shot ingest of the same docs
    StreamOps.cleanIngestBatch(spark, (b1 ++ b2).toDF("doc_id", "text"),
      0L, exact1, shingle1, mdlDir, out1)
    val oneShot = flagRows(out1)
    assert(got == oneShot,
      s"stream != one-shot: " +
        (got.keySet ++ oneShot.keySet).toSeq.sorted
          .filter(k => got.get(k) != oneShot.get(k))
          .map(k => s"$k got=${got.get(k)} oneShot=${oneShot.get(k)}")
          .mkString("; "))

    // hand-planted verdicts (columns: lang, qual, rep, nb, notExact, nd, keep)
    assert(got(7L)(0) == false, s"7 must fail langid: ${got(7L)}")
    assert(got(8L)(1) == false, s"8 must fail quality: ${got(8L)}")
    assert(got(9L)(2) == false, s"9 must fail repetition: ${got(9L)}")
    assert(got(30L)(4) == false, "30 must be an exact dup of 4 across batches")
    assert(got(4L)(4) == true, "4 is the exact keeper")
    assert(got(27L)(5) == true,
      s"27 must near-dup-drop against 20 across batches; " +
        s"flags20=${got(20L)} flags27=${got(27L)}")
    assert(got(20L)(5) == false, "20 is the near-dup keeper")
    // nb_ok must be exactly the persisted-model serving-path verdict
    val nbWant = Pipeline.nbScoredFrom(spark, mdlDir,
        (b1 ++ b2).toDF("doc_id", "text"))
      .select(col("doc_id"), (col("score_micro") > 0L).as("nb_ok"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got.forall { case (id, f) => f(3) == nbWant(id) },
      "nb_ok must match nbScoredFrom")
    // keep is the conjunction of the gates
    assert(got.forall { case (_, f) =>
      f(6) == (f(0) == true && f(1) == true && f(2) == true &&
        f(3) == true && f(4) == true && f(5) == false)
    }, "keep must be the gate conjunction")

    // exactly-once: replaying the last epoch changes nothing
    val rows = indexRows(exact, shingle)
    StreamOps.cleanIngestBatch(spark, b2.toDF("doc_id", "text"), 1L,
      exact, shingle, mdlDir, out)
    assert(indexRows(exact, shingle) == rows,
      "epoch replay re-appended index rows (exact, shingles, sizes)")
    assert(flagRows(out) == got, "epoch replay changed the emitted flags")

    // a crash between an index commit and its root hint: with every
    // `_GRAFT_EPOCH_*` hint under both index roots deleted, the replay
    // finds the epoch tag inside each committed version and appends
    // nothing — no row count moves, and no read-side repair runs
    Seq(exact, shingle).flatMap(LakeFs.leaves)
      .filter(_.getPath.getName.startsWith("_GRAFT_EPOCH_"))
      .foreach(st => LakeFs.rmFile(st.getPath.toString))
    StreamOps.cleanIngestBatch(spark, b2.toDF("doc_id", "text"), 1L,
      exact, shingle, mdlDir, out)
    assert(indexRows(exact, shingle) == rows,
      "a hint-less replay re-appended index rows (exact, shingles, sizes)")
    assert(flagRows(out) == got,
      "a hint-less replay changed the emitted flags")

    // OUT-OF-ORDER arrivals: first-wins dedup, not min-id — doc 0
    // duplicates doc 4's text (kept in batch 1), doc 16 near-dups
    // the 20/27 base — both must DROP even with smaller doc_ids
    val b3 = Seq(0L -> filler(4L)._2,
      16L -> (base.dropRight(1) :+ "zz2").mkString(" "))
    StreamOps.cleanIngestBatch(spark, b3.toDF("doc_id", "text"), 2L,
      exact, shingle, mdlDir, out)
    val e2 = spark.read.parquet(out)
      .filter(org.apache.spark.sql.functions.col("epoch") === 2)
      .select("doc_id", "not_exact_dup", "near_dup_drop", "keep")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    assert(e2(0L)._1 == false && e2(0L)._3 == false,
      s"later-arriving exact copy must drop first-wins: ${e2(0L)}")
    assert(e2(16L)._2 == true && e2(16L)._3 == false,
      s"later-arriving near-dup must drop even as the smaller id: ${e2(16L)}")
  }

  test("three distinct cleaning epochs pin no cached frame") {
    // distinct epochs build distinct frames, so a cache that is never
    // released shows up as one new persistent RDD per epoch (a replay
    // of the same epoch would reuse the entry and hide it)
    val root = "/tmp/graft_clean_distinct_epochs"
    LakeFs.rmTree(root)
    val mdl = Pipeline.nbModelOf(spark, sf)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    // compared as id sets: the context holds persistent RDDs weakly,
    // so an unrelated earlier entry may vanish on a GC mid-test
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (e <- 0L until 3L)
      StreamOps.cleanIngestBatch(spark, docs.filter(col("doc_id") % 3 === e), e,
        s"$root/exact", s"$root/shingle", mdl, s"$root/out")
    val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(pinned.isEmpty, s"three epochs left ${pinned.size} cached frames behind")
    LakeFs.rmTree(root)
  }

  test("ingest-side index layouts read back as the schema their writer declares") {
    // a declaring reader sees a drifted writer's columns as nulls, so
    // pin what each writer lays out == what its reader declares
    val root = "/tmp/graft_clean_layouts"
    LakeFs.rmTree(root)
    val mdl = Pipeline.nbModelOf(spark, sf)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    // epoch 0 builds the shingle index, epoch 1 appends to it
    for (e <- 0L until 2L)
      StreamOps.cleanIngestBatch(spark, docs.filter(col("doc_id") % 2 === e), e,
        s"$root/exact", s"$root/shingle", mdl, s"$root/out")
    // the index logs are read over their live version dirs (a plain
    // read of a log root would add the `v` partition column)
    def live(root: String) = Snapshots.logDataDirs(root, None)
    def check(stage: String): Unit = for ((paths, declared) <- Seq(
        live(s"$root/shingle/shingles") -> ShingleIndex.ShinglesSchema,
        live(s"$root/shingle/sizes") -> ShingleIndex.SizesSchema,
        live(s"$root/shingle/stop") -> ShingleIndex.StopSchema,
        live(s"$root/exact/hashes") -> StreamOps.ExactIndexSchema,
        Seq(s"$mdl/model") -> Pipeline.NbModelSchema,
        Seq(s"$mdl/priors") -> Pipeline.NbPriorsSchema))
      assert(spark.read.parquet(paths: _*).schema == declared,
        s"$stage: $paths")
    check("appended")
    ShingleIndex.compact(spark, s"$root/shingle")
    check("compacted")
    LakeFs.rmTree(root)
  }
}
