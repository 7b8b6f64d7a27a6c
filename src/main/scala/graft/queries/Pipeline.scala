package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sources.Tables

/** Input to the per-shard packer: one doc with its token count and
  * prefix-sum-assigned shard. */
case class PackIn(doc_id: Long, n_tokens: Long, shard_id: Long)

case class E2eIn(doc_id: Long, n_words: Long, n_wp: Long, rank: Long,
  shard_id: Long)

case class E2eOut(doc_id: Long, n_words: Long, n_wp: Long, rank: Long,
  shard_id: Long, seq_in_shard: Long, seq_offset: Long)

/** One packed doc: which training sequence (within its shard) it
  * landed in and at what token offset. */
case class PackOut(doc_id: Long, shard_id: Long, seq_in_shard: Long,
    seq_offset: Long, n_tokens: Long)

/** End-to-end training-data pipeline operators: the composition
  * queries a 100 TB corpus run actually ships — cleaning gates chained
  * in cost order, and the packer that turns cleaned docs into
  * fixed-budget training sequences. Both are composed FROM the
  * registered single-purpose operators (same code, same oracles), so
  * pipeline semantics and per-operator semantics cannot drift apart.
  */
object Pipeline {

  /** Document-boundary-respecting sequence packing (the "no doc may
    * straddle a training window unless it must" packer, vs
    * token_shards' concat-and-chop assignment). Two-level and fully
    * distributed:
    *
    *  1. a global token prefix sum (GlobalPrefix — two passes, no
    *     single-partition window) assigns each doc to a 4096-token
    *     SHARD by its start offset; shards are the parallel unit and
    *     the only global coordination;
    *  2. within a shard, docs pack NEXT-FIT in doc_id order into
    *     512-token sequences: a doc that would overflow the open
    *     sequence starts a new one (an oversized doc gets a sequence
    *     of its own). The sequential fold is safe because a shard
    *     holds ~4096 tokens — the flatMapGroups buffer is bounded by
    *     shard_budget/min_doc_tokens docs, independent of corpus
    *     size.
    *
    * The DuckDB oracle replays the same next-fit recurrence as a
    * recursive CTE over the per-shard doc rank, so the whole packing
    * layout (shard, sequence, offset) is hash-checked.
    *
    * Shard assignment charges every doc max(n, 1) tokens: a run of
    * zero-token docs (non-Latin text under this tokenizer, empty
    * docs) would otherwise never advance the prefix sum and pile into
    * ONE shard unboundedly — with the floor, a shard holds at most
    * 4096 + 1 docs whatever the corpus. Packing itself still uses the
    * true n (a zero-token doc consumes no sequence budget). */
  val seqPack: Q = Q(
    "seq_pack",
    """WITH RECURSIVE t AS (
      |  SELECT doc_id,
      |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n
      |  FROM documents),
      |cm AS (
      |  SELECT doc_id, n,
      |    SUM(greatest(n, 1)) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |      AS cum
      |  FROM t),
      |d AS (
      |  SELECT doc_id, n,
      |    CAST(FLOOR((cum - greatest(n, 1)) / 4096.0) AS BIGINT) AS shard_id,
      |    ROW_NUMBER() OVER (
      |      PARTITION BY CAST(FLOOR((cum - greatest(n, 1)) / 4096.0) AS BIGINT)
      |      ORDER BY doc_id) AS rk
      |  FROM cm),
      |p AS (
      |  SELECT shard_id, rk, doc_id, n, CAST(0 AS BIGINT) AS seq, n AS fill
      |  FROM d WHERE rk = 1
      |  UNION ALL
      |  SELECT d.shard_id, d.rk, d.doc_id, d.n,
      |    CASE WHEN p.fill + d.n <= 512 THEN p.seq ELSE p.seq + 1 END,
      |    CASE WHEN p.fill + d.n <= 512 THEN p.fill + d.n ELSE d.n END
      |  FROM p JOIN d ON d.shard_id = p.shard_id AND d.rk = p.rk + 1)
      |SELECT doc_id, shard_id, seq AS seq_in_shard,
      |  fill - n AS seq_offset, n AS n_tokens
      |FROM p ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val shardBudget = 4096.0
    val seqBudget = 512L
    val (c, _) = graft.operators.GlobalPrefix.withCumSum(
      Tables.documents(s, dir).select(col("doc_id"),
        size(graft.functions.TextExprs.tokens(col("text")))
          .cast("long").as("n_tokens")),
      Seq(col("doc_id")), greatest(col("n_tokens"), lit(1L)))
    c.select(col("doc_id"), col("n_tokens"),
        floor((col("cum") - greatest(col("n_tokens"), lit(1L))) / shardBudget)
          .cast("long").as("shard_id"))
      .as[PackIn]
      .groupByKey(_.shard_id)
      .flatMapGroups { (sid: Long, it: Iterator[PackIn]) =>
        // bounded buffer: every doc is charged >= 1 shard token, so a
        // shard holds at most 4096 + 1 docs regardless of the corpus
        val ds = it.toArray.sortBy(_.doc_id)
        var seq = 0L
        var fill = 0L
        var first = true
        ds.iterator.map { d =>
          if (!first && fill + d.n_tokens > seqBudget) { seq += 1; fill = 0L }
          val off = fill
          fill += d.n_tokens
          first = false
          PackOut(d.doc_id, sid, seq, off, d.n_tokens)
        }
      }
      .toDF()
      .select(col("doc_id"), col("shard_id"), col("seq_in_shard"),
        col("seq_offset"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** The cleaning pipeline, gates in cost order (Gopher/CCNet shape):
    * language -> quality -> repetition -> LEARNED quality (NB) ->
    * exact dedup -> near-dedup, where the expensive near-dup pass
    * runs ONLY on docs that survived every cheaper gate — at 100 TB
    * you never shingle-join the raw crawl. The NB stage is the
    * model-based filter CCNet/GPT-3 run next to their heuristics: it
    * scores off the PERSISTED nbModelOf state (in-row, in the same
    * pass — see nbScored), so the flagship pipeline exercises the
    * maintained-model serving path end to end. Each gate IS the
    * registered operator's own expression tree (langid / quality /
    * repetition through one Text.docFeatures projection, nbScorer,
    * exact, ngramPairsOf — see cleanGates), and the oracle
    * embeds those operators' own oracle SQL (the NB stage via the
    * shared nbModelCtes + nbScoreCtes, replayed from the corpus so a
    * stale sidecar model hash-diverges), so this query is the
    * composition proof: if it hash-matches, the operators compose
    * without semantic drift. Near-dup keep rule: the smaller doc_id
    * of each verified pair survives. */
  val corpusClean: Q = Q(
    "corpus_clean",
    s"""WITH lang AS (
      |  SELECT doc_id, predicted_lang FROM (${Text.langid.oracle.get})),
      |qual AS (
      |  SELECT doc_id, quality_score FROM (${Text.quality.oracle.get})),
      |rep AS (
      |  SELECT doc_id, keep AS rep_keep FROM (${Text.repetition.oracle.get})),
      |ex AS (
      |  SELECT doc_id, is_dup FROM (${Dedup.exact.oracle.get})),
      |$nbModelCtes,
      |$nbScoreCtes,
      |nbq AS (
      |  SELECT l.doc_id,
      |    pri.prior_micro + COALESCE(s2.tok_score, 0) > 0 AS nb_ok
      |  FROM lab l LEFT JOIN nbsc s2 ON l.doc_id = s2.doc_id CROSS JOIN pri),
      |gated AS (
      |  SELECT d.doc_id, d.text
      |  FROM documents d
      |  JOIN lang USING (doc_id) JOIN qual USING (doc_id)
      |  JOIN rep USING (doc_id) JOIN ex USING (doc_id)
      |  JOIN nbq USING (doc_id)
      |  WHERE predicted_lang = 'en' AND quality_score >= 0.35
      |    AND rep_keep AND nb_ok AND NOT is_dup),
      |${Dedup.cappedPairsCtesFrom("gated")},
      |nd AS (
      |  SELECT DISTINCT db AS doc_id FROM c
      |  JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
      |  WHERE i / (sa.n + sb.n - i) >= 0.8)
      |SELECT d.doc_id,
      |  l.predicted_lang = 'en' AS lang_ok,
      |  q.quality_score >= 0.35 AS quality_ok,
      |  r.rep_keep AS repetition_ok,
      |  b.nb_ok AS nb_ok,
      |  NOT e.is_dup AS not_exact_dup,
      |  nd.doc_id IS NOT NULL AS near_dup_drop,
      |  l.predicted_lang = 'en' AND q.quality_score >= 0.35
      |    AND r.rep_keep AND b.nb_ok AND NOT e.is_dup
      |    AND nd.doc_id IS NULL AS keep
      |FROM documents d
      |JOIN lang l USING (doc_id) JOIN qual q USING (doc_id)
      |JOIN rep r USING (doc_id) JOIN ex e USING (doc_id)
      |JOIN nbq b USING (doc_id)
      |LEFT JOIN nd USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    corpusCleanFrom(s, dir, None)
  }

  /** corpus_clean's dataflow, optionally over a caller-supplied
    * FULL-corpus shingle frame: the survivor-domain near-dup gate
    * then derives its shingles by one semi-join on the shared cache
    * instead of re-tokenizing the survivors — pipeline_e2e's
    * composition hook (its split stage needs the full-corpus
    * shingles anyway). */
  private[queries] def corpusCleanFrom(s: SparkSession, dir: String,
      shFull: Option[org.apache.spark.sql.DataFrame])
      : org.apache.spark.sql.DataFrame = {
    val gates = cleanGates(s, nbModelOf(s, dir), Tables.documents(s, dir))
    val ex = Dedup.exact.run(s, dir)
      .select(col("doc_id"), (!col("is_dup")).as("not_exact_dup"))
    // flags feed both the gate filter and the final projection
    val flags = gates.join(ex, "doc_id").cache()
    val gatedIds = flags.filter(col("lang_ok") && col("quality_ok")
      && col("repetition_ok") && col("nb_ok") && col("not_exact_dup"))
      .select(col("doc_id"))
    val survSh = shFull match {
      case Some(sh) => sh.join(gatedIds, Seq("doc_id"), "left_semi")
      case None => Dedup.hashedShinglesOf(
        Tables.documents(s, dir).join(gatedIds, Seq("doc_id"), "left_semi"))
    }
    val nd = Dedup.ngramPairsFrom(survSh)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("near_dup_drop", lit(true))
    flags.join(nd, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang_ok"), col("quality_ok"),
        col("repetition_ok"), col("nb_ok"), col("not_exact_dup"),
        coalesce(col("near_dup_drop"), lit(false)).as("near_dup_drop"),
        (col("lang_ok") && col("quality_ok") && col("repetition_ok")
          && col("nb_ok") && col("not_exact_dup")
          && coalesce(col("near_dup_drop"), lit(false)) === false).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** The stateless gates and the learned NB gate of corpus_clean over
    * a (doc_id, text) frame, as (doc_id, lang_ok, quality_ok,
    * repetition_ok, nb_ok): ONE projection over Text.docFeatures, the
    * NB score summed in-row from the same token array against the
    * persisted model at `nbIdx` (nbScorer). Shared by corpus_clean,
    * quality_ensemble and the streaming cleaning twin
    * (StreamOps.cleanIngest), so batch and stream cannot drift. */
  private[graft] def cleanGates(s: SparkSession, nbIdx: String,
      docs: DataFrame): DataFrame = {
    val nb = nbScorer(s, nbIdx)
    Text.docFeatures(docs).select(col("doc_id"),
      (col("predicted_lang") === "en").as("lang_ok"),
      (col("quality_score") >= 0.35).as("quality_ok"),
      col("rep_keep").as("repetition_ok"),
      (nb(col("ts")).getField("score_micro") > 0L).as("nb_ok"))
  }

  /** Weighted dataset mixing — the "hit the target source mix
    * without upsampling" sampler every multi-source training corpus
    * runs. Each source gets a target weight (here 1..3, derived from
    * the source id); the largest corpus achieving the exact mix keeps
    * the BINDING source (max tokens-per-weight headroom used up) at
    * rate 1 and downsamples every other source to
    * rate_s = num_s·(tok_m/num_m)/tok_s. Selection is a portable
    * md5-prefix hash slot per doc — reproducible on any engine and
    * cluster size, no rand() — and the keep test is cross-multiplied
    * into pure int64 arithmetic (max ~2^56, overflow-safe under ANSI)
    * so both engines decide identically: slot·6·tok_s <
    * num_s·key_m·2^32, where key_m = min_s(tok_s·6/num_s).
    *
    * Scale shape: one pass over the corpus, one partial-agg groupBy
    * for per-source stats (rows = #sources, broadcast back), and the
    * scalar min cross-joined — the fact table never shuffles. */
  val corpusMix: Q = Q(
    "corpus_mix",
    """WITH d AS (
      |  SELECT doc_id, source,
      |    len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS n_tok,
      |    1 + (CAST(regexp_extract(source, '(\d+)$', 1) AS INT) % 3)::BIGINT AS num,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS slot
      |  FROM documents),
      |st AS (SELECT source, num, SUM(n_tok) AS src_tok FROM d GROUP BY 1, 2),
      |k AS (SELECT MIN(src_tok * (6 // num)) AS key_m FROM st)
      |SELECT d.source, COUNT(*) AS n_kept, SUM(d.n_tok)::BIGINT AS tok_kept
      |FROM d JOIN st USING (source), k
      |WHERE d.slot * 6 * st.src_tok < st.num * k.key_m * 4294967296
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val d = Tables.documents(s, dir).select(
      col("doc_id"), col("source"),
      size(graft.functions.TextExprs.tokens(col("text")))
        .cast("long").as("n_tok"),
      (lit(1L) + regexp_extract(col("source"), "(\\d+)$", 1).cast("long") % 3)
        .as("num"),
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long").as("slot"))
    val st = d.groupBy(col("source"), col("num"))
      .agg(sum(col("n_tok")).as("src_tok"))
      .withColumn("key", col("src_tok") * expr("6 div num"))
    val keyM = st.agg(min(col("key")).as("key_m"))
    d.drop("num")
      .join(broadcast(st.select(col("source"), col("num"), col("src_tok"))),
        Seq("source"))
      .crossJoin(broadcast(keyM))
      .filter(col("slot") * 6 * col("src_tok") <
        col("num") * col("key_m") * lit(4294967296L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("tok_kept"))
      .orderBy(col("source"))
  }

  // ---- learned quality classifier (multinomial Naive Bayes) ----
  //
  // The model-based quality filter every production corpus run ships
  // next to its heuristic gates (CCNet / Wenzek et al. 2020 train a
  // fastText classifier; GPT-3 / Brown et al. 2020 a logistic
  // regression): cheap per-doc rules label a training slice, a token
  // model is FIT distributed, and the learned scorer generalizes the
  // gate. Multinomial NB (McCallum & Nigam '98) is the member of that
  // family whose fit is ONE mergeable aggregation — count (token,
  // class) occurrences — so the whole train step is a single
  // map-side-combined groupBy at any corpus size, and the model is a
  // bounded table (vocab cap 512) that broadcasts for scoring.
  //
  // Everything is integer-exact or replayed identically in both
  // engines: the weak-supervision label is text_quality's composite
  // gate (threshold 0.45) cross-multiplied into pure int64 arithmetic
  // (the events_anomaly trick — no float threshold can disagree), and
  // log-likelihood ratios are quantized to integer MICRO-NATS
  // (floor(llr·1e6 + 0.5)) so per-doc scores are exact integer sums —
  // order-independent under partial aggregation, hash-identical in
  // DuckDB. The ln() inputs are identical correctly-rounded doubles;
  // a 1-ulp libm disagreement (~1e-9 at micro-nat scale) cannot move
  // the 0.5 rounding boundary.

  private lazy val nbStops = Seq("the", "a", "and", "of", "to", "in", "is", "it")

  /** Shared oracle CTE chain: label → token counts → capped vocab →
    * class totals → micro-nat llr model. Used by both fit and apply
    * so the two oracles cannot drift apart. */
  private lazy val nbModelCtes: String = {
    val stopsSql = nbStops.map(w => s"'$w'").mkString(", ")
    s"""src AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk,
      |    CAST(len(text) AS BIGINT) AS nc,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS nw,
      |    CAST(len(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS BIGINT) AS na,
      |    CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
      |      x -> x IN ($stopsSql))) AS BIGINT) AS ns
      |  FROM documents),
      |lab AS (
      |  SELECT doc_id, tk,
      |    CASE WHEN 3000*ns*nc
      |        + (CASE WHEN nw >= 100 THEN 4000*nw*nc ELSE 40*nw*nw*nc END)
      |        + 3000*na*nw >= 4500*nw*nc
      |      THEN 1 ELSE 0 END AS label
      |  FROM src),
      |tok AS (SELECT doc_id, label, unnest(tk) AS token FROM lab),
      |cnt AS (
      |  SELECT token,
      |    CAST(SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
      |    CAST(SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_lo
      |  FROM tok GROUP BY token),
      |vocab AS (SELECT * FROM cnt ORDER BY n_hi + n_lo DESC, token LIMIT 512),
      |tot AS (
      |  SELECT CAST(SUM(n_hi) AS BIGINT) AS sh, CAST(SUM(n_lo) AS BIGINT) AS sl,
      |    COUNT(*) AS v
      |  FROM vocab),
      |model AS (
      |  SELECT token, n_hi, n_lo,
      |    CAST(FLOOR((ln(CAST(n_hi + 1 AS DOUBLE) / (sh + v))
      |              - ln(CAST(n_lo + 1 AS DOUBLE) / (sl + v))) * 1000000.0 + 0.5)
      |      AS BIGINT) AS llr_micro
      |  FROM vocab CROSS JOIN tot)""".stripMargin
  }

  /** Weak-supervision labels: text_quality's composite score >= 0.45,
    * cross-multiplied by 10000·nw·nc into exact int64 (products stay
    * under 2^53; nw=0 docs label 1 via 0 >= 0 — both engines agree). */
  private[graft] def nbLabeled(s: SparkSession, dir: String): DataFrame =
    nbLabeledFrom(Tables.documents(s, dir))

  /** Same labeling over an arbitrary (doc_id, text) frame — the
    * streaming scorer labels each micro-batch with it. */
  private[graft] def nbLabeledFrom(docs: DataFrame): DataFrame = {
    val tk = graft.functions.TextExprs.tokens(col("text"))
    docs.select(
      col("doc_id"), tk.as("tk"),
      length(col("text")).cast("long").as("nc"),
      size(tk).cast("long").as("nw"),
      length(regexp_replace(lower(col("text")), "[^a-z0-9]", ""))
        .cast("long").as("na"),
      size(filter(tk, t => t.isInCollection(nbStops))).cast("long").as("ns"))
      .select(col("doc_id"), col("tk"),
        when(lit(3000L) * col("ns") * col("nc")
          + when(col("nw") >= 100L, lit(4000L) * col("nw") * col("nc"))
            .otherwise(lit(40L) * col("nw") * col("nw") * col("nc"))
          + lit(3000L) * col("na") * col("nw")
          >= lit(4500L) * col("nw") * col("nc"), 1L)
          .otherwise(0L).as("label"))
  }

  /** The fitted model: one explode + one partial-aggregating groupBy
    * over the corpus, TakeOrdered vocab cap, llr in micro-nats. The
    * capped vocabulary (≤512 rows) is collected once instead of
    * cached — the distributed token×class aggregation still runs
    * exactly once, and no cache entry outlives the fit (each bench
    * invocation of the old shape leaked one). Class totals become
    * integer literals; the llr expression is unchanged, so values
    * are bit-identical. */
  private[graft] def nbModel(labeled: DataFrame): DataFrame = {
    val s = labeled.sparkSession
    val cnt = labeled.select(col("label"), explode(col("tk")).as("token"))
      .groupBy(col("token")).agg(
        sum(when(col("label") === 1L, 1L).otherwise(0L)).as("n_hi"),
        sum(when(col("label") === 0L, 1L).otherwise(0L)).as("n_lo"))
    val vocab = cnt.orderBy((col("n_hi") + col("n_lo")).desc, col("token").asc)
      .limit(512).collect()
    val sh = vocab.iterator.map(_.getLong(1)).sum
    val sl = vocab.iterator.map(_.getLong(2)).sum
    val v = vocab.length.toLong
    import s.implicits._
    vocab.toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toDF("token", "n_hi", "n_lo")
      .select(col("token"), col("n_hi"), col("n_lo"),
        floor((log((col("n_hi") + 1L).cast("double") / lit(sh + v))
             - log((col("n_lo") + 1L).cast("double") / lit(sl + v)))
          * 1000000.0 + 0.5).cast("long").as("llr_micro"))
  }

  /** FIT: the model table itself — per-token class counts and the
    * micro-nat log-likelihood ratio. One corpus pass. */
  val qualityNbFit: Q = Q(
    "quality_nb_fit",
    s"""WITH $nbModelCtes
      |SELECT token, n_hi, n_lo, llr_micro FROM model
      |ORDER BY token""".stripMargin) { (s, dir) =>
    nbModel(nbLabeled(s, dir)).orderBy(col("token"))
  }

  /** THE maintained NB quality model for a corpus dir — fitted at
    * most once per source+format version (IndexLifecycle.buildOnce,
    * the ivfIndexOf shape): a `model` table (token, n_hi, n_lo,
    * llr_micro) and a 1-row `priors` table (dhi, dlo). Scoring reads
    * THIS state — a production quality gate fits nightly and scores
    * every ingest batch; billing the fit into every scoring run is
    * the accounting the r8 verdict retired for the ANN family. The
    * key's fmt fragment pins vocab cap + label threshold + the
    * micro-nat quantization, so a knob change rebuilds. */
  private[graft] def nbModelOf(s: SparkSession, dir: String): String = {
    import graft.operators.IndexLifecycle.laidOut
    val idx = Vectors.sidecarDir("nbq", dir)
    graft.operators.IndexLifecycle.buildOnce(idx,
      graft.operators.IndexLifecycle.sourceKey(
        s"$dir/documents.parquet", "nbq-v512-t4500-micro6")) { tmp =>
      val labeled = nbLabeled(s, dir).cache()
      laidOut(nbModel(labeled), NbModelSchema).coalesce(1)
        .write.parquet(s"$tmp/model")
      laidOut(labeled.agg(
          sum(col("label")).as("dhi"),
          (count(lit(1)) - sum(col("label"))).as("dlo")), NbPriorsSchema)
        .coalesce(1).write.parquet(s"$tmp/priors")
      labeled.unpersist()
      ()
    }
    idx
  }

  /** Shared oracle scoring CTEs (on top of nbModelCtes): class
    * priors in micro-nats and the per-doc token score off the model.
    * Used by quality_nb_apply AND corpus_clean's learned gate so the
    * two oracles cannot drift apart. */
  private lazy val nbScoreCtes: String =
    s"""dc AS (
      |  SELECT CAST(SUM(label) AS BIGINT) AS dhi,
      |    CAST(COUNT(*) - SUM(label) AS BIGINT) AS dlo
      |  FROM lab),
      |pri AS (
      |  SELECT CAST(FLOOR(ln(CAST(dhi + 1 AS DOUBLE) / (dlo + 1))
      |    * 1000000.0 + 0.5) AS BIGINT) AS prior_micro
      |  FROM dc),
      |dtc AS (
      |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM tok GROUP BY doc_id, token),
      |nbsc AS (
      |  SELECT d.doc_id, CAST(SUM(d.c * m.llr_micro) AS BIGINT) AS tok_score,
      |    CAST(SUM(d.c) AS BIGINT) AS matched
      |  FROM dtc d JOIN model m USING (token) GROUP BY d.doc_id)""".stripMargin

  /** The nbModelOf `model` layout as written — readers declare it:
    * an inferring parquet read is a footer job per load, and the
    * streaming gate loads the model every micro-batch. */
  val NbModelSchema: StructType = StructType(Seq(
    StructField("token", StringType), StructField("n_hi", LongType),
    StructField("n_lo", LongType), StructField("llr_micro", LongType)))

  /** The nbModelOf 1-row `priors` layout (class doc counts). */
  val NbPriorsSchema: StructType = StructType(Seq(
    StructField("dhi", LongType), StructField("dlo", LongType)))

  /** Per-doc scores off the PERSISTED nbModelOf state — the serving
    * path shared by quality_nb_apply and corpus_clean's learned gate:
    * ONE corpus pass and no exchange. The ≤512-row model and the one
    * prior row are read once per call (nbScorer) and each doc's token
    * array is scored in-row — Σ count(doc,t)·llr(t) ≡ Σ per-occurrence
    * llr for exact integer micro-nats, so the oracle's (doc, token)
    * pre-count stage needs no Spark twin. Zero-token docs score
    * prior-only. Output: (doc_id, label, matched_tokens,
    * score_micro). */
  private[graft] def nbScored(s: SparkSession, dir: String): DataFrame =
    nbScoredFrom(s, nbModelOf(s, dir), Tables.documents(s, dir))

  /** The serving dataflow against an explicit model sidecar and doc
    * frame — shared verbatim by the batch scorer and the streaming
    * per-micro-batch scorer. */
  private[graft] def nbScoredFrom(s: SparkSession, idx: String,
      docs: DataFrame): DataFrame = {
    val nb = nbScorer(s, idx)
    nbLabeledFrom(docs)
      .select(col("doc_id"), col("label"), nb(col("tk")).as("nb"))
      .select(col("doc_id"), col("label"),
        col("nb.matched_tokens"), col("nb.score_micro"))
  }

  /** The persisted model at `idx` as an in-row scorer: token array =>
    * struct(matched_tokens, score_micro), score = prior + Σ llr_micro
    * over the array's model tokens (TokenWeights — the compiled twin
    * of explode → broadcast join → groupBy). The model and the prior
    * are collected here, once, into plan literals. */
  private[graft] def nbScorer(s: SparkSession,
      idx: String): Column => Column = {
    val weights = s.read.schema(NbModelSchema).parquet(s"$idx/model")
      .select(col("token"), col("llr_micro")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the prior is ONE persisted row — a literal, not a 1-row cross
    // join in every consumer's plan (corpus_clean's plan audit stays
    // strictly nested-loop-free)
    val priorMicro = s.read.schema(NbPriorsSchema).parquet(s"$idx/priors")
      .select(floor(log((col("dhi") + 1L).cast("double") / (col("dlo") + 1L))
        * 1000000.0 + 0.5).cast("long"))
      .head().getLong(0)
    tk => {
      val w = graft.functions.TextExprs.tokenWeights(tk, weights)
      struct(coalesce(w.getField("matched"), lit(0L)).as("matched_tokens"),
        (lit(priorMicro) + coalesce(w.getField("score"), lit(0L)))
          .as("score_micro"))
    }
  }

  /** APPLY: score every doc with the fitted model — per-doc integer
    * score = prior + Σ count(doc,t)·llr(t) over model tokens, predict
    * hi-quality iff score > 0, and report agreement with the
    * weak-supervision label (the classifier's training-set fit). The
    * model is the PERSISTED nbModelOf state (≤512 rows + 1 prior row,
    * broadcast to the scoring join), so the timed query is the
    * serving path — see nbScored. The oracle replays the model from
    * the corpus instead of reading the sidecar, so a stale or corrupt
    * persisted model hash-diverges — freshness is itself gated. */
  val qualityNbApply: Q = Q(
    "quality_nb_apply",
    s"""WITH $nbModelCtes,
      |$nbScoreCtes
      |SELECT l.doc_id, CAST(l.label AS BIGINT) AS label,
      |  CAST(COALESCE(sc.matched, 0) AS BIGINT) AS matched_tokens,
      |  CAST(pri.prior_micro + COALESCE(sc.tok_score, 0) AS BIGINT) AS score_micro,
      |  CAST(CASE WHEN pri.prior_micro + COALESCE(sc.tok_score, 0) > 0
      |    THEN 1 ELSE 0 END AS BIGINT) AS pred,
      |  (CASE WHEN pri.prior_micro + COALESCE(sc.tok_score, 0) > 0
      |    THEN 1 ELSE 0 END) = l.label AS agree
      |FROM lab l LEFT JOIN nbsc sc ON l.doc_id = sc.doc_id CROSS JOIN pri
      |ORDER BY l.doc_id""".stripMargin) { (s, dir) =>
    val score = col("score_micro")
    nbScored(s, dir)
      .select(col("doc_id"), col("label"), col("matched_tokens"),
        col("score_micro"),
        when(score > 0L, 1L).otherwise(0L).as("pred"),
        (when(score > 0L, 1L).otherwise(0L) === col("label")).as("agree"))
      .orderBy(col("doc_id"))
  }

  /** Seeded deterministic global shuffle — the training-order
    * permutation every epoch of a data-parallel run needs: each doc's
    * position is a pure function of (seed, doc_id), so ANY engine at
    * ANY cluster size reproduces the identical permutation (rerunning
    * a crashed job or re-sharding for more workers never reorders the
    * data), and changing the seed is a fresh epoch order. Shuffle key
    * = md5(seed ':' doc_id); global rank over (key, doc_id) via
    * GlobalPrefix (range-partition + per-partition window + broadcast
    * offsets — NO single-partition window, PlanSpec-asserted), then
    * ranks chop into fixed 64-doc shards with in-shard positions —
    * the (shard, pos) layout a sharded dataloader consumes directly.
    * At 100 TB this is ONE range exchange (the same cost as any
    * global sort) and the rank pass's O(partitions) offset collect —
    * nothing else. */
  /** Docs per training shard. 64 fits the test corpus (500 docs →
    * 8 shards, enough to exercise the layout); a production run sizes
    * shards to the dataloader's unit of work — target shard bytes /
    * mean doc bytes. Interpolated into BOTH the Spark plan and the
    * oracle SQL, so the gate stays in lockstep at any value. */
  private val shardDocs: Long = 64L

  val corpusShuffle: Q = Q(
    "corpus_shuffle",
    s"""WITH t AS (
      |  SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS k
      |  FROM documents),
      |r AS (
      |  SELECT doc_id,
      |    CAST(ROW_NUMBER() OVER (ORDER BY k, doc_id) AS BIGINT) AS rank
      |  FROM t)
      |SELECT doc_id, rank,
      |  (rank - 1) // $shardDocs AS shard_id,
      |  (rank - 1) % $shardDocs AS pos_in_shard
      |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val keyed = Tables.documents(s, dir).select(col("doc_id"),
      md5(concat(lit("42:"), col("doc_id").cast("string"))).as("k"))
    val (ranked, _) = graft.operators.GlobalPrefix.withCumSum(
      keyed, Seq(col("k"), col("doc_id")), lit(1L))
    ranked.select(col("doc_id"), col("cum").as("rank"),
        // integer `div`, not floor(double/): a double mantissa clips
        // ranks past 2^53 — irrelevant at test scale, wrong at lake
        // scale
        expr(s"(cum - 1) div $shardDocs").as("shard_id"),
        pmod(col("cum") - 1, lit(shardDocs)).as("pos_in_shard"))
      .orderBy(col("doc_id"))
  }

  /** Balanced deterministic source interleaving — the training-order
    * complement of corpus_shuffle for MULTI-SOURCE corpora: a plain
    * seeded shuffle leaves source runs wherever the hash puts them,
    * while a dataloader wants sources evenly spread through the
    * epoch. position = (rank_in_source − 1)·n_sources + source_index
    * — exact round-robin across sources, each source's internal
    * order the same seeded md5 permutation (crash-rerun and
    * re-sharding safe, no rand()). Unequal sources leave tail gaps:
    * position is an ORDER key, not a dense index (a dense index is
    * one more GlobalPrefix over it — deliberately not paid here).
    *
    * Scale shape: ONE GlobalPrefix pass ordered (source, key) gives
    * global ranks (range exchange, no single-partition window —
    * PlanSpec); per-source offsets/indexes are an O(#sources) driver
    * set broadcast back. A per-source window would funnel each
    * source — most of the corpus — into one task's sort. */
  val corpusInterleave: Q = Q(
    "corpus_interleave",
    """WITH t AS (
      |  SELECT doc_id, source, md5('42:' || CAST(doc_id AS VARCHAR)) AS k
      |  FROM documents),
      |s AS (
      |  SELECT source,
      |    CAST(ROW_NUMBER() OVER (ORDER BY source) - 1 AS BIGINT) AS sidx
      |  FROM (SELECT DISTINCT source FROM t)),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM s),
      |r AS (
      |  SELECT doc_id, source,
      |    CAST(ROW_NUMBER() OVER (
      |      PARTITION BY source ORDER BY k, doc_id) AS BIGINT) AS rin
      |  FROM t)
      |SELECT r.doc_id, r.source, r.rin AS rank_in_source,
      |  CAST((r.rin - 1) * n.ns + s.sidx AS BIGINT) AS position
      |FROM r JOIN s ON r.source = s.source CROSS JOIN n
      |ORDER BY r.doc_id""".stripMargin) { (s, dir) =>
    val keyed = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      md5(concat(lit("42:"), col("doc_id").cast("string"))).as("k"))
    val (ranked, _) = graft.operators.GlobalPrefix.withCumSum(
      keyed, Seq(col("source"), col("k"), col("doc_id")), lit(1L))
    // O(#sources) driver set: cumulative offsets + dense source index
    val counts = keyed.groupBy(col("source"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val ns = counts.length.toLong
    val offsets = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(0L)(_ + _).dropRight(1))
      .zipWithIndex.map { case ((src, off), i) => (src, off, i.toLong) }
    import s.implicits._
    val offDf = broadcast(offsets.toSeq.toDF("source", "off", "sidx"))
    ranked.join(offDf, "source")
      .select(col("doc_id"), col("source"),
        (col("cum") - col("off")).as("rank_in_source"),
        ((col("cum") - col("off") - 1L) * ns + col("sidx")).as("position"))
      .orderBy(col("doc_id"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * doc by how target-domain-like its HASHED n-gram features are —
    * log w(d) = Σ_f count(d,f)·[ln p̂_T(f) − ln p̂_R(f)] over unigrams
    * hashed into B=1024 buckets (the paper's trick: fixed feature
    * dimensionality whatever the vocabulary, so the model is a
    * bounded 1024-row table at ANY corpus size). Target distribution
    * = docs from the curated source 'src0' (the paper's target
    * corpus), raw = the whole corpus. This is the domain-relevance
    * selector next to the NB QUALITY gate — different signal
    * (which-distribution vs good-vs-bad), same serving shape.
    *
    * Numeric discipline as quality_nb: bucket hash is the portable
    * md5-prefix (identical integers in both engines), add-one
    * smoothing over B buckets, per-bucket llr quantized to integer
    * MICRO-NATS so per-doc scores are exact integer sums —
    * order-independent under partial aggregation, hash-identical in
    * DuckDB. Dataflow: the exploded bucket frame is cached and feeds
    * BOTH the fit aggregation (one map-side-combined groupBy to 1024
    * rows) and the scoring join (model broadcast, per-occurrence sum
    * straight to doc_id — one exchange); selected = logw > 0 (doc
    * looks more target-like than raw-like). Zero-token docs survive
    * via LEFT JOIN with weight 0. */
  val qualityDsir: Q = Q(
    "quality_dsir",
    """WITH f AS (
      |  SELECT doc_id, source,
      |    ('0x' || substr(md5(t), 1, 10))::BIGINT % 1024 AS b
      |  FROM (SELECT doc_id, source,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
      |    FROM documents)),
      |cnt AS (
      |  SELECT b,
      |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
      |    CAST(COUNT(*) AS BIGINT) AS cr
      |  FROM f GROUP BY b),
      |tot AS (
      |  SELECT CAST(SUM(ct) AS BIGINT) AS st, CAST(SUM(cr) AS BIGINT) AS sr
      |  FROM cnt),
      |model AS (
      |  SELECT b, CAST(FLOOR((ln((ct + 1.0) / (st + 1024))
      |                      - ln((cr + 1.0) / (sr + 1024))) * 1000000.0 + 0.5)
      |    AS BIGINT) AS llr_micro
      |  FROM cnt CROSS JOIN tot),
      |sc AS (
      |  SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
      |    CAST(SUM(m.llr_micro) AS BIGINT) AS lw
      |  FROM f JOIN model m USING (b) GROUP BY f.doc_id)
      |SELECT d.doc_id, COALESCE(n_feats, 0) AS n_feats,
      |  COALESCE(lw, 0) AS logw_micro, COALESCE(lw, 0) > 0 AS selected
      |FROM documents d LEFT JOIN sc USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val f = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        explode(graft.functions.TextExprs.tokens(col("text"))).as("t"))
      .select(col("doc_id"), col("source"),
        (conv(substring(md5(col("t")), 1, 10), 16, 10).cast("long") % 1024)
          .as("b"))
      .cache() // feeds the fit aggregation and the scoring join
    val cnt = f.groupBy(col("b")).agg(
      sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cr"))
    val tot = cnt.agg(sum(col("ct")).as("st"), sum(col("cr")).as("sr"))
    val model = cnt.crossJoin(broadcast(tot)).select(col("b"),
      floor((log((col("ct") + 1.0) / (col("st") + 1024L))
           - log((col("cr") + 1.0) / (col("sr") + 1024L)))
        * 1000000.0 + 0.5).cast("long").as("llr_micro"))
    val sc = f.join(broadcast(model), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("llr_micro")).as("lw"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("lw"), lit(0L)).as("logw_micro"),
        (coalesce(col("lw"), lit(0L)) > 0L).as("selected"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic train/val/test split — the holdout assignment
    * every training corpus draws before anything else touches the
    * data. Each doc's split is a pure function of (seed, doc_id): the
    * seeded md5-prefix slot maps onto 20 equal hash buckets and
    * buckets 0-17/18/19 become train/val/test (90/5/5). Because the
    * assignment is content-addressed rather than positional, it is
    * reproducible on ANY engine at ANY cluster size (re-running a
    * crashed job, re-sharding, or re-ingesting the corpus never moves
    * a doc across the split boundary — the property that keeps eval
    * sets uncontaminated across pipeline re-runs), and a new seed is
    * a fresh independent draw. Stratification across sources holds by
    * hash uniformity; an EXACT per-source quota is quality_top_pct's
    * ranked shape instead.
    *
    * Scale shape: a pure per-row map — the corpus never shuffles at
    * all (the orderBy is the gate's, not the operator's). The bucket
    * test is integer-only (slot·20 div 2^32), so both engines decide
    * identically on every row. */
  val corpusSplit: Q = Q(
    "corpus_split",
    """WITH d AS (
      |  SELECT doc_id, source,
      |    ('0x' || substr(md5('13:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS slot
      |  FROM documents)
      |SELECT doc_id, source,
      |  CASE WHEN slot * 20 // 4294967296 < 18 THEN 'train'
      |       WHEN slot * 20 // 4294967296 = 18 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val bucket = expr("(slot * 20) div 4294967296")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        conv(substring(md5(concat(lit("13:"), col("doc_id").cast("string"))),
          1, 8), 16, 10).cast("long").as("slot"))
      .select(col("doc_id"), col("source"),
        when(bucket < 18, "train").when(bucket === 18, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-sampled source mixing (α = 0.5) — the multilingual
    * rebalancing trick (mBERT / XLM-R, Conneau et al. 2020): sample
    * sources so kept tokens ∝ (source tokens)^α, flattening the
    * head-source dominance a raw corpus has without upsampling the
    * tail. Realized as pure downsampling with the SMALLEST source
    * binding at rate 1: rate_s = sqrt(tok_min / tok_s), so expected
    * kept tokens from s = sqrt(tok_min · tok_s) ∝ tok_s^0.5 — exactly
    * the α = 0.5 temperature curve. Selection is the seeded
    * md5-prefix slot (reproducible anywhere, no rand()); the rate is
    * quantized to integer MICRO-units via correctly-rounded double
    * ops (divide, sqrt, and multiply are all IEEE correctly-rounded
    * in both engines — the quality_nb micro-nat discipline), so the
    * keep test slot·1e6 < rate_micro·2^32 is pure int64 arithmetic
    * (max ~2^52, overflow-safe) and both engines keep identical docs.
    *
    * Scale shape: corpus_mix's exactly — one pass over the corpus,
    * one partial-agg groupBy to #sources rows broadcast back, the
    * scalar min cross-joined; the fact table never shuffles. */
  val corpusTemperature: Q = Q(
    "corpus_temperature",
    """WITH d AS (
      |  SELECT doc_id, source,
      |    len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS n_tok,
      |    ('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS slot
      |  FROM documents),
      |st AS (SELECT source, SUM(n_tok)::BIGINT AS src_tok FROM d GROUP BY 1),
      |k AS (SELECT MIN(src_tok) AS tok_min FROM st),
      |r AS (
      |  SELECT source, src_tok,
      |    CAST(FLOOR(sqrt(CAST(tok_min AS DOUBLE) / GREATEST(src_tok, 1))
      |      * 1000000.0 + 0.5) AS BIGINT) AS rate_micro
      |  FROM st CROSS JOIN k)
      |SELECT d.source, COUNT(*) AS n_kept, SUM(d.n_tok)::BIGINT AS tok_kept
      |FROM d JOIN r USING (source)
      |WHERE d.slot * 1000000 < r.rate_micro * 4294967296
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val d = Tables.documents(s, dir).select(
      col("doc_id"), col("source"),
      size(graft.functions.TextExprs.tokens(col("text")))
        .cast("long").as("n_tok"),
      conv(substring(md5(concat(lit("7:"), col("doc_id").cast("string"))),
        1, 8), 16, 10).cast("long").as("slot"))
    val st = d.groupBy(col("source")).agg(sum(col("n_tok")).as("src_tok"))
    val tokMin = st.agg(min(col("src_tok")).as("tok_min"))
    val rates = st.crossJoin(broadcast(tokMin)).select(col("source"),
      floor(sqrt(col("tok_min").cast("double") /
          greatest(col("src_tok"), lit(1L)))
        * 1000000.0 + 0.5).cast("long").as("rate_micro"))
    d.join(broadcast(rates), Seq("source"))
      .filter(col("slot") * 1000000L < col("rate_micro") * lit(4294967296L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("tok_kept"))
      .orderBy(col("source"))
  }

  /** Top-k%-by-classifier selection, stratified per source — the
    * DCLM / FineWeb-Edu curation shape: score every doc with the
    * maintained NB quality model (the nbScored serving path — ONE
    * corpus pass against the persisted ≤512-row broadcast model) and
    * keep each source's best 10% by score. Unlike the fixed-threshold
    * gate (quality_nb_apply's pred), a per-source PERCENTILE keeps
    * the selection rate constant as score distributions drift across
    * sources — the production reason curation pipelines rank rather
    * than threshold.
    *
    * Rank discipline: ties broken by doc_id, so ranks are total and
    * hash-exact; selected iff rank·10 ≤ n_source (floor semantics).
    * Scale shape: ranks come from ONE GlobalPrefix pass ordered
    * (source, −score, doc_id) — a range exchange plus per-partition
    * windows, NO single-partition window and NO per-source window (a
    * per-source window funnels each source, most of the corpus, into
    * one task's sort — the corpus_interleave lesson); per-source
    * offsets/counts are an O(#sources) driver set broadcast back.
    * The oracle replays the model from the corpus (stale sidecar
    * hash-diverges — freshness is itself gated, as quality_nb_apply). */
  val qualityTopPct: Q = Q(
    "quality_top_pct",
    s"""WITH $nbModelCtes,
      |$nbScoreCtes,
      |scored AS (
      |  SELECT l.doc_id,
      |    CAST(pri.prior_micro + COALESCE(sc.tok_score, 0) AS BIGINT)
      |      AS score_micro
      |  FROM lab l LEFT JOIN nbsc sc ON l.doc_id = sc.doc_id CROSS JOIN pri),
      |rk AS (
      |  SELECT s.doc_id, d.source, s.score_micro,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY d.source
      |      ORDER BY s.score_micro DESC, s.doc_id) AS BIGINT)
      |      AS rank_in_source,
      |    CAST(COUNT(*) OVER (PARTITION BY d.source) AS BIGINT) AS n_src
      |  FROM scored s JOIN documents d ON s.doc_id = d.doc_id)
      |SELECT doc_id, source, score_micro, rank_in_source,
      |  rank_in_source * 10 <= n_src AS selected
      |FROM rk ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val scored = nbScored(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .withColumn("__neg", -col("score_micro"))
    val (ranked, _) = graft.operators.GlobalPrefix.withCumSum(
      scored, Seq(col("source"), col("__neg"), col("doc_id")), lit(1L))
    // O(#sources) driver set: cumulative offsets + per-source counts
    val counts = scored.groupBy(col("source"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(0L)(_ + _).dropRight(1))
      .zip(counts.map(_._2)).map { case ((src, off), n) => (src, off, n) }
    import s.implicits._
    val offDf = broadcast(offsets.toSeq.toDF("source", "off", "n_src"))
    ranked.join(offDf, "source")
      .select(col("doc_id"), col("source"), col("score_micro"),
        (col("cum") - col("off")).as("rank_in_source"),
        ((col("cum") - col("off")) * 10L <= col("n_src")).as("selected"))
      .orderBy(col("doc_id"))
  }

  /** k-of-n ENSEMBLE quality gate — the voting composition next to
    * corpus_clean's AND-chain (the FineWeb-ablation shape: unanimous
    * gating over-filters because every signal has false positives,
    * so production curation keeps a doc when MOST signals agree):
    * five registered quality signals vote — heuristic quality,
    * repetition, the learned NB gate, character entropy (band low
    * cut, the padding/garbage axis), and corpus-model perplexity
    * (band high cut, the gibberish axis) — and the composite is the
    * exact integer vote count with keep = n_pass >= 4. Every signal
    * IS its registered operator's dataflow (corpus_clean's rule), the
    * bands compare 4dp-rounded values both engines already agree on,
    * and the vote arithmetic is pure int — nothing new to drift.
    * Scale: five equi-joins on doc_id over per-doc flag frames, all
    * partial-aggregating upstream. */
  val qualityEnsemble: Q = Q(
    "quality_ensemble",
    s"""WITH qual AS (
      |  SELECT doc_id, quality_score FROM (${Text.quality.oracle.get})),
      |rep AS (
      |  SELECT doc_id, keep AS rep_keep FROM (${Text.repetition.oracle.get})),
      |ent AS (
      |  SELECT doc_id, entropy FROM (${Text.entropy.oracle.get})),
      |ppx AS (
      |  SELECT doc_id, ppl FROM (${Text.perplexity.oracle.get})),
      |$nbModelCtes,
      |$nbScoreCtes,
      |nbq AS (
      |  SELECT l.doc_id,
      |    pri.prior_micro + COALESCE(s2.tok_score, 0) > 0 AS nb_ok
      |  FROM lab l LEFT JOIN nbsc s2 ON l.doc_id = s2.doc_id CROSS JOIN pri),
      |v AS (
      |  SELECT d.doc_id,
      |    q.quality_score >= 0.35 AS quality_ok,
      |    r.rep_keep AS repetition_ok,
      |    b.nb_ok AS nb_ok,
      |    e.entropy >= 2.78 AS entropy_ok,
      |    x.ppl <= 30.7 AS ppl_ok
      |  FROM documents d
      |  JOIN qual q USING (doc_id) JOIN rep r USING (doc_id)
      |  JOIN nbq b USING (doc_id) JOIN ent e USING (doc_id)
      |  JOIN ppx x USING (doc_id))
      |SELECT doc_id, quality_ok, repetition_ok, nb_ok, entropy_ok, ppl_ok,
      |  (CASE WHEN quality_ok THEN 1 ELSE 0 END
      |    + CASE WHEN repetition_ok THEN 1 ELSE 0 END
      |    + CASE WHEN nb_ok THEN 1 ELSE 0 END
      |    + CASE WHEN entropy_ok THEN 1 ELSE 0 END
      |    + CASE WHEN ppl_ok THEN 1 ELSE 0 END)::BIGINT AS n_pass,
      |  (CASE WHEN quality_ok THEN 1 ELSE 0 END
      |    + CASE WHEN repetition_ok THEN 1 ELSE 0 END
      |    + CASE WHEN nb_ok THEN 1 ELSE 0 END
      |    + CASE WHEN entropy_ok THEN 1 ELSE 0 END
      |    + CASE WHEN ppl_ok THEN 1 ELSE 0 END) >= 4 AS ensemble_keep
      |FROM v ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val gates = cleanGates(s, nbModelOf(s, dir), Tables.documents(s, dir))
      .select(col("doc_id"), col("quality_ok"), col("repetition_ok"),
        col("nb_ok"))
    val ent = Text.entropy.run(s, dir)
      .select(col("doc_id"), (col("entropy") >= 2.78).as("entropy_ok"))
    val ppx = Text.perplexity.run(s, dir)
      .select(col("doc_id"), (col("ppl") <= 30.7).as("ppl_ok"))
    def i(c: Column): Column = when(c, 1).otherwise(0)
    val v = gates.join(ent, "doc_id").join(ppx, "doc_id")
    val nPass = (i(col("quality_ok")) + i(col("repetition_ok"))
      + i(col("nb_ok")) + i(col("entropy_ok")) + i(col("ppl_ok")))
    v.select(col("doc_id"), col("quality_ok"), col("repetition_ok"),
        col("nb_ok"), col("entropy_ok"), col("ppl_ok"),
        nPass.cast("long").as("n_pass"),
        (nPass >= 4).as("ensemble_keep"))
      .orderBy(col("doc_id"))
  }

  /** Contrastive-triplet mining for embedding-model training — the
    * (anchor, positive, negative) generator every contrastive /
    * metric-learning recipe (SimCSE-hard-negatives, E5, GTE) feeds
    * on, built FROM the registered dedup dataflow so "positive"
    * means exactly what dedup_ngram_jaccard means:
    *
    *  - POSITIVES: the anchor's best near-dup partner — the shared
    *    capped-blocking exact-Jaccard pairs (Dedup.ngramPairsOf,
    *    verbatim), symmetrized, argmax per anchor by (jaccard desc,
    *    partner asc). Anchors without a near-dup mint no triplet
    *    (a corpus with no paraphrase pairs has no positives to mine).
    *  - NEGATIVES: deterministic uniform draws with NO corpus-sized
    *    shuffle of pair candidates: every doc gets one negative — its
    *    ring successor in seeded-md5 order WITHIN its hash bucket
    *    (64 buckets; the bucket windows parallelize, and the ring is
    *    as uniform as the hash). Same (seed, doc_id)-pure scheme as
    *    corpus_shuffle/split: any engine at any cluster size draws
    *    the same negative, re-runs never move it. The rare ring
    *    collision (negative == anchor or == positive) drops the
    *    triplet deterministically on both engines. 64 is fixed for
    *    oracle parity (the corpus_sample_exact literal rule);
    *    production sizes buckets ∝ corpus/executor count.
    *
    * Scale: pair mining is the LSH-capped dedup plan (never
    * all-pairs); the positive argmax windows over an anchor's few
    * candidate partners; the negative ring is one narrow
    * (doc_id, md5) frame windowed per bucket. */
  val corpusTriplets: Q = Q(
    "corpus_triplets",
    s"""WITH ${Dedup.cappedPairsCtesFrom("documents")},
      |pj AS (
      |  SELECT da, db, ROUND(i / (sa.n + sb.n - i), 6) j
      |  FROM c JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
      |  WHERE i / (sa.n + sb.n - i) >= 0.8),
      |sym AS (
      |  SELECT da a, db p, j FROM pj
      |  UNION ALL SELECT db, da, j FROM pj),
      |pos AS (
      |  SELECT a, p, j FROM (
      |    SELECT a, p, j,
      |      ROW_NUMBER() OVER (PARTITION BY a ORDER BY j DESC, p) rn
      |    FROM sym) WHERE rn = 1),
      |ring AS (
      |  SELECT doc_id, k,
      |    ('0x' || substr(k, 1, 8))::BIGINT % 64 AS b
      |  FROM (SELECT doc_id,
      |    md5('17:' || CAST(doc_id AS VARCHAR)) k FROM documents)),
      |neg AS (
      |  SELECT doc_id, COALESCE(
      |    LEAD(doc_id) OVER (PARTITION BY b ORDER BY k, doc_id),
      |    FIRST_VALUE(doc_id) OVER (PARTITION BY b ORDER BY k, doc_id))
      |    neg_id
      |  FROM ring)
      |SELECT pos.a AS anchor_id, pos.p AS positive_id,
      |  neg.neg_id AS negative_id, pos.j AS jaccard
      |FROM pos JOIN neg ON pos.a = neg.doc_id
      |WHERE neg.neg_id <> pos.a AND neg.neg_id <> pos.p
      |ORDER BY anchor_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val pj = Dedup.ngramPairsOf(docs)
    val sym = pj.select(col("doc_a").as("a"), col("doc_b").as("p"),
        col("jaccard").as("j"))
      .unionAll(pj.select(col("doc_b").as("a"), col("doc_a").as("p"),
        col("jaccard").as("j")))
    val wa = Window.partitionBy(col("a")).orderBy(col("j").desc, col("p"))
    val pos = sym.withColumn("rn", row_number().over(wa))
      .filter(col("rn") === 1).drop("rn")
    val ring = docs.select(col("doc_id"),
        md5(concat(lit("17:"), col("doc_id").cast("string"))).as("k"))
      .withColumn("b",
        conv(substring(col("k"), 1, 8), 16, 10).cast("long") % 64)
    val wr = Window.partitionBy(col("b")).orderBy(col("k"), col("doc_id"))
    val neg = ring.select(col("doc_id"),
      coalesce(lead(col("doc_id"), 1).over(wr),
        first(col("doc_id")).over(wr)).as("neg_id"))
    pos.join(neg, pos("a") === neg("doc_id"))
      .filter(col("neg_id") =!= col("a") && col("neg_id") =!= col("p"))
      .select(col("a").as("anchor_id"), col("p").as("positive_id"),
        col("neg_id").as("negative_id"), col("j").as("jaccard"))
      .orderBy(col("anchor_id"))
  }

  /** Curriculum training order: quality-banded easy-first scheduling
    * with a seeded shuffle INSIDE each band — the curriculum-learning
    * data order (Bengio et al. '09 applied corpus-side): band 4
    * (highest quality) streams first, each band internally a
    * deterministic md5 permutation so the order is reproducible on
    * any engine at any parallelism and a new seed is a fresh epoch.
    * Rank via GlobalPrefix ordered (band desc, key, doc_id) — ONE
    * range exchange + O(partitions) offsets, no single-partition
    * window. Composes the hash-proven quality score (Text.quality's
    * dataflow) — the banding is a pure map over it. */
  val seqCurriculum: Q = Q(
    "seq_curriculum",
    s"""WITH q AS (
      |  SELECT doc_id, quality_score FROM (${Text.quality.oracle.get})),
      |b AS (
      |  SELECT doc_id,
      |    CAST(LEAST(FLOOR(quality_score * 5), 4) AS BIGINT) AS band,
      |    md5('7:' || CAST(doc_id AS VARCHAR)) AS k
      |  FROM q)
      |SELECT doc_id, band,
      |  CAST(ROW_NUMBER() OVER (ORDER BY band DESC, k, doc_id) AS BIGINT)
      |    AS curriculum_rank
      |FROM b ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val banded = graft.queries.Text
      .qualityFrom(Tables.documents(s, dir))
      .select(col("doc_id"),
        least(floor(col("quality_score") * 5), lit(4)).cast("long")
          .as("band"),
        md5(concat(lit("7:"), col("doc_id").cast("string"))).as("k"))
    // GlobalPrefix sorts ascending; 4 - band inverts to easy-first
    val (ranked, _) = graft.operators.GlobalPrefix.withCumSum(
      banded.withColumn("inv", lit(4L) - col("band")),
      Seq(col("inv"), col("k"), col("doc_id")), lit(1L))
    ranked.select(col("doc_id"), col("band"),
        col("cum").as("curriculum_rank"))
      .orderBy(col("doc_id"))
  }

  /** Quality-weighted sampling without replacement — the
    * Efraimidis-Spirakis weighted-reservoir ordering done
    * deterministically: each doc draws an exponential race key
    * −ln(u)/w (u a pure md5 uniform, w its quality score), the k
    * smallest keys ARE a weighted sample without replacement, and
    * the whole draw reproduces on any engine at any parallelism (the
    * corpus_sample seed discipline, weights added). The top-k is
    * TakeOrderedAndProject — per-partition partial top-k, no global
    * sort; the final rank is a window over k=10 rows. */
  val sampleWeighted: Q = Q(
    "corpus_sample_weighted",
    s"""WITH q AS (
      |  SELECT doc_id, quality_score FROM (${Text.quality.oracle.get})),
      |d AS (
      |  SELECT doc_id, quality_score,
      |    -LN(${graft.functions.Slots.uniformOpenSql("wr7", "doc_id")})
      |      / quality_score AS draw
      |  FROM q WHERE quality_score > 0),
      |r AS (
      |  SELECT doc_id, quality_score, draw,
      |    ROW_NUMBER() OVER (ORDER BY draw, doc_id) AS rank
      |  FROM d)
      |SELECT CAST(rank AS BIGINT) AS rank, doc_id,
      |  ROUND(quality_score, 4) + 0 AS weight,
      |  ROUND(draw, 6) + 0 AS draw_key
      |FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin) { (s, dir) =>
    val u = graft.functions.Slots.uniformOpen("wr7", col("doc_id"))
    val top = graft.queries.Text.qualityFrom(Tables.documents(s, dir))
      .select(col("doc_id"), col("quality_score"))
      .filter(col("quality_score") > 0)
      .withColumn("draw", -log(u) / col("quality_score"))
      .orderBy(col("draw"), col("doc_id"))
      .limit(10)
    top.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("draw"), col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"),
        (round(col("quality_score"), 4) + 0).as("weight"),
        (round(col("draw"), 6) + 0).as("draw_key"))
      .orderBy(col("rank"))
  }

  /** THE END-TO-END CURATION CHAIN under ONE hash (r15 #8) — the
    * query a 100 TB training-data run actually ships: clean
    * (corpus_clean's six gates) → leakage-safe split (keep 'train')
    * → tokenize (tokenizer_wordpiece_apply's per-doc counts) →
    * seeded shuffle → pack into fixed 512-token sequences in
    * SHUFFLED order. Every stage IS the registered operator's own
    * dataflow (.run / its oracle SQL embedded verbatim), so a hash
    * match proves the operators COMPOSE without semantic drift —
    * the corpus_clean composition pattern extended downstream.
    *
    * Stage-boundary economics (PlanSpec pins the shape): the shuffle
    * rank AND the packing prefix offsets come from ONE shared
    * GlobalPrefix pass (withCumSums: rank = cum of 1, offset = cum
    * of max(n_wp,1), both in (k, doc_id) order — no second range
    * exchange, no single-partition window anywhere); packing is
    * seq_pack's bounded next-fit fold per 4096-token shard, here in
    * shuffled-rank order; upstream, each gate is one corpus pass of
    * its own operator. Packing charges max(n_wp,1) for shard
    * assignment and true n_wp for sequence fill — seq_pack's
    * zero-token-doc discipline. */
  val pipelineE2e: Q = Q(
    "pipeline_e2e",
    s"""WITH RECURSIVE clean AS (
      |  SELECT doc_id FROM (${corpusClean.oracle.get}) WHERE keep),
      |splt AS (
      |  SELECT doc_id FROM (${Dedup.splitSafe.oracle.get})
      |  WHERE split = 'train'),
      |wp AS (
      |  SELECT doc_id, n_words, n_wp
      |  FROM (${Text.wordpieceApply.oracle.get})),
      |kept AS (
      |  SELECT w.doc_id, w.n_words, w.n_wp,
      |    md5('42:' || CAST(w.doc_id AS VARCHAR)) AS k
      |  FROM wp w JOIN clean USING (doc_id) JOIN splt USING (doc_id)),
      |r AS (
      |  SELECT doc_id, n_words, n_wp,
      |    CAST(ROW_NUMBER() OVER (ORDER BY k, doc_id) AS BIGINT)
      |      AS rank,
      |    CAST(SUM(greatest(n_wp, 1)) OVER (ORDER BY k, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM kept),
      |d AS (
      |  SELECT doc_id, n_words, n_wp, rank,
      |    (cum - greatest(n_wp, 1)) // 4096 AS shard_id,
      |    CAST(ROW_NUMBER() OVER (
      |      PARTITION BY (cum - greatest(n_wp, 1)) // 4096
      |      ORDER BY rank) AS BIGINT) AS rk
      |  FROM r),
      |p AS (
      |  SELECT shard_id, rk, doc_id, n_words, n_wp, rank,
      |    CAST(0 AS BIGINT) AS seq, n_wp AS fill
      |  FROM d WHERE rk = 1
      |  UNION ALL
      |  SELECT d.shard_id, d.rk, d.doc_id, d.n_words, d.n_wp, d.rank,
      |    CASE WHEN p.fill + d.n_wp <= 512 THEN p.seq ELSE p.seq + 1 END,
      |    CASE WHEN p.fill + d.n_wp <= 512 THEN p.fill + d.n_wp
      |      ELSE d.n_wp END
      |  FROM p JOIN d ON d.shard_id = p.shard_id AND d.rk = p.rk + 1)
      |SELECT doc_id, n_words, n_wp, rank, shard_id,
      |  seq AS seq_in_shard, fill - n_wp AS seq_offset
      |FROM p ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    // ONE corpus tokenize/shingle pass serves both the clean stage's
    // survivor-domain near-dup gate and the split stage's full-corpus
    // enumeration — shared via this invocation's cache, never
    // persisted (r16 rule: every invocation computes from parquet)
    val shFull = Dedup.hashedShinglesOf(Tables.documents(s, dir)).cache()
    val kept0 = corpusCleanFrom(s, dir, Some(shFull)).filter(col("keep"))
      .select(col("doc_id"))
    val train = Dedup.splitSafeFrom(s, dir, shFull)
      .filter(col("split") === "train").select(col("doc_id"))
    val wp = Text.wordpieceApply.run(s, dir)
      .select(col("doc_id"), col("n_words"), col("n_wp"))
    // Eager localCheckpoint of the SURVIVOR SPINE (doc_id, n_words,
    // n_wp, k — one small row per kept doc): GlobalPrefix's two-value
    // cum pass and the packer each re-embed their input subtree, and
    // `kept` embeds the whole clean+split+wordpiece upstream, so the
    // uncheckpointed final plan multiplied it out to 1073 shuffle
    // stages / 2118 scans with near-zero runtime stage reuse
    // (final-plan probe). The checkpoint runs the upstream exactly once inside
    // this timed invocation (nothing persists across runs — the
    // minLabelClusters/retrieval_prf precedent) and the final plan
    // collapses to checkpoint → GlobalPrefix → pack → sort.
    val kept = wp.join(kept0, Seq("doc_id"), "left_semi")
      .join(train, Seq("doc_id"), "left_semi")
      .withColumn("k",
        md5(concat(lit("42:"), col("doc_id").cast("string"))))
      .localCheckpoint()
    // ONE range-partitioned pass gives the shuffle rank AND the
    // packing prefix offset (the withCumSums two-value form)
    val (pref, _) = graft.operators.GlobalPrefix.withCumSums(
      kept, Seq(col("k"), col("doc_id")),
      Seq("rank" -> lit(1L), "cum" -> greatest(col("n_wp"), lit(1L))))
    pref.select(col("doc_id"), col("n_words"), col("n_wp"), col("rank"),
        expr("(cum - greatest(n_wp, 1)) div 4096").as("shard_id"))
      .as[E2eIn]
      .groupByKey(_.shard_id)
      .flatMapGroups { (sid: Long, it: Iterator[E2eIn]) =>
        // seq_pack's bounded next-fit fold, in SHUFFLED-rank order
        val ds = it.toArray.sortBy(_.rank)
        var seq = 0L
        var fill = 0L
        var first = true
        ds.iterator.map { e =>
          if (!first && fill + e.n_wp > 512L) { seq += 1; fill = 0L }
          val off = fill
          fill += e.n_wp
          first = false
          E2eOut(e.doc_id, e.n_words, e.n_wp, e.rank, sid, seq, off)
        }
      }
      .toDF()
      .select(col("doc_id"), col("n_words"), col("n_wp"), col("rank"),
        col("shard_id"), col("seq_in_shard"), col("seq_offset"))
      .orderBy(col("doc_id"))
  }

  val all: Seq[Q] = Seq(seqPack, corpusClean, corpusMix,
    qualityNbFit, qualityNbApply, corpusShuffle, corpusInterleave,
    qualityDsir, corpusSplit, corpusTemperature, qualityTopPct,
    corpusTriplets, qualityEnsemble, seqCurriculum, sampleWeighted,
    pipelineE2e)
}
