package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deduplication operators over the documents table.
  *
  * Shared design: candidate generation is always an equi-join
  * (shingle join, LSH band join, simhash band join) — never O(n²) —
  * and candidates are then verified with an exact similarity measure.
  * Where the verifying measure has a clean threshold gap the output
  * is exact, so the approximate path is oracle-checkable.
  */
object Dedup {

  // codegen'd one-pass twin of regexp_extract_all(lower(c),'[a-z0-9]+')
  private def toks(c: Column): Column = graft.functions.TextExprs.tokens(c)

  /** String n-grams (functions.TextExprs.gramsN — the shared guarded
    * builder), used only where the gram STRING is the join key
    * (decontaminate's eval-set match). The shingle pipelines never
    * touch it anymore: hashedShinglesOf goes token array → distinct
    * hashes in one compiled pass (functions.HashedGrams). */
  private def gramsN(ts: Column, n: Int): Column =
    graft.functions.TextExprs.gramsN(ts, n)

  /** (doc_id, shingle-hash) distinct shingles, hashed and deduped
    * WITHIN the row before the explode — "distinct (doc_id, s)" is
    * per-doc dedup, so no exchange is needed at all (the r15
    * explode-then-DataFrame-distinct shape paid a full (long, long)
    * shuffle of the corpus shingle multiset for the same rows). r17
    * shape: the r16 in-row form built the gram strings and hashed
    * them through TWO nested CodegenFallback HOF lambdas
    * (transform(gramsN(...), g -> xxhash64(g))) — interpreted
    * per-element evaluation in the hottest loop of the family, the
    * driver-measured +25-60% of VERDICT r16 #1. hashedGramsN is the
    * compiled one-pass twin (same xxhash64 values, same first-seen
    * dedup order, see functions.HashedGrams); the shingle string
    * never materializes at all now.
    *
    * Precondition (ADVICE r16): the input frame must carry at most
    * one row per doc_id — per-row dedup equals per-doc dedup only
    * then; a build+append union with repeated doc_ids would
    * double-count docSizes and corrupt Jaccard denominators. Every
    * caller passes a (doc_id, text) document frame. */
  private[graft] def hashedShinglesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.TextExprs.hashedGramsN(
        toks(col("text")), 3)).as("s"))

  private def hashedDistinctShingles(s: SparkSession, dir: String): DataFrame =
    hashedShinglesOf(Tables.documents(s, dir))

  /** (doc_id, h) with the shingle replaced by its 64-bit hash: the
    * pair join shuffles 16-byte rows instead of ~30-char strings.
    * (A 64-bit collision would perturb one intersection count; with
    * ~27k distinct shingles the probability is ~1e-11.) */
  private def hashedShingles(s: SparkSession, dir: String): DataFrame =
    hashedDistinctShingles(s, dir)

  /** Per-doc shingle counts — shared by the stop-shingle cap and the
    * Jaccard denominator; callers cache it so the groupBy runs once. */
  private def docSizes(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))

  /** Jaccard filter + projection for (da, db, i) intersection counts.
    * sz is one row per doc; AQE broadcasts it while small and falls
    * back to a shuffle join at scale — no explicit hint on purpose. */
  private def jaccardFrom(inter: DataFrame, sz: DataFrame): DataFrame = {
    val jac = col("i") / (col("na") + col("nb") - col("i"))
    inter
      .join(sz.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sz.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .filter(jac >= 0.8)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        round(jac, 6).as("jaccard"))
  }

  /** Exact Jaccard for EXTERNALLY-generated candidate pairs (the LSH
    * path). The corpus shingle table is first semi-joined down to the
    * docs that appear in any candidate — the full table must never be
    * the build/broadcast side of a per-pair join (it's the 100 TB
    * side; Catalyst's size estimate of a cached 2-long-column frame
    * slips under the broadcast threshold and ships the whole corpus
    * to every task — measured 7 s of the old 10 s query at sf0.1).
    * Intersections are then counted by a shingle self-join WITHIN the
    * candidate-doc subset (exact: the subset keeps every shingle of
    * every involved doc) and restricted back to the candidate pairs. */
  private def verifiedJaccard(
      pairs: DataFrame, sh: DataFrame, sz: DataFrame): DataFrame = {
    // pairs is consumed THREE times (two doc-id projections + the
    // final semi join) and is tiny (the surviving candidates);
    // broadcast() doubles as the size assertion — if candidates ever
    // blow past the broadcast limit, blocking is broken and failing
    // beats silently shipping them through three shuffles.
    val docs = broadcast(pairs.select(col("da").as("doc_id"))
      .unionByName(pairs.select(col("db").as("doc_id"))).distinct())
    val shSub = sh.join(docs, Seq("doc_id"), "left_semi").cache()
    val inter = shSub.select(col("doc_id").as("da"), col("s"))
      .join(shSub.select(col("doc_id").as("db"), col("s")), Seq("s"))
      .filter(col("da") < col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("i"))
      .join(broadcast(pairs), Seq("da", "db"), "left_semi")
    jaccardFrom(inter, sz)
  }

  /** Exact dedup: group identical normalized text, keep min doc_id.
    * The shuffle key is the text itself (hash-partitioned); at 100 TB
    * you'd shuffle on a digest column instead — same plan shape. */
  val exact: Q = Q(
    "dedup_exact",
    """SELECT doc_id,
      |  MIN(doc_id) OVER (PARTITION BY lower(trim(text))) AS keeper_id,
      |  doc_id <> MIN(doc_id) OVER (PARTITION BY lower(trim(text))) AS is_dup
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(lower(trim(col("text"))))
    Tables.documents(s, dir)
      .select(col("doc_id"), min(col("doc_id")).over(w).as("keeper_id"))
      .withColumn("is_dup", col("doc_id") =!= col("keeper_id"))
      .orderBy(col("doc_id"))
  }

  /** Shared oracle CTE prefix: distinct shingles, doc sizes, the
    * stop-shingle cap (df*2 <= |docs|) applied to CANDIDATE GENERATION
    * only, and exact intersection counts over the FULL shingle set for
    * the surviving pairs — the same lossy-capped-blocking + exact-verify
    * contract the Spark plan implements (candidatePairs), so impl and
    * oracle share semantics by construction. Parameterized on the
    * source relation so corpus_clean can run it over its
    * gated-survivor CTE. */
  private[queries] def cappedPairsCtesFrom(src: String): String =
    s"""toksv AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') ts
      |  FROM $src),
      |sh AS (
      |  SELECT DISTINCT doc_id, ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] AS s
      |  FROM (SELECT doc_id, ts,
      |    unnest(range(0, greatest(len(ts) - 2, 0))) AS i FROM toksv)),
      |sz AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
      |keep AS (
      |  SELECT s FROM sh GROUP BY s
      |  HAVING COUNT(*) * 2 <= (SELECT COUNT(*) FROM sz)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id da, b.doc_id db
      |  FROM sh a JOIN keep k ON a.s = k.s
      |  JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id),
      |c AS (
      |  SELECT cand.da, cand.db, COUNT(*) i
      |  FROM cand JOIN sh a ON a.doc_id = cand.da
      |  JOIN sh b ON b.doc_id = cand.db AND a.s = b.s
      |  GROUP BY 1, 2)""".stripMargin

  /** The exact-Jaccard oracle shared by the n-gram and MinHash paths:
    * every capped-blocking pair with 3-gram Jaccard >= 0.8 (test data
    * has a clean gap: planted pairs >= 0.8, background <= 0.14). */
  private val jaccardOracle: String =
    s"""WITH ${cappedPairsCtesFrom("documents")}
      |SELECT da AS doc_a, db AS doc_b,
      |  ROUND(i / (sa.n + sb.n - i), 6) AS jaccard
      |FROM c JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
      |WHERE i / (sa.n + sb.n - i) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Candidate (da, db) pairs from the shingle equi-join, with the
    * stop-shingle cap: shingles whose document frequency exceeds half
    * the corpus are excluded from CANDIDATE GENERATION — a boilerplate
    * shingle shared by k docs would otherwise fan out k² join rows
    * (the quadratic skew killer at 100 TB). Verification always runs
    * on the FULL shingle set, so intersection counts stay exact. A
    * >= 0.8-Jaccard pair whose every shared shingle is in more than
    * half the corpus would be missed; at that df the "pair" is itself
    * corpus-wide boilerplate (none exist in the oracle-checked data —
    * planted dup pairs share many rare shingles). */
  private[graft] def candidatePairs(sh: DataFrame): DataFrame =
    commonRare(sh, broadcast(
      hotShingleKeys(sh, sh.select(col("doc_id")).distinct().count())))
      .select(col("da"), col("db"))

  /** (da, db, cr): candidate pairs with their rare-shingle
    * intersection count, straight off the capped shingle self-join —
    * ONE groupBy instead of distinct-then-rejoin-the-corpus. The old
    * shape re-joined each candidate against the full shingle table to
    * count intersections: at sf0.1 that was 1.1M candidates x ~60
    * shingles = 72M join rows before the aggregate. Here the count
    * falls out of the join that discovers the pair (map-side partial
    * aggregation bounds the shuffle), and only the few hot shingles
    * need a correction pass (addHotCorrection).
    *
    * `nd` is the corpus size as a driver-side scalar: the callers
    * already run one action to materialize the shared docSizes cache,
    * so its count is free — a broadcast-subquery nd would re-execute
    * the full shingle pipeline once per side of the self-join. */
  /** Hot-shingle keys (df * 2 > nd). At most 2|sh|/nd distinct values
    * by a counting argument, so always broadcastable. */
  private def hotShingleKeys(sh: DataFrame, nd: Long): DataFrame =
    sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") * 2 > lit(nd)).select(col("s"))

  /** `hotK` is the (broadcast) hot-shingle key frame — passed in so
    * the df aggregation runs once across the anti (cap) and semi
    * (correction) consumers. The cap is a broadcast ANTI join: each
    * side of the self-join is a shuffle-free scan of the cached sh —
    * no keep-list shuffle, no second cached frame. */
  private def commonRare(sh: DataFrame, hotK: DataFrame): DataFrame = {
    val rare = sh.join(hotK, Seq("s"), "left_anti")
    rare.select(col("doc_id").as("da"), col("s"))
      .join(rare.select(col("doc_id").as("db"), col("s")), Seq("s"))
      .filter(col("da") < col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("cr"))
  }

  /** (da, db, cr) candidate pairs → (da, db, i) FULL intersection
    * counts: adds the hot-shingle correction, so the verified Jaccard
    * is exact over the full shingle set even though blocking dropped
    * the hot shingles. Hot shingles number at most 2|sh|/nd (each is
    * in > nd/2 docs), so the correction join fans out per DOC key —
    * never per hot shingle — and is empty on corpora without
    * boilerplate. `cr` must be cached by the caller (it feeds both
    * the correction's pair restriction and the final left join).
    * Shared by cappedInter (full-corpus blocking) and
    * dedup_incremental (batch-driven blocking). */
  private def addHotCorrection(
      cr: DataFrame, sh: DataFrame, hotK: DataFrame): DataFrame = {
    val hot = sh.join(hotK, Seq("s"), "left_semi")
    val ch = cr.select(col("da"), col("db"))
      .join(hot.select(col("doc_id").as("da"), col("s")), "da")
      .join(hot.select(col("doc_id").as("db"), col("s")), Seq("db", "s"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("ch"))
    cr.join(ch, Seq("da", "db"), "left")
      .select(col("da"), col("db"),
        (col("cr") + coalesce(col("ch"), lit(0L))).as("i"))
  }

  /** Full intersection counts (da, db, i) for the capped candidates
    * over the whole corpus. */
  private def cappedInter(sh: DataFrame, nd: Long): DataFrame = {
    val hotK = broadcast(hotShingleKeys(sh, nd))
    // cached: cr feeds both the correction's pair restriction and the
    // final left join — uncached, the 1M-pair self-join would run twice.
    // (r16 measured: a driver-side "hot set empty → skip the anti/semi
    // correction subtree" fast path wins NOTHING here — AQE's
    // empty-relation propagation already collapses the empty-build
    // joins at runtime — so the extra data-dependent action was
    // reverted.)
    val cr = commonRare(sh, hotK).cache()
    addHotCorrection(cr, sh, hotK)
  }

  /** Near-dup pairs by exact 3-gram Jaccard >= 0.8 over capped
    * blocking, over any (doc_id, text) frame: only pairs sharing
    * >= 1 non-stop shingle are candidates; their Jaccard is exact
    * over the full shingle set (rare counts + hot correction), and
    * the DuckDB oracle encodes the same contract. Shared by
    * dedup_ngram_jaccard (full corpus) and corpus_clean (gate
    * survivors only: at scale you near-dedup what survived the cheap
    * filters, not the raw crawl). */
  private[queries] def ngramPairsOf(docs: DataFrame): DataFrame =
    ngramPairsFrom(hashedShinglesOf(docs))

  /** Same contract over a PRE-BUILT (doc_id, s) shingle frame — the
    * composition hook pipeline_e2e uses to tokenize the corpus once
    * and serve both its clean (survivor-domain) and split-safe
    * (full-corpus) stages from one cached frame, all inside the same
    * timed invocation. */
  private[queries] def ngramPairsFrom(sh0: DataFrame): DataFrame = {
    val sh = sh0.cache()
    val sz = docSizes(sh).cache()
    jaccardFrom(cappedInter(sh, sz.count()), sz)
  }

  val ngramJaccard: Q = Q("dedup_ngram_jaccard", jaccardOracle) { (s, dir) =>
    ngramPairsOf(Tables.documents(s, dir)).orderBy(col("doc_a"), col("doc_b"))
  }


  /** MinHash(128) + banded LSH (32 bands x 4 rows) + exact-Jaccard
    * verification. The banding sets the S-curve threshold at
    * (1/32)^(1/4) ≈ 0.42 — above the background Jaccard (≤ 0.14,
    * where a pair collides with prob 1-(1-0.14^4)^32 ≈ 1.2%) and well
    * below the 0.8 target (recall 1-(1-0.8^4)^32 ≈ 1-5e-8), so
    * candidates stay near the true-pair count instead of drifting
    * toward O(n²) as the corpus grows. (A 64x2 banding's threshold of
    * ~0.125 sits BELOW the background level — at J=0.14 a pair would
    * become a candidate with ~72% probability.) Verification removes
    * the false positives, so the output equals the exact-Jaccard
    * result (same oracle as dedup_ngram_jaccard) — but candidate
    * generation touches only band-bucket collisions, the plan that
    * survives 100 TB. */
  val minhashLsh: Q = Q("dedup_minhash_lsh", jaccardOracle) { (s, dir) =>
    val sh = hashedShingles(s, dir).cache()
    val sz = docSizes(sh).cache()
    // One-pass 128-hash signature via the custom TypedImperativeAggregate
    // (128 separate min() agg columns exceed codegen limits and run
    // interpreted — 26 s vs ~2 s at sf0.1). Hash i is
    // splitmix64(xxhash64(s) + i*GOLDEN) — affine a*x+b "permutations"
    // without a modulus are monotonic in x and degenerate to 128
    // copies of argmin(x).
    // repartition on the group key BEFORE aggregating: with partial
    // aggregation, every map partition would emit a 1 KB buffer per
    // doc (32 x 5000 x 1 KB here) into the shuffle; pre-partitioning
    // ships the raw 16-byte (doc, hash) rows instead and the sketch
    // is built exactly once per doc.
    val sig = sh.select(col("doc_id"), col("s").as("x"))
      .repartition(col("doc_id"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.Sketches.minhash(col("x"), 128).as("sig"))
    val bandArr = transform(sequence(lit(0), lit(31)), j =>
      hash(element_at(col("sig"), j * 4 + 1), element_at(col("sig"), j * 4 + 2),
        element_at(col("sig"), j * 4 + 3), element_at(col("sig"), j * 4 + 4)))
    // cache: the self-join consumes bands twice; without it the whole
    // sketch pipeline recomputes per side (signatures are tiny: one
    // row per doc)
    val bands = sig
      .select(col("doc_id"), posexplode(bandArr).as(Seq("band", "bh")))
      .cache()
    // cache: verifiedJaccard consumes the candidate set three times;
    // uncached, the band self-join + distinct would re-run per use,
    // and its runtime stats would depend on WHICH use materializes
    // first — the run-to-run plan flap behind the occasional 3-4x
    // bench blowup on this query
    val cand = bands.select(col("doc_id").as("da"), col("band"), col("bh"))
      .join(bands.select(col("doc_id").as("db"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db")).distinct().cache()
    verifiedJaccard(cand, sh, sz).orderBy(col("doc_a"), col("doc_b"))
  }

  /** Weighted SimHash over token frequencies with the PORTABLE 60-bit
    * md5-prefix token hash (signature bits 60-63 are identically 0),
    * banded 4x15 bits over the live bits: the pigeonhole guarantees
    * every pair with hamming <= 3 shares a band, so candidate recall
    * is exact for the hamming predicate. Output is (pair, hamming,
    * exact token-freq cosine) for hamming <= 3 — cosine as exact
    * integer dot / sqrt of exact integer norms with FLOOR half-up
    * rounding, bit-stable across engines, so the whole operator is
    * DuckDB-oracle-checked (the signature is recomputed in SQL from
    * the same hash). */
  val simhash: Q = Q(
    "dedup_simhash",
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) t
      |  FROM documents),
      |tc AS (
      |  SELECT doc_id, t, COUNT(*) AS cnt,
      |    ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
      |  FROM tok GROUP BY doc_id, t),
      |bits AS (
      |  SELECT doc_id, j,
      |    SUM(CASE WHEN (h >> j) & 1 = 1 THEN cnt ELSE -cnt END) AS sm
      |  FROM tc CROSS JOIN generate_series(0, 59) g(j) GROUP BY 1, 2),
      |sig AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN sm > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT) AS sh
      |  FROM bits GROUP BY 1),
      |pr AS (
      |  SELECT a.doc_id da, b.doc_id db,
      |    CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
      |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
      |n2 AS (SELECT doc_id, SUM(cnt * cnt) AS n2 FROM tc GROUP BY 1),
      |dp AS (
      |  SELECT pr.da, pr.db, pr.hamming, SUM(a.cnt * b.cnt) AS dp
      |  FROM pr JOIN tc a ON a.doc_id = pr.da
      |  JOIN tc b ON b.doc_id = pr.db AND a.t = b.t
      |  GROUP BY 1, 2, 3)
      |SELECT da AS doc_a, db AS doc_b, hamming,
      |  FLOOR(dp / sqrt(na.n2 * nb.n2) * 10000 + 0.5) / 10000 AS cos_sim
      |FROM dp JOIN n2 na ON na.doc_id = da JOIN n2 nb ON nb.doc_id = db
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    val tc = Tables.documents(s, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("cnt"))
      .withColumn("x", conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long"))
      .cache() // consumed by both the signature agg and the verify join
    // one-pass weighted SimHash via the custom aggregate (64 signed
    // bit-sum columns hit the same wide-agg cliff as MinHash);
    // pre-partitioned so partial buffers never enter the shuffle
    val sig = tc.repartition(col("doc_id")).groupBy(col("doc_id"))
      .agg(graft.functions.Sketches.simhash(col("x"), col("cnt")).as("sh"))
      .cache()
    val bandArr = array((0 until 4).map(k =>
      shiftright(col("sh"), 15 * k).bitwiseAND(0x7FFFL)): _*)
    val bands = sig.select(col("doc_id"), col("sh"),
      posexplode(bandArr).as(Seq("band", "bh"))).cache()
    val cand = bands
      .select(col("doc_id").as("da"), col("sh").as("sha"), col("band"), col("bh"))
      .join(bands.select(col("doc_id").as("db"), col("sh").as("shb"),
        col("band"), col("bh")), Seq("band", "bh"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        bit_count(col("sha").bitwiseXOR(col("shb"))).as("hamming"))
      .filter(col("hamming") <= 3) // before the distinct: shrink its shuffle
      .distinct()
      .cache() // feeds the doc keys AND the verify join
    // Exact token-frequency cosine on the surviving pairs (integer
    // dot and norms are exact in double, so order-independent) —
    // PINNED the way verifiedJaccard pins the LSH path: the corpus
    // token frame is semi-joined down to docs appearing in a
    // candidate BEFORE any per-pair join, and the bounded frames
    // (candidates, their doc keys, their norms) are explicit
    // broadcast()s — AQE can't flip a corpus-sized frame onto the
    // build side however the cache-materialization timing lands, and
    // the broadcast doubles as the size assertion that banding
    // actually blocked.
    val docs = broadcast(cand.select(col("da").as("doc_id"))
      .unionByName(cand.select(col("db").as("doc_id"))).distinct())
    val cnt = tc.join(docs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("t"), col("cnt").cast("double").as("c"))
      .cache() // two projections below scan it
    val n2 = cnt.groupBy(col("doc_id"))
      .agg(sum(col("c") * col("c")).as("n2"))
    val dot = broadcast(cand)
      .join(cnt.select(col("doc_id").as("da"), col("t"), col("c").as("ca")), "da")
      .join(cnt.select(col("doc_id").as("db"), col("t"), col("c").as("cb")),
        Seq("db", "t"))
      .groupBy(col("da"), col("db"), col("hamming"))
      .agg(sum(col("ca") * col("cb")).as("dp"))
    dot
      .join(broadcast(n2.select(col("doc_id").as("da"), col("n2").as("na"))), "da")
      .join(broadcast(n2.select(col("doc_id").as("db"), col("n2").as("nb"))), "db")
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("hamming"),
        (floor(col("dp") / sqrt(col("na") * col("nb")) * 10000 + 0.5) / 10000)
          .as("cos_sim"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Connected components over the near-dup pair graph: every doc in
    * a duplicate cluster labeled with the cluster's min doc_id (the
    * canonical keeper). Iterative min-label propagation — each round
    * is one join+agg, converging in O(log diameter) rounds (near-dup
    * clusters are tiny, so 2-4); the driver only checks convergence
    * counts, all data stays distributed. Oracle: recursive-CTE
    * transitive closure over the same exact-Jaccard >= 0.8 edges. */
  val clusters: Q = Q(
    "dedup_clusters",
    s"""WITH RECURSIVE ${cappedPairsCtesFrom("documents")},
      |e AS (
      |  SELECT da, db FROM c
      |  JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
      |  WHERE i / (sa.n + sb.n - i) >= 0.8),
      |edges AS (
      |  SELECT da AS x, db AS y FROM e UNION SELECT db, da FROM e),
      |reach AS (
      |  SELECT x, x AS y FROM (SELECT DISTINCT x FROM edges)
      |  UNION
      |  SELECT r.x, ed.y FROM reach r JOIN edges ed ON r.y = ed.x)
      |SELECT x AS doc_id, MIN(y) AS cluster_id
      |FROM reach GROUP BY x ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val sh = hashedShingles(s, dir).cache()
    val sz = docSizes(sh).cache()
    val pairs = jaccardFrom(cappedInter(sh, sz.count()), sz)
      .select(col("doc_a").as("da"), col("doc_b").as("db"))
    minLabelClusters(pairs).orderBy(col("doc_id"))
  }

  /** Driver-side union-find over a bounded set of label pairs, each
    * component rooted at its MINIMUM label (the min-label contract of
    * [[minLabelClusters]]), with path compression. Shared by
    * dedup_clusters_incremental and the streaming cluster twin, which
    * fold a micro-batch's label pairs into the persisted labels. */
  private[graft] final class MinRootUnion(pairs: Iterable[(Long, Long)]) {
    private val parent = scala.collection.mutable.HashMap.empty[Long, Long]

    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }

    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }

    /** (label, root) for every merged-away label that `keep` admits. */
    def remap(keep: Long => Boolean): Seq[(Long, Long)] =
      parent.keys.filter(keep).map(k => k -> find(k))
        .filter { case (k, r) => k != r }.toSeq
  }

  /** Min-label propagation to fixpoint over a (da, db) pair frame —
    * the connected-components engine shared by dedup_clusters and
    * the assignment-state build of dedup_clusters_incremental.
    * Returns (doc_id, cluster_id) for every pair endpoint. */
  private[graft] def minLabelClusters(pairs: DataFrame): DataFrame = {
    // Materialize the edge list ONCE (localCheckpoint is eager), then
    // size the iteration's shuffles to the edge count, not the global
    // 32: near-dup edges are a vanishing fraction of the corpus, and a
    // fixed-width shuffle would pay 32 tasks of scheduling per stage
    // per round to move a few rows. ~2M edge rows per partition.
    val edges0 = pairs.select(col("da").as("x"), col("db").as("y"))
      .unionByName(pairs.select(col("db").as("x"), col("da").as("y")))
      .localCheckpoint()
    val p = math.min(32L, edges0.count() / 2000000L + 1L).toInt
    val edges = edges0.repartition(p, col("y")).localCheckpoint()
    // min-label propagation to fixpoint. Each iterate is
    // localCheckpoint'ed (eager): the logical plan stays a
    // constant-size LogicalRDD instead of re-embedding every prior
    // round (lineage growth made Catalyst re-optimize an ever-deeper
    // tree each iteration), and superseded iterates are freed by the
    // ContextCleaner once dereferenced — no cache leak across rounds.
    // ONE action per round: the new label frame carries the old label
    // alongside, so convergence detection is a count over the
    // just-materialized p-partition RDD — a scan, not a second
    // join+shuffle job.
    // initialize with round 1's RESULT — min(self, direct neighbors)
    // falls out of one groupBy over the edge list, so the loop starts
    // one propagation step ahead (each round is ~0.5 s of scheduling
    // on a tiny frame; diameter-2 near-dup clusters now converge in
    // one join round plus the confirming round)
    var labels = edges.groupBy(col("x"))
      .agg(least(col("x"), min(col("y"))).as("lbl"))
      .repartition(p, col("x"))
      .select(col("x"), col("lbl")).localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val next = edges
        .join(labels.select(col("x").as("y2"), col("lbl")),
          col("y") === col("y2"))
        .groupBy(col("x")).agg(min(col("lbl")).as("nbr"))
        .join(labels, "x")
        .select(col("x"), least(col("lbl"), col("nbr")).as("lbl"),
          col("lbl").as("old"))
        .repartition(p, col("x"))
        .localCheckpoint()
      changed = next.filter(col("lbl") =!= col("old")).count()
      labels = next.select(col("x"), col("lbl"))
    }
    labels.select(col("x").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** Incremental connected components — the cluster-maintenance twin
    * of dedup_clusters, completing the incremental family (shingle,
    * substring, vector, and now the component state built on top of
    * the pairs): cluster assignments over the INDEXED corpus are
    * MAINTAINED lake state (built once from the ShingleIndex's own
    * old-old pairs — the same buildOnce source+format keying as every
    * sidecar), and the timed query is the per-ingest merge: the
    * batch-involved pairs (dedup_incremental's read dataflow,
    * shared) project onto component LABELS, a driver-side union-find
    * over that bounded label-pair set (O(batch pairs) rows — the
    * same cardinality the batch-pair output itself has, so any batch
    * the pair emit can materialize the driver can fold; a delta
    * beyond driver memory means the blocking caps are mistuned and
    * the offline dedup_clusters loop is the right tool)
    * produces the label remap, and the remap broadcasts back
    * over the assignment table in ONE pass — O(state) scan, no
    * iteration, no corpus re-read. Output ≡ a full recompute of the
    * components over (old-old ∪ batch-involved) pairs under the
    * index's frozen stop list, which the oracle replays with a
    * recursive CTE.
    *
    * Correctness of the label union-find: every old component's
    * label IS its min doc_id, and unpaired endpoints carry
    * themselves, so the min over a merged set of labels equals the
    * min over the merged components' members — the remapped label is
    * exactly the label a full recompute assigns. */
  val clustersIncremental: Q = Q(
    "dedup_clusters_incremental",
    """WITH RECURSIVE toksv AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') ts
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] AS s
      |  FROM (SELECT doc_id, ts,
      |    unnest(range(0, greatest(len(ts) - 2, 0))) AS i FROM toksv)),
      |sz AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
      |oldsh AS (SELECT * FROM sh WHERE doc_id % 5 <> 4),
      |hot AS (
      |  SELECT s FROM oldsh GROUP BY s
      |  HAVING COUNT(*) * 2 > (SELECT COUNT(DISTINCT doc_id) FROM oldsh)),
      |rare AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id da, b.doc_id db
      |  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id),
      |c AS (
      |  SELECT cand.da, cand.db, COUNT(*) i
      |  FROM cand JOIN sh a ON a.doc_id = cand.da
      |  JOIN sh b ON b.doc_id = cand.db AND a.s = b.s
      |  GROUP BY 1, 2),
      |e AS (
      |  SELECT da, db FROM c
      |  JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
      |  WHERE i / (sa.n + sb.n - i) >= 0.8),
      |edges AS (
      |  SELECT da AS x, db AS y FROM e UNION SELECT db, da FROM e),
      |reach AS (
      |  SELECT x, x AS y FROM (SELECT DISTINCT x FROM edges)
      |  UNION
      |  SELECT r.x, ed.y FROM reach r JOIN edges ed ON r.y = ed.x)
      |SELECT x AS doc_id, MIN(y) AS cluster_id
      |FROM reach GROUP BY x ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val idx = Vectors.sidecarDir("shidx", dir)
    // ensure the shared shingle index exists and read the
    // batch-involved pairs through dedup_incremental's own dataflow
    val batchPairs = shingleIncrementalOf(s, Tables.documents(s, dir),
        idx, fresh = false, key = sourceKey(dir, ShingleIndexFormat))
      .select(col("doc_a").as("da"), col("doc_b").as("db")).cache()
    // maintained assignment state over the indexed (old) corpus:
    // components of the index's own old-old pairs, built once
    val asgDir = Vectors.sidecarDir("clusters", dir)
    graft.operators.IndexLifecycle.buildOnce(asgDir,
      sourceKey(dir, "g3-xx64-minlabel")) { tmp =>
      val isNew = col("doc_id") % 5 === 4
      val oldPairs = shingleBatchPairs(s, idx,
          graft.operators.ShingleIndex.shingles(s, idx).filter(!isNew),
          lit(false))
        .select(col("doc_a").as("da"), col("doc_b").as("db"))
      minLabelClusters(oldPairs).coalesce(1)
        .write.parquet(s"$tmp/assignments")
    }
    val asg = s.read.parquet(s"$asgDir/assignments")
    // endpoint labels: assignment if present, else self
    val ends = batchPairs.select(col("da").as("doc_id"))
      .unionByName(batchPairs.select(col("db").as("doc_id"))).distinct()
    val endLbl = ends.join(asg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("lbl")).cache()
    val lblPairs = batchPairs
      .join(endLbl.select(col("doc_id").as("da"), col("lbl").as("la")),
        Seq("da"))
      .join(endLbl.select(col("doc_id").as("db"), col("lbl").as("lb")),
        Seq("db"))
      .select(col("la"), col("lb"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // driver union-find with min-roots over the bounded label pairs
    val remap = new MinRootUnion(lblPairs).remap(_ => true)
    val remapDf = broadcast(remap.toDF("lbl", "root"))
    val oldRows = asg
      .join(remapDf, asg("cluster_id") === remapDf("lbl"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("cluster_id")).as("cluster_id"))
    val newRows = endLbl.join(asg, Seq("doc_id"), "left_anti")
      .join(remapDf, endLbl("lbl") === remapDf("lbl"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), endLbl("lbl")).as("cluster_id"))
    releasedAfter(oldRows.unionByName(newRows).orderBy(col("doc_id")),
      batchPairs, endLbl)
  }

  /** Benchmark decontamination — the GPT-3-style n-gram overlap pass:
    * docs 0-19 stand in for the held-out eval set; every other corpus
    * doc is flagged if it shares any 5-gram with any eval doc (longer
    * grams than the 3-gram near-dup shingles: an accidental 3-gram
    * overlap is common English, 5 consecutive shared tokens is
    * evidence), with the count of distinct shared 5-grams.
    *
    * Plan shape: the eval-side gram set is tiny (it's an eval set)
    * and broadcast; the corpus side streams its RAW exploded grams
    * through the broadcast join and only the matched survivors are
    * distinct-ed and counted — the corpus is scanned once and never
    * shuffled (a pre-join corpus-wide distinct would be a full
    * exchange of gram strings for nothing: duplicate grams within a
    * doc only exist in the tiny matched set). */
  val decontaminate: Q = Q(
    "decontaminate",
    """WITH toksv AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') ts
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4]
      |      || ' ' || ts[i+5] AS g
      |  FROM (SELECT doc_id, ts,
      |    unnest(range(0, greatest(len(ts) - 4, 0))) AS i FROM toksv)),
      |ev AS (SELECT DISTINCT g FROM g WHERE doc_id < 20),
      |hits AS (
      |  SELECT doc_id, COUNT(*) AS n_shared FROM (
      |    SELECT DISTINCT g.doc_id, g.g
      |    FROM g JOIN ev ON g.g = ev.g
      |    WHERE g.doc_id >= 20) GROUP BY 1)
      |SELECT d.doc_id, COALESCE(h.n_shared, 0) AS n_shared,
      |  h.doc_id IS NOT NULL AS contaminated
      |FROM (SELECT doc_id FROM documents WHERE doc_id >= 20) d
      |LEFT JOIN hits h ON d.doc_id = h.doc_id
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val g = Tables.documents(s, dir)
      .select(col("doc_id"), toks(col("text")).as("ts"))
      .select(col("doc_id"), explode(gramsN(col("ts"), 5)).as("g"))
    val ev = g.filter(col("doc_id") < 20).select(col("g")).distinct()
    val hits = g.filter(col("doc_id") >= 20)
      .join(broadcast(ev), Seq("g"), "left_semi")
      .distinct() // tiny: only matched (doc, gram) rows reach here
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    Tables.documents(s, dir).filter(col("doc_id") >= 20).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("n_shared").isNotNull.as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic stratified corpus sampling: ~10% of docs per
    * length stratum, selected by a PORTABLE hash (md5 prefix of the
    * doc id) so the sample is reproducible on any engine and any
    * cluster size — no rand(), no per-partition state. The classic
    * "hold out a slice of every stratum" pipeline step. */
  val sampleStratified: Q = Q(
    "corpus_sample",
    """WITH t AS (
      |  SELECT doc_id,
      |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) // 20 AS stratum,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT % 10 AS slot
      |  FROM documents)
      |SELECT doc_id, stratum FROM t WHERE slot = 0 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        floor(size(toks(col("text"))) / lit(20.0)).cast("long").as("stratum"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 10), 16, 10)
          .cast("long") % 10).as("slot"))
      .filter(col("slot") === 0)
      .select(col("doc_id"), col("stratum"))
      .orderBy(col("doc_id"))
  }

  /** Exact-k deterministic per-source sampling — the reservoir-sample
    * shape done scale-right: keep the k=10 docs with the smallest
    * portable md5 slot per source, so the sample is exact-size,
    * reproducible on any engine at any cluster size (no rand(), no
    * per-partition state), and computed by the bounded TopKAgg —
    * map-side partial top-k per source, k rows per group per
    * partition through the shuffle, NO per-group window sort (the
    * row_number form funnels each source into one task's sort; at
    * 100 TB a source is most of the corpus). Ordering ties break on
    * doc_id, pinned in both engines. */
  val sampleExactK: Q = Q(
    "corpus_sample_exact",
    """WITH t AS (
      |  SELECT source, doc_id,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT AS hsh
      |  FROM documents),
      |r AS (
      |  SELECT source, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY hsh, doc_id)
      |      AS rank
      |  FROM t)
      |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id
      |FROM r WHERE rank <= 10 ORDER BY source, rank""".stripMargin) {
    (s, dir) =>
      val t = Tables.documents(s, dir).select(col("source"), col("doc_id"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 10), 16, 10)
          .cast("long").as("hsh"))
      // TopK.ranked orders score DESC, id ASC — negate the 40-bit slot
      // (exact in a double) so the smallest hashes win
      graft.functions.TopK.ranked(t, "source",
          -col("hsh").cast("double"), col("doc_id"), 10, "doc_id", "negh")
        .select(col("source"), col("rank").cast("long").as("rank"),
          col("doc_id"))
        .orderBy(col("source"), col("rank"))
  }

  /** Incremental near-dedup — the daily-ingest shape: a NEW batch of
    * docs (here doc_id % 5 = 4 stands in for today's crawl) checked
    * against the already-indexed corpus WITHOUT re-running the corpus
    * self-join — and, since round 8, against REAL maintained lake
    * state: operators.ShingleIndex holds the indexed shingle rows,
    * per-doc sizes, and the build-time stop list; the batch is
    * appended (O(batch) writes) and the query derives everything from
    * the index — including the exact verify, because shingle-set
    * Jaccard is fully computable from stored shingles (no corpus
    * re-read at all). Candidate generation touches only pairs with a
    * new doc on at least one side: new-vs-index through the index's
    * shingle table, new-vs-new within the batch; index-vs-index pairs
    * were found when the index was built and are never re-derived.
    * The stop-shingle list is the INDEX's (df over indexed docs only,
    * frozen at build) — the ingest consults it, it does not rescan
    * the corpus to rebuild one. Per-ingest cost is O(batch x
    * collisions), independent of corpus size — the property that
    * makes near-dedup sustainable at 100 TB/day. */
  val incremental: Q = Q(
    "dedup_incremental",
    """WITH toksv AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') ts
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] AS s
      |  FROM (SELECT doc_id, ts,
      |    unnest(range(0, greatest(len(ts) - 2, 0))) AS i FROM toksv)),
      |sz AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
      |oldsh AS (SELECT * FROM sh WHERE doc_id % 5 <> 4),
      |hot AS (
      |  SELECT s FROM oldsh GROUP BY s
      |  HAVING COUNT(*) * 2 > (SELECT COUNT(DISTINCT doc_id) FROM oldsh)),
      |rare AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id da, b.doc_id db
      |  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
      |  WHERE a.doc_id % 5 = 4 OR b.doc_id % 5 = 4),
      |c AS (
      |  SELECT cand.da, cand.db, COUNT(*) i
      |  FROM cand JOIN sh a ON a.doc_id = cand.da
      |  JOIN sh b ON b.doc_id = cand.db AND a.s = b.s
      |  GROUP BY 1, 2)
      |SELECT da AS doc_a, db AS doc_b,
      |  ROUND(i / (sa.n + sb.n - i), 6) AS jaccard
      |FROM c JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
      |WHERE i / (sa.n + sb.n - i) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    // stable index path; freshness keyed to the source + format
    // version via the marker — built once, the read-side ingest query
    // never touches the corpus at all
    shingleIncrementalOf(s, Tables.documents(s, dir),
      Vectors.sidecarDir("shidx", dir),
      fresh = false, key = sourceKey(dir, ShingleIndexFormat))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The lake lifecycle + query of dedup_incremental, parameterized
    * for the spec's planted corpora. fresh=true always rebuilds
    * (spec mode); fresh=false builds-if-absent under `key`. The
    * new-side shingles are the index's own isNew rows, which exist
    * whether or not this call built the index. */
  private[graft] def shingleIncrementalOf(s: SparkSession,
      docs: DataFrame, idx: String, fresh: Boolean = true,
      key: String = ""): DataFrame = {
    val isNew = col("doc_id") % 5 === 4
    val doBuild = { (target: String) =>
      val shAll = hashedShinglesOf(docs).cache() // build + append inputs
      graft.operators.ShingleIndex.build(s, shAll.filter(!isNew), target)
      graft.operators.ShingleIndex.append(s, shAll.filter(isNew), target, 0L)
      shAll.unpersist()
      ()
    }
    if (fresh) doBuild(idx)
    else graft.operators.IndexLifecycle.buildOnce(idx, key)(doBuild)
    shingleBatchPairs(s, idx,
      graft.operators.ShingleIndex.shingles(s, idx).filter(isNew), !isNew)
  }

  /** The READ side of the shingle ingest — batch-involved near-dup
    * pairs (doc_a < doc_b, jaccard), unordered, as a materialized
    * cache the caller unpersists. `newSh` is the (doc_id, s) shingle
    * frame of the batch, as the caller already holds it (the
    * streaming twins' shingled micro-batch, the batch query's isNew
    * index rows); `isOld` selects the index rows it is probed
    * against. The probe is batch-driven: the batch's rare shingles
    * are the BROADCAST side of the join against a plain scan of the
    * index's old rows, so the index is neither cached nor shuffled,
    * and the exact verify reads the index's sizes and hot rows only.
    * Shared by dedup_incremental, dedup_clusters_incremental and the
    * shingle, clean and cluster ingest twins, so the ingest shapes
    * are ONE dataflow. */
  private[graft] def shingleBatchPairs(s: SparkSession, idx: String,
      newSh: DataFrame, isOld: Column): DataFrame = {
    // from here on, old-side state comes only from the index
    val sh = graft.operators.ShingleIndex.shingles(s, idx)
    val sz = graft.operators.ShingleIndex.sizes(s, idx)
    val hotK = broadcast(graft.operators.ShingleIndex.stop(s, idx))
    val rareNew = newSh.join(hotK, Seq("s"), "left_anti")
      .select(col("doc_id"), col("s"))
    // Rare-shingle intersection counts fall straight out of the
    // candidate joins (the cappedInter trick) — no all-pairs self-join
    // followed by a distinct, and no re-join of the corpus to count:
    // new-vs-index (disjoint sides, each shared rare shingle appears
    // exactly once per pair) and within-batch (da < db self-join).
    val crNO = sh.filter(isOld).join(hotK, Seq("s"), "left_anti")
      .select(col("doc_id").as("ob"), col("s"))
      .join(broadcast(rareNew.select(col("doc_id").as("na"), col("s"))), Seq("s"))
      .select(least(col("na"), col("ob")).as("da"),
        greatest(col("na"), col("ob")).as("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("cr"))
    val crNN = rareNew.select(col("doc_id").as("da"), col("s"))
      .join(rareNew.select(col("doc_id").as("db"), col("s")), Seq("s"))
      .filter(col("da") < col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("cr"))
    val cr = crNO.unionByName(crNN).cache() // contract of addHotCorrection
    releasedAfter(jaccardFrom(addHotCorrection(cr, sh, hotK), sz), cr)
  }

  /** Substring-level exact dedup (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL 2022): document pairs
    * sharing an exact run of >= 16 consecutive tokens — the
    * copy-paste/boilerplate regime n-gram Jaccard's whole-doc
    * similarity misses (a 10-page doc quoting one paragraph of
    * another has negligible Jaccard but is still a training-data
    * leak).
    *
    * The suffix-array machinery of the paper is replaced by the
    * distributed-friendly equivalent: rolling window fingerprints as
    * the blocking structure. Shape at 100 TB:
    *   - windows (doc, pos, fp) are ~1 row per corpus token, 24
    *     bytes each — the scan-sized-but-narrow intermediate every
    *     member of this family carries (cf. shingles);
    *   - the df-filter keeps only fps seen in [2, 16] docs: unique
    *     windows (almost all of them) die in the partial aggregate,
    *     ultra-common boilerplate is capped (the stop-shingle
    *     argument), so the pair join runs on rows proportional to
    *     DUPLICATED content, not to n;
    *   - hash-collision false positives are removed by re-comparing
    *     the actual token window for EVERY candidate (pair, fp)
    *     triple (min position per side for that fp); n_shared counts
    *     verified windows only — the exact-verify step the family's
    *     contract requires.
    * Window fold = text_fingerprint's polynomial, widened to 60
    * bits: at 100 TB (~10¹³ windows) a 40-bit space would average ~9
    * colliding docs per fp and defeat the df-filter outright, while
    * 2⁶⁰ keeps expected collisions per fp at ~10⁻⁵ so candidates stay
    * ∝ duplicated content. 60 is the BIGINT-safe ceiling for the
    * oracle replay (token hashes < 2⁶⁰ fit DuckDB's int64; the fold
    * accumulates in HUGEINT before the mod); the Spark side's
    * power-of-two mask recurrence is exact at any width ≤ 62
    * (functions.PolyWindowHashes). */
  private val subW = 16
  private val subMaxDf = 16
  private val subModBits = 60
  private val subMod = 1L << subModBits // 1152921504606846976

  /** Source+format version key of this sfDir's documents table — the
    * freshness key operators.IndexLifecycle.buildOnce checks against
    * the published index's marker (which CONTAINS the key it was
    * built under, so the index lives at a STABLE path and a source or
    * format change rebuilds it in place — no versioned sibling dirs
    * under /tmp, and directory-style sources key off their leaf
    * files; both r8 ADVICE findings). */
  private def sourceKey(dir: String, fmt: String): String =
    graft.operators.IndexLifecycle.sourceKey(s"$dir/documents.parquet", fmt)

  /** Format tag of the shared shingle index sidecar (xxHash64 3-gram
    * shingles, graftsnap-log layout) — bump it on any derivation or
    * layout change, or a stale index is served. */
  private final val ShingleIndexFormat = "g3-xx64-log"

  /** Materialize the (pair-table-sized) result, then drop the
    * corpus-scale caches behind it: repeated invocations (a bench
    * pass pair runs each substring query twice) must not accumulate
    * cached datasets and lean on LRU eviction (ADVICE r7 #3). The
    * result itself stays cached — one small entry instead of several
    * scan-sized ones — and the caller's single action reads the
    * materialized rows. */
  private def releasedAfter(result: DataFrame,
      caches: DataFrame*): DataFrame = {
    val out = result.cache()
    out.count()
    caches.foreach(_.unpersist())
    out
  }

  /** Tokenized docs (doc_id, tk, hs) with >= one full window — the
    * verify-side slice input of the substring family. */
  private[graft] def substringDocsT(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), toks(col("text")).as("tk"))
      .withColumn("hs", transform(col("tk"),
        t => conv(substring(md5(t), 1, 15), 16, 10).cast("long")))
      .filter(size(col("hs")) >= subW)

  /** Rolling window fingerprints (doc_id, pos, fp) — one compiled
    * rolling pass per doc (functions.PolyWindowHashes): the
    * per-window aggregate(slice(…)) HOF fold is CodegenFallback and
    * allocated a slice per window — ~5 s of the first cut's 6.4 s at
    * sf0.1; bit-identical values, so the oracle keeps the declarative
    * list_reduce form. */
  private[graft] def substringWindowsOf(docsT: DataFrame): DataFrame =
    docsT.select(col("doc_id"),
        posexplode(graft.functions.TextExprs
          .windowHashes(col("hs"), subW, subModBits)))
      .select(col("doc_id"), col("pos"), col("col").as("fp"))

  /** (tokenized docs, all windows, kept windows) — the shared front
    * half of the one-shot substring path; all three come back cached
    * (callers release via releasedAfter). */
  private def substringKeptWindows(
      docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val docsT = substringDocsT(docs)
      .cache() // window explode + both verify slice sides
    val wf = substringWindowsOf(docsT)
      .cache() // df-filter + kept-window join
    val keep = wf.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2 && col("df") <= subMaxDf).select(col("fp"))
    // pair join sides + positions
    (docsT, wf, wf.join(keep, "fp").cache())
  }

  /** Hash-collision guard shared by the substring family: EVERY
    * candidate (pair, fp) triple is re-compared against the raw
    * tokens (min position per side for that fp), and n_shared counts
    * only the VERIFIED windows. A colliding fp therefore neither
    * drops a pair (it just fails its own triple — the r7 review's
    * single-example flaw, where a collision on the chosen example
    * window discarded a genuinely duplicated pair) nor inflates the
    * count. Residual approximation: a triple is checked at one
    * position pair; failing a TRUE triple needs a within-doc fp
    * collision on top of the cross-doc share — two simultaneous
    * 60-bit collisions on one fp. */
  private def substringVerifiedTriples(cand: DataFrame, wk: DataFrame,
      docsT: DataFrame): DataFrame = {
    val pp = wk.groupBy(col("doc_id"), col("fp"))
      .agg(min(col("pos")).as("mpos"))
    val va = pp.select(col("doc_id").as("da"), col("fp"),
      col("mpos").as("pa"))
    val vb = pp.select(col("doc_id").as("db"), col("fp"),
      col("mpos").as("pb"))
    val ta = docsT.select(col("doc_id").as("da"), col("tk").as("tka"))
    val tb = docsT.select(col("doc_id").as("db"), col("tk").as("tkb"))
    cand.join(va, Seq("da", "fp")).join(vb, Seq("db", "fp"))
      .join(ta, "da").join(tb, "db")
      .filter(slice(col("tka"), col("pa") + 1, lit(subW)) ===
        slice(col("tkb"), col("pb") + 1, lit(subW)))
      .select(col("da"), col("db"), col("fp"))
  }

  private def substringVerifiedPairs(cand: DataFrame, wk: DataFrame,
      docsT: DataFrame): DataFrame =
    substringVerifiedTriples(cand, wk, docsT)
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("n_shared"))

  private[graft] def substringPairsOf(docs: DataFrame): DataFrame = {
    val (docsT, wf, wk) = substringKeptWindows(docs)
    val dfp = wk.select(col("doc_id"), col("fp")).distinct()
    val cand = dfp.as("a")
      .join(dfp.as("b"), col("a.fp") === col("b.fp") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.fp").as("fp"))
    releasedAfter(substringVerifiedPairs(cand, wk, docsT), docsT, wf, wk)
  }

  /** Shared oracle for the substring family: the full window → df →
    * pair → verify chain, with an optional extra predicate on the
    * final pair set (the incremental variant restricts to
    * batch-involved pairs; same global df stats, so equality with
    * the full recompute is by construction). */
  /** The t → win → wf CTE prefix shared by every substring oracle
    * (dedup, incremental, decontamination) — one text, so the window
    * arithmetic cannot drift between the family's gates. */
  private def substringWindowCtes: String =
    s"""t AS (
      |  SELECT doc_id,
      |    regexp_extract_all(lower(text), '[a-z0-9]+') tk,
      |    list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
      |      w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) hs
      |  FROM documents),
      |win AS (
      |  SELECT doc_id, unnest(list_transform(range(0, len(hs) - ${subW - 1}),
      |    i -> struct_pack(pos := i, fp := (list_reduce(
      |      list_transform(hs[i+1:i+$subW], x -> x::HUGEINT),
      |      (a, h) -> (a * 1000003 + h) % $subMod))::BIGINT))) w
      |  FROM t WHERE len(hs) >= $subW),
      |wf AS (SELECT doc_id, w.pos AS pos, w.fp AS fp FROM win)""".stripMargin

  private def substringOracle(extraPred: String): String =
    s"""WITH $substringWindowCtes,
      |keep AS (
      |  SELECT fp FROM (
      |    SELECT fp, COUNT(DISTINCT doc_id) df FROM wf GROUP BY fp)
      |  WHERE df BETWEEN 2 AND $subMaxDf),
      |wk AS (SELECT wf.* FROM wf JOIN keep USING (fp)),
      |dfp AS (SELECT DISTINCT doc_id, fp FROM wk),
      |cand AS (
      |  SELECT a.doc_id da, b.doc_id db, a.fp
      |  FROM dfp a JOIN dfp b ON a.fp = b.fp AND a.doc_id < b.doc_id),
      |pp AS (SELECT doc_id, fp, MIN(pos) mpos FROM wk GROUP BY 1, 2),
      |v AS (
      |  SELECT c.da, c.db
      |  FROM cand c
      |  JOIN pp a ON a.doc_id = c.da AND a.fp = c.fp
      |  JOIN pp b ON b.doc_id = c.db AND b.fp = c.fp
      |  JOIN t ta ON ta.doc_id = c.da
      |  JOIN t tb ON tb.doc_id = c.db
      |  WHERE ta.tk[a.mpos+1:a.mpos+$subW] = tb.tk[b.mpos+1:b.mpos+$subW]$extraPred)
      |SELECT da AS doc_a, db AS doc_b, COUNT(*)::BIGINT AS n_shared
      |FROM v GROUP BY 1, 2
      |ORDER BY doc_a, doc_b""".stripMargin

  val substringDedup: Q = Q("dedup_substring", substringOracle("")) {
    (s, dir) =>
      substringPairsOf(Tables.documents(s, dir))
        .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Substring-level benchmark decontamination (the Lee-et-al exact
    * form of `decontaminate`, the split the Llama/GPT-4 reports use
    * for long-match decontamination): a corpus doc is contaminated if
    * it shares an exact >= 16-consecutive-token run with ANY eval doc
    * (doc_id < 20, `decontaminate`'s slice) — n-gram overlap at g=5
    * flags common phrases, a verified 16-token run is evidence of
    * leakage. No df cap here: boilerplate runs the dedup's df<=16
    * filter drops are exactly what decontamination must still catch.
    *
    * Scale shape: the EVAL side is tiny by definition — its distinct
    * (doc, fp) set broadcasts, and the corpus's window stream meets
    * it in one map-side join; the min-pos verify aggregation runs
    * only over windows whose fp matched an eval fp (broadcast
    * semi-join first), so per-run cost is O(corpus windows) scan +
    * O(matches) everything else. Every candidate (pair, fp) triple is
    * re-compared against raw tokens — the family's collision guard —
    * and a doc's n_shared_runs counts distinct VERIFIED fingerprints
    * across all eval docs. */
  def substringContaminationOf(docs: DataFrame,
      evalPred: Column): DataFrame = {
    val docsT = substringDocsT(docs).cache()
    val wf = substringWindowsOf(docsT).cache()
    val dfp = wf.select(col("doc_id"), col("fp")).distinct()
    val evalFp = dfp.filter(evalPred)
    val cand = dfp.filter(!evalPred)
      .select(col("doc_id").as("db"), col("fp"))
      .join(broadcast(evalFp.select(col("doc_id").as("da"), col("fp"))),
        Seq("fp"))
      .select(col("da"), col("db"), col("fp"))
    val wk = wf.join(broadcast(evalFp.select(col("fp")).distinct()),
      Seq("fp"), "left_semi")
    val hits = substringVerifiedTriples(cand, wk, docsT)
      .select(col("db").as("doc_id"), col("fp")).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared_runs"))
    releasedAfter(
      docs.filter(!evalPred).select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shared_runs"), lit(0L)).as("n_shared_runs"),
          col("n_shared_runs").isNotNull.as("contaminated"))
        .orderBy(col("doc_id")),
      docsT, wf)
  }

  val decontaminateSubstring: Q = Q(
    "decontaminate_substring",
    s"""WITH $substringWindowCtes,
      |ev AS (SELECT DISTINCT doc_id AS da, fp FROM wf WHERE doc_id < 20),
      |co AS (SELECT DISTINCT doc_id AS db, fp FROM wf WHERE doc_id >= 20),
      |cand AS (SELECT ev.da, co.db, co.fp FROM co JOIN ev USING (fp)),
      |pp AS (
      |  SELECT doc_id, fp, MIN(pos) mpos FROM wf
      |  WHERE fp IN (SELECT fp FROM ev) GROUP BY 1, 2),
      |v AS (
      |  SELECT DISTINCT c.db, c.fp
      |  FROM cand c
      |  JOIN pp a ON a.doc_id = c.da AND a.fp = c.fp
      |  JOIN pp b ON b.doc_id = c.db AND b.fp = c.fp
      |  JOIN t ta ON ta.doc_id = c.da
      |  JOIN t tb ON tb.doc_id = c.db
      |  WHERE ta.tk[a.mpos+1:a.mpos+$subW] = tb.tk[b.mpos+1:b.mpos+$subW]),
      |hits AS (
      |  SELECT db AS doc_id, COUNT(*)::BIGINT AS n_shared_runs
      |  FROM v GROUP BY 1)
      |SELECT d.doc_id,
      |  COALESCE(h.n_shared_runs, 0)::BIGINT AS n_shared_runs,
      |  h.doc_id IS NOT NULL AS contaminated
      |FROM (SELECT doc_id FROM documents WHERE doc_id >= 20) d
      |LEFT JOIN hits h USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    substringContaminationOf(Tables.documents(s, dir), col("doc_id") < 20)
  }

  /** Incremental substring dedup — the daily-ingest twin of
    * dedup_substring, and the full lake lifecycle: the window table
    * is MAINTAINED state (operators.SubstringIndex — built once from
    * the pre-batch corpus, the new batch appended against the frozen
    * stop list, the IvfIndex build/append pattern), and the query
    * derives every window from the INDEX, not from the corpus. The
    * batch (doc_id % 5 == 4, the same split as dedup_incremental)
    * DRIVES the window equi-join, so per ingest the work is O(batch
    * windows × bucket occupancy), never a corpus self-join; document
    * frequencies are aggregated at read over the index restricted to
    * the batch's fingerprints (the log-structured trade documented on
    * SubstringIndex). Only the exact-verify step touches the corpus
    * table — a targeted token read of candidate docs, which is where
    * the corpus lives in a real lake. Output = the full recompute
    * restricted to batch-involved pairs (DedupSpec asserts the
    * equality, which also proves index state ≡ derive-from-corpus). */
  val substringIncremental: Q = Q(
    "dedup_substring_incremental",
    substringOracle("\n    AND (c.da % 5 = 4 OR c.db % 5 = 4)")) { (s, dir) =>
    // stable index path; freshness keyed to the source + format
    // version via the marker — built once, then every invocation
    // measures the real per-ingest cost (read-side query; the verify
    // still tokenizes candidate docs from the corpus)
    substringIncrementalOf(s, Tables.documents(s, dir),
      Vectors.sidecarDir("subidx", dir),
      fresh = false, key = sourceKey(dir, s"w$subW-m$subModBits-df$subMaxDf"))
  }

  /** The lake lifecycle + query of dedup_substring_incremental,
    * parameterized for the spec's planted corpora. fresh=true always
    * rebuilds (spec mode); fresh=false builds-if-absent under `key`. */
  private[graft] def substringIncrementalOf(s: SparkSession,
      docs: DataFrame, idx: String, fresh: Boolean = true,
      key: String = ""): DataFrame = {
    val isBatch = col("doc_id") % 5 === 4
    val docsT = substringDocsT(docs)
      .cache() // window derivation + both verify slice sides
    val doBuild = { (target: String) =>
      val wf = substringWindowsOf(docsT).cache() // build + append inputs
      graft.operators.SubstringIndex.build(
        wf.filter(!isBatch), target, subMaxDf)
      graft.operators.SubstringIndex.append(s, wf.filter(isBatch), target)
      wf.unpersist()
      ()
    }
    if (fresh) doBuild(idx)
    else graft.operators.IndexLifecycle.buildOnce(idx, key)(doBuild)
    substringBatchPairs(s, idx, _.filter(isBatch), docsT)
  }

  /** Ingest bootstrap: build the substring index from an index corpus
    * alone (no batch split) — what a deployment runs once before the
    * streaming ingest (StreamOps.substringIngest) takes over appends. */
  private[graft] def substringIndexBuild(s: SparkSession,
      docs: DataFrame, idx: String): Unit = {
    val docsT = substringDocsT(docs).cache()
    val wf = substringWindowsOf(docsT)
    graft.operators.SubstringIndex.build(wf, idx, subMaxDf)
    docsT.unpersist()
  }

  /** Doc-store bootstrap for the streaming substring ingest: the
    * pre-stream corpus written under a reserved epoch (-1) so the
    * store has ONE layout — epoch-partitioned — from day one;
    * parquet partition discovery rejects a root that mixes bare data
    * files with partition directories, and the ingest's replayed-
    * epoch overwrite (StreamOps.substringIngestBatch) depends on the
    * partitioning. */
  private[graft] def substringDocStoreBootstrap(docs: DataFrame,
      docStoreDir: String): Unit =
    docs.select(col("doc_id"), col("text"))
      .withColumn("epoch", lit(-1L))
      .write.mode("overwrite").partitionBy("epoch").parquet(docStoreDir)

  /** The READ side of the substring ingest — batch-involved shared-run
    * pairs from index state plus the corpus for the exact verify.
    * `splitNew` restricts any frame carrying doc_id to the batch side
    * (the batch query passes a doc_id-predicate filter; the streaming
    * twin passes a broadcast semi-join on the micro-batch's id frame).
    * `docsT` is the tokenized doc store covering every candidate doc
    * (the verify re-compares actual token windows — the index stores
    * fingerprints, not text). Takes ownership of docsT's cache. */
  private[graft] def substringBatchPairs(s: SparkSession, idx: String,
      splitNew: DataFrame => DataFrame, docsT: DataFrame): DataFrame = {
    // from here on, window state comes only from the index
    val w = graft.operators.SubstringIndex.windows(s, idx)
      .cache() // batch-fp restriction + df aggregation + both join sides
    val kept = w.join(splitNew(w).select(col("fp")).distinct(), "fp")
      .groupBy(col("fp")).agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2 && col("df") <= subMaxDf).select(col("fp"))
    val wk = w.join(kept, "fp").cache()
    val bwk = splitNew(wk)
    // batch-vs-index equi-join on fp: batch-batch pairs land twice
    // (both orientations) and self-pairs are dropped; the (da,db,fp)
    // distinct collapses orientation dupes before verification
    val cand = bwk.select(col("doc_id").as("xa"), col("fp"))
      .join(wk.select(col("doc_id").as("xb"), col("fp")), Seq("fp"))
      .filter(col("xa") =!= col("xb"))
      .select(least(col("xa"), col("xb")).as("da"),
        greatest(col("xa"), col("xb")).as("db"), col("fp"))
      .distinct()
    releasedAfter(
      substringVerifiedPairs(cand, wk, docsT)
        .orderBy(col("doc_a"), col("doc_b")),
      docsT, w, wk)
  }

  /** LEAKAGE-SAFE train/val/test split — corpus_split's
    * content-addressed buckets lifted to the DEDUP-CLUSTER level: a
    * near-dup pair straddling train and test is eval contamination
    * (the model "generalizes" to its own training data), so the
    * split decision hashes the CLUSTER label (the keeper's doc_id,
    * dedup_clusters' exact-Jaccard ≥0.8 components), not the doc —
    * every member of a cluster lands in the same bucket by
    * construction, singletons hash their own id, and the assignment
    * stays content-addressed (reproducible on any engine at any
    * parallelism, the corpus_split property). One cluster pass (the
    * banded-candidate machinery, never all-pairs) + one per-row map;
    * the corpus itself never shuffles for the split decision. */
  val splitSafe: Q = Q(
    "corpus_split_safe",
    s"""WITH RECURSIVE ${cappedPairsCtesFrom("documents")},
      |e AS (
      |  SELECT da, db FROM c
      |  JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
      |  WHERE i / (sa.n + sb.n - i) >= 0.8),
      |edges AS (
      |  SELECT da AS x, db AS y FROM e UNION SELECT db, da FROM e),
      |reach AS (
      |  SELECT x, x AS y FROM (SELECT DISTINCT x FROM edges)
      |  UNION
      |  SELECT r.x, ed.y FROM reach r JOIN edges ed ON r.y = ed.x),
      |lab AS (
      |  SELECT x AS doc_id, MIN(y) AS cluster_id FROM reach GROUP BY x),
      |d AS (
      |  SELECT doc.doc_id, COALESCE(lab.cluster_id, doc.doc_id) AS lbl
      |  FROM documents doc LEFT JOIN lab ON doc.doc_id = lab.doc_id),
      |sl AS (
      |  SELECT doc_id, lbl,
      |    ('0x' || substr(md5('21:' || CAST(lbl AS VARCHAR)), 1, 8))::BIGINT
      |      AS slot
      |  FROM d)
      |SELECT doc_id, lbl AS cluster_id,
      |  CASE WHEN slot * 20 // 4294967296 < 18 THEN 'train'
      |       WHEN slot * 20 // 4294967296 = 18 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM sl ORDER BY doc_id""".stripMargin) { (s, dir) =>
    splitSafeFrom(s, dir, hashedShingles(s, dir))
  }

  /** corpus_split_safe's dataflow over a caller-supplied shingle
    * frame — pipeline_e2e passes its shared cached corpus shingles so
    * the composition tokenizes the corpus once. */
  private[queries] def splitSafeFrom(
      s: SparkSession, dir: String, sh0: DataFrame): DataFrame = {
    val pairs = ngramPairsFrom(sh0)
      .select(col("doc_a").as("da"), col("doc_b").as("db"))
    val lab = minLabelClusters(pairs)
    val bucket = expr("(slot * 20) div 4294967296")
    Tables.documents(s, dir).select(col("doc_id"))
      .join(lab, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("lbl"))
      .withColumn("slot",
        conv(substring(md5(concat(lit("21:"), col("lbl").cast("string"))),
          1, 8), 16, 10).cast("long"))
      .select(col("doc_id"), col("lbl").as("cluster_id"),
        when(bucket < 18, "train").when(bucket === 18, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** Dedup-quality evaluation (ann_eval's shape for the dedup
    * family): how good is the banded SimHash CANDIDATE stage before
    * verification pays for it? Precision = hamming≤3 candidates over
    * all band-collision candidates (computable from candidates alone
    * — no all-pairs anywhere in the measured path); recall is scored
    * against an all-pairs ground truth over a SAMPLED doc subset
    * (doc_id % 20 — the standard sampled-eval discipline: ground
    * truth needs all-pairs, so you pay it on a sliver). The 4×15-bit
    * banding's pigeonhole makes hamming≤3 recall exactly 1 — this
    * query PROVES it on data (recall_micro = 1e6 under the hash).
    * All counts exact integers; rates integer micro-divisions. */
  val dedupEval: Q = Q(
    "dedup_eval",
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) t
      |  FROM documents),
      |tc AS (
      |  SELECT doc_id, t, COUNT(*) AS cnt,
      |    ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
      |  FROM tok GROUP BY doc_id, t),
      |bits AS (
      |  SELECT doc_id, j,
      |    SUM(CASE WHEN (h >> j) & 1 = 1 THEN cnt ELSE -cnt END) AS sm
      |  FROM tc CROSS JOIN generate_series(0, 59) g(j) GROUP BY 1, 2),
      |sig AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN sm > 0 THEN 1::BIGINT << j ELSE 0 END)
      |      AS BIGINT) AS sh
      |  FROM bits GROUP BY 1),
      |bands AS (
      |  SELECT doc_id, sh, k AS band,
      |    (sh >> (15 * k)) & 32767 AS bh
      |  FROM sig CROSS JOIN generate_series(0, 3) g(k)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
      |    CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
      |samp AS (SELECT doc_id, sh FROM sig WHERE doc_id % 20 = 0),
      |struth AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db
      |  FROM samp a JOIN samp b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
      |shit AS (
      |  SELECT COUNT(*) AS n FROM struth
      |  JOIN cand USING (da, db))
      |SELECT
      |  (SELECT COUNT(*) FROM cand) AS n_cand,
      |  (SELECT COUNT(*) FROM cand WHERE hamming <= 3) AS n_cand_true,
      |  (SELECT COUNT(*) FROM cand WHERE hamming <= 3) * 1000000
      |    // NULLIF((SELECT COUNT(*) FROM cand), 0) AS precision_micro,
      |  (SELECT COUNT(*) FROM samp) AS n_sample_docs,
      |  (SELECT COUNT(*) FROM struth) AS n_sample_true,
      |  CASE WHEN (SELECT COUNT(*) FROM struth) = 0 THEN 1000000
      |    ELSE (SELECT n FROM shit) * 1000000
      |      // (SELECT COUNT(*) FROM struth) END AS recall_micro
      |""".stripMargin) { (s, dir) =>
    val tc = Tables.documents(s, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("cnt"))
      .withColumn("x",
        conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long"))
    val sig = tc.repartition(col("doc_id")).groupBy(col("doc_id"))
      .agg(graft.functions.Sketches.simhash(col("x"), col("cnt")).as("sh"))
      .cache()
    val bandArr = array((0 until 4).map(k =>
      shiftright(col("sh"), 15 * k).bitwiseAND(0x7FFFL)): _*)
    val bands = sig.select(col("doc_id"), col("sh"),
      posexplode(bandArr).as(Seq("band", "bh"))).cache()
    val cand = bands
      .select(col("doc_id").as("da"), col("sh").as("sha"),
        col("band"), col("bh"))
      .join(bands.select(col("doc_id").as("db"), col("sh").as("shb"),
        col("band"), col("bh")), Seq("band", "bh"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        bit_count(col("sha").bitwiseXOR(col("shb"))).as("hamming"))
      .distinct()
      .cache()
    val samp = sig.filter(pmod(col("doc_id"), lit(20)) === 0)
      .select(col("doc_id"), col("sh")).cache()
    val struth = samp.as("a")
      .join(samp.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(bit_count(col("a.sh").bitwiseXOR(col("b.sh"))) <= 3)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .cache()
    val hit = struth.join(cand, Seq("da", "db")).agg(
      count(lit(1)).as("n"))
    val candStats = cand.agg(
      count(lit(1)).as("n_cand"),
      count(when(col("hamming") <= 3, 1)).as("n_cand_true"))
    val sampStats = samp.agg(count(lit(1)).as("n_sample_docs"))
      .crossJoin(struth.agg(count(lit(1)).as("n_sample_true")))
    candStats.crossJoin(sampStats).crossJoin(broadcast(hit))
      .select(col("n_cand"), col("n_cand_true"),
        expr("n_cand_true * 1000000 div nullif(n_cand, 0)")
          .as("precision_micro"),
        col("n_sample_docs"), col("n_sample_true"),
        when(col("n_sample_true") === 0, lit(1000000L))
          .otherwise(expr("n * 1000000 div n_sample_true"))
          .as("recall_micro"))
  }

  val all: Seq[Q] = Seq(exact, ngramJaccard, minhashLsh, simhash, clusters,
    clustersIncremental, decontaminate, decontaminateSubstring,
    sampleStratified, sampleExactK, incremental, substringDedup,
    substringIncremental, dedupEval, splitSafe)
}
