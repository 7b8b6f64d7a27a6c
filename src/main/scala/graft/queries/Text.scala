package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Text-analysis operators over the documents table: token counting,
  * quality scoring, language-ID, fixed-width chunking, ingestion
  * stats. Everything is built from codegen'd `functions._` columns —
  * no UDFs — so the whole pipeline stays inside WholeStageCodegen. */
object Text {

  /** Lowercased alphanumeric tokens — the shared tokenizer. */
  // codegen'd one-pass twin of regexp_extract_all(lower(c),'[a-z0-9]+')
  private def toks(c: Column): Column = graft.functions.TextExprs.tokens(c)

  private def countIn(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, t => t.isInCollection(words)))

  private val qualityStops =
    Seq("the", "a", "and", "of", "to", "in", "is", "it")

  /** floor(x*1e4 + 0.5)/1e4 instead of round(): these ratios hit
    * EXACT 4-dp half-boundaries (e.g. 0.3*13/16 terms -> 0.31375)
    * where Spark's decimal HALF_UP and DuckDB's float rint disagree;
    * an identical floor expression on the identical double cannot
    * diverge. */
  private def r4(c: Column): Column = floor(c * 10000 + 0.5) / 10000

  /** Every stateless cleaning gate of a (doc_id, text) frame in ONE
    * projection over ONE `tokens(text)` attribute — no exchange, no
    * sort: the language-profile counts and `predicted_lang`
    * (text_langid), the quality counts, ratios and score
    * (text_quality), and the repetition fractions with their verdict
    * `rep_keep` (text_repetition's `keep`), plus the token array `ts`
    * itself for the learned gate. Each expression is the registered
    * query's own tree on the same doubles; the per-doc n-gram counts
    * come from the compiled MaxGramCount instead of two explode →
    * groupBy → groupBy chains. The registered gate queries select
    * their columns from here, and corpus_clean and the streaming
    * cleaning twin (StreamOps.cleanIngest) read it through
    * Pipeline.cleanGates, so batch and stream cannot drift. Catalyst
    * prunes what a consumer does not select. */
  private[graft] def docFeatures(docs: DataFrame): DataFrame = {
    // ts stays one materialized attribute: CollapseProject does not
    // inline a non-cheap expression that is referenced more than once
    val t = docs.select(col("doc_id"), col("text"), toks(col("text")).as("ts"))
    val c = t.select(
      col("doc_id") +: col("ts") +: langProfiles.map { case (l, ws) =>
        countIn(col("ts"), ws).as(s"c_$l")
      } :+
      length(col("text")).as("n_chars_m") :+
      size(col("ts")).as("n_words") :+
      length(regexp_replace(lower(col("text")), "[^a-z0-9]", "")).as("n_alnum") :+
      countIn(col("ts"), qualityStops).as("n_stop") :+
      size(array_distinct(col("ts"))).as("n_distinct") :+
      graft.functions.TextExprs.maxGramCount(col("ts"), 2).as("m2") :+
      graft.functions.TextExprs.maxGramCount(col("ts"), 3).as("m3"): _*)
    // docs too short for 2/3-grams cannot be repetitious, but MUST
    // still receive a verdict: their fraction is 0.0 (the old LEFT
    // join's coalesce over an empty gram group)
    def topFrac(m: String, n: Int): Column = {
      val total = col("n_words") - (n - 1)
      when(total > 0, r4(col(m).cast("double") / total.cast("double")))
        .otherwise(lit(0.0))
    }
    val f = c.select(col("*"),
      when(col("c_de") >= col("c_en") && col("c_de") >= col("c_es")
        && col("c_de") >= col("c_fr"), "de")
        .when(col("c_en") >= col("c_es") && col("c_en") >= col("c_fr"), "en")
        .when(col("c_es") >= col("c_fr"), "es")
        .otherwise("fr").as("predicted_lang"),
      r4(col("n_alnum") / col("n_words")).as("mean_word_len"),
      r4(col("n_alnum") / col("n_chars_m")).as("alpha_ratio"),
      r4(col("n_stop") / col("n_words")).as("stop_ratio"),
      r4(lit(0.3) * (col("n_stop") / col("n_words"))
        + lit(0.4) * least(lit(1.0), col("n_words") / lit(100.0))
        + lit(0.3) * (col("n_alnum") / col("n_chars_m"))).as("quality_score"),
      r4((col("n_words") - col("n_distinct")).cast("double") / col("n_words"))
        .as("dup_token_frac"),
      topFrac("m2", 2).as("top2gram_frac"),
      topFrac("m3", 3).as("top3gram_frac"))
    f.select(col("*"), (col("dup_token_frac") <= 0.9
      && col("top2gram_frac") <= 0.2 && col("top3gram_frac") <= 0.18)
      .as("rep_keep"))
  }

  /** The text_quality columns of [[docFeatures]] — shared by the
    * registered query and the other quality consumers. */
  private[graft] def qualityFrom(docs: DataFrame): DataFrame =
    docFeatures(docs).select(col("doc_id"), col("n_chars_m"), col("n_words"),
      col("mean_word_len"), col("alpha_ratio"), col("stop_ratio"),
      col("quality_score"))

  val tokens: Q = Q(
    "text_tokens",
    """SELECT doc_id,
      |  len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
      |  len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS n_distinct,
      |  len(text) AS n_chars_measured
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"),
      size(toks(col("text"))).as("n_tokens"),
      size(array_distinct(toks(col("text")))).as("n_distinct"),
      length(col("text")).as("n_chars_measured"))
      .orderBy(col("doc_id"))
  }

  /** Quality scoring: alpha ratio, stopword ratio, length saturation,
    * composite score. Identical double expression trees on both
    * engines; ROUND(,4) absorbs nothing — the doubles are equal — but
    * documents the contract. */
  val quality: Q = {
    val stopsSql = qualityStops.map(w => s"'$w'").mkString(", ")
    Q(
      "text_quality",
      s"""WITH t AS (
        |  SELECT doc_id, len(text) AS n_chars_m,
        |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_words,
        |    len(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS n_alnum,
        |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      x -> x IN ($stopsSql))) AS n_stop
        |  FROM documents)
        |SELECT doc_id, n_chars_m, n_words,
        |  FLOOR((n_alnum / n_words) * 10000 + 0.5) / 10000 AS mean_word_len,
        |  FLOOR((n_alnum / n_chars_m) * 10000 + 0.5) / 10000 AS alpha_ratio,
        |  FLOOR((n_stop / n_words) * 10000 + 0.5) / 10000 AS stop_ratio,
        |  FLOOR((0.3 * (n_stop / n_words) + 0.4 * LEAST(1.0, n_words / 100.0)
        |    + 0.3 * (n_alnum / n_chars_m)) * 10000 + 0.5) / 10000 AS quality_score
        |FROM t ORDER BY doc_id""".stripMargin) { (s, dir) =>
      qualityFrom(Tables.documents(s, dir)).orderBy(col("doc_id"))
    }
  }

  /** Language-ID by stopword-profile hit counts with a deterministic
    * priority tiebreak (de > en > es > fr alphabetical). A real
    * deployment swaps the profiles for char-n-gram models; the
    * operator shape (per-doc scoring + argmax) is the same. */
  private val langProfiles = Seq(
    "de" -> Seq("und", "der", "die", "das", "ist", "nicht"),
    "en" -> Seq("the", "and", "of", "to", "is", "in"),
    "es" -> Seq("el", "la", "de", "los", "y", "es"),
    "fr" -> Seq("le", "la", "les", "de", "et", "est"))

  /** The text_langid columns of [[docFeatures]]. */
  private[graft] def langidFrom(docs: DataFrame): DataFrame =
    docFeatures(docs).select(col("doc_id"), col("c_de"), col("c_en"),
      col("c_es"), col("c_fr"), col("predicted_lang"))

  val langid: Q = {
    val scoreSql = langProfiles.map { case (l, ws) =>
      val in = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'), x -> x IN ($in))) AS c_$l"
    }.mkString(",\n        |    ")
    Q(
      "text_langid",
      s"""WITH t AS (
        |  SELECT doc_id, $scoreSql
        |  FROM documents)
        |SELECT doc_id, c_de, c_en, c_es, c_fr,
        |  CASE WHEN c_de >= c_en AND c_de >= c_es AND c_de >= c_fr THEN 'de'
        |       WHEN c_en >= c_es AND c_en >= c_fr THEN 'en'
        |       WHEN c_es >= c_fr THEN 'es'
        |       ELSE 'fr' END AS predicted_lang
        |FROM t ORDER BY doc_id""".stripMargin) { (s, dir) =>
      langidFrom(Tables.documents(s, dir)).orderBy(col("doc_id"))
    }
  }

  /** Script-aware language ID beyond the Latin profiles (VERDICT r13
    * #8): CJK/Cyrillic languages are script-separable before any
    * tokenizer runs — count characters in the Unicode script ranges
    * (Han, Kana, Hangul, Cyrillic; single-char-class regex counts, no
    * tokenizer change needed) and decide by script precedence: Kana
    * present → ja (Japanese text mixes Han + Kana, so Kana dominates
    * Han), else Hangul → ko, else Han → zh, else Cyrillic → ru, else
    * fall back to [[langProfiles]]' stopword vote. The corpus is
    * Latin-only, so the CJK branches are exercised by a PLANTED
    * multilingual extension — six literal BMP docs (ja/zh/ko/ru +
    * mixed-script cases) unioned identically in the oracle, putting
    * every branch of the decision under the hash. Scale shape:
    * per-row regex counts, embarrassingly parallel, no shuffle
    * beyond the final sort. */
  val langidCjk: Q = {
    // (doc_id, text) planted multilingual docs — all chars BMP, so
    // UTF-16 (Spark) and UTF-8 (DuckDB) regex ranges agree exactly
    val planted: Seq[(Long, String)] = Seq(
      (9000000001L, "春は曙。やうやう白くなりゆく山際、少し明かりて。"),
      (9000000002L, "子曰 學而時習之 不亦說乎 有朋自遠方來 不亦樂乎"),
      (9000000003L, "나라의 말이 중국과 달라 문자와 서로 통하지 아니하다"),
      (9000000004L, "Широкая электрификация южных губерний даст мощный толчок"),
      (9000000005L, "日本語のテキストとカタカナ"),
      (9000000006L, "漢字が多い文でも仮名があるので日本語と判定する"))
    val ranges = Seq(
      "n_han" -> ("\u4e00", "\u9fff"), "n_kana" -> ("\u3040", "\u30ff"),
      "n_hangul" -> ("\uac00", "\ud7af"), "n_cyr" -> ("\u0400", "\u04ff"))
    def hex(s: String) = f"${s.codePointAt(0)}%04x"
    val plantedSql = planted.map { case (id, t) => s"($id, '$t')" }
      .mkString(",\n      |    ")
    val rangeSql = ranges.map { case (n, (lo, hi)) =>
      s"CAST(len(regexp_extract_all(text, '[\\x{${hex(lo)}}-\\x{${hex(hi)}}]')) AS BIGINT) AS $n"
    }.mkString(",\n      |    ")
    val stopSql = langProfiles.map { case (l, ws) =>
      val in = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'), x -> x IN ($in))) AS c_$l"
    }.mkString(",\n      |    ")
    Q(
      "text_langid_cjk",
      s"""WITH planted(doc_id, text) AS (VALUES
      |    $plantedSql),
      |u AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id, text FROM planted),
      |t AS (
      |  SELECT doc_id,
      |    $rangeSql,
      |    $stopSql
      |  FROM u)
      |SELECT doc_id, n_han, n_kana, n_hangul, n_cyr,
      |  CASE WHEN n_kana > 0 THEN 'ja'
      |       WHEN n_hangul > 0 THEN 'ko'
      |       WHEN n_han > 0 THEN 'zh'
      |       WHEN n_cyr > 0 THEN 'ru'
      |       WHEN c_de >= c_en AND c_de >= c_es AND c_de >= c_fr THEN 'de'
      |       WHEN c_en >= c_es AND c_en >= c_fr THEN 'en'
      |       WHEN c_es >= c_fr THEN 'es'
      |       ELSE 'fr' END AS predicted_lang
      |FROM t ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val u = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .unionByName(planted.toDF("doc_id", "text"))
      val scored = u.select(
        (col("doc_id") +:
          ranges.map { case (n, (lo, hi)) =>
            regexp_count(col("text"), lit(s"[$lo-$hi]"))
              .cast("long").as(n)
          }) ++
          langProfiles.map { case (l, ws) =>
            countIn(toks(col("text")), ws).as(s"c_$l")
          }: _*)
      scored.select(col("doc_id"), col("n_han"), col("n_kana"),
          col("n_hangul"), col("n_cyr"),
          when(col("n_kana") > 0, "ja")
            .when(col("n_hangul") > 0, "ko")
            .when(col("n_han") > 0, "zh")
            .when(col("n_cyr") > 0, "ru")
            .when(col("c_de") >= col("c_en") && col("c_de") >= col("c_es")
              && col("c_de") >= col("c_fr"), "de")
            .when(col("c_en") >= col("c_es")
              && col("c_en") >= col("c_fr"), "en")
            .when(col("c_es") >= col("c_fr"), "es")
            .otherwise("fr").as("predicted_lang"))
        .orderBy(col("doc_id"))
    }
  }

  /** Fixed-width chunking, chunk_size=200 overlap=30 (stride 170) —
    * the distributed equivalent of the reference's
    * CharacterTextSplitter (conversadocs/bones.py:67). One row per
    * chunk via sequence+explode; no data leaves the executor. */
  val chunkFixed: Q = Q(
    "chunk_fixed",
    """SELECT doc_id, i AS chunk_id, i * 170 + 1 AS char_start,
      |  substr(text, i * 170 + 1, 200) AS chunk
      |FROM (SELECT doc_id, text,
      |  unnest(range(0, (len(text) + 169) // 170)) AS i FROM documents)
      |ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0),
          floor((length(col("text")) - 1) / 170).cast("int"))).as("i"))
      .select(col("doc_id"), col("i").cast("long").as("chunk_id"),
        (col("i").cast("long") * 170 + 1).as("char_start"),
        col("text").substr(col("i") * 170 + 1, lit(200)).as("chunk"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Ingestion stats per language partition (the load_db ledger:
    * what got loaded, from how many sources, how big). */
  val docStats: Q = Q(
    "doc_stats",
    """SELECT lang, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT source) AS n_sources,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars, MAX(n_chars) AS max_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("total_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"))
  }

  /** Document fingerprinting: 64-bit-ish (40-bit) polynomial rolling
    * hash over md5 token hashes — whole-doc fingerprint plus a
    * winnowing-style min over rolling 8-token windows. The hash is
    * re-expressed identically in DuckDB (md5-prefix token hash +
    * list_reduce fold), so it is fully oracle-checked. */
  val fingerprint: Q = {
    val TW = 1099511627776L // 2^40 keeps a*1000003+h under 2^63 (ANSI-safe)
    Q(
      "text_fingerprint",
      s"""WITH t AS (
        |  SELECT doc_id,
        |    list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      w -> ('0x' || substr(md5(w), 1, 10))::BIGINT) hs
        |  FROM documents)
        |SELECT doc_id,
        |  list_reduce(hs, (a, h) -> (a * 1000003 + h) % $TW) AS fp,
        |  CASE WHEN len(hs) >= 8 THEN
        |    list_min(list_transform(range(0, len(hs) - 7),
        |      i -> list_reduce(hs[i+1:i+8], (a, h) -> (a * 1000003 + h) % $TW)))
        |  ELSE NULL END AS winnow_fp
        |FROM t ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val hs = transform(toks(col("text")),
        t => conv(substring(md5(t), 1, 10), 16, 10).cast("long"))
      def fold(arr: Column): Column =
        aggregate(arr, lit(0L), (a, h) => (a * 1000003L + h) % TW)
      Tables.documents(s, dir)
        .select(col("doc_id"), hs.as("hs"))
        .select(
          col("doc_id"),
          fold(col("hs")).as("fp"),
          when(size(col("hs")) >= 8,
            array_min(transform(sequence(lit(0), size(col("hs")) - 8),
              i => fold(slice(col("hs"), i + 1, lit(8))))))
            .otherwise(lit(null).cast("long")).as("winnow_fp"))
        .orderBy(col("doc_id"))
    }
  }

  /** Recursive separator-hierarchy splitting (bones.py:67,160-164) —
    * imperative string logic as a typed flatMap (one doc in, N chunks
    * out, fully parallel). Rows-only; semantics spec'd in ChunkerSpec. */
  val chunkRecursive: Q = Q.rowsOnly("chunk_recursive") { (s, dir) =>
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        graft.operators.Chunker.split(text, 200, 30).zipWithIndex
          .map { case (c, i) => (id, i.toLong, c) }
      }
      .toDF("doc_id", "chunk_id", "chunk")
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** The reference's SUMMARIZE splitter (bones.py:160-165): chunk_size
    * =2000 overlap=100 with the sentence-aware regex hierarchy
    * ["\n\n","\n","(?<=\. )"," ",""]. Same distributed shape as
    * chunk_recursive; the sentence-boundary semantics are pinned by
    * ChunkerSpec (this corpus has no ". " boundaries, so here the
    * word-level fallback carries the splitting). Rows-only. */
  val chunkSentence: Q = Q.rowsOnly("chunk_sentence") { (s, dir) =>
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        graft.operators.Chunker.summarizeSplit(text).zipWithIndex
          .map { case (c, i) => (id, i.toLong, c) }
      }
      .toDF("doc_id", "chunk_id", "chunk")
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** TF-IDF top-3 terms per document — the classic weighting, ranked
    * with a deterministic tiebreak. df/idf stats are tiny and
    * broadcast; the per-doc ranking is a partitioned window. */
  val tfidf: Q = Q(
    "text_tfidf",
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) t
      |  FROM documents),
      |tf AS (SELECT doc_id, t, COUNT(*)::DOUBLE tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT t, COUNT(DISTINCT doc_id)::DOUBLE df FROM tok GROUP BY 1),
      |nd AS (SELECT COUNT(*)::DOUBLE n FROM documents),
      |sc AS (
      |  SELECT tf.doc_id, tf.t, tf.tf * ln(nd.n / df.df) AS score
      |  FROM tf JOIN df ON tf.t = df.t CROSS JOIN nd),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |    ORDER BY score DESC, t) rn
      |  FROM sc)
      |SELECT doc_id, rn AS rank, t AS term, ROUND(score, 4) AS score
      |FROM r WHERE rn <= 3 ORDER BY doc_id, rank""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("t"))
    val tf = tok.groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tok.groupBy(col("t"))
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    val nd = Tables.documents(s, dir).agg(count(lit(1)).cast("double").as("n"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("t"))
    // no broadcast hint on df: full corpus vocabulary (sf-scaling) —
    // AQE broadcasts while small, shuffle-joins at scale
    tf.join(df, "t")
      .crossJoin(broadcast(nd))
      .withColumn("score", col("tf") * log(col("n") / col("df")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn").as("rank"), col("t").as("term"),
        round(col("score"), 4).as("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Suffix-strip stemming (porter-lite): vocabulary compression
    * measured per doc. The token array is materialized before the
    * per-element regex (HOF argument re-evaluation pitfall). */
  val stem: Q = Q(
    "text_stem",
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
      |  FROM documents)
      |SELECT doc_id,
      |  len(list_distinct(ts)) AS n_distinct_raw,
      |  len(list_distinct(list_transform(ts,
      |    w -> regexp_replace(w, '(ing|ed|ly|es|s)$', '')))) AS n_distinct_stems
      |FROM t ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), toks(col("text")).as("ts"))
      .select(col("doc_id"),
        size(array_distinct(col("ts"))).as("n_distinct_raw"),
        size(array_distinct(transform(col("ts"),
          w => regexp_replace(w, "(ing|ed|ly|es|s)$", ""))))
          .as("n_distinct_stems"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style repetition metrics + filter gate — the classic
    * training-data quality pass (Rae et al. 2021 §A1.1: drop docs
    * dominated by repeated n-grams). Per doc: duplicate-token
    * fraction, most-frequent-2-gram fraction, most-frequent-3-gram
    * fraction, and a keep flag over fixed thresholds. All ratios are
    * single divisions of exact integer counts, so both engines
    * compute identical doubles; the gate compares the ROUNDED values
    * so the boolean cannot straddle an engine difference. The per-doc
    * gram counts are the compiled MaxGramCount over the shared token
    * array ([[docFeatures]]) — one projection, no shuffle, no window. */
  val repetition: Q = Q(
    "text_repetition",
    """WITH tokv AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') ts
      |  FROM documents),
      |tstats AS (
      |  SELECT doc_id, len(ts) AS n_tokens, len(list_distinct(ts)) AS n_distinct
      |  FROM tokv),
      |g2 AS (
      |  SELECT doc_id, ts[i+1] || ' ' || ts[i+2] AS g
      |  FROM (SELECT doc_id, ts,
      |    unnest(range(0, greatest(len(ts) - 1, 0))) AS i FROM tokv)),
      |c2 AS (SELECT doc_id, g, COUNT(*) c FROM g2 GROUP BY 1, 2),
      |s2 AS (SELECT doc_id, MAX(c)::DOUBLE m, SUM(c)::DOUBLE t FROM c2 GROUP BY 1),
      |g3 AS (
      |  SELECT doc_id, ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] AS g
      |  FROM (SELECT doc_id, ts,
      |    unnest(range(0, greatest(len(ts) - 2, 0))) AS i FROM tokv)),
      |c3 AS (SELECT doc_id, g, COUNT(*) c FROM g3 GROUP BY 1, 2),
      |s3 AS (SELECT doc_id, MAX(c)::DOUBLE m, SUM(c)::DOUBLE t FROM c3 GROUP BY 1),
      |m AS (
      |  SELECT ts.doc_id,
      |    FLOOR(((ts.n_tokens - ts.n_distinct)::DOUBLE / ts.n_tokens)
      |      * 10000 + 0.5) / 10000 AS dup_token_frac,
      |    COALESCE(FLOOR((s2.m / s2.t) * 10000 + 0.5) / 10000, 0.0)
      |      AS top2gram_frac,
      |    COALESCE(FLOOR((s3.m / s3.t) * 10000 + 0.5) / 10000, 0.0)
      |      AS top3gram_frac
      |  FROM tstats ts LEFT JOIN s2 ON ts.doc_id = s2.doc_id
      |  LEFT JOIN s3 ON ts.doc_id = s3.doc_id)
      |SELECT doc_id, dup_token_frac, top2gram_frac, top3gram_frac,
      |  dup_token_frac <= 0.9 AND top2gram_frac <= 0.2
      |    AND top3gram_frac <= 0.18 AS keep
      |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
    repetitionFrom(Tables.documents(s, dir)).orderBy(col("doc_id"))
  }

  /** The text_repetition columns of [[docFeatures]]. */
  private[graft] def repetitionFrom(docs: DataFrame): DataFrame =
    docFeatures(docs).select(col("doc_id"), col("dup_token_frac"),
      col("top2gram_frac"), col("top3gram_frac"), col("rep_keep").as("keep"))

  /** Token-budget sharding — the corpus → training-shard packing
    * pass: every doc assigned (whole, never split) to the shard where
    * its global token-count prefix sum lands, ~4096 tokens per shard.
    * The global prefix sum is the q_ntile two-pass shape, NOT a
    * single-partition window: range-partition on doc_id, per-partition
    * running sums in parallel, one O(partitions) row set to the driver
    * for the offsets, broadcast back. The oracle is the plain
    * SQL window; the plan is the one that survives 100 TB. */
  val tokenShards: Q = Q(
    "token_shards",
    """WITH t AS (
      |  SELECT doc_id,
      |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |    SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t)
      |SELECT doc_id, n_tokens,
      |  CAST(FLOOR((cum - n_tokens) / 4096.0) AS BIGINT) AS shard_id
      |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val budget = 4096.0
    val (c, _) = graft.operators.GlobalPrefix.withCumSum(
      Tables.documents(s, dir)
        .select(col("doc_id"), size(toks(col("text"))).cast("long").as("n_tokens")),
      Seq(col("doc_id")), col("n_tokens"))
    c.select(col("doc_id"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / budget).cast("long").as("shard_id"))
      .orderBy(col("doc_id"))
  }

  /** Heavy-hitter estimation via a Count-Min sketch (spark-sketch):
    * the constant-memory answer to "what are the frequent tokens"
    * when an exact groupBy over the vocabulary would not fit — the
    * third mergeable sketch next to HLL (q_approx_distinct) and
    * quantiles (q_approx_quantiles). The sketch is built distributed
    * (merged counters, order-independent, fixed seed) and consumed
    * driver-side at O(k). Output is ORACLE-SHAPED: the exact top-10
    * (SQL-replayable) plus est_ok = the CMS guarantee (exact <= est
    * <= exact + ceil(eps·N)) evaluated per token — the oracle asserts
    * it TRUE, so a broken sketch reds the driver's hash gate, not
    * just a spec; QueriesSpec separately gates estimate tightness. */
  val freqSketch: Q = Q(
    "q_freq_sketch",
    """WITH tok AS (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
      |  FROM documents),
      |cnt AS (SELECT t, COUNT(*) AS exact FROM tok GROUP BY t)
      |SELECT t AS token, exact, TRUE AS est_ok
      |FROM cnt ORDER BY exact DESC, t LIMIT 10""".stripMargin) { (s, dir) =>
    val tok = Tables.documents(s, dir)
      .select(explode(toks(col("text"))).as("t")).cache()
    val cms = tok.stat.countMinSketch(col("t"), eps = 0.0001,
      confidence = 0.99, seed = 42)
    val nTotal = tok.count()
    val bound = math.ceil(0.0001 * nTotal).toLong
    val top = tok.groupBy(col("t")).agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("t")).limit(10).collect()
    import s.implicits._
    top.map { r =>
      val est = cms.estimateCount(r.getString(0))
      (r.getString(0), r.getLong(1),
        est >= r.getLong(1) && est <= r.getLong(1) + bound)
    }
      .toSeq.toDF("token", "exact", "est_ok")
      .orderBy(col("exact").desc, col("token"))
  }

  /** PII scrubbing — the redaction pass every training corpus runs
    * before release: emails, IPv4 addresses, and long digit runs
    * masked with typed placeholders, plus per-doc counts of what was
    * found. Pure chained regexp_replace — codegen'd scan-time CPU, no
    * UDFs, embarrassingly parallel at any scale. The synthetic corpus
    * carries no PII, so the query PLANTS one deterministic instance
    * of each class (derived from doc_id) before scrubbing — the
    * oracle plants the identical text, so the hash compare proves the
    * masking regexes behave identically across engines on 500
    * distinct inputs rather than vacuously matching nothing. Patterns
    * avoid lookaround so Java regex and DuckDB's RE2 agree. */
  val piiScrub: Q = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipRe = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"
    val numRe = "\\d{7,}"
    Q(
      "text_pii_scrub",
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         |    '@mail.example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
         |    '.' || CAST((doc_id * 7) % 256 AS VARCHAR) ||
         |    ' ref ' || CAST(1000000 + doc_id * 13 AS VARCHAR) AS t
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(t,
         |    '$emailRe', '<EMAIL>', 'g'),
         |    '$ipRe', '<IP>', 'g'),
         |    '$numRe', '<NUM>', 'g') AS scrubbed,
         |  len(regexp_extract_all(t, '$emailRe')) AS n_email,
         |  len(regexp_extract_all(t, '$ipRe')) AS n_ip,
         |  len(regexp_extract_all(t, '$numRe')) AS n_num
         |FROM planted ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val t = concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com from 10.0."),
        (col("doc_id") % 256).cast("string"), lit("."),
        ((col("doc_id") * 7) % 256).cast("string"),
        lit(" ref "), (lit(1000000L) + col("doc_id") * 13).cast("string"))
      Tables.documents(s, dir)
        .select(col("doc_id"), t.as("t"))
        .select(
          col("doc_id"),
          regexp_replace(regexp_replace(regexp_replace(col("t"),
            emailRe, "<EMAIL>"),
            ipRe, "<IP>"),
            numRe, "<NUM>").as("scrubbed"),
          size(regexp_extract_all(col("t"), lit(emailRe), lit(0))).as("n_email"),
          size(regexp_extract_all(col("t"), lit(ipRe), lit(0))).as("n_ip"),
          size(regexp_extract_all(col("t"), lit(numRe), lit(0))).as("n_num"))
        .orderBy(col("doc_id"))
    }
  }

  /** Bigram language-model familiarity scoring — the shape of the
    * CCNet/KenLM perplexity quality gate with integer-exact
    * arithmetic instead of log-probs (logs differ in the last ulp
    * across engines; sums of exact counts cannot). The corpus itself
    * is the LM: cf(g) = total corpus occurrences of bigram g;
    * per doc, familiar_sum = Σ_instances cf(g) (high = the doc reads
    * like the corpus), novel_frac = fraction of bigram instances
    * appearing NOWHERE else. Plan: one tokenize pass, per-(doc,gram)
    * counts (map-side partial), the corpus model by a second groupBy,
    * and a shuffle equi-join of doc grams against the model — the
    * model table scales with the vocabulary, so it is NOT broadcast
    * (AQE may still choose to); grams join on their xxhash64, so the
    * shuffle moves 8-byte keys, not strings. */
  val bigramLm: Q = Q(
    "text_bigram_lm",
    """WITH tokv AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') ts
      |  FROM documents),
      |gi AS (
      |  SELECT doc_id, ts[i+1] || ' ' || ts[i+2] AS g
      |  FROM (SELECT doc_id, ts,
      |    unnest(range(0, greatest(len(ts) - 1, 0))) AS i FROM tokv)),
      |dg AS (SELECT doc_id, g, COUNT(*) cnt FROM gi GROUP BY 1, 2),
      |cf AS (SELECT g, SUM(cnt) cf FROM dg GROUP BY 1),
      |agg AS (
      |  SELECT dg.doc_id, SUM(cnt)::BIGINT n_big, SUM(cnt * cf.cf)::BIGINT fam,
      |    SUM(CASE WHEN cf.cf = cnt THEN cnt ELSE 0 END)::BIGINT novel
      |  FROM dg JOIN cf USING (g) GROUP BY 1)
      |SELECT d.doc_id,
      |  COALESCE(n_big, 0) AS n_bigrams,
      |  COALESCE(fam, 0) AS familiar_sum,
      |  CASE WHEN n_big > 0
      |    THEN FLOOR(fam / n_big * 10000 + 0.5) / 10000 END AS avg_familiarity,
      |  CASE WHEN n_big > 0
      |    THEN FLOOR(novel / n_big * 10000 + 0.5) / 10000 END AS novel_frac
      |FROM documents d LEFT JOIN agg USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    def r4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val t = Tables.documents(s, dir)
      .select(col("doc_id"), toks(col("text")).as("ts"))
    // hash BEFORE the first shuffle: all downstream movement is on
    // 8-byte keys (collision odds argued at hashedShinglesOf)
    val dg = t.select(col("doc_id"),
        explode(graft.functions.TextExprs.gramsN(col("ts"), 2)).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
      .cache() // feeds both the corpus model and the scoring join
    val cf = dg.groupBy(col("g")).agg(sum(col("cnt")).as("cf"))
    val agg = dg.join(cf, "g")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_big"),
        sum(col("cnt") * col("cf")).as("fam"),
        sum(when(col("cf") === col("cnt"), col("cnt")).otherwise(0L)).as("novel"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_big"), lit(0L)).as("n_bigrams"),
        coalesce(col("fam"), lit(0L)).as("familiar_sum"),
        when(col("n_big") > 0, r4(col("fam") / col("n_big")))
          .as("avg_familiarity"),
        when(col("n_big") > 0, r4(col("novel") / col("n_big")))
          .as("novel_frac"))
      .orderBy(col("doc_id"))
  }

  /** Perplexity quality filter — the CCNet-shaped signal (Wenzek et
    * al., "CCNet: Extracting High Quality Monolingual Datasets from
    * Web Crawl Data", LREC 2020, which filters on KenLM perplexity;
    * the reference has no LM, so the corpus-fit add-one-smoothed
    * bigram model stands in): each doc scores the mean negative log
    * probability of its bigrams under the CORPUS model,
    * ppl = exp(nll/n) — gibberish and boilerplate-free outliers rank
    * high, formulaic text low. Complements text_bigram_lm (novelty /
    * familiarity counts) with the actual probabilistic score a
    * filtering pipeline thresholds on.
    *
    * Plan shape at 100 TB: one tokenize pass feeds bigram extraction
    * (cached); the model is two partial-aggregating groupBys (bigram
    * counts, then context counts BY re-aggregating the bigram table —
    * never a second corpus scan); scoring is an equi-join of doc
    * bigrams against the model on 8-byte xxhash64 keys (collision
    * odds argued at hashedShinglesOf) — the model scales with the
    * OBSERVED bigram vocabulary, so it is NOT broadcast; the vocab
    * size rides a broadcast 1-row frame. ln/exp in an oracle-checked
    * sum follows the retrieval_bm25 precedent (same-sign terms, both
    * engines' libm agree within the 4-decimal output rounding). */
  val perplexity: Q = Q(
    "text_perplexity",
    """WITH tokv AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') ts
      |  FROM documents),
      |vx AS (
      |  SELECT COUNT(DISTINCT t) v
      |  FROM (SELECT unnest(ts) t FROM tokv)),
      |bg AS (
      |  SELECT doc_id, ts[i+1] AS w1, ts[i+2] AS w2
      |  FROM (SELECT doc_id, ts,
      |    unnest(range(0, greatest(len(ts) - 1, 0))) AS i FROM tokv)),
      |c2 AS (SELECT w1, w2, COUNT(*) c2 FROM bg GROUP BY 1, 2),
      |c1 AS (SELECT w1, SUM(c2) c1 FROM c2 GROUP BY 1),
      |sc AS (
      |  SELECT bg.doc_id, COUNT(*) n_bigrams,
      |    SUM(-ln((c2.c2 + 1.0) / (c1.c1 + vx.v))) nll
      |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vx
      |  GROUP BY 1)
      |SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams,
      |  CASE WHEN n_bigrams > 0
      |    THEN FLOOR(nll / n_bigrams * 10000 + 0.5) / 10000 END AS avg_nll,
      |  CASE WHEN n_bigrams > 0
      |    THEN FLOOR(exp(nll / n_bigrams) * 10000 + 0.5) / 10000 END AS ppl
      |FROM documents d LEFT JOIN sc USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    def r4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val t = Tables.documents(s, dir)
      .select(col("doc_id"), toks(col("text")).as("ts"))
    val bg = t.select(col("doc_id"),
        explode(graft.functions.TextExprs.gramsN(col("ts"), 2)).as("g"))
      .select(col("doc_id"),
        xxhash64(substring_index(col("g"), " ", 1)).as("h1"),
        xxhash64(col("g")).as("h12"))
      .cache() // feeds the model aggregations and the scoring join
    val c2 = bg.groupBy(col("h1"), col("h12")).agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("h1")).agg(sum(col("c2")).as("c1"))
    val vdf = t.select(explode(col("ts")).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    val sc = bg.join(c2, Seq("h1", "h12")).join(c1, Seq("h1"))
      .crossJoin(broadcast(vdf))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(-log((col("c2") + 1.0) / (col("c1") + col("v")))).as("nll"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(col("n_bigrams") > 0, r4(col("nll") / col("n_bigrams")))
          .as("avg_nll"),
        when(col("n_bigrams") > 0, r4(exp(col("nll") / col("n_bigrams"))))
          .as("ppl"))
      .orderBy(col("doc_id"))
  }

  /** Per-source corpus profile — the report a pipeline dashboard
    * draws before anything runs: doc counts, token volume, vocabulary
    * size, and length spread per source. One tokenize+explode and one
    * partial-aggregating groupBy on source (output rows = #sources);
    * the char-length stats ride the same groupBy from the raw table —
    * two scans total, no joins wider than #sources. */
  val corpusStats: Q = Q(
    "corpus_stats",
    """WITH tok AS (
      |  SELECT doc_id, source,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) t
      |  FROM documents),
      |tk AS (
      |  SELECT source, COUNT(*) AS n_tokens,
      |    COUNT(DISTINCT t) AS vocab
      |  FROM tok GROUP BY 1),
      |dc AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    MIN(len(text)) AS min_chars, MAX(len(text)) AS max_chars,
      |    CAST(SUM(len(text)) AS BIGINT) AS total_chars
      |  FROM documents GROUP BY 1)
      |SELECT dc.source, dc.n_docs, tk.n_tokens, tk.vocab,
      |  dc.min_chars, dc.max_chars, dc.total_chars
      |FROM dc JOIN tk ON dc.source = tk.source
      |ORDER BY dc.source""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val tk = docs
      .select(col("source"), explode(toks(col("text"))).as("t"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("t")).as("vocab"))
    val dc = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        min(length(col("text"))).as("min_chars"),
        max(length(col("text"))).as("max_chars"),
        sum(length(col("text"))).cast("long").as("total_chars"))
    dc.join(tk, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("vocab"),
        col("min_chars"), col("max_chars"), col("total_chars"))
      .orderBy(col("source"))
  }

  /** BPE tokenizer FIT (operators.BpeFit — Sennrich et al. 2016):
    * learn the first 8 merge rules from the corpus. One distributed
    * corpus pass (word counts, map-side combined), top-2000 vocab cap
    * (bounded model state, the IvfIndex-sample philosophy), then 8
    * bounded merge iterations whose only driver traffic is one argmax
    * row each. The merge table IS the fitted tokenizer.
    *
    * ORACLE-CHECKED by full unrolled replay: every stage is
    * engine-independent arithmetic — same tokenizer (parity-gated),
    * same (freq desc, word) vocab cap, same delimited-string merge
    * via plain `replace` (byte-identical left-to-right non-overlap
    * semantics in Spark and DuckDB; see BpeFit's delimiter scheme),
    * same (cnt desc, l, r) argmax tiebreak in binary string order. */
  private val bpeMerges = 8
  private val bpeVocabCap = 2000

  /** Shared oracle CTE chain for the BPE fit: per-doc tokens →
    * (freq desc, word) capped vocabulary → delimited symbol strings →
    * `bpeMerges` unrolled (pair-count, argmax, replace) stages. The
    * fit query reads the m$i argmax CTEs; the apply query reuses them
    * as its merge rules. */
  /** Unrolled merge stages shared by the char-level and byte-level
    * fit oracles — symbol-agnostic (they only see the `||`-delimited
    * `s` built by whichever w0 precedes them). */
  private def bpeStageCtes(merges: Int): String =
    (1 to merges).map { i =>
      val prev = s"w${i - 1}"
      s"""p$i AS (
        |  SELECT p[1] l, p[2] r, SUM(freq)::BIGINT cnt FROM (
        |    SELECT freq, unnest(list_transform(range(1, len(a)),
        |      i -> [a[i], a[i+1]])) p
        |    FROM (SELECT freq, list_filter(string_split(s, '||'),
        |      x -> x <> '') a FROM $prev))
        |  GROUP BY 1, 2),
        |m$i AS (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
        |w$i AS (
        |  SELECT replace($prev.s, '|' || m.l || '||' || m.r || '|',
        |    '|' || m.l || m.r || '|') s, freq
        |  FROM $prev CROSS JOIN m$i m)""".stripMargin
    }.mkString(",\n")

  private def bpeFitCtes: String = {
    val stages = bpeStageCtes(bpeMerges)
    s"""tokd AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
      |  FROM documents),
      |wf AS (
      |  SELECT word, COUNT(*)::BIGINT freq FROM tokd GROUP BY word
      |  ORDER BY freq DESC, word LIMIT $bpeVocabCap),
      |w0 AS (
      |  SELECT '||' || regexp_replace(word, '(.)', '\\1||', 'g') ||
      |    '</w>||' AS s, freq FROM wf),
      |$stages""".stripMargin
    // NOTE: this text is interpolated into SQL strings that call
    // .stripMargin AGAIN — no line above may START with '||' (the
    // second strip would eat one pipe and turn concat into bitwise-or)
  }

  private[graft] def bpeCappedWords(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(toks(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(bpeVocabCap)

  val bpeFit: Q = {
    val union = (1 to bpeMerges).map(i =>
      s"SELECT $i::BIGINT step, l AS left_sym, r AS right_sym, " +
        s"l || r AS merged, cnt FROM m$i").mkString("\nUNION ALL\n")
    Q(
      "tokenizer_bpe_fit",
      s"""WITH $bpeFitCtes
        |SELECT * FROM (
        |$union
        |) ORDER BY step""".stripMargin) { (s, dir) =>
      graft.operators.BpeFit.fit(s, bpeCappedWords(s, dir), bpeMerges)
    }
  }

  /** Apply the fitted BPE tokenizer to the WHOLE corpus — the
    * distributed half of the fit/apply pair, and the shape that
    * matters at 100 TB: the merge rules are `bpeMerges` collected
    * rows (bounded model, exactly the fit's output), segmentation is
    * computed once per DISTINCT word (the dictionary-encode trick —
    * corpus token occurrences join the small word→n_sub table instead
    * of re-segmenting every occurrence), and the merge application is
    * a chain of codegen'd string `replace`s, no UDF. Output per doc:
    * word count, BPE-symbol count, and their ratio — the
    * tokens-per-word compression a tokenizer report cares about. A
    * bare unmerged `</w>` counts as its own symbol (defined metric,
    * same on both engines).
    *
    * ORACLE-CHECKED: reuses the fit's unrolled m$i CTEs as the merge
    * rules and replays segmentation with the same delimited-string
    * replaces over the distinct-word table. */
  val bpeApply: Q = {
    // LEFT JOIN ON TRUE, not CROSS JOIN: if the corpus exhausts
    // before bpeMerges merges (m$i empty — fitLocal returns fewer
    // rows and the Spark side applies only those), a cross join
    // would empty the whole chain and zero every doc's counts; the
    // left join passes the segmentation through unmerged instead,
    // matching the Spark side's shorter merge fold
    val applyStages = (1 to bpeMerges).map { i =>
      s"""a$i AS (
        |  SELECT word, CASE WHEN m.l IS NULL THEN a${i - 1}.s
        |    ELSE replace(a${i - 1}.s, '|' || m.l || '||' || m.r || '|',
        |      '|' || m.l || m.r || '|') END s
        |  FROM a${i - 1} LEFT JOIN m$i m ON TRUE)""".stripMargin
    }.mkString(",\n")
    Q(
      "tokenizer_bpe_apply",
      s"""WITH $bpeFitCtes,
        |aw AS (SELECT DISTINCT word FROM tokd),
        |a0 AS (
        |  SELECT word, '||' || regexp_replace(word, '(.)', '\\1||', 'g') ||
        |    '</w>||' AS s FROM aw),
        |$applyStages,
        |wn AS (
        |  SELECT word, len(list_filter(string_split(s, '||'),
        |    x -> x <> ''))::BIGINT n_sub
        |  FROM a$bpeMerges),
        |agg AS (
        |  SELECT doc_id, COUNT(*)::BIGINT n_words, SUM(n_sub)::BIGINT n_bpe
        |  FROM tokd JOIN wn USING (word) GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(n_words, 0) AS n_words,
        |  COALESCE(n_bpe, 0) AS n_bpe,
        |  CASE WHEN n_words > 0
        |    THEN FLOOR(n_bpe / n_words * 10000 + 0.5) / 10000 END AS bpe_ratio
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val mergeRows = graft.operators.BpeFit
        .fit(s, bpeCappedWords(s, dir), bpeMerges).collect()
      val tokd = Tables.documents(s, dir)
        .select(col("doc_id"), explode(toks(col("text"))).as("word"))
      val segmented = mergeRows.sortBy(_.getLong(0))
        .foldLeft(graft.operators.BpeFit.delimited(col("word"))) { (c, m) =>
          val (l, r) = (m.getString(1), m.getString(2))
          call_function("replace", c,
            lit("|" + l + "||" + r + "|"), lit("|" + l + r + "|"))
        }
      val wn = tokd.select(col("word")).distinct()
        .select(col("word"), size(filter(split(segmented, "\\|\\|"),
          x => x =!= "")).cast("long").as("n_sub"))
      val agg = tokd.join(wn, "word")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_bpe"))
      def r4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
      Tables.documents(s, dir).select(col("doc_id"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("n_bpe"), lit(0L)).as("n_bpe"),
          when(col("n_words") > 0, r4(col("n_bpe") / col("n_words")))
            .as("bpe_ratio"))
        .orderBy(col("doc_id"))
    }
  }

  /** Byte-level BPE knobs — same economics as the char-level fit
    * (head-coverage cap + vocab-size merge count, both corpus-size
    * independent). */
  private val bbpeMerges = 8
  private val bbpeVocabCap = 2000

  /** Pre-tokens for the byte-level family: space-split with the
    * leading space ATTACHED (the GPT-2 convention — ' the' and 'the'
    * are distinct tokens, so merges learn the space prefix), RAW
    * text — no lowercasing and no character-class filter, because
    * byte-level BPE's whole point is total coverage of arbitrary
    * bytes. The tie order rides the hex rendering (ASCII on both
    * engines — raw VARCHAR order diverges between UTF-16 Spark and
    * UTF-8-binary DuckDB on non-ASCII). */
  private[graft] def bbpeWords(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(regexp_extract_all(col("text"), lit(" ?[^ ]+"),
        lit(0))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, hex(encode(col("word"), "UTF-8")))
      .limit(bbpeVocabCap)

  /** Oracle CTE chain for the byte-level fit: raw pre-tokens →
    * (freq desc, hex asc) capped head → hex-pair symbol strings (NO
    * end marker) → the shared unrolled merge stages. */
  private def bbpeFitCtes: String = {
    val stages = bpeStageCtes(bbpeMerges)
    s"""btokd AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(text, ' ?[^ ]+')) AS word
      |  FROM documents),
      |bwf AS (
      |  SELECT word, COUNT(*)::BIGINT freq FROM btokd GROUP BY word
      |  ORDER BY freq DESC, hex(word) LIMIT $bbpeVocabCap),
      |w0 AS (
      |  SELECT '||' || regexp_replace(hex(word), '(..)', '\\1||', 'g')
      |    AS s, freq FROM bwf),
      |$stages""".stripMargin
    // same double-stripMargin hazard as bpeFitCtes: no line above may
    // START with '||'
  }

  /** FIT byte-level BPE (Radford et al. 2019 — the GPT-2/tiktoken
    * family member most production LLMs actually train): BpeFit's
    * exact decomposition (ONE corpus-scale pass for the capped
    * pre-token head, bounded in-process merge loop) with a
    * 256-symbol BYTE base alphabet and no `</w>` marker — coverage
    * is total on any input, non-ASCII included, by construction
    * (BbpeSpec pins the law). Symbols are uppercase hex pairs:
    * engine-portable, delimiter-collision-free, and ASCII so the
    * (cnt desc, left, right) argmax tie-break orders identically on
    * both engines whatever the underlying bytes. */
  val bbpeFit: Q = {
    val union = (1 to bbpeMerges).map(i =>
      s"SELECT $i::BIGINT step, l AS left_sym, r AS right_sym, " +
        s"l || r AS merged, cnt FROM m$i").mkString("\nUNION ALL\n")
    Q(
      "tokenizer_bbpe_fit",
      s"""WITH $bbpeFitCtes
        |SELECT * FROM (
        |$union
        |) ORDER BY step""".stripMargin) { (s, dir) =>
      graft.operators.BpeFit.fitBytes(s, bbpeWords(s, dir), bbpeMerges)
    }
  }

  /** APPLY the fitted byte-level tokenizer corpus-wide —
    * tokenizer_bpe_apply's shape exactly (bounded collected merge
    * table, segmentation once per DISTINCT pre-token via a chain of
    * codegen'd string replaces over the hex-pair delimited form,
    * occurrences join the small word→n_sub table), plus the byte
    * accounting the byte-level report cares about: per doc, token
    * count, UTF-8 byte count, BPE-symbol count, and the 4dp
    * bytes-per-symbol compression (n_bbpe/n_bytes — 1.0 means no
    * merge fired, smaller is better). */
  val bbpeApply: Q = {
    val applyStages = (1 to bbpeMerges).map { i =>
      s"""a$i AS (
        |  SELECT word, CASE WHEN m.l IS NULL THEN a${i - 1}.s
        |    ELSE replace(a${i - 1}.s, '|' || m.l || '||' || m.r || '|',
        |      '|' || m.l || m.r || '|') END s
        |  FROM a${i - 1} LEFT JOIN m$i m ON TRUE)""".stripMargin
    }.mkString(",\n")
    Q(
      "tokenizer_bbpe_apply",
      s"""WITH $bbpeFitCtes,
        |aw AS (SELECT DISTINCT word FROM btokd),
        |a0 AS (
        |  SELECT word,
        |    '||' || regexp_replace(hex(word), '(..)', '\\1||', 'g') AS s
        |  FROM aw),
        |$applyStages,
        |wn AS (
        |  SELECT word, len(list_filter(string_split(s, '||'),
        |    x -> x <> ''))::BIGINT n_sub,
        |    octet_length(encode(word))::BIGINT n_b
        |  FROM a$bbpeMerges),
        |agg AS (
        |  SELECT doc_id, COUNT(*)::BIGINT n_words,
        |    SUM(n_b)::BIGINT n_bytes, SUM(n_sub)::BIGINT n_bbpe
        |  FROM btokd JOIN wn USING (word) GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(n_words, 0) AS n_words,
        |  COALESCE(n_bytes, 0) AS n_bytes,
        |  COALESCE(n_bbpe, 0) AS n_bbpe,
        |  CASE WHEN n_bytes > 0
        |    THEN FLOOR(n_bbpe / n_bytes * 10000 + 0.5) / 10000
        |  END AS compression
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val mergeRows = graft.operators.BpeFit
        .fitBytes(s, bbpeWords(s, dir), bbpeMerges).collect()
      val tokd = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(regexp_extract_all(col("text"), lit(" ?[^ ]+"),
            lit(0))).as("word"))
      val segmented = mergeRows.sortBy(_.getLong(0))
        .foldLeft(graft.operators.BpeFit.delimitedBytes(col("word"))) {
          (c, m) =>
            val (l, r) = (m.getString(1), m.getString(2))
            call_function("replace", c,
              lit("|" + l + "||" + r + "|"), lit("|" + l + r + "|"))
        }
      val wn = tokd.select(col("word")).distinct()
        .select(col("word"),
          size(filter(split(segmented, "\\|\\|"), x => x =!= ""))
            .cast("long").as("n_sub"),
          length(encode(col("word"), "UTF-8")).cast("long").as("n_b"))
      val agg = tokd.join(wn, "word")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_b")).as("n_bytes"),
          sum(col("n_sub")).as("n_bbpe"))
      def r4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
      Tables.documents(s, dir).select(col("doc_id"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("n_bytes"), lit(0L)).as("n_bytes"),
          coalesce(col("n_bbpe"), lit(0L)).as("n_bbpe"),
          when(col("n_bytes") > 0, r4(col("n_bbpe") / col("n_bytes")))
            .as("compression"))
        .orderBy(col("doc_id"))
    }
  }

  /** Unigram-LM vocabulary target — small against the test corpus's
    * ~60-word dictionary head so pruning is actually exercised;
    * production fits target 32k-100k (still MB-scale driver state). */
  private val unigramVocab = 64

  /** Persisted unigram model sidecar (piece, logp_micro, p_micro),
    * one fit per documents source version — shared by the apply and
    * E-step queries (the graphIndexOf/spellIndexOf discipline). Key
    * suffix -p2 = the r16 format that publishes the 1e-9-grid
    * probability column next to the micro-nat log. */
  private[graft] def unigramModelOf(s: SparkSession, dir: String)
      : String = {
    val idx = Vectors.sidecarDir("unigram", dir)
    graft.operators.IndexLifecycle.buildOnce(idx,
      graft.operators.IndexLifecycle.sourceKey(
        s"$dir/documents.parquet", s"unigram-v$unigramVocab-p2")) { tmp =>
      graft.operators.UnigramFit
        .fit(s, bpeCappedWords(s, dir), unigramVocab)
        .coalesce(1).write.parquet(s"$tmp/model")
      ()
    }
    idx
  }

  /** FIT the unigram-LM tokenizer (Kudo 2018 — the SentencePiece
    * default, the probabilistic counterpart to tokenizer_bpe_fit):
    * word-frequency head capped exactly as the BPE fit (shared
    * bpeCappedWords — ONE corpus pass), then the in-process EM over
    * substring-candidate pieces with the final top-V cut; see
    * operators.UnigramFit for the determinism discipline. Published
    * model = (piece, logp_micro) — micro-nat quantized, the
    * quality_nb rule. Rows-only BY DESIGN: the E-step is a
    * forward-backward DP over each word's segmentation lattice
    * (recursive state, the chunk_recursive precedent); UnigramSpec
    * pins the EM arithmetic on a hand-computed fixture instead. */
  val unigramFit: Q = Q.rowsOnly("tokenizer_unigram_fit") { (s, dir) =>
    graft.operators.UnigramFit.fit(s, bpeCappedWords(s, dir), unigramVocab)
  }

  /** APPLY the fitted unigram tokenizer to the WHOLE corpus — the
    * distributed half, same shape as tokenizer_bpe_apply: the model
    * is a bounded broadcast table (≤ vocab + alphabet rows, persisted
    * once per source version under the unigram sidecar — the pq/ivf
    * frozen-model lifecycle, read back from the lake so build-run and
    * warm-run plans are identical), segmentation is computed once per
    * DISTINCT word (the dictionary-encode trick) via Viterbi in a
    * mapPartitions (a DP with no Catalyst expression form — the
    * Chunker rule), and corpus occurrences join the small word→n_sub
    * table. Output per doc mirrors bpe_apply: word count, piece
    * count, ratio (4dp).
    *
    * ORACLE-CHECKED (upgraded from rows-only): the fit's EM stays
    * rows-only (UnigramSpec pins it), but the APPLY replays the
    * Viterbi in DuckDB over the frozen sidecar model as a LINEAR
    * recursive CTE — one row per (word, position), each carrying the
    * last MaxPieceLen(=4) combined DP values as four columns (the
    * carried-window trick; the recursion joins only BASE CTEs, the
    * chunk_recursive lesson). The combined value score·TieK−pieces
    * makes the piece count tie-invariant: n_sub = mod(−v_n, TieK) on
    * both engines, no backtrack required. */
  val unigramApply: Q = {
    val k = graft.operators.UnigramFit.TieK
    val unk = graft.operators.UnigramFit.UnkMicro
    Q(
      "tokenizer_unigram_apply",
      s"""WITH RECURSIVE tokd AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
        |  FROM documents),
        |model AS (
        |  SELECT piece, logp_micro FROM read_parquet(
        |    '/tmp/graft_unigram/${Vectors.SfToken}/model/*.parquet')),
        |uw AS (SELECT DISTINCT word FROM tokd),
        |pl AS (
        |  SELECT word, e, l FROM (
        |    SELECT word, unnest(range(1, len(word) + 1)) AS e FROM uw),
        |    (SELECT unnest([1, 2, 3, 4]) AS l)
        |  WHERE l <= e),
        |edge AS (
        |  SELECT p.word, p.e, p.l,
        |    COALESCE(m.logp_micro,
        |      CASE WHEN p.l = 1 THEN ${unk} END) * ${k} - 1 AS c
        |  FROM pl p LEFT JOIN model m
        |    ON m.piece = substr(p.word, p.e - p.l + 1, p.l)
        |  WHERE m.piece IS NOT NULL OR p.l = 1),
        |dp(word, n, i, b1, b2, b3, b4) AS (
        |  SELECT word, len(word), 0, 0::BIGINT,
        |    NULL::BIGINT, NULL::BIGINT, NULL::BIGINT
        |  FROM uw
        |  UNION ALL
        |  SELECT d.word, d.n, d.i + 1,
        |    GREATEST(d.b1 + e1.c, d.b2 + e2.c, d.b3 + e3.c, d.b4 + e4.c),
        |    d.b1, d.b2, d.b3
        |  FROM dp d
        |  LEFT JOIN edge e1 ON e1.word = d.word AND e1.e = d.i + 1 AND e1.l = 1
        |  LEFT JOIN edge e2 ON e2.word = d.word AND e2.e = d.i + 1 AND e2.l = 2
        |  LEFT JOIN edge e3 ON e3.word = d.word AND e3.e = d.i + 1 AND e3.l = 3
        |  LEFT JOIN edge e4 ON e4.word = d.word AND e4.e = d.i + 1 AND e4.l = 4
        |  WHERE d.i < d.n),
        |wn AS (
        |  SELECT word, ((-b1) % ${k})::BIGINT AS n_sub
        |  FROM dp WHERE i = n),
        |agg AS (
        |  SELECT doc_id, COUNT(*)::BIGINT n_words,
        |    SUM(n_sub)::BIGINT n_pieces
        |  FROM tokd JOIN wn USING (word) GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(n_words, 0) AS n_words,
        |  COALESCE(n_pieces, 0) AS n_pieces,
        |  CASE WHEN n_words > 0
        |    THEN FLOOR(n_pieces / n_words * 10000 + 0.5) / 10000
        |  END AS unigram_ratio
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val idx = unigramModelOf(s, dir)
      val model = s.read.parquet(s"$idx/model")
        .select(col("piece"), col("logp_micro"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val bc = s.sparkContext.broadcast(model)
      val tokd = Tables.documents(s, dir)
        .select(col("doc_id"), explode(toks(col("text"))).as("word"))
      val wn = tokd.select(col("word")).distinct().as[String]
        .mapPartitions { it =>
          val m = bc.value
          it.map(w =>
            (w, graft.operators.UnigramFit.viterbi(w, m).length.toLong))
        }.toDF("word", "n_sub")
      val agg = tokd.join(wn, "word")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_pieces"))
      def r4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
      Tables.documents(s, dir).select(col("doc_id"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
          when(col("n_words") > 0, r4(col("n_pieces") / col("n_words")))
            .as("unigram_ratio"))
        .orderBy(col("doc_id"))
    }
  }

  /** ONE EM E-STEP over the frozen unigram model — the sufficient
    * statistic the next fit iteration consumes (expected piece
    * counts, Kudo 2018 §4.2), upgraded from the fit's rows-only
    * status to the HASH gate (r15 #5): per word of the capped fit
    * head (len ≤ 16 — the linear-space forward's disclosed domain),
    * forward-backward over the segmentation lattice gives each edge
    * posterior γ = α·p·β/Z; γ is floored onto the 1e-6 grid BEFORE
    * any cross-row sum, then weighted by word frequency — so every
    * reported number is exact integer arithmetic over bit-identical
    * doubles (integer p_micro inputs from the shared sidecar, fixed
    * term order, no exp() anywhere — see UnigramFit.estepCounts).
    * The oracle replays the recursion as two INDEPENDENT
    * carried-window linear recursive CTEs (forward from 0, backward
    * from n — each recurses only over base CTEs, the
    * chunk_recursive/unigram_apply lesson) joined on the edge table.
    *
    * Scale shape: the domain is the fit's own bounded word head
    * (≤ bpeVocabCap rows after ONE corpus pass), so the E-step is
    * O(head·len·maxLen) however big the corpus — exactly the
    * economics that let SentencePiece-style fits run on 100 TB:
    * corpus → bounded sufficient statistics → driver-side M-step. */
  val unigramEstep: Q = Q(
    "tokenizer_unigram_estep",
    s"""WITH RECURSIVE tokd AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
      |  FROM documents),
      |wf AS (
      |  SELECT word, COUNT(*)::BIGINT freq FROM tokd GROUP BY word
      |  ORDER BY freq DESC, word LIMIT $bpeVocabCap),
      |uw AS (SELECT word, freq FROM wf WHERE len(word) <= 16),
      |model AS (
      |  SELECT piece, p_micro FROM read_parquet(
      |    '/tmp/graft_unigram/${Vectors.SfToken}/model/*.parquet')),
      |pl AS (
      |  SELECT word, e, l FROM (
      |    SELECT word, unnest(range(1, len(word) + 1)) AS e FROM uw),
      |    (SELECT unnest([1, 2, 3, 4]) AS l)
      |  WHERE l <= e),
      |edge AS (
      |  SELECT p.word, p.e, p.l,
      |    COALESCE(m.p_micro,
      |      CASE WHEN p.l = 1
      |        THEN ${graft.operators.UnigramFit.UnkPMicro9} END)
      |      / 1000000000.0 AS p,
      |    substr(p.word, p.e - p.l + 1, p.l) AS piece
      |  FROM pl p LEFT JOIN model m
      |    ON m.piece = substr(p.word, p.e - p.l + 1, p.l)
      |  WHERE m.piece IS NOT NULL OR p.l = 1),
      |af(word, n, i, a0, a1, a2, a3) AS (
      |  SELECT word, len(word), 0, 1.0::DOUBLE,
      |    NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE
      |  FROM uw
      |  UNION ALL
      |  SELECT d.word, d.n, d.i + 1,
      |    COALESCE(e1.p * d.a0, 0) + COALESCE(e2.p * d.a1, 0)
      |      + COALESCE(e3.p * d.a2, 0) + COALESCE(e4.p * d.a3, 0),
      |    d.a0, d.a1, d.a2
      |  FROM af d
      |  LEFT JOIN edge e1 ON e1.word = d.word AND e1.e = d.i + 1 AND e1.l = 1
      |  LEFT JOIN edge e2 ON e2.word = d.word AND e2.e = d.i + 1 AND e2.l = 2
      |  LEFT JOIN edge e3 ON e3.word = d.word AND e3.e = d.i + 1 AND e3.l = 3
      |  LEFT JOIN edge e4 ON e4.word = d.word AND e4.e = d.i + 1 AND e4.l = 4
      |  WHERE d.i < d.n),
      |bt(word, n, i, b0, b1, b2, b3) AS (
      |  SELECT word, len(word), len(word), 1.0::DOUBLE,
      |    NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE
      |  FROM uw
      |  UNION ALL
      |  SELECT d.word, d.n, d.i - 1,
      |    COALESCE(e1.p * d.b0, 0) + COALESCE(e2.p * d.b1, 0)
      |      + COALESCE(e3.p * d.b2, 0) + COALESCE(e4.p * d.b3, 0),
      |    d.b0, d.b1, d.b2
      |  FROM bt d
      |  LEFT JOIN edge e1 ON e1.word = d.word AND e1.e = d.i AND e1.l = 1
      |  LEFT JOIN edge e2 ON e2.word = d.word AND e2.e = d.i + 1 AND e2.l = 2
      |  LEFT JOIN edge e3 ON e3.word = d.word AND e3.e = d.i + 2 AND e3.l = 3
      |  LEFT JOIN edge e4 ON e4.word = d.word AND e4.e = d.i + 3 AND e4.l = 4
      |  WHERE d.i > 0),
      |z AS (SELECT word, a0 AS z FROM af WHERE i = n),
      |g AS (
      |  SELECT e.word, e.piece,
      |    CAST(FLOOR(a.a0 * e.p * b.b0 / z.z * 1000000 + 0.5) AS BIGINT)
      |      AS gm
      |  FROM edge e
      |  JOIN af a ON a.word = e.word AND a.i = e.e - e.l
      |  JOIN bt b ON b.word = e.word AND b.i = e.e
      |  JOIN z ON z.word = e.word),
      |wp AS (
      |  SELECT word, piece, SUM(gm)::BIGINT s FROM g GROUP BY 1, 2)
      |SELECT piece, SUM(uw.freq * wp.s)::BIGINT AS ec_micro
      |FROM wp JOIN uw USING (word)
      |GROUP BY piece
      |ORDER BY piece""".stripMargin) { (s, dir) =>
    import s.implicits._
    val idx = unigramModelOf(s, dir)
    val model = s.read.parquet(s"$idx/model")
      .select(col("piece"), col("p_micro"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bc = s.sparkContext.broadcast(model)
    bpeCappedWords(s, dir)
      .filter(length(col("word")) <= 16)
      .as[(String, Long)]
      .mapPartitions { it =>
        val m = bc.value
        it.flatMap { case (w, f) =>
          graft.operators.UnigramFit.estepCounts(w, m)
            .map { case (p, gm) => (p, f * gm) }
        }
      }
      .toDF("piece", "c")
      .groupBy(col("piece"))
      .agg(sum(col("c")).as("ec_micro"))
      .orderBy(col("piece"))
  }

  /** SAMPLE a segmentation per word under subword regularization
    * (Kudo 2018 §3 — the unigram model's training-time use: each
    * epoch re-samples every word's parse ∝ its tempered lattice
    * probability, the augmentation BPE cannot express) and report it
    * against the Viterbi baseline per doc. The salt is the epoch
    * knob: same salt → identical corpus on any engine/cluster
    * (crash-rerun safe), next epoch's salt → a fresh draw. Same
    * distributed shape as unigram_apply: bounded broadcast model,
    * one FFBS + one Viterbi per DISTINCT word in a mapPartitions,
    * occurrences join the small per-word table. */
  val unigramSample: Q = Q.rowsOnly("tokenizer_unigram_sample") { (s, dir) =>
    import s.implicits._
    val model = graft.operators.UnigramFit
      .fit(s, bpeCappedWords(s, dir), unigramVocab)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bc = s.sparkContext.broadcast(model)
    val tokd = Tables.documents(s, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("word"))
    val wn = tokd.select(col("word")).distinct().as[String]
      .mapPartitions { it =>
        val m = bc.value
        it.map { w =>
          (w, graft.operators.UnigramFit.viterbi(w, m).length.toLong,
            graft.operators.UnigramFit
              .sampleSegmentation(w, m, alpha = 0.5, salt = "epoch0")
              .length.toLong)
        }
      }.toDF("word", "n_vit", "n_smp")
    Tables.documents(s, dir).select(col("doc_id"))
      .join(tokd.join(wn, "word").groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_vit")).as("n_pieces_viterbi"),
          sum(col("n_smp")).as("n_pieces_sampled")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces_viterbi"), lit(0L)).as("n_pieces_viterbi"),
        coalesce(col("n_pieces_sampled"), lit(0L)).as("n_pieces_sampled"))
      .orderBy(col("doc_id"))
  }

  /** Interpolated Kneser-Ney trigram perplexity (Kneser & Ney 1995;
    * Chen & Goodman 1999's interpolated form with fixed discount
    * D=0.75) — the KenLM-shape model CCNet actually filters with,
    * upgrading text_perplexity's add-one bigram: continuation
    * probabilities score how PRODUCTIVELY a word appears in new
    * contexts, the property that separates natural prose from
    * keyword-stuffed spam that add-one smoothing scores fluent.
    *
    * The three layers, all exact integer type/token counts:
    *   p_cont(w3)        = N1+(·w3) / N_bigram_types
    *   p(w3|w2)   = (max(N1+(·w2w3)−D,0) + D·t2(w2)·p_cont(w3)) / m2(w2)
    *   p(w3|w1w2) = (max(c3−D,0) + D·t12(w1w2)·p(w3|w2)) / c2(w1w2)
    * with t2/m2 the distinct-continuation/total type counts of the
    * middle layer and t12 the distinct continuations of the (w1,w2)
    * prefix. Each layer telescopes (Σ max(c−D,0) = total − D·types),
    * so every layer is a PROPER distribution — KneserNeySpec proves
    * Σ_w3 p(w3|w1,w2) = 1 on a fixture, the law mis-derived KN
    * variants break.
    *
    * Scale shape (the text_perplexity discipline): trigrams hash to
    * 8-byte keys before the first shuffle, the model tables are
    * map-side-combining groupBys over types, scoring is equi-joins of
    * the occurrence table against bounded per-key model rows, the
    * one global (bigram-type count) broadcasts as a 1-row frame.
    * Oracle parity: every probability is a fixed expression tree of
    * exact int64 counts and the 0.75 literal — identical IEEE
    * evaluation in both engines; the -ln sums land inside the 4dp
    * rounding (the bm25/perplexity precedent). Every scored trigram
    * occurs in the corpus (the model IS the corpus), so c3 ≥ 1 and
    * no denominator can be zero. */
  val knTrigram: Q = Q(
    "text_kneser_ney",
    """WITH tokv AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') ts
      |  FROM documents),
      |tg AS MATERIALIZED (
      |  SELECT doc_id, ts[i+1] w1, ts[i+2] w2, ts[i+3] w3
      |  FROM (SELECT doc_id, ts,
      |    unnest(range(0, greatest(len(ts) - 2, 0))) AS i FROM tokv)),
      |bgr AS MATERIALIZED (
      |  SELECT ts[i+1] v1, ts[i+2] v2
      |  FROM (SELECT ts,
      |    unnest(range(0, greatest(len(ts) - 1, 0))) AS i FROM tokv)),
      |c3t AS MATERIALIZED (
      |  SELECT w1, w2, w3, COUNT(*)::BIGINT c3 FROM tg GROUP BY 1, 2, 3),
      |c2t AS (
      |  SELECT w1, w2, SUM(c3)::BIGINT c2, COUNT(*)::BIGINT t12
      |  FROM c3t GROUP BY 1, 2),
      |n23t AS MATERIALIZED (
      |  SELECT w2, w3, COUNT(*)::BIGINT n23 FROM c3t GROUP BY 1, 2),
      |t2m AS (
      |  SELECT w2, COUNT(*)::BIGINT t2, SUM(n23)::BIGINT m2
      |  FROM n23t GROUP BY 1),
      |btyp AS MATERIALIZED (SELECT v1, v2 FROM bgr GROUP BY 1, 2),
      |n1w3t AS (
      |  SELECT v2 AS w3, COUNT(*)::BIGINT n1w3 FROM btyp GROUP BY 1),
      |nbt AS (SELECT COUNT(*)::BIGINT nbt FROM btyp),
      |sc AS (
      |  SELECT tg.doc_id, COUNT(*) n_tri,
      |    SUM(-ln((greatest(c3 - 0.75, 0.0) + 0.75 * t12 *
      |      ((greatest(n23 - 0.75, 0.0) + 0.75 * t2 * (n1w3 / nbt.nbt))
      |        / m2)) / c2)) nll
      |  FROM tg JOIN c3t USING (w1, w2, w3) JOIN c2t USING (w1, w2)
      |    JOIN n23t USING (w2, w3) JOIN t2m USING (w2)
      |    JOIN n1w3t USING (w3) CROSS JOIN nbt
      |  GROUP BY 1)
      |SELECT d.doc_id, COALESCE(n_tri, 0)::BIGINT AS n_trigrams,
      |  CASE WHEN n_tri > 0
      |    THEN FLOOR(nll / n_tri * 10000 + 0.5) / 10000 END AS avg_nll,
      |  CASE WHEN n_tri > 0
      |    THEN FLOOR(exp(nll / n_tri) * 10000 + 0.5) / 10000 END AS kn_ppl
      |FROM documents d LEFT JOIN sc USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    def r4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val t = Tables.documents(s, dir)
      .select(col("doc_id"), toks(col("text")).as("ts"))
    // hash every n-gram/word to an 8-byte key BEFORE the first
    // shuffle (the bigram_lm rule; collision odds at hashedShinglesOf)
    val w = split(col("g"), " ")
    val tg = t.select(col("doc_id"),
        explode(graft.functions.TextExprs.gramsN(col("ts"), 3)).as("g"))
      .select(col("doc_id"),
        xxhash64(substring_index(col("g"), " ", 2)).as("h12"),
        xxhash64(col("g")).as("h123"),
        xxhash64(w.getItem(1)).as("h2"),
        xxhash64(concat_ws(" ", w.getItem(1), w.getItem(2))).as("h23"),
        xxhash64(w.getItem(2)).as("h3"))
      .cache() // feeds the model aggregations and the scoring join
    val bgr = t.select(
        explode(graft.functions.TextExprs.gramsN(col("ts"), 2)).as("g"))
      .select(xxhash64(col("g")).as("hb"),
        xxhash64(split(col("g"), " ").getItem(1)).as("h3"))
    val c3t = tg.groupBy(col("h12"), col("h123"), col("h2"), col("h23"))
      .agg(count(lit(1)).as("c3"))
    val c2t = c3t.groupBy(col("h12"))
      .agg(sum(col("c3")).as("c2"), count(lit(1)).as("t12"))
    val n23t = c3t.groupBy(col("h2"), col("h23"))
      .agg(count(lit(1)).as("n23"))
    val t2m = n23t.groupBy(col("h2"))
      .agg(count(lit(1)).as("t2"), sum(col("n23")).as("m2"))
    val btyp = bgr.groupBy(col("hb"), col("h3")).agg(count(lit(1)).as("_c"))
    val n1w3t = btyp.groupBy(col("h3")).agg(count(lit(1)).as("n1w3"))
    val nbt = btyp.agg(count(lit(1)).as("nbt"))
    val pl3 = col("n1w3") / col("nbt")
    val mid = (greatest(col("n23") - lit(0.75), lit(0.0)) +
      lit(0.75) * col("t2") * pl3) / col("m2")
    val top = (greatest(col("c3") - lit(0.75), lit(0.0)) +
      lit(0.75) * col("t12") * mid) / col("c2")
    val sc = tg
      .join(c3t.select(col("h12"), col("h123"), col("c3")),
        Seq("h12", "h123"))
      .join(c2t, Seq("h12"))
      .join(n23t, Seq("h2", "h23"))
      .join(t2m, Seq("h2"))
      .join(n1w3t, Seq("h3"))
      .crossJoin(broadcast(nbt))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tri"), sum(-log(top)).as("nll"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tri"), lit(0L)).as("n_trigrams"),
        when(col("n_tri") > 0, r4(col("nll") / col("n_tri")))
          .as("avg_nll"),
        when(col("n_tri") > 0, r4(exp(col("nll") / col("n_tri"))))
          .as("kn_ppl"))
      .orderBy(col("doc_id"))
  }

  /** Flesch readability — the classic quality-band signal (Flesch
    * Reading Ease + Flesch-Kincaid grade level) a curation pipeline
    * thresholds alongside text_quality/text_entropy: too-easy AND
    * too-hard both correlate with junk (listicles / OCR noise).
    * Pure per-row expressions of exact integer counts — sentences =
    * terminator runs (min 1), words = the shared tokenizer, syllables
    * = vowel-group runs with consonant-only words floored at 1 (runs
    * never span words, so the whole-text run count equals the
    * per-word sum) — then the fixed-constant formulas, one expression
    * tree, identical IEEE evaluation in both engines, 4dp rounded.
    * Zero shuffles: this is a map over the scan. */
  val readability: Q = Q(
    "text_readability",
    """WITH t AS (
      |  SELECT doc_id,
      |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) n_words,
      |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) n_sent,
      |    len(regexp_extract_all(lower(text), '[aeiouy]+')) +
      |      len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
      |        w -> NOT regexp_matches(w, '[aeiouy]'))) n_syll
      |  FROM documents)
      |SELECT doc_id, n_words::BIGINT AS n_words, n_sent::BIGINT AS n_sent,
      |  n_syll::BIGINT AS n_syll,
      |  CASE WHEN n_words > 0 THEN
      |    FLOOR((206.835 - 1.015 * (n_words / n_sent)
      |      - 84.6 * (n_syll / n_words)) * 10000 + 0.5) / 10000
      |  END AS fre,
      |  CASE WHEN n_words > 0 THEN
      |    FLOOR((0.39 * (n_words / n_sent) + 11.8 * (n_syll / n_words)
      |      - 15.59) * 10000 + 0.5) / 10000
      |  END AS fk_grade
      |FROM t ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val lower = org.apache.spark.sql.functions.lower(col("text"))
    val nWords = size(toks(col("text"))).cast("long")
    val nSent = greatest(
      regexp_count(col("text"), lit("[.!?]+")), lit(1)).cast("long")
    val nSyll = (regexp_count(lower, lit("[aeiouy]+")) +
      size(filter(toks(col("text")), w => !w.rlike("[aeiouy]"))))
      .cast("long")
    def r4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    Tables.documents(s, dir)
      .select(col("doc_id"), nWords.as("n_words"), nSent.as("n_sent"),
        nSyll.as("n_syll"))
      .select(col("doc_id"), col("n_words"), col("n_sent"), col("n_syll"),
        when(col("n_words") > 0, r4(lit(206.835)
          - lit(1.015) * (col("n_words") / col("n_sent"))
          - lit(84.6) * (col("n_syll") / col("n_words")))).as("fre"),
        when(col("n_words") > 0, r4(
          lit(0.39) * (col("n_words") / col("n_sent"))
            + lit(11.8) * (col("n_syll") / col("n_words"))
            - lit(15.59))).as("fk_grade"))
      .orderBy(col("doc_id"))
  }

  /** WordPiece merge count — the tokenizer-family knob (see bpeMerges). */
  private val wpMerges = 8

  /** Shared oracle CTE chain for the WordPiece fit — bpeFitCtes with
    * the likelihood argmax: per step, wy$i freq-weighted symbol
    * counts, wq$i pair counts, wm$i the argmax on
    * `cnt::DOUBLE / (scnt_l * scnt_r)::DOUBLE` (one IEEE division of
    * exact int64s — identical in Spark; ties (score desc, l, r) in
    * binary order), u$i the delimited-string merge replace. */
  private def wpFitCtes: String = {
    val stages = (1 to wpMerges).map { i =>
      val prev = s"u${i - 1}"
      s"""wy$i AS (
        |  SELECT sym, SUM(freq)::BIGINT scnt FROM (
        |    SELECT freq, unnest(list_filter(string_split(s, '||'),
        |      x -> x <> '')) sym FROM $prev)
        |  GROUP BY 1),
        |wq$i AS (
        |  SELECT p[1] l, p[2] r, SUM(freq)::BIGINT cnt FROM (
        |    SELECT freq, unnest(list_transform(range(1, len(a)),
        |      i -> [a[i], a[i+1]])) p
        |    FROM (SELECT freq, list_filter(string_split(s, '||'),
        |      x -> x <> '') a FROM $prev))
        |  GROUP BY 1, 2),
        |wm$i AS MATERIALIZED (
        |  SELECT q.l, q.r, q.cnt FROM wq$i q
        |  JOIN wy$i yl ON yl.sym = q.l JOIN wy$i yr ON yr.sym = q.r
        |  ORDER BY q.cnt::DOUBLE / (yl.scnt::DOUBLE * yr.scnt::DOUBLE) DESC, q.l, q.r
        |  LIMIT 1),
        |u$i AS MATERIALIZED (
        |  SELECT replace($prev.s, '|' || m.l || '||' || m.r || '|',
        |    '|' || m.l || m.r || '|') s, freq
        |  FROM $prev CROSS JOIN wm$i m)""".stripMargin
    }.mkString(",\n")
    s"""tokd AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
      |  FROM documents),
      |wf AS (
      |  SELECT word, COUNT(*)::BIGINT freq FROM tokd GROUP BY word
      |  ORDER BY freq DESC, word LIMIT $bpeVocabCap),
      |u0 AS MATERIALIZED (
      |  SELECT '||' || regexp_replace(word, '(.)', '\\1||', 'g') ||
      |    '</w>||' AS s, freq FROM wf)""".stripMargin + ",\n" + stages
    // NOTE: interpolated into SQL strings that call .stripMargin
    // AGAIN — no line above may START with '|' (see bpeFitCtes)
  }

  /** WordPiece tokenizer FIT (operators.WordPieceFit — Schuster &
    * Nakajima 2012, the BERT vocabulary builder): BpeFit's exact
    * decomposition (ONE corpus pass for the capped word head, bounded
    * in-process merge loop) with the likelihood argmax — merge the
    * pair maximizing `cnt(l,r)/(cnt(l)·cnt(r))`, preferring
    * exclusively-co-occurring pairs over merely-frequent ones (step 2
    * of the spec fixture diverges from BPE's choice on the same
    * corpus). ORACLE-CHECKED by full unrolled replay: the score is
    * one correctly-rounded IEEE division of exact int64 counts, so
    * DuckDB's argmax row is bit-identical (ties (score desc, l, r)
    * in binary order). */
  val wordpieceFit: Q = {
    val union = (1 to wpMerges).map(i =>
      s"SELECT $i::BIGINT step, l AS left_sym, r AS right_sym, " +
        s"l || r AS merged, cnt FROM wm$i").mkString("\nUNION ALL\n")
    Q(
      "tokenizer_wordpiece_fit",
      s"""WITH $wpFitCtes
        |SELECT * FROM (
        |$union
        |) ORDER BY step""".stripMargin) { (s, dir) =>
      graft.operators.WordPieceFit.fit(s, bpeCappedWords(s, dir), wpMerges)
    }
  }

  /** APPLY the fitted WordPiece tokenizer corpus-wide via greedy
    * longest-match-first (BERT's MaxMatch) over `word + "</w>"` —
    * the third tokenizer-apply shape next to bpe_apply's replace
    * chain and unigram_apply's Viterbi: bounded vocab broadcast
    * (fixed [a-z0-9] alphabet + `</w>` + ≤ wpMerges fitted pieces),
    * segmentation once per DISTINCT word (dictionary-encode trick)
    * in a mapPartitions (a scan loop with no Catalyst form — the
    * Chunker rule), occurrences join the small word→n_sub table.
    * Output per doc mirrors bpe_apply: word count, piece count,
    * 4dp ratio.
    *
    * ORACLE-CHECKED — the first hash-gated greedy tokenizer apply:
    * the oracle replays MaxMatch as a recursive CTE whose step joins
    * the one piece matching at `pos` with no longer match (anti-join
    * on "a longer piece also matches here"); the fixed alphabet
    * guarantees total coverage so the recursion terminates with
    * exactly one row per word. */
  val wordpieceApply: Q = {
    val vocabUnion = (1 to wpMerges)
      .map(i => s"    UNION ALL SELECT l || r FROM wm$i").mkString("\n")
    Q(
      "tokenizer_wordpiece_apply",
      s"""WITH RECURSIVE $wpFitCtes,
        |vocab AS MATERIALIZED (
        |  SELECT DISTINCT piece FROM (
        |    SELECT chr(i::INTEGER) piece FROM range(97, 123) t(i)
        |    UNION ALL SELECT chr(i::INTEGER) FROM range(48, 58) t(i)
        |    UNION ALL SELECT '</w>'
        |$vocabUnion)),
        |aw AS (SELECT DISTINCT word FROM tokd),
        |seg AS (
        |  SELECT word, word || '</w>' AS s, 1 AS pos,
        |    CAST(0 AS BIGINT) AS n FROM aw
        |  UNION ALL
        |  SELECT seg.word, seg.s, seg.pos + len(v.piece), seg.n + 1
        |  FROM seg JOIN vocab v
        |    ON substr(seg.s, seg.pos, len(v.piece)) = v.piece
        |  WHERE seg.pos <= len(seg.s)
        |    AND NOT EXISTS (
        |      SELECT 1 FROM vocab v2
        |      WHERE len(v2.piece) > len(v.piece)
        |        AND substr(seg.s, seg.pos, len(v2.piece)) = v2.piece)),
        |wn AS (SELECT word, n AS n_sub FROM seg WHERE pos > len(s)),
        |agg AS (
        |  SELECT doc_id, COUNT(*)::BIGINT n_words, SUM(n_sub)::BIGINT n_wp
        |  FROM tokd JOIN wn USING (word) GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(n_words, 0) AS n_words,
        |  COALESCE(n_wp, 0) AS n_wp,
        |  CASE WHEN n_words > 0
        |    THEN FLOOR(n_wp / n_words * 10000 + 0.5) / 10000 END AS wp_ratio
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val mergeRows = graft.operators.WordPieceFit
        .fit(s, bpeCappedWords(s, dir), wpMerges).collect()
      val vocab = graft.operators.WordPieceFit
        .vocabulary(mergeRows.map(_.getString(3)).toSeq)
      wordpieceStatsFrom(s, Tables.documents(s, dir), vocab)
        .orderBy(col("doc_id"))
    }
  }

  /** Per-doc WordPiece stats over ANY (doc_id, text) frame with a
    * given vocabulary — the dataflow wordpieceApply registers and
    * StreamOps.tokenizeIngest serves per micro-batch from the
    * persisted TokenizerIndex model (the nbScoredFrom pattern: one
    * shared implementation so batch and stream cannot drift). */
  private[graft] def wordpieceStatsFrom(s: SparkSession, docs: DataFrame,
      vocab: Set[String]): DataFrame = {
    import s.implicits._
    val maxLen = vocab.map(_.length).max
    val bc = s.sparkContext.broadcast((vocab, maxLen))
    val tokd = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("word"))
    val wn = tokd.select(col("word")).distinct().as[String]
      .mapPartitions { it =>
        val (v, ml) = bc.value
        it.map(w =>
          (w, graft.operators.WordPieceFit.greedyPieces(w, v, ml)))
      }.toDF("word", "n_sub")
    val agg = tokd.join(wn, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_wp"))
    def r4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    docs.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_wp"), lit(0L)).as("n_wp"),
        when(col("n_words") > 0, r4(col("n_wp") / col("n_words")))
          .as("wp_ratio"))
  }

  /** UTF-8 tokenizer over a NON-ASCII corpus variant: the documents
    * text with vowels/s/N translated into accented Latin + Cyrillic
    * (the multilingual shape a real crawl has), tokenized by the
    * codegen'd Unicode kernel (functions.Tokenize.splitUnicode — the
    * \p{L}\p{N} twin of the ASCII fast path; KernelProps pins the
    * regex-parity law over generated multilingual input). The oracle
    * replays the same translate + lower + \p{L}\p{N} extraction in
    * DuckDB (RE2 is UTF-8 native), so Unicode lowercasing, letter
    * classification, and run segmentation are all hash-gated; n_alnum
    * cross-checks via an independent regexp_replace path. */
  val tokensUnicode: Q = Q(
    "text_tokens_unicode",
    """WITH t AS (
      |  SELECT doc_id,
      |    translate(text, 'aeiosAEION', 'áéíóшÁÉÍÓЙ') AS tr
      |  FROM documents)
      |SELECT doc_id,
      |  len(regexp_extract_all(lower(tr), '[\p{L}\p{N}]+')) AS n_tokens,
      |  len(list_distinct(regexp_extract_all(lower(tr), '[\p{L}\p{N}]+'))) AS n_distinct,
      |  len(regexp_replace(lower(tr), '[^\p{L}\p{N}]', '', 'g')) AS n_alnum
      |FROM t ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val tr = translate(col("text"), "aeiosAEION", "áéíóшÁÉÍÓЙ")
    val toksU = graft.functions.TextExprs.tokensUnicode(tr)
    Tables.documents(s, dir).select(
      col("doc_id"),
      size(toksU).as("n_tokens"),
      size(array_distinct(toksU)).as("n_distinct"),
      length(regexp_replace(lower(tr), "[^\\p{L}\\p{N}]", "")).as("n_alnum"))
      .orderBy(col("doc_id"))
  }

  /** Character-entropy quality signal — the distributional
    * complement of text_repetition's positional n-gram rule: a doc of
    * repeated padding or a single stuck byte collapses to near-zero
    * Shannon entropy, encrypted/binary-garbage blobs max it out, and
    * natural language sits in a stable mid band a filtering pipeline
    * thresholds on from both sides (the CCNet/Gopher-family heuristic
    * text_quality's length/stopword ratios cannot see).
    *
    * H = ln(n) − (Σ cᵢ·ln cᵢ)/n over per-character counts — computed
    * from integer counts so the only float work is one ln per
    * DISTINCT character and the final combine. Plan: one scan, two
    * partial-aggregating groupBys ((doc, char) then doc — per-doc
    * state is the doc's alphabet, bounded by charset size), no joins
    * wider than the doc list. Same-sign ln sums land inside the 4dp
    * output rounding on both engines (retrieval_bm25 precedent). */
  val entropy: Q = Q(
    "text_entropy",
    """WITH ch AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) c
      |  FROM documents),
      |cc AS (SELECT doc_id, c, COUNT(*) cnt FROM ch GROUP BY 1, 2),
      |sc AS (
      |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) n,
      |    COUNT(*) distinct_chars, SUM(cnt * ln(cnt)) s
      |  FROM cc GROUP BY 1)
      |SELECT d.doc_id, COALESCE(n, 0) AS n_chars,
      |  COALESCE(distinct_chars, 0) AS distinct_chars,
      |  CASE WHEN n > 0
      |    THEN FLOOR((ln(n) - s / n) * 10000 + 0.5) / 10000 END AS entropy
      |FROM documents d LEFT JOIN sc USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    def r4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val cc = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit("(?s)."), lit(0)))
          .as("c"))
      .groupBy(col("doc_id"), col("c")).agg(count(lit(1)).as("cnt"))
    val sc = cc.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n"), count(lit(1)).as("distinct_chars"),
        sum(col("cnt") * log(col("cnt"))).as("s"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).as("n_chars"),
        coalesce(col("distinct_chars"), lit(0L)).as("distinct_chars"),
        when(col("n") > 0, r4(log(col("n")) - col("s") / col("n")))
          .as("entropy"))
      .orderBy(col("doc_id"))
  }

  /** Vocabulary coverage / out-of-vocabulary rate — the tokenizer-fit
    * signal a pipeline reads before committing to a vocab (high OOV =
    * the corpus slice doesn't match the tokenizer's training
    * distribution) and a cheap domain-shift detector after. Vocab =
    * terms with corpus frequency ≥ 0.1% of total tokens, compared as
    * `c * 1000 >= total` — integer-exact in both engines and
    * SCALE-FREE (an absolute cutoff would silently reclassify terms
    * as the corpus grows). Plan: one token scan feeds both the vocab
    * aggregate and the coverage join; the vocab frame is bounded by
    * the frequency floor (≤ 1000 terms by construction) so it
    * broadcasts; per-doc rates are one int/int double division. */
  val oov: Q = Q(
    "text_oov",
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) t
      |  FROM documents),
      |tot AS (SELECT COUNT(*)::BIGINT n FROM tok),
      |v AS (
      |  SELECT t FROM tok CROSS JOIN tot
      |  GROUP BY t, tot.n HAVING COUNT(*) * 1000 >= tot.n)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_oov,
      |  CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) AS oov_rate
      |FROM tok LEFT JOIN v ON tok.t = v.t
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("t"))
    val vocab = tok.groupBy(col("t")).agg(count(lit(1)).as("c"))
      .join(broadcast(tok.agg(count(lit(1)).as("n"))))
      .filter(col("c") * 1000 >= col("n"))
      .select(col("t"), lit(true).as("_inv"))
    tok.join(broadcast(vocab), Seq("t"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** PMI-ranked collocations — the phrase-mining pass (Mikolov-style
    * word2phrase, AutoPhrase's scoring core) a tokenizer-vocabulary
    * pipeline runs to promote "new york"-style units before fitting.
    * PMI = ln(n_xy·N / (n_x·n_y)) over EXACT integer counts (the
    * double formula is one fixed expression, so engines agree
    * bit-for-bit), min support 5, global top-20 by (PMI, w1, w2).
    * Plan shape at 100 TB: one tokenize pass feeds both count tables
    * (map-side combining); the scoring join is on the AGGREGATED
    * bigram vocabulary, not the corpus; the global top-20 is
    * TakeOrderedAndProject — per-partition partial top-k, never a
    * full sort. */
  val collocations: Q = Q(
    "text_collocations",
    """WITH tokv AS (
      |  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') ts
      |  FROM documents),
      |un AS (
      |  SELECT w, COUNT(*) AS n
      |  FROM (SELECT unnest(ts) AS w FROM tokv) GROUP BY 1),
      |bg AS (
      |  SELECT w1, w2, COUNT(*) AS n_xy FROM (
      |    SELECT ts[i+1] AS w1, ts[i+2] AS w2
      |    FROM (SELECT ts, unnest(range(0, greatest(len(ts) - 1, 0))) AS i
      |      FROM tokv)) GROUP BY 1, 2),
      |nn AS (SELECT SUM(n_xy)::BIGINT AS nb FROM bg)
      |SELECT w1, w2, n_xy,
      |  ROUND(LN((CAST(n_xy AS DOUBLE) * nb)
      |    / (CAST(a.n AS DOUBLE) * b.n)), 6) + 0 AS pmi
      |FROM bg JOIN un a ON bg.w1 = a.w JOIN un b ON bg.w2 = b.w
      |CROSS JOIN nn
      |WHERE n_xy >= 5
      |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin) { (s, dir) =>
    val t = Tables.documents(s, dir).select(toks(col("text")).as("ts"))
    val un = t.select(explode(col("ts")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val bg = t.select(explode(
        graft.functions.TextExprs.gramsN(col("ts"), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("n_xy"))
      .select(split(col("g"), " ").getItem(0).as("w1"),
        split(col("g"), " ").getItem(1).as("w2"), col("n_xy"))
    val nb = bg.agg(sum(col("n_xy")).as("nb"))
    bg.join(un.select(col("w").as("w1"), col("n").as("na")), Seq("w1"))
      .join(un.select(col("w").as("w2"), col("n").as("nbb")), Seq("w2"))
      .crossJoin(broadcast(nb))
      .filter(col("n_xy") >= 5)
      .select(col("w1"), col("w2"), col("n_xy"),
        (round(log((col("n_xy").cast("double") * col("nb"))
          / (col("na").cast("double") * col("nbb"))), 6) + 0).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** TextRank keyword extraction (Mihalcea & Tarau '04): PageRank
    * over the word co-occurrence graph — adjacent-token pairs are
    * undirected weighted edges, 3 unrolled damped iterations (the
    * events_pagerank discipline), top-20 words by final score.
    * Content filter = length ≥ 4 (the deterministic stand-in for the
    * paper's POS filter — no tagger in scope).
    *
    * Float discipline: there are NO floats. Scores live in integer
    * MICRO-units (score₀ = 1e6) and the damped neighbor sum is pure
    * int64 arithmetic — d = 0.85 = 17/20, so one contribution is
    * (17·score(u)·w(u,v)) DIV (20·S(u)) with S(u) the integer
    * incident weight; per-node sums are exact integer sums,
    * order-independent under partial aggregation, hash-identical in
    * DuckDB (the quality_nb micro-nat rule applied to graph
    * iteration). Scale: ONE corpus pass builds the weighted edge
    * list; every iteration runs on the vocabulary-bounded edge frame
    * (iteration cost independent of corpus size). */
  val keywords: Q = Q(
    "text_keywords",
    """WITH tokv AS (
      |  SELECT list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
      |    x -> len(x) >= 4) AS ts
      |  FROM documents),
      |bg AS (
      |  SELECT w1, w2, COUNT(*) AS c FROM (
      |    SELECT ts[i+1] AS w1, ts[i+2] AS w2
      |    FROM (SELECT ts, unnest(range(0, greatest(len(ts) - 1, 0))) AS i
      |      FROM tokv)) WHERE w1 <> w2 GROUP BY 1, 2),
      |edges AS (
      |  SELECT u, v, SUM(c)::BIGINT AS w FROM (
      |    SELECT w1 AS u, w2 AS v, c FROM bg
      |    UNION ALL SELECT w2 AS u, w1 AS v, c FROM bg)
      |  GROUP BY 1, 2),
      |su AS (SELECT u, SUM(w)::BIGINT AS s FROM edges GROUP BY 1),
      |it1 AS (
      |  SELECT e.v AS n, 150000 + SUM(
      |    (17 * 1000000 * e.w) // (20 * su.s))::BIGINT AS sc
      |  FROM edges e JOIN su ON e.u = su.u GROUP BY 1),
      |it2 AS (
      |  SELECT e.v AS n, 150000 + SUM(
      |    (17 * it1.sc * e.w) // (20 * su.s))::BIGINT AS sc
      |  FROM edges e JOIN su ON e.u = su.u
      |  JOIN it1 ON e.u = it1.n GROUP BY 1),
      |it3 AS (
      |  SELECT e.v AS n, 150000 + SUM(
      |    (17 * it2.sc * e.w) // (20 * su.s))::BIGINT AS sc
      |  FROM edges e JOIN su ON e.u = su.u
      |  JOIN it2 ON e.u = it2.n GROUP BY 1)
      |SELECT n AS word, sc AS score_micro
      |FROM it3 ORDER BY sc DESC, word LIMIT 20""".stripMargin) { (s, dir) =>
    val t = Tables.documents(s, dir)
      .select(filter(toks(col("text")), w => length(w) >= 4).as("ts"))
    val bg = t.select(explode(
        graft.functions.TextExprs.gramsN(col("ts"), 2)).as("g"))
      .select(split(col("g"), " ").getItem(0).as("w1"),
        split(col("g"), " ").getItem(1).as("w2"))
      .filter(col("w1") =!= col("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val edges = bg.select(col("w1").as("u"), col("w2").as("v"), col("c"))
      .unionAll(bg.select(col("w2").as("u"), col("w1").as("v"), col("c")))
      .groupBy("u", "v").agg(sum(col("c")).as("w"))
      .cache()
    val su = edges.groupBy("u").agg(sum(col("w")).as("s"))
    val es = edges.join(su, "u").cache()
    def step(prev: DataFrame): DataFrame =
      es.join(prev.withColumnRenamed("n", "u"), "u")
        .groupBy(col("v"))
        .agg((lit(150000L) +
          sum(expr("(17 * sc * w) div (20 * s)"))).as("sc"))
        .withColumnRenamed("v", "n")
    val it1 = es.groupBy(col("v"))
      .agg((lit(150000L) +
        sum(expr("(17 * 1000000 * w) div (20 * s)"))).as("sc"))
      .withColumnRenamed("v", "n")
    val it3 = step(step(it1))
    it3.select(col("n").as("word"), col("sc").as("score_micro"))
      .orderBy(col("score_micro").desc, col("word"))
      .limit(20)
  }

  /** SymSpell-style spelling correction (Garbe's deletion-neighborhood
    * discipline) — the corpus-cleaning pass that folds rare typos onto
    * vocabulary words: vocab = tokens with tf ≥ 5, OOV = the rest, and
    * a candidate pair exists when an OOV token and a vocab word SHARE
    * a form reachable by ≤1 character deletion from each side (the
    * SymSpell edit-1 candidate rule, stated as the semantics). Pick =
    * highest-tf candidate, ties to the lexicographically smallest.
    *
    * The scale story is the dedup story on the edit-distance metric:
    * candidates come from an EQUI-join on deletion forms — each word
    * expands to len+1 forms (len ≤ 16 cap, disclosed), so the join is
    * O(corpus · len), never the all-pairs O(vocab · oov) edit-distance
    * matrix. Everything is strings + exact integer tf.
    *
    * The synthetic corpus has zero OOV tokens (31 words, tf ≥ 26), so
    * the gate PLANTS typos derived from the corpus itself (the
    * text_langid_cjk planted-extension rule): each distinct token of
    * length ≥ 6 contributes one singleton typo — its 3rd character
    * deleted — unioned identically in both engines, so every decision
    * branch (OOV split, form join, tf-argmax, lexicographic tie) runs
    * under the hash. */
  val spellCorrect: Q = Q(
    "text_spell_correct",
    """WITH toks AS (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents),
      |planted AS (
      |  SELECT DISTINCT substr(w, 1, 2) || substr(w, 4, len(w)) AS w
      |  FROM toks WHERE len(w) >= 6),
      |tf AS (
      |  SELECT w, COUNT(*) AS n FROM (
      |    SELECT w FROM toks UNION ALL SELECT w FROM planted) u
      |  GROUP BY 1),
      |vocab AS (SELECT w, n FROM tf WHERE n >= 5),
      |oov AS (SELECT w FROM tf WHERE n < 5 AND len(w) <= 16),
      |vf AS (
      |  SELECT w, n, unnest(list_distinct(list_transform(
      |    range(0, len(w) + 1),
      |    i -> CASE WHEN i = 0 THEN w
      |         ELSE substr(w, 1, i - 1) || substr(w, i + 1, len(w)) END)))
      |    AS form
      |  FROM vocab WHERE len(w) <= 16),
      |of AS (
      |  SELECT w, unnest(list_distinct(list_transform(
      |    range(0, len(w) + 1),
      |    i -> CASE WHEN i = 0 THEN w
      |         ELSE substr(w, 1, i - 1) || substr(w, i + 1, len(w)) END)))
      |    AS form
      |  FROM oov),
      |cand AS (
      |  SELECT DISTINCT of.w AS oov_w, vf.w AS fix, vf.n
      |  FROM of JOIN vf USING (form)),
      |best_n AS (
      |  SELECT oov_w, MAX(n) AS n FROM cand GROUP BY 1)
      |SELECT c.oov_w AS token, MIN(c.fix) AS correction, b.n AS tf
      |FROM cand c JOIN best_n b ON c.oov_w = b.oov_w AND c.n = b.n
      |GROUP BY c.oov_w, b.n
      |ORDER BY token""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir)
      .select(explode(toks(col("text"))).as("w"))
    val planted = base.filter(length(col("w")) >= 6)
      .select(concat(col("w").substr(1, 2),
        col("w").substr(lit(4), length(col("w")))).as("w"))
      .distinct()
    val tf = base.unionAll(planted)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .cache()
    def forms(df: DataFrame): DataFrame =
      df.withColumn("form", explode(array_distinct(transform(
          sequence(lit(0), length(col("w"))),
          i => when(i === 0, col("w")).otherwise(
            concat(col("w").substr(lit(1), (i - 1).cast("int")),
              col("w").substr((i + 1).cast("int"), length(col("w")))))))))
    val vf = forms(tf.filter(col("n") >= 5 && length(col("w")) <= 16))
      .select(col("w").as("fix"), col("n"), col("form"))
    val of = forms(tf.filter(col("n") < 5 && length(col("w")) <= 16)
        .select(col("w")))
      .select(col("w").as("oov_w"), col("form"))
    val cand = of.join(vf, "form")
      .select(col("oov_w"), col("fix"), col("n")).distinct().cache()
    val bestN = cand.groupBy("oov_w").agg(max(col("n")).as("n"))
    cand.join(bestN, Seq("oov_w", "n"))
      .groupBy(col("oov_w"), col("n"))
      .agg(min(col("fix")).as("correction"))
      .select(col("oov_w").as("token"), col("correction"),
        col("n").as("tf"))
      .orderBy(col("token"))
  }

  /** The ≤1-deletion form set of the `w` column (the SymSpell
    * neighborhood) — shared by the registered query, the index fit,
    * and the streaming server so the three can never drift. */
  private[graft] def spellFormsOf(df: DataFrame): DataFrame =
    df.withColumn("form", explode(array_distinct(transform(
      sequence(lit(0), length(col("w"))),
      i => when(i === 0, col("w")).otherwise(
        concat(col("w").substr(lit(1), (i - 1).cast("int")),
          col("w").substr((i + 1).cast("int"), length(col("w")))))))))

  /** Persisted spell index (the nbModelOf discipline: fit is a
    * nightly batch job, serving never refits): vocab (tf ≥ 5, len ≤
    * 16) and its deletion-form table. */
  private[graft] def spellIndexOf(s: SparkSession, dir: String): String = {
    val idx = graft.queries.Vectors.sidecarDir("spell", dir)
    graft.operators.IndexLifecycle.buildOnce(idx,
      graft.operators.IndexLifecycle.sourceKey(
        s"$dir/documents.parquet", "spell-tf5-len16-del1")) { tmp =>
      val tf = Tables.documents(s, dir)
        .select(explode(toks(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
      val vocab = tf.filter(col("n") >= 5 && length(col("w")) <= 16)
        .cache()
      vocab.coalesce(1).write.parquet(s"$tmp/vocab")
      spellFormsOf(vocab)
        .select(col("w").as("fix"), col("n"), col("form"))
        .coalesce(1).write.parquet(s"$tmp/forms")
      vocab.unpersist()
      ()
    }
    idx
  }

  /** Corrections for a token frame against the PERSISTED index — the
    * serving dataflow (batch OOV split, form equi-join, tf-argmax,
    * lexicographic tie): O(batch·len) against broadcastable vocab
    * state, shared verbatim by the streaming per-micro-batch
    * corrector. */
  private[graft] def spellCorrectionsFrom(s: SparkSession, idx: String,
      tokens: DataFrame): DataFrame = {
    val vocab = s.read.parquet(s"$idx/vocab")
    val vf = s.read.parquet(s"$idx/forms")
    val oov = tokens.select(col("w")).distinct()
      .join(vocab.select("w"), Seq("w"), "left_anti")
      .filter(length(col("w")) <= 16)
    // NO .cache() here: this dataflow runs once per micro-batch in a
    // long-lived stream, where per-epoch caches accumulate without an
    // owner to unpersist them — the double compute of a batch-sized
    // candidate frame is the cheaper side of that trade
    val cand = spellFormsOf(oov).select(col("w").as("oov_w"), col("form"))
      .join(vf, "form")
      .select(col("oov_w"), col("fix"), col("n")).distinct()
    val bestN = cand.groupBy("oov_w").agg(max(col("n")).as("n"))
    cand.join(bestN, Seq("oov_w", "n"))
      .groupBy(col("oov_w"), col("n"))
      .agg(min(col("fix")).as("correction"))
      .select(col("oov_w").as("token"), col("correction"),
        col("n").as("tf"))
  }

  /** Per-source domain-shift screen: Jensen–Shannon divergence of
    * each source's unigram distribution against the whole corpus —
    * the standard "did this slice drift from the mix" signal a
    * multi-source training pipeline monitors (symmetric, bounded
    * [0, ln 2], defined when a term is absent from the slice: the
    * p·ln(p/m) term vanishes by the x·ln x → 0 convention, kept
    * explicitly as a CASE). Scale shape: one token scan → (source,
    * term) counts; the term grid is (sources × vocab)-bounded — this
    * corpus' vocab is tiny and a real one is ≤ the tokenizer vocab —
    * so the divergence fold is a bounded agg after one corpus-sized
    * shuffle. Float ln sums print on the 4dp floor grid (the bm25
    * family's accepted class). */
  val jsd: Q = Q(
    "text_jsd",
    """WITH tok AS (
      |  SELECT source, unnest(regexp_extract_all(lower(text),
      |    '[a-z0-9]+')) AS t
      |  FROM documents),
      |cnt AS (SELECT source, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      |ns AS (
      |  SELECT source, CAST(SUM(c) AS DOUBLE) AS n FROM cnt GROUP BY 1),
      |tot AS (SELECT t, CAST(SUM(c) AS DOUBLE) AS ct FROM cnt GROUP BY 1),
      |nt AS (SELECT CAST(SUM(c) AS DOUBLE) AS nt FROM cnt),
      |grid AS (
      |  SELECT ns.source, tot.t, ns.n, tot.ct, nt.nt,
      |    CAST(COALESCE(cnt.c, 0) AS DOUBLE) AS cs
      |  FROM ns CROSS JOIN tot CROSS JOIN nt
      |  LEFT JOIN cnt ON cnt.source = ns.source AND cnt.t = tot.t),
      |term AS (
      |  SELECT source,
      |    CASE WHEN cs = 0
      |      THEN 0.5 * (ct / nt)
      |        * ln((ct / nt) / ((cs / n + ct / nt) / 2))
      |      ELSE 0.5 * (cs / n)
      |        * ln((cs / n) / ((cs / n + ct / nt) / 2))
      |        + 0.5 * (ct / nt)
      |        * ln((ct / nt) / ((cs / n + ct / nt) / 2)) END AS contrib,
      |    CASE WHEN cs > 0 THEN 1 ELSE 0 END AS present
      |  FROM grid)
      |SELECT source,
      |  CAST(SUM(present) AS BIGINT) AS n_terms,
      |  FLOOR(SUM(contrib) * 10000 + 0.5) / 10000 AS jsd
      |FROM term GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val tok = Tables.documents(s, dir)
      .select(col("source"), explode(toks(col("text"))).as("t"))
    val cnt = tok.groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("c"))
      .cache()
    val ns = cnt.groupBy(col("source"))
      .agg(sum(col("c")).cast("double").as("n"))
    val tot = cnt.groupBy(col("t"))
      .agg(sum(col("c")).cast("double").as("ct"))
    val nt = cnt.agg(sum(col("c")).cast("double").as("nt"))
    val grid = broadcast(ns).crossJoin(broadcast(tot))
      .crossJoin(broadcast(nt))
      .join(cnt, Seq("source", "t"), "left")
      .select(col("source"), col("n"), col("ct"), col("nt"),
        coalesce(col("c"), lit(0L)).cast("double").as("cs"))
    val p = col("cs") / col("n")
    val q = col("ct") / col("nt")
    val m = (p + q) / 2
    val contrib = when(col("cs") === 0, lit(0.5) * q * log(q / m))
      .otherwise(lit(0.5) * p * log(p / m) + lit(0.5) * q * log(q / m))
    grid.select(col("source"), contrib.as("contrib"),
        when(col("cs") > 0, 1L).otherwise(0L).as("present"))
      .groupBy(col("source"))
      .agg(sum(col("present")).as("n_terms"),
        (floor(sum(col("contrib")) * 10000 + 0.5) / 10000).as("jsd"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------
  // Zipf fit over the frequency head
  // ---------------------------------------------------------------

  /** Zipf's-law fit over the corpus frequency head: OLS of ln(freq)
    * on ln(rank) over the top-100 terms — the one-number
    * "does this corpus look like natural language?" screen (natural
    * prose slopes ≈ −1; template/boilerplate corpora flatten, spam
    * vocabularies steepen) next to text_entropy's character-level
    * version. Head selection is EXACT and deterministic (freq desc,
    * term asc — the q_topk_global tie discipline); ranks are the
    * 1..100 positions of that head, so the regression runs over a
    * FIXED 100-point frame whatever the corpus. Float discipline:
    * ln sums over the bounded head print at 4dp (the bm25/jsd
    * accepted class); slope/intercept are fixed expressions over
    * those sums.
    *
    * Scale shape: ONE map-side-combining term count (the corpus-sized
    * pass), a global top-100 (TakeOrderedAndProject — O(k) per
    * partition, no global sort), then 100-row arithmetic. */
  val zipf: Q = Q(
    "text_zipf",
    """WITH tokd AS (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
      |    AS word
      |  FROM documents),
      |tf AS (
      |  SELECT word, COUNT(*)::BIGINT AS f FROM tokd GROUP BY 1
      |  ORDER BY f DESC, word LIMIT 100),
      |rk AS (
      |  SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, word) AS rn
      |  FROM tf),
      |pt AS (SELECT LN(CAST(rn AS DOUBLE)) AS x,
      |  LN(CAST(f AS DOUBLE)) AS y FROM rk),
      |s AS (
      |  SELECT COUNT(*)::BIGINT AS k, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * y) AS sxy, SUM(x * x) AS sxx
      |  FROM pt)
      |SELECT k,
      |  ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 4) + 0 AS slope,
      |  ROUND((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k,
      |    4) + 0 AS intercept
      |FROM s""".stripMargin) { (s, dir) =>
    val tf = Tables.documents(s, dir)
      .select(explode(toks(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("word")).limit(100)
    // bounded band: exactly the 100-term head ranks here
    val rk = tf.select(col("f"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("f").desc, col("word"))).cast("long").as("rn"))
    val pt = rk.select(log(col("rn").cast("double")).as("x"),
      log(col("f").cast("double")).as("y"))
    val st = pt.agg(count(lit(1)).as("k"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val slope = (col("k") * col("sxy") - col("sx") * col("sy")) /
      (col("k") * col("sxx") - col("sx") * col("sx"))
    st.select(col("k"),
      (round(slope, 4) + 0).as("slope"),
      (round((col("sy") - slope * col("sx")) / col("k"), 4) + 0)
        .as("intercept"))
  }

  /** TOKENIZER SELECTION REPORT — the quartet (char-BPE, byte-BPE,
    * WordPiece, unigram-LM) compared on the corpus they'd tokenize:
    * total words, total pieces, and fertility (pieces per word, the
    * number a tokenizer bake-off actually decides on — lower = fewer
    * tokens per document = cheaper training). Each family's counts
    * come from ITS OWN registered apply dataflow (.run on the Spark
    * side, the apply oracle embedded verbatim on the DuckDB side —
    * the pipeline_e2e composition discipline), so this row both
    * publishes the comparison AND re-proves the four applies under
    * one more hash. byte_bpe's word domain is its own space-attached
    * pre-tokens (disclosed — its fertility is pieces per pre-token);
    * the other three share the [a-z0-9]+ domain. Fertility is ONE
    * grid division of exact int64 sums (floor 4dp).
    *
    * Scale shape: four independent apply passes (each one corpus
    * pass against its bounded broadcast model) reduced by map-side
    * global sums — the report costs no more than the applies it
    * audits. */
  val tokenizerEval: Q = Q(
    "tokenizer_eval",
    s"""WITH b AS (
      |  SELECT SUM(n_words)::BIGINT w, SUM(n_bpe)::BIGINT p
      |  FROM (${bpeApply.oracle.get})),
      |bb AS (
      |  SELECT SUM(n_words)::BIGINT w, SUM(n_bbpe)::BIGINT p
      |  FROM (${bbpeApply.oracle.get})),
      |wpx AS (
      |  SELECT SUM(n_words)::BIGINT w, SUM(n_wp)::BIGINT p
      |  FROM (${wordpieceApply.oracle.get})),
      |ug AS (
      |  SELECT SUM(n_words)::BIGINT w, SUM(n_pieces)::BIGINT p
      |  FROM (${unigramApply.oracle.get})),
      |u AS (
      |  SELECT 'bpe' AS tokenizer, w, p FROM b
      |  UNION ALL SELECT 'byte_bpe', w, p FROM bb
      |  UNION ALL SELECT 'unigram', w, p FROM ug
      |  UNION ALL SELECT 'wordpiece', w, p FROM wpx)
      |SELECT tokenizer, w AS n_words, p AS n_pieces,
      |  FLOOR(p / w * 10000 + 0.5) / 10000 AS fertility
      |FROM u ORDER BY tokenizer""".stripMargin) { (s, dir) =>
    def aggOf(df: DataFrame, name: String, pieces: String): DataFrame =
      df.agg(sum(col("n_words")).as("w"), sum(col(pieces)).as("p"))
        .select(lit(name).as("tokenizer"), col("w").as("n_words"),
          col("p").as("n_pieces"),
          (floor(col("p") / col("w") * 10000 + 0.5) / 10000)
            .as("fertility"))
    aggOf(bpeApply.run(s, dir), "bpe", "n_bpe")
      .unionByName(aggOf(bbpeApply.run(s, dir), "byte_bpe", "n_bbpe"))
      .unionByName(aggOf(wordpieceApply.run(s, dir), "wordpiece", "n_wp"))
      .unionByName(aggOf(unigramApply.run(s, dir), "unigram", "n_pieces"))
      .orderBy(col("tokenizer"))
  }

  // ---------------------------------------------------------------
  // Good-Turing unseen mass + Chao1 vocabulary richness
  // ---------------------------------------------------------------

  /** "Is this corpus exhausted?" — the coverage diagnostic a
    * data-scaling decision needs before buying more crawl: the
    * Good-Turing estimate of unseen-word mass P₀ = n₁/N (Good 1953 —
    * the probability the NEXT token is a word never seen) and the
    * Chao1 vocabulary-richness estimate V̂ = V + n₁(n₁−1)/(2(n₂+1))
    * (Chao 1984, bias-corrected form — finite even when no word
    * occurs exactly twice), from the frequency-of-frequencies of the
    * corpus vocabulary: N total tokens, V distinct words, n₁
    * singletons, n₂ doubletons — all exact int64; P₀, the coverage
    * complement, and V̂ are each ONE double division of exact counts,
    * ROUND(6).
    *
    * Scale shape: explode → per-word counts (ONE shuffle on the word
    * key, map-side combined) → the frequency histogram collapses to a
    * conditional global aggregate — no second wide shuffle, no
    * window; output is a 1-row frame at any corpus size. */
  val goodTuring: Q = Q(
    "text_good_turing",
    """WITH tok AS (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
      |    AS w
      |  FROM documents),
      |wc AS (SELECT w, COUNT(*)::BIGINT AS c FROM tok GROUP BY w),
      |s AS (
      |  SELECT SUM(c)::BIGINT AS n, COUNT(*)::BIGINT AS v,
      |    SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
      |    SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS n2
      |  FROM wc)
      |SELECT n AS n_tokens, v AS vocab, n1, n2,
      |  ROUND(CAST(n1 AS DOUBLE) / n, 6) + 0 AS p_unseen,
      |  ROUND(1 - CAST(n1 AS DOUBLE) / n, 6) + 0 AS coverage,
      |  ROUND(v + CAST(n1 AS DOUBLE) * (n1 - 1) / (2 * (n2 + 1)), 6)
      |    + 0 AS chao1
      |FROM s""".stripMargin) { (s, dir) =>
    val wc = Tables.documents(s, dir)
      .select(explode(toks(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val st = wc.agg(sum(col("c")).as("n"), count(lit(1)).as("v"),
      sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("c") === 2, 1L).otherwise(0L)).as("n2"))
    st.select(col("n").as("n_tokens"), col("v").as("vocab"),
      col("n1"), col("n2"),
      (round(col("n1").cast("double") / col("n"), 6) + 0).as("p_unseen"),
      (round(lit(1) - col("n1").cast("double") / col("n"), 6) + 0)
        .as("coverage"),
      (round(col("v") + col("n1").cast("double") * (col("n1") - 1)
        / (lit(2) * (col("n2") + 1)), 6) + 0).as("chao1"))
  }

  val all: Seq[Q] = Seq(tokens, quality, langid, chunkFixed, chunkRecursive,
    chunkSentence, docStats, fingerprint, tfidf, stem, repetition, tokenShards,
    freqSketch, piiScrub, bigramLm, perplexity, corpusStats, bpeFit, bpeApply,
    bbpeFit, bbpeApply,
    unigramFit, unigramApply, unigramEstep, unigramSample,
    wordpieceFit, wordpieceApply,
    knTrigram, readability, tokensUnicode, entropy, oov, collocations,
    langidCjk, keywords, spellCorrect, jsd, zipf, tokenizerEval,
    goodTuring)
}
