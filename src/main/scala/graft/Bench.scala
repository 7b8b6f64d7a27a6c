package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run benchmark: every registered query on SPARK_GRAFT_SF_DIR,
  * one JSON line. */
object Bench {
  type Query = (SparkSession, String) => DataFrame
  /** One query's (name, seconds, ok) in one pass. */
  type Run = (String, Double, Boolean)

  /** One timed run: `builderS` covers `fn` (which runs the query's
    * eager jobs), `actionS` its `count()`. Their sum is the time Bench
    * records. */
  final case class Timed(builderS: Double, actionS: Double, ok: Boolean) {
    def seconds: Double = builderS + actionS
  }

  def timed(spark: SparkSession, fn: Query, dir: String): Timed = {
    val t0 = System.nanoTime()
    val df = try Some(fn(spark, dir)) catch { case _: Throwable => None }
    val t1 = System.nanoTime()
    val ok = df.exists { d =>
      try { d.count(); true } catch { case _: Throwable => false }
    }
    // capture elapsed BEFORE cache teardown: clearCache + GC belong
    // to inter-query hygiene, not to the measured query
    val t2 = System.nanoTime()
    // per-query caches must not leak forward; unpersist is async, so
    // nudge the JVM before the next query times itself
    spark.catalog.clearCache()
    System.gc()
    Timed((t1 - t0) / 1e9, (t2 - t1) / 1e9, ok)
  }

  /** Warm the JVM/codegen and the parquet footers so the first timed
    * query isn't charged for session startup. A warm-up failure must
    * not kill the run — the timed queries guard themselves. */
  def warmUp(spark: SparkSession): Unit = {
    spark.range(10000000L).selectExpr("sum(id)").collect()
    // Print ONE truncated line on warm-up failure: a SparkException
    // message embeds the full driver stack trace, and the driver keeps
    // only the tail of this process's output — an uncaught multi-line
    // message would push the JSON result line out of the kept window
    // (observed in round 4).
    try SparkEntry.entry(spark).count()
    catch { case e: Throwable =>
      val first = String.valueOf(e).linesIterator.take(1).mkString
      System.err.println(s"[bench] warm-up failed: ${first.take(200)}")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.localBench(cpus)
    warmUp(spark)
    // A query whose action throws must be VISIBLE in the artifact and
    // excluded from every total: elapsed-until-throw is not a query
    // time, and silently recording it would make the bench total DROP
    // when a query breaks — a regression disguised as a win (VERDICT
    // r7 #2). Correctness catches the breakage independently; the
    // bench record carries the names so it is self-describing.
    // fault-injection knob for verifying the error path end-to-end:
    // SPARK_GRAFT_BREAK=<query_name> makes that query throw
    val breakName = sys.env.get("SPARK_GRAFT_BREAK")
    def pass(): Seq[Run] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val f: Query =
          if (breakName.contains(name)) (_, _) => sys.error("deliberate fault injection")
          else fn
        val t = timed(spark, f, sfDir)
        (name, t.seconds, t.ok)
      }
    // BACK-TO-BACK PAIR in one artifact: cached-plan stats and box
    // load are timing-dependent (SURVEY §5; the round-5 record showed
    // 2-2.6x single-query excursions the judge's idle rerun didn't
    // reproduce), and a single total cannot separate machine noise
    // from regression. Protocol: one UNTIMED warm-up pass (JIT +
    // per-query codegen — measured 120 s for pass 1 vs 99 s for
    // pass 2 on an idle box, all of it compilation, none of it plan),
    // then two timed passes. "value"/"queries" = timed pass 1,
    // "value2" = timed pass 2's total, "q2" = the flap-watched
    // queries' pass-2 times. Regression moves BOTH totals; noise
    // separates them.
    pass()
    val results = pass()
    val results2 = pass()
    val (line1, line2, full) = records(results, results2, sfDir) { name =>
      val t = timed(spark, SparkEntry.queries(name), sfDir)
      if (t.ok) Some(t.seconds) else None
    }
    println(line1)
    println(line2)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      full + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: $e") }
    spark.stop()
  }

  // LIKE-FOR-LIKE SUBTOTAL (VERDICT r7 #1a): the round-7 registry,
  // frozen by name (= the 101 keys of CORRECTNESS_r07.json). "prev" /
  // "prev2" are each timed pass's subtotal over exactly these
  // queries, so round-over-round comparison is artifact-vs-artifact
  // instead of prose arithmetic over a truncation-prone per-query
  // map. Queries added after round 7 move value/value2 but not
  // prev/prev2; a like-for-like drift moves prev and value together.
  private val prevRegistry: Set[String] = Set(
    "ann_lsh", "chunk_fixed", "chunk_recursive", "chunk_sentence",
    "conversation_replay", "corpus_clean", "corpus_mix", "corpus_sample",
    "corpus_stats", "decontaminate", "dedup_clusters", "dedup_embedding",
    "dedup_exact", "dedup_incremental", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_simhash", "dedup_substring",
    "dedup_substring_incremental", "doc_load_files", "doc_stats",
    "embed_hashing", "embed_pca", "events_anomaly", "events_funnel",
    "events_gap_fill", "events_histogram", "events_json_extract",
    "events_retention", "events_rolling", "events_scd2",
    "events_sessionize", "events_top_paths", "events_variant_extract",
    "events_window_agg", "knn_brute", "knn_ivf", "knn_pq",
    "mm_audio_window", "mm_binary_features", "mm_frame_sample",
    "mm_patchify", "mm_resize_nn", "q1_agg", "q3_join_topk",
    "q5_multijoin", "q_anti_join", "q_approx_distinct",
    "q_approx_quantiles", "q_argmax", "q_asof_join", "q_asof_native",
    "q_bloom_join", "q_correlated", "q_cube", "q_distinct",
    "q_filter_project", "q_freq_sketch", "q_grouping_sets",
    "q_incremental_agg", "q_merge_upsert", "q_ntile", "q_percentiles",
    "q_pivot", "q_range_join", "q_rollup", "q_running_sum",
    "q_semi_join", "q_set_ops", "q_topk_global", "q_topk_per_key",
    "q_unpivot", "q_window_rank", "qa_pipeline", "retrieval_bm25",
    "retrieval_context", "retrieval_hybrid", "retrieval_mmr",
    "retrieval_rrf", "retrieval_vector", "seq_pack", "sink_compaction",
    "sink_csv_roundtrip", "sink_json_roundtrip", "sink_orc_roundtrip",
    "sink_partitioned_parquet", "sink_xml_roundtrip",
    "summarize_extractive", "text_bigram_lm", "text_fingerprint",
    "text_langid", "text_pii_scrub", "text_quality", "text_repetition",
    "text_stem", "text_tfidf", "text_tokens", "token_shards",
    "tokenizer_bpe_apply", "tokenizer_bpe_fit", "vec_quantize_int8")

  // BOTH passes' detail for the queries rounds 5-8 flagged as
  // flap-prone (the full per-pass maps would blow the ~2 KB tail
  // budget). "q1" exists because the big per-query map is printed
  // alphabetically with the dedup_* family at its HEAD — precisely
  // the watched queries' pass-1 times were ALWAYS lost to the tail
  // truncation, so an excursion like r8's dedup_minhash_lsh 16.19 s
  // pass-2 had no pass-1 witness in the artifact (VERDICT r8 #1/#2a).
  private val watched = Set("dedup_clusters", "dedup_simhash",
    "events_retention", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "retrieval_rrf", "dedup_substring",
    // new in r9 and alphabetically head-of-line — watched from birth
    // so its driver record carries both passes
    "dedup_embedding_incremental")

  private val lineBudget = 1880 // 2000-char window minus sbt's success line

  /** Bench's three records from the two timed passes: line 1, the
    * final (canonical) line and the BENCH_FULL.json record. `rerun`
    * times a flapped query a third time; None means that re-run
    * threw. */
  private[graft] def records(results: Seq[Run], results2: Seq[Run],
      sfDir: String)(rerun: String => Option[Double]): (String, String, String) = {
    // Compact on purpose: the driver keeps only the tail of the run
    // output (~2 KB, minus sbt's own trailing success line), so every
    // byte saved keeps one more per-query entry inside the kept tail.
    // 3-decimal seconds for totals (ms resolution — below this box's
    // run-to-run noise) and trimmed 2-decimal per-query times.
    def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // Per-query: 2 decimals with trailing zeros trimmed (10 ms is far
    // below this box's noise floor) — buys ~300 bytes of tail budget
    // as the registry grows past 80 queries.
    def r2(v: Double): String = {
      val s = "%.2f".formatLocal(java.util.Locale.ROOT, v)
      val t = s.reverse.dropWhile(_ == '0').reverse
      if (t.endsWith(".")) t.dropRight(1) else t
    }
    def entry(k: String, v: String): String = "\"" + k + "\":" + v
    // errored queries (either pass) are excluded from every total and
    // subtotal IN BOTH PASSES — a query that succeeds in pass 1 and
    // throws in pass 2 must not leave its pass-1 time skewing the
    // pair comparison; their names are the record
    val errored =
      (results ++ results2).filter(!_._3).map(_._1).distinct.sorted
    val erroredSet = errored.toSet
    val errs = errored.map("\"" + _ + "\"").mkString("[", ",", "]")
    // per-query maps exclude errored queries: their elapsed-until-throw
    // is not a measurement, and a partial time in a map would stop
    // the map reconciling with the totals (ADVICE r8); their names are
    // already in "errors"
    def kept(rs: Seq[Run], only: String => Boolean = _ => true): Seq[Run] =
      rs.filter(r => !erroredSet(r._1) && only(r._1))
    def qmap(rs: Seq[Run], only: String => Boolean = _ => true): String =
      kept(rs, only).map(r => entry(r._1, r2(r._2))).mkString("{", ",", "}")
    def tot(rs: Seq[Run], only: String => Boolean = _ => true) =
      kept(rs, only).map(_._2).sum
    val total = tot(results)
    val total2 = tot(results2)
    val prev = tot(results, prevRegistry)
    val prev2 = tot(results2, prevRegistry)
    // SELF-ADJUDICATING EXCURSIONS (VERDICT r10 #3): every round since
    // r8 has carried a single-pass outlier (r8 minhash 16.19, r9
    // simhash 23.07, r10 clusters 37.07) that cost a manual
    // adjudication cycle, because two passes cannot distinguish a
    // one-off JVM event (q3 ≈ fast) from a real plan regression
    // (q3 ≈ slow). When ANY query's two timed passes separate by more
    // than 3x, run it a third time in this same JVM and record "q3" —
    // the tiebreak is in the artifact itself. Rare by construction
    // (~1 query/round), so the extra wall-clock is bounded.
    val t1 = kept(results).map(r => r._1 -> r._2).toMap
    val t2 = kept(results2).map(r => r._1 -> r._2).toMap
    val flapped = t1.keySet.intersect(t2.keySet).toSeq.sorted.filter { k =>
      val (a, b) = (t1(k), t2(k))
      math.max(a, b) / math.max(math.min(a, b), 1e-9) > 3.0
    }
    // a rerun that THROWS must stay visible (the bench's own
    // invariant): null marks "flapped, but the adjudication rerun
    // crashed" — distinguishable from both "not flapped" (absent)
    // and any real time
    val q3 = flapped.map(k => entry(k, rerun(k).fold("null")(r2)))
      .mkString("{", ",", "}")
    // The captured group must itself be a valid JSON number ("sf1."
    // or "sf..." would otherwise be emitted unquoted and corrupt the
    // line); anything unparseable falls back to the quoted dir.
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).filter(g => scala.util.Try(g.toDouble).isSuccess &&
        !g.startsWith(".") && !g.endsWith("."))
      .getOrElse("\"" + sfDir + "\"")
    // Two lines, redundant on purpose: the driver keeps only the
    // output TAIL (~2 KB) and the 96-query map alone outgrows it —
    // round 6's artifact lost both pair totals because they sat at
    // the line HEAD (VERDICT r6 #3, "parsed": null). Line 1 carries
    // the full per-query map with the totals LAST, so whatever
    // survives truncation ends in the totals; line 2 (totals-only,
    // ~350 B) is the CANONICAL record — it always lands whole in the
    // kept tail and parses. A head-truncated line 1 is invalid JSON
    // by construction; any consumer must scan for the LAST parseable
    // line, never the first (ADVICE r7 #4).
    val qs = qmap(results)
    val totals = s""""metric":"total","value":${r3(total)},"unit":"sec","value2":${r3(total2)}"""
    val prevs = s""""prev":${r3(prev)},"prev2":${r3(prev2)}"""
    val tail = s"""$prevs,"errors":$errs,"q1":${qmap(results, watched)},"q2":${qmap(results2, watched)},"q3":$q3,"sf":$sf"""
    val line1 = s"""{"queries":$qs,"metric":"total","unit":"sec",$tail,"value2":${r3(total2)},"value":${r3(total)}}"""
    // The FINAL (canonical) line now carries a per-query map too
    // (VERDICT r16 #2: PERF's per_query/n_common/scaling were empty
    // because the parsed final line had no "queries"). The full
    // 250-entry map is ~6 KB and the driver parses from a 2000-char
    // output-tail window (every BENCH_r* artifact stores exactly
    // 2000 chars, and the r6 artifact — one long line, "parsed":
    // null — proves a line longer than the window head-truncates
    // into invalid JSON, losing the totals too). A verbatim
    // swap-the-printlns would therefore null the whole parse. What
    // physics allows: the final line carries the SLOWEST queries'
    // pass-1 entries, greedily packed to keep the line inside the
    // window — those rows carry the total, so per-query regression
    // detection sees exactly the rows that can move it.
    // "queries_omitted" counts the (fast) rows that didn't fit;
    // line 1 and BENCH_FULL.json still carry the complete map.
    val head2 = s"""{$totals,$tail,"queries":{"""
    // +30: room for the closing },"queries_omitted":NNN}
    val line2 =
      // the prefix alone embeds errors/q1/q2/q3, so enough errored or
      // flapped queries outgrow the window: fall back to totals only
      if (head2.length + 30 > lineBudget) s"""{$totals,$prevs,"sf":$sf}"""
      else {
        val sb2 = new StringBuilder(head2)
        var omitted = 0
        var first2 = true
        kept(results).sortBy(-_._2).foreach { case (k, v, _) =>
          val ent = (if (first2) "" else ",") + entry(k, r2(v))
          if (sb2.length + ent.length + 30 <= lineBudget) {
            sb2.append(ent); first2 = false
          } else omitted += 1
        }
        sb2.append("},\"queries_omitted\":").append(omitted).append("}")
        sb2.toString
      }
    // PERSISTED full per-query record (VERDICT r13 #4): the driver
    // artifact keeps only ~2 KB of stdout tail, so the complete
    // BOTH-PASS per-query map goes to a file the round commit carries
    // — cross-round per-query regression checks parse this, never
    // the truncated stdout. One line, stable path, overwritten per
    // run; "pass1"/"pass2" reconcile with value/value2 by summation.
    val full = s"""{"metric":"total","value":${r3(total)},"value2":${r3(total2)},"unit":"sec",$tail,"pass1":$qs,"pass2":${qmap(results2)}}"""
    (line1, line2, full)
  }
}
