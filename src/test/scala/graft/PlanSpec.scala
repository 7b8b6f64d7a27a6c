package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Core, Dedup, Events, Graph, Retrieval, Text, Vectors}

/** Physical-plan audit: the properties that matter at 100 TB —
  * pushdown to the scan, broadcast of small sides, no full sort for
  * global top-k — asserted on the executed plans. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    // cached plans from other suites would swap parquet scans for
    // InMemoryTableScan and hide the pushdown strings
    spark.catalog.clearCache()
    df.queryExecution.executedPlan.toString
  }

  test("filter + projection push down to the parquet scan") {
    val p = plan(Core.qFilterProject.run(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(p_type), IsNotNull(p_size), " +
      "EqualTo(p_type,PROMO), GreaterThanOrEqual(p_size,25)]"))
    // read schema is pruned to the referenced columns only
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_brand:string," +
      "p_type:string,p_size:int,p_retailprice:double>"))
    assert(!p.contains("p_name"))
  }

  test("q5 joins every dimension via broadcast, no shuffle joins") {
    val p = plan(Core.q5MultiJoin.run(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    // the fact table scan reads only the 4 needed columns
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint," +
      "l_extendedprice:double,l_discount:double>"))
  }

  test("global top-k compiles to TakeOrderedAndProject (no full sort)") {
    val p = plan(Core.qTopkGlobal.run(spark, sf))
    assert(p.contains("TakeOrderedAndProject(limit=100"))
    assert(!p.contains("Exchange rangepartitioning"))
  }

  test("kNN broadcasts the query side and ranks via bounded topk_by") {
    val p = plan(Vectors.knnBrute.run(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin BuildLeft"))
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,50)]"))
    // the rank step is the map-side bounded aggregate, never a
    // per-query row_number window (single-task sort of n rows/query)
    assert(p.contains("topk_by"), p.take(2000))
    assert(!p.contains("windowspecdefinition"), p.take(2000))
  }

  test("IVF probe ranks via bounded topk_by, no per-query window sort") {
    // the r6 scale-killer: IvfIndex.query ranked probe candidates
    // with a row_number window — ~n*nprobe/k rows sorted in ONE task
    // per query. The probe plan must carry the bounded aggregate and
    // no Window at all.
    val p = plan(Vectors.knnIvf.run(spark, sf))
    assert(p.contains("topk_by"), p.take(2000))
    assert(!p.contains("windowspecdefinition"), p.take(2000))
    assert(!p.contains("Exchange SinglePartition"), p.take(2000))
    // "partition pruning does the probing": the cid-partitioned index
    // scan must carry a dynamic-pruning partition filter from the
    // broadcast probe side — without it the probe reads all k
    // partitions and IVF degrades to a filtered full scan at 100 TB
    assert(p.contains("dynamicpruning"), p.take(2000))
  }

  test("IVF-PQ probe prunes code partitions and ranks via bounded topk_by") {
    // same contract as the IVF probe, on the compressed layout: the
    // cid-partitioned CODES scan must carry a dynamic-pruning filter
    // from the broadcast probe side (a probe that reads all cells
    // reads the whole compressed corpus), and both the ADC shortlist
    // and the exact re-rank must be the bounded aggregate — no Window
    // anywhere in the pipeline.
    val p = plan(Vectors.knnIvfPq.run(spark, sf))
    assert(p.contains("topk_by"), p.take(2000))
    assert(!p.contains("windowspecdefinition"), p.take(2000))
    assert(p.contains("dynamicpruning"), p.take(2000))
  }

  test("ANN warm probe paths: query side pushed to the scan, no corpus cache") {
    // the serving-path contract behind the buildOnce lifecycle: with
    // the index published, the timed query must read the 50 query
    // rows through parquet pushdown (not materialize the embeddings
    // table into cache — a corpus-scale cache in the probe path is
    // the 100 TB anti-pattern the round-9 restructure removed)
    for (q <- Seq(Vectors.knnIvf, Vectors.knnIvfPq, Vectors.embedPca)) {
      val p = plan(q.run(spark, sf))
      assert(!p.contains("InMemoryTableScan"),
        s"${q.name}: corpus cache in the serving path\n${p.take(2000)}")
    }
    val p = plan(Vectors.knnIvf.run(spark, sf))
    assert(p.contains("LessThan(vec_id,50)"),
      s"query-side filter not pushed to the scan\n${p.take(3000)}")
  }

  test("ann_lsh ranks via bounded topk_by, no per-query window sort") {
    val p = plan(Vectors.annLsh.run(spark, sf))
    assert(p.contains("topk_by"), p.take(2000))
    assert(!p.contains("windowspecdefinition"), p.take(2000))
  }

  test("join strategy hints are honored") {
    import graft.sources.Tables
    val li = Tables.lineitem(spark, sf)
    val o = Tables.orders(spark, sf)
    val hinted = li.join(o.hint("shuffle_hash"),
      li("l_orderkey") === o("o_orderkey"))
    assert(plan(hinted).contains("ShuffledHashJoin"))
    val merged = li.join(o.hint("merge"),
      li("l_orderkey") === o("o_orderkey"))
    assert(plan(merged).contains("SortMergeJoin"))
  }

  test("compaction output respects maxRecordsPerFile") {
    graft.queries.Sinks.compaction.run(spark, sf).collect()
    val dir = new java.io.File(
      graft.queries.Sinks.scratch(spark, sf, "docs_compact"))
    val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    // 500 docs, 2 partitions, cap 1000 → no file over the cap
    files.foreach { f =>
      val n = spark.read.parquet(f.getPath).count()
      assert(n <= 1000)
    }
  }

  test("sink_zorder: per-file key ranges are tiles on BOTH dims, not full-span stripes") {
    graft.queries.Sinks.zorder.run(spark, sf).collect()
    val zPath = graft.queries.Sinks.scratch(spark, sf, "lineitem_zorder")
    // control: the same projection written through a plain shuffle —
    // every file's key range is then ~the full span on both dims
    val plainPath = graft.queries.Sinks.scratch(spark, sf, "lineitem_plain16")
    graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_suppkey"), col("l_returnflag"),
        col("l_quantity"))
      .repartition(16)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(plainPath)
    def meanSpans(path: String): (Double, Double, Long) = {
      val r = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg((max(col("l_partkey")) - min(col("l_partkey"))).as("ps"),
          (max(col("l_suppkey")) - min(col("l_suppkey"))).as("ss"))
        .agg(avg(col("ps")), avg(col("ss")), count(lit(1))).head()
      (r.getDouble(0), r.getDouble(1), r.getLong(2))
    }
    val (zp, zs, zn) = meanSpans(zPath)
    val (pp, ps, pn) = meanSpans(plainPath)
    assert(zn >= 8 && pn >= 8, s"need enough files for spans to mean anything: $zn/$pn")
    // 16 z-tiles ≈ a 4x4 grid: each file covers ~1/4 of each dim; the
    // shuffled control covers ~the whole span. Half is a loose bound.
    assert(zp < 0.5 * pp, s"partkey span $zp not clustered vs control $pp")
    assert(zs < 0.5 * ps, s"suppkey span $zs not clustered vs control $ps")
  }

  test("z-ordered layout prunes at read time: selective scan touches fewer row groups") {
    graft.queries.Sinks.zorder.run(spark, sf).collect()
    val zPath = graft.queries.Sinks.scratch(spark, sf, "lineitem_zorder")
    val plainPath = graft.queries.Sinks.scratch(spark, sf, "lineitem_plain16p")
    graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_suppkey"), col("l_returnflag"),
        col("l_quantity"))
      .repartition(16)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(plainPath)
    // a partkey range one quarter of the domain wide: in the 4x4
    // z-grid it lives in one column of tiles, so only ~4 of 16 files
    // can contain matches; the shuffled control's every file spans
    // the full domain and no row group is skippable
    val b = spark.read.parquet(zPath)
      .selectExpr("cast(min(l_partkey) as long)", "cast(max(l_partkey) as long)",
        "cast(min(l_suppkey) as long)", "cast(max(l_suppkey) as long)")
      .head()
    val (pLo, pSpan) = (b.getLong(0), b.getLong(1) - b.getLong(0))
    val (sLo, sSpan) = (b.getLong(2), b.getLong(3) - b.getLong(2))
    val pDt = spark.read.parquet(zPath).schema("l_partkey").dataType
    val sDt = spark.read.parquet(zPath).schema("l_suppkey").dataType
    // scan-level numOutputRows counts rows in row groups that survive
    // the PUSHED filter (parquet min/max skipping) — rows the engine
    // actually had to read, before Spark's re-filter above the scan
    def scanned(path: String, pred: Column): (Long, Long) = {
      val df = spark.read.parquet(path).filter(pred)
      val kept = df.collect().length.toLong
      val plan0 = df.queryExecution.executedPlan
      val plan = plan0 match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val scan = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      assert(scan.metadata("PushedFilters").contains("l_partkey"),
        s"filter not pushed: ${scan.metadata("PushedFilters")}")
      (scan.metrics("numOutputRows").value, kept)
    }
    // single-dim: the first partkey quarter lives in 4 of the 16
    // z-tiles; quantile-placed file boundaries can straddle each of
    // the 4 z-chunks, so the worst case is ~8 of 16 files
    val oneDim = col("l_partkey").between(
      lit(pLo).cast(pDt), lit(pLo + pSpan / 4 - 1).cast(pDt))
    // 2-D box: the (first partkey quarter) x (first suppkey quarter)
    // box is ONE contiguous z prefix (top four interleaved bits all
    // zero) — at most its own file plus a boundary straddle
    val box = oneDim && col("l_suppkey").between(
      lit(sLo).cast(sDt), lit(sLo + sSpan / 4 - 1).cast(sDt))
    val (zRead1, zKept1) = scanned(zPath, oneDim)
    val (pRead1, pKept1) = scanned(plainPath, oneDim)
    val (zRead2, zKept2) = scanned(zPath, box)
    val (pRead2, pKept2) = scanned(plainPath, box)
    assert(zKept1 == pKept1 && zKept2 == pKept2,
      s"layouts must agree on results: $zKept1/$pKept1 $zKept2/$pKept2")
    assert(pRead1 > 0 && zRead1 > 0 && pRead2 > 0 && zRead2 > 0)
    // the consumer-side win, on EITHER key alone and (sharply) on the
    // 2-D box no hive layout could serve on both dims at once
    assert(zRead1 < pRead1 * 7 / 10,
      s"z-ordered 1-D scan read $zRead1 rows vs plain $pRead1 — no pruning win")
    assert(zRead2 < pRead2 / 4,
      s"z-ordered box scan read $zRead2 rows vs plain $pRead2 — no pruning win")
  }

  test("sink_snapshot_merge applies the merge as an equi-anti-join, not a nested loop") {
    val p = plan(graft.queries.Sinks.snapshotMerge.run(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("dedup_embedding is a block equi-join, not an all-pairs nested loop") {
    val p = plan(Vectors.embeddingNearDup.run(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup_embedding_incremental is a cid equi-join over index state only") {
    val p = plan(Vectors.embeddingIncremental.run(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    // both join sides read the maintained index's vectors table, not
    // the embeddings corpus — the serving path is index state alone
    assert(!p.contains("embeddings.parquet"), p.take(2000))
  }

  test("q_range_join is a bucketed equi-join, not a nested loop") {
    val p = plan(Events.rangeJoin.run(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("corpus_clean composes without nested-loop joins") {
    val p = plan(graft.queries.Pipeline.corpusClean.run(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("events_anomaly stats aggregate is partial (map-side combine)") {
    val p = plan(Events.anomaly.run(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert("HashAggregate".r.findAllIn(p).size >= 2) // partial + final
  }

  test("seq_pack avoids a single-partition global window") {
    val p = plan(graft.queries.Pipeline.seqPack.run(spark, sf))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("corpus_shuffle ranks without a single-partition global window") {
    val p = plan(graft.queries.Pipeline.corpusShuffle.run(spark, sf))
    assert(!p.contains("Exchange SinglePartition"), p.take(2000))
  }

  test("corpus_interleave ranks without a single-partition global window") {
    val p = plan(graft.queries.Pipeline.corpusInterleave.run(spark, sf))
    assert(!p.contains("Exchange SinglePartition"), p.take(2000))
  }

  test("quality_top_pct ranks without single-partition or per-source windows") {
    val p = plan(graft.queries.Pipeline.qualityTopPct.run(spark, sf))
    assert(!p.contains("Exchange SinglePartition"), p.take(2000))
    // ranks ride GlobalPrefix's range exchange; the only window is
    // per-partition (partitionBy __pid), never hashpartitioned on
    // source — a per-source window would funnel each source's whole
    // slice of the corpus into one task's sort
    assert(!p.contains("hashpartitioning(source"), p.take(2000))
  }

  test("corpus_temperature keeps the fact table unshuffled to the keep test") {
    val p = plan(graft.queries.Pipeline.corpusTemperature.run(spark, sf))
    // the per-source rate model reaches the corpus as a broadcast
    // join; the only nested loop is the 1-row tok_min cross join
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("quality_dsir broadcasts the bounded bucket model to the scoring join") {
    val p = plan(graft.queries.Pipeline.qualityDsir.run(spark, sf))
    // the 1024-row model reaches the corpus-scale scoring join as a
    // broadcast hash join (the 1-row totals cross join is the only
    // nested-loop, and its build side is a single broadcast row)
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q_ntile has no single-partition global window exchange") {
    val p = plan(Core.qNtile.run(spark, sf))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("token_shards global prefix sum avoids a single-partition window") {
    val p = plan(Text.tokenShards.run(spark, sf))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("q_bootstrap_ci: replicate means are one partial-agg pass, no corpus-sized shuffle") {
    val p = plan(graft.queries.Stats.bootstrapCi.run(spark, sf))
    // the x64 fanout must combine map-side: partial + final aggregate
    // layers around the 64-group exchange
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the only rank is the 64-row replicate frame (bounded band)
    val n = "Exchange SinglePartition".r.findAllIn(p).length
    assert(n <= 2, s"$n single-partition exchanges:\n${p.take(3000)}")
  }

  test("text_zipf: head selection is TakeOrdered, never a global sort") {
    val p = plan(graft.queries.Text.zipf.run(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q_hhi: dims broadcast to the lineitem pass, no cartesian") {
    val p = plan(graft.queries.Stats.hhi.run(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q_mann_kendall: pairs ride the per-type equi-join, no windows, no cartesian") {
    val p = plan(graft.queries.Stats.mannKendall.run(spark, sf))
    // the only SinglePartition exchanges are 1-row global min(date)
    // aggregates (benign scalar class); the trend statistics must
    // never ride a window sort or a non-broadcast nested loop
    assert(!p.contains("windowspecdefinition"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q_gini ranks without per-segment or single-partition windows") {
    val p = plan(graft.queries.Stats.gini.run(spark, sf))
    assert(!p.contains("Exchange SinglePartition"), p.take(2000))
    // the rank must NOT ride a window PARTITION BY seg (N/5 customers
    // per task's sort); GlobalPrefix's __pid window is the only window
    // in the plan — the hash exchange on seg that remains feeds the
    // 5-row aggregate (map-side combined), not a sort
    assert(!p.contains("windowspecdefinition(seg"), p.take(2000))
  }

  test("q_ks_test cumulative counts avoid a single-partition window") {
    val p = plan(graft.queries.Stats.ksTest.run(spark, sf))
    // both cumulative counts ride GlobalPrefix's per-__pid window;
    // a windowspecdefinition keyed directly on v would be the r15
    // finding (ORDER BY v with no PARTITION BY = one task sorting
    // the whole ~6e7-value cent domain at saturation)
    assert(!p.contains("windowspecdefinition(v#"), p.take(3000))
    assert(p.contains("windowspecdefinition(__pid"), p.take(3000))
  }

  test("no explicit broadcast hint reaches an sf-scaling raw table scan") {
    // the r15 scale-design finding: an explicit broadcast() on a
    // table that GROWS with the data (customer/supplier/part/...)
    // overrides AQE's size check and guarantees an OOM build side at
    // 100×. Sweep every registered query's analyzed plan: a
    // BROADCAST hint may cover a scaling table only THROUGH an
    // aggregate / distinct / limit boundary (grouped, 1-row, top-k —
    // bounded by construction); raw or merely-filtered scans of
    // scaling tables must stay unhinted so AQE can degrade to
    // shuffle. nation/region (fixed 25/5 rows) and literal frames
    // are exempt by omission from the scaling set.
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, BROADCAST, Deduplicate, GlobalLimit, LocalLimit,
      LogicalPlan, ResolvedHint}
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    val scaling = Set("customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    def raw(p: LogicalPlan): Set[String] = p match {
      case _: Aggregate | _: Deduplicate | _: GlobalLimit |
           _: LocalLimit => Set.empty
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => scaling.filter(t =>
          fs.location.rootPaths.exists(_.toString.endsWith(s"/$t.parquet")))
        case _ => Set.empty[String]
      }
      case other => other.children.flatMap(raw).toSet
    }
    // probe/eval sides pinned to a LITERAL key range — vec_id < 50
    // query vectors, doc_id < 5 QA/eval queries — are constant-size
    // at every sf (the key range, not the table, bounds the rows);
    // the aggregate-boundary walk cannot see key-range boundedness,
    // so these (query, table) pairs are exempted BY NAME with the
    // rationale here. Anything new that trips the sweep either gets
    // its hint dropped or earns an entry in this list with a reason.
    val exempt = Set(
      "ann_eval" -> "embeddings", "ann_lsh" -> "embeddings",
      "ann_dim_curve" -> "embeddings",
      "knn_bq" -> "embeddings", "knn_brute" -> "embeddings",
      "knn_ivf" -> "embeddings", "knn_ivfpq" -> "embeddings",
      "knn_pq" -> "embeddings",
      "qa_pipeline" -> "documents", "retrieval_eval" -> "documents")
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        spark.catalog.clearCache()
        val df = q(spark, sf)
        df.queryExecution.analyzed.collect {
          case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
            raw(h.child).filterNot(t => exempt(name -> t))
              .map(t => s"$name: broadcast() over raw $t")
        }.flatten
    }
    assert(offenders.isEmpty, offenders.distinct.mkString("\n"))
  }

  test("events_lorenz user rank avoids a single-partition window") {
    val p = plan(graft.queries.Stats.lorenz.run(spark, sf))
    // one Exchange SinglePartition is EXPECTED — the cumulative-share
    // window over the ≤10-row DECILE frame (bounded by construction);
    // more would mean the corpus-sized USER rank itself funneled into
    // one task (the r14 finding this test pins down)
    val n = "Exchange SinglePartition".r.findAllIn(p).length
    assert(n <= 1, s"$n single-partition exchanges:\n${p.take(3000)}")
  }

  test("q1 aggregation is partial (map-side combine) + final") {
    val p = plan(Core.q1Agg.run(spark, sf))
    // two HashAggregate layers around one exchange = partial agg works
    assert("HashAggregate".r.findAllIn(p).length >= 2)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate,"))
  }

  test("q_bloom_join prunes the fact side before the join, exactly") {
    import org.apache.spark.sql.functions.col
    import graft.sources.Tables
    val p = plan(Core.qBloomJoin.run(spark, sf))
    // the bloom test sits in the scan-side filter, before any exchange
    assert(p.contains("graft_might_contain"))
    // the filter genuinely prunes: urgent orders are ~1/5 of lineitem
    val urgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    val bloom = urgent.stat.bloomFilter("o_orderkey",
      math.max(urgent.count(), 1L), 0.01)
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey"))
    val total = li.count()
    val passed = li.filter(graft.functions.BloomExprs
      .mightContainLong(col("l_orderkey"), bloom)).count()
    val exact = li.join(urgent, col("l_orderkey") === col("o_orderkey"))
      .count()
    assert(passed >= exact)           // no false negatives, ever
    assert(passed < (total * 3) / 10) // ~20% + 1% fpp, not a no-op
  }

  test("events_scd2 shuffles once on user_id: both windows share it") {
    val p = plan(Events.scd2.run(spark, sf))
    // the change-point window (user_id, event_id) and the interval
    // window (user_id, valid_from) must reuse ONE hash exchange —
    // a second exchange would double the shuffle at any scale
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("q_incremental_agg merges partials without re-scanning: partial + final layers") {
    val p = plan(Core.qIncrementalAgg.run(spark, sf))
    // base partials, delta partials, and the merge re-aggregation all
    // keep map-side combine; no join, no nested loop anywhere
    assert("HashAggregate".r.findAllIn(p).size >= 4)
    assert(!p.contains("Join"))
  }

  test("dedup_substring is equi-join only and windows stay compiled") {
    val p = plan(graft.queries.Dedup.substringDedup.run(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    // the window fingerprints come from the compiled rolling pass,
    // not the CodegenFallback per-window HOF fold
    assert(p.contains("poly_window_hashes"), p.take(2000))
  }

  test("corpus_sample_exact ranks via bounded topk_by, no per-source window sort") {
    val p = plan(graft.queries.Dedup.sampleExactK.run(spark, sf))
    assert(p.contains("topk_by"), p.take(2000))
    assert(!p.toLowerCase.contains("windowspecdefinition"), p.take(2000))
  }

  test("decontaminate_substring broadcasts the eval side, equi-join only") {
    val p = plan(graft.queries.Dedup.decontaminateSubstring.run(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    // the tiny eval fingerprint set is the broadcast build side of the
    // candidate join — the corpus window stream never shuffles into it
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("poly_window_hashes"), p.take(2000))
  }

  test("text_bigram_lm and dedup_incremental stay equi-join only") {
    val p1 = plan(Text.bigramLm.run(spark, sf))
    assert(!p1.contains("BroadcastNestedLoopJoin"))
    assert(!p1.contains("CartesianProduct"))
    val p2 = plan(graft.queries.Dedup.incremental.run(spark, sf))
    assert(!p2.contains("BroadcastNestedLoopJoin"))
    assert(!p2.contains("CartesianProduct"))
  }

  test("knn_pq broadcasts the query tables over the codes scan") {
    val p = plan(Vectors.knnPq.run(spark, sf))
    // the ADC sweep streams the corpus codes against the broadcast
    // 50-row query-table side (the bounded side — same shape as
    // knnBrute); the corpus is never a build side
    assert(p.contains("BroadcastNestedLoopJoin BuildLeft"))
    // shortlisting AND the exact re-rank are both the bounded
    // map-side topk_by aggregate — no Window anywhere in the ANN
    // family (the window form sorts n_corpus rows in ONE task per
    // query at scale)
    assert(p.contains("topk_by"), p.take(2000))
    assert(!p.contains("windowspecdefinition"), p.take(2000))
  }

  test("token-count queries run the fused ascii_token_count, not size(array)") {
    // the TokenCountRewrite optimizer rule reaches real registered
    // queries: count-only consumers carry the fused expression
    val p2 = plan(graft.queries.Dedup.sampleStratified.run(spark, sf))
    assert(p2.contains("ascii_token_count"), p2.take(2000))
    val p3 = plan(Text.tokenShards.run(spark, sf))
    assert(p3.contains("ascii_token_count"), p3.take(2000))
    // ... but NOT when the same node also materializes the token
    // array (text_tokens reads size(toks) AND array_distinct(toks)):
    // there the shared AsciiTokens subtree must stay shared — fusing
    // would tokenize the row twice
    val p1 = plan(Text.tokens.run(spark, sf))
    assert(!p1.contains("ascii_token_count"), p1.take(2000))
    assert(p1.contains("graft_tokens"), p1.take(2000))
  }

  test("corpus_mix keeps the binding source whole, samples the rest") {
    import org.apache.spark.sql.functions.col
    import graft.sources.Tables
    val mixed = graft.queries.Pipeline.corpusMix.run(spark, sf)
      .select(col("source"), col("n_kept")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = Tables.documents(spark, sf).groupBy(col("source"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // at least one source is kept in full (the mix's binding source,
    // rate exactly 1 by construction) and at least one is downsampled
    assert(totals.exists { case (s, n) => mixed.getOrElse(s, 0L) == n })
    assert(totals.exists { case (s, n) => mixed.getOrElse(s, 0L) < n })
  }

  test("big-table scans split past one task at sf0.1 (mirror + maxPartitionBytes)") {
    // the raw testdata files are one row group, so without the
    // sources.Tables mirror every cold first stage serialized on one
    // core at local[32]; with it, plus the 512 KB maxPartitionBytes
    // GraftSession.local sets, the documents/lineitem scans must
    // produce real parallelism (VERDICT r7 #8)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes",
      (512 * 1024).toString)
    try {
      for (t <- Seq("documents", "lineitem")) {
        val n = graft.sources.Tables.load(spark, "/root/testdata/sf0.1", t)
          .rdd.getNumPartitions
        assert(n > 1, s"$t scans in $n partition(s) at sf0.1")
      }
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("q_avg_filter: threshold agg and probe join share one lineitem partitioning; part broadcasts") {
    // at test scale the size estimator correctly broadcasts the
    // per-part threshold frame (it is small here) — fine; the 100 TB
    // property to pin is what happens when it CANNOT broadcast
    val p = plan(Core.qAvgFilter.run(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val big = plan(Core.qAvgFilter.run(spark, sf))
      // exactly two exchanges on l_partkey: one feeding the threshold
      // aggregate, one for the probe side — the agg→join boundary
      // reuses the aggregation's partitioning instead of adding a third
      val exchanges = "Exchange hashpartitioning\\(l_partkey".r
        .findAllIn(big).length
      assert(exchanges == 2,
        s"expected 2 l_partkey exchanges, got $exchanges")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("retrieval_maxsim: token-pair work rides equi-joins, embeddings broadcast, dot is codegen'd") {
    val p = plan(graft.queries.Retrieval.maxsim.run(spark, sf))
    // the |q|x|d| late-interaction blowup is bounded per candidate
    // pair and implemented as an equi-join on (query_id, hit_id) —
    // never a cartesian over the corpus
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // (BroadcastNestedLoopJoin DOES appear — the bm25 candidate
    // stage's 1-row stats crossJoins, the blessed broadcast-scalar
    // pattern; the corpus-sized token frames never ride one)
    // vocab-level embeddings attach via broadcast (bounded frames)
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // the in-row dot is the codegen'd expression, not a HOF chain
    assert(p.contains("graft_dot"), "DotProduct missing from the plan")
    spark.catalog.clearCache()
  }

  test("dedup_semantic: literal-centroid assignment, cid equi-join, never all-pairs") {
    val p = plan(Vectors.semanticDedup.run(spark, sf))
    // candidate generation is the within-cluster equi-join — the
    // corpus never rides a nested-loop or cartesian
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the 16 centroids ride the plan as literals (array_min over a
    // literal struct array): assignment is a pure projection — no
    // shuffle, no join for the cluster id itself
    assert(p.contains("array_min"), p.take(2000))
  }

  test("events_attribution: touches join conversions on equi-keys, " +
      "windows partition per (user, epoch)") {
    val p = plan(Events.attribution.run(spark, sf))
    // the epoch trick keeps the attribution window an equi-join —
    // a range/theta join here would fan out touches x purchases
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // no corpus-sized global sort: every window partitions by user
    assert(!p.contains("Exchange SinglePartition"), p.take(2000))
  }

  test("q_skyline: the only single-partition frame is the bands one") {
    val p = plan(Core.qSkyline.run(spark, sf))
    // one Exchange SinglePartition is EXPECTED — the cross-band
    // prefix over the bounded bands frame (price-domain cardinality,
    // the O(#sources) broadcast rule); more would mean the corpus or
    // the distinct-price frame funneled into one task
    val n = "Exchange SinglePartition".r.findAllIn(p).length
    assert(n <= 1, s"$n single-partition exchanges:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("corpus_triplets and q_basket_lift never go all-pairs") {
    val p1 = plan(graft.queries.Pipeline.corpusTriplets.run(spark, sf))
    assert(!p1.contains("BroadcastNestedLoopJoin"), p1.take(2000))
    assert(!p1.contains("CartesianProduct"), p1.take(2000))
    spark.catalog.clearCache()
    val p2 = plan(Core.qBasketLift.run(spark, sf))
    // pair generation is the within-basket equi self-join
    assert(!p2.contains("BroadcastNestedLoopJoin") ||
      p2.contains("BuildRight, Cross"), p2.take(2000))
    assert(!p2.contains("CartesianProduct"), p2.take(2000))
    spark.catalog.clearCache()
  }

  test("er fuzzy matching: blocked equi-joins on the aggregated domain, never all-pairs") {
    val p1 = plan(graft.queries.Linkage.fuzzyNames.run(spark, sf))
    // candidates come from the blk equi-join; the levenshtein verify
    // is a post-join filter, never a join condition that degrades to
    // a nested-loop over the cross product
    assert(!p1.contains("BroadcastNestedLoopJoin"), p1.take(2000))
    assert(!p1.contains("CartesianProduct"), p1.take(2000))
    // the join runs on the aggregated name DOMAIN (a HashAggregate
    // feeds the join), not on raw part rows
    assert(p1.contains("HashAggregate"), p1.take(2000))
    spark.catalog.clearCache()
    val p2 = plan(graft.queries.Linkage.canonicalize.run(spark, sf))
    assert(!p2.contains("CartesianProduct"), p2.take(2000))
    // the row-level join rides the broadcast of the tiny mapping
    assert(p2.contains("BroadcastHashJoin"), p2.take(2000))
    spark.catalog.clearCache()
  }

  test("text_collocations: global top-20 is TakeOrderedAndProject, no full sort") {
    val p = plan(Text.collocations.run(spark, sf))
    assert(p.contains("TakeOrderedAndProject(limit=20"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"), p.take(2000))
    // one single-partition exchange is EXPECTED: the 1-row total
    // bigram count; more would mean a corpus-sized funnel
    val n = "Exchange SinglePartition".r.findAllIn(p).length
    assert(n <= 1, s"$n single-partition exchanges:\n${p.take(3000)}")
    spark.catalog.clearCache()
  }

  test("knn_bq: integer Hamming shortlist + topk_by ranks, no window sorts") {
    val p = plan(Vectors.knnBq.run(spark, sf))
    // both ranking stages (Hamming shortlist, cosine rerank) are the
    // bounded aggregate — a per-query row_number would single-task
    // sort n rows per query at scale
    assert(p.contains("topk_by"), p.take(2000))
    assert(!p.contains("windowspecdefinition"), p.take(2000))
    // the candidate filter is the codegen'd bit_count(xor) pair op
    assert(p.contains("bit_count"), p.take(2000))
    spark.catalog.clearCache()
  }

  test("events_ewma: one user_id shuffle feeds the single window pass") {
    val p = plan(Events.ewma.run(spark, sf))
    assert(!p.contains("Exchange SinglePartition"), p.take(2000))
    val n = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(n == 1, s"$n user_id exchanges:\n${p.take(3000)}")
    spark.catalog.clearCache()
  }

  test("q_profile reads the table ONCE for all columns") {
    val p = plan(Core.qProfile.run(spark, sf))
    // the melt must not decompose into a scan per profiled column
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"$scans lineitem scans:\n${p.take(2000)}")
    spark.catalog.clearCache()
  }

  test("events_autocorr and events_cusum: windows partition by type, no corpus funnel") {
    // one single-partition exchange each is EXPECTED: the 1-row
    // global (min, max) hour bounds behind the calendar spine; more
    // would mean the event stream itself funneled into one task.
    // Count DISTINCT plan ids — a cached relation's child plan is
    // PRINTED once per InMemoryTableScan site, but it is one exchange
    def singles(p: String): Set[String] =
      "Exchange SinglePartition.*?\\[plan_id=(\\d+)\\]".r
        .findAllMatchIn(p).map(_.group(1)).toSet
    val p1 = plan(Events.autocorr.run(spark, sf))
    assert(singles(p1).size <= 1,
      s"${singles(p1).size} single-partition exchanges:\n${p1.take(3000)}")
    assert(!p1.contains("CartesianProduct"), p1.take(2000))
    // clear BEFORE building: cusum's builder caches the series frame
    // (plan() clearing after run() would unregister it and split the
    // shared subtree back into two copies)
    spark.catalog.clearCache()
    val p2 = Events.cusum.run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(singles(p2).size <= 1,
      s"${singles(p2).size} single-partition exchanges:\n${p2.take(3000)}")
    spark.catalog.clearCache()
  }

  test("pipeline_e2e: one shared GlobalPrefix pass, no corpus-sized window funnels") {
    val p = plan(graft.queries.Pipeline.pipelineE2e.run(spark, sf))
    // the shuffle rank and packing offset ride ONE range-partitioned
    // __pid window (withCumSums two-value form) — a windowspec keyed
    // on the md5 shuffle key directly would be the single-task global
    // sort this composition exists to avoid
    assert(p.contains("windowspecdefinition(__pid"), p.take(3000))
    assert(!p.contains("windowspecdefinition(k#"), p.take(3000))
    // exactly ONE range exchange on the shuffle key: the shared
    // prefix pass. (doc_id range exchanges are the registered-query
    // presentation-sort contract — wordpieceApply's tail and this
    // query's own ORDER BY — and are not shuffle-key work.)
    val kRanges = "Exchange rangepartitioning\\(k#".r.findAllIn(p).length
    assert(kRanges == 1, s"$kRanges k-range exchanges:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    spark.catalog.clearCache()
  }

  test("batch analytics compute from the parquet inputs, never a pre-built result sidecar") {
    // r16 optimization-round rule: every bench/oracle invocation must
    // compute its answer from the parquet inputs. A mid-build r16
    // experiment persisted the near-dup pair frame and the triangle
    // list to /tmp sidecars keyed on the testdata dir, so the timed
    // queries scanned a precomputed copy of their own output built in
    // a PREVIOUS run/pass — precomputation across runs, not
    // optimization. Reverted; this pin keeps the class from
    // recurring: the heavy-enumeration queries' timed plans must scan
    // their true source tables and no graft_pairs/graft_graph
    // sidecar. (Model/index sidecars — IVF/PQ/NB/spell/… — are
    // declared engine features with their own lifecycle operators and
    // stay; this guard is about a query's own answer frame.)
    // dedup_clusters' positive source pin is empty: its min-label
    // fixpoint ends in a localCheckpoint (Scan ExistingRDD), which
    // legitimately truncates the lineage out of the final plan — the
    // negative sidecar assertion still applies.
    val cases = Seq(
      (Graph.triangles.run(spark, sf), "q_triangles", "lineitem"),
      (Graph.clustering.run(spark, sf), "graph_clustering", "lineitem"),
      (Dedup.ngramJaccard.run(spark, sf), "dedup_ngram_jaccard",
        "documents"),
      (Dedup.clusters.run(spark, sf), "dedup_clusters", ""),
      (Dedup.splitSafe.run(spark, sf), "corpus_split_safe", "documents"),
      (graft.queries.Pipeline.corpusTriplets.run(spark, sf),
        "corpus_triplets", "documents"))
    for ((df, n, src) <- cases) {
      val p = plan(df)
      assert(!p.contains("graft_pairs") && !p.contains("graft_graph"),
        s"$n reads a pre-built result sidecar:\n${p.take(2000)}")
      if (src.nonEmpty)
        assert(p.contains(s"$src.parquet"),
          s"$n does not compute from $src:\n${p.take(2000)}")
      spark.catalog.clearCache()
    }
  }

  test("registry sweep: every file scan reads the testdata inputs or a declared model/index sidecar") {
    // ADVICE r16 #4 / VERDICT r16 #9: the graft_pairs/graft_graph pin
    // above is name-based — a result sidecar under a NEW name would
    // sail past it. This sweep inverts the guard into a whitelist:
    // every FileSourceScan location in every registered query's plan
    // must sit under the parquet inputs, the row-group mirror of
    // them, a lifecycle lake root a sink query writes INSIDE its own
    // invocation, or one of the ten declared frozen-model/index
    // sidecar kinds. A new answer-frame sidecar (any /tmp/graft_*
    // path outside this list) fails the sweep by construction.
    val allowedRoots = Seq(
      "/root/testdata/",        // the parquet inputs
      "/tmp/graft_demo/",       // doc_load_files' generated demo corpus
      "/tmp/graft_mirror/",     // sources.Tables row-group mirror
      "/tmp/graft_sinks/",      // sink lifecycle lake roots
      "/tmp/graft_sqlcat_lake", // SQL-catalog lifecycle lake
      "/tmp/graft_warehouse",   // managed-table demos (bucketing)
      // declared frozen-model/index sidecars (build-once serving
      // state with lifecycle operators; oracles replay the model)
      "/tmp/graft_bm25/",
      "/tmp/graft_clusters/", "/tmp/graft_ivf/", "/tmp/graft_ivfpq/",
      "/tmp/graft_nbq/", "/tmp/graft_pca/", "/tmp/graft_pq/",
      "/tmp/graft_shidx/", "/tmp/graft_spell/", "/tmp/graft_subidx/",
      "/tmp/graft_unigram/")
    val loc = "Location: [A-Za-z]+\\(\\d+ paths?\\)\\[([^\\]]*)\\]".r
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
      spark.catalog.clearCache()
      val p = fn(spark, sf).queryExecution.executedPlan.toString
      for (m <- loc.findAllMatchIn(p); raw <- m.group(1).split(",\\s*")) {
        val path = raw.trim.stripPrefix("file:")
        // Plan lines are width-truncated by Spark's simpleString: a
        // long location list can lose its closing bracket, so the
        // capture may carry debris from the NEXT plan attribute, and
        // a long path prints as "/tmp/...". Police only entries that
        // look like whole paths (start with "/", no "..." marker) —
        // every root also appears untruncated in short-path scans of
        // the same query family, so the sweep still has teeth.
        if (path.startsWith("/") && !path.contains("...") &&
            !allowedRoots.exists(path.startsWith))
          offenders += s"$name -> $path"
      }
    }
    assert(offenders.isEmpty,
      s"undeclared scan locations:\n${offenders.distinct.mkString("\n")}")
    spark.catalog.clearCache()
  }

  test("q_winsor_mean: per-arm percentile rides GlobalPrefix, no single-partition funnel") {
    // the exact per-arm p99 must come from the range-partitioned
    // prefix pass — a Window.partitionBy(arm).orderBy(y) would funnel
    // each arm (half the customer base) through ONE task. The one
    // allowed SinglePartition is the final readout reduction over the
    // 2-row per-arm frame (bounded by construction, the q_skyline
    // rule); a second would mean the corpus or the value domain
    // funneled into one task.
    val p = plan(graft.queries.Stats.winsorMean.run(spark, sf))
    val n = "Exchange SinglePartition".r.findAllIn(p).length
    assert(n <= 1, s"$n single-partition exchanges:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("Exchange rangepartitioning"), p.take(2000))
    spark.catalog.clearCache()
  }

  test("round-14b additions join on keys, never nested loops") {
    // graph family: wedge/closure joins are equi-joins; link
    // prediction's degree cap must not fall back to a nested loop
    for (q <- Seq(Graph.clustering, Graph.linkPredict,
        Retrieval.prf, Core.qOutlierMad, Events.holt)) {
      val p = plan(q.run(spark, sf))
      assert(!p.contains("CartesianProduct"), s"${q.name}:\n${p.take(2000)}")
      spark.catalog.clearCache()
    }
    // the MAD screen broadcasts its #-event-type-row stat frames
    val pm = plan(Core.qOutlierMad.run(spark, sf))
    assert(pm.contains("BroadcastHashJoin"), pm.take(2000))
    spark.catalog.clearCache()
  }

  test("retrieval_bm25 probes the postings index: no corpus-wide aggregate over documents") {
    // the term statistics are built once (Bm25Index); the only
    // aggregate allowed over the documents scan is the doc_id < 5
    // question-term distinct
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    spark.catalog.clearCache()
    val plan = Retrieval.bm25.run(spark, sf).queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    def scans(p: org.apache.spark.sql.execution.SparkPlan, table: String) =
      helper.collect(p) {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains(table)) => f
      }
    assert(scans(plan, "/tmp/graft_bm25/").nonEmpty, plan.toString.take(3000))
    val aggs = helper.collect(plan) { case a: BaseAggregateExec => a }
    assert(aggs.nonEmpty, plan.toString.take(3000))
    for (a <- aggs; f <- scans(a, "documents"))
      assert(f.metadata.getOrElse("PushedFilters", "").contains("LessThan(doc_id,5)"),
        s"aggregate over an unfiltered documents scan:\n${a.toString.take(3000)}")
  }
}
