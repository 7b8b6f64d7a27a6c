package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Events, Retrieval}
import graft.sources.Tables
import graft.streaming.StreamOps

/** Streaming twins == batch results, driven by a file-source replay of
  * the events table through a memory sink. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  /** Replaying `epoch` through the twin's own `scope` publishes
    * nothing: publishEpoch answers None and the log keeps its latest
    * version. */
  private def assertReplayNoOp(root: String, scope: String,
      epoch: Long): Unit = {
    import graft.operators.Snapshots
    val before = Snapshots.latestVersion(root)
    assert(Snapshots.publishEpoch(Snapshots.readLog(spark, root), root,
      scope, epoch).isEmpty, "replayed epoch must not re-append")
    assert(Snapshots.latestVersion(root) == before)
  }

  /** events re-staged as micros-timestamp parquet for readStream. */
  private lazy val stagedDir: String = {
    val dir = Files.createTempDirectory("graft-stream").toString
    Tables.events(spark, sf).write.mode("overwrite").parquet(dir)
    dir
  }

  private def runStream(name: String, streamed: DataFrame): DataFrame = {
    val q = streamed.writeStream
      .format("memory").queryName(name).outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  private def asSet(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  private lazy val streamEvents: DataFrame = {
    val schema = Tables.events(spark, sf).schema
    spark.readStream.schema(schema).parquet(stagedDir)
  }

  test("windowed aggregation: stream == batch") {
    val got = runStream("win_agg", StreamOps.windowAgg(streamEvents))
    val want = Events.windowAgg.run(spark, sf)
      .select("window_start", "event_type", "n_events", "sum_value")
    assert(asSet(got) == asSet(want))
  }

  test("session windows: stream == batch gap sessionization") {
    val got = runStream("sess", StreamOps.sessionAgg(streamEvents))
    // batch twin aggregated to the same shape
    val want = Events.sessionize.run(spark, sf)
      .select(col("user_id"), col("session_start"), col("n_events"),
        col("sum_value"))
    assert(asSet(got) == asSet(want))
  }

  test("exactly-30-minute gap sessionizes the same in stream and batch") {
    // Boundary contract (pinned on both sides): a gap of EXACTLY the
    // 30-min threshold MERGES — empirically session_window extends a
    // session for an event landing exactly at prev_ts + gap — while a
    // gap one second past it SPLITS. Batch encodes strictly-greater
    // (Events.sessionizeDf) to match.
    val base = 1700000000000000L // micros
    def runBoth(gaps: Seq[Long]): (Set[(Long, Long)], Set[(Long, Long)]) = {
      val offsets = gaps.scanLeft(0L)(_ + _)
      val offCol = offsets.zipWithIndex.foldLeft(lit(0L)) {
        case (acc, (off, i)) => when(col("id") === i, off * 1000000L).otherwise(acc)
      }
      val ev = spark.range(offsets.size).select(
        lit(7L).as("user_id"),
        timestamp_micros(lit(base) + offCol).as("ts"),
        lit(1.0).as("value"))
      val batch = Events.sessionizeDf(ev)
        .select(col("session_start"), col("n_events")).collect()
        .map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toSet
      val stream = StreamOps.sessionAgg(ev) // session_window works on batch DF
        .select(col("session_start"), col("n_events")).collect()
        .map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toSet
      (batch, stream)
    }
    // gaps: exactly 1800s (merges), 1799s (merges) → ONE session of 3
    val (mBatch, mStream) = runBoth(Seq(1800L, 1799L))
    assert(mBatch == mStream)
    assert(mBatch.size == 1)
    assert(mBatch.map(_._2) == Set(3L))
    // gaps: 1801s (splits), 1799s (merges) → sessions of 1 and 2
    val (sBatch, sStream) = runBoth(Seq(1801L, 1799L))
    assert(sBatch == sStream)
    assert(sBatch.size == 2)
    assert(sBatch.map(_._2) == Set(1L, 2L))
  }

  test("streaming dedup: first event per user == batch distinct users") {
    val deduped = streamEvents
      .withWatermark("ts", "1 hour")
      .dropDuplicates("user_id")
    val q = deduped.writeStream.format("memory").queryName("dedup_s")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val gotUsers = spark.table("dedup_s").select("user_id")
      .collect().map(_.getLong(0)).toSet
    val wantUsers = Tables.events(spark, sf).select("user_id")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(gotUsers == wantUsers)
  }

  test("file sink + checkpoint: exactly-once across a restart") {
    val base = Files.createTempDirectory("graft-ckpt").toString
    val (in, out, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    val all = Tables.events(spark, sf)
      .select("event_id", "user_id", "ts").cache()
    val total = all.count()
    // first half arrives
    all.filter(col("event_id") % 2 === 0).write.parquet(in)
    val schema = spark.read.parquet(in).schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(in)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    val firstCount = spark.read.parquet(out).count()
    assert(firstCount > 0 && firstCount < total)
    // second half arrives; a NEW query restarts from the checkpoint
    all.filter(col("event_id") % 2 === 1).write.mode("append").parquet(in)
    runOnce()
    val result = spark.read.parquet(out)
    assert(result.count() == total)                       // nothing lost
    assert(result.select("event_id").distinct().count() == total) // nothing duplicated
  }

  test("stream-stream interval self-join == batch equivalent") {
    // purchases joined to the same user's clicks within the previous
    // 10 minutes — the canonical stream-stream interval join
    val clicks = streamEvents.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "30 minutes")
    val purchases = streamEvents.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "30 minutes")
    val joined = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES"))
      .select(col("purchase_id"), col("click_id"))
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = asSet(spark.table("ss_join"))

    val ev = Tables.events(spark, sf)
    val bc = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    val bp = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    val want = asSet(bp.join(bc,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES"))
      .select(col("purchase_id"), col("click_id")))
    assert(got == want)
  }

  test("stateful funnel: flatMapGroupsWithState == batch funnel stages") {
    import spark.implicits._
    val msgs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsMicros"), col("event_type"))
      .as[StreamOps.Msg]
    val got = StreamOps.funnelState(spark, msgs).toDF()
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val want = Events.funnel.run(spark, sf)
      .select("user_id", "funnel_stage")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(got == want)
    assert(want.values.exists(_ == 3)) // the corpus actually completes funnels
  }

  test("stateful SCD2: emitted change rows == batch dimension intervals") {
    import spark.implicits._
    val msgs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsMicros"), col("event_type"))
      .as[StreamOps.Msg]
    val got = StreamOps.scd2State(spark, msgs).toDF()
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    val want = Events.scd2.run(spark, sf)
      .select(col("user_id"), col("version").cast("long"), col("status"),
        unix_micros(col("valid_from")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(got == want)
    assert(want.exists(_._2 >= 2)) // the corpus actually has status changes
  }

  test("stateful running stats: integer state == batch anomaly aggregate") {
    import spark.implicits._
    val cents = expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
    val msgs = Tables.events(spark, sf)
      .select(col("user_id"), cents.as("valueCents"))
      .as[StreamOps.StatMsg]
    val got = StreamOps.statsState(spark, msgs).toDF()
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val want = Tables.events(spark, sf)
      .select(col("user_id"), cents.as("c"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("q"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("stateful running stats CARRY across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamOps.StatMsg]
    val q = StreamOps.statsState(spark, ms.toDS()).toDF()
      .writeStream.format("memory").queryName("stats_twin")
      .outputMode("append").start()
    try {
      ms.addData(StreamOps.StatMsg(1, 100), StreamOps.StatMsg(1, 200),
        StreamOps.StatMsg(2, 50))
      q.processAllAvailable()
      ms.addData(StreamOps.StatMsg(1, 300), StreamOps.StatMsg(2, 50))
      q.processAllAvailable()
    } finally q.stop()
    // last emission per user = state accumulated over BOTH batches
    val last = spark.table("stats_twin").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).maxBy(_._1) }
    assert(last(1L) == ((3L, 600L, 140000L)))
    assert(last(2L) == ((2L, 100L, 5000L)))
  }

  test("stateful attribution: stream credits == events_attribution " +
      "across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the whole events table as AttrMsgs, split into two batches at
    // the global ts midpoint (per-user ts-ordered arrival — the
    // twin's disclosed parity contract)
    val msgs = Tables.events(spark, sf)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsMicros"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("valueCents"))
      .as[StreamOps.AttrMsg].collect().sortBy(m => (m.tsMicros, m.event_id))
    val mid = msgs(msgs.length / 2).tsMicros
    val (b1, b2) = msgs.partition(_.tsMicros <= mid)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamOps.AttrMsg]
    val q = StreamOps.attributionState(spark, ms.toDS()).toDF()
      .writeStream.format("memory").queryName("attr_twin")
      .outputMode("append").start()
    try {
      ms.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      ms.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("attr_twin")
      .groupBy(col("touch_type"), col("model"))
      .agg((sum(col("creditCents")).cast("long") / 100.0).as("credited"),
        sum(when(col("creditCents") > 0, 1L).otherwise(0L)).cast("long")
          .as("n_credited"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getLong(3)))).toMap
    val want = graft.queries.Events.attribution.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getLong(3)))).toMap
    assert(got == want, s"stream=$got batch=$want")
  }

  test("stateful EWMA: true recursion carries across micro-batches, " +
      "batch truncation tracks it") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val msgs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsMicros"), col("value"))
      .as[StreamOps.EwmaMsg].collect().sortBy(m => (m.tsMicros, m.event_id))
    val mid = msgs(msgs.length / 2).tsMicros
    val (b1, b2) = msgs.partition(_.tsMicros <= mid)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamOps.EwmaMsg]
    val q = StreamOps.ewmaState(spark, ms.toDS()).toDF()
      .writeStream.format("memory").queryName("ewma_twin")
      .outputMode("append").start()
    try {
      ms.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      ms.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ewma_twin").collect()
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    // reference: the same per-user (ts, event_id)-ordered fold in
    // plain Scala — identical operation order, so equality is EXACT.
    // Keeps each event's per-user position for the truncation bound.
    val ref = msgs.groupBy(_.user_id).values.toSeq.flatMap { us =>
      var s = Option.empty[Double]
      us.sortBy(m => (m.tsMicros, m.event_id)).zipWithIndex.map {
        case (m, i) =>
          s = Some(s.fold(m.value)(p => 0.25 * m.value + 0.75 * p))
          (m.event_id, s.get, i)
      }
    }
    val want = ref.map(t => t._1 -> t._2).toMap
    assert(got.size == msgs.length && got == want,
      s"stream fold diverged: ${got.size} rows")
    // the registered batch query's 8-term truncation tracks the true
    // recursion within the truncated tail weight (0.75^8 of the value
    // range — both are convex combinations of the same history, the
    // recursion putting tail mass 0.75^8 outside the batch's window).
    // Holds from the 9th event per user on; earlier rows renormalize
    // over shorter histories with different weight profiles.
    val batch = graft.queries.Events.ewma.run(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val range = msgs.map(_.value).max - msgs.map(_.value).min
    val settled = ref.filter(_._3 >= 8)
    assert(settled.nonEmpty)
    val worst = settled.map { case (id, s, _) =>
      math.abs(s - batch(id)) }.max
    assert(worst <= math.pow(0.75, 8) * range + 1e-6,
      s"truncation bound violated: $worst")
  }

  test("histogram index ingest: merged quantiles equal the single-shot reference; replay appends nothing") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val width = 250000L
    val all = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val b1 = all.filter(_._1 % 2 == 0).map(_._2)
    val b2 = all.filter(_._1 % 2 == 1).map(_._2)
    val root = "/tmp/graft_hist_spec_idx"
    graft.operators.LakeFs.rmTree(root)
    graft.operators.LakeFs.rmTree(root + "_ckpt")
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    val q = StreamOps.histIngest(spark, ms.toDS().toDF("v"), width, root)
    try {
      ms.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      ms.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    // two committed versions, merged counts = single-shot histogram
    assert(graft.operators.Snapshots.latestVersion(root).contains(2L))
    val merged = graft.operators.HistIndex.merged(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = all.map(_._2).groupBy(_ / width).view
      .mapValues(_.length.toLong).toMap
    assert(merged == want, "merged histogram diverged")
    // exact grid quantiles: smallest bucket with 100·cum ≥ p·n
    val qs = graft.operators.HistIndex
      .quantiles(spark, root, width, Seq(50, 90, 99))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    val sorted = all.map(_._2).sorted
    def refQ(p: Int): Long = {
      val n = sorted.length.toLong
      val grid = want.toSeq.sortBy(_._1)
      var cum = 0L
      grid.collectFirst {
        case (b, c) if { cum += c; cum * 100 >= n * p } => b * width
      }.get
    }
    Seq(50, 90, 99).foreach(p =>
      assert(qs(p) == refQ(p), s"p$p diverged: ${qs(p)} vs ${refQ(p)}"))
    // a torn replay of epoch 1 is a no-op
    assertReplayNoOp(root, "hist", 1L)
    assert(graft.operators.Snapshots.latestVersion(root).contains(2L))
  }

  test("streaming quantile monitor: per-epoch emissions equal one-shot quantiles on the merged log") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val width = 250000L
    val all = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val b1 = all.filter(_._1 % 2 == 0).map(_._2)
    val b2 = all.filter(_._1 % 2 == 1).map(_._2)
    val root = "/tmp/graft_histq_spec_idx"
    val outDir = "/tmp/graft_histq_spec_out"
    Seq(root, root + "_qckpt", outDir)
      .foreach(graft.operators.LakeFs.rmTree)
    val ps = Seq(50, 90, 99)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    val q = StreamOps.histQuantileIngest(
      spark, ms.toDS().toDF("v"), width, root, outDir, ps)
    try {
      ms.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      ms.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.read.parquet(outDir)
    // two epochs emitted, ps rows each (partition-column inference
    // types small epoch dirs as INT — normalize)
    val epochs = emitted.select(col("epoch").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(epochs.length == 2, s"expected 2 epochs, got ${epochs.toSeq}")
    // the FINAL epoch's quantiles == the one-shot read over the
    // merged log (the monitor's read path IS the batch read path)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Int, Long, Long, Long)] =
      df.select(col("p"), col("bucket"), col("lo"), col("n"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    val last = rows(emitted.filter(col("epoch") === epochs.max))
    val oneShot = rows(
      graft.operators.HistIndex.quantiles(spark, root, width, ps))
    assert(last == oneShot, s"monitor diverged: $last vs $oneShot")
    // epoch-0 emission covers only b1 — recompute the reference from
    // the first committed version alone
    val q1 = rows(emitted.filter(col("epoch") === epochs.min))
    assert(q1.map(_._1) == ps.toSet && q1.forall(_._4 == b1.length.toLong),
      s"epoch-0 emission wrong: $q1")
  }

  test("streaming winsorized monitor: emissions equal one-shot read AND an independent grid winsorization") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val width = 250000L
    val all = Tables.load(spark, sf, "orders")
      .select((col("o_orderkey") % 2).as("arm"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("y"),
        col("o_orderkey").as("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val b1 = all.filter(_._3 % 2 == 0).map(t => (t._1, t._2))
    val b2 = all.filter(_._3 % 2 == 1).map(t => (t._1, t._2))
    val root = "/tmp/graft_winsor_spec_idx"
    val outDir = "/tmp/graft_winsor_spec_out"
    Seq(root, root + "_wckpt", outDir)
      .foreach(graft.operators.LakeFs.rmTree)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val q = StreamOps.winsorIngest(
      spark, ms.toDS().toDF("arm", "y"), width, root, outDir)
    try {
      ms.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      ms.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.read.parquet(outDir)
    val epochs = emitted.select(col("epoch").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(epochs.length == 2, s"expected 2 epochs, got ${epochs.toSeq}")
    def rows(df: org.apache.spark.sql.DataFrame)
        : Map[Long, (Long, Long, Long, Double)] =
      df.select(col("arm"), col("n"), col("b99"), col("lo99"),
          col("win_mean")).collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toMap
    val last = rows(emitted.filter(col("epoch") === epochs.max))
    // read-path parity: final emission == one-shot merged read
    val oneShot = rows(
      graft.operators.HistIndex.winsorMeans(spark, root, width))
    assert(last == oneShot, s"monitor diverged: $last vs $oneShot")
    // semantic parity: independent Scala grid-winsorization of the
    // raw rows (cap at the p99 bucket's lower bound)
    for (arm <- Seq(0L, 1L)) {
      val ys = all.filter(_._1 == arm).map(_._2).sorted
      val n = ys.length.toLong
      val buckets = ys.map(_ / width)
      val thr = (99L * n + 99L) / 100L
      val b99 = buckets.sorted.apply((thr - 1).toInt)
      val lo99 = b99 * width
      val winSum = ys.map(y => if (y / width < b99) y else lo99).sum
      val wm = BigDecimal(winSum.toDouble / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val got = last(arm)
      assert(got._1 == n && got._2 == b99 && got._3 == lo99,
        s"arm $arm: $got vs (n=$n b99=$b99 lo99=$lo99)")
      assert(math.abs(got._4 - wm) < 1e-6, s"arm $arm: ${got._4} vs $wm")
    }
    // torn replay of the last epoch is a no-op
    assertReplayNoOp(root, "winsor", epochs.max)
  }

  test("streaming A/B monitor: merged power sums equal the one-shot batch readout") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val all = Tables.load(spark, sf, "orders")
      .select((col("o_orderkey") % 2).as("arm"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("y"),
        col("o_orderkey").as("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val b1 = all.filter(_._3 % 2 == 0).map(t => (t._1, t._2))
    val b2 = all.filter(_._3 % 2 == 1).map(t => (t._1, t._2))
    val root = "/tmp/graft_abmon_spec_idx"
    val outDir = "/tmp/graft_abmon_spec_out"
    Seq(root, root + "_abckpt", outDir)
      .foreach(graft.operators.LakeFs.rmTree)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val q = StreamOps.abMonitorIngest(
      spark, ms.toDS().toDF("arm", "y"), root, outDir)
    try {
      ms.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      ms.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.read.parquet(outDir)
    val epochs = emitted.select(col("epoch").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(epochs.length == 2, s"expected 2 epochs, got ${epochs.toSeq}")
    def row(df: org.apache.spark.sql.DataFrame)
        : (Long, Long, Double, Int, Double, Double) = {
      val r = df.select(col("n_c"), col("n_t"), col("srm_chisq"),
        col("srm_flag"), col("diff"), col("z")).collect().head
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3),
        r.getDouble(4), r.getDouble(5))
    }
    val last = row(emitted.filter(col("epoch") === epochs.max))
    // read-path parity: the final emission == the shared read over
    // the merged log
    val oneShot = row(StreamOps.abReadoutOf(
      graft.operators.Snapshots.readLog(spark, root)))
    assert(last == oneShot, s"monitor diverged: $last vs $oneShot")
    // semantic parity: a direct single-shot computation over ALL
    // rows through the same dataflow (power sums are the sufficient
    // statistic — batch boundaries must not matter)
    val direct = row(StreamOps.abReadoutOf(
      all.map(t => (t._1, t._2)).toSeq.toDF("arm", "y")
        .groupBy(col("arm"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
          sum(col("y").cast("decimal(19,0)")
            * col("y").cast("decimal(19,0)"))
            .cast("decimal(38,0)").as("syy"))))
    assert(last == direct, s"batch-boundary drift: $last vs $direct")
    // counts reconcile with the raw rows
    assert(last._1 == all.count(_._1 == 0L)
      && last._2 == all.count(_._1 == 1L))
    // torn replay no-op
    assertReplayNoOp(root, "abmon", epochs.max)
  }

  test("streaming A/B monitor over the ab1 spend panel equals q_ab_readout and q_srm") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.queries.{Experiment, Stats}
    // the per-customer (arm, y) rows q_ab_readout reads, in two epochs
    val panel = Experiment.spendPanel(spark, sf, Experiment.arm.as("arm"))
      .select(col("c_custkey"), col("arm"), col("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val root = "/tmp/graft_abparity_spec_idx"
    val outDir = "/tmp/graft_abparity_spec_out"
    Seq(root, root + "_abckpt", outDir)
      .foreach(graft.operators.LakeFs.rmTree)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val q = StreamOps.abMonitorIngest(
      spark, ms.toDS().toDF("arm", "y"), root, outDir)
    try {
      for (half <- 0 to 1) {
        ms.addData(panel.filter(_._1 % 2 == half).map(t => (t._2, t._3))
          .toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val emitted = spark.read.parquet(outDir)
    val epochs = emitted.select(col("epoch").cast("long")).distinct()
      .collect().map(_.getLong(0))
    assert(epochs.length == 2, s"expected 2 epochs, got ${epochs.toSeq}")
    val live = emitted.filter(col("epoch") === epochs.max)
      .select(col("n_c"), col("n_t"), col("diff"), col("z"),
        col("srm_chisq"), col("srm_flag"))
      .collect().head
    val ab = Stats.abReadout.run(spark, sf)
      .select(col("n_c"), col("n_t"), col("diff_raw"), col("t_raw"))
      .collect().head
    assert((live.getLong(0), live.getLong(1), live.getDouble(2),
        live.getDouble(3)) ==
      (ab.getLong(0), ab.getLong(1), ab.getDouble(2), ab.getDouble(3)),
      s"stream $live vs q_ab_readout $ab")
    val srm = Stats.srm.run(spark, sf).filter(col("segment") === "_global")
      .select(col("chisq"), col("srm_flag")).collect().head
    assert((live.getDouble(4), live.getInt(5)) ==
      (srm.getDouble(0), srm.getInt(1)), s"stream $live vs q_srm $srm")
    Seq(root, root + "_abckpt", outDir)
      .foreach(graft.operators.LakeFs.rmTree)
  }

  test("streaming bootstrap CI: merged-replicate interval equals the one-shot batch computation") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.functions.PoissonBoot
    val all = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val b1 = all.filter(_._1 % 2 == 0)
    val b2 = all.filter(_._1 % 2 == 1)
    val root = "/tmp/graft_bootci_spec_idx"
    val outDir = "/tmp/graft_bootci_spec_out"
    Seq(root, root + "_ckpt", outDir)
      .foreach(graft.operators.LakeFs.rmTree)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val q = StreamOps.bootCiIngest(spark,
      ms.toDS().toDF("k", "v"), "specboot", root, outDir)
    try {
      ms.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      ms.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.read.parquet(outDir)
    val lastEpoch = emitted.select(col("epoch").cast("long")).distinct()
      .collect().map(_.getLong(0)).max
    val got = emitted.filter(col("epoch").cast("long") === lastEpoch)
      .select(col("n"), col("mean_v"), col("b_reps"), col("ci_lo"),
        col("ci_hi"))
      .collect().head
    // one-shot reference: the SAME weight expressions over all rows
    // in one batch frame — the monitor's claim is stream == batch
    val flat = all.toSeq.toDF("k", "v")
      .select(col("k"), col("v"),
        explode(sequence(lit(0L), lit(PoissonBoot.B - 1L))).as("b"))
    val w = PoissonBoot.weight(
      PoissonBoot.uniform("specboot", col("k"), col("b")))
    val mbs = flat.select(col("b"), col("v"), w.as("w"))
      .groupBy(col("b"))
      .agg(sum(col("w") * col("v")).as("swx"), sum(col("w")).as("sw"))
      .filter(col("sw") > 0)
      .select(col("b"),
        (round(col("swx").cast("double") / col("sw"), 6) + 0).as("mb"))
      .collect().map(r => (r.getDouble(1), r.getLong(0))).sorted
    assert(got.getLong(2) == PoissonBoot.B.toLong)
    assert(got.getLong(0) == all.length.toLong)
    assert(got.getDouble(3) == mbs(1)._1,
      s"ci_lo ${got.getDouble(3)} != ${mbs(1)._1}")
    assert(got.getDouble(4) == mbs(PoissonBoot.B - 2)._1,
      s"ci_hi ${got.getDouble(4)} != ${mbs(PoissonBoot.B - 2)._1}")
    // replaying epoch 0 appends nothing
    assertReplayNoOp(root, "bootci", 0L)
  }

  test("streaming KS drift scoring: per-epoch score equals the exact grid reference") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val width = 250000L
    val all = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val baseVals = all.filter(_._1 % 3 == 0).map(_._2)
    val b1 = all.filter(_._1 % 3 == 1).map(_._2)
    val b2 = all.filter(_._1 % 3 == 2).map(_._2)
    val baseRoot = "/tmp/graft_ks_spec_base"
    val outDir = "/tmp/graft_ks_spec_out"
    graft.operators.LakeFs.rmTree(baseRoot)
    graft.operators.LakeFs.rmTree(outDir)
    graft.operators.LakeFs.rmTree(outDir + "_ckpt")
    StreamOps.ksBaselineFit(spark, baseVals.toSeq.toDF("v"), width,
      baseRoot)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    val q = StreamOps.ksDriftIngest(spark, ms.toDS().toDF("v"),
      baseRoot, width, outDir)
    try {
      ms.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      ms.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("epoch") ->
        ((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == Set(0L, 1L))
    // exact grid reference: cumulative integer counts over the
    // shared bucket grid, D as the integer cross-product max
    def ref(batch: Array[Long]): (Long, Long, Long, Double) = {
      val c0 = baseVals.groupBy(_ / width).view.mapValues(_.length.toLong)
      val cb = batch.groupBy(_ / width).view.mapValues(_.length.toLong)
      val grid = (c0.keySet ++ cb.keySet).toSeq.sorted
      val n0 = baseVals.length.toLong
      val nb = batch.length.toLong
      var a0 = 0L; var ab = 0L; var d = 0L
      grid.foreach { g =>
        a0 += c0.getOrElse(g, 0L); ab += cb.getOrElse(g, 0L)
        d = math.max(d, math.abs(ab * n0 - a0 * nb))
      }
      (nb, n0, d, d.toDouble / (nb.toDouble * n0))
    }
    Seq(0L -> b1, 1L -> b2).foreach { case (ep, batch) =>
      val (nb, n0, d, ks) = ref(batch)
      val (gnb, gn0, gd, gks) = got(ep)
      assert((gnb, gn0, gd) == ((nb, n0, d)), s"epoch $ep ints diverged")
      assert(math.abs(gks - ks) < 1e-9, s"epoch $ep ks diverged")
    }
  }

  test("stateful Holt-Winters: season queue carries across micro-batches, including mid-warm-up") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val wT = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("h"))
    val msgs = graft.queries.Events.hourlySeries(spark, sf)
      .select(col("event_type").as("key"),
        row_number().over(wT).cast("long").as("seq_id"),
        col("c").cast("double").as("value"))
      .as[StreamOps.HwMsg].collect().sortBy(m => (m.key, m.seq_id))
    // split INSIDE the 24-point warm-up: the buffered season state
    // itself must survive the micro-batch boundary
    val (b1, b2) = msgs.partition(_.seq_id <= 15)
    assert(b1.nonEmpty && b2.nonEmpty)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamOps.HwMsg]
    val q = StreamOps.hwState(spark, ms.toDS()).toDF()
      .writeStream.format("memory").queryName("hw_twin")
      .outputMode("append").start()
    try {
      ms.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      ms.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("hw_twin").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    // single-shot fold over the full series → EXACT equality
    val want = msgs.groupBy(_.key).flatMap { case (k, pts) =>
      StreamOps.hwFold(k, pts.toSeq, (0, 0.0, 0.0, Vector.empty))._2
        .map(o => (o.key, o.seq_id) ->
          ((o.level, o.trend, o.seasonal, o.forecast_next)))
    }
    assert(got.size == want.size && got == want,
      s"hw fold diverged: ${got.size} vs ${want.size} rows")
  }

  test("stateful Holt forecast: level+trend recursion carries across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val msgs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsMicros"), col("value"))
      .as[StreamOps.EwmaMsg].collect().sortBy(m => (m.tsMicros, m.event_id))
    val mid = msgs(msgs.length / 2).tsMicros
    val (b1, b2) = msgs.partition(_.tsMicros <= mid)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamOps.EwmaMsg]
    val q = StreamOps.holtState(spark, ms.toDS()).toDF()
      .writeStream.format("memory").queryName("holt_twin")
      .outputMode("append").start()
    try {
      ms.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      ms.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("holt_twin").collect()
      .map(r => r.getLong(1) -> ((r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))).toMap
    // reference fold, identical operation order → EXACT equality
    val want = msgs.groupBy(_.user_id).values.toSeq.flatMap { us =>
      var n = 0; var l = 0.0; var b = 0.0
      us.sortBy(m => (m.tsMicros, m.event_id)).flatMap { m =>
        if (n == 0) { l = m.value; b = 0.0 }
        else if (n == 1) { b = m.value - l; l = m.value }
        else {
          val lp = l
          l = 0.25 * m.value + 0.75 * (l + b)
          b = 0.125 * (l - lp) + 0.875 * b
        }
        n += 1
        if (n >= 2) Some(m.event_id -> ((l, b, l + b))) else None
      }
    }.toMap
    assert(got.size == want.size && got == want,
      s"holt fold diverged: ${got.size} vs ${want.size} rows")
  }

  test("streaming CUSUM scoring: frozen-stats state == the registered batch query") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the batch query's own series dataflow feeds the stream, and the
    // frozen stats are the query's own exact-sum formula
    val series = graft.queries.Events.hourlySeries(spark, sf)
      .select(col("event_type"), unix_micros(col("h")).as("hm"), col("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val stats = series.groupBy(_._1).map { case (k, rows) =>
      val n = rows.length.toLong
      val sx = rows.map(_._3).sum
      val sxx = rows.map(x => x._3 * x._3).sum
      val mean = sx.toDouble / n
      val sd = math.sqrt((n.toDouble * sxx - sx.toDouble * sx)
        / (n.toDouble * (n - 1)))
      k -> ((mean, sd))
    }
    val msgs = series.map { case (k, hm, c) =>
      StreamOps.CusumMsg(k, hm, hm, c.toDouble) }
      .sortBy(m => (m.tsMicros, m.seq_id))
    val mid = msgs(msgs.length / 2).tsMicros
    val (b1, b2) = msgs.partition(_.tsMicros <= mid)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamOps.CusumMsg]
    val q = StreamOps.cusumScoreState(spark, ms.toDS(), stats).toDF()
      .writeStream.format("memory").queryName("cusum_twin")
      .outputMode("append").start()
    try {
      ms.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      ms.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble + 0.0
    val got = spark.table("cusum_twin").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r6(r.getDouble(2)), r.getBoolean(3)))).toMap
    val want2 = graft.queries.Events.cusum.run(spark, sf)
      .select(col("event_type"), unix_micros(col("hour")).as("hm"),
        col("cusum"), col("alarm"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2) + 0.0, r.getBoolean(3)))).toMap
    assert(got.size == want2.size && got == want2,
      s"stream cusum diverged: ${got.size} vs ${want2.size}")
  }

  test("stateful trailing-hour rolling: flatMapGroupsWithState == batch RANGE frame") {
    import spark.implicits._
    val cents = expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
    val msgs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsMicros"), cents.as("valueCents"))
      .as[StreamOps.RollMsg]
    // cents/100.0 and the batch DECIMAL(18,2)→DOUBLE cast are both the
    // correctly-rounded double of the same rational — bit-equal
    val got = StreamOps.rollingState(spark, msgs).toDF()
      .select(col("event_id"), col("user_id"), col("n_1h"),
        (col("sum_cents") / 100.0).as("sum_1h"))
    val want = Events.rolling.run(spark, sf)
      .select("event_id", "user_id", "n_1h", "sum_1h")
    assert(asSet(got) == asSet(want))
  }

  test("stateful rolling CARRY across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val hour = 3600000000L
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamOps.RollMsg]
    val q = StreamOps.rollingState(spark, ms.toDS()).toDF()
      .writeStream.format("memory").queryName("roll_twin")
      .outputMode("append").start()
    try {
      ms.addData(StreamOps.RollMsg(1, 10, 0L, 100),
        StreamOps.RollMsg(1, 11, hour, 200)) // exactly 1h apart
      q.processAllAvailable()
      ms.addData(StreamOps.RollMsg(1, 12, hour + hour / 2, 400))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("roll_twin").collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(rows(10L) == ((1L, 100L)))
    // the RANGE bound is inclusive: an event exactly 1h earlier counts
    assert(rows(11L) == ((2L, 300L)))
    // state carried from batch 1: event 10 evicted, 11 retained
    assert(rows(12L) == ((2L, 600L)))
  }

  test("stateful history replay: flatMapGroupsWithState == batch window") {
    import spark.implicits._
    val msgs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsMicros"), col("event_type"))
      .as[StreamOps.Msg]
    val got = StreamOps.historyState(spark, msgs).toDF()
      .select("user_id", "event_id", "history_len")
    val want = Retrieval.conversationReplay.run(spark, sf)
      .select("user_id", "event_id", "history_len")
    assert(asSet(got) == asSet(want))
  }

  test("streaming shingle ingest: foreachBatch append + pairs == batch incremental across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val idxDir = "/tmp/graft_shidx_stream_spec"
    val outDir = "/tmp/graft_shidx_stream_out"
    Seq(idxDir, outDir, outDir + "_ckpt", "/tmp/graft_shidx_stream_batch")
      .foreach(graft.operators.LakeFs.rmTree)
    // pre-existing index corpus: near-identical A=1/B=2 plus ten
    // unrelated docs keeping their shared shingles under the hot cap
    val base = (0 until 40).map(i => s"t$i")
    val idxDocs = Seq(
      1L -> base.mkString(" "),
      2L -> (base.dropRight(1) :+ "zz").mkString(" ")) ++
      Seq(3L, 5L, 6L, 7L, 8L, 10L, 11L, 12L, 13L, 15L).map(id =>
        id -> (0 until 40).map(i => s"u${id}x$i").mkString(" "))
    // two micro-batches, each one new doc copying A: the (24, 29)
    // pair CROSSES the micro-batch boundary — it must surface when 29
    // arrives, because 24 is index state by then
    val b1 = Seq(24L -> base.mkString(" "))
    val b2 = Seq(29L -> base.mkString(" "))
    graft.operators.ShingleIndex.build(spark,
      graft.queries.Dedup.hashedShinglesOf(idxDocs.toDF("doc_id", "text")),
      idxDir)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamOps.shingleIngest(spark,
      ms.toDF().toDF("doc_id", "text"), idxDir, outDir)
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // one-shot batch ingest of the same docs (new = id % 5 == 4)
    val want = graft.queries.Dedup.shingleIncrementalOf(spark,
        (idxDocs ++ b1 ++ b2).toDF("doc_id", "text"),
        "/tmp/graft_shidx_stream_batch")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == want, s"missing=${want.keySet -- got.keySet} " +
      s"extra=${got.keySet -- want.keySet}")
    assert(got.contains((24L, 29L)), "cross-micro-batch pair must surface")
    assert(got((1L, 24L)) == 1.0 && got((24L, 29L)) == 1.0, got)
    // foreachBatch retry: replaying the last epoch is a no-op — the
    // epoch tag inside the committed versions skips the shingle
    // append (whose raw intersection counts would NOT absorb
    // duplicate rows) and the epoch-partition overwrite replaces, not
    // appends, the output
    val shRows = graft.operators.ShingleIndex.shingles(spark, idxDir).count()
    StreamOps.shingleIngestBatch(spark, b2.toDF("doc_id", "text"), 1L,
      idxDir, outDir)
    assert(graft.operators.ShingleIndex.shingles(spark, idxDir).count() == shRows,
      "epoch replay re-appended shingles")
    assert(spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap == got,
      "epoch replay changed the emitted pairs")
  }

  /** The planted shingle corpus of the tests below: near-identical
    * A=1/B=2 (Jaccard 37/39) plus ten unrelated docs keeping their
    * shared shingles under the hot cap. */
  private def shingleIndexDocs: Seq[(Long, String)] = {
    val base = (0 until 40).map(i => s"t$i")
    Seq(1L -> base.mkString(" "),
      2L -> (base.dropRight(1) :+ "zz").mkString(" ")) ++
      Seq(3L, 5L, 6L, 7L, 8L, 10L, 11L, 12L, 13L, 15L).map(id =>
        id -> (0 until 40).map(i => s"u${id}x$i").mkString(" "))
  }

  /** Every row of the shingle index at `dir`, duplicates kept. */
  private def shingleState(dir: String) = {
    import graft.operators.ShingleIndex
    def rows(df: DataFrame) =
      df.collect().map(_.toSeq.map(_.asInstanceOf[Long])).toSeq
        .sortBy(_.mkString(","))
    (rows(ShingleIndex.shingles(spark, dir)), rows(ShingleIndex.sizes(spark, dir)),
      rows(ShingleIndex.stop(spark, dir)))
  }

  test("streaming shingle ingest over an unbuilt index dir builds from its first non-empty batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idxDir = "/tmp/graft_shidx_boot_stream"
    val outDir = "/tmp/graft_shidx_boot_stream_out"
    val built = "/tmp/graft_shidx_boot_built"
    Seq(idxDir, outDir, outDir + "_ckpt", built)
      .foreach(graft.operators.LakeFs.rmTree)
    // an empty batch builds nothing and emits nothing
    StreamOps.shingleIngestBatch(spark,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), 0L, idxDir, outDir)
    assert(graft.operators.Snapshots.latestVersion(s"$idxDir/shingles").isEmpty)
    graft.operators.LakeFs.rmTree(idxDir)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamOps.shingleIngest(spark,
      ms.toDF().toDF("doc_id", "text"), idxDir, outDir)
    val copyOfA = Seq(24L -> shingleIndexDocs.head._2)
    try {
      ms.addData(shingleIndexDocs: _*); q.processAllAvailable()
      ms.addData(copyOfA: _*); q.processAllAvailable()
    } finally q.stop()
    // the first batch built the index (its within-batch pair (1,2)
    // surfaced), the second probed it
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (1L, 24L), (2L, 24L)), got)
    // the stop list is the one derived from the first batch alone
    graft.operators.ShingleIndex.build(spark,
      graft.queries.Dedup.hashedShinglesOf(shingleIndexDocs.toDF("doc_id", "text")),
      built)
    assert(shingleState(idxDir)._3 == shingleState(built)._3)
  }

  test("shingle index bootstrap interrupted between its tables or before its hints replays to the uninterrupted state") {
    import spark.implicits._
    import graft.operators.LakeFs
    val want = "/tmp/graft_shidx_torn_want"
    val got = "/tmp/graft_shidx_torn_got"
    Seq(want, got, want + "_cl", got + "_cl").foreach(LakeFs.rmTree)
    val docs = shingleIndexDocs.toDF("doc_id", "text")
    // the cluster twin bootstraps the index from its first batch
    def ingest(dir: String): Unit =
      StreamOps.clusterIngestBatch(spark, docs, 0L, dir, dir + "_cl")
    def clusters(dir: String) = StreamOps.clusterState(spark, dir + "_cl")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def same(what: String): Unit = {
      assert(shingleState(got) == shingleState(want),
        s"replay $what differs from an uninterrupted run")
      assert(clusters(got) == clusters(want), what)
    }
    ingest(want)
    // a crash after every commit but before the root hints: the
    // replay must find the epoch inside the committed versions
    Seq(got, got + "_cl").foreach(LakeFs.rmTree)
    ingest(got)
    LakeFs.leaves(got).filter(_.getPath.getName.startsWith("_GRAFT_EPOCH_"))
      .foreach(st => LakeFs.rmFile(st.getPath.toString))
    ingest(got)
    same("after a crash before the hints")
    // a plain file where one table's log goes makes that table's
    // commit throw after the tables before it committed: sizes after
    // shingles, stop after both
    for (table <- Seq("sizes", "stop")) {
      Seq(got, got + "_cl").foreach(LakeFs.rmTree)
      LakeFs.write(s"$got/$table", "")
      intercept[Exception](ingest(got))
      LakeFs.rmFile(s"$got/$table")
      ingest(got)
      same(s"after a throw before $table")
    }
  }

  test("streaming substring ingest: doc store + index appends + pairs == batch incremental") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val idxDir = "/tmp/graft_subidx_stream_spec"
    val storeDir = "/tmp/graft_subidx_stream_store"
    val outDir = "/tmp/graft_subidx_stream_out"
    Seq(idxDir, storeDir, outDir, outDir + "_ckpt",
      "/tmp/graft_subidx_stream_batch").foreach(graft.operators.LakeFs.rmTree)
    // the DedupSpec substring-lifecycle corpus: 17 index docs carry a
    // 16-token boilerplate run (df 17 > cap 16 → stop), doc 1 also a
    // unique 16-token run; streamed docs 24 and 29 copy the unique run
    def filler(i: Int, n: Int): Seq[String] = (0 until n).map(j => s"f${i}x$j")
    val boiler = (0 until 16).map(i => s"bp$i")
    val unique = (0 until 16).map(i => s"uq$i")
    val indexIds = Seq(1L, 2L, 3L, 5L, 6L, 7L, 8L, 10L, 11L, 12L, 13L,
      15L, 16L, 17L, 18L, 20L, 21L)
    val idxDocs = indexIds.map { id =>
      val body = if (id == 1L) unique ++ boiler else boiler
      (id, (filler(id.toInt, 4) ++ body).mkString(" "))
    }
    val b1 = Seq(24L -> (filler(24, 4) ++ boiler ++ unique).mkString(" "))
    val b2 = Seq(29L -> (filler(29, 4) ++ unique ++ filler(29, 8)).mkString(" "))
    // pre-seed the lake: doc store (reserved bootstrap epoch) + index
    val idxDf = idxDocs.toDF("doc_id", "text")
    graft.queries.Dedup.substringDocStoreBootstrap(idxDf, storeDir)
    graft.queries.Dedup.substringIndexBuild(spark, idxDf, idxDir)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamOps.substringIngest(spark,
      ms.toDF().toDF("doc_id", "text"), idxDir, storeDir, outDir)
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1)) -> r.getLong(2)
    val got = spark.read.parquet(outDir).collect().map(key).toMap
    // one-shot batch ingest of the same docs (new = id % 5 == 4)
    val want = graft.queries.Dedup.substringIncrementalOf(spark,
        (idxDocs ++ b1 ++ b2).toDF("doc_id", "text"),
        "/tmp/graft_subidx_stream_batch")
      .collect().map(key).toMap
    assert(got == want, s"missing=${want.keySet -- got.keySet} " +
      s"extra=${got.keySet -- want.keySet}")
    assert(got.keySet == Set((1L, 24L), (1L, 29L), (24L, 29L)), got)
    assert(got.values.toSet == Set(1L), "one shared 16-token window each")
    // foreachBatch retry: replaying the last epoch is a no-op — the
    // doc store's epoch overwrite matters most here (a duplicated doc
    // row would fan out the verify join and inflate n_shared)
    val docRows = spark.read.parquet(storeDir).count()
    StreamOps.substringIngestBatch(spark, b2.toDF("doc_id", "text"), 1L,
      idxDir, storeDir, outDir)
    assert(spark.read.parquet(storeDir).count() == docRows,
      "epoch replay duplicated the doc store")
    assert(spark.read.parquet(outDir).collect().map(key).toMap == got,
      "epoch replay changed the emitted pairs")
  }

  test("streaming vector ingest: index appends + near-dup pairs == one-shot append") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val idxDir = "/tmp/graft_vecidx_stream_spec"
    val oneDir = "/tmp/graft_vecidx_stream_one"
    val outDir = "/tmp/graft_vecidx_stream_out"
    Seq(idxDir, oneDir, outDir, outDir + "_ckpt")
      .foreach(graft.operators.LakeFs.rmTree)
    // dim-4 corpus, two well-separated direction clusters (k=2):
    // within-cluster spread keeps non-planted pairs under cos 0.99
    // (max 0.969), planted near-dups sit at ~1.0
    val a = Seq(0.0, 3.0, 6.0)
    val idxVecs: Seq[(Long, Seq[Double])] =
      a.zipWithIndex.map { case (j, i) => ((i + 1).toLong, Seq(10.0, j, 0.0, 0.0)) } ++
        a.zipWithIndex.map { case (j, i) => ((i + 11).toLong, Seq(0.0, 10.0, j + j / 3.0, 0.0)) }
    val b1: Seq[(Long, Seq[Double])] = Seq(
      101L -> Seq(10.0, 0.1, 0.0, 0.0), // near-dup of index id 1
      102L -> Seq(0.0, 10.0, 2.0, 0.0)) // partner arrives in batch 2
    val b2: Seq[(Long, Seq[Double])] = Seq(
      201L -> Seq(0.0, 10.1, 2.02, 0.0), // 1.01 x vec 102 -> cos 1.0
      202L -> Seq(10.0, 3.05, 0.0, 0.0)) // near-dup of index id 2
    def embDf(rows: Seq[(Long, Seq[Double])]) =
      rows.toDF("vec_id", "v")
        .withColumn("n2", graft.functions.VectorExprs.norm2(col("v")))
    // pre-seed the maintained index from the index corpus
    graft.operators.IvfIndex.build(spark, embDf(idxVecs), idxDir, k = 2)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])]
    val q = StreamOps.vectorIngest(spark,
      ms.toDF().toDF("vec_id", "v"), idxDir, outDir, thresh = 0.99)
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1)) -> r.getDouble(2)
    val got = spark.read.parquet(outDir).collect().map(key).toMap
    // one-shot comparator: same deterministic build, ONE append of
    // both batches, batch-involved pairs via the shared read dataflow
    graft.operators.IvfIndex.build(spark, embDf(idxVecs), oneDir, k = 2)
    graft.operators.IvfIndex.append(spark, embDf(b1 ++ b2), oneDir)
    val newIds = broadcast((b1 ++ b2).map(_._1).toDF("vec_id"))
    val want = graft.queries.Vectors.embeddingBatchPairs(spark, oneDir,
        _.join(newIds, Seq("vec_id"), "left_semi"), thresh = 0.99)
      .collect().map(key).toMap
    assert(got == want, s"missing=${want.keySet -- got.keySet} " +
      s"extra=${got.keySet -- want.keySet}")
    assert(got.keySet == Set((1L, 101L), (2L, 202L), (102L, 201L)), got)
    assert(got((102L, 201L)) == 1.0, "scaled copy must score exactly 1")
    // foreachBatch retry: replaying the last epoch is a no-op
    val vecRows = spark.read.parquet(s"$idxDir/vectors").count()
    StreamOps.vectorIngestBatch(spark, b2.toDF("vec_id", "v"), 1L,
      idxDir, outDir, thresh = 0.99)
    assert(spark.read.parquet(s"$idxDir/vectors").count() == vecRows,
      "epoch replay re-appended vectors")
    assert(spark.read.parquet(outDir).collect().map(key).toMap == got,
      "epoch replay changed the emitted pairs")
  }

  test("streaming NB scoring: two micro-batches == batch scoring off the same persisted model") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val outDir = "/tmp/graft_nbq_stream_out"
    Seq(outDir, outDir + "_ckpt").foreach(graft.operators.LakeFs.rmTree)
    // the maintained model: fit (at most once) on the sf corpus —
    // the stream scores against this frozen state, never refits
    val idx = graft.queries.Pipeline.nbModelOf(spark, sf)
    // score a doc slice that includes a zero-token doc (prior-only
    // path) if the corpus has none: append one explicitly
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).limit(40)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq :+
      (999999L, "!!! ???")
    val (b1, b2) = docs.splitAt(20)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamOps.nbScoreIngest(spark,
      ms.toDF().toDF("doc_id", "text"), idx, outDir)
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))
    val got = spark.read.parquet(outDir)
      .select(col("doc_id"), col("label"), col("matched_tokens"),
        col("score_micro")).collect().map(key).toMap
    val want = graft.queries.Pipeline.nbScoredFrom(spark, idx,
        docs.toDF("doc_id", "text"))
      .select(col("doc_id"), col("label"), col("matched_tokens"),
        col("score_micro")).collect().map(key).toMap
    assert(got == want, s"missing=${want.keySet -- got.keySet} " +
      s"extra=${got.keySet -- want.keySet}")
    assert(got.contains(999999L) && got(999999L)._2 == 0L,
      "zero-token doc must survive scoring with matched_tokens = 0")
    // foreachBatch retry: replaying the last epoch overwrites its own
    // partition — output unchanged
    StreamOps.nbScoreBatch(spark, b2.toDF("doc_id", "text"), 1L, idx, outDir)
    val replayed = spark.read.parquet(outDir)
      .select(col("doc_id"), col("label"), col("matched_tokens"),
        col("score_micro")).collect().map(key).toMap
    assert(replayed == want, "epoch replay changed the scored output")
  }

  test("streaming Gopher screening: two micro-batches == the batch rule dataflow") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val outDir = "/tmp/graft_gopher_stream_out"
    Seq(outDir, outDir + "_ckpt").foreach(graft.operators.LakeFs.rmTree)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).limit(40)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq :+
      (999999L, "- bullet\n- lines\n- only")
    val (b1, b2) = docs.splitAt(20)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamOps.gopherIngest(spark,
      ms.toDF().toDF("doc_id", "text"), outDir)
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> (r.getLong(1), r.getBoolean(3), r.getBoolean(6),
        r.getBoolean(10))
    val cols = Seq("doc_id", "n_words", "n_lines", "words_ok", "mwl_ok",
      "symbol_ok", "bullet_ok", "ellipsis_ok", "alpha_ok", "stops_ok",
      "keep")
    val got = spark.read.parquet(outDir)
      .select(cols.map(col): _*).collect().map(key).toMap
    val want = graft.queries.Quality.gopherFrom(
        docs.toDF("doc_id", "text"))
      .select(cols.map(col): _*).collect().map(key).toMap
    assert(got == want, s"missing=${want.keySet -- got.keySet} " +
      s"extra=${got.keySet -- want.keySet}")
    assert(got.contains(999999L) && !got(999999L)._3,
      "the planted bullet doc must fail bullet_ok through the stream")
  }

  test("foreachBatch twin restart: a restarted gopherIngest resumes on its own checkpoint at the next epoch") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-restart-src").toString
    val outDir = "/tmp/graft_gopher_restart_out"
    Seq(outDir, outDir + "_ckpt").foreach(graft.operators.LakeFs.rmTree)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).limit(20)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (first, second) = docs.splitAt(12)
    def land(part: Seq[(Long, String)]): Unit =
      part.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(srcDir)
    def run(): Unit = {
      val src = spark.readStream.schema(docs.toDF("doc_id", "text").schema)
        .parquet(srcDir)
      val q = StreamOps.gopherIngest(spark, src, outDir)
      try q.processAllAvailable() finally q.stop()
    }
    land(first); run()
    land(second); run()
    val epochs = graft.operators.LakeFs.list(outDir)
      .map(_.getPath.getName).filter(_.startsWith("epoch=")).toSet
    assert(epochs == Set("epoch=0", "epoch=1"),
      s"the restart must reuse the checkpoint, not replay: $epochs")
    def idsAt(e: Int) = spark.read.parquet(outDir)
      .filter(col("epoch") === e).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(idsAt(0) == first.map(_._1).toSet)
    assert(idsAt(1) == second.map(_._1).toSet,
      "epoch 1 must hold only the docs added after the restart")
  }

  test("cleanIngestBatch releases its caches: replayed epochs pin no cached frame") {
    // every epoch of a long-running twin must leave the cache as it
    // found it (the shingle pairs frame is a materialized cache)
    val root = "/tmp/graft_clean_cache_release"
    graft.operators.LakeFs.rmTree(root)
    val mdl = graft.queries.Pipeline.nbModelOf(spark, sf)
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    def epoch(e: Long): Unit = StreamOps.cleanIngestBatch(spark,
      docs.filter(col("doc_id") % 2 === e), e,
      s"$root/exact", s"$root/shingle", mdl, s"$root/out")
    epoch(0L); epoch(1L)
    // compared as id sets, not sizes: the context holds persistent
    // RDDs weakly, so an unrelated earlier entry may vanish on a GC
    // mid-test; a pinned frame shows up as an id that was not there
    val before = spark.sparkContext.getPersistentRDDs.keySet
    epoch(0L); epoch(1L)
    val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(pinned.isEmpty,
      s"replayed epochs left ${pinned.size} cached frames behind")
    graft.operators.LakeFs.rmTree(root)
  }
}
