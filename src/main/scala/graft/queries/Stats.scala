package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.GlobalPrefix
import graft.sources.Tables

/** Classical-statistics operators over the star schema — the
  * estimator battery an analytics engine is expected to ship
  * (survival curves, two-sample tests, concentration indices, robust
  * trends). The reference's data plane has no notion of these; they
  * round out the engine the way q_chisq/q_moments/events_trend did.
  *
  * Float discipline (the r13/r14 ranking lesson applied at design
  * time): every estimator is computed in EXACT integer arithmetic —
  * counts, cents, micro-units, truncating integer division (Spark
  * `div` and DuckDB `//` both truncate toward zero, verified
  * including negatives) — and any final ratio is ONE fixed
  * double-cast expression over exact ints, ROUND(6), which is
  * bit-identical across engines (the events_trend discipline).
  *
  * Scale shape: every query reduces to grouped integer counts first
  * (map-side partial aggregation), so the shuffled state is the
  * DISTINCT-VALUE domain, never the row count. The global windows
  * ride value-bounded domains per the established bounded-bands rule
  * (calendar days, 1..50 quantities, price-cent range), each
  * disclosed at its site. */
object Stats {

  private[queries] def cents(c: Column): Column =
    floor(c * 100 + 0.5).cast("long")

  // ---------------------------------------------------------------
  // Kaplan-Meier / Nelson-Aalen survival over session lifetimes
  // ---------------------------------------------------------------

  /** Session-lifetime survival curve (Kaplan-Meier + Nelson-Aalen).
    * Each 30-minute-gap session (the events_sessionize dataflow,
    * reused) "lives" for its duration in whole minutes; sessions
    * reaching the 30-minute observation cutoff are right-CENSORED at
    * 30 (administrative censoring — the standard engagement-curve
    * framing: "what fraction of sessions survive past t minutes?").
    * At each death duration t: at_risk n_t = #sessions with (capped)
    * duration ≥ t, deaths d_t, Kaplan-Meier survival
    * S_t = Π (n_i−d_i)/n_i and Nelson-Aalen cumulative hazard
    * H_t = Σ d_i/n_i, both in EXACT micro-units via the integer
    * recursion S_i = (S_{i−1}·(n_i−d_i)) div n_i (truncating int
    * division on both engines; S ≤ 1e6 and n ≤ #sessions keeps the
    * product below 2^63 up to ~9e12 sessions).
    *
    * The recursion is inherently sequential, but its domain is
    * VALUE-BOUNDED (death times are whole minutes < the 30-minute
    * cutoff — ≤30 steps whatever the corpus size), so it runs as one
    * bounded array fold (`aggregate` over a sorted collect_list —
    * whole-stage codegen, no driver collect); everything before it
    * is the sessionize shuffle + grouped integer counts + one
    * cumulative sum over the same bounded domain. The DuckDB oracle
    * expresses the identical recursion as a recursive CTE. */
  val survival: Q = Q(
    "events_survival",
    """WITH RECURSIVE x AS (
      |  SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL
      |    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |    THEN 1 ELSE 0 END AS ns
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |y AS (
      |  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS UNBOUNDED PRECEDING) AS sid FROM x),
      |u AS (
      |  SELECT LEAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts)))
      |      // 60000000, 30) AS dur,
      |    (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 60000000 >= 30
      |      AS cens
      |  FROM y GROUP BY user_id, sid),
      |bd AS (
      |  SELECT dur, COUNT(*) AS ca,
      |    SUM(CASE WHEN cens THEN 0 ELSE 1 END)::BIGINT AS cd
      |  FROM u GROUP BY 1),
      |st AS (
      |  SELECT dur AS t,
      |    SUM(ca) OVER (ORDER BY dur DESC
      |      ROWS UNBOUNDED PRECEDING)::BIGINT AS n,
      |    cd AS d
      |  FROM bd),
      |steps AS (
      |  SELECT t, n, d, ROW_NUMBER() OVER (ORDER BY t) AS i
      |  FROM st WHERE d > 0),
      |km(i, s, h) AS (
      |  SELECT 0, 1000000::BIGINT, 0::BIGINT
      |  UNION ALL
      |  SELECT p.i, (km.s * (p.n - p.d)) // p.n,
      |    km.h + ((1000000 * p.d) // p.n)
      |  FROM km JOIN steps p ON p.i = km.i + 1)
      |SELECT p.t, p.n AS at_risk, p.d AS deaths,
      |  km.s AS km_micro, km.h AS cumhaz_micro
      |FROM km JOIN steps p USING (i) ORDER BY t""".stripMargin) {
    (s, dir) =>
      val sess = Events.sessionizeDf(Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("value")))
      val rawDur = (unix_micros(col("session_end"))
        - unix_micros(col("session_start"))).cast("long")
      val u = sess.select(
        least(expr("(unix_micros(session_end) " +
          "- unix_micros(session_start)) div 60000000"), lit(30L))
          .as("dur"),
        (rawDur >= 30L * 60000000L).as("cens"))
      val byDur = u.groupBy(col("dur")).agg(
        count(lit(1)).as("ca"),
        sum(when(col("cens"), 0L).otherwise(1L)).as("cd"))
      // bounded band: distinct durations ≤ calendar days in window
      val wDesc = Window.orderBy(col("dur").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val steps = byDur
        .withColumn("n", sum(col("ca")).over(wDesc))
        .filter(col("cd") > 0)
        .select(col("dur").as("t"), col("n"), col("cd").as("d"))
      // calendar-bounded array fold: the KM/NA integer recursions
      steps
        .agg(array_sort(collect_list(struct(col("t"), col("n"),
          col("d")))).as("xs"))
        .select(col("xs"),
          expr("aggregate(xs, array(1000000L), (acc, x) -> " +
            "acc || array((element_at(acc, -1) * (x.n - x.d)) div x.n))")
            .as("ks"),
          expr("aggregate(xs, array(0L), (acc, x) -> " +
            "acc || array(element_at(acc, -1) + ((1000000 * x.d) div x.n)))")
            .as("hs"))
        .select(posexplode(col("xs")).as(Seq("i", "x")),
          col("ks"), col("hs"))
        .select(col("x.t").as("t"), col("x.n").as("at_risk"),
          col("x.d").as("deaths"),
          element_at(col("ks"), col("i").cast("int") + 2).as("km_micro"),
          element_at(col("hs"), col("i").cast("int") + 2)
            .as("cumhaz_micro"))
        .orderBy(col("t"))
  }

  // ---------------------------------------------------------------
  // Two-sample Kolmogorov-Smirnov
  // ---------------------------------------------------------------

  /** Two-sample KS test: does order value distribute the same for
    * BUILDING vs AUTOMOBILE customers? D = max |F₁−F₂| computed as
    * the EXACT integer max |c₁·n₂ − c₂·n₁| over the cumulative
    * counts at each distinct price-cent value (c_i·n_j ≤ n₁·n₂ <
    * 2^63 up to ~3e9 rows per side); ks_micro-equivalent reported as
    * ONE double division of the exact ints, ROUND(6). v_at_max is
    * the smallest value attaining the max (deterministic argmax).
    *
    * Scale shape: one UNHINTED join (customer scales with sf — AQE
    * chooses the side) + grouped counts per distinct cent value;
    * both cumulative counts ride ONE GlobalPrefix pass over the
    * value order (range-partitioned, parallel) — the distinct-cent
    * domain is value-bounded at ≤~6e7 but that is still too many
    * rows to funnel through a single unpartitioned window task at
    * saturation, so no task ever sorts more than its range slice. */
  val ksTest: Q = Q(
    "q_ks_test",
    """WITH j AS (
      |  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
      |    c_mktsegment AS seg
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')),
      |g AS (
      |  SELECT v,
      |    SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END)::BIGINT AS a,
      |    SUM(CASE WHEN seg = 'AUTOMOBILE' THEN 1 ELSE 0 END)::BIGINT AS b
      |  FROM j GROUP BY 1),
      |c AS (
      |  SELECT v,
      |    SUM(a) OVER w::BIGINT AS ca, SUM(b) OVER w::BIGINT AS cb
      |  FROM g WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
      |t AS (SELECT SUM(a)::BIGINT AS na, SUM(b)::BIGINT AS nb FROM g),
      |d AS (
      |  SELECT v, ABS(ca * (SELECT nb FROM t)
      |    - cb * (SELECT na FROM t)) AS dn
      |  FROM c)
      |SELECT (SELECT na FROM t) AS n_a, (SELECT nb FROM t) AS n_b,
      |  MAX(dn) AS d_num,
      |  MIN(CASE WHEN dn = (SELECT MAX(dn) FROM d) THEN v END)
      |    AS v_at_max,
      |  ROUND(CAST(MAX(dn) AS DOUBLE)
      |    / (CAST((SELECT na FROM t) AS DOUBLE)
      |       * (SELECT nb FROM t)), 6) + 0 AS ks
      |FROM d""".stripMargin) { (s, dir) =>
    val o = Tables.load(s, dir, "orders")
    val c = Tables.load(s, dir, "customer")
      .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
    val j = o.join(c, col("o_custkey") === col("c_custkey"))
      .select(cents(col("o_totalprice")).as("v"),
        col("c_mktsegment").as("seg"))
    val g = j.groupBy(col("v")).agg(
      sum(when(col("seg") === "BUILDING", 1L).otherwise(0L)).as("a"),
      sum(when(col("seg") === "AUTOMOBILE", 1L).otherwise(0L)).as("b"))
      .cache()
    val tot = g.agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
    // both cumulative counts in ONE GlobalPrefix pass (no
    // single-partition window — the q_gini shape, two values)
    val (cum0, _) = graft.operators.GlobalPrefix.withCumSums(
      g, Seq(col("v")), Seq("ca" -> col("a"), "cb" -> col("b")))
    val cum = cum0.select(col("v"), col("ca"), col("cb"))
    // 1-row stat frames ride broadcast cross joins (established idiom)
    val d = cum.crossJoin(broadcast(tot))
      .select(col("v"), col("na"), col("nb"),
        abs(col("ca") * col("nb") - col("cb") * col("na")).as("dn"))
      .cache()
    val mdn = d.agg(max(col("dn")).as("mdn"))
    d.crossJoin(broadcast(mdn))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        max(col("dn")).as("d_num"),
        min(when(col("dn") === col("mdn"), col("v"))).as("v_at_max"),
        (round(max(col("dn")).cast("double")
          / (max(col("na")).cast("double") * max(col("nb"))), 6) + 0)
          .as("ks"))
  }

  // ---------------------------------------------------------------
  // Mann-Whitney U (rank-sum with ties)
  // ---------------------------------------------------------------

  /** Mann-Whitney rank-sum: do returned ('R') line items ship in the
    * same quantity distribution as non-returned ('N')? Average ranks
    * with ties stay EXACT by carrying DOUBLED ranks: a tie group of
    * size c after cb items has average rank cb+(c+1)/2, so
    * 2·avgrank = 2·cb+c+1 is an integer. Reported: doubled rank sum
    * 2R₁, doubled U statistic 2U₁ = 2R₁ − n₁(n₁+1), the tie
    * correction Σ(c³−c) (what the normal approximation needs), and
    * the effect size AUC = U₁/(n₁n₂) as one double division ROUND(6).
    * The tie term Σ(c³−c) ACCUMULATES as DECIMAL(38,0) — a single
    * quantity bucket holding ~2e9 rows would wrap c³ in int64 — but
    * is REPORTED as BIGINT: int128-backed result columns (HUGEINT /
    * DECIMAL(p>18)) break the driver's hash canonicalization (the
    * round-5 lesson), and the final value fits int64 until ~10⁶×
    * this corpus; the ANSI cast raises loudly past that instead of
    * wrapping. Doubled rank sums stay int64 up to ~2.1e9 rows per
    * side (2n² < 2^63 — disclosed).
    *
    * Scale shape: grouped counts per distinct quantity (50 values —
    * value-bounded domain), then a bounded cumulative window; the
    * only full-data pass is the map-side count aggregation. */
  val mannWhitney: Q = Q(
    "q_mann_whitney",
    """WITH g AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS q,
      |    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT
      |      AS cr,
      |    SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)::BIGINT
      |      AS cn
      |  FROM lineitem WHERE l_returnflag IN ('R', 'N') GROUP BY 1),
      |r AS (
      |  SELECT q, cr, cn, cr + cn AS c,
      |    COALESCE(SUM(cr + cn) OVER (ORDER BY q
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      ::BIGINT AS cb
      |  FROM g),
      |s AS (
      |  SELECT SUM(cr)::BIGINT AS n1, SUM(cn)::BIGINT AS n2,
      |    SUM(cr * (2 * cb + c + 1))::BIGINT AS two_r1,
      |    SUM(c::DECIMAL(19,0) * c * c - c)::DECIMAL(38,0) AS tie_w
      |  FROM r)
      |SELECT n1, n2, two_r1, two_r1 - n1 * (n1 + 1) AS two_u1,
      |  CAST(tie_w AS BIGINT) AS tie_term,
      |  ROUND(CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE)
      |    / (2.0 * CAST(n1 AS DOUBLE) * n2), 6) + 0 AS auc
      |FROM s""".stripMargin) { (s, dir) =>
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_returnflag").isin("R", "N"))
    val g = li.groupBy(col("l_quantity").cast("long").as("q")).agg(
      sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("cr"),
      sum(when(col("l_returnflag") === "N", 1L).otherwise(0L)).as("cn"))
    // bounded band: 50 distinct quantity values
    val w = Window.orderBy(col("q"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val r = g.select(col("q"), col("cr"), col("cn"),
      (col("cr") + col("cn")).as("c"),
      coalesce(sum(col("cr") + col("cn")).over(w), lit(0L)).as("cb"))
    r.agg(sum(col("cr")).as("n1"), sum(col("cn")).as("n2"),
      sum(col("cr") * (col("cb") * 2 + col("c") + 1)).as("two_r1"),
      sum(col("c").cast("decimal(19,0)") * col("c") * col("c")
        - col("c")).cast("decimal(38,0)").as("tie_w"))
      .select(col("n1"), col("n2"), col("two_r1"),
        (col("two_r1") - col("n1") * (col("n1") + 1)).as("two_u1"),
        col("tie_w").cast("long").as("tie_term"),
        (round((col("two_r1") - col("n1") * (col("n1") + 1))
          .cast("double")
          / (col("n1").cast("double") * col("n2") * 2.0), 6) + 0)
          .as("auc"))
  }

  // ---------------------------------------------------------------
  // Gini concentration per market segment
  // ---------------------------------------------------------------

  /** Revenue concentration: the Gini coefficient of per-customer
    * lifetime spend within each market segment (zero-spend customers
    * included via left join — concentration is over the CUSTOMER
    * BASE, not just buyers). Closed form over sorted spend x₁≤…≤xₙ:
    * G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ). Rank ties broken by
    * custkey — the numerator is tie-invariant (equal x swap freely),
    * the tiebreak just fixes both engines on one plan. Σi·xᵢ is
    * accumulated as DECIMAL(38,0) (i ≤ n and x in cents overflow
    * int64 near ~1e9 customers — the WordPiece-denominator lesson,
    * solved with exact wide decimals rather than a disclosure); the
    * final G is one double division over exact values, ROUND(6).
    *
    * Scale shape: grouped spend (map-side), then the per-segment rank
    * rides ONE GlobalPrefix pass over (seg, x, custkey) order — the
    * segment count is tiny (5) but each segment's customer list grows
    * with the data, so a PARTITION BY seg window would funnel N/5
    * customers into one task; the per-segment rank is the global
    * prefix rank minus the segment's first rank (a 5-row broadcast),
    * tiny per-segment aggregates out. */
  val gini: Q = Q(
    "q_gini",
    """WITH spend AS (
      |  SELECT c_custkey, c_mktsegment AS seg,
      |    COALESCE(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)),
      |      0)::BIGINT AS x
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT seg, x,
      |    ROW_NUMBER() OVER (PARTITION BY seg ORDER BY x, c_custkey)
      |      AS i
      |  FROM spend),
      |agg AS (
      |  SELECT seg, COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sum_cents,
      |    SUM(i::DECIMAL(19,0) * x::DECIMAL(19,0))::DECIMAL(38,0) AS s1
      |  FROM rk GROUP BY 1)
      |SELECT seg, n, sum_cents,
      |  ROUND((2.0 * CAST(s1 AS DOUBLE)
      |      - (CAST(n AS DOUBLE) + 1) * sum_cents)
      |    / (CAST(n AS DOUBLE) * sum_cents), 6) + 0 AS gini
      |FROM agg ORDER BY seg""".stripMargin) { (s, dir) =>
    val c = Tables.load(s, dir, "customer")
    val o = Tables.load(s, dir, "orders")
      .select(col("o_custkey"), cents(col("o_totalprice")).as("v"))
    val spend = c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_mktsegment").as("seg"))
      .agg(coalesce(sum(col("v")), lit(0L)).as("x"))
    // one global range-partitioned rank in (seg, x, custkey) order;
    // per-segment i = global rank − segment's first global rank + 1
    // (a 5-row broadcast) — no per-segment window sort anywhere
    val (ranked, _) = GlobalPrefix.withCumSum(spend,
      Seq(col("seg"), col("x"), col("c_custkey")), lit(1L))
    val segFirst = ranked.groupBy(col("seg"))
      .agg(min(col("cum")).as("first"))
    val rk = ranked.join(broadcast(segFirst), "seg")
      .select(col("seg"), col("x"),
        (col("cum") - col("first") + 1).as("i"))
    rk.groupBy(col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sum_cents"),
        Experiment.wide(col("i"), col("x")).as("s1"))
      .select(col("seg"), col("n"), col("sum_cents"),
        (round((col("s1").cast("double") * 2.0
          - (col("n").cast("double") + 1) * col("sum_cents"))
          / (col("n").cast("double") * col("sum_cents")), 6) + 0)
          .as("gini"))
      .orderBy(col("seg"))
  }

  // ---------------------------------------------------------------
  // Theil-Sen robust trend per event type
  // ---------------------------------------------------------------

  /** Theil-Sen estimator over each type's daily count series: the
    * MEDIAN of all pairwise slopes (c_j−c_i)/(t_j−t_i) — the robust
    * twin of events_trend's OLS (a single spiky day moves OLS, not
    * the pairwise median; breakdown point 29%). Slopes land on the
    * printed 6dp grid via ONE double division of exact ints (the
    * ranking-grid rule), the median picks middle elements by
    * ROW_NUMBER (avg of the two middles for even counts), and the
    * intercept is the median residual median(c_i − slope·t_i) on the
    * same grid.
    *
    * Scale shape: the series is CALENDAR-BOUNDED (one point per day
    * per type), so the pairwise self-join is days²/2 per type —
    * bounded whatever the event volume; the only full-data pass is
    * the daily count aggregation. Contract (the dedup_embedding
    * disclosure discipline): pairs = T(T−1)/2 for a T-point series —
    * fine through T≈1e5 (≈5e9 pairs/type, a plain shuffle join's
    * bread and butter); for finer-grain series (minute buckets,
    * T≈5e5/year) swap in the banded repeated median (slopes within a
    * ±W-point band, O(T·W)) — the bound keys on CALENDAR GRAIN, not
    * data volume, so 100 TB of events changes nothing here. */
  val theilSen: Q = Q(
    "events_theil_sen",
    """WITH mn AS (SELECT MIN(ts::DATE) AS mn FROM events),
      |daily AS (
      |  SELECT event_type,
      |    date_diff('day', (SELECT mn FROM mn), ts::DATE) AS t,
      |    COUNT(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2),
      |pts AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n_pts
      |  FROM daily GROUP BY 1),
      |pairs AS (
      |  SELECT a.event_type,
      |    ROUND(CAST(b.c - a.c AS DOUBLE) / (b.t - a.t), 6) + 0 AS sl
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND b.t > a.t),
      |rs AS (
      |  SELECT event_type, sl,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY sl) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type)::BIGINT AS m
      |  FROM pairs),
      |slope AS (
      |  SELECT event_type, MAX(m) AS n_pairs,
      |    ROUND(AVG(sl), 6) + 0 AS slope
      |  FROM rs WHERE rn IN ((m + 1) // 2, m // 2 + 1)
      |  GROUP BY 1),
      |resid AS (
      |  SELECT d.event_type,
      |    ROUND(d.c - s.slope * d.t, 6) + 0 AS r
      |  FROM daily d JOIN slope s USING (event_type)),
      |rr AS (
      |  SELECT event_type, r,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY r) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type)::BIGINT AS m
      |  FROM resid),
      |icept AS (
      |  SELECT event_type, ROUND(AVG(r), 6) + 0 AS intercept
      |  FROM rr WHERE rn IN ((m + 1) // 2, m // 2 + 1)
      |  GROUP BY 1)
      |SELECT s.event_type, p.n_pts, s.n_pairs, s.slope, i.intercept
      |FROM slope s
      |JOIN pts p USING (event_type) JOIN icept i USING (event_type)
      |ORDER BY s.event_type""".stripMargin) { (s, dir) =>
    val e = Tables.events(s, dir)
    val mn = e.agg(min(to_date(col("ts"))).as("mn"))
    val daily = e.crossJoin(broadcast(mn))
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), col("mn")).cast("long").as("t"))
      .agg(count(lit(1)).as("c"))
      .cache()
    val pts = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pts"))
    val a = daily.select(col("event_type"), col("t").as("t1"),
      col("c").as("c1"))
    val b = daily.select(col("event_type"), col("t").as("t2"),
      col("c").as("c2"))
    // calendar-bounded pairwise self-join: days²/2 rows per type
    val pairs = a.join(b, Seq("event_type")).filter(col("t2") > col("t1"))
      .select(col("event_type"),
        (round((col("c2") - col("c1")).cast("double")
          / (col("t2") - col("t1")), 6) + 0).as("sl"))
    val wT = Window.partitionBy(col("event_type"))
    def medianOf(df: org.apache.spark.sql.DataFrame, v: String,
        outM: String, outV: String): org.apache.spark.sql.DataFrame =
      df.select(col("event_type"), col(v),
          row_number().over(wT.orderBy(col(v))).cast("long").as("rn"),
          count(lit(1)).over(wT).as("m"))
        .filter(col("rn") === expr("(m + 1) div 2")
          || col("rn") === expr("m div 2 + 1"))
        .groupBy(col("event_type"))
        .agg(max(col("m")).as(outM),
          (round(avg(col(v)), 6) + 0).as(outV))
    val slope = medianOf(pairs, "sl", "n_pairs", "slope")
    val resid = daily.join(broadcast(slope), Seq("event_type"))
      .select(col("event_type"),
        (round(col("c") - col("slope") * col("t"), 6) + 0).as("r"))
    val icept = medianOf(resid, "r", "m_r", "intercept")
      .drop("m_r")
    slope.join(pts, Seq("event_type")).join(icept, Seq("event_type"))
      .select(col("event_type"), col("n_pts"), col("n_pairs"),
        col("slope"), col("intercept"))
      .orderBy(col("event_type"))
  }

  // ---------------------------------------------------------------
  // One-way ANOVA across market segments
  // ---------------------------------------------------------------

  /** One-way ANOVA: does mean order value differ across the five
    * market segments? All inputs are EXACT — per-segment n, Σx
    * (cents, int64) and Σx² (DECIMAL(38,0): cents² × rows overflows
    * int64 near ~1e9 rows; the gini/WordPiece wide-decimal rule) —
    * and the F statistic is ONE FIXED arithmetic expression over
    * them. The segment domain is a FIXED LITERAL set, so the
    * between-group sum is written as an explicit five-term
    * left-to-right chain (conditional aggregation per segment, one
    * term per literal): both engines evaluate the identical IEEE
    * operation sequence — no engine-ordered float summation exists
    * anywhere in the query, which matters because SSB/SSW are
    * catastrophic-cancellation-prone differences.
    *
    * Scale shape: one scan, five conditional partial aggregates,
    * single-row output — embarrassingly parallel at any size. */
  val anova: Q = Q(
    "q_anova",
    """WITH j AS (
      |  SELECT c_mktsegment AS seg,
      |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS x
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |g AS (
      |  SELECT
      |    SUM(CASE WHEN seg = 'AUTOMOBILE' THEN 1 ELSE 0 END)::BIGINT AS n1,
      |    SUM(CASE WHEN seg = 'BUILDING'   THEN 1 ELSE 0 END)::BIGINT AS n2,
      |    SUM(CASE WHEN seg = 'FURNITURE'  THEN 1 ELSE 0 END)::BIGINT AS n3,
      |    SUM(CASE WHEN seg = 'HOUSEHOLD'  THEN 1 ELSE 0 END)::BIGINT AS n4,
      |    SUM(CASE WHEN seg = 'MACHINERY'  THEN 1 ELSE 0 END)::BIGINT AS n5,
      |    SUM(CASE WHEN seg = 'AUTOMOBILE' THEN x ELSE 0 END)::BIGINT AS s1,
      |    SUM(CASE WHEN seg = 'BUILDING'   THEN x ELSE 0 END)::BIGINT AS s2,
      |    SUM(CASE WHEN seg = 'FURNITURE'  THEN x ELSE 0 END)::BIGINT AS s3,
      |    SUM(CASE WHEN seg = 'HOUSEHOLD'  THEN x ELSE 0 END)::BIGINT AS s4,
      |    SUM(CASE WHEN seg = 'MACHINERY'  THEN x ELSE 0 END)::BIGINT AS s5,
      |    CAST(SUM(x::DECIMAL(19,0) * x::DECIMAL(19,0)) AS DECIMAL(38,0))
      |      AS ssq
      |  FROM j),
      |f AS (
      |  SELECT n1 + n2 + n3 + n4 + n5 AS n,
      |    CAST(s1 AS DOUBLE) * s1 / n1 + CAST(s2 AS DOUBLE) * s2 / n2
      |      + CAST(s3 AS DOUBLE) * s3 / n3 + CAST(s4 AS DOUBLE) * s4 / n4
      |      + CAST(s5 AS DOUBLE) * s5 / n5 AS bg,
      |    CAST(s1 + s2 + s3 + s4 + s5 AS DOUBLE) AS st,
      |    CAST(ssq AS DOUBLE) AS sq
      |  FROM g)
      |SELECT n, 5 AS k,
      |  ROUND(bg - st * st / n, 6) + 0 AS ssb,
      |  ROUND(sq - bg, 6) + 0 AS ssw,
      |  ROUND(((bg - st * st / n) / 4)
      |    / ((sq - bg) / (n - 5)), 6) + 0 AS f
      |FROM f""".stripMargin) { (s, dir) =>
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    val o = Tables.load(s, dir, "orders")
    val c = Tables.load(s, dir, "customer")
    // customer scales with sf — unhinted join, AQE chooses the side
    val j = o.join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        cents(col("o_totalprice")).as("x"))
    val aggs =
      segs.zipWithIndex.map { case (sg, i) =>
        sum(when(col("seg") === sg, 1L).otherwise(0L)).as(s"n${i + 1}")
      } ++ segs.zipWithIndex.map { case (sg, i) =>
        sum(when(col("seg") === sg, col("x")).otherwise(0L))
          .as(s"s${i + 1}")
      } :+ Experiment.wide(col("x"), col("x")).as("ssq")
    val g = j.agg(aggs.head, aggs.tail: _*)
    // explicit left-to-right five-term chains — identical IEEE order
    def sq(i: Int): Column =
      col(s"s$i").cast("double") * col(s"s$i") / col(s"n$i")
    val f = g.select(
      (col("n1") + col("n2") + col("n3") + col("n4") + col("n5")).as("n"),
      (sq(1) + sq(2) + sq(3) + sq(4) + sq(5)).as("bg"),
      (col("s1") + col("s2") + col("s3") + col("s4") + col("s5"))
        .cast("double").as("st"),
      col("ssq").cast("double").as("sq"))
    f.select(col("n"), lit(5).as("k"),
      (round(col("bg") - col("st") * col("st") / col("n"), 6) + 0)
        .as("ssb"),
      (round(col("sq") - col("bg"), 6) + 0).as("ssw"),
      (round(((col("bg") - col("st") * col("st") / col("n")) / 4)
        / ((col("sq") - col("bg")) / (col("n") - 5)), 6) + 0).as("f"))
  }

  // ---------------------------------------------------------------
  // Kruskal-Wallis rank test across return flags
  // ---------------------------------------------------------------

  /** Kruskal-Wallis H (rank-based one-way ANOVA): does line-item
    * quantity distribute identically across the three return flags?
    * The q_mann_whitney DOUBLED-rank device generalized to k groups:
    * tie-group average ranks stay exact integers as 2·avgrank =
    * 2·cb+c+1, per-group doubled rank sums 2R_g accumulate exactly,
    * and H = (3/(N(N+1)))·Σ(2R_g)²/n_g − 3(N+1) with the tie
    * correction C = 1 − Σ(c³−c)/(N³−N). Like q_mann_whitney, Σ(c³−c)
    * accumulates wide (DECIMAL(38,0)) but is REPORTED as BIGINT —
    * int128-backed result columns break driver canonicalization (the
    * round-5 HUGEINT lesson); ANSI raises past ~9.2e18 instead of
    * wrapping. The Σ over groups is an
    * explicit three-term chain over the FIXED flag domain (A/N/R),
    * so every float op runs in the same order on both engines.
    * (2R_g)² needs doubles near ~1e9 rows; the division-first form
    * (2R)²/n keeps magnitudes ~N·rank² — double-exact concerns are
    * confined to the final fixed expression, inputs stay exact.
    *
    * Scale shape: grouped counts per distinct quantity (50 values),
    * bounded cumulative window, three conditional aggregates. */
  val kruskal: Q = Q(
    "q_kruskal",
    """WITH g AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS q,
      |    SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)::BIGINT
      |      AS c1,
      |    SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)::BIGINT
      |      AS c2,
      |    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT
      |      AS c3
      |  FROM lineitem GROUP BY 1),
      |r AS (
      |  SELECT q, c1, c2, c3, c1 + c2 + c3 AS c,
      |    COALESCE(SUM(c1 + c2 + c3) OVER (ORDER BY q
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      ::BIGINT AS cb
      |  FROM g),
      |s AS (
      |  SELECT SUM(c1)::BIGINT AS n1, SUM(c2)::BIGINT AS n2,
      |    SUM(c3)::BIGINT AS n3,
      |    SUM(c1 * (2 * cb + c + 1))::BIGINT AS r1,
      |    SUM(c2 * (2 * cb + c + 1))::BIGINT AS r2,
      |    SUM(c3 * (2 * cb + c + 1))::BIGINT AS r3,
      |    SUM(c::DECIMAL(19,0) * c * c - c)::DECIMAL(38,0) AS tie_w
      |  FROM r),
      |h AS (
      |  SELECT n1 + n2 + n3 AS n, n1, n2, n3,
      |    CAST(tie_w AS BIGINT) AS tie,
      |    CAST(r1 AS DOUBLE) * r1 / n1 + CAST(r2 AS DOUBLE) * r2 / n2
      |      + CAST(r3 AS DOUBLE) * r3 / n3 AS rr
      |  FROM s)
      |SELECT n, n1, n2, n3, tie,
      |  ROUND((3.0 * rr / (CAST(n AS DOUBLE) * (n + 1))
      |      - 3.0 * (n + 1))
      |    / (1.0 - CAST(tie AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * n * n - n)), 6) + 0 AS h
      |FROM h""".stripMargin) { (s, dir) =>
    val li = Tables.load(s, dir, "lineitem")
    val g = li.groupBy(col("l_quantity").cast("long").as("q")).agg(
      sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("c1"),
      sum(when(col("l_returnflag") === "N", 1L).otherwise(0L)).as("c2"),
      sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("c3"))
    // bounded band: 50 distinct quantity values
    val w = Window.orderBy(col("q"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val r = g.select(col("q"), col("c1"), col("c2"), col("c3"),
      (col("c1") + col("c2") + col("c3")).as("c"),
      coalesce(sum(col("c1") + col("c2") + col("c3")).over(w), lit(0L))
        .as("cb"))
    val twoAvg = col("cb") * 2 + col("c") + 1
    val st = r.agg(
      sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
      sum(col("c3")).as("n3"),
      sum(col("c1") * twoAvg).as("r1"), sum(col("c2") * twoAvg).as("r2"),
      sum(col("c3") * twoAvg).as("r3"),
      sum(col("c").cast("decimal(19,0)") * col("c") * col("c")
        - col("c")).cast("decimal(38,0)").as("tie_w"))
    def rr(i: Int): Column =
      col(s"r$i").cast("double") * col(s"r$i") / col(s"n$i")
    val h = st.select(
      (col("n1") + col("n2") + col("n3")).as("n"),
      col("n1"), col("n2"), col("n3"),
      col("tie_w").cast("long").as("tie"),
      (rr(1) + rr(2) + rr(3)).as("rr"))
    h.select(col("n"), col("n1"), col("n2"), col("n3"), col("tie"),
      (round((lit(3.0) * col("rr")
          / (col("n").cast("double") * (col("n") + 1))
          - lit(3.0) * (col("n") + 1))
        / (lit(1.0) - col("tie").cast("double")
          / (col("n").cast("double") * col("n") * col("n") - col("n"))),
        6) + 0).as("h"))
  }

  // ---------------------------------------------------------------
  // Burst detection (Kleinberg 2-state automaton, exact integers)
  // ---------------------------------------------------------------

  /** One hourly point of a type's count series, with the burst-state
    * emission cost difference attached. */
  final case class BurstPt(event_type: String, rn: Long, c: Long, d: Long)
  /** One detected burst interval. */
  final case class BurstOut(event_type: String, start_rn: Long,
      end_rn: Long, hours: Long, events: Long)

  /** Micro-nats per count unit for the burst state's rate ratio:
    * ln 2 · 1e6, embedded as a LITERAL integer — a live ln(2) would
    * put a library ulp under the DP (the q_benford literal-table
    * rule). The burst state models rate 2·λ₀, so the per-hour
    * emission cost difference collapses to λ₀ − c·ln2 (the Poisson
    * cost algebra: (2λ₀−λ₀) − c·(ln 2λ₀ − ln λ₀)). */
  private val Ln2Micro = 693147L
  /** Cost of ENTERING the burst state, micro-nats (Kleinberg's γ). */
  private val BurstGamma = 1000000L

  /** Kleinberg-style burst detection over each type's hourly series:
    * a 2-state automaton (baseline rate λ₀ = the type's mean hourly
    * count, burst rate 2λ₀) decoded by min-cost dynamic programming,
    * burst runs reported as intervals. EVERYTHING is exact integer
    * micro-nats: λ₀ as (1e6·Σc) div hours, the per-hour emission
    * difference d = λ₀_micro − c·LN2_MICRO, the PREFIX cost pair
    * c0 ← min(c0,c1), c1 ← min(c1, c0+γ) + d, the SUFFIX cost pair
    * g0 ← min(g0', γ+d'+g1'), g1 ← min(g0', d'+g1') (primes = next
    * step), and the label s_t = [c1+g1 < c0+g0] (strict <, ties to
    * baseline). Two INDEPENDENT linear recursions + one join — the
    * standard forward-backward decoding; a backtracking pass would
    * chain a recursion onto the forward recursion's OUTPUT, which
    * re-evaluates quadratically in a recursive CTE (measured: the
    * sf0.01 oracle never finished) — the suffix form recurses only
    * over the base series on both sides. No float exists anywhere in
    * the operator, so the decoded labels cannot diverge between
    * engines at any scale. (Per-type event totals are bounded by
    * 2^63/1e6 ≈ 9.2e12 for the λ₀ product — disclosed; DuckDB's
    * 128-bit SUM never wraps first.)
    *
    * The synthetic corpus is rate-uniform, so a PLANTED literal
    * burst type (90 events packed into hours 101-106 of the window)
    * puts the enter/stay/exit branches under the oracle hash at
    * every scale, while real types exercise the no-burst and
    * marginal-burst paths.
    *
    * Scale shape: the corpus-sized work is ONE hourly count
    * aggregation; the Viterbi is a calendar-bounded per-key fold
    * (the events_holt_winters rule) and islands run on the bounded
    * label frame. */
  val bursts: Q = Q(
    "events_bursts",
    s"""WITH RECURSIVE h0 AS (
      |  SELECT MIN(date_trunc('hour', ts)) AS h0 FROM events),
      |ev AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h FROM events
      |  UNION ALL
      |  SELECT 'planted_burst',
      |    (SELECT h0 FROM h0) + (101 + i // 15) * INTERVAL 1 HOUR
      |  FROM (SELECT unnest(generate_series(0, 89)) AS i)),
      |spine AS (
      |  SELECT t.event_type, s.h
      |  FROM (SELECT DISTINCT event_type FROM ev) t
      |  CROSS JOIN (
      |    SELECT unnest(generate_series(
      |      (SELECT MIN(h) FROM ev), (SELECT MAX(h) FROM ev),
      |      INTERVAL 1 HOUR)) AS h) s),
      |cnt AS (SELECT event_type, h, COUNT(*)::BIGINT AS c
      |  FROM ev GROUP BY 1, 2),
      |series AS (
      |  SELECT sp.event_type, sp.h, COALESCE(cnt.c, 0)::BIGINT AS c,
      |    ROW_NUMBER() OVER (PARTITION BY sp.event_type ORDER BY sp.h)
      |      AS rn
      |  FROM spine sp LEFT JOIN cnt
      |    ON sp.event_type = cnt.event_type AND sp.h = cnt.h),
      |lam AS (
      |  SELECT event_type, (1000000 * SUM(c)::BIGINT) // COUNT(*) AS lam,
      |    COUNT(*)::BIGINT AS t
      |  FROM series GROUP BY 1),
      |e AS (
      |  SELECT s.event_type, s.rn, s.c,
      |    l.lam - s.c * $Ln2Micro AS d, l.t
      |  FROM series s JOIN lam l USING (event_type)),
      |fwd(event_type, rn, c0, c1) AS (
      |  SELECT event_type, rn, 0::BIGINT, d + $BurstGamma
      |  FROM e WHERE rn = 1
      |  UNION ALL
      |  SELECT e.event_type, e.rn,
      |    LEAST(f.c0, f.c1),
      |    LEAST(f.c1, f.c0 + $BurstGamma) + e.d
      |  FROM fwd f JOIN e
      |    ON e.event_type = f.event_type AND e.rn = f.rn + 1),
      |sfx(event_type, rn, g0, g1) AS (
      |  SELECT event_type, t, 0::BIGINT, 0::BIGINT FROM lam
      |  UNION ALL
      |  SELECT e.event_type, e.rn - 1,
      |    LEAST(g.g0, $BurstGamma + e.d + g.g1),
      |    LEAST(g.g0, e.d + g.g1)
      |  FROM sfx g JOIN e
      |    ON e.event_type = g.event_type AND e.rn = g.rn
      |  WHERE g.rn > 1),
      |lab AS (
      |  SELECT f.event_type, f.rn, e.c,
      |    f.rn - ROW_NUMBER() OVER (PARTITION BY f.event_type
      |      ORDER BY f.rn) AS grp
      |  FROM fwd f
      |  JOIN sfx g ON g.event_type = f.event_type AND g.rn = f.rn
      |  JOIN e ON e.event_type = f.event_type AND e.rn = f.rn
      |  WHERE f.c1 + g.g1 < f.c0 + g.g0)
      |SELECT event_type, MIN(rn) AS start_rn, MAX(rn) AS end_rn,
      |  COUNT(*)::BIGINT AS hours, SUM(c)::BIGINT AS events
      |FROM lab GROUP BY event_type, grp
      |ORDER BY event_type, start_rn""".stripMargin) { (s, dir) =>
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .cache()
    val h0 = ev.agg(min(col("h")).as("h0"))
    val planted = h0
      .select(explode(sequence(lit(0), lit(89))).as("i"), col("h0"))
      .select(lit("planted_burst").as("event_type"),
        expr("h0 + make_interval(0, 0, 0, 0, 101 + (i div 15), 0, 0)")
          .as("h"))
    val all0 = ev.unionByName(planted)
    val cnt = all0.groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("c"))
    val range = all0.agg(min(col("h")).as("ha"), max(col("h")).as("hb"))
    val spine = all0.select(col("event_type")).distinct()
      .crossJoin(broadcast(range))
      .select(col("event_type"),
        explode(sequence(col("ha"), col("hb"),
          expr("interval 1 hour"))).as("h"))
    val wT = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val series = spine.join(cnt, Seq("event_type", "h"), "left")
      .select(col("event_type"),
        coalesce(col("c"), lit(0L)).as("c"),
        row_number().over(wT).cast("long").as("rn"))
    val lam = series.groupBy(col("event_type"))
      .agg(expr("(1000000 * sum(c)) div count(1)").as("lam"))
    val pts = series.join(broadcast(lam), Seq("event_type"))
      .select(col("event_type"), col("rn"), col("c"),
        (col("lam") - col("c") * Ln2Micro).as("d"))
      .as[BurstPt]
    pts.groupByKey(_.event_type)
      .flatMapGroups { (k: String, it: Iterator[BurstPt]) =>
        // calendar-bounded per-key forward-backward: prefix and
        // suffix cost pairs, per-step argmin labels, islands fold
        val p = it.toArray.sortBy(_.rn)
        val n = p.length
        val c0 = new Array[Long](n)
        val c1 = new Array[Long](n)
        c0(0) = 0L
        c1(0) = p(0).d + BurstGamma
        var i = 1
        while (i < n) {
          c0(i) = math.min(c0(i - 1), c1(i - 1))
          c1(i) = math.min(c1(i - 1), c0(i - 1) + BurstGamma) + p(i).d
          i += 1
        }
        val g0 = new Array[Long](n)
        val g1 = new Array[Long](n)
        g0(n - 1) = 0L
        g1(n - 1) = 0L
        i = n - 2
        while (i >= 0) {
          g0(i) = math.min(g0(i + 1), BurstGamma + p(i + 1).d + g1(i + 1))
          g1(i) = math.min(g0(i + 1), p(i + 1).d + g1(i + 1))
          i -= 1
        }
        val st = new Array[Int](n)
        i = 0
        while (i < n) {
          st(i) = if (c1(i) + g1(i) < c0(i) + g0(i)) 1 else 0
          i += 1
        }
        val out = Seq.newBuilder[BurstOut]
        var j = 0
        while (j < n) {
          if (st(j) == 1) {
            var end = j
            var evs = 0L
            while (end < n && st(end) == 1) { evs += p(end).c; end += 1 }
            out += BurstOut(k, p(j).rn, p(end - 1).rn,
              (end - j).toLong, evs)
            j = end
          } else j += 1
        }
        out.result().iterator
      }
      .toDF()
      .orderBy(col("event_type"), col("start_rn"))
  }

  // ---------------------------------------------------------------
  // CUSUM changepoint localization
  // ---------------------------------------------------------------

  /** Single changepoint localization per event type — WHERE the level
    * shifted, the question events_cusum's alarm leaves open. The
    * statistic is the classic max-CUSUM deviation on the hourly count
    * series: at each split k, D_k = |n·S_k − k·S_n| (the cumulative
    * sum's deviation from the proportional ray, cross-multiplied into
    * EXACT int64 — n·S_k ≤ hours·events stays far below 2^63), the
    * changepoint is the argmax with smallest-k tie-break, and the
    * printed magnitude normalizes once: mag = D/(n·√(k(n−k))) … kept
    * instead as the EXACT pair (d_num, plus the two means around the
    * split as 6dp divisions of exact sums) so nothing engine-ordered
    * exists. A planted level-shift type (3/hour → 12/hour at the
    * window's midpoint) pins the localization exactly.
    *
    * Scale shape: one count aggregation (corpus-sized), then
    * calendar-bounded windows — the q_ks_test shape on the time
    * axis. */
  val changepoint: Q = Q(
    "events_changepoint",
    """WITH h0 AS (
      |  SELECT MIN(date_trunc('hour', ts)) AS h0 FROM events),
      |ev AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h FROM events
      |  UNION ALL
      |  SELECT 'planted_shift',
      |    (SELECT h0 FROM h0) + (CASE WHEN i < 1080 THEN i // 3
      |      ELSE 360 + (i - 1080) // 12 END) * INTERVAL 1 HOUR
      |  FROM (SELECT unnest(generate_series(0, 5399))
      |    AS i)),
      |spine AS (
      |  SELECT t.event_type, s.h
      |  FROM (SELECT DISTINCT event_type FROM ev) t
      |  CROSS JOIN (
      |    SELECT unnest(generate_series(
      |      (SELECT MIN(h) FROM ev), (SELECT MAX(h) FROM ev),
      |      INTERVAL 1 HOUR)) AS h) s),
      |cnt AS (SELECT event_type, h, COUNT(*)::BIGINT AS c
      |  FROM ev GROUP BY 1, 2),
      |series AS (
      |  SELECT sp.event_type, COALESCE(cnt.c, 0)::BIGINT AS c,
      |    ROW_NUMBER() OVER (PARTITION BY sp.event_type ORDER BY sp.h)
      |      AS k
      |  FROM spine sp LEFT JOIN cnt
      |    ON sp.event_type = cnt.event_type AND sp.h = cnt.h),
      |cum AS (
      |  SELECT event_type, k, c,
      |    SUM(c) OVER (PARTITION BY event_type ORDER BY k
      |      ROWS UNBOUNDED PRECEDING)::BIGINT AS sk,
      |    COUNT(*) OVER (PARTITION BY event_type)::BIGINT AS n,
      |    SUM(c) OVER (PARTITION BY event_type)::BIGINT AS sn
      |  FROM series),
      |dev AS (
      |  SELECT event_type, k, n, sn, sk,
      |    ABS(n * sk - k * sn) AS d
      |  FROM cum WHERE k < n),
      |best AS (
      |  SELECT event_type, k, n, sn, sk, d,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY d DESC, k) AS rnk
      |  FROM dev)
      |SELECT event_type, k AS split_k, n, d AS d_num,
      |  ROUND(CAST(sk AS DOUBLE) / k, 6) + 0 AS mean_before,
      |  ROUND(CAST(sn - sk AS DOUBLE) / (n - k), 6) + 0 AS mean_after
      |FROM best WHERE rnk = 1 ORDER BY event_type""".stripMargin) {
    (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .cache()
      val h0 = ev.agg(min(col("h")).as("h0"))
      // planted level shift: 3/hour for hours 0..359, 12/hour for
      // 360..719 — the midpoint split is the designed answer
      val planted = h0
        .select(explode(sequence(lit(0), lit(5399)))
          .as("i"), col("h0"))
        .select(lit("planted_shift").as("event_type"),
          expr("h0 + make_interval(0, 0, 0, 0, CASE WHEN i < 1080 " +
            "THEN i div 3 ELSE 360 + (i - 1080) div 12 END, 0, 0)")
            .as("h"))
      val all0 = ev.unionByName(planted)
      val cnt = all0.groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("c"))
      val range = all0.agg(min(col("h")).as("ha"), max(col("h")).as("hb"))
      val spine = all0.select(col("event_type")).distinct()
        .crossJoin(broadcast(range))
        .select(col("event_type"),
          explode(sequence(col("ha"), col("hb"),
            expr("interval 1 hour"))).as("h"))
      val wT = Window.partitionBy(col("event_type")).orderBy(col("h"))
      val wAll = Window.partitionBy(col("event_type"))
      val series = spine.join(cnt, Seq("event_type", "h"), "left")
        .select(col("event_type"),
          coalesce(col("c"), lit(0L)).as("c"),
          row_number().over(wT).cast("long").as("k"))
      val cum = series.select(col("event_type"), col("k"), col("c"),
        sum(col("c")).over(Window.partitionBy(col("event_type"))
          .orderBy(col("k"))
          .rowsBetween(Window.unboundedPreceding, 0)).as("sk"),
        count(lit(1)).over(wAll).as("n"),
        sum(col("c")).over(wAll).as("sn"))
      val dev = cum.filter(col("k") < col("n"))
        .select(col("event_type"), col("k"), col("n"), col("sn"),
          col("sk"),
          abs(col("n") * col("sk") - col("k") * col("sn")).as("d"))
      dev
        .withColumn("rnk", row_number().over(Window
          .partitionBy(col("event_type"))
          .orderBy(col("d").desc, col("k"))))
        .filter(col("rnk") === 1)
        .select(col("event_type"), col("k").as("split_k"), col("n"),
          col("d").as("d_num"),
          (round(col("sk").cast("double") / col("k"), 6) + 0)
            .as("mean_before"),
          (round((col("sn") - col("sk")).cast("double")
            / (col("n") - col("k")), 6) + 0).as("mean_after"))
        .orderBy(col("event_type"))
  }

  // ---------------------------------------------------------------
  // Weight of evidence / information value
  // ---------------------------------------------------------------

  /** Weight-of-evidence profile + information value — the
    * credit-scoring feature screen: how strongly does line-item
    * quantity separate returned ('R' = "bad") from kept line items?
    * Per quantity bucket: WoE = ln(((g+0.5)·B)/((b+0.5)·G)) (the
    * +0.5 continuity correction applied UNIFORMLY — declared
    * semantics, no zero-cell branch to diverge on), one fixed
    * double expression over exact integer counts, ROUND(6).
    * IV = Σ (g/G − b/B)·WoE is a mixed-sign float sum over the
    * bucket domain in engine aggregation order → printed on the 4dp
    * FLOOR grid (the text_jsd accepted class); per-bucket columns
    * stay exact/single-op. Grouped counts over the 50-value bucket
    * domain — map-side partials do all data-sized work. */
  val woeIv: Q = Q(
    "q_woe_iv",
    """WITH g AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS q,
      |    SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)::BIGINT
      |      AS good,
      |    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT
      |      AS bad
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT SUM(good)::BIGINT AS gt, SUM(bad)::BIGINT AS bt
      |  FROM g),
      |w AS (
      |  SELECT q, good, bad,
      |    ln(((good + 0.5) * (SELECT bt FROM t))
      |      / ((bad + 0.5) * (SELECT gt FROM t))) AS woe,
      |    (CAST(good AS DOUBLE) / (SELECT gt FROM t)
      |      - CAST(bad AS DOUBLE) / (SELECT bt FROM t)) AS dp
      |  FROM g)
      |SELECT q, good, bad, ROUND(woe, 6) + 0 AS woe,
      |  FLOOR(SUM(dp * woe) OVER () * 10000 + 0.5) / 10000 + 0 AS iv
      |FROM w ORDER BY q""".stripMargin) { (s, dir) =>
    val li = Tables.load(s, dir, "lineitem")
    val g = li.groupBy(col("l_quantity").cast("long").as("q")).agg(
      sum(when(col("l_returnflag") === "R", 0L).otherwise(1L)).as("good"),
      sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("bad"))
    val t = g.agg(sum(col("good")).as("gt"), sum(col("bad")).as("bt"))
    val w = g.crossJoin(broadcast(t))
      .select(col("q"), col("good"), col("bad"),
        log(((col("good") + 0.5) * col("bt"))
          / ((col("bad") + 0.5) * col("gt"))).as("woe"),
        (col("good").cast("double") / col("gt")
          - col("bad").cast("double") / col("bt")).as("dp"))
    // bounded band: the 50-value bucket domain
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w.select(col("q"), col("good"), col("bad"),
        (round(col("woe"), 6) + 0).as("woe"),
        (floor(sum(col("dp") * col("woe")).over(wAll) * 10000 + 0.5)
          / 10000 + 0).as("iv"))
      .orderBy(col("q"))
  }

  // ---------------------------------------------------------------
  // Forecast backtest: Holt-Winters vs naive baselines
  // ---------------------------------------------------------------

  /** One-step-ahead forecast backtest over each type's hourly series
    * — the model-selection pass a forecasting pipeline runs before
    * trusting a smoother: Holt-Winters (the events_holt_winters fold,
    * shared VERBATIM) against the two standard baselines, seasonal
    * naive (ŷ_{t+1} = y_{t+1−24}) and persistence (ŷ_{t+1} = y_t),
    * scored by MAE in EXACT micro-units. The HW forecast is
    * floor-quantized to the SAME 6dp grid the registered query
    * prints (micro = FLOOR(fc·1e6 + 0.5) — identical bits both
    * engines), actuals are integer counts, so every error and both
    * baseline errors are exact int64 and mae_micro = (Σ|e|) div n
    * never touches a float; the winner column is a strict-< CASE in
    * declared preference order (hw, snaive, persist). Summed
    * micro-errors stay inside int64 while hourly counts ≤ ~3.6e9 per
    * type over a 30-day window (3.6e9·1e6·720 < 2^63 — disclosed). Evaluation
    * window = steps where all three forecasts exist (rn ≥ 25, target
    * ≤ T). Scale shape: identical to events_holt_winters. */
  val forecastEval: Q = Q(
    "events_forecast_eval",
    {
      val lNew = "(0.25 * (e.c - r.season[1]) + 0.75 * (r.l + r.b))"
      val bNew = s"(0.125 * ($lNew - r.l) + 0.875 * r.b)"
      val sNew = s"(0.0625 * (e.c - $lNew) + 0.9375 * r.season[1])"
      s"""WITH RECURSIVE series0 AS (
        |  SELECT t.event_type, s.h, COALESCE(c.c, 0) AS c
        |  FROM (SELECT DISTINCT event_type FROM events) t
        |  CROSS JOIN (
        |    SELECT unnest(generate_series(
        |      (SELECT MIN(date_trunc('hour', ts)) FROM events),
        |      (SELECT MAX(date_trunc('hour', ts)) FROM events),
        |      INTERVAL 1 HOUR)) AS h) s
        |  LEFT JOIN (
        |    SELECT event_type, date_trunc('hour', ts) AS h,
        |      COUNT(*) AS c
        |    FROM events GROUP BY 1, 2) c
        |  ON t.event_type = c.event_type AND s.h = c.h),
        |e AS (
        |  SELECT event_type, c,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM series0),
        |l0 AS (
        |  SELECT event_type, CAST(SUM(c) AS DOUBLE) / 24.0 AS l0
        |  FROM e WHERE rn <= 24 GROUP BY 1),
        |r(event_type, rn, l, b, season) AS (
        |  SELECT e.event_type, 24, l0.l0, CAST(0.0 AS DOUBLE),
        |    list(e.c - l0.l0 ORDER BY e.rn)
        |  FROM e JOIN l0 ON e.event_type = l0.event_type
        |  WHERE e.rn <= 24
        |  GROUP BY e.event_type, l0.l0
        |  UNION ALL
        |  SELECT e.event_type, e.rn, $lNew, $bNew,
        |    r.season[2:24] || [$sNew]
        |  FROM r JOIN e
        |    ON e.event_type = r.event_type AND e.rn = r.rn + 1),
        |fc AS (
        |  SELECT event_type, rn,
        |    CAST(FLOOR((l + b + season[1]) * 1000000 + 0.5) AS BIGINT)
        |      AS hw_micro
        |  FROM r WHERE rn >= 25),
        |ev AS (
        |  SELECT a.event_type,
        |    ABS(t.c * 1000000 - a.hw_micro) AS e_hw,
        |    ABS(t.c - sn.c) * 1000000 AS e_sn,
        |    ABS(t.c - p.c) * 1000000 AS e_p
        |  FROM fc a
        |  JOIN e t ON t.event_type = a.event_type AND t.rn = a.rn + 1
        |  JOIN e sn ON sn.event_type = a.event_type
        |    AND sn.rn = a.rn + 1 - 24
        |  JOIN e p ON p.event_type = a.event_type AND p.rn = a.rn),
        |m AS (
        |  SELECT event_type, COUNT(*)::BIGINT AS n_evals,
        |    (SUM(e_hw)::BIGINT) // COUNT(*) AS mae_hw_micro,
        |    (SUM(e_sn)::BIGINT) // COUNT(*) AS mae_snaive_micro,
        |    (SUM(e_p)::BIGINT) // COUNT(*) AS mae_persist_micro
        |  FROM ev GROUP BY 1)
        |SELECT event_type, n_evals, mae_hw_micro, mae_snaive_micro,
        |  mae_persist_micro,
        |  CASE WHEN mae_hw_micro <= mae_snaive_micro
        |      AND mae_hw_micro <= mae_persist_micro THEN 'holt_winters'
        |    WHEN mae_snaive_micro <= mae_persist_micro
        |      THEN 'seasonal_naive'
        |    ELSE 'persistence' END AS best
        |FROM m ORDER BY event_type""".stripMargin
    }) { (s, dir) =>
    import s.implicits._
    val wT = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val series = Events.hourlySeries(s, dir)
      .select(col("event_type"), col("c"),
        row_number().over(wT).cast("long").as("rn"))
      .cache()
    val msgs = series
      .select(col("event_type").as("key"), col("rn").as("seq_id"),
        col("c").cast("double").as("value"))
      .as[graft.streaming.StreamOps.HwMsg]
    val fc = msgs.groupByKey(_.key)
      .flatMapGroups { (k: String,
          it: Iterator[graft.streaming.StreamOps.HwMsg]) =>
        graft.streaming.StreamOps
          .hwFold(k, it.toSeq, (0, 0.0, 0.0, Vector.empty))._2.iterator
      }
      .toDF()
      .select(col("key").as("event_type"), col("seq_id").as("rn"),
        floor(col("forecast_next") * 1000000 + 0.5).cast("long")
          .as("hw_micro"))
    val t = series.select(col("event_type").as("t_et"),
      col("rn").as("trn"), col("c").as("tc"))
    val sn = series.select(col("event_type").as("sn_et"),
      col("rn").as("snrn"), col("c").as("snc"))
    val p = series.select(col("event_type").as("p_et"),
      col("rn").as("prn"), col("c").as("pc"))
    val ev = fc
      .join(t, col("event_type") === col("t_et")
        && col("trn") === col("rn") + 1)
      .join(sn, col("event_type") === col("sn_et")
        && col("snrn") === col("rn") + 1 - 24)
      .join(p, col("event_type") === col("p_et")
        && col("prn") === col("rn"))
      .select(col("event_type"),
        abs(col("tc") * 1000000 - col("hw_micro")).as("e_hw"),
        (abs(col("tc") - col("snc")) * 1000000).as("e_sn"),
        (abs(col("tc") - col("pc")) * 1000000).as("e_p"))
    ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_evals"),
        expr("sum(e_hw) div count(1)").as("mae_hw_micro"),
        expr("sum(e_sn) div count(1)").as("mae_snaive_micro"),
        expr("sum(e_p) div count(1)").as("mae_persist_micro"))
      .withColumn("best",
        when(col("mae_hw_micro") <= col("mae_snaive_micro")
          && col("mae_hw_micro") <= col("mae_persist_micro"),
          "holt_winters")
          .when(col("mae_snaive_micro") <= col("mae_persist_micro"),
            "seasonal_naive")
          .otherwise("persistence"))
      .orderBy(col("event_type"))
  }

  // ---------------------------------------------------------------
  // Exact grid-histogram quantiles (the HistIndex computation)
  // ---------------------------------------------------------------

  /** Per-segment order-value quantiles from a FIXED-GRID histogram —
    * the batch face of operators.HistIndex's mergeable sketch: p50/
    * p90/p99 as the smallest bucket whose cumulative count covers
    * the rank, decided by the integer cross-compare 100·cum ≥ p·n
    * (no interpolation, no float anywhere — unlike
    * q_approx_quantiles this is EXACT on the declared 2500.00-unit
    * grid, and unlike q_percentiles the state is value-domain-
    * bounded and mergeable, which is what a 100 TB maintained
    * quantile index needs). One join + grouped counts per (segment,
    * bucket), bounded cumulative windows, conditional-min rank
    * lookups. */
  val quantileHist: Q = Q(
    "q_quantile_hist",
    """WITH j AS (
      |  SELECT c_mktsegment AS seg,
      |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) // 250000
      |      AS b
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |g AS (SELECT seg, b, COUNT(*)::BIGINT AS c FROM j GROUP BY 1, 2),
      |cum AS (
      |  SELECT seg, b,
      |    SUM(c) OVER (PARTITION BY seg ORDER BY b
      |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
      |    SUM(c) OVER (PARTITION BY seg)::BIGINT AS n
      |  FROM g)
      |SELECT seg, MAX(n) AS n,
      |  MIN(CASE WHEN 100 * cum >= 50 * n THEN b END) * 250000
      |    AS q50_lo,
      |  MIN(CASE WHEN 100 * cum >= 90 * n THEN b END) * 250000
      |    AS q90_lo,
      |  MIN(CASE WHEN 100 * cum >= 99 * n THEN b END) * 250000
      |    AS q99_lo
      |FROM cum GROUP BY seg ORDER BY seg""".stripMargin) { (s, dir) =>
    val o = Tables.load(s, dir, "orders")
    val c = Tables.load(s, dir, "customer")
    // customer scales with sf — unhinted join, AQE chooses the side
    val j = o.join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint) " +
          "div 250000").as("b"))
    val g = j.groupBy(col("seg"), col("b")).agg(count(lit(1)).as("c"))
    // bounded band: the per-segment bucket grid is value-domain-sized
    val wCum = Window.partitionBy(col("seg")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wSeg = Window.partitionBy(col("seg"))
    val cum = g.select(col("seg"), col("b"),
      sum(col("c")).over(wCum).as("cum"),
      sum(col("c")).over(wSeg).as("n"))
    cum.groupBy(col("seg"))
      .agg(max(col("n")).as("n"),
        (min(when(col("cum") * 100 >= col("n") * 50, col("b")))
          * 250000).as("q50_lo"),
        (min(when(col("cum") * 100 >= col("n") * 90, col("b")))
          * 250000).as("q90_lo"),
        (min(when(col("cum") * 100 >= col("n") * 99, col("b")))
          * 250000).as("q99_lo"))
      .orderBy(col("seg"))
  }

  // ---------------------------------------------------------------
  // Population stability index (batch drift)
  // ---------------------------------------------------------------

  /** Population Stability Index between the first and second halves
    * of the order window — the scorecard-monitoring standard the
    * streaming KS scorer complements: over the SAME fixed bucket
    * grid as HistIndex/q_quantile_hist, PSI = Σ (p₂−p₁)·ln(p₂/p₁)
    * with +0.5 count smoothing applied UNIFORMLY (p = (c+0.5)/
    * (n+0.5·B) — no zero-cell branch; c+0.5 is an exact double).
    * Per-bucket contributions are single fixed-order expressions
    * ROUND(6); the mixed-sign PSI total sums in engine aggregation
    * order → printed on the 4dp FLOOR grid (the text_jsd accepted
    * class). The half split is day-exact: orderdate < min +
    * (span div 2) days. One scan, grouped counts per bucket. */
  val psi: Q = Q(
    "q_psi",
    """WITH b AS (
      |  SELECT MIN(o_orderdate::DATE) AS d0,
      |    date_diff('day', MIN(o_orderdate::DATE),
      |      MAX(o_orderdate::DATE)) // 2 AS half
      |  FROM orders),
      |j AS (
      |  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
      |      // 250000 AS bucket,
      |    o_orderdate::DATE <
      |      (SELECT d0 FROM b) + (SELECT half FROM b)
      |        * INTERVAL 1 DAY AS first_half
      |  FROM orders),
      |g AS (
      |  SELECT bucket,
      |    SUM(CASE WHEN first_half THEN 1 ELSE 0 END)::BIGINT AS c1,
      |    SUM(CASE WHEN first_half THEN 0 ELSE 1 END)::BIGINT AS c2
      |  FROM j GROUP BY 1),
      |t AS (
      |  SELECT SUM(c1)::BIGINT AS n1, SUM(c2)::BIGINT AS n2,
      |    COUNT(*)::BIGINT AS nb
      |  FROM g),
      |w AS (
      |  SELECT bucket, c1, c2,
      |    ((c2 + 0.5) / ((SELECT n2 FROM t) + 0.5 * (SELECT nb FROM t))
      |      - (c1 + 0.5)
      |        / ((SELECT n1 FROM t) + 0.5 * (SELECT nb FROM t)))
      |    * ln(((c2 + 0.5) * ((SELECT n1 FROM t)
      |        + 0.5 * (SELECT nb FROM t)))
      |      / ((c1 + 0.5) * ((SELECT n2 FROM t)
      |        + 0.5 * (SELECT nb FROM t)))) AS contrib
      |  FROM g)
      |SELECT bucket, c1, c2, ROUND(contrib, 6) + 0 AS contrib,
      |  FLOOR(SUM(contrib) OVER () * 10000 + 0.5) / 10000 + 0 AS psi
      |FROM w ORDER BY bucket""".stripMargin) { (s, dir) =>
    val o = Tables.load(s, dir, "orders")
      .select(to_date(col("o_orderdate")).as("d"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint) " +
          "div 250000").as("bucket"))
    val b = o.agg(min(col("d")).as("d0"),
      expr("datediff(max(d), min(d)) div 2").as("half"))
    val j = o.crossJoin(broadcast(b))
      .select(col("bucket"),
        (col("d") < expr("date_add(d0, cast(half as int))"))
          .as("first_half"))
    val g = j.groupBy(col("bucket")).agg(
      sum(when(col("first_half"), 1L).otherwise(0L)).as("c1"),
      sum(when(col("first_half"), 0L).otherwise(1L)).as("c2"))
    val t = g.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
      count(lit(1)).as("nb"))
    val w = g.crossJoin(broadcast(t))
      .select(col("bucket"), col("c1"), col("c2"),
        (((col("c2") + 0.5) / (col("n2") + lit(0.5) * col("nb"))
          - (col("c1") + 0.5) / (col("n1") + lit(0.5) * col("nb")))
          * log(((col("c2") + 0.5)
              * (col("n1") + lit(0.5) * col("nb")))
            / ((col("c1") + 0.5)
              * (col("n2") + lit(0.5) * col("nb"))))).as("contrib"))
    // bounded band: the value-domain bucket grid
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w.select(col("bucket"), col("c1"), col("c2"),
        (round(col("contrib"), 6) + 0).as("contrib"),
        (floor(sum(col("contrib")).over(wAll) * 10000 + 0.5) / 10000
          + 0).as("psi"))
      .orderBy(col("bucket"))
  }

  // ---------------------------------------------------------------
  // Lorenz curve of user activity
  // ---------------------------------------------------------------

  /** Activity-concentration (Lorenz) deciles: users ranked by event
    * count ascending (ties by user_id), chopped into ten exact rank
    * deciles (decile = ((rn−1)·10) div n + 1 — no ntile tie
    * ambiguity), each reporting its user count, event count, and the
    * CUMULATIVE share of all events in exact ppm ((1e6·cum) div
    * total) — the "bottom 50% of users produce X% of events" curve
    * next to q_gini's scalar. Pure integers end to end. Scale: one
    * grouped count (corpus-sized); the user rank rides GlobalPrefix
    * (range exchange + per-partition window + O(partitions) offsets)
    * — users grow with the data, so a bare ROW_NUMBER() OVER
    * (ORDER BY …) would funnel the whole user base into one task;
    * 10-row output. */
  val lorenz: Q = Q(
    "events_lorenz",
    """WITH u AS (
      |  SELECT user_id, COUNT(*)::BIGINT AS c
      |  FROM events GROUP BY 1),
      |r AS (
      |  SELECT c, ROW_NUMBER() OVER (ORDER BY c, user_id) AS rn,
      |    COUNT(*) OVER ()::BIGINT AS n
      |  FROM u),
      |d AS (
      |  SELECT ((rn - 1) * 10) // n + 1 AS decile, c
      |  FROM r),
      |g AS (
      |  SELECT decile, COUNT(*)::BIGINT AS users,
      |    SUM(c)::BIGINT AS events
      |  FROM d GROUP BY 1),
      |cum AS (
      |  SELECT decile, users, events,
      |    SUM(events) OVER (ORDER BY decile
      |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
      |    SUM(events) OVER ()::BIGINT AS tot
      |  FROM g)
      |SELECT decile, users, events,
      |  (1000000 * cum) // tot AS cum_ppm
      |FROM cum ORDER BY decile""".stripMargin) { (s, dir) =>
    val u = Tables.events(s, dir).groupBy(col("user_id"))
      .agg(count(lit(1)).as("c"))
    // global user rank via GlobalPrefix(value=1): cum IS the 1-based
    // inclusive rank in (c, user_id) order, n comes back as the total
    val (ranked, n) =
      GlobalPrefix.withCumSum(u, Seq(col("c"), col("user_id")), lit(1L))
    val g = ranked
      .select((expr(s"((cum - 1) * 10) div ${n}L") + 1).as("decile"),
        col("c"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("users"), sum(col("c")).as("events"))
    // the decile windows run over a 10-row frame — bounded by design
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.select(col("decile"), col("users"), col("events"),
        sum(col("events")).over(wCum).as("cum"),
        sum(col("events")).over(wAll).as("tot"))
      .select(col("decile"), col("users"), col("events"),
        expr("(1000000 * cum) div tot").as("cum_ppm"))
      .orderBy(col("decile"))
  }

  // ---------------------------------------------------------------
  // Cohort-partitioned Kaplan-Meier
  // ---------------------------------------------------------------

  /** events_survival's curve PARTITIONED BY ACQUISITION COHORT —
    * "do users whose first touch was a purchase hold longer sessions
    * than users who arrived through an error page?", the comparative
    * form every retention analysis actually asks. A user's cohort is
    * the TYPE of their first event (deterministic first: ROW_NUMBER
    * over (ts, event_id) — the synthetic user base is fully active
    * from day one, so calendar cohorts would be degenerate; first
    * touch partitions users for real); every session inherits it; then the SAME integer KM/Nelson-Aalen recursion runs per
    * cohort (the bounded array fold becomes one fold per group —
    * groups×steps rows, still value-bounded; the oracle's recursive
    * CTE keys on (cohort, i) so each cohort's recursion stays
    * linear, the events_bursts rule). Censoring identical to
    * events_survival (administrative 30-minute cutoff). */
  val cohortKm: Q = Q(
    "events_cohort_km",
    """WITH RECURSIVE x AS (
      |  SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL
      |    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |    THEN 1 ELSE 0 END AS ns
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |y AS (
      |  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS UNBOUNDED PRECEDING) AS sid FROM x),
      |uc AS (
      |  SELECT user_id, event_type AS cohort FROM (
      |    SELECT user_id, event_type, ROW_NUMBER() OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |    FROM events) WHERE rn = 1),
      |u AS (
      |  SELECT uc.cohort,
      |    LEAST((epoch_us(MAX(y.ts)) - epoch_us(MIN(y.ts)))
      |      // 60000000, 30) AS dur,
      |    (epoch_us(MAX(y.ts)) - epoch_us(MIN(y.ts))) // 60000000 >= 30
      |      AS cens
      |  FROM y JOIN uc ON y.user_id = uc.user_id
      |  GROUP BY y.user_id, y.sid, uc.cohort),
      |bd AS (
      |  SELECT cohort, dur, COUNT(*) AS ca,
      |    SUM(CASE WHEN cens THEN 0 ELSE 1 END)::BIGINT AS cd
      |  FROM u GROUP BY 1, 2),
      |st AS (
      |  SELECT cohort, dur AS t,
      |    SUM(ca) OVER (PARTITION BY cohort ORDER BY dur DESC
      |      ROWS UNBOUNDED PRECEDING)::BIGINT AS n,
      |    cd AS d
      |  FROM bd),
      |steps AS (
      |  SELECT cohort, t, n, d,
      |    ROW_NUMBER() OVER (PARTITION BY cohort ORDER BY t) AS i
      |  FROM st WHERE d > 0),
      |km(cohort, i, s, h) AS (
      |  SELECT cohort, 0, 1000000::BIGINT, 0::BIGINT
      |  FROM (SELECT DISTINCT cohort FROM steps)
      |  UNION ALL
      |  SELECT p.cohort, p.i, (km.s * (p.n - p.d)) // p.n,
      |    km.h + ((1000000 * p.d) // p.n)
      |  FROM km JOIN steps p
      |    ON p.cohort = km.cohort AND p.i = km.i + 1)
      |SELECT p.cohort, p.t, p.n AS at_risk, p.d AS deaths,
      |  km.s AS km_micro, km.h AS cumhaz_micro
      |FROM km JOIN steps p USING (cohort, i)
      |ORDER BY cohort, t""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val sess = Events.sessionizeDf(ev
      .select(col("user_id"), col("ts"), col("value")))
    val wU = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val uc = ev
      .select(col("user_id"), col("event_type").as("cohort"),
        row_number().over(wU).as("rn"))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("cohort"))
    val rawDur = (unix_micros(col("session_end"))
      - unix_micros(col("session_start"))).cast("long")
    val u = sess.join(uc, Seq("user_id"))
      .select(col("cohort"),
        least(expr("(unix_micros(session_end) " +
          "- unix_micros(session_start)) div 60000000"), lit(30L))
          .as("dur"),
        (rawDur >= 30L * 60000000L).as("cens"))
    val byDur = u.groupBy(col("cohort"), col("dur")).agg(
      count(lit(1)).as("ca"),
      sum(when(col("cens"), 0L).otherwise(1L)).as("cd"))
    val wDesc = Window.partitionBy(col("cohort"))
      .orderBy(col("dur").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val steps = byDur
      .withColumn("n", sum(col("ca")).over(wDesc))
      .filter(col("cd") > 0)
      .select(col("cohort"), col("dur").as("t"), col("n"),
        col("cd").as("d"))
    // one bounded array fold PER COHORT — the events_survival
    // recursion, grouped
    steps
      .groupBy(col("cohort"))
      .agg(array_sort(collect_list(struct(col("t"), col("n"),
        col("d")))).as("xs"))
      .select(col("cohort"), col("xs"),
        expr("aggregate(xs, array(1000000L), (acc, x) -> " +
          "acc || array((element_at(acc, -1) * (x.n - x.d)) div x.n))")
          .as("ks"),
        expr("aggregate(xs, array(0L), (acc, x) -> " +
          "acc || array(element_at(acc, -1) + ((1000000 * x.d) div x.n)))")
          .as("hs"))
      .select(col("cohort"), posexplode(col("xs")).as(Seq("i", "x")),
        col("ks"), col("hs"))
      .select(col("cohort"), col("x.t").as("t"),
        col("x.n").as("at_risk"), col("x.d").as("deaths"),
        element_at(col("ks"), col("i").cast("int") + 2).as("km_micro"),
        element_at(col("hs"), col("i").cast("int") + 2)
          .as("cumhaz_micro"))
      .orderBy(col("cohort"), col("t"))
  }

  // ---------------------------------------------------------------
  // Mann-Kendall trend test per event type
  // ---------------------------------------------------------------

  /** Mann-Kendall trend test over each type's daily count series —
    * the nonparametric "is there a monotone trend at all?" companion
    * to events_theil_sen's "how steep?" (the two are the standard
    * pairing: MK decides, Theil-Sen estimates). S = Σ_{i<j}
    * sign(c_j − c_i) over day pairs (EXACT integer — the sign is an
    * explicit CASE, never a float), Var(S) = [n(n−1)(2n+5) −
    * Σ_t t(t−1)(2t+5)]/18 with the tie-group correction over equal
    * counts, and Z = (S∓1)/√Var with continuity correction — the
    * only float is the final fixed expression, ROUND(6). var_num is
    * REPORTED as the exact integer numerator (before /18): no float
    * in the schema but z itself, the q_ks_test convention.
    *
    * Scale shape: theilSen's exact dataflow — corpus-sized work is
    * ONE grouped daily count; the pairwise join is calendar-bounded
    * (days²/2 per type; the theilSen CONTRACT note applies
    * verbatim), the tie groups are value-bounded. */
  val mannKendall: Q = Q(
    "q_mann_kendall",
    """WITH mn AS (SELECT MIN(ts::DATE) AS mn FROM events),
      |daily AS (
      |  SELECT event_type,
      |    date_diff('day', (SELECT mn FROM mn), ts::DATE) AS t,
      |    COUNT(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2),
      |pts AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n FROM daily GROUP BY 1),
      |sstat AS (
      |  SELECT a.event_type,
      |    SUM(CASE WHEN b.c > a.c THEN 1
      |      WHEN b.c < a.c THEN -1 ELSE 0 END)::BIGINT AS s
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND b.t > a.t
      |  GROUP BY 1),
      |ties AS (
      |  SELECT event_type,
      |    COALESCE(SUM(tg * (tg - 1) * (2 * tg + 5)), 0)::BIGINT AS tt
      |  FROM (SELECT event_type, c, COUNT(*)::BIGINT AS tg
      |    FROM daily GROUP BY 1, 2) GROUP BY 1),
      |v AS (
      |  SELECT p.event_type, p.n, s.s,
      |    p.n * (p.n - 1) * (2 * p.n + 5) - t.tt AS var_num
      |  FROM pts p JOIN sstat s USING (event_type)
      |    JOIN ties t USING (event_type))
      |SELECT event_type, n AS n_pts, s, var_num,
      |  ROUND(CASE WHEN var_num <= 0 OR s = 0 THEN 0.0
      |    WHEN s > 0 THEN (s - 1) / SQRT(var_num / 18.0)
      |    ELSE (s + 1) / SQRT(var_num / 18.0) END, 6) + 0 AS z
      |FROM v ORDER BY event_type""".stripMargin) { (s, dir) =>
    val e = Tables.events(s, dir)
    val mn = e.agg(min(to_date(col("ts"))).as("mn"))
    val daily = e.crossJoin(broadcast(mn))
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), col("mn")).cast("long").as("t"))
      .agg(count(lit(1)).as("c"))
      .cache() // feeds pts, pairs, AND ties (caller-owned cleanup)
    val pts = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val a = daily.select(col("event_type"), col("t").as("t1"),
      col("c").as("c1"))
    val b = daily.select(col("event_type"), col("t").as("t2"),
      col("c").as("c2"))
    // calendar-bounded pairwise self-join: days²/2 rows per type
    val sstat = a.join(b, Seq("event_type")).filter(col("t2") > col("t1"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("c2") > col("c1"), 1L)
        .when(col("c2") < col("c1"), -1L).otherwise(0L)).as("s"))
    val ties = daily.groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("tg"))
      .groupBy(col("event_type"))
      .agg(coalesce(sum(col("tg") * (col("tg") - 1)
        * (col("tg") * 2 + 5)), lit(0L)).as("tt"))
    val v = pts.join(sstat, Seq("event_type")).join(ties, Seq("event_type"))
      .select(col("event_type"), col("n"), col("s"),
        (col("n") * (col("n") - 1) * (col("n") * 2 + 5) - col("tt"))
          .as("var_num"))
    v.select(col("event_type"), col("n").as("n_pts"), col("s"),
        col("var_num"),
        (round(when(col("var_num") <= 0 || col("s") === 0, 0.0)
          .when(col("s") > 0,
            (col("s") - 1) / sqrt(col("var_num") / 18.0))
          .otherwise((col("s") + 1) / sqrt(col("var_num") / 18.0)), 6)
          + 0).as("z"))
      .orderBy(col("event_type"))
  }

  // ---------------------------------------------------------------
  // Welch's t-test (unequal variances)
  // ---------------------------------------------------------------

  /** Welch's unequal-variance t-test — does returned ('R') line-item
    * quantity differ in MEAN from non-returned ('N')? The parametric
    * twin of q_mann_whitney's rank test (the pairing every two-sample
    * screen runs: Welch for means, MWU for distributions). All inputs
    * are the six EXACT integer power sums (n, Σx, Σx² per group —
    * quantity is integral so the sums are exact to ~10¹² rows, the
    * q_moments rule); mean, variance, t, and the Welch-Satterthwaite
    * df are ONE fixed double expression over them, identical IEEE
    * evaluation on both engines, ROUND(6).
    *
    * Scale shape: one map-side-combining conditional aggregation over
    * lineitem — the cheapest possible full-data pass; everything
    * after is arithmetic on a 1-row frame. */
  val welch: Q = Q(
    "q_welch_ttest",
    """WITH s AS (
      |  SELECT
      |    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS n1,
      |    SUM(CASE WHEN l_returnflag = 'R'
      |      THEN CAST(l_quantity AS BIGINT) ELSE 0 END)::BIGINT AS sx1,
      |    SUM(CASE WHEN l_returnflag = 'R'
      |      THEN CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
      |      ELSE 0 END)::BIGINT AS sxx1,
      |    SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)::BIGINT AS n2,
      |    SUM(CASE WHEN l_returnflag = 'N'
      |      THEN CAST(l_quantity AS BIGINT) ELSE 0 END)::BIGINT AS sx2,
      |    SUM(CASE WHEN l_returnflag = 'N'
      |      THEN CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
      |      ELSE 0 END)::BIGINT AS sxx2
      |  FROM lineitem WHERE l_returnflag IN ('R', 'N')),
      |d AS (
      |  SELECT n1, n2,
      |    CAST(sx1 AS DOUBLE) / n1 AS m1, CAST(sx2 AS DOUBLE) / n2 AS m2,
      |    (sxx1 - CAST(sx1 AS DOUBLE) * sx1 / n1) / (n1 - 1) / n1 AS q1,
      |    (sxx2 - CAST(sx2 AS DOUBLE) * sx2 / n2) / (n2 - 1) / n2 AS q2
      |  FROM s)
      |SELECT n1, n2, ROUND(m1, 6) + 0 AS mean1, ROUND(m2, 6) + 0 AS mean2,
      |  ROUND((m1 - m2) / SQRT(q1 + q2), 6) + 0 AS t,
      |  ROUND((q1 + q2) * (q1 + q2)
      |    / (q1 * q1 / (n1 - 1) + q2 * q2 / (n2 - 1)), 6) + 0 AS df
      |FROM d""".stripMargin) { (s, dir) =>
    val q = col("l_quantity").cast("long")
    def grp(f: String, e: Column): Column =
      sum(when(col("l_returnflag") === f, e).otherwise(0L))
    val st = Tables.load(s, dir, "lineitem")
      .filter(col("l_returnflag").isin("R", "N"))
      .agg(grp("R", lit(1L)).as("n1"), grp("R", q).as("sx1"),
        grp("R", q * q).as("sxx1"),
        grp("N", lit(1L)).as("n2"), grp("N", q).as("sx2"),
        grp("N", q * q).as("sxx2"))
    val d = st.select(col("n1"), col("n2"),
      Experiment.mean(col("sx1"), col("n1")).as("m1"),
      Experiment.mean(col("sx2"), col("n2")).as("m2"),
      Experiment.varOfMean(col("sxx1"), col("sx1"), col("n1")).as("q1"),
      Experiment.varOfMean(col("sxx2"), col("sx2"), col("n2")).as("q2"))
    d.select(col("n1"), col("n2"),
      (round(col("m1"), 6) + 0).as("mean1"),
      (round(col("m2"), 6) + 0).as("mean2"),
      Experiment.welchZ(col("m1"), col("m2"), col("q1"), col("q2")).as("t"),
      (round((col("q1") + col("q2")) * (col("q1") + col("q2"))
        / (col("q1") * col("q1") / (col("n1") - 1)
          + col("q2") * col("q2") / (col("n2") - 1)), 6) + 0).as("df"))
  }

  // ---------------------------------------------------------------
  // Herfindahl-Hirschman concentration per region
  // ---------------------------------------------------------------

  /** Supplier-revenue concentration per region: the
    * Herfindahl-Hirschman index HHI = Σᵢ shareᵢ² over each region's
    * suppliers — the antitrust-standard concentration scalar next to
    * q_gini's inequality coefficient (HHI weights the HEAD: one
    * supplier at 50% contributes 0.25 alone). Revenue in exact
    * cents; Σ revᵢ² accumulates as DECIMAL(38,0) (rev² wraps int64
    * near ~3e9 cents per supplier — the q_gini s1 rule, internal
    * only, never in the result schema), and HHI is ONE double
    * division of exact values, ROUND(6).
    *
    * Scale shape: lineitem aggregates per supplier (map-side), dims
    * broadcast (supplier/nation/region), then a 25-row region
    * aggregate — no window anywhere. */
  val hhi: Q = Q(
    "q_hhi",
    """WITH rev AS (
      |  SELECT r.r_name AS region, l.l_suppkey,
      |    SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
      |      ::BIGINT AS v
      |  FROM lineitem l
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation n ON s.s_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  GROUP BY 1, 2),
      |agg AS (
      |  SELECT region, COUNT(*)::BIGINT AS n_suppliers,
      |    SUM(v)::BIGINT AS tot_cents,
      |    SUM(v::DECIMAL(19,0) * v::DECIMAL(19,0))::DECIMAL(38,0) AS s2
      |  FROM rev GROUP BY 1)
      |SELECT region, n_suppliers, tot_cents,
      |  ROUND(CAST(s2 AS DOUBLE)
      |    / (CAST(tot_cents AS DOUBLE) * tot_cents), 6) + 0 AS hhi
      |FROM agg ORDER BY region""".stripMargin) { (s, dir) =>
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_suppkey"), cents(col("l_extendedprice")).as("p"))
    val sup = Tables.load(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val nat = Tables.load(s, dir, "nation")
      .select(col("n_nationkey"), col("n_regionkey"))
    val reg = Tables.load(s, dir, "region")
      .select(col("r_regionkey"), col("r_name"))
    // supplier scales with sf (sf×10k rows) — unhinted; nation and
    // region are fixed 25/5-row dims, the only legitimate hints here
    val rev = li.join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("l_suppkey"))
      .agg(sum(col("p")).as("v"))
    rev.groupBy(col("region"))
      .agg(count(lit(1)).as("n_suppliers"), sum(col("v")).as("tot_cents"),
        Experiment.wide(col("v"), col("v")).as("s2"))
      .select(col("region"), col("n_suppliers"), col("tot_cents"),
        (round(col("s2").cast("double")
          / (col("tot_cents").cast("double") * col("tot_cents")), 6) + 0)
          .as("hhi"))
      .orderBy(col("region"))
  }

  // ---------------------------------------------------------------
  // Cramér's V over a region × priority contingency
  // ---------------------------------------------------------------

  /** Effect size for independence: Cramér's V over the region ×
    * order-priority contingency table — q_chisq reports per-row χ²
    * components; this completes the test with the normalized scalar
    * V = √(χ²/(n·min(r−1,c−1))) an analyst actually compares across
    * tables. Counts and margins are exact integers; each cell's χ²
    * term is the q_chisq fixed expression ((o·n − r·c)²/(r·c·n),
    * doubles from exact ints), summed over the BOUNDED 5×5 cell grid
    * (the accepted ROUND-absorbed class), χ² and V ROUND(6).
    *
    * Scale shape: one orders pass with a broadcast customer→nation→
    * region dim chain... except customer is NOT a broadcast dim (it
    * grows with the data) — the join shuffles on custkey, then the
    * contingency aggregate is map-side over 25 cells. */
  val cramersV: Q = Q(
    "q_cramers_v",
    """WITH o AS (
      |  SELECT r.r_name AS region, ord.o_orderpriority AS pri,
      |    COUNT(*)::BIGINT AS o
      |  FROM orders ord
      |  JOIN customer c ON ord.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  GROUP BY 1, 2),
      |rm AS (SELECT region, SUM(o)::BIGINT AS r FROM o GROUP BY 1),
      |cm AS (SELECT pri, SUM(o)::BIGINT AS c FROM o GROUP BY 1),
      |t AS (SELECT SUM(o)::BIGINT AS n,
      |  COUNT(DISTINCT region)::BIGINT AS nr,
      |  COUNT(DISTINCT pri)::BIGINT AS nc FROM o),
      |chi AS (
      |  SELECT SUM(
      |    (CAST(o.o AS DOUBLE) * t.n - CAST(rm.r AS DOUBLE) * cm.c)
      |    * (CAST(o.o AS DOUBLE) * t.n - CAST(rm.r AS DOUBLE) * cm.c)
      |    / (CAST(rm.r AS DOUBLE) * cm.c * t.n)) AS chi2,
      |    MAX(t.n) AS n, MAX(t.nr) AS nr, MAX(t.nc) AS nc
      |  FROM o JOIN rm USING (region) JOIN cm USING (pri) CROSS JOIN t)
      |SELECT n, nr AS r_levels, nc AS c_levels,
      |  ROUND(chi2, 6) + 0 AS chi2,
      |  ROUND(SQRT(chi2 / (n * LEAST(nr - 1, nc - 1))), 6) + 0 AS v
      |FROM chi""".stripMargin) { (s, dir) =>
    val ord = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderpriority").as("pri"))
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.load(s, dir, "nation")
      .select(col("n_nationkey"), col("n_regionkey"))
    val reg = Tables.load(s, dir, "region")
      .select(col("r_regionkey"), col("r_name"))
    val o = ord.join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("pri"))
      .agg(count(lit(1)).as("o"))
      .cache() // feeds its own three margins (caller-owned cleanup)
    val rm = o.groupBy(col("region")).agg(sum(col("o")).as("r"))
    val cm = o.groupBy(col("pri")).agg(sum(col("o")).as("c"))
    val t = o.agg(sum(col("o")).as("n"),
      countDistinct(col("region")).as("nr"),
      countDistinct(col("pri")).as("nc"))
    val d = col("o").cast("double") * col("n") -
      col("r").cast("double") * col("c")
    val chi = o.join(broadcast(rm), Seq("region"))
      .join(broadcast(cm), Seq("pri"))
      .crossJoin(broadcast(t))
      .agg(sum(d * d / (col("r").cast("double") * col("c") * col("n")))
          .as("chi2"),
        max(col("n")).as("n"), max(col("nr")).as("nr"),
        max(col("nc")).as("nc"))
    chi.select(col("n"), col("nr").as("r_levels"), col("nc").as("c_levels"),
      (round(col("chi2"), 6) + 0).as("chi2"),
      (round(sqrt(col("chi2")
        / (col("n") * least(col("nr") - 1, col("nc") - 1))), 6) + 0)
        .as("v"))
  }

  // ---------------------------------------------------------------
  // Poisson-bootstrap confidence interval
  // ---------------------------------------------------------------

  /** Poisson-bootstrap 95% CI for the mean order value — THE
    * at-scale bootstrap (Chamandy et al., "Estimating Uncertainty
    * for Massive Data Streams"): classic resampling needs n draws
    * per replicate (a corpus-sized shuffle × B), but Poisson(1)
    * weights approximate multinomial resampling with ONE pass —
    * every row carries B=64 independent weights, the replicate means
    * fall out of one map-side aggregation with 64-group state.
    * Determinism (the q_dp_counts seeded-noise rule): the weight is
    * the inverse Poisson(1) CDF over u = md5-slot(orderkey, b) —
    * both engines compare the same u against the same 9 literal CDF
    * thresholds (Σe⁻¹/j! to double precision; P(X>8)≈1.1e-6
    * truncates to 8, disclosed), so a re-run or a different cluster
    * publishes the SAME interval. Replicate means are exact-int
    * ratios printed ROUND(6); the CI picks order statistics 2 and 63
    * of the 64 means by rank (ties by replicate id) — a 64-row
    * bounded frame (the established bounded-band window class).
    *
    * Scale shape: ONE orders pass fanned ×64 into a map-side combine
    * (64 groups per task whatever the data), a 64-row rank, a 1-row
    * output. No corpus-sized shuffle at any B. */
  val bootstrapCi: Q = {
    import graft.functions.PoissonBoot
    Q(
      "q_bootstrap_ci",
      s"""WITH b AS (SELECT unnest(range(0, 64)) AS b),
        |w AS (
        |  SELECT b.b,
        |    CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS x,
        |    ${PoissonBoot.weightSql(
              PoissonBoot.uniformSql("boot", "o.o_orderkey", "b.b"))} AS w
        |  FROM orders o CROSS JOIN b),
        |reps AS (
        |  SELECT b, SUM(w * x)::BIGINT AS swx, SUM(w)::BIGINT AS sw
        |  FROM w GROUP BY 1 HAVING SUM(w) > 0),
        |m AS (
        |  SELECT b,
        |    ROUND(CAST(swx AS DOUBLE) / sw, 6) + 0 AS mb
        |  FROM reps),
        |r AS (
        |  SELECT mb, ROW_NUMBER() OVER (ORDER BY mb, b) AS rn,
        |    COUNT(*) OVER ()::BIGINT AS nb
        |  FROM m),
        |full_m AS (
        |  SELECT COUNT(*)::BIGINT AS n,
        |    ROUND(CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) / COUNT(*), 6) + 0 AS mean_cents
        |  FROM orders)
        |SELECT f.n, f.mean_cents, MAX(r.nb) AS b_reps,
        |  MAX(CASE WHEN r.rn = 2 THEN r.mb END) + 0 AS ci_lo,
        |  MAX(CASE WHEN r.rn = 63 THEN r.mb END) + 0 AS ci_hi
        |FROM r CROSS JOIN full_m f
        |GROUP BY f.n, f.mean_cents""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("x"))
      // digest-sharing fanout: one md5 per (row, group of 3 replicates)
      // — explode 22 groups, hash once, then explode the 3 lanes of
      // each digest (b = 3g+lane; b ≥ 64 trimmed). Same draws as the
      // per-b form (the oracle recomputes the shared digest per b —
      // values identical), 3× fewer hashes on the corpus-sized side.
      val fanned = o.select(col("o_orderkey"), col("x"),
        explode(sequence(lit(0L), lit(21L))).as("g"))
      val digest = md5(concat(lit("boot:"),
        col("o_orderkey").cast("string"), lit("_"),
        (col("g") * 3).cast("string")))
      val lanes = fanned
        .select(col("x"), col("g"), digest.as("h"),
          explode(array(lit(0L), lit(1L), lit(2L))).as("lane"))
        .select(col("x"), (col("g") * 3 + col("lane")).as("b"),
          (conv(col("h").substr((lit(1L) + col("lane") * 10).cast("int"),
            lit(10)), 16, 10).cast("long")
            / graft.functions.Slots.Space).as("u"))
        .filter(col("b") < 64)
      val w = PoissonBoot.weight(col("u"))
      val reps = lanes.select(col("b"), col("x"), w.as("w"))
        .groupBy(col("b"))
        .agg(sum(col("w") * col("x")).as("swx"), sum(col("w")).as("sw"))
      val fullM = o.agg(count(lit(1)).as("n"),
        (round(sum(col("x")).cast("double") / count(lit(1)), 6) + 0)
          .as("mean_cents"))
      Experiment.bootInterval(reps, fullM)
    }
  }

  // ---------------------------------------------------------------
  // Spearman rank correlation (daily volume vs daily revenue)
  // ---------------------------------------------------------------

  /** Spearman rank correlation between the daily ORDER COUNT and the
    * daily REVENUE series — "do busy days bring proportionally more
    * money?" measured on ranks (monotone association, insensitive to
    * revenue's heavy tail where Pearson is not). Real tie handling:
    * each series ranks by the q_mann_whitney DOUBLED-average-rank
    * device (2·avgrank = 2·cb + g + 1 — exact integers, no float
    * average), ρ is then the Pearson form over the doubled ranks:
    * (nΣxy − ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²)) — all five sums exact
    * int64 (doubled ranks ≤ 2n+1 over a calendar-bounded n), ONE
    * fixed double expression, ROUND(6); the doubling cancels.
    *
    * Scale shape: the corpus-sized pass is one grouped daily
    * aggregate; the rank windows run over the ~calendar-bounded day
    * frame (the theilSen bounded-band class). */
  val spearman: Q = Q(
    "q_spearman",
    """WITH daily AS (
      |  SELECT o_orderdate AS d, COUNT(*)::BIGINT AS c,
      |    SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT
      |      AS v
      |  FROM orders GROUP BY 1),
      |rc AS (
      |  SELECT d, c, v,
      |    2 * (RANK() OVER (ORDER BY c) - 1)
      |      + COUNT(*) OVER (PARTITION BY c) + 1 AS x2
      |  FROM daily),
      |rv AS (
      |  SELECT d,
      |    2 * (RANK() OVER (ORDER BY v) - 1)
      |      + COUNT(*) OVER (PARTITION BY v) + 1 AS y2
      |  FROM daily),
      |s AS (
      |  SELECT COUNT(*)::BIGINT AS n, SUM(x2)::BIGINT AS sx,
      |    SUM(y2)::BIGINT AS sy, SUM(x2 * y2)::BIGINT AS sxy,
      |    SUM(x2 * x2)::BIGINT AS sxx, SUM(y2 * y2)::BIGINT AS syy
      |  FROM rc JOIN rv USING (d))
      |SELECT n,
      |  ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      |    / SQRT((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
      |      * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
      |    6) + 0 AS rho
      |FROM s""".stripMargin) { (s, dir) =>
    val daily = Tables.orders(s, dir)
      .groupBy(col("o_orderdate").as("d"))
      .agg(count(lit(1)).as("c"), sum(cents(col("o_totalprice"))).as("v"))
      .cache() // feeds both rank passes (caller-owned cleanup)
    // bounded band: the calendar day frame. RANK()−1 = #days with a
    // strictly smaller value (tie-order-independent, unlike a ROWS
    // frame count); doubled avg rank = 2·(rank−1) + tiesize + 1.
    def doubledRank(value: Column): Column =
      (rank().over(Window.orderBy(value)).cast("long") - 1) * 2 +
        count(lit(1)).over(Window.partitionBy(value)) + 1
    val rc = daily.select(col("d"), doubledRank(col("c")).as("x2"))
    val rv = daily.select(col("d"), doubledRank(col("v")).as("y2"))
    val st = rc.join(rv, Seq("d"))
      .agg(count(lit(1)).as("n"), sum(col("x2")).as("sx"),
        sum(col("y2")).as("sy"), sum(col("x2") * col("y2")).as("sxy"),
        sum(col("x2") * col("x2")).as("sxx"),
        sum(col("y2") * col("y2")).as("syy"))
    st.select(col("n"),
      (round((col("n").cast("double") * col("sxy")
        - col("sx").cast("double") * col("sy"))
        / sqrt((col("n").cast("double") * col("sxx")
            - col("sx").cast("double") * col("sx"))
          * (col("n").cast("double") * col("syy")
            - col("sy").cast("double") * col("sy"))), 6) + 0).as("rho"))
  }

  // ---------------------------------------------------------------
  // Kendall tau-b (daily volume vs daily revenue)
  // ---------------------------------------------------------------

  /** Kendall τ-b between the same two daily series — the pair-based
    * twin of q_spearman (τ counts concordant vs discordant pairs;
    * more robust to a few wild days than rank-difference sums, and
    * its pairwise form shares q_mann_kendall's dataflow): S =
    * Σ_{i<j} sign(c_j−c_i)·sign(v_j−v_i) exact integer over the
    * calendar-bounded day-pair join; τ_b = S/√((n0−n1)(n0−n2)) with
    * n0 = n(n−1)/2 and n1/n2 the tie-pair counts Σt(t−1)/2 per
    * series — every input exact int64, one double expression,
    * ROUND(6). The theilSen pair-count CONTRACT applies. */
  val kendallTau: Q = Q(
    "q_kendall_tau",
    """WITH daily AS (
      |  SELECT o_orderdate AS d, COUNT(*)::BIGINT AS c,
      |    SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT
      |      AS v
      |  FROM orders GROUP BY 1),
      |sstat AS (
      |  SELECT SUM(
      |    (CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END)
      |    * (CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0
      |      END))::BIGINT AS s
      |  FROM daily a JOIN daily b ON b.d > a.d),
      |nn AS (SELECT COUNT(*)::BIGINT AS n FROM daily),
      |t1 AS (
      |  SELECT COALESCE(SUM((tg * (tg - 1)) // 2), 0)::BIGINT AS ties
      |  FROM (SELECT COUNT(*)::BIGINT AS tg FROM daily GROUP BY c)),
      |t2 AS (
      |  SELECT COALESCE(SUM((tg * (tg - 1)) // 2), 0)::BIGINT AS ties
      |  FROM (SELECT COUNT(*)::BIGINT AS tg FROM daily GROUP BY v))
      |SELECT nn.n, sstat.s, t1.ties AS ties_c, t2.ties AS ties_v,
      |  ROUND(CAST(sstat.s AS DOUBLE)
      |    / SQRT((CAST(nn.n AS DOUBLE) * (nn.n - 1) / 2 - t1.ties)
      |      * (CAST(nn.n AS DOUBLE) * (nn.n - 1) / 2 - t2.ties)),
      |    6) + 0 AS tau_b
      |FROM sstat CROSS JOIN nn CROSS JOIN t1 CROSS JOIN t2""".stripMargin) {
    (s, dir) =>
    val daily = Tables.orders(s, dir)
      .groupBy(col("o_orderdate").as("d"))
      .agg(count(lit(1)).as("c"), sum(cents(col("o_totalprice"))).as("v"))
      .cache() // feeds pairs + margins (caller-owned cleanup)
    val a = daily.select(col("d").as("d1"), col("c").as("c1"),
      col("v").as("v1"))
    val b = daily.select(col("d").as("d2"), col("c").as("c2"),
      col("v").as("v2"))
    def sgn(x: Column, y: Column): Column =
      when(y > x, 1L).when(y < x, -1L).otherwise(0L)
    // calendar-bounded pairwise join: days²/2 rows total
    val sstat = a.join(b, col("d2") > col("d1"))
      .agg(sum(sgn(col("c1"), col("c2")) * sgn(col("v1"), col("v2")))
        .as("s"))
    val nn = daily.agg(count(lit(1)).as("n"))
    def tiePairs: Column =
      coalesce(sum(expr("(tg * (tg - 1)) div 2")), lit(0L)).cast("long")
    val t1 = daily.groupBy(col("c")).agg(count(lit(1)).as("tg"))
      .agg(tiePairs.as("ties"))
    val t2 = daily.groupBy(col("v")).agg(count(lit(1)).as("tg"))
      .agg(tiePairs.as("ties"))
    val half = col("n").cast("double") * (col("n") - 1) / 2
    sstat.crossJoin(broadcast(nn))
      .crossJoin(broadcast(t1.select(col("ties").as("ties_c"))))
      .crossJoin(broadcast(t2.select(col("ties").as("ties_v"))))
      .select(col("n"), col("s"), col("ties_c"), col("ties_v"),
        (round(col("s").cast("double")
          / sqrt((half - col("ties_c")) * (half - col("ties_v"))), 6)
          + 0).as("tau_b"))
  }

  // ---------------------------------------------------------------
  // CUPED variance reduction (pre-period covariate adjustment)
  // ---------------------------------------------------------------

  /** CUPED (Controlled-experiment Using Pre-Experiment Data — Deng
    * et al. 2013, the experimentation-platform standard): how much
    * of the experiment metric's variance does the pre-period
    * covariate remove? Per customer, X = spend before the fixed
    * split date, Y = spend after (zero-spend customers INCLUDED via
    * the left join — the q_gini base discipline; CUPED's gain comes
    * precisely from the stable mass of the base). θ = cov(X,Y)/var(X)
    * and the variance-reduction ratio ρ² fall out of five power
    * sums: ΣX, ΣY exact int64; ΣXY, ΣX², ΣY² accumulate as
    * DECIMAL(38,0) INTERNAL-ONLY (cents² ~1e14/customer wraps int64
    * near ~1e5 customers — the q_gini s1 rule; the result schema
    * stays canonical-safe) — θ, ρ², and the adjusted variance are
    * fixed double expressions, ROUND(6).
    *
    * Scale shape: orders aggregate per customer with a conditional
    * split (map-side), one left join on the customer base, one global
    * power-sum aggregate — no window, no pairwise anything. */
  val cuped: Q = Q(
    "q_cuped",
    """WITH per AS (
      |  SELECT c.c_custkey,
      |    COALESCE(SUM(CASE WHEN o.o_orderdate < DATE '1998-01-01'
      |      THEN CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)
      |      ELSE 0 END), 0)::BIGINT AS x,
      |    COALESCE(SUM(CASE WHEN o.o_orderdate >= DATE '1998-01-01'
      |      THEN CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)
      |      ELSE 0 END), 0)::BIGINT AS y
      |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      |  GROUP BY 1),
      |s AS (
      |  SELECT COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sx,
      |    SUM(y)::BIGINT AS sy,
      |    SUM(x::DECIMAL(19,0) * y::DECIMAL(19,0))::DECIMAL(38,0) AS sxy,
      |    SUM(x::DECIMAL(19,0) * x::DECIMAL(19,0))::DECIMAL(38,0) AS sxx,
      |    SUM(y::DECIMAL(19,0) * y::DECIMAL(19,0))::DECIMAL(38,0) AS syy
      |  FROM per),
      |d AS (
      |  SELECT n, sx, sy,
      |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * sy AS cxy,
      |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * sx AS vx,
      |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * sy AS vy
      |  FROM s)
      |SELECT n, ROUND(cxy / vx, 6) + 0 AS theta,
      |  ROUND(cxy * cxy / (vx * vy), 6) + 0 AS var_reduction,
      |  ROUND((1.0 - cxy * cxy / (vx * vy)) * (vy
      |    / (CAST(n AS DOUBLE) * n)), 6) + 0 AS adj_var
      |FROM d""".stripMargin) { (s, dir) =>
    val st = Experiment.xySums(Experiment.spendPanel(s, dir))
    val d = st.select(col("n"), col("sx"), col("sy"),
      (col("n").cast("double") * col("sxy").cast("double")
        - col("sx").cast("double") * col("sy")).as("cxy"),
      (col("n").cast("double") * col("sxx").cast("double")
        - col("sx").cast("double") * col("sx")).as("vx"),
      (col("n").cast("double") * col("syy").cast("double")
        - col("sy").cast("double") * col("sy")).as("vy"))
    d.select(col("n"),
      (round(col("cxy") / col("vx"), 6) + 0).as("theta"),
      (round(col("cxy") * col("cxy") / (col("vx") * col("vy")), 6) + 0)
        .as("var_reduction"),
      (round((lit(1.0) - col("cxy") * col("cxy")
        / (col("vx") * col("vy")))
        * (col("vy") / (col("n").cast("double") * col("n"))), 6) + 0)
        .as("adj_var"))
  }

  // ---------------------------------------------------------------
  // A/B readout: assignment → Welch t → CUPED-adjusted lift
  // ---------------------------------------------------------------

  /** The full A/B experiment readout an experimentation platform
    * computes, end to end on the engine: (1) ASSIGNMENT — each
    * customer lands in control/treatment by md5-slot parity (the
    * corpus_shuffle seeded-determinism rule: any engine, any cluster,
    * any rerun assigns identically; the salt is the experiment id);
    * (2) the RAW readout — per-arm post-split spend means and the
    * Welch t (q_welch_ttest's power-sum form); (3) the CUPED-ADJUSTED
    * readout — θ fitted on the POOLED pre-split covariate (q_cuped's
    * sums), per-arm adjusted moments from the SAME six sums
    * (Σ(y−θx) = Σy − θΣx; Σ(y−θx)² = Σy² − 2θΣxy + θ²Σx²), and the
    * adjusted Welch t that shows the variance reduction as a LARGER t
    * on the same diff. Cross-products accumulate DECIMAL(38,0)
    * internal-only (the q_cuped rule); every reported number is a
    * fixed double expression over exact sums, ROUND(6).
    *
    * Scale shape: ONE conditional power-sum aggregation over the
    * customer base (map-side, 2-arm state) — assignment is a pure
    * projection, no join for the arm, no window, no pairs. */
  val abReadout: Q = {
    import Experiment._
    Q(
      "q_ab_readout",
      s"""WITH per AS (
        |  SELECT c.c_custkey, $armSql AS arm,
        |    COALESCE(SUM(CASE WHEN o.o_orderdate < DATE '1998-01-01'
        |      THEN CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END), 0)::BIGINT AS x,
        |    COALESCE(SUM(CASE WHEN o.o_orderdate >= DATE '1998-01-01'
        |      THEN CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END), 0)::BIGINT AS y
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2),
        |s AS (
        |  SELECT arm, COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sx,
        |    SUM(y)::BIGINT AS sy,
        |    SUM(x::DECIMAL(19,0) * y::DECIMAL(19,0))::DECIMAL(38,0) AS sxy,
        |    SUM(x::DECIMAL(19,0) * x::DECIMAL(19,0))::DECIMAL(38,0) AS sxx,
        |    SUM(y::DECIMAL(19,0) * y::DECIMAL(19,0))::DECIMAL(38,0) AS syy
        |  FROM per GROUP BY 1),
        |p AS (
        |  SELECT SUM(n)::BIGINT AS np, SUM(sx)::BIGINT AS sxp,
        |    SUM(sy)::BIGINT AS syp,
        |    CAST(SUM(sxy) AS DOUBLE) AS sxyp,
        |    CAST(SUM(sxx) AS DOUBLE) AS sxxp
        |  FROM s),
        |th AS (
        |  SELECT (CAST(np AS DOUBLE) * sxyp
        |      - CAST(sxp AS DOUBLE) * syp)
        |    / (CAST(np AS DOUBLE) * sxxp - CAST(sxp AS DOUBLE) * sxp)
        |    AS theta
        |  FROM p),
        |arms AS (
        |  SELECT arm, n,
        |    CAST(sy AS DOUBLE) / n AS my,
        |    (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
        |      / (n - 1) / n AS qy,
        |    (CAST(sy AS DOUBLE) - th.theta * sx) / n AS ma,
        |    (CAST(syy AS DOUBLE) - 2 * th.theta * CAST(sxy AS DOUBLE)
        |        + th.theta * th.theta * CAST(sxx AS DOUBLE)
        |      - (CAST(sy AS DOUBLE) - th.theta * sx)
        |        * (CAST(sy AS DOUBLE) - th.theta * sx) / n)
        |      / (n - 1) / n AS qa
        |  FROM s CROSS JOIN th),
        |w AS (
        |  SELECT
        |    MAX(CASE WHEN arm = 0 THEN n END) AS n_c,
        |    MAX(CASE WHEN arm = 1 THEN n END) AS n_t,
        |    MAX(CASE WHEN arm = 0 THEN my END) AS my_c,
        |    MAX(CASE WHEN arm = 1 THEN my END) AS my_t,
        |    MAX(CASE WHEN arm = 0 THEN qy END) AS qy_c,
        |    MAX(CASE WHEN arm = 1 THEN qy END) AS qy_t,
        |    MAX(CASE WHEN arm = 0 THEN ma END) AS ma_c,
        |    MAX(CASE WHEN arm = 1 THEN ma END) AS ma_t,
        |    MAX(CASE WHEN arm = 0 THEN qa END) AS qa_c,
        |    MAX(CASE WHEN arm = 1 THEN qa END) AS qa_t
        |  FROM arms)
        |SELECT n_c, n_t,
        |  ROUND(my_t - my_c, 6) + 0 AS diff_raw,
        |  ROUND((my_t - my_c) / SQRT(qy_t + qy_c), 6) + 0 AS t_raw,
        |  ROUND((SELECT theta FROM th), 6) + 0 AS theta,
        |  ROUND(ma_t - ma_c, 6) + 0 AS diff_cuped,
        |  ROUND((ma_t - ma_c) / SQRT(qa_t + qa_c), 6) + 0 AS t_cuped
        |FROM w""".stripMargin) { (s, dir) =>
      val st = xySums(spendPanel(s, dir, arm.as("arm")), col("arm"))
        .cache() // feeds the pooled theta AND the per-arm moments
      val p = st.agg(sum(col("n")).as("np"), sum(col("sx")).as("sxp"),
        sum(col("sy")).as("syp"),
        sum(col("sxy")).cast("double").as("sxyp"),
        sum(col("sxx")).cast("double").as("sxxp"))
      val th = p.select(
        ((col("np").cast("double") * col("sxyp")
          - col("sxp").cast("double") * col("syp"))
          / (col("np").cast("double") * col("sxxp")
            - col("sxp").cast("double") * col("sxp"))).as("theta"))
      // CUPED-adjusted sums: Σ(y−θx) and Σ(y−θx)² from the same six
      val adjSum = col("sy").cast("double") - col("theta") * col("sx")
      val adjSq = (col("syy").cast("double")
        - lit(2) * col("theta") * col("sxy").cast("double")
        + col("theta") * col("theta") * col("sxx").cast("double"))
      val arms = st.crossJoin(broadcast(th)).select(col("arm"), col("n"),
        mean(col("sy"), col("n")).as("my"),
        varOfMean(col("syy"), col("sy"), col("n")).as("qy"),
        mean(adjSum, col("n")).as("ma"),
        varOfMean(adjSq, adjSum, col("n")).as("qa"),
        col("theta"))
      val w = arms.select(max(col("theta")).as("theta")
        +: pivot("n", "my", "qy", "ma", "qa"): _*)
      def z(m: String, q: String): Column = welchZ(col(s"${m}_t"),
        col(s"${m}_c"), col(s"${q}_t"), col(s"${q}_c"))
      w.select(col("n_c"), col("n_t"),
        diff("my").as("diff_raw"), z("my", "qy").as("t_raw"),
        (round(col("theta"), 6) + 0).as("theta"),
        diff("ma").as("diff_cuped"), z("ma", "qa").as("t_cuped"))
    }
  }

  // ---------------------------------------------------------------
  // Power analysis / minimal detectable effect
  // ---------------------------------------------------------------

  /** Power analysis of the SAME experiment q_ab_readout reads out —
    * the question every A/B readout gets next: "what effect could
    * this experiment even see, and how many users would 2% take?"
    * Per arm (the identical md5-slot parity assignment, salt 'ab1'),
    * the post-period spend's exact power sums (n, Σy, Σy² — the
    * q_welch_ttest discipline) give the per-unit variances; then
    *   MDE   = (z₀.₉₇₅+z₀.₈₀)·√(v_c/n_c + v_t/n_t)  (abs and /mean_c)
    *   n@2%  = ⌈z²·(v_c+v_t)/(0.02·mean_c)²⌉  per arm, 80% power
    * with z = 2.801585 (the 6dp two-sided-5%/80%-power constant,
    * declared — no inverse-normal evaluation anywhere). Every float
    * is ONE fixed double expression over exact int64/DECIMAL sums,
    * identical IEEE evaluation both engines, ROUND(6); the ceil is
    * of a bit-identical double so the integer matches too.
    *
    * Scale shape: ONE conditional map-side aggregation over the
    * customer×orders join (assignment is a pure projection);
    * everything after is arithmetic on a 2-row frame. */
  val powerMde: Q = {
    import Experiment._
    Q(
      "q_power_mde",
      s"""WITH per AS (
        |  SELECT c.c_custkey, $armSql AS arm,
        |    COALESCE(SUM(CASE WHEN o.o_orderdate >= DATE '1998-01-01'
        |      THEN CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END), 0)::BIGINT AS y
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2),
        |s AS (
        |  SELECT arm, COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS sy,
        |    SUM(y::DECIMAL(19,0) * y::DECIMAL(19,0))::DECIMAL(38,0) AS syy
        |  FROM per GROUP BY 1),
        |a AS (
        |  SELECT arm, n, CAST(sy AS DOUBLE) / n AS m,
        |    (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / (n - 1)
        |      AS v
        |  FROM s),
        |w AS (
        |  SELECT
        |    MAX(CASE WHEN arm = 0 THEN n END) AS n_c,
        |    MAX(CASE WHEN arm = 1 THEN n END) AS n_t,
        |    MAX(CASE WHEN arm = 0 THEN m END) AS m_c,
        |    MAX(CASE WHEN arm = 1 THEN m END) AS m_t,
        |    MAX(CASE WHEN arm = 0 THEN v END) AS v_c,
        |    MAX(CASE WHEN arm = 1 THEN v END) AS v_t
        |  FROM a)
        |SELECT n_c, n_t, ROUND(m_c, 6) + 0 AS mean_c,
        |  ROUND(SQRT(v_c / n_c + v_t / n_t), 6) + 0 AS se,
        |  ROUND(2.801585 * SQRT(v_c / n_c + v_t / n_t), 6) + 0
        |    AS mde_abs,
        |  ROUND(2.801585 * SQRT(v_c / n_c + v_t / n_t) / m_c, 6) + 0
        |    AS mde_rel,
        |  CAST(CEIL(2.801585 * 2.801585 * (v_c + v_t)
        |    / (0.02 * m_c * 0.02 * m_c)) AS BIGINT) AS n_per_arm_2pct
        |FROM w""".stripMargin) { (s, dir) =>
      val st = ySums(spendPanel(s, dir, arm.as("arm")), col("arm"))
      val a = st.select(col("arm"), col("n"),
        mean(col("sy"), col("n")).as("m"),
        variance(col("syy"), col("sy"), col("n")).as("v"))
      val w = a.select(pivot("n", "m", "v"): _*)
      val z = lit(2.801585)
      w.select(col("n_c"), col("n_t"),
        (round(col("m_c"), 6) + 0).as("mean_c"),
        (round(sqrt(col("v_c") / col("n_c") + col("v_t") / col("n_t")),
          6) + 0).as("se"),
        (round(z * sqrt(col("v_c") / col("n_c")
          + col("v_t") / col("n_t")), 6) + 0).as("mde_abs"),
        (round(z * sqrt(col("v_c") / col("n_c")
          + col("v_t") / col("n_t")) / col("m_c"), 6) + 0).as("mde_rel"),
        ceil(z * z * (col("v_c") + col("v_t"))
          / (lit(0.02) * col("m_c") * lit(0.02) * col("m_c")))
          .as("n_per_arm_2pct"))
    }
  }

  // ---------------------------------------------------------------
  // Benjamini-Hochberg FDR over the per-nation test family
  // ---------------------------------------------------------------

  /** Multiple-testing correction — the step every experimentation
    * platform runs between the per-segment readouts and the launch
    * decision: the SAME md5-parity experiment ('ab1', q_ab_readout's
    * assignment) tested per NATION (the fixed 25-member segment
    * family, m = 25 at any sf), with Benjamini-Hochberg (1995) FDR
    * control at α = 0.05 deciding which segments' effects survive.
    *
    * Float discipline: per-nation Welch z from exact power sums
    * (n, Σy, Σy² — DECIMAL(38,0) internal), ONE fixed IEEE
    * expression, ROUND(6); the BH comparison runs entirely in
    * z-space — p_(k) ≤ kα/m  ⟺  |z|_(k) ≥ Φ⁻¹(1 − kα/(2m)) — against
    * a DECLARED 25-row threshold table (6dp inverse-normal constants;
    * no erf/quantile evaluation in either engine, the q_power_mde
    * rule). Ranks order by |z| on the ROUNDED grid, ties by nation —
    * total order, hash-exact. Underpowered cells (an arm with n < 2,
    * or zero pooled variance) score z = 0 by contract: never
    * rejected, but the family stays fixed at m = 25 so the declared
    * thresholds apply at every sf.
    *
    * Scale shape: ONE conditional map-side power-sum aggregation
    * over the customer base keyed by (nationkey, arm) — 50 output
    * rows whatever the corpus; the rank window and the k* scan ride
    * the bounded 25-row frame (the O(#nations) broadcast rule). */
  val fdrBh: Q = {
    import Experiment._
    // Φ⁻¹(1 − 0.001·k) for k = 1..25 (α = 0.05, m = 25), 6dp
    val zcrit = Seq(
      3.090232, 2.878162, 2.747781, 2.65207, 2.575829, 2.512144,
      2.457263, 2.408916, 2.365618, 2.326348, 2.290368, 2.257129,
      2.226212, 2.197286, 2.17009, 2.144411, 2.120072, 2.096927,
      2.074855, 2.053749, 2.03352, 2.014091, 1.995393, 1.977368,
      1.959964)
    val zcritValuesSql = zcrit.zipWithIndex
      .map { case (z, i) => s"(${i + 1}, $z)" }.mkString(", ")
    Q(
      "q_fdr_bh",
      s"""WITH per AS (
        |  SELECT c.c_custkey, c.c_nationkey, $armSql AS arm,
        |    COALESCE(SUM(CASE WHEN o.o_orderdate >= DATE '1998-01-01'
        |      THEN CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END), 0)::BIGINT AS y
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2, 3),
        |s AS (
        |  SELECT c_nationkey, arm, COUNT(*)::BIGINT AS n,
        |    SUM(y)::BIGINT AS sy,
        |    SUM(y::DECIMAL(19,0) * y::DECIMAL(19,0))::DECIMAL(38,0) AS syy
        |  FROM per GROUP BY 1, 2),
        |a AS (
        |  SELECT c_nationkey, arm, n, CAST(sy AS DOUBLE) / n AS m,
        |    CASE WHEN n >= 2 THEN
        |      (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
        |        / (n - 1) / n ELSE 0 END AS q
        |  FROM s),
        |w AS (
        |  SELECT nn.n_nationkey, nn.n_name AS nation,
        |    COALESCE(MAX(CASE WHEN a.arm = 0 THEN a.n END), 0) AS n_c,
        |    COALESCE(MAX(CASE WHEN a.arm = 1 THEN a.n END), 0) AS n_t,
        |    MAX(CASE WHEN a.arm = 0 THEN a.m END) AS m_c,
        |    MAX(CASE WHEN a.arm = 1 THEN a.m END) AS m_t,
        |    MAX(CASE WHEN a.arm = 0 THEN a.q END) AS q_c,
        |    MAX(CASE WHEN a.arm = 1 THEN a.q END) AS q_t
        |  FROM nation nn LEFT JOIN a ON nn.n_nationkey = a.c_nationkey
        |  GROUP BY 1, 2),
        |z AS (
        |  SELECT n_nationkey, nation, n_c, n_t,
        |    CASE WHEN n_c >= 2 AND n_t >= 2 THEN
        |      ROUND(m_t - m_c, 6) + 0 ELSE 0 END AS diff,
        |    CASE WHEN n_c >= 2 AND n_t >= 2 AND q_c + q_t > 0 THEN
        |      ROUND((m_t - m_c) / SQRT(q_c + q_t), 6) + 0
        |      ELSE 0 END AS z
        |  FROM w),
        |r AS (
        |  SELECT z.*, ROW_NUMBER() OVER
        |    (ORDER BY ABS(z) DESC, nation ASC) AS k
        |  FROM z),
        |j AS (
        |  SELECT r.*, zc.z_crit::DOUBLE AS z_crit
        |  FROM r JOIN (VALUES $zcritValuesSql) AS zc(k, z_crit)
        |    ON r.k = zc.k),
        |ks AS (
        |  SELECT COALESCE(MAX(CASE WHEN ABS(z) >= z_crit THEN k END), 0)
        |    AS k_star FROM j)
        |SELECT j.nation, j.n_c, j.n_t, j.diff, j.z, j.k, j.z_crit,
        |  CASE WHEN j.k <= ks.k_star THEN 1 ELSE 0 END AS rejected
        |FROM j CROSS JOIN ks ORDER BY j.k""".stripMargin) { (s, dir) =>
      import s.implicits._
      val st = ySums(
        spendPanel(s, dir, col("c_nationkey"), arm.as("arm")),
        col("c_nationkey"), col("arm"))
      val a = st.select(col("c_nationkey"), col("arm"), col("n"),
        mean(col("sy"), col("n")).as("m"),
        when(col("n") >= 2, varOfMean(col("syy"), col("sy"), col("n")))
          .otherwise(lit(0d)).as("q"))
      // nation is the fixed 25-row dim — the one legitimate hint
      val nat = Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val w = broadcast(nat)
        .join(a, col("n_nationkey") === col("c_nationkey"), "left")
        .groupBy(col("n_nationkey"), col("n_name").as("nation"))
        .agg(coalesce(pick("n", 0), lit(0L)).as("n_c"),
          coalesce(pick("n", 1), lit(0L)).as("n_t") +: pivot("m", "q"): _*)
      val powered = col("n_c") >= 2 && col("n_t") >= 2
      val zf = w.select(col("nation"), col("n_c"), col("n_t"),
        when(powered, diff("m")).otherwise(lit(0d)).as("diff"),
        when(powered, guardedZ(col("m_t"), col("m_c"), col("q_t"),
          col("q_c"))).otherwise(lit(0d)).as("z"))
      // the rank window and everything after ride the bounded
      // 25-row family frame
      val win = org.apache.spark.sql.expressions.Window
        .orderBy(abs(col("z")).desc, col("nation").asc)
      val r = zf.withColumn("k", row_number().over(win))
      val zc = zcrit.zipWithIndex
        .map { case (z, i) => (i + 1, z) }.toDF("k", "z_crit")
      val j = r.join(broadcast(zc), "k")
      val ks = j.agg(coalesce(max(when(abs(col("z")) >= col("z_crit"),
        col("k"))), lit(0)).as("k_star"))
      j.crossJoin(broadcast(ks))
        .select(col("nation"), col("n_c"), col("n_t"), col("diff"),
          col("z"), col("k"), col("z_crit"),
          when(col("k") <= col("k_star"), lit(1)).otherwise(lit(0))
            .as("rejected"))
        .orderBy(col("k"))
    }
  }

  // ---------------------------------------------------------------
  // Winsorized / trimmed robust metrics per experiment arm
  // ---------------------------------------------------------------

  /** Robust-metric readout of the SAME 'ab1' experiment — the
    * heavy-tail standard every large experimentation platform applies
    * before trusting a spend metric (a single whale order moves the
    * raw mean; the winsorized mean caps it): per arm, the EXACT p99
    * of per-customer post-split spend, the winsorized mean/variance
    * (spend capped at the arm's own p99), the 1%-trimmed mean, and
    * the Welch z on the winsorized metric.
    *
    * Exactness: p99 is the true order statistic on integer cents —
    * v99 = min{v : #(y ≤ v) ≥ ⌈0.99·n⌉} is tie-run-safe by
    * definition (value-domain comparison, no rank-inside-ties
    * ambiguity — the r13 sf1 lesson); winsorized power sums are exact
    * int64/DECIMAL(38,0) over least(y, v99); every float is one
    * fixed IEEE expression, ROUND(6). Degenerate arms (n < 2 or zero
    * winsorized variance) score z = 0 by contract.
    *
    * Scale shape: the per-arm cumulative over the VALUE DOMAIN rides
    * ONE GlobalPrefix pass sorted (arm, y) — range exchange +
    * per-partition windows, no single-partition funnel (arm is the
    * leading sort key, so per-arm cum = global cum − arm-0 total, an
    * O(partitions) driver correction); the per-customer frame is
    * cached for its two passes (percentile, then power sums — the
    * unavoidable two-pass economics of any exact winsorization);
    * the 2-row v99 frame broadcasts to the stats pass. */
  val winsorMean: Q = {
    import Experiment._
    Q(
      "q_winsor_mean",
      s"""WITH per AS (
        |  SELECT c.c_custkey, $armSql AS arm,
        |    COALESCE(SUM(CASE WHEN o.o_orderdate >= DATE '1998-01-01'
        |      THEN CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END), 0)::BIGINT AS y
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2),
        |nn AS (SELECT arm, COUNT(*)::BIGINT AS n FROM per GROUP BY 1),
        |g AS (SELECT arm, y, COUNT(*)::BIGINT AS cnt
        |  FROM per GROUP BY 1, 2),
        |cg AS (SELECT arm, y, cnt,
        |    SUM(cnt) OVER (PARTITION BY arm ORDER BY y)::BIGINT AS cum
        |  FROM g),
        |v AS (SELECT cg.arm, MIN(cg.y)::BIGINT AS v99
        |  FROM cg JOIN nn ON cg.arm = nn.arm
        |  WHERE cg.cum >= (99 * nn.n + 99) // 100 GROUP BY 1),
        |w AS (
        |  SELECT per.arm, MAX(nn.n) AS n, MAX(v.v99) AS v99,
        |    SUM(LEAST(per.y, v.v99))::BIGINT AS sw,
        |    SUM(LEAST(per.y, v.v99)::DECIMAL(19,0)
        |      * LEAST(per.y, v.v99)::DECIMAL(19,0))::DECIMAL(38,0) AS sww,
        |    SUM(CASE WHEN per.y <= v.v99 THEN 1 ELSE 0 END)::BIGINT AS m,
        |    SUM(CASE WHEN per.y <= v.v99 THEN per.y ELSE 0 END)
        |      ::BIGINT AS st
        |  FROM per JOIN v ON per.arm = v.arm JOIN nn ON per.arm = nn.arm
        |  GROUP BY 1),
        |a AS (
        |  SELECT arm, n, v99, m,
        |    CAST(sw AS DOUBLE) / n AS wm,
        |    CASE WHEN n >= 2 THEN
        |      (CAST(sww AS DOUBLE) - CAST(sw AS DOUBLE) * sw / n)
        |        / (n - 1) / n ELSE 0 END AS wq,
        |    CAST(st AS DOUBLE) / m AS tm
        |  FROM w),
        |p AS (
        |  SELECT
        |    MAX(CASE WHEN arm = 0 THEN n END) AS n_c,
        |    MAX(CASE WHEN arm = 1 THEN n END) AS n_t,
        |    MAX(CASE WHEN arm = 0 THEN v99 END) AS v99_c,
        |    MAX(CASE WHEN arm = 1 THEN v99 END) AS v99_t,
        |    MAX(CASE WHEN arm = 0 THEN wm END) AS wm_c,
        |    MAX(CASE WHEN arm = 1 THEN wm END) AS wm_t,
        |    MAX(CASE WHEN arm = 0 THEN wq END) AS wq_c,
        |    MAX(CASE WHEN arm = 1 THEN wq END) AS wq_t,
        |    MAX(CASE WHEN arm = 0 THEN tm END) AS tm_c,
        |    MAX(CASE WHEN arm = 1 THEN tm END) AS tm_t
        |  FROM a)
        |SELECT n_c, n_t, v99_c, v99_t,
        |  ROUND(wm_c, 6) + 0 AS win_mean_c, ROUND(wm_t, 6) + 0
        |    AS win_mean_t,
        |  ROUND(tm_c, 6) + 0 AS trim_mean_c, ROUND(tm_t, 6) + 0
        |    AS trim_mean_t,
        |  ROUND(wm_t - wm_c, 6) + 0 AS win_diff,
        |  CASE WHEN wq_c + wq_t > 0 THEN
        |    ROUND((wm_t - wm_c) / SQRT(wq_c + wq_t), 6) + 0
        |    ELSE 0 END AS z_win
        |FROM p""".stripMargin) { (s, dir) =>
      // cached: the two-pass economics of exact winsorization
      // (percentile pass, then power-sum pass) — recompute would
      // re-run the customer×orders join
      val per = spendPanel(s, dir, arm.as("arm"))
        .select(col("c_custkey"), col("arm"), col("y")).cache()
      val grouped = per.groupBy(col("arm"), col("y"))
        .agg(count(lit(1)).as("cnt"))
      val (cumDf, totals) = graft.operators.GlobalPrefix.withCumSums(
        grouped, Seq(col("arm"), col("y")),
        Seq("cum" -> col("cnt"),
          "cum0" -> when(col("arm") === 0, col("cnt")).otherwise(lit(0L))))
      val n0 = totals("cum0")
      val n1 = totals("cum") - n0
      def thrOf(n: Long): Long = (99L * n + 99L) / 100L
      val armCum = when(col("arm") === 0, col("cum"))
        .otherwise(col("cum") - lit(n0))
      val thr = when(col("arm") === 0, lit(thrOf(n0)))
        .otherwise(lit(thrOf(n1)))
      val v99 = cumDf.filter(armCum >= thr)
        .groupBy(col("arm")).agg(min(col("y")).as("v99"))
      val yw = least(col("y"), col("v99"))
      val st = per.join(broadcast(v99), "arm")
        .groupBy(col("arm"))
        .agg(count(lit(1)).as("n"), max(col("v99")).as("v99x"),
          sum(yw).as("sw"), wide(yw, yw).as("sww"),
          sum(when(col("y") <= col("v99"), 1L).otherwise(0L)).as("m"),
          sum(when(col("y") <= col("v99"), col("y")).otherwise(0L))
            .as("stt"))
      val a = st.select(col("arm"), col("n"), col("v99x").as("v99"),
        col("m"), mean(col("sw"), col("n")).as("wm"),
        when(col("n") >= 2, varOfMean(col("sww"), col("sw"), col("n")))
          .otherwise(lit(0d)).as("wq"),
        mean(col("stt"), col("m")).as("tm"))
      val p = a.select(pivot("n", "v99", "wm", "wq", "tm"): _*)
      p.select(col("n_c"), col("n_t"), col("v99_c"), col("v99_t"),
        (round(col("wm_c"), 6) + 0).as("win_mean_c"),
        (round(col("wm_t"), 6) + 0).as("win_mean_t"),
        (round(col("tm_c"), 6) + 0).as("trim_mean_c"),
        (round(col("tm_t"), 6) + 0).as("trim_mean_t"),
        diff("wm").as("win_diff"),
        guardedZ(col("wm_t"), col("wm_c"), col("wq_t"), col("wq_c"))
          .as("z_win"))
    }
  }

  // ---------------------------------------------------------------
  // Difference-in-differences with the pre-period placebo test
  // ---------------------------------------------------------------

  /** The causal-inference workhorse next to CUPED: a
    * difference-in-differences readout of the SAME 'ab1' experiment
    * over the pre/post spend panel (x = pre-split, y = post-split per
    * customer — q_cuped's frame), published as the full DiD table an
    * analyst expects: the PRE-period diff and z (the placebo /
    * parallel-trends check — should be null under a valid
    * assignment), the POST-period diff and z, and the DiD estimate
    * Δ̄_t − Δ̄_c over per-customer deltas d = y − x with its Welch z.
    *
    * Exactness: everything derives from the six power sums q_ab_readout
    * already established (n, Σx, Σy int64; Σx², Σy², Σxy
    * DECIMAL(38,0) internal) — Σd = Σy−Σx and
    * Σd² = (Σy²−Σxy)+(Σx²−Σxy) are EXACT integer/decimal identities,
    * no second data pass and no per-customer delta materialization;
    * every float is one fixed IEEE expression, ROUND(6); degenerate
    * variances score z = 0 by contract.
    *
    * Scale shape: ONE conditional map-side power-sum aggregation over
    * the customer base (assignment a pure projection); all arithmetic
    * after runs on the 2-row arm frame. */
  val did: Q = {
    import Experiment._
    Q(
      "q_did",
      s"""WITH per AS (
        |  SELECT c.c_custkey, $armSql AS arm,
        |    COALESCE(SUM(CASE WHEN o.o_orderdate < DATE '1998-01-01'
        |      THEN CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END), 0)::BIGINT AS x,
        |    COALESCE(SUM(CASE WHEN o.o_orderdate >= DATE '1998-01-01'
        |      THEN CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END), 0)::BIGINT AS y
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2),
        |s AS (
        |  SELECT arm, COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sx,
        |    SUM(y)::BIGINT AS sy,
        |    SUM(x::DECIMAL(19,0) * x::DECIMAL(19,0))::DECIMAL(38,0) AS sxx,
        |    SUM(y::DECIMAL(19,0) * y::DECIMAL(19,0))::DECIMAL(38,0) AS syy,
        |    SUM(x::DECIMAL(19,0) * y::DECIMAL(19,0))::DECIMAL(38,0) AS sxy
        |  FROM per GROUP BY 1),
        |a AS (
        |  SELECT arm, n,
        |    CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my,
        |    CAST(sy - sx AS DOUBLE) / n AS md,
        |    CASE WHEN n >= 2 THEN
        |      (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
        |        / (n - 1) / n ELSE 0 END AS qx,
        |    CASE WHEN n >= 2 THEN
        |      (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
        |        / (n - 1) / n ELSE 0 END AS qy,
        |    CASE WHEN n >= 2 THEN
        |      (CAST((syy - sxy) + (sxx - sxy) AS DOUBLE)
        |        - CAST(sy - sx AS DOUBLE) * (sy - sx) / n)
        |        / (n - 1) / n ELSE 0 END AS qd
        |  FROM s),
        |w AS (
        |  SELECT
        |    MAX(CASE WHEN arm = 0 THEN n END) AS n_c,
        |    MAX(CASE WHEN arm = 1 THEN n END) AS n_t,
        |    MAX(CASE WHEN arm = 0 THEN mx END) AS mx_c,
        |    MAX(CASE WHEN arm = 1 THEN mx END) AS mx_t,
        |    MAX(CASE WHEN arm = 0 THEN my END) AS my_c,
        |    MAX(CASE WHEN arm = 1 THEN my END) AS my_t,
        |    MAX(CASE WHEN arm = 0 THEN md END) AS md_c,
        |    MAX(CASE WHEN arm = 1 THEN md END) AS md_t,
        |    MAX(CASE WHEN arm = 0 THEN qx END) AS qx_c,
        |    MAX(CASE WHEN arm = 1 THEN qx END) AS qx_t,
        |    MAX(CASE WHEN arm = 0 THEN qy END) AS qy_c,
        |    MAX(CASE WHEN arm = 1 THEN qy END) AS qy_t,
        |    MAX(CASE WHEN arm = 0 THEN qd END) AS qd_c,
        |    MAX(CASE WHEN arm = 1 THEN qd END) AS qd_t
        |  FROM a)
        |SELECT n_c, n_t,
        |  ROUND(mx_t - mx_c, 6) + 0 AS pre_diff,
        |  CASE WHEN qx_c + qx_t > 0 THEN
        |    ROUND((mx_t - mx_c) / SQRT(qx_c + qx_t), 6) + 0
        |    ELSE 0 END AS z_pre,
        |  ROUND(my_t - my_c, 6) + 0 AS post_diff,
        |  CASE WHEN qy_c + qy_t > 0 THEN
        |    ROUND((my_t - my_c) / SQRT(qy_c + qy_t), 6) + 0
        |    ELSE 0 END AS z_post,
        |  ROUND(md_t - md_c, 6) + 0 AS did,
        |  CASE WHEN qd_c + qd_t > 0 THEN
        |    ROUND((md_t - md_c) / SQRT(qd_c + qd_t), 6) + 0
        |    ELSE 0 END AS z_did
        |FROM w""".stripMargin) { (s, dir) =>
      val st = xySums(spendPanel(s, dir, arm.as("arm")), col("arm"))
      def q(ss: Column, sv: Column): Column =
        when(col("n") >= 2, varOfMean(ss, sv, col("n"))).otherwise(lit(0d))
      // per-customer deltas d = y − x through exact identities:
      // Σd = Σy − Σx, Σd² = (Σy² − Σxy) + (Σx² − Σxy)
      val sd = col("sy") - col("sx")
      val a = st.select(col("arm"), col("n"),
        mean(col("sx"), col("n")).as("mx"),
        mean(col("sy"), col("n")).as("my"), mean(sd, col("n")).as("md"),
        q(col("sxx"), col("sx")).as("qx"), q(col("syy"), col("sy")).as("qy"),
        q((col("syy") - col("sxy")) + (col("sxx") - col("sxy")), sd).as("qd"))
      val w = a.select(pivot("n", "mx", "my", "md", "qx", "qy", "qd"): _*)
      def z(m: String, v: String): Column = guardedZ(col(s"${m}_t"),
        col(s"${m}_c"), col(s"${v}_t"), col(s"${v}_c"))
      w.select(col("n_c"), col("n_t"),
        diff("mx").as("pre_diff"), z("mx", "qx").as("z_pre"),
        diff("my").as("post_diff"), z("my", "qy").as("z_post"),
        diff("md").as("did"), z("md", "qd").as("z_did"))
    }
  }

  // ---------------------------------------------------------------
  // Sample-ratio-mismatch guardrail
  // ---------------------------------------------------------------

  /** SRM — the #1 guardrail every experimentation platform runs
    * BEFORE reading any metric (Fabijan et al. 2019): is the observed
    * arm split consistent with the designed 50/50? A mismatch means
    * the assignment or logging is broken and every downstream readout
    * is invalid. Per nation (the q_fdr_bh segment family) plus the
    * GLOBAL row: the one-degree-of-freedom χ² = (n_c − n_t)²/(n_c +
    * n_t) against the DECLARED 95% critical value 3.841459 (6dp, the
    * q_power_mde no-quantile-evaluation rule). χ² is ONE double
    * division of exact int64 counts, ROUND(6); empty segments flag 0
    * by contract.
    *
    * Scale shape: ONE map-side count aggregation over the customer
    * base alone (no orders join — assignment is a projection of the
    * key); all arithmetic after on the bounded 26-row frame. */
  val srm: Q = {
    import Experiment._
    Q(
      "q_srm",
      s"""WITH per AS (
        |  SELECT c_nationkey, $armSql AS arm FROM customer),
        |s AS (
        |  SELECT c_nationkey,
        |    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_c,
        |    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_t
        |  FROM per GROUP BY 1),
        |n AS (
        |  SELECT nn.n_name AS segment, COALESCE(s.n_c, 0) AS n_c,
        |    COALESCE(s.n_t, 0) AS n_t
        |  FROM nation nn LEFT JOIN s ON nn.n_nationkey = s.c_nationkey
        |  UNION ALL
        |  SELECT '_global', SUM(COALESCE(s.n_c, 0))::BIGINT,
        |    SUM(COALESCE(s.n_t, 0))::BIGINT FROM s),
        |x AS (
        |  SELECT segment, n_c, n_t,
        |    CASE WHEN n_c + n_t > 0 THEN
        |      ROUND(CAST((n_c - n_t) * (n_c - n_t) AS DOUBLE)
        |        / (n_c + n_t), 6) + 0 ELSE 0 END AS chisq
        |  FROM n)
        |SELECT segment, n_c, n_t, chisq,
        |  CASE WHEN chisq > 3.841459 THEN 1 ELSE 0 END AS srm_flag
        |FROM x ORDER BY segment""".stripMargin) { (s, dir) =>
      val per = Tables.customer(s, dir)
        .select(col("c_nationkey"), arm.as("arm"))
      val st = per.groupBy(col("c_nationkey"))
        .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_c"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_t"))
      val nat = Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      // nation is the fixed 25-row dim — the one legitimate hint
      val seg = broadcast(nat)
        .join(st, col("n_nationkey") === col("c_nationkey"), "left")
        .select(col("n_name").as("segment"),
          coalesce(col("n_c"), lit(0L)).as("n_c"),
          coalesce(col("n_t"), lit(0L)).as("n_t"))
      val glob = st.agg(
        coalesce(sum(col("n_c")), lit(0L)).as("n_c"),
        coalesce(sum(col("n_t")), lit(0L)).as("n_t"))
        .select(lit("_global").as("segment"), col("n_c"), col("n_t"))
      val x = seg.unionByName(glob).select(col("segment"), col("n_c"),
        col("n_t"), srmChisq(col("n_c"), col("n_t")).as("chisq"))
      x.select(col("segment"), col("n_c"), col("n_t"), col("chisq"),
        srmFlag(col("chisq")).as("srm_flag"))
        .orderBy(col("segment"))
    }
  }

  val all: Seq[Q] = Seq(survival, ksTest, mannWhitney, gini, theilSen,
    anova, kruskal, bursts, changepoint, woeIv, forecastEval,
    quantileHist, psi, lorenz, cohortKm, mannKendall, welch, hhi,
    cramersV, bootstrapCi, spearman, kendallTau, cuped, abReadout,
    powerMde, fdrBh, winsorMean, did, srm)
}
