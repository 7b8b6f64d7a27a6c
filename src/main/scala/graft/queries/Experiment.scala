package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{PoissonBoot, Slots}
import graft.sources.Tables

/** The two-arm readout kernel behind the experimentation family —
  * q_welch_ttest, q_bootstrap_ci, q_cuped, q_ab_readout, q_power_mde,
  * q_fdr_bh, q_winsor_mean, q_did, q_srm — and its live twins
  * StreamOps.abMonitorIngest/bootCiIngest, so batch and stream read
  * the same numbers out of the same expressions.
  *
  * Every builder is an exact-sum → fixed-double step: power sums stay
  * exact integers (squares widened to DECIMAL(38,0) internally), each
  * reported float is one fixed IEEE expression over them, ROUND(6) —
  * bit-identical to the DuckDB oracle. Guards that only some
  * consumers apply (the n ≥ 2 variance guard, q_fdr_bh's powered-cell
  * rule) sit at their call sites, so each consumer keeps its own
  * expression tree. */
private[graft] object Experiment {

  /** The 'ab1' experiment's assignment: md5-slot parity of the
    * customer key (any engine, any cluster, any rerun assigns
    * identically; the salt is the experiment id). */
  val arm: Column = pmod(Slots.slot("ab1", col("c_custkey")), lit(2L))

  /** The same assignment for the oracle SQL. */
  val armSql: String = s"(${Slots.slotSql("ab1", "c_custkey")} % 2)"

  /** The per-customer pre/post spend panel: every customer (zero
    * spenders included — the left join), keyed by c_custkey plus
    * `keys` projected from customer, with x = cents spent before the
    * 1998-01-01 split and y = cents spent on or after it. */
  def spendPanel(s: SparkSession, dir: String, keys: Column*): DataFrame = {
    val split = to_date(lit("1998-01-01"))
    val o = Tables.orders(s, dir).select(col("o_custkey"),
      col("o_orderdate"), Stats.cents(col("o_totalprice")).as("p"))
    val cust = Tables.customer(s, dir).select(col("c_custkey") +: keys: _*)
    cust.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(cust.columns.toSeq.map(col): _*)
      .agg(
        coalesce(sum(when(col("o_orderdate") < split, col("p"))
          .otherwise(0L)), lit(0L)).as("x"),
        coalesce(sum(when(col("o_orderdate") >= split, col("p"))
          .otherwise(0L)), lit(0L)).as("y"))
  }

  /** Σab accumulated as DECIMAL(38,0): a cents² product wraps int64
    * near ~1e5 units, so the sum is widened internally and only its
    * double reaches a result column. */
  def wide(a: Column, b: Column): Column =
    sum(a.cast("decimal(19,0)") * b.cast("decimal(19,0)"))
      .cast("decimal(38,0)")

  /** Per-key (n, Σy, Σy²) of column y — the one-metric sufficient
    * statistic, mergeable across micro-batches. */
  def ySums(df: DataFrame, keys: Column*): DataFrame =
    df.groupBy(keys: _*).agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
      wide(col("y"), col("y")).as("syy"))

  /** Per-key (n, Σx, Σy, Σxy, Σx², Σy²) of the spend panel — the
    * pre/post sufficient statistic of CUPED, the A/B readout and DiD. */
  def xySums(df: DataFrame, keys: Column*): DataFrame =
    df.groupBy(keys: _*).agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), wide(col("x"), col("y")).as("sxy"),
      wide(col("x"), col("x")).as("sxx"), wide(col("y"), col("y")).as("syy"))

  /** Mean of n units from their exact sum Σv. */
  def mean(sv: Column, n: Column): Column = sv.cast("double") / n

  /** Unbiased variance from exact sums: (Σv² − (Σv)²/n)/(n − 1). */
  def variance(ss: Column, sv: Column, n: Column): Column =
    (ss.cast("double") - sv.cast("double") * sv / n) / (n - 1)

  /** Variance of the mean: the variance over n. */
  def varOfMean(ss: Column, sv: Column, n: Column): Column =
    variance(ss, sv, n) / n

  /** One arm's value of `c` from a per-arm frame (null when the arm
    * has no row). */
  def pick(c: String, armv: Int): Column = max(when(col("arm") === armv, col(c)))

  /** The per-arm columns `cs` pivoted into `<c>_c` (arm 0, control)
    * and `<c>_t` (arm 1, treatment) aggregates. */
  def pivot(cs: String*): Seq[Column] =
    cs.flatMap(c => Seq(pick(c, 0).as(s"${c}_c"), pick(c, 1).as(s"${c}_t")))

  /** Treatment-minus-control of a pivoted column, ROUND(6). */
  def diff(c: String): Column =
    round(col(s"${c}_t") - col(s"${c}_c"), 6) + 0

  /** Welch z (t) of mean m1 against m0 with variances-of-the-mean
    * q1, q0, ROUND(6). */
  def welchZ(m1: Column, m0: Column, q1: Column, q0: Column): Column =
    round((m1 - m0) / sqrt(q0 + q1), 6) + 0

  /** [[welchZ]], scored 0 when the pooled variance is zero. */
  def guardedZ(m1: Column, m0: Column, q1: Column, q0: Column): Column =
    when(q0 + q1 > 0, welchZ(m1, m0, q1, q0)).otherwise(lit(0d))

  /** Sample-ratio-mismatch χ² (one degree of freedom) of the arm
    * counts against the designed 50/50 split, ROUND(6); 0 with no
    * units. */
  def srmChisq(nc: Column, nt: Column): Column = {
    val d = nc - nt
    when(nc + nt > 0, round((d * d).cast("double") / (nc + nt), 6) + 0)
      .otherwise(lit(0d))
  }

  /** 1 when χ² exceeds the declared 95% critical value 3.841459. */
  def srmFlag(chisq: Column): Column =
    when(chisq > 3.841459, lit(1)).otherwise(lit(0))

  /** The Poisson-bootstrap interval over replicate sums `reps`
    * (b, swx, sw): replicate means swx/sw ROUND(6) over replicates
    * with weight, ranked by (mean, b), and order statistics 2 and B−1
    * reported beside the one-row frame `full`, whose columns lead
    * the output (then b_reps, ci_lo, ci_hi). The rank window runs
    * over B rows whatever the data. */
  def bootInterval(reps: DataFrame, full: DataFrame): DataFrame = {
    val m = reps.filter(col("sw") > 0).select(col("b"),
      (round(col("swx").cast("double") / col("sw"), 6) + 0).as("mb"))
    val r = m.select(col("mb"),
      row_number().over(Window.orderBy(col("mb"), col("b")))
        .cast("long").as("rn"),
      count(lit(1)).over(Window.partitionBy()).as("nb"))
    r.crossJoin(broadcast(full))
      .groupBy(full.columns.toSeq.map(col): _*)
      .agg(max(col("nb")).as("b_reps"),
        (max(when(col("rn") === 2, col("mb"))) + 0).as("ci_lo"),
        (max(when(col("rn") === PoissonBoot.B - 1L, col("mb"))) + 0)
          .as("ci_hi"))
  }
}
