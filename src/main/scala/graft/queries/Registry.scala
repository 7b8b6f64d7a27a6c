package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator entry: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) a DuckDB oracle query over the
  * same parquet tables. Non-SQL-expressible operators omit the oracle
  * and are covered by ScalaTest specs instead.
  *
  * Cache lifecycle contract: query builders may `.cache()`
  * intermediates that their plan consumes more than once (shingle
  * sets, sketch signatures, embedded corpora). A builder cannot
  * unpersist them itself — the caller hasn't run an action yet — so
  * CALLERS own cleanup: run the action, then
  * `spark.catalog.clearCache()`. Bench, Verify, Profile, and the
  * specs all do this between queries; a long-lived interactive
  * session that skips it accumulates cached partitions. */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, Some(oracle))

  def rowsOnly(name: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, None)
}
