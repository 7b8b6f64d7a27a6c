package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's output records: the key names, order and number formats
  * the driver parses, and the final line's fit in the 1880-char
  * window it reads. */
class BenchSpec extends AnyFunSuite {
  test("fixed passes render the pinned records") {
    // q1_agg throws in pass 2; dedup_simhash and retrieval_rrf flap
    // more than 3x, and retrieval_rrf's re-run throws
    val pass1 = Seq(("dedup_clusters", 4.02, true), ("dedup_simhash", 1.0, true),
      ("q1_agg", 0.5, true), ("retrieval_rrf", 2.004, true),
      ("zz_new", 12.345, true))
    val pass2 = Seq(("dedup_clusters", 3.9, true), ("dedup_simhash", 4.5, true),
      ("q1_agg", 0.6, false), ("retrieval_rrf", 10.0, true),
      ("zz_new", 12.0, true))
    val rerun = Map("dedup_simhash" -> Some(1.25), "retrieval_rrf" -> None)
    val (line1, line2, full) =
      Bench.records(pass1, pass2, "/data/sf0.1")(rerun)
    val tail = """"prev":7.024,"prev2":18.400,"errors":["q1_agg"],""" +
      """"q1":{"dedup_clusters":4.02,"dedup_simhash":1,"retrieval_rrf":2},""" +
      """"q2":{"dedup_clusters":3.9,"dedup_simhash":4.5,"retrieval_rrf":10},""" +
      """"q3":{"dedup_simhash":1.25,"retrieval_rrf":null},"sf":0.1"""
    assert(line1 == """{"queries":{"dedup_clusters":4.02,"dedup_simhash":1,""" +
      """"retrieval_rrf":2,"zz_new":12.35},"metric":"total","unit":"sec",""" +
      tail + ""","value2":30.400,"value":19.369}""")
    assert(line2 == """{"metric":"total","value":19.369,"unit":"sec",""" +
      """"value2":30.400,""" + tail + ""","queries":{"zz_new":12.35,""" +
      """"dedup_clusters":4.02,"retrieval_rrf":2,"dedup_simhash":1},""" +
      """"queries_omitted":0}""")
    assert(full == """{"metric":"total","value":19.369,"value2":30.400,""" +
      """"unit":"sec",""" + tail + ""","pass1":{"dedup_clusters":4.02,""" +
      """"dedup_simhash":1,"retrieval_rrf":2,"zz_new":12.35},""" +
      """"pass2":{"dedup_clusters":3.9,"dedup_simhash":4.5,""" +
      """"retrieval_rrf":10,"zz_new":12}}""")
  }

  test("timed splits builder from action seconds and reports a throwing query") {
    val spark = TestSpark.spark
    val t = Bench.timed(spark, (s, _) => { Thread.sleep(200); s.range(5).toDF() }, "")
    assert(t.ok && t.builderS >= 0.2 && t.actionS > 0)
    assert(t.seconds == t.builderS + t.actionS)
    assert(!Bench.timed(spark, (_, _) => sys.error("builder fault"), "").ok)
    assert(!Bench.timed(spark,
      (s, _) => s.range(5).toDF().filter("raise_error('action fault') IS NULL"), "").ok)
  }

  test("300 errored queries fall back to a totals-only final line") {
    val names = (0 until 300).map(i => f"synthetic_errored_query_$i%03d")
    val pass = names.map(n => (n, 1.0, false)) :+ (("q1_agg", 2.5, true))
    val (line1, line2, _) =
      Bench.records(pass, pass, "/data/sf0.1")(_ => None)
    assert(line1.length > 1880)
    assert(line2.length <= 1880)
    val json = new ObjectMapper().readTree(line2)
    assert(json.get("value").asDouble == 2.5)
    assert(json.get("value2").asDouble == 2.5)
    assert(line2 == """{"metric":"total","value":2.500,"unit":"sec",""" +
      """"value2":2.500,"prev":2.500,"prev2":2.500,"sf":0.1}""")
  }
}
