package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextExprs

/** AsciiTokens must be bit-equal to the regex form it replaces —
  * `regexp_extract_all(lower(text), '[a-z0-9]+')` — on the corpus and
  * on edge-case strings (the DuckDB oracles keep the regex, so any
  * divergence is an oracle mismatch). */
class TokenizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def regexToks(c: org.apache.spark.sql.Column) =
    regexp_extract_all(lower(c), lit("[a-z0-9]+"), lit(0))

  test("matches regexp_extract_all(lower) on the documents corpus") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val diff = docs.select(col("doc_id"),
        TextExprs.tokens(col("text")).as("fast"),
        regexToks(col("text")).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(diff.count() == 0)
  }

  test("edge cases: empty, separators-only, case folding, digits, unicode") {
    import spark.implicits._
    val cases = Seq("", "  \t\n!!", "MiXeD CaSe42", "a", "7", "a-b_c.d",
      "trailing space ", " leading", "unicode é ü: split points",
      "A" * 100 + "0" * 50)
    val df = cases.toDF("text")
    val diff = df.select(TextExprs.tokens(col("text")).as("fast"),
        regexToks(col("text")).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(diff.count() == 0)
    // sanity: expected concrete values
    val got = df.select(TextExprs.tokens(col("text"))).collect()
      .map(_.getSeq[String](0).toList)
    assert(got(2) == List("mixed", "case42"))
    assert(got(5) == List("a", "b", "c", "d"))
    assert(got(8) == List("unicode", "split", "points"))
  }

  test("hashed_grams is bit-equal to the HOF hash+dedup it replaces") {
    // the r17 compiled shingle kernel (functions.HashedGrams) must be
    // value- AND order-identical to
    // array_distinct(transform(gramsN(ts,3), g -> xxhash64(g))) —
    // every shingle consumer (dedup/corpus/pipeline/streaming ingest)
    // rides on this identity
    val docs = graft.sources.Tables.documents(spark, sf)
    val ts = TextExprs.tokens(col("text"))
    val slow = array_distinct(transform(TextExprs.gramsN(col("ts"), 3),
      g => xxhash64(g)))
    val diff = docs.select(col("doc_id"), ts.as("ts"))
      .select(col("doc_id"),
        TextExprs.hashedGramsN(col("ts"), 3).as("fast"), slow.as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(diff.count() == 0)
    // edge cases: short docs (0/1/2 tokens -> empty), exact 3 tokens,
    // repeated grams (dedup), null text. On NULL input the two forms
    // differ at the array level BY DESIGN — the HOF guard emits [],
    // hashed_grams propagates null — and both explode to ZERO rows,
    // which is the only contract hashedShinglesOf consumes; the
    // comparison below states the guard explicitly.
    import spark.implicits._
    val cases = Seq("", "one", "one two", "one two three",
      "a b c a b c a b c", null).toDF("text")
    val got = cases
      .select(TextExprs.tokens(col("text")).as("ts"))
      .select(TextExprs.hashedGramsN(col("ts"), 3).as("fast"),
        when(col("ts").isNotNull, slow).as("slow"))
    assert(got.filter(not(col("fast") <=> col("slow"))).count() == 0)
    val rows = got.collect()
    assert(rows(0).getSeq[Long](0).isEmpty)
    assert(rows(3).getSeq[Long](0).size == 1)
    assert(rows(4).getSeq[Long](0).size == 3) // 7 grams, 3 distinct
    assert(rows(5).isNullAt(0))
  }

  test("hashed_grams rejects token arrays that may hold nulls at analysis time") {
    val nullable = spark.range(1)
      .select(array(lit("a"), lit(null).cast("string"), lit("b")).as("ts"))
    assert(nullable.schema("ts").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = true))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      nullable.select(TextExprs.hashedGramsN(col("ts"), 2))
    }
    assert(e.getMessage.contains("hashed_grams"), e.getMessage)
  }

  test("max_gram_count is bit-equal to the explode/groupBy gram counts it replaces") {
    // text_repetition's former per-doc form: explode the n-grams,
    // count per (doc, gram), then max and sum per doc; docs with no
    // gram have no group (the repetition gate reads them as 0)
    import spark.implicits._
    val planted = Seq(1000001L -> "", 1000002L -> "one", 1000003L -> "one two",
      1000004L -> "a b c a b c a b c", 1000005L -> "x x x x y").toDF("doc_id", "text")
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).unionByName(planted)
      .select(col("doc_id"), TextExprs.tokens(col("text")).as("ts"))
    for (n <- Seq(2, 3)) {
      val slow = docs
        .select(col("doc_id"), explode(TextExprs.gramsN(col("ts"), n)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("m"), sum(col("c")).as("t"))
      val fast = docs.select(col("doc_id"),
          TextExprs.maxGramCount(col("ts"), n).as("m"),
          (size(col("ts")) - (n - 1)).cast("long").as("t"))
        .filter(col("t") > 0)
      assert(fast.count() == slow.count(), s"n=$n")
      assert(fast.exceptAll(slow).count() == 0 && slow.exceptAll(fast).count() == 0,
        s"n=$n")
      assert(docs.filter(size(col("ts")) < n)
        .select(TextExprs.maxGramCount(col("ts"), n)).collect()
        .forall(_.getLong(0) == 0L), s"n=$n: short docs count 0")
    }
    val m = docs.filter(col("doc_id") >= 1000001L).orderBy(col("doc_id"))
      .select(TextExprs.maxGramCount(col("ts"), 2), TextExprs.maxGramCount(col("ts"), 3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(m == Seq((0L, 0L), (0L, 0L), (1L, 0L), (3L, 3L), (3L, 2L)))
  }

  test("token_weights is bit-equal to the explode/broadcast-join/groupBy NB scoring it replaces") {
    import spark.implicits._
    val weights = Map("the" -> -120L, "and" -> 7L, "data" -> 3000001L, "zz" -> 5L)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .unionByName(Seq(2000001L -> "", 2000002L -> "The the AND zz data data")
        .toDF("doc_id", "text"))
      .select(col("doc_id"), TextExprs.tokens(col("text")).as("tk"))
    val model = broadcast(weights.toSeq.toDF("token", "w"))
    val slow = docs.select(col("doc_id"), explode_outer(col("tk")).as("token"))
      .join(model, Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("w")).as("matched"), coalesce(sum(col("w")), lit(0L)).as("score"))
    val fast = docs.select(col("doc_id"),
        TextExprs.tokenWeights(col("tk"), weights).as("w"))
      .select(col("doc_id"), col("w.matched"), col("w.score"))
    assert(fast.count() == slow.count())
    assert(fast.exceptAll(slow).count() == 0 && slow.exceptAll(fast).count() == 0)
    val planted = fast.filter(col("doc_id") === 2000002L).collect().head
    assert(planted.getLong(1) == 6L && planted.getLong(2) == -240L + 7L + 5L + 6000002L)
  }

  test("graft_tokens is callable from SQL via the extension") {
    val r = spark.sql("SELECT graft_tokens('Hello World 42!') AS t")
      .collect().head.getSeq[String](0)
    assert(r == Seq("hello", "world", "42"))
  }

  test("size(graft_tokens) rewrites to the fused count and agrees with it") {
    val docs = graft.sources.Tables.documents(spark, sf)
    docs.createOrReplaceTempView("tc_docs")
    // the optimizer rule must fire on non-literal input (a literal
    // argument constant-folds to a number before any plan assert
    // could see the fused expression — also correct) ...
    val df = spark.sql("SELECT size(graft_tokens(text)) AS n FROM tc_docs")
    assert(df.queryExecution.optimizedPlan.toString.contains("ascii_token_count"))
    // ... and the fused count must equal the regex array size on the
    // whole corpus (it shares Tokenize's run scanner, but prove it)
    val diff = spark.sql(
      """SELECT doc_id FROM tc_docs
        |WHERE size(graft_tokens(text)) <>
        |  size(regexp_extract_all(lower(text), '[a-z0-9]+', 0))""".stripMargin)
    assert(diff.count() == 0)
    // null text → null count (non-legacy size semantics preserved;
    // here via constant folding, which agrees with the fused form)
    val n = spark.sql("SELECT size(graft_tokens(CAST(NULL AS STRING))) AS n")
    assert(n.collect().head.isNullAt(0))
  }
}
