package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.localBench(cpus)
    new java.io.File(outDir).mkdirs()
    // Guard the AsciiTokens ≡ regex-tokenizer contract on THIS corpus.
    // The codegen'd fast tokenizer (functions/TextExprs.scala) is
    // byte-equal to the oracles' regexp_extract_all(lower(text),
    // '[a-z0-9]+') only while no corpus char lowercases INTO ascii
    // (Kelvin sign, dotted I). If a future corpus breaks that, every
    // token-based oracle would silently hash-diverge — so fail the
    // whole verify run loudly instead.
    locally {
      import org.apache.spark.sql.functions.expr
      val bad = graft.sources.Tables.documents(spark, sfDir)
        .filter(expr("graft_tokens(text)") =!=
          expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
        .limit(1).count()
      require(bad == 0L,
        s"AsciiTokens/regex tokenizer parity broken on $sfDir/documents " +
          "— corpus has chars whose lowercase maps into [a-z0-9]")
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Query builders cache intermediates (shingle sets, signatures,
      // embedded corpora) and by contract leave cleanup to the caller
      // — a builder can't unpersist a cache its caller hasn't acted on
      // yet. Bench and Profile do the same between queries.
      spark.catalog.clearCache()
    }
    // Escaping lives in OracleJson (shared with the no-Spark dump main
    // feeding the oracle-typing lint): control chars in builder-authored
    // SQL would otherwise make the driver's json.load fail and silently
    // zero the round's correctness.
    // Render the frozen-sidecar oracle paths for THIS run's sfDir
    // (the sidecars were just written by the queries above), so the
    // gate is not coupled to one hardcoded scale factor.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      graft.tools.OracleJson.render(SparkEntry.oracleSqlFor(sfDir)))
    spark.stop()
  }
}
