package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    LocalCatalog.reset() // Derby/warehouse are per-session scratch (round-13)
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // the Bench session policy, so the oracle gates check Bench's plans
    val spark = Session.builder(cpus, sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional subset (comma-separated names): big-SF local gates skip
    // the queries whose DuckDB oracle is itself quadratic-cost.
    // Unknown names fail loudly — a typo must not silently shrink the
    // gate while it prints all-green.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_VERIFY_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // Shared micro-nat tables for the d19/d21/d23 mirrors: materialize
    // the engine's integer cost/idf tables once so the DuckDB oracle
    // consumes the SAME integers (no Math.log bit-identity assumption;
    // the mirrors re-validate the tables against DuckDB's own ln
    // within 1 micro-nat before using them — see LmScore scaladoc).
    if (Set("d19_lm_quality", "d21_cluster_curation", "d23_tfidf_keywords",
        "e09_semdedup_curation", "e10_semdedup_threshold",
        "e11_semdedup_banded")
        .exists(selected.contains)) {
      val docs = graft.sources.Tables.documents(spark, sfDir)
      graft.operators.LmScore.unigramCosts(docs, "text")
        .coalesce(1).write.mode("overwrite")
        .parquet(graft.operators.LmScore.SharedLmCostsDir)
      graft.operators.LmScore.idfCosts(docs, "doc_id", "text")
        .coalesce(1).write.mode("overwrite")
        .parquet(graft.operators.LmScore.SharedIdfCostsDir)
    }
    if (selected.contains("d33_dsir_selection")) {
      val docs = graft.sources.Tables.documents(spark, sfDir)
      graft.operators.LmScore.dsirCosts(docs, "text",
          org.apache.spark.sql.functions.col("source") === "src0")
        .coalesce(1).write.mode("overwrite")
        .parquet(graft.operators.LmScore.SharedDsirCostsDir)
    }
    if (selected.contains("d34_dsir_bigram")) {
      val docs = graft.sources.Tables.documents(spark, sfDir)
      graft.operators.LmScore.dsirCostsBigram(docs, "text",
          org.apache.spark.sql.functions.col("source") === "src0",
          buckets = 4096)
        .coalesce(1).write.mode("overwrite")
        .parquet(graft.operators.LmScore.SharedDsirBigramCostsDir)
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // end the run at <=1 live generation per key (grace generations
    // exist only to protect in-flight concurrent readers; none remain)
    graft.operators.PairIndex.flushKeepLatest(spark)
    spark.stop()
  }
}
