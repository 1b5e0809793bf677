package graft
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated filter (same contract as the bench's
    // SPARK_GRAFT_BENCH_ONLY) for fast single-query parity iteration;
    // oracle_sql.json is filtered to match so tools/parity.py compares
    // exactly the dumped set.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries that persist() shared subtrees (q45/q47's gram diamond)
      // would otherwise hold block-manager memory for the rest of the
      // 53-query session
      finally spark.catalog.clearCache()
    }
    DumpOracle.write(outDir, k => only.forall(_.contains(k)))
    spark.stop()
  }
}
