package graft

/** SQL serving over the pipeline's warehouse — the analog of the
  * reference's `scripts/query_duckdb.py` (SHOW TABLES + ad-hoc
  * ORDER BY ... LIMIT serving queries, query_duckdb.py:6-27), with
  * Spark's own parse/optimize/execute replacing DuckDB's.
  *
  *   runMain graft.QueryWarehouse <warehouseDir> [sql...]
  *
  * Registers every parquet table dir under the warehouse as a temp view,
  * prints SHOW TABLES, then runs either the supplied SQL or the
  * reference's two sample serving queries. The literal statement
  * `SHOW INDEXES` (any case) lists every persisted serving index under
  * the warehouse instead — kind, geometry, segments, rows from the
  * on-disk sidecars ([[graft.operators.IndexCatalog]], VERDICT r10 #5).
  */
object QueryWarehouse {
  def main(args: Array[String]): Unit = {
    val wh = args.headOption.getOrElse(sys.error("usage: QueryWarehouse <warehouseDir> [sql...]"))
    val spark = GraftSession()

    val listing = java.nio.file.Files.list(java.nio.file.Paths.get(wh))
    try {
      val dirs = listing.iterator()
      while (dirs.hasNext) {
        val d = dirs.next()
        if (java.nio.file.Files.isDirectory(d))
          spark.read.parquet(d.toString).createOrReplaceTempView(d.getFileName.toString)
      }
    } finally listing.close()

    spark.sql("SHOW TABLES").show(truncate = false)
    val sqls = if (args.length > 1) args.drop(1).toSeq else Seq(
      // reference query_duckdb.py:12-17, 20-25
      """SELECT series_id, series_name, month, avg_value, last_value
         FROM gold_bcb_monthly ORDER BY month DESC LIMIT 10""",
      """SELECT uf_sigla, product, month, avg_price
         FROM gold_anp_monthly ORDER BY month DESC, avg_price DESC LIMIT 10""")
    sqls.foreach { s =>
      if (s.trim.equalsIgnoreCase("SHOW INDEXES"))
        graft.operators.IndexCatalog.list(spark, wh).show(truncate = false)
      else spark.sql(s).show(truncate = false)
    }
    spark.stop()
  }
}
