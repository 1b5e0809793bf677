package graft

import graft.pipeline.{Pipeline, RunConfig}
import graft.sources.{FixtureFetcher, HttpJsonFetcher, BcbSource, IbgeSource}

/** Runnable pipeline entry point — the analog of the reference's
  * `python src/main.py` (main.py:24-86).
  *
  *   runMain graft.RunPipeline <configJson> <seriesCsv> <rootDir> [fixtureDir]
  *
  * With `fixtureDir` set, HTTP payloads come from canned files
  * (`bcb_<id>.json`, `ibge.json`) — the offline mode; otherwise the live
  * HTTP fetcher is used. Writes bronze/silver/gold tiers + summary.md
  * under rootDir and prints the summary, like the reference run.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val (configPath, seriesCsv, rootDir, fixtureDir) = args.toList match {
      case c :: s :: r :: Nil => (c, s, r, None)
      case c :: s :: r :: f :: Nil => (c, s, r, Some(f))
      case other => sys.error(s"usage: RunPipeline <configJson> <seriesCsv> <rootDir> [fixtureDir]; got $other")
    }
    val spark = GraftSession()

    val cfg = RunConfig.fromFile(configPath)
    val fetcher = fixtureDir match {
      case Some(dir) =>
        def read(n: String) = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/$n"))
        val src = scala.io.Source.fromFile(seriesCsv)
        val series =
          try src.getLines().drop(1).map(_.split(",")(0).trim.toLong).toList
          finally src.close()
        // only series with a fixture file present (disabled ones need none)
        val bcb = series.flatMap { id =>
          val p = java.nio.file.Paths.get(s"$dir/bcb_$id.json")
          if (java.nio.file.Files.exists(p))
            Some(BcbSource.url(id, cfg.startDate, cfg.endDate) -> read(s"bcb_$id.json"))
          else None
        }
        FixtureFetcher(bcb.toMap + (IbgeSource.Url -> read("ibge.json")))
      case None => new HttpJsonFetcher()
    }

    val res = Pipeline.run(spark, fetcher, cfg, rootDir, seriesCsv,
      statePath = Some(s"$rootDir/state/state.json"))
    println("ETL concluído com sucesso.")
    println("\n--- RESUMO ---")
    println(res.summary)
    spark.stop()
  }
}
