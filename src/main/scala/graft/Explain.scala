package graft

/** Dev utility: inspect schemas and physical plans.
  *
  *  - `runMain graft.Explain read <parquetPath>`  → schema + 3 rows
  *  - `runMain graft.Explain plan <queryName> <sfDir>` → formatted plan
  *  - `runMain graft.Explain run <queryName> <sfDir>`  → show(20)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    args.toList match {
      case "read" :: path :: Nil =>
        val df = spark.read.parquet(path)
        df.printSchema()
        df.show(3, truncate = false)
      case "plan" :: name :: sfDir :: Nil =>
        Queries.queries(name)(spark, sfDir).explain("formatted")
      case "run" :: name :: sfDir :: Nil =>
        Queries.queries(name)(spark, sfDir).show(20, truncate = false)
      case "sql" :: stmt :: Nil =>
        spark.sql(stmt).show(20, truncate = false)
      case "planmany" :: sfDir :: outDir :: names :: Nil =>
        // Dump `.explain("formatted")` for a comma-separated query list
        // into <outDir>/<query>.txt in ONE session (the plans/r13
        // artifact generator — one sbt+Spark spin-up instead of one per
        // query). Building a plan executes any driver-side training the
        // query function runs; that is the point: the dumped plan is the
        // one the bench executes.
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        names.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
          val plan = Queries.queries(n)(spark, sfDir)
            .queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/$n.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"wrote $outDir/$n.txt")
        }
      case "profile" :: names :: sfDir :: Nil =>
        // Per-JOB wall-clock profile of queries (dev-only; the bench
        // never runs this): one untimed warm-up, then a timed run through
        // JobProfile — tells driver-loop queries where their seconds go
        // (job count x scheduling floor vs one dominant job), which
        // explain() cannot show once subtrees hide behind checkpoints.
        // Only the timed run's jobs count, and the listener bus is
        // drained before they are listed.
        val profile = JobProfile(spark)
        names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
          val fn = Queries.queries(name)
          fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm-up
          val (_, p) = profile.run(name)(
            fn(spark, sfDir).write.format("noop").mode("overwrite").save())
          val tot = p.jobs.map(_.ms).sum
          println(f"PROFILE $name wall=${p.wallS}%.2f s, ${p.jobs.size} jobs, ${p.compiled} classes compiled, " +
            f"sum(job)=${tot / 1000.0}%.2f s (gap=${p.wallS - tot / 1000.0}%.2f s)")
          p.jobs.foreach(j => println(f"  job ${j.id}%4d ${j.ms}%6d ms  ${j.label}"))
        }
      case "audit" :: sfDir :: Nil =>
        // One summary line per query: shuffle/join/agg shape + pushdown.
        println("| query | joins | aggs | exchanges | pushed filters |")
        println("|---|---|---|---|---|")
        Queries.all.foreach { case (name, q) =>
          val plan = q.fn(spark, sfDir).queryExecution.executedPlan.toString
          def n(p: String) = p.r.findAllIn(plan).size
          val joins = Seq(
            "BroadcastHashJoin" -> n("BroadcastHashJoin"),
            "SortMergeJoin" -> n("SortMergeJoin"),
            "ShuffledHashJoin" -> n("ShuffledHashJoin"),
            "BNLJ" -> n("BroadcastNestedLoopJoin"))
            .filter(_._2 > 0).map { case (k, v) => s"$v $k" }.mkString(", ")
          val aggs = Seq(
            "Hash" -> n("(?<!Object)HashAggregate"),
            "ObjHash" -> n("ObjectHashAggregate"),
            "Sort" -> n("SortAggregate"))
            .filter(_._2 > 0).map { case (k, v) => s"$v $k" }.mkString(", ")
          val pushed = n("PushedFilters: \\[[^\\]]")
          println(s"| $name | $joins | $aggs | ${n("Exchange")} | $pushed scans |")
        }
      case other => sys.error(s"unknown args: $other")
    }
    spark.stop()
  }
}
