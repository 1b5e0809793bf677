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
        // never runs this): one untimed warm-up, then a timed run with a
        // job listener — tells driver-loop queries where their seconds
        // go (job count x scheduling floor vs one dominant job), which
        // explain() cannot show once subtrees hide behind checkpoints.
        // Only jobs submitted under the timed run's local property count:
        // a warm-up job whose end event the listener sees late is not one.
        val RunKey = "graft.profile.run"
        val jobs = collection.mutable.ArrayBuffer.empty[(String, Int, Long, String)]
        val starts = collection.concurrent.TrieMap.empty[Int, (String, Long, String)]
        // a job is named by the plan part that ran it: the final stage's
        // operator scope (`WholeStageCodegen (n)`, `Exchange`) and the SQL
        // execution it belongs to; the call site only when no plan node
        // built the stage (schema inference, checkpoints)
        def label(js: org.apache.spark.scheduler.SparkListenerJobStart): String = {
          val last = js.stageInfos.maxByOption(_.stageId)
          val exec = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          last.flatMap(org.apache.spark.graftbridge.ScopeBridge.planScope) match {
            case Some(scope) => exec.fold(scope)(e => s"exec $e: $scope")
            case None => last.map(_.name).getOrElse("")
          }
        }
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            Option(js.properties).flatMap(p => Option(p.getProperty(RunKey)))
              .foreach { run => starts(js.jobId) = (run, js.time, label(js)) }
          override def onJobEnd(
              je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
            starts.remove(je.jobId).foreach { case (run, t0, nm) =>
              jobs.synchronized { jobs += ((run, je.jobId, je.time - t0, nm)) } }
        }
        spark.sparkContext.addSparkListener(listener)
        names.split(",").map(_.trim).filter(_.nonEmpty).zipWithIndex.foreach { case (name, i) =>
          val fn = Queries.queries(name)
          fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm-up
          val run = s"$name#$i"
          spark.sparkContext.setLocalProperty(RunKey, run)
          val compiled0 = org.apache.spark.graftbridge.ScopeBridge.codegenCompiles
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val wall = (System.nanoTime() - t0) / 1e9
          // generated classes compiled in the timed run, by any thread of
          // this JVM: 0 when every codegen body was a cache hit
          val compiled = org.apache.spark.graftbridge.ScopeBridge.codegenCompiles - compiled0
          spark.sparkContext.setLocalProperty(RunKey, null)
          Thread.sleep(1000) // listener bus drain
          val timed = jobs.synchronized(jobs.filter(_._1 == run).toList)
          val tot = timed.map(_._3).sum
          println(f"PROFILE $name wall=$wall%.2f s, ${timed.size} jobs, $compiled classes compiled, " +
            f"sum(job)=${tot / 1000.0}%.2f s (gap=${wall - tot / 1000.0}%.2f s)")
          timed.sortBy(_._2).foreach { case (_, id, ms, nm) =>
            println(f"  job $id%4d ${ms}%6d ms  $nm") }
        }
        // deregister: a leaked listener double-counts jobs if another
        // profiling pass runs in this session (ADVICE r13)
        spark.sparkContext.removeSparkListener(listener)
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
