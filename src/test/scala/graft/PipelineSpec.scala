package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.pipeline.{ExtractRecord, IncrementalState, Pipeline, RunConfig, Summary}
import graft.silver.Silver
import graft.sources.{BcbSource, FixtureFetcher, IbgeSource}

class PipelineSpec extends SparkSpec {

  private def fetcher = FixtureFetcher(Map(
    BcbSource.url(11, "2024-01-01", "2024-03-01") -> fixtureText("bcb_payload.json"),
    IbgeSource.Url -> fixtureText("ibge_ufs.json")))

  private def cfg = RunConfig(
    startDate = "2024-01-01", endDate = "2024-03-01",
    anpBronzeFile = fixture("anp_semicolon.csv"), warehousePath = "warehouse")

  private val GoldenSummary =
    """BCB/SGS (série 11) - selic_sgs_11: último valor em 2024-02-29 = 12.00.
      |Variação vs mês anterior: +0.25 (variação absoluta).
      |ANP - Destaques de 2024-02-01:
      |- AM / DIESEL S10: variação média +0.74 (vs mês anterior).
      |- SP / GASOLINA: variação média +0.50 (vs mês anterior).
      |- RJ / ETANOL: variação média -0.01 (vs mês anterior).""".stripMargin

  test("end-to-end medallion run matches the golden summary and layouts") {
    val root = Files.createTempDirectory("graft-e2e").toString
    val res = Pipeline.run(spark, fetcher, cfg, root, fixture("bcb_series.csv"))

    assert(res.summary == GoldenSummary)
    assert(Files.readString(Paths.get(s"$root/gold/summary.md")) == GoldenSummary)

    // gold is hive-partitioned (S8)
    assert(Files.exists(Paths.get(s"$root/gold/bcb_monthly/series_id=11")))
    assert(Files.exists(Paths.get(s"$root/gold/anp_monthly/uf_sigla=SP")))
    // warehouse tables are full-replace parquet dirs (S9)
    assert(Files.exists(Paths.get(s"$root/warehouse/gold_bcb_monthly")))

    // gold values: Jan avg 11.75/last 11.75; Feb avg (1234.56+12)/2=623.28/last 12.0
    val bm = res.gold("bcb_monthly").orderBy("month").collect()
    assert(bm.map(_.getAs[Double]("avg_value")).toSeq == Seq(11.75, 623.28))
    assert(bm.map(_.getAs[Double]("last_value")).toSeq == Seq(11.75, 12.0))

    // dedup kept one of the duplicate (15/01, SP, GASOLINA) rows; silver
    // row count: 8 valid raw rows + dedup -1 = 8 kept out of 12 raw
    assert(res.anpSilver.count() == 8)
    // uf enrich is a left join on the 6-row dim
    val sp = res.anpSilver.filter(col("uf_sigla") === "SP").select("uf_nome").first()
    assert(sp.getString(0) == "São Paulo")
  }

  test("re-running is idempotent (full-replace semantics)") {
    val root = Files.createTempDirectory("graft-idem").toString
    val r1 = Pipeline.run(spark, fetcher, cfg, root, fixture("bcb_series.csv"))
    val r2 = Pipeline.run(spark, fetcher, cfg, root, fixture("bcb_series.csv"))
    assert(r1.summary == r2.summary)
    assert(spark.read.parquet(s"$root/silver/anp_prices.parquet").count() == 8)
  }

  test("incremental state advances, filters the increment, and preserves history") {
    val root = Files.createTempDirectory("graft-incr").toString
    val statePath = s"$root/state/state.json"
    val r1 = Pipeline.run(spark, fetcher, cfg, root, fixture("bcb_series.csv"), Some(statePath))
    val s1 = IncrementalState.fromFile(statePath)
    // marks are FULL timestamps, not truncated dates (same-day rows with
    // intra-day time components must not be re-admitted)
    assert(s1.bcbLastDate.contains("2024-02-29 00:00:00.000000"))
    val fullRows = r1.bcbSilver.count()
    assert(fullRows == 4)
    // second run: the increment is empty (nothing past the mark), but
    // every downstream tier must still hold the full history — a
    // full-replace of just the increment would destroy it.
    val r2 = Pipeline.run(spark, fetcher, cfg, root, fixture("bcb_series.csv"), Some(statePath))
    assert(r2.bcbIncrement.isEmpty)
    assert(r2.bcbSilver.count() == fullRows)
    assert(spark.read.parquet(s"$root/silver/bcb_sgs.parquet").count() == fullRows)
    assert(spark.read.parquet(s"$root/warehouse/gold_bcb_monthly").count() == 2)
    assert(r2.summary == r1.summary) // summary still reports the history
    // the mark survives an empty increment
    assert(IncrementalState.fromFile(statePath).bcbLastDate.contains("2024-02-29 00:00:00.000000"))
  }

  test("ANP incremental: mark pushdown loads only new periods and merges history") {
    val root = Files.createTempDirectory("graft-anp-incr").toString
    val statePath = s"$root/state/state.json"
    val r1 = Pipeline.run(spark, fetcher, cfg, root, fixture("bcb_series.csv"), Some(statePath))
    assert(r1.anpSilver.count() == 8)
    assert(IncrementalState.fromFile(statePath)
      .anpLastPeriod.contains("2024-02-20 00:00:00.000000"))
    // the CSV grows by two March rows; only those pass the mark
    val cfg2 = cfg.copy(anpBronzeFile = fixture("anp_semicolon_v2.csv"))
    val r2 = Pipeline.run(spark, fetcher, cfg2, root, fixture("bcb_series.csv"), Some(statePath))
    assert(r2.anpIncrement.count() == 2)
    assert(r2.anpSilver.count() == 10)
    assert(spark.read.parquet(s"$root/silver/anp_prices.parquet").count() == 10)
    assert(IncrementalState.fromFile(statePath)
      .anpLastPeriod.contains("2024-03-12 00:00:00.000000"))
    // third run on the unchanged CSV: empty increment, history intact
    val r3 = Pipeline.run(spark, fetcher, cfg2, root, fixture("bcb_series.csv"), Some(statePath))
    assert(r3.anpIncrement.isEmpty)
    assert(r3.anpSilver.count() == 10)
  }

  test("ANP revision semantics: incremental skips old-period revisions; full reprocess recovers them") {
    // The documented high-water-mark trade (Pipeline.scala TRANSFORM
    // comment): a revised row at date_ref <= mark is invisible to
    // incremental runs, and a stateless run (the reference's own
    // full-reprocess behavior) picks it up.
    val root = Files.createTempDirectory("graft-anp-rev").toString
    val statePath = s"$root/state/state.json"
    Pipeline.run(spark, fetcher, cfg, root, fixture("bcb_series.csv"), Some(statePath))
    def amDiesel(): Double = spark.read.parquet(s"$root/silver/anp_prices.parquet")
      .filter(col("uf_sigla") === "AM" && col("date_ref") === lit("2024-02-15").cast("timestamp"))
      .first().getAs[Double]("price")
    assert(amDiesel() == 6.74)
    // revised CSV: the 15/02 AM DIESEL price changes 6,74 -> 6,80
    val revised = Paths.get(root, "anp_revised.csv")
    Files.writeString(revised,
      fixtureText("anp_semicolon.csv").replace("15/02/2024;6,74", "15/02/2024;6,80"))
    val cfgRev = cfg.copy(anpBronzeFile = revised.toString)
    Pipeline.run(spark, fetcher, cfgRev, root, fixture("bcb_series.csv"), Some(statePath))
    assert(amDiesel() == 6.74, "incremental run must not see the old-period revision")
    Pipeline.run(spark, fetcher, cfgRev, root, fixture("bcb_series.csv"))
    assert(amDiesel() == 6.80, "stateless full reprocess must pick up the revision")
  }

  test("ibge_last_sync skips the dim refetch when synced today; force refetches") {
    val root = Files.createTempDirectory("graft-ibge-sync").toString
    val statePath = s"$root/state/state.json"
    Pipeline.run(spark, fetcher, cfg, root, fixture("bcb_series.csv"), Some(statePath))
    assert(IncrementalState.fromFile(statePath)
      .ibgeLastSync.contains(java.time.LocalDate.now().toString))
    // a fetcher WITHOUT an IBGE fixture: the synced-today skip means the
    // dim endpoint is never consulted and bronze serves the dimension
    val noIbge = FixtureFetcher(Map(
      BcbSource.url(11, "2024-01-01", "2024-03-01") -> fixtureText("bcb_payload.json")))
    val r2 = Pipeline.run(spark, noIbge, cfg, root, fixture("bcb_series.csv"), Some(statePath))
    assert(r2.ufDim.count() == 6)
    assert(r2.ufDim.filter(col("uf_sigla") === "SP").first()
      .getAs[String]("uf_nome") == "São Paulo")
    // forceDimRefresh overrides the freshness skip -> fetcher consulted
    val e = intercept[RuntimeException] {
      Pipeline.run(spark, noIbge, cfg, root, fixture("bcb_series.csv"),
        Some(statePath), forceDimRefresh = true)
    }
    assert(e.getMessage.contains("no fixture"))
  }

  test("per-series fetch is parallel-safe: 12 series land correct bronze + silver") {
    // 12 enabled series through the bounded fetch pool — every series
    // must land its own bronze file and contribute its rows to silver,
    // regardless of completion order.
    val ids = 101L to 112L
    val payloads = ids.map(id =>
      BcbSource.url(id, "2024-01-01", "2024-03-01") -> fixtureText("bcb_payload.json")).toMap +
      (IbgeSource.Url -> fixtureText("ibge_ufs.json"))
    val root = Files.createTempDirectory("graft-par").toString
    val csv = Paths.get(root, "series.csv")
    Files.writeString(csv,
      "series_id,series_name,enabled\n" +
        ids.map(id => s"$id,series_$id,true\n").mkString)
    val res = Pipeline.run(spark, FixtureFetcher(payloads), cfg, root, csv.toString)
    ids.foreach { id =>
      assert(Files.exists(Paths.get(s"$root/bronze/bcb_sgs_$id.parquet")), s"bronze $id missing")
    }
    // every series parses the same fixture payload, so per-series silver
    // row counts must all be equal (a lost/duplicated fetch would skew one)
    val perSeries = res.bcbSilver.groupBy("series_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perSeries.keySet == ids.toSet)
    assert(perSeries.values.toSet.size == 1, s"uneven per-series rows: $perSeries")
  }

  // ---- incremental tier maintenance ----

  /** File path -> (length, modification time). */
  private type Listing = Map[String, (Long, String)]

  /** Every visible file (staged `.__swap_*` siblings left out) of the
    * serving tiers (silver/, gold/, the warehouse) and the tier-input
    * record. */
  private def tierFiles(root: String, wh: String = "warehouse"): Listing = {
    def walk(dir: Path): Seq[Path] =
      if (!Files.exists(dir)) Nil
      else {
        val s = Files.walk(dir)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
      }
    (Seq("silver", "gold", wh).flatMap(d => walk(Paths.get(root, d))) ++
      walk(Paths.get(root, Pipeline.TierInputsName)))
      .filterNot(_.toString.contains(".__swap_"))
      .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toString)).toMap
  }

  private def under(files: Listing, dir: String) =
    files.filter(_._1.contains(s"/$dir/"))

  /** True when every parquet data file under `dir` is new. */
  private def rewritten(before: Listing, after: Listing, dir: String): Boolean = {
    def parts(m: Listing) = under(m, dir).keySet.filter(_.contains("/part-"))
    parts(after).nonEmpty && parts(after).intersect(parts(before)).isEmpty
  }

  /** The BCB mart in gold/, both marts and the BCB silver copy in the
    * warehouse, and summary.md all equal what the silver stores on disk
    * produce. */
  private def assertTiersMatchSilver(root: String, wh: String = "warehouse"): Unit = {
    val bcb = spark.read.parquet(s"$root/silver/bcb_sgs.parquet")
    val anp = spark.read.parquet(s"$root/silver/anp_prices.parquet")
    def same(got: org.apache.spark.sql.DataFrame, want: org.apache.spark.sql.DataFrame, what: String) = {
      val cols = want.columns.toSeq.map(col)
      val (g, w) = (got.select(cols: _*), want.select(cols: _*))
      assert(g.exceptAll(w).isEmpty && w.exceptAll(g).isEmpty, s"$what does not match the silver")
    }
    val gold = Silver.buildGold(bcb, anp)
    same(spark.read.parquet(s"$root/gold/bcb_monthly"), gold("bcb_monthly"), "gold/bcb_monthly")
    same(spark.read.parquet(s"$root/$wh/gold_bcb_monthly"), gold("bcb_monthly"), "gold_bcb_monthly")
    same(spark.read.parquet(s"$root/$wh/gold_anp_monthly"), gold("anp_monthly"), "gold_anp_monthly")
    same(spark.read.parquet(s"$root/$wh/silver_bcb_sgs"), bcb, "silver_bcb_sgs")
    assert(Files.readString(Paths.get(s"$root/gold/summary.md")) == Summary.build(bcb, anp))
  }

  private def bcbFetcher(payload: String) = FixtureFetcher(Map(
    BcbSource.url(11, "2024-01-01", "2024-03-01") -> payload,
    IbgeSource.Url -> fixtureText("ibge_ufs.json")))

  /** The fixture payload plus one row dated after its last day. */
  private def withMarchRow = fixtureText("bcb_payload.json")
    .replace("\"9,99\"}]", "\"9,99\"},\n {\"data\": \"05/03/2024\", \"valor\": \"12,25\"}]")

  test("an unchanged stateful rerun rewrites no silver, gold or warehouse file") {
    val root = Files.createTempDirectory("graft-skip").toString
    val statePath = s"$root/state/state.json"
    val r1 = Pipeline.run(spark, fetcher, cfg, root, fixture("bcb_series.csv"), Some(statePath))
    val files = tierFiles(root)
    val state = Files.readString(Paths.get(statePath))
    assert(files.keys.exists(_.endsWith(Pipeline.TierInputsName)))
    val r2 = Pipeline.run(spark, fetcher, cfg, root, fixture("bcb_series.csv"), Some(statePath))
    assert(tierFiles(root) == files, "a tier file was rewritten")
    assert(r2.summary == r1.summary && r2.summary == GoldenSummary)
    assert(Files.readString(Paths.get(statePath)) == state, "marks moved")
    assert(r2.bcbIncrement.isEmpty && r2.anpIncrement.isEmpty)
    assert(r2.bcbSilver.count() == 4 && r2.anpSilver.count() == 8)
    assertTiersMatchSilver(root)
  }

  test("new BCB rows alone rebuild the tiers; the unchanged ANP store is not rewritten") {
    val root = Files.createTempDirectory("graft-newrows").toString
    val statePath = s"$root/state/state.json"
    Pipeline.run(spark, fetcher, cfg, root, fixture("bcb_series.csv"), Some(statePath))
    val before = tierFiles(root)
    val r2 = Pipeline.run(spark, bcbFetcher(withMarchRow), cfg, root, fixture("bcb_series.csv"),
      Some(statePath))
    val after = tierFiles(root)
    assert(r2.bcbIncrement.count() == 1 && r2.bcbSilver.count() == 5)
    assert(r2.summary.startsWith(
      "BCB/SGS (série 11) - selic_sgs_11: último valor em 2024-03-05 = 12.25."))
    for (d <- Seq("gold", "warehouse", "bcb_sgs.parquet"))
      assert(rewritten(before, after, d), s"$d not rebuilt")
    assert(under(after, "anp_prices.parquet") == under(before, "anp_prices.parquet"))
    assert(IncrementalState.fromFile(statePath).bcbLastDate.contains("2024-03-05 00:00:00.000000"))
    assertTiersMatchSilver(root)
  }

  test("a missing target, a new warehouse path, a dim refresh or a replaced silver file rebuild") {
    val root = Files.createTempDirectory("graft-rebuild").toString
    val statePath = s"$root/state/state.json"
    def run(c: RunConfig = cfg, force: Boolean = false) =
      Pipeline.run(spark, fetcher, c, root, fixture("bcb_series.csv"), Some(statePath), force)
    def assertRebuilds(what: String, wh: String = "warehouse")(step: => Unit): Unit = {
      val before = tierFiles(root)
      step
      assert(rewritten(before, tierFiles(root, wh), "gold"), s"$what: gold not rebuilt")
      assertTiersMatchSilver(root, wh)
    }
    run()
    assertRebuilds("deleted target") {
      val t = new org.apache.hadoop.fs.Path(s"$root/warehouse/dim_uf")
      t.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(t, true)
      run()
      assert(Files.exists(Paths.get(s"$root/warehouse/dim_uf")))
    }
    assertRebuilds("new warehouse path", "warehouse2") {
      run(cfg.copy(warehousePath = "warehouse2"))
    }
    assertRebuilds("forceDimRefresh") { run(force = true) }
    // an outside rewrite of the silver store after the last commit: the
    // Feb 29 value doubles, and gold must follow it
    assertRebuilds("replaced silver file") {
      val silver = s"$root/silver/bcb_sgs.parquet"
      Pipeline.swapWrite(spark, spark.read.parquet(silver).withColumn("value",
        when(col("date") === lit("2024-02-29").cast("timestamp"), col("value") * 2)
          .otherwise(col("value"))), silver)
      run()
      val feb = spark.read.parquet(s"$root/gold/bcb_monthly")
        .filter(col("month") === lit("2024-02-01").cast("timestamp")).first()
      assert(feb.getAs[Double]("last_value") == 24.0)
    }
  }

  test("a stateless rerun always rebuilds") {
    val root = Files.createTempDirectory("graft-stateless").toString
    Pipeline.run(spark, fetcher, cfg, root, fixture("bcb_series.csv"))
    val before = tierFiles(root)
    val r2 = Pipeline.run(spark, fetcher, cfg, root, fixture("bcb_series.csv"))
    assert(rewritten(before, tierFiles(root), "warehouse"))
    assert(r2.summary == GoldenSummary)
    assertTiersMatchSilver(root)
  }

  test("a crash before the commit point leaves tiers and record all-old; the next run rebuilds") {
    val root = Files.createTempDirectory("graft-crash").toString
    val statePath = s"$root/state/state.json"
    Pipeline.run(spark, fetcher, cfg, root, fixture("bcb_series.csv"), Some(statePath))
    val before = tierFiles(root)
    val state = Files.readString(Paths.get(statePath))
    // a directory where the manifest's tmp goes makes the commit fail
    // after every tier (and the record) was staged
    val blocker = Paths.get(root, "_tier_commit.json.__tmp")
    Files.createDirectories(blocker)
    intercept[java.io.IOException] {
      Pipeline.run(spark, bcbFetcher(withMarchRow), cfg, root, fixture("bcb_series.csv"),
        Some(statePath))
    }
    val crashed = tierFiles(root)
    for (d <- Seq("gold", "warehouse"))
      assert(under(crashed, d) == under(before, d), s"$d changed without a commit")
    assert(crashed.filter(_._1.endsWith(Pipeline.TierInputsName)) ==
      before.filter(_._1.endsWith(Pipeline.TierInputsName)), "record changed without a commit")
    assert(Files.readString(Paths.get(statePath)) == state)
    Files.delete(blocker)
    val r3 = Pipeline.run(spark, bcbFetcher(withMarchRow), cfg, root, fixture("bcb_series.csv"),
      Some(statePath))
    assert(r3.summary.contains("2024-03-05 = 12.25"))
    assertTiersMatchSilver(root)
  }

  test("each BCB series keeps its own mark: a lagging series still loads its new rows") {
    // a monthly series (433) beside the daily one (11): its February row,
    // published after 11's Feb 29, is dated before 11's mark
    val root = Files.createTempDirectory("graft-lag").toString
    val statePath = s"$root/state/state.json"
    val csv = Paths.get(root, "series.csv")
    Files.writeString(csv, "series_id,series_name,enabled\n11,selic_sgs_11,TRUE\n433,ipca_sgs_433,TRUE\n")
    def withIpca(ipca: String) = FixtureFetcher(Map(
      BcbSource.url(11, "2024-01-01", "2024-03-01") -> fixtureText("bcb_payload.json"),
      BcbSource.url(433, "2024-01-01", "2024-03-01") -> ipca,
      IbgeSource.Url -> fixtureText("ibge_ufs.json")))
    val jan = """{"data": "01/01/2024", "valor": "0,42"}"""
    val feb = """{"data": "01/02/2024", "valor": "0,83"}"""
    Pipeline.run(spark, withIpca(s"[$jan]"), cfg, root, csv.toString, Some(statePath))
    val s1 = IncrementalState.fromFile(statePath)
    assert(s1.bcbSeriesLastDate == Map(
      11L -> "2024-02-29 00:00:00.000000", 433L -> "2024-01-01 00:00:00.000000"))
    assert(s1.bcbLastDate.contains("2024-02-29 00:00:00.000000"))
    val r2 = Pipeline.run(spark, withIpca(s"[$jan, $feb]"), cfg, root, csv.toString, Some(statePath))
    def ipcaRows = spark.read.parquet(s"$root/silver/bcb_sgs.parquet")
      .filter(col("series_id") === 433).count()
    assert(r2.bcbIncrement.count() == 1)
    assert(ipcaRows == 2, "the lagging series' new row was filtered out")
    val s2 = IncrementalState.fromFile(statePath)
    assert(s2.bcbSeriesLastDate(433L) == "2024-02-01 00:00:00.000000")
    assert(s2.bcbLastDate.contains("2024-02-29 00:00:00.000000"))
    assertTiersMatchSilver(root)
  }

  test("state.json is replaced atomically: no tmp is left, a stale tmp is never read") {
    val dir = Files.createTempDirectory("graft-state")
    val path = dir.resolve("state").resolve("state.json").toString
    val s1 = IncrementalState(Some("2024-02-29 00:00:00.000000"), Some("2024-02-20 00:00:00.000000"),
      Some("2024-03-01"), Map(11L -> "2024-02-29 00:00:00.000000", 433L -> "2024-01-01 00:00:00.000000"))
    IncrementalState.write(path, s1)
    def names = Files.list(dir.resolve("state")).iterator().asScala.map(_.getFileName.toString).toSet
    assert(names == Set("state.json"))
    assert(IncrementalState.fromFile(path) == s1)
    // a write that crashed mid-way left a truncated tmp beside the document
    Files.writeString(Paths.get(s"$path.__tmp"), "{\"bcb_last_date\": \"2024-0")
    assert(IncrementalState.fromFile(path) == s1)
    val s2 = s1.copy(anpLastPeriod = Some("2024-03-12 00:00:00.000000"))
    IncrementalState.write(path, s2)
    assert(names == Set("state.json"))
    assert(IncrementalState.fromFile(path) == s2)
    // a state file from before per-series marks applies its global mark to every series
    val legacy = IncrementalState.fromJson(
      """{"bcb_last_date": "2024-02-29 00:00:00.000000", "anp_last_period": null, "ibge_last_sync": null}""")
    assert(legacy.bcbMark(433L).contains("2024-02-29 00:00:00.000000"))
  }

  test("a swap interrupted between renames self-heals on the next pathExists") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-heal").toString
    val table = s"$root/t.parquet"
    val target = new org.apache.hadoop.fs.Path(table)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(root, "t.parquet.__swap_tmp")
    val old = new org.apache.hadoop.fs.Path(root, "t.parquet.__swap_old")
    def readKeys() = spark.read.parquet(table).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq

    Pipeline.swapWrite(spark, Seq((1L, "a")).toDF("k", "v"), table)

    // crash AFTER the replacement fully committed to tmp and the old
    // version was graveyarded, BEFORE the tmp->target rename: the heal
    // must promote the committed tmp (v2 wins, graveyard dropped)
    Seq((2L, "b")).toDF("k", "v").write.parquet(tmp.toString)
    assert(fs.rename(target, old))
    assert(!fs.exists(target))
    assert(Pipeline.pathExists(spark, table), "heal must restore the table")
    assert(readKeys() == Seq(2L))
    assert(!fs.exists(old) && !fs.exists(tmp))

    // crash MID-WRITE: tmp exists but is uncommitted (no _SUCCESS) and
    // the old version is graveyarded: the heal must restore the old
    // version and drop the garbage tmp
    Seq((3L, "c")).toDF("k", "v").write.parquet(tmp.toString)
    fs.delete(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"), false)
    assert(fs.rename(target, old))
    assert(Pipeline.pathExists(spark, table), "heal must restore the old version")
    assert(readKeys() == Seq(2L))
    assert(!fs.exists(old) && !fs.exists(tmp))
  }

  test("gold marts hash identically across different input partitionings") {
    // exactAvg's determinism contract: the same rows through ANY
    // partitioning/merge order produce bit-identical doubles. A float
    // avg() would pass the %.2f golden compare yet drift in raw bits.
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 500).map { i =>
      (1L, "s", java.sql.Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 00:00:00"),
        math.round(rnd.nextDouble() * 1e5) / 100.0)
    }
    val base = rows.toDF("series_id", "series_name", "date", "value")
    val anp = Seq.empty[(String, String, java.sql.Timestamp, Double)]
      .toDF("uf_sigla", "product", "date_ref", "price")
    def hashOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      Silver.buildGold(df, anp)("bcb_monthly")
        .orderBy("month")
        .collect()
        .map(r => (java.lang.Double.doubleToRawLongBits(r.getAs[Double]("avg_value")),
          java.lang.Double.doubleToRawLongBits(r.getAs[Double]("last_value")))).toSeq
    val a = hashOf(base.repartition(13))
    val b = hashOf(base.repartition(3, col("date")))
    assert(a == b, "gold mart doubles drift across partitionings")
  }

  test("RunConfig parses the reference's config shape") {
    val c = RunConfig.fromFile(fixture("run_config.json"))
    assert(c.startDate == "2024-01-01" && c.endDate == "2024-03-01")
    assert(c.anpBronzeFile == "data/bronze/anp_precos.csv")
    assert(c.warehousePath == "data/macropulse.duckdb")
  }

  test("ANP variant price header resolves; missing product column errors") {
    val variant = graft.sources.CsvDialect.read(spark, fixture("anp_variant_price.csv"))
    val silver = Silver.toSilverAnp(variant)
    assert(silver.count() == 2)
    assert(silver.filter(col("uf_sigla") === "SP").first().getAs[Double]("price") == 5.89)

    val missing = graft.sources.CsvDialect.read(spark, fixture("anp_missing_product.csv"))
    val e = intercept[IllegalArgumentException](Silver.toSilverAnp(missing))
    assert(e.getMessage.contains("product"))
  }

  test("empty inputs produce the reference's fallback summary lines") {
    import spark.implicits._
    val emptyBcb = Seq.empty[(Long, String, java.sql.Timestamp, Double)]
      .toDF("series_id", "series_name", "date", "value")
    val emptyAnp = Seq.empty[(String, String, java.sql.Timestamp, Double)]
      .toDF("uf_sigla", "product", "date_ref", "price")
    val text = Summary.build(emptyBcb, emptyAnp)
    assert(text ==
      "BCB/SGS - sem dados para o período.\nANP - sem dados para o período.")
  }

  // ---- per-source extract replay ----

  /** `body`'s result and the number of Spark jobs it submitted, the
    * fetch pool's included: one [[JobProfile]] run. */
  private def withJobCount[T](body: => T): (T, Int) = {
    val (out, profile) = JobProfile(spark).run("spec")(body)
    (out, profile.jobs.size)
  }

  /** Every regular file under `dir` (under `root`, or all of `root`). */
  private def filesUnder(root: String, dir: String = ""): Listing = {
    val top = Paths.get(root, dir)
    if (!Files.exists(top)) Map.empty
    else {
      val s = Files.walk(top)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toString)).toMap
      finally s.close()
    }
  }

  private def bronzeRows(root: String, table: String): Long =
    spark.read.parquet(s"$root/bronze/$table.parquet").count()

  /** Two series (the daily fixture 11 and a monthly 433) over `root`. */
  private def twoSeries(root: String): String = {
    val csv = Paths.get(root, "series.csv")
    Files.writeString(csv, "series_id,series_name,enabled\n11,selic_sgs_11,TRUE\n433,ipca_sgs_433,TRUE\n")
    csv.toString
  }

  private val ipcaJan = """[{"data": "01/01/2024", "valor": "0,42"}]"""

  private def withIpca(ipca: String) = FixtureFetcher(Map(
    BcbSource.url(11, "2024-01-01", "2024-03-01") -> fixtureText("bcb_payload.json"),
    BcbSource.url(433, "2024-01-01", "2024-03-01") -> ipca,
    IbgeSource.Url -> fixtureText("ibge_ufs.json")))

  test("a third identical stateful run runs no Spark job and rewrites no file") {
    val root = Files.createTempDirectory("graft-replay").toString
    val statePath = s"$root/state/state.json"
    def run() = Pipeline.run(spark, fetcher, cfg, root, fixture("bcb_series.csv"), Some(statePath))
    run()
    run() // the marks moved in the first run, so this one still extracts
    val files = filesUnder(root)
    assert(files.keys.exists(_.endsWith(s"/bronze/${ExtractRecord.Name}")))
    assert(files.keys.exists(_.endsWith("/state/state.json")))
    val (r3, jobs) = withJobCount(run())
    assert(jobs == 0, s"$jobs Spark jobs ran")
    assert(filesUnder(root) == files, "a file was written")
    assert(r3.summary == GoldenSummary)
    assert(r3.bcbIncrement.isEmpty && r3.anpIncrement.isEmpty)
    assert(r3.bcbSilver.count() == 4 && r3.anpSilver.count() == 8 && r3.ufDim.count() == 6)
    assertTiersMatchSilver(root)
  }

  test("an identical run right after a mark moved extracts 0-row bronze; the next replays") {
    val root = Files.createTempDirectory("graft-replay-moved").toString
    val statePath = s"$root/state/state.json"
    def run() = Pipeline.run(spark, fetcher, cfg, root, fixture("bcb_series.csv"), Some(statePath))
    run()
    val first = filesUnder(root, "bronze")
    assert(bronzeRows(root, "bcb_sgs_11") == 4)
    val (_, jobs2) = withJobCount(run())
    val second = filesUnder(root, "bronze")
    assert(jobs2 > 0)
    for (t <- Seq("bcb_sgs_11.parquet", "anp_raw.parquet"))
      assert(rewritten(first, second, t), s"$t not extracted")
    assert(bronzeRows(root, "bcb_sgs_11") == 0)
    val rec = ExtractRecord.read(spark, s"$root/bronze/${ExtractRecord.Name}")
    assert(rec.sources.keySet == Set("bcb_sgs_11", "anp_raw"))
    assert(rec.sources.values.forall(_.rows.contains(0L)))
    assert(rec.sources("bcb_sgs_11").mark.contains("2024-02-29 00:00:00.000000"))
    assert(rec.series(ExtractRecord.fileSha256(spark, fixture("bcb_series.csv")))
      .contains(Seq(11L -> "selic_sgs_11")))
    val (_, jobs3) = withJobCount(run())
    assert(jobs3 == 0)
    assert(filesUnder(root, "bronze") == second)
  }

  test("a payload byte changed within the mark re-extracts that series alone; no tier is rewritten") {
    val root = Files.createTempDirectory("graft-replay-byte").toString
    val statePath = s"$root/state/state.json"
    val csv = twoSeries(root)
    def run(ipca: String) = Pipeline.run(spark, withIpca(ipca), cfg, root, csv, Some(statePath))
    run(ipcaJan)
    run(ipcaJan)
    val (bronze, tiers) = (filesUnder(root, "bronze"), tierFiles(root))
    // the January value (dated at 433's mark) is revised by one byte
    val (_, jobs) = withJobCount(run(ipcaJan.replace("0,42", "0,43")))
    assert(jobs > 0)
    val after = filesUnder(root, "bronze")
    assert(rewritten(bronze, after, "bcb_sgs_433.parquet"), "433 did not extract")
    assert(bronzeRows(root, "bcb_sgs_433") == 0)
    for (t <- Seq("bcb_sgs_11.parquet", "anp_raw.parquet"))
      assert(under(after, t) == under(bronze, t), s"$t did not replay")
    assert(tierFiles(root) == tiers, "a tier file was rewritten")
    val rec = ExtractRecord.read(spark, s"$root/bronze/${ExtractRecord.Name}")
    assert(rec.sources("bcb_sgs_433").rows.contains(0L))
    assert(rec.sources("bcb_sgs_433").sha256 == ExtractRecord.sha256(ipcaJan.replace("0,42", "0,43")))
  }

  test("an ANP drop rewritten at the same length and mtime with one price changed re-extracts ANP") {
    val root = Files.createTempDirectory("graft-replay-anp").toString
    val statePath = s"$root/state/state.json"
    val drop = Paths.get(root, "anp.csv")
    Files.writeString(drop, fixtureText("anp_semicolon.csv"))
    val c = cfg.copy(anpBronzeFile = drop.toString)
    def run() = Pipeline.run(spark, fetcher, c, root, fixture("bcb_series.csv"), Some(statePath))
    run()
    run()
    val (bronze, tiers) = (filesUnder(root, "bronze"), tierFiles(root))
    val (size, mtime) = (Files.size(drop), Files.getLastModifiedTime(drop))
    Files.writeString(drop, fixtureText("anp_semicolon.csv").replace("15/02/2024;6,74", "15/02/2024;6,80"))
    Files.setLastModifiedTime(drop, mtime)
    assert(Files.size(drop) == size && Files.getLastModifiedTime(drop) == mtime)
    run()
    val after = filesUnder(root, "bronze")
    assert(rewritten(bronze, after, "anp_raw.parquet"), "ANP did not extract")
    assert(under(after, "bcb_sgs_11.parquet") == under(bronze, "bcb_sgs_11.parquet"))
    // the revised row is dated before the mark: no increment, no tier rewrite
    assert(tierFiles(root) == tiers, "a tier file was rewritten")
  }

  test("a series whose bronze table was deleted re-extracts") {
    val root = Files.createTempDirectory("graft-replay-gone").toString
    val statePath = s"$root/state/state.json"
    val csv = twoSeries(root)
    def run() = Pipeline.run(spark, withIpca(ipcaJan), cfg, root, csv, Some(statePath))
    run()
    run()
    val (bronze, tiers) = (filesUnder(root, "bronze"), tierFiles(root))
    val gone = new org.apache.hadoop.fs.Path(s"$root/bronze/bcb_sgs_433.parquet")
    gone.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(gone, true)
    run()
    val after = filesUnder(root, "bronze")
    assert(rewritten(bronze, after, "bcb_sgs_433.parquet"), "433 did not extract")
    assert(bronzeRows(root, "bcb_sgs_433") == 0)
    assert(under(after, "bcb_sgs_11.parquet") == under(bronze, "bcb_sgs_11.parquet"))
    assert(tierFiles(root) == tiers, "a tier file was rewritten")
  }

  test("a mark moved back (state.json reset) re-extracts the rows past it") {
    val root = Files.createTempDirectory("graft-replay-reset").toString
    val statePath = s"$root/state/state.json"
    def run() = Pipeline.run(spark, fetcher, cfg, root, fixture("bcb_series.csv"), Some(statePath))
    run()
    run()
    assert(bronzeRows(root, "bcb_sgs_11") == 0)
    val jan31 = "2024-01-31 00:00:00.000000"
    IncrementalState.write(statePath, IncrementalState.fromFile(statePath)
      .copy(bcbLastDate = Some(jan31), bcbSeriesLastDate = Map(11L -> jan31)))
    val r = run()
    assert(bronzeRows(root, "bcb_sgs_11") == 2, "the rows past the earlier mark were not read")
    assert(r.bcbIncrement.count() == 2 && r.bcbSilver.count() == 4)
    assert(IncrementalState.fromFile(statePath).bcbMark(11).contains("2024-02-29 00:00:00.000000"))
    assertTiersMatchSilver(root)
  }

  test("a crash between the state.json and the record writes: the next run extracts, tiers as a clean run's") {
    val root = Files.createTempDirectory("graft-replay-crash").toString
    val statePath = s"$root/state/state.json"
    def run(root: String, f: FixtureFetcher) =
      Pipeline.run(spark, f, cfg, root, fixture("bcb_series.csv"), Some(s"$root/state/state.json"))
    run(root, fetcher)
    val record = Paths.get(root, "bronze", ExtractRecord.Name)
    val recorded = Files.readString(record)
    // a directory where the record's tmp goes makes its write fail after state.json
    val blocker = Paths.get(root, "bronze", ExtractRecord.Name + ".__tmp")
    Files.createDirectories(blocker)
    intercept[java.io.IOException](run(root, bcbFetcher(withMarchRow)))
    assert(IncrementalState.fromFile(statePath).bcbMark(11).contains("2024-03-05 00:00:00.000000"),
      "state.json was not written before the record")
    assert(Files.readString(record) == recorded)
    Files.delete(blocker)
    val before = filesUnder(root, "bronze")
    val (r3, jobs) = withJobCount(run(root, bcbFetcher(withMarchRow)))
    assert(jobs > 0)
    assert(rewritten(before, filesUnder(root, "bronze"), "bcb_sgs_11.parquet"), "BCB did not extract")
    assert(rewritten(before, filesUnder(root, "bronze"), "anp_raw.parquet"), "ANP did not extract")
    val clean = Files.createTempDirectory("graft-replay-clean").toString
    run(clean, fetcher)
    val c2 = run(clean, bcbFetcher(withMarchRow))
    assert(r3.summary == c2.summary)
    for (t <- Seq("silver/bcb_sgs.parquet", "silver/anp_prices.parquet")) {
      val (a, b) = (spark.read.parquet(s"$root/$t"), spark.read.parquet(s"$clean/$t"))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$t differs from a clean run's")
    }
    assertTiersMatchSilver(root)
  }

  test("a legacy state.json (global mark only) extracts once, then replays") {
    val root = Files.createTempDirectory("graft-replay-legacy").toString
    val statePath = s"$root/state/state.json"
    def run() = Pipeline.run(spark, fetcher, cfg, root, fixture("bcb_series.csv"), Some(statePath))
    run()
    val s1 = IncrementalState.fromFile(statePath)
    def q(v: Option[String]) = v.fold("null")("\"" + _ + "\"")
    Files.writeString(Paths.get(statePath),
      s"""{"bcb_last_date": ${q(s1.bcbLastDate)}, "anp_last_period": ${q(s1.anpLastPeriod)}, """ +
        s""""ibge_last_sync": ${q(s1.ibgeLastSync)}}""")
    val before = filesUnder(root, "bronze")
    run()
    assert(rewritten(before, filesUnder(root, "bronze"), "bcb_sgs_11.parquet"), "BCB did not extract")
    assert(IncrementalState.fromFile(statePath).bcbSeriesLastDate == s1.bcbSeriesLastDate)
    val files = filesUnder(root)
    val (r3, jobs) = withJobCount(run())
    assert(jobs == 0, s"$jobs Spark jobs ran")
    assert(filesUnder(root) == files)
    assert(r3.summary == GoldenSummary)
  }

  test("each declared read schema equals the parquet footer the pipeline wrote") {
    val root = Files.createTempDirectory("graft-schemas").toString
    val statePath = s"$root/state/state.json"
    val schemas = Pipeline.storeSchemas(spark)
    def footers() = {
      for ((path, declared) <- Seq("silver/bcb_sgs.parquet" -> schemas.bcb,
        "silver/anp_prices.parquet" -> schemas.anp, "bronze/ibge_uf_dim.parquet" -> schemas.dim))
        assert(spark.read.parquet(s"$root/$path").schema == declared, s"$path drifted")
    }
    Pipeline.run(spark, fetcher, cfg, root, fixture("bcb_series.csv"), Some(statePath))
    footers()
    // merged stores: both silver stores take an increment
    val r2 = Pipeline.run(spark, bcbFetcher(withMarchRow),
      cfg.copy(anpBronzeFile = fixture("anp_semicolon_v2.csv")), root, fixture("bcb_series.csv"),
      Some(statePath))
    assert(r2.bcbIncrement.count() == 1 && r2.anpIncrement.count() == 2)
    footers()
  }

  // ---- one extract step, declared contracts ----

  test("every stateful run records a row count for each source it extracted, ANP included") {
    val root = Files.createTempDirectory("graft-counted").toString
    val statePath = s"$root/state/state.json"
    def rows() = ExtractRecord.read(spark, s"$root/bronze/${ExtractRecord.Name}")
      .sources.map { case (k, s) => k -> s.rows }
    def validAnp(drop: String) = Silver.anpRows(graft.sources.CsvDialect.read(spark, drop)).count()
    // full path: no mark, so every row that reaches silver counts (ANP
    // before its dedup: 9 of the 12 raw rows pass the quality filters)
    Pipeline.run(spark, fetcher, cfg, root, fixture("bcb_series.csv"), Some(statePath))
    assert(validAnp(cfg.anpBronzeFile) == 9)
    assert(rows() == Map("bcb_sgs_11" -> Some(4L), "anp_raw" -> Some(9L)))
    // incremental path: only the rows past each mark
    val r2 = Pipeline.run(spark, bcbFetcher(withMarchRow),
      cfg.copy(anpBronzeFile = fixture("anp_semicolon_v2.csv")), root, fixture("bcb_series.csv"),
      Some(statePath))
    assert(r2.bcbIncrement.count() == 1 && r2.anpIncrement.count() == 2)
    assert(rows() == Map("bcb_sgs_11" -> Some(1L), "anp_raw" -> Some(2L)))
  }

  test("a run where only the ANP drop changed, with no row past the mark, runs 2 Spark jobs") {
    val root = Files.createTempDirectory("graft-anp-only").toString
    val statePath = s"$root/state/state.json"
    val drop = Paths.get(root, "anp.csv")
    Files.writeString(drop, fixtureText("anp_semicolon.csv"))
    val c = cfg.copy(anpBronzeFile = drop.toString)
    def run() = Pipeline.run(spark, fetcher, c, root, fixture("bcb_series.csv"), Some(statePath))
    run()
    run()
    val (bronze, tiers) = (filesUnder(root, "bronze"), tierFiles(root))
    // a price revised before the mark: the drop's digest changes, its increment does not
    Files.writeString(drop, fixtureText("anp_semicolon.csv").replace("15/02/2024;6,74", "15/02/2024;6,80"))
    val (r, jobs) = withJobCount(run())
    // the CSV header read and the bronze write, which counts the rows past the mark
    assert(jobs == 2, s"$jobs Spark jobs ran")
    val after = filesUnder(root, "bronze")
    assert(rewritten(bronze, after, "anp_raw.parquet"), "ANP did not extract")
    assert(under(after, "bcb_sgs_11.parquet") == under(bronze, "bcb_sgs_11.parquet"))
    assert(tierFiles(root) == tiers, "a tier file was rewritten")
    assert(ExtractRecord.read(spark, s"$root/bronze/${ExtractRecord.Name}")
      .sources("anp_raw").rows.contains(0L))
    assert(r.summary == GoldenSummary && r.anpIncrement.isEmpty)
  }

  test("each declared contract equals its writer's output over an empty input, made nullable") {
    import org.apache.spark.sql.graftbridge.ColumnBridge.asNullable
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import graft.silver.HeaderResolver
    val dim = IbgeSource.fromPayload(spark, "[]")
    // a 0-row drop with the header the resolver maps first: each rule's
    // first exact name, as a string column like every CSV column
    val drop = spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
      StructType(HeaderResolver.AnpRules.map { r =>
        StructField(r.steps.collectFirst { case HeaderResolver.Exact(n, _*) => n }.get, StringType)
      }))
    val derived = Seq(
      Silver.toSilverBcb(BcbSource.fromPayload(spark, "[]", 0L), "") -> Silver.BcbSchema,
      Silver.enrichUf(Silver.toSilverAnp(drop), dim) -> Silver.AnpSchema,
      dim -> IbgeSource.DimSchema)
    for ((writer, contract) <- derived) assert(asNullable(writer.schema) == contract)
    val declared = Pipeline.storeSchemas(spark)
    assert(Seq(declared.bcb, declared.anp, declared.dim) == derived.map(_._2))
  }

  test("a record whose ANP entry holds no count still parses: BCB replays, ANP extracts once, then replays") {
    val root = Files.createTempDirectory("graft-record-null").toString
    val statePath = s"$root/state/state.json"
    def run() = Pipeline.run(spark, fetcher, cfg, root, fixture("bcb_series.csv"), Some(statePath))
    run()
    run()
    val record = Paths.get(root, "bronze", ExtractRecord.Name)
    val counted = ExtractRecord.read(spark, record.toString)
    // the record as it reads with an ANP entry whose rows were not counted
    ExtractRecord.write(spark, record.toString, counted.copy(sources = counted.sources
      .updated("anp_raw", counted.sources("anp_raw").copy(rows = None))))
    assert(Files.readString(record).matches(""".*"anp_raw":\{[^}]*"rows":null,.*"""))
    val rec = ExtractRecord.read(spark, record.toString)
    assert(rec.sources("anp_raw").rows.isEmpty && rec.sources("bcb_sgs_11").rows.contains(0L))
    val (bronze, tiers) = (filesUnder(root, "bronze"), tierFiles(root))
    val (_, jobs) = withJobCount(run())
    assert(jobs > 0)
    val after = filesUnder(root, "bronze")
    assert(rewritten(bronze, after, "anp_raw.parquet"), "ANP did not extract")
    assert(under(after, "bcb_sgs_11.parquet") == under(bronze, "bcb_sgs_11.parquet"), "BCB did not replay")
    assert(tierFiles(root) == tiers, "a tier file was rewritten")
    assert(ExtractRecord.read(spark, record.toString).sources("anp_raw").rows.contains(0L))
    val files = filesUnder(root)
    val (r4, jobs4) = withJobCount(run())
    assert(jobs4 == 0, s"$jobs4 Spark jobs ran")
    assert(filesUnder(root) == files)
    assert(r4.summary == GoldenSummary)
  }

  // ---- unreadable records ----

  test("an extract record edited outside the FileSystem API reads as absent: the next run extracts, then replays") {
    val root = Files.createTempDirectory("graft-record-stale").toString
    val statePath = s"$root/state/state.json"
    def run() = Pipeline.run(spark, fetcher, cfg, root, fixture("bcb_series.csv"), Some(statePath))
    run()
    run()
    val record = Paths.get(root, "bronze", ExtractRecord.Name)
    assert(Files.exists(record.resolveSibling(s".${ExtractRecord.Name}.crc")))
    // the same record plus a newline: its checksum sidecar no longer matches
    Files.writeString(record, Files.readString(record) + "\n")
    assert(ExtractRecord.read(spark, record.toString) == ExtractRecord.empty)
    val before = filesUnder(root, "bronze")
    val (r, jobs) = withJobCount(run())
    assert(jobs > 0)
    for (t <- Seq("bcb_sgs_11.parquet", "anp_raw.parquet"))
      assert(rewritten(before, filesUnder(root, "bronze"), t), s"$t did not extract")
    assert(r.summary == GoldenSummary)
    assert(ExtractRecord.read(spark, record.toString).sources.keySet == Set("bcb_sgs_11", "anp_raw"))
    val (_, jobs2) = withJobCount(run())
    assert(jobs2 == 0, s"$jobs2 Spark jobs ran")
  }

  test("a tier-input record that cannot be read or parsed reads as absent: the next run rebuilds the tiers") {
    def hadoopWrite(p: Path, text: String): Unit = {
      val hp = new org.apache.hadoop.fs.Path(p.toString)
      val out = hp.getFileSystem(spark.sparkContext.hadoopConfiguration).create(hp, true)
      try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
    }
    val edits = Seq[(String, Path => Unit)](
      // the same record plus a newline: its checksum sidecar no longer matches
      "stale checksum" -> (p => Files.writeString(p, Files.readString(p) + "\n")),
      // garbage with a matching checksum: only the parse fails
      "garbage" -> (p => hadoopWrite(p, "not json {")))
    for ((what, edit) <- edits) {
      val root = Files.createTempDirectory("graft-inputs-bad").toString
      val statePath = s"$root/state/state.json"
      def run() = Pipeline.run(spark, fetcher, cfg, root, fixture("bcb_series.csv"), Some(statePath))
      run()
      run()
      edit(Paths.get(root, Pipeline.TierInputsName))
      val tiers = tierFiles(root)
      val r = run()
      val after = tierFiles(root)
      for (t <- Seq("gold", "warehouse")) assert(rewritten(tiers, after, t), s"$what: $t was not rebuilt")
      assert(r.summary == GoldenSummary)
      assertTiersMatchSilver(root)
      run()
      assert(tierFiles(root) == after, s"$what: the rebuilt record did not vouch for the next run")
    }
  }

  test("forkJoin joins every task before it rethrows the first failure in task order") {
    import java.util.concurrent.CountDownLatch
    import java.util.concurrent.atomic.AtomicBoolean
    val thirdFailed, firstFailed = new CountDownLatch(1)
    val secondDone = new AtomicBoolean(false)
    // task 2 fails first in time, task 0 next; task 1 is still running then
    val e = intercept[IllegalStateException](Pipeline.forkJoin(Seq[() => Int](
      () => { thirdFailed.await(); firstFailed.countDown(); throw new IllegalStateException("task 0") },
      () => { firstFailed.await(); Thread.sleep(300); secondDone.set(true); 1 },
      () => { thirdFailed.countDown(); throw new IllegalArgumentException("task 2") })))
    assert(e.getMessage == "task 0")
    assert(secondDone.get, "rethrown before a running task was joined")
    assert(Pipeline.forkJoin(Seq(() => 1, () => 2, () => 3)) == Seq(1, 2, 3))
  }
}
