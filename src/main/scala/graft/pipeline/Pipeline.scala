package graft.pipeline

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.silver.Silver
import graft.sources.{BcbSource, CsvDialect, IbgeSource, JsonFetcher}

/** Run configuration (reference inputs/run_config.json, S5). `warehouse`
  * replaces the reference's DuckDB path: tables load as full-replace
  * parquet directories (same idempotent replace semantics as
  * load.py:18-28, S9 — Spark's `mode("overwrite")`). */
final case class RunConfig(
    startDate: String,
    endDate: String,
    anpBronzeFile: String,
    warehousePath: String)

object RunConfig {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  /** Driver-side JSON config parse (main.py:18-20). Accepts the
    * reference's key names; `duckdb_path` maps to the warehouse dir. */
  def fromJson(json: String): RunConfig = {
    val m = JsonMethods.parse(json).asInstanceOf[JObject].obj.toMap
    def str(k: String): String = m(k).asInstanceOf[JString].s
    RunConfig(
      startDate = str("start_date"),
      endDate = str("end_date"),
      anpBronzeFile = str("anp_bronze_file"),
      warehousePath = m.get("warehouse_path").orElse(m.get("duckdb_path"))
        .map(_.asInstanceOf[JString].s).getOrElse("data/warehouse"))
  }

  def fromFile(path: String): RunConfig =
    fromJson(Files.readString(Paths.get(path)))
}

/** Incremental state document (reference state/state.json — a stub there;
  * real here, SURVEY §7.2-5): per-source high-water marks that become
  * pushdown predicates on the next run.
  *
  * BCB keeps one mark per series (`bcb_series_last_date`): series publish
  * on their own calendars (a monthly IPCA beside a daily SELIC), so one
  * global `max(date)` would filter out a lagging series' new rows at
  * `date > mark`. `bcb_last_date` (the max over series) is still written
  * for existing readers, and a state file that predates the per-series
  * marks keeps applying it to every series. */
final case class IncrementalState(
    bcbLastDate: Option[String],
    anpLastPeriod: Option[String],
    ibgeLastSync: Option[String],
    bcbSeriesLastDate: Map[Long, String] = Map.empty) {

  /** The mark filtering series `seriesId`'s next BCB extract. */
  def bcbMark(seriesId: Long): Option[String] =
    if (bcbSeriesLastDate.nonEmpty) bcbSeriesLastDate.get(seriesId) else bcbLastDate
}

object IncrementalState {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  val empty: IncrementalState = IncrementalState(None, None, None)

  def fromJson(json: String): IncrementalState = {
    val m = JsonMethods.parse(json).asInstanceOf[JObject].obj.toMap
    def opt(k: String): Option[String] = m.get(k).collect { case JString(s) => s }
    val perSeries = m.get("bcb_series_last_date").collect { case JObject(kv) =>
      kv.collect { case (id, JString(d)) => id.toLong -> d }.toMap
    }.getOrElse(Map.empty[Long, String])
    IncrementalState(opt("bcb_last_date"), opt("anp_last_period"), opt("ibge_last_sync"),
      perSeries)
  }

  def fromFile(path: String): IncrementalState =
    if (!Files.exists(Paths.get(path))) empty
    else fromJson(Files.readString(Paths.get(path)))

  def toJson(s: IncrementalState): String = {
    def j(v: Option[String]) = v.map("\"" + _ + "\"").getOrElse("null")
    val perSeries = s.bcbSeriesLastDate.toSeq.sorted
      .map { case (id, d) => "\"" + id + "\": " + j(Some(d)) }.mkString("{", ", ", "}")
    s"""{
       |  "bcb_last_date": ${j(s.bcbLastDate)},
       |  "bcb_series_last_date": $perSeries,
       |  "anp_last_period": ${j(s.anpLastPeriod)},
       |  "ibge_last_sync": ${j(s.ibgeLastSync)}
       |}""".stripMargin
  }

  /** Write via a sibling tmp file and an atomic rename: a crash mid-write
    * leaves the previous document intact (and at worst a stale tmp that
    * [[fromFile]] never reads and the next write replaces), never a
    * truncated state.json that would fail every later run. A document
    * whose text is already there is not rewritten. */
  def write(path: String, s: IncrementalState): Unit = {
    val target = Paths.get(path)
    val json = toJson(s)
    if (!Files.exists(target) || Files.readString(target) != json) {
      Option(target.getParent).foreach(Files.createDirectories(_))
      val tmp = target.resolveSibling(target.getFileName.toString + ".__tmp")
      Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
  }
}

/** Atomic multi-table tier commit (VERDICT r7 #5): the gold marts, the
  * warehouse tables, and summary.md previously committed independently,
  * so a crash between tier writes left the tiers observably inconsistent
  * (new gold + old warehouse). This is the plain-directory approximation
  * of a transactional multi-table commit — a write-ahead redo manifest:
  *
  *   1. STAGE every output to its `.__swap_tmp` sibling (the slow part;
  *      a crash here changes nothing observable — targets untouched,
  *      stale tmps are overwritten by the next run's stages);
  *   2. write ONE manifest file listing every target, via tmp + atomic
  *      rename — this rename IS the commit point;
  *   3. PROMOTE each target (graveyard old → rename tmp in → drop
  *      graveyard; each step idempotent);
  *   4. delete the manifest.
  *
  * A crash before 2 is all-old; after 2, [[heal]] (run at the start of
  * every pipeline run, before any tier is read) rolls the remaining
  * promotions forward — all-new. No intermediate state survives a
  * restart. Readers outside the pipeline resolve consistency the same
  * way: call [[heal]] before reading the tiers.
  *
  * The reference has no analog (its five DuckDB loads, load.py:18-28 +
  * main.py:72-76, each replace independently); the capability being
  * honored is its *idempotent full-replace* posture, strengthened to
  * crash-atomicity across tables. */
object TierCommit {
  import org.apache.hadoop.fs.{FileSystem, Path}

  val ManifestName = "_tier_commit.json"

  private[pipeline] def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[pipeline] def swapTmp(t: Path) = new Path(t.getParent, t.getName + ".__swap_tmp")
  private[pipeline] def swapOld(t: Path) = new Path(t.getParent, t.getName + ".__swap_old")

  /** Where a stage for `target` must land — for writers that stage a
    * whole directory TREE themselves (a segmented index: postings +
    * stats + meta) rather than one DataFrame/file. Write the tree at
    * this path, then [[commit]] promotes it under `target` atomically. */
  def stagePath(target: String): String = swapTmp(new Path(target)).toString

  /** Stage a DataFrame at `target`'s tmp sibling (not yet visible). */
  def stageDf(spark: SparkSession, df: DataFrame, target: String,
              partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(swapTmp(new Path(target)).toString)
  }

  /** Stage raw bytes (summary.md) at `target`'s tmp sibling. */
  def stageFile(spark: SparkSession, bytes: Array[Byte], target: String): Unit = {
    val tmp = swapTmp(new Path(target))
    val out = fsOf(spark, tmp).create(tmp, true) // creates parent dirs
    try out.write(bytes) finally out.close()
  }

  /** Idempotent swap-in of a staged target. Re-entrant after a crash at
    * any point: tmp absent means the swap already happened (only the
    * graveyard cleanup can remain); target absent with tmp present means
    * the graveyard rename happened but not the swap-in. */
  private[pipeline] def promote(spark: SparkSession, targetStr: String): Unit = {
    val target = new Path(targetStr)
    val fs = fsOf(spark, target)
    val (tmp, old) = (swapTmp(target), swapOld(target))
    if (fs.exists(tmp)) {
      if (fs.exists(target)) {
        fs.delete(old, true)
        if (!fs.rename(target, old))
          sys.error(s"tier commit: failed to graveyard $target")
      }
      if (!fs.rename(tmp, target))
        sys.error(s"tier commit: failed to promote $tmp to $target")
    }
    fs.delete(old, true)
  }

  private def manifestPath(rootDir: String) = new Path(rootDir, ManifestName)

  /** The commit point alone: publish the manifest via tmp + atomic
    * rename. Split from [[commit]] so crash-injection tests can stop the
    * world here and prove [[heal]] completes the promotion. A stale
    * manifest was healed before staging began. */
  private[graft] def writeManifest(spark: SparkSession, rootDir: String,
                                   targets: Seq[String]): Unit = {
    val json = targets
      .map(t => "\"" + t.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("{\"targets\": [", ", ", "]}")
    Pipeline.publishText(spark, manifestPath(rootDir).toString, json, _ + ".__tmp",
      "tier commit: failed to publish manifest")
  }

  /** Commit all staged targets atomically: manifest rename = commit point. */
  def commit(spark: SparkSession, rootDir: String, targets: Seq[String]): Unit = {
    writeManifest(spark, rootDir, targets)
    targets.foreach(promote(spark, _))
    fsOf(spark, manifestPath(rootDir)).delete(manifestPath(rootDir), false)
  }

  /** Replace `targets` under `rootDir` in place: holding the writer lock
    * ([[withWriteLock]]), finish any prior commit ([[heal]]), run `stage`
    * (which writes each target at its [[stagePath]]), [[commit]] the
    * targets as one unit, then run `committed` on the stage's result
    * before the lock is released. */
  def replaceInPlace[T](spark: SparkSession, rootDir: String, targets: Seq[String])
                       (stage: => T, committed: T => Unit = (_: T) => ()): Unit =
    withWriteLock(spark, rootDir) {
      heal(spark, rootDir)
      val staged = stage
      commit(spark, rootDir, targets)
      committed(staged)
    }

  val LockName = "_tier_writer.lock"

  private def lockPath(rootDir: String) = new Path(rootDir, LockName)

  /** Run `body` holding `rootDir`'s EXCLUSIVE writer lock — the
    * single-writer assumption every in-place index rebuild/compaction
    * makes, now enforced instead of assumed (VERDICT r10 #6): two
    * concurrent rebuilds on one index dir would interleave stage and
    * commit (they share the swap path), and the loser's manifest would
    * silently win. Acquisition is an atomic create-exclusive of
    * `_tier_writer.lock`; a second concurrent writer RAISES at entry —
    * before it can touch the winner's staged tree — instead of
    * clobbering.
    *
    * A writer that CRASHES inside the critical section leaves a stale
    * lock, which blocks subsequent writers loudly (by design: the
    * filesystem cannot distinguish a stale lock from a live writer).
    * Recovery is the operator's assertion that no writer is live:
    * [[breakLock]], then retry — [[heal]] itself never takes or clears
    * the lock, so crash-healed READS are unaffected.
    *
    * Acquisition atomicity (ADVICE r11): on the local filesystem
    * Hadoop's create(overwrite=false) is exists-then-create — two truly
    * concurrent racers could both win — so the local path uses java.nio
    * CREATE_NEW (POSIX O_CREAT|O_EXCL, atomic at the kernel). On HDFS
    * the Hadoop create IS an atomic namenode operation, so the generic
    * path keeps it. Either way the lock file is OURS the instant the
    * create succeeds, so a failure writing the lock METADATA deletes it
    * before rethrowing — no stale lock leaks from a writer that never
    * entered the critical section. */
  def withWriteLock[T](spark: SparkSession, rootDir: String)(body: => T): T = {
    val lp = lockPath(rootDir)
    val fs = fsOf(spark, lp)
    if (!fs.exists(lp.getParent)) fs.mkdirs(lp.getParent)
    def held(e: Exception): Nothing =
      sys.error(s"tier commit: writer lock $lp is held — a concurrent " +
        "rebuild/compaction/append is running (or crashed; if no writer " +
        s"is live, TierCommit.breakLock and retry): $e")
    val payload =
      s"""{"acquired_utc_ms": ${System.currentTimeMillis()}, "pid": ${ProcessHandle.current().pid()}}\n"""
        .getBytes(StandardCharsets.UTF_8)
    if (fs.getScheme == "file") {
      val local = java.nio.file.Paths.get(lp.toUri.getPath)
      try java.nio.file.Files.createFile(local) // O_CREAT|O_EXCL: atomic
      catch { case e: java.io.IOException => held(e) }
      try java.nio.file.Files.write(local, payload)
      catch { case e: Throwable => fs.delete(lp, false); throw e }
    } else {
      val out = try fs.create(lp, false) // overwrite=false: atomic on HDFS
      catch { case e: java.io.IOException => held(e) }
      try out.write(payload)
      catch { case e: Throwable => out.close(); fs.delete(lp, false); throw e }
      out.close()
    }
    try body
    finally fs.delete(lp, false)
  }

  /** Remove a stale writer lock — the explicit operator recovery step
    * after a crashed in-place rebuild (see [[withWriteLock]]). */
  def breakLock(spark: SparkSession, rootDir: String): Boolean = {
    val lp = lockPath(rootDir)
    fsOf(spark, lp).delete(lp, false)
  }

  /** Roll an interrupted commit forward. Returns true when a manifest was
    * found (and its promotions completed). Call before reading any tier.
    * Never touches the writer lock — healing is a READ-side recovery
    * (roll the published manifest forward); write-side recovery after a
    * crash is [[breakLock]]. */
  def heal(spark: SparkSession, rootDir: String): Boolean = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val mf = manifestPath(rootDir)
    Pipeline.readText(spark, mf.toString) match {
      case None => false
      case Some(json) =>
        val targets = (JsonMethods.parse(json) \ "targets") match {
          case JArray(vs) => vs.collect { case JString(s) => s }
          case _ => Nil
        }
        targets.foreach(promote(spark, _))
        fsOf(spark, mf).delete(mf, false)
        true
    }
  }
}

/** The medallion pipeline runner (reference src/main.py:24-86):
  * config → extract (bronze) → silver → gold → load → summary.
  *
  * Tier layout under `rootDir`:
  *   bronze/  raw per-source parquet (S6) + _extract.json, what the
  *            last stateful run extracted (see INCREMENTAL TIER MAINTENANCE)
  *   silver/  standardized contracts (S7)
  *   gold/    hive-partitioned marts (S8) + summary.md (S10)
  *   <warehouse>/  full-replace "table" parquet dirs (S9 equivalent)
  *   _tier_inputs.json  what the committed gold/warehouse/summary were
  *                      built from (see INCREMENTAL TIER MAINTENANCE)
  *
  * All writes are `mode("overwrite")` — restart-safe idempotent batch,
  * the capability the reference's full-replace DuckDB loads encode.
  * If `statePath` is set, each series' BCB extract pushes
  * `date > <that series' mark>` down to the source and the state advances
  * to the new max dates.
  *
  * INCREMENTAL TIER MAINTENANCE: a stateful run rebuilds a tier only when
  * its inputs changed.
  *   - Extract: every bronze source (each `bcb_sgs_<id>`, `anp_raw`) goes
  *     through one step. A `Dataset.observe` count riding its bronze
  *     write takes the rows past its mark that reach silver (BCB: the
  *     rows written; ANP: the parsed rows that pass [[Silver.anpValid]]).
  *     Every stateful run records, last and after state.json, what it
  *     extracted ([[ExtractRecord]], `bronze/_extract.json`): per source
  *     the SHA-256 of its content (each BCB payload, the ANP drop), the
  *     mark applied, that count and its bronze listing; plus the series
  *     CSV's digest with its parsed list, which stands in for the Spark
  *     read of a CSV with the same digest. On the incremental path (mark
  *     set, silver store present) a source whose digest and mark match an
  *     entry that counted 0 rows, with its bronze listing unchanged,
  *     replays: no parse, no bronze write, an empty increment typed by
  *     its store's contract. The same bytes under the same mark give the
  *     same rows.
  *   - Silver: both stores merge through one call ([[merge]]). On the
  *     incremental path an empty increment leaves the store untouched.
  *   - Gold, warehouse, summary.md: every commit stages
  *     [[TierInputsName]] in the same manifest as the tiers. It records
  *     the data files (name, length, modification time) of both silver
  *     stores and of `bronze/ibge_uf_dim.parquet`, the target paths, and
  *     the marks computed from that silver. When the record matches, every
  *     target exists and the dimension was not refetched, the run stages
  *     and commits nothing: it returns the committed summary.md and writes
  *     the recorded marks. Stateless runs, `forceDimRefresh`, a new
  *     warehouse path, a missing target or a silver store rewritten after
  *     the last commit take the full path.
  *   - When every source replays, the dimension is fresh and the tier
  *     record matches, the run submits no Spark job: the tier reads
  *     declare their schemas, the contracts declared beside their writers
  *     ([[Silver.BcbSchema]], [[Silver.AnpSchema]], [[IbgeSource.DimSchema]]).
  *   - LIMIT: both records cover inputs, not code. After a change to the
  *     tier logic (Silver.buildGold, Summary, the table set), run once
  *     without `statePath` so the new code rebuilds the tiers — the same
  *     remedy as for source revisions (SEMANTIC TRADE below). The
  *     extract record adds no staleness of its own: a replayed source
  *     contributes the empty increment a rerun of the same parse would,
  *     and an incremental run never re-derives silver from bronze.
  */
object Pipeline {
  import org.apache.hadoop.fs.Path
  import TierCommit.fsOf
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  final case class Result(
      bcbSilver: DataFrame, // FULL silver after merging any increment
      bcbIncrement: DataFrame, // just this run's new rows
      anpSilver: DataFrame, // FULL silver after merging any increment
      anpIncrement: DataFrame, // just this run's rows past the ANP mark
      ufDim: DataFrame,
      gold: Map[String, DataFrame],
      summary: String)

  /** The tier-input record under `rootDir`, committed with the tiers. */
  val TierInputsName = "_tier_inputs.json"

  /** A silver store: its path, its contract, its natural key with the
    * keep-first order of [[merge]], and whether this run is on its
    * incremental path (mark set, store present). */
  private final case class Store(path: String, contract: StructType, keys: Seq[String],
                                 order: Column, incremental: Boolean)

  /** One source's extract: its silver increment, the rows counted past
    * its mark, and its record entry (stateful runs only). */
  private final case class Extracted(increment: DataFrame, rows: Long,
                                     entry: Option[(String, ExtractRecord.Source)])

  def run(spark: SparkSession, fetcher: JsonFetcher, cfg: RunConfig,
          rootDir: String, seriesCsvPath: String,
          statePath: Option[String] = None,
          forceDimRefresh: Boolean = false): Result = {

    // Roll forward any tier commit a previous run crashed inside — no
    // tier may be read (or re-staged) against a half-promoted layout.
    TierCommit.heal(spark, rootDir)

    val state = statePath.map(IncrementalState.fromFile).getOrElse(IncrementalState.empty)

    // What the last stateful extract read (ExtractRecord): a source that
    // replays reuses its bronze and runs no job. A stateless run neither
    // reads nor writes the record.
    val recordPath = s"$rootDir/bronze/${ExtractRecord.Name}"
    val prior = statePath.map(_ => ExtractRecord.read(spark, recordPath))

    // ---------- EXTRACT (main.py:31-50) ----------
    // Series control table: enabled flag is case-insensitive {"true","1","yes"} (P3).
    // The same bytes parse to the same list, so a recorded digest stands in for the read.
    val seriesDigest = ExtractRecord.fileSha256(spark, seriesCsvPath)
    val seriesCfg = prior.flatMap(_.series(seriesDigest)).getOrElse(
      spark.read.option("header", "true").csv(seriesCsvPath)
        .filter(lower(col("enabled")).isin("true", "1", "yes"))
        .select(col("series_id").cast("long"), col("series_name"))
        .collect() // control table: O(series), driver-side by design
        .map(r => (r.getAs[Long](0), r.getString(1))).toSeq)

    // `ibge_last_sync` drives a real skip (the asymmetry vs the BCB/ANP
    // marks closed): the UF dimension changes ~never, so when the state
    // says it was synced TODAY and the bronze copy exists, the refetch is
    // skipped and bronze is served as-is. `forceDimRefresh` (or a stale /
    // absent mark, or a missing bronze file) takes the fetch path.
    // Resolved before the extract: the ANP increment joins it.
    val today = java.time.LocalDate.now().toString
    val ufDimPath = s"$rootDir/bronze/ibge_uf_dim.parquet"
    val dimFresh = !forceDimRefresh && state.ibgeLastSync.contains(today) &&
      pathExists(spark, ufDimPath)
    val ufDim =
      if (dimFresh) spark.read.schema(IbgeSource.DimSchema).parquet(ufDimPath)
      else {
        val fetched = IbgeSource.fetch(spark, fetcher)
        fetched.write.mode("overwrite").parquet(ufDimPath)
        fetched
      }

    def store(name: String, contract: StructType, mark: Option[String],
              keys: Seq[String], order: Column) = {
      val path = s"$rootDir/silver/$name.parquet"
      Store(path, contract, keys, order, mark.isDefined && pathExists(spark, path))
    }
    val bcb = store("bcb_sgs", Silver.BcbSchema, state.bcbLastDate,
      Seq("series_id", "date"), col("value"))
    val anp = store("anp_prices", Silver.AnpSchema, state.anpLastPeriod,
      Seq("date_ref", "uf_sigla", "product"), col("price"))

    // The one extract step, for every bronze source. A stateful run takes
    // the content's digest first: content replaced after it reads as
    // changed next time, never as the bytes recorded here. On the
    // incremental path a source the record proves empty replays.
    // Otherwise its parse is written to bronze, and a Dataset.observe on
    // that write (no extra scan) counts the rows `counted` keeps.
    def extract(s: Store, table: String, mark: Option[String], digest: => String,
                parse: => DataFrame, counted: DataFrame => Column,
                increment: DataFrame => DataFrame): Extracted = {
      val bronzePath = s"$rootDir/bronze/$table.parquet"
      val seen = prior.map(_ -> digest)
      seen.collect { case (p, d) if s.incremental &&
        p.replays(table, d, mark, dataFiles(spark, bronzePath)) => p.sources(table) } match {
        case Some(entry) => Extracted(empty(spark, s.contract), 0L, Some(table -> entry))
        case None =>
          val bronze = parse
          val written = org.apache.spark.sql.Observation()
          bronze.observe(written, count(when(counted(bronze), 1)).as("rows"))
            .write.mode("overwrite").parquet(bronzePath)
          // a count Spark did not report reads as "some rows": merge
          val rows = written.get.get("rows").fold(1L)(_.asInstanceOf[Long])
          Extracted(increment(bronze), rows, seen.map { case (_, d) =>
            table -> ExtractRecord.Source(d, mark, Some(rows), dataFiles(spark, bronzePath)) })
      }
    }
    def pastMark(c: Column, mark: Option[String]) =
      mark.fold(lit(true))(d => c > lit(d).cast("timestamp"))

    // Partition-parallel fetch (SURVEY §2.1-S1): the reference loops
    // series sequentially on the driver (main.py:36-41); here each
    // fetch + bronze write runs on a bounded thread pool (`forkJoin`), so
    // wall-clock stays ~flat as the series count grows. Only rows past a
    // series' mark flow downstream.
    //
    // ANP incremental (reference state stub state/state.json:1-5): the
    // bronze CSV is always re-read in full (it is a file drop), but only
    // rows past `anp_last_period` flow into the increment — the same
    // high-water-mark pushdown as the BCB path, applied right after the
    // silver projection so Catalyst pushes the date_ref predicate below
    // the enrich join.
    //
    // SEMANTIC TRADE (inherent to any high-water-mark scheme): a later
    // CSV drop that REVISES or backfills a row at date_ref <= mark is
    // not picked up by incremental runs — the mark filter is what buys
    // skipping old periods. Sources that revise history should run
    // without statePath (full reprocess, the reference's own behavior)
    // or reset state.json; append-only drops get the fast path.
    val anpMark = state.anpLastPeriod
    val outs = forkJoin(seriesCfg.map { case (id, name) => () =>
      val payload = fetcher.fetch(BcbSource.url(id, cfg.startDate, cfg.endDate))
      val mark = state.bcbMark(id)
      extract(bcb, s"bcb_sgs_$id", mark, ExtractRecord.sha256(payload),
        BcbSource.fromPayload(spark, payload, id).filter(pastMark(col("date"), mark)),
        _ => lit(true), Silver.toSilverBcb(_, name))
    } :+ { () =>
      extract(anp, "anp_raw", anpMark,
        { CsvDialect.requireExists(spark, cfg.anpBronzeFile)
          ExtractRecord.fileSha256(spark, cfg.anpBronzeFile) },
        CsvDialect.read(spark, cfg.anpBronzeFile),
        raw => { val p = Silver.anpParse(raw); Silver.anpValid(p) && pastMark(p("date_ref"), anpMark) },
        raw => Silver.enrichUf(Silver.toSilverAnp(raw), ufDim).filter(pastMark(col("date_ref"), anpMark)))
    })
    val (bcbOuts, anpOut) = (outs.init, outs.last)
    val bcbIncrement = bcbOuts.map(_.increment).reduceOption(_ unionByName _)
      .getOrElse(empty(spark, Silver.BcbSchema))
    val bcbSilver = merge(spark, bcb, bcbIncrement, bcbOuts.map(_.rows).sum)
    val anpSilver = merge(spark, anp, anpOut.increment, anpOut.rows)
    val extracted = ExtractRecord(Some(seriesDigest -> seriesCfg), outs.flatMap(_.entry).toMap)

    // ---------- GOLD (main.py:59) ----------
    val gold = Silver.buildGold(bcbSilver, anpSilver)

    // ---------- LOAD (main.py:62-76): one atomic tier commit ----------
    // (bcb + anp silver already written by the merge swaps above; they
    // are upstream durable state, not part of the serving tier set.)
    // dim_uf + both gold marts + all five warehouse tables + summary.md
    // + the tier-input record stage invisibly, then commit as ONE
    // manifest-pinned unit: a crash anywhere leaves either all-old or
    // all-new (TierCommit scaladoc).
    val wh = if (Paths.get(cfg.warehousePath).isAbsolute) cfg.warehousePath
             else s"$rootDir/${cfg.warehousePath}"
    val tables = Seq(
      (s"$rootDir/silver/dim_uf.parquet", ufDim, Nil),
      (s"$rootDir/gold/bcb_monthly", gold("bcb_monthly"), Seq("series_id")),
      (s"$rootDir/gold/anp_monthly", gold("anp_monthly"), Seq("uf_sigla"))) ++ Seq(
      "silver_bcb_sgs" -> bcbSilver, "silver_anp_prices" -> anpSilver,
      "dim_uf" -> ufDim, "gold_bcb_monthly" -> gold("bcb_monthly"),
      "gold_anp_monthly" -> gold("anp_monthly")
    ).map { case (t, df) => (s"$wh/$t", df, Nil) }
    val summaryPath = s"$rootDir/gold/summary.md"
    val targets = tables.map(_._1) :+ summaryPath
    val inputs = JObject(
      "files" -> JObject(Seq(bcb.path, anp.path, ufDimPath).map(p => p -> dataFiles(spark, p)): _*),
      "targets" -> JArray(targets.map(JString(_)).toList))
    val inputsPath = s"$rootDir/$TierInputsName"
    // the committed record, when it vouches for this run's inputs
    val unchanged = if (statePath.isEmpty || !dimFresh) None else
      readHint(spark, inputsPath)(JsonMethods.parse(_))
        .filter(rec => JsonMethods.compact(rec \ "inputs") == JsonMethods.compact(inputs) &&
          targets.forall { t => val p = new Path(t); fsOf(spark, p).exists(p) })
        .map(_ \ "marks")
        .collect { case m: JObject => IncrementalState.fromJson(JsonMethods.compact(m)) }

    // High-water marks carry the FULL max timestamp (not a truncated
    // date): a date-granular mark would re-admit same-day rows with
    // intra-day time components on the next run. (The merge dedup above
    // would still collapse them, but the mark itself should be exact.)
    val (summary, marks) = unchanged match {
      case Some(recorded) =>
        // ---------- nothing changed: the committed tiers stand ----------
        (readText(spark, summaryPath).getOrElse(sys.error(s"missing $summaryPath")),
          Some(recorded.copy(ibgeLastSync = Some(today))))
      case None =>
        val marks = statePath.map(_ => newMarks(bcbSilver, anpSilver, state, today))
        // ---------- SUMMARY (main.py:79-86): part of the same commit ------
        val summary = Summary.build(bcbSilver, anpSilver)
        tables.foreach { case (path, df, parts) => TierCommit.stageDf(spark, df, path, parts) }
        TierCommit.stageFile(spark, summary.getBytes(StandardCharsets.UTF_8), summaryPath)
        val record = JObject("inputs" -> inputs,
          "marks" -> marks.fold[JValue](JNull)(m => JsonMethods.parse(IncrementalState.toJson(m))))
        TierCommit.stageFile(spark, JsonMethods.compact(record).getBytes(StandardCharsets.UTF_8),
          inputsPath)
        TierCommit.commit(spark, rootDir, targets :+ inputsPath)
        (summary, marks)
    }

    // ---------- STATE ----------
    // The extract record goes last: a run that stops before it leaves the
    // previous record, whose entries for the bronze this run rewrote no
    // longer match their listings, so those sources extract again.
    for (p <- statePath; m <- marks) {
      IncrementalState.write(p, m)
      ExtractRecord.write(spark, recordPath, extracted)
    }

    Result(bcbSilver, bcbIncrement, anpSilver, anpOut.increment, ufDim, gold, summary)
  }

  /** The marks after this run: per-series BCB max date (plus their max,
    * the legacy global mark), ANP max date_ref, and today's IBGE sync. A
    * source whose silver holds no rows keeps its previous mark. Full
    * microsecond precision (Spark timestamps are micros): a
    * seconds-granular mark would re-admit rows with fractional parts. */
  private def newMarks(bcbSilver: DataFrame, anpSilver: DataFrame,
                       prev: IncrementalState, today: String): IncrementalState = {
    val hwmFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    def fmt(ts: java.sql.Timestamp) = ts.toLocalDateTime.format(hwmFmt)
    val bcbSeries = prev.bcbSeriesLastDate ++
      bcbSilver.groupBy(col("series_id")).agg(max(col("date"))).collect()
        .collect { case r if !r.isNullAt(1) => r.getLong(0) -> fmt(r.getTimestamp(1)) }
    IncrementalState(
      bcbLastDate = bcbSeries.values.maxOption.orElse(prev.bcbLastDate),
      anpLastPeriod = Option(anpSilver.agg(max(col("date_ref"))).collect().head.getTimestamp(0))
        .map(fmt).orElse(prev.anpLastPeriod),
      ibgeLastSync = Some(today),
      bcbSeriesLastDate = bcbSeries)
  }

  /** Merge this run's `increment` into a silver store and read the store
    * back under its contract. An increment is rows PAST the high-water
    * mark, so downstream tiers must see prior history plus the increment:
    * off the incremental path the increment replaces the store; on it, a
    * positive count (`rows`) rewrites the store as store ∪ increment,
    * deduplicated keep-first on the natural key, and an empty increment
    * leaves the store as it is. The rewrite goes through [[swapWrite]]
    * (Spark cannot overwrite a path it is reading from), and gold,
    * warehouse and summary recompute from the merged whole whenever it
    * changed, so their full-replace writes stay idempotent and correct.
    * The dedup is belt-and-braces: even if a mark at coarser granularity
    * than the data (or a same-day revision) lets a row through twice, the
    * merged store can never hold duplicate natural keys. */
  private def merge(spark: SparkSession, s: Store, increment: DataFrame, rows: Long): DataFrame = {
    def read() = spark.read.schema(s.contract).parquet(s.path)
    if (!s.incremental) swapWrite(spark, increment, s.path)
    else if (rows > 0)
      swapWrite(spark, graft.operators.Relational.dedupKeepFirst(
        read().unionByName(increment), s.keys, Seq(s.order)), s.path)
    read()
  }

  /** `tasks`' results in order, run on a pool of at most 8 driver
    * threads (SparkSession is thread-safe), each task under the caller's
    * Spark local properties: the pooled threads were created here, so
    * without them a job group, a scheduler pool or a profiler's tag would
    * not reach their jobs. Every task is joined before the first failure
    * in task order is rethrown, with no interrupt and no timeout:
    * rethrowing while a sibling still runs would leave an orphaned Spark
    * job writing a path that a retried run, or the caller's next step
    * under a released lock, would race. */
  def forkJoin[T](tasks: Seq[() => T]): Seq[T] = {
    import org.apache.spark.graftbridge.ScopeBridge.{localProperties, withLocalProperties}
    val props = localProperties()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, math.min(8, tasks.length)))
    val joined = try {
      tasks.map(t => pool.submit(new java.util.concurrent.Callable[scala.util.Try[T]] {
        def call() =
          try scala.util.Success(withLocalProperties(props)(t()))
          catch { case e: Throwable => scala.util.Failure(e) }
      })).map(_.get)
    } finally pool.shutdown()
    joined.map(_.get)
  }

  /** A 0-row frame of `schema` (a local relation: no job). */
  private def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.List.of[Row](), schema)

  /** The schemas the two silver stores and the UF dimension are written
    * with, nullable as a parquet read returns them: the contracts
    * declared beside their writers, which the tier reads declare (no
    * schema-inference job per read). */
  private[graft] final case class StoreSchemas(bcb: StructType, anp: StructType, dim: StructType)

  private[graft] def storeSchemas(spark: SparkSession): StoreSchemas =
    StoreSchemas(Silver.BcbSchema, Silver.AnpSchema, IbgeSource.DimSchema)

  /** The files under `path` (Hadoop's hidden `_`/`.` files left out), as
    * sorted (name relative to `path`, length, modification time); empty
    * when `path` does not exist. */
  private[pipeline] def visibleFiles(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    val files = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    if (fs.exists(p)) {
      val base = fs.makeQualified(p).toUri.getPath
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        val rel = f.getPath.toUri.getPath.stripPrefix(base)
        if (!rel.split('/').exists(n => n.startsWith("_") || n.startsWith(".")))
          files += ((rel, f.getLen, f.getModificationTime))
      }
    }
    files.sorted.toSeq
  }

  /** [[visibleFiles]] as [relative name, length, modification time]
    * triples: the listing form of both records. */
  private[pipeline] def dataFiles(spark: SparkSession, path: String): JValue =
    JArray(visibleFiles(spark, path).map { case (n, len, t) =>
      JArray(List(JString(n), JInt(len), JInt(t))) }.toList)

  /** A small text file's content through the Hadoop FileSystem API. */
  private[graft] def readText(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8)) finally in.close()
    }
  }

  /** A record that only saves work (the extract record, the tier-input
    * record), parsed by `parse`: None when it is absent, cannot be read
    * (a checksum sidecar left stale by an edit outside the FileSystem
    * API) or does not parse, which only makes the run do that work. */
  private[graft] def readHint[T](spark: SparkSession, path: String)(parse: String => T): Option[T] =
    scala.util.Try(readText(spark, path).map(parse)).toOption.flatten

  /** Publish a small text file at `path`: write the sibling named
    * `tmpName(name)`, delete `path`, rename. A reader sees the old file,
    * none, or the new one, never a torn write; a failed rename raises
    * `failure` followed by the path. */
  private[graft] def publishText(spark: SparkSession, path: String, text: String,
                                 tmpName: String => String, failure: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    val tmp = new Path(p.getParent, tmpName(p.getName))
    val out = fs.create(tmp, true) // creates parent dirs, overwrites
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p)) sys.error(s"$failure $p")
  }

  /** Scheme-aware existence check through the Hadoop FileSystem API —
    * `java.nio.file.Files.exists` sees only the LOCAL filesystem and
    * would make every merge-vs-initial-load decision wrong on
    * hdfs:// / s3a:// paths (an existing remote store would be silently
    * replaced by just the increment).
    *
    * SELF-HEALING: before answering, repair a swap that crashed between
    * its two renames (see [[swapWrite]]) — otherwise a merge decision
    * taken on the crashed state would silently treat the whole store as
    * empty and a subsequent full-replace write would make the loss
    * permanent. A missing target with a COMPLETE tmp (its _SUCCESS
    * commit marker exists) promotes the tmp; a missing target with an
    * incomplete tmp restores the graveyarded previous version. */
  def pathExists(spark: SparkSession, path: String): Boolean = {
    // Path(path).getFileSystem resolves scheme-less paths against
    // fs.defaultFS — the SAME resolution spark.read.parquet applies to
    // the string — so the existence check and the read can never
    // disagree about which filesystem a path lives on. (Hardcoding a
    // file: prefix here would re-introduce the local-only bug for
    // scheme-less paths on a defaultFS=hdfs cluster.)
    val p = new Path(path)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) {
      val (tmp, old) = (TierCommit.swapTmp(p), TierCommit.swapOld(p))
      if (fs.exists(new Path(tmp, "_SUCCESS"))) {
        // crashed after graveyarding the old version, before promoting
        // the fully-committed new one: finish the swap
        if (!fs.rename(tmp, p)) sys.error(s"failed to heal swap of $p from $tmp")
        fs.delete(old, true)
      } else if (fs.exists(old)) {
        // crashed mid-write (tmp incomplete): restore the old version
        fs.delete(tmp, true)
        if (!fs.rename(old, p)) sys.error(s"failed to heal swap of $p from $old")
      }
    }
    fs.exists(p)
  }

  /** Overwrite `path` with `df` even when `df`'s lineage reads `path`:
    * stage to a sibling temp dir ([[TierCommit.stageDf]]), then swap via
    * [[TierCommit.promote]]'s FileSystem renames (atomic moves on
    * HDFS/local; on object stores a rename is a copy but still
    * correct) — a one-table tier commit without the manifest. Public:
    * the streaming merge sink
    * ([[graft.streaming.EventStreams.mergeSink]]) reuses it per batch.
    *
    * CRASH POSTURE: the target is never deleted before its replacement
    * is fully committed — the old version is renamed to a graveyard
    * sibling, the tmp is renamed into place, then the graveyard is
    * dropped. The target therefore never exists in a partial state, and
    * a crash in the vulnerable window (target absent) is repaired by
    * [[pathExists]]'s heal step on the next read/merge decision. A
    * transactional table format would make this one atomic commit; this
    * is the strongest sequence plain directories support. */
  def swapWrite(spark: SparkSession, df: DataFrame, path: String,
                partitionBy: Seq[String] = Nil): Unit = {
    TierCommit.stageDf(spark, df, path, partitionBy)
    TierCommit.promote(spark, path)
  }
}
