package graft

import org.apache.spark.sql.functions._

import graft.operators.{BpeIndex, BpeTrain, IvfIndex, IvfPqIndex, SigIndex,
  TextIndex, Tombstones, VectorOps}
import graft.pipeline.TierCommit

/** Single-writer enforcement (VERDICT r10 #6): TierCommit always
  * ASSUMED one writer per index dir — two concurrent rebuildInPlace
  * calls share the stage path and the loser's manifest would silently
  * win. `withWriteLock` makes the second concurrent committer RAISE at
  * entry (create-exclusive lock, acquired before it can touch the
  * winner's staged tree). Crash recovery: a crashed writer's stale
  * lock blocks loudly; `breakLock` is the operator's no-live-writer
  * assertion, and read-side `heal` never touches the lock.
  */
class ConcurrentWriterSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def vectors = Tables.embeddings(spark, dir)
    .select(col("vec_id"), VectorOps.quantized(col("embedding")).as("q"))
    .withColumn("n2", VectorOps.qnorm2(col("q")))

  private def queries = vectors.filter(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("q").as("qq"), col("n2").as("qn2"))

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-lock").toString

  test("second concurrent rebuild raises instead of clobbering; loser leaves no trace") {
    val d = tmp()
    SigIndex.build(spark, vectors, "lock_sig", d)
    val before = SigIndex.probe(spark, "lock_sig", d, queries, 3)
      .orderBy(col("qid"), col("cid")).collect().toSeq

    // writer A is mid-flight: it holds the lock (simulated by running
    // writer B from INSIDE A's critical section — the interleaving the
    // lock exists to prevent)
    var loser: Option[Throwable] = None
    TierCommit.withWriteLock(spark, d) {
      loser = intercept[Exception] {
        SigIndex.rebuildInPlace(spark,
          vectors.filter(col("vec_id") < 5), "lock_sig", d)
      } match { case e => Some(e) }
    }
    assert(loser.exists(_.getMessage.contains("writer lock")),
      s"loser must raise the lock error, got: $loser")
    // the loser raised at ENTRY: the live index is untouched
    assert(SigIndex.probe(spark, "lock_sig", d, queries, 3)
      .orderBy(col("qid"), col("cid")).collect().toSeq == before)

    // A released on exit: the next writer proceeds normally
    SigIndex.rebuildInPlace(spark, vectors, "lock_sig", d)
    assert(SigIndex.probe(spark, "lock_sig", d, queries, 3)
      .orderBy(col("qid"), col("cid")).collect().toSeq == before)
  }

  test("every in-place committer is guarded: TextIndex and BpeIndex raise under a held lock") {
    val d = tmp()
    val documents = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    TextIndex.build(spark, documents, "lock_bm25", d)
    val words = documents
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "" && length(col("w")) <= 32)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val merges = BpeTrain.fit(words, rounds = 4)
    BpeIndex.build(spark, merges, "lock_bpe", d)
    TierCommit.withWriteLock(spark, d) {
      assert(intercept[Exception] {
        TextIndex.compactInPlace(spark, "lock_bm25", d)
      }.getMessage.contains("writer lock"))
      assert(intercept[Exception] {
        TextIndex.rebuildInPlace(spark, documents, "lock_bm25", d)
      }.getMessage.contains("writer lock"))
      assert(intercept[Exception] {
        BpeIndex.rebuildInPlace(spark, merges, "lock_bpe", d)
      }.getMessage.contains("writer lock"))
    }
    // and all proceed once released
    TextIndex.compactInPlace(spark, "lock_bm25", d)
    BpeIndex.rebuildInPlace(spark, merges, "lock_bpe", d)
  }

  test("appendDelta is single-writer too: concurrent appender raises; serial appends land distinct segs") {
    val d = tmp()
    val documents = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    SigIndex.build(spark, vectors.filter(col("vec_id") < 50), "lock_app", d)
    TextIndex.build(spark, documents.filter(col("doc_id") < 50),
      "lock_app_bm25", d)

    // a writer holds the dir lock (mid-flight append/rebuild): a second
    // appendDelta must RAISE at entry — the unlocked `segs.max + 1`
    // pick let both choose the same segId and silently clobber
    TierCommit.withWriteLock(spark, d) {
      assert(intercept[Exception] {
        SigIndex.appendDelta(spark,
          vectors.filter(col("vec_id") >= 50 && col("vec_id") < 100),
          "lock_app", d)
      }.getMessage.contains("writer lock"))
      assert(intercept[Exception] {
        TextIndex.appendDelta(spark,
          documents.filter(col("doc_id") >= 50 && col("doc_id") < 100),
          "lock_app_bm25", d)
      }.getMessage.contains("writer lock"))
    }
    // the loser left no trace: still exactly one segment each
    assert(SigIndex.segmentIds(spark, "lock_app", d) == Seq(0L))
    assert(TextIndex.segmentIds(spark, "lock_app_bm25", d) == Seq(0L))

    // the bucketed-table family is guarded too: an IvfIndex append
    // racing a rebuild's whole-dir swap would vanish silently
    val dIvf = tmp()
    graft.operators.IvfIndex.build(spark,
      vectors.filter(col("vec_id") < 50), "lock_ivf", dIvf)
    try {
      TierCommit.withWriteLock(spark, dIvf) {
        assert(intercept[Exception] {
          graft.operators.IvfIndex.append(spark,
            vectors.filter(col("vec_id") >= 50), "lock_ivf", dIvf)
        }.getMessage.contains("writer lock"))
      }
      graft.operators.IvfIndex.append(spark,
        vectors.filter(col("vec_id") >= 50), "lock_ivf", dIvf) // released
      assert(spark.table("lock_ivf_cells").count() == vectors.count())
    } finally spark.sql("DROP TABLE IF EXISTS lock_ivf_cells")

    // released: serial appends land as DISTINCT consecutive segments
    // and the probe equals a fresh full build's answers
    SigIndex.appendDelta(spark,
      vectors.filter(col("vec_id") >= 50 && col("vec_id") < 100),
      "lock_app", d)
    SigIndex.appendDelta(spark, vectors.filter(col("vec_id") >= 100),
      "lock_app", d)
    assert(SigIndex.segmentIds(spark, "lock_app", d) == Seq(0L, 1L, 2L))
    val d2 = tmp()
    SigIndex.build(spark, vectors, "lock_app_ref", d2)
    val got = SigIndex.probe(spark, "lock_app", d, queries, 3)
      .orderBy(col("qid"), col("cid")).collect().toSeq
    val want = SigIndex.probe(spark, "lock_app_ref", d2, queries, 3)
      .orderBy(col("qid"), col("cid")).collect().toSeq
    assert(got == want)
  }

  test("crash recovery: stale lock blocks loudly, heal stays lock-free, breakLock + retry lands") {
    val d = tmp()
    SigIndex.build(spark, vectors.filter(col("vec_id") < 100),
      "lock_crash", d)

    // simulate a writer that crashed INSIDE the critical section,
    // after the commit point (manifest published, nothing promoted,
    // lock still on disk)
    var staged = false
    intercept[Exception] {
      TierCommit.withWriteLock(spark, d) {
        SigIndex.stageRebuildInPlace(spark, vectors, "lock_crash", d,
          nbits = 64)
        TierCommit.writeManifest(spark, d, Seq(s"$d/lock_crash"))
        staged = true
        // the crash: the lock's finally-delete must not run, so kill
        // the process boundary by re-creating the lock after the
        // exception unwinds
        sys.error("injected writer crash")
      }
    }
    assert(staged)
    // withWriteLock's finally released the lock on unwind (in-process
    // exception != process death) — put the stale lock back to model
    // the crashed-process state
    TierCommit.withWriteLock(spark, d) { () }
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lp = new org.apache.hadoop.fs.Path(d, TierCommit.LockName)
    fs.create(lp, false).close()

    // 1. read-side heal is UNAFFECTED by the stale lock: it rolls the
    //    published manifest forward
    assert(TierCommit.heal(spark, d), "manifest present: heal must promote")
    val healed = SigIndex.probe(spark, "lock_crash", d, queries, 3)
      .orderBy(col("qid"), col("cid")).collect().toSeq
    assert(healed.nonEmpty)
    // and heal did NOT clear the lock (it cannot know no writer lives)
    assert(fs.exists(lp), "heal must never touch the writer lock")

    // 2. the next writer blocks loudly on the stale lock
    assert(intercept[Exception] {
      SigIndex.rebuildInPlace(spark, vectors, "lock_crash", d)
    }.getMessage.contains("writer lock"))

    // 3. operator recovery: breakLock, then the retry lands
    assert(TierCommit.breakLock(spark, d))
    SigIndex.rebuildInPlace(spark, vectors, "lock_crash", d)
    assert(SigIndex.probe(spark, "lock_crash", d, queries, 3)
      .orderBy(col("qid"), col("cid")).collect().toSeq == healed)
  }

  test("the IVF in-place committers raise under a held lock and proceed once it is released") {
    val d = tmp()
    val base = vectors.filter(col("vec_id") < 50)
    val delta = vectors.filter(col("vec_id") >= 50)
    val gone = Seq(1L, 2L)
    IvfIndex.build(spark, base, "lock_ivf_ip", d)
    IvfPqIndex.build(spark, base, "lock_ivfpq_ip", d,
      m = 4, subDim = 16, ksub = 16, iters = 2)
    val ops: Seq[(String, () => Unit)] = Seq(
      "IvfIndex.rebuildInPlace" -> (() =>
        IvfIndex.rebuildInPlace(spark, base, "lock_ivf_ip", d)),
      "IvfIndex.deleteVectors" -> (() =>
        IvfIndex.deleteVectors(spark, gone, "lock_ivf_ip", d)),
      "IvfIndex.vacuumInPlace" -> (() =>
        IvfIndex.vacuumInPlace(spark, "lock_ivf_ip", d)),
      "IvfPqIndex.rebuildInPlace" -> (() =>
        IvfPqIndex.rebuildInPlace(spark, base, "lock_ivfpq_ip", d,
          m = 4, subDim = 16, ksub = 16, iters = 2)),
      "IvfPqIndex.deleteVectors" -> (() =>
        IvfPqIndex.deleteVectors(spark, gone, "lock_ivfpq_ip", d)),
      "IvfPqIndex.vacuumInPlace" -> (() =>
        IvfPqIndex.vacuumInPlace(spark, "lock_ivfpq_ip", d)),
      "IvfPqIndex.append" -> (() =>
        IvfPqIndex.append(spark, delta, "lock_ivfpq_ip", d)))
    try {
      val rows0 = (spark.table("lock_ivf_ip_cells").count(),
        spark.table("lock_ivfpq_ip_codes").count())
      TierCommit.withWriteLock(spark, d) {
        ops.foreach { case (what, op) =>
          val e = intercept[Exception](op())
          assert(e.getMessage.contains("writer lock"),
            s"$what must raise the lock error, got: $e")
        }
      }
      // every loser raised at entry: nothing changed on disk
      assert((spark.table("lock_ivf_ip_cells").count(),
        spark.table("lock_ivfpq_ip_codes").count()) == rows0)
      assert(Tombstones.count(spark, s"$d/lock_ivf_ip_tombstones") == 0)
      assert(Tombstones.count(spark, s"$d/lock_ivfpq_ip_tombstones") == 0)

      // released: each proceeds, in order
      ops.foreach(_._2())
      assert(spark.table("lock_ivf_ip_cells").count() == base.count() - 2)
      assert(spark.table("lock_ivfpq_ip_codes").count() ==
        (vectors.count() - 2) * 4)
      assert(Tombstones.count(spark, s"$d/lock_ivf_ip_tombstones") == 0)
      assert(Tombstones.count(spark, s"$d/lock_ivfpq_ip_tombstones") == 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS lock_ivf_ip_cells")
      spark.sql("DROP TABLE IF EXISTS lock_ivfpq_ip_codes")
    }
  }
}
