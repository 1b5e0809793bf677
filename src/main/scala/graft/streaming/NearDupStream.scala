package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextOps
import graft.pipeline.Pipeline

/** Streaming near-duplicate detection (E2's streaming form, the same way
  * [[EventStreams.dedupStream]] is E1's): documents arrive as a stream
  * and each micro-batch is checked against an INCREMENTAL MinHash-band
  * index of everything seen so far — new-vs-history candidates come from
  * a (band, band-hash) equi-join against the persisted index, never a
  * rescan of old text, and never an all-pairs product.
  *
  * Banding parameters and verification are IDENTICAL to the batch path
  * (TextQueries q17: 64 permutations, 16 bands x 4 rows, exact-Jaccard
  * verify at 0.5), so streaming arrival order cannot change WHAT is a
  * near-dup — only when it is discovered. [[batchPairs]] is the one-shot
  * reference form; the spec asserts stream == batch on the same corpus.
  *
  * Exactly-once: each persisted store is advanced with
  * [[EventStreams.mergeBatch]]'s keyed idempotent upsert, so a replayed
  * micro-batch (the at-least-once micro-batch contract after a crash)
  * re-derives the same candidate pairs and re-upserts the same rows —
  * a no-op. Crash BETWEEN the three merges is safe: pairs are upserted
  * before the index admits the batch's bands, so the retry re-finds
  * (never loses) the batch's pairs. Crash INSIDE a merge's swap is also
  * safe: swapWrite graveyards the old version instead of deleting it,
  * and [[Pipeline.pathExists]] heals the interrupted swap (promote the
  * committed tmp, or restore the graveyard) before the next merge
  * decision — the index is never silently read as empty.
  *
  * Document UPDATES (cross-batch re-delivery of a doc_id with different
  * text) are first-class, the same way [[CurationStream]] handles
  * verdict flips: a re-delivered doc's OLD bands/shingles are excluded
  * from candidate generation and verification (new rows win), and every
  * stored pair touching it is retracted and re-derived against the new
  * text — so the pairs store always equals [[batchPairs]] over the
  * LATEST version of every document. For an unchanged replay the
  * re-derived rows equal the retracted ones, preserving the no-op.
  *
  * Scale posture: per batch the work is O(batch x collisions) — band
  * signatures for the batch only, one equi-join against the band index,
  * exact verification only for colliding id pairs against the shingle
  * store. The index upserts go through the same swap-write seam as
  * [[EventStreams.mergeSink]]; on a transactional table format
  * (Delta/Iceberg) they become partitioned MERGE INTOs with no change
  * above this seam — the rewrite cost, not the algorithm, is what the
  * format upgrade buys.
  */
object NearDupStream {

  // The banding geometry is TextOps' single source of truth — the same
  // values the batch path (TextQueries q17/q39/q43) compiles against,
  // so the two paths cannot drift apart.
  val Perms: Int = TextOps.MinhashPerms
  val Bands: Int = TextOps.LshBands
  val BandRows: Int = TextOps.LshBandRows
  val JaccardThreshold: Double = TextOps.DefaultJaccardThreshold

  /** Band signature rows for a static frame: (doc_id, band, bh) — `Bands`
    * rows per document with at least one shingle. The band hash is
    * [[TextOps.bandHash]] (md5 over the band's minhash run), a storable
    * key with the same collision semantics as q17's struct equality. */
  def docBands(docs: DataFrame): DataFrame =
    bandsOfSignatures(TextOps.minhashSignatures(
      TextOps.explodedShingles(docs, "doc_id", "text"), "doc_id", Perms))

  /** The banding explode alone, from an already-computed
    * (doc_id, m0..m{Perms-1}) signature frame — split out so a caller
    * that ALSO needs the shingle rows ([[graft.operators.NearDupIndex]]
    * writes both tables) can feed one shared tokenize+shingle pass
    * into both consumers instead of re-running it. */
  def bandsOfSignatures(sigs: DataFrame): DataFrame = {
    val mh = (0 until Perms).map(k => col(s"m$k"))
    sigs.select(col("doc_id"),
      explode(array((0 until Bands).map { b =>
        struct(lit(b).as("band"), TextOps.bandHash(mh, b, BandRows).as("bh"))
      }: _*)).as("x"))
      .select(col("doc_id"), col("x.band").as("band"), col("x.bh").as("bh"))
  }

  /** Distinct shingle sets for exact verification: (doc_id, sh). */
  def shingleSets(docs: DataFrame): DataFrame =
    TextOps.shingleSets(docs, "doc_id", "text")

  /** Exact-Jaccard verification — the batch path's own verifier
    * (TextOps.jaccardVerify: single intersection eval per pair). */
  private def verify(cand: DataFrame, sets: DataFrame): DataFrame =
    TextOps.jaccardVerify(cand, sets, "doc_id", JaccardThreshold)

  /** One-shot batch reference: the pairs the stream must converge to on
    * the same corpus, regardless of how it was micro-batched. Delegates
    * to [[TextOps.nearDupPairs]] — the same signatures, banding, and
    * verifier as [[docBands]]/[[processBatch]] compose incrementally. */
  def batchPairs(docs: DataFrame): DataFrame =
    TextOps.nearDupPairs(docs, "doc_id", "text", JaccardThreshold)

  /** Process one micro-batch of (doc_id, text) rows against the index at
    * `indexDir`, upserting verified pairs into `pairsPath`. Exposed for
    * direct testing (replay = no-op); [[start]] runs it on each batch
    * through [[StateFold.start]]. */
  def processBatch(spark: SparkSession, batch: DataFrame,
                   indexDir: String, pairsPath: String): Unit = {
    val bandsPath = s"$indexDir/bands.parquet"
    val setsPath = s"$indexDir/shingles.parquet"

    val docsB = batch.select(col("doc_id"), col("text")).dropDuplicates("doc_id")
    // The batch's signatures are consumed by FOUR subtrees (both sides
    // of the candidate join, the verify input, and their own index
    // merges) — persist so the 64-aggregate MinHash pipeline runs once
    // per batch, not once per consumer.
    val newBands = docBands(docsB).persist()
    val newSets = shingleSets(docsB).persist()
    try {
      // History EXCLUDING any re-delivered doc's old rows: a CHANGED
      // document's stale bands/shingles must neither generate candidates
      // nor verify them (the new version wins; for an unchanged replay
      // old rows == new rows, so exclusion changes nothing).
      val batchIds = docsB.select(col("doc_id"))
      def history(path: String, like: DataFrame): DataFrame =
        StateFold.stored(spark, path, like)
          .join(broadcast(batchIds), Seq("doc_id"), "left_anti")

      // Candidates: batch bands vs (history + batch) bands.
      // least/greatest normalizes order so batch-internal pairs and a
      // replayed batch (its docs already indexed) dedup to the same
      // (a_id, b_id) row.
      val allBands = history(bandsPath, newBands).unionByName(newBands)
      val cand = newBands.alias("a")
        .join(allBands.alias("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("a_id"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("b_id"))
        .distinct()
      val allSets = history(setsPath, newSets).unionByName(newSets)

      // Pair retraction on re-delivery: drop every stored pair touching
      // a batch doc_id, then admit the freshly verified ones — pairs
      // proven against a doc's OLD text cannot outlive the update.
      // Disjoint by construction: every new pair touches a batch doc
      // (the candidate join's a-side is newBands), every kept pair
      // touches none. Pairs are still written BEFORE the index merges:
      // a crash in between re-finds the batch's pairs on replay.
      val newPairs = verify(cand, allSets).dropDuplicates(Seq("a_id", "b_id"))
      val keptPairs = StateFold.stored(spark, pairsPath, newPairs)
        .join(broadcast(batchIds), col("a_id") === col("doc_id"), "left_anti")
        .join(broadcast(batchIds), col("b_id") === col("doc_id"), "left_anti")
      Pipeline.swapWrite(spark, keptPairs.unionByName(newPairs), pairsPath)
      EventStreams.mergeBatch(spark, newBands, bandsPath, keys = Seq("doc_id", "band"))
      EventStreams.mergeBatch(spark, newSets, setsPath, keys = Seq("doc_id"))
    } finally {
      newBands.unpersist()
      newSets.unpersist()
    }
  }

  /** Wire a (doc_id, text) stream into the incremental index. */
  def start(docsStream: DataFrame, indexDir: String, pairsPath: String,
            checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    StateFold.start(docsStream, checkpointDir) { (b, _) =>
      processBatch(b.sparkSession, b, indexDir, pairsPath)
    }
}
