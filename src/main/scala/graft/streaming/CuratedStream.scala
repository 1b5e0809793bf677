package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, GraphOps, TextOps}
import graft.pipeline.CuratedCorpus

/** The STREAMING curated corpus — the incremental form of
  * [[graft.pipeline.CuratedCorpus.write]], composing the three streaming
  * rule indexes this package already maintains:
  *   - [[CurationStream]]   funnel + mixture verdicts (per-doc pure rules);
  *   - [[DecontamStream]]   train/eval gram overlap counts;
  *   - [[NearDupStream]]    verified near-dup pairs.
  *
  * Per micro-batch: resolve in-batch doc conflicts ONCE (the same total
  * rule every index uses), advance the corpus store and the three
  * indexes — each touches only the batch plus the provably-affected
  * slice of its state — then DERIVE the curated table from state alone:
  *
  *   curated = train ∖ contaminated(counts) ∖ losers(pairs, quality)
  *                   ∩ funnel ∩ mixture(verdicts)
  *
  * The derive step never re-reads corpus text except for near-dup
  * CLUSTER MEMBERS (a vanishing fraction — their type-token quality
  * decides the survivor): pairs are filtered to endpoints surviving
  * decontamination (pair existence depends only on the two documents,
  * so this equals computing pairs over the decontaminated slice, which
  * is exactly what the batch write path does), clusters come from the
  * pointer-jumped CC over that filtered pair set (bounded by duplicate
  * count, not corpus), and the stage manifest is one conditional-sum
  * aggregate over id/flag columns.
  *
  * The spec proves stream == batch: after any micro-batching — including
  * eval-after-train arrivals that RETRACT a previously-curated document,
  * and re-delivered changed documents — the curated table and manifest
  * equal [[graft.pipeline.CuratedCorpus.write]] over the latest version
  * of every delivered document (the eval store's monotone contract from
  * [[DecontamStream]] carries over).
  *
  * Scale posture: the index updates are the per-batch costs of the
  * three components (each documented at its definition); the derive
  * step is O(state) joins on 16-byte keys plus an O(kept) rewrite of
  * the curated table through the crash-safe swap seam. At 100 TB the
  * rewrite is the honest cost of maintaining a materialized view on
  * plain parquet — a transactional format turns it into a keyed MERGE
  * INTO through the same seam, with nothing above it changing.
  */
object CuratedStream {

  /** Advance all state with one micro-batch of (doc_id, text, source)
    * rows, then re-derive the curated table + manifest under
    * `rootDir/curated`. Exposed for direct testing (replay = no-op);
    * [[start]] runs it on each batch through [[StateFold.start]]. */
  def processBatch(spark: SparkSession, batch: DataFrame, rootDir: String): Unit = {
    // ONE total in-batch conflict resolution, shared by every index —
    // the components' own rules then see a single version per doc_id
    val docsB = batch.select(col("doc_id"), col("text"), col("source"))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("text"), col("source"))).as("v"))
      .select(col("doc_id"), col("v.text").as("text"), col("v.source").as("source"))

    EventStreams.mergeBatch(spark, docsB, s"$rootDir/docs.parquet", keys = Seq("doc_id"))
    NearDupStream.processBatch(spark, docsB.select(col("doc_id"), col("text")),
      s"$rootDir/neardup_index", s"$rootDir/neardup_pairs.parquet")
    DecontamStream.processBatch(spark, docsB.select(col("doc_id"), col("text")),
      s"$rootDir/decontam_index", s"$rootDir/decontam_counts.parquet")
    CurationStream.processBatch(spark, docsB, s"$rootDir/verdicts.parquet")

    deriveAndWrite(spark, rootDir)
  }

  /** Re-derive the curated table + manifest from the persisted state
    * (no batch input — pure function of the stores, so a replayed batch
    * re-derives identical output). */
  def deriveAndWrite(spark: SparkSession, rootDir: String): Unit = {
    val docs = spark.read.parquet(s"$rootDir/docs.parquet")
    val counts = spark.read.parquet(s"$rootDir/decontam_counts.parquet")
    val verdicts = spark.read.parquet(s"$rootDir/verdicts.parquet")
    val pairs = spark.read.parquet(s"$rootDir/neardup_pairs.parquet")

    val contaminated = DecontamStream.contaminatedIds(counts)
    // decon = surviving train ids; pairs filtered to decon endpoints ==
    // pairs computed over the decon slice (pair existence depends only
    // on the two documents), which is the batch path's input to the
    // survivor rule
    val deconIds = docs.filter(!Curation.isEval(col("doc_id")))
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
    val pairsD = pairs
      .join(deconIds.select(col("doc_id").as("a_id")), Seq("a_id"), "left_semi")
      .join(deconIds.select(col("doc_id").as("b_id")), Seq("b_id"), "left_semi")
    val clusters = GraphOps.connectedComponents(pairsD, "a_id", "b_id")
      .select(col("node").as("doc_id"), col("cluster_id"))
    // survivor quality (q43's rule) — text read ONLY for cluster members
    val t = TextOps.tokens(col("text"))
    val quality = docs.join(clusters, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        (size(array_distinct(t)).cast("double") / size(t)).as("ttr"))
    val survivors = clusters.join(quality, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(max_by(col("doc_id"), struct(col("ttr"), -col("doc_id"))).as("doc_id"))
    val losers = clusters.select(col("doc_id"))
      .join(survivors.select(col("doc_id")), Seq("doc_id"), "left_anti")

    // the same per-doc verdict ledger as the batch write path, published
    // the same way
    CuratedCorpus.publish(spark, docs, docs.select(col("doc_id"), col("source"))
      .withColumn("s_train", !Curation.isEval(col("doc_id")))
      .join(contaminated.withColumn("__c", lit(true)), Seq("doc_id"), "left")
      .join(losers.withColumn("__l", lit(true)), Seq("doc_id"), "left")
      .join(verdicts.select(col("doc_id"), col("p_funnel"), col("kept")), Seq("doc_id"), "left")
      .withColumn("s_decon", col("s_train") && col("__c").isNull)
      .withColumn("s_dedup", col("s_decon") && col("__l").isNull)
      .withColumn("s_quality", col("s_dedup") && coalesce(col("p_funnel"), lit(false)))
      .withColumn("s_kept", col("s_quality") && coalesce(col("kept"), lit(false))),
      s"$rootDir/curated")
  }

  /** Wire a (doc_id, text, source) stream into the curated table. */
  def start(docsStream: DataFrame, rootDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StateFold.start(docsStream, checkpointDir) { (b, _) =>
      processBatch(b.sparkSession, b, rootDir)
    }
}
