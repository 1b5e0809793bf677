package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Curation

/** The curated-corpus WRITE PATH — the step a real user runs after the
  * accounting queries say the cascade is right: materialize the corpus
  * that survives the full curation cascade, plus the per-source release
  * manifest that documents exactly what each stage removed.
  *
  * Cascade (training-pipeline order; every rule is the single-source-of-
  * truth seam the corresponding query checks against the DuckDB oracle):
  *   1. eval carve-out  — keep train docs only (doc_id % 10 != 0, the
  *      q44/q45 slice);
  *   2. decontamination — drop docs overlapping the eval set on >= half
  *      their distinct 5-grams ([[Curation.contaminationDropIds]], q47);
  *   3. near-dup dedup  — within what remains, drop every cluster member
  *      except its best-quality survivor
  *      ([[Curation.nearDupLoserIds]], q43's rule);
  *   4. quality funnel  — C4/Gopher-style length / repetition / stopword
  *      gates ([[Curation.funnelFlags]], q48);
  *   5. domain mixture  — deterministic salted-bucket resampling at each
  *      source's target rate ([[Curation.mixtureKeep]], q49).
  *
  * Output layout under `outDir`:
  *   docs/      the surviving documents, hive-partitioned by source
  *   manifest/  one row per source: n_docs, n_train, after_decontam,
  *              after_neardup, after_quality, n_kept (monotone funnel)
  *
  * Both tables are staged and published by one [[TierCommit.commit]] —
  * neither is ever visible in a partial state, a crash before the commit
  * point leaves both old, a crash after it is rolled forward (both new)
  * by the [[TierCommit.heal]] the next write runs first, and a rerun is
  * a full replace (idempotent, the reference's own load semantics;
  * load.py:18-28).
  * Every stage decision is a deterministic pure function of the document
  * row, so a rerun reproduces the corpus bit-for-bit.
  *
  * Scale posture (100 TB): the drop sets (contaminated ids, cluster
  * losers) are tiny relative to the corpus and enter as anti-joins (AQE
  * broadcasts them when small); the expensive subtrees — the 5-gram
  * window and the MinHash/LSH pipeline — run exactly once each (the id
  * sets are persisted while the ledger materializes, then released). The
  * per-doc verdict ledger is ~30 bytes/row, persisted for the two
  * consumers (manifest agg + kept-id semi-join) and released before
  * return. The final write shuffles nothing beyond the partitionBy
  * layout.
  */
object CuratedCorpus {

  /** Run the cascade over `docs` (schema: doc_id, text, lang, source,
    * n_chars) and write corpus + manifest under `outDir`. Returns the
    * manifest as re-read from disk (what a release consumer sees). */
  def write(spark: SparkSession, docs: DataFrame, outDir: String): DataFrame = {
    // Stage 2 drop set: tiny by construction (contaminated train docs).
    // Persisted + materialized so the 5-gram window runs once even
    // though the set feeds both the ledger join and (via the stage-3
    // input) the near-dup pair generation.
    val contam = Curation.contaminationDropIds(docs).persist()
    contam.count()
    try {
      val decon = docs.filter(col("doc_id") % 10 =!= 0)
        .join(contam, Seq("doc_id"), "left_anti")
      val losers = Curation.nearDupLoserIds(decon)

      // Per-doc verdict ledger: one boolean per cascade stage,
      // cumulative. Funnel flags are pure per-doc functions, so
      // computing them corpus-wide gives identical values to computing
      // them on survivors only.
      publish(spark, docs, Curation.funnelFlags(docs)
        .withColumn("s_train", col("doc_id") % 10 =!= 0)
        .join(contam.withColumn("__c", lit(true)), Seq("doc_id"), "left")
        .join(losers.withColumn("__l", lit(true)), Seq("doc_id"), "left")
        .withColumn("s_decon", col("s_train") && col("__c").isNull)
        .withColumn("s_dedup", col("s_decon") && col("__l").isNull)
        .withColumn("s_quality",
          col("s_dedup") && col("p_len") && col("p_rep") && col("p_stop"))
        .withColumn("s_kept",
          col("s_quality") && Curation.mixtureKeep(col("doc_id"), col("source")))
        .select("doc_id", "source", "s_train", "s_decon", "s_dedup",
          "s_quality", "s_kept"), outDir)
    } finally contam.unpersist()
    spark.read.parquet(s"$outDir/manifest")
  }

  /** Publish a curated corpus under `outDir` from its per-doc verdict
    * `ledger` (doc_id, source and the cumulative stage flags s_train,
    * s_decon, s_dedup, s_quality, s_kept): `docs/`, the `docs` rows the
    * ledger keeps, and `manifest/`, ONE conditional-sum aggregate (q48's
    * shape). The ledger is persisted for those two consumers and
    * released. Any interrupted commit is healed first; both tables are
    * staged, then published by ONE commit point: a crash anywhere leaves
    * the old corpus beside its old manifest or (after heal) the new
    * corpus beside its new manifest. */
  private[graft] def publish(spark: SparkSession, docs: DataFrame, ledger: DataFrame,
                             outDir: String): Unit = {
    TierCommit.heal(spark, outDir)
    val verdicts = ledger.persist()
    try {
      val manifest = verdicts.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("s_train"), 1L).otherwise(0L)).as("n_train"),
        sum(when(col("s_decon"), 1L).otherwise(0L)).as("after_decontam"),
        sum(when(col("s_dedup"), 1L).otherwise(0L)).as("after_neardup"),
        sum(when(col("s_quality"), 1L).otherwise(0L)).as("after_quality"),
        sum(when(col("s_kept"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("source"))
      val kept = docs.join(
        verdicts.filter(col("s_kept")).select("doc_id"), Seq("doc_id"), "left_semi")
      val (docsOut, manifestOut) = (s"$outDir/docs", s"$outDir/manifest")
      TierCommit.stageDf(spark, kept, docsOut, partitionBy = Seq("source"))
      TierCommit.stageDf(spark, manifest, manifestOut)
      TierCommit.commit(spark, outDir, Seq(docsOut, manifestOut))
    } finally verdicts.unpersist()
  }
}
