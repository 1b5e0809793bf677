package graft

import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, IvfLifecycle, IvfPqIndex, Tombstones, VectorOps}
import graft.pipeline.TierCommit

/** The shared IVF lifecycle, run once per family: the append path's
  * dimension check and the vacuum's crash points (stage, commit point,
  * heal), plus the PQ rebuild's ledger reset.
  */
class IvfLifecycleSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val (m, subDim, ksub, iters) = (4, 16, 16, 2)

  private def vectors = Tables.embeddings(spark, dir)
    .select(col("vec_id"), VectorOps.quantized(col("embedding")).as("q"))
    .withColumn("n2", VectorOps.qnorm2(col("q")))

  private def queries = vectors.filter(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("q").as("qq"), col("n2").as("qn2"))

  private def corpus = vectors
    .select(col("vec_id").as("cid"), col("q").as("cq"), col("n2").as("cn2"))

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-ivflife").toString

  private def ivf(name: String, d: String) =
    IvfIndex.probe(spark, name, d, queries, 3)
      .orderBy(col("qid"), col("cid")).collect().toSeq

  private def pq(name: String, d: String) =
    IvfPqIndex.probe(spark, name, d, queries, corpus, cand = 20, topk = 3)
      .orderBy(col("qid"), col("cid")).collect().toSeq

  test("an append of the wrong dimension raises in both families and changes no answer") {
    val d = tmp()
    val base = vectors.filter(pmod(col("vec_id"), lit(2)) === 0)
    // half-length vectors: the argmax would dot over the shorter prefix
    // and PQ would slice short subvectors, corrupting the index for good
    val short = vectors.filter(pmod(col("vec_id"), lit(2)) === 1)
      .select(col("vec_id"), expr("slice(q, 1, size(q) div 2)").as("q"))
      .withColumn("n2", VectorOps.qnorm2(col("q")))
    IvfIndex.build(spark, base, "ivf_dim", d)
    IvfPqIndex.build(spark, base, "ivfpq_dim", d, m, subDim, ksub, iters)
    try {
      val (ivf0, pq0) = (ivf("ivf_dim", d), pq("ivfpq_dim", d))
      val rows0 = (spark.table("ivf_dim_cells").count(),
        spark.table("ivfpq_dim_codes").count())
      def raisesDimension(append: => Unit): Unit = {
        val e = intercept[Exception](append)
        val msgs = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
        assert(msgs.exists(_.contains("has dimension 32, the index has 64")),
          s"expected the dimension error, got: $e")
      }
      raisesDimension(IvfIndex.append(spark, short, "ivf_dim", d))
      raisesDimension(IvfPqIndex.append(spark, short, "ivfpq_dim", d))
      assert((spark.table("ivf_dim_cells").count(),
        spark.table("ivfpq_dim_codes").count()) == rows0)
      assert(ivf("ivf_dim", d) == ivf0 && ivf0.nonEmpty)
      assert(pq("ivfpq_dim", d) == pq0 && pq0.nonEmpty)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_dim_cells")
      spark.sql("DROP TABLE IF EXISTS ivfpq_dim_codes")
    }
  }

  test("vacuum crash points in both families: staged is invisible, healed keeps every answer and empties the ledger") {
    val d = tmp()
    IvfIndex.build(spark, vectors, "ivf_vac", d)
    IvfPqIndex.build(spark, vectors, "ivfpq_vac", d, m, subDim, ksub, iters)
    try {
      val pqFull = pq("ivfpq_vac", d)
      val deleted = vectors.filter(pmod(col("vec_id"), lit(7)) === 3)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      assert(deleted.nonEmpty)

      def crashVacuum(name: String, payload: String,
                      probe: => Seq[org.apache.spark.sql.Row],
                      stage: => Unit): Unit = {
        val suppressed = probe
        assert(suppressed.nonEmpty &&
          !suppressed.map(_.getLong(1)).exists(deleted.toSet))
        // crash 1: vacuum staged, commit point not reached — all-old
        stage
        assert(!TierCommit.heal(spark, d), "no manifest yet: heal is a no-op")
        assert(probe == suppressed)
        assert(Tombstones.count(spark, s"$d/${name}_tombstones") > 0)
        // crash 2: manifest published, nothing promoted — heal rolls the
        // rewritten payload and the empty ledger forward together
        TierCommit.writeManifest(spark, d,
          Seq(s"$d/${name}_$payload", s"$d/${name}_tombstones"))
        assert(TierCommit.heal(spark, d), "manifest present: heal must promote")
        spark.catalog.refreshTable(s"${name}_$payload")
        assert(probe == suppressed, s"$name: a healed vacuum changed an answer")
        assert(Tombstones.count(spark, s"$d/${name}_tombstones") == 0)
        assert(spark.read.parquet(s"$d/${name}_$payload")
          .filter(col("vid").isin(deleted: _*)).count() == 0,
          s"$name: the healed vacuum must drop deleted rows physically")
      }

      IvfIndex.deleteVectors(spark, deleted, "ivf_vac", d)
      crashVacuum("ivf_vac", "cells", ivf("ivf_vac", d),
        IvfIndex.stageVacuumInPlace(spark, "ivf_vac", d,
          IvfIndex.readMeta(spark, "ivf_vac", d)))
      IvfPqIndex.deleteVectors(spark, deleted, "ivfpq_vac", d)
      crashVacuum("ivfpq_vac", "codes", pq("ivfpq_vac", d),
        IvfPqIndex.stageVacuumInPlace(spark, "ivfpq_vac", d,
          IvfPqIndex.readMeta(spark, "ivfpq_vac", d)))

      // a PQ rebuild is a new corpus snapshot: the ledger is cleared and
      // the answers are a fresh full build's again
      val more = vectors.filter(pmod(col("vec_id"), lit(7)) === 5)
        .select(col("vec_id")).orderBy(col("vec_id")).limit(5)
        .collect().map(_.getLong(0)).toSeq
      IvfPqIndex.deleteVectors(spark, more, "ivfpq_vac", d)
      assert(Tombstones.count(spark, s"$d/ivfpq_vac_tombstones") == 5)
      IvfPqIndex.rebuildInPlace(spark, vectors, "ivfpq_vac", d,
        m, subDim, ksub, iters)
      assert(Tombstones.count(spark, s"$d/ivfpq_vac_tombstones") == 0,
        "rebuildInPlace must clear the deletion ledger")
      assert(pq("ivfpq_vac", d) == pqFull)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_vac_cells")
      spark.sql("DROP TABLE IF EXISTS ivfpq_vac_codes")
    }
  }

  test("both runs each chain under the caller's Spark local properties") {
    val sc = spark.sparkContext
    val key = "graft.spec.both"
    def chains() = IvfLifecycle.both(
      spark.range(3).filter(col("id") >= 0).collect().length,
      spark.range(4).filter(col("id") >= 0).collect().length)
    // the pooled threads exist before the caller's run sets its property,
    // so none of them can have inherited it
    assert(chains() == ((3, 4)))
    val (_, caller) = JobProfile(spark).run("caller")(assert(chains() == ((3, 4))))
    // one job per chain
    assert(caller.jobs.size == 2, s"jobs: ${caller.jobs}")
    // a thread gets its own properties back after the chain
    sc.setLocalProperty(key, "caller")
    val captured = org.apache.spark.graftbridge.ScopeBridge.localProperties()
    sc.setLocalProperty(key, "own")
    try {
      assert(org.apache.spark.graftbridge.ScopeBridge.withLocalProperties(captured)(
        sc.getLocalProperty(key)) == "caller")
      assert(sc.getLocalProperty(key) == "own")
    } finally sc.setLocalProperty(key, null)
  }
}
