package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index layout — the [[IvfIndex]] discipline (train
  * ONCE, write the index, probe by READING it) applied to the
  * compressed-codes serving shape of q115 (FAISS IVFADC, Jégou et al.
  * 2011 §V). Where the plain IVF index persists raw vectors per cell,
  * the PQ variant persists m small codes per vector — the layout that
  * fits 10^10+ vectors in cluster memory:
  *
  *  - `<name>_centroids` — k rows (cell, cq, cn2): the coarse routing
  *    table, broadcast-sized by construction (k = ⌈√n⌉).
  *  - `<name>_codebooks` — m·ksub rows (s, code, cv): the PQ
  *    codebooks, broadcast-sized by construction (64 rows here; a few
  *    thousand in any real config).
  *  - `<name>_codes` — (cell, vid, s, code) BUCKETED by cell: m
  *    small-int rows per vector (~64× smaller than raw fp32). A probe
  *    filters `cell IN (<probe list>)` → static bucket pruning; ADC
  *    scoring is one broadcast LUT join + map-side partial sum.
  *
  * Training math is identical to the in-plan-trained twin (q115):
  * [[KMeans.fit]] coarse quantizer (k=⌈√n⌉, 2 Lloyd iterations),
  * [[Pq.trainCodebooks]] subspace codebooks (integer-exact grid
  * means, smallest-id init, fixed iterations) — so a probe of the
  * persisted index returns BIT-IDENTICAL results to q115's in-plan
  * index, which is what lets q197 reuse q115's DuckDB oracle verbatim.
  *
  * The exact rescore of the top-`cand` ADC shortlist still reads raw
  * vectors — that is the IVFADC refinement step, and it is a
  * point-lookup-sized fetch (queries × cand rows survive the
  * shortlist window), not a corpus pass.
  *
  * Reference capability analog: serving queries are index READS, not
  * rebuilds (scripts/query_duckdb.py:12-25 reads loaded tables).
  */
object IvfPqIndex {

  /** Index geometry, fixed at build time and needed again at probe
    * time. PERSISTED by [[build]] as `<dir>/<name>_meta.json` (VERDICT
    * r8 #2) so a probe from a fresh session discovers it from (name,
    * dir) alone; [[probe]]/[[append]] read it instead of taking it as
    * an argument. */
  final case class Meta(k: Int, nprobe: Int, buckets: Int,
                        m: Int, subDim: Int, ksub: Int, iters: Int)

  def writeMeta(spark: SparkSession, name: String, dir: String,
                meta: Meta): Unit =
    IndexMeta.write(spark, s"$dir/${name}_meta.json", Map(
      "k" -> meta.k.toLong, "nprobe" -> meta.nprobe.toLong,
      "buckets" -> meta.buckets.toLong, "m" -> meta.m.toLong,
      "sub_dim" -> meta.subDim.toLong, "ksub" -> meta.ksub.toLong,
      "iters" -> meta.iters.toLong))

  def readMeta(spark: SparkSession, name: String, dir: String): Meta = {
    val m = IndexMeta.read(spark, s"$dir/${name}_meta.json")
    Meta(m("k").toInt, m("nprobe").toInt, m("buckets").toInt,
      m("m").toInt, m("sub_dim").toInt, m("ksub").toInt, m("iters").toInt)
  }

  /** Train on `vectors` = (vec_id, q ARRAY<BIGINT>, n2) and persist
    * the index under `dir` as `<name>_centroids` / `<name>_codebooks`
    * (plain parquet) and catalog table `<name>_codes` (bucketed by
    * cell). Returns the geometry. */
  def build(spark: SparkSession, vectors: DataFrame, name: String,
            dir: String, m: Int, subDim: Int, ksub: Int, iters: Int,
            buckets: Int = 8): Meta = {
    Tombstones.clear(spark, tombRoot(name, dir)) // fresh corpus
    val (cents, books, postings, k, nprobe) = train(vectors, m, subDim,
      ksub, iters)
    // The coarse-quantizer write and the codebook write materialize two
    // INDEPENDENT training chains (k-means Lloyd rounds vs PQ Lloyd
    // rounds — separate checkpoints, no shared lineage beyond the
    // already-materialized subvector checkpoint). Submit them from two
    // driver threads so the second training back-fills the executors the
    // first one's round barriers leave idle (guide §2.6); the postings
    // write needs both and stays sequential.
    writeBoth(
      () => cents.write.mode("overwrite").parquet(s"$dir/${name}_centroids"),
      () => books.write.mode("overwrite").parquet(s"$dir/${name}_codebooks"))
    Layout.writeBucketed(postings, s"${name}_codes", "cell", buckets,
      s"$dir/${name}_codes")
    val meta = Meta(k, nprobe, buckets, m, subDim, ksub, iters)
    writeMeta(spark, name, dir, meta)
    meta
  }

  /** The training half shared by [[build]] and [[rebuildInPlace]]:
    * coarse quantizer + map-only codegen'd cell assignment (q40
    * shape), PQ codebooks + encode (q113 shape — broadcast codebook
    * joins, the ksub-way expansion consumed map-side by the partial
    * min_by). */
  private def train(vectors: DataFrame, m: Int, subDim: Int, ksub: Int,
                    iters: Int)
      : (DataFrame, DataFrame, DataFrame, Int, Int) = {
    val n = vectors.count()
    val k = math.ceil(math.sqrt(n.toDouble)).toInt
    val nprobe = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    // The coarse quantizer and the PQ codebooks are INDEPENDENT training
    // chains — they meet only at the postings join. r13 overlapped their
    // WRITES (writeBoth); r14 moves the overlap up to training setup:
    // each chain's driver-side bounded collects (init-id scans, the
    // subvector checkpoint) run from its own thread, so one chain's
    // setup jobs back-fill the other's driver gaps (guide §2.6). Both
    // futures are joined before any failure rethrows (the writeBoth
    // discipline). Results are unchanged: training is deterministic and
    // neither chain reads the other's state.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.util.Try
    val fCents = Future(Try(
      KMeans.fit(vectors, "vec_id", "q", k, iters = 2)
        .withColumn("cn2", VectorOps.qnorm2(col("cq")))))
    val fPq = Future(Try {
      val sub = Pq.subvectors(vectors, "vec_id", "q", m, subDim)
        .localCheckpoint()
      (sub, Pq.trainCodebooks(sub, "vec_id", ksub, iters))
    })
    val rCents = Await.result(fCents, Duration.Inf)
    val rPq = Await.result(fPq, Duration.Inf)
    val cents = rCents.get
    val (sub, books) = rPq.get
    val ca = VectorOps.centroidArrays(cents, "cell", "cq")
    val assigned = vectors.crossJoin(broadcast(ca))
      .select(col("vec_id").as("vid"),
        VectorOps.cellArgMax(col("q"), col("n2"),
          col("cells"), col("cqs"), col("cn2s")).cast("int").as("cell"))
    val codes = Pq.assignCodes(sub, "vec_id", books)
    val postings = assigned
      .join(codes.withColumnRenamed("vec_id", "vid"), Seq("vid"))
      .select(col("cell"), col("vid"), col("s"), col("code"))
    (cents, books, postings, k, nprobe)
  }

  /** Atomically REPLACE live index `name` with a full RETRAIN on
    * `vectors` (see [[IvfIndex.rebuildInPlace]]): centroids,
    * codebooks, codes, and the meta sidecar promote through ONE
    * tier-commit manifest — a probe never observes mixed geometry
    * across the four (e.g. new codebooks decoding old codes). */
  def rebuildInPlace(spark: SparkSession, vectors: DataFrame, name: String,
                     dir: String, m: Int, subDim: Int, ksub: Int,
                     iters: Int, buckets: Int = 8): Unit =
    graft.pipeline.TierCommit.withWriteLock(spark, dir) {
      graft.pipeline.TierCommit.heal(spark, dir)
      stageRebuildInPlace(spark, vectors, name, dir, m, subDim, ksub,
        iters, buckets)
      graft.pipeline.TierCommit.commit(spark, dir, rebuildTargets(name, dir))
      spark.sql(s"DROP TABLE IF EXISTS ${name}_codes")
      Layout.ensureBucketedTable(spark, s"${name}_codes", "cell", buckets,
        s"$dir/${name}_codes")
    }

  private[graft] def rebuildTargets(name: String, dir: String): Seq[String] =
    Seq(s"$dir/${name}_centroids", s"$dir/${name}_codebooks",
      s"$dir/${name}_codes", s"$dir/${name}_meta.json", tombRoot(name, dir))

  private def tombRoot(name: String, dir: String): String =
    s"$dir/${name}_tombstones"

  /** Run two independent write actions concurrently (FIFO-scheduled
    * concurrent jobs — the second back-fills executors idled by the
    * first's round barriers). BOTH futures are joined before any
    * failure is rethrown (ADVICE r13): rethrowing while the sibling
    * write still runs detached would let the caller release the
    * TierCommit write lock (and a later heal run) with an orphaned
    * Spark job still mutating the staged directory. */
  private def writeBoth(w1: () => Unit, w2: () => Unit): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.util.Try
    val f1 = Future(Try(w1()))
    val f2 = Future(Try(w2()))
    val r1 = Await.result(f1, Duration.Inf)
    val r2 = Await.result(f2, Duration.Inf)
    r1.get
    r2.get
  }

  /** Tombstone `ids` — [[IvfIndex.deleteVectors]]'s contract applied to
    * the compressed family (VERDICT r12 #1): probes behave as if the
    * vectors were never encoded, under the index's FROZEN centroids and
    * codebooks; [[vacuumInPlace]] drops the code rows physically and
    * clears the ledger; a rebuild clears it too. */
  def deleteVectors(spark: SparkSession, ids: Seq[Long], name: String,
                    dir: String): Unit =
    graft.pipeline.TierCommit.withWriteLock(spark, dir) {
      readMeta(spark, name, dir) // the index must exist
      // record only ids actually INDEXED (pushed point read; m code
      // rows per vid — Tombstones.append dedupes to one ledger row)
      Tombstones.append(spark, tombRoot(name, dir),
        spark.read.parquet(s"$dir/${name}_codes")
          .filter(col("vid").isin(ids: _*)).select(col("vid")))
    }

  /** Physically drop tombstoned vectors' code rows and CLEAR the
    * deletion ledger — [[IvfIndex.vacuumInPlace]] for the compressed
    * family: centroids and codebooks stay FROZEN, the rewritten codes
    * and the emptied ledger promote through ONE manifest. */
  def vacuumInPlace(spark: SparkSession, name: String, dir: String): Unit =
    graft.pipeline.TierCommit.withWriteLock(spark, dir) {
      graft.pipeline.TierCommit.heal(spark, dir)
      val meta = readMeta(spark, name, dir)
      stageVacuumInPlace(spark, name, dir, meta)
      graft.pipeline.TierCommit.commit(spark, dir,
        Seq(s"$dir/${name}_codes", tombRoot(name, dir)))
      spark.sql(s"DROP TABLE IF EXISTS ${name}_codes")
      Layout.ensureBucketedTable(spark, s"${name}_codes", "cell",
        meta.buckets, s"$dir/${name}_codes")
    }

  private[graft] def stageVacuumInPlace(spark: SparkSession, name: String,
                                        dir: String, meta: Meta): Unit = {
    import graft.pipeline.TierCommit.stagePath
    Layout.ensureBucketedTable(spark, s"${name}_codes", "cell",
      meta.buckets, s"$dir/${name}_codes")
    val kept = Tombstones.antiJoin(spark, tombRoot(name, dir),
      spark.table(s"${name}_codes"), "vid")
    Layout.writeBucketed(kept, s"${name}_codes__vstage", "cell",
      meta.buckets, stagePath(s"$dir/${name}_codes"))
    spark.sql(s"DROP TABLE IF EXISTS ${name}_codes__vstage")
    val t = new org.apache.hadoop.fs.Path(stagePath(tombRoot(name, dir)))
    t.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(t)
  }

  private[graft] def stageRebuildInPlace(spark: SparkSession,
                                         vectors: DataFrame, name: String,
                                         dir: String, m: Int, subDim: Int,
                                         ksub: Int, iters: Int,
                                         buckets: Int): Unit = {
    import graft.pipeline.TierCommit.stagePath
    val (cents, books, postings, k, nprobe) = train(vectors, m, subDim,
      ksub, iters)
    // same independent-chains overlap as build (guide §2.6)
    writeBoth(
      () => cents.write.mode("overwrite")
        .parquet(stagePath(s"$dir/${name}_centroids")),
      () => books.write.mode("overwrite")
        .parquet(stagePath(s"$dir/${name}_codebooks")))
    Layout.writeBucketed(postings, s"${name}_codes__stage", "cell", buckets,
      stagePath(s"$dir/${name}_codes"))
    spark.sql(s"DROP TABLE IF EXISTS ${name}_codes__stage")
    IndexMeta.write(spark, stagePath(s"$dir/${name}_meta.json"), Map(
      "k" -> k.toLong, "nprobe" -> nprobe.toLong,
      "buckets" -> buckets.toLong, "m" -> m.toLong,
      "sub_dim" -> subDim.toLong, "ksub" -> ksub.toLong,
      "iters" -> iters.toLong))
    // a rebuild is a NEW corpus snapshot — stage an empty deletion
    // ledger so old tombstones cannot hide re-added ids
    val t = new org.apache.hadoop.fs.Path(stagePath(tombRoot(name, dir)))
    t.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(t)
  }

  /** Add `newVectors` = (vec_id, q, n2) to an EXISTING index without
    * retraining ANYTHING: assign to the FROZEN persisted centroids
    * (coarse routing) and encode with the FROZEN persisted codebooks
    * (PQ codes) — FAISS's add-after-train for IVFADC — then append
    * the (cell, vid, s, code) rows to the bucketed codes table; new
    * files land in their cell's bucket, so probe pruning holds over
    * old + new alike. Probe answers afterwards are BIT-IDENTICAL to
    * an index whose build had seen all vectors under these centroids
    * and codebooks (IvfPqIndexSpec proves it). Quantization quality
    * for the delta is the codebooks' business — retraining is a
    * rebuild, by design. Contract: vec_ids disjoint. Geometry is read
    * from the persisted meta — (name, dir) identify the index.
    *
    * Rides the dir's writer lock like every batch mutation (the
    * VERDICT r11 #2 principle extended): an append racing a
    * rebuildInPlace would write into the live codes table that the
    * rebuild's whole-dir swap is about to graveyard — the appended
    * vectors would vanish silently. */
  def append(spark: SparkSession, newVectors: DataFrame, name: String,
             dir: String): Unit =
    graft.pipeline.TierCommit.withWriteLock(spark, dir) {
      appendUnlocked(spark, newVectors, name, dir)
    }

  private def appendUnlocked(spark: SparkSession, newVectors: DataFrame,
                             name: String, dir: String): Unit = {
    val meta = readMeta(spark, name, dir)
    Layout.ensureBucketedTable(spark, s"${name}_codes", "cell",
      meta.buckets, s"$dir/${name}_codes")
    val cents = spark.read.parquet(s"$dir/${name}_centroids")
    val books = spark.read.parquet(s"$dir/${name}_codebooks")
    val ca = VectorOps.centroidArrays(cents, "cell", "cq")
    val assigned = newVectors.crossJoin(broadcast(ca))
      .select(col("vec_id").as("vid"),
        VectorOps.cellArgMax(col("q"), col("n2"),
          col("cells"), col("cqs"), col("cn2s")).cast("int").as("cell"))
    val sub = Pq.subvectors(newVectors, "vec_id", "q", meta.m, meta.subDim)
    val codes = Pq.assignCodes(sub, "vec_id", books)
    val postings = assigned
      .join(codes.withColumnRenamed("vec_id", "vid"), Seq("vid"))
      .select(col("cell"), col("vid"), col("s"), col("code"))
    Layout.appendBucketed(postings, s"${name}_codes", "cell",
      meta.buckets, s"$dir/${name}_codes")
  }

  /** Probe the persisted index: route each query vector (qid, qq, qn2)
    * to its `meta.nprobe` nearest cells via the broadcast centroid
    * table, ADC-score ONLY the probed cells' codes against the
    * per-query LUT (broadcast, built from the persisted codebooks),
    * exact-rescore the top-`cand` shortlist against `corpus` =
    * (cid, cq, cn2), and return the top-`topk`
    * (qid, cid, adc_dot, cos_sim).
    *
    * The probe-cell list is COLLECTED (queries × nprobe ints — the
    * serving-side routing decision an ANN frontend computes per
    * request) so the cells filter is a literal IN list: that is what
    * makes the codes scan statically bucket-pruned instead of a join.
    * No k-means, no codebook training, no encode (min_by) anywhere in
    * the probe plan — IvfPqIndexSpec asserts all three.
    *
    * Opening the index needs only (name, dir): geometry comes from the
    * persisted meta, and the bucketed codes table is re-registered in
    * this session's catalog when absent — a FRESH session probes the
    * index with full bucket pruning (IvfPqIndexSpec proves it). */
  def probe(spark: SparkSession, name: String, dir: String,
            queryVecs: DataFrame, corpus: DataFrame,
            cand: Int, topk: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val meta = readMeta(spark, name, dir)
    Layout.ensureBucketedTable(spark, s"${name}_codes", "cell",
      meta.buckets, s"$dir/${name}_codes")
    val cents = spark.read.parquet(s"$dir/${name}_centroids")
    val books = spark.read.parquet(s"$dir/${name}_codebooks")
    // routing: exact centroid cosine, top-nprobe cells (q115 flow)
    val sim = queryVecs.crossJoin(broadcast(cents))
      .select(col("qid"), col("cell"),
        VectorOps.cosine(VectorOps.qdot(col("qq"), col("cq")),
          col("qn2"), col("cn2")).as("cos_c"))
    val wP = Window.partitionBy(col("qid"))
      .orderBy(col("cos_c").desc_nulls_last, col("cell").asc_nulls_first)
    val probeRows = sim.withColumn("rn", row_number().over(wP))
      .filter(col("rn") <= meta.nprobe)
      .select(col("qid"), col("cell"))
      .collect() // bounded: queries × nprobe
    val cellIds = probeRows.map(_.getInt(1)).distinct.toSeq
    val pairs = spark.createDataFrame(
      spark.sparkContext.parallelize(probeRows.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("qid",
          probeRows.headOption.map(_.schema("qid").dataType)
            .getOrElse(org.apache.spark.sql.types.LongType)),
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType))))
    // per-query ADC lookup table from the PERSISTED codebooks
    val lut = Pq.adcLut(
      Pq.subvectors(queryVecs, "qid", "qq", meta.m, meta.subDim),
      "qid", books)
    // probed codes only: statically bucket-pruned scan, then one
    // broadcast LUT join, partial-summed map-side to (qid, cid) rows
    val adc = Tombstones.antiJoin(spark, tombRoot(name, dir),
        spark.table(s"${name}_codes")
          .filter(col("cell").isin(cellIds: _*)), // static bucket pruning
        "vid")
      .join(broadcast(pairs), Seq("cell"))
      .filter(col("qid") =!= col("vid"))
      .join(broadcast(lut), Seq("qid", "s", "code"))
      .groupBy(col("qid"), col("vid").as("cid"))
      .agg(sum(col("pdot")).as("adc_dot"))
    // ADC shortlist through the BOUNDED map-side-combining top-k
    // aggregate (VERDICT r9 #3) — a row_number window here funnels all
    // probed-cell ADC rows through |queries| partitions; the aggregate
    // shuffles queries x cand pairs. Rank order is the window's
    // exactly: adc_dot DESC, cid ASC (adc_dot is an exact BIGINT sum).
    val short = adc
      .groupBy(col("qid"))
      .agg(TopK.topKPairs(col("adc_dot"), col("cid"), cand).as("tk"))
      .select(col("qid"), posexplode(col("tk")))
      .select(col("qid"), col("col.v").as("adc_dot"), col("col.id").as("cid"))
    // IVFADC refinement: exact cosine over the bounded shortlist —
    // the shortlist (queries × cand rows) is the broadcast side, so
    // the raw-vector fetch is one streamed corpus scan, never a shuffle
    val scored = corpus
      .join(broadcast(short.join(broadcast(queryVecs), Seq("qid"))),
        Seq("cid"))
      .select(col("qid"), col("cid"), col("adc_dot"),
        VectorOps.cosine(VectorOps.qdot(col("qq"), col("cq")),
          col("qn2"), col("cn2")).as("cos_sim"))
    // final top-k: same aggregate shape, double-ranked (cosine DESC,
    // cid ASC). adc_dot rides through the SAME aggregation pass as a
    // per-query cid->adc_dot map (bounded by `cand` entries per query
    // by construction), so the shortlist subtree is evaluated exactly
    // once — no self-join, no re-scan of the codes table.
    scored
      .groupBy(col("qid"))
      .agg(TopK.topKPairs(col("cos_sim"), col("cid"), topk).as("tk"),
        map_from_entries(collect_list(struct(col("cid"), col("adc_dot"))))
          .as("adcm"))
      .select(col("qid"), col("adcm"), posexplode(col("tk")))
      .select(col("qid"), col("col.id").as("cid"),
        element_at(col("adcm"), col("col.id")).as("adc_dot"),
        col("col.v").as("cos_sim"))
  }
}
