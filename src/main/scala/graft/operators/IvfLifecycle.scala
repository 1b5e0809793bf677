package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.TierCommit

/** The ONE copy of the IVF serving indexes' on-disk layout and
  * lifecycle — the flat-layout twin of [[SegmentedLifecycle]].
  * [[IvfIndex]] (raw vectors per cell) and [[IvfPqIndex]] (PQ codes per
  * cell) used to carry a copy each of everything below; each now keeps
  * only what is its own: what it trains, the payload row it writes per
  * vector, its extra sidecar fields, and its scoring.
  *
  * Layout: every table of index `<name>` is a sibling `<dir>/<name>_<t>`:
  *  - `_centroids` — k rows (cell, cq, cn2): the coarse routing table,
  *    broadcast-sized by construction (k = ⌈√n⌉, [[IvfLifecycle.geometry]]);
  *  - the family's other trained tables (`_codebooks` for PQ);
  *  - the payload table (`_cells` / `_codes`), BUCKETED by cell: a probe
  *    filters `cell IN (<probe list>)`, which Spark turns into static
  *    bucket pruning;
  *  - `_meta.json` — the geometry sidecar (k, nprobe, buckets, plus the
  *    family's fields): probe/append read it, so opening the index
  *    needs only (name, dir), even from a session that never built it;
  *  - `_tombstones` — the [[Tombstones]] deletion ledger.
  *
  * Lifecycle laws, identical for both families:
  *  - [[append]], [[deleteVectors]], the families' `rebuildInPlace`
  *    and [[vacuumInPlace]] ride the dir's writer lock (VERDICT r11 #2):
  *    an append racing a rebuild's swap would write into a payload
  *    table about to be graveyarded and vanish silently.
  *  - append assigns new vectors to the FROZEN persisted centroids
  *    (FAISS's add-after-train) and raises, inside the append job, on a
  *    vector whose dimension differs from the index's;
  *  - in-place rebuild and vacuum stage at the tier-commit swap path
  *    and promote through ONE manifest (a probe never sees mixed
  *    geometry, or vacuumed payload with the old ledger), then
  *    re-register the payload table's bucket spec;
  *  - build and rebuild clear the deletion ledger (a new corpus).
  */
trait IvfLifecycle {

  /** The family's geometry type (its `Meta` case class). */
  type M <: IvfLifecycle.Geometry

  /** Payload table suffix: `cells` or `codes`. */
  protected def payload: String

  /** Trained table suffixes, `centroids` first. */
  protected def trained: Seq[String]

  /** Input columns the payload carries past (vid, cell). */
  protected def carried: Seq[Column]

  /** The sidecar fields beyond k/nprobe/buckets. */
  protected def extraFields(meta: M): Map[String, Long]

  /** The family's geometry from the base fields and the sidecar. */
  protected def withGeometry(k: Int, nprobe: Int, buckets: Int,
                             fields: Map[String, Long]): M

  /** Train on `vectors` at geometry `meta`, write every trained table
    * at `at(<suffix>)`, and return the payload rows (cell, vid, ...). */
  protected def trainInto(vectors: DataFrame, meta: M,
                          at: String => String): DataFrame

  /** The vector length an appended `q` must have. */
  protected def dimension(meta: M): Column

  /** Payload rows of appended `vectors` from their frozen-centroid
    * assignment `assigned` = (vid, cell, carried...). */
  protected def appendRows(spark: SparkSession, vectors: DataFrame,
                           assigned: DataFrame, name: String, dir: String,
                           meta: M): DataFrame = assigned

  // ---- layout ---------------------------------------------------------------

  private[graft] final def path(name: String, dir: String, t: String): String =
    s"$dir/${name}_$t"

  private[graft] final def payloadPath(name: String, dir: String): String =
    path(name, dir, payload)

  private[graft] final def tombRoot(name: String, dir: String): String =
    path(name, dir, "tombstones")

  /** Every directory the index occupies (the catalog's footprint). */
  private[graft] final def footprint(name: String, dir: String): Seq[String] =
    (payload +: trained :+ "tombstones").map(path(name, dir, _))

  /** What an in-place rebuild promotes through one manifest. */
  private[graft] final def rebuildTargets(name: String, dir: String): Seq[String] =
    (trained ++ Seq(payload, "meta.json", "tombstones")).map(path(name, dir, _))

  private def metaFields(meta: M): Map[String, Long] =
    Map("k" -> meta.k.toLong, "nprobe" -> meta.nprobe.toLong,
      "buckets" -> meta.buckets.toLong) ++ extraFields(meta)

  final def writeMeta(spark: SparkSession, name: String, dir: String,
                      meta: M): Unit =
    IndexMeta.write(spark, path(name, dir, "meta.json"), metaFields(meta))

  final def readMeta(spark: SparkSession, name: String, dir: String): M = {
    val f = IndexMeta.read(spark, path(name, dir, "meta.json"))
    withGeometry(f("k").toInt, f("nprobe").toInt, f("buckets").toInt, f)
  }

  /** Register the bucketed payload table in this session's catalog (or
    * validate its spec); returns the table name. */
  private def ensureTable(spark: SparkSession, name: String, dir: String,
                          buckets: Int): String = {
    val table = s"${name}_$payload"
    Layout.ensureBucketedTable(spark, table, "cell", buckets,
      payloadPath(name, dir))
    table
  }

  // ---- build and rebuild ----------------------------------------------------

  /** Train on `vectors` = (vec_id, q ARRAY<BIGINT>, n2) and write the
    * index at `at(<suffix>)`, the payload through catalog entry `table`. */
  private def writeIndex(spark: SparkSession, vectors: DataFrame,
                         geometry: (Int, Int) => M, at: String => String,
                         table: String): M = {
    val (k, nprobe) = IvfLifecycle.geometry(vectors.count())
    val meta = geometry(k, nprobe)
    Layout.writeBucketed(trainInto(vectors, meta, at), table, "cell",
      meta.buckets, at(payload))
    IndexMeta.write(spark, at("meta.json"), metaFields(meta))
    meta
  }

  protected final def buildWith(spark: SparkSession, vectors: DataFrame,
                                name: String, dir: String)
                               (geometry: (Int, Int) => M): M = {
    Tombstones.clear(spark, tombRoot(name, dir)) // fresh corpus
    writeIndex(spark, vectors, geometry, path(name, dir, _),
      s"${name}_$payload")
  }

  /** The staging half of a rebuild — split out so specs can stop the
    * world at the crash point between stage and commit. The bucketed
    * payload stage rides a throwaway `__stage` catalog entry
    * (saveAsTable needs one), dropped right after the write: the
    * promoted table needs only the bucket-id file names. */
  protected final def stageRebuildWith(spark: SparkSession,
                                       vectors: DataFrame, name: String,
                                       dir: String)
                                      (geometry: (Int, Int) => M): M = {
    val table = s"${name}_${payload}__stage"
    val meta = writeIndex(spark, vectors, geometry,
      t => TierCommit.stagePath(path(name, dir, t)), table)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    stageEmptyLedger(spark, name, dir)
    meta
  }

  protected final def rebuildInPlaceWith(spark: SparkSession,
                                         vectors: DataFrame, name: String,
                                         dir: String)
                                        (geometry: (Int, Int) => M): Unit =
    commitInPlace(spark, name, dir, rebuildTargets(name, dir))(
      stageRebuildWith(spark, vectors, name, dir)(geometry))

  /** [[TierCommit.replaceInPlace]], then re-register the payload table
    * under the same lock. */
  private def commitInPlace(spark: SparkSession, name: String, dir: String,
                            targets: Seq[String])(stage: => M): Unit =
    TierCommit.replaceInPlace(spark, dir, targets)(stage, (meta: M) => {
      // the catalog's bucket spec must describe the NEW layout (a
      // rebuild may change the bucket count); external DROP keeps files
      spark.sql(s"DROP TABLE IF EXISTS ${name}_$payload")
      ensureTable(spark, name, dir, meta.buckets)
    })

  /** A rebuild or vacuum leaves no deletions behind: stage an EMPTY
    * ledger, which the same manifest promotes over the old one. */
  private def stageEmptyLedger(spark: SparkSession, name: String,
                               dir: String): Unit = {
    val t = new org.apache.hadoop.fs.Path(
      TierCommit.stagePath(tombRoot(name, dir)))
    t.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(t)
  }

  // ---- deletion -------------------------------------------------------------

  /** Tombstone `ids` (VERDICT r12 #1): every later probe behaves as if
    * the vectors were never indexed, under the index's FROZEN trained
    * tables — deletion, like append, never retrains. [[vacuumInPlace]]
    * drops the rows physically and clears the ledger; a rebuild clears
    * it too. */
  final def deleteVectors(spark: SparkSession, ids: Seq[Long], name: String,
                          dir: String): Unit =
    TierCommit.withWriteLock(spark, dir) {
      readMeta(spark, name, dir) // the index must exist
      // record only ids actually INDEXED (pushed point read; PQ has m
      // rows per vid — Tombstones.append dedupes to one ledger row)
      Tombstones.append(spark, tombRoot(name, dir),
        spark.read.parquet(payloadPath(name, dir))
          .filter(col("vid").isin(ids: _*)).select(col("vid")))
    }

  /** Physically drop tombstoned vectors from the payload table and
    * CLEAR the ledger. Trained tables stay FROZEN, so probe answers
    * before and after are identical; the rewritten payload and the
    * emptied ledger promote through ONE manifest (old payload with no
    * ledger would resurrect deleted vectors mid-swap). */
  final def vacuumInPlace(spark: SparkSession, name: String, dir: String): Unit =
    commitInPlace(spark, name, dir,
      Seq(payloadPath(name, dir), tombRoot(name, dir))) {
      val meta = readMeta(spark, name, dir)
      stageVacuumInPlace(spark, name, dir, meta)
      meta
    }

  private[graft] final def stageVacuumInPlace(spark: SparkSession,
                                              name: String, dir: String,
                                              meta: M): Unit = {
    val table = ensureTable(spark, name, dir, meta.buckets)
    val kept = Tombstones.antiJoin(spark, tombRoot(name, dir),
      spark.table(table), "vid")
    Layout.writeBucketed(kept, s"${table}__vstage", "cell", meta.buckets,
      TierCommit.stagePath(payloadPath(name, dir)))
    spark.sql(s"DROP TABLE IF EXISTS ${table}__vstage")
    stageEmptyLedger(spark, name, dir)
  }

  // ---- append ---------------------------------------------------------------

  /** Add `newVectors` = (vec_id, q, n2) to an EXISTING index without
    * retraining: assign them to the FROZEN persisted centroids and
    * append the family's payload rows to the bucketed table; new files
    * land in their cell's bucket, so probe pruning holds over old + new
    * alike. Probe answers afterwards equal those of an index whose
    * build had seen all vectors under the same trained tables. A
    * vector of the wrong dimension fails the append job (nothing lands).
    * Contract: vec_ids disjoint from already-indexed ones. */
  final def append(spark: SparkSession, newVectors: DataFrame, name: String,
                   dir: String): Unit =
    TierCommit.withWriteLock(spark, dir) {
      val meta = readMeta(spark, name, dir)
      val table = ensureTable(spark, name, dir, meta.buckets)
      val assigned = IvfLifecycle.assignCells(newVectors,
        spark.read.parquet(path(name, dir, "centroids")),
        col("vec_id").as("vid"), carried, Some(dimension(meta)))
      Layout.appendBucketed(
        appendRows(spark, newVectors, assigned, name, dir, meta),
        table, "cell", meta.buckets, payloadPath(name, dir))
    }

  // ---- probe ----------------------------------------------------------------

  /** Probe routing: rank cells for each query vector (qid, qq, qn2)
    * against the broadcast centroid table, COLLECT the top-`nprobe`
    * (qid, cell) pairs (queries × nprobe ints — the routing decision an
    * ANN frontend computes per request), and hand `score` the probed
    * payload rows joined with their qid: a literal `cell IN` list makes
    * the payload scan statically bucket-pruned, tombstoned vids are
    * anti-joined out, and a query never matches itself.
    *
    * Geometry comes from the sidecar and the bucketed table is
    * re-registered when absent, so a FRESH session probes with full
    * bucket pruning. */
  protected final def probeWith(spark: SparkSession, name: String,
                                dir: String, queryVecs: DataFrame)
                               (score: (M, DataFrame) => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val meta = readMeta(spark, name, dir)
    val table = ensureTable(spark, name, dir, meta.buckets)
    val cents = spark.read.parquet(path(name, dir, "centroids"))
    val sim = queryVecs.crossJoin(broadcast(cents))
      .select(col("qid"), col("cell"),
        VectorOps.cosine(VectorOps.qdot(col("qq"), col("cq")),
          col("qn2"), col("cn2")).as("cos_c"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_c").desc_nulls_last, col("cell").asc_nulls_first)
    val probeRows = sim.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= meta.nprobe)
      .select(col("qid"), col("cell"))
      .collect() // bounded: queries × nprobe
    val cellIds = probeRows.map(_.getInt(1)).distinct.toSeq
    val pairs = spark.createDataFrame(
      spark.sparkContext.parallelize(probeRows.toSeq, 1),
      StructType(Seq(
        StructField("qid", probeRows.headOption
          .map(_.schema("qid").dataType).getOrElse(LongType)),
        StructField("cell", IntegerType))))
    score(meta, Tombstones.antiJoin(spark, tombRoot(name, dir),
        spark.table(table)
          .filter(col("cell").isin(cellIds: _*)), // static bucket pruning
        "vid")
      .join(broadcast(pairs), Seq("cell"))
      .filter(col("qid") =!= col("vid")))
  }
}

object IvfLifecycle {

  /** The sidecar fields every IVF index has. */
  trait Geometry {
    def k: Int
    def nprobe: Int
    def buckets: Int
  }

  /** k = ⌈√n⌉ cells of ~√n vectors; probe depth nprobe = max(2, ⌈√k⌉). */
  def geometry(n: Long): (Int, Int) = {
    val k = math.ceil(math.sqrt(n.toDouble)).toInt
    (k, math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt))
  }

  /** [[KMeans.fit]] coarse quantizer (2 Lloyd iterations) plus norms. */
  def trainCentroids(vectors: DataFrame, k: Int): DataFrame =
    KMeans.fit(vectors, "vec_id", "q", k, iters = 2)
      .withColumn("cn2", VectorOps.qnorm2(col("cq")))

  /** Frozen-centroid cell assignment of `vectors` (q, n2, ...): ONE
    * map-only codegen'd argmax against the broadcast single-row
    * centroid pack. Returns (id, cell INT, carried...). With `dim`, a
    * row whose `size(q)` differs raises in the same projection. */
  def assignCells(vectors: DataFrame, cents: DataFrame, id: Column,
                  carried: Seq[Column] = Nil,
                  dim: Option[Column] = None): DataFrame = {
    val cell = VectorOps.cellArgMax(col("q"), col("n2"),
      col("cells"), col("cqs"), col("cn2s"))
    val checked = dim.fold(cell)(d =>
      when(size(col("q")) =!= d, raise_error(concat(
        lit("IVF append: a vector has dimension "),
        size(col("q")).cast("string"), lit(", the index has "),
        d.cast("string")))).otherwise(cell))
    vectors.crossJoin(broadcast(
        VectorOps.centroidArrays(cents, "cell", "cq")))
      .select(id +: checked.cast("int").as("cell") +: carried: _*)
  }

  /** Evaluate `a` and `b` from two driver threads (two independent
    * training or write chains: the second back-fills executors the
    * first one's round barriers leave idle) through
    * [[graft.pipeline.Pipeline.forkJoin]]: both are joined before any
    * failure is rethrown, so the caller never releases the writer lock
    * with an orphaned Spark job still writing the staged directory, and
    * each chain runs under the caller's Spark local properties. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val Seq(ra, rb) = graft.pipeline.Pipeline.forkJoin(Seq(() => a, () => b))
    (ra.asInstanceOf[A], rb.asInstanceOf[B])
  }
}
