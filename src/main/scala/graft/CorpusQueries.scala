package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.MultiMatch
import graft.operators.{Kmv, Sampling, TextOps, VectorOps}
import graft.plans.MisraGriesTerms

/** Corpus statistics + deterministic sampling operators over `documents`
  * (north-star E4 extension tier): exact heavy hitters behind a
  * Misra-Gries prefilter, weight-proportional priority sampling,
  * unigram-LM surprisal scoring, and data-derived balance resampling.
  *
  * Shared determinism discipline (Q scaladoc): md5-derived hashes,
  * integer-only arithmetic until one final division, total ORDER BY.
  */
object CorpusQueries {

  // Same spread-the-scan gate as TextQueries.docs (single small parquet
  // file -> one input partition; skip when already core-wide).
  private def docs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    if (d.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism) d
    else d.repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
  }

  private def mgTerms(term: Column, k: Int): Column =
    ColumnBridge.column(
      MisraGriesTerms(ColumnBridge.expression(term), k).toAggregateExpression())

  // --- E4n: exact heavy hitters via Misra-Gries prefilter ---------------
  // Terms with freq * HhDenom > N_tokens, computed WITHOUT shuffling the
  // vocabulary: pass 1 is ONE bounded aggregate (k counters/task,
  // map-side combinable; plans/MisraGriesTerms) that also counts N; pass
  // 2 re-scans, semi-joins the <= k candidates (broadcast — bounded by
  // construction) and exact-counts only them. MG guarantees candidates
  // superset-of {freq > N/(k+1)} for ANY merge order, and HhDenom < k+1,
  // so the verified output is exact and deterministic even though the
  // candidate set itself may vary with partition layout. The oracle
  // replays the exact definition (GROUP BY term HAVING) directly.
  //
  // 100 TB posture: the full GROUP BY term alternative shuffles the
  // distinct-term set (billions of rows for web-scale vocab); this shape
  // shuffles k counters per task in pass 1 and k exact counts in pass 2.
  private val HhK = 64
  private val HhDenom = 50
  private val q73 = Q(
    (spark, dir) => {
      val tok = docs(spark, dir)
        .select(explode(TextOps.tokens(col("text"))).as("term"))
      val summary = tok.agg(
        mgTerms(col("term"), HhK).as("cands"),
        count(lit(1)).as("n_total"))
      val cand = summary.select(
        explode(col("cands")).as("term"), col("n_total"))
      tok.join(broadcast(cand), Seq("term"))
        .groupBy(col("term"), col("n_total"))
        .agg(count(lit(1)).as("freq"))
        .filter(col("freq") * lit(HhDenom.toLong) > col("n_total"))
        .select(col("term"), col("freq"),
          (col("freq").cast("double") / col("n_total")).as("share"))
        .orderBy(col("freq").desc_nulls_last, col("term"))
    },
    Some(s"""
      WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
      tot AS (SELECT count(*) AS n FROM tok)
      SELECT term, count(*) AS freq,
             CAST(count(*) AS DOUBLE) / max(n) AS share
      FROM tok, tot
      GROUP BY term
      HAVING count(*) * $HhDenom > max(n)
      ORDER BY freq DESC NULLS LAST, term ASC NULLS FIRST"""))

  // --- E4o: weight-proportional priority sample, top-k per source -------
  // Priority/sequential-Poisson sampling (Ohlsson '98; Duffield et al.,
  // "Priority sampling" '07): P(pick) ∝ n_chars, deterministic in
  // doc_id. NO window function: the per-source top-k comes from the
  // bounded bottom-k aggregate (Kmv.sketch over negated packed
  // priorities) — k longs per group per task, map-side combinable — so
  // no low-cardinality WindowExec ever sorts the corpus (the q63
  // lesson). The oracle replays the same integer priorities with a
  // row_number window, which is fine AT ORACLE SCALE.
  private val PrioK = 20
  private val q74 = Q(
    (spark, dir) => {
      val d = docs(spark, dir)
      val packed = d.select(col("source"),
        Sampling.priorityPacked("prio|", col("doc_id"), col("n_chars")).as("pk"))
        .select(col("source"), (-col("pk")).as("npk"))
      val winners = packed.groupBy(col("source"))
        .agg(Kmv.sketch(col("npk"), PrioK).as("arr"))
        .select(col("source"), explode(col("arr")).as("neg"))
        .select(col("source"), (-col("neg")).as("packed"))
      val (prio, did) = Sampling.unpackPriority(col("packed"))
      val picks = winners.select(col("source"), prio.as("priority"), did.as("doc_id"))
      // n_chars re-attach: the picks side is bounded (20 sources x k), so
      // broadcast it against the corpus scan.
      d.select(col("doc_id"), col("n_chars"))
        .join(broadcast(picks), Seq("doc_id"))
        .select(col("source"), col("doc_id"), col("n_chars"), col("priority"))
        .orderBy(col("source"), col("priority").desc_nulls_last, col("doc_id"))
    },
    Some(s"""
      WITH p AS (
        SELECT source, doc_id, n_chars,
               (CAST(n_chars AS BIGINT) * ${1L << Sampling.PriorityHashBits}) //
               (CAST(('0x' || substr(md5('prio|' || CAST(doc_id AS VARCHAR)), 1,
                  ${Sampling.PriorityHashBits / 4})) AS BIGINT) + 1) AS priority
        FROM documents),
      r AS (SELECT *, row_number() OVER (
              PARTITION BY source ORDER BY priority DESC, doc_id ASC) AS rn
            FROM p)
      SELECT source, doc_id, n_chars, priority
      FROM r WHERE rn <= $PrioK
      ORDER BY source ASC NULLS FIRST, priority DESC NULLS LAST, doc_id ASC"""))

  // --- E4p: unigram-LM surprisal scoring (quality outlier detection) ----
  // Rarity-weighted doc scoring: surprisal(term) = len(bin(N div cnt)) =
  // floor(log2(N/cnt)) + 1 — an INTEGER proxy for -log2 p(term) computed
  // identically on both engines (no transcendental drift: `ln` is not
  // correctly-rounded-guaranteed across libms, `length(bin(x))` is
  // exact). Docs ranked by mean token surprisal: high = improbable under
  // the corpus LM (the Wenzek et al. CCNet discipline, with the LM being
  // the corpus itself).
  //
  // 100 TB posture: term counts are a map-side-combined agg; the
  // term->surprisal table is vocabulary-sized and joins the token stream
  // on term (AQE broadcasts it when it fits, shuffle-joins otherwise —
  // deliberately NO broadcast hint); per-doc fold is one hash agg.
  private val q75 = Q(
    (spark, dir) => {
      val tok = docs(spark, dir)
        .select(col("doc_id"), col("source"),
          explode(TextOps.tokens(col("text"))).as("term"))
      val counts = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val total = tok.agg(count(lit(1)).as("n_total"))
      val sur = counts.crossJoin(broadcast(total))
        .select(col("term"),
          length(bin(Sampling.ldiv(col("n_total"), col("cnt"))))
            .cast("long").as("surprisal"))
      tok.join(sur, Seq("term"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("surprisal")).as("sum_surprisal"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("sum_surprisal"),
          (col("sum_surprisal").cast("double") / col("n_tokens"))
            .as("mean_surprisal"))
        .orderBy(col("mean_surprisal").desc_nulls_last, col("doc_id"))
        .limit(25)
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
        FROM documents),
      tot AS (SELECT count(*) AS n FROM tok),
      sur AS (
        SELECT term,
               CAST(length(bin(n // cnt)) AS BIGINT) AS surprisal
        FROM (SELECT term, count(*) AS cnt FROM tok GROUP BY 1), tot),
      per AS (
        SELECT doc_id, source, count(*) AS n_tokens,
               CAST(sum(surprisal) AS BIGINT) AS sum_surprisal
        FROM tok JOIN sur USING (term)
        GROUP BY 1, 2)
      SELECT doc_id, source, n_tokens, sum_surprisal,
             CAST(sum_surprisal AS DOUBLE) / n_tokens AS mean_surprisal
      FROM per
      ORDER BY mean_surprisal DESC NULLS LAST, doc_id ASC
      LIMIT 25"""))

  // --- E4q: balance resample — downsample every lang stratum to the -----
  // smallest stratum's size (in expectation), rates DERIVED FROM DATA
  // (vs q49's configured permille rates). Acceptance is a pure row
  // function (Sampling.balanceAccept, decimal compare — overflow-free at
  // any corpus size), so the resampled corpus is bit-reproducible on any
  // layout. kept_id_sum / kept_chars checksum the exact membership, not
  // just its size.
  //
  // 100 TB posture: pass 1 is a column-pruned count per stratum (tiny);
  // pass 2 is a map-only filtered scan with two broadcast one-row/dim
  // joins. Nothing corpus-sized shuffles.
  private val q77 = Q(
    (spark, dir) => {
      val d = docs(spark, dir)
      val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      val minc = counts.agg(min(col("n_lang")).as("min_n"))
      val h = Sampling.hashBits("bal|", col("doc_id"), 40)
      d.join(broadcast(counts), Seq("lang"))
        .crossJoin(broadcast(minc))
        .select(col("lang"), col("n_lang"), col("doc_id"), col("n_chars"),
          when(Sampling.balanceAccept(h, col("n_lang"), col("min_n")), 1L)
            .otherwise(0L).as("keep"))
        .groupBy(col("lang"), col("n_lang"))
        .agg(sum(col("keep")).as("n_kept"),
          sum(col("keep") * col("doc_id")).as("kept_id_sum"),
          sum(col("keep") * col("n_chars")).as("kept_chars"))
        .select(col("lang"), col("n_lang").as("n_docs"), col("n_kept"),
          col("kept_id_sum"), col("kept_chars"),
          (col("n_kept").cast("double") / col("n_lang")).as("effective_rate"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
      m AS (SELECT min(n_lang) AS min_n FROM c),
      b AS (
        SELECT d.lang, c.n_lang, d.doc_id, d.n_chars,
               CASE WHEN CAST(CAST(('0x' || substr(md5('bal|' ||
                        CAST(d.doc_id AS VARCHAR)), 1, 10)) AS BIGINT) AS HUGEINT)
                        * c.n_lang
                      < CAST(m.min_n AS HUGEINT) * 1099511627776
                    THEN 1 ELSE 0 END AS keep
        FROM documents d JOIN c USING (lang) CROSS JOIN m)
      SELECT lang, n_lang AS n_docs,
             CAST(sum(keep) AS BIGINT) AS n_kept,
             CAST(sum(keep * doc_id) AS BIGINT) AS kept_id_sum,
             CAST(sum(keep * n_chars) AS BIGINT) AS kept_chars,
             CAST(sum(keep) AS DOUBLE) / n_lang AS effective_rate
      FROM b GROUP BY 1, 2
      ORDER BY lang ASC NULLS FIRST"""))

  // --- E4r: Gopher-style repetition quality rules (Rae et al. 2021, ----
  // token-count variant): per doc, the excess occurrences of duplicated
  // word trigrams (dup_tri = n_tri - n_distinct_tri) and the count of
  // the single most frequent bigram (top_bi). A doc is kept when
  // dup_tri <= DupTriPct% of its trigrams AND top_bi <= TopBiPct% of its
  // bigrams — both checks are integer cross-multiplications, no doubles.
  // The thresholds are knobs: Gopher publishes 18%/20%; here they are
  // set low (2%/5%) so the short-doc synthetic corpus actually rejects
  // on BOTH rules (at 18%/20% every synthetic doc passes and the keep
  // branch is dead code).
  //
  // Hashing: ONE md5 per token (Kmv.hash60), then grams combine
  // ARITHMETICALLY — g2 = 3·h_i + 5·h_{i+1} (< 2^63, overflow-free on
  // both engines), g3 = 3·(g2 mod 2^60) + 5·h_{i+2} — so the per-gram
  // cost is two multiply-adds, not an md5. A measured decision: the
  // round-6 first cut computed per-doc metrics map-only with
  // interpreted higher-order-function folds (TextOps.gramHashes/
  // topRunLength, kept with their specs as the no-shuffle alternative)
  // and ran 12.9 s at sf0.1 — 8x the relational shape, because HOFs
  // evaluate outside codegen and every column reference re-evaluated
  // the md5 transform. This form explodes hashed-gram LONGS and
  // hash-aggregates them (the q45/q46 discipline): 0.9 s at sf0.1.
  //
  // 100 TB posture: gram rows shuffle keyed by (doc_id, gram-hash) —
  // doc_id is corpus-cardinality, so the exchange hash-spreads
  // perfectly; map-side combine collapses within-partition duplicates
  // first. Structural collisions: g2(a,b) = g2(b,a) only when a = b
  // (equal grams anyway); random collisions ~L^2/2^60 per doc.
  private val DupTriPct = 2
  private val TopBiPct = 5
  private val GramMod = 1L << 60
  private val q78 = Q(
    (spark, dir) => {
      val tokH = transform(TextOps.tokens(col("text")), t => Kmv.hash60(t))
      val base = docs(spark, dir)
        .select(col("doc_id"), col("source"), tokH.as("th"))
      def guarded(n: Int, g: Column): Column =
        when(size(col("th")) >= n, g).otherwise(array().cast("array<bigint>"))
      val g2 = guarded(2, transform(
        sequence(lit(1), size(col("th")) - lit(1)),
        i => lit(3L) * element_at(col("th"), i) +
          lit(5L) * element_at(col("th"), i + lit(1))))
      val g3 = guarded(3, transform(
        sequence(lit(1), size(col("th")) - lit(2)),
        i => lit(3L) * pmod(
          lit(3L) * element_at(col("th"), i) +
            lit(5L) * element_at(col("th"), i + lit(1)), lit(GramMod)) +
          lit(5L) * element_at(col("th"), i + lit(2))))
      val triPer = base.select(col("doc_id"), explode(g3).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tri"),
          (sum(col("c")) - count(lit(1))).as("dup_tri"))
      val biPer = base.select(col("doc_id"), explode(g2).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_bi"), max(col("c")).as("top_bi"))
      base.select(col("doc_id"), col("source"))
        .join(triPer, Seq("doc_id"), "left")
        .join(biPer, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          coalesce(col("dup_tri"), lit(0L)).as("dup_tri"),
          coalesce(col("n_bi"), lit(0L)).as("n_bi"),
          coalesce(col("top_bi"), lit(0L)).as("top_bi"))
        .withColumn("keep",
          when(col("dup_tri") * lit(100L) <= lit(DupTriPct.toLong) * col("n_tri") &&
               col("top_bi") * lit(100L) <= lit(TopBiPct.toLong) * col("n_bi"), 1L)
            .otherwise(0L))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("keep")).as("n_kept"),
          sum(col("keep") * col("doc_id")).as("kept_id_sum"),
          sum(col("n_tri")).as("n_tri_sum"),
          sum(col("dup_tri")).as("dup_tri_sum"),
          sum(col("top_bi")).as("top_bi_sum"))
        .select(col("source"), col("n_docs"), col("n_kept"), col("kept_id_sum"),
          col("n_tri_sum"), col("dup_tri_sum"), col("top_bi_sum"),
          (col("dup_tri_sum").cast("double") / col("n_tri_sum")).as("dup_frac"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS ts
                   FROM documents),
      tri AS (
        SELECT doc_id, unnest(list_transform(range(1, len(ts) - 1),
               i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g
        FROM tok WHERE len(ts) >= 3),
      bi AS (
        SELECT doc_id, unnest(list_transform(range(1, len(ts)),
               i -> ts[i] || ' ' || ts[i+1])) AS g
        FROM tok WHERE len(ts) >= 2),
      tc AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY 1, 2),
      bc AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2),
      tm AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tri,
                    CAST(sum(c) - count(*) AS BIGINT) AS dup_tri
             FROM tc GROUP BY 1),
      bm AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bi,
                    CAST(max(c) AS BIGINT) AS top_bi
             FROM bc GROUP BY 1),
      per AS (
        SELECT t.doc_id, t.source,
               coalesce(tm.n_tri, 0) AS n_tri, coalesce(tm.dup_tri, 0) AS dup_tri,
               coalesce(bm.n_bi, 0) AS n_bi, coalesce(bm.top_bi, 0) AS top_bi,
               CASE WHEN coalesce(tm.dup_tri, 0) * 100 <= $DupTriPct * coalesce(tm.n_tri, 0)
                     AND coalesce(bm.top_bi, 0) * 100 <= $TopBiPct * coalesce(bm.n_bi, 0)
                    THEN 1 ELSE 0 END AS keep
        FROM tok t LEFT JOIN tm ON t.doc_id = tm.doc_id
                   LEFT JOIN bm ON t.doc_id = bm.doc_id)
      SELECT source, count(*) AS n_docs,
             CAST(sum(keep) AS BIGINT) AS n_kept,
             CAST(sum(keep * doc_id) AS BIGINT) AS kept_id_sum,
             CAST(sum(n_tri) AS BIGINT) AS n_tri_sum,
             CAST(sum(dup_tri) AS BIGINT) AS dup_tri_sum,
             CAST(sum(top_bi) AS BIGINT) AS top_bi_sum,
             CAST(sum(dup_tri) AS DOUBLE) / sum(n_tri) AS dup_frac
      FROM per GROUP BY 1
      ORDER BY source ASC NULLS FIRST"""))

  // --- E4s: integer TF-IDF retrieval scoring, corpus top-k --------------
  // Rank documents against a fixed query-term set with an ALL-INTEGER
  // tf-idf dot product: score = sum_t tf(t, doc) * idf(t), with
  // idf(t) = len(bin(1 + n_docs div (df(t) + 1))) — the q75 integer-log2
  // discipline (floor(log2 x) + 1 via binary-string length; +1-smoothed
  // so df = 0 and df = n_docs are both safe). Integer scores make the
  // ranking engine-exact — no transcendental idf drift.
  //
  // 100 TB posture: tf(t, doc) is size(filter(tokens, = t)) — map-only,
  // no explode, no per-term shuffle; the df pass is ONE tiny aggregate
  // (a row of counters) broadcast back via crossJoin. The corpus is
  // scanned twice (df, then score) — at 100 TB cache the tf projection
  // or piggyback df on a prior stats pass.
  private val QTerms = Seq("spark", "table", "hash")

  /** One BM25 term contribution as DuckDB SQL — q91's exact arithmetic,
    * shared verbatim with q198 (the persisted-index probe) so the two
    * oracles' scorers cannot drift. Mirrors TextIndex.bm25Term. */
  private def bm25SqlTerm(t: String) =
    s"""((CAST(tf_$t AS DOUBLE) * 2.2) * CAST(length(bin(1 + n_docs // (df_$t + 1))) AS BIGINT))
             / (CAST(tf_$t AS DOUBLE) + (0.3 + 0.9 * (CAST(dl * n_docs AS DOUBLE) / CAST(total_tokens AS DOUBLE))))"""
  private val q80 = Q(
    (spark, dir) => {
      val ts = TextOps.tokens(col("text"))
      def tf(t: String): Column =
        size(filter(ts, x => x === lit(t))).cast("long")
      val base = docs(spark, dir).select(
        (Seq(col("doc_id"), col("source")) ++
          QTerms.map(t => tf(t).as(s"tf_$t"))): _*)
      val dfRow = base.agg(
        count(lit(1)).as("n_docs"),
        QTerms.map(t =>
          sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t")): _*)
      def idf(t: String): Column =
        length(bin(lit(1L) + Sampling.ldiv(col("n_docs"), col(s"df_$t") + lit(1L))))
          .cast("long")
      val score = QTerms.map(t => col(s"tf_$t") * idf(t)).reduce(_ + _).as("score")
      base.crossJoin(broadcast(dfRow))
        .select((Seq(col("doc_id"), col("source")) ++
          QTerms.map(t => col(s"tf_$t")) ++ Seq(score)): _*)
        .orderBy(col("score").desc_nulls_last, col("doc_id"))
        .limit(25)
    },
    Some(s"""
      WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS ts
                   FROM documents),
      tf AS (
        SELECT doc_id, source,
               ${QTerms.map(t => s"CAST(len(list_filter(ts, x -> x = '$t')) AS BIGINT) AS tf_$t").mkString(",\n               ")}
        FROM tok),
      df AS (
        SELECT count(*) AS n_docs,
               ${QTerms.map(t => s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t").mkString(",\n               ")}
        FROM tf)
      SELECT doc_id, source,
             ${QTerms.map(t => s"tf_$t").mkString(", ")},
             ${QTerms.map(t => s"tf_$t * CAST(length(bin(1 + n_docs // (df_$t + 1))) AS BIGINT)").mkString(" +\n             ")} AS score
      FROM tf, df
      ORDER BY score DESC NULLS LAST, doc_id ASC
      LIMIT 25"""))

  // --- E4u: temperature-balanced mixture (τ = 2) ------------------------
  // q77 flattens every stratum to the smallest; q49 applies CONFIGURED
  // rates. This is the third mixing policy a multilingual pipeline
  // needs: resample langs proportional to a TEMPERED share — weight
  // w = floor(sqrt(n_lang)) (τ = 2), expected kept = K·w/Σw — which
  // upsamples tail languages relative to raw frequency without
  // flattening heads entirely (the public XLM-R/mT5 discipline).
  // floor(sqrt(n)) is engine-exact: IEEE sqrt is correctly rounded and
  // both engines floor the same double. Acceptance is one decimal
  // (HUGEINT) compare — Sampling.temperatureAccept — so membership is
  // bit-reproducible on any layout; kept_id_sum/kept_chars checksum it.
  //
  // 100 TB posture: same as q77 — a tiny per-stratum count pass, then
  // one map-only filtered scan with two broadcast joins.
  private val TempK = 200
  private val q83 = Q(
    (spark, dir) => {
      val d = docs(spark, dir)
      val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
        .withColumn("w", floor(sqrt(col("n_lang"))).cast("long"))
      val sums = counts.agg(sum(col("w")).as("sum_w"))
      val h = Sampling.hashBits("temp|", col("doc_id"), 40)
      d.join(broadcast(counts), Seq("lang"))
        .crossJoin(broadcast(sums))
        .select(col("lang"), col("n_lang"), col("w"), col("doc_id"),
          col("n_chars"),
          when(Sampling.temperatureAccept(h, col("n_lang"), col("w"),
            col("sum_w"), lit(TempK.toLong)), 1L).otherwise(0L).as("keep"))
        .groupBy(col("lang"), col("n_lang"), col("w"))
        .agg(sum(col("keep")).as("n_kept"),
          sum(col("keep") * col("doc_id")).as("kept_id_sum"),
          sum(col("keep") * col("n_chars")).as("kept_chars"))
        .select(col("lang"), col("n_lang").as("n_docs"), col("w"),
          col("n_kept"), col("kept_id_sum"), col("kept_chars"),
          (col("n_kept").cast("double") / col("n_lang")).as("effective_rate"))
        .orderBy(col("lang"))
    },
    Some(s"""
      WITH c AS (SELECT lang, count(*) AS n_lang,
                        CAST(floor(sqrt(count(*))) AS BIGINT) AS w
                 FROM documents GROUP BY 1),
      s AS (SELECT CAST(sum(w) AS BIGINT) AS sum_w FROM c),
      b AS (
        SELECT d.lang, c.n_lang, c.w, d.doc_id, d.n_chars,
               CASE WHEN CAST(CAST(('0x' || substr(md5('temp|' ||
                        CAST(d.doc_id AS VARCHAR)), 1, 10)) AS BIGINT) AS HUGEINT)
                        * c.n_lang * s.sum_w
                      < CAST($TempK AS HUGEINT) * c.w * 1099511627776
                    THEN 1 ELSE 0 END AS keep
        FROM documents d JOIN c USING (lang) CROSS JOIN s)
      SELECT lang, n_lang AS n_docs, w,
             CAST(sum(keep) AS BIGINT) AS n_kept,
             CAST(sum(keep * doc_id) AS BIGINT) AS kept_id_sum,
             CAST(sum(keep * n_chars) AS BIGINT) AS kept_chars,
             CAST(sum(keep) AS DOUBLE) / n_lang AS effective_rate
      FROM b GROUP BY 1, 2, 3
      ORDER BY lang ASC NULLS FIRST"""))

  // --- E4v: corpus-mix drift monitoring (integer PSI proxy) -------------
  // Ingestion monitoring: has the SOURCE mix of the current delivery
  // window drifted from the baseline corpus? (The question a 100 TB
  // pipeline asks before a bad crawl batch poisons the mixture.) The
  // classic metric is PSI = Σ (p-q)·ln(p/q) — transcendental, so not
  // engine-exact. This emits the determinism-safe pieces instead:
  // per-source micro-shares (p,q scaled 1e6, floor division), their
  // delta, the q75-style integer log2 ratio proxy
  // lr = len(bin(max(p,q) div max(min(p,q),1))) = floor(log2 ratio)+1,
  // and the integer drift term |p-q|·lr — a score monotone in the PSI
  // bucket term, bit-identical on both engines. Raw counts ship too,
  // so true PSI is one offline expression away.
  //
  // 100 TB posture: two column-pruned count aggregates (source is
  // low-cardinality → tiny) + one broadcast one-row join; the corpus
  // scans once per slice, nothing else moves.
  private val q84 = Q(
    (spark, dir) => {
      val d = docs(spark, dir)
      val base = d.filter(col("doc_id") % 2 === 0)
        .groupBy(col("source")).agg(count(lit(1)).as("n_base"))
      val cur = d.filter(col("doc_id") % 2 === 1)
        .groupBy(col("source")).agg(count(lit(1)).as("n_cur"))
      val tot = base.agg(sum(col("n_base")).as("t_base"))
        .crossJoin(cur.agg(sum(col("n_cur")).as("t_cur")))
      val joined = base.join(cur, Seq("source"), "full")
        .select(col("source"),
          coalesce(col("n_base"), lit(0L)).as("n_base"),
          coalesce(col("n_cur"), lit(0L)).as("n_cur"))
        .crossJoin(broadcast(tot))
      val p = Sampling.ldiv(col("n_base") * lit(1000000L), col("t_base"))
      val q = Sampling.ldiv(col("n_cur") * lit(1000000L), col("t_cur"))
      val lr = length(bin(Sampling.ldiv(greatest(p, q),
        greatest(least(p, q), lit(1L))))).cast("long")
      joined
        .select(col("source"), col("n_base"), col("n_cur"),
          p.as("p_micro"), q.as("q_micro"),
          (q - p).as("delta_micro"), lr.as("lr_proxy"),
          (abs(q - p) * lr).as("drift_term"))
        .orderBy(col("source"))
    },
    Some("""
      WITH base AS (SELECT source, count(*) AS n_base FROM documents
                    WHERE doc_id % 2 = 0 GROUP BY 1),
      cur AS (SELECT source, count(*) AS n_cur FROM documents
              WHERE doc_id % 2 = 1 GROUP BY 1),
      tot AS (SELECT (SELECT CAST(sum(n_base) AS BIGINT) FROM base) AS t_base,
                     (SELECT CAST(sum(n_cur) AS BIGINT) FROM cur) AS t_cur),
      j AS (
        SELECT COALESCE(b.source, c.source) AS source,
               COALESCE(b.n_base, 0) AS n_base,
               COALESCE(c.n_cur, 0) AS n_cur, t.t_base, t.t_cur
        FROM base b FULL OUTER JOIN cur c ON b.source = c.source
        CROSS JOIN tot t),
      m AS (
        SELECT source, n_base, n_cur,
               (n_base * 1000000) // t_base AS p_micro,
               (n_cur * 1000000) // t_cur AS q_micro
        FROM j)
      SELECT source, n_base, n_cur, p_micro, q_micro,
             q_micro - p_micro AS delta_micro,
             CAST(length(bin(greatest(p_micro, q_micro) //
                    greatest(least(p_micro, q_micro), 1))) AS BIGINT) AS lr_proxy,
             abs(q_micro - p_micro) *
               CAST(length(bin(greatest(p_micro, q_micro) //
                      greatest(least(p_micro, q_micro), 1))) AS BIGINT) AS drift_term
      FROM m
      ORDER BY source ASC NULLS FIRST"""))

  // --- E4u: bigram conditional-LM perplexity proxy ----------------------
  // q75 scores docs under a UNIGRAM corpus LM; the standard CCNet filter
  // uses a real language model, whose first-order form is the bigram
  // conditional: surprisal(w_{i-1} w_i) = -log2 p(w_i | w_{i-1}) =
  // log2(ctx(w_{i-1}) / cnt(w_{i-1} w_i)), replayed exactly as
  // length(bin(ctx div cnt)) — the same integer-log2 proxy as q75, no
  // transcendentals. Context counts are derived from the SAME bigram
  // rows (ctx(p) = Σ_g cnt(p,g)), so conditional probabilities sum to 1
  // by construction. Docs ranked by mean conditional surprisal: high =
  // locally incoherent word sequences even when each word is common —
  // the signal unigram surprisal cannot see.
  //
  // 100 TB posture: ONE corpus-sized shuffle — the per-(doc, bigram)
  // pre-aggregate P (map-side combinable, keyed by corpus-cardinality
  // doc_id + gram hash), materialized ONCE (localCheckpoint) and fanned
  // out three ways: bigram counts and context counts are vocabulary²-
  // and vocabulary-sized aggregates OF P, and the scoring join moves
  // only the vocabulary²-sized surprisal table (AQE broadcasts it when
  // it fits — deliberately no hint). Grams are the q78 arithmetic
  // 60-bit keys: one md5 per token, two multiply-adds per bigram.
  private val q89 = Q(
    (spark, dir) => {
      val tokH = transform(TextOps.tokens(col("text")), t => Kmv.hash60(t))
      val base = docs(spark, dir)
        .select(col("doc_id"), col("source"), tokH.as("th"))
      val bg = when(size(col("th")) >= 2, transform(
          sequence(lit(1), size(col("th")) - lit(1)),
          i => struct(element_at(col("th"), i).as("p"),
            (lit(3L) * element_at(col("th"), i) +
              lit(5L) * element_at(col("th"), i + lit(1))).as("g"))))
        .otherwise(array().cast("array<struct<p:bigint,g:bigint>>"))
      val pre = base.select(col("doc_id"), col("source"), explode(bg).as("b"))
        .select(col("doc_id"), col("source"),
          col("b.p").as("p"), col("b.g").as("g"))
        .groupBy(col("doc_id"), col("source"), col("p"), col("g"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // fanned out 3x below: materialize once
      val cnt2 = pre.groupBy(col("p"), col("g")).agg(sum(col("c")).as("cg"))
      val ctx = pre.groupBy(col("p")).agg(sum(col("c")).as("cp"))
      val sur = cnt2.join(ctx, Seq("p"))
        .select(col("g"),
          length(bin(Sampling.ldiv(col("cp"), col("cg"))))
            .cast("long").as("sur"))
      pre.join(sur, Seq("g"))
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(col("c")).as("n_bigrams"),
          sum(col("c") * col("sur")).as("sum_surprisal"))
        .select(col("doc_id"), col("source"), col("n_bigrams"),
          col("sum_surprisal"),
          (col("sum_surprisal").cast("double") / col("n_bigrams"))
            .as("mean_surprisal"))
        .orderBy(col("mean_surprisal").desc_nulls_last, col("doc_id"))
        .limit(25)
    },
    Some("""
      WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS ts
                   FROM documents),
      bi AS (
        SELECT doc_id, source, unnest(list_transform(range(1, len(ts)),
               i -> ts[i] || ' ' || ts[i+1])) AS g
        FROM tok WHERE len(ts) >= 2),
      p AS (SELECT doc_id, source, split_part(g, ' ', 1) AS p, g,
                   CAST(count(*) AS BIGINT) AS c
            FROM bi GROUP BY 1, 2, 3, 4),
      cnt2 AS (SELECT p, g, CAST(sum(c) AS BIGINT) AS cg FROM p GROUP BY 1, 2),
      ctx AS (SELECT p, CAST(sum(c) AS BIGINT) AS cp FROM p GROUP BY 1),
      sur AS (SELECT g, CAST(length(bin(cp // cg)) AS BIGINT) AS sur
              FROM cnt2 JOIN ctx USING (p)),
      per AS (SELECT doc_id, source, CAST(sum(c) AS BIGINT) AS n_bigrams,
                     CAST(sum(c * sur) AS BIGINT) AS sum_surprisal
              FROM p JOIN sur USING (g) GROUP BY 1, 2)
      SELECT doc_id, source, n_bigrams, sum_surprisal,
             CAST(sum_surprisal AS DOUBLE) / n_bigrams AS mean_surprisal
      FROM per
      ORDER BY mean_surprisal DESC NULLS LAST, doc_id ASC
      LIMIT 25"""))

  // --- E4: BM25 retrieval scoring, corpus top-k --------------------------
  // The standard-ranking sibling of q80's pure tf-idf dot product:
  // score = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)) with
  // the public Robertson/Okapi constants k1=1.2, b=0.75 (folded to
  // literals 2.2 / 0.3 / 0.9). idf stays the q75/q80 INTEGER log2
  // discipline; the length normalization dl/avgdl is computed as ONE
  // integer product and ONE double division (dl*n_docs / total_tokens),
  // and every double op is written with pinned association in both
  // engines — IEEE doubles are deterministic given operand order, so
  // the score hash-matches DuckDB bit for bit (per-row arithmetic over
  // a FIXED literal term list; no aggregation-order exposure).
  //
  // 100 TB posture: identical to q80 — tf/dl are map-only array ops, the
  // corpus-level (n_docs, total_tokens, df_t) row is ONE tiny aggregate
  // broadcast back; TakeOrderedAndProject keeps the top-25.
  private val q91 = Q(
    (spark, dir) => {
      val ts = TextOps.tokens(col("text"))
      def tf(t: String): Column =
        size(filter(ts, x => x === lit(t))).cast("long")
      val base = docs(spark, dir).select(
        (Seq(col("doc_id"), col("source"), size(ts).cast("long").as("dl")) ++
          QTerms.map(t => tf(t).as(s"tf_$t"))): _*)
      val stats = base.agg(
        count(lit(1)).as("n_docs"),
        (sum(col("dl")).as("total_tokens") +:
          QTerms.map(t =>
            sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))): _*)
      // scorer shared with the q198 persisted-index probe (identical
      // operand order = identical IEEE doubles on both paths)
      val score = QTerms.map(graft.operators.TextIndex.bm25Term)
        .reduce(_ + _).as("score")
      base.crossJoin(broadcast(stats))
        .select(col("doc_id"), col("source"), col("dl"), score)
        .orderBy(col("score").desc_nulls_last, col("doc_id"))
        .limit(25)
    },
    Some {
      def term(t: String) = bm25SqlTerm(t)
      s"""
      WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS ts
                   FROM documents),
      tf AS (
        SELECT doc_id, source, CAST(len(ts) AS BIGINT) AS dl,
               ${QTerms.map(t => s"CAST(len(list_filter(ts, x -> x = '$t')) AS BIGINT) AS tf_$t").mkString(",\n               ")}
        FROM tok),
      st AS (
        SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_tokens,
               ${QTerms.map(t => s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t").mkString(",\n               ")}
        FROM tf)
      SELECT doc_id, source, dl,
             ((${term(QTerms(0))}
              + ${term(QTerms(1))})
              + ${term(QTerms(2))}) AS score
      FROM tf, st
      ORDER BY score DESC NULLS LAST, doc_id ASC NULLS FIRST
      LIMIT 25"""
    })

  // --- q198: persisted BM25 postings probe (index READ, not rescan) ------
  // The lexical member of the round-8 serving-index family (q196 IVF,
  // q197 IVF-PQ): operators/TextIndex tokenizes the corpus ONCE and
  // writes postings HIVE-PARTITIONED by term-hash bucket with doc
  // length/source denormalized into the row (impact-file layout) + a
  // one-row stats table; the probe answers q91's exact query by
  // reading ONLY the queried terms' buckets — directory-pruned (the
  // deliberate layout choice over bucketBy: Spark's autoBucketedScan
  // rule drops bucket pruning when nothing downstream keys on the
  // bucket column, which is a probe's shape — measured; partition
  // pruning has no such coupling), no corpus scan anywhere in the
  // probe plan (TextIndexSpec asserts both). Scoring is q91's
  // scorer to the bit (shared TextIndex.bm25Term; df(t) = pruned list
  // length = q91's sum(tf_t > 0) by construction).
  //
  // Matched-docs semantics, the one deliberate delta from q91: a
  // probe scores only documents containing ≥1 query term (real
  // retrieval returns fewer than k when fewer match; it does not pad
  // with zero-score rows) — so the oracle is q91's SQL plus the
  // matched-docs predicate, and on any corpus where ≥25 docs match,
  // the two queries' answers coincide row for row.
  //
  // 100 TB posture: build cost (one tokenize + one bucketed write)
  // amortizes over every query q91 would otherwise pay a corpus scan
  // for; probe reads |query terms| / |vocabulary| of the index. Bench
  // time includes the build+write (honest one-shot cost).

  private def bm25ProbeOnly(spark: SparkSession, dir: String): DataFrame = {
    val (name, idxDir) = Queries.indexHandle("bm25", dir)
    graft.operators.TextIndex.probe(spark, name, idxDir, QTerms, topk = 25)
  }

  private val q198 = Q(
    (spark, dir) => {
      val (name, idxDir) = Queries.indexHandle("bm25", dir)
      graft.operators.TextIndex.build(spark,
        docs(spark, dir).select(col("doc_id"), col("source"), col("text")),
        name, idxDir)
      // probe discovers geometry from the persisted meta sidecar
      bm25ProbeOnly(spark, dir)
    },
    Some {
      s"""
      WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS ts
                   FROM documents),
      tf AS (
        SELECT doc_id, source, CAST(len(ts) AS BIGINT) AS dl,
               ${QTerms.map(t => s"CAST(len(list_filter(ts, x -> x = '$t')) AS BIGINT) AS tf_$t").mkString(",\n               ")}
        FROM tok),
      st AS (
        SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_tokens,
               ${QTerms.map(t => s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t").mkString(",\n               ")}
        FROM tf)
      SELECT doc_id, source, dl,
             ((${bm25SqlTerm(QTerms(0))}
              + ${bm25SqlTerm(QTerms(1))})
              + ${bm25SqlTerm(QTerms(2))}) AS score
      FROM tf, st
      WHERE ${QTerms.map(t => s"tf_$t > 0").mkString(" OR ")}
      ORDER BY score DESC NULLS LAST, doc_id ASC NULLS FIRST
      LIMIT 25"""
    })

  // --- q218: ERASURE from the BM25 index — the HARD deletion case --------
  // VERDICT r12 #1's stated hard case: unlike the row-suppression
  // families (q217 signatures, q220 cells, q219 band postings), BM25's
  // score depends on CROSS-SEGMENT statistics — n_docs and
  // total_tokens feed every document's length normalization and df(t)
  // feeds every idf — so deleting a document must shift every OTHER
  // document's score exactly as a fresh build without it would.
  // TextIndex.deleteDocs records (doc_id, dl) tombstones (the length
  // fetched from the format-2 doclens table at delete time); the probe
  // subtracts (count, Σdl) from the segment-summed stats and df(t)
  // self-corrects because it is COMPUTED from the pruned lists after
  // the tombstone anti-join, never stored.
  //
  // ORACLE = the deletion identity at full strength: q198's SQL over
  // `documents WHERE doc_id % 10 <> 2` — DuckDB recomputes n_docs,
  // total_tokens, and every df over the remaining corpus from scratch,
  // so ANY statistics drift (a stale df, an unsubtracted dl) flips
  // score doubles corpus-wide, not just the deleted rows.

  private def bm25DeleteProbeOnly(spark: SparkSession, dir: String): DataFrame = {
    val (name, idxDir) = Queries.indexHandle("bm25d", dir)
    graft.operators.TextIndex.probe(spark, name, idxDir, QTerms, topk = 25)
  }

  private val q218 = Q(
    (spark, dir) => {
      val (name, idxDir) = Queries.indexHandle("bm25d", dir)
      graft.pipeline.TierCommit.breakLock(spark, idxDir)
      val d = docs(spark, dir)
      graft.operators.TextIndex.build(spark,
        d.select(col("doc_id"), col("source"), col("text")), name, idxDir)
      // the erasure batch: documents with doc_id ≡ 2 (mod 10)
      val delIds = d.filter(pmod(col("doc_id"), lit(10)) === 2)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      graft.operators.TextIndex.deleteDocs(spark, delIds, name, idxDir)
      bm25DeleteProbeOnly(spark, dir)
    },
    Some {
      s"""
      WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS ts
                   FROM documents WHERE doc_id % 10 <> 2),
      tf AS (
        SELECT doc_id, source, CAST(len(ts) AS BIGINT) AS dl,
               ${QTerms.map(t => s"CAST(len(list_filter(ts, x -> x = '$t')) AS BIGINT) AS tf_$t").mkString(",\n               ")}
        FROM tok),
      st AS (
        SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_tokens,
               ${QTerms.map(t => s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t").mkString(",\n               ")}
        FROM tf)
      SELECT doc_id, source, dl,
             ((${bm25SqlTerm(QTerms(0))}
              + ${bm25SqlTerm(QTerms(1))})
              + ${bm25SqlTerm(QTerms(2))}) AS score
      FROM tf, st
      WHERE ${QTerms.map(t => s"tf_$t > 0").mkString(" OR ")}
      ORDER BY score DESC NULLS LAST, doc_id ASC NULLS FIRST
      LIMIT 25"""
    })

  // --- q221: WITHIN-POPULATION filtered BM25 from the persisted index ----
  // The q216 passenger discipline applied to lexical retrieval
  // (VERDICT r12 #8): `source` is already denormalized into every
  // posting row (the impact-file layout), so TextIndex.probeWhere
  // pushes the population predicate into the directory-pruned posting
  // read AND computes the population's own statistics — n_docs /
  // total_tokens from the doclens rows matching the predicate (one
  // doc-grain aggregate, never a corpus scan), df(t) from the filtered
  // pruned lists. Semantics, stated explicitly: WITHIN-POPULATION IDF
  // — the result is exactly a fresh BM25 index built over the
  // subpopulation ("search only my wiki"); global-IDF-then-restrict is
  // the other defensible reading and is q198 + a post-filter (the
  // q215 trade). The ORACLE is that identity verbatim: q198's SQL over
  // `documents WHERE source IN (...)`.
  private val Bm25PopSources = Seq("src0", "src1", "src2", "src3", "src4")

  private def bm25FilteredProbeOnly(spark: SparkSession, dir: String): DataFrame = {
    val (name, idxDir) = Queries.indexHandle("bm25f", dir)
    graft.operators.TextIndex.probeWhere(spark, name, idxDir, QTerms,
      topk = 25, col("source").isin(Bm25PopSources: _*))
  }

  private val q221 = Q(
    (spark, dir) => {
      val (name, idxDir) = Queries.indexHandle("bm25f", dir)
      graft.pipeline.TierCommit.breakLock(spark, idxDir)
      graft.operators.TextIndex.build(spark,
        docs(spark, dir).select(col("doc_id"), col("source"), col("text")),
        name, idxDir)
      bm25FilteredProbeOnly(spark, dir)
    },
    Some {
      s"""
      WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS ts
                   FROM documents
                   WHERE source IN (${Bm25PopSources.map(s => s"'$s'").mkString(", ")})),
      tf AS (
        SELECT doc_id, source, CAST(len(ts) AS BIGINT) AS dl,
               ${QTerms.map(t => s"CAST(len(list_filter(ts, x -> x = '$t')) AS BIGINT) AS tf_$t").mkString(",\n               ")}
        FROM tok),
      st AS (
        SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_tokens,
               ${QTerms.map(t => s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t").mkString(",\n               ")}
        FROM tf)
      SELECT doc_id, source, dl,
             ((${bm25SqlTerm(QTerms(0))}
              + ${bm25SqlTerm(QTerms(1))})
              + ${bm25SqlTerm(QTerms(2))}) AS score
      FROM tf, st
      WHERE ${QTerms.map(t => s"tf_$t > 0").mkString(" OR ")}
      ORDER BY score DESC NULLS LAST, doc_id ASC NULLS FIRST
      LIMIT 25"""
    })

  // --- E4: balanced shard assignment (serpentine by size rank) -----------
  // Training-prep step after packing/mixing: assign every document to
  // one of S output shards so per-shard token totals are balanced —
  // the serpentine (boustrophedon) rule over the GLOBAL size rank:
  // rank docs by n_tokens DESC (doc_id tiebreak), walk shards
  // 0..S-1, S-1..0, ... so each "pass" gives every shard one doc and
  // alternating direction cancels the within-pass size gradient.
  // Deterministic, data-derived, and — unlike greedy LPT bin packing —
  // expressible as pure rank arithmetic, so it distributes.
  //
  // WHY NOT the q143 consistent-hash ring (VERDICT r7 #7, adjudicated
  // as a design note): the two assignment kernels serve different
  // masters and are NOT interchangeable. This one optimizes per-shard
  // token BALANCE for a one-shot training-data write — it must see
  // every document's size (the global rank) and re-deals all keys on
  // any change, which is fine because the output is immutable once
  // written. The ring optimizes key STABILITY under topology change
  // for a long-lived mutable store — it is size-oblivious (vnode
  // hashing balances only in expectation, ±O(1/sqrt(V)) skew) and
  // would surrender exactly the token balance this operator exists to
  // provide. A pipeline uses both, at different stages: serpentine at
  // corpus-write time, the ring for serving-tier placement. Sharing
  // one kernel would pessimize each for the other's objective.
  //
  // Scale shape: the global rank comes from operators/Ranking
  // (range-exchange + broadcast offsets — the q63 discipline), NOT a
  // single-partition window; everything after the rank is map-side
  // arithmetic plus one S-row aggregate. The oracle replays the same
  // rank with a plain window (DuckDB is single-node; the point of the
  // check is the ASSIGNMENT, which must be bit-identical).
  private val Shards = 8
  private val q92 = Q(
    (spark, dir) => {
      // coalesce to 0 BEFORE ranking: a null text would otherwise sort
      // NULLS FIRST in Spark's (neg_nt ASC) but NULLS LAST in the
      // oracle's (n_tokens DESC), silently breaking assignment parity
      val d = docs(spark, dir).select(col("doc_id"),
        coalesce(size(TextOps.tokens(col("text"))).cast("long"), lit(0L))
          .as("n_tokens"))
        .withColumn("neg_nt", -col("n_tokens"))
        .withColumn("g", lit(0))
      val ranked = operators.Ranking.rankInGroup(d, "g", Seq("neg_nt", "doc_id"))
      val s = lit(Shards.toLong)
      val pass = Sampling.ldiv(col("rk") - 1, s)
      val pos = pmod(col("rk") - 1, s)
      ranked
        .withColumn("shard",
          when(pmod(pass, lit(2L)) === 0, pos).otherwise(s - lit(1L) - pos))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          max(col("n_tokens")).as("max_doc_tokens"),
          min(col("n_tokens")).as("min_doc_tokens"))
        .orderBy(col("shard").asc_nulls_first)
    },
    Some(s"""
      WITH d AS (SELECT doc_id,
               CAST(COALESCE(len(string_split(text, ' ')), 0) AS BIGINT)
                 AS n_tokens
             FROM documents),
      r AS (SELECT doc_id, n_tokens,
            row_number() OVER (ORDER BY n_tokens DESC NULLS LAST,
                               doc_id ASC NULLS FIRST) AS rk
            FROM d),
      s AS (SELECT n_tokens,
            CASE WHEN ((rk - 1) // $Shards) % 2 = 0 THEN (rk - 1) % $Shards
                 ELSE ${Shards - 1} - ((rk - 1) % $Shards) END AS shard
            FROM r)
      SELECT shard, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             max(n_tokens) AS max_doc_tokens, min(n_tokens) AS min_doc_tokens
      FROM s GROUP BY 1 ORDER BY shard ASC NULLS FIRST"""))

  // --- E3/E4: hybrid retrieval — reciprocal rank fusion ------------------
  // The modern search stack in one operator: a LEXICAL ranking (q80's
  // all-integer tf-idf over the fixed term set) and a VECTOR ranking
  // (exact quantized-integer dot against one query embedding, the q25
  // discipline) fused by RRF: score = Σ 1/(K + rank), K = 60 (the
  // published constant). Both per-list scores are exact integers, so
  // the ranks are engine-identical; the only doubles are the two
  // 1/(60+r) terms added in pinned order.
  //
  // 100 TB posture: each side is a corpus map pass + a top-50
  // TakeOrderedAndProject; the rank windows run over the two FIXED
  // 50-row lists (constant, not data-scaled), and the fusion is a
  // 50v50 full outer join. The corpus is never shuffled; doc_id ==
  // vec_id joins the two modalities only inside the bounded lists.
  private val RrfK = 60
  private val RrfTopN = 50
  private val q104 = Q(
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ts = TextOps.tokens(col("text"))
      def tf(t: String): Column =
        size(filter(ts, x => x === lit(t))).cast("long")
      val base = docs(spark, dir).select(
        (col("doc_id") +: QTerms.map(t => tf(t).as(s"tf_$t"))): _*)
      val stats = base.agg(count(lit(1)).as("n_docs"),
        QTerms.map(t =>
          sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t")): _*)
      def idf(t: String): Column =
        length(bin(lit(1L) + Sampling.ldiv(col("n_docs"), col(s"df_$t") + lit(1L))))
          .cast("long")
      val lexScore = QTerms.map(t => col(s"tf_$t") * idf(t)).reduce(_ + _)
      val lexTop = base.crossJoin(broadcast(stats))
        .select(col("doc_id"), lexScore.as("s_lex"))
        .orderBy(col("s_lex").desc_nulls_last, col("doc_id"))
        .limit(RrfTopN)
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id"), VectorOps.quantized(col("embedding")).as("q"))
      val qv = e.filter(col("vec_id") === 7L).select(col("q").as("qq"))
      val vecTop = e.crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          VectorOps.qdot(col("q"), col("qq")).as("s_vec"))
        .orderBy(col("s_vec").desc_nulls_last, col("doc_id"))
        .limit(RrfTopN)
      // rank windows over the two FIXED 50-row lists (constant size)
      val wl = Window.orderBy(col("s_lex").desc_nulls_last, col("doc_id"))
      val wv = Window.orderBy(col("s_vec").desc_nulls_last, col("doc_id"))
      val rl = lexTop.withColumn("lex_rank", row_number().over(wl))
        .select(col("doc_id"), col("lex_rank"))
      val rv = vecTop.withColumn("vec_rank", row_number().over(wv))
        .select(col("doc_id"), col("vec_rank"))
      rl.join(rv, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
          (when(col("lex_rank").isNotNull,
            lit(1.0) / (lit(RrfK).cast("double") + col("lex_rank").cast("double")))
            .otherwise(lit(0.0)) +
           when(col("vec_rank").isNotNull,
             lit(1.0) / (lit(RrfK).cast("double") + col("vec_rank").cast("double")))
             .otherwise(lit(0.0))).as("rrf"))
        .orderBy(col("rrf").desc_nulls_last, col("doc_id"))
        .limit(15)
    },
    Some(s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      tf AS (
        SELECT doc_id,
               ${QTerms.map(t => s"CAST(len(list_filter(ts, x -> x = '$t')) AS BIGINT) AS tf_$t").mkString(",\n               ")}
        FROM tok),
      st AS (
        SELECT count(*) AS n_docs,
               ${QTerms.map(t => s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t").mkString(",\n               ")}
        FROM tf),
      lex AS (
        SELECT doc_id,
               (${QTerms.map(t => s"tf_$t * CAST(length(bin(1 + n_docs // (df_$t + 1))) AS BIGINT)").mkString("\n                + ")}) AS s_lex
        FROM tf, st
        ORDER BY s_lex DESC NULLS LAST, doc_id ASC NULLS FIRST LIMIT $RrfTopN),
      rl AS (SELECT doc_id, CAST(row_number() OVER (
               ORDER BY s_lex DESC NULLS LAST, doc_id ASC NULLS FIRST) AS INTEGER)
               AS lex_rank FROM lex),
      e AS (
        SELECT vec_id,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS v,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings),
      qv AS (SELECT i, v FROM e WHERE vec_id = 7),
      vec AS (
        SELECT e.vec_id AS doc_id, CAST(sum(e.v * qv.v) AS BIGINT) AS s_vec
        FROM e JOIN qv ON qv.i = e.i
        GROUP BY 1
        ORDER BY s_vec DESC NULLS LAST, doc_id ASC NULLS FIRST LIMIT $RrfTopN),
      rv AS (SELECT doc_id, CAST(row_number() OVER (
               ORDER BY s_vec DESC NULLS LAST, doc_id ASC NULLS FIRST) AS INTEGER)
               AS vec_rank FROM vec)
      SELECT COALESCE(rl.doc_id, rv.doc_id) AS doc_id, rl.lex_rank, rv.vec_rank,
             (CASE WHEN rl.lex_rank IS NOT NULL
                   THEN 1.0 / (CAST($RrfK AS DOUBLE) + CAST(rl.lex_rank AS DOUBLE))
                   ELSE 0.0 END
              + CASE WHEN rv.vec_rank IS NOT NULL
                     THEN 1.0 / (CAST($RrfK AS DOUBLE) + CAST(rv.vec_rank AS DOUBLE))
                     ELSE 0.0 END) AS rrf
      FROM rl FULL OUTER JOIN rv ON rl.doc_id = rv.doc_id
      ORDER BY rrf DESC NULLS LAST, doc_id ASC NULLS FIRST
      LIMIT 15"""))

  // --- q132: robust per-source length outliers (median/MAD fence) -------
  // The curation filter that survives heavy-tailed corpora: mean/stddev
  // fences (q60's profile moments) are dragged by the very outliers they
  // are supposed to catch, so production length filters use the MEDIAN
  // and the MAD (median absolute deviation) instead. Everything here is
  // computed on the (source, n_chars) HISTOGRAM: one aggregate pass over
  // the corpus, then two window cumsums and two conditional-min rank
  // picks (the q122 bounded-domain discipline — the deviation domain is
  // bounded by the length domain) over |sources| x |distinct lengths|
  // rows, independent of document count. Both medians and the fence stay
  // in scaled-integer space (med_x2 = 2 x median, mad_x4 = 4 x MAD, so
  // even-count half-values are exact integers), and the 3-MAD rule
  // |x - med| > 3 x MAD is compared as 2*|2x - med_x2| > 3*mad_x4 — no
  // doubles anywhere, so Spark and the oracle agree bit-for-bit. At
  // 100 TB the only corpus-sized work is the first map-side-combined
  // histogram aggregate; med/mad are broadcast back onto the histogram,
  // never onto the rows.
  private val q132 = Q(
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val h = docs(spark, dir)
        .groupBy(col("source"), col("n_chars").cast("long").as("x"))
        .agg(count(lit(1)).as("c"))
      def ranked(hist: DataFrame, v: String) = {
        val wc = Window.partitionBy(col("source")).orderBy(col(v).asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        hist.withColumn("cum", sum(col("c")).over(wc))
          .withColumn("n", sum(col("c")).over(Window.partitionBy(col("source"))))
      }
      // 2 x median = value at rank ceil(n/2) + value at rank floor(n/2)+1
      // (equal ranks when n is odd, so the middle value counts twice).
      def med2(hist: DataFrame, v: String, out: String) =
        ranked(hist, v).groupBy(col("source"), col("n"))
          .agg((min(when(col("cum") >= expr("(n + 1) div 2"), col(v)))
            + min(when(col("cum") >= expr("n div 2 + 1"), col(v)))).as(out))
      val med = med2(h, "x", "med_x2")
        .select(col("source"), col("n").as("n_docs"), col("med_x2"))
      val dev = h.join(broadcast(med.select(col("source"), col("med_x2"))), "source")
        .groupBy(col("source"), abs(lit(2) * col("x") - col("med_x2")).as("d2"))
        .agg(sum(col("c")).as("c"))
      val mad = med2(dev, "d2", "mad_x4").select(col("source"), col("mad_x4"))
      med.join(broadcast(mad), "source").join(dev, "source")
        .groupBy(col("source"), col("n_docs"), col("med_x2"), col("mad_x4"))
        .agg(coalesce(sum(when(lit(2) * col("d2") > lit(3) * col("mad_x4"),
            col("c"))), lit(0L)).cast("long").as("n_outliers"))
        .orderBy(col("source").asc)
    },
    Some("""
      WITH h AS (
        SELECT source, CAST(n_chars AS BIGINT) AS x, count(*) AS c
        FROM documents GROUP BY 1, 2),
      cum AS (
        SELECT source, x, c,
               sum(c) OVER (PARTITION BY source ORDER BY x ASC
                            ROWS UNBOUNDED PRECEDING) AS cum,
               sum(c) OVER (PARTITION BY source) AS n
        FROM h),
      med AS (
        SELECT source, CAST(n AS BIGINT) AS n_docs,
               min(CASE WHEN cum >= (n + 1) // 2 THEN x END)
               + min(CASE WHEN cum >= n // 2 + 1 THEN x END) AS med_x2
        FROM cum GROUP BY source, n),
      dev AS (
        SELECT h.source, abs(2 * h.x - m.med_x2) AS d2,
               CAST(sum(h.c) AS BIGINT) AS c
        FROM h JOIN med m ON h.source = m.source GROUP BY 1, 2),
      dcum AS (
        SELECT source, d2, c,
               sum(c) OVER (PARTITION BY source ORDER BY d2 ASC
                            ROWS UNBOUNDED PRECEDING) AS cum,
               sum(c) OVER (PARTITION BY source) AS n
        FROM dev),
      mad AS (
        SELECT source,
               min(CASE WHEN cum >= (n + 1) // 2 THEN d2 END)
               + min(CASE WHEN cum >= n // 2 + 1 THEN d2 END) AS mad_x4
        FROM dcum GROUP BY source, n)
      SELECT m.source, m.n_docs, m.med_x2, a.mad_x4,
             CAST(COALESCE(sum(CASE WHEN 2 * d.d2 > 3 * a.mad_x4
                                    THEN d.c END), 0) AS BIGINT) AS n_outliers
      FROM med m JOIN mad a ON m.source = a.source
      JOIN dev d ON d.source = m.source
      GROUP BY 1, 2, 3, 4 ORDER BY m.source ASC"""))

  // --- q134: next-merge candidates (one BPE training round) -------------
  // "What would the tokenizer learn next?" — run the fixture BPE encoder
  // over the corpus vocabulary, then count ADJACENT SYMBOL PAIRS of the
  // fixpoint segmentations weighted by corpus word frequency. That is
  // exactly one round of BPE training (Sennrich et al. 2016 §3): the
  // top pair is the merge a tokenizer trained on this corpus would add
  // next. By the fixpoint property no emitted pair is already in the
  // merge table — the candidate set is automatically disjoint from the
  // learned vocabulary.
  //
  // Scale shape: the encoder runs over DISTINCT words only (vocabulary
  // ≪ corpus; the q24 discipline), as a codegen'd native expression —
  // pair explosion is map-side (sum |segments| rows per word, bounded
  // by word length), and the only corpus-sized work is the word-count
  // aggregate. n_occ sums freq × in-word occurrences (training counts
  // occurrences, not words); n_words is the distinct-word support.
  private val q134 = Q(
    (spark, dir) => {
      val words = docs(spark, dir)
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val pairs = words
        .withColumn("s", functions.Bpe.segmentsCol(col("w")))
        .filter(size(col("s")) >= 2)
        .select(col("w"), col("c"), explode(expr(
          """transform(sequence(1, size(s) - 1),
             i -> struct(element_at(s, i) AS lhs, element_at(s, i + 1) AS rhs))"""))
          .as("pr"))
        .select(col("w"), col("c"), col("pr.lhs"), col("pr.rhs"))
      pairs.groupBy(col("lhs"), col("rhs"))
        .agg(sum(col("c")).as("n_occ"),
          count_distinct(col("w")).as("n_words"))
        .orderBy(col("n_occ").desc, col("lhs").asc, col("rhs").asc)
        .limit(12)
    },
    Some(s"""
      WITH RECURSIVE words AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      wc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM words GROUP BY 1),
      ${functions.Bpe.oracleSegCte("words")},
      pairs AS (
        SELECT w, s[i] AS lhs, s[i + 1] AS rhs
        FROM (SELECT w, s, unnest(range(1, len(s))) AS i
              FROM bpe_seg WHERE len(s) >= 2))
      SELECT p.lhs, p.rhs, CAST(sum(wc.c) AS BIGINT) AS n_occ,
             CAST(count(DISTINCT p.w) AS BIGINT) AS n_words
      FROM pairs p JOIN wc ON p.w = wc.w
      GROUP BY 1, 2
      ORDER BY n_occ DESC NULLS LAST, lhs ASC NULLS FIRST,
               rhs ASC NULLS FIRST
      LIMIT 12"""))

  // --- q135: deterministic train/val/test split ---------------------------
  // The split every training pipeline needs, done the way that stays
  // STABLE as the corpus grows: each document's assignment is a pure
  // hash threshold (bucket = md5-hash % 1000; <850 train, <925 val,
  // else test), so adding documents never reassigns existing ones —
  // unlike rank/percentile splits, which reshuffle the boundary on
  // every ingest. The hash is salted ('split|' prefix) so assignment is
  // independent of any other hash use of doc_id in the pipeline.
  // Reported per (source, split): doc/char totals plus the realized
  // fraction in ppm — integer-exact, so the oracle comparison is
  // bit-for-bit. Everything is one map pass + one aggregate; no joins,
  // no windows. frac_ppm uses the per-source total via a window over
  // |sources|x3 aggregated rows, not over documents.
  private val q135 = Q(
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val bucket = pmod(Kmv.hash60(concat(lit("split|"), col("doc_id"))),
        lit(1000L))
      docs(spark, dir)
        .select(col("source"), col("n_chars").cast("long").as("nc"),
          when(bucket < 850, lit("train"))
            .when(bucket < 925, lit("val"))
            .otherwise(lit("test")).as("split"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("n_chars"))
        .withColumn("frac_ppm", Sampling.ldiv(col("n_docs") * lit(1000000L),
          sum(col("n_docs")).over(Window.partitionBy(col("source")))))
        .orderBy(col("source").asc, col("split").asc)
    },
    Some("""
      WITH d AS (
        SELECT source, CAST(n_chars AS BIGINT) AS nc,
               CASE WHEN b < 850 THEN 'train'
                    WHEN b < 925 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT source, n_chars,
                     CAST(('0x' || substr(md5('split|' || doc_id), 1, 15))
                       AS BIGINT) % 1000 AS b
              FROM documents)),
      agg AS (
        SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nc) AS BIGINT) AS n_chars
        FROM d GROUP BY 1, 2)
      SELECT source, split, n_docs, n_chars,
             CAST((n_docs * 1000000) // sum(n_docs) OVER (PARTITION BY source)
               AS BIGINT) AS frac_ppm
      FROM agg
      ORDER BY source ASC NULLS FIRST, split ASC NULLS FIRST"""))

  // --- q136: exact phrase search over positional postings ----------------
  // Retrieval beyond bag-of-words (q80/q91): find EXACT phrase
  // occurrences using the positional-postings discipline every search
  // engine uses. The corpus explodes once into (doc, pos, term)
  // postings; a phrase of length k matches at (doc, start) iff all k
  // (offset, term) constraints hit — computed as ONE equi-join of the
  // postings against the tiny (phrase, offset, term) constraint table
  // (each posting row proposes start = pos - offset) plus ONE aggregate
  // counting matched offsets per (phrase, doc, start). No per-phrase
  // loop, no regex scan of the text, no self-join chain that would grow
  // with k: cost is postings-that-match-any-phrase-term, independent of
  // phrase count beyond the constraint table size. Positions are unique
  // per (doc, pos), so count(*) = k is exact iff every offset matched —
  // repeated words in a phrase need no special casing.
  // Zero-hit phrases stay visible via the left join from the catalog.
  private val Phrases: Seq[(String, Seq[String])] = Seq(
    ("fast table", Seq("fast", "table")),
    ("the fast scan", Seq("the", "fast", "scan")),
    ("group value sort", Seq("group", "value", "sort")),
    ("table table", Seq("table", "table")))
  private val q136 = Q(
    (spark, dir) => {
      val postings = docs(spark, dir)
        .select(col("doc_id"), posexplode(TextOps.tokens(col("text")))
          .as(Seq("pos", "term")))
      val constraints = spark.createDataFrame(
        Phrases.flatMap { case (p, ws) =>
          ws.zipWithIndex.map { case (w, i) => (p, i.toLong, w) }
        }).toDF("phrase", "off", "term")
      val catalog = spark.createDataFrame(
        Phrases.map { case (p, ws) => (p, ws.length.toLong) })
        .toDF("phrase", "k")
      val hits = postings.join(broadcast(constraints), Seq("term"))
        .select(col("phrase"), col("doc_id"),
          (col("pos") - col("off")).as("start"))
        .groupBy(col("phrase"), col("doc_id"), col("start"))
        .agg(count(lit(1)).as("nmatch"))
        .join(broadcast(catalog), Seq("phrase"))
        .filter(col("nmatch") === col("k"))
        .groupBy(col("phrase"))
        .agg(count(lit(1)).as("n_hits"),
          count_distinct(col("doc_id")).as("n_docs"))
      broadcast(catalog).join(hits, Seq("phrase"), "left")
        .select(col("phrase"), col("k"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"))
        .orderBy(col("phrase").asc)
    },
    Some {
      val cvals = Phrases.flatMap { case (p, ws) =>
        ws.zipWithIndex.map { case (w, i) => s"('$p', $i, '$w')" }
      }.mkString(", ")
      val kvals = Phrases.map { case (p, ws) => s"('$p', ${ws.length})" }
        .mkString(", ")
      s"""
      WITH postings AS (
        SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS term
        FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)),
      constraints(phrase, off, term) AS (VALUES $cvals),
      catalog(phrase, k) AS (VALUES $kvals),
      hits AS (
        SELECT h.phrase, CAST(count(*) AS BIGINT) AS n_hits,
               CAST(count(DISTINCT h.doc_id) AS BIGINT) AS n_docs
        FROM (
          SELECT p.doc_id, c.phrase, p.pos - c.off AS start,
                 count(*) AS nmatch
          FROM postings p JOIN constraints c ON p.term = c.term
          GROUP BY 1, 2, 3) h
        JOIN catalog ON h.phrase = catalog.phrase AND h.nmatch = catalog.k
        GROUP BY 1)
      SELECT c.phrase, CAST(c.k AS BIGINT) AS k,
             COALESCE(n_hits, 0) AS n_hits, COALESCE(n_docs, 0) AS n_docs
      FROM catalog c LEFT JOIN hits ON c.phrase = hits.phrase
      ORDER BY c.phrase ASC NULLS FIRST"""
    })

  // --- q139: DSIR-style contrastive importance weights ------------------
  // Data selection via importance resampling (Xie et al. 2023, DSIR):
  // rank candidate documents by how target-like their unigram profile
  // is. The float form sums log(p_tgt(w)/p_raw(w)); cross-engine float
  // drift would break the oracle hash, so the score here is the
  // INTEGER-EXACT cross-product form of the same comparison:
  //   score(doc) = sum_w c_doc(w) * (t(w) * N_raw - r(w) * N_tgt)
  // (t/r = corpus counts of w in target/raw, N_* their totals) — the
  // sign of each term matches the sign of the probability-ratio log, so
  // the ranking is the DSIR ranking under a first-order expansion, and
  // every intermediate is a BIGINT. Long envelope: |term| <=
  // c * N_tgt * N_raw; at sf1 (15M tokens) the doc sum stays < 2^59 —
  // past that, rescale t/r to per-million frequencies first.
  //
  // 100 TB posture: vocab stats are ONE token-shuffle groupBy; scoring
  // joins doc-word counts to vocab stats on the word key (hash join,
  // both sides already reduced), then folds per doc. No broadcast of the
  // unbounded vocabulary, no driver loop. Totals ride a 1-row broadcast.
  private val TgtSrc = "src0"
  private val DsirK = 15
  private val q139 = Q(
    (spark, dir) => {
      val tok = docs(spark, dir).select(col("doc_id"), col("source"),
        explode(TextOps.tokens(col("text"))).as("w"))
      val vocab = tok.groupBy(col("w")).agg(
        sum(when(col("source") === TgtSrc, 1L).otherwise(0L)).as("t"),
        sum(when(col("source") =!= TgtSrc, 1L).otherwise(0L)).as("r"))
      val tot = vocab.agg(sum(col("t")).as("nt"), sum(col("r")).as("nr"))
      val dw = tok.filter(col("source") =!= TgtSrc)
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      val scored = dw.join(vocab, Seq("w")).crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(sum(col("c") * (col("t") * col("nr") - col("r") * col("nt")))
          .as("score"))
      scored
        .join(docs(spark, dir).select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("score"))
        .orderBy(col("score").desc_nulls_last, col("doc_id").asc)
        .limit(DsirK)
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
        FROM documents),
      vocab AS (
        SELECT w,
               CAST(sum(CASE WHEN source = '$TgtSrc' THEN 1 ELSE 0 END) AS BIGINT) AS t,
               CAST(sum(CASE WHEN source <> '$TgtSrc' THEN 1 ELSE 0 END) AS BIGINT) AS r
        FROM tok GROUP BY 1),
      tot AS (SELECT CAST(sum(t) AS BIGINT) AS nt,
                     CAST(sum(r) AS BIGINT) AS nr FROM vocab),
      dw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
             FROM tok WHERE source <> '$TgtSrc' GROUP BY 1, 2),
      scored AS (
        SELECT dw.doc_id,
               CAST(sum(dw.c * (v.t * tot.nr - v.r * tot.nt)) AS BIGINT) AS score
        FROM dw JOIN vocab v ON dw.w = v.w CROSS JOIN tot
        GROUP BY 1)
      SELECT s.doc_id, d.source, s.score
      FROM scored s JOIN documents d ON s.doc_id = d.doc_id
      ORDER BY s.score DESC NULLS LAST, s.doc_id ASC
      LIMIT $DsirK"""))

  // --- q138: blocklist filtering via one Aho-Corasick scan --------------
  // The C4/Gopher "bad words" pass as a first-class operator: every
  // document is scanned ONCE against the whole phrase list by the
  // multi_match_pack native expression (functions/MultiMatch — cached
  // automaton, codegen'd, O(|text| + hits) per doc), and the per-source
  // report rolls up exposure: docs flagged, total occurrences, worst
  // single doc, and how many distinct phrases each doc tripped.
  //
  // The oracle replays counts with the replace-length formula, which
  // counts NON-OVERLAPPING occurrences — exact here because every
  // fixture phrase is border-free (no proper prefix = suffix, asserted
  // at query build), so no phrase can overlap itself.
  //
  // 100 TB posture: map-only until the final per-source rollup; the
  // per-pattern alternative pays |patterns| string passes per doc (or
  // an exploded pattern⋈doc join) — at a C4-sized list that is 100s of
  // scans per document vs this one.
  private val Blocklist = Seq(
    "fast table", "slow scan", "customer query", "big join",
    "vector stream", "hash value", "group order", "spark data",
    "dup", "the row")
  private val q138 = Q(
    (spark, dir) => {
      require(Blocklist.forall(p => !MultiMatch.hasBorder(p)),
        "blocklist phrases must be border-free for the replace-count oracle")
      val packed = docs(spark, dir).select(col("source"),
        MultiMatch.packCol(col("text"), Blocklist).as("pk"))
      val per = packed.select(col("source"),
        Sampling.ldiv(col("pk"), lit(MultiMatch.PackBase)).as("hits"),
        pmod(col("pk"), lit(MultiMatch.PackBase)).as("np"))
      per.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_flagged"),
          sum(col("hits")).as("total_hits"),
          max(col("hits")).as("max_doc_hits"),
          sum(col("np")).as("sum_distinct_patterns"))
        .orderBy(col("source"))
    },
    Some {
      val occs = Blocklist.zipWithIndex.map { case (p, i) =>
        s"(length(text) - length(replace(text, '$p', ''))) // ${p.length} AS o$i"
      }.mkString(",\n               ")
      val hits = Blocklist.indices.map(i => s"o$i").mkString(" + ")
      val np = Blocklist.indices
        .map(i => s"CASE WHEN o$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
      s"""
      WITH per AS (
        SELECT source,
               $occs
        FROM documents),
      d AS (SELECT source, $hits AS hits, $np AS np FROM per)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged,
             CAST(sum(hits) AS BIGINT) AS total_hits,
             CAST(max(hits) AS BIGINT) AS max_doc_hits,
             CAST(sum(np) AS BIGINT) AS sum_distinct_patterns
      FROM d GROUP BY 1
      ORDER BY source ASC NULLS FIRST"""
    })

  // --- q141: dedup growth curve (corpus saturation by ingest decile) ----
  // "How fast does new data stop being new?" — the scaling-law question
  // a 100 TB crawl asks before paying for the next crawl. Docs are
  // binned into 10 ingest deciles by doc_id (the ingest order); a
  // content hash is NEW in the decile of its first occurrence. The
  // curve reports per-decile doc counts, first-seen counts, the running
  // unique total, and the duplicate rate (one final division).
  //
  // 100 TB posture: two hash-keyed aggregations (per-decile counts and
  // min-doc-per-hash), both map-side combinable; the only window runs
  // over EXACTLY 10 rows regardless of corpus size, and the max-doc-id
  // scalar rides a 1-row broadcast.
  private val q141 = Q(
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(spark, dir).select(col("doc_id"), md5(col("text")).as("h"))
      val mx = d.agg(max(col("doc_id")).as("mx"))
      val dec = (id: Column, m: Column) => Sampling.ldiv(id * 10L, m + 1L)
      val per = d.crossJoin(broadcast(mx))
        .groupBy(dec(col("doc_id"), col("mx")).as("decile"))
        .agg(count(lit(1)).as("n_docs"))
      val news = d.groupBy(col("h")).agg(min(col("doc_id")).as("fd"))
        .crossJoin(broadcast(mx))
        .groupBy(dec(col("fd"), col("mx")).as("decile"))
        .agg(count(lit(1)).as("n_new"))
      val w = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      per.join(news, Seq("decile"), "left")
        .select(col("decile"), col("n_docs"),
          coalesce(col("n_new"), lit(0L)).as("n_new"))
        .withColumn("cum_unique", sum(col("n_new")).over(w))
        .withColumn("dup_pct",
          (col("n_docs") - col("n_new")).cast("double") / col("n_docs"))
        .orderBy(col("decile").asc)
    },
    Some("""
      WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
      mx AS (SELECT max(doc_id) AS mx FROM d),
      per AS (SELECT (doc_id * 10) // (mx + 1) AS decile,
                     CAST(count(*) AS BIGINT) AS n_docs
              FROM d CROSS JOIN mx GROUP BY 1),
      firsts AS (SELECT h, min(doc_id) AS fd FROM d GROUP BY 1),
      news AS (SELECT (fd * 10) // (mx + 1) AS decile,
                      CAST(count(*) AS BIGINT) AS n_new
               FROM firsts CROSS JOIN mx GROUP BY 1)
      SELECT per.decile, per.n_docs,
             COALESCE(news.n_new, 0) AS n_new,
             CAST(sum(COALESCE(news.n_new, 0)) OVER (
               ORDER BY per.decile ASC NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_unique,
             CAST(per.n_docs - COALESCE(news.n_new, 0) AS DOUBLE) / per.n_docs
               AS dup_pct
      FROM per LEFT JOIN news ON per.decile = news.decile
      ORDER BY per.decile ASC NULLS FIRST"""))

  // --- q143: consistent-hash resharding audit ---------------------------
  // The OTHER sharding master (see q92's design note): q92 balances
  // token totals for an immutable one-shot write and re-deals every
  // key on any change; a mutable serving tier instead needs key
  // STABILITY — naive hash-mod moves ~(S-1)/S of ALL keys when S
  // changes. The production fix is a
  // consistent-hash ring (Karger et al. 1997) with virtual nodes: only
  // keys whose ring successor lands on the NEW shard's vnodes move.
  // This query materializes the before/after assignment for growing
  // 4 -> 5 shards and reports the (old_shard, new_shard) movement
  // matrix — the audit a re-sharding migration plan is built from.
  // Every hash is the md5-derived hash60 (engine-identical); successor
  // resolution is min-point-above with wrap-to-global-min, replayed
  // literally in the oracle from THE SAME generated vnode key list.
  //
  // 100 TB posture: the ring is S x V rows — broadcast by construction;
  // assignment is one map pass per doc over the broadcast ring (min of
  // 40 comparisons), then the matrix is one tiny groupBy. No shuffle
  // touches the corpus beyond the final count agg.
  private val ChOldShards = 4
  private val ChNewShards = 5
  private val ChVnodes = 8
  private def chKeys(shards: Int): Seq[(Long, String)] =
    for { s <- 0L until shards.toLong; j <- 0 until ChVnodes }
      yield (s, s"ring|$s#$j")
  private val q143 = Q(
    (spark, dir) => {
      val ring = spark.createDataFrame(chKeys(ChNewShards))
        .toDF("shard", "key")
        .select(col("shard"), Kmv.hash60(col("key")).as("ph"))
      val d = docs(spark, dir).select(col("doc_id"),
        Kmv.hash60(concat(lit("ch|"), col("doc_id").cast("string"))).as("dh"))
      def assign(r: DataFrame, name: String): DataFrame = {
        val glob = r.agg(min(col("ph")).as("gph"))
        d.crossJoin(broadcast(r))
          .groupBy(col("doc_id"), col("dh"))
          .agg(min(when(col("ph") >= col("dh"), col("ph"))).as("sph"))
          .crossJoin(broadcast(glob))
          .select(col("doc_id"), coalesce(col("sph"), col("gph")).as("ph"))
          .join(broadcast(r), Seq("ph"))
          .select(col("doc_id"), col("shard").as(name))
      }
      val before = assign(ring.filter(col("shard") < ChOldShards), "old_shard")
      val after = assign(ring, "new_shard")
      before.join(after, Seq("doc_id"))
        .groupBy(col("old_shard"), col("new_shard"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("moved", col("old_shard") =!= col("new_shard"))
        .orderBy(col("old_shard"), col("new_shard"))
    },
    Some {
      val vals = chKeys(ChNewShards)
        .map { case (s, k) => s"($s, '$k')" }.mkString(", ")
      s"""
      WITH ringall(shard, key) AS (VALUES $vals),
      ring AS (SELECT CAST(shard AS BIGINT) AS shard,
                      CAST(('0x' || substr(md5(key), 1, 15)) AS BIGINT) AS ph
               FROM ringall),
      d AS (SELECT doc_id,
                   CAST(('0x' || substr(md5('ch|' || CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) AS dh
            FROM documents),
      oldr AS (SELECT * FROM ring WHERE shard < $ChOldShards),
      bef AS (
        SELECT d.doc_id,
               COALESCE(min(CASE WHEN r.ph >= d.dh THEN r.ph END),
                        (SELECT min(ph) FROM oldr)) AS ph
        FROM d CROSS JOIN oldr r GROUP BY 1),
      aft AS (
        SELECT d.doc_id,
               COALESCE(min(CASE WHEN r.ph >= d.dh THEN r.ph END),
                        (SELECT min(ph) FROM ring)) AS ph
        FROM d CROSS JOIN ring r GROUP BY 1)
      SELECT ro.shard AS old_shard, rn.shard AS new_shard,
             CAST(count(*) AS BIGINT) AS n_docs,
             ro.shard <> rn.shard AS moved
      FROM bef JOIN aft ON bef.doc_id = aft.doc_id
      JOIN oldr ro ON bef.ph = ro.ph
      JOIN ring rn ON aft.ph = rn.ph
      GROUP BY 1, 2, 4
      ORDER BY old_shard ASC, new_shard ASC"""
    })

  // --- q186: stride-scheduled mixture interleave (training order) --------
  // q49/q83 decide HOW MUCH of each source to train on; this decides
  // WHEN: a deterministic global training order in which sources
  // interleave at their mixture rates instead of arriving in blocks
  // (block-ordered corpora measurably destabilize LM training). Stride
  // scheduling (Waldspurger & Weihl, OSDI '95) does it with pure
  // integer arithmetic: each source gets stride = 2^40 div n_docs, its
  // i-th document (doc_id order) is scheduled at pass = stride·i, and
  // the global order is (pass, source, doc_id) — bigger sources get
  // smaller strides, so the merged sequence hits every source at its
  // corpus rate from the very first rows, reproducibly on any engine.
  //
  // Scale shape: per-source ranks come from Ranking.rankInGroup's
  // two-pass range exchange (no per-source window over the corpus);
  // the head of the schedule is a sort-limit (TakeOrdered), never a
  // materialized global sort. A full-corpus write of the order is the
  // same plan minus the limit, range-partitioned by pass.
  private val StrideScale = 1L << 40
  private val StrideHead = 24
  private val q186 = Q(
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(spark, dir).select(col("source"), col("doc_id"))
      val counts = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val ranked = graft.operators.Ranking
        .rankInGroup(d, "source", Seq("doc_id"))
      val head = ranked.join(broadcast(counts), Seq("source"))
        .select(col("source"), col("doc_id"),
          (expr(s"${StrideScale}L div n_docs") * col("rk")).as("pass"))
        .orderBy(col("pass").asc, col("source").asc, col("doc_id").asc)
        .limit(StrideHead)
      head.withColumn("pos", row_number().over( // 24-row digest only
          Window.orderBy(col("pass").asc, col("source").asc, col("doc_id").asc)))
        .select(col("pos"), col("pass"), col("source"), col("doc_id"))
        .orderBy(col("pos").asc)
    },
    Some(s"""
      WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                 FROM documents GROUP BY 1),
      r AS (SELECT d.source, d.doc_id,
                   CAST(row_number() OVER (PARTITION BY d.source
                     ORDER BY d.doc_id ASC) AS BIGINT) AS rk
            FROM documents d),
      sched AS (
        SELECT r.source, r.doc_id, ($StrideScale // c.n_docs) * r.rk AS pass
        FROM r JOIN c USING (source)),
      head AS (SELECT * FROM sched
               ORDER BY pass ASC, source ASC, doc_id ASC LIMIT $StrideHead)
      SELECT CAST(row_number() OVER (ORDER BY pass ASC, source ASC,
               doc_id ASC) AS INTEGER) AS pos,
             pass, source, doc_id
      FROM head
      ORDER BY pos ASC"""))

  // --- q189: exact-quota stratified sample (largest remainder) -----------
  // q135 splits by hash THRESHOLD — per-stratum counts are only
  // binomially close to the target rate. Eval sets and ablation corpora
  // need the other contract: EXACTLY round(N/10) rows overall, each
  // stratum hitting its proportional quota to the row (Hamilton /
  // largest-remainder apportionment: floor quotas, then +1 to the
  // strata with the largest remainders until the target is met).
  // Selection within a stratum is the usual deterministic md5 order
  // ("strat|" prefix decorrelates from q44/q135's split hashes).
  //
  // Scale shape: quota arithmetic runs entirely over the stratum DIGEST
  // (one row per (lang, source) — the only unpartitioned windows are
  // over that bounded table, the Prefix discipline); the data pass is
  // one broadcast join of quotas plus one row_number per stratum
  // partition. The per-stratum sort is the price of exact quotas — the
  // rate-only contract stays on q135's sort-free threshold path.
  private val StratDenominator = 10 // sample 1/10 of the corpus exactly
  private val q189 = Q(
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(spark, dir).select(col("doc_id"), col("lang"), col("source"))
      // grand totals ride broadcast digests, not unpartitioned windows
      // (the suite-wide no-global-window discipline); the ORDERED
      // global row_number stays — largest-remainder needs a total rank
      // over the bounded strata grid, which no digest can express
      val strata = d.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_s"))
      val based = strata
        .crossJoin(broadcast(strata.agg(sum(col("n_s")).as("n_total"))))
        .withColumn("target", expr(s"n_total div $StratDenominator"))
        .withColumn("base", expr("(n_s * target) div n_total"))
        .withColumn("rem", expr("n_s * target - base * n_total"))
      val quotas = based
        .crossJoin(broadcast(based.agg(sum(col("base")).as("base_total"))))
        .withColumn("xr", row_number().over(
          Window.orderBy(col("rem").desc, col("lang").asc, col("source").asc))
          .cast("long"))
        .select(col("lang"), col("source"),
          (col("base") + when(col("xr") <= col("target") - col("base_total"),
            1L).otherwise(0L)).as("quota"))
      val wS = Window.partitionBy(col("lang"), col("source"))
        .orderBy(col("hv").asc, col("doc_id").asc)
      d.withColumn("hv", Kmv.hash60(concat(lit("strat|"), col("doc_id"))))
        .join(broadcast(quotas), Seq("lang", "source"))
        .withColumn("rn", row_number().over(wS).cast("long"))
        .filter(col("rn") <= col("quota"))
        .select(col("lang"), col("source"), col("doc_id"))
        .orderBy(col("lang").asc, col("source").asc, col("doc_id").asc)
    },
    Some(s"""
      WITH s AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_s
                 FROM documents GROUP BY 1, 2),
      t AS (SELECT *, CAST(sum(n_s) OVER () AS BIGINT) AS n_total FROM s),
      b AS (SELECT *, n_total // $StratDenominator AS target,
                   (n_s * (n_total // $StratDenominator)) // n_total AS base,
                   n_s * (n_total // $StratDenominator)
                     - ((n_s * (n_total // $StratDenominator)) // n_total)
                       * n_total AS rem
            FROM t),
      r AS (SELECT *, CAST(row_number() OVER (ORDER BY rem DESC, lang ASC,
                             source ASC) AS BIGINT) AS xr,
                   CAST(sum(base) OVER () AS BIGINT) AS base_total
            FROM b),
      q AS (SELECT lang, source,
                   base + CASE WHEN xr <= target - base_total
                               THEN 1 ELSE 0 END AS quota
            FROM r),
      h AS (SELECT doc_id, lang, source,
                   CAST(('0x' || substr(md5('strat|' || doc_id), 1, 15))
                     AS BIGINT) AS hv
            FROM documents),
      rn AS (SELECT h.*, CAST(row_number() OVER (PARTITION BY lang, source
                                ORDER BY hv ASC, doc_id ASC) AS BIGINT) AS rn
             FROM h)
      SELECT rn.lang, rn.source, rn.doc_id
      FROM rn JOIN q USING (lang, source)
      WHERE rn <= quota
      ORDER BY lang ASC, source ASC, doc_id ASC"""))

  // --- q190: inverted-index postings compression audit --------------------
  // The retrieval-tier capacity question behind q80/q91/q136: what does
  // the postings file actually COST on disk? Standard block-resync'd
  // delta coding — postings for a term are doc_id-sorted, each 128-id
  // block re-anchors (first id stored absolute, +1 to stay positive),
  // in-block ids store the gap, and every value takes
  // ceil(bits/7) LEB128 varint bytes, expressed as an exact CASE chain
  // on power-of-128 thresholds (never float log2). Reported for the 50
  // highest-df terms: varint bytes vs 8-byte-raw, per-mille ratio.
  //
  // Scale shape: the postings build is the one term-keyed shuffle any
  // index build pays; the delta window partitions by (term, block) so
  // NO partition exceeds 128 rows even for a stopword whose df is the
  // corpus size — the block re-anchoring that real indexes do for
  // skip-list seeks is exactly what kills the giant-partition window
  // here. Top-50 selection is a 50-row broadcast.
  private val PostingsTopTerms = 50
  private val q190 = Q(
    (spark, dir) => {
      val p = docs(spark, dir)
        .select(col("doc_id"),
          explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
      val top = p.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("term").asc).limit(PostingsTopTerms)
      operators.Postings
        .encode(p.join(broadcast(top.select(col("term"))), Seq("term")),
          "term", "doc_id")
        .withColumn("raw_bytes", col("df") * 8L)
        .withColumn("ratio_permille",
          expr("(1000 * varint_bytes) div raw_bytes"))
        .orderBy(col("df").desc, col("term").asc)
    },
    Some {
      // The CASE thresholds interpolate from the SAME constants the
      // Scala kernel folds (operators.Postings) — the two sides cannot
      // drift without this SQL changing too (ADVICE-r6 discipline).
      val leb = operators.Postings.LebThresholds.zipWithIndex
        .map { case (l, i) => s"WHEN gap < $l THEN ${i + 1}" }.mkString(" ")
      val lebElse = operators.Postings.LebThresholds.size + 1
      s"""
      WITH p AS (SELECT DISTINCT doc_id, t AS term
                 FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                       FROM documents)),
      top AS (SELECT term, CAST(count(*) AS BIGINT) AS df
              FROM p GROUP BY 1
              ORDER BY df DESC, term ASC LIMIT $PostingsTopTerms),
      g AS (SELECT p.term, top.df,
                   coalesce(p.doc_id - lag(p.doc_id) OVER
                       (PARTITION BY p.term,
                        p.doc_id // ${operators.Postings.Block}
                        ORDER BY p.doc_id ASC),
                     p.doc_id + 1) AS gap
            FROM p JOIN top USING (term)),
      v AS (SELECT term, df, CASE $leb ELSE $lebElse END AS vb FROM g)
      SELECT term, df, CAST(sum(vb) AS BIGINT) AS varint_bytes,
             df * 8 AS raw_bytes,
             (1000 * CAST(sum(vb) AS BIGINT)) // (df * 8) AS ratio_permille
      FROM v GROUP BY 1, 2
      ORDER BY df DESC, term ASC"""
    })

  // --- q191: PMI collocation mining (phrase discovery) --------------------
  // The phrase-merge step of a tokenizer/embedding pipeline (word2vec's
  // phrase pass, Mikolov et al. 2013): adjacent word pairs that co-occur
  // far more than their unigram frequencies predict. Scored by lift =
  // c(xy)·N / (c(x)·c(y)) — the exponential of PMI, so the RANKING is
  // identical — with a minimum pair support so one lucky co-occurrence
  // of two hapaxes cannot top the list. The lift is the only float in
  // the query and both engines build it from the SAME integer inputs
  // with the SAME parenthesized op tree, so the IEEE result is
  // bit-identical (the q21-ratio discipline).
  //
  // Scale shape: bigrams come straight off the token array map-side
  // (array transform — no window, no per-doc shuffle); one pair-keyed
  // aggregate, min-support filter BEFORE the unigram joins (the filter
  // is what keeps the join input at phrase-candidate size, not
  // corpus-bigram size), two word-keyed joins, and a 1-row total rides
  // a broadcast.
  private val PmiMinSupport = 5
  private val PmiTopK = 30
  private val q191 = Q(
    (spark, dir) => {
      val base = docs(spark, dir).select(TextOps.tokens(col("text")).as("ts"))
      val bg = when(size(col("ts")) >= 2, transform(
          sequence(lit(1), size(col("ts")) - lit(1)),
          i => struct(element_at(col("ts"), i).as("w1"),
            element_at(col("ts"), i + lit(1)).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      val pairs = base.select(explode(bg).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= PmiMinSupport)
      val uni = base.select(explode(col("ts")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val tot = uni.agg(sum(col("c")).as("nu"))
      pairs
        .join(uni.select(col("w").as("w1"), col("c").as("c_x")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("c").as("c_y")), Seq("w2"))
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
          ((col("c_xy").cast("double") * col("nu")) /
            (col("c_x").cast("double") * col("c_y"))).as("lift"))
        .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
        .limit(PmiTopK)
    },
    Some(s"""
      WITH tok AS (SELECT string_split(text, ' ') AS ts FROM documents),
      bi AS (SELECT unnest(list_transform(range(1, len(ts)),
                     i -> [ts[i], ts[i+1]])) AS b
             FROM tok WHERE len(ts) >= 2),
      pairs AS (SELECT b[1] AS w1, b[2] AS w2, CAST(count(*) AS BIGINT) AS c_xy
                FROM bi GROUP BY 1, 2
                HAVING count(*) >= $PmiMinSupport),
      uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
              FROM (SELECT unnest(ts) AS w FROM tok) GROUP BY 1),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS nu FROM uni)
      SELECT w1, w2, c_xy, ux.c AS c_x, uy.c AS c_y,
             (CAST(c_xy AS DOUBLE) * nu) / (CAST(ux.c AS DOUBLE) * uy.c)
               AS lift
      FROM pairs
      JOIN uni ux ON ux.w = pairs.w1
      JOIN uni uy ON uy.w = pairs.w2
      CROSS JOIN tot
      ORDER BY lift DESC, w1 ASC, w2 ASC
      LIMIT $PmiTopK"""))

  // --- q212: hybrid retrieval SERVED from the persisted indexes ----------
  // q104 evaluates RRF fusion honestly in-plan (both legs re-scan the
  // corpus); the serving composition (VERDICT r11 #6) answers the same
  // kind of request from the two openable artifacts: the LEXICAL leg
  // is TextIndex.probe (BM25 top-50 — directory-pruned posting read,
  // q91's exact scorer), the VECTOR leg is SigIndex.probe (sign-hash
  // Hamming shortlist of 50, exact cosine rescore via the pushed
  // `vid IN` point read), fused by the same K=60 reciprocal-rank rule.
  // Neither leg tokenizes the corpus or packs a signature: the only
  // corpus-table touch in the serving plan is the ONE-row query-vector
  // fetch (pushed vec_id = 7), which is the request itself.
  //
  // Ranks: lexical by (bm25 DESC, doc_id ASC) — the probe's own order;
  // vector by (cos_sim DESC, cid ASC) over the 50 rescored survivors
  // (the shortlist itself is Hamming-ranked; rescore re-orders it, the
  // standard ANN serve shape). Both rank windows run over FIXED 50-row
  // lists (constant, never data-scaled). The ORACLE replays each leg
  // exactly — q198's BM25 SQL at topk 50, q202's sign-disagreement +
  // rescore CTEs for query 7 — and fuses with q104's RRF arithmetic.
  //
  // 100 TB posture: the legs read indexes (posting buckets + an 8·⌈d/64⌉
  // bytes/vector signature column), the fusion is a 50 vs 50 outer
  // join. Bench time includes both honest one-shot index builds; the
  // probe-only twin carries the serving latency.

  private def hybQuantized(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), VectorOps.quantized(col("embedding")).as("q"))
      .withColumn("n2", VectorOps.qnorm2(col("q")))

  private[graft] def hybridServeOnly(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (bmName, idxDir) = Queries.indexHandle("hyb", dir, "_bm25")
    val (sigName, _) = Queries.indexHandle("hyb", dir, "_sig")
    // lexical leg: persisted BM25 probe, ranked by its own order
    val lex = graft.operators.TextIndex
      .probe(spark, bmName, idxDir, QTerms, topk = RrfTopN)
    val wl = Window.orderBy(col("score").desc_nulls_last, col("doc_id"))
    val rl = lex.withColumn("lex_rank", row_number().over(wl))
      .select(col("doc_id"), col("lex_rank"))
    // vector leg: persisted sign-hash probe for the one query vector
    // (the request — a pushed one-row embeddings fetch), re-ranked by
    // the exact rescore
    val qv = hybQuantized(spark, dir).filter(col("vec_id") === 7L)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("n2").as("qn2"))
    val vec = graft.operators.SigIndex
      .probe(spark, sigName, idxDir, qv, topk = RrfTopN)
      // the probe returns <= topk survivors by construction; the
      // explicit limit states that bound IN THE PLAN so the rank
      // window below is provably over a bounded subtree (the suite's
      // global-window guard checks the plan, not the contract)
      .limit(RrfTopN)
    val wv = Window.orderBy(col("cos_sim").desc_nulls_last, col("cid"))
    val rv = vec.withColumn("vec_rank", row_number().over(wv))
      .select(col("cid").as("doc_id"), col("vec_rank"))
    // q104's fusion, verbatim
    rl.join(rv, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
        (when(col("lex_rank").isNotNull,
          lit(1.0) / (lit(RrfK).cast("double") + col("lex_rank").cast("double")))
          .otherwise(lit(0.0)) +
         when(col("vec_rank").isNotNull,
           lit(1.0) / (lit(RrfK).cast("double") + col("vec_rank").cast("double")))
           .otherwise(lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc_nulls_last, col("doc_id"))
      .limit(15)
  }

  private val q212 = Q(
    (spark, dir) => {
      val (bmName, idxDir) = Queries.indexHandle("hyb", dir, "_bm25")
      val (sigName, _) = Queries.indexHandle("hyb", dir, "_sig")
      graft.operators.TextIndex.build(spark,
        docs(spark, dir).select(col("doc_id"), col("source"), col("text")),
        bmName, idxDir)
      graft.operators.SigIndex.build(spark, hybQuantized(spark, dir),
        sigName, idxDir)
      hybridServeOnly(spark, dir)
    },
    Some {
      s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      tf AS (
        SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl,
               ${QTerms.map(t => s"CAST(len(list_filter(ts, x -> x = '$t')) AS BIGINT) AS tf_$t").mkString(",\n               ")}
        FROM tok),
      st AS (
        SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_tokens,
               ${QTerms.map(t => s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t").mkString(",\n               ")}
        FROM tf),
      lex AS (
        SELECT doc_id,
               ((${bm25SqlTerm(QTerms(0))}
                + ${bm25SqlTerm(QTerms(1))})
                + ${bm25SqlTerm(QTerms(2))}) AS score
        FROM tf, st
        WHERE ${QTerms.map(t => s"tf_$t > 0").mkString(" OR ")}
        ORDER BY score DESC NULLS LAST, doc_id ASC NULLS FIRST
        LIMIT $RrfTopN),
      rl AS (SELECT doc_id, CAST(row_number() OVER (
               ORDER BY score DESC NULLS LAST, doc_id ASC NULLS FIRST) AS INTEGER)
               AS lex_rank FROM lex),
      e AS (
        SELECT vec_id,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS v,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings),
      n AS (SELECT vec_id, sum(v * v) AS n2 FROM e GROUP BY 1),
      s AS (SELECT vec_id, i, (v > 0) AS b FROM e),
      h AS (
        SELECT b.vec_id AS cid,
               CAST(sum(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) AS BIGINT) AS hamming
        FROM s a JOIN s b ON a.i = b.i
          AND a.vec_id = 7 AND b.vec_id <> 7
        GROUP BY 1),
      t AS (SELECT cid FROM h
            ORDER BY hamming ASC NULLS FIRST, cid ASC NULLS FIRST
            LIMIT $RrfTopN),
      d AS (
        SELECT t.cid, sum(ea.v * eb.v) AS dot
        FROM t JOIN e ea ON ea.vec_id = 7
               JOIN e eb ON eb.vec_id = t.cid AND eb.i = ea.i
        GROUP BY 1),
      c AS (
        SELECT d.cid,
               CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE))
                 / sqrt(CAST(nb.n2 AS DOUBLE)) AS cos_sim
        FROM d JOIN n na ON na.vec_id = 7
               JOIN n nb ON nb.vec_id = d.cid),
      rv AS (SELECT cid AS doc_id, CAST(row_number() OVER (
               ORDER BY cos_sim DESC NULLS LAST, cid ASC NULLS FIRST) AS INTEGER)
               AS vec_rank FROM c)
      SELECT COALESCE(rl.doc_id, rv.doc_id) AS doc_id, rl.lex_rank, rv.vec_rank,
             (CASE WHEN rl.lex_rank IS NOT NULL
                   THEN 1.0 / (CAST($RrfK AS DOUBLE) + CAST(rl.lex_rank AS DOUBLE))
                   ELSE 0.0 END
              + CASE WHEN rv.vec_rank IS NOT NULL
                     THEN 1.0 / (CAST($RrfK AS DOUBLE) + CAST(rv.vec_rank AS DOUBLE))
                     ELSE 0.0 END) AS rrf
      FROM rl FULL OUTER JOIN rv ON rl.doc_id = rv.doc_id
      ORDER BY rrf DESC NULLS LAST, doc_id ASC NULLS FIRST
      LIMIT 15"""
    })

  val all: Seq[(String, Q)] = Seq(
    "q73_heavy_hitters" -> q73,
    "q74_priority_sample" -> q74,
    "q75_doc_surprisal" -> q75,
    "q77_balance_resample" -> q77,
    "q78_gopher_repetition" -> q78,
    "q80_retrieval_topk" -> q80,
    "q83_temperature_mix" -> q83,
    "q84_mix_drift" -> q84,
    "q89_bigram_lm" -> q89,
    "q91_bm25_topk" -> q91,
    "q92_shard_assign" -> q92,
    "q104_hybrid_rrf" -> q104,
    "q132_robust_outliers" -> q132,
    "q134_bpe_next_merges" -> q134,
    "q135_dataset_split" -> q135,
    "q136_phrase_search" -> q136,
    "q138_blocklist" -> q138,
    "q139_importance_weights" -> q139,
    "q141_growth_curve" -> q141,
    "q143_consistent_hash" -> q143,
    "q186_stride_interleave" -> q186,
    "q189_stratified_sample" -> q189,
    "q190_postings_cost" -> q190,
    "q191_pmi_collocations" -> q191,
    "q198_bm25_probe" -> q198,
    "q212_hybrid_serve" -> q212,
    "q218_bm25_delete" -> q218,
    "q221_bm25_filtered" -> q221)

  /** Probe-ONLY serving twin of q198 (VERDICT r8 #5) — see
    * [[VectorQueries.probeOnly]] for the contract. */
  val probeOnly: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q198_bm25_probe" -> (bm25ProbeOnly(_, _)),
    "q212_hybrid_serve" -> (hybridServeOnly(_, _)),
    "q218_bm25_delete" -> (bm25DeleteProbeOnly(_, _)),
    "q221_bm25_filtered" -> (bm25FilteredProbeOnly(_, _)))
}
