package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer TRAINING — merge-table induction (Sennrich
  * et al. ACL 2016, the subword-nmt `learn_bpe` algorithm). The suite's
  * tokenizer story so far CONSUMES a merge table (functions/Bpe encodes
  * under a fixture; q24/q56/q175 count with it); this operator LEARNS
  * one from the corpus — the step a training pipeline runs before any
  * token budget, packing plan, or fertility audit means anything.
  *
  * Algorithm (classic): tokenize every word into characters, then for
  * `rounds` rounds pick the adjacent token pair with the highest
  * corpus-weighted count (ties: smaller left token, then smaller right
  * token — a total, engine-exact order) and merge every non-overlapping
  * occurrence, leftmost-first.
  *
  * Scale posture (the 100 TB contract): the corpus is read ONCE, into a
  * (word, count) vocabulary — Heaps' law makes that state sublinear in
  * corpus size, the same collapse every industrial BPE trainer
  * (subword-nmt, SentencePiece, tokenizers) performs before iterating.
  * Each round then costs
  *  - one vocabulary-sized pair count: map-only explode of adjacent
  *    pairs weighted by word count + a hash aggregate (map-side
  *    combine; distinct-pair cardinality, not corpus cardinality),
  *  - ONE bounded collect: the top pair(s) by (count DESC, left ASC,
  *    right ASC) through a TakeOrdered limit — the q201 k-center
  *    discipline of bounded driver rounds, k = `rounds` by construction,
  *  - one map-only merge application: a codegen'd array fold per word
  *    ([[applyMergeBatch]]), localCheckpoint'd to keep the loop's plan
  *    linear (the KMeans discipline).
  * Nothing corpus-sized is ever shuffled or collected; the driver holds
  * `rounds` merge rows. Training is inherently sequential in rounds
  * (each merge changes the pair statistics the next argmax reads), so
  * there is no streaming twin — the learned table is a broadcast-sized
  * artifact downstream encoders consume (the q24 path).
  *
  * Determinism: counts are exact BIGINT sums of word counts; the argmax
  * tie rule is total; merge application is a pure per-word function.
  * Two runs over any partitioning produce the identical merge table,
  * and a DuckDB oracle replays every round bit for bit (q204 unrolls
  * the rounds as generated CTEs, the q112/q201 discipline).
  *
  * Reference analog: the reference has no tokenizer at all; this is a
  * beyond-ref LLM-pipeline operator completing the BPE family.
  */
object BpeTrain {

  /** One learned merge: rank (1-based round), the pair, and the
    * corpus-weighted adjacent-pair count at selection time. */
  final case class Merge(rank: Int, left: String, right: String, pairCnt: Long)

  /** Initial training state from a (w, cnt) vocabulary: one row per
    * distinct word, toks = its characters. Map-only. */
  def charState(words: DataFrame): DataFrame =
    words.select(col("w"), col("cnt"),
      expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .as("toks"))

  /** Greedy leftmost non-overlapping application of merge (l, r) to a
    * token array, as ONE codegen'd fold: scan left to right, and when
    * the accumulator's last token is `l` and the current token is `r`,
    * replace the last token with `l+r` (consuming both); otherwise
    * append. A merged token is strictly longer than `l`, so it can
    * never re-match as the left side within the same round — the fold
    * IS the textbook "merge all non-overlapping occurrences, leftmost
    * wins on overlap runs" rule (overlap runs only arise when l == r,
    * e.g. "aaaa" under (a,a) -> [aa, aa]; BpeTrainSpec proves the fold
    * against an independent match-position/alternation reference, the
    * same rule the q204 oracle states relationally). */
  def applyMerge(toks: Column, l: String, r: String): Column =
    applyMergeBatch(toks, Seq((l, r)))

  /** Greedy compatible-subset selection for BATCHED training
    * ([[fitBatched]]): walk `cands` in rank order (the caller passes
    * them sorted by count DESC, left ASC, right ASC) and keep up to
    * `p` pairs such that every kept pair
    *  - shares NO token with an earlier-kept pair (token-disjoint
    *    matches can never overlap positionally, so applying the batch
    *    simultaneously is well-defined), and
    *  - has no member equal to an earlier-kept pair's CONCATENATION,
    *    and no concatenation equal to an earlier-kept pair's member
    *    (the merged token is new this round; without these rules a
    *    left-to-right fold could re-match a just-merged token the
    *    simultaneous relational rule never sees).
    * Pure driver-side function over a bounded candidate list —
    * separated out so the spec can pin the rule directly. */
  def selectCompatible(cands: Seq[(String, String, Long)], p: Int)
      : Seq[(String, String, Long)] = {
    val picked = scala.collection.mutable.Buffer[(String, String, Long)]()
    val it = cands.iterator
    while (picked.size < p && it.hasNext) {
      val (l, r, c) = it.next()
      val clash = picked.exists { case (pl, pr, _) =>
        val toks = Set(pl, pr, pl + pr)
        toks(l) || toks(r) || Set(pl, pr)(l + r)
      }
      if (!clash) picked += ((l, r, c))
    }
    picked.toSeq
  }

  /** Simultaneous application of a COMPATIBLE batch of merges (see
    * [[selectCompatible]] for the compatibility contract) — one
    * codegen'd fold; at each token the accumulator's last token and
    * the current token are checked against every pair in the batch
    * (unambiguous: compatible pairs are token-disjoint, so at most
    * one can match). Equal to applying the pairs one at a time in any
    * order, and to the relational match-island rule the q205 oracle
    * states (BpeTrainSpec proves both). */
  def applyMergeBatch(toks: Column, pairs: Seq[(String, String)]): Column = {
    require(pairs.nonEmpty, "empty merge batch")
    aggregate(toks, array().cast("array<string>"),
      (acc, t) =>
        when(size(acc) === 0, array(t))
          .otherwise(pairs.foldRight(concat(acc, array(t))) {
            case ((l, r), els) =>
              when(element_at(acc, -1) === lit(l) && t === lit(r),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
                .otherwise(els)
          }))
  }

  /** Free a state's localCheckpoint blocks (ADVICE r10: training
    * checkpoints a new state every round; without this the superseded
    * rounds' blocks accumulate linearly in executor storage — directly
    * felt by the rounds-knee sweeps measured in docs/SCALING.md). The
    * checkpointed RDD is the LogicalRDD leaf the eager checkpoint
    * embedded in the returned frame; unpersist is async (the next
    * round never reads it again). */
  private def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** BATCHED training — the production shape for large vocabularies
    * (the SentencePiece trainer's trick): each round computes pair
    * counts ONCE, collects the top-`topCap` candidates (bounded —
    * rank-ordered by count DESC, left ASC, right ASC), keeps up to
    * `p` compatible pairs ([[selectCompatible]]), and applies them
    * simultaneously in one fold. p x fewer driver round-trips than
    * [[fit]] for the same merge count; the `topCap` candidate window
    * is PART OF THE ALGORITHM CONTRACT (a round picks fewer than p
    * only if the window runs out of compatible pairs), so a DuckDB
    * oracle replays the walk exactly — q205 does. With p = 1 the walk
    * IS the classic greedy for any `topCap` ([[fit]] runs it at
    * topCap = 1; BpeTrainSpec asserts the law at the default window).
    * Ranks are global selection order (round-major). */
  def fitBatched(words: DataFrame, rounds: Int, p: Int,
                 topCap: Int = 64): Seq[Merge] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(p >= 1 && p <= topCap, s"need 1 <= p <= topCap, got p=$p cap=$topCap")
    var state = charState(words).localCheckpoint(true)
    var merges = Vector.empty[Merge]
    var dry = false
    var round = 0
    while (round < rounds && !dry) {
      val cands = state.filter(size(col("toks")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(toks) - 2)," +
            " i -> struct(toks[i] AS l, toks[i+1] AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(topCap) // TakeOrdered: bounded collect, one job per round
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val picked = selectCompatible(cands.toSeq, p)
      if (picked.isEmpty) dry = true
      else {
        merges ++= picked.zipWithIndex.map { case ((l, r, c), i) =>
          Merge(merges.size + i + 1, l, r, c)
        }
        val next = state
          .withColumn("toks",
            applyMergeBatch(col("toks"), picked.map(m => (m._1, m._2))))
          .localCheckpoint(true) // eager: materialized before the free
        freeCheckpoint(state)
        state = next
        round += 1
      }
    }
    freeCheckpoint(state)
    merges
  }

  /** Learn up to `rounds` merges from a (w, cnt) word vocabulary: the
    * classic one-merge-per-round greedy, i.e. [[fitBatched]] at p = 1
    * with a one-pair candidate window. Stops early if the corpus runs
    * dry (no adjacent pair left — every word fully merged). Returns the
    * merge table in rank order. */
  def fit(words: DataFrame, rounds: Int): Seq[Merge] =
    fitBatched(words, rounds, p = 1, topCap = 1)
}
