package graft.streaming

import org.apache.spark.sql.Dataset

import graft.operators.Postings

/** Streaming inverted-index maintenance — the incremental twin of
  * q190's batch postings-compression audit. As (term, docId) postings
  * ARRIVE, the per-term state folds the same block-resynchronized
  * LEB128 delta coding the batch window computes: a new id in the same
  * [[Postings.Block]]-id block as its predecessor costs the varint of
  * the gap; the first id of a fresh block re-anchors at the varint of
  * id+1. State is THREE longs per term (last id, df, byte total) — the
  * O(1)-state property that makes a real index writer appendable.
  *
  * Why stream == batch, exactly: the batch kernel's per-(term, block)
  * lag sees, for every posting, its immediate predecessor within the
  * block — and for a doc-id-sorted append feed that predecessor is
  * precisely the last id the stream folded. Gap-vs-anchor is decided by
  * block membership of (previous, current) in both forms, and the byte
  * cost comes from the SAME [[Postings.LebThresholds]], so the folded
  * (df, varint_bytes) is bit-identical for ANY micro-batch split
  * ([[graft.PostingsStreamSpec]] proves it, splits included).
  *
  * Append-order contract: an index ingests docs in id order, so per
  * term the ids arrive non-decreasing ACROSS batches (within a batch
  * any order is fine — the fold re-sorts). Ids <= the folded cursor are
  * absorbed as at-least-once replays (a posting has no payload to
  * contradict, so redelivery is indistinguishable from — and identical
  * to — the already-folded event; this makes whole-batch replays
  * idempotent: set semantics, so [[StateFold.keyed]] alone, without
  * [[StateFold.inOrder]]'s contradictory-value case).
  */
object PostingsStream {

  /** Per-term state: cursor + running encoded size. */
  final case class PostState(lastDoc: Long, df: Long, bytes: Long)

  /** Output per touched term: (term, df, varint_bytes, last_doc). */
  type Out = (String, Long, Long, Long)

  /** Pure shared kernel: fold one slice of doc ids for one term. */
  def foldSlice(ids: Seq[Long], state: Option[PostState]): PostState = {
    var st = state.getOrElse(PostState(-1L, 0L, 0L))
    ids.sorted.foreach { id =>
      require(id >= 0L, s"doc ids must be non-negative, got $id")
      if (id <= st.lastDoc) {
        // at-least-once replay of an already-folded posting: absorb
      } else {
        val cost =
          if (st.df > 0L && st.lastDoc / Postings.Block == id / Postings.Block)
            Postings.lebBytesLong(id - st.lastDoc) // in-block delta
          else Postings.lebBytesLong(id + 1L)      // block re-anchor
        st = PostState(id, st.df + 1L, st.bytes + cost)
      }
    }
    st
  }

  /** rows: (term, docId). Emits the latest per-term index stats
    * (Update-mode semantics). */
  def maintain(rows: Dataset[(String, Long)]): Dataset[Out] = {
    import rows.sparkSession.implicits._
    StateFold.keyed(rows, (_: (String, Long))._1) {
      (term: String, slice: Seq[(String, Long)], stored: Option[PostState]) =>
        val st = foldSlice(slice.map(_._2), stored)
        (Some(st), Seq((term, st.df, st.bytes, st.lastDoc)))
    }
  }

  /** Batch reference the spec holds the stream to: the q190 kernel. */
  def batchReference(postings: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    Postings.encode(postings, "term", "doc_id")
}
