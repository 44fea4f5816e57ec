package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming exact-substring duplicate detection — the ingest-time twin
  * of the batch ExactSubstr query (Lee et al. 2022;
  * [[graft.queries.CorpusQueries]] `dedup_substring`): documents arrive
  * on a stream, each length-L char window lands in state keyed by its
  * window md5, and a duplicated window START (doc_id, pos) is emitted
  * the moment the window's SECOND occurrence anywhere in the corpus
  * shows up — so contaminated spans are flagged at ingest without
  * re-scanning history.
  *
  * Semantics contract (StatefulSubstringSpec): after any stream prefix,
  * the accumulated emitted starts are EXACTLY the batch query's
  * duplicated window starts over the documents seen so far, so piping
  * them through the shared island merge
  * ([[graft.queries.CorpusQueries.substrSpansFromStarts]]) reproduces
  * the batch spans bit-for-bit. Spans — unlike starts — can GROW when a
  * later document duplicates more of an earlier one, which is why the
  * stream's append-only unit is the start event (emitted at most once
  * per (doc_id, pos), values immutable) and the merge is a finishing
  * step, exactly how StatefulNearDup emits immutable candidate pairs
  * and leaves clustering downstream.
  *
  * The window pipeline is replayed in compiled Scala bit-identically to
  * the batch column expressions: same 1-based substr positions 1 ≤ pos ≤
  * len − L + 1, same md5-of-window key (ASCII fixture text and UTF-8
  * agree per CorpusHex's conventions), same global ≥2 occurrence rule
  * counting EVERY occurrence — including multiple windows of the same
  * document (a doc self-repeating a 40-char run is a duplicate by the
  * paper's criterion, and the batch window count has no per-doc
  * distinct).
  *
  * State: one entry per window md5 holding its occurrences (doc_id,
  * pos). Σchars entries — the inherent ExactSubstr cost, the same rows
  * the batch side shuffles; the keyed state is hash-partitioned across
  * executors like the batch Exchange on the window hash. Replays are
  * idempotent (occurrence membership is checked before emitting).
  * Long-running feeds would add a state TTL and accept missed
  * duplicates across the expiry horizon — the standard trade.
  */
object StatefulSubstring {

  final case class DocIn(doc_id: Long, text: String)
  /** A duplicated length-L window start — the batch query's
    * pre-island-merge row. */
  final case class StartOut(doc_id: Long, pos: Long)
  final case class GState(members: Seq[(Long, Long)], emitted: Boolean)

  private def md5Hex(s: String): String = StatefulDedup.md5Hex(s)

  /** Emitted duplicated window starts for a document stream; `l` is the
    * ExactSubstr threshold (the contract's
    * [[graft.queries.CorpusQueries.SubstrL]] by default). */
  def starts(stream: Dataset[DocIn],
             l: Int = graft.queries.CorpusQueries.SubstrL): Dataset[StartOut] = {
    val spark = graft.io.LocalFs.session(stream)
    import spark.implicits._
    stream
      .flatMap { doc =>
        val t = doc.text
        if (t == null || t.length < l) Iterator.empty
        else (1 to t.length - l + 1).iterator.map { pos =>
          (md5Hex(t.substring(pos - 1, pos - 1 + l)), doc.doc_id, pos.toLong)
        }
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState[GState, StartOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows0: Iterator[(String, Long, Long)],
         state: GroupState[GState]) =>
          val st = state.getOption.getOrElse(GState(Seq.empty, emitted = false))
          var members = st.members
          // replay-idempotent: only occurrences not already in state are
          // fresh; deterministic order so re-chunked feeds emit equally
          val fresh = rows0.map(r => (r._2, r._3)).toSeq
            .filterNot(members.contains).distinct.sorted
          if (fresh.isEmpty) Iterator.empty
          else {
            val hadBefore = members
            members = members ++ fresh
            state.update(GState(members, st.emitted || members.size >= 2))
            if (members.size < 2) Iterator.empty
            else {
              // second occurrence arrived: release any held singleton
              // occurrence(s) plus the fresh ones, exactly once each
              val toEmit = if (st.emitted) fresh else hadBefore ++ fresh
              toEmit.iterator.map { case (id, pos) => StartOut(id, pos) }
            }
          }
      }
  }
}
