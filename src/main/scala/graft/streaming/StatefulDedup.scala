package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming exact deduplication — the ingest-time twin of
  * [[graft.ops.Dedup.exact]]: documents arrive on a stream and each
  * content-hash group's membership (canonical id = min doc_id, group
  * size, duplicate flags) refines as members show up, so a curation
  * pipeline can drop duplicates AT INGEST instead of re-scanning the
  * corpus per batch.
  *
  * Semantics contract: after any prefix of the stream, the latest
  * emission per doc_id equals batch `Dedup.exact` over exactly the
  * documents seen so far. A group re-emits all member rows whenever its
  * canonical id or size changes (the upsert pattern StatefulTopK uses),
  * so late arrival of a smaller doc_id re-canonicalizes its group —
  * convergence needs no ordering assumption at all. Replays are
  * idempotent (membership is a set).
  *
  * State: one entry per DISTINCT content hash, carrying the member-id
  * set — the streaming dedup table. Duplicate groups are tiny in real
  * corpora (the sf0.1 fixture's largest is <20), so state is O(distinct
  * texts)·O(1); at 100 TB the keyed state is hash-partitioned across
  * executors exactly like the batch Exchange on text_md5. Unbounded
  * key churn is bounded by [[dedupTtl]] (r15 verdict #3): groups idle
  * past the TTL horizon (default 6 hours — the reference's T4 horizon,
  * `table.exec.state.ttl = PT6H`, __main__.py:45) are EVICTED, and a
  * duplicate arriving after its group expired re-admits as a fresh
  * group — the accepted-missing divergence class every streaming dedup
  * trades for bounded state (StatefulTtlSpec pins both the eviction
  * and the exact prefix-equality below the horizon). The TTL clock is
  * EVENT TIME (watermark-driven, the StatefulSessionize idiom), not
  * wall clock: ProcessingTimeTimeout makes evictions depend on when a
  * replay RUNS (breaking the repo's restart-determinism invariant) and
  * its `shouldRunAnotherBatch = always` storms continuous empty
  * micro-batches under a 0-interval trigger — measured as a livelock
  * in this very spec before the switch. This [[dedup]] entry stays the
  * unbounded NoTimeout twin — the exact-prefix-equality contract.
  *
  * The md5 here is `java.security.MessageDigest` over UTF-8 bytes —
  * bit-identical to Spark's `md5()` column and DuckDB's `md5()`
  * (StatefulDedupSpec pins the streaming≡batch equality).
  */
object StatefulDedup {

  final case class DocIn(doc_id: Long, text: String)
  final case class DedupOut(doc_id: Long, text_md5: String,
                            canonical_id: Long, group_size: Long,
                            is_duplicate: Boolean)
  final case class GState(ids: Seq[Long])

  /** Lowercase md5 hex of the UTF-8 text — Spark md5() replayed. */
  def md5Hex(text: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8"))
    val sb = new StringBuilder(32)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  /** Shared per-group membership refinement: fold the batch's ids into
    * state, emit the full group on any change (the upsert pattern). */
  private def refine(hash: String, newIds: Iterator[Long],
                     state: GroupState[GState]): Iterator[DedupOut] = {
    val before = state.getOption.map(_.ids).getOrElse(Seq.empty)
    val ids = (before.toSet ++ newIds).toSeq.sorted
    state.update(GState(ids))
    if (ids != before) {
      val canonical = ids.head
      val size = ids.length.toLong
      ids.iterator.map(id =>
        DedupOut(id, hash, canonical, size, id != canonical))
    } else Iterator.empty
  }

  def dedup(stream: Dataset[DocIn]): Dataset[DedupOut] = {
    val spark = graft.io.LocalFs.session(stream)
    import spark.implicits._
    stream
      .map(doc => (md5Hex(doc.text), doc.doc_id))
      .groupByKey(_._1)
      .flatMapGroupsWithState[GState, DedupOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (hash: String, rows: Iterator[(String, Long)], state: GroupState[GState]) =>
          refine(hash, rows.map(_._2), state)
      }
  }

  /** Timestamped input for the TTL twin (event-time idle eviction). */
  final case class DocTs(doc_id: Long, text: String, ts: java.sql.Timestamp)

  /** [[dedup]] with bounded state (r15 verdict #3): groups idle past
    * `ttl` of EVENT time are evicted via EventTimeTimeout — the
    * timeout timestamp is the group's last activity + ttl, re-armed on
    * every arrival, and fires once the WATERMARK passes it (so "idle"
    * is measured on the data's own clock and a checkpoint replay
    * evicts identically — wall-clock TTL would not; see object
    * scaladoc). Below the horizon the emissions are the NoTimeout
    * twin's, exactly (StatefulTtlSpec); across it, a re-arriving
    * duplicate re-admits as a fresh group — the accepted-missing
    * trade. `watermarkDelay` is the usual lateness allowance. */
  def dedupTtl(stream: Dataset[DocTs], ttl: String = "6 hours",
               watermarkDelay: String = "0 seconds"): Dataset[DedupOut] = {
    val spark = graft.io.LocalFs.session(stream)
    import spark.implicits._
    val ttlMs = graft.streaming.EventTime.durationMs(ttl)
    stream
      .map(doc => (md5Hex(doc.text), doc.doc_id, doc.ts))
      .withWatermark("_3", watermarkDelay)
      .groupByKey(_._1)
      .flatMapGroupsWithState[GState, DedupOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (hash: String, rows: Iterator[(String, Long, java.sql.Timestamp)],
         state: GroupState[GState]) =>
          if (state.hasTimedOut) {
            // idle past the TTL horizon: evict — a later duplicate of
            // this content re-admits as a fresh group (scaladoc trade)
            state.remove()
            Iterator.empty
          } else {
            val rs = rows.toSeq
            val out = refine(hash, rs.iterator.map(_._2), state)
            // re-arm: last activity + ttl, floored above the current
            // watermark (setTimeoutTimestamp throws at or below it —
            // a fully-late batch still gets a one-ms grace)
            val lastMs = rs.iterator.map(_._3.getTime).max
            state.setTimeoutTimestamp(
              math.max(lastMs + ttlMs, state.getCurrentWatermarkMs + 1L))
            out
          }
      }
  }
}
