package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming K-minimum-values cardinality sketch — the ingest-time twin
  * of [[graft.ops.Approx.kmvDistinct]] with BOUNDED keyed state: per key
  * only the k smallest (hash, value) pairs are retained, which is the
  * whole point of the sketch (the batch form's `n_exact` error-report
  * column inherently needs the full distinct set and is batch-only;
  * everything the sketch itself knows — `kth_hv`, `estimate`, and the
  * retained size — matches the batch bits after any stream prefix).
  *
  * Semantics contract: after any prefix, the latest emission per key
  * equals batch kmvDistinct over the rows seen so far on the shared
  * columns (kth_hv, estimate; and while a key holds fewer than k
  * distinct values the sketch IS exact, so `n_sketch` = n_exact there
  * too). Duplicate values are idempotent set-inserts; values hashing
  * above the current k-th are dropped on arrival — so replays and
  * ordering cannot perturb the state (StatefulKmvSpec pins
  * streaming ≡ batch under both).
  *
  * State: ≤ k (Long, String) pairs per key — O(k·|keys|) total, the
  * fixed-size-sketch property that makes cardinality tracking viable on
  * an unbounded 100 TB ingest where exact distinct state would grow
  * with the data.
  */
object StatefulKmv {

  final case class KvIn(key: String, value: String)
  final case class KmvOut(key: String, n_sketch: Long,
                          kth_hv: Option[Long], estimate: Double)
  final case class KState(hvs: Seq[Long], vs: Seq[String])

  /** First 12 md5 hex digits as an exact 48-bit integer — the same
    * value as the batch side's `conv(substring(md5(v),1,12),16,10)`. */
  def hv48(v: String): Long =
    java.lang.Long.parseLong(StatefulDedup.md5Hex(v).substring(0, 12), 16)

  def sketch(stream: Dataset[KvIn], k: Int = 16): Dataset[KmvOut] = {
    val spark = graft.io.LocalFs.session(stream)
    import spark.implicits._
    stream
      .groupByKey(_.key)
      .flatMapGroupsWithState[KState, KmvOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[KvIn], state: GroupState[KState]) =>
          val before = state.getOption
            .map(s => s.hvs.zip(s.vs)).getOrElse(Seq.empty)
          // ordered exactly like the batch row_number: (hv, value)
          val set = scala.collection.mutable.SortedSet.from(before)
          rows.foreach { r =>
            val p = (hv48(r.value), r.value)
            // skip inserts that cannot enter the bottom-k (keeps the
            // working set at k even under huge batches)
            if (set.size < k || implicitly[Ordering[(Long, String)]].lt(p, set.last))
              set += p
            while (set.size > k) set -= set.last
          }
          val after = set.toSeq
          state.update(KState(after.map(_._1), after.map(_._2)))
          if (after == before) Iterator.empty
          else {
            val n = after.size.toLong
            if (n < k) Iterator.single(KmvOut(key, n, None, n.toDouble))
            else {
              val kth = after.last._1
              // batch finishing sequence: (k-1)·2^48 / (double)kth, 6-dp snap
              val est = math.floor(
                (k - 1).toDouble * graft.ops.Approx.KmvScale / kth.toDouble
                  * 1e6 + 0.5) / 1e6
              Iterator.single(KmvOut(key, n, Some(kth), est))
            }
          }
      }
  }
}
