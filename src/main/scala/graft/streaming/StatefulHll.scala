package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming HyperLogLog registers — the ingest-time twin of
  * [[graft.ops.Approx.hllDistinct]] with FIXED keyed state: one
  * lowest-set-bit maximum per (key, bucket), at most m cells per key
  * REGARDLESS of stream cardinality.
  *
  * Delivery contract — the deliberate contrast inside the sketch suite:
  * the register update is max (idempotent + associative + commutative),
  * so REPLAYS AND DUPLICATES CANNOT MOVE A BIT — this operator is
  * at-least-once safe like [[StatefulBloom]]/[[StatefulKmv]], unlike
  * the counting [[StatefulCountMin]]/[[StatefulDrift]] which demand
  * exactly-once. After any prefix (with any duplication), the latest
  * cells equal the batch register table over the distinct values seen
  * (StatefulHllSpec pins it, plus the derived estimate against the
  * batch formula). Unchanged registers go quiet instead of re-emitting.
  *
  * The compiled hash/bucket/payload replays the batch column algebra
  * exactly: hv = first 12 md5 hex digits as a 48-bit integer
  * ([[StatefulKmv.hv48]] — spec-pinned against the column expression),
  * bucket = hv % m, g = (hv div m + 2^42) & −(…) — the identical
  * lowest-set-bit construction, all exact integers.
  */
object StatefulHll {

  final case class HllIn(key: String, value: String)
  final case class RegKey(key: String, bucket: Int)
  final case class RegOut(key: String, bucket: Int, gmax: Long)

  /** Compiled twin of the batch bucket/payload columns. */
  def reg(v: String, m: Int): (Int, Long) = {
    val hv = StatefulKmv.hv48(v)
    val x = (hv / m) + (1L << 42)
    ((hv % m).toInt, x & -x)
  }

  def cells(stream: Dataset[HllIn], m: Int = 64): Dataset[RegOut] = {
    val spark = graft.io.LocalFs.session(stream)
    import spark.implicits._
    stream
      .map { r => val (b, g) = reg(r.value, m); RegKey(r.key, b) -> g }
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, RegOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: RegKey, rows: Iterator[(RegKey, Long)], state: GroupState[Long]) =>
          val before = state.getOption.getOrElse(0L)
          val after = rows.foldLeft(before)((acc, r) => math.max(acc, r._2))
          if (after == before) Iterator.empty
          else {
            state.update(after)
            Iterator.single(RegOut(k.key, k.bucket, after))
          }
      }
  }

  /** Read-side estimate from a register table — the batch finishing
    * sequence ([[graft.ops.Approx.hllDistinct]]): exact dyadic harmonic
    * sum, one floating division, 6-dp snap. */
  def estimateFromCells(cells: Map[(String, Int), Long], m: Int): Map[String, Double] = {
    val z = 1L << 43
    cells.groupBy(_._1._1).map { case (key, kc) =>
      val s1 = kc.values.map(g => z / (2 * g)).sum
      val sden = s1 + (m - kc.size).toLong * z
      val est = graft.ops.Approx.hllAlphaNum(m) / sden.toDouble
      key -> (math.floor(est * 1e6 + 0.5) / 1e6)
    }
  }
}
