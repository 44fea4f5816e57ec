package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming per-dimension feature scaler — the incremental form of the
  * moments `embed_standardize` consumes: vectors arrive on the stream,
  * state per DIMENSION is the exact-grid moment triple (n, Σk, Σk²)
  * with k = floor(x·10⁶ + 0.5), and every batch emits the refreshed
  * (mean, population sd) per dimension (upsert semantics downstream) —
  * a live feature-normalization service whose scalers never drift from
  * a batch recomputation.
  *
  * Exactness: sums are exact integers (Σk a checked long, Σk² a BigInt
  * carried as a string like StatefulSeasonal's within-slot sums), and
  * the finishing sequence is fixed: mean = (double)Σk / 10⁶ / n;
  * sd = √(string→double(n·Σk² − (Σk)²)) / (10⁶ · (double)n) — the
  * exact-decimal-string route, correctly rounded at any magnitude —
  * so the latest emission is BIT-IDENTICAL to the same formula over
  * all rows seen (StatefulScalerSpec: prefix equality, chunking
  * invariance, checkpoint restart). State is dim-bounded — O(1) per
  * key, |dims| keys — the codebook-bounded pattern.
  */
object StatefulScaler {

  final case class VecIn(vec_id: Long, embedding: Seq[Float])
  final case class DimState(n: Long, sk: Long, sk2: String)
  final case class DimOut(pos: Long, n_obs: Long, mean: Double, sd_pop: Double)

  /** Det.kl(v, 6) twin on a float element. */
  @inline private[streaming] def kl6(v: Float): Long =
    math.floor(v.toDouble * 1e6 + 0.5).toLong

  @inline private def snap6(x: Double): Double =
    math.floor(x * 1e6 + 0.5) / 1e6

  /** The canonical finishing sequence shared with the spec's batch
    * recomputation: exact moments in, snapped (mean, sd_pop) out. */
  private[streaming] def finish(n: Long, sk: Long, sk2: BigInt): (Double, Double) = {
    val mean = snap6(sk.toDouble / 1e6 / n)
    val vnum = BigInt(n) * sk2 - BigInt(sk) * BigInt(sk)
    val sd = snap6(math.sqrt(java.lang.Double.parseDouble(vnum.toString)) /
      (1e6 * n.toDouble))
    (mean, sd)
  }

  def refresh(stream: Dataset[VecIn]): Dataset[DimOut] = {
    val spark = graft.io.LocalFs.session(stream)
    import spark.implicits._
    stream
      .flatMap(v => v.embedding.iterator.zipWithIndex
        .map { case (x, j) => (j.toLong, kl6(x)) })
      .groupByKey(_._1)
      .flatMapGroupsWithState[DimState, DimOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (pos: Long, rows: Iterator[(Long, Long)], state: GroupState[DimState]) =>
          val s0 = state.getOption.getOrElse(DimState(0L, 0L, "0"))
          var n = s0.n
          var sk = s0.sk
          var sk2 = BigInt(s0.sk2)
          rows.foreach { case (_, k) =>
            n += 1L
            // addExact: match batch ANSI overflow (throw, not wrap)
            sk = Math.addExact(sk, k)
            sk2 += BigInt(k) * BigInt(k)
          }
          if (n == s0.n) Iterator.empty
          else {
            state.update(DimState(n, sk, sk2.toString))
            val (mean, sd) = finish(n, sk, sk2)
            Iterator.single(DimOut(pos, n, mean, sd))
          }
      }
  }
}
