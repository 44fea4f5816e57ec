package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming CUSUM — the incremental form of [[graft.ops.Cusum]]: per
  * key, O(1) integer state (reference k, prefix sum P, running min of P,
  * running max of S, alarm count) folded as ticks arrive, emitting the
  * key's refreshed summary whenever it changes (upsert downstream).
  *
  * Because every folded quantity is an exact grid long and integer
  * arithmetic is associative, the micro-batch grouping cannot change any
  * bit: the final upserted rows equal the batch window formulation
  * exactly (StatefulCusumSpec). Each key's rows fold through
  * [[KeyedFold]]: exact (event micros, sequence) order, rows at or
  * behind the key's high-water mark dropped.
  */
object StatefulCusum {

  final case class TickIn(product_id: String, event_time: java.sql.Timestamp,
                          sequence: Long, price: Double)

  final case class CusumState(refSet: Boolean, ref: Long, lastUs: Long, lastSeq: Long,
                              p: Long, minP: Long, maxS: Long, finalS: Long,
                              n: Long, nAlarms: Long)

  final case class CusumOut(product_id: String, n_ticks: Long, n_alarms: Long,
                            max_s: Double, final_s: Double)

  def cusum(ticks: Dataset[TickIn], scale: Int, driftK: Long, threshK: Long): Dataset[CusumOut] = {
    val spark = graft.io.LocalFs.session(ticks)
    import spark.implicits._
    val pow = s"1e$scale".toDouble

    ticks
      .groupByKey(_.product_id)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[TickIn], state: GroupState[CusumState]) =>
          val zero = CusumState(refSet = false, 0L, Long.MinValue, Long.MinValue,
            0L, 0L, 0L, 0L, 0L, 0L)
          KeyedFold(rows, state.getOption, zero)(
              _.event_time, _.sequence, st => (st.lastUs, st.lastSeq)) { (st, t, us) =>
            // same pure-IEEE grid mapping as Det.kl
            val k = math.floor(t.price * pow + 0.5).toLong
            val ref = if (st.refSet) st.ref else k
            val p = st.p + (k - ref - driftK)
            val minP = math.min(st.minP, p)
            val s = p - math.min(minP, 0L)
            CusumState(refSet = true, ref, us, t.sequence,
              p, minP, math.max(st.maxS, s), s,
              st.n + 1L, st.nAlarms + (if (s > threshK) 1L else 0L))
          }.map { st =>
            state.update(st)
            CusumOut(key, st.n, st.nAlarms, st.maxS.toDouble / pow, st.finalS.toDouble / pow)
          }.iterator
      }
  }

  /** DataFrame adapter over raw (product_id, event_time, sequence, price). */
  def apply(ticks: DataFrame, scale: Int, driftK: Long, threshK: Long): DataFrame = {
    val spark = ticks.sparkSession
    import spark.implicits._
    cusum(ticks.select(col("product_id").cast("string"), col("event_time"),
      col("sequence").cast("long"), col("price").cast("double")).as[TickIn],
      scale, driftK, threshK).toDF()
  }
}
