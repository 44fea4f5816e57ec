package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming hour-of-day seasonal profile — the bounded-lateness twin of
  * [[graft.ops.Seasonal.hourOfDayProfile]] (the StatefulLatency
  * `gapsBuffered` idea applied to a CENTERED window): the 2×24 MA needs
  * 12 future grid rows, so each center becomes computable exactly 12
  * rows after it arrives. Per key the state is a 25-entry ring of
  * (k, hour) grid points plus 24 slot accumulators (Σy as long, n, Σy²
  * as an exact decimal STRING — portable past 2⁶³); when the ring
  * fills, the center's detrended y = 48·k_c − (k_{−12} + 2·Σ_inner +
  * k_{+12}) is an exact long, its slot updates, and the oldest entry
  * drops. Emitted slot rows finish with the SAME sequences as batch
  * ((double)Σy / 48 / 10⁴ / n; √(string-parsed vnum) / (48·10⁴·n),
  * 6-dp snap), and all sums are associative — so the latest emission
  * per (key, hour) equals batch `hourOfDayProfile` over the full-window
  * centers seen so far, after any exactly-once prefix and chunking
  * (StatefulSeasonalSpec, incl. restart-from-checkpoint).
  *
  * Ordering contract: the input is a gap-filled GRID stream (one row
  * per key per hour); rows are sorted by grid_ts inside each
  * micro-batch, and batches must not interleave a key's grid out of
  * order across batches (a grid producer is monotone by construction).
  * Delivery: counting state — exactly-once source contract, like
  * StatefulCountMin/StatefulKmeans.
  *
  * State per key: 25 ring entries + 24 slots — O(1), the property that
  * keeps a live seasonal monitor viable on an unbounded tick ingest.
  */
object StatefulSeasonal {

  final case class GridIn(product_id: String, grid_ts: java.sql.Timestamp,
                          price: Double)
  final case class SlotOut(product_id: String, hour_od: Long, n_obs: Long,
                           seasonal: Double, sd_within: Double)
  final case class SeasState(ringK: Seq[Long], ringH: Seq[Int],
                             sy: Seq[Long], n: Seq[Long], sy2: Seq[String])

  /** Det.kl(price, 4) twin. */
  @inline private def kl4(v: Double): Long =
    math.floor(v * 1e4 + 0.5).toLong

  @inline private def snap6(x: Double): Double =
    math.floor(x * 1e6 + 0.5).toLong.toDouble / 1e6

  /** UTC hour-of-day of a grid timestamp (the sessions' micros→hour
    * arithmetic — exact integer division, no calendar object). */
  @inline private def hourOf(ts: java.sql.Timestamp): Int =
    (Math.floorDiv(ts.getTime, 3600000L) % 24L).toInt

  def profile(stream: Dataset[GridIn]): Dataset[SlotOut] = {
    val spark = graft.io.LocalFs.session(stream)
    // hourOf is epoch-arithmetic UTC; the batch twin's hour(grid_ts) is
    // session-timezone-dependent. The two agree only under a UTC
    // session — enforce that precondition instead of diverging silently.
    val tz = spark.conf.get("spark.sql.session.timeZone")
    require(Set("UTC", "Etc/UTC", "GMT", "Z", "+00:00")(tz),
      s"StatefulSeasonal.profile requires a UTC session timezone " +
        s"(batch twin derives hour_od via hour(); got '$tz')")
    import spark.implicits._
    stream
      .groupByKey(_.product_id)
      .flatMapGroupsWithState[SeasState, SlotOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[GridIn], state: GroupState[SeasState]) =>
          val s0 = state.getOption.getOrElse(SeasState(
            Seq.empty, Seq.empty,
            Seq.fill(24)(0L), Seq.fill(24)(0L), Seq.fill(24)("0")))
          val ringK = scala.collection.mutable.ArrayDeque.from(s0.ringK)
          val ringH = scala.collection.mutable.ArrayDeque.from(s0.ringH)
          val sy = s0.sy.toArray
          val n = s0.n.toArray
          val sy2 = s0.sy2.map(BigInt(_)).toArray
          val touched = scala.collection.mutable.SortedSet.empty[Int]
          rows.toSeq.sortBy(_.grid_ts.getTime).foreach { r =>
            ringK.append(kl4(r.price))
            ringH.append(hourOf(r.grid_ts))
            if (ringK.size == 25) {
              var inner = 0L
              var i = 1
              while (i < 24) { inner += ringK(i); i += 1 }
              val nBig = ringK.head + 2L * inner + ringK(24)
              val y = 48L * ringK(12) - nBig
              val h = ringH(12)
              sy(h) += y; n(h) += 1L; sy2(h) += BigInt(y) * BigInt(y)
              touched += h
              ringK.removeHead(); ringH.removeHead()
            }
          }
          state.update(SeasState(ringK.toSeq, ringH.toSeq,
            sy.toIndexedSeq, n.toIndexedSeq, sy2.map(_.toString).toIndexedSeq))
          touched.iterator.map { h =>
            val nn = n(h)
            val seasonal = snap6(sy(h).toDouble / 48 / 10000 / nn)
            val vnum = BigInt(nn) * sy2(h) - BigInt(sy(h)) * BigInt(sy(h))
            val sd = snap6(math.sqrt(
              java.lang.Double.parseDouble(vnum.toString)) / (480000.0 * nn))
            SlotOut(key, h.toLong, nn, seasonal, sd)
          }.toList.iterator
      }
  }
}
