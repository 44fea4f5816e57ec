package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming distribution monitor — the ingest-time feed for the
  * ks_drift audit (DocQueries): one exact counter per (source, value)
  * histogram cell, maintained in keyed state and re-emitted whenever it
  * changes. The emitted latest cells ARE the per-source ECDF histogram:
  * after any exactly-once prefix they equal the batch
  * `groupBy(source, value).count()` table over the rows seen so far, so
  * a consumer computes the pairwise Kolmogorov–Smirnov statistic
  * D = max_v |c_a·n_b − c_b·n_a|/(n_a·n_b) from cells alone — the same
  * all-integer formula as the batch query, no extra state here
  * (StatefulDriftSpec pins cells≡batch AND the derived D against the
  * batch formula).
  *
  * State bound: |sources|·|distinct values| cells. Like the batch twin,
  * this presumes a BOUNDED value domain (n_chars-like integral
  * measures); for continuous or unbounded domains, bucket BEFORE the
  * operator — an unbucketed high-cardinality value column would grow
  * state with the data, which is exactly what the fixed-domain
  * histogram exists to avoid.
  *
  * Delivery contract: counters are associative+commutative (order and
  * micro-batch boundaries cannot move a bit) but NOT replay-idempotent —
  * redelivery double-counts, so this belongs behind an exactly-once
  * source/checkpoint pair, same as [[StatefulCountMin]] and unlike the
  * set-semantics [[StatefulKmv]]/[[StatefulDedup]].
  */
object StatefulDrift {

  final case class DriftIn(source: String, v: Long)
  final case class CellKey(source: String, v: Long)
  final case class DriftCell(source: String, v: Long, c: Long)

  def cells(stream: Dataset[DriftIn]): Dataset[DriftCell] = {
    val spark = graft.io.LocalFs.session(stream)
    import spark.implicits._
    stream
      .map(r => CellKey(r.source, r.v))
      .groupByKey(identity)
      .flatMapGroupsWithState[Long, DriftCell](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: CellKey, rows: Iterator[CellKey], state: GroupState[Long]) =>
          val c = state.getOption.getOrElse(0L) + rows.size
          state.update(c)
          Iterator.single(DriftCell(key.source, key.v, c))
      }
  }

  /** Read-side KS from a cell table — the exact integer formula shared
    * with the batch ks_drift query, for consumers of the emitted cells
    * (and for the spec's cells→D equality proof). Returns
    * ((srcA, srcB), (numerator, nA, nB)) with D = num/(nA·nB). */
  def ksFromCells(cells: Map[(String, Long), Long]): Map[(String, String), (Long, Long, Long)] = {
    val sources = cells.keys.map(_._1).toSeq.distinct.sorted
    val values = cells.keys.map(_._2).toSeq.distinct.sorted
    val totals = sources.map(s => s -> values.map(v => cells.getOrElse((s, v), 0L)).sum).toMap
    val cums = sources.map { s =>
      s -> values.scanLeft(0L)((acc, v) => acc + cells.getOrElse((s, v), 0L)).tail
    }.toMap
    (for {
      i <- sources.indices; j <- (i + 1) until sources.length
      a = sources(i); b = sources(j)
    } yield {
      val num = values.indices
        .map(x => math.abs(cums(a)(x) * totals(b) - cums(b)(x) * totals(a))).max
      (a, b) -> ((num, totals(a), totals(b)))
    }).toMap
  }
}
