package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming Count-Min frequency sketch — the ingest-time twin of
  * [[graft.ops.Approx.countMinCells]] with FIXED-size keyed state: one
  * exact counter per (row h, position) cell, at most width·depth cells
  * total regardless of how many distinct values the stream carries.
  * That O(1)-per-key-space bound is the whole point of CM at 100 TB —
  * heavy-hitter frequency tracking on an unbounded ingest where an
  * exact per-value count table grows with the data.
  *
  * Semantics contract: counter increments are associative and
  * commutative, so after any EXACTLY-ONCE stream prefix the latest
  * emission per cell equals the batch cell table over the rows seen so
  * far — micro-batch boundaries and arrival order cannot move a bit
  * (StatefulCountMinSpec pins it). Unlike the set-semantics operators
  * (StatefulDedup, StatefulKmv) a COUNTING sketch is NOT replay-
  * idempotent: redelivered rows double-count, so this operator belongs
  * behind an exactly-once source/checkpoint pair, while KMV tolerates
  * at-least-once. That distinction is the operator's documented
  * delivery-guarantee requirement, not a bug.
  *
  * The cell hash replays the batch column expression in compiled Scala:
  * first 12 md5 hex digits of "h:value" as an exact 48-bit integer,
  * mod width — bit-identical to `conv(substring(md5(concat(h,':',v)),
  * 1,12),16,10) % width` (same md5 hex, same exact parse; spec-pinned).
  *
  * Point estimates stay a read-side concern: est(v) = min over the
  * depth cells of v — the emitted cell stream IS the sketch, and any
  * consumer (or the batch audit `countmin_words`) computes mins from
  * it without extra state here.
  */
object StatefulCountMin {

  final case class CmIn(v: String)
  final case class Cell(h: Int, pos: Long)
  final case class CellOut(h: Int, pos: Long, c: Long)

  /** Compiled twin of the batch position expression. */
  def cellOf(h: Int, v: String, width: Int): Long =
    StatefulKmv.hv48(s"$h:$v") % width

  def cells(stream: Dataset[CmIn], width: Int = 256,
            depth: Int = 3): Dataset[CellOut] = {
    val spark = graft.io.LocalFs.session(stream)
    import spark.implicits._
    stream
      .flatMap(r => (0 until depth).iterator.map(h => Cell(h, cellOf(h, r.v, width))))
      .groupByKey(identity)
      .flatMapGroupsWithState[Long, CellOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (cell: Cell, rows: Iterator[Cell], state: GroupState[Long]) =>
          val c = state.getOption.getOrElse(0L) + rows.size
          state.update(c)
          Iterator.single(CellOut(cell.h, cell.pos, c))
      }
  }
}
