package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming Bloom-filter build — the ingest-time twin of
  * [[graft.ops.BloomPrune.buildWords]] with FIXED-size keyed state: one
  * 64-bit word per bitmap word index (≤ bits/64 keys total, regardless
  * of how many distinct join keys the stream carries). This is the
  * runtime-filter side of a streaming pipeline: the small/dimension
  * side accretes keys live, and the maintained word table is at every
  * moment EXACTLY the filter a batch build over the keys-so-far would
  * produce, ready to prune the big side's scan.
  *
  * Semantics contract: bit-ORs are idempotent, associative and
  * commutative, so the latest emission per word equals the batch words
  * after ANY prefix under ANY chunking — including duplicate keys and
  * full replays (at-least-once delivery is fine, the deliberate
  * contrast with [[StatefulCountMin]]'s exactly-once requirement; both
  * are documented delivery contracts, spec-pinned). A word is emitted
  * only when its bits CHANGE, so a saturated filter goes quiet instead
  * of re-publishing m/64 rows per batch.
  *
  * The bit positions are [[graft.ops.BloomPrune.bitPos]] — the same
  * md5-derived kernel the batch build, the DuckDB oracle twin, and the
  * pruning membership test all share.
  */
object StatefulBloom {

  final case class KeyIn(k: Long)
  final case class WordOut(word_idx: Int, bits: Long)

  def words(stream: Dataset[KeyIn], bits: Int = 4096,
            hashes: Int = 3): Dataset[WordOut] = {
    require(bits % 64 == 0, "bits must pack into 64-bit words")
    val spark = graft.io.LocalFs.session(stream)
    import spark.implicits._
    stream
      .flatMap { r =>
        (0 until hashes).iterator.map { h =>
          val bp = graft.ops.BloomPrune.bitPos(h, r.k, bits)
          (bp >> 6, 1L << (bp & 63))
        }
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, WordOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (idx: Int, rows: Iterator[(Int, Long)], state: GroupState[Long]) =>
          val before = state.getOption.getOrElse(0L)
          val after = rows.foldLeft(before)((acc, r) => acc | r._2)
          if (after == before) Iterator.empty
          else {
            state.update(after)
            Iterator.single(WordOut(idx, after))
          }
      }
  }
}
