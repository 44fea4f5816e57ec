package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Incremental streaming top-k similarity — maintain each query's exact
  * cosine top-k as corpus vectors arrive (the interactive-session
  * pattern: results refine as the stream grows, no batch recompute).
  *
  * State per query: the current top-k list — O(k), nothing else. Each
  * arriving vector is scored against every query (queries are few and
  * ride in the closure; the stream side is the big one) and inserted if
  * it beats the current k-th entry. Replayed vectors are idempotent: an
  * identical (score, vec_id) already in the list is skipped, and one
  * outside the top-k loses the same tie-break it lost before.
  *
  * Numeric contract: identical bits to Similarity.bruteForceTopK — the
  * same 1e-12 integer-grid dot product (DotProductGrid's exact formula),
  * the same IEEE finishing and 1e-6 snap, the same (cosine desc, vec_id
  * asc) tie-break. StatefulTopKSpec proves the upserted lists converge
  * to the batch ranking.
  */
object StatefulTopK {

  final case class VecIn(vec_id: Long, embedding: Seq[Float])
  final case class TopKOut(qid: Long, vec_id: Long, cosine: Double, rnk: Long)
  final case class QState(entries: Vector[(Double, Long)]) // (cosine, vec_id) sorted

  /** Σ floor(aᵢ·bᵢ·1e12 + 0.5) as Long — DotProductGrid, replayed. */
  private def dotL(a: Seq[Float], b: Seq[Float]): Long = {
    var s = 0L; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      s += math.floor(a(i).toDouble * b(i).toDouble * 1e12 + 0.5).toLong
      i += 1
    }
    s
  }

  private def snap6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** Batch-identical cosine from grid products. */
  private def cosine(dot: Long, nq: Long, nv: Long): Double =
    snap6((dot.toDouble / 1e12) / math.sqrt((nq.toDouble / 1e12) * (nv.toDouble / 1e12)))

  private val ord: Ordering[(Double, Long)] =
    Ordering.by[(Double, Long), (Double, Long)] { case (c, id) => (-c, id) }

  def topK(stream: Dataset[VecIn], queries: Seq[(Long, Seq[Float])],
           k: Int = 10): Dataset[TopKOut] = {
    val spark = graft.io.LocalFs.session(stream)
    import spark.implicits._
    val qs = queries.map { case (qid, qv) => (qid, qv.toArray, dotL(qv, qv)) }
      .filter(_._3 > 0L)

    stream
      .flatMap(v => qs.map(q => (q._1, v)))   // fan out: vector × query
      .groupByKey(_._1)
      .flatMapGroupsWithState[QState, TopKOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (qid: Long, rows: Iterator[(Long, VecIn)], state: GroupState[QState]) =>
          val (_, qv, nq) = qs.find(_._1 == qid).get
          var entries = state.getOption.map(_.entries).getOrElse(Vector.empty)
          val before = entries
          for ((_, v) <- rows if v.vec_id != qid) {
            val nv = dotL(v.embedding, v.embedding)
            if (nv > 0L) {
              val c = cosine(dotL(qv, v.embedding), nq, nv)
              val e = (c, v.vec_id)
              if (!entries.contains(e)) {
                entries = (entries :+ e).sorted(ord).take(k)
              }
            }
          }
          state.update(QState(entries))
          if (entries != before)
            entries.zipWithIndex.iterator.map { case ((c, id), i) =>
              TopKOut(qid, id, c, i + 1L)
            }
          else Iterator.empty
      }
  }
}
