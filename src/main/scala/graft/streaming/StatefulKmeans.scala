package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming k-means / IVF centroid refresh under a FROZEN codebook —
  * the index-maintenance half of the ANN story (the ingest half is
  * StatefulDedup/StatefulNearDup; the serving half is PQ/IVF): as
  * vectors stream in, each cell keeps the exact sufficient statistic
  * for its NEXT centroid (per-dimension 1e-12 grid-long sums + member
  * count), so at any moment the emitted centroid equals the batch
  * Lloyd-step recomputation over the rows seen so far — the codebook
  * refresh an IVF index runs periodically, maintained incrementally
  * instead of by corpus re-scan.
  *
  * Semantics contract: cell assignment is the SAME compiled kernel as
  * batch ([[graft.ops.Similarity.argminCell]] — exact grid distances,
  * ties to the smaller cluster id), and the state is the same exact
  * algebra the batch `Det.avgD(·, 12)` aggregate sums (`floor(v·1e12 +
  * 0.5)` longs per dimension), finished with the identical sequence
  * `(double)Σk / 1e12 / n`. Long sums are associative + commutative, so
  * chunking and arrival order cannot move a bit — latest emission per
  * cluster ≡ batch after ANY exactly-once prefix (StatefulKmeansSpec,
  * including restart-from-checkpoint).
  *
  * Delivery contract: like StatefulCountMin (counting state), sums are
  * NOT replay-idempotent — redelivery double-counts — so this belongs
  * behind an exactly-once source/checkpoint pair; the set-semantics
  * twins (StatefulKmv/StatefulDedup/StatefulBloom) are the
  * at-least-once-safe family.
  *
  * State: one (dim longs + count) per ACTIVE cell — O(k·dim) total
  * regardless of ingest volume, the fixed-size property that makes a
  * live codebook viable on an unbounded 100 TB vector stream.
  */
object StatefulKmeans {

  final case class VecIn(vec_id: Long, embedding: Seq[Float])
  final case class CentOut(cluster: Int, n_members: Long, centroid: Seq[Double])
  final case class CellState(sums: Seq[Long], n: Long)

  /** Det.kl(v, 12) twin on a float element — identical bits to the
    * batch column `floor(v·1e12 + 0.5) CAST LONG`. */
  @inline private def kl12(v: Float): Long =
    math.floor(v.toDouble * 1e12 + 0.5).toLong

  def refresh(stream: Dataset[VecIn],
              codebook: Array[(Int, Array[Double])]): Dataset[CentOut] = {
    val spark = graft.io.LocalFs.session(stream)
    import spark.implicits._
    val dim = if (codebook.isEmpty) 0 else codebook.head._2.length
    stream
      .groupByKey(v => graft.ops.VecKernels.argminCell(codebook, v.embedding.toArray)._1)
      .flatMapGroupsWithState[CellState, CentOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (cid: Int, rows: Iterator[VecIn], state: GroupState[CellState]) =>
          val s0 = state.getOption.getOrElse(CellState(Seq.fill(dim)(0L), 0L))
          val sums = s0.sums.toArray
          var n = s0.n
          rows.foreach { r =>
            val e = r.embedding
            var i = 0
            // addExact: batch ANSI mode throws on Long overflow — the
            // streaming twin must fail loudly too, not wrap silently.
            while (i < dim) {
              sums(i) = Math.addExact(sums(i), kl12(e(i))); i += 1
            }
            n += 1L
          }
          if (n == s0.n) Iterator.empty
          else {
            state.update(CellState(sums.toIndexedSeq, n))
            // batch finishing sequence: (double)Σk / 1e12 / n per dim
            val cent = sums.map(k => k.toDouble / 1e12 / n).toIndexedSeq
            Iterator.single(CentOut(cid, n, cent))
          }
      }
  }
}
