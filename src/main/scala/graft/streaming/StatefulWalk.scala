package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming walk-corpus extension — the incremental form of
  * [[graft.ops.RandomWalk.walks]]: walk START nodes arrive on the
  * stream (the frontier of a growing crawl / entity feed), the graph's
  * adjacency is driver-held like StatefulKmeans's codebook, and every
  * arrival of a node ADVANCES that node's walk by `stepsPerIngest`
  * seeded md5 draws, emitting the new (walk_id, step, node) corpus rows.
  * Keyed state is the walk frontier: current node, steps taken, alive
  * flag — O(1) per key.
  *
  * Determinism: the draw for step t is the SAME
  * `md5("<prefix>:<walk_id>:<t>")₄₈ mod deg` pick against the same
  * y-ascending neighbor ranking the batch operator uses, and every
  * value is an exact long — so the emitted corpus after any ingest
  * history is BIT-IDENTICAL to `RandomWalk.walks` run at the matching
  * total length (StatefulWalkSpec proves prefix equality, chunking
  * invariance, incremental extension, and checkpoint restart).
  * Duplicate arrivals within one batch each advance one round; walks
  * at sinks (no outgoing edge) park (`alive = false`) and ignore
  * further arrivals. The adjacency map is sorted defensively at entry.
  *
  * Scale note: this is the serving-side twin for graph families whose
  * adjacency fits driver memory (codebook-bounded, like the IVF/kmeans
  * streaming twins). The batch operator remains the path for
  * cluster-scale edge lists.
  */
object StatefulWalk {

  final case class StartIn(node: Long)
  final case class WalkState(cur: Long, steps: Long, alive: Boolean)
  final case class WalkOut(walk_id: Long, step: Long, node: Long)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The batch operator's 48-bit seeded draw, bit-for-bit. */
  private def draw(prefix: String, walkId: Long, t: Long): Long =
    java.lang.Long.parseLong(md5hex(s"$prefix:$walkId:$t").take(12), 16)

  /** Keyed frontier of the node2vec walker: (prev, cur) — the biased
    * transition reads the previous hop — plus steps taken and the alive
    * flag. `hasPrev` stands in for Option (step 1 has no previous node
    * and collapses to the uniform draw, exactly the batch law). */
  final case class BiasedState(cur: Long, prev: Long, hasPrev: Boolean,
                               steps: Long, alive: Boolean)

  /** Streaming twin of [[graft.ops.RandomWalk.biasedWalks]]: the same
    * integer node2vec weights (wReturn if x == prev, wCommon if (prev,x)
    * is an edge, wOut otherwise) and the same cumulative-weight pick
    * under the same seeded 48-bit draw, advanced `stepsPerIngest` steps
    * per arrival — so the emitted corpus after any ingest history is
    * BIT-IDENTICAL to the batch operator at the matching total length
    * (StatefulBiasedWalkSpec proves prefix equality, chunking
    * invariance, incremental extension, and checkpoint restart). */
  def extendBiased(starts: Dataset[StartIn], adjacency: Map[Long, Seq[Long]],
                   stepsPerIngest: Int,
                   wReturn: Long = 4L, wCommon: Long = 2L, wOut: Long = 1L,
                   seedPrefix: String = "n2v"): Dataset[WalkOut] = {
    require(stepsPerIngest >= 1, "stepsPerIngest must be >= 1")
    require(wReturn > 0 && wCommon > 0 && wOut > 0,
      "node2vec weights must be positive")
    val spark = graft.io.LocalFs.session(starts)
    import spark.implicits._
    val adj: Map[Long, Array[Long]] =
      adjacency.map { case (k, v) => k -> v.toArray.sorted }
    // distance-1 test against the sorted neighbor arrays (the batch
    // operator's LEFT edge probe, driver-held like the adjacency)
    def isEdge(p: Long, x: Long): Boolean =
      adj.get(p).exists(ns => java.util.Arrays.binarySearch(ns, x) >= 0)
    starts
      .groupByKey(_.node)
      .flatMapGroupsWithState[BiasedState, WalkOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (walkId: Long, rows: Iterator[StartIn], state: GroupState[BiasedState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[WalkOut]
          var st = state.getOption.getOrElse {
            out += WalkOut(walkId, 0L, walkId)
            BiasedState(walkId, 0L, hasPrev = false, 0L, adj.contains(walkId))
          }
          var arrivals = rows.size
          while (arrivals > 0 && st.alive) {
            var i = 0
            var cur = st.cur
            var prev = st.prev
            var hasPrev = st.hasPrev
            var steps = st.steps
            var alive = st.alive
            while (i < stepsPerIngest && alive) {
              adj.get(cur) match {
                case Some(ns) =>
                  val t = steps + 1L
                  // integer weights in the batch y-ascending order, then
                  // the cumulative-interval pick under draw mod Σw
                  val wts = new Array[Long](ns.length)
                  var tot = 0L
                  var j = 0
                  while (j < ns.length) {
                    val x = ns(j)
                    wts(j) =
                      if (hasPrev && x == prev) wReturn
                      else if (hasPrev && isEdge(prev, x)) wCommon
                      else wOut
                    tot += wts(j)
                    j += 1
                  }
                  val r = draw(seedPrefix, walkId, t) % tot
                  var acc = 0L
                  var pick = -1
                  j = 0
                  while (pick < 0 && j < ns.length) {
                    acc += wts(j)
                    if (r < acc) pick = j
                    j += 1
                  }
                  prev = cur
                  hasPrev = true
                  cur = ns(pick)
                  out += WalkOut(walkId, t, cur)
                  steps = t
                case None => alive = false
              }
              i += 1
            }
            st = BiasedState(cur, prev, hasPrev, steps, alive)
            arrivals -= 1
          }
          state.update(st)
          out.iterator
      }
  }

  def extend(starts: Dataset[StartIn], adjacency: Map[Long, Seq[Long]],
             stepsPerIngest: Int,
             seedPrefix: String = "walk"): Dataset[WalkOut] = {
    require(stepsPerIngest >= 1, "stepsPerIngest must be >= 1")
    val spark = graft.io.LocalFs.session(starts)
    import spark.implicits._
    // y-ascending neighbor ranking — the batch row_number(ORDER BY ny)
    val adj: Map[Long, Array[Long]] =
      adjacency.map { case (k, v) => k -> v.toArray.sorted }
    starts
      .groupByKey(_.node)
      .flatMapGroupsWithState[WalkState, WalkOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (walkId: Long, rows: Iterator[StartIn], state: GroupState[WalkState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[WalkOut]
          var st = state.getOption.getOrElse {
            // first arrival: emit the step-0 row, park isolated starts
            out += WalkOut(walkId, 0L, walkId)
            WalkState(walkId, 0L, adj.contains(walkId))
          }
          // every arrival (the first included) advances one round of
          // stepsPerIngest draws; the step-0 emit is free
          var arrivals = rows.size
          while (arrivals > 0 && st.alive) {
            var i = 0
            var cur = st.cur
            var steps = st.steps
            var alive = st.alive
            while (i < stepsPerIngest && alive) {
              adj.get(cur) match {
                case Some(ns) =>
                  val t = steps + 1L
                  cur = ns((draw(seedPrefix, walkId, t) % ns.length).toInt)
                  out += WalkOut(walkId, t, cur)
                  steps = t
                case None => alive = false
              }
              i += 1
            }
            st = WalkState(cur, steps, alive)
            arrivals -= 1
          }
          state.update(st)
          out.iterator
      }
  }
}
