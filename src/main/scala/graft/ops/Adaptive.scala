package graft.ops

/** Process-level override that forces every size-adaptive operator onto
  * its distributed (100 TB) branch, regardless of input size.
  *
  * The adaptive operators (Ranks.ntileByRange / runningSumByRange,
  * ConnectedComponents.clusters, GraphQueries.pagerank,
  * Similarity.cosineNearDupPairsAuto's maxBucket cap, StreamingJob's
  * micro-batch driver path) each pick between
  * a small-input fast path and a distributed path that is bit-identical
  * by construction. At contract scale (sf ≤ 0.1) every input sits under
  * the thresholds, so the distributed branches would only ever run in
  * toy-scale specs — this knob exists so a FULL Verify + DuckDB oracle
  * pass can be executed with the 100×-scale branches live:
  *
  * {{{
  * SPARK_GRAFT_FORCE_DISTRIBUTED=1 sbt "runMain graft.Verify /root/testdata/sf0.1 /tmp/vf"
  * python3 tools/check_oracle.py /root/testdata/sf0.1 /tmp/vf
  * }}}
  *
  * (docs/SCALE.md records the green runs.) The system property form
  * (`graft.force.distributed`) is for in-JVM tests
  * (ThresholdForcingSpec); the env form is for the sbt entry points.
  * Read per call — never cached — so a spec can flip it around a block.
  */
object Adaptive {

  def forceDistributed: Boolean =
    sys.props.get("graft.force.distributed")
      .orElse(sys.env.get("SPARK_GRAFT_FORCE_DISTRIBUTED"))
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))

  /** Small-side threshold honoring the override: −1 sits below any
    * row count / byte size, so `x <= threshold` can never choose the
    * small-input branch when forcing is on. */
  def threshold(default: Long): Long = if (forceDistributed) -1L else default
}
