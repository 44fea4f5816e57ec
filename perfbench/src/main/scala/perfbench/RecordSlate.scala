package perfbench

/** Records `slate.tsv`, the expected fingerprints of the contract slate.
  *
  * {{{
  * perfbench.RecordSlate <dataDir> <slate.tsv> [query ...]
  * }}}
  *
  * Runs each query over `dataDir/events.parquet` (the benchmark's is
  * `perfbench/data`) twice and records the fingerprint of the second
  * run, printing both wall times to stderr. Record only after the same queries' outputs
  * over the same fixture were graded exact by the DuckDB oracle
  * (`graft.Verify` with `SPARK_GRAFT_VERIFY_ONLY`, then
  * `tools/check_oracle.py`). With no queries named, the slate is used. */
object RecordSlate {
  def main(args: Array[String]): Unit = {
    val Array(dir, outFile) = args.take(2)
    val names = if (args.length > 2) args.drop(2).toSeq else ContractSlate.Eager ++ ContractSlate.Short
    val n = Runtime.getRuntime.availableProcessors
    val workDir = s"${System.getProperty("java.io.tmpdir")}/perfbench-record"
    val spark = Main.session(n, workDir)
    val tracer = new Tracer(spark, false)
    val lines = names.map { q =>
      val (b1, a1, _) = ContractSlate.runOne(spark, tracer, dir, q)
      val (b2, a2, p) = ContractSlate.runOne(spark, tracer, dir, q)
      System.err.println(f"$q%-24s first ${b1 + a1}%9.1f ms  second ${b2 + a2}%9.1f ms " +
        f"(body ${b2}%.1f, action ${a2}%.1f)")
      s"$q\t${ContractSlate.group(q)}\t$p"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      "# name\tgroup\trows\txxhash64_sum\tmurmur3_sum\n" + lines.mkString("", "\n", "\n"))
    spark.stop()
    Jvm.deleteTree(new java.io.File(workDir))
  }
}
