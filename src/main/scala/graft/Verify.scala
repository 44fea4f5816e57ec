package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws is recorded in `failed.json` and makes the run exit non-zero. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir>")
    val sfDir = args(0); val outDir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Testdata events.parquet stores TIMESTAMP(NANOS); Spark reads it as
      // a nanos LongType under this flag (TickQueries converts to micros).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // "WindowExec: No Partition Defined" fires for the contract's
    // deliberately-GLOBAL rank/prefix frames, every one of which is
    // bounded (dimension-sized or stats-gated — see Ranks scaladoc).
    // Expected and audited; silenced so each run doesn't re-raise it.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // comma-separated subset for local iteration (default: every query);
    // the oracle_sql dump below filters to the same set so check_oracle
    // never reports missing spark output for unselected queries
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val failed = dump(spark, sfDir, outDir, SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) })
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Capacity decompositions (SparkEntry.oracleParts): per query, a
    // list of statements whose row union equals the full oracle —
    // check_oracle's --parts mode runs them one at a time when the
    // full statement exceeds the spill ceiling (100× tiers).
    val partsJson = SparkEntry.oracleParts
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, vs) =>
        s"${q(k)}: ${vs.map(q).mkString("[", ",", "]")}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_parts.json"), partsJson)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Writes each query's result to `$outDir/<name>` as parquet. Queries
    * that throw are returned and listed, with their error, in
    * `$outDir/failed.json` (absent when every query succeeds). */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[(String, String)] = {
    new java.io.File(outDir).mkdirs()
    Files.deleteIfExists(Paths.get(s"$outDir/failed.json"))
    // 4 queries in flight: most contract queries are small multi-stage
    // jobs whose wall-clock is scheduling gaps, not CPU — concurrent
    // submission lets the local scheduler fill the cores (queries are
    // independent; the shared session is thread-safe for job submission).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val tasks = queries.map { case (name, fn) =>
      pool.submit(new java.util.concurrent.Callable[Option[(String, String)]] {
        def call(): Option[(String, String)] =
          // repartition(1), NOT coalesce(1): coalesce collapses the whole
          // final stage (sort + window + project) into ONE task — at the
          // 100× stress tier that turned a parallel window query into a
          // 20-minute single-core stage. The extra exchange keeps compute
          // parallel and only the file write is single-task; the compare
          // is row-order-insensitive (rows sorted before hashing), so the
          // round-robin row order cannot move the verdict.
          try {
            fn(spark, sfDir).repartition(1).write.mode("overwrite").parquet(s"$outDir/$name")
            None
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            Some(name -> String.valueOf(e.getMessage))
          }
      })
    }
    val failed = tasks.flatMap(_.get())
    pool.shutdown()
    if (failed.nonEmpty)
      Files.writeString(Paths.get(s"$outDir/failed.json"), failed.map { case (n, e) =>
        s"""{"query": ${q(n)}, "error": ${q(e)}}""" }.mkString("[", ", ", "]\n"))
    failed
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
