package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** A query that throws must fail the run, not vanish into a stderr line:
  * `Bench` lists it under `failed`, keeps it out of every timing and of
  * `value`; `Verify` writes it to `failed.json`. Both mains exit non-zero
  * when the list they get back here is non-empty. */
class LoudFailureSpec extends AnyFunSuite {
  import TestSpark._

  private val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fine" -> ((s: SparkSession, _: String) => s.range(5).toDF("x")),
    "boom" -> ((_: SparkSession, _: String) => throw new IllegalStateException("boom (spec)")))

  test("Bench: a throwing query is listed as failed and timed nowhere") {
    val out = Files.createTempFile("graft-bench", ".json")
    val failed = Bench.measure(spark, queries, queries.keys.toSeq.sorted, "/no/such/sf",
      iters = 1, outPath = out.toString, amortize = false)
    assert(failed == Seq("boom"))
    val json = Files.readString(out)
    assert(json.contains("\"failed\":[\"boom\"]"))
    assert(json.contains("\"fine\":"), "the passing query is still timed")
    assert(!json.contains("\"boom\":"), "the failed query has no timing or sample")
  }

  test("Verify: a throwing query lands in failed.json, the others are dumped") {
    val out = Files.createTempDirectory("graft-verify").toString
    val failed = Verify.dump(spark, "/no/such/sf", out, queries.toSeq)
    assert(failed.map(_._1) == Seq("boom"))
    val record = Files.readString(Paths.get(out, "failed.json"))
    assert(record.contains("\"query\": \"boom\"") && record.contains("boom (spec)"))
    assert(spark.read.parquet(s"$out/fine").count() == 5)

    // a clean re-run into the same directory leaves no stale record
    assert(Verify.dump(spark, "/no/such/sf", out, queries.toSeq.filter(_._1 == "fine")).isEmpty)
    assert(!Files.exists(Paths.get(out, "failed.json")))
  }
}
