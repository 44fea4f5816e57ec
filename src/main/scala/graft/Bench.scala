package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every contract query on SPARK_GRAFT_SF_DIR.
  *
  * Protocol: one untimed GLOBAL warmup pass over every query (C2-JITs
  * Spark core, warms the page cache, fills the generated-class cache),
  * then `SPARK_GRAFT_BENCH_ITERS` (default 3) INTERLEAVED timed rounds —
  * round r times every query once, in name order — and the reported
  * number is the per-query MEDIAN across rounds. Interleaving is the
  * noise defense: single-run times on a shared machine are
  * noise-dominated (the round-5 "regression" adjudicated as machine
  * state, not code, cost a judge re-run), and a host CPU-steal burst is
  * CONTIGUOUS in time — under back-to-back per-query iterations it
  * poisons every sample of one query (round-6 first attempt recorded
  * market_beta at 31.6/16.4/24.7 s vs a true ~1 s), while under
  * interleaving it poisons at most one round's sample of the queries it
  * overlaps and the median survives.
  *
  * Round-10 hardening: a long noise episode CAN span two of three
  * rounds (BENCH_r10 published graph_walks_biased at 35.7 s vs a true
  * 4.2 s), so each round is additionally GRADED by the control queries'
  * in-round ratios against their anchors and rounds ≥1.5× slower than
  * the cleanest round are REJECTED before the median; per-query MINIMA
  * (`queries_min`, immune to slow outliers) ship in the artifact as the
  * noise floor, with `round_ratios`/`accepted_rounds` for adjudication.
  *
  * Interleaving is only valid because the generated-class cache is
  * sized to the session: the default cache holds 100 classes — far
  * fewer than the contract's codegen stages — so by the time a round
  * returns to a query its classes would be evicted and every "timed"
  * run would re-pay Janino compilation (measured: `executions` 3.1 s
  * evicted vs 0.65 s warm). `spark.sql.codegen.cache.maxEntries=4096`
  * keeps every stage's classes warm across the whole 121-query session
  * (verified with a one-off probe: after a full contract
  * pass, early-alphabet re-runs stay at warm-adjacent times).
  *
  * Output: the driver-contract JSON line on stdout (3-decimal medians),
  * followed by a short total-only line as the FINAL stdout line (the
  * driver's tail capture front-truncated the full ~6 KB line in rounds
  * 4-6; the short line always survives), and the SAME object plus raw
  * per-round samples written to `$SPARK_GRAFT_BENCH_OUT` (default
  * `bench.json`) — the file is the machine-readable record.
  *
  * Caches are cleared between runs so a query that persists intermediate
  * frames (pagerank, triangle_count) is timed cold each iteration and
  * cached blocks never accumulate across the 121-query session.
  *
  * A query that throws (in the warm-up or any round) is listed in the
  * artifact's `failed` list, left out of every timing and of `value`, and
  * makes the run exit non-zero.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Global-frame WindowExec warnings are expected and bounded (see
    // Verify for the rationale); keep bench stderr signal-only.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // comma-separated subset for local iteration (default: every query)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // SPARK_GRAFT_BENCH_AMORTIZE=1 (round-12 verdict #6): measure the
    // WalkCorpus economics — the walk family re-pays a shared ~3 s
    // corpus build under standard bench isolation; this mode builds the
    // corpus ONCE as a persisted artifact (timed as the pseudo-query
    // `walk_corpus_build`), times the family's artifact-reading bodies
    // (bit-identical, WalkCorpusSpec), and restricts the run to that
    // family. Compare its per-query medians against the standard
    // artifact's to read the amortized saving; the contract/driver runs
    // stay standard-mode (rebuild per query) by default.
    val amortize = sys.env.get("SPARK_GRAFT_BENCH_AMORTIZE").contains("1")
    val corpusPath = "/tmp/graft_bench_walk_corpus"
    // r13 verdict #1: amortize mode now covers the whole graph family,
    // not just the walk corpus — the static-graph queries read the
    // persisted GraphArtifact (pair counts + BFS labels); its build is
    // timed as the pseudo-query `graph_artifact_build`.
    val graphPath = "/tmp/graft_bench_graph_artifact"
    // ... and the ANN serving index (r13 stretch): ivfpq/adc/ivf-probe
    // read a persisted codebook + quantized shard instead of re-training
    // and re-quantizing per query.
    val vecPath = "/tmp/graft_bench_vec_index"
    val amortized: Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] =
      if (!amortize) Map.empty
      else graft.queries.GraphQueries.amortizedWalkQueries(corpusPath) ++
        graft.queries.GraphQueries.amortizedGraphQueries(graphPath) ++
        graft.queries.VecQueries.amortizedVecQueries(vecPath) +
        ("walk_corpus_build" -> ((s: org.apache.spark.sql.SparkSession, d: String) => {
          graft.queries.GraphQueries.buildWalkCorpusArtifact(s, d, corpusPath)
          s.range(1).toDF("built")
        })) +
        ("graph_artifact_build" -> ((s: org.apache.spark.sql.SparkSession, d: String) => {
          graft.queries.GraphQueries.buildGraphArtifact(s, d, graphPath)
          s.range(1).toDF("built")
        })) +
        ("vec_index_build" -> ((s: org.apache.spark.sql.SparkSession, d: String) => {
          graft.queries.VecQueries.buildVecIndexArtifact(s, d, vecPath)
          s.range(1).toDF("built")
        }))
    val queryMap = SparkEntry.queries ++ amortized
    val names = queryMap.keys.toSeq.sorted
      .filter(n => only.map(_.contains(n))
        .getOrElse(!amortize || amortized.contains(n)))
    // amortize mode: the artifacts must exist before any reader runs
    // (name order puts degree_dist before graph_artifact_build); later
    // builds overwrite with identical bits, so round order is free.
    if (amortize) {
      graft.queries.GraphQueries.buildWalkCorpusArtifact(spark, sfDir, corpusPath)
      graft.queries.GraphQueries.buildGraphArtifact(spark, sfDir, graphPath)
      graft.queries.VecQueries.buildVecIndexArtifact(spark, sfDir, vecPath)
    }
    val failed = measure(spark, queryMap, names, sfDir, iters, outPath, amortize)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Warm-up plus `iters` interleaved timed rounds over `names`; writes
    * `outPath`, prints the stdout lines, and returns the queries that
    * threw (timed and summed nowhere). */
  def measure(spark: SparkSession,
              queryMap: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
              names: Seq[String], sfDir: String, iters: Int, outPath: String,
              amortize: Boolean): Seq[String] = {
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    // Write to the noop sink, NOT count(): count(1) lets Catalyst prune every
    // unreferenced column, so projection-only queries (text_stats, lang_id,
    // fingerprint, ...) would time just the parquet scan instead of the real
    // per-row compute (regexp, md5, window functions).
    def run(name: String): Boolean =
      try {
        queryMap(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        failed += name
        false
      }
    // Global warmup (JIT + page cache + generated-class cache — kept
    // warm for the whole session by codegen.cache.maxEntries above),
    // then interleaved rounds: a time-contiguous noise burst lands on at
    // most one round's sample per query, never on all of them.
    names.foreach(run)
    val timed = scala.collection.mutable.Map
      .empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    for (_ <- 1 to iters; name <- names if !failed.contains(name)) {
      val t0 = System.nanoTime()
      if (run(name)) timed(name) = timed(name) :+ (System.nanoTime() - t0) / 1e9
    }
    val ok = names.filterNot(failed.contains)
    val samples: Seq[(String, Seq[Double])] = ok.map(n => n -> timed(n))
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // 3-decimal medians halve the stdout line (ms resolution is below the
    // protocol's noise floor anyway); full precision lives in the samples.
    def f3(d: Double): String =
      BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).bigDecimal
        .stripTrailingZeros.toPlainString
    // Host-speed calibration (docs/SCALE.md round-7 method, carried in
    // the artifact so cross-round deltas are adjudicable without a
    // re-run): EIGHT control queries spanning the contract's execution
    // shapes (r15 verdict #6 — the old 3-control set's per-round ratio
    // spread was ±13%, too wide to adjudicate per-query deltas below
    // ~1.2×): graph shuffle-agg (triangle_count), exact-quantile
    // scan-agg (rel_quantiles), pair self-join (market_basket), rolling
    // window fold (rolling_beta), flatMap shingle kernel
    // (dedup_minhash), tumbling scan-agg (metrics_5m), sequence
    // generator + fill window (gapfill), seasonal window+join
    // (seasonal_decompose). Anchored to their sf0.1 medians from the
    // ROUND-15 local artifact (bench.json at commit e957a99 — a single
    // host, single run, so all eight anchors share one host basis; the
    // old r9 3-control anchors were retired with it. If a control's own
    // implementation is ever optimized, re-anchor here in the same
    // commit, or the factor conflates code speedups with host speed;
    // the anchor-sanity warning below trips on a 2× mismatch either
    // way). The factor is the median of measured/anchor ratios — >1
    // means this run's host was slower than the anchor host; divide
    // per-query deltas by it before calling anything a regression
    // (±20-40% swings are documented).
    // r16 re-anchor (the prescribed same-commit procedure above):
    // dedup_minhash (docsW scan spread) and rolling_beta (betaDTrailing
    // prefix-sum frames) were optimized this round, so their anchors are
    // re-derived from the r16 final full bench NORMALIZED TO THE R15
    // HOST BASIS — new_anchor = r16_median / 1.125, where 1.125 is the
    // median ratio of the six UNTOUCHED controls against their r15
    // anchors in that same run (plans/r16/bench_after.json). The six
    // untouched anchors are unchanged, so all eight stay on one basis.
    // r17: seasonal_decompose's IMPLEMENTATION changed (centered-MA
    // frames → prefix sums) but measured SPEED-NEUTRAL at sf0.1 — its
    // per-round minima are 0.988 before vs 0.995 after across the
    // round's three full benches (the query is floored by the grid
    // build, not the frames). The anchor is therefore RETAINED: the
    // re-anchor procedure exists to stop a code SPEEDUP reading as host
    // speed, and with no speedup there is nothing to absorb — deriving
    // a new anchor from one noisy run would only inject that run's
    // noise into the calibration basis (plans/r17/bench_{before,mid,
    // after}.json hold the three samples). rolling_beta ended r17 on
    // its r16 code (a broadcast-mkt probe was reverted at the 100×
    // tier), so its r16 anchor stands untouched.
    val anchorRound = 15
    val anchorCommit = "e957a99"
    val controlAnchors = Map(
      "triangle_count" -> 1.070,
      "rel_quantiles" -> 0.709,
      "market_basket" -> 1.875,
      "rolling_beta" -> 1.986, // r16 re-anchor (was 2.034)
      "dedup_minhash" -> 0.612, // r16 re-anchor (was 1.034)
      "metrics_5m" -> 0.785,
      "gapfill" -> 0.658,
      "seasonal_decompose" -> 0.908)
    // Anchors were measured at sf0.1 — exact directory-name match (a
    // substring test would also match ".../sf0.15" or a copied dir).
    val anchorsApply = new java.io.File(sfDir).getName == "sf0.1" &&
      controlAnchors.keys.forall(ok.contains)
    // Round-10 finding: a host-noise episode can poison TWO of three
    // interleaved rounds, and a per-query median then reports the noise
    // (graph_walks_biased published at 35.7 s vs a true 4.2 s). Defense:
    // grade each ROUND by its control-query samples — ratio_r = median
    // over controls of sample_r/anchor — and reject rounds whose ratio
    // exceeds PoisonFactor × the cleanest round's. Per-query medians are
    // then taken over the ACCEPTED rounds only; per-query minima are
    // published alongside as the noise floor (min is immune to slow
    // outliers — any surviving distortion can only overstate cost).
    val PoisonFactor = 1.5
    val roundRatios: Seq[Double] =
      if (anchorsApply)
        (0 until iters).map { r =>
          median(controlAnchors.toSeq.map { case (k, a) => timed(k)(r) / a })
        }
      else Seq.empty
    val accepted: Seq[Int] =
      if (roundRatios.nonEmpty) {
        val best = roundRatios.min
        (0 until iters).filter(r => roundRatios(r) <= best * PoisonFactor)
      } else (0 until iters)
    if (accepted.size < iters)
      System.err.println(s"[bench] rejected noise-poisoned rounds " +
        s"${(0 until iters).filterNot(accepted.contains).map(_ + 1).mkString(",")} " +
        s"(control ratios ${roundRatios.map(r => f"$r%.2f").mkString("/")})")
    val medians = samples.map { case (k, v) =>
      k -> median(accepted.map(v(_)))
    }
    val minima = samples.map { case (k, v) => k -> v.min }
    val medMap = medians.toMap
    val controlRatios = controlAnchors.flatMap { case (k, a) =>
      medMap.get(k).map(m => k -> m / a)
    }
    val hostFactor: Option[Double] =
      if (anchorsApply) Some(median(controlRatios.values.toSeq)) else None
    // Anchor sanity (ADVICE r10): a control whose clean-round median is
    // 2× FASTER than its anchor almost certainly had its implementation
    // optimized since the anchor round — the factor would then read
    // "fast host" where the truth is "fast code". Warn, don't fail.
    hostFactor.foreach { _ =>
      controlRatios.collect { case (k, r) if r < 0.5 =>
        System.err.println(s"[bench] control '$k' runs ${f3(1 / r)}× faster " +
          s"than its round-$anchorRound anchor — re-anchor controlAnchors " +
          "(code speedup, not host speed)")
      }
    }
    def obj(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + f3(v) }
        .mkString("{", ",", "}")
    val qs = obj(medians)
    val total = medians.map(_._2).sum
    val calib = hostFactor.map { hf =>
      val ratios = obj(controlRatios.toSeq.sortBy(_._1))
      val perRound = roundRatios.map(f3).mkString("[", ",", "]")
      val acc = accepted.map(_ + 1).mkString("[", ",", "]")
      s""","control":{"anchor_round":$anchorRound,"anchor_commit":"$anchorCommit","anchor_sf":"sf0.1","ratios":$ratios,"round_ratios":$perRound,"accepted_rounds":$acc,"host_speed_factor":${f3(hf)}}"""
    }.getOrElse("")
    // amortize artifacts are a DIFFERENT measurement (artifact readers,
    // family subset) — tag them so they can never read as a standard run
    val amortizeTag = if (amortize) ""","amortize":true""" else ""
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","iters":$iters,"failed":$failedJson$amortizeTag$calib}"""
    val raw = samples.map { case (k, v) =>
      "\"" + k + "\":" + v.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // Per-query spread = median/min (round-11 verdict #7): the round
    // rejection is global, so a noise episode narrow enough to distort
    // ONE query's accepted samples without moving the controls would
    // still pass ungraded. spread > SpreadFlag names those queries in
    // the artifact — their published median should be read against
    // queries_min before calling anything a regression.
    // Spread basis (round-12 ADVICE): both operands come from ACCEPTED
    // rounds only — an anomalously fast sample inside a noise-rejected
    // round must not inflate spread and false-flag a healthy query.
    // queries_min deliberately keeps its all-rounds semantics (it is the
    // noise FLOOR, and a fast sample is a valid floor wherever it ran).
    val SpreadFlag = 1.5
    val acceptedMin = samples.map { case (k, v) =>
      k -> accepted.map(v(_)).min
    }.toMap
    val spreads = medians.map { case (k, m) =>
      k -> (if (acceptedMin(k) > 0) m / acceptedMin(k) else 1.0)
    }
    val flagged = spreads.collect { case (k, s) if s > SpreadFlag => k }
    if (flagged.nonEmpty)
      System.err.println(s"[bench] median/min spread > $SpreadFlag for: " +
        flagged.mkString(", ") + " (read against queries_min)")
    val flaggedJson = flagged.map("\"" + _ + "\"").mkString("[", ",", "]")
    val full = line.dropRight(1) +
      s""","queries_min":${obj(minima)},"total_min":${f3(minima.map(_._2).sum)},"queries_spread":${obj(spreads)},"spread_flagged":$flaggedJson,"samples":$raw}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), full + "\n")
    // Stdout contract (r17, verdict #2): the driver parses the FINAL
    // stdout line, so the final line must carry the per-query medians —
    // rounds 15/16 shipped a total-only final line (a defense against
    // front-truncation of the ~6 KB line) and the driver's per-query
    // comparison went dark (PERF per_query: {}). The r16 driver tail
    // demonstrably captured >4 KB, so the defense now costs more than
    // the failure it guards: print the SHORT total-only line first (the
    // truncation fallback), then the full compact per-query line LAST.
    val hfShort = hostFactor.map(hf => s""","host_speed_factor":${f3(hf)}""").getOrElse("")
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":{},"sf":"$sfDir","iters":$iters,"nqueries":${names.size},"bench_json":"$outPath"$hfShort}""")
    println(line)
    failed.toSeq
  }
}
