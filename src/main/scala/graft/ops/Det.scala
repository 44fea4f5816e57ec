package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StructField}

/** Deterministic, order-independent floating aggregation.
  *
  * Why this exists: IEEE-754 double addition is not associative, so any
  * engine-level freedom in summation order (Spark's partial/final aggregate
  * merge order across shuffle partitions, task retries, AQE re-plans,
  * DuckDB's sliding-window segment trees) changes the low bits of
  * `SUM`/`AVG`/`STDDEV` results. On a 1000-executor cluster that means a
  * re-run of the same backtest over the same 100 TB produces *different*
  * metric bits — unacceptable for a signals engine whose outputs gate
  * trading decisions, and fatal for bit-exact oracle verification.
  *
  * Design rules that make every aggregate bit-reproducible in ANY engine:
  *
  *  1. The additive part runs on exact integers: inputs are snapped to a
  *     10^-s grid with pure double ops (`floor(x*10^s+0.5)` — each step
  *     correctly rounded, no implementation freedom) and carried as
  *     primitive longs, so partial sums stay in whole-stage codegen with
  *     no Decimal boxing (switching the sums from DECIMAL(18,s) to long
  *     grid integers cut aggregate wall-clock ~5× at sf0.1) and integer
  *     addition is exactly associative.
  *  2. Variance numerators are computed EXACTLY in integer arithmetic:
  *     `D = n·Σk² − (Σk)²` over grid integers k, with the one-row-per-
  *     group finishing arithmetic widened to decimals so it never rounds.
  *     D ≥ 0 by Cauchy–Schwarz and is exactly 0 for constant inputs — no
  *     cancellation junk for `sqrt` to amplify, and the `x = 0 → NULL`
  *     ratio guards fire identically everywhere.
  *  3. Finishing is the fixed IEEE sequence `(double)Σk / 10^s [/ n]`:
  *     the JVM's long→double (and BigDecimal→double) conversion is
  *     correctly rounded for ANY sign and magnitude, and the divides are
  *     single correctly-rounded ops. DuckDB's HUGEINT/DECIMAL→DOUBLE cast
  *     is correctly rounded for non-negative values but can misround
  *     NEGATIVE values past 2^53 magnitude (verified:
  *     `CAST(-(2^53+2) AS DOUBLE)` → -9007199254740992.0 there vs the
  *     representable -9007199254740994.0 on the JVM). Every SQL twin that
  *     casts a sign-capable exact sum therefore negates first via
  *     [[signedDblSql]] — IEEE negation is exact, so
  *     `-CAST(-s AS DOUBLE)` is the correctly-rounded conversion of s —
  *     which restores bit agreement for ANY exact Σk over the full
  *     envelope. Exactness of the sum itself requires Σ|x|·10^s < 2^63
  *     (long overflow; ANSI Spark throws loudly if ever exceeded).
  *  4. All remaining arithmetic (sqrt, ratio guards) is a fixed sequence
  *     of correctly-rounded IEEE double ops.
  *
  * The grids (1e-9 for means, 1e-4/1e-5 for variance operands) perturb
  * inputs far below any signal-relevant scale; in exchange, aggregates are
  * reproducible run-to-run and engine-to-engine. The reference inherits
  * Flink's nondeterministic double aggregation (e.g. STDDEV_POP over
  * keyed streams, flink_jobs/strategies/sma_cross.py:89-93); this engine
  * upgrades that to deterministic semantics with the same formulas.
  *
  * Each Column builder has a DuckDB-SQL twin below generated from the SAME
  * constants — that pairing is what keeps the two engines in lockstep
  * (invariant 2 in CLAUDE.md: never edit one side alone).
  *
  * The retry/replan consequence — a killed task recomputes the same exact
  * longs, so results are bit-stable under task failure, speculative
  * re-execution, and AQE re-plans — is PROVEN by injection, not argued:
  * [[graft.FailureInjectionSpec]] kills first attempts across a Det
  * aggregate, a window fold, a shuffle join, and a dedup pipeline under
  * `spark.task.maxFailures = 4` and asserts byte-equality with the clean
  * run.
  */
object Det {

  private def pow10(s: Int): Double = s"1e$s".toDouble

  /** Exact Decimal → double through its decimal STRING. Spark's direct
    * Decimal→double (a two-step BigDecimal conversion) can mis-round
    * above 2^53 unscaled (the CLAUDE.md envelope); string→double parsing
    * is correctly rounded at ANY magnitude in every engine, so routing
    * the exact integer through its digits widens the envelope to the
    * full DECIMAL(38,0) range. In-range values convert identically, so
    * this is bit-compatible with the direct cast wherever that was
    * already correct. Finishing-arithmetic only (per group row, or per
    * output row in window variants) — never on the hot additive path. */
  private def exactDbl(c: Column): Column = c.cast("string").cast("double")

  /** Snap a double to the 10^-s decimal grid using only IEEE double ops
    * (mul, add, floor, div — each correctly rounded, hence identical in
    * every conforming engine). Unlike `round(x, s)`, whose half-way
    * tie-breaking differs across engines (exact-decimal HALF_UP in Spark
    * vs double-math rounding elsewhere), this expression has no
    * implementation freedom. Requires |x|*10^s < 2^63 (true for every
    * column in this engine by construction).
    */
  def snap(c: Column, s: Int): Column =
    floor(c * lit(pow10(s)) + lit(0.5)) / lit(pow10(s))

  /** Grid integer k = round(x·10^s) as a primitive long. The double
    * `floor(x·10^s+0.5)` is exactly an integer < 2^53 when it reaches the
    * cast, so the cast is exact in any implementation. Public for
    * operators that build their own combine trees over grid integers
    * (Salt) — pair with [[klSql]]. */
  def kl(c: Column, s: Int): Column =
    floor(c * lit(pow10(s)) + lit(0.5)).cast("long")

  /** Order-independent SUM: exact long-grid sum at scale s, finished as
    * `(double)Σk / 10^s` (rule 3). Exactness envelope: Σ|x|·10^s < 2^63. */
  def sumD(c: Column, s: Int): Column = Split.sumD(c, s).agg

  /** Windowed [[sumD]] over a frame. */
  def sumD(c: Column, s: Int, frame: WindowSpec): Column =
    sum(kl(c, s)).over(frame).cast("double") / lit(pow10(s))

  /** Order-independent AVG = exact grid sum / non-null count. */
  def avgD(c: Column, s: Int): Column = Split.avgD(c, s).agg

  /** Windowed [[avgD]] over a frame. */
  def avgD(c: Column, s: Int, frame: WindowSpec): Column =
    sumD(c, s, frame) / count(c).over(frame)

  /** Trailing-window mean over the last `w` rows, O(n) instead of the
    * O(n·w) per-row frame rebuild Spark does for sliding frames: running
    * prefix sum minus its value `w` rows back. EXACT integer arithmetic
    * makes the subtraction bit-identical to summing the frame directly —
    * this rewrite is only sound because grid sums never round. Requires a
    * non-null input column (count = min(row_number, w)).
    */
  def avgDTrailing(c: Column, s: Int, w: Int, base: WindowSpec): Column = {
    val cum = sum(kl(c, s)).over(base.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val sumW = cum - coalesce(lag(cum, w).over(base), lit(0L))
    val cnt = least(row_number().over(base), lit(w))
    (sumW.cast("double") / lit(pow10(s))) / cnt
  }

  /** Trailing-window population stddev over the last `w` rows, O(n) via
    * exact prefix sums of k and k² (see [[avgDTrailing]] and
    * [[stddevPopD]]). Requires a non-null input column. */
  def stddevPopDTrailing(c: Column, e: Int, w: Int, base: WindowSpec): Column = {
    val k = kl(c, e)
    def trail(x: Column) = {
      val cum = sum(x).over(base.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      cum - coalesce(lag(cum, w).over(base), lit(0L))
    }
    finishStd(trail(k), trail(k * k), least(row_number().over(base), lit(w)), e)
  }

  /** Trailing-window [[betaD]] over the last `w` rows, O(n) via exact
    * prefix sums (the [[avgDTrailing]] rewrite: Spark rebuilds a sliding
    * ROWS frame per output row, O(n·w·aggs) — measured 1.5 s of
    * rolling_beta's 2.6 s at sf0.1). All four moment sums are exact
    * longs, so prefix-difference ≡ frame sum bit-for-bit; the finishing
    * sequence is [[betaD]]'s. Requires non-null x and y (count =
    * min(row_number, w) — matching count(x) over the frame exactly when
    * x is never null). Envelope: the CUMULATIVE Σ(kx·ky) and Σ(ky²) over
    * a whole partition must stay under 2^63 (ANSI throws loudly past
    * it) — at e = 4 and price ≲ 300 that is ~2M rows per key, two
    * orders past the hourly-grid fixtures and their 100× tiers. */
  def betaDTrailing(x: Column, y: Column, e: Int, w: Int,
                    base: WindowSpec): Column = {
    val kx = kl(x, e); val ky = kl(y, e)
    def trail(c: Column) = {
      val cum = sum(c).over(
        base.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      cum - coalesce(lag(cum, w).over(base), lit(0L))
    }
    val n = least(row_number().over(base), lit(w)).cast(DecimalType(19, 0))
    def dec(c: Column) = c.cast(DecimalType(19, 0))
    val s1x = dec(trail(kx)); val s1y = dec(trail(ky))
    val num = (n * dec(trail(kx * ky)) - s1x * s1y).cast(DecimalType(38, 0))
    val dy = (n * dec(trail(ky * ky)) - s1y * s1y).cast(DecimalType(38, 0))
    when(dy > 0, exactDbl(num) / exactDbl(dy))
  }

  /** Trailing-window [[corrD]] over the last `w` rows — the prefix-sum
    * rewrite of the frame form (see [[betaDTrailing]] for the argument
    * and envelope; adds Σ(kx²) to it). Requires non-null x and y. */
  def corrDTrailing(x: Column, y: Column, e: Int, w: Int,
                    base: WindowSpec): Column = {
    val kx = kl(x, e); val ky = kl(y, e)
    def trail(c: Column) = {
      val cum = sum(c).over(
        base.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      cum - coalesce(lag(cum, w).over(base), lit(0L))
    }
    val n = least(row_number().over(base), lit(w)).cast(DecimalType(19, 0))
    def dec(c: Column) = c.cast(DecimalType(19, 0))
    val s1x = dec(trail(kx)); val s1y = dec(trail(ky))
    val num = (n * dec(trail(kx * ky)) - s1x * s1y).cast(DecimalType(38, 0))
    val dx = (n * dec(trail(kx * kx)) - s1x * s1x).cast(DecimalType(38, 0))
    val dy = (n * dec(trail(ky * ky)) - s1y * s1y).cast(DecimalType(38, 0))
    when(dx > 0 && dy > 0,
      exactDbl(num) / sqrt(exactDbl(dx)) / sqrt(exactDbl(dy)))
  }

  /** Order-independent population stddev over grid integers k = x·10^e:
    * sqrt(n·Σk² − (Σk)²) / (10^e · n), with the numerator exact (rule 2).
    * Envelope: Σk² < 2^53, Σ|k| < 10^14, and |k| < 3·10^9 (so k² fits a
    * long). Matches STDDEV_POP semantics (0.0 for a single sample or
    * constant input, null only on empty).
    */
  def stddevPopD(c: Column, e: Int): Column = Split.stddevPopD(c, e).agg

  /** Windowed variant of [[stddevPopD]] over a frame. */
  def stddevPopD(c: Column, e: Int, frame: WindowSpec): Column =
    finishStd(
      sum(kl(c, e)).over(frame),
      sum(kl(c, e) * kl(c, e)).over(frame),
      count(c).over(frame),
      e)

  private def finishStd(s1: Column, s2: Column, n: Column, e: Int): Column = {
    // Exact integer D = n·Σk² − (Σk)² (≥ 0 by Cauchy–Schwarz), carried in
    // decimals wide enough to never round — one row per group, so the
    // decimal cost is irrelevant here (the hot path is the long sums).
    val d = n.cast(DecimalType(10, 0)) * s2.cast(DecimalType(18, 0)) -
      s1.cast(DecimalType(14, 0)) * s1.cast(DecimalType(14, 0))
    sqrt(exactDbl(d)) / (lit(pow10(e)) * n.cast("double"))
  }

  /** Σ of k² over rows where cond holds (k = x·10^e grid integer), finished
    * as double·10^-2e; 0.0 when no row matches. Used for downside variance
    * (Sortino). */
  def sumSqWhereD(cond: Column, c: Column, e: Int): Column =
    Split.sumSqWhereD(cond, c, e).agg

  /** How the rows of one exact part combine: as Spark's `sum` of grid
    * longs, `count` of non-null values, or `min` of doubles. `add` folds
    * one row's value (null for a null) into the running value, starting
    * from `zero`, by Spark's own rules, so a fold over rows gives Spark's
    * value with Spark's result type (`field`):
    *  - `Sum` adds with `Math.addExact`, throwing on overflow as ANSI
    *    `sum` does, and stays null until a non-null value arrives;
    *  - `Count` counts non-null values and is never null;
    *  - `Min` is the one non-exact part. It keeps the first of equal
    *    values (`-0.0` against `0.0`) and sorts NaN greatest
    *    (`SQLOrderingUtil.compareDoubles`), so it repeats Spark's bits
    *    when it folds the rows in the order Spark's one task reads them.
    */
  sealed abstract class Combine {
    def agg(c: Column): Column
    def zero: Any
    def add(acc: Any, v: Any): Any
    /** The combined column's field, from the per-row column's. */
    def field(in: StructField): StructField
  }

  object Combine {
    case object Sum extends Combine {
      def agg(c: Column): Column = sum(c)
      def zero: Any = null
      def add(acc: Any, v: Any): Any =
        if (v == null) acc
        else if (acc == null) v
        else Math.addExact(acc.asInstanceOf[Long], v.asInstanceOf[Long])
      def field(in: StructField): StructField = {
        require(in.dataType == LongType, s"Sum combines grid longs, not ${in.dataType}")
        in.copy(nullable = true)
      }
    }
    case object Count extends Combine {
      def agg(c: Column): Column = count(c)
      def zero: Any = 0L
      def add(acc: Any, v: Any): Any = if (v == null) acc else acc.asInstanceOf[Long] + 1L
      def field(in: StructField): StructField = in.copy(dataType = LongType, nullable = false)
    }
    case object Min extends Combine {
      def agg(c: Column): Column = min(c)
      def zero: Any = null
      def add(acc: Any, v: Any): Any =
        if (v == null) acc
        else if (acc == null ||
          SQLOrderingUtil.compareDoubles(v.asInstanceOf[Double], acc.asInstanceOf[Double]) < 0) v
        else acc
      def field(in: StructField): StructField = {
        require(in.dataType == DoubleType, s"Min combines doubles, not ${in.dataType}")
        in.copy(nullable = true)
      }
    }
  }

  /** One exact part of a [[Split]] aggregate: a per-row column and how
    * rows combine it. */
  final case class Part(in: Column, combine: Combine)

  /** An aggregate split into its exact parts and its finish: the
    * aggregate is the finish over Spark's aggregates of the parts
    * (`agg`). A caller that combines the parts itself, such as
    * StreamingJob's driver path, applies the same finish to columns
    * that hold the combined values, and gets the same bits. */
  final case class Split(parts: Seq[Part], finish: Seq[Column] => Column) {
    def agg: Column = finish(parts.map(p => p.combine.agg(p.in)))
  }

  /** The splits behind the grouped builders above, and Spark's plain
    * `count` and `min` as splits with an identity finish. */
  object Split {
    import Combine._

    def sumD(c: Column, s: Int): Split =
      Split(Seq(Part(kl(c, s), Sum)), { case Seq(k) => k.cast("double") / lit(pow10(s)) })

    def avgD(c: Column, s: Int): Split =
      Split(Seq(Part(kl(c, s), Sum), Part(c, Count)),
        { case Seq(k, n) => k.cast("double") / lit(pow10(s)) / n })

    def stddevPopD(c: Column, e: Int): Split = {
      val k = kl(c, e)
      Split(Seq(Part(k, Sum), Part(k * k, Sum), Part(c, Count)),
        { case Seq(s1, s2, n) => finishStd(s1, s2, n, e) })
    }

    def sumSqWhereD(cond: Column, c: Column, e: Int): Split = {
      val k = kl(c, e)
      Split(Seq(Part(when(cond, k * k), Sum)),
        { case Seq(s2) => coalesce(s2.cast("double"), lit(0.0)) / lit(pow10(2 * e)) })
    }

    def count(c: Column): Split = Split(Seq(Part(c, Count)), _.head)

    def min(c: Column): Split = Split(Seq(Part(c, Min)), _.head)
  }

  /** Order-independent Pearson correlation over grid integers kx, ky:
    * (n·Σkxky − Σkx·Σky) / √(n·Σkx²−(Σkx)²) / √(n·Σky²−(Σky)²) — every
    * sum exact in longs, the three moment combinations exact in wide
    * decimals, finishing a fixed IEEE sequence. NULL when either side has
    * zero variance (the ratio-guard convention). Scale-invariant in exact
    * arithmetic, so one grid e serves both inputs. Envelope: |k| < 3·10⁹
    * (k·k fits a long) and n·Σ|kx·ky| < 10³⁷. Inputs must be non-null
    * (pre-filter). */
  def corrD(x: Column, y: Column, e: Int): Column = {
    val kx = kl(x, e)
    val ky = kl(y, e)
    val n = count(x).cast(DecimalType(19, 0))
    def dec(c: Column) = c.cast(DecimalType(19, 0))
    val s1x = dec(sum(kx)); val s1y = dec(sum(ky))
    val num = (n * dec(sum(kx * ky)) - s1x * s1y).cast(DecimalType(38, 0))
    val dx = (n * dec(sum(kx * kx)) - s1x * s1x).cast(DecimalType(38, 0))
    val dy = (n * dec(sum(ky * ky)) - s1y * s1y).cast(DecimalType(38, 0))
    when(dx > 0 && dy > 0,
      exactDbl(num) / sqrt(exactDbl(dx)) / sqrt(exactDbl(dy)))
  }

  /** Order-independent population covariance over grid integers:
    * (n·Σkxky − Σkx·Σky) / n² / 10^2e — the same exact moment
    * combinations as [[corrD]] (numerator exact in wide decimals),
    * finished by the fixed sequence num→double / n² / grid². Same
    * envelope as corrD; inputs must be non-null. */
  def covD(x: Column, y: Column, e: Int): Column = {
    val kx = kl(x, e)
    val ky = kl(y, e)
    val n = count(x).cast(DecimalType(19, 0))
    def dec(c: Column) = c.cast(DecimalType(19, 0))
    val num = (n * dec(sum(kx * ky)) - dec(sum(kx)) * dec(sum(ky)))
      .cast(DecimalType(38, 0))
    exactDbl(num) / (n.cast("double") * n.cast("double")) / lit(pow10(2 * e))
  }

  /** Order-independent OLS regression slope of x on y over grid
    * integers: (n·Σkxky − Σkx·Σky) / (n·Σky² − (Σky)²) — the same exact
    * moment combinations as [[corrD]], one correctly-rounded division.
    * NULL when y has zero variance. Same envelope as corrD. */
  def betaD(x: Column, y: Column, e: Int): Column = {
    val kx = kl(x, e)
    val ky = kl(y, e)
    val n = count(x).cast(DecimalType(19, 0))
    def dec(c: Column) = c.cast(DecimalType(19, 0))
    val s1x = dec(sum(kx)); val s1y = dec(sum(ky))
    val num = (n * dec(sum(kx * ky)) - s1x * s1y).cast(DecimalType(38, 0))
    val dy = (n * dec(sum(ky * ky)) - s1y * s1y).cast(DecimalType(38, 0))
    when(dy > 0, exactDbl(num) / exactDbl(dy))
  }

  /** Windowed [[betaD]] over a frame — the rolling-regression form. The
    * moment sums are frame window aggregates over the same exact grid
    * longs, so the frame split points cannot change a bit (associative
    * integer sums); the finishing sequence is identical to the grouped
    * form. */
  def betaD(x: Column, y: Column, e: Int, frame: WindowSpec): Column = {
    val kx = kl(x, e)
    val ky = kl(y, e)
    val n = count(x).over(frame).cast(DecimalType(19, 0))
    def dec(c: Column) = c.cast(DecimalType(19, 0))
    val s1x = dec(sum(kx).over(frame)); val s1y = dec(sum(ky).over(frame))
    val num = (n * dec(sum(kx * ky).over(frame)) - s1x * s1y).cast(DecimalType(38, 0))
    val dy = (n * dec(sum(ky * ky).over(frame)) - s1y * s1y).cast(DecimalType(38, 0))
    when(dy > 0, exactDbl(num) / exactDbl(dy))
  }

  /** Windowed [[corrD]] over a frame — the rolling-correlation form.
    * Same exact-grid frame sums as the windowed [[betaD]]; sqrt is
    * IEEE-correctly-rounded in every conforming engine, so the finishing
    * sequence num/√dx/√dy is bit-stable. */
  def corrD(x: Column, y: Column, e: Int, frame: WindowSpec): Column = {
    val kx = kl(x, e)
    val ky = kl(y, e)
    val n = count(x).over(frame).cast(DecimalType(19, 0))
    def dec(c: Column) = c.cast(DecimalType(19, 0))
    val s1x = dec(sum(kx).over(frame)); val s1y = dec(sum(ky).over(frame))
    val num = (n * dec(sum(kx * ky).over(frame)) - s1x * s1y).cast(DecimalType(38, 0))
    val dx = (n * dec(sum(kx * kx).over(frame)) - s1x * s1x).cast(DecimalType(38, 0))
    val dy = (n * dec(sum(ky * ky).over(frame)) - s1y * s1y).cast(DecimalType(38, 0))
    when(dx > 0 && dy > 0,
      exactDbl(num) / sqrt(exactDbl(dx)) / sqrt(exactDbl(dy)))
  }

  // -------------------------------------------------------------------
  // DuckDB-SQL twins (same formulas, same grids). DuckDB sums BIGINT as
  // HUGEINT — exact like the long sums (wider, in fact). HUGEINT→DOUBLE
  // is correctly rounded only for non-negative values (rule 3), so every
  // sign-capable cast goes through signedDblSql.
  // -------------------------------------------------------------------

  /** Correctly-rounded exact-integer→DOUBLE cast in DuckDB for ANY sign:
    * negative values take the `-CAST(-s AS DOUBLE)` path (negation of an
    * exact HUGEINT/DECIMAL is exact; DuckDB's cast is correctly rounded
    * for non-negative inputs; IEEE negation of the result is exact).
    * Matches the JVM's always-correctly-rounded long/BigDecimal→double.
    * Use for any exact sum that can be negative; non-negative-by-
    * construction casts (k², variance numerators) may cast directly. */
  def signedDblSql(e: String): String =
    s"(CASE WHEN ($e) < 0 THEN -CAST(-($e) AS DOUBLE) ELSE CAST(($e) AS DOUBLE) END)"

  def snapSql(x: String, s: Int): String = s"floor(($x)*1e$s+0.5)/1e$s"

  /** A Scala Double as a bit-exact DuckDB DOUBLE literal. A bare numeric
    * literal in DuckDB types as DECIMAL and the DECIMAL→DOUBLE cast is
    * not always correctly rounded (e.g. 2.0/27 mis-rounds one ulp); the
    * VARCHAR→DOUBLE parse IS correctly rounded, and `Double.toString`
    * emits the shortest round-tripping decimal — so quote-then-cast
    * reproduces the exact JVM bits for any finite double. */
  def dblLit(v: Double): String = s"CAST('$v' AS DOUBLE)"

  /** Twin of [[kl]]. */
  def klSql(x: String, s: Int): String =
    s"CAST(floor(($x)*1e$s+0.5) AS BIGINT)"

  def sumDSql(x: String, s: Int, over: String = ""): String =
    s"(${signedDblSql(s"sum(${klSql(x, s)})$over")} / 1e$s)"

  def avgDSql(x: String, s: Int, over: String = ""): String =
    s"(${sumDSql(x, s, over)} / (count($x)$over))"

  def stddevPopDSql(x: String, e: Int, over: String = ""): String = {
    // All integer algebra in HUGEINT (sum(BIGINT) already IS HUGEINT —
    // exact at 128 bits): the earlier DECIMAL(10/14/18) casts overflowed
    // at the round-7 10× fixture (n·Σk² past 10^18 throws in DuckDB's
    // decimal multiply). The variance numerator is ≥ 0, so the finishing
    // cast may go to DOUBLE directly (correctly rounded for
    // non-negatives); values are identical to the old form — exact
    // integers in either representation.
    val k = klSql(x, e)
    val s1 = s"sum($k)$over"
    val s2 = s"sum($k*$k)$over"
    val n = s"count($x)$over"
    val d = s"(CAST($n AS HUGEINT)*$s2 - $s1*$s1)"
    s"(sqrt(CAST($d AS DOUBLE)) / (1e$e * CAST($n AS DOUBLE)))"
  }

  def sumSqWhereDSql(cond: String, x: String, e: Int): String = {
    val k = klSql(x, e)
    s"(coalesce(CAST(sum(CASE WHEN $cond THEN $k*$k END) AS DOUBLE), 0.0) / 1e${2 * e})"
  }

  /** Twin of [[covD]] — the numerator is sign-capable, so its cast goes
    * through [[signedDblSql]]. */
  def covDSql(x: String, y: String, e: Int): String = {
    // HUGEINT algebra throughout (see stddevPopDSql): DECIMAL(19)
    // intermediates overflow two orders of magnitude sooner than the
    // 128-bit native sums. Same exact values, wider envelope.
    val kx = klSql(x, e)
    val ky = klSql(y, e)
    val n = s"CAST(count($x) AS HUGEINT)"
    val num = s"($n * sum($kx*$ky) - sum($kx) * sum($ky))"
    s"(${signedDblSql(num)} / (CAST($n AS DOUBLE) * CAST($n AS DOUBLE)) / 1e${2 * e})"
  }

  /** Twin of [[betaD]]. */
  def betaDSql(x: String, y: String, e: Int, over: String = ""): String = {
    val kx = klSql(x, e)
    val ky = klSql(y, e)
    val n = s"CAST(count($x)$over AS HUGEINT)"
    val num = s"($n * sum($kx*$ky)$over - sum($kx)$over * sum($ky)$over)"
    val dy = s"($n * sum($ky*$ky)$over - sum($ky)$over * sum($ky)$over)"
    s"""(CASE WHEN $dy > 0
      THEN ${signedDblSql(num)} / CAST($dy AS DOUBLE) END)"""
  }

  /** Twin of [[corrD]]. */
  def corrDSql(x: String, y: String, e: Int, over: String = ""): String = {
    val kx = klSql(x, e)
    val ky = klSql(y, e)
    val n = s"CAST(count($x)$over AS HUGEINT)"
    val num = s"($n * sum($kx*$ky)$over - sum($kx)$over * sum($ky)$over)"
    val dx = s"($n * sum($kx*$kx)$over - sum($kx)$over * sum($kx)$over)"
    val dy = s"($n * sum($ky*$ky)$over - sum($ky)$over * sum($ky)$over)"
    s"""(CASE WHEN $dx > 0 AND $dy > 0
      THEN ${signedDblSql(num)} / sqrt(CAST($dx AS DOUBLE)) / sqrt(CAST($dy AS DOUBLE)) END)"""
  }
}
