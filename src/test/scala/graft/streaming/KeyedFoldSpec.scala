package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** The ordering contract of [[KeyedFold]], without a Spark session. */
class KeyedFoldSpec extends AnyFunSuite {
  import KeyedFoldSpec._

  private val Zero = St(Long.MinValue, Long.MinValue, Vector.empty)

  /** The tags taken, in fold order, or None when nothing was taken. */
  private def fold(prior: Option[St], rows: Row*): Option[Vector[String]] =
    KeyedFold(rows.iterator, prior, Zero)(
        r => EventTime.toTimestamp(r.us), _.tie, st => (st.lastUs, st.lastTie)) {
      (st, r, us) =>
        assert(us == r.us, "the step gets the row's exact micros")
        St(us, r.tie, st.taken :+ r.tag)
    }.map(_.taken.drop(prior.fold(0)(_.taken.size)))

  test("sub-millisecond micros decide the order") {
    // one millisecond apart in getTime would tie all three
    assert(fold(None, Row(5_000_300L, 1L, "c"), Row(5_000_001L, 9L, "a"),
      Row(5_000_002L, 0L, "b")) == Some(Vector("a", "b", "c")))
  }

  test("equal micros are ordered by tie") {
    assert(fold(None, Row(7L, 3L, "c"), Row(7L, 1L, "a"), Row(7L, 2L, "b")) ==
      Some(Vector("a", "b", "c")))
  }

  test("of duplicate (micros, tie) rows in one batch, the first to arrive is kept") {
    assert(fold(None, Row(9L, 4L, "second"), Row(8L, 1L, "x"), Row(9L, 4L, "dup"),
      Row(9L, 4L, "dup2")) == Some(Vector("x", "second")))
  }

  test("rows at or behind the mark are dropped") {
    val prior = Some(St(100L, 5L, Vector("seen")))
    assert(fold(prior, Row(99L, 9L, "older"), Row(100L, 5L, "at"),
      Row(100L, 4L, "tie-behind"), Row(100L, 6L, "tie-after"), Row(101L, 0L, "after")) ==
      Some(Vector("tie-after", "after")))
  }

  test("with no prior state, every row is taken") {
    assert(fold(None, Row(Long.MinValue, Long.MinValue, "min"), Row(-5L, 0L, "neg"),
      Row(0L, 0L, "zero")) == Some(Vector("min", "neg", "zero")))
  }

  test("a batch with nothing new gives no state") {
    val prior = Some(St(100L, 5L, Vector("seen")))
    assert(fold(prior, Row(100L, 5L, "replay"), Row(50L, 8L, "stale")).isEmpty)
    assert(fold(prior).isEmpty)
  }
}

object KeyedFoldSpec {
  final case class Row(us: Long, tie: Long, tag: String)
  final case class St(lastUs: Long, lastTie: Long, taken: Vector[String])
}
