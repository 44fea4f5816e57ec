package graft.streaming

/** The ordering contract of the in-order keyed twins, in one place.
  *
  * A micro-batch reaches a `flatMapGroupsWithState` or
  * `transformWithState` function unordered. Each twin folds one key's
  * rows in exact (event micros, tie) order, where the tie is the row's
  * sequence or event id, and takes only the rows strictly after the
  * key's high-water mark: the (micros, tie) of the last row it took. A
  * re-delivered row or a cross-batch straggler is dropped
  * (watermark-style), and of rows with equal (micros, tie) only the
  * first to arrive is taken. Streaming ≡ batch therefore holds for feeds
  * ordered at micro-batch granularity.
  *
  * The twin's state carries the mark. Its `step` must set the mark to
  * the taken row's own (micros, tie); `mark` reads it back on the next
  * batch. A key with no prior state has no mark, so its first row is
  * always taken.
  */
private[streaming] object KeyedFold {

  private final class Keyed[T](val us: Long, val tie: Long, val row: T)

  private val ByTime: java.util.Comparator[Keyed[_]] = (a, b) => {
    val c = java.lang.Long.compare(a.us, b.us)
    if (c != 0) c else java.lang.Long.compare(a.tie, b.tie)
  }

  /** Fold one key's `rows` into `prior` (or `zero` for a new key) through
    * `step(state, row, rowMicros)`. Returns the folded state, or None
    * when no row was taken. */
  def apply[T, S](rows: Iterator[T], prior: Option[S], zero: S)(
      time: T => java.sql.Timestamp, tie: T => Long, mark: S => (Long, Long))(
      step: (S, T, Long) => S): Option[S] = {
    // getTime truncates sub-ms, so order on exact micros; the sort is stable
    val sorted = rows.map(t => new Keyed(EventTime.micros(time(t)), tie(t), t)).toArray
    java.util.Arrays.sort(sorted, ByTime)
    var (lastUs, lastTie) = prior.fold((Long.MinValue, Long.MinValue))(mark)
    var st = prior.getOrElse(zero)
    var took = false
    for (k <- sorted)
      if ((prior.isEmpty && !took) || k.us > lastUs || (k.us == lastUs && k.tie > lastTie)) {
        st = step(st, k.row, k.us)
        lastUs = k.us; lastTie = k.tie; took = true
      }
    if (took) Some(st) else None
  }
}
