package graft.plumba

import java.time.Duration

/** Max-gap-between-consecutive-rows kernel over a Datetime column — the
  * Datetime/Duration leg of the reference's kernel type surface
  * (reference src/polars_numba/__init__.py:408–424 maps Datetime/
  * Duration into kernels; examples_fold.py:17 folds over date data)
  * exercised with real temporal types end-to-end: the fold's VALUE
  * column is a Spark TimestampType (arriving in the kernel as
  * `java.sql.Timestamp`), the accumulator carries a
  * `java.time.Duration`, and the emitted result is a Duration that
  * surfaces as a `DayTimeIntervalType` column.
  *
  * The segment state (n, first, last, maxGap) obeys the fold merge law
  * — `combine(fold(xs), fold(ys))` for an ordered split equals
  * `fold(xs ++ ys)` because the only cross-segment gap is
  * `ys.first − xs.last` — so the kernel is lawful on every mergeable
  * path including the range-partitioned group fold. Not commutative:
  * partials must combine in order ([[Ranged]] does). */
object TimeGap {

  /** Segment state: rows seen, first/last timestamps (epoch µs), max
    * gap so far. Empty segment ⇔ n == 0. */
  final case class S(n: Long, firstUs: Long, lastUs: Long, maxGap: Duration)

  val empty: S = S(0L, 0L, 0L, Duration.ZERO)

  /** Every external JVM shape Spark hands a kernel for temporal values:
    * TimestampType → java.sql.Timestamp, (java8API) → Instant,
    * TimestampNTZType → LocalDateTime (session tz pinned UTC here),
    * nanosAsLong parquet reads → Long nanos. */
  private def epochUs(v: Any): Long = v match {
    case t: java.sql.Timestamp =>
      val i = t.toInstant; i.getEpochSecond * 1000000L + i.getNano / 1000L
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000L
    case l: java.time.LocalDateTime =>
      val i = l.toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    case n: Long => n / 1000L // bigint nanos (nanosAsLong convention)
    case other => throw new IllegalArgumentException(
      s"TimeGap: unsupported temporal value ${other.getClass.getName}")
  }

  private def maxD(a: Duration, b: Duration): Duration = if (a.compareTo(b) >= 0) a else b
  private def ofUs(us: Long): Duration = Duration.of(us, java.time.temporal.ChronoUnit.MICROS)

  def combine(a: S, b: S): S =
    if (a.n == 0) b
    else if (b.n == 0) a
    else S(a.n + b.n, a.firstUs, b.lastUs,
      maxD(maxD(a.maxGap, b.maxGap), ofUs(b.firstUs - a.lastUs)))

  def kernel: Kernel.Fold[S] =
    Kernel.Fold.of1[S, Any](empty, merge = Some(Kernel.Merge(empty, combine))) { (s, v) =>
      val us = epochUs(v)
      if (s.n == 0) S(1L, us, us, Duration.ZERO)
      else S(s.n + 1L, s.firstUs, us, maxD(s.maxGap, ofUs(us - s.lastUs)))
    }

  /** Groups with fewer than two rows have no gap — emit null (the
    * reference's fold of an empty/singleton frame has no defined gap). */
  def emit(s: S): Any = if (s.n < 2) null else s.maxGap
}
