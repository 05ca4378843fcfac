package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Table loading + oracle-parity helpers shared by the query catalog. */
object Tables {

  /** Read a driver test table. The events fixture's PHYSICAL `ts` type
    * has shipped in two flavors across driver versions — TIMESTAMP(NANOS)
    * (which Spark 4 reads as bigint nanos under the nanosAsLong legacy
    * conf) and TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ) — so `ts` is
    * normalized HERE, at the single load point, to the repo-wide
    * convention: bigint epoch NANOSECONDS. Downstream consumers do exact
    * integer nanos arithmetic; the DuckDB oracle side uses epoch_ns(ts),
    * which yields the same int64 from any timestamp precision. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    setTsConfs(spark)
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeTs(df) else df
  }

  /** The events table as a STREAMING source under the same normalized-ts
    * convention as [[apply]]. The file stream must be declared with the
    * RAW footer schema (a pre-normalized schema would mis-state the
    * physical type and fail the scan); normalization is then a stateless
    * projection on the streaming frame. The glob sidesteps
    * FileStreamSource's directory check (events.parquet is one file). */
  def streamEvents(spark: SparkSession, dir: String): DataFrame = {
    setTsConfs(spark)
    val raw = spark.read.parquet(s"$dir/events.parquet").schema
    normalizeTs(spark.readStream.schema(raw).parquet(s"$dir/events.parquet*"))
  }

  /** The documents table as a STREAMING source: one whole file, so it
    * arrives in one micro-batch. The glob sidesteps FileStreamSource's
    * directory check (documents.parquet is one file). */
  private[queries] def documentsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(apply(spark, dir, "documents").schema)
      .parquet(s"$dir/documents.parquet*")

  /** Normalize a `ts` column to bigint epoch nanos, branching on the
    * type ACTUALLY loaded (the TimeGap dtype-branching pattern — never
    * assume the fixture's physical type): LongType is already nanos;
    * TIMESTAMP/TIMESTAMP_NTZ carry micros, lifted ×1000. The NTZ→epoch
    * cast is exact because the session time zone is pinned UTC. Works on
    * batch and streaming frames alike (stateless projection, column
    * position preserved). */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => df
      case Some(TimestampType) | Some(TimestampNTZType) =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case _ => df
    }

  private def setTsConfs(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the NTZ→epoch lift in normalizeTs is tz-sensitive; every entry
    // point pins UTC already — re-pin here so no loader can miss it
    spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  /** Order-independent exact sum for double money columns, identical in
    * Spark and DuckDB: cast to decimal (exact integer arithmetic, same
    * result for ANY summation order) then back to double. A plain
    * sum(double) differs between engines in final ulps because each sums
    * in its own order — this would fail the driver's hash compare. */
  def decSum(c: Column, scale: Int = 6): Column =
    toDouble2(sum(c.cast(s"decimal(18,$scale)")))

  /** Final decimal→double conversion, rounded to scale 2 first: with the
    * scaled integer < 2^53 the IEEE conversion is exact in both engines.
    * A direct cast of a scale-12 decimal (scaled value > 2^53) differs by
    * 1 ulp between DuckDB (int128→double then divide) and the JVM
    * (correctly-rounded BigDecimal.doubleValue) — observed on
    * q5_region_revenue at sf0.01. */
  def toDouble2(c: Column): Column = c.cast("decimal(30,2)").cast("double")

  /** Exact revenue term: price * (1 - discount), in decimal. Scales are
    * kept tight (price < 10^9, rates < 10) so that even a further
    * * (1 + tax) factor stays inside precision 38 in BOTH engines —
    * overflowing 38 would trigger engine-specific precision-loss rounding
    * and break the hash compare. */
  def revenueTerm(price: Column, discount: Column): Column =
    price.cast("decimal(15,6)") * (lit(1).cast("decimal(7,6)") - discount.cast("decimal(7,6)"))

  /** One-plus-rate factor with the same tight scale. */
  def onePlus(rate: Column): Column =
    lit(1).cast("decimal(7,6)") + rate.cast("decimal(7,6)")

  /** The same expressions as DuckDB SQL text (for oracle strings). */
  def sqlDecSum(c: String, scale: Int = 6): String =
    sqlToDouble2(s"SUM(CAST($c AS DECIMAL(18,$scale)))")
  /** NOTE: DuckDB's decimal→decimal downcast TRUNCATES (0.125→0.12) while
    * Spark's rounds HALF_UP — the oracle must use explicit ROUND(), which
    * is half-away-from-zero in DuckDB and matches Spark exactly. */
  def sqlToDouble2(expr: String): String =
    s"CAST(CAST(ROUND($expr, 2) AS DECIMAL(30,2)) AS DOUBLE)"
  def sqlRevenueTerm(price: String, discount: String): String =
    s"CAST($price AS DECIMAL(15,6)) * (CAST(1 AS DECIMAL(7,6)) - CAST($discount AS DECIMAL(7,6)))"
  def sqlOnePlus(rate: String): String =
    s"(CAST(1 AS DECIMAL(7,6)) + CAST($rate AS DECIMAL(7,6)))"
}
