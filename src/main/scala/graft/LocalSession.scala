package graft

import org.apache.spark.sql.SparkSession

/** The local session of this package's mains (Bench, Verify, PlanDump
  * and the probe mains): `local[SPARK_GRAFT_CPUS]` (default 4) with one
  * shuffle partition per core, the UI off, session time zone UTC and
  * parquet TIMESTAMP(NANOS) read as long (`Tables` normalizes events.ts
  * to epoch nanos whichever flavor the fixture carries, and its
  * NTZ→epoch lift depends on UTC), logging at WARN. A main that needs
  * another shuffle-partition count sets it on the returned session. */
private[graft] object LocalSession {
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
