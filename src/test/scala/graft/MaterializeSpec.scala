package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize
import org.scalatest.funsuite.AnyFunSuite

/** [[Materialize]]: `shared` keeps its lineage and its origin's
  * statistics, `truncated` cuts the lineage before it returns. */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def rddOf(df: DataFrame): RDD[_] =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }.get

  private def cachedPartitions(rdd: RDD[_]): Int =
    spark.sparkContext.getRDDStorageInfo.find(_.id == rdd.id).map(_.numCachedPartitions).getOrElse(0)

  // a shuffle under the frame, so a lost block is recomputed through it
  private def origin: DataFrame = spark.range(0, 2000, 1, 4)
    .groupBy((col("id") % 97).as("k")).agg(sum("id").as("s"), count(lit(1)).as("n"))

  test("shared: a lost block is recomputed from lineage") {
    val sh = Materialize.shared(origin)
    val rdd = rddOf(sh)
    val first = sh.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(first.size === 97)
    assert(cachedPartitions(rdd) > 0, "the first consumer fills the blocks")
    rdd.unpersist(blocking = true)
    assert(cachedPartitions(rdd) === 0)
    val again = sh.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again === first)
    assert(!rdd.isCheckpointed && rdd.dependencies.nonEmpty, "lineage is kept")
  }

  test("shared: building the frame over a shuffle-free plan runs no job") {
    val (sh, jobs) = TestSpark.jobsDuring(Materialize.shared(spark.range(0, 100, 1, 2).toDF("id")))
    assert(jobs.isEmpty, s"jobs: ${jobs.map(_.jobId)}")
    assert(sh.count() === 100)
  }

  test("shared: a small frame keeps its statistics and still broadcasts") {
    val big = spark.range(0, 50000000L).select((col("id") % 10).as("k"), col("id"))
    val small = Materialize.shared(spark.range(10).select(col("id").as("k"),
      concat(lit("name_"), col("id").cast("string")).as("name")))
    val joined = big.join(small, "k")
    val bhj = joined.queryExecution.sparkPlan.collectFirst { case j: BroadcastHashJoinExec => j }
    assert(bhj.exists(_.buildSide == BuildRight), joined.queryExecution.sparkPlan.toString)
  }

  test("truncated: the frame's RDD is checkpointed when the call returns") {
    val t = Materialize.truncated(origin)
    val rdd = rddOf(t)
    assert(rdd.isCheckpointed)
    assert(t.count() === 97)
  }
}
