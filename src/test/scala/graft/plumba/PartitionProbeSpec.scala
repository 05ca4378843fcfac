package graft.plumba

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, max, sum}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.plumba.PartitionInvarianceSpec._

/** Deciding whether an input is one partition runs no Spark job, and a
  * fold over a shuffled input runs the jobs it ran before the
  * one-partition rule existed. */
class PartitionProbeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private lazy val onePartition: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize((0 until 400).map(i => Row((i % 40).toLong, ((i * 37) % 400).toLong, i.toLong)), 1),
    StructType(Seq("g", "ts", "v").map(StructField(_, LongType, nullable = false))))
  /** One row per group: a shuffle, so an adaptive plan. */
  private lazy val grouped: DataFrame = onePartition.groupBy("g").agg(max("ts").as("ts"), sum("v").as("v"))

  private lazy val inputs = Seq(
    "one partition" -> onePartition, "repartition(5)" -> onePartition.repartition(5), "groupBy" -> grouped)

  test("the one-partition probe runs no job on any input") {
    // an unfilled cache of a range sort, without adaptive execution:
    // building its scan would run the sort's range sampler
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    val cached = noAqe.createDataFrame(onePartition.rdd, onePartition.schema)
      .repartition(5).orderBy(col("ts").desc).cache()
    try
      for ((name, df) <- inputs :+ ("cached range sort, adaptive execution off" -> cached)) {
        val (one, jobs) = TestSpark.jobsDuring(CollectOps.onePartition(df))
        assert(jobs.isEmpty, s"$name: ${jobs.size} jobs")
        assert(one == (name == "one partition"), name)
      }
    finally cached.unpersist()
  }

  test("collectFold over a groupBy input runs the jobs of the range-sorted path, no more") {
    val inOrder = grouped.collect().sortBy(_.getLong(1)).map(r => IndexedSeq[Any](r.getLong(2)))
    val jobCounts = for ((name, k) <- Seq("sequential" -> polySeq, "mergeable" -> polyMerge)) yield {
      val (result, jobs) = TestSpark.jobsDuring(CollectOps.collectFold(grouped, Seq("v"), Seq("ts"), k))
      assert(result == Kernel.foldRows(k, inOrder.iterator), name)
      name -> jobs.size
    }
    // the count the range-sorted path ran before the one-partition rule
    assert(jobCounts == Seq("sequential" -> 4, "mergeable" -> 4))
  }
}
