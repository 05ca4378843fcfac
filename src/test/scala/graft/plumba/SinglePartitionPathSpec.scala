package graft.plumba

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.plumba.PartitionInvarianceSpec._

/** A one-partition input is sorted in place: an ordered whole-frame fold
  * runs one Spark job of one stage. A multi-partition input keeps the
  * range-sorted partial folds. */
class SinglePartitionPathSpec extends AnyFunSuite {

  /** (ts, v): `ts` is a permutation of 0..999, `v` has nulls. */
  private val rows: Seq[Row] = (0 until 1000).map { i =>
    Row(((i * 7919) % 1000).toLong, if (i % 13 == 0) null else Long.box((i * 31) % 97))
  }
  private val schema = StructType(Seq(
    StructField("ts", LongType, nullable = false), StructField("v", LongType)))
  private val inOrder: Seq[IndexedSeq[Any]] = rows.sortBy(_.getLong(0)).map(r => IndexedSeq(r.get(1)))

  /** AQE may not merge the range partitions back into one. */
  private lazy val session: SparkSession = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s
  }
  private def onePartitionFrame(): DataFrame =
    session.createDataFrame(session.sparkContext.parallelize(rows, 1), schema)
  private lazy val onePartition: DataFrame = onePartitionFrame()

  private val V = Seq("v")
  private val O = Seq("ts")

  for ((name, k) <- Seq("sequential" -> polySeq, "mergeable" -> polyMerge))
    test(s"collectFold $name on one partition runs one job of one stage") {
      val cached = onePartitionFrame().cache()
      try {
        cached.count()
        for ((input, df) <- Seq("rdd scan" -> onePartition, "cached scan" -> cached)) {
          val (result, jobs) = TestSpark.jobsDuring(CollectOps.collectFold(df, V, O, k))
          assert(result == Kernel.foldRows(k, inOrder.iterator), input)
          assert(jobs.size == 1, s"$input: ${jobs.size} jobs")
          assert(jobs.head.stageInfos.size == 1, s"$input: the job has a shuffle stage")
        }
      } finally cached.unpersist()
    }

  test("collectFold mergeable on one partition folds from init like the sequential fold, bit for bit") {
    // a Double sum whose rounding depends on grouping: ((1 + 1e16) - 1e16) + 0.5 is 0.5,
    // while 1 + ((0 + 1e16 - 1e16) + 0.5) is 1.5
    val sum = Kernel.Fold[Double](1.0, (a, vs) => a + vs(0).asInstanceOf[Double],
      merge = Some(Kernel.Merge(0.0, _ + _)))
    val df = session.createDataFrame(session.sparkContext.parallelize(
      Seq(Row(2L, 0.5), Row(0L, 1e16), Row(1L, -1e16)), 1),
      StructType(Seq(StructField("ts", LongType), StructField("v", DoubleType))))
    val expected = Kernel.foldRows(sum, Iterator(IndexedSeq(1e16), IndexedSeq(-1e16), IndexedSeq(0.5)))
    assert(expected == 0.5)
    assert(CollectOps.collectFold(df, V, O, sum) == expected)
  }

  test("collectFold mergeable on five partitions still folds range partials in parallel") {
    val (result, jobs) = TestSpark.jobsDuring(CollectOps.collectFold(onePartition.repartition(5), V, O, polyMerge))
    assert(result == Kernel.foldRows(polyMerge, inOrder.iterator))
    val resultStage = jobs.last.stageInfos.maxBy(_.stageId)
    assert(resultStage.numTasks > 1, s"result job ran ${resultStage.numTasks} task")
  }
}
