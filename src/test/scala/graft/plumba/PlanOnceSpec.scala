package graft.plumba

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.grafttest.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.plumba.PartitionInvarianceSpec._

/** A whole-frame fold over one partition costs one physical plan and no
  * SQL execution: its rows leave the plan the call built to count the
  * partitions, through one plain Spark job. */
class PlanOnceSpec extends AnyFunSuite {

  /** Counts the planner's visits to the scan of the RDD `rddId`; plans nothing. */
  private final class ScanPlannings(rddId: Int) extends SparkStrategy {
    val count = new AtomicInteger
    def apply(plan: LogicalPlan): Seq[SparkPlan] = {
      plan match {
        case r: LogicalRDD if r.rdd.id == rddId => count.incrementAndGet()
        case _ =>
      }
      Nil
    }
  }

  private val schema = StructType(Seq(StructField("ts", LongType, nullable = false), StructField("v", LongType)))
  private val rows = (0 until 200).map(i => Row(((i * 7) % 200).toLong, if (i % 9 == 0) null else Long.box(i % 13)))

  for ((kind, k) <- Seq("sequential" -> polySeq, "mergeable" -> polyMerge, "commutative" -> sumComm))
    test(s"collectFold $kind on one partition plans its input once and starts no SQL execution") {
      val s = TestSpark.spark.newSession()
      val df = s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      val rddId = df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd.id }.get
      val plannings = new ScanPlannings(rddId)
      s.experimental.extraStrategies = Seq(plannings)
      val sc = s.sparkContext
      val executions = new AtomicInteger
      val listener = new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case _: SparkListenerSQLExecutionStart => executions.incrementAndGet()
          case _ =>
        }
      }
      Bus.drain(sc)
      sc.addSparkListener(listener)
      try {
        val got = CollectOps.collectFold(df, Seq("v"), Seq("ts"), k)
        Bus.drain(sc)
        val inOrder = rows.sortBy(_.getLong(0)).map(r => IndexedSeq(r.get(1)))
        assert(got == Kernel.foldRows(k, inOrder.iterator))
        assert(plannings.count.get == 1, s"the input was planned ${plannings.count.get} times")
        assert(executions.get == 0, s"${executions.get} SQL executions started")
      } finally sc.removeSparkListener(listener)
    }
}
