package graft
import org.apache.spark.scheduler._
/** Round-21 job/stage breakdown probe: runs one catalog query (after a
  * warm rep) with a listener that prints per-job wall time and
  * per-stage task-time sums — where a gate's seconds actually go.
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.JobProbe <name> */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.put(j.jobId, (System.nanoTime(),
          Option(j.properties.getProperty("spark.job.description")).getOrElse("")))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val (t0, d) = jobs.getOrDefault(j.jobId, (0L, "?"))
        println(f"[jobprobe] job ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%7.3f s  $d")
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val si = s.stageInfo
        val wall = (for { a <- si.completionTime; b <- si.submissionTime } yield (a - b) / 1e3)
          .getOrElse(-1.0)
        println(f"[jobprobe]   stage ${si.stageId}%3d wall $wall%7.3f s tasks ${si.numTasks}%3d " +
          f"run ${si.taskMetrics.executorRunTime / 1e3}%7.3f s  ${si.name.take(60)}")
      }
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def run(): Unit = fn(spark, dir).write.mode("overwrite").format("noop").save()
      // warm twice (codegen + caches)
      run(); run()
      println(s"[jobprobe] ===== $name =====")
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      run()
      Thread.sleep(300) // let the listener bus drain before detaching
      spark.sparkContext.removeSparkListener(listener)
      println(f"[jobprobe] TOTAL ${(System.nanoTime() - t0) / 1e9}%6.3f s for $name")
    }
    spark.stop()
  }
}
