package graft
/** Writes `.explain("formatted")` output for named catalog queries to
  * files — the round-21+ optimization-evidence harness (plans/r21/).
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <name,name,...>
  * Query construction runs exactly as in Bench/Verify (same session
  * confs); only the plan is captured, nothing is executed. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, names) = args.take(3)
    val only = names.split(",").toSet
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.contains(n) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/$name.txt"), txt)
          println(s"[plandump] wrote $outDir/$name.txt")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: $e")
        }
      }
    spark.stop()
  }
}
