package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The day-2 media probes ([[LlmQueries.incrementalProbe]]) read what
  * they derive from the corpus through [[Artifacts]]: the persisted
  * band index, the spread decisions and the echo batch's id offset
  * (the one `echo_base` max(doc_id)). So a warm rebuild of any of the
  * eight day-2 queries runs no corpus scan of its own while its
  * DataFrame is built.
  *
  * Two kinds of build-time job remain and are counted apart: every
  * `Tables(...)` read infers its parquet schema with a one-task job
  * (call site in Tables.scala), and the caption family's signature
  * frame is `Materialize.shared` over the spread, so the adaptive plan
  * runs that one round-robin shuffle when the frame is built. */
class MediaWarmBuildSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  for (m <- MediaModality.all; q <- Seq(s"${m.name}_dedup_incremental", s"${m.name}_forget"))
    test(s"$q: a warm second build runs no Spark job of its own") {
      val build = LlmQueries.defs(q)
      build(spark, TestSpark.sfDir)
      val (_, jobs) = TestSpark.jobsDuring(build(spark, TestSpark.sfDir))
      val own = jobs.filterNot(_.stageInfos.forall(_.name.contains("at Tables.scala")))
      val sharedSpread = if (m == MediaModality.Caption) 1 else 0
      assert(own.size === sharedSpread, s"$q: the warm build ran jobs " +
        own.map(_.stageInfos.map(_.name).mkString("+")).mkString("; "))
    }
}
