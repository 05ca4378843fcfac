package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Round-22 guard for the spreadForCompute memo (r21 verdict item 7):
  * the spread decision must be keyed per source layout, not per
  * fixture dir — in a MIXED-LAYOUT dir (one single-file table beside
  * one many-file table) each table must get its own probe instead of
  * inheriting whichever table was probed first. */
class SpreadDecisionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("mixed-layout dir: per-table spread decisions, not first-probe-wins") {
    val s = spark
    val target = s.sparkContext.defaultParallelism
    val tmp = java.nio.file.Files.createTempDirectory("graft_mixed_").toFile
    try {
      // many-partition table: tiny files are packed ~32-per-split
      // (openCostInBytes 4 MB vs 128 MB splits), so >= 32 files per
      // target partition keeps the READ at >= defaultParallelism
      s.range(0, 1000).select(col("id").as("wide_id"))
        .repartition(32 * target)
        .write.mode("overwrite").parquet(s"${tmp.getPath}/wide.parquet")
      // single-file table: the under-partitioned shape spread exists for
      s.range(0, 1000).select(col("id").as("narrow_id"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"${tmp.getPath}/narrow.parquet")

      val wide = s.read.parquet(s"${tmp.getPath}/wide.parquet")
      val narrow = s.read.parquet(s"${tmp.getPath}/narrow.parquet")
      assert(wide.rdd.getNumPartitions >= target, "fixture: wide must be spread already")
      assert(narrow.rdd.getNumPartitions < target, "fixture: narrow must be under-partitioned")

      // probe the MANY-partition table first: under the old per-dir memo
      // this poisoned the dir with doSpread=false for every neighbor
      val wideOut = graft.queries.LlmQueries.spreadForCompute(s, tmp.getPath, wide)
      assert(wideOut.rdd.getNumPartitions == wide.rdd.getNumPartitions,
        "already-spread input must pass through without a repartition")

      val narrowOut = graft.queries.LlmQueries.spreadForCompute(s, tmp.getPath, narrow)
      assert(narrowOut.rdd.getNumPartitions == target,
        "under-partitioned neighbor must still get its own spread decision " +
          "(per-(dir, columns) memo, not first-probe-wins per dir)")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp)
    }
  }

  test("same-schema tables in one dir: per-table spread decisions") {
    val s = spark
    val target = s.sparkContext.defaultParallelism
    val tmp = java.nio.file.Files.createTempDirectory("graft_same_").toFile
    try {
      s.range(0, 1000).select(col("id").as("doc_id"))
        .repartition(32 * target)
        .write.mode("overwrite").parquet(s"${tmp.getPath}/many.parquet")
      s.range(0, 1000).select(col("id").as("doc_id"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"${tmp.getPath}/single.parquet")

      val many = s.read.parquet(s"${tmp.getPath}/many.parquet")
      val single = s.read.parquet(s"${tmp.getPath}/single.parquet")
      assert(many.rdd.getNumPartitions >= target, "fixture: many must be spread already")
      assert(single.rdd.getNumPartitions < target, "fixture: single must be under-partitioned")

      graft.queries.LlmQueries.spreadForCompute(s, tmp.getPath, many)
      val singleOut = graft.queries.LlmQueries.spreadForCompute(s, tmp.getPath, single)
      assert(singleOut.rdd.getNumPartitions == target,
        "a same-columns neighbor must still get its own spread decision")
    } finally Artifacts.deleteTree(tmp.toPath)
  }
}
