package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Cross-modal (caption, image) joint near-dup —
  * [[graft.llm.Dedup.crossModalPairs]]: composite (text MinHash band ×
  * image dHash band) buckets, dual verification. Pins the JOINT
  * semantics (a pair must pass BOTH modalities), the planted-dup
  * recall, and the plan shape (one shuffle on the composite bucket,
  * never all-pairs). */
class MediaCaptionDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val df = LlmQueries.mediaCaptionDedup(spark, TestSpark.sfDir)
  private lazy val pairs =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))

  test("every pair is within-cluster and passes BOTH verifies") {
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b, j, h) =>
      assert(a / 8 === b / 8, s"cross-cluster pair ($a,$b)")
      assert(j >= 0.3, s"pair ($a,$b) est_jaccard $j")
      assert(h <= 4, s"pair ($a,$b) hamming $h")
    }
  }

  test("planted recall: paraphrased-caption + near-identical-image mates found at >= 98%") {
    // composite banding multiplies the band-match probabilities, so
    // recall is deliberately NOT 1.0 (p_text ~ 0.999 per pair at the
    // fixture's ~0.875 shingle Jaccard); the fixture value is
    // deterministic — pin the measured floor, not a flaky exact count
    val docs = Tables(spark, TestSpark.sfDir, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val planted = docs.groupBy(_ / 8).values
      .flatMap(ids => ids.sorted.combinations(2).map(s => (s(0), s(1)))).toSet
    val got = pairs.map(p => (p._1, p._2)).toSet
    assert(got.subsetOf(planted), "no phantom cross-cluster pairs")
    val recall = got.size.toDouble / planted.size
    assert(recall >= 0.98, s"recall $recall (${got.size}/${planted.size})")
  }

  test("joint means joint: the pair set is a subset of the image family's pairs") {
    val imagePairs = LlmQueries.mediaDedupFeatures(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs.map(p => (p._1, p._2)).toSet
    assert(got.subsetOf(imagePairs),
      "a cross-modal pair without an image-side match would break the composite-bucket contract")
  }

  test("plan: one composite-bucket shuffle, never all-pairs, signatures materialized once") {
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pairing must ride composite LSH buckets:\n$plan")
    // the (id, tsig, isig) frame is `shared`, so the MinHash
    // pipeline must appear NOWHERE in the executed plan (CollapseProject
    // would otherwise inline it into both the bucket derivation and the
    // member struct)
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LocalTableScan"),
      s"signatures must come from the materialized frame:\n$plan")
  }
}
