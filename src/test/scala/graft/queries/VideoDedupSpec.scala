package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The video near-dup family — GIF sequence encode → real frame decode
  * → per-frame dHash → majority-bit video signature →
  * [[graft.llm.Dedup.bitSignaturePairs]]. Replays pixels, per-frame bits and the
  * majority vote in plain Scala (proving the REAL codec path ran), and
  * pins the recall contract: cluster-mates' majority signatures differ
  * pairwise in at most the two bits their shared noise pixel touches. */
class VideoDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val F = 5

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  private def h60(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(15), 16)

  /** The gate's closed form: pixel → frame dHash → majority. */
  private def expectedSig(docId: Long): String = {
    val p = docId / 8
    def gray(k: Int, x: Int, y: Int): Int = {
      val base = (h60(s"vid:$p:$k:$x:$y") % 126L).toInt
      val bump =
        if (k == (p % F).toInt && x == (p % 8).toInt && y == ((p / 8) % 8).toInt)
          (h60(s"vidn:$docId") % 126L).toInt
        else 0
      1 + (base + bump) % 126
    }
    val votes = new Array[Int](56)
    for (k <- 0 until F; y <- 0 until 8; x <- 0 until 7)
      if (gray(k, x + 1, y) > gray(k, x, y)) votes(y * 7 + x) += 1
    votes.map(v => if (2 * v > F) '1' else '0').mkString
  }

  private lazy val sigs = LlmQueries.mediaSigs(spark, TestSpark.sfDir, MediaModality.Video, None)
    .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("majority signatures replay the encode→decode→dHash→vote chain exactly") {
    assert(sigs.nonEmpty)
    sigs.foreach { case (id, sig) =>
      assert(sig.length === 56, s"doc $id sig length")
      assert(sig === expectedSig(id), s"doc $id signature")
    }
  }

  test("hash60Jvm is the exact executor-side twin of the Column hash60") {
    Seq("vid:0:0:0:0", "vidn:42", "", "aud:7", "span:1:2").foreach { s0 =>
      assert(graft.llm.Sampling.hash60Jvm(s0) === h60(s0), s"hash60Jvm('$s0')")
    }
  }

  test("cluster-mates' majority signatures differ only at the noise pixel's two comparisons") {
    sigs.groupBy(_._1 / 8).foreach { case (p, ms) =>
      val nx = (p % 8).toInt; val ny = ((p / 8) % 8).toInt
      val allowed = Set(ny * 7 + nx - 1, ny * 7 + nx)
        .filter(b => b >= ny * 7 && b < ny * 7 + 7)
      for (Seq((ia, sa), (ib, sb)) <- ms.toSeq.sortBy(_._1).combinations(2)) {
        val diff = (0 until 56).filter(i => sa(i) != sb(i))
        assert(diff.forall(allowed.contains),
          s"docs $ia/$ib (cluster $p, noise ($nx,$ny)) differ at $diff")
      }
    }
  }

  test("narrow majority signature == exploded frames → per-frame dHash → majority aggregate") {
    // the one-map videoMajoritySignature must equal the shuffle-bearing
    // chain it replaced bit-for-bit (PNG re-encode is lossless, so the
    // directly-read frames carry identical pixels)
    val Fv = F // local copy — the synth closure must not capture the suite
    val d = spark.range(0, 24).select(col("id").as("doc_id"),
      expr("CAST(id DIV 8 AS BIGINT)").as("p"),
      lit(Fv).as("nf"), lit(8).as("w"), lit(8).as("h"))
    val media = graft.llm.Multimodal.synthesizeGifFramesPx(
        d, "doc_id", "nf", "w", "h", "p") { (id, p, k, x, y) =>
      val base = (graft.llm.Sampling.hash60Jvm(s"vid:$p:$k:$x:$y") % 126L).toInt
      val bump =
        if (k == (p % Fv).toInt && x == (p % 8).toInt && y == ((p / 8) % 8).toInt)
          (graft.llm.Sampling.hash60Jvm(s"vidn:$id") % 126L).toInt
        else 0
      1 + (base + bump) % 126
    }.localCheckpoint(true)
    val narrow = graft.llm.Multimodal.videoMajoritySignature(media, "doc_id", "media")
    val frames = graft.llm.Multimodal.sampleImageFrames(media, "doc_id", "media", stride = 1)
    val exploded = graft.llm.Multimodal.imageDHash(
        frames.select(struct(col("doc_id"), col("frame_idx")).as("fid"), col("frame")),
        "fid", "frame", grid = 8)
      .select(col("fid.doc_id").as("doc_id"), col("sig"))
      .groupBy("doc_id").agg(collect_list(col("sig")).as("ss"))
      .selectExpr("doc_id",
        "array_join(transform(sequence(1, 56), i -> " +
          "IF(2 * size(filter(ss, s -> substring(s, i, 1) = '1')) > size(ss), '1', '0')), '') AS sig")
    val a = narrow.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = exploded.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a.size === 24 && a === b)
    // and the narrow path must carry NO exchange before pairing
    val plan = narrow.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"signature derivation must be one narrow map:\n$plan")
  }

  test("pairs gate: full within-cluster recall, zero cross-cluster pairs, never all-pairs") {
    val df = LlmQueries.mediaVideoDedup(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pairing must ride LSH buckets:\n$plan")
    val pairs = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val got = pairs.map(p => (p._1, p._2)).toSet
    pairs.foreach { case (a, b, h) =>
      assert(a / 8 === b / 8, s"cross-cluster pair ($a,$b)")
      assert(h <= 2, s"pair ($a,$b) hamming $h")
    }
    sigs.keys.groupBy(_ / 8).foreach { case (p, ids) =>
      for (Seq(a, b) <- ids.toSeq.sorted.combinations(2))
        assert(got.contains((a, b)), s"missed within-cluster pair ($a,$b) of cluster $p")
    }
  }
}
