package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Delete path for the persisted media band indexes (`media_forget`,
  * `media_caption_forget`): the tombstone mask must (a) remove EXACTLY
  * the forgotten corpus members' matches — the live probe plus the
  * inverted (deleted-only) probe must reconstruct the unmasked census
  * row for row, (b) genuinely bite on the fixture (some echo re-encode
  * loses a corpus match), (c) leave every batch row with no deleted
  * match bit-identical, and (d) add ZERO hash exchanges over the plain
  * day-2 probe — a broadcast anti-join, never an index rewrite (the
  * AnnForgetSpec contract on the perceptual indexes). */
class MediaForgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  private def h60(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(15), 16)

  private def census(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, String)] =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap

  private def checkFamily(name: String,
      probe: Option[String] => org.apache.spark.sql.DataFrame): Unit = {
    val deletes = Tables(spark, TestSpark.sfDir, "documents")
      .select("doc_id").collect().map(_.getLong(0))
      .filter(id => h60(s"forget:$id") % 50 == 0)
    assert(deletes.nonEmpty, s"$name: fixture must plant delete requests")
    val base = census(probe(None))
    val live = census(probe(Some("left_anti")))
    val dead = census(probe(Some("left_semi")))
    assert(live.keySet === base.keySet, s"$name: the mask must never drop a batch row")
    // distinct corpus matches split exactly into survivors + deleted:
    // the anti and semi probes are complementary views of one index
    base.foreach { case (id, (n, _)) =>
      assert(live(id)._1 + dead(id)._1 === n,
        s"$name: batch $id: live ${live(id)._1} + deleted ${dead(id)._1} != base $n")
      assert(live(id)._2 === (if (live(id)._1 > 0) "dup_corpus" else "new"),
        s"$name: batch $id status")
    }
    assert(dead.values.map(_._1).sum > 0,
      s"$name: fixture must delete at least one matched corpus member or the gate proves nothing")
    // rows that lost nothing are bit-identical to the unmasked probe
    val untouched = base.keySet.filter(id => dead(id)._1 == 0)
    assert(untouched.nonEmpty)
    untouched.foreach(id => assert(live(id) === base(id), s"$name: batch $id must not change"))
  }

  /** Each family with its forget gate's test title and the short name
    * its assertion messages use. */
  private val families = Seq(
    (MediaModality.Image, "media",
      "deleted images stop matching; survivors account exactly; others bit-identical"),
    (MediaModality.Caption, "caption", "the composite index masks the same way"),
    (MediaModality.Audio, "audio", "the PCM band index masks the same way"),
    (MediaModality.Video, "video", "the majority-signature band index masks the same way"))

  for ((m, name, what) <- families)
    test(s"${m.name}_forget: $what") {
      checkFamily(name, LlmQueries.incrementalProbe(spark, TestSpark.sfDir, m, _))
    }

  test("plan: broadcast anti-join mask, bucketed index scan kept, zero added hash exchanges") {
    def hashEx(p: String): Int = "Exchange hashpartitioning".r.findAllIn(p).size
    families.foreach { case (m, name, _) =>
      val baseDf = LlmQueries.incrementalProbe(spark, TestSpark.sfDir, m, None)
      val forgDf = LlmQueries.defs(s"${m.name}_forget")(spark, TestSpark.sfDir)
      val pBase = baseDf.queryExecution.executedPlan.toString
      val pForg = forgDf.queryExecution.executedPlan.toString
      assert(pForg.contains("LeftAnti"), s"$name mask must be an anti-join:\n$pForg")
      assert(pForg.contains("Bucketed: true"),
        s"$name probe must still read the bucketed index:\n$pForg")
      assert(hashEx(pForg) === hashEx(pBase),
        s"$name delete path must add no shuffle (base ${hashEx(pBase)}, forget ${hashEx(pForg)})")
    }
  }
}
