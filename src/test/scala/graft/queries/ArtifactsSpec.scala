package graft.queries

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[Artifacts]]: every artifact kind is built once and hit after; an
  * in-place rewrite of one table rebuilds exactly the artifacts that
  * read it; a stopped SparkContext rebuilds the session-bound kinds and
  * keeps plain values. All on a temp copy of the sf0.001 fixture, so
  * the copy's files are the only inputs any entry here is keyed on. */
class ArtifactsSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  private lazy val dir: Path = ArtifactsSpec.copyFixture()

  override def afterAll(): Unit = Artifacts.deleteTree(dir)

  /** Each kind (the kind string up to its first `:`) with a call that
    * reaches it. `spread` and `echo_base` come first: later builds look
    * them up too. */
  private def touches(s: SparkSession, d: String): Seq[(String, () => Any)] = {
    val docs = Tables(s, d, "documents")
    val small = docs.filter(col("doc_id") < 20).select("doc_id", "text")
    Seq(
      "spread" -> (() => LlmQueries.spreadForCompute(s, d, docs)),
      "echo_base" -> (() => LlmQueries.dedupIncremental(s, d)),
      "rev" -> (() => RelationalQueries.bucketedJoinRevenue(s, d)),
      "ivf_cells" -> (() => LlmQueries.ivfIndex(s, d)),
      "ivf_cells_app" -> (() => LlmQueries.annIvfPersistedAppend(s, d)),
      "semdedup_corpus" -> (() => LlmQueries.dedupSemanticIncrementalWith(s, d)),
      "caption_sigs" -> (() => LlmQueries.captionSigIndexTable(s, d)),
      "media_sigs" -> (() => LlmQueries.mediaSigIndexTable(s, d)),
      "audio_sigs" -> (() => LlmQueries.audioSigIndexTable(s, d)),
      "video_sigs" -> (() => LlmQueries.videoSigIndexTable(s, d)),
      "corpus_hashes" -> (() => LlmQueries.dedupIncrementalBucketed(s, d)),
      "cdc_chunk_hashes" -> (() => LlmQueries.dedupCdcIncremental(s, d)),
      "bm25_index" -> (() => LlmQueries.bm25IndexTables(s, d)),
      "bm25_index_app" -> (() => LlmQueries.bm25TopkIncremental(s, d)),
      "dsir_weights" -> (() => LlmQueries.dsirWeightsTable(s, d)),
      "diff_snap_a" -> (() => StreamingQueries.datasetDiffClose(s, d)),
      "bpe" -> (() => LlmQueries.trainedBpe(s, d)),
      "bpe_bytes" -> (() => LlmQueries.trainedBpeBytes(s, d)),
      "unigram" -> (() => LlmQueries.trainedUnigram(s, d)),
      "neardup_index" -> (() => StreamingQueries.neardupIndex(docs.select("doc_id", "text"))),
      "stream_fixture" -> (() => StreamingQueries.spillIdBuckets(s, small, "doc_id", 2)),
      "export_json" -> (() => graft.sources.JsonlSink.roundTrip(small)),
      "export_csv" -> (() => graft.sources.JsonlSink.roundTripCsv(small)),
      "export_orc" -> (() => graft.sources.JsonlSink.roundTripOrc(small)),
      "export_tar" -> (() => graft.sources.TarShardSink.roundTrip(small, "doc_id", "text", 2)))
  }

  private def traffic(kind: String)(before: Map[String, Artifacts.Counts]): Artifacts.Counts =
    Artifacts.snapshot().collect { case (k, c) if k.takeWhile(_ != ':') == kind =>
      c - before.getOrElse(k, Artifacts.Counts.zero)
    }.foldLeft(Artifacts.Counts.zero)(_ + _)

  private def callEach(d: String): Map[String, Artifacts.Counts] =
    touches(spark, d).map { case (kind, touch) =>
      val before = Artifacts.snapshot()
      touch()
      kind -> traffic(kind)(before)
    }.toMap

  test("every artifact kind is built once, then hit") {
    val first = callEach(dir.toString)
    first.foreach { case (kind, c) => assert(c.misses == 1 && c.hits == 0, s"$kind first call: $c") }
    val second = callEach(dir.toString)
    second.foreach { case (kind, c) => assert(c.misses == 0 && c.hits >= 1, s"$kind second call: $c") }
  }

  test("rewriting one table rebuilds exactly the artifacts that read it") {
    callEach(dir.toString) // built (or already built by the test above)
    val emb = dir.resolve("embeddings.parquet")
    val stage = Files.createTempDirectory("graft_emb_")
    try {
      spark.read.parquet(emb.toString).filter(col("vec_id") % 2 === 0)
        .coalesce(1).write.mode("overwrite").parquet(stage.resolve("out").toString)
      val part = Files.list(stage.resolve("out")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, emb, StandardCopyOption.REPLACE_EXISTING)
    } finally Artifacts.deleteTree(stage)
    val readsEmbeddings = Set("ivf_cells", "ivf_cells_app", "semdedup_corpus")
    callEach(dir.toString).foreach { case (kind, c) =>
      if (readsEmbeddings(kind)) assert(c.misses == 1, s"$kind must rebuild: $c")
      else assert(c.misses == 0 && c.hits >= 1, s"$kind must still hit: $c")
    }
  }

  test("a stopped SparkContext rebuilds session-bound kinds and keeps plain values") {
    // stopping the shared test context would break every other suite in
    // this JVM, so the stop/restart runs in a child JVM
    val javaBin = Path.of(sys.props("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx")).toSeq
    val cmd = Seq(javaBin, "-Xmx2g") ++ jvmArgs ++ Seq("-cp", sys.props("java.class.path"),
      "graft.queries.ArtifactsRestartMain", ArtifactsSpec.copyFixture().toString)
    val out = scala.sys.process.Process(cmd).!!(scala.sys.process.ProcessLogger(_ => ()))
    val counts = out.linesIterator.collect {
      case l if l.startsWith("ARTIFACT ") =>
        val Array(_, kind, hits, misses) = l.split(" ")
        kind.takeWhile(_ != ':') -> ((hits.toLong, misses.toLong))
    }.toMap
    for (k <- Seq("rev", "neardup_index"))
      assert(counts(k) == ((0L, 2L)), s"$k: session-bound, rebuilt under the new context")
    for (k <- Seq("echo_base", "spread"))
      assert(counts(k) == ((1L, 1L)), s"$k: a plain value survives the restart")
    assert(out.linesIterator.contains("READABLE true true"),
      "the bucketed tables are readable under both contexts")
  }
}

object ArtifactsSpec {
  /** A fresh temp copy of the sf0.001 fixture. */
  def copyFixture(): Path = {
    val d = Files.createTempDirectory("graft_artifacts_")
    Files.list(Path.of(TestSpark.sfDir)).iterator().asScala.foreach { f =>
      Files.copy(f, d.resolve(f.getFileName))
    }
    d
  }
}

/** Child JVM of the restart test: touches two session-bound kinds and
  * two plain values, stops the context, touches them again under a new
  * one and prints each kind's `hits misses`. */
object ArtifactsRestartMain {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    def session(): SparkSession = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    def touch(s: SparkSession): Boolean = {
      val docs = Tables(s, dir, "documents")
      LlmQueries.spreadForCompute(s, dir, docs)
      LlmQueries.dedupIncremental(s, dir)
      StreamingQueries.neardupIndex(docs.select("doc_id", "text")).count()
      RelationalQueries.bucketedJoinRevenue(s, dir).count() > 0
    }
    val s1 = session()
    val ok1 = touch(s1)
    s1.stop()
    val ok2 = touch(session())
    Artifacts.snapshot().foreach { case (k, c) => println(s"ARTIFACT $k ${c.hits} ${c.misses}") }
    println(s"READABLE $ok1 $ok2")
    try Artifacts.deleteTree(Path.of(dir)) finally System.exit(0)
  }
}
