package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.llm.Similarity

/** RESTART-FROM-CHECKPOINT for `stream_ann_ivf_probe` (the third
  * stateful stream of the round-17 recovery-contract sweep): the
  * per-query [[graft.streaming.CosTopKAgg]] top-k state must survive a
  * reopened checkpoint — proven by a query whose candidate rows arrive
  * in BOTH runs: its post-restart emission must equal the batch
  * aggregate over the DOUBLED candidate set (the Aggregator keeps
  * duplicates, so only a merged pre-restart state produces that exact
  * list), while queries finished before the restart never re-emit. */
class StreamAnnRestartSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("CosTopKAgg state merges across a reopened checkpoint") {
    val s = spark
    import s.implicits._
    val dir = TestSpark.sfDir
    val e = Tables(s, dir, "embeddings").select("vec_id", "embedding")
    val idxTable = LlmQueries.ivfIndex(s, dir).table
    val cents = Similarity.ivfCentroids(e, "vec_id", "embedding", 16)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq

    val root = java.nio.file.Files.createTempDirectory("graft_annrst_").toFile
    sys.addShutdownHook { def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); () }; rm(root) }
    val srcDir = new java.io.File(root, "src"); srcDir.mkdirs()
    val cp = new java.io.File(root, "cp").toString

    def writeFile(name: String, ids: Seq[Long]): Unit = {
      val stage = new java.io.File(root, s"stage_$name")
      // preserve duplicates: an id listed twice ships two rows
      val idDf = ids.zipWithIndex.toDF("vec_id", "__i")
      idDf.join(e, "vec_id").select("vec_id", "embedding")
        .coalesce(1).write.parquet(stage.toString)
      val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(srcDir, s"$name.parquet").toPath)
      ()
    }

    // the gate's exact pipeline over any (vec_id, embedding) frame —
    // batch and stream share it verbatim (ivfRouteCells runs on both)
    def pipeline(src: DataFrame): DataFrame = {
      val routed = Similarity.ivfRouteCells(
        src, cents, "vec_id", "embedding", "query_id", "qvec", 4, "cell")
      val scored = routed.join(s.table(idxTable), Seq("cell"))
        .filter(col("corpus_id") =!= col("query_id"))
        .select(col("query_id"),
          Similarity.cosine(col("qvec"), col("cvec2")).as("cos"),
          col("corpus_id"))
      scored.groupBy("query_id")
        .agg(graft.streaming.CosTopKAgg.column(5, col("cos"), col("corpus_id")).as("top"))
    }

    def runCollect(): Map[Long, Seq[Long]] = {
      val schema = s.read.parquet(srcDir.listFiles().head.toString).schema
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString + "/*.parquet")
      val got = scala.collection.mutable.Map.empty[Long, Seq[Long]]
      val q = pipeline(src).writeStream
        .option("checkpointLocation", cp)
        .outputMode("update")
        .foreachBatch { (df: DataFrame, _: Long) =>
          got.synchronized {
            df.collect().foreach(r =>
              got(r.getLong(0)) = r.getStruct(1).getSeq[Long](0))
          }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      got.toMap
    }

    writeFile("a", Seq(0L, 1L, 2L))
    val first = runCollect()
    assert(first.keySet === Set(0L, 1L, 2L))

    // run 2: new queries PLUS a re-send of query 0 — its state must
    // merge the pre-restart candidates with the new arrival's
    writeFile("b", Seq(5L, 6L, 0L))
    val second = runCollect()
    assert(second.keySet === Set(5L, 6L, 0L),
      s"run 2 must emit only its own batch's queries: ${second.keySet}")

    // expectation: the SAME pipeline in batch mode, with query 0's
    // source row duplicated (once per run) — CosTopKAgg keeps
    // duplicate (cos, id) pairs, so this list is only reachable if the
    // checkpointed state merged with the re-sent arrival
    val batchIds = Seq(5L, 6L, 0L, 0L).zipWithIndex.toDF("vec_id", "__i")
      .join(e, "vec_id").select("vec_id", "embedding")
    val expected = pipeline(batchIds).collect()
      .map(r => r.getLong(0) -> r.getStruct(1).getSeq[Long](0)).toMap
    assert(second === expected,
      s"post-restart top-k must equal the doubled-candidate batch aggregate")
    // a duplicate-bearing top-5 differs from the single-arrival answer —
    // the direct witness that state (not recomputation) produced it
    assert(second(0L) != first(0L) || second(0L).distinct.size < 5,
      "query 0's merged state must be observably different from a fresh single arrival")
  }
}
