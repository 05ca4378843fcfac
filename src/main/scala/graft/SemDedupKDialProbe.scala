package graft

import org.apache.spark.sql.functions._

import graft.llm.{Sampling, Similarity}

/** k-DIAL measurement for the INCREMENTAL SemDeDup shape
  * (`dedup_semantic_incremental`): the 10× probe shows ~76× growth at
  * the gate's frozen k=4 (cluster·batch product ~100×); this probe
  * re-times the same shape on the same 10× corpus with k scaled, the
  * production rule. One TSV line per k: SEMK k seconds dups.
  *
  * Usage: `sbt "runMain graft.SemDedupKDialProbe [baseDir] [copies]"`.
  */
object SemDedupKDialProbe {

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = LocalSession()

    val dir = java.nio.file.Files.createTempDirectory("graft_semk_").toString
    ScaleProbe.synthesize(spark, baseDir, dir, copies)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val off = e.agg(max("vec_id")).head.getLong(0) + 1L
    val hb = Sampling.hashBucket256(col("vec_id"))
    val shifted = expr(
      "concat(slice(embedding, 2, size(embedding) - 1), slice(embedding, 1, 1))")
    val batch = e.select((col("vec_id") + lit(off)).as("vec_id"),
      when(hb < 85, col("embedding")).otherwise(shifted).as("embedding"))

    // Assignment-path bake-off at large k (round 15): the compiled
    // narrow map (production) vs the broadcast-join + re-group argmin
    // (the judged alternative). One corpus pass each; rows must match.
    val bigK = args.lift(2).map(_.toInt).getOrElse(512)
    val cents0 = Similarity.kmeansTrainL2(e, "vec_id", "embedding",
      bigK, math.max(16, 4 * bigK), 2)
    def timeCount(df: org.apache.spark.sql.DataFrame): (Double, Long) = {
      df.count() // warm
      val t0 = System.nanoTime()
      val n = df.count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val (tExpr, nExpr) = timeCount(
      Similarity.kmeansAssignWith(e, cents0, "vec_id", "embedding")
        .groupBy("centroid").count())
    val (tJoin, nJoin) = timeCount(
      Similarity.kmeansAssignJoin(e, cents0, "vec_id", "embedding")
        .groupBy("centroid").count())
    println(f"ASSIGN\tk=$bigK\texpr=$tExpr%.2f s ($nExpr cells)\tjoin=$tJoin%.2f s ($nJoin cells)")
    // two-level routing at the clamp boundary: O(sqrt(k)*d)/row vs the
    // flat O(k*d)/row, plus measured agreement with the flat argmin
    val big2 = Similarity.kmeansTrainL2(e, "vec_id", "embedding", 4096,
      16384, 2)
    def asgCount(df: org.apache.spark.sql.DataFrame): (Double, Long) = timeCount(
      df.groupBy("centroid").count())
    val (tFlat, _) = asgCount(Similarity.kmeansAssignWith(e, big2, "vec_id", "embedding"))
    val (t2l, _) = asgCount(Similarity.kmeansAssignTwoLevel(e, big2, "vec_id", "embedding", 2))
    val agree = Similarity.kmeansAssignWith(e, big2, "vec_id", "embedding")
      .select(col("vec_id"), col("centroid").as("cf"))
      .join(Similarity.kmeansAssignTwoLevel(e, big2, "vec_id", "embedding", 2)
        .select(col("vec_id"), col("centroid").as("c2")), "vec_id")
      .agg(sum(when(col("cf") === col("c2"), 1L).otherwise(0L)), count(lit(1))).head
    println(f"ASSIGN2L\tk=4096\tflat=$tFlat%.2f s\ttwolevel(nProbe=2)=$t2l%.2f s\t" +
      s"agree=${agree.getLong(0)}/${agree.getLong(1)}")

    println("SEMK\tk\tseconds\tdup_rows")
    (Seq(4, 16, 40, 160) :+ bigK).foreach { k =>
      val sampleN = math.max(16, k * 4)
      val cents = Similarity.kmeansTrainL2(e, "vec_id", "embedding", k, sampleN, 2)
      val corpusAsg = Similarity.kmeansAssignWith(e, cents, "vec_id", "embedding")
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"), col("centroid"))
        .localCheckpoint(true) // the persisted-table stand-in
      val basg = Similarity.kmeansAssignWith(batch, cents, "vec_id", "embedding")
        .select(col("vec_id").as("b_id"), col("embedding").as("b_vec"), col("centroid"))
      def run(): Long = corpusAsg.join(broadcast(basg), Seq("centroid"))
        .withColumn("hit",
          (Similarity.cosine(col("b_vec"), col("c_vec")) >= 0.4).cast("long"))
        .groupBy("b_id").agg(sum("hit").as("n_dups"))
        .filter(col("n_dups") > 0).count()
      run() // warm
      val t0 = System.nanoTime()
      val dups = run()
      println(f"SEMK\t$k\t${(System.nanoTime() - t0) / 1e9}%.2f\t$dups")
    }
    spark.stop()
  }
}
