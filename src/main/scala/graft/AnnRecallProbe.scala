package graft

import org.apache.spark.sql.functions._

import graft.llm.Similarity

/** ANN RECALL UNDER GROWTH (round-13 item #5): recall@5 of the IVF
  * index against brute force on the BASE corpus and the 10× synthetic
  * corpus, across codebook flavors (untrained md5-rule centroids vs
  * Lloyd's-trained) and nProbe ∈ {1,2,4} — plus, at 10×, the nCells
  * dial (frozen 16 vs cell-size-preserving 160) to answer the actual
  * scale question: does recall COLLAPSE when the corpus grows under a
  * frozen cell count, and does scaling nCells with n (the same k ∝ n
  * family as [[Similarity.autoK]]) restore it?
  *
  * One TSV line per point:
  * `ANNRECALL scale trained nCells nProbe recall_pct probe_sec`.
  * Recall is the exact-overlap definition of the `ann_recall_audit`
  * gate (left-semi join on (query_id, corpus_id), 50 probe queries).
  *
  * Usage: `sbt "runMain graft.AnnRecallProbe [baseDir] [copies]"`.
  */
object AnnRecallProbe {

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = LocalSession()

    val dir10 = java.nio.file.Files.createTempDirectory("graft_annr_").toString
    ScaleProbe.synthesize(spark, baseDir, dir10, copies)

    println("ANNRECALL\tscale\ttrained\tnCells\tnProbe\trecall_pct\tprobe_sec")
    Seq(("base", s"$baseDir/embeddings.parquet", Seq(16)),
        ("10x", s"$dir10/embeddings.parquet", Seq(16, 160))).foreach {
      case (label, path, cellCounts) =>
        val e = spark.read.parquet(path)
        val q = e.filter(col("vec_id") < 50)
        val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
          .select("query_id", "corpus_id").cache()
        val denom = exact.count()
        def run(nCells: Int, nProbe: Int, trained: Boolean): (Long, Double) = {
          val t0 = System.nanoTime()
          val approx = Similarity.ivfTopK(e, q, "vec_id", "embedding",
            k = 5, nCells = nCells, nProbe = nProbe, trained = trained)
            .select("query_id", "corpus_id")
          val hits = exact.join(approx, Seq("query_id", "corpus_id"), "left_semi").count()
          (hits, (System.nanoTime() - t0) / 1e9)
        }
        for (trained <- Seq(false, true); nCells <- cellCounts;
             // past the base sweep, also scale nProbe WITH nCells — the
             // dial pair: recall tracks the probed fraction nProbe/nCells
             nProbe <- Seq(1, 2, 4) ++ (if (nCells > 16) Seq(8, 16, 40) else Nil)) {
          run(nCells, nProbe, trained) // warm
          val (hits, sec) = run(nCells, nProbe, trained)
          val pct = hits * 100 / denom
          println(f"ANNRECALL\t$label\t$trained\t$nCells\t$nProbe\t$pct\t$sec%.2f")
        }
        // the shipped AUTO dial (autoCells/autoProbe) at this scale —
        // the row that certifies the API helpers land users on the
        // recall-preserving pair, not the measured-wrong naive wiring
        val n = e.count()
        val autoC = Similarity.autoCells(n)
        val autoP = Similarity.autoProbe(autoC)
        for (trained <- Seq(false, true)) {
          run(autoC, autoP, trained) // warm
          val (hits, sec) = run(autoC, autoP, trained)
          val pct = hits * 100 / denom
          println(f"ANNRECALL\t$label-auto\t$trained\t$autoC\t$autoP\t$pct\t$sec%.2f")
        }
        exact.unpersist()

        // POST-APPEND AUDIT (round 17): a batch (the echo convention —
        // hb < 85 identical, rest circular-shifted) routes through the
        // FROZEN build-time centroids; report the balance signal (max
        // cell share, ppm) and recall@5 before vs after — the
        // re-train trigger the ann_ivf_append_audit gate pins at
        // fixture scale, measured here at probe scale.
        val eve = e.select("vec_id", "embedding")
        val off = eve.agg(max("vec_id")).head.getLong(0) + 1L
        val hb = graft.llm.Sampling.hashBucket256(col("vec_id"))
        val shifted = expr(
          "concat(slice(embedding, 2, size(embedding) - 1), slice(embedding, 1, 1))")
        val batch = eve.select((col("vec_id") + lit(off)).as("vec_id"),
          when(hb < 85, col("embedding")).otherwise(shifted).as("embedding"))
        val cents = Similarity.ivfCentroids(eve, "vec_id", "embedding", 16)
        val qv = eve.filter(col("vec_id") < 50)
        val qc = Similarity.ivfAssign(qv, cents, "vec_id", "embedding",
          "query_id", "qvec", 4, "cell")
        def audit(tag: String, corpus: org.apache.spark.sql.DataFrame): Unit = {
          val t0 = System.nanoTime()
          val assigned = Similarity.ivfAssign(corpus, cents, "vec_id", "embedding",
            "corpus_id", "cvec2", 1, "cell")
          val share = assigned.groupBy("cell").agg(count(lit(1)).as("n"))
            .agg(expr("CAST(max(n) * 1000000 DIV sum(n) AS BIGINT)").as("s"))
            .head.getLong(0)
          val approx = Similarity.ivfProbe(assigned, qc, 5).select("query_id", "corpus_id")
          val ex = Similarity.bruteForceTopK(corpus, qv, "vec_id", "embedding", 5)
            .select("query_id", "corpus_id")
          val den = ex.count()
          val hits = ex.join(approx, Seq("query_id", "corpus_id"), "left_semi").count()
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"ANNAPPEND\t$label\t$tag\tmax_share_ppm=$share\trecall_pct=${hits * 100 / den}\t$sec%.2f")
        }
        audit("built", eve)
        audit("appended", eve.unionByName(batch))
    }
    spark.stop()
  }
}
