package graft

import org.apache.spark.sql.functions._

import graft.llm.Similarity

/** TWO-LEVEL ASSIGNMENT AT HIGH d (round-17 verdict item #8): the
  * round-15 probe measured `kmeansAssignTwoLevel` at k=4096, d=16 —
  * where per-row expression overhead dominates and the 21× arithmetic
  * cut bought only 12% — and deferred the keep-or-delete decision to a
  * re-measure at d where the argmin is genuinely compute-bound.
  *
  * This probe sweeps d ∈ {16, 64, 256} at k=4096 over 20k synthetic
  * vectors with REAL cluster structure (vector = centroid(id mod k) +
  * small noise, centroids XOR-mixed at ±1000 milli vs ±10 noise — the
  * separated-manifold setting SemDeDup actually runs in, unlike the
  * near-uniform r15 corpus), and times the flat compiled argmin
  * against two-level at nProbeCoarse ∈ {1, 2}, with assignment
  * agreement. One TSV line per point:
  * `TWOLEVEL d k path sec agreement_pct`.
  *
  * Usage: `sbt "runMain graft.TwoLevelProbe"` (SPARK_GRAFT_CPUS). */
object TwoLevelProbe {

  def main(args: Array[String]): Unit = {
    val spark = LocalSession()

    val k = 4096
    val n = 20000L
    println("TWOLEVEL\td\tk\tpath\tsec\tagreement_pct")
    for (d <- Seq(16, 64, 256)) {
      // the same XOR mix in both the driver codebook and the in-plan
      // generator: vector(id) = cents(id % k) + noise(id, j), milli
      val cents: Array[Array[Long]] = Array.tabulate(k)(c =>
        Array.tabulate(d)(j => (((c * 73856093L) ^ (j * 19349663L)) % 2001L) - 1000L))
      val vec = expr(
        s"transform(sequence(0, ${d - 1}, 1), j -> CAST(" +
          s"((((id % $k) * 73856093) ^ (CAST(j AS BIGINT) * 19349663)) % 2001 - 1000 + " +
          s"((id * 31 + j * 17) % 21) - 10) AS DOUBLE) / 1000.0)")
      val df = spark.range(n).select(col("id"), vec.as("v"))
        .repartition(LocalSession.cpus).localCheckpoint(true) // generation off the clock

      def time(f: => org.apache.spark.sql.DataFrame): (Double, org.apache.spark.sql.DataFrame) = {
        f.foreach(_ => ()) // warm (codegen + JIT)
        val t0 = System.nanoTime()
        val out = f
        out.foreach(_ => ())
        ((System.nanoTime() - t0) / 1e9, out)
      }

      val (flatSec, flatDf) = time(Similarity.kmeansAssignWith(df, cents, "id", "v"))
      val flat = flatDf.select(col("id"), col("centroid").as("cf"))
      println(f"TWOLEVEL\t$d\t$k\tflat\t$flatSec%.2f\t100")
      for (p <- Seq(1, 2)) {
        val (sec, twoDf) = time(Similarity.kmeansAssignTwoLevel(df, cents, "id", "v", p))
        val agree = twoDf.select(col("id"), col("centroid").as("ct"))
          .join(flat, "id")
          .agg(sum(when(col("ct") === col("cf"), 1L).otherwise(0L)), count(lit(1))).head
        val pct = agree.getLong(0) * 100 / agree.getLong(1)
        println(f"TWOLEVEL\t$d\t$k\ttwo_level_p$p\t$sec%.2f\t$pct")
      }
    }
    spark.stop()
  }
}
