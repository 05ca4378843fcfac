package graft
import org.apache.spark.sql.functions._
/** Round-21 decomposition probe for cms_join_estimate: times each
  * sub-piece separately (after a warm pass) to find where the gate's
  * seconds actually go. Measurement harness only — not a query. */
object CmsProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    import graft.llm.Sketches
    import graft.queries.Tables
    def t[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[cmsprobe] $name%-28s ${(System.nanoTime() - t0) / 1e9}%6.3f s"); r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    (1 to 3).foreach { rep =>
      println(s"[cmsprobe] === rep $rep ===")
      val o = t("orders ckpt") {
        val d = Tables(spark, dir, "orders")
          .select(col("o_custkey").cast("string").as("o_custkey"),
            col("o_orderkey").cast("string").as("o_orderkey"))
          .localCheckpoint(true)
        d
      }
      val l = t("lineitem ckpt") {
        Tables(spark, dir, "lineitem")
          .select(col("l_orderkey").cast("string").as("l_orderkey"))
          .localCheckpoint(true)
      }
      val (d, w) = (4, 4096)
      val mc = t("mc matrix+ckpt") {
        Sketches.cmsKeyCounters(o, "o_custkey", d, w).localCheckpoint(true)
      }
      val mo = Sketches.cmsKeyCounters(o, "o_orderkey", d, w)
      val ml = Sketches.cmsKeyCounters(l, "l_orderkey", d, w)
      t("mo matrix noop") { noop(mo) }
      t("ml matrix noop") { noop(ml) }
      t("est self (mc x mc)") { noop(Sketches.cmsJoinSizeEstimate(mc, mc, d)) }
      t("est ol (mo x ml)") { noop(Sketches.cmsJoinSizeEstimate(mo, ml, d)) }
      t("exactSelf") {
        noop(o.groupBy("o_custkey").agg(count(lit(1)).as("n"))
          .agg(sum(col("n") * col("n")).as("exact_pairs")))
      }
      t("exactJoin") {
        noop(o.groupBy("o_orderkey").agg(count(lit(1)).as("na"))
          .join(l.groupBy("l_orderkey").agg(count(lit(1)).as("nb")),
            col("o_orderkey") === col("l_orderkey"))
          .agg(sum(col("na") * col("nb")).as("exact_pairs")))
      }
      t("full gate") {
        noop(graft.queries.RelationalQueries.defs("cms_join_estimate")(spark, dir))
      }
    }
    spark.stop()
  }
}
