package graft

import org.apache.spark.sql.functions._

/** State-growth probe for [[graft.streaming.StreamingNearDup]] — the
  * claim under test: with a real horizon the stateful near-dup's state
  * store tracks DISTINCT BANDS IN THE HORIZON, not history.
  *
  * Volume synthesis follows [[ScaleProbe]]'s decorrelation: copy `i`
  * re-ids docs onto a CONTIGUOUS synthetic clock (`copy·nBase +
  * doc_id` — dense base ids make this gapless) and rotates the text
  * alphabet so copies share no shingles. The corpus streams as 8
  * id-contiguous files → 8 micro-batches, and the probe runs twice:
  *
  *  - `history`: horizon ≫ total span — state accumulates every band
  *    bucket ever seen (the unbounded baseline);
  *  - `horizon`: horizon ≈ 1.5 micro-batches of clock — match + prune
  *    + timeout eviction hold state near the per-horizon band count
  *    while cumulative input keeps growing.
  *
  * One TSV line per (mode, batch): NDSTATE mode batch inputRows
  * stateRows cumInput triggerMs. Recorded in SCALE.md.
  *
  * Usage: `sbt "runMain graft.NeardupStateProbe [baseDir] [copies]"`.
  */
object NeardupStateProbe {

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = LocalSession()
    spark.conf.set("spark.sql.shuffle.partitions", "8") // state partitions: fixed per stream

    val docs0 = graft.queries.Tables(spark, baseDir, "documents").select("doc_id", "text")
    val nBase = docs0.agg(max("doc_id")).head.getLong(0) + 1
    val all = (0 until copies).map { i =>
      docs0
        .withColumn("text", ScaleProbe.remap(col("text"), i))
        .withColumn("doc_id", col("doc_id") + lit(i * nBase))
    }.reduce(_ unionAll _)
    val total = copies * nBase
    val nFiles = 8

    // spill as 8 id-contiguous files with ascending mtimes
    val tmp = java.nio.file.Files.createTempDirectory("graft_ndstate_").toFile
    val stage = new java.io.File(tmp, "stage")
    all.withColumn("__b", floor(col("doc_id") * nFiles / lit(total.toDouble)).cast("int"))
      .repartition(nFiles, col("__b")).write.partitionBy("__b").mode("overwrite")
      .parquet(stage.toString)
    (0 until nFiles).foreach { b =>
      val dirB = new java.io.File(stage, s"__b=$b")
      Option(dirB.listFiles()).toSeq.flatMap(_.filter(_.getName.endsWith(".parquet")))
        .zipWithIndex.foreach { case (part, j) =>
          val dst = new java.io.File(tmp, f"$b%02d_$j%02d.parquet")
          java.nio.file.Files.move(part.toPath, dst.toPath)
          dst.setLastModified(1700000000000L + b * 60000L); ()
        }
    }
    val schema = spark.read.parquet(tmp.listFiles().filter(_.getName.endsWith(".parquet"))
      .head.toString).schema

    println("NDSTATE\tmode\tbatch\tinput_rows\tstate_rows\tcum_input\ttrigger_ms")
    val batchSpan = total / nFiles
    Seq(("history", 1000L * total), ("horizon", batchSpan * 3 / 2)).foreach { case (mode, hz) =>
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(tmp.getPath + "/*.parquet")
      val hits = graft.streaming.StreamingNearDup.neardupStateful(src, horizonSec = hz)
      val name = "graft_ndstate_" + mode
      val q = hits.toDF().writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      var cum = 0L
      q.recentProgress.filter(_.numInputRows > 0).zipWithIndex.foreach { case (p, b) =>
        cum += p.numInputRows
        val stateRows = p.stateOperators.headOption.map(_.numRowsTotal).getOrElse(-1L)
        val trigMs = Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(-1L)
        println(s"NDSTATE\t$mode\t$b\t${p.numInputRows}\t$stateRows\t$cum\t$trigMs")
      }
      spark.catalog.dropTempView(name)
    }
    def rm(f: java.io.File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); () }
    rm(tmp)
    spark.stop()
  }
}
