package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** STREAMING scale probe — demonstrates that the streaming family's
  * state and latency track the WATERMARK HORIZON, not history:
  * a watermarked tumbling-window aggregation consumes the 4-batch
  * event fixture at 1×/10×/100× event volume, and per batch the probe
  * reports input rows, state-store rows, and trigger latency straight
  * from the StreamingQueryProgress telemetry.
  *
  * The claim under test (the one every 100 TB streaming design rests
  * on): with a real horizon (24 h here, vs the fixture's 720 h span)
  * the state store holds only the windows the watermark has not yet
  * closed — so state rows stay FLAT across batches while cumulative
  * input grows, and scale with event VOLUME (×m) only through
  * windows-per-horizon density, while an unwatermarked aggregation
  * would hold every window ever seen.
  *
  * Volume synthesis mirrors ScaleProbe's decorrelated replication:
  * copy `i` offsets (user_id, event_id) by `i · 2^32` — per-user
  * structure preserved, copies never collide — while `ts` is kept
  * UNCHANGED, so extra volume lands in the same event-time span
  * (more traffic, same horizon: exactly how a bigger deployment
  * scales). Batch assignment buckets on the BASE event_id, so every
  * copy's quarter-t rows arrive in micro-batch t and each batch
  * carries m× volume over the same time range.
  *
  * Usage: `sbt "runMain graft.StreamingScaleProbe [baseDir] [mults]"`
  * (mults comma-separated, default 1,10,100). One TSV line per
  * (multiplier, batch): STREAMSCALE m batch inputRows stateRows
  * cumInput triggerMs steal_s.
  */
object StreamingScaleProbe {

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mults = args.lift(1).map(_.split(",").toSeq.map(_.toInt)).getOrElse(Seq(1, 10, 100))
    val spark = LocalSession()
    spark.conf.set("spark.sql.shuffle.partitions", "8") // state partitions: fixed per stream

    def stealTicks(): Long =
      try {
        val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toLong else 0L
      } catch { case scala.util.control.NonFatal(_) => 0L }

    val KeyOff = 1L << 32

    // spill as 4 contiguous files with ascending mtimes so
    // FileStreamSource + maxFilesPerTrigger=1 replays 4 micro-batches;
    // `all` must carry an int `__b` batch column in [0, 4)
    def spill4(all: DataFrame): (java.io.File, org.apache.spark.sql.types.StructType) = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_sscale_").toFile
      val stage = new java.io.File(tmp, "stage")
      all.repartition(4, col("__b")).write.partitionBy("__b").mode("overwrite")
        .parquet(stage.toString)
      val files = (0 until 4).flatMap { b =>
        val dirB = new java.io.File(stage, s"__b=$b")
        Option(dirB.listFiles()).toSeq.flatMap(_.filter(_.getName.endsWith(".parquet")))
          .zipWithIndex.map { case (part, j) =>
            val dst = new java.io.File(tmp, f"$b%02d_$j%02d.parquet")
            java.nio.file.Files.move(part.toPath, dst.toPath)
            dst.setLastModified(1700000000000L + b * 60000L)
            dst
          }
      }
      (tmp, spark.read.parquet(files.head.toString).schema)
    }
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
    }

    println("STREAMSCALE\tmult\tbatch\tinput_rows\tstate_rows\tcum_input\ttrigger_ms\tsteal_s")
    mults.foreach { m =>
      val ev = graft.queries.Tables(spark, baseDir, "events")
        .select("user_id", "event_id", "event_type", "ts", "value")
      val maxId = ev.agg(max("event_id")).head.getLong(0)
      // m decorrelated copies, batch bucket from the BASE event_id
      val all: DataFrame = (0 until m).map { i =>
        ev.withColumn("__b", floor(col("event_id") * lit(4) / lit(maxId + 1.0)).cast("int"))
          .withColumn("user_id", col("user_id") + lit(i * KeyOff))
          .withColumn("event_id", col("event_id") + lit(i * KeyOff))
      }.reduce(_ unionAll _)
      val (tmp, schema) = spill4(all)
      val name = "graft_sscale_" + m
      val st0 = stealTicks()
      // watermarked tumbling-window count: 1 h windows per event_type,
      // 24 h horizon — closed windows are EVICTED, so state is the
      // horizon's windows, never the 720 h history
      // repartition(4, __b) + partitionBy => one file per time-quarter
      // (all m copies of a quarter land in the same file)
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmp.getPath + "/*.parquet")
      val agg = src
        .withColumn("ets", expr("CAST(ts DIV 1000000000 AS TIMESTAMP)"))
        .withWatermark("ets", "24 hours")
        .groupBy(window(col("ets"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val q = agg.writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      var cum = 0L
      q.recentProgress.filter(_.numInputRows > 0).zipWithIndex.foreach { case (p, b) =>
        cum += p.numInputRows
        val stateRows = p.stateOperators.headOption.map(_.numRowsTotal).getOrElse(-1L)
        val trigMs = Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(-1L)
        println(s"STREAMSCALE\t$m\t$b\t${p.numInputRows}\t$stateRows\t$cum\t$trigMs\t${(stealTicks() - st0) / 100.0}")
      }
      spark.catalog.dropTempView(name)
      rmTree(tmp)
    }

    // ——— bounded-state probe: the streaming CMS matrix ———
    // documents at ×m with ScaleProbe's per-copy TEXT REMAP, so token
    // volume AND vocabulary both grow ×m — and the sketch's update-mode
    // state must still never exceed depth·width rows on any batch (the
    // claim that lets it replace a vocabulary-sized streaming groupBy)
    println("CMSSCALE\tmult\tbatch\tinput_rows\tstate_rows\ttrigger_ms\tsteal_s")
    mults.foreach { m =>
      val docs = graft.queries.Tables(spark, baseDir, "documents")
        .select("doc_id", "text")
      val maxId = docs.agg(max("doc_id")).head.getLong(0)
      val all: DataFrame = (0 until m).map { i =>
        docs.withColumn("__b", floor(col("doc_id") * lit(4) / lit(maxId + 1.0)).cast("int"))
          .withColumn("doc_id", col("doc_id") + lit(i * KeyOff))
          .withColumn("text", ScaleProbe.remap(col("text"), i))
      }.reduce(_ unionAll _)
      val (tmp, schema) = spill4(all)
      val name = "graft_cmsscale_" + m
      val st0 = stealTicks()
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmp.getPath + "/*.parquet")
      val agg = graft.llm.Sketches.cmsCounters(src, "text", depth = 4, width = 256)
      val q = agg.writeStream.format("memory").queryName(name).outputMode("update").start()
      try q.processAllAvailable() finally q.stop()
      q.recentProgress.filter(_.numInputRows > 0).zipWithIndex.foreach { case (p, b) =>
        val stateRows = p.stateOperators.headOption.map(_.numRowsTotal).getOrElse(-1L)
        val trigMs = Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(-1L)
        println(s"CMSSCALE\t$m\t$b\t${p.numInputRows}\t$stateRows\t$trigMs\t${(stealTicks() - st0) / 100.0}")
      }
      spark.catalog.dropTempView(name)
      rmTree(tmp)
    }

    // ——— content-diversity state probe: streaming VIDEO dedup ———
    // the last modality cell's ingest claim: `dropDuplicates(sig)`
    // state rows track DISTINCT video fingerprints (content diversity —
    // ×m via decorrelated clusters), never stream length. Batches 0–2
    // are fresh thirds of the ×m corpus; batch 3 REDELIVERS batch 0
    // VERBATIM (at-least-once ingest), so the last batch must add ZERO
    // state rows and emit nothing. Capped at ×10: the GIF encode +
    // sequence decode chain is the honest per-row media cost and the
    // batch family carries the ×100 evidence (ScaleProbe rows).
    println("VIDEOSCALE\tmult\tbatch\tinput_rows\tstate_rows\ttrigger_ms\tsteal_s")
    mults.filter(_ <= 10).foreach { m =>
      val docs = graft.queries.Tables(spark, baseDir, "documents").select("doc_id")
      val maxId = docs.agg(max("doc_id")).head.getLong(0)
      val fresh: DataFrame = (0 until m).map { i =>
        docs.withColumn("__b", floor(col("doc_id") * lit(3) / lit(maxId + 1.0)).cast("int"))
          .withColumn("p", expr("CAST(doc_id DIV 8 AS BIGINT)") + lit(i * KeyOff))
          .withColumn("doc_id", col("doc_id") + lit(i * KeyOff))
      }.reduce(_ unionAll _)
      val all = fresh.unionAll(fresh.filter(col("__b") === 0).withColumn("__b", lit(3)))
        .select(col("doc_id"), col("p"), col("__b"))
      val (tmp, schema) = spill4(all)
      val name = "graft_vidscale_" + m
      val st0 = stealTicks()
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmp.getPath + "/*.parquet")
      val dedup = graft.queries.LlmQueries.videoSigsForParams(src)
        .dropDuplicates("sig").select("sig")
      val q = dedup.writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      q.recentProgress.filter(_.numInputRows > 0).zipWithIndex.foreach { case (p, b) =>
        val stateRows = p.stateOperators.headOption.map(_.numRowsTotal).getOrElse(-1L)
        val trigMs = Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(-1L)
        println(s"VIDEOSCALE\t$m\t$b\t${p.numInputRows}\t$stateRows\t$trigMs\t${(stealTicks() - st0) / 100.0}")
      }
      spark.catalog.dropTempView(name)
      rmTree(tmp)
    }

    // ——— state-SHRINK probe: streaming forget tombstones ———
    // the governance stream's claim: state tracks LIVE fingerprints —
    // batch 0 ingests the ×m corpus (state = distinct content), batch 1
    // FORGETS a 10% hash sample (state must DROP by the forgotten
    // distinct fingerprints — the shrink dropDuplicates state can never
    // show), batch 2 re-ingests the forgotten content (state returns to
    // the batch-0 level; the re-ingests read `kept`), batch 3
    // redelivers batch 0 verbatim (all `dup`, ZERO state growth).
    println("FORGETSCALE\tmult\tbatch\tinput_rows\tstate_rows\ttrigger_ms\tsteal_s")
    mults.foreach { m =>
      val docs = graft.queries.Tables(spark, baseDir, "documents")
        .select("doc_id", "text").filter(col("text").isNotNull)
      val all: DataFrame = (0 until m).map { i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i * KeyOff))
          .withColumn("text", ScaleProbe.remap(col("text"), i))
      }.reduce(_ unionAll _)
      val withFp = all.select(
        // the gate's own fingerprint helper — the probe must key state
        // exactly as stream_forget_tombstone does
        graft.llm.TextAnalysis.fingerprintMd5(col("text")).as("content_hash"),
        col("doc_id"),
        (graft.llm.Sampling.hash60(concat(lit("fscale:"), col("doc_id").cast("string")))
          % 10 === 0).as("f"))
      def phase(src: DataFrame, b: Int, opv: Int): DataFrame =
        src.select(col("content_hash"), (col("doc_id") * 8 + lit(b)).as("seq"),
          col("doc_id"), lit(opv).as("op"), lit(b).cast("int").as("__b"))
      val ev = phase(withFp, 0, 0)
        .unionByName(phase(withFp.filter(col("f")), 1, 1))
        .unionByName(phase(withFp.filter(col("f")), 2, 0))
        .unionByName(phase(withFp, 3, 0))
      val (tmp, schema) = spill4(ev)
      val name = "graft_fscale_" + m
      val st0 = stealTicks()
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmp.getPath + "/*.parquet")
      val acks = graft.streaming.StreamingForget.forgetTombstone(src.toDF()).toDF()
      val q = acks.writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      q.recentProgress.filter(_.numInputRows > 0).zipWithIndex.foreach { case (p, b) =>
        val stateRows = p.stateOperators.headOption.map(_.numRowsTotal).getOrElse(-1L)
        val trigMs = Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(-1L)
        println(s"FORGETSCALE\t$m\t$b\t${p.numInputRows}\t$stateRows\t$trigMs\t${(stealTicks() - st0) / 100.0}")
      }
      spark.catalog.dropTempView(name)
      rmTree(tmp)
    }
    spark.stop()
  }
}
