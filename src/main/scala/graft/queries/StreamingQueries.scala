package graft.queries

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize

import graft.plumba.Kernel

/** Structured-Streaming queries surfaced through the batch correctness
  * gate. Each `stream_*` gate builds a streaming DataFrame and hands it
  * to one runner, [[gate]]: the runner starts the query, runs it until
  * every available input is processed, stops it, checks the micro-batch
  * count the gate declares, and returns the sink's rows — shaped by the
  * gate's `result` function and materialized — as an ordinary
  * DataFrame. So the DuckDB oracle verifies the STREAMING
  * state path (GroupState per key, per-micro-batch kernel threading)
  * against the same SQL replay as the batch operators.
  *
  * The runner leaves the caller's session as it found it. Only the
  * query's start needs the state-partition count and the no-data
  * switch: `StreamExecution` clones the session when the query is
  * built, so [[gate]] sets both, starts, and restores them under one
  * lock, and the stream keeps its own copy. Building the gate's inputs
  * and shaping its result run under the caller's own settings. The
  * checkpoint is a per-query writer option, never the session-wide
  * checkpoint conf. */
object StreamingQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The micro-batch count a gate declares; [[gate]] checks it against
    * the batches that read input. Every gate must declare one. */
  private[queries] sealed trait Batches
  /** At least `n` data micro-batches: state carried from one batch into
    * the next is the path under test. */
  private[queries] final case class AtLeast(n: Int) extends Batches
  /** Exactly `n` data micro-batches, for the stated reason. */
  private[queries] final case class Exactly(n: Int, reason: String) extends Batches

  /** Where a gate's stream writes: the in-memory table in an output
    * mode, or exactly-once JSON-lines files that the runner reads back. */
  private[queries] sealed trait Sink
  private[queries] final case class Memory(mode: String) extends Sink
  private[queries] final case class JsonFiles(partitionBy: String*) extends Sink
  private val Append = Memory("append")

  /** The reason of every gate whose source is one whole parquet file. */
  private val oneFile = "the source is one whole parquet file, admitted in one micro-batch"

  /** Serializes the set/start/restore of the two session confs a stream
    * takes at start, so two concurrent gates on one session cannot
    * start under each other's values or restore the wrong one. */
  private val startLock = new Object

  /** Checkpoint and file-sink root, on tmpfs when available: a gate
    * stream writes offset/commit logs + state-store delta files per
    * (batch × state partition) — dozens of small fsync'd files per query
    * whose only purpose here is intra-run recovery bookkeeping; /dev/shm
    * takes the disk out of that loop. Measured NEUTRAL on a fast local
    * disk (54 s → 58 s wall on the 11-query family, i.e. noise) — kept
    * because it removes a storage-latency dependency that WOULD bite on
    * network/cloud volumes. Production callers own their real, durable
    * checkpoint location — this root only governs the catalog's gate
    * streams (one dir per query, removed when the gate returns; the root
    * itself at JVM exit via [[Artifacts.tempDir]]). */
  private lazy val checkpointBase: File = {
    val shm = new File("/dev/shm")
    Artifacts.tempDir("graft_ckpt_", Some(shm.toPath).filter(_ => shm.isDirectory && shm.canWrite)).toFile
  }

  /** Runs one gate's stream to completion and returns its sink's rows.
    *
    * `statePartitions` is `spark.sql.shuffle.partitions` for the stream
    * alone (= the state-store partition count, fixed per stream at
    * start), sized to the fixture instead of the session's batch
    * default: every micro-batch fsyncs one state file PER partition PER
    * stateful operator, so 32 partitions × 4 batches on a 100k-row
    * fixture is pure commit overhead — measured 6.8 s → 3.1 s on the
    * watermarked dedup at sf0.1. Emitted SETS are
    * partition-count-independent for every catalog stream (per-key
    * emissions, shared-column projections, watermark-closed windows) —
    * the oracles pin that.
    *
    * `noDataBatches = false` disables Spark's trailing no-data
    * micro-batch. ONLY legal when the query's emitted set cannot depend
    * on watermark-driven eviction EMISSION (inner joins, append
    * aggregations already closed by data batches): the no-data batch
    * then exists purely to advance state cleanup, runs a full addBatch
    * cycle (~0.6 s here), and emits nothing. The left-outer join gate
    * must NOT use it — its null-extended rows are emitted BY the
    * eviction batch.
    *
    * `result` shapes the sink's rows (the memory table, or the files a
    * [[JsonFiles]] sink committed, batch-read back). Its frame is
    * `Materialize.truncated` before the memory sink's view is dropped
    * and the query's dir deleted, since its inputs are gone once this
    * returns: the memory sink holds every emitted row in the driver
    * heap via a catalog reference that never dies — a bench run
    * executes the streaming catalog dozens of times in one JVM, and the
    * leaked sinks were measured as GC pressure slowing LATER queries.
    * The truncated blocks, by contrast, are released by the
    * ContextCleaner once the returned frame is unreferenced. */
  private[queries] def gate(s: SparkSession, name: String, stream: DataFrame, sink: Sink,
      batches: Batches, statePartitions: Int = 8, noDataBatches: Boolean = true)(
      result: DataFrame => DataFrame): DataFrame = {
    val id = "graft_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val work = new File(checkpointBase, id)
    val out = new File(work, "out").toString
    val w = stream.writeStream.queryName(id).option("checkpointLocation", new File(work, "ckpt").toString)
    val writer = sink match {
      case Memory(mode) => w.format("memory").outputMode(mode)
      case JsonFiles(by @ _*) => w.format("json").partitionBy(by: _*).option("path", out)
    }
    val confs = ("spark.sql.shuffle.partitions" -> statePartitions.toString) +:
      (if (noDataBatches) Nil else Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false"))
    try {
      val q = startLock.synchronized {
        val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
        confs.foreach { case (k, v) => s.conf.set(k, v) }
        try writer.start()
        finally prev.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
      }
      val seen =
        try { q.processAllAvailable(); q.recentProgress.count(_.numInputRows > 0) }
        finally q.stop()
      val (ok, want) = batches match {
        case AtLeast(n)      => (seen >= n, s">= $n data micro-batches")
        case Exactly(n, why) => (seen == n, s"exactly $n data micro-batch(es) ($why)")
      }
      if (!ok) throw new IllegalStateException(s"$name expects $want; saw $seen")
      val sunk = sink match {
        case _: Memory => s.table(id)
        case _: JsonFiles => s.read.schema(stream.schema).json(out)
      }
      Materialize.truncated(result(sunk))
    } finally {
      s.catalog.dropTempView(id)
      Artifacts.deleteTree(work.toPath)
    }
  }

  /** Re-spill a frame as `nFiles` id-contiguous parquet files with
    * strictly increasing mtimes — the multi-micro-batch fixture shared
    * by the cross-batch streaming queries: FileStreamSource (default
    * oldest-first admission) with `maxFilesPerTrigger` replays them as
    * genuine micro-batches in id order. ONE partitioned write spills
    * every bucket; a sparse id domain may leave a bucket empty (no dir)
    * — skipped, and the gates declare the batch count they need.
    * Returns (dir, schema).
    *
    * The spill is an [[Artifacts]] entry over `df` itself, so it is
    * written once per distinct frame (the events call sites project the
    * SAME column superset, so one fixture serves them all; frames that
    * differ in their filters get their own spill) instead of once per
    * streaming query × bench rep. FileStreamSource re-reads the dir
    * fresh per query because every query starts a new checkpoint. */
  private[queries] def spillIdBuckets(
      s: SparkSession,
      ev: DataFrame,
      idCol: String,
      nFiles: Int): (File, org.apache.spark.sql.types.StructType) =
    Artifacts.getOrBuild(s"stream_fixture:$idCol:$nFiles", Seq(ev)) { a =>
      val tmp = a.dir("graft_mb_").toFile
      val maxId = ev.agg(max(idCol)).head.getLong(0)
      val stage = new File(tmp, "stage")
      val bucket = floor(col(idCol) * lit(nFiles) / lit(maxId + 1.0)).cast("int")
      ev.withColumn("__b", bucket).repartition(nFiles, col("__b"))
        .write.partitionBy("__b").mode("overwrite").parquet(stage.toString)
      val written = (0 until nFiles).flatMap { b =>
        val dirB = new File(stage, s"__b=$b")
        Option(dirB.listFiles()).toSeq.flatMap(_.filter(_.getName.endsWith(".parquet"))).map { part =>
          val dst = new File(tmp, f"$b%02d.parquet")
          java.nio.file.Files.move(part.toPath, dst.toPath)
          // distinct ascending mtimes pin oldest-first admission order
          dst.setLastModified(1700000000000L + b * 60000L)
          dst
        }
      }
      (tmp, s.read.parquet(written.head.toString).schema)
    }

  /** `df` as a stream over its [[spillIdBuckets]] fixture, admitting
    * `perTrigger` of its `nFiles` files per micro-batch.
    *
    * Two files per trigger (the stream-stream join gates set it first,
    * then every gate whose emitted set is chunk-invariant): distinct
    * keys, stateless maps and broadcast joins, per-row appended
    * balances, session merges and prefix-replay probes emit the same
    * set for any id-contiguous chunking, so 2 of 4 files per trigger
    * keeps the ≥ 2-batch cross-batch coverage at half the per-trigger
    * machinery (per-trigger machinery was 85% of the two join gates'
    * 9.7 s; every such gate was verified emission-identical against its
    * oracle). One file per trigger stays where the emissions ARE the
    * per-batch updates (update-mode totals and counters) or each batch
    * must hold whole docs/queries (the 2-file DSIR and ANN fixtures). */
  private[queries] def spilledStream(df: DataFrame, idCol: String, nFiles: Int, perTrigger: Int): DataFrame = {
    val (tmp, schema) = spillIdBuckets(df.sparkSession, df, idCol, nFiles)
    df.sparkSession.readStream.schema(schema)
      .option("maxFilesPerTrigger", perTrigger.toString).parquet(tmp.getPath + "/*.parquet")
  }

  /** The events columns every events-fed gate projects — ONE frame, so
    * one spilled fixture serves them all. */
  private def events(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"), col("value"))

  /** The click/error sides of the stream-stream join gates as
    * PRE-FILTERED shared spills: the `event_type` filter runs ONCE at
    * spill time instead of per micro-batch per gate per side, and the
    * two join gates (inner + left-outer) read the SAME two fixtures —
    * per trigger each file source now scans only its own side's rows
    * (~1/5 of events each) rather than re-scanning and re-filtering the
    * full events spill twice. Emitted sets are unchanged: the filters
    * preceded the watermark columns already, so each side's event-time
    * maximum (hence every watermark advance) is identical. Bucketing by
    * event_id over the FILTERED frame keeps 4 event_id-contiguous
    * files per side, admitted 2 per trigger. */
  private def spillTypedEvents(s: SparkSession, dir: String, eventType: String): DataFrame =
    spilledStream(events(s, dir).filter(col("event_type") === eventType), "event_id", 4, 2)

  /** The non-associative credit-limit balance kernel of the two
    * per-user scan gates. */
  private def creditLimit = Kernel.Scan[Double](0.0, (acc, args) => {
    val x = args(0).asInstanceOf[Double]
    if (acc + x <= 1000.0) acc + x else acc
  })

  /** The per-doc content hash both file-sink gates roll up. */
  private def docHash: Column =
    graft.llm.Sampling.hash60(concat_ws("\u0001",
      col("doc_id").cast("string"), col("text"), col("lang"))).as("h")

  /** The export family's per-group checksum rollup of committed rows. */
  private def xorRollup(df: DataFrame, keys: String*): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
        expr("bit_xor(h)").as("content_xor"))
      .orderBy(keys.map(col): _*)

  /** Streaming FILE SINK — the missing half of the streaming surface
    * (every other gate drains a memory sink): documents stream in,
    * pass through the narrow content-hash projection, and a
    * FileStreamSink writes JSON-lines files with exactly-once
    * semantics (the sink's transaction log records committed files, so
    * a restarted query never double-counts a batch — the property that
    * makes streaming ETL safe to re-run at 100 TB). The gate then
    * batch-reads ONLY what the sink committed and rolls it up with the
    * export family's xor checksum against the parquet-original oracle:
    * a hash match proves the streaming write path loses nothing.
    * Checkpoint + output both under the tmpfs convention. */
  val streamSinkJsonl: Q = (s, dir) =>
    gate(s, "stream_sink_jsonl",
      Tables.documentsStream(s, dir).select(col("source"), col("n_chars"), docHash),
      JsonFiles(), Exactly(1, oneFile))(xorRollup(_, "source"))

  /** Streaming QUALITY ROUTER — the ingest-time accept/reject split
    * every curation pipeline runs at the front door: documents stream
    * through the quality scorer and ONE exactly-once file sink
    * `partitionBy(disposition)` lands accepted and rejected docs in
    * separate directories a downstream job can consume independently
    * (accepted → training mix, rejected → audit queue). One query, one
    * sink transaction log — no dual-write race, no doc counted twice,
    * no doc lost between two sinks; the partition layout IS the router.
    *
    * The gate batch-reads ONLY what the sink committed and rolls up
    * per (disposition, source) with the export family's xor checksum;
    * the oracle recomputes the SAME disposition rule
    * ([[graft.llm.TextAnalysis.qualityScore]] ≥ 0.8, the
    * `pipeline_disposition` drop_quality threshold) from the parquet
    * originals — a hash match proves both the routing decision and the
    * framing survived the streaming write path. Scale: the scorer is a
    * narrow map; the sink adds one directory level; state is the sink
    * log, not rows. */
  val streamQualityRouter: Q = (s, dir) =>
    gate(s, "stream_quality_router",
      Tables.documentsStream(s, dir).select(col("source"), col("n_chars"), docHash,
        when(graft.llm.TextAnalysis.qualityScore(col("text")) >= 0.8, "accept")
          .otherwise("reject").as("disposition")),
      JsonFiles("disposition"), Exactly(1, oneFile))(
      xorRollup(_, "disposition", "source"))

  /** Per-user balance scan over the events table consumed AS A STREAM:
    * [[graft.streaming.StreamingScan.groupScanStream]] threads the
    * non-associative credit-limit kernel through `GroupState`, exactly
    * the reference's per-group scan semantics (examples_scan.py:64–82)
    * on an unbounded source. Ordering is event_id (the stream's
    * per-key delivery order); the oracle replays the same fold with a
    * recursive CTE over event_id-ordered lists.
    *
    * Scale: state is one Double per user spread across the state store;
    * each micro-batch shuffles only on user_id — same partitioning
    * story as the batch path, plus incremental arrival. */
  val streamGroupScanBalance: Q = (s, dir) =>
    gate(s, "stream_group_scan_balance",
      graft.streaming.StreamingScan
        .groupScanStream(Tables.streamEvents(s, dir), "user_id", "event_id", "value", creditLimit)
        .toDF("user_id", "event_id", "balance"),
      // ORACLE PRECONDITION: StreamingScan sorts by event_id only within
      // a batch and cross-batch order is arrival order, so the
      // event_id-ordered replay holds only for one micro-batch
      Append, Exactly(1, "event_id order == arrival order, the oracle's precondition"))(
      _.orderBy("user_id", "event_id"))

  /** CROSS-MICRO-BATCH GroupState through the oracle gate — the
    * carry-across-batches path [[graft.streaming.StreamingScan]] exists
    * for, driver-verified (the single-batch query above can never
    * exercise it). The events fixture is re-spilled as FOUR
    * event_id-contiguous parquet files with strictly increasing mtimes,
    * admitted 2 per trigger oldest-first, so each user's accumulator is
    * built incrementally across batches via `GroupState`. The gate
    * declares >= 2 data batches — it fails loudly if the stream ever
    * collapses to one batch, the exact inverse of the single-batch
    * query's guard.
    *
    * Output is the FINAL balance per user (`max_by(balance, event_id)`)
    * — insensitive to how the stream was chunked into batches (any
    * event_id-contiguous chunking threads the same per-user sequence),
    * and sensitive to cross-batch state: dropping the carry would
    * restart every batch from 0 and diverge immediately (the kernel is
    * non-associative). Oracle: the recursive-CTE balance replay's last
    * state per user.
    *
    * Scale: the fixture re-spill is test plumbing — in production the
    * source is already many files/offsets; state is one Double per user
    * in the state store; each micro-batch shuffles only on user_id. */
  val streamMultibatchBalance: Q = (s, dir) =>
    gate(s, "stream_multibatch_balance",
      graft.streaming.StreamingScan
        .groupScanStream(spilledStream(events(s, dir), "event_id", 4, 2),
          "user_id", "event_id", "value", creditLimit)
        .toDF("user_id", "event_id", "balance"),
      Append, AtLeast(2))(
      _.groupBy("user_id").agg(max_by(col("balance"), col("event_id")).as("balance"))
        .orderBy("user_id"))

  /** UPDATE-MODE incremental aggregation through the oracle gate: the
    * canonical streaming-aggregation state machine (per-key running
    * count + exact decimal sum), fed by the same 4-batch event_id-
    * contiguous fixture. In update mode the memory sink receives ONE
    * row per (batch, user updated in that batch) — the incremental
    * emissions themselves, not just the final state — and with the
    * deterministic batch chunking every emission is a closed-form
    * function of the data: for each (user, bucket b with rows), the
    * cumulative count/sum over that user's buckets <= b. The oracle
    * replays exactly that with a window sum over the same bucket
    * formula, so the driver verifies the WHOLE update stream.
    *
    * Scale: aggregation state is one (count, decimal sum) per user in
    * the state store; each micro-batch shuffles only its new rows on
    * user_id — the standard always-on dashboard-feed shape. */
  val streamIncrementalTotals: Q = (s, dir) =>
    gate(s, "stream_incremental_totals",
      spilledStream(events(s, dir), "event_id", 4, 1).groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), Tables.decSum(col("value")).as("total")),
      Memory("update"), AtLeast(2))(
      // (user_id, n_events) is unique across the update stream (counts
      // strictly increase per user), so the sort is deterministic
      _.orderBy("user_id", "n_events"))

  /** The canonical Structured-Streaming shape: watermarked tumbling-
    * window aggregation in APPEND mode — per (1-hour window, event_type)
    * counts over the events stream, 1-hour lateness watermark. Append
    * emits a window only once its end falls below the final watermark
    * (max event time − 1 h), so for a terminated stream the result is a
    * deterministic function of the data: every closed window — exactly
    * what the batch SQL replay states. Windows are computed on
    * second-truncated event time (the nanos column integer-divided,
    * exact — a double division would lose precision above 2^53 ns).
    *
    * Scale: the aggregation state is one count per (window, type) —
    * bounded by the watermark horizon; each micro-batch shuffles on the
    * group keys only. */
  val streamWindowedCounts: Q = (s, dir) =>
    gate(s, "stream_windowed_counts",
      Tables.streamEvents(s, dir)
        .withColumn("tsc", expr("CAST(ts DIV 1000000000 AS TIMESTAMP)"))
        .withWatermark("tsc", "1 hour")
        .groupBy(window(col("tsc"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").cast("long").as("window_start"), col("event_type"), col("n")),
      Append, Exactly(1, oneFile))(_.orderBy("window_start", "event_type"))

  /** Streaming EXACT DEDUP — the ingest-time flavor of
    * [[graft.llm.Dedup.exactDedup]]: documents arrive as a stream and
    * `dropDuplicates` on the md5 content hash keeps state of every hash
    * seen, so re-ingested content never passes twice. The output is the
    * distinct content-hash set with byte length (deterministic — WHICH
    * row of a duplicate group survives depends on arrival order, so the
    * query projects only columns every duplicate shares). Oracle: batch
    * `SELECT DISTINCT`.
    *
    * Scale: state is one 32-char hash per distinct content (not the
    * text), hash-partitioned across the state store; at 100 TB this is
    * the standard streaming-dedup pattern, usually bounded with
    * `withWatermark` + a time column in the dedup key. */
  val streamDedupDocs: Q = (s, dir) =>
    gate(s, "stream_dedup_docs",
      Tables.documentsStream(s, dir)
        .select(
          graft.llm.TextAnalysis.fingerprintMd5(col("text")).as("content_hash"),
          octet_length(to_binary(col("text"), lit("utf-8"))).as("n_bytes"))
        .dropDuplicates("content_hash"),
      Append, Exactly(1, oneFile))(_.orderBy("content_hash"))

  /** Streaming IMAGE dedup — the multimodal ingest path end-to-end on
    * an unbounded stream: images arrive (the synthesized-BMP frame the
    * batch image-dedup gates share), are REALLY decoded and
    * fingerprinted scan-side ([[graft.llm.Multimodal.imageDHash]] —
    * a narrow mapPartitions runs unchanged on a streaming Dataset),
    * and `dropDuplicates` on the perceptual signature keeps state of
    * every dHash seen — a re-encoded or pixel-identical duplicate
    * image never passes the door twice. The output projects only the
    * signature (which duplicate arrives first is arrival-order, so no
    * per-doc column may leak into the result — the
    * `stream_dedup_docs` determinism rule). State is one 56-char
    * bit-string per DISTINCT image fingerprint — bounded by content
    * diversity, not stream length; production bounds it further with
    * a watermark in the dedup key. Oracle: the batch distinct-sig
    * set, every pixel/bit replayed. */
  val streamMediaDedup: Q = (s, dir) =>
    mediaDoor(s, dir, "stream_media_dedup", MediaModality.Image)

  /** The media ingest door, one for every [[MediaModality]]: the
    * corpus params frame (ONE spilled fixture shared by the four
    * gates) streams in, each row's stream keys derive scan-side, and
    * `dropDuplicates` over the keys keeps state of every key seen. */
  private def mediaDoor(s: SparkSession, dir: String, name: String, m: MediaModality): DataFrame = {
    val params = LlmQueries.mediaParams(Tables(s, dir, "documents"), None)
    val keys = m.streamKeys(spilledStream(params, "doc_id", 4, 2))
    gate(s, name, keys.dropDuplicates(), Append, AtLeast(2))(_.orderBy(keys.columns.map(col): _*))
  }

  /** Streaming AUDIO dedup — [[streamMediaDedup]]'s PCM twin: audio
    * arrives (the two-seed synthesized waveform frame the batch audio
    * gates share), is byte-parsed and fingerprinted scan-side
    * ([[graft.llm.Multimodal.audioFingerprint]] — the narrow
    * mapPartitions runs unchanged on a streaming Dataset), and
    * `dropDuplicates` on the energy-delta signature keeps state of
    * every fingerprint seen — a re-encoded waveform never passes the
    * door twice. Output projects only the signature (arrival order
    * must not leak — the `stream_dedup_docs` determinism rule). State
    * is one 56-char bit string per DISTINCT fingerprint. Oracle: the
    * batch distinct-signature set, every sample/energy/bit replayed. */
  val streamAudioDedup: Q = (s, dir) =>
    mediaDoor(s, dir, "stream_audio_dedup", MediaModality.Audio)

  /** Streaming VIDEO dedup — the LAST cell of the modality × lifecycle
    * matrix (image and audio both stream; video had batch + day-2
    * only): videos arrive (the synthesized 5-frame GIF corpus the
    * batch video gates share), are REALLY sequence-decoded and reduced
    * to the per-position MAJORITY dHash scan-side
    * ([[graft.llm.Multimodal.videoMajoritySignature]] — the whole
    * encode→frame-decode→per-frame-dHash→vote chain is ONE narrow map,
    * which is exactly what makes this composable with streaming: the
    * former doc-keyed majority aggregate would have demanded
    * update-mode state), and `dropDuplicates` on the signature keeps
    * every fingerprint seen — a re-encoded near-identical video never
    * passes the door twice. Output projects only the signature
    * (arrival order must not leak — the `stream_dedup_docs`
    * determinism rule). State is one 56-char bit string per DISTINCT
    * video fingerprint. Oracle: the batch distinct-majority-signature
    * set, every pixel, per-frame bit and vote replayed. */
  val streamVideoDedup: Q = (s, dir) =>
    mediaDoor(s, dir, "stream_video_dedup", MediaModality.Video)

  /** TOKENIZE AT INGEST with a FROZEN artifact — the deploy shape every
    * trained tokenizer ultimately runs in: the unigram LM trains ONCE
    * batch-side (the version-pinned artifact, vocab-sized closure
    * state) and the Viterbi segmentation runs as a stateless narrow
    * map on the stream — [[streamDsirScore]]'s frozen-weights
    * discipline applied to the tokenizer. The gate SHARES the batch
    * `unigram_segment` oracle, so any batch/stream divergence in a
    * single piece boundary hash-fails. No aggregation state at all. */
  val streamUnigramSegment: Q = (s, dir) => {
    val uni = LlmQueries.trainedUnigram(s, dir) // frozen batch-side artifact
    val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val base = spilledStream(docs, "doc_id", 4, 2).filter(col("text").isNotNull)
      .select(col("doc_id"), graft.llm.TextAnalysis.normalizeText(col("text")).as("nt"))
    gate(s, "stream_unigram_segment",
      graft.llm.Unigram.pieceCounts(
          graft.llm.Unigram.segmentation(base, "nt", uni, "seg"), "nt", uni, "n_pieces")
        .select(col("doc_id"), col("n_pieces"),
          md5(to_binary(col("seg"), lit("utf-8"))).as("seg_md5")),
      Append, AtLeast(2))(_.orderBy("doc_id"))
  }

  /** Streaming CROSS-MODAL dedup — the (caption, image) pair at the
    * ingest door: both signatures derive scan-side
    * ([[graft.queries.LlmQueries.captionStreamKeys]] — the caption
    * MinHash rendered to its md5 witness, the image dHash raw), and
    * `dropDuplicates` on the KEY PAIR keeps state of every
    * (caption-fingerprint, image-fingerprint) combination seen — a
    * re-posted pair never passes twice, while the same image under a
    * genuinely different caption (reuse, not a dup) and the same
    * caption over a different image both pass. Output projects only
    * the two keys (the `stream_dedup_docs` determinism rule). Oracle:
    * the batch distinct key-pair set, every caption word, remix,
    * pixel and bit replayed. */
  val streamCaptionDedup: Q = (s, dir) =>
    mediaDoor(s, dir, "stream_caption_dedup", MediaModality.Caption)

  /** Streaming Count-Min maintenance —
    * [[graft.llm.Sketches.cmsCounters]] running UNCHANGED on the
    * documents stream: the sketch where it earns its keep, an
    * always-on ingest-side frequency summary whose update-mode
    * aggregation state is depth·width counters FOREVER — the batch
    * operator's bounded-memory claim in its streaming form (no
    * vocabulary-sized state ever accumulates, however long the stream
    * runs). The 4-batch doc_id-contiguous fixture makes every
    * update-mode emission closed-form: for each (i, bucket) and batch
    * whose docs hash an instance there, the cumulative counter over
    * batches ≤ b — the `stream_incremental_totals` discipline applied
    * to the matrix, so the driver verifies the whole update stream,
    * not just the final state. (i, bucket, c) is unique across the
    * stream (counters strictly increase per cell), so the sort is
    * deterministic. */
  val streamCmsMatrix: Q = (s, dir) => {
    val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    gate(s, "stream_cms_matrix",
      graft.llm.Sketches.cmsCounters(spilledStream(docs, "doc_id", 4, 1), "text", depth = 4, width = 256),
      Memory("update"), AtLeast(2))(_.orderBy("i", "bucket", "c"))
  }

  /** INGEST-TIME DSIR — [[graft.llm.Sampling.dsirScoreFrozen]] running
    * UNCHANGED on the documents stream: importance scoring where a
    * deployment actually applies it, at the door, against the
    * persisted frozen weight table (the SAME artifact the batch
    * `dsir_score_incremental` gate probes — one trained model, two
    * apply paths). The gram explode is a narrow map, the weight attach
    * a stream-static broadcast join, and the per-doc aggregation
    * update-mode state of one (count, sum) per doc in flight. Each
    * doc's grams live in one doc_id-contiguous micro-batch, so every
    * doc updates exactly once and the final table equals the batch
    * apply — shared oracle, divergence hash-fails. */
  val streamDsirScore: Q = (s, dir) => {
    val wT = LlmQueries.dsirWeightsTable(s, dir)
    val src = spilledStream(Tables(s, dir, "documents").filter(col("doc_id") % 2 =!= 0)
      .select("doc_id", "text"), "doc_id", 2, 1)
    gate(s, "stream_dsir_score",
      graft.llm.Sampling.dsirScoreFrozen(s.table(wT), src, "doc_id", "text", 1024)
        .select(col("id").as("doc_id"), col("n_grams"), col("dsir_score")),
      Memory("update"), AtLeast(2))(_.orderBy("doc_id"))
  }

  /** STREAMING ANN — query vectors arrive as a stream and probe the
    * persisted bucketed IVF index (the SAME table `ann_ivf_persisted`
    * reads — one layout investment, batch and streaming probe paths):
    * the retrieval-endpoint deployment, where embeddings of incoming
    * requests rank against a corpus index that never rescans. Three
    * streaming-legal pieces replace the batch plan's windows:
    *  - routing is [[graft.llm.Similarity.ivfRouteCells]] — the
    *    expression-only (cos DESC, cid ASC) router over the collected
    *    centroid literal (a row_number window cannot run on a stream);
    *  - candidates meet in a STREAM-STATIC join on cell id (the
    *    bucketed index is the static side — per micro-batch one
    *    bucketed scan, no state);
    *  - ranking is [[graft.streaming.CosTopKAgg]] — per-query top-k
    *    state of k (cos, id) pairs, update mode.
    * Each query's rows live in one doc_id-contiguous micro-batch (2
    * spill files over 10 queries), so each query updates exactly once
    * and the final table IS the per-query answer — which equals the
    * batch `ann_ivf` result by construction, so the gate SHARES its
    * oracle: any batch/stream routing or ranking divergence
    * hash-fails. */
  val streamAnnIvfProbe: Q = (s, dir) => {
    val e = Tables(s, dir, "embeddings")
    // the quantizer lives with the persisted index: routing reuses its
    // centroids instead of re-running the centroid corpus pass
    val idx = LlmQueries.ivfIndex(s, dir)
    val src = spilledStream(e.filter(col("vec_id") < 10).select("vec_id", "embedding"), "vec_id", 2, 1)
    val routed = graft.llm.Similarity.ivfRouteCells(
      src, idx.centroids, "vec_id", "embedding", "query_id", "qvec", 4, "cell")
    val scored = routed.join(s.table(idx.table), Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"),
        graft.llm.Similarity.cosine(col("qvec"), col("cvec2")).as("cos"),
        col("corpus_id"))
    gate(s, "stream_ann_ivf_probe",
      scored.groupBy("query_id")
        .agg(graft.streaming.CosTopKAgg.column(5, col("cos"), col("corpus_id")).as("top")),
      Memory("update"), AtLeast(2))(
      _.select(col("query_id"),
          posexplode(col("top").getField("ids")).as(Seq("pos", "corpus_id")))
        .select(col("query_id"), col("corpus_id"), (col("pos") + 1).cast("int").as("rank"))
        .orderBy("query_id", "rank"))
  }

  /** Streaming token accounting with a TRAINED BROADCAST ARTIFACT —
    * the deploy shape of every trained operator in the catalog: the
    * BPE merge table is trained ONCE on the batch side
    * ([[LlmQueries.trainedBpe]], bounded aggregates + driver loop),
    * then compiled into the stream's scan expressions like any other
    * literal — the encoder rides whole-stage codegen inside each
    * micro-batch, no per-batch retraining, no state beyond the running
    * per-source totals (complete-mode aggregation state = |sources|
    * rows). This is how a 100 TB ingest runs exact token budgets: the
    * tokenizer is a version-pinned artifact shipped to the stream, and
    * the budget readout is the same map-side-combined aggregate as the
    * batch twin. Oracle: the full training replay
    * ([[BpeOracle.trainCtes]]) + the same per-source rollup — a hash
    * match verifies the artifact path end-to-end, training included. */
  val streamBpeTokenBudget: Q = (s, dir) => {
    val trained = LlmQueries.trainedBpe(s, dir)
    gate(s, "stream_bpe_token_budget",
      Tables.documentsStream(s, dir)
        .select(col("source"),
          graft.llm.Bpe.tokenCount(col("text"), trained.merges).cast("long").as("n"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("total_tokens")),
      Memory("complete"), Exactly(1, oneFile))(_.orderBy("source"))
  }

  /** INGEST-TIME encoding hygiene — [[LlmQueries.encodingHygiene]]'s
    * triage run where a production pipeline actually runs it: at the
    * door. The same deterministic in-plan corruption, detection
    * regexes and repair accounting (all pure expressions —
    * [[LlmQueries.corruptedDocs]] and
    * [[graft.llm.TextAnalysis.encodingHygiene]] run unchanged on the
    * streaming frame); complete-mode per-source aggregation keeps
    * |sources| rows of state, and the rollup is batch-invariant, so
    * the BATCH oracle is shared verbatim. The quarantine decision a
    * real ingest makes (route docs_flagged to re-fetch) keys off
    * exactly these counters. */
  val streamEncodingHygiene: Q = (s, dir) =>
    gate(s, "stream_encoding_hygiene",
      graft.llm.TextAnalysis.encodingHygiene(
        LlmQueries.corruptedDocs(Tables.documentsStream(s, dir)), "source", "t"),
      Memory("complete"), Exactly(1, oneFile))(_.orderBy("source"))

  /** Streaming SPAN CORRUPTION — the denoising data prep running at
    * ingest ([[graft.llm.TextAnalysis.spanCorruption]] unchanged on
    * the documents stream): a purely narrow transform needs no state,
    * no watermark, and emits per micro-batch exactly what the batch
    * plan emits per partition — so the gate SHARES the batch oracle
    * and any batch/stream divergence (a mask bit, a sentinel index, a
    * string) hash-fails. This is the deploy shape of every stateless
    * scan-side operator in the catalog: the same Column expressions,
    * readStream in, writeStream out. */
  val streamSpanCorruption: Q = (s, dir) =>
    gate(s, "stream_span_corruption",
      graft.llm.TextAnalysis.spanCorruption(Tables.documentsStream(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id"),
      Append, Exactly(1, oneFile))(_.orderBy("doc_id"))

  /** The normalized non-empty words of each non-NULL doc — the split the
    * SFT and DPO ingest gates cut their prompt/answer thirds from. NULL
    * text drops the doc — the batch gates' spanCorruption convention
    * (see LlmQueries.dpoPairsQ); the shared oracles drop it via
    * unnest-over-NULL. */
  private def docWords(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(split(graft.llm.TextAnalysis.normalizeText(col("text")), " "),
          w => length(w) > 0).as("w"))

  /** SFT PREP AT INGEST — [[streamSpanCorruption]]'s instruction-tuning
    * sibling: the same prompt/response derivation and
    * [[graft.llm.TextAnalysis.sftExamples]] Column expressions on a
    * readStream frame. Stateless, watermark-free, append-mode — the
    * gate SHARES the batch oracle, so a batch/stream divergence in any
    * truncation decision, template token or mask bit hash-fails. */
  val streamSftExamples: Q = (s, dir) => {
    val paired = docWords(Tables.documentsStream(s, dir))
      .select(col("doc_id"),
        array_join(slice(col("w"), lit(1), expr("size(w) DIV 3")), " ").as("prompt"),
        array_join(slice(col("w"), expr("size(w) DIV 3 + 1"),
          expr("size(w) - size(w) DIV 3")), " ").as("response"))
    gate(s, "stream_sft_examples",
      graft.llm.TextAnalysis.sftExamples(paired, "doc_id", "prompt", "response", 64)
        .withColumnRenamed("id", "doc_id"),
      Append, Exactly(1, oneFile))(_.orderBy("doc_id"))
  }

  /** PREFERENCE-PAIR prep AT INGEST — the third stateless prep on the
    * stream (span corruption, SFT, now DPO): the same triple
    * derivation and [[graft.llm.TextAnalysis.dpoPairs]] Column
    * expressions on readStream; watermark-free append mode, the gate
    * SHARES the batch oracle so any batch/stream divergence in the
    * shared prompt cut or either mask hash-fails. */
  val streamDpoPairs: Q = (s, dir) => {
    val triples = docWords(Tables.documentsStream(s, dir))
      .select(col("doc_id"),
        array_join(slice(col("w"), lit(1), expr("size(w) DIV 3")), " ").as("prompt"),
        array_join(slice(col("w"), expr("size(w) DIV 3 + 1"),
          expr("size(w) - size(w) DIV 3")), " ").as("chosen"),
        array_join(reverse(slice(col("w"), expr("size(w) DIV 3 + 1"),
          expr("size(w) - size(w) DIV 3"))), " ").as("rejected"))
    gate(s, "stream_dpo_pairs",
      graft.llm.TextAnalysis.dpoPairs(triples, "doc_id", "prompt", "chosen", "rejected", 64)
        .withColumnRenamed("id", "doc_id"),
      Append, Exactly(1, oneFile))(_.orderBy("doc_id"))
  }

  /** REWARD-MODEL PAIRS AT INGEST — the fourth stateless prep on the
    * stream (span corruption, SFT, DPO, now RM pairs): the SAME scored
    * candidate frame and pair read as the batch gate
    * ([[LlmQueries.bestOfNScoredOn]] + [[LlmQueries.rmPairsProjection]]
    * — narrow Column expressions run unchanged on readStream), so the
    * gate SHARES the batch oracle and any divergence in a reward term,
    * a tie-break or the margin filter hash-fails. */
  val streamRmPairs: Q = (s, dir) =>
    gate(s, "stream_rm_pairs",
      LlmQueries.rmPairsProjection(LlmQueries.bestOfNScoredOn(Tables.documentsStream(s, dir))),
      Append, Exactly(1, oneFile))(_.orderBy("doc_id"))

  /** BEST-OF-N SELECTION AT INGEST — the fifth (and last) stateless
    * prep at the door: the same scored frame and argmax read as the
    * batch gate ([[LlmQueries.bestOfNScoredOn]] +
    * [[LlmQueries.bestOfNProjection]]), sharing the batch oracle —
    * the prep-at-ingest family now covers span corruption, SFT, DPO,
    * RM pairs and rejection-sampling selection. */
  val streamBestOfN: Q = (s, dir) =>
    gate(s, "stream_best_of_n",
      LlmQueries.bestOfNProjection(LlmQueries.bestOfNScoredOn(Tables.documentsStream(s, dir))),
      Append, Exactly(1, oneFile))(_.orderBy("doc_id"))

  /** SNAPSHOT DIFF AT INGEST — `dataset_diff`'s streaming half: the
    * REFERENCE snapshot persists once as a bucketed (doc_id, a_md5)
    * hash table (32 bytes/doc — the `dedup_incremental_bucketed`
    * layout investment applied to versioning), and arriving documents
    * probe it with zero Exchange on the snapshot side, emitting
    * `added` / `changed` / `unchanged` as they land. `removed` is the
    * one status a stream cannot emit (absence has no arrival event) —
    * a deployment closes it with the batch diff at snapshot cut, so
    * the oracle is the batch diff MINUS its removed rows, verbatim
    * column-for-column. */
  private def diffBucket(id: Column): Column =
    graft.llm.Sampling.hash60(concat(lit("snap:"), id.cast("string"))) % 4

  /** The persisted reference snapshot (doc_id, a_md5) — built once per
    * dir and shared by the ingest-side diff and the snapshot-cut close
    * (ONE builder under the cache key; the bm25IndexTables lesson). */
  private def diffSnapshotTable(s: SparkSession, dir: String): String = {
    val docs = Tables(s, dir, "documents")
    Artifacts.getOrBuild("diff_snap_a", Seq(docs)) { a =>
      a.bucketedTable("graft_diff_a", "doc_id", docs.filter(col("text").isNotNull)
        .filter(diffBucket(col("doc_id")) < 3)
        .select(col("doc_id"), md5(to_binary(col("text"), lit("utf-8"))).as("a_md5")))
    }
  }

  /** SNAPSHOT-CUT CLOSE — the `removed` half the ingest stream cannot
    * emit (absence has no arrival event): at snapshot cut, the
    * persisted reference table anti-joins the arrived id set — one
    * bucketed scan and a broadcast-able id probe — and emits the
    * removed rows in the SAME column shape as the diff, so
    * `stream_dataset_diff ∪ dataset_diff_close == dataset_diff` row
    * for row (pinned in GovernancePrepSpec). */
  val datasetDiffClose: Q = (s, dir) => {
    val aT = diffSnapshotTable(s, dir)
    val arrived = Tables(s, dir, "documents").filter(col("text").isNotNull)
      .filter(diffBucket(col("doc_id")) >= 1).select("doc_id")
    s.table(aT).join(arrived, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("removed").as("status"),
        col("a_md5"), lit(null).cast("string").as("b_md5"))
      .orderBy("doc_id")
  }

  /** The ingest-side diff transform — an arriving (doc_id, b_md5)
    * frame probes the persisted snapshot and emits its status ONCE:
    * `dropDuplicates` on the document key makes the diff KEEP-FIRST
    * under at-least-once delivery (a redelivered doc must not emit a
    * second, possibly contradicting status row — the verdict a
    * downstream retrain decision consumed is immutable), and its
    * doc_id-keyed state survives a reopened checkpoint, so the
    * guarantee holds ACROSS restarts (StreamDatasetDiffRestartSpec).
    * The fixture has unique ids, so the batch-diff oracle is
    * unchanged; state is one key per arrived doc, bounded by the
    * snapshot-window id space a deployment already bounds with its
    * snapshot cut. Factored so the restart spec drives the SAME
    * transform the gate ships. */
  private[queries] def diffAgainst(snapshot: DataFrame, arriving: DataFrame): DataFrame =
    arriving.dropDuplicates(Seq("doc_id"))
      .join(snapshot, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("a_md5").isNull, lit("added"))
          .when(col("a_md5") =!= col("b_md5"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        col("a_md5"), col("b_md5"))

  val streamDatasetDiff: Q = (s, dir) => {
    val aT = diffSnapshotTable(s, dir)
    val arriving = Tables.documentsStream(s, dir).filter(col("text").isNotNull)
      .withColumn("b", diffBucket(col("doc_id"))).filter(col("b") >= 1)
      .select(col("doc_id"), md5(to_binary(
        when(col("b") === 2, concat(col("text"), lit(" [v2]"))).otherwise(col("text")),
        lit("utf-8"))).as("b_md5"))
    gate(s, "stream_dataset_diff", diffAgainst(s.table(aT), arriving),
      Append, Exactly(1, oneFile))(_.orderBy("doc_id"))
  }

  /** STREAMING FORGET — tombstones over dedup state
    * ([[graft.streaming.StreamingForget]]): the fixture derives an
    * event log from the documents table — every doc ingests (seq =
    * 4·id), the `forget_docs_audit` delete list then forgets (4·id+1)
    * and RE-ingests (4·id+2) its docs — and the stateful door acks
    * each event (`kept`/`dup`/`forgotten`/`noop`). The re-ingest
    * passing as `kept` is the property `dropDuplicates` cannot
    * express: the tombstone really removed the state. Liveness has a
    * closed form (an ingest after the last forget), so the oracle
    * replays the whole state machine with two running-max windows. */
  val streamForgetTombstone: Q = (s, dir) => {
    val docs = Tables.documentsStream(s, dir).filter(col("text").isNotNull).select(
      graft.llm.TextAnalysis.fingerprintMd5(col("text")).as("content_hash"),
      col("doc_id"),
      LlmQueries.isForgetDoc(col("doc_id")).as("f"))
    val ev = docs.select(col("content_hash"), col("doc_id"),
      explode(when(col("f"), array(
          struct(lit(0).as("op"), (col("doc_id") * 4).as("seq")),
          struct(lit(1).as("op"), (col("doc_id") * 4 + 1).as("seq")),
          struct(lit(0).as("op"), (col("doc_id") * 4 + 2).as("seq"))))
        .otherwise(array(struct(lit(0).as("op"), (col("doc_id") * 4).as("seq"))))).as("e"))
      .select(col("content_hash"), col("e.seq").as("seq"), col("doc_id"), col("e.op").as("op"))
    gate(s, "stream_forget_tombstone", graft.streaming.StreamingForget.forgetTombstone(ev).toDF(),
      Append, Exactly(1, oneFile))(_.orderBy("content_hash", "seq"))
  }

  /** SCD2 POINT-IN-TIME enrichment — the versioned-dimension join
    * every ingest ETL needs and [[streamStaticEnrich]] (current-state
    * dim) cannot express: each event joins the dim VERSION that was
    * effective AT THE EVENT'S TIME. The dimension is built batch-side
    * with two effective-dated versions per customer (the segment
    * changes mid-fixture; boundaries derive from the events table's
    * own [min, max] span in exact integer nanos, so both engines
    * compute identical intervals), and the stream probes it with a
    * broadcast range-condition join — stateless, no watermark,
    * batch-invariant, the half-open [start, end) convention making
    * every event match EXACTLY one version. Oracle: the plain batch
    * join. */
  val streamScdEnrich: Q = (s, dir) => {
    val ev = events(s, dir)
    val mm = ev.agg(min("ts").as("lo"), max("ts").as("hi"))
      .withColumn("mid", expr("lo + (hi - lo) div 2"))
    val dim = Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
      .crossJoin(broadcast(mm))
      .select(col("c_custkey"), explode(array(
        struct(col("lo").as("eff_start"), col("mid").as("eff_end"),
          concat(col("c_mktsegment"), lit("#v1")).as("segment")),
        struct(col("mid").as("eff_start"), (col("hi") + 1).as("eff_end"),
          concat(col("c_mktsegment"), lit("#v2")).as("segment")))).as("v"))
      .select(col("c_custkey"), col("v.eff_start"), col("v.eff_end"), col("v.segment"))
      // the static dim side of a stream-static join is re-evaluated
      // EVERY micro-batch — including the full events min/max aggregate
      // feeding the version boundary. The dim is deterministic and
      // bounded (2 rows per customer): shared, so each trigger
      // broadcasts cached blocks instead of re-aggregating.
      .transform(Materialize.shared)
    val src = spilledStream(ev, "event_id", 4, 2)
    gate(s, "stream_scd_enrich",
      src.join(broadcast(dim),
          src("user_id") === dim("c_custkey") &&
            src("ts") >= dim("eff_start") && src("ts") < dim("eff_end"))
        .select(col("event_id"), col("user_id"), col("segment")),
      Append, AtLeast(2))(_.orderBy("event_id"))
  }

  /** WATERMARKED streaming dedup — the bounded-state version of
    * [[streamDedupDocs]], and the pattern its docstring points at: the
    * dedup key includes the event-time column (hour-truncated), and
    * `withWatermark` lets the state store EXPIRE keys older than the
    * horizon instead of holding every key forever — the difference
    * between O(distinct-ever) and O(distinct-per-horizon) state at
    * 100 TB. Fed by the same 4-file event_id-contiguous fixture, so
    * suppression of duplicates ACROSS micro-batches is exercised.
    *
    * Determinism: the watermark (1000 h) exceeds the fixture's whole
    * 720 h span, so no row is ever late-dropped and the emitted set is
    * exactly the batch DISTINCT of (user, type, hour) — regardless of
    * how files chunk into batches. A production deploy would use a
    * horizon ~ the real lateness bound (minutes–hours); the semantics
    * under that horizon are the same minus genuinely-late rows. The
    * output projects only the dedup key (every duplicate shares it), so
    * WHICH duplicate survived — an arrival-order artifact — never
    * reaches the compare.
    *
    * `noDataBatches = false` is legal here: append-mode dropDuplicates
    * emits each surviving row in the DATA batch that carries it — the
    * trailing no-data batch only EVICTS expired state (and with the
    * 1000 h horizon > the fixture span it evicts nothing), so it would
    * run a full addBatch cycle to emit zero rows. */
  val streamDedupWatermarked: Q = (s, dir) =>
    gate(s, "stream_dedup_watermarked",
      // ts is bigint nanos (nanosAsLong); hour-truncate in exact integer
      // arithmetic, then lift to TIMESTAMP for the watermark column
      spilledStream(events(s, dir), "event_id", 4, 2)
        .withColumn("hour_ts", expr("CAST(ts DIV 1000000000 DIV 3600 * 3600 AS TIMESTAMP)"))
        .withWatermark("hour_ts", "1000 hours")
        .dropDuplicates("user_id", "event_type", "hour_ts"),
      Append, AtLeast(2), noDataBatches = false)(
      _.select(col("user_id"), col("event_type"), col("hour_ts").cast("long").as("hour_start"))
        .orderBy("user_id", "event_type", "hour_start"))

  /** WATERMARKED STREAM-STREAM INNER JOIN through the oracle gate —
    * the two-unbounded-sides join (clicks ⋈ errors within 1 hour per
    * user) that no stream-static shape can express. Each side reads
    * its own PRE-FILTERED 4-file event_id-contiguous fixture
    * ([[spillTypedEvents]] — spilled once, shared with the
    * left-outer twin) admitted 2 files per trigger → two genuine
    * cross-batch micro-batches per side: rows arriving in batch 2
    * must match click state retained from batch 1, which is the path
    * under test.
    * The equi-key (user_id) partitions the state;
    * the time-range condition (`e_ts ∈ [c_ts, c_ts + 1h]`) plus the
    * 48-hour watermarks bound BOTH sides' state — each side evicts
    * rows the watermark proves can no longer match, which is the only
    * thing that makes a 100 TB/day stream-stream join runnable at all.
    *
    * The fixture's event time is monotone in event_id and files are
    * event_id-contiguous, so no row is ever late and eviction never
    * races arrival: the emitted match set equals the batch join —
    * which is exactly what the oracle replays (in exact integer µs,
    * the watermark column's resolution).
    *
    * Scale: state per side is the rows within the watermark horizon,
    * hash-partitioned on user_id; each micro-batch shuffles only its
    * own rows on the key. */
  val streamJoinClicksErrors: Q = (s, dir) => {
    // ts is bigint nanos: truncate to exact integer µs, lift to the
    // TIMESTAMP event-time columns the watermark/join-condition need
    val clicks = spillTypedEvents(s, dir, "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        expr("ts DIV 1000").as("c_us"))
      .withColumn("c_ts", timestamp_micros(col("c_us")))
      .withWatermark("c_ts", "48 hours")
    val errors = spillTypedEvents(s, dir, "error")
      .select(col("user_id").as("e_user"), col("event_id").as("error_id"),
        expr("ts DIV 1000").as("e_us"))
      .withColumn("e_ts", timestamp_micros(col("e_us")))
      .withWatermark("e_ts", "48 hours")
    val joined = clicks.join(errors,
      col("c_user") === col("e_user") &&
        col("e_ts") >= col("c_ts") &&
        col("e_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
    gate(s, "stream_join_clicks_errors",
      joined.select(col("c_user").as("user_id"), col("click_id"), col("error_id"),
        (col("e_us") - col("c_us")).as("lag_us")),
      Append, AtLeast(2), statePartitions = 2, noDataBatches = false)(
      _.orderBy("user_id", "click_id", "error_id"))
  }

  /** WATERMARKED STREAM-STREAM LEFT OUTER JOIN — the eviction-driven
    * emission path the inner join never touches: a null-extended row
    * exists only because the watermark PROVED no match can still
    * arrive, so producing it exercises state expiry as an emission
    * trigger (not just a cleanup). Clicks left-join errors within 1
    * hour per user, each side its own pre-filtered 4-file
    * event_id-contiguous fixture (shared with the inner-join twin),
    * 2 files per trigger → two genuine cross-batch micro-batches per
    * side.
    *
    * Determinism of the emitted set: matched pairs equal the batch
    * left join's matches (no row is late — event time is monotone in
    * event_id); an UNMATCHED click emits null-extended only once the
    * final global watermark (min of both sides' max event time − 48 h)
    * passes the end of its match window (c_ts + 1 h) — clicks closer
    * than that to the stream's end stay withheld in state at
    * termination. The oracle replays exactly that rule; the `<`
    * boundary was pinned empirically (a click whose window end equals
    * the watermark is NOT yet evicted). Event-time columns are
    * second-truncated so the watermark's internal ms floor is exact on
    * whole-second values and the replay is engine-portable. Null
    * match columns surface as −1 sentinels: a nullable int64 would
    * read back as float64 in pandas and break the dtype-faithful
    * compare.
    *
    * Scale shape: identical to the inner join — state bounded by the
    * watermark horizon on BOTH sides, hash-partitioned on user_id;
    * left-outer adds only the per-eviction emission check. */
  val streamLeftJoinClicksErrors: Q = (s, dir) => {
    // ts is bigint nanos: truncate to whole seconds for the event-time
    // columns (exact under the watermark's ms floor), lift to TIMESTAMP
    val clicks = spillTypedEvents(s, dir, "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        expr("ts DIV 1000000000").as("c_sec"))
      .withColumn("c_ts", expr("CAST(c_sec AS TIMESTAMP)"))
      .withWatermark("c_ts", "48 hours")
    val errors = spillTypedEvents(s, dir, "error")
      .select(col("user_id").as("e_user"), col("event_id").as("error_id"),
        expr("ts DIV 1000000000").as("e_sec"))
      .withColumn("e_ts", expr("CAST(e_sec AS TIMESTAMP)"))
      .withWatermark("e_ts", "48 hours")
    val joined = clicks.join(errors,
      col("c_user") === col("e_user") &&
        col("e_ts") >= col("c_ts") &&
        col("e_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
      "leftOuter")
    gate(s, "stream_leftjoin_clicks_errors",
      joined.select(col("c_user").as("user_id"), col("click_id"),
        coalesce(col("error_id"), lit(-1L)).as("error_id"),
        coalesce(col("e_sec") - col("c_sec"), lit(-1L)).as("lag_sec")),
      Append, AtLeast(2), statePartitions = 2)(_.orderBy("user_id", "click_id", "error_id"))
  }

  /** STREAMING SESSION WINDOWS through the oracle gate — dynamic-gap
    * sessionization (`session_window`, 12 h gap) with watermark-driven
    * emission: a session row exists only once the watermark passed its
    * end, and sessions MERGE across micro-batches through the session
    * state store (the 4-file fixture makes merges genuinely cross
    * batch boundaries). This is the streaming twin of the batch
    * `event_sessions` query (same 12 h gap convention).
    *
    * Determinism of the emitted set: event time is monotone in
    * event_id and the files are event_id-contiguous, so no row is ever
    * late — any event that would extend a session arrives while the
    * session is still open. The emitted set is therefore exactly the
    * batch sessionization filtered to sessions whose end (last event
    * + gap) is <= the final watermark (max event second − 48 h).
    * Both boundaries are pinned by SessionWindowSpec: the merge rule
    * is NON-strict (an event exactly `gap` after the previous one
    * still merges; end = last event + gap), and the emission rule is
    * NON-strict (a session ending exactly ON the watermark emits).
    * Event-time columns are second-truncated so the watermark's ms
    * floor is exact and the replay engine-portable.
    *
    * Scale: session state is per OPEN session per key (bounded by the
    * watermark horizon), hash-partitioned on user_id; each micro-batch
    * shuffles only its own rows, and closed sessions leave the store —
    * the only formulation of sessionization that survives an unbounded
    * stream. */
  val streamSessionWindows: Q = (s, dir) =>
    gate(s, "stream_session_windows",
      spilledStream(events(s, dir), "event_id", 4, 2)
        .select(col("user_id"), expr("ts DIV 1000000000").as("sec"))
        .withColumn("ets", expr("CAST(sec AS TIMESTAMP)"))
        .withWatermark("ets", "48 hours")
        .groupBy(session_window(col("ets"), "12 hours"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").cast("long").as("start_sec"),
          col("session_window.end").cast("long").as("end_sec"),
          col("n_events")),
      Append, AtLeast(2))(_.orderBy("user_id", "start_sec"))

  /** STREAM–STATIC ENRICHMENT — the stateless per-batch join shape: an
    * unbounded event stream joined to a bounded dimension (customer)
    * with NO state store at all. The static side is broadcast into
    * every micro-batch, so each batch is a narrow map over its own
    * rows — the enrichment pattern every ingestion pipeline runs before
    * any stateful operator, and the proof that not every streaming join
    * needs watermarks: only two UNBOUNDED sides do. Emitted rows are
    * batch-invariant (a pure per-row function of the input), so the
    * oracle is simply the batch join. */
  val streamStaticEnrich: Q = (s, dir) => {
    val cust = Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    gate(s, "stream_static_enrich",
      spilledStream(events(s, dir), "event_id", 4, 2)
        .join(broadcast(cust), col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("c_nationkey").as("nation_key"), col("c_mktsegment").as("segment")),
      Append, AtLeast(2))(_.orderBy("event_id"))
  }

  /** STREAMING NEAR-DUP PROBE — the minhash family on the ingest path:
    * arriving documents are banded IN-STREAM (shingle→minhash→band, all
    * expression-based so [[graft.llm.Dedup.bandBuckets]] runs unchanged
    * on the streaming frame) and probed against a STATIC corpus LSH
    * index by a stateless stream-static equi-join on the band bucket.
    * Corpus/batch roles use the md5 hash-bucket split shared with
    * `dedup_incremental`/`decontaminate_docs` (bucket < 13 ≈ 5% plays
    * the arriving batch). Emission is per (probe doc, band, candidate)
    * with the signature-estimated Jaccard — a pure function of the row
    * and the static index, hence append-mode with NO watermark or
    * state store, and batch-invariant however files chunk into
    * micro-batches (the ≥2-batch declaration proves per-batch
    * re-probing). The corpus index applies the same hot-bucket cap as
    * [[graft.llm.Dedup.minHashPairsFromHashes]] (boilerplate buckets
    * would otherwise fan every probe out by the bucket size).
    *
    * Scale: the index is built ONCE ([[neardupIndex]]: `Materialize.shared`,
    * an [[Artifacts]] entry; a persisted table bucketed by band key in
    * production, as
    * `dedup_incremental_bucketed` demonstrates for exact hashes), so
    * each micro-batch pays one narrow map + one equi-join against a
    * pre-bucketed static side — never a corpus rescan, nothing
    * all-pairs. Probe state is ZERO: near-dup admission control at
    * ingest without a growing state store. */
  private def neardupIsBatch: Column =
    graft.llm.Sampling.hashBucket256(col("doc_id")) < 13

  /** The static corpus LSH index (cand_id, cand_sig, bucket), built once
    * per corpus rather than per invocation × bench reps (the
    * r9-measured 2.6 s was mostly index rebuild). It holds
    * `Materialize.shared` blocks, so the entry is bound to the SparkContext
    * that built it: a fresh context (stop + rebuild, the common
    * test-harness pattern) rebuilds instead of reusing blocks that died
    * with the old one. */
  private[queries] def neardupIndex(docs: DataFrame): DataFrame =
    Artifacts.getOrBuild("neardup_index", Seq(docs)) { a =>
      import graft.llm.Dedup
      a.bind()
      val maxBucket = 1000 // same cap as the batch minhash family
      val corpusIdx = Dedup.bandBuckets(
          Dedup.shingleHashSets(docs.filter(!neardupIsBatch), "doc_id", "text"))
        .select(col("id").as("cand_id"), col("sig").as("cand_sig"), col("bucket"))
      val okBuckets = corpusIdx.groupBy("bucket")
        .agg(count(lit(1)).as("n")).filter(col("n") <= maxBucket).select("bucket")
      Materialize.shared(corpusIdx.join(okBuckets, "bucket"))
    }

  val streamNeardupProbe: Q = (s, dir) => {
    import graft.llm.Dedup
    val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val idx = neardupIndex(docs)
    val probes = Dedup.bandBuckets(Dedup.shingleHashSets(
      spilledStream(docs, "doc_id", 4, 2).filter(neardupIsBatch), "doc_id", "text"))
    gate(s, "stream_neardup_probe",
      probes.join(broadcast(idx), "bucket")
        .withColumn("est_jaccard", Dedup.signatureSimilarity(col("sig"), col("cand_sig")))
        .filter(col("est_jaccard") >= 0.3)
        .select(col("id").as("probe_id"), col("bucket"), col("cand_id"), col("est_jaccard")),
      Append, AtLeast(2))(_.orderBy("probe_id", "bucket", "cand_id"))
  }

  /** STATEFUL streaming near-dup — the growing in-stream index
    * ([[graft.streaming.StreamingNearDup]]): ALL documents stream in
    * (4 doc_id-contiguous files, 2 per micro-batch) and every arrival
    * probes-then-joins the cumulative per-band-bucket state, so batch
    * N+1 catches near-dups of batch N — the streaming sibling of
    * `dedup_incremental`, with `flatMapGroupsWithState` keyed by band
    * bucket, the hot-bucket state cap, and event-time eviction (gate
    * horizon ≫ fixture span, so the emitted set equals the batch
    * prefix-replay the oracle runs; the tight-horizon eviction path is
    * measured by StreamingScaleProbe). The ≥2-batch declaration plus a
    * CROSS-BATCH-HIT guard prove the path under test: at least one
    * emitted pair must span two different micro-batch files. */
  val streamNeardupStateful: Q = (s, dir) => {
    val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    val hits = graft.streaming.StreamingNearDup.neardupStateful(spilledStream(docs, "doc_id", 4, 2),
      horizonSec = 100L * 24 * 3600, maxBucket = 1000, threshold = 0.3)
    gate(s, "stream_neardup_stateful", hits.toDF(), Append, AtLeast(2)) { res =>
      def fileOf(c: Column) = floor(c * 4 / (maxId + 1.0))
      if (res.filter(fileOf(col("cand_id")) < fileOf(col("probe_id"))).isEmpty)
        throw new IllegalStateException(
          "stream_neardup_stateful emitted no pair spanning two micro-batches — the growing-index " +
            "path was not exercised")
      res.orderBy("probe_id", "bucket", "cand_id")
    }
  }

  val defs: Map[String, Q] = Map(
    "stream_neardup_stateful" -> streamNeardupStateful,
    "stream_neardup_probe" -> streamNeardupProbe,
    "stream_static_enrich" -> streamStaticEnrich,
    "stream_session_windows" -> streamSessionWindows,
    "stream_leftjoin_clicks_errors" -> streamLeftJoinClicksErrors,
    "stream_group_scan_balance" -> streamGroupScanBalance,
    "stream_join_clicks_errors" -> streamJoinClicksErrors,
    "stream_multibatch_balance" -> streamMultibatchBalance,
    "stream_incremental_totals" -> streamIncrementalTotals,
    "stream_windowed_counts" -> streamWindowedCounts,
    "stream_dedup_docs" -> streamDedupDocs,
    "stream_media_dedup" -> streamMediaDedup,
    "stream_audio_dedup" -> streamAudioDedup,
    "stream_video_dedup" -> streamVideoDedup,
    "stream_caption_dedup" -> streamCaptionDedup,
    "stream_unigram_segment" -> streamUnigramSegment,
    "stream_cms_matrix" -> streamCmsMatrix,
    "stream_ann_ivf_probe" -> streamAnnIvfProbe,
    "stream_dsir_score" -> streamDsirScore,
    "stream_bpe_token_budget" -> streamBpeTokenBudget,
    "stream_sink_jsonl" -> streamSinkJsonl,
    "stream_quality_router" -> streamQualityRouter,
    "stream_dedup_watermarked" -> streamDedupWatermarked,
    "stream_encoding_hygiene" -> streamEncodingHygiene,
    "stream_span_corruption" -> streamSpanCorruption,
    "stream_sft_examples" -> streamSftExamples,
    "stream_dpo_pairs" -> streamDpoPairs,
    "stream_rm_pairs" -> streamRmPairs,
    "stream_best_of_n" -> streamBestOfN,
    "stream_forget_tombstone" -> streamForgetTombstone,
    "stream_dataset_diff" -> streamDatasetDiff,
    "dataset_diff_close" -> datasetDiffClose,
    "stream_scd_enrich" -> streamScdEnrich
  )

  val oracles: Map[String, String] = Map(
    // batch-invariant complete-mode rollup: the batch oracle verbatim
    // stateless + batch-invariant: the plain batch join over the same
    // exact-integer effective intervals
    "stream_scd_enrich" ->
      """WITH mm AS (SELECT min(epoch_ns(ts)) AS lo, max(epoch_ns(ts)) AS hi,
        |    min(epoch_ns(ts)) + (max(epoch_ns(ts)) - min(epoch_ns(ts))) // 2 AS mid
        |  FROM events),
        |dim AS (
        |  SELECT c_custkey, lo AS eff_start, mid AS eff_end,
        |    c_mktsegment || '#v1' AS segment FROM customer, mm
        |  UNION ALL
        |  SELECT c_custkey, mid, hi + 1, c_mktsegment || '#v2' FROM customer, mm)
        |SELECT e.event_id, e.user_id, d.segment
        |FROM events e JOIN dim d ON e.user_id = d.c_custkey
        |  AND epoch_ns(e.ts) >= d.eff_start AND epoch_ns(e.ts) < d.eff_end
        |ORDER BY event_id""".stripMargin,
    "stream_encoding_hygiene" -> LlmQueries.sqlEncodingHygiene,
    // stateless narrow transform: batch ≡ stream by construction — shared oracle
    "stream_span_corruption" -> LlmQueries.oracles("span_corruption"),
    // stateless scan-side prep: the batch oracle verbatim
    "stream_sft_examples" -> LlmQueries.oracles("sft_examples"),
    "stream_dpo_pairs" -> LlmQueries.oracles("dpo_pairs"),
    // the ingest twin shares the batch oracle verbatim — any
    // batch/stream divergence in a reward term or the margin filter
    // hash-fails
    "stream_rm_pairs" -> LlmQueries.oracles("rm_pairs_from_n"),
    "stream_best_of_n" -> LlmQueries.oracles("best_of_n_select"),
    // the removed rows only — the snapshot-cut close of the ingest
    // diff; union with stream_dataset_diff reconstructs dataset_diff
    "dataset_diff_close" ->
      s"""WITH t AS (SELECT doc_id, text,
         |    ${LlmQueries.hx60("md5('snap:' || CAST(doc_id AS VARCHAR))")} % 4 AS b
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT doc_id, 'removed' AS status, md5(text) AS a_md5,
         |  CAST(NULL AS VARCHAR) AS b_md5
         |FROM t WHERE b = 0 ORDER BY doc_id""".stripMargin,
    // the batch diff MINUS its removed rows (absence has no arrival
    // event on a stream) — otherwise column-for-column identical
    "stream_dataset_diff" ->
      s"""WITH t AS (SELECT doc_id, text,
         |    ${LlmQueries.hx60("md5('snap:' || CAST(doc_id AS VARCHAR))")} % 4 AS b
         |  FROM documents WHERE text IS NOT NULL),
         |a AS (SELECT doc_id, md5(text) AS a_md5 FROM t WHERE b < 3),
         |bs AS (SELECT doc_id,
         |    md5(CASE WHEN b = 2 THEN text || ' [v2]' ELSE text END) AS b_md5
         |  FROM t WHERE b >= 1)
         |SELECT bs.doc_id,
         |  CASE WHEN a.doc_id IS NULL THEN 'added'
         |       WHEN a.a_md5 <> bs.b_md5 THEN 'changed'
         |       ELSE 'unchanged' END AS status,
         |  a_md5, b_md5
         |FROM bs LEFT JOIN a ON a.doc_id = bs.doc_id
         |ORDER BY bs.doc_id""".stripMargin,
    // the full state machine replayed closed-form: live before event e
    // iff an ingest landed after the last forget before e — two
    // running-max windows over the derived event log
    "stream_forget_tombstone" ->
      s"""WITH docs AS (SELECT doc_id, md5(lower(text)) AS ch,
         |    (${LlmQueries.hx60("md5('forget:' || CAST(doc_id AS VARCHAR))")} % 200 = 0) AS f
         |  FROM documents WHERE text IS NOT NULL),
         |ev AS (
         |  SELECT ch, doc_id, doc_id * 4 AS seq, 0 AS op FROM docs
         |  UNION ALL SELECT ch, doc_id, doc_id * 4 + 1, 1 FROM docs WHERE f
         |  UNION ALL SELECT ch, doc_id, doc_id * 4 + 2, 0 FROM docs WHERE f),
         |w AS (SELECT *,
         |    max(CASE WHEN op = 1 THEN seq END) OVER (PARTITION BY ch ORDER BY seq
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lf,
         |    max(CASE WHEN op = 0 THEN seq END) OVER (PARTITION BY ch ORDER BY seq
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS li
         |  FROM ev)
         |SELECT ch AS content_hash, CAST(seq AS BIGINT) AS seq, doc_id,
         |  CASE WHEN op = 0 THEN
         |    CASE WHEN li IS NOT NULL AND li > COALESCE(lf, -1) THEN 'dup' ELSE 'kept' END
         |  ELSE
         |    CASE WHEN li IS NOT NULL AND li > COALESCE(lf, -1) THEN 'forgotten' ELSE 'noop' END
         |  END AS action
         |FROM w ORDER BY content_hash, seq""".stripMargin,
    // batch-invariant by construction: pair (i, j), i < j, emitted iff
    // both band to one bucket, i is among the bucket's first 1000
    // arrivals (the probe-then-add-if-room state cap => a ROW_NUMBER
    // rank over doc_id order), and est >= 0.3 (an exact dyadic
    // rational — eq/32 — so the cut is bit-identical in both engines).
    // Reuses the minhash CTE block shared with the batch dedup family.
    "stream_neardup_stateful" ->
      s"""WITH ${LlmQueries.minhashCtes},
         |rk AS (SELECT doc_id, sig, bucket,
         |    row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn FROM bk)
         |SELECT a.bucket, a.doc_id AS cand_id, b.doc_id AS probe_id,
         |  CAST(len(list_filter(range(1, 33), i -> a.sig[i] = b.sig[i])) AS DOUBLE) / 32
         |    AS est_jaccard
         |FROM rk a JOIN rk b ON a.bucket = b.bucket AND a.doc_id < b.doc_id AND a.rn <= 1000
         |WHERE CAST(len(list_filter(range(1, 33), i -> a.sig[i] = b.sig[i])) AS DOUBLE) / 32 >= 0.3
         |ORDER BY probe_id, a.bucket, cand_id""".stripMargin,
    // stateless probe is batch-invariant: the oracle replays the whole
    // minhash/band pipeline (the CTE block SHARED with the batch dedup
    // family) plus the md5 hash-bucket corpus/batch split and the
    // corpus-side hot-bucket cap
    "stream_neardup_probe" ->
      s"""WITH ${LlmQueries.minhashCtes},
         |bkt AS (SELECT doc_id,
         |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
         |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS hb
         |  FROM documents),
         |corp AS (SELECT bk.doc_id, bk.sig, bk.bucket
         |  FROM bk JOIN bkt USING (doc_id) WHERE bkt.hb >= 13),
         |okbc AS (SELECT bucket FROM (SELECT bucket, count(*) AS n FROM corp GROUP BY bucket)
         |  WHERE n <= 1000),
         |probe AS (SELECT bk.doc_id, bk.sig, bk.bucket
         |  FROM bk JOIN bkt USING (doc_id) WHERE bkt.hb < 13)
         |SELECT probe_id, bucket, cand_id, est_jaccard FROM (
         |  SELECT p.doc_id AS probe_id, p.bucket AS bucket, c.doc_id AS cand_id,
         |    CAST(len(list_filter(range(1, 33), i -> p.sig[i] = c.sig[i])) AS DOUBLE) / 32 AS est_jaccard
         |  FROM probe p JOIN corp c ON p.bucket = c.bucket JOIN okbc ON c.bucket = okbc.bucket)
         |WHERE est_jaccard >= 0.3
         |ORDER BY probe_id, bucket, cand_id""".stripMargin,
    // stateless enrichment is batch-invariant: the oracle is the plain
    // inner join (user_id ∈ customer keys at every sf)
    "stream_static_enrich" ->
      """SELECT e.event_id, e.user_id, e.event_type,
        |  c.c_nationkey AS nation_key, c.c_mktsegment AS segment
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY event_id""".stripMargin,
    // gaps-and-islands replay of the session merge (break strictly
    // beyond the gap — the NON-strict merge rule SessionWindowSpec
    // pins), emitted iff end <= final watermark (NON-strict emission,
    // same spec), all in exact integer seconds
    "stream_session_windows" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS sec FROM events),
        |l AS (SELECT user_id, sec,
        |    lag(sec) OVER (PARTITION BY user_id ORDER BY sec) AS prev FROM e),
        |b AS (SELECT user_id, sec,
        |    CASE WHEN prev IS NULL OR sec - prev > 43200 THEN 1 ELSE 0 END AS brk FROM l),
        |g AS (SELECT user_id, sec,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY sec
        |      ROWS UNBOUNDED PRECEDING) AS grp FROM b),
        |sess AS (SELECT user_id, min(sec) AS start_sec,
        |    max(sec) + 43200 AS end_sec, count(*) AS n_events
        |  FROM g GROUP BY user_id, grp),
        |wm AS (SELECT max(sec) - 172800 AS w FROM e)
        |SELECT user_id, start_sec, end_sec, n_events FROM sess, wm
        |WHERE end_sec <= w ORDER BY user_id, start_sec""".stripMargin,
    // matches = the batch left join's matches; null-extended rows only
    // for clicks whose match window END is strictly before the final
    // global watermark (min of both sides' max event second − 48 h) —
    // the eviction rule, replayed in exact integer seconds
    "stream_leftjoin_clicks_errors" ->
      """WITH c AS (SELECT user_id, event_id AS click_id,
        |    epoch_ns(ts) // 1000000000 AS c_sec FROM events WHERE event_type = 'click'),
        |e AS (SELECT user_id AS e_user, event_id AS error_id,
        |    epoch_ns(ts) // 1000000000 AS e_sec FROM events WHERE event_type = 'error'),
        |wm AS (SELECT least((SELECT max(c_sec) FROM c), (SELECT max(e_sec) FROM e))
        |    - 48 * 3600 AS wm_sec),
        |j AS (SELECT c.user_id, c.click_id, c.c_sec, e.error_id, e.e_sec - c.c_sec AS lag_sec
        |  FROM c LEFT JOIN e ON c.user_id = e.e_user
        |    AND e.e_sec >= c.c_sec AND e.e_sec <= c.c_sec + 3600)
        |SELECT user_id, click_id,
        |  CAST(coalesce(error_id, -1) AS BIGINT) AS error_id,
        |  CAST(coalesce(lag_sec, -1) AS BIGINT) AS lag_sec
        |FROM j, wm
        |WHERE error_id IS NOT NULL OR c_sec + 3600 < wm_sec
        |ORDER BY user_id, click_id, error_id""".stripMargin,
    // no row is late in the event_id-ordered fixture, so the emitted
    // stream-stream match set equals the batch join, replayed in the
    // same exact integer µs the watermark columns use
    "stream_join_clicks_errors" ->
      """WITH c AS (SELECT user_id, event_id AS click_id,
        |    epoch_ns(ts) // 1000 AS c_us FROM events WHERE event_type = 'click'),
        |e AS (SELECT user_id AS e_user, event_id AS error_id,
        |    epoch_ns(ts) // 1000 AS e_us FROM events WHERE event_type = 'error')
        |SELECT user_id, click_id, error_id, e_us - c_us AS lag_us
        |FROM c JOIN e ON user_id = e_user
        |  AND e_us >= c_us AND e_us <= c_us + 3600000000
        |ORDER BY user_id, click_id, error_id""".stripMargin,
    // same recursive-CTE replay as the batch balance scans, ordered by
    // event_id (the stream's delivery order)
    "stream_group_scan_balance" ->
      """WITH RECURSIVE seq AS (
        |  SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY event_id) AS vals,
        |         list(event_id ORDER BY event_id) AS eids
        |  FROM events GROUP BY user_id),
        |r AS (
        |  SELECT user_id, vals, eids, 0 AS i, CAST(0.0 AS DOUBLE) AS acc FROM seq
        |  UNION ALL
        |  SELECT user_id, vals, eids, i + 1,
        |    CASE WHEN acc + vals[i + 1] <= 1000.0 THEN acc + vals[i + 1] ELSE acc END
        |  FROM r WHERE i < len(vals))
        |SELECT user_id, eids[i] AS event_id, acc AS balance
        |FROM r WHERE i >= 1
        |ORDER BY user_id, i""".stripMargin,
    // the same recursive-CTE fold, final state only (i == len): the
    // cross-batch carry is what makes Spark's answer match — a
    // state-per-batch restart would diverge on the first capped user
    "stream_multibatch_balance" ->
      """WITH RECURSIVE seq AS (
        |  SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY event_id) AS vals
        |  FROM events GROUP BY user_id),
        |r AS (
        |  SELECT user_id, vals, 0 AS i, CAST(0.0 AS DOUBLE) AS acc FROM seq
        |  UNION ALL
        |  SELECT user_id, vals, i + 1,
        |    CASE WHEN acc + vals[i + 1] <= 1000.0 THEN acc + vals[i + 1] ELSE acc END
        |  FROM r WHERE i < len(vals))
        |SELECT user_id, acc AS balance FROM r WHERE i = len(vals)
        |ORDER BY user_id""".stripMargin,
    // every update-mode emission replayed: per (user, bucket-with-rows),
    // the cumulative count + exact decimal sum over buckets <= b, using
    // the identical bucket formula the fixture spill used
    "stream_incremental_totals" ->
      """WITH mx AS (SELECT max(event_id) AS m FROM events),
        |e AS (SELECT user_id, value,
        |    CAST(floor(event_id * 4 / (m + 1.0)) AS INT) AS b FROM events, mx),
        |g AS (SELECT user_id, b, count(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS sm FROM e GROUP BY user_id, b),
        |c AS (SELECT user_id,
        |    sum(n) OVER w AS n_events, sum(sm) OVER w AS total_dec
        |  FROM g WINDOW w AS (PARTITION BY user_id ORDER BY b))
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(CAST(ROUND(total_dec, 2) AS DECIMAL(30,2)) AS DOUBLE) AS total
        |FROM c ORDER BY user_id, n_events""".stripMargin,
    // batch replay of the watermarked tumbling-window aggregation: for a
    // terminated stream, append mode has emitted exactly the windows
    // whose end <= final watermark (max second-truncated event time −
    // 1 h). The <= boundary was pinned empirically: a window [0, 3600)
    // IS emitted when the watermark lands exactly on 3600.
    "stream_windowed_counts" ->
      """WITH e AS (SELECT epoch_ns(ts) // 1000000000 AS sec, event_type FROM events),
        |w AS (SELECT (sec // 3600) * 3600 AS window_start, event_type, count(*) AS n
        |  FROM e GROUP BY 1, 2),
        |mx AS (SELECT max(sec) - 3600 AS wm FROM e)
        |SELECT window_start, event_type, n FROM w, mx
        |WHERE window_start + 3600 <= wm
        |ORDER BY window_start, event_type""".stripMargin,
    // streaming dropDuplicates state == the batch distinct set; n_bytes
    // is shared by every member of a duplicate group, so the projection
    // is arrival-order-independent
    "stream_dedup_docs" ->
      """SELECT DISTINCT md5(lower(text)) AS content_hash,
        |  octet_length(encode(text)) AS n_bytes
        |FROM documents ORDER BY content_hash""".stripMargin,
    // the distinct perceptual-fingerprint set: pixels, dHash bits, and
    // the signature replayed — arrival order can never change a SET
    // the batch distinct-fingerprint set: the audio sample/energy/bit
    // chain shared with media_audio_dedup, reduced to DISTINCT sigs
    "stream_audio_dedup" ->
      s"""WITH sd AS (SELECT doc_id,
         |    CAST(200 + (doc_id // 8) % 57 AS BIGINT) AS n,
         |    (doc_id // 8) % 56 AS nf
         |  FROM documents),
         |s AS (SELECT doc_id, (k * 57) // n AS f,
         |    ((CASE WHEN (k * 57) // n = nf THEN ${LlmQueries.hx60("md5('audn:' || CAST(doc_id AS VARCHAR))")}
         |        ELSE ${LlmQueries.hx60("md5('aud:' || CAST(doc_id // 8 AS VARCHAR) || ':' || CAST((k * 57) // n AS VARCHAR))")}
         |      END + k * 104729)
         |      % 65536 + 65536) % 65536 - 32768 AS v
         |  FROM sd, unnest(range(0, n)) t(k)),
         |e AS (SELECT doc_id, f, CAST(sum(abs(v)) AS BIGINT) AS en,
         |    CAST(count(*) AS BIGINT) AS cnt FROM s GROUP BY doc_id, f),
         |bits AS (SELECT a.doc_id, a.f,
         |    CASE WHEN a.en * b.cnt > b.en * a.cnt THEN '1' ELSE '0' END AS bit
         |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.f = a.f + 1 WHERE a.f < 56),
         |sg AS (SELECT doc_id, string_agg(bit, '' ORDER BY f) AS sig FROM bits GROUP BY doc_id)
         |SELECT DISTINCT sig FROM sg ORDER BY sig""".stripMargin,
    "stream_media_dedup" ->
      s"""WITH px AS (SELECT doc_id, x, y,
         |    1 + CAST((${LlmQueries.hx60("md5('img:' || CAST(doc_id // 8 AS VARCHAR) || ':' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR))")} % 126 +
         |      CASE WHEN x = doc_id % 8 AND y = (doc_id // 8) % 8
         |        THEN 63 ELSE 0 END) % 126 AS INT) AS g
         |  FROM documents, unnest(range(0, 8)) tx(x), unnest(range(0, 8)) ty(y)),
         |bits AS (SELECT a.doc_id, a.y, a.x, CASE WHEN b.g > a.g THEN '1' ELSE '0' END AS bit
         |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
         |  WHERE a.x < 7),
         |sg AS (SELECT doc_id, string_agg(bit, '' ORDER BY y, x) AS sig FROM bits GROUP BY doc_id)
         |SELECT DISTINCT sig FROM sg ORDER BY sig""".stripMargin,
    // the batch distinct-majority-signature set: the video pixel /
    // per-frame-bit / majority-vote chain shared with media_video_dedup,
    // reduced to DISTINCT sigs (arrival order can never change a set)
    "stream_video_dedup" ->
      s"""WITH px AS MATERIALIZED (SELECT doc_id, k, x, y,
         |    1 + CAST((${LlmQueries.hx60("md5('vid:' || CAST(doc_id // 8 AS VARCHAR) || ':' || CAST(k AS VARCHAR) || ':' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR))")} % 126 +
         |      CASE WHEN k = (doc_id // 8) % 5 AND x = (doc_id // 8) % 8
         |          AND y = ((doc_id // 8) // 8) % 8
         |        THEN ${LlmQueries.hx60("md5('vidn:' || CAST(doc_id AS VARCHAR))")} % 126 ELSE 0 END) % 126 AS INT) AS g
         |  FROM documents, unnest(range(0, 5)) tk(k),
         |    unnest(range(0, 8)) tx(x), unnest(range(0, 8)) ty(y)),
         |fb AS (SELECT a.doc_id, a.k, a.y, a.x,
         |    CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
         |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.k = a.k
         |    AND b.y = a.y AND b.x = a.x + 1
         |  WHERE a.x < 7),
         |mj AS (SELECT doc_id, y, x,
         |    CASE WHEN 2 * sum(bit) > count(*) THEN '1' ELSE '0' END AS mb
         |  FROM fb GROUP BY doc_id, y, x),
         |sg AS (SELECT doc_id, string_agg(mb, '' ORDER BY y, x) AS sig FROM mj GROUP BY doc_id)
         |SELECT DISTINCT sig FROM sg ORDER BY sig""".stripMargin,
    // the batch distinct KEY-PAIR set: caption words → shingles →
    // remix → signature → md5 witness, pixels → dHash — both replayed
    "stream_caption_dedup" ->
      s"""WITH capdocs AS (SELECT doc_id,
         |    array_to_string(list_transform(range(0, 32), cwi ->
         |      CASE WHEN cwi < 30
         |        THEN 'w' || CAST(${LlmQueries.hx60("md5('cap:' || CAST(doc_id // 8 AS VARCHAR) || ':' || CAST(cwi AS VARCHAR))")} % 1000 AS VARCHAR)
         |        ELSE 'n' || CAST(${LlmQueries.hx60("md5('capn:' || CAST(doc_id AS VARCHAR) || ':' || CAST(cwi AS VARCHAR))")} % 1000 AS VARCHAR)
         |      END), ' ') AS text
         |  FROM documents),
         |${LlmQueries.minhashCtesOver("capdocs")},
         |px AS (SELECT doc_id, x, y,
         |    1 + CAST((${LlmQueries.hx60("md5('img:' || CAST(doc_id // 8 AS VARCHAR) || ':' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR))")} % 126 +
         |      CASE WHEN x = doc_id % 8 AND y = (doc_id // 8) % 8
         |        THEN 63 ELSE 0 END) % 126 AS INT) AS g
         |  FROM documents, unnest(range(0, 8)) tx(x), unnest(range(0, 8)) ty(y)),
         |ibits AS (SELECT a.doc_id, a.y, a.x, CASE WHEN b.g > a.g THEN '1' ELSE '0' END AS bit
         |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
         |  WHERE a.x < 7),
         |isg AS (SELECT doc_id, string_agg(bit, '' ORDER BY y, x) AS isig
         |  FROM ibits GROUP BY doc_id)
         |SELECT DISTINCT md5(array_to_string(t.sig, ',')) AS tsig_md5, i.isig
         |FROM sigt t JOIN isg i ON i.doc_id = t.doc_id
         |ORDER BY tsig_md5, isig""".stripMargin,
    // the streaming probe equals the batch ivf by construction (same
    // index, same routing rule, same ranking) — shared oracle, so any
    // batch/stream divergence hash-fails rather than drifting
    "stream_ann_ivf_probe" -> LlmQueries.sqlAnnIvf,
    // the frozen-weights apply is batch-equivalent per doc: shared oracle
    "stream_dsir_score" -> LlmQueries.oracles("dsir_score_incremental"),
    // the frozen tokenizer applied at ingest is batch-equivalent per
    // doc: the batch segmentation oracle verbatim
    "stream_unigram_segment" -> LlmQueries.oracles("unigram_segment"),
    // every update-mode counter emission replayed: per (i, bucket,
    // batch-with-instances), the cumulative count over batches <= b —
    // the identical bucket formula the fixture spill used, the
    // identical cms hash the batch gate pins
    "stream_cms_matrix" ->
      s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |d AS (SELECT doc_id, text,
        |    CAST(floor(doc_id * 4 / (m + 1.0)) AS INT) AS b FROM documents, mx),
        |t AS (SELECT b, unnest(regexp_split_to_array(
        |    trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')),
        |    ' ')) AS token FROM d),
        |t2 AS (SELECT b, token FROM t WHERE length(token) > 0),
        |inst AS (SELECT b, CAST(i AS INT) AS i,
        |    ${LlmQueries.hx60("md5('cms:' || CAST(i AS VARCHAR) || ':' || token)")} % 256 AS bucket
        |  FROM t2, range(0, 4) r(i)),
        |g AS (SELECT b, i, bucket, count(*) AS c FROM inst GROUP BY b, i, bucket),
        |cum AS (SELECT i, bucket,
        |    CAST(sum(c) OVER (PARTITION BY i, bucket ORDER BY b) AS BIGINT) AS c
        |  FROM g)
        |SELECT i, bucket, c FROM cum ORDER BY i, bucket, c""".stripMargin,
    // the stream writes, the batch read sees only committed files, the
    // oracle never sees either — it rolls up the parquet originals
    "stream_sink_jsonl" -> LlmQueries.sqlExportRollup,
    // same rollup split by the recomputed disposition rule: a match
    // proves routing AND framing survived the partitioned sink
    "stream_quality_router" ->
      s"""WITH a AS (SELECT source, n_chars,
         |    CASE WHEN ${LlmQueries.sqlQualityExpr} >= 0.8
         |      THEN 'accept' ELSE 'reject' END AS disposition,
         |    ${LlmQueries.hx60("md5(CAST(doc_id AS VARCHAR) || chr(1) || text || chr(1) || lang)")} AS h60
         |  FROM documents)
         |SELECT disposition, source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  bit_xor(h60) AS content_xor
         |FROM a GROUP BY disposition, source
         |ORDER BY disposition, source""".stripMargin,
    // the stream only APPLIES the trained artifact; the oracle replays
    // training + encoding + the rollup from the parquet alone
    "stream_bpe_token_budget" ->
      (s"WITH ${BpeOracle.trainCtes},\n" +
       """nt AS (SELECT e.doc_id, len(e.ts) AS n, d.source
         |  FROM enc e JOIN documents d USING (doc_id))
         |SELECT source, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens
         |FROM nt GROUP BY source ORDER BY source""".stripMargin),
    // watermark (1000 h) > data span (720 h) => no late drops: the
    // emitted set is the exact batch DISTINCT of the dedup key
    "stream_dedup_watermarked" ->
      """SELECT DISTINCT user_id, event_type,
        |  epoch_ns(ts) // 1000000000 // 3600 * 3600 AS hour_start
        |FROM events ORDER BY user_id, event_type, hour_start""".stripMargin
  )
}
