package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10× SCALE PROBE — turns the 100 TB story from "the plan looks right"
  * into "the plan demonstrably scales": synthesizes a deterministic
  * 10×-sf0.1 dataset and times the flagship operators at both scales.
  * Near-linear behavior (t_10x / t_base ≲ ~12, output rows ×10) is the
  * acceptance bar recorded in SCALE.md.
  *
  * Synthesis is REPLICATION WITH DECORRELATION, not naive duplication:
  *  - `orders` / `lineitem`: each copy `i` offsets every key
  *    (orderkey, custkey) by `i · 2^32`, so per-customer structure —
  *    order counts, date patterns, skew shape — is preserved exactly
  *    while the copies never join each other. Group-key cardinality
  *    grows 10×; rows per group stay constant, exactly how a bigger
  *    tenant population scales.
  *  - `documents`: `doc_id` offsets PLUS a per-copy character rotation
  *    of the text (a bijection on the alphabet): intra-copy shingle
  *    Jaccard is preserved bit-for-bit (planted near-dup structure
  *    survives), while cross-copy shingle overlap drops to ~0. Naive
  *    text duplication would instead make every doc a 10-way near-dup
  *    cluster — candidate pairs ×45, measuring output explosion (an
  *    analytic property) rather than scan/shuffle scaling (the plan
  *    property under test). Char rotation preserves string length, so
  *    `n_chars` stays valid.
  *
  * Usage: `sbt "runMain graft.ScaleProbe [baseDir] [copies]"` with
  * SPARK_GRAFT_CPUS (default 4). Prints one `SCALE\t...` TSV line per
  * query: name, base seconds, 10× seconds, ratio, base rows, 10× rows.
  * Timing mirrors Bench: noop sink (all output columns computed),
  * min of SPARK_GRAFT_BENCH_REPS (default 2) warm reps.
  */
object ScaleProbe {

  /** Flagship operators probed at both scales — the operators whose
    * 100 TB claims rest on partitioning/shuffle shape (VERDICT r7 §1). */
  val flagship: Seq[String] = Seq(
    "scan_running_max",
    "group_scan_cummax_salted",
    "topk_orders_per_cust",
    "asof_large_order",        // unsalted twin: the salted-vs-plain comparison at scale
    "asof_large_order_salted",
    "concurrent_orders",
    "winsorized_quantity",
    "dedup_minhash",
    "pack_sequences",
    // round 8: broadcast eval-gram probe, vocabulary-bound df join,
    // RANGE-frame rolling window — each a distinct shuffle shape
    "decontaminate_docs",
    "distinctive_terms",
    "rolling_revenue_7d",
    // round 9: span-df corpus shuffle + doc-local reconstruction;
    // minhash grouping + component-keyed argmax; instance⋈vocab join
    "boilerplate_removal",
    "dedup_keep_best",
    "unigram_logfreq_score",
    "cross_source_leakage",
    "vocab_coverage",
    "pipeline_disposition",
    "unigram_logfreq_hybrid",
    // round 9b: the O(partitions·d²) moment shuffle, the vocab-bounded
    // pair explosion, and the distinct-value-bounded percentile state —
    // three different "corpus grows, shuffle doesn't" claims
    "embedding_moments",
    "bpe_pair_stats",
    "quality_deciles_per_source",
    // round 11: bounded-sample training + narrow scan-side routing
    // (trained IVF/PQ), broadcast banded eval probe (semantic decon),
    // and the pure narrow multimodal map
    "ann_ivf_trained",
    "ann_pq_trained",
    "decontaminate_semantic",
    "media_resize",
    // round 12: the window-hash + doc-keyed island merge, and the
    // cluster-keyed pairwise of SemDeDup (fixed k=4 here — the probe
    // SHOWS the cᵢ² growth the k ∝ n dial exists to cancel; the k-dial
    // measurement is recorded separately in SCALE.md)
    "dedup_substring_spans",
    "dedup_semantic",
    // round 12b: the bigram instance⋈counts joins (corpus-proportional
    // like the unigram rung but on the larger pair vocabulary), the
    // candidate-proportional estimator audit, and the span-island
    // rollup (one extra doc-keyed aggregate over the spans plan)
    "bigram_logprob_score",
    "minhash_est_error",
    "dedup_substring_budget",
    // round 12d: the full tokenize→encode→pack chain (training on the
    // probe corpus's own vocabulary, encode scan-side, pack-keyed agg)
    "bpe_encode",
    "pack_payload_bpe",
    // round 13: the bucketed-index probe (index write amortized, probe
    // candidate-sized), the once-per-distinct-pass epoch rank, the
    // narrow hygiene map, and the documented sequential-parity packer
    // (the one operator EXPECTED to scale with corpus size on one
    // core — its 100 TB shape is per-shard)
    "ann_ivf_persisted",
    "mixture_epoch_sample",
    "encoding_hygiene",
    "pack_sequences_ffd",
    "pack_sequences_ffd_sharded",
    "ann_ivf_persisted_append",
    "dedup_semantic_incremental",
    // round 15: the four-stage drop rollup (shares the disposition
    // DAG), the component-keyed split (the minhash+CC chain plus one
    // narrow map), and the byte-mode encode (narrow compute map like
    // bpe_encode but over hex-pair symbols)
    "pipeline_drop_report",
    "split_leakage_safe",
    "bpe_encode_bytes",
    // quantized BM25: the tf index build is the corpus pass; query
    // side broadcasts; candidate volume tracks Σ df over query terms
    "bm25_topk",
    // stage 2 broadcasts k·|queries| candidates against the embedding
    // scan — its cost must stay flat as the corpus grows
    "hybrid_rerank",
    // the production probe path: rep 1 pays the one-time bucketed
    // index write, the timed min reflects the index-only probe
    "bm25_topk_persisted",
    // round 16: the df-ceiling cut must stay query-side (its cost
    // tracks surviving-term df, not the corpus); the skew-capped
    // SemDeDup pairs only bounded clusters (the capped giant cluster
    // is exactly the work that must NOT grow quadratically at 10×)
    "bm25_topk_maxdf",
    "dedup_semantic_skew",
    // round 16b: the DSIR gram stream (one tokenized scan, a 1024-row
    // broadcast weight table — the hashed histogram must stay
    // bucket-sized as the corpus grows) and the appended BM25 index
    // (rep 1 pays the build+append write; the timed min is the probe,
    // which must stay flat like the build-once persisted form)
    "dsir_importance_sample",
    "bm25_topk_incremental",
    // the sketch's whole claim: the counter matrix stays depth·width
    // rows as the corpus grows — cost must track the scan, state must
    // not grow at all
    "cms_heavy_hitters",
    // the iterative profile: 8 × (edge⋈rank + dst-keyed agg) over the
    // LSH-capped candidate graph — rounds ride the BOUNDED edge list,
    // so growth must track pair volume, not corpus size
    "dedup_keep_central",
    // the billion-vector layout: routing bounds candidates AND codes
    // bound bytes — cost must track the probed fraction of codes, and
    // no raw vector may shuffle
    "ann_ivf_pq",
    // the frozen-weights apply path: rep 1 pays the fit+persist; the
    // timed min is one narrow gram pass + an nBuckets-row broadcast —
    // the training corpus must never be rescanned
    "dsir_score_incremental",
    // sketched join-size estimation: cost = the two key scans; the
    // matrices and the inner product stay depth·width at any |table|
    "cms_join_estimate",
    // the tar shard export: rep 1 pays the archive write (the
    // partition-parallel rewrite), the timed min is the distributed
    // read-back walk — both must track bytes, not doc count
    "export_tar_roundtrip",
    // round 16c: the iterative coreset profile — 5 × (compiled-argmin
    // narrow scan + TakeOrdered(1)); per-round cost tracks the scan,
    // cross-round state is six vectors
    "select_kcenter",
    // stage 1 is the broadcast-query corpus scan into GroupTopK; the
    // greedy stage 2 rides the BOUNDED candidate frame — 10× corpus
    // must grow only the scan, never the per-query quadratic
    "retrieval_mmr",
    // both gram streams grow with the corpus (the honest linear op)
    // but the probe join shuffles (id, h) pairs only, never text
    "novelty_score",
    // narrow assignment + map-side-pruned quota: output stays
    // quota·k rows however large the corpus grows
    "cluster_balanced_sample",
    // round 16d: boundary pass is value-histogram-sized; the position
    // window partitions by (phase, shard) — 10× corpus must grow the
    // scan and the per-partition sort, never a single-partition sort
    "curriculum_order",
    // vocab-sized first-seen min-aggregate + a 10-row broadcast
    // ≤-join: the only corpus-proportional stage is the tokenize scan
    "vocab_growth_curve",
    // stage 1 is the broadcast-query corpus scan into GroupTopK (the
    // retrieval_mmr profile); margin cut + re-rank ride the bounded
    // candidate frame
    "hard_negatives",
    // two per-dim partial-agg shuffles (O(partitions·d) rows each) +
    // a d-row broadcast — state must stay dimension-sized at 10×
    "embedding_int8_quantize",
    // doc⋈assignment join BEFORE tokenize (ids cross the wire, tokens
    // don't); both count aggregates vocab-bounded
    "cluster_topic_terms",
    // pure narrow map: strip + counts + ppm, no shuffle at any scale
    "html_extract",
    // cut discovery is scan-side O(len) md5s per doc (the algorithm's
    // honest cost); the shuffle carries (hash, partials) only — 10×
    // corpus must grow the scan linearly, never the shuffle shape
    "dedup_cdc_chunks",
    // day-2 CDC: rep 1 pays the one-time bucketed chunk-hash index
    // write; the timed min is the batch chunk scan + zero-Exchange
    // index probe (plan-pinned)
    "dedup_cdc_incremental",
    // both sides code through a d-length literal scale vector (driver
    // artifact): the corpus pass is a narrow coded scan into GroupTopK
    "ann_int8",
    // per-source histogram boundaries + a broadcast 9-boundary apply:
    // the shuffle is (source × distinct-score)-sized at any corpus
    "quality_normalized",
    // the plan is metadata-sized: one manifest aggregate (nShards rows)
    // + a 64-row sequential FFD — 10× corpus must change NOTHING but
    // the manifest scan
    "compaction_plan",
    // round 17: the per-partition planner — the manifest FFD-packs
    // in parallel per source (no SinglePartition exchange, plan-
    // pinned); 10× corpus grows the manifest scan only, and the pack
    // stage stays flat in shard count
    "compaction_plan_sharded",
    // image near-dup: synth+decode+dHash are one narrow scan; the one
    // corpus exchange carries (id, 56-bit sig) per band — pair volume
    // rides bucket sizes (capped), never corpus²
    "media_dedup_features",
    // day-2 image dedup: rep 1 pays the one-time bucketed signature
    // index write; the timed min is the batch decode + zero-Exchange
    // band probe (plan-pinned)
    "media_dedup_incremental",
    // pairs + pointer-jumping CC + keep rule: rounds ride the bounded
    // pair graph (the dedup_keep_central iterative profile)
    "media_dedup_clusters",
    // the id round trip is a narrow per-word compute map (structural
    // byte ids, no vocab-map scans — the r17 8.5× lesson); cost must
    // track the token stream linearly
    "bpe_decode_roundtrip",
    // denoising data prep: tokenize + per-block hash + assemble, one
    // narrow map — no shuffle at any corpus size
    "span_corruption",
    // one tokenize scan + a |sources|-row aggregate: the report must
    // track the scan, never the vocabulary
    "bpe_fertility_by_source",
    // four bounded aggregates unioned: the card must track the scans,
    // never a row explosion
    "dataset_card",
    // train + confuse in one declarative plan: two scans' worth of
    // bounded aggregates at any corpus size
    "quality_classifier_confusion",
    // round 18: the tensor-ready layout rides the packer's one shard
    // shuffle (kernel-emitted seq/offset, plan-pinned no-Window); the
    // 2048-slot expansion runs over BIN rows, so 10× corpus grows the
    // scan and the bin count linearly, never a slot² term
    "pack_sequences_layout",
    // SFT prep: derive + splice + mask is one narrow map, no shuffle
    // at any corpus size (the span_corruption profile)
    "sft_examples",
    // the SFT endpoint: examples -> packer's shard shuffle -> doc-keyed
    // sup join -> bin rollup; bins grow linearly, windows stay 256
    "sft_packed_layout",
    // audio near-dup: synth+parse+fingerprint narrow; the one corpus
    // exchange carries (id, 56-bit sig) per band — the image family's
    // scale shape on the PCM path
    "media_audio_dedup",
    // day-2 audio dedup: rep 1 pays the one-time bucketed fingerprint
    // index write; the timed min is the batch scan + zero-Exchange
    // band probe (plan-pinned)
    "media_audio_dedup_incremental",
    // video near-dup: GIF encode/decode narrow; ONE doc-keyed majority
    // shuffle of (id, sig) + the band exchange — pair volume rides
    // fixed-size clusters, never corpus²
    "media_video_dedup",
    // day-2 video dedup: rep 1 pays the bucketed majority-signature
    // index write; the timed min is the batch codec chain + the
    // zero-Exchange band probe (plan-pinned)
    "media_video_dedup_incremental",
    // unigram-vs-BPE fertility: training is two bounded collects
    // (the bpe_encode profile); the report is one tokenize scan per
    // tokenizer with a |sources|-row aggregate
    "unigram_fertility",
    // exact piece boundaries per doc: one narrow closure DP with
    // vocab-sized state (the bpe_encode shape)
    "unigram_segment",
    // preference pairs: two template splices in one narrow map, no
    // shuffle at any corpus size (the sft_examples profile)
    "dpo_pairs",
    // round 19: the DPO endpoint — pair units ride the packer's one
    // shard shuffle with carry columns (no join-back, plan-pinned);
    // bins grow linearly, windows stay 256
    "dpo_packed_layout",
    // cross-modal joint near-dup: caption MinHash + image dHash are
    // scan-side; the one exchange carries 32 composite band keys per
    // doc — pair volume rides fixed-size clusters, never corpus²
    "media_caption_dedup",
    // two trainings = four bounded collects; the sweep report is two
    // narrow tokenize scans with |sources|-row aggregates
    "unigram_fertility_sweep",
    // day-2 cross-modal: rep 1 pays the composite-key index write;
    // the timed min is the batch dual-signature scan + zero-Exchange
    // composite probe (plan-pinned)
    "media_caption_dedup_incremental",
    // round 20: the forget twins — the broadcast anti-join mask must
    // cost nothing over the plain day-2 probes at any corpus scale
    "media_forget",
    "media_caption_forget",
    "media_audio_forget",
    "media_video_forget",
    // rejection-sampling prep: rotations + reward rollup + argmax in
    // ONE narrow map — no shuffle at any corpus size
    "best_of_n_select",
    // joint pairs + pointer-jumping CC: rounds ride the bounded pair
    // graph (the media_dedup_clusters iterative profile)
    "media_caption_clusters",
    // two bounded-collect trainings + a vocab-sized broadcast join —
    // the report must stay vocabulary-sized at any corpus scale
    "vocab_transplant",
    // round 19g: the same scored narrow map as best_of_n_select with
    // the opposite-rank pair read — no shuffle at any corpus size
    "rm_pairs_from_n",
    // snapshot diff: two pruned scans pre-hashed to 40-byte rows, one
    // full-outer SMJ — the shuffle must track row COUNT, never text
    "dataset_diff",
    // delete propagation: rides the FFD layout's shard shuffle (the
    // pack_sequences_layout shape) + a scan-side flag; output is only
    // the contaminated bins
    "forget_docs_audit",
    // 2n-row explode + ONE (epoch, shard) exchange with per-shard
    // sorts — a global-sort plan would blow up here; checksums are
    // map-side-partial sums
    "epoch_order_resume",
    // tombstone mask over the persisted IVF index: a broadcast
    // anti-join adds ZERO shuffles to the zero-Exchange probe
    "ann_ivf_forget",
    // the lexical twin: candidates masked, stats stale — rep 1 pays
    // the index build, the timed min is the masked probe
    "bm25_topk_forget",
    // two FFD passes but the second touches ONLY contaminated bins'
    // survivors — cost must track the first layout, never double it
    "forget_rebuild_plan",
    // two CDC chunkings + in-row set ops on the changed slice — one
    // narrow map, no explode, no shuffle at any corpus size
    "dataset_diff_chunks",
    // rep 1 pays the one-time bucketed snapshot write; the timed min
    // is the ingest stream probing it with zero snapshot-side Exchange
    "stream_dataset_diff",
    // the checkpointed flagged layout + the rebuild's second FFD + two
    // persisted-index reads — the report must track the audit's cost,
    // never re-tokenize the corpus
    "forget_pipeline_report",
    // round 20: the window rollup's bin-count-sized partials + the one
    // (epoch, reader-shard) exchange — output fixed at 2×8 rows
    "epoch_order_windows",
    // the post-compaction reader contract: audit/rebuild cost + the
    // same permutation tail — output fixed at 2×8 rows
    "epoch_order_rebuilt",
    // the composed endpoint: the rm-pairs scored map + the
    // pair-affinity packer's shard shuffle, join-free (plan-pinned)
    "rm_pairs_to_dpo",
    // four bounded-collect trainings + a vocab-sized driver diff — the
    // audit must track the corpus scans, never the vocabulary
    "forget_vocab_audit")

  private def rot(s: String, k: Int): String = s.drop(k % s.length) + s.take(k % s.length)

  /** Per-copy text decorrelation: independent rotations of three
    * disjoint alphabet classes — 5 × 10 × 10 = 500 distinct bijections
    * (copy 0 the identity), so up to 500 copies never share a
    * transform. (The first revision rotated only two classes = 20
    * transforms; at 100 copies the collisions made every doc a 5-way
    * exact duplicate and the minhash "scaling" measured output
    * explosion — 1.15M pairs — instead of corpus growth.) */
  private[graft] def remap(text: org.apache.spark.sql.Column, i: Int): org.apache.spark.sql.Column =
    if (i == 0) text
    else translate(text, "aeioubcdfghjklmnpqrstvwxz",
      rot("aeiou", i % 5) + rot("bcdfghjklm", (i / 5) % 10) + rot("npqrstvwxz", (i / 50) % 10))

  /** Key offset per copy: 2^32 keeps every offset key far from every
    * base key (base keys < 2^31) and far from Long overflow. */
  private[graft] val KeyOff = 1L << 32

  def synthesize(s: SparkSession, baseDir: String, outDir: String, copies: Int): Unit = {
    def tenfold(name: String, f: (DataFrame, Int) => DataFrame): Unit = {
      val base = s.read.parquet(s"$baseDir/$name.parquet")
      val all = (0 until copies).map(i => f(base, i)).reduce(_ unionAll _)
      // 32 output files per table so the 10× scan parallelizes like the
      // driver-written base layout does
      all.repartition(32).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    tenfold("orders", (df, i) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * KeyOff))
      .withColumn("o_custkey", col("o_custkey") + lit(i * KeyOff)))
    tenfold("lineitem", (df, i) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * KeyOff)))
    tenfold("documents", (df, i) => df
      .withColumn("doc_id", col("doc_id") + lit(i * KeyOff))
      .withColumn("text", remap(col("text"), i)))
    // per-copy circular shift of the vector decorrelates copies while
    // preserving the value distribution (moment costs are shift-blind)
    tenfold("embeddings", (df, i) => df
      .withColumn("vec_id", col("vec_id") + lit(i * KeyOff))
      .withColumn("embedding",
        expr(s"concat(slice(embedding, ${i % 7} + 1, size(embedding) - ${i % 7}), " +
          s"slice(embedding, 1, ${i % 7}))")))
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    // optional 3rd arg: comma-separated subset of `flagship` (local
    // iteration — probe only the operators that changed)
    val names = args.lift(2).map(_.split(",").toSeq).getOrElse(flagship)
    require(names.forall(flagship.contains), s"unknown probe name in $names")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val spark = LocalSession()

    val probeDir = java.nio.file.Files.createTempDirectory("graft_scale_").toString
    val t0 = System.nanoTime()
    synthesize(spark, baseDir, probeDir, copies)
    println(f"SCALE_SYNTH\t${(System.nanoTime() - t0) / 1e9}%.1f s -> $probeDir")

    def minTime(fn: (SparkSession, String) => DataFrame, dir: String): Double =
      (1 to math.max(1, reps)).map { _ =>
        val t = System.nanoTime()
        fn(spark, dir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t) / 1e9
      }.min

    // Same self-adjudication telemetry as Bench: hypervisor CPU steal
    // across each probe row, so a blown ratio taken under steal is
    // visibly the host's fault in the artifact itself.
    def stealTicks(): Long =
      try {
        val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toLong else 0L
      } catch { case scala.util.control.NonFatal(_) => 0L }

    // session warmup (codegen, parquet footers) as in Bench, PLUS an
    // untimed sf0.001 pass of the probed queries: each query's generated
    // classes only JIT by running it, and a cold base measurement makes
    // the 10x ratio read BELOW true (measured 0.7x for a broadcast-probe
    // query whose base min-of-2 was all compile storm)
    spark.range(1000).selectExpr("sum(id)").collect()
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if (new java.io.File(warmDir).isDirectory)
      names.foreach { n =>
        try SparkEntry.queries(n)(spark, warmDir).write.mode("overwrite").format("noop").save()
        catch { case scala.util.control.NonFatal(_) => () }
      }
    println("query\tt_base_s\tt_10x_s\tratio\trows_base\trows_10x\tsteal_s")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val st0 = stealTicks()
      val tb = minTime(fn, baseDir)
      val tx = minTime(fn, probeDir)
      val steal = (stealTicks() - st0) / 100.0 // USER_HZ
      val rb = fn(spark, baseDir).count()
      val rx = fn(spark, probeDir).count()
      println(f"SCALE\t$name\t$tb%.2f\t$tx%.2f\t${tx / tb}%.1f\t$rb\t$rx\t$steal%.1f")
    }

    // best-effort probe-dir cleanup (tmp dir; OS clears stragglers)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(probeDir))
    spark.stop()
  }
}
