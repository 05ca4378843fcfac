package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize

import graft.llm.{Bpe, Decontamination, Dedup, Graph, Multimodal, Retrieval, Sampling, Similarity, Sketches, TextAnalysis, Unigram}

/** LLM-training-data pipeline queries over the documents/embeddings
  * tables: text analysis, dedup (exact / MinHash / SimHash / n-gram
  * Jaccard), similarity search (brute-force + LSH), multimodal plumbing.
  *
  * Oracle policy: operators whose semantics are engine-portable (string
  * arithmetic, md5, counts) carry exact DuckDB SQL twins. The whole
  * dedup/LSH family runs on the one md5-derived hash family —
  * MinHash/SimHash/hyperplane signatures whose every intermediate value
  * the DuckDB oracle recomputes — so those carry exact oracles too.
  * Only float-valued stub features (media_features) remain rows-only,
  * pinned by ScalaTests. */
object LlmQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Per-document stats: counts/ratios via engine-portable string math. */
  val textStats: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    d.select(
      col("doc_id"),
      length(col("text")).as("n_chars_text"),
      TextAnalysis.tokenCountWs(col("text")).as("n_tokens"),
      TextAnalysis.substrCount(col("text"), " ").as("n_spaces"),
      TextAnalysis.substrCount(concat(lit(" "), lower(col("text")), lit(" ")), " the ").as("n_the"),
      round(TextAnalysis.stopwordRatio(col("text")), 6).as("stopword_ratio"))
      .transform(Materialize.shared)
      .orderBy("doc_id")
  }

  /** Per-language corpus report — the summary a pipeline emits after
    * ingest: doc counts, token totals, exact token-count percentiles.
    * All exact arithmetic (integer sums, double division of exact ints,
    * Spark's exact `percentile` == DuckDB's `quantile_cont` linear
    * interpolation) ⇒ hash-verified oracle. */
  val corpusStats: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
      .withColumn("n_tokens", TextAnalysis.tokenCountWs(col("text")))
    d.groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        (sum(col("n_tokens").cast("long")).cast("double") / count(lit(1))).as("mean_tokens"),
        expr("percentile(n_tokens, 0.5)").as("p50_tokens"),
        expr("percentile(n_tokens, 0.95)").as("p95_tokens"))
      .orderBy("lang")
  }

  /** Vocabulary heavy hitters: top-50 normalized tokens by frequency —
    * the vocab-stats pass of a tokenizer pipeline. Partial (map-side)
    * aggregation handles the explode fan-out before the single shuffle;
    * ties broken deterministically by token. */
  val topTokens: Q = (s, dir) =>
    Tables(s, dir, "documents")
      .select(explode(split(TextAnalysis.normalizeText(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("token")).limit(50)

  /** Count-Min Sketch heavy-hitter audit ([[Sketches.cmsHeavyHitterAudit]]):
    * the exact top-20 tokens with their true counts next to the 4×256
    * sketch's estimates and the signed error — sketch vs truth on the
    * distribution head, the `approx_distinct_audit` convention. The
    * sketch is exact-integer end to end (portable md5 bucket hashes,
    * plain-sum counters, integer min), so the oracle replays the WHOLE
    * counter matrix, not just the contract; `err ≥ 0` (CMS one-sided
    * overcount) is a structural invariant of every row. Scale: the
    * counter matrix is depth·width rows at any corpus size and the
    * only vocabulary-sized state is the audit's exact side. */
  val cmsHeavyHitters: Q = (s, dir) =>
    Sketches.cmsHeavyHitterAudit(Tables(s, dir, "documents"), "text",
        depth = 4, width = 256, k = 20)
      .orderBy("token")

  /** Tokenizer-design metric: what share of all token INSTANCES the
    * top-V vocabulary covers, for V ∈ {10, 20, 10000}. The exact
    * top-V ranking runs through the map-side-pruned
    * [[graft.operators.GroupTopK]] (constant group key — each input
    * partition contributes at most V rows to the single-group shuffle,
    * so there is never a corpus- or vocabulary-wide single-partition
    * sort); the within-top-V rank is a window over ≤ V rows. The
    * instance total is a 1-row broadcast (the `key_skew_report`
    * pattern). Integer sums, ONE IEEE division per output row. */
  val vocabCoverage: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables(s, dir, "documents")
      .select(explode(split(TextAnalysis.normalizeText(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val counts = toks.groupBy("token").agg(count(lit(1)).as("c"))
    val top = graft.operators.GroupTopK.topK(
      counts.withColumn("g", lit(1)), Seq("g"), Seq(("c", false), ("token", true)), k = 10000)
    val ranked = top.withColumn("rk",
      row_number().over(Window.partitionBy("g").orderBy(desc("c"), asc("token"))))
    // tiers sized so the synthetic corpus (31 distinct tokens at
    // sf0.01) exercises PARTIAL coverage at the low tiers and the
    // GroupTopK cap tier stays the production V
    val vs = s.range(1).select(explode(array(lit(10), lit(20), lit(10000))).as("v"))
    val total = toks.agg(count(lit(1)).as("total_tokens"))
    ranked.join(broadcast(vs), col("rk") <= col("v"))
      .groupBy("v").agg(sum("c").as("covered_tokens"))
      .crossJoin(broadcast(total))
      .withColumn("share",
        round(col("covered_tokens").cast("double") / col("total_tokens"), 6))
      .select("v", "covered_tokens", "total_tokens", "share")
      .orderBy("v")
  }

  /** Token counting, both flavors through the gate: whitespace tokens
    * and the BPE-ish proxy (letter runs / digit runs / single other
    * non-space chars — regexp_extract_all, verified to count identically
    * under Java regex and DuckDB's RE2 on the whole corpus). */
  val tokenCounts: Q = (s, dir) =>
    Tables(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.tokenCountWs(col("text")).as("n_ws"),
      TextAnalysis.tokenCountBpeIsh(col("text")).as("n_bpe"))
      .transform(Materialize.shared)
      .orderBy("doc_id")

  /** Quality scoring (length/punct/token-shape heuristic). */
  val qualityScore: Q = (s, dir) =>
    Tables(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  /** Corpus-relative word-frequency score ([[TextAnalysis.unigramLogFreq]]):
    * the perplexity-filter stand-in — floor-log2 corpus counts via the
    * exact `length(bin(c)) - 1` integer identity, so the only float is
    * one final IEEE division. */
  val unigramLogFreqScore: Q = (s, dir) =>
    TextAnalysis.unigramLogFreq(Tables(s, dir, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_tokens"), col("sum_log2"), col("mean_log2"))
      .orderBy("doc_id")

  /** The skew-proof hybrid twin of [[unigramLogFreqScore]] — identical
    * result, head tokens broadcast instead of shuffled
    * ([[TextAnalysis.unigramLogFreqHybrid]]); shares the plain
    * variant's oracle. headV = 20 on the synthetic corpus (31 distinct
    * tokens) so BOTH the broadcast head path and the shuffled tail
    * path carry real rows through the gate. */
  val unigramLogFreqHybridScore: Q = (s, dir) =>
    TextAnalysis.unigramLogFreqHybrid(Tables(s, dir, "documents"), "doc_id", "text", headV = 20)
      .select(col("id").as("doc_id"), col("n_tokens"), col("sum_log2"), col("mean_log2"))
      .orderBy("doc_id")

  /** Bigram conditional-log-prob LM scoring
    * ([[TextAnalysis.bigramLogProb]]) — the CCNet-style n-gram
    * language-model filter above the unigram rung: exact integer
    * Σ(⌊lg c₂⌋ − ⌊lg c₁⌋) per doc, a rational stand-in for
    * Σ log₂ p(next|prev) the oracle replays bit-for-bit. */
  val bigramLogprobScore: Q = (s, dir) =>
    TextAnalysis.bigramLogProb(Tables(s, dir, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_bigrams"), col("sum_lg_pair"),
        col("sum_lg_prev"), col("cond_lg"), col("mean_cond"))
      .orderBy("doc_id")

  /** Context-length bucketing — the histogram a training pipeline emits
    * before packing documents into context windows: docs bucketed by
    * BPE-ish token count into fixed ranges (explicit integer CASE
    * boundaries, never float log2 — exact in both engines), with doc
    * and token totals per bucket. One narrow map + one small shuffle. */
  val tokenLengthHistogram: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
      .select(TextAnalysis.tokenCountBpeIsh(col("text")).as("n"))
    val bucket = when(col("n") <= 64, "a_0-64")
      .when(col("n") <= 128, "b_65-128")
      .when(col("n") <= 256, "c_129-256")
      .when(col("n") <= 512, "d_257-512")
      .otherwise("e_513+")
    d.groupBy(bucket.as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n").cast("long")).as("total_tokens"))
      .orderBy("len_bucket")
  }

  /** EQUAL-FREQUENCY (quartile) bucketing of the corpus by length —
    * the data-dependent twin of [[tokenLengthHistogram]]'s fixed
    * ranges, used to stratify a corpus before sampling or curriculum
    * ordering. Boundaries are EXACT discrete quartiles of n_chars from
    * [[graft.operators.HistogramQuantile]]: the only shuffle the
    * boundary pass adds carries the value histogram (≤ distinct
    * lengths rows), never the corpus — where `ntile()` would need a
    * global sort of 100 TB. Assignment is a narrow map under a 1-ROW
    * broadcast (the plan's BroadcastNestedLoopJoin is that bounded
    * crossJoin, not an unbounded fan-out); every output is
    * integer-exact. */
  val quantileBucketsDocs: Q = (s, dir) => {
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    val b = graft.operators.HistogramQuantile.boundaries(
        d, Nil, "n_chars", Seq(("q1", 0.25), ("q2", 0.5), ("q3", 0.75)))
      .select("q1", "q2", "q3")
    val n = col("n_chars")
    d.crossJoin(broadcast(b))
      .withColumn("len_quartile",
        when(n <= col("q1"), 0L).when(n <= col("q2"), 1L)
          .when(n <= col("q3"), 2L).otherwise(3L))
      .groupBy("len_quartile")
      .agg(count(lit(1)).as("n_docs"), min(n).as("min_chars"),
        max(n).as("max_chars"), sum(n).as("total_chars"))
      .orderBy("len_quartile")
  }

  /** Gopher-style REPETITION quality signals — the filter family that
    * catches boilerplate/spam surviving exact AND near dedup (the
    * repetition is WITHIN the document): per doc, the duplicate-trigram
    * counts ([[TextAnalysis.dupNgramCounts]]) plus the most-frequent-
    * bigram concentration via the compiled
    * [[graft.functions.TopNgramCount]] expression. The whole query is
    * ONE NARROW MAP — no shuffle carries any n-gram (the explode →
    * per-(doc, gram) count → max formulation would shuffle the corpus;
    * measured 3.9 s → sub-second at sf0.1). All outputs are exact
    * integers or exact IEEE divisions of them, so the oracle replays
    * every value bit-for-bit. */
  val docRepetition: Q = (s, dir) => {
    val s3 = TextAnalysis.ngramStats(col("text"), 3)
    val s2 = TextAnalysis.ngramStats(col("text"), 2)
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        s3.getField("total").as("n_grams"),
        s3.getField("distinct").as("n_distinct"),
        s2.getField("top").cast("long").as("top_bigram_n"),
        s2.getField("total").cast("long").as("n_bigrams"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_grams")).as("dup3_frac"),
        col("top_bigram_n"), col("n_bigrams"),
        (col("top_bigram_n").cast("double") / col("n_bigrams")).as("top2_frac"))
      .transform(Materialize.shared)
      .orderBy("doc_id")
  }

  /** Language-ID heuristic (marker-word argmax — deterministic function
    * of the text; the synthetic `lang` label is not text-derivable). */
  val langId: Q = (s, dir) =>
    Tables(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.langIdHeuristic(col("text")).as("lang_guess"))
      .transform(Materialize.shared)
      .orderBy("doc_id")

  /** Declared `lang` label × heuristic guess — the CONFUSION MATRIX a
    * pipeline reads before trusting either column (mislabeled sources
    * and weak detector classes both show up as off-diagonal mass). One
    * narrow scoring scan + one |langs|²-bounded aggregate with
    * map-side partials; the oracle shares the score CTEs with
    * `lang_id` so detector and audit can never drift. */
  val langIdConfusion: Q = (s, dir) =>
    Tables(s, dir, "documents")
      .select(col("lang"), TextAnalysis.langIdHeuristic(col("text")).as("lang_guess"))
      .groupBy("lang", "lang_guess")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "lang_guess")

  /** Gopher-style QUALITY GATES dashboard — per source, how many docs
    * pass each named filter rule and how many pass ALL of them: length
    * bounds, mean-word-length bounds (the classifier's integer form:
    * 3·n_tok ≤ n_chars ≤ 10·n_tok), stopword floor, duplicate-trigram
    * ceiling (10·distinct ≥ 7·total), and symbol-ratio ceiling
    * (10·symbols ≤ chars). Every rule is an INTEGER comparison — no
    * float ratio reaches the gate — and each reuses a verified per-doc
    * signal (token counts, [[graft.functions.TextExpressions.ngramStats]],
    * stopword regex, all pinned by their own gates). This is the
    * report a mixture owner reads to see WHICH rule eats WHICH source
    * before turning the filter on. One scan, one |sources|-group
    * aggregate with map-side partials. */
  val qualityGatesReport: Q = (s, dir) => {
    val tri = TextAnalysis.ngramStats(col("text"), 3)
    val per = Tables(s, dir, "documents").select(col("source"),
        TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tok"),
        length(col("text")).cast("long").as("n_chars"),
        TextAnalysis.stopwordCount(col("text")).cast("long").as("n_stop"),
        length(regexp_replace(lower(col("text")), "[a-z0-9 ]", "")).cast("long").as("n_sym"),
        tri.getField("total").cast("long").as("t3"),
        tri.getField("distinct").cast("long").as("d3"))
      .withColumn("p_len", (col("n_tok") >= 50 && col("n_tok") <= 100000).cast("long"))
      .withColumn("p_word", (col("n_chars") >= col("n_tok") * 3 &&
        col("n_chars") <= col("n_tok") * 10).cast("long"))
      .withColumn("p_stop", (col("n_stop") >= 2).cast("long"))
      .withColumn("p_rep", (col("t3") === 0 || col("d3") * 10 >= col("t3") * 7).cast("long"))
      .withColumn("p_sym", (col("n_sym") * 10 <= col("n_chars")).cast("long"))
    per.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("p_len").as("pass_len"),
        sum("p_word").as("pass_word_len"),
        sum("p_stop").as("pass_stopword"),
        sum("p_rep").as("pass_repetition"),
        sum("p_sym").as("pass_symbol"),
        sum(when(col("p_len") + col("p_word") + col("p_stop") +
          col("p_rep") + col("p_sym") === 5, 1L).otherwise(0L)).as("pass_all"))
      .orderBy("source")
  }

  /** Content fingerprints: md5 (dedup key). */
  val docFingerprint: Q = (s, dir) =>
    Tables(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"))
      .orderBy("doc_id")

  /** Exact dedup via content hash — at scale the shuffle carries only
    * (hash, id), never the text. */
  val dedupExact: Q = (s, dir) =>
    Dedup.exactDedup(Tables(s, dir, "documents"), "doc_id", "text")
      .orderBy("keep_id")
      .select("keep_id", "content_hash", "dup_count")

  /** Substring-level exact dedup ([[Dedup.substringDupSpans]]):
    * duplicate w-word SPANS across the corpus as (doc_id, pos) pairs —
    * the span-hygiene pass between document-exact and chunk dedup.
    * Positional 60-bit md5 window hashes, hot-window cap shared with
    * the LSH family; the oracle re-derives every hash from
    * md5(span). */
  val dedupSubstring: Q = (s, dir) =>
    Dedup.substringDupSpans(spreadForCompute(s, Tables(s, dir, "documents")), "doc_id", "text",
        w = 8, maxBucket = MaxBucket)
      .orderBy("doc_id", "pos", "wh")

  /** The REMOVAL view of substring dedup: overlapping/adjacent duplicate
    * windows merged into maximal per-doc spans ([[Dedup
    * .substringDupMaximalSpans]]) — what an ExactSubstr-style pass cuts.
    * Integer-only island merge, oracle-replayed over the SAME window
    * CTEs as `dedup_substring` (shared block, so the two can't drift). */
  val dedupSubstringSpans: Q = (s, dir) =>
    Dedup.substringDupMaximalSpans(spreadForCompute(s, Tables(s, dir, "documents")), "doc_id", "text",
        w = 8, maxBucket = MaxBucket)
      .orderBy("doc_id", "span_start")

  /** JSONL sink→source round trip ([[graft.sources.JsonlSink]]): the
    * documents table exported as JSON lines (Spark's distributed json
    * writer, full string escaping), read back with the writer's schema
    * (no inference pass), and summarized per source with an
    * order-independent content checksum —
    * `bit_xor(hash60(doc_id || text || lang))` over a \u0001-joined
    * tuple (the shard-manifest xor convention: O(1) aggregate state,
    * map-side combine). The oracle computes the SAME rollup from the
    * parquet originals, so the gate passes iff the export is lossless
    * byte-for-byte at the content level — any mangled escape, dropped
    * row, or type-drifted column flips the xor or the counts. */
  val exportJsonlRoundtrip: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val back = graft.sources.JsonlSink.roundTrip(d)
    back.select(col("source"), col("n_chars"),
        Sampling.hash60(concat_ws("\u0001",
          col("doc_id").cast("string"), col("text"), col("lang"))).as("__h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
        expr("bit_xor(__h)").as("content_xor"))
      .orderBy("source")
  }

  /** The CSV twin of [[exportJsonlRoundtrip]] — same rollup, same
    * oracle, but through the format whose DIALECT is the hazard
    * ([[graft.sources.JsonlSink.roundTripCsv]]): embedded newlines
    * force `multiLine` reads (so at 100 TB the export writes MANY
    * moderate files — a multi-line-record CSV file is not splittable
    * and parallelism must come from file count), quotes escape
    * RFC-4180 style, and empty-vs-null takes an explicit sentinel.
    * Passing the same xor gate as JSONL proves the dialect handling
    * loses nothing on real document text. */
  val exportCsvRoundtrip: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val back = graft.sources.JsonlSink.roundTripCsv(d)
    back.select(col("source"), col("n_chars"),
        Sampling.hash60(concat_ws("\u0001",
          col("doc_id").cast("string"), col("text"), col("lang"))).as("__h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
        expr("bit_xor(__h)").as("content_xor"))
      .orderBy("source")
  }

  /** The ORC twin — the columnar alternative sink
    * ([[graft.sources.JsonlSink.roundTripOrc]]): native types, stripe
    * splittability, and retained column pruning + predicate pushdown
    * make it the INGEST-grade export (a downstream Spark stage reads
    * it as efficiently as parquet), where JSONL/CSV are egress. Same
    * rollup, same shared oracle. */
  val exportOrcRoundtrip: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val back = graft.sources.JsonlSink.roundTripOrc(d)
    back.select(col("source"), col("n_chars"),
        Sampling.hash60(concat_ws("\u0001",
          col("doc_id").cast("string"), col("text"), col("lang"))).as("__h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
        expr("bit_xor(__h)").as("content_xor"))
      .orderBy("source")
  }

  /** The WEBDATASET-SHARD export ([[graft.sources.TarShardSink]]):
    * documents written as 8 POSIX-ustar tar shards — the packaging a
    * multimodal dataloader streams — then read back with the
    * distributed archive walker. The gate pins FOUR things per doc:
    * its shard (the md5 `shardAssign` rule the oracle replays as
    * hx60 mod 8), its presence (row count), its exact byte length
    * (the header size field), and its CONTENT (md5 over the entry
    * bytes vs DuckDB's `md5(text)` — identical utf-8 digests iff the
    * tar framing round-trips every byte). Write is one hash shuffle +
    * a partition-parallel archive stream; read is a binaryFile scan +
    * per-archive walk. */
  val exportTarRoundtrip: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    graft.sources.TarShardSink.roundTrip(d, "doc_id", "text", nShards = 8)
      .select(expr("CAST(regexp_extract(name, '^([0-9]+)', 1) AS BIGINT)").as("doc_id"),
        col("shard_id"), col("n_bytes"), col("content_md5"))
      .orderBy("doc_id")
  }

  /** The MULTIMODAL shard layout
    * ([[graft.sources.TarShardSink.writeShardEntries]]): each key
    * contributes TWO adjacent entries — `<id>.txt` (the payload) and
    * `<id>.json` (its metadata record) — the WebDataset pairing a
    * multimodal dataloader reassembles from one sequential read (an
    * image corpus ships `.jpg` + `.json` through the identical path;
    * the payload column is opaque bytes to the writer either way).
    * Both entries' byte lengths AND content digests replay: the json
    * is built by the same concatenation in both engines, so its md5
    * pins the metadata framing as hard as the payload's. */
  val exportTarMultimodal: Q = (s, dir) => {
    val d = Tables(s, dir, "documents").select(col("doc_id"),
      to_binary(col("text"), lit("utf-8")).as("payload"),
      to_binary(concat(lit("{\"mime\":\"application/octet-stream\",\"n_chars\":"),
        col("n_chars").cast("string"), lit("}")), lit("utf-8")).as("meta"))
    graft.sources.TarShardSink.roundTripEntries(d, "doc_id",
        Seq(("txt", "payload"), ("json", "meta")), nShards = 8)
      .select(expr("CAST(regexp_extract(name, '^([0-9]+)', 1) AS BIGINT)").as("doc_id"),
        expr("regexp_extract(name, '\\\\.([a-z]+)$', 1)").as("ext"),
        col("shard_id"), col("n_bytes"), col("content_md5"))
      .orderBy("doc_id", "ext")
  }

  /** The PLANNING view of substring dedup: per source, how much text an
    * ExactSubstr pass would cut — docs affected, duplicated words inside
    * maximal spans, and the exact ppm of the source's words those spans
    * cover. This is the number a data-mixture owner reads BEFORE running
    * removal at 100 TB (is the cut 0.1% or 12% of a source?), and it
    * reuses the span islands wholesale: one extra doc-keyed rollup and
    * one source-keyed aggregate (≤ |sources| rows) on top of
    * [[Dedup.substringDupMaximalSpans]]. The word denominator uses the
    * window pass's own tokenization (lower, split ' +') so numerator
    * and denominator count the same units; unaffected docs enter the
    * denominator via the LEFT join with zero duplicated words. */
  val dedupSubstringBudget: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val perDoc = Dedup.substringDupMaximalSpans(d, "doc_id", "text",
        w = 8, maxBucket = MaxBucket)
      .groupBy("doc_id")
      .agg(sum("span_words").cast("long").as("dup_words"),
        count(lit(1)).as("n_spans"))
    d.select(col("doc_id"), col("source"),
        size(split(lower(col("text")), " +")).cast("long").as("n_words"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(col("dup_words")).as("n_docs_affected"),
        sum("n_words").as("total_words"),
        coalesce(sum("dup_words"), lit(0L)).as("dup_words"),
        coalesce(sum("n_spans"), lit(0L)).as("n_spans"))
      .withColumn("dup_ppm",
        expr("CAST((dup_words * 1000000) DIV total_words AS BIGINT)"))
      .orderBy("source")
  }

  /** MinHash+LSH near-dup candidate pairs (est. Jaccard >= 0.3), in
    * PORTABLE mode: md5-derived signatures/band keys, so the whole
    * shingle→minhash→band→bucket-pair pipeline is replayed exactly by
    * the DuckDB oracle (round-2's rows-only check is now hash-verified).
    * Recall/precision additionally pinned in LlmSpec on planted dups. */
  val dedupMinhash: Q = (s, dir) =>
    Dedup.minHashPairs(spreadForCompute(s, Tables(s, dir, "documents")), "doc_id", "text", threshold = 0.3,
        maxBucket = MaxBucket)
      .orderBy("id_a", "id_b")

  /** SimHash near-dup pairs (hamming <= 6 on 64-bit signatures — at 12
    * the synthetic corpus's unrelated word-soup docs start colliding).
    * Portable mode: md5-derived bit-string signatures, oracle-replayed. */
  val dedupSimhash: Q = (s, dir) =>
    Dedup.simHashPairs(spreadForCompute(s, Tables(s, dir, "documents")), "doc_id", "text", maxHamming = 6,
        maxBucket = MaxBucket)
      .orderBy("id_a", "id_b")

  /** Exact n-gram Jaccard verification of the MinHash candidates.
    * The shingle-hash pass — the dominant CPU term — runs ONCE: the
    * `(id, hs)` sets are `Materialize.shared` and feed BOTH the MinHash
    * signatures and the exact-Jaccard verify joins. Previously the plan
    * recomputed the per-shingle md5 three times (signature + both join
    * sides). */
  val ngramJaccardPairs: Q = (s, dir) => {
    val sets = Dedup.shingleHashSets(spreadForCompute(s, Tables(s, dir, "documents")), "doc_id", "text")
      .transform(Materialize.shared)
    Dedup.verifyJaccardSets(
        Dedup.minHashPairsFromHashes(sets, threshold = 0.3, maxBucket = MaxBucket), sets)
      .orderBy("id_a", "id_b")
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash ESTIMATOR-ERROR audit — `ann_recall_audit`'s twin for the
    * dedup family: for every LSH candidate pair, the signature estimate
    * (m agreeing rows of 32) against the exact shingle Jaccard i/u,
    * rolled into an error histogram in units of 1/32. The bucket index
    * is ⌊|m/32 − i/u|·32⌋ computed PURELY in integers —
    * ⌊|m·u − 32·i| / u⌋ — so no float subtraction ever reaches the
    * hash gate; n_over counts pairs the sketch overestimates (the side
    * that costs verify work downstream, vs the side that loses recall).
    * Theory says |err| concentrates around √(J(1−J)/32) ≈ 0.09, i.e.
    * buckets 0–3 — a heavy tail here means a broken signature, band
    * layout, or hash. Cost: candidate-proportional (two joins of the
    * pair list against the materialized shingle sets — the same
    * verify-pass shape as `ngram_jaccard_pairs`, never n²). */
  val minhashEstError: Q = (s, dir) => {
    val sets = Dedup.shingleHashSets(spreadForCompute(s, Tables(s, dir, "documents")), "doc_id", "text")
      .transform(Materialize.shared)
    val pairs = Dedup.minHashPairsFromHashes(sets, threshold = 0.3, maxBucket = MaxBucket)
    pairs
      .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("hs", "hs_a"), "id_a")
      .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("hs", "hs_b"), "id_b")
      .select(
        (col("est_jaccard") * 32).cast("long").as("m"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long").as("i"),
        size(array_union(col("hs_a"), col("hs_b"))).cast("long").as("u"))
      .withColumn("err_bucket", expr("CAST(abs(m * u - 32 * i) DIV u AS BIGINT)"))
      .groupBy("err_bucket")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("m") * col("u") > lit(32L) * col("i"), 1L).otherwise(0L)).as("n_over"))
      .orderBy("err_bucket")
  }

  /** Exact cosine top-5 for the first 10 embedding vectors (brute force
    * — the baseline the LSH path is measured against). Float ranking ⇒
    * rows-only check + differential ScalaTest. */
  val annBruteforce: Q = (s, dir) => {
    // round 22 A/B (vs spread+checkpoint AND the r21 bare spread): the
    // 10-query brute pass is too small to repay any repartition — the
    // plain scan wins in every measured window (r21 verdict item 3)
    val e = Tables(s, dir, "embeddings")
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
      .select("query_id", "corpus_id", "rank")
  }

  /** Greedy farthest-point k-center selection of 6 maximally-spread
    * exemplar vectors — integer-exact trajectory (md5 seed rule,
    * BIGINT L2, id tie-breaks), so the oracle unrolls all five greedy
    * rounds as CTEs and the HASH of the selection order itself is the
    * gate (the `dedup_keep_central` trajectory-replay convention). */
  val selectKcenter: Q = (s, dir) => {
    val e = Tables(s, dir, "embeddings")
    Similarity.kCenterSelect(e, "vec_id", "embedding", k = 6)
      .orderBy("rank")
  }

  /** MMR-diversified top-4 retrieval over the embedding corpus
    * (λ=0.7, 12-candidate pool, first 10 vectors as queries) — the
    * greedy marginal-relevance trajectory is all-integer (BIGINT dot
    * relevance/similarity, no division), so the oracle unrolls the
    * three post-seed selection rounds as CTEs and hash-verifies the
    * picked ORDER, relevance, and each pick's diversity witness. */
  val retrievalMmr: Q = (s, dir) => {
    val e = Tables(s, dir, "embeddings")
    Retrieval.mmrTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        candidateK = 12, k = 4, lambdaMilli = 700)
      .orderBy("query_id", "rank")
  }

  /** Embedding anisotropy report ([[Similarity.topPrincipalComponent]]):
    * 8 integer power-iteration rounds over the exact moments matrix;
    * the oracle unrolls every round in HUGEINT (the trajectory-replay
    * convention), so direction AND explained-variance ppm hash-verify. */
  val embeddingTopPc: Q = (s, dir) =>
    Similarity.topPrincipalComponent(Tables(s, dir, "embeddings"), "embedding", iters = 8)
      .orderBy("i")

  /** Int8 calibration report ([[Similarity.int8QuantizeReport]]):
    * per-dim max-abs scale + exact integer distortion of the 8-bit
    * grid — the audit before an int8 storage commit. */
  val embeddingInt8Quantize: Q = (s, dir) =>
    Similarity.int8QuantizeReport(Tables(s, dir, "embeddings"), "embedding")
      .orderBy("i")

  /** Int8-quantized top-5 ([[Similarity.int8TopK]]): both sides coded
    * through the calibration scales, exact BIGINT code dots — the
    * end-to-end proof the 4×-smaller vectors still rank; the oracle
    * replays scales, codes, dots, and ranking. */
  val annInt8: Q = (s, dir) => {
    val e = Tables(s, dir, "embeddings")
    Similarity.int8TopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
      .select("query_id", "corpus_id", "rank", "dot8")
  }

  /** Hard-negative mining ([[Retrieval.hardNegatives]]): top-1 as the
    * presumed positive, next-best candidates as negatives, candidates
    * within 95% (ppm cross-multiplication) of the positive excluded as
    * probable false negatives. All-integer trajectory — the oracle
    * replays ranking, margin cut, and re-rank. */
  val hardNegativesQ: Q = (s, dir) => {
    val e = Tables(s, dir, "embeddings")
    Retrieval.hardNegatives(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, candidateK = 20, marginPpm = 950000L)
      .orderBy("query_id", "neg_rank")
  }

  /** LSH-bucketed approximate top-5 for the same queries — quantized
    * md5-sign hyperplanes, so candidate generation is oracle-replayed. */
  val annLsh: Q = (s, dir) => {
    val e = Tables(s, dir, "embeddings")
    Similarity.lshTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
      .select("query_id", "corpus_id", "rank")
  }

  /** IVF-bucketed approximate top-5 (coarse quantizer + inverted lists). */
  val annIvf: Q = (s, dir) => {
    val e = Tables(s, dir, "embeddings")
    Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
      .select("query_id", "corpus_id", "rank")
  }

  /** PERSISTED IVF index — the deploy shape of [[annIvf]]: the
    * inverted lists (corpus cell assignments, vectors included) are
    * written ONCE as a `bucketBy(cell)` table (the
    * [[dedupIncrementalBucketed]] layout-investment precedent applied
    * to ANN), and every probe reads them with ZERO Exchange on the
    * index side — no per-query assignment Window, no corpus shuffle,
    * just a bucketed scan into the broadcast probe join
    * (PlanShapeSpec pins it). Same oracle as `ann_ivf`: layout never
    * changes results. At 100 TB this is the difference between
    * rebuilding the index per query batch and amortizing one
    * corpus-sized write across every retrieval job. */
  /** A persisted `bucketBy(cell)` inverted-list table and the
    * QUANTIZER it was built with: the 16 IVF centroids live with their
    * index, as a production IVF index stores its quantizer beside the
    * inverted lists (re-deriving it per probe re-runs a corpus pass the
    * index's day-2 contract already paid). 16 rows — a bounded driver
    * artifact. Values are identical to the in-plan
    * [[Similarity.ivfCentroids]] (deterministic md5-seeded selection),
    * so every consumer's oracle hash is unchanged. Only the
    * persisted-index day-2 gates read it; the build/audit gates
    * (`ann_ivf`, `ann_ivf_append_audit`) keep centroid derivation
    * in-plan because it is part of their declared pipeline. */
  private[queries] final case class IvfIndex(table: String, centroids: Seq[(Long, Seq[Float])])

  private def ivfCentroidsDf(s: SparkSession, cents: Seq[(Long, Seq[Float])]): DataFrame = {
    import s.implicits._
    cents.toDF("cid", "cvec")
  }

  /** Trains the quantizer on `e` and persists the index `kind`: every
    * vector of `e` in its cell, then `extend(centroids, table)`. */
  private def ivfBuild(kind: String, e: DataFrame)(
      extend: (DataFrame, String) => Unit = (_, _) => ()): IvfIndex =
    Artifacts.getOrBuild(kind, Seq(e)) { a =>
      val cents = Similarity.ivfCentroids(e, "vec_id", "embedding", 16)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      val centsDf = ivfCentroidsDf(a.spark, cents)
      val table = a.bucketedTable("graft_ivf", "cell", Similarity.ivfAssign(
        e, centsDf, "vec_id", "embedding", "corpus_id", "cvec2", 1, "cell"))
      extend(centsDf, table)
      IvfIndex(table, cents)
    }

  /** The index shared by [[annIvfPersisted]], [[annIvfForget]] and the
    * streaming probe gate (one layout investment, several probe paths). */
  private[queries] def ivfIndex(s: SparkSession, dir: String): IvfIndex =
    ivfBuild("ivf_cells", Tables(s, dir, "embeddings"))()

  val annIvfPersisted: Q = (s, dir) => {
    val e = Tables(s, dir, "embeddings")
    val idx = ivfIndex(s, dir)
    val queryCells = Similarity.ivfAssign(e.filter(col("vec_id") < 10),
      ivfCentroidsDf(s, idx.centroids), "vec_id", "embedding", "query_id", "qvec", 4, "cell")
    Similarity.ivfProbe(s.table(idx.table), queryCells, k = 5)
      .orderBy("query_id", "rank")
      .select("query_id", "corpus_id", "rank")
  }

  /** INCREMENTAL maintenance of the persisted IVF index — the day-2
    * operation [[annIvfPersisted]] implies: a new vector batch (the
    * fixture replayed at `max(vec_id)+1` offsets — the incremental-
    * dedup echo convention) routes through the ORIGINAL quantizer
    * (centroids are fixed at build time; re-clustering is a rebuild,
    * not an append) and APPENDS to the bucketed table —
    * `saveAsTable(Append)` lands the new files in their cell buckets,
    * so the probe still reads one bucketed scan with zero Exchange.
    * Oracle: the `ann_ivf` pipeline over `embeddings ∪ offset copy`
    * with centroids drawn from the ORIGINAL table only. Appended
    * copies tie their originals on cosine; (cos DESC, corpus_id ASC)
    * breaks every tie deterministically. */
  val annIvfPersistedAppend: Q = (s, dir) => {
    val e = Tables(s, dir, "embeddings")
    val off = e.agg(max("vec_id")).head.getLong(0) + 1L
    val idx = ivfBuild("ivf_cells_app", e) { (cents, name) =>
      // day-2: the new batch routes through the SAME centroids and
      // appends into the existing buckets
      val batch = e.select((col("vec_id") + lit(off)).as("vec_id"), col("embedding"))
      Similarity.ivfAssign(batch, cents, "vec_id", "embedding", "corpus_id", "cvec2", 1, "cell")
        .write.mode("append").bucketBy(8, "cell").sortBy("cell")
        .format("parquet").saveAsTable(name)
    }
    val queryCells = Similarity.ivfAssign(e.filter(col("vec_id") < 10),
      ivfCentroidsDf(s, idx.centroids), "vec_id", "embedding", "query_id", "qvec", 4, "cell")
    Similarity.ivfProbe(s.table(idx.table), queryCells, k = 5)
      .orderBy("query_id", "rank")
      .select("query_id", "corpus_id", "rank")
  }

  /** DELETE PATH for the persisted IVF index — forget propagated to
    * RETRIEVAL (the index-side half of the `forget_docs_audit` /
    * `stream_forget_tombstone` governance story): deleted vectors are
    * masked at probe time with a broadcast ANTI-JOIN against the
    * delete list — the FAISS-IDSelector / tombstone-mask pattern — so
    * the bucketed index file is NEVER rewritten (a rebuild is a
    * compaction decision, not a compliance prerequisite) and the probe
    * keeps its zero-Exchange index scan (a broadcast join adds no
    * repartition; PlanShapeSpec-style pin in AnnForgetSpec). Centroids
    * stay frozen — deletes never retrain the quantizer. The delete
    * list is the deterministic ~2% md5 sample (a real list broadcasts
    * the same way); at sf0.001 it removes query 2's rank-2 neighbor,
    * so the gate pins that results genuinely re-rank, not just drop.
    * Same (query_id, corpus_id, rank) surface as the siblings; oracle:
    * [[sqlAnnIvfWhere]] with the mask on the corpus relation. */
  val annIvfForget: Q = (s, dir) => {
    val e = Tables(s, dir, "embeddings")
    val idx = ivfIndex(s, dir)
    val deletes = e.select(col("vec_id").as("corpus_id"))
      .filter(isForgetDoc50(col("corpus_id")))
    val live = s.table(idx.table).join(broadcast(deletes), Seq("corpus_id"), "left_anti")
    val queryCells = Similarity.ivfAssign(e.filter(col("vec_id") < 10),
      ivfCentroidsDf(s, idx.centroids), "vec_id", "embedding", "query_id", "qvec", 4, "cell")
    Similarity.ivfProbe(live, queryCells, k = 5)
      .orderBy("query_id", "rank")
      .select("query_id", "corpus_id", "rank")
  }

  /** POST-APPEND IVF HEALTH AUDIT — the re-train trigger signal
    * [[annIvfPersistedAppend]] implies but never reports: after a
    * batch routes through the FROZEN build-time centroids, is the
    * layout still balanced and is recall still holding? Per phase
    * (`built` = the original corpus, `appended` = corpus ∪ batch,
    * where the batch is the [[dedupSemanticIncremental]] echo
    * convention — hb < 85 identical copies, the rest circular-shifted
    * into genuinely-new vectors that may route DIFFERENTLY): the
    * cell-occupancy census (vector count, nonempty cells, max cell
    * share in ppm — the balance signal FAISS's re-train-when-
    * unbalanced rule watches) and recall@5 of the nProbe=4 probe
    * against exact brute force over that phase's corpus. A share
    * drifting up or recall drifting down after N appends is the
    * signal to re-train centroids (a rebuild, not an append). All
    * counts and ratios are exact integers; the oracle replays
    * routing, census, probe, and brute force for both phases. */
  val annIvfAppendAudit: Q = (s, dir) => {
    // round 22 A/B (vs spread+checkpoint AND the r21 bare spread): the
    // audit's many small consumers pay per-stage task overhead on a
    // spread frame faster than they gain parallelism — plain scan wins
    // (1.77 s vs 2.63 s checkpointed, 2.55 s bare spread; r21 item 3)
    val e = Tables(s, dir, "embeddings").select("vec_id", "embedding")
    val off = e.agg(max("vec_id")).head.getLong(0) + 1L
    val cents = Similarity.ivfCentroids(e, "vec_id", "embedding", 16)
    val hb = Sampling.hashBucket256(col("vec_id"))
    val shifted = expr(
      "concat(slice(embedding, 2, size(embedding) - 1), slice(embedding, 1, 1))")
    val batch = e.select((col("vec_id") + lit(off)).as("vec_id"),
      when(hb < 85, col("embedding")).otherwise(shifted).as("embedding"))
    val queries = e.filter(col("vec_id") < 10)
    val queryCells = Similarity.ivfAssign(
      queries, cents, "vec_id", "embedding", "query_id", "qvec", 4, "cell")
    def phase(name: String, corpus: DataFrame): DataFrame = {
      val assigned = Similarity.ivfAssign(
        corpus, cents, "vec_id", "embedding", "corpus_id", "cvec2", 1, "cell")
      val cellStats = assigned.groupBy("cell").agg(count(lit(1)).as("n"))
        .agg(sum("n").as("n_vectors"), count(lit(1)).as("nonempty_cells"),
          expr("CAST(max(n) * 1000000 DIV sum(n) AS BIGINT)").as("max_cell_share_ppm"))
      val approx = Similarity.ivfProbe(assigned, queryCells, 5)
        .select("query_id", "corpus_id")
      val brute = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
        .select("query_id", "corpus_id")
      val hits = brute.join(approx, Seq("query_id", "corpus_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
      val rec = brute.agg(count(lit(1)).as("n_exact")).crossJoin(hits)
        .select(col("n_exact"), col("n_hits"),
          expr("CAST(n_hits * 100 DIV n_exact AS BIGINT)").as("recall_pct"))
      cellStats.crossJoin(rec)
        .select(lit(name).as("phase"), col("n_vectors"), col("nonempty_cells"),
          col("max_cell_share_ppm"), col("n_exact"), col("n_hits"), col("recall_pct"))
    }
    phase("built", e).unionByName(phase("appended", e.unionByName(batch)))
      .orderBy("phase")
  }

  /** INCREMENTAL SemDeDup — the persisted deploy shape of
    * [[dedupSemantic]] (the `dedup_incremental`/`ann_ivf_persisted`
    * convention applied to semantic dedup): the corpus's cluster
    * assignments persist ONCE as a `bucketBy(centroid)` table with
    * vectors; a new batch (the fixture echoed at `max(vec_id)+1`
    * offsets — hb < 85 identical copies, the rest circular-shifted
    * into genuinely-new vectors) routes through the SAME trained
    * codebook (fixed at build time; re-clustering is a rebuild) and
    * probes only its own cluster's members with exact cosine — never
    * all-pairs, never a corpus rescan. Statuses: `dup_corpus` (cos ≥
    * 0.4 vs ≥ 1 in-cluster member) / `new`; `n_dups` is the exact
    * in-cluster match count. Echo copies score cos = 1 against their
    * originals, so both statuses fire at any sf.
    *
    * The cluster count rides the [[Similarity.autoK]] k ∝ n dial (the
    * SCALE.md round-13 fix for the frozen-k quadratic): at the gate
    * fixture (n = 500, targetClusterSize = 128) the dial resolves to
    * exactly the oracle's pinned k = 4 / sampleN = 16 — so the hash
    * gate certifies the SAME code path production runs, and at 10×
    * data the dial (not a different branch) is what keeps the probe
    * near-linear. Every batch vector is reported — a vector routed to
    * a cluster with zero corpus members comes back `new` with
    * n_dups = 0 via the batch-side outer join (an inner join would
    * silently drop that class). */
  val dedupSemanticIncremental: Q = (s, dir) => dedupSemanticIncrementalWith(s, dir)

  /** [[dedupSemanticIncremental]] with the dials EXPOSED — a deployment
    * tunes `targetClusterSize` (the k ∝ n dial's denominator) and
    * `maxCluster` (the oversize-cluster probe cap, default
    * 8 × targetClusterSize via [[Similarity.resolveMaxCluster]])
    * instead of inheriting hard-coded defaults. The cap mirrors
    * [[Similarity.semDedup]]'s skew guard on the PROBE side: a corpus
    * cluster bigger than the cap would make every batch row routed to
    * it pay an unbounded in-cluster cosine fan-out, so its members are
    * excluded from probing and batch rows landing there come back
    * `skipped_oversize` — loud, never a fake `new`. At the default
    * dial the cap clears the fixture (no cluster exceeds 8×128), so
    * the hash gate pins the same code path production runs. */
  def dedupSemanticIncrementalWith(s: SparkSession, dir: String,
      targetClusterSize: Int = 128, maxCluster: Int = 0,
      threshold: Double = 0.4): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val stats = e.agg(max("vec_id"), count(lit(1))).head
    val off = stats.getLong(0) + 1L
    val k = Similarity.autoK(stats.getLong(1), targetClusterSize = targetClusterSize)
    val cents = Similarity.kmeansTrainL2(e, "vec_id", "embedding",
      k, Similarity.autoSampleN(k), 2)
    val tbl = Artifacts.getOrBuild(s"semdedup_corpus:k$k", Seq(e)) { a =>
      a.bucketedTable("graft_sd_b", "centroid",
        Similarity.kmeansAssignWith(e, cents, "vec_id", "embedding")
          .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"), col("centroid")))
    }
    val hb = Sampling.hashBucket256(col("vec_id"))
    val shifted = expr(
      "concat(slice(embedding, 2, size(embedding) - 1), slice(embedding, 1, 1))")
    val batch = e.select((col("vec_id") + lit(off)).as("vec_id"),
      when(hb < 85, col("embedding")).otherwise(shifted).as("embedding"))
    val basg = Similarity.kmeansAssignWith(batch, cents, "vec_id", "embedding")
      .select(col("vec_id").as("b_id"), col("embedding").as("b_vec"), col("centroid"))
    // skew guard: corpus clusters past the cap never enter the probe
    // join (their fan-out is the quadratic the cap exists to stop);
    // the per-centroid count runs on the bucketed table — no Exchange
    val capEff = Similarity.resolveMaxCluster(maxCluster, targetClusterSize)
    val oversize = s.table(tbl).groupBy("centroid").agg(count(lit(1)).as("c_n"))
      .filter(col("c_n") > capEff)
      .select(col("centroid"), lit(true).as("is_oversize"))
    val hits = s.table(tbl).join(broadcast(oversize), Seq("centroid"), "left_anti")
      .join(broadcast(basg), Seq("centroid"))
      .withColumn("hit",
        (Similarity.cosine(col("b_vec"), col("c_vec")) >= threshold).cast("long"))
      .groupBy("b_id", "centroid").agg(sum("hit").as("n_dups"))
    basg.select(col("b_id"), col("centroid"))
      .join(broadcast(oversize), Seq("centroid"), "left_outer")
      .join(hits, Seq("b_id", "centroid"), "left_outer")
      .na.fill(0L, Seq("n_dups"))
      .select(col("b_id").as("vec_id"), col("centroid"), col("n_dups"),
        when(col("is_oversize"), lit("skipped_oversize"))
          .when(col("n_dups") > 0, lit("dup_corpus")).otherwise(lit("new")).as("status"))
      .orderBy("vec_id")
  }

  /** Product-quantization approximate top-5 for the same queries —
    * integer-quantized codebook + asymmetric distance, so every code and
    * ADC score is an exact BIGINT the oracle replays bit-for-bit. The
    * `adc` score is part of the output: the hash gate then pins the
    * whole encode → LUT → ADC pipeline, not just the final ranking. */
  val annPq: Q = (s, dir) => {
    val e = Tables(s, dir, "embeddings")
    Similarity.pqTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
      .select("query_id", "corpus_id", "adc", "rank")
  }

  /** IVF-PQ ([[Similarity.ivfPqTopK]]) — the billion-vector production
    * layout: `ann_ivf`'s coarse routing (md5-rule centroids, cosine
    * cell assignment, 4-of-16 probes) restricts the search, `ann_pq`'s
    * exact-BIGINT asymmetric distance scores the probed lists from
    * their 8-byte codes — raw corpus vectors in no join, no shuffle.
    * The oracle composes the two families' replay blocks verbatim, so
    * the gate pins routing AND coding in one hash. `adc` in the
    * output, as in `ann_pq`. */
  val annIvfPq: Q = (s, dir) => {
    val e = Tables(s, dir, "embeddings")
    Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nCells = 16, nProbe = 4, nSub = 8, nCent = 16)
      .orderBy("query_id", "rank")
      .select("query_id", "corpus_id", "adc", "rank")
  }

  /** TRAINED IVF end-to-end through the gate
    * ([[Similarity.ivfTopKTrained]]): Lloyd's-trained integer-L2
    * codebook (16-sample, 4 cells, 2 truncating-update rounds — the
    * `embedding_kmeans_assign` training rule), integer-L2 cell routing
    * on both sides (2-probe), exact cosine re-rank. The oracle replays
    * the ENTIRE pipeline — seeding argmaxes, Lloyd rounds, floor
    * updates, corpus + query routing, candidate join, cosine ranking —
    * so trained-IVF is hash-verified, not just recall-floored. */
  val annIvfTrained: Q = (s, dir) => {
    val e = Tables(s, dir, "embeddings")
    Similarity.ivfTopKTrained(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nCells = 4, nProbe = 2, sampleN = 16, iters = 2)
      .orderBy("query_id", "rank")
      .select("query_id", "corpus_id", "rank")
  }

  /** TRAINED PQ end-to-end through the gate: per-subspace integer-L2
    * Lloyd's codebooks (16-sample, 4 centroids per subspace, 2 rounds,
    * TRUNCATING-division updates — the oracle-replayable rule), then
    * the standard encode → LUT → ADC pipeline on exact BIGINTs. Every
    * code and ADC score is replayed bit-for-bit by the oracle's
    * per-subspace training CTEs; the rint-update default keeps its
    * PqSpec recall floors untouched. */
  val annPqTrained: Q = (s, dir) => {
    val e = Tables(s, dir, "embeddings")
    Similarity.pqTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nSub = 8, nCent = 4, trained = true, trainIters = 2, trainSample = 16,
        floorUpdate = true)
      .orderBy("query_id", "rank")
      .select("query_id", "corpus_id", "adc", "rank")
  }

  /** In-plan recall@5 audit of the LSH index against the exact
    * brute-force answer — the acceptance gate a production pipeline
    * runs before trusting an approximate index: per query, how many of
    * the true top-5 the banded-LSH search returned. Both sides are the
    * catalog's own operators ([[Similarity.bruteForceTopK]] /
    * [[Similarity.lshTopK]]); the overlap is a LEFT SEMI join on
    * (query, neighbor) and recall is an exact integer percentage
    * (n_hits·100 div k). The brute side is the audit's cost — run it
    * on a bounded query SAMPLE (here: the 10 fixed query ids), never
    * the corpus, so the audit stays O(sample·corpus) while the index
    * it certifies stays sub-linear. */
  val annRecallAudit: Q = (s, dir) => {
    // round 22: e feeds exact + approx on both sides — share the spread
    val e = spreadShared(s, Tables(s, dir, "embeddings"))
    val q = e.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .select("query_id", "corpus_id")
    val approx = Similarity.lshTopK(e, q, "vec_id", "embedding", k = 5)
      .select("query_id", "corpus_id")
    val hits = exact.join(approx, Seq("query_id", "corpus_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("query_id").agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("k"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_pct", expr("CAST((n_hits * 100) DIV k AS BIGINT)"))
      .orderBy("query_id")
  }

  /** IVF RECALL-vs-COST CURVE — the tuning artifact behind every
    * deployed IVF index: recall@5 against brute force at nProbe ∈
    * {1, 2, 4} probed cells (of 16), one row per setting. The curve is
    * what turns "approximate" into an ENGINEERED trade — at 100 TB you
    * pick nProbe from this curve (measured on a bounded query sample,
    * here the 10 fixed ids) rather than guessing, since cost scales
    * linearly in probed cells while recall saturates. Each point is
    * the `ann_recall_audit` overlap against the SAME materialized
    * brute-force answer; integer recall percentages; the oracle
    * replays all three probe settings from one shared assignment CTE
    * so the curve cannot drift from the index it describes. */
  val annIvfRecallCurve: Q = (s, dir) => {
    // round 22: e feeds brute force + three ivfTopK settings — share it
    val e = spreadShared(s, Tables(s, dir, "embeddings"))
    val q = e.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .select("query_id", "corpus_id").transform(Materialize.shared)
    Seq(1, 2, 4).map { p =>
      val approx = Similarity.ivfTopK(e, q, "vec_id", "embedding", k = 5, nProbe = p)
        .select("query_id", "corpus_id")
      val hits = exact.join(approx, Seq("query_id", "corpus_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
      exact.agg(count(lit(1)).as("n_exact")).crossJoin(hits)
        .select(lit(p).cast("long").as("n_probe"), col("n_exact"), col("n_hits"),
          expr("CAST((n_hits * 100) DIV n_exact AS BIGINT)").as("recall_pct"))
    }.reduce(_ unionByName _).orderBy("n_probe")
  }

  /** Embedding-cosine near-dup pairs (LSH candidates + exact verify).
    * Threshold 0.4 — the synthetic embeddings are near-orthogonal (max
    * pairwise cosine ≈ 0.51), so 0.4 surfaces the genuine nearest pairs;
    * a production dedup would use ≥0.9. The OUTPUT is the pair set (the
    * thing a dedup consumes); cosine VALUES are excluded because their
    * low-order bits are not engine-portable, while the ≥-threshold
    * comparison is (no pair sits within 1e-10 of 0.4). Quantized
    * md5-sign hyperplanes make the candidate generation itself
    * oracle-replayable. */
  val dedupEmbedding: Q = (s, dir) => {
    val e = Tables(s, dir, "embeddings")
    Similarity.cosineNearDupPairs(e, "vec_id", "embedding", threshold = 0.4,
        maxBucket = MaxBucket)
      .select(col("id_a"), col("id_b"))
      .orderBy("id_a", "id_b")
  }

  /** SemDeDup ([[Similarity.semDedup]]): cluster-then-prune semantic
    * dedup under the TRAINED quantizer — the oracle replays Lloyd's
    * training (the shared `kmeansTrainCtes` block of
    * `embedding_kmeans_assign`/`ann_ivf_trained`), the within-cluster
    * pairwise cosine, and the keep-farthest-from-centroid rule, so the
    * whole published method is hash-verified end-to-end. Threshold 0.4
    * surfaces the corpus's genuine near pairs (the `dedup_embedding`
    * calibration); both statuses fire at every fixture sf. */
  val dedupSemantic: Q = (s, dir) =>
    Similarity.semDedup(Tables(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4)
      .orderBy("vec_id")

  /** [[Similarity.semDedup]]'s OVERSIZE-CLUSTER cap under skew — the
    * guard [[dedupSemantic]]'s fixture never fires (no cluster exceeds
    * 8×128 there). Every third vector is replaced IN-PLAN by one
    * constant embedding — the mass-near-identical pathology (a stuck
    * encoder, a default-vector bug) that concentrates corpus mass in
    * few clusters and makes uncapped within-cluster pairing quadratic.
    * Under the pinned k=4 trainer the skewed corpus resolves to
    * clusters of 167/323/4/6 members; `maxCluster = 200` excludes the
    * 323-cluster from pairing (its members return `skipped_oversize` —
    * loud, never a silent `kept`), while the 167 identical vectors
    * still dedup to one kept representative (166 `dropped` at
    * cosine = 1) and the small clusters pair normally — all three
    * statuses fire from one fixture. The oracle replays the skew
    * rewrite, the full Lloyd's training on the REWRITTEN corpus, the
    * size census, and the cap rule. */
  val dedupSemanticSkew: Q = (s, dir) => {
    val e = Tables(s, dir, "embeddings")
    val skewed = e.select(col("vec_id"),
      when(col("vec_id") % 3 === 0, transform(col("embedding"), x => lit(0.5f)))
        .otherwise(col("embedding")).as("embedding"))
    Similarity.semDedup(skewed, "vec_id", "embedding",
        k = 4, sampleN = 16, iters = 2, threshold = 0.4,
        targetClusterSize = 0, maxCluster = 200)
      .orderBy("vec_id")
  }

  /** Embedding-LSH bucket-size histogram — the audit view for
    * [[Similarity.cosineNearDupPairs]]' hot-bucket cap, the sibling of
    * `lsh_bucket_histogram`: a spike at a large bucket size is the
    * degenerate-signature signal (and exactly what maxBucket drops).
    * Quantized md5-sign hyperplane bands ⇒ oracle-replayed. */
  val embeddingBucketHistogram: Q = (s, dir) =>
    Similarity.embeddingBuckets(Tables(s, dir, "embeddings"), "vec_id", "embedding")
      .groupBy(col("n").as("bucket_size")).agg(count(lit(1)).as("n_buckets"))
      .select("bucket_size", "n_buckets")
      .orderBy("bucket_size")

  /** Multimodal plumbing: documents' text bytes as a fake media payload
    * (schema/partitioning/feature-extraction path is real; the codec is
    * a deterministic stub). Since round 3 the stub's integer-sum
    * features are engine-exact, so even this path is hash-verified —
    * the oracle replays the byte sums over the ASCII text. */
  val mediaFeatures: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val media = d.select(
      col("doc_id"),
      Multimodal.mediaStruct(
        to_binary(col("text"), lit("utf-8")), lit("application/octet-stream"),
        lit(0), lit(0), lit(1)).as("media"))
    val feats = Multimodal.extractFeatures(media, "doc_id", "media", dims = 4)
    feats
      .select(col("doc_id"),
        round(element_at(col("features"), 1), 4).as("f0"),
        round(element_at(col("features"), 2), 4).as("f1"))
      .orderBy("doc_id")
  }

  /** DPO PREFERENCE PAIRS gate ([[TextAnalysis.dpoPairs]]) — the
    * post-training prep trio's last member. Triple derivation from
    * the fixture: prompt = first `n DIV 3` normalized words, chosen =
    * the rest, rejected = the rest REVERSED (same length — so the
    * truncation symmetry is real, and the rejected branch is a
    * plausible hard negative: same tokens, broken order). maxTokens =
    * 64 fires truncation on the longer half of the fixture; the
    * compared output carries BOTH assembled templates and BOTH masks,
    * so any drift in the shared prompt cut or either response trim
    * hash-fails. */
  val dpoPairsQ: Q = (s, dir) => {
    // NULL text drops the doc (the spanCorruption convention,
    // TextAnalysis.scala:128 — the oracle's unnest-over-NULL emits no
    // rows for it, so an unfiltered Spark side would keep a row of
    // empty templates and diverge on any fixture with a NULL text).
    val triples = Tables(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(split(TextAnalysis.normalizeText(col("text")), " "),
          w => length(w) > 0).as("w"))
      .select(col("doc_id"),
        array_join(slice(col("w"), lit(1), expr("size(w) DIV 3")), " ").as("prompt"),
        array_join(slice(col("w"), expr("size(w) DIV 3 + 1"),
          expr("size(w) - size(w) DIV 3")), " ").as("chosen"),
        array_join(reverse(slice(col("w"), expr("size(w) DIV 3 + 1"),
          expr("size(w) - size(w) DIV 3"))), " ").as("rejected"))
    TextAnalysis.dpoPairs(triples, "doc_id", "prompt", "chosen", "rejected", maxTokens = 64)
      .withColumnRenamed("id", "doc_id")
      .transform(Materialize.shared)
      .orderBy("doc_id")
  }

  /** SFT PACKED WINDOWS — the instruction-tuning pipeline's ENDPOINT,
    * composing the round's two preps: [[sftExamplesQ]]'s chat-template
    * examples (exact post-truncation token counts) FFD-pack into
    * 256-token windows via [[TextAnalysis.packedWindowLayout]], and
    * each bin reports what an SFT trainer's loader actually monitors —
    * member count, used/pad tokens, SUPERVISED tokens (response + end
    * tag, the mask-1 region) and the supervised fraction in exact ppm
    * (the utilization number that decides whether prompt-heavy data is
    * worth its window space). One narrow example map, the packer's one
    * shard shuffle — the supervised counts ride the layout scan as a
    * carry column (r18 advice: the earlier doc-keyed join back to the
    * examples frame re-ran the whole normalize/split/truncation chain
    * a second time AND paid a second exchange), one bin rollup. */
  val sftPackedLayout: Q = (s, dir) => {
    val ex = sftExamplesQ(s, dir)
    val docs = ex.select(col("doc_id"), col("n_tokens").cast("long").as("nt"),
        (col("n_response_tokens") + 1).cast("long").as("sup"))
      .withColumn("shard_id", Sampling.shardAssign(col("doc_id"), 8))
    val lay = TextAnalysis.packedWindowLayout(docs, Seq("shard_id"), "doc_id",
      col("nt"), windowTokens = 256, carryCols = Seq("sup"))
    lay.groupBy("shard_id", "bin_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("used_tokens"),
        greatest(lit(256L) - sum("n_tokens"), lit(0L)).as("pad_tokens"),
        sum("sup").as("supervised_tokens"),
        array_sort(collect_list(struct(col("seq_in_bin").as("s"),
          col("doc_id").as("id")))).as("ms"))
      .select(col("shard_id"), col("bin_id"), col("n_docs"), col("used_tokens"),
        col("pad_tokens"), col("supervised_tokens"),
        expr("CAST(supervised_tokens * 1000000 DIV used_tokens AS BIGINT)")
          .as("supervised_ppm"),
        array_join(transform(col("ms"), m => m.getField("id").cast("string")), ",")
          .as("doc_ids"))
      .orderBy("shard_id", "bin_id")
  }

  /** DPO PACKED WINDOWS — the preference-pair twin of
    * [[sftPackedLayout]] with the constraint SFT packing doesn't have:
    * a DPO loss subtracts per-token logprobs of the CHOSEN and
    * REJECTED sequences of one triple, so both MUST land in the same
    * window set — packing the branches independently can split a pair
    * across shards/bins and the loss step would need a cross-window
    * gather. The layout packs each pair as ONE unit of size
    * `max(len_chosen, len_rejected)`: the bin assignment then
    * materializes as TWO aligned window streams (the chosen view and
    * the rejected view), where pair k occupies the SAME slot span
    * [token_offset, token_offset + unit) in both — the shorter branch
    * pads inside its slot. Pair affinity holds BY CONSTRUCTION, not by
    * a post-hoc constraint solve.
    *
    * The fixture derives an ASYMMETRIC rejected branch (the first half
    * of the reversed continuation) so `max` genuinely selects and the
    * two branches' truncation overflows differ — a layout that packed
    * on the wrong branch's length hash-fails. Per bin: pair count,
    * used units, pad, per-view token totals and per-view fill ppm (the
    * number that tells a DPO trainer how much window space the
    * two-view layout wastes vs packing each branch alone). Same scale
    * shape as the SFT endpoint: one narrow prep map, the packer's one
    * shard shuffle (token counts ride [[TextAnalysis
    * .packedWindowLayout]]'s carry columns — no join back), one bin
    * rollup. */
  val dpoPackedLayout: Q = (s, dir) => {
    val triples = Tables(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(split(TextAnalysis.normalizeText(col("text")), " "),
          w => length(w) > 0).as("w"))
      .select(col("doc_id"),
        array_join(slice(col("w"), lit(1), expr("size(w) DIV 3")), " ").as("prompt"),
        array_join(slice(col("w"), expr("size(w) DIV 3 + 1"),
          expr("size(w) - size(w) DIV 3")), " ").as("chosen"),
        array_join(slice(reverse(slice(col("w"), expr("size(w) DIV 3 + 1"),
            expr("size(w) - size(w) DIV 3"))), lit(1),
          expr("(size(w) - size(w) DIV 3) DIV 2")), " ").as("rejected"))
    dpoPairAffinityPack(TextAnalysis.dpoPairs(
      triples, "doc_id", "prompt", "chosen", "rejected", maxTokens = 64))
  }

  /** The pair-affinity packer + bin rollup shared by
    * [[dpoPackedLayout]] and [[rmPairsToDpo]] — one layout source, so
    * the synthetic-fixture endpoint and the real-pipeline endpoint
    * cannot drift. Input: [[TextAnalysis.dpoPairs]]' output frame. */
  private def dpoPairAffinityPack(prepped: DataFrame): DataFrame = {
    val pairs = prepped
      .select(col("id").as("doc_id"),
        length(col("chosen_mask")).cast("long").as("ntc"),
        length(col("rejected_mask")).cast("long").as("ntr"))
      .select(col("doc_id"), col("ntc"), col("ntr"),
        greatest(col("ntc"), col("ntr")).as("unit"))
      .withColumn("shard_id", Sampling.shardAssign(col("doc_id"), 8))
    val lay = TextAnalysis.packedWindowLayout(pairs, Seq("shard_id"), "doc_id",
      col("unit"), windowTokens = 256, carryCols = Seq("ntc", "ntr"))
    lay.groupBy("shard_id", "bin_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum("n_tokens").as("used_units"),
        greatest(lit(256L) - sum("n_tokens"), lit(0L)).as("pad_tokens"),
        sum("ntc").as("chosen_tokens"),
        sum("ntr").as("rejected_tokens"),
        array_sort(collect_list(struct(col("seq_in_bin").as("s"),
          col("doc_id").as("id")))).as("ms"))
      .select(col("shard_id"), col("bin_id"), col("n_pairs"), col("used_units"),
        col("pad_tokens"), col("chosen_tokens"), col("rejected_tokens"),
        expr("CAST(chosen_tokens * 1000000 DIV used_units AS BIGINT)")
          .as("chosen_fill_ppm"),
        expr("CAST(rejected_tokens * 1000000 DIV used_units AS BIGINT)")
          .as("rejected_fill_ppm"),
        array_join(transform(col("ms"), m => m.getField("id").cast("string")), ",")
          .as("doc_ids"))
      .orderBy("shard_id", "bin_id")
  }

  /** GENERATION → SELECTION → PAIR → PACK, end to end — the r19
    * verdict's "one hop short" closed: [[rmPairsFromN]]'s REAL (best,
    * worst) candidate pairs (not `dpo_pairs`' synthetic
    * reversed-continuation fixture) feed the DPO truncation chain and
    * the pair-affinity packer, all in ONE declarative plan. The scored
    * frame is [[bestOfNScoredOn]] with carried candidate texts (the
    * struct ordering is untouched, so selection here and in
    * `rm_pairs_from_n` is the same max/min — spec-pinned), the pair
    * read keeps the `inline(array(struct))` single-eval barrier and
    * the margin-0 drop, and the packer + rollup are
    * [[dpoPairAffinityPack]] verbatim. Candidates are same-length
    * rotations, so chosen/rejected units tie by construction here —
    * the asymmetric-max policy stays pinned by `dpo_packed_layout`.
    * Scale: one narrow scored map (no join back — the plan contains NO
    * join at all, spec-pinned), the packer's shard exchange, one bin
    * rollup. */
  val rmPairsToDpo: Q = (s, dir) => {
    val scored = bestOfNScoredOn(
      spreadForCompute(s, Tables(s, dir, "documents")), withText = true)
    val pairs = scored.select(col("doc_id"), col("pw"),
        inline(array(struct(
          array_max(col("cands")).as("best"),
          array_min(col("cands")).as("worst")))))
      .filter(col("best").getField("reward") - col("worst").getField("reward") > 0)
      .select(col("doc_id"),
        array_join(col("pw"), " ").as("prompt"),
        col("best").getField("ctext").as("chosen"),
        col("worst").getField("ctext").as("rejected"))
    dpoPairAffinityPack(TextAnalysis.dpoPairs(
      pairs, "doc_id", "prompt", "chosen", "rejected", maxTokens = 64))
  }

  /** Synthesized 8×8 BMPs → dHash signatures for a frame carrying
    * (doc_id, p, nx, ny): texture cluster p, noise pixel (nx, ny).
    * Stored BMP rows are bottom-up: byte position i covers stored row
    * i DIV 8 = image row 7 − (i DIV 8), column i % 8; grays stay in
    * 1..126 so utf-8 encodes each as ONE byte. The texture hash is
    * the portable hash60 rule (first 15 md5 hex chars as BIGINT).
    * The [[MediaModality]] Image synth, and the caption family's image half. */
  private[queries] def mediaSigsFor(d: DataFrame): DataFrame = {
    // Round-21: same pixel rule as the original SQL-string form
    // (conv(substring(md5(...),1,15),16,10) per pixel) but the hash
    // runs through the compiled Md5Hash60 kernel — 64 builtin-chain
    // hashes per row were the synth's dominant cost. Values identical.
    val pix = array_join(transform(sequence(lit(0), lit(63)), i => {
      val ix = i % lit(8)
      val iy = lit(7) - shiftright(i, 3)
      val h = Sampling.hash60(concat(lit("img:"), col("p").cast("string"),
        lit(":"), ix.cast("string"), lit(":"), iy.cast("string")))
      val v = ((h % 126 +
        when(ix === col("nx") && iy === col("ny"), 63).otherwise(0)) % 126).cast("int")
      repeat(chr((lit(1) + v).cast("long")), 3)
    }), "")
    val header: Array[Byte] = Array[Byte](
      'B', 'M',
      246.toByte, 0, 0, 0, // file size 54 + 192, LE
      0, 0, 0, 0,          // reserved
      54, 0, 0, 0,         // pixel data offset
      40, 0, 0, 0,         // info header size
      8, 0, 0, 0,          // width
      8, 0, 0, 0,          // height
      1, 0, 24, 0,         // planes, bpp
      0, 0, 0, 0,          // BI_RGB
      192.toByte, 0, 0, 0  // image size
    ) ++ new Array[Byte](16) // ppm + palette fields
    val bmp = concat(lit(header), to_binary(pix, lit("utf-8")))
    val media = d.select(col("doc_id"),
      Multimodal.mediaStruct(bmp, lit("image/bmp"), lit(8), lit(8), lit(1)).as("media"))
    Multimodal.imageDHash(media, "doc_id", "media", grid = 8)
  }

  /** The params frame (doc_id, p, nx, ny) every media family
    * synthesizes from: texture cluster p = src DIV 8 and noise pixel
    * (nx, ny) = (src % 8, (src DIV 8) % 8) of each row's SOURCE id
    * `src` ([[echoSource]]) — one texture per 8-doc cluster, one noisy
    * pixel per doc. The corpus is `off` = None; the day-2 echo batch is
    * `off` = max(doc_id) + 1, every corpus row arriving again under
    * id doc_id + off. BIGINT p: p·hash-mix overflows INT under ANSI. */
  private[queries] def mediaParams(docs: DataFrame, off: Option[Long]): DataFrame =
    docs.select(off.fold(col("doc_id"))(col("doc_id") + lit(_)).as("doc_id"))
      .select(col("doc_id"), echoSource(col("doc_id"), off).as("src"))
      .selectExpr("doc_id", "CAST(src DIV 8 AS BIGINT) AS p",
        "CAST(src % 8 AS BIGINT) AS nx", "CAST((src DIV 8) % 8 AS BIGINT) AS ny")

  /** The corpus id a media row's content comes from: its own `id`, or
    * in the echo batch (ids shifted by `off`) the ORIGINAL id when
    * hb < 85 — a re-post of an existing corpus item; the rest are
    * genuinely new (their own shifted id, beyond every corpus cluster). */
  private def echoSource(id: Column, off: Option[Long]): Column = off.fold(id) { o =>
    val orig = id - lit(o)
    when(Sampling.hashBucket256(orig) < 85, orig).otherwise(id)
  }

  /** The (id, members…) signatures of modality `m` over the corpus
    * (`off` = None) or its echo batch. Synthesis, decode and hashing
    * are heavy narrow compute, so the input spreads first (the
    * single-file one-task trap) where the family's placement says. */
  private[queries] def mediaSigs(s: SparkSession, dir: String, m: MediaModality,
      off: Option[Long]): DataFrame = {
    import MediaModality.SpreadAt
    val docs = Tables(s, dir, "documents")
    val params = m.spreadAt match {
      case SpreadAt.Docs => mediaParams(spreadForCompute(s, docs), off)
      case SpreadAt.Params => spreadForCompute(s, mediaParams(docs, off))
      case SpreadAt.Never => mediaParams(docs, off)
    }
    m.sigs(params, echoSource(col("doc_id"), off))
  }

  /** The verified corpus near-dup pairs of modality `m`. */
  private def mediaPairs(s: SparkSession, dir: String, m: MediaModality): DataFrame =
    m.pairs(mediaSigs(s, dir, m, None), MaxBucket)

  /** The duplicate clusters of modality `m`: the transitive closure of
    * its pair graph ([[Dedup.connectedComponents]] — the same
    * pointer-jumping min-label CC every text dedup family uses) plus
    * the keep-one rule, each cluster keeping its minimum member id
    * (`keep = 1`). Pairs say "these two look alike", clusters say
    * "store one of these". */
  private def mediaClusters(s: SparkSession, dir: String, m: MediaModality): DataFrame =
    Dedup.connectedComponents(mediaPairs(s, dir, m).select("id_a", "id_b"))
      .select(col("id").as("doc_id"), col("comp").as("component"),
        (col("id") === col("comp")).cast("int").as("keep"))
      .orderBy("doc_id")

  /** IMAGE NEAR-DUP — the first stage of every image-text curation
    * pipeline (the LAION recipe), composing the multimodal decode path
    * with the banded-fingerprint dedup machinery: deterministic 8×8
    * 24-bit BMPs are synthesized IN-PLAN (md5-textured, one texture
    * per 8-doc CLUSTER `doc_id DIV 8`, plus ONE per-doc noisy pixel —
    * so cluster-mates are NEAR-duplicate images, not byte-identical),
    * REALLY decoded ([[Multimodal.imageDHash]] — ImageIO, integer
    * Rec.601 luminance, horizontal-gradient dHash), and paired by
    * [[Dedup.bitSignaturePairs]] (4×14-bit LSH bands, bucket-capped,
    * exact Hamming ≤ 4 verify — never all-pairs). A noisy pixel flips
    * at most 2 dHash bits, so within-cluster Hamming ≤ 4 by
    * construction. maxHamming = 4 ≥ bands = 4 means the generic
    * pigeonhole guarantee is OFF (see [[Dedup.bitSignaturePairs]]'
    * recall warning) — recall here rests on the noise being
    * ROW-CONFINED: cluster-mates share ny = (doc_id DIV 8) % 8, so
    * every differing bit of a within-cluster pair lies in that ONE
    * 7-bit dHash row, which spans at most 2 of the 4 14-bit bands —
    * at least 2 shared bands always stay intact and every true pair
    * banded-matches; the md5 pixel textures make cross-cluster dHash
    * collisions vanish (the first-revision XOR mix left correlated
    * low bits — 307k phantom cross-cluster pairs at 10×, caught by
    * the probe; md5: zero). Cluster SIZE is fixed at 8 and cluster
    * COUNT grows with the corpus — the realistic duplication shape
    * (each image has O(1) dups), so pair volume scales LINEARLY and
    * buckets never approach the cap. Every pixel, bit, band, and
    * distance is closed-form integer arithmetic — the oracle states
    * the decoded pixels independently, so the gate only passes when
    * the REAL decoder ran. */
  val mediaDedupFeatures: Q = (s, dir) =>
    mediaPairs(s, dir, MediaModality.Image).orderBy("id_a", "id_b")

  /** The synthetic CAPTION of doc `docId` in image-cluster `p` — the
    * multimodal crawl's text half: 30 cluster-shared words plus 2
    * per-doc trailing noise words, i.e. a PARAPHRASE of its
    * cluster-mates' captions (shingle Jaccard ≈ 28/32 within a
    * cluster, ~0 across — noise words are 'n'-prefixed so they can
    * never equal a 'w' cluster word). Words are hash60-derived (the
    * r17 texture lesson: md5 mixing, never multiplicative XOR), so
    * the oracle states every word closed-form. */
  private[queries] def captionFor(p: Column, docId: Column): Column =
    array_join(transform(sequence(lit(0), lit(31)), i =>
      when(i < 30,
        concat(lit("w"), (Sampling.hash60(concat(lit("cap:"), p.cast("string"),
          lit(":"), i.cast("string"))) % 1000).cast("string")))
        .otherwise(
          concat(lit("n"), (Sampling.hash60(concat(lit("capn:"), docId.cast("string"),
            lit(":"), i.cast("string"))) % 1000).cast("string")))), " ")

  /** The (id, tsig, isig) signature frame of a caption+image params
    * frame (doc_id, p, nx, ny): image dHash from the BMP synth,
    * caption MinHash scan-side on top of it. The caption's cluster is
    * that of the row's source id `src` (a column over the post-sig
    * `doc_id`: the dHash synth keeps only the id, so in the echo batch
    * the original id is recovered from the offset). Shared — the
    * crossModalPairs caller note. */
  private[queries] def captionSigFrame(params: DataFrame, src: Column): DataFrame =
    captionSigs(params, src).transform(Materialize.shared)

  /** [[captionSigFrame]] before it is shared: narrow expressions and
    * mapPartitions only, so it also runs on a streaming DataFrame. */
  private def captionSigs(params: DataFrame, src: Column): DataFrame =
    mediaSigsFor(params).withColumn("src", src)
      .select(col("doc_id").as("id"), col("sig").as("isig"),
        Dedup.minHashSignatureP(Dedup.shingleMd5(
          captionFor(expr("CAST(src DIV 8 AS BIGINT)"), col("doc_id"))), 32).as("tsig"))

  /** CROSS-MODAL (caption, image) JOINT near-dup —
    * [[Dedup.crossModalPairs]] over the image family's dHash corpus
    * and its caption twin: the multimodal crawl's common duplicate is
    * the SAME image under a PARAPHRASED caption, which text dedup
    * alone (different noise words) and image dedup alone (legitimate
    * image reuse) each misjudge. Candidates must share a composite
    * (text MinHash band × image dHash band) bucket and verify on BOTH
    * modalities (est. Jaccard ≥ 0.3 AND Hamming ≤ 4). ZERO new shuffle
    * machinery — the composite rides the banded skeleton; the (id,
    * tsig, isig) frame is `Materialize.shared` (the crossModalPairs
    * caller note: both the bucket derivation and the
    * member struct consume the signatures, and an unmaterialized
    * MinHash would compute twice per row). The oracle replays BOTH
    * band families — every caption word, shingle, affine remix, band
    * key, pixel, dHash bit, composite bucket, and both verifies. */
  val mediaCaptionDedup: Q = (s, dir) =>
    mediaPairs(s, dir, MediaModality.Caption).orderBy("id_a", "id_b")

  /** The ingest-door key pair of the cross-modal family: per arriving
    * (caption, image) row of a corpus params stream, the caption
    * MinHash rendered to its md5 witness plus the raw image dHash — the
    * SAME derivation as the batch signatures ([[captionSigs]], the
    * batch/stream-shared rule). A re-posted pair (identical image,
    * identical caption) collides on BOTH keys. */
  private[queries] def captionStreamKeys(params: DataFrame): DataFrame =
    captionSigs(params, col("doc_id")).select(
      md5(to_binary(concat_ws(",", transform(col("tsig"), _.cast("string"))), lit("utf-8")))
        .as("tsig_md5"),
      col("isig"))

  /** DAY-2 CROSS-MODAL DEDUP — [[incrementalProbe]] on the COMPOSITE
    * (text band × image band) keys: an echo re-post is an EXISTING
    * corpus image under a new id with a PARAPHRASED caption (same
    * cluster words, fresh noise words — exactly the multimodal crawl's
    * common dup), and a match must pass BOTH verifies. Every caption
    * word, shingle, remix, band key, pixel, dHash bit and both
    * distances replay in the oracle. */
  val mediaCaptionDedupIncremental: Q = (s, dir) =>
    incrementalProbe(s, dir, MediaModality.Caption, None)

  /** DELETE PATH for the persisted composite (caption × image) index —
    * [[mediaForget]]'s cross-modal sibling: a forgotten (caption, image)
    * pair's 32 composite band rows are masked at probe time, and its
    * paraphrase re-post drops out of `n_dups` exactly. */
  val mediaCaptionForget: Q = (s, dir) =>
    incrementalProbe(s, dir, MediaModality.Caption, Some("left_anti"))

  /** DATASET CARD — the summary bundle a published dataset ships
    * (the HF dataset-card / Datasheets-for-Datasets numbers), computed
    * as ONE declarative union of bounded aggregates: corpus size
    * (docs, chars, whitespace words, distinct sources), the language
    * distribution, the exact discrete quality quartiles (micro units —
    * the curriculum boundary rule), and the exact-duplicate census.
    * Every row is (section, metric, value) in exact integers; each
    * fragment reuses an already-gated oracle pattern, so the card can
    * never drift from the operators it summarizes. Scale: four
    * bounded aggregates over two corpus scans' worth of work — no row
    * explosion, no collect. */
  val datasetCard: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val sizeRows = d.agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("n_chars"),
        sum(size(split(col("text"), " +")).cast("long")).as("n_words"),
        countDistinct("source").as("n_sources"))
      .selectExpr("stack(4, 'size', 'n_docs', n_docs, 'size', 'n_chars', n_chars, " +
        "'size', 'n_words', n_words, 'size', 'n_sources', n_sources) AS (section, metric, value)")
    val langs = d.groupBy(col("lang").as("metric"))
      .agg(count(lit(1)).as("value"))
      .select(lit("lang").as("section"), col("metric"), col("value"))
    val scored = d.select(
      when(length(col("text")) > 0,
        round(TextAnalysis.qualityScore(col("text")) * 1000000).cast("long")).as("q_micro"))
    val qb = graft.operators.HistogramQuantile.boundaries(
        scored, Nil, "q_micro", Seq(("p25", 0.25), ("p50", 0.5), ("p75", 0.75)))
      .selectExpr("stack(3, 'quality', 'q_p25_micro', p25, 'quality', 'q_p50_micro', p50, " +
        "'quality', 'q_p75_micro', p75) AS (section, metric, value)")
    val dup = d.groupBy(TextAnalysis.fingerprintMd5(col("text")).as("h"))
      .agg(count(lit(1)).as("n"))
      .agg(sum(when(col("n") > 1, 1L).otherwise(0L)).as("dup_groups"),
        sum(when(col("n") > 1, col("n") - 1).otherwise(0L)).as("redundant_docs"))
      .selectExpr("stack(2, 'dedup', 'n_exact_dup_groups', dup_groups, " +
        "'dedup', 'n_redundant_docs', redundant_docs) AS (section, metric, value)")
    sizeRows.unionByName(langs).unionByName(qb).unionByName(dup)
      .orderBy("section", "metric")
  }

  /** T5-style span corruption ([[TextAnalysis.spanCorruption]]): the
    * denoising-objective (input, target) pairs with sentinel tokens,
    * masking decided by the portable per-(doc, block) hash rule — the
    * oracle replays every mask bit, sentinel index, and assembled
    * string. One narrow scan-side map. */
  val spanCorruptionQ: Q = (s, dir) =>
    TextAnalysis.spanCorruption(spreadForCompute(s, Tables(s, dir, "documents")), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .transform(Materialize.shared)
      .orderBy("doc_id")

  /** SFT / CHAT-TEMPLATE prep gate ([[TextAnalysis.sftExamples]]) —
    * the instruction-tuning twin of `span_corruption`. The fixture has
    * no (prompt, response) pairs, so the gate derives them
    * deterministically (the `boilerplate_removal` in-plan convention):
    * the first `n DIV 3` normalized words are the prompt, the rest the
    * response — both engines split identically. `maxTokens = 64`
    * makes the truncation policy FIRE on roughly the longer half of
    * the fixture (docs run 10–99 tokens), so both the truncated and
    * untruncated regimes are inside the hash. The compared output
    * includes the assembled template string AND the aligned '0'/'1'
    * loss mask — a mask off by one token anywhere hash-fails. */
  val sftExamplesQ: Q = (s, dir) => {
    // NULL text drops the doc (the spanCorruption convention,
    // TextAnalysis.scala:128) — keeps Spark and the oracle's
    // unnest-over-NULL drop behavior aligned on NULL-text fixtures.
    val paired = Tables(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(split(TextAnalysis.normalizeText(col("text")), " "),
          w => length(w) > 0).as("w"))
      .select(col("doc_id"),
        array_join(slice(col("w"), lit(1), expr("size(w) DIV 3")), " ").as("prompt"),
        array_join(slice(col("w"), expr("size(w) DIV 3 + 1"),
          expr("size(w) - size(w) DIV 3")), " ").as("response"))
    TextAnalysis.sftExamples(paired, "doc_id", "prompt", "response", maxTokens = 64)
      .withColumnRenamed("id", "doc_id")
      .transform(Materialize.shared)
      .orderBy("doc_id")
  }

  /** IMAGE DUPLICATE CLUSTERS — [[mediaClusters]] over
    * [[mediaDedupFeatures]]' pair graph: the decision output of the
    * image pipeline ("store one of these eight"). The oracle replays
    * the pair chain and the closure itself (a recursive reachability
    * CTE taking min labels), so the component ids are hash-verified,
    * not just the pairs. */
  val mediaDedupClusters: Q = (s, dir) => mediaClusters(s, dir, MediaModality.Image)

  /** CROSS-MODAL DUPLICATE CLUSTERS — [[mediaClusters]] over
    * [[mediaCaptionDedup]]' joint pair graph: joint pairs say "these
    * two (caption, image) pairs look alike", clusters say "store one of
    * these". The oracle replays the composite pair chain AND the
    * closure, so component ids are hash-verified end to end. */
  val mediaCaptionClusters: Q = (s, dir) => mediaClusters(s, dir, MediaModality.Caption)

  /** The persisted band index of modality `m` — (bucket, c_id,
    * c_<member>…) as a `bucketBy(bucket)` table, built once per dir and
    * shared by the day-2 probe, the forget mask and the compliance
    * report (one builder under the cache key — the bm25IndexTables
    * lesson). */
  private[graft] def sigIndexTable(s: SparkSession, dir: String, m: MediaModality): String =
    Artifacts.getOrBuild(m.kind, Seq(Tables(s, dir, "documents"))) { a =>
      a.bucketedTable(m.table, "bucket", m.bandKeys(mediaSigs(s, dir, m, None))
        .select(col("bucket") +: col("id").as("c_id") +: m.members.map(c => col(c).as(s"c_$c")): _*))
    }

  /** The tombstone mask over a persisted index relation — the
    * ann_ivf_forget pattern verbatim (broadcast anti-join on the
    * index's id column; the index file is NEVER rewritten; a broadcast
    * join adds zero exchanges to the zero-Exchange bucketed probe).
    * `joinType` is "left_anti" for the live view; the MediaForgetSpec
    * replay inverts it to "left_semi" to read the deleted-only view,
    * which must account exactly for the live view's losses. */
  private[queries] def maskIndex(s: SparkSession, dir: String, idx: DataFrame,
      idCol: String, joinType: String): DataFrame =
    idx.join(broadcast(Tables(s, dir, "documents")
        .filter(isForgetDoc50(col("doc_id"))).select(col("doc_id").as(idCol))),
      Seq(idCol), joinType)

  /** DAY-2 MEDIA DEDUP — the persisted deploy shape of every media
    * family's pairs gate (the `dedup_incremental_bucketed` /
    * `ann_ivf_persisted` layout investment applied to perceptual
    * signatures). The corpus's band keys persist ONCE
    * ([[sigIndexTable]]); a new batch — the echo convention
    * ([[mediaParams]]: hb < 85 re-encodes an EXISTING corpus item under
    * a new id, the rest are genuinely new) — computes its signatures
    * scan-side, explodes its own band keys, and probes the index with
    * ZERO Exchange on the index side (plan-pinned). Per batch row: the
    * count of DISTINCT corpus items passing the modality's verify and
    * the `dup_corpus`/`new` status — the first question a media-crawl
    * ingest asks. Every pixel, sample, bit, band and distance replays
    * in the oracle.
    *
    * `mask` = None | Some("left_anti") | Some("left_semi"): the
    * incremental gate and the forget gate read the SAME persisted index
    * and echo batch, so the two cannot drift. The forget gate masks
    * deleted corpus items ([[isForgetDoc50]]) at probe time with a
    * broadcast anti-join ([[maskIndex]] — the FAISS-IDSelector / Lucene
    * deleted-docs pattern the IVF and BM25 forgets ship): the index
    * file is never rewritten, the probe keeps its zero-Exchange
    * bucketed scan (plan-pinned in MediaForgetSpec), and a masked
    * item's echo re-encode drops out of `n_dups` exactly — the
    * deleted-only inverse probe accounts for every lost match. Without
    * the mask a persisted index keeps a forgotten item matching every
    * future ingest, which for a legal delete is precisely wrong.
    *
    * GATE-ONLY bootstrap: the batch id offset is max(doc_id) + 1 (one
    * bounded driver read, an [[Artifacts]] value shared with
    * [[echoBase]]), so the synthetic echo batch is reproducible from
    * the fixture alone; a production ingest gets the offset from its
    * ingest CONTRACT (batch sequence number / ingestion timestamp). */
  private[graft] def incrementalProbe(s: SparkSession, dir: String, m: MediaModality,
      mask: Option[String]): DataFrame = {
    val idxTable = sigIndexTable(s, dir, m)
    val batch = mediaSigs(s, dir, m, Some(maxDocId(s, dir) + 1L))
    val idx = mask.fold(s.table(idxTable))(maskIndex(s, dir, s.table(idxTable), "c_id", _))
    val hits = m.bandKeys(batch)
      .join(idx, Seq("bucket"))
      .filter(m.verify(col, c => col(s"c_$c")))
      .groupBy(col("id"))
      .agg(countDistinct(col("c_id")).as("n_dups"))
    batch.select(col("id"))
      .join(hits, Seq("id"), "left_outer")
      .na.fill(0L, Seq("n_dups"))
      .select(col("id").as("doc_id"), col("n_dups"),
        when(col("n_dups") > 0, lit("dup_corpus")).otherwise(lit("new")).as("status"))
      .orderBy("doc_id")
  }

  /** DAY-2 IMAGE DEDUP — [[incrementalProbe]] on the dHash band index:
    * distinct corpus images within Hamming ≤ 4 per batch image. */
  val mediaDedupIncremental: Q = (s, dir) =>
    incrementalProbe(s, dir, MediaModality.Image, None)

  /** DELETE PATH for the persisted image band index — `ann_ivf_forget`'s
    * perceptual twin ([[incrementalProbe]] with the tombstone mask);
    * oracle: the shared replay with the mask predicate on the corpus
    * side of the band join. */
  val mediaForget: Q = (s, dir) =>
    incrementalProbe(s, dir, MediaModality.Image, Some("left_anti"))

  /** REAL image decode through the driver gate: a deterministic 24-bit
    * BMP payload is synthesized IN-PLAN for every document (fixed
    * 54-byte header via binary literals + chr()-built variable bytes;
    * width pinned to 4 px so pixel rows need no padding, height
    * 1 + doc_id % 3, uniform gray 1 + doc_id % 120), then decoded by
    * [[Multimodal.extractFeatures]] — `looksLikeImage` sees the BM
    * magic and ImageIO parses the real format. The oracle states the
    * expected decoded dimensions independently; they only match when
    * the REAL decoder ran (the stub fallback would emit byte-sum
    * features, not (4, h)). Complements `media_features`, which
    * deliberately exercises the stub path on non-image payloads. */
  val mediaDecodeBmp: Q = (s, dir) => {
    val d = Tables(s, dir, "documents").select(
      col("doc_id"),
      expr("CAST(1 + doc_id % 3 AS INT)").as("h"),
      expr("CAST(1 + doc_id % 120 AS INT)").as("g"))
    def chrB(c: org.apache.spark.sql.Column) = to_binary(chr(c), lit("utf-8"))
    val z3 = lit(Array[Byte](0, 0, 0))
    val bmp = concat(
      to_binary(lit("BM"), lit("utf-8")),                 // magic
      chrB(col("h") * 12 + 54), z3,                        // file size LE (< 128)
      lit(Array[Byte](0, 0, 0, 0, 54, 0, 0, 0)),           // reserved + data offset
      lit(Array[Byte](40, 0, 0, 0, 4, 0, 0, 0)),           // info header size + width=4
      chrB(col("h")), z3,                                  // height LE
      lit(Array[Byte](1, 0, 24, 0, 0, 0, 0, 0)),           // planes=1, bpp=24, BI_RGB
      chrB(col("h") * 12), z3,                             // image size LE
      lit(new Array[Byte](16)),                            // ppm + palette fields = 0
      to_binary(expr("repeat(chr(g), h * 12)"), lit("utf-8"))) // pixels: h rows x 4 px x BGR
    val media = d.select(col("doc_id"),
      Multimodal.mediaStruct(bmp, lit("image/bmp"), lit(4), col("h"), lit(1)).as("media"))
    Multimodal.extractFeatures(media, "doc_id", "media", dims = 4)
      .select(col("doc_id"),
        element_at(col("features"), 1).cast("int").as("width"),
        element_at(col("features"), 2).cast("int").as("height"))
      .orderBy("doc_id")
  }

  /** REAL PNG decode through the driver gate — the
    * [[Multimodal.synthesizePng]] payloads (uniform gray, w = 1 +
    * doc_id % 5, h = 1 + doc_id % 3, gray = doc_id % 256) are encoded
    * by ImageIO IN-PLAN and decoded by the same
    * [[Multimodal.extractFeatures]] path the BMP query drives. PNG is
    * lossless, so the oracle states width/height AND the recovered
    * gray level (mean luminance × 255, exact to rounding) without ever
    * seeing the payload bytes — all three columns match only when the
    * REAL decoder ran. Narrow map end-to-end: encode and decode are
    * the same mapPartitions scale shape, no shuffle. */
  val mediaDecodePng: Q = (s, dir) => {
    val d = Tables(s, dir, "documents").select(
      col("doc_id"),
      expr("CAST(1 + doc_id % 5 AS INT)").as("w"),
      expr("CAST(1 + doc_id % 3 AS INT)").as("h"),
      expr("CAST(doc_id % 256 AS INT)").as("g"))
    val media = Multimodal.synthesizePng(d, "doc_id", "w", "h", "g")
    Multimodal.extractFeatures(media, "doc_id", "media", dims = 4)
      .select(col("doc_id"),
        element_at(col("features"), 1).cast("int").as("width"),
        element_at(col("features"), 2).cast("int").as("height"),
        round(element_at(col("features"), 3) * 255).cast("int").as("gray"))
      .transform(Materialize.shared)
      .orderBy("doc_id")
  }

  /** REAL GIF decode through the driver gate — same pattern as the PNG
    * twin but through the JDK's GIF encoder/decoder pair
    * ([[Multimodal.synthesizeImage]] with format "gif"): GIF's palette
    * holds the single gray exactly, so (w, h, gray) fully determine the
    * decoded output and the oracle states all three independently.
    * Dimension/gray formulas deliberately differ from the PNG query so
    * the two gates can't mask each other. */
  val mediaDecodeGif: Q = (s, dir) => {
    val d = Tables(s, dir, "documents").select(
      col("doc_id"),
      expr("CAST(1 + doc_id % 6 AS INT)").as("w"),
      expr("CAST(1 + doc_id % 4 AS INT)").as("h"),
      expr("CAST((doc_id * 7) % 256 AS INT)").as("g"))
    val media = Multimodal.synthesizeImage(d, "doc_id", "w", "h", "g", "gif", "image/gif")
    Multimodal.extractFeatures(media, "doc_id", "media", dims = 4)
      .select(col("doc_id"),
        element_at(col("features"), 1).cast("int").as("width"),
        element_at(col("features"), 2).cast("int").as("height"),
        round(element_at(col("features"), 3) * 255).cast("int").as("gray"))
      .transform(Materialize.shared)
      .orderBy("doc_id")
  }

  /** REAL multi-frame (video-like) decode through the driver gate:
    * per doc an ANIMATED GIF of `2 + doc_id % 4` uniform-gray frames
    * ([[Multimodal.synthesizeGifFrames]]), sampled at stride 2 by the
    * ImageIO SEQUENCE reader ([[Multimodal.sampleImageFrames]] —
    * frame count read from the payload, each sampled frame re-encoded
    * lossless), then every frame through the ordinary
    * [[Multimodal.extractFeatures]] decode path. The oracle states
    * frame count × per-frame gray ((doc_id·13 + k·17) % 256 — formulas
    * disjoint from every other media gate) without seeing a payload:
    * a hash match proves sequence encode → frame count → per-frame
    * decode end-to-end. Narrow maps throughout; the frame fan-out is
    * scan-side. */
  val mediaVideoFrames: Q = (s, dir) => {
    val d = Tables(s, dir, "documents").select(
      col("doc_id"),
      expr("CAST(2 + doc_id % 4 AS INT)").as("nf"),
      expr("CAST(3 + doc_id % 5 AS INT)").as("w"),
      expr("CAST(2 + doc_id % 3 AS INT)").as("h"))
    // round 21: the GIF synth + two ImageIO decode passes otherwise run
    // in the fixture's single scan partition (JobProbe: 2 x 0.9 s
    // one-task stages) — spread across cores first
    val media = Multimodal.synthesizeGifFrames(
      spreadForCompute(s, d), "doc_id", "nf", "w", "h")(
      (id, k) => ((id * 13L + k * 17L) % 256L).toInt)
    val frames = Multimodal.sampleImageFrames(media, "doc_id", "media", stride = 2)
    val keyed = frames.select(
      struct(col("doc_id"), col("frame_idx")).as("fid"), col("frame"))
    Multimodal.extractFeatures(keyed, "fid", "frame", dims = 4)
      .select(col("fid.doc_id").as("doc_id"), col("fid.frame_idx").as("frame_idx"),
        element_at(col("features"), 1).cast("int").as("width"),
        element_at(col("features"), 2).cast("int").as("height"),
        round(element_at(col("features"), 3) * 255).cast("int").as("gray"))
      .orderBy("doc_id", "frame_idx")
  }

  /** SCENE-CUT detection over the animated-GIF pipeline — the first
    * video operator that looks ACROSS frames: every frame decoded
    * (stride 1), per-frame mean gray, and a cut flagged where the
    * inter-frame luminance delta exceeds 100/255 — the classic
    * histogram/intensity-difference shot-boundary heuristic, which on
    * the synthesized payloads fires exactly at the mod-256 wraps of
    * the gray formula (|Δ| is 17 within a scene, 239 at a wrap). The
    * cross-frame comparison is a per-doc window (lag over frame_idx):
    * a doc's frames always land in one task, so the sort never needs
    * salting — same argument as the substring island merge. Output is
    * per-doc (n_frames, n_cuts, first_cut; −1 when none), all
    * integers the oracle states from the closed form without seeing a
    * payload — the hash match proves decode → per-frame feature →
    * cross-frame windowing end-to-end. */
  val mediaVideoScenes: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val d = Tables(s, dir, "documents").select(
      col("doc_id"),
      expr("CAST(2 + doc_id % 4 AS INT)").as("nf"),
      expr("CAST(3 + doc_id % 5 AS INT)").as("w"),
      expr("CAST(2 + doc_id % 3 AS INT)").as("h"))
    // round 21: the GIF synth + two ImageIO decode passes otherwise run
    // in the fixture's single scan partition (JobProbe: 2 x 0.9 s
    // one-task stages) — spread across cores first
    val media = Multimodal.synthesizeGifFrames(
      spreadForCompute(s, d), "doc_id", "nf", "w", "h")(
      (id, k) => ((id * 13L + k * 17L) % 256L).toInt)
    val frames = Multimodal.sampleImageFrames(media, "doc_id", "media", stride = 1)
    val keyed = frames.select(
      struct(col("doc_id"), col("frame_idx")).as("fid"), col("frame"))
    val grays = Multimodal.extractFeatures(keyed, "fid", "frame", dims = 4)
      .select(col("fid.doc_id").as("doc_id"), col("fid.frame_idx").as("frame_idx"),
        round(element_at(col("features"), 3) * 255).cast("int").as("gray"))
    val byDoc = Window.partitionBy("doc_id").orderBy("frame_idx")
    grays
      .withColumn("delta", abs(col("gray") - lag("gray", 1).over(byDoc)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("delta") > 100, 1L).otherwise(0L)).as("n_cuts"),
        coalesce(min(when(col("delta") > 100, col("frame_idx"))).cast("long"),
          lit(-1L)).as("first_cut"))
      .orderBy("doc_id")
  }

  /** REAL JPEG decode through the driver gate. JPEG is lossy — an
    * in-plan synthesized payload has no engine-independent expected
    * pixels — so this gate decodes FIXED committed fixture files
    * ([[Multimodal.attachJpegFixture]], fixture = doc_id % 3) and the
    * oracle states each fixture's decoded dims + integer-quantized
    * sampled luminance mean/variance as pinned constants (measured once
    * from the committed bytes; decode of a fixed JPEG is deterministic
    * for a fixed decoder). The stub path would emit byte-sum features —
    * nothing like these constants — so a match proves the real decoder
    * ran. Narrow map end-to-end; fixture bytes live once per JVM. */
  val mediaDecodeJpeg: Q = (s, dir) => {
    val media = Multimodal.attachJpegFixture(
      Tables(s, dir, "documents").select("doc_id"), "doc_id")
    Multimodal.extractFeatures(media, "doc_id", "media", dims = 4)
      .select(col("doc_id"),
        element_at(col("features"), 1).cast("int").as("width"),
        element_at(col("features"), 2).cast("int").as("height"),
        round(element_at(col("features"), 3) * 10000).cast("int").as("lum_q"),
        round(element_at(col("features"), 4) * 10000).cast("int").as("var_q"))
      .orderBy("doc_id")
  }

  /** REAL resize through the driver gate — the one pipeline stage a
    * multimodal corpus always runs. Uniform-gray PNGs with VARYING
    * source dims (w = 2 + doc_id % 7, h = 2 + doc_id % 5, gray =
    * (doc_id * 11) % 256 — formulas disjoint from the PNG/GIF decode
    * gates so no gate masks another) are resized by
    * [[Multimodal.resizeMedia]] to a fixed 9×7, then decoded by the
    * same [[Multimodal.extractFeatures]] path. Bilinear resampling of a
    * constant image is that constant (verified exhaustively over gray
    * values and dim combos), and PNG re-encode is lossless, so the
    * oracle states all three output columns independently: dims =
    * (9, 7) — strictly OUTSIDE both source ranges (w ≤ 8, h ≤ 6), so
    * for EVERY row a match proves the resize transformed the payload
    * (5×3 would have collided with source dims at doc_id ≡ 31 mod 35,
    * letting a no-op resize pass on those rows) — and gray
    * preserved exactly through resize + re-encode + decode. Narrow
    * mapPartitions end-to-end: synthesize, resize, decode are all the
    * same no-shuffle scale shape. */
  val mediaResize: Q = (s, dir) => {
    val d = Tables(s, dir, "documents").select(
      col("doc_id"),
      expr("CAST(2 + doc_id % 7 AS INT)").as("w"),
      expr("CAST(2 + doc_id % 5 AS INT)").as("h"),
      expr("CAST((doc_id * 11) % 256 AS INT)").as("g"))
    val media = Multimodal.synthesizePng(d, "doc_id", "w", "h", "g")
    val resized = Multimodal.resizeMedia(media, "doc_id", "media", w = 9, h = 7)
    Multimodal.extractFeatures(resized, "doc_id", "media", dims = 4)
      .select(col("doc_id"),
        element_at(col("features"), 1).cast("int").as("width"),
        element_at(col("features"), 2).cast("int").as("height"),
        round(element_at(col("features"), 3) * 255).cast("int").as("gray"))
      .orderBy("doc_id")
  }

  /** INCREMENTAL dedup — the daily-increment production shape: a new
    * batch of documents dedups against the already-ingested corpus and
    * within itself, WITHOUT ever pairing against corpus text: only the
    * corpus's distinct content hashes participate (at 100 TB that side
    * is a compacted hash-table read, not a corpus rescan). Each new doc
    * gets a status: `dup_corpus` (hash already ingested), `new` (first
    * holder of a fresh hash in the batch), `dup_batch` (a smaller
    * doc_id in the same batch holds it). Plan shape: ONE shuffle on the
    * content hash serves BOTH the corpus-hash left join and the
    * min-per-hash window (the join output is already hash-partitioned,
    * so the window adds no exchange). The md5 hash-bucket split stands
    * in for the corpus/batch boundary on the fixture; the synthetic
    * corpus has NO exact dups, so the batch is salted in-plan with
    * deterministic echoes — re-ingested corpus docs (must come back
    * `dup_corpus`) and doubled batch docs (the copy must come back
    * `dup_batch`) — and the oracle replays the same injection, so all
    * three status paths are exercised by the gate. */
  /** Echo-injection offset: the smallest power of 10 with more digits
    * than max(doc_id) — corpus re-ingests echo at `+base`, doubled
    * batch docs at `+2·base`, so echo ids can NEVER collide with real
    * doc_ids at any scale factor (hardcoded +1e6/+2e6 would collide
    * once doc_ids pass a million). The rule is replayed in the oracle
    * integer-safely as `power(10, length(CAST(max AS VARCHAR)))`. */
  private def echoBase(s: SparkSession, dir: String): Long =
    math.pow(10, maxDocId(s, dir).toString.length).toLong

  /** max(doc_id) — the one corpus max every echo-injected gate derives
    * its ids from ([[echoBase]]; the day-2 media batch offset of
    * [[incrementalProbe]]). An [[Artifacts]] value: the max-scan is a
    * driver job, and the catalog's echo gates × bench reps would
    * otherwise re-run it on every build. */
  private def maxDocId(s: SparkSession, dir: String): Long = {
    val docs = Tables(s, dir, "documents")
    Artifacts.getOrBuild("echo_base", Seq(docs))(_ => docs.agg(max("doc_id")).head.getLong(0))
  }
  private val sqlEchoBase =
    "(SELECT CAST(power(10, length(CAST(max(doc_id) AS VARCHAR))) AS BIGINT) FROM documents)"

  /** Shared oracle for both incremental-dedup variants: the same
    * md5 hash-bucket corpus/batch split, the same DERIVED echo-offset
    * rule ([[echoBase]]), content-hash lookup, min-per-hash
    * first-holder rule. */
  private lazy val sqlDedupIncremental: String =
    s"""WITH bkt AS (SELECT doc_id,
       |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
       |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bk
       |  FROM documents),
       |d AS (SELECT d0.doc_id, text, bk FROM documents d0 JOIN bkt USING (doc_id)),
       |b AS (SELECT doc_id, md5(lower(text)) AS h FROM (
       |  SELECT doc_id, text FROM d WHERE bk >= 128
       |  UNION ALL SELECT doc_id + $sqlEchoBase, text FROM d WHERE bk < 8
       |  UNION ALL SELECT doc_id + 2 * $sqlEchoBase, text FROM d WHERE bk >= 128 AND bk < 136)),
       |old AS (SELECT DISTINCT md5(lower(text)) AS h FROM d WHERE bk < 128),
       |m AS (SELECT doc_id, h, min(doc_id) OVER (PARTITION BY h) AS first_id FROM b)
       |SELECT m.doc_id,
       |  CASE WHEN o.h IS NOT NULL THEN 'dup_corpus'
       |       WHEN m.doc_id = m.first_id THEN 'new'
       |       ELSE 'dup_batch' END AS status
       |FROM m LEFT JOIN old o ON m.h = o.h
       |ORDER BY doc_id""".stripMargin

  /** The echo-injected daily batch + the corpus split shared by both
    * incremental-dedup variants (in-plan vs persisted corpus). */
  private def incrementalFixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = echoBase(s, dir)
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"), Sampling.hashBucket256(col("doc_id")).as("bk"))
    val batch = d.filter(col("bk") >= 128).select("doc_id", "text")
      .union(d.filter(col("bk") < 8)
        .select((col("doc_id") + base).as("doc_id"), col("text")))
      .union(d.filter(col("bk") >= 128 && col("bk") < 136)
        .select((col("doc_id") + 2 * base).as("doc_id"), col("text")))
      .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("h"))
    val corpus = d.filter(col("bk") < 128)
    (batch, corpus)
  }

  /** The status rule shared by both variants: one shuffle on the
    * content hash serves BOTH the corpus-hash left join and the
    * min-per-hash window (the join output is already hash-partitioned,
    * so the window adds no exchange). */
  private def incrementalStatus(batch: DataFrame, oldHashes: DataFrame): DataFrame = {
    val w = Window.partitionBy("h")
    batch.join(oldHashes, Seq("h"), "left")
      .withColumn("first_id", min(col("doc_id")).over(w))
      .select(col("doc_id"),
        when(col("in_corpus").isNotNull, "dup_corpus")
          .when(col("doc_id") === col("first_id"), "new")
          .otherwise("dup_batch").as("status"))
      .orderBy("doc_id")
  }

  val dedupIncremental: Q = (s, dir) => {
    val (batch, corpus) = incrementalFixture(s, dir)
    val oldHashes = corpus
      .select(TextAnalysis.fingerprintMd5(col("text")).as("h")).distinct()
      .withColumn("in_corpus", lit(1))
    incrementalStatus(batch, oldHashes)
  }

  /** PERSISTED-corpus incremental dedup — the production daily-ingest
    * shape: the corpus' distinct content hashes live as a COMPACTED,
    * BUCKETED table (written once at ingest, `bucketBy(8, h)` sorted),
    * so the daily batch's lookup join consumes the bucketed scan
    * DIRECTLY — ZERO Exchange on the corpus side (plan-asserted in
    * PlanShapeSpec); only the small daily batch shuffles to meet the
    * corpus layout. At 100 TB the corpus hash table is the only
    * corpus-derived artifact the daily job ever reads — compacted
    * hashes, never text — and its bucketing amortizes across every
    * future increment. Same statuses/oracle as [[dedupIncremental]]
    * (bucketing changes layout, never results). */
  val dedupIncrementalBucketed: Q = (s, dir) => {
    val (batch, corpus) = incrementalFixture(s, dir)
    val hashTable = Artifacts.getOrBuild("corpus_hashes", Seq(corpus)) { a =>
      a.bucketedTable("graft_ch_b", "h",
        corpus.select(TextAnalysis.fingerprintMd5(col("text")).as("h")).distinct())
    }
    val oldHashes = s.table(hashTable).hint("merge").withColumn("in_corpus", lit(1))
    incrementalStatus(batch, oldHashes)
  }

  /** Inverted index build — token → (df, doc-id posting list): the
    * retrieval-side artifact of a corpus pipeline. `df` is the TRUE
    * document frequency; postings are capped at the 20 smallest
    * doc_ids via the map-side-pruned [[graft.operators.GroupTopK]]
    * (each scan partition keeps at most 20 candidates per token BEFORE
    * the shuffle), so the exchange carries O(k · tokens · partitions)
    * rows — never a full posting list, which for a head token at
    * 100 TB IS the corpus. The (doc, token) distinct is the one
    * corpus-sized shuffle (it defines df); everything after is
    * vocabulary-sized. Postings are emitted comma-joined (a varchar,
    * not an array) so every cross-engine comparator handles the column
    * — the list itself is bounded at k=20 entries, so the string is
    * bounded too. */
  val invertedIndex: Q = (s, dir) => {
    val pairs = Tables(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(TextAnalysis.normalizeText(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .distinct()
    val df = pairs.groupBy("token").agg(count(lit(1)).as("df"))
    val top = graft.operators.GroupTopK
      .topK(pairs.select("token", "doc_id"), Seq("token"), Seq(("doc_id", true)), 20)
      .groupBy("token").agg(sort_array(collect_list(col("doc_id"))).as("plist"))
    df.join(top, "token")
      .select(col("token"), col("df"),
        array_join(col("plist").cast("array<string>"), ",").as("postings"))
      .orderBy("token")
  }

  /** The BM25 family's IN-PLAN vocabulary enrichment. The raw synthetic
    * corpus is 31 distinct tokens, 30 of them in ≥74% of documents —
    * every `idf2 = ⌊log2(N/df)⌋` is 0, every score is exactly 0, and
    * "ranking" degenerates to ascending doc_id (discovered round 16:
    * the family's original gates were hash-green but exercised no idf
    * arithmetic at all). Two deterministic markers are appended per
    * document — the `boilerplate_removal` in-plan-fixture convention:
    *
    *  - a FINE ring `tag<doc_id % 97>`: df ≈ n/97 → idf2 ≈ 6 — the
    *    discriminative term that makes ring-mates rank above noise;
    *  - a PARITY token `even_mark`/`odd_mark`: df = n/2 → idf2 = 1 —
    *    a genuine mid-frequency term, and exactly what a df ceiling
    *    between n/2 and n drops (`bm25_topk_maxdf`), so the ceiling
    *    gate changes real scores instead of shaving zeros.
    *
    * The oracle applies the identical rewrite in its `bmdocs` CTE. */
  private def bm25Docs(s: SparkSession, dir: String): DataFrame =
    // round 21: the BM25 corpus tokenize runs scan-side — spread the
    // single-file fixture partition so it isn't one task (JobProbe:
    // 0.43 s 1-task stage inside hybrid_rerank)
    spreadForCompute(s, Tables(s, dir, "documents")).select(col("doc_id"),
      concat(col("text"), lit(" tag"), (col("doc_id") % 97).cast("string"),
        when(col("doc_id") % 2 === 0, lit(" even_mark"))
          .otherwise(lit(" odd_mark"))).as("text"))

  /** [[bm25Docs]], `Materialize.shared` — for the gates
    * that consume the FULL enriched corpus more than once (corpus +
    * query side at least; round-21 verdict item 2: the unmaterialized
    * spread re-executed per consumer). The persisted/incremental index
    * gates must keep the PLAIN [[bm25Docs]]: they read only the
    * pushed-down `doc_id < 5` query slice, which a shared copy would
    * turn into a full-corpus materialization with no scan pushdown. */
  private def bm25DocsShared(s: SparkSession, dir: String): DataFrame =
    Materialize.shared(bm25Docs(s, dir))

  /** Quantized-BM25 lexical retrieval ([[Retrieval.bm25TopK]]): the
    * first five documents as queries against the full corpus (the ANN
    * family's corpus-as-queries convention), self-hits excluded before
    * ranking, top-10 each by integer fixed-point Okapi BM25 (bit-length
    * idf, milli-unit k1=1.2 / b=0.75 length norm, micro-point scores —
    * every step truncating 64-bit integer division, so the DuckDB
    * replay of the formula is hash-exact and no float tie adjudication
    * exists). Runs over the [[bm25Docs]] marker-enriched corpus so idf
    * actually varies (6 / 1 / 0 across marker, parity, and head terms).
    * Scale: the tf index build is the one corpus shuffle (the
    * persisted `inverted_index` shape); the query side broadcasts; the
    * ranking is [[graft.operators.GroupTopK]] map-side-pruned. */
  val bm25Topk: Q = (s, dir) => {
    val docs = bm25DocsShared(s, dir)
    Retrieval.bm25TopK(docs, docs.filter(col("doc_id") < 5),
        "doc_id", "text", "doc_id", "text", k = 10, excludeSelf = true)
      .orderBy("query_id", "doc_id")
  }

  /** The PRODUCTION BM25 deployment shape ([[Retrieval.bm25FromIndex]]):
    * the tf index is persisted ONCE, `bucketBy(8, token)` (plus the
    * per-doc length side table), and the probe runs against the tables —
    * the raw corpus is never scanned at query time, and the index-side
    * df aggregation runs with ZERO Exchange on the bucketed scan
    * (PlanShapeSpec pins both). Identical results to `bm25_topk` by
    * construction — the shared oracle SQL makes divergence impossible. */
  /** The persisted BM25 (tf, dl) bucketed tables — built once per dir
    * and shared by the persisted probe, the delete path and the
    * compliance report (one layout investment; a second builder copy
    * under the same cache key would let session run ORDER decide which
    * code defines the index). */
  private[queries] def bm25IndexTables(s: SparkSession, dir: String): (String, String) = {
    val docs = bm25Docs(s, dir)
    Artifacts.getOrBuild("bm25_index", Seq(docs)) { a =>
      val tf = Materialize.shared(Retrieval.buildTfIndex(docs, "doc_id", "text"))
      val tfName = a.bucketedTable("graft_bm25_tf", "token", tf)
      val dlName = a.table("graft_bm25_dl")
      tf.groupBy("doc_id").agg(sum("tf").as("dl"))
        .write.option("path", a.dir("graft_bkt_").toString).mode("overwrite").saveAsTable(dlName)
      (tfName, dlName)
    }
  }

  val bm25TopkPersisted: Q = (s, dir) => {
    val (tfT, dlT) = bm25IndexTables(s, dir)
    Retrieval.bm25FromIndex(s.table(tfT), bm25Docs(s, dir).filter(col("doc_id") < 5),
        "doc_id", "text", k = 10, excludeSelf = true, dlOpt = Some(s.table(dlT)))
      .orderBy("query_id", "doc_id")
  }

  /** DELETE PATH for the persisted BM25 index — `ann_ivf_forget`'s
    * lexical twin, completing forget propagation across BOTH persisted
    * retrieval families: deleted docs are masked from the CANDIDATE
    * postings with a broadcast anti-join (the Lucene deleted-docs
    * model — df/dl/avgdl stats stay STALE until a compaction rebuild;
    * a delete is a compliance action, not a corpus re-scoring), so the
    * bucketed tf table is never rewritten and the probe keeps its
    * zero-Exchange token scan. SAME delete list as `ann_ivf_forget` /
    * `forget_docs_audit` (one legal request, three surfaces). At
    * sf0.001 the list removes doc 436 from queries 2 and 4's top-10,
    * so the gate pins genuine re-ranking under stale stats. */
  val bm25TopkForget: Q = (s, dir) => {
    val (tfT, dlT) = bm25IndexTables(s, dir)
    val deletes = Tables(s, dir, "documents").select("doc_id")
      .filter(isForgetDoc50(col("doc_id")))
    Retrieval.bm25FromIndex(s.table(tfT), bm25Docs(s, dir).filter(col("doc_id") < 5),
        "doc_id", "text", k = 10, excludeSelf = true, dlOpt = Some(s.table(dlT)),
        deletesOpt = Some(deletes))
      .orderBy("query_id", "doc_id")
  }

  /** INCREMENTAL maintenance of the persisted BM25 index — the day-2
    * operation [[bm25TopkPersisted]] implies, completing the
    * persisted-index family (`dedup_incremental_bucketed`,
    * `ann_ivf_persisted_append`): the corpus arrives in TWO batches
    * (even doc ids at build time, odd ids on day 2), the second batch
    * tokenizes through the SAME [[Retrieval.buildTfIndex]] pipeline
    * and `saveAsTable(Append)`s its (doc, token, tf) rows into the
    * bucketed table — new files land in their token buckets, so the
    * probe still reads ONE bucketed scan with zero Exchange — and the
    * dl side table appends the same way. Because tf rows are per
    * (doc, token) and the batches are doc-disjoint, the appended
    * index EQUALS the from-scratch index over the full corpus, and
    * the corpus-level stats (df, N, avgdl) are derived inside the
    * probe from the combined table — so the gate shares `bm25_topk`'s
    * oracle: append-vs-rebuild divergence is structurally
    * impossible to miss. */
  val bm25TopkIncremental: Q = (s, dir) => {
    val docs = bm25Docs(s, dir)
    val (tfT, dlT) = Artifacts.getOrBuild("bm25_index_app", Seq(docs)) { a =>
      val tfA = Retrieval.buildTfIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text").transform(Materialize.shared)
      val tfName = a.bucketedTable("graft_bm25_tfa", "token", tfA)
      val dlName = a.table("graft_bm25_dla")
      tfA.groupBy("doc_id").agg(sum("tf").as("dl"))
        .write.option("path", a.dir("graft_bkt_").toString).mode("overwrite").saveAsTable(dlName)
      // day-2: the new batch tokenizes identically and appends into
      // the existing token buckets / the dl side table
      val tfB = Retrieval.buildTfIndex(docs.filter(col("doc_id") % 2 =!= 0),
        "doc_id", "text").transform(Materialize.shared)
      tfB.write.mode("append").bucketBy(8, "token").sortBy("token")
        .format("parquet").saveAsTable(tfName)
      tfB.groupBy("doc_id").agg(sum("tf").as("dl"))
        .write.mode("append").format("parquet").saveAsTable(dlName)
      (tfName, dlName)
    }
    Retrieval.bm25FromIndex(s.table(tfT), docs.filter(col("doc_id") < 5),
        "doc_id", "text", k = 10, excludeSelf = true, dlOpt = Some(s.table(dlT)))
      .orderBy("query_id", "doc_id")
  }

  /** The DF CEILING guard ([[Retrieval.bm25FromIndex]]'s `maxDfPpm`) —
    * the Lucene stopword cut, on the [[bm25Docs]] fixture where it
    * changes REAL scores: at 400 000 ppm the parity marker (df = n/2 =
    * 500 000 ppm, idf2 = 1 — a genuinely contributing mid-frequency
    * term) and every head token are dropped BEFORE the candidate join,
    * while the fine ring markers (df ≈ 10 000 ppm, idf2 ≈ 6) still
    * rank — so results provably differ from `bm25_topk` and the guard
    * is exercised on both sides of the cut. The oracle replays the
    * exact integer cross-multiplication ceiling inside the shared BM25
    * CTE block (the ceiling-free gates alias the same block at
    * 1 000 000 ppm, so the formula cannot drift between them). */
  val bm25TopkMaxdf: Q = (s, dir) => {
    val docs = bm25DocsShared(s, dir)
    Retrieval.bm25TopK(docs, docs.filter(col("doc_id") < 5),
        "doc_id", "text", "doc_id", "text", k = 10, excludeSelf = true,
        maxDfPpm = 400000)
      .orderBy("query_id", "doc_id")
  }

  /** Two-stage hybrid retrieval ([[Retrieval.hybridRerank]]): BM25
    * recall (top-20 candidates per query, the `bm25_topk` stage) →
    * semantic precision (re-rank by the quantized integer dot product
    * against the query's embedding — cosine in 1e-6 units on the
    * unit-norm fixture), top-5 each. The embeddings table shares the
    * documents id space. Stage 2 never touches the corpus: candidates
    * broadcast against the embedding scan; the oracle replays both
    * stages over the shared BM25 CTE block. */
  val hybridRerank: Q = (s, dir) => {
    val docs = bm25DocsShared(s, dir)
    Retrieval.hybridRerank(docs, docs.filter(col("doc_id") < 5),
        Tables(s, dir, "embeddings"),
        "doc_id", "text", "doc_id", "text", "vec_id", "embedding",
        candidateK = 20, k = 5, excludeSelf = true)
      .orderBy("query_id", "doc_id")
  }

  /** In-plan recall@5 audit of the TWO-STAGE retriever against the
    * exact-cosine brute-force answer — the `ann_recall_audit` analogue
    * for the BM25/hybrid family: per query, how many of the true
    * cosine top-5 the lexical-recall → semantic-re-rank pipeline
    * surfaced. The miss channel this measures is stage 1 (a true
    * neighbor with no lexical overlap never becomes a candidate) plus
    * the dot-vs-cosine gap on non-unit-norm vectors; both sides are
    * the catalog's own operators, the overlap is a LEFT SEMI join on
    * (query, neighbor), and recall is an exact integer percentage —
    * oracle-replayable end-to-end. The brute side runs on the bounded
    * 5-query sample (the audit cost rule of `ann_recall_audit`).
    *
    * The dial this audit tunes is `candidateK` — the stage-1 recall
    * CEILING: a doc outside the lexical candidate pool can never be
    * re-ranked in, so on a corpus whose text and embeddings are
    * uncorrelated (this synthetic fixture — the worst case) recall
    * tracks pool coverage (candidateK/N), the lexical analogue of the
    * ANN family's recall-tracks-probed-fraction law. Run at
    * candidateK = 200 (40% of the corpus) so the audit measures a
    * non-degenerate overlap; at candidateK = 20 it reads 0 here. */
  val retrievalRecallAudit: Q = (s, dir) => {
    val docs = bm25DocsShared(s, dir)
    // round 22: emb feeds the exact side twice plus hybridRerank —
    // share one materialization of the spread
    val emb = spreadShared(s, Tables(s, dir, "embeddings"))
    val exact = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5)
      .select("query_id", "corpus_id")
    val approx = Retrieval.hybridRerank(docs, docs.filter(col("doc_id") < 5), emb,
        "doc_id", "text", "doc_id", "text", "vec_id", "embedding",
        candidateK = 200, k = 5, excludeSelf = true)
      .select(col("query_id"), col("doc_id").as("corpus_id"))
    val hits = exact.join(approx, Seq("query_id", "corpus_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("query_id").agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("k"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_pct", expr("CAST((n_hits * 100) DIV k AS BIGINT)"))
      .orderBy("query_id")
  }

  /** Reciprocal-rank fusion ([[Retrieval.rrfFuse]]) of the lexical and
    * dense retrievers: BM25 top-10 (the `bm25_topk` stage, ranked) and
    * exact-cosine top-10 ([[Similarity.bruteForceTopK]], the
    * `ann_bruteforce` stage restricted to the shared query ids) fused
    * with the classic 1/(60+rank) rule in exact ppm integers, top-5
    * per query. `n_lists` witnesses which docs both retrievers agree
    * on. The ranking windows here run over 50-row top-k frames — the
    * corpus-sized work lives (and is plan-pinned) in the two input
    * stages. */
  val rrfFusion: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = bm25DocsShared(s, dir)
    val lex = Retrieval.bm25TopK(docs, docs.filter(col("doc_id") < 5),
        "doc_id", "text", "doc_id", "text", k = 10, excludeSelf = true)
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("score_micro"), asc("doc_id"))))
      .select("query_id", "doc_id", "rank")
    // round 22: emb is the dense retriever's corpus AND query side —
    // share one materialization of the spread
    val emb = spreadShared(s, Tables(s, dir, "embeddings"))
    val dense = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("corpus_id").as("doc_id"), col("rank"))
    Retrieval.rrfFuse(Seq(lex, dense), k = 5)
      .orderBy("query_id", "doc_id")
  }

  /** C4-style cross-document boilerplate removal
    * ([[TextAnalysis.boilerplateSpans]]): disjoint 8-word spans,
    * boilerplate = span in ≥2 distinct docs, removed from EVERY doc
    * (not keep-first). A synthetic cookie-banner is PREPENDED in-plan
    * to every document — prepending keeps it span-aligned (span 0),
    * so the universal-boilerplate path fires on all 500 docs while the
    * corpus' planted duplicate passages exercise the mid-df path, and
    * unique content stays kept; the oracle replays injection, span
    * quantization, df rule, and the kept-text md5 reconstruction. */
  val boilerplateRemoval: Q = (s, dir) =>
    TextAnalysis.boilerplateSpans(
        Tables(s, dir, "documents").select(col("doc_id"),
          concat(lit("subscribe to our newsletter for more updates today "),
            col("text")).as("text")),
        "doc_id", "text", spanWords = 8, minDf = 2)
      .orderBy("doc_id")

  /** Top-3 distinctive terms per doc ([[TextAnalysis.distinctiveTerms]]):
    * TF-IDF-style ranking with the idf term kept rational (tf/df — one
    * correctly-rounded IEEE division, engine-portable where log-idf's
    * libm ulps are not). */
  val distinctiveTerms: Q = (s, dir) =>
    TextAnalysis.distinctiveTerms(Tables(s, dir, "documents"), "doc_id", "text", k = 3)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "token")

  /** Square-root temperature corpus rebalancing
    * ([[Sampling.temperatureSample]]): per-language targets
    * `min(n, floor(sqrt(n))*4)` — head languages down-weighted, tail
    * up-weighted — selected by the deterministic smallest-md5 rank. */
  val temperatureResample: Q = (s, dir) =>
    Sampling.temperatureSample(
        Tables(s, dir, "documents").select("lang", "doc_id"), "lang", "doc_id", multiplier = 4)
      .select("lang", "doc_id")
      .orderBy("lang", "doc_id")

  /** Benchmark decontamination ([[Decontamination.overlapReport]]):
    * docs whose md5 hash bucket < 13 (~5%) play the held-out benchmark;
    * every remaining (training) doc is scored by how many of its
    * distinct 3-gram shingles appear anywhere in the benchmark's n-gram
    * universe. The eval gram set is broadcast — the training corpus is
    * probed scan-side and only (doc_id, counts) ever shuffles. */
  val decontaminateDocs: Q = (s, dir) =>
    Decontamination.overlapReport(
        Tables(s, dir, "documents"),
        Sampling.hashBucket256(col("doc_id")) < 13, "doc_id", "text",
        n = 3, minOverlap = 2)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Per-benchmark contamination rollup
    * ([[Decontamination.overlapByBenchmark]]): the eval slice split by
    * lang plays the benchmark suite; per benchmark, how many training
    * docs overlap it at all, how many cross the contamination
    * threshold, and the total shared-gram mass — the model-card table.
    * All integer counts over md5 shingles ⇒ hash-exact oracle. */
  val decontaminateReport: Q = (s, dir) =>
    Decontamination.overlapByBenchmark(
        Tables(s, dir, "documents"),
        Sampling.hashBucket256(col("doc_id")) < 13, "lang", "doc_id", "text",
        n = 3, minOverlap = 2)
      .groupBy("bench")
      .agg(count(lit(1)).as("n_docs_hit"),
        sum(col("contaminated").cast("long")).as("n_contaminated"),
        sum("n_overlap").as("total_overlap"))
      .orderBy("bench")

  /** N-gram novelty vs a corpus-sized reference
    * ([[Decontamination.noveltyReport]]): even doc ids play the
    * reference universe, odd ids the incoming (generated) batch; each
    * batch doc reports what fraction of its distinct 3-gram shingles
    * the reference has never seen — the memorization metric, with the
    * shuffle-join shape (the reference side is too big to broadcast
    * by design). All 60-bit md5 shingle hashes + truncating integer
    * ppm — the oracle replays both gram universes and the ratio. */
  val noveltyScore: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val ref = Decontamination.referenceGramSet(d.filter(col("doc_id") % 2 === 0), "text")
    Decontamination.noveltyReport(ref, d.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** SEMANTIC decontamination ([[Decontamination.semanticOverlap]]):
    * the paraphrase-leakage pass n-gram overlap can't see. Embeddings
    * whose md5 hash bucket < 13 (~5%) play the held-out benchmark;
    * training vectors within exact cosine ≥ 0.35 of any eval vector
    * are flagged (the near-orthogonal fixture's genuine near-pairs sit
    * at ~0.3–0.5; no pair lands within 7e-5 of the boundary, so the
    * float comparison is engine-portable). Candidates come from shared quantized-hyperplane LSH
    * bands (never all-pairs), the eval side broadcasts, the corpus
    * never shuffles (PlanShapeSpec asserts it) — and because the
    * banding is the portable quantized signature, the oracle replays
    * candidate generation AND exact-cosine verification end-to-end. */
  val decontaminateSemantic: Q = (s, dir) =>
    Decontamination.semanticOverlap(
        Tables(s, dir, "embeddings"),
        Sampling.hashBucket256(col("vec_id")) < 13, "vec_id", "embedding",
        threshold = 0.35)
      .withColumnRenamed("id", "vec_id")
      .orderBy("vec_id")

  /** PII redaction ([[TextAnalysis.redactPii]]): the corpus carries no
    * PII, so a deterministic contact line (email + phone derived from
    * doc_id) is injected in-plan; the REAL patterns then redact it and
    * the result is fingerprinted. The oracle replays injection +
    * match-count + replacement in RE2 — if either engine's regex
    * semantics drifted, the md5 of the redacted text would diverge. */
  val piiRedaction: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val withPii = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@mail.example.com or +1-555-"),
      lpad(col("doc_id") % 10000, 4, "0"), lit(" now"))
    d.select(
      col("doc_id"),
      TextAnalysis.matchCount(withPii, TextAnalysis.emailPattern).as("n_emails"),
      TextAnalysis.matchCount(withPii, TextAnalysis.phonePattern).as("n_phones"),
      md5(to_binary(TextAnalysis.redactPii(withPii), lit("utf-8"))).as("redacted_md5"),
      length(TextAnalysis.redactPii(withPii)).as("n_chars_redacted"))
      .transform(Materialize.shared)
      .orderBy("doc_id")
  }

  /** Deterministic train/val split ([[Sampling.hashSplit]]): a pure
    * function of the doc id via md5 bucketing — stable across runs,
    * engines, and repartitioning; a narrow map with no shuffle. */
  val splitTrainVal: Q = (s, dir) =>
    Tables(s, dir, "documents")
      .select(col("doc_id"), Sampling.hashSplit(col("doc_id"), trainPct = 90).as("split"))
      .orderBy("doc_id")

  /** DSIR importance resampling ([[Sampling.dsirSelect]]) — hashed
    * n-gram importance weights select the 100 raw-corpus docs that
    * look most like the ENGLISH subset (the target exemplar set:
    * `lang = 'en'`, a real 218/500 split at sf0.01). Unigram+bigram
    * instances hash into 1024 buckets (portable md5 mod); per-doc
    * score = Σ ⌊lg(c_en+1)⌋ − ⌊lg(c_all+1)⌋ over its instances —
    * exact integers the oracle replays gram-for-gram, including the
    * hash. Selection is the deterministic top-100 (score desc, id
    * asc). Scale: one tokenized scan, a 1024-row broadcast weight
    * table, one id shuffle of partials, map-side-pruned global
    * top-k. */
  val dsirImportanceSample: Q = (s, dir) =>
    Sampling.dsirSelect(spreadForCompute(s, Tables(s, dir, "documents")), "doc_id", "text",
        col("lang") === "en", topN = 100, nBuckets = 1024)
      .select(col("id").as("doc_id"), col("n_grams"), col("dsir_score"),
        col("selected"))
      .orderBy("doc_id")

  /** Day-2 DSIR ([[Sampling.dsirScoreFrozen]]): the importance model
    * ([[Sampling.dsirWeights]], the 1024-row bucket-weight artifact)
    * is fitted ONCE on the even-id training half and PERSISTED; the
    * odd-id batch is then scored against the frozen table — no rescan
    * of training data, unseen buckets contribute the add-one rule's
    * own 0. This is how DSIR deploys: fit against the target
    * exemplars, apply to every arriving batch. Scale: the apply side
    * is one narrow gram pass + a broadcast join against a table whose
    * size is `nBuckets` forever. */
  /** The persisted DSIR weight table (fitted on the even-id half,
    * `lang = 'en'` target) — built once per dir, shared by the batch
    * apply gate and the streaming scorer (one trained artifact, two
    * apply paths — the [[ivfIndex]] convention). */
  private[queries] def dsirWeightsTable(s: SparkSession, dir: String): String = {
    val docs = Tables(s, dir, "documents")
    Artifacts.getOrBuild("dsir_weights", Seq(docs)) { a =>
      val name = a.table("graft_dsir_w")
      Sampling.dsirWeights(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", col("lang") === "en", 1024)
        .write.option("path", a.dir("graft_bkt_").toString).mode("overwrite").saveAsTable(name)
      name
    }
  }

  val dsirScoreIncremental: Q = (s, dir) => {
    val docs = Tables(s, dir, "documents")
    Sampling.dsirScoreFrozen(s.table(dsirWeightsTable(s, dir)),
        docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", 1024)
      .select(col("id").as("doc_id"), col("n_grams"), col("dsir_score"))
      .orderBy("doc_id")
  }

  /** LEAKAGE-SAFE train/val split — the per-doc hash split above lets
    * NEAR-DUPLICATE pairs straddle the boundary (a val doc whose
    * near-copy sits in train is evaluation leakage, the within-corpus
    * twin of the decontamination gates). Here the split key is the
    * near-dup COMPONENT (the minhash connected-components the dedup
    * family already derives), so every member of a component lands on
    * the SAME side by construction; singleton docs split exactly as
    * the naive rule would (their component id is their own doc id, so
    * the two splits differ only where leakage was possible). Output
    * carries the component so downstream audits can verify the
    * invariant. Scale shape: the banded candidate pipeline + pointer-
    * jumping components the dedup gates already bound, then one narrow
    * hash-split map — no new shuffle beyond the components
    * derivation. */
  val splitLeakageSafe: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val groups = Dedup.dedupGroups(d, "doc_id",
      Dedup.minHashPairs(d, "doc_id", "text", threshold = 0.3, maxBucket = MaxBucket))
    groups
      .select(col("doc_id"), col("component"),
        Sampling.hashSplit(col("component"), trainPct = 90).as("split"))
      .orderBy("doc_id")
  }

  /** Sharded-export manifest ([[Sampling.shardManifest]], 64 shards):
    * per-shard doc counts, byte budgets, and the order-independent
    * `bit_xor` membership checksum — the completeness artifact a
    * WebDataset-style export writes next to its shards. One narrow map
    * + one 64-group constant-state aggregate; every value integer. */
  val shardManifest: Q = (s, dir) =>
    Sampling.shardManifest(Tables(s, dir, "documents"), "doc_id", "n_chars", nShards = 64)
      .orderBy("shard_id")

  /** Deterministic 5-per-language document sample
    * ([[Sampling.samplePerGroup]]): smallest md5(doc_id) per lang —
    * seed-free, engine-replayable selection. */
  val sampleDocsPerLang: Q = (s, dir) =>
    Sampling.samplePerGroup(
        Tables(s, dir, "documents").select("lang", "doc_id"), Seq("lang"), "doc_id", k = 5)
      .orderBy("lang", "doc_id")

  /** The composed ingest pipeline end-to-end in ONE query — what a
    * training-data run actually executes: quality-filter the corpus,
    * exact-dedup survivors (keep min doc_id per content hash), then
    * normalize + chunk the keepers. Three operator families verified
    * as a composition by one oracle; every stage is a narrow map or a
    * single hash-partitioned window — no extra shuffles from composing. */
  val pipelineCleanCorpus: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val scored = d.select(col("doc_id"), col("text"), TextAnalysis.qualityScore(col("text")).as("q"))
      .filter(col("q") >= 0.5)
    val keep = scored
      .withColumn("h", TextAnalysis.fingerprintMd5(col("text")))
      .withColumn("rk", row_number().over(Window.partitionBy(col("h")).orderBy(col("doc_id"))))
      .filter(col("rk") === 1)
    keep.select(col("doc_id"),
        posexplode(TextAnalysis.chunkWords(TextAnalysis.normalizeText(col("text")), 64, 8)))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk")
      .orderBy("doc_id", "chunk_idx")
  }

  /** Normalized text + 128-word chunks with 16-word overlap: the
    * context-window prep step, exploded to one row per chunk. */
  val docChunks: Q = (s, dir) => {
    val d = spreadForCompute(s, Tables(s, dir, "documents"))
    // round 21: normalize+chunk is heavy narrow compute under a global
    // sort — spread it (JobProbe: 2 x 0.35 s 1-task)
    d.select(col("doc_id"),
        posexplode(TextAnalysis.chunkWords(TextAnalysis.normalizeText(col("text")), 64, 8)))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk")
      .transform(Materialize.shared)
      .orderBy("doc_id", "chunk_idx")
  }

  /** Sequence packing: per-doc pack assignment for 2048-token context
    * windows via the parallel prefix scan — see
    * [[TextAnalysis.packSequences]]. */
  val packSequences: Q = (s, dir) =>
    TextAnalysis.packSequences(Tables(s, dir, "documents"), "doc_id", "text", 2048)
      .orderBy("doc_id")

  /** First-fit-decreasing whole-doc packing
    * ([[TextAnalysis.packSequencesFfd]]) — the no-torn-documents
    * sibling of [[packSequences]]; the pad-ratio trade is measured in
    * PackFfdSpec and recorded in SCALE.md. Oracle: the FFD loop
    * replayed doc-by-doc as a recursive CTE carrying the bin-remainder
    * list. */
  val packSequencesFfd: Q = (s, dir) =>
    TextAnalysis.packSequencesFfd(Tables(s, dir, "documents"), "doc_id",
        TextAnalysis.tokenCountWs(col("text")).cast("long"), 2048)
      .orderBy("doc_id")

  /** ENCODING HYGIENE gate ([[TextAnalysis.encodingHygiene]]) — the
    * fixture text is clean by construction, so hostile content is
    * INJECTED IN-PLAN (the `boilerplate_removal` banner precedent):
    * docs in md5-bucket < 64 (a deterministic ~25%) get one of four
    * corruption markers (control chars, zero-width/BOM, U+FFFD,
    * mixed) appended by bucket mod 4; both engines apply the same
    * corruption, detect, repair, and account — the hash match covers
    * detection AND the verified repair (`residual_bad` must be 0 and
    * is part of the compared output). */
  /** The deterministic in-plan corruption shared by the batch and
    * streaming hygiene gates — pure expressions, so it runs unchanged
    * on a streaming frame. */
  private[queries] def corruptedDocs(df: DataFrame): DataFrame = {
    val b = Sampling.hashBucket256(col("doc_id"))
    val marker = when(b % 4 === 0, lit("\u0007bell\u001f"))
      .when(b % 4 === 1, lit("\u200bzw\ufeff"))
      .when(b % 4 === 2, lit("\ufffd"))
      .otherwise(lit("\u0008\u200c\ufffd"))
    df.withColumn("t", when(b < 64, concat(col("text"), marker)).otherwise(col("text")))
  }

  val encodingHygiene: Q = (s, dir) =>
    TextAnalysis.encodingHygiene(corruptedDocs(Tables(s, dir, "documents")), "source", "t")
      .orderBy("source")

  /** The FFD layout's per-bin PAYLOAD artifact — the `pack_payload_bpe`
    * convention applied to whole-doc packing: one row per bin with
    * member count, used/pad token accounting, and an md5 over the
    * member ids IN PLACEMENT ORDER (n_tokens DESC, doc_id ASC — the
    * FFD processing order restricted to the bin), so the hash pins the
    * full layout, not just the assignment counts. Oversized singleton
    * bins report pad 0 (greatest clamp). One aggregate over the packed
    * frame. */
  val packPayloadFfd: Q = (s, dir) => {
    val packed = TextAnalysis.packSequencesFfd(Tables(s, dir, "documents"), "doc_id",
      TextAnalysis.tokenCountWs(col("text")).cast("long"), 2048)
    packed.groupBy("bin_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("used_tokens"),
        greatest(lit(2048L) - sum("n_tokens"), lit(0L)).as("pad_tokens"),
        md5(to_binary(array_join(expr(
          "transform(array_sort(collect_list(struct(-n_tokens AS neg, doc_id AS id))), " +
            "x -> CAST(x.id AS STRING))"), ","), lit("utf-8"))).as("ids_md5"))
      .orderBy("bin_id")
  }

  /** CORPUS DRIFT monitor — the between-snapshots health check a
    * continuously-refreshed training corpus needs: token-distribution
    * drift between a reference snapshot and the current one (here the
    * deterministic md5-bucket halves of the fixture — in production,
    * yesterday's corpus vs today's). Exact integer machinery: per-
    * snapshot token counts over the REFERENCE's top-50 vocabulary
    * (count DESC, token ASC — the fixed panel, so a token vanishing
    * from `cur` still reports), rates as integer ppm of each
    * snapshot's instance total (floor division), drift = |Δppm|.
    * Scale: one corpus scan into vocabulary-sized aggregates
    * (map-side partials; the counts frame is shared by its three
    * consumers), every join vocab-sized, totals a 2-row
    * broadcast. */
  val corpusDrift: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val counts = d.select(
        when(Sampling.hashBucket256(col("doc_id")) < 128, "ref").otherwise("cur").as("snap"),
        explode(split(TextAnalysis.normalizeText(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("snap", "token").agg(count(lit(1)).as("n"))
      .transform(Materialize.shared)
    val totals = counts.groupBy("snap").agg(sum("n").as("tot"))
    val tots = totals.groupBy()
      .pivot("snap", Seq("ref", "cur")).agg(first("tot"))
      .select(col("ref").as("ref_tot"), col("cur").as("cur_tot"))
    val topV = counts.filter(col("snap") === "ref")
      .orderBy(desc("n"), asc("token")).limit(50).select("token")
    val ref = counts.filter(col("snap") === "ref").select(col("token"), col("n").as("ref_n"))
    val cur = counts.filter(col("snap") === "cur").select(col("token"), col("n").as("cur_n"))
    // Empty-snapshot guard (the embedding_drift convention): a ppm rate
    // over a zero/absent total is undefined — raise identically in both
    // engines instead of Spark nulling where DuckDB errors. The pivot
    // yields NULL for a missing snapshot, so guard null-or-zero.
    def ppm(n: String, tot: String, snap: String): Column =
      when(col(tot) > 0, expr(s"$n * 1000000L div $tot"))
        .otherwise(raise_error(lit(s"corpus_drift: empty '$snap' snapshot")))
    topV.join(ref, "token").join(cur, Seq("token"), "left_outer")
      .na.fill(0L, Seq("cur_n"))
      .crossJoin(broadcast(tots))
      .select(col("token"), col("ref_n"), col("cur_n"),
        ppm("ref_n", "ref_tot", "ref").as("ref_ppm"),
        ppm("cur_n", "cur_tot", "cur").as("cur_ppm"))
      .withColumn("drift_ppm", abs(col("ref_ppm") - col("cur_ppm")))
      .orderBy(desc("drift_ppm"), asc("token"))
  }

  /** The 100 TB FFD shape through the gate: per-shard first-fit-
    * decreasing ([[TextAnalysis.packSequencesFfdSharded]] — one
    * shard_id shuffle, shards packed in parallel, (shard, bin) the
    * global window key). Oracle: the per-shard FFD loops replayed in
    * LOCKSTEP by one recursive CTE (each step advances every shard's
    * rank-i doc against that shard's own bin-remainder list). */
  val packSequencesFfdSharded: Q = (s, dir) =>
    TextAnalysis.packSequencesFfdSharded(Tables(s, dir, "documents"), "doc_id",
        TextAnalysis.tokenCountWs(col("text")).cast("long"), 2048, nShards = 8)
      .orderBy("shard_id", "doc_id")

  /** TENSOR-READY window artifact ([[TextAnalysis.packedWindowLayout]])
    * — the per-bin record a training loader mmaps: member ids and
    * token offsets IN PLACEMENT ORDER, used/pad accounting, and
    * `slots_md5`, an md5 over all `windowTokens` per-slot
    * `segment/position` labels (pad slots read `p`) — so the hash pins
    * the document-boundary attention mask and every position-id reset
    * bit-for-bit, not just the assignment. The slot expansion runs
    * over BIN rows (corpus/window-sized cardinality), never corpus
    * rows; the layout itself rides the packer's single shard shuffle
    * (plan-pinned). Oracle: the per-shard FFD recursion extended with
    * placement-order windows, then the same 2048-slot expansion. */
  val packSequencesLayout: Q = (s, dir) => {
    val docs = Tables(s, dir, "documents")
      .withColumn("shard_id", Sampling.shardAssign(col("doc_id"), 8))
    val lay = TextAnalysis.packedWindowLayout(docs, Seq("shard_id"), "doc_id",
      TextAnalysis.tokenCountWs(col("text")).cast("long"), 2048)
    val perBin = lay.groupBy("shard_id", "bin_id").agg(
      count(lit(1)).as("n_docs"),
      sum("n_tokens").as("used_tokens"),
      greatest(lit(2048L) - sum("n_tokens"), lit(0L)).as("pad_tokens"),
      // placement order = seq_in_bin ASC (struct field 1 leads the sort)
      array_sort(collect_list(struct(col("seq_in_bin").as("s"), col("doc_id").as("id"),
        col("token_offset").as("off"), col("n_tokens").as("len")))).as("ms"))
    // slot labels assembled per MEMBER RUN, not per slot: offsets are
    // the running fill, so member (s, off, len) owns the contiguous
    // slots [off, min(off+len, W)) — emitting "s/0 s/1 …" per member
    // and a pad run costs O(window), where the first revision's
    // per-slot member search cost O(window × members) (measured at the
    // 10× probe as the dominant term of a 33.9 s gate)
    // Spark's sequence() rejects empty ranges, so zero-length runs
    // (a zero-token doc, a pad-free bin) take the empty-array branch
    def range0(cnt: Column): Column =
      when(cnt >= 1, sequence(lit(0L), cnt - 1, lit(1L)))
        .otherwise(array().cast("array<bigint>"))
    val runs = flatten(transform(col("ms"), m =>
      transform(range0(least(m.getField("len"),
          greatest(lit(2048L) - m.getField("off"), lit(0L)))),
        j => concat(m.getField("s").cast("string"), lit("/"), j.cast("string")))))
    perBin.select(col("shard_id"), col("bin_id"), col("n_docs"),
      col("used_tokens"), col("pad_tokens"),
      array_join(transform(col("ms"), m => m.getField("id").cast("string")), ",").as("doc_ids"),
      array_join(transform(col("ms"), m => m.getField("off").cast("string")), ",").as("offsets"),
      md5(to_binary(array_join(concat(runs,
        transform(range0(col("pad_tokens")), _ => lit("p"))),
        " "), lit("utf-8"))).as("slots_md5"))
      .orderBy("shard_id", "bin_id")
  }

  /** EMBEDDING drift monitor — [[corpusDrift]]'s vector sibling: per-
    * DIMENSION mean shift between the md5-bucket snapshot halves of
    * the embedding corpus (in production: yesterday's embedding run vs
    * today's — the canary for silent encoder/preprocessing changes).
    * Exact integer machinery: values quantize scan-side to
    * `floor(x·1000) + 2000` (the +2000 offset keeps every per-dim sum
    * POSITIVE, so integer division is engine-portable — Spark's `div`
    * truncates toward zero while DuckDB's `//` floors, and they only
    * agree on non-negative operands; the offset cancels in the drift
    * delta). One posexplode scan into a dim-keyed aggregate
    * (map-side partials absorb the d-way fan-out — the
    * `embedding_moments` shuffle story), output |dims| rows. */
  val embeddingDrift: Q = (s, dir) => {
    val e = Tables(s, dir, "embeddings")
    val q = (floor(col("v").cast("double") * 1000) + 2000).cast("long")
    val d = e.select(
        when(Sampling.hashBucket256(col("vec_id")) < 128, "ref").otherwise("cur").as("snap"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("snap"), (col("pos") + 1).as("dim"), q.as("q"))
    // Empty-snapshot guard: a mean over zero vectors is undefined — fail
    // LOUDLY and identically in both engines (Spark's `div` would emit
    // null rows while DuckDB's `//` raises, silently diverging) — the
    // raise lives inside the output expressions so it cannot be pruned.
    val refMean = when(col("ref_n") > 0, expr("ref_sum div ref_n"))
      .otherwise(raise_error(lit("embedding_drift: empty 'ref' snapshot")))
    val curMean = when(col("cur_n") > 0, expr("cur_sum div cur_n"))
      .otherwise(raise_error(lit("embedding_drift: empty 'cur' snapshot")))
    d.groupBy("dim")
      .agg(
        sum(when(col("snap") === "ref", 1L).otherwise(0L)).as("ref_n"),
        sum(when(col("snap") === "cur", 1L).otherwise(0L)).as("cur_n"),
        sum(when(col("snap") === "ref", col("q")).otherwise(0L)).as("ref_sum"),
        sum(when(col("snap") === "cur", col("q")).otherwise(0L)).as("cur_sum"))
      .select(col("dim"),
        col("ref_n"), col("cur_n"),
        (refMean - 2000L).as("ref_mean_milli"),
        (curMean - 2000L).as("cur_mean_milli"),
        abs(refMean - curMean).as("drift_milli"))
      .orderBy(desc("drift_milli"), asc("dim"))
  }

  /** NFC-normalization gate ([[TextAnalysis
    * .unicodeNormalizationReport]]): the fixture is ASCII, so
    * DECOMPOSED content is injected in-plan (the hygiene-gate
    * convention) — md5-bucket < 64 docs get a suffix containing
    * e+COMBINING-ACUTE and i+COMBINING-DIAERESIS; both engines inject,
    * normalize (JDK Normalizer vs DuckDB nfc_normalize — both
    * implement Unicode canonical composition), and the xor checksum
    * over NORMALIZED text pins the normalized bytes cross-engine. */
  val unicodeNormalization: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val b = Sampling.hashBucket256(col("doc_id"))
    val corrupted = d.withColumn("t",
      when(b < 64, concat(col("text"), lit(" cafe\u0301 nai\u0308ve"))).otherwise(col("text")))
    TextAnalysis.unicodeNormalizationReport(corrupted, "source", "t").orderBy("source")
  }

  /** Chunk-level exact dedup — duplicate passages across documents
    * (whole-doc dedup can't see them). Same normalize+chunk parameters
    * as `doc_chunks`, so the two queries compose into one pipeline. */
  val dedupChunks: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    Dedup.chunkDedup(d, "doc_id", "text", chunkSize = 64, overlap = 8)
      .orderBy("chunk_md5")
  }

  /** Connected components through the iterative min-label-propagation
    * operator — the transitive-closure step of dedup (pairs → clusters).
    * The edge set here is deterministic and engine-portable (consecutive
    * doc_ids sharing a lang label), producing genuine multi-hop chains
    * (runs of length k ⇒ diameter k−1 ⇒ multiple propagation rounds), so
    * the ORACLE verifies real convergence, via gaps-and-islands SQL. */
  val dedupComponents: Q = (s, dir) => {
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("lang"))
    val e = d.as("a").join(d.as("b"),
        col("a.doc_id") + 1 === col("b.doc_id") && col("a.lang") === col("b.lang"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    Dedup.dedupGroups(d, "doc_id", e).orderBy("doc_id")
  }

  /** The production dedup flow end-to-end: MinHash+LSH near-dup pairs →
    * connected components → cluster representative per doc. Portable
    * hashes ⇒ the oracle replays the pairs AND the transitive closure
    * (recursive-CTE reachability with min-label components). */
  val dedupGroupsMinhash: Q = (s, dir) => {
    val docs = Tables(s, dir, "documents")
    Dedup.dedupGroups(docs, "doc_id",
        Dedup.minHashPairs(docs, "doc_id", "text", threshold = 0.3, maxBucket = MaxBucket))
      .orderBy("doc_id")
  }

  /** Near-dup cluster REPRESENTATIVE SELECTION — the step after
    * grouping in every production dedup: keep the highest-QUALITY doc
    * per cluster (not the first/lowest-id one — the best copy of a
    * boilerplate-laden page is usually not its first crawl). Composes
    * the minhash component grouping with [[TextAnalysis.qualityScore]]
    * and a per-component argmax via the map-side-pruned
    * [[graft.operators.GroupTopK]] (k=1 — the CDC keep-latest shape,
    * keyed by quality). Ties break to the smallest doc_id so the
    * choice is total and the oracle replays it exactly. Scale: the
    * grouping dominates (bounded by the banded pair generation); the
    * argmax adds one component-keyed shuffle of (component, id,
    * quality) triples. */
  val dedupKeepBest: Q = (s, dir) => {
    val docs = Tables(s, dir, "documents")
    val groups = Dedup.dedupGroups(docs, "doc_id",
      Dedup.minHashPairs(docs, "doc_id", "text", threshold = 0.3, maxBucket = MaxBucket))
    val scored = groups.join(
      docs.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality")), "doc_id")
    graft.operators.GroupTopK.topK(
        scored.select("component", "doc_id", "quality"),
        Seq("component"), Seq(("quality", false), ("doc_id", true)), k = 1)
      .select(col("component"), col("doc_id").as("keep_id"), col("quality"))
      .orderBy("component")
  }

  /** The CENTRALITY representative ([[Graph.keepCentral]]) — the
    * graph-aware twin of [[dedupKeepBest]]: instead of a per-doc
    * quality score, each near-dup component keeps its highest-PageRank
    * member — the doc sharing the most content with the rest of its
    * cluster. Rank is exact integer fixed-point (ppm mass, truncating
    * DIV, eight synchronous rounds), so the oracle replays the ENTIRE
    * trajectory as eight unrolled CTEs over the shared minhash pair
    * block. The pair frame is shared by its two consumers (ranks +
    * components). Scale: 8 × (edge⋈rank join + dst-keyed
    * partial-agg shuffle) over the LSH-capped candidate graph — the
    * Pregel profile on a bounded edge list, never the corpus. */
  val dedupKeepCentral: Q = (s, dir) => {
    val docs = Tables(s, dir, "documents")
    val pairs = Dedup.minHashPairs(docs, "doc_id", "text",
        threshold = 0.3, maxBucket = MaxBucket)
      .transform(Materialize.shared)
    Graph.keepCentral(pairs, iters = 8).orderBy("component")
  }

  /** END-TO-END PIPELINE DISPOSITION — the capstone composition: every
    * document (plus injected exact-duplicate echoes, the
    * [[echoBase]] rule, so the exact stage is exercised on a corpus
    * with no natural whole-doc dups) is labeled with its fate through
    * the production filter chain, in precedence order:
    *   1. `drop_quality`  — [[TextAnalysis.qualityScore]] < 0.8;
    *   2. `drop_exact`    — a smaller surviving doc_id holds the same
    *      content fingerprint (min-per-hash window);
    *   3. `drop_neardup`  — in a minhash component whose best-quality
    *      representative (ties to smallest id) is another doc;
    *   4. `kept`          — survives all three.
    * One row per doc with its status and quality — the per-document
    * audit trail a data-governance review asks for ("why was this doc
    * dropped?"). Scale: quality is a narrow map; the exact stage is
    * one content-hash shuffle; the near-dup stage runs ONLY on exact
    * survivors and is bounded by the banded pair generation; the
    * disposition joins carry (id, label)-sized rows. Each stage
    * reuses the operator the catalog verifies in isolation, and the
    * oracle replays the whole chain over the SAME shared CTE blocks —
    * the composition, not just the parts, is hash-verified. */
  val pipelineDisposition: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val base = echoBase(s, dir)
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val d0 = d.union(
      d.filter(Sampling.hashBucket256(col("doc_id")) < 8)
        .select((col("doc_id") + base).as("doc_id"), col("text")))
    // scored feeds the survivor chain AND the final disposition join;
    // the survivor set feeds the near-dup stage (itself multi-pass) and
    // the verdict join — share both so each computes once
    val scored = d0.withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .transform(Materialize.shared)
    val s1 = scored.filter(col("quality") >= 0.8)
    val firstPerHash = s1
      .withColumn("h", TextAnalysis.fingerprintMd5(col("text")))
      .withColumn("first_id", min("doc_id").over(Window.partitionBy("h")))
    val s2 = firstPerHash.filter(col("doc_id") === col("first_id"))
      .select("doc_id", "text", "quality")
      .transform(Materialize.shared)
    val groups = Dedup.dedupGroups(s2, "doc_id",
      Dedup.minHashPairs(s2, "doc_id", "text", threshold = 0.3, maxBucket = MaxBucket))
    val keep = graft.operators.GroupTopK.topK(
        groups.join(s2.select("doc_id", "quality"), "doc_id")
          .select("component", "doc_id", "quality"),
        Seq("component"), Seq(("quality", false), ("doc_id", true)), k = 1)
      .select(col("doc_id").as("keep_id"))
    scored.select("doc_id", "quality")
      .join(firstPerHash.select("doc_id", "first_id"), Seq("doc_id"), "left")
      .join(keep, col("doc_id") === col("keep_id"), "left")
      .select(col("doc_id"),
        when(col("quality") < 0.8, "drop_quality")
          .when(col("doc_id") =!= col("first_id"), "drop_exact")
          .when(col("keep_id").isNotNull, "kept")
          .otherwise("drop_neardup").as("status"),
        col("quality"))
      .orderBy("doc_id")
  }

  /** UNIFIED DROP-OBSERVABILITY REPORT (round-13 item #8): one frame
    * per pipeline run — `(stage, dropped_buckets, dropped_rows)` —
    * aggregating every place the cleaning pipeline discards work, so
    * "covered everything" is a checkable integer claim instead of a
    * reading of scattered logs. Stages mirror `pipeline_disposition`'s
    * composition exactly (same echo base, same quality gate, same
    * exact-dedup window, same banded near-dup over the survivor set):
    *
    *  - `a_quality`: docs failing the 0.8 quality gate;
    *  - `b_exact`: later copies removed by the md5 fingerprint window;
    *  - `c_lsh_bucket_cap`: the SILENT-CAP stage made loud — LSH
    *    buckets over the survivor set whose membership exceeds
    *    `MaxBucket` are excluded from candidate generation; the report
    *    counts those buckets AND their member rows (bucket-membership
    *    slots, a doc in two capped buckets counts twice — the exact
    *    quantity of candidate work skipped);
    *  - `d_neardup`: non-representative members of near-dup
    *    components (keep-best keeps one per component);
    *  - `e_semdedup_cluster_cap`: the semantic-dedup sibling of the
    *    LSH cap made loud — embedding clusters (under the same dial
    *    `dedup_semantic` runs: k=4/sampleN=16 at this fixture, cap
    *    8×128 via [[Similarity.resolveMaxCluster]]) whose membership
    *    exceeds `maxCluster`, which [[Similarity.semDedup]] excludes
    *    from pairing; counts the clusters and their member rows. Zero
    *    on this corpus — the TRUE answer (no cluster is oversize; the
    *    `dedup_semantic_skew` gate proves the counting where it
    *    fires) — and the oracle still replays the full training +
    *    census + cap rule, not the constant.
    *
    * All five are single-row aggregates unioned — the corpus-sized
    * stages run once each and reduce map-side; the oracle replays the
    * same stages over the shared CTE blocks. */
  val pipelineDropReport: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val base = echoBase(s, dir)
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val d0 = d.union(
      d.filter(Sampling.hashBucket256(col("doc_id")) < 8)
        .select((col("doc_id") + base).as("doc_id"), col("text")))
    // FOUR stage aggregates consume overlapping prefixes of one DAG:
    // the quality-regex scan feeds stages a+b+c+d and the survivor set
    // feeds c and the (itself multi-pass) near-dup stage — share both
    // so each is computed ONCE, not once per consumer.
    val scored = d0.withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .transform(Materialize.shared)
    val s1 = scored.filter(col("quality") >= 0.8)
    val firstPerHash = s1
      .withColumn("h", TextAnalysis.fingerprintMd5(col("text")))
      .withColumn("first_id", min("doc_id").over(Window.partitionBy("h")))
    val s2 = firstPerHash.filter(col("doc_id") === col("first_id"))
      .select("doc_id", "text", "quality")
      .transform(Materialize.shared)
    val groups = Dedup.dedupGroups(s2, "doc_id",
      Dedup.minHashPairs(s2, "doc_id", "text", threshold = 0.3, maxBucket = MaxBucket))
    val keep = graft.operators.GroupTopK.topK(
        groups.join(s2.select("doc_id", "quality"), "doc_id")
          .select("component", "doc_id", "quality"),
        Seq("component"), Seq(("quality", false), ("doc_id", true)), k = 1)
      .select(col("doc_id").as("keep_id"))
    def stage(name: String, buckets: Column, rows: Column, src: DataFrame): DataFrame =
      src.agg(coalesce(buckets, lit(0L)).cast("long").as("dropped_buckets"),
          coalesce(rows, lit(0L)).cast("long").as("dropped_rows"))
        .select(lit(name).as("stage"), col("dropped_buckets"), col("dropped_rows"))
    val a = stage("a_quality", lit(0L),
      sum(when(col("quality") < 0.8, 1L).otherwise(0L)), scored)
    val b = stage("b_exact", lit(0L),
      sum(when(col("doc_id") =!= col("first_id"), 1L).otherwise(0L)), firstPerHash)
    val c = stage("c_lsh_bucket_cap", count(lit(1)), sum(col("n")),
      Dedup.lshBuckets(s2, "doc_id", "text").filter(col("n") > MaxBucket))
    val dd = stage("d_neardup", lit(0L),
      sum(when(col("keep_id").isNull, 1L).otherwise(0L)),
      s2.join(keep, col("doc_id") === col("keep_id"), "left"))
    val capEff = Similarity.resolveMaxCluster(0, 128)
    val ee = stage("e_semdedup_cluster_cap", count(lit(1)), sum(col("c_n")),
      Similarity.semDedupClusterSizes(Tables(s, dir, "embeddings"),
        "vec_id", "embedding").filter(col("c_n") > capEff))
    a.unionAll(b).unionAll(c).unionAll(dd).unionAll(ee).orderBy("stage")
  }

  /** Cross-SOURCE near-dup leakage matrix — the split-hygiene audit
    * run before any per-source train/eval split: if near-identical
    * documents live in two sources, splitting by source leaks train
    * content into eval. Composes the banded candidate pairs with two
    * id→source lookups and aggregates pair counts per unordered source
    * pair (least/greatest normalization so each pair counts once).
    * Scale: bounded by the banded pair generation; the source lookup
    * joins carry (id, source) only, and the final matrix is
    * |sources|² at most — driver-tiny. */
  val crossSourceLeakage: Q = (s, dir) => {
    val docs = spreadForCompute(s, Tables(s, dir, "documents"))
    val src = docs.select(col("doc_id"), col("source"))
    Dedup.minHashPairs(docs, "doc_id", "text", threshold = 0.3, maxBucket = MaxBucket)
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** LSH bucket-size histogram — the audit view for minHashPairs'
    * hot-bucket cap (buckets above maxBucket are dropped, never
    * silently): how many buckets hold n members, driver-visible.
    * Portable md5 band keys ⇒ the histogram is oracle-replayed. */
  val lshBucketHistogram: Q = (s, dir) =>
    Dedup.lshBuckets(spreadForCompute(s, Tables(s, dir, "documents")), "doc_id", "text")
      .groupBy(col("n").as("bucket_size")).agg(count(lit(1)).as("n_buckets"))
      .select("bucket_size", "n_buckets")
      .orderBy("bucket_size")

  /** Frame sampling through the real binary path
    * ([[Multimodal.sampleFrames]]): every 4th 64-byte chunk of the
    * payload becomes a frame row, fingerprinted with md5. The DuckDB
    * oracle replays the slicing over VARCHAR (no blob substring in
    * DuckDB 1.0) — byte-identical because the corpus is pure ASCII
    * (validated at sf0.001/0.01/0.1: zero non-ASCII chars). */
  val mediaFrames: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val media = d.select(col("doc_id"),
      Multimodal.mediaStruct(
        to_binary(col("text"), lit("utf-8")), lit("application/octet-stream"),
        lit(0), lit(0), lit(1)).as("media"))
    Multimodal.sampleFrames(media, "doc_id", "media", frameBytes = 64, stride = 4)
      .select(col("doc_id"), col("frame_idx"), md5(col("frame")).as("frame_md5"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Content-hash membership pruning through the STRING-KEY Bloom semi
    * join ([[graft.operators.BloomJoin.semiJoin]]): documents whose
    * md5 content hash appears in a blocklist sample (every 37th doc's
    * hash — planted exact-dups make non-sampled docs match too, so the
    * hash-set membership is genuinely exercised). The sketch broadcast
    * prunes the probe side BEFORE its shuffle; the final semi join
    * keeps it exact, so the plain IN-subquery oracle replays it. At
    * 100 TB this is the fingerprint-blocklist filter: KB of sketch in
    * place of shuffling every (hash, id) pair. */
  val bloomPruneDocs: Q = (s, dir) => {
    val withHash = Tables(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("content_hash"))
    val blocklist = withHash.filter(col("doc_id") % 37 === 0)
      .select(col("content_hash").as("blocked_hash"))
    graft.operators.BloomJoin.semiJoin(
        withHash, blocklist, "content_hash", "blocked_hash", expectedItems = 100000L)
      .orderBy("doc_id")
      .select("doc_id", "content_hash")
  }

  /** AUDIO through the binary gate ([[Multimodal.synthesizePcm]] →
    * [[Multimodal.audioStats]]): per doc, a 16-bit LE mono PCM payload
    * of `200 + doc_id % 57` closed-form samples is packed in-plan,
    * then PARSED BACK out of the binary column and reduced to
    * integer-exact waveform stats (peak, L1/L2 energy, zero
    * crossings). The oracle replays the sample formula directly —
    * payload-free — so a hash match proves the byte-level pack→parse
    * round trip (wrong endianness, stride, or sign handling diverges
    * on every row). Both stages are narrow maps: the 100 TB audio
    * feature-extraction shape. */
  val mediaAudioStats: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), expr("CAST(200 + doc_id % 57 AS INT)").as("n"))
    Multimodal.audioStats(
        Multimodal.synthesizePcm(d, "doc_id", "n"), "doc_id", "media")
      .orderBy("doc_id")
  }

  /** Audio RESAMPLE gate — the PCM payload decimated ×2
    * ([[Multimodal.decimatePcm]]: keep every other sample, exact index
    * subsequence) and re-analyzed with the same waveform stats. The
    * oracle states every post-resample stat from the closed form over
    * EVEN sample indices only — a hash match proves synth → decimate →
    * re-parse end-to-end, including the halved sample count and the
    * changed zero-crossing structure (decimation halves the sampling
    * rate, so crossings between dropped samples disappear — real
    * aliasing arithmetic, exactly replayed). */
  val mediaAudioResample: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), expr("CAST(200 + doc_id % 57 AS INT)").as("n"))
    Multimodal.audioStats(
        Multimodal.decimatePcm(
          Multimodal.synthesizePcm(d, "doc_id", "n"), "doc_id", "media", factor = 2),
        "doc_id", "media")
      .orderBy("doc_id")
  }

  /** The corpus audio frame → energy-delta fingerprints
    * ([[Multimodal.synthesizePcmPx]] → [[Multimodal
    * .audioFingerprint]]): one md5-mixed seed PER (cluster, frame) —
    * per-frame granularity is load-bearing; a single per-cluster
    * additive seed truncates mod 2^16 and collapses to 65 536
    * effective waveforms, which at the 10× probe's cluster count
    * manufactured 2.48 M phantom cross-cluster pairs (the r17 texture
    * lesson on the amplitude axis — numbers in SCALE.md). The noise
    * frame (`p % 56`, SHARED per cluster) switches to the doc's own
    * md5 seed — the per-doc re-encode artifact — so cluster-mates are
    * near-duplicate waveforms differing in exactly one frame energy:
    * pairwise Hamming ≤ 2 < bands = 4 and the banded recall guarantee
    * holds OUTRIGHT (no band-confinement caveat like the image
    * family's maxHamming = 4). */
  /** Audio signatures for a params frame carrying (doc_id, p) —
    * cluster `p` rides the synth closure's tag slot because an echo
    * batch reuses the ORIGINAL doc's cluster under a new id (p is not
    * a function of the id there). n is CLUSTER-constant (p % 57): a
    * per-doc length would shift every frame boundary between
    * cluster-mates and turn the planted near-dups into full-signature
    * strangers. */
  private[queries] def audioSigsForParams(d: DataFrame): DataFrame = {
    val F = 57
    val withN = d.select(col("doc_id"), col("p"),
      expr("CAST(200 + p % 57 AS INT)").as("n"))
    val media = Multimodal.synthesizePcmPx(withN, "doc_id", "n", "p") { (id, p, n, k) =>
      val f = (k.toLong * F / n).toInt
      val seed =
        if (f == (p % 56).toInt) Sampling.hash60Jvm(s"audn:$id")
        else Sampling.hash60Jvm(s"aud:$p:$f")
      (Math.floorMod(seed + k * 104729L, 65536L) - 32768L).toInt
    }
    Multimodal.audioFingerprint(media, "doc_id", "media", nFrames = F)
  }

  /** AUDIO NEAR-DUP PAIRS — the modality the image family
    * ([[mediaDedupFeatures]]) was factored for: synth → REAL byte-level
    * PCM parse → 56-bit energy-delta fingerprint → the SAME
    * [[Dedup.bitSignaturePairs]] band-LSH (4×14-bit bands, bucket cap,
    * exact Hamming verify — ONE shuffle on the band key, never
    * all-pairs). Every sample, energy, bit, band and distance replays
    * in the oracle from the closed form, so a hash match proves the
    * byte pack→parse round trip AND the pairing. */
  val mediaAudioDedup: Q = (s, dir) =>
    mediaPairs(s, dir, MediaModality.Audio).orderBy("id_a", "id_b")

  /** The corpus video frame → per-video majority signatures: each doc
    * is a 5-frame animated GIF of md5-textured 8×8 frames (ONE texture
    * set per 8-doc cluster `doc_id DIV 8`, frames differ by the frame
    * index in the texture hash), REALLY encoded and decoded
    * ([[Multimodal.synthesizeGifFramesPx]] → the sequence reader →
    * lossless PNG frames → [[Multimodal.imageDHash]] per frame), then
    * reduced to ONE 56-bit signature per video by the per-position
    * MAJORITY bit across frames — the frame-sequence fingerprint that
    * tolerates any single frame's corruption. The planted noise is one
    * pixel of one frame (position and frame index shared per cluster,
    * gray bump per doc), so cluster-mates' frame dHashes differ in ≤ 2
    * bits of one frame and the MAJORITY signatures differ pairwise in
    * ≤ 2 bits — `maxHamming 2 < bands 4` gives the outright recall
    * guarantee (the audio family's argument, lifted across frames).
    * The whole synth→decode→per-frame-dHash→majority chain is ONE
    * narrow map ([[Multimodal.videoMajoritySignature]] — all frames of
    * a video live in its one payload row, so the former doc-keyed
    * majority shuffle was an exchange for row-local work; the narrow
    * form is also what lets the INGEST STREAM fingerprint video with
    * zero aggregation state, `stream_video_dedup`). */
  /** Video majority signatures for a params frame carrying (doc_id, p)
    * — cluster `p` rides the synth closure's tag slot (an echo batch
    * reuses the ORIGINAL video's cluster under a new id). Streaming-
    * safe: narrow maps only, so the SAME code runs behind readStream
    * (the batch/stream-shared-derivation rule the audio family uses). */
  private[graft] def videoSigsForParams(d0: DataFrame): DataFrame = {
    val F = 5
    val d = d0.select(col("doc_id"), col("p"),
      lit(F).as("nf"), lit(8).as("w"), lit(8).as("h"))
    val media = Multimodal.synthesizeGifFramesPx(
        d, "doc_id", "nf", "w", "h", "p") { (id, p, k, x, y) =>
      val base = (Sampling.hash60Jvm(s"vid:$p:$k:$x:$y") % 126L).toInt
      val bump =
        if (k == (p % F).toInt && x == (p % 8).toInt && y == ((p / 8) % 8).toInt)
          (Sampling.hash60Jvm(s"vidn:$id") % 126L).toInt
        else 0
      1 + (base + bump) % 126
    }
    Multimodal.videoMajoritySignature(media, "doc_id", "media", grid = 8)
  }

  /** INCREMENTAL AUDIO DEDUP — [[incrementalProbe]] on the PCM path:
    * an echo re-encode is an existing corpus waveform under a new id
    * (same cluster, same frames, a fresh per-doc noise seed); per batch
    * doc, distinct corpus matches within Hamming ≤ 2. */
  val mediaAudioDedupIncremental: Q = (s, dir) =>
    incrementalProbe(s, dir, MediaModality.Audio, None)

  /** DELETE PATH for the persisted audio band index — [[mediaForget]]'s
    * PCM sibling; with this and [[mediaVideoForget]] every persisted
    * band index in the repo (image / audio / video / caption-composite)
    * masks forgets with the same broadcast anti-join, index never
    * rewritten. */
  val mediaAudioForget: Q = (s, dir) =>
    incrementalProbe(s, dir, MediaModality.Audio, Some("left_anti"))

  /** VIDEO NEAR-DUP PAIRS — the last modality onto
    * [[Dedup.bitSignaturePairs]]: real GIF sequence encode → real
    * frame decode → per-frame dHash → majority-bit video signature →
    * the shared band-LSH (4×14-bit bands, exact Hamming ≤ 2 verify,
    * never all-pairs). The oracle replays every pixel, per-frame bit,
    * majority vote, band and distance from the closed form. */
  val mediaVideoDedup: Q = (s, dir) =>
    mediaPairs(s, dir, MediaModality.Video).orderBy("id_a", "id_b")

  /** INCREMENTAL VIDEO DEDUP — [[incrementalProbe]] for the last
    * modality: an echo re-encode keeps its cluster's textures and noise
    * position with a fresh per-doc bump, so its majority signature
    * lands within Hamming ≤ 2 of the corpus mates'. Completes the
    * pairs + day-2 matrix across image / audio / video. */
  val mediaVideoDedupIncremental: Q = (s, dir) =>
    incrementalProbe(s, dir, MediaModality.Video, None)

  /** DELETE PATH for the persisted video band index — see
    * [[mediaAudioForget]]: the forget matrix closes across every
    * persisted band index. */
  val mediaVideoForget: Q = (s, dir) =>
    incrementalProbe(s, dir, MediaModality.Video, Some("left_anti"))

  /** Byte-level media stats (no decode): engine-portable ⇒ oracle. */
  val mediaStats: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    d.select(
      col("doc_id"),
      octet_length(to_binary(col("text"), lit("utf-8"))).as("n_bytes"),
      md5(to_binary(col("text"), lit("utf-8"))).as("payload_md5"))
      .transform(Materialize.shared)
      .orderBy("doc_id")
  }

  /** PCA/whitening sufficient statistics over the embedding corpus
    * ([[Similarity.secondMoments]]): the d(d+1)/2 upper-triangular
    * integer moment matrix in ONE corpus pass. The per-row d² expansion
    * is absorbed by map-side partial aggregation — the shuffle carries
    * O(partitions · d²) rows, never O(corpus) — and the 1e-3 integer
    * quantization makes every sum exact, so the DuckDB unnest-self-join
    * replay hashes identically. */
  val embeddingMoments: Q = (s, dir) =>
    Similarity.secondMoments(Tables(s, dir, "embeddings"), "embedding")
      .orderBy("i", "j")

  /** Embedding outliers ([[Similarity.embeddingOutliers]]): top-20
    * vectors by EXACT centered distance from the corpus mean in
    * n-scaled integer space — the corpus-sanity pass that catches
    * constant/degenerate/mis-scaled embeddings before ANN or dedup
    * trust them. The scaled distance itself is part of the output
    * (decimal → string, plain digits in both engines), so the gate
    * pins the whole moment → broadcast → scan-side scoring pipeline,
    * not just the ranking. */
  val embeddingOutliers: Q = (s, dir) =>
    Similarity.embeddingOutliers(Tables(s, dir, "embeddings"), "vec_id", "embedding", k = 20)
      .withColumnRenamed("id", "vec_id")
      .orderBy(col("vec_id"))

  /** The TRAINED vector quantizer through the correctness gate
    * ([[Similarity.kmeansAssign]]): md5-sampled 16-vector training set,
    * maximin seeding, 2 Lloyd rounds with truncating-integer-division
    * centroid updates, then every corpus vector assigned scan-side to
    * its nearest trained centroid (exact integer L2, ties to the lowest
    * centroid id). The DuckDB oracle replays the ENTIRE training loop
    * as chained CTEs — seeding argmaxes, per-round assignments, floor
    * updates, empty-cluster carry — so "trained mode" is no longer
    * pinned only by recall-floor specs: its every output value is
    * hash-verified. */
  val embeddingKmeansAssign: Q = (s, dir) =>
    Similarity.kmeansAssign(Tables(s, dir, "embeddings"), "vec_id", "embedding",
      k = 4, sampleN = 16, iters = 2)
      .orderBy("vec_id")

  /** Cluster topic labeling ([[TextAnalysis.clusterTopicTerms]]): the
    * SAME pinned-dial k-means assignment as `embedding_kmeans_assign`
    * joined to the documents (vec_id = doc_id on the shared fixture id
    * space, the `hybrid_rerank` convention), then top-3 lift-scored
    * tokens per cluster. The oracle replays training, assignment, both
    * counts, and the ranked selection. */
  val clusterTopicTerms: Q = (s, dir) => {
    val assign = Similarity.kmeansAssign(Tables(s, dir, "embeddings"), "vec_id", "embedding",
        k = 4, sampleN = 16, iters = 2)
      .filter(col("centroid").isNotNull)
      .select(col("vec_id").as("doc_id"), col("centroid"))
    TextAnalysis.clusterTopicTerms(assign, Tables(s, dir, "documents"), "doc_id", "text", k = 3)
      .orderBy("centroid", "rk")
  }

  /** Cluster-balanced sampling ([[Sampling.clusterBalancedSample]]):
    * the SAME pinned-dial k-means assignment as
    * `embedding_kmeans_assign`, then at most 16 smallest-md5 members
    * per cluster — the label-free topic-rebalancing cap. The oracle
    * replays training, assignment, AND the within-cluster md5 rank. */
  val clusterBalancedSample: Q = (s, dir) =>
    Sampling.clusterBalancedSample(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", quota = 16, k = 4, sampleN = 16, iters = 2)
      .orderBy("centroid", "sel_rk")

  /** The first iteration of BPE tokenizer training: adjacent-character-
    * pair statistics. The corpus-sized work is ONLY the word-frequency
    * aggregate (map-side partial, the `top_tokens` shape); the pair
    * explosion runs over the DISTINCT vocabulary weighted by frequency,
    * so its fan-out is O(|vocab| · word_len) regardless of corpus
    * size — the standard trick that makes BPE training feasible at
    * 100 TB (count words once, merge pairs over the vocab table).
    * Top-30 pairs by weighted occurrence count, ties on pair. */
  val bpePairStats: Q = (s, dir) => {
    val wf = Tables(s, dir, "documents")
      .select(explode(split(TextAnalysis.normalizeText(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))
    wf.filter(length(col("w")) >= 2)
      .select(col("w"), col("f"), explode(expr(
        "transform(sequence(1, length(w) - 1), k -> substring(w, k, 2))")).as("pair"))
      .groupBy("pair")
      .agg(sum("f").as("n_occurrences"), count_distinct(col("w")).as("n_vocab_words"))
      .orderBy(desc("n_occurrences"), asc("pair")).limit(30)
  }

  /** REAL BPE tokenization end-to-end ([[Bpe]]): deterministic merge
    * training (the `bpe_pair_stats` statistic iterated to a fixed
    * vocabulary, driver-side over the bounded top-V word table — the
    * trained-quantizer boundedness class), then every document encoded
    * SCAN-SIDE by the compiled merge chain (literal codegen'd
    * `replace`s, zero shuffle). Output per doc: the exact token count
    * plus md5 witnesses of the token string and the id sequence — so
    * the hash pins merge selection, merge ORDER, non-overlapping
    * application and the vocabulary id assignment at once. The oracle
    * ([[BpeOracle]]) replays the whole training loop as chained CTEs;
    * no Spark-trained value enters it. */
  /** Spread a SMALL corpus across cores before a COMPUTE-BOUND encode
    * scan. The sf fixtures are single parquet files → ONE input
    * partition → the M-merge encode loop runs on one core of 32
    * (measured: the full encode pipeline drops 1.31 s → 0.36 s at
    * sf0.1 with this spread — SCALE.md round-12d). This is the
    * INVERSE of the repo's shuffle-avoidance default, and deliberately
    * conditional: when the input already carries ≥ cores partitions
    * (any fleet-scale corpus — file count ≫ cores), the spread is a
    * no-op and no shuffle is added. The shuffle it does add on the
    * small-file regime moves the corpus text ONCE to buy cores×
    * parallelism on the heavy loop. */
  /** The spread decision is an [[Artifacts]] value keyed on `df`'s own
    * plan and input files: the partition-count probe
    * (`df.rdd.getNumPartitions`) forces a plan→RDD conversion, so it is
    * paid once per distinct source, and two tables in one dir never
    * share a decision. The count is a function of the source file
    * layout and the session's split config (`target` is part of the
    * kind). */
  private[graft] def spreadForCompute(s: SparkSession, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    val doSpread = Artifacts.getOrBuild(s"spread:$target", Seq(df)) { _ =>
      df.rdd.getNumPartitions < target
    }
    if (doSpread) df.repartition(target) else df
  }

  /** [[spreadForCompute]], `Materialize.shared` — for gates whose
    * spread frame is consumed MORE THAN ONCE (round-21 verdict item 2:
    * an unmaterialized repartition re-executes per consumer; the
    * ANN/retrieval audits re-ran it 2–8× and regressed ~1.5–2.8×). */
  private def spreadShared(s: SparkSession, df: DataFrame): DataFrame =
    Materialize.shared(spreadForCompute(s, df))

  /** Trained tokenizers are [[Artifacts]] values over their training
    * corpus: training is two bounded corpus aggregates + a driver
    * loop, identical for every query that tokenizes the same corpus —
    * paid once per JVM, not once per (query × bench rep), and valid
    * across sessions (plain data, no DataFrame/RDD state). */
  private def trainedBpeOn(corpus: DataFrame): Bpe.Trained =
    Artifacts.getOrBuild("bpe", Seq(corpus))(_ => Bpe.train(corpus, "text"))

  private def trainedUnigramOn(corpus: DataFrame, keepPieces: Int = Unigram.KeepPieces): Unigram.Trained =
    Artifacts.getOrBuild(s"unigram:kp$keepPieces", Seq(corpus))(
      _ => Unigram.train(corpus, "text", keepPieces = keepPieces))

  private[graft] def trainedBpe(s: SparkSession, dir: String): Bpe.Trained =
    trainedBpeOn(Tables(s, dir, "documents"))

  private[graft] def trainedUnigram(s: SparkSession, dir: String): Unigram.Trained =
    trainedUnigramOn(Tables(s, dir, "documents"))

  private[graft] def trainedBpeBytes(s: SparkSession, dir: String): Bpe.Trained = {
    val docs = Tables(s, dir, "documents")
    Artifacts.getOrBuild("bpe_bytes", Seq(docs))(_ => Bpe.trainBytes(docs, "text"))
  }

  /** Out-of-corpus unicode the byte tokenizer must cover with ZERO
    * unknown ids — scripts and code-point classes the training corpus
    * (ASCII-ish synthetic docs) never contains: accented latin, CJK,
    * emoji (supplementary plane), Cyrillic, combining marks. Shared
    * verbatim with the DuckDB oracle ([[BpeOracle.bpeCoverageBytesSql]])
    * so both engines tokenize identical bytes. Chosen to lowercase
    * identically in both engines (no locale-sensitive case pairs). */
  private[graft] val HostileTexts: Seq[String] = Seq(
    "café über straße naïve",
    "你好世界 日本語テスト",
    "😀🚀 emoji 🎉 mix",
    "привет мир",
    "á combining é marks ö",
    "mixed ascii with émojis 🤖 tail")

  val bpeEncode: Q = (s, dir) => {
    val d = spreadForCompute(s, Tables(s, dir, "documents"))
    val trained = trainedBpe(s, dir)
    val toks = Bpe.encode(col("text"), trained.merges)
    d.select(col("doc_id"), toks.as("ts"))
      .select(col("doc_id"),
        size(col("ts")).as("n_tokens"),
        md5(to_binary(array_join(col("ts"), " "), lit("utf-8"))).as("tokens_md5"),
        md5(to_binary(array_join(
          transform(Bpe.tokenIds(col("ts"), trained), i => i.cast("string")), ","),
          lit("utf-8"))).as("ids_md5"))
      .orderBy("doc_id")
  }

  /** BYTE-LEVEL BPE encode (GPT-2 convention, round 15): the same
    * witnesses as `bpe_encode` but over [[Bpe.trainBytes]] /
    * [[Bpe.encodeBytes]] — initial symbols are each word's UTF-8 bytes
    * as hex pairs, the alphabet is the structural 256-byte table, so
    * no token can fall outside the vocabulary. The oracle
    * ([[BpeOracle.bpeEncodeBytesSql]]) re-derives the full byte-mode
    * training loop and encode from parquet alone. */
  val bpeEncodeBytes: Q = (s, dir) => {
    val d = spreadForCompute(s, Tables(s, dir, "documents"))
    val trained = trainedBpeBytes(s, dir)
    val toks = Bpe.encodeBytes(col("text"), trained.merges)
    d.select(col("doc_id"), toks.as("ts"))
      .select(col("doc_id"),
        size(col("ts")).as("n_tokens"),
        md5(to_binary(array_join(col("ts"), " "), lit("utf-8"))).as("tokens_md5"),
        md5(to_binary(array_join(
          transform(Bpe.tokenIds(col("ts"), trained), i => i.cast("string")), ","),
          lit("utf-8"))).as("ids_md5"))
      .orderBy("doc_id")
  }

  /** The zero-OOV PROOF for the byte tokenizer: train on `documents`
    * alone, tokenize documents PLUS [[HostileTexts]] (unicode the
    * corpus never saw), map every token to an id — `unknown_tokens`
    * must be 0 and `coverage_ppm` 1,000,000, structurally. The
    * code-point tokenizer cannot pass this gate (unseen characters are
    * outside its collected alphabet and map to -1); docs whose
    * normalized text is empty are excluded in both engines (the empty
    * token is a split artifact, not vocabulary). */
  val bpeCoverageBytes: Q = (s, dir) => {
    val trained = trainedBpeBytes(s, dir)
    val hostile = s.createDataFrame(
      s.sparkContext.parallelize(HostileTexts.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    val corpus = Tables(s, dir, "documents").select(col("text")).unionAll(hostile)
    val toks = Bpe.encodeBytes(col("text"), trained.merges)
    corpus
      .filter(length(TextAnalysis.normalizeText(col("text"))) > 0)
      .select(explode(Bpe.tokenIds(toks, trained)).as("id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("id") < 0, 1L).otherwise(0L)).as("unknown_tokens"),
        expr("CAST(sum(CASE WHEN id >= 0 THEN 1 ELSE 0 END) * 1000000 DIV count(1) AS BIGINT)")
          .as("coverage_ppm"))
      .orderBy("n_tokens")
  }

  /** DECODE ROUND TRIP — the inspection/debug direction a tokenized
    * corpus needs ([[Bpe.decodeIdsBytes]]): every doc (documents PLUS
    * the [[HostileTexts]] unicode) is word-segmented, byte-mode
    * encoded, mapped to vocabulary IDS, and decoded back
    * ids → hex tokens → bytes → text. The emitted `decoded_bytes_md5`
    * is compared against the oracle's INDEPENDENT `md5(normalized)` —
    * hash equality IS the `decode(encode(x)) == x` proof, per doc, on
    * text the tokenizer never trained on (the structural-lossless twin
    * of `bpe_coverage_bytes`). `cp_decodable` carries the contrast:
    * the code-point tokenizer's id round trip NULLs on any character
    * outside its trained alphabet (-1 ids — loud, never a silently
    * wrong reconstruction), so hostile rows read 0 where byte mode
    * reads a matching hash. Scan-side narrow compute; the word
    * re-join restores the single-space segmentation exactly. */
  val bpeDecodeRoundtrip: Q = (s, dir) => {
    val trainedB = trainedBpeBytes(s, dir)
    val trainedC = trainedBpe(s, dir)
    // local rows (a LocalRelation), so the frame's plan — and with it
    // the `spread` artifact key below — is the same on every call
    val hostile = s.createDataFrame(
      java.util.Arrays.asList(HostileTexts.zipWithIndex.map { case (t, i) =>
        org.apache.spark.sql.Row(1000000L + i, t)
      }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
    val corpus = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      .unionAll(hostile)
    val norm = TextAnalysis.normalizeText(col("text"))
    // per word: encode → ids → decode. The id maps are the STRUCTURAL
    // byte-mode forms (tokenIdsBytes / idsToTokensBytes): element_at
    // on the full 276-entry vocab literal is a linear scan per token
    // and made this gate 6× slower (17.9 s at sf0.1, caught by the
    // r17 anchor run).
    // One pipeline evaluation per word, NO null-guard branch: the
    // guard's when(exists(arr)).otherwise(join(arr)) references the
    // expensive subtree twice and CollapseProject clones it (the
    // langIdHeuristic/CDC lesson); the byte path is structurally total
    // (every encode token resolves to an id, every id decodes), and if
    // that invariant ever broke, array_join would skip the null and
    // the md5 would hash-fail the gate LOUDLY. Words are split from
    // already-normalized text, so the encoder skips re-normalizing
    // (encodeBytesPreNormalized — two regexes per word saved).
    val decB = array_join(transform(split(norm, " "), w =>
      decode(unhex(array_join(Bpe.idsToTokensBytes(
        Bpe.tokenIdsBytes(
          Bpe.encodeBytesPreNormalized(w, trainedB.merges), trainedB),
        trainedB), "")), "UTF-8")), " ")
    // the code-point id round trip NULLs iff the doc carries a char
    // outside the trained alphabet (a -1 id) — computed here by the
    // EQUIVALENT alphabet-membership test (one translate, no second
    // full encode pass); the decode path itself is spec-pinned
    // (BpeDecodeSpec's null-policy test runs the real decodeIds)
    val alphaStr = trainedC.alphabet.mkString
    val cpDecodable =
      (length(translate(regexp_replace(norm, " ", ""), alphaStr, "")) === 0).cast("int")
    // Round-21 (JobProbe): the per-word encode→ids→decode pipeline ran
    // as TWO ~1 s 2-task stages — the fixture's two scan partitions
    // (docs + hostile) under a global sort, whose range-sampling pass
    // executes the whole expensive projection once and the real
    // exchange executes it AGAIN. Spread the corpus across cores before
    // the heavy narrow compute and share it before the orderBy so the
    // projection runs once. Values unchanged.
    spreadForCompute(s, corpus.filter(length(norm) > 0))
      .select(col("doc_id"),
        size(Bpe.encodeBytes(col("text"), trainedB.merges)).cast("int").as("n_tokens_bytes"),
        md5(decB).as("decoded_bytes_md5"),
        cpDecodable.as("cp_decodable"))
      .transform(Materialize.shared)
      .orderBy("doc_id")
  }

  /** TOKENIZER FERTILITY by source — the standard tokenizer-eval
    * report: tokens-per-word (fertility) and bytes-per-token of the
    * trained byte-mode BPE, per corpus source. High fertility on a
    * source means the tokenizer fragments its text (under-trained for
    * that domain — the signal that drives per-domain vocab tuning);
    * bytes-per-token is the compression rate a context window
    * actually buys. Exact integers in ppm; ONE tokenize scan with a
    * map-side-partial source aggregate; the oracle replays training
    * AND every per-doc token count through the chain CTEs. */
  val bpeFertilityBySource: Q = (s, dir) => {
    val trained = trainedBpeBytes(s, dir)
    val norm = TextAnalysis.normalizeText(col("text"))
    Tables(s, dir, "documents")
      .select(col("source"),
        size(split(norm, " ")).cast("long").as("w"),
        size(Bpe.encodeBytes(col("text"), trained.merges)).cast("long").as("t"),
        octet_length(to_binary(norm, lit("utf-8"))).cast("long").as("b"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("n_words"),
        sum("t").as("n_tokens"), sum("b").as("n_bytes"))
      .select(col("source"), col("n_docs"), col("n_words"), col("n_tokens"), col("n_bytes"),
        expr("CAST(n_tokens * 1000000 DIV n_words AS BIGINT)").as("fertility_ppm"),
        expr("CAST(n_bytes * 1000000 DIV n_tokens AS BIGINT)").as("bytes_per_token_ppm"))
      .orderBy("source")
  }

  /** The token-BUDGET twin of `pack_sequences`: the same parallel
    * two-pass prefix-scan packing, but over EXACT trained-BPE token
    * counts ([[Bpe.tokenCount]]) instead of the whitespace proxy —
    * context windows now hold true subword budgets, which is what the
    * training job actually consumes. */
  val packSequencesBpe: Q = (s, dir) => {
    val d = spreadForCompute(s, Tables(s, dir, "documents"))
    val trained = trainedBpe(s, dir)
    TextAnalysis.packSequencesBy(
      d, "doc_id", Bpe.tokenCount(col("text"), trained.merges).cast("long"))
  }

  /** The trained BPE VOCABULARY as a first-class artifact — (id, token,
    * is_merge), the file a training job ships to its tokenizer. Tiny by
    * construction (alphabet + NumMerges rows); emitted via a driver-side
    * createDataFrame, which is exactly right for a KB-sized artifact.
    * The oracle re-derives every id from the training replay, so the
    * table pins merge ORDER and the dedup-by-min-id rule directly. */
  private def vocabDf(s: SparkSession, trained: Bpe.Trained): DataFrame = {
    import scala.jdk.CollectionConverters._
    val nAlpha = trained.alphabet.size
    val rows = trained.vocab.toSeq.sortBy(_._2).map { case (tk, id) =>
      org.apache.spark.sql.Row(id, tk, if (id >= nAlpha) 1 else 0)
    }
    s.createDataFrame(rows.asJava, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("token", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("is_merge", org.apache.spark.sql.types.IntegerType))))
      .orderBy("id")
  }

  val bpeVocab: Q = (s, dir) => vocabDf(s, trainedBpe(s, dir))

  /** The trained UNIGRAM-LM vocabulary artifact
    * ([[Unigram.train]] — SentencePiece-style hard EM with integer
    * floor-log2 scores): (piece, cnt, score) after the fixed EM
    * rounds. Tiny by design (driver artifact); the oracle re-derives
    * candidate init, BOTH EM rounds (every Viterbi DP cell, backward
    * walk, usage count and prune) from the parquet alone — nothing
    * trained enters the oracle as a literal, the BpeOracle
    * convention. */
  val unigramVocab: Q = (s, dir) => {
    import scala.jdk.CollectionConverters._
    val t = trainedUnigram(s, dir)
    val rows = t.counts.toSeq.sortBy(_._1).map { case (p, c) =>
      org.apache.spark.sql.Row(p, c, t.scores(p).toLong)
    }
    s.createDataFrame(rows.asJava, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("piece", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("cnt", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.LongType))))
      .orderBy("piece")
  }

  /** TOKENIZER-COMPARISON fertility — unigram vs BPE on the same
    * corpus, per source: whitespace words, unigram Viterbi pieces
    * ([[Unigram.pieceCounts]] — narrow closure DP, vocab-sized state),
    * char-BPE tokens ([[Bpe.tokenCount]]), and both fertility ratios
    * in exact ppm. The study question this answers: which tokenizer
    * fragments which domain more — per source, in one scan each. */
  val unigramFertility: Q = (s, dir) => {
    val uni = trainedUnigram(s, dir)
    val bpe = trainedBpe(s, dir)
    // NULL text drops the doc (the spanCorruption convention,
    // TextAnalysis.scala:128) — a NULL row would emit size(null) = -1
    // word counts on the Spark side while the oracle NULL-propagates.
    val base = Tables(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("source"),
        TextAnalysis.normalizeText(col("text")).as("nt"),
        Bpe.tokenCount(col("text"), bpe.merges).cast("long").as("t"))
      .select(col("source"), col("nt"), col("t"),
        size(split(col("nt"), " ")).cast("long").as("w"))
    Unigram.pieceCounts(base, "nt", uni, "u")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("n_words"),
        sum("u").as("n_pieces_unigram"), sum("t").as("n_tokens_bpe"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_pieces_unigram"), col("n_tokens_bpe"),
        expr("CAST(n_pieces_unigram * 1000000 DIV n_words AS BIGINT)").as("fertility_unigram_ppm"),
        expr("CAST(n_tokens_bpe * 1000000 DIV n_words AS BIGINT)").as("fertility_bpe_ppm"))
      .orderBy("source")
  }

  /** UNIGRAM FERTILITY SWEEP — the comparison study the trainer exists
    * for: the SAME corpus trained at two prune budgets (KeepPieces 60
    * vs 120), fertility per source side by side — how much window
    * space does halving the multi-char vocabulary cost? Two complete
    * hard-EM trainings (each the bounded-collect [[Unigram.train]]
    * shape, one artifact per (budget, corpus)), one shared apply frame; the
    * oracle replays BOTH trainings as tagged CTE chains over
    * byte-identical corpus CTEs, so a drift in EITHER training's
    * candidate cut, EM round or final scores hash-fails. */
  val unigramFertilitySweep: Q = (s, dir) => {
    val docs = Tables(s, dir, "documents")
    // NULL text drops the doc (the spanCorruption convention)
    val base = docs.filter(col("text").isNotNull)
      .select(col("source"), TextAnalysis.normalizeText(col("text")).as("nt"))
      .select(col("source"), col("nt"), size(split(col("nt"), " ")).cast("long").as("w"))
    Seq(60, 120).map { kp =>
      val uni =
        trainedUnigramOn(docs, kp)
      Unigram.pieceCounts(base, "nt", uni, "u")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("w").as("n_words"), sum("u").as("n_pieces"))
        .select(lit(kp).as("keep_pieces"), col("source"), col("n_docs"),
          col("n_words"), col("n_pieces"),
          expr("CAST(n_pieces * 1000000 DIV n_words AS BIGINT)").as("fertility_ppm"))
    }.reduce(_.unionByName(_)).orderBy("keep_pieces", "source")
  }

  /** BEST-OF-N SELECTION — rejection-sampling prep, the step between
    * generation and SFT/DPO in an RLHF-style pipeline: per prompt, N
    * candidate responses score under a reward model and the argmax
    * survives as the training example. The fixture derives N = 4
    * candidates as rotations (by j mod |resp|) of the doc's response
    * words — cheap, deterministic, and genuinely DIFFERENT under the
    * position-dependent reward — and the reward model is the portable
    * per-(word, position) hash rollup `Σ hash60("rm:" + w + ":" + i)
    * mod 1000` (a stand-in with the exact shape of a per-token RM
    * score sum; any engine replays every term). Ties break to the
    * LOWEST candidate index via max-of-struct on (reward, −j). Output
    * pins the selection (best_j), its reward, the total reward mass,
    * and the md5 of the WINNING text — a selector that picks the right
    * j but assembles the wrong candidate hash-fails. One narrow map,
    * no shuffle (the sft_examples profile). */
  /** The candidate-scoring transform on an arbitrary (doc_id, text)
    * frame — shared by the batch gates (behind [[bestOfNScored]]'s
    * spread) and the `stream_rm_pairs` ingest twin (narrow Column
    * expressions run unchanged on a streaming frame). */
  private[queries] def bestOfNScoredOn(docs: DataFrame): DataFrame =
    bestOfNScoredOn(docs, withText = false)

  /** `withText = true` additionally carries the prompt words (`pw`)
    * and each candidate's assembled text (`ctext`, appended as the
    * struct's LAST field so the (reward, negj)-unique max/min ordering
    * is untouched) — what the `rm_pairs_to_dpo` composition needs to
    * feed real pairs into the DPO prep. The default path computes
    * neither (the selection gates read only rewards and md5s). */
  private[queries] def bestOfNScoredOn(docs: DataFrame, withText: Boolean): DataFrame = {
    val N = 4
    val base = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(split(TextAnalysis.normalizeText(col("text")), " "),
          w => length(w) > 0).as("w"))
      .select((Seq(col("doc_id")) ++
        (if (withText) Seq(slice(col("w"), lit(1), expr("size(w) DIV 3")).as("pw"))
         else Nil) :+
        slice(col("w"), expr("size(w) DIV 3 + 1"),
          expr("size(w) - size(w) DIV 3")).as("rw")): _*)
    base.select((Seq(col("doc_id")) ++
      (if (withText) Seq(col("pw")) else Nil) :+
      transform(sequence(lit(0), lit(N - 1)), j => {
        val n = size(col("rw"))
        val jm = j % greatest(n, lit(1))
        val c = concat(
          slice(col("rw"), jm + lit(1), greatest(n - jm, lit(0))),
          slice(col("rw"), lit(1), jm))
        val reward = aggregate(
          transform(c, (wd, idx) =>
            Sampling.hash60(concat(lit("rm:"), wd, lit(":"),
              (idx + lit(1)).cast("string"))) % 1000),
          lit(0L), (acc, x) => acc + x)
        val fields = Seq(reward.as("reward"), (-j).as("negj"), j.as("j"),
          md5(to_binary(array_join(c, " "), lit("utf-8"))).as("cmd5")) ++
          (if (withText) Seq(array_join(c, " ").as("ctext")) else Nil)
        struct(fields: _*)
      }).as("cands")): _*)
  }

  private def bestOfNScored(s: SparkSession, dir: String): DataFrame =
    // 4 × |resp| md5s per row — heavy narrow compute; spread before it
    // or a single-file fixture runs the whole reward pass on one task
    // (the pack_sequences_bpe trap; 2.5 → ~0.9 s at sf0.1)
    bestOfNScoredOn(spreadForCompute(s, Tables(s, dir, "documents")))

  /** The selection read over a scored frame — shared by the batch gate
    * and the ingest twin (no sort; streams cannot order). */
  private[queries] def bestOfNProjection(scored: DataFrame): DataFrame =
    scored.select(col("doc_id"),
        array_max(col("cands")).as("best"),
        aggregate(transform(col("cands"), c => c.getField("reward")),
          lit(0L), (a, x) => a + x).as("reward_sum"))
      .select(col("doc_id"),
        col("best").getField("j").as("best_j"),
        col("best").getField("reward").as("reward_best"),
        col("reward_sum"),
        col("best").getField("cmd5").as("best_md5"))

  val bestOfNSelect: Q = (s, dir) =>
    bestOfNProjection(bestOfNScored(s, dir)).orderBy("doc_id")

  /** TOKENIZER TRANSPLANT — the vocabulary-migration report every
    * tokenizer swap needs: which pieces of the NEW tokenizer (the
    * unigram LM) already exist in the OLD one (BPE), and under which
    * ids — the mapped rows are exactly the embeddings a transplant
    * initializes from the old model instead of from scratch (the
    * WECHSEL/FOCUS-style warm start). Both artifacts are trained
    * in-engine from the same corpus; the oracle re-derives BOTH
    * trainings and the join, so a drift in either vocabulary or the
    * id assignment hash-fails. Vocab-sized frames — the join is a
    * broadcast at any corpus scale; training cost is the two
    * bounded-collect passes already gated. */
  val vocabTransplant: Q = (s, dir) => {
    import s.implicits._
    val bpe = trainedBpe(s, dir)
    val uni = trainedUnigram(s, dir)
    val bpeDf = bpe.vocab.toSeq.map { case (tk, id) => (tk, id) }
      .toDF("piece", "bpe_id")
    val uniDf = uni.counts.toSeq.map { case (p, c) => (p, c) }
      .toDF("piece", "unigram_cnt")
    uniDf.join(bpeDf, Seq("piece"), "left_outer")
      .select(col("piece"), col("unigram_cnt"),
        col("bpe_id").cast("int").as("bpe_id"),
        when(col("bpe_id").isNull, lit("unmapped")).otherwise(lit("mapped")).as("status"))
      .orderBy("piece")
  }

  /** REWARD-MODEL PAIR EXTRACTION — the step after best-of-N scoring
    * that feeds RM training: per prompt, the (best, worst) candidate
    * pair with its reward margin. Same scored-candidates frame as
    * [[bestOfNSelect]] ([[bestOfNScored]] — one narrow map), so the
    * two gates cannot drift; best = max-of-struct on (reward, −j)
    * (lowest-j ties, the selection contract), worst = min-of-struct
    * (ties to the HIGHEST j — the two ends of a fully-tied field never
    * collapse onto the same candidate). Margin-0 pairs are dropped:
    * a pair the reward model cannot order carries no training signal,
    * and emitting it would teach the ranker noise — the filter is the
    * operator's point, so the gate pins it. */
  /** The pair read over a scored frame — shared by the batch gate and
    * the ingest twin (no sort here; streams cannot order).
    * `inline(array(struct))` is the single-eval barrier (the
    * [[graft.llm.Similarity]] kmeansAssignWith precedent): with plain
    * projections the margin filter pushes below the scored projection
    * and re-inlines the whole reward transform into the predicate —
    * measured 3× the scoring cost (the pushed plan carried the `rm:`
    * pipeline three times; 17 s vs best_of_n's ~1 s at sf0.1). A
    * generator evaluates its child exactly once per row and the filter
    * stops at its output attributes. */
  private[queries] def rmPairsProjection(scored: DataFrame): DataFrame =
    scored.select(col("doc_id"),
        inline(array(struct(
          array_max(col("cands")).as("best"),
          array_min(col("cands")).as("worst")))))
      .select(col("doc_id"),
        col("best").getField("j").as("best_j"),
        col("worst").getField("j").as("worst_j"),
        col("best").getField("reward").as("reward_best"),
        col("worst").getField("reward").as("reward_worst"),
        (col("best").getField("reward") - col("worst").getField("reward")).as("margin"),
        col("best").getField("cmd5").as("best_md5"),
        col("worst").getField("cmd5").as("worst_md5"))
      .filter(col("margin") > 0)

  val rmPairsFromN: Q = (s, dir) =>
    rmPairsProjection(bestOfNScored(s, dir)).orderBy("doc_id")

  /** The piece-level diff behind [[forgetVocabAudit]] — factored so
    * GovernancePrepSpec can pin the semantics on a planted fixture
    * through the same code path the gate ships. */
  private[queries] def vocabDiff(tok: String,
      unmasked: Set[String], masked: Set[String]): Seq[(String, String, String)] =
    (unmasked ++ masked).toSeq.sorted.map(p => (tok, p,
      if (!masked.contains(p)) "lost"
      else if (!unmasked.contains(p)) "gained" else "kept"))

  /** TOKENIZER FORGET AUDIT — the question the compliance report's
    * index masks cannot answer: does this delete request force a
    * tokenizer RETRAIN? Both trained artifacts (BPE vocab, unigram
    * piece table) are corpus-derived, so a forgotten doc's text may be
    * the sole support of a vocabulary piece — a piece that literally
    * spells fragments of the deleted content. The audit re-trains both
    * tokenizers on the survivor corpus (the SAME %200 document-side
    * delete list every window surface masks) and diffs piece sets:
    * `lost` = produced only with the forgotten docs present (its
    * support died — shipping the old artifact leaks deleted content
    * into the token table, and any piece outside the diff is provably
    * delete-independent), `gained` = the retrain's replacement pieces,
    * `kept` = unaffected. Scale: two extra trainings = four bounded
    * collects + driver loops (the gated trainer profile — corpus scans
    * are the only corpus-sized work); the diff is vocab-sized. Oracle:
    * FOUR full training replays ([[UnigramOracle.forgetVocabAuditSql]])
    * — nothing trained enters as a literal. */
  val forgetVocabAudit: Q = (s, dir) => {
    import s.implicits._
    // the oracle feeds BOTH trainers from one shared wf CTE (LIMIT
    // Bpe.VocabWords) — valid only while the two trainers truncate the
    // word table identically, so pin it loudly (the round-20 review
    // note: equal today by convention, not by construction)
    require(Bpe.VocabWords == Unigram.VocabWords,
      "forget_vocab_audit's oracle shares one top-V word table between the " +
        s"BPE (${Bpe.VocabWords}) and unigram (${Unigram.VocabWords}) replays")
    val survivors = Tables(s, dir, "documents").filter(!isForgetDoc(col("doc_id")))
    val bpeM = trainedBpeOn(survivors)
    val uniM = trainedUnigramOn(survivors)
    (vocabDiff("bpe", trainedBpe(s, dir).vocab.keySet.toSet,
        bpeM.vocab.keySet.toSet) ++
      vocabDiff("unigram", trainedUnigram(s, dir).counts.keySet.toSet,
        uniM.counts.keySet.toSet))
      .toDF("tokenizer", "piece", "status")
      .orderBy("tokenizer", "piece")
  }

  /** DATASET SNAPSHOT DIFF — the data-versioning primitive: two corpus
    * snapshots compared by CONTENT hash into added / removed / changed /
    * unchanged, the report every retrain decision starts from (what
    * actually moved since the last training set?). The fixture derives
    * both snapshots deterministically from one table (portable md5
    * bucket: b<3 → in A, b≥1 → in B, b=2 edited in B — every status is
    * populated), but the operator shape is the real one: two
    * content-hashed scans full-outer-joined on the document key. ONE
    * shuffle per side on doc_id (AQE merges them); at 100 TB both
    * snapshots would be bucketed on doc_id and the join goes
    * zero-Exchange — the hash columns are 32 bytes/row, so the shuffle
    * carries hashes, never text. */
  val datasetDiff: Q = (s, dir) => {
    val tagged = Tables(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"),
        (Sampling.hash60(concat(lit("snap:"), col("doc_id").cast("string"))) % 4).as("b"))
    val snapA = tagged.filter(col("b") < 3)
      .select(col("doc_id"), md5(to_binary(col("text"), lit("utf-8"))).as("a_md5"))
    val snapB = tagged.filter(col("b") >= 1)
      .select(col("doc_id"), md5(to_binary(
        when(col("b") === 2, concat(col("text"), lit(" [v2]"))).otherwise(col("text")),
        lit("utf-8"))).as("b_md5"))
    snapA.join(snapB, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("a_md5").isNull, lit("added"))
          .when(col("b_md5").isNull, lit("removed"))
          .when(col("a_md5") =!= col("b_md5"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        col("a_md5"), col("b_md5"))
      .orderBy("doc_id")
  }

  /** RIGHT-TO-BE-FORGOTTEN AUDIT — delete-request propagation through
    * the packed-window artifact: which training windows contain a
    * to-be-forgotten document and must be rebuilt before the next run.
    * The delete list is the deterministic ~0.5% md5 sample (portable;
    * stands in for the legal team's id list); the layout is the SAME
    * [[TextAnalysis.packedWindowLayout]] call as `pack_sequences_layout`
    * so the audit answers against the artifact actually shipped.
    * Scale shape: the flag is a scan-side hash predicate (a real id
    * list would broadcast — KBs against TBs), the per-bin rollup rides
    * the layout's existing shard shuffle with map-side partials, and
    * only CONTAMINATED bins survive to the output — the rebuild work
    * order, not a corpus copy. */
  /** The document-side delete list — ONE definition for every surface
    * that masks it (the audit, the rebuild plan, the report, the
    * streaming tombstone fixture). The index masks use the denser %50
    * sibling — see [[bm25TopkForget]] for why. */
  private[queries] def isForgetDoc(id: Column): Column =
    Sampling.hash60(concat(lit("forget:"), id.cast("string"))) % 200 === 0

  /** The INDEX-side delete list — the denser %50 sibling of
    * [[isForgetDoc]] (dense enough that re-ranking is observable at
    * fixture scale — see [[bm25TopkForget]]). ONE definition for every
    * index mask (IVF, BM25, the media band indexes, the report), the
    * same anti-drift rule the %200 helper enforces for the window
    * surfaces. */
  private[queries] def isForgetDoc50(id: Column): Column =
    Sampling.hash60(concat(lit("forget:"), id.cast("string"))) % 50 === 0

  /** The forget-flagged packed-window layout — one derivation shared
    * by the audit, the rebuild plan and the compliance report (a drift
    * here would let the audit and the rebuild disagree about which
    * windows a delete touched). */
  private def flaggedLayout(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .withColumn("shard_id", Sampling.shardAssign(col("doc_id"), 8))
    TextAnalysis.packedWindowLayout(docs, Seq("shard_id"), "doc_id",
        TextAnalysis.tokenCountWs(col("text")).cast("long"), 2048)
      .withColumn("is_forget", isForgetDoc(col("doc_id")).cast("int"))
  }

  /** Contaminated-bin rollup over a flagged layout (no order). */
  private def auditRollup(flagged: DataFrame): DataFrame =
    flagged.groupBy("shard_id", "bin_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("is_forget").as("n_forget"),
        sum(when(col("is_forget") === 1, col("n_tokens")).otherwise(0L)).as("forget_tokens"),
        array_join(array_sort(collect_list(when(col("is_forget") === 1, col("doc_id"))))
          .cast("array<string>"), ",").as("forget_ids"))
      .filter(col("n_forget") > 0)

  /** Survivors of contaminated bins (the repack input). Contamination
    * is a max-over-(shard, bin) window riding the layout's shard
    * partitioning — no new Exchange. */
  private def survivorsOf(flagged: DataFrame): DataFrame = {
    val cw = Window.partitionBy("shard_id", "bin_id")
    flagged
      .withColumn("contaminated", max("is_forget").over(cw))
      .filter(col("contaminated") === 1 && col("is_forget") === 0)
      .select(col("shard_id"), col("doc_id"), col("n_tokens"))
  }

  /** Second FFD pass + per-bin rollup over the survivors (no order). */
  private def repackRollup(survivors: DataFrame): DataFrame =
    TextAnalysis.packedWindowLayout(
        survivors, Seq("shard_id"), "doc_id", col("n_tokens"), 2048)
      .groupBy("shard_id", "bin_id").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("used_tokens"),
        greatest(lit(2048L) - sum("n_tokens"), lit(0L)).as("pad_tokens"),
        array_sort(collect_list(struct(col("seq_in_bin").as("s"), col("doc_id").as("id"),
          col("token_offset").as("off")))).as("ms"))
      .select(col("shard_id"), col("bin_id"), col("n_docs"),
        col("used_tokens"), col("pad_tokens"),
        array_join(transform(col("ms"), m => m.getField("id").cast("string")), ",").as("doc_ids"),
        array_join(transform(col("ms"), m => m.getField("off").cast("string")), ",").as("offsets"))

  val forgetDocsAudit: Q = (s, dir) =>
    auditRollup(flaggedLayout(s, dir)).orderBy("shard_id", "bin_id")

  /** CHUNK-LEVEL SNAPSHOT DIFF — what `dataset_diff`'s `changed` rows
    * actually cost downstream: a changed document does NOT mean
    * re-embedding the whole document. Both versions CDC-chunk
    * scan-side ([[graft.functions.HashFunctions.cdcSpans]] — the same
    * content-defined cuts as `dedup_cdc_chunks`), and per-doc DISTINCT
    * chunk-hash set ops yield added / removed / kept counts plus
    * `reuse_ppm` — the share of the new version's chunks whose
    * embeddings are already on disk. The gate PINS the bounded-ripple
    * property CDC exists for: the fixture's edit appends to the tail,
    * so `chunks_removed ≤ 1` and every interior chunk survives —
    * fixed-width chunking would instead shift every boundary after the
    * edit and re-embed the document. ONE narrow map over the changed
    * slice (both chunkings + set ops in-row, no explode, no shuffle);
    * at 100 TB this is the incremental re-embedding work estimator. */
  val datasetDiffChunks: Q = (s, dir) => {
    // O(len) md5s per doc twice over — heavy narrow compute; spread
    // (the best_of_n_select single-file-fixture lesson)
    val changed = spreadForCompute(s, Tables(s, dir, "documents"))
      .filter(col("text").isNotNull)
      .filter(Sampling.hash60(concat(lit("snap:"), col("doc_id").cast("string"))) % 4 === 2)
    def chunkHashes(t: Column): Column =
      array_distinct(transform(
        graft.functions.HashFunctions.cdcSpans(t, 16, 64),
        sp => md5(to_binary(
          t.substr(sp.getField("s").cast("int"),
            (sp.getField("e") - sp.getField("s") + lit(1)).cast("int")),
          lit("utf-8")))))
    changed
      .select(col("doc_id"), col("text"),
        concat(col("text"), lit(" [v2]")).as("b_text"))
      .select(col("doc_id"),
        chunkHashes(col("text")).as("a_ch"),
        chunkHashes(col("b_text")).as("b_ch"))
      .select(col("doc_id"),
        size(col("a_ch")).cast("long").as("chunks_a"),
        size(col("b_ch")).cast("long").as("chunks_b"),
        size(array_except(col("b_ch"), col("a_ch"))).cast("long").as("chunks_added"),
        size(array_except(col("a_ch"), col("b_ch"))).cast("long").as("chunks_removed"),
        size(array_intersect(col("a_ch"), col("b_ch"))).cast("long").as("chunks_kept"),
        // the intersect size casts to BIGINT BEFORE the ×1e6: a >70 KB
        // document has >2147 kept chunks and the int product would wrap
        expr("CAST(size(array_intersect(a_ch, b_ch)) AS BIGINT) * 1000000 DIV size(b_ch)")
          .as("reuse_ppm"))
      .orderBy("doc_id")
  }

  /** FORGET REBUILD PLAN — the compaction that makes tombstones
    * permanent, closing the governance loop (`forget_docs_audit` finds
    * the contaminated windows → `stream_forget_tombstone` /
    * `*_forget` mask live surfaces → THIS emits the new layout):
    * survivors of contaminated bins repack through the SAME per-shard
    * FFD ([[TextAnalysis.packedWindowLayout]] again, W=2048), so the
    * rebuild touches ONLY the bins a delete actually hit — clean bins'
    * files are never rewritten (at 100 TB that is the difference
    * between a surgical compaction and re-packing the corpus).
    * Contamination is a max-over-(shard, bin) window riding the
    * layout's existing shard partitioning (hashpartitioning(shard) is
    * a subset of the window's clustering — no new Exchange); token
    * counts carry from the first layout, so the text never re-scans.
    * Oracle: the shared ffd prefix + the contamination rollup + a
    * SECOND FFD recursion over the survivors. */
  val forgetRebuildPlan: Q = (s, dir) =>
    repackRollup(survivorsOf(flaggedLayout(s, dir))).orderBy("shard_id", "bin_id")

  /** FORGET PIPELINE REPORT — one delete request, every surface, one
    * compliance artifact: the counts a data-protection officer signs
    * off on. Each row is (surface, metric, value) aggregated from the
    * SAME derivations the per-surface gates ship (`forget_docs_audit`,
    * `forget_rebuild_plan`, the two index masks), so the report cannot
    * drift from the actions: packed_windows (contaminated bins,
    * forgotten members + their tokens), rebuild (surviving docs +
    * tokens that repack), ann_index (masked vectors), bm25_index
    * (masked docs, postings, tf mass), media_index / caption_index
    * (masked members + their persisted band rows — the round-20 forget
    * gates' surfaces; the oracle states the band fan-out closed-form,
    * 4 and 32 rows per member, so the report also pins the indexes'
    * shape). The flagged layout is shared
    * by both window surfaces; the BM25
    * numbers read the PERSISTED bucketed tf table
    * ([[bm25IndexTables]]), never a re-tokenize — the report's only
    * inherent extra pass is the rebuild's second FFD. */
  val forgetPipelineReport: Q = (s, dir) => {
    val flagged = Materialize.shared(flaggedLayout(s, dir))
    val audit = auditRollup(flagged)
    val rebuild = repackRollup(survivorsOf(flagged))
    // each surface audits the list ITS gate masks: %200 on doc ids for
    // the window surfaces ([[isForgetDoc]]), %50 for the index masks
    // ([[isForgetDoc50]]); a production deploy passes ONE id list to
    // all surfaces
    def metric(surface: String, name: String, v: Column): Column =
      struct(lit(surface).as("surface"), lit(name).as("metric"),
        v.cast("long").as("value"))
    val windows = audit.agg(
      count(lit(1)).as("contaminated_bins"),
      coalesce(sum("n_forget"), lit(0L)).as("forgotten_docs"),
      coalesce(sum("forget_tokens"), lit(0L)).as("forgotten_tokens"))
      .select(explode(array(
        metric("packed_windows", "contaminated_bins", col("contaminated_bins")),
        metric("packed_windows", "forgotten_docs", col("forgotten_docs")),
        metric("packed_windows", "forgotten_tokens", col("forgotten_tokens")))).as("r"))
    val repacked = rebuild.agg(
      coalesce(sum("n_docs"), lit(0L)).as("surviving_docs"),
      coalesce(sum("used_tokens"), lit(0L)).as("surviving_tokens"))
      .select(explode(array(
        metric("rebuild", "surviving_docs", col("surviving_docs")),
        metric("rebuild", "surviving_tokens", col("surviving_tokens")))).as("r"))
    val ann = Tables(s, dir, "embeddings").filter(isForgetDoc50(col("vec_id")))
      .agg(count(lit(1)).as("n"))
      .select(explode(array(
        metric("ann_index", "masked_vectors", col("n")))).as("r"))
    val (tfT, _) = bm25IndexTables(s, dir)
    val tf = s.table(tfT).filter(isForgetDoc50(col("doc_id")))
    val bm25 = tf.agg(
      countDistinct("doc_id").as("masked_docs"),
      count(lit(1)).as("masked_postings"),
      coalesce(sum("tf"), lit(0L)).as("masked_tf"))
      .select(explode(array(
        metric("bm25_index", "masked_docs", col("masked_docs")),
        metric("bm25_index", "masked_postings", col("masked_postings")),
        metric("bm25_index", "masked_tf", col("masked_tf")))).as("r"))
    // the four persisted media band indexes (round-20: the forget
    // gates' surfaces) — counts read from the PERSISTED bucketed
    // tables, never a re-decode, the bm25 discipline; ONE block, four
    // instantiations (the review note: four copies drift)
    val mediaSurfaces = Seq(
      (MediaModality.Image, "media_index", "masked_images"),
      (MediaModality.Caption, "caption_index", "masked_pairs"),
      (MediaModality.Audio, "audio_index", "masked_clips"),
      (MediaModality.Video, "video_index", "masked_videos")
    ).map { case (m, surface, memberMetric) =>
      s.table(sigIndexTable(s, dir, m))
        .filter(isForgetDoc50(col("c_id")))
        .agg(countDistinct("c_id").as("masked_members"),
          count(lit(1)).as("masked_band_rows"))
        .select(explode(array(
          metric(surface, memberMetric, col("masked_members")),
          metric(surface, "masked_band_rows", col("masked_band_rows")))).as("r"))
    }
    (Seq(windows, repacked, ann, bm25) ++ mediaSurfaces).reduce(_ unionByName _)
      .select(col("r.surface").as("surface"), col("r.metric").as("metric"),
        col("r.value").cast("long").as("value"))
      .orderBy("surface", "metric")
  }

  /** The checksum prime shared by every epoch-ordering signature (the
    * Scala side and the DuckDB replays must reduce identically). */
  private[queries] val SigP = 1000003L

  /** DETERMINISTIC RESUMABLE EPOCH ORDERING — the dataloader contract a
    * multi-epoch run needs: every epoch is a fresh pseudo-random
    * permutation (epoch-salted md5 key), assignment and order are pure
    * functions of (epoch, doc_id) so any worker recomputes its slice
    * with no lookup table, and a mid-epoch restart re-derives exactly
    * the unread tail. Order lives WITHIN hash shards — at 100 TB there
    * is no global sort, only a row_number per (epoch, shard): one
    * exchange, per-shard local sort. The gate pins the full permutation
    * via `order_sig` = (Σ (pos·h mod P)) mod P with h = hash60(doc_id)
    * mod P, P = 1000003 — position-weighted so ANY transposition
    * changes it, yet map-side-partial aggregatable, and REDUCED MOD P
    * PER TERM so the running sum stays ≤ n·P (the unreduced Σ pos·h is
    * ~n²·P/2 and silently wraps Long past ~6M docs per (epoch, shard)
    * partition, where DuckDB's HUGEINT sum would diverge — the r19
    * advice fix; per-term products pos·h wrap only past ~9×10¹² rows
    * per partition) — and the restart contract via `resume_sig`, the
    * same checksum over positions past the half-epoch offset re-based to the
    * resume point. Both epochs come from ONE scan (posexplode of the
    * epoch array, not a self-union). */
  val epochOrderResume: Q = (s, dir) => {
    val base = Tables(s, dir, "documents").select("doc_id")
      .select(col("doc_id"), explode(array(lit(0), lit(1))).as("epoch"))
      .withColumn("k", md5(concat(lit("epoch"), col("epoch").cast("string"),
        lit(":"), col("doc_id").cast("string"))))
      .withColumn("shard_id", (conv(substring(col("k"), 1, 15), 16, 10).cast("long") % 8).cast("int"))
    val w = Window.partitionBy("epoch", "shard_id").orderBy(col("k"), col("doc_id"))
    val cw = Window.partitionBy("epoch", "shard_id")
    val pos = base
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("half", (count(lit(1)).over(cw) / 2).cast("long"))
      .withColumn("h", Sampling.hash60(col("doc_id")) % SigP)
    pos.groupBy("epoch", "shard_id").agg(
        count(lit(1)).as("n_docs"),
        min(struct(col("pos"), col("doc_id"))).getField("doc_id").as("first_doc"),
        max(struct(col("pos"), col("doc_id"))).getField("doc_id").as("last_doc"),
        (sum((col("pos") * col("h")) % SigP) % SigP).as("order_sig"),
        (sum(when(col("pos") > col("half"),
            ((col("pos") - col("half")) * col("h")) % SigP)
          .otherwise(lit(0L))) % SigP).as("resume_sig"))
      .orderBy("epoch", "shard_id")
  }

  /** PACKED-WINDOW EPOCH ORDERING — [[epochOrderResume]] composed with
    * [[packSequencesLayout]]'s artifact, closing the r19 verdict gap:
    * the resume gate permutes DOCS, but the dataloader actually reads
    * PACKED WINDOWS, so the two contracts need a shared object. Every
    * (shard, bin) window of the SAME per-shard FFD layout the packer
    * ships gets a content checksum `wsig` = (Σ (seq+1)·(hash60(doc) mod
    * P) mod P) mod P — position-weighted WITHIN the window, so a
    * member swap or a layout drift changes it — then each epoch
    * permutes the windows by an epoch-salted md5 key into 8 reader
    * shards, and the permutation + mid-run resume pin exactly as the
    * doc gate does: `order_sig` weights each window's (1 + wsig) by
    * its reading position, `resume_sig` re-bases past the half-epoch
    * cut — the unread WINDOW tail a restarted reader re-derives with
    * no lookup table. All checksum arithmetic reduces mod the shared
    * prime per term ([[SigP]] — the overflow discipline). Scale: the
    * window rollup is a map-side-partial aggregate whose exchange
    * carries one (shard, bin, partial-wsig) row per task per bin (the
    * forget_docs_audit rollup's shape — the layout kernel's object
    * pipeline erases the shard partitioning, so the rollup pays its
    * own bin-count-sized exchange rather than riding it), then ONE
    * (epoch, reader-shard) exchange with per-shard local sorts over
    * WINDOW-count rows (corpus-size / window-fill), never a global
    * sort — three hash exchanges total, plan-pinned, none carrying
    * more than window-count rows past the scan. */
  /** The per-(shard, bin) position-weighted content checksum of a
    * window layout frame — shared by every window-permutation gate. */
  private def windowSigs(lay: DataFrame, keyCols: Seq[String]): DataFrame =
    lay.groupBy(keyCols.map(col): _*)
      .agg((sum(((col("seq_in_bin") + 1) *
          (Sampling.hash60(col("doc_id")) % SigP)) % SigP) % SigP).as("wsig"))

  /** The epoch-salted window permutation + order/resume checksums over
    * a `(keyCols…, wsig)` frame — [[epochOrderWindows]] and
    * [[epochOrderRebuilt]] share this tail (one permutation source, so
    * the live-layout and post-compaction contracts cannot drift). */
  private def epochWindowPermutation(
      wins: DataFrame, salt: String, keyCols: Seq[String]): DataFrame = {
    val keyStr = concat_ws(":", keyCols.map(c => col(c).cast("string")): _*)
    val base = wins
      .select(keyCols.map(col) :+ col("wsig"): _*)
      .withColumn("epoch", explode(array(lit(0), lit(1))))
      .withColumn("k", md5(concat(lit(salt), col("epoch").cast("string"),
        lit(":"), keyStr)))
      .withColumn("shard_id",
        (conv(substring(col("k"), 1, 15), 16, 10).cast("long") % 8).cast("int"))
      .withColumn("h", lit(1L) + col("wsig"))
    val w = Window.partitionBy("epoch", "shard_id")
      .orderBy(col("k") +: keyCols.map(col): _*)
    val cw = Window.partitionBy("epoch", "shard_id")
    val pos = base
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("half", (count(lit(1)).over(cw) / 2).cast("long"))
      .withColumn("wlabel", keyStr)
    pos.groupBy("epoch", "shard_id").agg(
        count(lit(1)).as("n_windows"),
        min(struct(col("pos"), col("wlabel"))).getField("wlabel").as("first_win"),
        max(struct(col("pos"), col("wlabel"))).getField("wlabel").as("last_win"),
        (sum((col("pos") * col("h")) % SigP) % SigP).as("order_sig"),
        (sum(when(col("pos") > col("half"),
            ((col("pos") - col("half")) * col("h")) % SigP)
          .otherwise(lit(0L))) % SigP).as("resume_sig"))
      .orderBy("epoch", "shard_id")
  }

  val epochOrderWindows: Q = (s, dir) => {
    val docs = Tables(s, dir, "documents")
      .withColumn("shard_id", Sampling.shardAssign(col("doc_id"), 8))
    val lay = TextAnalysis.packedWindowLayout(docs, Seq("shard_id"), "doc_id",
      TextAnalysis.tokenCountWs(col("text")).cast("long"), 2048)
      .withColumnRenamed("shard_id", "src_shard")
    epochWindowPermutation(windowSigs(lay, Seq("src_shard", "bin_id")),
      "wepoch", Seq("src_shard", "bin_id"))
  }

  /** EPOCH ORDERING AFTER THE FORGET COMPACTION — the dataloader
    * contract the governance loop hands back to training: once
    * `forget_rebuild_plan` repacks the contaminated bins' survivors,
    * the reader's window set is the CLEAN bins' original windows
    * (generation g0 — their files were never rewritten) plus the
    * REBUILT windows (generation g1), and this gate pins the
    * epoch-salted permutation + mid-run resume over exactly that
    * union — window identity is (generation, shard, bin), so a
    * rebuilt bin can never be confused with the old bin whose id it
    * reuses. Every derivation is shared: [[flaggedLayout]] /
    * [[survivorsOf]] (the audit/rebuild chain) and
    * [[epochWindowPermutation]] (the live-layout gate's tail) — by
    * construction NO forgotten doc's hash enters any window checksum,
    * which is the compliance point (GovernancePrepSpec pins window
    * membership = corpus minus the delete list, each doc exactly
    * once). Scale: the audit/rebuild cost plus the permutation's
    * window-count exchanges — nothing new. */
  val epochOrderRebuilt: Q = (s, dir) => {
    val flagged = Materialize.shared(flaggedLayout(s, dir))
    val cw = Window.partitionBy("shard_id", "bin_id")
    val clean = flagged
      .withColumn("contaminated", max("is_forget").over(cw))
      .filter(col("contaminated") === 0)
      .select(lit("g0").as("gen"), col("shard_id").as("src_shard"),
        col("bin_id"), col("doc_id"), col("seq_in_bin"))
    val rebuilt = TextAnalysis.packedWindowLayout(
        survivorsOf(flagged), Seq("shard_id"), "doc_id", col("n_tokens"), 2048)
      .select(lit("g1").as("gen"), col("shard_id").as("src_shard"),
        col("bin_id"), col("doc_id"), col("seq_in_bin"))
    epochWindowPermutation(
      windowSigs(clean.unionByName(rebuilt), Seq("gen", "src_shard", "bin_id")),
      "repoch", Seq("gen", "src_shard", "bin_id"))
  }

  /** The byte-mode vocabulary artifact — 256 structural byte rows
    * (ids = byte value) plus the trained merges, the file a byte-level
    * tokenizer deployment ships. Byte tokens are even-length hex, so a
    * merge output (≥ 4 chars) can never collide with an alphabet entry
    * (2 chars); the min-id dedup rule still guards merge/merge
    * collisions, identically in both engines. */
  val bpeVocabBytes: Q = (s, dir) => vocabDf(s, trainedBpeBytes(s, dir))

  /** TOKENIZER ARTIFACT round trip — the version-pinned deploy shape
    * every trained operator ultimately ships as: the trained tokenizer
    * (ordered alphabet + ordered merge pairs) is serialized to a JSON
    * artifact, read back, and RECONSTRUCTED; a loud in-query equality
    * proves the reconstruction is bit-for-bit (merge ORDER and the
    * a/b pair split both matter — two different splits can emit the
    * same token string but encode differently, so vocab equality alone
    * would under-check). The gate output is the vocabulary of the
    * RELOADED artifact through the SHARED `bpe_vocab` oracle — the
    * `ann_ivf_persisted` convention: the artifact path must change
    * nothing. At 100 TB the artifact is KBs; what matters is that the
    * stream/batch consumers load THIS file, not retrain. */
  val bpeArtifactRoundtrip: Q = (s, dir) => {
    import s.implicits._
    val trained = trainedBpe(s, dir)
    val art = (trained.alphabet.zipWithIndex.map { case (sym, i) =>
        ("alphabet", i.toLong, sym, null.asInstanceOf[String]) } ++
      trained.merges.zipWithIndex.map { case ((a, b), i) => ("merge", i.toLong, a, b) })
      .toDF("kind", "ord", "a", "b")
    val back = graft.sources.JsonlSink.roundTrip(art).collect()
    val alpha = back.filter(_.getString(0) == "alphabet").sortBy(_.getLong(1))
      .map(_.getString(2)).toSeq
    val merges = back.filter(_.getString(0) == "merge").sortBy(_.getLong(1))
      .map(r => (r.getString(2), r.getString(3))).toSeq
    val reloaded = Bpe.Trained(alpha, merges)
    require(reloaded == trained,
      "BPE artifact round trip must reconstruct the trained tokenizer bit-for-bit")
    vocabDf(s, reloaded)
  }

  /** UNIGRAM artifact round trip — the `bpe_artifact_roundtrip`
    * convention for the second trained tokenizer: the (piece, count)
    * table serializes to a JSONL artifact, reloads, RECONSTRUCTS, and
    * a loud in-query equality proves the reconstruction bit-for-bit
    * (counts matter, not just pieces — scores derive from counts, and
    * a count off by one can cross a log2 boundary and change every
    * segmentation downstream). Gate output is the RELOADED artifact's
    * vocabulary through the SHARED `unigram_vocab` oracle: the
    * artifact path must change nothing. */
  val unigramArtifactRoundtrip: Q = (s, dir) => {
    import s.implicits._
    import scala.jdk.CollectionConverters._
    val trained = trainedUnigram(s, dir)
    val art = trained.counts.toSeq.sortBy(_._1).toDF("piece", "cnt")
    val back = graft.sources.JsonlSink.roundTrip(art).collect()
    val reloaded = Unigram.Trained(back.map(r => r.getString(0) -> r.getLong(1)).toMap)
    require(reloaded == trained,
      "unigram artifact round trip must reconstruct the trained tokenizer bit-for-bit")
    val rows = reloaded.counts.toSeq.sortBy(_._1).map { case (p, c) =>
      org.apache.spark.sql.Row(p, c, reloaded.scores(p).toLong)
    }
    s.createDataFrame(rows.asJava, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("piece", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("cnt", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.LongType))))
      .orderBy("piece")
  }

  /** UNIGRAM SEGMENTATION — the application-side gate that pins the
    * exact piece BOUNDARIES on every corpus doc (`unigram_fertility`
    * only aggregates counts): each word's Viterbi pieces render
    * `/`-joined, words space-join, and the per-doc md5 makes any
    * boundary drift hash-fail. One narrow closure DP (vocab-sized
    * state), the `bpe_encode` scale shape. */
  val unigramSegment: Q = (s, dir) => {
    val uni = trainedUnigram(s, dir)
    // NULL text drops the doc (the spanCorruption convention,
    // TextAnalysis.scala:128) — otherwise Spark emits a null-seg_md5
    // row the oracle's NULL semantics never produce.
    val base = spreadForCompute(s, Tables(s, dir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextAnalysis.normalizeText(col("text")).as("nt"))
    Unigram.pieceCounts(Unigram.segmentation(base, "nt", uni, "seg"), "nt", uni, "n_pieces")
      .select(col("doc_id"), col("n_pieces"),
        md5(to_binary(col("seg"), lit("utf-8"))).as("seg_md5"))
      .orderBy("doc_id")
  }

  /** `token_length_histogram` on EXACT BPE token counts — the real
    * context-length planning histogram (the whitespace variant stays as
    * the cheap pre-tokenizer screen). Same bucket boundaries. */
  val tokenLengthHistogramBpe: Q = (s, dir) => {
    val d = spreadForCompute(s, Tables(s, dir, "documents"))
    val n = Bpe.tokenCount(col("text"), trainedBpe(s, dir).merges)
    d.select(n.as("n"))
      .select(
        when(col("n") <= 64, "a_0-64").when(col("n") <= 128, "b_65-128")
          .when(col("n") <= 256, "c_129-256").when(col("n") <= 512, "d_257-512")
          .otherwise("e_513+").as("len_bucket"),
        col("n"))
      .groupBy("len_bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n").cast("long").as("total_tokens"))
      .orderBy("len_bucket")
  }

  /** The PACKED PAYLOAD itself — the training examples, not just the
    * assignment: every doc's exact BPE id sequence concatenated in
    * doc order within its 2048-token pack, witnessed per pack as an
    * md5 over the id string (the export-family convention: prove the
    * artifact without hauling it through the gate). This is the final
    * product of the whole tokenize→budget→pack chain, and the oracle
    * re-derives it from raw parquet through the complete training
    * replay — merges, vocabulary ids, per-doc encoding, the prefix-sum
    * pack assignment, and the in-pack concatenation order. Per-pack
    * state is bounded by the window size (≈2048 ids), the pack-keyed
    * exchange carries id STRINGS not text, and pack count scales as
    * corpus_tokens/2048 — linear, embarrassingly partitioned. */
  val packPayloadBpe: Q = (s, dir) => {
    val d = spreadForCompute(s, Tables(s, dir, "documents"))
    val trained = trainedBpe(s, dir)
    val nTok = Bpe.tokenCount(col("text"), trained.merges).cast("long")
    val packs = TextAnalysis.packSequencesBy(d, "doc_id", nTok, 2048)
    val ids = d.select(col("doc_id"),
      array_join(transform(Bpe.tokenIds(Bpe.encode(col("text"), trained.merges), trained),
        i => i.cast("string")), ",").as("ids"))
    packs.join(ids, "doc_id")
      .groupBy("pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        md5(to_binary(array_join(
          transform(array_sort(collect_list(struct(col("doc_id"), col("ids")))),
            x => x.getField("ids")), ","), lit("utf-8"))).as("payload_md5"))
      .orderBy("pack_id")
  }

  /** `source_mixture_weights` on EXACT BPE token budgets — mixture
    * design in the unit the training job actually consumes. Same
    * integer ppm/floor-sqrt math; one corpus scan plus the |sources|-row
    * window. */
  val sourceMixtureWeightsBpe: Q = (s, dir) => {
    val w = Window.partitionBy()
    spreadForCompute(s, Tables(s, dir, "documents"))
      .select(col("source"),
        Bpe.tokenCount(col("text"), trainedBpe(s, dir).merges).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
      .withColumn("isqrt_tokens", floor(sqrt(col("total_tokens").cast("double"))).cast("long"))
      .withColumn("grand_tokens", sum("total_tokens").over(w))
      .withColumn("grand_isqrt", sum("isqrt_tokens").over(w))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        expr("total_tokens * 1000000L div grand_tokens").as("weight_ppm"),
        expr("isqrt_tokens * 1000000L div grand_isqrt").as("smoothed_weight_ppm"))
      .orderBy("source")
  }

  /** Training-mixture design: per-source token budgets and sampling
    * weights (proportional + sqrt-smoothed, the standard multi-source
    * rebalancing knob). Integer-exact by construction: token totals are
    * integer sums (map-side partial per source), weights are integer
    * floor-divisions in parts-per-million, and the sqrt smoothing goes
    * through floor(sqrt(·)) — IEEE sqrt is correctly rounded, so the
    * floored integer is engine-portable. ONE corpus scan: the grand
    * totals are an unpartitioned window over the ALREADY-AGGREGATED
    * per-source rows (|sources| of them — the single-partition exchange
    * moves a handful of rows, never the corpus). */
  val sourceMixtureWeights: Q = (s, dir) => {
    val w = Window.partitionBy()
    Tables(s, dir, "documents")
      .select(col("source"), TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
      .withColumn("isqrt_tokens", floor(sqrt(col("total_tokens").cast("double"))).cast("long"))
      .withColumn("grand_tokens", sum("total_tokens").over(w))
      .withColumn("grand_isqrt", sum("isqrt_tokens").over(w))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        expr("total_tokens * 1000000L div grand_tokens").as("weight_ppm"),
        expr("isqrt_tokens * 1000000L div grand_isqrt").as("smoothed_weight_ppm"))
      .orderBy("source")
  }

  /** From mixture PLAN to actual training MIX — the execution step of
    * `source_mixture_weights`: each source's smoothed ppm weight
    * becomes an integer doc quota (ppm · S div 10⁶ for a global budget
    * of S = 200 docs), filled deterministically by md5-rank within the
    * source — the same portable hash order as `temperature_resample`
    * and `split_train_val`, so ANY engine reproduces the exact member
    * set. The weight relation is |sources| rows and broadcasts; the
    * rank is a per-source window (at 100 TB use the two-pass
    * hash-threshold variant — count, pick the cutoff, filter scan-side
    * — instead of a full per-source sort; the CHOSEN SET is identical
    * because the order is the same hash). Output (source, doc_id, rk)
    * — the reproducible mix manifest a training run consumes. */
  val mixturePlanSample: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val w = Window.partitionBy()
    val targets = d
      .select(col("source"), TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(sum("n_tokens").as("total_tokens"))
      .withColumn("isqrt_tokens", floor(sqrt(col("total_tokens").cast("double"))).cast("long"))
      .withColumn("grand_isqrt", sum("isqrt_tokens").over(w))
      .select(col("source"),
        expr("isqrt_tokens * 1000000L div grand_isqrt * 200L div 1000000L").as("target_k"))
    val rk = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    d.select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(rk).cast("long"))
      .join(broadcast(targets), Seq("source"))
      .filter(col("rk") <= col("target_k"))
      .select("source", "doc_id", "rk")
      .orderBy("source", "rk")
  }

  /** MULTI-EPOCH training mix — [[mixturePlanSample]] extended across
    * epochs via [[Sampling.epochSample]]: per-source quotas from the
    * same sqrt-smoothed mixture plan, filled per epoch from
    * pass-keyed md5 permutations so consecutive epochs are DISJOINT
    * while a source still has unseen docs (sampling without
    * replacement across epochs — the property that stops a small
    * high-weight source from feeding the same documents to every
    * epoch while a big source never repeats). 4 epochs through the
    * gate; the disjointness property itself is spec-pinned
    * (LlmSpec). */
  val mixtureEpochSample: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val w = Window.partitionBy()
    val targets = d
      .select(col("source"), TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(sum("n_tokens").as("total_tokens"))
      .withColumn("isqrt_tokens", floor(sqrt(col("total_tokens").cast("double"))).cast("long"))
      .withColumn("grand_isqrt", sum("isqrt_tokens").over(w))
      .select(col("source"),
        expr("isqrt_tokens * 1000000L div grand_isqrt * 200L div 1000000L").as("target_k"))
    Sampling.epochSample(d.select(col("doc_id"), col("source")), "source", "doc_id",
        targets, epochs = 4)
      .select(col("epoch"), col("source"), col("doc_id"), col("rk"))
      .orderBy("epoch", "source", "rk")
  }

  /** TOKEN-budget mixture fill — the execution knob real mixtures run
    * on: a training mix is specified in TOKENS, not documents, so each
    * source's sqrt-smoothed ppm weight becomes an integer TOKEN budget
    * (ppm · 20 000 div 10⁶ here) and the source is filled in the
    * portable md5-rank order while the RUNNING token sum stays within
    * budget (greedy hash-order prefix; the doc that would cross the
    * line is excluded — budgets are ceilings, not targets). One
    * source-keyed shuffle serves both the rank and the running sum
    * (same window spec); the budget relation is |sources| rows and
    * broadcasts. All integers; the md5 order is the same portable
    * permutation as `mixture_plan_sample`/`split_train_val`. */
  val mixtureTokenBudget: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val w = Window.partitionBy()
    val targets = d
      .select(col("source"), TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(sum("n_tokens").as("total_tokens"))
      .withColumn("isqrt_tokens", floor(sqrt(col("total_tokens").cast("double"))).cast("long"))
      .withColumn("grand_isqrt", sum("isqrt_tokens").over(w))
      .select(col("source"),
        expr("isqrt_tokens * 1000000L div grand_isqrt * 20000L div 1000000L").as("budget_tokens"))
    val rk = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    d.select(col("doc_id"), col("source"),
        TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens"))
      .withColumn("rk", row_number().over(rk).cast("long"))
      .withColumn("cum_tokens",
        sum("n_tokens").over(rk.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(targets), Seq("source"))
      .filter(col("cum_tokens") <= col("budget_tokens"))
      .select("source", "doc_id", "rk", "n_tokens", "cum_tokens")
      .orderBy("source", "rk")
  }

  /** TRAINED quality classifier ([[TextAnalysis.trainedQualityScorer]]):
    * integer teacher labels (the quality score's saturating terms in
    * exact integer form), a nearest-centroid linear student over four
    * integer features, trained IN-PLAN (one class-conditional
    * aggregate, 1-row weight relation broadcast back) and applied
    * corpus-wide. The oracle re-derives features, labels, scaled class
    * means, weights, threshold and every margin from the parquet —
    * nothing trained crosses as a literal. */
  val qualityClassifierTrained: Q = (s, dir) =>
    TextAnalysis.trainedQualityScorer(Tables(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** Per-source quality-threshold calibration: exact decile boundaries
    * of the quality score within each source — the cutoffs a pipeline
    * uses to apply per-domain (not global) quality filters. Spark's
    * exact `percentile` aggregate == DuckDB `quantile_cont` (the
    * `corpus_stats` precedent); memory is bounded by DISTINCT quality
    * values per source (the score rounds to 6 decimals), not rows, so
    * a 100 TB source aggregates safely — no whole-source sort, no
    * window. One shuffle on source. */
  val qualityDecilesPerSource: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
      .select(col("source"), TextAnalysis.qualityScore(col("text")).as("q"))
    d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        expr("percentile(q, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))").as("ps"))
      .select(col("source"), col("n_docs"), posexplode(col("ps")).as(Seq("di", "threshold")))
      // round the INTERPOLATED value to 6 dp: percentile (Spark) and
      // quantile_cont (DuckDB) compute lo+g·(hi−lo) in different float
      // orders — a 1-ulp class the inputs' own 6-dp rounding cannot
      // absorb (caught at sf0.001; sf0.01 happened to cancel)
      .select(col("source"), (col("di") + 1).cast("int").as("decile"),
        col("n_docs"), round(col("threshold"), 6).as("threshold"))
      .orderBy("source", "decile")
  }

  /** COMPACTION PLAN — the small-files housekeeping op a 100 TB lake
    * runs nightly: FFD-pack the shard manifest's 64 (shard, bytes)
    * rows into merge groups of ≤ 12 000 bytes each
    * ([[TextAnalysis.packSequencesFfd]] applied to FILES instead of
    * token sequences — one packer, two jobs). The PLAN is
    * metadata-sized at any corpus (nShards rows — the corpus never
    * enters; executing the merges is the distributed rewrite, and the
    * plan tells each rewrite task exactly which inputs it owns).
    * Output: (shard_id, shard_bytes, merge_group, group_bytes,
    * n_shards_in_group) — the oracle replays manifest, FFD trajectory
    * (recursive CTE), and the rollup. */
  val compactionPlan: Q = (s, dir) => {
    val manifest = Sampling.shardManifest(Tables(s, dir, "documents"), "doc_id", "n_chars", 64)
    val plan0 = TextAnalysis.packSequencesFfd(
      manifest.select(col("shard_id"), col("total_chars")),
      "shard_id", col("total_chars"), windowTokens = 12000)
    val w = Window.partitionBy("merge_group")
    plan0.select(col("doc_id").as("shard_id"), col("n_tokens").as("shard_bytes"),
        col("bin_id").as("merge_group"))
      .withColumn("group_bytes", sum("shard_bytes").over(w))
      .withColumn("n_shards_in_group", count(lit(1)).over(w).cast("int"))
      .orderBy("shard_id")
  }

  /** SHARDED COMPACTION PLAN — the 100 TB form of [[compactionPlan]]:
    * a real lake's file manifest is 10⁶–10⁷ rows and merges NEVER
    * cross table-partition boundaries, so the FFD plan runs
    * independently per partition ([[TextAnalysis
    * .packSequencesFfdByGroup]] keyed on the partition column — ONE
    * shuffle on `source`, partitions packed in parallel, no
    * SinglePartition exchange anywhere; plan-pinned). The manifest
    * here is per-(source, shard) file sizes (16 md5 shards per
    * source); within each source the files FFD-pack into merge
    * groups of ≤ 2 000 bytes. Output: (source, shard_id, shard_bytes,
    * merge_group, group_bytes, n_shards_in_group) — the oracle
    * replays every per-source FFD trajectory (recursive CTE whose
    * chains advance each source independently). */
  val compactionPlanSharded: Q = (s, dir) => {
    val manifest = Tables(s, dir, "documents")
      .select(col("source"),
        Sampling.shardAssign(col("doc_id"), 16).as("shard_id"), col("n_chars"))
      .groupBy("source", "shard_id")
      .agg(sum("n_chars").as("shard_bytes"))
    val plan0 = TextAnalysis.packSequencesFfdByGroup(
      manifest, Seq("source"), "shard_id", col("shard_bytes"), windowTokens = 2000)
    val w = Window.partitionBy("source", "merge_group")
    plan0.select(col("source"), col("doc_id").as("shard_id"),
        col("n_tokens").as("shard_bytes"), col("bin_id").as("merge_group"))
      .withColumn("group_bytes", sum("shard_bytes").over(w))
      .withColumn("n_shards_in_group", count(lit(1)).over(w).cast("int"))
      .orderBy("source", "shard_id")
  }

  /** Per-source NORMALIZED quality: each doc's decile WITHIN ITS OWN
    * source (exact per-group histogram boundaries), making one global
    * threshold meaningful across domains — "keep decile ≥ 3" drops the
    * worst 30% of EVERY source, where a raw global cutoff silently
    * deletes entire low-scoring domains (the per-domain-filter lesson
    * `quality_deciles_per_source` computes thresholds for; this gate
    * APPLIES it per doc). decile 9 = best, 0 = worst; null quality
    * (empty text) lands in decile 0. Scale: the boundary pass is one
    * (source × distinct-score) histogram shuffle; application is a
    * broadcast join of 9 boundaries per source + a narrow count of
    * exceeded boundaries. All integers ⇒ exact oracle. */
  val qualityNormalized: Q = (s, dir) => {
    val scored = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        when(length(col("text")) > 0,
          round(TextAnalysis.qualityScore(col("text")) * 1000000).cast("long"))
          .as("q_micro"))
    val qs = (1 to 9).map(k => (s"d$k", k / 10.0))
    val b = graft.operators.HistogramQuantile.boundaries(scored, Seq("source"), "q_micro", qs)
    scored
      .join(broadcast(b.select(col("source") +: qs.map(q => col(q._1)): _*)), Seq("source"), "left")
      .withColumn("decile",
        (1 to 9).map(k => when(col("q_micro") > col(s"d$k"), 1).otherwise(0))
          .reduce(_ + _).cast("int"))
      .select("doc_id", "source", "q_micro", "decile")
      .orderBy("doc_id")
  }

  /** Quality-first curriculum ordering ([[Sampling.curriculumOrder]]):
    * exact quartile phases of the micro-unit quality score, md5 shard
    * assignment, and the 1-based position within each (phase, shard) —
    * the distributed training order a dataloader consumes (phases
    * ascending, shards round-robin) with no global sort anywhere. All
    * integers; the oracle replays boundary rule, phase, shard, and the
    * within-partition md5 permutation itself. */
  val curriculumOrder: Q = (s, dir) =>
    Sampling.curriculumOrder(spreadForCompute(s, Tables(s, dir, "documents")), "doc_id", "text", nShards = 8)
      .orderBy("doc_id")

  /** Content-defined chunk dedup ([[Dedup.cdcDedup]]): md5-window
    * boundary rule (portable — the oracle recomputes every cut point,
    * chunk text, and chunk hash), then the cross-doc duplicated-chunk
    * report. The shift-robust twin of `dedup_chunks`. */
  val dedupCdcChunks: Q = (s, dir) =>
    Dedup.cdcDedup(Tables(s, dir, "documents"), "doc_id", "text", window = 16, maskMod = 64)
      .orderBy("chunk_md5")

  /** Day-2 CDC — partial-duplication detection against a PERSISTED
    * chunk-hash index: the corpus's distinct CDC chunk hashes live as a
    * compacted `bucketBy(h)` table (the [[dedupIncrementalBucketed]]
    * layout investment at CHUNK granularity); the daily batch chunks
    * probe it with zero Exchange on the index side, and each batch doc
    * reports how much of its CONTENT the corpus has already seen
    * (`dup_ppm`) — the "this new crawl is 80% old text" signal exact
    * dedup can't give (the doc hash differs) and near-dup may miss
    * (the new framing dilutes the shingle set). Echoed corpus docs in
    * the batch read dup_ppm = 1e6 by construction. */
  val dedupCdcIncremental: Q = (s, dir) => {
    val base = echoBase(s, dir)
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"), Sampling.hashBucket256(col("doc_id")).as("bk"))
    val corpus = d.filter(col("bk") < 128).select("doc_id", "text")
    val batch = d.filter(col("bk") >= 128).select("doc_id", "text")
      .union(d.filter(col("bk") < 8)
        .select((col("doc_id") + base).as("doc_id"), col("text")))
    val idxTable = Artifacts.getOrBuild("cdc_chunk_hashes", Seq(corpus)) { a =>
      a.bucketedTable("graft_cdch_b", "h",
        Dedup.cdcChunks(corpus, "doc_id", "text").select(col("chunk_md5").as("h")).distinct())
    }
    val idx = s.table(idxTable).hint("merge").withColumn("known", lit(1))
    Dedup.cdcChunks(batch, "doc_id", "text")
      .join(idx, col("chunk_md5") === col("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        count(col("known")).as("n_known"),
        sum("clen").as("total_chars"),
        coalesce(sum(when(col("known").isNotNull, col("clen"))), lit(0L)).as("known_chars"))
      .withColumn("dup_ppm", expr("(known_chars * 1000000) DIV total_chars"))
      .orderBy("doc_id")
  }

  /** HTML extraction + link-density report ([[TextAnalysis.htmlExtract]])
    * over a deterministic in-plan HTML wrapping of the fixture (the
    * `bm25Docs` enrichment convention — the raw corpus carries no
    * markup): title/head boilerplate, sentence `<p>` splits, a
    * per-doc link, and a nav block on every third doc. Both engines
    * build the SAME page string, so extraction, tag counts, and the
    * ppm densities all hash-verify. */
  val htmlExtractQ: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val page = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title></head><body><p>"),
      regexp_replace(col("text"), "\\. ", ".</p><p>"),
      lit("</p><a href=\"/d"), col("doc_id").cast("string"), lit("\">more</a>"),
      when(col("doc_id") % 3 === 0, lit("<a href=\"/nav\">nav nav nav</a>")).otherwise(lit("")),
      lit("</body></html>"))
    TextAnalysis.htmlExtract(d.select(col("doc_id"), page.as("page")), "doc_id", "page")
      .transform(Materialize.shared)
      .orderBy("id")
  }

  /** Heaps-law vocabulary growth ([[TextAnalysis.vocabGrowthCurve]]):
    * distinct-vocab size vs corpus prefix size at the ten exact id
    * deciles — all integer counts off ONE first-seen aggregate, so the
    * oracle replays the whole curve. */
  val vocabGrowthCurve: Q = (s, dir) =>
    TextAnalysis.vocabGrowthCurve(Tables(s, dir, "documents"), "doc_id", "text", nPoints = 10)
      .orderBy("point")

  val defs: Map[String, Q] = Map(
    "text_stats" -> textStats,
    "token_counts" -> tokenCounts,
    "token_length_histogram" -> tokenLengthHistogram,
    "quantile_buckets_docs" -> quantileBucketsDocs,
    "curriculum_order" -> curriculumOrder,
    "quality_normalized" -> qualityNormalized,
    "vocab_growth_curve" -> vocabGrowthCurve,
    "html_extract" -> htmlExtractQ,
    "corpus_stats" -> corpusStats,
    "top_tokens" -> topTokens,
    "cms_heavy_hitters" -> cmsHeavyHitters,
    "quality_score" -> qualityScore,
    "unigram_logfreq_score" -> unigramLogFreqScore,
    "unigram_logfreq_hybrid" -> unigramLogFreqHybridScore,
    "bigram_logprob_score" -> bigramLogprobScore,
    "doc_repetition" -> docRepetition,
    "quality_gates_report" -> qualityGatesReport,
    "lang_id" -> langId,
    "lang_id_confusion" -> langIdConfusion,
    "doc_fingerprint" -> docFingerprint,
    "dedup_exact" -> dedupExact,
    "dedup_substring" -> dedupSubstring,
    "dedup_substring_spans" -> dedupSubstringSpans,
    "dedup_substring_budget" -> dedupSubstringBudget,
    "bloom_prune_docs" -> bloomPruneDocs,
    "dedup_minhash" -> dedupMinhash,
    "dedup_simhash" -> dedupSimhash,
    "ngram_jaccard_pairs" -> ngramJaccardPairs,
    "minhash_est_error" -> minhashEstError,
    "ann_bruteforce" -> annBruteforce,
    "ann_lsh" -> annLsh,
    "ann_ivf" -> annIvf,
    "ann_ivf_persisted" -> annIvfPersisted,
    "ann_ivf_persisted_append" -> annIvfPersistedAppend,
    "ann_ivf_forget" -> annIvfForget,
    "ann_ivf_append_audit" -> annIvfAppendAudit,
    "ann_pq" -> annPq,
    "ann_ivf_pq" -> annIvfPq,
    "ann_ivf_trained" -> annIvfTrained,
    "ann_pq_trained" -> annPqTrained,
    "ann_recall_audit" -> annRecallAudit,
    "ann_ivf_recall_curve" -> annIvfRecallCurve,
    "select_kcenter" -> selectKcenter,
    "retrieval_mmr" -> retrievalMmr,
    "hard_negatives" -> hardNegativesQ,
    "dedup_embedding" -> dedupEmbedding,
    "dedup_semantic" -> dedupSemantic,
    "dedup_semantic_skew" -> dedupSemanticSkew,
    "dedup_semantic_incremental" -> dedupSemanticIncremental,
    "embedding_bucket_histogram" -> embeddingBucketHistogram,
    "embedding_moments" -> embeddingMoments,
    "embedding_outliers" -> embeddingOutliers,
    "embedding_int8_quantize" -> embeddingInt8Quantize,
    "embedding_top_pc" -> embeddingTopPc,
    "ann_int8" -> annInt8,
    "embedding_kmeans_assign" -> embeddingKmeansAssign,
    "cluster_balanced_sample" -> clusterBalancedSample,
    "cluster_topic_terms" -> clusterTopicTerms,
    "bpe_pair_stats" -> bpePairStats,
    "bpe_encode" -> bpeEncode,
    "bpe_encode_bytes" -> bpeEncodeBytes,
    "bpe_coverage_bytes" -> bpeCoverageBytes,
    "bpe_decode_roundtrip" -> bpeDecodeRoundtrip,
    "bpe_fertility_by_source" -> bpeFertilityBySource,
    "bpe_vocab" -> bpeVocab,
    "unigram_vocab" -> unigramVocab,
    "unigram_fertility" -> unigramFertility,
    "unigram_fertility_sweep" -> unigramFertilitySweep,
    "unigram_artifact_roundtrip" -> unigramArtifactRoundtrip,
    "unigram_segment" -> unigramSegment,
    "best_of_n_select" -> bestOfNSelect,
    "rm_pairs_from_n" -> rmPairsFromN,
    "rm_pairs_to_dpo" -> rmPairsToDpo,
    "vocab_transplant" -> vocabTransplant,
    "dataset_diff" -> datasetDiff,
    "dataset_diff_chunks" -> datasetDiffChunks,
    "forget_docs_audit" -> forgetDocsAudit,
    "forget_rebuild_plan" -> forgetRebuildPlan,
    "forget_pipeline_report" -> forgetPipelineReport,
    "forget_vocab_audit" -> forgetVocabAudit,
    "epoch_order_resume" -> epochOrderResume,
    "epoch_order_windows" -> epochOrderWindows,
    "epoch_order_rebuilt" -> epochOrderRebuilt,
    "bpe_vocab_bytes" -> bpeVocabBytes,
    "bpe_artifact_roundtrip" -> bpeArtifactRoundtrip,
    "pack_sequences_bpe" -> packSequencesBpe,
    "pack_payload_bpe" -> packPayloadBpe,
    "token_length_histogram_bpe" -> tokenLengthHistogramBpe,
    "source_mixture_weights_bpe" -> sourceMixtureWeightsBpe,
    "source_mixture_weights" -> sourceMixtureWeights,
    "mixture_plan_sample" -> mixturePlanSample,
    "mixture_epoch_sample" -> mixtureEpochSample,
    "mixture_token_budget" -> mixtureTokenBudget,
    "corpus_drift" -> corpusDrift,
    "embedding_drift" -> embeddingDrift,
    "quality_deciles_per_source" -> qualityDecilesPerSource,
    "quality_classifier_trained" -> qualityClassifierTrained,
    "quality_classifier_confusion" -> ((s, dir) =>
      TextAnalysis.trainedQualityScorer(Tables(s, dir, "documents"), "doc_id", "text")
        .groupBy("label", "pred").agg(count(lit(1)).as("n_docs"))
        .orderBy("label", "pred")),
    "lsh_bucket_histogram" -> lshBucketHistogram,
    "dedup_components" -> dedupComponents,
    "dedup_groups_minhash" -> dedupGroupsMinhash,
    "dedup_keep_best" -> dedupKeepBest,
    "dedup_keep_central" -> dedupKeepCentral,
    "cross_source_leakage" -> crossSourceLeakage,
    "pipeline_disposition" -> pipelineDisposition,
    "pipeline_drop_report" -> pipelineDropReport,
    "vocab_coverage" -> vocabCoverage,
    "doc_chunks" -> docChunks,
    "dedup_chunks" -> dedupChunks,
    "dedup_cdc_chunks" -> dedupCdcChunks,
    "dedup_cdc_incremental" -> dedupCdcIncremental,
    "pack_sequences" -> packSequences,
    "pack_sequences_ffd" -> packSequencesFfd,
    "pack_payload_ffd" -> packPayloadFfd,
    "pack_sequences_ffd_sharded" -> packSequencesFfdSharded,
    "pack_sequences_layout" -> packSequencesLayout,
    "encoding_hygiene" -> encodingHygiene,
    "unicode_normalization" -> unicodeNormalization,
    "pipeline_clean_corpus" -> pipelineCleanCorpus,
    "decontaminate_docs" -> decontaminateDocs,
    "decontaminate_report" -> decontaminateReport,
    "novelty_score" -> noveltyScore,
    "decontaminate_semantic" -> decontaminateSemantic,
    "pii_redaction" -> piiRedaction,
    "distinctive_terms" -> distinctiveTerms,
    "boilerplate_removal" -> boilerplateRemoval,
    "temperature_resample" -> temperatureResample,
    "inverted_index" -> invertedIndex,
    "bm25_topk" -> bm25Topk,
    "bm25_topk_persisted" -> bm25TopkPersisted,
    "bm25_topk_forget" -> bm25TopkForget,
    "bm25_topk_incremental" -> bm25TopkIncremental,
    "bm25_topk_maxdf" -> bm25TopkMaxdf,
    "hybrid_rerank" -> hybridRerank,
    "retrieval_recall_audit" -> retrievalRecallAudit,
    "rrf_fusion" -> rrfFusion,
    "dedup_incremental" -> dedupIncremental,
    "dedup_incremental_bucketed" -> dedupIncrementalBucketed,
    "split_train_val" -> splitTrainVal,
    "split_leakage_safe" -> splitLeakageSafe,
    "dsir_importance_sample" -> dsirImportanceSample,
    "dsir_score_incremental" -> dsirScoreIncremental,
    "shard_manifest" -> shardManifest,
    "compaction_plan" -> compactionPlan,
    "compaction_plan_sharded" -> compactionPlanSharded,
    "export_jsonl_roundtrip" -> exportJsonlRoundtrip,
    "export_csv_roundtrip" -> exportCsvRoundtrip,
    "export_orc_roundtrip" -> exportOrcRoundtrip,
    "export_tar_roundtrip" -> exportTarRoundtrip,
    "export_tar_multimodal" -> exportTarMultimodal,
    "sample_docs_per_lang" -> sampleDocsPerLang,
    "media_features" -> mediaFeatures,
    "media_dedup_features" -> mediaDedupFeatures,
    "media_dedup_incremental" -> mediaDedupIncremental,
    "media_forget" -> mediaForget,
    "media_dedup_clusters" -> mediaDedupClusters,
    "span_corruption" -> spanCorruptionQ,
    "sft_examples" -> sftExamplesQ,
    "sft_packed_layout" -> sftPackedLayout,
    "dpo_pairs" -> dpoPairsQ,
    "dpo_packed_layout" -> dpoPackedLayout,
    "dataset_card" -> datasetCard,
    "media_decode_bmp" -> mediaDecodeBmp,
    "media_decode_png" -> mediaDecodePng,
    "media_decode_gif" -> mediaDecodeGif,
    "media_decode_jpeg" -> mediaDecodeJpeg,
    "media_resize" -> mediaResize,
    "media_frames" -> mediaFrames,
    "media_video_frames" -> mediaVideoFrames,
    "media_video_scenes" -> mediaVideoScenes,
    "media_audio_stats" -> mediaAudioStats,
    "media_audio_dedup" -> mediaAudioDedup,
    "media_audio_dedup_incremental" -> mediaAudioDedupIncremental,
    "media_audio_forget" -> mediaAudioForget,
    "media_video_dedup" -> mediaVideoDedup,
    "media_video_dedup_incremental" -> mediaVideoDedupIncremental,
    "media_video_forget" -> mediaVideoForget,
    "media_caption_dedup" -> mediaCaptionDedup,
    "media_caption_dedup_incremental" -> mediaCaptionDedupIncremental,
    "media_caption_forget" -> mediaCaptionForget,
    "media_caption_clusters" -> mediaCaptionClusters,
    "media_audio_resample" -> mediaAudioResample,
    "media_stats" -> mediaStats
  )

  /** ONE hot-bucket cap for the whole dedup family: passed explicitly
    * to every Spark-side `maxBucket` AND interpolated into every
    * oracle's `BETWEEN 2 AND …` — a change to either side can no
    * longer diverge silently (the constant is shared, not repeated). */
  private val MaxBucket = 1000

  /** Inline DuckDB expression parsing the top 15 hex chars of an md5
    * string as a 60-bit BIGINT — the numeric twin of the Spark side's
    * `Md5.top60` (big-endian first 8 digest bytes >>> 4).
    *
    * The lambda variable is deliberately collision-proof: `$md` is
    * interpolated INSIDE the lambda body, so a caller whose expression
    * references a column named like the lambda parameter would have
    * that column silently captured — a plain `i` here turned the
    * streaming CMS oracle's per-row seed (`... || CAST(i AS VARCHAR)
    * || ...`, `i` an outer range column) into the hex-position
    * counter, collapsing all four hash rows to one wrong value. The
    * batch CMS gate could not see it (both engines' estimates equal
    * the exact counts when no collision fires, wrong buckets or not);
    * the streaming gate exposing the raw matrix did. */
  /** The k-center greedy trajectory unrolled as CTEs (the PageRank/
    * PQ-training replay convention): s1 = smallest-(md5, id) seed;
    * round t computes each point's exact BIGINT L2 to the round's new
    * center (dT), folds it into the running min-distance frame (mT,
    * selected ids excluded), and s(t+1) takes the (d DESC, id ASC)
    * argmax — the exact trajectory [[graft.llm.Similarity.kCenterSelect]]
    * walks, so the selection ORDER itself is hash-verified. */
  private def kCenterOracle(k: Int): String = {
    def dCte(t: Int): String =
      s"""d$t AS (SELECT a.vec_id, CAST(sum((a.q - c.q) * (a.q - c.q)) AS BIGINT) AS d
         |  FROM q a JOIN q c ON c.i = a.i JOIN s$t s ON c.vec_id = s.vec_id
         |  GROUP BY a.vec_id)""".stripMargin
    def sCte(t: Int): String = // pick t from the min-distance frame m(t-1)
      s"""s$t AS (SELECT vec_id, d FROM (SELECT vec_id, d,
         |    row_number() OVER (ORDER BY d DESC, vec_id) AS rk FROM m${t - 1}) WHERE rk = 1)""".stripMargin
    val rounds = (1 until k).map { t =>
      val m =
        if (t == 1)
          s"""m1 AS (SELECT vec_id, d FROM d1
             |  WHERE vec_id NOT IN (SELECT vec_id FROM s1))""".stripMargin
        else
          s"""m$t AS (SELECT p.vec_id, least(p.d, d$t.d) AS d
             |  FROM m${t - 1} p JOIN d$t ON p.vec_id = d$t.vec_id
             |  WHERE p.vec_id NOT IN (SELECT vec_id FROM s$t))""".stripMargin
      s"${dCte(t)},\n$m,\n${sCte(t + 1)}"
    }.mkString(",\n")
    val sel = (2 to k).map(t => s"UNION ALL SELECT $t, vec_id, d FROM s$t").mkString("\n")
    s"""WITH q AS (SELECT vec_id, i,
       |    CAST(floor(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * 1000) AS BIGINT) AS q
       |  FROM embeddings, unnest(range(0, len(embedding))) t(i)),
       |s1 AS (SELECT vec_id FROM embeddings
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1),
       |$rounds
       |SELECT CAST(rank AS INT) AS rank, vec_id, dist2 FROM (
       |  SELECT 1 AS rank, vec_id, CAST(NULL AS BIGINT) AS dist2 FROM s1
       |  $sel)
       |ORDER BY rank""".stripMargin
  }

  /** The MMR greedy trajectory unrolled as CTEs: integer dot
    * relevance over the quantized grid, the per-query candidateK cut,
    * pairwise candidate similarities, then k−1 selection rounds — each
    * takes per-candidate `max(sim to selected)` and the
    * `(λ·rel − (1−λ)·maxSim) DESC, doc_id` argmax, exactly the local
    * greedy [[graft.llm.Retrieval.mmrTopK]] runs per query. */
  private def mmrOracle(candidateK: Int, k: Int, lamMilli: Int): String = {
    val co = 1000 - lamMilli
    def selCte(t: Int): String =
      if (t == 1) "sel1 AS (SELECT query_id, doc_id FROM p1)"
      else s"sel$t AS (SELECT query_id, doc_id FROM sel${t - 1} UNION ALL SELECT query_id, doc_id FROM p$t)"
    val rounds = (2 to k).map { t =>
      s"""${selCte(t - 1)},
         |m${t - 1} AS (SELECT c.query_id, c.doc_id, c.rel, max(s.sim) AS ms
         |  FROM cand c JOIN sims s ON s.query_id = c.query_id AND s.da = c.doc_id
         |  JOIN sel${t - 1} sl ON sl.query_id = s.query_id AND sl.doc_id = s.db
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} x
         |    WHERE x.query_id = c.query_id AND x.doc_id = c.doc_id)
         |  GROUP BY 1, 2, 3),
         |p$t AS (SELECT query_id, doc_id, rel, ms FROM (SELECT query_id, doc_id, rel, ms,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY $lamMilli * rel - $co * ms DESC, doc_id) AS rk FROM m${t - 1}) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val union = (2 to k)
      .map(t => s"UNION ALL SELECT query_id, doc_id, $t, rel, ms FROM p$t").mkString("\n")
    s"""WITH qv AS (SELECT vec_id, i,
       |    CAST(floor(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * 1000) AS BIGINT) AS q
       |  FROM embeddings, unnest(range(0, len(embedding))) t(i)),
       |rel0 AS (SELECT qq.vec_id AS query_id, cc.vec_id AS doc_id,
       |    CAST(sum(qq.q * cc.q) AS BIGINT) AS rel
       |  FROM qv qq JOIN qv cc ON qq.i = cc.i AND qq.vec_id < 10 AND cc.vec_id <> qq.vec_id
       |  GROUP BY 1, 2),
       |cand AS (SELECT query_id, doc_id, rel FROM (SELECT query_id, doc_id, rel,
       |    row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS rk
       |  FROM rel0) WHERE rk <= $candidateK),
       |sims AS (SELECT a.query_id, a.doc_id AS da, b.doc_id AS db,
       |    CAST(sum(va.q * vb.q) AS BIGINT) AS sim
       |  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.doc_id <> b.doc_id
       |  JOIN qv va ON va.vec_id = a.doc_id
       |  JOIN qv vb ON vb.vec_id = b.doc_id AND vb.i = va.i
       |  GROUP BY 1, 2, 3),
       |p1 AS (SELECT query_id, doc_id, rel FROM (SELECT query_id, doc_id, rel,
       |    row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS rk
       |  FROM cand) WHERE rk = 1),
       |$rounds
       |SELECT query_id, doc_id, CAST(rank AS INT) AS rank, rel, max_sim FROM (
       |  SELECT query_id, doc_id, 1 AS rank, rel, CAST(NULL AS BIGINT) AS max_sim FROM p1
       |  $union)
       |ORDER BY query_id, rank""".stripMargin
  }

  /** The integer power-iteration replay for `embedding_top_pc`: the
    * full covariance in HUGEINT off the shared milli-grid block, then
    * `iters` unrolled rounds of (matrix·vector, max-abs rescale by
    * truncating `//`) — bit-identical to the driver-side BigInt loop in
    * [[graft.llm.Similarity.topPrincipalComponent]]. */
  private def topPcOracle(iters: Int): String = {
    // MATERIALIZED is load-bearing (the BpeOracle lesson): w_t is
    // referenced by BOTH m_t and v_t — inlined, each round would double
    // the plan and 8 rounds explode 2^8
    val rounds = (1 to iters).map { t =>
      s"""w$t AS MATERIALIZED (SELECT c.i, sum(c.c * v${t - 1}.v) AS s
         |  FROM c JOIN v${t - 1} ON c.j = v${t - 1}.i GROUP BY c.i),
         |m$t AS MATERIALIZED (SELECT max(abs(s)) AS mx FROM w$t),
         |v$t AS MATERIALIZED (SELECT i, CASE WHEN mx = 0 THEN s ELSE (s * 1000000) // mx END AS v
         |  FROM w$t, m$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (SELECT vec_id, i,
       |    CAST(floor(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * 1000) AS BIGINT) AS q
       |  FROM embeddings, unnest(range(0, len(embedding))) t(i)),
       |mm AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
       |    count(*) AS n, CAST(sum(a.q * b.q) AS HUGEINT) AS sxy,
       |    CAST(sum(a.q) AS HUGEINT) AS sxi, CAST(sum(b.q) AS HUGEINT) AS sxj
       |  FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY a.i, b.i),
       |c AS MATERIALIZED (SELECT i, j, CAST(n AS HUGEINT) * sxy - sxi * sxj AS c FROM mm),
       |v0 AS MATERIALIZED (SELECT i, CAST(1000000 AS HUGEINT) AS v FROM (SELECT DISTINCT i FROM c)),
       |$rounds,
       |num AS (SELECT sum(va.v * c.c * vb.v) AS nu
       |  FROM c JOIN v$iters va ON c.i = va.i JOIN v$iters vb ON c.j = vb.i),
       |den AS (SELECT (SELECT sum(v * v) FROM v$iters)
       |    * (SELECT sum(c) FROM c WHERE i = j) AS de)
       |SELECT CAST(i AS INT) AS i, CAST(v AS BIGINT) AS pc_micro,
       |  CAST(CASE WHEN de = 0 THEN 0 ELSE (nu * 1000000) // de END AS BIGINT) AS rayleigh_ppm
       |FROM v$iters, num, den ORDER BY i""".stripMargin
  }

  /** The CDC chunk replay block ([[graft.llm.Dedup.cdcChunks]], window
    * 16 / mask 64) over any `(doc_id, text)` source — `p` prefixes the
    * CTE names so one oracle can hold independent corpus/batch streams;
    * ends with `${p}chunks(doc_id, chunk_idx, h, clen)`. ONE formula
    * source for every CDC oracle. */
  private def cdcChunkCtes(p: String, src: String): String =
    s"""${p}cuts AS (SELECT doc_id, i + 15 AS c
       |  FROM $src, unnest(range(1, length(text) - 14)) t(i)
       |  WHERE ${hx60("md5(substr(text, CAST(i AS INT), 16))")} % 64 = 0),
       |${p}cl AS (SELECT doc_id, list_sort(list(c)) AS cs FROM ${p}cuts GROUP BY doc_id),
       |${p}d2 AS (SELECT s0.doc_id, s0.text, COALESCE(${p}cl.cs, []) AS cs
       |  FROM $src s0 LEFT JOIN ${p}cl USING (doc_id)),
       |${p}ch AS (SELECT doc_id, j,
       |    CASE WHEN j = 0 THEN 1 ELSE cs[CAST(j AS INT)] + 1 END AS s,
       |    CASE WHEN j = len(cs) THEN length(text)
       |         ELSE cs[CAST(j + 1 AS INT)] END AS e, text
       |  FROM ${p}d2, unnest(range(0, len(cs) + 1)) t(j)),
       |${p}chunks AS (SELECT doc_id, CAST(j AS INT) AS chunk_idx,
       |    md5(substr(text, CAST(s AS INT), CAST(e - s + 1 AS INT))) AS h,
       |    e - s + 1 AS clen
       |  FROM ${p}ch WHERE e >= s)""".stripMargin

  /** The trained-quality-classifier replay CTE chain (features,
    * teacher labels, scaled class means, weights) — shared by the
    * per-doc gate and the confusion audit. Ends with `l` (features +
    * label) and `w` (weights + threshold term). */
  private lazy val qualityClassifierCtes: String = {
    val sw = TextAnalysis.defaultStopwords.mkString("'", "','", "'")
    s"""f AS (SELECT doc_id,
       |    CAST(len(regexp_split_to_array(text, ' +')) AS BIGINT) AS x1,
       |    CAST(length(text) AS BIGINT) AS x2,
       |    CAST(len(list_distinct(regexp_split_to_array(lower(text), ' +'))) AS BIGINT) AS x3,
       |    CAST(len(list_filter(regexp_split_to_array(lower(text), ' +'),
       |      t -> t IN ($sw))) AS BIGINT) AS x4
       |  FROM documents),
       |l AS (SELECT *, CASE WHEN x1 >= 50 AND x2 >= 3*x1 AND x2 <= 10*x1
       |    THEN 1 ELSE 0 END AS label FROM f),
       |s AS (SELECT
       |    sum(CASE WHEN label = 1 THEN x1 END) * 1000 // sum(CASE WHEN label = 1 THEN 1 END) AS g1,
       |    sum(CASE WHEN label = 1 THEN x2 END) * 1000 // sum(CASE WHEN label = 1 THEN 1 END) AS g2,
       |    sum(CASE WHEN label = 1 THEN x3 END) * 1000 // sum(CASE WHEN label = 1 THEN 1 END) AS g3,
       |    sum(CASE WHEN label = 1 THEN x4 END) * 1000 // sum(CASE WHEN label = 1 THEN 1 END) AS g4,
       |    sum(CASE WHEN label = 0 THEN x1 END) * 1000 // sum(CASE WHEN label = 0 THEN 1 END) AS b1,
       |    sum(CASE WHEN label = 0 THEN x2 END) * 1000 // sum(CASE WHEN label = 0 THEN 1 END) AS b2,
       |    sum(CASE WHEN label = 0 THEN x3 END) * 1000 // sum(CASE WHEN label = 0 THEN 1 END) AS b3,
       |    sum(CASE WHEN label = 0 THEN x4 END) * 1000 // sum(CASE WHEN label = 0 THEN 1 END) AS b4
       |  FROM l),
       |w AS (SELECT g1 - b1 AS w1, g2 - b2 AS w2, g3 - b3 AS w3, g4 - b4 AS w4,
       |    (g1 - b1) * (g1 + b1) + (g2 - b2) * (g2 + b2) +
       |    (g3 - b3) * (g3 + b3) + (g4 - b4) * (g4 + b4) AS t FROM s)""".stripMargin
  }

  private[queries] def hx60(md: String): String =
    s"CAST(list_sum(list_transform(range(1, 16), __hx -> " +
      s"CAST(strpos('0123456789abcdef', substr($md, CAST(__hx AS INT), 1)) - 1 AS BIGINT) * " +
      s"(CAST(1 AS BIGINT) << CAST(4 * (15 - __hx) AS INT)))) AS BIGINT)"

  /** The per-shard FFD window-layout replay (d → ffd → lay) as a shared
    * recursive-CTE prefix: `lay(shard_id, bin_id, doc_id, n, rn, s, off)`
    * is each document's placement in its 2048-token window. Used
    * VERBATIM by both the `pack_sequences_layout` oracle and the
    * `forget_docs_audit` oracle — the audit must answer against the
    * artifact actually shipped, so the two replays cannot drift. */
  private val ffdLayoutCtes: String =
    s"""d AS (SELECT doc_id,
       |    CAST(len(regexp_split_to_array(text, ' +')) AS BIGINT) AS n,
       |    CAST(${hx60("md5(CAST(doc_id AS VARCHAR))")} % 8 AS INT) AS shard_id,
       |    row_number() OVER (PARTITION BY CAST(${hx60("md5(CAST(doc_id AS VARCHAR))")} % 8 AS INT)
       |      ORDER BY len(regexp_split_to_array(text, ' +')) DESC, doc_id) AS rn
       |  FROM documents),
       |ffd AS (
       |  SELECT shard_id, 0::BIGINT AS rn, NULL::BIGINT AS doc_id, NULL::BIGINT AS n,
       |    NULL::BIGINT AS bin_id, []::BIGINT[] AS rem
       |  FROM (SELECT DISTINCT shard_id FROM d)
       |  UNION ALL
       |  SELECT shard_id, rn, doc_id, n,
       |    CASE WHEN fit IS NULL THEN len(rem0) ELSE fit - 1 END AS bin_id,
       |    CASE WHEN fit IS NULL THEN list_append(rem0, 2048 - n)
       |         ELSE list_transform(range(1, len(rem0) + 1),
       |                i -> CASE WHEN i = fit THEN rem0[i] - n ELSE rem0[i] END)
       |    END AS rem
       |  FROM (
       |    SELECT d.shard_id, d.rn, d.doc_id, d.n, f.rem AS rem0,
       |      NULLIF(list_position(list_transform(f.rem, x -> x >= d.n), true), 0) AS fit
       |    FROM ffd f JOIN d ON d.shard_id = f.shard_id AND d.rn = f.rn + 1) s),
       |lay AS MATERIALIZED (SELECT shard_id, bin_id, doc_id, n, rn,
       |    CAST(row_number() OVER (PARTITION BY shard_id, bin_id ORDER BY rn) - 1 AS BIGINT) AS s,
       |    CAST(COALESCE(sum(n) OVER (PARTITION BY shard_id, bin_id ORDER BY rn
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
       |  FROM ffd WHERE rn > 0)""".stripMargin

  /** The forget-rebuild replay (fl → cb → sv → rffd → rlay) after the
    * shared [[ffdLayoutCtes]] prefix: delete flags, contaminated bins,
    * survivors, the SECOND per-shard FFD recursion, and the rebuilt
    * placement `rlay(shard_id, bin_id, doc_id, n, rn, s, off)`. Used
    * VERBATIM by the `forget_rebuild_plan` and `epoch_order_rebuilt`
    * oracles — the compaction the reader resumes over is the one the
    * rebuild actually ships. */
  private val rebuildFfdCtes: String =
    s"""fl AS (SELECT shard_id, bin_id, doc_id, n,
       |    CASE WHEN ${hx60("md5('forget:' || CAST(doc_id AS VARCHAR))")} % 200 = 0
       |      THEN 1 ELSE 0 END AS isf
       |  FROM lay),
       |cb AS (SELECT shard_id, bin_id FROM fl GROUP BY shard_id, bin_id HAVING max(isf) = 1),
       |sv AS (SELECT fl.shard_id, fl.doc_id, fl.n,
       |    row_number() OVER (PARTITION BY fl.shard_id
       |      ORDER BY fl.n DESC, fl.doc_id) AS rn
       |  FROM fl JOIN cb ON fl.shard_id = cb.shard_id AND fl.bin_id = cb.bin_id
       |  WHERE fl.isf = 0),
       |rffd AS (
       |  SELECT shard_id, 0::BIGINT AS rn, NULL::BIGINT AS doc_id, NULL::BIGINT AS n,
       |    NULL::BIGINT AS bin_id, []::BIGINT[] AS rem
       |  FROM (SELECT DISTINCT shard_id FROM sv)
       |  UNION ALL
       |  SELECT shard_id, rn, doc_id, n,
       |    CASE WHEN fit IS NULL THEN len(rem0) ELSE fit - 1 END AS bin_id,
       |    CASE WHEN fit IS NULL THEN list_append(rem0, 2048 - n)
       |         ELSE list_transform(range(1, len(rem0) + 1),
       |                i -> CASE WHEN i = fit THEN rem0[i] - n ELSE rem0[i] END)
       |    END AS rem
       |  FROM (
       |    SELECT v.shard_id, v.rn, v.doc_id, v.n, f.rem AS rem0,
       |      NULLIF(list_position(list_transform(f.rem, x -> x >= v.n), true), 0) AS fit
       |    FROM rffd f JOIN sv v ON v.shard_id = f.shard_id AND v.rn = f.rn + 1) s),
       |rlay AS (SELECT shard_id, bin_id, doc_id, n, rn,
       |    CAST(row_number() OVER (PARTITION BY shard_id, bin_id ORDER BY rn) - 1 AS BIGINT) AS s,
       |    CAST(COALESCE(sum(n) OVER (PARTITION BY shard_id, bin_id ORDER BY rn
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
       |  FROM rffd WHERE rn > 0)""".stripMargin

  /** The best-of-N candidate scoring replay (n → resp → cand → rew):
    * rotations and the per-(word, position) reward rollup, shared
    * VERBATIM by the `best_of_n_select` and `rm_pairs_from_n` oracles —
    * the selection gate and the pair-extraction gate read the same
    * scored field, in SQL exactly as in Scala ([[bestOfNScored]]). */
  private val bestOfNCtes: String =
    s"""n AS (SELECT doc_id,
       |    list_filter(regexp_split_to_array(
       |      trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')),
       |      ' '), x -> len(x) > 0) AS w
       |  FROM documents WHERE text IS NOT NULL),
       |resp AS (SELECT doc_id, w[CAST(len(w) // 3 + 1 AS INT) : CAST(len(w) AS INT)] AS rw FROM n),
       |cand AS (SELECT doc_id, CAST(j AS INT) AS j,
       |    rw[CAST(j % greatest(len(rw), 1) + 1 AS INT) : CAST(len(rw) AS INT)] ||
       |      rw[1 : CAST(j % greatest(len(rw), 1) AS INT)] AS c
       |  FROM resp, unnest(range(0, 4)) t(j)),
       |rew AS (SELECT doc_id, j, c,
       |    COALESCE(CAST(list_sum(list_transform(range(1, len(c) + 1), ri ->
       |      ${hx60("md5('rm:' || c[CAST(ri AS INT)] || ':' || CAST(ri AS VARCHAR))")} % 1000)) AS BIGINT), 0) AS reward
       |  FROM cand)""".stripMargin

  /** The DSIR hashed-gram CTE chain over an optionally-filtered
    * documents slice — `p` prefixes the CTE names so one oracle can
    * hold independent train/batch streams. Produces `${p}g(doc_id,
    * is_target, bucket)`: unigram+bigram instances, hx60(md5) mod-1024
    * buckets (the Spark twin is the private gram stream behind
    * [[graft.llm.Sampling.dsirScores]]). */
  private def dsirGramCtes(p: String, whereClause: String): String =
    s"""${p}w AS (SELECT doc_id, (lang = 'en') AS is_target,
       |    list_filter(regexp_split_to_array(
       |      trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')),
       |      ' '), x -> length(x) > 0) AS ws FROM documents $whereClause),
       |${p}uni AS (SELECT doc_id, is_target, unnest(ws) AS gram FROM ${p}w),
       |${p}big AS (SELECT doc_id, is_target, ws[i] || ' ' || ws[i+1] AS gram
       |  FROM ${p}w, unnest(range(1, len(ws))) t(i)),
       |${p}g AS (SELECT doc_id, is_target,
       |    ${hx60("md5(gram)")} % 1024 AS bucket
       |  FROM (SELECT * FROM ${p}uni UNION ALL SELECT * FROM ${p}big))""".stripMargin

  /** The DSIR add-one floor-log2 ratio weight select (shared between
    * the in-corpus and frozen-weights oracles — one formula source). */
  private val dsirWeightSql: String =
    """SELECT bucket,
      |    (length(bin(CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) + 1 AS BIGINT))) - 1)
      |      - (length(bin(CAST(count(*) + 1 AS BIGINT))) - 1) AS w""".stripMargin

  /** Shared DuckDB CTE chain replaying the PORTABLE MinHash pipeline
    * exactly: words → distinct 60-bit shingle hashes (one md5 each) →
    * per-seed affine remix `(A_s*h + B_s) mod 2^60` in HUGEINT →
    * min-per-seed signature → md5 band keys → bucket-capped candidate
    * pairs with estimated Jaccard ≥ 0.3 (mirrors [[Dedup.minHashPairs]]
    * defaults: n=3, k=32, bands=8, rowsPer=4, maxBucket=1000). The JVM
    * side's wrap-around long multiply masked to 60 bits computes the
    * identical values (2^60 divides 2^64) — validated bit-exact. */
  /** The minhash/band/candidate CTE block over an arbitrary relation —
    * `rel` must expose (doc_id, text). Parameterized so pipeline
    * oracles can replay the SAME block over a filtered survivor set. */
  private[queries] def minhashCtesOver(rel: String): String =
    s"""w AS (SELECT doc_id, regexp_split_to_array(lower(text), ' +') AS ws FROM $rel),
      |shm AS (SELECT DISTINCT doc_id, md5(array_to_string(ws[i+1:i+3], ' ')) AS md
      |  FROM w, unnest(range(0, greatest(len(ws) - 3, 0) + 1)) t(i)),
      |sh AS (SELECT DISTINCT doc_id, ${hx60("md")} AS h FROM shm),
      |seeds AS (SELECT s, (${hx60("md5('a:' || s)")} | 1) AS a, ${hx60("md5('b:' || s)")} AS b
      |  FROM range(0, 32) t(s)),
      |comp AS (SELECT doc_id, s,
      |    min(CAST((CAST(a AS HUGEINT) * h + b) % 1152921504606846976 AS BIGINT)) AS c
      |  FROM sh, seeds GROUP BY doc_id, s),
      |sigt AS (SELECT doc_id, list(c ORDER BY s) AS sig FROM comp GROUP BY doc_id),
      |bk AS (SELECT doc_id, sig, md5(array_to_string(sig[b*4+1:b*4+4], ',') || ':' || b::VARCHAR) AS bucket
      |  FROM sigt, unnest(range(0, 8)) bs(b)),
      |okb AS (SELECT bucket FROM (SELECT bucket, count(*) AS n FROM bk GROUP BY bucket) WHERE n BETWEEN 2 AND $MaxBucket),
      |cand AS (
      |  SELECT id_a, id_b, max(est_jaccard) AS est_jaccard FROM (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |      CAST(len(list_filter(range(1, 33), i -> a.sig[i] = b.sig[i])) AS DOUBLE) / 32 AS est_jaccard
      |    FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
      |    JOIN okb ON a.bucket = okb.bucket)
      |  WHERE est_jaccard >= 0.3 GROUP BY id_a, id_b)""".stripMargin

  private[queries] val minhashCtes: String = minhashCtesOver("documents")

  /** Shared DuckDB replay of the positional w=8 window-hash pass
    * ([[Dedup.substringDupSpans]]): span md5 → 60-bit hash, corpus-wide
    * occurrence counts, the 2..MaxBucket hot-window cap. Ends with
    * `hits(doc_id, pos, wh, n_occurrences)` — consumed verbatim by
    * `dedup_substring` and merged into maximal intervals by
    * `dedup_substring_spans`, so the two oracles share one window
    * definition and cannot drift. */
  private val substringWindowCtes: String =
    s"""w AS (SELECT doc_id, regexp_split_to_array(lower(text), ' +') AS ws FROM documents),
       |s AS (SELECT doc_id, CAST(i AS INT) AS pos,
       |    array_to_string(ws[CAST(i + 1 AS INT):CAST(i + 8 AS INT)], ' ') AS span
       |  FROM w, unnest(range(0, greatest(len(ws) - 8 + 1, 0))) t(i)),
       |h AS (SELECT doc_id, pos, ${hx60("md5(span)")} AS wh FROM s),
       |g AS (SELECT wh, CAST(count(*) AS INT) AS n_occurrences FROM h GROUP BY wh
       |  HAVING count(*) BETWEEN 2 AND $MaxBucket),
       |hits AS (SELECT h.doc_id, h.pos, h.wh, g.n_occurrences FROM h JOIN g USING (wh))""".stripMargin

  /** Shared DuckDB replay of the CROSS-MODAL pair chain — synthetic
    * captions → the full minhash block → image pixels → dHash bits →
    * composite (text band × image band) buckets → capped candidates →
    * dual measures. Ends with `pm(id_a, id_b, est_jaccard, hamming)`;
    * consumed by `media_caption_dedup` (filter) and
    * `media_caption_clusters` (filter + recursive closure), so the two
    * gates share one pair definition and cannot drift. */
  private val captionPairCtes: String =
    s"""capdocs AS (SELECT doc_id,
       |    array_to_string(list_transform(range(0, 32), cwi ->
       |      CASE WHEN cwi < 30
       |        THEN 'w' || CAST(${hx60("md5('cap:' || CAST(doc_id // 8 AS VARCHAR) || ':' || CAST(cwi AS VARCHAR))")} % 1000 AS VARCHAR)
       |        ELSE 'n' || CAST(${hx60("md5('capn:' || CAST(doc_id AS VARCHAR) || ':' || CAST(cwi AS VARCHAR))")} % 1000 AS VARCHAR)
       |      END), ' ') AS text
       |  FROM documents),
       |${minhashCtesOver("capdocs")},
       |px AS (SELECT doc_id, x, y,
       |    1 + CAST((${hx60("md5('img:' || CAST(doc_id // 8 AS VARCHAR) || ':' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR))")} % 126 +
       |      CASE WHEN x = doc_id % 8 AND y = (doc_id // 8) % 8
       |        THEN 63 ELSE 0 END) % 126 AS INT) AS g
       |  FROM documents, unnest(range(0, 8)) tx(x), unnest(range(0, 8)) ty(y)),
       |ibits AS (SELECT a.doc_id, a.y, a.x, CASE WHEN b.g > a.g THEN '1' ELSE '0' END AS bit
       |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
       |  WHERE a.x < 7),
       |isg AS (SELECT doc_id, string_agg(bit, '' ORDER BY y, x) AS isig
       |  FROM ibits GROUP BY doc_id),
       |ibands AS (SELECT doc_id, isig, i,
       |    substr(isig, CAST(i*14 + 1 AS INT), 14) AS ikey
       |  FROM isg, unnest(range(0, 4)) t(i)),
       |cb AS MATERIALIZED (SELECT b.doc_id, b.sig AS tsig, ibands.isig,
       |    b.bucket || ':' || CAST(ibands.i AS VARCHAR) || ':' || ibands.ikey AS cbucket
       |  FROM bk b JOIN ibands ON ibands.doc_id = b.doc_id),
       |cokb AS (SELECT cbucket FROM (SELECT cbucket, count(*) AS n FROM cb GROUP BY cbucket)
       |  WHERE n BETWEEN 2 AND $MaxBucket),
       |p0 AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.tsig AS ta, b.tsig AS tb2, a.isig AS ia, b.isig AS ib2
       |  FROM cb a JOIN cb b ON a.cbucket = b.cbucket AND a.doc_id < b.doc_id
       |  JOIN cokb ON a.cbucket = cokb.cbucket),
       |pm AS (SELECT id_a, id_b,
       |    CAST(len(list_filter(range(1, 33), si -> ta[si] = tb2[si])) AS DOUBLE) / 32 AS est_jaccard,
       |    CAST(sum(CASE WHEN substr(ia, CAST(j AS INT), 1) <> substr(ib2, CAST(j AS INT), 1)
       |      THEN 1 ELSE 0 END) AS INT) AS hamming
       |  FROM p0, unnest(range(1, 57)) t(j)
       |  GROUP BY id_a, id_b, ta, tb2, ia, ib2)""".stripMargin

  /** The pair-affinity FFD tail (dd → ffd → lay → per-bin two-view
    * rollup, W = 256) over an `ex(doc_id, ntc, ntr, n)` CTE — shared
    * VERBATIM by the `dpo_packed_layout` and `rm_pairs_to_dpo`
    * oracles, the Scala side's [[dpoPairAffinityPack]] twin. */
  private lazy val dpoFfdTailSql: String =
    s"""dd AS (SELECT doc_id, n, ntc, ntr,
       |    CAST(${hx60("md5(CAST(doc_id AS VARCHAR))")} % 8 AS INT) AS shard_id,
       |    row_number() OVER (PARTITION BY CAST(${hx60("md5(CAST(doc_id AS VARCHAR))")} % 8 AS INT)
       |      ORDER BY n DESC, doc_id) AS rn
       |  FROM ex),
       |ffd AS (
       |  SELECT shard_id, 0::BIGINT AS rn, NULL::BIGINT AS doc_id, NULL::BIGINT AS n,
       |    NULL::BIGINT AS bin_id, []::BIGINT[] AS rem
       |  FROM (SELECT DISTINCT shard_id FROM dd)
       |  UNION ALL
       |  SELECT shard_id, rn, doc_id, n,
       |    CASE WHEN fit IS NULL THEN len(rem0) ELSE fit - 1 END AS bin_id,
       |    CASE WHEN fit IS NULL THEN list_append(rem0, 256 - n)
       |         ELSE list_transform(range(1, len(rem0) + 1),
       |                i -> CASE WHEN i = fit THEN rem0[i] - n ELSE rem0[i] END)
       |    END AS rem
       |  FROM (
       |    SELECT d.shard_id, d.rn, d.doc_id, d.n, f.rem AS rem0,
       |      NULLIF(list_position(list_transform(f.rem, x -> x >= d.n), true), 0) AS fit
       |    FROM ffd f JOIN dd d ON d.shard_id = f.shard_id AND d.rn = f.rn + 1) s),
       |lay AS MATERIALIZED (SELECT f.shard_id, f.bin_id, f.doc_id, f.n, d.ntc, d.ntr, f.rn,
       |    row_number() OVER (PARTITION BY f.shard_id, f.bin_id ORDER BY f.rn) - 1 AS s
       |  FROM ffd f JOIN dd d ON d.doc_id = f.doc_id WHERE f.rn > 0)
       |SELECT shard_id, bin_id,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(n) AS BIGINT) AS used_units,
       |  greatest(256 - CAST(sum(n) AS BIGINT), 0) AS pad_tokens,
       |  CAST(sum(ntc) AS BIGINT) AS chosen_tokens,
       |  CAST(sum(ntr) AS BIGINT) AS rejected_tokens,
       |  CAST(sum(ntc) AS BIGINT) * 1000000 // CAST(sum(n) AS BIGINT) AS chosen_fill_ppm,
       |  CAST(sum(ntr) AS BIGINT) * 1000000 // CAST(sum(n) AS BIGINT) AS rejected_fill_ppm,
       |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY s) AS doc_ids
       |FROM lay GROUP BY shard_id, bin_id
       |ORDER BY shard_id, bin_id""".stripMargin

  /** The day-2 cross-modal probe replay, parameterized like
    * [[mediaIncrementalSql]] (`cMask` lands on the corpus side of the
    * composite-bucket join): corpus ∪ echo-batch (re-posted image +
    * paraphrased caption) through BOTH signature chains per side, the
    * composite-bucket join batch×corpus, dual verify, distinct census. */
  private def captionIncrementalSql(cMask: String): String =
    s"""WITH offv AS (SELECT max(doc_id) + 1 AS off FROM documents),
       |hbs AS (SELECT doc_id,
       |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
       |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS hb
       |  FROM documents),
       |params AS (
       |  SELECT doc_id, doc_id // 8 AS p, doc_id % 8 AS nx, (doc_id // 8) % 8 AS ny,
       |    doc_id // 8 AS cp
       |  FROM documents
       |  UNION ALL
       |  SELECT h.doc_id + o.off,
       |    CASE WHEN hb < 85 THEN h.doc_id // 8 ELSE (h.doc_id + o.off) // 8 END,
       |    CASE WHEN hb < 85 THEN h.doc_id % 8 ELSE (h.doc_id + o.off) % 8 END,
       |    CASE WHEN hb < 85 THEN (h.doc_id // 8) % 8 ELSE ((h.doc_id + o.off) // 8) % 8 END,
       |    CASE WHEN hb < 85 THEN h.doc_id // 8 ELSE (h.doc_id + o.off) // 8 END
       |  FROM hbs h, offv o),
       |capdocs AS (SELECT doc_id,
       |    array_to_string(list_transform(range(0, 32), cwi ->
       |      CASE WHEN cwi < 30
       |        THEN 'w' || CAST(${hx60("md5('cap:' || CAST(cp AS VARCHAR) || ':' || CAST(cwi AS VARCHAR))")} % 1000 AS VARCHAR)
       |        ELSE 'n' || CAST(${hx60("md5('capn:' || CAST(doc_id AS VARCHAR) || ':' || CAST(cwi AS VARCHAR))")} % 1000 AS VARCHAR)
       |      END), ' ') AS text
       |  FROM params),
       |${minhashCtesOver("capdocs")},
       |px AS (SELECT doc_id, x, y,
       |    1 + CAST((${hx60("md5('img:' || CAST(p AS VARCHAR) || ':' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR))")} % 126 +
       |      CASE WHEN x = nx AND y = ny THEN 63 ELSE 0 END) % 126 AS INT) AS g
       |  FROM params, unnest(range(0, 8)) tx(x), unnest(range(0, 8)) ty(y)),
       |ibits AS (SELECT a.doc_id, a.y, a.x, CASE WHEN b.g > a.g THEN '1' ELSE '0' END AS bit
       |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
       |  WHERE a.x < 7),
       |isg AS (SELECT doc_id, string_agg(bit, '' ORDER BY y, x) AS isig
       |  FROM ibits GROUP BY doc_id),
       |ibands AS (SELECT doc_id, isig, i,
       |    substr(isig, CAST(i*14 + 1 AS INT), 14) AS ikey
       |  FROM isg, unnest(range(0, 4)) t(i)),
       |cb AS MATERIALIZED (SELECT b.doc_id, b.sig AS tsig, ibands.isig,
       |    b.bucket || ':' || CAST(ibands.i AS VARCHAR) || ':' || ibands.ikey AS cbucket
       |  FROM bk b JOIN ibands ON ibands.doc_id = b.doc_id),
       |p0 AS (SELECT DISTINCT b.doc_id AS bid, c.doc_id AS cid,
       |    b.tsig AS tb2, c.tsig AS tc, b.isig AS ib2, c.isig AS ic
       |  FROM cb b JOIN cb c ON b.cbucket = c.cbucket, offv o
       |  WHERE b.doc_id >= o.off AND c.doc_id < o.off $cMask),
       |pm AS (SELECT bid, cid,
       |    CAST(len(list_filter(range(1, 33), si -> tb2[si] = tc[si])) AS DOUBLE) / 32 AS est_jaccard,
       |    CAST(sum(CASE WHEN substr(ib2, CAST(j AS INT), 1) <> substr(ic, CAST(j AS INT), 1)
       |      THEN 1 ELSE 0 END) AS INT) AS hamming
       |  FROM p0, unnest(range(1, 57)) t(j)
       |  GROUP BY bid, cid, tb2, tc, ib2, ic),
       |hits AS (SELECT bid, CAST(count(DISTINCT cid) AS BIGINT) AS n_dups
       |  FROM pm WHERE est_jaccard >= 0.3 AND hamming <= 4 GROUP BY bid)
       |SELECT p.doc_id, COALESCE(h.n_dups, 0) AS n_dups,
       |  CASE WHEN COALESCE(h.n_dups, 0) > 0 THEN 'dup_corpus' ELSE 'new' END AS status
       |FROM params p LEFT JOIN hits h ON p.doc_id = h.bid, offv o
       |WHERE p.doc_id >= o.off ORDER BY p.doc_id""".stripMargin

  /** The compliance report's media-index UNION blocks, generated from
    * one (surface, member-metric, band-fan-out) table — the oracle
    * pins each persisted index's exact rows-per-member closed-form
    * (image 4, caption composite 8×4, audio 4, video 4). */
  private lazy val mediaIndexReportSql: String = Seq(
    ("media_index", "masked_images", 4),
    ("caption_index", "masked_pairs", 32),
    ("audio_index", "masked_clips", 4),
    ("video_index", "masked_videos", 4)
  ).flatMap { case (surface, memberMetric, fanOut) => Seq(
    s"""UNION ALL SELECT '$surface', '$memberMetric', CAST(count(*) AS BIGINT)
       |  FROM documents WHERE ${hx60("md5('forget:' || CAST(doc_id AS VARCHAR))")} % 50 = 0""".stripMargin,
    s"""UNION ALL SELECT '$surface', 'masked_band_rows', CAST($fanOut * count(*) AS BIGINT)
       |  FROM documents WHERE ${hx60("md5('forget:' || CAST(doc_id AS VARCHAR))")} % 50 = 0""".stripMargin)
  }.mkString("\n")

  /** The day-2 video probe replay ([[mediaIncrementalSql]]'s mask
    * contract): corpus ∪ echo-batch params through the shared
    * pixel / frame-bit / majority chain per side, band join b×c. */
  private def videoIncrementalSql(cMask: String): String =
    s"""WITH params AS (
       |  SELECT doc_id, 'c' AS side, doc_id // 8 AS p FROM documents
       |  UNION ALL
       |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), 'b',
       |    CASE WHEN hb < 85 THEN doc_id // 8
       |      ELSE (doc_id + (SELECT max(doc_id) + 1 FROM documents)) // 8 END
       |  FROM (SELECT doc_id,
       |      (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
       |      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS hb
       |    FROM documents)),
       |px AS MATERIALIZED (SELECT side, doc_id, k, x, y,
       |    1 + CAST((${hx60("md5('vid:' || CAST(p AS VARCHAR) || ':' || CAST(k AS VARCHAR) || ':' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR))")} % 126 +
       |      CASE WHEN k = p % 5 AND x = p % 8 AND y = (p // 8) % 8
       |        THEN ${hx60("md5('vidn:' || CAST(doc_id AS VARCHAR))")} % 126 ELSE 0 END) % 126 AS INT) AS g
       |  FROM params, unnest(range(0, 5)) tk(k),
       |    unnest(range(0, 8)) tx(x), unnest(range(0, 8)) ty(y)),
       |fb AS (SELECT a.side, a.doc_id, a.k, a.y, a.x,
       |    CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
       |  FROM px a JOIN px b ON b.side = a.side AND b.doc_id = a.doc_id
       |    AND b.k = a.k AND b.y = a.y AND b.x = a.x + 1
       |  WHERE a.x < 7),
       |mj AS (SELECT side, doc_id, y, x,
       |    CASE WHEN 2 * sum(bit) > count(*) THEN '1' ELSE '0' END AS mb
       |  FROM fb GROUP BY side, doc_id, y, x),
       |sg AS (SELECT side, doc_id, string_agg(mb, '' ORDER BY y, x) AS sig
       |  FROM mj GROUP BY side, doc_id),
       |bb AS (SELECT side, doc_id, sig, i,
       |    CAST(i AS VARCHAR) || ':' || substr(sig, CAST(i*14 + 1 AS INT), 14) AS k
       |  FROM sg, unnest(range(0, 4)) t(i)),
       |cand AS (SELECT DISTINCT b.doc_id AS bid, c.doc_id AS cid, b.sig AS sb, c.sig AS sc
       |  FROM bb b JOIN bb c ON b.k = c.k AND b.side = 'b' AND c.side = 'c' $cMask),
       |ham AS (SELECT bid, cid,
       |    CAST(sum(CASE WHEN substr(sb, CAST(j AS INT), 1) <> substr(sc, CAST(j AS INT), 1)
       |      THEN 1 ELSE 0 END) AS INT) AS hamming
       |  FROM cand, unnest(range(1, 57)) t(j) GROUP BY bid, cid),
       |hits AS (SELECT bid, CAST(count(DISTINCT cid) AS BIGINT) AS n_dups
       |  FROM ham WHERE hamming <= 2 GROUP BY bid)
       |SELECT p.doc_id, COALESCE(h.n_dups, 0) AS n_dups,
       |  CASE WHEN COALESCE(h.n_dups, 0) > 0 THEN 'dup_corpus' ELSE 'new' END AS status
       |FROM params p LEFT JOIN hits h ON h.bid = p.doc_id
       |WHERE p.side = 'b' ORDER BY p.doc_id""".stripMargin

  /** The day-2 audio probe replay ([[mediaIncrementalSql]]'s mask
    * contract): corpus ∪ echo-batch params, the shared sample / energy
    * / bit chain per side, band join b×c, Hamming ≤ 2. */
  private def audioIncrementalSql(cMask: String): String =
    s"""WITH params AS (
       |  SELECT doc_id, 'c' AS side, doc_id // 8 AS p FROM documents
       |  UNION ALL
       |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), 'b',
       |    CASE WHEN hb < 85 THEN doc_id // 8
       |      ELSE (doc_id + (SELECT max(doc_id) + 1 FROM documents)) // 8 END
       |  FROM (SELECT doc_id,
       |      (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
       |      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS hb
       |    FROM documents)),
       |sd AS (SELECT side, doc_id, p,
       |    CAST(200 + p % 57 AS BIGINT) AS n, p % 56 AS nf FROM params),
       |s AS (SELECT side, doc_id, (k * 57) // n AS f,
       |    ((CASE WHEN (k * 57) // n = nf THEN ${hx60("md5('audn:' || CAST(doc_id AS VARCHAR))")}
       |        ELSE ${hx60("md5('aud:' || CAST(p AS VARCHAR) || ':' || CAST((k * 57) // n AS VARCHAR))")}
       |      END + k * 104729)
       |      % 65536 + 65536) % 65536 - 32768 AS v
       |  FROM sd, unnest(range(0, n)) t(k)),
       |e AS (SELECT side, doc_id, f, CAST(sum(abs(v)) AS BIGINT) AS en,
       |    CAST(count(*) AS BIGINT) AS cnt FROM s GROUP BY side, doc_id, f),
       |bits AS (SELECT a.side, a.doc_id, a.f,
       |    CASE WHEN a.en * b.cnt > b.en * a.cnt THEN '1' ELSE '0' END AS bit
       |  FROM e a JOIN e b ON b.side = a.side AND b.doc_id = a.doc_id
       |    AND b.f = a.f + 1 WHERE a.f < 56),
       |sg AS (SELECT side, doc_id, string_agg(bit, '' ORDER BY f) AS sig
       |  FROM bits GROUP BY side, doc_id),
       |bb AS (SELECT side, doc_id, sig, i,
       |    CAST(i AS VARCHAR) || ':' || substr(sig, CAST(i*14 + 1 AS INT), 14) AS k
       |  FROM sg, unnest(range(0, 4)) t(i)),
       |cand AS (SELECT DISTINCT b.doc_id AS bid, c.doc_id AS cid, b.sig AS sb, c.sig AS sc
       |  FROM bb b JOIN bb c ON b.k = c.k AND b.side = 'b' AND c.side = 'c' $cMask),
       |ham AS (SELECT bid, cid,
       |    CAST(sum(CASE WHEN substr(sb, CAST(j AS INT), 1) <> substr(sc, CAST(j AS INT), 1)
       |      THEN 1 ELSE 0 END) AS INT) AS hamming
       |  FROM cand, unnest(range(1, 57)) t(j) GROUP BY bid, cid),
       |hits AS (SELECT bid, CAST(count(DISTINCT cid) AS BIGINT) AS n_dups
       |  FROM ham WHERE hamming <= 2 GROUP BY bid)
       |SELECT p.doc_id, COALESCE(h.n_dups, 0) AS n_dups,
       |  CASE WHEN COALESCE(h.n_dups, 0) > 0 THEN 'dup_corpus' ELSE 'new' END AS status
       |FROM params p LEFT JOIN hits h ON h.bid = p.doc_id
       |WHERE p.side = 'b' ORDER BY p.doc_id""".stripMargin

  /** The day-2 image-dedup probe replay, parameterized by a corpus-side
    * predicate fragment `cMask` appended to the band join (empty for
    * `media_dedup_incremental`; the %50 tombstone for `media_forget`) —
    * one replay source, so the live gate and its forget twin cannot
    * drift: corpus AND batch pixels stated closed-form (the echo rule
    * on the original doc ids), signatures, band keys, the bucket join,
    * Hamming, the distinct-corpus-dup census. */
  private def mediaIncrementalSql(cMask: String): String =
    s"""WITH params AS (
       |  SELECT doc_id, 'c' AS side, doc_id // 8 AS p, doc_id % 8 AS nx,
       |    (doc_id // 8) % 8 AS ny
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), 'b',
       |    CASE WHEN hb < 85 THEN doc_id // 8
       |      ELSE (doc_id + (SELECT max(doc_id) + 1 FROM documents)) // 8 END,
       |    CASE WHEN hb < 85 THEN doc_id % 8
       |      ELSE (doc_id + (SELECT max(doc_id) + 1 FROM documents)) % 8 END,
       |    CASE WHEN hb < 85 THEN (doc_id // 8) % 8
       |      ELSE ((doc_id + (SELECT max(doc_id) + 1 FROM documents)) // 8) % 8 END
       |  FROM (SELECT doc_id,
       |      (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
       |      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS hb
       |    FROM documents)),
       |px AS (SELECT side, doc_id, x, y,
       |    1 + CAST((${hx60("md5('img:' || CAST(p AS VARCHAR) || ':' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR))")} % 126 +
       |      CASE WHEN x = nx AND y = ny THEN 63 ELSE 0 END) % 126 AS INT) AS g
       |  FROM params, unnest(range(0, 8)) tx(x), unnest(range(0, 8)) ty(y)),
       |bits AS (SELECT a.side, a.doc_id, a.y, a.x,
       |    CASE WHEN b.g > a.g THEN '1' ELSE '0' END AS bit
       |  FROM px a JOIN px b ON b.side = a.side AND b.doc_id = a.doc_id
       |    AND b.y = a.y AND b.x = a.x + 1
       |  WHERE a.x < 7),
       |sg AS (SELECT side, doc_id, string_agg(bit, '' ORDER BY y, x) AS sig
       |  FROM bits GROUP BY side, doc_id),
       |bb AS (SELECT side, doc_id, sig, i,
       |    CAST(i AS VARCHAR) || ':' || substr(sig, CAST(i*14 + 1 AS INT), 14) AS k
       |  FROM sg, unnest(range(0, 4)) t(i)),
       |cand AS (SELECT DISTINCT b.doc_id AS bid, c.doc_id AS cid, b.sig AS sb, c.sig AS sc
       |  FROM bb b JOIN bb c ON b.k = c.k AND b.side = 'b' AND c.side = 'c' $cMask),
       |ham AS (SELECT bid, cid,
       |    CAST(sum(CASE WHEN substr(sb, CAST(j AS INT), 1) <> substr(sc, CAST(j AS INT), 1)
       |      THEN 1 ELSE 0 END) AS INT) AS hamming
       |  FROM cand, unnest(range(1, 57)) t(j) GROUP BY bid, cid),
       |hits AS (SELECT bid, CAST(count(DISTINCT cid) AS BIGINT) AS n_dups
       |  FROM ham WHERE hamming <= 4 GROUP BY bid)
       |SELECT p.doc_id, COALESCE(h.n_dups, 0) AS n_dups,
       |  CASE WHEN COALESCE(h.n_dups, 0) > 0 THEN 'dup_corpus' ELSE 'new' END AS status
       |FROM params p LEFT JOIN hits h ON p.doc_id = h.bid
       |WHERE p.side = 'b' ORDER BY p.doc_id""".stripMargin

  /** Shared DuckDB replay of the marker-count language-ID heuristic —
    * CTE block ending in `sc(doc_id, s_en..s_zh)`, used by `lang_id`
    * and `lang_id_confusion` so the two can never drift. */
  private val langIdCtes: String =
    """s AS (SELECT doc_id, ' ' || lower(text) || ' ' AS t FROM documents),
      |sc AS (SELECT doc_id,
      |  CAST((length(t)-length(replace(t,' the ','')))/5 AS INT)
      |    + CAST((length(t)-length(replace(t,' and ','')))/5 AS INT)
      |    + CAST((length(t)-length(replace(t,' of ','')))/4 AS INT) AS s_en,
      |  CAST((length(t)-length(replace(t,' el ','')))/4 AS INT)
      |    + CAST((length(t)-length(replace(t,' la ','')))/4 AS INT)
      |    + CAST((length(t)-length(replace(t,' de ','')))/4 AS INT) AS s_es,
      |  CAST((length(t)-length(replace(t,' der ','')))/5 AS INT)
      |    + CAST((length(t)-length(replace(t,' und ','')))/5 AS INT)
      |    + CAST((length(t)-length(replace(t,' die ','')))/5 AS INT) AS s_de,
      |  CAST((length(t)-length(replace(t,' le ','')))/4 AS INT)
      |    + CAST((length(t)-length(replace(t,' et ','')))/4 AS INT)
      |    + CAST((length(t)-length(replace(t,' les ','')))/5 AS INT) AS s_fr,
      |  CAST((length(t)-length(replace(t,'的','')))/1 AS INT)
      |    + CAST((length(t)-length(replace(t,'是','')))/1 AS INT)
      |    + CAST((length(t)-length(replace(t,'了','')))/1 AS INT) AS s_zh
      |FROM s)""".stripMargin

  /** The argmax CASE over `sc` — `und` on all-zero scores, first-listed
    * language wins ties (the Spark side's array_position semantics).
    * Single-line so it splices into any SELECT position. */
  private val langIdGuessCase: String =
    "CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) <= 0 THEN 'und' " +
      "WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en' " +
      "WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es' " +
      "WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de' " +
      "WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr' " +
      "ELSE 'zh' END"

  /** Per-source content rollup over the parquet originals — the shared
    * oracle of every export round-trip gate (`export_jsonl_roundtrip`,
    * `export_csv_roundtrip`): equality with a Spark side that read only
    * the re-imported files proves the format round-trips content
    * byte-for-byte. */
  private[queries] val sqlExportRollup: String =
    s"""WITH a AS (SELECT source, n_chars,
       |    ${hx60("md5(CAST(doc_id AS VARCHAR) || chr(1) || text || chr(1) || lang)")} AS h60
       |  FROM documents)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |  bit_xor(h60) AS content_xor
       |FROM a GROUP BY source ORDER BY source""".stripMargin

  /** Island-merge CTEs over `hits` (running-max-of-end span detection)
    * — shared by `dedup_substring_spans` and `dedup_substring_budget`
    * so the removal unit and its byte budget can never drift. Expects
    * `hits(doc_id, pos, ...)` in scope from [[substringWindowCtes]];
    * ends with `sp(doc_id, pos, e, span_id)`. */
  private val substringIslandCtes: String =
    """hw AS (SELECT doc_id, pos, pos + 8 AS e FROM hits),
      |m AS (SELECT doc_id, pos, e,
      |    max(e) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max FROM hw),
      |f AS (SELECT doc_id, pos, e,
      |    CASE WHEN prev_max IS NULL OR pos > prev_max THEN 1 ELSE 0 END AS ns FROM m),
      |sp AS (SELECT doc_id, pos, e,
      |    sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS UNBOUNDED PRECEDING) AS span_id FROM f)""".stripMargin

  /** Shared DuckDB replay of the TRAINED integer-L2 vector quantizer
    * ([[Similarity.kmeansAssign]] / [[Similarity.ivfTopKTrained]]:
    * md5 16-sample → maximin seeding (argmax of the running min
    * distance, ties to the lowest sample index) → 2 Lloyd rounds
    * (nearest centroid ties to lowest id; TRUNCATING-division updates,
    * DuckDB `//` == Java `/`; empty clusters carry via LEFT JOIN
    * coalesce). Ends with the trained codebook `k2(c, i, q)` and `af`,
    * the full-corpus exact-BIGINT distance table to every trained
    * centroid — consumers rank `af` for assignment/routing. */
  private val kmeansTrainCtes: String = kmeansTrainCtesFrom("embeddings")

  /** [[kmeansTrainCtes]] over an arbitrary `(vec_id, embedding)` source
    * CTE/table — the skew-fixture gate trains on a REWRITTEN corpus, so
    * the replay block must be source-parametric; the default-source
    * alias above keeps every existing oracle byte-identical. */
  private def kmeansTrainCtesFrom(src: String): String =
    s"""q AS (SELECT vec_id, i,
      |    CAST(floor(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * 1000) AS BIGINT) AS q
      |  FROM $src, unnest(range(0, len(embedding))) t(i)),
      |samp AS (SELECT vec_id, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS r
      |  FROM $src ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      |sq AS (SELECT samp.r, q.i, q.q FROM samp JOIN q ON samp.vec_id = q.vec_id),
      |c0 AS (SELECT i, q FROM sq WHERE r = 0),
      |d0 AS (SELECT sq.r, CAST(sum((sq.q - c0.q) * (sq.q - c0.q)) AS BIGINT) AS d
      |  FROM sq JOIN c0 ON sq.i = c0.i GROUP BY sq.r),
      |p1 AS (SELECT r FROM d0 ORDER BY d DESC, r LIMIT 1),
      |c1 AS (SELECT i, q FROM sq WHERE r = (SELECT r FROM p1)),
      |d1 AS (SELECT sq.r, CAST(sum((sq.q - c1.q) * (sq.q - c1.q)) AS BIGINT) AS d
      |  FROM sq JOIN c1 ON sq.i = c1.i GROUP BY sq.r),
      |m1 AS (SELECT d0.r, least(d0.d, d1.d) AS d FROM d0 JOIN d1 ON d0.r = d1.r),
      |p2 AS (SELECT r FROM m1 ORDER BY d DESC, r LIMIT 1),
      |c2 AS (SELECT i, q FROM sq WHERE r = (SELECT r FROM p2)),
      |d2_ AS (SELECT sq.r, CAST(sum((sq.q - c2.q) * (sq.q - c2.q)) AS BIGINT) AS d
      |  FROM sq JOIN c2 ON sq.i = c2.i GROUP BY sq.r),
      |m2 AS (SELECT m1.r, least(m1.d, d2_.d) AS d FROM m1 JOIN d2_ ON m1.r = d2_.r),
      |p3 AS (SELECT r FROM m2 ORDER BY d DESC, r LIMIT 1),
      |c3 AS (SELECT i, q FROM sq WHERE r = (SELECT r FROM p3)),
      |k0 AS (SELECT 0 AS c, i, q FROM c0 UNION ALL SELECT 1, i, q FROM c1
      |  UNION ALL SELECT 2, i, q FROM c2 UNION ALL SELECT 3, i, q FROM c3),
      |a1 AS (SELECT sq.r, k0.c, CAST(sum((sq.q - k0.q) * (sq.q - k0.q)) AS BIGINT) AS d
      |  FROM sq JOIN k0 ON sq.i = k0.i GROUP BY sq.r, k0.c),
      |b1 AS (SELECT r, c FROM (SELECT r, c,
      |    row_number() OVER (PARTITION BY r ORDER BY d, c) AS rk FROM a1) WHERE rk = 1),
      |u1 AS (SELECT b1.c, sq.i, CAST(sum(sq.q) AS BIGINT) // count(*) AS q
      |  FROM sq JOIN b1 ON sq.r = b1.r GROUP BY b1.c, sq.i),
      |k1 AS (SELECT k0.c, k0.i, coalesce(u1.q, k0.q) AS q
      |  FROM k0 LEFT JOIN u1 ON u1.c = k0.c AND u1.i = k0.i),
      |a2 AS (SELECT sq.r, k1.c, CAST(sum((sq.q - k1.q) * (sq.q - k1.q)) AS BIGINT) AS d
      |  FROM sq JOIN k1 ON sq.i = k1.i GROUP BY sq.r, k1.c),
      |b2 AS (SELECT r, c FROM (SELECT r, c,
      |    row_number() OVER (PARTITION BY r ORDER BY d, c) AS rk FROM a2) WHERE rk = 1),
      |u2 AS (SELECT b2.c, sq.i, CAST(sum(sq.q) AS BIGINT) // count(*) AS q
      |  FROM sq JOIN b2 ON sq.r = b2.r GROUP BY b2.c, sq.i),
      |k2 AS (SELECT k1.c, k1.i, coalesce(u2.q, k1.q) AS q
      |  FROM k1 LEFT JOIN u2 ON u2.c = k1.c AND u2.i = k1.i),
      |af AS (SELECT q.vec_id, k2.c, CAST(sum((q.q - k2.q) * (q.q - k2.q)) AS BIGINT) AS d
      |  FROM q JOIN k2 ON q.i = k2.i GROUP BY q.vec_id, k2.c)""".stripMargin

  /** Shared DuckDB CTE chain replaying the QUANTIZED hyperplane LSH:
    * floor(x*1000) integer quantization, ±1 signs from md5 parity,
    * integer projections → 16-bit signature string → 4 bands of 4 bits
    * (mirrors [[Similarity.hyperplaneSignature]] with nPlanes=16,
    * bands=4). Projections are pure integer arithmetic —
    * exact and order-independent in both engines. */
  private val hyperplaneCtes: String =
    """qv AS (SELECT vec_id, i, CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1000) AS BIGINT) AS q
      |  FROM embeddings, unnest(range(0, len(embedding))) t(i)),
      |planes AS (SELECT p, d,
      |    CASE WHEN strpos('89abcdef', substr(md5(p::VARCHAR || ',' || d::VARCHAR), 1, 1)) > 0 THEN 1 ELSE -1 END AS s
      |  FROM range(0, 16) t1(p), (SELECT DISTINCT i AS d FROM qv) t2),
      |bits AS (SELECT vec_id, p, CASE WHEN sum(pl.s * q.q) >= 0 THEN '1' ELSE '0' END AS bit
      |  FROM qv q JOIN planes pl ON q.i = pl.d GROUP BY vec_id, p),
      |sg AS (SELECT vec_id, string_agg(bit, '' ORDER BY p) AS sig FROM bits GROUP BY vec_id),
      |bands AS (SELECT vec_id, b::VARCHAR || ':' || substr(sig, b*4 + 1, 4) AS band
      |  FROM sg, unnest(range(0, 4)) t(b))""".stripMargin

  /** Connected components over `cand` pairs as recursive SQL — shared
    * by the groups replay and the representative-selection replay so
    * the two oracles can never diverge. Expects `cand(id_a, id_b)` in
    * scope (from [[minhashCtes]]) and a RECURSIVE WITH. */
  private val componentCtes: String =
    """e AS (SELECT id_a AS a, id_b AS b FROM cand UNION ALL SELECT id_b, id_a FROM cand),
      |reach AS (
      |  SELECT a AS id, b AS r FROM e
      |  UNION
      |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
      |compm AS (SELECT id, min(r) AS comp
      |  FROM (SELECT id, r FROM reach UNION ALL SELECT a, a FROM e) GROUP BY id)""".stripMargin

  /** Shared by `unigram_logfreq_score` and its hybrid-join twin. */
  private val sqlUnigramLogFreq: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(
      |    trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')),
      |    ' ')) AS token
      |  FROM documents),
      |t2 AS (SELECT * FROM t WHERE length(token) > 0),
      |c AS (SELECT token, count(*) AS c FROM t2 GROUP BY token)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(sum(length(bin(c.c)) - 1) AS BIGINT) AS sum_log2,
      |  round(CAST(sum(length(bin(c.c)) - 1) AS DOUBLE) / count(*), 6) AS mean_log2
      |FROM t2 JOIN c USING (token)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The quantized-BM25 scoring chain up to the per-(query, doc) score
    * table `sc` — ONE source of truth shared by `bm25_topk` and
    * `hybrid_rerank` (the Spark twin is [[Retrieval.bm25TopK]]):
    * bit-length idf, milli-unit k1=1.2/b=0.75 length norm, micro-point
    * scores, truncating integer division at every step. */
  private val sqlBm25Ctes: String = sqlBm25CtesWith(1000000L)

  /** [[sqlBm25Ctes]] with the df CEILING parameterized (ppm of n_docs;
    * 1 000 000 keeps every term — the exact rule of
    * [[Retrieval.bm25FromIndex]]'s `maxDfPpm`): the default alias above
    * keeps the ceiling-free gates on one shared block while
    * `bm25_topk_maxdf` replays the cut.
    *
    * The block opens with the [[bm25Docs]] marker enrichment (`bmdocs`)
    * — see that scaladoc for why the raw fixture scores all-zero. */
  private def sqlBm25CtesWith(maxDfPpm: Long, candWhere: String = ""): String =
    s"""bmdocs AS (SELECT doc_id, text || ' tag' || CAST(doc_id % 97 AS VARCHAR) ||
      |    CASE WHEN doc_id % 2 = 0 THEN ' even_mark' ELSE ' odd_mark' END AS text
      |  FROM documents),
      |toks AS (SELECT doc_id, unnest(regexp_split_to_array(
      |    trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')),
      |    ' ')) AS token FROM bmdocs),
      |t2 AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM t2 GROUP BY doc_id, token),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
      |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total FROM dl),
      |idf AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      |qt AS (SELECT DISTINCT doc_id AS query_id, token FROM t2 WHERE doc_id < 5),
      |c AS (SELECT qt.query_id, tf.doc_id, tf.tf, dl.dl,
      |    length(bin(st.n_docs // idf.df)) - 1 AS idf2,
      |    (st.total * 1000) // st.n_docs AS avgdl_milli
      |  FROM tf JOIN qt USING (token) JOIN idf USING (token)
      |  JOIN dl ON tf.doc_id = dl.doc_id, st
      |  WHERE qt.query_id <> tf.doc_id
      |    AND idf.df * 1000000 <= $maxDfPpm * st.n_docs$candWhere),
      |s1 AS (SELECT query_id, doc_id, idf2, tf,
      |    tf * 1000 + (1200 * ((1000 - 750)
      |      + (750 * ((dl * 1000000) // avgdl_milli)) // 1000)) // 1000 AS denom_milli
      |  FROM c),
      |sc AS (SELECT query_id, doc_id,
      |    CAST(sum((idf2 * tf * 2200 * 1000) // denom_milli) AS BIGINT) AS score_micro
      |  FROM s1 GROUP BY query_id, doc_id)""".stripMargin

  /** The in-memory and persisted-index BM25 gates share this ONE SQL —
    * a layout variant cannot drift from its reference result. */
  private val sqlBm25TopK: String =
    s"""WITH $sqlBm25Ctes
      |SELECT query_id, doc_id, score_micro FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY score_micro DESC, doc_id) AS rk FROM sc)
      |WHERE rk <= 10 ORDER BY query_id, doc_id""".stripMargin

  /** The quality formula as DuckDB SQL — ONE source of truth shared by
    * `quality_score` and `dedup_keep_best` (the Spark twin is
    * [[TextAnalysis.qualityScore]]). */
  private[queries] val sqlQualityExpr: String =
    """round(
      |    least(CAST(len(regexp_split_to_array(text, ' +')) AS DOUBLE) / 50.0, 1.0) * 0.4
      |  + (CASE WHEN CAST(length(text) AS DOUBLE) / len(regexp_split_to_array(text, ' +'))
      |          BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.3
      |  + greatest(0.0, 1.0 - (CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
      |                         / length(text)) * 10.0) * 0.3, 6)""".stripMargin

  /** Shared by `ann_ivf` (in-plan index) and `ann_ivf_persisted`
    * (bucketed index): layout never changes results, so one oracle
    * serves both and the two can never drift. */
  /** The IVF probe replay with an optional corpus predicate — `""` is
    * the plain index; `ann_ivf_forget` passes the delete-list mask
    * (centroids stay UNFILTERED: the quantizer froze at build time,
    * deletes never retrain it). */
  private[queries] def sqlAnnIvfWhere(corpusWhere: String): String =
    s"""WITH cents AS (
        |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |corpus_assign AS (
        |  SELECT corpus_id, cell FROM (
        |    SELECT e.vec_id AS corpus_id, c.cid AS cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC, c.cid) AS rk
        |    FROM embeddings e, cents c $corpusWhere) WHERE rk <= 1),
        |query_assign AS (
        |  SELECT query_id, cell FROM (
        |    SELECT e.vec_id AS query_id, c.cid AS cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC, c.cid) AS rk
        |    FROM embeddings e, cents c WHERE e.vec_id < 10) WHERE rk <= 4),
        |cands AS (
        |  SELECT DISTINCT q.query_id, ca.corpus_id
        |  FROM query_assign q JOIN corpus_assign ca ON q.cell = ca.cell
        |  WHERE ca.corpus_id <> q.query_id),
        |scored AS (
        |  SELECT cd.query_id, cd.corpus_id,
        |    row_number() OVER (PARTITION BY cd.query_id
        |      ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC, cd.corpus_id) AS rank
        |  FROM cands cd
        |  JOIN embeddings qe ON qe.vec_id = cd.query_id
        |  JOIN embeddings ce ON ce.vec_id = cd.corpus_id)
        |SELECT query_id, corpus_id, rank FROM scored WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin

  private[queries] val sqlAnnIvf: String = sqlAnnIvfWhere("")

  /** Shared by `encoding_hygiene` (batch) and `stream_encoding_hygiene`
    * (ingest-time, complete mode): the aggregation is batch-invariant,
    * so one oracle serves both. */
  private[queries] val sqlEncodingHygiene: String =
    """WITH bkt AS (SELECT *,
        |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS hb
        |  FROM documents),
        |c AS (SELECT source, CASE WHEN hb < 64 THEN text ||
        |    CASE hb % 4 WHEN 0 THEN chr(7) || 'bell' || chr(31)
        |                WHEN 1 THEN chr(8203) || 'zw' || chr(65279)
        |                WHEN 2 THEN chr(65533)
        |                ELSE chr(8) || chr(8204) || chr(65533) END
        |  ELSE text END AS t FROM bkt),
        |s AS (SELECT source,
        |    len(regexp_extract_all(t, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]')) AS ctl,
        |    len(regexp_extract_all(t, '[\x{200B}-\x{200D}\x{FEFF}]')) AS zw,
        |    len(regexp_extract_all(t, '\x{FFFD}')) AS rep,
        |    length(t) - length(regexp_replace(regexp_replace(t,
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |      '[\x{200B}-\x{200D}\x{FEFF}]', '', 'g')) AS removed,
        |    len(regexp_extract_all(regexp_replace(regexp_replace(t,
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |      '[\x{200B}-\x{200D}\x{FEFF}]', '', 'g'),
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{200B}-\x{200D}\x{FEFF}]')) AS resid
        |  FROM c)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN ctl + zw + rep > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_flagged,
        |  CAST(sum(ctl) AS BIGINT) AS n_control,
        |  CAST(sum(zw) AS BIGINT) AS n_zerowidth,
        |  CAST(sum(rep) AS BIGINT) AS n_replacement,
        |  CAST(sum(removed) AS BIGINT) AS chars_removed,
        |  CAST(sum(resid) AS BIGINT) AS residual_bad
        |FROM s GROUP BY source ORDER BY source""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_minhash" ->
      s"""WITH $minhashCtes
         |SELECT id_a, id_b, est_jaccard FROM cand ORDER BY id_a, id_b""".stripMargin,
    "ngram_jaccard_pairs" ->
      s"""WITH $minhashCtes,
         |sets AS (SELECT doc_id, list(h) AS hs FROM sh GROUP BY doc_id)
         |SELECT c.id_a, c.id_b,
         |  CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) / len(list_distinct(sa.hs || sb.hs)) AS jaccard
         |FROM cand c JOIN sets sa ON sa.doc_id = c.id_a JOIN sets sb ON sb.doc_id = c.id_b
         |ORDER BY id_a, id_b""".stripMargin,
    // integer cross-multiplication keeps the error bucket exact: no
    // float subtraction reaches the hash gate
    "minhash_est_error" ->
      s"""WITH $minhashCtes,
         |sets AS (SELECT doc_id, list(h) AS hs FROM sh GROUP BY doc_id),
         |e AS (SELECT CAST(c.est_jaccard * 32 AS BIGINT) AS m,
         |    CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS i,
         |    CAST(len(list_distinct(sa.hs || sb.hs)) AS BIGINT) AS u
         |  FROM cand c JOIN sets sa ON sa.doc_id = c.id_a JOIN sets sb ON sb.doc_id = c.id_b)
         |SELECT CAST(abs(m * u - 32 * i) // u AS BIGINT) AS err_bucket,
         |  count(*) AS n_pairs,
         |  CAST(sum(CASE WHEN m * u > 32 * i THEN 1 ELSE 0 END) AS BIGINT) AS n_over
         |FROM e GROUP BY 1 ORDER BY err_bucket""".stripMargin,
    "dedup_groups_minhash" ->
      s"""WITH RECURSIVE $minhashCtes,
         |$componentCtes
         |SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS component
         |FROM documents d LEFT JOIN compm c ON c.id = d.doc_id ORDER BY doc_id""".stripMargin,
    // representative selection composes the groups replay with the
    // quality formula and a per-component argmax
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $minhashCtes,
         |$componentCtes,
         |grp AS (SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS component
         |  FROM documents d LEFT JOIN compm c ON c.id = d.doc_id),
         |q AS (SELECT doc_id, $sqlQualityExpr AS quality FROM documents),
         |r AS (SELECT grp.component, grp.doc_id, q.quality,
         |    row_number() OVER (PARTITION BY component ORDER BY quality DESC, grp.doc_id) AS rk
         |  FROM grp JOIN q ON grp.doc_id = q.doc_id)
         |SELECT component, doc_id AS keep_id, quality FROM r WHERE rk = 1
         |ORDER BY component""".stripMargin,
    // the centrality twin: the SAME pair + component blocks, then the
    // whole eight-round integer PageRank trajectory unrolled — each
    // round one CTE, so the oracle replays the iteration itself, not a
    // converged approximation of it
    "dedup_keep_central" -> {
      val rounds = (1 to 8).map(i =>
        s"r$i AS (SELECT e.b AS id, " +
          "CAST(150000 + (850000 * sum(r.r // d.deg)) // 1000000 AS BIGINT) AS r\n" +
          s"  FROM e JOIN r${i - 1} r ON r.id = e.a JOIN deg d ON d.src = e.a " +
          "GROUP BY e.b)").mkString(",\n")
      s"""WITH RECURSIVE $minhashCtes,
         |$componentCtes,
         |deg AS (SELECT a AS src, count(*) AS deg FROM e GROUP BY a),
         |r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS r FROM deg),
         |$rounds,
         |m AS (SELECT c.comp AS component, r8.id, r8.r AS rank_ppm
         |  FROM r8 JOIN compm c ON c.id = r8.id)
         |SELECT component, id AS keep_id, rank_ppm FROM (
         |  SELECT *, row_number() OVER (PARTITION BY component
         |    ORDER BY rank_ppm DESC, id) AS rk FROM m)
         |WHERE rk = 1 ORDER BY component""".stripMargin
    },
    // the capstone: quality gate -> exact dedup -> near-dup keep-best,
    // replayed stage by stage over the SAME shared CTE blocks (quality
    // formula, echo-base rule, minhash block over the survivor set,
    // component CTEs) so the composition is hash-verified end to end
    "pipeline_disposition" ->
      s"""WITH RECURSIVE bkt AS (SELECT doc_id,
         |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
         |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS hb
         |  FROM documents),
         |d0 AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT d.doc_id + $sqlEchoBase AS doc_id, text
         |  FROM documents d JOIN bkt USING (doc_id) WHERE bkt.hb < 8),
         |qual AS (SELECT doc_id, text, $sqlQualityExpr AS quality FROM d0),
         |s1 AS (SELECT * FROM qual WHERE quality >= 0.8),
         |ex AS (SELECT doc_id, text, quality,
         |    min(doc_id) OVER (PARTITION BY md5(lower(text))) AS first_id FROM s1),
         |s2 AS (SELECT doc_id, text, quality FROM ex WHERE doc_id = first_id),
         |${minhashCtesOver("s2")},
         |$componentCtes,
         |grp AS (SELECT s2.doc_id, coalesce(c.comp, s2.doc_id) AS component, s2.quality
         |  FROM s2 LEFT JOIN compm c ON c.id = s2.doc_id),
         |r AS (SELECT doc_id, row_number() OVER (PARTITION BY component
         |    ORDER BY quality DESC, doc_id) AS rk FROM grp),
         |k AS (SELECT doc_id FROM r WHERE rk = 1)
         |SELECT q.doc_id,
         |  CASE WHEN q.quality < 0.8 THEN 'drop_quality'
         |       WHEN e2.doc_id <> e2.first_id THEN 'drop_exact'
         |       WHEN k.doc_id IS NOT NULL THEN 'kept'
         |       ELSE 'drop_neardup' END AS status,
         |  q.quality
         |FROM qual q
         |LEFT JOIN ex e2 USING (doc_id)
         |LEFT JOIN k ON k.doc_id = q.doc_id
         |ORDER BY doc_id""".stripMargin,
    // the drop-observability frame: the SAME staged pipeline replay as
    // pipeline_disposition, aggregated to per-stage drop counts, plus
    // the bucket-cap stage read off the survivor-set bucket sizes
    "pipeline_drop_report" ->
      s"""WITH RECURSIVE bkt AS (SELECT doc_id,
         |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
         |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS hb
         |  FROM documents),
         |dr0 AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT d.doc_id + $sqlEchoBase AS doc_id, text
         |  FROM documents d JOIN bkt USING (doc_id) WHERE bkt.hb < 8),
         |qual AS (SELECT doc_id, text, $sqlQualityExpr AS quality FROM dr0),
         |s1 AS (SELECT * FROM qual WHERE quality >= 0.8),
         |ex AS (SELECT doc_id, text, quality,
         |    min(doc_id) OVER (PARTITION BY md5(lower(text))) AS first_id FROM s1),
         |s2 AS (SELECT doc_id, text, quality FROM ex WHERE doc_id = first_id),
         |${minhashCtesOver("s2")},
         |$componentCtes,
         |grp AS (SELECT s2.doc_id, coalesce(c.comp, s2.doc_id) AS component, s2.quality
         |  FROM s2 LEFT JOIN compm c ON c.id = s2.doc_id),
         |r AS (SELECT doc_id, row_number() OVER (PARTITION BY component
         |    ORDER BY quality DESC, doc_id) AS rk FROM grp),
         |k AS (SELECT doc_id FROM r WHERE rk = 1),
         |bsz AS (SELECT bucket, count(*) AS n FROM bk GROUP BY bucket),
         |$kmeansTrainCtes,
         |sdasg AS (SELECT vec_id, c AS centroid FROM (
         |    SELECT vec_id, c, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rk
         |    FROM af) WHERE rk = 1),
         |sdsz AS (SELECT centroid, count(*) AS c_n FROM sdasg GROUP BY centroid)
         |SELECT 'a_quality' AS stage, CAST(0 AS BIGINT) AS dropped_buckets,
         |  CAST((SELECT count(*) FROM qual WHERE quality < 0.8) AS BIGINT) AS dropped_rows
         |UNION ALL
         |SELECT 'b_exact', CAST(0 AS BIGINT),
         |  CAST((SELECT count(*) FROM ex WHERE doc_id <> first_id) AS BIGINT)
         |UNION ALL
         |SELECT 'c_lsh_bucket_cap',
         |  CAST((SELECT count(*) FROM bsz WHERE n > $MaxBucket) AS BIGINT),
         |  CAST((SELECT coalesce(sum(n), 0) FROM bsz WHERE n > $MaxBucket) AS BIGINT)
         |UNION ALL
         |SELECT 'd_neardup', CAST(0 AS BIGINT),
         |  CAST((SELECT count(*) FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM k)) AS BIGINT)
         |UNION ALL
         |SELECT 'e_semdedup_cluster_cap',
         |  CAST((SELECT count(*) FROM sdsz WHERE c_n > 1024) AS BIGINT),
         |  CAST((SELECT coalesce(sum(c_n), 0) FROM sdsz WHERE c_n > 1024) AS BIGINT)
         |ORDER BY stage""".stripMargin,
    // pair counts per unordered source pair — the cand CTE is the
    // shared banded-pair replay, sources joined on both ids
    "cross_source_leakage" ->
      s"""WITH $minhashCtes
         |SELECT least(da.source, db.source) AS source_a,
         |  greatest(da.source, db.source) AS source_b,
         |  count(*) AS n_pairs
         |FROM cand
         |JOIN documents da ON cand.id_a = da.doc_id
         |JOIN documents db ON cand.id_b = db.doc_id
         |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,
    // exact top-V instance coverage: rank over the vocabulary with the
    // (count DESC, token ASC) total order, integer covered sums, one
    // division per row
    "vocab_coverage" ->
      """WITH t AS (
        |  SELECT unnest(regexp_split_to_array(
        |    trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')),
        |    ' ')) AS token
        |  FROM documents),
        |t2 AS (SELECT token FROM t WHERE length(token) > 0),
        |c AS (SELECT token, count(*) AS c FROM t2 GROUP BY token),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, token) AS rk FROM c),
        |tot AS (SELECT count(*) AS total_tokens FROM t2)
        |SELECT vs.v, CAST(sum(r.c) AS BIGINT) AS covered_tokens,
        |  tot.total_tokens,
        |  round(CAST(sum(r.c) AS DOUBLE) / tot.total_tokens, 6) AS share
        |FROM (VALUES (10), (20), (10000)) AS vs(v)
        |JOIN r ON r.rk <= vs.v CROSS JOIN tot
        |GROUP BY vs.v, tot.total_tokens ORDER BY vs.v""".stripMargin,
    "lsh_bucket_histogram" ->
      s"""WITH $minhashCtes
         |SELECT n AS bucket_size, count(*) AS n_buckets
         |FROM (SELECT bucket, count(*) AS n FROM bk GROUP BY bucket)
         |GROUP BY n ORDER BY bucket_size""".stripMargin,
    "dedup_simhash" ->
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(lower(text), ' +') AS ws FROM documents),
        |wd AS (SELECT doc_id, md5(wrd) AS h FROM w, unnest(ws) t(wrd)),
        |bt AS (SELECT doc_id, b,
        |    sum((((strpos('0123456789abcdef', substr(h, b // 4 + 1, 1)) - 1) >> (b % 4)) & 1)) AS cnt,
        |    count(*) AS n
        |  FROM wd, unnest(range(0, 64)) t(b) GROUP BY doc_id, b),
        |sg AS (SELECT doc_id, string_agg(CASE WHEN cnt * 2 > n THEN '1' ELSE '0' END, '' ORDER BY b) AS sig
        |  FROM bt GROUP BY doc_id),
        |bands AS (SELECT doc_id, sig, b::VARCHAR || ':' || substr(sig, b*16 + 1, 16) AS bucket
        |  FROM sg, unnest(range(0, 4)) t(b)),
        |okb AS (SELECT bucket FROM (SELECT bucket, count(*) AS n FROM bands GROUP BY bucket) WHERE n BETWEEN 2 AND $MaxBucket),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_filter(range(1, 65), i -> substr(a.sig, i, 1) <> substr(b.sig, i, 1))) AS hamming
        |  FROM bands a JOIN bands b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        |  JOIN okb ON a.bucket = okb.bucket)
        |SELECT id_a, id_b, CAST(min(hamming) AS INT) AS hamming FROM pairs
        |WHERE hamming <= 6 GROUP BY id_a, id_b ORDER BY id_a, id_b""".stripMargin,
    "ann_lsh" ->
      s"""WITH $hyperplaneCtes,
         |cands AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS corpus_id
         |  FROM bands cb JOIN bands qb ON cb.band = qb.band AND qb.vec_id < 10 AND cb.vec_id <> qb.vec_id),
         |scored AS (SELECT query_id, corpus_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC, corpus_id) AS rank
         |  FROM cands JOIN embeddings qe ON qe.vec_id = query_id JOIN embeddings ce ON ce.vec_id = corpus_id)
         |SELECT query_id, corpus_id, rank FROM scored WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "ann_recall_audit" ->
      s"""WITH $hyperplaneCtes,
         |cands AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS corpus_id
         |  FROM bands cb JOIN bands qb ON cb.band = qb.band AND qb.vec_id < 10 AND cb.vec_id <> qb.vec_id),
         |lsh AS (SELECT query_id, corpus_id FROM (
         |    SELECT query_id, corpus_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC, corpus_id) AS rank
         |    FROM cands JOIN embeddings qe ON qe.vec_id = query_id JOIN embeddings ce ON ce.vec_id = corpus_id)
         |  WHERE rank <= 5),
         |brute AS (SELECT query_id, corpus_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
         |    FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id != q.vec_id)
         |  WHERE rank <= 5)
         |SELECT b.query_id, count(*) AS k, count(l.corpus_id) AS n_hits,
         |  CAST(count(l.corpus_id) * 100 // count(*) AS BIGINT) AS recall_pct
         |FROM brute b LEFT JOIN lsh l ON b.query_id = l.query_id AND b.corpus_id = l.corpus_id
         |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin,
    "embedding_bucket_histogram" ->
      s"""WITH $hyperplaneCtes
         |SELECT n AS bucket_size, count(*) AS n_buckets
         |FROM (SELECT band, count(*) AS n FROM bands GROUP BY band)
         |GROUP BY n ORDER BY bucket_size""".stripMargin,
    "dedup_embedding" ->
      s"""WITH $hyperplaneCtes,
         |okb AS (SELECT band FROM (SELECT band, count(*) AS n FROM bands GROUP BY band)
         |  WHERE n BETWEEN 2 AND $MaxBucket),
         |pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.vec_id < b.vec_id
         |  JOIN okb ON a.band = okb.band),
         |pv AS (SELECT p.id_a, p.id_b, ea.embedding AS va, eb.embedding AS vb
         |  FROM pairs p JOIN embeddings ea ON ea.vec_id = p.id_a JOIN embeddings eb ON eb.vec_id = p.id_b),
         |terms AS (SELECT id_a, id_b,
         |    CAST(va[i+1] AS DOUBLE) AS xa, CAST(vb[i+1] AS DOUBLE) AS xb
         |  FROM pv, unnest(range(0, len(va))) t(i)),
         |dots AS (SELECT id_a, id_b, sum(xa*xb) AS dot, sum(xa*xa) AS na, sum(xb*xb) AS nb
         |  FROM terms GROUP BY id_a, id_b)
         |SELECT id_a, id_b FROM dots WHERE dot / (sqrt(na) * sqrt(nb)) >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,
    // SemDeDup end-to-end: the shared kmeans training replay, the
    // within-cluster pairwise cosine (threshold-compared only — float
    // values never emitted), and the keep-farthest-from-centroid rule
    // on exact BIGINT distances (ties to the smaller id)
    // the trained codebook (k2) is shared with dedup_semantic's replay;
    // the batch assigns against it, then exact cosine within cluster
    "dedup_semantic_incremental" ->
      (s"WITH $kmeansTrainCtes,\n" +
       """asg AS (SELECT vec_id, c AS centroid FROM (
         |    SELECT vec_id, c, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rk
         |    FROM af) WHERE rk = 1),
         |bsrc AS (SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS vec_id,
         |    CASE WHEN (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 1) * 16
         |      + (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 2, 1)) - 1) < 85
         |      THEN embedding
         |      ELSE list_concat(embedding[2:], [embedding[1]]) END AS tv
         |  FROM embeddings),
         |bq AS (SELECT vec_id, i,
         |    CAST(floor(CAST(tv[CAST(i + 1 AS INT)] AS DOUBLE) * 1000) AS BIGINT) AS q
         |  FROM bsrc, unnest(range(0, len(tv))) t(i)),
         |baf AS (SELECT bq.vec_id, k2.c, CAST(sum((bq.q - k2.q) * (bq.q - k2.q)) AS BIGINT) AS d
         |  FROM bq JOIN k2 ON bq.i = k2.i GROUP BY bq.vec_id, k2.c),
         |basg AS (SELECT vec_id, c AS centroid FROM (
         |    SELECT vec_id, c, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rk
         |    FROM baf) WHERE rk = 1),
         |hits AS (SELECT b.vec_id, b.centroid,
         |    CAST(sum(CASE WHEN list_cosine_similarity(bs.tv, ce.embedding) >= 0.4
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_dups
         |  FROM basg b
         |  JOIN bsrc bs ON bs.vec_id = b.vec_id
         |  JOIN asg a ON a.centroid = b.centroid
         |  JOIN embeddings ce ON ce.vec_id = a.vec_id
         |  GROUP BY b.vec_id, b.centroid)
         |SELECT b.vec_id, CAST(b.centroid AS INT) AS centroid,
         |  CAST(COALESCE(h.n_dups, 0) AS BIGINT) AS n_dups,
         |  CASE WHEN COALESCE(h.n_dups, 0) > 0 THEN 'dup_corpus' ELSE 'new' END AS status
         |FROM basg b LEFT JOIN hits h ON h.vec_id = b.vec_id
         |ORDER BY b.vec_id""".stripMargin),
    "dedup_semantic" ->
      (s"WITH $kmeansTrainCtes,\n" +
       """asg AS (SELECT vec_id, c AS centroid, d AS dist2 FROM (
         |    SELECT vec_id, c, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rk
         |    FROM af) WHERE rk = 1),
         |prs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.dist2 AS da, b.dist2 AS db
         |  FROM asg a JOIN asg b ON a.centroid = b.centroid AND a.vec_id < b.vec_id),
         |pv AS (SELECT p.id_a, p.id_b, ea.embedding AS va, eb.embedding AS vb
         |  FROM prs p JOIN embeddings ea ON ea.vec_id = p.id_a
         |  JOIN embeddings eb ON eb.vec_id = p.id_b),
         |terms AS (SELECT id_a, id_b,
         |    CAST(va[i+1] AS DOUBLE) AS xa, CAST(vb[i+1] AS DOUBLE) AS xb
         |  FROM pv, unnest(range(0, len(va))) t(i)),
         |dots AS (SELECT id_a, id_b, sum(xa*xb) AS dot, sum(xa*xa) AS na, sum(xb*xb) AS nb
         |  FROM terms GROUP BY id_a, id_b),
         |losers AS (SELECT DISTINCT CASE WHEN p.da < p.db OR (p.da = p.db AND p.id_a > p.id_b)
         |      THEN p.id_a ELSE p.id_b END AS vec_id
         |  FROM dots d JOIN prs p ON d.id_a = p.id_a AND d.id_b = p.id_b
         |  WHERE d.dot / (sqrt(d.na) * sqrt(d.nb)) >= 0.4)
         |SELECT asg.vec_id, asg.centroid, asg.dist2,
         |  CASE WHEN losers.vec_id IS NOT NULL THEN 'dropped' ELSE 'kept' END AS status
         |FROM asg LEFT JOIN losers ON asg.vec_id = losers.vec_id
         |ORDER BY asg.vec_id""".stripMargin),
    // the skew fixture: rewrite → train on the REWRITTEN corpus →
    // assign → per-cluster census → cap rule → pairing only below cap.
    // `asg` is MATERIALIZED: DuckDB inlines a CTE into every reference,
    // and `prs` joins `pa` (two references to `asg`, each the whole
    // k-means chain) with itself, which ran out of 9 GB even at sf0.001.
    // Each vector is cast to DOUBLE[] once, with its norm, and a pair's
    // dot product is a list inner product, so no pair carries both
    // embedding lists through an unnest.
    "dedup_semantic_skew" ->
      (s"""WITH skewsrc AS (SELECT vec_id,
         |    CASE WHEN vec_id % 3 = 0
         |      THEN list_transform(embedding, x -> CAST(0.5 AS FLOAT))
         |      ELSE embedding END AS embedding
         |  FROM embeddings),
         |${kmeansTrainCtesFrom("skewsrc")},
         |""".stripMargin +
       """asg AS MATERIALIZED (SELECT vec_id, c AS centroid, d AS dist2 FROM (
         |    SELECT vec_id, c, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rk
         |    FROM af) WHERE rk = 1),
         |oversize AS (SELECT centroid FROM (
         |    SELECT centroid, count(*) AS c_n FROM asg GROUP BY centroid)
         |  WHERE c_n > 200),
         |pa AS (SELECT asg.* FROM asg LEFT JOIN oversize USING (centroid)
         |  WHERE oversize.centroid IS NULL),
         |prs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.dist2 AS da, b.dist2 AS db
         |  FROM pa a JOIN pa b ON a.centroid = b.centroid AND a.vec_id < b.vec_id),
         |dv AS (SELECT vec_id, v, list_inner_product(v, v) AS n
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM skewsrc)),
         |dots AS (SELECT p.id_a, p.id_b, list_inner_product(ea.v, eb.v) AS dot, ea.n AS na, eb.n AS nb
         |  FROM prs p JOIN dv ea ON ea.vec_id = p.id_a
         |  JOIN dv eb ON eb.vec_id = p.id_b),
         |losers AS (SELECT DISTINCT CASE WHEN p.da < p.db OR (p.da = p.db AND p.id_a > p.id_b)
         |      THEN p.id_a ELSE p.id_b END AS vec_id
         |  FROM dots d JOIN prs p ON d.id_a = p.id_a AND d.id_b = p.id_b
         |  WHERE d.dot / (sqrt(d.na) * sqrt(d.nb)) >= 0.4)
         |SELECT asg.vec_id, asg.centroid, asg.dist2,
         |  CASE WHEN oversize.centroid IS NOT NULL THEN 'skipped_oversize'
         |       WHEN losers.vec_id IS NOT NULL THEN 'dropped' ELSE 'kept' END AS status
         |FROM asg LEFT JOIN oversize USING (centroid)
         |LEFT JOIN losers ON asg.vec_id = losers.vec_id
         |ORDER BY asg.vec_id""".stripMargin),
    // Exact top-k ranking IS oracle-able: cosines of the random corpus
    // are well-separated, and both engines' double math agrees on the
    // ordering (validated at sf0.01 and sf0.1). ann_ivf's md5-based
    // centroid rule is portable; ann_lsh/dedup_embedding became
    // portable in round 3 via the quantized md5-sign hyperplanes above.
    // the grown index: corpus = embeddings plus the offset replay;
    // centroids and queries come from the ORIGINAL table only (fixed
    // quantizer, fixed query set)
    // both phases replayed at once: routing census + probe recall vs
    // brute force, the batch echo rule shared with
    // dedup_semantic_incremental (hb < 85 identical, rest shifted)
    "ann_ivf_append_audit" ->
      """WITH cents AS (
        |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |bsrc AS (SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS vec_id,
        |    CASE WHEN (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 2, 1)) - 1) < 85
        |      THEN embedding
        |      ELSE list_concat(embedding[2:], [embedding[1]]) END AS embedding
        |  FROM embeddings),
        |corpus AS (
        |  SELECT 'built' AS phase, vec_id, embedding FROM embeddings
        |  UNION ALL SELECT 'appended', vec_id, embedding FROM embeddings
        |  UNION ALL SELECT 'appended', vec_id, embedding FROM bsrc),
        |asg AS (SELECT phase, corpus_id, cell FROM (
        |    SELECT cp.phase, cp.vec_id AS corpus_id, c.cid AS cell,
        |      row_number() OVER (PARTITION BY cp.phase, cp.vec_id
        |        ORDER BY list_cosine_similarity(cp.embedding, c.cvec) DESC, c.cid) AS rk
        |    FROM corpus cp, cents c) WHERE rk <= 1),
        |cellstats AS (SELECT phase, CAST(sum(n) AS BIGINT) AS n_vectors,
        |    CAST(count(*) AS BIGINT) AS nonempty_cells,
        |    CAST(max(n) * 1000000 // sum(n) AS BIGINT) AS max_cell_share_ppm
        |  FROM (SELECT phase, cell, count(*) AS n FROM asg GROUP BY 1, 2) GROUP BY phase),
        |qa AS (SELECT query_id, cell FROM (
        |    SELECT e.vec_id AS query_id, c.cid AS cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC, c.cid) AS rk
        |    FROM embeddings e, cents c WHERE e.vec_id < 10) WHERE rk <= 4),
        |cands AS (SELECT DISTINCT a.phase, q.query_id, a.corpus_id
        |  FROM qa q JOIN asg a ON q.cell = a.cell WHERE a.corpus_id <> q.query_id),
        |scored AS (SELECT cd.phase, cd.query_id, cd.corpus_id,
        |    row_number() OVER (PARTITION BY cd.phase, cd.query_id
        |      ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC, cd.corpus_id) AS rank
        |  FROM cands cd
        |  JOIN embeddings qe ON qe.vec_id = cd.query_id
        |  JOIN corpus ce ON ce.phase = cd.phase AND ce.vec_id = cd.corpus_id),
        |approx AS (SELECT phase, query_id, corpus_id FROM scored WHERE rank <= 5),
        |bscored AS (SELECT cp.phase, q.vec_id AS query_id, cp.vec_id AS corpus_id,
        |    row_number() OVER (PARTITION BY cp.phase, q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, cp.embedding) DESC, cp.vec_id) AS rank
        |  FROM embeddings q JOIN corpus cp ON q.vec_id < 10 AND cp.vec_id <> q.vec_id),
        |brute AS (SELECT phase, query_id, corpus_id FROM bscored WHERE rank <= 5),
        |rec AS (SELECT b.phase, CAST(count(*) AS BIGINT) AS n_exact,
        |    CAST(count(a.corpus_id) AS BIGINT) AS n_hits,
        |    CAST(count(a.corpus_id) * 100 // count(*) AS BIGINT) AS recall_pct
        |  FROM brute b LEFT JOIN approx a
        |    ON a.phase = b.phase AND a.query_id = b.query_id AND a.corpus_id = b.corpus_id
        |  GROUP BY b.phase)
        |SELECT cs.phase, n_vectors, nonempty_cells, max_cell_share_ppm,
        |  n_exact, n_hits, recall_pct
        |FROM cellstats cs JOIN rec ON cs.phase = rec.phase
        |ORDER BY cs.phase""".stripMargin,
    "ann_ivf_persisted_append" ->
      """WITH allv AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings), embedding FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |corpus_assign AS (
        |  SELECT corpus_id, cell FROM (
        |    SELECT e.vec_id AS corpus_id, c.cid AS cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC, c.cid) AS rk
        |    FROM allv e, cents c) WHERE rk <= 1),
        |query_assign AS (
        |  SELECT query_id, cell FROM (
        |    SELECT e.vec_id AS query_id, c.cid AS cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC, c.cid) AS rk
        |    FROM embeddings e, cents c WHERE e.vec_id < 10) WHERE rk <= 4),
        |cands AS (
        |  SELECT DISTINCT q.query_id, ca.corpus_id
        |  FROM query_assign q JOIN corpus_assign ca ON q.cell = ca.cell
        |  WHERE ca.corpus_id <> q.query_id),
        |scored AS (
        |  SELECT cd.query_id, cd.corpus_id,
        |    row_number() OVER (PARTITION BY cd.query_id
        |      ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC, cd.corpus_id) AS rank
        |  FROM cands cd
        |  JOIN embeddings qe ON qe.vec_id = cd.query_id
        |  JOIN allv ce ON ce.vec_id = cd.corpus_id)
        |SELECT query_id, corpus_id, rank FROM scored WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "ann_ivf" -> sqlAnnIvf,
    "ann_ivf_persisted" -> sqlAnnIvf,
    // the tombstone mask on the corpus relation only — centroids and
    // query routing replay UNfiltered (the frozen-quantizer rule)
    "ann_ivf_forget" -> sqlAnnIvfWhere(
      s"WHERE NOT (${hx60("md5('forget:' || CAST(e.vec_id AS VARCHAR))")} % 50 = 0)"),
    // one shared assignment CTE feeds all three probe settings: the
    // curve and the index cannot drift apart
    "ann_ivf_recall_curve" ->
      """WITH cents AS (
        |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |corpus_assign AS (
        |  SELECT corpus_id, cell FROM (
        |    SELECT e.vec_id AS corpus_id, c.cid AS cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC, c.cid) AS rk
        |    FROM embeddings e, cents c) WHERE rk <= 1),
        |qa AS (
        |  SELECT query_id, cell, rk FROM (
        |    SELECT e.vec_id AS query_id, c.cid AS cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC, c.cid) AS rk
        |    FROM embeddings e, cents c WHERE e.vec_id < 10) WHERE rk <= 4),
        |brute AS (SELECT query_id, corpus_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
        |    FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id != q.vec_id)
        |  WHERE rank <= 5),
        |probes AS (SELECT unnest([1, 2, 4]) AS p),
        |cands AS (SELECT DISTINCT pr.p, q.query_id, ca.corpus_id
        |  FROM probes pr JOIN qa q ON q.rk <= pr.p JOIN corpus_assign ca ON q.cell = ca.cell
        |  WHERE ca.corpus_id <> q.query_id),
        |scored AS (SELECT cd.p, cd.query_id, cd.corpus_id,
        |    row_number() OVER (PARTITION BY cd.p, cd.query_id
        |      ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC, cd.corpus_id) AS rank
        |  FROM cands cd
        |  JOIN embeddings qe ON qe.vec_id = cd.query_id
        |  JOIN embeddings ce ON ce.vec_id = cd.corpus_id),
        |ivf AS (SELECT p, query_id, corpus_id FROM scored WHERE rank <= 5)
        |SELECT pr.p AS n_probe, count(*) AS n_exact, count(i.corpus_id) AS n_hits,
        |  CAST(count(i.corpus_id) * 100 // count(*) AS BIGINT) AS recall_pct
        |FROM probes pr CROSS JOIN brute b
        |LEFT JOIN ivf i ON i.p = pr.p AND i.query_id = b.query_id AND i.corpus_id = b.corpus_id
        |GROUP BY pr.p ORDER BY n_probe""".stripMargin,
    // full PQ replay on integer-quantized vectors: portable md5 sample
    // as codebook, per-(vector, subspace, centroid) exact BIGINT
    // distances, argmin codes (ties -> lowest centroid id), ADC =
    // sum over subspaces of the query's distance to the candidate's
    // chosen centroid. 8 subspaces x 8 dims, 16 centroids — mirrors
    // Similarity.pqTopK defaults.
    "ann_pq" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |cent AS (
        |  SELECT row_number() OVER (
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c, qv
        |  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |sd AS (
        |  SELECT e.vec_id, t.m, cent.c,
        |    CAST(list_sum(list_transform(range(1, 9), j ->
        |      (e.qv[t.m*8+j] - cent.qv[t.m*8+j]) * (e.qv[t.m*8+j] - cent.qv[t.m*8+j])
        |    )) AS BIGINT) AS dist
        |  FROM e, range(0, 8) t(m), cent),
        |codes AS (
        |  SELECT vec_id, m, c FROM (
        |    SELECT vec_id, m, c,
        |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, c) AS rk
        |    FROM sd) WHERE rk = 1),
        |adc AS (
        |  SELECT q.vec_id AS query_id, co.vec_id AS corpus_id,
        |    CAST(sum(q.dist) AS BIGINT) AS adc
        |  FROM codes co
        |  JOIN sd q ON q.m = co.m AND q.c = co.c
        |  WHERE q.vec_id < 10 AND co.vec_id <> q.vec_id
        |  GROUP BY 1, 2)
        |SELECT query_id, corpus_id, adc, rank FROM (
        |  SELECT query_id, corpus_id, adc,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adc, corpus_id) AS rank
        |  FROM adc) WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // IVF-PQ composes the ann_ivf routing block with the ann_pq coding
    // block: candidates come from the probed cells, scores from codes
    "ann_ivf_pq" ->
      """WITH cents AS (
        |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |corpus_assign AS (
        |  SELECT corpus_id, cell FROM (
        |    SELECT e.vec_id AS corpus_id, c.cid AS cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC, c.cid) AS rk
        |    FROM embeddings e, cents c) WHERE rk <= 1),
        |query_assign AS (
        |  SELECT query_id, cell FROM (
        |    SELECT e.vec_id AS query_id, c.cid AS cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC, c.cid) AS rk
        |    FROM embeddings e, cents c WHERE e.vec_id < 10) WHERE rk <= 4),
        |e AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |cent AS (
        |  SELECT row_number() OVER (
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c, qv
        |  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |sd AS (
        |  SELECT e.vec_id, t.m, cent.c,
        |    CAST(list_sum(list_transform(range(1, 9), j ->
        |      (e.qv[t.m*8+j] - cent.qv[t.m*8+j]) * (e.qv[t.m*8+j] - cent.qv[t.m*8+j])
        |    )) AS BIGINT) AS dist
        |  FROM e, range(0, 8) t(m), cent),
        |codes AS (
        |  SELECT vec_id, m, c FROM (
        |    SELECT vec_id, m, c,
        |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, c) AS rk
        |    FROM sd) WHERE rk = 1),
        |adc AS (
        |  SELECT qa.query_id, ca.corpus_id, CAST(sum(q.dist) AS BIGINT) AS adc
        |  FROM query_assign qa
        |  JOIN corpus_assign ca ON qa.cell = ca.cell
        |  JOIN codes co ON co.vec_id = ca.corpus_id
        |  JOIN sd q ON q.vec_id = qa.query_id AND q.m = co.m AND q.c = co.c
        |  WHERE ca.corpus_id <> qa.query_id
        |  GROUP BY 1, 2)
        |SELECT query_id, corpus_id, adc, rank FROM (
        |  SELECT query_id, corpus_id, adc,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adc, corpus_id) AS rank
        |  FROM adc) WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "select_kcenter" -> kCenterOracle(6),
    "retrieval_mmr" -> mmrOracle(12, 4, 700),
    // the mining trajectory replayed: candidate ranking, positive
    // extraction, the ppm margin anti-filter, and the negative re-rank
    "hard_negatives" ->
      """WITH qv AS (SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * 1000) AS BIGINT) AS q
        |  FROM embeddings, unnest(range(0, len(embedding))) t(i)),
        |rel0 AS (SELECT qq.vec_id AS query_id, cc.vec_id AS doc_id,
        |    CAST(sum(qq.q * cc.q) AS BIGINT) AS dot
        |  FROM qv qq JOIN qv cc ON qq.i = cc.i AND qq.vec_id < 10 AND cc.vec_id <> qq.vec_id
        |  GROUP BY 1, 2),
        |cand AS (SELECT * FROM (SELECT query_id, doc_id, dot,
        |    row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, doc_id) AS rk
        |  FROM rel0) WHERE rk <= 21),
        |pos AS (SELECT query_id, doc_id AS pos_id, dot AS pos_dot FROM cand WHERE rk = 1),
        |neg AS (SELECT c.query_id, c.doc_id AS neg_id, c.dot, p.pos_id, p.pos_dot
        |  FROM cand c JOIN pos p USING (query_id)
        |  WHERE c.rk > 1
        |    AND NOT (p.pos_dot > 0 AND c.dot * 1000000 > p.pos_dot * 950000))
        |SELECT query_id, neg_id, CAST(neg_rank AS INT) AS neg_rank, dot, pos_id, pos_dot
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY dot DESC, neg_id) AS neg_rank FROM neg)
        |WHERE neg_rank <= 5 ORDER BY query_id, neg_rank""".stripMargin,
    "ann_bruteforce" ->
      """SELECT query_id, corpus_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id != q.vec_id)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "text_stats" ->
      """SELECT doc_id,
        |  length(text) AS n_chars_text,
        |  len(regexp_split_to_array(text, ' +')) AS n_tokens,
        |  CAST((length(text) - length(replace(text, ' ', ''))) AS INT) AS n_spaces,
        |  CAST((length(' ' || lower(text) || ' ')
        |      - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5 AS INT) AS n_the,
        |  round(CAST(len(list_filter(regexp_split_to_array(lower(text), ' +'),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is'))) AS DOUBLE)
        |    / len(regexp_split_to_array(text, ' +')), 6) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "token_counts" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(text, ' +')) AS n_ws,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    "token_length_histogram" ->
      """WITH t AS (SELECT len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n
        |  FROM documents)
        |SELECT CASE WHEN n <= 64 THEN 'a_0-64' WHEN n <= 128 THEN 'b_65-128'
        |  WHEN n <= 256 THEN 'c_129-256' WHEN n <= 512 THEN 'd_257-512'
        |  ELSE 'e_513+' END AS len_bucket,
        |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens
        |FROM t GROUP BY 1 ORDER BY len_bucket""".stripMargin,
    // the discrete-quartile boundary (smallest v with cum >= q*n in
    // exact integer space) replays verbatim over the value histogram
    "quantile_buckets_docs" ->
      """WITH h AS (SELECT CAST(n_chars AS BIGINT) AS v, count(*) AS c
        |  FROM documents GROUP BY 1),
        |cum AS (SELECT *,
        |    sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
        |    sum(c) OVER () AS n FROM h),
        |b AS (SELECT
        |    min(CASE WHEN cm * 1000000 >= n * 250000 THEN v END) AS q1,
        |    min(CASE WHEN cm * 1000000 >= n * 500000 THEN v END) AS q2,
        |    min(CASE WHEN cm * 1000000 >= n * 750000 THEN v END) AS q3
        |  FROM cum)
        |SELECT CAST(CASE WHEN n_chars <= q1 THEN 0 WHEN n_chars <= q2 THEN 1
        |    WHEN n_chars <= q3 THEN 2 ELSE 3 END AS BIGINT) AS len_quartile,
        |  count(*) AS n_docs, min(n_chars) AS min_chars,
        |  max(n_chars) AS max_chars, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents, b
        |GROUP BY 1 ORDER BY len_quartile""".stripMargin,
    // the same 1e-3 integer quantization as the Spark side, then the
    // upper-triangular self-join — every sum is integer-exact, so
    // aggregation order can't perturb the hash in either engine
    "embedding_moments" ->
      """WITH q AS (SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * 1000) AS BIGINT) AS q
        |  FROM embeddings, unnest(range(0, len(embedding))) t(i))
        |SELECT a.i AS i, b.i AS j,
        |  CAST(sum(a.q * b.q) AS BIGINT) AS sum_xy,
        |  CAST(sum(a.q) AS BIGINT) AS sum_x_i,
        |  CAST(sum(b.q) AS BIGINT) AS sum_x_j,
        |  count(*) AS n
        |FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.i >= a.i
        |GROUP BY a.i, b.i
        |ORDER BY i, j""".stripMargin,
    // all 8 power-iteration rounds unrolled in HUGEINT over the full
    // integer covariance — the trajectory itself is hash-verified
    "embedding_top_pc" -> topPcOracle(8),
    // the calibration scales, the truncating-DIV codes, the BIGINT code
    // dots, and the ranking — the whole quantized retrieval replayed
    "ann_int8" ->
      """WITH q AS (SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * 1000) AS BIGINT) AS q
        |  FROM embeddings, unnest(range(0, len(embedding))) t(i)),
        |am AS (SELECT i, max(abs(q)) AS a FROM q GROUP BY i),
        |c AS (SELECT vec_id, i,
        |    CASE WHEN a = 0 THEN 0 ELSE (q * 127) // a END AS code
        |  FROM q JOIN am USING (i)),
        |d AS (SELECT cq.vec_id AS query_id, cc.vec_id AS corpus_id,
        |    CAST(sum(cq.code * cc.code) AS BIGINT) AS dot8
        |  FROM c cq JOIN c cc ON cq.i = cc.i AND cq.vec_id < 10 AND cc.vec_id <> cq.vec_id
        |  GROUP BY 1, 2)
        |SELECT query_id, corpus_id, CAST(rank AS INT) AS rank, dot8 FROM (
        |  SELECT query_id, corpus_id, dot8, row_number() OVER (PARTITION BY query_id
        |    ORDER BY dot8 DESC, corpus_id) AS rank FROM d)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // per-dim max-abs scale, truncating-DIV codes (DuckDB // truncates
    // for integers like Java), and the exact scaled reconstruction error
    "embedding_int8_quantize" ->
      """WITH q AS (SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * 1000) AS BIGINT) AS q
        |  FROM embeddings, unnest(range(0, len(embedding))) t(i)),
        |am AS (SELECT i, max(abs(q)) AS amax FROM q GROUP BY i),
        |c AS (SELECT q.i, am.amax, q.q,
        |    CASE WHEN am.amax = 0 THEN 0 ELSE (q.q * 127) // am.amax END AS code
        |  FROM q JOIN am USING (i))
        |SELECT CAST(i AS INT) AS i, amax AS amax_milli, count(*) AS n,
        |  CAST(sum(abs(q * 127 - code * amax)) AS BIGINT) AS sum_abs_err,
        |  CAST(max(abs(q * 127 - code * amax)) AS BIGINT) AS max_abs_err,
        |  CAST(sum(abs(code)) AS BIGINT) AS sum_abs_code
        |FROM c GROUP BY i, amax ORDER BY i""".stripMargin,
    // centered-distance ranking replayed in HUGEINT: q_i·n − S_i fits
    // int64, its square needs int128 — the same exactness the Spark
    // side gets from DECIMAL(38,0); plain-digit string on both sides
    "embedding_outliers" ->
      """WITH q AS (SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * 1000) AS BIGINT) AS q
        |  FROM embeddings, unnest(range(0, len(embedding))) t(i)),
        |st AS (SELECT i, CAST(sum(q) AS BIGINT) AS s FROM q GROUP BY i),
        |nn AS (SELECT count(*) AS n FROM embeddings),
        |d AS (SELECT q.vec_id,
        |    sum(CAST(q.q * nn.n - st.s AS HUGEINT) * CAST(q.q * nn.n - st.s AS HUGEINT)) AS dist
        |  FROM q JOIN st USING (i), nn GROUP BY q.vec_id),
        |top AS (SELECT vec_id, dist FROM d ORDER BY dist DESC, vec_id LIMIT 20)
        |SELECT vec_id, CAST(dist AS VARCHAR) AS dist2_scaled
        |FROM top ORDER BY vec_id""".stripMargin,
    // the WHOLE trained-quantizer loop as chained CTEs (the shared
    // [[kmeansTrainCtes]] block) → full-corpus nearest-centroid
    // assignment. Every value is integer-exact.
    "embedding_kmeans_assign" ->
      (s"WITH $kmeansTrainCtes\n" +
       """SELECT vec_id, c AS centroid, d AS dist2
         |FROM (SELECT vec_id, c, d,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rk FROM af)
         |WHERE rk = 1 ORDER BY vec_id""".stripMargin),
    // the same training + assignment replay, then the within-cluster
    // smallest-md5 quota rank — selection membership AND order verified
    "cluster_balanced_sample" ->
      (s"WITH $kmeansTrainCtes,\n" +
       """assign AS (SELECT vec_id, c AS centroid
         |  FROM (SELECT vec_id, c,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rk FROM af)
         |  WHERE rk = 1),
         |ranked AS (SELECT centroid, vec_id,
         |    row_number() OVER (PARTITION BY centroid
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS sel_rk
         |  FROM assign)
         |SELECT centroid, vec_id, CAST(sel_rk AS INT) AS sel_rk FROM ranked
         |WHERE sel_rk <= 16 ORDER BY centroid, sel_rk""".stripMargin),
    // the same training+assignment replay joined to the documents, then
    // the per-cluster lift (n_ct / n_t — one exact IEEE division, the
    // distinctive_terms rationality rule) and the tie-broken top-3 rank
    "cluster_topic_terms" ->
      (s"WITH $kmeansTrainCtes,\n" +
       """assign AS (SELECT vec_id, c AS centroid
         |  FROM (SELECT vec_id, c,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rk FROM af)
         |  WHERE rk = 1),
         |w AS (SELECT a.centroid, unnest(list_filter(regexp_split_to_array(
         |    trim(regexp_replace(regexp_replace(lower(d.text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')),
         |    ' '), x -> length(x) > 0)) AS token
         |  FROM assign a JOIN documents d ON d.doc_id = a.vec_id),
         |ct AS (SELECT centroid, token, count(*) AS n_ct FROM w GROUP BY 1, 2),
         |gt AS (SELECT token, count(*) AS n_t FROM w GROUP BY 1)
         |SELECT centroid, token, n_ct, n_t, CAST(n_ct AS DOUBLE) / n_t AS score,
         |  CAST(rk AS INT) AS rk
         |FROM (SELECT ct.centroid, ct.token, ct.n_ct, gt.n_t,
         |    row_number() OVER (PARTITION BY ct.centroid
         |      ORDER BY CAST(ct.n_ct AS DOUBLE) / gt.n_t DESC, ct.token) AS rk
         |  FROM ct JOIN gt USING (token))
         |WHERE rk <= 3 ORDER BY centroid, rk""".stripMargin),
    // trained IVF end-to-end: the SAME training replay, then both-side
    // integer-L2 routing off `af` (corpus: nearest cell; queries:
    // 2-probe), candidate equi-join on cell, exact cosine re-rank —
    // the float ordering rule the untrained ann_ivf oracle validated
    "ann_ivf_trained" ->
      (s"WITH $kmeansTrainCtes,\n" +
       """corpus_assign AS (SELECT vec_id AS corpus_id, c AS cell FROM (
         |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rk
         |    FROM af) WHERE rk = 1),
         |query_assign AS (SELECT vec_id AS query_id, c AS cell FROM (
         |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rk
         |    FROM af WHERE vec_id < 10) WHERE rk <= 2),
         |cands AS (SELECT DISTINCT qa.query_id, ca.corpus_id
         |  FROM query_assign qa JOIN corpus_assign ca ON qa.cell = ca.cell
         |  WHERE ca.corpus_id <> qa.query_id),
         |scored AS (SELECT cd.query_id, cd.corpus_id,
         |    row_number() OVER (PARTITION BY cd.query_id
         |      ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC, cd.corpus_id) AS rank
         |  FROM cands cd
         |  JOIN embeddings qe ON qe.vec_id = cd.query_id
         |  JOIN embeddings ce ON ce.vec_id = cd.corpus_id)
         |SELECT query_id, corpus_id, rank FROM scored WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin),
    // trained PQ end-to-end: the per-SUBSPACE twin of the training
    // replay (every CTE carries the subspace key m, the seeding
    // argmaxes become per-m windows), then the standard codes → ADC
    // pipeline of the untrained ann_pq oracle on the trained codebook.
    // All integer-exact: quantized components, BIGINT distances,
    // truncating-division updates.
    "ann_pq_trained" ->
      """WITH q AS (SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * 1000) AS BIGINT) AS q
        |  FROM embeddings, unnest(range(0, len(embedding))) t(i)),
        |qs AS (SELECT vec_id, CAST(i // 8 AS INT) AS m, i % 8 AS j, q FROM q),
        |samp AS (SELECT vec_id, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS r
        |  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |sq AS (SELECT samp.r, qs.m, qs.j, qs.q FROM samp JOIN qs ON samp.vec_id = qs.vec_id),
        |c0 AS (SELECT m, j, q FROM sq WHERE r = 0),
        |d0 AS (SELECT sq.m, sq.r, CAST(sum((sq.q - c0.q) * (sq.q - c0.q)) AS BIGINT) AS d
        |  FROM sq JOIN c0 ON sq.m = c0.m AND sq.j = c0.j GROUP BY sq.m, sq.r),
        |p1 AS (SELECT m, r FROM (SELECT m, r,
        |    row_number() OVER (PARTITION BY m ORDER BY d DESC, r) AS rk FROM d0) WHERE rk = 1),
        |c1 AS (SELECT sq.m, sq.j, sq.q FROM sq JOIN p1 ON sq.m = p1.m AND sq.r = p1.r),
        |d1 AS (SELECT sq.m, sq.r, CAST(sum((sq.q - c1.q) * (sq.q - c1.q)) AS BIGINT) AS d
        |  FROM sq JOIN c1 ON sq.m = c1.m AND sq.j = c1.j GROUP BY sq.m, sq.r),
        |m1 AS (SELECT d0.m, d0.r, least(d0.d, d1.d) AS d
        |  FROM d0 JOIN d1 ON d0.m = d1.m AND d0.r = d1.r),
        |p2 AS (SELECT m, r FROM (SELECT m, r,
        |    row_number() OVER (PARTITION BY m ORDER BY d DESC, r) AS rk FROM m1) WHERE rk = 1),
        |c2 AS (SELECT sq.m, sq.j, sq.q FROM sq JOIN p2 ON sq.m = p2.m AND sq.r = p2.r),
        |d2_ AS (SELECT sq.m, sq.r, CAST(sum((sq.q - c2.q) * (sq.q - c2.q)) AS BIGINT) AS d
        |  FROM sq JOIN c2 ON sq.m = c2.m AND sq.j = c2.j GROUP BY sq.m, sq.r),
        |m2 AS (SELECT m1.m, m1.r, least(m1.d, d2_.d) AS d
        |  FROM m1 JOIN d2_ ON m1.m = d2_.m AND m1.r = d2_.r),
        |p3 AS (SELECT m, r FROM (SELECT m, r,
        |    row_number() OVER (PARTITION BY m ORDER BY d DESC, r) AS rk FROM m2) WHERE rk = 1),
        |c3 AS (SELECT sq.m, sq.j, sq.q FROM sq JOIN p3 ON sq.m = p3.m AND sq.r = p3.r),
        |k0 AS (SELECT 0 AS c, m, j, q FROM c0 UNION ALL SELECT 1, m, j, q FROM c1
        |  UNION ALL SELECT 2, m, j, q FROM c2 UNION ALL SELECT 3, m, j, q FROM c3),
        |a1 AS (SELECT sq.m, sq.r, k0.c, CAST(sum((sq.q - k0.q) * (sq.q - k0.q)) AS BIGINT) AS d
        |  FROM sq JOIN k0 ON sq.m = k0.m AND sq.j = k0.j GROUP BY sq.m, sq.r, k0.c),
        |b1 AS (SELECT m, r, c FROM (SELECT m, r, c,
        |    row_number() OVER (PARTITION BY m, r ORDER BY d, c) AS rk FROM a1) WHERE rk = 1),
        |u1 AS (SELECT b1.m, b1.c, sq.j, CAST(sum(sq.q) AS BIGINT) // count(*) AS q
        |  FROM sq JOIN b1 ON sq.m = b1.m AND sq.r = b1.r GROUP BY b1.m, b1.c, sq.j),
        |k1 AS (SELECT k0.c, k0.m, k0.j, coalesce(u1.q, k0.q) AS q
        |  FROM k0 LEFT JOIN u1 ON u1.m = k0.m AND u1.c = k0.c AND u1.j = k0.j),
        |a2 AS (SELECT sq.m, sq.r, k1.c, CAST(sum((sq.q - k1.q) * (sq.q - k1.q)) AS BIGINT) AS d
        |  FROM sq JOIN k1 ON sq.m = k1.m AND sq.j = k1.j GROUP BY sq.m, sq.r, k1.c),
        |b2 AS (SELECT m, r, c FROM (SELECT m, r, c,
        |    row_number() OVER (PARTITION BY m, r ORDER BY d, c) AS rk FROM a2) WHERE rk = 1),
        |u2 AS (SELECT b2.m, b2.c, sq.j, CAST(sum(sq.q) AS BIGINT) // count(*) AS q
        |  FROM sq JOIN b2 ON sq.m = b2.m AND sq.r = b2.r GROUP BY b2.m, b2.c, sq.j),
        |k2 AS (SELECT k1.c, k1.m, k1.j, coalesce(u2.q, k1.q) AS q
        |  FROM k1 LEFT JOIN u2 ON u2.m = k1.m AND u2.c = k1.c AND u2.j = k1.j),
        |sd AS (SELECT qs.vec_id, qs.m, k2.c, CAST(sum((qs.q - k2.q) * (qs.q - k2.q)) AS BIGINT) AS d
        |  FROM qs JOIN k2 ON qs.m = k2.m AND qs.j = k2.j GROUP BY qs.vec_id, qs.m, k2.c),
        |codes AS (SELECT vec_id, m, c FROM (SELECT vec_id, m, c,
        |    row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rk FROM sd) WHERE rk = 1),
        |adc AS (SELECT qq.vec_id AS query_id, co.vec_id AS corpus_id,
        |    CAST(sum(qq.d) AS BIGINT) AS adc
        |  FROM codes co JOIN sd qq ON qq.m = co.m AND qq.c = co.c
        |  WHERE qq.vec_id < 10 AND co.vec_id <> qq.vec_id GROUP BY 1, 2)
        |SELECT query_id, corpus_id, adc, rank FROM (
        |  SELECT query_id, corpus_id, adc,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adc, corpus_id) AS rank
        |  FROM adc) WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // pair counts over the DISTINCT vocabulary weighted by word
    // frequency — replays the vocab-not-corpus explosion exactly
    "bpe_pair_stats" ->
      """WITH t AS (SELECT unnest(regexp_split_to_array(
        |    trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')),
        |    ' ')) AS w FROM documents),
        |wf AS (SELECT w, count(*) AS f FROM t WHERE length(w) > 0 GROUP BY w),
        |p AS (SELECT w, f, substr(w, CAST(k AS INT), 2) AS pair
        |  FROM wf, unnest(range(1, length(w))) t2(k)
        |  WHERE length(w) >= 2)
        |SELECT pair, CAST(sum(f) AS BIGINT) AS n_occurrences,
        |  count(DISTINCT w) AS n_vocab_words
        |FROM p GROUP BY pair
        |ORDER BY n_occurrences DESC, pair LIMIT 30""".stripMargin,
    // the FULL BPE training loop replayed as generated MATERIALIZED
    // CTEs (BpeOracle) — merge argmaxes, vocabulary ids and the per-doc
    // double-spaced replace encoding all re-derived from the parquet
    "bpe_encode" -> BpeOracle.bpeEncodeSql,
    "bpe_encode_bytes" -> BpeOracle.bpeEncodeBytesSql,
    "bpe_coverage_bytes" -> BpeOracle.bpeCoverageBytesSql(HostileTexts),
    "bpe_decode_roundtrip" -> BpeOracle.bpeDecodeRoundtripSql(HostileTexts),
    "bpe_fertility_by_source" -> BpeOracle.bpeFertilityBySourceSql,
    "bpe_vocab_bytes" -> BpeOracle.bpeVocabBytesSql,
    "bpe_vocab" -> BpeOracle.bpeVocabSql,
    // the full hard-EM replay: candidate init, both Viterbi rounds,
    // prune — nothing trained enters as a literal
    "unigram_vocab" -> UnigramOracle.unigramVocabSql,
    "unigram_fertility" -> UnigramOracle.unigramFertilitySql,
    "unigram_fertility_sweep" -> UnigramOracle.unigramFertilitySweepSql,
    "forget_vocab_audit" -> UnigramOracle.forgetVocabAuditSql,
    "vocab_transplant" -> UnigramOracle.vocabTransplantSql,
    // rotations, the per-(word, position) reward rollup, the argmax
    // with its lowest-j tie-break, and the winning text's md5 — all
    // replayed; the window pair (rank + sum) mirrors the struct max
    "best_of_n_select" ->
      s"""WITH $bestOfNCtes,
         |pick AS (SELECT doc_id, j, reward, c,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY reward DESC, j ASC) AS rk,
         |    CAST(sum(reward) OVER (PARTITION BY doc_id) AS BIGINT) AS reward_sum
         |  FROM rew)
         |SELECT doc_id, j AS best_j, reward AS reward_best, reward_sum,
         |  md5(array_to_string(c, ' ')) AS best_md5
         |FROM pick WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    // same scored field via the shared CTE block; best = (reward DESC,
    // j ASC), worst = (reward ASC, j DESC) — the struct min's tie-break
    // — and the margin-0 drop is replayed by the WHERE
    "rm_pairs_from_n" ->
      s"""WITH $bestOfNCtes,
         |rk AS (SELECT doc_id, j, reward, c,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY reward DESC, j ASC) AS rb,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY reward ASC, j DESC) AS rw
         |  FROM rew)
         |SELECT b.doc_id, b.j AS best_j, w.j AS worst_j,
         |  b.reward AS reward_best, w.reward AS reward_worst,
         |  b.reward - w.reward AS margin,
         |  md5(array_to_string(b.c, ' ')) AS best_md5,
         |  md5(array_to_string(w.c, ' ')) AS worst_md5
         |FROM (SELECT * FROM rk WHERE rb = 1) b
         |JOIN (SELECT * FROM rk WHERE rw = 1) w ON b.doc_id = w.doc_id
         |WHERE b.reward - w.reward > 0
         |ORDER BY b.doc_id""".stripMargin,
    // both snapshots derived by the portable md5 bucket, statuses from
    // the same FULL OUTER JOIN on the document key
    "dataset_diff" ->
      s"""WITH t AS (SELECT doc_id, text,
         |    ${hx60("md5('snap:' || CAST(doc_id AS VARCHAR))")} % 4 AS b
         |  FROM documents WHERE text IS NOT NULL),
         |a AS (SELECT doc_id, md5(text) AS a_md5 FROM t WHERE b < 3),
         |bs AS (SELECT doc_id,
         |    md5(CASE WHEN b = 2 THEN text || ' [v2]' ELSE text END) AS b_md5
         |  FROM t WHERE b >= 1)
         |SELECT COALESCE(a.doc_id, bs.doc_id) AS doc_id,
         |  CASE WHEN a.doc_id IS NULL THEN 'added'
         |       WHEN bs.doc_id IS NULL THEN 'removed'
         |       WHEN a.a_md5 <> bs.b_md5 THEN 'changed'
         |       ELSE 'unchanged' END AS status,
         |  a_md5, b_md5
         |FROM a FULL OUTER JOIN bs ON a.doc_id = bs.doc_id
         |ORDER BY doc_id""".stripMargin,
    // both versions through the SAME CDC chain (the dedup_cdc_chunks
    // CTE builder, two prefixes), distinct per-doc chunk sets, and the
    // full-outer set diff — chunks_a/b reconstruct as removed+kept /
    // added+kept
    "dataset_diff_chunks" ->
      s"""WITH t AS (SELECT doc_id, text,
         |    ${hx60("md5('snap:' || CAST(doc_id AS VARCHAR))")} % 4 AS bkt
         |  FROM documents WHERE text IS NOT NULL),
         |sa AS (SELECT doc_id, text FROM t WHERE bkt = 2),
         |sb AS (SELECT doc_id, text || ' [v2]' AS text FROM t WHERE bkt = 2),
         |${cdcChunkCtes("a", "sa")},
         |${cdcChunkCtes("b", "sb")},
         |adist AS (SELECT DISTINCT doc_id, h FROM achunks),
         |bdist AS (SELECT DISTINCT doc_id, h FROM bchunks),
         |j AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         |    CASE WHEN a.h IS NULL THEN 'added'
         |         WHEN b.h IS NULL THEN 'removed' ELSE 'kept' END AS st
         |  FROM adist a FULL OUTER JOIN bdist b
         |    ON a.doc_id = b.doc_id AND a.h = b.h),
         |cnt AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN st = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS chunks_added,
         |    CAST(sum(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS chunks_removed,
         |    CAST(sum(CASE WHEN st = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS chunks_kept
         |  FROM j GROUP BY doc_id)
         |SELECT doc_id,
         |  chunks_removed + chunks_kept AS chunks_a,
         |  chunks_added + chunks_kept AS chunks_b,
         |  chunks_added, chunks_removed, chunks_kept,
         |  chunks_kept * 1000000 // (chunks_added + chunks_kept) AS reuse_ppm
         |FROM cnt ORDER BY doc_id""".stripMargin,
    // the layout replay is the SHARED ffd prefix (the audit must answer
    // against the artifact pack_sequences_layout ships); the delete
    // list is the same md5 predicate, the rollup keeps only
    // contaminated bins
    "forget_docs_audit" ->
      s"""WITH RECURSIVE $ffdLayoutCtes,
         |f AS (SELECT shard_id, bin_id, doc_id, n,
         |    CASE WHEN ${hx60("md5('forget:' || CAST(doc_id AS VARCHAR))")} % 200 = 0
         |      THEN 1 ELSE 0 END AS is_forget
         |  FROM lay)
         |SELECT shard_id, bin_id, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(is_forget) AS BIGINT) AS n_forget,
         |  CAST(COALESCE(sum(CASE WHEN is_forget = 1 THEN n END), 0) AS BIGINT) AS forget_tokens,
         |  string_agg(CASE WHEN is_forget = 1 THEN CAST(doc_id AS VARCHAR) END, ','
         |    ORDER BY doc_id) AS forget_ids
         |FROM f GROUP BY shard_id, bin_id
         |HAVING sum(is_forget) > 0
         |ORDER BY shard_id, bin_id""".stripMargin,
    // the shared ffd prefix finds the contaminated bins; the SECOND
    // recursion repacks their survivors per shard — FFD order
    // (n DESC, doc_id) identical to the first pass
    "forget_rebuild_plan" ->
      s"""WITH RECURSIVE $ffdLayoutCtes,
         |$rebuildFfdCtes
         |SELECT shard_id, bin_id, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS used_tokens,
         |  greatest(2048 - CAST(sum(n) AS BIGINT), 0) AS pad_tokens,
         |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY s) AS doc_ids,
         |  string_agg(CAST(off AS VARCHAR), ',' ORDER BY s) AS offsets
         |FROM rlay GROUP BY shard_id, bin_id
         |ORDER BY shard_id, bin_id""".stripMargin,
    // every surface aggregated from the same replays its gate uses:
    // ffd prefix + flags for the window surfaces, the bm25 tf chain
    // for postings, a filtered embeddings count for vectors (unused
    // CTE branches of the bm25 chain are never executed)
    "forget_pipeline_report" ->
      s"""WITH RECURSIVE $ffdLayoutCtes,
         |fl AS (SELECT shard_id, bin_id, doc_id, n,
         |    CASE WHEN ${hx60("md5('forget:' || CAST(doc_id AS VARCHAR))")} % 200 = 0
         |      THEN 1 ELSE 0 END AS isf
         |  FROM lay),
         |cb AS (SELECT shard_id, bin_id FROM fl GROUP BY shard_id, bin_id HAVING max(isf) = 1),
         |$sqlBm25Ctes,
         |deltf AS (SELECT * FROM tf
         |  WHERE ${hx60("md5('forget:' || CAST(doc_id AS VARCHAR))")} % 50 = 0)
         |SELECT 'ann_index' AS surface, 'masked_vectors' AS metric,
         |    CAST(count(*) AS BIGINT) AS value FROM embeddings
         |  WHERE ${hx60("md5('forget:' || CAST(vec_id AS VARCHAR))")} % 50 = 0
         |UNION ALL SELECT 'bm25_index', 'masked_docs',
         |    CAST(count(DISTINCT doc_id) AS BIGINT) FROM deltf
         |UNION ALL SELECT 'bm25_index', 'masked_postings',
         |    CAST(count(*) AS BIGINT) FROM deltf
         |UNION ALL SELECT 'bm25_index', 'masked_tf',
         |    CAST(COALESCE(sum(tf), 0) AS BIGINT) FROM deltf
         |UNION ALL SELECT 'packed_windows', 'contaminated_bins',
         |    CAST(count(*) AS BIGINT) FROM cb
         |UNION ALL SELECT 'packed_windows', 'forgotten_docs',
         |    CAST(count(*) AS BIGINT) FROM fl WHERE isf = 1
         |UNION ALL SELECT 'packed_windows', 'forgotten_tokens',
         |    CAST(COALESCE(sum(n), 0) AS BIGINT) FROM fl WHERE isf = 1
         |UNION ALL SELECT 'rebuild', 'surviving_docs',
         |    CAST(count(*) AS BIGINT)
         |  FROM fl JOIN cb ON fl.shard_id = cb.shard_id AND fl.bin_id = cb.bin_id
         |  WHERE fl.isf = 0
         |UNION ALL SELECT 'rebuild', 'surviving_tokens',
         |    CAST(COALESCE(sum(n), 0) AS BIGINT)
         |  FROM fl JOIN cb ON fl.shard_id = cb.shard_id AND fl.bin_id = cb.bin_id
         |  WHERE fl.isf = 0
         |$mediaIndexReportSql
         |ORDER BY surface, metric""".stripMargin,
    // epoch-salted md5 keys, shard + rank + both position-weighted
    // checksums replayed; the resume checksum re-bases at n/2; each
    // term and the final sum reduce mod the shared prime exactly as
    // the Scala side (the r19 advice overflow fix)
    "epoch_order_resume" ->
      s"""WITH e AS (SELECT doc_id, CAST(epoch AS INT) AS epoch,
         |    md5('epoch' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS k
         |  FROM documents, unnest([0, 1]) t(epoch)),
         |s AS (SELECT doc_id, epoch, k,
         |    CAST(${hx60("k")} % 8 AS INT) AS shard_id,
         |    ${hx60("md5(CAST(doc_id AS VARCHAR))")} % $SigP AS h
         |  FROM e),
         |p AS (SELECT *,
         |    CAST(row_number() OVER (PARTITION BY epoch, shard_id ORDER BY k, doc_id) AS BIGINT) AS pos,
         |    CAST(count(*) OVER (PARTITION BY epoch, shard_id) // 2 AS BIGINT) AS half
         |  FROM s)
         |SELECT epoch, shard_id, CAST(count(*) AS BIGINT) AS n_docs,
         |  arg_min(doc_id, pos) AS first_doc, arg_max(doc_id, pos) AS last_doc,
         |  CAST(sum((pos * h) % $SigP) % $SigP AS BIGINT) AS order_sig,
         |  CAST(COALESCE(sum(CASE WHEN pos > half THEN ((pos - half) * h) % $SigP END), 0) % $SigP AS BIGINT) AS resume_sig
         |FROM p GROUP BY epoch, shard_id
         |ORDER BY epoch, shard_id""".stripMargin,
    // the SHARED ffd prefix (the permutation must answer against the
    // layout actually shipped) → per-window position-weighted content
    // checksum → epoch-salted keys, reader shards, rank + both mod-P
    // checksums — the epoch_order_resume replay lifted to windows
    "epoch_order_windows" ->
      s"""WITH RECURSIVE $ffdLayoutCtes,
         |ws AS (SELECT shard_id AS src_shard, bin_id,
         |    CAST(sum(((s + 1) * (${hx60("md5(CAST(doc_id AS VARCHAR))")} % $SigP)) % $SigP) % $SigP AS BIGINT) AS wsig
         |  FROM lay GROUP BY shard_id, bin_id),
         |e AS (SELECT src_shard, bin_id, wsig, CAST(epoch AS INT) AS epoch,
         |    md5('wepoch' || CAST(epoch AS VARCHAR) || ':' || CAST(src_shard AS VARCHAR)
         |      || ':' || CAST(bin_id AS VARCHAR)) AS k
         |  FROM ws, unnest([0, 1]) t(epoch)),
         |s2 AS (SELECT *, CAST(${hx60("k")} % 8 AS INT) AS shard_id, 1 + wsig AS h FROM e),
         |p AS (SELECT *,
         |    CAST(row_number() OVER (PARTITION BY epoch, shard_id ORDER BY k, src_shard, bin_id) AS BIGINT) AS pos,
         |    CAST(count(*) OVER (PARTITION BY epoch, shard_id) // 2 AS BIGINT) AS half,
         |    CAST(src_shard AS VARCHAR) || ':' || CAST(bin_id AS VARCHAR) AS wlabel
         |  FROM s2)
         |SELECT epoch, shard_id, CAST(count(*) AS BIGINT) AS n_windows,
         |  arg_min(wlabel, pos) AS first_win, arg_max(wlabel, pos) AS last_win,
         |  CAST(sum((pos * h) % $SigP) % $SigP AS BIGINT) AS order_sig,
         |  CAST(COALESCE(sum(CASE WHEN pos > half THEN ((pos - half) * h) % $SigP END), 0) % $SigP AS BIGINT) AS resume_sig
         |FROM p GROUP BY epoch, shard_id
         |ORDER BY epoch, shard_id""".stripMargin,
    // the post-compaction reader contract: the SHARED ffd prefix + the
    // SHARED rebuild recursion (clean bins keep generation g0, rebuilt
    // bins are g1) → per-window checksums → the same salted
    // permutation tail as epoch_order_windows
    "epoch_order_rebuilt" ->
      s"""WITH RECURSIVE $ffdLayoutCtes,
         |$rebuildFfdCtes,
         |cwins AS (SELECT 'g0' AS gen, l.shard_id AS src_shard, l.bin_id, l.doc_id, l.s
         |  FROM lay l LEFT JOIN cb ON l.shard_id = cb.shard_id AND l.bin_id = cb.bin_id
         |  WHERE cb.shard_id IS NULL),
         |rwins AS (SELECT 'g1', shard_id, bin_id, doc_id, s FROM rlay),
         |allw AS (SELECT * FROM cwins UNION ALL SELECT * FROM rwins),
         |ws AS (SELECT gen, src_shard, bin_id,
         |    CAST(sum(((s + 1) * (${hx60("md5(CAST(doc_id AS VARCHAR))")} % $SigP)) % $SigP) % $SigP AS BIGINT) AS wsig
         |  FROM allw GROUP BY gen, src_shard, bin_id),
         |e2 AS (SELECT gen, src_shard, bin_id, wsig, CAST(epoch AS INT) AS epoch,
         |    md5('repoch' || CAST(epoch AS VARCHAR) || ':' || gen || ':'
         |      || CAST(src_shard AS VARCHAR) || ':' || CAST(bin_id AS VARCHAR)) AS k
         |  FROM ws, unnest([0, 1]) t(epoch)),
         |s2 AS (SELECT *, CAST(${hx60("k")} % 8 AS INT) AS shard_id, 1 + wsig AS h FROM e2),
         |p AS (SELECT *,
         |    CAST(row_number() OVER (PARTITION BY epoch, shard_id
         |      ORDER BY k, gen, src_shard, bin_id) AS BIGINT) AS pos,
         |    CAST(count(*) OVER (PARTITION BY epoch, shard_id) // 2 AS BIGINT) AS half,
         |    gen || ':' || CAST(src_shard AS VARCHAR) || ':' || CAST(bin_id AS VARCHAR) AS wlabel
         |  FROM s2)
         |SELECT epoch, shard_id, CAST(count(*) AS BIGINT) AS n_windows,
         |  arg_min(wlabel, pos) AS first_win, arg_max(wlabel, pos) AS last_win,
         |  CAST(sum((pos * h) % $SigP) % $SigP AS BIGINT) AS order_sig,
         |  CAST(COALESCE(sum(CASE WHEN pos > half THEN ((pos - half) * h) % $SigP END), 0) % $SigP AS BIGINT) AS resume_sig
         |FROM p GROUP BY epoch, shard_id
         |ORDER BY epoch, shard_id""".stripMargin,
    // the artifact path must change nothing: shared oracle (the
    // bpe_artifact_roundtrip convention); the bit-for-bit
    // reconstruction is additionally require()-enforced in-query
    "unigram_artifact_roundtrip" -> UnigramOracle.unigramVocabSql,
    "unigram_segment" -> UnigramOracle.unigramSegmentSql,
    // the artifact path must change nothing: shared oracle (the
    // ann_ivf_persisted convention); the bit-for-bit reconstruction is
    // additionally require()-enforced inside the query
    "bpe_artifact_roundtrip" -> BpeOracle.bpeVocabSql,
    "pack_sequences_bpe" -> BpeOracle.packSequencesBpeSql,
    "pack_payload_bpe" -> BpeOracle.packPayloadBpeSql,
    "token_length_histogram_bpe" -> BpeOracle.tokenLengthHistogramBpeSql,
    "source_mixture_weights_bpe" -> BpeOracle.sourceMixtureWeightsBpeSql,
    // integer floor-division ppm weights; floor(sqrt) of a BIGINT is
    // engine-portable because IEEE sqrt is correctly rounded
    "source_mixture_weights" ->
      """WITH per AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(regexp_split_to_array(text, ' +'))) AS BIGINT) AS total_tokens
        |  FROM documents GROUP BY source),
        |per2 AS (SELECT *, CAST(floor(sqrt(CAST(total_tokens AS DOUBLE))) AS BIGINT) AS isq FROM per),
        |tot AS (SELECT CAST(sum(total_tokens) AS BIGINT) AS gt, CAST(sum(isq) AS BIGINT) AS gi FROM per2)
        |SELECT source, n_docs, total_tokens,
        |  total_tokens * 1000000 // gt AS weight_ppm,
        |  isq * 1000000 // gi AS smoothed_weight_ppm
        |FROM per2, tot
        |ORDER BY source""".stripMargin,
    // quota arithmetic identical to the weights oracle; membership by
    // the same portable md5 rank as temperature_resample
    "embedding_drift" ->
      """WITH x AS (SELECT
        |    CASE WHEN (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 2, 1)) - 1) < 128
        |      THEN 'ref' ELSE 'cur' END AS snap,
        |    unnest(range(1, len(embedding) + 1)) AS dim,
        |    unnest(list_transform(embedding,
        |      v -> CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT) + 2000)) AS q
        |  FROM embeddings),
        |a AS (SELECT dim,
        |    CAST(sum(CASE WHEN snap = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
        |    CAST(sum(CASE WHEN snap = 'cur' THEN 1 ELSE 0 END) AS BIGINT) AS cur_n,
        |    CAST(sum(CASE WHEN snap = 'ref' THEN q ELSE 0 END) AS BIGINT) AS ref_sum,
        |    CAST(sum(CASE WHEN snap = 'cur' THEN q ELSE 0 END) AS BIGINT) AS cur_sum
        |  FROM x GROUP BY dim)
        |SELECT CAST(dim AS BIGINT) AS dim, ref_n, cur_n,
        |  CASE WHEN ref_n > 0 THEN ref_sum // ref_n
        |    ELSE error('embedding_drift: empty ref snapshot') END - 2000 AS ref_mean_milli,
        |  CASE WHEN cur_n > 0 THEN cur_sum // cur_n
        |    ELSE error('embedding_drift: empty cur snapshot') END - 2000 AS cur_mean_milli,
        |  abs(CASE WHEN ref_n > 0 THEN ref_sum // ref_n
        |    ELSE error('embedding_drift: empty ref snapshot') END
        |   - CASE WHEN cur_n > 0 THEN cur_sum // cur_n
        |    ELSE error('embedding_drift: empty cur snapshot') END) AS drift_milli
        |FROM a ORDER BY drift_milli DESC, dim""".stripMargin,
    "corpus_drift" ->
      """WITH toks AS (SELECT
        |    CASE WHEN (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) < 128
        |      THEN 'ref' ELSE 'cur' END AS snap,
        |    unnest(regexp_split_to_array(
        |      trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')),
        |      ' ')) AS token
        |  FROM documents),
        |c AS (SELECT snap, token, CAST(count(*) AS BIGINT) AS n FROM toks
        |  WHERE length(token) > 0 GROUP BY snap, token),
        |tot AS (SELECT
        |    CAST((SELECT sum(n) FROM c WHERE snap = 'ref') AS BIGINT) AS ref_tot,
        |    CAST((SELECT sum(n) FROM c WHERE snap = 'cur') AS BIGINT) AS cur_tot),
        |topv AS (SELECT token FROM c WHERE snap = 'ref'
        |  ORDER BY n DESC, token LIMIT 50),
        |j AS (SELECT v.token,
        |    r.n AS ref_n, COALESCE(cu.n, 0) AS cur_n
        |  FROM topv v
        |  JOIN c r ON r.snap = 'ref' AND r.token = v.token
        |  LEFT JOIN c cu ON cu.snap = 'cur' AND cu.token = v.token)
        |SELECT token, ref_n, cur_n,
        |  CASE WHEN COALESCE(ref_tot, 0) > 0 THEN ref_n * 1000000 // ref_tot
        |    ELSE error('corpus_drift: empty ref snapshot') END AS ref_ppm,
        |  CASE WHEN COALESCE(cur_tot, 0) > 0 THEN cur_n * 1000000 // cur_tot
        |    ELSE error('corpus_drift: empty cur snapshot') END AS cur_ppm,
        |  abs(CASE WHEN COALESCE(ref_tot, 0) > 0 THEN ref_n * 1000000 // ref_tot
        |    ELSE error('corpus_drift: empty ref snapshot') END
        |   - CASE WHEN COALESCE(cur_tot, 0) > 0 THEN cur_n * 1000000 // cur_tot
        |    ELSE error('corpus_drift: empty cur snapshot') END) AS drift_ppm
        |FROM j, tot
        |ORDER BY drift_ppm DESC, token""".stripMargin,
    "mixture_token_budget" ->
      """WITH per AS (SELECT source,
        |    CAST(sum(len(regexp_split_to_array(text, ' +'))) AS BIGINT) AS total_tokens
        |  FROM documents GROUP BY source),
        |per2 AS (SELECT *, CAST(floor(sqrt(CAST(total_tokens AS DOUBLE))) AS BIGINT) AS isq FROM per),
        |tot AS (SELECT CAST(sum(isq) AS BIGINT) AS gi FROM per2),
        |t AS (SELECT source, isq * 1000000 // gi * 20000 // 1000000 AS budget_tokens FROM per2, tot),
        |r AS (SELECT source, doc_id,
        |    CAST(len(regexp_split_to_array(text, ' +')) AS BIGINT) AS n_tokens,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk,
        |    CAST(sum(len(regexp_split_to_array(text, ' +'))) OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM documents)
        |SELECT r.source, r.doc_id, r.rk, r.n_tokens, r.cum_tokens
        |FROM r JOIN t USING (source) WHERE r.cum_tokens <= t.budget_tokens
        |ORDER BY r.source, r.rk""".stripMargin,
    // the pass/slot arithmetic replayed exactly: per-source quotas from
    // the shared sqrt-smoothed plan, passLen = max(n div k, 1), pass =
    // epoch div passLen permutes by md5(id || ':' || pass), slot slices
    // ranks (slot*k, slot*k + k]
    "mixture_epoch_sample" ->
      """WITH per AS (SELECT source,
        |    CAST(sum(len(regexp_split_to_array(text, ' +'))) AS BIGINT) AS total_tokens
        |  FROM documents GROUP BY source),
        |per2 AS (SELECT *, CAST(floor(sqrt(CAST(total_tokens AS DOUBLE))) AS BIGINT) AS isq FROM per),
        |tot AS (SELECT CAST(sum(isq) AS BIGINT) AS gi FROM per2),
        |t AS (SELECT source, isq * 1000000 // gi * 200 // 1000000 AS target_k FROM per2, tot),
        |cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source),
        |pl AS (SELECT t.source, t.target_k, e.epoch,
        |    greatest(c.n // t.target_k, 1) AS passlen
        |  FROM t JOIN cnt c USING (source), range(0, 4) e(epoch) WHERE t.target_k > 0),
        |pl2 AS (SELECT source, epoch, target_k,
        |    epoch // passlen AS pass, epoch % passlen AS slot FROM pl),
        |r AS (SELECT d.source, d.doc_id, p.pass,
        |    CAST(row_number() OVER (PARTITION BY d.source, p.pass
        |      ORDER BY md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(p.pass AS VARCHAR)),
        |        d.doc_id) AS BIGINT) AS rk
        |  FROM documents d JOIN (SELECT DISTINCT source, pass FROM pl2) p USING (source))
        |SELECT p2.epoch, r.source, r.doc_id, r.rk - p2.slot * p2.target_k AS rk
        |FROM r JOIN pl2 p2 ON r.source = p2.source AND r.pass = p2.pass
        |WHERE r.rk > p2.slot * p2.target_k AND r.rk <= (p2.slot + 1) * p2.target_k
        |ORDER BY epoch, r.source, rk""".stripMargin,
    "mixture_plan_sample" ->
      """WITH per AS (SELECT source,
        |    CAST(sum(len(regexp_split_to_array(text, ' +'))) AS BIGINT) AS total_tokens
        |  FROM documents GROUP BY source),
        |per2 AS (SELECT *, CAST(floor(sqrt(CAST(total_tokens AS DOUBLE))) AS BIGINT) AS isq FROM per),
        |tot AS (SELECT CAST(sum(isq) AS BIGINT) AS gi FROM per2),
        |t AS (SELECT source, isq * 1000000 // gi * 200 // 1000000 AS target_k FROM per2, tot),
        |r AS (SELECT source, doc_id, row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents)
        |SELECT r.source, r.doc_id, CAST(r.rk AS BIGINT) AS rk
        |FROM r JOIN t USING (source) WHERE rk <= target_k
        |ORDER BY source, rk""".stripMargin,
    // exact linear-interpolation deciles: quantile_cont == Spark's
    // percentile (the corpus_stats precedent), replayed per source
    // the whole nearest-centroid training replayed: features → integer
    // teacher labels → scaled class means (floor division on positive
    // sums == Spark's truncating div) → weights/threshold → margins
    "quality_classifier_trained" ->
      s"""WITH $qualityClassifierCtes
         |SELECT l.doc_id, l.x1, l.x2, l.x3, l.x4, l.label,
         |  CAST(2000 * (w.w1*l.x1 + w.w2*l.x2 + w.w3*l.x3 + w.w4*l.x4) - w.t AS BIGINT) AS margin,
         |  CAST(CASE WHEN 2000 * (w.w1*l.x1 + w.w2*l.x2 + w.w3*l.x3 + w.w4*l.x4) - w.t > 0
         |    THEN 1 ELSE 0 END AS INT) AS pred
         |FROM l, w ORDER BY doc_id""".stripMargin,
    // the calibration view of the same trained classifier: the
    // confusion cells over teacher labels — reuses the training CTEs
    // verbatim, so classifier and audit can never drift apart
    "quality_classifier_confusion" ->
      s"""WITH $qualityClassifierCtes,
         |p AS (SELECT l.label,
         |    CAST(CASE WHEN 2000 * (w.w1*l.x1 + w.w2*l.x2 + w.w3*l.x3 + w.w4*l.x4) - w.t > 0
         |      THEN 1 ELSE 0 END AS INT) AS pred
         |  FROM l, w)
         |SELECT label, pred, CAST(count(*) AS BIGINT) AS n_docs
         |FROM p GROUP BY label, pred ORDER BY label, pred""".stripMargin,
    "quality_deciles_per_source" ->
      s"""WITH q AS (SELECT source, $sqlQualityExpr AS q FROM documents),
         |p AS (SELECT source, count(*) AS n_docs,
         |    quantile_cont(q, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS ps
         |  FROM q GROUP BY source)
         |SELECT source, CAST(d AS INT) AS decile, n_docs, round(ps[CAST(d AS INT)], 6) AS threshold
         |FROM p, unnest(range(1, 10)) t(d)
         |ORDER BY source, decile""".stripMargin,
    "corpus_stats" ->
      """WITH t AS (SELECT lang, len(regexp_split_to_array(text, ' +')) AS n_tokens FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_tokens) AS DOUBLE) / count(*) AS mean_tokens,
        |  quantile_cont(n_tokens, 0.5) AS p50_tokens,
        |  quantile_cont(n_tokens, 0.95) AS p95_tokens
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "top_tokens" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(regexp_split_to_array(
        |    trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')),
        |    ' ')) AS token
        |  FROM documents)
        |WHERE length(token) > 0
        |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin,
    // the WHOLE 4x256 Count-Min matrix replayed: counter(i, bucket) =
    // Σ counts of the tokens hashing there (equal to the instance-
    // stream sum), estimate = min over the 4 rows — exact integers
    "cms_heavy_hitters" ->
      s"""WITH t AS (SELECT unnest(regexp_split_to_array(
         |    trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')),
         |    ' ')) AS token FROM documents),
         |t2 AS (SELECT token FROM t WHERE length(token) > 0),
         |cnt AS (SELECT token, count(*) AS exact_c FROM t2 GROUP BY token),
         |b AS (SELECT token, i,
         |    ${hx60("md5('cms:' || CAST(i AS VARCHAR) || ':' || token)")} % 256 AS bucket
         |  FROM (SELECT DISTINCT token FROM t2), unnest(range(0, 4)) r(i)),
         |cm AS (SELECT i, bucket, CAST(sum(exact_c) AS BIGINT) AS c
         |  FROM cnt JOIN b USING (token) GROUP BY i, bucket),
         |top AS (SELECT token, exact_c FROM cnt ORDER BY exact_c DESC, token LIMIT 20),
         |est AS (SELECT b.token, min(cm.c) AS cms_est
         |  FROM b JOIN cm USING (i, bucket) JOIN top USING (token)
         |  GROUP BY b.token)
         |SELECT top.token, top.exact_c, est.cms_est,
         |  est.cms_est - top.exact_c AS err
         |FROM top JOIN est ON top.token = est.token
         |ORDER BY top.token""".stripMargin,
    "quality_score" ->
      s"""SELECT doc_id, $sqlQualityExpr AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    // the HistogramQuantile discrete-quartile rule (the
    // quantile_buckets_docs CTE block) over micro-unit quality, then
    // phase/shard/pos all replayed — including the md5 permutation that
    // IS the within-phase shuffle, so the training order itself is the
    // hashed artifact
    "curriculum_order" ->
      s"""WITH s AS (SELECT doc_id,
         |    CASE WHEN length(text) > 0
         |      THEN CAST(round($sqlQualityExpr * 1000000) AS BIGINT) END AS q_micro
         |  FROM documents),
         |h AS (SELECT q_micro AS v, count(*) AS c FROM s
         |  WHERE q_micro IS NOT NULL GROUP BY 1),
         |cum AS (SELECT v,
         |    sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
         |    sum(c) OVER () AS n FROM h),
         |b AS (SELECT
         |    min(CASE WHEN cm * 1000000 >= n * 250000 THEN v END) AS p1,
         |    min(CASE WHEN cm * 1000000 >= n * 500000 THEN v END) AS p2,
         |    min(CASE WHEN cm * 1000000 >= n * 750000 THEN v END) AS p3
         |  FROM cum),
         |p AS (SELECT doc_id, q_micro,
         |    CAST(CASE WHEN q_micro >= p3 THEN 0 WHEN q_micro >= p2 THEN 1
         |      WHEN q_micro >= p1 THEN 2 ELSE 3 END AS INT) AS phase,
         |    CAST(${hx60("md5(CAST(doc_id AS VARCHAR))")} % 8 AS INT) AS shard
         |  FROM s, b)
         |SELECT doc_id, q_micro, phase, shard,
         |  CAST(row_number() OVER (PARTITION BY phase, shard
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS pos
         |FROM p ORDER BY doc_id""".stripMargin,
    // the same deterministic page build, the same <[^>]*> strip (Java
    // regex and RE2 agree on this subset), ppm via truncating //
    "html_extract" ->
      """WITH p AS (SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title></head><body><p>' ||
        |    regexp_replace(text, '\. ', '.</p><p>', 'g') ||
        |    '</p><a href="/d' || CAST(doc_id AS VARCHAR) || '">more</a>' ||
        |    CASE WHEN doc_id % 3 = 0 THEN '<a href="/nav">nav nav nav</a>' ELSE '' END ||
        |    '</body></html>' AS page
        |  FROM documents),
        |e AS (SELECT doc_id AS id, page,
        |    trim(regexp_replace(regexp_replace(page, '<[^>]*>', ' ', 'g'), ' +', ' ', 'g')) AS text
        |  FROM p),
        |m AS (SELECT id, text,
        |    CAST(len(regexp_extract_all(page, '<[^>]*>')) AS BIGINT) AS n_tags,
        |    CAST((length(page) - length(replace(page, '<a ', ''))) / 3 AS INT) AS n_links,
        |    CAST(length(text) AS BIGINT) AS text_chars,
        |    CAST(COALESCE(list_sum(list_transform(
        |      regexp_extract_all(page, '<a [^>]*>([^<]*)</a>', 1), x -> length(x))), 0) AS BIGINT) AS link_chars,
        |    CAST(length(page) AS BIGINT) AS html_chars
        |  FROM e)
        |SELECT id, text, n_tags, n_links, text_chars, link_chars,
        |  CASE WHEN text_chars = 0 THEN 0
        |    ELSE (link_chars * 1000000) // text_chars END AS link_density_ppm,
        |  CASE WHEN html_chars = 0 THEN 0
        |    ELSE ((html_chars - text_chars) * 1000000) // html_chars END AS markup_ratio_ppm
        |FROM m ORDER BY id""".stripMargin,
    // the per-source discrete decile boundaries + the exceeded-boundary
    // count — null quality joins through the CASE to decile 0
    "quality_normalized" ->
      s"""WITH s AS (SELECT doc_id, source,
         |    CASE WHEN length(text) > 0
         |      THEN CAST(round($sqlQualityExpr * 1000000) AS BIGINT) END AS q_micro
         |  FROM documents),
         |h AS (SELECT source, q_micro AS v, count(*) AS c FROM s
         |  WHERE q_micro IS NOT NULL GROUP BY 1, 2),
         |cum AS (SELECT source, v,
         |    sum(c) OVER (PARTITION BY source ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
         |    sum(c) OVER (PARTITION BY source) AS n FROM h),
         |b AS (SELECT source, k,
         |    min(CASE WHEN cm * 1000000 >= n * k * 100000 THEN v END) AS bv
         |  FROM cum, unnest(range(1, 10)) t(k) GROUP BY source, k)
         |SELECT s.doc_id, s.source, s.q_micro,
         |  CAST(COALESCE(sum(CASE WHEN s.q_micro > b.bv THEN 1 ELSE 0 END), 0) AS INT) AS decile
         |FROM s LEFT JOIN b USING (source)
         |GROUP BY s.doc_id, s.source, s.q_micro
         |ORDER BY doc_id""".stripMargin,
    // the first-seen identity (vocab at prefix P = tokens whose min doc
    // id <= P) replayed over the decile boundaries of the id histogram
    "vocab_growth_curve" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(
        |    trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')),
        |    ' '), x -> length(x) > 0) AS ws FROM documents),
        |tf AS (SELECT token, min(doc_id) AS first_id
        |  FROM (SELECT doc_id, unnest(ws) AS token FROM w) GROUP BY token),
        |h AS (SELECT doc_id AS v, count(*) AS c FROM documents GROUP BY 1),
        |cum AS (SELECT v,
        |    sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
        |    sum(c) OVER () AS n FROM h),
        |bb AS (SELECT k, min(CASE WHEN cm * 1000000 >= n * k * 100000 THEN v END) AS boundary_id
        |  FROM cum, unnest(range(1, 11)) t(k) GROUP BY k),
        |g2 AS (SELECT k, boundary_id, count(*) AS n_docs,
        |    CAST(sum(len(ws)) AS BIGINT) AS n_tokens
        |  FROM w, bb WHERE doc_id <= boundary_id GROUP BY k, boundary_id),
        |g1 AS (SELECT k, count(*) AS vocab FROM tf, bb
        |  WHERE first_id <= boundary_id GROUP BY k)
        |SELECT CAST(k AS INT) AS point, boundary_id, n_docs, n_tokens,
        |  COALESCE(vocab, 0) AS vocab
        |FROM g2 LEFT JOIN g1 USING (k) ORDER BY point""".stripMargin,
    // floor(log2 c) replayed as length(bin(c)) - 1 — exact integers in
    // both engines; the mean is the only float (one division). ONE
    // oracle serves both variants: the hybrid join changes the plan
    // (head broadcast vs shuffle), never the result.
    "unigram_logfreq_score" -> sqlUnigramLogFreq,
    "unigram_logfreq_hybrid" -> sqlUnigramLogFreq,
    "bigram_logprob_score" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(
        |    trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')),
        |    ' '), x -> length(x) > 0) AS ws FROM documents),
        |bg AS (SELECT doc_id, ws[i] AS prev, ws[i+1] AS nxt
        |  FROM w, unnest(range(1, len(ws))) t(i)),
        |c2 AS (SELECT prev, nxt, count(*) AS c2 FROM bg GROUP BY prev, nxt),
        |c1 AS (SELECT prev, count(*) AS c1 FROM bg GROUP BY prev)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(length(bin(c2.c2)) - 1) AS BIGINT) AS sum_lg_pair,
        |  CAST(sum(length(bin(c1.c1)) - 1) AS BIGINT) AS sum_lg_prev,
        |  CAST(sum(length(bin(c2.c2)) - 1) - sum(length(bin(c1.c1)) - 1) AS BIGINT) AS cond_lg,
        |  round(CAST(sum(length(bin(c2.c2)) - 1) - sum(length(bin(c1.c1)) - 1) AS DOUBLE)
        |    / count(*), 6) AS mean_cond
        |FROM bg JOIN c2 USING (prev, nxt) JOIN c1 USING (prev)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "doc_fingerprint" ->
      "SELECT doc_id, md5(lower(text)) AS fp_md5 FROM documents ORDER BY doc_id",
    // every rule an integer comparison over signals other gates already
    // pin (trigram CTEs shared in spirit with doc_repetition's)
    "quality_gates_report" ->
      """WITH w AS (SELECT doc_id, source, text,
        |    regexp_split_to_array(lower(text), ' +') AS ws FROM documents),
        |t3 AS (SELECT doc_id, array_to_string(ws[i+1:i+3], ' ') AS g
        |  FROM w, unnest(range(0, greatest(len(ws) - 3, 0) + 1)) t(i)),
        |a3 AS (SELECT doc_id, count(*) AS t3, count(DISTINCT g) AS d3 FROM t3 GROUP BY doc_id),
        |per AS (SELECT w.doc_id, w.source,
        |    CAST(len(regexp_split_to_array(w.text, ' +')) AS BIGINT) AS n_tok,
        |    CAST(length(w.text) AS BIGINT) AS n_chars,
        |    CAST(len(list_filter(regexp_split_to_array(lower(w.text), ' +'),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is'))) AS BIGINT) AS n_stop,
        |    CAST(length(regexp_replace(lower(w.text), '[a-z0-9 ]', '', 'g')) AS BIGINT) AS n_sym,
        |    CAST(coalesce(a3.t3, 0) AS BIGINT) AS t3, CAST(coalesce(a3.d3, 0) AS BIGINT) AS d3
        |  FROM w LEFT JOIN a3 USING (doc_id)),
        |fl AS (SELECT source,
        |    CASE WHEN n_tok BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS p_len,
        |    CASE WHEN n_chars BETWEEN n_tok*3 AND n_tok*10 THEN 1 ELSE 0 END AS p_word,
        |    CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS p_stop,
        |    CASE WHEN t3 = 0 OR d3*10 >= t3*7 THEN 1 ELSE 0 END AS p_rep,
        |    CASE WHEN n_sym*10 <= n_chars THEN 1 ELSE 0 END AS p_sym
        |  FROM per)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(p_len) AS BIGINT) AS pass_len,
        |  CAST(sum(p_word) AS BIGINT) AS pass_word_len,
        |  CAST(sum(p_stop) AS BIGINT) AS pass_stopword,
        |  CAST(sum(p_rep) AS BIGINT) AS pass_repetition,
        |  CAST(sum(p_sym) AS BIGINT) AS pass_symbol,
        |  CAST(sum(CASE WHEN p_len+p_word+p_stop+p_rep+p_sym = 5 THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
        |FROM fl GROUP BY source ORDER BY source""".stripMargin,
    // exact counts + exact IEEE divisions of them — no rounding needed
    "doc_repetition" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(lower(text), ' +') AS ws FROM documents),
        |t3 AS (SELECT doc_id, array_to_string(ws[i+1:i+3], ' ') AS g
        |  FROM w, unnest(range(0, greatest(len(ws) - 3, 0) + 1)) t(i)),
        |a3 AS (SELECT doc_id, count(*) AS n_grams, count(DISTINCT g) AS n_distinct
        |  FROM t3 GROUP BY doc_id),
        |t2 AS (SELECT doc_id, array_to_string(ws[i+1:i+2], ' ') AS g
        |  FROM w, unnest(range(0, greatest(len(ws) - 2, 0) + 1)) t(i)),
        |c2 AS (SELECT doc_id, g, count(*) AS c FROM t2 GROUP BY doc_id, g),
        |a2 AS (SELECT doc_id, max(c) AS top_bigram_n,
        |  CAST(sum(c) AS BIGINT) AS n_bigrams FROM c2 GROUP BY doc_id)
        |SELECT a3.doc_id, n_grams, n_distinct,
        |  1.0 - CAST(n_distinct AS DOUBLE) / n_grams AS dup3_frac,
        |  top_bigram_n, n_bigrams,
        |  CAST(top_bigram_n AS DOUBLE) / n_bigrams AS top2_frac
        |FROM a3 JOIN a2 ON a3.doc_id = a2.doc_id
        |ORDER BY a3.doc_id""".stripMargin,
    // gaps-and-islands replay of the consecutive-same-lang chain graph:
    // within a lang, consecutive doc_ids share (doc_id - row_number),
    // and the component label is the run's min doc_id — exactly what
    // min-label propagation converges to.
    "dedup_components" ->
      """WITH g AS (
        |  SELECT doc_id, lang,
        |    doc_id - row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS grp
        |  FROM documents)
        |SELECT doc_id, min(doc_id) OVER (PARTITION BY lang, grp) AS component
        |FROM g ORDER BY doc_id""".stripMargin,
    // marker-word argmax replayed in SQL: per-language substring counts
    // via length arithmetic (identical in both engines); ties resolve to
    // the FIRST language in the marker list, matching Spark's
    // array_position-first semantics.
    "lang_id" ->
      (s"WITH $langIdCtes\n" +
       s"""SELECT doc_id, $langIdGuessCase AS lang_guess
         |FROM sc ORDER BY doc_id""".stripMargin),
    // declared label vs heuristic guess — the audit a pipeline reads
    // before trusting either column; shares the score CTEs with lang_id
    "lang_id_confusion" ->
      (s"WITH $langIdCtes,\n" +
       s"""g AS (SELECT doc_id, $langIdGuessCase AS lang_guess FROM sc)
         |SELECT d.lang, g.lang_guess, count(*) AS n_docs
         |FROM documents d JOIN g USING (doc_id)
         |GROUP BY d.lang, g.lang_guess ORDER BY d.lang, g.lang_guess""".stripMargin),
    "doc_chunks" ->
      """WITH w AS (SELECT doc_id,
        |    regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')), ' +') AS words
        |  FROM documents),
        |c AS (SELECT doc_id, i AS chunk_idx,
        |    array_to_string(words[i*56+1 : i*56+64], ' ') AS chunk
        |  FROM w, unnest(range(0, greatest((len(words) - 8 - 1) // 56, 0) + 1)) AS t(i))
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, chunk FROM c
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    // the packing assignment is pure integer arithmetic over the
    // doc_id-ordered running token count (window sum replay)
    // the FFD loop replayed exactly: docs in (n DESC, id ASC) order,
    // one recursion step per doc, state = the bin-remainder list;
    // first fit via list_position over a >=-mask, else append a new
    // bin (covers oversized docs: nothing fits, the new bin runs
    // negative and never fits again)
    // same in-plan corruption (md5 bucket < 64, marker by bucket mod
    // 4), same \x-escape regex classes (Java regex and RE2 read them
    // identically), same repair-then-rescan accounting
    "unicode_normalization" ->
      s"""WITH bkt AS (SELECT *,
         |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
         |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS hb
         |  FROM documents),
         |c AS (SELECT source, CASE WHEN hb < 64
         |    THEN text || ' cafe' || chr(769) || ' nai' || chr(776) || 've'
         |    ELSE text END AS t FROM bkt),
         |n AS (SELECT source, t, nfc_normalize(t) AS nt FROM c)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN t <> nt THEN 1 ELSE 0 END) AS BIGINT) AS docs_not_nfc,
         |  CAST(sum(length(t) - length(nt)) AS BIGINT) AS chars_delta,
         |  bit_xor(${hx60("md5(nt)")}) AS nfc_xor
         |FROM n GROUP BY source ORDER BY source""".stripMargin,
    "encoding_hygiene" -> sqlEncodingHygiene,
    // the FFD recursive replay rolled up per bin; string_agg ORDER BY
    // (n DESC, doc_id) is exactly the placement order the Spark side
    // sorts structs by
    // per-shard lockstep replay: one recursion advances every shard's
    // next-ranked doc against its own remainder list; shard id is the
    // hx60-parse of md5(doc_id) mod 8 — the shard_manifest rule
    "pack_sequences_ffd_sharded" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id,
         |    CAST(len(regexp_split_to_array(text, ' +')) AS BIGINT) AS n,
         |    CAST(${hx60("md5(CAST(doc_id AS VARCHAR))")} % 8 AS INT) AS shard_id,
         |    row_number() OVER (PARTITION BY CAST(${hx60("md5(CAST(doc_id AS VARCHAR))")} % 8 AS INT)
         |      ORDER BY len(regexp_split_to_array(text, ' +')) DESC, doc_id) AS rn
         |  FROM documents),
         |ffd AS (
         |  SELECT shard_id, 0::BIGINT AS rn, NULL::BIGINT AS doc_id, NULL::BIGINT AS n,
         |    NULL::BIGINT AS bin_id, []::BIGINT[] AS rem
         |  FROM (SELECT DISTINCT shard_id FROM d)
         |  UNION ALL
         |  SELECT shard_id, rn, doc_id, n,
         |    CASE WHEN fit IS NULL THEN len(rem0) ELSE fit - 1 END AS bin_id,
         |    CASE WHEN fit IS NULL THEN list_append(rem0, 2048 - n)
         |         ELSE list_transform(range(1, len(rem0) + 1),
         |                i -> CASE WHEN i = fit THEN rem0[i] - n ELSE rem0[i] END)
         |    END AS rem
         |  FROM (
         |    SELECT d.shard_id, d.rn, d.doc_id, d.n, f.rem AS rem0,
         |      NULLIF(list_position(list_transform(f.rem, x -> x >= d.n), true), 0) AS fit
         |    FROM ffd f JOIN d ON d.shard_id = f.shard_id AND d.rn = f.rn + 1) s)
         |SELECT shard_id, doc_id, n AS n_tokens, bin_id FROM ffd WHERE rn > 0
         |ORDER BY shard_id, doc_id""".stripMargin,
    // the sharded FFD recursion, extended with placement-order windows
    // (seq = rank by FFD order within the bin, offset = running fill),
    // then the full 2048-slot segment/position expansion per bin —
    // `lay` and `b` are each consumed twice, so MATERIALIZED (the
    // BpeOracle CTE-inlining lesson)
    "pack_sequences_layout" ->
      s"""WITH RECURSIVE $ffdLayoutCtes,
         |b AS MATERIALIZED (SELECT shard_id, bin_id,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n) AS BIGINT) AS used_tokens,
         |    greatest(2048 - CAST(sum(n) AS BIGINT), 0) AS pad_tokens,
         |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY s) AS doc_ids,
         |    string_agg(CAST(off AS VARCHAR), ',' ORDER BY s) AS offsets
         |  FROM lay GROUP BY shard_id, bin_id),
         |slots AS (SELECT b.shard_id, b.bin_id, t.tt,
         |    CASE WHEN t.tt >= b.used_tokens THEN 'p'
         |      ELSE CAST(l.s AS VARCHAR) || '/' || CAST(t.tt - l.off AS VARCHAR) END AS lab
         |  FROM b CROSS JOIN unnest(range(0, 2048)) t(tt)
         |  LEFT JOIN lay l ON l.shard_id = b.shard_id AND l.bin_id = b.bin_id
         |    AND l.off <= t.tt AND t.tt < l.off + l.n),
         |sm AS (SELECT shard_id, bin_id, md5(string_agg(lab, ' ' ORDER BY tt)) AS slots_md5
         |  FROM slots GROUP BY shard_id, bin_id)
         |SELECT b.shard_id, b.bin_id, b.n_docs, b.used_tokens, b.pad_tokens,
         |  b.doc_ids, b.offsets, sm.slots_md5
         |FROM b JOIN sm ON b.shard_id = sm.shard_id AND b.bin_id = sm.bin_id
         |ORDER BY b.shard_id, b.bin_id""".stripMargin,
    "pack_payload_ffd" ->
      """WITH RECURSIVE d AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(text, ' +')) AS BIGINT) AS n,
        |    row_number() OVER (ORDER BY len(regexp_split_to_array(text, ' +')) DESC, doc_id) AS rn
        |  FROM documents),
        |ffd AS (
        |  SELECT 0::BIGINT AS rn, NULL::BIGINT AS doc_id, NULL::BIGINT AS n,
        |    NULL::BIGINT AS bin_id, []::BIGINT[] AS rem
        |  UNION ALL
        |  SELECT rn, doc_id, n,
        |    CASE WHEN fit IS NULL THEN len(rem0) ELSE fit - 1 END AS bin_id,
        |    CASE WHEN fit IS NULL THEN list_append(rem0, 2048 - n)
        |         ELSE list_transform(range(1, len(rem0) + 1),
        |                i -> CASE WHEN i = fit THEN rem0[i] - n ELSE rem0[i] END)
        |    END AS rem
        |  FROM (
        |    SELECT d.rn, d.doc_id, d.n, f.rem AS rem0,
        |      NULLIF(list_position(list_transform(f.rem, x -> x >= d.n), true), 0) AS fit
        |    FROM ffd f JOIN d ON d.rn = f.rn + 1) s)
        |SELECT bin_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS used_tokens,
        |  greatest(2048 - CAST(sum(n) AS BIGINT), 0) AS pad_tokens,
        |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY n DESC, doc_id)) AS ids_md5
        |FROM ffd WHERE rn > 0 GROUP BY bin_id
        |ORDER BY bin_id""".stripMargin,
    "pack_sequences_ffd" ->
      """WITH RECURSIVE d AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(text, ' +')) AS BIGINT) AS n,
        |    row_number() OVER (ORDER BY len(regexp_split_to_array(text, ' +')) DESC, doc_id) AS rn
        |  FROM documents),
        |ffd AS (
        |  SELECT 0::BIGINT AS rn, NULL::BIGINT AS doc_id, NULL::BIGINT AS n,
        |    NULL::BIGINT AS bin_id, []::BIGINT[] AS rem
        |  UNION ALL
        |  SELECT rn, doc_id, n,
        |    CASE WHEN fit IS NULL THEN len(rem0) ELSE fit - 1 END AS bin_id,
        |    CASE WHEN fit IS NULL THEN list_append(rem0, 2048 - n)
        |         ELSE list_transform(range(1, len(rem0) + 1),
        |                i -> CASE WHEN i = fit THEN rem0[i] - n ELSE rem0[i] END)
        |    END AS rem
        |  FROM (
        |    SELECT d.rn, d.doc_id, d.n, f.rem AS rem0,
        |      NULLIF(list_position(list_transform(f.rem, x -> x >= d.n), true), 0) AS fit
        |    FROM ffd f JOIN d ON d.rn = f.rn + 1) s)
        |SELECT doc_id, n AS n_tokens, bin_id FROM ffd WHERE rn > 0
        |ORDER BY doc_id""".stripMargin,
    "pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |    len(regexp_split_to_array(text, ' +')) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id
        |FROM c ORDER BY doc_id""".stripMargin,
    // same chunking CTE as doc_chunks, then md5-group: keeper is the
    // lexicographically smallest (doc_id, chunk_idx) — Spark's
    // min(struct(..)) ordering
    "dedup_chunks" ->
      """WITH w AS (SELECT doc_id,
        |    regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')), ' +') AS words
        |  FROM documents),
        |c AS (SELECT doc_id, i AS chunk_idx,
        |    md5(array_to_string(words[i*56+1 : i*56+64], ' ')) AS chunk_md5
        |  FROM w, unnest(range(0, greatest((len(words) - 8 - 1) // 56, 0) + 1)) AS t(i)),
        |r AS (SELECT chunk_md5, doc_id, chunk_idx,
        |    count(*) OVER (PARTITION BY chunk_md5) AS n_copies,
        |    row_number() OVER (PARTITION BY chunk_md5 ORDER BY doc_id, chunk_idx) AS rn
        |  FROM c)
        |SELECT chunk_md5, CAST(n_copies AS BIGINT) AS n_copies,
        |  keep_doc_id, CAST(keep_chunk_idx AS INT) AS keep_chunk_idx
        |FROM (SELECT chunk_md5, n_copies, doc_id AS keep_doc_id,
        |        chunk_idx AS keep_chunk_idx FROM r WHERE rn = 1 AND n_copies >= 2)
        |ORDER BY chunk_md5""".stripMargin,
    // the CDC boundary rule, cut list, span framing, and chunk hashes
    // all recomputed via the shared cdcChunkCtes block — the md5-window
    // rule needs no rolling state, so the replay is a per-position scan
    "dedup_cdc_chunks" ->
      (s"WITH ${cdcChunkCtes("", "documents")},\n" +
       """g AS (SELECT h, count(*) AS n_copies, count(DISTINCT doc_id) AS n_docs,
         |    CAST(sum(clen) AS BIGINT) AS total_chars
         |  FROM chunks GROUP BY h HAVING count(*) >= 2),
         |k AS (SELECT h, doc_id AS keep_doc_id, chunk_idx AS keep_chunk_idx
         |  FROM (SELECT h, doc_id, chunk_idx,
         |      row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rk
         |    FROM chunks) WHERE rk = 1)
         |SELECT h AS chunk_md5, n_copies, n_docs, total_chars,
         |  keep_doc_id, keep_chunk_idx
         |FROM g JOIN k USING (h) ORDER BY chunk_md5""".stripMargin),
    // day-2 CDC: the corpus chunk-hash universe (the persisted bucketed
    // index on the Spark side — layout never changes results) probed by
    // the batch's chunk stream; per batch doc, the known-content mass
    "dedup_cdc_incremental" ->
      (s"""WITH bkt AS (SELECT doc_id,
         |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
         |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bk
         |  FROM documents),
         |corp AS (SELECT d.doc_id, d.text FROM documents d JOIN bkt USING (doc_id) WHERE bk < 128),
         |src AS (SELECT d.doc_id, d.text FROM documents d JOIN bkt USING (doc_id) WHERE bk >= 128
         |  UNION ALL
         |  SELECT d.doc_id + $sqlEchoBase, d.text
         |  FROM documents d JOIN bkt USING (doc_id) WHERE bk < 8),
         |""".stripMargin +
       cdcChunkCtes("c", "corp") + ",\n" + cdcChunkCtes("b", "src") + ",\n" +
       """idx AS (SELECT DISTINCT h FROM cchunks)
         |SELECT b.doc_id, count(*) AS n_chunks, count(idx.h) AS n_known,
         |  CAST(sum(b.clen) AS BIGINT) AS total_chars,
         |  CAST(COALESCE(sum(CASE WHEN idx.h IS NOT NULL THEN b.clen END), 0) AS BIGINT) AS known_chars,
         |  (CAST(COALESCE(sum(CASE WHEN idx.h IS NOT NULL THEN b.clen END), 0) AS BIGINT)
         |    * 1000000) // CAST(sum(b.clen) AS BIGINT) AS dup_ppm
         |FROM bchunks b LEFT JOIN idx ON b.h = idx.h
         |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin),
    "pipeline_clean_corpus" ->
      """WITH q AS (
        |  SELECT doc_id, text, round(
        |      least(CAST(len(regexp_split_to_array(text, ' +')) AS DOUBLE) / 50.0, 1.0) * 0.4
        |    + (CASE WHEN CAST(length(text) AS DOUBLE) / len(regexp_split_to_array(text, ' +'))
        |            BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.3
        |    + greatest(0.0, 1.0 - (CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
        |                           / length(text)) * 10.0) * 0.3, 6) AS q
        |  FROM documents),
        |f AS (SELECT doc_id, text FROM q WHERE q >= 0.5),
        |k AS (SELECT doc_id, text,
        |    row_number() OVER (PARTITION BY md5(lower(text)) ORDER BY doc_id) AS rk FROM f),
        |keep AS (SELECT doc_id, text FROM k WHERE rk = 1),
        |w AS (SELECT doc_id,
        |    regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')), ' +') AS words
        |  FROM keep),
        |c AS (SELECT doc_id, i AS chunk_idx,
        |    array_to_string(words[i*56+1 : i*56+64], ' ') AS chunk
        |  FROM w, unnest(range(0, greatest((len(words) - 8 - 1) // 56, 0) + 1)) AS t(i))
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, chunk FROM c
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    // stub features are integer byte sums / 255 — exact in any engine;
    // corpus is pure ASCII so ord(char) == byte (validated at all SFs)
    "media_features" ->
      """WITH b AS (SELECT doc_id, (i - 1) % 4 AS r, ord(substr(text, CAST(i AS INT), 1)) AS v
        |  FROM documents, unnest(range(1, length(text) + 1)) t(i))
        |SELECT doc_id,
        |  round(COALESCE(sum(CASE WHEN r = 0 THEN v END), 0) / 255.0, 4) AS f0,
        |  round(COALESCE(sum(CASE WHEN r = 1 THEN v END), 0) / 255.0, 4) AS f1
        |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // md5-bucket split: first two hex chars parsed as 0..255, train
    // when below 90*256/100 = 230 — identical in any engine
    // the same hash-bucket corpus/batch split, the same in-plan echo
    // injection, content-hash lookup, min-per-hash first-holder rule
    "dedup_incremental" -> sqlDedupIncremental,
    // bucketing changes layout, never results — same oracle
    "dedup_incremental_bucketed" -> sqlDedupIncremental,
    // df over the distinct (doc, token) pairs; postings replayed as
    // the 20 smallest doc_ids per token (GroupTopK changes the shuffle
    // volume, never the selected set), comma-joined to a varchar so
    // the cross-engine comparator never sees an array column
    "inverted_index" ->
      """WITH toks AS (SELECT DISTINCT doc_id, token FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(
        |      trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')),
        |      ' ')) AS token
        |    FROM documents)
        |  WHERE length(token) > 0),
        |df AS (SELECT token, count(*) AS df FROM toks GROUP BY token),
        |top AS (SELECT token, doc_id FROM (
        |    SELECT token, doc_id, row_number() OVER (PARTITION BY token
        |      ORDER BY doc_id) AS rk FROM toks) WHERE rk <= 20),
        |p AS (SELECT token, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |  FROM top GROUP BY token)
        |SELECT df.token, df.df, p.postings FROM df JOIN p USING (token)
        |ORDER BY token""".stripMargin,
    // quantized BM25 replayed verbatim: bit-length idf, milli/micro
    // fixed point with truncating integer division at every step —
    // `//` (DuckDB) and `DIV` (Spark) agree on non-negative BIGINTs
    "bm25_topk" -> sqlBm25TopK,
    "bm25_topk_maxdf" ->
      s"""WITH ${sqlBm25CtesWith(400000L)}
        |SELECT query_id, doc_id, score_micro FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score_micro DESC, doc_id) AS rk FROM sc)
        |WHERE rk <= 10 ORDER BY query_id, doc_id""".stripMargin,
    // the persisted-index deployment is a LAYOUT variant: same result
    // by construction, same oracle SQL (the shared-oracle rule)
    "bm25_topk_persisted" -> sqlBm25TopK,
    // the tombstone mask on the candidate postings ONLY — tf/dl/st/idf
    // CTEs replay UNmasked (the stale-stats contract)
    "bm25_topk_forget" ->
      s"""WITH ${sqlBm25CtesWith(1000000L,
             s"\n      |    AND NOT (${hx60("md5('forget:' || CAST(tf.doc_id AS VARCHAR))")} % 50 = 0)")}
        |SELECT query_id, doc_id, score_micro FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score_micro DESC, doc_id) AS rk FROM sc)
        |WHERE rk <= 10 ORDER BY query_id, doc_id""".stripMargin,
    // the appended index equals the from-scratch index (doc-disjoint
    // batches, per-(doc,token) rows): same oracle, drift impossible
    "bm25_topk_incremental" -> sqlBm25TopK,
    // both retrievers replayed (the shared BM25 block + the
    // ann_bruteforce cosine ranking over the shared query ids), fused
    // with exact ppm integer 1/(60+rank) contributions
    "rrf_fusion" ->
      s"""WITH $sqlBm25Ctes,
        |lex AS (SELECT query_id, doc_id, rk AS rank FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_micro DESC, doc_id) AS rk FROM sc)
        |  WHERE rk <= 10),
        |dense AS (SELECT query_id, doc_id, rank FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
        |    FROM embeddings q JOIN embeddings c ON q.vec_id < 5 AND c.vec_id != q.vec_id)
        |  WHERE rank <= 10),
        |u AS (SELECT query_id, doc_id, 1000000 // (60 + rank) AS contrib FROM lex
        |  UNION ALL SELECT query_id, doc_id, 1000000 // (60 + rank) FROM dense),
        |f AS (SELECT query_id, doc_id, CAST(sum(contrib) AS BIGINT) AS rrf_ppm,
        |    count(*) AS n_lists FROM u GROUP BY query_id, doc_id)
        |SELECT query_id, doc_id, rrf_ppm, n_lists FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY rrf_ppm DESC, doc_id) AS rk2 FROM f)
        |WHERE rk2 <= 5 ORDER BY query_id, doc_id""".stripMargin,
    // stage 1 = the shared BM25 block (top-20); stage 2 = exact integer
    // dot of 1e-3-quantized embeddings (cosine in 1e-6 units on the
    // unit-norm fixture), top-5 by (dot_q DESC, doc_id)
    "hybrid_rerank" ->
      s"""WITH $sqlBm25Ctes,
        |cand AS (SELECT query_id, doc_id, score_micro FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_micro DESC, doc_id) AS rk FROM sc)
        |  WHERE rk <= 20),
        |qv AS (SELECT vec_id AS query_id, i,
        |    CAST(floor(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * 1000) AS BIGINT) AS q
        |  FROM embeddings, unnest(range(0, len(embedding))) t(i) WHERE vec_id < 5),
        |dv AS (SELECT vec_id AS doc_id, i,
        |    CAST(floor(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * 1000) AS BIGINT) AS q
        |  FROM embeddings, unnest(range(0, len(embedding))) t(i)),
        |dots AS (SELECT c.query_id, c.doc_id, c.score_micro,
        |    CAST(sum(dv.q * qv.q) AS BIGINT) AS dot_q
        |  FROM cand c JOIN dv ON dv.doc_id = c.doc_id
        |  JOIN qv ON qv.query_id = c.query_id AND qv.i = dv.i
        |  GROUP BY c.query_id, c.doc_id, c.score_micro)
        |SELECT query_id, doc_id, score_micro, dot_q FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY dot_q DESC, doc_id) AS rk FROM dots)
        |WHERE rk <= 5 ORDER BY query_id, doc_id""".stripMargin,
    // the hybrid replay (shared CTE chain above) scored against the
    // exact-cosine brute-force ground truth on the same 5-query sample
    "retrieval_recall_audit" ->
      s"""WITH $sqlBm25Ctes,
        |cand AS (SELECT query_id, doc_id, score_micro FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_micro DESC, doc_id) AS rk FROM sc)
        |  WHERE rk <= 200),
        |qv AS (SELECT vec_id AS query_id, i,
        |    CAST(floor(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * 1000) AS BIGINT) AS q
        |  FROM embeddings, unnest(range(0, len(embedding))) t(i) WHERE vec_id < 5),
        |dv AS (SELECT vec_id AS doc_id, i,
        |    CAST(floor(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * 1000) AS BIGINT) AS q
        |  FROM embeddings, unnest(range(0, len(embedding))) t(i)),
        |dots AS (SELECT c.query_id, c.doc_id, c.score_micro,
        |    CAST(sum(dv.q * qv.q) AS BIGINT) AS dot_q
        |  FROM cand c JOIN dv ON dv.doc_id = c.doc_id
        |  JOIN qv ON qv.query_id = c.query_id AND qv.i = dv.i
        |  GROUP BY c.query_id, c.doc_id, c.score_micro),
        |hyb AS (SELECT query_id, doc_id AS corpus_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY dot_q DESC, doc_id) AS rk FROM dots)
        |  WHERE rk <= 5),
        |brute AS (SELECT query_id, corpus_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
        |    FROM embeddings q JOIN embeddings c ON q.vec_id < 5 AND c.vec_id != q.vec_id)
        |  WHERE rank <= 5)
        |SELECT b.query_id, count(*) AS k, count(h.corpus_id) AS n_hits,
        |  CAST(count(h.corpus_id) * 100 // count(*) AS BIGINT) AS recall_pct
        |FROM brute b LEFT JOIN hyb h ON b.query_id = h.query_id AND b.corpus_id = h.corpus_id
        |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin,
    // the oracle replays the banner injection, the disjoint 8-word
    // span quantization, the distinct-doc df rule, and the kept-text
    // md5 reconstruction (position-ordered string_agg)
    "boilerplate_removal" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(
        |    'subscribe to our newsletter for more updates today ' ||
        |    trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')),
        |    ' ') AS ws FROM documents),
        |sp AS (SELECT doc_id, i AS pos, array_to_string(ws[i*8+1 : i*8+8], ' ') AS span
        |  FROM w, unnest(range(0, len(ws) // 8)) t(i)),
        |bo AS (SELECT span FROM (
        |    SELECT span, count(DISTINCT doc_id) AS df FROM sp GROUP BY span) WHERE df >= 2),
        |f AS (SELECT sp.doc_id, sp.pos, sp.span, bo.span IS NOT NULL AS b
        |  FROM sp LEFT JOIN bo ON sp.span = bo.span)
        |SELECT doc_id, count(*) AS n_spans,
        |  count(CASE WHEN b THEN 1 END) AS n_boiler,
        |  md5(COALESCE(string_agg(span, ' ' ORDER BY pos) FILTER (WHERE NOT b), '')) AS kept_md5
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // tf/df is ONE IEEE division — correctly rounded, so the score
    // doubles (and the rank they induce) are bit-identical
    "distinctive_terms" ->
      """WITH toks AS (SELECT doc_id, token FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(
        |      trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')),
        |      ' ')) AS token
        |    FROM documents)
        |  WHERE length(token) > 0),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |j AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |    CAST(tf.tf AS DOUBLE) / df.df AS score
        |  FROM tf JOIN df USING (token))
        |SELECT doc_id, token, tf, df, score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, token) AS rk FROM j)
        |WHERE rk <= 3 ORDER BY doc_id, token""".stripMargin,
    // floor(sqrt(n)) is IEEE-exact in both engines; the md5 rank rule
    // is the shared deterministic-sampling convention
    "temperature_resample" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |t AS (SELECT lang, least(n, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) * 4) AS k FROM c),
        |r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents)
        |SELECT r.lang, r.doc_id FROM r JOIN t USING (lang) WHERE rk <= t.k
        |ORDER BY lang, doc_id""".stripMargin,
    // the oracle replays the whole pipeline: the same md5 hash-bucket
    // split, the same distinct 3-gram 60-bit shingle hashes (shared
    // hx60 parsing), the same overlap counts and flag rule
    "decontaminate_docs" ->
      s"""WITH bkt AS (SELECT doc_id,
         |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
         |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bk
         |  FROM documents),
         |w AS (SELECT doc_id, regexp_split_to_array(lower(text), ' +') AS ws FROM documents),
         |shm AS (SELECT DISTINCT doc_id, md5(array_to_string(ws[i+1:i+3], ' ')) AS md
         |  FROM w, unnest(range(0, greatest(len(ws) - 3, 0) + 1)) t(i)),
         |sh AS (SELECT DISTINCT doc_id, ${hx60("md")} AS h FROM shm),
         |ev AS (SELECT DISTINCT h FROM sh JOIN bkt USING (doc_id) WHERE bk < 13),
         |tr AS (SELECT sh.doc_id, sh.h FROM sh JOIN bkt USING (doc_id) WHERE bk >= 13)
         |SELECT tr.doc_id, count(*) AS n_grams, count(ev.h) AS n_overlap,
         |  CAST(CASE WHEN count(ev.h) >= 2 THEN 1 ELSE 0 END AS INT) AS contaminated
         |FROM tr LEFT JOIN ev ON tr.h = ev.h
         |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin,
    // the same shingle blocks keyed by the eval slice's lang label,
    // inner-joined (hits only), then the per-benchmark model-card rollup
    "decontaminate_report" ->
      s"""WITH bkt AS (SELECT doc_id,
         |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
         |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bk
         |  FROM documents),
         |w AS (SELECT doc_id, regexp_split_to_array(lower(text), ' +') AS ws FROM documents),
         |shm AS (SELECT DISTINCT doc_id, md5(array_to_string(ws[i+1:i+3], ' ')) AS md
         |  FROM w, unnest(range(0, greatest(len(ws) - 3, 0) + 1)) t(i)),
         |sh AS (SELECT DISTINCT doc_id, ${hx60("md")} AS h FROM shm),
         |ev AS (SELECT DISTINCT d.lang AS bench, sh.h
         |  FROM sh JOIN bkt USING (doc_id) JOIN documents d USING (doc_id) WHERE bk < 13),
         |tr AS (SELECT sh.doc_id, sh.h FROM sh JOIN bkt USING (doc_id) WHERE bk >= 13),
         |per AS (SELECT tr.doc_id, ev.bench, count(*) AS n_overlap
         |  FROM tr JOIN ev ON tr.h = ev.h GROUP BY tr.doc_id, ev.bench)
         |SELECT bench, count(*) AS n_docs_hit,
         |  CAST(sum(CASE WHEN n_overlap >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         |  CAST(sum(n_overlap) AS BIGINT) AS total_overlap
         |FROM per GROUP BY bench ORDER BY bench""".stripMargin,
    // the inverse framing with the big side on the right: the
    // reference gram universe (even ids), the batch's distinct gram
    // sets (odd ids), the null-hit novel count, and the truncating
    // integer ppm ratio — all replayed
    "novelty_score" ->
      s"""WITH rw AS (SELECT regexp_split_to_array(lower(text), ' +') AS ws
         |  FROM documents WHERE doc_id % 2 = 0),
         |rmd AS (SELECT DISTINCT md5(array_to_string(ws[i+1:i+3], ' ')) AS md
         |  FROM rw, unnest(range(0, greatest(len(ws) - 3, 0) + 1)) t(i)),
         |refs AS (SELECT DISTINCT ${hx60("md")} AS h FROM rmd),
         |bw AS (SELECT doc_id, regexp_split_to_array(lower(text), ' +') AS ws
         |  FROM documents WHERE doc_id % 2 = 1),
         |bmd AS (SELECT DISTINCT doc_id, md5(array_to_string(ws[i+1:i+3], ' ')) AS md
         |  FROM bw, unnest(range(0, greatest(len(ws) - 3, 0) + 1)) t(i)),
         |bsh AS (SELECT DISTINCT doc_id, ${hx60("md")} AS h FROM bmd)
         |SELECT b.doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN r.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  CAST(sum(CASE WHEN r.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000000
         |    // count(*) AS novelty_ppm
         |FROM bsh b LEFT JOIN refs r ON b.h = r.h
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // the semantic sibling: quantized-hyperplane banding (the shared
    // hyperplaneCtes chain) generates candidates on shared bands only,
    // exact cosine >= 0.35 verifies — candidate generation AND
    // verification replayed value-for-value
    "decontaminate_semantic" ->
      (s"WITH $hyperplaneCtes,\n" +
       """bkt AS (SELECT vec_id,
         |    (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 1) * 16
         |    + (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 2, 1)) - 1) AS bk
         |  FROM embeddings),
         |ev AS (SELECT bands.vec_id, band FROM bands JOIN bkt USING (vec_id) WHERE bk < 13),
         |tr AS (SELECT bands.vec_id, band FROM bands JOIN bkt USING (vec_id) WHERE bk >= 13),
         |cand AS (SELECT DISTINCT tr.vec_id AS id, ev.vec_id AS eval_id
         |  FROM tr JOIN ev ON tr.band = ev.band),
         |hits AS (SELECT c.id, c.eval_id FROM cand c
         |  JOIN embeddings a ON a.vec_id = c.id
         |  JOIN embeddings b ON b.vec_id = c.eval_id
         |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.35)
         |SELECT id AS vec_id, count(*) AS n_eval_matches, min(eval_id) AS first_eval_id
         |FROM hits GROUP BY id ORDER BY vec_id""".stripMargin),
    // injection + redaction replayed in RE2 ('g' = replace-all, Spark's
    // default); md5 of the redacted text pins byte-exact agreement
    "pii_redaction" ->
      """WITH p AS (SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or +1-555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now' AS t
        |  FROM documents),
        |r AS (SELECT doc_id, t,
        |    regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+[0-9][0-9 -]{5,}[0-9]', '<PHONE>', 'g') AS red
        |  FROM p)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(t, '\+[0-9][0-9 -]{5,}[0-9]')) AS n_phones,
        |  md5(red) AS redacted_md5,
        |  length(red) AS n_chars_redacted
        |FROM r ORDER BY doc_id""".stripMargin,
    "split_train_val" ->
      """SELECT doc_id,
        |  CASE WHEN (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |          + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) < 230
        |       THEN 'train' ELSE 'val' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // component-keyed split: the shared minhash + components replay,
    // then the same 256-bucket md5 rule applied to the COMPONENT id
    "split_leakage_safe" ->
      s"""WITH RECURSIVE $minhashCtes,
         |$componentCtes,
         |grp AS (SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS component
         |  FROM documents d LEFT JOIN compm c ON c.id = d.doc_id)
         |SELECT doc_id, component,
         |  CASE WHEN (strpos('0123456789abcdef', substr(md5(CAST(component AS VARCHAR)), 1, 1)) - 1) * 16
         |          + (strpos('0123456789abcdef', substr(md5(CAST(component AS VARCHAR)), 2, 1)) - 1) < 230
         |       THEN 'train' ELSE 'val' END AS split
         |FROM grp ORDER BY doc_id""".stripMargin,
    // the DSIR replay: the unigram family's normalize/tokenize,
    // unigram+bigram instances, hx60(md5) mod-1024 hashed buckets,
    // the floor-log2 add-one count ratio, deterministic top-100
    "dsir_importance_sample" ->
      s"""WITH ${dsirGramCtes("", "")},
         |wt AS ($dsirWeightSql FROM g GROUP BY bucket),
         |sc AS (SELECT doc_id, count(*) AS n_grams,
         |    CAST(sum(w) AS BIGINT) AS dsir_score
         |  FROM g JOIN wt USING (bucket) GROUP BY doc_id),
         |sel AS (SELECT doc_id FROM sc ORDER BY dsir_score DESC, doc_id LIMIT 100)
         |SELECT sc.doc_id, sc.n_grams, sc.dsir_score,
         |  CASE WHEN sel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS selected
         |FROM sc LEFT JOIN sel ON sc.doc_id = sel.doc_id
         |ORDER BY sc.doc_id""".stripMargin,
    // day-2 DSIR: the SAME gram + weight blocks, weights fitted on the
    // even-id training half only, the odd-id batch scored frozen with
    // unseen buckets contributing 0 (the add-one rule's own value)
    "dsir_score_incremental" ->
      s"""WITH ${dsirGramCtes("t", "WHERE doc_id % 2 = 0")},
         |${dsirGramCtes("b", "WHERE doc_id % 2 = 1")},
         |wt AS ($dsirWeightSql FROM tg GROUP BY bucket)
         |SELECT bg.doc_id, count(*) AS n_grams,
         |  CAST(sum(coalesce(wt.w, 0)) AS BIGINT) AS dsir_score
         |FROM bg LEFT JOIN wt USING (bucket)
         |GROUP BY bg.doc_id ORDER BY bg.doc_id""".stripMargin,
    // hash60 = the hx60 parse of md5(id); bit_xor folds the shard
    // membership into one 60-bit word, order-independently
    "shard_manifest" ->
      s"""WITH a AS (SELECT doc_id, n_chars,
         |    ${hx60("md5(CAST(doc_id AS VARCHAR))")} AS h60
         |  FROM documents)
         |SELECT CAST(h60 % 64 AS INT) AS shard_id,
         |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  bit_xor(h60) AS ids_xor
         |FROM a GROUP BY 1 ORDER BY shard_id""".stripMargin,
    // the manifest block + the pack_sequences_ffd recursive-CTE FFD
    // replay over (bytes DESC, shard ASC), then the group rollup
    "compaction_plan" ->
      s"""WITH RECURSIVE a AS (SELECT doc_id, n_chars,
         |    ${hx60("md5(CAST(doc_id AS VARCHAR))")} AS h60
         |  FROM documents),
         |m AS (SELECT CAST(h60 % 64 AS INT) AS shard_id,
         |    CAST(sum(n_chars) AS BIGINT) AS bytes
         |  FROM a GROUP BY 1),
         |d AS (SELECT shard_id, bytes,
         |    row_number() OVER (ORDER BY bytes DESC, shard_id) AS rn FROM m),
         |ffd AS (
         |  SELECT 0::BIGINT AS rn, NULL::INT AS shard_id, NULL::BIGINT AS bytes,
         |    NULL::BIGINT AS bin_id, []::BIGINT[] AS rem
         |  UNION ALL
         |  SELECT rn, shard_id, bytes,
         |    CASE WHEN fit IS NULL THEN len(rem0) ELSE fit - 1 END AS bin_id,
         |    CASE WHEN fit IS NULL THEN list_append(rem0, 12000 - bytes)
         |         ELSE list_transform(range(1, len(rem0) + 1),
         |                i -> CASE WHEN i = fit THEN rem0[i] - bytes ELSE rem0[i] END)
         |    END AS rem
         |  FROM (
         |    SELECT d.rn, d.shard_id, d.bytes, f.rem AS rem0,
         |      NULLIF(list_position(list_transform(f.rem, x -> x >= d.bytes), true), 0) AS fit
         |    FROM ffd f JOIN d ON d.rn = f.rn + 1) s),
         |p AS (SELECT shard_id, bytes AS shard_bytes, bin_id AS merge_group
         |  FROM ffd WHERE rn > 0)
         |SELECT shard_id, shard_bytes, merge_group,
         |  CAST(sum(shard_bytes) OVER (PARTITION BY merge_group) AS BIGINT) AS group_bytes,
         |  CAST(count(*) OVER (PARTITION BY merge_group) AS INT) AS n_shards_in_group
         |FROM p ORDER BY shard_id""".stripMargin,
    // the per-source FFD trajectories, all replayed at once: the
    // recursive CTE's chains advance each source independently (the
    // join keys on source AND step), so partition-local bin state
    // never mixes across sources — exactly the operator's groupScan
    "compaction_plan_sharded" ->
      s"""WITH RECURSIVE a AS (SELECT doc_id, source, n_chars,
         |    ${hx60("md5(CAST(doc_id AS VARCHAR))")} AS h60
         |  FROM documents),
         |m AS (SELECT source, CAST(h60 % 16 AS INT) AS shard_id,
         |    CAST(sum(n_chars) AS BIGINT) AS bytes
         |  FROM a GROUP BY 1, 2),
         |d AS (SELECT source, shard_id, bytes,
         |    row_number() OVER (PARTITION BY source ORDER BY bytes DESC, shard_id) AS rn
         |  FROM m),
         |ffd AS (
         |  SELECT source, 0::BIGINT AS rn, NULL::INT AS shard_id,
         |    NULL::BIGINT AS bytes, NULL::BIGINT AS bin_id, []::BIGINT[] AS rem
         |  FROM (SELECT DISTINCT source FROM m)
         |  UNION ALL
         |  SELECT source, rn, shard_id, bytes,
         |    CASE WHEN fit IS NULL THEN len(rem0) ELSE fit - 1 END AS bin_id,
         |    CASE WHEN fit IS NULL THEN list_append(rem0, 2000 - bytes)
         |         ELSE list_transform(range(1, len(rem0) + 1),
         |                i -> CASE WHEN i = fit THEN rem0[i] - bytes ELSE rem0[i] END)
         |    END AS rem
         |  FROM (
         |    SELECT d.source, d.rn, d.shard_id, d.bytes, f.rem AS rem0,
         |      NULLIF(list_position(list_transform(f.rem, x -> x >= d.bytes), true), 0) AS fit
         |    FROM ffd f JOIN d ON d.source = f.source AND d.rn = f.rn + 1) s),
         |p AS (SELECT source, shard_id, bytes AS shard_bytes, bin_id AS merge_group
         |  FROM ffd WHERE rn > 0)
         |SELECT source, shard_id, shard_bytes, merge_group,
         |  CAST(sum(shard_bytes) OVER (PARTITION BY source, merge_group) AS BIGINT) AS group_bytes,
         |  CAST(count(*) OVER (PARTITION BY source, merge_group) AS INT) AS n_shards_in_group
         |FROM p ORDER BY source, shard_id""".stripMargin,
    // computed from the parquet ORIGINALS — equality with the Spark
    // side (which reads only the re-imported files) proves losslessness;
    // ONE shared rollup for every export format
    "export_jsonl_roundtrip" -> sqlExportRollup,
    "export_csv_roundtrip" -> sqlExportRollup,
    "export_orc_roundtrip" -> sqlExportRollup,
    // shard rule, byte length, and content digest replayed per doc:
    // md5(text) in DuckDB is the digest of the same utf-8 bytes the
    // tar entry carries, so the hash matches iff framing is lossless
    "export_tar_multimodal" ->
      s"""WITH m AS (
         |  SELECT doc_id, 'txt' AS ext,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |    md5(text) AS content_md5 FROM documents
         |  UNION ALL
         |  SELECT doc_id, 'json',
         |    CAST(octet_length(encode(j)) AS BIGINT), md5(j) FROM (
         |    SELECT doc_id,
         |      '{"mime":"application/octet-stream","n_chars":' ||
         |        CAST(n_chars AS VARCHAR) || '}' AS j FROM documents))
         |SELECT doc_id, ext,
         |  CAST(${hx60("md5(CAST(doc_id AS VARCHAR))")} % 8 AS INT) AS shard_id,
         |  n_bytes, content_md5
         |FROM m ORDER BY doc_id, ext""".stripMargin,
    "export_tar_roundtrip" ->
      s"""SELECT doc_id,
         |  CAST(${hx60("md5(CAST(doc_id AS VARCHAR))")} % 8 AS INT) AS shard_id,
         |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |  md5(text) AS content_md5
         |FROM documents ORDER BY doc_id""".stripMargin,
    "sample_docs_per_lang" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 5 ORDER BY lang, doc_id""".stripMargin,
    // every decoded pixel stated independently (the XOR texture +
    // noise closed form), then dHash bits, 4×14 LSH bands, the bucket
    // cap, and exact Hamming — the whole image-dedup pipeline replayed
    "media_dedup_features" ->
      s"""WITH px AS (SELECT doc_id, x, y,
         |    1 + CAST((${hx60("md5('img:' || CAST(doc_id // 8 AS VARCHAR) || ':' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR))")} % 126 +
         |      CASE WHEN x = doc_id % 8 AND y = (doc_id // 8) % 8
         |        THEN 63 ELSE 0 END) % 126 AS INT) AS g
         |  FROM documents, unnest(range(0, 8)) tx(x), unnest(range(0, 8)) ty(y)),
         |bits AS (SELECT a.doc_id, a.y, a.x, CASE WHEN b.g > a.g THEN '1' ELSE '0' END AS bit
         |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
         |  WHERE a.x < 7),
         |sg AS (SELECT doc_id, string_agg(bit, '' ORDER BY y, x) AS sig FROM bits GROUP BY doc_id),
         |bb AS (SELECT doc_id, sig, i,
         |    CAST(i AS VARCHAR) || ':' || substr(sig, CAST(i*14 + 1 AS INT), 14) AS k
         |  FROM sg, unnest(range(0, 4)) t(i)),
         |okb AS (SELECT k FROM (SELECT k, count(*) AS n FROM bb GROUP BY k)
         |  WHERE n BETWEEN 2 AND $MaxBucket),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
         |  FROM bb a JOIN bb b ON a.k = b.k AND a.doc_id < b.doc_id JOIN okb ON a.k = okb.k),
         |ham AS (SELECT id_a, id_b,
         |    CAST(sum(CASE WHEN substr(sa, CAST(j AS INT), 1) <> substr(sb, CAST(j AS INT), 1)
         |      THEN 1 ELSE 0 END) AS INT) AS hamming
         |  FROM cand, unnest(range(1, 57)) t(j) GROUP BY id_a, id_b)
         |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 4
         |ORDER BY id_a, id_b""".stripMargin,
    // each card section replays its already-gated pattern: size
    // aggregates, lang histogram, the discrete-quartile rule
    // (curriculum's null-filtered h CTE), the md5 exact-dup census
    "dataset_card" ->
      s"""WITH sq AS (SELECT CASE WHEN length(text) > 0
         |    THEN CAST(round($sqlQualityExpr * 1000000) AS BIGINT) END AS q
         |  FROM documents),
         |h AS (SELECT q AS v, count(*) AS c FROM sq WHERE q IS NOT NULL GROUP BY 1),
         |cum AS (SELECT v,
         |    sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
         |    sum(c) OVER () AS n FROM h),
         |b AS (SELECT
         |    min(CASE WHEN cm * 1000000 >= n * 250000 THEN v END) AS p25,
         |    min(CASE WHEN cm * 1000000 >= n * 500000 THEN v END) AS p50,
         |    min(CASE WHEN cm * 1000000 >= n * 750000 THEN v END) AS p75
         |  FROM cum),
         |dg AS (SELECT md5(lower(text)) AS hh, count(*) AS n FROM documents GROUP BY 1),
         |card AS (
         |  SELECT 'size' AS section, 'n_docs' AS metric, CAST(count(*) AS BIGINT) AS value FROM documents
         |  UNION ALL SELECT 'size', 'n_chars', CAST(sum(n_chars) AS BIGINT) FROM documents
         |  UNION ALL SELECT 'size', 'n_words',
         |    CAST(sum(len(regexp_split_to_array(text, ' +'))) AS BIGINT) FROM documents
         |  UNION ALL SELECT 'size', 'n_sources', CAST(count(DISTINCT source) AS BIGINT) FROM documents
         |  UNION ALL SELECT 'lang', lang, CAST(count(*) AS BIGINT) FROM documents GROUP BY lang
         |  UNION ALL SELECT 'quality', 'q_p25_micro', p25 FROM b
         |  UNION ALL SELECT 'quality', 'q_p50_micro', p50 FROM b
         |  UNION ALL SELECT 'quality', 'q_p75_micro', p75 FROM b
         |  UNION ALL SELECT 'dedup', 'n_exact_dup_groups',
         |    CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) FROM dg
         |  UNION ALL SELECT 'dedup', 'n_redundant_docs',
         |    CAST(sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT) FROM dg)
         |SELECT section, metric, value FROM card ORDER BY section, metric""".stripMargin,
    // every mask bit (the per-(doc, block) hash rule), sentinel index
    // (running masked-block count), and assembled string replayed;
    // string_agg skips NULL pieces exactly like Spark's filter
    "span_corruption" ->
      s"""WITH n AS (SELECT doc_id,
         |    trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')) AS nt
         |  FROM documents),
         |w AS (SELECT doc_id, string_split(nt, ' ') AS ws FROM n),
         |wi AS (SELECT doc_id, i - 1 AS i, ws[CAST(i AS INT)] AS word,
         |    (i - 1) // 3 AS b
         |  FROM w, unnest(range(1, len(ws) + 1)) r(i)),
         |mk AS (SELECT DISTINCT doc_id, b,
         |    ${hx60("md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR))")} % 1000 < 150 AS m
         |  FROM wi),
         |sent AS (SELECT doc_id, b, m,
         |    CAST(COALESCE(sum(CASE WHEN m THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id
         |      ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS k
         |  FROM mk),
         |pieces AS (SELECT wi.doc_id, wi.i, wi.b, wi.word, s.m, s.k,
         |    CASE WHEN NOT s.m THEN wi.word
         |      WHEN wi.i % 3 = 0 THEN '<extra_id_' || CAST(s.k AS VARCHAR) || '>'
         |      ELSE NULL END AS inp_piece,
         |    CASE WHEN NOT s.m THEN NULL
         |      WHEN wi.i % 3 = 0 THEN '<extra_id_' || CAST(s.k AS VARCHAR) || '> ' || wi.word
         |      ELSE wi.word END AS tgt_piece
         |  FROM wi JOIN sent s ON wi.doc_id = s.doc_id AND wi.b = s.b)
         |SELECT doc_id,
         |  CAST(count(*) AS INT) AS n_words,
         |  CAST(count(DISTINCT CASE WHEN m THEN b END) AS INT) AS n_spans,
         |  CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS INT) AS n_masked_words,
         |  COALESCE(string_agg(inp_piece, ' ' ORDER BY i), '') AS input,
         |  COALESCE(string_agg(tgt_piece, ' ' ORDER BY i), '') AS target
         |FROM pieces GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // prompt/response derivation, the integer truncation plan, the
    // template splice and the aligned loss mask all replayed exactly
    "sft_examples" ->
      """WITH n AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(
        |      trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')),
        |      ' '), x -> len(x) > 0) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |pr AS (SELECT doc_id,
        |    w[1 : CAST(len(w) // 3 AS INT)] AS pw,
        |    w[CAST(len(w) // 3 + 1 AS INT) : CAST(len(w) AS INT)] AS rw
        |  FROM n),
        |d AS (SELECT doc_id, pw, rw,
        |    CAST(len(pw) AS INT) AS np, CAST(len(rw) AS INT) AS nr,
        |    CAST(greatest(len(pw) + len(rw) + 3 - 64, 0) AS INT) AS ov
        |  FROM pr),
        |e AS (SELECT doc_id, pw, rw, np, nr,
        |    least(ov, np) AS dp, ov - least(ov, np) AS dr
        |  FROM d)
        |SELECT doc_id,
        |  np - dp AS n_prompt_tokens,
        |  nr - dr AS n_response_tokens,
        |  np - dp + nr - dr + 3 AS n_tokens,
        |  dp AS drop_prompt, dr AS drop_response,
        |  array_to_string(['<|user|>'] || pw[dp + 1 : np] || ['<|assistant|>'] ||
        |    rw[1 : nr - dr] || ['<|end|>'], ' ') AS text,
        |  repeat('0', np - dp + 2) || repeat('1', nr - dr + 1) AS loss_mask
        |FROM e ORDER BY doc_id""".stripMargin,
    // the pair chain + the closure itself: recursive reachability with
    // min labels — component ids hash-verified, not just pairs
    "media_dedup_clusters" ->
      s"""WITH RECURSIVE px AS (SELECT doc_id, x, y,
         |    1 + CAST((${hx60("md5('img:' || CAST(doc_id // 8 AS VARCHAR) || ':' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR))")} % 126 +
         |      CASE WHEN x = doc_id % 8 AND y = (doc_id // 8) % 8
         |        THEN 63 ELSE 0 END) % 126 AS INT) AS g
         |  FROM documents, unnest(range(0, 8)) tx(x), unnest(range(0, 8)) ty(y)),
         |bits AS (SELECT a.doc_id, a.y, a.x, CASE WHEN b.g > a.g THEN '1' ELSE '0' END AS bit
         |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
         |  WHERE a.x < 7),
         |sg AS (SELECT doc_id, string_agg(bit, '' ORDER BY y, x) AS sig FROM bits GROUP BY doc_id),
         |bb AS (SELECT doc_id, sig, i,
         |    CAST(i AS VARCHAR) || ':' || substr(sig, CAST(i*14 + 1 AS INT), 14) AS k
         |  FROM sg, unnest(range(0, 4)) t(i)),
         |okb AS (SELECT k FROM (SELECT k, count(*) AS n FROM bb GROUP BY k)
         |  WHERE n BETWEEN 2 AND $MaxBucket),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
         |  FROM bb a JOIN bb b ON a.k = b.k AND a.doc_id < b.doc_id JOIN okb ON a.k = okb.k),
         |ham AS (SELECT id_a, id_b,
         |    CAST(sum(CASE WHEN substr(sa, CAST(j AS INT), 1) <> substr(sb, CAST(j AS INT), 1)
         |      THEN 1 ELSE 0 END) AS INT) AS hamming
         |  FROM cand, unnest(range(1, 57)) t(j) GROUP BY id_a, id_b),
         |p2 AS (SELECT id_a, id_b FROM ham WHERE hamming <= 4),
         |edges AS (SELECT id_a AS a, id_b AS b FROM p2 UNION SELECT id_b, id_a FROM p2),
         |verts AS (SELECT DISTINCT a AS v FROM edges),
         |reach AS (
         |  SELECT v, v AS r FROM verts
         |  UNION
         |  SELECT e.a AS v, reach.r FROM edges e JOIN reach ON reach.v = e.b)
         |SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS component,
         |  CAST(CASE WHEN v = min(r) THEN 1 ELSE 0 END AS INT) AS keep
         |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin,
    // the day-2 probe: corpus AND batch pixels both stated closed-form
    // (the echo rule on the original doc ids), signatures, band keys,
    // the bucket join, Hamming, and the distinct-corpus-dup census
    "media_dedup_incremental" -> mediaIncrementalSql(""),
    // the forget twin: the SAME replay with the %50 tombstone mask on
    // the corpus side of the band join — the one line the anti-join
    // adds to the probe
    "media_forget" -> mediaIncrementalSql(
      s"AND NOT (${hx60("md5('forget:' || CAST(c.doc_id AS VARCHAR))")} % 50 = 0)"),
    // the oracle states the EXPECTED decoded dimensions of the
    // synthesized BMPs — Spark only matches if ImageIO actually decoded
    // the payloads (the stub fallback would emit byte sums, not (4, h))
    "media_decode_bmp" ->
      """SELECT doc_id, CAST(4 AS INT) AS width, CAST(1 + doc_id % 3 AS INT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    // lossless PNG: dimensions AND the uniform gray level recover
    // exactly from the decoded pixels — stated independently here;
    // three-way match only when the real ImageIO decode ran
    "media_decode_png" ->
      """SELECT doc_id, CAST(1 + doc_id % 5 AS INT) AS width,
        |  CAST(1 + doc_id % 3 AS INT) AS height,
        |  CAST(doc_id % 256 AS INT) AS gray
        |FROM documents ORDER BY doc_id""".stripMargin,
    "media_decode_gif" ->
      """SELECT doc_id, CAST(1 + doc_id % 6 AS INT) AS width,
        |  CAST(1 + doc_id % 4 AS INT) AS height,
        |  CAST((doc_id * 7) % 256 AS INT) AS gray
        |FROM documents ORDER BY doc_id""".stripMargin,
    // frame count × per-frame gray stated from the closed forms alone:
    // the sampled frame indices are range(0, n_frames, 2), and each
    // frame's palette-exact gray is (doc_id*13 + k*17) % 256
    "media_video_frames" ->
      """SELECT doc_id, CAST(k AS INT) AS frame_idx,
        |  CAST(3 + doc_id % 5 AS INT) AS width,
        |  CAST(2 + doc_id % 3 AS INT) AS height,
        |  CAST((doc_id * 13 + k * 17) % 256 AS INT) AS gray
        |FROM documents, unnest(range(0, 2 + doc_id % 4, 2)) t(k)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // the cut set is stated from the closed form: |delta| = 17 within a
    // scene, 239 at a mod-256 wrap — only wraps clear the 100 threshold
    "media_video_scenes" ->
      """WITH g AS (SELECT doc_id, k,
        |    CAST((doc_id * 13 + k * 17) % 256 AS INT) AS gray
        |  FROM documents, unnest(range(0, 2 + doc_id % 4)) t(k)),
        |d AS (SELECT doc_id, k,
        |    abs(gray - lag(gray) OVER (PARTITION BY doc_id ORDER BY k)) AS delta FROM g)
        |SELECT doc_id, count(*) AS n_frames,
        |  CAST(sum(CASE WHEN delta > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
        |  CAST(coalesce(min(CASE WHEN delta > 100 THEN k END), -1) AS BIGINT) AS first_cut
        |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // resized dims are CONSTANTS strictly outside both source ranges
    // (w ≤ 8, h ≤ 6: no row can match without a real resize), and the
    // uniform gray survives bilinear resize + PNG re-encode exactly —
    // all three stated without seeing any payload
    "media_resize" ->
      """SELECT doc_id, CAST(9 AS INT) AS width, CAST(7 AS INT) AS height,
        |  CAST((doc_id * 11) % 256 AS INT) AS gray
        |FROM documents ORDER BY doc_id""".stripMargin,
    // pinned constants measured ONCE from the committed fixture bytes
    // (decode of a fixed JPEG is deterministic for a fixed decoder);
    // the stub path's byte-sum features could never match them
    "media_decode_jpeg" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 16 WHEN 1 THEN 20 ELSE 9 END AS width,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 12 WHEN 1 THEN 8 ELSE 9 END AS height,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 4996 WHEN 1 THEN 5000 ELSE 5115 END AS lum_q,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 295 WHEN 1 THEN 306 ELSE 313 END AS var_q
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, md5(lower(text)) AS content_hash,
        |  count(*) AS dup_count
        |FROM documents GROUP BY md5(lower(text)) ORDER BY keep_id""".stripMargin,
    // every positional window hash re-derived from md5(span); the
    // 2..MaxBucket band mirrors the Spark-side hot-window cap
    "dedup_substring" ->
      s"""WITH $substringWindowCtes
         |SELECT doc_id, pos, wh, n_occurrences
         |FROM hits ORDER BY doc_id, pos, wh""".stripMargin,
    // the SAME hits merged into maximal intervals: running-max-of-end
    // island detection (a window opens a span iff it starts beyond
    // every earlier window's end), integer arithmetic throughout
    "dedup_substring_spans" ->
      (s"WITH $substringWindowCtes,\n$substringIslandCtes\n" +
       """SELECT doc_id, min(pos) AS span_start, max(e) AS span_end,
         |  max(e) - min(pos) AS span_words, CAST(count(*) AS BIGINT) AS n_windows
         |FROM sp GROUP BY doc_id, span_id ORDER BY doc_id, span_start""".stripMargin),
    // the budget view: the same islands rolled up per doc, then per
    // source over ALL docs (unaffected docs contribute zero via the
    // LEFT JOIN) — denominator uses the identical lower/' +' split the
    // window pass tokenizes with
    "dedup_substring_budget" ->
      (s"WITH $substringWindowCtes,\n$substringIslandCtes,\n" +
       """spans AS (SELECT doc_id, max(e) - min(pos) AS span_words
         |  FROM sp GROUP BY doc_id, span_id),
         |pd AS (SELECT doc_id, CAST(sum(span_words) AS BIGINT) AS dup_words,
         |    CAST(count(*) AS BIGINT) AS n_spans FROM spans GROUP BY doc_id),
         |dw AS (SELECT doc_id, source,
         |    CAST(len(regexp_split_to_array(lower(text), ' +')) AS BIGINT) AS n_words
         |  FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(pd.dup_words) AS BIGINT) AS n_docs_affected,
         |  CAST(sum(n_words) AS BIGINT) AS total_words,
         |  CAST(coalesce(sum(pd.dup_words), 0) AS BIGINT) AS dup_words,
         |  CAST(coalesce(sum(pd.n_spans), 0) AS BIGINT) AS n_spans,
         |  CAST(coalesce(sum(pd.dup_words), 0) * 1000000 // sum(n_words) AS BIGINT) AS dup_ppm
         |FROM dw LEFT JOIN pd USING (doc_id)
         |GROUP BY source ORDER BY source""".stripMargin),
    // the Bloom sketch only pre-prunes; the result is the exact semi join
    "bloom_prune_docs" ->
      """SELECT doc_id, md5(lower(text)) AS content_hash FROM documents
        |WHERE md5(lower(text)) IN
        |  (SELECT md5(lower(text)) FROM documents WHERE doc_id % 37 = 0)
        |ORDER BY doc_id""".stripMargin,
    "media_stats" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "media_frames" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, greatest(length(text) // 64 - 1, 0) + 1, 4)) AS i
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS INT) AS frame_idx,
        |  md5(substring(text, CAST(i * 64 + 1 AS INT), 64)) AS frame_md5
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    // the PCM payload is closed-form in (doc_id, k): the oracle states
    // every waveform stat WITHOUT seeing a byte, which is exactly what
    // makes the gate a proof of the Spark side's pack->parse round trip
    // both branches' truncation plans, templates and masks replayed
    // in list arithmetic; the shared prompt cut sized by the longer
    // branch (rejected = reversed chosen, so oc = or on this fixture
    // and the asymmetric-case algebra is additionally spec-pinned)
    "dpo_pairs" ->
      """WITH n AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(
        |      trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')),
        |      ' '), x -> len(x) > 0) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |pr AS (SELECT doc_id,
        |    w[1 : CAST(len(w) // 3 AS INT)] AS pw,
        |    w[CAST(len(w) // 3 + 1 AS INT) : CAST(len(w) AS INT)] AS cw,
        |    list_reverse(w[CAST(len(w) // 3 + 1 AS INT) : CAST(len(w) AS INT)]) AS rw
        |  FROM n),
        |d AS (SELECT doc_id, pw, cw, rw,
        |    CAST(len(pw) AS INT) AS np, CAST(len(cw) AS INT) AS nc, CAST(len(rw) AS INT) AS nr,
        |    CAST(greatest(len(pw) + len(cw) + 3 - 64, 0) AS INT) AS oc,
        |    CAST(greatest(len(pw) + len(rw) + 3 - 64, 0) AS INT) AS orr
        |  FROM pr),
        |e AS (SELECT doc_id, pw, cw, rw, np, nc, nr,
        |    least(greatest(oc, orr), np) AS dp,
        |    greatest(oc - least(greatest(oc, orr), np), 0) AS dc,
        |    greatest(orr - least(greatest(oc, orr), np), 0) AS dr
        |  FROM d)
        |SELECT doc_id,
        |  np - dp AS n_prompt_tokens,
        |  dp AS drop_prompt,
        |  array_to_string(['<|user|>'] || pw[dp + 1 : np] || ['<|assistant|>'] ||
        |    cw[1 : nc - dc] || ['<|end|>'], ' ') AS chosen_text,
        |  repeat('0', np - dp + 2) || repeat('1', nc - dc + 1) AS chosen_mask,
        |  array_to_string(['<|user|>'] || pw[dp + 1 : np] || ['<|assistant|>'] ||
        |    rw[1 : nr - dr] || ['<|end|>'], ' ') AS rejected_text,
        |  repeat('0', np - dp + 2) || repeat('1', nr - dr + 1) AS rejected_mask,
        |  dc AS drop_chosen, dr AS drop_rejected
        |FROM e ORDER BY doc_id""".stripMargin,
    // the sft chain's exact token counts feed the per-shard FFD
    // recursion (W = 256), then the per-bin supervised rollup
    "sft_packed_layout" ->
      s"""WITH RECURSIVE n0 AS (SELECT doc_id,
         |    list_filter(regexp_split_to_array(
         |      trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')),
         |      ' '), x -> len(x) > 0) AS w
         |  FROM documents WHERE text IS NOT NULL),
         |prx AS (SELECT doc_id,
         |    CAST(len(w) // 3 AS INT) AS np0,
         |    CAST(len(w) - len(w) // 3 AS INT) AS nr0
         |  FROM n0),
         |ex AS (SELECT doc_id,
         |    np0 - least(greatest(np0 + nr0 + 3 - 64, 0), np0)
         |      + nr0 - (greatest(np0 + nr0 + 3 - 64, 0) - least(greatest(np0 + nr0 + 3 - 64, 0), np0))
         |      + 3 AS n,
         |    nr0 - (greatest(np0 + nr0 + 3 - 64, 0) - least(greatest(np0 + nr0 + 3 - 64, 0), np0))
         |      + 1 AS sup
         |  FROM prx),
         |dd AS (SELECT doc_id, CAST(n AS BIGINT) AS n, CAST(sup AS BIGINT) AS sup,
         |    CAST(${hx60("md5(CAST(doc_id AS VARCHAR))")} % 8 AS INT) AS shard_id,
         |    row_number() OVER (PARTITION BY CAST(${hx60("md5(CAST(doc_id AS VARCHAR))")} % 8 AS INT)
         |      ORDER BY n DESC, doc_id) AS rn
         |  FROM ex),
         |ffd AS (
         |  SELECT shard_id, 0::BIGINT AS rn, NULL::BIGINT AS doc_id, NULL::BIGINT AS n,
         |    NULL::BIGINT AS bin_id, []::BIGINT[] AS rem
         |  FROM (SELECT DISTINCT shard_id FROM dd)
         |  UNION ALL
         |  SELECT shard_id, rn, doc_id, n,
         |    CASE WHEN fit IS NULL THEN len(rem0) ELSE fit - 1 END AS bin_id,
         |    CASE WHEN fit IS NULL THEN list_append(rem0, 256 - n)
         |         ELSE list_transform(range(1, len(rem0) + 1),
         |                i -> CASE WHEN i = fit THEN rem0[i] - n ELSE rem0[i] END)
         |    END AS rem
         |  FROM (
         |    SELECT d.shard_id, d.rn, d.doc_id, d.n, f.rem AS rem0,
         |      NULLIF(list_position(list_transform(f.rem, x -> x >= d.n), true), 0) AS fit
         |    FROM ffd f JOIN dd d ON d.shard_id = f.shard_id AND d.rn = f.rn + 1) s),
         |lay AS MATERIALIZED (SELECT f.shard_id, f.bin_id, f.doc_id, f.n, d.sup, f.rn,
         |    row_number() OVER (PARTITION BY f.shard_id, f.bin_id ORDER BY f.rn) - 1 AS s
         |  FROM ffd f JOIN dd d ON d.doc_id = f.doc_id WHERE f.rn > 0)
         |SELECT shard_id, bin_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS used_tokens,
         |  greatest(256 - CAST(sum(n) AS BIGINT), 0) AS pad_tokens,
         |  CAST(sum(sup) AS BIGINT) AS supervised_tokens,
         |  CAST(sum(sup) AS BIGINT) * 1000000 // CAST(sum(n) AS BIGINT) AS supervised_ppm,
         |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY s) AS doc_ids
         |FROM lay GROUP BY shard_id, bin_id
         |ORDER BY shard_id, bin_id""".stripMargin,
    // BOTH band families replayed end to end: every caption word,
    // shingle, affine remix and text band key (the shared minhash CTE
    // block over the synthetic caption relation), every pixel, dHash
    // bit and image band, the composite bucket, and both verifies
    "media_caption_dedup" ->
      s"""WITH $captionPairCtes
         |SELECT id_a, id_b, est_jaccard, hamming FROM pm
         |WHERE est_jaccard >= 0.3 AND hamming <= 4
         |ORDER BY id_a, id_b""".stripMargin,
    // the joint pair chain + the closure itself (the
    // media_dedup_clusters pattern): recursive reachability with min
    // labels over the dual-verified composite pairs
    "media_caption_clusters" ->
      s"""WITH RECURSIVE $captionPairCtes,
         |p2 AS (SELECT id_a, id_b FROM pm WHERE est_jaccard >= 0.3 AND hamming <= 4),
         |edges AS (SELECT id_a AS a, id_b AS b FROM p2 UNION SELECT id_b, id_a FROM p2),
         |verts AS (SELECT DISTINCT a AS v FROM edges),
         |reach AS (
         |  SELECT v, v AS r FROM verts
         |  UNION
         |  SELECT e.a AS v, reach.r FROM edges e JOIN reach ON reach.v = e.b)
         |SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS component,
         |  CAST(CASE WHEN v = min(r) THEN 1 ELSE 0 END AS INT) AS keep
         |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin,
    // the day-2 composite probe: corpus ∪ echo-batch (re-posted image +
    // paraphrased caption) through BOTH signature chains per side, the
    // composite-bucket join batch×corpus, dual verify, distinct census
    "media_caption_dedup_incremental" -> captionIncrementalSql(""),
    // the forget twin: the SAME replay with the %50 tombstone mask on
    // the corpus side of the composite-bucket join
    "media_caption_forget" -> captionIncrementalSql(
      s"AND NOT (${hx60("md5('forget:' || CAST(c.doc_id AS VARCHAR))")} % 50 = 0)"),
    // the DPO truncation chain (asymmetric rejected = first half of the
    // reversed continuation), pair units = max branch length, the same
    // per-shard FFD recursion at W = 256, per-bin two-view rollup
    "dpo_packed_layout" ->
      s"""WITH RECURSIVE n AS (SELECT doc_id,
         |    list_filter(regexp_split_to_array(
         |      trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), ' +', ' ', 'g')),
         |      ' '), x -> len(x) > 0) AS w
         |  FROM documents WHERE text IS NOT NULL),
         |pr AS (SELECT doc_id,
         |    w[1 : CAST(len(w) // 3 AS INT)] AS pw,
         |    w[CAST(len(w) // 3 + 1 AS INT) : CAST(len(w) AS INT)] AS cw,
         |    list_reverse(w[CAST(len(w) // 3 + 1 AS INT) : CAST(len(w) AS INT)])
         |      [1 : CAST((len(w) - len(w) // 3) // 2 AS INT)] AS rw
         |  FROM n),
         |d AS (SELECT doc_id,
         |    CAST(len(pw) AS INT) AS np, CAST(len(cw) AS INT) AS nc, CAST(len(rw) AS INT) AS nr,
         |    CAST(greatest(len(pw) + len(cw) + 3 - 64, 0) AS INT) AS oc,
         |    CAST(greatest(len(pw) + len(rw) + 3 - 64, 0) AS INT) AS orr
         |  FROM pr),
         |e AS (SELECT doc_id, np, nc, nr,
         |    least(greatest(oc, orr), np) AS dp,
         |    greatest(oc - least(greatest(oc, orr), np), 0) AS dc,
         |    greatest(orr - least(greatest(oc, orr), np), 0) AS dr
         |  FROM d),
         |ex AS (SELECT doc_id,
         |    CAST(np - dp + nc - dc + 3 AS BIGINT) AS ntc,
         |    CAST(np - dp + nr - dr + 3 AS BIGINT) AS ntr,
         |    CAST(greatest(np - dp + nc - dc + 3, np - dp + nr - dr + 3) AS BIGINT) AS n
         |  FROM e),
         |$dpoFfdTailSql""".stripMargin,
    // the REAL-pair endpoint: the shared best-of-N scoring block, the
    // rm_pairs best/worst rank windows with the margin-0 drop, the
    // prompt cut from the same word split, the dpo truncation chain on
    // the winning/losing candidate texts, and the SAME pair-affinity
    // FFD tail as dpo_packed_layout — one layout replay source
    "rm_pairs_to_dpo" ->
      s"""WITH RECURSIVE $bestOfNCtes,
         |rk AS (SELECT doc_id, j, reward, c,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY reward DESC, j ASC) AS rb,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY reward ASC, j DESC) AS rw
         |  FROM rew),
         |prs AS (SELECT b.doc_id, n.w[1 : CAST(len(n.w) // 3 AS INT)] AS pw,
         |    b.c AS cw, w.c AS rw2
         |  FROM (SELECT * FROM rk WHERE rb = 1) b
         |  JOIN (SELECT * FROM rk WHERE rw = 1) w ON b.doc_id = w.doc_id
         |  JOIN n ON n.doc_id = b.doc_id
         |  WHERE b.reward - w.reward > 0),
         |d AS (SELECT doc_id,
         |    CAST(len(pw) AS INT) AS np, CAST(len(cw) AS INT) AS nc, CAST(len(rw2) AS INT) AS nr,
         |    CAST(greatest(len(pw) + len(cw) + 3 - 64, 0) AS INT) AS oc,
         |    CAST(greatest(len(pw) + len(rw2) + 3 - 64, 0) AS INT) AS orr
         |  FROM prs),
         |e AS (SELECT doc_id, np, nc, nr,
         |    least(greatest(oc, orr), np) AS dp,
         |    greatest(oc - least(greatest(oc, orr), np), 0) AS dc,
         |    greatest(orr - least(greatest(oc, orr), np), 0) AS dr
         |  FROM d),
         |ex AS (SELECT doc_id,
         |    CAST(np - dp + nc - dc + 3 AS BIGINT) AS ntc,
         |    CAST(np - dp + nr - dr + 3 AS BIGINT) AS ntr,
         |    CAST(greatest(np - dp + nc - dc + 3, np - dp + nr - dr + 3) AS BIGINT) AS n
         |  FROM e),
         |$dpoFfdTailSql""".stripMargin,
    // the video day-2 probe: corpus ∪ echo-batch params through the
    // shared pixel/frame-bit/majority chain per side, band join b×c
    "media_video_dedup_incremental" -> videoIncrementalSql(""),
    // the forget twin: the SAME replay with the %50 mask on the corpus
    // side of the band join
    "media_video_forget" -> videoIncrementalSql(
      s"AND NOT (${hx60("md5('forget:' || CAST(c.doc_id AS VARCHAR))")} % 50 = 0)"),
    // the video modality: per-frame textured pixels -> per-frame dHash
    // bits -> per-position majority across the 5 frames -> the shared
    // band machinery; px self-joins so MATERIALIZED
    "media_video_dedup" ->
      s"""WITH px AS MATERIALIZED (SELECT doc_id, k, x, y,
         |    1 + CAST((${hx60("md5('vid:' || CAST(doc_id // 8 AS VARCHAR) || ':' || CAST(k AS VARCHAR) || ':' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR))")} % 126 +
         |      CASE WHEN k = (doc_id // 8) % 5 AND x = (doc_id // 8) % 8
         |          AND y = ((doc_id // 8) // 8) % 8
         |        THEN ${hx60("md5('vidn:' || CAST(doc_id AS VARCHAR))")} % 126 ELSE 0 END) % 126 AS INT) AS g
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
         |sg AS (SELECT doc_id, string_agg(mb, '' ORDER BY y, x) AS sig FROM mj GROUP BY doc_id),
         |bb AS (SELECT doc_id, sig, i,
         |    CAST(i AS VARCHAR) || ':' || substr(sig, CAST(i*14 + 1 AS INT), 14) AS k
         |  FROM sg, unnest(range(0, 4)) t(i)),
         |okb AS (SELECT k FROM (SELECT k, count(*) AS n FROM bb GROUP BY k)
         |  WHERE n BETWEEN 2 AND $MaxBucket),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
         |  FROM bb a JOIN bb b ON a.k = b.k AND a.doc_id < b.doc_id JOIN okb ON a.k = okb.k),
         |ham AS (SELECT id_a, id_b,
         |    CAST(sum(CASE WHEN substr(sa, CAST(j AS INT), 1) <> substr(sb, CAST(j AS INT), 1)
         |      THEN 1 ELSE 0 END) AS INT) AS hamming
         |  FROM cand, unnest(range(1, 57)) t(j) GROUP BY id_a, id_b)
         |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 2
         |ORDER BY id_a, id_b""".stripMargin,
    // the audio day-2 probe: corpus ∪ echo-batch params, the shared
    // sample/energy/bit chain per side, band join b×c, Hamming ≤ 2
    "media_audio_dedup_incremental" -> audioIncrementalSql(""),
    // the forget twin: the SAME replay with the %50 mask on the corpus
    // side of the band join
    "media_audio_forget" -> audioIncrementalSql(
      s"AND NOT (${hx60("md5('forget:' || CAST(c.doc_id AS VARCHAR))")} % 50 = 0)"),
    // the audio twin of media_dedup_features: two-seed closed-form
    // samples -> frame L1 energies -> 56 comparison bits -> the shared
    // band/bucket/pair machinery, all replayed exactly
    "media_audio_dedup" ->
      s"""WITH sd AS (SELECT doc_id,
         |    CAST(200 + (doc_id // 8) % 57 AS BIGINT) AS n,
         |    (doc_id // 8) % 56 AS nf,
         |    ${hx60("md5('audn:' || CAST(doc_id AS VARCHAR))")} AS nid
         |  FROM documents),
         |s AS (SELECT doc_id, (k * 57) // n AS f,
         |    ((CASE WHEN (k * 57) // n = nf THEN nid
         |        ELSE ${hx60("md5('aud:' || CAST(doc_id // 8 AS VARCHAR) || ':' || CAST((k * 57) // n AS VARCHAR))")}
         |      END + k * 104729)
         |      % 65536 + 65536) % 65536 - 32768 AS v
         |  FROM sd, unnest(range(0, n)) t(k)),
         |e AS (SELECT doc_id, f, CAST(sum(abs(v)) AS BIGINT) AS en,
         |    CAST(count(*) AS BIGINT) AS cnt FROM s GROUP BY doc_id, f),
         |bits AS (SELECT a.doc_id, a.f,
         |    CASE WHEN a.en * b.cnt > b.en * a.cnt THEN '1' ELSE '0' END AS bit
         |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.f = a.f + 1 WHERE a.f < 56),
         |sg AS (SELECT doc_id, string_agg(bit, '' ORDER BY f) AS sig FROM bits GROUP BY doc_id),
         |bb AS (SELECT doc_id, sig, i,
         |    CAST(i AS VARCHAR) || ':' || substr(sig, CAST(i*14 + 1 AS INT), 14) AS k
         |  FROM sg, unnest(range(0, 4)) t(i)),
         |okb AS (SELECT k FROM (SELECT k, count(*) AS n FROM bb GROUP BY k)
         |  WHERE n BETWEEN 2 AND $MaxBucket),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
         |  FROM bb a JOIN bb b ON a.k = b.k AND a.doc_id < b.doc_id JOIN okb ON a.k = okb.k),
         |ham AS (SELECT id_a, id_b,
         |    CAST(sum(CASE WHEN substr(sa, CAST(j AS INT), 1) <> substr(sb, CAST(j AS INT), 1)
         |      THEN 1 ELSE 0 END) AS INT) AS hamming
         |  FROM cand, unnest(range(1, 57)) t(j) GROUP BY id_a, id_b)
         |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 2
         |ORDER BY id_a, id_b""".stripMargin,
    "media_audio_stats" ->
      """WITH s AS (SELECT doc_id, k,
        |    ((doc_id * 7919 + k * 104729) % 65536 + 65536) % 65536 - 32768 AS v
        |  FROM documents, unnest(range(0, 200 + doc_id % 57)) t(k)),
        |p AS (SELECT doc_id, k, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY k) AS pv FROM s)
        |SELECT doc_id,
        |  count(*) AS n_samples,
        |  CAST(max(abs(v)) AS BIGINT) AS peak_abs,
        |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
        |  CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |  CAST(count(CASE WHEN pv IS NOT NULL AND ((pv >= 0) <> (v >= 0)) THEN 1 END) AS BIGINT)
        |    AS zero_crossings,
        |  round(CAST(sum(abs(v)) AS DOUBLE) / count(*), 6) AS mean_abs
        |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the same closed form restricted to EVEN sample indices: the
    // decimated waveform is a pure index subsequence
    "media_audio_resample" ->
      """WITH s AS (SELECT doc_id, k,
        |    ((doc_id * 7919 + k * 104729) % 65536 + 65536) % 65536 - 32768 AS v
        |  FROM documents, unnest(range(0, 200 + doc_id % 57, 2)) t(k)),
        |p AS (SELECT doc_id, k, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY k) AS pv FROM s)
        |SELECT doc_id,
        |  count(*) AS n_samples,
        |  CAST(max(abs(v)) AS BIGINT) AS peak_abs,
        |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
        |  CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |  CAST(count(CASE WHEN pv IS NOT NULL AND ((pv >= 0) <> (v >= 0)) THEN 1 END) AS BIGINT)
        |    AS zero_crossings,
        |  round(CAST(sum(abs(v)) AS DOUBLE) / count(*), 6) AS mean_abs
        |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
