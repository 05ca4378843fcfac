package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting.
  *
  * All operators are compositions of built-in (whole-stage-codegen'd)
  * functions — no UDFs — so they stay inside Tungsten and scale linearly
  * with executor count: every one is a narrow map over the documents
  * table, no shuffle at all. Each has an exact DuckDB-SQL twin used as
  * the correctness oracle (see [[graft.queries.LlmQueries]]).
  */
object TextAnalysis {

  /** Whitespace token count: number of space-separated tokens. */
  def tokenCountWs(text: Column): Column =
    size(split(text, " +"))

  /** BPE-ish token count: runs of letters, runs of digits, and single
    * other non-space characters each count as one token (a common cheap
    * proxy for subword tokenizer counts). */
  def tokenCountBpeIsh(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))

  /** Count of occurrences of a literal substring (no regex), via length
    * difference — identical semantics in any engine. */
  def substrCount(text: Column, literal: String): Column =
    ((length(text) - length(replace(text, lit(literal), lit("")))) / literal.length).cast("int")

  /** Ratio of punctuation characters to all characters. */
  def punctRatio(text: Column): Column =
    (size(regexp_extract_all(text, lit("[.,;:!?]"), lit(0))).cast("double") / length(text))

  /** Ratio of stopword tokens to all tokens (English stopword sample). */
  val defaultStopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is")

  /** Token-exact stopword count WITHOUT the interpreted `filter` HOF
    * (higher-order functions don't participate in whole-stage codegen):
    * pad with spaces and count " <sw>" occurrences whose NEXT char is a
    * space via lookahead — the lookahead keeps the trailing space
    * unconsumed so adjacent stopwords ("the the") both match, making
    * the count identical to filtering split(" +") tokens (verified
    * equal on all sf0.1 documents and in the DuckDB oracle, which
    * uses the list_filter formulation). */
  def stopwordCount(text: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val alternation = stopwords.map(java.util.regex.Pattern.quote).mkString("|")
    val rx = s" ($alternation)(?=[ ])"
    size(regexp_extract_all(concat(lit(" "), lower(text), lit(" ")), lit(rx), lit(0)))
  }

  def stopwordRatio(text: Column, stopwords: Seq[String] = defaultStopwords): Column =
    stopwordCount(text, stopwords).cast("double") / tokenCountWs(text)

  /** Cheap quality score in [0,1]: penalizes very short docs, very long
    * mean token length, and high punctuation density. Deterministic
    * arithmetic only. */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCountWs(text).cast("double")
    val meanTokLen = length(text).cast("double") / nTok
    val lenScore = least(nTok / lit(50.0), lit(1.0))
    val tokScore = when(meanTokLen.between(3.0, 10.0), 1.0).otherwise(0.5)
    val punctScore = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 10.0)
    round((lenScore * 0.4 + tokScore * 0.3 + punctScore * 0.3), 6)
  }

  /** Language-ID heuristic: per-language marker-word counts, argmax with
    * a deterministic preference order on ties. The markers are common
    * function words; on the synthetic corpus this is exercised as a
    * deterministic function (the `lang` column is a synthetic label, not
    * derivable from the text). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of "),
    "es" -> Seq(" el ", " la ", " de "),
    "de" -> Seq(" der ", " und ", " die "),
    "fr" -> Seq(" le ", " et ", " les "),
    "zh" -> Seq("的", "是", "了"))

  def langScore(text: Column, markers: Seq[String]): Column =
    markers.map(m => substrCount(text, m)).reduce(_ + _)

  def langIdHeuristic(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    // argmax via score array + array_position: each score expression
    // appears exactly once. (A nested-when fold embeds every previous
    // score twice per level — exponential expression duplication that
    // measurably blows up codegen: 3.9 s → 0.5 s on sf0.1 documents.)
    val scores = array(langMarkers.map { case (_, markers) => langScore(padded, markers) }: _*)
    val names = array(langMarkers.map { case (lang, _) => lit(lang) }: _*)
    val best = array_max(scores)
    when(best <= 0, lit("und"))
      .otherwise(element_at(names, array_position(scores, best).cast("int")))
  }

  /** Document fingerprint: md5 content hash of the lowercased text (the
    * dedup key). */
  def fingerprintMd5(text: Column): Column = md5(to_binary(lower(text), lit("utf-8")))

  /** Canonical text normalization: lowercase, strip punctuation,
    * collapse whitespace runs, trim. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[.,;:!?]", ""), " +", " "))

  /** T5-STYLE SPAN CORRUPTION — the denoising-objective data prep
    * (Raffel et al., JMLR 2020): mask contiguous word spans with
    * sentinel tokens, emit (input, target) pairs where the input
    * carries `<extra_id_k>` at each masked span and the target lists
    * `<extra_id_k>` followed by the masked words. The randomness is
    * the seed-free portable rule every sampler in this library uses:
    * words partition into fixed `spanWords`-blocks and block b of doc
    * d masks iff `hash60("span:" + d + ":" + b) mod 1000 < maskMilli`
    * — non-overlapping spans BY CONSTRUCTION (block granularity), mean
    * span length = spanWords, expected corruption rate = maskMilli/1000,
    * and any engine replays every masking decision, sentinel index,
    * and assembled string (the oracle does).
    *
    * Scale shape: ONE narrow map — tokenize, per-block hash, assemble —
    * no shuffle, no state; the per-doc HOF work is O(blocks²) from the
    * sentinel-rank prefix count, bounded by (len/spanWords)² which at
    * typical doc lengths is noise against the tokenize itself.
    * Output: (id, n_words, n_spans, n_masked_words, input, target). */
  def spanCorruption(df: DataFrame, idCol: String, textCol: String,
      spanWords: Int = 3, maskMilli: Int = 150): DataFrame = {
    require(spanWords > 0, "spanWords must be positive")
    require(maskMilli >= 0 && maskMilli <= 1000, s"maskMilli in [0,1000]; got $maskMilli")
    // NULL text drops the doc (a SQL engine's unnest-over-NULL emits no
    // rows, so the doc vanishes there too — r17 verdict flag: without
    // this filter Spark kept a row of NULLs and the two engines
    // diverged on any fixture with a NULL text)
    val d = df.filter(col(textCol).isNotNull).select(col(idCol).as("id"),
      split(normalizeText(col(textCol)), " ").as("ws"))
    // per block: masked iff hash60 of (id, block) under the threshold
    def maskedCol(b: Column, id: Column): Column =
      Sampling.hash60(concat(lit("span:"), id.cast("string"), lit(":"), b.cast("string"))) %
        1000 < lit(maskMilli)
    d.select(col("id"), col("ws"),
        expr(s"transform(sequence(0, (size(ws) - 1) DIV $spanWords), b -> b)").as("bs"))
      .select(col("id"), col("ws"),
        transform(col("bs"), b => maskedCol(b, col("id"))).as("mask"))
      .select(col("id"), col("ws"), col("mask"),
        // sentinel index of block b = masked blocks before it
        transform(col("mask"), (_, i) =>
          size(filter(slice(col("mask"), lit(1), i), m => m))).as("sent"))
      .select(col("id"),
        size(col("ws")).cast("int").as("n_words"),
        size(filter(col("mask"), m => m)).cast("int").as("n_spans"),
        expr(s"CAST(aggregate(transform(ws, (w, i) -> " +
          s"IF(element_at(mask, CAST(i DIV $spanWords + 1 AS INT)), 1, 0)), 0, (a, x) -> a + x) AS INT)")
          .as("n_masked_words"),
        // input: block starts of masked blocks become the sentinel;
        // other masked words drop; unmasked words pass through
        array_join(expr(s"filter(transform(ws, (w, i) -> CASE " +
          s"WHEN NOT element_at(mask, CAST(i DIV $spanWords + 1 AS INT)) THEN w " +
          s"WHEN i % $spanWords = 0 OR i = 0 THEN concat('<extra_id_', " +
          s"CAST(element_at(sent, CAST(i DIV $spanWords + 1 AS INT)) AS STRING), '>') " +
          s"ELSE NULL END), x -> x IS NOT NULL)"), " ").as("input"),
        // target: sentinel then the span's words, for each masked block
        array_join(expr(s"filter(transform(ws, (w, i) -> CASE " +
          s"WHEN NOT element_at(mask, CAST(i DIV $spanWords + 1 AS INT)) THEN NULL " +
          s"WHEN i % $spanWords = 0 THEN concat('<extra_id_', " +
          s"CAST(element_at(sent, CAST(i DIV $spanWords + 1 AS INT)) AS STRING), '> ', w) " +
          s"ELSE w END), x -> x IS NOT NULL)"), " ").as("target"))
  }

  /** Conservative PII patterns, restricted to the regex subset that
    * Java's engine (Spark) and RE2 (the DuckDB oracle) interpret
    * identically: explicit character classes, greedy quantifiers, no
    * lookaround, no backreferences. */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** International-format phone: +, then 7+ digits with optional
    * space/hyphen separators, ending in a digit. */
  val phonePattern: String = "\\+[0-9][0-9 -]{5,}[0-9]"

  /** Number of non-overlapping matches of `pattern` in `text`. */
  def matchCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** PII redaction: replace every email, then every international-format
    * phone number, with typed placeholder tokens. Emails go first so
    * digit runs inside an address can never half-match the phone
    * pattern. A narrow codegen'd map — at 100 TB this runs scan-side
    * with zero shuffle, and the placeholder tokens keep downstream
    * token statistics meaningful. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")

  /** Distinctive terms per document — TF-IDF-style relevance with the
    * idf term kept RATIONAL: score = tf/df in ONE IEEE division, which
    * is correctly rounded and therefore bit-identical in any engine
    * (log-idf is transcendental; libm implementations differ in final
    * ulps, and df-normalization induces the same per-doc ranking).
    * Returns the top-k terms per doc as (id, token, tf, df, score).
    * Scale shape: tf aggregates (doc, token) pairs with map-side
    * partials; df aggregates the VOCABULARY (token cardinality, not
    * corpus size); the rank is a per-doc window after one id shuffle —
    * no global sort anywhere. */
  def distinctiveTerms(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("id"),
        explode(split(normalizeText(col(textCol)), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val tf = toks.groupBy("id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("id").orderBy(desc("score"), asc("token"))
    tf.join(dfreq, "token")
      .withColumn("score", col("tf").cast("double") / col("df"))
      .withColumn("__rk", row_number().over(w)).filter(col("__rk") <= k)
      .select("id", "token", "tf", "df", "score")
  }

  /** HTML EXTRACTION + link-density signals — the CommonCrawl-style
    * main-content pass (the trafilatura/jusText family, reduced to the
    * regex subset both Java and RE2 interpret identically): strip tags
    * to recover text, and report the markup statistics boilerplate
    * filters key on — link density (anchor-text chars over text chars)
    * is THE classic navigation/footer detector, markup ratio separates
    * template-heavy pages from content pages.
    *
    * All arithmetic is exact-integer ppm (`x · 1e6 div y` — truncating
    * division, the BM25 convention); tag stripping is
    * `<[^>]*>` → space, then whitespace collapse — no lookaround, no
    * backreference, identical under Java regex and RE2. One NARROW map:
    * no shuffle, no state, scan-side at any corpus size.
    *
    * Output: (id, text, n_tags, n_links, text_chars, link_chars,
    * link_density_ppm, markup_ratio_ppm). */
  def htmlExtract(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val html = col(htmlCol)
    val text = trim(regexp_replace(regexp_replace(html, "<[^>]*>", " "), " +", " "))
    // Column API (not a raw-name expr string): a column name needing
    // backticks or containing expression syntax must still resolve
    val linkChars = aggregate(
      transform(regexp_extract_all(html, lit("<a [^>]*>([^<]*)</a>"), lit(1)),
        x => length(x)),
      lit(0), (a, b) => a + b).cast("long")
    df.select(col(idCol).as("id"), text.as("text"),
        size(regexp_extract_all(html, lit("<[^>]*>"), lit(0))).cast("long").as("n_tags"),
        substrCount(html, "<a ").as("n_links"),
        length(text).cast("long").as("text_chars"),
        linkChars.as("link_chars"),
        length(html).cast("long").as("html_chars"))
      .withColumn("link_density_ppm",
        when(col("text_chars") === 0, 0L)
          .otherwise(expr("(link_chars * 1000000) DIV text_chars")))
      .withColumn("markup_ratio_ppm",
        when(col("html_chars") === 0, 0L)
          .otherwise(expr("((html_chars - text_chars) * 1000000) DIV html_chars")))
      .drop("html_chars")
  }

  /** CLUSTER TOPIC LABELING: the top-k distinctive tokens of each
    * latent cluster — how a pipeline names the topics a label-free
    * k-means split of the embedding space found (cluster 3 is "legal
    * boilerplate", cluster 7 is "code"), turning an opaque centroid id
    * into something a curation decision can cite. The score is the
    * [[distinctiveTerms]] lift, per CLUSTER instead of per doc:
    * `n_ct / n_t` — the token's in-cluster count over its corpus count,
    * exact integers into ONE correctly-rounded IEEE division, ties
    * broken by token. `assigned` is any (id, centroid) frame —
    * typically [[Similarity.kmeansAssign]] with null verdicts filtered.
    *
    * Scale shape: the doc⋈assignment join shuffles by id BEFORE
    * tokenizing, so the exploded token stream never crosses the wire
    * un-aggregated; both count aggregates are (clusters·vocab)- and
    * vocab-sized with map-side partials; the rank window partitions by
    * centroid over the already-aggregated vocab frame, never the
    * corpus. Output: (centroid, token, n_ct, n_t, score, rk 1..k). */
  def clusterTopicTerms(assigned: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, k: Int = 3): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val dd = docs.select(col(idCol).as("__id"), col(textCol).as("__t"))
      .join(assigned.select(col(idCol).as("__id"), col("centroid")), "__id")
    val toks = dd.select(col("centroid"),
        explode(filter(split(normalizeText(col("__t")), " "), x => length(x) > 0)).as("token"))
    val ct = toks.groupBy("centroid", "token").agg(count(lit(1)).as("n_ct"))
    val gt = toks.groupBy("token").agg(count(lit(1)).as("n_t"))
    val w = Window.partitionBy("centroid").orderBy(desc("score"), asc("token"))
    ct.join(gt, "token")
      .withColumn("score", col("n_ct").cast("double") / col("n_t"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("centroid"), col("token"), col("n_ct"), col("n_t"),
        col("score"), col("rk").cast("int").as("rk"))
  }

  /** VOCABULARY GROWTH CURVE (Heaps' law measurement): distinct-vocab
    * size as a function of corpus prefix size, at `nPoints` equal-
    * frequency id boundaries — the curve that tells a tokenizer team
    * whether vocabulary is saturating (train the tokenizer now) or
    * still growing linearly (the corpus is noisier than it looks:
    * unbounded vocab growth at constant rate usually means ids, OCR
    * noise, or mangled encodings masquerading as words).
    *
    * The prefix order is ascending id (the ingest-order stand-in);
    * boundaries are the EXACT discrete quantiles of the id column from
    * [[graft.operators.HistogramQuantile]]. The key identity making one
    * pass suffice: the vocab size at prefix P is the count of tokens
    * whose FIRST-SEEN doc id ≤ P — so one vocabulary-sized
    * `min(id) GROUP BY token` aggregate answers every point, instead of
    * nPoints separate distinct-counts over growing prefixes (which
    * would rescan the corpus nPoints times).
    *
    * Scale shape: one narrow tokenize scan; ONE token-keyed shuffle
    * with map-side partial min (vocabulary-sized, the [[topTokens]]
    * profile); the ≤-join against the broadcast nPoints boundary rows
    * fans each vocab/doc row to ≤ nPoints — a bounded constant, not a
    * corpus blowup. No window touches the corpus. All outputs exact
    * integers. Output: (point 1..nPoints, boundary_id, n_docs,
    * n_tokens, vocab) — n_tokens counts token INSTANCES ≤ boundary
    * (Heaps' N), vocab counts distinct tokens ≤ boundary (Heaps' V). */
  def vocabGrowthCurve(df: DataFrame, idCol: String, textCol: String,
      nPoints: Int = 10): DataFrame = {
    require(nPoints > 0 && 1000000 % nPoints == 0,
      s"nPoints must divide 1e6 so boundaries are exact ppm quantiles; got $nPoints")
    val ws = filter(split(normalizeText(col(textCol)), " "), x => length(x) > 0)
    val base = df.select(col(idCol).cast("long").as("__id"), ws.as("__ws"))
    val firstSeen = base.select(col("__id"), explode(col("__ws")).as("token"))
      .groupBy("token").agg(min("__id").as("first_id"))
    val qs = (1 to nPoints).map(k => (s"b$k", k.toDouble / nPoints))
    val b = graft.operators.HistogramQuantile.boundaries(base, Nil, "__id", qs)
    val points = broadcast(b
      .select(posexplode(array(qs.map(q => col(q._1)): _*)).as(Seq("__k0", "boundary_id")))
      .select((col("__k0") + 1).cast("int").as("point"), col("boundary_id")))
    val vocab = firstSeen.join(points, col("first_id") <= col("boundary_id"))
      .groupBy("point").agg(count(lit(1)).as("vocab"))
    base.select(col("__id"), size(col("__ws")).cast("long").as("__n"))
      .join(points, col("__id") <= col("boundary_id"))
      .groupBy("point", "boundary_id")
      .agg(count(lit(1)).as("n_docs"), sum("__n").as("n_tokens"))
      .join(vocab, Seq("point"), "left")
      .select(col("point"), col("boundary_id"), col("n_docs"), col("n_tokens"),
        coalesce(col("vocab"), lit(0L)).as("vocab"))
  }

  /** Corpus-relative word-frequency score — the engine-portable
    * stand-in for CCNet's LM-perplexity filter: docs dominated by
    * corpus-rare words (OCR noise, id strings, mangled encodings)
    * score low, docs of common words score high. Each token instance
    * contributes floor(log2 c(token)) with the corpus count c entering
    * EXACTLY as `length(bin(c)) - 1` — an integer identity in any
    * engine, where true log is transcendental and libm ulps differ
    * (the same rationality discipline as [[distinctiveTerms]]). Per
    * doc: token count, the exact integer sum of floor-log2 counts,
    * and their mean in ONE correctly-rounded IEEE division.
    *
    * Scale shape: the count aggregate is VOCABULARY-sized with
    * map-side partials; the instance⋈vocab join shuffles (token, id)
    * pairs — proportional to corpus tokens, the same honest
    * throughput-bound profile as [[Decontamination]]; the per-doc
    * re-agg rides one id shuffle. The production variant broadcasts
    * the top-V vocabulary head (head tokens cover most instances by
    * Zipf) and floors the tail to lg 0. */
  def unigramLogFreq(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        explode(split(normalizeText(col(textCol)), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val counts = toks.groupBy("token").agg(count(lit(1)).as("c"))
    toks.join(counts, "token")
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        sum((length(bin(col("c"))) - 1).cast("long")).as("sum_log2"))
      .withColumn("mean_log2",
        round(col("sum_log2").cast("double") / col("n_tokens"), 6))
  }

  /** The HYBRID-JOIN twin of [[unigramLogFreq]] — identical result,
    * head/tail split plan: the top-V head counts BROADCAST to the
    * instance scan (hot instances never shuffle), tail instances take
    * the ordinary shuffle join, the two disjoint halves union before
    * the per-doc re-aggregation. Same output as the plain variant (the
    * catalog shares one oracle); PlanShapeSpec pins the broadcast +
    * anti-join shape.
    *
    * DEMOTED TO A FALLBACK (round 11, measured — SCALE.md
    * §hybrid-crossover): `graft.SkewProbe` synthesized the Zipf head
    * this variant was built for (3 tokens ≈ 50% of all instances) and
    * the PLAIN variant still won at every point (1.6–3.1× faster at
    * 10×/100×), because the plain join's vocab side is
    * vocabulary-sized and BROADCASTS — a broadcast probe has no
    * reducer for a hot key to swamp, so the hot-key scenario never
    * materializes while |vocab| fits the broadcast threshold (by
    * Heaps' law it usually does; a BPE vocab always does). Prefer
    * [[unigramLogFreq]]; use this only when the vocabulary exceeds the
    * broadcast threshold AND AQE skew-join is unavailable. */
  def unigramLogFreqHybrid(df: DataFrame, idCol: String, textCol: String,
      headV: Int = 1000): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        explode(split(normalizeText(col(textCol)), " ")).as("token"))
      .filter(length(col("token")) > 0)
    // four consumers (head rank, tail anti, two instance joins) of the
    // corpus-wide vocab aggregate
    val counts = Materialize.shared(toks.groupBy("token").agg(count(lit(1)).as("c")))
    val head = graft.operators.GroupTopK.topK(
        counts.withColumn("g", lit(1)), Seq("g"), Seq(("c", false), ("token", true)), headV)
      .select("token", "c")
    val tail = counts.join(broadcast(head.select("token")), Seq("token"), "left_anti")
    val headInst = toks.join(broadcast(head), "token")
    val tailInst = toks.join(broadcast(head.select("token")), Seq("token"), "left_anti")
      .join(tail, "token")
    headInst.unionByName(tailInst)
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        sum((length(bin(col("c"))) - 1).cast("long")).as("sum_log2"))
      .withColumn("mean_log2",
        round(col("sum_log2").cast("double") / col("n_tokens"), 6))
  }

  /** Bigram conditional-log-probability scorer — the next rung of the
    * perplexity-filter ladder above [[unigramLogFreq]]: per document,
    * Σ over its bigrams of ⌊lg c₂(prev,next)⌋ − ⌊lg c₁(prev)⌋, an
    * exact-integer stand-in for Σ log₂ p(next|prev) (each term within
    * 2 bits of the true conditional, and ≤ 0 because c₂ ≤ c₁ when
    * both are counted over the SAME bigram-instance stream — c₁ is
    * the token's count as a bigram PREFIX, not its raw frequency, so
    * the ratio is a genuine conditional). Uniform high-probability
    * text scores near 0; incoherent token salad scores very negative —
    * the discrimination a real n-gram LM filter (CCNet-style) gives,
    * kept rational so the oracle replays it bit-for-bit. Floor-log2 is
    * `length(bin(c)) - 1`, the repo's exact-in-any-engine identity.
    *
    * Scale shape: one tokenized scan feeds the bigram-instance stream;
    * c₂ and c₁ are VOCABULARY²-/vocabulary-sized aggregates with
    * map-side partials; the instance⋈counts joins shuffle (pair, id) —
    * corpus-proportional, the same throughput-bound profile as
    * [[unigramLogFreq]], and both count relations broadcast when the
    * bigram vocabulary fits (Heaps' law keeps it far below corpus
    * size). At 100 TB, materialize the instance stream once (it has
    * three consumers) exactly as [[unigramLogFreqHybrid]] does its
    * vocab aggregate. Docs with < 2 tokens have no bigrams and drop
    * out, in both engines, by construction. */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = filter(split(normalizeText(col(textCol)), " "),
      w => length(w) > 0)
    // three consumers of the exploded bigram stream below (c2, c1, the
    // instance join)
    val bg = df.select(col(idCol).as("id"), words.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("id"), explode(expr(
        "transform(sequence(1, size(ws) - 1), " +
          "i -> struct(element_at(ws, CAST(i AS INT)) AS prev, " +
          "element_at(ws, CAST(i + 1 AS INT)) AS nxt))")).as("b"))
      .select(col("id"), col("b.prev").as("prev"), col("b.nxt").as("nxt"))
      .transform(Materialize.shared)
    val c2 = bg.groupBy("prev", "nxt").agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy("prev").agg(count(lit(1)).as("c1"))
    def lg(c: Column): Column = (length(bin(c)) - 1).cast("long")
    bg.join(c2, Seq("prev", "nxt")).join(c1, Seq("prev"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(lg(col("c2"))).as("sum_lg_pair"),
        sum(lg(col("c1"))).as("sum_lg_prev"))
      .withColumn("cond_lg", col("sum_lg_pair") - col("sum_lg_prev"))
      .withColumn("mean_cond",
        round(col("cond_lg").cast("double") / col("n_bigrams"), 6))
  }

  /** All word n-gram repetition statistics in one compiled pass —
    * `struct(total, distinct, top)` ([[graft.functions.NgramStats]]):
    * the Gopher-style repetition quality terms (heavily repeated
    * n-grams mark boilerplate/spam that survives exact AND near dedup;
    * the repetition is WITHIN the doc). Exact integers; the standard
    * filters are `1 - distinct/total` and `top/total` (exact IEEE
    * divisions — engine-portable). A narrow map: no shuffle, no
    * intermediate n-gram array, no interpreted HOFs. */
  def ngramStats(text: Column, n: Int): Column =
    graft.functions.TextFunctions.ngramStats(split(lower(text), " +"), n)

  /** Duplicate n-gram COUNTS per document — (id, n_grams, n_distinct)
    * via [[ngramStats]]. */
  def dupNgramCounts(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val st = ngramStats(col(textCol), n)
    df.select(col(idCol),
      st.getField("total").as("n_grams"),
      st.getField("distinct").as("n_distinct"))
  }

  /** Fixed-size word chunks with overlap — the context-window prep step
    * of a training pipeline. Returns an array of chunk strings; pair
    * with `posexplode` for (doc, chunk_idx, chunk) rows. Stride =
    * chunkWords - overlap; the final partial chunk is kept. A narrow
    * map over the corpus: no shuffle, scales with input splits. */
  def chunkWords(text: Column, chunkWords: Int, overlap: Int): Column = {
    require(overlap >= 0 && overlap < chunkWords, "need 0 <= overlap < chunkWords")
    val stride = chunkWords - overlap
    val words = split(text, " +")
    transform(
      sequence(lit(0),
        greatest(floor((size(words) - overlap - 1) / lit(stride)).cast("int"), lit(0))),
      i => concat_ws(" ", slice(words, i * stride + 1, lit(chunkWords))))
  }

  /** SEQUENCE PACKING — the pretraining prep step that concatenates
    * documents in a fixed order and splits the token stream into
    * `windowTokens`-sized context windows: each doc is assigned the
    * pack its FIRST token lands in (greedy concat-and-split). The
    * assignment is a function of the global running token count —
    * inherently sequential — and runs through the plumba PARALLEL
    * two-pass prefix scan ([[graft.plumba.CollectOps.collectScan]]
    * with the associative sum merge law): per-partition token subtotals,
    * a tiny seed exchange, then a parallel per-partition re-scan. No
    * single-partition WindowExec exists in the plan — the usual
    * `sum() OVER (ORDER BY ...)` formulation of packing collapses the
    * whole corpus into one task at 100 TB.
    *
    * Returns (doc_id, n_tokens, pack_id), doc_id-ordered. */
  def packSequences(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 2048): DataFrame =
    packSequencesBy(df, idCol, tokenCountWs(col(textCol)).cast("long"), windowTokens)

  /** [[packSequences]] generalized over the token counter: `nTokens` is
    * any per-row token-count expression — the whitespace proxy above, or
    * the EXACT trained-BPE count ([[Bpe.tokenCount]]) for true token
    * budgets. Same parallel two-pass prefix-scan plan. */
  def packSequencesBy(
      df: DataFrame,
      idCol: String,
      nTokens: Column,
      windowTokens: Int = 2048): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    val t = df.select(col(idCol).as("doc_id"), nTokens.as("n_tokens"))
    val add = (a: Long, b: Long) => a + b
    // n_tokens rides along as a (no-op) secondary order column: doc_id
    // is unique, so the order is unchanged, and collectScan keeps order
    // columns in its output while consuming value columns
    graft.plumba.CollectOps.collectScan(
        t, Seq("n_tokens"), Seq("doc_id", "n_tokens"),
        graft.plumba.Kernel.Scan.of1[Long, Long](0L,
          merge = Some(graft.plumba.Kernel.Merge(0L, add)))(add),
        org.apache.spark.sql.types.LongType, "cum_tokens")
      .select(col("doc_id"), col("n_tokens"),
        expr(s"CAST((cum_tokens - n_tokens) DIV $windowTokens AS BIGINT)").as("pack_id"))
  }

  /** Control chars (C0 minus \t\n\r, plus DEL) — the bytes a real
    * crawl corpus is full of and no tokenizer wants. `\x` escapes are
    * interpreted identically by Java regex (Spark) and RE2 (DuckDB),
    * so ONE pattern string serves both engines. */
  val controlCharPattern: String = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"

  /** Zero-width / BOM codepoints (ZWSP, ZWNJ, ZWJ, U+FEFF) — invisible
    * in rendering, poison for token statistics and exact dedup. */
  val zeroWidthPattern: String = "[\\x{200B}-\\x{200D}\\x{FEFF}]"

  /** ENCODING HYGIENE — detection and repair accounting for the
    * mojibake classes a crawl pipeline must triage before tokenizing:
    *
    *  - control chars ([[controlCharPattern]]): removable noise;
    *  - zero-width/BOM chars ([[zeroWidthPattern]]): removable noise
    *    that silently breaks exact-hash dedup and token counts;
    *  - U+FFFD replacement chars: NOT removable — each one marks bytes
    *    already lost upstream (a decoder replaced an invalid sequence),
    *    so they are COUNTED (routing the doc to quarantine/re-fetch)
    *    but never stripped, which would hide the damage.
    *
    * Repair = strip the two removable classes; `residual_bad` re-scans
    * the repaired text IN-PLAN (always 0 — the repair is verified by
    * the same hash gate that checks the counts, not by trust). One
    * narrow codegen'd map over the corpus + one per-group aggregate:
    * zero extra shuffles at any scale. All outputs exact integers. */
  def encodingHygiene(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    def cnt(pattern: String): Column =
      size(regexp_extract_all(t, lit(pattern), lit(0)))
    val repaired = regexp_replace(regexp_replace(t, controlCharPattern, ""),
      zeroWidthPattern, "")
    val scored = df.select(
      col(groupCol),
      cnt(controlCharPattern).as("__ctl"),
      cnt(zeroWidthPattern).as("__zw"),
      cnt("\\x{FFFD}").as("__rep"),
      (length(t) - length(repaired)).as("__removed"),
      (size(regexp_extract_all(repaired, lit(controlCharPattern), lit(0))) +
        size(regexp_extract_all(repaired, lit(zeroWidthPattern), lit(0)))).as("__resid"))
    scored.groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__ctl") + col("__zw") + col("__rep") > 0, 1L).otherwise(0L))
          .as("docs_flagged"),
        sum(col("__ctl").cast("long")).as("n_control"),
        sum(col("__zw").cast("long")).as("n_zerowidth"),
        sum(col("__rep").cast("long")).as("n_replacement"),
        sum(col("__removed").cast("long")).as("chars_removed"),
        sum(col("__resid").cast("long")).as("residual_bad"))
  }

  /** UNICODE NORMALIZATION report — the canonical-form hygiene pass
    * ([[graft.functions.NfcNormalize]]): per group, how many docs are
    * NOT in NFC (the same visible text arriving precomposed vs
    * decomposed hashes apart — splitting exact-dedup groups and
    * inflating token stats), the total code-unit shrinkage under
    * normalization, and an order-independent 60-bit xor checksum of
    * the NORMALIZED content — so the oracle verifies the normalized
    * BYTES, not just the counts. One narrow map + one per-group
    * aggregate; zero extra shuffles at any scale. */
  def unicodeNormalizationReport(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val nfc = graft.functions.TextFunctions.nfcNormalize(t)
    df.select(col(groupCol),
        (t =!= nfc).cast("long").as("__not_nfc"),
        (length(t) - length(nfc)).cast("long").as("__delta"),
        graft.functions.HashFunctions.md5Hash60(to_binary(nfc, lit("utf-8")))
          .as("__h60"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        sum("__not_nfc").as("docs_not_nfc"),
        sum("__delta").as("chars_delta"),
        expr("bit_xor(__h60)").as("nfc_xor"))
  }

  /** FIRST-FIT-DECREASING sequence packing — the bin-packing upgrade of
    * [[packSequences]]: where the greedy packer concatenates the doc
    * stream and SPLITS docs across window boundaries (zero padding,
    * but every boundary doc is torn), FFD packs WHOLE documents into
    * fixed `windowTokens` bins — no doc ever spans two windows, at the
    * cost of per-bin padding, which the decreasing order then
    * minimizes (classic FFD: ≤ 11/9·OPT + 6/9 bins). Deterministic
    * rule: docs in (n_tokens DESC, id ASC) order; each goes to the
    * LOWEST-indexed bin with remaining capacity ≥ n_tokens, else opens
    * the next bin. A doc larger than the window opens its own bin by
    * the same rule (nothing fits anywhere → new bin, which then never
    * accepts another doc — its remainder is negative), so oversized
    * docs need no special case.
    *
    * Execution: the bin state is a genuine global sequential
    * dependency (bin i's remainder depends on every earlier placement)
    * — this runs on [[graft.plumba.CollectOps.collectScan]]'s
    * sequential-parity path, the documented NON-mergeable regime. At
    * 100 TB you do not global-FFD the corpus: you FFD within
    * size-bounded shards (each shard's pack is independent — the same
    * sharding [[graft.llm.Sampling.shardAssign]] provides), which this
    * operator serves per-shard unchanged. The first-fit scan is
    * O(bins) per doc (a segment tree makes it O(log bins) for huge
    * shards; the linear scan is exact and fine at shard scale). */
  /** The FFD placement kernel: state = (bin remainders, last bin). */
  private def ffdKernel(windowTokens: Int): graft.plumba.Kernel.Scan[(Vector[Long], Int)] =
    graft.plumba.Kernel.Scan.of1[(Vector[Long], Int), Long](
      (Vector.empty[Long], -1),
      emit = s => s._2.toLong) { case ((bins, _), n) =>
        var i = 0
        var fit = -1
        while (fit < 0 && i < bins.length) {
          if (bins(i) >= n) fit = i
          i += 1
        }
        if (fit >= 0) (bins.updated(fit, bins(fit) - n), fit)
        else (bins :+ (windowTokens - n), bins.length)
      }

  def packSequencesFfd(
      df: DataFrame,
      idCol: String,
      nTokens: Column,
      windowTokens: Int = 2048): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    val t = df.select(col(idCol).as("doc_id"), nTokens.as("n_tokens"))
      .withColumn("neg_tokens", -col("n_tokens"))
    graft.plumba.CollectOps.collectScan(
        t, Seq("n_tokens"), Seq("neg_tokens", "doc_id", "n_tokens"),
        ffdKernel(windowTokens), org.apache.spark.sql.types.LongType, "bin_id")
      .select(col("doc_id"), col("n_tokens"), col("bin_id"))
  }

  /** SHARDED FFD — the 100 TB shape [[packSequencesFfd]]'s docstring
    * promises: documents are deterministically sharded
    * ([[Sampling.shardAssign]] — the same pure-function-of-id rule the
    * export manifest uses), and FFD runs INDEPENDENTLY per shard via
    * the per-group sequential scan ([[graft.plumba.GroupOps
    * .groupScan]] — one shuffle on shard_id, secondary sort
    * (len DESC, id ASC) inside each group, shards packed in
    * parallel across the cluster). Bin ids are per-shard; (shard_id,
    * bin_id) is the global window key. Pad cost vs global FFD is the
    * per-shard last-bin remainder — nShards extra partial bins worst
    * case, negligible against any real shard size. */
  def packSequencesFfdSharded(
      df: DataFrame,
      idCol: String,
      nTokens: Column,
      windowTokens: Int = 2048,
      nShards: Int = 8): DataFrame =
    packSequencesFfdByGroup(
        df.select(col(idCol), nTokens.as("__nt"))
          .withColumn("__shard", Sampling.shardAssign(col(idCol), nShards)),
        Seq("__shard"), idCol, col("__nt"), windowTokens)
      .withColumnRenamed("__shard", "shard_id")
      .select(col("shard_id"), col("doc_id"), col("n_tokens"), col("bin_id"))

  /** FFD WITHIN CALLER-PROVIDED GROUPS — the general form behind
    * [[packSequencesFfdSharded]] (which supplies an md5 shard as the
    * group): FFD runs independently inside each distinct `groupCols`
    * value via the per-group sequential scan ([[graft.plumba.GroupOps
    * .groupScan]] — ONE shuffle on the group key, secondary sort
    * (len DESC, id ASC) within each group, groups packed in parallel
    * across the cluster; no SinglePartition exchange anywhere). This
    * is the shape a compaction planner needs: a lake's merge groups
    * never cross table-partition boundaries, so the partition column
    * IS the group and the nightly plan parallelizes over partitions
    * instead of funnelling the whole file manifest through one task.
    * Bin ids are per-group; (groupCols..., bin_id) is the global key.
    * Output: (groupCols..., doc_id, n_tokens, bin_id). */
  def packSequencesFfdByGroup(
      df: DataFrame,
      groupCols: Seq[String],
      idCol: String,
      nTokens: Column,
      windowTokens: Int = 2048): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    require(groupCols.nonEmpty, "at least one group column is required")
    val t = df.select((groupCols.map(col) :+ col(idCol).as("doc_id")
        :+ nTokens.as("n_tokens")): _*)
      .withColumn("neg_tokens", -col("n_tokens"))
    graft.plumba.GroupOps.groupScan(
        t, groupCols, Seq("n_tokens"), Seq("neg_tokens", "doc_id", "n_tokens"),
        ffdKernel(windowTokens), org.apache.spark.sql.types.LongType, "bin_id")
      .select((groupCols.map(col) ++ Seq(col("doc_id"), col("n_tokens"), col("bin_id"))): _*)
  }

  /** The layout-emitting FFD kernel: same placement rule as
    * [[ffdKernel]], but the emitted value is the full placement record
    * `[bin_id, seq_in_bin, token_offset]` — all three are known AT
    * PLACEMENT TIME from the bin's running state (seq = docs already
    * in the bin, offset = tokens already in the bin), so the layout
    * costs nothing beyond the assignment itself. */
  private def ffdLayoutKernel(windowTokens: Int)
      : graft.plumba.Kernel.Scan[(Vector[(Long, Long)], Array[Long])] =
    graft.plumba.Kernel.Scan.of1[(Vector[(Long, Long)], Array[Long]), Long](
      (Vector.empty[(Long, Long)], null),
      emit = s => s._2) { case ((bins, _), n) =>
        var i = 0
        var fit = -1
        while (fit < 0 && i < bins.length) {
          if (bins(i)._1 >= n) fit = i
          i += 1
        }
        if (fit >= 0) {
          val (rem, cnt) = bins(fit)
          (bins.updated(fit, (rem - n, cnt + 1)),
            Array(fit.toLong, cnt, windowTokens - rem))
        } else
          (bins :+ ((windowTokens - n, 1L)), Array(bins.length.toLong, 0L, 0L))
      }

  /** TENSOR-READY packed-window layout — the artifact a training
    * loader actually consumes after FFD packing, which
    * [[packSequencesFfdByGroup]] stops one step short of: per member,
    * the placement order inside its bin (`seq_in_bin`) and the token
    * offset where the doc starts inside the fixed window
    * (`token_offset`). Those two columns fully determine the
    * loader-side tensors — position ids reset at every `token_offset`
    * (slot t of the owning doc has position `t − token_offset`) and
    * the document-boundary attention mask is the per-slot segment id
    * (slots `[token_offset, token_offset + n_tokens)` belong to
    * `seq_in_bin`; slots past the bin's fill are padding).
    *
    * Scale shape — the REASON this lives in the kernel instead of a
    * post-pass: the FFD scan already knows each bin's fill and member
    * count at placement time, so the layout rides the SAME single
    * group-key shuffle as the assignment ([[graft.plumba.GroupOps
    * .groupScan]]); deriving seq/offset afterwards would re-window on
    * (group, bin) — a second full exchange of the packed frame for
    * state the packer just threw away. Output: (groupCols..., doc_id,
    * n_tokens, carryCols..., bin_id, seq_in_bin, token_offset).
    *
    * `carryCols` ride the SAME scan instead of a post-layout join back
    * to the source frame: groupScan projects its orderCols through, and
    * appending carries AFTER the unique `doc_id` tiebreaker leaves the
    * FFD placement order untouched — so per-doc payload columns (e.g.
    * supervised-token counts) reach the bin rollup without re-running
    * the upstream pipeline a second time (the duplicated-subtree class
    * this repo's perf notes track) or a second doc-keyed exchange. */
  def packedWindowLayout(
      df: DataFrame,
      groupCols: Seq[String],
      idCol: String,
      nTokens: Column,
      windowTokens: Int = 2048,
      carryCols: Seq[String] = Nil): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    require(groupCols.nonEmpty, "at least one group column is required")
    val t = df.select((groupCols.map(col) :+ col(idCol).as("doc_id")
        :+ nTokens.as("n_tokens")) ++ carryCols.map(col): _*)
      .withColumn("neg_tokens", -col("n_tokens"))
    graft.plumba.GroupOps.groupScan(
        t, groupCols, Seq("n_tokens"),
        Seq("neg_tokens", "doc_id", "n_tokens") ++ carryCols,
        ffdLayoutKernel(windowTokens),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType),
        "layout")
      .select((groupCols.map(col) ++ Seq(col("doc_id"), col("n_tokens")) ++
        carryCols.map(col) ++ Seq(
        element_at(col("layout"), 1).as("bin_id"),
        element_at(col("layout"), 2).as("seq_in_bin"),
        element_at(col("layout"), 3).as("token_offset"))): _*)
  }

  /** SFT / CHAT-TEMPLATE data prep — the instruction-tuning twin of
    * [[spanCorruption]] and the second-most-common text→training-example
    * transform after plain packing: splice (prompt, response) pairs
    * into a chat-template token stream
    * `<|user|> prompt… <|assistant|> response… <|end|>` and emit the
    * LOSS MASK a trainer applies — 0 over the user tag, every prompt
    * token and the assistant tag (context is conditioned on, never
    * learned), 1 over every response token and the end tag (the model
    * must learn to stop).
    *
    * Deterministic truncation policy, exact integer arithmetic: when
    * `3 + |prompt| + |response| > maxTokens`, prompt tokens drop FIRST
    * and from the LEFT (chat truncation keeps the most recent context
    * and never sacrifices supervised tokens while unsupervised ones
    * remain), then response tokens drop from the RIGHT; the three
    * template tags always survive. NULL or empty prompt/response read
    * as zero tokens (a missing prompt is a valid completion-only
    * example — it must not drop the row or poison the splice).
    *
    * Scale shape: ONE narrow map — normalize, split, slice, join — no
    * shuffle, no state, codegen-friendly; at 100 TB this runs entirely
    * scan-side like every other prep in this family. Output: (id,
    * n_prompt_tokens, n_response_tokens, n_tokens, drop_prompt,
    * drop_response, text, loss_mask) — `loss_mask` is the per-token
    * '0'/'1' string aligned with `text`'s whitespace tokens. */
  def sftExamples(df: DataFrame, idCol: String, promptCol: String,
      responseCol: String, maxTokens: Int = 512): DataFrame = {
    require(maxTokens >= 3, s"maxTokens must fit the three template tags; got $maxTokens")
    def toks(c: Column): Column = coalesce(
      filter(split(normalizeText(c), " "), w => length(w) > 0),
      array().cast("array<string>"))
    // each toks() pipeline (regex+split+filter) is aliased ONCE and every
    // later projection reads the attribute — CollapseProject discipline
    // (langIdHeuristic/CDC lesson); the explain is re-checked in
    // SftExamplesSpec's plan pin (exactly two normalize pipelines)
    val t = df.select(col(idCol).as("id"),
        toks(col(promptCol)).as("pw"), toks(col(responseCol)).as("rw"))
      .select(col("id"), col("pw"), col("rw"),
        size(col("pw")).as("np"), size(col("rw")).as("nr"))
      .select(col("id"), col("pw"), col("rw"), col("np"), col("nr"),
        greatest(col("np") + col("nr") + lit(3) - lit(maxTokens), lit(0)).as("over"))
      .select(col("id"), col("pw"), col("rw"), col("np"), col("nr"),
        least(col("over"), col("np")).as("drop_prompt"),
        (col("over") - least(col("over"), col("np"))).as("drop_response"))
    t.select(col("id"),
      (col("np") - col("drop_prompt")).as("n_prompt_tokens"),
      (col("nr") - col("drop_response")).as("n_response_tokens"),
      (col("np") - col("drop_prompt") + col("nr") - col("drop_response") + lit(3))
        .as("n_tokens"),
      col("drop_prompt"), col("drop_response"),
      array_join(concat(
        array(lit("<|user|>")),
        slice(col("pw"), col("drop_prompt") + lit(1), col("np") - col("drop_prompt")),
        array(lit("<|assistant|>")),
        slice(col("rw"), lit(1), col("nr") - col("drop_response")),
        array(lit("<|end|>"))), " ").as("text"),
      concat(
        repeat(lit("0"), col("np") - col("drop_prompt") + lit(2)),
        repeat(lit("1"), col("nr") - col("drop_response") + lit(1))).as("loss_mask"))
  }

  /** A '0'/'1' loss-mask STRING as the `array<int>` a training loader
    * consumes — the deliberate division of labor behind the string
    * masks [[sftExamples]]/[[dpoPairs]] emit: the string replays
    * exactly in any oracle engine (an array hash is engine-fragile),
    * so it stays the verification witness; the loader-side tensor is
    * this one codegen'd expression away (split + cast — no per-row
    * driver parsing, no UDF). Apply at the sink/export projection:
    * `df.withColumn("mask", TextAnalysis.lossMaskArray(col("loss_mask")))`. */
  def lossMaskArray(mask: Column): Column =
    transform(filter(split(mask, ""), c => length(c) > 0), c => c.cast("int"))

  /** DPO / PREFERENCE-PAIR prep — the post-training sibling of
    * [[sftExamples]] (span corruption → SFT → preference pairs, the
    * three text→training-example transforms): one (prompt, chosen,
    * rejected) triple splices into TWO chat-template streams sharing
    * the SAME prompt region, each with its own loss mask over its
    * response. The alignment requirement is the whole point: a DPO
    * loss subtracts per-token logprobs of the two sequences, so the
    * prompt truncation MUST be identical in both branches — the
    * prompt pays for the LONGER branch's overflow
    * (`dp = min(|prompt|, max(over_c, over_r))`) and each response
    * then right-trims its own remainder. Both assembled sequences
    * therefore share the exact `<|user|> … <|assistant|>` prefix
    * (spec-pinned), and only the response regions differ.
    *
    * Same conventions as [[sftExamples]]: exact integer truncation,
    * NULL/empty sides read as zero tokens, mask '0' over tags+prompt
    * and '1' over response+end, one narrow map with aliased-once token
    * pipelines. Output: (id, n_prompt_tokens, drop_prompt,
    * chosen_text, chosen_mask, rejected_text, rejected_mask,
    * drop_chosen, drop_rejected). */
  def dpoPairs(df: DataFrame, idCol: String, promptCol: String,
      chosenCol: String, rejectedCol: String, maxTokens: Int = 512): DataFrame = {
    require(maxTokens >= 3, s"maxTokens must fit the three template tags; got $maxTokens")
    def toks(c: Column): Column = coalesce(
      filter(split(normalizeText(c), " "), w => length(w) > 0),
      array().cast("array<string>"))
    val t = df.select(col(idCol).as("id"),
        toks(col(promptCol)).as("pw"), toks(col(chosenCol)).as("cw"),
        toks(col(rejectedCol)).as("rw"))
      .select(col("id"), col("pw"), col("cw"), col("rw"),
        size(col("pw")).as("np"), size(col("cw")).as("nc"), size(col("rw")).as("nr"))
      // the SHARED prompt cut: sized by the longer branch's overflow
      .select(col("id"), col("pw"), col("cw"), col("rw"), col("np"), col("nc"), col("nr"),
        greatest(col("np") + col("nc") + lit(3) - lit(maxTokens), lit(0)).as("oc"),
        greatest(col("np") + col("nr") + lit(3) - lit(maxTokens), lit(0)).as("or"))
      .select(col("id"), col("pw"), col("cw"), col("rw"), col("np"), col("nc"), col("nr"),
        col("oc"), col("or"),
        least(greatest(col("oc"), col("or")), col("np")).as("dp"))
      .select(col("id"), col("pw"), col("cw"), col("rw"), col("np"), col("nc"), col("nr"),
        col("dp"),
        greatest(col("oc") - col("dp"), lit(0)).as("dc"),
        greatest(col("or") - col("dp"), lit(0)).as("dr"))
    def branch(words: Column, n: Column, drop: Column): Column =
      array_join(concat(
        array(lit("<|user|>")),
        slice(col("pw"), col("dp") + lit(1), col("np") - col("dp")),
        array(lit("<|assistant|>")),
        slice(words, lit(1), n - drop),
        array(lit("<|end|>"))), " ")
    def mask(n: Column, drop: Column): Column =
      concat(repeat(lit("0"), col("np") - col("dp") + lit(2)),
        repeat(lit("1"), n - drop + lit(1)))
    t.select(col("id"),
      (col("np") - col("dp")).as("n_prompt_tokens"),
      col("dp").as("drop_prompt"),
      branch(col("cw"), col("nc"), col("dc")).as("chosen_text"),
      mask(col("nc"), col("dc")).as("chosen_mask"),
      branch(col("rw"), col("nr"), col("dr")).as("rejected_text"),
      mask(col("nr"), col("dr")).as("rejected_mask"),
      col("dc").as("drop_chosen"), col("dr").as("drop_rejected"))
  }

  /** TRAINED linear quality classifier — the fastText-style upgrade
    * path from rule scores ([[qualityScore]]) and corpus-relative joins
    * ([[unigramLogFreq]]): distill an expensive teacher signal into a
    * cheap per-doc linear scorer a 100 TB filter pass can run
    * SCAN-SIDE. Teacher labels here are the integer form of the
    * quality score's saturating terms (good ⟺ n_tokens ≥ 50 AND mean
    * token length in [3, 10] ⟺ 3·n_tok ≤ n_chars ≤ 10·n_tok — exact
    * integer comparisons, no floats); the student is a
    * NEAREST-CENTROID classifier over four integer features
    * (token count, char count, distinct-token count, stopword count):
    * per-class means scaled ×1000 with truncating division, weight
    * w_i = μG_i − μB_i, decision threshold at the midpoint, margin
    * `2000·Σ w_i·x_i − Σ w_i·(μG_i + μB_i)` — positive ⟹ predicted
    * good. Every step is integer arithmetic, so the trained weights
    * AND every margin replay exactly in any engine.
    *
    * The whole train+apply is ONE declarative plan: a feature scan
    * with map-side partial class aggregation (two groups), the 1-row
    * weight relation broadcast back, and a second narrow scoring scan
    * — no driver loop, no collect. Degenerate corpora (a class empty)
    * fail loud: the scaled means go null and every downstream row
    * nulls out rather than silently scoring with half-trained
    * weights.
    *
    * Returns (doc_id, x1..x4, label, margin, pred). */
  def trainedQualityScorer(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val feats = df.select(col(idCol).as("doc_id"),
        tokenCountWs(col(textCol)).cast("long").as("x1"),
        length(col(textCol)).cast("long").as("x2"),
        size(array_distinct(split(lower(col(textCol)), " +"))).cast("long").as("x3"),
        stopwordCount(col(textCol)).cast("long").as("x4"))
      .withColumn("label",
        (col("x1") >= 50 && col("x2") >= col("x1") * 3 && col("x2") <= col("x1") * 10)
          .cast("int"))
    // exact integer division (SQL `div`) — float `/` + cast truncates
    // AFTER double rounding, which stops being exact past 2^53 (a
    // 100 TB corpus's scaled feature sums get there)
    def intDiv(a: Column, b: Column): Column = {
      val cb = org.apache.spark.sql.graft.ColumnBridge
      cb.column(new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        cb.expression(a), cb.expression(b)))
    }
    def m(cls: Int, x: String): Column =
      intDiv(sum(when(col("label") === cls, col(x))) * 1000L,
        sum(when(col("label") === cls, 1L)))
    val weights = feats.agg(
      (m(1, "x1") - m(0, "x1")).as("w1"), (m(1, "x2") - m(0, "x2")).as("w2"),
      (m(1, "x3") - m(0, "x3")).as("w3"), (m(1, "x4") - m(0, "x4")).as("w4"),
      ((m(1, "x1") - m(0, "x1")) * (m(1, "x1") + m(0, "x1")) +
        (m(1, "x2") - m(0, "x2")) * (m(1, "x2") + m(0, "x2")) +
        (m(1, "x3") - m(0, "x3")) * (m(1, "x3") + m(0, "x3")) +
        (m(1, "x4") - m(0, "x4")) * (m(1, "x4") + m(0, "x4"))).as("t"))
    val margin = lit(2000L) * (col("w1") * col("x1") + col("w2") * col("x2") +
      col("w3") * col("x3") + col("w4") * col("x4")) - col("t")
    feats.crossJoin(broadcast(weights))
      .select(col("doc_id"), col("x1"), col("x2"), col("x3"), col("x4"),
        col("label"), margin.as("margin"), (margin > 0).cast("int").as("pred"))
  }

  /** C4-style CROSS-DOCUMENT boilerplate removal, span-quantized: the
    * normalized text is cut into disjoint `spanWords`-word spans, a
    * span is boilerplate when it appears in ≥ `minDf` DISTINCT
    * documents (the repeated footer / cookie banner / license header
    * of web corpora), and every boilerplate span is removed from EVERY
    * document — unlike keep-first chunk dedup ([[Dedup]] chunk level),
    * which keeps one holder. Output per doc: span counts and the md5
    * of the kept text (spans rejoined in position order) — the
    * reconstruction witness an oracle can state independently. Words
    * beyond the last full span are outside the span quantization and
    * are not part of the reconstruction (documented semantics; a
    * production deploy would pad or carry the tail verbatim).
    *
    * Scale shape: the span-df aggregation is the one corpus-sized
    * shuffle, and it carries (span-hash, doc_id) pairs — never
    * positions or full text. The boilerplate set it yields is TINY by
    * definition (only repeated spans qualify), so membership flows
    * back as a broadcast; the per-doc reconstruction then groups each
    * doc's own spans (doc-sized rows, one doc_id shuffle). Nothing
    * all-pairs, nothing position-keyed in the wide shuffle. */
  def boilerplateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spanWords: Int = 8,
      minDf: Int = 2): DataFrame = {
    require(spanWords > 0, "spanWords must be positive")
    require(minDf >= 2, "minDf < 2 would flag every span")
    val words = split(normalizeText(col(textCol)), " ")
    // Docs shorter than one full span yield ZERO spans (and thus no
    // output row). Without the guard, sequence(0, -1) descends with
    // step -1 and fabricates two phantom spans per short doc.
    val spans = df.select(col(idCol).as("doc_id"), words.as("w"))
      .select(col("doc_id"), posexplode(
        when(size(col("w")) >= spanWords,
          transform(sequence(lit(0), (size(col("w")) / spanWords).cast("int") - 1),
            i => concat_ws(" ", slice(col("w"), i * spanWords + 1, lit(spanWords)))))
          .otherwise(array()))
        .as(Seq("pos", "span")))
      .withColumn("sh", md5(col("span")))
    val boiler = spans.groupBy("sh").agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf).select("sh")
      .withColumn("boiler", lit(1))
    spans.join(broadcast(boiler), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        count(col("boiler")).as("n_boiler"),
        md5(to_binary(concat_ws(" ",
          transform(
            filter(sort_array(collect_list(
              struct(col("pos"), when(col("boiler").isNull, col("span")).as("kept")))),
              x => x.getField("kept").isNotNull),
            x => x.getField("kept"))), lit("utf-8"))).as("kept_md5"))
  }
}
