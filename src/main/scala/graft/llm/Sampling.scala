package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize

/** Deterministic, engine-portable sampling and splitting for
  * training-data pipelines. Every decision derives from `md5(id)` — no
  * RNG state, no seed to ship, identical on every executor AND in any
  * engine with `md5(varchar)`: re-running the pipeline (or auditing it
  * in another system) reproduces the exact same splits. The same
  * portability trick as the round-3 hash family; `ann_ivf`'s centroid
  * rule established it.
  *
  * Scale shape: [[hashSplit]] is a narrow map (no shuffle, splits
  * computed scan-side and usable as partition filters downstream);
  * [[samplePerGroup]] is one hash shuffle on the group keys + a
  * rank-k window per group.
  */
object Sampling {

  /** The first two md5 hex chars of the id as an integer in [0, 256) —
    * a uniform, portable bucket (SQL replay:
    * `strpos`-parse of `substr(md5(id), 1, 2)`). */
  def hashBucket256(id: Column): Column =
    // first 2 hex chars == top 8 bits of the 60-bit hash — one compiled
    // md5 instead of the conv(substring(md5)) builtin chain (round 21)
    shiftrightunsigned(hash60(id), 52).cast("int")

  /** Deterministic train/val split label: 'train' for ~trainPct of rows
    * (hash bucket below trainPct·256/100), 'val' otherwise. The split is
    * a pure function of the id — stable across runs, engines, and
    * repartitioning. */
  def hashSplit(id: Column, trainPct: Int = 90): Column = {
    require(trainPct > 0 && trainPct < 100, "trainPct must be in (0, 100)")
    when(hashBucket256(id) < lit(trainPct * 256 / 100), "train").otherwise("val")
  }

  /** Deterministic k-per-group sample: the k rows of each group with the
    * smallest md5(id) (id tie-break) — a seed-free uniform sample whose
    * selection any engine replays exactly. */
  def samplePerGroup(df: DataFrame, groupCols: Seq[String], idCol: String, k: Int): DataFrame = {
    require(groupCols.nonEmpty && k > 0)
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rk", row_number().over(w)).filter(col("__rk") <= k).drop("__rk")
  }

  /** Square-root temperature resampling — the multilingual
    * corpus-rebalancing step: per-group sampling targets proportional
    * to sqrt(group size) (down-weights head groups, up-weights the
    * tail — the alpha = 0.5 point of the temperature-sampling family),
    * then the deterministic smallest-md5 rank rule selects exactly
    * `min(n, floor(sqrt(n)) * multiplier)` rows per group. sqrt IS
    * IEEE-correctly-rounded, so the targets are bit-identical in any
    * engine — unlike exp/log temperature formulas, and unlike
    * normalizing by a cross-group float sum (whose accumulation order
    * differs between engines). Scale: one tiny group-cardinality
    * aggregate broadcast back, ONE corpus shuffle for the rank. */
  def temperatureSample(
      df: DataFrame, groupCol: String, idCol: String, multiplier: Int = 4): DataFrame = {
    require(multiplier > 0, "multiplier must be positive")
    val targets = df.groupBy(groupCol).agg(count(lit(1)).as("__n"))
      .withColumn("__k", least(col("__n"),
        (floor(sqrt(col("__n").cast("double"))) * multiplier).cast("long")))
    val w = Window.partitionBy(groupCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .join(broadcast(targets.select(col(groupCol), col("__k"))), Seq(groupCol))
      .filter(col("__rk") <= col("__k"))
      .drop("__rk", "__k")
  }

  /** 60-bit md5 id hash — the first 15 hex chars of `md5(cast(id))` as
    * a non-negative BIGINT, bit-identical to the DuckDB `hx60` parse
    * used across the oracle family. Round-21: computed by the compiled
    * [[graft.functions.Md5Hash60]] kernel (digest → top 15 nibbles in
    * one step) instead of the builtin conv(substring(md5,1,15),16,10)
    * chain, whose hex-string → base-conversion-string → long parse was
    * measured as the dominant cost of every hash-heavy gate (the 600k×4
    * lineitem CMS matrix spent 2.4 s in it at sf0.1). Same values. */
  def hash60(id: Column): Column =
    graft.functions.HashFunctions.md5Hash60(id.cast("string"))

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Executor-side twin of [[hash60]] for synth CLOSURES — fixture
    * generators inside mapPartitions that need the portable hash per
    * generated element (per pixel, per sample) where no Column exists.
    * Same value as `conv(substring(md5(s), 1, 15), 16, 10)`: the first
    * 15 md5 hex chars (= 7 bytes + the high nibble of byte 7) as a
    * 60-bit Long. Thread-confined digest — getInstance per call would
    * dominate per-pixel loops. */
  def hash60Jvm(s: String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    (v << 4) | ((d(7) & 0xFFL) >> 4)
  }

  /** Deterministic shard id in [0, nShards): `hash60(id) % nShards`.
    * A pure function of the id — the WebDataset-style assignment every
    * dataloader can recompute without a lookup table. */
  def shardAssign(id: Column, nShards: Int): Column = {
    require(nShards > 0, "nShards must be positive")
    (hash60(id) % nShards).cast("int")
  }

  /** EPOCH-AWARE sampling WITHOUT replacement — reproducible
    * multi-epoch training mixes where successive epochs are DISJOINT
    * while the group still has unseen docs. A per-epoch independent
    * permutation (`md5(id || epoch)` rank ≤ k) would be reproducible
    * but samples WITH replacement across epochs (epoch 2 may redraw
    * epoch 1's docs); instead the permutation is keyed per PASS:
    *
    *  - a group with n docs and quota k holds `passLen = max(n div k,
    *    1)` epochs per pass;
    *  - pass p = epoch div passLen permutes the group by
    *    `md5(id || ':' || p)` (id tie-break) — a fresh deterministic
    *    shuffle each time the corpus is exhausted;
    *  - epoch slot = epoch mod passLen takes ranks (slot·k, slot·k+k]
    *    of its pass's permutation — k docs, PAIRWISE DISJOINT across
    *    the pass's epochs by construction (slot·k + k ≤ passLen·k ≤ n).
    *
    * Pure function of (id, epoch) — any engine replays the exact
    * member sets. Scale: the plan relation (group × epoch quotas,
    * pass arithmetic) is |groups|·epochs rows and broadcasts; the
    * corpus is ranked once per DISTINCT PASS (not per epoch — epochs
    * within a pass share one window), so a 4-epoch job over a
    * passLen ≥ 4 corpus pays ONE corpus-wide rank, like the
    * single-epoch sampler. `quotas` = (groupCol, target_k); zero or
    * negative quotas contribute no rows. Output: (epoch, group, id,
    * rk) with rk the 1..k within-epoch rank. */
  def epochSample(df: DataFrame, groupCol: String, idCol: String,
      quotas: DataFrame, epochs: Int): DataFrame = {
    require(epochs > 0, "epochs must be positive")
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("__n"))
    val eps = df.sparkSession.range(epochs).select(col("id").as("epoch"))
    val plan = quotas.filter(col("target_k") > 0)
      .join(counts, groupCol)
      .crossJoin(eps)
      .withColumn("__passlen", greatest(expr("__n div target_k"), lit(1L)))
      .withColumn("pass", expr("epoch div __passlen"))
      .withColumn("__slot", expr("epoch % __passlen"))
      .select(col(groupCol), col("epoch"), col("pass"), col("__slot"), col("target_k"))
    val passes = plan.select(col(groupCol), col("pass")).distinct()
    val w = Window.partitionBy(col(groupCol), col("pass"))
      .orderBy(md5(concat(col(idCol).cast("string"), lit(":"), col("pass").cast("string"))),
        col(idCol))
    val ranked = df.select(col(groupCol), col(idCol))
      .join(broadcast(passes), Seq(groupCol))
      .withColumn("__rk", row_number().over(w).cast("long"))
    ranked.join(broadcast(plan), Seq(groupCol, "pass"))
      .filter(col("__rk") > col("__slot") * col("target_k") &&
        col("__rk") <= (col("__slot") + lit(1L)) * col("target_k"))
      .select(col("epoch"), col(groupCol), col(idCol),
        (col("__rk") - col("__slot") * col("target_k")).as("rk"))
  }

  /** Per-shard manifest of a training corpus: (shard_id, n_docs,
    * total_chars, ids_xor) — the artifact a sharded export job writes
    * next to its data files so any consumer can verify COMPLETENESS
    * (xor checksum over member-id hashes) and plan io (docs/bytes per
    * shard) without reading the shards.
    *
    * The checksum is `bit_xor(hash60(id))`: ORDER-INDEPENDENT and
    * constant-state, so the aggregate keeps O(1) memory per shard and
    * combines map-side — unlike an ordered id concatenation, whose
    * per-shard state is the shard's whole membership (gigabytes at
    * 100 TB) and whose value depends on a sort. Whole job = one narrow
    * hash map over the scan + ONE aggregate with `nShards` groups
    * (map-side partials reduce every partition to ≤ nShards rows before
    * the only exchange). */
  def shardManifest(df: DataFrame, idCol: String, sizeCol: String,
      nShards: Int = 64): DataFrame =
    df.select(shardAssign(col(idCol), nShards).as("shard_id"),
        col(sizeCol).as("__sz"), hash60(col(idCol)).as("__h"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("__sz").as("total_chars"),
        expr("bit_xor(__h)").as("ids_xor"))

  /** CLUSTER-BALANCED sampling — at most `quota` documents per
    * semantic cluster: the corpus is assigned to k clusters by the
    * trained integer quantizer ([[Similarity.kmeansAssign]]'s
    * deterministic Lloyd's, the SemDeDup machinery reused for
    * BALANCE instead of dedup) and each cluster keeps its `quota`
    * smallest-md5 members (id tie-break) — the seed-free uniform
    * within-cluster draw every engine replays. This is the
    * topic-rebalancing step of a curation pipeline: a raw crawl is
    * dominated by its head topics, and capping per-cluster mass
    * flattens the topical distribution the way
    * [[temperatureSample]] flattens a LABELED group column — here
    * with no labels needed.
    *
    * Scale shape: assignment is the compiled-codebook NARROW map
    * (no join, no shuffle, O(1) plan nodes at any k); selection is
    * [[graft.operators.GroupTopK]] — per-partition bounded heaps,
    * the only corpus exchange carries O(quota·k·partitions) rows,
    * never the corpus; the rank decoration is a window over the
    * already-selected quota·k rows. Rows whose vector fails
    * assignment (null/mismatched dims → null centroid) are excluded
    * — a balance cap must not invent a cluster for them.
    *
    * Output: (centroid, id, sel_rk 1..quota). `targetClusterSize`
    * semantics follow [[Similarity.kmeansAssign]]'s pinned-dial
    * convention: the (k, sampleN) given here are used verbatim. */
  def clusterBalancedSample(corpus: DataFrame, idCol: String, vecCol: String,
      quota: Int, k: Int = 4, sampleN: Int = 16, iters: Int = 2): DataFrame = {
    require(quota > 0, "quota must be positive")
    val assigned = Similarity.kmeansAssign(corpus, idCol, vecCol, k, sampleN, iters)
      .filter(col("centroid").isNotNull)
      .select(col("centroid"), col(idCol), md5(col(idCol).cast("string")).as("__h"))
    val w = Window.partitionBy("centroid").orderBy(col("__h"), col(idCol))
    graft.operators.GroupTopK.topK(assigned, Seq("centroid"), Seq(("__h", true), (idCol, true)), quota)
      .withColumn("sel_rk", row_number().over(w))
      .drop("__h")
  }

  /** CURRICULUM ordering: a deterministic training order that feeds the
    * cleanest quartile of the corpus first (phase 0 = top quality) and
    * the noisiest last — the quality-first curriculum schedule — with a
    * reproducible md5 shuffle WITHIN each phase so a phase is not
    * accidentally ordered by ingest time or id.
    *
    * The output is NOT a single global ordinal (materializing one means
    * a global sort — the thing a 100 TB curriculum job must not do) but
    * the distributed form every dataloader actually consumes:
    * `(phase, shard, pos)` where `shard` is the [[shardAssign]] md5
    * rule and `pos` is the 1-based position within `(phase, shard)`.
    * Consumption order = phases ascending, shards round-robin, `pos`
    * within shard — a total order, reconstructible by any engine,
    * without any engine ever sorting the corpus globally.
    *
    * Exactness: quality enters as exact micro units
    * (`round(q · 1e6)` of the 6-dp [[TextAnalysis.qualityScore]]);
    * phase boundaries are the EXACT discrete quartiles of q_micro from
    * [[graft.operators.HistogramQuantile]] (a value-histogram pass —
    * the boundary shuffle carries distinct scores, never the corpus);
    * the within-phase shuffle key is `md5(id)` with id tie-break. Every
    * output column is an integer, so the oracle replays the whole order.
    * Phase membership is `q >= boundary` (not `>`): real quality scores
    * have a point mass at the top (a clean long no-punctuation doc
    * scores exactly 1.0 — 74% of the synthetic corpus does), and with
    * strict comparison that mass would fall OUT of phase 0 entirely,
    * leaving the curriculum's first phases empty. With `>=`, a top-heavy
    * score assigns the tied-at-the-top class to phase 0 and degrades to
    * fewer, larger phases — never to an empty leading phase.
    *
    * Scale shape: one narrow scoring scan; one histogram-sized boundary
    * aggregate broadcast back (1 row); ONE corpus shuffle on
    * `(phase, shard)` for the position window — `4 · nShards` balanced
    * partitions (the md5 shard rule equidistributes within each phase),
    * each holding ~`n / (4 · nShards)` rows. A naive global
    * `row_number()` curriculum is ONE partition holding all 100 TB;
    * a `Window.partitionBy(phase)` alone is 4 partitions of 25 TB each
    * — the shard axis is what makes the window parallel. Docs whose
    * quality is null (empty text) land in the last phase: a curriculum
    * must place every doc, and unknown quality is not evidence of
    * cleanliness. Output: (doc_id, q_micro, phase, shard, pos). */
  def curriculumOrder(df: DataFrame, idCol: String, textCol: String,
      nShards: Int = 8): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    // empty docs guard: qualityScore divides by length(text) (ANSI mode
    // throws on /0), and a 100 TB corpus WILL contain empty docs — they
    // get null quality and therefore the last phase, not a crashed job
    val scored = df.select(col(idCol).cast("long").as("doc_id"),
      when(length(col(textCol)) > 0,
        round(TextAnalysis.qualityScore(col(textCol)) * 1000000).cast("long"))
        .as("q_micro"))
    val b = graft.operators.HistogramQuantile.boundaries(
        scored, Nil, "q_micro", Seq(("p1", 0.25), ("p2", 0.5), ("p3", 0.75)))
      .select("p1", "p2", "p3")
    val q = col("q_micro")
    val w = Window.partitionBy("phase", "shard")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    scored.crossJoin(broadcast(b))
      .withColumn("phase",
        when(q >= col("p3"), 0).when(q >= col("p2"), 1)
          .when(q >= col("p1"), 2).otherwise(3).cast("int"))
      .withColumn("shard", shardAssign(col("doc_id"), nShards))
      .withColumn("pos", row_number().over(w))
      .select("doc_id", "q_micro", "phase", "shard", "pos")
  }

  /** DSIR-style hashed n-gram importance scores — the Data Selection
    * via Importance Resampling recipe (Xie et al., NeurIPS 2023): pick
    * raw-corpus documents that LOOK LIKE a target domain without
    * training a classifier, by scoring each document under the
    * log-ratio of hashed n-gram distributions. `isTarget` marks the
    * in-domain exemplar rows (a quality flag, a language, a trusted
    * source — any predicate over the frame's own columns); every
    * unigram and bigram instance hashes into one of `nBuckets` buckets
    * ([[hash60]] mod, the portable md5 convention), and a document's
    * score is
    * {{{
    *   Σ over its n-gram instances of
    *     ⌊lg(c_target[bucket] + 1)⌋ − ⌊lg(c_raw[bucket] + 1)⌋
    * }}}
    * — the paper's log p_target/p_raw with floor-log2 of add-one
    * counts standing in for the transcendental log (the
    * `length(bin(c)) − 1` identity every scorer in this library
    * uses), so scores are exact integers any engine reproduces.
    * The bucket-count normalizers (ΣN_target, ΣN_raw) shift EVERY
    * document's score by the same per-gram constant and are dropped:
    * the ranking [[dsirSelect]] consumes is invariant to them, and
    * keeping the sum normalizer-free keeps it integer.
    *
    * Scale shape: ONE tokenized corpus scan builds the n-gram
    * instance stream (narrow explode, `Materialize.shared` for its two
    * consumers); the bucket histogram is `nBuckets` rows with map-side
    * partials and BROADCASTS back to the instance stream (the corpus
    * never shuffles for the weight join); the per-doc re-aggregation rides
    * one id-keyed shuffle of partial sums. Nothing here is
    * vocabulary-sized — the whole point of hashing is that the weight
    * table is O(nBuckets) at any corpus size.
    *
    * Output: (id, n_grams, dsir_score). Documents whose normalized
    * text has no tokens have no n-gram instances and drop out — in
    * any engine, by construction. */
  /** The hashed n-gram instance stream [[dsirScores]] is built on:
    * (id, is_target, bucket) — one row per unigram/bigram INSTANCE,
    * bucket = [[hash60]] mod `nBuckets`. A narrow explode; no state. */
  private def dsirGrams(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, nBuckets: Int): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    val words = filter(split(TextAnalysis.normalizeText(col(textCol)), " "),
      w => length(w) > 0)
    // unigrams ++ bigrams in one pass; the size guard keeps
    // sequence(1, 0) (which would DESCEND) out of the bigram builder
    val bigrams = expr(
      "transform(sequence(1, size(ws) - 1), " +
        "i -> concat(element_at(ws, CAST(i AS INT)), ' ', " +
        "element_at(ws, CAST(i + 1 AS INT))))")
    df.select(col(idCol).as("id"), isTarget.cast("boolean").as("is_target"),
        words.as("ws"))
      .select(col("id"), col("is_target"),
        explode(concat(col("ws"),
          when(size(col("ws")) >= 2, bigrams).otherwise(array()))).as("gram"))
      .withColumn("bucket", hash60(col("gram")) % nBuckets)
      .select("id", "is_target", "bucket")
  }

  /** The DSIR importance MODEL: per hashed bucket, the target/raw
    * instance counts and the add-one floor-log2 ratio weight — the
    * `nBuckets`-row artifact a deployment trains ONCE and persists
    * ([[dsirScoreFrozen]] is the apply side). Output:
    * (bucket, c_raw, c_target, w). */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, nBuckets: Int = 1024): DataFrame =
    dsirGrams(df, idCol, textCol, isTarget, nBuckets)
      .groupBy("bucket")
      .agg(count(lit(1)).as("c_raw"),
        sum(when(col("is_target"), 1L).otherwise(0L)).as("c_target"))
      // ⌊lg(c_target+1)⌋ − ⌊lg(c_raw+1)⌋; the two −1 terms of the
      // bin-length identity cancel, kept explicit for the formula
      .withColumn("w",
        ((length(bin(col("c_target") + 1)) - 1) -
          (length(bin(col("c_raw") + 1)) - 1)).cast("long"))

  def dsirScores(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, nBuckets: Int = 1024): DataFrame = {
    // two consumers: the weight histogram and the scoring join
    val grams = dsirGrams(df, idCol, textCol, isTarget, nBuckets)
      .transform(Materialize.shared)
    val weights = grams.groupBy("bucket")
      .agg(count(lit(1)).as("c_raw"),
        sum(when(col("is_target"), 1L).otherwise(0L)).as("c_target"))
      .withColumn("w",
        ((length(bin(col("c_target") + 1)) - 1) -
          (length(bin(col("c_raw") + 1)) - 1)).cast("long"))
    grams.join(broadcast(weights.select("bucket", "w")), "bucket")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"), sum("w").as("dsir_score"))
  }

  /** Day-2 DSIR — score an incoming batch under a FROZEN weight table
    * (the [[dsirWeights]] artifact, persisted at train time): this is
    * how the method deploys — the importance model is fitted once
    * against the target exemplars and every arriving batch is scored
    * without touching the training corpus. A batch gram hashing into a
    * bucket the training corpus never populated scores that instance
    * 0 — EXACTLY the add-one rule's value for two zero counts
    * (lg 1 − lg 1), so the frozen path needs no smoothing special
    * case. One narrow gram pass + the broadcast weight join + one
    * id-keyed partial-sum shuffle; nothing rescans training data.
    * Output: (id, n_grams, dsir_score). */
  def dsirScoreFrozen(weights: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, nBuckets: Int = 1024): DataFrame =
    dsirGrams(batch, idCol, textCol, lit(false), nBuckets)
      .join(broadcast(weights.select("bucket", "w")), Seq("bucket"), "left_outer")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("w"), lit(0L))).as("dsir_score"))

  /** [[dsirScores]] plus the SELECTION step: the `topN` highest-scoring
    * documents (doc-id tie-break) are flagged `selected = 1` — the
    * deterministic temperature→0 limit of the paper's Gumbel-noise
    * resampling draw (noise would need float RNG no second engine
    * replays bit-for-bit; the ranking itself is the portable part).
    * Selection is [[graft.operators.GroupTopK]] over one constant
    * group — map-side heaps bound the reducer's input to
    * topN·partitions rows — and the flag join broadcasts the topN-row
    * id list back. Output: (id, n_grams, dsir_score, selected). */
  def dsirSelect(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, topN: Int, nBuckets: Int = 1024): DataFrame = {
    require(topN > 0, "topN must be positive")
    val scores = dsirScores(df, idCol, textCol, isTarget, nBuckets)
      .transform(Materialize.shared) // two consumers: the top-N rank + the flag join
    val sel = graft.operators.GroupTopK.topK(
        scores.withColumn("__g", lit(1)), Seq("__g"),
        Seq(("dsir_score", false), ("id", true)), topN)
      .select(col("id"), lit(1).as("selected"))
    scores.join(broadcast(sel), Seq("id"), "left_outer")
      .withColumn("selected", coalesce(col("selected"), lit(0)))
  }
}
