package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the training-data hygiene pass that flags
  * training documents sharing word n-grams with a held-out evaluation
  * set (the GPT-3/PaLM-style "n-gram overlap" rule). A training doc that
  * reproduces enough eval n-grams leaks the benchmark into the training
  * corpus and must be dropped before training.
  *
  * Scale shape (the part that matters at 100 TB):
  *  - The eval side is a benchmark suite — small BY CONSTRUCTION (a few
  *    thousand documents, not a corpus slice). Its distinct n-gram hash
  *    set is collected into a broadcast hash relation, so the training
  *    corpus is probed scan-side: ONE narrow pass over the training
  *    docs, no shuffle of the corpus, no join exchange. The only
  *    shuffle in the plan is the per-doc count aggregation, which
  *    carries (doc_id, two longs) — not text.
  *  - Hashing reuses the dedup family's one-pass compiled shingle
  *    expression ([[Dedup.shingleMd5]] — 60-bit md5-derived hashes), so
  *    every intermediate value is replayable in any engine with `md5`:
  *    the DuckDB oracle recomputes the identical eval-gram set and
  *    per-doc overlap counts.
  *  - If the eval set were ever corpus-sized, the broadcast degrades
  *    gracefully: pass `broadcastEval = false` to shuffle-join on the
  *    hash instead (same results, one extra exchange).
  *
  * Reference scope: the reference engine (see
  * `/root/reference/src/polars_numba/__init__.py`) provides the
  * fold/scan kernel surface; decontamination is part of the
  * LLM-pipeline extension layer this library adds on top.
  */
object Decontamination {

  /** Per-training-doc overlap report vs the eval set's n-gram universe.
    *
    * @param docs      corpus with `idCol` and `textCol`
    * @param evalPred  predicate over `docs` columns selecting the eval
    *                  (benchmark) rows; the rest are training rows
    * @param n         words per shingle
    * @param minOverlap flag threshold: `contaminated = 1` iff the doc
    *                  shares at least this many DISTINCT n-grams with
    *                  the eval set
    * @return (id, n_grams, n_overlap, contaminated) for every training
    *         doc, where n_grams counts the doc's distinct n-grams
    */
  def overlapReport(
      docs: DataFrame,
      evalPred: Column,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minOverlap: Int = 2,
      broadcastEval: Boolean = true): DataFrame = {
    require(n > 0 && minOverlap > 0, "need n > 0 and minOverlap > 0")
    def grams(side: DataFrame): DataFrame = side
      .select(col(idCol).as("id"), Dedup.shingleMd5(col(textCol), n).as("hs"))
      .select(col("id"), explode(col("hs")).as("h"))
    // The benchmark's distinct n-gram universe: small by construction,
    // broadcast so the (huge) training side never shuffles for the probe.
    val evalGrams0 = grams(docs.filter(evalPred)).select("h").distinct()
    val evalGrams = if (broadcastEval) broadcast(evalGrams0) else evalGrams0
    grams(docs.filter(!evalPred))
      .join(evalGrams.withColumn("hit", lit(1)), Seq("h"), "left")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_grams"),
        count(col("hit")).as("n_overlap"))
      .withColumn("contaminated",
        (col("n_overlap") >= minOverlap).cast("int"))
  }

  /** Per-BENCHMARK contamination attribution — [[overlapReport]] tells
    * a pipeline THAT a training doc overlaps the eval suite; this tells
    * it WHICH benchmark leaked (the per-suite report every model card
    * publishes: "n-gram overlap with GSM8K: 0.3%, with MMLU: 1.1%").
    * `benchCol` names the benchmark each eval row belongs to; the
    * output has one row per (training doc, benchmark) WITH overlap —
    * non-overlapping pairs are never materialized, so the frame is
    * hit-sized, not |docs|·|benchmarks|-sized.
    *
    * Scale shape: identical to [[overlapReport]] — the (bench, gram)
    * universe is benchmark-suite-sized and broadcasts; the training
    * side probes it scan-side with an INNER join (misses produce
    * nothing), and the per-(doc, bench) count aggregates map-side.
    * Output: (id, bench, n_overlap, contaminated). */
  def overlapByBenchmark(
      docs: DataFrame,
      evalPred: Column,
      benchCol: String,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minOverlap: Int = 2,
      broadcastEval: Boolean = true): DataFrame = {
    require(n > 0 && minOverlap > 0, "need n > 0 and minOverlap > 0")
    val ev0 = docs.filter(evalPred)
      .select(col(benchCol).as("bench"), Dedup.shingleMd5(col(textCol), n).as("hs"))
      .select(col("bench"), explode(col("hs")).as("h")).distinct()
    val ev = if (broadcastEval) broadcast(ev0) else ev0
    docs.filter(!evalPred)
      .select(col(idCol).as("id"), Dedup.shingleMd5(col(textCol), n).as("hs"))
      .select(col("id"), explode(col("hs")).as("h"))
      .join(ev, "h")
      .groupBy("id", "bench")
      .agg(count(lit(1)).as("n_overlap"))
      .withColumn("contaminated", (col("n_overlap") >= minOverlap).cast("int"))
  }

  /** SEMANTIC decontamination — the embedding-level sibling of
    * [[overlapReport]]: n-gram overlap misses PARAPHRASED benchmark
    * leakage; this pass flags training vectors whose embedding is
    * near-duplicate (exact cosine ≥ `threshold`) of ANY eval vector.
    *
    * Scale shape: both sides are banded by the quantized-hyperplane
    * LSH signature ([[Similarity.hyperplaneSignature]] — candidates
    * only on shared bands, NEVER all-pairs), and the eval
    * side — small by construction, a benchmark suite — is BROADCAST,
    * so the training corpus is probed scan-side: one narrow pass
    * computing the signature, a broadcast equi-join on the band key,
    * exact-cosine verification of the candidates inline. The only
    * shuffles carry passing (id, eval_id) pairs — never the corpus,
    * never vectors. False positives are removed by the exact verify;
    * false negatives are the LSH recall dial (nPlanes/bands), same as
    * the whole dedup family. `broadcastEval = false` degrades to a
    * shuffle join on the band key if the eval side ever grows.
    *
    * @return one row per contaminated training vector:
    *         (id, n_eval_matches, first_eval_id) */
  def semanticOverlap(
      vectors: DataFrame,
      evalPred: Column,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.4,
      nPlanes: Int = 16,
      bands: Int = 4,
      broadcastEval: Boolean = true): DataFrame = {
    require(nPlanes % bands == 0, s"nPlanes=$nPlanes not divisible by bands=$bands")
    val bits = nPlanes / bands
    def banded(side: DataFrame, id: String): DataFrame = side
      .select(col(idCol).as(id), col(vecCol).as(s"${id}_vec"))
      .withColumn("sig", Similarity.hyperplaneSignature(col(s"${id}_vec"), nPlanes))
      .select(col(id), col(s"${id}_vec"),
        explode(array((0 until bands).map(b =>
          concat_ws(":", lit(b), substring(col("sig"), b * bits + 1, bits))): _*)).as("band"))
    val eval0 = banded(vectors.filter(evalPred), "eval_id")
    val evalBanded = if (broadcastEval) broadcast(eval0) else eval0
    banded(vectors.filter(!evalPred), "id")
      .join(evalBanded, Seq("band"))
      // verify INLINE so the dedup shuffle below carries ids, not vectors
      .filter(Similarity.cosine(col("id_vec"), col("eval_id_vec")) >= threshold)
      .select("id", "eval_id").distinct()
      .groupBy("id")
      .agg(count(lit(1)).as("n_eval_matches"), min("eval_id").as("first_eval_id"))
  }

  /** The reference corpus's distinct n-gram hash universe — the
    * artifact [[noveltyReport]] probes. Unlike [[overlapReport]]'s
    * eval set this side is CORPUS-SIZED by design, so it is a real
    * relation (one distinct aggregate over the gram stream, map-side
    * partials first), and a deployment PERSISTS it `bucketBy` on `h`
    * — the [[graft.llm.Retrieval.buildTfIndex]] layout investment —
    * so every future batch probes it without re-scanning the
    * reference corpus. Output: (h) distinct. */
  def referenceGramSet(ref: DataFrame, textCol: String, n: Int = 3): DataFrame =
    ref.select(explode(Dedup.shingleMd5(col(textCol), n)).as("h")).distinct()

  /** N-gram NOVELTY of a batch against a corpus-sized reference — the
    * memorization/novelty metric a synthetic-data pipeline gates on
    * (how much of a generated document is regurgitated reference
    * text?) and the sub-document sibling of incremental dedup: exact
    * dedup asks "is this WHOLE doc new", novelty asks "what FRACTION
    * of its n-grams is". Per batch doc, over its DISTINCT 3-gram
    * shingle hashes ([[Dedup.shingleMd5]] — 60-bit md5, every value
    * engine-replayable): `n_novel` = grams absent from the reference
    * universe, `novelty_ppm = n_novel·10⁶ div n_grams` (truncating
    * integer division, bit-portable). A doc of entirely-unseen text
    * scores 1 000 000; a verbatim copy scores 0.
    *
    * Scale shape: this is [[overlapReport]] with the BIG side on the
    * right — the reference universe cannot broadcast, so the probe is
    * an h-keyed shuffle join (both sides partitioned by the gram
    * hash; batch grams are (id, h) pairs only, never text), followed
    * by one id-keyed partial-sum aggregate. With `refGrams` persisted
    * bucketed on `h` the reference side joins with zero Exchange and
    * only the (small) day-2 batch shuffles — the
    * `dedup_incremental_bucketed`/`bm25_topk_incremental` convention.
    * Docs too short to form a shingle have no gram rows and drop out,
    * in any engine, by construction.
    *
    * Output: (id, n_grams, n_novel, novelty_ppm). */
  def noveltyReport(
      refGrams: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3): DataFrame =
    batch
      .select(col(idCol).as("id"), explode(Dedup.shingleMd5(col(textCol), n)).as("h"))
      .join(refGrams.select(col("h")).withColumn("hit", lit(1)), Seq("h"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("n_novel * 1000000 DIV n_grams"))
}
