package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize

import graft.operators.GroupTopK

/** Lexical retrieval over the document corpus — the ranking primitive a
  * curation pipeline uses to pull "more like this" training data or to
  * audit what a benchmark query would surface from the corpus.
  *
  * [[bm25TopK]] is Okapi BM25 (Robertson/Sparck Jones; the Lucene/
  * Elasticsearch default scorer) in the library's INTEGER-QUANTIZED
  * form: every intermediate is 64-bit integer arithmetic —
  *  - idf as the bit-length log2 surrogate `⌊log2(N ÷ df)⌋`
  *    (`length(bin(N div df)) − 1`, the `unigram_logfreq` convention),
  *  - the length norm and saturation in exact milli/micro fixed point
  *    with truncating integer division at each step —
  * so scores are bit-identical under any partitioning or engine
  * (truncating division of non-negative 64-bit ints is portable), the
  * DuckDB oracle replays the formula verbatim, and ranking needs no
  * float-tie adjudication. Quantization moves each term's contribution
  * by < 1 micro-point — rank-irrelevant against the ≥ 1000-point steps
  * the integer idf produces — and mirrors the 1e-3 grid the embedding
  * family (PQ, moments, outliers) already standardizes on.
  */
object Retrieval {

  /** Top-`k` corpus documents per query by quantized BM25.
    *
    * Formula per (query term t, doc d), all integer:
    * {{{
    *   idf2        = length(bin(N div df_t)) − 1          // ⌊log2(N/df)⌋
    *   dlnorm_mil  = dl_d · 1_000_000 div avgdl_milli     // ≈ dl/avgdl · 1000
    *   denom_mil   = tf·1000 + (k1·((1000−b) + (b·dlnorm_mil) div 1000)) div 1000
    *   score_micro = idf2 · tf · (1000 + k1) · 1000 div denom_mil
    * }}}
    * summed over the query's distinct terms; `N` counts docs with at
    * least one token and `avgdl_milli = total_tokens·1000 div N` (empty
    * docs can never match — excluding them only shifts idf by a
    * constant). `k1Milli`/`bMilli` are BM25's k1/b in milli units
    * (defaults 1.2 / 0.75, the textbook values).
    *
    * Shape at 100 TB: the (doc, token, tf) index build is the corpus
    * pass — ONE shuffle on (doc, token), the same aggregate the
    * `inverted_index` operator persists, so a production deployment
    * probes the persisted index and skips the scan entirely. The query
    * side is BROADCAST twice (its term list against the tf index — the
    * corpus never shuffles for the probe — and against the df table to
    * pre-shrink idf to query terms before it, too, broadcasts). The
    * only other shuffle is doc-keyed (attaching dl to candidates), and
    * the final ranking is [[GroupTopK]] — per-partition heaps, the
    * shuffle carries O(k·queries·partitions) rows, never the candidate
    * table. Candidate volume is bounded by Σ_t df_t over query terms —
    * and `maxDfPpm` is the guard that KEEPS it bounded: query terms
    * whose document frequency exceeds `maxDfPpm` parts-per-million of
    * the corpus are dropped BEFORE the candidate join (the Lucene
    * stopword convention), because one head token ("the") would
    * otherwise make the candidate set corpus-sized. The ceiling test
    * is exact integer cross-multiplication (`df · 10⁶ ≤ maxDfPpm · N`),
    * engine-portable like every other cut in the formula. The default
    * (1 000 000 = 100%) keeps every term; a query whose EVERY term is
    * dropped returns no rows — exactly Lucene's all-stopwords
    * behavior. Head terms also carry the least idf signal (idf2 hits 0
    * once df ≥ N/2), so a sane ceiling costs little precision by
    * construction.
    *
    * `excludeSelf` drops candidates whose doc id equals the query id
    * BEFORE ranking (the corpus-as-queries evaluation convention, so a
    * query doc cannot occupy its own top-k slot).
    *
    * Output: (query_id, doc_id, score_micro), top-k per query, ties
    * broken by ascending doc id. */
  def bm25TopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      textCol: String,
      qIdCol: String,
      qTextCol: String,
      k: Int = 10,
      k1Milli: Int = 1200,
      bMilli: Int = 750,
      excludeSelf: Boolean = false,
      maxDfPpm: Int = 1000000): DataFrame = {
    // the tf index feeds three consumers (the probe, dl, df); a
    // production deployment persists it instead ([[buildTfIndex]]
    // written bucketBy(token) — the `bm25_topk_persisted` gate) and
    // probes it via [[bm25FromIndex]]
    bm25FromIndex(Materialize.shared(buildTfIndex(corpus, idCol, textCol)),
      queries, qIdCol, qTextCol, k, k1Milli, bMilli, excludeSelf,
      maxDfPpm = maxDfPpm)
  }

  /** The (doc_id, token, tf) term-frequency index [[bm25FromIndex]]
    * probes — ONE corpus scan + ONE (doc, token) shuffle. Persist it
    * `bucketBy(n, "token")` so index-side aggregations (df) and future
    * probes run with zero Exchange, exactly like the dedup family's
    * bucketed corpus-hash table. */
  def buildTfIndex(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    corpus
      .select(col(idCol).as("doc_id"),
        explode(split(TextAnalysis.normalizeText(col(textCol)), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))

  /** BM25 ranking against a PREBUILT tf index — the production probe
    * path: at 100 TB the index is written once (bucketed by token) and
    * every query batch runs this, never touching the raw corpus. `tf`
    * must carry (doc_id, token, tf); `dlOpt` optionally supplies the
    * persisted per-doc length table (doc_id, dl) — derived from `tf`
    * with one doc-keyed shuffle when absent, fine for an in-memory
    * index but corpus-scale work a deployment persists away. */
  def bm25FromIndex(
      tf: DataFrame,
      queries: DataFrame,
      qIdCol: String,
      qTextCol: String,
      k: Int = 10,
      k1Milli: Int = 1200,
      bMilli: Int = 750,
      excludeSelf: Boolean = false,
      dlOpt: Option[DataFrame] = None,
      maxDfPpm: Int = 1000000,
      deletesOpt: Option[DataFrame] = None): DataFrame = {
    require(k > 0, "k must be positive")
    require(k1Milli >= 0 && bMilli >= 0 && bMilli <= 1000,
      s"k1Milli must be >= 0 and bMilli in [0, 1000]; got k1Milli=$k1Milli bMilli=$bMilli")
    require(maxDfPpm > 0 && maxDfPpm <= 1000000,
      s"maxDfPpm must be in (0, 1000000]; got $maxDfPpm")

    val dl = dlOpt.getOrElse(tf.groupBy("doc_id").agg(sum("tf").as("dl")))
    // 1-row corpus stats, broadcast via the crossJoin convention
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_tokens"))

    val qtermsAll = queries
      .select(col(qIdCol).as("query_id"),
        explode(array_distinct(split(TextAnalysis.normalizeText(col(qTextCol)), " ")))
          .as("token"))
      .filter(length(col("token")) > 0)

    // df only for the query's terms: vocab-sized df never broadcasts whole
    val dfAll = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .join(broadcast(qtermsAll.select("token").distinct()), "token")
    // the df ceiling cuts HERE — before the tf probe join below, so a
    // head token never fans the corpus out in the first place (the
    // whole point of the guard); the surviving-token set is query-
    // vocab-sized, so the semi join against it broadcasts
    val idfQ =
      if (maxDfPpm >= 1000000) dfAll
      else dfAll.crossJoin(broadcast(stats.select("n_docs")))
        .filter(col("df") * lit(1000000L) <= lit(maxDfPpm.toLong) * col("n_docs"))
        .drop("n_docs")
    val qterms =
      if (maxDfPpm >= 1000000) qtermsAll
      else qtermsAll.join(broadcast(idfQ.select("token")), Seq("token"), "left_semi")

    // the DELETE path (`bm25_topk_forget`): deleted docs are masked
    // from the CANDIDATE postings with a broadcast anti-join — the
    // tombstone pattern — while df/dl/stats above read the UNmasked
    // index (Lucene's deleted-docs model: stats stay stale until a
    // compaction rebuild; a delete is a compliance action, not a
    // re-scoring of the corpus)
    val tfCand = deletesOpt
      .map(d => tf.join(broadcast(d.select("doc_id")), Seq("doc_id"), "left_anti"))
      .getOrElse(tf)
    val cand = tfCand
      .join(broadcast(qterms), "token") // corpus side: no shuffle for the probe
      .join(broadcast(idfQ), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
    val selfFiltered =
      if (excludeSelf) cand.filter(col("query_id") =!= col("doc_id")) else cand

    val perTerm = selfFiltered
      .withColumn("idf2", length(bin(expr("n_docs DIV df"))) - lit(1))
      .withColumn("avgdl_milli", expr("total_tokens * 1000 DIV n_docs"))
      .withColumn("dlnorm_milli", expr("dl * 1000000 DIV avgdl_milli"))
      .withColumn("denom_milli", expr(
        s"tf * 1000 + ($k1Milli * ((1000 - $bMilli) + ($bMilli * dlnorm_milli) DIV 1000)) DIV 1000"))
      .withColumn("score_micro", expr(
        s"CAST(idf2 AS BIGINT) * tf * ${1000L + k1Milli} * 1000 DIV denom_milli"))

    val scores = perTerm
      .groupBy("query_id", "doc_id")
      .agg(sum("score_micro").as("score_micro"))
    GroupTopK.topK(scores, Seq("query_id"),
      Seq(("score_micro", false), ("doc_id", true)), k)
  }

  /** Hybrid retrieval: lexical candidate generation, semantic re-rank —
    * the two-stage shape production retrieval uses (recall from the
    * cheap inverted index, precision from embeddings). Stage 1 is
    * [[bm25TopK]] with `candidateK` slots; stage 2 re-ranks the
    * candidates by the QUANTIZED integer dot product of their
    * embeddings with the query's embedding — `Σ ⌊e_i·1000⌋·⌊q_i·1000⌋`,
    * exact 64-bit arithmetic, which on unit-norm embeddings is cosine
    * in fixed 1e-6 units (non-normalized corpora should pre-normalize,
    * the standard embedding-store convention). Keeping the re-rank key
    * integer keeps the ranking bit-portable — no float tie exists for
    * two engines to break differently.
    *
    * Shape at 100 TB: stage 1's shape is [[bm25TopK]]'s; stage 2 never
    * touches the corpus — the candidate set (k·|queries| rows) is
    * BROADCAST against the embedding table, so attaching candidate
    * vectors is a scan-side probe of `embeddings` with no shuffle, the
    * query vectors broadcast the same way, and the dot product is one
    * narrow zip_with/aggregate map. The final top-k is [[GroupTopK]]
    * over k·|queries| rows.
    *
    * `embeddings` must be keyed by the corpus id space (`embIdCol` ↔
    * `idCol`). The two sides of a missing embedding behave differently,
    * both deliberately:
    *  - a CANDIDATE doc with no embedding row is dropped — a corpus
    *    row that skipped the embedding pass cannot be semantically
    *    ranked (and silently keeping it under a fake score would
    *    corrupt the ordering);
    *  - a QUERY with no embedding row keeps ALL its BM25 candidates
    *    and falls back to lexical (`score_micro`) ordering with
    *    `dot_q` null — queries and their embeddings often ship on
    *    different cadences, and losing every result for a
    *    not-yet-embedded query (the inner-join behavior) is the wrong
    *    failure mode for a retrieval endpoint.
    *
    * Output: (query_id, doc_id, score_micro, dot_q), top-`k` per query
    * by (dot_q desc, doc_id asc); per-query fallback order is
    * (score_micro desc, doc_id asc) with dot_q null. */
  def hybridRerank(
      corpus: DataFrame,
      queries: DataFrame,
      embeddings: DataFrame,
      idCol: String,
      textCol: String,
      qIdCol: String,
      qTextCol: String,
      embIdCol: String,
      embCol: String,
      candidateK: Int = 20,
      k: Int = 5,
      k1Milli: Int = 1200,
      bMilli: Int = 750,
      excludeSelf: Boolean = false,
      maxDfPpm: Int = 1000000): DataFrame = {
    require(k > 0 && candidateK >= k, s"need candidateK >= k > 0; got candidateK=$candidateK k=$k")
    val quant: Column => Column =
      e => transform(e, x => floor(x.cast("double") * 1000).cast("long"))
    val cands = bm25TopK(corpus, queries, idCol, textCol, qIdCol, qTextCol,
      candidateK, k1Milli, bMilli, excludeSelf, maxDfPpm)
    // candidate ids are k·|queries| rows: broadcast them against the
    // embedding table so the corpus-sized side never shuffles
    val docVecs = embeddings
      .join(broadcast(cands), col(embIdCol) === col("doc_id"))
      .select(col("query_id"), col("doc_id"), col("score_micro"),
        quant(col(embCol)).as("dv"))
    val queryVecs = broadcast(embeddings
      .join(broadcast(queries.select(col(qIdCol).as("query_id")).distinct()),
        col(embIdCol) === col("query_id"))
      .select(col("query_id"), quant(col(embCol)).as("qv")))
    // LEFT join: a query with no embedding row keeps its candidates —
    // zip_with against the null qv makes dot_q null, and the rank key
    // coalesces to the lexical score (per query it is all-or-nothing,
    // so the two scales never mix within one ranking)
    val rescored = docVecs.join(queryVecs, Seq("query_id"), "left_outer")
      .withColumn("dot_q", expr(
        "aggregate(zip_with(dv, qv, (a, b) -> a * b), CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      .withColumn("rank_key", coalesce(col("dot_q"), col("score_micro")))
      .select("query_id", "doc_id", "score_micro", "dot_q", "rank_key")
    GroupTopK.topK(rescored, Seq("query_id"),
        Seq(("rank_key", false), ("doc_id", true)), k)
      .select("query_id", "doc_id", "score_micro", "dot_q")
  }

  /** Maximal Marginal Relevance (Carbonell & Goldstein 1998) — the
    * diversified top-k: greedily pick the candidate that maximizes
    * `λ·relevance − (1−λ)·max-similarity-to-already-picked`, so the
    * result set trades pure relevance for coverage. THE selection rule
    * for diverse few-shot exemplars, dataset diversification, and
    * dedup-aware retrieval — a plain top-k returns k near-copies when
    * the corpus has them; MMR returns one copy plus k−1 genuinely
    * different neighbors.
    *
    * All integer and bit-portable — relevance is the exact BIGINT dot
    * product of 1e-3-quantized embeddings (1e-6 cosine units on unit
    * vectors, the [[hybridRerank]] rule), pairwise similarity the same,
    * and the marginal score is `λmilli·rel − (1000−λmilli)·maxSim` —
    * no division, no floats, ties to the smaller doc id, so the DuckDB
    * oracle replays the greedy TRAJECTORY itself (the
    * `select_kcenter`/`dedup_keep_central` convention). λmilli=1000 is
    * pure relevance (= plain top-k); 0 is pure diversity.
    *
    * Shape at 100 TB: stage 1 is the [[graft.operators.GroupTopK]]
    * candidate cut — the query side broadcasts, the corpus never
    * shuffles, map-side heaps bound the exchange to
    * O(candidateK·queries·partitions) rows. Stage 2 — the inherently
    * sequential greedy — runs PER QUERY on its ≤ candidateK candidate
    * rows after ONE query-keyed shuffle of the (tiny) candidate frame:
    * O(k·candidateK) integer dots per query, local to its task,
    * distributed across queries. The corpus-sized work is entirely in
    * stage 1; the quadratic work is entirely bounded by candidateK.
    *
    * Output: (query_id, doc_id, rank 1..k, rel, max_sim) — `max_sim`
    * is the winning candidate's similarity to the already-selected set
    * at selection time (the diversity witness), null for rank 1.
    * Requires numeric ids; queries carry (idCol, vecCol) in the
    * embedding id space. */
  def mmrTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      candidateK: Int = 12,
      k: Int = 4,
      lambdaMilli: Int = 700,
      excludeSelf: Boolean = true): DataFrame = {
    require(k > 0 && candidateK >= k, s"need candidateK >= k > 0; got candidateK=$candidateK k=$k")
    require(lambdaMilli >= 0 && lambdaMilli <= 1000,
      s"lambdaMilli must be in [0, 1000]; got $lambdaMilli")
    val quant: Column => Column =
      e => transform(e, x => floor(x.cast("double") * 1000).cast("long"))
    val q = broadcast(queries
      .select(col(idCol).cast("long").as("query_id"), quant(col(vecCol)).as("qv")))
    val scored = corpus
      .select(col(idCol).cast("long").as("doc_id"), quant(col(vecCol)).as("dv"))
      .join(q, if (excludeSelf) col("doc_id") =!= col("query_id") else lit(true))
      .withColumn("rel", expr(
        "aggregate(zip_with(dv, qv, (a, b) -> a * b), CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      .select("query_id", "doc_id", "rel", "dv")
    val cands = GroupTopK.topK(scored, Seq("query_id"),
      Seq(("rel", false), ("doc_id", true)), candidateK)

    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("rel", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("max_sim", org.apache.spark.sql.types.LongType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val lam = lambdaMilli.toLong
    // one query-keyed shuffle of the candidate frame (already cut to
    // ≤ candidateK rows per query, so a partition holds only its
    // queries' bounded candidate lists — eager grouping is O(that)
    val candFrame = cands.repartition(col("query_id"))
    // resolve ordinals by NAME once on the driver — the mapPartitions
    // must not silently couple to whatever column order GroupTopK
    // happens to preserve from the upstream select
    val qIdx = candFrame.schema.fieldIndex("query_id")
    val dIdx = candFrame.schema.fieldIndex("doc_id")
    val rIdx = candFrame.schema.fieldIndex("rel")
    val vIdx = candFrame.schema.fieldIndex("dv")
    candFrame
      .mapPartitions { it =>
        val byQuery = scala.collection.mutable.LinkedHashMap
          .empty[Long, scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]]
        it.foreach { r =>
          byQuery.getOrElseUpdate(r.getLong(qIdx),
            scala.collection.mutable.ArrayBuffer.empty) += r
        }
        byQuery.iterator.flatMap { case (qid, rs) =>
          val n = rs.length
          val ids = new Array[Long](n); val rels = new Array[Long](n)
          val vecs = new Array[Array[Long]](n)
          var i = 0
          while (i < n) {
            ids(i) = rs(i).getLong(dIdx); rels(i) = rs(i).getLong(rIdx)
            vecs(i) = rs(i).getSeq[Long](vIdx).toArray
            if (vecs(i).length != vecs(0).length)
              throw new IllegalArgumentException(
                s"mmrTopK: ragged corpus vectors for query $qid — doc ${ids(i)} has " +
                  s"dim ${vecs(i).length}, doc ${ids(0)} has dim ${vecs(0).length}")
            i += 1
          }
          val taken = new Array[Boolean](n)
          val maxSim = Array.fill(n)(Long.MinValue) // max dot to selected set
          val res = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
          var step = 1
          val kk = math.min(k, n)
          while (step <= kk) {
            var best = -1; var bestScore = Long.MinValue
            var j = 0
            while (j < n) {
              if (!taken(j)) {
                // step 1 scores pure relevance (no selected set yet)
                val s = if (step == 1) rels(j)
                        else lam * rels(j) - (1000L - lam) * maxSim(j)
                if (s > bestScore || (s == bestScore && (best < 0 || ids(j) < ids(best)))) {
                  bestScore = s; best = j
                }
              }
              j += 1
            }
            res += org.apache.spark.sql.Row(qid, ids(best), step, rels(best),
              if (step == 1) null else java.lang.Long.valueOf(maxSim(best)))
            taken(best) = true
            // fold the new pick into every remaining candidate's max-sim
            val bv = vecs(best)
            j = 0
            while (j < n) {
              if (!taken(j)) {
                var d = 0L; var t = 0
                while (t < bv.length) { d += bv(t) * vecs(j)(t); t += 1 }
                if (d > maxSim(j)) maxSim(j) = d
              }
              j += 1
            }
            step += 1
          }
          res
        }
      }(enc)
  }

  /** HARD-NEGATIVE MINING for contrastive embedding training (the
    * DPR/ANCE recipe): for each query, the top-ranked corpus item is
    * the presumed positive, and the hard negatives are the next-best
    * candidates — EXCLUDING any candidate scoring within a margin of
    * the positive, because a near-tied "negative" is far more likely an
    * unlabeled duplicate or paraphrase than a true negative, and
    * training against it teaches the model to separate synonyms (the
    * false-negative problem every hard-negative pipeline guards).
    *
    * The margin rule is exact-integer: candidate c is excluded iff
    * `pos_dot > 0 AND dot(c) · 1e6 > pos_dot · marginPpm` — the
    * standard "score > 0.95 × positive" filter in ppm cross-
    * multiplication (no division, no floats). When even the positive
    * is anti-correlated (pos_dot ≤ 0) nothing is near-duplicate-close
    * and the filter passes everything through.
    *
    * Scale shape: stage 1 is the ONE corpus scan — quantized milli
    * vectors against the broadcast query side, cut to candidateK+1 per
    * query by the map-side-pruned [[graft.operators.GroupTopK]] (the
    * [[mmrTopK]] stage-1 profile). Everything after rides candidate
    * frames of ≤ (candidateK+1)·|queries| rows: the positive extraction
    * window, the margin anti-filter, the final re-rank. A query whose
    * surviving negatives number < k returns fewer rows — underfill is
    * visible in the output, not silently padded; size candidateK at a
    * few × k to absorb the margin's cut.
    *
    * Output: (query_id, neg_id, neg_rank 1..≤k, dot, pos_id, pos_dot).
    * All integers; any engine replays the exact mining decisions. */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5,
      candidateK: Int = 20,
      marginPpm: Long = 950000L): DataFrame = {
    require(k > 0 && candidateK >= k, s"need candidateK >= k > 0; got candidateK=$candidateK k=$k")
    require(marginPpm >= 0 && marginPpm <= 1000000L,
      s"marginPpm must be in [0, 1e6]; got $marginPpm")
    val quant: Column => Column =
      e => transform(e, x => floor(x.cast("double") * 1000).cast("long"))
    val q = broadcast(queries
      .select(col(idCol).cast("long").as("query_id"), quant(col(vecCol)).as("qv")))
    val scored = corpus
      .select(col(idCol).cast("long").as("doc_id"), quant(col(vecCol)).as("dv"))
      .join(q, col("doc_id") =!= col("query_id"))
      .withColumn("dot", expr(
        "aggregate(zip_with(dv, qv, (a, b) -> a * b), CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      .select("query_id", "doc_id", "dot")
    val cands = graft.operators.GroupTopK.topK(scored, Seq("query_id"),
      Seq(("dot", false), ("doc_id", true)), candidateK + 1)
    val w = Window.partitionBy("query_id").orderBy(desc("dot"), asc("doc_id"))
    // the positive rides the SAME candidate frame as a whole-partition
    // window (not a second branch joining back — that shape re-runs the
    // corpus scan + GroupTopK per consumer, the semDedup three-pass
    // lesson; one-scan pinned in PlanShapeSpec)
    val wAll = Window.partitionBy("query_id")
    val ranked = cands.withColumn("__rk", row_number().over(w))
      .withColumn("pos_id", max(when(col("__rk") === 1, col("doc_id"))).over(wAll))
      .withColumn("pos_dot", max(when(col("__rk") === 1, col("dot"))).over(wAll))
    val wN = Window.partitionBy("query_id").orderBy(desc("dot"), asc("doc_id"))
    ranked.filter(col("__rk") > 1).drop("__rk")
      .filter(!(col("pos_dot") > 0 && col("dot") * 1000000L > col("pos_dot") * marginPpm))
      .withColumn("neg_rank", row_number().over(wN))
      .filter(col("neg_rank") <= k)
      .select(col("query_id"), col("doc_id").as("neg_id"),
        col("neg_rank").cast("int").as("neg_rank"), col("dot"),
        col("pos_id"), col("pos_dot"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher) over any number
    * of ranked lists — the standard way to combine retrievers with
    * incomparable score scales (lexical + dense being THE case). Each
    * list contributes `1e6 div (kRrf + rank)` points per (query, doc)
    * — the classic 1/(60+rank) in exact parts-per-million integer
    * form, so fusion needs no float arithmetic and no tie
    * adjudication; a doc absent from a list simply contributes 0.
    *
    * Shape at 100 TB: the inputs are ALREADY top-k lists
    * (k·|queries| rows each), so fusion is a union of tiny frames, one
    * (query, doc) aggregate, and a [[GroupTopK]] — nothing here
    * touches a corpus. Every ranking frame must carry
    * (query_id, doc_id, rank) with rank ≥ 1 — rows violating that
    * contract are FILTERED OUT rather than scored: a rank ≤ 0 would
    * contribute an inflated/negative score, and rank = −kRrf an
    * integer division by zero that Spark evaluates to null and
    * `sum()` then silently swallows — both corrupt fused scores with
    * no error, so malformed rows never reach the contribution sum.
    *
    * Output: (query_id, doc_id, rrf_ppm, n_lists), top-`k` per query
    * by (rrf_ppm desc, doc_id asc); `n_lists` counts how many input
    * lists surfaced the doc — the fusion witness. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 10, kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "at least one ranking is required")
    require(k > 0 && kRrf >= 0, s"need k > 0 and kRrf >= 0; got k=$k kRrf=$kRrf")
    val contribs = rankings.map(_.filter(col("rank") >= 1)
      .select(col("query_id"), col("doc_id"),
        expr(s"CAST(1000000 AS BIGINT) DIV ($kRrf + rank)").as("contrib")))
    val scores = contribs.reduce(_ unionAll _)
      .groupBy("query_id", "doc_id")
      .agg(sum("contrib").as("rrf_ppm"), count(lit(1)).as("n_lists"))
    GroupTopK.topK(scores, Seq("query_id"),
      Seq(("rrf_ppm", false), ("doc_id", true)), k)
  }
}
