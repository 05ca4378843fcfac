package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize

/** Deduplication operator family for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design (the 100 TB story):
  *  - Exact dedup is one hash-aggregate on a 128-bit content hash — the
  *    shuffle carries (hash, id), never the text.
  *  - MinHash/SimHash signatures are computed scan-side by compiled
  *    expressions ([[graft.functions.HashFunctions]]) — no UDF, no
  *    shuffle. Candidate generation explodes per LSH band (bounded
  *    factor = #bands) and shuffles only (bucket-key, id, signature);
  *    pair verification happens inside each bucket group
  *    ([[bucketPairs]]). Hot buckets (skew) are capped with an
  *    explicit, auditable limit — never silently.
  *  - Exact-Jaccard verification joins candidate id-pairs back to the
  *    shingle sets — proportional to candidates, not n².
  *
  * There is ONE hash family, md5-derived, every value of which the
  * DuckDB oracle replays. An xxhash64 family ran beside it until its
  * speed-up was measured at only 1.12–1.20× (sf0.1 documents at
  * local[32], min of 3 warm reps: minHashPairs 0.712 vs 0.635 s,
  * simHashPairs 0.510 vs 0.424 s; table in README) — too little to
  * keep a second family no caller chose.
  */
object Dedup {

  /** Word n-gram shingles (distinct, lowercased). */
  def shingles(text: Column, n: Int = 3): Column = {
    val words = split(lower(text), " +")
    array_distinct(
      transform(sequence(lit(0), greatest(size(words) - n, lit(0))),
        i => concat_ws(" ", slice(words, i + 1, lit(n)))))
  }

  /** Shingle hashing: one 60-bit md5-derived integer per distinct
    * n-gram shingle ([[graft.functions.ShinglePortableHash]]) — every
    * value replayable by the DuckDB oracle (parse the top 15 hex chars
    * of md5). One compiled pass, one md5 per shingle; the HOF
    * formulation (`transform(shingles, hash)`) is interpreted and
    * measured 10× slower. */
  def shingleMd5(text: Column, n: Int = 3): Column =
    graft.functions.HashFunctions.shingleHash60(split(lower(text), " +"), n)

  /** MinHash over 60-bit shingle hashes: per-seed affine remix
    * `(A_s*h + B_s) mod 2^60`, min per seed — one compiled pass of pure
    * integer arithmetic the oracle replays in HUGEINT
    * ([[graft.functions.MinHashPortable]]); the nested-lambda
    * formulation re-evaluates the hash array once per seed (measured
    * 86 s → sub-second on sf0.1 documents). */
  def minHashSignatureP(hashes60: Column, k: Int = 32): Column =
    graft.functions.HashFunctions.minHash60(hashes60, k)

  /** LSH band keys: the signature is cut into `bands` slices of
    * `rowsPer` entries; each slice becomes one bucket key, the built-in
    * md5 of "sliceJoinedByComma:bandIdx" (components rendered as
    * decimal strings) — codegen'd, and the DuckDB oracle recomputes the
    * identical hex keys. Docs sharing ANY band key become candidates
    * (standard banding amplification). */
  def bandKeysP(sig: Column, bands: Int, rowsPer: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      md5(concat_ws(":",
        concat_ws(",", transform(slice(sig, b * rowsPer + 1, lit(rowsPer)), _.cast("string"))),
        b.cast("string"))))

  /** Estimated Jaccard from two MinHash signatures: fraction of agreeing
    * components. */
  def signatureSimilarity(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x)).cast("double") / size(sigA)

  /** Exact Jaccard over two (distinct) shingle-hash arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b))

  /** Exact dedup: one representative (min id) per identical content.
    * Returns (keepId, contentHash, dupCount) — the shuffle carries only
    * hash+id. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextAnalysis.fingerprintMd5(col(textCol)).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** SUBSTRING-level exact dedup — duplicate SPANS, not duplicate
    * documents: every w-word sliding window is hashed positionally
    * ([[graft.functions.WindowHash60]] — 60-bit md5, engine-portable),
    * and a window whose hash occurs 2..maxBucket times ANYWHERE in the
    * corpus (another document, or another offset of the same document)
    * is emitted as a duplicate span (doc_id, pos). This is the
    * train-data hygiene pass document-level dedup cannot do: shared
    * paragraphs inside otherwise-distinct documents (quoted headers,
    * templated intros) survive exact AND near dedup but still leak
    * verbatim n-grams into training.
    *
    * Scale shape: the window expansion and hashing run scan-side in
    * one compiled pass; the ONE corpus-sized shuffle groups
    * (wh, doc_id, pos) — 20 bytes a row, never span text. Hot windows
    * (boilerplate that would fan a bucket out by its square) are
    * dropped by the same maxBucket cap as the LSH family, observable
    * the same way. Returns (doc_id, pos, wh, n_occurrences). */
  def substringDupSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 8,
      maxBucket: Int = 1000): DataFrame = {
    val hashes = graft.functions.HashFunctions.windowHash60(split(lower(col(textCol)), " +"), w)
    df.select(col(idCol).as("doc_id"), posexplode(hashes).as(Seq("pos", "wh")))
      .groupBy("wh")
      .agg(collect_list(struct(col("doc_id"), col("pos"))).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
      .select(col("wh"), size(col("members")).as("n_occurrences"),
        explode(col("members")).as("m"))
      .select(col("m.doc_id").as("doc_id"), col("m.pos").as("pos"),
        col("wh"), col("n_occurrences"))
  }

  /** MAXIMAL duplicate spans — [[substringDupSpans]]' window hits merged
    * into the longest contiguous word-index intervals per document, the
    * unit a substring-level dedup actually REMOVES (the published
    * method — Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better" — emits maximal repeated spans, not raw
    * window matches: cutting per-window would re-split one long
    * duplicated paragraph into w-sized confetti).
    *
    * Interval merge as a window computation: windows sorted by pos per
    * doc; a window OPENS a new span iff its start lies strictly beyond
    * the running max end of every earlier window (overlap-or-adjacent
    * windows merge — adjacency means the duplicated text is contiguous).
    * The island id is the running sum of open flags. All arithmetic is
    * integer (engine-exact); the per-doc sort adds ONE doc_id-keyed
    * exchange of (doc_id, pos) rows on top of the window-hash shuffle —
    * a doc's window hits always fit one task because they are bounded
    * by the doc's own length, so the sort never needs range salting.
    *
    * Returns (doc_id, span_start, span_end, span_words, n_windows) with
    * [span_start, span_end) in word indices. */
  def substringDupMaximalSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 8,
      maxBucket: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    substringDupSpans(df, idCol, textCol, w, maxBucket)
      .select(col("doc_id"), col("pos"), (col("pos") + lit(w)).as("e"))
      .withColumn("prev_max",
        max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ns",
        when(col("prev_max").isNull || col("pos") > col("prev_max"), 1).otherwise(0))
      .withColumn("span_id", sum(col("ns")).over(byDoc))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min("pos").as("span_start"), max("e").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_words"), col("n_windows"))
  }

  /** MinHash+LSH near-duplicate candidate pairs with estimated Jaccard.
    *
    * @param maxBucket hot-bucket cap: buckets larger than this are
    *   dropped (they are almost always boilerplate/empty-text clusters);
    *   the drop is observable in the `dropped_buckets` accumulator-free
    *   way — callers can audit via [[lshBuckets]].
    */
  def minHashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame =
    minHashPairsFromHashes(shingleHashSets(df, idCol, textCol, n), k, bands, threshold, maxBucket)

  /** Per-doc distinct shingle-hash sets `(id, hs)` — the ONE
    * shingle-hashing pass of the dedup pipeline, shared between
    * [[minHashPairsFromHashes]] (signatures) and [[verifyJaccardSets]]
    * (exact verification). Callers running both should materialize this
    * frame once (`Materialize.shared`) — the hash pass is the dominant
    * CPU term and Spark performs no cross-join common-subexpression
    * reuse, so an unmaterialized plan recomputes it per consumer. */
  def shingleHashSets(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    df.select(col(idCol).as("id"), shingleMd5(col(textCol), n).as("hs"))

  /** Exploded LSH band-bucket index `(id, sig, bucket)` — one row per
    * (doc, band) over precomputed shingle-hash sets `(id, hs)`. This is
    * BOTH halves of streaming near-dup ingest: persisted (bucketed by
    * `bucket`) it is the static corpus index; being all expression-based
    * it also runs unchanged on a STREAMING DataFrame to band each
    * arriving doc for the probe join. Batch candidate generation
    * ([[minHashPairsFromHashes]]) and the audit histogram
    * ([[lshBuckets]]) group this same frame by bucket. */
  def bandBuckets(sets: DataFrame, k: Int = 32, bands: Int = 8): DataFrame =
    sets.select(col("id"), minHashSignatureP(col("hs"), k).as("sig"))
      .select(col("id"), col("sig"), explode(bandKeysP(col("sig"), bands, k / bands)).as("bucket"))

  /** [[minHashPairs]] over precomputed shingle-hash sets `(id, hs)`
    * from [[shingleHashSets]]. */
  def minHashPairsFromHashes(
      sets: DataFrame,
      k: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame =
    bucketPairs(bandBuckets(sets, k, bands), "bucket", Seq("id", "sig"), maxBucket,
      (m, o) => Seq(signatureSimilarity(m.getField("sig"), o.getField("sig")).as("est_jaccard")),
      keep = col("est_jaccard") >= threshold,
      aggs = Seq(max("est_jaccard").as("est_jaccard")))

  /** The LSH bucket histogram — for auditing what maxBucket drops. */
  def lshBuckets(df: DataFrame, idCol: String, textCol: String, n: Int = 3, k: Int = 32,
      bands: Int = 8): DataFrame =
    bandBuckets(shingleHashSets(df, idCol, textCol, n), k, bands)
      .groupBy("bucket").agg(count(lit(1)).as("n"))

  /** The bucket-pair skeleton every LSH pairer rides
    * ([[minHashPairsFromHashes]], [[bitSignaturePairs]],
    * [[crossModalPairs]] and [[Similarity.cosineNearDupPairs]]): group
    * `banded` on `bucketCol` (the ONE corpus shuffle), collect each
    * bucket's `memberCols` (one of them `id`), drop buckets outside
    * 2..`maxBucket` (an oversize bucket — a degenerate signature —
    * drops, loud in the audit histograms, never a quadratic), emit every
    * in-bucket i<j pair as `(id_a, id_b, scores…)` — `scores` maps the
    * two member structs to named columns — keep the pairs `keep`
    * accepts, and reduce each (id_a, id_b) over the buckets it shares
    * with `aggs`. Banding and the NULL-signature policy stay with the
    * caller. */
  private[llm] def bucketPairs(
      banded: DataFrame,
      bucketCol: String,
      memberCols: Seq[String],
      maxBucket: Int,
      scores: (Column, Column) => Seq[Column],
      keep: Column,
      aggs: Seq[Column]): DataFrame =
    banded.groupBy(bucketCol)
      .agg(collect_list(struct(memberCols.map(col): _*)).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
      .select(explode(
        flatten(transform(col("members"), (m, i) =>
          transform(slice(col("members"), i + 2, size(col("members"))), o =>
            struct(
              least(m.getField("id"), o.getField("id")).as("id_a") +:
                greatest(m.getField("id"), o.getField("id")).as("id_b") +:
                scores(m, o): _*))))).as("p"))
      .select("p.*")
      .filter(keep)
      .groupBy("id_a", "id_b")
      .agg(aggs.head, aggs.tail: _*)

  /** SimHash as a 64-char '0'/'1' bit string: per-word md5-derived
    * bits, majority vote ([[graft.functions.SimHashBitsExpr]]) — one
    * compiled pass per row instead of 64 interpreted filter scans.
    * Band keys are plain substrings and the DuckDB oracle rebuilds the
    * identical string with substr/strpos arithmetic. */
  def simHashBits(text: Column): Column =
    graft.functions.HashFunctions.simHashBits(split(lower(text), " +"))

  /** Hamming distance between two bit strings. */
  def hammingBits(a: Column, b: Column): Column =
    graft.functions.HashFunctions.hammingBits(a, b)

  /** SimHash near-dup pairs: band the 64 bits into 4×16-bit keys (any
    * exact-matching band ⇒ candidate; guarantees recall for hamming ≤ 3),
    * verify with full hamming distance. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    bitSignaturePairs(df.select(col(idCol).as("id"), simHashBits(col(textCol)).as("sig")),
      "id", "sig", nBits = 64, bands = 4, maxHamming = maxHamming, maxBucket = maxBucket)

  /** Banded near-dup pairs over ANY '0'/'1' bit-string signature — the
    * LSH machinery behind [[simHashPairs]], factored out so other
    * fingerprints ride it (a text SimHash, an image dHash
    * ([[Multimodal.imageDHash]]), any future perceptual hash): the
    * `nBits` signature splits into `bands` equal substrings; any
    * exact-matching band makes a candidate pair (guaranteed recall for
    * Hamming < bands); candidates verify with the full Hamming
    * distance. Rows with a NULL signature (decode failures) are
    * excluded — a fingerprint that doesn't exist must not bucket.
    *
    * RECALL WARNING: for `maxHamming >= bands` the pigeonhole guarantee
    * is GONE — a true pair whose differing bits land one per band has
    * no exact-matching band and is silently missed. Callers in that
    * regime must either raise `bands` (shorter bands, more candidates)
    * or know their noise is band-confined (see
    * [[graft.queries.LlmQueries]] mediaDedupFeatures, whose corruption
    * model flips bits within a single 14-bit dHash row). A require
    * would reject that documented caller, so this is a contract note,
    * not a crash.
    *
    * Scale shape: ONE shuffle on the band key; buckets cap at
    * `maxBucket`; pairs emit via the in-bucket i<j transform
    * ([[bucketPairs]]), so nothing is ever all-pairs.
    * Output: (id_a, id_b, hamming), one row per surviving pair, at its
    * minimum distance. */
  def bitSignaturePairs(df: DataFrame, idCol: String, sigCol: String,
      nBits: Int, bands: Int = 4, maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame =
    bucketPairs(bitBandKeys(df, idCol, sigCol, nBits, bands), "bucket", Seq("id", "sig"), maxBucket,
      (m, o) => Seq(hammingBits(m.getField("sig"), o.getField("sig")).cast("int").as("hamming")),
      keep = col("hamming") <= maxHamming,
      aggs = Seq(min("hamming").as("hamming")))

  /** The band-key explosion behind [[bitSignaturePairs]] — the twin of
    * [[crossModalBandKeys]], shared with the day-2 deploys that persist
    * the same keys as a bucketed index and band each arriving batch for
    * the probe join: the `nBits` signature splits into `bands` equal
    * substrings keyed `"<band>:<bits>"`; NULL signatures never band.
    * Expression-only, so it runs unchanged on a streaming DataFrame.
    * Output: (id, sig, bucket), `bands` rows per input row. */
  def bitBandKeys(df: DataFrame, idCol: String, sigCol: String,
      nBits: Int, bands: Int): DataFrame = {
    require(bands > 0 && nBits % bands == 0,
      s"nBits ($nBits) must split evenly into bands ($bands)")
    val bandLen = nBits / bands
    df.select(col(idCol).as("id"), col(sigCol).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("id"), col("sig"),
        explode(array((0 until bands).map(b =>
          concat_ws(":", lit(b).cast("string"), substring(col("sig"), b * bandLen + 1, bandLen))): _*))
          .as("bucket"))
  }

  /** The composite band-key explosion behind [[crossModalPairs]],
    * factored out so the day-2 INCREMENTAL deploy can persist the same
    * keys as a bucketed index (an [[graft.queries.Artifacts]] entry)
    * and a streaming ingest can band each arriving pair for the probe
    * join — all expression-based, so it runs unchanged on a streaming
    * DataFrame. Output: (id, tsig, isig, bucket), `textBands·bitBands`
    * rows per input row. */
  def crossModalBandKeys(df: DataFrame, idCol: String, textSigCol: String,
      bitSigCol: String, k: Int = 32, textBands: Int = 8,
      nBits: Int = 56, bitBands: Int = 4): DataFrame = {
    require(k % textBands == 0, s"k ($k) must split evenly into textBands ($textBands)")
    require(nBits % bitBands == 0, s"nBits ($nBits) must split evenly into bitBands ($bitBands)")
    val rowsPer = k / textBands
    val bandLen = nBits / bitBands
    df.select(col(idCol).as("id"), col(textSigCol).as("tsig"), col(bitSigCol).as("isig"))
      .filter(col("tsig").isNotNull && col("isig").isNotNull)
      .select(col("id"), col("tsig"), col("isig"),
        explode(flatten(transform(bandKeysP(col("tsig"), textBands, rowsPer), tb =>
          transform(sequence(lit(0), lit(bitBands - 1)), bi =>
            concat_ws(":", tb, bi.cast("string"),
              col("isig").substr(bi * lit(bandLen) + 1, lit(bandLen))))))).as("bucket"))
  }

  /** CROSS-MODAL near-dup pairs — the joint (caption, image) dedup a
    * multimodal crawl needs: the common duplicate is the SAME image
    * re-posted with a PARAPHRASED caption, which neither modality's
    * dedup alone should collapse (same image + genuinely different
    * caption is a reuse, not a dup; same caption + different image is
    * an illustration swap). Candidates must therefore share a band in
    * BOTH families at once: each row carries a MinHash signature
    * (`textSigCol`, [[minHashSignatureP]] over the caption shingles)
    * and a '0'/'1' perceptual bit signature (`bitSigCol`, e.g.
    * [[Multimodal.imageDHash]]), and the bucket key is the COMPOSITE
    * of one text band key and one image band substring — the
    * `textBands × bitBands` cross product per row, so a pair is a
    * candidate iff SOME text band matches AND SOME image band matches.
    * Verification is dual too: estimated Jaccard ≥ `threshold` AND
    * image Hamming ≤ `maxHamming`.
    *
    * Same scale skeleton as [[bitSignaturePairs]] ([[bucketPairs]]: ONE
    * shuffle on the composite bucket, `maxBucket` cap, in-bucket i<j
    * transform — never all-pairs); the row fan-out is
    * `textBands · bitBands` band rows instead of `bands`. The banding
    * amplification multiplies: a pair matching with prob p_t on some
    * text band and p_i on some image band is a candidate with
    * ~p_t · p_i — composite banding is deliberately STRICTER than
    * either family alone, which is the semantics joint dedup wants.
    *
    * CALLER NOTE (CollapseProject): `textSigCol`/`bitSigCol` are each
    * referenced by the bucket derivation AND the member struct; if
    * they are unmaterialized expensive expressions the optimizer will
    * inline them into both consumers — materialize the (id, tsig,
    * isig) frame (`Materialize.shared`) before calling when the
    * signatures are computed in-plan.
    *
    * Output: (id_a, id_b, est_jaccard, hamming). */
  def crossModalPairs(df: DataFrame, idCol: String, textSigCol: String,
      bitSigCol: String, k: Int = 32, textBands: Int = 8,
      nBits: Int = 56, bitBands: Int = 4,
      threshold: Double = 0.5, maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    val banded = crossModalBandKeys(df, idCol, textSigCol, bitSigCol,
      k, textBands, nBits, bitBands)
    bucketPairs(banded, "bucket", Seq("id", "tsig", "isig"), maxBucket,
      (m, o) => Seq(
        signatureSimilarity(m.getField("tsig"), o.getField("tsig")).as("est_jaccard"),
        hammingBits(m.getField("isig"), o.getField("isig")).cast("int").as("hamming")),
      keep = col("est_jaccard") >= threshold && col("hamming") <= maxHamming,
      aggs = Seq(max("est_jaccard").as("est_jaccard"), min("hamming").as("hamming")))
  }

  /** Connected components over an undirected edge list (id_a, id_b) —
    * the transitive-closure step of a dedup pipeline: near-dup PAIRS
    * become duplicate CLUSTERS (a~b, b~c ⇒ {a,b,c}), each labeled by
    * its minimum member id.
    *
    * Iterative min-label propagation on DataFrames with pointer-jumping:
    * every vertex starts as its own label; each round takes the min of
    * its own and its neighbors' labels (1 hop), then follows its label's
    * label (shortcut) — so chains collapse in O(log diameter) rounds,
    * not diameter. Converged when nothing changes. Each round is two
    * joins + one hash-aggregate, all keyed on vertex/label ids — no
    * driver-side data; the only driver work is the convergence count.
    *
    * Returns (id, component) for every vertex that appears in an edge. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // The per-round labels are `truncated`: each round's plan embeds
    // the previous round's TWICE (labels ⋈ nbrMin(labels)), so without
    // lineage truncation the plan doubles per iteration and OOMs the
    // driver before any data does; the per-round data is one row per
    // vertex. The symmetrized edge list reads `edges` TWICE (one select
    // per direction, and a self-union shares no subtree), so the narrow
    // (id_a, id_b) projection is `shared`: a caller passing a raw
    // candidate-pair plan pays the shingle→minhash→band pipeline once.
    // `sym` is `shared` too: every round reads it.
    val e0 = Materialize.shared(edges.select(col("id_a"), col("id_b")))
    val sym = e0.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(e0.select(col("id_b").as("src"), col("id_a").as("dst")))
      .transform(Materialize.shared)
    // Seed labels at least(id, min neighbor) instead of the identity —
    // the same one aggregation the identity init pays for its
    // distinct(), but it pre-applies round 1's 1-hop min, so every
    // converging run exits one full round earlier. Correctness
    // unchanged: labels stay member ids, are monotonically
    // non-increasing, and the fixpoint is still the component min
    // whatever the (within-component) start.
    var labels = sym.groupBy("src").agg(min("dst").as("nbr"))
      .select(col("src").as("id"), least(col("src"), col("nbr")).as("comp"))
      .transform(Materialize.truncated)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      // 1-hop: min of own and neighbors' labels
      val nbrMin = sym.join(labels.withColumnRenamed("id", "src2"), col("src") === col("src2"))
        .groupBy(col("dst")).agg(min("comp").as("nbr"))
      val hopped = labels
        .join(nbrMin, col("id") === col("dst"), "left")
        .select(col("id"), col("comp").as("old"),
          least(col("comp"), coalesce(col("nbr"), col("comp"))).as("comp"))
      // pointer-jump (shortcutting): follow my label's label, so long
      // chains collapse in O(log diameter) rounds instead of diameter —
      // without this a 100-vertex path needs 99 rounds and silently
      // exceeds maxIter
      val jumpTo = hopped.select(col("id").as("jid"), col("comp").as("jcomp"))
      val updated = hopped
        .join(jumpTo, col("comp") === col("jid"), "left")
        .select(col("id"), col("old"),
          least(col("comp"), coalesce(col("jcomp"), col("comp"))).as("comp"))
        .transform(Materialize.truncated)
      changed = updated.filter(col("comp") =!= col("old")).count()
      labels = updated.select("id", "comp")
      i += 1
    }
    // no silent caps: a component wider than maxIter hops would return
    // intermediate labels — say so instead of pretending convergence
    if (changed > 0)
      System.err.println(
        s"[graft] connectedComponents: NOT converged after $maxIter rounds ($changed labels still moving); raise maxIter")
    labels
  }

  /** Duplicate groups from near-dup pairs: every doc mapped to its
    * cluster representative (min doc id of the connected component);
    * docs with no near-dup edge keep themselves. The final step of
    * near-dedup: `keep = (component == id)`. */
  def dedupGroups(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    docs.select(col(idCol))
      .join(comps, col(idCol) === col("id"), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("component"))
  }

  /** Exact n-gram Jaccard for given candidate pairs (verification pass):
    * joins the pair list back to per-doc shingle-hash sets. Recomputes
    * the hash pass — prefer [[verifyJaccardSets]] with a materialized
    * [[shingleHashSets]] frame when the pairs came from
    * [[minHashPairsFromHashes]] over the same sets. */
  def verifyJaccard(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    verifyJaccardSets(pairs, shingleHashSets(docs, idCol, textCol, n))

  /** Exact n-gram Jaccard verification against precomputed shingle-hash
    * sets `(id, hs)` — candidate-proportional: two joins of the pair
    * list against the sets, never n². */
  def verifyJaccardSets(pairs: DataFrame, sets: DataFrame): DataFrame =
    pairs
      .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("hs", "hs_a"), "id_a")
      .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("hs", "hs_b"), "id_b")
      .withColumn("jaccard", jaccard(col("hs_a"), col("hs_b")))
      .drop("hs_a", "hs_b")

  /** CHUNK-level exact dedup — duplicate passages ACROSS documents that
    * whole-document dedup can never see (boilerplate headers, license
    * blocks, templated sections): normalize → overlapping word chunks
    * ([[TextAnalysis.chunkWords]]) → md5 per chunk → duplicate groups.
    * The RefinedWeb/CCNet-style sub-document pass that runs between
    * exact and near dedup in a training-data pipeline.
    *
    * Returns one row per duplicated chunk content: its hash, the copy
    * count, and the keeper (lexicographically smallest
    * (doc, chunk_idx)). At 100 TB the shuffle carries ONLY
    * (hash, doc_id, chunk_idx) — chunk text is dropped scan-side right
    * after hashing, and the explode never materializes the corpus
    * (chunks stream out of the scan). */
  def chunkDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int = 64,
      overlap: Int = 8): DataFrame = {
    val chunks = df.select(col(idCol).as("doc_id"),
        posexplode(TextAnalysis.chunkWords(TextAnalysis.normalizeText(col(textCol)), chunkSize, overlap)))
      .select(col("doc_id"), col("pos").as("chunk_idx"), md5(col("col")).as("chunk_md5"))
    // groupBy (not a window): partial aggregation combines map-side, so
    // the shuffle carries one (hash, count, min-struct) per distinct
    // chunk per partition, not one row per chunk occurrence
    chunks.groupBy("chunk_md5")
      .agg(count(lit(1)).as("n_copies"),
        min(struct(col("doc_id"), col("chunk_idx"))).as("keep"))
      .filter(col("n_copies") >= 2)
      .select(col("chunk_md5"), col("n_copies"),
        col("keep.doc_id").as("keep_doc_id"), col("keep.chunk_idx").as("keep_chunk_idx"))
  }

  /** CONTENT-DEFINED CHUNKING (the rsync/LBFS/restic family): chunk
    * boundaries are picked by the CONTENT — position `i` ends a chunk
    * when the md5 of the `window`-char substring starting at `i` lands
    * in the boundary class (`hash60 % maskMod == 0`, expected chunk
    * length ≈ maskMod chars past the window) — so an insertion near the
    * head of a re-crawled page shifts every byte yet the chunks after
    * the next boundary are BIT-IDENTICAL and still dedup. That
    * shift-robustness is exactly what [[chunkDedup]]'s fixed word grid
    * cannot give: one leading word added re-frames every fixed chunk.
    *
    * The boundary rule is the library's portable md5: any engine
    * recomputes the same cut points, chunk texts, and chunk hashes —
    * no rolling-polynomial state, no engine-specific byte order.
    * Production CDC adds min/max chunk clamps against pathological
    * content (a run of boundary windows → 1-char chunks); this is the
    * pure rule, documented as such, and the REPORT is what bounds
    * downstream work, not the chunker.
    *
    * Scale shape: cut-point + span discovery is ONE compiled narrow
    * expression ([[graft.functions.CdcSpans]]: one thread-local digest,
    * O(len) md5s per doc — the algorithm's honest cost in any engine —
    * consumed once by the posexplode; see its scaladoc for the two
    * measured formulation traps it avoids); the explode streams
    * (doc, chunk) rows out of the scan with the text dropped right
    * after hashing, so nothing corpus-sized shuffles.
    * Output: one row per chunk — (doc_id, chunk_idx, start 1-based,
    * clen, chunk_md5). */
  def cdcChunks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 16,
      maskMod: Int = 64): DataFrame = {
    require(window > 0 && maskMod > 0, s"need window > 0, maskMod > 0; got $window, $maskMod")
    df.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
      .select(col("doc_id"), col("__t"),
        posexplode(graft.functions.HashFunctions.cdcSpans(col("__t"), window, maskMod))
          .as(Seq("chunk_idx", "sp")))
      .select(col("doc_id"), col("chunk_idx"),
        col("sp.s").as("start"),
        (col("sp.e") - col("sp.s") + 1).cast("long").as("clen"),
        expr("md5(substring(__t, sp.s, sp.e - sp.s + 1))").as("chunk_md5"))
  }

  /** Cross-document duplicated-chunk report over [[cdcChunks]]: one row
    * per chunk CONTENT seen ≥ 2 times — copy count, distinct docs, and
    * the byte mass the duplication costs. The groupBy combines
    * map-side, so the shuffle carries (hash, partials), never chunks. */
  def cdcDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 16,
      maskMod: Int = 64): DataFrame =
    cdcChunks(df, idCol, textCol, window, maskMod)
      .groupBy("chunk_md5")
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum("clen").as("total_chars"),
        min(struct(col("doc_id"), col("chunk_idx"))).as("keep"))
      .filter(col("n_copies") >= 2)
      .select(col("chunk_md5"), col("n_copies"), col("n_docs"), col("total_chars"),
        col("keep.doc_id").as("keep_doc_id"), col("keep.chunk_idx").as("keep_chunk_idx"))
}

