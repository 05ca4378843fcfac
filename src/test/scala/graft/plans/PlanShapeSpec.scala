package graft.plans

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Physical-plan shape guards: the scale claims PLANS.md documents,
  * pinned as assertions so a regression (a lost bucketed scan, a
  * broadcast flipping to cartesian) fails tests instead of only
  * surfacing in a benchmark. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("bucketed_join_revenue: no Exchange on either SortMergeJoin input") {
    val df = graft.queries.RelationalQueries.bucketedJoinRevenue(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // children print BELOW the SMJ line: its subtree is everything after
    val smjAt = plan.indexOf("SortMergeJoin")
    assert(smjAt >= 0, s"expected a SortMergeJoin:\n$plan")
    val subtree = plan.substring(smjAt)
    assert(!subtree.contains("Exchange"),
      s"bucketed join inputs must not shuffle:\n$subtree")
    assert(subtree.contains("Bucketed: true"),
      s"both scans must be bucketed:\n$subtree")
  }

  test("dedup_incremental_bucketed: zero Exchange on the persisted corpus-hash side") {
    val df = graft.queries.LlmQueries.dedupIncrementalBucketed(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    val smjAt = plan.indexOf("SortMergeJoin")
    assert(smjAt >= 0, s"expected a SortMergeJoin against the bucketed corpus hashes:\n$plan")
    assert(plan.contains("Bucketed: true"), s"corpus hash scan must be bucketed:\n$plan")
    // the bucketed corpus scan's subtree (from the LAST scan line down)
    // must contain no Exchange: only the daily batch shuffles to meet
    // the corpus layout
    val scanAt = plan.lastIndexOf("FileScan")
    assert(scanAt > smjAt, s"the bucketed scan must be a join input:\n$plan")
    assert(!plan.substring(scanAt).contains("Exchange"),
      s"the persisted corpus side must not shuffle:\n${plan.substring(scanAt)}")
    // exactly ONE hash Exchange on the content hash serves the batch
    // side AND the downstream min-per-hash window
    val hashEx = "Exchange hashpartitioning\\(h".r.findAllIn(plan).size
    assert(hashEx == 1, s"expected exactly one batch-side hash shuffle, got $hashEx:\n$plan")
  }

  test("ann_ivf_persisted: zero Exchange on the bucketed inverted-list side") {
    val df = graft.queries.LlmQueries.annIvfPersisted(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"the inverted-list scan must come from the bucketBy(cell) table:\n$plan")
    // the probe meets the index in a broadcast join whose streamed
    // (index) side is the bucketed scan directly — no Exchange, no
    // per-query assignment Window between scan and join
    val bhjAt = plan.indexOf("BroadcastHashJoin [cell")
    assert(bhjAt >= 0, s"expected the cell-key broadcast probe join:\n$plan")
    // the STREAMED branch (between the join and its BroadcastExchange
    // build side) is the index: a bucketed scan with no Exchange and no
    // assignment Window — the query-side Window lives inside the
    // broadcast (10 vectors) where it belongs
    val buildAt = plan.indexOf("BroadcastExchange", bhjAt)
    assert(buildAt > bhjAt, s"probe join must build the broadcast query side:\n$plan")
    val idxBranch = plan.substring(bhjAt, buildAt)
    assert(idxBranch.contains("Bucketed: true"),
      s"the streamed side of the probe join must be the bucketed scan:\n$idxBranch")
    assert(!idxBranch.contains("Exchange"),
      s"the persisted index side must not shuffle:\n$idxBranch")
    assert(!idxBranch.contains("Window"),
      s"no per-query assignment Window may remain on the index side:\n$idxBranch")
  }

  test("ann_ivf_persisted_append: the GROWN index still probes with zero Exchange") {
    val df = graft.queries.LlmQueries.annIvfPersistedAppend(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    val bhjAt = plan.indexOf("BroadcastHashJoin [cell")
    assert(bhjAt >= 0, s"expected the cell-key broadcast probe join:\n$plan")
    val buildAt = plan.indexOf("BroadcastExchange", bhjAt)
    val idxBranch = plan.substring(bhjAt, buildAt)
    assert(idxBranch.contains("Bucketed: true") && !idxBranch.contains("Exchange"),
      s"appended files must land in the existing buckets — no index-side shuffle:\n$idxBranch")
  }

  test("dedup_semantic_incremental: the persisted cluster table never shuffles") {
    val df = graft.queries.LlmQueries.dedupSemanticIncremental(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // several centroid-keyed broadcast joins exist since the r16 skew
    // guard (the oversize flag joins); the pin targets the PROBE join —
    // the one whose streamed branch is the persisted bucketed corpus
    val probeBranches = "BroadcastHashJoin \\[centroid".r
      .findAllMatchIn(plan).map(_.start).toSeq
      .map { at =>
        val buildAt = plan.indexOf("BroadcastExchange", at)
        plan.substring(at, if (buildAt > at) buildAt else plan.length)
      }
    assert(probeBranches.nonEmpty, s"expected centroid-key broadcast joins:\n$plan")
    val probe = probeBranches.filter(_.contains("Bucketed: true"))
    assert(probe.nonEmpty,
      s"no centroid join streams the bucketed corpus scan:\n$plan")
    probe.foreach(b => assert(!b.contains("Exchange"),
      s"the persisted cluster members must stream from the bucketed scan unshuffled:\n$b"))
  }

  test("partition_pruned_events: the scan carries a partition filter on event_type") {
    val df = graft.queries.RelationalQueries.partitionPrunedEvents(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_type"),
      s"expected a partition filter on event_type:\n$plan")
    // the row-level filter must NOT be doing the work the layout does:
    // event_type is a partition column, so no pushed data filter on it
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters")).get
    assert(scanLine.contains("click"), s"pruned to the click partition: $scanLine")
  }

  test("q1 scan prunes the read schema to the referenced columns only") {
    val df = graft.SparkEntry.queries("q1_pricing_summary")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    val scan = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!scan.contains("l_comment") && !scan.contains("l_shipmode"),
      s"unreferenced wide columns must not be read: $scan")
  }

  test("ann_pq: codes/LUT are scan-side projections, top-k is the map-side-pruned pair") {
    val df = graft.SparkEntry.queries("ann_pq")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pq_encode"), s"corpus codes must be computed scan-side:\n$plan")
    assert(plan.contains("pq_lut"), s"query LUT must be computed scan-side:\n$plan")
    // the broadcast side is the bounded query set — never a cartesian
    assert(!plan.contains("CartesianProduct"), s"cartesian product:\n$plan")
    // GroupTopK: heap-prune pass + bounded-shuffle finish (two MapPartitions)
    assert("MapPartitions".r.findAllIn(plan).size >= 2,
      s"expected the GroupTopK mapPartitions pair:\n$plan")
  }

  test("dedup_chunks: hash groupBy aggregates partially before its shuffle") {
    val df = graft.SparkEntry.queries("dedup_chunks")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // partial + final aggregate around the chunk_md5 exchange — the
    // shuffle must carry per-partition partials, not every chunk row
    val aggs = "Aggregate".r.findAllIn(plan).size
    assert(aggs >= 2, s"expected partial+final aggregation:\n$plan")
    val exchangeAt = plan.indexOf("Exchange hashpartitioning(chunk_md5")
    assert(exchangeAt >= 0, s"expected one chunk_md5 exchange:\n$plan")
    assert(plan.substring(exchangeAt).contains("Aggregate"),
      s"a partial aggregate must sit below the chunk_md5 exchange:\n$plan")
  }

  test("profile_lineitem: one scan feeds all per-column profiles") {
    val df = graft.SparkEntry.queries("profile_lineitem")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"profiling must not re-scan per column:\n$plan")
  }

  test("dedup_substring: the corpus shuffle carries window hashes + offsets, never span text") {
    val df = graft.SparkEntry.queries("dedup_substring")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    val exchangeAt = plan.indexOf("Exchange hashpartitioning(wh")
    assert(exchangeAt >= 0, s"expected the window-hash exchange:\n$plan")
    // below the exchange: the compiled window_hash60 explode over the
    // scan — the span STRINGS must have been reduced to 60-bit hashes
    // before the shuffle (the text column dies at the scan projection)
    val below = plan.substring(exchangeAt)
    assert(below.contains("window_hash60"),
      s"window hashing must run scan-side, below the exchange:\n$below")
    assert(!below.contains("concat_ws") && !below.contains("array_to_string"),
      s"no span-string materialization may reach the shuffle:\n$below")
    // and the shuffled row is (wh, doc_id, pos) — no text attribute
    assert(!plan.substring(exchangeAt, math.min(plan.length, exchangeAt + 200)).contains("text"),
      s"the exchange must not carry the text column:\n$below")
  }

  test("dedup_semantic: within-cluster pairing is a centroid equi-join, never all-pairs") {
    val df = graft.SparkEntry.queries("dedup_semantic")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"SemDeDup's pairwise stage must equi-join on the cluster id:\n$plan")
    // the pair generation must key on the centroid column — the
    // published method's cluster-local cost model, not n² over the corpus
    assert(plan.contains("centroid"), s"expected a centroid-keyed join:\n$plan")
  }

  test("concurrent_orders: interval overlap runs as an equi-join, never nested-loop") {
    val df = graft.SparkEntry.queries("concurrent_orders")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"two-sided interval overlap must bucket-join, not nested-loop:\n$plan")
    // the join key must be the (bucket, custkey) equi-pair IntervalJoin builds
    assert(plan.contains("__ib"), s"expected the interval-bucket join key:\n$plan")
  }

  test("winsorized_quantity: the quantile exchange is histogram-sized, not table-sized") {
    val df = graft.SparkEntry.queries("winsorized_quantity")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // HistogramQuantile aggregates (flag, value) counts BEFORE any
    // window/exchange: a partial aggregate must sit below the first
    // hash exchange, so the shuffle carries the bounded histogram
    val exchangeAt = plan.indexOf("Exchange hashpartitioning")
    assert(exchangeAt >= 0, s"expected the histogram exchange:\n$plan")
    assert(plan.substring(exchangeAt).contains("HashAggregate"),
      s"a partial aggregate must sit below the histogram exchange:\n$plan")
    // no global sort of the table (the whole point vs sort-based quantiles):
    // every Sort in the plan is either the windowed cumsum over the tiny
    // histogram (bounded by groups x distinct values) or the 3-row output
    assert(!plan.contains("rangepartitioning(l_quantity"),
      s"must never globally sort the value column:\n$plan")
  }

  test("flagship joins never degrade to cartesian/nested-loop products") {
    val names = Seq(
      "q5_region_revenue", "q3_top_orders", "q10_returned_items",
      "range_band_orders", "salted_join_events", "bloom_semi_orders",
      "decontaminate_docs", "distinctive_terms", "inverted_index",
      "temperature_resample")
    for (n <- names) {
      val plan = graft.SparkEntry.queries(n)(spark, TestSpark.sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$n: cartesian product:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$n: nested loop join:\n$plan")
    }
  }

  test("decontaminate_semantic: eval bands broadcast, the corpus never shuffles before the probe") {
    val df = graft.SparkEntry.queries("decontaminate_semantic")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // candidate generation must be a broadcast band join (corpus
    // probed scan-side), never a shuffle join — and never all-pairs
    assert(plan.contains("BroadcastHashJoin"),
      s"eval bands must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the band probe must not shuffle-join the corpus:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"semantic decontamination must never degrade to all-pairs:\n$plan")
  }

  test("decontaminate_docs: the corpus probes a BROADCAST eval-gram set") {
    val df = graft.SparkEntry.queries("decontaminate_docs")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the training side must never shuffle on the gram hash — the eval
    // set broadcasts and the probe is scan-side
    assert(plan.contains("BroadcastHashJoin"),
      s"eval grams must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the overlap probe must not shuffle-join the corpus:\n$plan")
  }

  test("zorder_layout: exactly one exchange — the range partition on the Morton code") {
    val df = graft.SparkEntry.queries("zorder_layout")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly the zval range exchange, got $exchanges:\n$plan")
    assert(plan.contains("rangepartitioning(zval"),
      s"the one exchange must range-partition on the Morton code:\n$plan")
  }

  test("rolling_revenue_7d: one custkey exchange feeding the window, no extra shuffle") {
    val df = graft.SparkEntry.queries("rolling_revenue_7d")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"expected a WindowExec:\n$plan")
    // exactly two exchanges: hash on o_custkey for the frame, range for
    // the deterministic output order
    val hashEx = "Exchange hashpartitioning\\(o_custkey".r.findAllIn(plan).size
    assert(hashEx == 1, s"expected one custkey exchange, got $hashEx:\n$plan")
  }

  test("inverted_index: the posting cap runs map-side (GroupTopK heap above the scan)") {
    val df = graft.SparkEntry.queries("inverted_index")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert("MapPartitions".r.findAllIn(plan).size >= 2,
      s"expected the GroupTopK mapPartitions pair:\n$plan")
  }

  test("vocab_coverage: top-V prunes map-side, bounded-side joins broadcast, no cartesian") {
    val df = graft.SparkEntry.queries("vocab_coverage")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert("MapPartitions".r.findAllIn(plan).size >= 2,
      s"expected the GroupTopK mapPartitions pair:\n$plan")
    // the tier inequality join and the 1-row total both broadcast their
    // bounded side; neither may degrade to a cartesian product
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size >= 2,
      s"expected broadcast joins for tiers and total:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian allowed:\n$plan")
  }

  test("unigram_logfreq_hybrid: head counts broadcast to the instances, tail shuffles") {
    val df = graft.SparkEntry.queries("unigram_logfreq_hybrid")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the hot-key half must be a broadcast hash join (instances never
    // shuffle on the head tokens); the anti-join split is broadcast too
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"expected broadcast head join + anti split:\n$plan")
    assert(plan.contains("LeftAnti"), s"expected the head/tail anti split:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian allowed:\n$plan")
  }

  test("cross_source_leakage: banded pair generation, never a cartesian") {
    val df = graft.SparkEntry.queries("cross_source_leakage")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pair generation must stay banded equi-joins:\n$plan")
  }

  test("boilerplate_removal: the boilerplate span set broadcasts back to the docs") {
    val df = graft.SparkEntry.queries("boilerplate_removal")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the (tiny by definition) boilerplate set must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian allowed:\n$plan")
  }

  test("embedding_kmeans_assign: the codebook rides in the compiled expression — assignment is a narrow map") {
    val df = graft.SparkEntry.queries("embedding_kmeans_assign")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"assignment must not join:\n$plan")
    assert("FileScan".r.findAllIn(plan).size == 1, s"one corpus scan:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"no hash shuffle — only the final sort may exchange:\n$plan")
  }

  test("embedding_moments: one scan, one buffer-per-partition shuffle, no per-row explode") {
    val df = graft.SparkEntry.queries("embedding_moments")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // first moments ride the same buffer: no join of any kind
    assert(!plan.contains("Join"), s"moments must need no join:\n$plan")
    assert("FileScan".r.findAllIn(plan).size == 1, s"exactly one corpus scan:\n$plan")
    // the typed aggregator folds each partition into ONE flat buffer;
    // the only exchange moves those buffers to a single merge task
    assert("Exchange SinglePartition".r.findAllIn(plan).size == 1,
      s"exactly one single-partition buffer exchange:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"no per-cell hash shuffle may exist:\n$plan")
    // the partial aggregate must sit BELOW the exchange (the property
    // that bounds the shuffle at one ~4·d²-byte buffer per partition)
    val exAt = plan.indexOf("Exchange SinglePartition")
    assert(plan.substring(exAt).contains("partial_momentsaggregator"),
      s"the buffer fold must run scan-side, below the exchange:\n$plan")
    // the corpus-side Generate (per-row d² explode) is gone; the ONLY
    // explode unpacks the final d(d+1)/2-row result ABOVE the aggregate
    val genAt = plan.indexOf("Generate explode")
    assert(genAt >= 0 && genAt < exAt && plan.indexOf("Generate explode", exAt) < 0,
      s"explode must unpack the merged result only, never corpus rows:\n$plan")
  }

  test("bm25_topk: query side broadcasts; ranking is heap-pruned, not a window") {
    val df = graft.queries.LlmQueries.bm25Topk(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the query-term probe, the idf attach and the dl attach all reach
    // the candidate path as broadcasts — the corpus tf index never
    // shuffles again to meet the query side
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"query-side joins must broadcast:\n$plan")
    // the only nested-loop is the 1-row corpus-stats crossJoin
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size == 1 &&
      !plan.contains("CartesianProduct"),
      s"only the 1-row stats crossJoin may nest:\n$plan")
    // self-exclusion is pushed into the probe join condition, so self
    // rows never reach scoring
    assert(plan.contains("NOT (query_id"), s"self filter must ride the probe join:\n$plan")
    // GroupTopK's two passes (partition-local heap prune, then exact
    // per-group finish) — and no row_number window over the candidates
    assert("MapPartitions graft.operators.GroupTopK".r.findAllIn(plan).size == 2,
      s"ranking must be the two-pass heap prune:\n$plan")
    assert(!plan.contains("Window"), s"no window ranking allowed:\n$plan")
  }

  test("bm25_topk_maxdf: the df ceiling cuts query terms BEFORE the tf probe join") {
    val df = graft.queries.LlmQueries.bm25TopkMaxdf(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the ceiling is an exact integer cross-multiplication filter on
    // the query-term df table — it must exist, and the surviving-token
    // SEMI join that applies it to the query side must sit INSIDE the
    // tf probe join's build subtree: a head token has to be gone before
    // the corpus-side fan-out, or the guard guards nothing
    assert(plan.contains("400000"),
      s"df-ceiling filter missing from the plan:\n$plan")
    val probeAt = plan.indexOf("BroadcastHashJoin [token")
    assert(probeAt >= 0, s"expected the token-keyed tf probe join:\n$plan")
    assert(plan.indexOf("LeftSemi", probeAt) > probeAt,
      s"the surviving-token semi join must feed the probe join's build side:\n$plan")
    // the candidate table itself must never shuffle: same broadcast
    // discipline as the unguarded form
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("bm25_topk_persisted: probe reads the bucketed index, zero token shuffle, corpus text unscanned") {
    val df = graft.queries.LlmQueries.bm25TopkPersisted(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the tf index scan comes from the bucketBy(token) table, and the
    // index-side df aggregation rides the bucketing: the ONLY
    // token-keyed exchange in the whole plan is the query side's tiny
    // distinct-terms aggregate (its subtree scans the query slice of
    // documents.parquet, never the index)
    assert(plan.contains("Bucketed: true"),
      s"the tf index scan must be bucketed:\n$plan")
    val tokenEx = "Exchange hashpartitioning\\(token".r.findAllMatchIn(plan).toSeq
    assert(tokenEx.size <= 1, s"at most one token shuffle (the query side):\n$plan")
    tokenEx.headOption.foreach { m =>
      val sub = plan.substring(m.start)
      val scan = sub.linesIterator.find(_.contains("FileScan")).getOrElse("")
      assert(scan.contains("documents.parquet") && scan.contains("LessThan(doc_id,5)"),
        s"the token shuffle must sit on the query slice, not the index:\n$scan")
    }
    // the raw corpus is never scanned for the probe: every scan of
    // documents.parquet is the pushed-down query-side slice
    val docScans = plan.split("\n").filter(_.contains("documents.parquet"))
    assert(docScans.nonEmpty && docScans.forall(_.contains("LessThan(doc_id,5)")),
      s"only the query slice may touch the corpus:\n${docScans.mkString("\n")}")
  }

  test("bm25_topk_incremental: the appended index probes exactly like the build-once index") {
    val df = graft.queries.LlmQueries.bm25TopkIncremental(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // append lands new files IN the token buckets, so day-2 state must
    // keep the persisted gate's whole probe contract: bucketed index
    // scan, at most the query side's tiny token shuffle, and the raw
    // corpus touched only through the pushed-down query slice
    assert(plan.contains("Bucketed: true"),
      s"the appended tf index scan must stay bucketed:\n$plan")
    val tokenEx = "Exchange hashpartitioning\\(token".r.findAllMatchIn(plan).toSeq
    assert(tokenEx.size <= 1, s"at most one token shuffle (the query side):\n$plan")
    val docScans = plan.split("\n").filter(_.contains("documents.parquet"))
    assert(docScans.nonEmpty && docScans.forall(_.contains("LessThan(doc_id,5)")),
      s"only the query slice may touch the corpus:\n${docScans.mkString("\n")}")
  }

  test("dsir_score_incremental: the frozen apply never rescans the training corpus") {
    val df = graft.queries.LlmQueries.dsirScoreIncremental(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the apply side scans documents ONCE (the incoming batch); the
    // even-id training half exists only through the persisted weight
    // table, which BROADCASTS to the gram stream
    val docScans = plan.split("\n").filter(_.contains("documents.parquet"))
    assert(docScans.length == 1,
      s"exactly one documents scan (the batch) allowed:\n${docScans.mkString("\n")}")
    assert(plan.contains("BroadcastHashJoin [bucket"),
      s"the frozen weights must broadcast:\n$plan")
  }

  test("cms_heavy_hitters: matrix aggregates partially; estimates probe a broadcast matrix") {
    val df = graft.queries.LlmQueries.cmsHeavyHitters(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the (i, bucket) counter exchange must consume a PARTIAL
    // aggregate — each partition reduces to <= depth*width rows before
    // the shuffle, the property that makes the sketch bounded-memory
    val ex = plan.indexOf("Exchange hashpartitioning(i")
    assert(ex >= 0, s"expected the (i, bucket) counter exchange:\n$plan")
    assert(plan.substring(ex).contains("Aggregate"),
      s"a partial aggregate must sit below the counter exchange:\n$plan")
    // the depth*width matrix BROADCASTS to the candidate probe — the
    // estimate join must never sort-merge
    assert(plan.contains("BroadcastHashJoin [i"),
      s"the counter matrix must broadcast to the estimate probe:\n$plan")
    // the exact audit side ranks through the map-side-pruned heap
    assert("MapPartitions graft.operators.GroupTopK".r.findAllIn(plan).size == 2,
      s"the exact top-k must heap-prune:\n$plan")
  }

  test("dsir_importance_sample: the bucket-weight table broadcasts back to the gram stream") {
    val df = graft.llm.Sampling.dsirScores(
      graft.queries.Tables(spark, TestSpark.sfDir, "documents"), "doc_id", "text",
      org.apache.spark.sql.functions.col("lang") === "en", 1024)
    val plan = df.queryExecution.executedPlan.toString
    // the weight attach is a broadcast probe of the nBuckets-row
    // histogram — the corpus-sized gram stream must NOT shuffle to
    // meet it, and raw gram strings must never key an exchange (the
    // only exchanges are bucket-keyed and id-keyed PARTIAL aggregates)
    assert(plan.contains("BroadcastHashJoin [bucket"),
      s"the weight join must broadcast:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(gram"),
      s"raw grams must never key a shuffle:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no sort-merge path for the weight attach:\n$plan")
  }

  test("hybrid_rerank: stage 2 probes the embedding scan via broadcast, never shuffles it") {
    val df = graft.queries.LlmQueries.hybridRerank(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the candidate set broadcasts against the embedding table: the
    // embedding scan is the STREAMED side of a vec_id-keyed broadcast
    // join, and no exchange ever partitions on vec_id
    assert(plan.contains("BroadcastHashJoin [vec_id"),
      s"candidates must broadcast against the embedding scan:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(vec_id"),
      s"the embedding table must never shuffle:\n$plan")
    // both ranking stages are GroupTopK's two-pass heap prune
    assert("MapPartitions graft.operators.GroupTopK".r.findAllIn(plan).size == 4,
      s"stage-1 and stage-2 rankings must both heap-prune:\n$plan")
    assert(!plan.contains("Window"), s"no window ranking allowed:\n$plan")
  }

  test("bpe_pair_stats: pair explosion runs over the aggregated vocabulary, not the corpus") {
    val df = graft.SparkEntry.queries("bpe_pair_stats")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the word-frequency aggregate (with its partial below the word
    // shuffle) must COMPLETE before the pair Generate: vocabulary-sized
    // fan-out, corpus-sized only in the first aggregate
    val pairGenAt = plan.indexOf("Generate explode(transform")
    assert(pairGenAt >= 0, s"expected the pair Generate:\n$plan")
    assert(plan.substring(pairGenAt).contains("HashAggregate(keys=[w"),
      s"the pair explosion must consume the aggregated vocab (aggregate below it):\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-30 must be the streaming top-k operator, not a global sort:\n$plan")
  }

  test("source_mixture_weights: one corpus scan; grand totals window over per-source rows") {
    val df = graft.SparkEntry.queries("source_mixture_weights")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert("FileScan".r.findAllIn(plan).size == 1, s"exactly one corpus scan:\n$plan")
    // the single-partition exchange below the window moves per-source
    // aggregate rows (|sources|), never corpus rows: the per-source
    // partial aggregate must sit below it
    val spAt = plan.indexOf("Exchange SinglePartition")
    assert(spAt >= 0 && plan.substring(spAt).contains("partial_"),
      s"grand-total window must consume aggregated rows:\n$plan")
  }

  test("quality_deciles_per_source: single scan into a partial percentile aggregate") {
    val df = graft.SparkEntry.queries("quality_deciles_per_source")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert("FileScan".r.findAllIn(plan).size == 1, s"exactly one corpus scan:\n$plan")
    assert(plan.contains("partial_percentile"),
      s"the exact percentile must aggregate partially below its shuffle:\n$plan")
    assert(!plan.contains("Window"), s"no whole-source sort/window allowed:\n$plan")
  }

  test("bigram_logprob_score: count relations aggregate partially before any exchange") {
    val df = graft.SparkEntry.queries("bigram_logprob_score")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // every Exchange must sit above a partial aggregate (the count
    // relations reduce to vocabulary size map-side) EXCEPT the final
    // per-doc re-agg and result sort — no raw-instance shuffle exists
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"instance joins must stay equi-joins:\n$plan")
    val pairCountEx = "Exchange hashpartitioning\\(prev".r.findAllIn(plan).size
    assert(pairCountEx >= 1, s"count relations must shuffle on token keys (post-partial):\n$plan")
    assert(plan.contains("partial_count"),
      s"map-side partial aggregation must precede the count shuffles:\n$plan")
  }

  test("minhash_est_error: verify joins consume the checkpointed sets, no shingle recompute") {
    val df = graft.queries.LlmQueries.minhashEstError(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the shingle-hash pass is materialized once (`shared`): the
    // physical plan must contain NO parquet scan of documents — only
    // the shared RDD feeds both the pair generation and the set joins
    assert(!plan.contains("FileScan parquet"),
      s"shingle sets must come from the one materialized pass:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"the audit must stay candidate-proportional:\n$plan")
  }

  test("mixture_plan_sample: quota relation broadcasts; rank window partitions by source") {
    val df = graft.queries.LlmQueries.mixturePlanSample(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"the |sources|-row quota relation must broadcast:\n$plan")
    val winAt = plan.indexOf("Window")
    assert(winAt >= 0 && plan.substring(winAt).contains("hashpartitioning(source"),
      s"the rank window must be per-source, not global:\n$plan")
  }

  test("export_jsonl_roundtrip: read-back is a schema-pinned json scan with partial aggregation") {
    val df = graft.SparkEntry.queries("export_jsonl_roundtrip")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FileScan json"), s"must scan the JSONL re-import:\n$plan")
    assert(!plan.contains("FileScan parquet"),
      s"the gate must read ONLY the round-tripped files:\n$plan")
    assert(plan.contains("partial_"),
      s"the source rollup must aggregate map-side:\n$plan")
  }

  test("curriculum_order: position window partitions by (phase, shard) — never global") {
    val df = graft.queries.LlmQueries.curriculumOrder(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    val winAts = "Window".r.findAllMatchIn(plan).map(_.start).toSeq
    assert(winAts.nonEmpty, s"expected the position window:\n$plan")
    // the corpus-touching pos window must hash-partition by phase+shard;
    // the only permitted single-partition window is the boundary pass's
    // cumsum over the VALUE HISTOGRAM (bounded by distinct scores)
    assert(plan.contains("hashpartitioning(phase"),
      s"pos window must partition by (phase, shard):\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the 1-row boundary frame must broadcast:\n$plan")
  }

  test("vocab_growth_curve: boundary rows broadcast; counts aggregate map-side") {
    val df = graft.queries.LlmQueries.vocabGrowthCurve(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the nPoints boundary frame must broadcast into the <= join:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("partial_count"),
      s"the first-seen aggregate must run map-side partials:\n$plan")
  }

  test("hard_negatives: one broadcast-query corpus scan cut by GroupTopK before any window") {
    val df = graft.queries.LlmQueries.hardNegativesQ(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the query side must broadcast against the corpus scan:\n$plan")
    val topkAt = plan.indexOf("MapPartitions")
    val winAt = plan.indexOf("Window")
    assert(topkAt >= 0, s"expected the GroupTopK map-side prune:\n$plan")
    assert(winAt >= 0 && topkAt > winAt,
      s"GroupTopK must cut candidates BELOW the rank windows (plan prints top-down):\n$plan")
    // one scan pair only — corpus + broadcast queries; the positive is a
    // window over the SAME candidate frame, so the margin/re-rank stages
    // never rescan the embeddings
    val scans = "FileScan parquet".r.findAllIn(plan).size
    assert(scans <= 2, s"margin/re-rank must ride the candidate frame, got $scans scans:\n$plan")
  }

  test("embedding_int8_quantize: d-row scale frame broadcasts; both aggregates partial") {
    val df = graft.queries.LlmQueries.embeddingInt8Quantize(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the per-dim amax frame must broadcast back:\n$plan")
    assert(plan.contains("partial_max"),
      s"the scale pass must aggregate map-side:\n$plan")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"the report pass must aggregate map-side:\n$plan")
  }

  test("cluster_topic_terms: docs join the assignment by id before any token explodes") {
    val df = graft.queries.LlmQueries.clusterTopicTerms(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    val genAt = plan.indexOf("Generate explode")
    assert(genAt >= 0, s"expected the tokenize explode:\n$plan")
    // the join must sit BELOW the explode in the tree (later in the
    // printout): tokens never cross the doc⋈assignment wire
    val joinBelow = plan.indexOf("Join", genAt)
    assert(joinBelow >= 0,
      s"doc⋈assignment join must feed the explode, not consume it:\n$plan")
  }

  test("dedup_cdc_incremental: the persisted chunk-hash index never shuffles") {
    val df = graft.queries.LlmQueries.dedupCdcIncremental(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"the chunk-hash scan must come from the bucketBy(h) table:\n$plan")
    val scanAt = plan.lastIndexOf("FileScan")
    assert(!plan.substring(scanAt).contains("Exchange"),
      s"the index side must not shuffle:\n${plan.substring(scanAt)}")
  }

  test("cms planner hook: a small estimated join picks the broadcast regime") {
    val orders = graft.queries.Tables(spark, TestSpark.sfDir, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice"))
    val few = orders.filter(col("k") % 500 === 0).select(col("k"), col("o_totalprice").as("p2"))
    val joined = graft.llm.Sketches.joinSizedByCms(orders, few, "k", maxBroadcastEst = 100000)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"a small sketch estimate must route to broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no shuffle join in the small regime:\n$plan")
  }

  test("cms planner hook: a large estimated join refuses broadcast") {
    val orders = graft.queries.Tables(spark, TestSpark.sfDir, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice"))
    val lineitem = graft.queries.Tables(spark, TestSpark.sfDir, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_quantity"))
    val joined = graft.llm.Sketches.joinSizedByCms(lineitem, orders, "k", maxBroadcastEst = 100)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"a large sketch estimate must route to the shuffle merge join:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"the large regime must never broadcast:\n$plan")
  }

  test("cms planner hook: a tiny OUTPUT estimate must not broadcast a huge right side") {
    // disjoint keys: the join-output estimate is ~0, but |right| is the
    // whole lineitem table — broadcasting it is the driver OOM the hook
    // exists to prevent, so the row gate must force the merge join
    val lineitem = graft.queries.Tables(spark, TestSpark.sfDir, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_quantity"))
    val shifted = lineitem.select((col("k") + 1000000000L).as("k"), col("l_quantity").as("q2"))
    val joined = graft.llm.Sketches.joinSizedByCms(
      lineitem, shifted, "k", maxBroadcastEst = 100000, maxBroadcastRows = 10000)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"an oversize right side must route to the shuffle merge join regardless of estimate:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"never broadcast a side bigger than maxBroadcastRows:\n$plan")
  }

  test("media_dedup_features: banded/bucketed pairing — never all-pairs, decode stays narrow") {
    val df = graft.queries.LlmQueries.mediaDedupFeatures(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pairing must ride LSH buckets, never a corpus self-join:\n$plan")
    // the ONLY corpus-sized exchange keys on the band bucket; pairs emit
    // from the in-bucket transform above the capped collect_list
    assert(plan.contains("Exchange hashpartitioning(bucket"),
      s"candidates must bucket on the signature band:\n$plan")
    assert("FileScan".r.findAllIn(plan).size == 1,
      s"one corpus scan — synthesis, decode and dHash are all narrow:\n$plan")
  }

  test("span_corruption: one narrow stage — no Exchange before the ordering sort") {
    val df = graft.queries.LlmQueries.spanCorruptionQ(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 1 && plan.contains("rangepartitioning"),
      s"denoising prep must be scan-side narrow compute:\n$plan")
    // the per-row mask/sentinel assembly is materialized once
    // (`shared`) so the orderBy's range-sampling pass does not run it
    // twice: the executed plan reads the shared RDD (Scan
    // ExistingRDD), and the corpus FileScan lives in the shared stage
    // below it — exactly one of the two shapes.
    val fileScans = "FileScan".r.findAllIn(plan).size
    assert(fileScans == 1 || (fileScans == 0 && plan.contains("Scan ExistingRDD")),
      s"one corpus scan, or one materialized narrow stage over it:\n$plan")
  }

  test("dataset_card: bounded aggregates only — partial aggregation below every exchange") {
    val df = graft.queries.LlmQueries.datasetCard(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"the card must need no join:\n$plan")
    // every corpus-sized aggregate runs partially below its shuffle
    assert(plan.contains("partial_"), s"expected map-side partial aggregates:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  for ((m, index, scan) <- Seq(
      (graft.queries.MediaModality.Image, "signature index", "band-key"),
      (graft.queries.MediaModality.Audio, "fingerprint index", "band-key"),
      (graft.queries.MediaModality.Video, "majority-signature index", "band-key"),
      (graft.queries.MediaModality.Caption, "composite-key index", "composite-key")))
    test(s"${m.name}_dedup_incremental: the persisted $index never shuffles") {
      val df = graft.queries.LlmQueries.defs(s"${m.name}_dedup_incremental")(spark, TestSpark.sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"the $scan scan must come from the bucketBy(bucket) table:\n$plan")
      val scanAt = plan.lastIndexOf("FileScan")
      assert(!plan.substring(scanAt).contains("Exchange"),
        s"the index side must not shuffle:\n${plan.substring(scanAt)}")
      assert(!plan.contains("CartesianProduct"), s"no all-pairs:\n$plan")
    }

  test("compaction_plan_sharded: the planner parallelizes over partitions — no SinglePartition funnel") {
    val df = graft.queries.LlmQueries.compactionPlanSharded(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the global FFD's defining bottleneck — the whole manifest routed
    // through ONE task — must be absent: every exchange is hash (per
    // source / per group) or the final ordering range partition
    assert(!plan.contains("Exchange SinglePartition"),
      s"the sharded planner must never funnel the manifest:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(source"),
      s"FFD groups must shuffle by the table-partition column:\n$plan")
  }

  test("dpo_packed_layout: one shard shuffle, counts ride the scan — no join-back, no re-window") {
    val df = graft.queries.LlmQueries.dpoPackedLayout(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"per-shard layout must never funnel through one task:\n$plan")
    assert(!plan.contains("Window"),
      s"placement order must be kernel-emitted, not re-windowed:\n$plan")
    // the branch token counts ride packedWindowLayout's carry columns;
    // a doc-keyed join back to the prep frame would re-run the whole
    // truncation chain AND add a join — the r18-advice class
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"no join back to the prep frame:\n$plan")
  }

  test("pack_sequences_layout: layout rides the packer's shard shuffle — no (shard, bin) re-window") {
    val df = graft.queries.LlmQueries.packSequencesLayout(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"per-shard layout must never funnel through one task:\n$plan")
    // seq/offset come from the FFD kernel state, so no Window operator
    // (a post-pass row_number over (shard, bin) would add one plus its
    // exchange) may appear anywhere in the plan
    assert(!plan.contains("Window"),
      s"placement order must be kernel-emitted, not re-windowed:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(shard_id"),
      s"the one corpus shuffle keys on the shard:\n$plan")
  }

  test("html_extract: a single narrow stage — no Exchange before the ordering sort") {
    val df = graft.queries.LlmQueries.htmlExtractQ(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    // the only allowed exchange is the final ORDER BY range partitioning
    assert(exchanges <= 1 && plan.contains("rangepartitioning"),
      s"extraction must be scan-side narrow compute:\n$plan")
  }
}
