package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize

/** Iterative graph analytics over the near-duplicate candidate graph —
  * the remaining classic Spark workload shape (synchronous iteration to
  * a fixed point) applied where a curation pipeline actually needs it:
  * picking a CLUSTER REPRESENTATIVE by centrality instead of by a
  * per-doc quality score. A doc's centrality in its near-dup cluster
  * measures how much of the cluster's content it shares; the most
  * central member is the best single stand-in for the cluster — the
  * graph-aware alternative the `dedup_keep_best` quality rule.
  *
  * [[pageRankPpm]] is PageRank (Brin/Page 1998) in the library's exact
  * integer fixed-point discipline: parts-per-million rank mass,
  * truncating integer division at every step, a FIXED iteration count —
  * so the trajectory, not just the limit, is bit-identical in any
  * engine and the DuckDB oracle replays all eight rounds as unrolled
  * CTEs. No float convergence test exists to differ across engines. */
object Graph {

  /** Fixed-point PageRank over an undirected pair list `(id_a, id_b)`
    * — every pair contributes both directed edges, so out-degree =
    * degree ≥ 1 for every node and NO dangling-mass term exists (the
    * rank that classic PageRank redistributes from sink nodes; a pair
    * graph has no sinks by construction).
    *
    * Per synchronous round, all integer:
    * {{{
    *   r_0[v]     = 1_000_000
    *   r_{t+1}[v] = (10^6 − damping) +
    *                (damping · Σ_{u→v} (r_t[u] DIV deg[u])) DIV 10^6
    * }}}
    * with `damping` in ppm (default 850 000 — the textbook 0.85).
    *
    * Scale shape: the edge list (with degree attached) materializes
    * ONCE (`Materialize.shared`) and each round is one edge⋈rank join +
    * one dst-keyed partial-agg shuffle — the Pregel profile, `iters`×
    * the cost of one degree count. Unlike [[Dedup.connectedComponents]] (whose labels feed
    * BOTH sides of its per-round join, doubling the plan per round),
    * `ranks` has exactly ONE consumer per round, so lineage grows
    * LINEARLY and the rounds chain inside one job — checkpointing
    * every round would only buy 8 needless materializations (measured
    * ~0.2 s each in local mode). Lineage is truncated
    * (`Materialize.truncated`) every `checkpointEvery` rounds (default
    * 16) as the long-run guard.
    * (Round 22 note: a lazy per-4-rounds truncation was A/B-tested to
    * bound AQE's per-stage replanning over the unrolled chain; an
    * interleaved same-shell A/B showed the apparent win was warm-up
    * order, so the default stays 16.)
    * Overflow bound: a node's inbound sum is ≤ in-degree · 10^6-scale
    * ranks, so `damping · s` stays under 2^63 while max degree
    * < ~10^7 — guaranteed here because the LSH bucket cap
    * (`maxBucket`, default 1000) bounds the candidate graph's degree
    * long before that.
    *
    * Output: (id, rank_ppm) for every node of the pair graph. */
  def pageRankPpm(pairs: DataFrame, iters: Int = 8,
      dampingPpm: Long = 850000L, checkpointEvery: Int = 16): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(dampingPpm >= 0 && dampingPpm <= 1000000L,
      s"dampingPpm must be in [0, 1000000]; got $dampingPpm")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val base = 1000000L - dampingPpm
    val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    // one materialization feeds every round
    val edges = Materialize.shared(sym.join(deg, "src"))
    var ranks = edges.select(col("src").as("id")).distinct()
      .select(col("id"), lit(1000000L).as("r"))
    for (it <- 1 to iters) {
      ranks = edges.join(ranks, edges("src") === ranks("id"))
        .select(col("dst"), expr("r DIV deg").as("c"))
        .groupBy("dst")
        .agg(sum("c").as("s"))
        .select(col("dst").as("id"),
          expr(s"CAST($base + ($dampingPpm * s) DIV 1000000 AS BIGINT)").as("r"))
      // single-consumer lineage grows linearly — truncate only on the
      // long-run cadence, never per round
      if (it % checkpointEvery == 0 && it < iters)
        ranks = Materialize.truncated(ranks)
    }
    ranks.select(col("id"), col("r").as("rank_ppm"))
  }

  /** The centrality representative per near-dup component: rank the
    * pair graph with [[pageRankPpm]], group nodes by
    * [[Dedup.connectedComponents]], keep each component's highest-rank
    * member (id tie-break). `pairs` should be materialized by the
    * caller when it is expensive to produce — it feeds both the rank
    * iteration and the component derivation. Output:
    * (component, keep_id, rank_ppm) — the centrality twin of the
    * keep-best quality rule. */
  def keepCentral(pairs: DataFrame, iters: Int = 8): DataFrame = {
    val ranks = pageRankPpm(pairs, iters)
    val comps = Dedup.connectedComponents(pairs)
    graft.operators.GroupTopK.topK(
        ranks.join(comps, "id")
          .select(col("comp").as("component"), col("id"), col("rank_ppm")),
        Seq("component"), Seq(("rank_ppm", false), ("id", true)), 1)
      .select(col("component"), col("id").as("keep_id"), col("rank_ppm"))
  }
}
