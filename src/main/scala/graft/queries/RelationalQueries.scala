package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize

/** Host-relational surface (SURVEY §2.3): the relational environment the
  * reference composes with, expressed as idiomatic declarative Spark so
  * Catalyst gets pushdown/pruning/join-planning for free, plus classic
  * analytic shapes for the benchmark. Dimension joins are explicitly
  * broadcast (customer/nation/region/supplier are small at any sf);
  * fact-fact joins shuffle on their keys and benefit from AQE.
  *
  * Oracle-parity rules: money aggregates go through decimal casts (exact,
  * order-independent — see [[Tables.decSum]]), every query ends in a
  * deterministic ORDER BY, and timestamp outputs are cast to DATE. */
object RelationalQueries {
  import Tables.{decSum, onePlus, revenueTerm, sqlDecSum, sqlOnePlus, sqlRevenueTerm, sqlToDouble2, toDouble2}

  type Q = (SparkSession, String) => DataFrame

  private val cutoff = Timestamp.valueOf("1998-06-30 00:00:00")

  /** TPC-H Q1-shaped pricing summary. One scan, partial aggregation
    * map-side, 6-group result — the canonical "does the agg push down"
    * benchmark query. */
  val q1PricingSummary: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    li.filter(col("l_shipdate") <= lit(Timestamp.valueOf("1998-09-02 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_base_price"),
        toDouble2(sum(revenueTerm(col("l_extendedprice"), col("l_discount")))).as("sum_disc_price"),
        toDouble2(sum(revenueTerm(col("l_extendedprice"), col("l_discount")) *
          onePlus(col("l_tax")))).as("sum_charge"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (decSum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        (decSum(col("l_discount")) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** TPC-H Q3-shaped shipping priority: two joins (broadcast the filtered
    * customer dim, shuffle lineitem⋈orders), top-10 revenue. */
  val q3TopOrders: Q = (s, dir) => {
    val c = Tables(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = Tables(s, dir, "orders").filter(col("o_orderdate") < lit(cutoff))
    val li = Tables(s, dir, "lineitem").filter(col("l_shipdate") > lit(cutoff))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey")
      .agg(toDouble2(sum(revenueTerm(col("l_extendedprice"), col("l_discount")))).as("revenue"))
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-shaped local-supplier revenue: the full dimension chain
    * (region→nation→customer/supplier) broadcast against the fact join. */
  val q5RegionRevenue: Q = (s, dir) => {
    val region = Tables(s, dir, "region")
    val nation = Tables(s, dir, "nation")
    val cust = Tables(s, dir, "customer")
    val supp = Tables(s, dir, "supplier")
    val orders = Tables(s, dir, "orders").filter(col("o_orderdate") < lit(cutoff))
    val li = Tables(s, dir, "lineitem")
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(toDouble2(sum(revenueTerm(col("l_extendedprice"), col("l_discount")))).as("revenue"))
      .orderBy("n_name")
  }

  /** Top-k by value with deterministic tie-break — ORDER BY + LIMIT,
    * which Spark executes as TakeOrderedAndProject (no global sort). */
  val topkOrders: Q = (s, dir) =>
    Tables(s, dir, "orders")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .select("o_orderkey", "o_totalprice")
      .limit(100)

  /** Group-by over the event stream: count/sum/min/max per type. */
  val aggEventsByType: Q = (s, dir) =>
    Tables(s, dir, "events")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        decSum(col("value")).as("total"),
        min(col("value")).as("lo"),
        max(col("value")).as("hi"))
      .orderBy("event_type")

  /** Anti join: customers with no orders (NOT EXISTS). */
  val customersWithoutOrders: Q = (s, dir) => {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Semi join + distinct: nations that have at least one customer. */
  val nationsWithCustomers: Q = (s, dir) => {
    val n = Tables(s, dir, "nation")
    val c = Tables(s, dir, "customer")
    n.join(c, col("n_nationkey") === col("c_nationkey"), "left_semi")
      .select("n_nationkey", "n_name")
      .distinct()
      .orderBy("n_nationkey")
  }

  /** Ranking window: top-3 orders per customer by price. */
  val rankOrdersPerCust: Q = (s, dir) => {
    val o = Tables(s, dir, "orders")
    val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
    o.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
      .select("o_custkey", "o_orderkey", "rn")
  }

  /** Set op: union-distinct of customer and supplier nation keys. */
  val activeNationKeys: Q = (s, dir) => {
    val c = Tables(s, dir, "customer").select(col("c_nationkey").cast("int").as("nationkey"))
    val sup = Tables(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nationkey"))
    c.union(sup).distinct().orderBy("nationkey")
  }

  /** Grouping sets (rollup) over return flag / line status with exact sums. */
  val rollupReturns: Q = (s, dir) =>
    Tables(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** CUBE: all four grouping sets in one pass (Spark expands to a
    * single aggregation over the grouping-set union — no re-scan per
    * set). Null ordering pinned NULLS FIRST on both engines, as in
    * [[rollupReturns]]. */
  val cubeReturns: Q = (s, dir) =>
    Tables(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** One-pass data profiling — the schema-health scan a pipeline runs
    * BEFORE training ingestion: per profiled column, null count,
    * exact distinct count, min/max, in ONE aggregation over ONE scan
    * (melted to long form afterwards — the melt is on a 1-row frame).
    * At 100 TB this shape matters: one pass, partial aggregation
    * map-side, no per-column re-scan. */
  val profileLineitem: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    def p(c: String) = Seq(
      sum(col(c).isNull.cast("long")).as(s"${c}_nulls"),
      countDistinct(col(c)).as(s"${c}_distinct"),
      min(col(c)).cast("double").as(s"${c}_min"),
      max(col(c)).cast("double").as(s"${c}_max"))
    val cols = Seq("l_quantity", "l_discount", "l_orderkey")
    val one = li.agg(count(lit(1)).as("n_rows"), cols.flatMap(p): _*)
    one.select(expr(
      "stack(3, " + cols.map(c =>
        s"'$c', ${c}_nulls, ${c}_distinct, ${c}_min, ${c}_max").mkString(", ") +
      ") AS (column_name, n_nulls, n_distinct, min_val, max_val)"))
      .orderBy("column_name")
  }

  /** Gap-based sessionization — the events→sessions step of a behavior
    * or training-data pipeline: per user, a new session starts after a
    * >12 h silence (gaps-and-islands via lag + running sum of starts),
    * then per-session aggregates. One shuffle on user_id; the windows
    * and the aggregation share that partitioning. `ts` is bigint nanos
    * on the Spark side (nanosAsLong), epoch_ns(ts) in DuckDB — same
    * int64. */
  val eventSessions: Q = (s, dir) => {
    val gapNs = 12L * 3600 * 1000000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prev = lag(col("ts"), 1).over(w)
    val isNew = when(prev.isNull || col("ts") - prev > gapNs, 1).otherwise(0)
    Tables(s, dir, "events")
      .withColumn("sess", sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess")
      .agg(
        count(lit(1)).as("n_events"),
        decSum(col("value")).as("total_value"),
        min(col("event_id")).as("first_event"))
      .select(col("user_id"), col("sess").cast("long").as("session_idx"),
        col("n_events"), col("total_value"), col("first_event"))
      .orderBy("user_id", "session_idx")
  }

  /** TPC-H Q10-shaped returned-item report: which customers returned the
    * most revenue in a quarter. Fact-fact join shuffles on orderkey with
    * the date + returnflag filters PUSHED to the scans; customer and
    * nation broadcast; top-20 by revenue with a deterministic custkey
    * tie-break (decimal-exact revenue ⇒ the cut is engine-portable). */
  val q10ReturnedItems: Q = (s, dir) => {
    val cust = Tables(s, dir, "customer")
    val nation = Tables(s, dir, "nation")
    val orders = Tables(s, dir, "orders")
      .filter(col("o_orderdate") >= lit(Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("o_orderdate") < lit(Timestamp.valueOf("1996-04-01 00:00:00")))
    val li = Tables(s, dir, "lineitem").filter(col("l_returnflag") === "R")
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(toDouble2(sum(revenueTerm(col("l_extendedprice"), col("l_discount")))).as("revenue"))
      .orderBy(desc("revenue"), asc("c_custkey"))
      .limit(20)
  }

  /** LEFT AS-OF JOIN through [[graft.operators.AsofJoin]]: for every
    * order, the customer's most recent (<=) "large order" price — the
    * point-in-time lookup Spark lacks natively, computed here as ONE
    * union shuffle + streaming pass (no join explosion). The right side
    * pre-aggregates to unique (custkey, date) so the as-of pick is
    * deterministic in both engines; oracle = DuckDB's native ASOF LEFT
    * JOIN. */
  val asofLargeOrder: Q = (s, dir) => {
    val o = Tables(s, dir, "orders")
    val large = o.filter(col("o_totalprice") > 200000)
      .groupBy("o_custkey", "o_orderdate")
      .agg(max("o_totalprice").as("big_price"))
    graft.operators.AsofJoin.asofLast(
        o.select("o_custkey", "o_orderdate", "o_orderkey"),
        large, Seq("o_custkey"), "o_orderdate", Seq("big_price"))
      .select(col("o_orderkey"), col("asof_big_price").as("last_big_price"))
      .orderBy("o_orderkey")
  }

  /** TWIN of [[asofLargeOrder]] through the RANGE-PARTITIONED as-of join
    * ([[graft.operators.AsofJoin.asofLastSalted]]): the tagged union is
    * range-partitioned on (customer, order date), each partition's
    * first run inherits the payload carried across its edge, and a hot
    * customer's timeline runs as several parallel tasks instead of one
    * — the skew path for as-of joins at scale. Shares the unsalted
    * query's DuckDB `ASOF JOIN` oracle verbatim, pinning both paths to
    * identical results.
    *
    * WIN CASE MEASURED on the retired three-stage bucket plan (round
    * 12, `graft.AsofSkewProbe` — SCALE.md §asof-crossover): with one
    * customer owning 90% of a 15M-row corpus the salted plan was 2.2×
    * faster (11.1 s vs 24.4 s, buckets = cores); at 50% skew the two
    * broke even; on uniform keys the three-stage plan was ~2.4×
    * overhead. The crossover of the range-partitioned engine is not
    * re-measured at that scale. Verdict: prefer
    * [[asofLargeOrder]]'s plain carry until a single key's timeline
    * approaches one task's capacity — past that the salted shape is
    * not just faster but the only one that FITS (the unsalted
    * straggler sorts the whole hot timeline in one task), which is the
    * 100 TB case it exists for. `buckets = 0` takes the session's
    * shuffle partitions (adaptive execution may coalesce them). */
  val asofLargeOrderSalted: Q = (s, dir) => {
    val o = Tables(s, dir, "orders")
    val large = o.filter(col("o_totalprice") > 200000)
      .groupBy("o_custkey", "o_orderdate")
      .agg(max("o_totalprice").as("big_price"))
    graft.operators.AsofJoin.asofLastSalted(
        o.select("o_custkey", "o_orderdate", "o_orderkey"),
        large, Seq("o_custkey"), "o_orderdate", Seq("big_price"), buckets = 0)
      .select(col("o_orderkey"), col("asof_big_price").as("last_big_price"))
      .orderBy("o_orderkey")
  }

  /** CO-LOCATED fact-fact join via BUCKETED TABLES — the shuffle-free
    * join strategy the 100 TB design calls for: lineitem and orders are
    * written `bucketBy(8, orderkey).sortBy(orderkey)` (both sides, same
    * bucket count), so the SortMergeJoin consumes the bucketed scans
    * DIRECTLY — the plan has NO Exchange on either join input; the only
    * shuffle left is the small post-join year aggregation. The `merge`
    * hint pins SMJ (a broadcast at sf0.01 would hide the point; at real
    * scale neither fact side broadcasts anyway). At 100 TB this is the
    * standard layout investment: bucket the fact tables on their join
    * key at ingest, and every subsequent join on that key skips both
    * sides' shuffles. Oracle: plain join SQL — bucketing changes layout,
    * never results. */
  val bucketedJoinRevenue: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    val o = Tables(s, dir, "orders")
    val (liTable, oTable) = Artifacts.getOrBuild("rev", Seq(li, o)) { a =>
      (a.bucketedTable("graft_li_b", "l_orderkey",
        li.select("l_orderkey", "l_extendedprice", "l_discount")),
       a.bucketedTable("graft_o_b", "o_orderkey", o.select("o_orderkey", "o_orderdate")))
    }
    s.table(liTable)
      .join(s.table(oTable).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).as("order_year"))
      .agg(
        count(lit(1)).as("n_items"),
        toDouble2(sum(revenueTerm(col("l_extendedprice"), col("l_discount")))).as("revenue"))
      .orderBy("order_year")
  }

  /** Per-customer top-3 orders through the MAP-SIDE-PRUNED top-k
    * operator ([[graft.operators.GroupTopK.topK]]): each scan partition
    * keeps at most 3 rows per customer in a bounded heap BEFORE the
    * shuffle, so the exchange carries O(k · custs · partitions) rows —
    * the window formulation (`rank_orders_per_cust`) shuffles every
    * order row. Tie-break on orderkey makes the ordering total, so the
    * row_number SQL replays it exactly. */
  val topkOrdersPerCust: Q = (s, dir) => {
    graft.operators.GroupTopK.topK(
        Tables(s, dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
        Seq("o_custkey"), Seq(("o_totalprice", false), ("o_orderkey", true)), k = 3)
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
      .select("o_custkey", "o_orderkey", "o_totalprice")
  }

  /** PARTITION PRUNING on a hive-partitioned layout — the third leg of
    * the scan-reduction story next to pushed filters and pruned read
    * schemas (PLANS.md): events re-written `partitionBy(event_type)`,
    * then the 'click' aggregate reads ONE directory of five — the plan
    * shows `PartitionFilters: [(event_type = click)]` and the other
    * four partitions are never opened (PlanShapeSpec asserts it). At
    * 100 TB this is the standard date/tenant layout: a pruned scan
    * skips whole directory trees, before any row-level filter runs.
    * Oracle: plain WHERE — layout never changes results. */
  val partitionPrunedEvents: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft_part_").toString
    Tables(s, dir, "events").select("user_id", "event_id", "event_type", "value")
      .write.partitionBy("event_type").mode("overwrite").parquet(tmp)
    s.read.parquet(tmp)
      .filter(col("event_type") === "click")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_clicks"), decSum(col("value")).as("click_value"))
      .orderBy("user_id")
  }

  /** Fact-dim enrichment through the SKEW-SALTED join
    * ([[graft.operators.SaltedJoin.innerJoin]]): every event row
    * annotated with its user's decimal-exact total — the join runs on
    * (user_id, salt shard) with the 150-row dim replicated ×8, so a
    * hot user's events would spread over 8 shuffle partitions instead
    * of one. Salting never changes the result set (each pair meets in
    * exactly one shard), so the plain-join SQL replays it exactly. */
  val saltedJoinEvents: Q = (s, dir) => {
    val ev = Tables(s, dir, "events").select(col("user_id"), col("event_id"), col("value"))
    val dim = ev.groupBy(col("user_id").as("d_user_id"))
      .agg(decSum(col("value")).as("user_total"))
    graft.operators.SaltedJoin.innerJoin(ev, dim, "user_id", "d_user_id", salt = 8)
      .select(col("user_id"), col("event_id"), col("user_total"))
      .orderBy("user_id", "event_id")
  }

  /** Price-band report through [[graft.operators.RangeJoin]]: orders
    * range-joined to 20 price intervals (point-in-interval), then
    * aggregated per band. The bucketing rewrite turns the non-equi
    * BETWEEN predicate into a hash-partitionable equi-join — no
    * BroadcastNestedLoop, no cartesian. Band bounds use 2-decimal-safe
    * edges (hi = next lo − 0.01) so double comparisons agree across
    * engines on 2dp money values. */
  val rangeBandOrders: Q = (s, dir) => {
    val o = Tables(s, dir, "orders")
    val bands = s.range(0, 20).select(
      col("id").as("band_id"),
      (col("id") * 25000.0).as("lo"),
      ((col("id") + 1) * 25000.0 - 0.01).as("hi"))
    graft.operators.RangeJoin.pointInInterval(
        o.select("o_orderkey", "o_totalprice"), bands, "o_totalprice", "lo", "hi", 25000.0)
      .groupBy("band_id")
      .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice")).as("revenue"))
      .orderBy("band_id")
  }

  /** Bloom-pruned semi join through [[graft.operators.BloomJoin]]:
    * orders with at least one returned line item. The probe (orders) is
    * filtered by a broadcast Bloom sketch of the returned-lineitem keys
    * BEFORE its shuffle — the explicit runtime-filter pattern; the exact
    * semi join removes the sketch's false positives, so the result (and
    * the oracle — a plain IN) is exact regardless of fpp. */
  val bloomSemiOrders: Q = (s, dir) => {
    val o = Tables(s, dir, "orders")
    val returned = Tables(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R").select("l_orderkey")
    graft.operators.BloomJoin.semiJoin(
        o.select("o_orderkey", "o_totalprice"), returned,
        "o_orderkey", "l_orderkey", expectedItems = 1000000L)
      .orderBy("o_orderkey")
  }

  /** Sketch-accuracy audit: exact distinct users per event type next to
    * Spark's HyperLogLog++ `approx_count_distinct` (rsd 5%), flagged
    * when the sketch strays beyond 3×rsd. At 100 TB the exact distinct
    * is the query you CAN'T afford (it shuffles every (type, user)
    * pair) and the one-pass mergeable sketch is what runs — this query
    * is the calibration harness a pipeline runs on a sample to trust
    * the dial. The oracle pins the exact counts AND the flag (TRUE
    * everywhere): an HLL regression past the bound fails the gate. */
  val approxDistinctAudit: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    ev.groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), 0.05).as("n_approx"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")).cast("double") / col("n_exact") <= 0.15)
          .as("approx_ok"))
      .orderBy("event_type")
  }

  /** Pivot (long→wide): per-returnflag quantity totals spread across
    * linestatus columns — one scan, partial agg map-side, exactly the
    * conditional-aggregation plan the SQL replay states. Values are
    * pinned (`Seq("F","O")`) so the plan never needs the extra
    * distinct-values job Spark runs for an open pivot. */
  val pivotReturns: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    li.groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(col("l_quantity")))
      .withColumnRenamed("F", "qty_f")
      .withColumnRenamed("O", "qty_o")
      .orderBy("l_returnflag")
  }

  /** Percentile-sketch audit, the quantile twin of
    * [[approxDistinctAudit]]: exact `percentile` (engine-portable on
    * integer-valued inputs) next to the GK-sketch `percentile_approx`,
    * flagged at 5% relative deviation. At 100 TB the exact percentile's
    * per-group value buffers are the unaffordable part and the
    * mergeable sketch is what runs. */
  val approxQuantileAudit: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem").withColumn("q", col("l_quantity").cast("int"))
    li.groupBy("l_returnflag")
      .agg(
        percentile(col("q"), lit(0.5)).as("p50_exact"),
        percentile(col("q"), lit(0.95)).as("p95_exact"),
        percentile_approx(col("q"), lit(0.5), lit(10000)).as("p50_approx"))
      .select(col("l_returnflag"), col("p50_exact"), col("p95_exact"),
        (abs(col("p50_approx") - col("p50_exact")) / col("p50_exact") <= 0.05)
          .as("approx_ok"))
      .orderBy("l_returnflag")
  }

  /** CDC-style KEEP-LATEST dedup: one current row per user from an
    * append-only event log — the standard "compact the changelog"
    * pipeline step. Runs through the map-side-pruned
    * [[graft.operators.GroupTopK]] with k=1 (keep-latest is top-1 by
    * version key), so the shuffle carries at most one candidate row per
    * (user, input partition) instead of the whole log — at 100 TB the
    * changelog is the big table and this is the difference between
    * shuffling it and shuffling megabytes. */
  val latestEventPerUser: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
      .select("user_id", "event_id", "event_type", "value")
    graft.operators.GroupTopK.topK(ev, Seq("user_id"), Seq(("event_id", false)), 1)
      .select(col("user_id"), col("event_id").as("last_event"),
        col("event_type").as("last_type"), col("value").as("last_value"))
      .orderBy("user_id")
  }

  /** INTERVAL-OVERLAP self-join ([[graft.operators.IntervalJoin]]):
    * pairs of a customer's orders whose 30-day fulfillment windows
    * overlap — "concurrent open orders". The overlap predicate becomes
    * an equi-join on (o_custkey, time bucket) with exactly-once owner-
    * bucket emission, so the plan is one hash shuffle per side, never a
    * BroadcastNestedLoopJoin/cartesian. Endpoints are exact epoch
    * seconds (dates at midnight), bucket width = the 30-day window —
    * expansion factor ≤ 2 per row. */
  val concurrentOrders: Q = (s, dir) => {
    val winSec = 30L * 86400
    // o_orderdate is TIMESTAMP_NTZ: lift through TIMESTAMP (session tz
    // is pinned UTC) to exact epoch seconds, matching DuckDB's epoch_us
    val o = Tables(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("timestamp").cast("long").as("lo"))
      .withColumn("hi", col("lo") + winSec)
    val a = o.select(col("o_custkey"), col("o_orderkey").as("order_a"),
      col("lo").as("a_lo"), col("hi").as("a_hi"))
    val b = o.select(col("o_custkey").as("b_cust"), col("o_orderkey").as("order_b"),
      col("lo").as("b_lo"), col("hi").as("b_hi"))
    graft.operators.IntervalJoin.overlapJoin(
        a, b, "a_lo", "a_hi", "b_lo", "b_hi", bucketWidth = winSec,
        equiKeys = Seq(("o_custkey", "b_cust")))
      .filter(col("order_a") < col("order_b")) // one row per unordered pair
      .select(col("o_custkey"), col("order_a"), col("order_b"),
        ((least(col("a_hi"), col("b_hi")) - greatest(col("a_lo"), col("b_lo"))) / lit(86400L))
          .cast("long").as("overlap_days"))
      .orderBy("o_custkey", "order_a", "order_b")
  }

  /** WINSORIZATION (outlier clipping) with EXACT per-group percentile
    * boundaries from [[graft.operators.HistogramQuantile]] — the
    * quality-filtering step that caps extreme values before training
    * statistics. No global sort and no interpolation: the boundary scan
    * shuffles only the (flag, quantity) histogram (≤ 50 rows per
    * group), the clip itself is a narrow map under a 3-row broadcast,
    * and every output is integer-exact — sums stay order-independent
    * where interpolated (float) boundaries would not. */
  val winsorizedQuantity: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    val bounds = graft.operators.HistogramQuantile.boundaries(
        li, Seq("l_returnflag"), "l_quantity", Seq(("p05", 0.05), ("p95", 0.95)))
      .select(col("l_returnflag").as("b_flag"), col("p05"), col("p95"))
    val q = col("l_quantity").cast("long")
    li.join(broadcast(bounds), col("l_returnflag") === col("b_flag"))
      .groupBy("l_returnflag")
      .agg(
        min(col("p05")).as("p05"),
        min(col("p95")).as("p95"),
        sum(when(q < col("p05"), 1L).otherwise(0L)).as("n_low"),
        sum(when(q > col("p95"), 1L).otherwise(0L)).as("n_high"),
        sum(least(greatest(q, col("p05")), col("p95"))).as("sum_winsorized"))
      .orderBy("l_returnflag")
  }

  /** 7-day rolling order count + revenue per customer — the
    * time-decayed feature window of a feature-engineering pipeline,
    * as a RANGE frame over integer days (peers on the same day
    * aggregate together — identical frame semantics in both engines).
    * Scale shape: ONE shuffle on o_custkey, then a per-partition local
    * sort by day — no global sort and no single-partition window; the
    * frame is evaluated streamingly within each customer run. Money
    * stays decimal inside the frame sum (order-independent, exact). */
  val rollingRevenue7d: Q = (s, dir) => {
    val o = Tables(s, dir, "orders").withColumn("day",
      datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date")))
    val w = Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-6, 0)
    o.select(
      col("o_orderkey"), col("o_custkey"), col("day"),
      count(lit(1)).over(w).as("n_orders_7d"),
      toDouble2(sum(col("o_totalprice").cast("decimal(18,6)")).over(w)).as("rev_7d"))
      .orderBy("o_orderkey")
  }

  /** Join-key skew diagnostic — the measurement that decides between
    * the plain, salted, and AQE join paths before a 100 TB join runs:
    * per-key row counts on the probe side's join key, the 20 heaviest
    * keys with their exact share of the table, and a hot flag at the
    * 1% threshold the catalog's salted paths assume. ONE partial-agg
    * shuffle on the key (counts, never rows), a 1-row total broadcast
    * (the plan's BroadcastNestedLoopJoin is that bounded crossJoin),
    * and a 20-row result. The share division is a single IEEE op —
    * exact in any engine; the flag is pure integer arithmetic. */
  val keySkewReport: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    val counts = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
    val total = ev.agg(count(lit(1)).as("total"))
    counts.crossJoin(broadcast(total))
      .select(col("user_id"), col("n"),
        (col("n").cast("double") / col("total")).as("share"),
        (col("n") * 100 >= col("total")).cast("int").as("hot"))
      .orderBy(desc("n"), asc("user_id")).limit(20)
  }

  /** Join-cardinality estimation from key sketches
    * ([[graft.llm.Sketches.cmsKeyCounters]] +
    * [[graft.llm.Sketches.cmsJoinSizeEstimate]]) — the planner-side
    * sibling of [[keySkewReport]]: each table scan leaves a 4×4096
    * counter matrix behind, and a join's output size is estimated from
    * the matrices' sketched inner product WITHOUT scanning either
    * table again — how an optimizer sizes broadcast-vs-shuffle and
    * pre-provisions partitions at 100 TB. Two audits, both with the
    * one-sided `err = cms_est − exact ≥ 0` invariant (collision
    * cross-terms only add):
    *  - `custkey_self`: the orders-per-customer fan-out (skew-heavy —
    *    where the estimator is sharp);
    *  - `orderkey_ol`: orders ⋈ lineitem on the near-unique orderkey
    *    (the noise-bound regime: est − exact ≈ |A|·|B|/width, the
    *    documented ε bound, visible in the gate's own numbers).
    * Everything is exact integer arithmetic, so the oracle replays the
    * matrices and both estimates bit-for-bit. */
  val cmsJoinEstimate: Q = (s, dir) => {
    import graft.llm.Sketches
    // Round-21 pass sharing (opt guide §1.2/§2.4): the gate consumes
    // orders 3× (custkey matrix, orderkey matrix, two exact aggregates)
    // and lineitem 2× (orderkey matrix, exact join) — materialize ONE
    // narrow key projection per table (keys pre-rendered to the
    // canonical CAST-AS-STRING form cmsKeyCounters hashes) and feed
    // every consumer from it: 5 parquet scans → 2, identical hashes and
    // identical exact counts (int→string is injective; nulls preserved
    // for the exact aggregates, dropped by the matrix's own filter).
    val o = Tables(s, dir, "orders")
      .select(col("o_custkey").cast("string").as("o_custkey"),
        col("o_orderkey").cast("string").as("o_orderkey"))
      .transform(Materialize.shared)
    val l = Tables(s, dir, "lineitem")
      .select(col("l_orderkey").cast("string").as("l_orderkey"))
      .transform(Materialize.shared)
    val (d, w) = (4, 4096)
    val mc = Materialize.shared(Sketches.cmsKeyCounters(o, "o_custkey", d, w))
    val mo = Sketches.cmsKeyCounters(o, "o_orderkey", d, w)
    val ml = Sketches.cmsKeyCounters(l, "l_orderkey", d, w)
    val exactSelf = o.groupBy("o_custkey").agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * col("n")).as("exact_pairs"))
    val exactJoin = o.groupBy("o_orderkey").agg(count(lit(1)).as("na"))
      .join(l.groupBy("l_orderkey").agg(count(lit(1)).as("nb")),
        col("o_orderkey") === col("l_orderkey"))
      .agg(sum(col("na") * col("nb")).as("exact_pairs"))
    val r1 = exactSelf.crossJoin(Sketches.cmsJoinSizeEstimate(mc, mc, d))
      .select(lit("custkey_self").as("join_key"), col("exact_pairs"), col("cms_est"))
    val r2 = exactJoin.crossJoin(Sketches.cmsJoinSizeEstimate(mo, ml, d))
      .select(lit("orderkey_ol").as("join_key"), col("exact_pairs"), col("cms_est"))
    r1.unionAll(r2)
      .withColumn("err", col("cms_est") - col("exact_pairs"))
      .orderBy("join_key")
  }

  /** Semi-structured extraction: parse the events table's JSON `props`
    * column with a TYPED schema (`from_json` — one parse per row into a
    * struct, codegen'd, no UDF and no per-field re-parse the
    * `get_json_object`-per-field shape pays) and aggregate the
    * extracted field per event type. Malformed rows parse to null and
    * are counted, not dropped — the ingest-audit convention. The
    * oracle replays the extraction with a regexp (same values on
    * well-formed single-key objects; a malformed row would surface as
    * a null-count mismatch rather than silently diverge). */
  val jsonPropsStats: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
      .select(col("event_type"), expr("from_json(props, 'k BIGINT').k").as("k"))
    ev.groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        count(col("k")).as("n_parsed"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")
  }

  /** Z-ORDER layout job — interleave the low 16 bits of (custkey, day)
    * into a 32-bit Morton code and order the table by it: the
    * multi-dimensional clustering pass (the OPTIMIZE ZORDER of lakehouse
    * table formats) that makes BOTH per-customer and per-date predicate
    * ranges land in few contiguous files, where a single-column sort
    * serves only one predicate. The global ordering is a range
    * partition + per-partition local sort — a WRITE-side layout job run
    * once and amortized over every later pruned scan; the z-value is 32
    * codegen'd integer bit-ops in the scan projection, no UDF. */
  val zorderLayout: Q = (s, dir) => {
    val o = Tables(s, dir, "orders").withColumn("day",
      datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date")).cast("long"))
    val c = col("o_custkey").bitwiseAND(65535L)
    val d = col("day").bitwiseAND(65535L)
    val z = (0 until 16).map { b =>
      shiftright(c, b).bitwiseAND(1L) * lit(1L << (2 * b + 1)) +
        shiftright(d, b).bitwiseAND(1L) * lit(1L << (2 * b))
    }.reduce(_ + _)
    o.select(col("o_orderkey"), col("o_custkey"), col("day"), z.as("zval"))
      .orderBy("zval", "o_orderkey")
  }

  val defs: Map[String, Q] = Map(
    "approx_distinct_audit" -> approxDistinctAudit,
    "pivot_returns" -> pivotReturns,
    "approx_quantile_audit" -> approxQuantileAudit,
    "q10_returned_items" -> q10ReturnedItems,
    "asof_large_order" -> asofLargeOrder,
    "asof_large_order_salted" -> asofLargeOrderSalted,
    "range_band_orders" -> rangeBandOrders,
    "bucketed_join_revenue" -> bucketedJoinRevenue,
    "salted_join_events" -> saltedJoinEvents,
    "partition_pruned_events" -> partitionPrunedEvents,
    "topk_orders_per_cust" -> topkOrdersPerCust,
    "bloom_semi_orders" -> bloomSemiOrders,
    "event_sessions" -> eventSessions,
    "q1_pricing_summary" -> q1PricingSummary,
    "q3_top_orders" -> q3TopOrders,
    "q5_region_revenue" -> q5RegionRevenue,
    "topk_orders" -> topkOrders,
    "agg_events_by_type" -> aggEventsByType,
    "customers_without_orders" -> customersWithoutOrders,
    "nations_with_customers" -> nationsWithCustomers,
    "rank_orders_per_cust" -> rankOrdersPerCust,
    "active_nation_keys" -> activeNationKeys,
    "rollup_returns" -> rollupReturns,
    "cube_returns" -> cubeReturns,
    "profile_lineitem" -> profileLineitem,
    "latest_event_per_user" -> latestEventPerUser,
    "concurrent_orders" -> concurrentOrders,
    "winsorized_quantity" -> winsorizedQuantity,
    "rolling_revenue_7d" -> rollingRevenue7d,
    "zorder_layout" -> zorderLayout,
    "json_props_stats" -> jsonPropsStats,
    "key_skew_report" -> keySkewReport,
    "cms_join_estimate" -> cmsJoinEstimate
  )

  val oracles: Map[String, String] = Map(
    // share = one IEEE division (exact); hot flag = integer arithmetic
    "key_skew_report" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        |t AS (SELECT count(*) AS total FROM events)
        |SELECT user_id, n, CAST(n AS DOUBLE) / total AS share,
        |  CAST(CASE WHEN n * 100 >= total THEN 1 ELSE 0 END AS INT) AS hot
        |FROM c, t ORDER BY n DESC, user_id LIMIT 20""".stripMargin,
    // both counter matrices and both sketched inner products replayed
    // in full — the estimate, not just its error bound, is pinned
    "cms_join_estimate" -> {
      def mat(cntCte: String, p: String): String =
        s"""${p}b AS (SELECT token, CAST(i AS INT) AS i,
           |    ${LlmQueries.hx60("md5('cms:' || CAST(i AS VARCHAR) || ':' || token)")} % 4096 AS bucket
           |  FROM $cntCte, range(0, 4) r(i)),
           |${p}m AS (SELECT i, bucket, CAST(sum(c) AS BIGINT) AS c
           |  FROM $cntCte JOIN ${p}b USING (token) GROUP BY i, bucket)""".stripMargin
      s"""WITH oc AS (SELECT CAST(o_custkey AS VARCHAR) AS token, count(*) AS c FROM orders GROUP BY 1),
         |ok AS (SELECT CAST(o_orderkey AS VARCHAR) AS token, count(*) AS c FROM orders GROUP BY 1),
         |lk AS (SELECT CAST(l_orderkey AS VARCHAR) AS token, count(*) AS c FROM lineitem GROUP BY 1),
         |${mat("oc", "x")},
         |${mat("ok", "y")},
         |${mat("lk", "z")},
         |e1 AS (SELECT min(ip) AS cms_est FROM (
         |  SELECT i, CAST(sum(c * c) AS BIGINT) AS ip FROM xm GROUP BY i)),
         |e2 AS (SELECT min(ip) AS cms_est FROM (
         |  SELECT ym.i, CAST(sum(ym.c * zm.c) AS BIGINT) AS ip
         |  FROM ym JOIN zm ON ym.i = zm.i AND ym.bucket = zm.bucket GROUP BY ym.i)),
         |x1 AS (SELECT CAST(sum(c * c) AS BIGINT) AS exact_pairs FROM oc),
         |x2 AS (SELECT CAST(sum(ok.c * lk.c) AS BIGINT) AS exact_pairs
         |  FROM ok JOIN lk USING (token))
         |SELECT 'custkey_self' AS join_key, x1.exact_pairs, e1.cms_est,
         |  e1.cms_est - x1.exact_pairs AS err FROM x1, e1
         |UNION ALL
         |SELECT 'orderkey_ol', x2.exact_pairs, e2.cms_est,
         |  e2.cms_est - x2.exact_pairs FROM x2, e2
         |ORDER BY join_key""".stripMargin
    },
    // regexp replay of the typed JSON extraction: identical values on
    // well-formed objects; NULLIF keeps malformed rows null on both
    // sides so n vs n_parsed audits parity instead of diverging
    "json_props_stats" ->
      """WITH e AS (SELECT event_type,
        |    CAST(NULLIF(regexp_extract(props, '"k": *(-?[0-9]+)', 1), '') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, count(*) AS n, count(k) AS n_parsed,
        |  CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the Morton interleave replays as the same 32 integer bit terms
    // (generated from one Scala loop, so Spark and SQL can't drift)
    "zorder_layout" -> {
      val zterms = (0 until 16).map(b =>
        s"(((o_custkey & 65535) >> $b) & 1) * ${1L << (2 * b + 1)} + " +
          s"(((day & 65535) >> $b) & 1) * ${1L << (2 * b)}").mkString(" + ")
      s"""WITH o AS (SELECT o_orderkey, o_custkey,
         |    datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS day
         |  FROM orders)
         |SELECT o_orderkey, o_custkey, day, $zterms AS zval
         |FROM o ORDER BY zval, o_orderkey""".stripMargin
    },
    // the RANGE frame replays verbatim (integer-day ordering key, same
    // peer semantics); the frame sum stays decimal through ROUND
    "rolling_revenue_7d" ->
      s"""WITH o AS (SELECT o_orderkey, o_custkey, o_totalprice,
         |    datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS day
         |  FROM orders)
         |SELECT o_orderkey, o_custkey, day,
         |  count(*) OVER w AS n_orders_7d,
         |  ${sqlToDouble2("SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w")} AS rev_7d
         |FROM o
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY day
         |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
         |ORDER BY o_orderkey""".stripMargin,
    // keep-latest is pure top-1-by-version: the window formulation
    // replays it (GroupTopK changes the shuffle volume, never the rows)
    "latest_event_per_user" ->
      """SELECT user_id, event_id AS last_event, event_type AS last_type,
        |  value AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY event_id DESC) AS rk FROM events)
        |WHERE rk = 1 ORDER BY user_id""".stripMargin,
    // bucketing + owner-bucket emission change the plan, never the pair
    // set: the plain overlap self-join replays it in epoch seconds
    "concurrent_orders" ->
      """WITH iv AS (SELECT o_orderkey, o_custkey,
        |    epoch_us(o_orderdate) // 1000000 AS lo,
        |    epoch_us(o_orderdate) // 1000000 + 2592000 AS hi FROM orders)
        |SELECT a.o_custkey AS o_custkey, a.o_orderkey AS order_a,
        |  b.o_orderkey AS order_b,
        |  (least(a.hi, b.hi) - greatest(a.lo, b.lo)) // 86400 AS overlap_days
        |FROM iv a JOIN iv b ON a.o_custkey = b.o_custkey
        |  AND a.o_orderkey < b.o_orderkey AND a.lo <= b.hi AND b.lo <= a.hi
        |ORDER BY o_custkey, order_a, order_b""".stripMargin,
    // the histogram-quantile boundary (smallest v with cum >= q*n,
    // compared in exact integer space) replays verbatim; integer sums
    // keep the clip order-independent
    "winsorized_quantity" ->
      """WITH h AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS v,
        |    count(*) AS c FROM lineitem GROUP BY 1, 2),
        |cum AS (SELECT *,
        |    sum(c) OVER (PARTITION BY l_returnflag ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
        |    sum(c) OVER (PARTITION BY l_returnflag) AS n FROM h),
        |b AS (SELECT l_returnflag AS b_flag,
        |    min(CASE WHEN cm * 1000000 >= n * 50000 THEN v END) AS p05,
        |    min(CASE WHEN cm * 1000000 >= n * 950000 THEN v END) AS p95
        |  FROM cum GROUP BY 1)
        |SELECT l_returnflag, CAST(min(p05) AS BIGINT) AS p05,
        |  CAST(min(p95) AS BIGINT) AS p95,
        |  CAST(SUM(CASE WHEN CAST(l_quantity AS BIGINT) < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  CAST(SUM(CASE WHEN CAST(l_quantity AS BIGINT) > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  CAST(SUM(least(greatest(CAST(l_quantity AS BIGINT), p05), p95)) AS BIGINT) AS sum_winsorized
        |FROM lineitem JOIN b ON l_returnflag = b_flag
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the exact side is replayed; the flag is pinned TRUE — a sketch
    // regression past 3x its configured rsd fails the hash compare
    "approx_distinct_audit" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // l_quantity is integral 1..50: sums are exact doubles at any order
    "pivot_returns" ->
      """SELECT l_returnflag,
        |  sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_f,
        |  sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // exact percentiles on integer inputs are engine-portable (linear
    // interpolation, validated on corpus_stats); the flag is pinned
    "approx_quantile_audit" ->
      """SELECT l_returnflag,
        |  quantile_cont(CAST(l_quantity AS INT), 0.5) AS p50_exact,
        |  quantile_cont(CAST(l_quantity AS INT), 0.95) AS p95_exact,
        |  TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "event_sessions" ->
      s"""WITH t AS (
         |  SELECT user_id, event_id, value, epoch_ns(ts) AS tns,
         |    lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS prev
         |  FROM events),
         |s AS (SELECT *, CASE WHEN prev IS NULL OR tns - prev > 43200000000000 THEN 1 ELSE 0 END AS isnew FROM t),
         |g AS (SELECT *, SUM(isnew) OVER (PARTITION BY user_id ORDER BY tns, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM s)
         |SELECT user_id, CAST(sess AS BIGINT) AS session_idx, count(*) AS n_events,
         |  ${sqlDecSum("value")} AS total_value, min(event_id) AS first_event
         |FROM g GROUP BY user_id, sess ORDER BY user_id, session_idx""".stripMargin,
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  SUM(l_quantity) AS sum_qty,
         |  ${sqlDecSum("l_extendedprice")} AS sum_base_price,
         |  ${sqlToDouble2(s"SUM(${sqlRevenueTerm("l_extendedprice", "l_discount")})")} AS sum_disc_price,
         |  ${sqlToDouble2(s"SUM(${sqlRevenueTerm("l_extendedprice", "l_discount")} * ${sqlOnePlus("l_tax")})")} AS sum_charge,
         |  SUM(l_quantity) / COUNT(*) AS avg_qty,
         |  ${sqlDecSum("l_extendedprice")} / COUNT(*) AS avg_price,
         |  ${sqlDecSum("l_discount")} / COUNT(*) AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_top_orders" ->
      s"""SELECT l_orderkey,
         |  ${sqlToDouble2(s"SUM(${sqlRevenueTerm("l_extendedprice", "l_discount")})")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
         |GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "bloom_semi_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
        |ORDER BY o_orderkey""".stripMargin,
    "range_band_orders" ->
      s"""WITH bands AS (SELECT i AS band_id, i*25000.0 AS lo, (i+1)*25000.0 - 0.01 AS hi
         |  FROM range(0, 20) t(i)),
         |j AS (SELECT band_id, o_totalprice FROM orders
         |  JOIN bands ON o_totalprice BETWEEN lo AND hi)
         |SELECT band_id, count(*) AS n_orders, ${sqlDecSum("o_totalprice")} AS revenue
         |FROM j GROUP BY band_id ORDER BY band_id""".stripMargin,
    "asof_large_order" ->
      """WITH r AS (SELECT o_custkey AS k, o_orderdate AS t, max(o_totalprice) AS v
        |  FROM orders WHERE o_totalprice > 200000 GROUP BY 1, 2)
        |SELECT l.o_orderkey, r.v AS last_big_price
        |FROM orders l ASOF LEFT JOIN r ON l.o_custkey = r.k AND l.o_orderdate >= r.t
        |ORDER BY l.o_orderkey""".stripMargin,
    // map-side pruning changes shuffle volume only — row_number replay
    "topk_orders_per_cust" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,
    // partitioned layout changes what's READ, never the result
    "partition_pruned_events" ->
      s"""SELECT user_id, count(*) AS n_clicks, ${sqlDecSum("value")} AS click_value
         |FROM events WHERE event_type = 'click'
         |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // salting changes shuffle layout only — plain join SQL replays it
    "salted_join_events" ->
      s"""WITH dim AS (SELECT user_id AS d_user_id,
         |    ${sqlDecSum("value")} AS user_total
         |  FROM events GROUP BY user_id)
         |SELECT user_id, event_id, user_total
         |FROM events JOIN dim ON user_id = d_user_id
         |ORDER BY user_id, event_id""".stripMargin,
    // bucketing changes physical layout only — plain join SQL replays it
    "bucketed_join_revenue" ->
      s"""SELECT year(o_orderdate) AS order_year, count(*) AS n_items,
         |  ${sqlToDouble2(s"SUM(${sqlRevenueTerm("l_extendedprice", "l_discount")})")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical oracle: the salted path must be bit-identical to unsalted
    "asof_large_order_salted" ->
      """WITH r AS (SELECT o_custkey AS k, o_orderdate AS t, max(o_totalprice) AS v
        |  FROM orders WHERE o_totalprice > 200000 GROUP BY 1, 2)
        |SELECT l.o_orderkey, r.v AS last_big_price
        |FROM orders l ASOF LEFT JOIN r ON l.o_custkey = r.k AND l.o_orderdate >= r.t
        |ORDER BY l.o_orderkey""".stripMargin,
    "q10_returned_items" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         |  ${sqlToDouble2(s"SUM(${sqlRevenueTerm("l_extendedprice", "l_discount")})")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1996-04-01'
         |GROUP BY c_custkey, c_name, c_acctbal, n_name
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q5_region_revenue" ->
      s"""SELECT n_name,
         |  ${sqlToDouble2(s"SUM(${sqlRevenueTerm("l_extendedprice", "l_discount")})")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
         |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "topk_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "agg_events_by_type" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlDecSum("value")} AS total,
         |  MIN(value) AS lo, MAX(value) AS hi
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "nations_with_customers" ->
      """SELECT DISTINCT n_nationkey, n_name FROM nation
        |WHERE EXISTS (SELECT 1 FROM customer WHERE c_nationkey = n_nationkey)
        |ORDER BY n_nationkey""".stripMargin,
    "rank_orders_per_cust" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "active_nation_keys" ->
      """SELECT CAST(nationkey AS INT) AS nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION SELECT s_nationkey FROM supplier) ORDER BY nationkey""".stripMargin,
    "rollup_returns" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "cube_returns" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    // min/max of doubles and exact counts — engine-portable without casts
    "profile_lineitem" ->
      """SELECT column_name, n_nulls, n_distinct, min_val, max_val FROM (
        |  SELECT 'l_quantity' AS column_name,
        |    CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |    CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
        |    CAST(min(l_quantity) AS DOUBLE) AS min_val, CAST(max(l_quantity) AS DOUBLE) AS max_val
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount',
        |    CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT l_discount) AS BIGINT),
        |    CAST(min(l_discount) AS DOUBLE), CAST(max(l_discount) AS DOUBLE)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_orderkey',
        |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT l_orderkey) AS BIGINT),
        |    CAST(min(l_orderkey) AS DOUBLE), CAST(max(l_orderkey) AS DOUBLE)
        |  FROM lineitem)
        |ORDER BY column_name""".stripMargin
  )
}
