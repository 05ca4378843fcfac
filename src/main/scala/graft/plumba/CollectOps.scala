package graft.plumba

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Whole-frame ordered fold/scan over a `DataFrame` — the Spark-native
  * counterpart of the reference's `collect_fold`/`collect_scan`
  * (reference: src/polars_numba/__init__.py:312–355, :682–740).
  *
  * Polars frames carry an intrinsic row order; Spark datasets do not, so
  * every operator takes explicit ordering columns (SURVEY §7.4 — a
  * deliberate, documented API deviation).
  *
  * Scale design (SURVEY §3.1–3.2):
  *  - One partition is already totally ordered once it is sorted in
  *    place: a single partition satisfies every ordered distribution, so
  *    a fold over at most one partition sorts it with
  *    `sortWithinPartitions` (a commutative kernel skips even that) — no
  *    range exchange, no sampling job — and folds it from `init` in one
  *    task, whatever its kernel: one plan, one Spark job of one stage, no
  *    SQL execution. Otherwise it runs the path its kernel runs over many
  *    partitions. The partition count is read from the
  *    projected input's physical plan, and only when that plan holds no
  *    exchange, no subquery and no adaptive wrapper (nor does any cached
  *    plan it scans), so building its RDD runs no Spark job; anything
  *    else, and every streaming frame, counts as many partitions
  *    ([[onePartition]]). The rows then leave that same plan
  *    ([[Ranged.rows]]). `collectScan` does not apply this rule.
  *  - Kernels declaring a [[Kernel.Merge]] run as *partial folds per
  *    partition* on executors — [[Ranged]]'s edge pass with an empty key —
  *    chained in partition order on the driver: O(#partitions) driver
  *    work, fully parallel, no row ever crosses to the driver. This is
  *    the 100 TB path. A lawful scan runs the same edge pass, then
  *    re-scans each range partition from its prefix.
  *  - Non-mergeable kernels are inherently sequential (the reference's own
  *    model: acc threads across 50k-row batches, :349). Over one
  *    partition the parity fold is that one task; only a multi-partition
  *    input streams to the driver, one partition at a time via
  *    `toLocalIterator` — bounded memory, exactly the reference's
  *    single-threaded streaming semantics. The parity scan walks
  *    [[Ranged]]'s one-partition layout. Prefer group-parallel
  *    [[GroupOps]] at scale.
  */
object CollectOps {

  /** True when `df` has at most one partition and its physical plan says
    * so without running a Spark job: the plan (and every cached plan it
    * scans) holds no exchange, no subquery and no adaptive wrapper, so
    * building its RDD only reads partition metadata. A streaming frame,
    * or any plan that would have to run jobs to know, counts as many
    * partitions. The count comes from `df.queryExecution.toRdd`, the
    * RDD [[Ranged.rows]] reads `df`'s rows from: a call plans `df` once. */
  private[plumba] def onePartition(df: DataFrame): Boolean = {
    def runsNoJob(p: SparkPlan): Boolean = p match {
      case _: Exchange | _: AdaptiveSparkPlanExec => false
      case s: InMemoryTableScanExec => runsNoJob(s.relation.cachedPlan)
      case _ => p.subqueries.isEmpty && p.children.forall(runsNoJob)
    }
    !df.isStreaming && runsNoJob(df.queryExecution.executedPlan) && df.queryExecution.toRdd.getNumPartitions <= 1
  }

  /** Ordered whole-frame fold → scalar. Kernels whose merge law is
    * declared COMMUTATIVE skip the global sort (and its range-exchange)
    * entirely — permutation invariance makes row and partition order
    * irrelevant, so the scan's natural partitioning feeds the partial
    * folds directly: one pass, zero shuffles. Every other kernel folds
    * the rows in order under the fold null policy (drop rows with nulls
    * in the selected value columns ONLY — nulls in other columns never
    * drop a row, reference tests/test_collect_fold.py:41–56). */
  def collectFold[A](df: DataFrame, valueCols: Seq[String], orderCols: Seq[String], k: Kernel.Fold[A]): A = {
    require(valueCols.nonEmpty, "at least one folded column is required") // reference :272–273
    // every fold input below is projected to exactly `valueCols`
    val valIdx = valueCols.indices.toArray
    val values = valueCols.map(col)
    val kept = df.na.drop(valueCols)
    // a commutative merge folds the unsorted projection: row order is irrelevant to it
    val input =
      if (k.merge.exists(_.commutative)) kept.select(values: _*)
      else kept.sortWithinPartitions(orderCols.map(col): _*).select(values: _*)
    if (onePartition(input)) {
      // partition 0 holds every row, in order where order matters: one task
      // folds it from `init`, whatever the kernel; the state comes back as
      // AccCodec bytes, as Ranged's partials do
      val folded = input.sparkSession.sparkContext.runJob(Ranged.rows(input),
        (it: Iterator[Row]) => AccCodec.ser(Runs.fold(k, k.init, it, valIdx)))
      folded.headOption.fold(k.init)(AccCodec.deser[A])
    } else {
      // a range sort makes partition order row order
      lazy val sorted = kept.orderBy(orderCols.map(col): _*).select(values: _*)
      k.merge match {
        // Ranged's edge pass (empty key): executor-side partials, chained on
        // the driver in partition order
        case Some(m) => Ranged.carry(if (m.commutative) input else sorted, k.init, Ranged.kernelLaw(k, m, valIdx))
        // parity path: partitions stream to the driver in order, one at a
        // time, and fold sequentially, like the reference
        case None => Runs.fold(k, k.init, sorted.toLocalIterator().asScala, valIdx)
      }
    }
  }

  /** Ordered whole-frame scan → DataFrame of (orderCols..., resultName).
    *
    * Kernels declaring a [[Kernel.Merge]] law run the classic two-pass
    * distributed prefix scan on [[Ranged]]'s range layout with an empty
    * key: range-sort once; pass 1 folds each partition's segment, from
    * `init` in partition 0 and from `neutral` as a partial in every later
    * one (skipped when the sort yields one partition); the driver
    * prefix-combines the O(#partitions) partials in partition order;
    * pass 2 re-scans every partition from its prefix over the same
    * sorted RDD, with no checkpoint. Both passes key the seeds on the
    * scanned partition's own index, so a downstream `coalesce` cannot
    * misplace them. This is the parallel default for lawful kernels. A
    * generic (possibly non-associative) prefix scan is inherently
    * sequential, so it runs on [[Ranged]]'s one-partition layout —
    * reference parity (the reference is single-threaded too,
    * README.md:57–62). For per-group scans use [[GroupOps.groupScan]]
    * (parallel across groups); for partitioned associative scans
    * [[WindowOps]]. Null rows emit null and do not advance the
    * accumulator. */
  def collectScan[A](
      df: DataFrame,
      valueCols: Seq[String],
      orderCols: Seq[String],
      k: Kernel.Scan[A],
      resultType: DataType,
      resultName: String = "scan"): DataFrame = {
    require(valueCols.nonEmpty, "at least one scanned column is required")
    val selCols = (orderCols ++ valueCols).distinct
    val sel = df.select(selCols.map(col): _*)
    val ordIdx = orderCols.map(selCols.indexOf).toArray
    val valIdx = valueCols.map(selCols.indexOf).toArray
    val outSchema = StructType(
      orderCols.map(c => sel.schema(selCols.indexOf(c))) :+
        StructField(resultName, resultType, nullable = true))
    val layout = k.merge.fold[Ranged.Layout[A]](Ranged.One)(m => Ranged.Range(0, Ranged.kernelLaw(k, m, valIdx)))
    // the key is empty: each partition is one run, seeded with the prefix before it
    Ranged(sel, orderCols, Array.empty, layout, k.init, outSchema) { (_, from, run, _) =>
      Runs.scan(k, from, run, valIdx)((r, v) => Row.fromSeq(Runs.values(r, ordIdx) :+ v))
    }
  }
}
