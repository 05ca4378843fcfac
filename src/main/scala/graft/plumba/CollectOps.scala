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
  *    an ordered fold over at most one partition sorts it with
  *    `sortWithinPartitions` — no range exchange, no sampling job, one
  *    Spark job of one stage — and otherwise runs the path its kernel
  *    runs over many partitions. The partition count is read from the
  *    projected input's physical plan, and only when that plan holds no
  *    exchange, no subquery and no adaptive wrapper (nor does any cached
  *    plan it scans), so building its RDD runs no Spark job; anything
  *    else, and every streaming frame, counts as many partitions
  *    ([[onePartition]]). `collectScan` does not apply this rule.
  *  - Kernels declaring a [[Kernel.Merge]] run as *partial folds per
  *    partition* on executors — [[Ranged]]'s edge pass with an empty key —
  *    chained in partition order on the driver: O(#partitions) driver
  *    work, fully parallel, no row ever crosses to the driver. This is
  *    the 100 TB path. A lawful scan runs the same edge pass, then
  *    re-scans each range partition from its prefix.
  *  - Non-mergeable kernels are inherently sequential (the reference's own
  *    model: acc threads across 50k-row batches, :349). The parity fold
  *    streams partitions to the driver one at a time via
  *    `toLocalIterator` — bounded memory, exactly the reference's
  *    single-threaded streaming semantics; the parity scan walks
  *    [[Ranged]]'s one-partition layout. Prefer group-parallel
  *    [[GroupOps]] at scale.
  */
object CollectOps {

  /** True when `df` has at most one partition and its physical plan says
    * so without running a Spark job: the plan (and every cached plan it
    * scans) holds no exchange, no subquery and no adaptive wrapper, so
    * building its RDD only reads partition metadata. A streaming frame,
    * or any plan that would have to run jobs to know, counts as many
    * partitions. */
  private[plumba] def onePartition(df: DataFrame): Boolean = {
    def runsNoJob(p: SparkPlan): Boolean = p match {
      case _: Exchange | _: AdaptiveSparkPlanExec => false
      case s: InMemoryTableScanExec => runsNoJob(s.relation.cachedPlan)
      case _ => p.subqueries.isEmpty && p.children.forall(runsNoJob)
    }
    !df.isStreaming && {
      val plan = df.queryExecution.executedPlan
      runsNoJob(plan) && plan.execute().getNumPartitions <= 1
    }
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
    lazy val sorted = {
      val kept = df.select((orderCols ++ valueCols).distinct.map(col): _*).na.drop(valueCols)
      val local = kept.sortWithinPartitions(orderCols.map(col): _*).select(valueCols.map(col): _*)
      // one partition needs no range sort: partition 0 holds every row in order
      if (onePartition(local)) local else kept.orderBy(orderCols.map(col): _*).select(valueCols.map(col): _*)
    }
    k.merge match {
      case Some(m) =>
        // Executor-side partials on Ranged's edge pass (empty key), chained
        // on the driver in partition order: a range sort makes partition
        // order row order; a commutative merge folds the unsorted
        // projection under the fold null policy.
        val input =
          if (m.commutative) df.select(valueCols.distinct.map(col): _*).na.drop(valueCols.distinct)
            .select(valueCols.map(col): _*)
          else sorted
        Ranged.carry(input, k.init, Ranged.kernelLaw(k, m, valIdx))
      case None =>
        // Parity path: partitions stream to the driver in sorted order
        // through `toLocalIterator` and fold sequentially, like the reference.
        Runs.fold(k, k.init, sorted.toLocalIterator().asScala, valIdx)
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
