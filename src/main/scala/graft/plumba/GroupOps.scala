package graft.plumba

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Per-group ordered fold/scan — the Spark-native counterpart of the
  * reference's `group_by("user").agg(expr.plumba.fold/scan(...))`
  * (reference: examples_fold.py:81–97, examples_scan.py:64–82).
  *
  * This is the reference's own scaling story made distributed: parallelism
  * *across* groups (unbounded group count spread over executors),
  * strictly sequential order *within* a group (SURVEY §7.4). Every shape
  * is one walk on [[Ranged]] over the narrow (keys, order, values)
  * projection. [[groupFold]] / [[groupScan]] use its hash layout — the
  * secondary-sort pattern: `repartition(keys)` +
  * `sortWithinPartitions(keys, order)` + a single streaming pass with
  * group-change detection — so a group never has to fit in memory and no
  * per-group shuffle or `collect_list` buffer is built. At 100 TB this is
  * one hash shuffle on the group keys followed by pipelined, spill-aware
  * sorting. For skewed groups with mergeable kernels use
  * [[groupFoldMergeable]] / [[groupScanMergeable]]: the same walk on the
  * range layout partitions on (keys, order) instead, so a hot group's run
  * spreads over several tasks, and stitches the partition edges with the
  * kernel's merge law (two passes over one sort, no checkpoint).
  */
object GroupOps {

  /** Per-group ordered fold → one row per group: (keyCols..., resultName).
    * Fold null policy: rows with nulls in value columns are dropped;
    * groups whose rows are all dropped still emit `init`-folded state.
    * Kernels whose merge law is declared COMMUTATIVE sort by the group
    * keys ONLY — group contiguity is all the streaming pass needs when
    * row order inside a group is irrelevant, so the per-partition sort
    * drops the ordering columns (same shuffle, cheaper sort key). */
  def groupFold[A](
      df: DataFrame,
      keyCols: Seq[String],
      valueCols: Seq[String],
      orderCols: Seq[String],
      k: Kernel.Fold[A],
      resultType: DataType,
      resultName: String = "fold",
      emit: A => Any = (a: A) => a: Any): DataFrame = {
    require(keyCols.nonEmpty, "at least one group key is required")
    require(valueCols.nonEmpty, "at least one folded column is required")
    fold(df, keyCols, valueCols, orderCols, k, resultType, resultName, emit, None)
  }

  /** Skew-resistant per-group fold for kernels with a lawful
    * [[Kernel.Merge]], on [[Ranged]]'s range layout: rows are
    * range-partitioned on (keys, order), so a hot group's ordered run
    * spreads over several partitions instead of one task. Pass 1 folds
    * each partition's last run; the driver chains these edges
    * into a seed for every partition's first run; pass 2 folds each
    * group from its seed and emits it in the partition where it ends.
    * Lawful only because the kernel declared mergeability (never applied
    * silently to sequential kernels). Any orderable ordering columns
    * work; null ordering values sort first, as in [[groupFold]].
    *
    * `buckets > 0` is the number of range partitions; `buckets <= 0`
    * (the default) takes the session's shuffle partitions, which
    * adaptive execution may coalesce. One partition skips pass 1. */
  def groupFoldMergeable[A](
      df: DataFrame,
      keyCols: Seq[String],
      valueCols: Seq[String],
      orderCols: Seq[String],
      k: Kernel.Fold[A],
      resultType: DataType,
      resultName: String = "fold",
      buckets: Int = 0,
      emit: A => Any = (a: A) => a: Any): DataFrame = {
    val m = k.merge.getOrElse(throw new IllegalArgumentException(
      "groupFoldMergeable requires a kernel with a declared Merge law; use groupFold for sequential kernels"))
    require(keyCols.nonEmpty && valueCols.nonEmpty && orderCols.nonEmpty)
    fold(df, keyCols, valueCols, orderCols, k, resultType, resultName, emit, Some(buckets -> m))
  }

  /** Skew-resistant per-group SCAN for kernels with a lawful
    * [[Kernel.Merge]] — the scan twin of [[groupFoldMergeable]] on the
    * same range layout: a hot group's scan spreads over several range
    * partitions, each re-scanned from the exact prefix state its first
    * run inherits. Null ordering values sort first, matching
    * [[groupScan]]'s sort; `buckets` as in [[groupFoldMergeable]]. */
  def groupScanMergeable[A](
      df: DataFrame,
      keyCols: Seq[String],
      valueCols: Seq[String],
      orderCols: Seq[String],
      k: Kernel.Scan[A],
      resultType: DataType,
      resultName: String = "scan",
      buckets: Int = 0): DataFrame = {
    val m = k.merge.getOrElse(throw new IllegalArgumentException(
      "groupScanMergeable requires a kernel with a declared Merge law; use groupScan for sequential kernels"))
    require(keyCols.nonEmpty && valueCols.nonEmpty && orderCols.nonEmpty)
    scan(df, keyCols, valueCols, orderCols, k, resultType, resultName, Some(buckets -> m))
  }

  /** Per-group ordered scan → one row per input row:
    * (keyCols..., orderCols..., resultName). Scan null policy: a null row
    * emits null and does not advance that group's accumulator. */
  def groupScan[A](
      df: DataFrame,
      keyCols: Seq[String],
      valueCols: Seq[String],
      orderCols: Seq[String],
      k: Kernel.Scan[A],
      resultType: DataType,
      resultName: String = "scan"): DataFrame = {
    require(keyCols.nonEmpty, "at least one group key is required")
    require(valueCols.nonEmpty, "at least one scanned column is required")
    scan(df, keyCols, valueCols, orderCols, k, resultType, resultName, None)
  }

  /** The narrow projection every group shape walks — keys, order, values —
    * with each column's index in it. Output fields are read from it by
    * position, so names resolve as Spark resolves them (case-insensitively
    * by default). */
  private final class Proj(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String], valueCols: Seq[String]) {
    private val selCols = (keyCols ++ orderCols ++ valueCols).distinct
    val sel: DataFrame = df.select(selCols.map(col): _*)
    val keyIdx: Array[Int] = keyCols.map(selCols.indexOf).toArray
    val valIdx: Array[Int] = valueCols.map(selCols.indexOf).toArray
    /** The ordering columns that are not keys, as the scans emit them. */
    val outOrdIdx: Array[Int] = orderCols.filterNot(keyCols.contains).map(selCols.indexOf).toArray
    def fields(idx: Array[Int]): Seq[StructField] = idx.toSeq.map(sel.schema.fields(_))
    /** Hash partitions on the keys without a merge, else range partitions. */
    def layout[A](k: Kernel.Stepper[A], range: Option[(Int, Kernel.Merge[A])]): Ranged.Layout[A] =
      range.fold[Ranged.Layout[A]](Ranged.Hashed(keyCols)) { case (b, m) =>
        Ranged.Range(b, Ranged.kernelLaw(k, m, valIdx))
      }
  }

  /** [[groupFold]] (`range` None) and [[groupFoldMergeable]] (`range` =
    * its bucket count and merge law). */
  private def fold[A](df: DataFrame, keyCols: Seq[String], valueCols: Seq[String], orderCols: Seq[String],
      k: Kernel.Fold[A], resultType: DataType, resultName: String, emit: A => Any,
      range: Option[(Int, Kernel.Merge[A])]): DataFrame = {
    val p = new Proj(df, keyCols, orderCols, valueCols)
    val valIdx = p.valIdx
    // a commutative kernel on hash partitions needs its groups contiguous, not ordered
    val sortCols = if (range.isEmpty && k.merge.exists(_.commutative)) keyCols else keyCols ++ orderCols
    Ranged(p.sel, sortCols, p.keyIdx, p.layout(k, range), k.init,
      StructType(p.fields(p.keyIdx) :+ StructField(resultName, resultType, nullable = true))) {
      (key, from, run, continues) =>
        if (continues) Iterator.empty else Iterator.single(Row.fromSeq(key :+ emit(Runs.fold(k, from, run, valIdx))))
    }
  }

  /** [[groupScan]] (`range` None) and [[groupScanMergeable]]. */
  private def scan[A](df: DataFrame, keyCols: Seq[String], valueCols: Seq[String], orderCols: Seq[String],
      k: Kernel.Scan[A], resultType: DataType, resultName: String, range: Option[(Int, Kernel.Merge[A])]): DataFrame = {
    val p = new Proj(df, keyCols, orderCols, valueCols)
    val (valIdx, outOrdIdx) = (p.valIdx, p.outOrdIdx)
    Ranged(p.sel, keyCols ++ orderCols, p.keyIdx, p.layout(k, range), k.init,
      StructType(p.fields(p.keyIdx) ++ p.fields(outOrdIdx) :+ StructField(resultName, resultType, nullable = true))) {
      (key, from, run, _) =>
        Runs.scan(k, from, run, valIdx)((r, v) => Row.fromSeq(key ++ Runs.values(r, outOrdIdx) :+ v))
    }
  }
}
