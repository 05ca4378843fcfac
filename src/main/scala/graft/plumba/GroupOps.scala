package graft.plumba

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Per-group ordered fold/scan — the Spark-native counterpart of the
  * reference's `group_by("user").agg(expr.plumba.fold/scan(...))`
  * (reference: examples_fold.py:81–97, examples_scan.py:64–82).
  *
  * This is the reference's own scaling story made distributed: parallelism
  * *across* groups (unbounded group count spread over executors),
  * strictly sequential order *within* a group (SURVEY §7.4). Implemented
  * with the secondary-sort pattern — `repartition(keys)` +
  * `sortWithinPartitions(keys, order)` + a single streaming pass with
  * group-change detection — so a group never has to fit in memory and no
  * per-group shuffle or `collect_list` buffer is built. At 100 TB this is
  * one hash shuffle on the group keys followed by pipelined, spill-aware
  * sorting; for skewed groups with mergeable kernels use
  * [[groupFoldMergeable]] (range-salted partials).
  */
object GroupOps {

  /** Range-bucket column for the salted fold/scan paths: a monotone
    * numeric view of the leading ordering column cut at sampled quantile
    * boundaries. Shared by [[groupFoldMergeable]] / [[groupScanMergeable]].
    *
    * `buckets <= 0` (the default) derives the count from the cluster:
    * `max(2, defaultParallelism)` — a skewed group can then spread over
    * every core, with no magic constant to retune per deployment.
    *
    * Boundaries come from `approxQuantile` over a BOUNDED random sample
    * (5%, fixed seed; full frame when the sample is empty) — the sketch's
    * memory is epsilon-bounded regardless of input size, and boundary
    * precision only affects load BALANCE: any monotone boundaries are
    * correct because equal order values always compare into the same
    * bucket and nulls route to bucket 0 (nulls-first, matching the
    * sequential paths' ascending sort). */
  private[graft] def rangeBucketCol(df: DataFrame, orderHead: String, buckets: Int): Column = {
    import org.apache.spark.sql.functions.{lit, when}
    val ordD = df.schema(orderHead).dataType match {
      case DateType | TimestampType | TimestampNTZType =>
        col(orderHead).cast(TimestampType).cast("long").cast("double")
      case _ => col(orderHead).cast("double")
    }
    val nBuckets =
      if (buckets > 0) buckets
      else math.max(2, df.sparkSession.sparkContext.defaultParallelism)
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    // one quantile job over the bounded sample; an empty sample (tiny or
    // all-null frame) yields NO boundaries, and only then does the full
    // frame pay the sketch pass — no separate isEmpty pre-action
    val sampled = df.select(ordD.as("__ordd")).sample(withReplacement = false, 0.05, seed = 42)
    val fromSample = sampled.stat.approxQuantile("__ordd", probs, 0.01)
    val boundaries = (if (fromSample.nonEmpty) fromSample
      else df.select(ordD.as("__ordd")).stat.approxQuantile("__ordd", probs, 0.01))
      .distinct.sorted
    // NULL ordering values sort FIRST under Spark's ascending
    // sortWithinPartitions (the sequential paths), so route them to
    // bucket 0 explicitly — `ordD < b` is null for null ordD and would
    // otherwise fall through to the LAST bucket, reordering the fold
    // relative to groupFold for order-sensitive mergeable kernels.
    when(ordD.isNull, 0).otherwise(
      boundaries.zipWithIndex.foldRight(lit(boundaries.length): Column) {
        case ((b, i), rest) => when(ordD < b, i).otherwise(rest)
      })
  }

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
    val selCols = (keyCols ++ orderCols ++ valueCols).distinct
    val sel = df.select(selCols.map(col): _*)
    val keyIdx = keyCols.map(selCols.indexOf).toArray
    val valIdx = valueCols.map(selCols.indexOf).toArray
    val outSchema = StructType(
      keyCols.map(c => sel.schema(selCols.indexOf(c))) :+
        StructField(resultName, resultType, nullable = true))
    val sortCols = if (k.merge.exists(_.commutative)) keyCols else keyCols ++ orderCols
    sel
      .repartition(keyCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .mapPartitions { it =>
        Runs.runs(it, keyIdx).map { case (key, run) =>
          Row.fromSeq(key :+ emit(Runs.fold(k, k.init, run, valIdx)))
        }
      }(Encoders.row(outSchema))
  }

  /** Stage 1 of both range-salted paths: one partial per (group, range
    * bucket), folded from `neutral` under the fold null policy, as
    * (keyCols..., __bucket, __acc) with the accumulator in [[AccCodec]]
    * bytes. `withB` is the `selCols` projection with `__bucket` appended. */
  private def bucketPartials[A](
      withB: DataFrame,
      selCols: Seq[String],
      keyCols: Seq[String],
      valueCols: Seq[String],
      orderCols: Seq[String],
      k: Kernel.Stepper[A],
      m: Kernel.Merge[A]): DataFrame = {
    val runKey = (keyCols.map(selCols.indexOf) :+ selCols.length).toArray
    val valIdx = valueCols.map(selCols.indexOf).toArray
    val partialSchema = StructType(
      keyCols.map(c => withB.schema(c)) ++
        Seq(StructField("__bucket", IntegerType), StructField("__acc", BinaryType)))
    withB
      .repartition((keyCols :+ "__bucket").map(col): _*)
      .sortWithinPartitions((keyCols ++ Seq("__bucket") ++ orderCols).map(col): _*)
      .mapPartitions { it =>
        Runs.runs(it, runKey).map { case (gk, run) =>
          Row.fromSeq(gk :+ AccCodec.ser(Runs.fold(k, m.neutral, run, valIdx)))
        }
      }(Encoders.row(partialSchema))
  }

  /** Skew-resistant per-group fold for kernels with a lawful
    * [[Kernel.Merge]]: the ordering domain is cut into `buckets`
    * contiguous ranges (boundaries from one `approxQuantile` sample
    * pass), each (group, range) folds a partial in parallel, and per
    * group the partials merge in range order. A hot group's work spreads
    * over up to `buckets` tasks instead of one — the salting strategy
    * for ordered folds at scale, lawful only because the kernel declared
    * mergeability (never applied silently to sequential kernels).
    *
    * Correctness of the range salt: buckets are intervals of the leading
    * ordering column, so within any group a bucket holds a contiguous
    * run of that group's ordered rows, and rows with equal leading-order
    * values (tie classes) land in one bucket together. Boundary
    * *accuracy* only affects balance, never correctness. The leading
    * ordering column must be numeric (quantile-sampleable). Partial
    * accumulators travel as [[AccCodec]] bytes (small: one per
    * (group, range)). */
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
    val selCols = (keyCols ++ orderCols ++ valueCols).distinct
    val nKeys = keyCols.length

    // Round-21: checkpoint the narrow projection, then derive bucket
    // boundaries from the cached rows — rangeBucketCol's approxQuantile
    // sample pass otherwise scans the source once more than needed
    // (boundaries affect only balance, never results)
    val selDf = df.select(selCols.map(col): _*).localCheckpoint(true)
    val withB = selDf.withColumn("__bucket", rangeBucketCol(selDf, orderCols.head, buckets))

    val outSchema = StructType(
      keyCols.map(c => df.schema(c)) :+ StructField(resultName, resultType, nullable = true))
    bucketPartials(withB, selCols, keyCols, valueCols, orderCols, k, m)
      .repartition(keyCols.map(col): _*)
      .sortWithinPartitions((keyCols :+ "__bucket").map(col): _*)
      .mapPartitions { it =>
        Runs.runs(it, Array.range(0, nKeys)).map { case (key, run) =>
          var acc = m.neutral
          run.foreach(r => acc = m.combine(acc, AccCodec.deser[A](r.getAs[Array[Byte]](nKeys + 1))))
          Row.fromSeq(key :+ emit(m.combine(k.init, acc)))
        }
      }(Encoders.row(outSchema))
  }

  /** Skew-resistant per-group SCAN for kernels with a lawful
    * [[Kernel.Merge]] — completes the operator matrix next to
    * [[groupFoldMergeable]]: a hot group's scan spreads over up to
    * `buckets` contiguous order-range tasks instead of one.
    *
    * Three stages, two shuffles:
    *  1. per-(group, range-bucket) segment folds (parallel, from
    *     `neutral`, null rows skip) — same as the fold path;
    *  2. per group, prefix-combine the bucket partials in bucket order
    *     → one SEED accumulator per (group, bucket), emitted as
    *     sentinel rows (O(groups × buckets) total, no per-row
    *     duplication);
    *  3. union seeds with the data rows, shuffle once on
    *     (group, bucket), secondary-sort with the seed flag ahead of
    *     the ordering columns so each (group, bucket) run begins with
    *     its seed, then a single streaming pass re-scans every bucket
    *     from its seed.
    *
    * Null ordering values route to bucket 0 (nulls-first ascending,
    * matching [[groupScan]]'s sort). Lawful for the same reason as the
    * two-pass whole-frame scan: seeds are exact prefix states. */
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
    import org.apache.spark.sql.functions.lit
    val selCols = (keyCols ++ orderCols ++ valueCols).distinct
    val nKeys = keyCols.length

    // consumed twice (stage-1 partials + stage-3 data rows): materialize
    // once via localCheckpoint — unlike persist(), whose CacheManager
    // entry would outlive the call (one leaked cached plan per
    // invocation in a long-lived session), checkpoint blocks are
    // reference-tracked and dropped by the ContextCleaner when this
    // DataFrame becomes unreachable. Round-21: checkpoint the NARROW
    // projection first and derive the bucket boundaries from the cached
    // rows — the approxQuantile sample pass otherwise re-scans the
    // source before the checkpoint scans it again. The bucket
    // when-chain re-evaluates per consumer (cheap) instead of being
    // stored; boundaries affect only balance, never results.
    val selDf = df.select(selCols.map(col): _*).localCheckpoint(true)
    val withB = selDf.withColumn("__bucket", rangeBucketCol(selDf, orderCols.head, buckets))

    // stage 1: segment partials per (group, bucket)
    val partials = bucketPartials(withB, selCols, keyCols, valueCols, orderCols, k, m)

    // stage 2: per group, prefix over bucket partials -> seed per bucket
    val seeds = partials
      .repartition(keyCols.map(col): _*)
      .sortWithinPartitions((keyCols :+ "__bucket").map(col): _*)
      .mapPartitions { it =>
        Runs.runs(it, Array.range(0, nKeys)).flatMap { case (key, run) =>
          var acc = k.init
          run.map { r =>
            val seed = Row.fromSeq(key :+ r.get(nKeys) :+ AccCodec.ser(acc)) // seed BEFORE this bucket
            acc = m.combine(acc, AccCodec.deser[A](r.getAs[Array[Byte]](nKeys + 1)))
            seed
          }
        }
      }(Encoders.row(partials.schema))

    // stage 3: union sentinel seed rows ahead of data rows, one shuffle,
    // one streaming re-scan pass
    val dataRows = withB
      .withColumn("__seed", lit(null).cast(BinaryType))
      .withColumn("__flag", lit(1))
    val seedRows = seeds
      .select(
        (keyCols.map(col) :+ col("__bucket")) ++
          selCols.filterNot(keyCols.contains).map(c => lit(null).cast(df.schema(c).dataType).as(c)) :+
          col("__acc").as("__seed") :+ lit(0).as("__flag"): _*)
      .select((selCols.map(col) :+ col("__bucket") :+ col("__seed") :+ col("__flag")): _*)
    val runKey = (keyCols.map(selCols.indexOf) :+ selCols.length).toArray // keys, __bucket
    val valIdx = valueCols.map(selCols.indexOf).toArray
    val outOrdIdx = orderCols.filterNot(keyCols.contains).map(selCols.indexOf).toArray
    val outSchema = StructType(
      keyCols.map(c => df.schema(c)) ++
        orderCols.filterNot(keyCols.contains).map(c => df.schema(c)) :+
        StructField(resultName, resultType, nullable = true))
    val sIdx = selCols.length + 1 // __seed position
    val fIdx = selCols.length + 2 // __flag position
    dataRows.select((selCols.map(col) :+ col("__bucket") :+ col("__seed") :+ col("__flag")): _*)
      .union(seedRows)
      .repartition((keyCols :+ "__bucket").map(col): _*)
      .sortWithinPartitions(
        (keyCols.map(col) :+ col("__bucket") :+ col("__flag")) ++ orderCols.map(col): _*)
      .mapPartitions { it =>
        Runs.runs(it, runKey).flatMap { case (gk, run) =>
          // the seed sentinel sorts first and opens its (group, bucket)
          val rows = run.buffered
          val from =
            if (rows.head.getInt(fIdx) == 0) AccCodec.deser[A](rows.next().getAs[Array[Byte]](sIdx))
            else k.init
          val key = gk.take(nKeys)
          Runs.scan(k, from, rows, valIdx)((r, v) => Row.fromSeq(key ++ Runs.values(r, outOrdIdx) :+ v))
        }
      }(Encoders.row(outSchema))
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
    val selCols = (keyCols ++ orderCols ++ valueCols).distinct
    val sel = df.select(selCols.map(col): _*)
    val keyIdx = keyCols.map(selCols.indexOf).toArray
    val valIdx = valueCols.map(selCols.indexOf).toArray
    val outOrdIdx = orderCols.filterNot(keyCols.contains).map(selCols.indexOf).toArray
    val outSchema = StructType(
      keyCols.map(c => sel.schema(selCols.indexOf(c))) ++
        orderCols.filterNot(keyCols.contains).map(c => sel.schema(selCols.indexOf(c))) :+
        StructField(resultName, resultType, nullable = true))
    sel
      .repartition(keyCols.map(col): _*)
      .sortWithinPartitions((keyCols ++ orderCols).map(col): _*)
      .mapPartitions { it =>
        Runs.runs(it, keyIdx).flatMap { case (key, run) =>
          Runs.scan(k, k.init, run, valIdx)((r, v) => Row.fromSeq(key ++ Runs.values(r, outOrdIdx) :+ v))
        }
      }(Encoders.row(outSchema))
  }
}
