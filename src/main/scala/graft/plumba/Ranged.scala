package graft.plumba

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The range-partitioned two-pass engine behind every mergeable ordered
  * path: [[GroupOps.groupFoldMergeable]], [[GroupOps.groupScanMergeable]],
  * the mergeable [[CollectOps.collectScan]] and
  * [[graft.operators.AsofJoin.asofLastSalted]].
  *
  * Rows are range-partitioned and sorted on `keys ++ order`, so a hot
  * key's ordered run may straddle several partitions while each
  * partition stays one sorted stretch of the global order. The sorted
  * frame's RDD is built once and both passes run over that same RDD
  * object: they share one partition layout and one set of shuffle files,
  * with no checkpoint.
  *
  *  1. Only when the RDD has more than one partition: each partition
  *     reports its edges — first key, last key, run count, and the last
  *     run's partial folded from the neutral state (as [[AccCodec]]
  *     bytes); a partition's first run needs no partial of its own, as
  *     it is either the last run too or ends inside the partition. The driver chains these O(partitions) edges
  *     into a seed for each partition's first run and a flag saying
  *     whether the partition's last run continues into the next
  *     non-empty partition. Keys compare with [[Runs]]' grouping
  *     equality.
  *  2. The returned DataFrame: each partition walks its key runs, the
  *     first one from its seed and every other from `init`, and `body`
  *     emits the run's rows.
  *
  * Correct for any state whose [[Law]] satisfies the [[Kernel.Merge]] split
  * law: a seed is exactly the state the sequential walk reaches at the
  * partition edge. The partition count only affects balance. */
private[graft] object Ranged {

  /** How an ordered walk threads its state: `init` opens a key,
    * `partial` folds one stretch of a key run from the neutral state, and
    * `combine` appends a later stretch's partial to an earlier state. */
  final case class Law[A](init: A, partial: Iterator[Row] => A, combine: (A, A) => A)

  /** The law of a mergeable kernel: partials fold from `neutral` under
    * the fold null policy and combine with its merge. */
  def kernelLaw[A](k: Kernel.Stepper[A], m: Kernel.Merge[A], valIdx: Array[Int]): Law[A] =
    Law(k.init, Runs.fold(k, m.neutral, _, valIdx), m.combine)

  /** What pass 1 reports for one non-empty partition. */
  private[plumba] final case class Edges(first: IndexedSeq[Any], last: IndexedSeq[Any], runs: Int, lastAcc: Array[Byte])

  /** What pass 2 needs for one partition: its first run's seed (null:
    * start from `init`), its run count, and whether its last run
    * continues into a later partition. */
  private[plumba] final case class Seed(acc: Array[Byte], runs: Int, lastContinues: Boolean)
  private val Unseeded = Seed(null, 0, lastContinues = false)

  /** Sort `df` on `sortCols` (the key columns first, at `keyIdx`, then the
    * order) and walk its key runs. `buckets > 0` range-partitions into
    * that many partitions; `buckets <= 0` uses `orderBy`, which takes the
    * session's shuffle partitions (adaptive execution may coalesce them).
    * `body(key, seed, run, continues)` emits the rows of one run walked
    * from `seed`; `continues` is true for the last run of a partition
    * whose key goes on in a later partition (a fold emits that key where
    * it ends). */
  def apply[A](df: DataFrame, sortCols: Seq[String], keyIdx: Array[Int], buckets: Int, law: Law[A],
      outSchema: StructType)(body: (IndexedSeq[Any], A, Iterator[Row], Boolean) => Iterator[Row]): DataFrame = {
    val order = sortCols.map(col)
    val sorted =
      if (buckets > 0) df.repartitionByRange(buckets, order: _*).sortWithinPartitions(order: _*)
      else df.orderBy(order: _*)
    val rows = sorted.rdd
    val seeds = if (rows.getNumPartitions <= 1) Array.empty[Seed] else chain(edges(rows, keyIdx, law), law)
    df.sparkSession.createDataFrame(
      rows.mapPartitionsWithIndex { (i, it) =>
        val s = if (i < seeds.length) seeds(i) else Unseeded
        var n = 0
        Runs.runs(it, keyIdx).flatMap { case (key, run) =>
          val from = if (n == 0 && s.acc != null) AccCodec.deser[A](s.acc) else law.init
          n += 1
          body(key, from, run, s.lastContinues && n == s.runs)
        }
      },
      outSchema)
  }

  /** Pass 1: the edges of every partition, indexed by partition (None when empty). */
  private def edges[A](rows: org.apache.spark.rdd.RDD[Row], keyIdx: Array[Int], law: Law[A]): Array[Option[Edges]] = {
    val out = Array.fill[Option[Edges]](rows.getNumPartitions)(None)
    rows.mapPartitionsWithIndex { (i, it) =>
      var first, last: IndexedSeq[Any] = null
      var lastAcc = law.init
      var n = 0
      // which run is the last is only known once it is consumed: fold each
      Runs.runs(it, keyIdx).foreach { case (k, run) =>
        if (n == 0) first = k
        last = k
        lastAcc = law.partial(run)
        n += 1
      }
      if (n == 0) Iterator.empty else Iterator(i -> Edges(first, last, n, AccCodec.ser(lastAcc)))
    }.collect().foreach { case (i, e) => out(i) = Some(e) }
    out
  }

  /** The driver's chain over the edges: a partition's first run is seeded
    * with the state the previous non-empty partition ends in when both
    * hold the same key, and that previous partition's last run is marked
    * as continuing. */
  private[plumba] def chain[A](edges: Array[Option[Edges]], law: Law[A]): Array[Seed] = {
    val seeds = Array.fill(edges.length)(Unseeded)
    var prev = -1
    var carry = law.init
    for (i <- edges.indices; e <- edges(i)) {
      val continues = prev >= 0 && Runs.sameKey(edges(prev).get.last, e.first)
      val from = if (continues) carry else law.init
      if (continues) seeds(prev) = seeds(prev).copy(lastContinues = true)
      seeds(i) = Seed(if (continues) AccCodec.ser(from) else null, e.runs, lastContinues = false)
      // a partition of one run extends the carried state; otherwise its last run starts inside it
      carry = law.combine(if (e.runs == 1) from else law.init, AccCodec.deser[A](e.lastAcc))
      prev = i
    }
    seeds
  }
}
