package graft.plumba

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** The engine behind every ordered partition walk: every [[GroupOps]]
  * shape, both [[CollectOps.collectScan]] paths, the mergeable
  * [[CollectOps.collectFold]] over many partitions and both
  * [[graft.operators.AsofJoin]] joins. A walk lays its rows out, sorts
  * each partition on `keys ++ order`, splits it into key runs
  * ([[Runs.runs]]) and walks each run from a seed. The [[Layout]] says
  * where the rows go: [[One]] partition (a sequential walk of the whole
  * frame), [[Hashed]] partitions on the keys (a key's whole run in one
  * partition, the secondary-sort pattern), or
  * [[Range]] partitions on `keys ++ order` (a hot key's run may straddle
  * several partitions; each stays one sorted stretch of the global
  * order). On [[One]] and [[Hashed]] every run starts from `init` and the
  * walk stays a lazy `Dataset.mapPartitions`: building it runs no job.
  * Every other row a walk or fold reads, here and in the one-partition
  * [[CollectOps.collectFold]], leaves a plan the call has already built
  * ([[rows]]): one plan per call, no second `QueryExecution` for a
  * deserializer.
  *
  * Only [[Range]] carries an edge [[Law]]. It takes the sorted frame's rows
  * once ([[rows]]: one plan, read from its `toRdd`) and runs both passes
  * over that same RDD object: one partition layout, one set of shuffle
  * files, no checkpoint.
  *  1. Only when the RDD has more than one partition: each partition
  *     reports its edges — first key, last key, run count, and the last
  *     run's state as [[AccCodec]] bytes: folded from `init` where the
  *     sequential walk starts it ([[startsFresh]]), else from the neutral
  *     state as a partial. The driver chains these O(partitions) edges
  *     into a seed for each partition's first run and a flag saying
  *     whether the partition's last run continues into the next
  *     non-empty partition. Keys compare with [[Runs]]' grouping equality.
  *  2. The returned DataFrame: each partition walks its key runs, the
  *     first one from its seed and every other from `init`.
  *
  * Correct for any state whose [[Law]] satisfies the [[Kernel.Merge]] split
  * law: a seed is exactly the state the sequential walk reaches at the
  * partition edge. The partition count only affects balance. */
private[graft] object Ranged {

  /** How a range-partitioned walk stitches its partition edges: `fold`
    * folds one stretch of a key run from a state (`neutral` for a partial),
    * and `combine` appends a later stretch's partial to an earlier state. */
  final case class Law[A](neutral: A, fold: (A, Iterator[Row]) => A, combine: (A, A) => A)

  /** The law of a mergeable kernel: it folds under the fold null policy
    * and combines with its merge. */
  def kernelLaw[A](k: Kernel.Stepper[A], m: Kernel.Merge[A], valIdx: Array[Int]): Law[A] =
    Law(m.neutral, Runs.fold(k, _, _, valIdx), m.combine)

  /** Where a walk's rows go; only [[Range]] splits a key run, so only it
    * carries the edge law that stitches the pieces. */
  sealed trait Layout[+A]
  /** Every row in one partition. */
  case object One extends Layout[Nothing]
  /** Hash partitions on `keys`. */
  final case class Hashed(keys: Seq[String]) extends Layout[Nothing]
  /** `buckets > 0` range partitions; `buckets <= 0` takes `orderBy`'s, the
    * session's shuffle partitions (adaptive execution may coalesce them). */
  final case class Range[A](buckets: Int, law: Law[A]) extends Layout[A]

  /** What pass 1 reports for one non-empty partition. */
  private[plumba] final case class Edges(first: IndexedSeq[Any], last: IndexedSeq[Any], runs: Int, lastAcc: Array[Byte])

  /** What pass 2 needs for one partition: its first run's seed (null:
    * start from `init`), its run count, and whether its last run
    * continues into a later partition. */
  private[plumba] final case class Seed(acc: Array[Byte], runs: Int, lastContinues: Boolean)
  private val Unseeded = Seed(null, 0, lastContinues = false)

  /** Lay `df` out, sort each partition on `sortCols` (the key columns
    * first, at `keyIdx`, then the order) and walk its key runs.
    * `body(key, seed, run, continues)` emits the rows of one run walked
    * from `seed`; `continues` is true for the last run of a range
    * partition whose key goes on in a later partition (a fold emits that
    * key where it ends). */
  def apply[A](df: DataFrame, sortCols: Seq[String], keyIdx: Array[Int], layout: Layout[A], init: A,
      outSchema: StructType)(body: (IndexedSeq[Any], A, Iterator[Row], Boolean) => Iterator[Row]): DataFrame = {
    val order = sortCols.map(col)
    def walkLazily(parted: DataFrame): DataFrame = parted.sortWithinPartitions(order: _*)
      .mapPartitions(walk(_, keyIdx, init, Unseeded, body))(Encoders.row(outSchema))
    layout match {
      case One => walkLazily(df.repartition(1))
      case Hashed(keys) => walkLazily(df.repartition(keys.map(col): _*))
      case Range(buckets, law: Law[A @unchecked]) =>
        val sorted =
          if (buckets > 0) df.repartitionByRange(buckets, order: _*).sortWithinPartitions(order: _*)
          else df.orderBy(order: _*)
        val sortedRows = rows(sorted)
        val seeds = if (sortedRows.getNumPartitions <= 1) Array.empty[Seed]
          else chain(edges(sortedRows, keyIdx, init, law), init, law)._1
        df.sparkSession.createDataFrame(sortedRows.mapPartitionsWithIndex { (i, it) =>
          walk(it, keyIdx, init, if (i < seeds.length) seeds(i) else Unseeded, body)
        }, outSchema)
    }
  }

  /** The state a sequential walk of every row of `df` ends in, each of its
    * partitions being the next stretch of one run: pass 1 with an empty
    * key, then the chain's final carry. Partition 0 folds from `init`, so
    * over one partition the result is the sequential fold's, bit for bit. */
  def carry[A](df: DataFrame, init: A, law: Law[A]): A = chain(edges(rows(df), Array.empty, init, law), init, law)._2

  /** The rows of `df` with the values `collect()` gives, read from the
    * plan `df` has already built: its `queryExecution.toRdd`, each row
    * deserialized in the task by the `Row` encoder of `df.schema`, made
    * under `df`'s session conf (which picks `java.time` or `java.sql`
    * values). No second `QueryExecution` and no `DeserializeToObject`
    * plan. Each row is deserialized before anything buffers it, as `toRdd`
    * may reuse one `UnsafeRow` for every row of a partition. */
  private[plumba] def rows(df: DataFrame): RDD[Row] = {
    val enc = SQLConf.withExistingConf(df.sparkSession.sessionState.conf)(ExpressionEncoder(df.schema))
    val fromRow = enc.resolveAndBind().createDeserializer()
    df.queryExecution.toRdd.mapPartitions(_.map(fromRow))
  }

  /** Walk one partition's key runs, the first from the seed's state. */
  private def walk[A](it: Iterator[Row], keyIdx: Array[Int], init: A, s: Seed,
      body: (IndexedSeq[Any], A, Iterator[Row], Boolean) => Iterator[Row]): Iterator[Row] = {
    var n = 0
    Runs.runs(it, keyIdx).flatMap { case (key, run) =>
      val from = if (n == 0 && s.acc != null) AccCodec.deser[A](s.acc) else init
      n += 1
      body(key, from, run, s.lastContinues && n == s.runs)
    }
  }

  /** Whether partition `i`'s `runs`-th run starts where the sequential
    * walk starts it from `init`: inside the partition, or at the start of
    * partition 0. A partition's first run elsewhere may go on from an
    * earlier partition. */
  private def startsFresh(i: Int, runs: Int): Boolean = i == 0 || runs > 1

  /** Pass 1: the edges of every partition, indexed by partition (None when empty). */
  private def edges[A](rows: RDD[Row], keyIdx: Array[Int], init: A, law: Law[A]): Array[Option[Edges]] = {
    val out = Array.fill[Option[Edges]](rows.getNumPartitions)(None)
    rows.mapPartitionsWithIndex { (i, it) =>
      var first, last: IndexedSeq[Any] = null
      var lastAcc: Any = null
      var n = 0
      // which run is the last is only known once it is consumed: fold each
      Runs.runs(it, keyIdx).foreach { case (k, run) =>
        if (n == 0) first = k
        last = k
        n += 1
        lastAcc = law.fold(if (startsFresh(i, n)) init else law.neutral, run)
      }
      if (n == 0) Iterator.empty else Iterator(i -> Edges(first, last, n, AccCodec.ser(lastAcc)))
    }.collect().foreach { case (i, e) => out(i) = Some(e) }
    out
  }

  /** The driver's chain over the edges: a partition's first run is seeded
    * with the state the previous non-empty partition ends in when both
    * hold the same key, and that previous partition's last run is marked
    * as continuing. Also returns the state the last non-empty partition
    * ends in (`init` when every partition is empty). */
  private[plumba] def chain[A](edges: Array[Option[Edges]], init: A, law: Law[A]): (Array[Seed], A) = {
    val seeds = Array.fill(edges.length)(Unseeded)
    var prev = -1
    var carry = init
    for (i <- edges.indices; e <- edges(i)) {
      val continues = prev >= 0 && Runs.sameKey(edges(prev).get.last, e.first)
      val from = if (continues) carry else init
      if (continues) seeds(prev) = seeds(prev).copy(lastContinues = true)
      seeds(i) = Seed(if (continues) AccCodec.ser(from) else null, e.runs, lastContinues = false)
      // a last run folded from init is already the state; a partial extends the carried one
      val last = AccCodec.deser[A](e.lastAcc)
      carry = if (startsFresh(i, e.runs)) last else law.combine(from, last)
      prev = i
    }
    (seeds, carry)
  }
}
