package graft.operators

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.plumba.Ranged

/** Distributed LEFT AS-OF JOIN — for every left row, the payload of the
  * LATEST right row with the same keys and time <= left time (or
  * strictly <, with `strict = true`). The classic time-series join Spark
  * has no native operator for (point-in-time feature lookup, "state as
  * of event time").
  *
  * Built on this library's own ordered walk ([[graft.plumba.Ranged]])
  * instead of a join: tag both inputs, UNION them, lay the union out on
  * the keys, sort each partition by (keys, time, side-flag, tie-breaks)
  * and run one streaming pass that carries the last-seen right payload
  * per key. [[asofLast]] uses the hash layout — exactly the
  * [[graft.plumba.GroupOps]] secondary-sort pattern. Cost is one shuffle
  * of |left| + |right| rows and a pipelined sort: no row explosion, no
  * per-key windowing over a joined product, and a group never has to fit
  * in memory. At 100 TB both sides co-partition on the keys; for a HOT
  * key (one instrument carrying a large fraction of all rows) use
  * [[asofLastSalted]], the same walk on the range layout over (keys,
  * time), so that key's timeline spreads over many tasks. Keys compare
  * with Spark's grouping equality (binary by content, NaN equal to NaN)
  * through [[graft.plumba.Runs]].
  *
  * Determinism contract: when several right rows share (keys, time), the
  * carried payload is the LAST in `rightTieBreak` order (supply
  * tie-break columns, or pre-aggregate the right side to unique
  * (keys, time) — the catalog query does the latter, which is also what
  * makes the DuckDB `ASOF JOIN` oracle exact).
  *
  * Output columns: keyCols, timeCol, the remaining left columns, then
  * one `asof_<payload>` column per requested right payload (null when no
  * right row precedes).
  */
object AsofJoin {

  /** Where the carry reads a row of the tagged union: the side flag, the
    * right payload columns and the left output columns. */
  private final case class Tagged(flagIdx: Int, payloadIdx: Array[Int], leftOutIdx: Array[Int]) {
    private def isRight(r: Row): Boolean = r.getInt(flagIdx) != 1
    private def payload(r: Row): Array[Any] = payloadIdx.map(r.get)

    /** The last right payload of `run` (last-in-order wins), or `from`
      * when it holds no right row. */
    def lastRight(from: Array[Any], run: Iterator[Row]): Array[Any] = {
      var last: Row = null
      run.foreach(r => if (isRight(r)) last = r)
      if (last == null) from else payload(last)
    }

    /** Walk one key's run carrying `from`: a right row replaces the
      * carried payload, a left row emits with it (nulls when none). */
    def carry(from: Array[Any], run: Iterator[Row]): Iterator[Row] = {
      var last = from
      run.flatMap { r =>
        if (isRight(r)) { last = payload(r); Iterator.empty }
        else {
          val pay = if (last == null) new Array[Any](payloadIdx.length) else last
          Iterator.single(Row.fromSeq(ArraySeq.unsafeWrapArray(leftOutIdx.map(r.get) ++ pay)))
        }
      }
    }
  }

  def asofLast(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      timeCol: String,
      payloadCols: Seq[String],
      rightTieBreak: Seq[String] = Nil,
      strict: Boolean = false,
      outPrefix: String = "asof_"): DataFrame =
    join(left, right, keyCols, timeCol, payloadCols, rightTieBreak, strict, outPrefix)(_ => Ranged.Hashed(keyCols))

  /** SKEW-RESISTANT as-of join — same semantics as [[asofLast]], on
    * [[graft.plumba.Ranged]]'s range layout: the tagged union is
    * range-partitioned on (keys, time, side flag, tie-breaks), so a hot
    * key's timeline spreads over several tasks instead of one. The
    * carried state is the last right payload, and its merge is "the later
    * stretch's payload wins if it has one": pass 1 reports each
    * partition's last key run's last right payload, the driver chains
    * them into the payload each partition's first run inherits, and pass
    * 2 runs [[asofLast]]'s carry from that seed. The seed is exactly the
    * carry state [[asofLast]] reaches at the partition edge, wherever the
    * range boundaries fall, so equal times on both sides of an edge need
    * no special routing. Null times sort first, as in the unsalted sort;
    * the time column may be any orderable type.
    *
    * `buckets > 0` is the number of range partitions; `buckets <= 0`
    * (the default) takes the session's shuffle partitions, which
    * adaptive execution may coalesce. */
  def asofLastSalted(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      timeCol: String,
      payloadCols: Seq[String],
      rightTieBreak: Seq[String] = Nil,
      strict: Boolean = false,
      outPrefix: String = "asof_",
      buckets: Int = 0): DataFrame =
    join(left, right, keyCols, timeCol, payloadCols, rightTieBreak, strict, outPrefix) { t =>
      Ranged.Range(buckets, Ranged.Law[Array[Any]](null, t.lastRight, (l, r) => if (r != null) r else l))
    }

  /** Both joins: a tagged union with identical layout from both sides —
    * keys, time, leftRest (null on right rows), payloads (null on left
    * rows), flag — walked per key on `layout`. Right rows flag 0 sort
    * BEFORE left rows (flag 1) at equal time -> inclusive (<=); strict
    * mode flags right 2 -> after. Field types and indices come from the
    * projections by position, and the left columns that are neither keys
    * nor time come from `drop`, so names resolve as Spark resolves them. */
  private def join(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      timeCol: String,
      payloadCols: Seq[String],
      rightTieBreak: Seq[String],
      strict: Boolean,
      outPrefix: String)(layout: Tagged => Ranged.Layout[Array[Any]]): DataFrame = {
    require(keyCols.nonEmpty, "at least one join key is required")
    require(payloadCols.nonEmpty, "at least one right payload column is required")
    require(rightTieBreak.forall(payloadCols.contains),
      "tie-break columns must be included in payloadCols (they ride the union as payload)")
    val head = left.select((keyCols :+ timeCol).map(col): _*).schema.fields
    val leftRest = left.drop((keyCols :+ timeCol): _*).schema.fields
    val leftOut = head ++ leftRest
    val pay = right.select(payloadCols.map(col): _*).schema.fields
    val pName = payloadCols.map(c => s"__p_$c")

    val lp = left.select((keyCols :+ timeCol).map(col) ++ leftRest.map(f => col(f.name)) ++
      pay.zip(pName).map { case (f, n) => lit(null).cast(f.dataType).as(n) } :+ lit(1).as("__flag"): _*)
    val rp = right.select((keyCols :+ timeCol).map(col) ++ leftRest.map(f => lit(null).cast(f.dataType).as(f.name)) ++
      payloadCols.zip(pName).map { case (c, n) => col(c).as(n) } :+ lit(if (strict) 2 else 0).as("__flag"): _*)

    val tagged = Tagged(
      flagIdx = leftOut.length + pay.length,
      payloadIdx = Array.range(leftOut.length, leftOut.length + pay.length),
      leftOutIdx = leftOut.indices.toArray)
    val outSchema = StructType(leftOut ++
      pay.zip(payloadCols).map { case (f, c) => StructField(s"$outPrefix$c", f.dataType, nullable = true) })
    Ranged(lp.union(rp), (keyCols :+ timeCol :+ "__flag") ++ rightTieBreak.map(c => s"__p_$c"),
      keyCols.indices.toArray, layout(tagged), null, outSchema)((_, from, run, _) => tagged.carry(from, run))
  }
}
