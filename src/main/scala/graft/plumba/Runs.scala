package graft.plumba

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.Row

/** The per-row and per-run mechanics of every ordered walk ([[Ranged]])
  * and of the sequential [[CollectOps.collectFold]]: reading a row's value
  * vector, the fold and scan null policies around `step`, and splitting a
  * sorted partition into contiguous key runs.
  * The plain-Scala [[Kernel.foldRows]] / [[Kernel.scanRows]] stay the
  * independent reference these loops are tested against. */
private[graft] object Runs {

  /** The values of `r` at `idx`, in a fresh vector per row: kernels and
    * [[SortedFoldAggregator]] may keep the sequence they are handed, so it
    * is never reused. */
  def values(r: Row, idx: Array[Int]): IndexedSeq[Any] = {
    val a = new Array[Any](idx.length)
    var i = 0
    while (i < a.length) { a(i) = r.get(idx(i)); i += 1 }
    ArraySeq.unsafeWrapArray(a)
  }

  /** Every value of `r`, in a fresh vector. */
  def rowValues(r: Row): IndexedSeq[Any] = {
    val a = new Array[Any](r.length)
    var i = 0
    while (i < a.length) { a(i) = r.get(i); i += 1 }
    ArraySeq.unsafeWrapArray(a)
  }

  /** Fold `rows` from `from` under the fold null policy: a row with a null
    * in any value column is skipped. */
  def fold[A](k: Kernel.Stepper[A], from: A, rows: Iterator[Row], valIdx: Array[Int]): A = {
    var acc = from
    while (rows.hasNext) {
      val vs = values(rows.next(), valIdx)
      if (!Kernel.anyNull(vs)) acc = k.step(acc, k.withArgs(vs))
    }
    acc
  }

  /** Scan `rows` from `from` under the scan null policy: a row with a null
    * in any value column emits null and leaves the accumulator untouched;
    * every other row advances it and emits `k.emit(acc)`. Each input row
    * yields `out(row, emitted)`. */
  def scan[A](k: Kernel.Scan[A], from: A, rows: Iterator[Row], valIdx: Array[Int])(
      out: (Row, Any) => Row): Iterator[Row] = {
    var acc = from
    rows.map { r =>
      val vs = values(r, valIdx)
      out(r, if (Kernel.anyNull(vs)) null else { acc = k.step(acc, k.withArgs(vs)); k.emit(acc) })
    }
  }

  /** Spark's grouping equality on key vectors: binary values equal by
    * content and NaN equal to NaN, also inside array and struct keys, as
    * `groupBy` and the sort that made the run contiguous see them (Scala
    * `==` compares byte arrays by reference and keeps NaN unequal to
    * itself; `Row.equals` compares nested arrays with `==`). */
  def sameKey(a: IndexedSeq[Any], b: IndexedSeq[Any]): Boolean = {
    var i = 0
    while (i < a.length && sameValue(a(i), b(i))) i += 1
    i == a.length
  }

  private def sameValue(a: Any, b: Any): Boolean = a match {
    case x: Array[Byte] => b.isInstanceOf[Array[Byte]] && java.util.Arrays.equals(x, b.asInstanceOf[Array[Byte]])
    case x: Double if x.isNaN => b.isInstanceOf[Double] && b.asInstanceOf[Double].isNaN
    case x: Float if x.isNaN => b.isInstanceOf[Float] && b.asInstanceOf[Float].isNaN
    case x: collection.Seq[_] =>
      b.isInstanceOf[collection.Seq[_]] && x.corresponds(b.asInstanceOf[collection.Seq[Any]])(sameValue)
    case x: Row =>
      b.isInstanceOf[Row] && x.length == b.asInstanceOf[Row].length &&
        (0 until x.length).forall(i => sameValue(x.get(i), b.asInstanceOf[Row].get(i)))
    case _ => a == b
  }

  /** Split a partition sorted on `keyIdx` into its contiguous runs of equal
    * key: `(key values, rows of the run)`. A run must be consumed before
    * the next one is requested; whatever is left of it is skipped. With
    * no key columns the partition is one run. */
  def runs(it: Iterator[Row], keyIdx: Array[Int]): Iterator[(IndexedSeq[Any], Iterator[Row])] =
    if (keyIdx.isEmpty) { if (it.hasNext) Iterator.single(IndexedSeq.empty -> it) else Iterator.empty }
    else new Iterator[(IndexedSeq[Any], Iterator[Row])] {
      private val buf = it.buffered
      private var cur: Iterator[Row] = Iterator.empty
      def hasNext: Boolean = {
        while (cur.hasNext) cur.next()
        buf.hasNext
      }
      def next(): (IndexedSeq[Any], Iterator[Row]) = {
        if (!hasNext) throw new NoSuchElementException("no further key run")
        val key = values(buf.head, keyIdx)
        cur = new Iterator[Row] {
          // the head's key is compared once per row, however often hasNext is asked
          private var known = false
          private var more = false
          def hasNext: Boolean = {
            if (!known) { more = buf.hasNext && sameKey(values(buf.head, keyIdx), key); known = true }
            more
          }
          def next(): Row = {
            if (!hasNext) throw new NoSuchElementException("end of key run")
            known = false
            buf.next()
          }
        }
        (key, cur)
      }
    }
}
