package graft.plumba

import org.apache.spark.sql.{Column, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions
import org.apache.spark.sql.types._

/** The typed-`Aggregator` route for JVM-lambda ordered folds under
  * `groupBy().agg(...)` (SURVEY §7.3: "custom Aggregator[Row, Buf, Out]").
  *
  * A non-associative fold has no lawful `merge` of partial states, so the
  * aggregator buffers `(ord, values)` pairs and runs the kernel once, in
  * `finish`, over the sorted buffer — `merge` concatenates buffers, which
  * IS lawful (it defers all ordering to the end). This trades memory
  * (O(group)) for a shuffle-safe two-phase aggregation; the streaming-
  * pass alternative with O(1) state per group is [[GroupOps.groupFold]].
  * Use this form when the fold must compose with other aggregates in a
  * single `agg(...)` list.
  *
  * Input rows arrive as `(ord array<long>, values struct)` where the
  * values struct is NULL when any selected value column is null — the
  * fold null policy (drop the row, reference
  * src/polars_numba/__init__.py:339) is applied by skipping null structs
  * in `reduce`, never by the encoder (a primitive-element encoder would
  * throw on a null instead of dropping it). Value types are arbitrary
  * (the caller supplies their DataTypes), so a fold over longs, decimals
  * or strings composes with native aggregates in the same `agg(...)`.
  */
class SortedFoldAggregator[A](k: Kernel.Fold[A], emit: A => Any, resultType: DataType)
    extends Aggregator[Row, List[(Seq[Long], Seq[Any])], Row] {

  override def zero: List[(Seq[Long], Seq[Any])] = Nil

  override def reduce(buf: List[(Seq[Long], Seq[Any])], in: Row): List[(Seq[Long], Seq[Any])] = {
    val values = in.getStruct(1)
    if (values == null) buf // fold null policy: drop the row
    else (in.getSeq[Long](0), Runs.rowValues(values)) :: buf
  }

  override def merge(
      a: List[(Seq[Long], Seq[Any])],
      b: List[(Seq[Long], Seq[Any])]): List[(Seq[Long], Seq[Any])] = a ::: b

  override def finish(buf: List[(Seq[Long], Seq[Any])]): Row = {
    implicit val ordSeq: Ordering[Seq[Long]] = Ordering.Implicits.seqOrdering[Seq, Long]
    val sorted = buf.sortBy(_._1)
    val acc = Kernel.foldRows(k, sorted.iterator.map(_._2.toIndexedSeq))
    Row(emit(acc))
  }

  override def bufferEncoder: Encoder[List[(Seq[Long], Seq[Any])]] =
    Encoders.kryo[List[(Seq[Long], Seq[Any])]]
  override def outputEncoder: Encoder[Row] =
    Encoders.row(StructType(Seq(StructField("value", resultType, nullable = true))))
}

object SortedFoldAggregator {
  /** Column usable directly in `df.groupBy(...).agg(...)` alongside any
    * native aggregate. Ordering columns are packed as an array<long>
    * (long-orderable keys cover the test surface; dates/timestamps cast
    * losslessly); value columns keep their own types, declared by the
    * caller. Rows where any value column is null pack a NULL values
    * struct, which `reduce` drops — the fold null policy.
    *
    * NULL ordering values sort FIRST (the library-wide policy: groupFold's
    * ascending sort is nulls-first, the mergeable paths route null order
    * to bucket 0): each ord key packs as a (null flag, value) pair —
    * (0, 0) for null, (1, key) otherwise — which keeps the packed array
    * null-free for the encoder and orders a null before every key,
    * Long.MinValue included. */
  def foldColumn[A](
      ordCols: Seq[Column],
      valueCols: Seq[(Column, DataType)],
      k: Kernel.Fold[A],
      resultType: DataType,
      emit: A => Any = (a: A) => a: Any): Column = {
    require(valueCols.nonEmpty, "at least one folded column is required")
    val valuesSchema = StructType(valueCols.zipWithIndex.map { case ((_, dt), i) =>
      StructField(s"v$i", dt, nullable = true)
    })
    val inputEncoder = Encoders.row(StructType(Seq(
      StructField("ord", ArrayType(LongType, containsNull = false)),
      StructField("values", valuesSchema, nullable = true))))
    val agg = functions.udaf(new SortedFoldAggregator(k, emit, resultType), inputEncoder)
    val allNotNull = valueCols.map(_._1.isNotNull).reduce(_ && _)
    // one argument per top-level field of the input encoder's schema
    agg(
      functions.array(ordCols.flatMap { c =>
        val key = c.cast("long")
        Seq(functions.when(key.isNull, functions.lit(0L)).otherwise(functions.lit(1L)),
          functions.coalesce(key, functions.lit(0L)))
      }: _*),
      functions.when(allNotNull,
        functions.struct(valueCols.zipWithIndex.map { case ((c, dt), i) => c.cast(dt).as(s"v$i") }: _*)))
      .getField("value")
  }
}
