package graft.plumba

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types.DataType

/** Extension-method surface — the counterpart of the reference's
  * registered `Expr.plumba` namespace (src/polars_numba/__init__.py:802–827)
  * as idiomatic Scala implicit classes: `df.collectFold(...)`,
  * `col.plumbaFold(...)`. */
object syntax {

  implicit class PlumbaDataFrame(private val df: DataFrame) extends AnyVal {
    def collectFold[A](valueCols: Seq[String], orderCols: Seq[String], k: Kernel.Fold[A]): A =
      CollectOps.collectFold(df, valueCols, orderCols, k)

    def collectScan[A](
        valueCols: Seq[String],
        orderCols: Seq[String],
        k: Kernel.Scan[A],
        resultType: DataType,
        resultName: String = "scan"): DataFrame =
      CollectOps.collectScan(df, valueCols, orderCols, k, resultType, resultName)

    def groupFold[A](
        keyCols: Seq[String],
        valueCols: Seq[String],
        orderCols: Seq[String],
        k: Kernel.Fold[A],
        resultType: DataType,
        resultName: String = "fold",
        emit: A => Any = (a: A) => a: Any): DataFrame =
      GroupOps.groupFold(df, keyCols, valueCols, orderCols, k, resultType, resultName, emit)

    def groupScan[A](
        keyCols: Seq[String],
        valueCols: Seq[String],
        orderCols: Seq[String],
        k: Kernel.Scan[A],
        resultType: DataType,
        resultName: String = "scan"): DataFrame =
      GroupOps.groupScan(df, keyCols, valueCols, orderCols, k, resultType, resultName)
  }

  implicit class PlumbaColumn(private val c: Column) extends AnyVal {
    /** SQL-expressible ordered fold over this column (see [[ExprOps.foldCol]]). */
    def plumbaFold(ord: Seq[Column], init: Column, step: (Column, Column) => Column): Column =
      ExprOps.foldCol(ord, Seq(c), init, step)

    /** SQL-expressible ordered scan over this column returning the
      * per-group list of running values (see [[ExprOps.scanListCol]];
      * `maxGroupSize` is the documented fail-loud memory bound —
      * oversize groups belong on `GroupOps.groupScan`). */
    def plumbaScan(
        ord: Seq[Column],
        init: Column,
        step: (Column, Column) => Column,
        elemType: String = "double",
        maxGroupSize: Int = 1000000): Column =
      ExprOps.scanListCol(ord, Seq(c), init, step, elemType = elemType, maxGroupSize = maxGroupSize)
  }
}
