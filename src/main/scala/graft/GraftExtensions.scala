package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import org.apache.spark.sql.graft.ArrayScanExpr

import graft.functions.{CosineSimExpr, HammingBitsExpr, MinHashPortable, QuantizedHyperplaneSigExpr, ShinglePortableHash, SimHashBitsExpr}

/** `SparkSessionExtensions` installer: registers the graft custom
  * expressions as SQL functions, so `spark.sql("SELECT
  * simhash_bits(split(lower(text), ' +')) ...")` works next to the Scala
  * API. The hash functions are the md5-derived family: every value is
  * recomputable in any engine with md5(varchar), which is what the
  * DuckDB correctness oracles replay.
  *
  * Usage: `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions.builders

  override def apply(ext: SparkSessionExtensions): Unit = {
    builders.foreach { case (name, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
    // pure-win rewrite: sum-shaped foldCol -> native Sum (SURVEY §7.3(b))
    ext.injectOptimizerRule(_ => graft.plans.FoldToNativeAgg)
  }
}

object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> ((args: Seq[Expression]) => CosineSimExpr(args(0), args(1))),
    "shingle_hash60" -> ((args: Seq[Expression]) => ShinglePortableHash(args.head,
      if (args.length > 1) intArg(args(1), "shingle width n") else 3)),
    "minhash60" -> ((args: Seq[Expression]) => MinHashPortable(args.head,
      if (args.length > 1) intArg(args(1), "signature size k") else 32)),
    "simhash_bits" -> ((args: Seq[Expression]) => SimHashBitsExpr(args.head)),
    "hamming_bits" -> ((args: Seq[Expression]) => HammingBitsExpr(args(0), args(1))),
    "hyperplane_sig_q" -> ((args: Seq[Expression]) => QuantizedHyperplaneSigExpr(args.head,
      if (args.length > 1) intArg(args(1), "plane count") else 16)),
    // prefix-scan sibling of the built-in aggregate():
    //   array_scan(arr, zero, (acc, x) -> step)  ->  array of every state
    "array_scan" -> ((args: Seq[Expression]) => ArrayScanExpr(args(0), args(1), args(2))))

  /** Register the same functions as session-scoped temp functions on an
    * already-running session (no extensions hook needed). */
  def registerTemp(spark: org.apache.spark.sql.SparkSession): Unit =
    builders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
