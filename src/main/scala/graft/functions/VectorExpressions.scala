package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Compiled vector kernels for the similarity hot paths. The HOF
  * formulation (`aggregate(zip_with(...))`) is interpreted per element —
  * measured 18 s for ~500k candidate-pair cosines at sf0.1; these run the
  * same arithmetic in one compiled loop per row. */

private object VecRead {
  /** Element accessor for float/double arrays. */
  def get(arr: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)

  def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
}

/** Cosine similarity of two numeric arrays (float or double), 0.0 when
  * either norm is zero — single fused dot+norms loop. */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  private lazy val leftFloat = VecRead.isFloatArray(left.dataType)
  private lazy val rightFloat = VecRead.isFloatArray(right.dataType)

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = VecRead.get(a, i, leftFloat)
      val y = VecRead.get(b, i, rightFloat)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
}

/** ENGINE-PORTABLE random-hyperplane signature: the vector is quantized
  * to `floor(x * 1000)` (exact IEEE double math, identical in every
  * engine) and the plane components are Rademacher ±1 signs drawn from
  * md5 parity — sign(p,d) = +1 iff the first hex char of
  * `md5("<p>,<d>")` is >= '8'. The projection is then pure INTEGER
  * arithmetic: exact, order-independent, and replayable in SQL (no
  * float-summation-order hazard), which is what makes the LSH-bucketed
  * similarity queries oracle-able in DuckDB. ±1 hyperplanes over a
  * quantized vector are a standard SimHash-style LSH family. The sign
  * matrix depends only on (nPlanes, dims), so it is computed ONCE per
  * task and cached (recomputing it per row costs nPlanes×dims md5 calls
  * per row, which would dominate the projection arithmetic). */
case class QuantizedHyperplaneSigExpr(child: Expression, nPlanes: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def prettyName: String = "hyperplane_sig_q"

  private lazy val isFloat = VecRead.isFloatArray(child.dataType)

  @transient private var cachedDims = -1
  @transient private var signs: Array[Int] = _

  private def signMatrix(dims: Int): Array[Int] = {
    if (cachedDims != dims) {
      val md = java.security.MessageDigest.getInstance("MD5")
      val m = new Array[Int](nPlanes * dims)
      var p = 0
      while (p < nPlanes) {
        var d = 0
        while (d < dims) {
          md.reset()
          val digest = md.digest(s"$p,$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
          // first hex char >= '8'  ⇔  high bit of the first digest byte
          m(p * dims + d) = if ((digest(0) & 0x80) != 0) 1 else -1
          d += 1
        }
        p += 1
      }
      signs = m
      cachedDims = dims
    }
    signs
  }

  override protected def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData]
    val n = vec.numElements()
    val m = signMatrix(n)
    val q = new Array[Long](n)
    var d = 0
    while (d < n) {
      q(d) = math.floor(VecRead.get(vec, d, isFloat) * 1000.0).toLong
      d += 1
    }
    val bits = new Array[Char](nPlanes)
    var p = 0
    while (p < nPlanes) {
      var proj = 0L
      var i = 0
      while (i < n) {
        proj += m(p * n + i) * q(i)
        i += 1
      }
      bits(p) = if (proj >= 0) '1' else '0'
      p += 1
    }
    UTF8String.fromString(new String(bits))
  }

  override protected def withNewChildInternal(newChild: Expression): QuantizedHyperplaneSigExpr =
    copy(child = newChild)
}

/** Nearest-centroid assignment under a FIXED integer codebook — the
  * compiled form of the k-means assignment argmin. The codebook rides
  * along as a plain JVM field of this expression (shipped once per
  * stage inside the broadcast task binary), NOT as k·d `Literal` AST
  * nodes — so the plan tree stays O(1) nodes at any k, where the HOF
  * formulation (`array_min(transform(cents, ...))` over a literal
  * centroid array) grew the generated plan linearly with k and was
  * capped at 4096 centroids for that reason.
  *
  * Arithmetic is the exact engine-portable integer rule every other
  * quantized kernel uses: each component is quantized
  * `floor(x * 1000)` (exact IEEE double math), distance is exact
  * BIGINT squared-L2, and ties on distance break to the LOWEST
  * centroid id — bit-identical to the HOF path it replaces
  * (differential-tested in KmeansAssignSpec), so the DuckDB oracle
  * replay is unchanged.
  *
  * Output: `struct<c: int, d: bigint>` — the winning centroid id and
  * its exact squared distance. Null input array, a null element, or a
  * dimension mismatch with the codebook yields a null struct (the HOF
  * path nulled the distance in those cases; here the whole verdict is
  * null rather than an arbitrary centroid with a null distance —
  * loud, and impossible to mistake for a real assignment). */
case class KmeansArgminExpr(child: Expression, cents: Array[Array[Long]])
    extends UnaryExpression with CodegenFallback {
  require(cents.nonEmpty, "codebook must be non-empty")

  override def dataType: DataType =
    StructType(Seq(StructField("c", IntegerType, nullable = false),
      StructField("d", LongType, nullable = false)))
  // null is produced for NON-null input too (dimension mismatch, null
  // element) — inheriting child.nullable would let the optimizer strip
  // the caller's coalesce null-verdict guard on a non-nullable column
  override def nullable: Boolean = true
  override def prettyName: String = "kmeans_argmin"

  private lazy val isFloat = VecRead.isFloatArray(child.dataType)
  private val dim = cents(0).length

  override protected def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData]
    val n = vec.numElements()
    if (n != dim) return null
    val q = new Array[Long](n)
    var d = 0
    while (d < n) {
      if (vec.isNullAt(d)) return null
      q(d) = math.floor(VecRead.get(vec, d, isFloat) * 1000.0).toLong
      d += 1
    }
    var bestC = 0
    var bestD = Long.MaxValue
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      var dist = 0L
      var i = 0
      while (i < n) {
        val diff = cv(i) - q(i)
        dist += diff * diff
        i += 1
      }
      // strict < keeps the lowest centroid id on ties (ascending c)
      if (dist < bestD) { bestD = dist; bestC = c }
      c += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(bestC, bestD)
  }

  override protected def withNewChildInternal(newChild: Expression): KmeansArgminExpr =
    copy(child = newChild)
}

/** TWO-LEVEL nearest-centroid assignment — the O(√k·d)-per-row form of
  * [[KmeansArgminExpr]] for SemDeDup-paper cluster counts (50k clusters
  * for 5B embeddings): a flat argmin pays O(k·d) integer ops per row,
  * which at k=50k·d=16 is ~10⁶ ops/vector — the corpus-sized stage's
  * dominant cost. Here the codebook is pre-grouped (driver-side, at
  * construction) under g ≈ √k COARSE centroids; each row scores the g
  * coarse centroids, probes its `nProbeCoarse` nearest groups, and runs
  * the exact argmin only over those groups' members — expected cost
  * O((g + nProbe·k/g)·d) = O(√k·d) per row at nProbe fixed.
  *
  * APPROXIMATE by construction (the IVF trade at assignment time): the
  * result is exact iff the true nearest centroid's group is probed;
  * `nProbeCoarse` is the dial (= g reproduces the flat argmin exactly).
  * Agreement is measured, not assumed — KmeansAssignSpec pins the
  * nProbe=g equality and the measured nProbe=2 agreement floor, and
  * SCALE.md records the speed/agreement curve at k=4096. Same exact
  * integer arithmetic and lowest-id tie rule within the probed set;
  * same null semantics as the flat form. */
case class KmeansArgminTwoLevelExpr(child: Expression,
    coarse: Array[Array[Long]], cents: Array[Array[Long]],
    members: Array[Array[Int]], nProbeCoarse: Int)
    extends UnaryExpression with CodegenFallback {
  require(coarse.nonEmpty && cents.nonEmpty && members.length == coarse.length,
    "coarse codebook and member lists must align")
  require(nProbeCoarse >= 1, "nProbeCoarse must be >= 1")

  override def dataType: DataType =
    StructType(Seq(StructField("c", IntegerType, nullable = false),
      StructField("d", LongType, nullable = false)))
  // see KmeansArgminExpr: null verdicts exist for non-null input
  override def nullable: Boolean = true
  override def prettyName: String = "kmeans_argmin_2l"

  private lazy val isFloat = VecRead.isFloatArray(child.dataType)
  private val dim = cents(0).length

  override protected def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData]
    val n = vec.numElements()
    if (n != dim) return null
    val q = new Array[Long](n)
    var d = 0
    while (d < n) {
      if (vec.isNullAt(d)) return null
      q(d) = math.floor(VecRead.get(vec, d, isFloat) * 1000.0).toLong
      d += 1
    }
    def d2(cv: Array[Long]): Long = {
      var dist = 0L; var i = 0
      while (i < n) { val x = cv(i) - q(i); dist += x * x; i += 1 }
      dist
    }
    // nearest nProbeCoarse coarse groups: insertion into a tiny sorted
    // slate, ties to the lowest group id (strict < on (dist, id))
    val p = math.min(nProbeCoarse, coarse.length)
    val slateD = Array.fill(p)(Long.MaxValue)
    val slateG = Array.fill(p)(Int.MaxValue)
    var g = 0
    while (g < coarse.length) {
      val dist = d2(coarse(g))
      var pos = p
      while (pos > 0 && dist < slateD(pos - 1)) pos -= 1
      if (pos < p) {
        var m = p - 1
        while (m > pos) { slateD(m) = slateD(m - 1); slateG(m) = slateG(m - 1); m -= 1 }
        slateD(pos) = dist; slateG(pos) = g
      }
      g += 1
    }
    var bestC = -1
    var bestD = Long.MaxValue
    var s = 0
    while (s < p) {
      val grp = slateG(s)
      if (grp != Int.MaxValue) {
        val ms = members(grp)
        var j = 0
        while (j < ms.length) {
          val c = ms(j)
          val dist = d2(cents(c))
          // ties to the LOWEST centroid id across probed groups
          if (dist < bestD || (dist == bestD && c < bestC)) { bestD = dist; bestC = c }
          j += 1
        }
      }
      s += 1
    }
    if (bestC < 0) null // every probed group empty (degenerate grouping)
    else org.apache.spark.sql.catalyst.InternalRow(bestC, bestD)
  }

  override protected def withNewChildInternal(newChild: Expression): KmeansArgminTwoLevelExpr =
    copy(child = newChild)
}

object VectorFunctions {
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def hyperplaneSignatureQ(vec: Column, nPlanes: Int): Column =
    ColumnBridge.column(QuantizedHyperplaneSigExpr(ColumnBridge.expression(vec), nPlanes))

  def kmeansArgmin(vec: Column, cents: Array[Array[Long]]): Column =
    ColumnBridge.column(KmeansArgminExpr(ColumnBridge.expression(vec), cents))

  def kmeansArgminTwoLevel(vec: Column, coarse: Array[Array[Long]],
      cents: Array[Array[Long]], members: Array[Array[Int]], nProbeCoarse: Int): Column =
    ColumnBridge.column(KmeansArgminTwoLevelExpr(
      ColumnBridge.expression(vec), coarse, cents, members, nProbeCoarse))
}
