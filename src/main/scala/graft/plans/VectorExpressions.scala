package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the embedding-vector hot paths.
  *
  * The higher-order-function forms (`aggregate(zip_with(...))`) are
  * interpreted per element with InternalRow boxing — on the ANN brute-force
  * path that cost is paid |corpus|×|queries| times. These expressions do the
  * same arithmetic in one tight JVM loop per row. The arithmetic ORDER is
  * kept identical to the HOF forms (left-to-right accumulation, cast each
  * element to double) so results are bit-identical and the DuckDB oracles
  * keep matching.
  */
private object VecUtil {
  /** Element-as-double reader for any numeric array type. SQL literals
    * arrive as array<decimal>, parquet embeddings as array<float> — the HOF
    * forms these expressions replace casted per element, so the native form
    * must accept the same inputs. */
  def reader(dt: DataType): (ArrayData, Int) => Double = dt match {
    case ArrayType(FloatType, _) => (a, i) => a.getFloat(i).toDouble
    case ArrayType(DoubleType, _) => (a, i) => a.getDouble(i)
    case ArrayType(d: DecimalType, _) =>
      (a, i) => a.getDecimal(i, d.precision, d.scale).toDouble
    case ArrayType(IntegerType, _) => (a, i) => a.getInt(i).toDouble
    case ArrayType(LongType, _) => (a, i) => a.getLong(i).toDouble
    case ArrayType(ShortType, _) => (a, i) => a.getShort(i).toDouble
    case ArrayType(ByteType, _) => (a, i) => a.getByte(i).toDouble
    case other =>
      throw new IllegalArgumentException(s"not a numeric array type: $other")
  }
}

/** `cosine_sim(a, b)`: cosine similarity in [-1,1]; 0.0 when either norm is
  * zero. Same formula as the HOF form: dot / (sqrt(sumsq_a) * sqrt(sumsq_b)). */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_sim"

  @transient private lazy val leftRead = VecUtil.reader(left.dataType)
  @transient private lazy val rightRead = VecUtil.reader(right.dataType)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val va = a.asInstanceOf[ArrayData]
    val vb = b.asInstanceOf[ArrayData]
    val n = math.min(va.numElements(), vb.numElements())
    var dot = 0.0; var sa = 0.0; var sb = 0.0
    var i = 0
    while (i < n) {
      val x = leftRead(va, i)
      val y = rightRead(vb, i)
      dot += x * y; sa += x * x; sb += y * y
      i += 1
    }
    val d = math.sqrt(sa) * math.sqrt(sb)
    java.lang.Double.valueOf(if (d == 0.0) 0.0 else dot / d)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `l2_sq(a, b)`: squared Euclidean distance, left-to-right accumulation. */
case class L2SqExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "l2_sq"

  @transient private lazy val leftRead = VecUtil.reader(left.dataType)
  @transient private lazy val rightRead = VecUtil.reader(right.dataType)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val va = a.asInstanceOf[ArrayData]
    val vb = b.asInstanceOf[ArrayData]
    val n = math.min(va.numElements(), vb.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = leftRead(va, i) - rightRead(vb, i)
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `dot(a, b)`: plain dot product, left-to-right accumulation. */
case class DotExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dot"

  @transient private lazy val leftRead = VecUtil.reader(left.dataType)
  @transient private lazy val rightRead = VecUtil.reader(right.dataType)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val va = a.asInstanceOf[ArrayData]
    val vb = b.asInstanceOf[ArrayData]
    val n = math.min(va.numElements(), vb.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += leftRead(va, i) * rightRead(vb, i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `nearest_cells(vec)`: the `n` nearest of a set of driver-collected
  * centroids, by (l2Sq asc, cell asc). Returns
  * `array<struct<cell:int, dist:double>>` of length min(n, #centroids).
  *
  * This replaces the broadcast-join + `Window.partitionBy(id)` argmin
  * pattern: that plan materializes corpus×k rows and SHUFFLES them — all
  * rows of one vector into one task — just to pick rank 1. Here the
  * centroid table (k rows, small by IVF design) rides inside the expression:
  * the corpus pass stays NARROW (zero shuffle, k×dim flops per row). This
  * is also how Spark MLlib's KMeans distributes assignment.
  */
case class NearestCellsExpr(child: Expression,
    centroidIds: Seq[Int], centroidVecs: Seq[Seq[Double]], n: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("cell", IntegerType, nullable = false),
      StructField("dist", DoubleType, nullable = false))), containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nearest_cells"

  @transient private lazy val childRead = VecUtil.reader(child.dataType)
  @transient private lazy val cents: Array[Array[Double]] = centroidVecs.map(_.toArray).toArray
  @transient private lazy val ids: Array[Int] = centroidIds.toArray

  override protected def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData]
    val dim = vec.numElements()
    val k = cents.length
    val dists = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cv = cents(c)
      val m = math.min(dim, cv.length)
      var acc = 0.0
      var i = 0
      while (i < m) {
        val d = childRead(vec, i) - cv(i)
        acc += d * d
        i += 1
      }
      dists(c) = acc
      c += 1
    }
    // selection of top-n by (dist, cell id): n is 1-2 in practice, linear scan
    val take = math.min(n, k)
    val out = new Array[Any](take)
    val taken = new Array[Boolean](k)
    var r = 0
    while (r < take) {
      var best = -1
      var c2 = 0
      while (c2 < k) {
        if (!taken(c2) && (best < 0 || dists(c2) < dists(best) ||
            (dists(c2) == dists(best) && ids(c2) < ids(best)))) best = c2
        c2 += 1
      }
      taken(best) = true
      out(r) = InternalRow(ids(best), dists(best))
      r += 1
    }
    new GenericArrayData(out)
  }

  // the centroid payload (k×dim doubles) would otherwise be dumped into
  // every plan string — summarize instead
  override def toString: String =
    s"nearest_cells($child, k=${centroidIds.length}, n=$n)"
  override def simpleString(maxFields: Int): String = toString

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `hyperplane_sketch(vec)`: `nBits`-bit random-hyperplane sign sketch for
  * cosine LSH — bit b is set iff `sum_d vec[d] * h(d,b) > 0` with
  * `h(d,b) ∈ {+1,-1}` derived from Spark SQL `xxhash64(d, b)` (seed 42,
  * left-fold — exact parity with the declarative form, pinned by spec and
  * by the e5 fixture oracle's independent Python reimplementation). The
  * HOF form is interpreted per (dim × bit) with boxing; this is one tight
  * loop per row with the sign table precomputed once per task. */
case class HyperplaneSketchExpr(child: Expression, nBits: Int)
    extends UnaryExpression with CodegenFallback {
  require(nBits >= 1 && nBits <= 63, s"nBits must be in [1, 63], got $nBits")

  import org.apache.spark.sql.catalyst.expressions.XXH64

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hyperplane_sketch"

  @transient private lazy val childRead = VecUtil.reader(child.dataType)
  @transient private var signs: Array[Array[Double]] = _ // [bit][dim]

  private def signsFor(dim: Int): Array[Array[Double]] = {
    if (signs == null || signs(0).length < dim)
      // parity with SQL xxhash64(d, b) over INT inputs: seed 42, left-fold,
      // 4-byte hashInt path per child
      signs = Array.tabulate(nBits)(b => Array.tabulate(dim)(d =>
        if (java.lang.Math.floorMod(
          XXH64.hashInt(b, XXH64.hashInt(d, 42L)), 2L) == 0L) 1.0
        else -1.0))
    signs
  }

  override protected def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData]
    val dim = vec.numElements()
    val s = signsFor(dim)
    var bucket = 0L
    var b = 0
    while (b < nBits) {
      val sb = s(b)
      var proj = 0.0
      var d = 0
      while (d < dim) { proj += childRead(vec, d) * sb(d); d += 1 }
      if (proj > 0) bucket |= 1L << b
      b += 1
    }
    java.lang.Long.valueOf(bucket)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `centered_project(vec)`: out[r] = Σ_i (vec[i] − mean[i]) · components[r][i]
  * — the PCA/OPQ projection with mean and the r×d component matrix riding
  * the expression tree as plain JVM arrays.
  *
  * This replaces the HOF form `array(aggregate(zip_with(centered, comp_r,
  * a*b), 0.0, acc+x) for each r)` — r independent interpreted aggregates
  * over a shared interpreted `zip_with` subtraction, i.e. r×d boxed
  * element-ops per row (d=r=64 ⇒ 4 096/row; measured 1.14 s per corpus
  * pass at sf0.1 vs ~0.04 s for this loop) plus a 4 096-literal expression
  * tree that Catalyst re-analyzes per query. Arithmetic order is the HOF
  * form's exactly: center first (element cast to double, left-to-right),
  * then per component a left-to-right accumulate from 0.0 — bit-identical
  * results, pinned by the e15/e18/e19/e21 oracles. */
case class CenteredProjectExpr(child: Expression,
    mean: Seq[Double], components: Seq[Seq[Double]])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "centered_project"

  @transient private lazy val childRead = VecUtil.reader(child.dataType)
  @transient private lazy val meanArr: Array[Double] = mean.toArray
  @transient private lazy val comps: Array[Array[Double]] =
    components.map(_.toArray).toArray

  override protected def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData]
    val d = meanArr.length
    if (vec.numElements() != d)
      throw new IllegalArgumentException(
        s"centered_project: vector length ${vec.numElements()} != model dim $d")
    val c = new Array[Double](d)
    var i = 0
    while (i < d) { c(i) = childRead(vec, i) - meanArr(i); i += 1 }
    val r = comps.length
    val out = new Array[Any](r)
    var j = 0
    while (j < r) {
      val comp = comps(j)
      var acc = 0.0
      var i2 = 0
      while (i2 < d) { acc += c(i2) * comp(i2); i2 += 1 }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }

  // the model payload (r×d doubles) would otherwise be dumped into every
  // plan string — summarize instead (the NearestCellsExpr stance)
  override def toString: String =
    s"centered_project($child, d=${mean.length}, r=${components.length})"
  override def simpleString(maxFields: Int): String = toString

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `adc_sum(codes, lut)`: Σ_j lut[j][codes[j]] — asymmetric-distance
  * (ADC) scoring for the PQ rerank paths. `codes` is the row's
  * array<int> of sub-codebook assignments, `lut` the query's
  * array<array<double>> of per-slice distance tables (riding a broadcast
  * join, so both are per-row COLUMNS — unlike the model-array
  * expressions above, nothing rides the tree here).
  *
  * This replaces the HOF form `aggregate(zip_with(codes, lut, (c, t) =>
  * element_at(t, c + 1)), 0.0, acc + x)` — interpreted per element with
  * InternalRow boxing, paid once per (query, probed-cell candidate row),
  * the exact pattern CenteredProjectExpr killed one hop upstream (round
  * 16). For in-range codes it is bit-identical: left-to-right
  * accumulation from 0.0; a null element or a length mismatch (zip_with
  * pads the shorter side with null, which null-propagates through the
  * sum) yields null. An out-of-range code throws, as ANSI `element_at`
  * does; under non-ANSI config the HOF form returns null there instead,
  * so the two differ only on codes valid PQ never produces. */
case class AdcSumExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "adc_sum"

  override protected def nullSafeEval(codesAny: Any, lutAny: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val lut = lutAny.asInstanceOf[ArrayData]
    val m = codes.numElements()
    if (m != lut.numElements()) return null
    var acc = 0.0
    var j = 0
    while (j < m) {
      if (codes.isNullAt(j) || lut.isNullAt(j)) return null
      val c = codes.getInt(j)
      val t = lut.getArray(j)
      if (c < 0 || c >= t.numElements())
        throw new IllegalArgumentException(
          s"adc_sum: code $c out of range for a ${t.numElements()}-entry LUT slice")
      if (t.isNullAt(c)) return null
      acc += t.getDouble(c)
      j += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `center_scale(vec)`: out[i] = (vec[i] − mean[i]) / scale[i] — the
  * z-score pass of [[graft.operators.Pca.standardize]] as one tight loop
  * (the HOF form is two nested interpreted `zip_with`s per row). Same
  * left-to-right element order and per-element double cast ⇒ bit-identical. */
case class CenterScaleExpr(child: Expression, mean: Seq[Double], scale: Seq[Double])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "center_scale"

  @transient private lazy val childRead = VecUtil.reader(child.dataType)
  @transient private lazy val meanArr: Array[Double] = mean.toArray
  @transient private lazy val scaleArr: Array[Double] = scale.toArray

  override protected def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData]
    val d = meanArr.length
    if (vec.numElements() != d)
      throw new IllegalArgumentException(
        s"center_scale: vector length ${vec.numElements()} != model dim $d")
    val out = new Array[Any](d)
    var i = 0
    while (i < d) {
      out(i) = (childRead(vec, i) - meanArr(i)) / scaleArr(i)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def toString: String = s"center_scale($child, d=${mean.length})"
  override def simpleString(maxFields: Int): String = toString

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExpressions {
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def l2Sq(a: Column, b: Column): Column =
    ColumnBridge.column(L2SqExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** `centroids` ride the expression tree (they are driver-side, k rows). */
  def nearestCells(vec: Column, centroids: Seq[(Int, Array[Double])], n: Int): Column =
    ColumnBridge.column(NearestCellsExpr(ColumnBridge.expression(vec),
      centroids.map(_._1), centroids.map(_._2.toSeq), n))

  def hyperplaneSketch(vec: Column, nBits: Int): Column =
    ColumnBridge.column(HyperplaneSketchExpr(ColumnBridge.expression(vec), nBits))

  /** `mean` and the r×d `components` ride the expression tree (driver-side
    * model arrays, metadata scale). */
  def centeredProject(vec: Column, mean: Array[Double],
      components: Array[Array[Double]]): Column =
    ColumnBridge.column(CenteredProjectExpr(ColumnBridge.expression(vec),
      mean.toSeq, components.map(_.toSeq).toSeq))

  def centerScale(vec: Column, mean: Array[Double], scale: Array[Double]): Column =
    ColumnBridge.column(CenterScaleExpr(ColumnBridge.expression(vec),
      mean.toSeq, scale.toSeq))

  /** ADC score: Σ_j lut[j][codes[j]] (both sides per-row columns). */
  def adcSum(codes: Column, lut: Column): Column =
    ColumnBridge.column(AdcSumExpr(ColumnBridge.expression(codes),
      ColumnBridge.expression(lut)))
}
