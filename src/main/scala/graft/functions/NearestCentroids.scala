package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftInternals
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** The centroid matrix of an IVF index: one row per centroid, its cluster
  * id beside it. Held by [[NearestCentroids]] as ONE codegen reference
  * object, so neither the generated code nor the plan grows with the
  * centroid count. Equality is by content (identical centroid lists
  * canonicalize to the same plan, so cache lookups match), and the plan
  * string names the shape instead of printing the matrix. */
final class CentroidMatrix(val rows: Array[Array[Double]], val cids: Array[Int])
    extends Serializable {
  require(rows.nonEmpty && rows.length == cids.length,
    s"need one cid per centroid and at least one centroid, got " +
      s"${rows.length} centroids and ${cids.length} cids")

  /** Each centroid's squared norm over its full length: the same
    * sequential fold `CosineSimilarity` makes, so a row at least as long
    * as the centroid reuses it bit-for-bit. */
  private val fullSq: Array[Double] = rows.map(sqNorm(_, Int.MaxValue))

  private def sqNorm(v: Array[Double], upTo: Int): Double = {
    val n = math.min(v.length, upTo)
    var s = 0.0; var i = 0
    while (i < n) { s += v(i) * v(i); i += 1 }
    s
  }

  /** The `k` nearest centroids of `x` (a row already widened to double) by
    * cosine, best first, as (cid, cosine) structs. Each cosine is
    * `CosineSimilarity`'s arithmetic over the common prefix of the row and
    * the centroid; the row's squared norm is folded once per distinct
    * prefix length, i.e. once per row when the centroids share a length.
    * Order is the argmax order of Spark's double ordering: NaN ranks above
    * every number, -0.0 equals 0.0, and equal scores go to the larger cid.
    * A null row scores null everywhere, so it ranks by cid alone. */
  def nearest(x: Array[Double], k: Int): ArrayData = {
    val nlist = rows.length
    val scores = new Array[Double](nlist)
    if (x != null) {
      var normLen = -1; var na = 0.0
      var p = 0
      while (p < nlist) {
        val c = rows(p)
        val n = math.min(x.length, c.length)
        if (n != normLen) { na = sqNorm(x, n); normLen = n }
        var dot = 0.0; var i = 0
        while (i < n) { dot += x(i) * c(i); i += 1 }
        val nb = if (n == c.length) fullSq(p) else sqNorm(c, n)
        scores(p) = dot / (math.sqrt(na) * math.sqrt(nb))
        p += 1
      }
    }
    def better(a: Int, b: Int): Boolean = {
      val o = SQLOrderingUtil.compareDoubles(scores(a), scores(b))
      o > 0 || (o == 0 && cids(a) > cids(b))
    }
    // insertion into a best-first buffer of positions: O(nlist · k), and
    // k is 1 or a small soft-assignment fan-out
    val kk = math.min(k, nlist)
    val top = new Array[Int](kk)
    var filled = 0
    var p = 0
    while (p < nlist) {
      if (filled < kk || better(p, top(kk - 1))) {
        var j = math.min(filled, kk - 1)
        while (j > 0 && better(p, top(j - 1))) { top(j) = top(j - 1); j -= 1 }
        top(j) = p
        if (filled < kk) filled += 1
      }
      p += 1
    }
    new GenericArrayData(top.map { q =>
      InternalRow(cids(q), if (x == null) null else scores(q))
    })
  }

  override def equals(o: Any): Boolean = o match {
    case m: CentroidMatrix => java.util.Arrays.equals(cids, m.cids) &&
      java.util.Arrays.deepEquals(rows.asInstanceOf[Array[AnyRef]],
        m.rows.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    31 * java.util.Arrays.hashCode(cids) +
      java.util.Arrays.deepHashCode(rows.asInstanceOf[Array[AnyRef]])
  override def toString: String =
    s"centroids(nlist=${rows.length}, dim=${rows.map(_.length).max})"
}

/** Fused nearest-centroid kernel: the `k` nearest centroids of a vector
  * by cosine, best first, as `array<struct<cid: int, cos: double>>` — the
  * IVF assignment (rank 1), soft multi-assignment (ranks 1..k) and the
  * drift telemetry's assigned cosine read the same kernel.
  *
  * It replaces one `cosine(v, lit(c))` struct per centroid under
  * `greatest` / `sort_array`, whose generated code and plan grew with
  * nlist: here the centroids are one reference object and the per-row
  * work is one call. Each score is bit-identical to `CosineSimilarity`'s
  * (property-pinned against the struct spelling), and the order is the
  * argmax order of Spark's struct comparison: NaN first, equal scores
  * (-0.0 and 0.0 included) to the larger cid. A null vector is not null
  * here: its scores are null and it ranks by cid, as the struct spelling
  * ranked it. */
case class NearestCentroids(child: Expression, centroids: CentroidMatrix, k: Int)
    extends UnaryExpression {

  require(k >= 1, s"k must be >= 1, got $k")

  override def dataType: DataType = ArrayType(NearestCentroids.Ranked, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType | IntegerType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroids expects array<float|double|int>, got ${other.sql}")
  }

  // lazy: dataType on an unresolved child throws during analysis rewrites
  @transient private lazy val elem: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def eval(input: InternalRow): Any =
    centroids.nearest(
      NearestCentroids.widen(child.eval(input).asInstanceOf[ArrayData], elem), k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("centroids", centroids, classOf[CentroidMatrix].getName)
    val v = child.genCode(ctx)
    val x = ctx.freshName("x")
    val i = ctx.freshName("i")
    ev.copy(code = code"""
      ${v.code}
      double[] $x = null;
      if (!${v.isNull}) {
        $x = new double[${v.value}.numElements()];
        for (int $i = 0; $i < $x.length; $i++) {
          $x[$i] = (double) ${v.value}.${NearestCentroids.getter(elem)}($i);
        }
      }
      ${CodeGenerator.javaType(dataType)} ${ev.value} = $m.nearest($x, $k);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "nearest_centroids"
}

object NearestCentroids {
  val Ranked: StructType = new StructType()
    .add("cid", IntegerType, nullable = false)
    .add("cos", DoubleType, nullable = true)

  /** A row widened to double exactly as `CosineSimilarity` widens it
    * (the interpreted path; generated code inlines the same loop). */
  private def widen(v: ArrayData, elem: DataType): Array[Double] =
    if (v == null) null
    else elem match {
      case FloatType => Array.tabulate(v.numElements())(v.getFloat(_).toDouble)
      case IntegerType => Array.tabulate(v.numElements())(v.getInt(_).toDouble)
      case _ => Array.tabulate(v.numElements())(v.getDouble)
    }

  /** The ArrayData getter `CosineSimilarity`'s generated code uses. */
  private def getter(elem: DataType): String = elem match {
    case FloatType => "getFloat"
    case IntegerType => "getInt"
    case _ => "getDouble"
  }

  /** Column form: the `k` nearest of `cs` (cid, centroid) to `vec`. */
  def apply(vec: Column, cs: Seq[(Int, Array[Double])], k: Int): Column =
    GraftInternals.column(
      NearestCentroids(GraftInternals.expression(vec),
        new CentroidMatrix(cs.map(_._2).toArray, cs.map(_._1).toArray), k))
}
