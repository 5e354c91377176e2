package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, typedLit}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType}

/** Native point-in-polygon: the even-odd ray cast of [[Geo.contains]] /
  * [[Geo.containsMulti]] as a codegen'd Catalyst expression (the custom
  * `Expression` SURVEY §2.9/P3 planned beyond the first-ship UDF). The
  * ring set rides the plan as flat primitive arrays (xs, ys, per-ring
  * start offsets), plan-time constants the optimizer's bbox rule reads.
  * Evaluation goes through a [[GeoBandIndex]] built once per expression
  * and referenced from the generated code, so there is no per-row
  * closure or boxing, and the filter stays inside WholeStageCodegen
  * instead of breaking the stage at a ScalaUDF.
  */
case class GeoContains(left: Expression, right: Expression,
                       xs: Array[Double], ys: Array[Double], starts: Array[Int])
    extends BinaryExpression {
  // left = lon (x), right = lat (y)

  GeoBandIndex.requireFiniteLatitudes(ys)

  @transient private lazy val index = GeoBandIndex(xs, ys, starts)

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == DoubleType && right.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"st_contains requires double (lon, lat) inputs, got ${left.dataType}, ${right.dataType}")

  override def nullSafeEval(lon: Any, lat: Any): Any =
    index.contains(lon.asInstanceOf[Double], lat.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("geoIndex", index, classOf[GeoBandIndex].getName)
    defineCodeGen(ctx, ev, (lon, lat) => s"$ref.contains($lon, $lat)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): GeoContains =
    copy(left = newLeft, right = newRight)
}

/** Exact latitude-banded edge index over a ring set. Every non-horizontal
  * edge of every ring is listed under each latitude band its y-span
  * touches; a query tests only the edges of its own band, with the
  * crossing expression of [[Geo.contains]] over each edge's original i/j
  * orientation:
  * `(yi > lat) != (yj > lat) && lon < (xj - xi) * (lat - yi) / (yj - yi) + xi`.
  *
  * Exactness against [[Geo.containsMulti]]: an edge can cross `lat` only
  * when `min(yi, yj) <= lat < max(yi, yj)`. The band function
  * `min(bands - 1, floor((y - ymin) * inv))` is monotone in y under IEEE
  * rounding, so such an edge's band range contains `lat`'s band and the
  * edge is tested. Horizontal edges never cross. Parity is an XOR, so the
  * order the edges are tested in does not change the result. A `lat`
  * outside `[ymin, ymax]` crosses no edge, and a NaN `lat` fails every
  * comparison; both return `false` without a lookup.
  *
  * The band count follows from the edges alone, not from an option: the
  * edge count times the covered latitude range over the summed edge
  * heights, capped to `[1, edges]`. That keeps the listed entries at
  * about three per edge or fewer, so a ring set of long edges degrades to
  * one band (the flat scan) instead of a quadratic table.
  */
final class GeoBandIndex private (ymin: Double, ymax: Double, inv: Double, bands: Int,
                                  bandStart: Array[Int], edges: Array[Double])
    extends Serializable {

  /** Crossing parity of (lon, lat) over the edges of lat's band. */
  def contains(lon: Double, lat: Double): Boolean = {
    if (!(lat >= ymin && lat <= ymax)) return false
    val b = math.min(bands - 1, ((lat - ymin) * inv).toInt)
    var in = false
    var k = bandStart(b) * 4
    val end = bandStart(b + 1) * 4
    while (k < end) {
      val xi = edges(k); val yi = edges(k + 1); val xj = edges(k + 2); val yj = edges(k + 3)
      if ((yi > lat) != (yj > lat) &&
          lon < (xj - xi) * (lat - yi) / (yj - yi) + xi) in = !in
      k += 4
    }
    in
  }

  /** Latitudes where one band ends and the next starts, for tests. */
  private[graft] def bandBoundaries: Seq[Double] = (1 until bands).map(ymin + _ / inv)
}

object GeoBandIndex {

  /** Rejects a ring set with a NaN or infinite vertex latitude: no band
    * can hold such an edge.
    */
  private[functions] def requireFiniteLatitudes(ys: Array[Double]): Unit = {
    val bad = ys.indexWhere(y => !java.lang.Double.isFinite(y))
    if (bad >= 0) throw new IllegalArgumentException(
      s"st_contains: vertex $bad has a non-finite latitude ${ys(bad)}")
  }

  def apply(xs: Array[Double], ys: Array[Double], starts: Array[Int]): GeoBandIndex = {
    requireFiniteLatitudes(ys)
    // edges (i, j) with j the previous vertex of the same ring, wrapping
    // at the ring start as Geo.contains does; horizontal ones never cross
    val from = Array.newBuilder[Int]
    val to = Array.newBuilder[Int]
    var r = 0
    while (r < starts.length - 1) {
      val s = starts(r); val e = starts(r + 1)
      var i = s
      var j = e - 1
      while (i < e) {
        if (ys(i) != ys(j)) { from += i; to += j }
        j = i; i += 1
      }
      r += 1
    }
    val ei = from.result(); val ej = to.result()
    val n = ei.length
    if (n == 0) return new GeoBandIndex(1.0, 0.0, 0.0, 1, Array(0, 0), Array.emptyDoubleArray)
    var ymin = Double.PositiveInfinity; var ymax = Double.NegativeInfinity
    var spans = 0.0
    var k = 0
    while (k < n) {
      val a = ys(ei(k)); val b = ys(ej(k))
      ymin = math.min(ymin, math.min(a, b)); ymax = math.max(ymax, math.max(a, b))
      spans += math.abs(a - b)
      k += 1
    }
    val height = ymax - ymin
    val ratio = n * height / spans // NaN when both overflow to infinity
    val bands = if (ratio >= 1) math.min(n.toDouble, ratio).toInt else 1
    val inv = bands / height
    def band(y: Double): Int = math.min(bands - 1, ((y - ymin) * inv).toInt)
    // counting pass, then fill: CSR layout with each edge's four
    // coordinates stored inline per entry
    val bandStart = new Array[Int](bands + 1)
    k = 0
    while (k < n) {
      val a = ys(ei(k)); val b = ys(ej(k))
      var t = band(math.min(a, b))
      val hi = band(math.max(a, b))
      while (t <= hi) { bandStart(t + 1) += 1; t += 1 }
      k += 1
    }
    var t = 0
    while (t < bands) { bandStart(t + 1) += bandStart(t); t += 1 }
    val fill = java.util.Arrays.copyOf(bandStart, bands)
    val edges = new Array[Double](bandStart(bands) * 4)
    k = 0
    while (k < n) {
      val i = ei(k); val j = ej(k)
      var b = band(math.min(ys(i), ys(j)))
      val hi = band(math.max(ys(i), ys(j)))
      while (b <= hi) {
        val at = fill(b) * 4
        edges(at) = xs(i); edges(at + 1) = ys(i); edges(at + 2) = xs(j); edges(at + 3) = ys(j)
        fill(b) += 1
        b += 1
      }
      k += 1
    }
    new GeoBandIndex(ymin, ymax, inv, bands, bandStart, edges)
  }
}

object GeoContains {

  /** Flatten a ring set to the expression's primitive form. */
  def flatten(rings: Seq[Geo.Ring]): (Array[Double], Array[Double], Array[Int]) = {
    val xs = rings.flatMap(_.map(_._1)).toArray
    val ys = rings.flatMap(_.map(_._2)).toArray
    val starts = rings.scanLeft(0)(_ + _.length).toArray
    (xs, ys, starts)
  }

  /** The expression's kernel over a ring set, for callers outside a plan. */
  def index(rings: Seq[Geo.Ring]): GeoBandIndex = {
    val (xs, ys, starts) = flatten(rings)
    GeoBandIndex(xs, ys, starts)
  }

  /** Column API: `st_contains` over a broadcast-as-literal ring set —
    * drop-in for [[Geo.containsMultiUdf]] (and, with one ring, for
    * [[Geo.containsUdf]]) with whole-stage codegen.
    */
  def apply(rings: Seq[Geo.Ring])(lon: Column, lat: Column): Column = {
    val (xs, ys, starts) = flatten(rings)
    call_function("st_contains", lon, lat, typedLit(xs), typedLit(ys), typedLit(starts))
  }
}

/** Optimizer rule: polygon containment implies bounding-box membership, so
  * every `Filter(... st_contains(lon, lat, rings) ...)` gains the cheap
  * conjunct `lon ∈ [xmin, xmax] AND lat ∈ [ymin, ymax]`. The added
  * comparisons are ordinary range predicates over the same child
  * expressions, so Catalyst's existing rules push them into the parquet
  * scan (`PushedFilters`) — at 100 TB the row groups outside the polygon's
  * bbox never leave disk, and the exact ray cast only sees candidates.
  * Semantically a no-op: bbox is a superset of containment (a point
  * strictly outside every vertex's extent can cross no edge).
  * Idempotent: the conjunct is only added when not already present, so the
  * optimizer's fixpoint loop terminates.
  */
object GeoBboxPushdown
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  import org.apache.spark.sql.catalyst.expressions.{And, GreaterThanOrEqual, LessThanOrEqual, Literal}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val additions = conjuncts.flatMap {
        case gc: GeoContains if gc.xs.nonEmpty && gc.left.deterministic &&
            gc.right.deterministic =>
          val preds = Seq(
            GreaterThanOrEqual(gc.left, Literal(gc.xs.min)),
            LessThanOrEqual(gc.left, Literal(gc.xs.max)),
            GreaterThanOrEqual(gc.right, Literal(gc.ys.min)),
            LessThanOrEqual(gc.right, Literal(gc.ys.max)))
          preds.filterNot(p => conjuncts.exists(_.semanticEquals(p)))
        case _ => Nil
      }
      if (additions.isEmpty) f
      else Filter(additions.foldLeft(cond)(And(_, _)), child)
  }
}
