package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, StructType}

/** Geo search predicates — the reference's A8 operator (SURVEY §2-A:
  * `region=W,S,E,N` bbox and polygon intersection compiled to MongoDB
  * `$geoWithin`), re-expressed Spark-first.
  *
  * - bbox: plain column comparisons — Catalyst pushes them to the
  *   parquet scan (min/max row-group pruning applies), which is the
  *   whole trick at 100 TB: a bbox query reads only row groups whose
  *   lon/lat statistics intersect the box.
  * - polygon: a codegen'd ray-casting expression over a polygon baked
  *   into the plan as literals (polygons are query constants, like the
  *   reference's GeoJSON request bodies). The 100 TB refinement is a
  *   coarse bbox prefilter (below) so the exact test runs only on
  *   candidates.
  */
object GeoOps {

  /** `region=W,S,E,N` bbox predicate over lon/lat columns. */
  def inBbox(lon: Column, lat: Column, w: Double, s: Double, e: Double, n: Double): Column =
    lon.between(w, e) && lat.between(s, n)

  /** Exact point-in-polygon via even-odd ray casting, with the
    * polygon's bbox as a cheap short-circuit prefilter. Vertices are
    * (lon, lat) pairs; the polygon is closed implicitly.
    */
  def inPolygon(lonC: Column, latC: Column, vertices: Seq[(Double, Double)]): Column = {
    require(vertices.length >= 3, "polygon needs >= 3 vertices")
    val w = vertices.map(_._1).min; val e = vertices.map(_._1).max
    val s = vertices.map(_._2).min; val n = vertices.map(_._2).max
    inBbox(lonC, latC, w, s, e, n) &&
      org.apache.spark.sql.graftbridge.Bridge.column(
        PointInPolygon(
          org.apache.spark.sql.graftbridge.Bridge.expression(struct(lonC, latC)),
          vertices))
  }
}

/** Ray-casting point-in-polygon as a native expression: child is a
  * struct(lon, lat); the polygon is a literal baked into the plan (and
  * into the generated code), so the per-row work is a tight loop over
  * constant vertex arrays — no per-row allocation, fully codegen'd.
  */
case class PointInPolygon(child: Expression, vertices: Seq[(Double, Double)])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case st: StructType if st.length == 2 && st.forall(_.dataType == DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"input must be struct<double,double>, got $other")
    }

  // a non-null struct with a null lon/lat slot still yields null, so
  // this expression is nullable regardless of the child's nullability
  override def nullable: Boolean = true

  @transient private lazy val xs = vertices.map(_._1).toArray
  @transient private lazy val ys = vertices.map(_._2).toArray

  /** Even-odd rule: count edge crossings of the ray x -> +inf. */
  private def contains(px: Double, py: Double): Boolean = {
    var inside = false
    var i = 0
    var j = xs.length - 1
    while (i < xs.length) {
      if (((ys(i) > py) != (ys(j) > py)) &&
          (px < (xs(j) - xs(i)) * (py - ys(i)) / (ys(j) - ys(i)) + xs(i)))
        inside = !inside
      j = i
      i += 1
    }
    inside
  }

  override protected def nullSafeEval(input: Any): Any = {
    val row = input.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    if (row.isNullAt(0) || row.isNullAt(1)) null
    else contains(row.getDouble(0), row.getDouble(1))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xsRef = ctx.addReferenceObj("pipXs", xs, "double[]")
    val ysRef = ctx.addReferenceObj("pipYs", ys, "double[]")
    nullSafeCodeGen(ctx, ev, pt => {
      val px = ctx.freshName("px")
      val py = ctx.freshName("py")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val inside = ctx.freshName("inside")
      // mirror nullSafeEval: a null lon/lat slot inside a non-null
      // struct yields null, not a garbage-0.0 membership test
      s"""
         |if ($pt.isNullAt(0) || $pt.isNullAt(1)) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $px = $pt.getDouble(0);
         |  double $py = $pt.getDouble(1);
         |  boolean $inside = false;
         |  int $j = $xsRef.length - 1;
         |  for (int $i = 0; $i < $xsRef.length; $i++) {
         |    if ((($ysRef[$i] > $py) != ($ysRef[$j] > $py)) &&
         |        ($px < ($xsRef[$j] - $xsRef[$i]) * ($py - $ysRef[$i])
         |                / ($ysRef[$j] - $ysRef[$i]) + $xsRef[$i])) {
         |      $inside = !$inside;
         |    }
         |    $j = $i;
         |  }
         |  ${ev.value} = $inside;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PointInPolygon =
    copy(child = newChild)
}
