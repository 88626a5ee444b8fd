package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import graft.geo.{Clip, Crs, Geom, PointInPolygon}

/** Native Catalyst formulations of the geometry kernels (SURVEY §7.3 v2 —
  * the reference's per-feature GEOS calls, geotools/geotools.py:215-260,
  * re-expressed as expressions over the packed-ring encoding
  * `array<array<double>>`).
  *
  * Versus the `spark.udf.register` ScalaUDF versions these skip the
  * CatalystTypeConverters round-trip (every ring boxed to Seq[Seq[Double]]
  * per row) — rings copy straight out of the unsafe array via
  * `toDoubleArray`. The clip kernel runs once per (basin, cell), so at the
  * reference's published 10k-polygon cliff this is the hot path.
  * CodegenFallback is fine here: per-row geometry work (ring loops, CRS
  * series) dwarfs the interpreted-call overhead the fallback adds.
  */
object GeoExpr {

  def toPoly(a: ArrayData): Geom.Polygon = {
    val n = a.numElements()
    val out = new Array[Array[Double]](n)
    var i = 0
    while (i < n) { out(i) = a.getArray(i).toDoubleArray(); i += 1 }
    out
  }

  def fromPoly(p: Geom.Polygon): ArrayData =
    new GenericArrayData(p.map(r => new GenericArrayData(r): Any))

  val polyType: DataType = ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
}

/** `st_area(geom) -> double`: shoelace area, holes negative. */
case class StArea(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(g: Any): Any = Geom.area(GeoExpr.toPoly(g.asInstanceOf[ArrayData]))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `st_bbox(geom) -> struct<xmin,ymin,xmax,ymax>`. */
case class StBBox(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("xmin", DoubleType, nullable = false),
    StructField("ymin", DoubleType, nullable = false),
    StructField("xmax", DoubleType, nullable = false),
    StructField("ymax", DoubleType, nullable = false)))
  override def nullSafeEval(g: Any): Any = {
    val (xmin, ymin, xmax, ymax) = Geom.bbox(GeoExpr.toPoly(g.asInstanceOf[ArrayData]))
    InternalRow(xmin, ymin, xmax, ymax)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

private[functions] trait GeomBoxArgs extends Expression {
  def geom: Expression; def xmin: Expression; def ymin: Expression
  def xmax: Expression; def ymax: Expression
  override def children: Seq[Expression] = Seq(geom, xmin, ymin, xmax, ymax)
  override def nullable: Boolean = children.exists(_.nullable)
  protected def evalArgs(input: InternalRow): (Geom.Polygon, Double, Double, Double, Double) = {
    val g = geom.eval(input)
    val x0 = xmin.eval(input); val y0 = ymin.eval(input)
    val x1 = xmax.eval(input); val y1 = ymax.eval(input)
    if (g == null || x0 == null || y0 == null || x1 == null || y1 == null) null
    else (GeoExpr.toPoly(g.asInstanceOf[ArrayData]),
      x0.asInstanceOf[Double], y0.asInstanceOf[Double],
      x1.asInstanceOf[Double], y1.asInstanceOf[Double])
  }
}

/** `st_clip_box(geom, xmin, ymin, xmax, ymax) -> geom`: Sutherland–Hodgman
  * clip against an axis-aligned box.
  */
case class StClipBox(geom: Expression, xmin: Expression, ymin: Expression,
    xmax: Expression, ymax: Expression) extends GeomBoxArgs with CodegenFallback {
  override def dataType: DataType = GeoExpr.polyType
  override def eval(input: InternalRow): Any = {
    val a = evalArgs(input)
    if (a == null) null
    else GeoExpr.fromPoly(Clip.clipPolygonToBox(a._1, a._2, a._3, a._4, a._5))
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0), xmin = c(1), ymin = c(2), xmax = c(3), ymax = c(4))
}

/** `st_clip_area(geom, xmin, ymin, xmax, ymax) -> double`: area of the clip
  * (same CRS), without materializing the clipped geometry.
  */
case class StClipArea(geom: Expression, xmin: Expression, ymin: Expression,
    xmax: Expression, ymax: Expression) extends GeomBoxArgs with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def eval(input: InternalRow): Any = {
    val a = evalArgs(input)
    if (a == null) null else Clip.clipArea(a._1, a._2, a._3, a._4, a._5)
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0), xmin = c(1), ymin = c(2), xmax = c(3), ymax = c(4))
}

/** `st_contains_point(geom, x, y) -> boolean`: even-odd point-in-polygon. */
case class StContainsPoint(geom: Expression, x: Expression, y: Expression)
  extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(geom, x, y)
  override def nullable: Boolean = children.exists(_.nullable)
  override def dataType: DataType = BooleanType
  override def eval(input: InternalRow): Any = {
    val g = geom.eval(input)
    val xv = x.eval(input); val yv = y.eval(input)
    if (g == null || xv == null || yv == null) null
    else PointInPolygon.contains(GeoExpr.toPoly(g.asInstanceOf[ArrayData]),
      xv.asInstanceOf[Double], yv.asInstanceOf[Double])
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0), x = c(1), y = c(2))
}

/** `st_reproject(geom, srcCrs, dstCrs) -> geom`: closed-form CRS transform.
  * CRS names are foldable literals; the resolved transforms cache once per
  * expression instance, not per row.
  */
case class StReproject(geom: Expression, srcName: Expression, dstName: Expression)
  extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(geom, srcName, dstName)
  override def nullable: Boolean = geom.nullable
  override def dataType: DataType = GeoExpr.polyType
  @transient private lazy val src = Crs.of(srcName.eval().toString)
  @transient private lazy val dst = Crs.of(dstName.eval().toString)
  override def eval(input: InternalRow): Any = {
    val g = geom.eval(input)
    if (g == null) null
    else GeoExpr.fromPoly(Crs.reproject(GeoExpr.toPoly(g.asInstanceOf[ArrayData]), src, dst))
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0), srcName = c(1), dstName = c(2))
}

/** `graft_clip_areas(geom, xmin, ymin, xmax, ymax, srcCrs, dstCrs)
  *   -> struct<clip_area: double, cell_area: double>`
  *
  * [[Clip.clipAreas]] as an expression (quirk Q9 semantics): clip in grid
  * CRS where cells are axis-aligned (exact), then measure BOTH the clipped
  * basin fragment and the full cell after reprojection to the output CRS.
  * One expression call per (basin, cell) — no per-row Seq boxing, no
  * repeated CRS lookup.
  */
case class ClipAreas(geom: Expression, xmin: Expression, ymin: Expression,
    xmax: Expression, ymax: Expression, srcName: Expression, dstName: Expression)
  extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(geom, xmin, ymin, xmax, ymax, srcName, dstName)
  override def nullable: Boolean = geom.nullable
  override def dataType: DataType = StructType(Seq(
    StructField("clip_area", DoubleType, nullable = false),
    StructField("cell_area", DoubleType, nullable = false)))
  @transient private lazy val src = Crs.of(srcName.eval().toString)
  @transient private lazy val dst = Crs.of(dstName.eval().toString)
  override def eval(input: InternalRow): Any = {
    val g = geom.eval(input)
    val x0e = xmin.eval(input); val y0e = ymin.eval(input)
    val x1e = xmax.eval(input); val y1e = ymax.eval(input)
    if (g == null || x0e == null || y0e == null || x1e == null || y1e == null) return null
    val (clipArea, cellArea) = Clip.clipAreas(GeoExpr.toPoly(g.asInstanceOf[ArrayData]),
      x0e.asInstanceOf[Double], y0e.asInstanceOf[Double], x1e.asInstanceOf[Double], y1e.asInstanceOf[Double],
      src, dst)
    InternalRow(clipArea, cellArea)
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0), xmin = c(1), ymin = c(2), xmax = c(3), ymax = c(4),
      srcName = c(5), dstName = c(6))
}
