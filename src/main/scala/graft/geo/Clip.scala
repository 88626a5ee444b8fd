package graft.geo

import Geom.{Polygon, Ring}

/** Polygon ∩ axis-aligned rectangle via Sutherland–Hodgman.
  *
  * This is the engine's replacement for the reference's GEOS
  * `gp.overlay(..., how='intersection')` (geotools/geotools.py:215-219) in
  * the specific — and only — case the pipeline needs: the clip window is a
  * grid cell, i.e. an axis-aligned rectangle. Sutherland–Hodgman against a
  * convex clip window is exact for arbitrary simple subject polygons
  * (concave included). Holes are clipped ring-by-ring; the signed-area
  * convention (Geom) keeps hole area negative through the clip, so
  * `Geom.area(clip(...))` equals the GEOS intersection area.
  *
  * Degenerate results (rings collapsing to < 3 distinct points, zero-area
  * slivers) are dropped — the `make_valid=True` spirit of the reference.
  */
object Clip {

  // Edge ids: 0 = left (x>=xmin), 1 = bottom (y>=ymin), 2 = right (x<=xmax), 3 = top (y<=ymax)
  private def inside(edge: Int, bound: Double, x: Double, y: Double): Boolean = edge match {
    case 0 => x >= bound
    case 1 => y >= bound
    case 2 => x <= bound
    case 3 => y <= bound
  }

  private def intersect(edge: Int, bound: Double,
      x1: Double, y1: Double, x2: Double, y2: Double): (Double, Double) = edge match {
    case 0 | 2 =>
      val t = (bound - x1) / (x2 - x1)
      (bound, y1 + t * (y2 - y1))
    case _ =>
      val t = (bound - y1) / (y2 - y1)
      (x1 + t * (x2 - x1), bound)
  }

  /** Clip one ring against one half-plane edge of the box. */
  private def clipEdge(r: Ring, edge: Int, bound: Double): Ring = {
    val n = r.length / 2
    if (n == 0) return r
    val out = new scala.collection.mutable.ArrayBuffer[Double](r.length + 8)
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      val x1 = r(2 * i); val y1 = r(2 * i + 1)
      val x2 = r(2 * j); val y2 = r(2 * j + 1)
      val in1 = inside(edge, bound, x1, y1)
      val in2 = inside(edge, bound, x2, y2)
      if (in1) {
        out += x1 += y1
        if (!in2) { val (ix, iy) = intersect(edge, bound, x1, y1, x2, y2); out += ix += iy }
      } else if (in2) {
        val (ix, iy) = intersect(edge, bound, x1, y1, x2, y2); out += ix += iy
      }
      i += 1
    }
    out.toArray
  }

  /** Clip a ring to the box; Array.empty if nothing remains. */
  def clipRing(r: Ring, xmin: Double, ymin: Double, xmax: Double, ymax: Double): Ring = {
    var cur = r
    cur = clipEdge(cur, 0, xmin)
    if (cur.length >= 6) cur = clipEdge(cur, 1, ymin) else return Array.emptyDoubleArray
    if (cur.length >= 6) cur = clipEdge(cur, 2, xmax) else return Array.emptyDoubleArray
    if (cur.length >= 6) cur = clipEdge(cur, 3, ymax) else return Array.emptyDoubleArray
    if (cur.length >= 6) cur else Array.emptyDoubleArray
  }

  /** Clip a polygon (all rings) to the box, dropping degenerate rings.
    * Zero-area tolerance is relative to the box area.
    */
  def clipPolygonToBox(p: Polygon, xmin: Double, ymin: Double, xmax: Double, ymax: Double): Polygon = {
    val eps = 1e-12 * math.abs((xmax - xmin) * (ymax - ymin))
    p.iterator
      .map(clipRing(_, xmin, ymin, xmax, ymax))
      .filter(r => r.length >= 6 && math.abs(Geom.ringArea(r)) > eps)
      .toArray
  }

  /** Area of polygon ∩ box without materializing the clipped geometry —
    * the hot path of the spatial join (only the area feeds the weights,
    * SURVEY A3). Signed ring areas make holes subtract automatically.
    */
  def clipArea(p: Polygon, xmin: Double, ymin: Double, xmax: Double, ymax: Double): Double = {
    var s = 0.0
    var i = 0
    while (i < p.length) {
      val c = clipRing(p(i), xmin, ymin, xmax, ymax)
      if (c.length >= 6) s += Geom.ringArea(c)
      i += 1
    }
    s
  }

  /** The spatial join's per-(basin, cell) kernel (quirk Q9): clip in the
    * grid CRS `src`, where the cell is an axis-aligned box (exact), then
    * measure both the clipped basin fragment and the whole cell after
    * reprojection to the output CRS `dst`. (0, 0) when nothing remains.
    */
  def clipAreas(p: Polygon, xmin: Double, ymin: Double, xmax: Double, ymax: Double,
      src: Crs, dst: Crs): (Double, Double) = {
    val clipped = clipPolygonToBox(p, xmin, ymin, xmax, ymax)
    if (clipped.isEmpty) (0.0, 0.0)
    else (Geom.area(Crs.reproject(clipped, src, dst)),
      Geom.area(Crs.reproject(Array(Geom.boxRing(xmin, ymin, xmax, ymax)), src, dst)))
  }
}
