package graft.core

import org.scalatest.funsuite.AnyFunSuite

import graft.api.GridFixture
import graft.geo.{Crs, Geom}
import graft.ingest.{RadolanRender, Shp}

/** `SpatialPipeline.cellMap`, the map over basins the flagship runs, against
  * the Catalyst plan it replaced ([[CellMapOracle]]): the same pairs in the
  * same order and the same bits of every area.
  */
class CellMapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Both cell maps of `basins` (grid CRS, divided) over an `nrows` x
    * `ncols` grid at `t`; returns the pair count.
    */
  private def same(basins: Seq[(Int, Geom.Polygon)], t: Grid.Transform, nrows: Int, ncols: Int,
      divisor: Double, gridCrs: String, outCrs: String): Int = {
    import spark.implicits._
    val got = SpatialPipeline.cellMap(spark, basins, t, nrows, ncols, divisor, gridCrs, outCrs)
    val df = basins.map { case (id, g) => (id, g.map(_.toSeq).toSeq) }.toDF("basinID", "geom")
    val want = SpatialPipeline.CellMap.of(CellMapOracle.basinCellMap(df, t, nrows, ncols, divisor, gridCrs, outCrs))
    def bits(a: Array[Double]) = a.map(java.lang.Double.doubleToRawLongBits).toSeq
    assert(got.basinID.toSeq == want.basinID.toSeq)
    assert(got.row.toSeq == want.row.toSeq && got.col.toSeq == want.col.toSeq)
    assert(bits(got.clipArea) == bits(want.clipArea))
    assert(bits(got.cellArea) == bits(want.cellArea))
    got.size
  }

  /** A RADOLAN window's transform and size, as `run` computes them. */
  private def window(t: Grid.Transform, nrows: Int, ncols: Int, basins: Seq[Geom.Polygon]): (Grid.Transform, Int, Int) = {
    val bs = basins.map(Geom.bbox)
    val win = Grid.bufferedWindow(t, nrows, ncols,
      (bs.map(_._1).min, bs.map(_._2).min, bs.map(_._3).max, bs.map(_._4).max))
    (Grid.shifted(t, win), win.nrows, win.ncols)
  }

  private def km(g: Geom.Polygon): Geom.Polygon = g.map(_.map(_ / 1000.0))

  test("GridFixture's basins, the tilted quadrilateral included, clip to the oracle's bits") {
    import GridFixture._
    val raw = Shp.read(basinsShp).features.map(f => Crs.reproject(f.geom, Crs.of("epsg:25833"), Crs.of("radolan_m")))
    val (t, nrows, ncols) = window(Grid.Transform(Xll, 1000.0, Uly, -1000.0), Rows, Cols, raw)
    val n = same(raw.zipWithIndex.map { case (g, i) => (i + 1, km(g)) }, t, nrows, ncols, 1000.0,
      "radolan_km", "epsg:25833")
    assert(n > rects.map { case (r0, c0, r1, c1) => (r1 - r0) * (c1 - c0) }.sum)
  }

  test("RadolanRender pentagons clip to the oracle's bits") {
    val block = RadolanRender.Block(400, 400, 60, 60)
    val raw = (1 to 25).map(RadolanRender.pentagon(_, block, 50, 50))
    val full = Grid.Transform(RadolanRender.Full.xllM, 1000.0, RadolanRender.Full.yllM + 900 * 1000.0, -1000.0)
    val (t, nrows, ncols) = window(full, 900, 900, raw)
    assert(same(raw.zipWithIndex.map { case (g, i) => (i + 1, km(g)) }, t, nrows, ncols, 1000.0,
      "radolan_km", "epsg:25833") > 25 * 9)
  }

  test("a basin partly outside the window and an empty geometry clip to the oracle's bits") {
    // a 10 x 10 identity-CRS grid: basin 1 hangs over the north-west
    // corner, basin 2 lies wholly outside, basin 3 has no rings
    val t = Grid.Transform(0.0, 1.0, 10.0, -1.0)
    val basins = Seq(
      1 -> Array(Array(-2.5, 7.25, 3.5, 7.25, 3.5, 12.0, -2.5, 12.0)),
      2 -> Array(Array(20.0, 20.0, 22.0, 20.0, 22.0, 22.0)),
      3 -> Array.empty[Geom.Ring],
      4 -> Array(Array(4.2, 1.1, 8.9, 2.3, 6.1, 5.7)))
    val n = same(basins, t, 10, 10, 1.0, "epsg:25833", "epsg:25833")
    val got = SpatialPipeline.cellMap(spark, basins, t, 10, 10, 1.0, "epsg:25833", "epsg:25833")
    assert(n == got.size && got.basinID.toSet == Set(1, 4))
    // basin 1 covers rows 0-2 (y 7.25-10) of columns 0-3 (x 0-3.5)
    assert(got.basinID.count(_ == 1) == 12)
  }
}
