package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.core.TestSpark
import graft.geo.{Geom, PointInPolygon}

class PointInPolygonSpec extends AnyFunSuite {
  test("square containment incl. hole (even-odd)") {
    val poly: Geom.Polygon = Array(
      Geom.boxRing(0, 0, 10, 10),
      Geom.reversed(Geom.boxRing(4, 4, 6, 6)))
    assert(PointInPolygon.contains(poly, 1, 1))
    assert(!PointInPolygon.contains(poly, 5, 5)) // in the hole
    assert(!PointInPolygon.contains(poly, 11, 5))
    assert(PointInPolygon.contains(poly, 6.5, 5))
  }

  test("concave L-shape") {
    val l: Geom.Polygon = Array(Array(0, 0, 3, 0, 3, 1, 1, 1, 1, 3, 0, 3))
    assert(PointInPolygon.contains(l, 0.5, 2.5))
    assert(!PointInPolygon.contains(l, 2, 2)) // in the notch
    assert(PointInPolygon.contains(l, 2, 0.5))
  }
}

class RasterizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val t = Grid.Transform(0.0, 1.0, 4.0, -1.0) // 4x4 grid, y from 4 down

  test("cell centers take containing polygon attr; LAST polygon wins overlaps (MergeAlg.replace)") {
    import spark.implicits._
    val polys = Seq(
      // covers cells with centers x in (0,2), y in (2,4): rows 0-1, cols 0-1
      (1, 7, Seq(Seq(0.0, 2.0, 2.0, 2.0, 2.0, 4.0, 0.0, 4.0))),
      // overlapping box covering rows 0-2, cols 0-2 — burned later, wins overlaps
      (2, 9, Seq(Seq(0.0, 1.0, 3.0, 1.0, 3.0, 4.0, 0.0, 4.0)))
    ).toDF("ord", "attr", "geom")
    val cells = Rasterize.rasterize(polys, t, 4, 4).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(cells((0, 0)) == 9 && cells((1, 1)) == 9) // overlap: last wins
    assert(cells((0, 2)) == 9 && cells((2, 0)) == 9 && cells((2, 2)) == 9)
    assert(!cells.contains((3, 3)))
    assert(cells.size == 9) // 3x3 covered region
  }

  test("ASCII export round-trips through the grid parser (K4 stand-in)") {
    import spark.implicits._
    val polys = Seq((1, 5, Seq(Seq(0.0, 0.0, 4.0, 0.0, 4.0, 4.0, 0.0, 4.0))))
      .toDF("ord", "attr", "geom")
    val cells = Rasterize.rasterize(polys, t, 4, 4)
    val txt = Rasterize.toAsciiGrid(cells, t, 4, 4)
    val (h, parsed) = graft.ingest.AsciiGrid.parse(txt)
    assert(h.nrows == 4 && h.ncols == 4 && h.nodata == -9999)
    assert(parsed.count(_.value == 5.0) == 16)
  }

  test("GeoTIFF export round-trips through the GeoTIFF reader (real K4)") {
    import spark.implicits._
    // partial coverage: rows 0-1 x cols 0-1 burned, rest stays nodata
    val polys = Seq((1, 5, Seq(Seq(0.0, 2.0, 2.0, 2.0, 2.0, 4.0, 0.0, 4.0))))
      .toDF("ord", "attr", "geom")
    val cells = Rasterize.rasterize(polys, t, 4, 4)
    val path = java.nio.file.Files.createTempFile("graft-k4", ".tif").toString
    Rasterize.toGeoTiff(cells, t, 4, 4, path)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val (meta, parsed) = graft.ingest.GeoTiff.parse(bytes)
    assert(meta.ncols == 4 && meta.nrows == 4)
    assert(meta.ulx == 0.0 && meta.uly == 4.0 && meta.xres == 1.0 && meta.yres == -1.0)
    assert(meta.nodata == -9999.0)
    val vals = parsed.map(c => (c.row, c.col) -> c.value).toMap
    assert(vals((0, 0)) == 5.0 && vals((1, 1)) == 5.0)
    assert(vals((2, 2)) == -9999.0 && vals((3, 0)) == -9999.0)
    assert(vals.size == 16)
  }

  test("GeoTIFF export with a window pushdown read slices the written raster") {
    import spark.implicits._
    val polys = Seq((1, 3, Seq(Seq(0.0, 0.0, 4.0, 0.0, 4.0, 4.0, 0.0, 4.0))))
      .toDF("ord", "attr", "geom")
    val path = java.nio.file.Files.createTempFile("graft-k4w", ".tif").toString
    Rasterize.toGeoTiff(Rasterize.rasterize(polys, t, 4, 4), t, 4, 4, path)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val (_, win) = graft.ingest.GeoTiff.parse(bytes, rowRange = Some((1, 3)), colRange = Some((2, 4)))
    val got = win.toSeq
    assert(got.size == 4 && got.forall(_.value == 3.0))
    assert(got.map(c => (c.row, c.col)).toSet == Set((1, 2), (1, 3), (2, 2), (2, 3)))
  }

  test("geo functions are callable from SQL") {
    graft.Graft.setup(spark)
    val area = spark.sql(
      "SELECT st_area(array(array(0D,0D, 4D,0D, 4D,3D))) AS a").collect()(0).getDouble(0)
    assert(area === 6.0)
    val clipped = spark.sql(
      "SELECT st_clip_area(array(array(0D,0D, 2D,0D, 2D,2D, 0D,2D)), 1D, 0D, 3D, 2D) AS a")
      .collect()(0).getDouble(0)
    assert(clipped === 2.0)
    assert(spark.sql(
      "SELECT st_contains_point(array(array(0D,0D, 2D,0D, 2D,2D, 0D,2D)), 1D, 1D) AS c")
      .collect()(0).getBoolean(0))
    val rt = spark.sql(
      "SELECT st_reproject(st_reproject(array(array(13.5D,50.8D)), 'epsg:4326', 'epsg:25833'), 'epsg:25833', 'epsg:4326') AS g")
      .collect()(0).getSeq[Seq[Double]](0)
    assert(math.abs(rt.head.head - 13.5) < 1e-9 && math.abs(rt.head(1) - 50.8) < 1e-9)
  }
}
