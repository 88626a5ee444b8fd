package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.{Geom, PointInPolygon}
import graft.ingest.AsciiGrid

/** Polygon -> raster (SURVEY F17/K4; reference `rasterizegeo` +
  * `export_geotiff`, geotools/geotools.py:337-381 — marked out-of-scope for
  * v1 there, implemented here for surface completeness).
  *
  * Semantics match rasterio.features.rasterize defaults: a cell takes the
  * attribute of the polygon containing its CENTER; with MergeAlg.replace
  * (rasterio's default) the LAST polygon burned wins overlaps; untouched
  * cells = nodata.
  * Same grid-bucketed shape as the spatial join: polygons explode to their
  * covered (row, col) ranges — no per-cell polygon scan.
  */
object Rasterize {

  /** @param polys (ord, attr, geom) — geometry in grid CRS units.
    * @return (row, col, attr) for touched cells.
    */
  def rasterize(polys: DataFrame, t: Grid.Transform, nrows: Int, ncols: Int): DataFrame = {
    graft.Graft.setup(polys.sparkSession)
    val boxed = Cells.withCellBox(
      SpatialPipeline.explodeToCells(polys, t, nrows, ncols, 1.0), t, 1.0)
    boxed
      .withColumn("cx", (col("xmin") + col("xmax")) / 2)
      .withColumn("cy", (col("ymin") + col("ymax")) / 2)
      .where(expr("st_contains_point(geom, cx, cy)"))
      .groupBy("row", "col")
      .agg(max_by(col("attr"), col("ord")).as("attr")) // last burned wins (MergeAlg.replace)
  }

  /** GeoTIFF export of a rasterized frame — the real K4 sink (reference
    * `export_geotiff`, geotools/geotools.py:369-381: GTiff, nodata -9999).
    */
  def toGeoTiff(cells: DataFrame, t: Grid.Transform, nrows: Int, ncols: Int,
      path: String, nodata: Double = -9999): Unit =
    graft.out.GeoTiffWriter.write(cells, t, nrows, ncols, path, nodata)

  /** Dense ASCII-grid export of a rasterized frame (text-container twin of
    * [[toGeoTiff]]: same grid + nodata semantics). Collects the (small)
    * raster to the driver like any single-file sink.
    */
  def toAsciiGrid(cells: DataFrame, t: Grid.Transform, nrows: Int, ncols: Int,
      nodata: Double = -9999): String = {
    val arr = Array.fill(nrows, ncols)(nodata)
    cells.select("row", "col", "attr").collect().foreach { r =>
      arr(r.getInt(0))(r.getInt(1)) = r.getAs[Number](2).doubleValue()
    }
    AsciiGrid.render(
      AsciiGrid.Header(ncols, nrows, t.ulx, t.uly + nrows * t.yres, t.xres, nodata), arr)
  }
}
