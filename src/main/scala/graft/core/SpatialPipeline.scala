package graft.core

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The flagship operator chain (SURVEY J2 + A2 + A3 + A4): basin polygons x
  * raster cell grid -> area-weighted per-basin time series.
  *
  * Spark formulation (SURVEY §4, the "grid-bucketed spatial join"): instead
  * of a geometric overlay (the reference's GEOS `gp.overlay`,
  * geotools.py:215-219 — its published scaling cliff at >10k polygons), each
  * basin's bbox is mapped to the covered cell-index ranges and EXPLODED to
  * (basinID, row, col) keys. The cell map is small (clipped window x
  * basins): the NaN gate and the weights are computed from it on the driver
  * ([[gatedWeights]]) and broadcast, and the series is a map over one row
  * per decoded grid ([[gridSeries]]), so the raster — the 100 TB side —
  * passes through no join and no shuffle. The exact geometry work
  * (Sutherland-Hodgman clip vs an axis-aligned cell) happens once per
  * (basin, cell), not per (basin, cell, timestamp).
  *
  * Areas are measured in the OUTPUT CRS (quirk Q9: the reference reprojects
  * before computing `gridcellarea` and intersection areas): we clip in grid
  * CRS (where cells are axis-aligned — exact), then reproject the clipped
  * rings and take the shoelace area. For ~1 km cells the deviation from
  * clipping after reprojection (the reference's order) is below 1e-6
  * relative — documented divergence.
  */
object SpatialPipeline {

  /** Build the basin->cell map: one row per (basin, covered cell) with areas.
    *
    * @param basins   (basinID, geom) with geometry in GRID CRS units (already
    *                 divided for the km case — same space as the cell boxes).
    * @param t        transform of the (windowed) grid, raw units.
    * @param divisor  Q8 coordinate divisor (1000 for RADOLAN km, 1 otherwise).
    * @param gridCrs  CRS name of cell/basin coordinates (e.g. "radolan_km").
    * @param outCrs   output CRS name for area measurement (e.g. "epsg:25833").
    */
  /** Explode each polygon row to its bbox-covered (row, col) cell indices —
    * the shared bucketing step of the spatial join and rasterize. Input must
    * carry a `geom` column in grid-CRS/divisor units; all columns pass
    * through.
    */
  def explodeToCells(polys: DataFrame, t: Grid.Transform, nrows: Int, ncols: Int,
      divisor: Double): DataFrame = {
    val tx = t.ulx / divisor; val rx = t.xres / divisor
    val ty = t.uly / divisor; val ry = t.yres / divisor // ry < 0
    // geometry kernels are native Catalyst expressions (functions/
    // GeoExpressions.scala, no ScalaUDF row boxing); this also registers
    // them for basinCellMap
    graft.Graft.setup(polys.sparkSession)
    polys
      // empty geometries would bbox to +/-Infinity and blow up the ANSI int
      // casts below — drop them here (they cover no cells by definition)
      .where(size(col("geom")) > 0)
      .withColumn("bb", expr("st_bbox(geom)"))
      .withColumn("colLo", greatest(lit(0), floor((col("bb.xmin") - lit(tx)) / lit(rx))).cast("int"))
      .withColumn("colHi", least(lit(ncols - 1), floor((col("bb.xmax") - lit(tx)) / lit(rx))).cast("int"))
      .withColumn("rowLo", greatest(lit(0), floor((col("bb.ymax") - lit(ty)) / lit(ry))).cast("int"))
      .withColumn("rowHi", least(lit(nrows - 1), floor((col("bb.ymin") - lit(ty)) / lit(ry))).cast("int"))
      .where(col("colLo") <= col("colHi") && col("rowLo") <= col("rowHi"))
      .withColumn("row", explode(expr("sequence(rowLo, rowHi)")))
      .withColumn("col", explode(expr("sequence(colLo, colHi)")))
      .drop("bb", "colLo", "colHi", "rowLo", "rowHi")
  }

  def basinCellMap(basins: DataFrame, t: Grid.Transform, nrows: Int, ncols: Int,
      divisor: Double, gridCrs: String, outCrs: String): DataFrame = {
    val exploded = explodeToCells(basins, t, nrows, ncols, divisor)
    val boxed = Cells.withCellBox(exploded, t, divisor)
    boxed
      // a generator is a barrier to filter pushdown and project collapsing,
      // so the clip runs once per (basin, cell); as a plain column the
      // optimizer inlines it into each of its three references
      .withColumn("areas",
        explode(array(expr(s"graft_clip_areas(geom, xmin, ymin, xmax, ymax, '$gridCrs', '$outCrs')"))))
      .where(col("areas.clip_area") > lit(1e-12) * col("areas.cell_area"))
      .select(col("basinID"), col("row"), col("col"),
        col("areas.clip_area").as("clip_area"), col("areas.cell_area").as("cell_area"))
  }

  /** Each basin's (row, col, clip/cell) cells, by basin, cells by (row, col). */
  private def ratios(cellMap: DataFrame): Seq[(Int, Seq[(Int, Int, Double)])] =
    cellMap.select(col("basinID"), col("row"), col("col"), col("clip_area") / col("cell_area")).collect()
      .toSeq.groupMap(_.getInt(0))(r => (r.getInt(1), r.getInt(2), r.getDouble(3)))
      .toSeq.sortBy(_._1).map { case (id, cells) => (id, cells.sortBy(c => (c._1, c._2))) }

  /** A3 — weight normalization over one basin's surviving cells
    * (geotools.py:262): w = (clip/cell) / sum(clip/cell), as
    * (basinID, row, col, wgt).
    */
  private def normalized(id: Int, cells: Seq[(Int, Int, Double)]): Seq[(Int, Int, Int, Double)] = {
    val total = cells.map(_._3).sum
    cells.map { case (r, c, ratio) => (id, r, c, ratio / total) }
  }

  /** A2 + A3 on the cell map, collected to the driver: the one home of the
    * NaN gate and the weight normalization, as (basinID, row, col, wgt).
    * `missing(row, col)` is the number of missing readings of a cell, or -1
    * when the cell has no reading at all (it then takes no part in its
    * basin). A2 (geotools.py:254-260), per basin: if the number of cells
    * with MORE THAN ONE missing reading is smaller than the cell count, drop
    * cells with ANY missing reading; otherwise keep all. A3 weighs the kept
    * cells.
    */
  def gatedWeights(cellMap: DataFrame, missing: (Int, Int) => Long): Seq[(Int, Int, Int, Double)] =
    ratios(cellMap).flatMap { case (id, cells) =>
      val seen = cells.map(c => (c, missing(c._1, c._2))).filter(_._2 >= 0)
      val bad = seen.count(_._2 > 1)
      normalized(id, (if (bad < seen.size) seen.filter(_._2 == 0) else seen).map(_._1))
    }

  /** A3 over precomputed keep flags: `kept` holds (basinID, row, col, keep).
    * Collects the kept cells and returns the weights as a local frame.
    */
  def weights(cellMap: DataFrame, kept: DataFrame): DataFrame = {
    val spark = cellMap.sparkSession
    import spark.implicits._
    ratios(cellMap.join(kept.where(col("keep")), Seq("basinID", "row", "col")))
      .flatMap((normalized _).tupled).toDF("basinID", "row", "col", "wgt")
  }

  /** One decoded grid member of the window, the flagship's raster row.
    * `values` is window-dense (row-major over the window's columns), NaN at
    * masked nodata; `missing` holds the window indices of masked nodata
    * cells and `absent` those the member did not supply (ragged grids).
    * `file` and `position` (the member's order in its file) identify the
    * member for the overlap dedup.
    */
  final case class GridRow(ts: Timestamp, file: String, position: Int, values: Array[Double],
      missing: Array[Int], absent: Array[Int]) {

    /** The long-row view: (ts, row, col, v) per supplied cell, v null at
      * masked nodata.
      */
    def readings(ncols: Int): Iterator[(Timestamp, Int, Int, java.lang.Double)] = {
      val (skip, miss) = (absent.toSet, missing.toSet)
      values.indices.iterator.filterNot(skip).map { i =>
        (ts, i / ncols, i % ncols, if (miss(i)) null else java.lang.Double.valueOf(values(i)))
      }
    }
  }

  /** A4 on grid rows: each member's weighted sum per basin over the basin's
    * kept cells the member supplies, as (basinID, ts, rain). A missing value
    * on a kept cell propagates NaN (numpy sum semantics, as the reference);
    * a basin none of whose kept cells the member supplies has no row. The
    * members must be one per timestamp. Runs as a map over `grids` with the
    * weights broadcast: no join, no shuffle.
    *
    * @param ncols     window width, to index `GridRow.values`.
    * @param numerator F7 scale divide (10: 0.1 mm -> mm).
    */
  def gridSeries(grids: Dataset[GridRow], ws: Seq[(Int, Int, Int, Double)], ncols: Int,
      numerator: Double): DataFrame = {
    val spark = grids.sparkSession
    import spark.implicits._
    val bw = spark.sparkContext.broadcast(ws.groupBy(_._1).toArray.map { case (id, cells) =>
      (id, cells.map(w => w._2 * ncols + w._3).toArray, cells.map(_._4).toArray) })
    grids.flatMap { g =>
      val absent = new java.util.BitSet(g.values.length)
      g.absent.foreach(absent.set)
      bw.value.iterator.flatMap { case (id, idx, wgt) =>
        var rain = 0.0
        var supplied = false
        var k = 0
        while (k < idx.length) {
          if (!absent.get(idx(k))) { rain += g.values(idx(k)) / numerator * wgt(k); supplied = true }
          k += 1
        }
        if (supplied) Some((id, g.ts, rain)) else None
      }
    }.toDF("basinID", "ts", "rain")
  }

  /** Streaming variant of the weighted aggregation (§2.11 stretch goal):
    * identical join/weight arithmetic over a STREAMING values frame, with a
    * watermark bounding the (basinID, window) state. The NaN-cleaning gate
    * is inherently retrospective (it needs the cell's full history), so the
    * streaming path takes precomputed weights — e.g. from a previous batch
    * run or `weights(cellMap, allKept)` — which is also the correct
    * production shape: the cell map is static dimension state.
    */
  def weightedSeriesStream(valuesStream: DataFrame, wgts: DataFrame,
      numerator: Double, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    valuesStream
      .withWatermark("ts", watermark)
      .join(broadcast(wgts), Seq("row", "col"))
      .select(col("basinID"), col("ts"),
        (coalesce(col("v"), lit(Double.NaN)) / lit(numerator) * col("wgt")).as("contrib"))
      .groupBy(col("basinID"), window(col("ts"), window_))
      .agg(sum(col("contrib")).as("rain"))
      .select(col("basinID"), col("window.start").as("wstart"), col("rain"))

  /** The chain over long rows: values (ts,row,col,v with nodata as null) +
    * basin cell map -> (basinID, ts, rain), with the same gate and weights
    * as [[gridSeries]]. Per-cell missing counts come from one
    * `groupBy(row, col)`; the weights join the readings as a broadcast.
    * `values` is read twice (counts, then sums): persist it when its lineage
    * is expensive.
    *
    * @param numerator F7 scale divide (10: 0.1 mm -> mm).
    */
  def weightedSeries(values: DataFrame, cellMap: DataFrame, numerator: Double): DataFrame = {
    val missing = values.groupBy("row", "col").agg(count(when(col("v").isNull, 1)))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val spark = values.sparkSession
    import spark.implicits._
    val ws = gatedWeights(cellMap, (r, c) => missing.getOrElse((r, c), -1L))
    values
      .join(broadcast(ws.toDF("basinID", "row", "col", "wgt")), Seq("row", "col"))
      .select(col("basinID"), col("ts"),
        (coalesce(col("v"), lit(Double.NaN)) / lit(numerator) * col("wgt")).as("contrib"))
      .groupBy("basinID", "ts")
      .agg(sum(col("contrib")).as("rain"))
  }
}
