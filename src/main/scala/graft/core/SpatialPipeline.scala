package graft.core

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuilder
import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.{Clip, Crs, Geom}

/** The flagship operator chain (SURVEY J2 + A2 + A3 + A4): basin polygons x
  * raster cell grid -> area-weighted per-basin time series.
  *
  * Spark formulation (SURVEY §4, the "grid-bucketed spatial join"): instead
  * of a geometric overlay (the reference's GEOS `gp.overlay`,
  * geotools.py:215-219 — its published scaling cliff at >10k polygons), each
  * basin's bbox is mapped to the covered cell-index ranges and each cell of
  * that range is clipped, in one map over the basins ([[cellMap]]) before
  * any raster is read. The cell map is collected as primitive arrays; its
  * distinct cells ([[Slots]]) are the only cells a grid row keeps. The NaN
  * gate and the weights are computed from it on the driver
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

  /** Explode each polygon row to its bbox-covered (row, col) cell indices —
    * the bucketing step of rasterize. Input must carry a `geom` column in
    * grid-CRS/divisor units; all columns pass through.
    */
  def explodeToCells(polys: DataFrame, t: Grid.Transform, nrows: Int, ncols: Int,
      divisor: Double): DataFrame = {
    val tx = t.ulx / divisor; val rx = t.xres / divisor
    val ty = t.uly / divisor; val ry = t.yres / divisor // ry < 0
    // geometry kernels are native Catalyst expressions (functions/
    // GeoExpressions.scala, no ScalaUDF row boxing)
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

  /** The basin -> cell map as primitive columns: one entry per (basin,
    * covered cell), basins ascending and each basin's cells by (row, col).
    * Rows and columns are window-relative; both areas are measured in the
    * output CRS.
    */
  final case class CellMap(basinID: Array[Int], row: Array[Int], col: Array[Int],
      clipArea: Array[Double], cellArea: Array[Double]) {

    def size: Int = basinID.length

    /** The map as a (basinID, row, col, clip_area, cell_area) frame. */
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      (0 until size).map(i => (basinID(i), row(i), col(i), clipArea(i), cellArea(i)))
        .toDF("basinID", "row", "col", "clip_area", "cell_area")
    }
  }

  object CellMap {

    /** Collect a (basinID, row, col, clip_area, cell_area) frame, in
      * [[CellMap]] order.
      */
    def of(df: DataFrame): CellMap = {
      val rows = df.select("basinID", "row", "col", "clip_area", "cell_area").collect()
        .sortBy(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
      CellMap(rows.map(_.getInt(0)), rows.map(_.getInt(1)), rows.map(_.getInt(2)),
        rows.map(_.getDouble(3)), rows.map(_.getDouble(4)))
    }
  }

  /** J2, the basin -> cell map, before any raster is read: one map over the
    * basins (at most one task per basin, up to the default parallelism),
    * collected as primitive arrays.
    *
    * @param basins   (basinID, polygon) with geometry in GRID CRS units,
    *                 already divided for the km case (the cell boxes' space).
    * @param t        transform of the (windowed) grid, raw units.
    * @param divisor  Q8 coordinate divisor (1000 for RADOLAN km, 1 otherwise).
    * @param gridCrs  CRS name of cell/basin coordinates (e.g. "radolan_km").
    * @param outCrs   output CRS name for area measurement (e.g. "epsg:25833").
    */
  def cellMap(spark: SparkSession, basins: Seq[(Int, Geom.Polygon)], t: Grid.Transform, nrows: Int,
      ncols: Int, divisor: Double, gridCrs: String, outCrs: String): CellMap = {
    val parts = math.max(1, math.min(basins.size, spark.sparkContext.defaultParallelism))
    val pieces = spark.sparkContext.parallelize(basins.sortBy(_._1), parts)
      .mapPartitions(it => Iterator.single(clipBasins(it, t, nrows, ncols, divisor, Crs.of(gridCrs), Crs.of(outCrs))))
      .collect().toIndexedSeq
    def cat[T: ClassTag](column: CellMap => Array[T]): Array[T] = Array.concat(pieces.map(column): _*)
    CellMap(cat(_.basinID), cat(_.row), cat(_.col), cat(_.clipArea), cat(_.cellArea))
  }

  /** The cell map of `basins`, in their order: each basin's bbox maps to a
    * cell range, each cell of that range is clipped ([[Clip.clipAreas]]) and
    * kept when its clip area exceeds 1e-12 of the cell's. The arithmetic is
    * the `graft_clip_areas` plan's (floor of the offset over the resolution,
    * clamped to the window; cell edges as origin + index * resolution), so
    * the areas are the same bits.
    */
  private def clipBasins(basins: Iterator[(Int, Geom.Polygon)], t: Grid.Transform, nrows: Int, ncols: Int,
      divisor: Double, src: Crs, dst: Crs): CellMap = {
    val tx = t.ulx / divisor; val rx = t.xres / divisor
    val ty = t.uly / divisor; val ry = t.yres / divisor // ry < 0
    val (ids, rows, cols) = (ArrayBuilder.make[Int], ArrayBuilder.make[Int], ArrayBuilder.make[Int])
    val (clips, cells) = (ArrayBuilder.make[Double], ArrayBuilder.make[Double])
    basins.foreach { case (id, g) =>
      // an empty geometry bboxes to +/-Infinity: its ranges come out empty
      val (xmin, ymin, xmax, ymax) = Geom.bbox(g)
      val colLo = math.max(0L, math.floor((xmin - tx) / rx).toLong)
      val colHi = math.min(ncols - 1L, math.floor((xmax - tx) / rx).toLong)
      val rowLo = math.max(0L, math.floor((ymax - ty) / ry).toLong)
      val rowHi = math.min(nrows - 1L, math.floor((ymin - ty) / ry).toLong)
      var r = rowLo
      while (r <= rowHi) {
        var c = colLo
        while (c <= colHi) {
          val (clip, cell) = Clip.clipAreas(g, tx + c.toInt * rx, ty + (r.toInt + 1) * ry,
            tx + (c.toInt + 1) * rx, ty + r.toInt * ry, src, dst)
          if (clip > 1e-12 * cell) {
            ids += id; rows += r.toInt; cols += c.toInt; clips += clip; cells += cell
          }
          c += 1
        }
        r += 1
      }
    }
    CellMap(ids.result(), rows.result(), cols.result(), clips.result(), cells.result())
  }

  /** The covered cells of a window: the window indices (row * ncols + col)
    * of every cell some basin's cell map holds, ascending. A covered cell's
    * slot is its position in `cells`; grid rows hold covered slots only.
    */
  final case class Slots(cells: Array[Int], ncols: Int) {

    def size: Int = cells.length
    def row(s: Int): Int = cells(s) / ncols
    def col(s: Int): Int = cells(s) % ncols

    /** The slot of each window index up to the last covered one, -1 where
      * no basin covers the cell.
      */
    def index: Array[Int] = {
      val a = new Array[Int](if (cells.isEmpty) 0 else cells.last + 1)
      java.util.Arrays.fill(a, -1)
      var s = 0
      while (s < cells.length) { a(cells(s)) = s; s += 1 }
      a
    }
  }

  object Slots {

    /** The covered cells of `cells`, a cell map over a window `ncols` wide. */
    def of(cells: CellMap, ncols: Int): Slots = {
      val idx = Array.tabulate(cells.size)(i => cells.row(i) * ncols + cells.col(i))
      java.util.Arrays.sort(idx)
      var n = 0
      var i = 0
      while (i < idx.length) {
        if (n == 0 || idx(i) != idx(n - 1)) { idx(n) = idx(i); n += 1 }
        i += 1
      }
      Slots(java.util.Arrays.copyOf(idx, n), ncols)
    }
  }

  /** Gated cell weights as CSR arrays: basin `basinID(k)` weighs the slots
    * `slot(offsets(k) until offsets(k + 1))` by the matching `wgt`, slots
    * ascending.
    */
  final case class Weights(basinID: Array[Int], offsets: Array[Int], slot: Array[Int], wgt: Array[Double])

  /** A2 + A3 on the driver: the one home of the NaN gate and the weight
    * normalization. `missing(slot)` is the number of missing readings of a
    * covered cell, or -1 when the cell has no reading at all (it then takes
    * no part in its basin). A2 (geotools.py:254-260), per basin: if the
    * number of cells with MORE THAN ONE missing reading is smaller than the
    * cell count, drop cells with ANY missing reading; otherwise keep all. A3
    * (geotools.py:262) weighs the kept cells: w = (clip/cell) /
    * sum(clip/cell) over the basin.
    */
  def gatedWeights(cells: CellMap, slots: Slots, missing: Int => Long): Weights = {
    val (ids, offsets) = (ArrayBuilder.make[Int], ArrayBuilder.make[Int])
    val (slotOut, wgt) = (ArrayBuilder.make[Int], ArrayBuilder.make[Double])
    val slotOf = slots.index
    offsets += 0
    var n = 0
    var i = 0
    while (i < cells.size) {
      var j = i
      while (j < cells.size && cells.basinID(j) == cells.basinID(i)) j += 1
      val pairs = (i until j).map(k => (k, slotOf(cells.row(k) * slots.ncols + cells.col(k))))
      val seen = pairs.map { case (k, s) => (k, s, missing(s)) }.filter(_._3 >= 0)
      val bad = seen.count(_._3 > 1)
      val kept = if (bad < seen.size) seen.filter(_._3 == 0) else seen
      var total = 0.0
      kept.foreach { case (k, _, _) => total += cells.clipArea(k) / cells.cellArea(k) }
      kept.foreach { case (k, s, _) => slotOut += s; wgt += cells.clipArea(k) / cells.cellArea(k) / total }
      n += kept.size
      ids += cells.basinID(i)
      offsets += n
      i = j
    }
    Weights(ids.result(), offsets.result(), slotOut.result(), wgt.result())
  }

  /** One decoded grid member of the window, the flagship's raster row,
    * over the covered cells of the run's [[Slots]]: `values` holds one
    * value per slot, NaN at masked nodata; `missing` holds the slots of
    * masked nodata cells and `absent` those the member did not supply
    * (ragged grids). `file` and `position` (the member's order in its file)
    * identify the member for the overlap dedup.
    */
  final case class GridRow(ts: Timestamp, file: String, position: Int, values: Array[Double],
      missing: Array[Int], absent: Array[Int]) {

    /** The long-row view: (ts, row, col, v) per supplied slot, v null at
      * masked nodata.
      */
    def readings(slots: Slots): Iterator[(Timestamp, Int, Int, java.lang.Double)] = {
      val (skip, miss) = (new java.util.BitSet(values.length), new java.util.BitSet(values.length))
      absent.foreach(skip.set)
      missing.foreach(miss.set)
      values.indices.iterator.filterNot(skip.get).map { s =>
        (ts, slots.row(s), slots.col(s), if (miss.get(s)) null else java.lang.Double.valueOf(values(s)))
      }
    }
  }

  /** A4 on grid rows: each member's weighted sum per basin over the basin's
    * kept cells the member supplies, as (basinID, ts, rain). A missing value
    * on a kept cell propagates NaN (numpy sum semantics, as the reference);
    * a basin none of whose kept cells the member supplies has no row, and a
    * timestamp held by two members has two. Runs as a map over `grids`
    * (batch or streaming) with the weights broadcast: no join, no shuffle.
    *
    * @param numerator F7 scale divide (10: 0.1 mm -> mm).
    */
  def gridSeries(grids: Dataset[GridRow], ws: Weights, numerator: Double): DataFrame = {
    val spark = grids.sparkSession
    import spark.implicits._
    val bw = spark.sparkContext.broadcast(ws)
    grids.flatMap { g =>
      val absent = new java.util.BitSet(g.values.length)
      g.absent.foreach(absent.set)
      val w = bw.value
      Iterator.range(0, w.basinID.length).flatMap { k =>
        var rain = 0.0
        var supplied = false
        var p = w.offsets(k)
        while (p < w.offsets(k + 1)) {
          val s = w.slot(p)
          if (!absent.get(s)) { rain += g.values(s) / numerator * w.wgt(p); supplied = true }
          p += 1
        }
        if (supplied) Some((w.basinID(k), g.ts, rain)) else None
      }
    }.toDF("basinID", "ts", "rain")
  }

  /** The chain over long rows, kept as the reference [[gridSeries]] is
    * checked against (GridRowSpec, SpatialPipelineGoldenSpec) and timed
    * against (perfbench's traced split); no production path runs it.
    * values (ts,row,col,v with nodata as null) + basin cell map ->
    * (basinID, ts, rain), with the same gate and weights as [[gridSeries]].
    * Per-cell missing counts come from one `groupBy(row, col)`; the weights
    * join the readings as a broadcast. `values` is read twice (counts, then
    * sums): persist it when its lineage is expensive.
    *
    * @param numerator F7 scale divide (10: 0.1 mm -> mm).
    */
  def weightedSeries(values: DataFrame, cellMap: DataFrame, numerator: Double): DataFrame = {
    val missing = values.groupBy("row", "col").agg(count(when(col("v").isNull, 1)))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val spark = values.sparkSession
    import spark.implicits._
    val cells = CellMap.of(cellMap)
    val slots = Slots.of(cells, if (cells.size == 0) 1 else cells.col.max + 1)
    val ws = gatedWeights(cells, slots, s => missing.getOrElse((slots.row(s), slots.col(s)), -1L))
    val wdf = ws.basinID.indices.flatMap { k =>
      (ws.offsets(k) until ws.offsets(k + 1)).map(p => (ws.basinID(k), slots.row(ws.slot(p)), slots.col(ws.slot(p)), ws.wgt(p)))
    }.toDF("basinID", "row", "col", "wgt")
    values
      .join(broadcast(wdf), Seq("row", "col"))
      .select(col("basinID"), col("ts"),
        (coalesce(col("v"), lit(Double.NaN)) / lit(numerator) * col("wgt")).as("contrib"))
      .groupBy("basinID", "ts")
      .agg(sum(col("contrib")).as("rain"))
  }
}
