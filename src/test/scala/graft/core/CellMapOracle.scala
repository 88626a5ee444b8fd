package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The cell map as a Catalyst plan — bbox explode, cell boxes and the
  * `graft_clip_areas` expression — kept as the oracle
  * `SpatialPipeline.cellMap` must match bit for bit.
  */
object CellMapOracle {

  /** One row per (basin, covered cell) with areas.
    *
    * @param basins   (basinID, geom) with geometry in GRID CRS units (already
    *                 divided for the km case — same space as the cell boxes).
    * @param t        transform of the (windowed) grid, raw units.
    * @param divisor  Q8 coordinate divisor (1000 for RADOLAN km, 1 otherwise).
    * @param gridCrs  CRS name of cell/basin coordinates (e.g. "radolan_km").
    * @param outCrs   output CRS name for area measurement (e.g. "epsg:25833").
    */
  def basinCellMap(basins: DataFrame, t: Grid.Transform, nrows: Int, ncols: Int,
      divisor: Double, gridCrs: String, outCrs: String): DataFrame = {
    val exploded = SpatialPipeline.explodeToCells(basins, t, nrows, ncols, divisor)
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
}
