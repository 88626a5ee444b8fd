package graft.ingest

/** One decoded raster cell, as every grid decoder (AsciiGrid, GeoTiff,
  * Regnie) emits it: raster row (0 = north), column and value.
  */
final case class Cell(row: Int, col: Int, value: Double)
