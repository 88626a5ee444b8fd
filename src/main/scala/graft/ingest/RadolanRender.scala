package graft.ingest

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.geo.Geom

/** Deterministic RADOLAN-layout fixtures: daily `.tar.gz` archives of hourly
  * ASCII grids cut from the 900x900 km RADOLAN grid, and hash-placed
  * pentagon basins. The one renderer behind ScaleProbe's flagship probes and
  * the flagship surface queries (`operators.GeoPipelineOps`).
  */
object RadolanRender {

  /** A `rows` x `cols` block of the RADOLAN grid (1 km cells, row 0 north)
    * whose north-west cell is (row0, col0) of the full grid. Its lower-left
    * corner is in stereographic METERS, the raw ASCII header CRS.
    */
  final case class Block(row0: Int, col0: Int, rows: Int, cols: Int) {
    def xllM: Double = -523462.0 + col0 * 1000.0
    def yllM: Double = -4658645.0 + (900 - row0 - rows) * 1000.0
  }

  val Full: Block = Block(0, 0, 900, 900)

  /** Deterministic value of full-grid cell (r, c) at `hour`: 0..399
    * rainfall tenths with ~0.1% nodata (-1), enough to exercise the A2 gate.
    */
  def cellValue(r: Int, c: Int, hour: Int): Double =
    if ((r * 7919 + c * 104729 + hour) % 1000 == 0) -1.0
    else (((r * 31 + c * 7 + hour * 13) % 400) + hour % 24).toDouble

  private def hashIn(seed: String, mod: Int): Int =
    math.floorMod(scala.util.hashing.MurmurHash3.stringHash(seed), mod)

  /** Basin `id`: a pentagon 4-8 km across in radolan METERS, its corner
    * hash-placed `2 + [0, spanX)` km east and `2 + [0, spanY)` km north of
    * the block's lower-left corner.
    */
  def pentagon(id: Int, b: Block, spanX: Int, spanY: Int): Geom.Polygon = {
    val x0 = (b.xllM / 1000 + 2.0 + hashIn(s"sp-x-$id", spanX)) * 1000
    val y0 = (b.yllM / 1000 + 2.0 + hashIn(s"sp-y-$id", spanY)) * 1000
    val w = (3.0 + hashIn(s"sp-w-$id", 40) / 10.0) * 1000
    Array(Array(x0, y0, x0 + w, y0 + 1000.0, x0 + w + 1000.0, y0 + w,
      x0 + w / 2, y0 + w + 1000.0, x0, y0 + w))
  }

  /** Write `dir/RW-201801dd.tar.gz`, one `RW_201801dd_HH50.asc` member per
    * hour of `hours` holding the block at hour index `(day - 1) * 24 + hour`.
    * The archive is moved into place whole, so a reader never sees part of it.
    */
  def writeDay(dir: String, b: Block, day: Int, hours: Seq[Int]): Unit = {
    val h = AsciiGrid.Header(b.cols, b.rows, b.xllM, b.yllM, 1000.0, -1.0)
    val members = hours.map { hour =>
      val vals = Array.tabulate(b.rows, b.cols)((r, c) =>
        cellValue(b.row0 + r, b.col0 + c, (day - 1) * 24 + hour))
      Archives.Member(f"RW_201801$day%02d_$hour%02d50.asc", AsciiGrid.render(h, vals).getBytes("US-ASCII"))
    }
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(Archives.tar(members)); gz.close()
    val tmp = Paths.get(dir, f".RW-201801$day%02d.tar.gz.tmp")
    Files.write(tmp, bos.toByteArray)
    Files.move(tmp, Paths.get(dir, f"RW-201801$day%02d.tar.gz"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }
}
