package graft.api

import java.io.InputStream
import java.nio.charset.StandardCharsets.US_ASCII
import java.sql.Timestamp
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.core.{Grid, SpatialPipeline}
import graft.geo.{Crs, Geom}
import graft.ingest.{Archives, AsciiGrid, GeoTiff, Regnie, Shp}

/** The `radohydro()`-equivalent entry point (reference radohydro.py:503-546),
  * re-expressed as a Spark plan with one row per decoded grid:
  *
  *   binaryFile scan -> archive expand -> windowed raster parse (one
  *     window-dense row per grid member, persisted)
  *     -> collect member metadata: overlap dedup + per-cell missing counts
  *     -> collect basin/cell map -> NaN gate + weights (driver)
  *     -> map each kept grid to its per-basin weighted sums -> sinks
  *
  * The dedup keeps one member per timestamp (greatest file name, then last
  * position in that file; see [[keptMembers]]), so overlapping recent and
  * historical archives never double-count rain and the surviving copy does
  * not depend on task order. The clip window is computed once from the first
  * grid's header + basin bounds (reference X9/X1) and pushed into the parser
  * as a row/col range. Each scan task streams its archive through one reused
  * member buffer (one decoded grid's text at a time, never the whole decoded
  * archive; the compressed file itself arrives as one binaryFile array),
  * skips the rows before the window, converts only the window's columns to
  * numbers and stops reading a grid after the window's last row. The basin
  * dimension is read driver-side (small shapefile) and reprojected with
  * closed-form CRS math. Scale notes: `run` executes two jobs (the scan with
  * the metadata collect, and the cell map collect); no raster row passes
  * through a shuffle, a join or a window, and the series leaves the map with
  * one row per (basin, timestamp).
  */
object RadoHydro {

  final case class Config(
      datasource: String = "radolan",  // "radolan" | "regnie"
      startDate: Option[String] = None, // yyyyMMdd inclusive
      endDate: Option[String] = None,
      outCrs: String = "epsg:25833",
      shapeCrs: String = "epsg:25833",
      bufferCells: Int = 2,            // quirk Q7
      numerator: Double = 10.0,        // F7: 0.1 mm -> mm
      maskNodata: Boolean = true)      // false = faithful quirk Q1 (RADOLAN)

  final case class BasinInfo(basinID: Int, areaOut: Double, attrs: Map[String, Any],
      geomOut: Geom.Polygon)

  /** Grid metadata with independent x/y resolutions (REGNIE cells are
    * 1/60° x 1/120° — NOT square; ASCII grids are square by format).
    */
  final case class GridMeta(nrows: Int, ncols: Int, t: Grid.Transform, nodata: Double)

  final case class Result(series: DataFrame, basins: Seq[BasinInfo],
      window: Grid.Window, meta: GridMeta, attrOrder: Seq[String],
      cellMap: DataFrame, values: DataFrame)

  private def gridCrsNames(cfg: Config): (String, String, Double) = cfg.datasource match {
    // (CRS for windowing in raw units, CRS of cell/divided coords, divisor Q8)
    case "radolan" => ("radolan_m", "radolan_km", 1000.0)
    case "regnie"  => ("epsg:4326", "epsg:4326", 1.0)
    case other     => throw new IllegalArgumentException(s"unknown datasource $other")
  }

  private val radolanTsFmt = DateTimeFormatter.ofPattern("yyyyMMddHHmm")

  /** LocalDateTime -> Timestamp pinned to UTC (Timestamp.valueOf would use
    * the JVM default zone and skew every label on non-UTC hosts — the
    * session timezone is UTC everywhere in this engine).
    */
  private def utcTs(ldt: LocalDateTime): Timestamp =
    Timestamp.from(ldt.toInstant(java.time.ZoneOffset.UTC))

  /** Digits-concat filename timestamp parse (reference radohydro.py:64-78).
    * REGNIE member names carry 2-digit years parsed with Python's %y pivot
    * (69-99 -> 19xx, 00-68 -> 20xx; radohydro.py:434) — Java's 'yy' (base
    * 2000) would push 1999 data into 2099.
    */
  def parseMemberTs(datasource: String, name: String): Timestamp = {
    val digits = name.replaceAll("[^0-9]", "")
    datasource match {
      case "radolan" =>
        utcTs(LocalDateTime.parse(digits.take(12), radolanTsFmt))
      case _ =>
        val yy = digits.take(2).toInt
        val year = if (yy >= 69) 1900 + yy else 2000 + yy
        val d = java.time.LocalDate.of(year, digits.slice(2, 4).toInt, digits.slice(4, 6).toInt)
        utcTs(d.atStartOfDay)
    }
  }

  /** The raster files of a directory, by name, without the hidden ones
    * (names starting with '.' or '_', such as Hadoop `.crc` sidecars), which
    * the `binaryFile` scan skips too.
    */
  def gridFiles(dir: String): Array[java.io.File] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .sortBy(_.getName)

  /** Peek the first grid member in a directory (driver-side, reference X9:
    * the cell grid derives from the first grid only). Reads up to the end of
    * that member and no further.
    */
  def peekFirstGrid(dir: String, datasource: String): GridMeta = {
    val files = gridFiles(dir)
    require(files.nonEmpty, s"no grid files in $dir")
    val in = new java.io.BufferedInputStream(new java.io.FileInputStream(files.head), 64 * 1024)
    try {
      val members = Archives.members(files.head.getName, in)
      require(members.hasNext, s"no members in ${files.head}")
      val m = members.next()
      if (datasource == "regnie") {
        val text = new String(m.bytes, 0, m.length, US_ASCII)
        // minus the discarded trailer line (radohydro.py:442)
        val lines = math.max(0, text.linesIterator.size - 1)
        GridMeta(lines, Regnie.ValuesPerLine,
          Grid.Transform(Regnie.ulx, Regnie.xres, Regnie.uly, Regnie.yres),
          Regnie.Nodata.toDouble)
      } else if (isTiff(m.name)) {
        val (t, _) = GeoTiff.parse(m.copy(), rowRange = Some((0, 0)))
        GridMeta(t.nrows, t.ncols, Grid.Transform(t.ulx, t.xres, t.uly, t.yres), t.nodata)
      } else {
        val h = AsciiGrid.header(m.bytes, m.length)
        GridMeta(h.nrows, h.ncols, Grid.Transform(h.ulx, h.xres, h.uly, h.yres), h.nodata)
      }
    } finally in.close()
  }

  private def isTiff(name: String): Boolean = {
    val n = name.toLowerCase
    n.endsWith(".tif") || n.endsWith(".tiff")
  }

  /** What the scan reads from each raster file: the datasource, the clip
    * window as inclusive-exclusive raster row/col ranges, and the inclusive
    * date range.
    */
  final case class ScanSpec(datasource: String, rows: (Int, Int), cols: (Int, Int),
      startTs: Option[Timestamp] = None, endTs: Option[Timestamp] = None) {

    def inRange(ts: Timestamp): Boolean =
      startTs.forall(!ts.before(_)) && endTs.forall(!ts.after(_))

    /** S4 inter-level pruning (radohydro.py:296-297): false when a member
      * name carries a day outside the range, so a nested daily archive is
      * skipped before it is decompressed. RADOLAN names carry yyyyMMdd (8
      * digits); REGNIE daily members carry yyMMdd (6, Python %y pivot).
      */
    def mayHold(name: String): Boolean =
      if (startTs.isEmpty && endTs.isEmpty) true
      else {
        val digits = name.replaceAll("[^0-9]", "")
        val day8 =
          if (digits.length >= 8) Some(digits.take(8))
          else if (digits.length >= 6) {
            val yy = digits.take(2).toInt
            val year = if (yy >= 69) 1900 + yy else 2000 + yy
            Some(f"$year%04d" + digits.slice(2, 6))
          } else None
        day8 match {
          case None => true
          case Some(d8) =>
            try {
              val dayStart = utcTs(LocalDateTime.parse(d8 + "0000", radolanTsFmt))
              val dayEnd = utcTs(LocalDateTime.parse(d8 + "2359", radolanTsFmt))
              startTs.forall(!dayEnd.before(_)) && endTs.forall(!dayStart.after(_))
            } catch { case _: Exception => true }
        }
      }
  }

  /** One decoded grid member: its timestamp, nodata value and window cells. */
  final case class MemberGrid(ts: Timestamp, nodata: Double, cells: Iterator[AsciiGrid.Cell])

  /** Stream the in-range grid members of raster file `fname`. Members share
    * one buffer, so consume each member's cells before asking for the next.
    */
  def scanFile(fname: String, in: InputStream, spec: ScanSpec): Iterator[MemberGrid] = {
    val (rows, cols) = (Some(spec.rows), Some(spec.cols))
    Archives.members(fname, in, spec.mayHold).flatMap { m =>
      val ts = parseMemberTs(spec.datasource, m.name)
      if (!spec.inRange(ts)) Iterator.empty
      else if (spec.datasource == "regnie") {
        val nodata = Regnie.Nodata.toDouble
        val (cLo, cHi) = spec.cols
        val cells = Regnie.parseFile(new String(m.bytes, 0, m.length, US_ASCII), keepNodata = true,
            rowRange = rows).collect {
          case c if c.col >= cLo && c.col < cHi =>
            AsciiGrid.Cell(c.row, c.col, if (c.value.isNaN) nodata else c.value)
        }
        Iterator.single(MemberGrid(ts, nodata, cells))
      } else if (isTiff(m.name)) {
        val (t, cells) = GeoTiff.parse(m.copy(), rows, cols)
        Iterator.single(MemberGrid(ts, t.nodata, cells.map(c => AsciiGrid.Cell(c.row, c.col, c.value))))
      } else {
        val (h, cells) = AsciiGrid.scan(m.bytes, m.length, rows, cols)
        Iterator.single(MemberGrid(ts, h.nodata, cells))
      }
    }
  }

  /** The scan task's work on one raster file: one [[SpatialPipeline.GridRow]]
    * per in-range grid member, nodata masked when `maskNodata`.
    */
  def gridRows(fname: String, in: InputStream, spec: ScanSpec,
      maskNodata: Boolean): Iterator[SpatialPipeline.GridRow] = {
    val (rLo, cLo) = (spec.rows._1, spec.cols._1)
    val ncols = spec.cols._2 - cLo
    val n = (spec.rows._2 - rLo) * ncols
    scanFile(fname, in, spec).zipWithIndex.map { case (g, position) =>
      val values = Array.fill(n)(Double.NaN)
      val absent = new java.util.BitSet(n)
      absent.set(0, n)
      val missing = Array.newBuilder[Int]
      g.cells.foreach { c =>
        val i = (c.row - rLo) * ncols + c.col - cLo
        absent.clear(i)
        if (maskNodata && c.value == g.nodata) missing += i else values(i) = c.value
      }
      SpatialPipeline.GridRow(g.ts, fname, position, values, missing.result(), absent.stream.toArray)
    }
  }

  /** Window-relative (ts, row, col, v) readings of one raster file, v null
    * for nodata when `maskNodata`.
    */
  def readings(fname: String, in: InputStream, spec: ScanSpec,
      maskNodata: Boolean): Iterator[(Timestamp, Int, Int, java.lang.Double)] =
    gridRows(fname, in, spec, maskNodata).flatMap(_.readings(spec.cols._2 - spec.cols._1))

  /** A grid member's metadata: a [[SpatialPipeline.GridRow]] without values. */
  final case class Member(ts: Timestamp, file: String, position: Int, missing: Array[Int],
      absent: Array[Int])

  /** The overlap dedup: one member per timestamp, from the greatest file
    * name, then the last position in that file, whatever order the members
    * arrive in. Overlapping recent and historical archives would otherwise
    * double-count rain.
    */
  def keptMembers(members: Seq[Member]): Seq[Member] =
    members.groupBy(_.ts).values.map(_.maxBy(m => (m.file, m.position))).toSeq

  /** Run the pipeline. `gridDir` holds raster files (plain .asc, .tar,
    * .tar.gz or .gz members); `shpPath` the basin polygons.
    */
  def run(spark: SparkSession, gridDir: String, shpPath: String,
      cfg: Config = Config()): Result = {
    import spark.implicits._
    val (rawCrsName, cellCrsName, divisor) = gridCrsNames(cfg)
    val rawCrs = Crs.of(rawCrsName)
    val shapeCrs = Crs.of(cfg.shapeCrs)
    val outCrs = Crs.of(cfg.outCrs)

    // --- basin dimension (driver-side: small; broadcast below) -------------
    val layer = Shp.read(shpPath)
    val basinsRaw = layer.features.zipWithIndex.map { case (f, i) =>
      (i + 1, f.geom, f.attrs) // basinID in polygon order (geotools.py:213)
    }
    val basinInfos = basinsRaw.map { case (id, g, attrs) =>
      val gOut = Crs.reproject(g, shapeCrs, outCrs)
      BasinInfo(id, Geom.area(gOut), attrs, gOut) // Q10 area + output-CRS geometry
    }

    // --- window from first grid + basin bounds (X1/X9, Q6/Q7) --------------
    val meta = peekFirstGrid(gridDir, cfg.datasource)
    val t = meta.t
    val basinsRawCrs = basinsRaw.map { case (id, g, _) => (id, Crs.reproject(g, shapeCrs, rawCrs)) }
    val allBounds = {
      val bs = basinsRawCrs.map { case (_, g) => Geom.bbox(g) }
      (bs.map(_._1).min, bs.map(_._2).min, bs.map(_._3).max, bs.map(_._4).max)
    }
    val win = Grid.bufferedWindow(t, meta.nrows, meta.ncols, allBounds, cfg.bufferCells)
    val tShift = Grid.shifted(t, win)

    // --- basin -> cell map (grid-bucketed spatial join, J2) -----------------
    val basinsDf = basinsRawCrs.map { case (id, g) =>
      // cell coordinates are divided by `divisor` (Q8) — bring basins to the
      // same space: raw grid CRS coords / divisor == cellCrsName units
      (id, g.map(r => r.map(_ / divisor).toSeq).toSeq)
    }.toDF("basinID", "geom")
    val cellMap = SpatialPipeline.basinCellMap(
      basinsDf, tShift, win.nrows, win.ncols, divisor, cellCrsName, cfg.outCrs)

    // --- distributed raster scan with window pushdown: one row per grid ---
    val spec = ScanSpec(cfg.datasource, (win.rowLo, win.rowHi), (win.colLo, win.colHi),
      cfg.startDate.map(s => utcTs(LocalDateTime.parse(s + "0000", radolanTsFmt))),
      cfg.endDate.map(s => utcTs(LocalDateTime.parse(s + "2359", radolanTsFmt))))
    val mask = cfg.maskNodata
    val grids = spark.read.format("binaryFile").load(gridDir)
      .select("path", "content").as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val fname = path.substring(path.lastIndexOf('/') + 1)
        gridRows(fname, new java.io.ByteArrayInputStream(bytes), spec, mask)
      }
      .persist(StorageLevel.MEMORY_AND_DISK)

    // --- dedup and per-cell missing counts from the members' metadata -------
    val kept = keptMembers(grids.select("ts", "file", "position", "missing", "absent").as[Member]
      .collect().toSeq)
    val keep = kept.map(m => (m.file, m.position)).toSet
    val nMissing = new Array[Long](win.nrows * win.ncols)
    val nAbsent = new Array[Int](win.nrows * win.ncols)
    kept.foreach { m => m.missing.foreach(nMissing(_) += 1); m.absent.foreach(nAbsent(_) += 1) }
    val winners = grids.filter(g => keep((g.file, g.position)))

    // --- gate + weights on the driver, weighted sums per grid (A2/A3/A4) -----
    val ws = SpatialPipeline.gatedWeights(cellMap, { (r, c) =>
      val i = r * win.ncols + c
      if (nAbsent(i) == kept.size) -1L else nMissing(i)
    })
    val series = SpatialPipeline.gridSeries(winners, ws, win.ncols, cfg.numerator)
    val values = winners.flatMap(_.readings(win.ncols)).toDF("ts", "row", "col", "v")
    Result(series, basinInfos, win, meta, layer.fields.map(_._1), cellMap, values)
  }
}
