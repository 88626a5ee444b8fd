package graft.api

import java.io.InputStream
import java.nio.charset.StandardCharsets.US_ASCII
import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.SerializableConfiguration

import graft.core.{Grid, SpatialPipeline}
import graft.geo.{Crs, Geom}
import graft.ingest.{Archives, AsciiGrid, Cell, GeoTiff, Regnie, Shp}

/** The `radohydro()`-equivalent entry point (reference radohydro.py:503-546),
  * re-expressed as a Spark plan with one row per decoded grid:
  *
  *   path-only binaryFile listing -> Hadoop FS open -> archive expand
  *     -> windowed raster parse (one window-dense row per grid member,
  *     persisted)
  *     -> collect member metadata: overlap dedup + per-cell missing counts
  *     -> collect basin/cell map -> NaN gate + weights (driver)
  *     -> map each kept grid to its per-basin weighted sums -> sinks
  *
  * The dedup keeps one member per timestamp (greatest file name, then last
  * position in that file; see [[keptMembers]]), so overlapping recent and
  * historical archives never double-count rain and the surviving copy does
  * not depend on task order. The clip window is computed once from the first
  * grid's header + basin bounds (reference X9/X1) and pushed into the parser
  * as a row/col range. Spark lists and packs the files (`binaryFile`, path
  * column only); each scan task opens its files through Hadoop `FileSystem`,
  * so any Hadoop scheme works, and streams each archive through one reused
  * member buffer (one decoded grid's text at a time, never a whole file),
  * skips the rows before the window, converts only the window's columns to
  * numbers and stops reading a grid after the window's last row. The basin
  * dimension is read driver-side (small shapefile) and reprojected with
  * closed-form CRS math. Scale notes: `run` executes two jobs (the scan with
  * the metadata collect, and the cell map collect); no raster row passes
  * through a shuffle, a join or a window, and the series leaves the map with
  * one row per (basin, timestamp). [[stream]] runs the same scan and series
  * map over files as they arrive, with a batch run's window and weights.
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

  /** A run's output. `weights` are the gated (basinID, row, col, wgt) cell
    * weights the series was computed with, window-relative like `cellMap`.
    */
  final case class Result(series: DataFrame, basins: Seq[BasinInfo],
      window: Grid.Window, meta: GridMeta, attrOrder: Seq[String],
      cellMap: DataFrame, values: DataFrame, weights: Seq[(Int, Int, Int, Double)])

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

  /** The day of a REGNIE name's leading yyMMdd digits, the 2-digit year
    * read with Python's %y pivot (69-99 -> 19xx, 00-68 -> 20xx;
    * radohydro.py:434) — Java's 'yy' (base 2000) would push 1999 data into
    * 2099.
    */
  private def regnieDay(digits: String): LocalDate = {
    val yy = digits.take(2).toInt
    LocalDate.of(if (yy >= 69) 1900 + yy else 2000 + yy, digits.slice(2, 4).toInt, digits.slice(4, 6).toInt)
  }

  /** Digits-concat filename timestamp parse (reference radohydro.py:64-78):
    * yyyyMMddHHmm for RADOLAN, [[regnieDay]] otherwise.
    */
  def parseMemberTs(datasource: String, name: String): Timestamp = {
    val digits = name.replaceAll("[^0-9]", "")
    datasource match {
      case "radolan" => utcTs(LocalDateTime.parse(digits.take(12), radolanTsFmt))
      case _         => utcTs(regnieDay(digits).atStartOfDay)
    }
  }

  /** The raster files of `dir` as one path-only `binaryFile` relation:
    * Spark's Hadoop listing (names starting with '.' or '_', such as Hadoop
    * `.crc` sidecars, are hidden), its file packing into scan tasks, and no
    * `content` column, so no file's bytes are read into a row.
    */
  private[graft] def rasterFiles(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile").load(dir).select("path")

  /** The files of a [[rasterFiles]] relation, by name. */
  private[graft] def paths(files: DataFrame): Seq[Path] =
    files.inputFiles.toSeq.map(u => new Path(new java.net.URI(u))).sortBy(_.getName)

  /** Open a raster file through its Hadoop `FileSystem`, buffered. */
  private[graft] def open(path: Path, conf: Configuration): InputStream =
    new java.io.BufferedInputStream(path.getFileSystem(conf).open(path), 64 * 1024)

  /** The first grid member's metadata, from the first raster file by name
    * (driver-side, reference X9: the cell grid derives from the first grid
    * only), read through [[scanFile]] with an empty window: it reads up to
    * the end of that member and decodes no cell.
    */
  def peekFirstGrid(files: DataFrame, datasource: String): GridMeta = {
    val first = paths(files).headOption.getOrElse(throw new IllegalArgumentException("no grid files"))
    val in = open(first, files.sparkSession.sessionState.newHadoopConf())
    try {
      scanFile(first.getName, in, ScanSpec(datasource, (0, 0), (0, 0))).nextOption()
        .getOrElse(throw new IllegalArgumentException(s"no members in $first")).meta
    } finally in.close()
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
        try {
          val day =
            if (digits.length >= 8) Some(LocalDate.parse(digits.take(8), DateTimeFormatter.BASIC_ISO_DATE))
            else if (digits.length >= 6) Some(regnieDay(digits))
            else None
          day.forall { d =>
            startTs.forall(!utcTs(d.atTime(23, 59)).before(_)) && endTs.forall(!utcTs(d.atStartOfDay).after(_))
          }
        } catch { case _: Exception => true }
      }
  }

  private def isTiff(name: String): Boolean = {
    val n = name.toLowerCase
    n.endsWith(".tif") || n.endsWith(".tiff")
  }

  /** One decoded grid member: its timestamp, grid metadata and window cells. */
  final case class MemberGrid(ts: Timestamp, meta: GridMeta, cells: Iterator[Cell])

  /** Stream the in-range grid members of raster file `fname`: the one place
    * that picks a decoder (REGNIE text by datasource, GeoTIFF by member
    * name, ESRI ASCII otherwise). Members share one buffer, so consume each
    * member's cells before asking for the next.
    */
  def scanFile(fname: String, in: InputStream, spec: ScanSpec): Iterator[MemberGrid] = {
    val (rows, cols) = (Some(spec.rows), Some(spec.cols))
    Archives.members(fname, in, spec.mayHold).flatMap { m =>
      val ts = parseMemberTs(spec.datasource, m.name)
      if (!spec.inRange(ts)) Iterator.empty
      else Iterator.single(if (spec.datasource == "regnie") {
        val text = new String(m.bytes, 0, m.length, US_ASCII)
        val (cLo, cHi) = spec.cols
        // minus the discarded trailer line (radohydro.py:442)
        MemberGrid(ts, GridMeta(math.max(0, text.linesIterator.size - 1), Regnie.ValuesPerLine,
            Grid.Transform(Regnie.ulx, Regnie.xres, Regnie.uly, Regnie.yres), Regnie.Nodata.toDouble),
          Regnie.parseFile(text, keepNodata = true, rowRange = rows).filter(c => c.col >= cLo && c.col < cHi))
      } else if (isTiff(m.name)) {
        val (t, cells) = GeoTiff.parse(m.copy(), rows, cols)
        MemberGrid(ts, GridMeta(t.nrows, t.ncols, Grid.Transform(t.ulx, t.xres, t.uly, t.yres), t.nodata), cells)
      } else {
        val (h, cells) = AsciiGrid.scan(m.bytes, m.length, rows, cols)
        MemberGrid(ts, GridMeta(h.nrows, h.ncols, Grid.Transform(h.ulx, h.xres, h.uly, h.yres), h.nodata), cells)
      })
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
        if (maskNodata && c.value == g.meta.nodata) missing += i else values(i) = c.value
      }
      SpatialPipeline.GridRow(g.ts, fname, position, values, missing.result(), absent.stream.toArray)
    }
  }

  /** The scan: [[gridRows]] over each file of a path relation, batch or
    * streaming. Each task opens its files through Hadoop `FileSystem` and
    * closes each stream once its members are consumed, and again on task
    * completion.
    */
  def scanGrids(files: DataFrame, spec: ScanSpec, maskNodata: Boolean): Dataset[SpatialPipeline.GridRow] = {
    val spark = files.sparkSession
    import spark.implicits._
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    files.as[String].flatMap { p =>
      val path = new Path(p)
      val in = open(path, conf.value.value)
      TaskContext.get().addTaskCompletionListener[Unit](_ => in.close())
      val rows = gridRows(path.getName, in, spec, maskNodata)
      new Iterator[SpatialPipeline.GridRow] {
        def hasNext: Boolean = rows.hasNext || { in.close(); false }
        def next(): SpatialPipeline.GridRow = rows.next()
      }
    }
  }

  /** What a run over `win` with `cfg` reads: the window's rows and columns
    * and the config's inclusive date range.
    */
  private def scanSpec(cfg: Config, win: Grid.Window): ScanSpec =
    ScanSpec(cfg.datasource, (win.rowLo, win.rowHi), (win.colLo, win.colHi),
      cfg.startDate.map(s => utcTs(LocalDateTime.parse(s + "0000", radolanTsFmt))),
      cfg.endDate.map(s => utcTs(LocalDateTime.parse(s + "2359", radolanTsFmt))))

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
    val files = rasterFiles(spark, gridDir)
    val meta = peekFirstGrid(files, cfg.datasource)
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
    val grids = scanGrids(files, scanSpec(cfg, win), cfg.maskNodata).persist(StorageLevel.MEMORY_AND_DISK)

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
    Result(series, basinInfos, win, meta, layer.fields.map(_._1), cellMap, values, ws)
  }

  /** The pipeline over the raster files of `gridDir` as they arrive: a
    * streaming (basinID, ts, rain) frame with one append-mode row per
    * (basin, arriving grid), from the scan of [[run]] and
    * [[SpatialPipeline.gridSeries]] with `res`'s window and gated weights.
    * The NaN gate and the overlap dedup need the whole history, so they stay
    * with the batch `res`: the stream keeps no state, and a timestamp that
    * arrives twice gives its rows twice. `cfg` is the config `res` ran with.
    */
  def stream(spark: SparkSession, gridDir: String, res: Result, cfg: Config = Config()): DataFrame = {
    val files = spark.readStream.format("binaryFile")
      .schema(spark.read.format("binaryFile").load(gridDir).schema).load(gridDir).select("path")
    SpatialPipeline.gridSeries(scanGrids(files, scanSpec(cfg, res.window), cfg.maskNodata),
      res.weights, res.window.ncols, cfg.numerator)
  }
}
