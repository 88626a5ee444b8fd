package graft.ingest

import java.nio.charset.StandardCharsets.US_ASCII

/** ESRI ASCII grid parser (SURVEY S6) — replaces the reference's
  * rasterio/GDAL decode (radohydro.py:211-222) with a dependency-free byte
  * scanner that supports **window pushdown**: callers pass the clip window
  * (row/col ranges); rows before it are skipped by counting line breaks,
  * only the window's columns are converted to numbers, and the scan stops
  * after the window's last row, mirroring the reference's hand-rolled
  * predicate pushdown (geotools.py:94, SURVEY X1).
  *
  * Header: `ncols nrows xllcorner yllcorner cellsize [nodata_value]`,
  * then `nrows` whitespace-separated data rows, row 0 = north. Lines end at
  * LF, CR or CRLF; blank lines are ignored; the leading lines that start
  * with a letter are the header.
  */
object AsciiGrid {

  /** Grid georeferencing: GDAL-style (ulx, xres, uly, yres), yres < 0. */
  final case class Header(
      ncols: Int, nrows: Int,
      xll: Double, yll: Double,
      cellsize: Double, nodata: Double) {
    def ulx: Double = xll
    def uly: Double = yll + nrows * cellsize
    def xres: Double = cellsize
    def yres: Double = -cellsize
  }

  private def isEol(b: Byte): Boolean = b == '\n' || b == '\r'

  /** Bytes <= 0x20 are whitespace (what `String.trim` strips). */
  private def isSpace(b: Byte): Boolean = (b & 0xff) <= 0x20

  private def isLetter(b: Byte): Boolean = (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')

  private def lineEnd(b: Array[Byte], from: Int, n: Int): Int = {
    var p = from
    while (p < n && !isEol(b(p))) p += 1
    p
  }

  /** Header of the grid in `b(0 until n)`; reads the header lines only. */
  def header(b: Array[Byte], n: Int): Header = {
    var ncols = -1; var nrows = -1
    var xll = Double.NaN; var yll = Double.NaN
    var xllCenter = Double.NaN; var yllCenter = Double.NaN
    var cs = Double.NaN; var nodata = Double.NaN
    var p = 0
    var reading = true
    while (reading && p < n) {
      val e = lineEnd(b, p, n)
      var q = p
      while (q < e && isSpace(b(q))) q += 1
      // only a line led by a letter can be a header line: the first data
      // row is never decoded or split
      val parts =
        if (q < e && isLetter(b(q))) new String(b, q, e - q, US_ASCII).trim.split("\\s+")
        else Array.empty[String]
      if (parts.length == 2) {
        parts(0).toLowerCase match {
          case "ncols"        => ncols = parts(1).toInt
          case "nrows"        => nrows = parts(1).toInt
          case "xllcorner"    => xll = parts(1).toDouble
          case "yllcorner"    => yll = parts(1).toDouble
          // legal ESRI variant: lower-left CELL CENTER instead of corner
          case "xllcenter"    => xllCenter = parts(1).toDouble
          case "yllcenter"    => yllCenter = parts(1).toDouble
          case "cellsize"     => cs = parts(1).toDouble
          case "nodata_value" => nodata = parts(1).toDouble
          case _              => ()
        }
      } else reading = false
      // CRLF is one line break
      p = if (e + 1 < n && b(e) == '\r' && b(e + 1) == '\n') e + 2 else e + 1
    }
    if (xll.isNaN && !xllCenter.isNaN) xll = xllCenter - cs / 2
    if (yll.isNaN && !yllCenter.isNaN) yll = yllCenter - cs / 2
    require(ncols > 0 && nrows > 0 && !cs.isNaN && !xll.isNaN && !yll.isNaN,
      s"bad ASCII grid header (ncols=$ncols nrows=$nrows cellsize=$cs xll=$xll yll=$yll)")
    Header(ncols, nrows, xll, yll, cs, nodata)
  }

  /** Parse just the header lines (cheap; used to derive the cell grid). */
  def parseHeader(text: String): Header = {
    val b = text.getBytes(US_ASCII)
    header(b, b.length)
  }

  /** Scan the grid in `b(0 until n)` (optionally windowed) into
    * (row, col, value) cells. The cells are read lazily from `b`, which must
    * not change until they are consumed.
    *
    * @param rowRange inclusive-exclusive [r0, r1) rows to keep (raster rows,
    *                 0 = north); None = the header's nrows. Rows before it are skipped
    *                 without tokenizing, and the scan ends after row r1 - 1.
    * @param colRange inclusive-exclusive [c0, c1) columns to keep (None = the
    *                 header's ncols); tokens outside it are never converted
    *                 to numbers.
    */
  def scan(b: Array[Byte], n: Int,
      rowRange: Option[(Int, Int)] = None,
      colRange: Option[(Int, Int)] = None): (Header, Iterator[Cell]) = {
    val h = header(b, n)
    val (r0, r1) = rowRange.getOrElse((0, h.nrows))
    val (c0, c1) = colRange.getOrElse((0, h.ncols))
    (h, new Cells(b, n, r0, r1, c0, c1))
  }

  /** Parse from raw bytes (tar members arrive as bytes). */
  def parseBytes(bytes: Array[Byte],
      rowRange: Option[(Int, Int)] = None,
      colRange: Option[(Int, Int)] = None): (Header, Iterator[Cell]) =
    scan(bytes, bytes.length, rowRange, colRange)

  /** Parse grid text; characters outside US-ASCII read as '?'. */
  def parse(text: String,
      rowRange: Option[(Int, Int)] = None,
      colRange: Option[(Int, Int)] = None): (Header, Iterator[Cell]) =
    parseBytes(text.getBytes(US_ASCII), rowRange, colRange)

  /** Window cells of the data rows: a row is a non-blank line after the
    * leading lines that start with a letter; its tokens are separated by
    * whitespace.
    */
  private final class Cells(b: Array[Byte], n: Int, r0: Int, r1: Int, c0: Int, c1: Int)
      extends Iterator[Cell] {
    private var p = dataStart()
    private var row = -1
    private var col = 0
    private var inRow = false
    private var done = r0 >= r1 || c0 >= c1 || r1 <= 0 || c1 <= 0
    private var pending: Cell = null

    /** Offset of the first data row: skips blank lines and letter-led lines. */
    private def dataStart(): Int = {
      var q = 0
      var found = false
      while (!found) {
        while (q < n && isSpace(b(q))) q += 1
        if (q < n && isLetter(b(q))) q = lineEnd(b, q, n) else found = true
      }
      q
    }

    def hasNext: Boolean = {
      if (pending == null && !done) pending = advance()
      pending != null
    }

    def next(): Cell = {
      if (!hasNext) throw new NoSuchElementException("grid: no more cells")
      val c = pending; pending = null; c
    }

    private def advance(): Cell = {
      while (!done) {
        if (inRow) {
          while (p < n && isSpace(b(p)) && !isEol(b(p))) p += 1
          if (p >= n || isEol(b(p)) || col >= c1) {
            inRow = false
            p = lineEnd(b, p, n)
            if (row + 1 >= r1) done = true
          } else {
            val s = p
            while (p < n && !isSpace(b(p))) p += 1
            val c = col
            col += 1
            if (c >= c0) return Cell(row, c, number(b, s, p))
          }
        } else {
          // the next non-blank line; the blank ones in between are whitespace
          while (p < n && isSpace(b(p))) p += 1
          if (p >= n) done = true
          else {
            row += 1
            if (row < r0) p = lineEnd(b, p, n)
            else { inRow = true; col = 0 }
          }
        }
      }
      null
    }
  }

  /** `java.lang.Double.parseDouble` of the ASCII token `b(s until e)`. */
  private def number(b: Array[Byte], s: Int, e: Int): Double =
    java.lang.Double.parseDouble(new String(b, s, e - s, US_ASCII))

  /** Render a grid to ASCII text (test fixtures + GeoTIFF-stub replacement). */
  def render(h: Header, values: Array[Array[Double]]): String = {
    val sb = new StringBuilder
    sb ++= s"ncols ${h.ncols}\nnrows ${h.nrows}\n"
    sb ++= s"xllcorner ${h.xll}\nyllcorner ${h.yll}\ncellsize ${h.cellsize}\n"
    sb ++= s"NODATA_value ${h.nodata}\n"
    values.foreach { row => sb ++= row.mkString(" "); sb += '\n' }
    sb.toString
  }
}
