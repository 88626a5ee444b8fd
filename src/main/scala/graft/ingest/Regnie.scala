package graft.ingest

/** REGNIE daily precipitation grid parser (SURVEY S7).
  *
  * Format: 971 text lines x 611 values per line, each value nominally a
  * 4-character right-aligned integer in 0.1 mm; -999 = nodata. The grid is
  * geographic: x0 = 6°E - 10', xres = 1/60°, y0 = 55°N + 10'/2 north edge,
  * yres = -1/120° (radohydro.py:392-394).
  *
  * The reference carries a repair heuristic (radohydro.py:95-144) for lines
  * where a value >= 1000 (0.1 mm) concatenates with its neighbor without a
  * separator. Its documented assumptions (radohydro.py:100-101): daily
  * rainfall never exceeds 1999 (so a concatenated first digit is 1), and
  * cells adjacent to a >=1000 value have >=100. The token-level rules —
  * including the branch ordering that emits the trailing 3-digit value
  * BEFORE the 4-char chunks it followed (a reference quirk we replicate
  * faithfully) — are re-expressed below.
  */
object Regnie {

  val ValuesPerLine = 611
  val Lines = 971
  val Nodata = -999

  /** Grid georeferencing (degrees): returns GDAL-style transform. */
  val xres: Double = 1.0 / 60.0
  val yres: Double = -1.0 / 120.0
  val ulx: Double = 6.0 - 10.0 / 60.0 - xres / 2.0
  val uly: Double = 55.0 + 10.0 / 120.0 - yres / 2.0

  /** Split a raw line into value tokens: whitespace separates; '-' always
    * starts a new token (the reference's replace('-', ' -') chain).
    */
  private def tokenize(line: String): Array[String] = {
    val sb = new StringBuilder
    line.foreach { c =>
      if (c == '-') { sb += ' '; sb += c }
      else sb += c
    }
    sb.toString.trim.split("\\s+").filter(_.nonEmpty)
  }

  /** Re-split an oversized token per the reference's repair rules. Returns
    * the values in the reference's (quirky) emission order.
    */
  private def repairToken(value: String): Seq[String] = {
    if (value.length <= 4) Seq(value)
    else if (value.length % 4 == 0)
      value.grouped(4).toSeq
    else if ("-134".contains(value.head)) {
      // trailing 3-digit value emitted FIRST, then the leading 4-char chunks
      val head = value.dropRight(3)
      value.takeRight(3) +: head.grouped(4).toSeq
    } else {
      val tail = value.drop(3)
      value.take(3) +: tail.grouped(4).toSeq
    }
  }

  /** Parse one line to values in 0.1 mm; length should be 611 post-repair.
    * (If the repair assumptions are violated the reference prints a warning
    * and proceeds; we do the same by returning whatever was recovered.)
    */
  def parseLine(line: String): Array[Int] = {
    val toks = tokenize(line)
    val repaired =
      if (toks.length == ValuesPerLine) toks.toSeq
      else toks.toSeq.flatMap(repairToken)
    repaired.map(_.toInt).toArray
  }

  /** Parse a whole REGNIE daily file (possibly gzipped upstream): emits
    * non-nodata cells as (row, col, mm*10); nodata (-999) → dropped here,
    * matching the reference's -999→NaN then weighted-sum-over-valid
    * semantics (radohydro.py:448). Pass `keepNodata = true` to keep them as
    * -999 cells, for callers that mask by the grid's nodata value (the A2
    * cleaning path).
    */
  def parseFile(text: String, keepNodata: Boolean = false,
      rowRange: Option[(Int, Int)] = None): Iterator[Cell] = {
    // the reference unconditionally discards the file's final line
    // ("last line is not necessary", radohydro.py:441-442)
    val lines = text.linesIterator.toArray
    val data = if (lines.nonEmpty) lines.init else lines
    val (r0, r1) = rowRange.getOrElse((0, Int.MaxValue))
    data.iterator.zipWithIndex.flatMap { case (line, row) =>
      // row pushdown (SURVEY X1): out-of-window lines are never tokenized
      if (row < r0 || row >= r1 || line.trim.isEmpty) Iterator.empty
      else {
        val vals = parseLine(line)
        vals.iterator.zipWithIndex.collect {
          case (v, col) if keepNodata || v != Nodata => Cell(row, col, v.toDouble)
        }
      }
    }
  }
}
