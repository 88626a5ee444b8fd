package graft.ingest

import org.scalatest.funsuite.AnyFunSuite
import graft.geo.Geom

class AsciiGridSpec extends AnyFunSuite {
  val fixture: String =
    """ncols 3
      |nrows 3
      |xllcorner 100.0
      |yllcorner 200.0
      |cellsize 10.0
      |NODATA_value -1
      |1 2 3
      |4 5 6
      |7 8 9
      |""".stripMargin

  test("header parse + derived transform") {
    val h = AsciiGrid.parseHeader(fixture)
    assert(h.ncols == 3 && h.nrows == 3)
    assert(h.ulx == 100.0 && h.uly == 230.0)
    assert(h.xres == 10.0 && h.yres == -10.0)
    assert(h.nodata == -1.0)
  }

  test("full parse row-major from north") {
    val (_, cells) = AsciiGrid.parse(fixture)
    val m = cells.toSeq
    assert(m.size == 9)
    assert(m.head == Cell(0, 0, 1.0)) // north-west corner
    assert(m.last == Cell(2, 2, 9.0))
  }

  test("window pushdown prunes rows and cols at parse time") {
    val (_, cells) = AsciiGrid.parse(fixture, rowRange = Some((1, 3)), colRange = Some((0, 2)))
    val m = cells.toSeq
    assert(m.map(_.value) == Seq(4.0, 5.0, 7.0, 8.0))
  }

  test("whitespace-only trailing line is ignored, not parsed as a data row") {
    val (_, cells) = AsciiGrid.parse(fixture + "   \n")
    assert(cells.size == 9)
  }

  test("render round-trips") {
    val h = AsciiGrid.Header(3, 3, 100, 200, 10, -1)
    val txt = AsciiGrid.render(h, Array(Array(1, 2, 3), Array(4, 5, 6), Array(7, 8, 9)))
    val (h2, cells) = AsciiGrid.parse(txt)
    assert(h2 == h)
    assert(cells.size == 9)
  }

  test("byte scanner equals the line-split reference on seeded random grids, bit for bit") {
    val rng = new java.util.SplittableRandom(20181001L)
    def pick[A](xs: A*): A = xs(rng.nextInt(xs.size))
    def eol(): String = pick("\n", "\r\n", "\r")
    def ws(): String = pick("", " ", "\t", "   ", " \t ", "\t\t")
    def sep(): String = pick(" ", "\t", "  ", " \t ", "\t  ")
    def digits(n: Int): String = (0 until n).map(_ => ('0' + rng.nextInt(10)).toChar).mkString
    def value(): String = rng.nextInt(8) match {
      case 0 => rng.nextInt(-1000, 1001).toString
      case 1 => pick("-0", "0", "+0", "-0.0", "0.000", "-0.000")
      case 2 | 3 => // a decimal of 1-17 digits
        val d = digits(1 + rng.nextInt(17))
        val dot = rng.nextInt(d.length + 1)
        pick("", "-", "+") + (if (dot == d.length) d else d.take(dot) + "." + d.drop(dot))
      case 4 => // long fraction: 15-26 leading zeros after the point
        pick("", "-") + "0." + "0" * rng.nextInt(15, 25) + digits(1 + rng.nextInt(6))
      case 5 => digits(1 + rng.nextInt(6)) + pick("e", "E") + pick("", "-", "+") + rng.nextInt(0, 40)
      case 6 => pick("", "-") + pick(".5", "5.", "1.0", "123456789012345", "1234567890123456", "0.1")
      case _ => (rng.nextInt(-99999, 100000) / 10.0).toString
    }
    def range(n: Int): Option[(Int, Int)] =
      if (rng.nextInt(4) == 0) None
      else {
        val lo = rng.nextInt(-2, n + 3)
        Some((lo, lo + rng.nextInt(-1, n + 4)))
      }
    var checked = 0
    for (_ <- 0 until 1000) {
      val nrows = 1 + rng.nextInt(12)
      val ncols = 1 + rng.nextInt(10)
      val sb = new StringBuilder
      def line(s: String): Unit = sb ++= ws() ++= s ++= ws() ++= eol()
      line(pick("ncols", "NCOLS") + sep() + ncols)
      line(pick("nrows", "NRows") + sep() + nrows)
      line("xllcorner" + sep() + value())
      line("yllcorner" + sep() + value())
      line("cellsize" + sep() + (1 + rng.nextInt(1000)))
      if (rng.nextBoolean()) line("NODATA_value" + sep() + value())
      // now and then a ragged row, or one row more than the header says
      for (_ <- 0 until nrows + (if (rng.nextInt(6) == 0) 1 else 0)) {
        while (rng.nextInt(4) == 0) sb ++= pick("", " ", "\t ", "  ") ++= eol() // blank lines
        val width = if (rng.nextInt(8) == 0) 1 + rng.nextInt(ncols + 1) else ncols
        line(Seq.fill(width)(value()).mkString(sep()))
      }
      if (rng.nextBoolean()) sb ++= ws()
      val text = sb.toString
      val (rr, cr) = (range(nrows), range(ncols))
      val (h, cells) = AsciiGrid.parseBytes(text.getBytes("US-ASCII"), rr, cr)
      val (rh, rcells) = LineSplitGrid.parse(text, rr, cr)
      def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
      def headerKey(x: AsciiGrid.Header) = (x.ncols, x.nrows, bits(x.xll), bits(x.yll), bits(x.cellsize), bits(x.nodata))
      assert(headerKey(h) == headerKey(rh), text)
      val got = cells.map(c => (c.row, c.col, bits(c.value))).toVector
      assert(got == rcells.map(c => (c.row, c.col, bits(c.value))).toVector, s"window $rr x $cr of:\n$text")
      checked += got.size
    }
    assert(checked > 5000, s"only $checked cells compared")
  }
}

/** The line-split parse the byte scanner replaced, kept as the differential
  * reference: `linesIterator` lines, `trim`, `split("\\s+")`, `toDouble`.
  *
  * Deliberately not kept by the scanner: a control byte other than tab, VT,
  * FF, CR or LF inside a data row is part of a token here (which `toDouble`
  * then rejects) but a separator in the scanner; and `AsciiGrid.parse(text)`
  * reads a non-ASCII character as '?', so a line led by a non-ASCII letter
  * is a header line here only. Neither occurs in the random grids above.
  */
object LineSplitGrid {
  def parseHeader(text: String): AsciiGrid.Header = {
    var ncols = -1; var nrows = -1
    var xll = Double.NaN; var yll = Double.NaN
    var xllCenter = Double.NaN; var yllCenter = Double.NaN
    var cs = Double.NaN; var nodata = Double.NaN
    val it = text.linesIterator
    var reading = true
    while (reading && it.hasNext) {
      val parts = it.next().trim.split("\\s+")
      if (parts.length == 2 && parts(0).headOption.exists(c => c.isLetter)) {
        parts(0).toLowerCase match {
          case "ncols"        => ncols = parts(1).toInt
          case "nrows"        => nrows = parts(1).toInt
          case "xllcorner"    => xll = parts(1).toDouble
          case "yllcorner"    => yll = parts(1).toDouble
          case "xllcenter"    => xllCenter = parts(1).toDouble
          case "yllcenter"    => yllCenter = parts(1).toDouble
          case "cellsize"     => cs = parts(1).toDouble
          case "nodata_value" => nodata = parts(1).toDouble
          case _              => ()
        }
      } else reading = false
    }
    if (xll.isNaN && !xllCenter.isNaN) xll = xllCenter - cs / 2
    if (yll.isNaN && !yllCenter.isNaN) yll = yllCenter - cs / 2
    require(ncols > 0 && nrows > 0 && !cs.isNaN && !xll.isNaN && !yll.isNaN, "bad ASCII grid header")
    AsciiGrid.Header(ncols, nrows, xll, yll, cs, nodata)
  }

  def parse(text: String, rowRange: Option[(Int, Int)], colRange: Option[(Int, Int)])
      : (AsciiGrid.Header, Seq[Cell]) = {
    val h = parseHeader(text)
    val (r0, r1) = rowRange.getOrElse((0, h.nrows))
    val (c0, c1) = colRange.getOrElse((0, h.ncols))
    val dataLines = text.linesIterator.filter(_.trim.nonEmpty).dropWhile { l =>
      val t = l.trim
      t.nonEmpty && t.head.isLetter
    }
    val cells = dataLines.zipWithIndex.flatMap { case (line, row) =>
      if (row < r0 || row >= r1) Iterator.empty
      else {
        val toks = line.trim.split("\\s+")
        Iterator.range(math.max(c0, 0), math.min(c1, toks.length)).map(col => Cell(row, col, toks(col).toDouble))
      }
    }
    (h, cells.toVector)
  }
}

class ArchivesSpec extends AnyFunSuite {
  test("tar round-trip with padding and multiple members") {
    val members = Seq(
      Archives.Member("a-20180101_0050.asc", "hello grid".getBytes),
      Archives.Member("b-20180101_0150.asc", Array.fill[Byte](513)(7)),
      Archives.Member("c.txt", Array.emptyByteArray))
    val out = Archives.untar(Archives.tar(members)).toSeq
    assert(out.map(_.name) == members.map(_.name))
    assert(out.zip(members).forall { case (a, b) => a.bytes.sameElements(b.bytes) })
  }

  test("gzip detection and decode") {
    val raw = "regnie line data".getBytes
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(raw); gz.close()
    val got = Archives.expand("ra180101.gz", bos.toByteArray).toSeq
    assert(got.size == 1 && got.head.name == "ra180101")
    assert(got.head.bytes.sameElements(raw))
  }

  test("truncated tar fails loudly instead of zero-padding member bytes") {
    val full = Archives.tar(Seq(
      Archives.Member("grid.asc", Array.fill[Byte](1024)(5))))
    val truncated = java.util.Arrays.copyOf(full, 700) // header + partial data
    val e = intercept[IllegalArgumentException](Archives.untar(truncated).toSeq)
    assert(e.getMessage.contains("truncated"))
  }

  test("corrupt gzip surfaces a zip exception, not garbage members") {
    val bad = Array[Byte](0x1f, 0x8b.toByte, 1, 2, 3, 4, 5, 6, 7, 8)
    intercept[java.util.zip.ZipException](Archives.expand("x.gz", bad).toSeq)
  }

  test("nested tar (monthly of daily) expands with two passes") {
    val daily = Archives.tar(Seq(Archives.Member("h1.asc", "x".getBytes)))
    val monthly = Archives.tar(Seq(Archives.Member("d1.tar", daily)))
    val level1 = Archives.expand("m.tar", monthly).toSeq
    assert(level1.map(_.name) == Seq("d1.tar"))
    val level2 = level1.flatMap(m => Archives.expand(m.name, m.bytes))
    assert(level2.map(_.name) == Seq("h1.asc"))
  }

  private def allocated[A](f: => A): (A, Long) = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val id = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(id)
    val a = f
    (a, mx.getThreadAllocatedBytes(id) - before)
  }

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  test("a size field claiming 8 GB over a 1 KB body fails as truncated without allocating for it") {
    val bytes = Archives.tar(Seq(Archives.Member("grid.asc", Array.fill[Byte](1024)(5))))
    System.arraycopy("100000000000".getBytes("US-ASCII"), 0, bytes, 124, 12) // 8 GiB, octal
    def decode(): String = intercept[IllegalArgumentException] {
      Archives.members("d.tar", new java.io.ByteArrayInputStream(bytes)).foreach(_ => ())
    }.getMessage
    decode() // class loading
    val (msg, n) = allocated(decode())
    assert(msg.contains("truncated") && msg.contains("8589934592"), msg)
    assert(n < 16L * bytes.length, s"allocated $n bytes for a ${bytes.length}-byte archive")
    val (msg2, n2) = allocated(intercept[IllegalArgumentException](Archives.untar(bytes).toSeq).getMessage)
    assert(msg2.contains("truncated"), msg2)
    assert(n2 < 16L * bytes.length, s"untar allocated $n2 bytes for a ${bytes.length}-byte archive")
  }

  test("a flipped CRC byte in the gzip trailer of a .tar.gz throws through the streaming path") {
    val members = Seq(Archives.Member("RW_20180101_0050.asc", Array.fill[Byte](3000)('7')))
    val good = gzip(Archives.tar(members))
    assert(Archives.members("d.tar.gz", new java.io.ByteArrayInputStream(good)).map(_.length).toSeq == Seq(3000))
    val bad = good.clone()
    bad(bad.length - 8) = (bad(bad.length - 8) ^ 0x01).toByte // first CRC32 byte
    intercept[java.util.zip.ZipException] {
      Archives.members("d.tar.gz", new java.io.ByteArrayInputStream(bad)).foreach(_ => ())
    }
  }

  test("streamed members equal two expand passes: .gz members, and a monthly tar pruned by day") {
    def streamed(name: String, b: Array[Byte], keep: String => Boolean) =
      Archives.members(name, new java.io.ByteArrayInputStream(b), keep)
        .map(m => m.name -> new String(m.bytes, 0, m.length)).toSeq
    def twoPass(name: String, b: Array[Byte], keep: String => Boolean) =
      Archives.expand(name, b).filter(m => keep(m.name)).flatMap(m => Archives.expand(m.name, m.bytes))
        .map(m => m.name -> new String(m.bytes)).toSeq
    val daily = gzip(Archives.tar(Seq(
      Archives.Member("RW_20180101_0050.asc", "plain".getBytes),
      Archives.Member("RW_20180101_0150.asc.gz", gzip("zipped".getBytes)))))
    assert(streamed("RW-20180101.tar.gz", daily, _ => true) ==
      Seq("RW_20180101_0050.asc" -> "plain", "RW_20180101_0150.asc" -> "zipped"))
    assert(streamed("RW-20180101.tar.gz", daily, _ => true) == twoPass("RW-20180101.tar.gz", daily, _ => true))
    val monthly = Archives.tar((1 to 3).map { d =>
      Archives.Member(s"RW-2018010$d.tar.gz", gzip(Archives.tar(Seq(Archives.Member(s"h$d.asc", s"day $d".getBytes)))))
    })
    val notDay2 = (n: String) => !n.contains("20180102")
    assert(streamed("RW-201801.tar", monthly, notDay2) == Seq("h1.asc" -> "day 1", "h3.asc" -> "day 3"))
    assert(streamed("RW-201801.tar", monthly, notDay2) == twoPass("RW-201801.tar", monthly, notDay2))
  }

}

class RegnieSpec extends AnyFunSuite {
  test("normal line: 4-char fixed width splits on whitespace, -999 nodata") {
    val line = (1 to 611).map(i => f"${i % 900}%4d").mkString("")
    val vals = Regnie.parseLine(line.grouped(4).mkString(" ")) // explicit spacing
    assert(vals.length == 611)
    assert(vals(0) == 1 && vals(610) == 611 % 900)
  }

  test("fixed-width line without explicit separators still splits (right-aligned values)") {
    // right-aligned 4-char values: "   1   2  33" style parses via whitespace
    val line = Seq(1, 22, 333, -999, 55).map(v => f"$v%4d").mkString("")
    val vals = Regnie.parseLine(line)
    assert(vals.toSeq == Seq(1, 22, 333, -999, 55))
  }

  test("repair: 8-char concatenation (mod 4 == 0) splits into 4-char chunks") {
    // 1234 concatenated with 5678: "12345678" -> 1234, 5678
    val vals = Regnie.parseLine("  11 12345678  22")
    assert(vals.toSeq == Seq(11, 1234, 5678, 22))
  }

  test("repair: 7-char with leading '1' emits trailing 3 digits first (reference order quirk)") {
    // "1234567" head '1' -> append "567" THEN chunks of "1234"
    val vals = Regnie.parseLine("  11 1234567  22")
    assert(vals.toSeq == Seq(11, 567, 1234, 22))
  }

  test("repair: 7-char with leading '9' takes first 3 digits as a value") {
    // "9994567" head '9' -> "999" then "4567"
    val vals = Regnie.parseLine("  11 9994567  22")
    assert(vals.toSeq == Seq(11, 999, 4567, 22))
  }

  test("repair: '-' starts a new token; -999 concatenated with 1000") {
    // "-9991000" tokenizes to "-9991000"? no: '-' inserts a space before,
    // giving token "-9991000" (8 chars, mod4==0) -> "-999", "1000"
    val vals = Regnie.parseLine(" 11 -9991000 22")
    assert(vals.toSeq == Seq(11, -999, 1000, 22))
  }

  test("parseFile: drops nodata, maps grid positions, discards the trailer line") {
    val l1 = Seq(10, -999, 30).map(v => f"$v%4d").mkString("")
    val l2 = Seq(-999, 50, -999).map(v => f"$v%4d").mkString("")
    // real REGNIE files end with a metadata trailer the reference discards
    val cells = Regnie.parseFile(l1 + "\n" + l2 + "\nTRAILER METADATA\n").toSeq
    assert(cells == Seq(Cell(0, 0, 10), Cell(0, 2, 30), Cell(1, 1, 50)))
  }

  test("REGNIE georeferencing constants") {
    // first cell center: 6°E - 10' ; north edge per radohydro.py:393-394
    assert(math.abs(Regnie.ulx + Regnie.xres / 2 - (6.0 - 10.0 / 60.0)) < 1e-12)
    assert(math.abs(Regnie.uly + Regnie.yres / 2 - (55.0 + 10.0 / 120.0)) < 1e-12)
  }
}

class ShpSpec extends AnyFunSuite {
  val examplesDir = "/root/reference/Examples"

  def available: Boolean = java.nio.file.Files.exists(java.nio.file.Paths.get(s"$examplesDir/einzugsgebiet.shp"))

  test("einzugsgebiet: 5 basins, attributes and shoelace areas match dbf") {
    assume(available)
    val layer = Shp.read(s"$examplesDir/einzugsgebiet.shp")
    assert(layer.features.size == 5)
    val gridcodes = layer.features.map(_.attrs("gridcode"))
    assert(gridcodes == Seq(2L, 6L, 1L, 3L, 7L))
    // shoelace area (outer CCW convention) must match the dbf Shape_Area field
    layer.features.foreach { f =>
      val expected = f.attrs("Shape_Area").asInstanceOf[Double]
      assert(math.abs(Geom.area(f.geom) - expected) / expected < 1e-6,
        s"area ${Geom.area(f.geom)} vs dbf $expected")
    }
  }

  test("einzugsgebiet bbox matches FIXTURES.md") {
    assume(available)
    val layer = Shp.read(s"$examplesDir/einzugsgebiet.shp")
    val boxes = layer.features.map(f => Geom.bbox(f.geom))
    val xmin = boxes.map(_._1).min; val ymin = boxes.map(_._2).min
    val xmax = boxes.map(_._3).max; val ymax = boxes.map(_._4).max
    assert(math.abs(xmin - 414439.42) < 0.01 && math.abs(ymin - 5625369.23) < 0.01)
    assert(math.abs(xmax - 420400.70) < 0.01 && math.abs(ymax - 5635532.16) < 0.01)
  }

  test("debug1x3: three 1km boxes with UTM attribute coords") {
    assume(available)
    val layer = Shp.read(s"$examplesDir/radohydro_debug1x3.shp")
    assert(layer.features.size == 3)
    assert(layer.features.map(_.attrs("OBJECTID")) == Seq(1L, 2L, 3L))
    assert(layer.features.map(_.attrs("left")).forall(_ == 406000.0))
    assert(layer.features.map(_.attrs("bottom")) == Seq(5617800.0, 5618800.0, 5619800.0))
  }

  test("Mueglitz: single polygon, area field ~213.6 km^2") {
    assume(available)
    val layer = Shp.read(s"$examplesDir/Mueglitz_Basin.shp")
    assert(layer.features.size == 1)
    val f = layer.features.head
    assert(math.abs(f.attrs("AREA_QKM").asInstanceOf[Double] - 213.578339679975642) < 1e-9)
    // geometry is in EPSG:25833 meters; shoelace area should approximate AREA_QM
    val areaQm = f.attrs("AREA_QM").asInstanceOf[Double]
    assert(math.abs(Geom.area(f.geom) - areaQm) / areaQm < 0.01,
      s"geom area ${Geom.area(f.geom)} vs dbf $areaQm")
  }
}
