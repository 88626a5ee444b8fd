package graft.ingest

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.scalatest.funsuite.AnyFunSuite

/** GeoTIFF byte builder for tests: single-band int16, little-endian, with
  * ModelPixelScale + ModelTiepoint + GDAL_NODATA; optionally deflate- or
  * LZW-compressed, tiled, and horizontally predicted — the gdal_translate
  * `-co COMPRESS=… -co TILED=… -co PREDICTOR=2` surface the reader claims.
  */
object TiffFixture {

  /** TIFF-variant LZW encoder (test-side twin of [[TiffLzw]]): MSB-first,
    * 9-bit start, early code-width change at table size (1<<width)-1.
    */
  def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new ArrayBuffer[Byte]()
    var bitBuf = 0L; var nBits = 0
    var codeSize = 9
    def put(code: Int): Unit = {
      bitBuf = (bitBuf << codeSize) | code
      nBits += codeSize
      while (nBits >= 8) { out += ((bitBuf >> (nBits - 8)) & 0xff).toByte; nBits -= 8 }
    }
    val dict = scala.collection.mutable.HashMap.empty[String, Int]
    var dictSize = 258
    def key(bytes: Seq[Byte]) = new String(bytes.map(b => (b & 0xff).toChar).toArray)
    put(256) // clear
    var w = Vector.empty[Byte]
    def codeOf(s: Vector[Byte]): Int = if (s.length == 1) s.head & 0xff else dict(key(s))
    data.foreach { b =>
      val wb = w :+ b
      if (wb.length == 1 || dict.contains(key(wb))) w = wb
      else {
        put(codeOf(w))
        dict(key(wb)) = dictSize
        dictSize += 1
        // the decoder's table lags one entry behind, so it grows its read
        // width at (1<<n)-1 while the encoder grows its write width at 1<<n
        if (dictSize == (1 << codeSize) && codeSize < 12) codeSize += 1
        if (dictSize >= 4093) { put(256); dict.clear(); dictSize = 258; codeSize = 9 }
        w = Vector(b)
      }
    }
    if (w.nonEmpty) put(codeOf(w))
    put(257) // EOI
    if (nBits > 0) out += ((bitBuf << (8 - nBits)) & 0xff).toByte
    out.toArray
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(data); d.finish()
    val buf = new Array[Byte](data.length * 2 + 64)
    val n = d.deflate(buf)
    d.end()
    java.util.Arrays.copyOf(buf, n)
  }

  /** Forward TIFF predictor 2 on int16 LE rows (encode side). */
  private def predict2(block: Array[Byte], width: Int): Array[Byte] = {
    val a = block.clone()
    val bb = ByteBuffer.wrap(a).order(ByteOrder.LITTLE_ENDIAN)
    val rows = a.length / (width * 2)
    for (r <- 0 until rows; c <- (width - 1) until 0 by -1) {
      val base = r * width * 2
      bb.putShort(base + c * 2, (bb.getShort(base + c * 2) - bb.getShort(base + (c - 1) * 2)).toShort)
    }
    a
  }

  def build(nrows: Int, ncols: Int, ulx: Double, uly: Double, cell: Double,
      nodata: Double, value: (Int, Int) => Int,
      compression: Int = 1, tile: Option[(Int, Int)] = None,
      predictor: Int = 1, big: Boolean = false,
      origin: Option[Int] = None, nextIfd: Long = 0): Array[Byte] = {

    def rawBlock(r0: Int, c0: Int, h: Int, w: Int): Array[Byte] = {
      val bb = ByteBuffer.allocate(h * w * 2).order(ByteOrder.LITTLE_ENDIAN)
      for (r <- 0 until h; c <- 0 until w) {
        val v = if (r0 + r < nrows && c0 + c < ncols) value(r0 + r, c0 + c) else 0
        bb.putShort(v.toShort)
      }
      bb.array()
    }
    def encode(block: Array[Byte], width: Int): Array[Byte] = {
      val pred = if (predictor == 2) predict2(block, width) else block
      compression match {
        case 1 => pred
        case 5 => lzwEncode(pred)
        case 8 => deflate(pred)
        case other => throw new IllegalArgumentException(s"fixture: compression $other")
      }
    }

    val blocks: Seq[Array[Byte]] = tile match {
      case Some((tw, th)) =>
        for (tr <- 0 until (nrows + th - 1) / th; tc <- 0 until (ncols + tw - 1) / tw)
          yield encode(rawBlock(tr * th, tc * tw, th, tw), tw)
      case None => Seq(encode(rawBlock(0, 0, nrows, ncols), ncols))
    }

    // entries: (tag, typ, count, inlineValue | -1 marker for deferred arrays)
    final case class Tag(tag: Int, typ: Int, count: Int, inline: Option[Long],
        longs: Array[Long] = Array.empty, doubles: Array[Double] = Array.empty,
        ascii: String = "")
    val nodataStr = s"$nodata "
    var tags = ArrayBuffer(
      Tag(256, 3, 1, Some(ncols)), Tag(257, 3, 1, Some(nrows)),
      Tag(258, 3, 1, Some(16)), Tag(259, 3, 1, Some(compression)),
      Tag(277, 3, 1, Some(1)), Tag(339, 3, 1, Some(2)),
      Tag(33550, 12, 3, None, doubles = Array(cell, cell, 0.0)),
      Tag(33922, 12, 6, None, doubles = Array(0, 0, 0, ulx, uly, 0)),
      Tag(42113, 2, nodataStr.length, None, ascii = nodataStr))
    if (predictor == 2) tags += Tag(317, 3, 1, Some(2))
    // BigTIFF exercises the LONG8 (type 16) field paths for block offsets
    val offTyp = if (big) 16 else 4
    tile match {
      case Some((tw, th)) =>
        tags += Tag(322, 3, 1, Some(tw))
        tags += Tag(323, 3, 1, Some(th))
        tags += Tag(324, offTyp, blocks.length, None, longs = new Array[Long](blocks.length))
        tags += Tag(325, offTyp, blocks.length, None,
          longs = blocks.map(_.length.toLong).toArray)
      case None =>
        tags += Tag(273, offTyp, 1, None, longs = new Array[Long](1))
        tags += Tag(278, 3, 1, Some(nrows))
        tags += Tag(279, offTyp, 1, None, longs = Array(blocks.head.length.toLong))
    }
    tags = tags.sortBy(_.tag)

    def typeSize(typ: Int): Int = typ match {
      case 2 => 1; case 3 => 2; case 4 => 4; case 12 | 16 => 8
    }
    val inlineCap = if (big) 8 else 4
    // origin: build a SECONDARY page (overview IFD) whose absolute offsets
    // start at `origin` in the final file; no header is emitted and the
    // returned bytes are the slice from origin onward
    val ifdOffset = origin.getOrElse(if (big) 16 else 8)
    val entrySize = if (big) 20 else 12
    val afterIfd = ifdOffset + (if (big) 8 else 2) + tags.length * entrySize + (if (big) 8 else 4)
    // lay out the out-of-line value areas
    var cursor = afterIfd
    val offsets = tags.map { t =>
      val vbytes = t.count * typeSize(t.typ)
      if (vbytes <= inlineCap) -1 else { val c = cursor; cursor += (vbytes + 1) & ~1; c }
    }
    val dataStart = cursor
    val blockOffsets = blocks.scanLeft(dataStart.toLong)((acc, b) => acc + b.length).init.toArray
    def tagLongs(t: Tag): Array[Long] =
      if (t.tag == 273 || t.tag == 324) blockOffsets
      else t.inline.map(Array(_)).getOrElse(t.longs)

    val total = dataStart + blocks.map(_.length).sum
    val buf = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    if (origin.isEmpty) {
      if (big) buf.put('I'.toByte).put('I'.toByte).putShort(43).putShort(8).putShort(0)
        .putLong(ifdOffset)
      else buf.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOffset)
    } else buf.position(ifdOffset)
    if (big) buf.putLong(tags.length) else buf.putShort(tags.length.toShort)
    def writeValues(t: Tag): Unit = t.typ match {
      case 2  => buf.put(t.ascii.getBytes("US-ASCII"))
      case 3  => tagLongs(t).foreach(v => buf.putShort(v.toShort))
      case 4  => tagLongs(t).foreach(v => buf.putInt(v.toInt))
      case 12 => t.doubles.foreach(buf.putDouble)
      case 16 => tagLongs(t).foreach(buf.putLong)
    }
    tags.zipWithIndex.foreach { case (t, i) =>
      buf.putShort(t.tag.toShort).putShort(t.typ.toShort)
      if (big) buf.putLong(t.count) else buf.putInt(t.count)
      val fieldEnd = buf.position() + inlineCap
      if (offsets(i) < 0) writeValues(t)
      else if (big) buf.putLong(offsets(i)) else buf.putInt(offsets(i))
      while (buf.position() < fieldEnd) buf.put(0.toByte) // pad value field
    }
    if (big) buf.putLong(nextIfd) else buf.putInt(nextIfd.toInt)
    tags.zipWithIndex.foreach { case (t, i) =>
      if (offsets(i) >= 0) { buf.position(offsets(i)); writeValues(t) }
    }
    buf.position(dataStart)
    blocks.foreach(buf.put)
    origin match {
      case None    => buf.array()
      case Some(o) => java.util.Arrays.copyOfRange(buf.array(), o, total)
    }
  }

  /** Two-page file: the full raster at page 0 chained to a 2x-decimated
    * overview at page 1 — the GDAL overview-pyramid layout.
    */
  def buildWithOverview(nrows: Int, ncols: Int, ulx: Double, uly: Double,
      cell: Double, nodata: Double, value: (Int, Int) => Int): Array[Byte] = {
    val page0Len = build(nrows, ncols, ulx, uly, cell, nodata, value).length
    val page0 = build(nrows, ncols, ulx, uly, cell, nodata, value, nextIfd = page0Len)
    val ov = build(nrows / 2, ncols / 2, ulx, uly, cell * 2, nodata,
      (r, c) => value(r * 2, c * 2), origin = Some(page0Len))
    page0 ++ ov
  }
}

class GeoTiffSpec extends AnyFunSuite {
  private def values(r: Int, c: Int): Int = r * 10 + c
  private def tiff = TiffFixture.build(3, 4, 406000, 5620800, 1000.0, -1.0, values)

  private def assertParsesLikeBaseline(bytes: Array[Byte], nrows: Int = 3, ncols: Int = 4): Unit = {
    val (meta, cells) = GeoTiff.parse(bytes)
    assert(meta.ncols == ncols && meta.nrows == nrows)
    assert(meta.ulx == 406000.0 && meta.uly == 5620800.0)
    assert(meta.nodata == -1.0)
    val m = cells.toSeq
    assert(m.size == nrows * ncols)
    m.foreach(c => assert(c.value == values(c.row, c.col).toDouble, s"(${c.row},${c.col})"))
  }

  test("parses int16 stripped LE tiff with scale/tiepoint/nodata tags") {
    assertParsesLikeBaseline(tiff)
    val (meta, _) = GeoTiff.parse(tiff)
    assert(meta.xres == 1000.0 && meta.yres == -1000.0)
  }

  test("window pushdown restricts parsed cells") {
    val (_, cells) = GeoTiff.parse(tiff, rowRange = Some((1, 3)), colRange = Some((2, 4)))
    assert(cells.toSeq.map(_.value) == Seq(12.0, 13.0, 22.0, 23.0))
  }

  test("deflate-compressed stripped tiff parses identically") {
    assertParsesLikeBaseline(TiffFixture.build(3, 4, 406000, 5620800, 1000.0, -1.0,
      values, compression = 8))
  }

  test("deflate + tiled (2x2 tiles over 3x4 with edge padding) parses identically") {
    val bytes = TiffFixture.build(3, 4, 406000, 5620800, 1000.0, -1.0,
      values, compression = 8, tile = Some((2, 2)))
    assertParsesLikeBaseline(bytes)
    // window pushdown on tiles: only the lower-right region
    val (_, win) = GeoTiff.parse(bytes, rowRange = Some((1, 3)), colRange = Some((2, 4)))
    assert(win.toSeq.map(_.value).sorted == Seq(12.0, 13.0, 22.0, 23.0))
  }

  test("deflate + predictor 2 parses identically") {
    assertParsesLikeBaseline(TiffFixture.build(3, 4, 406000, 5620800, 1000.0, -1.0,
      values, compression = 8, predictor = 2))
  }

  test("LZW-compressed (stripped and tiled+predictor) parses identically") {
    assertParsesLikeBaseline(TiffFixture.build(3, 4, 406000, 5620800, 1000.0, -1.0,
      values, compression = 5))
    assertParsesLikeBaseline(TiffFixture.build(7, 9, 406000, 5620800, 1000.0, -1.0,
      values, compression = 5, tile = Some((4, 4)), predictor = 2), nrows = 7, ncols = 9)
  }

  test("TiffLzw decodes a hand-packed known vector") {
    // codes 256(clear), 7, 258(KwKwK), 8, 257(EOI) at 9 bits, MSB-first:
    // 100000000 000000111 100000010 000001000 100000001 -> bytes below
    val in = Array(0x80, 0x01, 0xE0, 0x40, 0x88, 0x08).map(_.toByte)
    val out = TiffLzw.decode(in, 0, in.length, 4)
    assert(out.toSeq == Seq[Byte](7, 7, 7, 8))
  }

  test("TiffLzw round-trips random and repetitive payloads incl. width growth") {
    val rnd = new scala.util.Random(42)
    // > 253 distinct-following pairs forces dictSize past 511 -> 10-bit codes
    val payloads = Seq(
      Array.tabulate(4096)(i => (i % 251).toByte),
      Array.fill(2048)(rnd.nextInt(256).toByte),
      Array.tabulate(3000)(i => if (i % 7 < 5) 42.toByte else (i % 13).toByte),
      // large, low-entropy payload: grows the table through the 10/11/12-bit
      // widths AND past 4093 entries, exercising the mid-stream CLEAR+reset
      Array.tabulate(120000)(i => ((i * i + i / 3) % 97).toByte),
      Array.fill(65536)(rnd.nextInt(7).toByte))
    payloads.foreach { p =>
      val enc = TiffFixture.lzwEncode(p)
      assert(TiffLzw.decode(enc, 0, enc.length, p.length).toSeq == p.toSeq)
    }
  }

  test("BigTIFF (version 43): stripped, and tiled+deflate, parse identically") {
    assertParsesLikeBaseline(TiffFixture.build(3, 4, 406000, 5620800, 1000.0, -1.0,
      values, big = true))
    val bytes = TiffFixture.build(7, 9, 406000, 5620800, 1000.0, -1.0,
      values, compression = 8, tile = Some((4, 4)), predictor = 2, big = true)
    assertParsesLikeBaseline(bytes, nrows = 7, ncols = 9)
    // window pushdown unaffected by the 8-byte offset layout
    val (_, win) = GeoTiff.parse(bytes, rowRange = Some((2, 4)), colRange = Some((3, 5)))
    assert(win.toSeq.map(c => (c.row, c.col, c.value)).toSet ==
      Set((2, 3, 23.0), (2, 4, 24.0), (3, 3, 33.0), (3, 4, 34.0)))
  }

  test("overview pages: page 0 is the full raster, page 1 the 2x decimation") {
    val bytes = TiffFixture.buildWithOverview(6, 8, 406000, 5620800, 1000.0, -1.0, values)
    assert(GeoTiff.pageCount(bytes) == 2)
    val (m0, c0) = GeoTiff.parse(bytes)
    assert(m0.nrows == 6 && m0.ncols == 8 && c0.size == 48)
    val (m1, c1) = GeoTiff.parse(bytes, page = 1)
    assert(m1.nrows == 3 && m1.ncols == 4)
    assert(m1.xres == 2000.0 && m1.yres == -2000.0) // decimated resolution
    assert(m1.ulx == m0.ulx && m1.uly == m0.uly)
    c1.foreach(c => assert(c.value == values(c.row * 2, c.col * 2).toDouble))
    intercept[IllegalArgumentException](GeoTiff.parse(bytes, page = 2))
  }

  test("rejects unsupported compression with a clear error") {
    val bytes = tiff
    // compression entry is the 4th tag (tags sorted: 256,257,258,259,...)
    val compValueOff = 8 + 2 + 3 * 12 + 8
    bytes(compValueOff) = 7 // JPEG
    val e = intercept[IllegalArgumentException](GeoTiff.parse(bytes))
    assert(e.getMessage.contains("unsupported compression"))
  }

  test("pipeline parity: .tif members produce the same series as .asc members") {
    val examples = "/root/reference/Examples"
    assume(Files.exists(Paths.get(s"$examples/einzugsgebiet.shp")))
    val spark = graft.core.TestSpark.spark
    import graft.geo.{Crs, Geom}
    val stereoM = Crs.RadolanStereo(unitsKm = false)
    val layer = Shp.read(s"$examples/einzugsgebiet.shp")
    val boxes = layer.features.map(f => Geom.bbox(Crs.reproject(f.geom, Crs.Utm33N, stereoM)))
    val xll = math.floor(boxes.map(_._1).min / 1000).toInt * 1000 - 5000
    val yll = math.floor(boxes.map(_._2).min / 1000).toInt * 1000 - 5000
    val ncols = math.ceil((boxes.map(_._3).max - xll) / 1000).toInt + 10
    val nrows = math.ceil((boxes.map(_._4).max - yll) / 1000).toInt + 10
    def v(r: Int, c: Int) = ((r * 13 + c * 3) % 300)

    val ascDir = Files.createTempDirectory("parity_asc").toString
    val h = AsciiGrid.Header(ncols, nrows, xll, yll, 1000.0, -1.0)
    Files.write(Paths.get(ascDir, "RW_20180101_0050.asc"),
      AsciiGrid.render(h, Array.tabulate(nrows, ncols)((r, c) => v(r, c).toDouble)).getBytes)
    val tifDir = Files.createTempDirectory("parity_tif").toString
    // compressed + tiled variant — the live pipeline must read it the same
    Files.write(Paths.get(tifDir, "RW_20180101_0050.tif"),
      TiffFixture.build(nrows, ncols, xll, yll + nrows * 1000.0, 1000.0, -1.0, v,
        compression = 8, tile = Some((64, 64)), predictor = 2))

    def series(dir: String) = graft.api.RadoHydro
      .run(spark, dir, s"$examples/einzugsgebiet.shp",
        graft.api.RadoHydro.Config(datasource = "radolan"))
      .series.collect().map(r => (r.getInt(0), r.getTimestamp(1)) -> r.getDouble(2)).toMap
    val a = series(ascDir); val t = series(tifDir)
    assert(a.nonEmpty && a.keySet == t.keySet)
    a.foreach { case (k, va) => assert(math.abs(va - t(k)) < 1e-12, s"$k") }
  }

  test("pipeline parity on generated basins: .tif members produce the same series as .asc members") {
    import graft.api.{GridFixture, RadoHydro}
    import GridFixture._
    val spark = graft.core.TestSpark.spark
    val hours = (0 to 2).map(h => seeded(41, 1, h, nodataFrac = 0.05))
    // the same grids as deflate + predictor-2 tiles, 16 x 16 over 30 x 30
    // so the edge tiles are padded
    def tif(h: Hour) = Archives.Member(f"RW_20180101_${h.hour}%02d50.tif",
      TiffFixture.build(Rows, Cols, Xll, Uly, 1000.0, Nodata, (r, c) => h.values(r * Cols + c),
        compression = 8, tile = Some((16, 16)), predictor = 2))
    val asc = RadoHydro.run(spark, gridDir(Seq("RW-20180101.tar.gz" -> archive(hours))), basinsShp)
    val tiff = RadoHydro.run(spark, gridDir(Seq("RW-20180101.tar.gz" -> archive(hours, tif))), basinsShp)
    assert(tiff.meta == asc.meta && tiff.meta.nodata == Nodata)
    val (a, t) = (collect(asc.series), collect(tiff.series))
    assert(a.size == 4 * 3 && a.keySet == t.keySet)
    a.foreach { case (k, va) => assert(math.abs(va - t(k)) < 1e-12, s"$k") }
  }
}
