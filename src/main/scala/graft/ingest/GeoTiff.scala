package graft.ingest

import java.nio.{ByteBuffer, ByteOrder}

/** GeoTIFF reader (SURVEY S9 — the reference's `gdal.Open` branch,
  * geotools/geotools.py:49-54, reachable when a raster path is passed
  * directly; implemented here so the engine accepts .tif members the same
  * way it accepts ASCII grids).
  *
  * Scope: single-band classic TIFF (42) or BigTIFF (43) in either byte
  * order; stripped OR tiled layout; uncompressed, deflate (8 / 32946) or
  * LZW (5) compression, with TIFF predictor 1 (none) or 2 (horizontal
  * differencing); 8/16/32-bit integer (signed/unsigned) and 32/64-bit
  * float samples; georeferencing from ModelPixelScale + ModelTiepoint (the
  * GDAL-standard tags), nodata from GDAL_NODATA. This covers what
  * `gdal_translate`'s common
  * `-co COMPRESS=DEFLATE|LZW [-co TILED=YES] [-co PREDICTOR=2] [-co BIGTIFF=YES]`
  * outputs (within a single in-memory member, the binaryFile path's unit).
  *
  * Window pushdown survives compression: only the strips/tiles that
  * intersect the requested (rowRange, colRange) are decompressed — at
  * scale, a bbox slice of a tiled raster touches O(window) tiles, not the
  * whole image.
  */
object GeoTiff {

  final case class Meta(ncols: Int, nrows: Int,
      ulx: Double, uly: Double, xres: Double, yres: Double, nodata: Double)

  private final case class Entry(tag: Int, typ: Int, count: Int, valueOffset: Long)

  /** Number of IFDs (pages) in the file — a GDAL overview pyramid is the
    * full raster at page 0 with reduced-resolution overviews chained after.
    */
  def pageCount(bytes: Array[Byte]): Int = {
    var n = 0
    var off = firstIfdOffset(bytes)
    while (off != 0) { n += 1; off = nextIfdOffset(bytes, off) }
    n
  }

  private def header(bytes: Array[Byte]): (ByteBuffer, Boolean) = {
    val buf = ByteBuffer.wrap(bytes)
    val order = bytes(0) match {
      case 'I' => ByteOrder.LITTLE_ENDIAN
      case 'M' => ByteOrder.BIG_ENDIAN
      case _   => throw new IllegalArgumentException("not a TIFF (bad byte-order mark)")
    }
    buf.order(order)
    val version = buf.getShort(2) & 0xffff
    require(version == 42 || version == 43, s"not a TIFF (magic $version != 42/43)")
    (buf, version == 43)
  }

  private def firstIfdOffset(bytes: Array[Byte]): Long = {
    val (buf, isBig) = header(bytes)
    if (isBig) buf.getLong(8) else buf.getInt(4) & 0xffffffffL
  }

  private def nextIfdOffset(bytes: Array[Byte], ifdOffset: Long): Long = {
    val (buf, isBig) = header(bytes)
    val n = (if (isBig) buf.getLong(ifdOffset.toInt)
             else (buf.getShort(ifdOffset.toInt) & 0xffff).toLong).toInt
    val entrySize = if (isBig) 20 else 12
    val afterEntries = ifdOffset.toInt + (if (isBig) 8 else 2) + n * entrySize
    if (isBig) buf.getLong(afterEntries) else buf.getInt(afterEntries) & 0xffffffffL
  }

  /** @param page IFD index: 0 = full raster, 1.. = overview pages. */
  def parse(bytes: Array[Byte],
      rowRange: Option[(Int, Int)] = None,
      colRange: Option[(Int, Int)] = None,
      page: Int = 0): (Meta, Iterator[Cell]) = {
    // BigTIFF (43): 8-byte offsets, 20-byte IFD entries, 8-byte counts —
    // the container GDAL writes for rasters past the classic 4 GB limit.
    val (buf, isBig) = header(bytes)
    val order = buf.order()
    if (isBig) require((buf.getShort(4) & 0xffff) == 8 && buf.getShort(6) == 0,
      "BigTIFF: bad offset bytesize header")
    var ifdOffset = firstIfdOffset(bytes)
    var skip = page
    while (skip > 0) {
      ifdOffset = nextIfdOffset(bytes, ifdOffset)
      require(ifdOffset != 0, s"TIFF: page $page requested but file has fewer IFDs")
      skip -= 1
    }

    // --- IFD (layout-abstracted: classic vs BigTIFF) -----------------------
    val entrySize = if (isBig) 20 else 12
    val inlineCap = if (isBig) 8 else 4
    val n: Int =
      (if (isBig) buf.getLong(ifdOffset.toInt) else (buf.getShort(ifdOffset.toInt) & 0xffff).toLong).toInt
    val firstEntry = ifdOffset.toInt + (if (isBig) 8 else 2)
    def typeSize(typ: Int): Int = typ match {
      case 1 | 2 | 6 | 7        => 1 // BYTE/ASCII/SBYTE/UNDEFINED
      case 3                    => 2 // SHORT
      case 4 | 9 | 11           => 4 // LONG/SLONG/FLOAT
      case 5 | 10 | 12 | 16 | 17 | 18 => 8 // RATIONAL/DOUBLE/LONG8/IFD8
      case other => throw new IllegalArgumentException(s"TIFF: unknown field type $other")
    }
    // Entry.valueOffset here is the absolute position of the VALUE FIELD;
    // valueBase resolves inline-vs-pointed storage uniformly
    val entries = (0 until n).map { i =>
      val off = firstEntry + i * entrySize
      val count = if (isBig) buf.getLong(off + 4) else (buf.getInt(off + 4) & 0xffffffffL)
      Entry(buf.getShort(off) & 0xffff, buf.getShort(off + 2) & 0xffff,
        count.toInt, (off + (if (isBig) 12 else 8)).toLong)
    }.map(e => e.tag -> e).toMap

    def valueBase(e: Entry): Int = {
      val fieldOff = e.valueOffset.toInt
      if (e.count.toLong * typeSize(e.typ) <= inlineCap) fieldOff
      else if (isBig) buf.getLong(fieldOff).toInt
      else buf.getInt(fieldOff)
    }
    def longAt(typ: Int, off: Int): Long = typ match {
      case 3           => buf.getShort(off) & 0xffffL
      case 4 | 9       => buf.getInt(off) & 0xffffffffL
      case 16 | 17 | 18 => buf.getLong(off)
      case other => throw new IllegalArgumentException(s"TIFF: non-integer field type $other")
    }
    def longArray(e: Entry): Array[Long] = {
      val base = valueBase(e)
      val sz = typeSize(e.typ)
      Array.tabulate(e.count)(i => longAt(e.typ, base + sz * i))
    }
    def intVal(tag: Int, default: => Int): Int = entries.get(tag) match {
      case None    => default
      case Some(e) => longAt(e.typ, valueBase(e)).toInt
    }
    def doubleArray(e: Entry): Array[Double] = {
      val off = valueBase(e)
      Array.tabulate(e.count)(i => buf.getDouble(off + 8 * i))
    }
    def asciiVal(e: Entry): String =
      if (e.count < 2) ""
      else new String(bytes, valueBase(e), e.count - 1, "US-ASCII").trim

    val ncols = intVal(256, throw new IllegalArgumentException("TIFF: no ImageWidth"))
    val nrows = intVal(257, throw new IllegalArgumentException("TIFF: no ImageLength"))
    val bits = intVal(258, 1)
    val compression = intVal(259, 1)
    require(compression == 1 || compression == 5 || compression == 8 || compression == 32946,
      s"GeoTiff: unsupported compression=$compression (none/LZW/deflate only)")
    val predictor = intVal(317, 1)
    require(predictor == 1 || predictor == 2,
      s"GeoTiff: unsupported predictor=$predictor (1=none, 2=horizontal only)")
    val samplesPerPixel = intVal(277, 1)
    require(samplesPerPixel == 1, s"GeoTiff: single-band only (got $samplesPerPixel)")
    val sampleFormat = intVal(339, 1) // 1 uint, 2 int, 3 float
    require(predictor != 2 || sampleFormat != 3,
      "GeoTiff: predictor=2 applies to integer samples only")
    val bytesPerSample = bits / 8
    val tiled = entries.contains(322)

    val (scaleX, scaleY) = entries.get(33550).map(doubleArray) match {
      case Some(Array(sx, sy, _*)) => (sx, sy)
      case _ => (1.0, 1.0)
    }
    val (ulx, uly) = entries.get(33922).map(doubleArray) match {
      // tiepoint: (i, j, k, x, y, z) — raster point (i,j) maps to model (x,y)
      case Some(a) if a.length >= 6 => (a(3) - a(0) * scaleX, a(4) + a(1) * scaleY)
      case _ => (0.0, 0.0)
    }
    val nodata = entries.get(42113).map(e => asciiVal(e)).filter(_.nonEmpty)
      .map(_.toDouble).getOrElse(Double.NaN)

    val meta = Meta(ncols, nrows, ulx, uly, scaleX, -scaleY, nodata)
    val (r0, r1) = rowRange.getOrElse((0, nrows))
    val (c0, c1) = colRange.getOrElse((0, ncols))
    val rLo = math.max(0, r0); val rHi = math.min(nrows, r1)
    val cLo = math.max(0, c0); val cHi = math.min(ncols, c1)

    /** Decompress one strip/tile payload to exactly `expected` bytes and undo
      * the predictor (rows of `width` samples).
      */
    def decodeBlock(fileOff: Long, byteCount: Long, expected: Int, width: Int): ByteBuffer = {
      val decoded = compression match {
        case 1 =>
          val a = new Array[Byte](expected)
          // byteCount can be Long.MaxValue (tag 279 absent) — min in LONG
          // space, or the Int truncation turns it into -1
          System.arraycopy(bytes, fileOff.toInt, a, 0, math.min(expected.toLong, byteCount).toInt)
          a
        case 5 =>
          TiffLzw.decode(bytes, fileOff.toInt, byteCount.toInt, expected)
        case _ =>
          val inf = new java.util.zip.Inflater()
          inf.setInput(bytes, fileOff.toInt, byteCount.toInt)
          val a = new Array[Byte](expected)
          var at = 0
          while (at < expected && !inf.finished()) {
            val got = inf.inflate(a, at, expected - at)
            if (got == 0 && inf.needsInput())
              throw new IllegalArgumentException("GeoTiff: truncated deflate block")
            at += got
          }
          inf.end()
          require(at == expected,
            s"GeoTiff: deflate block decoded $at of $expected bytes") // no silent zero-fill
          a
      }
      if (predictor == 2) undoHorizontalPredictor(decoded, width, bytesPerSample, order)
      ByteBuffer.wrap(decoded).order(order)
    }

    def sampleAt(block: ByteBuffer, idx: Int): Double = {
      val off = idx * bytesPerSample
      (sampleFormat, bits) match {
        case (3, 32) => block.getFloat(off).toDouble
        case (3, 64) => block.getDouble(off)
        case (2, 16) => block.getShort(off).toDouble
        case (2, 32) => block.getInt(off).toDouble
        case (1, 8)  => (block.get(off) & 0xff).toDouble
        case (1, 16) => (block.getShort(off) & 0xffff).toDouble
        case (1, 32) => (block.getInt(off) & 0xffffffffL).toDouble
        case other   => throw new IllegalArgumentException(s"GeoTiff: unsupported sample $other")
      }
    }

    val cells: Iterator[Cell] =
      if (rLo >= rHi || cLo >= cHi) Iterator.empty
      else if (tiled) {
        val tw = intVal(322, ncols)
        val th = intVal(323, nrows)
        val tileOffsets = longArray(entries.getOrElse(324,
          throw new IllegalArgumentException("TIFF: tiled but no TileOffsets")))
        val tileCounts = longArray(entries.getOrElse(325,
          throw new IllegalArgumentException("TIFF: tiled but no TileByteCounts")))
        val tilesAcross = (ncols + tw - 1) / tw
        val expected = tw * th * bytesPerSample
        // only tiles intersecting the window are decompressed
        Iterator.range(rLo / th, (rHi - 1) / th + 1).flatMap { tr =>
          Iterator.range(cLo / tw, (cHi - 1) / tw + 1).flatMap { tc =>
            val t = tr * tilesAcross + tc
            val block = decodeBlock(tileOffsets(t), tileCounts(t), expected, tw)
            val rowIn0 = math.max(rLo, tr * th) - tr * th
            val rowIn1 = math.min(rHi, (tr + 1) * th) - tr * th
            val colIn0 = math.max(cLo, tc * tw) - tc * tw
            val colIn1 = math.min(cHi, (tc + 1) * tw) - tc * tw
            Iterator.range(rowIn0, rowIn1).flatMap { ri =>
              Iterator.range(colIn0, colIn1).map { ci =>
                Cell(tr * th + ri, tc * tw + ci, sampleAt(block, ri * tw + ci))
              }
            }
          }
        }
      } else {
        val rowsPerStrip = intVal(278, nrows)
        val stripOffsets = longArray(entries(273))
        val stripCounts = entries.get(279).map(longArray).getOrElse(
          Array.fill(stripOffsets.length)(Long.MaxValue))
        // only strips intersecting the row window are decompressed
        Iterator.range(rLo / rowsPerStrip, (rHi - 1) / rowsPerStrip + 1).flatMap { strip =>
          val stripRows = math.min(rowsPerStrip, nrows - strip * rowsPerStrip)
          val block = decodeBlock(stripOffsets(strip), stripCounts(strip),
            stripRows * ncols * bytesPerSample, ncols)
          val rowIn0 = math.max(rLo, strip * rowsPerStrip) - strip * rowsPerStrip
          val rowIn1 = math.min(rHi, strip * rowsPerStrip + stripRows) - strip * rowsPerStrip
          Iterator.range(rowIn0, rowIn1).flatMap { ri =>
            Iterator.range(cLo, cHi).map { ci =>
              Cell(strip * rowsPerStrip + ri, ci, sampleAt(block, ri * ncols + ci))
            }
          }
        }
      }
    (meta, cells)
  }

  /** TIFF predictor 2: within each row, sample[i] = sample[i-1] + delta —
    * undo by cumulative sum over the row, on the integer interpretation at
    * the file's sample width/byte order. In place.
    */
  private def undoHorizontalPredictor(data: Array[Byte], width: Int,
      bytesPerSample: Int, order: ByteOrder): Unit = {
    val bb = ByteBuffer.wrap(data).order(order)
    val rows = data.length / (width * bytesPerSample)
    var r = 0
    while (r < rows) {
      val base = r * width * bytesPerSample
      var c = 1
      bytesPerSample match {
        case 1 =>
          while (c < width) { data(base + c) = (data(base + c) + data(base + c - 1)).toByte; c += 1 }
        case 2 =>
          while (c < width) {
            bb.putShort(base + c * 2, (bb.getShort(base + c * 2) + bb.getShort(base + (c - 1) * 2)).toShort)
            c += 1
          }
        case 4 =>
          while (c < width) {
            bb.putInt(base + c * 4, bb.getInt(base + c * 4) + bb.getInt(base + (c - 1) * 4))
            c += 1
          }
        case other =>
          throw new IllegalArgumentException(s"GeoTiff: predictor=2 with $other-byte samples")
      }
      r += 1
    }
  }
}

/** TIFF-variant LZW decoder (Compression=5): MSB-first bit packing, codes
  * start at 9 bits, ClearCode=256, EOI=257, code width grows one entry
  * EARLY (libtiff convention: when the table reaches (1 << width) - 1
  * entries — 511/1023/2047 — the next code is read at the wider size, one
  * entry before the current width would overflow).
  */
object TiffLzw {

  def decode(in: Array[Byte], off: Int, len: Int, expected: Int): Array[Byte] = {
    val out = new Array[Byte](expected)
    var outPos = 0
    val totalBits = len.toLong * 8
    var bitPos = 0L
    var codeSize = 9

    // dictionary: flat byte arrays; entries 0..255 literal, 256 clear, 257 EOI
    val dict = new Array[Array[Byte]](4096)
    var dictSize = 258
    var i = 0
    while (i < 256) { dict(i) = Array(i.toByte); i += 1 }

    def nextCode(): Int = {
      if (bitPos + codeSize > totalBits) 257 // ran off the end: treat as EOI
      else {
        var v = 0
        var k = 0
        while (k < codeSize) {
          val b = bitPos + k
          v = (v << 1) | ((in(off + (b >> 3).toInt) >> (7 - (b & 7).toInt)) & 1)
          k += 1
        }
        bitPos += codeSize
        v
      }
    }
    def emit(entry: Array[Byte]): Unit = {
      val m = math.min(entry.length, expected - outPos)
      System.arraycopy(entry, 0, out, outPos, m)
      outPos += m
    }

    var prev: Array[Byte] = null
    var code = nextCode()
    while (code != 257 && outPos < expected) {
      if (code == 256) { // clear
        java.util.Arrays.fill(dict.asInstanceOf[Array[AnyRef]], 258, dictSize, null)
        dictSize = 258
        codeSize = 9
        prev = null
      } else {
        val entry =
          if (code < dictSize && dict(code) != null) dict(code)
          else if (code == dictSize && prev != null) { // KwKwK case
            val e = java.util.Arrays.copyOf(prev, prev.length + 1)
            e(prev.length) = prev(0)
            e
          } else throw new IllegalArgumentException(s"TiffLzw: bad code $code (dict $dictSize)")
        emit(entry)
        if (prev != null && dictSize < 4096) {
          val ne = java.util.Arrays.copyOf(prev, prev.length + 1)
          ne(prev.length) = entry(0)
          dict(dictSize) = ne
          dictSize += 1
        }
        prev = entry
        // TIFF early change: grow the read width one entry before the table
        // actually overflows the current width
        if (dictSize == (1 << codeSize) - 1 && codeSize < 12) codeSize += 1
      }
      code = nextCode()
    }
    require(outPos == expected, s"TiffLzw: decoded $outPos of $expected bytes")
    out
  }
}
