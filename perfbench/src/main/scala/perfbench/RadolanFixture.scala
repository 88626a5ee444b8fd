package perfbench

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import java.util.concurrent.Executors
import java.util.zip.{Deflater, GZIPOutputStream}

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._

import graft.geo.{Crs, Geom}
import graft.ingest.Archives
import graft.out.ShpWriter

/** Seeded RADOLAN-layout fixture: `.tar.gz` archives of consecutive hourly
  * 900x900 ESRI ASCII grids (values in 0.1 mm, nodata -1) plus a basin
  * shapefile in EPSG:25833, and the expected pipeline output derived from
  * the generator alone.
  *
  * Rain is a sum of Gaussian storm cells that appear, grow, drift and decay
  * at seeded times and speeds, times per-cell noise, so no two hours repeat
  * and the text compresses like real radar data rather than a formula.
  *
  * Every basin is a rectangle in grid index space (columns x, rows y, row 0
  * north), written as the EPSG:25833 image of its four corners. A seeded
  * subset has corners on cell boundaries ("check" basins); their cells and a
  * one-cell margin never hold nodata, so their area-weighted series is the
  * plain mean of their cells — computed here without geo or core code.
  */
object RadolanFixture {
  val Rows = 900
  val Cols = 900
  val CellM = 1000.0
  val XllM = -523462.0
  val YllM = -4658645.0
  val UlyM: Double = YllM + Rows * CellM
  val Nodata = -1
  val ShapeCrs = "epsg:25833"

  /** Fixture dimensions. Basin edges are drawn in km (= cells). */
  final case class Shape(archives: Int, hoursPerArchive: Int, basins: Int, squareKm: Int,
      minKm: Double, maxKm: Double, checks: Int)

  final case class Rect(x0: Double, y0: Double, x1: Double, y1: Double) {
    /** Cells the rectangle overlaps with positive area, as (row, col). */
    def cells: Seq[(Int, Int)] =
      for (r <- math.floor(y0).toInt until math.ceil(y1).toInt;
           c <- math.floor(x0).toInt until math.ceil(x1).toInt) yield (r, c)
  }

  /** What a correct run must produce; `checks` maps basinID to its
    * per-timestep mean rain in mm, in `times` order.
    */
  final case class Expect(times: IndexedSeq[String], basinsWithRows: Int,
      checks: Map[Int, IndexedSeq[Double]])

  final case class Fixture(dir: Path, gridDir: Path, shpPath: Path, expect: Expect,
      grids: Int, archives: Int)

  private val dayFmt = DateTimeFormatter.ofPattern("yyyyMMdd")
  private val outFmt = DateTimeFormatter.ofPattern("yyMMddHHmm")
  private val archiveFmt = DateTimeFormatter.ofPattern("yyyyMMdd-HH")

  final case class Storm(t0: Double, life: Double, x: Double, y: Double,
      vx: Double, vy: Double, sigma: Double, peak: Double) {
    /** Amplitude at hour t: a sine bump over the storm's life, else 0. */
    def amp(t: Double): Double =
      if (t < t0 || t > t0 + life) 0.0 else peak * math.sin(math.Pi * (t - t0) / life)
  }

  /** splitmix64 finaliser: a stateless hash for per-cell noise and nodata. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Layout of basins and storms for a seed, without rendering any grid. */
  final case class Plan(seed: Long, shape: Shape, start: LocalDateTime, rects: IndexedSeq[Rect],
      checkIds: IndexedSeq[Int], protectedCells: java.util.BitSet, storms: IndexedSeq[Storm]) {
    def hours: Int = shape.archives * shape.hoursPerArchive
  }

  def plan(shape: Shape, seed: Long): Plan = {
    val rng = new SplittableRandom(seed * 7919 + shape.basins)
    val side = shape.squareKm
    val originC = (Cols - side) / 2 + rng.nextInt(-100, 101)
    val originR = (Rows - side) / 2 + rng.nextInt(-100, 101)
    val checkIds = rng.ints(0, shape.basins).distinct().limit(shape.checks.toLong)
      .toArray.toIndexedSeq.map(_ + 1)
    val checkSet = checkIds.toSet
    // an edge within 2% of a cell line is nudged off it so that only check
    // basins can share a boundary with cells
    def offLine(v: Double): Double = {
      val f = v - math.floor(v)
      if (f < 0.02 || f > 0.98) v + 0.05 else v
    }
    val rects = (1 to shape.basins).map { id =>
      if (checkSet(id)) {
        val w = rng.nextInt(2, 5); val h = rng.nextInt(2, 5)
        val x0 = originC + 1 + rng.nextInt(side - w - 2)
        val y0 = originR + 1 + rng.nextInt(side - h - 2)
        Rect(x0, y0, x0 + w, y0 + h)
      } else {
        val w = shape.minKm + rng.nextDouble() * (shape.maxKm - shape.minKm)
        val h = shape.minKm + rng.nextDouble() * (shape.maxKm - shape.minKm)
        val x0 = offLine(originC + rng.nextDouble() * (side - w))
        val y0 = offLine(originR + rng.nextDouble() * (side - h))
        Rect(x0, y0, offLine(x0 + w), offLine(y0 + h))
      }
    }
    val prot = new java.util.BitSet(Rows * Cols)
    checkIds.foreach { id =>
      val b = rects(id - 1)
      for (r <- b.y0.toInt - 1 to b.y1.toInt; c <- b.x0.toInt - 1 to b.x1.toInt)
        prot.set(r * Cols + c)
    }
    val hours = shape.archives * shape.hoursPerArchive
    // about eight storms alive at any hour; some already alive at hour 0
    val storms = (0 until hours / 2 + 8).map { _ =>
      Storm(t0 = rng.nextDouble() * (hours + 12) - 12, life = 6 + rng.nextDouble() * 24,
        x = rng.nextDouble() * Cols, y = rng.nextDouble() * Rows,
        vx = rng.nextDouble() * 30 - 15, vy = rng.nextDouble() * 30 - 15,
        sigma = 12 + rng.nextDouble() * 80, peak = 10 + rng.nextDouble() * 140)
    }
    val start = LocalDateTime.of(2018, 5, 1, 0, 50).plusDays(rng.nextInt(120).toLong)
    Plan(seed, shape, start, rects, checkIds, prot, storms)
  }

  /** Cell values of one hourly grid, row-major, in 0.1 mm or [[Nodata]]. */
  def gridValues(p: Plan, hour: Int): Array[Int] = {
    val live = p.storms.indices.filter(j => p.storms(j).amp(hour) > 0).toArray
    val rowF = new Array[Array[Double]](p.storms.size)
    val colF = new Array[Array[Double]](p.storms.size)
    live.foreach { j =>
      val s = p.storms(j)
      val cx = s.x + s.vx * (hour - s.t0); val cy = s.y + s.vy * (hour - s.t0)
      val a = s.amp(hour)
      val inv = 1.0 / (2 * s.sigma * s.sigma)
      rowF(j) = Array.tabulate(Rows)(r => a * math.exp(-(r - cy) * (r - cy) * inv))
      colF(j) = Array.tabulate(Cols)(c => math.exp(-(c - cx) * (c - cx) * inv))
    }
    // rain in 0.1 mm, times per-cell noise in [0.6, 1.4); 0.1% nodata
    // outside the check basins' protected cells
    val values = new Array[Int](Rows * Cols)
    val active = new Array[Int](live.length)
    for (r <- 0 until Rows) {
      // storms too far from this row contribute nothing visible
      var nActive = 0
      live.foreach { j => if (rowF(j)(r) > 1e-3) { active(nActive) = j; nActive += 1 } }
      for (c <- 0 until Cols) {
        val idx = r * Cols + c
        val h = mix(p.seed * 0x5DEECE66DL + hour * 1000003L + idx)
        values(idx) =
          if (!p.protectedCells.get(idx) && java.lang.Long.remainderUnsigned(h, 1000) == 0) Nodata
          else {
            var s = 0.0
            var k = 0
            while (k < nActive) { val j = active(k); s += rowF(j)(r) * colF(j)(c); k += 1 }
            val noise = 0.6 + 0.8 * ((h >>> 11) & 0xFFFFF) / 1048576.0
            (s * noise).toInt
          }
      }
    }
    values
  }

  /** ESRI ASCII text of a grid produced by [[gridValues]]. */
  def renderAscii(values: Array[Int]): Array[Byte] = {
    val out = new ByteArrayOutputStream(Rows * Cols * 3)
    out.write(
      (s"ncols $Cols\nnrows $Rows\nxllcorner $XllM\nyllcorner $YllM\n" +
        s"cellsize $CellM\nNODATA_value ${Nodata.toDouble}\n").getBytes("US-ASCII"))
    val digits = new Array[Byte](12)
    for (r <- 0 until Rows) {
      for (c <- 0 until Cols) {
        val v = values(r * Cols + c)
        if (c > 0) out.write(' ')
        if (v < 0) { out.write('-'); writeDigits(out, -v, digits) } else writeDigits(out, v, digits)
      }
      out.write('\n')
    }
    out.toByteArray
  }

  private def writeDigits(out: ByteArrayOutputStream, v0: Int, buf: Array[Byte]): Unit = {
    var v = v0; var n = 0
    do { buf(n) = ('0' + v % 10).toByte; v /= 10; n += 1 } while (v > 0)
    while (n > 0) { n -= 1; out.write(buf(n).toInt) }
  }

  /** The rectangle's polygon in the shapefile CRS. */
  def polygon(b: Rect): Geom.Polygon = {
    val ring = Geom.boxRing(XllM + b.x0 * CellM, UlyM - b.y1 * CellM,
      XllM + b.x1 * CellM, UlyM - b.y0 * CellM)
    Crs.reproject(Array(ring), Crs.of("radolan_m"), Crs.of(ShapeCrs))
  }

  /** Generate (or reuse) the fixture for `seed` under `dir`. */
  def ensure(dir: Path, shape: Shape, seed: Long, threads: Int): Fixture = {
    val gridDir = dir.resolve("grids")
    val shpPath = dir.resolve("basins").resolve("basins.shp")
    if (!Files.exists(dir.resolve("_done"))) {
      val p = plan(shape, seed)
      Files.createDirectories(gridDir)
      Files.createDirectories(shpPath.getParent)
      ShpWriter.write(shpPath.toString, p.rects.map(polygon),
        p.rects.indices.map(i => Map[String, Any]("BASIN" -> (i + 1).toLong)), Seq("BASIN"))
      val pool = Executors.newFixedThreadPool(math.max(1, threads))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      def par[A, B](xs: Seq[A])(f: A => B): Seq[B] = Await.result(Future.traverse(xs)(x => Future(f(x))), Duration.Inf)
      val hours = try {
        val rendered = par(0 until p.hours)(h => renderHour(p, h))
        val n = shape.hoursPerArchive
        par(0 until shape.archives)(a => writeArchive(p, a * n, rendered.slice(a * n, a * n + n), gridDir))
        rendered
      } finally pool.shutdown()
      Files.write(dir.resolve("expect.txt"), expectLines(p, hours).asJava)
      Files.write(dir.resolve("_done"), Array.emptyByteArray)
    }
    load(dir)
  }

  /** A fixture [[ensure]] has generated under `dir`. */
  def load(dir: Path): Fixture = {
    require(Files.exists(dir.resolve("_done")), s"no fixture under $dir")
    val gridDir = dir.resolve("grids")
    val expect = readExpect(dir.resolve("expect.txt"))
    val archives = Files.list(gridDir).iterator().asScala.count(_.getFileName.toString.endsWith(".tar.gz"))
    Fixture(dir, gridDir, dir.resolve("basins").resolve("basins.shp"), expect, expect.times.size, archives)
  }

  /** One rendered hour: its archive member, nodata cells and, per check
    * basin, the sum of its cells' values.
    */
  final case class Hour(member: Archives.Member, nodata: Array[Int], checkSums: Array[Long])

  private def renderHour(p: Plan, hour: Int): Hour = {
    val values = gridValues(p, hour)
    val t = p.start.plusHours(hour.toLong)
    Hour(Archives.Member(f"RW_${t.format(dayFmt)}_${t.getHour}%02d50.asc", renderAscii(values)),
      values.indices.filter(i => values(i) == Nodata).toArray,
      p.checkIds.map(id => p.rects(id - 1).cells.map { case (r, c) => values(r * Cols + c).toLong }.sum).toArray)
  }

  private def writeArchive(p: Plan, firstHour: Int, hours: Seq[Hour], gridDir: Path): Unit = {
    val bos = new ByteArrayOutputStream()
    // fastest deflate level: generation runs once per seed and is not timed
    val gz = new GZIPOutputStream(bos, 1 << 16) { `def`.setLevel(Deflater.BEST_SPEED) }
    gz.write(Archives.tar(hours.map(_.member))); gz.close()
    val name = s"RW-${p.start.plusHours(firstHour.toLong).format(archiveFmt)}.tar.gz"
    val tmp = gridDir.resolve(s".$name.tmp")
    Files.write(tmp, bos.toByteArray)
    Files.move(tmp, gridDir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
  }

  private def expectLines(p: Plan, hours: Seq[Hour]): Seq[String] = {
    val times = (0 until p.hours).map(h => p.start.plusHours(h.toLong).format(outFmt))
    val nanCnt = new Array[Int](Rows * Cols)
    hours.foreach(_.nodata.foreach(i => nanCnt(i) += 1))
    // the per-basin NaN gate: when fewer cells miss >1 hour than the basin
    // has, cells missing any hour are dropped; a basin with no cell left
    // has no rows
    val withRows = p.rects.count { b =>
      val cnt = b.cells.map { case (r, c) => nanCnt(r * Cols + c) }
      val bad = cnt.count(_ > 1)
      val kept = if (bad < cnt.size) cnt.count(_ == 0) else cnt.size
      kept > 0
    }
    val checks = p.checkIds.zipWithIndex.map { case (id, k) =>
      val n = p.rects(id - 1).cells.size
      s"check $id " + hours.map(h => java.lang.Double.toString(h.checkSums(k) / 10.0 / n)).mkString(" ")
    }
    Seq(s"times ${times.mkString(" ")}", s"basins_with_rows $withRows") ++ checks
  }

  def readExpect(path: Path): Expect = {
    val lines = Files.readAllLines(path).asScala.map(_.split(" ").toIndexedSeq)
    val times = lines.find(_.head == "times").get.tail
    val withRows = lines.find(_.head == "basins_with_rows").get(1).toInt
    val checks = lines.filter(_.head == "check").map(l => l(1).toInt -> l.drop(2).map(_.toDouble)).toMap
    Expect(times, withRows, checks)
  }
}
