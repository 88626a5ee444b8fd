package graft.api

import java.io.ByteArrayInputStream
import java.net.URI
import java.nio.file.{Files, Path}
import java.time.{LocalDateTime, ZoneOffset}

import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TestSpark
import graft.geo.{Crs, Geom}
import graft.ingest.Archives
import graft.out.ShpWriter

/** The flagship pipeline on fixtures generated here, so it runs wherever the
  * tests run. Basins are rectangles on cell boundaries, so each basin's
  * series is the plain mean of its cells, computed from the generator alone.
  * The grid directory mixes every archive layout the scan reads: a daily
  * `.tar.gz`, a monthly `.tar` of daily `.tar.gz` archives, one hour
  * repeated in a second daily archive as an `.asc.gz` member, and hidden
  * sidecar files that sort first.
  */
class RadoHydroFixtureSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  // a 30 x 30 block of the RADOLAN grid, 1 km cells, row 0 north
  private val Rows = 30
  private val Cols = 30
  private val Xll = -123462.0
  private val Uly = -4188645.0
  private val Nodata = -1

  /** Basins as (row0, col0, row1, col1) cell ranges, half-open. */
  private val rects = Seq((8, 6, 11, 10), (12, 14, 16, 17), (18, 9, 20, 13))
  private val nodataCell = (9, 7) // inside basin 1, on day 1 hour 1 only

  private def value(day: Int, hour: Int, r: Int, c: Int): Int =
    if (day == 1 && hour == 1 && (r, c) == nodataCell) Nodata
    else (r * 31 + c * 17 + day * 7 + hour * 13) % 300

  private def ascii(day: Int, hour: Int): Array[Byte] = {
    val sb = new StringBuilder
    sb ++= s"ncols $Cols\nnrows $Rows\nxllcorner $Xll\nyllcorner ${Uly - Rows * 1000}\n"
    sb ++= s"cellsize 1000\nNODATA_value $Nodata\n"
    for (r <- 0 until Rows) sb ++= (0 until Cols).map(c => value(day, hour, r, c)).mkString(" ") += '\n'
    sb.toString.getBytes("US-ASCII")
  }

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  private def member(day: Int, hour: Int, gz: Boolean): Archives.Member = {
    val name = f"RW_2018010${day}_$hour%02d50.asc"
    if (gz) Archives.Member(name + ".gz", gzip(ascii(day, hour)))
    else Archives.Member(name, ascii(day, hour))
  }

  private def daily(day: Int, hours: Seq[Int], gz: Boolean = false): Array[Byte] =
    gzip(Archives.tar(hours.map(member(day, _, gz))))

  private lazy val fixture: (String, String) = {
    val root = Files.createTempDirectory("rado_fixture")
    val grids = Files.createDirectories(root.resolve("grids"))
    def put(name: String, b: Array[Byte]): Path = Files.write(grids.resolve(name), b)
    // written through Hadoop's local filesystem, which leaves a
    // `.RW-20180101.tar.gz.crc` sidecar that sorts before every archive
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val out = fs.create(new org.apache.hadoop.fs.Path(grids.resolve("RW-20180101.tar.gz").toString))
    out.write(daily(1, 0 to 2)); out.close()
    assert(Files.exists(grids.resolve(".RW-20180101.tar.gz.crc")))
    put("RW-20180101-00.tar.gz", daily(1, Seq(0), gz = true)) // hour 0 of day 1 again
    put("RW-201801.tar", Archives.tar(Seq(
      Archives.Member("RW-20180102.tar.gz", daily(2, 0 to 2)),
      Archives.Member("RW-20180103.tar.gz", daily(3, 0 to 2)))))
    put(".DS_Store", Array.fill[Byte](64)(1))
    val shp = root.resolve("basins.shp").toString
    val (grid, shape) = (Crs.of("radolan_m"), Crs.of("epsg:25833"))
    val polys = rects.map { case (r0, c0, r1, c1) =>
      Crs.reproject(Array(Geom.boxRing(Xll + c0 * 1000, Uly - r1 * 1000.0, Xll + c1 * 1000, Uly - r0 * 1000.0)),
        grid, shape)
    }
    ShpWriter.write(shp, polys, rects.indices.map(i => Map[String, Any]("BASIN" -> (i + 1).toLong)), Seq("BASIN"))
    (grids.toString, shp)
  }

  private def series(res: RadoHydro.Result): Map[(Int, Long), Double] =
    res.series.collect().map(r => (r.getInt(0), r.getTimestamp(1).getTime) -> r.getDouble(2)).toMap

  /** Expected (basinID, epoch ms) -> mm: the mean of the basin's cells. A
    * masked nodata cell fails the NaN gate and leaves its basin for good.
    */
  private def expected(days: Seq[Int], mask: Boolean): Map[(Int, Long), Double] =
    (for {
      (rect, i) <- rects.zipWithIndex
      (r0, c0, r1, c1) = rect
      cells = for (r <- r0 until r1; c <- c0 until c1 if !(mask && (r, c) == nodataCell)) yield (r, c)
      day <- days
      hour <- 0 to 2
    } yield {
      val ms = LocalDateTime.of(2018, 1, day, hour, 50).toInstant(ZoneOffset.UTC).toEpochMilli
      (i + 1, ms) -> cells.map { case (r, c) => value(day, hour, r, c) / 10.0 }.sum / cells.size
    }).toMap

  private def check(cfg: RadoHydro.Config, days: Seq[Int], grids: String = fixture._1): RadoHydro.Result = {
    val res = RadoHydro.run(spark, grids, fixture._2, cfg)
    val got = series(res)
    val want = expected(days, cfg.maskNodata)
    assert(got.keySet == want.keySet)
    // the corners round-trip through EPSG:25833, which moves edge-cell
    // weights by ~1e-8; one wrong cell moves a mean by more than 1e-3
    want.foreach { case (k, v) => assert(math.abs(got(k) - v) <= 1e-6 * math.max(1.0, v), s"$k: ${got(k)} vs $v") }
    res
  }

  test("masked run over every archive layout equals closed-form cell means; the repeated hour counts once") {
    val res = check(RadoHydro.Config(), Seq(1, 2, 3))
    assert(res.meta.nrows == Rows && res.meta.ncols == Cols)
    // 9 distinct hours; without the dedup day 1 hour 0 would appear twice
    assert(res.values.count() == 9L * res.window.nrows * res.window.ncols)
  }

  test("unmasked run with a date range prunes the nested day 3 archive and keeps nodata as a value") {
    check(RadoHydro.Config(startDate = Some("20180101"), endDate = Some("20180102"), maskNodata = false), Seq(1, 2))
  }

  test("asciigrid source skips hidden files and reads every layout through the same scan") {
    val (grids, _) = fixture
    val df = spark.read.format("graft.sources.AsciiGridSource").load(grids)
    assert(df.count() == 10L * Rows * Cols) // 9 hours + the repeated one
    val v = df.where("row = 9 and col = 7").orderBy("ts").collect().map(_.getDouble(3)).toSeq
    assert(v.size == 10 && v.contains(Nodata.toDouble))
  }

  test("the flagship scan reads no file content: its binaryFile ReadSchema holds the path only") {
    val res = RadoHydro.run(spark, fixture._1, fixture._2)
    def binaryScans(p: SparkPlan): Seq[FileSourceScanExec] = collect(p) {
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[BinaryFileFormat] => Seq(s)
      case m: InMemoryTableScanExec => binaryScans(m.relation.cachedPlan)
    }.flatten
    val scans = binaryScans(res.values.queryExecution.executedPlan)
    assert(scans.map(_.metadata("ReadSchema")) == Seq("struct<path:string>"))
  }

  test("run, peekFirstGrid and the asciigrid source read through a non-file Hadoop scheme") {
    // the fixture's files, one of them renamed to hold a space
    val copy = Files.createTempDirectory("rado_scheme").resolve("grids")
    Files.createDirectories(copy)
    Files.list(Path.of(fixture._1)).forEach { f =>
      val name = f.getFileName.toString
      Files.copy(f, copy.resolve(if (name == "RW-20180101-00.tar.gz") "RW-20180101-00 again.tar.gz" else name))
    }
    spark.sparkContext.hadoopConfiguration.set(s"fs.${OtherSchemeFileSystem.Scheme}.impl",
      classOf[OtherSchemeFileSystem].getName)
    val viaScheme = s"${OtherSchemeFileSystem.Scheme}://$copy"
    val local = series(check(RadoHydro.Config(), Seq(1, 2, 3), copy.toString))
    val res = check(RadoHydro.Config(), Seq(1, 2, 3), viaScheme)
    assert(series(res) == local)
    val files = RadoHydro.rasterFiles(spark, viaScheme)
    assert(files.inputFiles.length == 3 && files.inputFiles.forall(_.startsWith(OtherSchemeFileSystem.Scheme + ":")))
    assert(RadoHydro.peekFirstGrid(files, "radolan") == res.meta)
    val df = spark.read.format("graft.sources.AsciiGridSource").load(viaScheme)
    assert(df.count() == 10L * Rows * Cols)
  }

  test("the scan task allocates less than half the uncompressed size of a 900x900 archive") {
    val members = (0 until 6).map { h =>
      val sb = new StringBuilder(900 * 900 * 4)
      sb ++= "ncols 900\nnrows 900\nxllcorner -523462.0\nyllcorner -4658645.0\ncellsize 1000.0\nNODATA_value -1.0\n"
      for (r <- 0 until 900) {
        var c = 0
        while (c < 900) { if (c > 0) sb += ' '; sb.append((r * 31 + c * 17 + h * 7) % 1000); c += 1 }
        sb += '\n'
      }
      Archives.Member(f"RW_20180101_$h%02d50.asc", sb.toString.getBytes("US-ASCII"))
    }
    val tar = Archives.tar(members)
    val archive = gzip(tar)
    val spec = RadoHydro.ScanSpec("radolan", (400, 430), (400, 430))
    def decode(): Int =
      RadoHydro.gridRows("RW-20180101.tar.gz", new ByteArrayInputStream(archive), spec, maskNodata = true)
        .flatMap(_.readings(30)).size
    assert(decode() == 6 * 30 * 30)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val id = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(id)
    decode()
    val allocated = mx.getThreadAllocatedBytes(id) - before
    info(s"allocated $allocated bytes decoding ${tar.length} uncompressed bytes")
    assert(allocated < tar.length / 2)
  }
}

/** The local filesystem under a scheme of its own, so a test can read through
  * a Hadoop `FileSystem` that is not `file:` without a network.
  */
class OtherSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${OtherSchemeFileSystem.Scheme}:///")
  override def getScheme: String = OtherSchemeFileSystem.Scheme
}

object OtherSchemeFileSystem {
  val Scheme = "graftlocal"
}
