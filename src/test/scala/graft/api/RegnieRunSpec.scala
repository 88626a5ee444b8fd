package graft.api

import java.nio.file.Files
import java.time.{LocalDate, ZoneOffset}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Grid, TestSpark}
import graft.geo.Geom
import graft.ingest.{Archives, Regnie}
import graft.out.ShpWriter

/** `RadoHydro.run` on REGNIE daily grids generated here: 971 lines of 611
  * fixed-width 4-character values in 0.1 mm plus the trailer line the
  * reference discards, -999 nodata, as `.gz` members of a tar. The members'
  * 2-digit years fall on both sides of Python's %y pivot (99 -> 1999,
  * 05 -> 2005). Basins are EPSG:4326 boxes inset a tenth of a cell inside
  * whole cells and areas are measured in EPSG:4326, where every cell has
  * the same area, so each basin's series is the plain mean of its cells.
  */
class RegnieRunSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** (member name, day) per generated grid. */
  private val days = Seq("ra990715" -> LocalDate.of(1999, 7, 15), "ra050716" -> LocalDate.of(2005, 7, 16))

  /** Basins as (row0, col0, row1, col1) cell ranges, half-open. */
  private val rects = Seq((500, 300, 501, 301), (600, 200, 602, 202), (700, 400, 701, 402), (800, 100, 801, 101))

  /** Nodata cells: (700, 400) in basin 3 on the first day only, basin 4's
    * one cell on both days, and a sprinkle in the northern rows.
    */
  private def value(m: Int, r: Int, c: Int): Int =
    if ((r, c) == (700, 400) && m == 0 || (r, c) == (800, 100) || r < 400 && (r * 611 + c) % 389 == 0) Regnie.Nodata
    else (r * 7 + c * 13 + m * 101) % 1000

  private def member(m: Int): Archives.Member = {
    val sb = new StringBuilder
    for (r <- 0 until Regnie.Lines) {
      for (c <- 0 until Regnie.ValuesPerLine) sb ++= f"${value(m, r, c)}%4d"
      sb += '\n'
    }
    sb ++= "TRAILER 971 x 611\n"
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(sb.toString.getBytes("US-ASCII")); gz.close()
    Archives.Member(days(m)._1 + ".gz", bos.toByteArray)
  }

  private lazy val fixture: (String, String) = {
    val root = Files.createTempDirectory("regnie_fixture")
    val grids = Files.createDirectories(root.resolve("grids"))
    Files.write(grids.resolve("regnie.tar"), Archives.tar(days.indices.map(member)))
    val shp = root.resolve("basins.shp").toString
    val polys = rects.map { case (r0, c0, r1, c1) =>
      Array(Geom.boxRing(Regnie.ulx + (c0 + 0.1) * Regnie.xres, Regnie.uly + (r1 - 0.1) * Regnie.yres,
        Regnie.ulx + (c1 - 0.1) * Regnie.xres, Regnie.uly + (r0 + 0.1) * Regnie.yres))
    }
    ShpWriter.write(shp, polys, rects.indices.map(i => Map[String, Any]("BASIN" -> (i + 1).toLong)), Seq("BASIN"))
    (grids.toString, shp)
  }

  private val cfg = RadoHydro.Config(datasource = "regnie", shapeCrs = "epsg:4326", outCrs = "epsg:4326")

  /** Expected (basinID, epoch ms) -> mm when the members `ms` are read: the
    * mean of the basin's kept cells. The NaN gate per basin: unless every
    * cell is missing more than once, a cell missing at all leaves it (basin
    * 3's (700, 400) once the first day is read; basin 4's one cell, and with
    * it the basin, when only one day is read); basin 4's cell, missing on
    * both days, is kept and gives NaN.
    */
  private def expected(ms: Seq[Int]): Map[(Int, Long), Double] =
    (for {
      ((r0, c0, r1, c1), i) <- rects.zipWithIndex
      cells = for (r <- r0 until r1; c <- c0 until c1) yield (r, c)
      missing = cells.map { case (r, c) => (r, c) -> ms.count(value(_, r, c) == Regnie.Nodata) }.toMap
      kept = if (cells.count(missing(_) > 1) < cells.size) cells.filter(missing(_) == 0) else cells
      if kept.nonEmpty
      m <- ms
    } yield {
      val vs = kept.map { case (r, c) => value(m, r, c) }
      val mm = if (vs.contains(Regnie.Nodata)) Double.NaN else vs.map(_ / 10.0).sum / vs.size
      (i + 1, days(m)._2.atStartOfDay.toInstant(ZoneOffset.UTC).toEpochMilli) -> mm
    }).toMap

  private def check(res: RadoHydro.Result, ms: Seq[Int]): Unit = {
    val got = res.series.collect().map(r => (r.getInt(0), r.getTimestamp(1).getTime) -> r.getDouble(2)).toMap
    val want = expected(ms)
    assert(got.keySet == want.keySet)
    want.foreach { case (k, v) =>
      assert(if (v.isNaN) got(k).isNaN else math.abs(got(k) - v) <= 1e-9 * math.max(1.0, v), s"$k: ${got(k)} vs $v")
    }
  }

  test("REGNIE run: 971 x 611 grid metadata, closed-form means, masked -999 and both sides of the %y pivot") {
    val res = RadoHydro.run(spark, fixture._1, fixture._2, cfg)
    assert(res.meta == RadoHydro.GridMeta(971, 611,
      Grid.Transform(Regnie.ulx, Regnie.xres, Regnie.uly, Regnie.yres), -999.0))
    check(res, Seq(0, 1))
    val years = res.series.collect().map(_.getTimestamp(1).toInstant.atZone(ZoneOffset.UTC).getYear).toSet
    assert(years == Set(1999, 2005))
    assert(expected(Seq(0, 1)).count(_._2.isNaN) == 2 && expected(Seq(0, 1)).size == 8)
  }

  test("REGNIE run with a date range prunes the other year's member by its 2-digit year") {
    check(RadoHydro.run(spark, fixture._1, fixture._2,
      cfg.copy(startDate = Some("20050101"), endDate = Some("20051231"))), Seq(1))
  }
}
