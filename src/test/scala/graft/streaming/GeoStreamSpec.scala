package graft.streaming

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{GridFixture, RadoHydro}
import graft.core.TestSpark

/** §2.11 stretch goal: the flagship pipeline as a Structured Streaming query
  * over raster archives arriving in a directory (`RadoHydro.stream`), with
  * rows equal to the batch `RadoHydro.run` series.
  */
class GeoStreamSpec extends AnyFunSuite {
  import GridFixture._

  private lazy val spark = TestSpark.spark

  test("the geo stream emits exactly the batch series, once per (basin, grid)") {
    // day 1 hour 2 is ragged (rows 11-16 stop after 12 values, row 29 is
    // missing); basin 3's cells and the cells around them (which its
    // reprojected corners may touch) are nodata at day 1 hours 0 and 1, so
    // its gate keeps them all and those hours are NaN
    val basin3 = { val (r0, c0, r1, c1) = rects(2); for (r <- r0 - 1 to r1; c <- c0 - 1 to c1) yield r * Cols + c }
    val hours = for (day <- 1 to 2; hour <- 0 to 3) yield {
      val h = seeded(31, day, hour, nodataFrac = 0.03)
      if (day == 1 && hour < 2) basin3.foreach(h.values(_) = Nodata)
      if (day == 1 && hour == 2) h.copy(width = r => if (r >= 11 && r <= 16) 12 else if (r == 29) 0 else Cols)
      else h
    }
    val files = (1 to 2).map(d => f"RW-2018010$d.tar.gz" -> archive(hours.filter(_.day == d)))
    val cfg = RadoHydro.Config()
    val res = RadoHydro.run(spark, gridDir(files), basinsShp, cfg)
    val batch = collect(res.series)
    assert(batch.values.exists(_.isNaN) && batch.values.exists(!_.isNaN))

    // the stream starts on day 1; day 2 arrives after it started, written
    // under a hidden name and then moved into place
    val live = Files.createTempDirectory("geo_stream")
    Files.write(live.resolve(files(0)._1), files(0)._2)
    val q = RadoHydro.stream(spark, live.toString, res, cfg)
      .writeStream.outputMode(OutputMode.Append).format("memory").queryName("geo_stream_parity").start()
    try {
      q.processAllAvailable()
      val hidden = Files.write(live.resolve("." + files(1)._1), files(1)._2)
      Files.move(hidden, live.resolve(files(1)._1), StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("geo_stream_parity").collect()
      .map(r => (r.getInt(0), r.getTimestamp(1).getTime) -> r.getDouble(2)).toSeq
    assert(rows.map(_._1).distinct.size == rows.size, "a (basin, grid) row came twice")
    val streamed = rows.toMap
    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (k, v) =>
      val s = streamed(k)
      assert(s == v || (s.isNaN && v.isNaN), s"$k: streamed $s, batch $v")
    }
  }
}
