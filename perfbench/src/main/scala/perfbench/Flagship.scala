package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.api.RadoHydro
import graft.core.SpatialPipeline
import graft.geo.Crs
import graft.ingest.{Archives, AsciiGrid, Shp}
import graft.out.CsvSink

import RadolanFixture.{Expect, Fixture}

/** The paper's pipeline as a user runs it: `RadoHydro.run` on a directory
  * of RADOLAN archives and a basin shapefile, then the default
  * `CsvSink.write` (one directory per basin).
  */
object Flagship {

  /** Four daily archives of 24 hourly grids and 20 basins inside an 80 km
    * square: the reference's typical use (one catchment set over an hourly
    * record) scaled down to the run's time budget. The scan runs one task
    * per archive, so four cores decode at once.
    */
  val Shape: RadolanFixture.Shape =
    RadolanFixture.Shape(archives = 4, hoursPerArchive = 24, basins = 20, squareKm = 80, minKm = 6, maxKm = 25,
      checks = 5)

  /** The sink rounds to 3 decimals. */
  val Tolerance = 5.1e-4

  /** The timed operation: pipeline call through the written sink. */
  def run(spark: SparkSession, fx: Fixture, out: Path): Unit = {
    val res = RadoHydro.run(spark, fx.gridDir.toString, fx.shpPath.toString)
    CsvSink.write(res.series, res.basins, out.toString)
    ()
  }

  /** Rows written per basin, and the (time -> mm) rows of the `keep` basins. */
  final case class SinkOutput(rowsPerBasin: Map[Int, Int], values: Map[Int, Map[String, Double]])

  def readSink(out: Path, keep: Set[Int]): SinkOutput = {
    val dirs = Files.list(out).iterator().asScala.filter(d => Files.isDirectory(d)).toSeq
    val perBasin = dirs.map { d =>
      val id = d.getFileName.toString.stripPrefix("basinID=").toInt
      val rows = Files.list(d).iterator().asScala.toSeq
        .filter(f => f.getFileName.toString.startsWith("part-"))
        .flatMap(f => Files.readAllLines(f).asScala.drop(1).filter(_.nonEmpty))
      id -> rows
    }
    SinkOutput(
      perBasin.map { case (id, rows) => id -> rows.size }.toMap,
      perBasin.collect { case (id, rows) if keep(id) =>
        id -> rows.map { l =>
          val i = l.indexOf(',')
          l.substring(0, i) -> l.substring(i + 1).toDouble
        }.toMap
      }.toMap)
  }

  /** Every way the sink output differs from the generator's expectation;
    * empty when the run is correct.
    */
  def verify(exp: Expect, got: SinkOutput): Seq[String] = {
    val t = exp.times.size
    val problems = Seq.newBuilder[String]
    if (got.rowsPerBasin.size != exp.basinsWithRows)
      problems += s"${got.rowsPerBasin.size} basin directories, expected ${exp.basinsWithRows}"
    val rows = got.rowsPerBasin.values.map(_.toLong).sum
    if (rows != exp.basinsWithRows.toLong * t)
      problems += s"$rows series rows, expected ${exp.basinsWithRows} x $t"
    val short = got.rowsPerBasin.count(_._2 != t)
    if (short > 0) problems += s"$short basins without exactly $t rows"
    exp.checks.toSeq.sortBy(_._1).foreach { case (id, series) =>
      got.values.get(id) match {
        case None => problems += s"check basin $id missing"
        case Some(m) =>
          exp.times.zip(series).foreach { case (ts, want) =>
            m.get(ts) match {
              case None => problems += s"basin $id has no row at $ts"
              case Some(v) if !(math.abs(v - want) <= Tolerance) =>
                problems += s"basin $id at $ts: $v mm, expected $want"
              case _ => ()
            }
          }
      }
    }
    problems.result()
  }

  def check(fx: Fixture, out: Path): Unit = {
    val problems = verify(fx.expect, readSink(out, fx.expect.checks.keySet))
    if (problems.nonEmpty)
      throw new IllegalStateException(s"flagship output wrong: ${problems.take(5).mkString("; ")}")
  }

  /** The same call split at each layer's public function, with spans:
    * values and cell map are persisted by the benchmark so that the series
    * and the sink are timed on their own.
    */
  def runTraced(spark: SparkSession, fx: Fixture, out: Path, tr: Tracer, op: Int): Unit =
    tr.span("op", op) {
      val res = tr.span("api.run", op)(RadoHydro.run(spark, fx.gridDir.toString, fx.shpPath.toString))
      val values = res.values.persist(StorageLevel.MEMORY_AND_DISK)
      val cellMap = res.cellMap.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val nValues = tr.span("ingest.values", op)(values.count())
        tr.annotate("ingest.values", Map("rows" -> nValues.toDouble))
        val nCells = tr.span("geo.cellmap", op)(cellMap.count())
        tr.annotate("geo.cellmap", Map("rows" -> nCells.toDouble))
        val series = SpatialPipeline.weightedSeries(values, cellMap, RadoHydro.Config().numerator)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val nSeries = tr.span("core.series", op)(series.count())
        tr.annotate("core.series", Map("rows" -> nSeries.toDouble,
          "joined_rows" -> nCells.toDouble * fx.grids))
        tr.span("out.sink", op)(CsvSink.write(series, res.basins, out.toString))
        val files = Files.walk(out).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        tr.annotate("out.sink", Map("files" -> files.size.toDouble,
          "bytes" -> files.map(Files.size(_)).sum.toDouble))
      } finally spark.catalog.clearCache()
    }

  /** Direct kernels the pipeline runs inside tasks or on the driver, timed
    * alone: reprojection of every basin, and single-thread archive decode.
    */
  def kernels(fx: Fixture, tr: Tracer, op: Int): Unit = {
    val layer = Shp.read(fx.shpPath.toString)
    val (shape, out, raw) = (Crs.of(RadoHydro.Config().shapeCrs), Crs.of(RadoHydro.Config().outCrs),
      Crs.of("radolan_m"))
    tr.span("geo.reproject", op) {
      layer.features.foreach { f => Crs.reproject(f.geom, shape, out); Crs.reproject(f.geom, shape, raw) }
    }
    val archive = Files.list(fx.gridDir).iterator().asScala.toSeq.sortBy(_.getFileName.toString).head
    val bytes = Files.readAllBytes(archive)
    var decoded = 0L
    tr.span("ingest.decode", op) {
      Archives.expand(archive.getFileName.toString, bytes).foreach { m =>
        decoded += m.bytes.length
        val (_, cells) = AsciiGrid.parseBytes(m.bytes, Some((400, 500)), Some((400, 500)))
        cells.foreach(_ => ())
      }
    }
    tr.annotate("ingest.decode", Map("decoded_mb" -> decoded / 1e6))
  }
}
