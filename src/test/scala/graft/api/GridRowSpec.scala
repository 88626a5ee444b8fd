package graft.api

import java.nio.file.Files
import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneOffset}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{SpatialPipeline, TestSpark}
import graft.geo.{Crs, Geom}
import graft.ingest.Archives
import graft.out.{CsvSink, ShpWriter}

/** Seeded RADOLAN grid fixtures, generated in the test: a 30 x 30 block of
  * the RADOLAN grid (1 km cells, row 0 north), hourly grids of seeded
  * values with nodata, optionally ragged, packed in daily `.tar.gz`
  * archives, and basins written with `ShpWriter` in EPSG:25833.
  */
object GridFixture {
  val Rows = 30
  val Cols = 30
  val Xll = -123462.0
  val Uly = -4188645.0
  val Nodata = -1

  /** Cell-aligned basins as (row0, col0, row1, col1), half-open. */
  val rects = Seq((8, 6, 11, 10), (12, 14, 16, 17), (18, 9, 20, 13))

  /** A tilted quadrilateral over fractions of cells, in grid meters: an
    * outer ring in the engine's convention (counter-clockwise, not closed).
    */
  val tilted = Array(Array(Xll + 2100.0, Uly - 27400.0, Xll + 8700.0, Uly - 26900.0,
    Xll + 9800.0, Uly - 21100.0, Xll + 3300.0, Uly - 22500.0))

  /** One hour's grid: row-major values, `width(r)` values in row r. */
  final case class Hour(day: Int, hour: Int, values: Array[Int], width: Int => Int = _ => Cols)

  def seeded(seed: Long, day: Int, hour: Int, nodataFrac: Double): Hour = {
    val rnd = new scala.util.Random(seed * 1000 + day * 24 + hour)
    Hour(day, hour, Array.fill(Rows * Cols)(if (rnd.nextDouble() < nodataFrac) Nodata else rnd.nextInt(400)))
  }

  def ascii(h: Hour): Array[Byte] = {
    val sb = new StringBuilder
    sb ++= s"ncols $Cols\nnrows $Rows\nxllcorner $Xll\nyllcorner ${Uly - Rows * 1000}\n"
    sb ++= s"cellsize 1000\nNODATA_value $Nodata\n"
    for (r <- 0 until Rows) sb ++= (0 until h.width(r)).map(c => h.values(r * Cols + c)).mkString(" ") += '\n'
    sb.toString.getBytes("US-ASCII")
  }

  def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  /** A daily `.tar.gz` of `hours`, each rendered to a member by `member`. */
  def archive(hours: Seq[Hour], member: Hour => Archives.Member = h =>
      Archives.Member(f"RW_2018010${h.day}_${h.hour}%02d50.asc", ascii(h))): Array[Byte] =
    gzip(Archives.tar(hours.map(member)))

  /** The rectangles, then the tilted quadrilateral: basins 1 to 4. */
  lazy val basinsShp: String = {
    val shp = Files.createTempDirectory("gridrow_basins").resolve("basins.shp").toString
    val (grid, shape) = (Crs.of("radolan_m"), Crs.of("epsg:25833"))
    val polys = rects.map { case (r0, c0, r1, c1) =>
      Array(Geom.boxRing(Xll + c0 * 1000, Uly - r1 * 1000.0, Xll + c1 * 1000, Uly - r0 * 1000.0))
    } :+ tilted
    ShpWriter.write(shp, polys.map(Crs.reproject(_, grid, shape)),
      polys.indices.map(i => Map[String, Any]("BASIN" -> (i + 1).toLong)), Seq("BASIN"))
    shp
  }

  /** A directory holding `files` (name -> bytes), written in the given order. */
  def gridDir(files: Seq[(String, Array[Byte])]): String = {
    val dir = Files.createTempDirectory("gridrow_grids")
    files.foreach { case (name, b) => Files.write(dir.resolve(name), b) }
    dir.toString
  }

  type Series = Map[(Int, Long), Double]

  def collect(df: org.apache.spark.sql.DataFrame): Series =
    df.collect().map(r => (r.getInt(0), r.getTimestamp(1).getTime) -> r.getDouble(2)).toMap
}

/** The flagship's grid-row core against the long-row chain, the overlap
  * dedup rule, and the job and shuffle shape of a call, on [[GridFixture]]
  * grids (nodata inside basins, a ragged member), so the spec runs wherever
  * the tests run.
  */
class GridRowSpec extends AnyFunSuite {
  import GridFixture._

  private lazy val spark = TestSpark.spark

  /** Returns once every listener event posted so far was delivered: the bus
    * delivers events in order, so once a sentinel job's start is seen, every
    * earlier stage event was delivered too.
    */
  private def awaitListener(sc: org.apache.spark.SparkContext): Unit = {
    val seen = new java.util.concurrent.CountDownLatch(1)
    val sentinel = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "gridrow-sentinel")) seen.countDown()
    }
    sc.addSparkListener(sentinel)
    try {
      sc.setJobGroup("gridrow-sentinel", "sentinel")
      spark.range(1).collect()
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener never saw the sentinel job")
    } finally sc.removeSparkListener(sentinel)
  }

  private def closeTo(a: Series, b: Series, rel: Double): Unit = {
    assert(a.keySet == b.keySet)
    a.foreach { case (k, x) =>
      val y = b(k)
      assert((x.isNaN && y.isNaN) || math.abs(x - y) <= rel * math.max(math.abs(x), math.abs(y)),
        s"$k: $x vs $y")
    }
  }

  test("grid-row series equals the long-row weightedSeries on seeded fixtures with nodata and a ragged member") {
    for (seed <- 1L to 3L; mask <- Seq(true, false)) {
      // day 1 hour 2 is ragged: rows 11-16 stop after 12 values, which
      // leaves basin 2 (and the slivers its reprojected corners touch)
      // without a cell at that hour and cuts basin 1's rows 9-10 short; row
      // 29 is missing altogether
      def width(r: Int): Int = if (r >= 11 && r <= 16) 12 else if (r == 9 || r == 10) 8 else if (r == 29) 0 else Cols
      val hours = for (day <- 1 to 2; hour <- 0 to 3) yield {
        val h = seeded(seed, day, hour, nodataFrac = 0.02 * seed)
        if (day == 1 && hour == 2) h.copy(width = width) else h
      }
      val dir = gridDir(Seq(
        "RW-20180101.tar.gz" -> archive(hours.filter(_.day == 1)),
        "RW-20180102.tar.gz" -> archive(hours.filter(_.day == 2))))
      val cfg = RadoHydro.Config(maskNodata = mask)
      val res = RadoHydro.run(spark, dir, basinsShp, cfg)
      val grid = collect(res.series)
      val long = collect(SpatialPipeline.weightedSeries(res.values, res.cellMap, cfg.numerator))
      closeTo(grid, long, 1e-12)
      val ragged = LocalDateTime.of(2018, 1, 1, 2, 50).toInstant(ZoneOffset.UTC).toEpochMilli
      assert(!grid.contains((2, ragged)) && grid.contains((1, ragged)), s"seed $seed")
      assert(grid.keySet.map(_._2).size == 8 && grid.keySet.map(_._1) == Set(1, 2, 3, 4), s"seed $seed")
      val inBasins = rects.flatMap { case (r0, c0, r1, c1) => for (r <- r0 until r1; c <- c0 until c1) yield r * Cols + c }
      assert(hours.exists(h => inBasins.exists(h.values(_) == Nodata)), s"seed $seed: no nodata inside a basin")
    }
  }

  test("keptMembers keeps the greatest file name, then the last position, in any order") {
    def ts(h: Int) = Timestamp.from(LocalDateTime.of(2018, 1, 1, h, 50).toInstant(ZoneOffset.UTC))
    def m(h: Int, file: String, pos: Int) = RadoHydro.Member(ts(h), file, pos, Array.empty, Array.empty)
    val members = Seq(m(0, "RW-a.tar.gz", 0), m(1, "RW-a.tar.gz", 1), m(1, "RW-b.tar.gz", 0),
      m(1, "RW-b.tar.gz", 3), m(2, "RW-a.tar.gz", 2), m(2, "RW-a.tar.gz", 5))
    val want = Set((0, "RW-a.tar.gz", 0), (1, "RW-b.tar.gz", 3), (2, "RW-a.tar.gz", 5))
    val rnd = new scala.util.Random(7)
    for (order <- Seq(members, members.reverse) ++ Seq.fill(5)(rnd.shuffle(members))) {
      val got = RadoHydro.keptMembers(order).map(k => (k.ts.toInstant.atZone(ZoneOffset.UTC).getHour, k.file, k.position)).toSet
      assert(got == want)
    }
  }

  test("two archives disagreeing on an hour: the greatest file name wins, whatever the scan layout") {
    val a = (0 to 2).map(h => seeded(11, 1, h, 0.0))
    val b = Seq(seeded(12, 1, 1, 0.0)) // hour 1 again, other values
    def hourMs(h: Int) = LocalDateTime.of(2018, 1, 1, h, 50).toInstant(ZoneOffset.UTC).toEpochMilli
    val files = Seq("RW-20180101-a.tar.gz" -> archive(a), "RW-20180101-b.tar.gz" -> archive(b))
    val dirs = Seq(gridDir(files), gridDir(files.reverse))
    // one scan task for both files (the local[1] packing) or one per file
    val layouts = Seq(
      Map("spark.sql.files.openCostInBytes" -> "0", "spark.sql.files.minPartitionNum" -> "1"),
      Map("spark.sql.files.openCostInBytes" -> (64L << 20).toString,
        "spark.sql.files.maxPartitionBytes" -> (64L << 20).toString))
    // the task counts of the stages that scan the files, per layout
    val scanTasks = new ConcurrentHashMap[String, java.util.Set[Int]]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_ => e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          .foreach(g => scanTasks.computeIfAbsent(g, _ => ConcurrentHashMap.newKeySet[Int]()).add(e.stageInfo.numTasks))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val runs = try {
      val runs = for (dir <- dirs; (layout, i) <- layouts.zipWithIndex) yield {
        val before = layout.keys.map(k => k -> spark.conf.getOption(k)).toMap
        layout.foreach { case (k, v) => spark.conf.set(k, v) }
        sc.setJobGroup(s"layout-$i", "layout")
        try {
          val res = RadoHydro.run(spark, dir, basinsShp)
          assert(res.values.count() == 3L * res.window.nrows * res.window.ncols)
          collect(res.series)
        } finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      }
      awaitListener(sc)
      runs
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(scanTasks.asScala.map { case (g, n) => g -> n.asScala.toSet } == Map("layout-0" -> Set(1), "layout-1" -> Set(2)))
    runs.tail.foreach(r => assert(r == runs.head))
    // the cell-aligned basins are cell means: hour 1 comes from archive b
    rects.zipWithIndex.foreach { case ((r0, c0, r1, c1), i) =>
      val cells = for (r <- r0 until r1; c <- c0 until c1) yield r * Cols + c
      for ((h, src) <- Seq(0 -> a(0), 1 -> b(0), 2 -> a(2))) {
        val want = cells.map(src.values(_) / 10.0).sum / cells.size
        val got = runs.head((i + 1, hourMs(h)))
        assert(math.abs(got - want) <= 1e-6 * math.max(1.0, want), s"basin ${i + 1} hour $h: $got vs $want")
      }
    }
  }

  test("run + CsvSink.write take at most 5 jobs, and only the sink's stage writes shuffle bytes") {
    val dir = gridDir((1 to 2).map(d => f"RW-2018010$d.tar.gz" -> archive((0 to 3).map(h => seeded(21, d, h, 0.01)))))
    val stageGroup = new ConcurrentHashMap[Int, String]()
    val jobs = new ConcurrentHashMap[Int, String]()
    val shuffleWrite = new ConcurrentHashMap[Int, java.lang.Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        jobs.put(e.jobId, g)
        e.stageIds.foreach(stageGroup.put(_, g))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        shuffleWrite.put(e.stageInfo.stageId, e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    val sc = spark.sparkContext
    val out = Files.createTempDirectory("gridrow_sink").resolve("out").toString
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("gridrow-run", "run")
      val res = RadoHydro.run(spark, dir, basinsShp)
      sc.setJobGroup("gridrow-sink", "sink")
      CsvSink.write(res.series, res.basins, out)
      awaitListener(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val ours = jobs.asScala.count { case (_, g) => g == "gridrow-run" || g == "gridrow-sink" }
    info(s"$ours jobs")
    assert(ours <= 5, s"$ours jobs")
    val writers = shuffleWrite.asScala.collect { case (s, w) if w > 0 => stageGroup.get(s) }.toSeq
    assert(writers.forall(_ == "gridrow-sink") && writers.size <= 1, s"shuffle-writing stages: $writers")
  }
}
