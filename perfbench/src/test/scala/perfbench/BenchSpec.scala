package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.{Archives, AsciiGrid}

class BenchSpec extends AnyFunSuite {
  private val small = RadolanFixture.Shape(archives = 2, hoursPerArchive = 6, basins = 12, squareKm = 40,
    minKm = 3, maxKm = 9, checks = 4)

  /** Scratch directories stay under the build's target directory. */
  private def tmp(): Path =
    Files.createTempDirectory(Files.createDirectories(Paths.get("target", "spec-tmp")), "fixture")

  private def files(dir: Path): Map[String, Seq[Byte]] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => dir.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap

  test("the RADOLAN fixture is byte-identical for a seed and differs across seeds") {
    val a = RadolanFixture.ensure(tmp(), small, 7, 2)
    val b = RadolanFixture.ensure(tmp(), small, 7, 2)
    val c = RadolanFixture.ensure(tmp(), small, 8, 2)
    assert(files(a.dir) == files(b.dir))
    assert(a.expect == b.expect)
    assert(files(a.dir) != files(c.dir))
    assert(a.expect.checks != c.expect.checks)
    assert(a.grids == 12 && a.expect.times.size == 12 && a.archives == 2)
  }

  test("rendered grids parse back to the generated values") {
    val p = RadolanFixture.plan(small, 3)
    val values = RadolanFixture.gridValues(p, 5)
    val (h, cells) = AsciiGrid.parseBytes(RadolanFixture.renderAscii(values), Some((300, 320)), Some((400, 420)))
    assert(h.nrows == RadolanFixture.Rows && h.ncols == RadolanFixture.Cols && h.nodata == -1.0)
    cells.foreach(c => assert(c.value == values(c.row * RadolanFixture.Cols + c.col).toDouble))
    assert(values.count(_ > 0) > values.length / 50, "the field has rain")
    val nodata = values.count(_ == RadolanFixture.Nodata).toDouble / values.length
    assert(nodata > 0.0005 && nodata < 0.002, s"nodata share $nodata")
  }

  test("archives hold consecutive hourly members and compress like data, not like a formula") {
    val fx = RadolanFixture.ensure(tmp(), small, 11, 2)
    val archives = Files.list(fx.gridDir).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    val members = archives.map(a => Archives.expand(a.getFileName.toString, Files.readAllBytes(a)).toSeq)
    assert(members.map(_.size) == Seq(6, 6))
    assert(members.flatten.map(_.name).distinct.size == 12)
    val archive = archives.head
    val ratio = members.head.map(_.bytes.length.toLong).sum.toDouble / Files.size(archive)
    assert(ratio > 3 && ratio < 30, s"compression ratio $ratio")
  }

  /** The sink output a correct run writes: every basin, every hour, check
    * basins at their expected means rounded as the sink rounds.
    */
  private def perfectOutput(e: RadolanFixture.Expect): Flagship.SinkOutput = Flagship.SinkOutput(
    (1 to e.basinsWithRows).map(_ -> e.times.size).toMap,
    e.checks.map { case (id, series) =>
      id -> e.times.zip(series.map(v => BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble)).toMap
    })

  test("the flagship check passes correct output and rejects 0.1 mm in one basin-hour") {
    val e = RadolanFixture.ensure(tmp(), small, 5, 2).expect
    val good = perfectOutput(e)
    assert(Flagship.verify(e, good).isEmpty)
    val (id, m) = good.values.head
    val ts = e.times(7)
    val bad = good.copy(values = good.values.updated(id, m.updated(ts, m(ts) + 0.1)))
    val problems = Flagship.verify(e, bad)
    assert(problems.size == 1 && problems.head.contains(s"basin $id at $ts"), problems)
    val missingRow = good.copy(rowsPerBasin = good.rowsPerBasin.updated(id, e.times.size - 1))
    assert(Flagship.verify(e, missingRow).nonEmpty)
    assert(Flagship.verify(e, good.copy(rowsPerBasin = good.rowsPerBasin - id)).nonEmpty)
  }

  test("a throwing operation or a failed check counts in failed_frac and is not timed") {
    val ok = Loop.Op("ok", () => () => ())
    val throws = Loop.Op("throws", () => throw new RuntimeException("boom"))
    val wrong = Loop.Op("wrong", () => () => throw new IllegalStateException("bad output"))
    val samples = Loop.closed(0.0, Iterator(Seq(ok, throws, wrong, ok)))
    assert(samples.map(_.name) == Seq("ok", "throws", "wrong", "ok"))
    assert(samples.map(_.seconds.isDefined) == Seq(true, false, false, true))
    assert(Loop.failedFrac(samples) == 0.5)
    assert(Loop.failedFrac(Loop.closed(0.0, Iterator(Seq(ok)))) == 0.0)
  }

  test("the closed loop runs whole batches and always at least one") {
    var calls = 0
    val op = Loop.Op("op", () => { calls += 1; () => () })
    val samples = Loop.closed(0.0, Iterator.continually(Seq(op, op, op)))
    assert(samples.size == 3 && calls == 3)
  }

  test("query fingerprints ignore row order and last-bit noise, not real changes") {
    val rows = Array(Row(1L, "a", 0.1 + 0.2, Seq(1.0f, 2.0f)), Row(2L, null, 3.0, Seq.empty[Float]))
    val fp = Surface.fingerprint(rows)
    assert(fp == Surface.fingerprint(rows.reverse))
    assert(fp == Surface.fingerprint(Array(Row(1L, "a", 0.3, Seq(1.0f, 2.0f)), rows(1))))
    assert(fp != Surface.fingerprint(Array(Row(1L, "a", 0.3001, Seq(1.0f, 2.0f)), rows(1))))
    assert(fp._1 == 2)
    Surface.check("q", fp, Some(Surface.Expected(2, Some(fp._2))))
    Surface.check("q", fp, Some(Surface.Expected(2, None)))
    assertThrows[IllegalStateException](Surface.check("q", fp, Some(Surface.Expected(2, Some(fp._2 + 1)))))
    assertThrows[IllegalStateException](Surface.check("q", fp, Some(Surface.Expected(3, None))))
    assertThrows[IllegalStateException](Surface.check("q", fp, None))
  }

  test("every pinned query is registered, and the per-module metrics name exactly their modules") {
    val registry = Surface.registry
    Surface.Pinned.foreach(q => assert(registry.contains(q), q))
    assert(Surface.Pinned.map(registry(_)._1).distinct.sorted == PerLayer.Modules.sorted)
  }

  test("recorded fingerprints cover every pinned query on every corpus variant") {
    val fps = Surface.loadFingerprints()
    for (v <- 0 until Surface.Variants; q <- Surface.Pinned) assert(fps.contains((v, q)), s"$v $q")
  }

  test("BENCHMARK.json names exactly the metrics and workloads the harness reports") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get("..", "BENCHMARK.json").toFile)
    def names(k: String) = json.get(k).elements().asScala.map(n => n.get("name").asText() -> n).toSeq
    assert(names("workloads").map(_._1) == Main.Workloads)
    assert(names("end_to_end").map { case (n, j) => n -> j.get("unit").asText() } == Main.EndToEnd.toSeq)
    assert(names("per_layer").map { case (n, j) => n -> (j.get("unit").asText(), j.get("better").asText()) } ==
      PerLayer.Metrics.toSeq)
  }
}
