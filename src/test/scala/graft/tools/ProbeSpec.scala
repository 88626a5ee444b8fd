package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.functions.col
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}
import graft.core.TestSpark

/** The shared probe helpers: the listener sees a shuffle's jobs, stages and
  * bytes, `sameRows` compares frames as multisets, `withProps` always
  * restores, `fixtureOnce` writes once and the timed query run splits wall.
  */
class ProbeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def metered[A](body: Probe.Meter => A): A = {
    val m = Probe.meter(spark)
    try body(m) finally spark.sparkContext.removeSparkListener(m)
  }

  test("the meter records jobs, stages and shuffle bytes of a grouped range") {
    metered { m =>
      val c0 = m.counts
      spark.range(0, 20000, 1, 4).groupBy((col("id") % 7).as("k")).count().collect()
      // listener events arrive asynchronously
      eventually(timeout(Span(30, Seconds))) {
        val c = m.counts - c0
        assert(c.jobs >= 1 && c.stages >= 2 && c.tasks >= 4 && c.shuffleBytes > 0, c.toString)
        assert(m.maxStageShuffleBytes > 0)
        val (median, max) = m.heaviestStageTaskMs
        assert(0 <= median && median <= max)
      }
    }
  }

  test("sameRows compares row multisets") {
    val s = spark
    import s.implicits._
    val a = Seq(1, 2, 3, 3).toDF("x")
    assert(Probe.sameRows(a, Seq(3, 1, 3, 2).toDF("x")).matched)
    val oneOff = Probe.sameRows(a, Seq(1, 2, 3, 4).toDF("x"))
    assert(!oneOff.matched && oneOff.onlyA == 1 && oneOff.onlyB == 1)
    val extra = Probe.sameRows(a, Seq(1, 2, 3, 3, 3).toDF("x"))
    assert(!extra.matched && extra.rowsB == 5 && extra.onlyA == 0 && extra.onlyB == 1)
    // equal counts and equal distinct rows, different multiplicities
    val dup = Probe.sameRows(a, Seq(1, 2, 2, 3).toDF("x"))
    assert(!dup.matched && dup.rowsA == dup.rowsB && dup.onlyA == 1 && dup.onlyB == 1)
  }

  test("withProps restores a prior value and removes an absent key, also on throw") {
    val (present, absent) = ("graft.probespec.present", "graft.probespec.absent")
    sys.props(present) = "before"
    sys.props.remove(absent)
    def restored(): Unit = {
      assert(sys.props.get(present).contains("before"))
      assert(!sys.props.contains(absent))
    }
    try {
      val seen = Probe.withProps(present -> "x", absent -> "y")((sys.props(present), sys.props(absent)))
      assert(seen == ("x", "y"))
      restored()
      intercept[IllegalStateException] {
        Probe.withProps(present -> "x", absent -> "y")(throw new IllegalStateException("body failed"))
      }
      restored()
    } finally sys.props.remove(present)
  }

  test("fixtureOnce writes once per root") {
    val root = Files.createTempDirectory("probe_fixture").resolve("fx").toString
    var writes = 0
    (1 to 3).foreach(_ => Probe.fixtureOnce(root)(writes += 1))
    assert(writes == 1 && Files.exists(java.nio.file.Paths.get(root, "_done")))
  }

  test("a timed query run splits wall into its phases") {
    val dir = "/root/testdata/sf0.001" // TESTDATA.md
    assume(new java.io.File(s"$dir/lineitem.parquet").exists())
    metered { m =>
      val r = Probe.query(spark, m, dir, "q2_revenue_by_nation", "probe-spec")
      assert(Seq(r.build, r.analyze, r.opt, r.plan).forall(_ >= 0) && r.exec > 0)
      assert(r.sec >= r.exec && r.df.count() > 0)
    }
  }
}
