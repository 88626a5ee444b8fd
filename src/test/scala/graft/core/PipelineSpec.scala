package graft.core

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Cells, Grid, SpatialPipeline}

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** Hand-computed golden for the flagship chain (J2 + A2 + A3 + A4) on a 3x3
  * identity-CRS grid: cell (row,col) spans x [col,col+1], y [2-row, 3-row];
  * values v = 10*(row*3+col+1); numerator 10 => mm = row*3+col+1.
  *
  * The goldens run through both A4 kernels: `gridSeries` (production, over
  * one grid row per timestamp with `gatedWeights`) and the long-row
  * reference `weightedSeries`.
  *
  * Basins exercise all three NaN-gate branches (geotools.py:254-260):
  *  - basin 1 (6 cells, one cell with 2 missing ts): gate passes, NaN cell
  *    dropped, weights renormalize over the 5 survivors;
  *  - basin 2 (2 cells): bad cell dropped, all weight on the clean cell;
  *  - basin 3 (only the bad cell): gate fails (1 < 1 is false), cell kept,
  *    missing timestamps surface as NaN.
  */
class SpatialPipelineGoldenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val t = Grid.Transform(0.0, 1.0, 3.0, -1.0)
  private def ts(i: Int) = Timestamp.valueOf(f"2018-01-01 0$i:00:00")

  /** The cell map and (kernel, series) for both A4 kernels. */
  private def runPipeline() = {
    import spark.implicits._
    val basins = Seq(
      (1, Seq(Seq(0.5, 1.5, 2.5, 1.5, 2.5, 2.5, 0.5, 2.5))), // rect (0.5,1.5)-(2.5,2.5)
      (2, Seq(Seq(1.0, 1.0, 3.0, 1.0, 3.0, 2.0, 1.0, 2.0))), // cells (1,1)+(1,2)
      (3, Seq(Seq(1.0, 1.0, 2.0, 1.0, 2.0, 2.0, 1.0, 2.0)))  // cell (1,1) only
    ).toDF("basinID", "geom")
    val cellMap = SpatialPipeline.basinCellMap(basins, t, 3, 3, 1.0, "epsg:4326", "epsg:4326")
    val values = (for {
      k <- 1 to 3; row <- 0 until 3; col <- 0 until 3
    } yield {
      val v: java.lang.Double =
        if (row == 1 && col == 1 && k >= 2) null else java.lang.Double.valueOf(10.0 * (row * 3 + col + 1))
      (ts(k), row, col, v)
    }).toDF("ts", "row", "col", "v")
    // the same readings as one window-dense row per timestamp
    val grids = (1 to 3).map { k =>
      val missing = if (k >= 2) Array(1 * 3 + 1) else Array.empty[Int]
      SpatialPipeline.GridRow(ts(k), "golden", k,
        Array.tabulate(9)(i => if (missing.contains(i)) Double.NaN else 10.0 * (i + 1)), missing, Array.empty)
    }
    val ws = SpatialPipeline.gatedWeights(cellMap, (r, c) => grids.count(_.missing.contains(r * 3 + c)).toLong)
    (cellMap, Seq(
      "gridSeries" -> SpatialPipeline.gridSeries(grids.toDS(), ws, 3, 10.0),
      "weightedSeries" -> SpatialPipeline.weightedSeries(values, cellMap, 10.0)))
  }

  test("basin-cell map covers exactly the overlapped cells with exact clip areas") {
    val (cellMap, _) = runPipeline()
    val m = cellMap.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getInt(2)) -> (r.getDouble(3), r.getDouble(4))).toMap
    assert(m.keySet.count(_._1 == 1) == 6)
    assert(m((1, 0, 0))._1 === 0.25); assert(m((1, 0, 1))._1 === 0.5)
    assert(m((1, 1, 2))._1 === 0.25)
    assert(m.keySet.count(_._1 == 2) == 2)
    assert(m((2, 1, 1))._1 === 1.0 && m((2, 1, 2))._1 === 1.0)
    assert(m.keySet.count(_._1 == 3) == 1)
    m.values.foreach { case (_, cellArea) => assert(cellArea === 1.0) }
  }

  test("weighted series matches hand-computed goldens incl. NaN-gate branches") {
    val (_, kernels) = runPipeline()
    for ((kernel, series) <- kernels) {
      val got = series.collect()
        .map(r => (r.getInt(0), r.getTimestamp(1), r.getDouble(2))).toSeq
        .groupBy(_._1).view.mapValues(_.map(x => x._2 -> x._3).toMap).toMap

      // basin 1: cell(1,1) dropped; survivors' area*mm = 4.5, ratio sum 1.5 -> 3.0
      for (k <- 1 to 3) assert(math.abs(got(1)(ts(k)) - 3.0) < 1e-12, s"$kernel basin1 ts$k")
      // basin 2: all weight on cell (1,2): mm = 6
      for (k <- 1 to 3) assert(math.abs(got(2)(ts(k)) - 6.0) < 1e-12, s"$kernel basin2 ts$k")
      // basin 3: kept bad cell: mm=5 at ts1, NaN at ts2/ts3
      assert(math.abs(got(3)(ts(1)) - 5.0) < 1e-12, kernel)
      assert(got(3)(ts(2)).isNaN && got(3)(ts(3)).isNaN, kernel)
    }
  }

  test("basinCellMap plan is UDF-free (native Catalyst geometry expressions)") {
    import spark.implicits._
    val basins = (1 to 50).map { i =>
      (i, Seq(Seq(i * 2.0, 0.0, i * 2.0 + 1.5, 0.0, i * 2.0 + 1.5, 1.5, i * 2.0, 1.5)))
    }.toDF("basinID", "geom")
    val cm = SpatialPipeline.basinCellMap(basins, Grid.Transform(0, 1, 10, -1),
      10, 120, 1.0, "epsg:25833", "epsg:25833")
    val plan = cm.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.toLowerCase.contains("batcheval"),
      s"geometry kernels must run as native expressions, plan was:\n$plan")
    assert("clipareas\\(".r.findAllIn(plan).size == 1, s"the clip must run once per pair, plan was:\n$plan")
    assert(cm.count() == 50 * 4) // each 1.5x1.5 box at integer offsets covers 2x2 cells
  }

  test("weights sum to 1 per basin (A3 invariant)") {
    val (cellMap, _) = runPipeline()
    val sums = SpatialPipeline.gatedWeights(cellMap, (_, _) => 0L).groupMapReduce(_._1)(_._4)(_ + _)
    assert(sums.keySet == Set(1, 2, 3))
    sums.values.foreach(s => assert(math.abs(s - 1.0) < 1e-12))
  }
}
