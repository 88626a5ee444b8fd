package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.core.TestSpark

/** The flagship surface queries on their own rendered fixture: registered
  * wherever the engine runs, and non-vacuous — the fixture places nodata
  * readings inside basins, so qf1's faithful/sane delta and g2's gate each
  * have cells to act on.
  */
class GeoPipelineOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val geo = Seq("g1_radohydro_pipeline", "g2_pipeline_invariants", "g3_cell_weights",
    "qf1_nodata_delta", "qf2_zfill_width")

  private def run(name: String) = graft.SparkEntry.queries(name)(spark, "").collect()

  test("the five flagship queries and their four oracles are registered") {
    assert(geo.forall(graft.SparkEntry.queries.contains))
    assert(graft.SparkEntry.oracleSql.keySet.intersect(geo.toSet) == geo.toSet - "g1_radohydro_pipeline")
  }

  test("g1 returns one row per basin and hour: 5 basins x 6 hours") {
    val rows = run("g1_radohydro_pipeline")
    assert(rows.length == 30)
    assert(rows.map(_.getAs[Int]("basinID")).toSet == (1 to 5).toSet)
  }

  test("qf2 counts the five basins") {
    val Array(r) = run("qf2_zfill_width")
    assert(r.getAs[Long]("n_basins") == 5L)
    assert(r.getAs[Int]("faithful_width") == 2 && r.getAs[Int]("sane_width") == 1)
  }

  test("nodata inside a basin moves qf1's delta and drops a cell at g2's gate") {
    val qf1 = run("qf1_nodata_delta")
    assert(qf1.exists(r => r.getAs[Long]("n_nodata_reads") > 0 && r.getAs[Double]("delta_r") != 0.0))
    val g2 = run("g2_pipeline_invariants")
    assert(g2.length == 5)
    assert(g2.exists(r => r.getAs[Long]("n_kept") < r.getAs[Long]("n_cells")))
  }
}
