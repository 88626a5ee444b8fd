package graft.operators

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.api.RadoHydro
import graft.geo.Crs
import graft.ingest.RadolanRender
import graft.out.ShpWriter

/** The flagship geospatial pipeline as a harness query (SURVEY §3.1): a
  * deterministic RADOLAN-style fixture (2 days x 3 hourly grids on a
  * 30 x 30 km block of the RADOLAN grid, five pentagon basins written in
  * EPSG:25833) through the full
  * binaryFile -> window-pushdown parse -> spatial join -> NaN gate ->
  * weights -> weighted series chain. Not SQL-expressible in DuckDB (no
  * oracle entry -> driver records the rows-only check); exact-value
  * correctness is pinned by RadoHydroFixtureSpec's closed-form means and
  * the hand-computed goldens in SpatialPipelineGoldenSpec.
  */
object GeoPipelineOps {

  private val fixtureDir = "/tmp/graft_geo_fixture_v2"
  private val gridsDir = s"$fixtureDir/grids"
  private val basinsShp = s"$fixtureDir/basins.shp"

  // placed so that nodata readings fall inside basins: qf1's faithful/sane
  // delta and g2's gate then have cells to act on
  private val block = RadolanRender.Block(0, 70, 30, 30)
  private val basinIds = 1 to 5

  /** Build (once) the grid archives and the basins shapefile. */
  private def ensureFixture(): String = synchronized {
    val marker = Paths.get(fixtureDir, "_done")
    if (Files.exists(marker)) return gridsDir
    Files.createDirectories(Paths.get(gridsDir))
    ShpWriter.write(basinsShp, basinIds.map(id => Crs.reproject(
        RadolanRender.pentagon(id, block, 20, 20), Crs.RadolanStereo(unitsKm = false), Crs.Utm33N)),
      basinIds.map(id => Map[String, Any]("BASIN" -> id.toLong)), Seq("BASIN"))
    for (day <- 1 to 2) RadolanRender.writeDay(gridsDir, block, day, 0 until 3)
    Files.write(marker, Array.emptyByteArray)
    gridsDir
  }

  private def g1Radohydro(s: SparkSession, d: String): DataFrame = {
    val res = RadoHydro.run(s, ensureFixture(), basinsShp, RadoHydro.Config())
    import org.apache.spark.sql.functions._
    res.series
      .select(col("basinID"),
        date_format(col("ts"), "yyMMddHHmm").as("t"),
        round(col("rain"), 6).as("rain_mm"))
      .orderBy("basinID", "t")
  }

  /** g2 — SQL-expressible invariants of the geometric pipeline, giving the
    * g1 surface a DuckDB hash-check ON ITS AGGREGATION HALF: the query
    * exports the pipeline's raw ingredients (cell map with clip areas; the
    * windowed value scan) to parquet, then both engines independently
    * compute, per basin, the A2 gate counts, surviving-cell count,
    * normalized-weight sum and the weighted rain total. SCOPE: the DuckDB
    * compare verifies everything DOWNSTREAM of the export — the geometric
    * pipeline producing the export (parse, reprojection, clipping) is
    * covered by g1's ScalaTest goldens and RadoHydroE2ESpec's shadow
    * computation, not by this oracle. Double sums route through DECIMAL
    * (exact in both engines); the weight denominator is summed as
    * DECIMAL(38,18) so the per-cell weights are bit-identical before
    * rounding.
    *
    * The export path must be a fixed literal (it is embedded in the static
    * oracle SQL), so the export is WRITE-ONCE behind a marker file — the
    * fixture is deterministic, making the exports reusable and concurrent /
    * re-entrant runs race-free (no overwrite of files an oracle is reading).
    * The marker records a fingerprint (semantic version + the actual parquet
    * schemas on disk): a schema-visible change to the exports re-exports
    * automatically on mismatch; a semantics-only change (same schema,
    * different values) still needs the [[ExportVersion]] bump below.
    */
  /** Semantic version of the export contents — bump when export VALUES
    * change without a schema change (schema drift is caught automatically
    * by the fingerprint).
    */
  private val ExportVersion = "v3"

  /** Fingerprint of what is currently on disk: version + exported parquet
    * schemas (footer-only reads — no job). Throws if the exports are absent
    * or unreadable, which callers treat as "re-export".
    */
  private def onDiskFp(s: SparkSession): String =
    ExportVersion + "|" + s.read.parquet(cellMapExport).schema.toDDL +
      "|" + s.read.parquet(valuesExport).schema.toDDL

  /** Run the pipeline and export cellMap/values parquet (write-once behind
    * the fingerprint marker; see [[g2Invariants]] doc). Shared by g2 and the
    * q_faithful quirk queries.
    */
  private def ensureExports(s: SparkSession): Unit = synchronized {
    val marker = Paths.get(fixtureDir, "_exports_done")
    val markerFp =
      if (Files.exists(marker)) new String(Files.readAllBytes(marker), "UTF-8") else ""
    if (markerFp.nonEmpty &&
        scala.util.Try(onDiskFp(s)).toOption.contains(markerFp)) return
    val res = RadoHydro.run(s, ensureFixture(), basinsShp, RadoHydro.Config())
    import org.apache.spark.sql.functions._
    res.cellMap.write.mode("overwrite").parquet(cellMapExport)
    res.values
      .select(date_format(col("ts"), "yyMMddHHmm").as("t"), col("row"), col("col"), col("v"))
      .write.mode("overwrite").parquet(valuesExport)
    Files.write(marker, onDiskFp(s).getBytes("UTF-8"))
  }

  private def g2Invariants(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    ensureExports(s)
    val cm = s.read.parquet(cellMapExport)
    val vals = s.read.parquet(valuesExport)
    val miss = vals.groupBy("row", "col")
      .agg(count(when(col("v").isNull, 1)).as("nmiss"))
    // the export is the fixed five-basin fixture's: pin the cell-map side as
    // the build side of both joins, so the streamed side keeps its hash
    // partitioning and the per-basin aggregates below need no exchange of
    // their own, whichever export file is larger
    val pc = broadcast(cm).join(miss, Seq("row", "col"))
    val gate = pc.groupBy("basinID").agg(
      count(lit(1)).as("n_cells"),
      count(when(col("nmiss") > 1, 1)).as("n_bad"))
    val kept = broadcast(pc).join(gate, "basinID")
      .where(col("n_bad") >= col("n_cells") || col("nmiss") === 0)
      .select("basinID", "row", "col", "clip_area")
    val wden = kept.groupBy("basinID")
      .agg(sum(col("clip_area").cast("decimal(38,18)")).cast("double").as("den"))
    val w = kept.join(wden, "basinID").withColumn("wgt", col("clip_area") / col("den"))
    val keptAgg = kept.groupBy("basinID").agg(count(lit(1)).as("n_kept"))
    val wsum = w.groupBy("basinID").agg(round(sum("wgt"), 9).as("w_sum_r"))
    val rain = w.join(vals, Seq("row", "col"))
      .where(col("v").isNotNull)
      .groupBy("basinID")
      .agg(round(sum((col("v") / 10 * col("wgt")).cast("decimal(28,10)")).cast("double"), 6)
        .as("rain_total_r"))
    gate.join(keptAgg, "basinID").join(wsum, "basinID").join(rain, "basinID")
      .select(col("basinID").as("basin_id"), col("n_cells"), col("n_bad"),
        col("n_kept"), col("w_sum_r"), col("rain_total_r"))
      .orderBy("basin_id")
  }

  private val cellMapExport = s"$fixtureDir/cellmap_parquet"
  private val valuesExport = s"$fixtureDir/values_parquet"

  private val g2Sql =
    s"""WITH cm AS (SELECT * FROM read_parquet('$cellMapExport/*.parquet')),
       |vals AS (SELECT * FROM read_parquet('$valuesExport/*.parquet')),
       |miss AS (SELECT row, col, count(*) FILTER (WHERE v IS NULL) AS nmiss
       |         FROM vals GROUP BY row, col),
       |pc AS (SELECT c.basinID, c.row, c.col, c.clip_area, m.nmiss
       |       FROM cm c JOIN miss m ON c.row = m.row AND c.col = m.col),
       |gate AS (SELECT basinID, count(*) AS n_cells,
       |                count(*) FILTER (WHERE nmiss > 1) AS n_bad
       |         FROM pc GROUP BY basinID),
       |kept AS (SELECT p.basinID, p.row, p.col, p.clip_area
       |         FROM pc p JOIN gate g ON p.basinID = g.basinID
       |         WHERE g.n_bad >= g.n_cells OR p.nmiss = 0),
       |wden AS (SELECT basinID,
       |                CAST(sum(CAST(clip_area AS DECIMAL(38,18))) AS DOUBLE) AS den
       |         FROM kept GROUP BY basinID),
       |w AS (SELECT k.basinID, k.row, k.col, k.clip_area / d.den AS wgt
       |      FROM kept k JOIN wden d ON k.basinID = d.basinID),
       |keptagg AS (SELECT basinID, count(*) AS n_kept FROM kept GROUP BY basinID),
       |wsum AS (SELECT basinID, round(sum(wgt), 9) AS w_sum_r FROM w GROUP BY basinID),
       |rain AS (SELECT w.basinID,
       |                round(CAST(sum(CAST(v.v / 10 * w.wgt AS DECIMAL(28,10))) AS DOUBLE), 6) AS rain_total_r
       |         FROM w JOIN vals v ON w.row = v.row AND w.col = v.col
       |         WHERE v.v IS NOT NULL GROUP BY w.basinID)
       |SELECT g.basinID AS basin_id, g.n_cells, g.n_bad, ka.n_kept, ws.w_sum_r, r.rain_total_r
       |FROM gate g JOIN keptagg ka ON g.basinID = ka.basinID
       |     JOIN wsum ws ON g.basinID = ws.basinID
       |     JOIN rain r ON g.basinID = r.basinID
       |ORDER BY basin_id""".stripMargin

  /** g3 — the cellMap export itself, hash-pinned per (basin, cell): clip
    * area, full cell area and the normalized weight each cell contributes
    * to its basin's series (geotools.py:215-219,262 — the per-cell
    * intersection areas and area-fraction weights). g2 checks per-basin
    * AGGREGATES of this frame; g3 closes the remaining oracle-free inches
    * by pinning every exported per-cell value — any drift in the clip
    * kernel's output now breaks a DuckDB hash, not just a ScalaTest golden.
    * Same parity rules as g2: the weight denominator sums as
    * DECIMAL(38,18) so per-cell weights are bit-identical before the final
    * round; areas round at 6 (they are O(1e6) m^2), weights at 12.
    */
  private def g3CellWeights(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    ensureExports(s)
    val cm = s.read.parquet(cellMapExport)
    val den = cm.groupBy("basinID")
      .agg(sum(col("clip_area").cast("decimal(38,18)")).cast("double").as("den"))
    cm.join(den, "basinID")
      .select(col("basinID").as("basin_id"), col("row"), col("col"),
        round(col("clip_area"), 6).as("clip_area_r"),
        round(col("cell_area"), 6).as("cell_area_r"),
        round(col("clip_area") / col("den"), 12).as("wgt_r"))
      .orderBy("basin_id", "row", "col")
  }

  private val g3Sql =
    s"""WITH cm AS (SELECT * FROM read_parquet('$cellMapExport/*.parquet')),
       |den AS (SELECT basinID, CAST(sum(CAST(clip_area AS DECIMAL(38,18))) AS DOUBLE) AS den
       |        FROM cm GROUP BY basinID)
       |SELECT c.basinID AS basin_id, c.row, c.col,
       |  round(c.clip_area, 6) AS clip_area_r,
       |  round(c.cell_area, 6) AS cell_area_r,
       |  round(c.clip_area / d.den, 12) AS wgt_r
       |FROM cm c JOIN den d ON c.basinID = d.basinID
       |ORDER BY basin_id, row, col""".stripMargin

  /** qf1 — quirk Q1 (maskNodata=false) as a SQL-checkable per-basin delta:
    * from the SAME exported window, both engines compute the gate-free
    * weighted rain total twice — sane (nodata -> NULL, skipped by sum) and
    * faithful (nodata carries the RADOLAN nodata VALUE -1.0 into the sum,
    * exactly what the reference's unmasked numpy read does) — plus the
    * delta and the nodata cell-reading count. Gives the faithful-flag
    * semantics their first DuckDB cross-check (previously spec-only).
    */
  private def qf1NodataDelta(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    ensureExports(s)
    val cm = s.read.parquet(cellMapExport)
    val vals = s.read.parquet(valuesExport)
    val den = cm.groupBy("basinID")
      .agg(sum(col("clip_area").cast("decimal(38,18)")).cast("double").as("den"))
    val w = cm.join(den, "basinID")
      .select(col("basinID"), col("row"), col("col"), (col("clip_area") / col("den")).as("wgt"))
    w.join(vals, Seq("row", "col"))
      .groupBy("basinID")
      .agg(
        round(sum((coalesce(col("v"), lit(-1.0)) / 10 * col("wgt")).cast("decimal(28,10)"))
          .cast("double"), 6).as("rain_faithful_r"),
        round(sum((col("v") / 10 * col("wgt")).cast("decimal(28,10)"))
          .cast("double"), 6).as("rain_sane_r"),
        count(when(col("v").isNull, 1)).as("n_nodata_reads"))
      .withColumn("delta_r", round(col("rain_faithful_r") - col("rain_sane_r"), 6))
      .select(col("basinID").as("basin_id"), col("rain_faithful_r"), col("rain_sane_r"),
        col("delta_r"), col("n_nodata_reads"))
      .orderBy("basin_id")
  }

  private val qf1Sql =
    s"""WITH cm AS (SELECT * FROM read_parquet('$cellMapExport/*.parquet')),
       |vals AS (SELECT * FROM read_parquet('$valuesExport/*.parquet')),
       |den AS (SELECT basinID, CAST(sum(CAST(clip_area AS DECIMAL(38,18))) AS DOUBLE) AS den
       |        FROM cm GROUP BY basinID),
       |w AS (SELECT c.basinID, c.row, c.col, c.clip_area / d.den AS wgt
       |      FROM cm c JOIN den d ON c.basinID = d.basinID)
       |SELECT w.basinID AS basin_id,
       |  round(CAST(sum(CAST(coalesce(v.v, -1.0) / 10 * w.wgt AS DECIMAL(28,10))) AS DOUBLE), 6) AS rain_faithful_r,
       |  round(CAST(sum(CAST(v.v / 10 * w.wgt AS DECIMAL(28,10))) AS DOUBLE), 6) AS rain_sane_r,
       |  round(round(CAST(sum(CAST(coalesce(v.v, -1.0) / 10 * w.wgt AS DECIMAL(28,10))) AS DOUBLE), 6)
       |      - round(CAST(sum(CAST(v.v / 10 * w.wgt AS DECIMAL(28,10))) AS DOUBLE), 6), 6) AS delta_r,
       |  count(*) FILTER (WHERE v.v IS NULL) AS n_nodata_reads
       |FROM w JOIN vals v ON w.row = v.row AND w.col = v.col
       |GROUP BY w.basinID
       |ORDER BY basin_id""".stripMargin

  /** qf2 — quirk Q3 (zero-pad width = ceil of the NATURAL log of the basin
    * count, geotools.py:300 — not the decimal digit count) as SQL-checkable
    * scalars: both widths plus an example padded id, derived from the
    * exported cell map's distinct basin count.
    */
  private def qf2ZfillWidth(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    ensureExports(s)
    s.read.parquet(cellMapExport)
      .agg(countDistinct(col("basinID")).as("n_basins"))
      .select(col("n_basins"),
        ceil(log(col("n_basins").cast("double"))).cast("int").as("faithful_width"),
        length(col("n_basins").cast("string")).cast("int").as("sane_width"))
      .withColumn("example_id", expr("lpad('1', faithful_width, '0')"))
  }

  private val qf2Sql =
    s"""SELECT n_basins,
       |  CAST(ceil(ln(n_basins)) AS INTEGER) AS faithful_width,
       |  CAST(length(CAST(n_basins AS VARCHAR)) AS INTEGER) AS sane_width,
       |  lpad('1', CAST(ceil(ln(n_basins)) AS INTEGER), '0') AS example_id
       |FROM (SELECT count(DISTINCT basinID) AS n_basins
       |      FROM read_parquet('$cellMapExport/*.parquet'))""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("g1_radohydro_pipeline" -> g1Radohydro _,
        "g2_pipeline_invariants" -> g2Invariants _,
        "g3_cell_weights" -> g3CellWeights _,
        "qf1_nodata_delta" -> qf1NodataDelta _,
        "qf2_zfill_width" -> qf2ZfillWidth _)

  val oracles: Map[String, String] =
    Map("g2_pipeline_invariants" -> g2Sql, // g1 itself: ScalaTest goldens
        "g3_cell_weights" -> g3Sql,
        "qf1_nodata_delta" -> qf1Sql,
        "qf2_zfill_width" -> qf2Sql)
}
