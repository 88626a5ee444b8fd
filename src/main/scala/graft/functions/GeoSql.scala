package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** SQL-facing geometry functions (SURVEY §2.9): native Catalyst expressions
  * (see [[GeoExpressions]]) over the packed-ring geometry encoding
  * (array<array<double>>), so the spatial operators are reachable from
  * `spark.sql` as well as the DataFrame API — with no ScalaUDF conversion
  * overhead in any plan.
  *
  *   st_area(geom)                          shoelace area, holes negative
  *   st_bbox(geom)                          struct(xmin,ymin,xmax,ymax)
  *   st_clip_box(geom, xmin,ymin,xmax,ymax) clipped geometry
  *   st_clip_area(geom, ...)                area of the clip, no geometry
  *   st_contains_point(geom, x, y)          even-odd point-in-polygon
  *   st_reproject(geom, srcCrs, dstCrs)     closed-form CRS transform
  */
object GeoSql {

  /** Register the functions in `spark`'s session, once: a session that
    * already has them (from an earlier call or from [[graft.GraftExtensions]])
    * is left as it is.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (reg.functionExists(FunctionIdentifier("graft_clip_areas"))) return
    reg.createOrReplaceTempFunction("st_area", e => StArea(e.head), "built-in")
    reg.createOrReplaceTempFunction("st_bbox", e => StBBox(e.head), "built-in")
    reg.createOrReplaceTempFunction("st_clip_box",
      e => StClipBox(e(0), e(1), e(2), e(3), e(4)), "built-in")
    reg.createOrReplaceTempFunction("st_clip_area",
      e => StClipArea(e(0), e(1), e(2), e(3), e(4)), "built-in")
    reg.createOrReplaceTempFunction("st_contains_point",
      e => StContainsPoint(e(0), e(1), e(2)), "built-in")
    reg.createOrReplaceTempFunction("st_reproject",
      e => StReproject(e(0), e(1), e(2)), "built-in")
    reg.createOrReplaceTempFunction("graft_clip_areas",
      e => ClipAreas(e(0), e(1), e(2), e(3), e(4), e(5), e(6)), "built-in")
  }
}
