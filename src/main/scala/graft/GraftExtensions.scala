package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.Catalog

/** Spark-native extension wiring: a session created with
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions)...
  *   // or: .config("spark.sql.extensions", "graft.GraftExtensions")
  *
  * has every [[Catalog]] function available in SQL and `expr(...)` from
  * the start. [[Graft.setup]] is the equivalent for an existing session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    for (f <- Catalog.entries) ext.injectFunction((FunctionIdentifier(f.name), f.info, f.build))
}

object Graft {
  /** Register the [[Catalog]] functions `spark`'s registry lacks. Idempotent:
    * a session built with [[GraftExtensions]], or one already set up,
    * registers nothing. Operators call it before their first `graft_*` or
    * `st_*` expression, so sessions built without the extension work too.
    */
  def setup(spark: SparkSession): SparkSession = {
    val reg = spark.sessionState.functionRegistry
    for (f <- Catalog.entries if !reg.functionExists(FunctionIdentifier(f.name)))
      reg.createOrReplaceTempFunction(f.name, f.build, "built-in")
    spark
  }
}
