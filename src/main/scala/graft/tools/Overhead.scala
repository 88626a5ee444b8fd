package graft.tools

import org.apache.spark.sql.SparkSession

/** Scratch diagnostics for the per-query constant term (round-7 focus): for
  * each named query, splits wall into DataFrame construction (Tables read +
  * transform build), analysis, optimization, physical planning, and
  * execution, and counts the Spark jobs the execution submitted
  * ([[Probe.query]]). Three runs so first-run codegen/JIT cost is separable
  * from steady state. Not part of the driver surface.
  */
object Overhead {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    for (kv <- sys.env.getOrElse("SPARK_GRAFT_CONF", "").split(';') if kv.contains('='))
      builder.config(kv.split('=')(0), kv.split('=')(1))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val meter = Probe.meter(spark)
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // SPARK_GRAFT_WARM_SF=<dir>: run each query once against that (tiny) SF
    // first, so the measured run shows what codegen-cache warmth is worth
    val warmSf = sys.env.get("SPARK_GRAFT_WARM_SF")
    for (sf <- warmSf; name <- args) {
      val (_, sec) = Probe.secs {
        try graft.SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
      println(f"[warm] $name $sec%.3f s")
    }
    for (name <- args; i <- 1 to 3) Probe.query(spark, meter, sfDir, name, s"ovh run$i")
    spark.stop()
  }
}
