package graft.tools

/** Dump each query's formatted physical plan — the .explain feedback loop:
  * check PushedFilters, broadcast choices, and WholeStageCodegen spans per
  * query — then three [[Probe.query]] runs, each printing one
  * `[explain runN] name build=… analyze=… opt=… plan=… exec=… jobs=…` line,
  * so the first run's codegen/JIT cost is separable from steady state. A
  * query that throws prints one `failed` line and no time; the next query
  * still runs.
  *
  * SPARK_GRAFT_WARM_SF=<dir>: run each query once against that (tiny) SF
  * first, so the measured runs show what codegen-cache warmth is worth.
  *
  * Usage: runMain graft.tools.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = LongDrive.select(args.drop(1).toSeq)
    val spark = LongDrive.session(LongDrive.Latency, "8")
    val meter = Probe.meter(spark)
    for (sf <- sys.env.get("SPARK_GRAFT_WARM_SF"); name <- names;
         sec <- LongDrive.guarded("warm", name)(LongDrive.noop(graft.SparkEntry.queries(name)(spark, sf))))
      println(f"[warm] $name $sec%.3f s")
    for (name <- names) {
      println(s"\n========== $name ==========")
      LongDrive.guarded("explain", name) {
        graft.SparkEntry.queries(name)(spark, sfDir).explain("formatted")
        for (i <- 1 to 3) Probe.query(spark, meter, sfDir, name, s"explain run$i")
      }
    }
    spark.stop()
  }
}
