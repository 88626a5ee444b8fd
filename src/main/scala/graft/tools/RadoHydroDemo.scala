package graft.tools

import graft.api.RadoHydro
import graft.out.CsvSink

/** CLI entry for the radohydro pipeline: grid archive dir + basin shapefile
  * -> per-basin rainfall series printed and written as CSVs (scalable
  * partitionBy layout by default; pass datasource suffixed with `,faithful`
  * — e.g. `radolan,faithful` — for the reference's byte-identical per-basin
  * files, which collect the series to the driver).
  *
  * NOTE on the default layout's values: Spark's `round` is half-up while the
  * reference (numpy) rounds half-even, so the partitioned output can differ
  * from the reference files in the LAST printed decimal (<= 5e-4 per value).
  * Use `,faithful` when byte-identical comparison against reference output
  * is required.
  *
  * Usage: runMain graft.tools.RadoHydroDemo <gridDir> <shpPath> <outDir>
  *        [datasource=radolan|regnie[,faithful]] [start=yyyyMMdd] [end=yyyyMMdd]
  */
object RadoHydroDemo {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: RadoHydroDemo <gridDir> <shpPath> <outDir> [datasource[,faithful]] [start] [end]")
    val Array(gridDir, shpPath, outDir) = args.take(3)
    val dsArg = if (args.length > 3) args(3) else "radolan"
    val faithful = dsArg.endsWith(",faithful")
    val datasource = dsArg.stripSuffix(",faithful")
    val cfg = RadoHydro.Config(
      datasource = datasource,
      startDate = if (args.length > 4) Some(args(4)) else None,
      endDate = if (args.length > 5) Some(args(5)) else None)
    val spark = LongDrive.session(LongDrive.Latency, "8", _ => "32")
    val res = RadoHydro.run(spark, gridDir, shpPath, cfg)
    println(s"window=${res.window} meta=${res.meta}")
    res.series.orderBy("basinID", "ts").show(24, truncate = false)
    val files = CsvSink.write(res.series, res.basins, outDir, faithful = faithful)
    if (faithful) {
      println(s"wrote ${files.size} faithful basin CSVs to $outDir")
      files.take(2).foreach(f => println(s"--- $f\n" +
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)))))
    } else println(s"wrote partitioned basin CSV tree to $outDir " +
      "(half-up rounding; last-decimal deltas vs reference files are expected — " +
      "use ',faithful' for byte-identical output)")
    spark.stop()
  }
}
