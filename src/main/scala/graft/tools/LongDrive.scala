package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session recipe of the mains that run queries (Bench, Verify,
  * Explain, PlanAudit, ScaleProbe, RadoHydroDemo), the one query selection
  * and the one guarded run they share. Every session runs `local[cpus]`
  * (SPARK_GRAFT_CPUS, else the caller's default), a pinned UTC session TZ
  * and `nanosAsLong` at construction (events.ts has shipped as
  * TIMESTAMP(NANOS); setting it here means Tables.events never mutates conf
  * mid-session), UI off and WARN logging. The [[Mode]] adds the rest.
  */
object LongDrive {

  /** The settings that differ between a latency drive and a long drive. */
  sealed abstract class Mode(val conf: Seq[(String, String)])

  /** Bench, Explain, RadoHydroDemo: latency is CPU-bound, so shuffle and
    * spill keep lz4. The suite compiles ~600+ generated classes; the default
    * 100-entry codegen source cache LRU-evicts Bench's warm-pass classes
    * before the measured pass reaches them (u5's compile transfer only
    * appears once the cache holds the whole suite).
    */
  case object Latency extends Mode(Seq(
    "spark.io.compression.codec" -> "lz4",
    "spark.sql.codegen.cache.maxEntries" -> "10000"))

  /** Verify, ScaleProbe, PlanAudit: many shuffle-producing queries back to
    * back in one driver, hard-won at the sf100 rung.
    *
    *  - `spark.cleaner.periodicGC.interval=5min`: shuffle files are deleted
    *    only after a driver GC collects the shuffle dependency and the
    *    ContextCleaner notices — the 30min default let ~40 GB of dead files
    *    from early queries sit on disk until the ~1B-edge graph build died
    *    mid-spill ("No space left on device"). Callers should ALSO
    *    `System.gc()` between top-level units of work (see Verify's loop).
    *  - zstd shuffle/spill compression: these drives are DISK-bound at the
    *    scale rungs; zstd shrinks shuffle + spill files ~35-40% vs lz4 for
    *    CPU cost that is noise next to the IO it avoids.
    */
  case object LongRun extends Mode(Seq(
    "spark.io.compression.codec" -> "zstd",
    "spark.cleaner.periodicGC.interval" -> "5min"))

  /** The session conf of `mode` at `shufflePartitions`. */
  def conf(mode: Mode, shufflePartitions: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> shufflePartitions,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false") ++ mode.conf

  /** `shufflePartitions` maps the resolved SPARK_GRAFT_CPUS value to the
    * shuffle-partition setting (the drives track the core count; probes and
    * the demo pin 32).
    */
  def session(mode: Mode, defaultCpus: String,
      shufflePartitions: String => String = cpus => cpus): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = conf(mode, shufflePartitions(cpus))
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `names` when given (in their order), else every SparkEntry query in
    * name order that `only` matches (all when `only` is unset). The order
    * keeps per-query numbers comparable across runs and makes a killed
    * run's output a deterministic prefix. SPARK_GRAFT_ONLY=<regex> is for
    * targeted iteration on one query family; the full surface is the gate.
    */
  def select(names: Seq[String] = Nil,
      only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Seq[String] =
    if (names.nonEmpty) names
    else {
      val re = only.map(_.r)
      graft.SparkEntry.queries.keys.toSeq.sorted.filter(n => re.forall(_.findFirstIn(n).isDefined))
    }

  /** Wall seconds of `body`; when it throws, one `[tag] name failed: …`
    * line on stderr and no time, so no caller turns a failure into a timing.
    */
  def guarded(tag: String, name: String)(body: => Unit): Option[Double] =
    try Some(Probe.secs(body)._2)
    catch { case e: Throwable => Console.err.println(s"[$tag] $name failed: $e"); None }

  /** Runs `df` through a noop sink, which materializes every column (a
    * `count()` would let Catalyst prune the expensive projections).
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
