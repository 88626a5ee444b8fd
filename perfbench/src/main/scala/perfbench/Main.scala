package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.operators.ArtifactCache

/** Benchmark entry point.
  *
  *   perfbench.Main --prepare --workload <name> --seed <n> [--work <dir>]
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  [--work <dir>]
  *   perfbench.Main --record-fingerprints <file.tsv> [--work <dir>]
  *
  * `--prepare` generates the seeded inputs (cached per input variant) in a
  * JVM of its own, so that the measured JVM starts cold. The measured run prints one
  * JSON result as the last stdout line; a fuller record (all samples,
  * environment, per-workload metric names) goes to `<work>/results/`, and
  * with `--trace 1` the spans as well.
  */
object Main {
  final case class Args(workload: String = "", seed: Long = 0, seconds: Double = 10, trace: Boolean = false,
      work: Path = Paths.get(".bench_build"), record: Option[Path] = None, prepare: Boolean = false)

  val Workloads: Seq[String] = Seq("radolan_hourly", "surface")
  /** Warm-up batches after the one that ends set-up. */
  val ExtraWarmUps = 1
  /** Timed batches whose CPU time makes `op_cpu_s.p50`: operations keep
    * getting cheaper for many batches while the JIT compiles, so the figure
    * comes from the same point in every run, however many batches fit.
    */
  val CpuBatches = 2

  /** End-to-end metric -> unit, reported on every workload. Operations are
    * gated on CPU seconds, not wall seconds: on a shared virtual machine the
    * hypervisor gives a varying share of the CPUs to other guests, and wall
    * time follows that share. Wall-time figures stay in the record.
    */
  val EndToEnd: ListMap[String, String] = ListMap("setup_s" -> "s", "op_cpu_s.p50" -> "s",
    "peak_rss_mb" -> "MB", "heap_retained_mb" -> "MB")

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def parse(argv: Seq[String]): Args = argv match {
    case Seq() => Args()
    case "--workload" +: v +: rest => parse(rest).copy(workload = v)
    case "--seed" +: v +: rest => parse(rest).copy(seed = v.toLong)
    case "--seconds" +: v +: rest => parse(rest).copy(seconds = v.toDouble)
    case "--trace" +: v +: rest => parse(rest).copy(trace = v == "1")
    case "--work" +: v +: rest => parse(rest).copy(work = Paths.get(v))
    case "--prepare" +: rest => parse(rest).copy(prepare = true)
    case "--record-fingerprints" +: v +: rest => parse(rest).copy(record = Some(Paths.get(v)))
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        val a = parse(argv.toSeq)
        a.record match {
          case Some(path) => Fingerprints.record(a.work, path)
          case None =>
            require(Workloads.contains(a.workload), s"--workload must be one of ${Workloads.mkString(", ")}")
            if (a.prepare) Bench(a).prepare()
            else println(json.writeValueAsString(Bench(a).run()))
        }
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    System.out.flush()
    sys.exit(code)
  }

  def cores: Int = Runtime.getRuntime.availableProcessors

  def session(work: Path, nCores: Int = cores, partitions: Int = cores): SparkSession = {
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$nCores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }

  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Aggregate CPU tick counters (user ... steal) from /proc/stat. */
  def cpuTicks(): Array[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)

  /** Share of CPU time the hypervisor gave to other guests between two
    * [[cpuTicks]] readings.
    */
  def stealFrac(t0: Array[Long], t1: Array[Long]): Double = {
    val d = t1.zip(t0).map { case (x, y) => x - y }
    if (d.length > 7 && d.sum > 0) d(7).toDouble / d.sum else 0.0
  }

  /** Seconds since this JVM started. */
  def uptimeS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Heap still reachable after a full collection, in MB: what the
    * program keeps (caches, fitted artifacts, session state) once its
    * operations are done. Measured after the timed loop. A collection lets
    * Spark's context cleaner drop the blocks of unreachable broadcasts and
    * shuffles, asynchronously, so this collects a few times and keeps the
    * smallest reading.
    */
  def retainedHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)

  /** A fixed codegen aggregation; its time flags a slow or busy machine. */
  def calibrate(spark: SparkSession): Double =
    (0 until 2).map { _ =>
      val t0 = System.nanoTime()
      spark.range(10000000L).selectExpr("sum(id * 2 + 1) AS s").write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.last
}

/** One benchmark run of one workload. */
final case class Bench(a: Main.Args) {
  import Main._
  import Loop.{Op, Sample}

  private val isSurface = a.workload == "surface"
  private val fixtures = a.work.resolve("fixtures")
  private val out = a.work.resolve("out").resolve(a.workload)
  private val results = a.work.resolve("results")

  // a seed picks one of a few input variants, so that a checkout generates
  // each at most once
  private val variant = Math.floorMod(a.seed, Surface.Variants.toLong).toInt
  private val fixtureDir = fixtures.resolve(s"radolan-v$variant")
  private lazy val fx: RadolanFixture.Fixture = RadolanFixture.load(fixtureDir)
  private lazy val corpusDir = fixtures.resolve(s"corpus-v$variant").toAbsolutePath
  private lazy val fingerprints = Surface.loadFingerprints()
  private lazy val registry = Surface.registry

  /** Generate this run's inputs unless they are already cached. */
  def prepare(): Unit =
    if (isSurface) {
      if (!Files.exists(corpusDir.resolve("_done"))) {
        val s = session(a.work)
        try Surface.ensureCorpus(s, corpusDir, variant) finally s.stop()
      }
    } else RadolanFixture.ensure(fixtureDir, Flagship.Shape, variant, cores)

  private def flagshipOp(spark: SparkSession, traced: Option[(Tracer, Int)]): Op =
    Op(a.workload, () => {
      traced match {
        case None => Flagship.run(spark, fx, out)
        case Some((tr, op)) => Flagship.runTraced(spark, fx, out, tr, op)
      }
      () => {
        Flagship.check(fx, out)
        traced.foreach { case (tr, op) => Flagship.kernels(fx, tr, op) }
      }
    }, () => { spark.catalog.clearCache(); deleteTree(out) })

  private def queryOp(spark: SparkSession, name: String, traced: Option[(Tracer, Int)]): Op =
    Op(name, () => {
      val f = registry.get(name).map(_._2)
        .getOrElse(throw new NoSuchElementException(s"query $name is not registered"))
      val dir = corpusDir.toString
      val rows = traced match {
        case None => f(spark, dir).collect()
        case Some((tr, op)) =>
          tr.span(s"query.$name", op) {
            val df = tr.span("ops.construct", op)(f(spark, dir))
            tr.span("ops.exec", op)(df.collect())
          }
      }
      () => Surface.check(name, Surface.fingerprint(rows), fingerprints.get((variant, name)))
    })

  /** Batches of operations: one pipeline call, or one pass over the pinned
    * list. The session stays warm between passes, so fitted artifacts are
    * served from the cache; the fits themselves happen in set-up.
    */
  private def batches(spark: SparkSession, tracer: Option[Tracer],
      onPass: () => Unit = () => ()): Iterator[Seq[Op]] = {
    var op = 0
    def next(): Option[(Tracer, Int)] = { op += 1; tracer.map(_ -> op) }
    if (isSurface) Iterator.continually {
      onPass()
      Surface.Pinned.map(n => queryOp(spark, n, next()))
    } else Iterator.continually(Seq(flagshipOp(spark, next())))
  }

  /** Wall (or CPU) seconds of each batch whose operations all succeeded: a
    * pipeline call, or a whole pass over the pinned list.
    */
  private def batchSeconds(samples: Seq[Sample], cpu: Boolean = false): Seq[Double] =
    samples.groupBy(_.batch).toSeq.sortBy(_._1).map(_._2)
      .filter(_.forall(_.seconds.nonEmpty)).map(_.flatMap(s => if (cpu) s.cpuSeconds else s.seconds).sum)

  def run(): ListMap[String, Any] = {
    val loadStart = loadAvg()
    val ticksStart = cpuTicks()
    Files.createDirectories(results)
    require(if (isSurface) Files.exists(corpusDir.resolve("_done")) else Files.exists(fixtureDir.resolve("_done")),
      s"inputs for ${a.workload} seed ${a.seed} are not prepared; run with --prepare first")

    // set-up: JVM start, session start and one warm-up operation (a pipeline
    // call, or a pass over the pinned list with its artifact fits)
    val spark = session(a.work)
    val warm = batches(spark, None)
    def warmUp(): Seq[Sample] = warm.next().map(op => Loop.runOp(op, -1))
    val firstWarmUp = warmUp()
    val setupS = uptimeS()
    // more, untimed: operations keep getting faster over the first few
    // while the JIT compiles the hot paths
    val warmUps = firstWarmUp ++ (1 to ExtraWarmUps).flatMap(_ => warmUp())
    warmUps.foreach { s =>
      System.err.println(f"[perfbench] warm-up: ${s.name} ${s.elapsed}%.2f s${s.error.fold("")(" FAILED " + _)}")
    }
    val calib = calibrate(spark)

    val samples = Loop.closed(a.seconds, batches(spark, None))
    val traced = if (a.trace) Some(tracedRun(spark, batchSeconds(samples))) else None
    val retained = retainedHeapMb()
    spark.stop()
    val loadEnd = loadAvg()
    val steal = stealFrac(ticksStart, cpuTicks())

    val ok = samples.flatMap(_.seconds)
    val opS = batchSeconds(samples)
    def q(xs: Seq[Double], p: Double) = if (xs.isEmpty) Double.NaN else Stats.quantile(xs, p)
    // work completed per second of operation time, at the fixture's size
    val itemsPerS = ok.size * (if (isSurface) 1 else fx.grids) / ok.sum
    val values = Map("setup_s" -> setupS,
      "op_cpu_s.p50" -> q(batchSeconds(samples, cpu = true).take(CpuBatches), 0.5),
      "peak_rss_mb" -> peakRssMb(), "heap_retained_mb" -> retained)
    val endToEnd = EndToEnd.map { case (k, unit) => k -> ListMap("value" -> values(k), "unit" -> unit) }
    // wall-time figures, under their per-workload names too
    val named = ListMap("op_s.p50" -> q(opS, 0.5), "items_per_s" -> itemsPerS) ++
      (if (isSurface) ListMap("query_s.p50" -> q(ok, 0.5), "query_s.p90" -> q(ok, 0.9), "pass_s" -> q(opS, 0.5))
      else ListMap("run_s.p50" -> q(opS, 0.5), "run_s.max" -> q(opS, 1.0), "grids_per_s" -> itemsPerS))
    val env = ListMap("cpus" -> cores, "load_start" -> loadStart, "load_end" -> loadEnd, "calib_s" -> calib,
      "steal_frac" -> steal, "contended" -> (loadStart >= 1.0 || calib > 0.5 || steal > 0.05),
      "java" -> System.getProperty("java.version"), "spark" -> org.apache.spark.SPARK_VERSION)
    val metrics = traced.fold[ListMap[String, Any]](endToEnd)(_._1)
    // warm-ups and a traced run's operations count as attempted too
    val all = warmUps ++ samples ++ traced.map(_._3).getOrElse(Nil)
    val failed = all.count(_.seconds.isEmpty)
    val result = ListMap("correct" -> (failed == 0 && opS.nonEmpty), "attempted" -> all.size,
      "failed" -> failed, "metrics" -> metrics)

    val record = ListMap("workload" -> a.workload, "seed" -> a.seed, "variant" -> variant, "seconds" -> a.seconds,
      "trace" -> a.trace, "env" -> env, "setup_s" -> setupS, "warm_up_s" -> warmUps.map(_.elapsed),
      "samples" -> samples.map(s => ListMap("name" -> s.name, "batch" -> s.batch,
        "seconds" -> s.seconds, "cpu_s" -> s.cpuSeconds, "elapsed_s" -> s.elapsed, "error" -> s.error)),
      "failed_frac" -> Loop.failedFrac(samples), "op_count" -> opS.size,
      "end_to_end" -> endToEnd, "named" -> named,
      "fixture" -> (if (isSurface) ListMap(
        "count_only" -> Surface.Pinned.filter(n => fingerprints.get((variant, n)).exists(_.hash.isEmpty)))
        else ListMap("grids" -> fx.grids, "archives" -> fx.archives,
          "basins_with_rows" -> fx.expect.basinsWithRows)),
      "traced" -> traced.map(_._2), "result" -> result)
    Files.writeString(results.resolve(s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"),
      json.writeValueAsString(record) + "\n")
    summary(env, values, named, samples, opS.size)
    result
  }

  private def summary(env: Any, values: Map[String, Double], named: ListMap[String, Double],
      samples: Seq[Sample], ops: Int): Unit = {
    System.err.println(s"[perfbench] ${a.workload} seed=${a.seed}: ${samples.count(_.seconds.nonEmpty)} ok of " +
      s"${samples.size} (failed_frac ${Loop.failedFrac(samples)}), $ops timed operations")
    EndToEnd.foreach { case (k, u) => System.err.println(f"[perfbench]   $k%-16s ${values(k)}%.4f $u") }
    named.foreach { case (k, v) => System.err.println(f"[perfbench]   $k%-16s $v%.4f") }
    samples.filter(_.error.nonEmpty).take(5).foreach(s => System.err.println(s"[perfbench]   FAILED ${s.name}: ${s.error.get}"))
    System.err.println(s"[perfbench]   env ${json.writeValueAsString(env)}")
  }

  /** The loop again with spans; returns the per-layer metrics and a
    * summary (self time per layer, overhead against the untraced `plain`).
    */
  private def tracedRun(spark: SparkSession, plain: Seq[Double]): (ListMap[String, Any], ListMap[String, Any], Seq[Sample]) = {
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val tr = new Tracer(spark.sparkContext, counters)
    val artifactSnaps = scala.collection.mutable.ArrayBuffer.empty[Map[String, ArtifactCache.ArtifactStats]]
    val samples = Loop.closed(a.seconds, batches(spark, Some(tr), () => artifactSnaps += ArtifactCache.statsSnapshot))
    artifactSnaps += ArtifactCache.statsSnapshot
    spark.sparkContext.removeSparkListener(counters)
    val tracedOk = batchSeconds(samples)
    val overhead =
      if (plain.isEmpty || tracedOk.isEmpty) Double.NaN else Stats.median(tracedOk) - Stats.median(plain)
    val spansPath = results.resolve(s"${a.workload}-seed${a.seed}-spans.jsonl")
    tr.write(spansPath)
    val layers = PerLayer.compute(tr, isSurface, if (isSurface) None else Some(fx), cores,
      artifactSnaps.toSeq, Surface.Pinned.map(n => n -> registry.get(n).map(_._1).getOrElse("missing")).toMap)
    val perLayer = layers + ("trace.overhead_s" -> overhead)
    val selfTimes = tr.selfTimes
    val self = tr.all.groupBy(s => PerLayer.layerOf(s.name)).map { case (k, ss) =>
      k -> ss.map(s => selfTimes(s.id)).sum
    }
    System.err.println(s"[perfbench] traced: spans in $spansPath; self time by layer " +
      self.toSeq.sortBy(-_._2).map { case (k, v) => f"$k=$v%.3fs" }.mkString(" ") +
      f"; overhead $overhead%.4f s")
    (PerLayer.withUnits(perLayer), ListMap("spans" -> spansPath.toString, "self_s" -> self,
      "untraced_p50_s" -> (if (plain.isEmpty) Double.NaN else Stats.median(plain)),
      "traced_p50_s" -> (if (tracedOk.isEmpty) Double.NaN else Stats.median(tracedOk)),
      "overhead_s" -> overhead, "samples" -> samples.size, "failed" -> samples.count(_.seconds.isEmpty)),
      samples)
  }
}
