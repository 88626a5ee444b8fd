package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.streaming.StreamingQuery

/** The measuring code the scale probes (ScaleProbe) and the per-query
  * phase split (Explain) share: one listener, one timed query run, one
  * frame compare, a fixture guard, scoped system properties and the
  * two-phase stream feeder.
  */
object Probe {

  /** Listener totals at one moment; subtract two to get an interval's cost. */
  final case class Counts(jobs: Long, stages: Long, tasks: Long, shuffleBytes: Long, spillBytes: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
  }

  /** Counts jobs, stages, tasks, shuffle-write and spill bytes, and keeps
    * each stage's shuffle-write bytes and task durations. Events arrive on
    * Spark's listener bus, so a read right after an action can miss the
    * last ones.
    */
  final class Meter extends SparkListener {
    private val jobs, stages, tasks, shuffleBytes, spillBytes = new AtomicLong
    private val stageShuffle = new ConcurrentHashMap[Int, Long]()
    private val stageTasks = new ConcurrentHashMap[Int, java.util.List[Long]]()

    override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      stages.incrementAndGet()
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
      stageShuffle.put(e.stageInfo.stageId, m.shuffleWriteMetrics.bytesWritten)
      ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      stageTasks
        .computeIfAbsent(e.stageId, _ => java.util.Collections.synchronizedList(new java.util.ArrayList[Long]()))
        .add(e.taskInfo.duration)
      ()
    }

    def counts: Counts = Counts(jobs.get, stages.get, tasks.get, shuffleBytes.get, spillBytes.get)

    /** Largest shuffle write of one stage since the last `clearStages`. */
    def maxStageShuffleBytes: Long = stageShuffle.values.asScala.foldLeft(0L)(math.max)

    /** Median and max task duration (ms) of the stage that wrote the most
      * shuffle bytes since the last `clearStages`.
      */
    def heaviestStageTaskMs: (Long, Long) = {
      val durs = stageTasks.get(stageShuffle.asScala.maxBy(_._2)._1).asScala.toSeq.sorted
      (durs(durs.size / 2), durs.last)
    }

    def clearStages(): Unit = { stageShuffle.clear(); stageTasks.clear() }
  }

  /** A [[Meter]] registered on the session's context. */
  def meter(spark: SparkSession): Meter = {
    val m = new Meter
    spark.sparkContext.addSparkListener(m)
    m
  }

  /** Wall seconds of `body`, next to its result. */
  def secs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** One query's wall time, split into DataFrame construction, analysis,
    * optimization, physical planning and noop-sink execution, with the
    * listener counts of the whole run.
    */
  final case class Run(df: DataFrame, build: Double, analyze: Double, opt: Double,
      plan: Double, exec: Double, cost: Counts) {
    def sec: Double = build + analyze + opt + plan + exec
  }

  /** Runs `SparkEntry.queries(name)` on `dir` through a noop sink, which
    * materializes every column (a `count()` would let Catalyst drop work),
    * and prints one `[tag] name build=… exec=… jobs=…` line.
    */
  def query(spark: SparkSession, meter: Meter, dir: String, name: String, tag: String): Run = {
    val c0 = meter.counts
    val (df, build) = secs(graft.SparkEntry.queries(name)(spark, dir))
    val (_, analyze) = secs(df.queryExecution.analyzed)
    val (_, opt) = secs(df.queryExecution.optimizedPlan)
    val (_, plan) = secs(df.queryExecution.executedPlan)
    val (_, exec) = secs(LongDrive.noop(df))
    val c = meter.counts - c0
    println(f"[$tag] $name%-22s build=$build%.3f analyze=$analyze%.3f opt=$opt%.3f plan=$plan%.3f exec=$exec%.3f " +
      f"jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks} shuffle_mb=${c.shuffleBytes / 1e6}%.1f spill_mb=${c.spillBytes / 1e6}%.1f")
    Run(df, build, analyze, opt, plan, exec, c)
  }

  /** Runs `write` unless `root/_done` exists, then creates that marker. */
  def fixtureOnce(root: String)(write: => Unit): Unit = {
    val marker = Paths.get(root, "_done")
    if (!Files.exists(marker)) {
      write
      Files.createDirectories(marker.getParent)
      Files.write(marker, Array.emptyByteArray)
    }
  }

  /** Row counts of two frames and the rows each holds that the other does
    * not, as multisets.
    */
  final case class RowDiff(rowsA: Long, rowsB: Long, onlyA: Long, onlyB: Long) {
    def matched: Boolean = rowsA == rowsB && onlyA == 0 && onlyB == 0
  }

  def sameRows(a: DataFrame, b: DataFrame): RowDiff =
    RowDiff(a.count(), b.count(), a.exceptAll(b).count(), b.exceptAll(a).count())

  /** Runs `body` with the given system properties set, then restores each
    * key's prior value (or removes it), also when `body` throws.
    */
  def withProps[A](props: (String, String)*)(body: => A): A = {
    val prior = props.map { case (k, _) => k -> sys.props.get(k) }
    props.foreach { case (k, v) => sys.props(k) = v }
    try body
    finally prior.foreach {
      case (k, Some(v)) => sys.props(k) = v
      case (k, None) => sys.props.remove(k)
    }
  }

  /** Deletes `root` and everything under it, if it exists. */
  def freshDir(root: String): Unit =
    if (Files.exists(Paths.get(root)))
      Files.walk(Paths.get(root)).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.delete(p); () })

  /** SQL for a document text of 40 hash-mixed numeric tokens seeded by the
    * SQL expression `seed`: distinct seeds share essentially no character
    * shingles, equal seeds give equal texts.
    */
  def feedText(seed: String): String =
    s"array_join(transform(sequence(0, 39), w -> CAST(xxhash64($seed, w) AS STRING)), ' ')"

  /** Feeds `nFeed` documents as `slices` parquet files into `root/feed` in
    * two phases: the first half of the slices, a stream started by `start`
    * (over the feed, one file per micro-batch) run until idle and hard
    * stopped; then the rest of the slices and a restart of `start` on the
    * same checkpoint. Feed doc `i` has id `nStanding + i`; every 4th is an
    * exact copy of standing doc `i % nStanding`. Returns both phases' wall
    * seconds.
    */
  def twoPhaseFeed(spark: SparkSession, root: String, nStanding: Int, nFeed: Int, slices: Int)(
      start: DataFrame => StreamingQuery): (Double, Double) = {
    val feedDir = s"$root/feed"
    Files.createDirectories(Paths.get(feedDir))
    val per = (nFeed + slices - 1) / slices
    def writeSlice(k: Int): Unit = {
      val lo = k.toLong * per
      val hi = math.min((k + 1).toLong * per, nFeed.toLong)
      spark.range(lo, hi).select(
          (col("id") + nStanding).as("doc_id"),
          expr(feedText(s"CASE WHEN id % 4 = 0 THEN id % $nStanding ELSE id + $nStanding END"))
            .as("text"))
        .repartition(1)
        .write.mode("overwrite").parquet(s"$root/stage_$k")
      val part = Files.list(Paths.get(s"$root/stage_$k")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(feedDir, f"slice_$k%03d.parquet"))
      ()
    }
    def phase(ks: Range): Double = {
      ks.foreach(writeSlice)
      secs {
        val q = start(spark.readStream
          .schema("doc_id BIGINT, text STRING")
          .option("maxFilesPerTrigger", "1")
          .parquet(feedDir))
        q.processAllAvailable()
        q.stop()
      }._2
    }
    // the restart reads the committed offsets and must re-admit nothing
    (phase(0 until slices / 2), phase(slices / 2 until slices))
  }
}
