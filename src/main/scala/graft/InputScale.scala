package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The engine's one input-size policy: every "is this input small?"
  * decision, the floors it compares against, and the conf scopes the
  * small side runs under.
  *
  * Why the gates exist: AQE's value (post-shuffle coalescing, skew-join
  * splitting, runtime join-strategy switches) applies to multi-GB shuffle
  * stages. On the KB-sized stages of a small-corpus artifact build or
  * fixed-point loop, its per-stage re-planning and the session's full-width
  * task floors ARE the dominant cost (measured at sf0.1: ~0.6 s across the
  * d9 chain alone). So below a data-derived floor those builds run AQE-off
  * and/or at [[SmallBuildPartitions]] shuffle partitions; at scale neither
  * conf ever flips.
  *
  * Sizing reads parquet FOOTERS on the driver, never a Spark job: the row
  * count of each file behind the resolved [[Tables.table]] frame, summed
  * only until it reaches the floor (every gate asks `rows < floor`, so the
  * rest of a large table's footers are never opened). Decisions are
  * memoized per (session, dir, gate) in the [[Tables]] weak-session map and
  * each is printed once to stderr as an `[input-scale]` line, so whether a
  * gate fired at any rung is readable from the drive's log.
  */
object InputScale {
  /** Table-row floor of the document / embedding build gates. 1M docs is
    * hundreds of MB of text — well below where AQE starts paying here. */
  val TableRowFloor = 1000000L
  /** Edge floor of the graph gates: below it a rank round is a broadcast
    * plus one aggregate over KB-sized frames. */
  val EdgeFloor = 10000000L
  /** Shuffle width of the small-build regime (the width the graph rank
    * rounds were measured at; r13). */
  val SmallBuildPartitions = 8

  def smallDocs(s: SparkSession, d: String): Boolean = below(s, d, "documents", TableRowFloor)
  def smallVecs(s: SparkSession, d: String): Boolean = below(s, d, "embeddings", TableRowFloor)

  /** The trade graph before it exists: lineitem rows upper-bound the
    * distinct trading pairs, so 2 * |lineitem| < [[EdgeFloor]] certifies
    * the bidirected edge count is below the floor. */
  def smallTradeGraph(s: SparkSession, d: String): Boolean =
    below(s, d, "lineitem", EdgeFloor / 2)

  /** A graph whose edge count was observed while materializing it. */
  def smallGraph(nEdges: Long): Boolean = nEdges < EdgeFloor

  private def below(s: SparkSession, d: String, table: String, floor: Long): Boolean = {
    val gate = s"$table<$floor"
    Tables.memo(s, s"$d!scale!$gate") {
      val files = Tables.table(s, d, table).inputFiles.toSeq
      val (rows, read) = footerRows(s, files, floor)
      val small = rows < floor
      log(d, gate, small, s"rows=$rows${if (small) "" else "+"} footers=$read/${files.size}")
      java.lang.Boolean.valueOf(small)
    }.booleanValue
  }

  /** Sum of the footer row counts of `files`, in order, stopping once the
    * sum reaches `cap`; also returns how many footers were opened. */
  private[graft] def footerRows(s: SparkSession, files: Seq[String], cap: Long): (Long, Int) = {
    val conf = s.sessionState.newHadoopConf()
    var rows = 0L
    var read = 0
    val it = files.iterator
    while (rows < cap && it.hasNext) {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(new java.net.URI(it.next())), conf))
      try rows += r.getRecordCount finally r.close()
      read += 1
    }
    (rows, read)
  }

  private def log(d: String, gate: String, small: Boolean, detail: String): Unit =
    System.err.println(s"[input-scale] dir=$d gate=$gate small=$small $detail")

  /** Scan-parallelism floor: a parquet file smaller than
    * `spark.sql.files.maxPartitionBytes` scans as ONE partition, and since
    * a single small file is also a single row group, raising
    * `minPartitionNum` would only mint empty splits. Below the floor the
    * `Tables.*Spread` variants re-spread the scan over the default
    * parallelism, hash-partitioned on the table's PRIMARY KEY
    * (deterministic row→partition assignment — no round-robin, so retries
    * and engine-compare hashes are unaffected). At any real scale the scan
    * has more splits than cores and the floor never fires.
    *
    * Opt-in per call site (r14): baked into the one memoized frame per
    * table it was a per-query tax. Measured at sf0.1 local[32] idle,
    * floor-everywhere vs floor-nowhere was 76.9 s vs 73.4 s with a clean
    * per-query split: heavy per-row consumers (MinHash shingling, span
    * grams, PII regexes, quality metrics, rollup decimal aggregation) keep
    * 0.2–0.9 s/query wins from the spread (c2 +0.86, v2 +0.59, u6 +0.56,
    * t16 +0.54, u7/t1/c1/d11/d5/q2 +0.2–0.46), while aggregate-first and
    * light consumers lose 0.13–0.35 s/query paying a shuffle their map-side
    * partial aggregation never needed. events/embeddings/customer stay
    * raw-only (floored and measured out in r13: s5 +0.76 s, s7 +0.73 s).
    */
  private[graft] val ScanFloorKeys = Map(
    "documents" -> Seq("doc_id"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "orders" -> Seq("o_orderkey"))

  /** `raw` re-spread under the scan floor, or `raw` itself above it. */
  private[graft] def spread(s: SparkSession, d: String, name: String, raw: DataFrame): DataFrame = {
    // full session width: a half-width variant was measured (16 at
    // local[32]) and lost more on the heavy consumers (c2 +0.17 s,
    // t20 +0.36 s, q1/q2 +0.11 s) than it saved on the trivial ones
    val target = s.sparkContext.defaultParallelism
    val scanParts = raw.rdd.getNumPartitions
    val fires = scanParts * 2 <= target
    log(d, s"$name.scanFloor", fires, s"scan_partitions=$scanParts target=$target")
    if (fires) raw.repartition(target, ScanFloorKeys(name).map(col): _*) else raw
  }

  /** Run `f` with AQE off when `small`. The caller's conf value is restored
    * in finally. Builds are synchronous and the engine's drivers (Verify /
    * Bench / tests) issue queries sequentially, so the temporary
    * session-conf scope cannot leak into a concurrently-planned query in
    * practice; the frames a build RETURNS re-plan under the consumer's own
    * conf.
    */
  def withAqeOffWhen[T](s: SparkSession, small: Boolean)(f: => T): T =
    if (!small) f
    else {
      val k = "spark.sql.adaptive.enabled"
      val prev = s.conf.get(k)
      s.conf.set(k, "false")
      try f finally s.conf.set(k, prev)
    }

  /** Shuffle-partition override for the same small-build regime: an
    * AQE-off build chain runs every KB-sized stage at the session's full
    * partition count (32 tasks for a 9k-row centroid update), so task
    * floors — not data — dominate chatty iterative builds. Same
    * restore-in-finally contract as [[withAqeOffWhen]].
    */
  def withShufflePartitionsWhen[T](s: SparkSession, small: Boolean, n: Int)(f: => T): T =
    if (!small) f
    else {
      val k = "spark.sql.shuffle.partitions"
      val prev = s.conf.get(k)
      s.conf.set(k, n.toString)
      try f finally s.conf.set(k, prev)
    }

  /** Both scopes at once: AQE off and [[SmallBuildPartitions]] partitions. */
  def withSmallBuild[T](s: SparkSession, small: Boolean)(f: => T): T =
    withAqeOffWhen(s, small)(withShufflePartitionsWhen(s, small, SmallBuildPartitions)(f))
}
