package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the harness testdata tables (TESTDATA.md).
  *
  * Every query in [[SparkEntry.queries]] reads through here so that the
  * parquet scan options (and any future bucketing/caching policy) live in
  * one place. At 100 TB these would be catalog tables with partition
  * columns; `spark.read.parquet` keeps the same plan shape (columnar scan
  * with predicate pushdown + column pruning handled by Catalyst).
  */
object Tables {
  /** Per-session memo of resolved table frames (and of [[InputScale]]'s
    * decisions). A fresh `spark.read.parquet` re-lists the directory and
    * re-reads footers for schema on every call — ~0.1–0.25 s per query at
    * bench SF, and at cluster scale an object-store LIST per query. The
    * testdata is immutable within a session, so the resolved DataFrame
    * (immutable logical plan) is shared. The weak session keys free
    * nothing: each memoized DataFrame holds its own SparkSession, so an
    * entry's value keeps its key reachable and a session's memos, plans
    * included, stay for the life of the JVM even after the session stops.
    */
  private val memos =
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[String, AnyRef]]()

  /** The value memoized under `key` for session `s`, computing it with `f`
    * on a miss. `f` may itself memoize (get + putIfAbsent, not
    * computeIfAbsent); a racing second computation loses to the first. */
  private[graft] def memo[T <: AnyRef](s: SparkSession, key: String)(f: => T): T = {
    val perSession = memos.synchronized {
      memos.computeIfAbsent(s, _ => new java.util.concurrent.ConcurrentHashMap[String, AnyRef]())
    }
    Option(perSession.get(key)).getOrElse {
      val fresh = f
      Option(perSession.putIfAbsent(key, fresh)).getOrElse(fresh)
    }.asInstanceOf[T]
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    memo(spark, s"$sfDir/$name")(spark.read.parquet(s"$sfDir/$name.parquet"))

  /** A table under [[InputScale.spread]]'s scan floor (its own read, so a
    * plan holding both variants keeps distinct attribute ids). */
  private def spread(spark: SparkSession, sfDir: String, name: String): DataFrame =
    memo(spark, s"$sfDir/$name!spread")(
      InputScale.spread(spark, sfDir, name, spark.read.parquet(s"$sfDir/$name.parquet")))

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts has shipped as TIMESTAMP(NANOS) (earlier harness corpora)
    * and as plain timestamp[us] (current corpora); normalize either to a
    * session-TZ micros TimestampType so downstream queries and the DuckDB
    * oracles (native micros TIMESTAMP) agree exactly regardless of which
    * generation of testdata is on disk.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // Sessions built by Verify/Bench/tools/TestSpark pre-set nanosAsLong at
    // construction; only fall back to a one-time set for ad-hoc sessions, so
    // a pre-configured session is never conf-mutated mid-query (a mixed
    // workload session could otherwise race the setting).
    if (!s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(table(s, d, "events"))
  }

  /** Normalize whichever on-disk encoding of `ts` we were handed to a
    * session-TZ micros TimestampType (exposed for the schema-drift spec). */
  def normalizeEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      case LongType =>
        // nanos-as-long: integer `div`, NOT floor(x/1000) — ns epochs
        // (~1.7e18) exceed double's 53-bit mantissa, so float division
        // is off by up to ~256 ns
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType =>
        // session TZ is pinned to UTC everywhere, so NTZ→LTZ keeps the
        // same micros value DuckDB sees
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Scan-floor variants — opt-in for call sites whose pre-shuffle per-row
    * work is heavy enough to repay the re-spread ([[InputScale.spread]]).
    * Identical rows; only the scan-side partitioning differs below the
    * floor. At scale these are the same bare scan as the raw accessors.
    */
  def documentsSpread(s: SparkSession, d: String): DataFrame = spread(s, d, "documents")
  def lineitemSpread(s: SparkSession, d: String): DataFrame  = spread(s, d, "lineitem")
  def ordersSpread(s: SparkSession, d: String): DataFrame    = spread(s, d, "orders")
}
