package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DoubleType

/** Structured Streaming surface (SURVEY §2.11: the reference is batch-only —
  * "fully streambased" means byte-stream I/O — so this is the engine's
  * extension: the same operators exposed incrementally).
  *
  * All transforms below take a DataFrame that may be batch OR streaming —
  * the plan is identical; only the source/sink differ. Watermarks bound
  * state: at 100 TB/day the state store holds only open windows/sessions.
  */
object StreamOps {

  /** Tumbling event-time window aggregation with a watermark. */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"), col("value_sum"))

  /** Sliding window (length, slide) aggregation with a watermark. */
  def slidingSums(events: DataFrame, length: String = "2 hours",
      slide: String = "1 hour", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), length, slide))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
      .select(col("window.start").as("wstart"), col("n"), col("value_sum"))

  final case class Event(user_id: Long, ts: Timestamp, value: Double)
  final case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  final case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, value_sum: Double)

  /** Micros-precision epoch conversion (Timestamp.getTime is millis only —
    * session boundaries and starts must keep event-time micros).
    */
  private def epochMicros(ts: Timestamp): Long =
    ts.getTime / 1000 * 1000000L + ts.getNanos / 1000
  private def toTimestamp(micros: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(micros, 1000000L) * 1000)
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000).toInt)
    t
  }

  /** Custom sessionization with flatMapGroupsWithState: a session is emitted
    * when a later event closes it (gap elapsed in event time). The final
    * open session per user intentionally REMAINS in state — in a live
    * stream it may still grow; callers needing a flush add an end-of-stream
    * sentinel or an event-time timeout policy. The explicit-state twin of
    * `session_window` for when per-session logic outgrows SQL.
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMicros = gapMs * 1000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[List[SessionState]]) =>
          // sessions under construction, ordered by start
          var open = state.getOption.getOrElse(Nil)
          val closed = scala.collection.mutable.ListBuffer.empty[Session]
          rows.toSeq.sortBy(e => epochMicros(e.ts)).foreach { e =>
            val t = epochMicros(e.ts)
            open match {
              case cur :: rest if t - cur.last < gapMicros =>
                open = cur.copy(last = t, n = cur.n + 1, sum = cur.sum + e.value) :: rest
              case cur :: rest =>
                closed += Session(userId, toTimestamp(cur.start), toTimestamp(cur.last),
                  cur.n, cur.sum)
                open = SessionState(t, t, 1, e.value) :: rest
              case Nil =>
                open = SessionState(t, t, 1, e.value) :: Nil
            }
          }
          state.update(open)
          closed.iterator
      }
  }

  /** Streaming ingestion dedup — the training-pipeline front door: drop
    * events whose key was already seen, with state bounded by the watermark
    * (`dropDuplicatesWithinWatermark`: a key's dedup state is dropped once
    * the watermark passes its event time + interval, so at 100 TB/day the
    * state store holds only the retention horizon, not all history).
    */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream interval join: clicks joined to the same user's purchases
    * within the following hour. Both sides carry watermarks and the join
    * condition bounds event-time distance, so each side's state store holds
    * only the watermark horizon (the unbounded-state stream join is
    * rejected by Spark for good reason). Works identically on batch frames.
    */
  def clickToPurchase(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("value").as("click_value"))
      .withWatermark("click_ts", watermark)
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", watermark)
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_ts"), col("purchase_ts"),
        col("click_value"), col("purchase_value"))
  }

  // ---------------------------------------------------------------------------
  // transformWithState — Spark 4's arbitrary-state API (successor of
  // [flat]mapGroupsWithState: typed per-key state handles, TTL, timers).
  // A running per-user totals processor: every event emits the user's
  // running (count, value-sum) — the live per-entity counter a serving
  // pipeline maintains (budget tracking, rate limits, per-user corpus
  // quotas). State is ONE (long, long) per user regardless of stream
  // length, and the value sum is held as integer micros with each event's
  // value rounded to DECIMAL(18,6) first (HALF_UP — the SQL cast's
  // rounding), so the running value is exactly the DECIMAL window sum of
  // the batch twin: associative, restart-safe, engine-exact.
  final case class SpendEvent(user_id: Long, event_id: Long, value: Double)
  final case class RunningTotal(user_id: Long, event_id: Long,
      n_so_far: Long, value_sum: Double)

  final class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SpendEvent, RunningTotal] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var totals: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState("totals",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[SpendEvent],
        timerValues: TimerValues): Iterator[RunningTotal] = {
      var (n, micros) = if (totals.exists()) totals.get() else (0L, 0L)
      // event_id order within the batch: deterministic regardless of file
      // split / task order (across micro-batches, arrival order governs —
      // as in any streaming accumulator)
      val out = rows.toArray.sortBy(_.event_id).map { e =>
        n += 1
        // BigDecimal.valueOf mirrors Spark's own DOUBLE->DECIMAL cast
        // (shortest-decimal-string before HALF_UP), which is what makes the
        // batch twin agree; engines that round the exact binary value
        // instead (DuckDB's cast) agree only when values are representable
        // at <= 6 decimals — true of the cents-valued fixtures here. The
        // bit-for-bit claim below additionally needs per-user |micros| to
        // stay under 2^53 (~9e9 value units), else micros/1e6 is no longer
        // a correctly-rounded double. Adversarial distributions outside
        // those bounds should accumulate from a decimal read of the column.
        micros += java.math.BigDecimal.valueOf(e.value)
          .setScale(6, java.math.RoundingMode.HALF_UP).unscaledValue().longValueExact()
        // micros/1e6 and DECIMAL(_,6)->DOUBLE are both correctly-rounded
        // conversions of the same rational, so they agree bit-for-bit
        RunningTotal(e.user_id, e.event_id, n, micros / 1e6)
      }
      totals.update((n, micros))
      out.iterator
    }
  }

  /** Running totals via transformWithState; works on a batch OR streaming
    * frame with (user_id, event_id, value) columns.
    *
    * SESSION-WIDE SIDE EFFECT: this sets the session's state-store provider
    * to RocksDB and leaves it set — transformWithState requires it, and the
    * returned Dataset executes lazily, so a set/restore scope around plan
    * construction would be gone by execution time. Any later stateful query
    * in the same session runs on RocksDB too; a query restarting from an
    * HDFS-backed state checkpoint must restore the provider itself (the two
    * providers' checkpoint layouts are incompatible). The provider is only
    * written when it differs, so a session already pinned to RocksDB is
    * untouched.
    */
  def runningTotals(events: DataFrame): Dataset[RunningTotal] = {
    import org.apache.spark.sql.streaming.TimeMode
    val s = events.sparkSession
    // transformWithState requires the RocksDB provider (the HDFS-backed
    // store lacks the multi-column-family layout its typed state handles
    // use); semantics of the other stateful ops are provider-independent
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val rocksDb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    if (!s.conf.getOption(providerKey).contains(rocksDb)) s.conf.set(providerKey, rocksDb)
    // batch-mode state stores still report to the driver's
    // StateStoreCoordinator RPC endpoint, which only the
    // StreamingQueryManager instantiates — touch it so a pure-batch
    // session has the endpoint registered
    s.streams.active
    import s.implicits._
    events.select(col("user_id"), col("event_id"), col("value")).as[SpendEvent]
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor, TimeMode.None(), OutputMode.Append())
  }

  // ---------------------------------------------------------------------------
  // Streaming incremental-dedup admission: the stream twin of the d12 query /
  // api.Curation.admitBatch — a live crawl feed admitted against a STANDING
  // corpus signature snapshot before ingestion. Reference scope note: the
  // reference is batch-only; this is the §2.11 extension applied to the
  // dedup family.

  /** Admission verdicts for one batch of `newDocs` (doc_id, text) against a
    * standing-corpus MinHash signature frame (doc_id, sig — in production a
    * precomputed snapshot artifact, here any [[graft.operators.Dedup.minhashSigs]]
    * output): banded-LSH candidate lookup, signature-agreement scoring, and
    * d12's best-match / threshold verdict per new doc
    * (doc_new, n_cand, best_old, best_est, is_dup).
    *
    * Pure frame -> frame, so the EXACT same plan serves batch admission and
    * every foreachBatch micro-batch. Scale shape: the new side's signatures
    * and band keys are row-local; the candidate join is an equi-join on
    * (band_idx, band_hash) where the standing band table is corpus-sized
    * (never broadcast — at 1B docs it is TBs) and the micro-batch side is
    * small, so AQE broadcasts the BATCH bands into the standing scan; after
    * the band join only (doc_new, doc_old, est) scalars move, keyed by
    * doc_new. Cross-batch state is not needed: a doc's candidates all live
    * in its own micro-batch (new-vs-new dedup is the next snapshot d9's job,
    * same contract as d12).
    *
    * Whale guard: the batch path's LshMaxBucket cap is applied HERE, on the
    * combined (standing + batch) view of each band bucket — a signature
    * frame cannot carry bucket caps (membership is derived from the band
    * join), so without this a boilerplate-degenerate standing bucket makes
    * the candidate join quadratic in bucket size. Parity caveat (pinned by
    * StreamingAdmitSpec): verdicts equal d12's whenever no bucket straddles
    * the cap BETWEEN admission views — d12 sizes buckets over the full
    * corpus, while a micro-batch sees standing + its own slice only, so a
    * bucket that clears 64 only once later batches arrive is admitted here
    * but dropped by d12.
    */
  def admissionVerdicts(newDocs: DataFrame, standingSigs: DataFrame,
      threshold: Double = 0.7): DataFrame = {
    import graft.operators.Dedup
    val newSigs = Dedup.minhashSigs(newDocs) // registers the graft_* functions
    def bands(sigs: DataFrame, as: String) = sigs.select(col("doc_id").as(as),
      posexplode(expr(Dedup.bandHashArrayExpr)).as(Seq("band_idx", "band_hash")))
    val newBands = bands(newSigs, "doc_new")
    val oldBands = bands(standingSigs, "doc_old")
    val key = Seq("band_idx", "band_hash")
    // combined bucket sizes, capped exactly like lshBands (the >=2 floor is
    // implicit: a candidate needs one member on each side). The aggregate
    // leaves `keep` hash-partitioned on the band key; both band joins then
    // reuse that partitioning, and whale-bucket rows never reach the
    // standing-side join.
    val keep = newBands.select(key.map(col): _*)
      .unionAll(oldBands.select(key.map(col): _*))
      .groupBy(key.map(col): _*).agg(count(lit(1)).as("bsz"))
      .where(col("bsz") <= Dedup.LshMaxBucket)
      .select(key.map(col): _*)
    // a pair colliding in k bands is scored once (same dedup-before-scoring
    // as the batch lshCandidatePairs)
    val cand = newBands.join(keep, key)
      .join(oldBands, key)
      .select("doc_new", "doc_old").distinct()
    val est = cand
      .join(newSigs.select(col("doc_id").as("doc_new"), col("sig").as("siga")), "doc_new")
      .join(standingSigs.select(col("doc_id").as("doc_old"), col("sig").as("sigb")), "doc_old")
      .select(col("doc_new"), col("doc_old"),
        (expr("graft_sig_agree(siga, sigb)").cast(DoubleType)
          / Dedup.LshNumHashes).as("est"))
    val best = est.groupBy("doc_new")
      .agg(count(lit(1)).as("n_cand"), max(col("est")).as("best_est"))
    val pick = est.join(best.select(col("doc_new"), col("best_est")), "doc_new")
      .where(col("est") === col("best_est"))
      .groupBy("doc_new").agg(min(col("doc_old")).as("best_old"))
    newDocs.select(col("doc_id").as("doc_new"))
      .join(best, Seq("doc_new"), "left")
      .join(pick, Seq("doc_new"), "left")
      .select(col("doc_new"), coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        col("best_old"), col("best_est"),
        when(col("best_est") >= threshold, 1).otherwise(0).as("is_dup"))
  }

  /** foreachBatch admission stream: each micro-batch (a crawl slice) is
    * admitted against the standing signature snapshot and its verdict frame
    * handed to `sink` with the batch id — the production front door where
    * the sink appends an admission ledger / routes rejects. Pass
    * `checkpoint` for a durable run: source offsets commit there, so a
    * restarted query resumes at the first unadmitted slice instead of
    * re-admitting the whole feed (StreamingAdmitSpec pins the
    * exactly-once-per-doc ledger across a stop/start).
    */
  def admitStream(newDocs: DataFrame, standingSigs: DataFrame,
      threshold: Double = 0.7, checkpoint: Option[String] = None)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = newDocs.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(admissionVerdicts(batch, standingSigs, threshold), id)
      }
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.start()
  }

  /** Streaming pack materialization (r12 stretch): each micro-batch of
    * (doc_id, n_tokens) rows appends to the standing pack layout through
    * t24's oracle-checked `packAppendFrom`, emitting that batch's layout
    * DELTA to the sink. The only cross-batch state is the 16-row per-shard
    * resume frame. Within a shard, arrival order IS pack order (the append
    * semantic): a feed whose slices arrive in doc_id order reproduces the
    * batch re-pack bit-for-bit (StreamingPackSpec pins 3-cut parity vs
    * `TextOps.packAppend`).
    *
    * Restart contract (r12 ADVICE): WITH a `checkpoint`, the resume frame is
    * durably versioned per batch under `<checkpoint>/graft-pack-bases/` —
    * batch `id` always computes from the state batch `id-1` committed (seed
    * from `standing` only when no prior state exists), so a restarted query
    * continues after the deltas already emitted, and a REPLAYED batch id
    * recomputes the identical delta instead of double-advancing (the sink
    * keeps the usual foreachBatch idempotence contract: dedupe by batch id).
    * The 16-row state file is written AFTER the sink call, temp+rename, via
    * the checkpoint's own Hadoop FileSystem (object-store-safe). Without a
    * checkpoint the frame lives on the driver and the stream is
    * session-only — not restart-safe, by construction.
    */
  def packStream(newCounts: DataFrame, standing: DataFrame,
      packSize: Int, shards: Int, checkpoint: Option[String] = None)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val packs = new PackResume(standing, packSize, shards, checkpoint)
    val w = newCounts.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        packs.append(id, batch.select("doc_id", "n_tokens"))(sink(_, id))
      }
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.start()
  }

  /** The per-shard pack resume positions a pack-appending stream carries
    * across micro-batches ([[packStream]], [[graft.api.Curation.stream]]):
    * seeded from the `standing` layout, advanced by each batch's delta. With
    * a `checkpoint` the positions are versioned per batch under
    * `<checkpoint>/graft-pack-bases/` through the checkpoint's own Hadoop
    * FileSystem (batch `id` starts from the state `id-1` committed, so a
    * replayed batch recomputes the same delta); without one they live on
    * the driver for the session only.
    */
  private[graft] final class PackResume(standing: DataFrame, packSize: Int, shards: Int,
      checkpoint: Option[String]) {
    import graft.operators.TextOps
    private val spark = standing.sparkSession
    private val state = checkpoint.map { c =>
      val dir = new org.apache.hadoop.fs.Path(c, "graft-pack-bases")
      (dir.getFileSystem(spark.sessionState.newHadoopConf()), dir)
    }
    private def seed(): Map[Int, Long] =
      TextOps.packResume(standing, packSize).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // driver-held positions (the session-only mode's only state; in
    // checkpointed mode just a warm start of the per-batch file read)
    private val bases = scala.collection.mutable.Map[Int, Long]() ++ seed()

    /** Append `counts` (doc_id, n_tokens) of batch `id` to the layout, hand
      * the delta to `sink`, then commit the advanced positions. */
    def append(id: Long, counts: DataFrame)(sink: DataFrame => Unit): Unit = {
      import spark.implicits._
      val input = state match {
        case Some((fs, dir)) => priorBases(fs, dir, id).getOrElse(seed())
        case None => bases.toMap
      }
      val delta = TextOps
        .packAppendFrom(spark, input.toSeq.toDF("shard", "base"), counts, packSize, shards)
        .localCheckpoint() // one deterministic materialization: the sink
                           // and the base advance must see the same rows
      val advanced = delta.groupBy("shard")
        .agg(max(col("pack_id").cast("long") * packSize + col("pack_offset")
          + col("n_tokens")).as("end"))
        .collect().map(r => r.getInt(0) -> r.getLong(1))
      sink(delta)
      state match {
        case Some((fs, dir)) => writeBases(fs, dir, id, input ++ advanced)
        case None => advanced.foreach { case (sh, b) => bases(sh) = b }
      }
    }
  }

  private val BasesName = "bases-([0-9]+)".r

  /** The latest resume state committed STRICTLY BEFORE batch `id` under
    * `dir` (None if no prior state exists): a replayed id re-reads its
    * predecessor, never its own output — the idempotence half of the
    * restart contract.
    */
  private def priorBases(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, id: Long): Option[Map[Int, Long]] = {
    val prior =
      if (fs.exists(dir))
        fs.listStatus(dir).iterator.map(_.getPath.getName)
          .collect { case BasesName(n) => n.toLong }.filter(_ < id)
          .maxOption
      else None
    prior.map(p => readBases(fs, new org.apache.hadoop.fs.Path(dir, s"bases-$p")))
  }

  private def readBases(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Map[Int, Long] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty)
      .map { l => val a = l.split(','); a(0).toInt -> a(1).toLong }.toMap
    finally in.close()
  }

  /** Commit the post-batch resume state for `id` (temp+rename; overwrite-
    * safe, so a replayed batch re-commits identical content). */
  private def writeBases(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, id: Long, m: Map[Int, Long]): Unit = {
    fs.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir, s".bases-$id.tmp")
    val out = fs.create(tmp, true)
    try out.write(m.toSeq.sortBy(_._1)
      .map { case (s, b) => s"$s,$b" }.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val dst = new org.apache.hadoop.fs.Path(dir, s"bases-$id")
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"could not commit pack resume state $dst")
  }

  /** Run any batch-or-stream transform over a parquet directory as a stream
    * into an in-memory table; returns the collected result (test/demo
    * harness for stream/batch parity).
    */
  def runFileStream(spark: SparkSession, dir: String,
      transform: DataFrame => DataFrame, queryName: String,
      mode: OutputMode = OutputMode.Complete): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = transform(stream).writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(queryName)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(queryName)
  }
}
