package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.Tables

/** Analytic surface beyond the reference (engine-extension queries): rollup
  * grouping sets, window frames (running totals, lag deltas), and exact
  * interpolated percentiles — each cross-checked against DuckDB.
  */
object AnalyticOps {

  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  // u6 — ROLLUP over (returnflag, linestatus): subtotal + grand-total rows.
  private def u6Rollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitemSpread(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("price_sum"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private val u6Sql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // o5 — window frames: per-customer running order total + gap to the
  // previous order (lag) in days.
  private def o5WindowFrames(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("running_total",
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)).cast(DoubleType))
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .withColumn("gap_days",
        datediff(col("o_orderdate"), col("prev_date")).cast(IntegerType))
      .select("o_custkey", "o_orderkey", "o_orderdate", "running_total", "gap_days")
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  private val o5Sql =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_total,
      |  CAST(date_diff('day', lag(o_orderdate, 1) OVER w, o_orderdate) AS INTEGER) AS gap_days
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  // a7 — exact interpolated percentiles per group (quantity is
  // integer-valued, so the linear interpolation is exact in both engines).
  private def a7Percentiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("qty_p50"),
        expr("percentile(l_quantity, 0.9)").as("qty_p90"),
        expr("percentile(l_quantity, 0.99)").as("qty_p99"))
      .orderBy("l_returnflag")

  private val a7Sql =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.5) AS qty_p50,
      |  quantile_cont(l_quantity, 0.9) AS qty_p90,
      |  quantile_cont(l_quantity, 0.99) AS qty_p99
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // a8 — salted two-phase aggregation: the skew-mitigation pattern as an
  // operator. l_returnflag has 3 values (extreme skew at scale: a plain
  // groupBy funnels a third of 100 TB through one reducer); salting spreads
  // phase 1 over key x 16 salt buckets (map-side partials land evenly),
  // phase 2 reduces 3 x 16 tiny rows. DECIMAL partials keep the result
  // bit-equal to the unsalted plan, so the oracle is the plain GROUP BY.
  private def a8SaltedAgg(s: SparkSession, d: String): DataFrame = {
    val salted = Tables.lineitem(s, d)
      .withColumn("salt", pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(16)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("part_price"),
        sum(col("l_quantity")).as("part_qty"),
        count(lit(1)).as("part_n"))
    salted
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("part_price")).cast(DoubleType).as("price_sum"),
        sum(col("part_qty")).as("qty_sum"),
        sum(col("part_n")).as("n"))
      .orderBy("l_returnflag")
  }

  private val a8Sql =
    """SELECT l_returnflag,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
      |  sum(l_quantity) AS qty_sum,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------------
  // j8 — salted skew join: lineitem's returnflag is a 3-value key (massively
  // skewed if joined directly — one reducer per flag). The big side salts
  // pmod(hash(orderkey, linenumber), 16); the 3-row dim EXPLODES x16 so
  // every (flag, salt) bucket finds its match. The join key becomes
  // (flag, salt) — 48 evenly-sized buckets instead of 3 whales. Output is
  // identical to the unsalted join, so the oracle is the plain SQL join.
  // (AQE's skew-join split is the runtime twin; this is the declared-plan
  // version for engines/cases AQE can't rebalance, e.g. a custom
  // aggregation downstream of the join.)
  private def j8SaltedJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val flagDim = Seq(("R", "returned"), ("A", "ack"), ("N", "none"))
      .toDF("flag", "flag_desc")
    val Salts = 16
    val dimSalted = flagDim
      .withColumn("salt", explode(expr(s"sequence(0, ${Salts - 1})")))
    val factSalted = Tables.lineitem(s, d)
      .withColumn("salt", pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(Salts)))
    factSalted
      .join(broadcast(dimSalted),
        col("l_returnflag") === col("flag") && factSalted("salt") === dimSalted("salt"))
      .groupBy(col("flag_desc"))
      .agg(
        sum(col("l_quantity")).as("qty_sum"),
        count(lit(1)).as("n"))
      .orderBy("flag_desc")
  }

  private val j8Sql =
    """SELECT flag_desc, sum(l_quantity) AS qty_sum, count(*) AS n
      |FROM lineitem
      |JOIN (VALUES ('R', 'returned'), ('A', 'ack'), ('N', 'none')) AS dim(flag, flag_desc)
      |  ON l_returnflag = flag
      |GROUP BY flag_desc ORDER BY flag_desc""".stripMargin

  // ---------------------------------------------------------------------------
  // a9 — KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et al.
  // 2002): keep the k smallest of the distinct 60-bit hashes of the key;
  // estimate = (k-1) / u_k where u_k is the k-th minimum normalized to
  // [0, 1). The plan is the scale story: the inner DISTINCT is map-side
  // partial (each partition emits its own distinct hashes), and orderBy +
  // limit compiles to TakeOrderedAndProject — every partition keeps only
  // its k smallest, the driver merges k-sized heaps, and NOTHING resembling
  // the full key set ever moves. Like t7's Count-Min (and unlike HLL whose
  // register layout is engine-private), the portable md5-backed hash makes
  // the sketch — and therefore the estimate — DuckDB-oracle-checkable.
  private val KmvK = 256

  private def a9KmvDistinct(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val hashes = li
      .select(TextOps.hash60F(s, col("l_orderkey").cast(StringType)).as("h")).distinct()
    val kmin = hashes.orderBy("h").limit(KmvK)
    // (k-1) * 2^60 is exact in IEEE double (8-bit mantissa), so the whole
    // estimate is one exactly-reproducible division in both engines
    val scaleNum = lit((KmvK - 1).toDouble) * lit(math.pow(2, 60))
    kmin.agg(count(lit(1)).as("k"), max(col("h")).as("hk"))
      .crossJoin(li.agg(countDistinct(col("l_orderkey")).as("true_n")))
      // unfull sketch => it holds EVERY distinct hash, so the observed k IS
      // the (exact) answer; the (k-1)/u_k estimator only applies at k = K
      .withColumn("est",
        when(col("k") < KmvK, col("k").cast(DoubleType))
          .otherwise(scaleNum / col("hk").cast(DoubleType)))
      .select(col("k"), col("hk"), col("true_n"),
        round(col("est"), 2).as("est_n"),
        round((col("est") - col("true_n")) / col("true_n") * 100, 2).as("err_pct"))
  }

  private val a9Sql =
    s"""WITH hashes AS (
       |  SELECT DISTINCT CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)),1,15)) AS BIGINT) AS h
       |  FROM lineitem
       |), kmin AS (
       |  SELECT h FROM hashes ORDER BY h LIMIT $KmvK
       |), agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS k, max(h) AS hk FROM kmin
       |), exact AS (
       |  SELECT count(DISTINCT l_orderkey) AS true_n FROM lineitem
       |)
       |SELECT k, hk, true_n,
       |  round(CASE WHEN k < $KmvK THEN CAST(k AS DOUBLE)
       |        ELSE ${KmvK - 1}.0 * power(2.0, 60) / CAST(hk AS DOUBLE) END, 2) AS est_n,
       |  round((CASE WHEN k < $KmvK THEN CAST(k AS DOUBLE)
       |         ELSE ${KmvK - 1}.0 * power(2.0, 60) / CAST(hk AS DOUBLE) END - true_n) / true_n * 100, 2) AS err_pct
       |FROM agg, exact""".stripMargin

  // ---------------------------------------------------------------------------
  // a10 — per-group KMV distinct sketches: the same k-minimum-values
  // construction as a9 but keyed (distinct orderkeys per returnflag).
  // Per-key sketches are what a 100 TB pipeline actually maintains
  // (distincts per domain / language / source): each group's k-minima are
  // mergeable cell-wise, the DISTINCT is map-side partial, and the window
  // rank runs on already-deduped (flag, hash) rows. The estimator applies
  // the same full/unfull split as a9 per group.
  private def a10GroupedKmv(s: SparkSession, d: String): DataFrame = {
    graft.Graft.setup(s)
    // ONE dedup shuffle on the raw key, then ONE grouped aggregation that
    // carries both the KMV heap (graft_kmin: O(k) state, map-side partial)
    // and the exact count — the window-rank formulation sorted every
    // distinct hash inside 3 fat flag-partitions and re-scanned lineitem
    // for the exact counts.
    val dd = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"), col("l_orderkey").as("okey"))
      .distinct()
    val agg = dd
      .select(col("flag"), TextOps.hash60F(s, col("okey").cast(StringType)).as("h"))
      .groupBy("flag")
      .agg(expr(s"graft_kmin(h, $KmvK)").as("hs"), count(lit(1)).as("true_n"))
    val scaleNum = lit((KmvK - 1).toDouble) * lit(math.pow(2, 60))
    agg
      .withColumn("k", size(col("hs")).cast(LongType))
      .withColumn("est",
        when(col("k") < KmvK, col("k").cast(DoubleType))
          .otherwise(scaleNum / element_at(col("hs"), size(col("hs"))).cast(DoubleType)))
      .select(col("flag"), col("k"), col("true_n"),
        round(col("est"), 2).as("est_n"),
        round((col("est") - col("true_n")) / col("true_n") * 100, 2).as("err_pct"))
      .orderBy("flag")
  }

  private val a10Sql =
    s"""WITH hashes AS (
       |  SELECT DISTINCT l_returnflag AS flag,
       |    CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)),1,15)) AS BIGINT) AS h
       |  FROM lineitem
       |), kmin AS (
       |  SELECT flag, h FROM (
       |    SELECT flag, h, row_number() OVER (PARTITION BY flag ORDER BY h) AS rn FROM hashes)
       |  WHERE rn <= $KmvK
       |), agg AS (
       |  SELECT flag, CAST(count(*) AS BIGINT) AS k, max(h) AS hk FROM kmin GROUP BY flag
       |), exact AS (
       |  SELECT l_returnflag AS flag, count(DISTINCT l_orderkey) AS true_n
       |  FROM lineitem GROUP BY flag
       |)
       |SELECT flag, k, true_n,
       |  round(CASE WHEN k < $KmvK THEN CAST(k AS DOUBLE)
       |        ELSE ${KmvK - 1}.0 * power(2.0, 60) / CAST(hk AS DOUBLE) END, 2) AS est_n,
       |  round((CASE WHEN k < $KmvK THEN CAST(k AS DOUBLE)
       |         ELSE ${KmvK - 1}.0 * power(2.0, 60) / CAST(hk AS DOUBLE) END - true_n) / true_n * 100, 2) AS err_pct
       |FROM agg JOIN exact USING (flag)
       |ORDER BY flag""".stripMargin

  // ---------------------------------------------------------------------------
  // u7 — explicit GROUPING SETS (the general form u6's ROLLUP special-cases):
  // ((flag, status), (status), ()) — note (status) alone is NOT in the rollup
  // chain of (flag, status), so this exercises the grouping-set lattice
  // beyond what rollup/cube reach. gid = grouping(flag)*2 + grouping(status)
  // disambiguates subtotal rows from genuine NULL keys. Same scale shape as
  // any grouped agg: map-side partials per set, one shuffle.
  private def u7GroupingSets(s: SparkSession, d: String): DataFrame =
    Tables.lineitemSpread(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .cast(IntegerType).as("gid"),
        count(lit(1)).as("n"),
        sum(col("l_quantity")).as("qty_sum"),
        dsum(col("l_extendedprice")).as("price_sum"))
      .select("gid", "l_returnflag", "l_linestatus", "n", "qty_sum", "price_sum")
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  private val u7Sql =
    """SELECT CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INTEGER) AS gid,
      |  l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty_sum,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
      |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------------
  // o6 — ranking-function battery per priority class: rank, dense_rank,
  // ntile(4) quartiles, percent_rank and cume_dist over o_totalprice with a
  // deterministic orderkey tie-break. The relative ranks are emitted as
  // EXACT integer ppm ((rank-1)*1e6 div (n-1), rank*1e6 div n — the
  // orderkey tie-break leaves no peers, so these ARE percent_rank/cume_dist
  // at ppm precision): the earlier round(double, 6) form hit the
  // half-at-the-6th-digit boundary ~90 times among sf10's 15M rows, where
  // Spark rounds the shortest decimal string (BigDecimal.valueOf) and
  // DuckDB rounds the binary value — integer div has no such boundary at
  // ANY scale. One shuffle on the partition key; the partition-count
  // window rides the same exchange/sort.
  private def o6RankBattery(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val wp = Window.partitionBy(col("o_orderpriority"))
    Tables.orders(s, d)
      .select(col("o_orderpriority"), col("o_orderkey"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        count(lit(1)).over(wp).as("n"))
      .select(col("o_orderpriority"), col("o_orderkey"), col("rnk"), col("drnk"),
        col("quartile"),
        expr("CAST(rnk - 1 AS BIGINT) * 1000000 div (n - 1)").as("pct_rank_ppm"),
        expr("CAST(rnk AS BIGINT) * 1000000 div n").as("cume_dist_ppm"))
      .orderBy("o_orderpriority", "rnk")
  }

  private val o6Sql =
    """SELECT o_orderpriority, o_orderkey, rnk, drnk, quartile,
      |  (rnk - 1) * 1000000 // (n - 1) AS pct_rank_ppm,
      |  rnk * 1000000 // n AS cume_dist_ppm
      |FROM (SELECT o_orderpriority, o_orderkey,
      |        rank() OVER w AS rnk,
      |        dense_rank() OVER w AS drnk,
      |        ntile(4) OVER w AS quartile,
      |        count(*) OVER (PARTITION BY o_orderpriority) AS n
      |      FROM orders
      |      WINDOW w AS (PARTITION BY o_orderpriority
      |                   ORDER BY o_totalprice DESC, o_orderkey))
      |ORDER BY o_orderpriority, rnk""".stripMargin

  // ---------------------------------------------------------------------------
  // o8 — offset/navigation window battery: lag/lead (with defaults),
  // first/last/nth over an explicit ROWS frame, and the per-event delta —
  // the change-detection shape behind sessionized feature engineering.
  // All navigation picks are row-local over one (user_id, event_id)-sorted
  // partition: values are copied, never aggregated, so doubles are
  // engine-exact by construction. One shuffle on the partition key.
  private def o8LeadLag(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value"),
        lag(col("value"), 1, -1.0).over(w).as("prev_value"),
        lead(col("value"), 1, -1.0).over(w).as("next_value"),
        first(col("value")).over(wf).as("first_value"),
        floor((col("value") - lag(col("value"), 1, 0.0).over(w)) * 1000000).cast(LongType).as("delta_fp"))
      .orderBy("user_id", "event_id")
  }

  private val o8Sql =
    """SELECT user_id, event_id, value,
      |  lag(value, 1, -1.0) OVER w AS prev_value,
      |  lead(value, 1, -1.0) OVER w AS next_value,
      |  first_value(value) OVER (PARTITION BY user_id ORDER BY event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_value,
      |  CAST(floor((value - lag(value, 1, 0.0) OVER w) * 1000000) AS BIGINT) AS delta_fp
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
      |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------------------
  // a11 — z-score outlier gate per event_type: two-pass (stats, then flag) —
  // the anomaly-detection shape a quality pipeline runs over metric streams.
  // Moments route through DECIMAL (values are 2-decimal, squares cast at
  // scale 8), variance/σ are then a FIXED sequence of IEEE double ops on
  // those exact sums, so both engines produce bit-identical thresholds.
  // Stats are 5 rows — they broadcast back onto the scan; the whole query is
  // two passes over the fact with map-side partials, no wide shuffle.
  private def a11ZscoreOutliers(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val stats = ev.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("vsum"),
        sum((col("value") * col("value")).cast(DecimalType(28, 8)))
          .cast(DoubleType).as("vsumsq"))
      .withColumn("mean", col("vsum") / col("n"))
      .withColumn("variance",
        (col("vsumsq") / col("n") - col("mean") * col("mean"))
          * col("n") / (col("n") - 1))
      .withColumn("std", sqrt(col("variance")))
    ev.join(broadcast(stats), "event_type")
      .withColumn("z", (col("value") - col("mean")) / col("std"))
      .groupBy("event_type")
      .agg(
        max(col("n")).as("n"),
        floor(max(col("mean")) * 1000000).cast(LongType).as("mean_fp"),
        floor(max(col("std")) * 1000000).cast(LongType).as("std_fp"),
        count(when(col("z") > 2, 1)).as("n_hi"),
        count(when(col("z") < -2, 1)).as("n_lo"))
      .orderBy("event_type")
  }

  private val a11Sql =
    """WITH stats AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vsum,
      |    CAST(sum(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE) AS vsumsq
      |  FROM events GROUP BY event_type
      |), derived AS (
      |  SELECT event_type, n, vsum / n AS mean,
      |    sqrt((vsumsq / n - (vsum / n) * (vsum / n)) * n / (n - 1)) AS std
      |  FROM stats
      |)
      |SELECT e.event_type, max(d.n) AS n,
      |  CAST(floor(max(d.mean) * 1000000) AS BIGINT) AS mean_fp,
      |  CAST(floor(max(d.std) * 1000000) AS BIGINT) AS std_fp,
      |  count(*) FILTER (WHERE (e.value - d.mean) / d.std > 2) AS n_hi,
      |  count(*) FILTER (WHERE (e.value - d.mean) / d.std < -2) AS n_lo
      |FROM events e JOIN derived d USING (event_type)
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  // ---------------------------------------------------------------------------
  // a12 — HyperLogLog distinct sketch per group (Flajolet et al. 2007),
  // completing the sketch triad (t7 Count-Min frequencies, a9/a10 KMV
  // distincts, a12 HLL distincts). m = 256 registers; the 60-bit portable
  // hash splits into bucket = h % m and a 52-bit register field w = h div m;
  // rho(w) = leading-zero count + 1 = 53 - bitlength(w) (53 for w = 0).
  // The per-(group, bucket) max-rho registers ARE the mergeable sketch — a
  // 256-int state per group, map-side combinable, constant size no matter
  // how many keys stream through (THE production distinct counter at
  // 100 TB). The harmonic-mean estimate stays engine-exact by summing the
  // register terms as INTEGERS: sum(2^(53-rho)) <= 256*2^53 fits a BIGINT
  // exactly, and the raw estimate alpha_m * m^2 * 2^53 / S is then one
  // deterministic double expression (no small-range linear-counting branch:
  // ln() is not guaranteed identically rounded across engines — raw
  // estimator bias at low cardinality is visible in err_pct instead, next
  // to the exact count).
  private val HllP = 8 // 2^8 = 256 registers
  private val HllM = 1 << HllP

  private def a12HllDistinct(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val regs = li.select(col("l_returnflag").as("flag"),
        TextOps.hash60F(s, col("l_orderkey").cast(StringType)).as("h"))
      .withColumn("bucket", (col("h") % HllM).cast(IntegerType))
      .withColumn("w", expr(s"h div $HllM"))
      .withColumn("rho",
        when(col("w") === 0, lit(53)).otherwise(lit(53) - length(bin(col("w")))))
      .groupBy("flag", "bucket")
      .agg(max(col("rho")).as("maxrho"))
    val exact = li.groupBy(col("l_returnflag").as("flag"))
      .agg(countDistinct(col("l_orderkey")).as("true_n"))
    // complete the m-register lattice: empty registers carry rho = 0.
    // r14: the flag spine comes off the `exact` aggregate (3 rows) instead
    // of a third lineitem scan+distinct — identical flag set (both are the
    // table's distinct l_returnflag values), one full-table pass saved.
    val spine = exact.select("flag")
      .select(col("flag"), explode(expr(s"sequence(0, ${HllM - 1})")).as("bucket"))
    val sums = spine.join(regs, Seq("flag", "bucket"), "left")
      .withColumn("term", expr("shiftleft(CAST(1 AS BIGINT), 53 - coalesce(maxrho, 0))"))
      .groupBy("flag")
      .agg(sum(col("term")).as("s"),
        count(col("maxrho")).as("buckets_used"))
    // e0-suffixed literals parse as DOUBLE in BOTH engines (a bare 0.7213 is
    // a DECIMAL literal in each, and their decimal-division scale rules
    // differ — double arithmetic is the one that's bit-identical)
    sums.join(exact, "flag")
      .withColumn("est", expr(
        s"0.7213e0 / (1.0e0 + 1.079e0 / ${HllM}e0) * ${HllM}e0 * ${HllM}e0 * 9007199254740992e0 / CAST(s AS DOUBLE)"))
      .select(col("flag"), col("buckets_used"), col("true_n"),
        round(col("est"), 2).as("est_n"),
        round((col("est") - col("true_n")) / col("true_n") * 100, 2).as("err_pct"))
      .orderBy("flag")
  }

  private val a12Sql =
    s"""WITH regs AS (
       |  SELECT flag, h % $HllM AS bucket,
       |    max(CASE WHEN h // $HllM = 0 THEN 53
       |        ELSE 53 - length(bin(h // $HllM)) END) AS maxrho
       |  FROM (SELECT l_returnflag AS flag,
       |          CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)),1,15)) AS BIGINT) AS h
       |        FROM lineitem)
       |  GROUP BY flag, bucket
       |), spine AS (
       |  SELECT flag, r.range AS bucket
       |  FROM (SELECT DISTINCT l_returnflag AS flag FROM lineitem), range($HllM) r
       |), sums AS (
       |  SELECT flag,
       |    sum((CAST(1 AS BIGINT) << (53 - coalesce(maxrho, 0))))::BIGINT AS s,
       |    count(maxrho) AS buckets_used
       |  FROM spine LEFT JOIN regs USING (flag, bucket)
       |  GROUP BY flag
       |), exact AS (
       |  SELECT l_returnflag AS flag, count(DISTINCT l_orderkey) AS true_n
       |  FROM lineitem GROUP BY flag
       |), est AS (
       |  SELECT flag, buckets_used, true_n,
       |    0.7213e0 / (1.0e0 + 1.079e0 / ${HllM}e0) * ${HllM}e0 * ${HllM}e0 * 9007199254740992e0 / CAST(s AS DOUBLE) AS est
       |  FROM sums JOIN exact USING (flag)
       |)
       |SELECT flag, buckets_used, true_n, round(est, 2) AS est_n,
       |  round((est - true_n) / true_n * 100, 2) AS err_pct
       |FROM est ORDER BY flag""".stripMargin

  // ---------------------------------------------------------------------------
  // j10 — Bloom-filter join pruning: the build side (urgent orders' keys)
  // compresses to a k=3-position bit membership structure that BROADCASTS to
  // the fact scan; rows whose 3 probe positions all hit are candidates, and
  // only candidates reach the exact join. At 100 TB this is how a big-probe /
  // selective-build join avoids shuffling the fact: the filter is a few KB
  // regardless of fact size and false positives are re-checked exactly —
  // never wrong, only occasionally wasteful (fp_pct makes the trade visible).
  // Spark's runtime bloom rewrite (spark.sql.optimizer.runtime.bloomFilter.*)
  // is the automatic twin; this is the declared-plan version with a portable
  // hash so the structure itself is oracle-checkable.
  private val BloomBits = 1 << 16
  private val BloomK = 3

  // 63-bit words: DuckDB traps the 1 << 63 overflow that a full 64-bit
  // word layout needs for bit 63, and 62 is the max shift either engine
  // must produce — the array grows by 2% and both engines agree everywhere
  private val BloomWordBits = 63
  private val BloomWords = (BloomBits + BloomWordBits - 1) / BloomWordBits

  private def j10BloomPrune(s: SparkSession, d: String): DataFrame = {
    graft.Graft.setup(s)
    val urgent = Tables.orders(s, d)
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("key")).distinct()
    // a REAL bitset: positions OR into 63-bit words (bit_or is idempotent,
    // so no distinct pass), assembled into a dense BloomWords-long array —
    // the broadcast structure is 8 KB regardless of build-side size, and
    // each probe is one O(1) element_at + bit test (a sorted-array
    // `array_contains` is a linear scan per probe — quadratic in disguise).
    // The k positions derive from ONE md5 per key via double hashing
    // (Kirsch & Mitzenmacher 2006: pos_i = h1 + i*h2, asymptotically the
    // same false-positive rate as k independent hashes) — md5 is the probe
    // path's dominant cost, so k=3 independent hashes would triple it.
    val positions = urgent
      .select(expr("graft_hash60(CAST(key AS STRING))").as("h"))
      .select(expr(s"h % $BloomBits").as("h1"),
        expr(s"((h div $BloomBits) % $BloomBits) * 2 + 1").as("h2"))
      .select(explode(expr(
        s"transform(sequence(0, ${BloomK - 1}), i -> (h1 + i * h2) % $BloomBits)")).as("pos"))
    val words = positions
      .groupBy(expr("CAST(pos div 63 AS INT)").as("w"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT)))").as("mask"))
    val bits = words
      .agg(expr("map_from_entries(collect_list(struct(w, mask)))").as("m"))
      .select(expr(s"transform(sequence(0, ${BloomWords - 1}), " +
        "i -> coalesce(element_at(m, i), CAST(0 AS BIGINT)))").as("bits"))
    val withPos = (0 until BloomK).foldLeft(
        Tables.lineitem(s, d).select(col("l_orderkey")).crossJoin(broadcast(bits))
          .withColumn("h", expr("graft_hash60(CAST(l_orderkey AS STRING))"))
          .withColumn("h1", expr(s"h % $BloomBits"))
          .withColumn("h2", expr(s"((h div $BloomBits) % $BloomBits) * 2 + 1"))) {
      (df, i) => df.withColumn(s"pos$i", expr(s"(h1 + $i * h2) % $BloomBits"))
    }
    val probed = withPos
      .withColumn("cand", (0 until BloomK).map(i =>
          expr(s"(shiftright(element_at(bits, CAST(pos$i div 63 AS INT) + 1), " +
            s"CAST(pos$i % 63 AS INT)) & 1) = 1"))
        .reduce(_ && _))
      .join(broadcast(urgent.withColumn("hit", lit(1))),
        col("l_orderkey") === col("key"), "left")
    probed.agg(
        count(lit(1)).as("n_rows"),
        count(when(col("cand"), 1)).as("n_cand"),
        count(when(col("hit") === 1, 1)).as("n_true"),
        count(when(col("cand") && col("hit").isNull, 1)).as("n_false_pos"))
      .withColumn("fp_pct",
        round(col("n_false_pos") / (col("n_rows") - col("n_true")).cast(DoubleType) * 100, 4))
  }

  private val j10Sql =
    s"""WITH urgent AS (
       |  SELECT DISTINCT o_orderkey AS key FROM orders WHERE o_orderpriority = '1-URGENT'
       |), positions AS (
       |  SELECT (h1 + i.range * h2) % $BloomBits AS pos
       |  FROM (SELECT h % $BloomBits AS h1, ((h // $BloomBits) % $BloomBits) * 2 + 1 AS h2
       |        FROM (SELECT CAST(('0x' || substr(md5(CAST(key AS VARCHAR)),1,15)) AS BIGINT) AS h
       |              FROM urgent)), range($BloomK) i
       |), words AS (
       |  SELECT CAST(pos // 63 AS INT) AS w,
       |    bit_or((CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)))::BIGINT AS mask
       |  FROM positions GROUP BY 1
       |), bits AS (
       |  SELECT list(coalesce(mask, 0) ORDER BY r.range) AS bits
       |  FROM range($BloomWords) r LEFT JOIN words ON words.w = r.range
       |), probe_pos AS (
       |  SELECT l_orderkey,
       |    ${(0 until BloomK).map(i => s"(h1 + $i * h2) % $BloomBits AS pos$i")
             .mkString(",\n       |    ")}
       |  FROM (SELECT l_orderkey, h % $BloomBits AS h1,
       |          ((h // $BloomBits) % $BloomBits) * 2 + 1 AS h2
       |        FROM (SELECT l_orderkey,
       |                CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)),1,15)) AS BIGINT) AS h
       |              FROM lineitem))
       |), probed AS (
       |  SELECT p.l_orderkey,
       |    ${(0 until BloomK).map(i =>
             s"((b.bits[CAST(pos$i // 63 AS INT) + 1] >> CAST(pos$i % 63 AS INT)) & 1) = 1")
             .mkString(" AND ")} AS cand,
       |    u.key IS NOT NULL AS hit
       |  FROM probe_pos p CROSS JOIN bits b
       |  LEFT JOIN urgent u ON p.l_orderkey = u.key
       |)
       |SELECT count(*) AS n_rows,
       |  count(*) FILTER (WHERE cand) AS n_cand,
       |  count(*) FILTER (WHERE hit) AS n_true,
       |  count(*) FILTER (WHERE cand AND NOT hit) AS n_false_pos,
       |  round(count(*) FILTER (WHERE cand AND NOT hit)
       |    / CAST(count(*) - count(*) FILTER (WHERE hit) AS DOUBLE) * 100, 4) AS fp_pct
       |FROM probed""".stripMargin

  // ---------------------------------------------------------------------------
  // o7 — event-TIME range frame (the rolling-window primitive o5's ROWS
  // frame can't express): per user, the sum/count of events in the trailing
  // hour of EVENT TIME — frame membership depends on timestamp distance, not
  // row position, so bursts widen the frame and quiet periods shrink it.
  // Ordering key is integer epoch MICROS (epoch_us/unix_micros agree
  // exactly; a float seconds key would make frame-boundary comparisons
  // engine-dependent). Tie rows are RANGE-frame peers in both engines, so
  // intra-tie order cannot matter. One shuffle on user_id; the frame scan
  // is the standard two-pointer pass per partition.
  private def o7RangeFrames(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ep"))
      .rangeBetween(-3600000000L, 0L)
    Tables.events(s, d)
      .withColumn("ep", unix_micros(col("ts")))
      .withColumn("roll_sum",
        sum(col("value").cast(DecimalType(18, 2))).over(w).cast(DoubleType))
      .withColumn("roll_n", count(lit(1)).over(w))
      .select(col("user_id"), col("event_id"), col("ts"), col("roll_sum"), col("roll_n"))
      .orderBy("user_id", "ts", "event_id")
  }

  private val o7Sql =
    """SELECT user_id, event_id, ts,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS roll_sum,
      |  count(*) OVER w AS roll_n
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, ts, event_id""".stripMargin

  // ---------------------------------------------------------------------------
  // a13 — quantiles from a deterministic hash-sample, next to the exact
  // answer: mergeable quantile sketches (GK, t-digest, KLL) have
  // engine-private layouts no oracle can check, so the PORTABLE scale path
  // for "p90 of 100 TB" is a fixed-rate hash sample (reproducible on any
  // cluster size, no RNG) + exact quantiles over the sample. The query
  // reports sampled vs exact per event_type with the absolute error —
  // the accuracy/cost trade made visible and hash-checked. At scale the
  // sample predicate runs inside the scan and only the sample shuffles.
  private val QSampleRate = 4 // keep 1-in-4

  private def a13SampledQuantiles(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val sampled = ev.where(
        pmod(TextOps.hash60F(s, concat(lit("q:"), col("event_id").cast(StringType))), lit(QSampleRate)) === 0)
      .groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("s_p50"),
        expr("percentile(value, 0.9)").as("s_p90"),
        count(lit(1)).as("n_sample"))
    val exact = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("e_p50"),
        expr("percentile(value, 0.9)").as("e_p90"),
        count(lit(1)).as("n_full"))
    exact.join(sampled, "event_type")
      .select(col("event_type"), col("n_full"), col("n_sample"),
        floor(col("e_p50") * 1000000).cast(LongType).as("e_p50_fp"),
        floor(col("s_p50") * 1000000).cast(LongType).as("s_p50_fp"),
        floor(abs(col("s_p50") - col("e_p50")) * 1000000).cast(LongType).as("p50_err_fp"),
        floor(col("e_p90") * 1000000).cast(LongType).as("e_p90_fp"),
        floor(col("s_p90") * 1000000).cast(LongType).as("s_p90_fp"),
        floor(abs(col("s_p90") - col("e_p90")) * 1000000).cast(LongType).as("p90_err_fp"))
      .orderBy("event_type")
  }

  private val a13Sql =
    s"""WITH sampled AS (
       |  SELECT event_type, quantile_cont(value, 0.5) AS s_p50,
       |    quantile_cont(value, 0.9) AS s_p90, count(*) AS n_sample
       |  FROM events
       |  WHERE CAST(('0x' || substr(md5('q:' || CAST(event_id AS VARCHAR)),1,15)) AS BIGINT) % $QSampleRate = 0
       |  GROUP BY event_type
       |), exact AS (
       |  SELECT event_type, quantile_cont(value, 0.5) AS e_p50,
       |    quantile_cont(value, 0.9) AS e_p90, count(*) AS n_full
       |  FROM events GROUP BY event_type
       |)
       |SELECT event_type, n_full, n_sample,
       |  CAST(floor(e_p50 * 1000000) AS BIGINT) AS e_p50_fp,
       |  CAST(floor(s_p50 * 1000000) AS BIGINT) AS s_p50_fp,
       |  CAST(floor(abs(s_p50 - e_p50) * 1000000) AS BIGINT) AS p50_err_fp,
       |  CAST(floor(e_p90 * 1000000) AS BIGINT) AS e_p90_fp,
       |  CAST(floor(s_p90 * 1000000) AS BIGINT) AS s_p90_fp,
       |  CAST(floor(abs(s_p90 - e_p90) * 1000000) AS BIGINT) AS p90_err_fp
       |FROM exact JOIN sampled USING (event_type)
       |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------------
  // a14 — HLL MERGEABILITY proven in-plan: the property that makes HLL the
  // production distinct counter is that shard sketches combine losslessly
  // (register-wise max). The query builds per-shard sketches (shard =
  // l_orderkey % 4 — think per-day or per-datacenter sketches at 100 TB),
  // merges them via max per register, builds the direct global sketch, and
  // emits both estimates plus their equality bit — max-of-max = global max,
  // so merged_equals_direct is the oracle-checked invariant. Only
  // register-sized state (shards x 256 ints) ever moves.
  private def a14HllMerge(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    // cached: the shard-sketch and direct-sketch branches share ONE hashing
    // pass instead of scanning + md5-ing the fact twice
    val hashed = li.select(col("l_orderkey"),
        TextOps.hash60F(s, col("l_orderkey").cast(StringType)).as("h"))
      .withColumn("shard", (col("l_orderkey") % 4).cast(IntegerType))
      .withColumn("bucket", (col("h") % HllM).cast(IntegerType))
      .withColumn("w", expr(s"h div $HllM"))
      .withColumn("rho",
        when(col("w") === 0, lit(53)).otherwise(lit(53) - length(bin(col("w")))))
      // cache only what the register aggregations read (guide §2.3: narrower
      // cached rows — l_orderkey/h/w are derivation-only); both sketch
      // branches still share the one md5 pass
      .select("shard", "bucket", "rho")
      .cache()
    val shardRegs = hashed.groupBy("shard", "bucket").agg(max(col("rho")).as("maxrho"))
    val mergedRegs = shardRegs.groupBy("bucket").agg(max(col("maxrho")).as("maxrho"))
    val directRegs = hashed.groupBy("bucket").agg(max(col("rho")).as("maxrho"))
    def estimate(regs: DataFrame): DataFrame = {
      val spine = s.range(HllM).select(col("id").cast(IntegerType).as("bucket"))
      spine.join(regs, Seq("bucket"), "left")
        .withColumn("term", expr("shiftleft(CAST(1 AS BIGINT), 53 - coalesce(maxrho, 0))"))
        .agg(sum(col("term")).as("s"))
        .select(expr(
          s"0.7213e0 / (1.0e0 + 1.079e0 / ${HllM}e0) * ${HllM}e0 * ${HllM}e0 * 9007199254740992e0 / CAST(s AS DOUBLE)")
          .as("est"))
    }
    val exact = li.agg(countDistinct(col("l_orderkey")).as("true_n"))
    estimate(mergedRegs).select(round(col("est"), 2).as("est_merged_n"))
      .crossJoin(estimate(directRegs).select(round(col("est"), 2).as("est_direct_n")))
      .crossJoin(exact)
      .withColumn("merged_equals_direct", col("est_merged_n") === col("est_direct_n"))
      .select("est_merged_n", "est_direct_n", "merged_equals_direct", "true_n")
  }

  private val a14Sql =
    s"""WITH hashed AS (
       |  SELECT l_orderkey % 4 AS shard, h % $HllM AS bucket,
       |    CASE WHEN h // $HllM = 0 THEN 53 ELSE 53 - length(bin(h // $HllM)) END AS rho
       |  FROM (SELECT l_orderkey,
       |          CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)),1,15)) AS BIGINT) AS h
       |        FROM lineitem)
       |), shard_regs AS (
       |  SELECT shard, bucket, max(rho) AS maxrho FROM hashed GROUP BY shard, bucket
       |), merged_regs AS (
       |  SELECT bucket, max(maxrho) AS maxrho FROM shard_regs GROUP BY bucket
       |), direct_regs AS (
       |  SELECT bucket, max(rho) AS maxrho FROM hashed GROUP BY bucket
       |), spine AS (SELECT r.range AS bucket FROM range($HllM) r),
       |est_merged AS (
       |  SELECT round(0.7213e0 / (1.0e0 + 1.079e0 / ${HllM}e0) * ${HllM}e0 * ${HllM}e0 * 9007199254740992e0
       |    / CAST(sum((CAST(1 AS BIGINT) << (53 - coalesce(maxrho, 0))))::BIGINT AS DOUBLE), 2) AS est_merged_n
       |  FROM spine LEFT JOIN merged_regs USING (bucket)
       |), est_direct AS (
       |  SELECT round(0.7213e0 / (1.0e0 + 1.079e0 / ${HllM}e0) * ${HllM}e0 * ${HllM}e0 * 9007199254740992e0
       |    / CAST(sum((CAST(1 AS BIGINT) << (53 - coalesce(maxrho, 0))))::BIGINT AS DOUBLE), 2) AS est_direct_n
       |  FROM spine LEFT JOIN direct_regs USING (bucket)
       |), exact AS (SELECT count(DISTINCT l_orderkey) AS true_n FROM lineitem)
       |SELECT est_merged_n, est_direct_n,
       |  est_merged_n = est_direct_n AS merged_equals_direct, true_n
       |FROM est_merged, est_direct, exact""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "u6_rollup"        -> u6Rollup _,
    "o7_range_frames"  -> o7RangeFrames _,
    "a13_sampled_quantiles" -> a13SampledQuantiles _,
    "a14_hll_merge"    -> a14HllMerge _,
    "u7_grouping_sets" -> u7GroupingSets _,
    "o5_window_frames" -> o5WindowFrames _,
    "o6_rank_battery"  -> o6RankBattery _,
    "o8_lead_lag"      -> o8LeadLag _,
    "a7_percentiles"   -> a7Percentiles _,
    "a8_salted_agg"    -> a8SaltedAgg _,
    "a9_kmv_distinct"  -> a9KmvDistinct _,
    "a10_grouped_kmv"  -> a10GroupedKmv _,
    "a11_zscore_outliers" -> a11ZscoreOutliers _,
    "a12_hll_distinct" -> a12HllDistinct _,
    "j8_salted_join"   -> j8SaltedJoin _,
    "j10_bloom_prune"  -> j10BloomPrune _)

  val oracles: Map[String, String] = Map(
    "u6_rollup"        -> u6Sql,
    "o7_range_frames"  -> o7Sql,
    "a13_sampled_quantiles" -> a13Sql,
    "a14_hll_merge"    -> a14Sql,
    "u7_grouping_sets" -> u7Sql,
    "o5_window_frames" -> o5Sql,
    "o6_rank_battery"  -> o6Sql,
    "o8_lead_lag"      -> o8Sql,
    "a7_percentiles"   -> a7Sql,
    "a8_salted_agg"    -> a8Sql,
    "a9_kmv_distinct"  -> a9Sql,
    "a10_grouped_kmv"  -> a10Sql,
    "a11_zscore_outliers" -> a11Sql,
    "a12_hll_distinct" -> a12Sql,
    "j8_salted_join"   -> j8Sql,
    "j10_bloom_prune"  -> j10Sql)
}
