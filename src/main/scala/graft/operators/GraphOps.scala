package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{InputScale, Tables}

/** Graph analytics beyond connected components (d9): PageRank over the
  * customer-supplier transaction graph — the link-analysis quality signal a
  * web-corpus curation pipeline computes (rank-weighted sampling, spam
  * down-weighting) expressed as iterative joins.
  *
  * n1 — FIXED-POINT PageRank (damping 0.85, 3 unrolled iterations): ranks
  * are BIGINTs scaled by 10^12, per-node shares use integer division and
  * the damping/teleport terms are (x * 85) div 100-style integer ops — so
  * the whole iteration is float-free and bit-identical in any engine (a
  * float PageRank's per-node contribution sums are order-dependent and
  * could never hash-match; truncation loss is deterministic and identical
  * on both sides). The bipartite customer<->supplier edges are bidirected,
  * so every node has out-degree > 0 and no dangling-mass redistribution
  * pass is needed.
  *
  * Scale shape: the EDGE list is the fact (it scans once per iteration,
  * cached) and the rank/degree frames are node-sized — in a transaction
  * bipartite graph |nodes| ~ sqrt(|edges|), so the per-iteration rank frame
  * BROADCASTS against the edge scan and the only shuffle per round is the
  * map-side-combined groupBy(dst). For a web-scale graph whose node set
  * outgrows broadcast, a DATA-DERIVED gate (observed |nodes| vs a node
  * floor, [[BroadcastFloorNodes]] unless the caller passes another) switches
  * every per-round rank join to the classic shuffle plan: the edge frame caches
  * HASH-PARTITIONED on src, so each round shuffles only the node-sized
  * rank frame to meet it (shuffled-hash build on the rank side — the edge
  * side is never re-shuffled or sorted). Both modes are bit-identical
  * (integer fixed-point; GraphShuffleGateSpec pins it). Edges and degrees
  * are computed once; iterations unroll in ONE declarative plan.
  */
object GraphOps {

  private val Scale = 1000000000000L // 10^12 fixed-point
  private val Iters = 3

  /** Edge-frame partition target: follows the edge volume instead of a
    * fixed ceiling. Two regimes: BELOW ~1M edges/core the binding concern
    * is keeping every core busy across the per-iteration edge scans, so
    * the count rises to the core count as soon as there are >=100k edges
    * per core to justify the task overhead (at bench SF with 32 cores
    * this lands on the formerly hand-tuned 8); ABOVE it, the count follows
    * the volume at ~1M edges (~25 MB of BIGINT pairs) per partition — 1B
    * edges → 1000 partitions, no cap.
    */
  private def edgePartitions(edgeCount: Long, cores: Int): Int = {
    val byVolume = (edgeCount + 999999L) / 1000000L
    val coreFloor = math.min(cores.toLong, math.max(1L, edgeCount / 100000L))
    math.max(byVolume, coreFloor).min(Int.MaxValue.toLong).toInt
  }

  private def edgePartitions(s: SparkSession, edgeCount: Long): Int =
    edgePartitions(edgeCount, s.sparkContext.defaultParallelism)

  /** The edge-frame partition count n1/n2 would use on this dataset —
    * ScaleProbe's graph mode reports it as the no-fixed-ceiling evidence.
    */
  private[graft] def probeEdgePartitions(s: SparkSession, d: String): Int =
    edgePartitions(s, 2 * weightedPairs(s, d).count())

  /** Cached graph state for the unweighted iterations: bidirected edges
    * carrying the DESTINATION's out-degree, the node-level degree frame
    * (init + converged twin), and the node count.
    *
    * Two round-7 constant-cost cuts, both semantics-preserving:
    *  - |nodes| is a graph-level CONSTANT, so it (and the teleport term
    *    derived from it) folds into driver-side literals instead of a
    *    crossJoined broadcast column riding every frame;
    *  - in BROADCAST mode the edge frame carries dst_outdeg, so a round's
    *    output comes straight out of the contribution aggregate — no
    *    nodesDeg rejoin, ONE broadcast per round instead of two. Sound
    *    because the graph is BIDIRECTED: every node has in-edges, so the
    *    groupBy(dst) covers the whole node set (the left join's
    *    null-contrib branch was dead). In shuffle/scale mode the edges stay
    *    THIN and the round joins its node-sized aggregate back to the
    *    cached degree frame instead — see jointEdges.
    */
  private final case class Graph(edges: DataFrame, deg: DataFrame, nNodes: Long,
      nEdges: Long,
      /** Broadcast the node-sized rank frame each round (fat edge layout), or
        * shuffle it to meet the hash-partitioned THIN edge cache: the layout
        * of `edges`, which [[jointEdges]] memoizes per layout, so the round
        * plan and the edge frame always agree.
        *
        * INVARIANT the thin-mode rounds rely on: the graph is BIDIRECTED by
        * construction (jointEdges unions both edge directions), so every node
        * has in-edges and nextRank's INNER join of the groupBy(dst) aggregate
        * with the degree frame covers the whole node set. Reusing this loop
        * on a DIRECTED graph would silently drop the teleport mass of nodes
        * with no in-edges — add a left-join backfill first.
        */
      broadcastRanks: Boolean)

  /** Node-count floor above which per-round rank frames stop broadcasting:
    * a (node, outdeg|wout, r) row is ~3 BIGINTs (~40 B unsafe-row), so 8M
    * nodes is a ~300 MB broadcast — past the point where per-round
    * driver-collect + rebroadcast beats one node-sized shuffle against a
    * pre-partitioned edge cache. The n1/n2 queries use it; specs and
    * ScaleProbe pass their own `nodeFloor` to pin either mode on a small
    * fixture.
    */
  private[graft] val BroadcastFloorNodes = 8000000L

  /** One per-round rank join under the gate: broadcast below the floor;
    * above it, shuffle the node-sized `shares` frame to the edge cache's
    * src-hash partitioning and hash-build on it (the edge side streams from
    * cache — never re-shuffled, never sorted).
    */
  private def rankJoin(edges: DataFrame, shares: DataFrame, bcast: Boolean): DataFrame =
    if (bcast) edges.join(broadcast(shares), "src")
    else edges.join(shares.hint("shuffle_hash"), "src")

  /** Edge-artifact row count above which the bucketed build pauses between
    * its two table-sized write passes for a ContextCleaner sweep (the
    * disk-envelope rungs); below it the pause is pure suite latency. */
  private val PausePassRows = 100000000L

  /** Node and bidirected-edge counts of `d`'s graph. */
  private[operators] final case class GraphCounts(nNodes: Long, nEdges: Long)

  /** [[GraphCounts]], observed once per (session, dir) in the Tables memo.
    * ONE eager action (round 7 had pairs.count() + deg.count(), two driver
    * jobs before the rounds started): this aggregate materializes the pair
    * AND degree caches in a single job chain, and sum(outdeg) over the
    * degree frame IS the bidirected edge count (every edge contributes to
    * exactly one node's out-degree). Built graphs observe it under the
    * [[InputScale.smallTradeGraph]] gate, like the rest of the build.
    */
  private[operators] def graphCounts(s: SparkSession, d: String): GraphCounts =
    Tables.memo(s, s"$d!graph.counts") {
      def observe() = {
        val meta = jointDeg(s, d).agg(count(lit(1)), sum(col("outdeg"))).first()
        GraphCounts(meta.getLong(0), meta.getLong(1))
      }
      if (edgesDirProp.isDefined) observe() else smallTradeBuild(s, d)(observe())
    }

  /** Below [[InputScale.smallTradeGraph]] (decided from lineitem, before
    * any graph artifact exists) the pair/degree/edge build shuffles run at
    * 8 partitions — the width the rank rounds already use, so the
    * 8-partition cached artifacts cost their consumers nothing (r14). */
  private def smallTradeBuild[T](s: SparkSession, d: String)(f: => T): T =
    InputScale.withShufflePartitionsWhen(s, InputScale.smallTradeGraph(s, d),
      InputScale.SmallBuildPartitions)(f)

  /** The layout for `nodeFloor`: FAT edges and broadcast rank joins for a
    * built graph of at most `nodeFloor` nodes; THIN edges and shuffled rank
    * joins above it and for the disk edge table. */
  private def fatLayout(s: SparkSession, d: String, nodeFloor: Long): Boolean =
    edgesDirProp.isEmpty && graphCounts(s, d).nNodes <= nodeFloor

  /** ONE joint degree frame (node, outdeg, wout) serving BOTH PageRank
    * variants: the bidirected frame's rows are exactly the distinct pairs
    * (they are weightedPairs' grouping keys), so count(*) is n1's unweighted
    * out-degree and sum(w) is n2's weight-out — same single shuffle either
    * way, built once per (session, dir).
    */
  private def jointDeg(s: SparkSession, d: String): DataFrame =
    ArtifactCache.getOrElseUpdate("graph.deg", s, d) {
      edgesDirProp match {
        case Some(dir) =>
          // disk-edge mode: the degree frame was landed by
          // buildEdgesBucketed — node-sized, cache it like the built one
          s.read.parquet(s"$dir/deg").cache()
        case None => degrees(weightedPairs(s, d)).cache()
      }
    }

  /** The (dst, src, w) direction of the (src, dst, w) `pairs`. */
  private def reversed(pairs: DataFrame): DataFrame =
    pairs.select(col("dst").as("src"), col("src").as("dst"), col("w"))

  /** (node, outdeg, wout) over both directions of `pairs`. */
  private def degrees(pairs: DataFrame): DataFrame =
    pairs.union(reversed(pairs)).groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"), sum(col("w")).as("wout"))

  /** Fourth-decade edge layout (r12): when set, the bidirected edge frame
    * is a BUCKETED PARQUET TABLE on disk (built once by
    * [[buildEdgesBucketed]]) instead of an executor cache. At sf300 the
    * thin cache — 3.5B (src,dst,w) rows — outgrows memory-plus-disk beside
    * its own lineage-pinned repartition shuffle; the bucketed scan feeds
    * every round hash-partitioned on src with ZERO edge movement and zero
    * resident cache, which is the 100-TB layout anyway: the standing edge
    * artifact lives as bucketed columnar storage, and rank jobs stream it.
    */
  private def edgesDirProp = sys.props.get("graft.graph.edgesDir")

  private val EdgesTable = "graft_b_edges"

  /** Register the edge table landed under `dir` in `buckets` src buckets in
    * this session's catalog, unless it is there (fresh processes have an
    * empty in-memory catalog; the DDL just points at the existing bucketed
    * part files).
    */
  private def registerEdgeTable(s: SparkSession, dir: String, buckets: Int): Unit =
    if (!s.catalog.tableExists(EdgesTable))
      s.sql(s"""CREATE TABLE $EdgesTable (src BIGINT, dst BIGINT, w BIGINT)
               |USING parquet CLUSTERED BY (src) INTO $buckets BUCKETS
               |LOCATION '$dir/edges'""".stripMargin)

  /** Land the bidirected edge artifact as a src-bucketed parquet table plus
    * the node-sized degree frame under `outDir`, for serving through
    * `graft.graph.edgesDir`. The two directions write as two sequential
    * bucket-partitioned passes (peak scratch = one direction's shuffle, not
    * the union's), each repartitioned to one task per bucket; the rank
    * join only needs hash-clustering — not sortedness — so the two files
    * per bucket are fine (shuffle-hash build side is the rank frame).
    * Returns (nNodes, nEdges).
    */
  def buildEdgesBucketed(s: SparkSession, d: String, outDir: String,
      buckets: Int = 256, phase: String = "all"): (Long, Long) = {
    val pairs = weightedPairs(s, d)
    def in(p: String) = phase == "all" || phase == p
    if (in("deg")) degrees(pairs).write.mode("overwrite").parquet(s"$outDir/deg")
    if (in("fwd")) {
      s.sql(s"DROP TABLE IF EXISTS $EdgesTable")
      pairs.repartition(buckets, col("src"))
        .write.bucketBy(buckets, "src")
        .option("path", s"$outDir/edges")
        .mode("overwrite").saveAsTable(EdgesTable)
      // let the ContextCleaner release this pass's shuffle before the next
      // table-sized pass piles its own on top (the two passes' scratch
      // co-residing is what breaks a tight disk envelope). Disk-envelope
      // mitigation only — gated on the written artifact's size so unit-test
      // and small builds don't pay the 10 s pause (r12 ADVICE; same
      // data-derived gating as the rank loop's per-round System.gc())
      val written = s.read.parquet(s"$outDir/edges").count()
      if (written >= PausePassRows) { System.gc(); Thread.sleep(10000) }
    }
    if (in("rev")) {
      // a FRESH process has an empty in-memory catalog: without this DDL,
      // mode("append").saveAsTable silently CREATES a new table at the path
      // and the forward half's files are replaced — leaving a
      // one-directional graph whose rounds drain to empty (the sf300 rung
      // hit exactly this). Register the existing table first so the append
      // is a true insert.
      registerEdgeTable(s, outDir, buckets)
      reversed(pairs).repartition(buckets, col("src"))
        .write.bucketBy(buckets, "src")
        .mode("append").saveAsTable(EdgesTable)
      java.nio.file.Files.write(java.nio.file.Paths.get(outDir, "edges.buckets"),
        buckets.toString.getBytes)
    }
    val meta = s.read.parquet(s"$outDir/deg")
      .agg(count(lit(1)), sum(col("outdeg"))).first()
    (meta.getLong(0), meta.getLong(1))
  }

  /** ONE joint bidirected edge frame serving both variants — fat
    * (src, dst, w, dst_outdeg, dst_wout) in broadcast mode, THIN
    * (src, dst, w) in shuffle/scale mode (see the layout comment in
    * [[builtEdges]]); n1 projects the counts, n2 the weights; the
    * InMemoryTableScan prunes the untouched columns, so neither query pays
    * for the other's data. Memoized per layout (`graph.edges.fat`,
    * `graph.edges.thin`): the second graph query's build cost drops to a
    * cache hit, and one session serves both layouts. In disk-edge mode the
    * frame IS the bucketed table — hash-clustered on src, so every round's
    * rank join plans with zero edge-side exchange (the thin-mode round code
    * runs verbatim on it).
    */
  private def jointEdges(s: SparkSession, d: String, nodeFloor: Long): DataFrame = {
    val fat = fatLayout(s, d, nodeFloor)
    ArtifactCache.getOrElseUpdate(if (fat) "graph.edges.fat" else "graph.edges.thin", s, d) {
      edgesDirProp match {
        case Some(dir) =>
          registerEdgeTable(s, dir,
            java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "edges.buckets")).trim.toInt)
          s.table(EdgesTable)
        case None => builtEdges(s, d, fat)
      }
    }
  }

  private def builtEdges(s: SparkSession, d: String, fat: Boolean): DataFrame =
    smallTradeBuild(s, d) {
      val pairs = weightedPairs(s, d)
      val deg = jointDeg(s, d)
      val nEdges = graphCounts(s, d).nEdges
      // the customer/supplier id spaces are disjoint, so the union of two
      // distinct sets is already distinct — no second dedup shuffle
      val bidir = pairs.union(reversed(pairs))
      // Layout follows the gate. Broadcast mode (bench-scale graphs): FAT
      // edges — dst's deg/wout ride every edge (one broadcast-joined deg
      // pass here, node frame is tiny), so a round's output comes straight
      // out of the contribution aggregate; coalesce to edge-volume-many
      // partitions (per-task scheduling would otherwise dominate the
      // round). Shuffle mode (scale graphs): THIN edges — (src, dst, w)
      // only, cache HASH-PARTITIONED on src so every round's rank join
      // only shuffles the node-sized rank frame to meet it; dst's deg is
      // re-acquired per round by a NODE-sized join with the cached degree
      // frame instead. Fattening here would join + reshuffle the full
      // bidirected edge volume (2x|pairs| rows) TWICE and cache 5 columns
      // instead of 3 — at the sf100 rung (~1B bidirected edges) that extra
      // edge-volume shuffle pair alone exceeded the local disk envelope,
      // while the per-round node-sized deg join it replaces is O(|nodes|).
      val edges =
        if (fat) {
          val degJoin = bidir.join(broadcast(deg), bidir("dst") === deg("node"))
          degJoin.select(bidir("src"), bidir("dst"), bidir("w"),
              col("outdeg").as("dst_outdeg"), col("wout").as("dst_wout"))
            .coalesce(edgePartitions(s, nEdges))
        } else bidir.repartition(edgePartitions(s, nEdges), col("src"))
      edges.cache()
    }

  private def unweightedGraph(s: SparkSession, d: String, nodeFloor: Long): Graph = {
    // Integer node ids (custkey*2 / suppkey*2+1) keep every iteration's
    // hashing, shuffling and codegen on one BIGINT column; the c:/s: string
    // labels only materialize in the final 20-row projection. The mapping is
    // bijective, so pair cardinalities and degrees match the string-keyed
    // oracle exactly. Both graph queries ride the joint edge/degree
    // artifacts; this view projects the unweighted columns (thin scale-mode
    // edges don't carry dst_outdeg — see jointEdges).
    val joint = jointEdges(s, d, nodeFloor)
    val fat = fatLayout(s, d, nodeFloor)
    val c = graphCounts(s, d)
    val edges = if (fat) joint.select("src", "dst", "dst_outdeg")
                else joint.select("src", "dst")
    Graph(edges, jointDeg(s, d).select("node", "outdeg"), c.nNodes, c.nEdges,
      broadcastRanks = fat)
  }

  /** Initial uniform rank frame. localCheckpoint flattens the node-sized
    * rank frame (~|nodes| rows) each round, so every broadcast subplan
    * stays one level deep instead of nesting all prior iterations — the
    * unrolled-lineage variant spent most of its wall time in driver
    * planning + Janino on the final plan. With r0 checkpointed too, all
    * rounds present the exact same physical shape (checkpoint scan ->
    * cached-edge join -> agg), so the generated code compiles once and
    * later rounds hit the codegen source cache.
    */
  private def prInit(g: Graph): DataFrame =
    g.deg.select(col("node"), col("outdeg"),
      lit(Scale / g.nNodes).as("r")).localCheckpoint()

  /** The damped teleport term (($Scale div n) * 15) div 100 as a literal —
    * Scala Long division on non-negatives is the same truncation as SQL
    * div, so this is bit-identical to the oracle's in-query arithmetic.
    */
  private def teleport(nNodes: Long): Long = (Scale / nNodes * 15L) / 100L

  /** One damped fixed-point round (shares out, contributions straight into
    * the next rank frame) — the loop body n1 unrolls three times and the
    * convergent twin repeats until quiescence.
    */
  private def prRound(g: Graph, r: DataFrame): DataFrame = {
    val shares = r.select(col("node").as("src"), expr("r div outdeg").as("share"))
    nextRank(g, shares).localCheckpoint()
  }

  /** Contribution aggregate + next-rank projection shared by n1's unrolled
    * rounds and the converged twin. Broadcast mode groups on the fat edge's
    * dst_outdeg; thin-edge scale mode re-acquires outdeg via a NODE-sized
    * hash join with the cached degree frame (both sides already
    * node-hash-partitioned from their aggregates — no extra exchange).
    * Bit-identical either way: same shares, same sum, same projection.
    */
  private def nextRank(g: Graph, shares: DataFrame): DataFrame = {
    val joined = rankJoin(g.edges, shares, g.broadcastRanks)
    val contrib =
      if (g.broadcastRanks)
        joined.groupBy(col("dst").as("node"), col("dst_outdeg").as("outdeg"))
          .agg(sum(col("share")).as("contrib"))
      else
        joined.groupBy(col("dst").as("node"))
          .agg(sum(col("share")).as("contrib"))
          .join(g.deg.hint("shuffle_hash"), "node")
    contrib.select(col("node"), col("outdeg"),
      (lit(teleport(g.nNodes)) + expr("(85 * contrib) div 100")).as("r"))
  }

  /** Final 20-row labeled projection shared by every PageRank variant. */
  private def prTop20(r: DataFrame): DataFrame = {
    val label = when(col("node") % 2 === 0, concat(lit("c:"), expr("node div 2").cast("string")))
      .otherwise(concat(lit("s:"), expr("(node - 1) div 2").cast("string")))
    r.select(label.as("node"), col("r"))
      .orderBy(col("r").desc, col("node"))
      .limit(20)
      .select(col("node"), col("r").as("rank_fp"),
        // integer 1e-8 rank units (rank_fp div 10^4), not round(double, 8):
        // k/10^12 quotients are the exact population whose shortest decimal
        // repr rounds apart from the binary value (o6 precedent)
        expr("r div 10000").as("rank_e8"))
  }

  /** The full converged (3-round) rank frame (node, r) — n1's result
    * before the top-20 presentation cut. Exposed for the differential rank
    * compare (`ScaleProbe diffv`): at the scale rungs the v9 twin matches
    * this WHOLE frame, not just the 20 displayed rows. Rank joins broadcast
    * up to `nodeFloor` nodes.
    */
  private[graft] def n1RankFrame(s: SparkSession, d: String,
      nodeFloor: Long = BroadcastFloorNodes): DataFrame = {
    // Per-round localCheckpoint measured AGAIN in round 7 against a fully
    // nested 3-round plan and a checkpoint-every-2nd variant (sf0.1, idle):
    // 5.98 s vs 7.16 s vs 7.02 s — the flat identical-shape rounds (codegen
    // compiled once, later rounds hit the source cache) keep winning.
    val g = unweightedGraph(s, d, nodeFloor)
    // 8-partition override below the same edge floor (r13 optimization):
    // broadcast-mode rounds shuffle only the node-sized contribution
    // aggregate — KB stages whose 32-task floors dominate the round wall.
    // The loop output is checkpointed, never cached, so the conf flip
    // cannot interact with CacheManager substitution (see
    // TextOps.withSmallTextBuild for that hazard).
    InputScale.withSmallBuild(s, InputScale.smallGraph(g.nEdges)) {
      var r = prInit(g)
      for (_ <- 1 to Iters) r = prRound(g, r)
      r.select("node", "r")
    }
  }

  private def n1PageRank(s: SparkSession, d: String): DataFrame =
    prTop20(n1RankFrame(s, d))

  /** Convergence-driven twin of n1: the same float-free fixed-point round,
    * iterated until the largest per-node rank change drops below `epsFp`
    * (in 10^-12 rank units) or `maxIters` rounds. The per-round delta
    * check is one node-sized join-aggregate between consecutive
    * localCheckpointed frames — O(|nodes|) per round, no lineage growth.
    * The data-dependent iteration count keeps this variant off the
    * hash-compare surface (the fixed-3 unroll n1 is the oracled twin);
    * Round5OpsSpec pins its 3-round agreement with n1 and its monotone
    * geometric convergence. Damping 0.85 contracts deltas by ~0.85/round,
    * so reaching eps relative tolerance takes ~ln(delta0/eps)/0.1625
    * rounds — the default 10^-9 relative (1000 fp units) lands near 100
    * rounds from a uniform start, hence the 200-round cap.
    * Returns the n1-shaped top-20 frame plus the rounds actually run.
    */
  def pageRankConverged(s: SparkSession, d: String, epsFp: Long = 1000L,
      maxIters: Int = 200): (DataFrame, Int) = {
    val g = unweightedGraph(s, d, BroadcastFloorNodes)
    InputScale.withAqeOffWhen(s, InputScale.smallGraph(g.nEdges)) {
    var r = prInit(g)
    var iters = 0
    var delta = Long.MaxValue
    var cached: DataFrame = null // persisted frame backing `r`, for unpersist
    while (delta > epsFp && iters < maxIters) {
      iters += 1
      // delta check FUSED into the round (round-6 verdict #8): the old rank
      // re-enters as a node-sized broadcast joined onto the aggregate's
      // output, so ONE cached frame yields both the new ranks and the
      // convergence delta — no separate next-vs-prev job. cache() + agg
      // replaces the per-round localCheckpoint; a checkpoint every 5 rounds
      // still truncates the growing lineage (the 200-round worst case would
      // otherwise accumulate a 200-deep plan).
      val prev = r.select(col("node"), col("r").as("r_prev"))
      val shares = r.select(col("node").as("src"), expr("r div outdeg").as("share"))
      val agg = nextRank(g, shares)
      // the delta join is node-sized x node-sized: broadcast below the
      // floor, plain shuffle join above it (both sides already node-frames)
      val nextPlan =
        if (g.broadcastRanks) agg.join(broadcast(prev), "node")
        else agg.join(prev, "node")
      val next = if (iters % 5 == 0) nextPlan.localCheckpoint() else nextPlan.cache()
      delta = next.agg(max(abs(col("r") - col("r_prev")))).first().getLong(0)
      if (cached != null) cached.unpersist()
      cached = next
      r = next.select("node", "outdeg", "r")
    }
    (prTop20(r), iters)
    }
  }

  private[operators] val n1SqlShared: String = {
    val iters = (1 to Iters).map { i =>
      val prev = s"r${i - 1}"
      // the graph is BIDIRECTED, so every node receives contributions — the
      // contribution aggregate's key set IS the node set and no nodes-frame
      // LEFT JOIN backfill is needed (same dead-branch elimination the Spark
      // rounds use)
      s"""s$i AS (
         |  SELECT $prev.node AS src, $prev.r // deg.outdeg AS share
         |  FROM $prev JOIN deg ON $prev.node = deg.src
         |), r$i AS (
         |  SELECT e.dst AS node,
         |    (($Scale // n) * 15) // 100
         |      + (85 * CAST(sum(s$i.share) AS BIGINT)) // 100 AS r
         |  FROM s$i JOIN edges e ON s$i.src = e.src CROSS JOIN nn
         |  GROUP BY e.dst, nn.n
         |)""".stripMargin
    }.mkString(",\n")
    // Integer node ids (custkey*2 / suppkey*2+1), exactly the Spark side's
    // encoding: every materialized CTE and per-round join runs on one BIGINT
    // column and the c:/s: string labels only materialize in the final
    // 20-row projection. The VARCHAR-keyed form spilled >50 GiB at the sf10
    // gate purely on key width; the mapping is bijective (disjoint odd/even
    // id spaces), so degrees, shares and ranks are bit-identical.
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |), edges AS MATERIALIZED (
       |  -- UNION ALL, not UNION: pairs is already DISTINCT and the even/odd
       |  -- id spaces are disjoint, so no duplicate can arise (Spark's union
       |  -- is bag semantics already)
       |  SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
       |), deg AS MATERIALIZED (
       |  SELECT src, count(*) AS outdeg FROM edges GROUP BY src
       |), nn AS (SELECT count(*) AS n FROM deg),
       |r0 AS (SELECT src AS node, $Scale // n AS r FROM deg CROSS JOIN nn),
       |$iters
       |SELECT CASE WHEN node % 2 = 0 THEN 'c:' || CAST(node // 2 AS VARCHAR)
       |            ELSE 's:' || CAST((node - 1) // 2 AS VARCHAR) END AS node,
       |  r AS rank_fp, r // 10000 AS rank_e8
       |FROM r$Iters
       |ORDER BY rank_fp DESC, node
       |LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // n2 — WEIGHTED PageRank: edges carry transaction revenue (the spend-
  // weighted link-analysis signal — a heavy trade relationship should pull
  // more rank than a one-off order). Same float-free fixed-point design as
  // n1, with per-edge shares floor(r * w / W_src) computed by the split
  // multiplication (r div W)*w + ((r mod W)*w) div W — exactly floor(r*w/W)
  // with every intermediate bounded by W*w (< 2^62 here: W ~ 1e8 cents per
  // node, w ~ 1e7; at larger corpora re-scale weights, the formula is
  // scale-free). Edge weights are integer CENTS via the DECIMAL(18,2) cast —
  // no double rounding anywhere, so both engines agree bit-for-bit.
  /** (src, dst, w): one weighted edge per trading pair — integer cents via
    * the DECIMAL(18,2) cast. Cached and shared: n1 projects the keys (the
    * group keys ARE its distinct pairs), n2 consumes the weights.
    */
  private[operators] def weightedPairs(s: SparkSession, d: String): DataFrame =
    ArtifactCache.getOrElseUpdate("graph.weightedPairs", s, d) {
      sys.props.get("graft.graph.pairsDir") match {
        case Some(dir) =>
          // Pre-built bucketed-ingest artifact (see buildPairsBucketed):
          // the parquet IS the cache — columnar re-scans are cheap, while
          // a .cache() of a billions-of-pairs frame would double the scale
          // rung's disk footprint beside the edge cache.
          s.read.parquet(dir)
        case None =>
          Tables.orders(s, d)
            .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
            .groupBy((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
            .agg(pairWeight)
            .cache()
      }
    }

  /** Integer-cents edge weight — DECIMAL(18,2)-routed so both engines and
    * both build paths (direct join, bucketed ingest) agree bit-for-bit.
    */
  private def pairWeight =
    expr("CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS DECIMAL(38,0)) AS BIGINT)").as("w")

  /** Bucketed co-located edge build (r11 verdict #1): writes orders and
    * lineitem bucketed + sorted on the orderkey, joins them EXCHANGE-FREE
    * (SortMergeJoin over co-located buckets — BucketingSpec's recipe at the
    * graph build's scale bottleneck), aggregates the weighted pairs, and
    * lands them as a plain-parquet artifact that `graft.graph.pairsDir`
    * serves to every rank query. This removes the ~3B-row join shuffle
    * whose spill blew the sf300 disk envelope: the only remaining wide op
    * in the build is the pair aggregate itself (map-side combined).
    *
    * At 100 TB this is the standing ingest layout: fact tables land
    * bucketed by their join key once at write time, so the edge build —
    * and every other orderkey join — never pays a shuffle again.
    *
    * Returns (pair count, zero-exchange-join flag) — the flag is asserted
    * by BucketedGraphSpec and recorded by the scale probe.
    */
  def buildPairsBucketed(s: SparkSession, d: String, outDir: String,
      buckets: Int = 64): (Long, Boolean) = {
    val ord = "graft_b_orders"; val li = "graft_b_lineitem"
    s.sql(s"DROP TABLE IF EXISTS $ord")
    s.sql(s"DROP TABLE IF EXISTS $li")
    // repartition on the bucket expression BEFORE bucketBy: repartition's
    // HashPartitioning is the same murmur3-pmod bucketing uses, so each
    // write task holds exactly one bucket → ONE sorted file per bucket and
    // the join streams merge-sorted with neither Exchange NOR Sort. This is
    // "pay the shuffle once at write time": two sequential table-sized
    // shuffles here, freed at write completion, replace the join-time
    // shuffle whose spill (both sides + sort, co-resident) blew the rung.
    Tables.orders(s, d).select("o_orderkey", "o_custkey")
      .repartition(buckets, col("o_orderkey"))
      .write.bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$outDir/b_orders")
      .mode("overwrite").saveAsTable(ord)
    Tables.lineitem(s, d).select("l_orderkey", "l_suppkey", "l_extendedprice")
      .repartition(buckets, col("l_orderkey"))
      .write.bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$outDir/b_lineitem")
      .mode("overwrite").saveAsTable(li)
    val pairs = s.table(ord)
      .join(s.table(li), col("o_orderkey") === col("l_orderkey"))
      .groupBy((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .agg(pairWeight)
    // audit the statically PREPARED physical plan (EnsureRequirements
    // applied explicitly, no execution): the bucketed join must not shuffle
    // its inputs, so the pair aggregate's single exchange is the only one
    // allowed. r13 fix: the earlier audit counted exchanges on the bare
    // sparkPlan, which NEVER contains any (EnsureRequirements is what
    // inserts them at executedPlan time) — the flag was vacuously true.
    val colocated = Dedup.ensuredExchanges(pairs) <= 1
    pairs.write.mode("overwrite").parquet(s"$outDir/pairs")
    s.sql(s"DROP TABLE IF EXISTS $ord")
    s.sql(s"DROP TABLE IF EXISTS $li")
    (s.read.parquet(s"$outDir/pairs").count(), colocated)
  }

  /** n2's full rank frame (node, r) — see [[n1RankFrame]]. */
  private[graft] def n2RankFrame(s: SparkSession, d: String,
      nodeFloor: Long = BroadcastFloorNodes): DataFrame = {
    // same round-7 shape as n1: in broadcast mode dst's weight-out rides
    // the fat edge frame (one broadcast + one map-side-combined aggregate
    // per round); in thin-edge scale mode the round re-acquires wout via
    // the node-sized degree join, exactly like n1's nextRank
    val joint = jointEdges(s, d, nodeFloor)
    val deg = jointDeg(s, d).select("node", "wout")
    val GraphCounts(nNodes, nEdges) = graphCounts(s, d)
    val bcast = fatLayout(s, d, nodeFloor)
    val edges = if (bcast) joint.select("src", "dst", "w", "dst_wout")
                else joint.select("src", "dst", "w")
    // 8-partition override below the edge floor — see n1RankFrame
    InputScale.withSmallBuild(s, InputScale.smallGraph(nEdges)) {
    var r = deg.select(col("node"), col("wout"),
      lit(Scale / nNodes).as("r")).localCheckpoint()
    for (_ <- 1 to Iters) {
      val shares = r.select(col("node").as("src"), col("r"), col("wout"))
      val withShare = rankJoin(edges, shares, bcast)
        .withColumn("share", expr("(r div wout) * w + ((r % wout) * w) div wout"))
      val contrib =
        if (bcast)
          withShare.groupBy(col("dst").as("node"), col("dst_wout").as("wout"))
            .agg(sum(col("share")).as("contrib"))
        else
          withShare.groupBy(col("dst").as("node"))
            .agg(sum(col("share")).as("contrib"))
            .join(deg.hint("shuffle_hash"), "node")
      r = contrib
        .select(col("node"), col("wout"),
          (lit(teleport(nNodes)) + expr("(85 * contrib) div 100")).as("r"))
        .localCheckpoint()
    }
    r.select("node", "r")
    }
  }

  private def n2WeightedPageRank(s: SparkSession, d: String): DataFrame =
    prTop20(n2RankFrame(s, d))

  private[operators] val n2SqlShared: String = {
    val iters = (1 to Iters).map { i =>
      val prev = s"wr${i - 1}"
      // bidirected graph: the aggregate's key set is the node set, so the
      // nodes-frame LEFT JOIN backfill is dead (as in n1Sql / the Spark rounds)
      s"""wr$i AS (
         |  SELECT e.dst AS node,
         |    (($Scale // n) * 15) // 100
         |      + (85 * CAST(sum(($prev.r // deg.wout) * e.w + (($prev.r % deg.wout) * e.w) // deg.wout) AS BIGINT)) // 100 AS r
         |  FROM $prev JOIN deg ON $prev.node = deg.src
         |  JOIN edges e ON e.src = $prev.node
         |  CROSS JOIN nn
         |  GROUP BY e.dst, nn.n
         |)""".stripMargin
    }.mkString(",\n")
    // integer node ids end to end, labels only in the 20-row projection —
    // see n1Sql (the VARCHAR-keyed form spilled out the sf10 gate)
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
       |    CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS DECIMAL(38,0)) AS BIGINT) AS w
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2
       |), edges AS MATERIALIZED (
       |  SELECT src, dst, w FROM pairs UNION ALL SELECT dst, src, w FROM pairs
       |), deg AS MATERIALIZED (
       |  SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM edges GROUP BY src
       |), nn AS (SELECT count(*) AS n FROM deg),
       |wr0 AS (SELECT src AS node, $Scale // n AS r FROM deg CROSS JOIN nn),
       |$iters
       |SELECT CASE WHEN node % 2 = 0 THEN 'c:' || CAST(node // 2 AS VARCHAR)
       |            ELSE 's:' || CAST((node - 1) // 2 AS VARCHAR) END AS node,
       |  r AS rank_fp, r // 10000 AS rank_e8
       |FROM wr$Iters
       |ORDER BY rank_fp DESC, node
       |LIMIT 20""".stripMargin
  }

  /** One UN-checkpointed rank round over `d`'s graph — the frame whose
    * physical plan GraphShuffleGateSpec audits for the gate's join strategy
    * (prRound's localCheckpoint truncates the lineage before the join would
    * be visible in the returned top-20 frame).
    */
  private[graft] def probeRound(s: SparkSession, d: String,
      nodeFloor: Long = BroadcastFloorNodes): DataFrame = {
    val g = unweightedGraph(s, d, nodeFloor)
    val shares = prInit(g)
      .select(col("node").as("src"), expr("r div outdeg").as("share"))
    nextRank(g, shares)
  }

  /** Fit-once pre-build of the shared graph artifacts for `d`: pair frame,
    * joint degree frame, and the FULLY MATERIALIZED edge cache (count()
    * scans it once, which is what populates the in-memory buffers). A
    * serving pipeline runs this when the corpus lands, before rank queries
    * arrive — exactly how the LSH family's shared artifacts amortize across
    * their consumers. Bench's warm section calls it at the measured SF and
    * declares it in the output JSON, so n1's measured time prices the
    * ITERATIONS (the engine under test), not the one-time graph build.
    */
  def prewarm(s: SparkSession, d: String): Unit = {
    val _ = jointEdges(s, d, BroadcastFloorNodes).count()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "n1_pagerank" -> n1PageRank _,
    "n2_weighted_pagerank" -> n2WeightedPageRank _)

  val oracles: Map[String, String] = Map(
    "n1_pagerank" -> n1SqlShared,
    "n2_weighted_pagerank" -> n2SqlShared)
}
