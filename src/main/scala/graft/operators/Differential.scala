package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{InputScale, Tables}

/** DIFFERENTIAL verification surface (round 10): second, algorithmically
  * different implementations of the chains whose DuckDB oracles are
  * infeasible at the sf100 rung (PLANS.md round 9: the d9 component chain
  * OOMed DuckDB at 44 GiB + 45 GiB spill; s7's IVF-PQ training chain blew
  * the 55 min cap). Each twin reproduces its shipped query BIT-FOR-BIT —
  * integer/decimal arithmetic is order-free and every double is produced by
  * the exact same IEEE operation sequence, only the ALGORITHM and plan
  * differ — so an in-engine compare at any scale is real correctness
  * evidence, not a re-run of the same code:
  *
  *  - v1 — connected components via alternating LARGE-STAR / SMALL-STAR
  *    (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond")
  *    vs the shipped min-label propagation (`Dedup.dupLabels`). Also
  *    re-derives c2's canonical keeper with a per-component row_number
  *    window vs the shipped max_by aggregate.
  *  - v2 — d11's duplicated-span union via a per-document INTERVAL-MERGE
  *    array fold (sorted collect + in-order aggregate) vs the shipped
  *    lag-window.
  *  - v3 — s7's IVF-PQ scores from an independently trained+encoded index:
  *    Lloyd assignment by explode + partial-combinable struct-min (vs the
  *    compiled `graft_cell_top` insertion pass), centroid means by
  *    posexplode + DECIMAL(28,14) sums (vs the `graft_vecsum_dec`
  *    aggregate), PQ codes by explode-argmin (vs `element_at(graft_cell_top
  *    ...)`), reconstruction and scoring by the same expressions as s7.
  *  - v4 — t21's BPE token-id sequences with a MIN-RANK FIXED-POINT encoder
  *    (vs the shipped rank-ordered rule fold), join-count alphabet ids (vs
  *    the row_number window) and flat token-level doc assembly (vs the
  *    two-level word-array flatten). t21's own DuckDB oracle OOMs at sf100
  *    (non-spillable ordered sequence assembly, 105 GB cap, zero spill).
  *  - v5 — t22's trained-tokenizer packing with an imperative per-shard
  *    mapPartitions prefix scan (vs the shipped window cumsum), counts off
  *    the v4 encode chain.
  *  - v6 (r11) — t23's materialized pack sequences by flat token-level
  *    explode/re-aggregate (vs the shipped doc-local slice split), riding
  *    the v4 ids + v5 layout so the whole chain is independently derived.
  *  - v7/v8 (r11) — e1/e3 re-derived by the alt Lloyd (explode-argmin +
  *    posexplode DECIMAL means vs `graft_cell_top`/`graft_vecsum_dec`).
  *  - v9/v10 (r12) — n1/n2's integer PageRank re-derived from the shared
  *    pair artifact with full-outer-join degrees and explode-both-
  *    directions rounds (vs the materialized bidirected edge cache), so
  *    the graph family has in-engine evidence at the rungs where the
  *    oracle's billions-of-pairs materialized CTEs cannot run.
  *
  * All three are wired as ORACLED queries (reusing the shipped oracles —
  * same result contract), so the sf0.01 driver gate checks the twins
  * against DuckDB too; `ScaleProbe diffv` runs the in-engine compares at
  * the scale rungs where DuckDB cannot.
  */
object Differential {

  /** Eager localCheckpoint plus a release handle on the persisted RDD, so a
    * fixed-point loop can drop the PREVIOUS round's blocks the moment the
    * next round materializes (ADVICE r10: the v4 loop otherwise parks up to
    * merge-count+64 vocab-sized snapshots in executor storage for the whole
    * session, and the sf100 long drives are disk/memory-sensitive). The
    * released RDD is never referenced again — its consumer is the next
    * round's checkpoint, already materialized when release fires.
    */
  /** localCheckpoint + a release thunk that unpersists the checkpoint's RDD
    * blocks. Exposed package-private so DifferentialSpec can assert the
    * LogicalRDD match actually fires (ADVICE r11: if a future Spark version
    * wraps the post-checkpoint plan, release would silently degrade to a
    * no-op and the r10 storage-accumulation regression would return with no
    * signal — the spec pins that release() really drops the blocks).
    */
  private[operators] def checkpointTracked(df: DataFrame): (DataFrame, () => Unit) = {
    val out = df.localCheckpoint() // eager: blocks exist before we return
    val release: () => Unit = out.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        () => { l.rdd.unpersist(blocking = false); () }
      case _ => () => ()
    }
    (out, release)
  }

  // ---------------------------------------------------------------------------
  // v1 — two-star connected components

  /** Undirected view (both directions, self-loops dropped). NOT
    * deduplicated (r13 optimization): every frame that reaches the star
    * rounds is a DISTINCT one-orientation edge set — the initial edges are
    * scoredPairs' doc_a < doc_b pairs run through a distinct, and both star
    * outputs end in their own distinct with every emitted edge pointing
    * big → small — so the two orientations this union produces cannot
    * collide and the old per-round dedup exchange here was provably a
    * no-op (min-aggregation and the final distincts are duplicate-safe
    * regardless). One corpus-pair-sized shuffle saved per round, at every
    * scale. */
  private def symmetrize(e: DataFrame): DataFrame =
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst"))

  /** Large-star: every node u connects its LARGER neighbors to
    * m(u) = min(N(u) ∪ {u}); emitted edges always point big → small, so no
    * self-loop can arise (m(u) <= u < v).
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val und = symmetrize(e)
    val m = und.groupBy("src").agg(min(col("dst")).as("mn"))
      .select(col("src"), least(col("src"), col("mn")).as("m"))
    und.where(col("dst") > col("src"))
      .join(m, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** Small-star: orient every edge (max, min); each node u connects its
    * SMALLER neighbors (and itself) to m(u) = min of those neighbors.
    * `or` is not deduplicated for the same reason symmetrize isn't: its
    * input is a distinct edge set in a single orientation, and the
    * greatest/least normalization is a bijection on such a set.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val or = e.select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
    val m = or.groupBy("u").agg(min(col("v")).as("m"))
    or.join(m, "u")
      .select(col("v").as("src"), col("m").as("dst"))
      .union(m.select(col("u").as("src"), col("m").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** Alternate LS/SS to the fixed point (per-component stars), then read the
    * labels off the star edges. Returns (doc_id, label) for EDGE-TOUCHED
    * nodes — the same contract as [[Dedup.dupLabels]].
    */
  private[graft] def twoStarLabels(edges0: DataFrame): DataFrame = {
    val nodes = symmetrize(edges0).select(col("src").as("doc_id")).distinct()
    // localCheckpoint EVERY round: each star stage references its input
    // frame several times (symmetrize union + the min join + the probe), so
    // an uncheckpointed round multiplies the plan tree ~16x — five rounds of
    // that is a million-node plan (driver OOM just rendering it). The
    // checkpointed frames are edge-set-sized.
    var (e, releaseE) = checkpointTracked(edges0.select(col("src"), col("dst")).distinct())
    var prevCount = e.count()
    var converged = false
    var round = 0
    while (!converged) {
      round += 1
      require(round <= 50, s"two-star CC failed to converge in 50 rounds")
      val (next, releaseNext) = checkpointTracked(smallStar(largeStar(e)))
      val nextCount = next.count()
      // sets are distinct: equal counts + empty one-way anti-join ⇒ equal
      converged = nextCount == prevCount &&
        next.join(e, Seq("src", "dst"), "left_anti").isEmpty
      releaseE() // previous round's blocks — the compare above was its last use
      e = next
      releaseE = releaseNext
      prevCount = nextCount
    }
    // at the fixed point every non-root points at its component min; roots
    // never appear as src (they are only ever the m), so they label to self
    // via the coalesce
    val lbl = e.groupBy("src").agg(min(col("dst")).as("l"))
    nodes.join(lbl, nodes("doc_id") === lbl("src"), "left")
      .select(col("doc_id"), coalesce(col("l"), col("doc_id")).as("label"))
  }

  /** Differential twin of [[Dedup.componentLabels]]: same edge artifact
    * (the oracle-checked scored pairs), independent component algorithm,
    * independent canonical selection (window rank vs max_by). Memoized —
    * fit-once state exactly like the shipped chain.
    */
  private[graft] def altComponentLabels(s: SparkSession, d: String): DataFrame =
    ArtifactCache.getOrElseUpdate("diff.components", s, d) {
      val dupPairs = Dedup.scoredPairs(s, d)
        .where(col("est_jaccard") >= 0.7)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      // on a small corpus the star rounds' stages are KB-sized: both AQE
      // re-planning AND 32-task shuffle floors dominate — the same gate and
      // regime as the shipped chain's builds (Dedup.componentLabels);
      // at scale neither conf flips
      InputScale.withSmallBuild(s, InputScale.smallDocs(s, d)) {
        val labels = twoStarLabels(dupPairs)
        val quality = TextOps.qualityFrame(s, d).select("doc_id", "quality")
        // canonical = rank-1 of (quality DESC, doc_id ASC) per component —
        // the window formulation of the shipped max_by(doc_id,
        // struct(quality, -doc_id)) champion
        val w = Window.partitionBy("label")
          .orderBy(col("quality").desc, col("doc_id").asc)
        val best = labels.join(quality, "doc_id")
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("label"), col("doc_id").as("best_doc"))
        val enriched = labels.join(best, Seq("label"), "left")
        val out = quality.join(enriched, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("label"), col("doc_id")).as("component"),
            (col("doc_id") === coalesce(col("label"), col("doc_id"))).as("kept"),
            col("quality"),
            coalesce(col("doc_id") === col("best_doc"), lit(true)).as("canonical"))
          .cache()
        out.count()
        out
      }
    }

  private def v1CcTwostar(s: SparkSession, d: String): DataFrame =
    altComponentLabels(s, d)
      .select("doc_id", "component", "kept").orderBy("doc_id")

  // ---------------------------------------------------------------------------
  // v2 — duplicated-span union via interval-merge fold

  /** Differential twin of d11: same gram keys (the hash is the shared data
    * contract), duplication status and the span-union both re-expressed —
    * the union as a per-doc sorted-positions array fold with NO window
    * operator anywhere in the plan. The fold seeds prev = pos0 - SpanN so
    * the first gram contributes exactly SpanN, like the shipped
    * coalesce(prev, pos - SpanN).
    */
  private def v2SpansMerge(s: SparkSession, d: String): DataFrame = {
    graft.Graft.setup(s)
    val SpanN = Dedup.SpanN
    val grams = Tables.documentsSpread(s, d)
      .withColumn("toks", split(expr(Dedup.normExpr), " "))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .where(col("n_toks") >= SpanN)
      .select(col("doc_id"), col("n_toks"), posexplode(expr(
        s"transform(sequence(1, size(toks) - ${SpanN - 1}), " +
          s"i -> graft_hash60(array_join(slice(toks, i, $SpanN), ' ')))")))
      .select(col("doc_id"), col("n_toks"), (col("pos") + 1).as("pos"), col("col").as("gh"))
    val dupGrams = grams.groupBy("gh").agg(count(lit(1)).as("occ"))
      .where(col("occ") >= 2).select("gh")
    grams.join(dupGrams, "gh")
      .groupBy("doc_id", "n_toks")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), col("n_toks"),
        size(col("ps")).cast("long").as("dup_grams"),
        expr(s"""aggregate(ps,
          named_struct('cov', CAST(0 AS BIGINT), 'prev', element_at(ps, 1) - $SpanN),
          (s, p) -> named_struct(
            'cov', s.cov + CAST(least($SpanN, p - s.prev) AS BIGINT),
            'prev', p),
          s -> s.cov)""").as("covered_toks"))
      .withColumn("dup_frac", col("covered_toks").cast("double") / col("n_toks"))
      .select("doc_id", "n_toks", "dup_grams", "covered_toks", "dup_frac")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------------
  // v3 — IVF-PQ re-derived: independent Lloyd + independent encode

  /** In-order squared-distance kernel over `v`/`c` — the same left-to-right
    * IEEE sequence as `graft_cell_top`'s compiled loop (and the oracle's
    * list_sum(list_transform ...)), so distances are bit-identical. Compiled
    * ([[graft.functions.SquaredDistance]]): the HOF-fold spelling of the
    * same sum was interpreted per element and cost 215 s at the sf10 rung —
    * the differential ALGORITHM (explode + partial-agg argmin) is the thing
    * under test, not an interpreter tax.
    */
  private val dist2Col: Column = expr("graft_dist2(v, c)")

  /** Lloyd assignment via k-row broadcast join + partial-combinable
    * struct-min argmin (ties to lowest cid — the same lexicographic
    * (dist2, cid) order as `graft_cell_top`). Returns (vec_id, cid, v).
    * The vector rides THROUGH the aggregate (`first` over rows that all
    * carry the same v) instead of re-joining afterwards — every round of
    * the old argmin-then-join form paid a corpus-sized sort-merge join
    * purely to re-attach v (part of the r10 `weak` on v3's cost).
    */
  private def assignAlt(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .withColumn("dist2", dist2Col)
      .groupBy("vec_id")
      .agg(min(struct(col("dist2"), col("cid"))).as("m"), first(col("v")).as("v"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("v"))

  /** Centroid update in the ORACLE's formulation: posexplode the dims,
    * exact DECIMAL(28,14) sum, cast to DOUBLE, divide by count — the
    * independent twin of `graft_vecsum_dec`.
    */
  private def updateAlt(assigned: DataFrame): DataFrame =
    assigned.select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("cid", "dim")
      .agg((sum(col("x").cast("decimal(28,14)")).cast("double")
        / count(lit(1))).as("m"))
      .groupBy("cid")
      .agg(expr("transform(array_sort(collect_list(struct(dim, m))), p -> p.m)").as("c"))
      .coalesce(1)

  private def kmeansAlt(vecs: DataFrame, cents0: DataFrame, iters: Int): DataFrame = {
    var cents = cents0
    for (it <- 1 to iters) {
      cents = updateAlt(assignAlt(vecs, cents))
      // per-round eager checkpoint kept — r14 measured the lazy-chain
      // variant and reverted it (nested broadcast builds serialize; see
      // Clustering.kmeans for the numbers)
      if (it < iters) cents = cents.localCheckpoint()
    }
    cents
  }

  // --- grouped (subspace-keyed) Lloyd: all M sub-codebooks in ONE plan ---
  // r10 verdict "what's wrong" #1: the sequential per-subspace foldLeft ran
  // 4 independent Lloyd chains plus 4 encode joins back-to-back (~11% of the
  // whole sf0.1 bench, >2x its own oracle). Adding a subspace column `m`,
  // exploding the slices once, and keying every step by (m, cid) collapses
  // the 4 chains into one pass — same explode-argmin ALGORITHM class (the
  // independence from the shipped `graft_cell_top` build is preserved), and
  // bit-identical per subspace: each m's distances, memberships, and
  // DECIMAL(28,14) means are computed over exactly the same rows by exactly
  // the same IEEE/exact operations, only co-scheduled with the other m's.

  /** (m, vec_id, v = the m-th PqSubDim-slice of `vcol`) for all M subspaces. */
  private def subSlices(df: DataFrame, vcol: String): DataFrame = {
    val sub = Similarity.PqSubDim
    df.select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${Similarity.PqM - 1}), " +
          s"m -> struct(m AS m, slice($vcol, m * $sub + 1, $sub) AS v))")).as("sv"))
      .select(col("sv.m").as("m"), col("vec_id"), col("sv.v").as("v"))
  }

  /** Grouped assign: argmin within each vector's OWN subspace — the
    * broadcast equi-join on m replaces M sequential crossJoins; the
    * struct-min tie-break (dist2, cid) is unchanged.
    */
  private def assignAltG(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.join(broadcast(cents), "m")
      .withColumn("dist2", dist2Col)
      .groupBy("m", "vec_id")
      .agg(min(struct(col("dist2"), col("cid"))).as("mm"), first(col("v")).as("v"))
      .select(col("m"), col("vec_id"), col("mm.cid").as("cid"), col("v"))

  /** Grouped centroid update — [[updateAlt]] keyed by (m, cid). */
  private def updateAltG(assigned: DataFrame): DataFrame =
    assigned.select(col("m"), col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("m", "cid", "dim")
      .agg((sum(col("x").cast("decimal(28,14)")).cast("double")
        / count(lit(1))).as("mu"))
      .groupBy("m", "cid")
      .agg(expr("transform(array_sort(collect_list(struct(dim, mu))), p -> p.mu)").as("c"))
      .coalesce(1)

  private def kmeansAltG(vecs: DataFrame, cents0: DataFrame, iters: Int): DataFrame = {
    var cents = cents0
    for (it <- 1 to iters) {
      cents = updateAltG(assignAltG(vecs, cents))
      // one checkpoint per round for ALL subspaces (was 4); r14 measured
      // removing it and reverted (see Clustering.kmeans)
      if (it < iters) cents = cents.localCheckpoint()
    }
    cents
  }

  /** Deterministic training sample — same integer-exact gate as
    * [[Similarity.trainSample]], with scalar (driver-literal) parameters
    * instead of the broadcast params frame.
    */
  private def sampleAlt(vecs: DataFrame, n: Long, k: Long): DataFrame = {
    val rate = (n + Similarity.TrainPerCell * k - 1) / (Similarity.TrainPerCell * k)
    if (rate <= 1) vecs
    else vecs.where(pmod(TextOps.hash60(col("vec_id").cast("string")), lit(rate)) === 0)
  }

  /** Independently trained coarse quantizer (same seeds, same math, alt
    * plan for every step). */
  private def altCents(s: SparkSession, d: String): DataFrame =
    ArtifactCache.getOrElseUpdate("diff.cents", s, d) {
      val e = Similarity.vecsD(s, d)
      val n = e.count()
      val k = math.max(8L, math.ceil(math.sqrt(n.toDouble)).toLong)
      val train = sampleAlt(e.select("vec_id", "v"), n, k)
      val cents0 = train.orderBy("vec_id").limit(k.toInt)
        .select(col("vec_id").as("cid"), col("v").as("c"))
      val out = kmeansAlt(train, cents0, Similarity.IvfIters).cache()
      out.count()
      out
    }

  /** Independently encoded + reconstructed IVF-PQ index:
    * (vec_id, cell, v, nrm, rv, rnrm) — the same contract as
    * `Similarity.ivfpqRecon`, every float from the same IEEE op sequence.
    */
  private def altRecon(s: SparkSession, d: String): DataFrame =
    ArtifactCache.getOrElseUpdate("diff.ivfpq", s, d) {
      val e = Similarity.vecsD(s, d).cache()
      val cents = altCents(s, d)
      // home assignment with nrm riding through the argmin aggregate — the
      // assignAlt-then-join form paid TWO corpus SMJs (v and nrm re-joins)
      val home = e.select("vec_id", "v", "nrm").crossJoin(broadcast(cents))
        .withColumn("dist2", dist2Col)
        .groupBy("vec_id")
        .agg(min(struct(col("dist2"), col("cid"))).as("m"),
          first(col("v")).as("v"), first(col("nrm")).as("nrm"))
        .select(col("vec_id"), col("m.cid").as("cid"), col("v"), col("nrm"))
      val resid = home
        .join(broadcast(cents), "cid")
        .select(col("vec_id"), col("cid").as("cell"), col("v"), col("nrm"),
          expr("zip_with(v, c, (x, y) -> x - y)").as("r"), col("c"))
        .cache()
      val nR = resid.count()
      val trainR = sampleAlt(resid.select(col("vec_id"), col("r").as("v")),
        nR, Similarity.PqK)
      // ALL M sub-codebooks in one grouped Lloyd (see the subSlices block
      // above): k lowest-vec_id seeds per subspace (the same ids for every m
      // — they are trainR's k lowest), then the same per-subspace 0-based
      // renumbering (row_number over cid WITHIN m) as the shipped build
      val cents0 = subSlices(trainR.orderBy("vec_id").limit(Similarity.PqK), "v")
        .select(col("m"), col("vec_id").as("cid"), col("v").as("c"))
      val codebook = kmeansAltG(subSlices(trainR, "v"), cents0, Similarity.IvfIters)
        .withColumn("cid",
          row_number().over(Window.partitionBy("m").orderBy("cid")).cast("long") - 1)
        .localCheckpoint()
      // encode every residual sub-slice by explode-argmin against its OWN
      // subspace codebook (one broadcast equi-join on m), then reassemble
      // the M winning centroids in subspace order for the reconstruction
      val codes = subSlices(resid.select(col("vec_id"), col("r")), "r")
        .join(broadcast(codebook), "m")
        .withColumn("dist2", dist2Col)
        .groupBy("m", "vec_id")
        .agg(min(struct(col("dist2"), col("cid"))).as("mm"))
        .select(col("m"), col("vec_id"), col("mm.cid").as("cid"))
      val rr = codes.join(broadcast(codebook), Seq("m", "cid"))
        .groupBy("vec_id")
        .agg(expr("flatten(transform(array_sort(collect_list(struct(m, c))), p -> p.c))")
          .as("rr"))
      val out = resid.join(rr, "vec_id")
        .withColumn("rv", expr("zip_with(c, rr, (x, y) -> x + y)"))
        .withColumn("rnrm", sqrt(expr("graft_dot(rv, rv)")))
        .select("vec_id", "cell", "v", "nrm", "rv", "rnrm")
        .cache()
      out.count()
      resid.unpersist()
      out
    }

  /** The s7 result frame from the alt index — same probes, same scoring
    * expressions; the probe ranking is a window top-NProbe (tiny: 5 query
    * vectors) instead of `graft_cell_top`.
    */
  private def v3IvfpqAdc(s: SparkSession, d: String): DataFrame = {
    // the alt chain's builds are chattier than the shipped one by design
    // (two iterative Lloyd chains with per-round sync); below the vec floor
    // both AQE re-planning AND 32-task floors dominate its KB-sized stages,
    // so the build also drops to 8 shuffle partitions (restored after —
    // never flips at scale, where the session's sizing applies)
    val recon = InputScale.withSmallBuild(s, InputScale.smallVecs(s, d))(altRecon(s, d))
    val e = Similarity.vecsD(s, d)
    val cents = altCents(s, d)
    val probeW = Window.partitionBy("vec_id").orderBy(col("dist2"), col("cid"))
    val probes = e.where(col("vec_id") >= 200 && col("vec_id") < 205)
      .crossJoin(broadcast(cents))
      .withColumn("dist2", dist2Col)
      .withColumn("crk", row_number().over(probeW))
      .where(col("crk") <= Similarity.NProbe)
      .select(col("vec_id").as("qid"), col("v").as("ad"), col("nrm").as("na"),
        col("cid").as("cell"))
    val assigned = recon.select(col("vec_id").as("cid"), col("cell"),
      col("v").as("bd"), col("nrm").as("nb"), col("rv").as("qb"), col("rnrm").as("qnb"))
    val w = Window.partitionBy(col("qid")).orderBy(col("qcos").desc, col("cid"))
    broadcast(probes).join(assigned, Seq("cell"))
      .where(col("qid") =!= col("cid"))
      .withColumn("qcos", expr("graft_dot(ad, qb)") / (col("na") * col("qnb")))
      .withColumn("cos", Similarity.cosCol)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("qid"), col("rk"), col("cid"), col("cell"),
        round(col("qcos"), 6).as("ivfpq_cos_r"), round(col("cos"), 6).as("cos_r"),
        round(abs(col("qcos") - col("cos")), 6).as("abs_err_r"))
      .orderBy("qid", "rk")
  }

  // ---------------------------------------------------------------------------
  // v4 — BPE token-id sequences re-derived: min-rank fixed-point encode

  /** One left-to-right non-overlapping merge pass of the word's pair
    * (`l`, `r`) over its pieces array — the array-walk twin of the shipped
    * boundary-doubled string rewrite (and of the driver reference's
    * `applyRules` skip loop: "a a a" with rule (a,a) -> ["aa","a"]). The
    * acc-last check IS the skip: a just-merged piece is `l || r`, which can
    * never equal `l` again (symbols are non-empty), so no chained
    * re-merging within the pass.
    */
  private val mergePassExpr = expr(
    """aggregate(ps, CAST(array() AS ARRAY<STRING>),
      | (acc, p) -> CASE
      |   WHEN size(acc) > 0 AND element_at(acc, -1) = l AND p = r
      |     THEN concat(slice(acc, 1, size(acc) - 1), array(concat(l, r)))
      |   ELSE concat(acc, array(p)) END)""".stripMargin)

  /** Differential twin of [[TextOps.encodedVocab]]: every distinct corpus
    * word encoded by the SAME trained rule table (t19's output — itself
    * DuckDB-confirmed at every rung through t20's oracle), but via the
    * classic MIN-RANK FIXED-POINT: each round every still-mergeable word
    * finds the lowest-rank rule whose pair is adjacent in its pieces and
    * merges all its occurrences, until no rule applies anywhere — vs the
    * shipped single rank-ordered fold over the rule array. Equivalence is
    * the standard BPE property (a rank-k pair can only be adjacent once all
    * lower ranks are exhausted, because its symbols are constructible only
    * from lower-ranked merges); DifferentialSpec pins it bit-for-bit.
    * Rounds are bounded by merges-applied-per-word <= pieces - 1.
    */
  private[graft] def altEncodedPieces(s: SparkSession, d: String): DataFrame =
    ArtifactCache.getOrElseUpdate("diff.bpePieces", s, d) {
      // r13 optimization note: a small-corpus shuffle-partition override was
      // measured here and reverted — the fixed point's wall is the per-round
      // driver sync (isEmpty + checkpoint jobs) and the merge-pass compute,
      // not reduce-task floors (build time was flat with the gate on, and
      // the 8-partition cached pieces cost v6's token explode parallelism)
      val rules = TextOps.t19BpeTrain(s, d)
        .select(col("lhs").as("l"), col("rhs").as("r"),
          col("merge_idx").cast("long").as("rk"))
        .cache()
      // ADVICE r10: the min-rank fixed-point equals the shipped rank-ordered
      // fold only if no merge's OUTPUT string aliases a LOWER-ranked rule's
      // lhs/rhs — e.g. rules (abc,d)@j and a later merge@k>j producing "abc"
      // via a different decomposition would let the fixed-point resurrect
      // rank j after the one-pass fold had moved past it. Assert it at
      // rule-load time (driver-side, merge-count-sized — trivially bounded).
      val rtab = rules.collect()
        .map(r => (r.getAs[String]("l"), r.getAs[String]("r"), r.getAs[Long]("rk")))
      val sideMinRank = rtab.iterator
        .flatMap { case (l, r, k) => Iterator(l -> k, r -> k) }
        .toSeq.groupMapReduce(_._1)(_._2)(math.min)
      for ((l, r, k) <- rtab; j <- sideMinRank.get(l + r))
        require(j >= k, s"BPE symbol aliasing: merge rank $k output '${l + r}' " +
          s"is a rank-$j rule symbol — min-rank fixed-point would diverge " +
          "from the rank-ordered fold on this table")
      val vocab = TextOps.docWords(s, d).select("word").distinct()
      // seq0 (the per-char split) is the shared data contract, like v2
      // shares normExpr — char-splitting must agree or nothing downstream can
      var (cur, releaseCur) = checkpointTracked(vocab
        .select(col("word"), split(TextOps.seq0Expr, TextOps.BpeSep).as("ps")))
      val maxRounds = TextOps.BpeMerges + 64
      var done = false
      var round = 0
      while (!done) {
        round += 1
        require(round <= maxRounds,
          s"min-rank BPE fixed-point failed to converge in $maxRounds rounds")
        // lowest-rank applicable rule per word (rule table is merge-count
        // sized — structurally bounded, so the broadcast hint is safe)
        val best = cur.where(size(col("ps")) >= 2)
          .select(col("word"), explode(expr(
            """transform(sequence(1, size(ps) - 1),
              | i -> struct(element_at(ps, i) AS l, element_at(ps, i + 1) AS r))"""
              .stripMargin)).as("pr"))
          .select(col("word"), col("pr.l").as("l"), col("pr.r").as("r"))
          .join(broadcast(rules), Seq("l", "r"))
          .groupBy("word").agg(min(col("rk")).as("rk"))
        val bestRule = best.join(broadcast(rules), "rk")
          .select(col("word"), col("l"), col("r"))
        // r14 (guide §5 driver / r13 verdict #5): ONE execution of the heavy
        // explode+join+argmin subtree per round. The old shape ran it twice
        // — once under `best.isEmpty`, once again inside the checkpoint's
        // join — so every round paid the vocab pass double. The round's only
        // heavy action is now the eager checkpoint, which carries a
        // persisted `merged` flag; the convergence probe reads the persisted
        // blocks, never recomputing the subtree. The final (no-merge) round
        // checkpoints an unchanged ps column — identical rows to the old
        // loop's last snapshot, one extra vocab-sized persist in exchange
        // for halving every earlier round.
        //
        // vocab-sized checkpoint truncates the per-round lineage; the
        // PREVIOUS round's blocks release as soon as this one exists
        // (ADVICE r10 — keep only the latest snapshot, not all rounds)
        val (next, releaseNext) = checkpointTracked(
          cur.join(bestRule, Seq("word"), "left")
            .select(col("word"),
              when(col("l").isNull, col("ps")).otherwise(mergePassExpr).as("ps"),
              col("l").isNotNull.as("merged")))
        done = next.where(col("merged")).isEmpty // persisted-block scan only
        releaseCur()
        cur = next.select("word", "ps")
        releaseCur = releaseNext
      }
      val out = cur.cache()
      out.count()
      // the LAST checkpoint stays: it is the cache's recompute source if a
      // cached partition is ever dropped (a released localCheckpoint cannot
      // be rebuilt — its lineage is truncated). One vocab-sized snapshot.
      rules.unpersist(blocking = false)
      out
    }

  /** Differential twin of t21: same trained rules and char-split contract,
    * then (a) min-rank fixed-point encode vs the rank-ordered fold, (b)
    * base-alphabet ids by count-strictly-smaller aggregation vs the
    * row_number window (identical total order — both are Spark string
    * comparison), (c) ONE FLAT token-level assembly sorted by
    * (pos, pi) vs the shipped two-level word-array flatten. All-integer /
    * string arithmetic — no IEEE sequencing to mirror; the final projection
    * (incl. the portable 60-bit sequence hash) is the shared result
    * contract.
    */
  /** The per-document id sequences (doc_id, ids) of the ALT chain —
    * memoized like the shipped [[TextOps.docIdSeqs]] because v6's pack
    * assembly consumes it again (same tokenize-once shape, independent
    * derivation end to end).
    */
  private[graft] def altDocIdSeqs(s: SparkSession, d: String): DataFrame =
    ArtifactCache.getOrElseUpdate("diff.docIdSeqs", s, d) {
      val pieces = altEncodedPieces(s, d)
      val chars = pieces
        .select(explode(split(TextOps.seq0Expr, TextOps.BpeSep)).as("sym"))
        .distinct()
      val base = chars.as("a")
        .join(chars.withColumnRenamed("sym", "lt").as("b"),
          col("lt") < col("sym"), "left_outer")
        .groupBy("sym").agg(count(col("lt")).as("id"))
      val nBase = chars.count() // alphabet-sized driver scalar
      val mergedTab = TextOps.t19BpeTrain(s, d)
        .select(concat(col("lhs"), col("rhs")).as("sym"),
          (col("merge_idx").cast("long") + lit(nBase - 1)).as("id"))
      val symtab = base.select("sym", "id").union(mergedTab)
        .groupBy("sym").agg(min(col("id")).as("id"))
      val wordPieces = pieces
        .select(col("word"), posexplode(col("ps")).as(Seq("pi", "sym")))
        .join(symtab, "sym")
      val out = TextOps.docWords(s, d).join(wordPieces, "word")
        .groupBy("doc_id")
        .agg(expr("transform(array_sort(collect_list(struct(pos, pi, id))), t -> t.id)")
          .as("ids"))
        .cache()
      out.count()
      out
    }

  private def v4BpeIds(s: SparkSession, d: String): DataFrame = {
    graft.Graft.setup(s)
    altDocIdSeqs(s, d)
      .select(col("doc_id"),
        size(col("ids")).cast("long").as("n_bpe_tokens"),
        element_at(col("ids"), 1).as("first_id"),
        element_at(col("ids"), -1).as("last_id"),
        expr("graft_hash60(array_join(transform(ids, i -> CAST(i AS STRING)), ','))")
          .as("ids_h"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------------
  // v5 — trained-tokenizer packing via an imperative per-shard scan

  /** Differential twin of t22: per-doc model-token counts from the alt
    * encode chain (docWords joined straight to alt piece counts — no
    * (doc, word) pre-aggregate), then the pack layout from an IMPERATIVE
    * per-shard prefix scan — all rows of a shard hashed into one partition,
    * sorted by doc_id, a linear mapPartitions walk carrying the running
    * total — vs the shipped window cumsum. The shard hash and the
    * pack_id/offset arithmetic are the shared contract; everything is
    * integer-exact.
    */
  private def altPackLayout(s: SparkSession, d: String): DataFrame = {
    val np = altEncodedPieces(s, d)
      .select(col("word"), size(col("ps")).cast("long").as("np"))
    val counts = TextOps.docWords(s, d).join(np, "word")
      .groupBy("doc_id").agg(sum(col("np")).as("n_tokens"))
    import s.implicits._
    val scanned = counts
      .withColumn("shard",
        (TextOps.hash60F(s, concat(lit("pack:"), col("doc_id").cast("string")))
          % TextOps.PackShards).cast("int"))
      .select(col("shard"), col("doc_id"), col("n_tokens"))
      .repartition(TextOps.PackShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .as[(Int, Long, Long)]
      .mapPartitions { it =>
        // a partition may hold several whole shards (hash residue), never a
        // partial one; rows arrive (shard, doc_id)-sorted, so a shard change
        // resets the running total
        var curShard = Int.MinValue
        var cum = 0L
        it.map { case (sh, doc, n) =>
          if (sh != curShard) { curShard = sh; cum = 0L }
          cum += n
          (doc, sh, n, cum)
        }
      }.toDF("doc_id", "shard", "n_tokens", "cum")
    scanned.select(col("doc_id"), col("shard"), col("n_tokens"),
      expr(s"(cum - n_tokens) div ${TextOps.PackSize}").cast("int").as("pack_id"),
      expr(s"(cum - n_tokens) % ${TextOps.PackSize}").cast("int").as("pack_offset"))
  }

  private def v5PackBpe(s: SparkSession, d: String): DataFrame =
    altPackLayout(s, d).orderBy("doc_id")

  // ---------------------------------------------------------------------------
  // v7/v8 — clustering re-derived: alt Lloyd for e1/e3

  /** Differential twin of `Clustering.finalAssign`: same seeds (K lowest
    * vec_ids) and iteration count, but every step by the ALT machinery —
    * explode-argmin assignment (crossJoin + struct-min aggregate vs the
    * shipped zero-shuffle `graft_cell_top` projection) and posexplode +
    * DECIMAL(28,14)-sum centroid means (the oracle formulation, vs the
    * shipped compiled `graft_vecsum_dec` aggregate). Distances come from
    * the same in-order IEEE kernel (`graft_dist2` ≡ `graft_cell_top`'s
    * loop), so the final (vec_id, cid, dist2) frame is bit-identical.
    * e1's oracle DID run at sf100 (r9), but DuckDB degrades at the rung —
    * the twin makes the clustering family self-verifying there too (r10
    * verdict #6).
    */
  private[graft] def altFinalAssign(s: SparkSession, d: String): DataFrame =
    ArtifactCache.getOrElseUpdate("diff.kmeans", s, d) {
      InputScale.withSmallBuild(s, InputScale.smallVecs(s, d)) {
        graft.Graft.setup(s)
        val vecs = Tables.embeddings(s, d)
          .select(col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        val cents0 = vecs.orderBy("vec_id").limit(Clustering.K)
          .select(col("vec_id").as("cid"), col("v").as("c"))
        val cents = kmeansAlt(vecs, cents0, Clustering.Iters)
        val out = vecs.crossJoin(broadcast(cents))
          .withColumn("dist2", dist2Col)
          .groupBy("vec_id")
          .agg(min(struct(col("dist2"), col("cid"))).as("m"))
          .select(col("vec_id"), col("m.cid").as("cid"), col("m.dist2").as("dist2"))
          .cache()
        out.count()
        out
      }
    }

  private def v7Kmeans(s: SparkSession, d: String): DataFrame =
    altFinalAssign(s, d)
      .select(col("vec_id"), col("cid").as("cluster"),
        floor(col("dist2") * 1000000).cast("long").as("dist2_fp"))
      .orderBy("vec_id")

  private def v8Inertia(s: SparkSession, d: String): DataFrame =
    altFinalAssign(s, d)
      .groupBy(col("cid").as("cluster"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("dist2").cast("decimal(28,14)")).cast("double").as("inertia"))
      .select(col("cluster"), col("n"),
        floor(col("inertia") * 1000000).cast("long").as("inertia_fp"),
        floor(col("inertia") / col("n") * 1000000).cast("long").as("mean_dist2_fp"))
      .orderBy("cluster")

  // ---------------------------------------------------------------------------
  // v6 — materialized pack sequences via FLAT TOKEN-LEVEL assembly

  /** Differential twin of t23: per-doc ids from the alt encode chain
    * ([[altDocIdSeqs]] — min-rank fixed-point, count-based alphabet ids),
    * the pack layout from the alt mapPartitions scan ([[v5PackBpe]]), and
    * the per-pack arrays assembled by EXPLODING EVERY TOKEN to its own row
    * with a global stream position (gpos = pack start + offset-in-doc) and
    * re-aggregating by floor(gpos / P) — vs the shipped doc-local
    * slice-per-pack split that never leaves array space. Pack membership,
    * ordering, and the final projection (incl. the 60-bit sequence hash)
    * are the shared result contract; everything is integer arithmetic.
    */
  private def v6PackSequences(s: SparkSession, d: String): DataFrame = {
    graft.Graft.setup(s)
    val P = TextOps.PackSize
    val toks = altDocIdSeqs(s, d)
      .select(col("doc_id"), posexplode(col("ids")).as(Seq("ti", "id")))
    altPackLayout(s, d).join(toks, "doc_id")
      .select(col("shard"), col("doc_id"), col("id"),
        (col("pack_id").cast("long") * P + col("pack_offset") + col("ti")).as("gpos"))
      .withColumn("pk", expr(s"CAST(gpos div $P AS INT)"))
      .groupBy("shard", "pk")
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        expr("transform(array_sort(collect_list(struct(gpos, id))), t -> t.id)").as("ids"))
      .select(col("shard"), col("pk").as("pack_id"), col("n_docs"),
        size(col("ids")).cast("long").as("n_tokens"),
        element_at(col("ids"), 1).as("first_id"),
        element_at(col("ids"), -1).as("last_id"),
        expr("graft_hash60(array_join(transform(ids, i -> CAST(i AS STRING)), ','))")
          .as("ids_h"))
      .orderBy("shard", "pack_id")
  }

  // ---------------------------------------------------------------------------
  // v9/v10 (r12) — the PageRank family's twins, closing the graph chain's
  // fourth decade where both the direct-join edge build (disk) and the
  // DuckDB oracle (materialized billions-of-pairs CTEs) are infeasible.
  // Same shared oracle-checked artifact as every twin family (the weighted
  // pair frame — n1/n2's own hash-gated build, or the bucketed-ingest
  // parquet at the rungs), INDEPENDENT algorithm: degrees via a FULL OUTER
  // JOIN of per-direction counts (vs the bidirected-union groupBy), each
  // round a SINGLE pass over the UNDIRECTED pairs joined with the rank
  // frame on BOTH endpoints, every pair exploding into its two directed
  // contributions (vs n1's materialized bidirected edge cache + one
  // directed join). Integer fixed-point arithmetic is order-free, so the
  // term multisets — hence every rank — are bit-identical by construction.

  private val PrScale = 1000000000000L // 10^12 fixed-point, == GraphOps
  private val PrIters = 3

  /** The alt degree frame: per-direction counts full-outer-joined. On the
    * bipartite graph both sides are non-overlapping id spaces, so the
    * coalesce arms are exact.
    */
  private def altDeg(pairs: DataFrame, weighted: Boolean): DataFrame = {
    val (aggS, aggD) =
      if (weighted) (sum(col("w")).as("c1"), sum(col("w")).as("c2"))
      else (count(lit(1)).as("c1"), count(lit(1)).as("c2"))
    pairs.groupBy(col("src").as("node")).agg(aggS)
      .join(pairs.groupBy(col("dst").as("node")).agg(aggD), Seq("node"), "full_outer")
      .select(col("node"),
        (coalesce(col("c1"), lit(0L)) + coalesce(col("c2"), lit(0L))).as("outdeg"))
  }

  private def prTop20Alt(r: DataFrame): DataFrame = {
    val label = when(col("node") % 2 === 0, concat(lit("c:"), expr("node div 2").cast("string")))
      .otherwise(concat(lit("s:"), expr("(node - 1) div 2").cast("string")))
    r.select(label.as("node"), col("r"))
      .orderBy(col("r").desc, col("node"))
      .limit(20)
      .select(col("node"), col("r").as("rank_fp"), expr("r div 10000").as("rank_e8"))
  }

  /** One explode-both-directions fixed-point run; `weighted` selects n2's
    * split-multiplication share formula (bit-exact floor(r*w/W)).
    */
  private def altRankFrame(s: SparkSession, d: String, weighted: Boolean): DataFrame = {
    val pairs = GraphOps.weightedPairs(s, d)
    // node-sized; flattened once (and memoized — v9/v10 run back to back in
    // the suite) so the per-round deg rejoin reads a materialized frame
    // instead of re-aggregating the pair volume
    val deg = ArtifactCache.getOrElseUpdate(
        if (weighted) "diff.graphWdeg" else "diff.graphDeg", s, d) {
      altDeg(pairs, weighted).localCheckpoint()
    }
    val nNodes = deg.count()
    val tele = (PrScale / nNodes * 15L) / 100L
    // the same trade-graph gate as GraphOps' edge build, from lineitem
    val small = InputScale.smallTradeGraph(s, d)
    InputScale.withSmallBuild(s, small) {
      var (r, release) = checkpointTracked(
        deg.select(col("node"), col("outdeg"), lit(PrScale / nNodes).as("r")))
      for (_ <- 1 to PrIters) {
        val rs = r.select(col("node").as("src"), col("r").as("r_s"), col("outdeg").as("wo_s"))
        val rd = r.select(col("node").as("dst"), col("r").as("r_d"), col("outdeg").as("wo_d"))
        // hash-build on the node-sized rank side: the pair volume streams
        // through both joins without the SMJ sort spill that would double
        // the rung's scratch footprint (physical strategy only — the
        // term multiset, hence every rank, is unchanged).
        // r14 (guide §2.4 / r13 verdict): the receiving node's outdeg RIDES
        // the contribution rows (struct(dst, wo_d, …) / struct(src, wo_s,
        // …)) and is re-read off the aggregate with min() — every row
        // targeting a node carries that node's own outdeg, a constant per
        // group, so min() is exact — which removes the old per-round
        // node-sized `contribs.join(deg)` re-attach entirely. The extra 8
        // bytes/contribution combine away in the map-side partial aggregate;
        // one join (and its exchange) saved per round at every scale. The
        // node set is unchanged: every endpoint of every pair receives at
        // least one contribution, so the old inner join dropped nothing.
        val contribs = pairs
          .join(rs.hint("shuffle_hash"), "src")
          .join(rd.hint("shuffle_hash"), "dst")
          .select(explode(expr(
            if (weighted)
              "array(struct(dst AS node, wo_d AS od, (r_s div wo_s) * w + ((r_s % wo_s) * w) div wo_s AS share)," +
              " struct(src AS node, wo_s AS od, (r_d div wo_d) * w + ((r_d % wo_d) * w) div wo_d AS share))"
            else
              "array(struct(dst AS node, wo_d AS od, r_s div wo_s AS share)," +
              " struct(src AS node, wo_s AS od, r_d div wo_d AS share))")).as("t"))
          .select(col("t.node").as("node"), col("t.od").as("od"), col("t.share").as("share"))
          .groupBy("node").agg(sum(col("share")).as("contrib"), min(col("od")).as("outdeg"))
        val (next, releaseNext) = checkpointTracked(contribs
          .select(col("node"), col("outdeg"),
            (lit(tele) + expr("(85 * contrib) div 100")).as("r")))
        release()
        // at rung scale each round leaves ~2 pair-volume shuffles behind;
        // their files free only after a driver GC collects the dead
        // dependencies — sweep NOW instead of waiting for the periodic
        // timer (the sf300 envelope died twice on accumulated rounds)
        if (!small) System.gc()
        r = next; release = releaseNext
      }
      r.select("node", "r")
    }
  }

  /** Full-frame accessors for the scale-rung compares (diffv matches every
    * node's rank, not just the 20 displayed rows).
    */
  private[graft] def v9RankFrame(s: SparkSession, d: String): DataFrame =
    altRankFrame(s, d, weighted = false)
  private[graft] def v10RankFrame(s: SparkSession, d: String): DataFrame =
    altRankFrame(s, d, weighted = true)

  private def v9PageRank(s: SparkSession, d: String): DataFrame =
    prTop20Alt(v9RankFrame(s, d))
  private def v10WeightedPageRank(s: SparkSession, d: String): DataFrame =
    prTop20Alt(v10RankFrame(s, d))

  // ---------------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v9_pagerank"    -> v9PageRank _,
    "v10_weighted_pagerank" -> v10WeightedPageRank _,
    "v1_cc_twostar"  -> v1CcTwostar _,
    "v2_spans_merge" -> v2SpansMerge _,
    "v3_ivfpq_adc"   -> v3IvfpqAdc _,
    "v4_bpe_ids"     -> v4BpeIds _,
    "v5_pack_bpe"    -> v5PackBpe _,
    "v6_pack_sequences" -> v6PackSequences _,
    "v7_kmeans"      -> v7Kmeans _,
    "v8_inertia"     -> v8Inertia _)

  /** The twins satisfy the SAME result contracts as their shipped
    * counterparts, so they reuse the shipped oracles verbatim — the driver
    * gate then independently confirms both implementations against DuckDB.
    */
  val oracles: Map[String, String] = Map(
    "v9_pagerank"    -> GraphOps.n1SqlShared,
    "v10_weighted_pagerank" -> GraphOps.n2SqlShared,
    "v1_cc_twostar"  -> Dedup.d9Sql,
    "v2_spans_merge" -> Dedup.d11Sql,
    "v3_ivfpq_adc"   -> Similarity.s7Sql,
    "v4_bpe_ids"     -> TextOps.t21Sql,
    "v5_pack_bpe"    -> TextOps.t22Sql,
    "v6_pack_sequences" -> TextOps.t23Sql,
    "v7_kmeans"      -> Clustering.e1Sql,
    "v8_inertia"     -> Clustering.e3Sql)
}
