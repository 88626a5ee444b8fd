package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus clustering for training-data curation: deterministic Lloyd k-means
  * over the embeddings table (stratified sampling / dedup-by-cluster /
  * curriculum bucketing all start from exactly this assignment step).
  *
  * The Lloyd machinery is shared: e1 runs it as the user-facing clustering
  * query; Similarity.s3 runs it to TRAIN its IVF coarse quantizer (k = ~sqrt
  * of the corpus size). Each step is declarative:
  *   - assign: corpus x broadcast(k centroids) with a fold-left squared
  *     distance (`aggregate(zip_with(...))` — IEEE-identical to the
  *     oracle's in-order list fold), argmin via a lexicographic (dist2, cid)
  *     struct-min aggregate (hash agg with map-side combine, no window sort);
  *   - update: explode the 64 dims, per-(cluster, dim) mean with the sum
  *     routed through DECIMAL(28,14) (exact, order-independent — double
  *     partial-agg order differs between engines), rebuilt into an array
  *     with an ORDER BY dim collect.
  *
  * Between iterations the (tiny, k x 64-double) centroid frame is
  * localCheckpoint'ed: without that, iteration i's plan re-derives every
  * prior assign/update on each action — harmless at k=4 but quadratic work
  * at real scale (on a production cluster a reliable `checkpoint()` against
  * the cluster FS gives the same truncation with executor-loss tolerance).
  *
  * At 100 TB: centroids are k x 64 doubles — always a broadcast; the corpus
  * is scanned once per iteration with no shuffle except the k x 64-row
  * centroid update. Determinism (seeded init = lowest vec_ids, total
  * tie-break order) is what makes the result oracle-checkable in DuckDB.
  */
object Clustering {

  private[operators] val K = 4
  private[operators] val Iters = 3
  private[operators] val Dims = 64

  /** The k centroids collapsed to ONE broadcastable row holding a
    * cid-sorted array of (cid, c) structs — the shape that lets assignment
    * run as a pure projection (see [[assignStep]]).
    */
  private[operators] def centsAsArray(cs: DataFrame): DataFrame =
    cs.agg(sort_array(collect_list(struct(col("cid"), col("c")))).as("cs"))


  /** Lloyd assignment: (vec_id, v, cid, dist2) — nearest centroid by squared
    * euclidean distance, ties to the lowest cid.
    *
    * Shuffle-free: the centroid frame (k x 64 doubles) is folded into a
    * single-row array via [[centsAsArray]] and broadcast, and the argmin is
    * an `array_min(transform(...))` projection (struct ordering = (dist2,
    * cid) lexicographic, so ties break to the lowest cid exactly like the
    * oracle's ORDER BY dist2, cid). At 100 TB this is one corpus scan with
    * zero data movement — the crossJoin+groupBy form shuffled the whole
    * corpus (vectors riding along) once per iteration.
    */
  private[operators] def assignStep(vecs: DataFrame, cs: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(centsAsArray(cs)))
      .withColumn("m", expr("element_at(graft_cell_top(v, cs, 1), 1)"))
      .select(col("vec_id"), col("v"), col("m.cid").as("cid"), col("m.dist2").as("dist2"))

  /** `iters` Lloyd rounds from `cents0` ((cid, c)); returns the trained
    * centroids. Lineage is truncated per iteration (see class doc).
    *
    * The centroid update is ONE map-side-combinable groupBy: the exact
    * decimal vector-sum aggregate ([[graft.functions.VecSumDec]]) folds each
    * partition down to k x 64 BigDecimal buffers, so the shuffle carries
    * k x partitions tiny buffers — never the corpus, never an exploded
    * (cid, dim, x) row set. The per-element CAST to DECIMAL(28,14) is
    * Spark's own double→decimal cast, and BigDecimal addition is exact, so
    * the means are bit-identical to the previous
    * posexplode + sum(CAST(x AS DECIMAL)) formulation and to the oracle.
    */
  private[operators] def kmeans(vecs: DataFrame, cents0: DataFrame, iters: Int): DataFrame = {
    var cents = cents0
    for (it <- 1 to iters) {
      val assigned = assignStep(vecs, cents)
      cents = assigned
        .groupBy("cid")
        .agg(
          expr("graft_vecsum_dec(transform(v, x -> CAST(x AS DECIMAL(28,14))))").as("sums"),
          count(lit(1)).as("n"))
        .select(col("cid"), expr("transform(sums, s -> s / n)").as("c"))
        // k rows spread over shuffle-partition count: collapse to one
        // partition before the eager checkpoint so each iteration persists
        // (and later broadcasts from) 1 task, not 32 near-empty ones
        .coalesce(1)
      // truncate BETWEEN iterations only: the final update is one bounded
      // stage on top of the last checkpoint, so consumers pay at most one
      // tiny recompute instead of an extra eager job per kmeans call.
      // r14 MEASURED AND KEPT AS-IS: removing the per-round eager checkpoint
      // ("fuse the chain into one consumer action") regressed hard at sf0.1
      // local[32] — the lazy chain executes as NESTED BroadcastExchange
      // builds that serialize level by level AND lose the 4-way concurrency
      // of ivfpqRecon's per-subspace futures (which rely on these eager jobs
      // to overlap): s7 1.80→6.61 s, similarity.ivfpq build 1.34→4.66 s,
      // v3 −0.82 s, s5 −0.64 s. The eager per-round checkpoint is
      // load-bearing for the concurrent-build pattern, not ceremony.
      if (it < iters) cents = cents.localCheckpoint()
    }
    cents
  }

  /** Oracle twin of [[assignStep]]: CTE `out` = (vec_id, v, cid, dist2). */
  private[operators] def assignCte(vecsRel: String, centsRel: String, out: String,
      dims: Int = Dims): String = {
    val dist = s"list_sum(list_transform(range(1, ${dims + 1}), i -> (a.v[i] - c.c[i]) * (a.v[i] - c.c[i])))"
    // The n x k argmin window ranks SLIM (vec_id, cid, dist2) rows — dist2
    // PRECOMPUTED as a column, because an expression inside OVER (ORDER BY)
    // drags every column it references (both 64-dim lists) through the
    // window operator's blocking materialization (~24 GB per Lloyd
    // iteration for the IVF chain at the sf10 gate; measured standalone,
    // the in-window form spills where the precomputed form streams) — and
    // the vector list rejoins AFTER the rk = 1 slice. vecsRel is referenced
    // TWICE, and DuckDB inlines plain CTEs once per reference — callers
    // must pass either a MATERIALIZED relation (e1/e3) or a trivial
    // projection of one (s5/s7's pq{m}_all / rpq{m}_all column slices of
    // materialized ev/resid), so the re-executed upstream is at worst one
    // cheap slice, never a trained-artifact chain. Results unchanged: same
    // argmin, same (dist, cid) tiebreak.
    s"""$out AS (
       |  SELECT s.vec_id, a.v, s.cid, s.dist2 FROM (
       |    SELECT vec_id, cid, dist2 FROM (
       |      SELECT vec_id, cid, dist2,
       |        row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rk
       |      FROM (SELECT a.vec_id, c.cid, $dist AS dist2 FROM $vecsRel a, $centsRel c))
       |    WHERE rk = 1) s
       |  JOIN $vecsRel a USING (vec_id)
       |)""".stripMargin
  }

  /** Oracle twin of the centroid update inside [[kmeans]].
    *
    * `materialized` emits an `AS MATERIALIZED` hint: DuckDB (1.0) inlines a
    * CTE once PER REFERENCE, so a multiply-referenced trained-centroid CTE
    * would re-execute its whole Lloyd chain for every consumer — at sf1
    * (20k vectors, k=142) that re-execution spilled >79 GB in s7's oracle.
    * The hint makes the oracle's cost linear in the corpus, mirroring how
    * the Spark side memoizes trained artifacts (cache/ArtifactCache).
    * Semantics are unchanged.
    */
  private[operators] def updateCte(assignRel: String, out: String,
      dims: Int = Dims, materialized: Boolean = false): String =
    s"""$out AS ${if (materialized) "MATERIALIZED " else ""}(
       |  SELECT cid, list(m ORDER BY dim) AS c FROM (
       |    SELECT cid, dim, CAST(sum(CAST(x AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS m
       |    FROM (SELECT cid, r.range AS dim, v[r.range + 1] AS x
       |          FROM $assignRel, range(0, $dims) r)
       |    GROUP BY cid, dim)
       |  GROUP BY cid
       |)""".stripMargin

  /** Oracle twin of [[kmeans]]: appends assign/update CTE pairs to `ctes`,
    * returning the name of the final centroid CTE. `prefix` keeps names
    * unique when several k-means chains share one query.
    */
  private[operators] def kmeansCtes(
      ctes: scala.collection.mutable.ListBuffer[String],
      vecsRel: String, cents0Rel: String, iters: Int, prefix: String,
      dims: Int = Dims, materializeFinal: Boolean = false): String = {
    var cur = cents0Rel
    for (it <- 1 to iters) {
      ctes += assignCte(vecsRel, cur, s"${prefix}assign$it", dims)
      ctes += updateCte(s"${prefix}assign$it", s"${prefix}cents$it", dims,
        materialized = materializeFinal && it == iters)
      cur = s"${prefix}cents$it"
    }
    cur
  }

  /** The trained final assignment frame shared by e1 (per-vector view) and
    * e3 (per-cluster quality metrics) — memoized via [[ArtifactCache]]
    * (evictable per session + dataset, stopped sessions reaped), the
    * fit-once-serve-many shape every trained artifact here uses.
    */
  private def finalAssign(s: SparkSession, d: String): DataFrame =
    ArtifactCache.getOrElseUpdate("clustering.assign", s, d) {
      Similarity.withSmallBuild(s, d) {
        graft.Graft.setup(s)
        val vecs = Tables.embeddings(s, d)
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
          .cache()
        // seeded init: the K lowest vec_ids are the starting centroids
        val cents0 = vecs.orderBy("vec_id").limit(K)
          .select(col("vec_id").as("cid"), col("v").as("c"))
        assignStep(vecs, kmeans(vecs, cents0, Iters)).cache()
      }
    }

  private def e1Kmeans(s: SparkSession, d: String): DataFrame =
    finalAssign(s, d)
      .select(col("vec_id"), col("cid").as("cluster"), floor(col("dist2") * 1000000).cast("long").as("dist2_fp"))
      .orderBy("vec_id")

  // ---------------------------------------------------------------------------
  // e3 — clustering quality metrics per cluster: size, inertia (the k-means
  // objective — within-cluster sum of squared distances) and mean squared
  // distance. The inertia sum routes through DECIMAL(28,14) so the
  // cross-partition double sum is order-independent and hash-comparable;
  // the metrics aggregate is map-side combinable (k rows out). This is the
  // evaluation surface a curation pipeline watches to pick k / detect
  // degenerate clusters.
  private def e3Inertia(s: SparkSession, d: String): DataFrame =
    finalAssign(s, d)
      .groupBy(col("cid").as("cluster"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("dist2").cast("decimal(28,14)")).cast("double").as("inertia"))
      .select(col("cluster"), col("n"),
        floor(col("inertia") * 1000000).cast("long").as("inertia_fp"),
        floor(col("inertia") / col("n") * 1000000).cast("long").as("mean_dist2_fp"))
      .orderBy("cluster")

  private[operators] val e1Sql = {
    val ctes = new scala.collection.mutable.ListBuffer[String]
    ctes += s"""vecs AS MATERIALIZED (
               |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               |  FROM embeddings
               |)""".stripMargin
    ctes += s"""cents0 AS (
               |  SELECT vec_id AS cid, v AS c FROM vecs ORDER BY vec_id LIMIT $K
               |)""".stripMargin
    val finalCents = kmeansCtes(ctes, "vecs", "cents0", Iters, "")
    ctes += assignCte("vecs", finalCents, "final_assign")
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT vec_id, cid AS cluster, CAST(floor(dist2 * 1000000) AS BIGINT) AS dist2_fp
       |FROM final_assign ORDER BY vec_id""".stripMargin
  }

  private[operators] val e3Sql = {
    val ctes = new scala.collection.mutable.ListBuffer[String]
    ctes += s"""vecs AS MATERIALIZED (
               |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               |  FROM embeddings
               |)""".stripMargin
    ctes += s"""cents0 AS (
               |  SELECT vec_id AS cid, v AS c FROM vecs ORDER BY vec_id LIMIT $K
               |)""".stripMargin
    val finalCents = kmeansCtes(ctes, "vecs", "cents0", Iters, "")
    ctes += assignCte("vecs", finalCents, "final_assign")
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT cid AS cluster, count(*) AS n,
       |  CAST(floor(CAST(sum(CAST(dist2 AS DECIMAL(28,14))) AS DOUBLE) * 1000000) AS BIGINT) AS inertia_fp,
       |  CAST(floor(CAST(sum(CAST(dist2 AS DECIMAL(28,14))) AS DOUBLE) / count(*) * 1000000) AS BIGINT) AS mean_dist2_fp
       |FROM final_assign GROUP BY cid ORDER BY cluster""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e1_kmeans"  -> e1Kmeans _,
    "e3_inertia" -> e3Inertia _)

  val oracles: Map[String, String] = Map(
    "e1_kmeans"  -> e1Sql,
    "e3_inertia" -> e3Sql)
}
