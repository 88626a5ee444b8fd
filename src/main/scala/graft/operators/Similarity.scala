package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.{InputScale, Tables}

/** Similarity search over the embedding column (training-data surface):
  *
  *  - s1: brute-force cosine top-k — the exactness baseline. Queries are a
  *    tiny broadcast side; the corpus scans once; TakeOrdered-style window
  *    rank bounds the output. At 100 TB this is the "small query batch x
  *    huge corpus" shape: one corpus scan per batch, no corpus shuffle.
  *  - s2: multi-table LSH ANN — the standard (L, k) construction: L=4
  *    independent tables keyed by k=4 hyperplane sign bits (planes drawn
  *    from the data itself — embeddings of fixed vec_ids — so both engines
  *    derive identical planes without a shared RNG). Candidates = shared
  *    key in ANY table; the join key is (table, key), which is the scale
  *    path (corpus shuffles once on it; candidate dedup on scalar pairs
  *    before the vector rejoin). Single-table sign-LSH has near-zero
  *    recall at moderate cosine — SimilaritySpec pins both recall and
  *    strong-pair key coverage.
  *
  * Cosines are computed with sequential higher-order-function folds (same
  * index order as DuckDB's list functions) so results are bit-deterministic.
  */
object Similarity {

  private val TopK = 10
  // multi-table LSH parameterization — shared with Dedup.d8 (same planes,
  // same keys), so retuning here keeps both operators and their oracles in
  // sync. The key WIDTH is corpus-scaled (see [[lshKeys]]): nbits =
  // clamp(4, 24, ceil(log2(ceil(n/32)))), so buckets stay ~32 vectors at any
  // corpus size — at round 2's fixed 4 bits the band self-join was O(n^2/16)
  // pairs, a disguised cross join at 100 TB. At the verify SF (n=500) the
  // formula yields exactly 4, preserving round-2 results bit-for-bit.
  private[operators] val LshTables = 4
  private[operators] val LshMinBits = 4
  private[operators] val LshMaxBits = 24
  private[operators] val LshTargetBucket = 32

  /** AQE-off below [[graft.InputScale.TableRowFloor]] vectors for the
    * trained-artifact builds: their stages are KB-sized and per-stage
    * re-planning dominates; at scale the conf never flips. An 8-partition
    * shuffle override stacked here was MEASURED and reverted (r13):
    * quantizer-build time was flat (the builds are vector-compute-bound,
    * not task-floor-bound) while consumers of the 8-partition cached
    * artifacts lost scan parallelism (s2 +0.15 s, s6 +0.25 s, d8 +0.31 s at
    * sf0.1 local[32]). */
  private[operators] def withSmallBuild[T](s: SparkSession, d: String)(f: => T): T =
    InputScale.withAqeOffWhen(s, InputScale.smallVecs(s, d))(f)

  private[operators] def vecsD(s: SparkSession, d: String): DataFrame = {
    graft.Graft.setup(s)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
  }

  /** cos(a,b) = dot/(sqrt(aa)*sqrt(bb)) — codegen'd dot, precomputed norms;
    * arithmetic identical to DuckDB's list_cosine_similarity.
    */
  private[operators] val cosCol = expr("graft_dot(ad, bd)") / (col("na") * col("nb"))

  // ---------------------------------------------------------------------------
  // s1 — brute-force cosine top-k for a fixed query batch (vec_id < 5).
  private def s1CosineTopK(s: SparkSession, d: String): DataFrame = {
    val e = vecsD(s, d)
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("ad"), col("nrm").as("na"))
    val c = e.select(col("vec_id").as("cid"), col("v").as("bd"), col("nrm").as("nb"))
    val scored = broadcast(q).join(c, col("qid") =!= col("cid"))
      .withColumn("cos", cosCol)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= TopK)
      .select(col("qid"), col("rk"), col("cid"), round(col("cos"), 6).as("cos_r"))
      .orderBy("qid", "rk")
  }

  private val s1Sql =
    s"""WITH ev AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
       |SELECT qid, rk, cid, cos_r FROM (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |    round(list_cosine_similarity(q.v, c.v), 6) AS cos_r,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rk
       |  FROM ev q JOIN ev c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 5)
       |WHERE rk <= $TopK
       |ORDER BY qid, rk""".stripMargin

  /** Corpus-keyed LSH tables over a [[vecsD]] frame: (vec_id, tbl, key) with
    * key width nbits = clamp(LshMinBits, LshMaxBits, ceil(log2(ceil(n /
    * LshTargetBucket)))) — buckets hold ~LshTargetBucket vectors at ANY
    * corpus size, so the downstream band self-join never degenerates toward
    * a cross product. nbits is computed integer-exactly as the bit length of
    * ceil(n/target)-1 via bin() (a float log2 could round differently
    * between engines exactly at power-of-2 boundaries). Table t is keyed by
    * the sign bits against planes pid in [t*nbits, (t+1)*nbits) — planes are
    * embeddings of the LshTables*nbits lowest EXISTING vec_ids, RANKED with
    * row_number like [[seedCents]] (a literal `vec_id < planes` predicate
    * silently loses planes — and key bits, and recall — whenever the low id
    * range is sparse or non-contiguous), so both engines derive identical
    * planes without a shared RNG. Only 8-byte ids ride the one-task rank
    * sort; the winners' vectors join back by id. Shared by s2, s8, d13 and
    * Dedup.d8 through the artifact below.
    */
  private[operators] def lshKeys(e: DataFrame): DataFrame = {
    val params = e.agg(count(lit(1)).as("n"))
      .select(least(lit(LshMaxBits), greatest(lit(LshMinBits),
        length(bin(expr(s"(n + ${LshTargetBucket - 1}) div $LshTargetBucket - 1")))))
        .cast("int").as("nbits"))
    val planeIds = e.select(col("vec_id")).crossJoin(broadcast(params))
      .withColumn("rn", row_number().over(Window.orderBy("vec_id")))
      .where(col("rn") <= lit(LshTables) * col("nbits"))
      .select(col("vec_id"), (col("rn") - 1).cast("long").as("pid"), col("nbits"))
    val planes = e.join(broadcast(planeIds), "vec_id")
      .select(col("pid"), col("v").as("pv"), col("nbits"))
    e.crossJoin(broadcast(planes))
      .withColumn("dot", expr("graft_dot(v, pv)"))
      .select(col("vec_id"), expr("pid div nbits").as("tbl"),
        expr("pid % nbits").as("bit"), col("dot"))
      .groupBy("vec_id", "tbl")
      .agg(sum(when(col("dot") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(0L)).as("key"))
  }

  /** [[lshKeys]] of `d`'s [[vecsD]], one cached artifact per (session, dir):
    * each consumer reads the keys instead of deriving them again (the corpus
    * x planes dot products, the plane-rank sort and the key aggregate). */
  private[operators] def lshKeys(s: SparkSession, d: String): DataFrame =
    ArtifactCache.getOrElseUpdate("similarity.lshKeys", s, d)(
      withSmallBuild(s, d)(lshKeys(vecsD(s, d).cache()).cache()))

  /** Oracle CTE chain mirroring [[lshKeys]]: defines ev/params/planes/keyed.
    * DuckDB `//` floors and Spark `div` truncates, but every operand here is
    * non-negative, so the arithmetic agrees. ev/keyed are multi-referenced
    * downstream — MATERIALIZED so DuckDB's per-reference CTE inlining doesn't
    * recompute the key derivation per consumer (see Clustering.updateCte).
    */
  /** The params/planes/keyed chain with parameterizable relation names:
    * `ev` is the ((vec_id, v)) source relation, `pfx` prefixes the three
    * CTE names so the chain can coexist with the IVF chain (which also
    * defines a `params`) inside one oracle (s8's recall measurement).
    */
  private[operators] def lshCtesNamed(ev: String, pfx: String): String =
    s"""${pfx}params AS (
       |  SELECT least($LshMaxBits, greatest($LshMinBits,
       |    length(bin((count(*) + ${LshTargetBucket - 1}) // $LshTargetBucket - 1)))) AS nbits
       |  FROM embeddings
       |), ${pfx}planes AS (
       |  SELECT rn - 1 AS pid, pv, nbits FROM (
       |    SELECT v AS pv, nbits, row_number() OVER (ORDER BY vec_id) AS rn FROM $ev, ${pfx}params)
       |  WHERE rn <= $LshTables * nbits
       |), ${pfx}keyed AS MATERIALIZED (
       |  SELECT e.vec_id, p.pid // p.nbits AS tbl,
       |    CAST(sum(CASE WHEN list_dot_product(e.v, p.pv) > 0
       |      THEN (1::BIGINT << (p.pid % p.nbits)) ELSE 0 END) AS BIGINT) AS key
       |  FROM $ev e, ${pfx}planes p GROUP BY e.vec_id, tbl
       |)""".stripMargin

  private[operators] val lshKeysSqlCtes: String =
    s"""ev AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |${lshCtesNamed("ev", "")}""".stripMargin

  // ---------------------------------------------------------------------------
  // s2 — MULTI-TABLE LSH ANN: LshTables independent hash tables, each keyed
  // by corpus-scaled sign bits against data-derived hyperplanes (embeddings
  // of fixed vec_ids, so both engines derive identical planes without a
  // shared RNG). A candidate is any corpus vector sharing a query's key in
  // ANY table — the standard (L, k) LSH construction: single-table sign-LSH
  // has near-zero recall at moderate cosine, while L tables multiply recall
  // at L x the bucket probes. Query batch vec_id in [100, 105); top-3 by
  // cosine over the deduped candidates. At scale the corpus shuffles ONCE
  // on (table, key) — the keyed corpus is L x rows of (key, id) pairs,
  // vectors rejoin by id after the (tiny) candidate dedup.
  private def s2LshAnn(s: SparkSession, d: String): DataFrame = {
    val e = vecsD(s, d).cache() // reused: query, corpus
    val keyed = lshKeys(s, d)
    val qk = keyed.where(col("vec_id") >= 100 && col("vec_id") < 105)
      .select(col("vec_id").as("qid"), col("tbl"), col("key"))
    val cand = broadcast(qk).join(keyed.select(col("vec_id").as("cid"), col("tbl"), col("key")),
        Seq("tbl", "key"))
      .where(col("qid") =!= col("cid"))
      .select("qid", "cid").distinct()
    // only the query batch broadcasts — NOT the whole corpus
    val qv = e.where(col("vec_id") >= 100 && col("vec_id") < 105)
      .select(col("vec_id").as("qid"), col("v").as("ad"), col("nrm").as("na"))
    val cv = e.select(col("vec_id").as("cid"), col("v").as("bd"), col("nrm").as("nb"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    cand.join(broadcast(qv), "qid").join(cv, "cid")
      .withColumn("cos", cosCol)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("qid"), col("rk"), col("cid"), round(col("cos"), 6).as("cos_r"))
      .orderBy("qid", "rk")
  }

  private val s2Sql =
    s"""WITH $lshKeysSqlCtes,
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
       |  FROM keyed q JOIN keyed c ON q.tbl = c.tbl AND q.key = c.key AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id >= 100 AND q.vec_id < 105
       |)
       |SELECT qid, rk, cid, cos_r FROM (
       |  SELECT cand.qid, cand.cid,
       |    round(list_cosine_similarity(q.v, c.v), 6) AS cos_r,
       |    row_number() OVER (PARTITION BY cand.qid
       |      ORDER BY list_cosine_similarity(q.v, c.v) DESC, cand.cid) AS rk
       |  FROM cand JOIN ev q ON q.vec_id = cand.qid JOIN ev c ON c.vec_id = cand.cid)
       |WHERE rk <= 3
       |ORDER BY qid, rk""".stripMargin

  // ---------------------------------------------------------------------------
  // s3 — IVF ANN with a TRAINED coarse quantizer: k = max(8, ceil(sqrt(n)))
  // centroids (the standard IVF sizing — cell population ~sqrt(n), so probe
  // cost grows as sqrt of the corpus instead of linearly as with round 2's 8
  // fixed cells), initialized from the lowest vec_ids and refined with 2
  // Lloyd rounds of the shared Clustering machinery. Vectors live in their
  // nearest cell (squared-euclidean argmin — the metric k-means optimizes);
  // queries probe their nprobe=2 best cells and rank only those candidates
  // by cosine. At scale the corpus partitions by cell id once (shuffle on
  // cell), and each query touches nprobe cells — the classic inverted-file
  // trade of recall for a bounded candidate set.
  private[operators] val NProbe = 2
  private[operators] val IvfIters = 2

  /** Per-centroid training-sample budget (FAISS-style guidance is 30–256
    * vectors per centroid): the Lloyd refinement trains on a deterministic
    * hash-sample of ~TrainPerCell * k vectors whenever the corpus exceeds
    * that, so quantizer training cost scales with k * TrainPerCell — NOT
    * with the corpus. At 100 TB (n = 1e9, k = sqrt(n) ~ 32k) training
    * touches ~0.8% of the corpus; at the verify/bench SFs the budget
    * exceeds n, the sample rate is 1, and results are bit-identical to
    * full-corpus training (the rate rule is integer-exact and mirrored in
    * the oracle, so both engines agree at ANY scale factor).
    */
  private[operators] val TrainPerCell = 256

  // Trained-quantizer cell ranking is memoized via [[ArtifactCache]] (keyed
  // per session + dataset dir, evictable, stopped sessions reaped): k =
  // max(8, ceil(sqrt(n))) centroids refined with [[Clustering.kmeans]] over
  // the hash-sampled training set, then every vector ranked against every
  // trained cell by squared-euclidean distance ((vec_id, v, nrm, cid, dist2,
  // crk)). s3 (ANN probing) and e2 (SemDeDup) share this dimension state —
  // training runs ONCE per dataset, which is also the production shape: a
  // quantizer is fitted once and reused by every consumer. Rewriting the
  // data under a path mid-session requires ArtifactCache.invalidate.

  /** Deterministic training sample: keep vec_ids whose portable hash falls
    * in residue 0 of rate = ceil(n / (TrainPerCell * k)) — integer-exact in
    * both engines, corpus-size-stable, and rate 1 (= everything) whenever
    * the corpus is within the training budget.
    */
  private[operators] def trainSample(vecs: DataFrame, params: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(params))
      .where(col("rate") <= 1 ||
        pmod(TextOps.hash60(col("vec_id").cast(StringType)), col("rate")) === 0)
      .select(col("vec_id"), col("v"), col("k"))

  /** Seeds = the k lowest vec_ids OF THE TRAINING SET (under rate 1 and
    * contiguous ids this degenerates to vec_id < k). The unpartitioned seed
    * window ranks IDS ONLY — 8 bytes/row through the single sort task, not
    * the 64-dim vectors (which would make the one-task sort a multi-GB
    * straggler at a production-sized sample); the k winners broadcast back
    * to fetch their vectors.
    */
  private[operators] def seedCents(train: DataFrame): DataFrame = {
    val seedIds = train.select(col("vec_id"), col("k"))
      .withColumn("rn", row_number().over(Window.orderBy("vec_id")))
      .where(col("rn") <= col("k"))
      .select("vec_id")
    train.join(broadcast(seedIds), "vec_id")
      .select(col("vec_id").as("cid"), col("v").as("c"))
  }

  /** The trained coarse-quantizer centroids ((cid, c), k rows), memoized
    * separately from the ranking so residual consumers (s7's IVF-PQ) can
    * read the cell centers without re-deriving the full per-vector ranking.
    */
  private[operators] def trainedCents(s: SparkSession, d: String): DataFrame =
    ArtifactCache.getOrElseUpdate("similarity.cents", s, d) { withSmallBuild(s, d) {
      val e = vecsD(s, d).cache()
      val vecs = e.select(col("vec_id"), col("v"))
      // k = max(8, ceil(sqrt(n))): sqrt is correctly rounded in IEEE, so ceil
      // agrees between engines (exact at perfect squares, unambiguous off them)
      val params = e.agg(
          greatest(lit(8), ceil(sqrt(count(lit(1))))).cast("int").as("k"),
          count(lit(1)).as("n"))
        .withColumn("rate",
          expr(s"(n + $TrainPerCell * k - 1) div ($TrainPerCell * k)").cast("int"))
      val train = trainSample(vecs, params)
      val cents0 = seedCents(train)
      val out = Clustering.kmeans(train.select("vec_id", "v"), cents0, IvfIters).cache()
      out.count()
      out
    } }

  private[operators] def rankedCells(s: SparkSession, d: String): DataFrame =
    ArtifactCache.getOrElseUpdate("similarity.ranked", s, d) { withSmallBuild(s, d) {
      val e = vecsD(s, d).cache()
      val cents = trainedCents(s, d)
      // rank trained cells per vector by euclid distance; rank 1 = home cell,
      // <= NProbe = a query's probe set. Shuffle-free: the k trained cells
      // broadcast as one array row, and the per-vector rank is a sorted
      // projection (array_sort on (dist2, cid) structs == the oracle's
      // ORDER BY dist2, cid) — no corpus-wide window sort. Only the
      // top-NProbe slice is kept and cached: consumers never look past
      // crk <= NProbe, and a full n x k ranking with the vector riding
      // along would make the cache k/NProbe times the corpus (ruinous at
      // k ~ sqrt(n) — 50 GB at a 200k-vector probe; the slice is 2n rows).
      val ranked = e.crossJoin(broadcast(Clustering.centsAsArray(cents)))
        .select(col("vec_id"), col("v"), col("nrm"),
          posexplode(expr(s"graft_cell_top(v, cs, $NProbe)"))
            .as(Seq("pos", "dc")))
        .select(col("vec_id"), col("v"), col("nrm"),
          col("dc.cid").as("cid"), col("dc.dist2").as("dist2"),
          (col("pos") + 1).as("crk"))
        .cache()
      // populate eagerly: every consumer reads ranked at least twice in one
      // query (home cells + probe set), and concurrent AQE map-jobs racing
      // an unpopulated cache would each recompute the full n x k ranking
      ranked.count()
      ranked
    } }

  private def s3IvfAnn(s: SparkSession, d: String): DataFrame = {
    val ranked = rankedCells(s, d)
    val assigned = ranked.where(col("crk") === 1)
      .select(col("vec_id").as("cid2"), col("v").as("bd"), col("nrm").as("nb"),
        col("cid").as("cell"))
      .withColumnRenamed("cid2", "cid")
    val probes = ranked.where(col("crk") <= NProbe &&
        col("vec_id") >= 200 && col("vec_id") < 205)
      .select(col("vec_id").as("qid"), col("v").as("ad"), col("nrm").as("na"),
        col("cid").as("cell"))
    broadcast(probes).join(assigned, Seq("cell"))
      .where(col("qid") =!= col("cid"))
      .withColumn("cos", cosCol)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))))
      .where(col("rk") <= 3)
      .select(col("qid"), col("rk"), col("cid"), col("cell"), round(col("cos"), 6).as("cos_r"))
      .orderBy("qid", "rk")
  }

  /** Oracle CTE chain mirroring [[rankedCells]]: appends vecs/params/cents0,
    * the Lloyd iterations, and `ranked` ((vec_id, v, cell, crk)).
    */
  /** Returns the final trained-cents relation name (for residual consumers). */
  private def rankedCtes(ctes: scala.collection.mutable.ListBuffer[String]): String = {
    ctes += "vecs AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)"
    ctes += s"""params AS (
               |  SELECT k, (count(*) + $TrainPerCell * k - 1) // ($TrainPerCell * k) AS rate
               |  FROM embeddings, (SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS INT)) AS k
               |                    FROM embeddings) GROUP BY k
               |)""".stripMargin
    ctes += s"""train AS MATERIALIZED (
               |  SELECT vec_id, v, k FROM vecs, params
               |  WHERE rate <= 1 OR
               |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT) % rate = 0
               |)""".stripMargin
    ctes += """cents0 AS (
              |  SELECT vec_id AS cid, v AS c FROM (
              |    SELECT vec_id, v, k, row_number() OVER (ORDER BY vec_id) AS rn FROM train)
              |  WHERE rn <= k
              |)""".stripMargin
    val finalCents = Clustering.kmeansCtes(ctes, "train", "cents0", IvfIters, "ivf_",
      materializeFinal = true)
    val dist = s"list_sum(list_transform(range(1, ${Clustering.Dims + 1}), i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i])))"
    // Mirror of the Spark side's ranked-SLICE cache (see rankedCells: "a
    // full n x k ranking with the vector riding" was the round-3 scale
    // defect), with the distance PRECOMPUTED as a column before the window:
    // an expression inside OVER (ORDER BY ...) drags every column it
    // references — both 64-dim lists here — through the window operator's
    // blocking materialization (~90 GB at the sf10 gate's 200k vecs x 448
    // cells; measured standalone, the in-window form dies at a quarter of
    // that scale where the precomputed-column form streams in 66 s). Only
    // the crk <= NProbe slice survives and the vectors rejoin after — every
    // consumer filters crk = 1 or crk <= NProbe, so results are unchanged
    // (same distance values, same (dist, cid) tiebreak).
    ctes += s"""ranked AS MATERIALIZED (
               |  SELECT s.vec_id, v.v, s.cell, s.crk
               |  FROM (SELECT vec_id, cell, crk FROM (
               |          SELECT vec_id, cell,
               |            row_number() OVER (PARTITION BY vec_id
               |              ORDER BY dist2, cell) AS crk
               |          FROM (SELECT e.vec_id, c.cid AS cell, $dist AS dist2
               |                FROM vecs e, $finalCents c))
               |        WHERE crk <= $NProbe) s
               |  JOIN vecs v USING (vec_id)
               |)""".stripMargin
    finalCents
  }

  private val s3Sql = {
    val ctes = new scala.collection.mutable.ListBuffer[String]
    rankedCtes(ctes)
    ctes += "assigned AS (SELECT vec_id AS cid, v AS bv, cell FROM ranked WHERE crk = 1)"
    ctes += s"""probes AS (
               |  SELECT vec_id AS qid, v AS qv, cell FROM ranked
               |  WHERE crk <= $NProbe AND vec_id >= 200 AND vec_id < 205
               |)""".stripMargin
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT qid, rk, cid, cell, cos_r FROM (
       |  SELECT p.qid, a.cid, a.cell,
       |    round(list_cosine_similarity(p.qv, a.bv), 6) AS cos_r,
       |    row_number() OVER (PARTITION BY p.qid
       |      ORDER BY list_cosine_similarity(p.qv, a.bv) DESC, a.cid) AS rk
       |  FROM probes p JOIN assigned a USING (cell)
       |  WHERE p.qid <> a.cid)
       |WHERE rk <= 3
       |ORDER BY qid, rk""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // s9 — FILTERED ANN: top-k under a metadata predicate (candidate label
  // must equal the query's label — the "same-language neighbors" shape every
  // production vector store serves). The predicate is applied PRE-ranking,
  // inside the probe join, not post-ranking: post-filtering an unfiltered
  // top-k loses recall whenever the filter is selective (k survivors < k).
  // Metadata joins the candidate frame BY ID ahead of scoring (an id-keyed
  // join against the vector corpus — co-partitioned at scale, broadcast at
  // bench SFs), so the probe join already runs on the reduced candidate
  // set; everything else rides s3's shared rankedCells artifact.
  private def s9FilteredAnn(s: SparkSession, d: String): DataFrame = {
    val ranked = rankedCells(s, d)
    val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val assigned = ranked.where(col("crk") === 1)
      .join(labels, "vec_id")
      .select(col("vec_id").as("cid"), col("v").as("bd"), col("nrm").as("nb"),
        col("cid").as("cell"), col("label"))
    val probes = ranked.where(col("crk") <= NProbe &&
        col("vec_id") >= 200 && col("vec_id") < 205)
      .join(labels, "vec_id")
      .select(col("vec_id").as("qid"), col("v").as("ad"), col("nrm").as("na"),
        col("cid").as("cell"), col("label").as("qlabel"))
    broadcast(probes).join(assigned, Seq("cell"))
      .where(col("qid") =!= col("cid") && col("label") === col("qlabel"))
      .withColumn("cos", cosCol)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))))
      .where(col("rk") <= 3)
      .select(col("qid"), col("rk"), col("cid"), col("label"),
        round(col("cos"), 6).as("cos_r"))
      .orderBy("qid", "rk")
  }

  private val s9Sql = {
    val ctes = new scala.collection.mutable.ListBuffer[String]
    rankedCtes(ctes)
    ctes += "lab AS (SELECT vec_id, label FROM embeddings)"
    ctes += """assignedf AS (
              |  SELECT r.vec_id AS cid, r.v AS bv, r.cell, l.label
              |  FROM ranked r JOIN lab l USING (vec_id) WHERE r.crk = 1
              |)""".stripMargin
    ctes += s"""probesf AS (
               |  SELECT r.vec_id AS qid, r.v AS qv, r.cell, l.label AS qlabel
               |  FROM ranked r JOIN lab l USING (vec_id)
               |  WHERE r.crk <= $NProbe AND r.vec_id >= 200 AND r.vec_id < 205
               |)""".stripMargin
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT qid, rk, cid, label, cos_r FROM (
       |  SELECT p.qid, a.cid, a.label,
       |    round(list_cosine_similarity(p.qv, a.bv), 6) AS cos_r,
       |    row_number() OVER (PARTITION BY p.qid
       |      ORDER BY list_cosine_similarity(p.qv, a.bv) DESC, a.cid) AS rk
       |  FROM probesf p JOIN assignedf a USING (cell)
       |  WHERE p.qid <> a.cid AND a.label = p.qlabel)
       |WHERE rk <= 3
       |ORDER BY qid, rk""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // e2 — SemDeDup (cluster-then-dedup; Abbas et al. 2023, arXiv:2303.09540):
  // semantic dedup at corpus scale runs pairwise similarity only WITHIN a
  // cluster of the trained quantizer — with k = ceil(sqrt(n)) cells the
  // within-cluster pair count is ~n*sqrt(n) instead of n^2, and the
  // comparison is bucketed by cell id (one shuffle on the cell key at
  // scale). A vector is dropped when some LOWER-id vector in its cluster is
  // cosine-similar above tau; output marks every vector with its cluster
  // and keep flag. The quantizer (and its cached cell ranking) is shared
  // with s3 — trained once per dataset.
  private val SemDedupTau = 0.38

  private def e2SemDedup(s: SparkSession, d: String): DataFrame = {
    val ranked = rankedCells(s, d)
    val assigned = ranked.where(col("crk") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("cid").as("cell"))
    val a = assigned.select(col("vec_id").as("id_a"), col("v").as("ad"),
      col("nrm").as("na"), col("cell"))
    val b = assigned.select(col("vec_id").as("id_b"), col("v").as("bd"),
      col("nrm").as("nb"), col("cell"))
    // both sides are the corpus: the join shuffles ONCE on the cell key —
    // the correct shape at scale (a broadcast here would ship the corpus)
    val drops = a.join(b, Seq("cell")).where(col("id_a") < col("id_b"))
      .where(cosCol >= SemDedupTau)
      .select(col("id_b").as("vec_id")).distinct()
    assigned.select(col("vec_id"), col("cell").as("cluster"))
      .join(drops.withColumn("dropped", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dropped").isNull.as("kept"))
      .orderBy("vec_id")
  }

  private val e2Sql = {
    val ctes = new scala.collection.mutable.ListBuffer[String]
    rankedCtes(ctes)
    ctes += "assigned AS MATERIALIZED (SELECT vec_id, v, cell FROM ranked WHERE crk = 1)"
    ctes += s"""drops AS (
               |  SELECT DISTINCT b.vec_id
               |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
               |  WHERE list_cosine_similarity(a.v, b.v) >= $SemDedupTau
               |)""".stripMargin
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT a.vec_id, a.cell AS cluster, d.vec_id IS NULL AS kept
       |FROM assigned a LEFT JOIN drops d ON a.vec_id = d.vec_id
       |ORDER BY a.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // s4 — int8 scalar quantization (the memory-compression scale path: 4x
  // smaller than float32, the standard first step before IVF/PQ when 100 TB
  // of embeddings must stay resident): per-dimension corpus min/max (one
  // 64-group map-side-combinable aggregate, folded to a single broadcast
  // row), codes q = round((x - min) / range * 127), reconstruction
  // x' = min + q/127 * range. The query ranks the s1 batch by QUANTIZED
  // cosine and reports the exact cosine + absolute error alongside — the
  // recall/compression trade made visible (and oracle-checked, since every
  // step is IEEE-deterministic: one division, one round, both engines
  // identical). Quantization itself is a pure projection — at scale it
  // runs inside the scan with the stats row broadcast.
  /** Top-3 by approximate cosine for the fixed query batch (vec_id < 5)
    * over a quantized-index frame (vec_id, v, nrm, rv, rnrm), reporting the
    * exact cosine and |error| alongside. `qUseRecon` selects symmetric (SQ:
    * both sides reconstructed) vs asymmetric (PQ-ADC: raw query) scoring;
    * `scoreName` names the approximate-cosine output column. Shared by
    * s4/s5 so the tie-break and rounding rules cannot drift apart.
    */
  private def quantTop3(recon: DataFrame, qUseRecon: Boolean, scoreName: String): DataFrame = {
    val (qv, qn) = if (qUseRecon) ("rv", "rnrm") else ("v", "nrm")
    val q = recon.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col(qv).as("qa"), col(qn).as("qna"),
        col("v").as("ad"), col("nrm").as("na"))
    val c = recon.select(col("vec_id").as("cid"), col("rv").as("qb"), col("rnrm").as("qnb"),
      col("v").as("bd"), col("nrm").as("nb"))
    val w = Window.partitionBy(col("qid")).orderBy(col("qcos").desc, col("cid"))
    broadcast(q).join(c, col("qid") =!= col("cid"))
      .withColumn("qcos", expr("graft_dot(qa, qb)") / (col("qna") * col("qnb")))
      .withColumn("cos", cosCol)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("qid"), col("rk"), col("cid"),
        round(col("qcos"), 6).as(scoreName), round(col("cos"), 6).as("cos_r"),
        round(abs(col("qcos") - col("cos")), 6).as("abs_err_r"))
      .orderBy("qid", "rk")
  }

  private def s4ScalarQuant(s: SparkSession, d: String): DataFrame =
    // int8 index, memoized via ArtifactCache like every trained artifact
    quantTop3(ArtifactCache.getOrElseUpdate("similarity.sq", s, d)(withSmallBuild(s, d)(sqRecon(s, d))),
      qUseRecon = true, "qcos_r")

  private def sqRecon(s: SparkSession, d: String): DataFrame = {
    val e = vecsD(s, d).cache()
    val stats = e
      .select(posexplode(col("v")).as(Seq("dim0", "x")))
      .groupBy("dim0").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(array_sort(collect_list(struct(col("dim0"), col("mn"), col("mx")))).as("dm"))
      .select(
        expr("transform(dm, e -> e.mn)").as("mins"),
        expr("transform(dm, e -> CASE WHEN e.mx = e.mn THEN 1.0D ELSE e.mx - e.mn END)").as("rngs"))
    val dims = Clustering.Dims
    // one fused transform: code (the int8 value) and reconstruction in a
    // single pass; the quantized index is cached — built once, served many,
    // exactly like a production vector index
    e.crossJoin(broadcast(stats))
      .withColumn("rv", expr(s"transform(sequence(1, $dims), i -> " +
        "element_at(mins, i) + " +
        "CAST(CAST(round((element_at(v, i) - element_at(mins, i)) / element_at(rngs, i) * 127, 0) AS INT) AS DOUBLE)" +
        " / 127 * element_at(rngs, i))"))
      .withColumn("rnrm", sqrt(expr("graft_dot(rv, rv)")))
      .select("vec_id", "v", "nrm", "rv", "rnrm")
      .cache()
  }

  private val s4Sql = {
    val dims = Clustering.Dims
    s"""WITH ev AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
       |), dimstats AS (
       |  SELECT r.range AS dim0, min(v[r.range]) AS mn, max(v[r.range]) AS mx
       |  FROM ev, range(1, ${dims + 1}) r GROUP BY dim0
       |), arrs AS (
       |  SELECT list(mn ORDER BY dim0) AS mins,
       |    list(CASE WHEN mx = mn THEN 1.0 ELSE mx - mn END ORDER BY dim0) AS rngs
       |  FROM dimstats
       |), recon AS (
       |  SELECT vec_id, v,
       |    list_transform(range(1, ${dims + 1}), i ->
       |      mins[i] + CAST(CAST(round((v[i] - mins[i]) / rngs[i] * 127) AS INT) AS DOUBLE) / 127 * rngs[i]) AS rv
       |  FROM ev, arrs
       |)
       |SELECT qid, rk, cid, qcos_r, cos_r, abs_err_r FROM (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |    round(list_cosine_similarity(q.rv, c.rv), 6) AS qcos_r,
       |    round(list_cosine_similarity(q.v, c.v), 6) AS cos_r,
       |    round(abs(list_cosine_similarity(q.rv, c.rv) - list_cosine_similarity(q.v, c.v)), 6) AS abs_err_r,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(q.rv, c.rv) DESC, c.vec_id) AS rk
       |  FROM recon q JOIN recon c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 5)
       |WHERE rk <= 3
       |ORDER BY qid, rk""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // s5 — product quantization with asymmetric distance (Jégou et al. 2011,
  // "Product quantization for nearest neighbor search"): the 64-dim space
  // splits into M=4 subspaces of 16 dims, each with its own K=16-entry
  // codebook (Lloyd-trained on the bounded hash-sample — training cost is
  // codebook-sized, never corpus-sized). A corpus vector stores only 4
  // code ids (M * log2 K = 16 bits vs 2048 for float32 — 128x compression);
  // queries stay RAW and score against per-code reconstructions (ADC).
  // Encoding is a pure projection — all 4 codebooks ride ONE broadcast row
  // and each subspace argmin is graft_cell_top(slice(v), cs_m, 1),
  // so at 100 TB the corpus is coded in a single scan with zero data
  // movement. Completes the quantization triad (s3 IVF + s4 SQ + s5 PQ).
  private[operators] val PqM = 4
  private[operators] val PqK = 16
  private[operators] val PqSubDim = Clustering.Dims / PqM

  private def s5PqAdc(s: SparkSession, d: String): DataFrame =
    // ADC: raw query against the reconstructed corpus (asymmetric scoring).
    // Codebooks + reconstructions memoized via ArtifactCache: trained once
    // per dataset like the IVF ranking — every s5 evaluation reuses the same
    // cached quantized index.
    quantTop3(ArtifactCache.getOrElseUpdate("similarity.pq", s, d)(withSmallBuild(s, d)(pqRecon(s, d))),
      qUseRecon = false, "pqcos_r")

  private def pqRecon(s: SparkSession, d: String): DataFrame = {
    val e = vecsD(s, d).cache()
    val vecs = e.select(col("vec_id"), col("v"))
    val params = e.agg(count(lit(1)).as("n"))
      .select(lit(PqK).as("k"),
        expr(s"(n + ${TrainPerCell * PqK} - 1) div ${TrainPerCell * PqK}").cast("int").as("rate"))
    val train = trainSample(vecs, params)
    // one codebook per subspace, each folded to a single-row array; the 4
    // single-row frames cross-join into ONE broadcast row of cs0..cs3.
    // Trainings are independent, so they are SUBMITTED concurrently — the
    // per-iteration checkpoint jobs of the 4 Lloyd chains overlap instead
    // of serializing (Spark's scheduler interleaves jobs from different
    // threads; each chain is deterministic regardless of completion order).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val futures = (0 until PqM).map { m =>
      Future {
        val sub = train.select(col("vec_id"), col("k"),
          expr(s"slice(v, ${m * PqSubDim + 1}, $PqSubDim)").as("v"))
        val cents0 = seedCents(sub)
        // relabel codes to DENSE 0..K-1 (order-preserving over the trained
        // cids, so argmin tie-breaks are unchanged): the reconstruction
        // lookup becomes a direct element_at instead of an array filter
        val cb = Clustering.kmeans(sub, cents0, IvfIters)
          .withColumn("cid", row_number().over(Window.orderBy("cid")).cast("long") - 1)
        Clustering.centsAsArray(cb).select(col("cs").as(s"cs$m"))
      }
    }
    val codebooks = futures.map(Await.result(_, Duration.Inf))
    val books = broadcast(codebooks.reduce(_.crossJoin(_)))
    // encode + reconstruct in one projection: per subspace, the argmin code
    // and its centroid (fetched from the same broadcast array), concatenated
    val withRv = (0 until PqM).foldLeft(e.crossJoin(books)) { (df, m) =>
      df.withColumn(s"code$m",
          expr(s"element_at(graft_cell_top(slice(v, ${m * PqSubDim + 1}, $PqSubDim), cs$m, 1), 1).cid"))
        .withColumn(s"rv$m",
          expr(s"element_at(cs$m, CAST(code$m + 1 AS INT)).c"))
    }
    withRv
      .withColumn("rv", expr((0 until PqM).map(m => s"rv$m").mkString("concat(", ", ", ")")))
      .withColumn("rnrm", sqrt(expr("graft_dot(rv, rv)")))
      .select("vec_id", "v", "nrm", "rv", "rnrm")
      .cache()
  }

  private val s5Sql = {
    val ctes = new scala.collection.mutable.ListBuffer[String]
    ctes += "ev AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)"
    ctes += s"""pq_params AS (
               |  SELECT $PqK AS k, (count(*) + ${TrainPerCell * PqK} - 1) // ${TrainPerCell * PqK} AS rate
               |  FROM embeddings
               |)""".stripMargin
    ctes += s"""pq_train AS MATERIALIZED (
               |  SELECT vec_id, v FROM ev, pq_params
               |  WHERE rate <= 1 OR
               |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT) % rate = 0
               |)""".stripMargin
    val finals = (0 until PqM).map { m =>
      val lo = m * PqSubDim + 1
      val hi = (m + 1) * PqSubDim
      ctes += s"pq${m}_vecs AS MATERIALIZED (SELECT vec_id, v[$lo:$hi] AS v FROM pq_train)"
      ctes += s"""pq${m}_cents0 AS (
                 |  SELECT vec_id AS cid, v AS c FROM (
                 |    SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn FROM pq${m}_vecs)
                 |  WHERE rn <= $PqK
                 |)""".stripMargin
      val fin = Clustering.kmeansCtes(ctes, s"pq${m}_vecs", s"pq${m}_cents0", IvfIters,
        s"pq${m}_", PqSubDim, materializeFinal = true)
      // encode the FULL corpus subspace against the trained codebook
      ctes += s"pq${m}_all AS (SELECT vec_id, v[$lo:$hi] AS v FROM ev)"
      ctes += Clustering.assignCte(s"pq${m}_all", fin, s"pq${m}_enc", PqSubDim)
      fin
    }
    val joins = (0 until PqM).map(m =>
      s"JOIN pq${m}_enc e$m ON e$m.vec_id = e.vec_id JOIN ${finals(m)} c$m ON c$m.cid = e$m.cid")
      .mkString("\n  ")
    ctes += s"""recon AS MATERIALIZED (
               |  SELECT e.vec_id, e.v, ${(0 until PqM).map(m => s"c$m.c").mkString(" || ")} AS rv
               |  FROM ev e
               |  $joins
               |)""".stripMargin
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT qid, rk, cid, pqcos_r, cos_r, abs_err_r FROM (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |    round(list_cosine_similarity(q.v, c.rv), 6) AS pqcos_r,
       |    round(list_cosine_similarity(q.v, c.v), 6) AS cos_r,
       |    round(abs(list_cosine_similarity(q.v, c.rv) - list_cosine_similarity(q.v, c.v)), 6) AS abs_err_r,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(q.v, c.rv) DESC, c.vec_id) AS rk
       |  FROM recon q JOIN recon c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 5)
       |WHERE rk <= 3
       |ORDER BY qid, rk""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // s6 — MMR diverse reranking (Carbonell & Goldstein 1998): after retrieval,
  // greedily select k results maximizing lambda*relevance - (1-lambda)*
  // max-similarity-to-already-selected — the diversity-aware sampling step a
  // curation pipeline runs so near-identical top hits don't all survive.
  // Candidate pools are per-query top-10 (retrieval output, tiny by
  // construction), so the greedy k-step recursion unrolls DECLARATIVELY over
  // pool-sized frames — window argmax per step, one plan, no driver loop,
  // no collect. At 100 TB the corpus-sized work is the retrieval (s1/s2/s3);
  // MMR only ever touches k x pool rows per query.
  private val MmrLambda = 0.7
  private val MmrK = 3
  private val MmrPool = 10

  private def s6MmrRerank(s: SparkSession, d: String): DataFrame = {
    val e = vecsD(s, d).cache()
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("ad"), col("nrm").as("na"))
    val c = e.select(col("vec_id").as("cid"), col("v").as("bd"), col("nrm").as("nb"))
    val wRel = Window.partitionBy(col("qid")).orderBy(col("rel").desc, col("cid"))
    // 5 queries x 10 candidates. Populated EAGERLY: the unrolled k-step plan
    // references this frame ~2k times (and sims below references it twice per
    // step), so a lazily-cached version lets AQE's concurrent broadcast-build
    // jobs race its first materialization and redo the 5 x n cosine scan —
    // the same race the IVF ranking cache hit at 400x.
    val cand = broadcast(q).join(c, col("qid") =!= col("cid"))
      .withColumn("rel", cosCol)
      .withColumn("rk", row_number().over(wRel))
      .where(col("rk") <= MmrPool)
      .select("qid", "cid", "rel")
      .cache()
    cand.count()
    val a = cand.select(col("qid"), col("cid").as("cid_a"))
      .join(e.select(col("vec_id").as("cid_a"), col("v").as("ad"), col("nrm").as("na")), "cid_a")
    val b = cand.select(col("qid"), col("cid").as("cid_b"))
      .join(e.select(col("vec_id").as("cid_b"), col("v").as("bd"), col("nrm").as("nb")), "cid_b")
    val sims = a.join(b, Seq("qid")).where(col("cid_a") =!= col("cid_b"))
      .withColumn("sim", cosCol)
      .select("qid", "cid_a", "cid_b", "sim")
      .cache()
    sims.count() // eager for the same reason — every step's maxsim probes it
    val wScore = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    val sel1 = cand
      .withColumn("score", lit(MmrLambda) * col("rel"))
      .withColumn("rn", row_number().over(wScore)).where(col("rn") === 1)
      .select(col("qid"), col("cid"), lit(1).as("step"), col("score"))
    def nextStep(selected: DataFrame, step: Int): DataFrame = {
      val maxsim = sims
        .join(selected.select(col("qid"), col("cid").as("cid_b")), Seq("qid", "cid_b"))
        .groupBy("qid", "cid_a").agg(max(col("sim")).as("maxsim"))
        .withColumnRenamed("cid_a", "cid")
      cand.join(selected.select(col("qid"), col("cid")), Seq("qid", "cid"), "left_anti")
        .join(maxsim, Seq("qid", "cid"))
        // (1 - lambda) is COMPUTED from the 0.7 double in both engines (the
        // oracle spells 1e0 - 0.7e0), so the penalty constant is bit-equal
        .withColumn("score",
          lit(MmrLambda) * col("rel") - lit(1.0 - MmrLambda) * col("maxsim"))
        .withColumn("rn", row_number().over(wScore)).where(col("rn") === 1)
        .select(col("qid"), col("cid"), lit(step).as("step"), col("score"))
    }
    // Each step materializes via localCheckpoint (k x 5 rows): without it the
    // fold nests step N-1's whole plan inside step N — ~20 sequential
    // micro-jobs and most of the query's wall clock spent in driver-side
    // re-analysis of the nested tree, not in any executor work (measured
    // 2-9 s at sf0.1; flat-leaf steps plan in milliseconds). Same pattern as
    // d9/e1's per-round truncation, at selection-frame size.
    val selAll = (2 to MmrK).foldLeft(sel1.localCheckpoint())((acc, st) =>
      acc.union(nextStep(acc, st)).localCheckpoint())
    selAll
      .select(col("qid"), col("step"), col("cid"), round(col("score"), 6).as("score_r"))
      .orderBy("qid", "step")
  }

  private val s6Sql = {
    // unrolled greedy: selN picks the argmax of lambda*rel - (1-lambda)*
    // max(sim to sel1..selN-1) among not-yet-selected candidates
    def stepCte(n: Int): String = {
      val selectedUnion =
        (1 until n).map(i => s"SELECT qid, cid FROM sel$i").mkString(" UNION ALL ")
      s"""sel$n AS (
         |  SELECT qid, cid, $n AS step, score FROM (
         |    SELECT p.qid, p.cid, p.score,
         |      row_number() OVER (PARTITION BY p.qid ORDER BY p.score DESC, p.cid) AS rn
         |    FROM (
         |      SELECT c.qid, c.cid,
         |        ${MmrLambda}e0 * c.rel - (1e0 - ${MmrLambda}e0) * max(s.sim) AS score
         |      FROM cand c
         |      JOIN sims s ON s.qid = c.qid AND s.cid_a = c.cid
         |      JOIN ($selectedUnion) t ON t.qid = s.qid AND t.cid = s.cid_b
         |      WHERE NOT EXISTS (SELECT 1 FROM ($selectedUnion) x
         |                        WHERE x.qid = c.qid AND x.cid = c.cid)
         |      GROUP BY c.qid, c.cid, c.rel) p) WHERE rn = 1
         |)""".stripMargin
    }
    val steps = (2 to MmrK).map(stepCte).mkString(",\n")
    val unionAll = (1 to MmrK).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")
    s"""WITH ev AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
       |), cand AS (
       |  SELECT qid, cid, rel FROM (
       |    SELECT q.vec_id AS qid, c.vec_id AS cid,
       |      list_cosine_similarity(q.v, c.v) AS rel,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rk
       |    FROM ev q JOIN ev c ON q.vec_id <> c.vec_id
       |    WHERE q.vec_id < 5)
       |  WHERE rk <= $MmrPool
       |), sims AS (
       |  SELECT a.qid, a.cid AS cid_a, b.cid AS cid_b,
       |    list_cosine_similarity(ea.v, eb.v) AS sim
       |  FROM cand a JOIN cand b ON a.qid = b.qid AND a.cid <> b.cid
       |  JOIN ev ea ON ea.vec_id = a.cid JOIN ev eb ON eb.vec_id = b.cid
       |), sel1 AS (
       |  SELECT qid, cid, 1 AS step, score FROM (
       |    SELECT qid, cid, ${MmrLambda}e0 * rel AS score,
       |      row_number() OVER (PARTITION BY qid ORDER BY ${MmrLambda}e0 * rel DESC, cid) AS rn
       |    FROM cand) WHERE rn = 1
       |),
       |$steps
       |SELECT qid, step, cid, round(score, 6) AS score_r
       |FROM ($unionAll)
       |ORDER BY qid, step""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // s7 — IVF-PQ with RESIDUAL codebooks + ADC (Jegou et al. 2011 §IV — the
  // composition FAISS ships as IndexIVFPQ, and the actual billion-scale
  // serving shape): the coarse quantizer (s3's trained cells, shared
  // artifact) partitions the corpus; each vector stores its cell id plus
  // M=4 sub-codes of its RESIDUAL r = v - c_home (residuals concentrate
  // near 0, so the same 16-entry codebooks quantize them far better than
  // raw vectors — lower reconstruction error than s5 at identical 128x
  // compression). Queries probe nprobe cells and rank candidates by
  // asymmetric distance against c_home + r̂. SCALE SHAPE: everything the
  // corpus touches is a projection — residual, encode, reconstruct all ride
  // broadcast codebook rows inside one scan; probe-side candidate sets are
  // cell-bounded exactly like s3. Training cost is codebook-sized (bounded
  // hash-sample), never corpus-sized.
  private def s7IvfPq(s: SparkSession, d: String): DataFrame = {
    val recon = ArtifactCache.getOrElseUpdate("similarity.ivfpq", s, d)(withSmallBuild(s, d)(ivfpqRecon(s, d)))
    val ranked = rankedCells(s, d)
    val assigned = recon.select(col("vec_id").as("cid"), col("cell"),
      col("v").as("bd"), col("nrm").as("nb"), col("rv").as("qb"), col("rnrm").as("qnb"))
    val probes = ranked.where(col("crk") <= NProbe &&
        col("vec_id") >= 200 && col("vec_id") < 205)
      .select(col("vec_id").as("qid"), col("v").as("ad"), col("nrm").as("na"),
        col("cid").as("cell"))
    val w = Window.partitionBy(col("qid")).orderBy(col("qcos").desc, col("cid"))
    broadcast(probes).join(assigned, Seq("cell"))
      .where(col("qid") =!= col("cid"))
      .withColumn("qcos", expr("graft_dot(ad, qb)") / (col("na") * col("qnb")))
      .withColumn("cos", cosCol)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("qid"), col("rk"), col("cid"), col("cell"),
        round(col("qcos"), 6).as("ivfpq_cos_r"), round(col("cos"), 6).as("cos_r"),
        round(abs(col("qcos") - col("cos")), 6).as("abs_err_r"))
      .orderBy("qid", "rk")
  }

  /** The IVF-PQ quantized index: (vec_id, cell, v, nrm, rv, rnrm) where
    * rv = c_home + concat(residual sub-reconstructions). Codebooks train on
    * the bounded residual hash-sample, concurrently per subspace like s5.
    */
  private def ivfpqRecon(s: SparkSession, d: String): DataFrame = {
    val ranked = rankedCells(s, d)
    val cents = trainedCents(s, d)
    // residual per vector against its home (crk=1) cell, centroid kept for
    // the final reconstruction — one broadcast join, no corpus shuffle
    val resid = ranked.where(col("crk") === 1)
      .join(broadcast(cents), "cid")
      .select(col("vec_id"), col("cid").as("cell"), col("v"), col("nrm"),
        expr("zip_with(v, c, (x, y) -> x - y)").as("r"), col("c"))
      .cache()
    val params = resid.agg(count(lit(1)).as("n"))
      .select(lit(PqK).as("k"),
        expr(s"(n + ${TrainPerCell * PqK} - 1) div ${TrainPerCell * PqK}").cast("int").as("rate"))
    val train = trainSample(resid.select(col("vec_id"), col("r").as("v")), params)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val futures = (0 until PqM).map { m =>
      Future {
        val sub = train.select(col("vec_id"), col("k"),
          expr(s"slice(v, ${m * PqSubDim + 1}, $PqSubDim)").as("v"))
        val cents0 = seedCents(sub)
        val cb = Clustering.kmeans(sub, cents0, IvfIters)
          .withColumn("cid", row_number().over(Window.orderBy("cid")).cast("long") - 1)
        Clustering.centsAsArray(cb).select(col("cs").as(s"rcs$m"))
      }
    }
    val codebooks = futures.map(Await.result(_, Duration.Inf))
    val books = broadcast(codebooks.reduce(_.crossJoin(_)))
    val withRv = (0 until PqM).foldLeft(resid.crossJoin(books)) { (df, m) =>
      df.withColumn(s"code$m",
          expr(s"element_at(graft_cell_top(slice(r, ${m * PqSubDim + 1}, $PqSubDim), rcs$m, 1), 1).cid"))
        .withColumn(s"rv$m",
          expr(s"element_at(rcs$m, CAST(code$m + 1 AS INT)).c"))
    }
    val out = withRv
      .withColumn("rr", expr((0 until PqM).map(m => s"rv$m").mkString("concat(", ", ", ")")))
      .withColumn("rv", expr("zip_with(c, rr, (x, y) -> x + y)"))
      .withColumn("rnrm", sqrt(expr("graft_dot(rv, rv)")))
      .select("vec_id", "cell", "v", "nrm", "rv", "rnrm")
      .cache()
    out.count() // eager; resid feeds 4 concurrent trainings + the encode
    resid.unpersist()
    out
  }

  private[operators] val s7Sql = {
    val ctes = new scala.collection.mutable.ListBuffer[String]
    val finalCents = rankedCtes(ctes)
    ctes += s"""resid AS MATERIALIZED (
               |  SELECT h.vec_id, h.cell, h.v,
               |    list_transform(range(1, ${Clustering.Dims + 1}), i -> h.v[i] - c.c[i]) AS r
               |  FROM (SELECT vec_id, v, cell FROM ranked WHERE crk = 1) h
               |  JOIN $finalCents c ON c.cid = h.cell
               |)""".stripMargin
    ctes += s"""rpq_params AS (
               |  SELECT $PqK AS k, (count(*) + ${TrainPerCell * PqK} - 1) // ${TrainPerCell * PqK} AS rate
               |  FROM embeddings
               |)""".stripMargin
    ctes += s"""rpq_train AS MATERIALIZED (
               |  SELECT vec_id, r AS v FROM resid, rpq_params
               |  WHERE rate <= 1 OR
               |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT) % rate = 0
               |)""".stripMargin
    val finals = (0 until PqM).map { m =>
      val lo = m * PqSubDim + 1
      val hi = (m + 1) * PqSubDim
      ctes += s"rpq${m}_vecs AS MATERIALIZED (SELECT vec_id, v[$lo:$hi] AS v FROM rpq_train)"
      ctes += s"""rpq${m}_cents0 AS (
                 |  SELECT vec_id AS cid, v AS c FROM (
                 |    SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn FROM rpq${m}_vecs)
                 |  WHERE rn <= $PqK
                 |)""".stripMargin
      val fin = Clustering.kmeansCtes(ctes, s"rpq${m}_vecs", s"rpq${m}_cents0", IvfIters,
        s"rpq${m}_", PqSubDim, materializeFinal = true)
      ctes += s"rpq${m}_all AS (SELECT vec_id, r[$lo:$hi] AS v FROM resid)"
      ctes += Clustering.assignCte(s"rpq${m}_all", fin, s"rpq${m}_enc", PqSubDim)
      fin
    }
    val joins = (0 until PqM).map(m =>
      s"JOIN rpq${m}_enc e$m ON e$m.vec_id = e.vec_id JOIN ${finals(m)} c$m ON c$m.cid = e$m.cid")
      .mkString("\n  ")
    // NB: the home centroid joins back by cell — reconstructing it as
    // v[i] - r[i] would NOT be bit-identical (v - fl(v - c) can differ from
    // c by an ulp), and the Spark side adds the stored centroid directly
    ctes += s"""ivfpq_recon AS (
               |  SELECT e.vec_id, e.cell, e.v,
               |    list_transform(range(1, ${Clustering.Dims + 1}),
               |      i -> hc.c[i] + (${(0 until PqM).map(m => s"c$m.c").mkString(" || ")})[i]) AS rv
               |  FROM resid e
               |  JOIN $finalCents hc ON hc.cid = e.cell
               |  $joins
               |)""".stripMargin
    ctes += s"""s7_probes AS (
               |  SELECT vec_id AS qid, v AS qv, cell FROM ranked
               |  WHERE crk <= $NProbe AND vec_id >= 200 AND vec_id < 205
               |)""".stripMargin
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT qid, rk, cid, cell, ivfpq_cos_r, cos_r, abs_err_r FROM (
       |  SELECT p.qid, a.vec_id AS cid, a.cell,
       |    round(list_cosine_similarity(p.qv, a.rv), 6) AS ivfpq_cos_r,
       |    round(list_cosine_similarity(p.qv, a.v), 6) AS cos_r,
       |    round(abs(list_cosine_similarity(p.qv, a.rv) - list_cosine_similarity(p.qv, a.v)), 6) AS abs_err_r,
       |    row_number() OVER (PARTITION BY p.qid
       |      ORDER BY list_cosine_similarity(p.qv, a.rv) DESC, a.vec_id) AS rk
       |  FROM s7_probes p JOIN ivfpq_recon a USING (cell)
       |  WHERE p.qid <> a.vec_id)
       |WHERE rk <= 3
       |ORDER BY qid, rk""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // s8 — ANN RECALL, measured rather than asserted: for the s2 LSH batch
  // (qids 100..104) and the s3 IVF batch (qids 200..204), rebuild each
  // method's candidate set exactly as its ANN query does (same lshKeys /
  // rankedCells machinery and artifacts), intersect with the exact cosine
  // top-RecallK ground truth, and emit per-(method, query) recall plus the
  // candidate-set size — the work the method paid for that recall. The
  // accuracy/cost trade the ANN family claims becomes a hash-checked number
  // at every scale factor: a retuning that silently collapsed recall (or
  // exploded candidate counts) now fails the oracle gate instead of hiding
  // behind a still-plausible top-k. Ground truth is the "tiny query batch x
  // one corpus scan" brute shape (s1); candidates ride the same one-shuffle
  // plans as s2/s3, so the measurement itself stays 100 TB-shaped.
  private val RecallK = 10

  private def s8AnnRecall(s: SparkSession, d: String): DataFrame = {
    val e = vecsD(s, d).cache()
    val q = e.where((col("vec_id") >= 100 && col("vec_id") < 105) ||
        (col("vec_id") >= 200 && col("vec_id") < 205))
      .select(col("vec_id").as("qid"), col("v").as("ad"), col("nrm").as("na"))
    val c = e.select(col("vec_id").as("cid"), col("v").as("bd"), col("nrm").as("nb"))
    val truth = broadcast(q).join(c, col("qid") =!= col("cid"))
      .withColumn("cos", cosCol)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))))
      .where(col("rk") <= RecallK)
      .select(col("qid"), col("cid"))
    val keyed = lshKeys(s, d)
    val qk = keyed.where(col("vec_id") >= 100 && col("vec_id") < 105)
      .select(col("vec_id").as("qid"), col("tbl"), col("key"))
    val lshCand = broadcast(qk)
      .join(keyed.select(col("vec_id").as("cid"), col("tbl"), col("key")), Seq("tbl", "key"))
      .where(col("qid") =!= col("cid"))
      .select(lit("lsh").as("method"), col("qid"), col("cid")).distinct()
    val ranked = rankedCells(s, d)
    val probes = ranked.where(col("crk") <= NProbe &&
        col("vec_id") >= 200 && col("vec_id") < 205)
      .select(col("vec_id").as("qid"), col("cid").as("cell"))
    val assigned = ranked.where(col("crk") === 1)
      .select(col("vec_id").as("aid"), col("cid").as("cell"))
    val ivfCand = broadcast(probes).join(assigned, Seq("cell"))
      .where(col("qid") =!= col("aid"))
      .select(lit("ivf").as("method"), col("qid"), col("aid").as("cid")).distinct()
    val cand = lshCand.unionByName(ivfCand)
    val universe = e.where(col("vec_id") >= 100 && col("vec_id") < 105)
      .select(lit("lsh").as("method"), col("vec_id").as("qid"))
      .unionByName(e.where(col("vec_id") >= 200 && col("vec_id") < 205)
        .select(lit("ivf").as("method"), col("vec_id").as("qid")))
    val sizes = cand.groupBy("method", "qid").agg(count(lit(1)).as("cand_n"))
    val hits = cand.join(truth, Seq("qid", "cid"))
      .groupBy("method", "qid").agg(count(lit(1)).as("hit_n"))
    universe.join(sizes, Seq("method", "qid"), "left")
      .join(hits, Seq("method", "qid"), "left")
      .select(col("method"), col("qid"),
        coalesce(col("cand_n"), lit(0L)).as("cand_n"),
        coalesce(col("hit_n"), lit(0L)).as("hit_n"),
        round(coalesce(col("hit_n"), lit(0L)) / lit(RecallK.toDouble), 4).as("recall_r"))
      .orderBy("method", "qid")
  }

  private val s8Sql = {
    val ctes = new scala.collection.mutable.ListBuffer[String]
    rankedCtes(ctes) // vecs / params / train / cents0 / ivf_* / ranked
    ctes += lshCtesNamed("vecs", "l") // lparams / lplanes / lkeyed
    ctes += s"""truth AS MATERIALIZED (
               |  SELECT qid, cid FROM (
               |    SELECT q.vec_id AS qid, c.vec_id AS cid,
               |      row_number() OVER (PARTITION BY q.vec_id
               |        ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rk
               |    FROM vecs q JOIN vecs c ON q.vec_id <> c.vec_id
               |    WHERE (q.vec_id >= 100 AND q.vec_id < 105)
               |       OR (q.vec_id >= 200 AND q.vec_id < 205))
               |  WHERE rk <= $RecallK
               |)""".stripMargin
    ctes += s"""cand AS MATERIALIZED (
               |  SELECT 'lsh' AS method, q.vec_id AS qid, c.vec_id AS cid
               |  FROM lkeyed q JOIN lkeyed c
               |    ON q.tbl = c.tbl AND q.key = c.key AND q.vec_id <> c.vec_id
               |  WHERE q.vec_id >= 100 AND q.vec_id < 105
               |  UNION
               |  SELECT 'ivf', p.qid, a.cid
               |  FROM (SELECT vec_id AS qid, cell FROM ranked
               |        WHERE crk <= $NProbe AND vec_id >= 200 AND vec_id < 205) p
               |  JOIN (SELECT vec_id AS cid, cell FROM ranked WHERE crk = 1) a USING (cell)
               |  WHERE p.qid <> a.cid
               |)""".stripMargin
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT u.method, u.qid,
       |  coalesce(s.cand_n, 0) AS cand_n,
       |  coalesce(h.hit_n, 0) AS hit_n,
       |  round(coalesce(h.hit_n, 0) / ${RecallK}.0, 4) AS recall_r
       |FROM (SELECT 'lsh' AS method, vec_id AS qid FROM embeddings
       |      WHERE vec_id >= 100 AND vec_id < 105
       |      UNION ALL
       |      SELECT 'ivf', vec_id FROM embeddings
       |      WHERE vec_id >= 200 AND vec_id < 205) u
       |LEFT JOIN (SELECT method, qid, count(*) AS cand_n FROM cand GROUP BY 1, 2) s
       |  USING (method, qid)
       |LEFT JOIN (SELECT c.method, c.qid, count(*) AS hit_n FROM cand c
       |           JOIN truth t ON t.qid = c.qid AND t.cid = c.cid GROUP BY 1, 2) h
       |  USING (method, qid)
       |ORDER BY method, qid""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // s10 — RECALL-TARGETED nprobe CALIBRATION: s8 measures recall at the
  // shipped nprobe; s10 CLOSES the loop — derive the smallest nprobe whose
  // calibration recall@10 meets a target (0.90), the training-time step a
  // production ANN deployment runs so query time carries zero tuning cost.
  //
  // The key economy: recall@nprobe is CUMULATIVE in the cell rank. For each
  // (calibration query q, true neighbor t) pair, the only quantity that
  // matters is the rank of t's HOME cell in q's cell ordering — recall at
  // nprobe=p is just the fraction of truth pairs with that rank <= p. One
  // pass computes the whole recall curve for every p at once; nothing
  // re-runs the index per candidate setting.
  //
  // 100-TB shape: the calibration batch is FIXED-SIZE (16 ids — the same
  // fixed-window discipline as s8's query batches), so ground truth is the
  // bounded "tiny batch x one corpus scan" brute shape (16n work, linear),
  // cell ranks are 16 x k rows against the broadcast trained centroids, and
  // the curve aggregation is 8 integer counters. All arithmetic is integer
  // (ppm via truncating division) — hash-identical across engines.
  private val CalibLo = 300
  private val CalibHi = 316
  private val CalibMaxProbe = 8
  private val CalibTargetPpm = 900000L // recall@10 target = 0.90

  private def s10NprobeCalibrate(s: SparkSession, d: String): DataFrame =
    withSmallBuild(s, d) {
      val e = vecsD(s, d).cache()
      val q = e.where(col("vec_id") >= CalibLo && col("vec_id") < CalibHi)
        .select(col("vec_id").as("qid"), col("v"), col("nrm").as("na"))
      val c = e.select(col("vec_id").as("cid"), col("v").as("bd"), col("nrm").as("nb"))
      val truth = broadcast(q.withColumnRenamed("v", "ad"))
        .join(c, col("qid") =!= col("cid"))
        .withColumn("cos", cosCol)
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))))
        .where(col("rk") <= RecallK)
        .select(col("qid"), col("cid"))
      val ranked = rankedCells(s, d)
      val home = ranked.where(col("crk") === 1)
        .select(col("vec_id").as("tid"), col("cid").as("home_cell"))
      // calibration queries' cell ranks to CalibMaxProbe (deeper than the
      // corpus-wide ranked slice, but only for the 16-row batch)
      val qcr = q.crossJoin(broadcast(Clustering.centsAsArray(trainedCents(s, d))))
        .select(col("qid"),
          posexplode(expr(s"graft_cell_top(v, cs, $CalibMaxProbe)")).as(Seq("pos", "dc")))
        .select(col("qid"), col("dc.cid").as("cell"), (col("pos") + 1).as("qcrk"))
      val hits = truth.join(home, col("cid") === col("tid"))
        .join(broadcast(qcr),
          qcr("qid") === truth("qid") && col("cell") === col("home_cell"), "left")
        .select(truth("qid"), col("qcrk"))
      val byRank = hits.where(col("qcrk").isNotNull)
        .groupBy("qcrk").agg(count(lit(1)).as("n"))
      val ps = s.range(1, CalibMaxProbe + 1)
        .select(col("id").as("nprobe"))
      val totals = ps.join(byRank, col("qcrk") <= col("nprobe"), "left")
        .groupBy("nprobe").agg(coalesce(sum(col("n")), lit(0L)).as("hit_n"))
      val denom = truth.agg(count(lit(1)).as("truth_n"))
      totals.crossJoin(broadcast(denom))
        .withColumn("recall_ppm", expr("hit_n * 1000000 div truth_n"))
        .withColumn("min_ok", min(when(col("recall_ppm") >= CalibTargetPpm,
          col("nprobe"))).over(Window.partitionBy(lit(1))))
        .select(col("nprobe"), col("hit_n"), col("truth_n"), col("recall_ppm"),
          lit(CalibTargetPpm).as("target_ppm"),
          (col("min_ok").isNotNull && col("nprobe") === col("min_ok")).as("chosen"))
        .orderBy("nprobe")
    }

  private val s10Sql = {
    val ctes = new scala.collection.mutable.ListBuffer[String]
    val finalCents = rankedCtes(ctes) // vecs / params / train / cents0 / ivf_* / ranked
    ctes += s"""cq AS (
               |  SELECT vec_id AS qid, v FROM vecs
               |  WHERE vec_id >= $CalibLo AND vec_id < $CalibHi
               |)""".stripMargin
    ctes += s"""ctruth AS MATERIALIZED (
               |  SELECT qid, cid FROM (
               |    SELECT q.qid, c.vec_id AS cid,
               |      row_number() OVER (PARTITION BY q.qid
               |        ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rk
               |    FROM cq q JOIN vecs c ON q.qid <> c.vec_id)
               |  WHERE rk <= $RecallK
               |)""".stripMargin
    // distance precomputed as a scalar column before the window (the e2
    // window-materialization lesson; 16 x k rows here, discipline anyway)
    val qdist = s"list_sum(list_transform(range(1, ${Clustering.Dims + 1}), i -> (q.v[i] - c.c[i]) * (q.v[i] - c.c[i])))"
    ctes += s"""qcr AS MATERIALIZED (
               |  SELECT qid, cell, qcrk FROM (
               |    SELECT qid, cell, row_number() OVER (PARTITION BY qid
               |        ORDER BY dist2, cell) AS qcrk
               |    FROM (SELECT q.qid, c.cid AS cell, $qdist AS dist2
               |          FROM cq q, $finalCents c))
               |  WHERE qcrk <= $CalibMaxProbe
               |)""".stripMargin
    ctes += s"""chits AS MATERIALIZED (
               |  SELECT t.qid, r.qcrk
               |  FROM ctruth t
               |  JOIN (SELECT vec_id AS tid, cell FROM ranked WHERE crk = 1) h
               |    ON h.tid = t.cid
               |  LEFT JOIN qcr r ON r.qid = t.qid AND r.cell = h.cell
               |)""".stripMargin
    ctes += s"""curve AS (
               |  SELECT p.nprobe,
               |    count(*) FILTER (WHERE h.qcrk IS NOT NULL AND h.qcrk <= p.nprobe) AS hit_n
               |  FROM (SELECT unnest(range(1, ${CalibMaxProbe + 1})) AS nprobe) p, chits h
               |  GROUP BY p.nprobe
               |)""".stripMargin
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT nprobe, hit_n, truth_n, recall_ppm,
       |  CAST($CalibTargetPpm AS BIGINT) AS target_ppm,
       |  (min_ok IS NOT NULL AND nprobe = min_ok) AS chosen
       |FROM (
       |  SELECT nprobe, hit_n, truth_n, hit_n * 1000000 // truth_n AS recall_ppm,
       |    min(CASE WHEN hit_n * 1000000 // truth_n >= $CalibTargetPpm
       |             THEN nprobe END) OVER () AS min_ok
       |  FROM curve, (SELECT count(*) AS truth_n FROM ctruth))
       |ORDER BY nprobe""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // d13 — SEMANTIC decontamination: flag training vectors whose embedding is
  // near (cos >= tau) any held-out eval embedding. The n-gram check (d10)
  // misses paraphrased contamination — identical meaning, different tokens —
  // which is exactly what the embedding side catches; together they are the
  // two-detector decontamination a published-benchmark pipeline runs.
  //
  // Same shape discipline as d10: the eval set is TINY and fixed (benchmarks
  // are), so its keyed rows broadcast to the corpus-sized train side and the
  // corpus shuffles once on (table, key) through the SHARED s2 LSH tables —
  // never all-pairs, never corpus x eval. The exact cosine re-check runs
  // only on LSH candidates; tau = the corpus-calibrated 0.38 near-dup edge
  // (d6/d8's threshold — the same Spark graft_dot/(na*nb) vs DuckDB
  // list_cosine_similarity pairing those queries hash-match at every SF).
  private val DecontamTau = 0.38

  private def d13EmbedDecontaminate(s: SparkSession, d: String): DataFrame =
    withSmallBuild(s, d) {
      val e = vecsD(s, d).cache()
      val keyed = lshKeys(s, d)
      val isEval = col("vec_id") % 50 === 0
      val evalK = keyed.where(isEval)
        .select(col("vec_id").as("eid"), col("tbl"), col("key"))
      val trainK = keyed.where(!isEval)
        .select(col("vec_id").as("tid"), col("tbl"), col("key"))
      val cand = trainK.join(broadcast(evalK), Seq("tbl", "key"))
        .select("tid", "eid").distinct()
      val evv = e.where(isEval)
        .select(col("vec_id").as("eid"), col("v").as("ad"), col("nrm").as("na"))
      val tv = e.select(col("vec_id").as("tid"), col("v").as("bd"), col("nrm").as("nb"))
      cand.join(broadcast(evv), "eid").join(tv, "tid")
        .withColumn("cos", cosCol)
        .where(col("cos") >= DecontamTau)
        .groupBy(col("tid").as("vec_id"))
        .agg(count(lit(1)).as("n_eval_hits"),
          // integer micro-units, not round(x,6): a cosine landing on an
          // exact 6th-digit half diverges between shortest-decimal and
          // binary rounding (the r8 surface-wide round() retirement)
          floor(max(col("cos")) * 1e6).cast("long").as("best_cos_fp"))
        .orderBy("vec_id")
    }

  private val d13Sql =
    s"""WITH $lshKeysSqlCtes,
       |cand AS (
       |  SELECT DISTINCT c.vec_id AS tid, q.vec_id AS eid
       |  FROM keyed c JOIN keyed q ON c.tbl = q.tbl AND c.key = q.key
       |  WHERE q.vec_id % 50 = 0 AND c.vec_id % 50 <> 0
       |)
       |SELECT tid AS vec_id, count(*) AS n_eval_hits,
       |  CAST(floor(max(list_cosine_similarity(t.v, q.v)) * 1000000) AS BIGINT) AS best_cos_fp
       |FROM cand JOIN ev t ON t.vec_id = cand.tid JOIN ev q ON q.vec_id = cand.eid
       |WHERE list_cosine_similarity(t.v, q.v) >= $DecontamTau
       |GROUP BY tid
       |ORDER BY vec_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d13_embed_decontaminate" -> d13EmbedDecontaminate _,
    "s1_cosine_topk" -> s1CosineTopK _,
    "s6_mmr_rerank"  -> s6MmrRerank _,
    "s7_ivfpq_ann"   -> s7IvfPq _,
    "s2_lsh_ann"     -> s2LshAnn _,
    "s3_ivf_ann"     -> s3IvfAnn _,
    "s4_scalar_quant" -> s4ScalarQuant _,
    "s5_pq_adc"      -> s5PqAdc _,
    "s8_ann_recall"  -> s8AnnRecall _,
    "s9_filtered_ann" -> s9FilteredAnn _,
    "s10_nprobe_calibrate" -> s10NprobeCalibrate _,
    "e2_semdedup"    -> e2SemDedup _)

  val oracles: Map[String, String] = Map(
    "d13_embed_decontaminate" -> d13Sql,
    "s1_cosine_topk" -> s1Sql,
    "s6_mmr_rerank"  -> s6Sql,
    "s7_ivfpq_ann"   -> s7Sql,
    "s2_lsh_ann"     -> s2Sql,
    "s3_ivf_ann"     -> s3Sql,
    "s4_scalar_quant" -> s4Sql,
    "s5_pq_adc"      -> s5Sql,
    "s8_ann_recall"  -> s8Sql,
    "s9_filtered_ann" -> s9Sql,
    "s10_nprobe_calibrate" -> s10Sql,
    "e2_semdedup"    -> e2Sql)
}
