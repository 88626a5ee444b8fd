package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** c1 — the END-TO-END curation composite: the individual training-data
  * operators (t5 quality gate, d1 exact-dup keeper, d10 decontamination, t6
  * deterministic sampling) chained the way a real corpus snapshot is cut,
  * with a per-document audit ledger as output: every doc gets its per-stage
  * verdicts and the final keep bit, so any exclusion is attributable — the
  * auditability property a published training set needs.
  *
  * Scale shape: every per-ROW stage (quality score, exact-dup fingerprint,
  * sample bucket, eval membership) fuses into ONE codegen projection over a
  * single documents scan; the only extra passes are the ones that
  * structurally need different row grain — the keeper groupBy on the
  * fingerprint and the shingle explode for contamination (whose eval side
  * broadcasts). Nothing shuffles beyond the component operators.
  */
object CurationOps {

  private def c1Curate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // one per-row pass: all row-grain stage verdicts from the same scan
    val base = TextOps.withQuality(docs)
      .select(col("doc_id"),
        (col("quality") >= 0.5).as("q_pass"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp"),
        (TextOps.hash60F(s, concat(lit("c1:"), col("doc_id").cast(StringType))) % 100 < 50)
          .as("sampled"),
        (col("doc_id") % 100 === 0).as("is_eval"))
    val keepers = base.groupBy("fp").agg(min("doc_id").as("keeper_id"))
    // one cached shingle pass feeds both contamination sides, like d10
    val sh = Dedup.tokenShingles(docs).cache()
    val evalSh = sh.where(col("doc_id") % 100 === 0).select("sh").distinct()
    val contaminated = sh.where(col("doc_id") % 100 =!= 0)
      .join(broadcast(evalSh), "sh")
      .select("doc_id").distinct()
      .withColumn("contam", lit(true))
    base
      .join(keepers, "fp")
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("is_keeper", col("doc_id") === col("keeper_id"))
      .withColumn("clean", coalesce(col("contam"), lit(false)) === false)
      .withColumn("kept",
        col("q_pass") && col("is_keeper") && col("clean") && col("sampled") && !col("is_eval"))
      .select("doc_id", "q_pass", "is_keeper", "clean", "sampled", "is_eval", "kept")
      .orderBy("doc_id")
  }

  private val c1Sql = {
    val n = Dedup.DecontamN
    s"""WITH q AS (
       |  SELECT doc_id,
       |    (least(CAST(len(toks) AS DOUBLE) / 100, 1.0) * 0.4 +
       |     (1.0 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text)) * 0.3 +
       |     least(CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in'))) AS DOUBLE) / 10, 1.0) * 0.3
       |    ) >= 0.5 AS q_pass
       |  FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents)
       |), fps AS MATERIALIZED (
       |  SELECT doc_id, md5(${Dedup.duckNorm}) AS fp FROM documents
       |), keep AS (
       |  SELECT fp, min(doc_id) AS keeper_id FROM fps GROUP BY fp
       |), toks AS (
       |  SELECT doc_id, string_split(${Dedup.duckNorm}, ' ') AS toks FROM documents
       |), sh AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, greatest(len(toks) - ${n - 1}, 1) + 1),
       |    i -> md5(array_to_string(list_slice(toks, i, i + ${n - 1}), ' ')))) AS sh
       |  FROM toks
       |), eval_sh AS (
       |  SELECT DISTINCT sh FROM sh WHERE doc_id % 100 = 0
       |), contam AS (
       |  SELECT DISTINCT s.doc_id FROM sh s JOIN eval_sh e USING (sh) WHERE s.doc_id % 100 <> 0
       |)
       |SELECT d.doc_id, q.q_pass, f.doc_id = k.keeper_id AS is_keeper,
       |  c.doc_id IS NULL AS clean,
       |  CAST(('0x' || substr(md5('c1:' || CAST(d.doc_id AS VARCHAR)),1,15)) AS BIGINT) % 100 < 50 AS sampled,
       |  d.doc_id % 100 = 0 AS is_eval,
       |  q.q_pass AND f.doc_id = k.keeper_id AND c.doc_id IS NULL
       |    AND CAST(('0x' || substr(md5('c1:' || CAST(d.doc_id AS VARCHAR)),1,15)) AS BIGINT) % 100 < 50
       |    AND d.doc_id % 100 <> 0 AS kept
       |FROM documents d
       |JOIN q USING (doc_id)
       |JOIN fps f USING (doc_id)
       |JOIN keep k USING (fp)
       |LEFT JOIN contam c ON c.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // c2 — canonical selection within near-dup groups: d9 keeps each
  // component's MIN doc_id, but a production pipeline keeps the BEST copy —
  // the member with the highest quality score (t5's composite), doc_id as
  // the deterministic tiebreak. Reuses the memoized component labels (the
  // fit-once-serve-many artifact d9 materializes) joined with t5's row-local
  // quality; the selection itself is ONE shuffle on component for the
  // per-group window — the expensive corpus-sized work (the labeling)
  // happened once, in the shared artifact.
  private def c2CanonicalKeep(s: SparkSession, d: String): DataFrame =
    // canonical selection is computed INSIDE the shared component artifact
    // (argmax(quality, min-doc_id tiebreak) per component via a
    // partial-aggregated max_by over the dup subgraph only — see
    // Dedup.componentLabels for the whale-safe shape): a production
    // pipeline materializes the component map once per snapshot WITH its
    // selection metadata, so this query — and every later consumer — is a
    // cached scan plus the output sort.
    Dedup.componentLabels(s, d)
      .select(col("doc_id"), col("component"),
        floor(col("quality") * 1000000).cast("long").as("quality_fp"), col("canonical"))
      .orderBy("doc_id")

  private val c2Sql =
    s"""WITH RECURSIVE ${Dedup.d9CompSqlCtes},
       |comp AS (
       |  SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src
       |), ${TextOps.qualitySqlCte}
       |SELECT c.doc_id, c.component, CAST(floor(q.quality * 1000000) AS BIGINT) AS quality_fp,
       |  row_number() OVER (PARTITION BY c.component
       |    ORDER BY q.quality DESC, c.doc_id) = 1 AS canonical
       |FROM comp c JOIN quality q USING (doc_id)
       |ORDER BY c.doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // c3 — leakage-safe train/val/test split: the assignment hashes the
  // near-dup COMPONENT id, not the doc id, so two near-duplicate documents
  // can never straddle train and eval — the split-leakage failure mode every
  // published-benchmark pipeline has to rule out (near-dups of eval docs in
  // train inflate scores exactly like d10's direct contamination). Riding
  // the shared component artifact makes this a cached scan plus row-local
  // hash arithmetic: ZERO additional shuffles beyond the output sort at any
  // corpus size, because the expensive global structure (the component map)
  // is the fit-once snapshot artifact. Portable hash (md5 prefix, < 2^62)
  // so both engines derive identical assignments; 5% test / 10% val by the
  // component hash.
  /** The component-hash split assignment, shared verbatim by the c3 query
    * and the `api/Curation` ledger so the API tag can never drift from the
    * oracle-checked query (CurationApiSpec pins them row for row). Expects
    * a `component` column in scope; portable md5-prefix hash, < 2^62.
    */
  private[graft] def splitHashCol =
    expr("cast(conv(substr(md5(concat('c3:', cast(component as string))), 1, 15), 16, 10) as bigint) % 100")

  private[graft] def splitCol(testPct: Int, valPct: Int) =
    when(splitHashCol < testPct, lit("test"))
      .when(splitHashCol < testPct + valPct, lit("val"))
      .otherwise(lit("train"))

  private def c3LeakageSafeSplit(s: SparkSession, d: String): DataFrame =
    Dedup.componentLabels(s, d)
      .select(col("doc_id"), col("component"), splitCol(5, 10).as("split"))
      .orderBy("doc_id")

  private val c3Sql =
    s"""WITH RECURSIVE ${Dedup.d9CompSqlCtes},
       |comp AS (
       |  SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src
       |)
       |SELECT doc_id, component,
       |  CASE WHEN h < 5 THEN 'test' WHEN h < 15 THEN 'val' ELSE 'train' END AS split
       |FROM (SELECT doc_id, component,
       |        CAST(('0x' || substr(md5('c3:' || CAST(component AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS h
       |      FROM comp)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // c4 — TRAINED quality classifier: a batch perceptron learning t5's
  // quality gate from integer document features. This adds SUPERVISED model
  // training to the engine's fit-once surface (kmeans = unsupervised, BPE =
  // tokenizer; this is the learned-quality-filter shape of production
  // curation stacks, cf. fastText-based filters).
  //
  // All-INTEGER arithmetic by construction — the one design that makes a
  // trained model hash-comparable across engines: features are counts
  // (tokens / stopwords / long tokens / chars div 100), weights start at 0,
  // and the batch update w += Σ_misclassified y·x never leaves ℤ. No
  // sigmoid/exp anywhere (libm implementations differ across engines by
  // ULPs that compound over gradient rounds — the reason this is a
  // perceptron and not logistic regression). Magnitudes: |w| grows ≤
  // rounds · Σ|x| ≈ 4·(1e9 docs · 500) ≈ 5e11 at 100-TB corpus scale, and
  // margins ≤ |w|·|x|·5 ≈ 1e15 — inside BIGINT with headroom.
  //
  // Scale shape: the feature projection is ONE codegen pass over documents,
  // cached; each training round is ONE map-side-combinable aggregate over
  // it with the 5 current weights inlined as literals (weights live on the
  // driver like kmeans centroid rows — 5 scalars, not data). Output: one
  // row per round with the post-update weights and the pre-update
  // misclassification count (round 1 misclassifies everything: w=0 makes
  // every margin 0 and ties count as misses — the standard convention).
  private val PerceptronRounds = 4

  private def c4Features(s: SparkSession, d: String): DataFrame =
    TextOps.withQuality(Tables.documents(s, d))
      .select(
        when(col("quality") >= 0.5, 1L).otherwise(-1L).as("y"),
        lit(1L).as("x0"),
        size(col("toks")).cast(LongType).as("x1"),
        col("stop_hits").cast(LongType).as("x2"),
        size(expr("filter(toks, t -> length(t) >= 6)")).cast(LongType).as("x3"),
        expr("length(text) div 100").cast(LongType).as("x4"))

  private def c4TrainPerceptron(s: SparkSession, d: String): DataFrame =
    ArtifactCache.getOrElseUpdate("perceptron.weights", s, d) {
      val feats = c4Features(s, d).cache()
      var w = Array.fill(5)(0L)
      val rows = (1 to PerceptronRounds).map { k =>
        val margin = (0 until 5).map(j => lit(w(j)) * col(s"x$j")).reduce(_ + _)
        val mis = col("y") * margin <= 0
        val agg = feats.agg(
          sum(when(mis, col("y") * col("x0")).otherwise(0L)).as("g0"),
          sum(when(mis, col("y") * col("x1")).otherwise(0L)).as("g1"),
          sum(when(mis, col("y") * col("x2")).otherwise(0L)).as("g2"),
          sum(when(mis, col("y") * col("x3")).otherwise(0L)).as("g3"),
          sum(when(mis, col("y") * col("x4")).otherwise(0L)).as("g4"),
          count(when(mis, 1)).as("n_mis")).first()
        w = Array.tabulate(5)(j => w(j) + agg.getLong(j))
        (k, w(0), w(1), w(2), w(3), w(4), agg.getLong(5))
      }
      feats.unpersist()
      import s.implicits._
      rows.toDF("round", "w_bias", "w_tok", "w_stop", "w_long", "w_chars", "n_mis")
        .orderBy("round")
        .cache()
    }

  private val c4Sql: String = {
    val featCte =
      """f AS MATERIALIZED (
        |  SELECT CASE WHEN quality >= 0.5 THEN 1 ELSE -1 END AS y,
        |    1 AS x0, CAST(len(toks) AS BIGINT) AS x1,
        |    CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in'))) AS BIGINT) AS x2,
        |    CAST(len(list_filter(toks, t -> length(t) >= 6)) AS BIGINT) AS x3,
        |    length(text) // 100 AS x4
        |  FROM (SELECT text, toks,
        |          least(CAST(len(toks) AS DOUBLE) / 100, 1.0) * 0.4 +
        |          (1.0 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text)) * 0.3 +
        |          least(CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in'))) AS DOUBLE) / 10, 1.0) * 0.3
        |            AS quality
        |        FROM (SELECT text, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents))
        |)""".stripMargin
    val ctes = new scala.collection.mutable.ArrayBuffer[String]
    ctes += featCte
    ctes += """r0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
      |  CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3, CAST(0 AS BIGINT) AS w4)""".stripMargin
    for (k <- 1 to PerceptronRounds) {
      val p = k - 1
      ctes += s"""r$k AS MATERIALIZED (
         |  SELECT
         |    w.w0 + CAST(sum(CASE WHEN y * (w.w0*x0 + w.w1*x1 + w.w2*x2 + w.w3*x3 + w.w4*x4) <= 0 THEN y * x0 ELSE 0 END) AS BIGINT) AS w0,
         |    w.w1 + CAST(sum(CASE WHEN y * (w.w0*x0 + w.w1*x1 + w.w2*x2 + w.w3*x3 + w.w4*x4) <= 0 THEN y * x1 ELSE 0 END) AS BIGINT) AS w1,
         |    w.w2 + CAST(sum(CASE WHEN y * (w.w0*x0 + w.w1*x1 + w.w2*x2 + w.w3*x3 + w.w4*x4) <= 0 THEN y * x2 ELSE 0 END) AS BIGINT) AS w2,
         |    w.w3 + CAST(sum(CASE WHEN y * (w.w0*x0 + w.w1*x1 + w.w2*x2 + w.w3*x3 + w.w4*x4) <= 0 THEN y * x3 ELSE 0 END) AS BIGINT) AS w3,
         |    w.w4 + CAST(sum(CASE WHEN y * (w.w0*x0 + w.w1*x1 + w.w2*x2 + w.w3*x3 + w.w4*x4) <= 0 THEN y * x4 ELSE 0 END) AS BIGINT) AS w4,
         |    count(*) FILTER (WHERE y * (w.w0*x0 + w.w1*x1 + w.w2*x2 + w.w3*x3 + w.w4*x4) <= 0) AS n_mis
         |  FROM f, r$p w
         |  GROUP BY w.w0, w.w1, w.w2, w.w3, w.w4
         |)""".stripMargin
    }
    val union = (1 to PerceptronRounds)
      .map(k => s"SELECT $k AS round, w0, w1, w2, w3, w4, n_mis FROM r$k")
      .mkString(" UNION ALL ")
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT round, w0 AS w_bias, w1 AS w_tok, w2 AS w_stop, w3 AS w_long,
       |  w4 AS w_chars, CAST(n_mis AS BIGINT) AS n_mis
       |FROM ($union)
       |ORDER BY round""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c1_curation_pipeline" -> c1Curate _,
    "c2_canonical_keep"    -> c2CanonicalKeep _,
    "c3_leakage_safe_split" -> c3LeakageSafeSplit _,
    "c4_train_perceptron"  -> c4TrainPerceptron _)

  val oracles: Map[String, String] = Map(
    "c1_curation_pipeline" -> c1Sql,
    "c2_canonical_keep"    -> c2Sql,
    "c3_leakage_safe_split" -> c3Sql,
    "c4_train_perceptron"  -> c4Sql)
}
