package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{InputScale, Tables}

/** Text-analysis operators for the training-data pipeline surface
  * (BASELINE.json north star): token counting, quality scoring, language-ID
  * heuristics, and document fingerprinting — all as codegen'd column
  * expressions (functions/higher-order lambdas, zero UDFs), so at 100 TB they
  * run inside whole-stage codegen next to the parquet scan with full column
  * pruning.
  */
object TextOps {

  /** Portable 60-bit hash: first 15 hex chars of md5 as a bigint. The same
    * value is expressible in DuckDB as CAST('0x'||substr(md5(s),1,15) AS
    * BIGINT), which makes every hash-based operator oracle-checkable.
    */
  def hash60(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Same 60-bit value via the codegen [[graft.functions.Hash60]] expression
    * (registered per session): no hex-string round-trip or BigInteger per
    * row — measured ~2.5x faster per hash at sf0.1. Use in row-count-hot
    * paths; the conv form above stays for registration-free contexts.
    */
  def hash60F(s: SparkSession, c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    graft.Graft.setup(s)
    call_function("graft_hash60", c)
  }

  private val hash60Sql = (e: String) => s"CAST(('0x' || substr(md5($e),1,15)) AS BIGINT)"

  // ---------------------------------------------------------------------------
  // t1 — token counting + quality scoring: whitespace tokens, BPE-ish word
  // pieces, punctuation/stopword/char-class ratios, average token length.
  private def t1TextStats(s: SparkSession, d: String): DataFrame =
    Tables.documentsSpread(s, d)
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars_measured"),
        size(col("toks")).as("n_tokens"),
        size(expr("filter(toks, t -> t IN ('the','a','of','and','to','in'))")).as("n_stopwords"),
        (length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast(DoubleType)
          / length(col("text"))).as("punct_ratio"),
        (length(regexp_replace(col("text"), " ", "")).cast(DoubleType)
          / size(col("toks"))).as("avg_token_len"),
        size(expr("filter(toks, t -> length(t) >= 6)")).as("n_long_tokens"),
        // BPE-ish subword count: alpha runs / digit runs / single symbols
        // (lookaround-free so RE2 [DuckDB] and java.util.regex agree)
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"))
          .as("n_subtokens"))
      .orderBy("doc_id")

  private val t1Sql =
    """SELECT doc_id,
      |  length(text) AS n_chars_measured,
      |  len(toks) AS n_tokens,
      |  len(list_filter(toks, t -> t IN ('the','a','of','and','to','in'))) AS n_stopwords,
      |  CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
      |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks) AS avg_token_len,
      |  len(list_filter(toks, t -> length(t) >= 6)) AS n_long_tokens,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_subtokens
      |FROM (SELECT *, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // t2 — language ID by stopword-hit heuristic (n-gram family): count hits
  // for per-language stopword sets, argmax with a fixed precedence order.
  private def t2LangId(s: SparkSession, d: String): DataFrame = {
    val txt = concat(lit(" "), col("text"), lit(" "))
    def hits(words: Seq[String]) =
      words.map(w => when(txt.contains(s" $w "), 1).otherwise(0)).reduce(_ + _)
    Tables.documents(s, d)
      .withColumn("en_hits", hits(Seq("the", "and", "of", "window", "fast")))
      .withColumn("de_hits", hits(Seq("der", "und", "von", "fenster", "schnell")))
      .withColumn("es_hits", hits(Seq("el", "los", "de", "ventana", "rapido")))
      .withColumn("lang_pred",
        when(col("en_hits") >= col("de_hits") && col("en_hits") >= col("es_hits"), "en")
          .when(col("de_hits") >= col("es_hits"), "de")
          .otherwise("es"))
      .select("doc_id", "en_hits", "de_hits", "es_hits", "lang_pred", "lang")
      .orderBy("doc_id")
  }

  private val t2Sql = {
    def hits(words: Seq[String]) =
      words.map(w => s"(CASE WHEN contains(' ' || text || ' ', ' $w ') THEN 1 ELSE 0 END)").mkString(" + ")
    s"""SELECT doc_id, en_hits, de_hits, es_hits,
       |  CASE WHEN en_hits >= de_hits AND en_hits >= es_hits THEN 'en'
       |       WHEN de_hits >= es_hits THEN 'de' ELSE 'es' END AS lang_pred,
       |  lang
       |FROM (SELECT doc_id, lang, text,
       |        ${hits(Seq("the", "and", "of", "window", "fast"))} AS en_hits,
       |        ${hits(Seq("der", "und", "von", "fenster", "schnell"))} AS de_hits,
       |        ${hits(Seq("el", "los", "de", "ventana", "rapido"))} AS es_hits
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // t3 — document fingerprinting: md5 of whitespace-normalized text plus a
  // 60-bit numeric fingerprint (rolling-hash family, here md5-backed for
  // cross-engine parity).
  private def t3Fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("norm", regexp_replace(lower(col("text")), "\\s+", " "))
      .select(
        col("doc_id"),
        md5(col("norm")).as("fp_md5"),
        hash60F(s, col("norm")).as("fp60"),
        (hash60F(s, col("norm")) % 1024).cast(IntegerType).as("fp_bucket"))
      .orderBy("doc_id")

  private val t3Sql =
    s"""SELECT doc_id,
       |  md5(norm) AS fp_md5,
       |  ${hash60Sql("norm")} AS fp60,
       |  CAST(${hash60Sql("norm")} % 1024 AS INTEGER) AS fp_bucket
       |FROM (SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS norm FROM documents)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // t4 — vocabulary stats: per-language token frequencies, top-10 by count
  // with a deterministic (count DESC, token ASC) tiebreak. The groupBy is
  // map-side combinable — at 100 TB the shuffle carries only per-partition
  // (lang, token) partial counts. The rank is SALTED two-stage: languages
  // number a handful while the vocabulary grows with the corpus, so one
  // window partition per language would sort the whole vocabulary in ~3
  // tasks; ranking within 64 token-hash salt buckets first (the global
  // top-10 is necessarily inside its own bucket's top-10 — the two-stage
  // selection is exact) cuts each sort 64x and restores parallelism, then
  // the final rank runs on <= 640 survivors per language.
  private val TopKSalts = 64
  private def t4TokenFreq(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, d)
      .select(col("lang"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
      .withColumn("salt", pmod(xxhash64(col("tok")), lit(TopKSalts)))
      .withColumn("lrk", row_number().over(
        Window.partitionBy("lang", "salt").orderBy(col("n").desc, col("tok"))))
      .where(col("lrk") <= 10)
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("n").desc, col("tok"))))
      .where(col("rk") <= 10)
      .select("lang", "tok", "n", "rk")
      .orderBy("lang", "rk")
  }

  private val t4Sql =
    """WITH tf AS (
      |  SELECT lang, tok, count(*) AS n
      |  FROM (SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |        FROM documents)
      |  GROUP BY lang, tok
      |)
      |SELECT lang, tok, n, rk FROM (
      |  SELECT lang, tok, n,
      |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rk
      |  FROM tf)
      |WHERE rk <= 10
      |ORDER BY lang, rk""".stripMargin

  // ---------------------------------------------------------------------------
  // t5 — quality filtering (the curation gate): per-doc composite score from
  // token count, punctuation ratio and stopword coverage; keep-flag at a
  // fixed threshold. Per-row arithmetic only — no cross-row sums, so the
  // score is engine-exact; the filter runs inside whole-stage codegen next
  // to the scan at any scale.
  /** `docs` plus t5's per-row composite score and its parts: `toks`,
    * `n_tokens`, `punct_ratio`, `stop_hits` and `quality`. Row-local
    * arithmetic only, so engine-exact; t5/c2 (via [[qualityFrame]]), c1 and
    * c4 all score through it.
    */
  private[operators] def withQuality(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .withColumn("n_tokens", size(col("toks")).cast(DoubleType))
      .withColumn("punct_ratio",
        length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast(DoubleType)
          / length(col("text")))
      .withColumn("stop_hits",
        size(expr("filter(toks, t -> t IN ('the','a','of','and','to','in'))")).cast(DoubleType))
      .withColumn("quality",
        least(col("n_tokens") / 100, lit(1.0)) * 0.4 +
          (lit(1.0) - col("punct_ratio")) * 0.3 +
          least(col("stop_hits") / 10, lit(1.0)) * 0.3)

  /** (doc_id, quality) — t5's per-row composite score, shared with c2's
    * canonical selection.
    */
  private[graft] def qualityFrame(s: SparkSession, d: String): DataFrame =
    withQuality(Tables.documentsSpread(s, d)).select(col("doc_id"), col("quality"))

  /** The matching DuckDB derivation of (doc_id, quality) — a full CTE body. */
  private[operators] val qualitySqlCte: String =
    """quality AS (
      |  SELECT doc_id,
      |    least(CAST(len(toks) AS DOUBLE) / 100, 1.0) * 0.4 +
      |    (1.0 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text)) * 0.3 +
      |    least(CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in'))) AS DOUBLE) / 10, 1.0) * 0.3
      |      AS quality
      |  FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents))""".stripMargin

  private def t5QualityFilter(s: SparkSession, d: String): DataFrame =
    qualityFrame(s, d)
      // floor-scaled micro-units, not round(double, 6): rational scores hit
      // the exact-half 6th-digit boundary where Spark (shortest decimal
      // string) and DuckDB (binary value) round apart — floor() of the same
      // double bits is engine-exact at any scale (o6/t18 precedent)
      .select(col("doc_id"), floor(col("quality") * 1000000).cast(LongType).as("quality_fp"),
        (col("quality") >= 0.5).as("kept"))
      .orderBy("doc_id")

  private val t5Sql =
    s"""WITH $qualitySqlCte
      |SELECT doc_id, CAST(floor(quality * 1000000) AS BIGINT) AS quality_fp, quality >= 0.5 AS kept
      |FROM quality
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // t6 — deterministic stratified sampling: per-language rates via the
  // portable hash of (lang, doc_id) — reproducible across engines AND across
  // cluster sizes (no RNG, no partition dependence), the property a training
  // snapshot needs for auditability.
  private def t6StratifiedSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("bucket", (hash60F(s, concat(col("lang"), lit(":"), col("doc_id"))) % 100)
        .cast(IntegerType))
      .withColumn("rate",
        when(col("lang") === "en", 50).when(col("lang") === "de", 25).otherwise(10))
      .where(col("bucket") < col("rate"))
      .select("doc_id", "lang", "bucket")
      .orderBy("doc_id")

  private val t6Sql =
    s"""SELECT doc_id, lang, bucket FROM (
       |  SELECT doc_id, lang,
       |    CAST(${hash60Sql("lang || ':' || CAST(doc_id AS VARCHAR)")} % 100 AS INTEGER) AS bucket,
       |    CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 25 ELSE 10 END AS rate
       |  FROM documents)
       |WHERE bucket < rate
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // t7 — Count-Min sketch (the classic stream-summary sketch): d=4 hash
  // rows x w=256 columns over token occurrences; estimate(token) = min over
  // rows of its cell, an overestimate bounded by n/w per row. The sketch
  // build is ONE map-side-combinable groupBy of (row, position) — mergeable
  // across partitions/streams by cell-wise addition, which is why CMS works
  // at 100 TB where exact per-token state doesn't. Portable hash60 makes
  // the whole sketch — and therefore the estimates — engine-exact, so this
  // sketch is DuckDB-oracled (HLL-style sketches aren't).
  private val CmsRows = 4
  private val CmsWidth = 256
  private def t7CountMin(s: SparkSession, d: String): DataFrame = {
    graft.Graft.setup(s)
    val freq = Tables.documents(s, d)
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("true_n"))
      .cache()
    val cells = freq.select(col("tok"), col("true_n"),
      posexplode(expr(s"transform(sequence(0, ${CmsRows - 1}), " +
        s"i -> pmod(graft_hash60(concat(CAST(i AS STRING), ':', tok)), $CmsWidth))"))
        .as(Seq("row_i", "pos")))
    val sketch = cells.groupBy("row_i", "pos").agg(sum("true_n").as("cnt"))
    val probes = freq.orderBy(col("true_n").desc, col("tok")).limit(10)
    probes
      .join(cells.select("tok", "row_i", "pos"), "tok")
      .join(sketch, Seq("row_i", "pos"))
      .groupBy("tok", "true_n")
      .agg(min("cnt").as("est_n"))
      .orderBy(col("true_n").desc, col("tok"))
  }

  private val t7Sql =
    s"""WITH freq AS (
       |  SELECT tok, count(*) AS true_n
       |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents)
       |  GROUP BY tok
       |), cells AS (
       |  SELECT tok, true_n, r.range AS row_i,
       |    ${hash60Sql("CAST(r.range AS VARCHAR) || ':' || tok")} % $CmsWidth AS pos
       |  FROM freq, range(0, $CmsRows) r
       |), sketch AS (
       |  -- DuckDB sum(BIGINT) widens to HUGEINT; pin BIGINT for the compare
       |  SELECT row_i, pos, CAST(sum(true_n) AS BIGINT) AS cnt FROM cells GROUP BY row_i, pos
       |), probes AS (
       |  SELECT tok, true_n FROM freq ORDER BY true_n DESC, tok LIMIT 10
       |)
       |SELECT p.tok, p.true_n, min(s.cnt) AS est_n
       |FROM probes p JOIN cells c ON c.tok = p.tok
       |     JOIN sketch s ON s.row_i = c.row_i AND s.pos = c.pos
       |GROUP BY p.tok, p.true_n
       |ORDER BY p.true_n DESC, p.tok""".stripMargin

  // ---------------------------------------------------------------------------
  // t8 — repetition-based quality signals (Gopher-family; Rae et al. 2021,
  // arXiv:2112.11446 §A1.1 filters on duplicate n-gram fractions): per-doc
  // duplicate-word fraction (a row-local array_distinct — pure projection,
  // no shuffle) and top-bigram fraction (explode bigrams, count per (doc,
  // bigram) with map-side combine, argmax via a struct-min — the shuffle is
  // keyed by doc_id, so at 100 TB it scales with the corpus and never
  // concentrates). Deterministic argmax: min(struct(-n, bigram)) ties to
  // the lexicographically-lowest bigram, same as the oracle's ORDER BY n
  // DESC, bg. The synthetic-corpus thresholds (0.18 top-bigram, 0.78
  // dup-word) mark the repetitive tail as dropped.
  // Spark side is fully row-local (ZERO shuffle): the most-frequent bigram
  // comes from the compiled `graft_top_bigram` expression (one hash-count
  // pass per document — see functions.TopBigramRun; the previous
  // array_sort + run-length aggregate chain evaluated interpreted per
  // BIGRAM and was the slowest line of the sf10 gate) — per-doc signals
  // never need cross-row state, so at 100 TB this runs inside the scan
  // with no data movement at all. Ties resolve to the byte-wise smallest
  // bigram at the max count — the same rule as the oracle's
  // ORDER BY n DESC, bg (the oracle keeps the explode + window form;
  // values are identical, pinned by Round7OpsSpec against the HOF form).
  private def t8GopherRepetition(s: SparkSession, d: String): DataFrame = {
    graft.Graft.setup(s)
    Tables.documents(s, d)
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .where(size(col("toks")) >= 2)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("dup_word_frac",
        (col("n_tokens") - size(array_distinct(col("toks")))).cast(DoubleType)
          / col("n_tokens"))
      .withColumn("top", expr("graft_top_bigram(toks)"))
      .withColumn("top_frac", col("top.best_n").cast(DoubleType) / (col("n_tokens") - 1))
      .select(col("doc_id"), col("n_tokens"),
        // floor-scaled micro-units (o6/t18 precedent): k/n fractions are
        // exactly the values that land on round(6)'s half-way boundary
        floor(col("dup_word_frac") * 1000000).cast(LongType).as("dup_word_frac_fp"),
        col("top.best_bg").as("top_bigram"), col("top.best_n").as("top_bigram_n"),
        floor(col("top_frac") * 1000000).cast(LongType).as("top_bigram_frac_fp"),
        (col("top_frac") <= 0.18 && col("dup_word_frac") <= 0.78).as("kept"))
      .orderBy("doc_id")
  }

  private val t8Sql =
    """WITH base AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
      |), exploded AS (
      |  SELECT doc_id, len(toks) AS n_tokens,
      |    CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dup_word_frac,
      |    unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS bg
      |  FROM base WHERE len(toks) >= 2
      |), cnt AS (
      |  SELECT doc_id, n_tokens, dup_word_frac, bg, count(*) AS n
      |  FROM exploded GROUP BY doc_id, n_tokens, dup_word_frac, bg
      |), ranked AS (
      |  SELECT doc_id, n_tokens, dup_word_frac, bg, n,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, bg) AS rk
      |  FROM cnt
      |)
      |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
      |  CAST(floor(dup_word_frac * 1000000) AS BIGINT) AS dup_word_frac_fp,
      |  bg AS top_bigram, CAST(n AS BIGINT) AS top_bigram_n,
      |  CAST(floor(CAST(n AS DOUBLE) / (n_tokens - 1) * 1000000) AS BIGINT) AS top_bigram_frac_fp,
      |  CAST(n AS DOUBLE) / (n_tokens - 1) <= 0.18 AND dup_word_frac <= 0.78 AS kept
      |FROM ranked WHERE rk = 1
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // t9 — TF-IDF document keywords: term frequency per (doc, token), document
  // frequency per token, score = tf * ln(N/df), top-3 terms per doc with a
  // deterministic (score DESC, token ASC) tiebreak. Both aggregations are
  // map-side combinable and keyed by token / doc_id — the classic two-pass
  // inverted-index build that scales linearly; the tiny (N) scalar rides as
  // a broadcast. The only transcendental is one ln per distinct (tf, df)
  // pair; round(6) absorbs any sub-ulp libm divergence.
  private def t9Tfidf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val tf = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("tok"))
    tf.join(df, "tok").crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast(DoubleType) * log(col("n_docs").cast(DoubleType) / col("df")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("tok"), col("tf"), col("df"),
        // floor-scaled micro-units (o6/t18 precedent) — engine-exact given
        // identical double bits, unlike round(6)'s decimal-string rounding
        floor(col("tfidf") * 1000000).cast(LongType).as("tfidf_fp"))
      .orderBy("doc_id", "rk")
  }

  private val t9Sql =
    """WITH tf AS MATERIALIZED (
      |  SELECT doc_id, tok, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |        FROM documents)
      |  GROUP BY doc_id, tok
      |), df AS (
      |  SELECT tok, count(*) AS df FROM tf GROUP BY tok
      |), n AS (
      |  SELECT count(*) AS n_docs FROM documents
      |), scored AS (
      |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
      |    CAST(tf.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf
      |  FROM tf JOIN df USING (tok), n
      |)
      |SELECT doc_id, rk, tok, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
      |  CAST(floor(tfidf * 1000000) AS BIGINT) AS tfidf_fp
      |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
      |        ORDER BY tfidf DESC, tok) AS rk FROM scored)
      |WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin

  // ---------------------------------------------------------------------------
  // t10 — the hashing trick (Weinberger et al. 2009, "Feature Hashing for
  // Large Scale Multitask Learning"): project unbounded token vocabularies
  // into a FIXED d-dim feature space — idx = hash(tok) % d, with a second
  // sign hash so collisions cancel in expectation instead of biasing
  // upward. THE vectorization step before any linear/embedding model when
  // the vocabulary is 100 TB-sized: no dictionary is built, no state is
  // shared — each row vectorizes independently inside the scan, and the
  // (doc, idx) aggregation is map-side combinable. Output is the sparse
  // COO triple list (doc_id, idx, val); values are integer count sums, so
  // the result is engine-exact with the portable hash.
  private val FeatDim = 1024

  private def t10FeatureHash(s: SparkSession, d: String): DataFrame =
    Tables.documentsSpread(s, d)
      .withColumn("tok", explode(split(trim(col("text")), "\\s+")))
      .withColumn("idx", (hash60F(s, col("tok")) % FeatDim).cast(IntegerType))
      .withColumn("sign",
        when(hash60F(s, concat(lit("sgn:"), col("tok"))) % 2 === 0, 1).otherwise(-1))
      .groupBy("doc_id", "idx")
      .agg(sum(col("sign")).as("val"))
      .where(col("val") =!= 0) // cancelled collisions carry no signal
      .orderBy("doc_id", "idx")

  private val t10Sql =
    s"""SELECT doc_id, idx, val FROM (
       |  SELECT doc_id,
       |    CAST(${hash60Sql("tok")} % $FeatDim AS INTEGER) AS idx,
       |    CAST(sum(CASE WHEN ${hash60Sql("'sgn:' || tok")} % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS val
       |  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |        FROM documents)
       |  GROUP BY doc_id, idx)
       |WHERE val <> 0
       |ORDER BY doc_id, idx""".stripMargin

  // ---------------------------------------------------------------------------
  // t11 — temperature resampling across sources (the data-MIXING step: after
  // per-document curation, balance the corpus so head sources don't drown
  // tail ones — multilingual LM training samples language s with
  // probability ∝ n_s^alpha, alpha = 0.5 here). Expressed as per-language
  // keep rates r_s = sqrt(min_n / n_s) (the rarest language keeps all,
  // p_s ∝ sqrt(n_s)), gated by the portable hash — deterministic,
  // cluster-size-independent, re-runnable. SCALE SHAPE: the rate table is
  // language-cardinality (tiny) and BROADCASTS; the gate runs inside the scan,
  // so the corpus never shuffles. sqrt and double division are IEEE
  // correctly-rounded in both engines, and the rate lands as an INTEGER ppm
  // threshold, so the kept set is engine-exact.
  private val TempPpm = 1000000L

  private def t11TempSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(min(col("n_docs")).as("min_n"))))
      .withColumn("rate_ppm",
        floor(sqrt(col("min_n").cast(DoubleType) / col("n_docs")) * TempPpm)
          .cast(LongType))
    docs.select("doc_id", "lang")
      .join(broadcast(rates.select("lang", "n_docs", "rate_ppm")), "lang")
      .where(hash60F(s, concat(lit("t11:"), col("doc_id").cast(StringType))) % TempPpm
        < col("rate_ppm"))
      .select("doc_id", "lang", "n_docs", "rate_ppm")
      .orderBy("doc_id")
  }

  private val t11Sql =
    s"""WITH counts AS (
       |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
       |), rates AS (
       |  SELECT lang, n_docs,
       |    CAST(floor(sqrt(CAST((SELECT min(n_docs) FROM counts) AS DOUBLE) / n_docs) * $TempPpm) AS BIGINT) AS rate_ppm
       |  FROM counts
       |)
       |SELECT d.doc_id, d.lang, r.n_docs, r.rate_ppm
       |FROM documents d JOIN rates r USING (lang)
       |WHERE ${hash60Sql("'t11:' || CAST(doc_id AS VARCHAR)")} % $TempPpm < r.rate_ppm
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // t12 — context-window chunking: split each document's token stream into
  // fixed CW-token chunks (last chunk ragged) — the step that turns curated
  // documents into training-example-sized pieces before packing/batching.
  // Chunking is doc-local (explode over doc-local slice offsets), so at
  // 100 TB it runs inside the scan with zero data movement beyond the
  // output itself; chunk ids are (doc_id, chunk_idx) — deterministic and
  // partition-independent.
  private val ChunkTokens = 32

  private def t12SeqChunk(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .withColumn("n_tokens", size(col("toks")))
      // chunk starts 1, 1+CW, 1+2CW, ... (1-based slice offsets)
      .select(col("doc_id"), col("toks"), col("n_tokens"),
        posexplode(expr(s"sequence(1, n_tokens, $ChunkTokens)")).as(Seq("chunk_idx", "off")))
      .select(col("doc_id"), col("chunk_idx"),
        expr(s"array_join(slice(toks, off, $ChunkTokens), ' ')").as("chunk_text"),
        least(col("n_tokens") - col("off") + 1, lit(ChunkTokens)).as("chunk_tokens"))
      .orderBy("doc_id", "chunk_idx")

  private val t12Sql =
    s"""SELECT doc_id,
       |  CAST(g.i AS INT) AS chunk_idx,
       |  array_to_string(list_slice(toks, 1 + g.i * $ChunkTokens, (g.i + 1) * $ChunkTokens), ' ') AS chunk_text,
       |  CAST(least(len(toks) - g.i * $ChunkTokens, $ChunkTokens) AS INT) AS chunk_tokens
       |FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
       |  LATERAL (SELECT unnest(range((len(toks) + $ChunkTokens - 1) // $ChunkTokens)) AS i) g
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------------------
  // t13 — sequence packing (concat-then-split, the GPT training-batch
  // layout): documents concatenate in deterministic order and the token
  // stream splits into fixed PackSize windows; each doc records which pack
  // its first token lands in and at what offset. A GLOBAL running sum would
  // serialize the corpus through one partition, so packing is SHARDED —
  // docs hash into PackShards independent streams packed in parallel, each
  // shard's running offset a window cumsum in (shard, doc_id) order. That
  // is the production layout: shards ≡ output files, deterministic and
  // cluster-size-independent; only doc-count-sized (doc_id, n_tokens) pairs
  // move, text itself never shuffles. All-integer arithmetic -> engine-exact.
  private[graft] val PackSize = 256
  private[graft] val PackShards = 16

  private def t13Pack(s: SparkSession, d: String): DataFrame =
    packOver(s, Tables.documents(s, d).select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("n_tokens")))

  private val t13Sql =
    s"""SELECT doc_id, shard, n_tokens,
       |  CAST((cum - n_tokens) // $PackSize AS INTEGER) AS pack_id,
       |  CAST((cum - n_tokens) % $PackSize AS INTEGER) AS pack_offset
       |FROM (
       |  SELECT doc_id, shard, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM (
       |    SELECT doc_id,
       |      CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
       |      CAST(${hash60Sql("'pack:' || CAST(doc_id AS VARCHAR)")} % $PackShards AS INTEGER) AS shard
       |    FROM documents))
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // t14 — corpus-statistics quality (the CCNet-family signal, log-free):
  // per-document mean token document-frequency and rare-token fraction.
  // Gibberish and boilerplate sit at the distribution's edges — a doc of
  // tokens nobody else uses (low mean df) or of nothing but the corpus's
  // most common tokens (high mean df, zero rare fraction) both get flagged
  // by these two numbers, which is the perplexity proxy an LM-free pipeline
  // uses. Engine-exact by construction: df counts are integers, each output
  // is ONE double division of integers (no log, whose rounding is not
  // reproducible across engines). Two passes like t9: the df table is
  // (vocab)-sized and map-side combinable; the join back to occurrences
  // shuffles on the token key — the standard inverted-index shape.
  private def t14RarityScore(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
    val df = toks.groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    toks.join(df, "tok")
      .crossJoin(broadcast(nDocs))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("df")).as("df_sum"),
        // rare = token present in < 5% of docs, in exact integer form
        count(when(col("df") * 20 < col("n_docs"), 1)).as("n_rare"),
        first(col("n_docs")).as("n_docs"))
      .select(col("doc_id"), col("n_tokens"),
        // floor-scaled micro-units (o6/t18 precedent): these are rational
        // k/n values, the exact population round(6) diverges on at scale
        floor(col("df_sum").cast(DoubleType) / col("n_tokens") / col("n_docs") * 1000000)
          .cast(LongType).as("mean_df_frac_fp"),
        floor(col("n_rare").cast(DoubleType) / col("n_tokens") * 1000000)
          .cast(LongType).as("rare_frac_fp"))
      .orderBy("doc_id")
  }

  private val t14Sql =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |  FROM documents
      |), df AS (
      |  SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok
      |), nd AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT doc_id,
      |  count(*) AS n_tokens,
      |  CAST(floor(CAST(CAST(sum(df) AS BIGINT) AS DOUBLE) / count(*) / any_value(n_docs) * 1000000) AS BIGINT) AS mean_df_frac_fp,
      |  CAST(floor(CAST(count(CASE WHEN df * 20 < n_docs THEN 1 END) AS DOUBLE) / count(*) * 1000000) AS BIGINT) AS rare_frac_fp
      |FROM toks JOIN df USING (tok) CROSS JOIN nd
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // t15 — domain-mixture weighting (the DoReMi-style knob: Xie et al. 2023
  // fit per-domain target proportions; this is the serving half that CUTS a
  // corpus to given proportions): each source s has a target weight w_s,
  // and the keep rate r_s = min(1, (w_s/n_s) * min_t(n_t/w_t)) subsamples
  // every source so the realized mixture matches the targets while the
  // binding (scarcest-relative-to-target) source keeps all its docs — the
  // maximal corpus achievable by subsampling alone. Targets here derive
  // deterministically from the source id (1 + digits % 4), standing in for
  // an externally fitted table; the Curation API takes the real map.
  // SCALE SHAPE identical to t11: the rate table is source-cardinality
  // (tiny) and BROADCASTS, the ppm keep-gate runs inside the scan via the
  // portable hash, the corpus never shuffles. All divisions are IEEE
  // double ops evaluated in the same order in both engines; the rate lands
  // as an integer ppm threshold, so the kept set is engine-exact.
  private val MixPpm = 1000000L

  private def t15DomainMix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("target_w",
        regexp_replace(col("source"), "[^0-9]", "").cast(LongType) % 4 + 1)
    val m = counts
      .agg(min(col("n_docs").cast(DoubleType) / col("target_w").cast(DoubleType)).as("m"))
    val rates = counts.crossJoin(broadcast(m))
      .withColumn("rate_ppm",
        floor(least(lit(1.0),
          col("target_w").cast(DoubleType) / col("n_docs").cast(DoubleType) * col("m"))
          * MixPpm).cast(LongType))
    docs.select("doc_id", "source")
      .join(broadcast(rates.select("source", "n_docs", "target_w", "rate_ppm")), "source")
      .where(hash60F(s, concat(lit("t15:"), col("doc_id").cast(StringType))) % MixPpm
        < col("rate_ppm"))
      .select("doc_id", "source", "n_docs", "target_w", "rate_ppm")
      .orderBy("doc_id")
  }

  private val t15Sql =
    s"""WITH counts AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(regexp_replace(source, '[^0-9]', '', 'g') AS BIGINT) % 4 + 1 AS target_w
       |  FROM documents GROUP BY source
       |), m AS (
       |  SELECT min(CAST(n_docs AS DOUBLE) / CAST(target_w AS DOUBLE)) AS m FROM counts
       |), rates AS (
       |  SELECT source, n_docs, target_w,
       |    CAST(floor(least(1.0, CAST(target_w AS DOUBLE) / CAST(n_docs AS DOUBLE) * m.m) * $MixPpm) AS BIGINT) AS rate_ppm
       |  FROM counts CROSS JOIN m
       |)
       |SELECT d.doc_id, d.source, r.n_docs, r.target_w, r.rate_ppm
       |FROM documents d JOIN rates r USING (source)
       |WHERE ${hash60Sql("'t15:' || CAST(doc_id AS VARCHAR)")} % $MixPpm < r.rate_ppm
       |ORDER BY d.doc_id""".stripMargin

  /** The t15 rate table for an EXPLICIT target-proportion map (the Curation
    * API's domain-mixture knob): (source, n_docs, target_w, rate_ppm) with
    * the same min(1, (w/n) * min(n/w)) subsampling-maximal rates. Sources
    * absent from `targets` get weight 0 → rate 0 (dropped).
    */
  def domainMixRates(docs: DataFrame, targets: Map[String, Double]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val tw = targets.toSeq.toDF("source", "target_w")
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(broadcast(tw), Seq("source"), "left")
      .withColumn("target_w", coalesce(col("target_w"), lit(0.0)))
    val m = counts.where(col("target_w") > 0)
      .agg(min(col("n_docs").cast(DoubleType) / col("target_w")).as("m"))
    counts.crossJoin(broadcast(m))
      .withColumn("rate_ppm",
        floor(least(lit(1.0), col("target_w") / col("n_docs").cast(DoubleType) * col("m"))
          * MixPpm).cast(LongType))
      .select("source", "n_docs", "target_w", "rate_ppm")
  }

  /** ppm keep-gate twin of the t15 WHERE clause, for API composition. */
  def domainMixKeep(s: SparkSession): org.apache.spark.sql.Column =
    hash60F(s, concat(lit("t15:"), col("doc_id").cast(StringType))) % MixPpm < col("rate_ppm")

  // ---------------------------------------------------------------------------
  // t16 — PII redaction: the scrubbing stage every production curation
  // pipeline runs before training (emails / phone numbers / internal IPs ->
  // typed placeholders). The synthetic corpus carries no PII, so the query
  // SYNTHESIZES a deterministic contact block per document (one email, a
  // second on doc_id%3=0, a phone on doc_id%2=0, one IP) and then redacts
  // it — the oracle checks the regexes against real, varying match counts
  // rather than vacuous zero-match text. Patterns stay in the Java-regex ∩
  // RE2 subset (character classes and bounded repeats only — no backrefs,
  // no lookaround) so both engines compile them identically; replacement is
  // sequential email -> phone -> ip on both sides.
  //
  // Scale: pure row-local projection (regex per row, no shuffle beyond the
  // output sort); redaction cost rides the scan exactly like t1's signals.
  private[graft] val EmailRe = "[0-9A-Za-z._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\+1-555-[0-9]{4}"
  private[graft] val IpRe = "10\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Sequential three-pattern redaction of a text column (public API twin
    * of the t16 query's core).
    */
  def redactPii(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, lit(EmailRe), lit("<EMAIL>")),
        lit(PhoneRe), lit("<PHONE>")),
      lit(IpRe), lit("<IP>"))

  private def t16PiiRedact(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val withPii = Tables.documentsSpread(s, d).withColumn("pii_text",
      concat(col("text"),
        lit(" contact user"), id.cast(StringType), lit("@mail.example.org"),
        when(id % 3 === 0,
          concat(lit(" cc admin"), id.cast(StringType), lit("@corp.example.com")))
          .otherwise(""),
        when(id % 2 === 0,
          concat(lit(" tel +1-555-"), lpad((id % 10000).cast(StringType), 4, "0")))
          .otherwise(""),
        lit(" host 10."), (id % 256).cast(StringType),
        lit("."), (id * 7 % 256).cast(StringType),
        lit("."), (id * 13 % 256).cast(StringType)))
    withPii.select(
      id,
      regexp_count(col("pii_text"), lit(EmailRe)).cast(LongType).as("n_email"),
      regexp_count(col("pii_text"), lit(PhoneRe)).cast(LongType).as("n_phone"),
      regexp_count(col("pii_text"), lit(IpRe)).cast(LongType).as("n_ip"),
      md5(redactPii(col("pii_text"))).as("red_md5"))
      .orderBy("doc_id")
  }

  private val t16Sql =
    s"""WITH p AS (
       |  SELECT doc_id,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.org'
       |    || CASE WHEN doc_id % 3 = 0
       |         THEN ' cc admin' || CAST(doc_id AS VARCHAR) || '@corp.example.com' ELSE '' END
       |    || CASE WHEN doc_id % 2 = 0
       |         THEN ' tel +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
       |    || ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
       |    || '.' || CAST(doc_id * 7 % 256 AS VARCHAR)
       |    || '.' || CAST(doc_id * 13 % 256 AS VARCHAR) AS pii_text
       |  FROM documents
       |)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(pii_text, '$EmailRe')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(pii_text, '$PhoneRe')) AS BIGINT) AS n_phone,
       |  CAST(len(regexp_extract_all(pii_text, '$IpRe')) AS BIGINT) AS n_ip,
       |  md5(regexp_replace(regexp_replace(regexp_replace(pii_text,
       |    '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'), '$IpRe', '<IP>', 'g')) AS red_md5
       |FROM p ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // t17 — per-source document cap: keep at most CapPerSource docs per source,
  // best-first by (n_chars DESC, doc_id ASC). The boilerplate guard every
  // web-crawl curation pipeline runs: a handful of domains contribute an
  // outsized share of a crawl, and a hard per-domain cap bounds their
  // influence regardless of corpus growth. Sources number far fewer than
  // docs at 100 TB (exactly the whale-group shape), so the rank is the
  // salted two-stage selection from t4: rank within TopKSalts doc-hash
  // buckets first (the global top-N per source is necessarily inside its own
  // bucket's top-N — exact), then a final rank over <= TopKSalts * N
  // survivors per source. The salt never reaches the result, so the oracle
  // is the plain one-window SQL.
  private val CapPerSource = 10

  /** (source, rk, doc_id, n_chars) — the per-source top-`cap` selection
    * behind t17, shared with [[graft.api.Curation]]'s `maxPerSource` stage
    * so the API cap cannot drift from the oracle-checked query.
    */
  private[graft] def sourceCapFrame(docs: DataFrame, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(TopKSalts)))
      .withColumn("lrk", row_number().over(
        Window.partitionBy("source", "salt").orderBy(col("n_chars").desc, col("doc_id"))))
      .where(col("lrk") <= cap)
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))))
      .where(col("rk") <= cap)
      .select("source", "rk", "doc_id", "n_chars")
  }

  private def t17SourceCap(s: SparkSession, d: String): DataFrame =
    sourceCapFrame(Tables.documents(s, d), CapPerSource)
      .orderBy("source", "rk")

  private val t17Sql =
    s"""SELECT source, rk, doc_id, n_chars FROM (
       |  SELECT source, doc_id, n_chars,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY n_chars DESC, doc_id) AS rk
       |  FROM documents)
       |WHERE rk <= $CapPerSource
       |ORDER BY source, rk""".stripMargin

  // ---------------------------------------------------------------------------
  // t18 — BM25 retrieval (Robertson/Spärck Jones k1=1.2, b=0.75): top-5 docs
  // per query term. The inverted-index build is t9's two map-side-combinable
  // aggregations (tf per (doc, term), df per term); the corpus-wide scalars
  // (n_docs, total token count for avgdl) ride one broadcast row and the
  // <= |terms| df rows broadcast into the scoring join — nothing but the tf
  // frame ever shuffles, keyed by doc. A common term matches an unbounded
  // share of the corpus, so the per-term top-5 uses the same salted
  // two-stage rank as t4/t17 rather than one window partition per term.
  // idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (the non-negative BM25+ form);
  // both engines evaluate the structurally identical double expression and
  // round(6) absorbs sub-ulp libm divergence (t9 precedent).
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25Terms = Seq("spark", "merge", "customer", "hash")
  private def t18Bm25(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .withColumn("dl", size(col("toks")))
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = docs.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .where(col("term").isin(Bm25Terms: _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val avgdl = col("sum_dl").cast(DoubleType) / col("n_docs")
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val score = idf * (col("tf") * lit(Bm25K1 + 1)) /
      (col("tf") + lit(Bm25K1) * (lit(1 - Bm25B) + lit(Bm25B) * col("dl") / avgdl))
    tf.join(broadcast(df), "term").crossJoin(broadcast(stats))
      .withColumn("score", score)
      .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(TopKSalts)))
      .withColumn("lrk", row_number().over(
        Window.partitionBy("term", "salt").orderBy(col("score").desc, col("doc_id"))))
      .where(col("lrk") <= 5)
      .withColumn("rk", row_number().over(
        Window.partitionBy("term").orderBy(col("score").desc, col("doc_id"))))
      .where(col("rk") <= 5)
      .select(col("term"), col("rk"), col("doc_id"), col("tf"), col("dl").cast(LongType).as("dl"),
        // Scaled-integer score (micro-units), o6 precedent: floor() of the
        // BINARY double is bit-identical across engines given identical
        // score bits, where round(double, 6) was not — Spark rounds the
        // shortest decimal string (BigDecimal.valueOf), DuckDB the binary
        // value, and a score whose shortest repr sits exactly at the 6th
        // digit's half diverges (o6 measured ~90 such rows among sf10's
        // 15M). The only residue is sub-ulp libm ln() divergence in idf,
        // which no emission format can absorb and has never been observed.
        floor(col("score") * 1000000).cast(LongType).as("bm25_fp"))
      .orderBy("term", "rk")
  }

  private val t18Sql = {
    val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH d AS MATERIALIZED (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks,
       |    len(regexp_split_to_array(trim(text), '\\s+')) AS dl
       |  FROM documents
       |), stats AS (
       |  SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM d
       |), tf AS MATERIALIZED (
       |  SELECT doc_id, dl, tok AS term, count(*) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d)
       |  WHERE tok IN ($termList)
       |  GROUP BY doc_id, dl, tok
       |), df AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, tf.dl,
       |    ln(1.0 + (CAST(n_docs AS BIGINT) - df.df + 0.5) / (df.df + 0.5)) *
       |      (tf.tf * ${Bm25K1 + 1}) /
       |      (tf.tf + $Bm25K1 * (${1 - Bm25B} + $Bm25B * tf.dl
       |        / (CAST(sum_dl AS DOUBLE) / n_docs))) AS score
       |  FROM tf JOIN df USING (term), stats
       |)
       |SELECT term, rk, doc_id, CAST(tf AS BIGINT) AS tf, CAST(dl AS BIGINT) AS dl,
       |  CAST(floor(score * 1000000) AS BIGINT) AS bm25_fp
       |FROM (SELECT *, row_number() OVER (PARTITION BY term
       |        ORDER BY score DESC, doc_id) AS rk FROM scored)
       |WHERE rk <= 5
       |ORDER BY term, rk""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // t19 — distributed BPE merge-rule training (Sennrich et al. 2016,
  // arXiv:1508.07909): learn the first K byte-pair merges from the corpus.
  // The 100-TB-shaped design: ONE corpus pass builds the word-frequency
  // table (Heaps'-law-bounded vocab — this is the only stage whose input
  // scales with the corpus; it's how production tokenizer trainers work),
  // then every merge round operates on the vocab-sized table only: count
  // adjacent symbol pairs weighted by word freq (one map-side-combinable
  // shuffle), pick the global argmax (TakeOrderedAndProject), rewrite the
  // symbol sequences with a broadcast of that ONE row.
  //
  // Symbol sequences are U+001F-joined strings. A naive literal replace of
  // "l<SEP>r" is NOT exact-symbol: once merges chain, a multi-char symbol
  // that merely ENDS with l (or STARTS with r) aliases the pattern — e.g.
  // after merging (q,w), the word [qw, e] renders "qw<SEP>e", which CONTAINS
  // "w<SEP>e", so a later (w,e) merge would corrupt it to [qwe] where exact
  // BPE leaves [qw, e] (the reference trainer and our driver loop match
  // whole symbols). The distributed rewrite (and the DuckDB oracle)
  // therefore BOUNDARY-DOUBLES before replacing: every symbol gets its OWN
  // leading AND trailing separator (SEP + replace(seq, SEP, SEP SEP) + SEP),
  // the pattern becomes "SEP l SEP SEP r SEP" — it can only match whole
  // symbols, and adjacent matches share no characters, so left-to-right
  // non-overlapping replace reproduces BPE's greedy within-word merge order
  // ("a a a" under (a,a) -> ["aa","a"]; "a a a a" -> ["aa","aa"]). The
  // doubled form then collapses back (SEP SEP -> SEP, trim the outer pair).
  // The separator cannot occur inside a symbol: symbols start as single
  // non-whitespace chars and merging only ever REMOVES separators.
  // Round9OpsSpec pins the aliasing case (corpus forcing picks (q,w) then
  // (w,e) with the word "qwe" present) against the exact driver loop.
  //
  // The merge loop itself is GATED on the observed vocab size (the same
  // data-derived-gate idiom as PageRank's broadcast-vs-shuffle rank join):
  //
  //  - vocab <= the driver floor ([[BpeDriverFloorVocab]] for t19: 8M rows —
  //    ~200 MB collected; `ScaleProbe bpe 2000000` measured the driver loop still
  //    2x FASTER than the distributed rounds at a 2M-word vocab, so the
  //    floor is a driver-memory bound, not a speed crossover):
  //    collect the word-frequency table and run the merge loop on the
  //    driver. This is how production tokenizer trainers work (the corpus
  //    pass is distributed, training is in-memory because vocab << corpus),
  //    and it avoids paying two scheduling floors per round for KB-sized
  //    stages (measured at sf0.1 cpus=32: 2.37 s distributed vs ~0.4 s
  //    collected, identical output).
  //  - above the floor: distributed rounds — pairs agg + argmax + broadcast
  //    rewrite, each round localCheckpoint'ed (e1's Lloyd-loop precedent:
  //    without truncation round k's plan re-derives round k-1 twice,
  //    doubling the tree per round). Zero-pair rounds (vocab fully merged)
  //    degrade gracefully: the argmax frame is empty, the left-join rewrite
  //    no-ops, and the round emits no rule.
  //
  // Gate parity is pinned by Round8OpsSpec: both modes produce the identical
  // merge table on the same corpus ([[bpeTrain]]'s `driverFloor` argument
  // forces the distributed path on a small fixture).
  private val BpeDriverFloorVocab = 8000000L
  /** Merges the ORACLED t19/t20 queries learn (the DuckDB SQL hardcodes it);
    * ScaleProbe passes a production-sized (32k+) count to [[bpeTrain]]. */
  private[graft] val BpeMerges = 10
  private[graft] val BpeSep = "\u001f"

  /** One counting round's picks when `batch` merges are learned per round
    * (1 = strict greedy, the oracle-matched mode t19 runs). Batching is the
    * standard distributed-BPE scaling trick: a 32k-merge vocab at batch 512
    * is ~64 counting jobs instead of 32768. A batch is a rank-ordered prefix
    * of the pair counts filtered to INDEPENDENT pairs — no symbol appears in
    * two accepted pairs — so (a) applying the batch in any order yields the
    * same vocab, and (b) every accepted pair's recorded count is still its
    * exact occurrence count at application time (an accepted merge can
    * neither create nor destroy another accepted pair's adjacencies, since
    * that would require a shared symbol). Divergence from strict greedy:
    * after applying pick 1, a recount could promote a NEWLY-CREATED pair
    * (one involving the just-merged symbol) above pick 2; batching uses the
    * pre-round counts for all picks, so its picks 2..B can be "stale-best".
    * ScaleProbe pins batched-vs-strict behavior at probe scale.
    *
    * The pick walks candidates in (count DESC, l, r UTF-8) order and accepts
    * a pair iff neither symbol was used by an earlier accepted pair this
    * round. Shared verbatim by the driver loop and the distributed rounds —
    * the gate-parity contract.
    */
  private def pickIndependent(
      sorted: Iterator[((String, String), Long)], want: Int)
      : Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.Set[String]()
    val picked = Seq.newBuilder[(String, String, Long)]
    var n = 0
    while (n < want && sorted.hasNext) {
      val ((l, r), c) = sorted.next()
      if (!used(l) && !used(r)) {
        picked += ((l, r, c))
        used += l; used += r; used += (l + r)
        n += 1
      }
    }
    picked.result()
  }

  /** Apply a round's INDEPENDENT merge rules to one symbol sequence in a
    * SINGLE left-to-right pass against the rule set: independence (no
    * symbol shared between the round's rules) means no rule can create or
    * destroy another's adjacencies, so checking each adjacency once is
    * exactly the sequential per-rule application — O(len) per word instead
    * of O(len x batch). Within one rule the left-to-right skip reproduces
    * the non-overlapping greedy ("a a a" -> ["aa","a"]).
    */
  private def applyRules(syms0: Array[String], rules: Seq[(String, String)])
      : Array[String] = {
    if (rules.isEmpty || syms0.length < 2) return syms0
    // key l+SEP+r is collision-free: symbols cannot contain the separator
    val rs = new java.util.HashMap[String, String]()
    rules.foreach { case (l, r) => rs.put(l + BpeSep + r, l + r) }
    val b = Array.newBuilder[String]
    var i = 0
    while (i < syms0.length) {
      val m = if (i + 1 < syms0.length)
        rs.get(syms0(i) + BpeSep + syms0(i + 1)) else null
      if (m != null) { b += m; i += 2 }
      else { b += syms0(i); i += 1 }
    }
    b.result()
  }

  /** UTF-8 byte-wise string compare — Spark's UTF8String ordering and
    * DuckDB's default binary collation both compare UTF-8 BYTES, which
    * diverges from Java's UTF-16 code-unit order for chars in
    * U+E000..U+FFFF vs supplementary codepoints; the driver tie-break must
    * match the engines, not the JVM.
    */
  private def utf8Lt(a: (String, String), b: (String, String)): Boolean = {
    def cmp(x: String, y: String): Int = {
      val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val yb = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(xb.length, yb.length)
      var i = 0
      while (i < n) {
        val c = (xb(i) & 0xff) - (yb(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      xb.length - yb.length
    }
    val c = cmp(a._1, b._1)
    if (c != 0) c < 0 else cmp(a._2, b._2) < 0
  }

  /** Driver-side greedy merge loop over the collected vocab: `total` merges,
    * `batch` per counting round — bit-identical to the distributed rounds
    * (same freq weighting, same (count DESC, l, r) tie-break in UTF-8 byte
    * order, same left-to-right non-overlapping within-word merge).
    */
  private def bpeDriverMerges(vocab0: Array[(Array[String], Long)], total: Int, batch: Int)
      : Seq[(Int, String, String, Long)] = {
    var vocab = vocab0
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var emitted = 0
    var exhausted = false
    while (emitted < total && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Long]()
      vocab.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          counts.merge((syms(i), syms(i + 1)), f, _ + _)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val want = math.min(batch, total - emitted)
        val picked: Seq[(String, String, Long)] =
          if (want == 1) {
            // strict-greedy fast path: one linear argmax scan, no sort
            var best: ((String, String), Long) = null
            counts.forEach { (p, c) =>
              if (best == null || c > best._2 ||
                (c == best._2 && utf8Lt(p, best._1))) best = (p, c)
            }
            Seq((best._1._1, best._1._2, best._2))
          } else {
            val arr = new Array[((String, String), Long)](counts.size)
            var i = 0
            counts.forEach { (p, c) => arr(i) = (p, c); i += 1 }
            java.util.Arrays.sort(arr,
              (x: ((String, String), Long), y: ((String, String), Long)) =>
                if (x._2 != y._2) java.lang.Long.compare(y._2, x._2)
                else if (utf8Lt(x._1, y._1)) -1
                else if (utf8Lt(y._1, x._1)) 1
                else 0)
            pickIndependent(arr.iterator, want)
          }
        picked.foreach { case (l, r, c) =>
          emitted += 1
          out += ((emitted, l, r, c))
        }
        val rules = picked.map { case (l, r, _) => (l, r) }
        vocab = vocab.map { case (syms, f) => (applyRules(syms, rules), f) }
      }
    }
    out.result()
  }

  /** SQL fragment: boundary-doubled exact-symbol rewrite of `seq` by the
    * pair (`l`, `r`) — the aliasing-safe replace the header comment
    * derives, shared by the training rounds (both dialects), the
    * batched-rule fold, and the t20 encoder. `sparkDialect` selects the
    * trim spelling; the rest parses identically in Spark and DuckDB.
    */
  private def mergeRewriteSql(
      seq: String, l: String, r: String, sparkDialect: Boolean): String = {
    val S = if (sparkDialect) s"'$BpeSep'" else "chr(31)"
    val core =
      s"""replace(
         |      replace(concat($S, replace($seq, $S, concat($S, $S)), $S),
         |              concat($S, $l, $S, $S, $r, $S),
         |              concat($S, $l, $r, $S)),
         |      concat($S, $S), $S)""".stripMargin
    if (sparkDialect) s"trim(BOTH '$BpeSep' FROM $core)"
    else s"trim($core, chr(31))"
  }

  /** t19's merge table, memoized per (session, dir): [[BpeMerges]] strict
    * greedy merges, collected below [[BpeDriverFloorVocab]] vocab rows. */
  private[graft] def t19BpeTrain(s: SparkSession, d: String): DataFrame =
    ArtifactCache.getOrElseUpdate("bpe.merges", s, d)(bpeTrain(s, d, BpeDriverFloorVocab, BpeMerges, 1))

  /** The (cached, unmemoized) merge table of `d`'s corpus: `merges` merges,
    * `batch` per counting round, merged on the driver when the vocab has at
    * most `driverFloor` rows and in distributed rounds above it. */
  private[graft] def bpeTrain(s: SparkSession, d: String, driverFloor: Long, merges: Int,
      batch: Int): DataFrame = {
    val freq = Tables.documents(s, d)
      .select(explode(split(trim(col("text")), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
    // chars -> SEP-joined symbols; drop the trailing separator the regex
    // appends (result length is exactly 2*len(word)-1)
    var words = freq.select(
      expr(s"substring(regexp_replace(word, '(.)', '$$1$BpeSep'), 1, 2 * length(word) - 1)")
        .as("seq"),
      col("freq"))
      .localCheckpoint()
    val nVocab = words.count()
    val learned = if (nVocab <= driverFloor) {
      val vocab0 = words.collect().map { r =>
        (r.getString(0).split(BpeSep, -1), r.getLong(1))
      }
      bpeDriverMerges(vocab0, merges, batch)
    } else {
      // distributed rounds: one vocab-sized pair-count job per round, a
      // bounded TakeOrdered collect of the candidate pool (batch x 8
      // rows — independence rejections skip down the ranking, and an
      // under-filled batch just re-counts sooner, degrading toward
      // strict greedy), then ONE projection applying the round's rules
      // as a literal-array fold — no join. Only `words` checkpoints, so
      // the per-round tree stays flat (e1's Lloyd-loop precedent).
      val out = Seq.newBuilder[(Int, String, String, Long)]
      var emitted = 0
      var exhausted = false
      while (emitted < merges && !exhausted) {
        val want = math.min(batch, merges - emitted)
        val pool = words
          .where(instr(col("seq"), BpeSep) > 0) // >= 2 symbols
          .select(col("freq"), split(col("seq"), BpeSep).as("a"))
          .select(col("freq"), explode(
            expr("transform(sequence(0, size(a) - 2), i -> struct(a[i] AS l, a[i + 1] AS r))"))
            .as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("pair_n"))
          .orderBy(col("pair_n").desc, col("l"), col("r"))
          .limit(math.max(want * 8, 8))
          .collect()
          .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
        val picked = pickIndependent(pool.iterator, want)
        if (picked.isEmpty) exhausted = true
        else {
          picked.foreach { case (l, r, c) =>
            emitted += 1
            out += ((emitted, l, r, c))
          }
          // the whole INDEPENDENT batch applies in ONE pass over the
          // symbol array (same argument as [[applyRules]]): each
          // adjacency is checked once against the broadcast rule map —
          // O(len) per word, where a per-rule replace chain would be
          // O(len x batch) and dominated wall-clock at batch 512.
          // try_element_at(__a, i+1) past the end -> NULL key -> no hit,
          // so no bounds CASE is needed; the leading separator the fold
          // accumulates is stripped by the final substring.
          val mapCol = map(picked.flatMap { case (l, r, _) =>
            Seq(lit(l + BpeSep + r), lit(l + r)) }: _*)
          words = words
            .withColumn("__m", mapCol)
            .withColumn("__a", split(col("seq"), BpeSep))
            .select(
              expr(s"""CASE WHEN instr(seq, '$BpeSep') = 0 THEN seq ELSE
                substring(aggregate(
                  sequence(1, size(__a)),
                  named_struct('out', '', 'skip', false),
                  (s, i) -> CASE
                    WHEN s.skip THEN named_struct('out', s.out, 'skip', false)
                    WHEN try_element_at(__m, concat(element_at(__a, i), '$BpeSep',
                           try_element_at(__a, i + 1))) IS NOT NULL
                      THEN named_struct('out', concat(s.out, '$BpeSep',
                             element_at(__a, i), element_at(__a, i + 1)), 'skip', true)
                    ELSE named_struct('out',
                           concat(s.out, '$BpeSep', element_at(__a, i)), 'skip', false)
                  END,
                  s -> s.out), 2) END""").as("seq"),
              col("freq"))
            .localCheckpoint()
        }
      }
      out.result()
    }
    import s.implicits._
    learned.toDF("merge_idx", "lhs", "rhs", "pair_n")
      .select(col("merge_idx"), col("lhs"), col("rhs"),
        concat(col("lhs"), col("rhs")).as("merged"), col("pair_n"))
      .orderBy("merge_idx")
      .cache()
  }

  /** The DuckDB training-round CTEs (words0..words10, p_k, b_k) shared by
    * t19's merge-table oracle and t20's encoder oracle. All MATERIALIZED:
    * b_k is referenced by words_k, the t19 union, AND t20's enc_k — DuckDB
    * re-executes a plain CTE per reference (CLAUDE.md).
    */
  private def bpeTrainCtes: Seq[String] = {
    val sep = "chr(31)"
    val ctes = new scala.collection.mutable.ArrayBuffer[String]
    ctes += s"""words0 AS MATERIALIZED (
       |  SELECT substr(regexp_replace(word, '(.)', '\\1' || $sep, 'g'),
       |           1, 2 * length(word) - 1) AS seq, freq
       |  FROM (SELECT tok AS word, count(*) AS freq
       |        FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |              FROM documents)
       |        WHERE tok != '' GROUP BY tok)
       |)""".stripMargin
    for (k <- 1 to BpeMerges) {
      ctes += s"""p$k AS MATERIALIZED (
         |  SELECT a[i] AS l, a[i + 1] AS r, CAST(sum(freq) AS BIGINT) AS pair_n
         |  FROM (SELECT freq, a, unnest(range(1, len(a))) AS i
         |        FROM (SELECT freq, string_split(seq, $sep) AS a
         |              FROM words${k - 1} WHERE contains(seq, $sep)))
         |  GROUP BY a[i], a[i + 1]
         |)""".stripMargin
      ctes += s"""b$k AS MATERIALIZED (
         |  SELECT $k AS merge_idx, l, r, pair_n FROM p$k
         |  ORDER BY pair_n DESC, l, r LIMIT 1
         |)""".stripMargin
      // exact-symbol rewrite (boundary-doubled) — mirrors the Spark branch
      ctes += s"""words$k AS MATERIALIZED (
         |  SELECT CASE WHEN b.l IS NULL THEN w.seq
         |              ELSE ${mergeRewriteSql("w.seq", "b.l", "b.r", sparkDialect = false)} END AS seq,
         |         w.freq
         |  FROM words${k - 1} w LEFT JOIN b$k b ON TRUE
         |)""".stripMargin
    }
    ctes.toSeq
  }

  private val t19Sql: String = {
    val union = (1 to BpeMerges).map(k => s"SELECT * FROM b$k").mkString(" UNION ALL ")
    s"""WITH ${bpeTrainCtes.mkString(",\n")}
       |SELECT merge_idx, l AS lhs, r AS rhs, l || r AS merged, pair_n
       |FROM ($union)
       |ORDER BY merge_idx""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // t20 — BPE ENCODE: tokenize the corpus with t19's trained merge table —
  // the other half of the tokenizer story (pipelines tokenize far more
  // often than they train). Encoding applies the ranked rules IN ORDER,
  // each one exhaustively (left-to-right non-overlapping, exact symbols):
  // for learned BPE this is equivalent to the min-rank-pair iteration,
  // because a rule can only become newly applicable when a LATER rule
  // creates one of its symbols — impossible, a rule referencing a merged
  // symbol must have been learned after it. Within one rule a single
  // left-to-right pass suffices (merging (l,r) never creates a new (l,r)
  // adjacency: the merged symbol is "lr", not "l" or "r").
  //
  // The 100-TB shape: the merge table is a training CONSTANT (vocab-sized,
  // 10..100k rows) — it collects into a literal-array fold exactly like the
  // training rounds' batches. The corpus encodes at the WORD level (real
  // encoders memoize per word): distinct words encode once (one shuffle on
  // word), then join back to per-(doc, word) counts — the join reuses the
  // word-hash partitioning the vocab aggregation just produced. Output is
  // per-document token accounting, the quantity a packing/budget stage
  // consumes downstream (t12/t13 today count whitespace tokens; this is
  // their trained-tokenizer upgrade).
  /** (doc_id, pos, word) — positional token stream (empty tokens dropped;
    * position gaps are harmless, only the ORDER is consumed). Shared by the
    * t20 counts, t21 id sequences, and t22 packing.
    */
  private[graft] def docWords(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "word")))
      .where(col("word") =!= "")

  /** 8 shuffle partitions for text artifact builds below
    * [[graft.InputScale.TableRowFloor]] documents, where the BPE build
    * chain's stages are KB-sized and full-width task floors dominate.
    * Deliberately does NOT flip AQE off: caching a frame while
    * `spark.sql.adaptive.enabled` differs from the consumer's session value
    * breaks CacheManager substitution for that entry (measured r13: v6's
    * warm plan re-derived the whole diff.docIdSeqs subtree live — 5→9
    * shuffles +1 BNLJ — when the build ran AQE-off under an AQE-on session;
    * partitions-only keeps the substitution AND removes the 32-task floors,
    * which were the dominant cost). */
  private[operators] def withSmallTextBuild[T](s: SparkSession, d: String)(f: => T): T =
    InputScale.withShufflePartitionsWhen(s, InputScale.smallDocs(s, d),
      InputScale.SmallBuildPartitions)(f)

  private[graft] val seq0Expr = expr(
    s"substring(regexp_replace(word, '(.)', '$$1$BpeSep'), 1, 2 * length(word) - 1)")

  /** (word, seq) — every DISTINCT corpus word encoded by t19's trained merge
    * table (rank-ordered exact-symbol rewrite with the containment
    * pre-check). Memoized: the fold over the rule table is the expensive
    * encode pass, and it is a pure function of the corpus — one artifact
    * serves t20's counts, t21's id sequences, and t22's packing.
    */
  private[graft] def encodedVocab(s: SparkSession, d: String): DataFrame =
    ArtifactCache.getOrElseUpdate("bpe.encodedVocab", s, d) {
      withSmallTextBuild(s, d) {
        val out = encodeVocabWith(s, d, docWords(s, d).select("word").distinct()).cache()
        out.count()
        out
      }
    }

  /** Rank-ordered encode of a DISTINCT-word `vocab` frame by dir-`d`'s
    * trained merge table — the fold behind [[encodedVocab]], factored out so
    * vocabularies the training corpus never produced (e.g. post-redaction
    * tokens, see [[idSeqsOf]]) encode through the identical rule sequence.
    */
  private def encodeVocabWith(s: SparkSession, d: String, vocab: DataFrame): DataFrame = {
    val rules = t19BpeTrain(s, d).orderBy("merge_idx")
      .select("lhs", "rhs").collect()
      .map(r => (r.getString(0), r.getString(1)))
    if (rules.isEmpty) vocab.select(col("word"), seq0Expr.as("seq"))
    else {
      val rulesCol = array(rules.map { case (l, r) =>
        struct(lit(l).as("l"), lit(r).as("r")) }: _*)
      // encode applies rules IN RANK ORDER (not an independent batch), so
      // the fold stays per-rule — but a cheap containment pre-check skips
      // the 6-string-op rewrite for the overwhelming majority of (word,
      // rule) pairs: the plain l<SEP>r substring is a NECESSARY condition
      // for the boundary-doubled pattern (doubling only inserts
      // separators around already-adjacent symbols). At a production
      // 32k-rule table this is the difference between 32k rewrites and
      // 32k substring scans per word.
      vocab.select(col("word"), seq0Expr.as("seq"))
        .withColumn("__rules", rulesCol)
        .select(col("word"),
          expr(s"aggregate(__rules, seq, (acc, p) -> " +
            s"CASE WHEN contains(acc, concat(p.l, '$BpeSep', p.r)) THEN " +
            s"${mergeRewriteSql("acc", "p.l", "p.r", sparkDialect = true)} " +
            s"ELSE acc END)").as("seq"))
    }
  }

  private def t20BpeEncode(s: SparkSession, d: String): DataFrame = {
    val perDocWord = docWords(s, d)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
    val pieces = encodedVocab(s, d).select(col("word"),
      size(split(col("seq"), BpeSep)).cast("long").as("n_pieces"))
    perDocWord.join(pieces, "word")
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("n_pieces")).as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Appends the tok/pdw/enc0..encN encode chain (on top of
    * [[bpeTrainCtes]]) shared by the t20/t21/t22 oracles; returns the final
    * encoded-vocab relation name.
    */
  private def bpeEncodeCtes(ctes: scala.collection.mutable.ArrayBuffer[String]): String = {
    val sep = "chr(31)"
    ctes ++= bpeTrainCtes
    ctes += s"""tok AS MATERIALIZED (
       |  SELECT doc_id, tok AS word
       |  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |        FROM documents)
       |  WHERE tok != ''
       |)""".stripMargin
    ctes += """pdw AS MATERIALIZED (
       |  SELECT doc_id, word, count(*) AS cnt FROM tok GROUP BY doc_id, word
       |)""".stripMargin
    ctes += s"""enc0 AS MATERIALIZED (
       |  SELECT word, substr(regexp_replace(word, '(.)', '\\1' || $sep, 'g'),
       |           1, 2 * length(word) - 1) AS seq
       |  FROM (SELECT DISTINCT word FROM pdw)
       |)""".stripMargin
    for (k <- 1 to BpeMerges) {
      ctes += s"""enc$k AS MATERIALIZED (
         |  SELECT e.word,
         |         CASE WHEN b.l IS NULL THEN e.seq
         |              ELSE ${mergeRewriteSql("e.seq", "b.l", "b.r", sparkDialect = false)} END AS seq
         |  FROM enc${k - 1} e LEFT JOIN b$k b ON TRUE
         |)""".stripMargin
    }
    s"enc$BpeMerges"
  }

  /** [[bpeEncodeCtes]] plus the id CTEs t21 and t23 share: `chars` (the
    * base alphabet), `base` (its ids in sorted order), `symtab` (base and
    * merged symbols to ids) and `wids` (each word's id list). Returns the
    * final encoding CTE's name.
    */
  private def bpeIdCtes(ctes: scala.collection.mutable.ArrayBuffer[String]): String = {
    val sep = "chr(31)"
    val enc = bpeEncodeCtes(ctes)
    val mergeUnion = (1 to BpeMerges).map(k => s"SELECT merge_idx, l, r FROM b$k")
      .mkString(" UNION ALL ")
    ctes += s"""chars AS (
       |  SELECT DISTINCT unnest(string_split(seq, $sep)) AS sym FROM enc0
       |)""".stripMargin
    ctes += """base AS MATERIALIZED (
       |  SELECT sym, row_number() OVER (ORDER BY sym) - 1 AS id FROM chars
       |)""".stripMargin
    ctes += s"""symtab AS MATERIALIZED (
       |  SELECT sym, min(id) AS id FROM (
       |    SELECT sym, id FROM base
       |    UNION ALL
       |    SELECT l || r AS sym, nb.n + merge_idx - 1 AS id
       |    FROM ($mergeUnion), (SELECT count(*) AS n FROM base) nb
       |  ) GROUP BY sym
       |)""".stripMargin
    ctes += s"""wids AS MATERIALIZED (
       |  SELECT word, list(id ORDER BY pi) AS ids FROM (
       |    SELECT word, unnest(range(1, len(ps) + 1)) AS pi, unnest(ps) AS piece
       |    FROM (SELECT word, string_split(seq, $sep) AS ps FROM $enc)
       |  ) JOIN symtab ON piece = sym
       |  GROUP BY word
       |)""".stripMargin
    enc
  }

  private val t20Sql: String = {
    val sep = "chr(31)"
    val ctes = new scala.collection.mutable.ArrayBuffer[String]
    val enc = bpeEncodeCtes(ctes)
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
       |  CAST(sum(cnt * len(string_split(e.seq, $sep))) AS BIGINT) AS n_bpe_tokens
       |FROM pdw JOIN $enc e USING (word)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // t21 — BPE TOKEN-ID SEQUENCES: the other half of encode (t20 emits
  // per-doc token ACCOUNTING; a training pipeline feeds the model actual id
  // sequences). Vocabulary ids are assigned exactly like a real BPE
  // tokenizer: the base alphabet (every distinct character of the corpus
  // vocabulary, in the engines' shared UTF-8 byte order) takes ids
  // 0..B-1, and merge rank k takes id B+k-1 — a deterministic function of
  // the trained table, no corpus-order dependence. If two merges produce
  // the same surface string (possible: (a,bc) and (ab,c) both yield "abc"),
  // the symbol resolves to the SMALLEST id, making the string->id map a
  // function. Output is one row per document: sequence length, first/last
  // id, and the portable 60-bit hash of the comma-joined id sequence — the
  // hash pins the ENTIRE sequence (order included) through the oracle
  // compare without shipping array columns through the gate.
  //
  // The 100-TB shape: the symbol table is a training constant (alphabet +
  // merge count) — broadcast; words encode ONCE (the memoized encodedVocab
  // artifact) and per-word id arrays join back to the positional token
  // stream on the word key; per-document assembly is one doc-keyed
  // aggregate whose state is the document's own token ids — the same
  // per-doc boundedness as every doc-local operator here.
  /** The per-document id-sequence frame (doc_id, ids) behind t21 — memoized
    * because t23's pack assembly consumes exactly this frame again (the 100
    * TB analogue: a pipeline tokenizes once and materializes the id column;
    * every downstream layout reads it, nobody re-derives it).
    */
  private[graft] def docIdSeqs(s: SparkSession, d: String): DataFrame =
    ArtifactCache.getOrElseUpdate("text.docIdSeqs", s, d) {
      withSmallTextBuild(s, d) {
        val enc = encodedVocab(s, d)
        val (symtab, _) = trainedSymtab(s, d)
        val wordIds = enc
          .select(col("word"), posexplode(split(col("seq"), BpeSep)).as(Seq("pi", "piece")))
          .join(broadcast(symtab.withColumnRenamed("sym", "piece")), "piece")
          .groupBy("word")
          .agg(expr("transform(array_sort(collect_list(struct(pi, id))), p -> p.id)").as("ids"))
        val out = docWords(s, d).join(wordIds, "word")
          .groupBy("doc_id")
          .agg(expr("flatten(transform(array_sort(collect_list(struct(pos, ids))), p -> p.ids))")
            .as("ids"))
          .cache()
        out.count()
        out
      }
    }

  /** (symtab(sym, id), nBase) for dir-`d`'s trained tokenizer — the base
    * alphabet comes from the encoded vocab's WORDS (the set of chars is a
    * pure function of the vocabulary; seq0's pieces are exactly the chars),
    * merge rank k takes id nBase+k-1, ties resolve to the smallest id.
    */
  private def trainedSymtab(s: SparkSession, d: String): (DataFrame, Long) = {
    val enc = encodedVocab(s, d)
    val chars = enc.select(explode(split(seq0Expr, BpeSep)).as("sym")).distinct()
    val base = chars.withColumn("id",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy("sym"))
        .cast("long") - 1)
    val nBase = base.count() // alphabet-sized driver scalar
    val mergedTab = t19BpeTrain(s, d)
      .select(col("merged").as("sym"),
        (col("merge_idx").cast("long") + lit(nBase - 1)).as("id"))
    (base.select("sym", "id").union(mergedTab)
      .groupBy("sym").agg(min(col("id")).as("id")), nBase)
  }

  /** (doc_id, ids) over an ARBITRARY (doc_id, text) frame, encoded by the
    * tokenizer TRAINED on dir `d` — the deploy-time shape: train once on the
    * corpus, apply to whatever text a stage hands you. The curation sink
    * uses this to tokenize the POST-REDACTION snapshot (r12 ADVICE: ids
    * derived from the raw corpus would carry scrubbed PII in invertible
    * form right next to the redacted text).
    *
    * Words the training corpus already encoded ride the memoized
    * [[encodedVocab]] artifact; only the NOVEL vocabulary (redaction
    * markers and the words redaction rewrote) pays the rule fold — at 100 TB
    * redaction touches a bounded token set, so the incremental encode is a
    * marker-vocabulary-sized stage, not a second corpus pass. Symbols
    * outside the trained alphabet map to the UNK id (nBase + nMerges, one
    * past the trained id space) — the byte-fallback-less tokenizer contract,
    * engine-reproducible because it is a pure function of the trained table.
    */
  private[graft] def idSeqsOf(s: SparkSession, d: String, docs: DataFrame): DataFrame = {
    val words = docs
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "word")))
      .where(col("word") =!= "")
    val vocab = words.select("word").distinct()
    val trained = encodedVocab(s, d)
    val novel = vocab.join(trained.select("word"), Seq("word"), "left_anti")
    val enc = vocab.join(trained, Seq("word"))
      .unionByName(encodeVocabWith(s, d, novel))
    val (symtab, nBase) = trainedSymtab(s, d)
    val unkId = nBase + BpeMerges
    val wordIds = enc
      .select(col("word"), posexplode(split(col("seq"), BpeSep)).as(Seq("pi", "piece")))
      .join(broadcast(symtab.withColumnRenamed("sym", "piece")), Seq("piece"), "left")
      .select(col("word"), col("pi"), coalesce(col("id"), lit(unkId)).as("id"))
      .groupBy("word")
      .agg(expr("transform(array_sort(collect_list(struct(pi, id))), p -> p.id)").as("ids"))
    words.join(wordIds, "word")
      .groupBy("doc_id")
      .agg(expr("flatten(transform(array_sort(collect_list(struct(pos, ids))), p -> p.ids))")
        .as("ids"))
  }

  private def t21BpeIds(s: SparkSession, d: String): DataFrame = {
    graft.Graft.setup(s)
    docIdSeqs(s, d)
      .select(col("doc_id"),
        size(col("ids")).cast("long").as("n_bpe_tokens"),
        element_at(col("ids"), 1).as("first_id"),
        element_at(col("ids"), -1).as("last_id"),
        expr("graft_hash60(array_join(transform(ids, i -> CAST(i AS STRING)), ','))")
          .as("ids_h"))
      .orderBy("doc_id")
  }

  private[graft] val t21Sql: String = {
    val ctes = new scala.collection.mutable.ArrayBuffer[String]
    bpeIdCtes(ctes)
    ctes += """dseq AS (
       |  SELECT doc_id, flatten(list(ids ORDER BY pos)) AS ids FROM (
       |    SELECT doc_id, pos, word FROM (
       |      SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS word
       |      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
       |            FROM documents))
       |    WHERE word != ''
       |  ) JOIN wids USING (word)
       |  GROUP BY doc_id
       |)""".stripMargin
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_bpe_tokens,
       |  ids[1] AS first_id, ids[-1] AS last_id,
       |  ${hash60Sql("array_to_string(list_transform(ids, i -> CAST(i AS VARCHAR)), ',')")} AS ids_h
       |FROM dseq ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // t22 — PACKING ON TRAINED-TOKENIZER COUNTS: t13's concat-then-split
  // packing driven by the REAL per-document BPE token counts (t20) instead
  // of whitespace token counts — the layout a training pipeline actually
  // materializes once a tokenizer exists (pack boundaries in model-token
  // space, not word space). Same sharded shape as t13: only
  // (doc_id, n_tokens) pairs move, all-integer arithmetic.
  private def packOver(s: SparkSession, counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("shard",
        (hash60F(s, concat(lit("pack:"), col("doc_id").cast(StringType))) % PackShards)
          .cast(IntegerType))
      .withColumn("cum", sum(col("n_tokens")).over(w).cast(LongType))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"(cum - n_tokens) div $PackSize").cast(IntegerType).as("pack_id"),
        expr(s"(cum - n_tokens) % $PackSize").cast(IntegerType).as("pack_offset"))
      .orderBy("doc_id")
  }

  private def t22PackBpe(s: SparkSession, d: String): DataFrame = {
    val perDocWord = docWords(s, d)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
    val pieces = encodedVocab(s, d).select(col("word"),
      size(split(col("seq"), BpeSep)).cast("long").as("n_pieces"))
    val counts = perDocWord.join(pieces, "word")
      .groupBy("doc_id")
      .agg(sum(col("cnt") * col("n_pieces")).as("n_tokens"))
    packOver(s, counts)
  }

  private[graft] val t22Sql: String = {
    val sep = "chr(31)"
    val ctes = new scala.collection.mutable.ArrayBuffer[String]
    val enc = bpeEncodeCtes(ctes)
    ctes += s"""bpe_cnt AS (
       |  SELECT doc_id, CAST(sum(cnt * len(string_split(e.seq, $sep))) AS BIGINT) AS n_tokens
       |  FROM pdw JOIN $enc e USING (word)
       |  GROUP BY doc_id
       |)""".stripMargin
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT doc_id, shard, n_tokens,
       |  CAST((cum - n_tokens) // $PackSize AS INTEGER) AS pack_id,
       |  CAST((cum - n_tokens) % $PackSize AS INTEGER) AS pack_offset
       |FROM (
       |  SELECT doc_id, shard, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM (
       |    SELECT doc_id, n_tokens,
       |      CAST(${hash60Sql("'pack:' || CAST(doc_id AS VARCHAR)")} % $PackShards AS INTEGER) AS shard
       |    FROM bpe_cnt))
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // t23 — MATERIALIZED PACK SEQUENCES: the missing hop between t21 (per-doc
  // token-id sequences) and t22 (pack layout) — the actual per-pack id
  // arrays a training job memory-maps. Each document occupies the
  // half-open token range [g, g + n_tokens) of its shard's stream, where
  // g = pack_id * PackSize + pack_offset reconstructs the shard-local
  // cumulative start from t22's own columns; the doc's ids split across
  // packs floor(g/P) .. floor((g+n-1)/P) by pure doc-local arithmetic
  // (slice indices), and each pack reassembles its pieces in stream order.
  //
  // The 100-TB shape: the only rows that move are (doc_id, ids) — payload-
  // dominated, not key-dominated — and they move ONCE, into a per-(shard,
  // pack) aggregation whose state is bounded by PackSize ids per group plus
  // piece fan-out (n_tokens/PackSize + 1 rows per doc). No window over the
  // corpus, no driver assembly; shards stay independent streams exactly as
  // in packOver, so shard-parallelism carries over.
  /** t23's assembly core, reusable over ANY (layout, id-sequence) pair —
    * r12: `api.Curation` materializes loader-ready pack tensors over the
    * curated corpus through exactly this path, so the sink cannot drift
    * from the oracle-checked t23 semantics. `layout` carries (doc_id,
    * shard, n_tokens, pack_id, pack_offset), `seqs` carries (doc_id, ids);
    * returns one row per (shard, pack_id) with the materialized id array.
    *
    * The `n_tokens > 0` guard makes the doc-local explode's invariant
    * explicit (ADVICE r11): Spark's sequence(a, b) with b < a emits a
    * DESCENDING sequence, so a zero-token doc would otherwise fabricate
    * spurious pack pieces with negative slice lengths instead of
    * contributing nothing.
    */
  private[graft] def assemblePacks(layout: DataFrame, seqs: DataFrame, P: Int): DataFrame = {
    val pieces = layout.where(col("n_tokens") > 0).join(seqs, "doc_id")
      .withColumn("g", col("pack_id").cast("long") * P + col("pack_offset"))
      .select(col("shard"), col("g"), col("ids"),
        explode(expr(s"sequence(pack_id, CAST((g + n_tokens - 1) div $P AS INT))")).as("p"))
      .select(col("shard"), col("p").as("pack_id"), col("g"),
        expr(s"slice(ids, CAST(greatest(p * ${P}L - g, 0) + 1 AS INT), " +
          s"CAST(least((p + 1) * ${P}L, g + size(ids)) - greatest(p * ${P}L, g) AS INT))")
          .as("piece"))
    pieces
      .groupBy("shard", "pack_id")
      .agg(count(lit(1)).as("n_docs"),
        expr("flatten(transform(array_sort(collect_list(struct(g, piece))), t -> t.piece))")
          .as("ids"))
  }

  private def t23PackSequences(s: SparkSession, d: String): DataFrame = {
    graft.Graft.setup(s)
    val layout = t22PackBpe(s, d) // (doc_id, shard, n_tokens, pack_id, pack_offset)
    assemblePacks(layout, docIdSeqs(s, d), PackSize)
      .select(col("shard"), col("pack_id"), col("n_docs"),
        size(col("ids")).cast("long").as("n_tokens"),
        element_at(col("ids"), 1).as("first_id"),
        element_at(col("ids"), -1).as("last_id"),
        expr("graft_hash60(array_join(transform(ids, i -> CAST(i AS STRING)), ','))")
          .as("ids_h"))
      .orderBy("shard", "pack_id")
  }

  private[graft] val t23Sql: String = {
    val sep = "chr(31)"
    val P = PackSize
    val ctes = new scala.collection.mutable.ArrayBuffer[String]
    val enc = bpeIdCtes(ctes)
    // The oracle assembles packs at TOKEN level (each token joined to its
    // global stream position, per-pack string_agg/arg_min over scalars) —
    // NOT by re-stating t21's dseq CTE: the per-doc list assembly is the
    // known non-spillable DuckDB shape (t21's own oracle is borderline at
    // sf10 and infeasible at sf100), and t23's pack lists would double it.
    // Token-level state is the data itself (the growing per-pack strings),
    // so this formulation gates sf10 where the list form bad-allocates.
    ctes += s"""bpe_cnt AS (
       |  SELECT doc_id, CAST(sum(cnt * len(string_split(e.seq, $sep))) AS BIGINT) AS n_tokens
       |  FROM pdw JOIN $enc e USING (word)
       |  GROUP BY doc_id
       |)""".stripMargin
    ctes += s"""layout AS (
       |  SELECT doc_id, shard,
       |    CAST((cum - n_tokens) // $P AS INTEGER) AS pack_id,
       |    CAST((cum - n_tokens) % $P AS INTEGER) AS pack_offset
       |  FROM (
       |    SELECT doc_id, shard, n_tokens,
       |      CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |    FROM (
       |      SELECT doc_id, n_tokens,
       |        CAST(${hash60Sql("'pack:' || CAST(doc_id AS VARCHAR)")} % $PackShards AS INTEGER) AS shard
       |      FROM bpe_cnt))
       |)""".stripMargin
    // per-doc word stream with each word's in-doc token start (scalar
    // window — np only; the id lists join in AFTER, so the window operator
    // never materializes a list column: the e2 spill lesson)
    ctes += """t23_dw AS (
       |  SELECT doc_id, pos, word FROM (
       |    SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS word
       |    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
       |          FROM documents))
       |  WHERE word != ''
       |)""".stripMargin
    ctes += """t23_ws AS (
       |  SELECT doc_id, pos, word,
       |    CAST(sum(np) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - np AS BIGINT) AS wstart
       |  FROM (SELECT d.doc_id, d.pos, d.word, len(w.ids) AS np
       |        FROM t23_dw d JOIN wids w USING (word))
       |)""".stripMargin
    ctes += """t23_tok AS (
       |  SELECT s.doc_id, s.wstart + u.pi - 1 AS ti, u.id
       |  FROM t23_ws s JOIN (
       |    SELECT word, unnest(range(1, len(ids) + 1)) AS pi, unnest(ids) AS id
       |    FROM wids) u USING (word)
       |)""".stripMargin
    ctes += s"""t23_gtok AS (
       |  SELECT l.shard, CAST((l.g + t.ti) // $P AS INTEGER) AS pack_id,
       |    l.g + t.ti AS gpos, t.id, t.doc_id
       |  FROM t23_tok t JOIN (
       |    SELECT doc_id, shard, CAST(pack_id AS BIGINT) * $P + pack_offset AS g
       |    FROM layout) l USING (doc_id)
       |)""".stripMargin
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT shard, pack_id, count(DISTINCT doc_id) AS n_docs,
       |  count(*) AS n_tokens,
       |  arg_min(id, gpos) AS first_id, arg_max(id, gpos) AS last_id,
       |  ${hash60Sql("string_agg(CAST(id AS VARCHAR), ',' ORDER BY gpos)")} AS ids_h
       |FROM t23_gtok
       |GROUP BY shard, pack_id
       |ORDER BY shard, pack_id""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // t24 — INCREMENTAL PACK APPEND (r11 verdict #3): an admitted batch today
  // implied re-packing the corpus; real pipelines append to the STANDING
  // pack layout, continuing each shard's token stream from its last
  // (pack_id, offset). packAppend derives each shard's resume position from
  // the standing layout ALONE (max over pack_id*P + pack_offset + n_tokens —
  // the cumsum is strictly increasing, so the max is the shard's token
  // total), then windows only the new docs: the standing corpus never moves
  // again. The oracle is the full RE-PACK of the concatenated corpus
  // (window ordered (is_new, doc_id) per shard, filtered to the new batch) —
  // append == re-pack is exactly the invariant a production append must
  // keep, checked engine-vs-engine through two genuinely different routes.
  //
  // The 100-TB shape: the standing side contributes one shard-count-sized
  // aggregate (16 rows — structurally bounded, broadcast); only the DELTA
  // batch is windowed and moved. All-integer arithmetic, engine-exact.
  private val AppendMod = 5L  // == d12's incremental-batch (modulus, residue)
  private val AppendRes = 4L

  /** Per-shard resume positions of a standing pack layout: the shard's
    * token total, read off its own columns (no re-scan of the corpus).
    */
  private[graft] def packResume(standing: DataFrame, P: Int): DataFrame =
    standing.groupBy("shard")
      .agg(max(col("pack_id").cast("long") * P + col("pack_offset") + col("n_tokens"))
        .as("base"))

  /** Append `newCounts` (doc_id, n_tokens) to the stream positions in
    * `bases` (shard, base): returns layout rows for the NEW docs only, each
    * shard's stream continuing from its base. Shards absent from `bases`
    * start at position 0. The micro-batch form: a streaming appender holds
    * the 16-row base frame as its only state.
    */
  private[graft] def packAppendFrom(s: SparkSession, bases: DataFrame,
      newCounts: DataFrame, P: Int, shards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    newCounts
      .withColumn("shard",
        (hash60F(s, concat(lit("pack:"), col("doc_id").cast(StringType))) % shards)
          .cast(IntegerType))
      .withColumn("cum", sum(col("n_tokens")).over(w).cast(LongType))
      // shard-count-sized (<= `shards` rows): structurally bounded broadcast
      .join(broadcast(bases), Seq("shard"), "left")
      .withColumn("g", coalesce(col("base"), lit(0L)) + col("cum") - col("n_tokens"))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"g div $P").cast(IntegerType).as("pack_id"),
        expr(s"g % $P").cast(IntegerType).as("pack_offset"))
  }

  /** Append `newCounts` to a standing pack LAYOUT: the resume positions are
    * read off the layout's own columns (see [[packResume]]), the standing
    * corpus itself never moves again.
    */
  private[graft] def packAppend(s: SparkSession, standing: DataFrame,
      newCounts: DataFrame, P: Int, shards: Int): DataFrame =
    packAppendFrom(s, packResume(standing, P), newCounts, P, shards)

  private def t24PackAppend(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d).select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("n_tokens"))
    val standing = packOver(s, counts.where(col("doc_id") % AppendMod =!= AppendRes))
    packAppend(s, standing, counts.where(col("doc_id") % AppendMod === AppendRes),
      PackSize, PackShards)
      .orderBy("doc_id")
  }

  private val t24Sql =
    s"""SELECT doc_id, shard, n_tokens, pack_id, pack_offset FROM (
       |  SELECT doc_id, shard, n_tokens, is_new,
       |    CAST((cum - n_tokens) // $PackSize AS INTEGER) AS pack_id,
       |    CAST((cum - n_tokens) % $PackSize AS INTEGER) AS pack_offset
       |  FROM (
       |    SELECT doc_id, shard, n_tokens, is_new,
       |      CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY is_new, doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |    FROM (
       |      SELECT doc_id,
       |        CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
       |        CAST(${hash60Sql("'pack:' || CAST(doc_id AS VARCHAR)")} % $PackShards AS INTEGER) AS shard,
       |        doc_id % $AppendMod = $AppendRes AS is_new
       |      FROM documents)))
       |WHERE is_new
       |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t24_pack_append" -> t24PackAppend _,
    "t23_pack_sequences" -> t23PackSequences _,
    "t17_source_cap"   -> t17SourceCap _,
    "t18_bm25"         -> t18Bm25 _,
    "t19_bpe_train"    -> t19BpeTrain _,
    "t20_bpe_encode"   -> t20BpeEncode _,
    "t21_bpe_ids"      -> t21BpeIds _,
    "t22_pack_bpe"     -> t22PackBpe _,
    "t16_pii_redact"   -> t16PiiRedact _,
    "t15_domain_mix"   -> t15DomainMix _,
    "t10_feature_hash" -> t10FeatureHash _,
    "t11_temp_sample"  -> t11TempSample _,
    "t12_seq_chunk"    -> t12SeqChunk _,
    "t13_pack"         -> t13Pack _,
    "t14_rarity_score" -> t14RarityScore _,
    "t1_text_stats"  -> t1TextStats _,
    "t2_lang_id"     -> t2LangId _,
    "t3_fingerprint" -> t3Fingerprint _,
    "t4_token_freq"  -> t4TokenFreq _,
    "t5_quality_filter"     -> t5QualityFilter _,
    "t6_stratified_sample"  -> t6StratifiedSample _,
    "t7_countmin"           -> t7CountMin _,
    "t8_gopher_repetition"  -> t8GopherRepetition _,
    "t9_tfidf"              -> t9Tfidf _)

  val oracles: Map[String, String] = Map(
    "t24_pack_append" -> t24Sql,
    "t23_pack_sequences" -> t23Sql,
    "t17_source_cap"   -> t17Sql,
    "t18_bm25"         -> t18Sql,
    "t19_bpe_train"    -> t19Sql,
    "t20_bpe_encode"   -> t20Sql,
    "t21_bpe_ids"      -> t21Sql,
    "t22_pack_bpe"     -> t22Sql,
    "t16_pii_redact"   -> t16Sql,
    "t15_domain_mix"   -> t15Sql,
    "t10_feature_hash" -> t10Sql,
    "t11_temp_sample"  -> t11Sql,
    "t12_seq_chunk"    -> t12Sql,
    "t13_pack"         -> t13Sql,
    "t14_rarity_score" -> t14Sql,
    "t1_text_stats"  -> t1Sql,
    "t2_lang_id"     -> t2Sql,
    "t3_fingerprint" -> t3Sql,
    "t4_token_freq"  -> t4Sql,
    "t5_quality_filter"    -> t5Sql,
    "t6_stratified_sample" -> t6Sql,
    "t7_countmin"          -> t7Sql,
    "t8_gopher_repetition" -> t8Sql,
    "t9_tfidf"             -> t9Sql)
}
