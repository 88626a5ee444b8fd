package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{InputScale, Tables}

/** Deduplication operator family for the training-data pipeline: exact
  * (hash-groupBy), MinHash signatures + LSH banding, SimHash, token-n-gram
  * Jaccard, and embedding-cosine near-dup — each oracle-checkable because all
  * hashing routes through the portable md5-based [[TextOps.hash60]].
  *
  * Scale design: every signature is computed per-document with pure column
  * expressions (no UDFs, no shuffles); pair extraction always goes through a
  * bucket equi-join (LSH band, multi-table key, or hash bucket) so the
  * shuffle key is the bucket, never a cross product. The one brute-force
  * query (d6, embedding cosine) is the tiny-side baseline its LSH-blocked
  * scale twin d8 (and the ANN variants in [[Similarity]]) are measured
  * against.
  */
object Dedup {

  private val NumHashes = 8
  private val BandSize = 2 // d2's public signature surface: 4 bands of 2

  // d3/d5 LSH parameterization: 64 hashes in 8 bands of 8. Band collision
  // probability is ~jaccard^8 — near-unique docs almost never collide, while
  // true near-dups (j >= 0.7) land in >= 1 shared band with prob ~1-(1-j^8)^8
  // (~0.5 at j=0.7, ~0.97 at j=0.85). The round-1 4x2 parameterization put
  // ~every doc pair in some bucket (quadratic candidate blowup, 88 s of the
  // 167 s bench); these are the standard production values.
  private[graft] val LshNumHashes = 64
  private val LshBands = 8
  private val LshBandSize = 8
  // Skew guard: buckets larger than this are boilerplate-degenerate; they are
  // dropped (bounding the per-bucket pair count at cap^2) — standard LSH
  // practice. At the test SFs no bucket reaches the cap, so the oracle's
  // identical HAVING clause keeps the hash compare exact.
  private[graft] val LshMaxBucket = 64

  // Spark-side shingle + minhash SQL fragments (shared shape with oracles).
  // MinHash: ONE md5 per shingle, 8 seed variants via affine mix — see
  // graft.functions.HashFunctions for the constants and DuckDB equivalence.
  private[operators] val normExpr = "regexp_replace(lower(text), '\\\\s+', ' ')"
  // (Spark side computes shingles+minhash fused in graft_minhash_text; the
  // oracle spells out the equivalent shingle list explicitly)
  private[operators] val duckNorm = "regexp_replace(lower(text), '\\s+', ' ', 'g')"
  private val duckShingles =
    "list_transform(range(1, greatest(len(norm)-4,1)+1), i -> substr(norm, i, 5))"
  private def duckMinhash(seed: Int) = {
    val a = graft.functions.HashFunctions.A(seed)
    val b = graft.functions.HashFunctions.B(seed)
    s"list_aggregate(list_transform(shingles, sh -> ($a * (CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) & 4294967295) + $b) % 2147483647), 'min')"
  }

  // ---------------------------------------------------------------------------
  // d1 — exact dedup: hash-groupBy on the normalized fingerprint; keeper =
  // min(doc_id). One shuffle on the hash; at 100 TB this is the classic
  // map-side-combine distinct.
  private def d1Exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("fp", md5(regexp_replace(lower(col("text")), "\\s+", " ")))
      .groupBy("fp")
      .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("keeper_doc_id")

  private val d1Sql =
    """SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
      |  min(doc_id) AS keeper_doc_id, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY keeper_doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // d2 — MinHash signatures: 8 independent min-hashes over character 5-gram
  // shingles, plus the banded LSH bucket keys used for candidate joins.
  private def d2Minhash(s: SparkSession, d: String): DataFrame = {
    graft.functions.HashRegistry.register(s)
    // derived from the cached 64-hash frame: affine pairs 0..7 are the
    // original d2 constants, so sig[0..7] IS the 8-hash signature — one
    // shared materialization serves d2, d3 and d5
    val base = lshSigs(s, d)
    val withSigs = (0 until NumHashes).foldLeft(base) { (df, i) =>
      df.withColumn(s"mh$i", expr(s"sig[$i]"))
    }
    val bandCols = (0 until NumHashes / BandSize).map { b =>
      val parts = (b * BandSize until (b + 1) * BandSize).map(i => s"mh$i")
      expr(s"CAST(conv(substr(md5(concat_ws(',', ${parts.mkString(",")})),1,15),16,10) AS BIGINT)")
        .as(s"band$b")
    }
    withSigs.select(col("doc_id") +: (0 until NumHashes).map(i => col(s"mh$i")) ++: bandCols: _*)
      .orderBy("doc_id")
  }

  private val d2Sql = {
    val sigs = (0 until NumHashes).map(i => s"${duckMinhash(i)} AS mh$i").mkString(",\n  ")
    val bands = (0 until NumHashes / BandSize).map { b =>
      val parts = (b * BandSize until (b + 1) * BandSize).map(i => s"mh$i").mkString(" || ',' || ")
      s"CAST(('0x'||substr(md5($parts),1,15)) AS BIGINT) AS band$b"
    }.mkString(",\n  ")
    s"""SELECT doc_id, ${(0 until NumHashes).map(i => s"mh$i").mkString(", ")},
       |  $bands
       |FROM (
       |  SELECT doc_id, $sigs
       |  FROM (SELECT doc_id, $duckShingles AS shingles
       |        FROM (SELECT doc_id, $duckNorm AS norm FROM documents)))
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // d3 — MinHash-LSH candidate pairs at production parameters (64 hashes, 8
  // bands of 8, bucket-size cap). Shared with d5's blocking stage.

  /** (doc_id, sig: array<long>[64]) — ONE md5 per shingle, 64 affine variants.
    * Cached: this is the expensive shared input of d2 (prefix-8 view), d3 and
    * d5 — Spark's CacheManager matches the identical logical plan, so
    * whichever query runs first materializes it for the rest of the session.
    * Size is 64 longs/doc — negligible next to the text itself.
    */
  /** Frame-level MinHash signature pass (doc_id, sig): fully row-local, so
    * the SAME code path serves the corpus artifact below and the streaming
    * admission micro-batches ([[graft.streaming.StreamOps.admissionVerdicts]]).
    */
  private[graft] def minhashSigs(docs: DataFrame): DataFrame = {
    graft.functions.HashRegistry.register(docs.sparkSession)
    docs
      .withColumn("norm", expr(normExpr))
      // fused shingle+hash expression: no per-row 300-element shingle array
      .select(col("doc_id"), expr(s"graft_minhash_text(norm, $LshNumHashes)").as("sig"))
  }

  private def lshSigs(s: SparkSession, d: String): DataFrame =
    ArtifactCache.getOrElseUpdate("dedup.lshSigs", s, d) {
      // bandsDir mode (see buildBandsBucketed): the landed signature parquet
      // IS the source — the MinHash pass already ran at build time
      val out = (sys.props.get(BandsDirProp) match {
        case Some(dir) => s.read.parquet(s"$dir/sigs")
        case None => minhashSigs(Tables.documentsSpread(s, d))
      }).cache()
      // EAGER: a d3/d9-shaped plan scans this frame up to 4x (bands a/b +
      // sig verify a/b); on a cold cache those scans run as CONCURRENT
      // stage-jobs that each recompute the full MinHash pass (measured at
      // sf1: four parallel 5.4 s jobs splitting the cores). One blocking
      // materialization serves every subsequent scan from memory.
      out.count()
      out
    }

  /** Exploded (doc_id, band_idx, band_hash) with degenerate buckets pruned:
    * only buckets of 2..LshMaxBucket members enter the self-join (singletons
    * cannot form pairs — pruning them first means only colliding docs shuffle
    * into the join; oversize buckets are the LSH skew guard, dropped).
    */
  /** SQL array of the per-band bucket hashes of a `sig` column — shared by
    * the corpus band explode below and the streaming admission lookup. */
  private[graft] val bandHashArrayExpr: String = (0 until LshBands).map { b =>
    s"graft_hash60(array_join(transform(slice(sig, ${b * LshBandSize + 1}, $LshBandSize), x -> cast(x AS string)), ','))"
  }.mkString("array(", ", ", ")")

  /** The raw (doc_id, band_idx, band_hash) explode of a signature frame. */
  private def explodeBands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(expr(bandHashArrayExpr)).as(Seq("band_idx", "band_hash")))

  /** Degenerate-bucket prune over a raw band frame: only buckets of
    * 2..LshMaxBucket members enter the self-join.
    */
  private def pruneBands(bands: DataFrame): DataFrame = {
    val keep = bands.groupBy("band_idx", "band_hash").agg(count(lit(1)).as("bsz"))
      .where(col("bsz") >= 2 && col("bsz") <= LshMaxBucket)
      .select("band_idx", "band_hash")
    // co-partitioned inner join on the band key: `keep` arrives already
    // hash-partitioned by its aggregation, the bands probe shuffles ONCE on
    // the same key and that exchange is then reused by both sides of the
    // pair self-join (which needs this partitioning anyway) — and when the
    // bands are the BUCKETED table (bandsDir mode) nobody shuffles at all.
    // Deliberately NOT a broadcast: keep is pair-forming-bucket-sized, which
    // grows with the corpus (at 1B docs it is easily GBs) — a forced
    // broadcast here is a driver OOM at scale. Whale buckets
    // (> LshMaxBucket) do ride the probe-side shuffle before being dropped;
    // AQE's skew-join split bounds the damage, and their rows never reach
    // the self-join.
    bands.join(keep, Seq("band_idx", "band_hash"))
  }

  private def lshBands(sigs: DataFrame): DataFrame = pruneBands(explodeBands(sigs))

  /** Distinct candidate (doc_a, doc_b) pairs from the pruned band buckets —
    * dedup BEFORE scoring so a pair colliding in k bands is compared once,
    * and only scalar pair keys shuffle. Single-use inside the
    * [[scoredPairs]] build (which is the cached artifact).
    */
  private def lshCandidatePairs(bands: DataFrame): DataFrame = {
    val a = bands.as("a"); val b = bands.as("b")
    a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Eagerly-materialized (doc_a, doc_b, est_jaccard) — the candidate pairs
    * ALREADY scored with d3's k/64 signature agreement. One artifact serves
    * the whole family (d3 verbatim; d5 as a blocking projection; d9 filtered
    * at the 0.7 edge threshold; d12 filtered to mixed membership), so the
    * sigs rejoin + zip_with agreement runs once per (session, corpus)
    * instead of once per consumer. Pair-count-sized (LSH-capped), 3 scalars
    * per row — negligible next to the signature frame itself.
    */
  private[graft] def scoredPairs(s: SparkSession, d: String): DataFrame =
    ArtifactCache.getOrElseUpdate("dedup.scoredPairs", s, d) {
      val sigs = lshSigs(s, d)
      InputScale.withSmallBuild(s, InputScale.smallDocs(s, d)) {
        // bandsDir mode: the exploded band table is the BUCKETED artifact —
        // hash-clustered on the band key, so the prune aggregate, the keep
        // join and the pair self-join all plan with ZERO exchange (the
        // pair distinct is the only shuffle left in the build)
        val rawBands = sys.props.get(BandsDirProp) match {
          case Some(dir) => registerBandsTable(s, dir); s.table(BandsTable)
          case None => explodeBands(sigs)
        }
        val cand = lshCandidatePairs(pruneBands(rawBands))
        val sa = sigs.select(col("doc_id").as("doc_a"), col("sig").as("siga"))
        val sb = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sigb"))
        graft.functions.HashRegistry.register(s)
        val out = cand.join(sa, "doc_a").join(sb, "doc_b")
          .select(col("doc_a"), col("doc_b"),
            // compiled position-agreement count (functions.SigAgreeCount) —
            // the zip_with+filter chain it replaces evaluated interpreted
            // per signature position
            (expr("graft_sig_agree(siga, sigb)").cast(DoubleType)
              / LshNumHashes).as("est_jaccard"))
          .cache()
        out.count()
        out
      }
    }

  /** Blocking view of [[scoredPairs]] (candidate keys only) for consumers
    * that re-score with their own exact measure (d5). */
  private def lshPairsFor(s: SparkSession, d: String): DataFrame =
    scoredPairs(s, d).select("doc_a", "doc_b")

  private[graft] val BandsDirProp = "graft.dedup.bandsDir"
  private val BandsTable = "graft_b_bands"

  /** Register the landed bucketed band table in this session's catalog
    * (fresh processes have an empty in-memory catalog; the DDL points at
    * the existing bucketed part files — same recipe as the graph family's
    * edge table).
    */
  private def registerBandsTable(s: SparkSession, dir: String): Unit = {
    val buckets = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "bands.buckets"))).trim.toInt
    if (!s.catalog.tableExists(BandsTable))
      s.sql(s"""CREATE TABLE $BandsTable (doc_id BIGINT, band_idx INT, band_hash BIGINT)
               |USING parquet CLUSTERED BY (band_idx, band_hash) INTO $buckets BUCKETS
               |LOCATION '$dir/bands'""".stripMargin)
  }

  /** Bucketed-ingest layout for the LSH family (r12 verdict stretch): land
    * the signature frame as plain parquet and the exploded band table
    * BUCKETED on the band key under `outDir`, for serving through
    * `-Dgraft.dedup.bandsDir`. The (band_idx, band_hash) shuffle is the one
    * corpus-sized exchange every scored-pair rebuild pays (d3/d5/d9/d12,
    * admission re-runs, the curation composite all ride the same artifact);
    * with the bands bucketed, the prune aggregate, the keep join and the
    * pair self-join are all zero-exchange scans of the standing layout —
    * pay the shuffle once at write time, exactly the graph family's
    * `buildPairsBucketed` discipline applied to the dedup family.
    *
    * Returns (band rows, zero-exchange-pair-plan flag, static exchange
    * count of the served pair plan) — asserted by BucketedDedupSpec and
    * recorded by the `dedupbands` scale probe.
    */
  def buildBandsBucketed(s: SparkSession, d: String, outDir: String,
      buckets: Int = 64): (Long, Boolean, Int) = {
    minhashSigs(Tables.documents(s, d))
      .write.mode("overwrite").parquet(s"$outDir/sigs")
    val sigs = s.read.parquet(s"$outDir/sigs")
    s.sql(s"DROP TABLE IF EXISTS $BandsTable")
    // repartition on the bucket expression BEFORE bucketBy: one sorted file
    // per bucket, and the write shuffle IS the last time the band key moves
    explodeBands(sigs)
      .repartition(buckets, col("band_idx"), col("band_hash"))
      .write.bucketBy(buckets, "band_idx", "band_hash")
      .option("path", s"$outDir/bands")
      .mode("overwrite").saveAsTable(BandsTable)
    java.nio.file.Files.write(java.nio.file.Paths.get(outDir, "bands.buckets"),
      buckets.toString.getBytes)
    // audit the statically PREPARED physical plan of the pair build the
    // serve path runs (EnsureRequirements applied explicitly — the bare
    // sparkPlan carries no exchanges yet, so counting there is vacuous):
    // prune + keep join + self-join over the bucketed scan must not
    // exchange; the candidate distinct is the single allowed shuffle
    val pairPlan = lshCandidatePairs(pruneBands(s.table(BandsTable)))
    val nEx = ensuredExchanges(pairPlan)
    (s.table(BandsTable).count(), nEx <= 1, nEx)
  }

  /** Static exchange count of a frame's physical plan AFTER
    * EnsureRequirements (which is what inserts exchanges — the bare
    * `sparkPlan` never contains any). No execution is triggered.
    */
  private[graft] def ensuredExchanges(df: DataFrame): Int = {
    val prepared = org.apache.spark.sql.execution.exchange.EnsureRequirements()
      .apply(df.queryExecution.sparkPlan)
    def walk(q: org.apache.spark.sql.execution.SparkPlan): Int =
      q.children.map(walk).sum +
        (if (q.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]) 1
         else 0)
    walk(prepared)
  }

  /** Shared oracle CTE chain mirroring [[lshSigs]]/[[lshBands]]/[[lshCandidatePairs]]:
    * defines docs/shingle/mh/sig/bands/keep/cand.
    */
  private def lshCandSqlCtes: String = {
    val aList = graft.functions.HashFunctions.A.mkString("[", ", ", "]")
    val bList = graft.functions.HashFunctions.B.mkString("[", ", ", "]")
    s"""docs AS (
       |  SELECT doc_id, $duckShingles AS shingles
       |  FROM (SELECT doc_id, $duckNorm AS norm FROM documents)
       |), shingle AS (
       |  SELECT doc_id, CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) & 4294967295 AS base
       |  FROM (SELECT doc_id, unnest(shingles) AS sh FROM docs)
       |), mh AS (
       |  SELECT doc_id, r.range AS k,
       |    min((($aList)[r.range + 1] * base + ($bList)[r.range + 1]) % 2147483647) AS mh
       |  FROM shingle, range(0, $LshNumHashes) r GROUP BY doc_id, r.range
       |), sig AS MATERIALIZED (
       |  SELECT doc_id, list(mh ORDER BY k) AS sig FROM mh GROUP BY doc_id
       |), bands AS MATERIALIZED (
       |  SELECT doc_id, r.range AS band_idx,
       |    CAST(('0x'||substr(md5(array_to_string(list_transform(sig[r.range * $LshBandSize + 1 : r.range * $LshBandSize + $LshBandSize], x -> CAST(x AS VARCHAR)), ',')),1,15)) AS BIGINT) AS band_hash
       |  FROM sig, range(0, $LshBands) r
       |), keep AS (
       |  SELECT band_idx, band_hash FROM bands GROUP BY band_idx, band_hash
       |  HAVING count(*) BETWEEN 2 AND $LshMaxBucket
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN keep k ON a.band_idx = k.band_idx AND a.band_hash = k.band_hash
       |       JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |         AND a.doc_id < b.doc_id
       |)""".stripMargin
  }

  private def d3MinhashPairs(s: SparkSession, d: String): DataFrame =
    scoredPairs(s, d).orderBy("doc_a", "doc_b")

  private val d3Sql =
    s"""WITH $lshCandSqlCtes
       |SELECT c.doc_a, c.doc_b,
       |  CAST(len(list_filter(range(1, ${LshNumHashes + 1}), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / $LshNumHashes AS est_jaccard
       |FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a JOIN sig sb ON sb.doc_id = c.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------------
  // d4 — SimHash (60-bit): per-token hash bit votes, majority per bit, folded
  // into ONE aggregate pass by the [[graft.functions.SimHashAgg]] custom
  // aggregate (60-int vote buffer, map-side partial agg) — no per-bit explode.
  // 60 bits is the full entropy of the portable hash60 (15 md5 hex digits —
  // the widest prefix DuckDB casts to BIGINT without sign overflow); the
  // round-2 fingerprint was 32 bits, whose byte-bands made d7 quadratic.
  private def d4Simhash(s: SparkSession, d: String): DataFrame = {
    graft.functions.HashRegistry.register(s)
    Tables.documentsSpread(s, d)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .withColumn("h", expr("graft_hash60(tok)")) // JVM-native, not conv/BigInteger
      .groupBy("doc_id")
      .agg(expr("graft_simhash_agg(h)").as("simhash"))
      .withColumn("sim_bucket", expr(s"simhash >> ${SimhashWidth - 8}").cast(IntegerType))
      .orderBy("doc_id")
  }

  private val SimhashWidth = graft.functions.SimHashAgg.Width // 60

  private val d4Sql =
    s"""SELECT doc_id,
      |  CAST(sum(CASE WHEN votes > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash,
      |  CAST(CAST(sum(CASE WHEN votes > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) >> ${SimhashWidth - 8} AS INTEGER) AS sim_bucket
      |FROM (
      |  SELECT doc_id, r.range AS b, sum(CASE WHEN (h >> r.range) & 1 = 1 THEN 1 ELSE -1 END) AS votes
      |  FROM (
      |    SELECT doc_id, CAST(('0x'||substr(md5(t),1,15)) AS BIGINT) AS h
      |    FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t FROM documents)
      |  ), range(0, $SimhashWidth) r
      |  GROUP BY doc_id, r.range)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // d7 — SimHash hamming near-dup pairs: candidates from 4 x 15-bit bands of
  // the 60-bit fingerprint (pigeonhole: any pair with hamming <= 3 shares at
  // least one unchanged band), verified by bit_count(xor). Same bucket-join
  // shape as d3 — prune singleton/oversize buckets, distinct scalar pair keys.
  // The round-2 byte-bands had a 256-value key space, so unrelated docs
  // collided at p = 1/256 per band — expected candidates ~ 4 n^2 / 512,
  // quadratic with a small constant. 15-bit bands shrink the constant 128x
  // (p = 1/32768); with the bucket-size cap the candidate count stays ~linear
  // in corpus size for cluster-shaped dup distributions (pinned by spec).
  private def d7SimhashPairs(s: SparkSession, d: String): DataFrame = {
    val sims = d4Simhash(s, d).select("doc_id", "simhash").cache()
    simhashCandidates(sims)
      .where(col("hamming") <= 3)
      .orderBy("doc_a", "doc_b")
  }

  /** Distinct candidate (doc_a, doc_b, hamming) pairs from the 15-bit band
    * buckets of a (doc_id, simhash) frame — d7's blocking stage, exposed
    * package-private so the scale spec can pin its ~linear candidate growth
    * independently of the hamming verification filter.
    */
  private[operators] def simhashCandidates(sims: DataFrame): DataFrame = {
    val bands = sims.select(col("doc_id"), col("simhash"),
      posexplode(expr(s"transform(sequence(0, 3), b -> shiftright(simhash, b * $SimhashBandBits) & $SimhashBandMask)"))
        .as(Seq("band_idx", "band_key")))
    val keep = bands.groupBy("band_idx", "band_key").agg(count(lit(1)).as("bsz"))
      .where(col("bsz") >= 2 && col("bsz") <= SimhashMaxBucket)
      .select("band_idx", "band_key")
    // the broadcast hint is CORRECT here, unlike the MinHash keep-list
    // (lshBands) and the embedding whale count (embedCandidatePairs), both
    // deliberately un-broadcast: this key space is structurally bounded at
    // 4 bands x 2^15 band values = 131072 rows regardless of corpus size,
    // so the broadcast can never grow with the data
    val pruned = bands.join(broadcast(keep), Seq("band_idx", "band_key"))
    val a = pruned.as("a"); val b = pruned.as("b")
    a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .distinct()
  }

  private val SimhashMaxBucket = 64
  private val SimhashBandBits = 15  // 4 bands x 15 bits = the 60-bit fingerprint
  private val SimhashBandMask = (1 << SimhashBandBits) - 1

  private val d7Sql =
    s"""WITH sims AS MATERIALIZED (
       |  ${d4Sql.replace("ORDER BY doc_id", "")}
       |), bands AS MATERIALIZED (
       |  SELECT doc_id, simhash, r.range AS band_idx,
       |    (simhash >> (r.range * $SimhashBandBits)) & $SimhashBandMask AS band_key
       |  FROM sims, range(0, 4) r
       |), keep AS (
       |  SELECT band_idx, band_key FROM bands GROUP BY band_idx, band_key
       |  HAVING count(*) BETWEEN 2 AND $SimhashMaxBucket
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |  FROM bands a
       |       JOIN keep k ON a.band_idx = k.band_idx AND a.band_key = k.band_key
       |       JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |         AND a.doc_id < b.doc_id
       |)
       |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------------
  // d5 — token-3-gram Jaccard near-dup over LSH-blocked candidates: blocking
  // reuses d3's pruned band buckets (similarity-preserving — a near-dup pair
  // collides in >= 1 band wherever its doc_ids fall), then the exact Jaccard
  // verifies each candidate. LSH proposes, exact set math disposes.
  private def d5NgramJaccard(s: SparkSession, d: String): DataFrame = {
    graft.functions.HashRegistry.register(s)
    // set ops run over hashed grams (long equality), not strings — ~10x on
    // the intersect/union inner loops; both engines share the hash
    // fused tokenize+gram+hash expression (sorted distinct; <3 tokens ->
    // empty) — no token array or concatenated gram strings per row; sorted
    // arrays enable the merge-walk intersect below
    val grams = Tables.documentsSpread(s, d)
      .select(col("doc_id"), expr("graft_gram_hashes(text)").as("grams"))
    val pairs = lshPairsFor(s, d)
    val ga = grams.select(col("doc_id").as("doc_a"), col("grams").as("ga"))
    val gb = grams.select(col("doc_id").as("doc_b"), col("grams").as("gb"))
    // equi-joins on doc id — candidate side is small, AQE broadcasts it
    pairs.join(ga, "doc_a").join(gb, "doc_b")
      // merge-walk intersect on sorted distinct arrays; union by inclusion-
      // exclusion — same values as array_intersect/array_distinct(concat)
      .withColumn("inter", expr("graft_sorted_intersect(ga, gb)"))
      .withColumn("uni", expr("size(ga) + size(gb) - inter"))
      .withColumn("jaccard", col("inter").cast(DoubleType) / col("uni"))
      .where(col("uni") > 0 && col("jaccard") >= 0.03)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  private val d5Sql =
    s"""WITH $lshCandSqlCtes,
       |g AS MATERIALIZED (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) < 3 THEN [] ELSE
       |      list_distinct(list_transform(range(1, len(toks)-1),
       |        i -> CAST(('0x'||substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),1,15)) AS BIGINT))) END AS grams
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents)
       |)
       |SELECT c.doc_a, c.doc_b,
       |  len(list_intersect(a.grams, b.grams)) AS inter,
       |  len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS uni,
       |  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
       |    / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) AS jaccard
       |FROM cand c JOIN g a ON a.doc_id = c.doc_a JOIN g b ON b.doc_id = c.doc_b
       |WHERE len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) > 0
       |  AND CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
       |    / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.03
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------------
  // d6 — embedding-cosine near-dup, brute-force baseline (the ANN variant
  // lives in Similarity.s2). The pair scan runs through the blocked
  // [[BruteForce.cosinePairs]] kernel — the declarative crossJoin shape
  // (kept below as the parity reference) paid join row machinery per pair,
  // ~10x the arithmetic itself at the sf1 gate's 2e8 pairs.
  private def d6EmbedCosine(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    BruteForce.cosinePairs(e, 0.38)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_r"))
      .orderBy("id_a", "id_b")
  }

  /** The pre-kernel declarative formulation of d6, retained as the
    * arithmetic-parity reference: Round5OpsSpec asserts the kernel emits
    * the bit-identical pair set. Not registered as a query.
    */
  private[operators] def d6CrossJoinReference(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
      .cache()
    val a = e.select(col("vec_id").as("id_a"), col("v").as("ad"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("bd"), col("nrm").as("nb"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("cos", expr("graft_dot(ad, bd)") / (col("na") * col("nb")))
      .where(col("cos") >= 0.38)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_r"))
      .orderBy("id_a", "id_b")
  }

  private val d6Sql =
    """WITH ev AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_cosine_similarity(a.v, b.v), 6) AS cos_r
      |FROM ev a JOIN ev b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.v, b.v) >= 0.38
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------------------
  // d8 — embedding near-dup at scale: d6's exact cosine threshold, but over
  // LSH-blocked candidates instead of the all-pairs cross join — the same
  // multi-table corpus-scaled-key construction as s2 ([[Similarity.lshKeys]]:
  // planes = embeddings of fixed vec_ids, key width grows with log(n) so
  // buckets stay ~32 vectors at any corpus size). Pairs sharing a key in ANY
  // table get the exact cosine check. The cross join touches n^2/2 pairs;
  // this touches only co-keyed ones (~the strong pairs plus a bounded noise
  // floor), with the corpus shuffling once on (table, key).
  /** Skew guard for the LSH band self-join: buckets beyond this size are
    * excluded from pair generation. The corpus-scaled key width keeps the
    * MEAN bucket ~32, but a structured embedding distribution (e.g. a
    * lattice — see SimilaritySpec's adversarial note) can still put half
    * the corpus behind one key, and a whale bucket is quadratic in the
    * self-join. Dropping it loses at most that bucket's recall in ONE
    * table — the L-table union still probes the vector's other keys —
    * while the join's worst case becomes cap^2 x #buckets. Same discipline
    * as d3's 2..64 MinHash bucket cap.
    */
  private[operators] val LshBucketCap = 256

  /** Candidate pairs from an lshKeys frame with the whale-bucket guard
    * applied: a count over each (tbl, key) bucket drops oversized buckets,
    * and each kept bucket (at most LshBucketCap ids) lists its pairs.
    *
    * Nothing is broadcast (unlike [[simhashCandidates]]' keep-list, whose
    * key space is bounded at 4 x 2^15 buckets): the whale list's worst case
    * is n/cap keys — LINEAR in the corpus (~4M keys / ~60 MB at 1B vectors,
    * GBs beyond), the same unbounded-keep-list reasoning that un-broadcast
    * the MinHash keep list in [[lshBands]]. The count is a window over the
    * one (tbl, key) shuffle, and the pairs come from the bucket lists, so
    * the keyed frame is computed once. An anti-join against a grouped whale
    * list plus a self-join would compute it twice and leave AQE a race: it
    * re-plans the anti-join once the whale list is known and keeps any
    * keyed-side (tbl, key) shuffle that already ran, so d8's live shuffle
    * count would vary from run to run.
    */
  private[operators] def embedCandidatePairs(keyed: DataFrame): DataFrame = {
    val buckets = keyed.withColumn("bsz", count(lit(1)).over(Window.partitionBy("tbl", "key")))
      .where(col("bsz") <= LshBucketCap)
      .groupBy("tbl", "key").agg(collect_list("vec_id").as("ids"))
    buckets.select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(filter(col("ids"), _ > col("id_a"))).as("id_b"))
      .distinct()
  }

  private def d8EmbedLshDedup(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
      .cache()
    val cand = embedCandidatePairs(Similarity.lshKeys(e))
    val va = e.select(col("vec_id").as("id_a"), col("v").as("ad"), col("nrm").as("na"))
    val vb = e.select(col("vec_id").as("id_b"), col("v").as("bd"), col("nrm").as("nb"))
    cand.join(va, "id_a").join(vb, "id_b")
      .withColumn("cos", expr("graft_dot(ad, bd)") / (col("na") * col("nb")))
      .where(col("cos") >= 0.38)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_r"))
      .orderBy("id_a", "id_b")
  }

  private val d8Sql =
    s"""WITH ${Similarity.lshKeysSqlCtes},
      |whales AS (
      |  SELECT tbl, key FROM keyed GROUP BY tbl, key HAVING count(*) > $LshBucketCap
      |), pruned AS MATERIALIZED (
      |  SELECT k.* FROM keyed k LEFT JOIN whales w ON k.tbl = w.tbl AND k.key = w.key
      |  WHERE w.tbl IS NULL
      |), cand AS (
      |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM pruned a JOIN pruned b ON a.tbl = b.tbl AND a.key = b.key AND a.vec_id < b.vec_id
      |)
      |SELECT id_a, id_b, round(list_cosine_similarity(x.v, y.v), 6) AS cos_r
      |FROM cand JOIN ev x ON x.vec_id = id_a JOIN ev y ON y.vec_id = id_b
      |WHERE list_cosine_similarity(x.v, y.v) >= 0.38
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------------------
  // d9 — dedup groups: connected components over the near-dup pair graph
  // (d3's candidates at est_jaccard >= 0.7), the canonical LAST step of
  // fuzzy dedup — pairs alone don't decide anything; the keeper of each
  // component (min doc_id) does. Spark side: iterative min-label
  // propagation to a fixed point (the standard distributed CC; each round
  // is one join + map-side-combinable min-agg, rounds ~ component
  // diameter, which LSH dup-clusters keep tiny). Oracle: DuckDB computes
  // the exact transitive closure with WITH RECURSIVE — an independent
  // formulation of the same fixed point.
  private def d9DedupGroups(s: SparkSession, d: String): DataFrame =
    componentLabels(s, d).select("doc_id", "component", "kept").orderBy("doc_id")

  /** The (doc_id, component, kept, quality, canonical) frame behind d9 AND
    * c2, memoized per (session, dir) like the trained Similarity artifacts:
    * component labels are fit-once-serve-many state, and a production
    * pipeline materializes the component map ONCE per snapshot together
    * with its selection metadata — `kept` (d9's min-id keeper), t5's
    * row-local quality, and `canonical` (c2's best-quality keeper, min-id
    * tiebreak; trivially true for singleton components). Folding quality
    * and canonical into the one corpus-side assembly join means c2 and
    * `api.Curation` consume a plain cached scan instead of re-running a
    * corpus-sized groupBy + membership join per query.
    */
  private[graft] def componentLabels(s: SparkSession, d: String): DataFrame =
    ArtifactCache.getOrElseUpdate("d9_components", s, d) {
      val labels = dupLabels(s, d).select("doc_id", "label")
      InputScale.withSmallBuild(s, InputScale.smallDocs(s, d)) {
      val quality = TextOps.qualityFrame(s, d).select("doc_id", "quality")
      // canonical = argmax(quality, min-doc_id tiebreak) per component via a
      // partial-aggregated max_by over the DUP SUBGRAPH ONLY (labels covers
      // exactly the edge-touched docs — singleton components need no vote):
      // at web scale exact-boilerplate components have millions of members,
      // and max_by collapses them to one running champion per map task
      // instead of buffering a window partition. (-doc_id in the ordering
      // struct turns max_by's max into the min-id tiebreak.)
      val best = labels.join(quality, "doc_id")
        .groupBy("label")
        .agg(max_by(col("doc_id"), struct(col("quality"), negate(col("doc_id"))))
          .as("best_doc"))
      val enriched = labels.join(best, Seq("label"), "left")
      // one corpus-side pass: quality is row-local arithmetic in the same
      // documents scan; enriched is dup-subgraph-sized (broadcast at bench
      // SFs, a doc_id shuffle join at scale)
      val out = quality.join(enriched, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("component"),
          (col("doc_id") === coalesce(col("label"), col("doc_id"))).as("kept"),
          col("quality"),
          coalesce(col("doc_id") === col("best_doc"), lit(true)).as("canonical"))
        .cache()
      out.count() // populate eagerly — concurrent first readers must not race
      out
      }
    }

  /** The converged (doc_id, label) frame for EDGE-TOUCHED docs only — the
    * min-label-propagation fixed point over the est>=0.7 dup graph. Memoized
    * separately from [[componentLabels]] so the loop's final cached round
    * (which IS this artifact's backing frame) has its own lifecycle.
    */
  private[graft] def dupLabels(s: SparkSession, d: String): DataFrame =
    ArtifactCache.getOrElseUpdate("d9_dupLabels", s, d) {
      val pairs = scoredPairs(s, d)
      InputScale.withSmallBuild(s, InputScale.smallDocs(s, d)) { dupLabelsBuild(pairs) }
    }

  private def dupLabelsBuild(pairs: DataFrame): DataFrame = {
    // edge set = the shared scored-pair artifact at the 0.7 threshold; both
    // union branches are in-memory scans of the cached artifact, so no
    // per-query cache layer of its own (round-7: two fewer eager
    // materializations in the c2-first artifact build)
    val dupPairs = pairs
      .where(col("est_jaccard") >= 0.7)
      .select("doc_a", "doc_b")
    val edges = dupPairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(dupPairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // only vertices that appear in an edge can ever change label — iterate
    // over those (the dup subgraph, tiny relative to the corpus); everyone
    // else is trivially their own component and joins back at the end.
    // Seeding with min(self, direct neighbors) fuses the first propagation
    // round into a join-free aggregate — pair components converge without
    // entering the loop's join at all
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .select(col("src").as("doc_id"), least(col("src"), col("mn")).as("label"))
      .cache()
    var cached = labels // persisted frame backing `labels`, for unpersist
    var changed = 1L
    var round = 0
    while (changed > 0) {
      round += 1
      // convergence detection is FUSED into the propagation agg: each
      // vertex's old label rides along as min(prev) (the self row carries
      // it; propagated rows carry +inf), so ONE cached frame yields both
      // the new labels and the changed count — no next-vs-prev rejoin.
      // Labels only ever decrease, so changed = (label < prev).
      val prop = edges.join(labels, edges("dst") === labels("doc_id"))
        .select(col("src").as("doc_id"), col("label"), lit(Long.MaxValue).as("prev"))
      val next = labels.select(col("doc_id"), col("label"), col("label").as("prev"))
        .union(prop)
        .groupBy("doc_id").agg(min("label").as("label"), min("prev").as("prev"))
      // chain-shaped components make rounds ~ diameter: localCheckpoint
      // every 5 rounds truncates the growing iteration lineage (cache alone
      // keeps the full plan; a cache eviction at scale would re-derive every
      // prior round)
      val nextC = if (round % 5 == 0) next.localCheckpoint() else next.cache()
      changed = nextC.where(col("label") < col("prev")).count()
      System.err.println(s"[d9] round $round changed=$changed")
      cached.unpersist() // superseded round — don't pin k label frames
      cached = nextC
      labels = nextC.select("doc_id", "label")
    }
    // the final round's cached frame (already materialized by its changed
    // count) IS the artifact — no extra cache layer or eager count needed
    cached
  }

  /** d9's oracle CTE chain through `reach` (the recursive transitive
    * closure) — shared with c2's canonical-selection oracle. Must be used
    * under WITH RECURSIVE.
    */
  private[operators] val d9CompSqlCtes: String =
    s"""$lshCandSqlCtes,
       |dup AS MATERIALIZED (
       |  SELECT c.doc_a, c.doc_b
       |  FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a JOIN sig sb ON sb.doc_id = c.doc_b
       |  WHERE CAST(len(list_filter(range(1, ${LshNumHashes + 1}), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / $LshNumHashes >= 0.7
       |), edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM dup
       |  UNION SELECT doc_b, doc_a FROM dup
       |), reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |)""".stripMargin

  private[operators] val d9Sql =
    s"""WITH RECURSIVE $d9CompSqlCtes
       |SELECT src AS doc_id, min(dst) AS component, src = min(dst) AS kept
       |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // d10 — benchmark decontamination: flag training documents that share any
  // 8-token shingle with a held-out eval set (the n-gram-overlap test every
  // serious LLM data pipeline runs before training — e.g. GPT-3 appendix C's
  // 13-gram check, scaled to this corpus's 30–100-token docs). The eval set
  // here is the deterministic pseudo-benchmark doc_id % 100 = 0. THE SCALE
  // SHAPE IS THE POINT: benchmarks are tiny and fixed, so the eval side's
  // distinct shingle hashes BROADCAST; the 100 TB train side streams through
  // one hash-explode + broadcast semi-match and aggregates per doc — the
  // corpus never shuffles on shingles, and text never leaves the scan (only
  // 8-byte hashes explode).
  private[graft] val DecontamN = 8

  /** Exploded (doc_id, sh) token-8-gram hashes; docs shorter than 8 tokens
    * contribute their full-token shingle (greatest(..,1) — same clamp as the
    * d2/d5 char shingles). Shared with the c1 curation composite.
    */
  private[graft] def tokenShingles(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", split(expr(normExpr), " "))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, greatest(size(toks) - ${DecontamN - 1}, 1)), " +
          s"i -> md5(array_join(slice(toks, i, $DecontamN), ' ')))")).as("sh"))

  private def d10Decontaminate(s: SparkSession, d: String): DataFrame = {
    // ONE shingle-hash pass (cached) feeds both sides — the md5-per-shingle
    // explode is the query's dominant cost, and the eval/train split is a
    // cheap filter over it (mirrors the oracle's single sh CTE)
    val sh = tokenShingles(Tables.documents(s, d)).cache()
    val evalSh = sh.where(col("doc_id") % 100 === 0).select(col("sh")).distinct()
    val train = sh.where(col("doc_id") % 100 =!= 0)
    train.join(broadcast(evalSh), "sh")
      .groupBy("doc_id")
      .agg(countDistinct(col("sh")).as("n_shared"))
      .orderBy("doc_id")
  }

  private val d10Sql =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split($duckNorm, ' ') AS toks FROM documents
       |), sh AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, greatest(len(toks) - ${DecontamN - 1}, 1) + 1),
       |    i -> md5(array_to_string(list_slice(toks, i, i + ${DecontamN - 1}), ' ')))) AS sh
       |  FROM toks
       |), eval_sh AS (
       |  SELECT DISTINCT sh FROM sh WHERE doc_id % 100 = 0
       |)
       |SELECT s.doc_id, count(DISTINCT s.sh) AS n_shared
       |FROM sh s JOIN eval_sh e USING (sh)
       |WHERE s.doc_id % 100 <> 0
       |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // d11 — duplicated-span coverage: the exact-substring (span-level) dedup
  // measure of Lee et al. 2022, "Deduplicating Training Data Makes Language
  // Models Better" (arXiv:2107.06499), adapted from suffix arrays to a
  // shuffle-bounded Spark shape. A 5-token gram that occurs >= 2 times
  // ANYWHERE in the corpus marks its 5 positions as duplicated; per document
  // we report the number of duplicated grams and the size of the UNION of
  // their [pos, pos+4] extents (merged via a lag-window: each gram past the
  // first contributes min(5, gap to its predecessor)), plus the covered
  // token fraction. Doc-level dedup (d1-d9) misses exactly this: boilerplate
  // spans pasted into otherwise-unique documents.
  //
  // Scale: tokens T in the corpus -> ~T grams; duplication status via a
  // partial-aggregated per-gram count + streamed shuffle-hash membership
  // join (whale-gram-safe: no windowed buffering of a hot key, no sort of
  // the gram stream, no gram dictionary on the driver), span merge via ONE
  // doc-keyed window the final aggregation reuses. 4 linear shuffles (one
  // of them the collapsed partial counts), no all-pairs surface anywhere.
  private[graft] val SpanN = 5

  /** Frame-level core of d11 (doc_id, n_toks, dup_grams, covered_toks,
    * dup_frac — unordered; docs without duplicated spans are absent).
    * [[graft.api.Curation]] composes it as the span-coverage gate.
    */
  private[graft] def dupSpanStats(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    graft.functions.HashRegistry.register(s)
    // gram key = portable 60-bit hash (graft_hash60 == DuckDB's md5-prefix
    // cast): an 8-byte long through the gh shuffle instead of a 32-char md5
    // string — measured 252 -> 107 MB shuffle, 10.7 -> 3.3 s at the 100x
    // docs probe (identical output rows; oracle unchanged)
    val grams = docs
      .withColumn("toks", split(expr(normExpr), " "))
      .withColumn("n_toks", size(col("toks")).cast(LongType))
      .where(col("n_toks") >= SpanN)
      .select(col("doc_id"), col("n_toks"), posexplode(expr(
        s"transform(sequence(1, size(toks) - ${SpanN - 1}), " +
          s"i -> graft_hash60(array_join(slice(toks, i, $SpanN), ' ')))")))
      .select(col("doc_id"), col("n_toks"), (col("pos") + 1).as("pos"), col("col").as("gh"))
    // duplication status via partial-aggregated groupBy + streamed equi-join,
    // NOT a count-over-gh window: a whale gram (boilerplate in 10% of a
    // 100 TB corpus) would land every occurrence in ONE sorted window
    // partition (straggler + spill), while the aggregate collapses its count
    // map-side and the join streams the hot key through against a 1-row
    // build side. Same single big-stream shuffle either way.
    val dupGrams = grams.groupBy("gh").agg(count(lit(1)).as("occ"))
      .where(col("occ") >= 2).select("gh")
    // shuffle-hash, not sort-merge: SMJ would re-sort the full gram stream;
    // hashing the (distinct, filtered) dup-gram side streams it instead
    val dupPos = grams.join(dupGrams.hint("shuffle_hash"), "gh")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dupPos
      .select(col("doc_id"), col("n_toks"), col("pos"))
      .withColumn("prev", lag("pos", 1).over(w))
      // first gram covers SpanN tokens; each successor adds min(SpanN, gap)
      .withColumn("contrib", least(lit(SpanN), col("pos") - coalesce(col("prev"), col("pos") - SpanN)))
      .groupBy("doc_id", "n_toks")
      .agg(count(lit(1)).as("dup_grams"), sum("contrib").as("covered_toks"))
      // single IEEE division of two exact integers — bit-identical in DuckDB
      .withColumn("dup_frac", col("covered_toks").cast(DoubleType) / col("n_toks"))
      .select("doc_id", "n_toks", "dup_grams", "covered_toks", "dup_frac")
  }

  private def d11DupSpans(s: SparkSession, d: String): DataFrame =
    dupSpanStats(Tables.documentsSpread(s, d)).orderBy("doc_id")

  private[operators] val d11Sql =
    s"""WITH g AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
       |         unnest(range(1, len(toks) - ${SpanN - 2})) AS pos,
       |         unnest(list_transform(range(1, len(toks) - ${SpanN - 2}),
       |           i -> CAST(('0x' || substr(md5(array_to_string(list_slice(toks, i, i + ${SpanN - 1}), ' ')),1,15)) AS BIGINT))) AS gh
       |  FROM (SELECT doc_id, string_split($duckNorm, ' ') AS toks FROM documents)
       |  WHERE len(toks) >= $SpanN
       |), dp AS (
       |  SELECT doc_id, n_toks, pos
       |  FROM (SELECT doc_id, n_toks, pos, count(*) OVER (PARTITION BY gh) AS occ FROM g)
       |  WHERE occ >= 2
       |), c AS (
       |  SELECT doc_id, n_toks, pos,
       |         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |  FROM dp
       |)
       |SELECT doc_id, n_toks, count(*) AS dup_grams,
       |       CAST(sum(least($SpanN, pos - coalesce(prev, pos - $SpanN))) AS BIGINT) AS covered_toks,
       |       CAST(CAST(sum(least($SpanN, pos - coalesce(prev, pos - $SpanN))) AS BIGINT) AS DOUBLE)
       |         / n_toks AS dup_frac
       |FROM c GROUP BY doc_id, n_toks ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // d12 — incremental-ingest dedup: the production shape where a NEW crawl
  // batch (here: doc_id % 5 = 4, a deterministic 20% slice) is deduped
  // against the EXISTING corpus before admission — new-vs-new and
  // old-vs-old pairs are out of scope (the standing corpus was already
  // deduped by d9; intra-batch dups fall to the next snapshot's d9). Rides
  // the memoized lshSigs/lshPairs artifacts: candidate pairs are the shared
  // banded-LSH buckets filtered to mixed (new, old) membership, est_jaccard
  // is d3's signature agreement (k/64 — exactly representable, so the
  // best-match equality join is engine-exact), and the verdict applies d9's
  // 0.7 edge threshold. Per new doc: candidate count, best-est match
  // (ties -> min old doc_id via a max-then-min two-step, identical in both
  // engines), and the admit/reject flag; batch docs with no collision
  // surface via the left join with zero candidates. At scale only
  // (doc_new, doc_old, est) scalars move after the shared band join, keyed
  // by doc_new — and in steady production the old side's signatures are a
  // precomputed snapshot artifact, exactly how the ArtifactCache serves
  // them here.
  /** Frame core of d12 (unordered): admission verdicts for the new batch
    * `doc_id % modulus = residue` against the standing corpus. Shared with
    * [[graft.api.Curation]]'s `admitBatch` stage so the API verdicts cannot
    * drift from the oracled query surface.
    */
  private[graft] def incrementalVerdicts(s: SparkSession, d: String,
      modulus: Long, residue: Long): DataFrame = {
    def isNew(c: org.apache.spark.sql.Column) = c % modulus === residue
    // mixed-membership filter + orientation over the shared scored-pair
    // artifact — the signature agreement is already materialized there, so
    // both scans below (best-est aggregate + tie-break re-join) are
    // in-memory scans of the cached artifact
    val est = scoredPairs(s, d)
      .where(isNew(col("doc_a")) =!= isNew(col("doc_b")))
      .select(
        when(isNew(col("doc_a")), col("doc_a")).otherwise(col("doc_b")).as("doc_new"),
        when(isNew(col("doc_a")), col("doc_b")).otherwise(col("doc_a")).as("doc_old"),
        col("est_jaccard").as("est"))
    val best = est.groupBy("doc_new")
      .agg(count(lit(1)).as("n_cand"), max(col("est")).as("best_est"))
    val pick = est.join(best.select(col("doc_new"), col("best_est")), "doc_new")
      .where(col("est") === col("best_est"))
      .groupBy("doc_new").agg(min(col("doc_old")).as("best_old"))
    Tables.documents(s, d).where(isNew(col("doc_id")))
      .select(col("doc_id").as("doc_new"))
      .join(best, Seq("doc_new"), "left")
      .join(pick, Seq("doc_new"), "left")
      .select(col("doc_new"), coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        col("best_old"), col("best_est"),
        when(col("best_est") >= 0.7, 1).otherwise(0).as("is_dup"))
  }

  private def d12Incremental(s: SparkSession, d: String): DataFrame =
    incrementalVerdicts(s, d, 5L, 4L).orderBy("doc_new")

  private val d12Sql =
    s"""WITH $lshCandSqlCtes,
       |est AS MATERIALIZED (
       |  SELECT CASE WHEN c.doc_a % 5 = 4 THEN c.doc_a ELSE c.doc_b END AS doc_new,
       |    CASE WHEN c.doc_a % 5 = 4 THEN c.doc_b ELSE c.doc_a END AS doc_old,
       |    CAST(len(list_filter(range(1, ${LshNumHashes + 1}), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / $LshNumHashes AS est
       |  FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a JOIN sig sb ON sb.doc_id = c.doc_b
       |  WHERE (c.doc_a % 5 = 4) <> (c.doc_b % 5 = 4)
       |), best AS (
       |  SELECT doc_new, count(*) AS n_cand, max(est) AS best_est FROM est GROUP BY doc_new
       |), pick AS (
       |  SELECT e.doc_new, min(e.doc_old) AS best_old
       |  FROM est e JOIN best b ON e.doc_new = b.doc_new AND e.est = b.best_est
       |  GROUP BY e.doc_new
       |)
       |SELECT n.doc_id AS doc_new, coalesce(b.n_cand, 0) AS n_cand, p.best_old, b.best_est,
       |  CASE WHEN b.best_est >= 0.7 THEN 1 ELSE 0 END AS is_dup
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 4) n
       |LEFT JOIN best b ON b.doc_new = n.doc_id
       |LEFT JOIN pick p ON p.doc_new = n.doc_id
       |ORDER BY doc_new""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d12_incremental"   -> d12Incremental _,
    "d11_dup_spans"     -> d11DupSpans _,
    "d1_exact_dedup"    -> d1Exact _,
    "d10_decontaminate" -> d10Decontaminate _,
    "d2_minhash_sigs"   -> d2Minhash _,
    "d3_minhash_pairs"  -> d3MinhashPairs _,
    "d4_simhash"        -> d4Simhash _,
    "d5_ngram_jaccard"  -> d5NgramJaccard _,
    "d6_embed_cosine"   -> d6EmbedCosine _,
    "d7_simhash_pairs"  -> d7SimhashPairs _,
    "d8_embed_lsh_dedup" -> d8EmbedLshDedup _,
    "d9_dedup_groups"   -> d9DedupGroups _)

  val oracles: Map[String, String] = Map(
    "d12_incremental"   -> d12Sql,
    "d1_exact_dedup"    -> d1Sql,
    "d10_decontaminate" -> d10Sql,
    "d11_dup_spans"     -> d11Sql,
    "d2_minhash_sigs"   -> d2Sql,
    "d3_minhash_pairs"  -> d3Sql,
    "d4_simhash"        -> d4Sql,
    "d5_ngram_jaccard"  -> d5Sql,
    "d6_embed_cosine"   -> d6Sql,
    "d7_simhash_pairs"  -> d7Sql,
    "d8_embed_lsh_dedup" -> d8Sql,
    "d9_dedup_groups"   -> d9Sql)
}
