package graft.tools

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.RadolanRender
import graft.operators.ArtifactCache
import Probe.{fixtureOnce, secs}

/** Scale probes: each mode synthesizes (or reads) an input well above the
  * verify corpus, drives the public query surface or the flagship over it,
  * prints one `{"probe":…}` summary line and `require`s its invariants.
  * Measuring goes through [[Probe]].
  *
  * Usage: `runMain graft.tools.ScaleProbe [mode] [args…]`; the default mode
  * is `full`. Modes and their arguments (defaults in brackets):
  *  - `full [nBasins=100000] [nTimesteps=240]` — the flagship `RadoHydro.run`
  *    on rendered 900x900 RADOLAN archives and pentagon basins;
  *  - `embed [n=200000]` — d8/s3/e2/s5/s7 over n synthetic 64-dim vectors;
  *  - `docs [n=50000]` — the text-dedup family over n synthetic documents;
  *  - `graph [nOrders=1500000]` — n1/n2 PageRank, convergence and gate parity;
  *  - `skew [nRows=6000000]` — a8/j8 salting over one 50% whale key;
  *  - `spans [nDocs=200000]` — d11 with one whale gram in half the corpus;
  *  - `bpe [nWords=2000000] [totalMerges=10] [batch=1]` — t19 driver vs
  *    distributed merge-table parity;
  *  - `csv [nBasins=100000] [nTimesteps=48]` — the scalable per-basin CSV sink;
  *  - `admit [nStanding=1000000] [nFeed=200000] [slices=8]` — streaming
  *    admission across a stop and restart;
  *  - `curstream [nStanding=1000000] [nFeed=200000] [slices=8]` — the
  *    composed curation stream across a stop and restart;
  *  - `curation [dir=/root/testdata/sf0.01]` — `Curation.run` with every stage;
  *  - `diffv [dir=/root/testdata/sf0.01]` — in-engine differential twins;
  *  - `graphbuild <dir> <outDir> [buckets=64]` — bucketed pair artifact;
  *  - `graphedges <dir> <outDir> [buckets=256] [phase=all]` — bucketed edge artifact;
  *  - `dedupbands <dir> <outDir> [buckets=64]` — bucketed LSH band artifact;
  *  - `rankdump <dir> <outDir>` then `rankcmp <dir> <dumpDir>` — the graph
  *    twin compare in two processes;
  *  - `compdump <dir> <outDir>` then `compcmp <dir> <dumpDir>` — the d9-chain
  *    twin compare in two processes;
  *  - `repack <inDir> <outDir>` — re-encode a parquet directory with zstd.
  */
object ScaleProbe {

  private def int(args: Array[String], i: Int, default: Int): Int =
    if (args.length > i) args(i).toInt else default

  private val modes: Map[String, Array[String] => Unit] = Map(
    "full" -> (a => runFull(int(a, 1, 100000), int(a, 2, 240))),
    "embed" -> (a => runEmbed(int(a, 1, 200000))),
    "docs" -> (a => runDocs(int(a, 1, 50000))),
    "graph" -> (a => runGraph(int(a, 1, 1500000))),
    "skew" -> (a => runSkew(int(a, 1, 6000000))),
    "spans" -> (a => runSpans(int(a, 1, 200000))),
    "bpe" -> (a => runBpe(int(a, 1, 2000000), int(a, 2, 10), int(a, 3, 1))),
    "csv" -> (a => runCsv(int(a, 1, 100000), int(a, 2, 48))),
    "admit" -> (a => runAdmit(int(a, 1, 1000000), int(a, 2, 200000), int(a, 3, 8))),
    "curstream" -> (a => runCurStream(int(a, 1, 1000000), int(a, 2, 200000), int(a, 3, 8))),
    "curation" -> (a => runCuration(a.lift(1).getOrElse("/root/testdata/sf0.01"))),
    "diffv" -> (a => runDiffVerify(a.lift(1).getOrElse("/root/testdata/sf0.01"))),
    "graphbuild" -> (a => runGraphBuild(a(1), a(2), int(a, 3, 64))),
    "graphedges" -> (a => runGraphEdges(a(1), a(2), int(a, 3, 256), a.lift(4).getOrElse("all"))),
    "dedupbands" -> (a => runDedupBands(a(1), a(2), int(a, 3, 64))),
    "rankdump" -> (a => runRankDump(a(1), a(2))),
    "rankcmp" -> (a => runRankCmp(a(1), a(2))),
    "compdump" -> (a => runCompDump(a(1), a(2))),
    "compcmp" -> (a => runCompCmp(a(1), a(2))),
    "repack" -> (a => runRepack(a(1), a(2))))

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("full")
    val run = modes.getOrElse(mode, throw new IllegalArgumentException(
      s"unknown mode '$mode'; modes: ${modes.keys.toSeq.sorted.mkString(", ")}"))
    run(args)
  }

  // Probe loops run hundreds of shuffle-producing rounds in one JVM — the
  // long-drive mode (GC sweep + zstd) applies in full; probes pin 32
  // shuffle partitions regardless of core count.
  private def session(): SparkSession = LongDrive.session(LongDrive.LongRun, "8", _ => "32")

  /** Times each named query through [[Probe.query]], counts its rows, and
    * returns the `"name":{"sec":…,"rows":…}` summary members.
    */
  private def timeQueries(spark: SparkSession, meter: Probe.Meter, dir: String, tag: String,
      names: Seq[String]): String =
    names.map { name =>
      val r = Probe.query(spark, meter, dir, name, tag)
      s""""$name":{"sec":${r.sec},"rows":${r.df.count()}}"""
    }.mkString(",")

  private def diffJson(d: Probe.RowDiff): String =
    s""""rows_alt":${d.rowsA},"rows_shipped":${d.rowsB},"only_alt":${d.onlyA},"only_shipped":${d.onlyB},"match":${d.matched}"""

  // ---------------------------------------------------------------------------
  // `embed` — EMBEDDING OPERATORS AT 100-400x the verify corpus: synthesizes
  // n 64-dim vectors (xxhash64-mixed, deterministic — a different generator
  // than SimilaritySpec's splitmix64 vector fixture), writes them as a
  // standalone embeddings.parquet, and drives the PUBLIC query surface —
  // d8 (corpus-scaled-key LSH dedup + whale cap), s3/e2 (trained sqrt-n IVF
  // quantizer with sampled training, shared ranking cache), s5 (PQ) —
  // reporting per-query wall time and shuffle bytes. This is the direct
  // evidence for the round-3 scale mechanisms: at n=200k the LSH key space
  // is 13 bits (8192 buckets/table), the quantizer trains k=448 cells on a
  // rate-2 hash-sample, and the IVF ranking cache holds 2n rows (not n x k).
  private def runEmbed(n: Int): Unit = {
    val spark = session()
    val dir = s"/tmp/graft_scaleprobe_embed_$n"
    fixtureOnce(dir) {
      // xxhash64-mixed per (vec_id, dim): the SIGNED residue of `% 1000000`
      // gives near-uniform values in (-1, 1), and the mixer can't hit
      // Spark 4's ANSI long-overflow guard
      spark.range(n).select(col("id").as("vec_id"),
          expr("""transform(sequence(0, 63), d ->
            | CAST(xxhash64(id, d) % 1000000 AS DOUBLE) / 1000000.0
            |)""".stripMargin).cast("array<float>").as("embedding"),
          (col("id") % 10).cast("int").as("label"))
        .coalesce(8)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    val meter = Probe.meter(spark)
    val parts = timeQueries(spark, meter, dir, "embed-probe", Seq("d8_embed_lsh_dedup", "s3_ivf_ann",
      "e2_semdedup", "s5_pq_adc", "s7_ivfpq_ann"))
    println(s"""{"probe":"embed_scale","n":$n,"shuffle_total_mb":${meter.counts.shuffleBytes / 1e6},$parts}""")
  }

  // ---------------------------------------------------------------------------
  // `docs` — TEXT-DEDUP FAMILY AT 100x the verify corpus: synthesizes n
  // documents (30-100 tokens from a 40-word vocabulary, xxhash64-mixed;
  // every 50th document is a near-clone of its predecessor — one appended
  // token — so the MinHash/SimHash blockers and the connected-components
  // closure all have real work) and drives the public d3/d7/d9/t8/t9
  // queries, reporting wall time and shuffle bytes per query.
  private def runDocs(n: Int): Unit = {
    val spark = session()
    val dir = s"/tmp/graft_scaleprobe_docs_$n"
    fixtureOnce(dir) {
      val vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
        "hash", "merge", "batch", "spark", "window", "order", "data", "column", "join",
        "small", "line", "customer", "query", "big", "group", "sort", "stream", "filter",
        "the", "a", "of", "and", "to", "in", "view", "click", "error", "plan", "cache",
        "shuffle", "stage").map(w => s"'$w'").mkString("array(", ", ", ")")
      spark.range(n).select(col("id").as("doc_id"),
          expr(s"""concat(
            | array_join(transform(sequence(1, 30 + CAST(pmod(xxhash64(CASE WHEN id % 50 = 1 THEN id - 1 ELSE id END), 70) AS INT)),
            |   w -> element_at($vocab, 1 + CAST(pmod(xxhash64(CASE WHEN id % 50 = 1 THEN id - 1 ELSE id END, w), 40) AS INT))), ' '),
            | CASE WHEN id % 50 = 1 THEN ' xtra' ELSE '' END)""".stripMargin).as("text"),
          expr("element_at(array('en','de','es'), 1 + CAST(id % 3 AS INT))").as("lang"),
          lit("synth").as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .coalesce(8)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
    val meter = Probe.meter(spark)
    // round-4 additions ride along: decontamination (eval docs are ids
    // % 100 = 0, and every id = 1 mod 100 is a near-clone of one — real
    // shared-shingle work), feature hashing, and the c1 composite
    val parts = timeQueries(spark, meter, dir, "docs-probe", Seq("d3_minhash_pairs", "d7_simhash_pairs",
      "d9_dedup_groups", "t8_gopher_repetition", "t9_tfidf",
      "d10_decontaminate", "t10_feature_hash", "c1_curation_pipeline",
      "c2_canonical_keep", "t11_temp_sample", "d11_dup_spans"))
    println(s"""{"probe":"docs_scale","n":$n,"shuffle_total_mb":${meter.counts.shuffleBytes / 1e6},$parts}""")
  }

  // ---------------------------------------------------------------------------
  // `graph` — TRANSACTION GRAPH AT 10x the bench SF: synthesizes nOrders
  // orders x 4 lineitems (~8x bidirected edges after pair-dedup) over a
  // sqrt(|edges|)-sized node population — the bipartite shape n1/n2 assume —
  // and drives the PUBLIC PageRank queries, reporting wall and shuffle bytes.
  // The claim under test: per-iteration cost is one map-side-combined
  // shuffle of node-sized frames; edges scan from cache, never reshuffle.
  private def runGraph(nOrders: Int): Unit = {
    val spark = session()
    val dir = s"/tmp/graft_scaleprobe_graph_$nOrders"
    fixtureOnce(dir) {
      val nCust = math.max(64, math.sqrt(nOrders.toDouble).toInt)
      val nSupp = nCust
      spark.range(nOrders).select(col("id").as("o_orderkey"),
          expr(s"1 + pmod(xxhash64(id, 1), $nCust)").as("o_custkey"))
        .coalesce(8).write.mode("overwrite").parquet(s"$dir/orders.parquet")
      spark.range(nOrders).select(col("id"),
          explode(expr("sequence(0, 3)")).as("ln"))
        .select(col("id").as("l_orderkey"),
          expr(s"1 + pmod(xxhash64(id, ln + 2), $nSupp)").as("l_suppkey"),
          // revenue weight for n2: deterministic 2-decimal price
          expr("CAST(pmod(xxhash64(id, ln + 11), 99000) + 1000 AS DOUBLE) / 100.0").as("l_extendedprice"))
        .coalesce(8).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    }
    val meter = Probe.meter(spark)
    val parts = timeQueries(spark, meter, dir, "graph-probe", Seq("n1_pagerank", "n2_weighted_pagerank"))
    // the volume-derived partition count (no fixed ceiling: grows past 8
    // once the bidirected edge list clears 8M rows)
    val edgeParts = graft.operators.GraphOps.probeEdgePartitions(spark, dir)
    // convergence-driven twin at the same 10x edges: rounds-to-eps and
    // per-round wall (round-6 advisory #8 — the fused delta check makes each
    // round ONE materializing job; this records what 10^-9 relative
    // convergence actually costs at scale)
    val (iters, convSec) = secs {
      val (conv, iters) = graft.operators.GraphOps.pageRankConverged(spark, dir)
      LongDrive.noop(conv)
      iters
    }
    println(f"[graph-probe] pageRankConverged iters=$iters sec=$convSec%.1f per_round=${convSec / math.max(1, iters)}%.3f")
    // Broadcast-overflow gate parity AT PROBE SCALE: force the shuffle-join
    // rank rounds with a node floor of 1 (as GraphShuffleGateSpec does),
    // which builds the thin edge layout beside the fat one, and require
    // bit-identical whole rank frames from both modes for both PageRank
    // variants. This is the scale-mode evidence the spec's sf0.001 fixture
    // can't give: a 10x-bench edge list meeting the node-sized rank shuffle.
    import graft.operators.GraphOps
    def ranks(nodeFloor: Long) =
      Seq(GraphOps.n1RankFrame(spark, dir, nodeFloor), GraphOps.n2RankFrame(spark, dir, nodeFloor))
        .map(_.orderBy("node").collect().toSeq)
    val bcast = ranks(GraphOps.BroadcastFloorNodes)
    val (shuf, shufSec) = secs(ranks(1L))
    val parity = shuf == bcast
    println(f"[graph-probe] shuffle-mode gate parity=$parity sec=$shufSec%.1f (n1+n2, incl. thin edge build)")
    println(s"""{"probe":"graph_scale","n_orders":$nOrders,"edge_partitions":$edgeParts,"converged":{"iters":$iters,"sec":$convSec,"per_round_sec":${convSec / math.max(1, iters)}},"gate_parity":$parity,"gate_shuffle_sec":$shufSec,"shuffle_total_mb":${meter.counts.shuffleBytes / 1e6},$parts}""")
  }

  // ---------------------------------------------------------------------------
  // `skew` — ADVERSARIAL SKEW AT 100x the verify corpus: synthesizes a
  // lineitem where ONE key ('R') holds 50% of all rows (the verify corpus's
  // returnflag split is benign ~25/25/50 over three keys; this is the
  // pathological single-whale case the salting family exists for) and
  // drives the PUBLIC a8/j8 salted queries. Recorded evidence:
  //  - per-(flag, salt) bucket row counts: the whale's 16 buckets must be
  //    even (max/min near 1), i.e. the salt actually shatters the whale;
  //  - per-task durations of the heaviest shuffle-write stage (phase-1
  //    partial agg): an even spread means no task is the whale's hostage;
  //  - bit-equality of the salted results against the UNSALTED plans on
  //    the same data (the oracle-green property, re-proven under skew).
  private def runSkew(nRows: Int): Unit = {
    val spark = session()
    val dir = s"/tmp/graft_scaleprobe_skew_$nRows"
    fixtureOnce(dir) {
      // id % 2 == 0 -> 'R': exactly half the corpus on one key
      spark.range(nRows).select(
          col("id").as("l_orderkey"),
          (col("id") % 7).cast("int").as("l_linenumber"),
          expr("CASE WHEN id % 2 = 0 THEN 'R' WHEN id % 4 = 1 THEN 'A' ELSE 'N' END")
            .as("l_returnflag"),
          expr("CAST(pmod(xxhash64(id, 3), 50) + 1 AS DOUBLE)").as("l_quantity"),
          expr("CAST(pmod(xxhash64(id, 5), 99000) + 1000 AS DOUBLE) / 100.0")
            .as("l_extendedprice"))
        .coalesce(16)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    }
    val meter = Probe.meter(spark)

    // whale-bucket spread: the salt must shatter 'R' into 16 even buckets
    val buckets = graft.Tables.lineitem(spark, dir)
      .withColumn("salt", pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(16)))
      .groupBy("l_returnflag", "salt").count()
      .where(col("l_returnflag") === "R")
      .agg(min("count").as("mn"), max("count").as("mx"))
      .collect()(0)
    val (bMin, bMax) = (buckets.getLong(0), buckets.getLong(1))

    def run(name: String) = secs(graft.SparkEntry.queries(name)(spark, dir).collect())
    meter.clearStages()
    val (a8Rows, a8Sec) = run("a8_salted_agg")
    // heaviest shuffle-write stage during a8 = the salted phase-1 partials
    val (dMed, dMax) = meter.heaviestStageTaskMs
    val (j8Rows, j8Sec) = run("j8_salted_join")

    // oracle-green under skew: salted plans stay bit-equal to unsalted
    val a8Plain = graft.Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("price_sum"),
        sum(col("l_quantity")).as("qty_sum"), count(lit(1)).as("n"))
      .orderBy("l_returnflag").collect()
    val a8Match = a8Rows.toSeq == a8Plain.toSeq
    val j8Plain = {
      import spark.implicits._
      val dim = Seq(("R", "returned"), ("A", "ack"), ("N", "none")).toDF("flag", "flag_desc")
      graft.Tables.lineitem(spark, dir)
        .join(broadcast(dim), col("l_returnflag") === col("flag"))
        .groupBy(col("flag_desc"))
        .agg(sum(col("l_quantity")).as("qty_sum"), count(lit(1)).as("n"))
        .orderBy("flag_desc").collect()
    }
    val j8Match = j8Rows.toSeq == j8Plain.toSeq

    println(f"""{"probe":"skew_scale","n_rows":$nRows,"whale_share":0.5,"whale_bucket_min":$bMin,"whale_bucket_max":$bMax,"p1_task_ms_median":$dMed,"p1_task_ms_max":$dMax,"a8_sec":$a8Sec%.1f,"j8_sec":$j8Sec%.1f,"a8_match":$a8Match,"j8_match":$j8Match}""")
    require(a8Match && j8Match, "salted results diverged from unsalted under skew")
    spark.stop()
  }

  // ---------------------------------------------------------------------------
  // `spans` — WHALE-GRAM PROBE for d11: half the corpus embeds ONE identical
  // 5-token boilerplate run (a single gram hash with nDocs/2 occurrences —
  // the adversarial input for which the original count-over-gh window would
  // buffer and sort half the gram stream in ONE task). The aggregate+join
  // shape must keep the per-gram count stage's tasks even; recorded as
  // median-vs-max task time of the heaviest shuffle stage, plus exact
  // output invariants (every even doc: 1 dup gram, 5 covered tokens).
  private def runSpans(nDocs: Int): Unit = {
    val spark = session()
    val dir = s"/tmp/graft_scaleprobe_spans_$nDocs"
    fixtureOnce(dir) {
      // even ids: 5-token boilerplate at position (id%7)+1 inside 40 unique
      // tokens; odd ids: 40 strictly-unique tokens (u<id>x<w> cannot form a
      // duplicated gram across docs)
      spark.range(nDocs).select(col("id").as("doc_id"),
          expr("""array_join(transform(sequence(0, 39), w ->
            CASE WHEN id % 2 = 0 AND w >= CAST(id % 7 AS INT) AND w < CAST(id % 7 AS INT) + 5
                 THEN concat('boiler', CAST(w - CAST(id % 7 AS INT) AS STRING))
                 ELSE concat('u', CAST(id AS STRING), 'x', CAST(w AS STRING)) END), ' ')""")
            .as("text"),
          lit("en").as("lang"), lit("synth").as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .coalesce(8).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
    val meter = Probe.meter(spark)
    val (rows, sec) = secs(graft.SparkEntry.queries("d11_dup_spans")(spark, dir).collect())
    val (dMed, dMax) = meter.heaviestStageTaskMs
    // exact invariants: every even doc (and only those) carries exactly the
    // one boilerplate gram -> 1 dup gram, 5 covered of 40 tokens
    val ok = rows.length == nDocs / 2 &&
      rows.forall { r =>
        r.getLong(0) % 2 == 0 && r.getLong(1) == 40L && r.getLong(2) == 1L &&
          r.getLong(3) == 5L && r.getDouble(4) == 0.125
      }
    println(f"""{"probe":"span_whale","n_docs":$nDocs,"whale_occurrences":${nDocs / 2},"sec":$sec%.1f,"heavy_stage_task_ms_median":$dMed,"heavy_stage_task_ms_max":$dMax,"invariants_ok":$ok}""")
    require(ok, "d11 whale-probe invariants failed")
    spark.stop()
  }

  // ---------------------------------------------------------------------------
  // `bpe` — BPE TRAINING ABOVE THE DRIVER FLOOR: synthesizes a corpus whose
  // VOCABULARY (not row count) is the scale axis — ~nWords distinct
  // pseudo-random 3-8 letter words, 16 per document — so the merge loop can
  // cross its driver floor and exercise the DISTRIBUTED rounds
  // at their design point (the sf corpora top out at a 31-word vocab, where
  // the driver path always wins). Reports both modes' wall time and requires
  // bit-identical merge tables — the same both-modes evidence contract as
  // the graph probe's broadcast/shuffle gate parity.
  //
  // `totalMerges`/`batch` drive the PRODUCTION-vocab probe (verdict r8 #4):
  // `bpe 2000000 32768 512` trains a 32k-merge vocabulary in ~64 batched
  // counting rounds per mode instead of 32768 sequential jobs — both modes
  // run the SAME batch size, so the bit-identical-table requirement pins
  // the batched pick (independent-prefix, stale-count) across the
  // driver/distributed gate exactly like the strict-greedy form.
  private def runBpe(nWords: Int, totalMerges: Int, batch: Int): Unit = {
    val spark = session()
    val dir = s"/tmp/graft_scaleprobe_bpe_$nWords"
    fixtureOnce(dir) {
      val az = ('a' to 'z').map(c => s"'$c'").mkString("array(", ", ", ")")
      spark.range(nWords.toLong / 16).select(col("id").as("doc_id"),
          expr(s"""array_join(transform(sequence(0, 15), k ->
            | array_join(transform(sequence(1, 3 + CAST(pmod(xxhash64(id * 16 + k), 6) AS INT)),
            |   i -> element_at($az, 1 + CAST(pmod(xxhash64(id * 16 + k, i), 26) AS INT))), '')), ' ')""".stripMargin)
            .as("text"),
          lit("en").as("lang"), lit("synth").as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .coalesce(16)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
    // the merge table under a driver floor of `floor` vocab rows
    def ranks(floor: Long) = secs(graft.operators.TextOps.bpeTrain(spark, dir, floor, totalMerges, batch)
      .collect().toSeq
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))))
    // force the distributed branch first (t19's driver floor is 8M rows —
    // above any probe vocab — so without the explicit floor both legs would
    // take the driver path and parity would be trivially true), then the
    // forced driver mode
    val ((dist, distSec), (drv, drvSec)) = (ranks(1L), ranks(Long.MaxValue))
    val parity = dist == drv
    if (totalMerges <= 20)
      println(s"[bpe-probe] merges=${dist.map(m => m._4 + ":" + m._5).mkString(",")}")
    println(f"""{"probe":"bpe_scale","n_words":$nWords,"total_merges":$totalMerges,"batch":$batch,"learned":${dist.size},"parity":$parity,"distributed_sec":$distSec%.1f,"driver_sec":$drvSec%.1f}""")
    require(parity, "bpe gate parity failed at probe scale")
    spark.stop()
  }

  // ---------------------------------------------------------------------------
  // `csv` — PER-BASIN CSV SINK AT SCALE (verdict r8 #6): the faithful K1
  // writer collects the |basins| x |timesteps| series (bounded but
  // driver-sized); the DEFAULT CsvSink.writeScalable path is the cluster
  // story — repartition(basinID) + partitionBy — and until now its E2E
  // evidence was fixture-scale only. This drives >= 1e5 basins through the
  // real sink and verifies the layout: exactly one partition directory per
  // basin, per-basin row counts intact, rows time-sorted within a basin.
  private def runCsv(nBasins: Int, nTs: Int): Unit = {
    val spark = session()
    val out = s"/tmp/graft_scaleprobe_csv_$nBasins"
    val series = spark.range(nBasins.toLong * nTs).select(
      (col("id") % nBasins).cast("int").as("basinID"),
      expr(s"timestampadd(HOUR, CAST(id div $nBasins AS INT), TIMESTAMP'2006-01-01 00:00:00')")
        .as("ts"),
      (pmod(hash(col("id")), lit(1000)).cast("double") / 10.0).as("rain"))
    val (_, wSec) = secs(graft.out.CsvSink.writeScalable(series, out))
    val ((dirs, one, total), vSec) = secs {
      val dirs = Files.list(Paths.get(out)).iterator().asScala
        .count(_.getFileName.toString.startsWith("basinID="))
      val one = spark.read.option("header", "true")
        .csv(s"$out/basinID=${nBasins / 2}")
        .select(col("time")).collect().map(_.getString(0))
      (dirs, one, spark.read.option("header", "true").csv(out).count())
    }
    val ok = dirs == nBasins && total == nBasins.toLong * nTs &&
      one.length == nTs && (one sameElements one.sorted)
    println(f"""{"probe":"csv_sink","n_basins":$nBasins,"n_ts":$nTs,"dirs":$dirs,"rows":$total,"write_sec":$wSec%.1f,"verify_sec":$vSec%.1f,"layout_ok":$ok}""")
    require(ok, "scalable CSV sink layout/content check failed")
    spark.stop()
  }

  // ---------------------------------------------------------------------------
  // `admit` — STREAMING ADMISSION AT VOLUME (round-10 verdict #4): the soak
  // spec proves exactly-once across 100+ micro-batches at fixture SIZE; this
  // probe proves the admission front door at production VOLUME — a >= 1M-doc
  // standing signature snapshot, a multi-slice crawl feed (one parquet file
  // per micro-batch via maxFilesPerTrigger), a mid-feed stop/restart on the
  // same checkpoint — recording docs/s, per-batch walls, and checkpoint
  // size, and requiring an EXACT ledger: every feed doc verdicted once,
  // every planted exact-duplicate flagged with est = 1.0 against its true
  // standing twin, every unique doc admitted.
  //
  // Texts are 40 hash-mixed numeric tokens (Probe.feedText) so distinct
  // seeds share essentially no CHAR SHINGLES — the admission chain
  // fingerprints character n-grams, so structured tokens (u<seed>x<w>) are
  // adversarially WRONG here: seed 100000+k differs from seed k only by a
  // "10" prefix inside every token and their shingle jaccard really does
  // clear 0.7 (the first probe run flagged 14995/15000 "unique" docs as
  // dups — correctly, given those texts). With hash-mixed tokens a planted
  // clone shares ALL 8 bands with its twin (est exactly 64/64) and a unique
  // doc scores ~0 — deterministic invariants, not distributional ones.
  private def runAdmit(nStanding: Int, nFeed: Int, slices: Int): Unit = {
    val spark = session()
    val root = s"/tmp/graft_scaleprobe_admit_${nStanding}_$nFeed"
    // ledger-append + checkpoint must start clean every run
    Probe.freshDir(root)
    val ledgerDir = s"$root/ledger"
    val ckptDir = s"$root/ckpt"

    val standing = spark.range(nStanding)
      .select(col("id").as("doc_id"), expr(Probe.feedText("id")).as("text"))
    // the production shape: the standing snapshot's signatures are a
    // precomputed artifact — built and cached ONCE, priced separately
    val (standingSigs, snapshotSec) = secs {
      val sigs = graft.operators.Dedup.minhashSigs(standing).cache()
      sigs.count()
      sigs
    }

    val batchStats = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double)]()
    val (phase1Sec, phase2Sec) = Probe.twoPhaseFeed(spark, root, nStanding, nFeed, slices) { feed =>
      graft.streaming.StreamOps.admitStream(feed, standingSigs,
          checkpoint = Some(ckptDir)) { (verdicts, id) =>
        val out = verdicts.cache()
        val (n, sec) = secs { val n = out.count(); out.write.mode("append").parquet(ledgerDir); n }
        out.unpersist()
        batchStats.add((id, n, sec))
        ()
      }
    }

    val ledger = spark.read.parquet(ledgerDir).cache()
    val nLedger = ledger.count()
    val nDistinct = ledger.select("doc_new").distinct().count()
    val clones = ledger.where((col("doc_new") - nStanding) % 4 === 0)
    val nClones = clones.count()
    val cloneBad = clones.where(col("is_dup") =!= 1 || col("best_est") =!= 1.0 ||
      col("best_old") =!= (col("doc_new") - nStanding) % nStanding).count()
    val uniqueBad = ledger.where((col("doc_new") - nStanding) % 4 =!= 0)
      .where(col("is_dup") =!= 0).count()
    val ckptBytes = Files.walk(Paths.get(ckptDir)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
    val docsPerSec = nFeed / (phase1Sec + phase2Sec)
    val perBatch = batchStats.asScala.toSeq.sortBy(_._1)
      .map { case (id, n, s) => f"$id:$n@$s%.1fs" }.mkString(" ")
    println(s"[admit-probe] batches: $perBatch")
    val ok = nLedger == nFeed.toLong && nDistinct == nFeed.toLong &&
      nClones == (nFeed + 3) / 4 && cloneBad == 0 && uniqueBad == 0
    println(f"""{"probe":"admit_volume","n_standing":$nStanding,"n_feed":$nFeed,"slices":$slices,"snapshot_sec":$snapshotSec%.1f,"phase1_sec":$phase1Sec%.1f,"phase2_sec":$phase2Sec%.1f,"docs_per_sec":$docsPerSec%.0f,"ledger_rows":$nLedger,"distinct_docs":$nDistinct,"clones":$nClones,"clone_violations":$cloneBad,"unique_violations":$uniqueBad,"checkpoint_bytes":$ckptBytes,"exact":$ok}""")
    require(ok, "admission ledger exactness violated at volume")
    spark.stop()
  }

  // ---------------------------------------------------------------------------
  // `curstream` — COMPOSED CURATION STREAM AT VOLUME: `Curation.stream`
  // (admission verdicts feeding pack deltas per micro-batch, r12 stretch #8)
  // driven as a checkpointed file stream against a synthesized standing
  // corpus, with a HARD STOP + RESTART mid-feed — the admit probe's feed
  // with the pack half composed in. Checks, all in-engine:
  //   1. every feed doc admitted exactly once across the restart;
  //   2. every 4th feed doc is an EXACT standing clone → is_dup=1 AND
  //      absent from every pack delta (rejects never enter the layout);
  //   3. per-shard token conservation: each shard's final end position ==
  //      its standing total + the admitted batch tokens routed to it, and
  //      the union delta is gapless under the (batch, doc_id) append order;
  //   4. docs/s for both phases (the composed front door's throughput).
  private def runCurStream(nStanding: Int, nFeed: Int, slices: Int): Unit = {
    val spark = session()
    val root = s"/tmp/graft_scaleprobe_curstream_${nStanding}_$nFeed"
    Probe.freshDir(root)
    val ledgerDir = s"$root/ledger"
    val deltaDir = s"$root/deltas"
    val ckptDir = s"$root/ckpt"

    val P = graft.operators.TextOps.PackSize
    val Shards = graft.operators.TextOps.PackShards
    val standingDocs = spark.range(nStanding)
      .select(col("id").as("doc_id"), expr(Probe.feedText("id")).as("text"))
    // the standing artifacts, priced separately like the admit probe's
    // snapshot: the pack layout is packAppendFrom over empty bases (append
    // to position 0 == the full pack — t24's own invariant)
    import spark.implicits._
    val ((standingPacks, nStandPacked, standingEnds), artifactSec) = secs {
      val standingCounts = standingDocs.select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"))
      val packs = graft.operators.TextOps
        .packAppendFrom(spark, Seq.empty[(Int, Long)].toDF("shard", "base"),
          standingCounts, P, Shards)
        .cache()
      val ends = packs.groupBy("shard")
        .agg(max(col("pack_id").cast("long") * P + col("pack_offset") + col("n_tokens"))
          .as("stand_end"))
      (packs, packs.count(), ends)
    }

    val (phase1Sec, phase2Sec) = Probe.twoPhaseFeed(spark, root, nStanding, nFeed, slices) { feed =>
      graft.api.Curation.stream(feed, standingDocs, standingPacks,
          P, Shards, checkpoint = Some(ckptDir)) { (verdicts, delta, id) =>
        verdicts.write.mode("append").parquet(ledgerDir)
        delta.withColumn("batch_id", lit(id)).write.mode("append").parquet(deltaDir)
        ()
      }
    }

    val ledger = spark.read.parquet(ledgerDir).cache()
    val nLedger = ledger.count()
    val nDistinct = ledger.select("doc_new").distinct().count()
    val clones = ledger.where((col("doc_new") - nStanding) % 4 === 0)
    val cloneBad = clones.where(col("is_dup") =!= 1).count()
    val deltas = spark.read.parquet(deltaDir).cache()
    val nPacked = deltas.count()
    val nAdmitted = ledger.where(col("is_dup") === 0).count()
    val packedRejects = deltas.join(
      ledger.where(col("is_dup") === 1).select(col("doc_new").as("doc_id")), "doc_id").count()
    // per-shard conservation: final end == standing end + admitted tokens
    val finalEnds = deltas.groupBy("shard")
      .agg(max(col("pack_id").cast("long") * P + col("pack_offset") + col("n_tokens"))
        .as("final_end"), sum(col("n_tokens")).as("delta_tokens"))
    val conservationBad = finalEnds
      .join(standingEnds, Seq("shard"), "left")
      .where(col("final_end") =!= coalesce(col("stand_end"), lit(0L)) + col("delta_tokens"))
      .count()
    // gapless under (batch, doc_id) order: re-derive each delta row's global
    // position from the standing end + running admitted-token cumsum
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("batch_id", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapBad = deltas
      .withColumn("cum", sum(col("n_tokens")).over(w).cast("long"))
      .join(standingEnds, Seq("shard"), "left")
      .withColumn("g", coalesce(col("stand_end"), lit(0L)) + col("cum") - col("n_tokens"))
      .where(col("pack_id") =!= expr(s"CAST(g div $P AS INT)") ||
             col("pack_offset") =!= expr(s"CAST(g % $P AS INT)"))
      .count()
    val ok = nLedger == nFeed && nDistinct == nFeed && cloneBad == 0 &&
      packedRejects == 0 && nPacked == nAdmitted && conservationBad == 0 && gapBad == 0
    println(s"""{"probe":"curation_stream","standing":$nStanding,"feed":$nFeed,"slices":$slices,"standing_packed":$nStandPacked,"artifact_sec":$artifactSec,"phase1_sec":$phase1Sec,"phase2_sec":$phase2Sec,"ledger":$nLedger,"admitted":$nAdmitted,"packed":$nPacked,"clone_bad":$cloneBad,"packed_rejects":$packedRejects,"conservation_bad":$conservationBad,"gap_bad":$gapBad,"docs_per_sec":${(nFeed / (phase1Sec + phase2Sec)).toLong},"all_ok":$ok}""")
    require(ok, "composed curation stream invariant violated at volume")
    spark.stop()
  }

  // ---------------------------------------------------------------------------
  // `graphbuild` (r12) — BUCKETED CO-LOCATED EDGE BUILD: lands the weighted
  // pair artifact via GraphOps.buildPairsBucketed (orders/lineitem bucketed
  // on the orderkey, exchange-free join) so the rank queries at a scale rung
  // read it through -Dgraft.graph.pairsDir and the ~NB-row join shuffle
  // that blew the sf300 disk envelope never happens. The bucketed table
  // copies (outDir/b_orders, outDir/b_lineitem) are build scaffolding — the
  // operator deletes them (and may delete the raw orders/lineitem) once
  // this prints its JSON; only outDir/pairs is served.
  private def runGraphBuild(dir: String, outDir: String, buckets: Int): Unit = {
    val spark = session()
    // the pair aggregate shuffles ~|lineitem| partially-combined rows: at
    // the probe default of 32 partitions a 1.8B-row rung packs ~50M rows
    // per reduce task — follow the bucket count instead (the same
    // granularity the write shuffles already use)
    spark.conf.set("spark.sql.shuffle.partitions", math.max(32, buckets).toString)
    val ((nPairs, colocated), sec) =
      secs(graft.operators.GraphOps.buildPairsBucketed(spark, dir, outDir, buckets))
    println(s"""{"probe":"graph_bucketed_build","dir":"$dir","out":"$outDir","buckets":$buckets,"pairs":$nPairs,"colocated_join":$colocated,"sec":$sec}""")
    require(colocated, "bucketed build shuffled its join inputs")
    spark.stop()
  }

  // `graphedges` (r12) — DISK-RESIDENT BIDIRECTED EDGE ARTIFACT: lands the
  // src-bucketed edge table + degree frame (GraphOps.buildEdgesBucketed)
  // that `-Dgraft.graph.edgesDir` serves to the rank rounds. At the sf300
  // rung the thin edge CACHE (3.5B rows) exceeded memory+disk beside its
  // lineage-pinned repartition shuffle; the bucketed table is scanned per
  // round with zero edge movement and zero resident cache. Respects
  // -Dgraft.graph.pairsDir for the pair source (the bucketed-ingest leg).
  private def runGraphEdges(dir: String, outDir: String, buckets: Int, phase: String): Unit = {
    val spark = session()
    spark.conf.set("spark.sql.shuffle.partitions", math.max(32, buckets).toString)
    spark.conf.set("spark.sql.parquet.compression.codec", "zstd")
    val ((nNodes, nEdges), sec) =
      secs(graft.operators.GraphOps.buildEdgesBucketed(spark, dir, outDir, buckets, phase))
    println(s"""{"probe":"graph_edge_build","dir":"$dir","out":"$outDir","buckets":$buckets,"phase":"$phase","nodes":$nNodes,"edges":$nEdges,"sec":$sec}""")
    spark.stop()
  }

  // `rankdump` / `rankcmp` (r12) — the graph diffv STAGED for a tight disk
  // envelope: `rankdump` computes the TWIN rank frames (v9/v10 — pairs-based,
  // no edge table needed) and lands them as parquet while only the pair
  // artifact occupies the disk; `rankcmp` later computes the SHIPPED n1/n2
  // rank frames over the disk-edge artifact and compares against the dumps.
  // Same evidence as one diffv process (full-frame bit-equality), but the
  // twin's join scratch and the 2x-edge table never co-reside.
  private def runRankDump(dir: String, outDir: String): Unit = {
    val spark = session()
    def dump(name: String, df: DataFrame): Unit = {
      val (rows, sec) = secs {
        df.write.mode("overwrite").parquet(s"$outDir/$name")
        spark.read.parquet(s"$outDir/$name").count()
      }
      println(s"""{"probe":"rank_dump","which":"$name","rows":$rows,"sec":$sec}""")
      System.gc()
    }
    dump("v9", graft.operators.Differential.v9RankFrame(spark, dir))
    dump("v10", graft.operators.Differential.v10RankFrame(spark, dir))
    spark.stop()
  }

  private def runRankCmp(dir: String, dumpDir: String): Unit = {
    val spark = session()
    def cmp(name: String, shipped: => DataFrame): Boolean = {
      val (d, sec) = secs(Probe.sameRows(spark.read.parquet(s"$dumpDir/$name"), shipped))
      println(s"""{"probe":"rank_cmp","which":"$name",${diffJson(d)},"sec":$sec}""")
      System.gc()
      d.matched
    }
    val ok1 = cmp("v9", graft.operators.GraphOps.n1RankFrame(spark, dir))
    val ok2 = cmp("v10", graft.operators.GraphOps.n2RankFrame(spark, dir))
    require(ok1 && ok2, "graph rank-frame differential mismatch")
    spark.stop()
  }

  // `compdump` / `compcmp` (r13) — the d9-chain diffv STAGED for a tight disk
  // envelope (the rankdump/rankcmp recipe applied to the component family):
  // at the sf1000 rung the alt and shipped component builds' shuffle scratch
  // plus the 50M-doc signature cache co-residing blew the disk; `compdump`
  // computes the TWIN component frame (alt algorithm) and lands it as
  // parquet while only its own scratch occupies the disk, then `compcmp` in
  // a FRESH process computes the shipped frame and compares full-frame.
  private def runCompDump(dir: String, outDir: String): Unit = {
    val spark = session()
    val (rows, sec) = secs {
      graft.operators.Differential.altComponentLabels(spark, dir)
        .write.mode("overwrite").parquet(outDir)
      spark.read.parquet(outDir).count()
    }
    println(s"""{"probe":"comp_dump","dir":"$dir","rows":$rows,"sec":$sec}""")
    spark.stop()
  }

  private def runCompCmp(dir: String, dumpDir: String): Unit = {
    val spark = session()
    val (d, sec) = secs {
      val a = spark.read.parquet(dumpDir)
      Probe.sameRows(a, graft.operators.Dedup.componentLabels(spark, dir)
        .select(a.columns.map(col).toIndexedSeq: _*))
    }
    println(s"""{"probe":"comp_cmp","dir":"$dir",${diffJson(d)},"sec":$sec}""")
    require(d.matched, "d9-chain component differential mismatch")
    spark.stop()
  }

  /** `repack` — re-encode a parquet directory with zstd (disk-envelope tool:
    * the rung artifacts are read many times and disk-bound — zstd buys ~30%
    * of the envelope back for decode cost that is noise next to the IO).
    */
  private def runRepack(inDir: String, outDir: String): Unit = {
    val spark = session()
    spark.conf.set("spark.sql.parquet.compression.codec", "zstd")
    val (rows, sec) = secs {
      spark.read.parquet(inDir).write.mode("overwrite").parquet(outDir)
      spark.read.parquet(outDir).count()
    }
    println(s"""{"probe":"repack","in":"$inDir","out":"$outDir","rows":$rows,"sec":$sec}""")
    spark.stop()
  }

  // `dedupbands` (r13) — BUCKETED LSH BAND ARTIFACT: the dedup family's
  // analogue of the graph family's bucketed ingest. Computes the direct
  // scoredPairs artifact (the baseline, with its band shuffle), lands the
  // signature + bucketed band layout via Dedup.buildBandsBucketed,
  // re-derives the same scored pairs through -Dgraft.dedup.bandsDir, and
  // requires bit-identical pair sets — recording the serve plan's static
  // exchange count (must be <= 1: the candidate distinct) beside the direct
  // build's wall.
  private def runDedupBands(dir: String, outDir: String, buckets: Int): Unit = {
    import graft.operators.Dedup
    val spark = session()
    spark.conf.set("spark.sql.shuffle.partitions", math.max(32, buckets).toString)
    val (_, directSec) = secs(Dedup.scoredPairs(spark, dir).write.mode("overwrite").parquet(s"$outDir/pairs_direct"))
    ArtifactCache.invalidate(spark, dir)
    System.gc()
    val ((nBands, colocated, nEx), buildSec) = secs(Dedup.buildBandsBucketed(spark, dir, outDir, buckets))
    try Probe.withProps(Dedup.BandsDirProp -> outDir) {
      val (served, servedSec) = secs {
        val served = Dedup.scoredPairs(spark, dir)
        served.count()
        served
      }
      val d = Probe.sameRows(spark.read.parquet(s"$outDir/pairs_direct"), served)
      println(s"""{"probe":"dedup_bucketed_bands","dir":"$dir","out":"$outDir","buckets":$buckets,"bands":$nBands,"pairs":${d.rowsB},"colocated_pair_plan":$colocated,"serve_exchanges":$nEx,"only_direct":${d.onlyA},"only_served":${d.onlyB},"match":${d.matched},"direct_sec":$directSec,"build_sec":$buildSec,"served_sec":$servedSec}""")
      require(d.matched, "bandsDir-served scored pairs differ from the direct build")
      require(colocated, "bucketed band pair plan shuffled its inputs")
    } finally ArtifactCache.invalidate(spark, dir)
    spark.stop()
  }

  // `curation` — CURATION COMPOSITE END-TO-END AT THE SCALE RUNGS (round-10
  // verdict #3): `api.Curation.run` with EVERY stage enabled (mixing, span
  // gate, per-source cap, admission, redaction) — its 10 stages are
  // individually oracle-proven at scale but were only ever COMPOSED at
  // fixture scale (CurationApiSpec). Checks, all in-engine aggregates:
  //   1. the ledger covers every document exactly once;
  //   2. kept ⇒ every stage verdict (no row keeps despite a failing gate);
  //   3. each ledger column equals its oracled query twin where the config
  //      matches the query's constants — q_pass↔t5, component/canonical↔c2,
  //      split↔c3, cap_kept↔t17 (cap=10), is_new/admitted↔d12 (5,4),
  //      span_ok↔d11 at the configured threshold, temp_kept↔t11;
  //   4. pack layout invariants over the kept snapshot (offsets within the
  //      window, per-shard token conservation, one row per kept doc).
  private def runCuration(dir: String): Unit = {
    val spark = session()
    val docs = graft.Tables.documents(spark, dir)
    // deterministic non-trivial mixture over the observed (bounded) sources:
    // lexicographically-first source weighted 2.0, the rest 1.0
    val sources = docs.select("source").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val targets = sources.zipWithIndex
      .map { case (s0, i) => s0 -> (if (i == 0) 2.0 else 1.0) }.toMap
    // stacked-copy rungs: every doc's dup_frac is 1.0 (each 5-gram occurs
    // >= K times corpus-wide), so 0.2 keeps nothing — run 1.0 there too for
    // a non-vacuous kept/pack path (GRAFT_CURATION_SPAN overrides)
    val spanFrac = sys.env.getOrElse("GRAFT_CURATION_SPAN", "0.2").toDouble
    val cfg = graft.api.Curation.Config(
      domainTargets = targets,
      maxDupSpanFrac = spanFrac,
      redact = true,
      maxPerSource = 10, // == t17's CapPerSource, so the ledger column is
                         // comparable against the oracled query verbatim
      admitBatch = Some((5L, 4L)), // == d12's (modulus, residue)
      // r13: perceptual image near-dup gate (m6's pair artifact);
      // GRAFT_CURATION_IMG=1 enables (off by default so pre-r13 rung
      // evidence stays comparable)
      imageDedup = sys.env.getOrElse("GRAFT_CURATION_IMG", "0") != "0",
      // r12: BPE-space layout + materialized per-pack id tensors (t23's
      // assembly over the curated corpus); GRAFT_CURATION_IDS=0 disables
      packIds = sys.env.getOrElse("GRAFT_CURATION_IDS", "1") != "0")
    val t0 = System.nanoTime()
    val res = graft.api.Curation.run(spark, dir, cfg)
    val ledger = res.ledger.cache()
    val nLedger = ledger.count()
    val ledgerSec = (System.nanoTime() - t0) / 1e9
    val nDocs = docs.count()

    val checks = scala.collection.mutable.ListBuffer[(String, Long)]()
    def check(name: String, violations: => Long): Unit = {
      val v = violations
      checks += name -> v
      println(s"[curation] $name violations=$v")
      System.gc()
    }
    // rows either side holds that the other does not
    def unmatched(a: DataFrame, b: DataFrame): Long = {
      val d = Probe.sameRows(a, b)
      d.onlyA + d.onlyB
    }
    check("ledger_covers_corpus", math.abs(nLedger - nDocs) +
      ledger.groupBy("doc_id").count().where(col("count") > 1).count())
    check("kept_implies_all_gates", ledger.where(col("kept") &&
      !(col("q_pass") && col("is_keeper") && col("clean") && col("canonical") &&
        col("sampled") && col("temp_kept") && col("mix_kept") && col("span_ok") &&
        col("cap_kept") && col("img_kept") && col("admitted") && !col("is_eval"))).count())
    def q(name: String) = graft.SparkEntry.queries(name)(spark, dir)
    check("q_pass_eq_t5", ledger.select(col("doc_id"), col("q_pass"))
      .join(q("t5_quality_filter").select(col("doc_id"), col("kept")), "doc_id")
      .where(col("q_pass") =!= col("kept")).count())
    check("component_canonical_eq_c2", ledger
      .select(col("doc_id"), col("component"), col("canonical"))
      .join(q("c2_canonical_keep")
        .select(col("doc_id"), col("component").as("c2c"), col("canonical").as("c2k")), "doc_id")
      .where(col("component") =!= col("c2c") || col("canonical") =!= col("c2k")).count())
    check("split_eq_c3", ledger.select(col("doc_id"), col("split"))
      .join(q("c3_leakage_safe_split").select(col("doc_id"), col("split").as("c3s")), "doc_id")
      .where(col("split") =!= col("c3s")).count())
    check("cap_kept_eq_t17",
      unmatched(ledger.where(col("cap_kept")).select("doc_id"), q("t17_source_cap").select("doc_id")))
    check("admission_eq_d12", ledger
      .select(col("doc_id"), col("is_new"), col("admitted"))
      .join(q("d12_incremental").select(col("doc_new").as("doc_id"), col("is_dup")),
        Seq("doc_id"), "left")
      .where(
        (col("is_new") =!= (col("doc_id") % 5 === 4)) ||
        (col("is_new") && (col("admitted") === (col("is_dup") === 1))) ||
        (!col("is_new") && !col("admitted"))).count())
    check("span_ok_eq_d11", ledger.select(col("doc_id"), col("span_ok"))
      .join(q("d11_dup_spans").select(col("doc_id"), col("dup_frac")), Seq("doc_id"), "left")
      .where(col("span_ok") =!= (coalesce(col("dup_frac"), lit(0.0)) <= spanFrac)).count())
    check("temp_kept_eq_t11",
      unmatched(ledger.where(col("temp_kept")).select("doc_id"), q("t11_temp_sample").select("doc_id")))
    // r13: with the image gate on, the dropped set must equal m6's doc_b
    // side verbatim (the keep-first rule over the oracle-checked pairs)
    if (cfg.imageDedup) check("img_kept_eq_m6",
      unmatched(ledger.where(!col("img_kept")).select("doc_id"),
        q("m6_phash_pairs").select(col("doc_b").as("doc_id")).distinct()))
    val packs = res.packs.cache()
    val nKept = ledger.where(col("kept")).count()
    check("packs_one_row_per_kept_doc", math.abs(packs.count() - nKept))
    check("pack_offsets_in_window", packs.where(
      col("pack_offset") < 0 || col("pack_offset") >= cfg.packSize ||
      col("pack_id") < 0).count())
    // per-shard token conservation: the last doc's (pack_id, offset, n) must
    // place the shard's total exactly at sum(n_tokens)
    check("pack_token_conservation", packs
      .groupBy("shard")
      .agg(sum(col("n_tokens")).as("tot"),
        max(col("pack_id").cast("long") * cfg.packSize + col("pack_offset")
          + col("n_tokens")).as("endpos"))
      .where(col("tot") =!= col("endpos")).count())
    // r12: materialized tensors must carry exactly the layout's tokens —
    // per shard, the concatenated pack arrays hold sum(n_tokens) ids and
    // every pack except the shard's last is exactly packSize long
    res.tensors.foreach { tens =>
      val t = tens.cache()
      check("tensor_token_conservation", t.groupBy("shard")
        .agg(sum(col("n_tokens")).as("tens_tot")).as("a")
        .join(packs.groupBy("shard").agg(sum(col("n_tokens")).as("lay_tot")).as("b"), "shard")
        .where(col("tens_tot") =!= col("lay_tot")).count())
      check("tensor_packs_full_except_last", t.as("t")
        .join(t.groupBy("shard").agg(max(col("pack_id")).as("last")).as("m"), "shard")
        .where(col("pack_id") =!= col("last") &&
          col("n_tokens") =!= cfg.packSize.toLong).count())
    }

    val keptBy = ledger.agg(
      count(lit(1)), count(when(col("q_pass"), 1)), count(when(col("is_keeper"), 1)),
      count(when(col("clean"), 1)), count(when(col("canonical"), 1)),
      count(when(col("mix_kept"), 1)), count(when(col("span_ok"), 1)),
      count(when(col("cap_kept"), 1)), count(when(col("admitted"), 1)),
      count(when(col("kept"), 1))).first()
    val totalSec = (System.nanoTime() - t0) / 1e9
    val cardinals = Seq("docs", "q_pass", "keeper", "clean", "canonical", "mix",
      "span_ok", "cap", "admitted", "kept").zipWithIndex
      .map { case (n, i) => s""""$n":${keptBy.getLong(i)}""" }.mkString(",")
    val checkJson = checks.map { case (n, v) => s""""$n":$v""" }.mkString(",")
    val ok = checks.forall(_._2 == 0L)
    println(s"""{"probe":"curation_composite","dir":"$dir","n_docs":$nDocs,"ledger_sec":$ledgerSec,"total_sec":$totalSec,"all_ok":$ok,"cardinalities":{$cardinals},"violations":{$checkJson}}""")
    require(ok, "curation composite invariant violated at scale")
    // r11: optional sink leg — GRAFT_CURATION_WRITE=<dir> writes the
    // partitioned snapshot (ledger/snapshot/packs) and records file counts
    // + wall, so the rung's evidence covers the consumable artifact too
    sys.env.get("GRAFT_CURATION_WRITE").foreach { outDir =>
      val (files, sec) = secs(graft.api.Curation.write(res, outDir, cfg.packShards))
      val fjson = files.toSeq.sortBy(_._1)
        .map { case (t, n) => s""""$t":$n""" }.mkString(",")
      // r12: the tensor table's on-disk footprint — the bytes a training
      // loader actually maps (recorded per verdict #2's done-criteria)
      val tensorBytes = if (!files.contains("tensors")) 0L else {
        val p = new org.apache.hadoop.fs.Path(s"$outDir/tensors")
        val it = p.getFileSystem(spark.sessionState.newHadoopConf()).listFiles(p, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .filter(_.getPath.getName.startsWith("part-")).map(_.getLen).sum
      }
      val tensorRows = res.tensors.map(_.count()).getOrElse(0L)
      println(s"""{"probe":"curation_write","out":"$outDir","files":{$fjson},"tensor_rows":$tensorRows,"tensor_bytes":$tensorBytes,"sec":$sec}""")
    }
    spark.stop()
  }

  // ---------------------------------------------------------------------------
  // `diffv` — DIFFERENTIAL VERIFICATION AT THE SCALE RUNGS (round-10 verdict
  // #1): DuckDB cannot run the d9-chain / s7-training oracles at sf100
  // (OOM at 44+45 GiB spill / >55 min), so the independent check runs
  // IN-ENGINE — a second, algorithmically different implementation of each
  // chain (graft.operators.Differential: two-star CC vs min-label
  // propagation, window canonical vs max_by, interval-merge fold vs
  // lag-window, explode-argmin IVF-PQ vs compiled cell-top) compared
  // BIT-FOR-BIT against the shipped artifact. The component-frame compare
  // covers the whole d9 -> c2/c3 chain (canonical keepers and the
  // leakage-safe split both derive deterministically from these columns).
  private def runDiffVerify(dir: String): Unit = {
    val spark = session()
    def cmp(name: String, alt: => DataFrame, shipped: => DataFrame): (String, Boolean, Long, Double) = {
      val (d, sec) = secs(Probe.sameRows(alt, shipped))
      println(f"[diffv] $name rows_alt=${d.rowsA} rows_shipped=${d.rowsB} only_alt=${d.onlyA} only_shipped=${d.onlyB} match=${d.matched} sec=$sec%.1f")
      System.gc() // release the compare's dead shuffle deps (sf100 lesson)
      (name, d.matched, d.rowsB, sec)
    }
    import graft.operators.{Dedup, Differential, GraphOps}
    // GRAFT_DIFFV_ONLY: substring filter for resuming a partial rung (the
    // sf100 drive pays ~20 min for d9+d11 — a heap-sized s7 retry should
    // not re-run them); unset = all compares.
    val onlyFilter = sys.env.get("GRAFT_DIFFV_ONLY")
    // '|'-separated substring alternatives, e.g. 'd9|e1_kmeans|pagerank'
    def wanted(name: String) =
      onlyFilter.forall(_.split('|').exists(f => f.nonEmpty && name.contains(f)))
    def q(name: String): () => DataFrame = () => graft.SparkEntry.queries(name)(spark, dir)
    // (compare name, alt twin, shipped artifact)
    val results = Seq[(String, () => DataFrame, () => DataFrame)](
      // one compare for the whole d9 -> c2/c3 chain: doc_id, component,
      // kept, quality, canonical — every downstream keep/split decision is
      // a deterministic function of these
      ("d9_component_chain", () => Differential.altComponentLabels(spark, dir),
        () => Dedup.componentLabels(spark, dir)),
      ("d11_dup_spans", q("v2_spans_merge"), q("d11_dup_spans")),
      ("s7_ivfpq_ann", q("v3_ivfpq_adc"), q("s7_ivfpq_ann")),
      ("t21_bpe_ids", q("v4_bpe_ids"), q("t21_bpe_ids")),
      ("t22_pack_bpe", q("v5_pack_bpe"), q("t22_pack_bpe")),
      // r11: the materialized pack tensors (slice-split vs token-explode
      // assembly, both rungs of the chain independently derived) ...
      ("t23_pack_sequences", q("v6_pack_sequences"), q("t23_pack_sequences")),
      // ... and the clustering family (alt Lloyd vs cell_top/vecsum_dec) —
      // e1's oracle ran at sf100 in r9 but DuckDB degrades at the rung
      ("e1_kmeans", q("v7_kmeans"), q("e1_kmeans")),
      ("e3_inertia", q("v8_inertia"), q("e3_inertia")),
      // r12: the graph family — FULL rank frames (every node, not the
      // 20-row presentation cut); at the bucketed-ingest rungs set
      // -Dgraft.graph.pairsDir so both sides read the landed pair artifact
      ("n1_pagerank", () => Differential.v9RankFrame(spark, dir), () => GraphOps.n1RankFrame(spark, dir)),
      ("n2_pagerank", () => Differential.v10RankFrame(spark, dir), () => GraphOps.n2RankFrame(spark, dir)))
      .collect { case (n, alt, shipped) if wanted(n) => cmp(n, alt(), shipped()) }
    // ADVICE r10: a typo'd GRAFT_DIFFV_ONLY must fail loudly, not emit a
    // vacuous all_match=true (and the empty parts list left malformed JSON)
    require(onlyFilter.isEmpty || results.nonEmpty,
      s"GRAFT_DIFFV_ONLY='${onlyFilter.getOrElse("")}' matched no compare names")
    val parts = results.map { case (n, ok, rows, sec) =>
      s""""$n":{"match":$ok,"rows":$rows,"sec":$sec}""" }
    println(s"""{"probe":"diff_verify","dir":"$dir","all_match":${results.forall(_._2)}${parts.map("," + _).mkString}}""")
    require(results.forall(_._2), "differential verification mismatch")
    spark.stop()
  }

  // ---------------------------------------------------------------------------
  // `full` — WHOLE FLAGSHIP end-to-end: renders a real fixture (daily
  // `.tar.gz` archives of full 900x900 RADOLAN-layout ASCII grids, ~0.1%
  // nodata; an nBasins-pentagon shapefile, both by RadolanRender) and drives
  // `RadoHydro.run` — cell map -> archive scan -> tar/gz expand -> windowed
  // parse of the covered cells -> dedup -> NaN gate -> weights -> weighted
  // series — reporting wall time, jobs, total/max-stage shuffle write bytes,
  // the cell map's pairs and covered cells next to what stays persisted, and
  // asserting no BroadcastNestedLoopJoin in the physical plan.
  private def runFull(nBasins: Int, nTs: Int): Unit = {
    val spark = session()
    val root = s"/tmp/graft_scaleprobe_full/${nBasins}x$nTs"
    val gridsDir = s"$root/grids"
    val shpPath = s"$root/basins/basins.shp"
    val (_, tFixture) = secs(fixtureOnce(root) {
      Files.createDirectories(Paths.get(gridsDir))
      Files.createDirectories(Paths.get(s"$root/basins"))
      // shapefile: nBasins pentagons in radolan METERS, one numeric attribute
      graft.out.ShpWriter.write(shpPath,
        (1 to nBasins).map(id => RadolanRender.pentagon(id, RadolanRender.Full, 876, 870)),
        (1 to nBasins).map(i => Map[String, Any]("FID_" -> i.toLong)),
        Seq("FID_"))
      // daily tar.gz archives of 24 hourly full-grid ASCII members, rendered
      // in parallel ON SPARK (local executors share the filesystem)
      val nDays = math.max(1, nTs / 24)
      spark.range(1, nDays + 1).repartition(nDays.toInt).foreach { day =>
        RadolanRender.writeDay(gridsDir, RadolanRender.Full, day.toInt, 0 until 24)
      }
    })

    // shuffle and job accounting across the whole run
    val meter = Probe.meter(spark)

    // basins are authored directly in the raw grid CRS (radolan_m), so the
    // windowing path is identity and the output reprojection (Q10 areas)
    // still exercises the closed-form CRS math. `run` builds the cell map,
    // scans the archives into persisted grid rows over the covered cells and
    // computes the gate and weights on the driver, so plan_sec holds all three
    val (res, tPlan) = secs(graft.api.RadoHydro.run(spark, gridsDir, shpPath,
      graft.api.RadoHydro.Config(datasource = "radolan", shapeCrs = "radolan_m")))

    val bnlj = res.series.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin")

    // count runs the per-grid weighted sums over the persisted grid rows
    val (nRows, tSeries) = secs(res.series.count())

    // what the run keeps persisted once the series is computed
    val persistedMb = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
    val c = meter.counts
    println(f"""{"probe":"full_flagship","n_basins":$nBasins,"n_ts":$nTs,"series_rows":$nRows,"fixture_sec":$tFixture%.1f,"plan_sec":$tPlan%.1f,"series_sec":$tSeries%.1f,"jobs":${c.jobs},"shuffle_total_mb":${c.shuffleBytes / 1e6}%.1f,"shuffle_max_stage_mb":${meter.maxStageShuffleBytes / 1e6}%.1f,"persisted_mb":$persistedMb%.1f,"pairs":${res.cells.size},"covered_cells":${res.slots.size},"window_cells":${res.window.nrows * res.window.ncols},"bnlj":$bnlj""" + "}")
    require(!bnlj, "flagship plan regressed to BroadcastNestedLoopJoin")
    spark.stop()
  }
}
