package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Multimodal-column support: image/audio/video payloads as opaque `binary`
  * columns with typed metadata, plus batch feature extraction.
  *
  * The decode step is STUBBED (this environment ships no image/audio codecs):
  * [[FakeDecoder]] is a deterministic stand-in that treats the payload bytes
  * as the "decoded" sample stream. Everything around it — the schema, the
  * per-partition batching, the UDF-free metadata path, and the
  * `mapPartitions` feature extractor with one reusable buffer per partition
  * (the Scala analog of `mapInPandas` batch shape) — is the real plumbing a
  * production decoder would drop into.
  */
object Multimodal {

  /** Deterministic decode stub: replace with a real codec at deployment.
    * "Decodes" bytes into n samples and extracts fixed-size features.
    */
  object FakeDecoder {
    /** Mean/min/max/energy over the byte stream, as a 4-feature vector. */
    def features(payload: Array[Byte]): Array[Double] = {
      if (payload.isEmpty) return Array(0.0, 0.0, 0.0, 0.0)
      var sum = 0.0; var mn = 255.0; var mx = 0.0; var energy = 0.0
      var i = 0
      while (i < payload.length) {
        val v = (payload(i) & 0xff).toDouble
        sum += v; energy += v * v
        if (v < mn) mn = v
        if (v > mx) mx = v
        i += 1
      }
      Array(sum / payload.length, mn, mx, energy / payload.length)
    }
  }

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("media", BinaryType),
    StructField("mime", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType)))

  /** A media table synthesized from document text bytes — the plumbing test
    * corpus (payload bytes are opaque to everything downstream).
    */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id").as("media_id"),
      col("text").cast(BinaryType).as("media"),
      lit("application/octet-stream").as("mime"),
      (col("n_chars") % 640).cast(IntegerType).as("width"),
      (col("n_chars") % 480).cast(IntegerType).as("height"))

  /** Batch feature extraction via mapPartitions: one decoder instance per
    * partition, rows streamed — the shape that scales to arbitrary
    * partition counts without per-row setup cost.
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("n_bytes", IntegerType),
      StructField("feat", ArrayType(DoubleType))))
    val rdd = media.select("media_id", "media").rdd.mapPartitions { it =>
      // per-partition decoder init would go here
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        Row(r.getLong(0), bytes.length, FakeDecoder.features(bytes).toSeq)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  // ---------------------------------------------------------------------------
  // m1 — metadata + byte-level stats of the binary column, pure column
  // expressions (oracle-checkable: byte length + md5 of the payload).
  private def m1BinaryMeta(s: SparkSession, d: String): DataFrame =
    mediaTable(s, d)
      .select(
        col("media_id"),
        octet_length(col("media")).as("n_bytes"),
        md5(col("media")).as("payload_md5"),
        col("mime"), col("width"), col("height"))
      .orderBy("media_id")

  private val m1Sql =
    """SELECT doc_id AS media_id,
      |  octet_length(encode(text)) AS n_bytes,
      |  md5(text) AS payload_md5,
      |  'application/octet-stream' AS mime,
      |  CAST(n_chars % 640 AS INTEGER) AS width,
      |  CAST(n_chars % 480 AS INTEGER) AS height
      |FROM documents ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------------------
  // m2 — frame-sample planning: every media row explodes to its sampled
  // frame windows (width 32, stride 16 over the decoded sample stream — the
  // FakeDecoder's "samples" are the payload chars), each fingerprinted.
  // The plan shape IS the production one: per-row frame count from
  // metadata, lateral explode, windowed extraction — a real codec changes
  // only the decode expression. Guarded sequence(): n_frames = 0 must give
  // an empty array, not sequence(0, -1) (which Spark reads as step -1).
  private val FrameW = 32
  private val FrameStride = 16

  private def m2FrameSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("n_frames",
        greatest(expr(s"(length(text) - $FrameW) div $FrameStride + 1"), lit(0)))
      .select(col("doc_id").as("media_id"), col("text"),
        explode(expr("CASE WHEN n_frames > 0 THEN sequence(0, n_frames - 1) ELSE array() END"))
          .as("frame_idx"))
      .select(col("media_id"), col("frame_idx"),
        (col("frame_idx") * FrameStride).as("frame_off"),
        md5(expr(s"substring(text, frame_idx * $FrameStride + 1, $FrameW)")).as("frame_md5"))
      .orderBy("media_id", "frame_idx")

  private val m2Sql =
    s"""WITH m AS (SELECT doc_id AS media_id, text, length(text) AS n FROM documents),
       |f AS (SELECT media_id, text,
       |        unnest(range(0, greatest((n - $FrameW) // $FrameStride + 1, 0))) AS frame_idx
       |      FROM m)
       |SELECT media_id, frame_idx, frame_idx * $FrameStride AS frame_off,
       |  md5(substring(text, frame_idx * $FrameStride + 1, $FrameW)) AS frame_md5
       |FROM f ORDER BY media_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------------------
  // m3 — the mapPartitions feature-extraction path itself, DuckDB-oracled:
  // the stub decoder's features are integer byte arithmetic (sums of values
  // <= 255 and squares <= 65025 over ~300-byte payloads are exact in IEEE
  // doubles regardless of order), so even the RDD batch path gets a SQL
  // cross-check — a real codec swaps FakeDecoder and keeps the plumbing.
  // The oracle re-derives per-byte values via ord() over the (ASCII) text.
  private def m3Features(s: SparkSession, d: String): DataFrame =
    extractFeatures(mediaTable(s, d))
      .where(col("n_bytes") > 0)
      .select(col("media_id"), col("n_bytes"),
        round(expr("feat[0]"), 6).as("mean_r"),
        expr("CAST(feat[1] AS INT)").as("min_b"),
        expr("CAST(feat[2] AS INT)").as("max_b"),
        round(expr("feat[3]"), 6).as("energy_r"))
      .orderBy("media_id")

  private val m3Sql =
    """WITH chars AS (
      |  SELECT doc_id AS media_id, length(text) AS n,
      |    list_transform(range(1, length(text) + 1), i -> ord(substr(text, i, 1))) AS bs
      |  FROM documents
      |)
      |SELECT media_id, CAST(n AS INTEGER) AS n_bytes,
      |  round(CAST(list_sum(bs) AS DOUBLE) / n, 6) AS mean_r,
      |  CAST(list_min(bs) AS INT) AS min_b,
      |  CAST(list_max(bs) AS INT) AS max_b,
      |  round(CAST(list_sum(list_transform(bs, b -> b * b)) AS DOUBLE) / n, 6) AS energy_r
      |FROM chars WHERE n > 0 ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------------------
  // m4 — REAL codec round-trip (round-7 verdict #4, replacing the FakeDecoder
  // gap): each doc's text bytes become deterministic pixels (cyclic
  // indexing), ENCODED into an actual image file — BMP 8-bit palettized,
  // BMP 24-bit BGR (bottom-up + row padding), PNG gray / RGB (zlib, row
  // filters cycling 0-4), or binary PPM — then DECODED by
  // [[graft.ingest.ImageCodec]] in a separate mapPartitions stage over the
  // opaque binary column, and reduced to integer-exact features. `possum`
  // weights every decoded byte by its stream position, so a decoder that
  // mis-handles BMP's bottom-up rows, 4-byte padding, or a PNG filter
  // reconstruction cannot hash-match the oracle (which re-derives the pixel
  // stream arithmetically from the text). ImageCodecSpec separately pins
  // hand-built golden byte layouts so encoder/decoder can't share a bug.
  private[operators] def pixelsFor(text: Array[Byte], n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = text(i % text.length); i += 1 }
    out
  }

  /** (media_id, fmt, width, height, channels, media) with real encoded
    * image bytes — the corpus every decode stage downstream consumes.
    */
  def encodedMediaTable(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("fmt", IntegerType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("channels", IntegerType),
      StructField("media", BinaryType)))
    val src = Tables.documents(s, d)
      // ASCII-only guard: the pixel stream is the UTF-8 BYTES of text while
      // the oracle re-derives it from per-CHARACTER codepoints — identical
      // only when every char is single-byte. The corpus is ASCII today; the
      // twin filters (octet_length == length here, strlen == length in the
      // oracle) keep m4 correct instead of silently wrong if a regenerated
      // corpus ever ships multi-byte text.
      .where(length(col("text")) >= 1 && octet_length(col("text")) === length(col("text")))
      .select(col("doc_id"), col("text"))
    val rdd = src.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val text = r.getString(1).getBytes("UTF-8")
        val w = (8 + id % 25).toInt; val h = (8 + id % 17).toInt
        val fmt = (id % 5).toInt
        val ch = if (fmt == 0 || fmt == 2) 1 else 3
        val pix = pixelsFor(text, w * h * ch)
        val bytes = fmt match {
          case 0 => graft.ingest.ImageCodec.encodeBmp8Gray(w, h, pix)
          case 1 => graft.ingest.ImageCodec.encodeBmp24(w, h, pix)
          case 2 => graft.ingest.ImageCodec.encodePng(w, h, 1, pix)
          case 3 => graft.ingest.ImageCodec.encodePng(w, h, 3, pix)
          case _ => graft.ingest.ImageCodec.encodePnm(w, h, 3, pix)
        }
        Row(id, fmt, w, h, ch, bytes)
      }
    }
    s.createDataFrame(rdd, schema)
  }

  /** Decode + feature stage: sniffs and decodes each payload with the real
    * codec, emits integer-exact stream features. All-integer outputs (sums
    * bounded far below 2^62) — no float parity concerns at any SF.
    */
  def decodedFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("channels", IntegerType),
      StructField("sum_b", LongType),
      StructField("min_b", IntegerType),
      StructField("max_b", IntegerType),
      StructField("possum", LongType)))
    val rdd = media.select("media_id", "media").rdd.mapPartitions { it =>
      it.map { r =>
        val dec = graft.ingest.ImageCodec.decode(r.getAs[Array[Byte]](1))
        val px = dec.pixels
        var sum = 0L; var possum = 0L; var mn = 256; var mx = -1
        var i = 0
        while (i < px.length) {
          val v = px(i) & 0xff
          sum += v; possum += (i % 997 + 1).toLong * v
          if (v < mn) mn = v
          if (v > mx) mx = v
          i += 1
        }
        Row(r.getLong(0), dec.width, dec.height, dec.channels, sum, mn, mx, possum)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  private def m4DecodedFeatures(s: SparkSession, d: String): DataFrame =
    decodedFeatures(encodedMediaTable(s, d)).orderBy("media_id")

  private val m4Sql =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    8 + doc_id % 25 AS w, 8 + doc_id % 17 AS h,
      |    CASE WHEN doc_id % 5 IN (0, 2) THEN 1 ELSE 3 END AS ch,
      |    length(text) AS len,
      |    list_transform(range(1, length(text) + 1), i -> ord(substr(text, i, 1))) AS bs
      |  FROM documents WHERE length(text) >= 1 AND strlen(text) = length(text)
      |), s AS (
      |  SELECT media_id, w, h, ch,
      |    list_transform(range(0, w * h * ch), i -> bs[CAST(i % len AS INTEGER) + 1]) AS px
      |  FROM m
      |)
      |SELECT media_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
      |  CAST(ch AS INTEGER) AS channels,
      |  CAST(list_sum(px) AS BIGINT) AS sum_b,
      |  CAST(list_min(px) AS INTEGER) AS min_b,
      |  CAST(list_max(px) AS INTEGER) AS max_b,
      |  CAST(list_sum(list_transform(range(0, w * h * ch),
      |    i -> (i % 997 + 1) * px[CAST(i AS INTEGER) + 1])) AS BIGINT) AS possum
      |FROM s ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------------------
  // m5 — the audio twin of m4: each doc's text bytes become deterministic
  // 16-bit-normalized PCM samples ((b-128)*256, cyclic), ENCODED into a real
  // RIFF/WAVE file ([[graft.ingest.AudioCodec]]: 8-bit unsigned or 16-bit
  // signed LE, mono or stereo, a skippable LIST chunk before data so
  // non-chunk-walking decoders break loudly), then DECODED in a separate
  // mapPartitions stage and reduced to integer-exact features. sample_rate/
  // channels/bits come FROM the decoded header (hash-checking the fmt-chunk
  // parse), `possum` position-weights every sample (hash-checking sample
  // order + width normalization), `n_zero_cross` checks signedness handling.
  // The (b-128)*256 normalization is exactly the u8→s16 widening, so the
  // 8-bit storage path round-trips losslessly. AudioCodecSpec pins golden
  // byte layouts so encoder/decoder can't share a bug.
  // (b*7 + i*13) mod 256 mixes position into the byte so the derived stream
  // crosses zero (raw ASCII is always < 128 ⇒ all-negative samples would
  // leave n_zero_cross degenerately 0 and the signedness check dead)
  private[operators] def samplesFor(text: Array[Byte], n: Int): Array[Int] = {
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val m = ((text(i % text.length) & 0xff) * 7 + i * 13) % 256
      out(i) = (m - 128) * 256
      i += 1
    }
    out
  }

  /** (media_id, media) with real encoded WAV bytes. */
  def encodedAudioTable(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("media", BinaryType)))
    val src = Tables.documents(s, d)
      // same ASCII-only drift guard as m4 (bytes here, codepoints in the oracle)
      .where(length(col("text")) >= 1 && octet_length(col("text")) === length(col("text")))
      .select(col("doc_id"), col("text"))
    val rdd = src.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val text = r.getString(1).getBytes("UTF-8")
        val frames = (200 + id % 300).toInt
        val ch = (1 + id % 2).toInt
        val bits = if (id % 4 < 2) 8 else 16
        val rate = (8000 + (id % 5) * 4000).toInt
        val samples = samplesFor(text, frames * ch)
        Row(id, graft.ingest.AudioCodec.encodeWav(rate, ch, bits, samples))
      }
    }
    s.createDataFrame(rdd, schema)
  }

  /** Decode + feature stage over the opaque WAV column. */
  def decodedAudioFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("sample_rate", IntegerType),
      StructField("channels", IntegerType),
      StructField("bits", IntegerType),
      StructField("n_samples", LongType),
      StructField("sum_s", LongType),
      StructField("min_s", IntegerType),
      StructField("max_s", IntegerType),
      StructField("n_zero_cross", LongType),
      StructField("possum", LongType)))
    val rdd = media.select("media_id", "media").rdd.mapPartitions { it =>
      it.map { r =>
        val dec = graft.ingest.AudioCodec.decodeWav(r.getAs[Array[Byte]](1))
        val sm = dec.samples
        var sum = 0L; var possum = 0L; var zc = 0L
        var mn = Int.MaxValue; var mx = Int.MinValue
        var i = 0
        while (i < sm.length) {
          val v = sm(i)
          sum += v; possum += (i % 997 + 1).toLong * v
          if (v < mn) mn = v
          if (v > mx) mx = v
          if (i >= 1 && ((v >= 0) != (sm(i - 1) >= 0))) zc += 1
          i += 1
        }
        Row(r.getLong(0), dec.sampleRate, dec.channels, dec.bitsPerSample,
          sm.length.toLong, sum, mn, mx, zc, possum)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  private def m5DecodedAudio(s: SparkSession, d: String): DataFrame =
    decodedAudioFeatures(encodedAudioTable(s, d)).orderBy("media_id")

  private val m5Sql =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    200 + doc_id % 300 AS frames, 1 + doc_id % 2 AS ch,
      |    CASE WHEN doc_id % 4 < 2 THEN 8 ELSE 16 END AS bits,
      |    8000 + (doc_id % 5) * 4000 AS sample_rate,
      |    length(text) AS len,
      |    list_transform(range(1, length(text) + 1),
      |      i -> ord(substr(text, i, 1))) AS bs
      |  FROM documents WHERE length(text) >= 1 AND strlen(text) = length(text)
      |), s AS (
      |  SELECT media_id, sample_rate, ch, bits, frames * ch AS n,
      |    list_transform(range(0, frames * ch),
      |      i -> ((bs[CAST(i % len AS INTEGER) + 1] * 7 + i * 13) % 256 - 128) * 256) AS sm
      |  FROM m
      |)
      |SELECT media_id, CAST(sample_rate AS INTEGER) AS sample_rate,
      |  CAST(ch AS INTEGER) AS channels, CAST(bits AS INTEGER) AS bits,
      |  CAST(n AS BIGINT) AS n_samples,
      |  CAST(list_sum(sm) AS BIGINT) AS sum_s,
      |  CAST(list_min(sm) AS INTEGER) AS min_s,
      |  CAST(list_max(sm) AS INTEGER) AS max_s,
      |  CAST(list_sum(list_transform(range(1, CAST(n AS INTEGER)),
      |    i -> CASE WHEN (sm[i + 1] >= 0) != (sm[i] >= 0) THEN 1 ELSE 0 END)) AS BIGINT) AS n_zero_cross,
      |  CAST(list_sum(list_transform(range(0, CAST(n AS INTEGER)),
      |    i -> (i % 997 + 1) * sm[CAST(i AS INTEGER) + 1])) AS BIGINT) AS possum
      |FROM s ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------------------
  // m6 — PERCEPTUAL IMAGE DEDUP (r11 verdict #5): dHash fingerprints over
  // the REAL decoded pixel streams, then d7's banded-hamming blocking. Each
  // doc's canonical 18x16 gray image (text bytes, cyclic — m4's pixelsFor)
  // is encoded at scale s = 1 + doc_id % 3 (nearest-neighbor upscale to
  // 18s x 16s, real BMP-8 or PNG-gray bytes), decoded back by ImageCodec,
  // and average-pooled onto the 9x8 dHash grid: bit (gy*8+gx) is set iff
  // cell (gx,gy)'s sum exceeds cell (gx+1,gy)'s. The grid divides every
  // scaled dimension (9|18s, 8|16s), so an upscaled cell sum is exactly
  // s^2 x the canonical cell sum and every comparison — hence the whole
  // 64-bit fingerprint — is SCALE-INVARIANT: the same content at three
  // resolutions hashes identically, which is the property a perceptual
  // hash exists to provide (and what the oracle exploits: it re-derives
  // the fingerprint arithmetically from the CANONICAL pixel stream, so a
  // decoder or pooling bug at any scale cannot hash-match).
  //
  // Pairing is d7's shape verbatim: 4 x 16-bit bands of the fingerprint
  // (pigeonhole: hamming <= 3 shares an unchanged band; the <= 6 threshold
  // keeps recall via multi-band collisions exactly as d7), keep-list
  // bounded at 4 x 2^16 = 262144 rows regardless of corpus size (broadcast
  // is structurally safe), bucket cap prunes degenerate bands. Scale shape
  // = d7's: banded and capped, never all-pairs.
  private val DHashGridW = 9
  private val DHashGridH = 8
  private val CanonW = 18
  private val CanonH = 16
  private val DHashMaxBucket = 64
  private val DHashMaxHamming = 6

  /** 64-bit dHash of a decoded gray image whose dims the 9x8 grid divides:
    * average-pool (sums — counts are equal per cell) and compare adjacent
    * columns. All-integer, so engines agree bit-for-bit.
    */
  private[operators] def dhashOf(w: Int, h: Int, px: Array[Byte]): Long = {
    val cw = w / DHashGridW; val ch = h / DHashGridH
    require(cw * DHashGridW == w && ch * DHashGridH == h,
      s"dHash pooling needs grid-divisible dims, got ${w}x$h")
    val sums = Array.ofDim[Long](DHashGridH, DHashGridW)
    var y = 0
    while (y < h) {
      val row = sums(y / ch); val off = y * w
      var x = 0
      while (x < w) { row(x / cw) += (px(off + x) & 0xff).toLong; x += 1 }
      y += 1
    }
    var fp = 0L
    var gy = 0
    while (gy < DHashGridH) {
      var gx = 0
      while (gx < DHashGridW - 1) {
        if (sums(gy)(gx) > sums(gy)(gx + 1)) fp |= (1L << (gy * 8 + gx))
        gx += 1
      }
      gy += 1
    }
    fp
  }

  /** (media_id, media): the canonical content encoded at per-doc scale as
    * real image bytes — the corpus the perceptual-dedup stage decodes.
    */
  def scaledMediaTable(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("media", BinaryType)))
    val src = Tables.documents(s, d)
      // same ASCII-only drift guard as m4 (bytes here, codepoints in the oracle)
      .where(length(col("text")) >= 1 && octet_length(col("text")) === length(col("text")))
      .select(col("doc_id"), col("text"))
    val rdd = src.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val canon = pixelsFor(r.getString(1).getBytes("UTF-8"), CanonW * CanonH)
        val sc = (1 + id % 3).toInt
        val w = CanonW * sc; val h = CanonH * sc
        val pix = new Array[Byte](w * h)
        var y = 0
        while (y < h) {
          val crow = (y / sc) * CanonW; val off = y * w
          var x = 0
          while (x < w) { pix(off + x) = canon(crow + x / sc); x += 1 }
          y += 1
        }
        val bytes =
          if (id % 2 == 0) graft.ingest.ImageCodec.encodeBmp8Gray(w, h, pix)
          else graft.ingest.ImageCodec.encodePng(w, h, 1, pix)
        Row(id, bytes)
      }
    }
    s.createDataFrame(rdd, schema)
  }

  /** Decode + fingerprint stage over the opaque binary column. */
  def imageDhash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("dhash", LongType)))
    val rdd = media.select("media_id", "media").rdd.mapPartitions { it =>
      it.map { r =>
        val dec = graft.ingest.ImageCodec.decode(r.getAs[Array[Byte]](1))
        require(dec.channels == 1, s"dHash stage expects gray, got ${dec.channels}")
        Row(r.getLong(0), dhashOf(dec.width, dec.height, dec.pixels))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** The m6 perceptual near-dup PAIR artifact (doc_a < doc_b, hamming <=
    * threshold) — memoized so the oracle-checked query and the curation
    * image gate ([[graft.api.Curation.Config.imageDedup]]) consume the SAME
    * verdicts (c2's artifact-sharing discipline).
    */
  private[graft] def phashPairArtifact(s: SparkSession, d: String): DataFrame =
    ArtifactCache.getOrElseUpdate("mm.phashPairs", s, d) {
      // r13 optimization note: a small-corpus shuffle-partition override was
      // measured here and reverted — the build is decode-bound (the RDD
      // mapPartitions pass), so the band/pair stages' task floors don't move
      // the wall (m6 was flat at sf0.1 local[32] with the gate on)
      val sims = imageDhash(scaledMediaTable(s, d)).cache()
      val bands = sims.select(col("media_id"), col("dhash"),
        posexplode(expr("transform(sequence(0, 3), b -> shiftright(dhash, b * 16) & 65535)"))
          .as(Seq("band_idx", "band_key")))
      val keep = bands.groupBy("band_idx", "band_key").agg(count(lit(1)).as("bsz"))
        .where(col("bsz") >= 2 && col("bsz") <= DHashMaxBucket)
        .select("band_idx", "band_key")
      // structurally bounded keep-list (4 bands x 2^16 keys max) — broadcast
      // is safe for the same reason as d7's, and unlike the MinHash list
      val pruned = bands.join(broadcast(keep), Seq("band_idx", "band_key"))
      val a = pruned.as("a"); val b = pruned.as("b")
      val out = a.join(b,
          col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.media_id") < col("b.media_id"))
        .select(col("a.media_id").as("doc_a"), col("b.media_id").as("doc_b"),
          expr("bit_count(a.dhash ^ b.dhash)").as("hamming"))
        .distinct()
        .where(col("hamming") <= DHashMaxHamming)
        .cache()
      out.count()
      out
    }

  private def m6PhashPairs(s: SparkSession, d: String): DataFrame =
    phashPairArtifact(s, d).orderBy("doc_a", "doc_b")

  private val m6Sql = {
    val nPix = CanonW * CanonH
    s"""WITH m AS (
       |  SELECT doc_id AS media_id, length(text) AS len,
       |    list_transform(range(1, length(text) + 1), i -> ord(substr(text, i, 1))) AS bs
       |  FROM documents WHERE length(text) >= 1 AND strlen(text) = length(text)
       |), cells AS (
       |  SELECT media_id, (u.j % $CanonW) // 2 AS gx, (u.j // $CanonW) // 2 AS gy,
       |    CAST(sum(bs[CAST(u.j % len AS INTEGER) + 1]) AS BIGINT) AS s
       |  FROM m, (SELECT unnest(range(0, $nPix)) AS j) u
       |  GROUP BY 1, 2, 3
       |), fp AS MATERIALIZED (
       |  -- bit 63 contributes as -2^63 so the HUGEINT sum lands exactly on
       |  -- the signed 64-bit value Spark's Long bit-or produces
       |  SELECT a.media_id, CAST(sum(CASE
       |      WHEN a.s <= b.s THEN 0::HUGEINT
       |      WHEN a.gy * 8 + a.gx = 63 THEN -9223372036854775808::HUGEINT
       |      ELSE (1::HUGEINT << CAST(a.gy * 8 + a.gx AS INTEGER)) END) AS BIGINT) AS dhash
       |  FROM cells a JOIN cells b
       |    ON a.media_id = b.media_id AND a.gy = b.gy AND b.gx = a.gx + 1
       |  WHERE a.gx < ${DHashGridW - 1}
       |  GROUP BY a.media_id
       |), bands AS MATERIALIZED (
       |  SELECT media_id, dhash, r.range AS band_idx,
       |    (dhash >> CAST(r.range * 16 AS INTEGER)) & 65535 AS band_key
       |  FROM fp, range(0, 4) r
       |), keep AS (
       |  SELECT band_idx, band_key FROM bands GROUP BY band_idx, band_key
       |  HAVING count(*) BETWEEN 2 AND $DHashMaxBucket
       |), cand AS (
       |  SELECT DISTINCT a.media_id AS doc_a, b.media_id AS doc_b,
       |    CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
       |  FROM bands a
       |       JOIN keep k ON a.band_idx = k.band_idx AND a.band_key = k.band_key
       |       JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |         AND a.media_id < b.media_id
       |)
       |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= $DHashMaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m6_phash_pairs"  -> m6PhashPairs _,
    "m1_binary_meta"  -> m1BinaryMeta _,
    "m2_frame_sample" -> m2FrameSample _,
    "m3_features"     -> m3Features _,
    "m4_decoded_features" -> m4DecodedFeatures _,
    "m5_decoded_audio" -> m5DecodedAudio _)

  val oracles: Map[String, String] = Map(
    "m6_phash_pairs"  -> m6Sql,
    "m1_binary_meta"  -> m1Sql,
    "m2_frame_sample" -> m2Sql,
    "m3_features"     -> m3Sql,
    "m4_decoded_features" -> m4Sql,
    "m5_decoded_audio" -> m5Sql)
}
