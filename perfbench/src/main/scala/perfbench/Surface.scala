package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators

/** The query surface (`SparkEntry.queries`) on a generated star-schema,
  * events, documents and embeddings corpus with the shipped testdata's
  * schema.
  */
object Surface {

  /** The pinned list: relational, text-hash and vector queries, plus a
    * clustering pair whose second query reuses the artifact the first one
    * fits. Kept to queries whose set-up (codegen and artifact fits) and
    * pass fit the run's time budget. A pinned name the engine does not
    * register counts as failed; names the engine registers beyond this
    * list are ignored.
    */
  val Pinned: IndexedSeq[String] = IndexedSeq(
    "q2_revenue_by_nation", // RelationalOps: star join + aggregation
    "t3_fingerprint",       // TextOps: text hashing
    "s1_cosine_topk",       // Similarity: vector functions
    "e1_kmeans",            // Clustering: fits the assignment artifact
    "e3_inertia")           // Clustering: reuses it

  /** Input variants (corpora the fingerprints are recorded for, and RADOLAN
    * fixtures); a seed picks one. */
  val Variants = 4

  type Query = (SparkSession, String) => DataFrame

  /** Query name -> (module, function), from the public module registries. */
  def registry: Map[String, (String, Query)] = Seq(
    "RelationalOps" -> operators.RelationalOps.queries,
    "TextOps" -> operators.TextOps.queries,
    "Dedup" -> operators.Dedup.queries,
    "Similarity" -> operators.Similarity.queries,
    "Clustering" -> operators.Clustering.queries,
    "Multimodal" -> operators.Multimodal.queries,
    "StreamingOps" -> operators.StreamingOps.queries,
    "AnalyticOps" -> operators.AnalyticOps.queries,
    "CurationOps" -> operators.CurationOps.queries,
    "GraphOps" -> operators.GraphOps.queries,
    "Differential" -> operators.Differential.queries,
    "GeoPipelineOps" -> operators.GeoPipelineOps.queries,
  ).flatMap { case (m, qs) => qs.map { case (n, f) => n -> (m, f) } }.toMap

  // ---------------------------------------------------------------- corpus

  private val Words = IndexedSeq("the", "a", "data", "row", "column", "table", "query", "join",
    "group", "sort", "merge", "scan", "hash", "key", "value", "order", "line", "part", "customer",
    "window", "stream", "batch", "filter", "agg", "vector", "spark", "fast", "slow", "big", "small")

  private def ts(epochSec: Long): Timestamp = new Timestamp(epochSec * 1000)
  private val Day = 86400L
  private val Y1995 = 788918400L // 1995-01-01T00:00:00Z
  private val Y2024 = 1704067200L // 2024-01-01T00:00:00Z

  /** Write the corpus of `variant` as one parquet directory per table. */
  def ensureCorpus(spark: SparkSession, dir: Path, variant: Int): Unit = {
    if (Files.exists(dir.resolve("_done"))) return
    val rng = new SplittableRandom(1000003L * (variant + 1))
    def money(lo: Double, hi: Double) = math.round((lo + rng.nextDouble() * (hi - lo)) * 100) / 100.0
    def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.size))
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    def st(fields: (String, DataType)*) = StructType(fields.map { case (n, t) => StructField(n, t) })

    write("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    write("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write("customer", st("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until 150).map(i => Row(i.toLong, f"Customer#$i%09d", rng.nextInt(25), money(-999.99, 9999.99),
        pick(segments))))
    write("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType),
      (0 until 10).map(i => Row(i.toLong, f"Supplier#$i%09d", rng.nextInt(25), money(-999.99, 9999.99))))
    val adjectives = IndexedSeq("blue", "red", "cold", "hot", "new", "small", "large", "old")
    val nouns = IndexedSeq("widget", "bolt", "gear", "rod", "ring", "anvil", "nut", "valve")
    val types = IndexedSeq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    val prices = (0 until 200).map(i => 900.0 + i / 10.0)
    write("part", st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until 200).map(i => Row(i.toLong, s"${pick(adjectives)} ${pick(nouns)}",
        s"Brand#${1 + rng.nextInt(25)}", pick(types), 1 + rng.nextInt(50), prices(i))))
    val priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
      (0 until 1500).map(i => Row(i.toLong, rng.nextInt(150).toLong, pick(IndexedSeq("O", "F", "P")),
        money(1000, 500000), ts(Y1995 + rng.nextInt(2404) * Day), pick(priorities))))
    write("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
      "l_linestatus" -> StringType, "l_shipdate" -> TimestampType),
      (0 until 6000).map { _ =>
        val part = rng.nextInt(200)
        val qty = (1 + rng.nextInt(50)).toDouble
        Row(rng.nextInt(1500).toLong, part.toLong, rng.nextInt(10).toLong, 1 + rng.nextInt(7), qty,
          math.round(qty * prices(part) * (1 + rng.nextDouble()) * 100) / 100.0,
          rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0, pick(IndexedSeq("N", "R", "A")),
          pick(IndexedSeq("F", "O")), ts(Y1995 + 1 + rng.nextInt(2498) * Day))
      })
    val eventTypes = IndexedSeq("click", "purchase", "error", "signup", "view")
    val eventTs = (0 until 1000).map(_ => Y2024 * 1000000L + (rng.nextDouble() * 30 * Day * 1e6).toLong).sorted
    write("events", st("event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      eventTs.zipWithIndex.map { case (us, i) =>
        val t = new Timestamp(us / 1000); t.setNanos(((us % 1000000) * 1000).toInt)
        Row(i.toLong, t, rng.nextInt(15).toLong, pick(eventTypes), money(0.01, 330),
          s"""{"k": ${rng.nextInt(100)}}""")
      })
    // one document in twenty is a near copy of an earlier one, for the
    // dedup families
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 500).foreach { i =>
      val text =
        if (i > 10 && rng.nextInt(20) == 0) {
          val src = texts(rng.nextInt(i)).split(" ")
          (src.dropRight(1) :+ pick(Words)).mkString(" ") + " dup"
        } else Seq.fill(10 + rng.nextInt(90))(pick(Words)).mkString(" ")
      texts += text
    }
    val langs = IndexedSeq("en", "de", "fr", "es", "zh")
    write("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
      texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, pick(langs), s"src${rng.nextInt(20)}", t.length.toLong)
      }.toSeq)
    val centroids = IndexedSeq.fill(10)(IndexedSeq.fill(64)(rng.nextDouble() * 2 - 1))
    write("embeddings", st("vec_id" -> LongType, "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType),
      (0 until 500).map { i =>
        val label = rng.nextInt(10)
        val v = centroids(label).map(c => c + (rng.nextDouble() * 2 - 1) * 0.8)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat), label)
      })
    Files.write(dir.resolve("_done"), Array.emptyByteArray)
  }

  // ----------------------------------------------------------- fingerprints

  /** Canonical text of a value: doubles to 10 significant digits (so last-
    * bit noise from summation order does not matter), maps sorted by key.
    */
  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => if (d.isNaN) "NaN" else f"${d + 0.0}%.9e"
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => canon(b.bigDecimal)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }
      .sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Row count plus an order-independent hash of the rows. */
  def fingerprint(rows: Array[Row]): (Long, Long) = {
    var h = 0L
    rows.foreach { r =>
      val s = canon(r)
      val hi = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c6ef372).toLong
      val lo = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL
      h += (hi << 32) | lo
    }
    (rows.length.toLong, h)
  }

  /** A recorded fingerprint; `hash` is None for queries whose rows are not
    * bit-stable across runs and partitionings (checked by row count only).
    */
  final case class Expected(rows: Long, hash: Option[Long])

  /** Recorded fingerprints, keyed by (variant, query). */
  def loadFingerprints(): Map[(Int, String), Expected] = {
    val in = getClass.getResourceAsStream("/fingerprints.tsv")
    if (in == null) Map.empty
    else try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
          val Array(v, q, rows, hash) = l.split("\t")
          (v.toInt, q) -> Expected(rows.toLong, if (hash == "*") None else Some(hash.toLong))
        }.toMap
    } finally in.close()
  }

  def check(name: String, got: (Long, Long), want: Option[Expected]): Unit = want match {
    case None => throw new IllegalStateException(s"$name: no recorded fingerprint")
    case Some(Expected(rows, hash)) =>
      if (got._1 != rows) throw new IllegalStateException(s"$name: ${got._1} rows, expected $rows")
      hash.foreach { h =>
        if (got._2 != h) throw new IllegalStateException(s"$name: row hash ${got._2}, expected $h")
      }
  }
}
