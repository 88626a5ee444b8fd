package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.TestSpark

/** Behavior specs for the round-9 fixes. The headline check pins t19's
  * exact-symbol merge semantics on a corpus DESIGNED to alias a naive
  * substring rewrite: picks (q,w) then (w,e) with the word "qwe" present.
  * After merge 1 the word "qwe" is [qw, e]; exact BPE (the reference
  * trainer, our driver loop) does NOT apply merge 2 there — symbol "qw" is
  * not "w" — but a literal replace of "w<SEP>e" matches INSIDE
  * "qw<SEP>e" and corrupts it to [qwe], killing the round-3 (qw, e) merge
  * entirely. Both engine modes and the boundary-doubled rewrite must agree
  * with the hand-computed exact table.
  */
class Round9OpsSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = TestSpark.spark

  /** Stage a tiny documents table whose word frequencies force the
    * aliasing-prone merge chain: qw x10, we x6, qwe x3.
    *   round 1: (q,w)=13 beats (w,e)=9  -> merge (q,w)
    *   round 2: (w,e)=6 beats (qw,e)=3  -> merge (w,e)   [the alias trap]
    *   round 3: (qw,e)=3                -> merge (qw,e)
    * A substring-aliased rewrite loses round 3 (the corrupted [qwe] has no
    * pairs left), so the table SIZE differs, not just its values.
    */
  private lazy val chainDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("bpe_chain").toString
    val text = (Seq.fill(10)("qw") ++ Seq.fill(6)("we") ++ Seq.fill(3)("qwe")).mkString(" ")
    spark.range(1).select(
        col("id").as("doc_id"), lit(text).as("text"),
        lit("en").as("lang"), lit("synth").as("source"),
        lit(text.length.toLong).as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val expectedChain = Seq(
    (1, "q", "w", "qw", 13L),
    (2, "w", "e", "we", 6L),
    (3, "qw", "e", "qwe", 3L))

  /** The merge table of `dir`'s corpus, merged on the driver below
    * `driverFloor` vocab rows and in distributed rounds above it. */
  private def train(dir: String, driverFloor: Long, batch: Int = 1)
      : Seq[(Int, String, String, String, Long)] =
    TextOps.bpeTrain(spark, dir, driverFloor, TextOps.BpeMerges, batch)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq

  test("t19 exact-symbol merges: chained picks do not alias substring boundaries (driver mode)") {
    assert(train(chainDir, Long.MaxValue) === expectedChain)
  }

  test("t19 exact-symbol merges: chained picks do not alias substring boundaries (distributed mode)") {
    assert(train(chainDir, 0L) === expectedChain) // floor 0 forces the distributed rounds
  }

  test("t19 batched merges (independent-prefix pick) reproduce strict greedy when rejections force it") {
    // chainDir's rounds all CONFLICT (every runner-up shares a symbol with
    // the winner), so a batch of 3 degenerates to 1 accepted pick per
    // round — the batched loop must still emit the exact strict table, in
    // both modes
    for (floor <- Seq(0L, Long.MaxValue))
      assert(train(chainDir, floor, batch = 3) === expectedChain, s"floor=$floor")
  }

  test("t19 batched merges pack independent pairs into one round with exact counts") {
    // ab x5, cd x3: pairs (a,b)=5 and (c,d)=3 share no symbol, so batch=2
    // accepts both in round 1 — and both recorded counts stay exact (no
    // accepted merge can touch another's adjacencies). The table must
    // equal the strict-greedy one because the ranks are independent.
    val dir = java.nio.file.Files.createTempDirectory("bpe_batch").toString
    val text = (Seq.fill(5)("ab") ++ Seq.fill(3)("cd")).mkString(" ")
    spark.range(1).select(
        col("id").as("doc_id"), lit(text).as("text"),
        lit("en").as("lang"), lit("synth").as("source"),
        lit(text.length.toLong).as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val expected = Seq((1, "a", "b", "ab", 5L), (2, "c", "d", "cd", 3L))
    for (floor <- Seq(0L, Long.MaxValue))
      assert(train(dir, floor, batch = 2) === expected, s"floor=$floor")
  }

  /** Independent reference encoder: the classic min-rank-pair iteration
    * (subword-nmt's apply_bpe) — a genuinely different algorithm from
    * t20's in-order rule fold; their equivalence for learned tables is
    * the property t20's Scaladoc derives.
    */
  private def encodeRef(word: String, ranks: Map[(String, String), Int]): Vector[String] = {
    var syms = word.map(_.toString).toVector
    var done = false
    while (!done && syms.length >= 2) {
      val best = syms.zip(syms.tail).filter(ranks.contains)
        .sortBy(ranks).headOption
      best match {
        case None => done = true
        case Some((l, r)) =>
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              b += (l + r); i += 2
            } else { b += syms(i); i += 1 }
          }
          syms = b.result()
      }
    }
    syms
  }

  test("t20 encode matches the independent min-rank-iteration encoder on the sf corpus") {
    val sf = "/root/testdata/sf0.001"
    val ranks = TextOps.queries("t19_bpe_train")(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(2)) -> r.getInt(0)).toMap
    val got = TextOps.queries("t20_bpe_encode")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val raw = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map { r =>
        val words = r.getString(1).trim.split("\\s+").filter(_.nonEmpty)
        (r.getLong(0), words.length.toLong,
          words.map(w => encodeRef(w, ranks).length.toLong).sum,
          words.map(_.length.toLong).sum)
      }
      .filter(_._2 > 0) // all-whitespace docs have no words and no row
      .sortBy(_._1).toSeq
    assert(got === raw.map(t => (t._1, t._2, t._3)))
    // the table did real work: merges must compress below one-symbol-per-char
    assert(got.map(_._3).sum < raw.map(_._4).sum)
  }

  test("brute-force baseline refuses corpora beyond the declared driver-collect ceiling") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val ex = intercept[IllegalArgumentException] {
      BruteForce.cosinePairs(e, 0.38, maxRows = 3).collect() // tiny ceiling: the sf fixture trips it
    }
    assert(ex.getMessage.contains("d8_embed_lsh_dedup"),
      s"guard must name the scale path: ${ex.getMessage}")
  }
}
