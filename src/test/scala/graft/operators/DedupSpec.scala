package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.TestSpark
import graft.functions.HashFunctions

/** LSH behavior specs for the dedup family. The round-1 d5 blocked on
  * `floor(doc_id/100)`, which hides duplicate pairs whose ids land in
  * different blocks; d3/d5 now block on MinHash band buckets (64 hashes,
  * 8 bands of 8), which is similarity-preserving regardless of id layout.
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = TestSpark.spark

  /** Tiny documents table: a near-dup pair whose doc_ids (5, 505) fall in
    * DIFFERENT old id-blocks, plus unrelated filler docs.
    */
  private lazy val fixtureDir: String = {
    val dir = Files.createTempDirectory("graft-dedup").toString
    val base = "the quick brown fox jumps over the lazy dog while seventeen " +
      "green turtles carry umbrellas across the windy bridge toward the old " +
      "lighthouse keeper who waves every single morning without fail"
    val nearDup = base.replace("windy", "stormy")   // one-token edit of base
    val nearDup2 = nearDup.replace("lazy", "bored") // one-token edit of nearDup
    val rows = Seq(
      (5L, base, "en", "web", base.length.toLong),
      (505L, nearDup, "en", "web", nearDup.length.toLong),
      (1505L, nearDup2, "en", "web", nearDup2.length.toLong)) ++
      (0 until 20).map { i =>
        // no shared vocabulary between filler docs: every token is derived
        // from the doc index, so true pairwise similarity is ~0
        val t = (0 until 25).map { w =>
          val h = HashFunctions.hash60(s"filler-$i-$w".getBytes("UTF-8"))
          java.lang.Long.toString(h, 36)
        }.mkString(" ")
        (1000L + i, t, "en", "web", t.length.toLong)
      }
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("d9 merges transitive near-dup chains into one component with the min keeper") {
    val out = Dedup.queries("d9_dedup_groups")(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // 5 ~ 505 ~ 1505 form a chain (5 and 1505 differ by two tokens but are
    // linked through 505) — label propagation must converge them all to
    // component 5, keeping only doc 5
    assert(out(5L) == (5L, true))
    assert(out(505L) == (5L, false), s"505 got ${out(505L)}")
    assert(out(1505L) == (5L, false), s"1505 got ${out(1505L)}")
    // unrelated docs each keep themselves
    assert(out.filter(_._1 >= 1000L).filterNot(_._1 == 1505L)
      .forall { case (id, (comp, kept)) => comp == id && kept })
  }

  test("d5 blocking is similarity-preserving: finds pairs across old id-blocks") {
    val out = Dedup.queries("d5_ngram_jaccard")(spark, fixtureDir).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((5L, 505L)),
      s"near-dup pair (5, 505) spanning id-blocks 0 and 5 must be found; got $pairs")
    val j = out.find(r => r.getLong(0) == 5L && r.getLong(1) == 505L).get.getDouble(4)
    assert(j > 0.8, s"one-token edit should have token-3-gram jaccard > 0.8, got $j")
    // unrelated docs must NOT pair up (the round-1 parameterization paired everything)
    assert(pairs.forall { case (a, b) => a == 5L && b == 505L || (a == 5L || a == 505L) && b == 1505L || !(a >= 1000L && b >= 1000L) },
      s"no unrelated-doc pairs expected, got $pairs")
  }

  test("d3 LSH surfaces the true near-dup with high estimated jaccard") {
    val out = Dedup.queries("d3_minhash_pairs")(spark, fixtureDir).collect()
    val hit = out.find(r => r.getLong(0) == 5L && r.getLong(1) == 505L)
    assert(hit.isDefined, "band buckets must propose the (5, 505) candidate")
    assert(hit.get.getDouble(2) > 0.6,
      s"estimated jaccard over 64 hashes should be high, got ${hit.get.getDouble(2)}")
  }

  test("graft_minhash_sigs(_, 64): first 8 values equal the default-8 signature") {
    graft.Graft.setup(spark)
    val row = spark.sql(
      "SELECT graft_minhash_sigs(array('abcde','bcdef','cdefg')) AS s8, " +
        "graft_minhash_sigs(array('abcde','bcdef','cdefg'), 64) AS s64").collect()(0)
    val s8 = row.getSeq[Long](0); val s64 = row.getSeq[Long](1)
    assert(s8.length == 8 && s64.length == 64)
    assert(s64.take(8) == s8, "affine constants 0..7 are shared, so prefixes must agree")
    assert(HashFunctions.A.length == 64 && HashFunctions.B.length == 64)
    assert(HashFunctions.A.forall(a => a > 0 && a < (1L << 30) && a % 2 == 1))
    assert(HashFunctions.B.forall(b => b >= 0 && b < (1L << 30)))
  }

  test("graft_minhash_text equals the explicit shingle-array formulation") {
    graft.Graft.setup(spark)
    // incl. multibyte (ü, 雨), short (<5 chars) and empty strings
    val samples = Seq("the quick brown fox", "grün über 雨雲 falls", "abc", "", "exact")
    samples.foreach { t =>
      val esc = t.replace("'", "''")
      val row = spark.sql(
        s"""SELECT graft_minhash_text('$esc', 64) AS fused,
           |  graft_minhash_sigs(transform(sequence(1, greatest(length('$esc')-4, 1)),
           |    i -> substring('$esc', i, 5)), 64) AS explicit""".stripMargin).collect()(0)
      assert(row.getSeq[Long](0) == row.getSeq[Long](1), s"mismatch for '$t'")
    }
  }

  test("graft_gram_hashes equals the explicit split/concat formulation") {
    graft.Graft.setup(spark)
    val samples = Seq("the quick brown fox jumps", "  padded   tokens  here now ",
      "grün über 雨雲 falls again", "two tokens", "", "a b c", "x x x x x",
      // leading non-space whitespace: split(trim(s)) yields a LEADING empty
      // token (trim strips spaces only) — the fused scan must replicate it
      "\tstarts with tab here", "\nnewline lead-in text", " \t mixed lead ws",
      "trailing ws inside\t\n")
    samples.foreach { t =>
      val esc = t.replace("'", "''")
      val row = spark.sql(
        s"""SELECT graft_gram_hashes('$esc') AS fused,
           |  CASE WHEN size(split(trim('$esc'), '\\\\s+')) < 3 THEN array()
           |  ELSE sort_array(array_distinct(transform(
           |    sequence(0, size(split(trim('$esc'), '\\\\s+')) - 3),
           |    i -> graft_hash60(concat_ws(' ', split(trim('$esc'), '\\\\s+')[i],
           |      split(trim('$esc'), '\\\\s+')[i+1], split(trim('$esc'), '\\\\s+')[i+2]))))) END
           |  AS explicit""".stripMargin).collect()(0)
      assert(row.getSeq[Long](0) == row.getSeq[Long](1), s"mismatch for '$t'")
    }
  }

  /** Clustered corpus for the d7 scale spec: `nClusters` clusters of 5
    * near-identical docs (base + one appended marker token), no vocabulary
    * shared across clusters — true near-dup pairs grow linearly with
    * nClusters while unrelated cross-cluster pairs only collide at the
    * 15-bit-band noise floor.
    */
  private def clusteredCorpus(nClusters: Int): String = {
    val dir = Files.createTempDirectory(s"graft-d7-scale-$nClusters").toString
    val rows = (0 until nClusters).flatMap { c =>
      val base = (0 until 40).map { w =>
        java.lang.Long.toString(HashFunctions.hash60(s"cl-$c-$w".getBytes("UTF-8")), 36)
      }.mkString(" ")
      (0 until 5).map { i =>
        val t = if (i == 0) base else s"$base marker$i"
        (c * 5L + i, t, "en", "web", t.length.toLong)
      }
    }
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("d7 blocking candidate count grows ~linearly, not quadratically, at 10x corpus") {
    import org.apache.spark.sql.functions.col
    def candidates(dir: String): Long = {
      val sims = Dedup.queries("d4_simhash")(spark, dir).select("doc_id", "simhash")
      Dedup.simhashCandidates(sims).count()
    }
    val small = candidates(clusteredCorpus(60))   // n = 300
    val big = candidates(clusteredCorpus(600))    // n = 3000
    // linear growth: intra-cluster candidates scale with nClusters (x10);
    // the random-collision noise floor is ~4 * C(n,2) / 2^15 (~5 pairs at
    // n=300, ~550 at n=3000), so the observed ratio sits near 11. The
    // round-2 byte-bands (2^8 keys) had a 128x larger noise floor — the same
    // corpora gave a ratio near 60. 15 cleanly separates the two regimes.
    assert(small > 0, "small corpus must produce intra-cluster candidates")
    val ratio = big.toDouble / small
    assert(ratio < 15.0,
      s"candidate growth at 10x corpus should be ~linear, got $small -> $big (ratio $ratio)")
  }

  test("graft_simhash_agg matches a per-bit vote reference computation") {
    val out = Dedup.queries("d4_simhash")(spark, fixtureDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent reference: per-token hash60, +-1 vote per bit, pack majorities
    val texts = Map(5L -> ("the quick brown fox jumps over the lazy dog while seventeen " +
      "green turtles carry umbrellas across the windy bridge toward the old " +
      "lighthouse keeper who waves every single morning without fail"))
    texts.foreach { case (id, text) =>
      val w = graft.functions.SimHashAgg.Width
      val votes = new Array[Int](w)
      text.trim.split("\\s+").foreach { tok =>
        val h = HashFunctions.hash60(tok.getBytes("UTF-8"))
        (0 until w).foreach(b => votes(b) += (if (((h >> b) & 1L) == 1L) 1 else -1))
      }
      val expected = (0 until w).foldLeft(0L)((acc, b) => if (votes(b) > 0) acc | (1L << b) else acc)
      assert(out(id) == expected, s"simhash mismatch for doc $id")
    }
  }

  /** Hand-computable d11 corpus: disjoint token alphabets per case, so the
    * ONLY duplicated 5-grams are the engineered ones.
    *  - doc 1 / doc 2 share one 5-token run (doc 2 repeats it at pos 11);
    *  - doc 4 / doc 5 share a 6-token run -> two OVERLAPPING dup grams whose
    *    merged span must count 6 tokens, not 10;
    *  - doc 6 repeats a run within ITSELF only (occ >= 2 is corpus-total);
    *  - doc 3 shares nothing and must be absent.
    */
  test("d11 merges overlapping duplicated spans and counts within-doc repeats") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-spans").toString
    val rows = Seq(
      (1L, "c1 c2 s1 s2 s3 s4 s5 c3 c4"),
      (2L, "s1 s2 s3 s4 s5 u1 u2 u3 u4 u5 s1 s2 s3 s4 s5"),
      (3L, "x1 x2 x3 x4 x5 x6"),
      (4L, "t1 t2 t3 t4 t5 t6"),
      (5L, "t1 t2 t3 t4 t5 t6 z1"),
      (6L, "r1 r2 r3 r4 r5 q1 r1 r2 r3 r4 r5"))
      .map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.queries("d11_dup_spans")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out.keySet == Set(1L, 2L, 4L, 5L, 6L))
    assert(out(1L) == ((9L, 1L, 5L, 5.0 / 9)))   // single shared gram
    assert(out(2L) == ((15L, 2L, 10L, 10.0 / 15))) // same gram at pos 1 and 11
    assert(out(4L) == ((6L, 2L, 6L, 1.0)))       // overlap merged: 6, not 10
    assert(out(5L) == ((7L, 2L, 6L, 6.0 / 7)))
    assert(out(6L) == ((11L, 2L, 10L, 10.0 / 11))) // within-doc repeat counts
  }

  /** Property fuzz: d11 vs a from-scratch O(n^2) reference on random small
    * corpora (tiny vocabulary -> dense gram collisions, the regime where
    * the window/aggregate reshapes could have drifted).
    */
  test("d11 matches a brute-force span reference on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(0xd11)
    for (trial <- 0 until 8) {
      val vocab = (0 until 3 + rnd.nextInt(5)).map(i => s"w$i")
      val docs = (0 until 8 + rnd.nextInt(8)).map { id =>
        val n = 3 + rnd.nextInt(18)
        (id.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      // reference: count every 5-gram corpus-wide, mark extents, merge
      val grams = docs.flatMap { case (id, t) =>
        val toks = t.split(" ")
        toks.sliding(5).zipWithIndex.collect {
          case (g, i) if g.length == 5 => (g.mkString(" "), id, i)
        }
      }
      val occ = grams.groupBy(_._1).view.mapValues(_.size).toMap
      val expected = grams.filter(g => occ(g._1) >= 2).groupBy(_._2).map {
        case (id, gs) =>
          val starts = gs.map(_._3).sorted
          val covered = starts.foldLeft((0, -10)) { case ((acc, prevEnd), s) =>
            (acc + math.min(5, s + 5 - math.max(prevEnd, s)), s + 5)
          }._1
          val nToks = docs.find(_._1 == id).get._2.split(" ").length
          id -> ((nToks.toLong, gs.size.toLong, covered.toLong,
            covered.toDouble / nToks))
      }
      val dir = Files.createTempDirectory(s"graft-d11-fuzz$trial").toString
      docs.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = Dedup.queries("d11_dup_spans")(spark, dir).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
      assert(got == expected, s"trial $trial: got $got\nexpected $expected")
    }
  }
}
