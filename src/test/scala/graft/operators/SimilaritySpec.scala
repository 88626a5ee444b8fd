package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.core.TestSpark

/** ANN quality: the bucketed variants must actually retrieve most of the
  * true top-k — per-query VALUES are already oracle-checked; this pins
  * retrieval QUALITY so a parameter change can't silently degrade recall
  * while staying hash-consistent with its own oracle. Ground truth is an
  * independent driver-side brute force over the (tiny) embedding corpus.
  */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.01"

  private lazy val corpus: Map[Long, Array[Double]] =
    spark.read.parquet(s"$sfDir/embeddings.parquet").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }

  private def bruteTop(qids: Seq[Long], k: Int): Map[Long, Set[Long]] =
    qids.map { q =>
      q -> corpus.toSeq.filter(_._1 != q)
        .map { case (id, v) => (cosine(corpus(q), v), id) }
        .sortBy { case (c, id) => (-c, id) }.take(k).map(_._2).toSet
    }.toMap

  private def got(name: String): Map[Long, Set[Long]] =
    Similarity.queries(name)(spark, sfDir).collect()
      .map(r => (r.getAs[Number]("qid").longValue(), r.getAs[Number]("cid").longValue()))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  private def recall(res: Map[Long, Set[Long]], truth: Map[Long, Set[Long]]): Double = {
    val per = truth.map { case (q, t) =>
      res.get(q).map(g => (g intersect t).size.toDouble / t.size).getOrElse(0.0)
    }
    per.sum / per.size
  }

  test("LSH ANN recall@3 vs brute-force ground truth") {
    // the fixed query batch has only weak neighbors (cos ~0.3, near the
    // random-vector noise floor) — single-table sign-LSH scores 0.0 here;
    // the multi-table construction must stay clearly above that
    val r = recall(got("s2_lsh_ann"), bruteTop(Seq(100L, 101L, 102L, 103L, 104L), 3))
    assert(r >= 0.15, s"LSH recall degraded to $r")
  }

  test("multi-table LSH keys cover most genuinely-similar pairs (cos >= 0.38)") {
    // independent driver-side re-derivation of the (4 tables x nbits)
    // construction: a near-dup pair must share a key in SOME table for the
    // dedup path to ever see it. Key width is corpus-scaled
    // (clamp(4, 24, ceil(log2(ceil(n/32))))); at this fixture's n=500 that
    // is exactly 4 bits, which this re-derivation hardcodes
    val planes = (0 until 16).map(i => corpus(i.toLong))
    def sig(v: Array[Double]): Int =
      planes.zipWithIndex.map { case (p, i) =>
        val dot = (p, v).zipped.map(_ * _).sum
        if (dot > 0) 1 << i else 0
      }.sum
    val sigs = corpus.view.mapValues(sig).toMap
    def shareTable(a: Long, b: Long): Boolean =
      (0 until 4).exists(t => ((sigs(a) >> (t * 4)) & 15) == ((sigs(b) >> (t * 4)) & 15))
    val strongPairs = for {
      (ia, va) <- corpus.toSeq; (ib, vb) <- corpus.toSeq if ia < ib
      if cosine(va, vb) >= 0.38
    } yield (ia, ib)
    assert(strongPairs.nonEmpty)
    val covered = strongPairs.count { case (a, b) => shareTable(a, b) }
    val rate = covered.toDouble / strongPairs.size
    assert(rate >= 0.45, s"strong-pair key coverage degraded to $rate (${strongPairs.size} pairs)")
  }

  test("IVF ANN recall@3 vs brute-force ground truth") {
    val r = recall(got("s3_ivf_ann"), bruteTop(Seq(200L, 201L, 202L, 203L, 204L), 3))
    assert(r >= 0.4, s"IVF recall degraded to $r")
  }

  test("brute-force top-k (s1) agrees exactly with the independent ground truth") {
    val truth = bruteTop(Seq(0L, 1L, 2L, 3L, 4L), 10)
    assert(recall(got("s1_cosine_topk"), truth) == 1.0)
  }

  test("s8 recall measurement matches an independent driver-side re-derivation (lsh)") {
    // same independent sig re-derivation as the key-coverage test (n=500 →
    // nbits=4 hardcoded): the LSH rows of s8 must report EXACTLY the
    // candidate-set size and top-10 intersection that the re-derived tables
    // imply — the measurement itself is being measured here, not just its
    // oracle parity
    val planes = (0 until 16).map(i => corpus(i.toLong))
    def sig(v: Array[Double]): Int =
      planes.zipWithIndex.map { case (p, i) =>
        val dot = (p, v).zipped.map(_ * _).sum
        if (dot > 0) 1 << i else 0
      }.sum
    val sigs = corpus.view.mapValues(sig).toMap
    def shareTable(a: Long, b: Long): Boolean =
      (0 until 4).exists(t => ((sigs(a) >> (t * 4)) & 15) == ((sigs(b) >> (t * 4)) & 15))
    val truth = bruteTop(Seq(100L, 101L, 102L, 103L, 104L), 10)
    val rows = Similarity.queries("s8_ann_recall")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getAs[Number]("qid").longValue(),
        r.getAs[Number]("cand_n").longValue(), r.getAs[Number]("hit_n").longValue(),
        r.getAs[Number]("recall_r").doubleValue()))
    assert(rows.length == 10 && rows.count(_._1 == "lsh") == 5)
    rows.foreach { case (_, _, candN, hitN, recallR) =>
      assert(hitN <= candN && hitN <= 10)
      assert(math.abs(recallR - hitN / 10.0) < 1e-9)
    }
    rows.filter(_._1 == "lsh").foreach { case (_, qid, candN, hitN, _) =>
      val cand = corpus.keySet.filter(c => c != qid && shareTable(qid, c))
      assert(candN == cand.size, s"qid=$qid cand_n $candN != rederived ${cand.size}")
      assert(hitN == (cand intersect truth(qid)).size, s"qid=$qid hit_n mismatch")
    }
  }

  test("e2 SemDeDup keep/drop flags are consistent with the drop rule") {
    // independent driver-side re-check: given the query's cluster
    // assignment, a vector must be dropped IFF some smaller-id vector in
    // its cluster has cosine >= 0.38 with it (cosines recomputed here from
    // the raw corpus, not taken from the query)
    val rows = Similarity.queries("e2_semdedup")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getAs[Number]("cluster").longValue(), r.getBoolean(2)))
    assert(rows.length == corpus.size, "every vector must be classified")
    val dropped = rows.count(!_._3)
    assert(dropped > 0, "fixture has cosine>=0.38 cluster-mates; some drops expected")
    rows.groupBy(_._2).foreach { case (_, members) =>
      val sorted = members.sortBy(_._1)
      sorted.zipWithIndex.foreach { case ((id, _, kept), i) =>
        val hasCloseSmaller = sorted.take(i).exists { case (pid, _, _) =>
          cosine(corpus(pid), corpus(id)) >= 0.38
        }
        assert(kept == !hasCloseSmaller, s"vec $id: kept=$kept but closeSmaller=$hasCloseSmaller")
      }
    }
  }

  test("s4 int8 quantization keeps cosine error small and recall high") {
    val rows = Similarity.queries("s4_scalar_quant")(spark, sfDir).collect()
    assert(rows.length == 15)
    // 8-bit codes over a [min,max] grid: per-dim error <= range/254, cosine
    // error empirically well under 2% on unit-ish vectors
    rows.foreach { r =>
      val err = r.getAs[Double]("abs_err_r")
      assert(err < 0.02, s"quantized cosine drifted by $err")
    }
    val r = recall(
      Similarity.queries("s4_scalar_quant")(spark, sfDir).collect()
        .map(x => (x.getAs[Number]("qid").longValue(), x.getAs[Number]("cid").longValue()))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap,
      bruteTop(Seq(0L, 1L, 2L, 3L, 4L), 3))
    assert(r >= 0.8, s"int8 ANN recall@3 degraded to $r")
  }

  test("LSH key width scales with the corpus so buckets stay bounded at 40x") {
    // 20k synthetic vectors (40x the fixture): nbits must follow
    // clamp(4, 24, bitlength(ceil(n/32) - 1)) = 10, and the realized
    // buckets must stay near n / 2^nbits — the property that keeps the
    // band self-join from degenerating toward a cross product at scale
    import spark.implicits._
    graft.Graft.setup(spark)
    val n = 20000
    val dim = 8
    // splitmix64-mixed coordinates: near-uniform, unlike a linear lattice
    // (a lattice IS adversarial for sign-LSH — half the corpus lands in one
    // bucket — which is the documented residual risk, not the normal case)
    def mix(x0: Long): Long = {
      var z = x0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val vecs = (0 until n).map { i =>
      (i.toLong, Array.tabulate(dim)(d => (mix(i.toLong * dim + d) % 1000) / 1000.0))
    }.toDF("vec_id", "v")
    val keyed = Similarity.lshKeys(vecs)
    val rows = keyed.collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getLong(2)))
    assert(rows.length == n * 4, "4 tables per vector")
    val maxKey = rows.map(_._3).max
    assert(maxKey < (1L << 10) && maxKey >= (1L << 9),
      s"nbits should be 10 at n=20000, max observed key $maxKey")
    val buckets = rows.groupBy(t => (t._2, t._3)).map(_._2.size)
    val mean = n.toDouble / (1 << 10)
    assert(buckets.max <= mean * 40,
      s"worst bucket ${buckets.max} vs mean $mean — re-blocking needed")
  }

  test("s5 PQ-ADC approximation error is bounded and recall stays useful") {
    val rows = Similarity.queries("s5_pq_adc")(spark, sfDir).collect()
    assert(rows.length == 15)
    // 4 subspaces x 16 codes is a coarse 128x compression, and the fixture's
    // near-isotropic vectors are PQ's worst case (no cluster structure for
    // the codebooks to exploit) — observed drift peaks ~0.31; the pin guards
    // regression toward noise (cos spans [-1, 1], so 0.45 is still signal)
    rows.foreach { r =>
      val err = r.getAs[Double]("abs_err_r")
      assert(err < 0.45, s"PQ cosine drifted by $err")
    }
    val r = recall(
      rows.map(x => (x.getAs[Number]("qid").longValue(), x.getAs[Number]("cid").longValue()))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap,
      bruteTop(Seq(0L, 1L, 2L, 3L, 4L), 3))
    assert(r >= 0.25, s"PQ ANN recall@3 degraded to $r")
  }

  test("whale-bucket cap bounds the self-join even on an adversarial lattice corpus") {
    // a linear lattice concentrates sign-LSH keys (half the corpus behind
    // one key); without the cap the band self-join is quadratic. With it,
    // candidate pairs stay bounded by cap^2 x #buckets.
    import spark.implicits._
    graft.Graft.setup(spark)
    val n = 4000
    val vecs = (0 until n).map { i =>
      (i.toLong, Array.tabulate(8)(d => (((i * 761L + d * 503L) % 1000) - 500) / 500.0))
    }.toDF("vec_id", "v")
    val keyed = Similarity.lshKeys(vecs)
    val buckets = keyed.groupBy("tbl", "key").count().collect().map(_.getLong(2))
    assert(buckets.max > 256, s"fixture must actually contain a whale, max=${buckets.max}")
    val cands = Dedup.embedCandidatePairs(keyed).count()
    val bound = buckets.count(_ <= 256).toLong * 256L * 256L
    assert(cands <= bound, s"$cands pairs exceeds the capped bound $bound")
    assert(cands < n.toLong * n / 20, s"$cands pairs is still near-quadratic for n=$n")
  }

  test("quantizer training sample is deterministic, hash-ruled and corpus-bounded") {
    // exercise the rate > 1 branch that production corpus sizes hit (the
    // verify SFs stay under the TrainPerCell * k budget, so force a rate
    // here): the sample must follow the portable-hash residue rule exactly
    // and be identical across evaluations
    import org.apache.spark.sql.functions._
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val params = spark.sql("SELECT 8 AS k, 500L AS n, 5 AS rate")
    val ids = Similarity.trainSample(vecs, params)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    val ids2 = Similarity.trainSample(vecs, params)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(ids2), "sample must be deterministic")
    assert(ids.length > 0 && ids.length < 250,
      s"rate-5 sample should be ~1/5 of 500 vecs, got ${ids.length}")
    // independent re-derivation of the residue rule
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val expected = (0L until 500L).filter(i => h60(i.toString) % 5 == 0).toArray
    assert(ids.sameElements(expected), "sample must follow the portable-hash residue rule")
  }
}
