package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.TestSpark

/** Behavior specs for the round-5 additions: the convergence-driven
  * PageRank twin (n1 stays the oracled fixed-3 unroll) and the
  * ArtifactCache build/hit observability counters.
  */
class Round5OpsSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("convergent PageRank at 3 capped rounds is bit-identical to the n1 unroll") {
    // epsFp=0 never converges early, so exactly maxIters=3 rounds run — the
    // loop body must then reproduce the oracled fixed-3 unroll bit-for-bit
    // (same integer fixed-point arithmetic, same top-20 projection)
    val (conv, iters) = GraphOps.pageRankConverged(spark, sf, epsFp = 0L, maxIters = 3)
    assert(iters === 3)
    val fixed = GraphOps.queries("n1_pagerank")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val got = conv.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === fixed.toSeq)
  }

  test("convergent PageRank reaches quiescence before the iteration cap") {
    // damping 0.85 contracts per-round deltas geometrically (~0.85/round),
    // so a 1e-9 relative tolerance (1000 fixed-point units of 10^-12) needs
    // ~ln(delta0/eps)/0.1625 ≈ 100 rounds from a uniform start — well under
    // the 200-round cap on any connected bench graph
    val (conv, iters) = GraphOps.pageRankConverged(spark, sf, epsFp = 1000L, maxIters = 200)
    assert(iters > 3, s"suspiciously fast convergence ($iters rounds)")
    assert(iters < 200, s"hit the iteration cap without converging")
    val rows = conv.collect()
    assert(rows.length === 20)
    // converged ranks agree with the 3-round unroll to the coarse ordering:
    // the top node is already separated after 3 rounds on this fixture
    val fixedTop = GraphOps.queries("n1_pagerank")(spark, sf).collect()(0).getString(0)
    assert(rows(0).getString(0) === fixedTop)
  }

  test("ArtifactCache counts builds once and hits thereafter, with build time attributed") {
    ArtifactCache.invalidateAll()
    ArtifactCache.resetStats()
    var built = 0
    def make() = ArtifactCache.getOrElseUpdate("spec.probe", spark, sf) {
      built += 1
      Thread.sleep(5)
      spark.range(3).toDF("id")
    }
    make(); make(); make()
    assert(built === 1)
    val s = ArtifactCache.statsSnapshot(s"spec.probe@${new java.io.File(sf).getName}")
    assert(s.builds === 1)
    assert(s.hits === 2)
    assert(s.buildMillis >= 5, s"build time ${s.buildMillis}ms lost")
    // no nested artifact builds inside the probe closure -> self == total
    assert(s.selfMillis === s.buildMillis)
    ArtifactCache.invalidateAll()
    ArtifactCache.resetStats()
  }

  test("d6's blocked kernel is bit-identical to the declarative crossJoin plan") {
    val kernel = Dedup.queries("d6_embed_cosine")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val reference = Dedup.d6CrossJoinReference(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(kernel.length === reference.length)
    // tuple equality is bitwise for the rounded cosine: both sides must have
    // summed in the same index order and divided with the same association
    assert(kernel.toSeq === reference.toSeq)
    assert(kernel.nonEmpty, "fixture produced no near-dup pairs — vacuous parity")
  }

  test("kernel matches the declarative plan on randomized adversarial corpora") {
    import spark.implicits._
    graft.Graft.setup(spark)
    // hand-rolled property loop (no scalatestplus in this env): xorshift-mixed
    // deterministic vectors with adversarial shapes — unequal dims (dot over
    // min length), exact duplicates (cos exactly 1), sparse ids. No
    // zero-norm vectors HERE: under Spark 4's default ANSI mode the
    // declarative plan raises DIVIDE_BY_ZERO on them, while the kernel
    // (like the DuckDB oracle's IEEE float division) yields NaN — that
    // kernel-matches-the-oracle edge has its own test below.
    var seed = 0x9e3779b97f4a7c15L
    def next(): Long = { seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17; seed }
    for (trial <- 0 until 3) {
      val n = 12 + trial * 7
      val rows = (0 until n).map { i =>
        val id = i.toLong * 7 + (next() & 3) // sparse, strictly increasing
        val dim = 3 + (next() & 3).toInt
        val v = Array.fill(dim) {
          val x = (next() % 1000) / 250.0
          if (x == 0.0) 0.5 else x // keep norms nonzero
        }
        (id, v)
      }
      // duplicate one vector under a higher id: cosine exactly 1.0
      val dup = rows.map(_._2).find(_.nonEmpty).map(v => Seq((9999L, v.clone()))).getOrElse(Nil)
      val e = (rows ++ dup).toDF("vec_id", "v")
      val kernel = BruteForce.cosinePairs(e, 0.38)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(p => (p._1, p._2))
      val ee = e.withColumn("nrm", org.apache.spark.sql.functions.sqrt(
        org.apache.spark.sql.functions.expr("graft_dot(v, v)")))
      val a = ee.selectExpr("vec_id AS id_a", "v AS ad", "nrm AS na")
      val b = ee.selectExpr("vec_id AS id_b", "v AS bd", "nrm AS nb")
      val reference = a.crossJoin(b).where($"id_a" < $"id_b")
        .withColumn("cos", org.apache.spark.sql.functions.expr("graft_dot(ad, bd)") / ($"na" * $"nb"))
        .where($"cos" >= 0.38)
        .select("id_a", "id_b", "cos")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(p => (p._1, p._2))
      // NaN != NaN under ==, so compare ids + bit patterns
      assert(kernel.map(p => (p._1, p._2)).toSeq === reference.map(p => (p._1, p._2)).toSeq,
        s"trial $trial pair sets differ")
      val kBits = kernel.map(p => java.lang.Double.doubleToLongBits(p._3)).toSeq
      val rBits = reference.map(p => java.lang.Double.doubleToLongBits(p._3)).toSeq
      assert(kBits === rBits, s"trial $trial cosine bit patterns differ")
      assert(kernel.nonEmpty, s"trial $trial vacuous (no pairs above threshold)")
    }
  }

  test("kernel keeps Spark's nan-safe threshold: a zero-norm vector's NaN cosine passes") {
    import spark.implicits._
    // vec 1 is all-zero: cos(1, j) = 0/0 = NaN, which the nan-safe >= sorts
    // GREATER than the threshold. The kernel mirrors the DuckDB oracle's
    // IEEE division here (NaN emitted, pair kept); the old declarative plan
    // would instead raise DIVIDE_BY_ZERO under Spark 4's default ANSI mode
    val e = Seq(
      (1L, Array(0.0, 0.0, 0.0)),
      (2L, Array(1.0, 0.0, 0.0)),
      (3L, Array(1.0, 1e-6, 0.0))).toDF("vec_id", "v")
    val got = BruteForce.cosinePairs(e, 0.38).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2))
    assert(got.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(got.take(2).forall(p => p._3.isNaN), s"zero-norm pairs must carry NaN, got $got")
    assert(got(2)._3 > 0.38)
  }
}
