package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.TestSpark

/** Behavior specs for the round-8 additions. The headline check is t19's
  * driver-vs-distributed gate parity: the two BPE merge-loop modes (collected
  * vocab below the floor, localCheckpoint'ed rounds above it) must produce
  * the identical merge table on the same corpus — the same both-modes
  * contract GraphShuffleGateSpec pins for the PageRank rank-join gate.
  */
class Round8OpsSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def runT19(): Seq[(Int, String, String, String, Long)] =
    merges(TextOps.queries("t19_bpe_train")(spark, sf))

  private def merges(table: DataFrame): Seq[(Int, String, String, String, Long)] =
    table.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq

  test("t19 gate parity: driver-collected and distributed merge loops agree") {
    val driver = runT19() // t19's driver floor: vocab is tiny -> driver path
    assert(driver.nonEmpty && driver.size <= 10)
    // driver floor 0 forces the distributed rounds
    assert(merges(TextOps.bpeTrain(spark, sf, 0L, TextOps.BpeMerges, 1)) === driver)
  }

  test("t19 merges re-derive from a third, array-based greedy implementation") {
    val merges = runT19()
    // independent reference: word freq -> greedy BPE over symbol vectors
    val words = graft.Tables.documents(spark, sf)
      .selectExpr("text").collect().iterator
      .flatMap(_.getString(0).trim.split("\\s+")).filter(_.nonEmpty)
      .foldLeft(Map.empty[String, Long]) { (m, w) => m.updated(w, m.getOrElse(w, 0L) + 1L) }
    var vocab: Map[Vector[String], Long] =
      words.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val expect = Seq.newBuilder[(Int, String, String, String, Long)]
    for (k <- 1 to 10) {
      val counts = vocab.toSeq.flatMap { case (syms, f) =>
        syms.zip(syms.tail).map(p => (p, f))
      }.groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2).sum) }
      if (counts.nonEmpty) {
        val maxN = counts.values.max
        val (l, r) = counts.filter(_._2 == maxN).keys.toSeq.min
        expect += ((k, l, r, l + r, maxN))
        vocab = vocab.toSeq.map { case (syms, f) =>
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              b += (l + r); i += 2
            } else { b += syms(i); i += 1 }
          }
          (b.result(), f)
        }.groupBy(_._1).map { case (s2, xs) => (s2, xs.map(_._2).sum) }
      }
    }
    assert(merges === expect.result())
  }

  test("c4 perceptron re-derives from a driver-side reference implementation") {
    ArtifactCache.invalidate(spark, sf)
    val got = CurationOps.queries("c4_train_perceptron")(spark, sf)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toSeq
    // independent features: same tokenization/quality as the oracled t5
    val stop = Set("the", "a", "of", "and", "to", "in")
    val feats = graft.Tables.documents(spark, sf).select("text").collect().map { r =>
      val t = r.getString(0)
      val toks = t.replaceAll("^ +| +$", "").split("\\s+", -1)
      val nt = toks.length
      val st = toks.count(stop)
      val lg = toks.count(_.length >= 6)
      val punct = t.replaceAll("[a-z0-9 ]", "").length.toDouble / t.length
      val q = math.min(nt / 100.0, 1.0) * 0.4 + (1.0 - punct) * 0.3 +
        math.min(st / 10.0, 1.0) * 0.3
      val y = if (q >= 0.5) 1L else -1L
      (y, Array(1L, nt.toLong, st.toLong, lg.toLong, (t.length / 100).toLong))
    }
    var w = Array.fill(5)(0L)
    val expect = (1 to 4).map { k =>
      val g = Array.fill(5)(0L); var nm = 0L
      feats.foreach { case (y, x) =>
        val m = (0 until 5).map(j => w(j) * x(j)).sum
        if (y * m <= 0) { nm += 1; (0 until 5).foreach(j => g(j) += y * x(j)) }
      }
      w = Array.tabulate(5)(j => w(j) + g(j))
      (k, w(0), w(1), w(2), w(3), w(4), nm)
    }
    assert(got === expect)
    // round 1 misclassifies everything (w = 0 makes every margin a tie)
    assert(got.head._7 == feats.length)
  }

  test("t19 merge rules chain: later rules may consume earlier merged symbols") {
    val merges = runT19()
    val symbolsSoFar = scala.collection.mutable.Set[String]()
    merges.foreach { case (_, l, r, m, _) =>
      // every side is either a single char or a previously-merged symbol
      assert(l.length == 1 || symbolsSoFar.contains(l), s"lhs $l")
      assert(r.length == 1 || symbolsSoFar.contains(r), s"rhs $r")
      assert(m == l + r)
      symbolsSoFar += m
    }
    // merge counts are non-increasing only within equal-support regimes is
    // NOT an invariant of BPE (a merged symbol can create a more frequent
    // pair), but merge_idx must be dense and ordered
    assert(merges.map(_._1) == (1 to merges.size))
  }
}
