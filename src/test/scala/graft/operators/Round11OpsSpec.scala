package graft.operators

import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.TestSpark

/** Round-11 additions: t23 materialized pack sequences — the per-pack
  * token-id tensors a training job memory-maps. The reference here is a
  * DRIVER-SIDE assembly from first principles: collect the per-doc id
  * sequences, concatenate each shard's stream in doc_id order, and cut it
  * into PackSize chunks — then every t23 row (counts, boundary ids, and the
  * full-sequence hash) must agree. The DuckDB oracle checks the same
  * contract against an independent engine; this spec checks it against an
  * independent FORMULATION simple enough to eyeball.
  */
class Round11OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val P = TextOps.PackSize // the engine's constant, not a copy of it

  private lazy val t23 = TextOps.queries("t23_pack_sequences")(spark, sf)
    .collect()
    .map(r => (r.getInt(0), r.getInt(1)) ->
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    .toMap

  // driver-side reference: shard streams cut into P-sized chunks
  private lazy val reference: Map[(Int, Int), (Long, Seq[Long])] = {
    val seqs = TextOps.docIdSeqs(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val layout = TextOps.queries("t22_pack_bpe")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1))) // (doc_id, shard)
    layout.groupBy(_._2).iterator.flatMap { case (shard, rows) =>
      val docs = rows.map(_._1).sorted
      val stream = docs.flatMap(seqs(_))
      // doc start offsets -> per-pack overlapping-doc counts
      val starts = docs.scanLeft(0L)((acc, d) => acc + seqs(d).size).init
      val spans = docs.zip(starts).map { case (d, st) => (st, st + seqs(d).size) }
      stream.grouped(P).zipWithIndex.map { case (chunk, pi) =>
        val lo = pi.toLong * P
        val hi = lo + chunk.size
        val nDocs = spans.count { case (a, b) => a < hi && b > lo }
        (shard, pi) -> (nDocs.toLong, chunk.toSeq)
      }
    }.toMap
  }

  test("t23 pack set, counts, and boundary ids match the driver-side assembly") {
    assert(t23.keySet === reference.keySet, "pack (shard, pack_id) key sets differ")
    reference.foreach { case (k, (nDocs, chunk)) =>
      val (gotDocs, gotTokens, first, last, _) = t23(k)
      assert(gotDocs === nDocs, s"$k: n_docs")
      assert(gotTokens === chunk.size.toLong, s"$k: n_tokens")
      assert(first === chunk.head, s"$k: first_id")
      assert(last === chunk.last, s"$k: last_id")
    }
  }

  test("t23 full-sequence hashes match the driver-side assembly") {
    graft.Graft.setup(spark)
    import spark.implicits._
    val want = reference.toSeq
      .map { case ((shard, pi), (_, chunk)) => (shard, pi, chunk.mkString(",")) }
      .toDF("shard", "pack_id", "joined")
      .select(col("shard"), col("pack_id"), expr("graft_hash60(joined)").as("h"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    want.foreach { case (k, h) =>
      assert(t23(k)._5 === h, s"$k: ids_h diverges from reference assembly")
    }
  }

  test("every pack except the last of its shard holds exactly PackSize ids") {
    val byShard = t23.keys.groupBy(_._1)
    byShard.foreach { case (shard, ks) =>
      val maxPack = ks.map(_._2).max
      ks.foreach { case (_, pi) =>
        val n = t23((shard, pi))._2
        if (pi < maxPack) assert(n === P.toLong, s"shard $shard pack $pi not full")
        else assert(n >= 1L && n <= P.toLong, s"shard $shard final pack size $n")
      }
    }
  }

  test("pack token totals conserve the per-doc totals of the t22 layout") {
    val packTotal = t23.values.map(_._2).sum
    val docTotal = TextOps.queries("t22_pack_bpe")(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_tokens")).collect()(0).getLong(0)
    assert(packTotal === docTotal)
  }
}
