package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Blocked all-pairs scan kernel for the DECLARED brute-force baselines.
  *
  * The declarative shape of an exact all-pairs cosine — `crossJoin` +
  * codegen'd dot — is plan-correct but pays the join machinery (row
  * copying, UnsafeArrayData accessors) per pair; at the sf1 gate's 2e8
  * pairs that row overhead is ~10x the floating-point work itself (105.8 s
  * vs DuckDB's SIMD 12.2 s). Brute-force similarity is the textbook case
  * for the guideline's last-resort tier — genuine per-partition imperative
  * logic — so this kernel collects the corpus ONCE into primitive
  * `Array[Double]`s, broadcasts it (n·dim·8 bytes; 10 MB at sf1), and has
  * each task run a tight fused multiply-add loop over its slice of rows.
  *
  * This does NOT change the operator's scale story: an exact all-pairs
  * scan is O(n^2) whatever the constant factor, and the corpus must fit in
  * a broadcast — the 100 TB path remains the LSH-blocked twin (d8) and the
  * ANN family ([[Similarity]] s2/s3/s7). The kernel only makes the
  * accuracy-reference baseline cheap enough to measure against at the
  * gate scales.
  *
  * Oracle-parity contract (hash-compared against DuckDB's
  * `list_cosine_similarity`): summation is index-ascending over
  * min(|a|,|b|) dims exactly like [[graft.functions.DotProduct]]; the
  * cosine is `dot / (na * nb)` with norms `sqrt(dot(v,v))` precomputed
  * per vector (same association order as the previous declarative plan);
  * and the threshold keeps Spark's nan-safe comparison semantics (NaN
  * compares GREATER than any double in Spark and DuckDB both, so a
  * zero-norm vector's NaN cosine passes the filter). One deliberate
  * divergence from the declarative plan: under Spark 4's default ANSI
  * mode a Column-level double division raises DIVIDE_BY_ZERO on a
  * zero-norm vector, where DuckDB's IEEE float division yields NaN — the
  * kernel's JVM division matches the ORACLE (NaN emitted, passes the
  * nan-safe threshold), which is the side the hash compare grades.
  */
object BruteForce {

  /** Default corpus-size ceiling for the driver collect (a spec passes a
    * tiny `maxRows` to trip the guard). 2M rows x 64 dims x 8 B is ~1 GB
    * collected+broadcast — the edge of sane for a declared baseline; beyond
    * it the collect is a silent driver OOM and the answer is the LSH-blocked
    * twin, not a bigger driver.
    */
  private val MaxRows = 2000000L

  /** All unordered pairs (id_a < id_b) with cosine >= threshold over a
    * frame of (vec_id: long, v: array<double>); returns (id_a, id_b, cos)
    * with cos unrounded — callers apply their own `round` so the final
    * decimal rounding stays in one (Spark-expression) place. Rows with a
    * null vector drop out, matching the null-intolerant dot in the
    * declarative plan. A corpus over `maxRows` vectors is refused.
    */
  def cosinePairs(e: DataFrame, threshold: Double, maxRows: Long = MaxRows): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val n0 = e.count()
    require(n0 <= maxRows,
      s"BruteForce.cosinePairs: corpus has $n0 vectors (> $maxRows). The " +
        "exact all-pairs baseline collects the corpus to the driver and is " +
        "O(n^2); at this size use the LSH-blocked scale path instead " +
        "(d8_embed_lsh_dedup / Similarity s2/s3/s7).")
    val sorted = e.select("vec_id", "v").collect()
      .flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) None
        else Some((r.getLong(0), r.getSeq[Double](1).toArray))
      }
      .sortBy(_._1)
    val ids = sorted.map(_._1)
    val vecs = sorted.map(_._2)
    val norms = vecs.map { v =>
      var acc = 0.0; var k = 0
      while (k < v.length) { acc += v(k) * v(k); k += 1 }
      math.sqrt(acc)
    }
    val n = ids.length
    val bc = s.sparkContext.broadcast((ids, vecs, norms))
    // Row r contributes n-1-r pairs, so contiguous row ranges are skewed;
    // pairing row i with its mirror n-1-i gives every task unit exactly
    // n-1 pairs — perfectly level without a shuffle.
    val half = (n + 1) / 2
    val parts = math.min(math.max(s.sparkContext.defaultParallelism * 4, 1), math.max(half, 1))
    s.range(0, half.toLong, 1, parts)
      .mapPartitions { it =>
        val (ids, vecs, norms) = bc.value
        val n = ids.length
        it.flatMap { boxed =>
          val i = boxed.toInt
          val mirror = n - 1 - i
          // hit density is low (~1e-3 of pairs), so the only per-pair work
          // is the primitive dot loop — no Option/iterator allocation in
          // the 2e8-iteration hot path, hits buffer per row
          val hits = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          var ri = 0
          while (ri < 2) {
            val r = if (ri == 0) i else mirror
            if (ri == 0 || mirror != i) {
              val vr = vecs(r); val nr = norms(r); val idr = ids(r)
              var j = r + 1
              while (j < n) {
                val vj = vecs(j)
                val m = math.min(vr.length, vj.length)
                var acc = 0.0; var k = 0
                while (k < m) { acc += vr(k) * vj(k); k += 1 }
                val cos = acc / (nr * norms(j))
                // nan-safe >=: Spark's BinaryComparison sorts NaN greatest
                if (cos >= threshold || java.lang.Double.isNaN(cos))
                  hits += ((idr, ids(j), cos))
                j += 1
              }
            }
            ri += 1
          }
          hits.iterator
        }
      }
      .toDF("id_a", "id_b", "cos")
  }
}
