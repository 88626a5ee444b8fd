package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Every engine function reachable from `expr(...)` and `spark.sql`, declared
  * once: SQL name, usage and expression builder. [[graft.GraftExtensions]]
  * injects this list into sessions built with the extension and
  * [[graft.Graft.setup]] registers it into any other session, so a new
  * function is added here and nowhere else. Usage strings follow Spark's
  * `_FUNC_` convention (DESCRIBE FUNCTION substitutes the name).
  */
object Catalog {

  final case class Entry(name: String, usage: String, build: Seq[Expression] => Expression) {
    def info: ExpressionInfo =
      new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")
  }

  /** A literal integer argument (hash count, k). */
  private def intArg(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

  val entries: Seq[Entry] = Seq(
    // hashing (HashFunctions, TextExpressions)
    Entry("graft_hash60", "_FUNC_(s) - 60-bit md5-prefix hash", e => Hash60(e.head)),
    Entry("graft_minhash_sigs", "_FUNC_(shingles[, n]) - n MinHash values (default 8)",
      e => MinHashSigs(e.head, if (e.size > 1) intArg(e(1)) else 8)),
    Entry("graft_minhash_text", "_FUNC_(text[, n]) - n MinHash values over the text's 5-gram shingles (default 8)",
      e => MinHashText(e.head, if (e.size > 1) intArg(e(1)) else 8)),
    Entry("graft_gram_hashes", "_FUNC_(text) - sorted distinct hash60 values of the word 3-grams",
      e => GramHashes(e.head)),
    Entry("graft_sorted_intersect", "_FUNC_(a, b) - |A intersect B| for sorted arrays",
      e => SortedIntersectCount(e(0), e(1))),
    Entry("graft_sig_agree", "_FUNC_(a, b) - positions where two MinHash signatures agree",
      e => SigAgreeCount(e(0), e(1))),
    Entry("graft_simhash_agg", "_FUNC_(h) - 60-bit SimHash aggregate over token hashes",
      e => SimHashAgg(e.head)),
    Entry("graft_kmin", "_FUNC_(h, k) - the k smallest values of a group, ascending (KMV sketch)",
      e => KMinAgg(e.head, intArg(e(1)))),
    Entry("graft_top_bigram", "_FUNC_(tokens) - most frequent bigram and its count",
      e => TopBigramRun(e.head)),
    // vectors (VectorFunctions)
    Entry("graft_dot", "_FUNC_(a, b) - dot product of two double arrays",
      e => DotProduct(e(0), e(1))),
    Entry("graft_dist2", "_FUNC_(a, b) - squared euclidean distance of two double arrays",
      e => SquaredDistance(e(0), e(1))),
    Entry("graft_vecsum_dec", "_FUNC_(array<decimal>) - exact element-wise vector-sum aggregate",
      e => VecSumDec(e.head)),
    Entry("graft_cell_top", "_FUNC_(v, cents, n) - n nearest centroids as sorted array<struct<dist2, cid>>",
      e => CellTopN(e(0), e(1), e(2))),
    // geometry over the packed-ring encoding (GeoExpressions)
    Entry("st_area", "_FUNC_(geom) - shoelace area, holes negative", e => StArea(e.head)),
    Entry("st_bbox", "_FUNC_(geom) - struct(xmin, ymin, xmax, ymax)", e => StBBox(e.head)),
    Entry("st_clip_box", "_FUNC_(geom, xmin, ymin, xmax, ymax) - box clip",
      e => StClipBox(e(0), e(1), e(2), e(3), e(4))),
    Entry("st_clip_area", "_FUNC_(geom, xmin, ymin, xmax, ymax) - area of the clip",
      e => StClipArea(e(0), e(1), e(2), e(3), e(4))),
    Entry("st_contains_point", "_FUNC_(geom, x, y) - even-odd point-in-polygon",
      e => StContainsPoint(e(0), e(1), e(2))),
    Entry("st_reproject", "_FUNC_(geom, src, dst) - closed-form CRS transform",
      e => StReproject(e(0), e(1), e(2))),
    Entry("graft_clip_areas", "_FUNC_(geom, xmin, ymin, xmax, ymax, src, dst) - clip and cell areas in the output CRS",
      e => ClipAreas(e(0), e(1), e(2), e(3), e(4), e(5), e(6))))
}
