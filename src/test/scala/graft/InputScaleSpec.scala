package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TestSpark
import graft.operators.{ArtifactCache, Dedup}

/** The one input-size policy: footer row counts are exact, the lookup runs
  * no Spark job, every gate lands on the same side as the count()-based
  * gates it replaced, and a large table's lookup stops at the floor. */
class InputScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val testdata = "/root/testdata" // TESTDATA.md
  private val scales = Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"$testdata/$sf")
    .filter(d => new java.io.File(s"$d/documents.parquet").exists())
  private val sized = Seq("documents", "embeddings", "lineitem", "orders")

  private def files(d: String, t: String): Seq[String] = Tables.table(spark, d, t).inputFiles.toSeq

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  test("footer row counts equal count() at every local scale") {
    assume(scales.nonEmpty)
    for (d <- scales; t <- sized) {
      val (rows, read) = InputScale.footerRows(spark, files(d, t), Long.MaxValue)
      assert(rows == Tables.table(spark, d, t).count(), s"$d/$t")
      assert(read == files(d, t).size)
    }
  }

  test("the lookup submits no Spark job") {
    assume(scales.nonEmpty)
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    }
    val sc = spark.sparkContext
    // the frames are resolved first: InputScale reads the files behind them
    for (d <- scales; t <- sized) files(d, t)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("input-scale-lookup", "lookup")
      for (d <- scales) {
        for (t <- sized) InputScale.footerRows(spark, files(d, t), Long.MaxValue)
        InputScale.smallDocs(spark, d); InputScale.smallVecs(spark, d)
        InputScale.smallTradeGraph(spark, d)
      }
      // a sentinel job: the bus delivers job starts in order, so once the
      // sentinel is seen every job the lookup could have started was too
      sc.setJobGroup("input-scale-sentinel", "sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains("input-scale-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains("input-scale-sentinel"), "listener never saw the sentinel job")
      assert(!seen.contains("input-scale-lookup"), "the footer lookup ran a Spark job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("every gate decides as the count()-based gates did") {
    assume(scales.nonEmpty)
    val cores = spark.sparkContext.defaultParallelism
    for (d <- scales) {
      def count(t: String) = Tables.table(spark, d, t).count()
      // the replaced gates: Dedup/TextOps documents < 1M, Similarity
      // embeddings < 1M, GraphOps 2 * lineitem < 10M edges
      assert(InputScale.smallDocs(spark, d) == (count("documents") < 1000000L), d)
      assert(InputScale.smallVecs(spark, d) == (count("embeddings") < 1000000L), d)
      assert(InputScale.smallTradeGraph(spark, d) == (2 * count("lineitem") < 10000000L), d)
      // the differential twins' old gates: observed edge counts < 10M
      val tradeEdges = 2 * Tables.lineitem(spark, d)
        .join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
        .select("o_custkey", "l_suppkey").distinct().count()
      assert(InputScale.smallTradeGraph(spark, d) == (tradeEdges < 10000000L), d)
      val dupEdges = Dedup.scoredPairs(spark, d).where(col("est_jaccard") >= 0.7).count()
      assert(InputScale.smallDocs(spark, d) == (dupEdges < 10000000L), d)
      // every local scale is on the small side of every gate
      assert(InputScale.smallDocs(spark, d) && InputScale.smallVecs(spark, d) &&
        InputScale.smallTradeGraph(spark, d), d)
      // the scan floor: re-spread iff the bare scan has <= half the cores
      for (t <- InputScale.ScanFloorKeys.keys) {
        val fires = spark.read.parquet(s"$d/$t.parquet").rdd.getNumPartitions * 2 <= cores
        val spread = InputScale.spread(spark, d, t, spark.read.parquet(s"$d/$t.parquet"))
        assert(spread.queryExecution.executedPlan.toString.contains("Exchange") == fires, s"$d/$t")
      }
    }
    assert(InputScale.smallGraph(InputScale.EdgeFloor - 1) && !InputScale.smallGraph(InputScale.EdgeFloor))
  }

  test("a multi-file table above the floor reads fewer footers than it has files") {
    val dir = Files.createTempDirectory("graft-input-scale").toFile
    try {
      // 3 files of 500k rows: the floor (1M) is reached after the 2nd footer
      spark.range(0, 1500000, 1, 3).withColumnRenamed("id", "doc_id")
        .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
      val d = dir.getAbsolutePath
      val fs = files(d, "documents")
      assert(fs.size == 3)
      val (rows, read) = InputScale.footerRows(spark, fs, InputScale.TableRowFloor)
      assert(read == 2 && read < fs.size, s"read $read of ${fs.size} footers")
      assert(rows >= InputScale.TableRowFloor && rows < 1500000L)
      assert(!InputScale.smallDocs(spark, d))
    } finally rm(dir)
  }

  test("InputScale restores the session's AQE conf after a gated build") {
    val sf = s"$testdata/sf0.001"
    val k = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(k)
    // sf0.001 is far below every family floor, so these builds run gated
    ArtifactCache.invalidateAll()
    Dedup.componentLabels(spark, sf).count()
    assert(spark.conf.get(k) == before, "conf leaked after a successful build")
    // and the off-state is genuinely applied inside the gate
    var seen: String = null
    InputScale.withAqeOffWhen(spark, small = true) { seen = spark.conf.get(k) }
    assert(seen == "false")
    assert(spark.conf.get(k) == before)
    // failure path restores too
    intercept[RuntimeException] {
      InputScale.withAqeOffWhen(spark, small = true)(throw new RuntimeException("boom"))
    }
    assert(spark.conf.get(k) == before)
  }
}
