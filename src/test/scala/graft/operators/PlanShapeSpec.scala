package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.TestSpark

/** Plan-shape assertions for the scale claims PLANS.md makes: these pin the
  * PHYSICAL plan, so a refactor that silently reintroduces a shuffle (or an
  * interpreted UDF) into a hot path fails loudly here even though results —
  * and therefore the DuckDB oracles — would stay identical.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.01"

  private def executed(name: String): DataFrame = {
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.write.format("noop").mode("overwrite").save() // finalize AQE
    df
  }

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The Tables scan-parallelism floor's exchange, identified STRUCTURALLY
    * (r13 ADVICE: the old regex subtracted EVERY REPARTITION_BY_* tag, so an
    * operator-level keyed repartition — the exact accident these tests
    * exist to catch — would have been invisible): an explicit repartition
    * sitting directly over a bare base-table file scan (no exchange, join
    * or aggregate below it), hash-keyed on one of the floored tables'
    * primary keys ([[graft.InputScale.ScanFloorKeys]]) into exactly the
    * default parallelism (the floor always re-spreads to session width).
    * Anything else — including a future operator repartition on its own
    * key — counts as a real exchange again. */
  private val floorKeys = graft.InputScale.ScanFloorKeys.values.flatten.toSet
  private def isScanFloor(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange._
    p match {
      case e: ShuffleExchangeExec
          if e.shuffleOrigin == REPARTITION_BY_NUM || e.shuffleOrigin == REPARTITION_BY_COL =>
        val keysOk = e.outputPartitioning match {
          case h: HashPartitioning =>
            h.numPartitions == spark.sparkContext.defaultParallelism &&
              h.expressions.forall {
                case a: org.apache.spark.sql.catalyst.expressions.Attribute =>
                  floorKeys(a.name)
                case _ => false
              }
          case _ => false
        }
        val below = graft.tools.PlanAudit.liveNodes(e.child)
        keysOk && below.exists(_.isInstanceOf[FileSourceScanExec]) &&
          !below.exists(n => n.isInstanceOf[ShuffleExchangeLike] ||
            n.isInstanceOf[BroadcastExchangeLike] ||
            n.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec] ||
            n.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
      case _ => false
    }
  }

  /** Live exchanges (shuffle + broadcast + reuse markers, the same node set
    * the old string count saw) excluding only the structurally-identified
    * scan-floor repartitions. */
  private def countExchanges(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.exchange._
    graft.tools.PlanAudit.liveNodes(df.queryExecution.executedPlan).count {
      case e: ShuffleExchangeLike => !isScanFloor(e)
      case _: BroadcastExchangeLike => true
      case _: ReusedExchangeExec => true
      case _ => false
    }
  }

  test("t8 repetition signals shuffle only for the final deterministic sort") {
    val df = executed("t8_gopher_repetition")
    val plan = planOf(df)
    // one exchange: the output ORDER BY. The signal computation itself is
    // row-local (array fold) — no aggregation exchange may appear.
    assert(countExchanges(df) <= 1,
      s"t8 must stay row-local except the final sort, plan was:\n$plan")
    // an explode+groupBy bigram pipeline would reappear as a Generate node
    assert(!plan.contains("Generate"),
      s"t8 must not re-grow an explode+groupBy bigram pipeline, plan was:\n$plan")
  }

  test("Lloyd assignment is a projection — no exchange between scan and argmin") {
    import spark.implicits._
    graft.Graft.setup(spark)
    val vecs = (0 until 100)
      .map(i => (i.toLong, Array.tabulate(8)(d => (i * 31 + d) % 7 * 1.0)))
      .toDF("vec_id", "v")
    val cents = (0 until 4).map(i => (i.toLong, Array.tabulate(8)(_ * 1.0 + i)))
      .toDF("cid", "c")
    val assigned = Clustering.assignStep(vecs, cents)
    val plan = assigned.queryExecution.executedPlan.toString
    // the corpus branch (everything rendered BEFORE the BroadcastExchange
    // subtree) must contain no exchange at all: a reintroduced crossJoin +
    // groupBy assignment renders a bare "Exchange hashpartitioning" there.
    // The centroid-fold's own single-partition exchange (k rows, inside the
    // broadcast subtree) is the only one permitted anywhere. (String counts
    // are fine here: no Tables scan, so no floor exchange can appear.)
    def strExchanges(s: String): Int = "(?i)exchange".r.findAllIn(s).size
    assert(plan.contains("BroadcastExchange"), "centroids must ride a broadcast")
    val corpusBranch = plan.substring(0, plan.indexOf("BroadcastExchange"))
    assert(strExchanges(corpusBranch) == 0,
      s"assignment must not shuffle the corpus, plan was:\n$plan")
    val bareShuffles = strExchanges(plan) - "BroadcastExchange".r.findAllIn(plan).size
    assert(bareShuffles <= 1,
      s"only the k-row centroid fold may exchange ($bareShuffles found), plan was:\n$plan")
    assert(assigned.count() == 100)
  }

  test("a9 KMV takes per-partition k-minima (TakeOrderedAndProject), never a full sort") {
    val df = AnalyticOps.queries("a9_kmv_distinct")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"k-min selection must compile to TakeOrderedAndProject, plan was:\n$plan")
  }

  test("centroid update aggregates via the vector-sum buffer, not an explode") {
    import spark.implicits._
    graft.Graft.setup(spark)
    val vecs = (0 until 100)
      .map(i => (i.toLong, Array.tabulate(8)(d => (i * 13 + d) % 5 * 1.0)))
      .toDF("vec_id", "v")
    val cents0 = vecs.limit(3).select(col("vec_id").as("cid"), col("v").as("c"))
    val cents = Clustering.kmeans(vecs, cents0, 1)
    val plan = cents.queryExecution.executedPlan.toString
    assert(plan.contains("vecsumdec") || plan.toLowerCase.contains("vecsum"),
      s"update must run the exact vector-sum aggregate, plan was:\n$plan")
    assert(!plan.contains("Generate"),
      s"update must not posexplode the corpus, plan was:\n$plan")
    assert(cents.count() == 3)
  }

  test("t11's corpus branch joins the broadcast rate table without shuffling") {
    val plan = planOf(executed("t11_temp_sample"))
    // the documents scan must stream through a BroadcastHashJoin; a
    // SortMergeJoin (or any corpus-side exchange before the join) means the
    // language-cardinality rate table stopped broadcasting
    assert(plan.contains("BroadcastHashJoin"),
      s"rate table must broadcast, plan was:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"t11 must not sort-merge the corpus against 5 rates, plan was:\n$plan")
  }

  test("t12 chunking is scan -> generate -> output sort, nothing else") {
    val df = executed("t12_seq_chunk")
    val plan = planOf(df)
    assert(plan.contains("Generate"), "chunk explode must be a Generate")
    // doc-local work: the ONLY exchange is the final deterministic ORDER BY
    assert(countExchanges(df) <= 1,
      s"t12 must not move data beyond the output sort, plan was:\n$plan")
  }

  test("s7's probe join is cell-bounded and broadcast, like s3") {
    val plan = planOf(executed("s7_ivfpq_ann"))
    // the ADC candidate join must be an equi-join ON THE CELL KEY with the
    // probe side broadcast — not a sort-merge or an unbounded pair scan.
    // (The cached ranking's stored plan legitimately contains the 1-row
    // centroid-array broadcast cross join, so only the live segment —
    // everything before the first InMemoryRelation — is inspected.)
    assert(plan.contains("BroadcastHashJoin [cell"),
      s"probe set must broadcast-join on cell, plan was:\n$plan")
    val cacheBoundary = plan.indexOf("InMemoryRelation")
    assert(cacheBoundary >= 0,
      s"s7 plan no longer reads the memoized ranking as an InMemoryRelation, plan was:\n$plan")
    val live = plan.substring(0, cacheBoundary)
    assert(!live.contains("SortMergeJoin") && !live.contains("BroadcastNestedLoopJoin") &&
      !live.contains("CartesianProduct"),
      s"ADC must never degenerate to an unbounded pair scan, plan was:\n$plan")
  }
}
