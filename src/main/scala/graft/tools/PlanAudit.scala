package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.{GenerateExec, SparkStrategies}

/** Whole-surface physical-plan audit: runs EVERY SparkEntry query and counts
  * the LIVE plan nodes that decide scale behavior — shuffle exchanges,
  * broadcast exchanges, join strategy picks, Generate (explode) nodes, and
  * WholeStageCodegen spans.
  *
  * "Live" is structural, not textual: the tree walk descends adaptive plans
  * into their finalized stages but treats `InMemoryTableScan` as the leaf it
  * is, so a memoized artifact's STORED build plan (the fit-once cost, visible
  * in `ArtifactCache` stats) never pollutes the steady-state count — which is
  * what every warm consumer of the artifact actually executes, and is
  * independent of which query happened to build the cache first.
  *
  * Two passes, sorted-name order: pass 1 executes each query once so every
  * trained artifact is built; pass 2 re-executes and counts warm.
  * PlanBudgetSpec pins the warm counts as per-query ceilings; regenerate its
  * table with:
  *
  *   sbt "runMain graft.tools.PlanAudit /root/testdata/sf0.001 budgets"
  *
  * Default mode prints a TSV table plus one summary JSON line for PLANS.md.
  */
object PlanAudit {

  final case class Counts(shuffle: Int, broadcast: Int, reused: Int, smj: Int,
      shj: Int, bhj: Int, bnlj: Int, cartesian: Int, generate: Int, wscg: Int) {
    def tsv: String = s"$shuffle\t$broadcast\t$reused\t$smj\t$shj\t$bhj\t$bnlj\t$cartesian\t$generate\t$wscg"
  }

  /** Every live node: children, subqueries, finalized adaptive stages —
    * but NOT InMemoryRelation stored plans (InMemoryTableScan is a leaf)
    * and NOT the original plan under a ReusedExchange (already counted at
    * its primary site; descending would double-count every reuse, which is
    * precisely the savings reuse buys).
    */
  def liveNodes(plan: SparkPlan): Seq[SparkPlan] = {
    val here = plan match {
      case a: AdaptiveSparkPlanExec => liveNodes(a.finalPhysicalPlan)
      case q: QueryStageExec => liveNodes(q.plan)
      case _: ReusedExchangeExec => Seq(plan)
      case _ => plan.children.flatMap(liveNodes) :+ plan
    }
    here ++ plan.subqueries.flatMap(liveNodes)
  }

  def liveCounts(df: DataFrame): Counts = {
    val nodes = liveNodes(df.queryExecution.executedPlan)
    Counts(
      shuffle = nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      broadcast = nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      reused = nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      smj = nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      shj = nodes.count(_.isInstanceOf[ShuffledHashJoinExec]),
      bhj = nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      bnlj = nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      cartesian = nodes.count(_.isInstanceOf[CartesianProductExec]),
      generate = nodes.count(_.isInstanceOf[GenerateExec]),
      wscg = nodes.count(_.isInstanceOf[WholeStageCodegenExec]))
  }

  /** Interpreted-UDF ban is textual on purpose: a ScalaUDF anywhere — live
    * segment, stored artifact plan, subquery — is a codegen break someone
    * pays for at least once, so the stricter full-string scan is the right
    * gate (zero across the whole surface, VERDICT r4).
    */
  def scalaUdfCount(df: DataFrame): Int =
    "ScalaUDF".r.findAllIn(df.queryExecution.executedPlan.toString).size

  /** Execute via noop sink (builds artifacts, finalizes AQE), then count
    * the warm plan of a FRESH instance of the query.
    */
  def warm(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    LongDrive.noop(df)
    df
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val budgetsMode = args.length > 1 && args(1) == "budgets"
    val spark = LongDrive.session(LongDrive.LongRun, "8")
    val names = LongDrive.select()
    names.foreach(n => warm(spark, sfDir, n)) // pass 1: build artifacts
    val rows = names.map { n =>
      val df = warm(spark, sfDir, n)
      (n, liveCounts(df), scalaUdfCount(df))
    }
    if (budgetsMode) {
      println("  // generated by: runMain graft.tools.PlanAudit <sfDir> budgets")
      rows.foreach { case (n, c, _) =>
        println(s"""    "$n" -> Budget(${c.shuffle}, ${c.bnlj}),""")
      }
    } else {
      println("query\tshuffle\tbroadcast\treused\tsmj\tshj\tbhj\tbnlj\tcartesian\tgenerate\twscg\tscalaUdf")
      rows.foreach { case (n, c, u) => println(s"$n\t${c.tsv}\t$u") }
      val t = rows.map(_._2)
      println(s"""{"queries":${rows.size},"shuffle":${t.map(_.shuffle).sum},"broadcast":${t.map(_.broadcast).sum},"reused":${t.map(_.reused).sum},"bnlj":${t.map(_.bnlj).sum},"cartesian":${t.map(_.cartesian).sum},"scalaUdf":${rows.map(_._3).sum}}""")
    }
    spark.stop()
  }
}
