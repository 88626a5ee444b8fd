package graft.operators

import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.TestSpark
import graft.tools.PlanAudit

/** Pins the PageRank broadcast-overflow fallback (round-7 verdict #2): the
  * data-derived gate that switches every per-round rank join from broadcast
  * to a node-sized shuffle against the src-hash-partitioned edge cache once
  * the OBSERVED node count clears the node floor.
  *
  * Three claims, each load-bearing at web scale:
  *  1. the gate's flip point is exactly the floor (and the floor is an
  *     argument, which is how this spec forces the scale path on a 64-node
  *     fixture);
  *  2. shuffle mode produces BIT-IDENTICAL ranks to broadcast mode for both
  *     PageRank variants — integer fixed-point arithmetic has no
  *     order-dependence, so the physical strategy cannot leak into results —
  *     and a floor flip after one layout's build cannot desync the other;
  *  3. shuffle mode's round plan actually contains no broadcast join (the
  *     rank frame meets the edge cache via shuffle), proven on the live
  *     plan tree, not the rendered string.
  */
class GraphShuffleGateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def ranks(nodeFloor: Long) =
    Seq(GraphOps.n1RankFrame(spark, sf, nodeFloor), GraphOps.n2RankFrame(spark, sf, nodeFloor))
      .map(_.orderBy("node").collect().toSeq)

  private def roundNodes(nodeFloor: Long) = {
    val round = GraphOps.probeRound(spark, sf, nodeFloor)
    round.write.format("noop").mode("overwrite").save()
    PlanAudit.liveNodes(round.queryExecution.executedPlan)
  }

  private def broadcasts(nodeFloor: Long): Boolean =
    roundNodes(nodeFloor).exists(_.isInstanceOf[BroadcastHashJoinExec])

  test("gate flips exactly at the observed-node floor, and the floor is overridable") {
    val nNodes = GraphOps.graphCounts(spark, sf).nNodes
    assert(broadcasts(nNodes), "a graph AT the floor must broadcast its rank joins")
    assert(!broadcasts(nNodes - 1), "a graph one node over the floor must shuffle")
  }

  test("shuffle-mode ranks are bit-identical to broadcast mode for n1 and n2") {
    ArtifactCache.invalidate(spark, sf)
    val broadcast = ranks(GraphOps.BroadcastFloorNodes)
    ArtifactCache.invalidate(spark, sf)
    val shuffle = ranks(1L) // 1: every graph is "too big"
    assert(broadcast.forall(_.nonEmpty))
    assert(shuffle === broadcast, "n1/n2 diverged between broadcast and shuffle rank joins")
  }

  test("a floor flip AFTER the artifact build cannot desync queries from the cache layout") {
    // each layout is its own artifact, so a query at the other floor reads
    // (or builds) the layout it needs, whichever was built first in the
    // session; a fresh artifact state before each order keeps the order real
    ArtifactCache.invalidate(spark, sf)
    val fatFirst = Seq(ranks(GraphOps.BroadcastFloorNodes), ranks(1L))
    ArtifactCache.invalidate(spark, sf)
    val thinFirst = Seq(ranks(1L), ranks(GraphOps.BroadcastFloorNodes))
    assert(fatFirst.head.forall(_.nonEmpty))
    (fatFirst.tail ++ thinFirst).foreach(r =>
      assert(r === fatFirst.head, "n1/n2 changed with the order the edge layouts were built in"))
  }

  test("above the floor the round plan joins ranks by shuffle, not broadcast") {
    val nodes = roundNodes(1L)
    assert(!nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "rank join still broadcasts above the node floor")
    assert(nodes.exists(n => n.isInstanceOf[ShuffledHashJoinExec]
        || n.isInstanceOf[SortMergeJoinExec]),
      "no shuffle-side join found in the scale-mode round plan")
    // and below the floor (the default on this fixture) the broadcast plan
    // is intact — the gate is a switch, not a regression
    assert(broadcasts(GraphOps.BroadcastFloorNodes), "bench-scale round lost its broadcast rank join")
  }
}
