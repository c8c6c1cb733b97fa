package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Integer PageRank: hand-computed values on a tiny graph, partition
  * invariance (the determinism claim the oracle relies on), and rank
  * ordering by in-link mass.
  */
class PageRankSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  private def ranksOf(edges: Seq[(Long, Long)], iters: Int,
                      parts: Int = 4): Map[Long, Long] = {
    import spark.implicits._
    val df = edges.toDF("src", "dst").repartition(parts)
    val (r, unpersist) = graft.ext.PageRank.pageRankIntStamped(df, iters)
    val out = r.collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    unpersist()
    out
  }

  test("one iteration matches the hand-computed integer arithmetic") {
    // 1→2, 1→3, 2→3; N=3, scale=1e6: r0 = 333333 each,
    // base = (15e6 div 100) div 3 = 50000
    // rank(1) = 50000 (no in-links)
    // rank(2) = 50000 + 85*(333333 div 2) div 100 = 50000 + 141666 = 191666
    // rank(3) = 50000 + 85*(166666 + 333333) div 100 = 50000 + 424999 = 474999
    val r = ranksOf(Seq((1L, 2L), (1L, 3L), (2L, 3L)), iters = 1)
    assert(r == Map(1L -> 50000L, 2L -> 191666L, 3L -> 474999L), r.toString)
  }

  test("results are partition-invariant (integer arithmetic has no merge-order ambiguity)") {
    // 7 iterations also crosses the every-5-rounds lineage checkpoint
    val edges = (1L to 40L).map(i => (i, i % 7 + 100L)) ++ Seq((100L, 101L), (101L, 102L))
    val a = ranksOf(edges, iters = 7, parts = 1)
    val b = ranksOf(edges, iters = 7, parts = 13)
    assert(a == b)
  }

  test("a node with strictly more in-link mass outranks its peer") {
    // many sources point at 100; one points at 200
    val edges = (1L to 10L).map(i => (i, 100L)) :+ (11L, 200L)
    val r = ranksOf(edges, iters = 2)
    assert(r(100L) > r(200L), r.toString)
    assert(r(200L) > r(1L), r.toString) // any in-link beats none
  }

  private def danglingRanksOf(edges: Seq[(Long, Long)], iters: Int,
                              parts: Int = 4): Map[Long, Long] = {
    import spark.implicits._
    val df = edges.toDF("src", "dst").repartition(parts)
    val (r, unpersist) = graft.ext.PageRank.pageRankDanglingIntStamped(df, iters)
    val out = r.collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    unpersist()
    out
  }

  test("dangling variant matches the hand-computed redistribution arithmetic") {
    // 1→2, node 2 dangling; N=2, scale=1e6: r0 = 500000 each,
    // base = (15e6 div 100) div 2 = 75000, dangling = 500000,
    // dangling div N = 250000
    // rank(1) = 75000 + 85*(0 + 250000) div 100      = 287500
    // rank(2) = 75000 + 85*(500000 + 250000) div 100 = 712500
    val r = danglingRanksOf(Seq((1L, 2L)), iters = 1)
    assert(r == Map(1L -> 287500L, 2L -> 712500L), r.toString)
  }

  test("dangling variant conserves rank mass where the dropped variant leaks it") {
    // bipartite like the registered query: every dst is dangling, so
    // the dropped variant sheds most of its mass per round while the
    // redistribute variant holds the total at scale minus floor dust
    val edges = (1L to 6L).map(i => (i, 100L + i % 3))
    val keep = danglingRanksOf(edges, iters = 3).values.sum
    val drop = ranksOf(edges, iters = 3).values.sum
    val scale = 1000000L
    // floor dust: a handful of divisions per node per round
    assert(keep > scale - 200 && keep <= scale, s"keep=$keep")
    assert(drop < keep - 100000L, s"drop=$drop keep=$keep")
  }

  test("dangling variant is partition-invariant over 7 rounds") {
    val edges = (1L to 40L).map(i => (i, i % 7 + 100L)) ++ Seq((100L, 101L), (101L, 102L))
    val a = danglingRanksOf(edges, iters = 7, parts = 1)
    val b = danglingRanksOf(edges, iters = 7, parts = 13)
    assert(a == b)
  }

  test("dangling variant's optimized plan is no larger at 7 rounds than at 3") {
    import spark.implicits._
    val edges = ((1L to 40L).map(i => (i, i % 7 + 100L)) :+ ((100L, 101L))).toDF("src", "dst")
    def planNodes(iters: Int): Int = {
      val (r, unpersist) = graft.ext.PageRank.pageRankDanglingIntStamped(edges, iters)
      try r.queryExecution.optimizedPlan.collect { case p => p }.length
      finally unpersist()
    }
    val (three, seven) = (planNodes(3), planNodes(7))
    assert(seven <= three, s"$seven plan nodes at 7 rounds, $three at 3")
  }

  test("modularity of two cliques joined by a bridge matches the hand computation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // triangles {1,2,3} and {4,5,6}, bridge (3,4): m = 7,
    // e_in = 3 per community, deg_sum = 7 per community (bridge ends deg 3)
    // q = 3e9 div 7 − 49e9 div (4·49) = 428571428 − 250000000 = 178571428
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
      .toDF("u", "v")
    val labels = (1L to 6L).map(n => (n, if (n <= 3) 1L else 2L))
      .toDF("node_id", "community")
    val rows = graft.ext.GraphOps.communityModularity(edges, labels)
      .orderBy(col("community")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.toSeq == Seq((1L, 3L, 3L, 7L, 178571428L), (2L, 3L, 3L, 7L, 178571428L)),
      rows.mkString(","))
    // a deliberately bad labeling (bridge endpoints swapped) scores lower
    val bad = (1L to 6L).map(n => (n, if (n == 3L) 2L else if (n == 4L) 1L else if (n <= 3) 1L else 2L))
      .toDF("node_id", "community")
    val qBad = graft.ext.GraphOps.communityModularity(edges, bad)
      .agg(org.apache.spark.sql.functions.sum(col("q_x1e9"))).head.getLong(0)
    assert(qBad < 2 * 178571428L, s"bad labeling must score lower, got $qBad")
  }
}
