package graft

import org.apache.spark.sql.DataFrame

/** The below-cap one-task solvers (graph/LocalSolve.scala) must return
  * BIT-IDENTICAL results to the distributed fixpoint loops they
  * shortcut. Every kernel runs twice on the same graph — once through
  * the public method (tiny test graphs are always under the cap) and
  * once through its `*Distributed` loop — and the outputs are compared
  * as sets of rows.
  */
class LocalSolveSpec extends SparkSpec {

  import spark.implicits._
  import graft.graph.Graph

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  // a directed graph with a nested SCC structure, dangling periphery,
  // parallel shortcuts and an isolated node — exercises every branch
  private def edges = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), // 3-cycle SCC
    (3L, 4L), (4L, 5L), (5L, 4L), // 2-cycle SCC reached from the first
    (5L, 6L), (6L, 7L), // tail
    (8L, 1L), // feeder into the cycle
    (9L, 10L), (10L, 9L), // separate 2-cycle
    (2L, 6L) // shortcut
  ).toDF("src", "dst")

  private def nodes = (1L to 11L).toDF("id") // 11 is isolated

  test("stronglyConnectedComponents: local == distributed") {
    val l = rows(Graph.stronglyConnectedComponents(nodes, edges))
    val d = rows(Graph.stronglyConnectedComponentsDistributed(nodes, edges))
    assert(l == d && l.nonEmpty)
  }

  test("reachability: local == distributed") {
    val seeds = Seq(3L, 9L).toDF("id")
    val l = rows(Graph.reachability(seeds, edges))
    val d = rows(Graph.reachabilityDistributed(seeds, edges))
    assert(l == d && l.nonEmpty)
  }

  test("kTruss: local == distributed (supports included)") {
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (2L, 5L), (3L, 5L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val l = rows(Graph.kTruss(und, k = 4))
    val d = rows(Graph.kTrussDistributed(und, k = 4))
    assert(l == d && l.nonEmpty)
  }

  test("pageRank: local == distributed (after the callers' r4 rounding)") {
    // raw pr carries float-ulp sum-order differences BETWEEN ANY TWO
    // runs of the distributed path itself (partial-agg order); compare
    // after the rounding every registry caller applies
    val und = Graph.undirected(edges)
    val rounded = (df: DataFrame) => rows(df.select($"id",
      org.apache.spark.sql.functions.round($"pr" * 1000, 4).as("prx")))
    val l = rounded(Graph.pageRank(und, iters = 3))
    val d = rounded(Graph.pageRankDistributed(und, iters = 3))
    assert(l == d && l.nonEmpty)
  }

  test("hyperBall truncation contract throws") {
    val path = (1L to 6L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException] {
      Graph.harmonicCentralityHyperBall(path, maxHops = 2)
    }
  }

  test("budget contracts throw at call time on both paths") {
    val path = (1L to 6L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException] {
      Graph.connectedComponents((1L to 7L).toDF("id"), path, maxIter = 2)
    }
    intercept[IllegalStateException] {
      Graph.reachability(Seq(1L).toDF("id"), path, maxRounds = 1)
    }
    intercept[IllegalStateException] {
      Graph.reachabilityDistributed(Seq(1L).toDF("id"), path, maxRounds = 1)
    }
    intercept[IllegalArgumentException] {
      Graph.lubyMis((1L to 3L).toDF("id"),
        Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), maxRounds = 0)
    }
  }
}
