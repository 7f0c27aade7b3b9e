package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{Components, HyperBall, PageRank, Traversal, Triangles, Walks}

/** Empty inputs through every graph loop: an empty edge list, and a
  * non-empty graph with an empty seed or node set. Each loop finishes,
  * and each result is pinned. */
class EmptyGraphSpec extends SparkSpec {
  import spark.implicits._

  private lazy val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
  /** A 4-cycle, both directions. */
  private lazy val ring = (0L until 4L)
    .flatMap(i => Seq((i, (i + 1) % 4), ((i + 1) % 4, i))).toDF("src", "dst")
  private lazy val noNodes = Seq.empty[Long].toDF("node")
  private lazy val twoNodes = Seq(0L, 2L).toDF("node")

  private def rows(df: DataFrame): Seq[Seq[Long]] =
    df.collect().map(_.toSeq.map(_.asInstanceOf[Long])).toSeq
      .sortBy(r => (r.head, r.lift(1).getOrElse(0L), r.lift(2).getOrElse(0L)))

  test("bfsHops: no edges reach only the seeds; no seeds reach nothing") {
    assert(rows(Traversal.bfsHops(noEdges, twoNodes, 3)) == Seq(Seq(0L, 0L), Seq(2L, 0L)))
    assert(rows(Traversal.bfsHops(ring, noNodes, 3)).isEmpty)
  }

  test("bellmanFord: no edges keep the seeds at cost 0; no seeds reach nothing") {
    val cost = (e: DataFrame) => e.selectExpr("src", "dst", "1L AS cost")
    assert(rows(Traversal.bellmanFord(cost(noEdges), twoNodes, 3)) == Seq(Seq(0L, 0L), Seq(2L, 0L)))
    assert(rows(Traversal.bellmanFord(cost(ring), noNodes, 3)).isEmpty)
  }

  test("k-core censuses over no edges: zero rows, and the converged one stops at round 1") {
    assert(rows(Traversal.kCorePeelCensus(noEdges, k = 2, rounds = 3)) ==
      (0L to 3L).map(r => Seq(r, 0L, 0L)))
    assert(rows(Traversal.kCorePeelCensus(noEdges, k = 2, rounds = 0)) == Seq(Seq(0L, 0L, 0L)))
    assert(rows(Traversal.kCoreConvergedCensus(noEdges, k = 2, maxRounds = 5)) ==
      Seq(Seq(0L, 0L, 0L), Seq(1L, 0L, 0L)))
  }

  test("kTrussConvergedCensus over no edges stops at round 1") {
    assert(rows(Triangles.kTrussConvergedCensus(noEdges, k = 3, maxRounds = 5)) ==
      Seq(Seq(0L, 0L, 0L), Seq(1L, 0L, 0L)))
  }

  test("HyperBall: no edges keep each node's own register; no nodes keep none") {
    val own = rows(HyperBall.registers0(twoNodes))
    assert(own.size == 2)
    assert(rows(HyperBall.converge(noEdges, HyperBall.registers0(twoNodes), 5)) == own)
    assert(rows(HyperBall.converge(ring, HyperBall.registers0(noNodes), 5)).isEmpty)
    assert(HyperBall.registerHops(noEdges, twoNodes, 2).map(rows) == Seq(own, own, own))
    assert(HyperBall.registerHops(ring, noNodes, 2).map(rows) == Seq(Nil, Nil, Nil))
  }

  test("walkPositions: no edges leave each walk at its root; no nodes walk nowhere") {
    assert(rows(Walks.walkPositions(noEdges, twoNodes, 3)) ==
      Seq(Seq(0L, 0L, 0L), Seq(2L, 0L, 2L)))
    assert(rows(Walks.walkPositions(ring, noNodes, 3)).isEmpty)
  }

  test("connectedComponents over no pairs; PageRank.prepare still requires an edge") {
    assert(rows(Components.connectedComponents(Seq.empty[(Long, Long)].toDF("a", "b"))).isEmpty)
    intercept[IllegalArgumentException] {
      PageRank.prepare(noEdges.selectExpr("src", "dst", "1L AS w"))
    }
  }
}
