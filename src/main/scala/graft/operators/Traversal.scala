package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph traversal kernels — frontier BFS, bounded-round Bellman–Ford
  * (min-plus relaxation), and k-core peeling — the reachability /
  * cheapest-path / dense-core complement to the spectral tier
  * (PageRank/LPA/components/triangles already in `operators`).
  *
  * All three are exact integer algorithms: hop counts, fixed-point
  * long path costs, and node/edge censuses, so a DuckDB oracle
  * replays them bit-for-bit (recursive CTE for BFS, unrolled rounds
  * for the other two — the PageRank convention).
  *
  * Scale shape: every round of every kernel is at most one
  * src-keyed join plus one node-keyed aggregate — the two-shuffle
  * Pregel superstep, run by [[Supersteps]]. No row is collected; the
  * BFS empty-level test and the k-core census read the row counts and
  * sums of the driver's measured cuts.
  */
object Traversal {

  /** Multi-source frontier BFS over a directed edge list
    * (`src`, `dst`), seeds in `seeds("node")`, capped at `maxHops`.
    * Returns (node, hop) for every node reached within the cap, hop =
    * shortest hop distance (seeds at 0). Stops early on an empty
    * level — a true fixed point, so the cap only ever truncates,
    * never changes reached distances. The seed frame is deduplicated
    * here: duplicate seed rows would otherwise emit duplicate (node, 0)
    * rows and inflate any downstream per-hop census.
    *
    * The state is ONE visited frame (node, hop), so the anti-join
    * reads one leaf at any depth; a level is empty exactly when the
    * visited row count did not grow. */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    Supersteps.converge(seeds.select(col("node"), lit(0L).as("hop")).distinct(), maxHops) {
      (visited, d) =>
        val v = visited.state
        v.unionByName(bfsRound(edges, v.filter(col("hop") === d - 1).select(col("node")),
          v.select(col("node")), d))
    }(_.rows == _.rows).last.state
  }

  /** One BFS expansion: frontier-successors not yet in `visited`,
    * stamped with hop `d`. Package-visible so the spec can pin the
    * plan shape — one anti-join whose build side is the consolidated
    * visited leaf, never a depth-wide union. */
  private[graft] def bfsRound(edges: DataFrame, frontier: DataFrame,
      visited: DataFrame, d: Int): DataFrame =
    edges.join(frontier, edges("src") === frontier("node"))
      .select(edges("dst").as("node")).distinct()
      .join(visited, Seq("node"), "left_anti")
      .select(col("node"), lit(d.toLong).as("hop"))

  /** `rounds` synchronous min-plus relaxations over
    * (`src`, `dst`, `cost`) from `seeds("node")` at cost 0 — exact
    * min-cost over paths of ≤ `rounds` edges (Bellman–Ford's bounded
    * prefix, the oracle-unrollable form). Absent node = not reachable
    * within the round budget. Costs are longs; one superstep = one
    * src-keyed join + one node-keyed min. */
  def bellmanFord(edgesWithCost: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    val d0 = seeds.select(col("node"), lit(0L).as("cost"))
    // checkpointEvery = 1: the relaxation references `dist` TWICE (once
    // in the edge join, once in the min-union), so an uncut loop
    // re-executes each earlier round's subtree 2× per later round —
    // work doubles per round; per-round cuts collapse the doubling and
    // the cut frame is node-sized. PageRank references its rank state
    // once per step, so it keeps the sparser default; LPA shares this
    // double-reference shape and cuts per round too.
    Supersteps.loop(d0, rounds, checkpointEvery = 1) { dist =>
      val relax = edgesWithCost
        .join(dist, edgesWithCost("src") === dist("node"))
        .select(edgesWithCost("dst").as("node"),
          (dist("cost") + edgesWithCost("cost")).as("cost"))
      dist.unionByName(relax)
        .groupBy(col("node")).agg(min(col("cost")).as("cost"))
    }
  }

  /** `rounds` of k-core peeling over a directed edge list
    * (both-direction DISTINCT input expected for undirected semantics —
    * degree is the per-src row count, so duplicates inflate it): each
    * round keeps nodes
    * with out-degree ≥ k in the CURRENT subgraph, then restricts edges
    * to kept endpoints — the cascading contraction toward the k-core.
    * Returns the per-round census (round, n_nodes, n_edges): round 0
    * is the input graph (nodes = distinct sources), round r ≥ 1 counts
    * the kept-node set (which may exceed the next round's edge
    * endpoints — a kept node can lose all its edges to the
    * restriction; that cascade is the algorithm). */
  def kCorePeelCensus(edges0: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    peel(edges0, k, rounds)((_, _) => false)
  }

  /** k-core peeling run TO ITS FIXED POINT (capped at `maxRounds`),
    * over a BOTH-DIRECTION DISTINCT edge list — each undirected edge
    * present exactly once per direction, no duplicates (the Triangles
    * input contract): round 0's node census is distinct `src` (which
    * only covers every node when each edge also appears reversed) and
    * degree is the per-`src` row count (which is only the undirected
    * degree when rows are distinct). Returns the census
    * (round, n_nodes, n_edges) up to
    * and INCLUDING the first stable round — the round whose census
    * repeats the previous one. The peel only ever shrinks the edge
    * set, so an equal (kept-node, edge) census means an equal SET and
    * a true fixed point: the repeated row is the proof of convergence,
    * and stopping there never changes any earlier row. If the cascade
    * outlives the cap, all maxRounds+1 rows are emitted — the oracle
    * applies the identical trim rule over the identical unroll, so the
    * two always agree. */
  def kCoreConvergedCensus(edges0: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    peel(edges0, k, maxRounds)(_ sameMeasure _)
  }

  /** The peel both censuses share. The superstep state of round r is
    * the degree frame (node, deg) of the round's kept set K_r: every
    * kept node with its out-degree in the round's edge set, 0 when it
    * has lost all its edges (round 0: every source of the input). Its
    * measured cut is the census row: rows = n_nodes, Σ deg = n_edges.
    * The kept sets only shrink, so the round-r edge set is the input
    * restricted to K_r at both endpoints, and each round filters the
    * (cut) input edge list by K_r. */
  private def peel(edges0: DataFrame, k: Int, maxRounds: Int)
      (stop: (Supersteps.Round, Supersteps.Round) => Boolean): DataFrame = {
    val e0 = Cuts.cut(edges0.select(col("src"), col("dst")))
    val deg0 = e0.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val rounds = Supersteps.converge(deg0, maxRounds, Seq("deg")) { (prev, _) =>
      val keep = prev.state.filter(col("deg") >= k).select(col("node"))
      e0.join(keep.select(col("node").as("src")), "src")
        .join(keep.select(col("node").as("dst")), "dst")
        .select(col("src").as("node"), lit(1L).as("deg"))
        .unionByName(keep.select(col("node"), lit(0L).as("deg")))
        .groupBy(col("node")).agg(sum(col("deg")).as("deg"))
    }(stop)
    val spark = edges0.sparkSession
    import spark.implicits._
    rounds.zipWithIndex.map { case (r, i) => (i.toLong, r.rows, r.sums.head) }
      .toDF("round", "n_nodes", "n_edges")
  }
}
