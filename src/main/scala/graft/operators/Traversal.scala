package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * Pregel superstep. Each round's state is one [[Cuts]] counted cut
  * (localCheckpoint locally; a durable parquet cut when
  * `spark.graft.checkpoint.dir` is set), so plan depth stays bounded,
  * the job that materializes a round also counts it (the BFS
  * empty-level test and the k-core census read that count), and on a
  * cluster a lost executor cannot kill a deep traversal. No row is
  * collected, only those counts.
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
    * The state is ONE visited frame (node, hop). Each level is a single
    * counted cut of visited ∪ the level's new nodes, so the anti-join
    * reads one leaf at any depth and the level's emptiness is read off
    * the cut's own count: the level is empty exactly when the count did
    * not grow. The final visited frame is the result. */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    var (visited, reached) = Cuts.counted(
      seeds.select(col("node"), lit(0L).as("hop")).distinct())
    var d = 1
    var grew = true
    while (d <= maxHops && grew) {
      val frontier = visited.filter(col("hop") === d - 1).select(col("node"))
      val (next, n) = Cuts.counted(visited.unionByName(
        bfsRound(edges, frontier, visited.select(col("node")), d)))
      grew = n > reached
      visited = next
      reached = n
      d += 1
    }
    visited
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
    Supersteps.loop(d0, rounds, checkpointEvery = 1, None) { dist =>
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
    * restriction; that cascade is the algorithm). The census is
    * rounds+1 integer triples built from the counts of each round's
    * cuts. */
  def kCorePeelCensus(edges0: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val (e0, row0) = peelStart(edges0)
    val census = scala.collection.mutable.ArrayBuffer(row0)
    var e = e0
    for (r <- 1 to rounds) {
      val (kept, keptNodes) = peelRound(e, k)
      val (next, edgeRows) = Cuts.counted(kept)
      census += ((r.toLong, keptNodes, edgeRows))
      e = next
    }
    censusFrame(edges0.sparkSession, census.toSeq)
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
    * and stopping there never changes any earlier row (the integer
    * early-exit doctrine of LPA/PageRank). If the cascade outlives the
    * cap, all maxRounds+1 rows are emitted — the oracle applies the
    * identical trim rule over the identical unroll, so the two always
    * agree.
    *
    * Driven by the shared [[Supersteps.loop]]: the edge frame is the
    * superstep state and every round is lineage-cut, so plan depth
    * stays bounded on long cascades (the 20-round pin in
    * GraphMiningSpec). A round's census is the two counts its cuts
    * take anyway — kept nodes from the `keep` cut, edges from the
    * loop's cut — so the convergence test costs no action of its own. */
  def kCoreConvergedCensus(edges0: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val (e0, row0) = peelStart(edges0)
    val census = scala.collection.mutable.ArrayBuffer(row0)
    var keptNodes = 0L // stashed by the step, read by the probe
    val probe = Some { (_: DataFrame, _: DataFrame, edgeRows: Long) =>
      census += ((census.size.toLong, keptNodes, edgeRows))
      val n = census.size
      census(n - 1)._2 == census(n - 2)._2 &&
        census(n - 1)._3 == census(n - 2)._3
    }
    Supersteps.loop(e0, maxRounds, checkpointEvery = 1, probe) { e =>
      val (kept, n) = peelRound(e, k)
      keptNodes = n
      kept
    }
    censusFrame(edges0.sparkSession, census.toSeq)
  }

  /** The cut (src, dst) edge frame and its round-0 census row. */
  private def peelStart(edges0: DataFrame): (DataFrame, (Long, Long, Long)) = {
    val (e, edgeRows) = Cuts.counted(edges0.select(col("src"), col("dst")))
    (e, (0L, e.select(col("src")).distinct().count(), edgeRows))
  }

  /** One peel round: the edges between nodes of out-degree ≥ k (not
    * cut) and the number of those nodes, counted by the `keep` cut. */
  private def peelRound(e: DataFrame, k: Int): (DataFrame, Long) = {
    val (keep, keptNodes) = Cuts.counted(
      e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("node")))
    val kept = e.join(keep.select(col("node").as("src")), "src")
      .join(keep.select(col("node").as("dst")), "dst")
      .select(col("src"), col("dst"))
    (kept, keptNodes)
  }

  private def censusFrame(spark: SparkSession, census: Seq[(Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    census.toDF("round", "n_nodes", "n_edges")
  }
}
