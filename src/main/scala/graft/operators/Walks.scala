package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextOps

/** Deterministic hash-random walk corpus — DeepWalk's data product
  * (Perozzi et al. 2014: truncated random walks are the "sentences" a
  * skip-gram model trains node embeddings on). Randomness is the
  * engine's reproducibility discipline, not rand(): the successor of
  * node c at step t is the out-neighbor n minimizing the shared
  * md5-prefix hash of "rw:t:c:n" ([[graft.functions.TextOps.md5Long]]
  * — the splitLabel/HLL convention), so the same corpus falls out of
  * any engine, any partitioning, any retry — resumable at 100 TB
  * without persisting a walk table, and DuckDB-replayable bit for bit
  * (per-step QUALIFY row_number mirror).
  *
  * Step-dependent hashing matters: a step-independent successor
  * function is a fixed pointer per node, so every walk collapses into
  * a period-2 orbit after one hop; salting the hash with t re-mixes
  * each step and gives the hash-uniform neighbor choice DeepWalk's
  * uniform sampling intends.
  *
  * Scale shape: one walk per node, `steps` supersteps, each ONE
  * src-keyed join against a per-step successor table that is itself
  * one keyed argmin over the edge list (map-side-combinable min_by;
  * never a window sort over the whole edge frame). Walk state is a
  * hard one-row-per-root bound; nothing is quadratic anywhere.
  *
  * Input contract: every node in `nodes` must have at least one
  * out-edge in `edges` (true by construction when nodes = distinct
  * src of a both-direction edge list — the Traversal/Triangles
  * contract); a sink node would end its walk early via the inner
  * join, which the census would read as missing positions.
  */
object Walks {

  /** Per-step successor table (src, nxt): src's hash-minimal
    * out-neighbor at step `t`, ties to the smallest neighbor id
    * (md5 collisions are ~2^-60 but the order must be total for the
    * cross-engine contract). */
  def successors(edges: DataFrame, t: Int): DataFrame =
    edges.select(col("src"), col("dst"),
        TextOps.md5Long(concat(lit(s"rw:$t:"), col("src").cast("string"),
          lit(":"), col("dst").cast("string"))).as("h"))
      .groupBy(col("src"))
      .agg(min_by(col("dst"), struct(col("h"), col("dst"))).as("nxt"))

  /** Walk positions (root, step, node) for one deterministic walk of
    * `steps` hops from every node of `nodes` — steps 0..steps, step 0
    * the root itself. Each hop is one [[Supersteps.converge]] round
    * that never stops early, so the union census reads materialized
    * walk states instead of re-deriving step t's lineage once per
    * later step. */
  def walkPositions(edges: DataFrame, nodes: DataFrame, steps: Int): DataFrame = {
    require(steps >= 0, s"steps must be >= 0, got $steps")
    Supersteps.converge(nodes.select(col("node").as("root"), col("node").as("cur")), steps) {
      (prev, t) =>
        val (cur, s) = (prev.state, successors(edges, t))
        cur.join(s, cur("cur") === s("src")).select(col("root"), col("nxt").as("cur"))
    }((_, _) => false).zipWithIndex
      .map { case (r, t) =>
        r.state.select(col("root"), lit(t.toLong).as("step"), col("cur").as("node"))
      }.reduce(_ unionByName _)
  }

  /** Skip-gram (center, context) pair counts over the walk corpus,
    * window ±`window` positions within the same walk — the rows a
    * node-embedding trainer consumes. One root-keyed self-join over
    * the positions frame (≤ steps+1 rows per root, so fan-out is the
    * fixed window arithmetic, never |corpus|²). */
  def skipGramPairs(positions: DataFrame, window: Int): DataFrame = {
    val a = positions.select(col("root"), col("step").as("sa"), col("node").as("ctr"))
    val b = positions.select(col("root"), col("step").as("sb"), col("node").as("ctx"))
    a.join(b, Seq("root"))
      .filter(col("sa") =!= col("sb") &&
        abs(col("sa") - col("sb")) <= window)
      .groupBy(col("ctr"), col("ctx"))
      .agg(count(lit(1)).as("cnt"))
  }
}
