package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-point integer PageRank over a weighted directed edge list —
  * the iterative-graph workload a data-curation engine runs for
  * graph-based quality signals (domain authority, co-purchase item
  * importance, citation weight).
  *
  * Scale design (the part that must survive 100 TB):
  *  - the edge table is the big, immutable input; it is joined with
  *    its out-weight table ONCE and materialized (a [[Cuts]] cut,
  *    the single-JVM stand-in for a persisted shuffle stage), so each
  *    iteration re-reads a ready (src, dst, w, ow) frame instead of
  *    re-deriving it — on a cluster this is the parquet-persisted
  *    edge partition every PageRank system (Pregel, GraphX, GraphFrames
  *    — all public designs) keeps resident across supersteps;
  *  - one iteration = exactly two key shuffles: rank⋈edges on `src`,
  *    then a sum keyed on `dst`. Nothing else moves; rank rows are
  *    (node, long) — 16 bytes — whatever the corpus size;
  *  - ranks are LONGS in units of 1e-12 (`FP`), not doubles: long sums
  *    are associative, so the result is bit-identical across engines,
  *    partitionings, and agg orders — float PageRank differs in final
  *    ulps per run, which would flake any exact oracle and any
  *    incremental re-check. Integer division (`div` / DuckDB `//`)
  *    truncates identically in both engines for the non-negative
  *    values used here.
  *
  * Semantics: standard damped PageRank, rank₀ = FP/n for the n nodes
  * appearing in the edge list, rankₜ₊₁(v) = jump + d·Σ_{u→v}
  * (rankₜ(u)·w(u,v)) div outw(u), with jump = (100−85)·(FP/n) div 100
  * and d = 85/100 applied as integer multiply-then-divide. Dangling
  * mass is dropped (nodes with no out-edges contribute nothing) — the
  * common simplification; totals therefore decay slightly rather than
  * normalize, which is fine for RANKING use and keeps the arithmetic
  * exactly replayable.
  */
object PageRank {

  /** Fixed-point scale: 1.0 == 1e12 rank units. */
  val FP = 1000000000000L

  /** Damping numerator/denominator (d = 85/100). */
  val DampNum = 85L
  val DampDen = 100L

  /** A prepared graph: the static per-superstep inputs, materialized
    * once (persist — on a cluster, a persisted parquet edge partition)
    * and reused by every iteration and every caller.
    *
    * Cache-lifetime contract: `prepare` persist()s ew/nodes and the
    * cached frames keep LINEAGE to their source (possibly a mutable
    * parquet store) — if an entry is evicted under memory pressure it
    * recomputes from that source, so a caller that rewrites the store
    * in place (the replay/test rm-rf-and-rewrite pattern) must either
    * hold the graph only while the files are stable or cut lineage
    * with its own checkpoint first. Call [[Graph.unpersist]] when done
    * with a non-memoized graph; SharedBuilds-memoized graphs are
    * intentionally session-lifetime (PlanSpec's clearCache note). */
  case class Graph(ew: DataFrame, nodes: DataFrame, n: Long) {
    /** Release the persisted frames (async). After this, consumers of
      * still-live downstream frames fall back to recomputing from the
      * source — only safe while the source files are unchanged. */
    def unpersist(): Unit = {
      ew.unpersist(false)
      nodes.unpersist(false)
    }
  }

  /** Materialize the iteration-static frames from an edge list
    * (src: long, dst: long, w: long).
    *
    * The static frames are src-hash-partitioned, sorted within
    * partitions, and PERSISTED (not lineage-cut): persist keeps
    * the frame's outputPartitioning/ordering visible to Catalyst, so
    * every superstep's ranks⋈edges sort-merge join exchanges and sorts
    * ONLY the 16-byte-row rank frame — the big edge frame is shuffled
    * and sorted exactly once per prepared graph, not once per
    * iteration (a checkpointed ExistingRDD loses that metadata and
    * cost one full edge exchange + sort per superstep). This is the
    * resident co-partitioned edge structure every Pregel-style
    * system (GraphX, Giraph — public
    * designs) keeps across supersteps; on a cluster the same effect
    * comes from a bucketed edge table. */
  def prepare(edges: DataFrame): Graph = {
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val ew = edges.join(outw, "src")
      .select(col("src"), col("dst"), col("w"), col("ow"))
      .repartition(col("src"))
      .sortWithinPartitions(col("src"))
      .persist()
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()
      .repartition(col("node"))
      .sortWithinPartitions(col("node"))
      .persist()
    val n = nodes.count()
    ew.count() // materialize the cache before the first superstep
    require(n > 0, "PageRank needs a non-empty edge list")
    Graph(ew, nodes, n)
  }

  /** Run `iters` PageRank iterations over `edges`. Returns
    * (node: long, rank_fp: long). One-shot convenience — callers that
    * rank the same graph repeatedly should `prepare` once and
    * `iterate` many (the build-once/probe-many index discipline). */
  def run(edges: DataFrame, iters: Int): DataFrame =
    iterate(prepare(edges), iters)

  /** Personalized PageRank (Page et al. 1999 §6 topic-biased jump;
    * the standard graph-similarity tool behind "related items"): the
    * teleport mass lands ONLY on `seeds`, so rank concentrates around
    * the seed neighborhood and high-ranked NON-seeds are the items
    * most reachable from the seed set. Same fixed-point arithmetic,
    * same two-shuffle superstep, same depth controls as [[iterate]];
    * the seed flag rides the materialized node frame (persisted for
    * the run with the same [[Graph]] cache-lifetime contract — the
    * returned frame's lineage reaches it, so it stays cached until
    * session cache-clear / eviction, recomputing from the source
    * graph if evicted). */
  def iteratePersonalized(g: Graph, seeds: DataFrame, iters: Int,
      checkpointEvery: Int = 5,
      earlyExitTolFp: Option[Long] = None): DataFrame = {
    val sd = seeds.select(col("node")).distinct()
    val flagged = g.nodes
      .join(sd.withColumn("is_seed", lit(1L)), Seq("node"), "left")
      .select(col("node"), coalesce(col("is_seed"), lit(0L)).as("is_seed"))
      .repartition(col("node"))
      .sortWithinPartitions(col("node"))
      .persist()
    val m = flagged.filter(col("is_seed") === 1L).count()
    require(m > 0, "personalized PageRank needs at least one seed IN the graph")
    val init = FP / m
    val jump = ((DampDen - DampNum) * init) / DampDen
    val r0 = flagged.select(col("node"),
      when(col("is_seed") === 1L, lit(init)).otherwise(lit(0L)).as("rank"))
    loop(r0, iters, checkpointEvery, earlyExitTolFp) { ranks =>
      val contrib = g.ew.join(ranks, g.ew("src") === ranks("node"))
        .select(g.ew("dst").as("node"),
          expr("(rank * w) div ow").as("c"))
      flagged
        .join(contrib.groupBy(col("node")).agg(sum(col("c")).as("sc")),
          Seq("node"), "left")
        .select(col("node"),
          (when(col("is_seed") === 1L, lit(jump)).otherwise(lit(0L)) +
            expr(s"($DampNum * coalesce(sc, 0L)) div $DampDen")).as("rank"))
    }
  }

  /** The iteration loop over a prepared graph, with the two depth
    * controls a to-convergence run (20–50 supersteps on a real corpus)
    * needs:
    *  - `checkpointEvery`: a [[Cuts]] lineage cut every k
    *    supersteps (on a cluster: a persisted shuffle/parquet cut), so
    *    plan depth stays bounded instead of growing two joins per
    *    iteration — past ~10 uncut supersteps Catalyst re-analysis and
    *    task serialization dominate (PageRankSpec pins bounded plan
    *    size at 20 iterations). Declared 3-iteration queries never hit
    *    a cut, so their plans (and oracle parity) are unchanged.
    *  - `earlyExitTolFp`: stop when the exact long L1 delta
    *    Σ|rankₜ − rankₜ₋₁| (in FP units — still oracle-friendly
    *    integer arithmetic, no float epsilon) drops to ≤ tol. Costs
    *    one count-style action per superstep, so it is opt-in; when
    *    enabled every superstep is checkpointed so the delta probe
    *    reads materialized partitions, not re-executed lineage. A
    *    delta of exactly 0 is a true fixed point — further iterations
    *    provably change nothing — so early exit never changes the
    *    result at tol=0. */
  def iterate(g: Graph, iters: Int, checkpointEvery: Int = 5,
      earlyExitTolFp: Option[Long] = None): DataFrame = {
    val init = FP / g.n
    val jump = ((DampDen - DampNum) * init) / DampDen
    val r0 = g.nodes.select(col("node"), lit(init).as("rank"))
    loop(r0, iters, checkpointEvery, earlyExitTolFp) { ranks =>
      val contrib = g.ew.join(ranks, g.ew("src") === ranks("node"))
        .select(g.ew("dst").as("node"),
          expr("(rank * w) div ow").as("c"))
      g.nodes
        .join(contrib.groupBy(col("node")).agg(sum(col("c")).as("sc")),
          Seq("node"), "left")
        .select(col("node"),
          (lit(jump) +
            expr(s"($DampNum * coalesce(sc, 0L)) div $DampDen")).as("rank"))
    }
  }

  /** Rank-frame adapter over [[Supersteps]]: the fixed-count loop,
    * or with `earlyExitTolFp` the measured loop with the exact long-L1
    * stop (see [[iterate]]); and the rank_fp output rename. `step` maps
    * a (node, rank) frame to the next one. */
  private def loop(r0: DataFrame, iters: Int, checkpointEvery: Int,
      earlyExitTolFp: Option[Long])(step: DataFrame => DataFrame): DataFrame = {
    val ranks = earlyExitTolFp match {
      case None => Supersteps.loop(r0, iters, checkpointEvery)(step)
      case Some(tol) =>
        require(iters >= 1, s"iters must be >= 1, got $iters")
        Supersteps.converge(r0, iters)((prev, _) => step(prev.state)) { (prev, next) =>
          next.state.join(prev.state.withColumnRenamed("rank", "prev"), "node")
            .agg(coalesce(sum(abs(col("rank") - col("prev"))), lit(0L)))
            .collect()(0).getLong(0) <= tol
        }.last.state
    }
    ranks.select(col("node"), col("rank").as("rank_fp"))
  }
}
