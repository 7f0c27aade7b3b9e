package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import graft.operators.Cuts.CutOps

/** Exact triangle counting, degree-ordered (the "compact-forward" /
  * arboricity-bounded algorithm: Latapy 2008, Chiba–Nishizeki 1985) —
  * the graph-shape statistic a curation pipeline computes for
  * clustering coefficients and community-quality audits.
  *
  * Scale design (the part that must survive 100 TB): the naive
  * src<dst wedge join fans out Σ deg(b)² at the wedge's MIDDLE vertex,
  * which on a power-law graph explodes at the hubs (148M wedges
  * already at sf0.1). Orienting
  * every undirected edge from its lower-(degree, id) endpoint to its
  * higher one and generating wedges at the LOWEST-rank vertex bounds
  * per-vertex fan-out by out-degree², and the degree ordering caps
  * out-degree at O(√m): a hub of degree d keeps out-edges only to
  * neighbors of rank ≥ its own, so total wedge volume is O(m^1.5)
  * worst case and O(m·arboricity) in general — hub-proof, while the
  * count stays EXACT (each triangle is generated exactly once, at its
  * lowest-rank vertex, closed by its one oriented third edge).
  *
  * All joins are plain equi-joins (vertex- and edge-keyed hash
  * shuffles); counts are longs, so the result is bit-identical across
  * engines and the DuckDB oracle can keep the INDEPENDENT naive
  * src<dst formulation — cross-algorithm agreement is a stronger
  * check than re-orienting the oracle.
  */
object Triangles {

  /** Degree-ordered orientation of an undirected graph given as a
    * BOTH-DIRECTION distinct edge list (src, dst): keep (a → b) iff
    * (deg(a), a) < (deg(b), b). Each undirected edge survives exactly
    * once; `rb` carries b's degree so downstream wedge generation can
    * compare endpoint ranks without another join. */
  private[graft] def orient(e: DataFrame): DataFrame = {
    val d = e.groupBy(col("src")).agg(F.count(lit(1)).as("deg"))
    e.select(col("src"), col("dst"))
      .join(d.select(col("src"), col("deg").as("da")), "src")
      .join(d.select(col("src").as("dst"), col("deg").as("db")), "dst")
      .filter(col("da") < col("db") ||
        (col("da") === col("db") && col("src") < col("dst")))
      .select(col("src").as("a"), col("dst").as("b"), col("db").as("rb"))
  }

  /** Serialized size cap for the broadcast closure: 2M oriented edges
    * of two longs ≈ 32 MB on the wire (plus hash-relation overhead),
    * comfortably inside executor memory and broadcast timeouts. The
    * forced broadcast() hint bypasses autoBroadcastJoinThreshold, so a
    * much larger cap (20M rows, ~320 MB) risks driver OOM instead of
    * falling back to the shuffle semi; past this cap the SHUFFLED-HASH
    * semi over bare (b, c) keys is the scale path (measured comparison
    * at the closure choice below). */
  private[graft] val BroadcastMaxOrientedEdges = 2000000L

  /** Exact triangle count of the undirected graph `e` (both-direction
    * distinct edge list). Returns a 1-row (n_triangles: long) frame.
    * Wedges are generated at the lowest-rank vertex `a` over its
    * oriented out-edges (b, c ordered by rank so each wedge appears
    * once), then closed by a semi-join against the oriented edge set —
    * the closing edge {b, c} is oriented b → c because rank(b) <
    * rank(c).
    *
    * `edgeRowBound`: optional KNOWN upper bound on `e`'s row count
    * (both directions — oriented edges are exactly half), used only to
    * size the broadcast-vs-shuffle closure choice. Hot callers that
    * already know their edge count (the streaming tick's observed
    * batch size, the append audit's build-time census) pass it so the
    * adaptive decision costs no extra job; cold callers omit it and
    * the choice keys off the materialized oriented frame's exact
    * count — a cheap 1-value read after the checkpoint. */
  def count(e: DataFrame, edgeRowBound: Option[Long] = None): DataFrame = {
    // the oriented frame feeds THREE branches (both wedge sides + the
    // closure edge set): materialize it once per call — edge-sized, so
    // the cut is cheap — instead of re-running the orient joins per
    // branch (under the full bench suite's cache pressure the
    // un-materialized lineage re-derived the edge build three times:
    // 8.7 s vs 5.0 s isolated)
    val o = orient(e).cut()
    countFromOriented(o, edgeRowBound.map(_ / 2).getOrElse(o.count()))
  }

  /** Exact triangle count from a pre-materialized oriented frame
    * ([[orient]] output, already lineage-cut) with a KNOWN oriented-edge
    * row bound — the build/probe split for callers that orient once and
    * count repeatedly (the shared co-purchase oriented frame is a
    * session memo; re-running the orient joins + the sizing count per
    * probe paid two full edge aggregations per invocation). */
  def countFromOriented(o: DataFrame, orientedBound: Long): DataFrame = {
    val ab = o.select(col("a"), col("b"), col("rb").as("r1"))
    val ac = o.select(col("a"), col("b").as("c"), col("rb").as("r2"))
    val bc = o.select(col("a").as("b"), col("b").as("c"))
    // the wedge frame is the big side (Σ outdeg² ≈ 41M rows at sf0.1
    // vs 1.2M oriented edges), and exchanging it dominates the whole
    // census — so close the wedges WITHOUT shuffling them when the
    // edge set is broadcastable (1.2M × 16-byte rows ≈ 20 MB here):
    // wedges then stream out of the a-keyed self-join straight into a
    // map-side broadcast-hash semi + partial count, and the only
    // exchanges in the plan are the two edge-sized self-join inputs.
    // Past BroadcastMaxOrientedEdges (where a 100× corpus lands) the
    // closure is a SHUFFLED-HASH semi on bare (b, c) keys: the hash
    // table builds on the per-partition EDGE slice (edges/shuffle-
    // partitions keys — bounded, executor-friendly at any corpus) and
    // the wedge frame streams through UNSORTED. Measured on the 10×
    // corpus (12M oriented edges, 410M wedges): sort-merge semi 172 s
    // (the big side's external sort dominates), forced 192 MB
    // broadcast 53 s (driver-OOM territory on real executors),
    // shuffled-hash 16 s. An SMJ-vs-shuffle_hash comparison at sf0.1
    // sits in the broadcast regime, where the closure never dominates;
    // at scale the sort is the whole cost.
    val closure =
      if (orientedBound <= BroadcastMaxOrientedEdges) broadcast(bc)
      else bc.hint("shuffle_hash")
    ab.join(ac, "a")
      .filter(col("r1") < col("r2") ||
        (col("r1") === col("r2") && col("b") < col("c")))
      .select(col("b"), col("c"))
      .join(closure, Seq("b", "c"), "left_semi")
      .agg(F.count(lit(1)).cast("long").as("n_triangles"))
  }

  /** Test-only naive baseline: orient src < dst,
    * wedge at the middle vertex. O(Σ deg²) fan-out — kept ONLY to pin
    * the degree-ordered count's orientation invariance in
    * GraphMiningSpec; no declared query ships it. */
  private[graft] def countNaive(e: DataFrame): DataFrame = {
    val u = e.filter(col("src") < col("dst")).select(col("src"), col("dst"))
    val ab = u.select(col("src").as("a"), col("dst").as("b"))
    val bc = u.select(col("src").as("b"), col("dst").as("c"))
    val ac = u.select(col("src").as("a"), col("dst").as("c"))
    ab.join(bc, "b").join(ac, Seq("a", "c"), "left_semi")
      .agg(F.count(lit(1)).cast("long").as("n_triangles"))
  }

  /** O(batch) incremental count: triangles GAINED by adding the new
    * undirected edges `newBoth` (both-direction, disjoint from the
    * stored set — i.e. merged-minus-stored existence, weight changes
    * to existing edges add no triangles) to the stored graph `oldBoth`
    * (both-direction). Returns a 1-row (n_delta: long) frame with
    * n_delta = triangles(old ∪ new) − triangles(old), computed WITHOUT
    * re-enumerating the stored graph's wedges.
    *
    * Inclusion–exclusion over each triangle's new-edge count f ≥ 1
    * (1 → 1, 2 → 2−1, 3 → 3−3+1, so every gained triangle nets
    * exactly 1):
    *  - c1 = Σ_T f: for each new edge, its merged-graph common
    *    neighbors — two joins fanning out |batch| × deg, never a
    *    stored-graph self-join;
    *  - c2 = Σ_T C(f,2): wedges of two new edges at a shared center,
    *    closed in the merged edge set — |batch|-local fan-out;
    *  - c3 = Σ_T C(f,3): triangles entirely within the batch (the
    *    degree-ordered [[count]] on the batch alone).
    * Every term is batch-anchored, so maintenance cost scales with the
    * batch, not the corpus — the same O(batch) discipline as the
    * LSH/IVF/PQ/HNSW append tiers.
    *
    * `newEdgeRowBound`: optional known upper bound on `newBoth0`'s row
    * count, forwarded to the c3 [[count]]'s closure-broadcast decision
    * so hot maintenance paths (the streaming tick, the append audit)
    * never pay a per-invocation sizing job — see [[count]]. */
  def delta(oldBoth: DataFrame, newBoth0: DataFrame,
      newEdgeRowBound: Option[Long] = None): DataFrame = {
    // the batch edge set feeds all three terms (adjacency union, the
    // c1 anchors, both c2 sides, c3) — materialize it once per call
    // (batch-sized, so the cut is cheap) instead of re-executing its
    // lineage (typically an anti-join against the store) per term
    val newBoth = newBoth0.select(col("src"), col("dst")).cut()
    val adjM = oldBoth.select(col("src"), col("dst"))
      .unionByName(newBoth.select(col("src"), col("dst")))
    // the closure semis' build side: the merged edges whose src is a
    // batch endpoint. Exact, because the first component of every
    // closure probe key (c1's v, c2's x) is a batch endpoint; it keeps
    // the build O(batch neighbourhood) instead of O(corpus). Measured
    // at sf0.1 (4 cores, min of 2) against the whole merged set as the
    // build, at batches of l_orderkey % 10, % 100 and % 1000:
    // 18.45 vs 19.90 s, 3.71 vs 5.51 s and 4.62 vs 5.97 s
    val closure = adjM.join(broadcast(newBoth.select(col("src")).distinct()),
      Seq("src"), "left_semi")
    val nCanon = newBoth.filter(col("src") < col("dst"))
    val c1 = nCanon.select(col("src").as("u"), col("dst").as("v"))
      .join(adjM.select(col("src").as("u"), col("dst").as("wn")), "u")
      .filter(col("wn") =!= col("v"))
      .select(col("v"), col("wn")) // bare key before the big exchange
      .join(closure.select(col("src").as("v"), col("dst").as("wn")),
        Seq("v", "wn"), "left_semi")
      .agg(F.count(lit(1)).cast("long").as("c1"))
    // the c2 closure semi probes with x < y pairs, and `closure` carries
    // both directions, so the build side needs NO src < dst pre-filter —
    // and dropping it makes this build side canonically IDENTICAL to
    // c1's (v, wn) build, so the planner reuses ONE broadcast/exchange
    // of it for both closure semis instead of building the hash
    // relation twice per tick (ReusedExchange, verified on the
    // executed plan)
    val c2 = newBoth.select(col("src").as("ctr"), col("dst").as("x"))
      .join(newBoth.select(col("src").as("ctr"), col("dst").as("y")), "ctr")
      .filter(col("x") < col("y"))
      .join(closure.select(col("src").as("x"), col("dst").as("y")),
        Seq("x", "y"), "left_semi")
      .agg(F.count(lit(1)).cast("long").as("c2"))
    val c3 = count(newBoth, newEdgeRowBound)
      .select(col("n_triangles").as("c3"))
    c1.crossJoin(c2).crossJoin(c3) // 1-row × 1-row × 1-row stapler
      .select((col("c1") - col("c2") + col("c3")).as("n_delta"))
  }

  /** Per-edge triangle SUPPORT of the undirected graph `e`
    * (both-direction distinct edge list): one row per undirected edge
    * in u &lt; v form, (u, v, sup) with sup ≥ 1 — edges in no triangle
    * get NO row. Triangles are enumerated once each at their
    * lowest-rank vertex (the same degree-ordered machinery as
    * [[count]], O(m^1.5) hub-proof) and exploded onto their three
    * edges; support is a keyed count — never a per-edge
    * common-neighbor intersection, which re-pays the Σ deg² wedge
    * volume per EDGE-SIDE instead of once. */
  def edgeSupport(e: DataFrame): DataFrame =
    triangleEdges(orient(e).cut()).groupBy(col("u"), col("v")).agg(F.count(lit(1)).as("sup"))

  /** (u, v) in u &lt; v form, once per edge of every triangle of the
    * oriented frame `o`. */
  private def triangleEdges(o: DataFrame): DataFrame = {
    val ab = o.select(col("a"), col("b"), col("rb").as("r1"))
    val ac = o.select(col("a"), col("b").as("c"), col("rb").as("r2"))
    val bc = o.select(col("a").as("b"), col("b").as("c"))
    val tris = ab.join(ac, "a")
      .filter(col("r1") < col("r2") ||
        (col("r1") === col("r2") && col("b") < col("c")))
      .select(col("a"), col("b"), col("c"))
      .join(bc, Seq("b", "c"), "left_semi")
    tris.select(explode(array(
        struct(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v")),
        struct(least(col("a"), col("c")).as("u"), greatest(col("a"), col("c")).as("v")),
        struct(least(col("b"), col("c")).as("u"), greatest(col("b"), col("c")).as("v"))))
        .as("ed"))
      .select(col("ed.u").as("u"), col("ed.v").as("v"))
  }

  /** (u, v, sup) for EVERY edge of `und` (u &lt; v): its triangle support
    * over the triangles of `o`, 0 for an edge in no triangle. One
    * (u, v)-keyed sum, the same shuffle as [[edgeSupport]]. */
  private def supportOf(und: DataFrame, o: DataFrame): DataFrame =
    triangleEdges(o).select(col("u"), col("v"), lit(1L).as("sup"))
      .unionByName(und.select(col("u"), col("v"), lit(0L).as("sup")))
      .groupBy(col("u"), col("v")).agg(F.sum(col("sup")).as("sup"))

  private def bothDirUv(u: DataFrame): DataFrame =
    u.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(u.select(col("v").as("src"), col("u").as("dst")))

  /** One peel round: from the current undirected edge set `und` (u<v)
    * and `keep`, its edges with sup ≥ k−2 ((u, v, sup)), produce the
    * next round's support frame: (u, v, sup) for every kept edge, 0
    * when none of its triangles survives. Two provably-equivalent
    * backends:
    *
    *  - `decrement = false`: re-enumerate full support
    *    over the SHRUNKEN subgraph — one degree-ordered wedge pass per
    *    round, O(m'^1.5) in the kept subgraph. Right when a round
    *    removes most of the graph (the kept core is small).
    *  - `decrement = true` ("stop recomputing the world"): support
    *    only changes where a triangle DIED, and a
    *    triangle dies iff it contains a removed edge — enumerate the
    *    triangles of the CURRENT graph that contain ≥ 1 removed edge
    *    (removed-edge-anchored common-neighbor join: |removed| × deg
    *    fan-out, never a full wedge pass), dedupe them (a triangle
    *    with 2–3 removed edges is generated once per removed edge it
    *    contains, but dies exactly once), and decrement each hit
    *    triangle's SURVIVING edges by 1:
    *      sup_{r+1}(e) = sup_r(e) − |{T ∋ e in G_r : T hit}|
    *    because a triangle of G_{r+1} containing e is exactly a
    *    triangle of G_r containing e, none of whose edges was removed.
    *    Right when removals are the minority —
    *    late cascade rounds, where re-enumerating the near-unchanged
    *    core repaid the whole wedge volume per round.
    *
    * TrussPeelSpec pins the two backends to identical census rows on
    * randomized graphs; the driver's DuckDB oracle replays the unroll
    * with the independent naive wedge-support formulation. */
  private[graft] def peelRoundSupport(und: DataFrame, keep: DataFrame,
      decrement: Boolean): DataFrame = {
    if (!decrement)
      supportOf(keep, orient(bothDirUv(keep.select(col("u"), col("v")))).cut())
    else {
      val removed = und.join(keep.select(col("u"), col("v")),
        Seq("u", "v"), "left_anti")
      val adj = bothDirUv(und) // triangles die in the CURRENT graph
      val hitTris = removed
        .join(adj.select(col("src").as("u"), col("dst").as("w")), "u")
        .filter(col("w") =!= col("v"))
        .join(adj.select(col("src").as("v"), col("dst").as("w")),
          Seq("v", "w"), "left_semi")
        // canonical triangle id (x1 < x2 < x3): dedupe multi-removed-
        // edge triangles; x2 is the comparison-only median, which
        // cannot overflow the way a sum of ids near 2^62 does
        .select(least(col("u"), col("v"), col("w")).as("x1"),
          greatest(least(col("u"), col("v")),
            least(greatest(col("u"), col("v")), col("w"))).as("x2"),
          greatest(col("u"), col("v"), col("w")).as("x3"))
        .distinct()
      val dec = hitTris.select(explode(array(
          struct(col("x1").as("u"), col("x2").as("v")),
          struct(col("x1").as("u"), col("x3").as("v")),
          struct(col("x2").as("u"), col("x3").as("v")))).as("ed"))
        .select(col("ed.u").as("u"), col("ed.v").as("v"))
        .groupBy(col("u"), col("v")).agg(F.count(lit(1)).as("d"))
      // removed edges' dec rows fall out here: the left join starts
      // from `keep`, which holds surviving edges only
      keep.join(dec, Seq("u", "v"), "left")
        .select(col("u"), col("v"),
          (col("sup") - coalesce(col("d"), lit(0L))).as("sup"))
    }
  }

  /** k-truss peeling run TO ITS FIXED POINT (capped at `maxRounds`),
    * over a BOTH-DIRECTION DISTINCT edge list (the [[count]] input
    * contract): each round keeps the undirected edges whose triangle
    * support in the CURRENT subgraph is ≥ k−2 (Cohen 2008 — the
    * edge-cohesion complement of k-core's vertex degree; a k-truss
    * edge sits in ≥ k−2 triangles of the truss, so every community it
    * witnesses is reinforced by k−2 independent wedges). Returns the
    * census (round, n_edges, sum_support) — n_edges UNDIRECTED, round
    * 0 the input graph — up to and INCLUDING the first stable round:
    * peeling only removes edges, so an equal (edge count, support
    * sum) pair means an equal edge SET and a true fixed point (the
    * k-core convention, including the cap rule: if the cascade
    * outlives `maxRounds`, all maxRounds+1 rows are emitted and the
    * oracle applies the identical trim over the identical unroll).
    *
    * The superstep state is the round's support frame (u, v, sup,
    * kept) over every edge of the round, kept = [sup ≥ k−2]; its
    * measured cut is the census row (rows = n_edges, Σ sup) and
    * Σ kept is the next round's edge count. Per round the support
    * backend is chosen by measured shape (see [[peelRoundSupport]]):
    * full re-enumeration while removals dominate (the first cut of a
    * k-12 peel drops most of the graph), support DECREMENT once the
    * surviving core is the majority, so the cascade's long tail does
    * not re-pay the core's full wedge volume per round. Both backends
    * are census-identical by construction (TrussPeelSpec) and vs the
    * driver's independent oracle. */
  /* requires: `oriented0`, when supplied, must be [[orient]]'s output
   * over THIS `edges0` (the shared co-purchase oriented memo and the
   * shared graph satisfy this by construction — both derive from the
   * same prepared edge frame). A mismatched pre-orientation silently
   * computes wrong round-0 supports; callers wiring a new source must
   * keep the two derivations coupled. */
  def kTrussConvergedCensus(edges0: DataFrame, k: Int, maxRounds: Int,
      oriented0: Option[DataFrame] = None): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val spark = edges0.sparkSession
    def flagged(sup: DataFrame): DataFrame =
      sup.withColumn("kept", (col("sup") >= k - 2).cast("long"))
    // round 0 — the only round over the FULL graph — takes the caller's
    // pre-materialized orientation when one exists (the shared
    // co-purchase oriented memo); later rounds work on their own
    // shrunken subgraphs
    val und0 = edges0.filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
    val rounds = Supersteps.converge(
        flagged(supportOf(und0, oriented0.getOrElse(orient(edges0).cut()))),
        maxRounds, Seq("sup", "kept")) { (prev, _) =>
      val keptN = prev.sums(1)
      val removedN = prev.rows - keptN
      // zero removals → the edge set, hence every edge's support, is
      // UNCHANGED: the state is its own successor, so the stable round
      // re-cuts it instead of re-paying a full support enumeration of
      // the converged core to discover "nothing changed"
      if (removedN == 0) prev.state
      else {
        // decrement only when removals are well under the surviving
        // core (measured sf0.1 bracket: at removed:kept = 2:1 the full
        // re-enumeration won 1.0 s vs 2.6 s; at 0:1 decrement won
        // 0.75 s vs 1.05 s — the crossover sits below 1:1)
        flagged(peelRoundSupport(prev.state.select(col("u"), col("v")),
          prev.state.filter(col("kept") === 1L).select(col("u"), col("v"), col("sup")),
          decrement = removedN * 2 <= keptN))
      }
    }(_ sameMeasure _)
    import spark.implicits._
    rounds.zipWithIndex.map { case (r, i) => (i.toLong, r.rows, r.sums.head) }
      .toDF("round", "n_edges", "sum_support")
  }
}
