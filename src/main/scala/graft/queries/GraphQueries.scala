package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.PageRank

/** Graph-analytics queries over the co-purchase graph implied by the
  * relational tables: parts are nodes, an edge (a → b, weight w) means
  * parts a and b appeared together in w orders. This is the classic
  * item-graph a recommender/curation pipeline derives from behavioral
  * logs; at 100 TB the edge build is the only quadratic-looking step
  * and it is bounded by design — pairs are generated WITHIN an order
  * (TPC-H orders have ≤ a dozen lines), so the self-join on
  * `l_orderkey` produces O(Σ lines(o)²) rows with a small constant,
  * never a cross-corpus cartesian.
  *
  * Cross-engine exactness: ranks are fixed-point longs (see
  * [[graft.operators.PageRank]]), so the DuckDB oracle unrolls the
  * same three iterations in integer arithmetic and matches bit for
  * bit — no float tolerance anywhere.
  */
object GraphQueries extends QueryRegistry {
  import Tables._

  /** HyperBall hop cap for hyperball_nf_census — one constant feeding
    * both the Spark superstep count and the oracle's recursive-CTE
    * depth/unnest range. */
  private val HbHops = 4

  /** Walk length / skip-gram window / negatives-per-position for the
    * randwalk queries — shared by the Spark loops and the oracles'
    * step-CTE unrolls. */
  private val RwSteps = 4
  private val RwWindow = 2
  private val NegK = 3

  /** k-truss parameters for ktruss_converged_census — shared by the
    * Spark peel and the oracle's round unroll. */
  private val KTrussK = 12
  private val KTrussMaxRounds = 10

  /** Co-purchase edge list (src, dst, w), both directions; w = the
    * number of ORDERS where the two parts appear together (per-order
    * (orderkey, partkey) pairs are distinct'd BEFORE the self-join, so
    * a part listed on k lines of one order contributes one co-order,
    * not k·j pair rows, which would inflate the weight). */
  private[graft] def copurchaseEdges(s: SparkSession, dir: String): DataFrame =
    edgesOf(lineitem(s, dir))

  /** The same edge derivation over an arbitrary lineitem slice — the
    * shared kernel of the full build, the incremental append, and the
    * streaming replay (one formula, every consumer). Pairs are
    * generated WITHIN an order, so a slice containing WHOLE orders
    * yields exactly the edges those orders contribute to a full build:
    * edge counts are order-additive, which is what makes the O(batch)
    * append exact. */
  private[graft] def edgesOf(li: DataFrame): DataFrame = {
    val op = li.select(col("l_orderkey").as("ok"), col("l_partkey")).distinct()
    val a = op.select(col("ok"), col("l_partkey").as("src"))
    val b = op.select(col("ok"), col("l_partkey").as("dst"))
    a.join(b, "ok")
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** Prepared (materialized) co-purchase graph, memoized per
    * (session, dir): the lineitem self-join + out-weight join run once
    * and every graph query iterates over the checkpointed frames — the
    * build-once/probe-many discipline of the index stores applied to
    * the graph tier (at 100 TB this is the persisted edge partition
    * every Pregel-style system keeps across supersteps). */
  private def sharedGraph(s: SparkSession, dir: String): PageRank.Graph =
    SharedBuilds.of(s, dir, "copurchase-graph")(
      PageRank.prepare(copurchaseEdges(s, dir)))

  /** Memoized basket census next to the shared graph: the per-part
    * distinct-order counts (a bounded, persisted frame) and the 1-value
    * total-order count — the SharedBuilds discipline applied to the
    * association-rule denominators, so repeated invocations don't
    * re-run the distinct + count() driver action per query. */
  private def sharedOrderCensus(s: SparkSession, dir: String): (DataFrame, Long) =
    SharedBuilds.of(s, dir, "copurchase-order-census") {
      val op = lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val perPart = op.groupBy(col("p")).agg(count(lit(1)).as("n_ord")).persist()
      perPart.count() // materialize
      val nOrders = op.select(col("ok")).distinct().count()
      (perPart, nOrders)
    }

  /** Memoized degree frame (src, deg) of the full co-purchase graph:
    * the one edge-wide aggregation that three declared consumers
    * (triangle wedge denominator, degree histogram, the orientation
    * build) each re-ran per invocation — built once and materialized
    * like the graph itself (the frame is node-sized, so the cut is
    * cheap). */
  private def sharedDegrees(s: SparkSession, dir: String): DataFrame =
    SharedBuilds.of(s, dir, "copurchase-degrees") {
      graft.operators.Cuts.cut(
        sharedGraph(s, dir).ew.groupBy(col("src"))
          .agg(count(lit(1)).as("deg")))
    }

  /** Memoized degree-ordered ORIENTATION of the full co-purchase graph
    * (+ its oriented row count, read once from the materialized frame):
    * the orient joins + the closure-sizing count are iteration-static
    * exactly like the prepared graph, so the triangle census and the
    * k-truss peel's round 0 probe the same cut frame instead of paying
    * two full edge aggregations per invocation (the
    * build-once/probe-many discipline applied to the orientation). */
  private def sharedOriented(s: SparkSession, dir: String): (DataFrame, Long) =
    SharedBuilds.of(s, dir, "copurchase-oriented") {
      val o = graft.operators.Cuts.cut(graft.operators.Triangles.orient(
        sharedGraph(s, dir).ew.select(col("src"), col("dst"))))
      (o, o.count())
    }

  /** Memoized BACKBONE next to the shared graph: the w ≥ 2 edge
    * subgraph (pairs co-purchased in at least two distinct orders —
    * the repeated-signal edges, the same floor basket_association_rules
    * uses). The full co-purchase graph is diameter-2 dense (every part
    * is ≤ 2 hops from every other), so traversal queries run on the
    * backbone, where hop structure, path costs, and core cascades are
    * non-degenerate. Persisted once per (session, dir) like the graph
    * itself; filtering the prepared frame keeps its src-hash
    * partitioning, so frontier joins stay co-partitioned. */
  private[graft] def sharedBackbone(s: SparkSession, dir: String): DataFrame =
    SharedBuilds.of(s, dir, "copurchase-backbone") {
      val bb = sharedGraph(s, dir).ew.filter(col("w") >= 2)
        .select(col("src"), col("dst")).persist()
      bb.count() // materialize
      bb
    }

  /** Per-hop HyperBall register frames 0..HbHops over the backbone,
    * memoized per (session, dir): the supersteps run once and every
    * register consumer (nf census, harmonic centrality) reads the
    * same cut frames — the build-once/probe-many discipline of the
    * index stores applied to sketch state. */
  private def hyperballRegHops(s: SparkSession, dir: String): Seq[DataFrame] =
    SharedBuilds.of(s, dir, "hyperball-regs") {
      val bb = sharedBackbone(s, dir)
      val nodes = bb.select(col("src").as("node")).distinct()
      graft.operators.HyperBall.registerHops(bb, nodes, HbHops)
    }

  /** Per-(hop, root) corrected estimates from the memoized register
    * frames — the shared input of the nf census and the harmonic
    * centrality top-k. */
  private def hyperballEstByHop(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.HyperBall
    hyperballRegHops(s, dir).zipWithIndex.map { case (regs, h) =>
      HyperBall.perRootDenom(regs)
        .select(col("root"), lit(h.toLong).as("hop"), col("nregs"),
          col("sumr"), HyperBall.estimate(col("nregs"), col("hnum")).as("est"))
    }.reduce(_ unionByName _)
  }

  /** Walk positions memoized per (session, dir) — the walk corpus is
    * a build-once artifact like the index stores; the pair census and
    * the negatives audit probe the same materialized frames. */
  private def walkPositionsShared(s: SparkSession, dir: String): DataFrame =
    SharedBuilds.of(s, dir, "randwalk-positions") {
      val bb = sharedBackbone(s, dir)
      val nodes = bb.select(col("src").as("node")).distinct()
      graft.operators.Walks.walkPositions(bb, nodes, RwSteps)
    }

  /** Skip-gram (center, context) pair census over the memoized walk
    * corpus, itself memoized: both randwalk
    * queries read the pair table (the top-k census directly, the
    * negatives audit as its collision side), so the root-keyed
    * self-join + pair aggregation run once per (session, dir) instead
    * of once per invocation — at 100 TB this is the persisted
    * training-pair table a skip-gram trainer consumes. */
  private def sharedSkipGramPairs(s: SparkSession, dir: String): DataFrame =
    SharedBuilds.of(s, dir, "randwalk-pairs") {
      graft.operators.Cuts.cut(graft.operators.Walks.skipGramPairs(
        walkPositionsShared(s, dir), RwWindow))
    }

  /** UNMEMOIZED skip-gram pair census — the 10× scale-probe surface
    * for the pair build (the declared
    * randwalk_skipgram_pairs query reads the [[sharedSkipGramPairs]]
    * memo, so probing the declared query would time the serve read).
    * Re-runs the root-keyed self-join + pair aggregation over the
    * memoized walk positions (their build lands in the probe's
    * untimed warm-up) on every call, folded to a bounded census so
    * the noop sink forces the full pair volume. */
  private[graft] def skipGramPairsProbe(s: SparkSession, dir: String): DataFrame =
    graft.operators.Walks.skipGramPairs(walkPositionsShared(s, dir), RwWindow)
      .groupBy().agg(count(lit(1)).as("n_pairs"), sum(col("cnt")).as("sum_cnt"))

  /** Hash-ranked node table (rk = 1..n, node) — the negative-sampling
    * index: one draw = one lookup at rank (hash mod n) + 1, never an
    * argmin over the node set per sample. Rank order = md5 of
    * "nrk:"+node with id tiebreak (total, cross-engine). The build is
    * ONE global row_number over the node set — a once-per-corpus sort
    * in the same cost class as the index builds it sits beside. */
  private def rankedNodes(s: SparkSession, dir: String): (DataFrame, Long) =
    SharedBuilds.of(s, dir, "randwalk-ranked-nodes") {
      val bb = sharedBackbone(s, dir)
      val nodes = bb.select(col("src").as("node")).distinct()
      val w = org.apache.spark.sql.expressions.Window.orderBy(
        graft.functions.TextOps.md5Long(
          concat(lit("nrk:"), col("node").cast("string"))), col("node"))
      val ranked = graft.operators.Cuts.cut(
        nodes.select(col("node"), row_number().over(w).cast("long").as("rk")))
      // the node count rides the memo (one bounded read of the cut
      // frame at build time) so the negatives audit stops paying a
      // count() action per invocation
      (ranked, ranked.count())
    }

  /** Converged reach registers over the backbone, memoized per
    * (session, dir) — the fixed point is a build-once artifact like
    * the prepared graph itself (the cut frames [[graft.operators.Cuts]]
    * produces are already materialized, so the memo hands every
    * consumer the same converged state). */
  private[queries] def convergedReachRegs(s: SparkSession, dir: String): DataFrame =
    SharedBuilds.of(s, dir, "reach-converged") {
      val bb = sharedBackbone(s, dir)
      val nodes = bb.select(col("src").as("node")).distinct()
      graft.operators.HyperBall.converge(
        bb, graft.operators.HyperBall.registers0(nodes), maxRounds = 64)
    }

  /** Register-count histogram census over a register frame — shared
    * by reach_converged_census and the streaming replay's serve side
    * (one formula, two replays). Integer channels are commutative
    * sums; the per-group nf estimate folds ordered two-level (1024
    * root buckets → bucket order). */
  private[queries] def reachCensus(regs: DataFrame): DataFrame = {
    import graft.operators.HyperBall
    val es = HyperBall.perRootDenom(regs)
      .select(col("root"), col("nregs"), col("sumr"),
        HyperBall.estimate(col("nregs"), col("hnum")).as("est"))
    es.groupBy(col("nregs"), pmod(col("root"), lit(1024L)).as("bkt"))
      .agg(count(lit(1)).as("nr"), sum(col("sumr")).as("sr"),
        Folds.orderedSum(col("root"), col("est")).as("p"))
      .groupBy(col("nregs"))
      .agg(sum(col("nr")).as("n_roots"), sum(col("sr")).as("sum_rank"),
        (round(Folds.orderedSum(col("bkt"), col("p")), 6) + 0.0).as("nf_est"))
      .select(col("nregs").cast("long").as("n_regs"),
        col("n_roots").cast("long"), col("sum_rank").cast("long"),
        col("nf_est"))
      .orderBy(col("n_regs"))
  }

  /** O(batch) incremental edge append — the graph tier joins
    * LSH/IVF/PQ/HNSW in taking batch maintenance without a corpus
    * rebuild. Pairs are order-local
    * (see [[edgesOf]]), so a batch of WHOLE new orders contributes a
    * self-contained edge increment; the merge is a union + keyed sum —
    * one shuffle over |stored edges| + |batch edges|, no lineitem
    * re-scan of the historical corpus. Edge-count additivity makes
    * append ≡ rebuild EXACT (long sums are associative), which
    * pagerank_append_audit checks end-to-end against the full-rebuild
    * SQL oracle. */
  private[graft] def edgesAppend(stored: DataFrame, batchLi: DataFrame): DataFrame =
    stored.unionByName(edgesOf(batchLi))
      .groupBy(col("src"), col("dst"))
      .agg(sum(col("w")).as("w"))

  /** DURABLE incrementally-maintained edge store: the even-order half
    * builds the base store (parquet — the persisted artifact a daily
    * job reads back), the odd-order half lands via [[edgesAppend]],
    * and the merged store is re-read from disk — so the audit query
    * consumes the real two-session artifact (write → read-back →
    * append → write → read-back), not shared lineage. Memoized per
    * (session, dir) like every index store. */
  private def appendedEdgeStore(s: SparkSession, dir: String): DataFrame =
    SharedBuilds.of(s, dir, "copurchase-edges-appended") {
      val li = lineitem(s, dir)
      val basePath = buildPath(dir, "copurchase-edges-base")
      edgesOf(li.filter(col("l_orderkey") % 2 === 0))
        .write.mode("overwrite").parquet(basePath)
      val storePath = buildPath(dir, "copurchase-edges")
      edgesAppend(s.read.parquet(basePath), li.filter(col("l_orderkey") % 2 === 1))
        .write.mode("overwrite").parquet(storePath)
      s.read.parquet(storePath)
    }

  /** Synchronous weighted label propagation over a prepared graph
    * (shared by the declared query and GraphMiningSpec's model check).
    * The per-node winner is an ARGMAX AGGREGATION — `max_by` keyed on
    * the (cnt, −lbl) struct (largest vote, ties to smallest label) —
    * not a window: a row_number window must SORT the whole
    * edges-sized vote frame inside each node partition, while max_by
    * folds it with map-side partial aggregation (measured ~2× on the
    * sf0.1 vote frame). Returns (node, lbl).
    *
    * Depth controls ride the shared [[graft.operators.Supersteps]]
    * driver: lineage cuts
    * every `checkpointEvery` supersteps bound plan depth on
    * to-convergence runs, and `earlyExitOnStable` stops when the EXACT
    * label-change count hits 0 — labels are a pure function of the
    * previous labeling, so a zero-change superstep is a true fixed
    * point and exit never changes the result (integer criterion,
    * oracle-friendly). checkpointEvery defaults to 1: each superstep
    * references `labels` TWICE (the vote join and the no-vote
    * fallback), so an uncut loop re-executes every
    * earlier round's subtree 2× per later round — the Bellman–Ford
    * doubling; the per-round cut is node-sized and collapses it
    * (values unchanged — a cut is semantically the identity). */
  private[graft] def lpaIterate(g: PageRank.Graph, iters: Int,
      checkpointEvery: Int = 1, earlyExitOnStable: Boolean = false): DataFrame = {
    def step(labels: DataFrame): DataFrame = {
      val top = g.ew.join(labels, g.ew("src") === labels("node"))
        .select(g.ew("dst").as("node"), col("lbl"), g.ew("w"))
        .groupBy(col("node"), col("lbl")).agg(sum(col("w")).as("cnt"))
        .groupBy(col("node"))
        .agg(max_by(col("lbl"), struct(col("cnt"), (-col("lbl")).as("neg")))
          .as("new_lbl"))
      labels.select(col("node"), col("lbl").as("old_lbl"))
        .join(top, Seq("node"), "left")
        .select(col("node"), coalesce(col("new_lbl"), col("old_lbl")).as("lbl"))
    }
    val l0 = g.nodes.select(col("node"), col("node").as("lbl"))
    if (!earlyExitOnStable)
      graft.operators.Supersteps.loop(l0, iters, checkpointEvery)(step)
    else {
      require(iters >= 1, s"iters must be >= 1, got $iters")
      graft.operators.Supersteps.converge(l0, iters)((prev, _) => step(prev.state)) {
        (prev, next) =>
          next.state.join(prev.state.withColumnRenamed("lbl", "prev_lbl"), "node")
            .filter(col("lbl") =!= col("prev_lbl"))
            .count() == 0L
      }.last.state
    }
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // 3-iteration damped PageRank over the co-purchase graph, top-20
    // parts. Per iteration: one src-keyed join + one dst-keyed sum —
    // the two-shuffle superstep that holds at any scale.
    "pagerank_copurchase" -> ((s, dir) =>
      PageRank.iterate(sharedGraph(s, dir), 3)
        .select(col("node").as("part_id"), col("rank_fp"))
        .orderBy(col("rank_fp").desc, col("part_id"))
        .limit(20)),

    // personalized PageRank seeded at Brand#2's parts: the top-20
    // NON-seed parts by biased rank are the items most co-purchase-
    // reachable from the brand — the graph-walk "related products"
    // beyond direct partners (a 2-hop-plus signal a plain partner
    // probe cannot see)
    "ppr_brand_affinity" -> ((s, dir) => {
      val g = sharedGraph(s, dir)
      val seeds = g.nodes.join(
        part(s, dir).filter(col("p_brand") === "Brand#2")
          .select(col("p_partkey").as("node")), "node")
      val seedSet = seeds.select(col("node").as("sn"))
      PageRank.iteratePersonalized(g, seeds, 3)
        .join(seedSet, col("node") === col("sn"), "left_anti")
        .select(col("node").as("part_id"), col("rank_fp"))
        .orderBy(col("rank_fp").desc, col("part_id"))
        .limit(20)
    }),

    // top-5 co-purchase partners for the first 10 parts — the
    // item-to-item recommendation probe ("customers who bought X also
    // bought"), read straight off the shared prepared graph: a
    // src-keyed window over the filtered edge frame, no rebuild
    "copurchase_top_partners" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(col("w").desc, col("dst").asc)
      sharedGraph(s, dir).ew
        .filter(col("src") < 10)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("src").as("part_id"), col("rnk").cast("long").as("rnk"),
          col("dst").as("partner_id"), col("w").as("n_co_orders"))
        .orderBy(col("part_id"), col("rnk"))
    }),

    // incremental-maintenance audit (the pq_append_audit discipline on
    // the graph tier): 3 PageRank iterations over the INCREMENTALLY
    // BUILT durable edge store (even orders as the base build, odd
    // orders appended via edgesAppend), while the oracle replays the
    // FULL from-scratch edge build + the same 3 integer iterations —
    // green means append ≡ rebuild bit-for-bit through the whole
    // downstream computation, not just on edge counts
    "pagerank_append_audit" -> ((s, dir) =>
      PageRank.iterate(
        SharedBuilds.of(s, dir, "copurchase-graph-appended")(
          PageRank.prepare(appendedEdgeStore(s, dir))), 3)
        .select(col("node").as("part_id"), col("rank_fp"))
        .orderBy(col("rank_fp").desc, col("part_id"))
        .limit(20)),

    // association-rule mining over the same baskets (Apriori's output
    // tier at pair granularity): rule src→dst with support = co-order
    // count, confidence = P(dst|src), lift = P(dst|src)/P(dst) — all
    // in exact ppm fixed-point (cross-multiplied integer division, no
    // float ratios), top-20 by lift. Reads the shared prepared graph
    // (w IS the pair support) + the memoized per-part/total order
    // census (sharedOrderCensus — built once per session, like the
    // graph itself); support floor ≥ 2 (a repeated co-purchase) keeps
    // one-off noise out while staying non-degenerate at every sf (max
    // co-order count is 3-5 in the testdata)
    "basket_association_rules" -> ((s, dir) => {
      val (perPart, nOrders) = sharedOrderCensus(s, dir)
      sharedGraph(s, dir).ew
        .filter(col("w") >= 2)
        .join(broadcast(perPart.select(col("p").as("src"), col("n_ord").as("n_src"))), "src")
        .join(broadcast(perPart.select(col("p").as("dst"), col("n_ord").as("n_dst"))), "dst")
        .select(col("src"), col("dst"), col("w").as("support"),
          expr("(w * 1000000L) div n_src").as("confidence_ppm"),
          expr(s"(w * ${nOrders}L * 1000000L) div (n_src * n_dst)").as("lift_ppm"))
        .orderBy(col("lift_ppm").desc, col("src").asc, col("dst").asc)
        .limit(20)
    }),

    // degree histogram of the same graph: how many parts have k
    // co-purchase neighbors — the graph-shape audit run before any
    // iterative algorithm (a power-law tail with mega-hubs is the
    // signal to salt or clip before PageRank/components)
    "copurchase_degree_hist" -> ((s, dir) =>
      sharedDegrees(s, dir)
        .groupBy(col("deg"))
        .agg(count(lit(1)).as("n_parts"))
        .orderBy(col("deg"))),

    // synchronous label propagation (Raghavan et al. 2007), 2 unrolled
    // iterations: each node adopts the label with the largest WEIGHTED
    // neighbor vote (integer sum of co-order counts), ties to the
    // smallest label — the cheap community detector a recommender runs
    // before segment-level aggregation. One superstep = the PageRank
    // shuffle pair (src-keyed label join + dst-keyed vote sum) plus a
    // node-keyed argmax; votes are longs, so both engines agree
    // bit-for-bit. Top-20 communities by size
    "copurchase_communities" -> ((s, dir) =>
      lpaIterate(sharedGraph(s, dir), 2)
        .groupBy(col("lbl"))
        .agg(count(lit(1)).as("n_members"))
        .select(col("lbl").as("community"), col("n_members"))
        .orderBy(col("n_members").desc, col("community").asc)
        .limit(20)),

    // triangle census + global clustering coefficient. The count is
    // DEGREE-ORDERED (graft.operators.Triangles: orient each edge
    // low-rank → high-rank, wedge at the lowest-rank vertex) — the
    // hub-proof exact algorithm whose wedge fan-out is bounded by
    // arboricity instead of Σ deg(middle)² (148M wedges at sf0.1
    // under the naive shape;
    // a power-law hub at 100× makes that THE skewed-shuffle killer).
    // The oracle keeps the INDEPENDENT naive src<dst formulation —
    // the count is orientation-invariant, so green is cross-ALGORITHM
    // agreement, not just cross-engine. Wedges = Σ deg·(deg−1)/2 over
    // distinct-neighbor degrees (exact longs — the product is always
    // even); the one double is the final rounded coefficient
    "copurchase_triangles" -> ((s, dir) => {
      // orientation + degree frame ride session memos: the timed probe
      // is the wedge self-join + closure semi — the per-invocation
      // orient joins, sizing count, and degree aggregation all
      // collapsed into build-once artifacts
      val (o, nOriented) = sharedOriented(s, dir)
      val tri = graft.operators.Triangles.countFromOriented(o, nOriented)
      val wedges = sharedDegrees(s, dir)
        .agg(sum(expr("(deg * (deg - 1)) div 2")).cast("long").as("n_wedges"))
      tri.crossJoin(wedges) // 1-row × 1-row stapler
        .withColumn("global_clustering",
          when(col("n_wedges") === 0L, lit(0.0)).otherwise(
            round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6) + 0.0))
    }),

    // 12-truss peel census over the FULL co-purchase graph (edge
    // cohesion needs the triangle-rich graph; the w≥2 backbone is too
    // sparse to carry 10 triangles per edge): each round keeps edges
    // with ≥ k−2 = 10 triangles of support in the current subgraph —
    // k-core's complement on EDGES (Cohen 2008), the
    // community-skeleton extraction a recommender runs to separate
    // reinforced co-purchase structure from one-off coincidences.
    // Support comes from the degree-ordered triangle enumeration
    // (each triangle counted once at its lowest-rank vertex, exploded
    // onto its 3 edges — O(m^1.5) per round, hub-proof), never a
    // per-edge common-neighbor intersection. Runs to the integer
    // fixed point (equal (n_edges, sum_support) = equal edge set)
    // capped at 10 rounds; the oracle unrolls the identical rounds
    // with the INDEPENDENT naive wedge-support formulation and
    // applies the identical trim (cross-algorithm agreement, the
    // copurchase_triangles convention).
    "ktruss_converged_census" -> ((s, dir) =>
      SharedBuilds.of(s, dir, "ktruss-census") {
        // the returned census is a bounded LocalRelation (≤ 11 rows),
        // so the memo alone makes the peel a build-once artifact
        graft.operators.Triangles.kTrussConvergedCensus(
          sharedGraph(s, dir).ew.select(col("src"), col("dst")),
          k = KTrussK, maxRounds = KTrussMaxRounds,
          oriented0 = Some(sharedOriented(s, dir)._1))
      }.orderBy(col("round"))),

    // multi-source BFS hop census from Brand#7's parts over the w≥2
    // BACKBONE (the full graph is diameter-2 dense — every hop census
    // there is the degenerate {0,1,2}): per-hop node count + id
    // min/max/sum, hop −1 = unreachable within the 6-hop cap. The
    // frontier loop is the Pregel shape — per level one co-partitioned
    // src-keyed join + a distinct + an anti-join against the
    // materialized visited set; empty-level exit is a true fixed point.
    // The oracle replays it as a DuckDB recursive CTE (UNION-dedup
    // semantics bound the recursion), fully independent of the
    // frontier algorithm
    "bfs_hop_census" -> ((s, dir) => {
      val g = sharedGraph(s, dir)
      val seeds = g.nodes.join(
        part(s, dir).filter(col("p_brand") === "Brand#7")
          .select(col("p_partkey").as("node")), "node")
      val dist = graft.operators.Traversal.bfsHops(
        sharedBackbone(s, dir), seeds, maxHops = 6)
      g.nodes.join(dist, Seq("node"), "left")
        .select(col("node"), coalesce(col("hop"), lit(-1L)).as("hop"))
        .groupBy(col("hop"))
        .agg(count(lit(1)).as("n_parts"), min(col("node")).as("min_part"),
          max(col("node")).as("max_part"), sum(col("node")).as("sum_parts"))
        .orderBy(col("hop"))
    }),

    // HyperBall neighborhood-function census over the w≥2 backbone:
    // per hop 0..4, every node's ball size is ESTIMATED from one
    // 64-register HLL per node (register rows max-merged one hop per
    // superstep — operators.HyperBall), never from materialized ball
    // sets (Σ|ball| is quadratic on small-world graphs; register
    // state is a hard 64-rows-per-node bound at any scale). Output
    // per hop: exact integer register census (rows, rank sum — the
    // bit-exact audit channel), the summed corrected-HLL estimate of
    // Σ|ball(v,h)| (nf_est), and the effective-diameter flag
    // (nf ≥ 90% of the hop-4 plateau). Float discipline: the per-root
    // harmonic denominator is an EXACT integer (Σ 2^(55−r) fits a
    // long — commutative codegen'd sum, no ordered fold needed),
    // per-root estimates are one double division plus shared-literal
    // lookups, and only the cross-root nf sum folds ordered —
    // two-level over 1024 root buckets (no single collect_list ever
    // holds n elements, the shape that survives a 100M-node graph);
    // linear-counting ln values come from ONE Scala-computed literal
    // table shared with the oracle so libm never runs inside either
    // engine. The oracle
    // materializes the exact ≤h balls (recursive CTE — affordable at
    // oracle scale, the very thing HyperBall avoids at 100 TB) and
    // replays registers + estimator bit-for-bit.
    "hyperball_nf_census" -> ((s, dir) => {
      val es = hyperballEstByHop(s, dir)
      val census = es
        .groupBy(col("hop"), pmod(col("root"), lit(1024L)).as("bkt"))
        .agg(count(lit(1)).as("nr"), sum(col("nregs")).as("nn"),
          sum(col("sumr")).as("sr"),
          Folds.orderedSum(col("root"), col("est")).as("p"))
        .groupBy(col("hop"))
        .agg(sum(col("nr")).cast("long").as("n_roots"),
          sum(col("nn")).cast("long").as("n_reg_rows"),
          sum(col("sr")).cast("long").as("sum_rank"),
          (round(Folds.orderedSum(col("bkt"), col("p")), 6) + 0.0)
            .as("nf_est"))
      val plateau = census.filter(col("hop") === HbHops.toLong)
        .select(col("nf_est").as("nf_max"))
      // explicit broadcast: the stapler side is 1 row by construction,
      // but its size ESTIMATE flows through agg-of-agg stats Catalyst
      // can't bound, so an unhinted crossJoin planned a
      // CartesianProduct (PlanSpec's no-cartesian sweep pins this)
      census.crossJoin(broadcast(plateau)) // 5-row × 1-row stapler
        .select(col("hop"), col("n_roots"), col("n_reg_rows"),
          col("sum_rank"), col("nf_est"),
          (col("nf_est") >= col("nf_max") * 0.9).as("reaches_p90"))
        .orderBy(col("hop"))
    }),

    // harmonic centrality — HyperBall's flagship application (Boldi &
    // Vigna 2013 §1): H(v) = Σ_u 1/d(v,u), estimated within the 4-hop
    // horizon as Σ_h (NF_v(h) − NF_v(h−1))/h off the SAME memoized
    // register frames as the nf census (distances beyond the cap
    // contribute ≤ 1/5 each and are truncated — stated, not hidden).
    // Top-10 most-central parts: the "which items sit closest to the
    // whole catalog" signal a recommender reads off reach, computed
    // without ever materializing a distance matrix. The 4-term
    // per-root sum folds in hop order (deterministic), ordering is on
    // the identical-bits double, and the oracle replays estimator and
    // window-lag arithmetic exactly.
    "hyperball_harmonic_top10" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("root")).orderBy(col("hop"))
      val tm = hyperballEstByHop(s, dir)
        .withColumn("prev", lag(col("est"), 1).over(w))
        .filter(col("hop") >= 1)
        .select(col("root"), col("hop"),
          ((col("est") - col("prev")) / col("hop")).as("term"))
      tm.groupBy(col("root"))
        .agg(Folds.orderedSum(col("hop"), col("term")).as("c"))
        .orderBy(col("c").desc, col("root"))
        .limit(10)
        .select(col("root").as("node"),
          (round(col("c"), 6) + 0.0).as("harmonic_c"))
    }),

    // converged-reach register census: HyperBall's absorption
    // supersteps run TO THEIR FIXED POINT (exact integer certificate —
    // registers only appear or grow, so a repeated (rows, Σr) pair IS
    // the fixed point), where each root's registers summarize its
    // whole connected component. Output = the register-count
    // histogram over roots (n_regs, n_roots, sum_rank, nf_est) —
    // component-size structure read off bounded sketch state, never
    // off materialized component sets. The same lattice monotonicity
    // makes the streaming twin (stream_reach_replay) exact and
    // re-delivery-idempotent from maintained state. Oracle: connected
    // reach via unbounded recursive CTE + per-(root, bucket) max —
    // converged registers ARE the per-component register merge.
    "reach_converged_census" -> ((s, dir) =>
      reachCensus(convergedReachRegs(s, dir))),

    // DeepWalk-style walk corpus → skip-gram training pairs: one
    // deterministic hash-random walk of 4 hops from every backbone
    // node (successor at step t = the out-neighbor minimizing the
    // shared md5 of "rw:t:src:dst" — reproducible across engines,
    // partitionings, and retries, so a 100-TB walk corpus needs no
    // persisted walk table), then window-±2 (center, context) pair
    // counts — the rows a node-embedding trainer consumes. Top-20
    // pairs under a total order. Per step: one keyed argmin over the
    // edge list + one src-keyed join; walk state is one row per root.
    // The oracle unrolls the 4 steps as QUALIFY-argmin CTEs and
    // replays the pair census bit for bit.
    "randwalk_skipgram_pairs" -> ((s, dir) =>
      sharedSkipGramPairs(s, dir)
        .orderBy(col("cnt").desc, col("ctr"), col("ctx"))
        .limit(20)
        .select(col("ctr"), col("ctx"), col("cnt").cast("long"))),

    // negative-sampling audit over the walk corpus — the other half of
    // the skip-gram training artifact: for every (center, step)
    // position, NegK deterministic negatives drawn by indexing a
    // hash-RANKED node table at rank md5("neg:i:ctr:step") mod n (the
    // walk discipline: hash-random, reproducible anywhere, and an
    // O(1)-per-sample table lookup — never an argmin over all nodes
    // per sample). The audit: how many negatives collide with a TRUE
    // ±2-window context of the same center (false negatives — the
    // quantity that corrupts a contrastive objective), total/distinct
    // draw counts. One row, all integers; the oracle replays the rank
    // table, the draws, and the collision join exactly.
    "randwalk_negatives_audit" -> ((s, dir) => {
      val pos = walkPositionsShared(s, dir)
      val (ranked, n) = rankedNodes(s, dir)
      val negIdx = s.range(NegK).select(col("id").cast("string").as("i"))
      val draws = pos.select(col("root"), col("step"), col("node").as("ctr"))
        .crossJoin(negIdx) // NegK-row literal side → broadcast NLJ
        .withColumn("rk", pmod(graft.functions.TextOps.md5Long(
          concat(lit("neg:"), col("i"), lit(":"), col("ctr").cast("string"),
            lit(":"), col("step").cast("string"))), lit(n)) + 1)
        .join(ranked, "rk")
        .select(col("root"), col("ctr"), col("node").as("neg"))
      val ctx = sharedSkipGramPairs(s, dir)
        .select(col("ctr").as("c2"), col("ctx"))
      draws.join(ctx, draws("ctr") === col("c2") && draws("neg") === col("ctx"),
          "left")
        .agg(count(lit(1)).cast("long").as("n_draws"),
          countDistinct(col("neg")).cast("long").as("n_distinct_negs"),
          sum(when(col("ctx").isNotNull, 1L).otherwise(0L)).cast("long")
            .as("n_false_negs"))
    }),

    // cheapest co-purchase path costs from Brand#13's parts: edge cost
    // = 1000000 div w (inverse co-order frequency, exact fixed-point —
    // strong ties are cheap), 3 synchronous min-plus relaxations
    // (Bellman–Ford's bounded prefix = exact min cost over ≤3-edge
    // paths), top-20 non-seed parts by cost. A multi-hop chain of
    // strong edges can beat a direct weak edge — the graph-distance
    // "related products" signal PPR approximates by mass. Integer
    // costs, so the oracle unrolls the same 3 rounds (the PageRank
    // convention); one superstep = one src-keyed join + node-keyed min
    "sssp_brand_cost" -> ((s, dir) => {
      val g = sharedGraph(s, dir)
      val costE = g.ew.select(col("src"), col("dst"),
        expr("1000000L div w").as("cost"))
      val seeds = g.nodes.join(
        part(s, dir).filter(col("p_brand") === "Brand#13")
          .select(col("p_partkey").as("node")), "node")
      graft.operators.Traversal.bellmanFord(costE, seeds, rounds = 3)
        .join(seeds.select(col("node").as("sn")),
          col("node") === col("sn"), "left_anti")
        .select(col("node").as("part_id"), col("cost").as("cost_fp"))
        .orderBy(col("cost_fp").asc, col("part_id").asc)
        .limit(20)
    }),

    // k-core peeling census over the backbone (k=3, 4 unrolled
    // rounds): each round drops nodes with degree < 3 in the CURRENT
    // subgraph and restricts edges to survivors — the cascading
    // contraction toward the dense core a curation pipeline uses to
    // separate organic co-purchase neighborhoods from incidental
    // pairs. Census = (round, n_nodes, n_edges) with the cascade
    // visible round over round; every count is a long, so the oracle
    // unrolls the identical 4 rounds
    "kcore_peel_census" -> ((s, dir) =>
      graft.operators.Traversal.kCorePeelCensus(
        sharedBackbone(s, dir), k = 3, rounds = 4)
        .orderBy(col("round"))),

    // the same peel run TO ITS FIXED POINT: the
    // census stops at — and includes — the first round whose
    // (n_nodes, n_edges) repeats the previous round's, the exact
    // integer convergence probe the LPA/PageRank tier uses (the edge
    // set only shrinks, so an equal census is an equal set). The
    // 12-round cap is shared with the oracle, which unrolls the
    // identical 12 rounds and applies the identical
    // trim-after-first-repeat rule — so capped and converged runs both
    // match bit-for-bit. Per round: two broadcast keep-joins and one
    // node-keyed degree sum, one measured cut of the Supersteps
    // driver
    "kcore_converged_census" -> ((s, dir) =>
      graft.operators.Traversal.kCoreConvergedCensus(
        sharedBackbone(s, dir), k = 3, maxRounds = KCoreMaxRounds)
        .orderBy(col("round"))),

    // the CLUSTER-DURABLE cut backend gated by the driver's oracle,
    // not just specs (the stream_nb_replay shared-oracle precedent:
    // different execution path, same result contract): the deepest
    // declared superstep consumer — the converged k-core peel, whose
    // stop test reads every round's measured cut — re-run with EVERY
    // lineage cut routed through the durable parquet backend
    // (`spark.graft.checkpoint.dir`). The oracle is
    // kcore_converged_census's SQL verbatim, so a backend that loses
    // rows, reorders reads, or drifts schema hash-fails per round in
    // the driver gate. The peel is eager (per-round census actions),
    // so the conf set/restore brackets all cut traffic; the scratch
    // store is recreated per invocation.
    "durable_kcore_census" -> ((s, dir) => {
      val scratch = buildPath(dir, "durable-cuts")
      graft.sources.CollectionManager.deleteRecursively(
        java.nio.file.Paths.get(scratch))
      s.conf.set(graft.operators.Cuts.DirKey, scratch)
      try graft.operators.Traversal.kCoreConvergedCensus(
          sharedBackbone(s, dir), k = 3, maxRounds = KCoreMaxRounds)
          .orderBy(col("round"))
      finally s.conf.unset(graft.operators.Cuts.DirKey)
    }),

    // O(batch) incremental triangle maintenance (the pq_append_audit
    // convention on the mining tier), on a realistic 90/10 split:
    // orders with l_orderkey % 10 ≠ 0 are the stored corpus, the
    // % 10 = 0 tenth is the batch. The base store is built ONCE
    // (write → read-back, with its triangle count computed at build
    // time — the durable "yesterday's count" artifact a daily job
    // carries forward); the RECURRING cost is Triangles.delta — three
    // batch-anchored terms (new-edge common neighbors, new-new
    // wedges, batch-internal triangles via inclusion–exclusion),
    // never a stored-graph wedge re-enumeration. The ORACLE recounts
    // both the base and the full merged graph from scratch with the
    // naive wedge shape: green means stored-count + delta ≡ full
    // recount, exact through the whole census
    "triangle_append_audit" -> ((s, dir) => {
      val (base, nBase, batchE, nBatchE) = sharedTriBaseStore(s, dir)
      // the RECURRING tick, timed on every invocation: diff the batch
      // edges against the store (left_anti keyed on the edge — O(batch
      // ⋈ stored), the new-existence set; weight-only changes add no
      // triangles) and count the gained triangles batch-anchored —
      // the build-time batch census bounds newE, so the tick never
      // pays a sizing job
      val newE = batchE.join(base, Seq("src", "dst"), "left_anti")
      graft.operators.Triangles.delta(base, newE, Some(nBatchE))
        .select(lit(nBase).as("n_base"), col("n_delta"),
          (lit(nBase) + col("n_delta")).as("n_total"))
    }),
  )

  /** Durable triangle-tier fixture, memoized per (session, dir) like
    * every index store: the co-purchase edges of the 90% corpus
    * (orders % 10 ≠ 0) written to parquet and READ BACK, the store's
    * triangle count computed once at build time (the persisted census
    * a daily maintenance job carries between ticks), and the batch
    * tenth's edge frame (the input a real tick receives as its own
    * arriving files — derived here from the %10 filter once, since
    * the testdata has no separate batch table). */
  private def sharedTriBaseStore(s: SparkSession, dir: String)
      : (DataFrame, Long, DataFrame, Long) =
    SharedBuilds.of(s, dir, "copurchase-tri-base") {
      // BOTH sides are parquet artifacts read back from disk, not
      // in-memory persists: under the full 210-query suite's cache
      // pressure a persisted frame gets evicted and every steady tick
      // silently re-runs the lineitem self-join it was supposed to
      // amortize (measured: the audit's in-suite time was 11 s vs
      // 3 s isolated) — a columnar re-scan of the
      // written store is cheap, deterministic, and is what a real
      // daily tick reads anyway
      val basePath = buildPath(dir, "copurchase-edges-tri-base")
      edgesOf(lineitem(s, dir).filter(col("l_orderkey") % 10 =!= 0))
        .write.mode("overwrite").parquet(basePath)
      val base = s.read.parquet(basePath).select(col("src"), col("dst"))
      val nBase = graft.operators.Triangles.count(base)
        .collect()(0).getLong(0) // 1-row head
      val batchPath = buildPath(dir, "copurchase-edges-tri-batch")
      edgesOf(lineitem(s, dir).filter(col("l_orderkey") % 10 === 0))
        .select(col("src"), col("dst"))
        .write.mode("overwrite").parquet(batchPath)
      val batchE = s.read.parquet(batchPath).select(col("src"), col("dst"))
      // the batch edge-row census the recurring tick uses to size
      // Triangles.delta's closure without a count job (a parquet
      // metadata count — row-group footers only)
      val nBatchE = batchE.count()
      (base, nBase, batchE, nBatchE)
    }

  private val edgesSql =
    """op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (
      |  SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(count(*) AS BIGINT) AS w
      |  FROM op a JOIN op b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      |  GROUP BY 1, 2)""".stripMargin

  /** Shared register-derivation CTEs (nodes → hx → reg0): the DuckDB
    * mirror of HyperBall.registers0's md5/rank chain, used by both
    * register oracles. */
  private val hbRegSql =
    """hx AS (SELECT node,
      |         CAST(('0x'||substr(md5('hb:'||CAST(node AS VARCHAR)),1,15)) AS BIGINT) AS h
      |       FROM nodes),
      |reg0 AS (SELECT node, h % 64 AS b,
      |           CASE WHEN (h >> 6) = 0 THEN 55
      |                ELSE 55 - length(bin(h >> 6)) END AS r
      |         FROM hx)""".stripMargin

  /** The corrected-estimate CASE over (nregs, hnum) — the DuckDB
    * mirror of HyperBall.estimate, Scala-rendered literals included. */
  private def hbEstSql: String =
    s"""CASE WHEN ${graft.operators.HyperBall.rawNumSql}
       |            / CAST(hnum + (64 - nregs) * (CAST(1 AS BIGINT) << 55) AS DOUBLE) <= 160.0
       |          AND nregs < 64
       |     THEN ${graft.operators.HyperBall.linearTableSql}[CAST(64 - nregs AS INT)]
       |     ELSE ${graft.operators.HyperBall.rawNumSql}
       |            / CAST(hnum + (64 - nregs) * (CAST(1 AS BIGINT) << 55) AS DOUBLE) END""".stripMargin

  /** Shared per-(hop, root) estimate chain (backbone → registers →
    * exact ≤h balls → merged registers → corrected estimates), ending
    * in CTE `es(hop, root, nregs, sumr, est)` — the DuckDB mirror of
    * [[hyperballEstByHop]], used by both the nf census and the
    * harmonic-centrality oracle. */
  private lazy val hbEsByHopSql: String =
    s"""bb AS (SELECT src, dst FROM e WHERE w >= 2),
       |nodes AS (SELECT DISTINCT src AS node FROM bb),
       |$hbRegSql,
       |reach AS (SELECT node AS root, node AS member, 0 AS d FROM nodes
       |          UNION
       |          SELECT reach.root, bb.dst, reach.d + 1
       |          FROM reach JOIN bb ON bb.src = reach.member
       |          WHERE reach.d < $HbHops),
       |md AS (SELECT root, member, min(d) AS md FROM reach GROUP BY 1, 2),
       |hops AS (SELECT unnest(range(${HbHops + 1})) AS hop),
       |regs AS (SELECT hops.hop, md.root, reg0.b, max(reg0.r) AS r
       |         FROM hops JOIN md ON md.md <= hops.hop
       |         JOIN reg0 ON reg0.node = md.member
       |         GROUP BY 1, 2, 3),
       |pr AS (SELECT hop, root, count(*) AS nregs, sum(r) AS sumr,
       |         sum(CAST(1 AS BIGINT) << CAST(55 - r AS INT)) AS hnum
       |       FROM regs GROUP BY 1, 2),
       |es AS (SELECT hop, root, nregs, sumr, $hbEstSql AS est FROM pr)""".stripMargin

  /** Converged-reach census replay: connected reach (unbounded
    * recursive CTE) + per-(root, bucket) max — per-component register
    * merge — then the identical histogram + estimator fold. Shared by
    * reach_converged_census and stream_reach_replay (one formula, two
    * replays — the stream_hll precedent). */
  private[queries] lazy val reachConvergedSql: String =
    s"""WITH RECURSIVE $edgesSql,
       |bb AS (SELECT src, dst FROM e WHERE w >= 2),
       |nodes AS (SELECT DISTINCT src AS node FROM bb),
       |$hbRegSql,
       |reach AS (SELECT node AS root, node AS member FROM nodes
       |          UNION
       |          SELECT reach.root, bb.dst
       |          FROM reach JOIN bb ON bb.src = reach.member),
       |regs AS (SELECT reach.root, reg0.b, max(reg0.r) AS r
       |         FROM reach JOIN reg0 ON reg0.node = reach.member
       |         GROUP BY 1, 2),
       |pr AS (SELECT root, count(*) AS nregs, sum(r) AS sumr,
       |         sum(CAST(1 AS BIGINT) << CAST(55 - r AS INT)) AS hnum
       |       FROM regs GROUP BY 1),
       |es AS (SELECT root, nregs, sumr, $hbEstSql AS est FROM pr),
       |eb AS (SELECT nregs, root % 1024 AS bkt, count(*) AS nr,
       |         sum(sumr) AS sr,
       |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |           list(est ORDER BY root)), (a, x) -> a + x) AS p
       |       FROM es GROUP BY 1, 2)
       |SELECT CAST(nregs AS BIGINT) AS n_regs,
       |       CAST(sum(nr) AS BIGINT) AS n_roots,
       |       CAST(sum(sr) AS BIGINT) AS sum_rank,
       |       round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |         list(p ORDER BY bkt)), (a, x) -> a + x), 6) + 0.0 AS nf_est
       |FROM eb GROUP BY nregs ORDER BY n_regs""".stripMargin

  /** One unrolled k-truss round: peel on the previous round's support,
    * re-derive both directions, then naive wedge support (the
    * INDEPENDENT formulation — common-neighbor count per kept edge;
    * the Spark side enumerates degree-ordered triangles instead, so
    * green is cross-algorithm agreement). MATERIALIZED for the same
    * reason as the k-core unroll: each round references its
    * predecessor repeatedly and DuckDB inlines plain CTEs. */
  private def trussRoundSql(i: Int): String =
    s"""tu$i AS MATERIALIZED (SELECT s.u, s.v FROM ts${i - 1} s WHERE s.sup >= ${KTrussK - 2}),
       |tb$i AS MATERIALIZED (SELECT u AS src, v AS dst FROM tu$i
       |        UNION ALL SELECT v, u FROM tu$i),
       |${trussSupSql(i)}""".stripMargin

  /** Naive per-edge support of round i's frame (tu$i over tb$i). */
  private def trussSupSql(i: Int): String =
    s"""tw$i AS (SELECT x.src AS u, y.src AS v, count(*) AS sup
       |        FROM tb$i x JOIN tb$i y ON x.dst = y.dst AND x.src < y.src
       |        GROUP BY 1, 2),
       |ts$i AS MATERIALIZED (SELECT t.u, t.v, coalesce(tw$i.sup, 0) AS sup
       |        FROM tu$i t LEFT JOIN tw$i ON t.u = tw$i.u AND t.v = tw$i.v)""".stripMargin

  /** The k-truss census replay: identical unroll, identical trim (the
    * kcoreConvergedSql convention). */
  private lazy val ktrussConvergedSql: String = {
    val chain = (1 to KTrussMaxRounds).map(trussRoundSql).mkString(",\n")
    val rows = (1 to KTrussMaxRounds)
      .map(i => s"UNION ALL SELECT $i, (SELECT count(*) FROM tu$i), (SELECT coalesce(sum(sup), 0) FROM ts$i)")
      .mkString("\n  ")
    s"""WITH $edgesSql,
       |tb0 AS MATERIALIZED (SELECT src, dst FROM e),
       |tu0 AS MATERIALIZED (SELECT src AS u, dst AS v FROM tb0 WHERE src < dst),
       |${trussSupSql(0)},
       |$chain,
       |c AS (
       |  SELECT CAST(0 AS BIGINT) AS round,
       |         (SELECT CAST(count(*) AS BIGINT) FROM tu0) AS n_edges,
       |         (SELECT CAST(coalesce(sum(sup), 0) AS BIGINT) FROM ts0) AS sum_support
       |  $rows),
       |d AS (SELECT round, n_edges, sum_support,
       |        lag(n_edges) OVER (ORDER BY round) AS pe,
       |        lag(sum_support) OVER (ORDER BY round) AS ps
       |      FROM c),
       |stable AS (SELECT min(round) AS r FROM d
       |           WHERE n_edges = pe AND sum_support = ps)
       |SELECT round, CAST(n_edges AS BIGINT) AS n_edges,
       |       CAST(sum_support AS BIGINT) AS sum_support
       |FROM c WHERE round <= coalesce((SELECT r FROM stable), $KTrussMaxRounds)
       |ORDER BY round""".stripMargin
  }

  /** The shared walk-corpus CTE chain ending in
    * `p(root, step, cur)` — the unrolled deterministic walk both
    * randwalk oracles read. */
  private lazy val rwWalkSql: String = {
    val stepCtes = (1 to RwSteps).map(rwStepSql).mkString(",\n")
    val walkCtes = (1 to RwSteps).map { t =>
      s"""w$t AS (SELECT w${t - 1}.root, CAST($t AS BIGINT) AS step, s$t.nxt AS cur
         |        FROM w${t - 1} JOIN s$t ON s$t.src = w${t - 1}.cur)""".stripMargin
    }.mkString(",\n")
    val unionAll = (0 to RwSteps).map(t => s"SELECT * FROM w$t").mkString(" UNION ALL ")
    s"""$edgesSql,
       |bb AS (SELECT src, dst FROM e WHERE w >= 2),
       |nodes AS (SELECT DISTINCT src AS node FROM bb),
       |$stepCtes,
       |w0 AS (SELECT node AS root, CAST(0 AS BIGINT) AS step, node AS cur FROM nodes),
       |$walkCtes,
       |p AS ($unionAll)""".stripMargin
  }

  /** One walk-successor CTE: step t's hash-minimal out-neighbor per
    * src (the QUALIFY mirror of Walks.successors' min_by). */
  private def rwStepSql(t: Int): String =
    s"""s$t AS (SELECT src, dst AS nxt FROM bb
       |        QUALIFY row_number() OVER (PARTITION BY src ORDER BY
       |          CAST(('0x'||substr(md5('rw:$t:'||CAST(src AS VARCHAR)||':'||CAST(dst AS VARCHAR)),1,15)) AS BIGINT),
       |          dst) = 1)""".stripMargin

  /** One unrolled integer-PageRank iteration reading ranks from `prev`. */
  private def iterSql(name: String, prev: String): String =
    s"""$name AS (
       |  SELECT nd.node,
       |         (${PageRank.DampDen - PageRank.DampNum} * (${PageRank.FP} // (SELECT n FROM p))) // ${PageRank.DampDen}
       |         + (${PageRank.DampNum} * CAST(coalesce(sum((r.rank * w.w) // w.ow), 0) AS BIGINT)) // ${PageRank.DampDen} AS rank
       |  FROM nodes nd
       |  LEFT JOIN ew w ON w.dst = nd.node
       |  LEFT JOIN $prev r ON r.node = w.src
       |  GROUP BY nd.node)""".stripMargin

  /** One unrolled personalized-PageRank iteration (seed-only jump). */
  private def pprIterSql(name: String, prev: String): String =
    s"""$name AS (
       |  SELECT nd.node,
       |         CASE WHEN nd.node IN (SELECT node FROM seeds)
       |              THEN (${PageRank.DampDen - PageRank.DampNum} * (${PageRank.FP} // (SELECT m FROM ps))) // ${PageRank.DampDen}
       |              ELSE 0 END
       |         + (${PageRank.DampNum} * CAST(coalesce(sum((r.rank * w.w) // w.ow), 0) AS BIGINT)) // ${PageRank.DampDen} AS rank
       |  FROM nodes nd
       |  LEFT JOIN ew w ON w.dst = nd.node
       |  LEFT JOIN $prev r ON r.node = w.src
       |  GROUP BY nd.node)""".stripMargin

  /** The full from-scratch edge build + 3 integer PageRank iterations,
    * top-20 — the shared oracle of pagerank_copurchase AND of every
    * incrementally/streaming-maintained variant (green == maintained
    * store ≡ rebuild through the whole downstream computation). */
  private[queries] lazy val pagerankFullSql: String =
    s"""WITH $edgesSql,
       |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY 1),
       |ew AS (SELECT e.src, e.dst, e.w, o.ow FROM e JOIN outw o ON e.src = o.src),
       |nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst AS node FROM e),
       |p AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |r0 AS (SELECT node, ${PageRank.FP} // (SELECT n FROM p) AS rank FROM nodes),
       |${iterSql("it1", "r0")},
       |${iterSql("it2", "it1")},
       |${iterSql("it3", "it2")}
       |SELECT node AS part_id, rank AS rank_fp FROM it3
       |ORDER BY rank_fp DESC, part_id LIMIT 20""".stripMargin

  /** The converged k-core census replay — the identical 12-round
    * unroll + trim-after-first-repeat rule as the Spark fixed-point
    * loop; shared verbatim by kcore_converged_census and its
    * durable-backend re-run durable_kcore_census. MATERIALIZED
    * rounds: DuckDB inlines plain CTEs, and each peel round
    * references its predecessor THREE times, so a 12-round
    * unmaterialized chain explodes exponentially — materializing
    * keeps the replay linear, exactly like the Spark side's
    * per-round checkpoint. */
  private lazy val kcoreConvergedSql: String = {
    val chain = (1 to KCoreMaxRounds)
      .map(i => peelSql(i, s"k${i - 1}", materialized = true)).mkString(",\n")
    val rows = (1 to KCoreMaxRounds)
      .map(i => s"UNION ALL SELECT $i, (SELECT count(*) FROM n$i), (SELECT count(*) FROM k$i)")
      .mkString("\n  ")
    s"""WITH $edgesSql,
       |k0 AS (SELECT src, dst FROM e WHERE w >= 2),
       |$chain,
       |c AS (
       |  SELECT CAST(0 AS BIGINT) AS round,
       |         (SELECT CAST(count(DISTINCT src) AS BIGINT) FROM k0) AS n_nodes,
       |         (SELECT CAST(count(*) AS BIGINT) FROM k0) AS n_edges
       |  $rows),
       |d AS (SELECT round, n_nodes, n_edges,
       |        lag(n_nodes) OVER (ORDER BY round) AS pn,
       |        lag(n_edges) OVER (ORDER BY round) AS pe
       |      FROM c),
       |stable AS (SELECT min(round) AS r FROM d
       |           WHERE n_nodes = pn AND n_edges = pe)
       |SELECT round, CAST(n_nodes AS BIGINT) AS n_nodes,
       |       CAST(n_edges AS BIGINT) AS n_edges
       |FROM c WHERE round <= coalesce((SELECT r FROM stable), $KCoreMaxRounds)
       |ORDER BY round""".stripMargin
  }

  override def oracle: Map[String, String] = Map(
    "ppr_brand_affinity" ->
      s"""WITH $edgesSql,
         |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY 1),
         |ew AS (SELECT e.src, e.dst, e.w, o.ow FROM e JOIN outw o ON e.src = o.src),
         |nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst AS node FROM e),
         |seeds AS (SELECT node FROM nodes
         |          WHERE node IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#2')),
         |ps AS (SELECT CAST(count(*) AS BIGINT) AS m FROM seeds),
         |r0 AS (SELECT node,
         |         CASE WHEN node IN (SELECT node FROM seeds)
         |              THEN ${PageRank.FP} // (SELECT m FROM ps) ELSE 0 END AS rank
         |       FROM nodes),
         |${pprIterSql("it1", "r0")},
         |${pprIterSql("it2", "it1")},
         |${pprIterSql("it3", "it2")}
         |SELECT node AS part_id, rank AS rank_fp FROM it3
         |WHERE node NOT IN (SELECT node FROM seeds)
         |ORDER BY rank_fp DESC, part_id LIMIT 20""".stripMargin,

    // the full-rebuild replay IS the oracle for the incremental store —
    // the incremental_funnel convention: green == append ≡ rebuild
    "pagerank_append_audit" -> pagerankFullSql,

    "pagerank_copurchase" -> pagerankFullSql,

    "copurchase_top_partners" ->
      s"""WITH $edgesSql,
         |f AS (SELECT src, dst, w FROM e WHERE src < 10),
         |r AS (SELECT src, dst, w,
         |        row_number() OVER (PARTITION BY src ORDER BY w DESC, dst ASC) AS rnk
         |      FROM f)
         |SELECT src AS part_id, CAST(rnk AS BIGINT) AS rnk,
         |       dst AS partner_id, w AS n_co_orders
         |FROM r WHERE rnk <= 5 ORDER BY part_id, rnk""".stripMargin,

    "copurchase_degree_hist" ->
      s"""WITH $edgesSql,
         |d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1)
         |SELECT deg, CAST(count(*) AS BIGINT) AS n_parts
         |FROM d GROUP BY deg ORDER BY deg""".stripMargin,

    "basket_association_rules" ->
      s"""WITH $edgesSql,
         |pp AS (SELECT l_partkey AS p, CAST(count(*) AS BIGINT) AS n_ord FROM op GROUP BY 1),
         |no AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM op)
         |SELECT e.src, e.dst, e.w AS support,
         |       CAST((e.w * 1000000) // a.n_ord AS BIGINT) AS confidence_ppm,
         |       CAST((e.w * (SELECT n FROM no) * 1000000) // (a.n_ord * b.n_ord) AS BIGINT) AS lift_ppm
         |FROM e JOIN pp a ON e.src = a.p JOIN pp b ON e.dst = b.p
         |WHERE e.w >= 2
         |ORDER BY lift_ppm DESC, e.src, e.dst LIMIT 20""".stripMargin,

    "copurchase_communities" ->
      s"""WITH $edgesSql,
         |nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst AS node FROM e),
         |l0 AS (SELECT node, node AS lbl FROM nodes),
         |${lpaIterSql(1, "l0")},
         |${lpaIterSql(2, "l1")}
         |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
         |FROM l2 GROUP BY lbl
         |ORDER BY n_members DESC, community ASC LIMIT 20""".stripMargin,

    // both counts recomputed FROM SCRATCH (base = the 90% corpus,
    // total = all orders) with the naive src<dst wedge shape — fully
    // independent of the incremental path AND of the degree-ordered
    // algorithm it audits
    "triangle_append_audit" ->
      s"""WITH opf AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |ef AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
         |       FROM opf a JOIN opf b
         |         ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
         |       GROUP BY 1, 2),
         |opb AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
         |        WHERE l_orderkey % 10 <> 0),
         |eb AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
         |       FROM opb a JOIN opb b
         |         ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
         |       GROUP BY 1, 2),
         |uf AS (SELECT src, dst FROM ef WHERE src < dst),
         |ub AS (SELECT src, dst FROM eb WHERE src < dst),
         |tf AS (SELECT CAST(count(*) AS BIGINT) AS n
         |       FROM uf ab JOIN uf bc ON ab.dst = bc.src
         |                  JOIN uf ac ON ac.src = ab.src AND ac.dst = bc.dst),
         |tb AS (SELECT CAST(count(*) AS BIGINT) AS n
         |       FROM ub ab JOIN ub bc ON ab.dst = bc.src
         |                  JOIN ub ac ON ac.src = ab.src AND ac.dst = bc.dst)
         |SELECT tb.n AS n_base, tf.n - tb.n AS n_delta, tf.n AS n_total
         |FROM tb, tf""".stripMargin,

    // recursive-CTE BFS replay — UNION (not ALL) dedupes (node, d)
    // pairs across iterations, so the recursion is bounded by
    // cap × |reachable|; min(d) outside the recursion is the hop.
    // Fully independent of the Spark frontier/anti-join algorithm
    // NOTE: under WITH RECURSIVE, DuckDB gives ANY two-branch UNION
    // CTE the recursive append semantics (no dedupe), so `nodes` must
    // be single-branch — equivalent here because e is symmetric
    // (every dst also appears as src)
    "bfs_hop_census" ->
      s"""WITH RECURSIVE $edgesSql,
         |bb AS (SELECT src, dst FROM e WHERE w >= 2),
         |nodes AS (SELECT DISTINCT src AS node FROM e),
         |seeds AS (SELECT node FROM nodes
         |          WHERE node IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#7')),
         |r AS (SELECT node, 0 AS d FROM seeds
         |      UNION
         |      SELECT bb.dst, r.d + 1 FROM r JOIN bb ON bb.src = r.node WHERE r.d < 6),
         |dist AS (SELECT node, CAST(min(d) AS BIGINT) AS hop FROM r GROUP BY node),
         |alln AS (SELECT n.node, coalesce(d.hop, CAST(-1 AS BIGINT)) AS hop
         |         FROM nodes n LEFT JOIN dist d ON n.node = d.node)
         |SELECT hop, CAST(count(*) AS BIGINT) AS n_parts,
         |       min(node) AS min_part, max(node) AS max_part,
         |       CAST(sum(node) AS BIGINT) AS sum_parts
         |FROM alln GROUP BY hop ORDER BY hop""".stripMargin,

    // exact replay of the HyperBall registers: materialize the true
    // ≤h balls (recursive CTE — the quadratic thing the Spark side
    // never builds), take per-(root, bucket) max rank over members,
    // then the identical two-level ordered estimator fold with the
    // SAME Scala-rendered linear-count literals
    "hyperball_nf_census" ->
      s"""WITH RECURSIVE $edgesSql,
         |$hbEsByHopSql,
         |eb AS (SELECT hop, root % 1024 AS bkt, count(*) AS nr,
         |         sum(nregs) AS nn, sum(sumr) AS sr,
         |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |           list(est ORDER BY root)), (a, x) -> a + x) AS p
         |       FROM es GROUP BY 1, 2),
         |ch AS (SELECT hop, CAST(sum(nr) AS BIGINT) AS n_roots,
         |         CAST(sum(nn) AS BIGINT) AS n_reg_rows,
         |         CAST(sum(sr) AS BIGINT) AS sum_rank,
         |         round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |           list(p ORDER BY bkt)), (a, x) -> a + x), 6) + 0.0 AS nf_est
         |       FROM eb GROUP BY hop),
         |mx AS (SELECT nf_est AS nf_max FROM ch WHERE hop = $HbHops)
         |SELECT CAST(hop AS BIGINT) AS hop, n_roots, n_reg_rows, sum_rank,
         |       nf_est, nf_est >= nf_max * 0.9 AS reaches_p90
         |FROM ch, mx ORDER BY hop""".stripMargin,

    // the identical estimator chain, then the window-lag hop
    // differences and the hop-ordered per-root fold
    "hyperball_harmonic_top10" ->
      s"""WITH RECURSIVE $edgesSql,
         |$hbEsByHopSql,
         |tm AS (SELECT root, hop,
         |         (est - lag(est) OVER (PARTITION BY root ORDER BY hop)) / hop AS term
         |       FROM es),
         |hc AS (SELECT root, list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |         list(term ORDER BY hop)), (a, x) -> a + x) AS c
         |       FROM tm WHERE hop >= 1 GROUP BY root)
         |SELECT root AS node, round(c, 6) + 0.0 AS harmonic_c
         |FROM hc ORDER BY c DESC, root LIMIT 10""".stripMargin,

    "reach_converged_census" -> reachConvergedSql,

    "ktruss_converged_census" -> ktrussConvergedSql,

    // the walk unrolled step by step: per-step QUALIFY argmin mirrors
    // Spark's min_by(dst, (h, dst)); the pair census is the same
    // root-keyed window self-join
    "randwalk_skipgram_pairs" ->
      s"""WITH $rwWalkSql
         |SELECT a.cur AS ctr, b.cur AS ctx, CAST(count(*) AS BIGINT) AS cnt
         |FROM p a JOIN p b
         |  ON a.root = b.root AND a.step <> b.step
         |  AND abs(a.step - b.step) <= $RwWindow
         |GROUP BY 1, 2 ORDER BY cnt DESC, ctr, ctx LIMIT 20""".stripMargin,

    // the rank table, the hash draws, and the collision join replayed
    // exactly — false negatives are draws that equal a true ±window
    // context of the same center
    "randwalk_negatives_audit" ->
      s"""WITH $rwWalkSql,
         |rkt AS (SELECT node, CAST(row_number() OVER (ORDER BY
         |          CAST(('0x'||substr(md5('nrk:'||CAST(node AS VARCHAR)),1,15)) AS BIGINT),
         |          node) AS BIGINT) AS rk
         |        FROM nodes),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |negs AS (SELECT p.root, p.cur AS ctr,
         |           (CAST(('0x'||substr(md5('neg:'||ii.i||':'||CAST(p.cur AS VARCHAR)||':'||CAST(p.step AS VARCHAR)),1,15)) AS BIGINT)
         |             % (SELECT n FROM nn)) + 1 AS rk
         |         FROM p, (SELECT CAST(unnest(range($NegK)) AS VARCHAR) AS i) ii),
         |dr AS (SELECT negs.root, negs.ctr, rkt.node AS neg
         |       FROM negs JOIN rkt USING (rk)),
         |ctx AS (SELECT a.cur AS ctr, b.cur AS ctx
         |        FROM p a JOIN p b
         |          ON a.root = b.root AND a.step <> b.step
         |          AND abs(a.step - b.step) <= $RwWindow
         |        GROUP BY 1, 2)
         |SELECT CAST(count(*) AS BIGINT) AS n_draws,
         |       CAST(count(DISTINCT dr.neg) AS BIGINT) AS n_distinct_negs,
         |       CAST(sum(CASE WHEN ctx.ctx IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_negs
         |FROM dr LEFT JOIN ctx ON dr.ctr = ctx.ctr AND dr.neg = ctx.ctx""".stripMargin,

    "sssp_brand_cost" ->
      s"""WITH $edgesSql,
         |c AS (SELECT src, dst, CAST(1000000 // w AS BIGINT) AS cost FROM e),
         |nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst AS node FROM e),
         |seeds AS (SELECT node FROM nodes
         |          WHERE node IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#13')),
         |d0 AS (SELECT node, CAST(0 AS BIGINT) AS cost FROM seeds),
         |${bfIterSql("d1", "d0")},
         |${bfIterSql("d2", "d1")},
         |${bfIterSql("d3", "d2")}
         |SELECT node AS part_id, cost AS cost_fp FROM d3
         |WHERE node NOT IN (SELECT node FROM seeds)
         |ORDER BY cost_fp ASC, part_id ASC LIMIT 20""".stripMargin,

    "kcore_peel_census" ->
      s"""WITH $edgesSql,
         |k0 AS (SELECT src, dst FROM e WHERE w >= 2),
         |${peelSql(1, "k0")},
         |${peelSql(2, "k1")},
         |${peelSql(3, "k2")},
         |${peelSql(4, "k3")}
         |SELECT * FROM (
         |  SELECT CAST(0 AS BIGINT) AS round,
         |         (SELECT CAST(count(DISTINCT src) AS BIGINT) FROM k0) AS n_nodes,
         |         (SELECT CAST(count(*) AS BIGINT) FROM k0) AS n_edges
         |  UNION ALL SELECT 1, (SELECT count(*) FROM n1), (SELECT count(*) FROM k1)
         |  UNION ALL SELECT 2, (SELECT count(*) FROM n2), (SELECT count(*) FROM k2)
         |  UNION ALL SELECT 3, (SELECT count(*) FROM n3), (SELECT count(*) FROM k3)
         |  UNION ALL SELECT 4, (SELECT count(*) FROM n4), (SELECT count(*) FROM k4))
         |ORDER BY round""".stripMargin,

    // emit rows up to and including the first round whose census
    // equals the previous round's, or all rounds if the cascade
    // outlives the cap — so converged and capped runs both match;
    // see kcoreConvergedSql for the materialized-round rationale
    "kcore_converged_census" -> kcoreConvergedSql,

    // the durable-backend re-run must land the IDENTICAL census: one
    // formula, two execution paths (the stream_nb_replay precedent)
    "durable_kcore_census" -> kcoreConvergedSql,

    "copurchase_triangles" ->
      s"""WITH $edgesSql,
         |u AS (SELECT src, dst FROM e WHERE src < dst),
         |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
         |        FROM u ab JOIN u bc ON ab.dst = bc.src
         |                  JOIN u ac ON ac.src = ab.src AND ac.dst = bc.dst),
         |wd AS (SELECT CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges
         |       FROM (SELECT src, count(*) AS deg FROM e GROUP BY src))
         |SELECT n_triangles, n_wedges,
         |       CASE WHEN n_wedges = 0 THEN 0.0
         |            ELSE round(3.0 * n_triangles / n_wedges, 6) + 0.0
         |       END AS global_clustering
         |FROM tri, wd""".stripMargin,
  )

  /** One unrolled min-plus (Bellman–Ford) relaxation reading costs
    * from `prev` over the cost edge list `c`. */
  private def bfIterSql(name: String, prev: String): String =
    s"""$name AS (SELECT node, CAST(min(cost) AS BIGINT) AS cost FROM (
       |  SELECT node, cost FROM $prev
       |  UNION ALL
       |  SELECT c.dst AS node, $prev.cost + c.cost AS cost
       |  FROM $prev JOIN c ON c.src = $prev.node) GROUP BY node)""".stripMargin

  /** Shared round cap of the converged k-core query and its oracle —
    * the two trim rules only agree because the unroll depth is the
    * same constant on both sides. */
  private val KCoreMaxRounds = 12

  /** One unrolled k-core peel round (k = 3) reading edges from `prev`:
    * n$i = surviving nodes (degree ≥ 3 in the current subgraph),
    * k$i = edges restricted to survivors on both endpoints.
    * `materialized` pins DuckDB materialization for deep chains (see
    * kcore_converged_census). */
  private def peelSql(i: Int, prev: String, materialized: Boolean = false): String = {
    val m = if (materialized) "MATERIALIZED " else ""
    s"""n$i AS $m(SELECT src AS node FROM $prev GROUP BY src HAVING count(*) >= 3),
       |k$i AS $m(SELECT p.src, p.dst FROM $prev p
       |        JOIN n$i a ON p.src = a.node JOIN n$i b ON p.dst = b.node)""".stripMargin
  }

  /** One unrolled synchronous label-propagation iteration reading
    * labels from `prev`: weighted neighbor vote, ties to the smallest
    * label, isolated fallback to the previous label. */
  private def lpaIterSql(i: Int, prev: String): String =
    s"""v$i AS (SELECT e.dst AS node, l.lbl, CAST(sum(e.w) AS BIGINT) AS cnt
       |        FROM e JOIN $prev l ON e.src = l.node GROUP BY 1, 2),
       |t$i AS (SELECT node, lbl FROM (
       |          SELECT node, lbl,
       |                 row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lbl ASC) AS rn
       |          FROM v$i) WHERE rn = 1),
       |l$i AS (SELECT p.node, coalesce(t$i.lbl, p.lbl) AS lbl
       |        FROM $prev p LEFT JOIN t$i ON p.node = t$i.node)""".stripMargin
}
