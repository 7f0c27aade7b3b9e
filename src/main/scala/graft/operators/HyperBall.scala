package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextOps

/** HyperBall (Boldi & Vigna 2013): the neighborhood function N(h) —
  * how many nodes are within h hops of each node — estimated with one
  * HyperLogLog register set per node instead of materialized ball
  * sets. Ball membership is monotone under max-merge, so one
  * superstep is: every node absorbs its out-neighbors' registers
  * (element-wise max) — after h rounds node v's registers summarize
  * exactly ball(v, h), and the HLL estimator reads |ball| off them.
  * This is THE scalable way to measure reach / effective diameter on
  * a graph whose balls cover the component: exact per-node balls are
  * Σ|ball(v,h)| rows (quadratic on small-world graphs — the
  * co-purchase backbone's 4-hop reach is ~60× its node count at
  * sf0.01 and worsens with scale), while register state is a HARD
  * m-rows-per-node bound at any hop and any graph size.
  *
  * Registers are kept as ROWS (root, b, r) rather than per-node
  * arrays: the max-merge then rides ordinary hash aggregation with
  * map-side partial max (codegen'd, spillable), and sparse early
  * hops pay for the buckets they hit, not m columns. The
  * propagation shuffle is bounded by |edges| × (registers per
  * source) ≤ |edges| × m — the array encoding moves the same bytes
  * without the partial-agg reduction before the exchange.
  *
  * Everything here is exact integer state: the register hash is the
  * shared md5-prefix convention ([[graft.functions.TextOps.md5Long]],
  * the events_hll_distinct precedent), so a DuckDB oracle replays the
  * registers bit-for-bit from materialized ≤-h balls (recursive CTE);
  * even the per-root harmonic denominator is an exact integer
  * (Σ 2^(55−r) — see [[perRootDenom]]), leaving exactly one double
  * division plus shared-literal lookups per estimate (see
  * [[graft.queries.GraphQueries]]'s hyperball_nf_census).
  *
  * Input contract: `edges` is a directed (src, dst) list — for
  * undirected semantics pass a both-direction DISTINCT list (the
  * Triangles/Traversal contract); duplicates would only waste work
  * (max-merge is idempotent), never change a register.
  */
object HyperBall {

  /** Registers per node (2^6 — 13% relative standard error per node,
    * and ≤ 64 register rows per node at any ball size). */
  val M = 64

  /** HLL raw-estimator bias constant for m = 64 (Flajolet et al.
    * 2007, table: alpha_64 = 0.709). A plain decimal literal parses
    * to the identical double in Spark and DuckDB. */
  val Alpha = 0.709

  /** Below this raw estimate (2.5·m) the raw estimator is biased and
    * linear counting on empty registers is exact-regime (Flajolet's
    * small-range correction). */
  val RawCutoff = 160.0

  /** Small-range (linear-counting) estimates m·ln(m/V) for
    * V = 1..M empty registers, computed ONCE here and shared by the
    * Spark plan (as a literal array) and the DuckDB oracle (rendered
    * via [[linearTableSql]]) — ln never evaluates inside either
    * engine, so libm differences can't make the two drift. */
  private[graft] val linearTable: IndexedSeq[Double] =
    (1 to M).map(v => M.toDouble * math.log(M.toDouble / v.toDouble))

  /** The same table as a DuckDB 1-based list literal, each element
    * rendered with Double.toString (shortest round-trip decimal —
    * parses back to the identical bits). */
  private[graft] def linearTableSql: String =
    linearTable.map(_.toString).mkString("[", ", ", "]")

  /** The raw-estimator numerator alpha·m²·2^55 as ONE Scala-computed
    * double literal (0.709·4096 is exact-power-of-two scaling of the
    * parsed 0.709, so any factor order is the same bits), shared with
    * the oracle via [[rawNumSql]]. */
  private[graft] val RawNum: Double = Alpha * (M * M).toDouble * math.pow(2, 55)

  /** RawNum for the DuckDB side — Double.toString round-trips to the
    * identical bits. */
  private[graft] def rawNumSql: String = RawNum.toString

  /** Hop-0 register state: each node's OWN single register row
    * (root, b, r) — b = low-6 hash bits, r = leading-zero rank + 1 of
    * the remaining 54-bit window (so r ∈ 1..55, r = 55 when the
    * window is all zeros). Shared-hash convention: 60-bit md5 prefix
    * of "hb:" + node id. */
  def registers0(nodes: DataFrame): DataFrame = {
    val h = TextOps.md5Long(concat(lit("hb:"), col("node").cast("string")))
    nodes.select(col("node").as("root"), h.as("h"))
      .select(col("root"),
        pmod(col("h"), lit(M.toLong)).as("b"),
        rankOf(shiftright(col("h"), 6)).as("r"))
  }

  /** Rank of a 54-bit window: 55 − bitlength (bin() prints no leading
    * zeros, so its length IS the bitlength), all-zero window → 55. */
  private def rankOf(w: Column): Column =
    when(w === 0, lit(55L)).otherwise(lit(55L) - length(bin(w)))

  /** Register states for hops 0..maxHops (index = hop), one
    * [[Supersteps.converge]] round each, never stopping early.
    * Superstep: absorb out-neighbors' registers and max-merge per
    * (root, b) — one src-keyed join + one keyed max, the two-shuffle
    * Pregel shape, with register monotonicity making
    * re-delivery/retries idempotent for free. */
  def registerHops(edges: DataFrame, nodes: DataFrame, maxHops: Int): Seq[DataFrame] = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    Supersteps.converge(registers0(nodes), maxHops)((regs, _) => step(edges, regs.state))(
      (_, _) => false).map(_.state)
  }

  /** One absorption superstep:
    * B(src, h) = B(src, h−1) ∪ ⋃_{src→dst} B(dst, h−1). */
  private def step(edges: DataFrame, regs: DataFrame): DataFrame = {
    val absorbed = edges.join(regs, edges("dst") === regs("root"))
      .select(edges("src").as("root"), col("b"), col("r"))
    absorbed.unionByName(regs.select(col("root"), col("b"), col("r")))
      .groupBy(col("root"), col("b")).agg(max(col("r")).as("r"))
  }

  /** Absorption supersteps run TO THE FIXED POINT (capped at
    * `maxRounds`) — converged registers summarize each root's full
    * REACHABLE set (= its connected component on a both-direction
    * edge list). The stop test is an exact integer certificate, the
    * measured (register rows, Σ r) of each round's cut: registers only
    * appear or grow under max-merge, so the pair strictly increases
    * unless the state is identical — a repeat certifies the true fixed
    * point, and because the state is a monotone lattice, convergence
    * from ANY intermediate state (e.g. registers maintained across
    * streaming ticks as edges arrive) lands on the SAME fixed point —
    * the semi-naive incremental evaluation that makes streaming reach
    * maintenance exact AND re-delivery-idempotent even after the
    * state was already applied. */
  def converge(edges: DataFrame, regs0: DataFrame, maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    Supersteps.converge(regs0.select(col("root"), col("b"), col("r")), maxRounds, Seq("r"))(
      (regs, _) => step(edges, regs.state))(_ sameMeasure _).last.state
  }

  /** Per-root estimator inputs from one hop's merged registers:
    * (root, nregs, sumr, hnum) — present-bucket count, total rank
    * (integer audit channel), and the harmonic denominator scaled to
    * an EXACT INTEGER: Σ 2^-r = (Σ 2^(55−r)) / 2^55 with every term
    * ≤ 2^54 and ≤ m terms, so the sum fits a long with no rounding —
    * a commutative integer aggregate (codegen'd, map-side partial)
    * where a float Σ 2^-r would need an ordered fold to stay
    * cross-engine deterministic. */
  def perRootDenom(regs: DataFrame): DataFrame =
    regs.groupBy(col("root"))
      .agg(count(lit(1)).as("nregs"), sum(col("r")).as("sumr"),
        sum(expr("shiftleft(1L, cast(55 - r as int))")).as("hnum"))

  /** The corrected HLL estimate from perRootDenom columns: raw
    * harmonic estimator alpha·m²·2^55 / (hnum + V·2^55) — ONE double
    * division of two deterministic values (the integer denominator
    * fits 2^62 and casts with IEEE-nearest identically in both
    * engines) — switched to the shared-literal linear-count table in
    * the small-range regime (raw ≤ 2.5m and some register empty). */
  def estimate(nregs: Column, hnum: Column): Column = {
    val v = (lit(M.toLong) - nregs).cast("int")
    val den = (hnum + v.cast("long") * lit(1L << 55)).cast("double")
    val raw = lit(RawNum) / den
    when(raw <= lit(RawCutoff) && v > 0,
      element_at(typedLit(linearTable), v)).otherwise(raw)
  }
}
