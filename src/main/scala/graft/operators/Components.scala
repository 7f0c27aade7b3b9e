package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components over a pair list — the clustering step that
  * turns near-duplicate PAIRS (MinHash/SimHash/embedding-LSH output)
  * into duplicate CLUSTERS so a purge can keep exactly one canonical
  * document per cluster. Pairwise drop rules (e.g. near_dup_purge's
  * "drop the higher id of each pair") over-drop on transitive chains
  * a~b~c; the component view keeps one doc per chain.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", ACM SoCC 2014).
  * Each half-round is ONE node-keyed shuffle (a window min + a
  * projection — no joins, no driver-side graph), and the edge set
  * contracts toward per-component stars rooted at the minimum node id
  * in O(log n) rounds. This is the 100 TB shape: a trillion-edge pair
  * graph never leaves the cluster, per-round cost is bounded by the
  * current edge count, and hub nodes shrink monotonically (large-star
  * attaches big neighbors to the local min, which is exactly the
  * skew-defusing move the paper proves convergent).
  *
  * Determinism: the fixed point (every node → min id of its component)
  * is unique regardless of iteration order, so the result is
  * replayable by a DuckDB recursive-CTE oracle even though Spark's
  * per-round edge sets are partition-order dependent.
  */
object Components {

  /** Large-star: for every node u, attach every STRICTLY LARGER
    * neighbor v to m = min(N(u) ∪ {u}). Connectivity-preserving
    * (SoCC 2014 lemma 1); one shuffle keyed on u.
    *
    * The per-node min is a window over the node's partition rather
    * than a groupBy+join: both need the same u-keyed exchange, but the
    * window closes the round in ONE shuffle (the sort it inserts is
    * spillable, so a mega-hub partition degrades to disk, not OOM —
    * and hubs shrink every round, which is the algorithm's point). */
  private[operators] def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    val w = Window.partitionBy("u")
    sym
      .withColumn("m", least(col("u"), min(col("v")).over(w)))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: canonicalize each edge to (bigger, smaller), then for
    * every node u link u and all its smaller neighbors to
    * m = min of that set. One shuffle keyed on u. */
  private[operators] def smallStar(edges: DataFrame): DataFrame = {
    val canon = edges.select(
      greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val w = Window.partitionBy("u")
    val withMin = canon.withColumn("m", min(col("v")).over(w))
    withMin.filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .union(withMin.select(col("u"), col("m").as("v")))
      .distinct()
  }

  /** `edges` with its round fingerprint column: the measured pair
    * (rows, Σ h) is order-free, so two rounds with the same pair hold
    * the same edge set up to a 64-bit hash collision. */
  private def fingerprinted(edges: DataFrame): DataFrame =
    edges.withColumn("h", xxhash64(col("u"), col("v")))

  /** Component id (= min node id of the component) for every node that
    * appears in `pairs` (columns `a`, `b`). Output: (node, component),
    * component roots map to themselves.
    *
    * Each star round is one [[Supersteps.converge]] superstep, which
    * stops at the first round whose fingerprint repeats. maxIter is a
    * safety bound only; the alternation provably converges in
    * O(log² n) rounds worst case (SoCC 2014 thm 2 — in practice a
    * handful), so extra headroom costs nothing.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val rounds = Supersteps.converge(fingerprinted(pairs
        .select(col("a").cast("long").as("u"), col("b").cast("long").as("v"))
        .filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .distinct()), maxIter, Seq("h")) {
      (prev, _) => fingerprinted(smallStar(largeStar(prev.state)))
    }(_ sameMeasure _)
    val last = rounds.last
    // Fail loudly rather than return silently-wrong clusters: a
    // non-converged edge set is not a star forest, so the node→min
    // mapping below would be incorrect. Rounds needed grow with log n
    // (the optimistic bound is ~log₂ n alternations on adversarial
    // graphs), so the default is 50 — enough for any conceivable edge
    // set (2^50 nodes) — and the throw fires only on a logic
    // regression. The residual edge count rides in the error message
    // so the bound can be tuned from the failure itself if it binds.
    if (last.rows > 0 && !(rounds.size > 1 && rounds(rounds.size - 2).sameMeasure(last)))
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds " +
          s"(edge fingerprint still moving: count=${last.rows})")
    // fixed point = stars: every non-root points at its root
    val edges = last.state
    edges.select(col("u").as("node"), col("v").as("component"))
      .union(edges.select(col("v").as("node"), col("v").as("component")))
      .distinct()
  }
}
