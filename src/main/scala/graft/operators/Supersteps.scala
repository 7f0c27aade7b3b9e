package graft.operators

import org.apache.spark.sql.DataFrame

/** The shared superstep driver for iterative graph algorithms
  * (PageRank, label propagation — anything Pregel-shaped), carrying
  * the two depth controls a to-convergence run needs:
  *
  *  - `checkpointEvery`: a [[Cuts]] lineage cut every k supersteps,
  *    so plan depth stays bounded instead of growing per iteration —
  *    past ~10 uncut supersteps Catalyst re-analysis and task
  *    serialization dominate (GraphAppendSpec and GraphMiningSpec pin
  *    bounded plan size at 20 iterations). Runs that never reach a
  *    cut (the declared 2–3 iteration queries) get byte-identical
  *    plans to an uncut loop.
  *  - `converged`: an optional exact, integer-friendly fixed-point
  *    probe (next, prev, rows of next) => stop?. When it is set every
  *    superstep is cut, so the probe reads materialized partitions,
  *    not re-executed lineage, and gets the row count the cut took
  *    in the same job. Callers use exact criteria (long L1 delta = 0,
  *    label change count = 0, an unchanged census) — a true fixed
  *    point, so early exit never changes the result.
  */
object Supersteps {
  def loop(init: DataFrame, iters: Int, checkpointEvery: Int,
      converged: Option[(DataFrame, DataFrame, Long) => Boolean])
      (step: DataFrame => DataFrame): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    var cur = init
    var it = 0
    var done = false
    while (it < iters && !done) {
      it += 1
      val next0 = step(cur)
      if (converged.isDefined || (it % checkpointEvery == 0 && it < iters)) {
        val (next, rows) = Cuts.counted(next0)
        converged.foreach { probe => if (probe(next, cur, rows)) done = true }
        cur = next
      } else cur = next0
    }
    cur
  }
}
