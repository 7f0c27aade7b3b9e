package graft.operators

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame

/** The one superstep driver of the graph tier. Every Pregel-shaped
  * loop (PageRank, label propagation, Bellman–Ford, BFS, the k-core
  * and k-truss peels, HyperBall, random walks, connected components)
  * runs through one of its two entry points:
  *
  *  - [[loop]]: a fixed number of supersteps with a [[Cuts]] lineage
  *    cut every `checkpointEvery` of them, so plan depth stays bounded
  *    instead of growing per iteration (GraphAppendSpec and
  *    GraphMiningSpec pin bounded plan size at 20 iterations). A run
  *    that never reaches a cut gets the plan of an uncut loop.
  *  - [[converge]]: up to `maxSteps` supersteps, each one cut, until
  *    the caller's `stop(previous, next)` holds. Every round, the
  *    initial state included, is cut with [[Cuts.measured]]: the
  *    round's row count and the sums of the named long columns come
  *    from the job that materializes it (one job on the default
  *    backend; on the reliable backend the parquet write, then one
  *    pass over the read-back). Sums wrap on overflow and NULLs add
  *    nothing, so they serve as order-free fingerprints and exact
  *    censuses. A stop test built from these measures costs no action
  *    of its own.
  *
  * Callers use exact stop criteria (an unchanged measure over a state
  * that only grows or only shrinks, a zero label change, a long L1
  * delta within tolerance), so early exit never changes the result.
  */
object Supersteps {

  /** One cut round of [[converge]]: the materialized state, its row
    * count and the sums of the measured columns, in the order named. */
  final case class Round(state: DataFrame, rows: Long, sums: Seq[Long]) {
    /** Equal row count and equal sums. */
    def sameMeasure(o: Round): Boolean = rows == o.rows && sums == o.sums
  }

  /** `iters` supersteps of `step` from `init`, cut every
    * `checkpointEvery` supersteps (never after the last). */
  def loop(init: DataFrame, iters: Int, checkpointEvery: Int)
      (step: DataFrame => DataFrame): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    (1 to iters).foldLeft(init) { (cur, it) =>
      val next = step(cur)
      if (it % checkpointEvery == 0 && it < iters) Cuts.cut(next) else next
    }
  }

  /** Rounds 0..n of a measured superstep run: round 0 is `init`, round
    * t is `step(round t−1, t)`. Stops after the first round t with
    * `stop(round t−1, round t)`, or at t = `maxSteps`. */
  def converge(init: DataFrame, maxSteps: Int, sums: Seq[String] = Nil)
      (step: (Round, Int) => DataFrame)(stop: (Round, Round) => Boolean): IndexedSeq[Round] = {
    require(maxSteps >= 0, s"maxSteps must be >= 0, got $maxSteps")
    def measure(df: DataFrame): Round = {
      val (cut, rows, totals) = Cuts.measured(df, sums)
      Round(cut, rows, totals.toSeq)
    }
    @tailrec def go(rounds: Vector[Round]): Vector[Round] =
      if (rounds.size > maxSteps) rounds
      else {
        val next = measure(step(rounds.last, rounds.size))
        if (stop(rounds.last, next)) rounds :+ next else go(rounds :+ next)
      }
    go(Vector(measure(init)))
  }
}
