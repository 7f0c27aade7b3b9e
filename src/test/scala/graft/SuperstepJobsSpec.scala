package graft

import graft.operators.{Components, HyperBall, Traversal, Triangles}

/** The iterative graph loops take every stop test from the measured
  * cut of each round ([[graft.operators.Supersteps.converge]]), so
  * each runs a bounded number of Spark jobs per round: a converged
  * k-core or k-truss census per peel round (the census row is the
  * round's measure), a BFS per level (a level is empty when the visited
  * count did not grow), connected components per star round (an
  * unchanged edge fingerprint) and HyperBall per absorption round (an
  * unchanged register certificate). All equal in-memory replicas under
  * any AQE and shuffle-partition setting. */
class SuperstepJobsSpec extends SparkSpec with JobCounting {
  import spark.implicits._

  private val JobsPerRound = 6
  private val KCoreJobsPerRound = 3
  private val KCoreRound0Jobs = 3
  private val MaxHops = 8
  private val TrussJobsPerRound = 7
  private val TrussRound0Jobs = 4
  private val HyperBallJobsPerRound = 3
  private val HyperBallRound0Jobs = 2
  private val StarJobsPerRound = 5
  private val StarRound0Jobs = 4

  /** A 24-node dense core with four pendant paths of 3 to 6 nodes,
    * both directions, distinct: under k = 2 each path loses its free
    * end per round, so the peel runs six rounds before it repeats. */
  private lazy val graph: Vector[(Long, Long)] = {
    val rnd = new scala.util.Random(20261017)
    val core = for { a <- 0L until 24L; b <- a + 1 until 24L if rnd.nextDouble() < 0.4 }
      yield (a, b)
    val paths = (3 to 6).flatMap { len =>
      val ids = (0 until len).map(i => 100L * len + i)
      ((len.toLong, ids.head) +: ids.zip(ids.tail))
    }
    val und = (core ++ paths).toVector
    (und ++ und.map(_.swap)).distinct
  }
  private val seeds = Seq(605L, 3L, 17L)

  /** The fixed-point peel with the census trim rule of kCoreConvergedCensus. */
  private def peelReplica(k: Int): Seq[(Long, Long, Long)] = {
    var cur = graph
    val census = scala.collection.mutable.ArrayBuffer(
      (0L, cur.map(_._1).distinct.size.toLong, cur.size.toLong))
    var done = false
    while (!done) {
      val keep = cur.groupBy(_._1).filter(_._2.size >= k).keySet
      cur = cur.filter { case (s, d) => keep(s) && keep(d) }
      census += ((census.size.toLong, keep.size.toLong, cur.size.toLong))
      val n = census.size
      done = census(n - 1)._2 == census(n - 2)._2 && census(n - 1)._3 == census(n - 2)._3
    }
    census.toSeq
  }

  /** The k-truss census of kTrussConvergedCensus: (round, undirected
    * edges, support sum), the first repeated row included. */
  private def trussReplica(k: Int): Seq[(Long, Long, Long)] = {
    def support(es: Vector[(Long, Long)]): Map[(Long, Long), Long] = {
      val nbrs = (es ++ es.map(_.swap)).groupBy(_._1)
        .map { case (v, ns) => v -> ns.map(_._2).toSet }
      es.map { case (u, v) => (u, v) -> (nbrs(u) & nbrs(v)).size.toLong }.toMap
    }
    var sup = support(graph.filter { case (s, d) => s < d })
    val census = scala.collection.mutable.ArrayBuffer((0L, sup.size.toLong, sup.values.sum))
    var done = false
    while (!done) {
      val keep = sup.filter(_._2 >= k - 2)
      if (keep.size < sup.size) sup = support(keep.keys.toVector)
      census += ((census.size.toLong, sup.size.toLong, sup.values.sum))
      val n = census.size
      done = census(n - 1)._2 == census(n - 2)._2 && census(n - 1)._3 == census(n - 2)._3
    }
    census.toSeq
  }

  /** The large-star/small-star rounds of connectedComponents on the
    * fixture (the loop stops at the first round that repeats the edge
    * set) and the component of every node. */
  private def starReplica: (Int, Map[Long, Long]) = {
    def minOf(es: Set[(Long, Long)]) = es.groupBy(_._1).map { case (u, ns) => u -> ns.map(_._2).min }
    def largeStar(es: Set[(Long, Long)]) = {
      val sym = es ++ es.map(_.swap)
      val m = minOf(sym)
      sym.collect { case (u, v) if v > u => (v, math.min(u, m(u))) }
    }
    def smallStar(es: Set[(Long, Long)]) = {
      val canon = es.map { case (u, v) => (math.max(u, v), math.min(u, v)) }
      val m = minOf(canon)
      canon.collect { case (u, v) if v != m(u) => (v, m(u)) } ++ canon.map { case (u, _) => (u, m(u)) }
    }
    var edges = graph.collect { case (a, b) if a != b => (math.max(a, b), math.min(a, b)) }.toSet
    var rounds = 0
    var done = edges.isEmpty
    while (!done) {
      val next = smallStar(largeStar(edges))
      done = next == edges
      edges = next
      rounds += 1
    }
    (rounds, edges.flatMap { case (u, v) => Seq(u -> v, v -> v) }.toMap)
  }

  /** HyperBall.converge's absorption from the given hop-0 registers:
    * the supersteps up to and including the first unchanged one, and
    * the converged (root, b, r) rows. */
  private def hyperBallReplica(regs0: Map[Long, Map[Long, Long]]): (Int, Set[(Long, Long, Long)]) = {
    val out = graph.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    def merge(a: Map[Long, Long], b: Map[Long, Long]) =
      (a.keySet ++ b.keySet).map(k => k -> math.max(a.getOrElse(k, 0L), b.getOrElse(k, 0L))).toMap
    var cur = regs0
    var rounds = 0
    var done = false
    while (!done) {
      val next = cur.map { case (v, r) => v -> out.getOrElse(v, Vector.empty).map(cur).foldLeft(r)(merge) }
      done = next == cur
      cur = next
      rounds += 1
    }
    (rounds, cur.toSet[(Long, Map[Long, Long])].flatMap { case (v, m) => m.map { case (b, r) => (v, b, r) } })
  }

  private def bfsReplica: Map[Long, Long] = {
    val adj = graph.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds.toSet
    for (d <- 1L to MaxHops.toLong if frontier.nonEmpty) {
      frontier = frontier.flatMap(v => adj.getOrElse(v, Vector.empty)).filterNot(dist.contains)
      dist ++= frontier.map(_ -> d)
    }
    dist
  }

  test("converged k-core census: at most 6 jobs per peel round, equal to the replica") {
    val expect = peelReplica(k = 2)
    val rounds = expect.size - 1
    assert(rounds >= 6, s"the fixture should peel for several rounds: $expect")
    for ((aqe, p) <- knobs) withKnobs(aqe, p) {
      val edges = graph.toDF("src", "dst")
      val (got, jobs) = jobsOf {
        Traversal.kCoreConvergedCensus(edges, k = 2, maxRounds = 20)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      }
      info(s"aqe=$aqe partitions=$p: $jobs jobs, $rounds peel rounds")
      assert(got == expect, s"aqe=$aqe partitions=$p")
      assert(jobs <= KCoreJobsPerRound * rounds + KCoreRound0Jobs,
        s"aqe=$aqe partitions=$p: $jobs jobs for $rounds peel rounds")
    }
  }

  test("converged k-truss census: at most 11 jobs per peel round, equal to the replica") {
    val expect = trussReplica(k = 5)
    val rounds = expect.size - 1
    assert(rounds >= 4, s"the fixture should peel for several rounds: $expect")
    for ((aqe, p) <- knobs) withKnobs(aqe, p) {
      val edges = graph.toDF("src", "dst")
      val (got, jobs) = jobsOf {
        Triangles.kTrussConvergedCensus(edges, k = 5, maxRounds = 20)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      }
      info(s"aqe=$aqe partitions=$p: $jobs jobs, $rounds peel rounds")
      assert(got == expect, s"aqe=$aqe partitions=$p")
      assert(jobs <= TrussJobsPerRound * rounds + TrussRound0Jobs,
        s"aqe=$aqe partitions=$p: $jobs jobs for $rounds peel rounds")
    }
  }

  test("bfsHops: at most 6 jobs per level, equal to the replica") {
    val expect = bfsReplica
    val deepest = expect.values.max.toInt
    assert(deepest >= 4, s"the fixture should be several hops deep: $expect")
    // every expansion, including the one that finds nothing new
    // (unless the cap stops the search first); the seed frame's cut
    // rides in the same budget
    val levels = math.min(deepest + 1, MaxHops)
    for ((aqe, p) <- knobs) withKnobs(aqe, p) {
      val edges = graph.toDF("src", "dst")
      val (got, jobs) = jobsOf {
        Traversal.bfsHops(edges, seeds.toDF("node"), MaxHops)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      info(s"aqe=$aqe partitions=$p: $jobs jobs, $levels levels")
      assert(got == expect, s"aqe=$aqe partitions=$p")
      assert(jobs <= JobsPerRound * levels,
        s"aqe=$aqe partitions=$p: $jobs jobs for $levels levels")
    }
  }

  test("connectedComponents: at most 5 jobs per star round, equal to the replica") {
    // each round's convergence fingerprint is read off the round's own
    // cut, so a round is its four shuffle stages (one job each under
    // AQE) plus the cut's job, with no separate fingerprint aggregate
    val (rounds, expect) = starReplica
    assert(rounds >= 3, s"the fixture should take several rounds: $rounds")
    for ((aqe, p) <- knobs) withKnobs(aqe, p) {
      val pairs = graph.toDF("a", "b")
      val (got, jobs) = jobsOf {
        Components.connectedComponents(pairs)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      info(s"aqe=$aqe partitions=$p: $jobs jobs, $rounds star rounds")
      assert(got == expect, s"aqe=$aqe partitions=$p")
      assert(jobs <= StarJobsPerRound * rounds + StarRound0Jobs,
        s"aqe=$aqe partitions=$p: $jobs jobs for $rounds star rounds")
    }
  }

  test("HyperBall.converge: at most 3 jobs per absorption round, equal to the replica") {
    val nodes = graph.map(_._1).distinct.toDF("node")
    val regs0 = HyperBall.registers0(nodes).collect()
      .groupBy(_.getLong(0)).map { case (v, rs) => v -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    val (rounds, expect) = hyperBallReplica(regs0)
    assert(rounds >= 4, s"the fixture should take several rounds: $rounds")
    for ((aqe, p) <- knobs) withKnobs(aqe, p) {
      val edges = graph.toDF("src", "dst")
      val (got, jobs) = jobsOf {
        HyperBall.converge(edges, HyperBall.registers0(nodes), maxRounds = 64)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      }
      info(s"aqe=$aqe partitions=$p: $jobs jobs, $rounds absorption rounds")
      assert(got == expect, s"aqe=$aqe partitions=$p")
      assert(jobs <= HyperBallJobsPerRound * rounds + HyperBallRound0Jobs,
        s"aqe=$aqe partitions=$p: $jobs jobs for $rounds absorption rounds")
    }
  }
}
