package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Cuts, PageRank, Traversal}
import graft.queries.GraphQueries
import graft.perfbench.Main.{Run, Workload}

/** graph_supersteps: a seeded basket table turned into the co-purchase
  * graph by the program's own edge derivation, then per round the
  * converged k-core census, a 16-seed BFS hop census and ten PageRank
  * supersteps over a prepared graph. Every call is dozens of small jobs. */
final class Graph extends Workload {
  import Graph._

  private var baskets: Array[(Long, Long)] = _
  private var edges: DataFrame = _
  private var edgeList: Array[(Long, Long)] = _
  // co-purchase weight: orders holding both parts
  private var weight: Map[(Long, Long), Long] = Map.empty
  private var k = 0
  private var seeds: Seq[Long] = Nil
  private var kcore: Seq[(Long, Long, Long)] = Nil
  private var hops: Map[Long, Long] = Map.empty
  private var ranks: Map[Long, Long] = Map.empty

  def generate(seed: Long): String = {
    baskets = Gen.baskets(seed, Orders, Parts)
    // the co-purchase pairs the program must derive: distinct parts of
    // one order, both directions
    weight = baskets.groupBy(_._1).values.toSeq.flatMap { items =>
      val ps = items.map(_._2).distinct.toSeq
      for (a <- ps; b <- ps if a != b) yield (a, b)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    edgeList = weight.keys.toArray.sorted
    k = chooseK(edgeList)
    val r = new java.util.Random(seed)
    val nodes = edgeList.map(_._1).distinct
    seeds = Seq.fill(BfsSeeds)(nodes(r.nextInt(nodes.length))).distinct.sorted
    val d = new Gen.Digest
    baskets.foreach { case (o, p) => d.long(o); d.long(p) }
    d.hex
  }

  override def stage(run: Run): Unit =
    run.spark.createDataFrame(
        java.util.Arrays.asList(baskets.map { case (o, p) => Row(o, p) }.toSeq: _*), lineSchema)
      .write.parquet(s"${run.subdir("graph")}/lineitem")

  def setup(run: Run): Unit = {
    val spark = run.spark
    val li = spark.read.parquet(s"${run.subdir("graph")}/lineitem")
    // the co-purchase graph, materialized once like the program's own
    // shared graph build
    edges = Cuts.cut(GraphQueries.edgesOf(li).select(col("src"), col("dst"), col("w")))
    // warm-up: every call of a round on its shortest setting
    val pairs = edges.select(col("src"), col("dst"))
    Traversal.kCoreConvergedCensus(pairs, k, 1).collect()
    Traversal.bfsHops(pairs, seedFrame(spark), 1).collect()
    val g = PageRank.prepare(edges)
    PageRank.iterate(g, 1).collect()
    g.unpersist()
  }

  private def seedFrame(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(seeds.map(Row(_)): _*), nodeSchema)

  /** Smallest k whose peel takes at least `MinPeelRounds` rounds. */
  private def chooseK(es: Array[(Long, Long)]): Int =
    (2 to 200).find(k => peel(es, k).size - 2 >= MinPeelRounds).getOrElse(2)

  private def round(run: Run): Unit = {
    val spark = run.spark
    val tr = run.tracer
    val pairs = edges.select(col("src"), col("dst"))
    kcore = tr.span("operators.Traversal.kCoreConvergedCensus") {
      Traversal.kCoreConvergedCensus(pairs, k, MaxPeelRounds).orderBy("round").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    hops = tr.span("operators.Traversal.bfsHops") {
      Traversal.bfsHops(pairs, seedFrame(spark), MaxHops)
        .groupBy("hop").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val g = tr.span("operators.PageRank.prepare")(PageRank.prepare(edges))
    ranks = tr.span("operators.PageRank.iterate") {
      PageRank.iterate(g, PageRankIters, checkpointEvery = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    g.unpersist()
  }

  /** Supersteps of the last round: k-core peel rounds, BFS expansions
    * (including the one that found the frontier empty) and PageRank
    * iterations. Their count depends on the seed's graph, so a round's
    * time is reported per superstep. */
  private def roundSupersteps: Int =
    (kcore.size - 1) + math.min(hops.keys.max.toInt + 1, MaxHops) + PageRankIters

  def timed(run: Run): Long = {
    var supersteps = 0L
    run.loop(MinRounds) { _ =>
      run.op("round")(round(run))
      run.units(roundSupersteps)
      supersteps += roundSupersteps
    }
    supersteps
  }

  /** Driver-side k-core census with the program's documented semantics:
    * round 0 counts distinct sources and edges; each round keeps nodes
    * of out-degree >= k and restricts edges to kept endpoints; stop at
    * the first round whose census repeats the previous one. */
  private def peel(es: Array[(Long, Long)], k: Int): Seq[(Long, Long, Long)] = {
    var e = es
    val census = mutable.ArrayBuffer((0L, e.map(_._1).distinct.length.toLong, e.length.toLong))
    var done = false
    while (!done && census.size <= MaxPeelRounds) {
      val deg = e.groupBy(_._1).view.mapValues(_.length).toMap
      val keep = deg.filter(_._2 >= k).keySet
      e = e.filter { case (s, d) => keep(s) && keep(d) }
      census += ((census.size.toLong, keep.size.toLong, e.length.toLong))
      val n = census.size
      done = census(n - 1)._2 == census(n - 2)._2 && census(n - 1)._3 == census(n - 2)._3
    }
    census.toSeq
  }

  private def bfs(es: Array[(Long, Long)], from: Seq[Long]): Map[Long, Long] = {
    val out = es.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seen = mutable.Set.from(from)
    var frontier = from.toSet
    val counts = mutable.Map(0L -> frontier.size.toLong)
    var d = 1L
    while (d <= MaxHops && frontier.nonEmpty) {
      frontier = frontier.flatMap(n => out.getOrElse(n, Array.empty[Long])).filterNot(seen)
      seen ++= frontier
      if (frontier.nonEmpty) counts(d) = frontier.size.toLong
      d += 1
    }
    counts.toMap
  }

  /** Driver-side fixed-point PageRank with the program's documented
    * arithmetic: rank0 = FP/n, then per superstep
    * jump + (85 * sum over u->v of (rank(u) * w) div outw(u)) div 100. */
  private def pageRank(iters: Int): Map[Long, Long] = {
    val nodes = edgeList.flatMap(e => Seq(e._1, e._2)).distinct
    val outw = weight.groupMapReduce(_._1._1)(_._2)(_ + _)
    val init = PageRank.FP / nodes.length
    val jump = ((PageRank.DampDen - PageRank.DampNum) * init) / PageRank.DampDen
    var rank = nodes.map(_ -> init).toMap
    (1 to iters).foreach { _ =>
      val sc = weight.toSeq.groupMapReduce(_._1._2) { case ((u, _), w) =>
        rank(u) * w / outw(u) }(_ + _)
      rank = nodes.map(v => v -> (jump + PageRank.DampNum * sc.getOrElse(v, 0L) / PageRank.DampDen)).toMap
    }
    rank
  }

  def verify(run: Run): Map[String, Any] = {
    val derived = edges.select("src", "dst", "w").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    run.check("edges_equal_driver_pairs", derived == weight,
      s"program derived ${derived.size} edges, driver ${weight.size}; " +
        s"${derived.count { case (e, w) => !weight.get(e).contains(w) }} differ")
    val expectCore = peel(edgeList, k)
    run.check("kcore_census_equals_driver", kcore == expectCore,
      s"k=$k spark ${kcore.take(8)} driver ${expectCore.take(8)}")
    val expectHops = bfs(edgeList, seeds)
    run.check("bfs_hop_counts_equal_driver", hops == expectHops,
      s"spark $hops driver $expectHops")
    val expectRanks = pageRank(PageRankIters)
    run.check("pagerank_equals_driver", ranks == expectRanks,
      s"${ranks.size} ranks, ${expectRanks.size} expected, " +
        s"${ranks.count { case (v, r) => !expectRanks.get(v).contains(r) }} differ")
    val rounds = kcore.size - 1
    run.counters("operators.Traversal.kCoreConvergedCensus.rounds") = rounds.toDouble
    Map("kcore_k" -> k, "edges" -> edgeList.length)
  }
}

object Graph {
  val Orders = 1500
  val Parts = 800
  val BfsSeeds = 16
  val MaxHops = 8
  val MinPeelRounds = 5
  val MaxPeelRounds = 40
  val PageRankIters = 10
  val MinRounds = 1

  val nodeSchema: StructType = StructType(Seq(StructField("node", LongType, nullable = false)))
  val lineSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_partkey", LongType, nullable = false)))
}
