package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Cuts, Supersteps, Traversal}

/** The config-selected lineage-cut backend: a local checkpoint by
  * default, a durable parquet round-trip when
  * `spark.graft.checkpoint.dir` is set — the cluster posture, where localCheckpoint's unreplicated executor
  * blocks would let one lost executor kill a 50-superstep job.
  * Pins: value-identical results across backends on a 20-superstep
  * loop, bounded plans under the reliable backend, the parquet scan
  * actually appearing in the reliable plan, and empty-frame cuts
  * round-tripping; and under both backends, counted cuts whose count
  * is the frame's and whose size estimate restarts at every cut.
  */
class CutsSpec extends SparkSpec {

  private def withReliable[A](body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-cuts").toString
    spark.conf.set(Cuts.DirKey, dir)
    try body(dir)
    finally {
      spark.conf.unset(Cuts.DirKey)
      // best-effort scratch cleanup (the caller-owns-lifecycle contract)
      scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  import spark.implicits._

  // a 40-node ring with long costs: bellmanFord at 20 rounds drives 20
  // supersteps through Supersteps.loop (a cut every round)
  private def ring(n: Int): (DataFrame, DataFrame) = {
    val edges = (0 until n).map { i =>
      (i.toLong, ((i + 1) % n).toLong, 1L + (i % 3))
    }.toDF("src", "dst", "cost")
    val seeds = Seq(0L).toDF("node")
    (edges, seeds)
  }

  test("20-superstep loop: reliable backend matches localCheckpoint value-for-value") {
    val (edges, seeds) = ring(40)
    val local = Traversal.bellmanFord(edges, seeds, rounds = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val durable = withReliable { _ =>
      Traversal.bellmanFord(edges, seeds, rounds = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    }
    assert(local.sameElements(durable))
    assert(local.length == 21, "20 rounds reach 20 ring successors + seed")
  }

  test("reliable backend: plans stay bounded across 20 cut rounds") {
    val (edges, seeds) = ring(40)
    withReliable { _ =>
      val d0 = seeds.select(col("node"), lit(0L).as("cost"))
      var planChars = List.empty[Int]
      Supersteps.loop(d0, 20, checkpointEvery = 1) { dist =>
        planChars ::= dist.queryExecution.optimizedPlan.toString.length
        val relax = edges.join(dist, edges("src") === dist("node"))
          .select(edges("dst").as("node"), (dist("cost") + edges("cost")).as("cost"))
        dist.unionByName(relax).groupBy(col("node")).agg(min(col("cost")).as("cost"))
      }
      // every post-cut state plan is a flat file scan: no growth round
      // over round (the bounded-depth contract GraphAppendSpec pins for
      // the local backend)
      assert(planChars.max <= planChars.min + 64,
        s"plan sizes should be flat, got $planChars")
    }
  }

  test("reliable cut reads back through a parquet scan; default stays an RDD scan") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val localPlan = Cuts.cut(df).queryExecution.optimizedPlan.toString
    assert(localPlan.contains("LogicalRDD"), localPlan)
    withReliable { dir =>
      val cutDf = Cuts.cut(df)
      val plan = cutDf.queryExecution.optimizedPlan.toString
      assert(plan.toLowerCase.contains("parquet"), plan)
      assert(cutDf.collect().map(_.getLong(0)).sorted.sameElements(Array(1L, 2L)))
      // the backing files live under the configured scratch dir
      assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("cut-")))
    }
  }

  test("a reliable cut is self-contained: computable after its source is gone") {
    // the durability semantics in one pin: after the cut, the frame
    // depends ONLY on the cut artifact — delete the original input and
    // the cut frame still computes (on a cluster this is what survives
    // executor loss; lineage back to the source is genuinely severed,
    // not merely cached)
    val src = java.nio.file.Files.createTempDirectory("cuts-src").toString
    Seq((1L, 7L), (2L, 9L)).toDF("k", "v")
      .write.mode("overwrite").parquet(src)
    withReliable { _ =>
      val cutDf = Cuts.cut(spark.read.parquet(src).filter(col("k") > 0))
      scala.reflect.io.Directory(new java.io.File(src)).deleteRecursively()
      assert(cutDf.agg(sum(col("v"))).collect()(0).getLong(0) == 16L)
    }
  }

  test("empty frames cut and read back with schema intact (reliable backend)") {
    withReliable { _ =>
      val empty = Seq((1L, "x")).toDF("k", "v").filter(col("k") < 0)
      val cutDf = Cuts.cut(empty)
      assert(cutDf.count() == 0L)
      assert(cutDf.schema.fieldNames.toSeq == Seq("k", "v"))
    }
  }

  test("cuts stop size-stat compounding under both backends") {
    // joins MULTIPLY their children's BigInt size estimates, so an
    // iterated join loop whose cuts CARRY stats forward compounds the
    // estimate's bit-length every round; a cut must restart the
    // estimate each round, making the post-cut bit-length a
    // round-invariant constant
    def statBits(d: DataFrame): Int =
      d.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    val dim = Seq.tabulate(8)(i => (i.toLong, i.toLong * 2)).toDF("a", "c")
    def run(leaf: DataFrame => DataFrame): Seq[Int] = {
      var cur: DataFrame = Seq.tabulate(8)(i => (i.toLong, i.toLong)).toDF("a", "b")
      (1 to 5).map { _ =>
        cur = leaf(cur.join(dim, "a").join(dim.select(col("a"), col("c").as("d")), "a")
          .select(col("a"), col("b")))
        statBits(cur)
      }
    }
    val carried = run(_.localCheckpoint()) // stats carry: compounds
    assert(carried.last > carried.head,
      s"control: carried stats should compound, got $carried")
    val local = run(Cuts.cut)
    assert(local.distinct.size == 1,
      s"local cut bits should be round-invariant, got $local")
    val durable = withReliable(_ => run(Cuts.cut))
    assert(durable.max <= durable.min + 8, // file sizes may wobble a byte
      s"reliable cut bits should be flat, got $durable")
  }

  test("a default-backend cut's plan statistics carry its exact row count") {
    val base = spark.range(0, 1000).select(col("id"), (col("id") % 7).as("m"))
    for (df <- Seq(base, base.filter(col("m") === 3), base.filter(col("id") < 0),
        base.groupBy(col("m")).count())) {
      val c = Cuts.cut(df)
      val stats = c.queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(df.count())), s"$stats for\n${df.queryExecution.optimizedPlan}")
      assert(stats.sizeInBytes > 0)
    }
  }

  test("counted's count equals count() for empty and non-empty frames under both backends") {
    val df = Seq.tabulate(37)(i => (i.toLong, s"v$i")).toDF("k", "v")
    def check(): Unit =
      for (f <- Seq(df, df.filter(col("k") % 3 === 0), df.filter(col("k") < 0))) {
        val (c, n) = Cuts.counted(f)
        assert(n == f.count() && c.count() == n, s"counted $n, count ${f.count()}")
        // (the parquet read-back makes every column nullable)
        assert(c.schema.map(x => x.name -> x.dataType) == f.schema.map(x => x.name -> x.dataType))
      }
    check()
    withReliable(_ => check())
  }

  test("measured's count and wrapping column sums under both backends") {
    // two near-max values overflow: the sum wraps, as Scala's Long sum does
    val big = Long.MaxValue - 1
    val rows = Seq[(Long, Option[Long])]((0L, Some(big)), (1L, Some(big)), (2L, None), (3L, Some(-5L)))
    val df = rows.toDF("k", "h")
    def check(): Unit =
      for ((f, kept) <- Seq(df -> rows, df.filter(col("k") < 0) -> Nil)) {
        val (c, n, sums) = Cuts.measured(f, Seq("h", "k"))
        assert(n == kept.size && c.count() == n)
        assert(sums.toSeq == Seq(kept.flatMap(_._2).sum, kept.map(_._1).sum))
      }
    check()
    withReliable(_ => check())
  }

  test("declared queries run unchanged under the reliable backend (end-to-end)") {
    // the zero-behavior-change contract at QUERY level, not just
    // operator level: a cut-heavy declared query (communities: LPA
    // supersteps over the prepared graph) and the BFS census (per-round
    // cuts of frontier + consolidated visited) produce value-identical
    // results with every cut routed through the durable parquet backend
    for (name <- Seq("copurchase_communities", "bfs_hop_census")) {
      val default = graft.queries.GraphQueries.queries(name)(spark, sfDir)
        .collect().map(_.toSeq).toSeq
      val durable = withReliable { _ =>
        graft.queries.GraphQueries.queries(name)(spark, sfDir)
          .collect().map(_.toSeq).toSeq
      }
      assert(default.nonEmpty && durable == default, s"$name diverged")
    }
  }

  test("declared k-core census is identical under the reliable backend") {
    // the deepest declared superstep consumer (checkpointEvery = 1 with
    // a convergence probe): zero behavior change across backends
    val edges = (for (s <- 0L until 9L; d <- 0L until 9L
      if s != d && (s + d) % 3 != 0) yield (s, d))
      .toDF("src", "dst")
    val both = edges.unionByName(edges.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    val local = Traversal.kCoreConvergedCensus(both, k = 4, maxRounds = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val durable = withReliable { _ =>
      Traversal.kCoreConvergedCensus(both, k = 4, maxRounds = 12)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    }
    assert(local.sameElements(durable))
  }
}
