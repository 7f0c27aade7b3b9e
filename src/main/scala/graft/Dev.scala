package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Cuts.CutOps

/** Dev command line over declared queries (the benchmark and
  * correctness surfaces are Bench and Verify). Each subcommand runs in
  * one [[Sessions.local]] session:
  *
  *   time <sfDir> <name>[,<name>...] [passes] [jsonOut]
  *     per query one cold run, then `passes` (default 3) warm runs, all
  *     against the noop sink; with `jsonOut` the cold/warm seconds are
  *     also written as one JSON object (the isolated-floors format of
  *     `plans/r15/isolated_floors.json`)
  *   explain <sfDir> <name>[,<name>...]
  *     the formatted physical plan before execution
  *   explain-executed <sfDir> <name>[,<name>...]
  *     the physical plan after execution: AQE settles join strategies
  *     and exchange reuse only while the query runs, so a claim about
  *     either needs this plan, not the one `explain` prints
  *   tri-delta <sfDir> [x10Dir]
  *     same-JVM A/B of the `Triangles.delta` closure builds (below)
  *
  * Usage: runMain graft.Dev <subcommand> <args...> */
object Dev {

  private val usage =
    "usage: graft.Dev time <sfDir> <name>[,<name>...] [passes] [jsonOut]\n" +
      "       graft.Dev explain <sfDir> <name>[,<name>...]\n" +
      "       graft.Dev explain-executed <sfDir> <name>[,<name>...]\n" +
      "       graft.Dev tri-delta <sfDir> [x10Dir]"

  def main(args: Array[String]): Unit = {
    val cmd = try command(args) catch {
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage)
        sys.exit(2)
    }
    val spark = Sessions.local()
    try cmd(spark) finally spark.stop()
  }

  /** Parse `args` into the subcommand to run on a session; malformed
    * arguments throw `IllegalArgumentException` carrying the usage. */
  def command(args: Array[String]): SparkSession => Unit = {
    def arg(i: Int): Option[String] = args.lift(i)
    val sfDir = arg(1).getOrElse(throw new IllegalArgumentException(usage))
    def names: Seq[String] = {
      val ns = arg(2).getOrElse(throw new IllegalArgumentException(usage)).split(",").toSeq
      val unknown = ns.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown declared queries: ${unknown.mkString(",")}")
      ns
    }
    arg(0) match {
      case Some("time") =>
        val (ns, passes) = (names, arg(3).fold(3)(_.toInt))
        time(_, sfDir, ns, passes, arg(4))
      case Some("explain") => val ns = names; explain(_, sfDir, ns)
      case Some("explain-executed") => val ns = names; explainExecuted(_, sfDir, ns)
      case Some("tri-delta") => triDelta(_, sfDir, arg(2))
      case _ => throw new IllegalArgumentException(usage)
    }
  }

  def time(spark: SparkSession, sfDir: String, names: Seq[String], passes: Int,
      jsonOut: Option[String]): Unit = {
    def once(fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val rows = names.map { name =>
      val fn = SparkEntry.queries(name)
      val cold = once(fn)
      val warm = (1 to passes).map(_ => once(fn))
      println(f"TIMEQ $name cold=$cold%.2f warm=${warm.map(w => f"$w%.2f").mkString(",")}")
      name -> (cold, warm)
    }
    jsonOut.foreach { p =>
      def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
      val body = rows.map { case (n, (c, ws)) =>
        s""""$n":{"cold":${f2(c)},"warm":[${ws.map(f2).mkString(",")}]}"""
      }.mkString(",")
      val sf = sfDir.split('/').filter(_.nonEmpty).last
      val cpus = spark.sparkContext.defaultParallelism
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        s"""{"sf":"$sf","cpus":"$cpus","protocol":"fresh-JVM, noop sink, 1 cold + $passes warm per query, queries sequential in one session","queries":{$body}}""" + "\n")
    }
  }

  def explain(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { name =>
      println(s"===== $name =====")
      println(SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
    }

  def explainExecuted(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { name =>
      println(s"===== $name (executed) =====")
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // run THIS QueryExecution so AQE finalizes its stages
      println(df.queryExecution.executedPlan.toString)
    }

  /** `Triangles.delta` on the declared 90/10 co-purchase split, two
    * closure builds:
    *
    *   shared  — the shipped shape: both closure semis probe one merged
    *             adjacency build, which AQE reuses across them
    *   prefilt — the shared build semi-pruned to edges whose src is a
    *             batch-edge endpoint. Exact, because the first component
    *             of every closure probe key is a batch endpoint; it keeps
    *             the build O(batch neighbourhood) instead of O(corpus)
    *             when the batch is a small fraction of the graph
    *
    * Each variant: one untimed warm-up, then the min of two timed runs
    * against the noop sink, at ×1 (`sfDir`) and, when it holds a
    * lineitem table, at `x10Dir`. Both print `n_delta`, so result
    * equality shows in the output. */
  def triDelta(spark: SparkSession, sfDir: String, x10Dir: Option[String]): Unit = {
    def deltaPrefiltered(oldBoth: DataFrame, newBoth0: DataFrame,
        bound: Option[Long]): DataFrame = {
      val newBoth = newBoth0.select(col("src"), col("dst")).cut()
      val adjM = oldBoth.select(col("src"), col("dst"))
        .unionByName(newBoth.select(col("src"), col("dst")))
      val batchVerts = newBoth.select(col("src")).distinct()
      val adjPruned = adjM.join(broadcast(batchVerts), Seq("src"), "left_semi")
      val nCanon = newBoth.filter(col("src") < col("dst"))
      val c1 = nCanon.select(col("src").as("u"), col("dst").as("v"))
        .join(adjM.select(col("src").as("u"), col("dst").as("wn")), "u")
        .filter(col("wn") =!= col("v"))
        .select(col("v"), col("wn"))
        .join(adjPruned.select(col("src").as("v"), col("dst").as("wn")),
          Seq("v", "wn"), "left_semi")
        .agg(count(lit(1)).cast("long").as("c1"))
      val c2 = newBoth.select(col("src").as("ctr"), col("dst").as("x"))
        .join(newBoth.select(col("src").as("ctr"), col("dst").as("y")), "ctr")
        .filter(col("x") < col("y"))
        .join(adjPruned.select(col("src").as("x"), col("dst").as("y")),
          Seq("x", "y"), "left_semi")
        .agg(count(lit(1)).cast("long").as("c2"))
      val c3 = graft.operators.Triangles.count(newBoth, bound)
        .select(col("n_triangles").as("c3"))
      c1.crossJoin(c2).crossJoin(c3)
        .select((col("c1") - col("c2") + col("c3")).as("n_delta"))
    }

    def bench(tag: String, dir: String): Unit = {
      // the declared split, built fresh under the probe's own paths
      val basePath = graft.queries.Tables.buildPath(dir, "tri-probe-base")
      val batchPath = graft.queries.Tables.buildPath(dir, "tri-probe-batch")
      val li = graft.queries.Tables.lineitem(spark, dir)
      graft.queries.GraphQueries.edgesOf(li.filter(col("l_orderkey") % 10 =!= 0))
        .write.mode("overwrite").parquet(basePath)
      graft.queries.GraphQueries.edgesOf(li.filter(col("l_orderkey") % 10 === 0))
        .select(col("src"), col("dst"))
        .write.mode("overwrite").parquet(batchPath)
      val base = spark.read.parquet(basePath).select(col("src"), col("dst"))
      val batchE = spark.read.parquet(batchPath).select(col("src"), col("dst"))
      val nBatchE = batchE.count()
      val newE = batchE.join(base, Seq("src", "dst"), "left_anti")
      val variants: Seq[(String, () => DataFrame)] = Seq(
        "shared" -> (() => graft.operators.Triangles.delta(base, newE, Some(nBatchE))),
        "prefilt" -> (() => deltaPrefiltered(base, newE, Some(nBatchE))))
      variants.foreach { case (name, mk) =>
        def once(): Double = {
          val t0 = System.nanoTime()
          mk().write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        once() // warm-up
        val t = math.min(once(), once())
        val nd = mk().collect()(0).getLong(0)
        println(f"$tag $name: min2=$t%.2f s n_delta=$nd")
      }
    }
    bench("x1", sfDir)
    x10Dir.filter(d => java.nio.file.Files.exists(
      java.nio.file.Paths.get(d, "lineitem.parquet"))).foreach(bench("x10", _))
  }
}
