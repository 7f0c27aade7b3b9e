package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

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
  *
  * Usage: runMain graft.Dev <subcommand> <args...> */
object Dev {

  private val usage =
    "usage: graft.Dev time <sfDir> <name>[,<name>...] [passes] [jsonOut]\n" +
      "       graft.Dev explain <sfDir> <name>[,<name>...]\n" +
      "       graft.Dev explain-executed <sfDir> <name>[,<name>...]"

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
}
