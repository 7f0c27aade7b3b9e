package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import graft.expressions.{TextKernels, VectorKernels}
import graft.operators.Dedup

/** Dev command line over declared queries (the benchmark and
  * correctness surfaces are Bench and Verify). Each subcommand but
  * `kernels` runs in one [[Sessions.local]] session:
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
  *   kernels
  *     ns per element of the eight native kernels on one thread, without
  *     a session: see [[kernels]]
  *
  * Usage: runMain graft.Dev <subcommand> <args...> */
object Dev {

  private val usage =
    "usage: graft.Dev time <sfDir> <name>[,<name>...] [passes] [jsonOut]\n" +
      "       graft.Dev explain <sfDir> <name>[,<name>...]\n" +
      "       graft.Dev explain-executed <sfDir> <name>[,<name>...]\n" +
      "       graft.Dev kernels"

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Seq("kernels"))) return kernels()
    val cmd = try command(args) catch {
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage)
        sys.exit(2)
    }
    val spark = Sessions.local()
    try cmd(spark) finally spark.stop()
  }

  /** Parse `args` into a subcommand that runs on a session; malformed
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

  /** Times each native kernel on 2,000 rows of 64 elements, single
    * threaded: after a warm-up, the fastest of 5 rounds of 20 passes,
    * printed as ns per input element. The vector kernels score every row
    * against one query, the rows as `UnsafeArrayData` (as a scan or a
    * kwi read delivers them) and, where the kernel has one, through the
    * raw-array entry on the same floats; `dot` and `sqdist` take a double
    * query, as the LSH planes and IVF centroids are. The text kernels take
    * arrays of 64 tokens (`shingles` of the dedup width) or 64
    * non-negative 60-bit hashes (`minhash` of the dedup length, `simhash`
    * of 32 bits). */
  def kernels(): Unit = {
    val (rows, dim, rounds, passes) = (2000, 64, 5, 20)
    val rnd = new java.util.Random(16L)
    val floats = Array.fill(rows)(Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
    val q = Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
    val qd = Array.fill(dim)(rnd.nextDouble() * 2.0 - 1.0)
    val (unsafe, uq, uqd) = (floats.map(ArrayData.toArrayData), ArrayData.toArrayData(q), ArrayData.toArrayData(qd))
    val hashes = Array.fill(rows)(ArrayData.toArrayData(Array.fill(dim)(rnd.nextLong() >>> 4)))
    val tokens = Array.fill(rows)(new GenericArrayData(
      Array.fill[Any](dim)(UTF8String.fromString("w" + rnd.nextInt(500)))))
    var sink = 0.0
    /** ns per element of `score(row)` over every row. */
    def time(score: Int => Double): Double = {
      def pass(): Unit = { var r = 0; while (r < rows) { sink += score(r); r += 1 } }
      (1 to 10 * passes).foreach(_ => pass())
      (1 to rounds).map { _ =>
        val t0 = System.nanoTime()
        (1 to passes).foreach(_ => pass())
        (System.nanoTime() - t0).toDouble / (passes.toLong * rows * dim)
      }.min
    }
    def ns(v: Option[Double]) = v.fold("-")(x => "%.2f".formatLocal(java.util.Locale.ROOT, x))
    def kernel(name: String, onUnsafe: Int => Double, raw: Option[Int => Double]): Unit =
      println(s"KERNEL $name unsafe=${ns(Some(time(onUnsafe)))} raw=${ns(raw.map(time))} ns/element")
    kernel("cosine", r => VectorKernels.cosine(unsafe(r), true, uq, true),
      Some(r => VectorKernels.cosine(floats(r), q)))
    kernel("dot", r => VectorKernels.dot(unsafe(r), true, uqd, false),
      Some(r => VectorKernels.dot(floats(r), qd)))
    kernel("sqdist", r => VectorKernels.sqdist(unsafe(r), true, uqd, false),
      Some(r => VectorKernels.sqdist(floats(r), qd)))
    kernel("euclidean", r => VectorKernels.euclidean(unsafe(r), true, uq, true), None)
    kernel("manhattan", r => VectorKernels.manhattan(unsafe(r), true, uq, true), None)
    kernel("shingles", r => TextKernels.shingles(tokens(r), Dedup.ShingleN).numElements(), None)
    kernel("minhash", r => TextKernels.minhash(hashes(r), Dedup.MinhashH).getLong(0).toDouble, None)
    kernel("simhash", r => TextKernels.simhash(hashes(r), 32).toDouble, None)
    println(s"KERNEL checksum $sink")
  }
}
