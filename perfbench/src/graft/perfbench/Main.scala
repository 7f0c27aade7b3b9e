package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload in this fresh JVM, `local[cores]`
  * Spark, one client thread. Writes the raw run record (samples,
  * counts, spans, check results) as JSON to `--raw`; `perfbench/run.py`
  * reduces it to the metric line.
  *
  *   Main --workload NAME --seed N --seconds S --trace 0|1 --work DIR --raw FILE
  *   Main --inputs NAME --seed N    (print the input checksum; no Spark)
  */
object Main {

  /** What every workload shares: the session, the tracer, the run's
    * knobs, and the outcome counters. */
  final class Run(val spark: SparkSession, val tracer: Tracer, val seed: Long,
      val seconds: Double, val work: String) {
    var attempted = 0L
    var failed = 0L
    val checks: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer.empty
    /** (kind, ms, traced, work units) per timed op. */
    val ops: mutable.ArrayBuffer[(String, Double, Boolean, Double)] = mutable.ArrayBuffer.empty
    val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
    private val perKind = mutable.Map.empty[String, Int].withDefaultValue(0)

    /** Record a correctness check; a failed one counts as a failed op. */
    def check(name: String, ok: Boolean, detail: String = ""): Unit = {
      checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
      if (!ok) {
        failed += 1
        System.err.println(s"[perfbench] check failed: $name $detail")
      }
    }

    /** Time one client request. In a traced run every other request of
      * each kind is traced, so the untraced half measures what tracing costs. */
    def op[T](kind: String)(body: => T): T = {
      attempted += 1
      perKind(kind) += 1
      tracer.active = tracer.enabled && perKind(kind) % 2 == 1
      val t0 = System.nanoTime()
      val r = tracer.request(body)
      ops += ((kind, (System.nanoTime() - t0) / 1e6, tracer.active, 1.0))
      r
    }

    /** Set the work units of the last op, for ops whose amount of work
      * depends on the inputs; op latency is reported per unit. */
    def units(n: Double): Unit = ops(ops.size - 1) = ops.last.copy(_4 = n)

    /** Run a warm-up without recording spans, so per-layer medians
      * describe the timed window only. */
    def untraced[T](body: => T): T = {
      val was = tracer.active
      tracer.active = false
      try body finally tracer.active = was
    }

    /** The closed loop of the timed window: run `step` at least
      * `minSteps` times (at least twice in a traced run, so a one-kind
      * loop has a traced and an untraced sample), then as long as
      * another step of the longest duration seen still ends within
      * `seconds`. Returns the steps run. */
    def loop(minSteps: Int)(step: Int => Unit): Int = {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      val min = if (tracer.enabled) math.max(minSteps, 2) else minSteps
      var n = 0
      var longest = 0L
      while (n < min || System.nanoTime() + longest <= end) {
        val t0 = System.nanoTime()
        step(n)
        longest = math.max(longest, System.nanoTime() - t0)
        n += 1
      }
      n
    }

    def subdir(name: String): String = {
      val p = Paths.get(work, name)
      Files.createDirectories(p)
      p.toAbsolutePath.toString
    }
  }

  trait Workload {
    /** Generate inputs (untimed by setup_s); returns the input checksum. */
    def generate(seed: Long): String
    /** Stage the generated inputs where the program reads them (untimed
      * by setup_s, counted with generation). */
    def stage(run: Run): Unit = ()
    /** Load, build and warm up; timed as `setup_s`. */
    def setup(run: Run): Unit
    /** The timed window (see `Run.loop`); returns the items done. */
    def timed(run: Run): Long
    /** Output checks and workload measurements after the timed window. */
    def verify(run: Run): Map[String, Any]
  }

  def workload(name: String): Workload = name match {
    case "vector_serve" => new Serve
    case "curation_batch" => new Curation
    case "graph_supersteps" => new Graph
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  private def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.expressions.GraftFunctions.register(spark)
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opts.get("inputs") match {
      case Some(name) =>
        println(workload(name).generate(opts("seed").toLong))
      case None =>
        sys.exit(runOnce(opts))
    }
  }

  private def runOnce(opts: Map[String, String]): Int = {
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val w = workload(name)

    val (checksum, genMs) = Tracer.timeMs(w.generate(seed))
    val calibBefore = Tracer.cpuCalibrationMs()
    val spark = session(work)
    val tracer = new Tracer(spark, trace)
    val run = new Run(spark, tracer, seed, seconds, work)
    try {
      val (_, stageMs) = Tracer.timeMs(w.stage(run))
      val (_, setupMs) = Tracer.timeMs(w.setup(run))
      val calibReady = Tracer.cpuCalibrationMs()
      run.attempted = 0
      run.failed = 0
      run.ops.clear()
      tracer.resetGlobal()
      val gc0 = Tracer.gcMs()
      val t0 = System.nanoTime()
      val items = w.timed(run)
      val wallS = (System.nanoTime() - t0) / 1e9
      val gcMs = Tracer.gcMs() - gc0
      tracer.active = false
      val spans = tracer.finish()
      val spark0 = if (trace) tracer.sparkCounters(wallS) else Map.empty[String, Any]
      val heap = Tracer.retainedHeapMb()
      val calibAfter = Tracer.cpuCalibrationMs()
      val extra = w.verify(run)
      val rec = mutable.LinkedHashMap[String, Any](
        "workload" -> name, "seed" -> seed, "trace" -> trace,
        "input_checksum" -> checksum, "generate_s" -> (genMs + stageMs) / 1000,
        "setup_s" -> setupMs / 1000,
        "attempted" -> run.attempted, "failed" -> run.failed,
        "checks" -> run.checks.toSeq,
        "ops" -> run.ops.map { case (k, ms, tr, u) => Seq(k, ms, tr, u) }.toSeq,
        "timed_wall_s" -> wallS, "items" -> items,
        "retained_heap_mb" -> heap, "gc_ms" -> gcMs,
        "calibration_ms" -> Seq(calibBefore, calibReady, calibAfter),
        "counters" -> run.counters, "spark" -> spark0, "spans" -> spans)
      extra.foreach { case (k, v) => rec(k) = v }
      val json = org.json4s.jackson.Serialization.write(rec)(org.json4s.DefaultFormats)
      Files.write(Paths.get(opts("raw")), json.getBytes(StandardCharsets.UTF_8))
      0
    } finally spark.stop()
  }
}
