package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans around the harness's calls into each layer, plus the
  * Spark job, task and planning counts attributed to them.
  *
  * A span records its name, start, end, parent and request id. Jobs and
  * stages are attributed through a thread-local Spark property naming
  * the innermost open span (Spark copies local properties to the
  * threads it submits SQL jobs from). Planning time is attributed by
  * time: every planning phase runs on the client thread inside the span
  * that triggered it, so the innermost span whose interval holds the
  * phase owns it.
  *
  * With `enabled = false` no listener is registered and `span` only
  * runs its body. `active` switches span recording per request, so a
  * traced run can interleave traced and untraced requests and measure
  * the tracing overhead on the same mix.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()

  final class Span(val id: Int, val name: String, val parent: Int,
      val req: Int, val startNs: Long) {
    var endNs: Long = -1L
    var jobs = 0
    var taskMs = 0L
    var recordsIn = 0L
    var planMs = 0.0
    var heads = 0
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var reqSeq = 0
  private var curReq = 0

  /** Record spans for the requests that follow. */
  var active: Boolean = enabled

  // listener state: written on the bus thread, read after drain()
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val planEvents = mutable.ArrayBuffer.empty[(Long, Double, String)]
  val jobWallsMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty[Long]
  private val spanJobs = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private val spanTaskMs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val spanRecords = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  var taskMsTotal = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStartMs(e.jobId) = e.time
      val sid = spanOf(e.properties)
      if (sid > 0) spanJobs(sid) += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStartMs.remove(e.jobId).foreach(s => jobWallsMs += (e.time - s))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        taskMsTotal += m.executorRunTime
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        val sid = stageSpan.getOrElse(e.stageId, 0)
        if (sid > 0) {
          spanTaskMs(sid) += m.executorRunTime
          spanRecords(sid) += m.inputMetrics.recordsRead
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)
    private def record(funcName: String, qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values.toSeq
      if (ph.nonEmpty) {
        val start = ph.map(_.startTimeMs).min
        val end = ph.map(_.endTimeMs).max
        val ms = ph.map(_.durationMs).sum.toDouble
        Tracer.this.synchronized { planEvents += (((start + end) / 2, ms, funcName)) }
      }
    }
  }

  if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
  }

  /** Restart the whole-run counters (at the start of the timed window). */
  def resetGlobal(): Unit = {
    if (enabled) PerfbenchBus.drain(sc)
    synchronized {
      jobWallsMs.clear()
      taskMsTotal = 0L; shuffleWriteBytes = 0L; spillBytes = 0L
    }
  }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(0)

  /** Run one client request; spans opened inside share its id. */
  def request[T](body: => T): T = {
    reqSeq += 1
    curReq = reqSeq
    body
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = new Span(spans.size + 1, name,
        stack.headOption.map(_.id).getOrElse(0), curReq, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  private def epochMs(ns: Long): Double = originMs + (ns - originNs) / 1e6

  /** Wait for the listener bus, attribute planning time, and render the
    * spans as records. */
  def finish(): Seq[Map[String, Any]] = {
    if (!enabled) return Seq.empty
    PerfbenchBus.drain(sc)
    synchronized {
      spans.foreach { s =>
        s.jobs = spanJobs(s.id)
        s.taskMs = spanTaskMs(s.id)
        s.recordsIn = spanRecords(s.id)
      }
      // innermost span holding each planning midpoint; spans are in
      // start order, so walk back from the last span started before it
      val starts = spans.map(s => epochMs(s.startNs)).toArray
      planEvents.foreach { case (mid, ms, func) =>
        var i = java.util.Arrays.binarySearch(starts, mid.toDouble) match {
          case k if k >= 0 => k
          case k => -k - 2
        }
        var done = false
        while (i >= 0 && !done) {
          val s = spans(i)
          if (s.endNs >= 0 && epochMs(s.endNs) >= mid) {
            s.planMs += ms
            if (func == "head") s.heads += 1
            done = true
          }
          i -= 1
        }
      }
      spans.toSeq.map { s =>
        Map[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "req" -> s.req, "start_ns" -> (s.startNs - originNs),
          "end_ns" -> (s.endNs - originNs), "jobs" -> s.jobs,
          "task_ms" -> s.taskMs, "records_in" -> s.recordsIn,
          "plan_ms" -> s.planMs, "heads" -> s.heads)
      }
    }
  }

  /** Whole-run Spark and JVM counters for the per-workload metrics. */
  def sparkCounters(wallS: Double): Map[String, Any] = {
    val storage = sc.getRDDStorageInfo
    Map(
      "job_walls_ms" -> synchronized(jobWallsMs.toSeq),
      "task_ms_total" -> taskMsTotal,
      "wall_s" -> wallS,
      "cores" -> sc.defaultParallelism,
      "shuffle_write_bytes" -> shuffleWriteBytes,
      "spill_bytes" -> spillBytes,
      "storage_bytes_end" -> storage.map(r => r.memSize + r.diskSize).sum,
      "persisted_rdds_end" -> sc.getPersistentRDDs.size)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Used heap after explicit full collections, in MB. */
  def retainedHeapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Host speed probe: median wall time of a fixed integer loop run on
    * every core at once. It touches no program code, so it moves only
    * with the host (CPU contention, frequency), and the reduction can
    * deflate op times by it. */
  def cpuCalibrationMs(): Double = {
    val cores = Runtime.getRuntime.availableProcessors()
    def rep(): Double = {
      val sinks = new Array[Long](cores)
      val t0 = System.nanoTime()
      val ts = (0 until cores).map { c =>
        new Thread(() => {
          var x = 0x9E3779B97F4A7C15L + c
          var acc = 0L
          var i = 0
          while (i < CalibrationIters) {
            x ^= x << 13; x ^= x >>> 7; x ^= x << 17
            acc += x
            i += 1
          }
          sinks(c) = acc
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      if (sinks.sum == 42L) System.err.print("")
      (System.nanoTime() - t0) / 1e6
    }
    rep() // JIT warm-up
    val xs = Array.fill(5)(rep()).sorted
    xs(xs.length / 2)
  }

  val CalibrationIters = 50000000

  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}
