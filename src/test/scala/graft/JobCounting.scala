package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Job counting and physical-knob sweeps for specs that pin how many
  * Spark jobs an operator runs. */
trait JobCounting { this: SparkSpec =>

  /** (result, jobs started while it ran) */
  protected def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      ListenerBusAccess.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }

  /** Runs `body` with AQE on or off and the given shuffle width, then
    * restores both settings. */
  protected def withKnobs(aqe: Boolean, partitions: Int)(body: => Unit): Unit = {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), aqe.toString)
    spark.conf.set(keys(1), partitions.toString)
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** AQE on/off × 1 and 7 shuffle partitions. */
  protected val knobs: Seq[(Boolean, Int)] =
    for (aqe <- Seq(true, false); p <- Seq(1, 7)) yield (aqe, p)
}
