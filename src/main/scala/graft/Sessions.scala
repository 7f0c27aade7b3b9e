package graft

import org.apache.spark.sql.SparkSession

/** The one place a local `SparkSession` is configured: `Bench`, `Verify`,
  * `Dev` and the test fixture all build through [[Sessions.local]], so a
  * timing or a result taken under one harness is taken under the same
  * settings as under every other. */
object Sessions {

  /** Core count: `SPARK_GRAFT_CPUS` when set, else the host's processors. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with one shuffle partition per core, UTC
    * timestamps, nanosecond parquet timestamps read as longs (which
    * `Tables.events` then normalizes), no UI, and graft's native
    * functions registered. */
  def local(cpus: Int = Sessions.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Every lineage cut leaves a localCheckpoint RDD whose blocks are
      // reclaimed only after a JVM GC lets ContextCleaner see the dead
      // reference; a large heap can go many minutes without one, so
      // dead blocks pile up in the block manager of a long-lived
      // driver. A periodic GC bounds the pile; build.sbt pairs it with
      // -XX:+ExplicitGCInvokesConcurrent so the triggered GC is a
      // concurrent cycle, not a stop-the-world pause inside a timed
      // query.
      .config("spark.cleaner.periodicGC.interval", "3min")
      .getOrCreate()
    // ERROR, not WARN: benign WARN chatter (function re-registration,
    // state-store maintenance) would land in the output tail where
    // Bench's metric line must be the last thing printed
    spark.sparkContext.setLogLevel("ERROR")
    graft.expressions.GraftFunctions.register(spark)
    spark
  }
}
