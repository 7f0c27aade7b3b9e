package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import graft.operators.{Ivf, Knn, Lsh}
import graft.sources.CollectionManager

/** Serving searches with a driver-held query vector run as ONE Spark job
  * each — a single scan under TakeOrderedAndProject, the query scored as
  * a literal — and return exactly what the one-row-DataFrame form of
  * `Knn.topK` returns, under any AQE and shuffle-partition setting. */
class ServingJobsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val K = 10

  private lazy val fixture = {
    val base = Files.createTempDirectory("graft-serving-jobs").toString
    val vecs = GraftEngine.generateRandomVectors(spark, dim = 16, num = 400, seed = 11L)
      .withColumnRenamed("id", "vec_id")
    val mgr = new CollectionManager(spark, s"$base/collections")
    mgr.createCollection("c", 16)
    mgr.insert("c", vecs.select(col("vec_id").cast("string").as("id"), col("embedding")))
    val lsh = new Lsh(numPlanes = 3, seed = 42L)
    lsh.build(vecs, s"$base/lsh")
    val lshDf = spark.read.parquet(s"$base/lsh")
    val ivf = new Ivf(nlist = 6, iters = 2)
    val (cents, assigned) = ivf.build(vecs)
    assigned.write.partitionBy("cluster").parquet(s"$base/ivf")
    val queries = vecs.filter(col("vec_id").isin(0L, 7L, 123L))
      .orderBy("vec_id").select("embedding").as[Seq[Float]].collect().map(_.toArray)
    // an off-corpus query too: no row scores exactly 1.0
    val offCorpus = queries.map(_.map(_ * 0.5f)).reduce((a, b) => a.zip(b).map(t => t._1 + t._2))
    Fixture(mgr, lsh, lshDf, lsh.bucketHistogram(lshDf), ivf, cents,
      spark.read.parquet(s"$base/ivf"), queries :+ offCorpus)
  }

  private case class Fixture(mgr: CollectionManager, lsh: Lsh, lshDf: DataFrame,
      hist: Map[Long, Long], ivf: Ivf, cents: Array[(Int, Array[Double])], ivfDf: DataFrame,
      queries: Array[Array[Float]])

  /** (result, jobs started while it ran) */
  private def jobsOf[T](body: => T): (T, Int) = {
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

  private def exchanges(p: SparkPlan): Seq[String] =
    collectWithSubqueries(p) { case e: Exchange => e.nodeName }

  /** (id, score) rows of an ordered result whose first column is the id */
  private def ranked(df: DataFrame): Seq[(String, Double)] =
    df.collect().toSeq.map(r => (r.get(0).toString, r.getDouble(r.fieldIndex("score"))))

  /** Runs `search` once, checks it took one job with no exchange in its
    * executed plan, and returns its ranked rows. */
  private def oneJob(what: String)(search: => DataFrame): Seq[(String, Double)] = {
    val df = search
    val (rows, jobs) = jobsOf(ranked(df))
    assert(jobs === 1, s"$what ran $jobs jobs")
    val ex = exchanges(df.queryExecution.executedPlan)
    assert(ex.isEmpty, s"$what plans exchanges $ex:\n${df.queryExecution.executedPlan}")
    rows
  }

  private def frame(q: Array[Float]): DataFrame = Seq(Tuple1(q)).toDF("qe")

  private def withKnobs(aqe: Boolean, partitions: Int)(body: => Unit): Unit = {
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

  private val knobs = for (aqe <- Seq(true, false); p <- Seq(1, 7)) yield (aqe, p)

  test("GraftEngine.searchWithScores: one job, no exchange, equal to DataFrame-query topK") {
    val f = fixture
    for ((aqe, p) <- knobs; (metric, kind) <- Seq(
        Knn.Cosine -> GraftEngine.BruteForce,
        Knn.NegEuclidean -> GraftEngine.BruteForceEuclidean)) withKnobs(aqe, p) {
      val eng = new GraftEngine(f.mgr, "c", kind)
      f.queries.foreach { q =>
        val got = oneJob(s"$kind aqe=$aqe partitions=$p")(eng.searchWithScores(q, K))
        val want = ranked(Knn.topK(f.mgr.scan("c"), frame(q), K, metric, idCol = "id"))
        assert(got === want, s"$kind aqe=$aqe partitions=$p")
      }
    }
  }

  test("Lsh.query and queryMultiProbe with bucketSizes: one job, equal to DataFrame-query topK") {
    val f = fixture
    def within(probes: Seq[Long]): DataFrame = {
      val in = f.lshDf.filter(col("bucket").isin(probes: _*))
      if (probes.map(f.hist.getOrElse(_, 0L)).sum < K) f.lshDf else in
    }
    for ((aqe, p) <- knobs) withKnobs(aqe, p) {
      f.queries.foreach { q =>
        val b = f.lsh.bucketOf(q)
        val single = oneJob(s"Lsh.query aqe=$aqe partitions=$p")(
          f.lsh.query(spark, f.lshDf, q, K, bucketSizes = Some(f.hist)))
        assert(single === ranked(Knn.topK(within(Seq(b)), frame(q), K)))
        val flips = b +: (0 until f.lsh.numPlanes).map(i => b ^ (1L << i))
        val multi = oneJob(s"Lsh.queryMultiProbe aqe=$aqe partitions=$p")(
          f.lsh.queryMultiProbe(spark, f.lshDf, q, K, bucketSizes = Some(f.hist)))
        assert(multi === ranked(Knn.topK(within(flips), frame(q), K)))
      }
    }
  }

  test("Ivf.query: one job, equal to DataFrame-query topK over the probed cells") {
    val f = fixture
    val nprobe = 2
    for ((aqe, p) <- knobs) withKnobs(aqe, p) {
      f.queries.foreach { q =>
        val cells = f.cents.sortBy { case (i, c) =>
          (c.indices.map(j => (c(j) - q(j)) * (c(j) - q(j))).sum, i) }.take(nprobe).map(_._1)
        val got = oneJob(s"Ivf.query aqe=$aqe partitions=$p")(
          f.ivf.query(f.ivfDf, f.cents, q, K, nprobe))
        val want = ranked(Knn.topK(f.ivfDf.filter(col("cluster").isin(cells.toSeq: _*)),
          frame(q), K))
        assert(got === want, s"aqe=$aqe partitions=$p")
      }
    }
  }
}
