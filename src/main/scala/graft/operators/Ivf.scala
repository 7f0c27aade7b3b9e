package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** IVF (inverted-file) approximate nearest neighbor: deterministic
  * k-means partitions the corpus into nlist cells; a query probes only
  * the nprobe nearest cells and exact-reranks inside them — the classic
  * scale path when LSH bucketing is too coarse.
  *
  * Spark-first shape:
  *  - build = an offline batch job (like kowari's Index::build,
  *    src/index.rs:124-156, but distributed): assignment is a pure
  *    expression argmin over a broadcast centroid literal (no UDF, no
  *    shuffle), centroid update is a typed vector-sum aggregate
  *    (VecSumAggregate) whose map-side partials bound the shuffle at
  *    nlist×d values per Lloyd round;
  *  - at 100 TB the assignment output is written as parquet partitioned
  *    by `cluster`, so a probe's `cluster IN (...)` filter becomes
  *    partition pruning and reads nprobe/nlist of the data;
  *  - serve = centroid scan on the driver (nlist is small by design) +
  *    one partition-pruned top-k job.
  *
  * Determinism: centroids seed from evenly-strided vec_ids and Lloyd
  * rounds are a fixed count, so the index is reproducible run-to-run.
  */
class Ivf(nlist: Int, iters: Int) {

  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (s, x) => s + x)

  /** Deterministic init: stride the corpus by vec_id rank. May yield
    * fewer than nlist centroids when the corpus is small or stride
    * seeds collide — downstream sizing must use the returned length,
    * not nlist.
    *
    * Scale shape: the driver sees exactly nlist rows. A count() sizes
    * the stride and a map-only `vec_id % stride` filter selects the
    * seed rows distributed — never a collect of the corpus id column
    * (a full-column collect is a driver OOM long before 100 TB), and
    * no global window either (a no-partition rank would funnel the
    * corpus through one reducer). */
  def initCentroids(vecs: DataFrame): Array[(Int, Array[Double])] = {
    val n = vecs.count()
    val stride = math.max(n / nlist, 1L)
    val strided = vecs.select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") % stride === 0 && col("vec_id") < stride * nlist)
      .orderBy(col("vec_id")).limit(nlist).collect()
    // the modulo filter assumes roughly dense ids from 0; sparse or
    // offset id spaces can miss SOME or all stride points. Fall back to
    // the first nlist rows whenever the stride under-fills — a corpus
    // with n >= nlist rows must always seed the full nlist centroids
    val want = math.min(nlist.toLong, n)
    val seeds =
      if (strided.length.toLong == want) strided
      else vecs.select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id")).limit(nlist).collect()
    seeds.zipWithIndex.map { case (r, i) =>
      (i, r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
    }
  }

  private def centroidLit(cents: Array[(Int, Array[Double])]): Column =
    typedLit(cents.sortBy(_._1).map(_._2.toSeq).toSeq)

  /** Expression-only argmin assignment against broadcast centroids:
    * array_min over (dist, idx) structs gives min-dist with min-idx
    * tiebreak, entirely inside WholeStageCodegen. */
  def assignExpr(emb: Column, cents: Array[(Int, Array[Double])]): Column = {
    val cl = centroidLit(cents)
    // size the probe sequence from the actual centroid count: initCentroids
    // can return < nlist, and probing past the array end yields null dists
    array_min(transform(sequence(lit(0), lit(cents.length - 1)),
      i => struct(
        sqDist(VectorOps.toDouble(emb), element_at(cl, i + 1)).as("d"),
        i.as("c"))))
      .getField("c")
  }

  /** Squared distance from a vector to its ASSIGNED centroid — the
    * within-cell "centrality" the SemDeDup purge rule keys its
    * keep-the-medoid-side tiebreak on. Pure expression against the
    * broadcast centroid literal (map-only), left-to-right double fold
    * so the DuckDB oracle replays it bit-for-bit. */
  def centroidDistExpr(emb: Column, cents: Array[(Int, Array[Double])],
      cluster: Column): Column =
    sqDist(VectorOps.toDouble(emb), element_at(centroidLit(cents), cluster + 1))

  /** Residual `embedding − centroid[cluster]` as an ARRAY&lt;DOUBLE&gt;
    * column — the IVF-PQ composition input (encode the residual, not
    * the raw vector: inside a tight cell the residual's spread is much
    * smaller than the corpus's, so the same codebook budget buys less
    * ADC error). Pure expression against the broadcast centroid
    * literal (map-only), and cast-before-subtract so the DuckDB oracle
    * replays it bit-for-bit. */
  def residualExpr(emb: Column, cents: Array[(Int, Array[Double])],
      cluster: Column): Column =
    zip_with(emb, element_at(centroidLit(cents), cluster + 1),
      (x, y) => x.cast("double") - y)

  /** The centroid-update aggregation of one Lloyd round as a DataFrame:
    * (cluster, sum ARRAY&lt;DOUBLE&gt;, cnt). Assignment is the codegen argmin
    * against broadcast centroid literals (map-only); the update is a
    * typed vector-sum aggregate with map-side partials, so the exchange
    * carries at most (#map partitions × nlist) d-length sums — never
    * the n×d position rows the earlier posexplode + groupBy(cluster,
    * pos) formulation amplified through the shuffle each round.
    * Package-visible so PlanSpec can pin the no-Generate shape. */
  private[graft] def lloydUpdate(vecs: DataFrame,
      cents: Array[(Int, Array[Double])]): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs.select(assignExpr(col("embedding"), cents).as("cluster"),
        col("embedding"))
      .as[(Int, Seq[Float])]
      .groupByKey(_._1)
      .agg(VecSumAggregate.vecSum[(Int, Seq[Float])](_._2)
        .toColumn.name("sumcnt"))
      .toDF("cluster", "sumcnt")
  }

  /** One Lloyd round: assign, then recompute per-cell means from the
    * vector-sum aggregate (driver sees nlist rows only). */
  def lloydRound(vecs: DataFrame, cents: Array[(Int, Array[Double])]): Array[(Int, Array[Double])] = {
    val updated = lloydUpdate(vecs, cents).collect().map { r =>
      val sc = r.getStruct(1)
      val sum = sc.getSeq[Double](0)
      val n = sc.getLong(1)
      (r.getInt(0), sum.map(_ / n).toArray)
    }
    // empty cells keep their previous centroid
    val byId = updated.toMap
    cents.map { case (i, c) => (i, byId.getOrElse(i, c)) }
  }

  /** Full index build: fixed Lloyd rounds, then final assignment.
    * Returns (centroids, assignment DF (vec_id, embedding, cluster)). */
  def build(vecs: DataFrame): (Array[(Int, Array[Double])], DataFrame) = {
    var cents = initCentroids(vecs)
    (0 until iters).foreach(_ => cents = lloydRound(vecs, cents))
    val assigned = vecs.select(col("vec_id"), col("embedding"),
      assignExpr(col("embedding"), cents).as("cluster"))
    (cents, assigned)
  }

  /** Incremental maintenance: assign a NEW batch against frozen
    * centroids and append it to the cluster-partitioned store — the
    * serving-tier contract where centroids retrain offline and
    * between retrains every arriving batch lands with one map-only
    * assignment pass and partition-local file adds. The existing
    * index rows are never read, shuffled, or rewritten (contrast a
    * rebuild: full Lloyd + full rewrite per batch), so the append
    * cost is O(batch), not O(corpus) — at 100 TB that is the
    * difference between a minute and a day. Mirrors the .kwi
    * single-writer append discipline (kowari
    * vector_db/src/binary_index.rs:103-146): one appender at a time,
    * readers see whole files. */
  def append(path: String, batch: DataFrame,
      cents: Array[(Int, Array[Double])]): Unit =
    batch.select(col("vec_id"), col("embedding"),
        assignExpr(col("embedding"), cents).as("cluster"))
      .write.mode("append").partitionBy("cluster").parquet(path)

  /** Compact the cluster-partitioned store in place — same small-files
    * maintenance as `Lsh.compact` (one clustered rewrite, staged and
    * atomically swapped; content bit-preserved). */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    Lsh.compactPartitioned(spark, path, "cluster")

  /** Probe: nearest nprobe cells (driver-side centroid scan — nlist is
    * small), then exact cosine top-k inside them, scored against the
    * query as a literal (one job). With the assignment parquet
    * partitioned by cluster this scans nprobe/nlist of data. */
  def query(assigned: DataFrame, cents: Array[(Int, Array[Double])],
      q: Array[Float], k: Int, nprobe: Int): DataFrame = {
    val qd = q.map(_.toDouble)
    def d2(c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < c.length) { val diff = c(i) - qd(i); s += diff * diff; i += 1 }
      s
    }
    val probes = cents.sortBy { case (i, c) => (d2(c), i) }.take(nprobe).map(_._1)
    Knn.topK(assigned.filter(col("cluster").isin(probes.toSeq: _*)), q, k, Knn.Cosine)
  }
}
