package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Random-hyperplane LSH — the reference's `LSHIndex`
  * (kowari src/index.rs:88-186), rebuilt as an offline Spark index-build
  * job plus a cheap partition-pruned probe.
  *
  * Semantics pinned from the reference:
  *   - signature bit i = 1 iff v·planeᵢ ≥ 0, packed into a 64-bit key
  *     (src/index.rs:99-107); default 16 planes (src/index.rs:182-186);
  *   - probe reranks exactly (cosine) within the query's single bucket
  *     (src/index.rs:109-120);
  *   - if the bucket yields FEWER than k candidates, fall back to a full
  *     brute-force scan — recall guarantee (src/index.rs:158-173; note
  *     the trigger is `< k`, not empty).
  *
  * Differences by design (SURVEY §7.5.1): hyperplanes are drawn from a
  * seeded PRNG, not `thread_rng`, so builds are reproducible; the built
  * index is a parquet directory PARTITIONED BY bucket, so the probe's
  * `bucket = h` filter becomes partition pruning — at 100 TB the probe
  * reads one directory, not the corpus. The plane matrix is tiny
  * (planes × dim floats) and rides into the executors as literals.
  */
class Lsh(val numPlanes: Int = 16, val seed: Long = 42L,
          explicitPlanes: Option[Array[Array[Double]]] = None) {
  require(numPlanes >= 1 && numPlanes <= 63, "numPlanes must be in [1,63]")
  require(explicitPlanes.forall(_.length == numPlanes),
    "explicitPlanes must supply exactly numPlanes rows")

  /** Deterministic plane matrix — seeded uniform [-1,1) (the default,
    * replacing src/index.rs:134-143's thread_rng) or the caller's
    * explicit matrix (e.g. data-dependent planes an external oracle
    * can replay). Either way the matrix is FROZEN per instance, which
    * is what makes `append` ≡ rebuild. */
  def planes(dim: Int): Array[Array[Double]] = explicitPlanes match {
    case Some(ps) =>
      require(ps.forall(_.length == dim),
        s"explicit planes have dim ${ps.head.length}, data has dim $dim")
      ps
    case None =>
      val rng = new scala.util.Random(seed)
      Array.fill(numPlanes, dim)(rng.nextDouble() * 2.0 - 1.0)
  }

  /** The 64-bit signature as a column expression (distributed hash path,
    * src/index.rs:99-107). One dot product per plane, all built-in HOFs. */
  def bucketCol(vec: Column, dim: Int): Column =
    planes(dim).zipWithIndex.map { case (p, i) =>
      when(VectorOps.fastDot(vec, typedLit(p.toSeq)) >= 0.0, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Driver-side signature of a single query vector (the serve-time
    * `compute_hash` on the probe path). */
  def bucketOf(v: Array[Float]): Long = {
    val ps = planes(v.length)
    var h = 0L
    var i = 0
    while (i < numPlanes) {
      var dot = 0.0
      var j = 0
      while (j < v.length) { dot += v(j).toDouble * ps(i)(j); j += 1 }
      if (dot >= 0.0) h |= (1L << i)
      i += 1
    }
    h
  }

  /** Materialize the index: source vectors + bucket key, written as
    * bucket-partitioned parquet (src/index.rs:124-156's HashMap of
    * buckets, durably). */
  def build(vectors: DataFrame, path: String,
            idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val dim = vectors.select(size(col(vecCol))).limit(1).collect()(0).getInt(0)
    vectors
      .select(col(idCol), col(vecCol), bucketCol(col(vecCol), dim).as("bucket"))
      // cluster by bucket before the partitioned write: a 16-plane
      // store has up to 2^16 bucket directories, and an unclustered
      // write makes EACH input task open a parquet writer per bucket it
      // sees — a single-task source serially opens/commits thousands of
      // tiny files (measured r14: 2000 buckets ≈ 30-60 s of pure file
      // churn at sf0.1). Hash-clustering routes every bucket wholly to
      // one task: file creation parallelizes across the cluster and the
      // store gets exactly ONE file per bucket instead of one per
      // (task × bucket) — the compact() layout, written right the first
      // time (guide §6: file sizing/count is set at write time).
      // The partition COUNT must be pinned (r15): a bare
      // repartition(col) is an AQE-coalescible shuffle, and at
      // byte-tiny row volume AQE folds it back to ONE post-shuffle
      // partition — one task again serially opening every bucket's
      // writer, which is exactly the churn this clustering removes
      // (measured: 2000 bucket dirs = 0.3 s shuffle + ~25 s
      // single-task file churn; pinned at the session's shuffle
      // parallelism the churn spreads across the cluster). Writer
      // parallelism is FILE-metadata-bound here, not byte-bound, so
      // the session's shuffle-partition setting — not AQE's
      // byte-advisory target — is the right width at any scale.
      .repartition(
        vectors.sparkSession.sessionState.conf.numShufflePartitions,
        col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    Lsh.writeDim(vectors.sparkSession.sparkContext.hadoopConfiguration, path, dim)
  }

  /** Incremental maintenance: bucket-assign a NEW batch against the
    * index's frozen plane matrix (planes are fixed by (numPlanes,
    * seed) at build time — the same frozen-parameter contract as
    * `Ivf.append`'s centroids) and add partition-local files to the
    * bucket-partitioned store. Existing rows are never read,
    * shuffled, or rewritten: one map-only signature pass over the
    * batch, so the append costs O(batch), not O(corpus). Exceeds the
    * reference's build/clear-only index lifecycle (src/index.rs:124-156)
    * while keeping its bucket semantics; single-writer discipline as
    * in the .kwi append path (vector_db/src/binary_index.rs:103-146). */
  def append(path: String, batch: DataFrame,
             idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    // empty batch = no-op (a scheduled append tick with no new vectors
    // must not fail the job on the dim probe)
    val dimRow = batch.select(size(col(vecCol))).limit(1).collect()
    if (dimRow.isEmpty) return
    val dim = dimRow(0).getInt(0)
    // the plane matrix is a function of (numPlanes, seed, DIM): a batch
    // with a different vector dimension would bucket-assign through a
    // different matrix and silently corrupt probe results for the
    // appended rows. Fast path: the `_dim` sidecar build() wrote — an
    // O(1) point read through the store's own FileSystem, no
    // partition-discovery pass over the store's files (append must
    // stay O(batch)). Whenever the sidecar is absent or unreadable
    // (legacy store, torn write), fall back to the one-row Spark
    // probe. Bootstrap classification is EXPLICIT (r8 advisory): a
    // genuinely missing store directory bootstraps silently (first
    // append = build); an existing-but-unreadable directory (e.g.
    // pre-created empty by an orchestrator) also bootstraps, but says
    // so — while any non-Analysis read failure (corrupt footer,
    // permission) still aborts the append rather than guessing.
    val hconf = batch.sparkSession.sparkContext.hadoopConfiguration
    val sidecarDim = Lsh.readDim(hconf, path)
    val storeDim: Option[Int] = sidecarDim.orElse {
      val storeExists =
        try { val p = new org.apache.hadoop.fs.Path(path)
          p.getFileSystem(hconf).exists(p) }
        catch { case _: Exception => false }
      if (!storeExists) None
      else try batch.sparkSession.read.parquet(path)
        .select(size(col(vecCol))).limit(1).collect()
        .headOption.map(_.getInt(0))
      catch { case _: org.apache.spark.sql.AnalysisException =>
        System.err.println(s"[graft] Lsh.append: store directory $path " +
          "exists but holds no readable parquet; bootstrapping it with " +
          s"this batch's dimension $dim")
        None
      }
    }
    storeDim.foreach(sd => require(dim == sd,
      s"Lsh.append: batch dimension $dim != index dimension $sd at $path"))
    batch
      .select(col(idCol), col(vecCol), bucketCol(col(vecCol), dim).as("bucket"))
      // same bucket-clustering as build(): one file per bucket per
      // append instead of one per (task × bucket) — appends stay
      // O(batch) and the store accumulates far fewer small files
      // between compactions; count pinned for the same AQE-coalescing
      // reason as build()
      .repartition(
        batch.sparkSession.sessionState.conf.numShufflePartitions,
        col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(path)
    // bootstrap AND backfill: whenever the sidecar was missing, record
    // the (verified or bootstrapped) dimension so future appends take
    // the O(1) path
    if (sidecarDim.isEmpty) Lsh.writeDim(hconf, path, storeDim.getOrElse(dim))
  }

  /** Compact a bucket-partitioned parquet index in place: every
    * `append` adds partition-local files, so a long-lived index
    * accumulates many small files per bucket — the classic small-files
    * problem that throttles a 100 TB scan (per-file open cost, tiny
    * row groups, starved readers). One clustered rewrite
    * (`repartition(bucket)` routes each bucket to one task →
    * one output file per bucket), staged to a sibling directory and
    * swapped via two renames — a reader can never see mixed or
    * half-written content, and a crashed swap is recovered losslessly
    * on the next call (see `compactPartitioned`). Content is
    * bit-preserved — the audits' id-weighted sums are unchanged, which
    * the lsh_compact_audit oracle hash-verifies. */
  def compact(spark: SparkSession, path: String): Unit =
    Lsh.compactPartitioned(spark, path, "bucket")

  /** In-memory variant for tests/small corpora: same frame, not written. */
  def index(vectors: DataFrame,
            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dim = vectors.select(size(col(vecCol))).limit(1).collect()(0).getInt(0)
    vectors.select(col(idCol), col(vecCol), bucketCol(col(vecCol), dim).as("bucket"))
  }

  /** Bucket-size histogram collected to a driver map — #buckets entries
    * (the index HEAD: bounded by min(n, 2^numPlanes), not the corpus).
    * Probes consult it for the &lt; k fallback decision, replacing the
    * per-probe `count()` job the reference's recall check implies
    * (src/index.rs:158-173) with a map lookup — one job per probe
    * instead of two. Build it once per index under the caller's
    * build-once/query-many memo. */
  def bucketHistogram(indexDf: DataFrame): Map[Long, Long] =
    indexDf.groupBy(col("bucket").cast("long").as("b"))
      .agg(count(lit(1)).as("n"))
      // fold the per-bucket counts into ONE map row before collecting:
      // same ≤ 2^numPlanes driver entries and still a single job, but
      // the action's row head is 1 — the bounded-collect plan sweep
      // certifies every declared head against a constant row bound
      .agg(map_from_entries(collect_list(struct(col("b"), col("n")))).as("m"))
      .collect()(0).getMap[Long, Long](0).toMap

  /** The rows a probe reranks: the query's bucket, or every row of
    * `indexDf` when that bucket holds fewer than k (src/index.rs:158-173).
    * `indexDf` is either `spark.read.parquet(builtPath)` (partition-pruned)
    * or any frame with a `bucket` column. Pass `bucketSizes`
    * (`bucketHistogram`) to decide the fallback without a count() job. */
  def candidates(indexDf: DataFrame, queryVec: Array[Float], k: Int,
      bucketSizes: Option[Map[Long, Long]] = None): DataFrame =
    probed(indexDf, Seq(bucketOf(queryVec)), k, bucketSizes)

  private def probed(indexDf: DataFrame, probes: Seq[Long], k: Int,
      bucketSizes: Option[Map[Long, Long]]): DataFrame = {
    val bucketDf = indexDf.filter(col("bucket").isin(probes: _*))
    val hits = bucketSizes match {
      case Some(h) => probes.map(p => h.getOrElse(p, 0L)).sum
      case None => bucketDf.count()
    }
    if (hits < k) indexDf else bucketDf
  }

  /** Probe: exact cosine rerank of `candidates`, scored against the query
    * as a literal — one job when `bucketSizes` is given. */
  def query(spark: SparkSession, indexDf: DataFrame, queryVec: Array[Float], k: Int,
            idCol: String = "vec_id", vecCol: String = "embedding",
            bucketSizes: Option[Map[Long, Long]] = None): DataFrame =
    Knn.topK(candidates(indexDf, queryVec, k, bucketSizes), queryVec, k,
      Knn.Cosine, idCol, vecCol)

  /** Multi-probe query: probe the query's bucket plus every 1-bit-flip
    * neighbor bucket (numPlanes+1 buckets total) before considering the
    * brute-force fallback. The standard recall/cost middle ground — at
    * 100 TB each probed bucket is one pruned partition, so multi-probe
    * reads (P+1)/2^P of the index instead of all of it, and the
    * fallback (full scan) almost never fires. Fallback semantics stay
    * reference-faithful: trigger on < k candidates. */
  def queryMultiProbe(spark: SparkSession, indexDf: DataFrame, queryVec: Array[Float],
      k: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      bucketSizes: Option[Map[Long, Long]] = None): DataFrame = {
    val b = bucketOf(queryVec)
    val probes = b +: (0 until numPlanes).map(i => b ^ (1L << i))
    Knn.topK(probed(indexDf, probes, k, bucketSizes), queryVec, k,
      Knn.Cosine, idCol, vecCol)
  }

  /** Bucket histogram — index health stats (deterministic given seed). */
  def bucketStats(indexDf: DataFrame): DataFrame =
    indexDf.groupBy(col("bucket")).agg(count(lit(1)).as("sz"))
      .agg(
        count(lit(1)).as("n_buckets"),
        max(col("sz")).as("max_bucket"),
        sum(col("sz")).as("n_vectors"))
}

object Lsh {
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.{FileSystem, Path => HPath}

  /** Resolve the store's OWN filesystem from its path scheme — local
    * paths hit RawLocalFileSystem, `hdfs://`/`s3a://`/`file:` stores
    * hit theirs, so every sidecar/compact operation below works
    * wherever Spark itself can read the store (the r8 advisory:
    * java.nio on the raw path string only ever worked locally). */
  private def fsOf(conf: Configuration, path: String): (FileSystem, HPath) = {
    val p = new HPath(path)
    (p.getFileSystem(conf), p)
  }

  /** `_dim` sidecar inside the store directory (underscore-prefixed →
    * invisible to Spark's file listing): the store's embedding
    * dimension, so append's mismatch guard is an O(1) read. Best-effort
    * on both sides: the write stages to a temp name and renames (a
    * torn sidecar is never visible; the delete-then-rename replace
    * leaves at worst a brief ABSENT window, which just re-arms the
    * Spark probe), failures are swallowed, and an unparseable sidecar
    * reads as absent rather than bricking every future append. */
  private[graft] def writeDim(conf: Configuration, path: String, dim: Int): Unit =
    try {
      val (fs, dirP) = fsOf(conf, path)
      val p = new HPath(dirP, "_dim")
      val tmp = new HPath(dirP, "._dim.tmp")
      val out = fs.create(tmp, true)
      try out.write(dim.toString.getBytes("UTF-8")) finally out.close()
      fs.delete(p, false)
      if (!fs.rename(tmp, p)) fs.delete(tmp, false)
    } catch { case _: Exception => () }

  private[graft] def readDim(conf: Configuration, path: String): Option[Int] =
    try {
      val (fs, dirP) = fsOf(conf, path)
      val p = new HPath(dirP, "_dim")
      if (!fs.exists(p)) None
      else {
        val len = fs.getFileStatus(p).getLen.toInt
        if (len <= 0 || len > 64) None // a sane dim is a handful of digits
        else {
          val buf = new Array[Byte](len)
          val in = fs.open(p)
          try in.readFully(0, buf) finally in.close()
          scala.util.Try(new String(buf, "UTF-8").trim.toInt).toOption
        }
      }
    } catch { case _: Exception => None }

  /** Object-level alias of the instance `compact` (compaction needs no
    * plane state — it is a pure layout rewrite). */
  def compact(spark: SparkSession, path: String): Unit =
    compactPartitioned(spark, path, "bucket")

  /** Clustered in-place rewrite of a `partitionBy(partCol)` parquet
    * store (see `Lsh.compact` doc): stage → swap → drop old. Shared by
    * the LSH and IVF maintenance paths.
    *
    * Crash discipline: the swap is two renames, so there IS a brief
    * window where `path` is absent — compaction is a single-writer
    * maintenance operation and a probe racing the swap must retry (it
    * can never see MIXED content). Crash-retry is lossless: if a
    * previous run died between the renames, the sole copy sits at
    * `path + ".old"` and the next call RECOVERS it before doing
    * anything destructive — the stale-state cleanup only ever deletes
    * a sibling when `path` itself holds a complete store. */
  private[graft] def compactPartitioned(spark: SparkSession, path: String,
      partCol: String): Unit = {
    // all staging/swap I/O goes through the store's OWN FileSystem
    // (scheme-resolved), so compact works on every path Spark can
    // read — local, file:, hdfs://, s3a:// — not just raw local
    // strings. Renames are atomic on HDFS/local; on an object store
    // without atomic rename the single-writer contract below is the
    // only guarantee, same as every staged-rename layout job.
    val conf = spark.sparkContext.hadoopConfiguration
    val (fs, store) = fsOf(conf, path)
    val tmp = store.suffix(".compacting")
    val old = store.suffix(".old")
    // recover a crashed swap: data moved out but never replaced
    if (!fs.exists(store) && fs.exists(old))
      require(fs.rename(old, store), s"compact: crash recovery $old -> $store failed")
    require(fs.exists(store), s"no store at $path to compact")
    fs.delete(tmp, true)
    fs.delete(old, true)
    spark.read.parquet(path)
      // pinned count: see build() — a bare repartition(col) AQE-folds
      // a byte-tiny clustered rewrite back to one serial writer task
      .repartition(spark.sessionState.conf.numShufflePartitions, col(partCol))
      .write.partitionBy(partCol).parquet(tmp.toString)
    readDim(conf, path).foreach(d => writeDim(conf, tmp.toString, d)) // sidecar rides along
    require(fs.rename(store, old), s"compact: stage-out $store -> $old failed")
    require(fs.rename(tmp, store), s"compact: swap-in $tmp -> $store failed")
    fs.delete(old, true)
  }
}
