package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Metrics, VectorOps}
import graft.operators.{Hnsw, Ivf, Knn, Lsh, Pq, TopK}
import graft.operators.Cuts.CutOps

/** Declared queries for the approximate indexes (LSH / HNSW) and the
  * evaluation metrics (kowari §2.2, §2.7).
  *
  * LSH/HNSW internals (seeded hyperplanes, hash-derived levels) are not
  * expressible in ANSI SQL, so:
  *   - `lsh_knn` is oracle-checked against the *brute-force* SQL: the
  *     reference's own fallback guarantees exact results whenever the
  *     probed bucket holds < k candidates (src/index.rs:158-173), which
  *     at 16 planes is every bucket at these scales;
  *   - `hnsw_self_recall` pins the invariant the reference's tests pin
  *     (self-query ranks itself #1, tests/integration_tests.rs:247-273)
  *     with a constant-valued oracle;
  *   - bucket/degree stats are declared without oracle (rows-only gate).
  */
object IndexQueries extends QueryRegistry {
  import Tables._
  import OracleFrag._

  private def firstVec(df: DataFrame): Array[Float] =
    df.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0).toArray

  /** The first `n` embeddings in vec_id order — the data-dependent
    * centroids, codebook seeds and planes of the SQL-replayable index
    * stores. */
  private def headVectors(emb: DataFrame, n: Int): Array[Array[Float]] =
    emb.filter(col("vec_id") < n).orderBy(col("vec_id"))
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)

  /** The first 8 embeddings as IVF centroids, cell id = rank. */
  private def headCentroids(emb: DataFrame): Array[(Int, Array[Double])] =
    headVectors(emb, 8).zipWithIndex.map { case (v, i) => (i, v.map(_.toDouble)) }

  /** `emb` assigned to the [[headCentroids]] cells: (vec_id, embedding,
    * cell), beside the index and its centroids. Spread before
    * assigning: argmin over 8 centroids is an interpreted HOF fold, and
    * the single-row-group scan would run it on one core of 32. */
  private def headCells(s: SparkSession, emb: DataFrame)
      : (Ivf, Array[(Int, Array[Double])], DataFrame) = {
    val ivf = new Ivf(nlist = 8, iters = 0)
    val cents = headCentroids(emb)
    (ivf, cents, emb.repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding"),
        ivf.assignExpr(col("embedding"), cents).as("cell")))
  }

  /** The PQ recall queries' query set: the first five embeddings as
    * (query_id, qe). */
  private def pqQueries(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))

  /** [[pqQueries]] on the driver, in query order. */
  private def pqQueryRows(emb: DataFrame): Array[(Long, Array[Float])] =
    pqQueries(emb).orderBy(col("query_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  /** Each query's ranked vec_ids as one `out` list: (query_id, out). */
  private def rankedIds(ranked: DataFrame, out: String): DataFrame =
    TopK.ids(ranked, Seq(col("query_id")), "vec_id", out = out)

  /** The ADC top-`n` of each of `qrows` over `codes`: ONE q-keyed job
    * over ONE codes scan (a broadcast table + per-query top-k, not a
    * union of per-query plans; ties by adc ASC, vec_id ASC). */
  private def adcTopPerQuery(pq: Pq, books: Array[Array[Array[Double]]], codes: DataFrame,
      qrows: Array[(Long, Array[Float])], n: Int): DataFrame =
    pq.adcTopKMulti(codes, qrows.map { case (qid, qv) => (qid, pq.adcTable(qv, books)) }.toSeq, n)

  /** The ADC top-50 shortlist of each [[pqQueries]] row, exact-reranked
    * by NegEuclidean to its top 10: (query_id, vec_id, score, rank). */
  private def pqReranked(emb: DataFrame, pq: Pq, books: Array[Array[Array[Double]]],
      codes: DataFrame, qrows: Array[(Long, Array[Float])]): DataFrame =
    TopK.per(
      adcTopPerQuery(pq, books, codes, qrows, 50)
        .select(col("query_id"), col("vec_id"))
        .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
        .join(broadcast(pqQueries(emb)), "query_id")
        .select(col("query_id"), col("vec_id"),
          Knn.stableScore(Knn.NegEuclidean.score(col("embedding"), col("qe")))
            .as("score")),
      Seq(col("query_id")), Knn.byScore(), 10)

  // Durable build-once/query-many artifacts (the reference's
  // build→save→load→probe contract, vector_db/src/binary_index.rs:29-60):
  // each index is BUILT to disk once per (session, data dir) and every
  // declared probe reads the PERSISTED artifact — bucket/cluster-
  // partitioned parquet whose probe filters become partition pruning
  // (pinned in PlanSpec), or the kwi point-read file for HNSW serving —
  // never an in-memory memo of the corpus. target/ keeps the artifacts
  // inside the repo tree and outside version control.
  // build artifacts land via the ONE shared layout rule, Tables.buildPath

  /** Plane count of the declared LSH store — lsh_bucket_stats derives
    * its ≤ 2^planes bucket-count invariant from this same constant, so
    * retuning the store can never silently stale the audit bound. */
  private val LshStorePlanes = 16

  /** Persisted LSH index + its bucket histogram. The histogram is the
    * index HEAD (≤ min(n, 2^planes) entries) and answers every probe's
    * &lt; k fallback decision without a count() job. */
  private def lshStore(s: SparkSession, dir: String): (DataFrame, Map[Long, Long]) =
    SharedBuilds.of(s, dir, "lsh16-store") {
      val lsh = new Lsh(numPlanes = LshStorePlanes, seed = 42L)
      val path = buildPath(dir, "lsh16")
      lsh.build(embeddings(s, dir), path)
      val idx = s.read.parquet(path)
      // the histogram comes from the in-memory assignment frame, not a
      // read-back of the store: build() writes that exact frame
      // losslessly, and at 16 planes the store is one tiny file per
      // populated bucket — a full read-back scan pays per-file open
      // cost ~|buckets| times for identical counts (the read-back
      // histogram was ~1/3 of this store's 33 s first-touch cost).
      // Probes still read the WRITTEN store (partition-pruned), and
      // lsh_bucket_stats still audits the store read-back directly.
      // SINGLE-WRITER assumption: histogram ≡ store
      // holds because this memo thunk is the lsh16 path's ONLY writer
      // (build-once, mode overwrite). Any future append/compact path
      // onto THIS store must recompute the histogram from the store —
      // a drifted histogram silently desyncs the < k fallback
      // decisions from store contents.
      (idx, lsh.bucketHistogram(lsh.index(embeddings(s, dir))))
    }
  /** Plane count of the append-audit LSH store (2^4 = 16 buckets). */
  private[graft] val LshAppendPlanes = 4

  /** The data-plane Lsh instance + half split shared by the append and
    * compact maintenance stores and the streaming append replay — ONE
    * copy of the plane-selection rule, so the three audits that share
    * lshMaintenanceOracle can never drift apart on it. Planes are
    * DATA-DEPENDENT (the first 4 embeddings — the lshDataStore
    * precedent), which makes every bucket key
    * SQL-replayable: the audits over these stores are CONTENT-checked
    * by a full DuckDB re-assignment, not merely invariant-checked.
    * Returns (lsh, half, embeddings frame). */
  private[graft] def dataPlanesLsh(s: SparkSession, dir: String): (Lsh, Long, DataFrame) = {
    val emb = embeddings(s, dir)
    val half = emb.count() / 2
    val planes = headVectors(emb, LshAppendPlanes).map(_.map(_.toDouble))
    (new Lsh(numPlanes = LshAppendPlanes, seed = 42L,
      explicitPlanes = Some(planes)), half, emb)
  }

  /** Incremental-maintenance twin for the LSH store: the data planes
    * are frozen at build time, so the second half of the corpus arrives
    * as a batch APPEND — one map-only signature pass, partition-local
    * file adds into the bucket-partitioned store, zero touches of the
    * existing rows; the append code path is the same frozen-matrix
    * `Lsh.append` the seeded store uses. Returns (half, merged index). */
  private def lshAppendStore(s: SparkSession, dir: String): (Long, DataFrame) =
    SharedBuilds.of(s, dir, "lsh-append-store") {
      val (lsh, half, emb) = dataPlanesLsh(s, dir)
      val path = buildPath(dir, "lsh4-app")
      lsh.build(emb.filter(col("vec_id") < half), path)
      lsh.append(path, emb.filter(col("vec_id") >= half))
      (half, s.read.parquet(path))
    }

  /** Maintenance-lifecycle store: data-plane build on the first half,
    * the rest appended in THREE batches (so buckets accumulate several
    * small partition-local files — the state a long-lived index is
    * actually in), then `Lsh.compact` rewrites it clustered (one file
    * per bucket, staged + atomically swapped). The audit over the
    * compacted store runs the SAME content check as lsh_append_audit:
    * compaction must be a pure layout change, bit-preserving every
    * (vec_id, bucket) row — any dropped file, duplicated row, or
    * re-assigned bucket lands in the id-weighted sum and hash-fails. */
  private def lshCompactStore(s: SparkSession, dir: String): (Long, DataFrame) =
    SharedBuilds.of(s, dir, "lsh-compact-store") {
      val (lsh, half, emb) = dataPlanesLsh(s, dir)
      val path = buildPath(dir, "lsh4-compact")
      lsh.build(emb.filter(col("vec_id") < half), path)
      val third = (emb.count() - half) / 3 + 1
      (0L until 3L).foreach { i =>
        lsh.append(path, emb.filter(col("vec_id") >= half + i * third &&
          col("vec_id") < half + (i + 1) * third))
      }
      Lsh.compact(s, path)
      (half, s.read.parquet(path))
    }

  /** PQ maintenance store: codes built on the first half against the
    * SAME frozen seed codebooks as pqStore (the seed vectors live in
    * the first half), then the second half appended with Pq.append.
    * Because encoding is deterministic in (vector, books), the merged
    * store must be ROW-IDENTICAL to a from-scratch encode of the whole
    * corpus — which makes this the strongest of the three append
    * audits (IVF/LSH verify invariants; pq_append_audit verifies
    * CONTENT against a full DuckDB re-encode). */
  private def pqAppendStore(s: SparkSession, dir: String): (Long, DataFrame) =
    SharedBuilds.of(s, dir, "pq-append-store") {
      val emb = embeddings(s, dir)
      val half = emb.count() / 2
      val (pq, books, codes) = pqStore(s, dir)
      val path = buildPath(dir, "pq4x16-app")
      // base half: REUSE the already-encoded pqStore codes (same books,
      // same deterministic encode) instead of paying the expression
      // pass twice; only the appended half encodes here
      codes.filter(col("vec_id") < half)
        .write.mode("overwrite").parquet(path)
      pq.append(path, emb.filter(col("vec_id") >= half)
        .repartition(s.sparkContext.defaultParallelism), books)
      (half, s.read.parquet(path))
    }

  /** Declared HNSW build: FULL corpus, LSH-blocked candidate pairs
    * (multi-probe 1-bit expansion keeps the graph connected — see
    * Hnsw.buildAdjacency).
    * 3 planes → 8 buckets: coarse enough that the blocked graph keeps
    * good edges near every node, fine enough that the blocked join is
    * Σ|bucket|², not n² — the knob tightens with corpus size. Serve
    * beam ef=1024: on the blocked graph the walk needs a wider frontier
    * than the reference's ef=32 default — measured recall@10 vs brute
    * force (hnsw_recall_audit) is 50/50 across sf0.001–0.1 at ef=1024
    * (40/50 at ef=256 on sf0.1), and ~1k
    * LRU-cached point reads per query is still trivial serve-time work.
    * Package-visible so PlanSpec can pin that the built plan joins on
    * the bucket key (no unblocked per-level self-join). */
  private[graft] def declaredHnsw = new Hnsw(m = 16, ef = 1024, seed = 42L)
  private[graft] def hnswBuildPlan(s: SparkSession, dir: String): DataFrame =
    declaredHnsw.buildAdjacency(embeddings(s, dir),
      blocker = new Lsh(numPlanes = 3, seed = 42L))
  /** Base-half build + O(batch) append of the second half (the
    * Hnsw.appendAdjacency tier), memoized like every other index
    * artifact. The declared blocker matches hnswBuildPlan's, so the
    * appended store is content-comparable with the full rebuild. */
  private def hnswAppendedAdjacency(s: SparkSession, dir: String): DataFrame =
    SharedBuilds.of(s, dir, "hnsw-appended") {
      val emb = embeddings(s, dir)
      val n = emb.count()
      val base = emb.filter(col("vec_id") < n / 2)
      val batch = emb.filter(col("vec_id") >= n / 2)
      val blocker = new Lsh(numPlanes = 3, seed = 42L)
      val built = declaredHnsw.buildAdjacency(base, blocker = blocker)
        .cut()
      declaredHnsw.appendAdjacency(built, base, batch, blocker = blocker)
        .cut()
    }

  private def hnswAdjacency(s: SparkSession, dir: String): DataFrame =
    SharedBuilds.of(s, dir, "hnsw-lsh3") {
      // durable adjacency, partitioned by level: a serving tier can load
      // one level's edges without scanning the rest
      val path = buildPath(dir, "hnsw-adj")
      hnswBuildPlan(s, dir)
        .write.mode("overwrite").partitionBy("level").parquet(path)
      s.read.parquet(path)
    }

  /** HNSW serve head: FULLY PAGED — both the vectors and the GRAPH live
    * in kwi offset-table files and arrive through LRU-cached point
    * reads (`IndexedReader.get` seeks, no Spark job per miss), never a
    * collect of the whole adjacency (n×M edge ids on the driver): a
    * walk pays O(visited) neighbor-page seeks and
    * driver-resident state is the two LRU caches, independent of n.
    * `Hnsw.collectAdjacency` remains as the tiny-corpus convenience
    * tier only. */
  private[graft] def hnswServe(s: SparkSession, dir: String)
      : (Hnsw.CachingAdjacency, (Long, Int), Hnsw.CachingFetch) =
    SharedBuilds.of(s, dir, "hnsw-serve") {
      val adjacency = hnswAdjacency(s, dir)
      val entry = declaredHnsw.entryPoint(adjacency)
      val pagesPath = buildPath(dir, "hnsw-adj-pages") + ".kwi"
      graft.sources.KwiFormat.write(Hnsw.adjacencyPages(adjacency), pagesPath)
      val pages = SharedBuilds.registerCloseable(
        s, new graft.sources.KwiFormat.IndexedReader(pagesPath))
      val adj = new Hnsw.CachingAdjacency({ case (node, level) =>
        pages.get(s"$node:$level")
          .map(r => Hnsw.decodeNeighbors(r._2)).getOrElse(Seq.empty)
      })
      val kwiPath = buildPath(dir, "hnsw-vectors") + ".kwi"
      graft.sources.KwiFormat.write(
        embeddings(s, dir).select(
          col("vec_id").cast("string").as("id"), col("embedding")),
        kwiPath)
      val reader = SharedBuilds.registerCloseable(
        s, new graft.sources.KwiFormat.IndexedReader(kwiPath))
      val fetch = new Hnsw.CachingFetch(id => reader.get(id.toString).map(_._2))
      (adj, entry, fetch)
    }

  /** Persisted DATA-DEPENDENT IVF assignment (centroids = the first 8
    * embeddings, no Lloyd rounds): the whole build is SQL-replayable,
    * so the PRUNED probe below is hash-verified end-to-end — unlike
    * ivf_knn (full probe ⇒ exact) and lsh_knn (fallback ⇒ exact), this
    * one executes real nprobe/nlist partition pruning with the VALUES
    * checked, not just an invariant. */
  private def ivfDataStore(s: SparkSession, dir: String): (Array[(Int, Array[Double])], DataFrame) =
    SharedBuilds.of(s, dir, "ivf8-data-store") {
      val emb = embeddings(s, dir)
      val cents = headCentroids(emb)
      val ivf = new Ivf(nlist = 8, iters = 0)
      // spread before assigning (interpreted argmin HOF over a
      // single-row-group scan — same reasoning as ivf_cell_join)
      val assigned = emb.repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"), col("embedding"),
          ivf.assignExpr(col("embedding"), cents).as("cluster"))
      val path = buildPath(dir, "ivf8-data")
      assigned.write.mode("overwrite").partitionBy("cluster").parquet(path)
      (cents, s.read.parquet(path))
    }

  /** Persisted sign-LSH index over the [[dataPlanesLsh]] planes (the
    * first 4 embeddings) — SQL-replayable bucket keys, so the pruned
    * single-bucket probe is hash-verified. */
  private def lshDataStore(s: SparkSession, dir: String): (Lsh, DataFrame) =
    SharedBuilds.of(s, dir, "lsh4-data-store") {
      val (lsh, _, emb) = dataPlanesLsh(s, dir)
      val path = buildPath(dir, "lsh4-data")
      lsh.build(emb, path)
      (lsh, s.read.parquet(path))
    }

  /** Persisted PQ codes table (the COMPRESSED index: 4 int codes per
    * row instead of 64 floats — the artifact a petabyte corpus keeps
    * hot). Codebooks are DATA-DEPENDENT (subspace slices of the first
    * 16 embeddings, no Lloyd rounds), so encoding and ADC scores are
    * SQL-replayable end-to-end. encode is interpreted-HOF work, so
    * spread it across cores like the other build passes. */
  private def pqStore(s: SparkSession, dir: String)
      : (Pq, Array[Array[Array[Double]]], DataFrame) =
    SharedBuilds.of(s, dir, "pq4x16-store") {
      val emb = embeddings(s, dir)
      val pq = new Pq(m = 4)
      val seed = headVectors(emb, 16)
      val books = pq.codebooksFromSeed(seed)
      val path = buildPath(dir, "pq4x16")
      emb.repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"), pq.encodeExpr(col("embedding"), books).as("codes"))
        .write.mode("overwrite").parquet(path)
      (pq, books, s.read.parquet(path))
    }

  /** Seed + TRAINED codebooks at the declared PQ shape (m=4, ksub=16,
    * one fused Lloyd round — PqSpec measures 0.66 → 0.76 mean recall).
    * Training is deterministic (left-to-right double sums, fixed
    * iters) but not SQL-replayable, so pq_trained_recall audits it
    * with the sketch-oracle pattern: exact DuckDB-replayed totals for
    * the seed side, must-be-true booleans for the trained side. */
  private def pqTrainedBooks(s: SparkSession, dir: String)
      : (Pq, Array[Array[Array[Double]]], Array[Array[Array[Double]]]) =
    SharedBuilds.of(s, dir, "pq-trained-books") {
      val emb = embeddings(s, dir)
      val pq = new Pq(m = 4)
      val seed = headVectors(emb, 16)
      (pq, pq.codebooksFromSeed(seed), pq.train(emb, seed, iters = 1))
    }

  /** Persisted CODES tables for both book sets of the trained-PQ audit,
    * memoized like every index store: encoding
    * the corpus against a frozen codebook is the index BUILD — the
    * pqStore precedent ("the artifact a petabyte corpus keeps hot") —
    * so the audit's recurring cost is the ADC shortlist + exact rerank,
    * not a per-invocation re-encode of every vector under two book
    * sets. Returns (seed codes, trained codes), both lineage-cut. */
  private def pqTrainedCodes(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    SharedBuilds.of(s, dir, "pq-trained-codes") {
      val emb = embeddings(s, dir)
      val (pq, seedBooks, trainedBooks) = pqTrainedBooks(s, dir)
      def codesOf(b: Array[Array[Array[Double]]]): DataFrame =
        graft.operators.Cuts.cut(emb.select(col("vec_id"),
          pq.encodeExpr(col("embedding"), b).as("codes")))
      (codesOf(seedBooks), codesOf(trainedBooks))
    }

  /** Persisted IVF-PQ index — THE canonical petabyte ANN layout
    * (coarse cell partitioning × compressed residency): one row per
    * vector holding its cluster (partition column) and its 4 PQ codes,
    * nothing else. A probe prunes to nprobe/nlist of the partitions
    * and reads m ints per vector. Both stages use data-dependent
    * parameters (first-8 centroids, first-16 codebook seeds), so cell
    * choice, pruning, and ADC values all replay in SQL. */
  private def ivfPqStore(s: SparkSession, dir: String)
      : (Array[(Int, Array[Double])], Pq, Array[Array[Array[Double]]], DataFrame) =
    SharedBuilds.of(s, dir, "ivfpq-store") {
      val emb = embeddings(s, dir)
      val cents = headCentroids(emb)
      val pq = new Pq(m = 4)
      val seed = headVectors(emb, 16)
      val books = pq.codebooksFromSeed(seed)
      val ivf = new Ivf(nlist = 8, iters = 0)
      val path = buildPath(dir, "ivfpq")
      emb.repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"),
          pq.encodeExpr(col("embedding"), books).as("codes"),
          ivf.assignExpr(col("embedding"), cents).as("cluster"))
        .write.mode("overwrite").partitionBy("cluster").parquet(path)
      (cents, pq, books, s.read.parquet(path))
    }

  /** Persisted RESIDUAL IVF-PQ index (the standard composition, Jégou
    * et al. 2011 §IV: quantize `embedding − centroid[cluster]`, not the
    * raw vector — inside a tight cell the residual spread is far
    * smaller than the corpus spread, so the same m×ksub codebook
    * budget buys less ADC error). Codebooks are the residuals of the
    * first 16 embeddings w.r.t. their OWN cells, so every stage —
    * cell assignment, residual, codes, per-cell query tables — replays
    * in SQL and the probe values are hash-checked. Layout identical to
    * ivfPqStore: cluster partition column + m int codes per row. */
  private def ivfPqResStore(s: SparkSession, dir: String)
      : (Array[(Int, Array[Double])], Pq, Array[Array[Array[Double]]], DataFrame) =
    SharedBuilds.of(s, dir, "ivfpq-res-store") {
      val emb = embeddings(s, dir)
      val cents = headCentroids(emb)
      val pq = new Pq(m = 4)
      val ivf = new Ivf(nlist = 8, iters = 0)
      val seedRows = headVectors(emb, 16)
      val seedRes: Array[Array[Double]] = seedRows.map { v =>
        val (_, c) = Ivf.nearestCells(v, cents, 1).head
        Array.tabulate(v.length)(i => v(i).toDouble - c(i))
      }
      val books = pq.codebooksFromSeedD(seedRes)
      val path = buildPath(dir, "ivfpq-res")
      emb.repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"), col("embedding"),
          ivf.assignExpr(col("embedding"), cents).as("cluster"))
        .select(col("vec_id"),
          pq.encodeExpr(
            ivf.residualExpr(col("embedding"), cents, col("cluster")), books)
            .as("codes"),
          col("cluster"))
        .write.mode("overwrite").partitionBy("cluster").parquet(path)
      (cents, pq, books, s.read.parquet(path))
    }

  /** Banded sign-LSH pair table (a, b, cos ≥ 0.3) shared by
    * lsh_similarity_join (full listing) and embedding_near_dup
    * (top-20) — the same build-once/probe-many contract as the index
    * stores: one banded candidate join feeds both declared consumers
    * (Cuts-cut-backed, reclaimed with the session). */
  private def bandedPairs(s: SparkSession, dir: String): DataFrame =
    SharedBuilds.of(s, dir, "banded-pairs-16x4") {
      graft.operators.Dedup.lshEmbeddingPairs(
        embeddings(s, dir), nPlanes = 16, bandBits = 4, threshold = 0.3)
        .cut()
    }

  private def ivfStore(s: SparkSession, dir: String): (Array[(Int, Array[Double])], DataFrame) =
    SharedBuilds.of(s, dir, "ivf8x2-store") {
      val (cents, assigned) = new Ivf(nlist = 8, iters = 2).build(embeddings(s, dir))
      // cluster-partitioned parquet: a probe's `cluster IN (...)` filter
      // prunes to nprobe/nlist of the files (pinned in PlanSpec)
      val path = buildPath(dir, "ivf8x2")
      assigned.write.mode("overwrite").partitionBy("cluster").parquet(path)
      (cents, s.read.parquet(path))
    }

  /** Incremental-maintenance store: the base half is assigned and
    * written against frozen centroids, then the second half arrives as
    * a batch APPEND via `Ivf.append` — one map-only assignment pass,
    * partition-local file adds, zero touches of the existing rows.
    * The centroids are DATA-DEPENDENT (the first 8
    * embeddings, no Lloyd rounds — the ivf_cell_join precedent), so
    * cell assignment is SQL-replayable and the audit over this store is
    * CONTENT-checked by a full DuckDB re-assignment (the Lloyd-trained
    * probe path keeps its own stores; this one audits MAINTENANCE).
    * Returns (half, merged index). */
  private def ivfAppendStore(s: SparkSession, dir: String): (Long, DataFrame) =
    SharedBuilds.of(s, dir, "ivf-append-store") {
      val emb = embeddings(s, dir)
      val half = emb.count() / 2
      val ivf = new Ivf(nlist = 8, iters = 0)
      val cents = headCentroids(emb)
      val path = buildPath(dir, "ivf8-app")
      emb.filter(col("vec_id") < half)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"), col("embedding"),
          ivf.assignExpr(col("embedding"), cents).as("cluster"))
        .write.mode("overwrite").partitionBy("cluster").parquet(path)
      ivf.append(path, emb.filter(col("vec_id") >= half), cents)
      (half, s.read.parquet(path))
    }

  /** The IVF maintenance-audit frame over a (half, merged store) pair.
    * Extracted so a test can run it over a DELIBERATELY corrupted store
    * and watch the booleans flip. `cell_weight_sum` = Σ cell·(vec_id+1)
    * binds every row's cell to its id: a dropped, duplicated, or
    * re-assigned row changes the integer (replayed from scratch by the
    * DuckDB oracle). No invariant is a literal — `ids_unique` and
    * `n_cells_ok` are derived from the store on the Spark side and from
    * the source table + re-assignment on the oracle side. */
  private[graft] def ivfAppendAudit(half: Long, idx: DataFrame): DataFrame =
    idx.agg(
        count(lit(1)).as("total"),
        countDistinct(col("vec_id")).as("nd"),
        sum(when(col("vec_id") < half, 1L).otherwise(0L)).as("nb"),
        countDistinct(col("cluster")).as("nc"),
        sum(col("cluster").cast("long") * (col("vec_id") + 1L)).as("cw"))
      .select(col("total").cast("long").as("total_vectors"),
        col("nb").cast("long").as("n_base"),
        (col("total") - col("nb")).cast("long").as("n_appended"),
        (col("nd") === col("total")).as("ids_unique"),
        (col("nc") >= 1 && col("nc") <= 8).as("n_cells_ok"),
        col("cw").cast("long").as("cell_weight_sum"))

  /** LSH twin of `ivfAppendAudit`: id-weighted bucket sum plus the
    * derived 2^planes range bound, both replayed from scratch by the
    * oracle via the data-dependent plane matrix. */
  private[graft] def lshAppendAudit(half: Long, idx: DataFrame): DataFrame =
    idx.agg(
        count(lit(1)).as("total"),
        countDistinct(col("vec_id")).as("nd"),
        sum(when(col("vec_id") < half, 1L).otherwise(0L)).as("nb"),
        min(col("bucket").cast("long")).as("mnb"),
        max(col("bucket").cast("long")).as("mxb"),
        sum(col("bucket").cast("long") * (col("vec_id") + 1L)).as("bw"))
      .select(col("total").cast("long").as("total_vectors"),
        col("nb").cast("long").as("n_base"),
        (col("total") - col("nb")).cast("long").as("n_appended"),
        (col("nd") === col("total")).as("ids_unique"),
        (col("mnb") >= 0L && col("mxb") < lit(1L << LshAppendPlanes))
          .as("buckets_in_range"),
        col("bw").cast("long").as("bucket_weight_sum"))

  /** The shared maintenance oracle: a from-scratch DuckDB re-assignment
    * of every bucket signature (data-dependent planes) with derived
    * invariants and the id-weighted content sum — an appended store and
    * its compacted rewrite must both hash-match it. */
  private[graft] def lshMaintenanceOracle: String =
    s"""WITH ${lshKeys(LshAppendPlanes)},
       |n AS (SELECT count(*) AS cnt, count(DISTINCT vec_id) AS dt FROM embeddings)
       |SELECT CAST(cnt AS BIGINT) AS total_vectors,
       |       CAST((SELECT count(*) FROM embeddings WHERE vec_id < cnt // 2) AS BIGINT) AS n_base,
       |       CAST(cnt - (SELECT count(*) FROM embeddings WHERE vec_id < cnt // 2) AS BIGINT) AS n_appended,
       |       dt = cnt AS ids_unique,
       |       (SELECT min(bucket) >= 0 AND max(bucket) < ${1 << LshAppendPlanes} FROM keys) AS buckets_in_range,
       |       CAST((SELECT sum(bucket * (vec_id + 1)) FROM keys) AS BIGINT) AS bucket_weight_sum
       |FROM n""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // probe the PERSISTED bucket-partitioned index; the bucket
    // histogram answers the < k fallback check, so the probe is a
    // single job (no count() pre-pass)
    "lsh_knn" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val lsh = new Lsh(numPlanes = LshStorePlanes, seed = 42L)
      val (idx, hist) = lshStore(s, dir)
      lsh.query(s, idx, firstVec(emb), 10, bucketSizes = Some(hist))
    }),

    // multi-probe: query bucket + all 1-bit flips; at this scale the
    // probed buckets still under-fill, so the reference-faithful < k
    // fallback fires and the result is exact (same oracle as brute).
    "lsh_multiprobe_knn" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val lsh = new Lsh(numPlanes = LshStorePlanes, seed = 42L)
      val (idx, hist) = lshStore(s, dir)
      lsh.queryMultiProbe(s, idx, firstVec(emb), 10, bucketSizes = Some(hist))
    }),

    // precision@10 of the euclidean top-10 against the cosine top-20
    // (Metrics.precisionAtK, utils.rs:81-96). Rankings come from
    // Knn.topKPerQuery (a per-query top-k kept on the map side, so the
    // shuffle carries q×k rows per partition, not q×n).
    "precision_euclid_in_cos20" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      def ids(metric: Knn.Metric, k: Int, out: String): DataFrame =
        rankedIds(Knn.topKPerQuery(emb, qs, k, metric), out)
      val cos = ids(Knn.Cosine, 20, "cos_ids")
      val euc = ids(Knn.NegEuclidean, 10, "euc_ids")
      cos.join(euc, Seq("query_id"))
        .select(col("query_id"),
          round(Metrics.precisionAtK(col("cos_ids"), col("euc_ids"), 10), 6).as("precision"))
        .orderBy(col("query_id"))
    }),

    // Index-health audit, oracle-checked:
    // the PRNG plane draw itself isn't SQL-replayable, but the audit
    // facts are — n_vectors must equal the exact corpus count (the
    // build dropped/duplicated nothing), and the bucket/max bounds are
    // contract invariants surfaced as booleans (the sketch-oracle
    // pattern: estimate-side facts reduced to DuckDB-checkable values).
    "lsh_bucket_stats" -> ((s, dir) => {
      lshStore(s, dir)._1
        .groupBy(col("bucket")).agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("nb"), max(col("sz")).as("mx"),
          sum(col("sz")).as("tv"))
        .select(col("tv").cast("long").as("n_vectors"),
          (col("nb") >= 1 &&
            col("nb") <= least(lit(1L << LshStorePlanes), col("tv")))
            .as("n_buckets_ok"),
          (col("mx") >= 1 && col("mx") <= col("tv")).as("max_bucket_ok"))
    }),

    "hnsw_self_recall" -> ((s, dir) => {
      val hnsw = declaredHnsw
      val (adj, entry, fetch) = hnswServe(s, dir)
      val hits = (0L until 5L).map { qid =>
        val top = hnsw.serveQuery(adj, fetch, entry, fetch(qid).get, 1)
        (qid, if (top.headOption.exists(_._1 == qid)) 1L else 0L)
      }
      import s.implicits._
      hits.toDF("query_id", "hit").orderBy(col("query_id"))
    }),

    // Serve-QUALITY audit: recall@10 of the paged walk (kwi neighbor
    // pages + LRU, the production serving head) against the exact
    // brute-force cosine top-10, per declared query. Self-recall rank-1
    // only proves the query point survives its own walk; this measures
    // whether the LSH-blocked graph actually retrieves the true
    // neighborhood (the reference idiom of
    // tests/integration_tests.rs:247-273, done at k=10). The walk isn't
    // SQL-replayable (seeded planes + xxhash levels), so the oracle is
    // the sketch-oracle pattern: the exact side (n_exact per query) is
    // fully DuckDB-recomputed, the walk side is reduced to per-query hit
    // counts pinned as must-be-true booleans — recall@10 ≥ 0.9 per
    // query. Measured 10/10 on every query at sf0.001–0.1 with ef=1024
    // (the bar leaves one-miss headroom); ef=256 scored 5/10 on one
    // sf0.1 query, which is what drove the beam to 1024.
    "hnsw_recall_audit" -> ((s, dir) => {
      val hnsw = declaredHnsw
      val (adj, entry, fetch) = hnswServe(s, dir)
      val emb = embeddings(s, dir)
      import s.implicits._
      val walk = (0L until 5L).flatMap { qid =>
        hnsw.serveQuery(adj, fetch, entry, fetch(qid).get, 10)
          .map { case (id, _) => (qid, id) }
      }.toDF("query_id", "vec_id")
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val exact = Knn.topKPerQuery(emb, qs, 10, Knn.Cosine)
        .select(col("query_id"), col("vec_id"))
      val exactN = exact.groupBy(col("query_id"))
        .agg(count(lit(1)).cast("long").as("n_exact"))
      val hits = walk.join(exact, Seq("query_id", "vec_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("h"))
      // left join on the SQL-replayable query set so an (impossible
      // today, but audit-honest) zero-hit walk still emits its row
      exactN.join(hits, Seq("query_id"), "left")
        .select(col("query_id"), col("n_exact"),
          (coalesce(col("h"), lit(0L)).cast("double") /
            col("n_exact").cast("double") >= 0.9).as("recall_ok"))
        .orderBy(col("query_id"))
    }),

    // Graph-structure audit, oracle-checked: per-level populations
    // hang off the xxhash level draw (not SQL-replayable), but the
    // structural contract is — level 0
    // must hold EVERY corpus node (exact count, DuckDB-replayable),
    // degrees are pruned to <= M at every level, and level populations
    // are non-increasing (a node at level L occupies all of 0..L).
    // HNSW O(batch) append audit — the pq_append_audit discipline on
    // the graph tier: the base-half build + appended second half must
    // be CONTENT-IDENTICAL to the from-scratch full rebuild (levels
    // and LSH buckets are build-order-independent pure functions, and
    // the merge prune provably re-derives every rebuild row — see
    // Hnsw.appendAdjacency). Counts derive from the corpus; the
    // equality and degree booleans are computed over the two real
    // adjacency frames, so a drifted append hash-fails against the
    // oracle's expected-true row. Levels use xxhash64, so a full SQL
    // replay is impossible (the hnsw_degree_stats precedent) — the
    // equality computation in-engine is the strongest available gate.
    "hnsw_append_audit" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val n = emb.count()
      val appended = hnswAppendedAdjacency(s, dir)
      val rebuilt = hnswAdjacency(s, dir)
      val totals = emb.agg(count(lit(1)).as("total_vectors"),
        sum(when(col("vec_id") < n / 2, 1L).otherwise(0L)).as("n_base"),
        sum(when(col("vec_id") >= n / 2, 1L).otherwise(0L)).as("n_appended"))
      // align column ORDER and the partition column's read-back type
      // before exceptAll (positional): the rebuilt side round-trips
      // through level-partitioned parquet, which moves `level` last
      def canon(df: DataFrame): DataFrame = df.select(col("node_id"),
        col("level").cast("int"), col("neighbor_id"), col("dist"))
      val eq = canon(appended).exceptAll(canon(rebuilt))
        .union(canon(rebuilt).exceptAll(canon(appended)))
        .agg((count(lit(1)) === 0L).as("appended_equals_rebuild"))
      val deg = appended
        .groupBy(col("node_id"), col("level")).agg(count(lit(1)).as("d"))
        .agg(bool_and(col("d") <= lit(declaredHnsw.m.toLong)).as("degree_le_m"))
      totals.crossJoin(eq).crossJoin(deg)
    }),

    "hnsw_degree_stats" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val perLevel = hnswAdjacency(s, dir)
        .groupBy(col("node_id"), col("level"))
        .agg(count(lit(1)).as("degree"))
        .groupBy(col("level"))
        .agg(count(lit(1)).as("n_nodes"), max(col("degree")).as("max_degree"))
      perLevel
        .withColumn("prev", lag(col("n_nodes"), 1).over(Window.orderBy(col("level"))))
        .agg(
          sum(when(col("level") === 0, col("n_nodes")).otherwise(lit(0L)))
            .cast("long").as("n_level0_nodes"),
          bool_and(col("max_degree") <= lit(declaredHnsw.m.toLong)).as("degree_le_m"),
          bool_and(col("prev").isNull || col("n_nodes") <= col("prev"))
            .as("levels_monotone"))
    }),

    // IVF full-probe: probing every cell is exactly brute force (same
    // guarantee shape as the LSH fallback), so the whole build+probe
    // pipeline is oracle-checked against the exact SQL.
    "ivf_knn" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val ivf = new Ivf(nlist = 8, iters = 2)
      val (cents, assigned) = ivfStore(s, dir)
      ivf.query(assigned, cents, firstVec(emb), 10, nprobe = 8)
    }),

    // PRUNED IVF probe, values hash-verified: data-dependent centroids
    // make cell assignment AND the nearest-2-cell pruning replayable in
    // SQL; the probe scan reads 2 of 8 cluster partitions of the
    // persisted assignment (PartitionFilters pinned in PlanSpec). This
    // is the probe shape that reads nprobe/nlist of a 100 TB index.
    "ivf_pruned_knn" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val (cents, assigned) = ivfDataStore(s, dir)
      new Ivf(nlist = 8, iters = 0)
        .query(assigned, cents, firstVec(emb), 10, nprobe = 2)
    }),

    // Multi-query PRUNED IVF probe — the many-query serving shape of
    // the uncompressed tier: each of the 5 queries probes its own
    // nearest-2 cells (driver-side from the centroid head,
    // SQL-replayable), the single scan prunes to the UNION of probed
    // partitions, a broadcast join hands each row only to the queries
    // whose probe set contains its cell (array_contains — no cross
    // product with non-probing queries), and the per-query top-k keeps
    // 10 per query on the map side so the shuffle carries q×k rows.
    "ivf_multi_knn" -> ((s, dir) => {
      import s.implicits._
      val emb = embeddings(s, dir)
      val (cents, assigned) = ivfDataStore(s, dir)
      val qrows = emb.filter(col("vec_id") < 5).orderBy(col("vec_id"))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      def probeOf(q: Seq[Float]): Seq[Int] =
        Ivf.nearestCells(q.toArray, cents, 2).map(_._1).toSeq
      val qdf = qrows.map { case (qid, qv) => (qid, qv, probeOf(qv)) }
        .toSeq.toDF("query_id", "qe", "cells")
      val allCells = qrows.flatMap(r => probeOf(r._2)).distinct.toSeq
      val scored = assigned.filter(col("cluster").isin(allCells: _*))
        .join(broadcast(qdf), array_contains(col("cells"), col("cluster")))
        .select(col("query_id"), col("vec_id"),
          Knn.stableScore(graft.functions.VectorOps
            .cosine(col("embedding"), col("qe"))).as("score"))
      TopK.per(scored, Seq(col("query_id")), Knn.byScore(), 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // PRUNED single-bucket LSH probe, values hash-verified via
    // data-dependent planes (no fallback at these scales: every
    // 4-plane bucket holds >= k vectors). One partition of the
    // persisted index is read — the (1/2^P)-of-the-corpus probe cost
    // the reference's bucket design promises (src/index.rs:109-120).
    "lsh_pruned_knn" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val (lsh, idx) = lshDataStore(s, dir)
      val q = firstVec(emb)
      Knn.topK(idx.filter(col("bucket") === lit(lsh.bucketOf(q))), q, 10, Knn.Cosine)
    }),

    // Index-maintenance audit, CONTENT-checked (the pq_append_audit
    // pattern): data-dependent centroids make the cell
    // assignment SQL-replayable, so beyond exact totals and id
    // uniqueness the oracle re-assigns every vector from scratch in
    // DuckDB and recomputes the id-weighted cell sum — a dropped batch,
    // double append, stale centroid, or re-assigned row lands in the
    // integer and hash-fails. Every boolean is DERIVED on both sides.
    "ivf_append_audit" -> ((s, dir) => {
      val (half, idx) = ivfAppendStore(s, dir)
      ivfAppendAudit(half, idx)
    }),

    // LSH append audit, mirroring ivf_append_audit and CONTENT-checked:
    // data-dependent planes make every bucket key
    // SQL-replayable, so the oracle recomputes all signatures from
    // scratch in DuckDB and checks the id-weighted bucket sum plus the
    // derived range bound — because the planes are frozen,
    // append-assigned buckets are IDENTICAL to a full-build's (pinned
    // in IndexSpec), so probes over the merged store stay correct
    // without any rebuild. Every boolean is DERIVED on both sides.
    "lsh_append_audit" -> ((s, dir) => {
      val (half, idx) = lshAppendStore(s, dir)
      lshAppendAudit(half, idx)
    }),

    // compaction audit: after build + 3 appends + clustered rewrite
    // (Lsh.compact), the store must hold the SAME content the append
    // audit's full DuckDB re-assignment derives — compaction is layout
    // only, and the shared oracle hash-verifies that
    "lsh_compact_audit" -> ((s, dir) => {
      val (half, idx) = lshCompactStore(s, dir)
      lshAppendAudit(half, idx)
    }),

    // PQ append audit — the strongest of the three: encoding is
    // deterministic in (vector, books), so beyond totals and id
    // uniqueness the audit replays the CONTENT of the merged store —
    // a position-weighted code sum that DuckDB recomputes from a full
    // from-scratch re-encode. Any drift between the append path and a
    // rebuild (stale books, dropped batch, double append, changed tie
    // order) lands in this integer and hash-fails.
    "pq_append_audit" -> ((s, dir) => {
      val (half, idx) = pqAppendStore(s, dir)
      idx.agg(
          count(lit(1)).as("total"),
          countDistinct(col("vec_id")).as("nd"),
          sum(when(col("vec_id") < half, 1L).otherwise(0L)).as("nb"),
          sum(aggregate(
            zip_with(col("codes"), sequence(lit(1), size(col("codes"))),
              (c, i) => c.cast("long") * i),
            lit(0L), (a, x) => a + x)).as("cw"))
        .select(col("total").cast("long").as("total_vectors"),
          col("nb").cast("long").as("n_base"),
          (col("total") - col("nb")).cast("long").as("n_appended"),
          (col("nd") === col("total")).as("ids_unique"),
          col("cw").cast("long").as("code_weight_sum"))
    }),

    "ivf_cell_sizes" -> ((s, dir) => {
      val (_, assigned) = ivfStore(s, dir)
      assigned.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
        .agg(sum(col("n")).as("tv"), count(lit(1)).as("nc"), min(col("n")).as("mn"))
        .select(col("tv").cast("long").as("total_vectors"),
          (col("nc") >= 1 && col("nc") <= 8).as("n_cells_ok"),
          (col("mn") >= 1).as("cells_nonempty"))
    }),

    // PQ/ADC probe, values hash-verified: one scan of the persisted
    // 4-codes-per-row table, the approximate distance is 4 lookups into
    // the broadcast query table (no vector math in the scan), top-k via
    // TakeOrderedAndProject — the compressed-domain probe shape that
    // reads m bytes per vector instead of 4d at 100 TB.
    "pq_adc_knn" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val (pq, books, codes) = pqStore(s, dir)
      val tab = pq.adcTable(firstVec(emb), books)
      codes.select(col("vec_id"),
          (round(pq.adcScoreExpr(col("codes"), tab), 6) + 0.0).as("adc_dist"))
        .orderBy(col("adc_dist").asc, col("vec_id").asc)
        .limit(10)
    }),

    // IVF-PQ probe, values hash-verified: nearest-2-of-8 cells chosen
    // driver-side from the centroid head (replayable), the scan prunes
    // to those 2 partitions of the codes parquet (PartitionFilters
    // pinned in PlanSpec) and reads 4 ints per surviving vector — the
    // nprobe/nlist × m-bytes-per-vector cost model of a petabyte ANN
    // serve tier, end to end.
    "ivfpq_knn" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val (cents, pq, books, idx) = ivfPqStore(s, dir)
      val q = firstVec(emb)
      val probe = Ivf.nearestCells(q, cents, 2).map(_._1)
      val tab = pq.adcTable(q, books)
      idx.filter(col("cluster").isin(probe: _*))
        .select(col("vec_id"),
          (round(pq.adcScoreExpr(col("codes"), tab), 6) + 0.0).as("adc_dist"))
        .orderBy(col("adc_dist").asc, col("vec_id").asc)
        .limit(10)
    }),

    // RESIDUAL IVF-PQ probe, values hash-verified: same nprobe/nlist ×
    // m-ints-per-row cost model as ivfpq_knn, but the codes quantize
    // per-cell residuals and the query gets ONE ADC table per probed
    // cell (from q − centroid[cell]) — the probe picks the right table
    // with a cluster-keyed CASE, still expression-only over the pruned
    // scan.
    "ivfpq_residual_knn" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val (cents, pq, books, idx) = ivfPqResStore(s, dir)
      val q = firstVec(emb)
      val probe = Ivf.nearestCells(q, cents, 2)
      val tabs = probe.map { case (cid, c) =>
        val qres = Array.tabulate(q.length)(i => q(i).toDouble - c(i))
        cid -> pq.adcTableD(qres, books)
      }
      val adc = tabs.tail.foldLeft(
        when(col("cluster") === tabs.head._1,
          pq.adcScoreExpr(col("codes"), tabs.head._2))) {
        case (acc, (cid, tab)) =>
          acc.when(col("cluster") === cid, pq.adcScoreExpr(col("codes"), tab))
      }
      idx.filter(col("cluster").isin(probe.map(_._1).toSeq: _*))
        .select(col("vec_id"), (round(adc, 6) + 0.0).as("adc_dist"))
        .orderBy(col("adc_dist").asc, col("vec_id").asc)
        .limit(10)
    }),

    // The full production PQ pipeline: ADC shortlist (50 per query,
    // compressed scan) → exact rerank of the shortlist only → recall@10
    // against the uncompressed exact top-10. Every stage is
    // SQL-replayable (data-dependent codebooks), so the recall VALUES
    // are hash-checked, not just bounded.
    "pq_rerank_recall" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val (pq, books, codes) = pqStore(s, dir)
      val pqIds = rankedIds(pqReranked(emb, pq, books, codes, pqQueryRows(emb)), "pq_ids")
      val exactIds = rankedIds(
        Knn.topKPerQuery(emb, pqQueries(emb), 10, Knn.NegEuclidean), "exact_ids")
      pqIds.join(exactIds, Seq("query_id"))
        .select(col("query_id"),
          round(Metrics.recallAtK(col("exact_ids"), col("pq_ids"), 10), 6).as("recall"))
        .orderBy(col("query_id"))
    }),

    // Trained-PQ recall audit (sketch-oracle pattern, the
    // events_value_sketches precedent): seed books and one-round-
    // trained books each produce an ADC top-50 shortlist (one scan,
    // per-query top-k) that exact-reranks to top-10 against the true
    // NegEuclidean top-10. Hit counts are INTEGERS (no float-average
    // replay risk); the seed side is fully DuckDB-recomputed, the
    // trained side (deterministic fused Lloyd, not SQL-expressible)
    // is pinned by must-be-true booleans: training never loses to the
    // seed books, and clears the 0.7 mean-recall bar
    "pq_trained_recall" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val (pq, seedBooks, trainedBooks) = pqTrainedBooks(s, dir)
      val qrows = pqQueryRows(emb)
      val exact = Knn.topKPerQuery(emb, pqQueries(emb), 10, Knn.NegEuclidean)
        .select(col("query_id"), col("vec_id"))
      val (seedCodes, trainedCodes) = pqTrainedCodes(s, dir)
      def hits(books: Array[Array[Array[Double]]], codes: DataFrame): DataFrame =
        pqReranked(emb, pq, books, codes, qrows)
          .join(exact, Seq("query_id", "vec_id"))
          .agg(coalesce(count(lit(1)), lit(0L)).cast("long").as("n_hits"))
      val nq = qrows.length.toLong
      emb.agg(count(lit(1)).cast("long").as("n_vectors"))
        .crossJoin(hits(seedBooks, seedCodes).select(col("n_hits").as("sh")))
        .crossJoin(hits(trainedBooks, trainedCodes).select(col("n_hits").as("th")))
        .select(col("n_vectors"),
          lit(nq).as("n_queries"),
          col("sh").as("seed_hits"),
          (round(col("sh").cast("double") / (10.0 * nq), 6) + 0.0)
            .as("seed_mean_recall"),
          (col("th") >= col("sh")).as("trained_ge_seed"),
          (col("th").cast("double") / (10.0 * nq) >= 0.7).as("trained_recall_ok"))
    }),

    // Multi-query probe of the PERSISTED compressed index: q=5 ADC
    // top-10 through the batched one-scan path (adcTopKMulti) — the
    // many-query serving shape of the compressed tier on the oracle
    // surface, not just single-query. Plan: one FileScan of the codes
    // parquet, explode fan-out, a partial per-query top-k below the
    // query shuffle (pinned in PlanSpec).
    "pq_multi_knn" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val (pq, books, codes) = pqStore(s, dir)
      adcTopPerQuery(pq, books, codes, pqQueryRows(emb), 10)
        .select(col("query_id"), col("vec_id"), col("adc_dist"))
        .orderBy(col("query_id").asc, col("adc_dist").asc, col("vec_id").asc)
    }),

    // banded sign-LSH embedding near-dup with data-dependent planes —
    // the Σ|bucket|² scale path; fully SQL-replayable since the planes
    // come from the data, not a PRNG
    "lsh_similarity_join" -> ((s, dir) => bandedPairs(s, dir).orderBy(col("a"), col("b"))),

    // approximate similarity JOIN via IVF cell co-membership: cells
    // from DATA-DEPENDENT centroids (the first 8 embeddings, no Lloyd
    // rounds — so the whole pipeline is SQL-replayable), assignment is
    // the codegen'd argmin expression (map-only against a broadcast
    // centroid literal), candidates are same-cell pairs (ONE shuffle
    // keyed on cell — Σ|cell|², not n²), exact cosine rerank after.
    // The cell-partitioned sibling of lsh_similarity_join; with the
    // assignment parquet partitioned by cell the candidate join is
    // shuffle-free at 100 TB.
    "ivf_cell_join" -> ((s, dir) => {
      val (_, _, assigned) = headCells(s, embeddings(s, dir))
      val a = assigned.select(col("vec_id").as("a"), col("embedding").as("ea"), col("cell"))
      val b = assigned.select(col("vec_id").as("b"), col("embedding").as("eb"), col("cell"))
      a.join(b, "cell").filter(col("a") < col("b"))
        .select(col("a"), col("b"),
          (round(graft.functions.VectorOps.cosine(col("ea"), col("eb")), 6) + lit(0.0)).as("cos"))
        .filter(col("cos") >= 0.3)
        .orderBy(col("a"), col("b"))
    }),

    // SemDeDup-style centroid-cell semantic PURGE (Abbas et al. 2023):
    // cluster embeddings into centroid cells,
    // pair ONLY within a cell, and purge every vector that has an
    // above-threshold cosine twin CLOSER to the cell centroid (ties
    // to the lower id) — keep-the-medoid-side dedup. This is the
    // cluster-then-dedup shape that holds where even banded-LSH pair
    // lists go dense: candidate volume is Σ|cell|², never n², and
    // with the assignment parquet partitioned by cell the pair join
    // is partition-local at 100 TB. Distinct from semantic_dedup
    // (minhash-candidate cosine rerank — text-keyed candidates) and
    // embedding_near_dup (sign-LSH bands): here the candidate
    // structure IS the quantizer the ANN tier already trains, so one
    // clustering pays for both serving and curation. Cells from
    // data-dependent first-8 centroids (the ivf_cell_join precedent),
    // so assignment, centrality, and the purge verdicts all replay in
    // SQL. Output: one row per purged vector with its cell, how many
    // kept-side twins dominated it, and the strongest of those
    // cosines. IvfSpec pins the rule against an in-memory replica;
    // the PlanSpec sweep pins no-cartesian over the declared frame.
    "semdedup_cell_purge" -> ((s, dir) => {
      val (ivf, cents, cells) = headCells(s, embeddings(s, dir))
      val assigned = cells
        .withColumn("dc",
          round(ivf.centroidDistExpr(col("embedding"), cents, col("cell")), 6) + lit(0.0))
      val x = assigned.select(col("vec_id").as("a"), col("embedding").as("ea"),
        col("cell"), col("dc").as("da"))
      val y = assigned.select(col("vec_id").as("b"), col("embedding").as("eb"),
        col("cell"), col("dc").as("db"))
      x.join(y, "cell").filter(col("a") =!= col("b"))
        .withColumn("cos",
          round(graft.functions.VectorOps.cosine(col("ea"), col("eb")), 6) + lit(0.0))
        .filter(col("cos") >= 0.4)
        .filter(col("db") < col("da") ||
          (col("db") === col("da") && col("b") < col("a")))
        .groupBy(col("a"), col("cell"))
        .agg(count(lit(1)).cast("long").as("n_dominators"),
          max(col("cos")).as("max_cos"))
        .select(col("a").as("vec_id"), col("cell").cast("long").as("cell"),
          col("n_dominators"), col("max_cos"))
        .orderBy(col("vec_id"))
    }),

    // embedding-cosine near-dup: top-20 most-similar pairs among the
    // BANDED sign-LSH candidates (the same Σ|bucket|² candidate
    // generation as lsh_similarity_join, topped with cos DESC LIMIT 20).
    // The full-corpus crossJoin lives on only as the test-only
    // equivalence baseline (KnnSpec), like the all-pairs simhash: an
    // unbounded cartesian must never sit on a declared/benched path, because at
    // 100× rows it is 10,000× pairs. The banded oracle replays the
    // identical candidate set, so the 20 values stay hash-checked.
    "embedding_near_dup" -> ((s, dir) =>
      bandedPairs(s, dir)
        .orderBy(col("cos").desc, col("a").asc, col("b").asc)
        .limit(20)),

    // progressive (dim-prefix) search: rank by the FIRST 16 dims only
    // (reads 16/d of the vector bytes — with a column-sliced storage
    // layout that is a physically smaller scan), keep top-50, exact
    // rerank on full vectors. The two-phase cost-shaping every large
    // embedding store uses; the oracle replays both phases exactly.
    "dim_prefix_rerank" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val q = firstVec(emb)
      val prefixDb = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val pre = Knn.topK(prefixDb, q.take(16), 50, Knn.Cosine)
      val cand = emb.join(broadcast(pre.select(col("vec_id"))), "vec_id")
      Knn.topK(cand, q, 10, Knn.Cosine)
    }),

    // int8-quantized search recall: the corpus quantized to per-vector
    // int8 (4× smaller storage), rankings vs the exact float corpus,
    // recall@10 per query — quantization is the first lever a 100 TB
    // embedding store pulls, and this pins its error end-to-end
    "int8_quant_recall" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      // quantization is an interpreted HOF (array_max + transform):
      // spread the single-row-group scan so it runs on all cores
      val qdb = emb.repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"),
          graft.functions.VectorOps.int8Quantize(col("embedding")).as("embedding"))
      def ids(db: DataFrame, out: String): DataFrame =
        rankedIds(Knn.topKPerQuery(db, qs, 10, Knn.Cosine), out)
      val exact = ids(emb, "exact_ids")
      val quant = ids(qdb, "quant_ids")
      exact.join(quant, Seq("query_id"))
        .select(col("query_id"),
          round(Metrics.recallAtK(col("exact_ids"), col("quant_ids"), 10), 6)
            .as("recall"))
        .orderBy(col("query_id"))
    }),

    // recall@10 between the euclidean and cosine rankings, per query —
    // Metrics.recallAtK (src/utils.rs:64-79) over SQL-derivable lists;
    // rankings via Knn.topKPerQuery (q×k shuffle).
    "recall_euclid_vs_cosine" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      def ids(metric: Knn.Metric, out: String): DataFrame =
        rankedIds(Knn.topKPerQuery(emb, qs, 10, metric), out)
      val cos = ids(Knn.Cosine, "cos_ids")
      val euc = ids(Knn.NegEuclidean, "euc_ids")
      cos.join(euc, Seq("query_id"))
        .select(col("query_id"),
          round(Metrics.recallAtK(col("cos_ids"), col("euc_ids"), 10), 6).as("recall"))
        .orderBy(col("query_id"))
    }),

    // binary (1-bit/dim) quantization retrieval: the 64-dim float
    // corpus packed to two 32-bit sign words (32× smaller than float —
    // the most aggressive quantization tier after int8), Hamming-
    // distance candidates via the native bit_count(xor) popcount,
    // exact-float rerank of the top-50 shortlist, recall@10 vs the
    // float ranking. Scale shape: packing is a static 64-term codegen
    // expression on the scan (map-only); candidate selection is the
    // same per-query top-k as every other knn (shuffle carries
    // queries×50 rows per partition, never the corpus); the rerank touches
    // only the broadcast 250-row shortlist — at 100 TB the packed
    // words are the only full-width column the probe ever reads.
    "bq_hamming_recall" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      def packWord(c: Column, off: Int): Column =
        (0 until 32).map(i =>
          when(element_at(c, off + i + 1) > lit(0f), lit(1L << i))
            .otherwise(lit(0L)))
          .reduce(_ + _)
      val db = emb.repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"),
          packWord(col("embedding"), 0).as("b_lo"),
          packWord(col("embedding"), 32).as("b_hi"))
      val qb = qs.select(col("query_id"),
        packWord(col("qe"), 0).as("q_lo"),
        packWord(col("qe"), 32).as("q_hi"))
      val hammScored = db.crossJoin(broadcast(qb))
        .select(col("query_id"), col("vec_id"),
          (-(bit_count(col("b_lo").bitwiseXOR(col("q_lo"))) +
            bit_count(col("b_hi").bitwiseXOR(col("q_hi")))).cast("double"))
            .as("score"))
      val cand = TopK.per(hammScored, Seq(col("query_id")), Knn.byScore(), 50)
        .select(col("query_id"), col("vec_id"))
      val rerScored = emb.join(broadcast(cand), Seq("vec_id"))
        .join(broadcast(qs), Seq("query_id"))
        .select(col("query_id"), col("vec_id"),
          (round(VectorOps.cosine(col("embedding"), col("qe")), 6) + 0.0)
            .as("score"))
      val bq = rankedIds(TopK.per(rerScored, Seq(col("query_id")), Knn.byScore(), 10), "bq_ids")
      val exact = rankedIds(Knn.topKPerQuery(emb, qs, 10, Knn.Cosine), "exact_ids")
      exact.join(bq, Seq("query_id"))
        .select(col("query_id"),
          round(Metrics.recallAtK(col("exact_ids"), col("bq_ids"), 10), 6)
            .as("recall"))
        .orderBy(col("query_id"))
    }),
  )

  /** One 32-bit sign word of the binary quantization as DuckDB SQL —
    * the same static 32-term sum the Spark side codegens. */
  private def bqWord(v: String, off: Int): String =
    (0 until 32).map(i =>
      s"CASE WHEN CAST($v[${off + i + 1}] AS DOUBLE) > 0.0 THEN ${1L << i} ELSE 0 END")
      .mkString("(", " + ", ")")

  // The oracle replays' index geometry, as the declared stores build
  // it: the first 8 embeddings are the IVF centroids; PQ splits the 64
  // dims into 4 subspaces of 16 with the first 16 embeddings as seed
  // codes.
  private val cellsCtes = ivfCells(8)
  private val seedCodesCtes = pqCodes("embeddings", "embedding", 4, 16, 16)
  private def adc(q: String, vec: String, key: String*): String = pqAdc(q, vec, 16, key: _*)

  /** Fallback ⇒ exact: the brute-force cosine top-10 of vector 0. */
  private val exactCosineTop10 = VectorQueries.knnOracle(cosine("e.embedding", "q.qe"), 10)

  /** The seed-codebook ADC shortlist of 50 per query (vec_id &lt; 5),
    * reranked by exact euclidean (`rr`), next to the exact euclidean
    * ranking (`ex`) — shared by the two PQ recall oracles. */
  private val pqRerankCtes =
    s"""$seedCodesCtes,
       |qs AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
       |${adc("qs", "qe", "query_id")},
       |adc AS (SELECT t.query_id, c.vec_id, round(sum(t.d), 6) + 0.0 AS adc
       |        FROM codes c JOIN qt t ON c.s = t.s AND c.code = t.j
       |        GROUP BY t.query_id, c.vec_id),
       |short AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, vec_id ASC) AS rn
       |    FROM adc) WHERE rn <= 50),
       |rr AS (SELECT sh.query_id, sh.vec_id,
       |          row_number() OVER (PARTITION BY sh.query_id
       |            ORDER BY round(${negEuclidean("e.embedding", "qs.qe")}, 6) DESC, sh.vec_id ASC) AS rn
       |       FROM short sh JOIN embeddings e ON e.vec_id = sh.vec_id
       |         JOIN qs ON qs.query_id = sh.query_id),
       |ex AS (SELECT qs.query_id, e.vec_id,
       |         row_number() OVER (PARTITION BY qs.query_id
       |           ORDER BY round(${negEuclidean("e.embedding", "qs.qe")}, 6) DESC, e.vec_id ASC) AS rn
       |       FROM embeddings e CROSS JOIN qs)""".stripMargin

  /** The banded sign-bit candidates of 16 planes in bands of 4,
    * cosine-reranked at 0.3, in the given order. */
  private def signBandPairs(order: String): String =
    s"""WITH ${signBands(16, 4)}
       |SELECT c.a, c.b, round(${cosine("x.embedding", "y.embedding")}, 6) + 0.0 AS cos
       |FROM cand c JOIN embeddings x ON c.a = x.vec_id JOIN embeddings y ON c.b = y.vec_id
       |WHERE round(${cosine("x.embedding", "y.embedding")}, 6) >= 0.3
       |""".stripMargin + order

  /** Per query (vec_id &lt; 5), the share of its exact euclidean top 10
    * found in its exact cosine top `cosK`, as `name`. */
  private def cosEuclidOverlap(cosK: Int, name: String): String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
       |cos_ranked AS (
       |  SELECT q.query_id, e.vec_id,
       |         row_number() OVER (PARTITION BY q.query_id
       |           ORDER BY round(${cosine("e.embedding", "q.qe")}, 6) DESC, e.vec_id ASC) AS rnk
       |  FROM embeddings e, q),
       |euc_ranked AS (
       |  SELECT q.query_id, e.vec_id,
       |         row_number() OVER (PARTITION BY q.query_id
       |           ORDER BY round(${negEuclidean("e.embedding", "q.qe")}, 6) DESC, e.vec_id ASC) AS rnk
       |  FROM embeddings e, q),
       |cos_lists AS (
       |  SELECT query_id, list(vec_id ORDER BY rnk) AS cos_ids
       |  FROM cos_ranked WHERE rnk <= $cosK GROUP BY query_id),
       |euc_lists AS (
       |  SELECT query_id, list(vec_id ORDER BY rnk) AS euc_ids
       |  FROM euc_ranked WHERE rnk <= 10 GROUP BY query_id)
       |SELECT c.query_id,
       |       round(CAST(len(list_intersect(c.cos_ids, e.euc_ids)) AS DOUBLE) / 10.0, 6) AS $name
       |FROM cos_lists c JOIN euc_lists e ON c.query_id = e.query_id
       |ORDER BY c.query_id""".stripMargin

  override def oracle: Map[String, String] = Map(
    // Index-audit oracles: the exact totals come from the corpus, the
    // contract invariants arrive as must-be-true booleans (same shape
    // as the sketch error-bound oracle).
    "lsh_bucket_stats" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
        |       true AS n_buckets_ok, true AS max_bucket_ok
        |FROM embeddings""".stripMargin,

    "hnsw_append_audit" ->
      """WITH n AS (SELECT count(*) AS cnt FROM embeddings)
        |SELECT CAST(cnt AS BIGINT) AS total_vectors,
        |       CAST((SELECT count(*) FROM embeddings WHERE vec_id < cnt // 2) AS BIGINT) AS n_base,
        |       CAST(cnt - (SELECT count(*) FROM embeddings WHERE vec_id < cnt // 2) AS BIGINT) AS n_appended,
        |       true AS appended_equals_rebuild,
        |       true AS degree_le_m
        |FROM n""".stripMargin,

    "hnsw_degree_stats" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_level0_nodes,
        |       true AS degree_le_m, true AS levels_monotone
        |FROM embeddings""".stripMargin,

    // Every field DERIVED, none literal:
    // totals and ids_unique from the source table; n_cells_ok and the
    // id-weighted cell sum from a FULL re-assignment — the cells CTE
    // replays Ivf.assignExpr's argmin-by-(squared distance, centroid
    // id) against the data-dependent centroids (embeddings vec_id < 8),
    // exactly as ivf_cell_join's oracle does. The Spark side reads the
    // merged build+append store; any drift from a from-scratch
    // assignment hash-fails on cell_weight_sum.
    "ivf_append_audit" ->
      s"""WITH $cellsCtes,
        |n AS (SELECT count(*) AS cnt, count(DISTINCT vec_id) AS dt FROM embeddings)
        |SELECT CAST(cnt AS BIGINT) AS total_vectors,
        |       CAST((SELECT count(*) FROM embeddings WHERE vec_id < cnt // 2) AS BIGINT) AS n_base,
        |       CAST(cnt - (SELECT count(*) FROM embeddings WHERE vec_id < cnt // 2) AS BIGINT) AS n_appended,
        |       dt = cnt AS ids_unique,
        |       (SELECT count(DISTINCT cell) BETWEEN 1 AND 8 FROM cells) AS n_cells_ok,
        |       CAST((SELECT sum(cell * (vec_id + 1)) FROM cells) AS BIGINT) AS cell_weight_sum
        |FROM n""".stripMargin,

    // Every field DERIVED, none literal: the keys CTE replays all
    // bucket signatures from the data-dependent plane matrix
    // (embeddings vec_id < 4), exactly as lsh_pruned_knn's oracle does;
    // buckets_in_range and the id-weighted bucket sum come from that
    // replay, so a drifted signature, double append, or dropped row
    // hash-fails.
    "lsh_append_audit" -> lshMaintenanceOracle,

    // identical replay: a compacted store must carry identical content
    "lsh_compact_audit" -> lshMaintenanceOracle,

    // code_weight_sum replayed from a FULL re-encode of the corpus
    // against the same seed codebooks (the pq_adc_knn codes CTE):
    // append ≡ rebuild, content-checked, not just invariant-checked
    "pq_append_audit" ->
      s"""WITH $seedCodesCtes,
        |n AS (SELECT count(*) AS c, count(DISTINCT vec_id) AS dt FROM embeddings)
        |SELECT CAST(c AS BIGINT) AS total_vectors,
        |       CAST((SELECT count(*) FROM embeddings WHERE vec_id < c // 2) AS BIGINT) AS n_base,
        |       CAST(c - (SELECT count(*) FROM embeddings WHERE vec_id < c // 2) AS BIGINT) AS n_appended,
        |       dt = c AS ids_unique,
        |       CAST((SELECT sum(code * (s + 1)) FROM codes) AS BIGINT) AS code_weight_sum
        |FROM n""".stripMargin,

    "ivf_cell_sizes" ->
      """SELECT CAST(count(*) AS BIGINT) AS total_vectors,
        |       true AS n_cells_ok, true AS cells_nonempty
        |FROM embeddings""".stripMargin,

    // PQ: data-dependent codebooks (subspace slices of embeddings
    // vec_id < 16) make code assignment and ADC distances exactly
    // replayable. Tie order on code assignment mirrors the struct
    // array_min: distance ASC, code ordinal ASC.
    "pq_adc_knn" ->
      s"""WITH $seedCodesCtes,
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |${adc("q", "qe")},
        |scores AS (SELECT c.vec_id, sum(t.d) AS adc
        |           FROM codes c JOIN qt t ON c.s = t.s AND c.code = t.j
        |           GROUP BY c.vec_id)
        |SELECT vec_id, round(adc, 6) + 0.0 AS adc_dist
        |FROM scores ORDER BY adc_dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // IVF-PQ: first-8 centroids pick the 2 probed cells, first-16
    // codebooks give the codes, ADC scores the survivors — every stage
    // replayed.
    "ivfpq_knn" ->
      s"""WITH $cellsCtes,
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |${ivfProbe(2, perQuery = false)},
        |$seedCodesCtes,
        |${adc("q", "qe")},
        |scores AS (SELECT cs.vec_id, sum(t.d) AS adc
        |           FROM codes cs JOIN qt t ON cs.s = t.s AND cs.code = t.j
        |           GROUP BY cs.vec_id)
        |SELECT s.vec_id, round(s.adc, 6) + 0.0 AS adc_dist
        |FROM scores s JOIN cells ON s.vec_id = cells.vec_id
        |WHERE cells.cell IN (SELECT cid FROM probe)
        |ORDER BY adc_dist ASC, s.vec_id ASC LIMIT 10""".stripMargin,

    // residual IVF-PQ, every stage replayed: cells from the first-8
    // centroids, residuals = e − centroid[cell] (and seed codebooks =
    // residuals of the first 16 w.r.t. their OWN cells), codes = argmin
    // over residual-subspace distances, per-probed-cell query tables
    // from q − centroid[cell].
    "ivfpq_residual_knn" ->
      s"""WITH $cellsCtes,
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |res AS (SELECT e.vec_id, cells.cell,
        |          list_transform(list_zip(e.embedding, c.ce),
        |            x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS re
        |        FROM embeddings e JOIN cells ON e.vec_id = cells.vec_id
        |          JOIN c ON c.cid = cells.cell),
        |${pqCodes("res", "re", 4, 16, 16)},
        |${ivfProbe(2, perQuery = false)},
        |qres AS (SELECT c.cid, list_transform(list_zip(q.qe, c.ce),
        |           x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS qre
        |         FROM c, q WHERE c.cid IN (SELECT cid FROM probe)),
        |${adc("qres", "qre", "cid")},
        |scores AS (SELECT cs.vec_id, sum(t.d) AS adc
        |           FROM codes cs JOIN cells ON cs.vec_id = cells.vec_id
        |             JOIN qt t ON t.cid = cells.cell AND cs.s = t.s AND cs.code = t.j
        |           GROUP BY cs.vec_id)
        |SELECT vec_id, round(adc, 6) + 0.0 AS adc_dist
        |FROM scores ORDER BY adc_dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // same code/table pipeline as pq_adc_knn, fanned to qs = vec_id<5
    // with a per-query row_number ≤ 10 — the SQL replay of the batched
    // one-scan multi-query probe
    "pq_multi_knn" ->
      s"""WITH $seedCodesCtes,
        |qs AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |${adc("qs", "qe", "query_id")},
        |scores AS (SELECT t.query_id, c.vec_id, round(sum(t.d), 6) + 0.0 AS adc_dist
        |           FROM codes c JOIN qt t ON c.s = t.s AND c.code = t.j
        |           GROUP BY t.query_id, c.vec_id),
        |ranked AS (SELECT query_id, vec_id, adc_dist,
        |             row_number() OVER (PARTITION BY query_id
        |               ORDER BY adc_dist ASC, vec_id ASC) AS rn
        |           FROM scores)
        |SELECT query_id, vec_id, adc_dist FROM ranked WHERE rn <= 10
        |ORDER BY query_id ASC, adc_dist ASC, vec_id ASC""".stripMargin,

    "pq_rerank_recall" ->
      s"""WITH $pqRerankCtes,
         |pq_lists AS (SELECT query_id, list(vec_id ORDER BY rn) AS pq_ids
         |             FROM rr WHERE rn <= 10 GROUP BY query_id),
         |ex_lists AS (SELECT query_id, list(vec_id ORDER BY rn) AS exact_ids
         |             FROM ex WHERE rn <= 10 GROUP BY query_id)
         |SELECT p.query_id,
         |       round(CAST(len(list_intersect(x.exact_ids, p.pq_ids)) AS DOUBLE) / 10.0, 6) AS recall
         |FROM pq_lists p JOIN ex_lists x ON p.query_id = x.query_id
         |ORDER BY p.query_id""".stripMargin,

    // Seed side recomputed end-to-end (same replay as pq_rerank_recall,
    // folded to integer hit counts); trained side is Spark-verified
    // booleans (fused Lloyd is not SQL-expressible).
    "pq_trained_recall" ->
      s"""WITH $pqRerankCtes,
         |h AS (SELECT count(*) AS sh FROM rr JOIN ex
         |        ON rr.query_id = ex.query_id AND rr.vec_id = ex.vec_id
         |       WHERE rr.rn <= 10 AND ex.rn <= 10),
         |nq AS (SELECT count(*) AS n FROM qs)
         |SELECT CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_vectors,
         |       CAST(nq.n AS BIGINT) AS n_queries,
         |       CAST(h.sh AS BIGINT) AS seed_hits,
         |       round(CAST(h.sh AS DOUBLE) / (10.0 * nq.n), 6) + 0.0 AS seed_mean_recall,
         |       true AS trained_ge_seed, true AS trained_recall_ok
         |FROM h, nq""".stripMargin,

    // LSH fallback ⇒ exact: same oracle as brute-force cosine.
    "lsh_knn" -> exactCosineTop10,

    // multi-probe under-fills at this scale ⇒ fallback ⇒ exact.
    "lsh_multiprobe_knn" -> exactCosineTop10,

    "precision_euclid_in_cos20" -> cosEuclidOverlap(20, "precision"),

    "lsh_similarity_join" -> signBandPairs("ORDER BY a, b"),

    // data-dependent centroids ⇒ the PRUNING ITSELF replays in SQL:
    // per-vector argmin cell, nearest-2 cells to the query by the same
    // (distance, cid) tiebreak, exact rerank inside the probed cells
    "ivf_pruned_knn" ->
      s"""WITH $cellsCtes,
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |${ivfProbe(2, perQuery = false)}
         |SELECT e.vec_id AS vec_id, round(${cosine("e.embedding", "q.qe")}, 6) + 0.0 AS score
         |FROM embeddings e JOIN cells ON e.vec_id = cells.vec_id, q
         |WHERE cells.cell IN (SELECT cid FROM probe)
         |ORDER BY score DESC, vec_id ASC
         |LIMIT 10""".stripMargin,

    // multi-query pruned IVF: per-query nearest-2 cells by the same
    // (distance, cid) tiebreak, exact cosine rerank of each query's
    // probed cells only, top-10 per query
    "ivf_multi_knn" ->
      s"""WITH $cellsCtes,
         |qs AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |${ivfProbe(2, perQuery = true)},
         |ranked AS (SELECT qs.query_id, e.vec_id,
         |    round(${cosine("e.embedding", "qs.qe")}, 6) + 0.0 AS score,
         |    row_number() OVER (PARTITION BY qs.query_id
         |      ORDER BY round(${cosine("e.embedding", "qs.qe")}, 6) DESC, e.vec_id ASC) AS rn
         |  FROM embeddings e JOIN cells ON e.vec_id = cells.vec_id
         |    JOIN probe p ON p.cid = cells.cell
         |    JOIN qs ON qs.query_id = p.query_id)
         |SELECT query_id, vec_id, score, CAST(rn AS BIGINT) AS rank
         |FROM ranked WHERE rn <= 10
         |ORDER BY query_id ASC, rank ASC""".stripMargin,

    // data-dependent planes ⇒ bucket keys replay in SQL: the probe
    // reranks exactly ONE bucket (no fallback at these scales), and
    // every returned value is hash-checked
    "lsh_pruned_knn" ->
      s"""WITH ${lshKeys(4)},
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |qb AS (SELECT ${lshBucket("q.qe")} AS bucket FROM p, q)
         |SELECT e.vec_id AS vec_id, round(${cosine("e.embedding", "q.qe")}, 6) + 0.0 AS score
         |FROM embeddings e JOIN keys k ON e.vec_id = k.vec_id, q, qb
         |WHERE k.bucket = qb.bucket
         |ORDER BY score DESC, vec_id ASC
         |LIMIT 10""".stripMargin,

    // full probe ⇒ exact: same oracle as brute-force cosine.
    "ivf_knn" -> exactCosineTop10,

    // cells replayed in SQL: argmin by (squared distance, centroid id)
    // — the exact tiebreak of Ivf.assignExpr's (d, c) struct min
    "ivf_cell_join" ->
      s"""WITH $cellsCtes,
         |cand AS (SELECT x.vec_id AS a, y.vec_id AS b
         |         FROM cells x JOIN cells y ON x.cell = y.cell AND x.vec_id < y.vec_id)
         |SELECT cn.a, cn.b, round(${cosine("ex.embedding", "ey.embedding")}, 6) + 0.0 AS cos
         |FROM cand cn JOIN embeddings ex ON cn.a = ex.vec_id JOIN embeddings ey ON cn.b = ey.vec_id
         |WHERE round(${cosine("ex.embedding", "ey.embedding")}, 6) + 0.0 >= 0.3
         |ORDER BY a, b""".stripMargin,

    // the full SemDeDup replay: cells + rounded centroid distances,
    // directed within-cell dominance pairs (closer-to-centroid wins,
    // ties to the lower id), per-purged-vector rollup
    "semdedup_cell_purge" ->
      s"""WITH $cellsCtes,
         |m AS (SELECT vec_id, cell, round(d, 6) + 0.0 AS dc FROM cells),
         |pr AS (SELECT x.vec_id AS a, x.cell,
         |         round(${cosine("ex.embedding", "ey.embedding")}, 6) + 0.0 AS cos
         |       FROM m x JOIN m y ON x.cell = y.cell AND x.vec_id <> y.vec_id
         |         JOIN embeddings ex ON x.vec_id = ex.vec_id
         |         JOIN embeddings ey ON y.vec_id = ey.vec_id
         |       WHERE round(${cosine("ex.embedding", "ey.embedding")}, 6) + 0.0 >= 0.4
         |         AND (y.dc < x.dc OR (y.dc = x.dc AND y.vec_id < x.vec_id)))
         |SELECT a AS vec_id, CAST(cell AS BIGINT) AS cell,
         |       CAST(count(*) AS BIGINT) AS n_dominators, max(cos) AS max_cos
         |FROM pr GROUP BY a, cell ORDER BY vec_id""".stripMargin,

    // identical banded-candidate pipeline as lsh_similarity_join's
    // oracle, topped with the cos DESC LIMIT 20 the declared query takes
    "embedding_near_dup" -> signBandPairs("ORDER BY cos DESC, a ASC, b ASC\nLIMIT 20"),

    // the invariant itself: every self-query hits rank 1.
    "hnsw_self_recall" ->
      """SELECT CAST(vec_id AS BIGINT) AS query_id, CAST(1 AS BIGINT) AS hit
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,

    // Exact side fully recomputed (n_exact = |brute-force cosine top-10|
    // per query); the walk side is the Spark-measured boolean, pinned
    // must-be-true (sketch-oracle pattern, same as pq_trained_recall's
    // trained-side booleans).
    "hnsw_recall_audit" ->
      s"""WITH qs AS (
         |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |ranked AS (
         |  SELECT qs.query_id, e.vec_id,
         |         row_number() OVER (PARTITION BY qs.query_id
         |           ORDER BY round(${cosine("e.embedding", "qs.qe")}, 6) DESC, e.vec_id ASC) AS rn
         |  FROM embeddings e CROSS JOIN qs)
         |SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact, true AS recall_ok
         |FROM ranked WHERE rn <= 10
         |GROUP BY query_id ORDER BY query_id""".stripMargin,

    "dim_prefix_rerank" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |pre AS (
         |  SELECT e.vec_id,
         |         row_number() OVER (
         |           ORDER BY round(${cosine("e.embedding[1:16]", "q.qe[1:16]")}, 6) DESC,
         |                    e.vec_id ASC) AS rnk
         |  FROM embeddings e, q),
         |cand AS (SELECT vec_id FROM pre WHERE rnk <= 50)
         |SELECT e.vec_id, round(${cosine("e.embedding", "q.qe")}, 6) + 0.0 AS score
         |FROM embeddings e JOIN cand USING (vec_id), q
         |ORDER BY score DESC, vec_id ASC
         |LIMIT 10""".stripMargin,

    "int8_quant_recall" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |qdb AS (
         |  SELECT vec_id,
         |         CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) = 0.0
         |              THEN list_transform(embedding, x -> 0.0)
         |              ELSE list_transform(embedding, x ->
         |                round(CAST(x AS DOUBLE) /
         |                  (list_max(list_transform(embedding, x2 -> abs(CAST(x2 AS DOUBLE)))) / 127.0)))
         |         END AS qv
         |  FROM embeddings),
         |exact_ranked AS (
         |  SELECT q.query_id, e.vec_id,
         |         row_number() OVER (PARTITION BY q.query_id
         |           ORDER BY round(${cosine("e.embedding", "q.qe")}, 6) DESC, e.vec_id ASC) AS rnk
         |  FROM embeddings e, q),
         |quant_ranked AS (
         |  SELECT q.query_id, d.vec_id,
         |         row_number() OVER (PARTITION BY q.query_id
         |           ORDER BY round(${cosine("d.qv", "q.qe")}, 6) DESC, d.vec_id ASC) AS rnk
         |  FROM qdb d, q),
         |exact_lists AS (
         |  SELECT query_id, list(vec_id ORDER BY rnk) AS exact_ids
         |  FROM exact_ranked WHERE rnk <= 10 GROUP BY query_id),
         |quant_lists AS (
         |  SELECT query_id, list(vec_id ORDER BY rnk) AS quant_ids
         |  FROM quant_ranked WHERE rnk <= 10 GROUP BY query_id)
         |SELECT x.query_id,
         |       round(CAST(len(list_intersect(x.exact_ids, n.quant_ids)) AS DOUBLE) / 10.0, 6) AS recall
         |FROM exact_lists x JOIN quant_lists n ON x.query_id = n.query_id
         |ORDER BY x.query_id""".stripMargin,

    "recall_euclid_vs_cosine" -> cosEuclidOverlap(10, "recall"),

    "bq_hamming_recall" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |qb AS (SELECT query_id, qe,
         |         ${bqWord("qe", 0)} AS q_lo, ${bqWord("qe", 32)} AS q_hi
         |       FROM q),
         |db AS (SELECT vec_id, embedding,
         |         ${bqWord("embedding", 0)} AS b_lo, ${bqWord("embedding", 32)} AS b_hi
         |       FROM embeddings),
         |h AS (SELECT qb.query_id, db.vec_id, db.embedding, qb.qe,
         |        bit_count(xor(db.b_lo, qb.q_lo)) + bit_count(xor(db.b_hi, qb.q_hi)) AS hamm
         |      FROM db, qb),
         |cand AS (SELECT query_id, vec_id, embedding, qe,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY hamm ASC, vec_id ASC) AS crnk
         |         FROM h),
         |rer AS (SELECT query_id, vec_id,
         |          row_number() OVER (PARTITION BY query_id
         |            ORDER BY (round(${cosine("embedding", "qe")}, 6) + 0.0) DESC,
         |                     vec_id ASC) AS rnk
         |        FROM cand WHERE crnk <= 50),
         |bq AS (SELECT query_id, list(vec_id ORDER BY rnk) AS bq_ids
         |       FROM rer WHERE rnk <= 10 GROUP BY query_id),
         |exact_ranked AS (
         |  SELECT q.query_id, e.vec_id,
         |         row_number() OVER (PARTITION BY q.query_id
         |           ORDER BY round(${cosine("e.embedding", "q.qe")}, 6) DESC, e.vec_id ASC) AS rnk
         |  FROM embeddings e, q),
         |ex AS (SELECT query_id, list(vec_id ORDER BY rnk) AS exact_ids
         |       FROM exact_ranked WHERE rnk <= 10 GROUP BY query_id)
         |SELECT x.query_id,
         |       round(CAST(len(list_intersect(x.exact_ids, b.bq_ids)) AS DOUBLE) / 10.0, 6) AS recall
         |FROM ex x JOIN bq b ON x.query_id = b.query_id
         |ORDER BY x.query_id""".stripMargin,
  )
}
