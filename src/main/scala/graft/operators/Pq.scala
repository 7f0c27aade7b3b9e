package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.VectorKernels
import graft.functions.VectorOps

/** Product quantization (PQ) — compressed-domain ANN, the codebook
  * compression the 100 TB serving tier pairs with IVF (Jégou, Douze,
  * Schmid, "Product Quantization for Nearest Neighbor Search",
  * IEEE TPAMI 2011). Not in the reference (kowari's indexes hold raw
  * f32 vectors, src/index.rs:52-59); this is north-star extension
  * surface like IVF/HNSW batch builds.
  *
  * The layout: split each d-dim vector into `m` contiguous subspaces,
  * quantize every subspace independently against its own ksub-entry
  * codebook, and store only the m code ordinals — 4 int codes instead
  * of 64 floats here (64× smaller, and the compressed index is what a
  * petabyte corpus can actually keep hot). Probe-time scoring is ADC
  * (asymmetric distance computation): the query precomputes an
  * m × ksub table of subspace distances ONCE on the driver, and every
  * stored vector's approximate distance is m table lookups — no
  * vector arithmetic in the scan at all, which is why PQ scans beat
  * raw-vector scans by the compression factor at equal recall targets.
  *
  * Spark-first shape: encode is a map-only column expression against
  * broadcast codebook literals (same argmin-over-struct pattern as
  * `Ivf.assignExpr`); the codes table persists as parquet (the
  * compressed index artifact); the ADC score is an expression over the
  * broadcast lookup-table literal, so a probe is one scan of the
  * 4-ints-per-row codes table with `TakeOrderedAndProject` on top —
  * zero shuffles, zero joins.
  *
  * Determinism/oracle: codebooks come from SEED VECTORS (slices of
  * corpus rows), not a PRNG and not Lloyd iterations, so code
  * assignment AND the ADC scores are exactly SQL-replayable (the same
  * data-dependent-build trick as ivf_pruned_knn / lsh_pruned_knn);
  * arithmetic is cast-to-double, folded left-to-right, mirroring
  * OracleFrag.
  */
class Pq(val m: Int) {
  require(m >= 1, "m (number of subspaces) must be positive")

  /** Data-dependent codebooks: subspace s's codebook = the s-th slice
    * of each seed vector, cast to double. ksub = seed.length. */
  def codebooksFromSeed(seed: Array[Array[Float]]): Array[Array[Array[Double]]] =
    codebooksFromSeedD(seed.map(_.map(_.toDouble)))

  /** Double-seed variant — for already-double seed vectors (e.g. IVF-PQ
    * residuals, which are differences of doubles and must not round-trip
    * through float or the oracle replay diverges). */
  def codebooksFromSeedD(seed: Array[Array[Double]]): Array[Array[Array[Double]]] = {
    require(seed.nonEmpty, "need at least one seed vector")
    val dim = seed(0).length
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    val sub = dim / m
    Array.tabulate(m) { s =>
      seed.map(v => v.slice(s * sub, (s + 1) * sub))
    }
  }

  /** Encode: ARRAY<INT> of length m; codes(s) = argmin_j of the
    * subspace squared distance, ties to the LOWEST code ordinal
    * (struct array_min compares distance first, then ordinal — the
    * exact tie order row_number() OVER (ORDER BY d ASC, j ASC)
    * replays). Map-only against broadcast codebook literals. */
  def encodeExpr(emb: Column, books: Array[Array[Array[Double]]]): Column = {
    val sub = books(0)(0).length
    array(books.zipWithIndex.map { case (book, s) =>
      val bl = typedLit(book.map(_.toSeq).toSeq)
      val sv = slice(emb, s * sub + 1, sub)
      array_min(transform(sequence(lit(0), lit(book.length - 1)),
        j => struct(VectorOps.sqdist(sv, element_at(bl, j + 1)).as("d"), j.as("c"))))
        .getField("c")
    }: _*)
  }

  /** One per-subspace Lloyd refinement round over ALL m subspaces in a
    * SINGLE job (Jégou et al. 2011 §III trains each subspace codebook
    * with k-means; this is one assignment+update step of that, fused
    * across subspaces): every vector contributes its m subspace slices
    * keyed by (subspace, assigned code), and the typed vector-sum
    * aggregate (VecSumAggregate — the same machinery as Ivf's Lloyd)
    * keeps map-side partials, so the exchange carries at most
    * (#map partitions × m × ksub) sub-length sums — never the n×m
    * slice rows. Codes that attract no vectors keep their previous
    * entry (the empty-cell Lloyd convention, as in Ivf.lloydRound). */
  def lloydRound(vecs: DataFrame, books: Array[Array[Array[Double]]],
      vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val ksub = books(0).length
    val sub = books(0)(0).length
    val sums = vecs
      .select(posexplode(encodeExpr(col(vecCol), books)).as(Seq("s", "code")),
        col(vecCol).as("v"))
      .select((col("s") * ksub + col("code")).as("key"),
        slice(col("v"), col("s") * sub + 1, lit(sub)).as("sv"))
      .as[(Int, Seq[Float])]
      .groupByKey(_._1)
      .agg(VecSumAggregate.vecSum[(Int, Seq[Float])](_._2)
        .toColumn.name("sumcnt"))
      .collect() // ≤ m × ksub rows on the driver — the codebook head
    val byKey = sums.map { case (k, (sum, n)) =>
      k -> sum.map(_ / n).toArray }.toMap
    Array.tabulate(m)(s => Array.tabulate(ksub)(j =>
      byKey.getOrElse(s * ksub + j, books(s)(j))))
  }

  /** TRAINED codebooks — the default quality build (the cited paper's
    * actual algorithm): seed from corpus rows, then `iters` fused Lloyd
    * rounds. The DECLARED pq_* queries deliberately keep the raw seed
    * books (that is what makes their encoding SQL-replayable and the
    * oracle hash-checkable); use this path when recall matters more
    * than replayability. Each round is one Spark job whose shuffle is
    * bounded by m × ksub aggregated sums. */
  def train(vecs: DataFrame, seed: Array[Array[Float]], iters: Int,
      vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    var books = codebooksFromSeed(seed)
    (0 until iters).foreach(_ => books = lloydRound(vecs, books, vecCol))
    books
  }

  /** Incremental append to a persisted codes store: encode the new
    * batch against FROZEN codebooks (one map-only expression pass —
    * codebooks retrain offline, exactly the Ivf.append / Lsh.append
    * maintenance contract) and add the code rows as new files. The
    * existing codes are never read, shuffled, or rewritten, so the
    * append costs O(batch) however large the store has grown — and
    * because encoding is deterministic in (vector, books), an appended
    * store is row-identical to a from-scratch encode of the union
    * (pq_append_audit replays that equality in DuckDB; PqSpec pins it
    * frame-to-frame). Mirrors the .kwi single-writer append discipline
    * (kowari vector_db/src/binary_index.rs:103-146). */
  def append(path: String, batch: DataFrame, books: Array[Array[Array[Double]]],
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    batch.select(col(idCol), encodeExpr(col(vecCol), books).as("codes"))
      .write.mode("append").parquet(path)

  /** Driver-side ADC lookup table: table(s)(j) = ‖q_s − books(s)(j)‖²
    * through `VectorKernels.sqdist`, the kernel of VectorOps.sqdist
    * (and the fold OracleFrag.sqDist replays). A float widens to double
    * exactly, so the table of the widened query is the float one. */
  def adcTable(q: Array[Float], books: Array[Array[Array[Double]]]): Array[Array[Double]] =
    adcTableD(q.map(_.toDouble), books)

  /** Double-query variant — for residual queries (q − centroid). */
  def adcTableD(q: Array[Double], books: Array[Array[Array[Double]]]): Array[Array[Double]] = {
    val sub = books(0)(0).length
    require(q.length == m * sub, s"query dim ${q.length} != ${m * sub}")
    Array.tabulate(m) { s =>
      val qs = q.slice(s * sub, (s + 1) * sub)
      books(s).map(VectorKernels.sqdist(qs, _))
    }
  }

  /** ADC approximate distance: Σ_s table(s)(codes(s)) — m lookups into
    * the broadcast table literal per row, summed s = 0..m−1. */
  def adcScoreExpr(codes: Column, table: Array[Array[Double]]): Column = {
    val tl = typedLit(table.map(_.toSeq).toSeq)
    aggregate(transform(sequence(lit(0), lit(m - 1)),
      s => element_at(element_at(tl, s + 1), element_at(codes, s + 1) + 1)),
      lit(0.0), (acc, x) => acc + x)
  }

  /** Multi-query ADC top-k in ONE job over ONE codes scan — the
    * many-query serving shape of the compressed tier. Each scanned row
    * fans out to every query via an explode of the literal id array
    * (map-side, no join, no second scan) and scores against that
    * query's m×ksub table from a broadcast map literal; [[TopK.per]]
    * keeps k rows per query on the map side, so the shuffle carries
    * q×k rows per partition instead of q×n, and one FileScan serves all
    * q queries (a union of per-query shortlist plans would scan q
    * times).
    *
    * Ordering contract matches the single-query probe exactly:
    * adc ASC, vec_id ASC. Output: (query_id, vec_id, adc_dist rounded
    * to 6, rank 1..k). */
  def adcTopKMulti(codes: DataFrame,
      tables: Seq[(Long, Array[Array[Double]])], k: Int): DataFrame = {
    require(tables.nonEmpty, "need at least one query table")
    // a duplicate id would collapse in the map literal while the
    // explode still fans its rows out twice — every scanned row would
    // score doubly and the top-k would hold duplicate (vec, adc) entries
    require(tables.map(_._1).distinct.size == tables.size,
      "query ids must be distinct")
    val tmap = typedLit(tables.map { case (q, t) => q -> t.map(_.toSeq).toSeq }.toMap)
    val tbl = element_at(tmap, col("query_id"))
    val adc = aggregate(transform(sequence(lit(0), lit(m - 1)),
      s => element_at(element_at(tbl, s + 1), element_at(col("codes"), s + 1) + 1)),
      lit(0.0), (acc, x) => acc + x)
    val scored = codes
      .select(col("vec_id"), explode(typedLit(tables.map(_._1))).as("query_id"),
        col("codes"))
      .select(col("query_id"), col("vec_id"), (round(adc, 6) + 0.0).as("adc_dist"))
    TopK.per(scored, Seq(col("query_id")), Seq(col("adc_dist").asc, col("vec_id").asc), k)
  }
}
