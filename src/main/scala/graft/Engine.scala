package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Knn, Lsh}
import graft.sources.CollectionManager

/** User-facing facade with the reference's `QueryEngine` surface
  * (kowari src/query.rs:10-60): bind a stored collection to an index
  * flavor, then search / search_with_scores / get_vector / count. A
  * user of the reference maps calls one-to-one:
  *
  *   QueryEngine::new(storage, index) -> new GraftEngine(mgr, name, index)
  *   search(qv, k)                    -> search(qv, k)        (score dropped)
  *   search_with_scores(qv, k)        -> searchWithScores(qv, k)
  *   search_by_vector(raw, k)         -> searchByVector(raw, k)
  *   get_vector(id)                   -> getVector(id)
  *   count_vectors()                  -> countVectors()
  *
  * plus `generateRandomVectors` for utils.rs:26-39 (seeded, so unlike
  * `thread_rng` it is reproducible).
  */
class GraftEngine(
    manager: CollectionManager,
    collection: String,
    index: GraftEngine.IndexKind = GraftEngine.BruteForce) {

  private def vectors: DataFrame = manager.scan(collection)

  /** Top-k records, score DROPPED (src/query.rs:15-26). */
  def search(q: Array[Float], k: Int): DataFrame =
    searchWithScores(q, k).drop("score")

  /** Top-k (record, score) in rank order (src/query.rs:28-39): columns
    * id, embedding, metadata, ingest_seq, score. One pass over the
    * collection scores every stored record against the query as a
    * literal — one job per brute-force search. The LSH flavor restricts
    * the pass to the query's bucket (every row when the bucket holds
    * fewer than k), bucketing with the dimension from `_meta.json`. */
  def searchWithScores(q: Array[Float], k: Int): DataFrame = index match {
    case GraftEngine.BruteForce =>
      Knn.searchWithScores(vectors, q, k, Knn.Cosine, idCol = "id")
    case GraftEngine.BruteForceEuclidean =>
      Knn.searchWithScores(vectors, q, k, Knn.NegEuclidean, idCol = "id")
    case GraftEngine.LshIndex(lsh) =>
      val dim = manager.collectionInfo(collection).dimension
      val bucketed = vectors.withColumn("bucket", lsh.bucketCol(col("embedding"), dim))
      Knn.searchWithScores(lsh.candidates(bucketed, q, k).drop("bucket"), q, k,
        Knn.Cosine, idCol = "id")
  }

  /** Raw-array entry point (src/query.rs:41-52). */
  def searchByVector(raw: Array[Float], k: Int): DataFrame = searchWithScores(raw, k)

  /** Point lookup (src/query.rs:54-56). */
  def getVector(id: String): DataFrame = manager.getVector(collection, id)

  /** Storage count (src/query.rs:58-60). */
  def countVectors(): Long = manager.countVectors(collection)
}

object GraftEngine {
  sealed trait IndexKind
  case object BruteForce extends IndexKind
  case object BruteForceEuclidean extends IndexKind
  final case class LshIndex(lsh: Lsh) extends IndexKind

  /** Seeded uniform [-1,1) vectors (utils.rs:26-39, determinized per
    * SURVEY §7.5.1). Generated distributed: one seeded PRNG per row id,
    * so the output is independent of partitioning. */
  def generateRandomVectors(spark: SparkSession, dim: Int, num: Int,
      seed: Long = 42L): DataFrame = {
    import spark.implicits._
    spark.range(num).select(col("id"),
      transform(sequence(lit(0), lit(dim - 1)),
        i => pmod(xxhash64(col("id"), i, lit(seed)), lit(1000000L))
          .cast("double") / 500000.0 - 1.0).cast("array<float>").as("embedding"))
  }
}
