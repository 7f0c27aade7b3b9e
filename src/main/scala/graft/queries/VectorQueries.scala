package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftEngine
import graft.functions.VectorOps
import graft.operators.Knn

/** Declared parity queries over the `embeddings` table — the reference's
  * own query surface (kowari §2.1 kernels, §2.2 top-k, §2.3 retrieval).
  * Every query is deterministic: query vectors come FROM the data
  * (vec_id=0 / vec_id<5), scores are double, rounded to 6, and sorted
  * with an id tiebreaker. Each has a DuckDB oracle.
  */
object VectorQueries extends QueryRegistry {
  import Tables._
  import OracleFrag._

  private def queryVec(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir).filter(col("vec_id") === 0).select(col("embedding").as("qe"))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // BruteForceIndex::query (cosine, src/index.rs:61-63)
    "knn_cosine" -> ((s, dir) =>
      Knn.topK(embeddings(s, dir), queryVec(s, dir), 10, Knn.Cosine)),

    // BruteForceIndex::query_with_similarity(euclidean → negated, src/index.rs:36-38)
    "knn_euclidean" -> ((s, dir) =>
      Knn.topK(embeddings(s, dir), queryVec(s, dir), 10, Knn.NegEuclidean)),

    "knn_manhattan" -> ((s, dir) =>
      Knn.topK(embeddings(s, dir), queryVec(s, dir), 10, Knn.NegManhattan)),

    // QueryEngine::search_with_scores: full record + score in rank order
    // (src/query.rs:28-39)
    "search_join_back" -> ((s, dir) =>
      Knn.searchWithScores(embeddings(s, dir), queryVec(s, dir), 5)
        .select(col("vec_id"), col("label"), col("score"))),

    // QueryEngine::get_vector point lookup (src/query.rs:54-56)
    "point_lookup" -> ((s, dir) =>
      embeddings(s, dir).filter(col("vec_id") === 42)
        .select(col("vec_id"), col("label"),
          VectorOps.dimension(col("embedding")).cast("long").as("dim"))),

    // Storage::count (src/storage.rs:53-55)
    "count_vectors" -> ((s, dir) =>
      embeddings(s, dir).agg(count(lit(1)).as("cnt"))),

    // Vector::magnitude projection, top-20 largest (src/vector.rs:41-43)
    "magnitude_top20" -> ((s, dir) =>
      embeddings(s, dir)
        .select(col("vec_id"),
          round(VectorOps.magnitude(col("embedding")), 6).as("mag"))
        .orderBy(col("mag").desc, col("vec_id").asc)
        .limit(20)),

    // normalize_vector: first coordinate of v/‖v‖ (src/utils.rs:41-48)
    "normalize_head" -> ((s, dir) =>
      embeddings(s, dir)
        .select(col("vec_id"),
          round(element_at(VectorOps.normalize(col("embedding")), 1), 6).as("n0"))
        .orderBy(col("vec_id").asc)
        .limit(50)),

    // collection dimension validation (vector_db/src/collection_manager.rs:146-152)
    "dim_profile" -> ((s, dir) =>
      embeddings(s, dir)
        .groupBy(VectorOps.dimension(col("embedding")).cast("long").as("dim"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("dim").asc)),

    // generate_random_vectors parity (utils.rs:26-39), seeded: the
    // oracle pins the deterministic SHAPE contract (count, dim, range)
    "random_vectors_profile" -> ((s, dir) =>
      GraftEngine.generateRandomVectors(s, dim = 16, num = 100, seed = 42L)
        .agg(
          count(lit(1)).as("n_vectors"),
          min(size(col("embedding"))).cast("long").as("min_dim"),
          max(size(col("embedding"))).cast("long").as("max_dim"),
          min(array_min(col("embedding"))).geq(-1.0f).cast("long").as("all_ge_lo"),
          max(array_max(col("embedding"))).lt(1.0f).cast("long").as("all_lt_hi"))),

    // metadata JSON-path predicate (the reference's demo filter,
    // vector_db/examples/local_storage_demo.rs:115-130): wrap rows in
    // collection-shaped JSON metadata, then filter on a JSON path
    "metadata_filter" -> ((s, dir) =>
      embeddings(s, dir)
        .select(col("vec_id"),
          to_json(struct(col("label"))).as("metadata"))
        .filter(get_json_object(col("metadata"), "$.label") === "3")
        .select(col("vec_id"))
        .orderBy(col("vec_id"))
        .limit(25)),

    // multi-query KNN via the bounded-heap typed aggregate: identical
    // results to knn_multi (shared oracle), but the shuffle carries
    // queries×k rows instead of queries×n
    "knn_multi_agg" -> ((s, dir) => {
      val qs = embeddings(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      Knn.topKPerQueryAgg(embeddings(s, dir), qs, 3)
        .select(col("query_id"), col("vec_id"), col("score"), col("rank"))
    }),

    // multi-query KNN: the similarity-join shape (top-3 for vec_id<5)
    "knn_multi" -> ((s, dir) => {
      val qs = embeddings(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      Knn.topKPerQuery(embeddings(s, dir), qs, 3)
        .select(col("query_id"), col("vec_id"), col("score"),
          col("rank").cast("long").as("rank"))
    }),
  )

  private[queries] def knnOracle(scoreExpr: String, k: Int): String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id AS vec_id, round($scoreExpr, 6) + 0.0 AS score
       |FROM embeddings e, q
       |ORDER BY score DESC, vec_id ASC
       |LIMIT $k""".stripMargin

  /** Cosine top-3 per query (vec_id &lt; 5): knn_multi and
    * knn_multi_agg return the same rows. */
  private val knnMultiOracle =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.query_id, e.vec_id,
       |         round(${cosine("e.embedding", "q.qe")}, 6) + 0.0 AS score
       |  FROM embeddings e, q),
       |ranked AS (
       |  SELECT query_id, vec_id, score,
       |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, score, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= 3
       |ORDER BY query_id ASC, rank ASC""".stripMargin

  override def oracle: Map[String, String] = Map(
    "knn_cosine" -> knnOracle(cosine("e.embedding", "q.qe"), 10),
    "knn_euclidean" -> knnOracle(negEuclidean("e.embedding", "q.qe"), 10),
    "knn_manhattan" -> knnOracle(negManhattan("e.embedding", "q.qe"), 10),
    "search_join_back" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |top AS (
         |  SELECT e.vec_id, round(${cosine("e.embedding", "q.qe")}, 6) + 0.0 AS score
         |  FROM embeddings e, q
         |  ORDER BY score DESC, e.vec_id ASC
         |  LIMIT 5)
         |SELECT e.vec_id AS vec_id, e.label AS label, t.score AS score
         |FROM embeddings e JOIN top t ON e.vec_id = t.vec_id
         |ORDER BY t.score DESC, e.vec_id ASC""".stripMargin,
    "point_lookup" ->
      "SELECT vec_id, label, CAST(len(embedding) AS BIGINT) AS dim FROM embeddings WHERE vec_id = 42",
    "count_vectors" ->
      "SELECT CAST(count(*) AS BIGINT) AS cnt FROM embeddings",
    "magnitude_top20" ->
      s"""SELECT vec_id, round(${norm("embedding")}, 6) AS mag
         |FROM embeddings
         |ORDER BY mag DESC, vec_id ASC
         |LIMIT 20""".stripMargin,
    "normalize_head" ->
      s"""SELECT vec_id,
         |  round(CASE WHEN ${norm("embedding")} = 0 THEN CAST(embedding[1] AS DOUBLE)
         |             ELSE CAST(embedding[1] AS DOUBLE) / ${norm("embedding")} END, 6) AS n0
         |FROM embeddings
         |ORDER BY vec_id ASC
         |LIMIT 50""".stripMargin,
    "dim_profile" ->
      """SELECT CAST(len(embedding) AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS cnt
        |FROM embeddings
        |GROUP BY 1
        |ORDER BY dim ASC""".stripMargin,
    "random_vectors_profile" ->
      """SELECT CAST(100 AS BIGINT) AS n_vectors,
        |       CAST(16 AS BIGINT) AS min_dim, CAST(16 AS BIGINT) AS max_dim,
        |       CAST(1 AS BIGINT) AS all_ge_lo, CAST(1 AS BIGINT) AS all_lt_hi""".stripMargin,

    "metadata_filter" ->
      """SELECT vec_id FROM embeddings
        |WHERE json_extract_string(to_json(struct_pack(label := label)), '$.label') = '3'
        |ORDER BY vec_id LIMIT 25""".stripMargin,

    "knn_multi_agg" -> knnMultiOracle,
    "knn_multi" -> knnMultiOracle,
  )
}
