package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import scala.language.implicitConversions

import graft.functions.VectorOps

/** Exact brute-force top-k similarity search — the reference's flagship
  * query path (`BruteForceIndex::query_with_similarity`,
  * kowari src/index.rs:25-48, + `QueryEngine::search_with_scores`,
  * src/query.rs:28-39).
  *
  * Semantics pinned from the reference:
  *   - score every stored vector against the query;
  *   - cosine mode sorts by similarity DESC; euclidean mode scores by
  *     *negated* distance so the DESC sort is uniform (src/index.rs:36-38);
  *   - take k (k is clamped to n implicitly by limit);
  *   - search_with_scores returns the full stored record beside its
  *     score, in rank order (src/query.rs:28-39).
  *
  * Spark-first design: the per-row score is a codegen-friendly column
  * expression; `orderBy(...).limit(k)` lets Catalyst plan
  * `TakeOrderedAndProject` — a per-partition bounded heap + driver merge,
  * NOT a global sort. On a 1000-executor cluster this is one scan with no
  * shuffle of anything but k rows per partition. A driver-held query
  * vector is scored as a literal, so a search is that one scan and
  * exactly one job; a query vector taken from the data (a one-row
  * DataFrame) is broadcast cross-joined onto the scan instead. Both
  * forms go through the same scoring tail, and `searchWithScores`
  * carries the whole record through it rather than joining the top k
  * back to a second scan.
  *
  * Scores are rounded to 6 decimals *before* the sort, with an id
  * tiebreaker, so the result set and order are deterministic across
  * engines (SURVEY.md §7.5.1).
  */
object Knn {

  /** Round to 6 and normalize IEEE -0.0 to +0.0 (x + 0.0) so hashes match
    * across engines for self-distance scores. */
  private[graft] def stableScore(c: Column): Column = round(c, 6) + lit(0.0)

  sealed trait Metric { def score(a: Column, b: Column): Column }
  /** cosine similarity (`graft_cosine`), higher = closer. */
  case object Cosine extends Metric {
    def score(a: Column, b: Column): Column = VectorOps.cosine(a, b)
  }
  /** negated euclidean distance (`graft_euclidean`), higher = closer
    * (src/index.rs:36-38). */
  case object NegEuclidean extends Metric {
    def score(a: Column, b: Column): Column = -VectorOps.euclidean(a, b)
  }
  /** negated manhattan distance (`graft_manhattan`), higher = closer. */
  case object NegManhattan extends Metric {
    def score(a: Column, b: Column): Column = -VectorOps.manhattan(a, b)
  }

  /** The query side of a single-query search. An `Array[Float]` held on
    * the driver converts to a literal; a one-row DataFrame with column
    * `qe` (taken FROM the data for determinism — never a random draw)
    * converts to a broadcast cross join. */
  sealed trait Query {
    /** `vectors` with the query attached, and the query vector column. */
    private[Knn] def attach(vectors: DataFrame): (DataFrame, Column)
  }
  object Query {
    implicit def literal(q: Array[Float]): Query = new Query {
      private[Knn] def attach(vectors: DataFrame) = (vectors, typedLit(q.toSeq))
    }
    implicit def frame(query: DataFrame): Query = new Query {
      private[Knn] def attach(vectors: DataFrame) =
        (vectors.crossJoin(broadcast(query.select(col("qe")))), col("qe"))
    }
  }

  /** The scoring tail: `keep` columns of `vectors` plus the rounded score,
    * top k by (score DESC, id ASC). */
  private def ranked(vectors: DataFrame, query: Query, k: Int, metric: Metric,
      keep: Seq[String], idCol: String, vecCol: String): DataFrame = {
    val (withQuery, qe) = query.attach(vectors)
    withQuery
      .select(keep.map(col) :+
        stableScore(metric.score(col(vecCol), qe)).as("score"): _*)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Top-k over `vectors` for a single query vector. Output: (idCol,
    * score double rounded to 6), ordered score DESC, id ASC. */
  def topK(
      vectors: DataFrame,
      query: Query,
      k: Int,
      metric: Metric = Cosine,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    ranked(vectors, query, k, metric, Seq(idCol), idCol, vecCol)

  /** `QueryEngine::search_with_scores` parity: every column of `vectors`
    * plus `score`, top k in the same rank order as `topK`. */
  def searchWithScores(
      vectors: DataFrame,
      query: Query,
      k: Int,
      metric: Metric = Cosine,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    ranked(vectors, query, k, metric, vectors.columns.toSeq, idCol, vecCol)

  /** Multi-query KNN: top-k per query row — the shape a 100-TB
    * similarity-join takes. Queries are broadcast; each partition of
    * `vectors` scores locally and the per-query top-k is taken with one
    * shuffle of (numQueries × k) rows via window rank.
    */
  def topKPerQuery(
      vectors: DataFrame,
      queries: DataFrame,
      k: Int,
      metric: Metric = Cosine,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryVecCol: String = "qe"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col(queryIdCol))
      .orderBy(col("score").desc, col(idCol).asc)
    scoredPairs(vectors, queries, metric, idCol, vecCol, queryIdCol, queryVecCol)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col(queryIdCol).asc, col("rank").asc)
  }

  /** Multi-query KNN via the bounded-heap typed aggregate
    * (TopKAggregate): identical results to `topKPerQuery`, but the
    * shuffle carries (queries × k) rows instead of (queries × n) —
    * map-side partial top-k, the plan you want at 100 TB. */
  def topKPerQueryAgg(
      vectors: DataFrame,
      queries: DataFrame,
      k: Int,
      metric: Metric = Cosine,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryVecCol: String = "qe"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val scored = scoredPairs(vectors, queries, metric, idCol, vecCol, queryIdCol, queryVecCol)
      .toDF("qid", "id", "score").as[(Long, Long, Double)]
    topKScoredAgg(scored, k, idCol, queryIdCol)
  }

  /** Every (query, vector) pair of the broadcast cross join with its
    * rounded score: (queryIdCol, idCol, score). */
  private def scoredPairs(vectors: DataFrame, queries: DataFrame, metric: Metric,
      idCol: String, vecCol: String, queryIdCol: String, queryVecCol: String): DataFrame =
    vectors
      .crossJoin(broadcast(queries.select(col(queryIdCol), col(queryVecCol))))
      .select(
        col(queryIdCol),
        col(idCol),
        stableScore(metric.score(col(vecCol), col(queryVecCol))).as("score"))

  /** Per-query bounded-heap top-k over an ALREADY-SCORED
    * (query_id, id, score) dataset — the shared tail of
    * `topKPerQueryAgg` and of callers whose candidate generation is
    * narrower than the full cross product (per-query cell pruning,
    * shortlists). Same q×k-bounded shuffle, same (score DESC, id ASC)
    * order contract on pre-rounded scores. */
  def topKScoredAgg(scored: Dataset[(Long, Long, Double)], k: Int,
      idCol: String = "vec_id", queryIdCol: String = "query_id"): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored
      .groupByKey(_._1)
      .agg(TopKAggregate.topK[(Long, Long, Double)](k)(r => (r._2, r._3))
        .toColumn.name("top"))
      .toDF("qid", "top")
      .select(col("qid").as(queryIdCol),
        posexplode(col("top")).as(Seq("pos", "entry")))
      .select(col(queryIdCol),
        col("entry._1").as(idCol),
        col("entry._2").as("score"),
        (col("pos") + 1).cast("long").as("rank"))
      .orderBy(col(queryIdCol).asc, col("rank").asc)
  }
}
