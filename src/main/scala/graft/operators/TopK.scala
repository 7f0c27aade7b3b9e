package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one ranked top-k of graft: `row_number() ≤ k` over the key
  * groups, a plan Spark builds itself (SURVEY §7.6: top-k is built in).
  *
  * With keys, the optimizer infers a `WindowGroupLimit` and plans its
  * partial half below the key shuffle, so each map partition sends at
  * most k rows per key; with `keys = Nil` it plans a
  * `TakeOrderedAndProject(limit = k)` under the window, a distributed
  * top-k head rather than a single-partition sort of the input. The
  * filter reads the raw rank, and the cast to long comes after it: a
  * filter on a cast rank is not one the group limit is inferred from.
  *
  * Ties follow `order`, so callers end it with an id tiebreak; the rank
  * is then the same under any partitioning of `rows`. */
object TopK {

  /** The first `k` rows of each `keys` group by `order`, with their
    * 1-based rank as a long column `rankCol`. */
  def per(rows: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int,
      rankCol: String = "rank"): DataFrame =
    rows
      .withColumn(rankCol, row_number().over(Window.partitionBy(keys: _*).orderBy(order: _*)))
      .filter(col(rankCol) <= k)
      .withColumn(rankCol, col(rankCol).cast("long"))

  /** Each `keys` group of a [[per]] result as one row with `out`, its
    * `idCol` values in rank order. */
  def ids(ranked: DataFrame, keys: Seq[Column], idCol: String, rankCol: String = "rank",
      out: String): DataFrame =
    ranked.groupBy(keys: _*)
      .agg(transform(array_sort(collect_list(struct(col(rankCol), col(idCol)))),
        x => x.getField(idCol)).as(out))
}
