package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextOps

/** Integer-exact token 3-gram language model over hashed contexts —
  * the CCNet-style FLUENCY stage of a quality pipeline (train an
  * n-gram LM on the curated reference corpus, score crawl docs by how
  * probable the LM finds their token sequences; low scorers are
  * boilerplate, shuffles, or gibberish). Complements the other two
  * quality signals: Gopher's rules are order-blind surface ratios and
  * the NB classifier is a bag-of-features fit — both are BLIND to
  * token ORDER, which is exactly what an n-gram LM measures (TextSpec
  * pins the separation on a shuffled-token fixture both others cannot
  * see).
  *
  * Exactness doctrine (shared with NaiveBayes/DSIR): no logs, no
  * floats. The per-position Laplace-smoothed conditional probability
  * becomes an integer vote in ppm,
  *
  *   q(w3|w1 w2) = (n3+1) · 1e6 div (n2 + V)
  *
  * with n3 = training occurrences of the trigram's hash bucket, n2 =
  * training occurrences of its 2-token context's bucket, V the
  * smoothing constant — and a doc's score is the integer MEAN vote
  * over its trigram positions (an additive surrogate for the
  * product-form chain probability: libm log is not bit-identical
  * across engines; integer sums and divisions are). A DuckDB oracle
  * replays training AND scoring from raw text bit-for-bit. The
  * cross-multiplied numerator is computed in decimal(38,0) (the
  * NaiveBayes discipline), so the exactness contract holds at corpus
  * scale, not just test scale.
  *
  * Scale shape: both count tables are BOUNDED (TriBuckets /
  * CtxBuckets rows) whatever the corpus size, so they broadcast and
  * scoring is two map-side joins plus one doc-keyed aggregation —
  * the corpus is never shuffled on a feature key (training's groupBys
  * move only map-side-combined partials into bounded frames).
  */
object NgramLm {

  /** Hash-space sizes: trigram and context count tables are bounded at
    * these row counts. V doubles as the Laplace denominator constant. */
  val TriBuckets = 8192
  val CtxBuckets = 4096
  val SmoothV = 4096

  /** One row per trigram OCCURRENCE: idCols..., f3 (hashed trigram
    * bucket), f2 (hashed 2-token-context bucket). Docs with fewer than
    * 3 tokens contribute no rows (and so never reach scoring — a
    * 0-trigram doc has no fluency evidence either way). */
  def feats(docs: DataFrame, idCols: Seq[String]): DataFrame =
    docs.select(idCols.map(col) :+
        explode(TextOps.shingles(TextOps.tokens(col("text")), 3)).as("tri"): _*)
      .select(idCols.map(col)
        :+ (TextOps.md5Long(col("tri")) % TriBuckets).as("f3")
        // a token never contains a space, so the context is the
        // trigram's first two tokens
        :+ (TextOps.md5Long(substring_index(col("tri"), " ", 2)) % CtxBuckets).as("f2"): _*)

  /** Train the two bounded count tables from the reference side's
    * occurrence rows: (f3, n3) and (f2, n2). The context counts come
    * from the SAME occurrence frame (a context is counted once per
    * trigram it heads), the standard conditional-LM denominator. */
  def train(refFeats: DataFrame): (DataFrame, DataFrame) = (
    refFeats.groupBy(col("f3")).agg(count(lit(1)).as("n3")),
    refFeats.groupBy(col("f2")).agg(count(lit(1)).as("n2")))

  /** Score documents against the trained tables: one row per doc with
    * groupCols..., n_tris, lm_ppm (the mean per-position vote).
    * Unseen buckets fall back to the pure-smoothing vote via the left
    * joins' coalesce — the +1/+V prior, not a dropped position. */
  def score(feats: DataFrame, counts3: DataFrame, counts2: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    // the decimal numerator is a function of the trigram bucket alone:
    // computed once per bounded count-table row and broadcast, so the
    // corpus pass pays one decimal-by-long div per occurrence, never a
    // per-occurrence decimal multiply (the NaiveBayes.score discipline)
    val numTable = counts3.select(col("f3"),
      expr("cast(n3 + 1L as decimal(38,0)) * 1000000L").as("num"))
    val vote = feats
      .join(broadcast(numTable), Seq("f3"), "left")
      .join(broadcast(counts2), Seq("f2"), "left")
      .select(groupCols.map(col) :+
        expr(s"""coalesce(num, cast(1000000L as decimal(38,0))) div
                |(coalesce(n2, 0L) + $SmoothV)""".stripMargin).as("q_ppm"): _*)
    vote.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).cast("long").as("n_tris"),
        sum(col("q_ppm")).as("sq"))
      .select(groupCols.map(col) :+
        col("n_tris") :+
        expr("sq div n_tris").as("lm_ppm"): _*)
  }
}
