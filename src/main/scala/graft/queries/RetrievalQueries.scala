package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextOps, VectorOps}
import graft.operators.Cuts.CutOps

/** Text retrieval over the documents corpus — the query-side operators
  * a RAG / training-data pipeline runs next to its dedup and ANN
  * stages: Okapi BM25 scoring with a fixed query, and hybrid fusion of
  * the lexical and vector rankings via Reciprocal Rank Fusion
  * (Cormack et al., SIGIR'09 — public formula, rrf = Σ 1/(k + rank)).
  *
  * Scale shape: scoring is MAP-ONLY over the corpus (term df counts
  * and the average length ride in as broadcast literals from one
  * bounded 1-row aggregate), ranking is a top-k, and fusion joins two
  * k-row heads — nothing shuffles the corpus by term, which is what
  * keeps BM25 one scan at 100 TB (an inverted-index variant would
  * partition by term; for a FIXED small query the scan wins).
  *
  * Cross-engine float discipline (the DuckDB oracle must hash-match):
  * all constants are written as the same decimal literals on both
  * sides (never computed — 1.2+1 and the literal 2.2 are DIFFERENT
  * doubles), idf is rounded to 6 decimals on both sides BEFORE use so
  * a 1-ulp libm ln() divergence cannot propagate into every score,
  * and both engines rank by the ROUNDED score with a doc_id tiebreak
  * so rank assignment is identical whenever the hashes would match.
  */
object RetrievalQueries extends QueryRegistry {
  import Tables._
  import OracleFrag._

  /** The fixed lexical query (terms present throughout the corpus —
    * scoring differentiates on tf and length normalization). */
  private val Terms = Seq("hash", "join", "filter")

  /** BM25 constants as STRINGS — single source for both engines'
    * literals (see the float-discipline note above). */
  private val K1Plus1 = "2.2"
  private val K1 = "1.2"
  private val OneMinusB = "0.25"
  private val B = "0.75"

  /** (doc_id, rounded bm25 score) for the whole corpus, map-only.
    * Memoized per (session, dir): the 1-row df/avglen aggregate collect
    * and the scored-plan construction happen once, shared by bm25_topk
    * and hybrid_rrf_fusion (the SharedBuilds discipline every other
    * expensive shared artifact follows). */
  private def bm25Scores(s: SparkSession, dir: String): DataFrame =
    SharedBuilds.of(s, dir, "bm25-scores")(bm25(documents(s, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks")), "toks", Seq("doc_id")))

  /** idf literals the LAST bm25 scoring of each corpus computed, keyed
    * by its token column, captured so the oracle SQL can interpolate
    * the exact same doubles instead of recomputing ln() in DuckDB
    * (rint-vs-round tie rules differ AND a 1-ulp libm divergence near a
    * 6th-decimal boundary could flip the rounded value — a literal
    * cannot diverge). Verify runs every query before dumping oracleSql
    * in the same JVM, and each value is a pure function of (corpus,
    * Terms), so any interleaving writes the same map. */
  private val capturedIdf = scala.collection.concurrent.TrieMap.empty[String, Map[String, Double]]

  /** Okapi BM25 of the fixed query over `units`, map-only: the `keys`
    * columns and the rounded score `bm25`. `units` holds the keys and
    * the token array column `toks`; the df counts and the average
    * length come from one 1-row aggregate, and the idf literals,
    * pre-rounded to 6 decimals, are captured for [[bm25Ctes]]. */
  private def bm25(units: DataFrame, toks: String, keys: Seq[String]): DataFrame = {
    val docs = units.withColumn("dlen", size(col(toks)).cast("double"))
    val row = docs.agg(
      count(lit(1)).as("n"),
      sum(col("dlen")).as("sl") +:
        Terms.map(t => sum(when(array_contains(col(toks), t), 1L)
          .otherwise(0L)).as(s"df_$t")): _*)
      .collect()(0) // 1-row head: N, Σlen, |Terms| df counts
    val n = row.getAs[Long]("n")
    val avglen = row.getAs[Double]("sl") / n
    val idfs = Terms.map { t =>
      val df = row.getAs[Long](s"df_$t")
      t -> math.rint(math.log(1.0 + (n - df + 0.5) / (df + 0.5)) * 1e6) / 1e6
    }.toMap
    capturedIdf(toks) = idfs
    val score: Column = Terms.map { t =>
      val idf = idfs(t)
      val tf = size(filter(col(toks), x => x === t)).cast("double")
      (lit(idf) * (tf * lit(K1Plus1.toDouble))) /
        (tf + lit(K1.toDouble) *
          (lit(OneMinusB.toDouble) + (lit(B.toDouble) * col("dlen")) / lit(avglen)))
    }.reduce(_ + _)
    docs.select(keys.map(col) :+ (round(score, 6) + 0.0).as("bm25"): _*)
  }

  /** [[bm25]] as DuckDB CTEs (shared literals/shape): `units` are CTEs
    * whose last, `src`, holds the `keys` and the token column `toks`;
    * then `n` and `tf`, and `sc` (keys, bm25). The idf factor is
    * interpolated as the EXACT rounded literal the Spark side computed
    * (capturedIdf — Verify runs every query before dumping oracleSql,
    * so it is always set by then). Fallback (oracle requested before
    * any scoring ran) keeps the in-engine ln() twin. */
  private def bm25Ctes(units: String, src: String, toks: String, keys: String): String = {
    def idfSql(t: String): String = capturedIdf.get(toks) match {
      case Some(m) => "CAST(" + String.format(java.util.Locale.ROOT,
        "%.6f", Double.box(m(t))) + " AS DOUBLE)" // locale-pinned dot
      case None =>
        s"round(ln(1 + (CAST(n.n AS DOUBLE) - df_$t + 0.5) / (df_$t + 0.5)), 6)"
    }
    val contrib = Terms.map { t =>
      s"""(${idfSql(t)}
         | * (tf_$t * CAST($K1Plus1 AS DOUBLE)))
         | / (tf_$t + CAST($K1 AS DOUBLE)
         |    * (CAST($OneMinusB AS DOUBLE) + (CAST($B AS DOUBLE) * dlen) / n.avglen))"""
        .stripMargin.replaceAll("\n", " ")
    }.mkString(" + ")
    val dfSel = Terms.map(t =>
      s"sum(CASE WHEN list_contains($toks, '$t') THEN 1 ELSE 0 END) AS df_$t")
      .mkString(", ")
    val tfSel = Terms.map(t =>
      s"CAST(len(list_filter($toks, x -> x = '$t')) AS DOUBLE) AS tf_$t")
      .mkString(", ")
    s"""WITH $units,
       |n AS (SELECT count(*) AS n, CAST(sum(len($toks)) AS DOUBLE) / count(*) AS avglen,
       |             $dfSel
       |      FROM $src),
       |tf AS (SELECT $keys, CAST(len($toks) AS DOUBLE) AS dlen, $tfSel FROM $src),
       |sc AS (SELECT $keys, round($contrib, 6) + 0.0 AS bm25 FROM tf, n)""".stripMargin
  }

  /** The document scoring as DuckDB CTEs (t → n/tf → sc). */
  private def bm25Sql: String = {
    import graft.queries.TextQueries.{F => TF}
    bm25Ctes(s"t AS (SELECT doc_id, ${TF.toks("text")} AS toks FROM documents)",
      "t", "toks", "doc_id")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // MMR diversified reranking (Carbonell & Goldstein 1998, the
    // public maximal-marginal-relevance formula): greedy-select 8 of
    // the cosine top-20 (query = embedding 0) maximizing
    // 0.5·rel − 0.5·max-sim-to-already-selected. The production shape:
    // the SHORTLIST is a distributed TakeOrderedAndProject over the
    // corpus; the greedy loop then runs 8 argmax jobs over the
    // 20-row checkpointed shortlist (each selection a 1-row bounded
    // head) with the already-selected embeddings riding as array
    // literals — selection cost is O(k²) whatever the corpus size.
    // Exactness: rel and pairwise sims use the same ordered-fold
    // cosine both engines share, rounded to 6 before combining, and
    // 0.5·x is an exact binary scale — the oracle unrolls the same 8
    // steps and must select the identical chain.
    "mmr_diversified_topk" -> ((s, dir) => {
      import s.implicits._
      val emb = embeddings(s, dir)
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      val cand = emb.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id").as("doc_id"), col("embedding"),
          (round(VectorOps.cosine(col("embedding"), col("qe")), 6) + 0.0).as("rel"))
        .orderBy(col("rel").desc, col("doc_id").asc)
        .limit(20)
        .cut()
      var picked = Vector.empty[(Long, Double, Double, Seq[Float])]
      // `picked.size == step - 1` stops the walk once the shortlist is
      // exhausted (< 8 candidates) — the oracle's s_i CTEs go empty at
      // the same step, so both sides stop at the identical prefix
      for (step <- 1 to 8 if picked.size == step - 1) {
        val selEmbs = picked.map(_._4)
        val sims = selEmbs.map(e =>
          VectorOps.cosine(col("embedding"), typedLit(e)))
        val maxsim =
          if (sims.isEmpty) lit(0.0)
          else if (sims.size == 1) round(sims.head, 6) + 0.0
          else round(greatest(sims: _*), 6) + 0.0
        val score = lit(0.5) * col("rel") - lit(0.5) * maxsim
        val top = cand
          .filter(!col("doc_id").isin(picked.map(_._1): _*))
          .select(col("doc_id"), col("rel"),
            (round(score, 6) + 0.0).as("mmr_score"), col("embedding"))
          .orderBy(col("mmr_score").desc, col("doc_id").asc)
          .limit(1).collect()
        if (top.nonEmpty) {
          val r = top(0)
          picked :+= ((r.getLong(0), r.getDouble(1), r.getDouble(2),
            r.getSeq[Float](3).toIndexedSeq))
        }
      }
      picked.zipWithIndex
        .map { case ((id, rel, sc, _), i) => (i + 1L, id, rel, sc) }
        .toDF("step", "doc_id", "relevance", "mmr_score")
        .orderBy(col("step"))
    }),

    // Okapi BM25 top-15 for the fixed query — lexical retrieval as one
    // map-only scan + TakeOrderedAndProject
    "bm25_topk" -> ((s, dir) =>
      bm25Scores(s, dir)
        .orderBy(col("bm25").desc, col("doc_id").asc)
        .limit(15)),

    // pseudo-relevance-feedback expansion (Rocchio/RM1 family — the
    // classic recall lever): take the BM25 top-3 as feedback docs,
    // pick the 5 heaviest non-query terms in them (integer tf sums,
    // tie to term asc — a bounded 5-row head, the MMR/BPE collect
    // discipline), then rescore the corpus with
    //   expanded = bm25 + 0.3 · Σ_t w_t·satFp(t) / (W·1e6),
    // where sat is the idf-FREE BM25 tf-saturation and satFp is sat
    // rounded into 1e-6 FIXED-POINT LONGS: the per-term contributions
    // sum associatively, so Spark's fold order and DuckDB's SUM order
    // cannot diverge in the last ulp (the PageRank long-sum doctrine
    // applied to retrieval). Second pass is map-only (terms ride as
    // literals); one thin doc_id join staples it to the memoized base
    // scores. Top-10 by expanded score
    "bm25_prf_expansion" -> ((s, dir) => {
      val base = bm25Scores(s, dir)
      val docs = documents(s, dir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      val fb = base.orderBy(col("bm25").desc, col("doc_id").asc).limit(3)
        .select(col("doc_id"))
      val ew = docs.join(fb, "doc_id")
        .select(explode(col("toks")).as("tok"))
        .filter(!col("tok").isin(Terms: _*))
        .groupBy(col("tok")).agg(count(lit(1)).as("w"))
        .orderBy(col("w").desc, col("tok").asc).limit(5)
        .collect().map(r => (r.getString(0), r.getLong(1))) // <=5-row head
      // guard the degenerate corpus where every feedback-doc token is a
      // query term: ew empty → wTot 0 → 0/0 = NaN would silently rank
      // the top-10 by NaN ordering. max(.,1) makes the expansion term
      // exactly 0 there (expanded == bm25), in BOTH engines
      val wTot = math.max(ew.map(_._2).sum, 1L)
      val row = docs.agg(count(lit(1)).as("n"),
        sum(size(col("toks")).cast("double")).as("sl")).collect()(0)
      val avglen = row.getDouble(1) / row.getLong(0) // exact: integer-valued doubles
      val dlen = size(col("toks")).cast("double")
      def satFp(t: String): Column = {
        val tf = size(filter(col("toks"), x => x === t)).cast("double")
        round(tf * lit(K1Plus1.toDouble) /
          (tf + lit(K1.toDouble) *
            (lit(OneMinusB.toDouble) + lit(B.toDouble) * dlen / lit(avglen)))
          * 1e6).cast("long")
      }
      val sumFp = ew.map { case (t, w) => lit(w) * satFp(t) }
        .reduceOption(_ + _).getOrElse(lit(0L))
      val exp = docs.select(col("doc_id"), sumFp.as("sfp"))
      base.join(exp, "doc_id")
        .select(col("doc_id"), col("bm25"),
          (round(col("bm25") + lit(0.3) *
            (col("sfp").cast("double") / lit(wTot * 1e6)), 6) + 0.0)
            .as("expanded"))
        .orderBy(col("expanded").desc, col("doc_id").asc)
        .limit(10)
    }),

    // Hybrid retrieval: BM25 top-20 and cosine-ANN top-20 (query =
    // embedding 0, doc_id ≡ vec_id as in semantic_dedup) fused with
    // RRF (k = 60). Both rank lists are k-row heads; the fusion is a
    // full outer join of two tiny frames — corpus touched twice,
    // shuffled never.
    "hybrid_rrf_fusion" -> ((s, dir) => {
      // top-k FIRST (distributed TakeOrderedAndProject over the
      // corpus), ranks assigned on the 20-row head after — a global
      // row_number window over the full corpus would single-partition
      // the scan, the exact anti-pattern this layering avoids
      val lex = bm25Scores(s, dir)
        .orderBy(col("bm25").desc, col("doc_id").asc).limit(20)
        .withColumn("brank",
          row_number().over(Window.orderBy(col("bm25").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("brank"))
      val emb = embeddings(s, dir)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).collect()(0).getSeq[Float](0)
      val vec = emb
        .select(col("vec_id"),
          (round(VectorOps.cosine(col("embedding"), typedLit(q)), 6) + 0.0)
            .as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc).limit(20)
        .withColumn("crank",
          row_number().over(Window.orderBy(col("cos").desc, col("vec_id").asc)))
        .select(col("vec_id").as("doc_id"), col("crank"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (round(
            coalesce(lit(1.0) / (lit(60) + col("brank")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("crank")), lit(0.0)), 6) + 0.0)
            .as("rrf"),
          col("brank").cast("long").as("bm25_rank"),
          col("crank").cast("long").as("cos_rank"))
        .orderBy(col("rrf").desc, col("doc_id").asc)
        .limit(10)
    }),

    // hard-negative mining — the training-data op behind embedding-
    // model fine-tuning (DPR/SBERT curricula): docs that score HIGH
    // lexically (BM25 top-20) but are NOT semantically relevant
    // (outside the exact-cosine top-20 for the query embedding) are
    // exactly the "lexically confusable, semantically far" negatives
    // a contrastive trainer wants. Complement of hybrid fusion: that
    // query UNIONS the two rankings, this one SUBTRACTS them. Two
    // distributed top-k heads + a 20-row anti-join — corpus scanned
    // twice, shuffled never
    "hard_negative_mining" -> ((s, dir) => {
      val lex = bm25Scores(s, dir)
        .orderBy(col("bm25").desc, col("doc_id").asc).limit(20)
        .withColumn("brank",
          row_number().over(Window.orderBy(col("bm25").desc, col("doc_id").asc)))
      val emb = embeddings(s, dir)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).collect()(0).getSeq[Float](0)
      val sem = emb
        .select(col("vec_id").as("doc_id"),
          (round(VectorOps.cosine(col("embedding"), typedLit(q)), 6) + 0.0)
            .as("cos"))
        .orderBy(col("cos").desc, col("doc_id").asc).limit(20)
        .select(col("doc_id"))
      lex.join(sem, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("brank").cast("long").as("bm25_rank"),
          col("bm25"))
        .orderBy(col("bm25_rank"))
    }),

    // rank-quality metrics of the lexical run against dense relevance —
    // the offline eval loop every RAG/retrieval pipeline runs: the
    // BM25 top-20 is the RUN, the exact-cosine top-10 for query
    // embedding 0 is the RELEVANT set (doc_id ≡ vec_id, as in
    // hybrid_rrf_fusion), and one row of metrics comes out: MRR@20,
    // P@10, hits@20, and a discounted-cumulative-gain pair. The DCG
    // discount is HARMONIC (1/(1+rank)) rather than 1/log2(1+rank) —
    // a documented deviation: rational arithmetic is bit-identical
    // across engines where libm log2 is not (the N/df-IDF doctrine).
    // All rank sums fold in ascending-rank order on both sides, so
    // IEEE addition order can never flake the hash. Scale shape: two
    // distributed top-k heads (TakeOrderedAndProject over each scan),
    // then all metric arithmetic on ≤20-row frames.
    "retrieval_rank_metrics" -> ((s, dir) => {
      val run = bm25Scores(s, dir)
        .orderBy(col("bm25").desc, col("doc_id").asc).limit(20)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("bm25").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("rank"))
      val emb = embeddings(s, dir)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).collect()(0).getSeq[Float](0)
      val rel = emb
        .select(col("vec_id"),
          (round(VectorOps.cosine(col("embedding"), typedLit(q)), 6) + 0.0)
            .as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc).limit(10)
        .select(col("vec_id").as("doc_id"))
      val hits = run.join(rel, Seq("doc_id"), "left_semi")
      // ideal DCG for 10 relevant docs at ranks 1..10: ((0 + 1/2) +
      // 1/3) + ... + 1/11, folded in the same order in DuckDB
      val ideal = aggregate(sequence(lit(2), lit(11)), lit(0.0),
        (a, i) => a + lit(1.0) / i.cast("double"))
      // ascending-rank ordered fold of the harmonic gains (zero terms
      // past rank 10 are exact no-ops under IEEE +)
      val dcgRaw = Folds.orderedSum(col("rank"),
        when(col("rank") <= 10, lit(1.0) / (col("rank") + 1).cast("double"))
          .otherwise(lit(0.0)))
      hits.agg(
        (round(coalesce(max(lit(1.0) / col("rank").cast("double")), lit(0.0)), 6) + 0.0)
          .as("mrr_at_20"),
        (round(coalesce(sum(when(col("rank") <= 10, 1L).otherwise(0L)), lit(0L))
          .cast("double") / lit(10.0), 6) + 0.0).as("p_at_10"),
        count(lit(1)).as("hits_at_20"),
        (round(dcgRaw, 6) + 0.0).as("dcg_h10"),
        (round(dcgRaw / ideal, 6) + 0.0).as("ndcg_h10"))
    }),

    // ColBERT-style late interaction (Khattab & Zaharia, SIGIR 2020 —
    // public MaxSim formula): treat each 64-dim embedding as m=4
    // contiguous 16-dim "token" sub-vectors; score(doc) =
    // Σ_qi max_dj cos(q_i, d_j). Here that is a STATIC 4×4 expression
    // tree over array slices — query chunks ride as broadcast
    // literals, the corpus scan stays map-only (no explode, no join,
    // no shuffle; the same single-scan + TakeOrdered shape as
    // knn_cosine), which is exactly how a 100 TB late-interaction
    // scorer should plan when the query side is one bounded vector
    // set. max is order-insensitive and each sub-cosine folds in
    // index order on both engines, so the oracle replays it exactly.
    "late_interaction_topk" -> ((s, dir) => {
      val m = 4; val sub = 16
      val emb = embeddings(s, dir)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).collect()(0).getSeq[Float](0)
      val score = (0 until m).map { qi =>
        val qc = typedLit(q.slice(qi * sub, qi * sub + sub))
        greatest((0 until m).map { dj =>
          VectorOps.cosine(slice(col("embedding"), dj * sub + 1, sub), qc)
        }: _*)
      }.reduce(_ + _)
      emb.select(col("vec_id"), (round(score, 6) + 0.0).as("maxsim"))
        .orderBy(col("maxsim").desc, col("vec_id").asc)
        .limit(10)
    }),

    // RAG chunking audit — the sliding-window tokenizer split every
    // retrieval corpus is built from: W=16-token windows at stride
    // S=8, chunk i covering toks[i*S+1 .. i*S+W] (tail chunks run
    // short, counted separately). The whole chunker is a PER-DOC FOLD
    // over the start offsets (aggregate over sequence) — map-only, no
    // explode, no shuffle carries text — and the per-source rollup
    // content-checks every chunk via a summed 60-bit md5 of
    // (doc_id:idx:chunk), so a single drifted token boundary anywhere
    // in the corpus flips the checksum. Long sums are exact and
    // order-insensitive, so IEEE/fold-order can't flake the hash.
    "rag_chunk_stats" -> ((s, dir) => {
      val (w, st) = (ChunkW, ChunkS)
      val perDoc = documents(s, dir)
        .select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")))
        .withColumn("nc", ceil(col("n").cast("double") / st).cast("int"))
        .select(col("doc_id"), col("source"), col("n"), col("nc"),
          when(col("nc") === 0, lit(0L)).otherwise(
            aggregate(sequence(lit(0), col("nc") - 1), lit(0L), (acc, i) =>
              acc + TextOps.md5Long(concat(
                col("doc_id").cast("string"), lit(":"), i.cast("string"), lit(":"),
                array_join(slice(col("toks"), i * st + 1, lit(w)), " ")))
                % 1000000007L)).as("csum"),
          when(col("nc") === 0, lit(0L)).otherwise(
            aggregate(sequence(lit(0), col("nc") - 1), lit(0L), (acc, i) =>
              acc + when(col("n") - i * st < w, 1L).otherwise(0L)))
            .as("short_chunks"))
      perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nc")).cast("long").as("n_chunks"),
          sum(col("short_chunks")).as("short_chunks"),
          sum(col("csum")).as("checksum"))
        .orderBy(col("source"))
    }),

    // BM25 at CHUNK granularity — the retrieval unit a RAG pipeline
    // actually serves (score the passage, return the doc+offset).
    // Same Okapi scoring and float discipline as bm25_topk, but the
    // corpus is the chunk table: one Generate (flatMap) expands docs
    // to chunks — the distributed explode shape, no shuffle until the
    // final top-k head — and the chunk-level df/avglen constants ride
    // in from one bounded 1-row aggregate exactly like the doc-level
    // scorer. idf literals are captured and interpolated verbatim
    // into the oracle (capturedIdf, same rint/libm defense).
    "chunk_bm25_topk" -> ((s, dir) =>
      chunkBm25Scores(s, dir)
        .orderBy(col("bm25").desc, col("doc_id").asc, col("cidx").asc)
        .limit(10)),

    // inverted-index PHRASE search — the term-partitioned design the
    // BM25 scorer's comment contrasts with: a durable postings store
    // (term, doc_id, 1-based position) partitioned by a 64-way term-
    // hash bucket, probed for the adjacent-pair phrase "hash join".
    // Scale shape: the build is one explode + partitioned write (the
    // index cost you pay once); the probe computes each term's bucket
    // DRIVER-SIDE from the same md5 the partitioning used, so the
    // scan prunes to 2 of 64 partitions before any IO, and the
    // position intersection joins two term-posting frames on doc_id —
    // at 100 TB the probe cost tracks the two df's, never the corpus.
    "phrase_search" -> ((s, dir) => {
      val store = s.read.parquet(postingsPath(s, dir))
      def postings(term: String, out: String): DataFrame =
        store.filter(col("bucket") === bucketOf(term) && col("term") === term)
          .select(col("doc_id"), col("pos").as(out))
      postings("hash", "pa").join(postings("join", "pb"), Seq("doc_id"))
        .filter(col("pb") === col("pa") + 1)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_phrase"))
        .orderBy(col("n_phrase").desc, col("doc_id").asc)
        .limit(20)
    }),

    // audit of the same postings store: vocabulary size, posting
    // count, max document frequency — the census that sizes posting
    // lists (and flags the stop-term skew a term-partitioned layout
    // must plan around)
    "inverted_postings_stats" -> ((s, dir) => {
      val store = s.read.parquet(postingsPath(s, dir))
      store.groupBy(col("term"))
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("doc_id")).as("df"))
        .agg(count(lit(1)).as("n_terms"),
          sum(col("cnt")).as("n_postings"),
          max(col("df")).as("max_df"))
    }),
  )

  /** Driver-side twin of the store's bucket expression
    * (pmod(md5Long(term), 64)) — lets the probe prune partitions
    * without touching data. md5Long = first 15 md5 hex digits as a
    * non-negative 60-bit long, so plain % is pmod. */
  private def bucketOf(term: String): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8"))
    val hex = md.map("%02x".format(_)).mkString.take(15)
    (java.lang.Long.parseLong(hex, 16) % 64).toInt
  }

  /** Durable postings store, built once per (session, dir): one
    * explode of the tokenized corpus, written partitioned by the
    * 64-way term-hash bucket so term-equality probes become partition
    * pruning (the same discipline as the LSH/IVF stores). */
  private def postingsPath(s: SparkSession, dir: String): String =
    SharedBuilds.of(s, dir, "inverted-postings") {
      val path = Tables.buildPath(dir, "inverted-postings")
      documents(s, dir)
        .select(col("doc_id"),
          posexplode(TextOps.tokens(col("text"))).as(Seq("pos0", "term")))
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
          col("term"),
          pmod(TextOps.md5Long(col("term")), lit(64L)).cast("int").as("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(path)
      path
    }

  /** Chunking constants — single source for both engines (window W
    * tokens, stride S; chunk i = toks[i*S+1 .. i*S+W], 1-based,
    * truncating at the tail). */
  private val ChunkW = 16
  private val ChunkS = 8

  /** (doc_id, cidx, ctoks) chunk table: explode of the per-doc start
    * sequence. Empty-token docs chunk to nothing (explode of an empty
    * sequence drops the row), matching the SQL twin's WHERE len>0. */
  private def chunkTable(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .withColumn("nc",
        ceil(size(col("toks")).cast("double") / ChunkS).cast("int"))
      .filter(col("nc") > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("nc") - 1)).as("cidx"))
      .select(col("doc_id"), col("cidx").cast("long").as("cidx"),
        slice(col("toks"), col("cidx") * ChunkS + 1, lit(ChunkW)).as("ctoks"))

  private def chunkBm25Scores(s: SparkSession, dir: String): DataFrame =
    SharedBuilds.of(s, dir, "chunk-bm25-scores")(
      bm25(chunkTable(s, dir), "ctoks", Seq("doc_id", "cidx")))

  /** The chunk-corpus scoring as DuckDB CTEs (t → ct → n/tf → sc). */
  private def chunkBm25Sql: String = {
    import graft.queries.TextQueries.{F => TF}
    bm25Ctes(
      s"""t AS (SELECT doc_id, ${TF.toks("text")} AS toks FROM documents),
         |d AS (SELECT doc_id, toks,
         |        CAST(ceil(len(toks) / $ChunkS.0) AS INT) AS nc
         |      FROM t WHERE len(toks) > 0),
         |cx AS (SELECT doc_id, toks, unnest(range(nc)) AS cidx FROM d),
         |ct AS (SELECT doc_id, CAST(cidx AS BIGINT) AS cidx,
         |         toks[CAST(cidx * $ChunkS + 1 AS INT):CAST(cidx * $ChunkS + $ChunkW AS INT)] AS ctoks
         |       FROM cx)""".stripMargin,
      "ct", "ctoks", "doc_id, cidx")
  }

  /** Unrolled 8-step MMR greedy chain for the DuckDB oracle — each
    * step re-derives max-sim-to-selected from the prior step CTEs with
    * the exact rounding layering of the Spark loop above. */
  private def mmrOracleSql: String = {
    val qe = "(SELECT embedding FROM embeddings WHERE vec_id = 0)"
    def cosSel(j: Int) = cosine("c.embedding", s"(SELECT embedding FROM s$j)")
    def stepSql(i: Int): String = {
      val maxsim =
        if (i == 1) "0.0"
        else if (i == 2) s"round(${cosSel(1)}, 6) + 0.0"
        else s"round(greatest(${(1 until i).map(cosSel).mkString(", ")}), 6) + 0.0"
      val notIn =
        if (i == 1) ""
        else "WHERE c.doc_id NOT IN (" +
          (1 until i).map(j => s"SELECT doc_id FROM s$j").mkString(" UNION ALL ") + ")"
      s"""s$i AS MATERIALIZED (SELECT c.doc_id, c.rel, c.embedding,
         |  round(0.5*c.rel - 0.5*($maxsim), 6) + 0.0 AS mmr_score
         |  FROM cand c $notIn
         |  ORDER BY mmr_score DESC, c.doc_id LIMIT 1)""".stripMargin
    }
    val union = (1 to 8)
      .map(i => s"SELECT $i AS step, doc_id, rel, mmr_score FROM s$i")
      .mkString(" UNION ALL ")
    s"""WITH cand AS MATERIALIZED (
       |  SELECT e.vec_id AS doc_id, e.embedding,
       |         round(${cosine("e.embedding", qe)}, 6) + 0.0 AS rel
       |  FROM embeddings e WHERE e.vec_id <> 0
       |  ORDER BY rel DESC, doc_id LIMIT 20),
       |${(1 to 8).map(stepSql).mkString(",\n")}
       |SELECT CAST(step AS BIGINT) AS step, doc_id, rel AS relevance, mmr_score
       |FROM ($union) ORDER BY step""".stripMargin
  }

  override def oracle: Map[String, String] = Map(
    "mmr_diversified_topk" -> mmrOracleSql,


    "bm25_topk" ->
      s"""$bm25Sql
         |SELECT doc_id, bm25 FROM sc
         |ORDER BY bm25 DESC, doc_id ASC
         |LIMIT 15""".stripMargin,

    // full in-SQL replay of the PRF chain: feedback top-3 off the
    // shared bm25 CTEs, integer term weights, fixed-point saturation
    // longs (associative SUM — order-proof), same literals
    "bm25_prf_expansion" -> {
      val termsNotIn = Terms.map("'" + _ + "'").mkString("(", ",", ")")
      s"""$bm25Sql,
         |fb AS (SELECT doc_id FROM sc ORDER BY bm25 DESC, doc_id ASC LIMIT 3),
         |ew AS (SELECT tok, CAST(count(*) AS BIGINT) AS w FROM (
         |         SELECT unnest(t.toks) AS tok FROM t JOIN fb USING (doc_id))
         |       WHERE tok NOT IN $termsNotIn
         |       GROUP BY tok ORDER BY w DESC, tok ASC LIMIT 5),
         |ws AS (SELECT greatest(coalesce(CAST(sum(w) AS BIGINT), 0), 1) AS wt FROM ew),
         |ex AS (SELECT f.doc_id,
         |         CAST(sum(ew.w * CAST(round(
         |           (CAST(len(list_filter(f.toks, x -> x = ew.tok)) AS DOUBLE) * CAST($K1Plus1 AS DOUBLE))
         |           / (CAST(len(list_filter(f.toks, x -> x = ew.tok)) AS DOUBLE)
         |              + CAST($K1 AS DOUBLE) * (CAST($OneMinusB AS DOUBLE)
         |                + CAST($B AS DOUBLE) * CAST(len(f.toks) AS DOUBLE) / n.avglen))
         |           * 1000000.0) AS BIGINT)) AS BIGINT) AS sfp
         |       FROM t f CROSS JOIN ew, n GROUP BY f.doc_id)
         |SELECT sc.doc_id, sc.bm25,
         |       round(sc.bm25 + CAST(0.3 AS DOUBLE)
         |             * (CAST(coalesce(ex.sfp, 0) AS DOUBLE) / ((SELECT wt FROM ws) * 1000000.0)), 6) + 0.0 AS expanded
         |FROM sc LEFT JOIN ex ON sc.doc_id = ex.doc_id
         |ORDER BY expanded DESC, sc.doc_id ASC LIMIT 10""".stripMargin
    },

    "hard_negative_mining" ->
      s"""$bm25Sql,
         |lex AS (SELECT doc_id, bm25, brank FROM (
         |    SELECT doc_id, bm25, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS brank
         |    FROM sc) WHERE brank <= 20),
         |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |sem AS (SELECT doc_id FROM (
         |    SELECT e.vec_id AS doc_id,
         |           row_number() OVER (
         |             ORDER BY (round(${cosine("e.embedding", "q.qe")}, 6) + 0.0) DESC,
         |                      e.vec_id ASC) AS crank
         |    FROM embeddings e, qv q) WHERE crank <= 20)
         |SELECT l.doc_id, CAST(l.brank AS BIGINT) AS bm25_rank, l.bm25
         |FROM lex l ANTI JOIN sem s ON l.doc_id = s.doc_id
         |ORDER BY bm25_rank""".stripMargin,

    "hybrid_rrf_fusion" ->
      s"""$bm25Sql,
         |lex AS (SELECT doc_id, brank FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS brank
         |    FROM sc) WHERE brank <= 20),
         |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |vec AS (SELECT vec_id AS doc_id, crank FROM (
         |    SELECT e.vec_id,
         |           row_number() OVER (
         |             ORDER BY (round(${cosine("e.embedding", "q.qe")}, 6) + 0.0) DESC,
         |                      e.vec_id ASC) AS crank
         |    FROM embeddings e, qv q) WHERE crank <= 20)
         |SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         |       round(coalesce(CAST(1.0 AS DOUBLE) / (60 + l.brank), CAST(0.0 AS DOUBLE))
         |             + coalesce(CAST(1.0 AS DOUBLE) / (60 + v.crank), CAST(0.0 AS DOUBLE)), 6) + 0.0 AS rrf,
         |       CAST(l.brank AS BIGINT) AS bm25_rank,
         |       CAST(v.crank AS BIGINT) AS cos_rank
         |FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
         |ORDER BY rrf DESC, doc_id ASC
         |LIMIT 10""".stripMargin,

    "retrieval_rank_metrics" ->
      s"""$bm25Sql,
         |run AS (SELECT doc_id, rank FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank
         |    FROM sc) WHERE rank <= 20),
         |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |rel AS (SELECT vec_id AS doc_id FROM (
         |    SELECT e.vec_id,
         |           row_number() OVER (
         |             ORDER BY (round(${cosine("e.embedding", "q.qe")}, 6) + 0.0) DESC,
         |                      e.vec_id ASC) AS rr
         |    FROM embeddings e, qv q) WHERE rr <= 10),
         |hits AS (SELECT rank FROM run WHERE doc_id IN (SELECT doc_id FROM rel)),
         |ideal AS (SELECT list_reduce(
         |    list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(generate_series(2, 11), i -> CAST(1.0 AS DOUBLE) / i)),
         |    (a, x) -> a + x) AS v),
         |dcg AS (SELECT coalesce(list_reduce(
         |    list_prepend(CAST(0.0 AS DOUBLE),
         |      list(CASE WHEN rank <= 10 THEN CAST(1.0 AS DOUBLE) / (1 + rank)
         |           ELSE CAST(0.0 AS DOUBLE) END ORDER BY rank)),
         |    (a, x) -> a + x), CAST(0.0 AS DOUBLE)) AS raw FROM hits),
         |m AS (SELECT
         |    round(coalesce(max(CAST(1.0 AS DOUBLE) / rank), CAST(0.0 AS DOUBLE)), 6) + 0.0 AS mrr_at_20,
         |    round(CAST(coalesce(sum(CASE WHEN rank <= 10 THEN 1 ELSE 0 END), 0) AS DOUBLE) / 10.0, 6) + 0.0 AS p_at_10,
         |    CAST(count(*) AS BIGINT) AS hits_at_20
         |  FROM hits)
         |SELECT m.mrr_at_20, m.p_at_10, m.hits_at_20,
         |       round(dcg.raw, 6) + 0.0 AS dcg_h10,
         |       round(dcg.raw / ideal.v, 6) + 0.0 AS ndcg_h10
         |FROM m, ideal, dcg""".stripMargin,

    "late_interaction_topk" -> {
      val m = 4; val sub = 16
      val score = (0 until m).map { qi =>
        val qs = s"q.qe[${qi * sub + 1}:${(qi + 1) * sub}]"
        (0 until m).map { dj =>
          val ds = s"e.embedding[${dj * sub + 1}:${(dj + 1) * sub}]"
          cosine(ds, qs)
        }.mkString("greatest(", ", ", ")")
      }.mkString(" + ")
      s"""WITH qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, round($score, 6) + 0.0 AS maxsim
         |FROM embeddings e, qv q
         |ORDER BY maxsim DESC, e.vec_id ASC
         |LIMIT 10""".stripMargin
    },

    "rag_chunk_stats" -> {
      import graft.queries.TextQueries.{F => TF}
      val md5 = TF.md5L(
        s"doc_id || ':' || i || ':' || array_to_string(" +
          s"toks[CAST(i * $ChunkS + 1 AS INT):CAST(i * $ChunkS + $ChunkW AS INT)], ' ')")
      s"""WITH t AS (SELECT doc_id, source, ${TF.toks("text")} AS toks FROM documents),
         |d AS (SELECT doc_id, source, toks, len(toks) AS n,
         |        CAST(ceil(len(toks) / $ChunkS.0) AS INT) AS nc
         |      FROM t),
         |p AS (SELECT doc_id, source, nc,
         |        CASE WHEN nc = 0 THEN 0 ELSE
         |          list_sum(list_transform(range(nc), i -> $md5 % 1000000007)) END AS csum,
         |        CASE WHEN nc = 0 THEN 0 ELSE
         |          list_sum(list_transform(range(nc),
         |            i -> CASE WHEN n - i * $ChunkS < $ChunkW THEN 1 ELSE 0 END)) END AS short_chunks
         |      FROM d)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(nc) AS BIGINT) AS n_chunks,
         |       CAST(sum(short_chunks) AS BIGINT) AS short_chunks,
         |       CAST(sum(csum) AS BIGINT) AS checksum
         |FROM p GROUP BY source ORDER BY source""".stripMargin
    },

    "chunk_bm25_topk" ->
      s"""$chunkBm25Sql
         |SELECT doc_id, cidx, bm25 FROM sc
         |ORDER BY bm25 DESC, doc_id ASC, cidx ASC
         |LIMIT 10""".stripMargin,

    "phrase_search" -> {
      import graft.queries.TextQueries.{F => TF}
      s"""WITH t AS (SELECT doc_id, ${TF.toks("text")} AS toks FROM documents),
         |u AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t),
         |p1 AS (SELECT doc_id, pos FROM u WHERE tok = 'hash'),
         |p2 AS (SELECT doc_id, pos FROM u WHERE tok = 'join')
         |SELECT p1.doc_id, CAST(count(*) AS BIGINT) AS n_phrase
         |FROM p1 JOIN p2 ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
         |GROUP BY p1.doc_id
         |ORDER BY n_phrase DESC, p1.doc_id ASC
         |LIMIT 20""".stripMargin
    },

    "inverted_postings_stats" -> {
      import graft.queries.TextQueries.{F => TF}
      s"""WITH t AS (SELECT doc_id, ${TF.toks("text")} AS toks FROM documents),
         |u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         |g AS (SELECT tok, count(*) AS cnt, count(DISTINCT doc_id) AS df FROM u GROUP BY tok)
         |SELECT CAST(count(*) AS BIGINT) AS n_terms,
         |       CAST(sum(cnt) AS BIGINT) AS n_postings,
         |       CAST(max(df) AS BIGINT) AS max_df
         |FROM g""".stripMargin
    },
  )
}
