package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.operators.Cuts.CutOps
import graft.operators.TopK

/** Corpus-level training-data pipeline operators: TF-IDF term scoring,
  * deterministic stratified sampling, and per-label embedding centroid
  * profiles. Each is a shape a 100 TB data-curation run needs —
  * corpus-wide statistics joined back to per-document rows, hash-based
  * reproducible sampling, and label-space geometry summaries.
  *
  * Cross-engine float determinism: every double reduction either sums
  * exact integers/decimals or folds a deterministically-ORDERED list
  * (collect_list → array_sort → aggregate on the Spark side, mirrored
  * by list(x ORDER BY k) → list_reduce in DuckDB), so partial-agg
  * ordering can never flake the oracle hash. IDF uses a plain N/df
  * ratio (not log) — IEEE division is bit-identical across engines,
  * libm log is not guaranteed to be.
  */
object PipelineQueries extends QueryRegistry {
  import Tables._

  /** Fold an array of doubles in a deterministic (pre-sorted) order —
    * the shared shape (see Folds.orderedSum). */
  private def orderedSum(sortKey: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Folds.orderedSum(sortKey, value)

  /** Per-label, per-dimension embedding means: `per` holds one row per
    * element (label, vec_id, pos, v) and `m` one row per (label, pos)
    * with its count `n` and mean `m`, summed in vec_id order. The oracle
    * side is `labelMeanCtes`. */
  private def labelMeans(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val per = embeddings(s, dir).select(col("label"), col("vec_id"),
      posexplode(col("embedding")).as(Seq("pos", "v")))
    val m = per.groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n"),
        orderedSum(col("vec_id"), col("v").cast("double")).as("s"))
      .withColumn("m", col("s") / col("n"))
    (per, m)
  }

  /** One row per source: n_docs, n_tokens, sq = sqrt(n_tokens) and the
    * cross-domain totals tot_tokens and tot_sq (Σ sq folded in source
    * order) — the α = 1/2 mixture both mixture queries read. The oracle
    * side is `mixtureCtes`. */
  private def mixtureTotals(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"))
      .withColumn("sq", sqrt(col("n_tokens").cast("double")))
      .withColumn("tot_tokens", sum(col("n_tokens")).over(w))
      .withColumn("tot_sq",
        aggregate(
          transform(
            array_sort(collect_list(struct(col("source").as("k"),
              col("sq").as("x"))).over(w)),
            e => e.getField("x")),
          lit(0.0), (a, x) => a + x))
  }

  /** NB feature hash-space size (the bounded count-table row cap). */
  private[graft] val NbBuckets = 4096

  /** The shared NB/DSIR feature derivation — one row per hashed
    * unigram+bigram OCCURRENCE: (doc_id, source, f). Shared between
    * the batch nb_quality_score and the streaming classifier
    * maintenance replay (stream_nb_replay), so the maintained count
    * table and the from-scratch oracle train on literally the same
    * features. */
  private[graft] def nbFeats(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("toks"))
    toks.select(col("doc_id"), col("source"),
      explode(concat(col("toks"), TextOps.shingles(col("toks"), 2))).as("feat"))
      .withColumn("f", TextOps.md5Long(col("feat")) % NbBuckets)
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TF-IDF-style term scoring: corpus df + per-doc tf, top-3 terms
    // per document for the first 10 docs. Two shuffles total: one
    // keyed on (doc, term), one on term — never on raw text.
    "tfidf_top_terms" -> ((s, dir) => {
      val docs = documents(s, dir)
      val toks = docs.select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("term"))
      val tf = toks.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, "term").crossJoin(n)
        .filter(col("doc_id") < 10)
        .withColumn("score",
          round(col("tf") * (col("n_docs").cast("double") / col("df")), 6))
      TopK.per(scored, Seq(col("doc_id")), Seq(col("score").desc, col("term").asc), 3, "rnk")
        .select(col("doc_id"), col("rnk"), col("term"), col("score"))
        .orderBy(col("doc_id"), col("rnk"))
    }),

    // deterministic hash-based 10% sample, stratified stats per lang —
    // the reproducible-sampling op a curation pipeline uses instead of
    // rand() (same rows on every engine, every run, any partitioning)
    "stratified_sample_stats" -> ((s, dir) =>
      documents(s, dir)
        .filter(TextOps.md5Long(
          concat(lit("sample:"), col("doc_id").cast("string"))) % 10 === 0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          round(avg(col("n_chars")), 6).as("avg_chars"))
        .orderBy(col("lang"))),

    // token-budget shard packing: within each source, docs in doc_id
    // order accumulate into ~500-token shards (shard id = budget
    // boundaries crossed BEFORE the doc, so a doc straddling a boundary
    // opens the next shard). The sequence-packing step that turns a
    // curated corpus into training-sized chunks; partitioning by source
    // keeps the window shuffle keyed (never a global single-partition
    // sort), which is the scale-correct layout — a real run packs
    // within whatever partition unit it shards by.
    "token_shard_packing" -> ((s, dir) => {
      val budget = 500L
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      documents(s, dir)
        .select(col("source"), col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("shard", ((col("cum") - col("n_tokens")) / budget).cast("long"))
        .groupBy(col("source"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("shard_tokens"))
        .filter(col("shard") < 3) // bound output; early shards pin the math
        .orderBy(col("source"), col("shard"))
    }),

    // per-label embedding centroid profile: positional mean vector per
    // label (posexplode + (label, pos) aggregation — the same shape as
    // the IVF Lloyd step), reduced to its L2 norm
    "label_centroid_profile" -> ((s, dir) => {
      val (_, m) = labelMeans(s, dir)
      m.groupBy(col("label"))
        .agg(max(col("n")).cast("long").as("n_vectors"),
          round(sqrt(orderedSum(col("pos"), col("m") * col("m"))), 6)
            .as("centroid_norm"))
        .orderBy(col("label"))
    }),

    // class-separability audit: pairwise euclidean distances between
    // label centroids, 15 closest pairs first — the "which classes
    // will confuse a classifier / which label pairs to merge" readout
    // run after label_centroid_profile. Same deterministic per-dim
    // means (ordered folds keyed on vec_id), then a pos-keyed
    // self-join bounded by labels²·dims (100·64 rows here — the
    // centroid FRAME is the state, never the corpus), distance summed
    // in pos order so IEEE addition cannot reorder
    "centroid_separation_audit" -> ((s, dir) => {
      val (_, m) = labelMeans(s, dir)
      val a = m.select(col("label").as("la"), col("pos"), col("m").as("ma"))
      val b = m.select(col("label").as("lb"), col("pos"), col("m").as("mb"))
      a.join(b, "pos").filter(col("la") < col("lb"))
        .groupBy(col("la"), col("lb"))
        .agg(round(sqrt(orderedSum(col("pos"),
          (col("ma") - col("mb")) * (col("ma") - col("mb")))), 6).as("dist"))
        .orderBy(col("dist").asc, col("la").asc, col("lb").asc)
        .limit(15)
    }),

    // intra-class outlier audit — the mislabel detector run next to
    // the separation audit: each vector's euclidean distance to its
    // OWN label centroid, 15 farthest first (the rows a labeling-QA
    // queue reviews). Same deterministic per-dim means; the per-vector
    // distance joins the centroid frame on (label, pos) — corpus×dims
    // rows, but the centroid side is labels×dims (broadcast-sized at
    // any corpus scale) and the fold is pos-ordered
    "label_outlier_audit" -> ((s, dir) => {
      val (per, m) = labelMeans(s, dir)
      per.join(broadcast(m), Seq("label", "pos"))
        .groupBy(col("label"), col("vec_id"))
        .agg(round(sqrt(orderedSum(col("pos"),
          (col("v").cast("double") - col("m")) *
            (col("v").cast("double") - col("m")))), 6).as("dist"))
        .orderBy(col("dist").desc, col("vec_id").asc)
        .limit(15)
        .select(col("vec_id"), col("label"), col("dist"))
    }),

    // DSIR-style importance weighting for domain mixing (Xie et al.
    // 2023, "Data Selection for Language Models via Importance
    // Resampling"): hashed unigram+bigram features (4096 buckets),
    // target = docs 0-9 (the same benchmark convention as
    // decontamination_hits), +1-smoothed per-bucket target/corpus
    // counts, and each corpus doc scored by how target-like its
    // feature occurrences are. Deviation from the paper, documented:
    // the score is a RATIO OF SUMS (Σ(n_t+1) / Σ(n_c+1) over the
    // doc's occurrences) rather than the sum of per-feature log
    // ratios — integer sums are exact and order-independent, so the
    // DuckDB replay is IEEE-identical, where libm log is not
    // guaranteed to be (same determinism rule as the N/df IDF above).
    // Scale shape: the count table is BOUNDED at 4096 rows no matter
    // the corpus size, so it broadcasts and the corpus is never
    // shuffled on the feature key — one map-side join + one
    // doc-keyed aggregation
    "dsir_importance_top" -> ((s, dir) => {
      val B = 4096
      def featsOf = {
        val toks = documents(s, dir)
          .select(col("doc_id"), col("lang"), TextOps.tokens(col("text")).as("toks"))
        toks.select(col("doc_id"), col("lang"),
          explode(concat(col("toks"), TextOps.shingles(col("toks"), 2))).as("feat"))
          .withColumn("f", TextOps.md5Long(col("feat")) % B)
      }
      val feats = featsOf
      // the bounded (≤ 4096-row) importance count table is the model
      // artifact — memoized like the NB/LM tables; without the memo
      // the corpus tokenized TWICE per invocation (once under the
      // count subtree, once as the probe)
      val cnt = SharedBuilds.of(s, dir, "dsir-counts") {
        graft.operators.Cuts.cut(featsOf.groupBy(col("f")).agg(
          sum(when(col("doc_id") < 10, 1L).otherwise(0L)).as("n_t"),
          sum(when(col("doc_id") >= 10, 1L).otherwise(0L)).as("n_c")))
      }
      feats.filter(col("doc_id") >= 10)
        .join(broadcast(cnt), "f")
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("n_t") + 1L).as("st"), sum(col("n_c") + 1L).as("sc"))
        .withColumn("weight",
          round(col("st").cast("double") / col("sc"), 6) + 0.0)
        .orderBy(col("weight").desc, col("doc_id"))
        .limit(30)
        .select(col("doc_id"), col("lang"), col("weight"))
    }),

    // LEARNED quality classifier: integer-exact Naive
    // Bayes over the SAME 4096-bucket hashed unigram+bigram features
    // as the DSIR weighting, trained with the reference-target
    // convention this corpus supports (doc_id < 10 = the curated
    // reference class — the GPT-3/CCNet quality-filter shape: positive
    // = reference corpus, negative = crawl) on the EVEN doc_ids and
    // scored on the HELD-OUT odd docs, top-30 most reference-like.
    // Weak supervision honesty note, measured: the synthetic
    // corpus's source/lang columns carry NO lexical signal (per-doc NB
    // scores under a source-group split differ by < 0.1% of their
    // within-class spread), so source labels would train a coin-flip;
    // the reference-target labels are the one label axis with real
    // shared-n-gram structure. TextSpec proves the LEARNING power on a
    // fixture corpus with a genuine wiki/web vocabulary split, where
    // the learned score separates held-out classes the Gopher
    // length/symbol rules are blind to. Scale shape: the count table
    // is bounded at 4096 rows → broadcast; scoring is map-side join +
    // doc-keyed aggregation (the DSIR plan); training shuffles only
    // map-side-combined partials. All arithmetic is cross-multiplied
    // integer ratios (no logs — the DSIR determinism doctrine), so the
    // oracle replays training AND scoring from raw text.
    "nb_quality_score" -> ((s, dir) => {
      // the trained count table is the classifier's INDEX (bounded at
      // 4096 rows whatever the corpus) — memoized per (session, dir)
      // like every index store, so the
      // recurring cost is scoring the held-out docs, not re-tokenizing
      // and re-counting the training half per invocation; at 100 TB
      // this is the persisted model table a daily scoring job reads
      val counts = SharedBuilds.of(s, dir, "nb-quality-counts") {
        graft.operators.Cuts.cut(graft.operators.NaiveBayes.train(
          nbFeats(documents(s, dir)).filter(col("doc_id") % 2 === 0),
          col("doc_id") < 10))
      }
      graft.operators.NaiveBayes.score(
        nbFeats(documents(s, dir)).filter(col("doc_id") % 2 === 1),
        counts, NbBuckets, Seq("doc_id", "source"))
        .select(col("doc_id"), col("source"), col("n_feats"), col("nb_ppm"))
        .orderBy(col("nb_ppm").desc, col("doc_id"))
        .limit(30)
    }),

    // CCNet-style n-gram LM FLUENCY filter: a
    // Laplace-smoothed token-3-gram LM trained on the curated
    // reference docs (doc_id < 10, the decontamination/NB reference
    // split), scoring every crawl doc by its integer mean per-position
    // posterior vote — the no-logs surrogate for perplexity (CCNet
    // filters the crawl by reference-LM perplexity; low mean vote =
    // high perplexity = boilerplate/gibberish/shuffle). Unlike the
    // Gopher ratios and NB's unigram bag mass — both functions of the
    // token MULTISET, hence constant under any token permutation —
    // the LM measures token ORDER and needs no labels. TextSpec pins
    // all three claims on a reversed-token fixture: surface stats
    // pairwise equal, bag-NB twin scores identical, LM separation
    // total.
    // Scale shape: both count tables bounded (8192/4096 rows) →
    // broadcast; scoring is two map-side joins + one doc-keyed
    // aggregation; the corpus is never shuffled on a feature key.
    // All arithmetic integer (decimal(38,0) numerators — the NB
    // overflow discipline), so the oracle replays train AND score.
    "lm_fluency_score" -> ((s, dir) => {
      import graft.operators.NgramLm
      // both LM count tables are bounded (8192/4096 rows) model
      // artifacts — memoized like the NB counts above: train once, score per invocation
      val (c3, c2) = SharedBuilds.of(s, dir, "lm-fluency-counts") {
        val t = NgramLm.train(
          NgramLm.feats(documents(s, dir), Seq("doc_id"))
            .filter(col("doc_id") < 10))
        (graft.operators.Cuts.cut(t._1), graft.operators.Cuts.cut(t._2))
      }
      val fe = NgramLm.feats(documents(s, dir), Seq("doc_id"))
      NgramLm.score(fe.filter(col("doc_id") >= 10), c3, c2, Seq("doc_id"))
        .select(col("doc_id"), col("n_tris"), col("lm_ppm"))
        .orderBy(col("lm_ppm").desc, col("doc_id"))
        .limit(30)
    }),

    // temperature-scaled domain mixture (the T5/multilingual-LM mixing
    // rule, α = 0.5): sampling weight ∝ n_tokens^α, so small domains
    // are up-sampled relative to their natural share. α is FIXED at
    // 1/2 because x^0.5 = sqrt(x) and IEEE-754 sqrt is correctly
    // rounded — bit-identical across engines — where pow(x, 0.5) via
    // libm is not guaranteed to be (same determinism doctrine as the
    // N/df IDF). The cross-domain Σ sqrt is a deterministically
    // ORDERED fold (orderedSum / list ORDER BY source). Scale shape:
    // one map-side-combined shuffle keyed on source (bounded rows =
    // #domains), then the cross-domain totals via an all-rows window
    // over that BOUNDED frame — the corpus is scanned ONCE (pinned in
    // PlanSpec) and never shuffled on anything wider than the domain
    // key; only #domains rows ever single-partition.
    "domain_mixture_weights" -> ((s, dir) =>
      mixtureTotals(s, dir)
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (round(col("sq") / col("tot_sq"), 6) + 0.0).as("weight"),
          (round((col("sq") / col("tot_sq")) * col("tot_tokens").cast("double")
            / col("n_tokens").cast("double"), 6) + 0.0).as("boost"),
          floor((col("sq") / col("tot_sq")) * lit(100000.0)).cast("long")
            .as("alloc_tokens_100k"))
        .orderBy(col("source"))),

    // the SAMPLING step the mixture weights exist for: per-source
    // acceptance rate min(1, boost) (boost = the α=1/2 temperature
    // up/down factor per token; >1 sources keep everything — true
    // upsampling duplicates rows, out of audit scope), quantized to
    // an integer micro-threshold, and each doc accepted iff its
    // seeded md5 residue clears it — the deterministic hash-based
    // subsample any reproducible 100 TB curation run uses instead of
    // rand(). Scale shape: the rate table is the bounded per-domain
    // frame (broadcast back); the corpus pass is map-only + one
    // bounded rollup. The float path into the threshold reuses the
    // ordered-fold tot_sq discipline, then FLOORS into integers, so
    // the oracle replay is exact.
    "mixture_resample_audit" -> ((s, dir) => {
      val rates = mixtureTotals(s, dir)
        .select(col("source"), col("n_docs"),
          least(lit(1000000L),
            floor((col("sq") / col("tot_sq")) * col("tot_tokens").cast("double")
              / col("n_tokens").cast("double") * lit(1000000.0)).cast("long"))
            .as("micro"))
      documents(s, dir)
        .select(col("source"),
          (TextOps.md5Long(concat(lit("mix:"), col("doc_id").cast("string")))
            % 1000000L).as("h"))
        .join(broadcast(rates), Seq("source"))
        .groupBy(col("source"))
        .agg(max(col("n_docs")).as("n_docs"),
          max(col("micro")).as("accept_micro"),
          sum(when(col("h") < col("micro"), 1L).otherwise(0L)).as("n_sampled"))
        .orderBy(col("source"))
    }),

    // co-occurrence lift — the PMI-family corpus statistic with the
    // log dropped (lift = N·df_ab / (df_a·df_b); rational arithmetic
    // is bit-identical across engines where libm log is not — the
    // N/df-IDF doctrine): which token pairs appear in the same doc
    // far above chance. Scale shape: pair generation is a doc-keyed
    // self-join over per-doc DISTINCT tokens (Σ distinct² per doc,
    // the winnowing-join cost class — a df-cap guards template terms
    // on a real corpus), pair space bounded by vocab², df table
    // broadcast back twice.
    "cooccurrence_lift" -> ((s, dir) => {
      val d = documents(s, dir)
        .select(col("doc_id"),
          explode(array_distinct(TextOps.tokens(col("text")))).as("tok"))
      val n = documents(s, dir).count() // 1-value head (the bm25 N shape)
      val dfp = d.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val pairs = d.as("x")
        .join(d.withColumnRenamed("tok", "tok2"), Seq("doc_id"))
        .filter(col("tok") < col("tok2"))
        .groupBy(col("tok"), col("tok2")).agg(count(lit(1)).as("df_ab"))
        .filter(col("df_ab") >= 20)
      pairs
        .join(broadcast(dfp.withColumnRenamed("df", "df_a")), Seq("tok"))
        .join(broadcast(dfp.withColumnRenamed("tok", "tok2")
          .withColumnRenamed("df", "df_b")), Seq("tok2"))
        .select(col("tok").as("a"), col("tok2").as("b"), col("df_ab"),
          (round(lit(n).cast("double") * col("df_ab") /
            (col("df_a") * col("df_b")), 6) + 0.0).as("lift"))
        .orderBy(col("lift").desc, col("a").asc, col("b").asc)
        .limit(30)
    }),

    // BPE merge TRAINING (Sennrich et al. 2016, the public byte-pair
    // encoding algorithm): 5 greedy merge rounds over the corpus,
    // reporting each learned merge and its pair count. The scale trick
    // is the classic one — train on the WORD-FREQUENCY table, not the
    // corpus: the corpus is scanned exactly once (word count, one
    // shuffle); every merge round then runs over the vocab-sized
    // (sym, freq) frame — pair explode + one agg — so 100 TB of text
    // costs the same per round as 100 MB once the vocab is built.
    // Each round's top pair is a 1-row driver head (the bounded-
    // collect discipline); the merge applies as two sentinel-space
    // replace passes. DEVIATION, stated exactly: for a
    // same-symbol pair (x,x) inside an odd run of >= 5 x's, the two
    // passes merge around an isolated MIDDLE singleton ("x x x x x" →
    // "xx x xx") where Sennrich greedy left-to-right leaves the LAST
    // symbol unmerged ("xx xx x") — so later-round pair counts can
    // differ from a canonical BPE trainer on such runs. Both engines
    // share replace() semantics, so the training stays deterministic
    // and oracle-exact; runs >= 5 of one symbol are vanishingly rare
    // in natural-language word vocabs (they'd need 5+ identical
    // adjacent symbols inside one word). Ranks tie-break on pair
    // text, so the learned sequence is deterministic on any engine.
    "bpe_train_merges" -> ((s, dir) => {
      import s.implicits._
      bpeTrain(s, dir)._3
        .toDF("merge_step", "pair", "merged", "cnt")
        .orderBy(col("merge_step"))
    }),

    // tokenizer APPLICATION census over the same trained merges: how
    // far did 5 merges compress the symbol stream (Σ freq·|syms|
    // before vs after) and how did the symbol vocabulary change —
    // the before/after accounting a tokenizer-training run reports.
    // Rides the memoized training build, so the two bpe queries share
    // one corpus scan + one merge loop per (session, dir).
    "bpe_vocab_compression" -> ((s, dir) => {
      val (w0, w5, _) = bpeTrain(s, dir)
      def syms(df: org.apache.spark.sql.DataFrame) =
        df.select(col("freq"), split(col("sym"), " ").as("a"))
      val before = syms(w0).agg(count(lit(1)).as("n_words"),
        sum(size(col("a")).cast("long") * col("freq")).as("syms_before"))
      val after = syms(w5)
        .agg(sum(size(col("a")).cast("long") * col("freq")).as("syms_after"))
      val vb = syms(w0).select(explode(col("a")).as("sm"))
        .agg(countDistinct(col("sm")).as("vocab_before"))
      val va = syms(w5).select(explode(col("a")).as("sm"))
        .agg(countDistinct(col("sm")).as("vocab_after"))
      before.crossJoin(after).crossJoin(vb).crossJoin(va)
        .withColumn("compression",
          round(col("syms_after").cast("double") / col("syms_before"), 6))
    }),
  )

  /** Shared 5-round BPE training build (see bpe_train_merges for the
    * algorithm and scale notes): returns the initial and final
    * vocab-frequency frames plus the learned merges, memoized per
    * (session, dir) so every bpe query shares one corpus scan and one
    * merge loop. */
  private def bpeTrain(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, Seq[(Long, String, String, Long)]) =
    SharedBuilds.of(s, dir, "bpe-train") {
      val chars = (w: org.apache.spark.sql.Column) =>
        concat_ws(" ", transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1))))
      val w0 = documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        .select(chars(col("word")).as("sym"), col("freq"))
        .cut()
      var vocab = w0
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
      for (step <- 1 to 5) {
        val a = split(col("sym"), " ")
        val pairs = vocab.select(col("freq"),
            explode(when(size(a) < 2, array().cast("array<string>"))
              .otherwise(transform(sequence(lit(1), size(a) - 1),
                i => concat(element_at(a, i), lit(" "), element_at(a, i + 1))))).as("pair"))
          .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        val top = pairs.orderBy(col("cnt").desc, col("pair").asc).limit(1).collect()
        if (top.nonEmpty) {
          val pair = top(0).getString(0)
          val merged = pair.replace(" ", "")
          merges += ((step.toLong, pair, merged, top(0).getLong(1)))
          val padded = concat(lit(" "), col("sym"), lit(" "))
          val r1 = replace(padded, lit(s" $pair "), lit(s" $merged "))
          val r2 = replace(r1, lit(s" $pair "), lit(s" $merged "))
          vocab = vocab.select(trim(r2).as("sym"), col("freq")).cut()
        }
      }
      (w0, vocab, merges.toSeq)
    }

  /** One unrolled BPE merge round for the DuckDB oracle: pair counts
    * from w{i-1}, top-1 by (cnt desc, pair asc), two-pass sentinel
    * replace into w{i} — the exact SQL twin of the Spark loop above. */
  private def bpeIterSql(i: Int): String = {
    val prev = if (i == 1) "w0" else s"w${i - 1}"
    val mp = s"' '||(SELECT pair FROM t$i)||' '"
    val mm = s"' '||(SELECT replace(pair, ' ', '') FROM t$i)||' '"
    s"""p$i AS MATERIALIZED (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |  SELECT freq, unnest(list_transform(generate_series(1, len(sa)-1), j -> sa[j]||' '||sa[j+1])) AS pair
       |  FROM (SELECT freq, string_split(sym, ' ') AS sa FROM $prev)) GROUP BY pair),
       |t$i AS MATERIALIZED (SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
       |w$i AS MATERIALIZED (SELECT trim(replace(replace(' '||sym||' ', $mp, $mm), $mp, $mm)) AS sym, freq FROM $prev)""".stripMargin
  }

  /** The shared w0..w5 training chain (the SQL twin of bpeTrain). */
  private def bpeChainSql: String = {
    val iters = (1 to 5).map(bpeIterSql).mkString(",\n")
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT array_to_string(list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)), ' ') AS sym,
       |         freq
       |  FROM (SELECT word, CAST(count(*) AS BIGINT) AS freq
       |        FROM (SELECT unnest(${TextQueries.F.toks("text")}) AS word FROM documents)
       |        GROUP BY word)),
       |$iters""".stripMargin
  }

  private def bpeOracleSql: String = {
    val rows = (1 to 5).map(i =>
      s"SELECT $i AS merge_step, pair, replace(pair, ' ', '') AS merged, cnt FROM t$i")
      .mkString("\nUNION ALL ")
    s"""$bpeChainSql
       |SELECT CAST(merge_step AS BIGINT) AS merge_step, pair, merged, cnt
       |FROM ($rows) ORDER BY merge_step""".stripMargin
  }

  private def bpeCompressionOracleSql: String =
    s"""$bpeChainSql
       |SELECT CAST(b.n_words AS BIGINT) AS n_words,
       |       CAST(b.sb AS BIGINT) AS syms_before,
       |       CAST(a.sa AS BIGINT) AS syms_after,
       |       CAST(vb.v AS BIGINT) AS vocab_before,
       |       CAST(va.v AS BIGINT) AS vocab_after,
       |       round(CAST(a.sa AS DOUBLE) / b.sb, 6) AS compression
       |FROM (SELECT count(*) AS n_words, sum(freq * len(string_split(sym, ' '))) AS sb FROM w0) b,
       |     (SELECT sum(freq * len(string_split(sym, ' '))) AS sa FROM w5) a,
       |     (SELECT count(DISTINCT sm) AS v FROM (SELECT unnest(string_split(sym, ' ')) AS sm FROM w0)) vb,
       |     (SELECT count(DISTINCT sm) AS v FROM (SELECT unnest(string_split(sym, ' ')) AS sm FROM w5)) va""".stripMargin

  // The shared CTE chains below are concatenated onto each oracle, not
  // interpolated into a stripMargin template (see the TextQueries NOTE).

  /** DuckDB side of `labelMeans`: `per` (label, vec_id, pos, v) and `m`
    * (label, pos, n, m). */
  private val labelMeanCtes =
    """WITH per AS (
      |  SELECT label, vec_id,
      |         unnest(range(1, len(embedding)+1)) AS pos,
      |         CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings),
      |dm AS (
      |  SELECT label, pos, count(*) AS n,
      |         list_reduce(list_prepend(CAST(0 AS DOUBLE), list(v ORDER BY vec_id)), (a, x) -> a + x) AS s
      |  FROM per GROUP BY label, pos),
      |m AS (SELECT label, pos, n, s / n AS m FROM dm)""".stripMargin

  /** DuckDB side of `mixtureTotals`: `t` (doc_id, source, toks), `p2`
    * (source, n_docs, n_tokens, sq) and the one-row `tot` (tot_tokens,
    * tot_sq). */
  private val mixtureCtes =
    """WITH t AS (
      |  SELECT doc_id, source,
      |         list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
      |  FROM documents),
      |per AS (SELECT source, count(*) AS n_docs, sum(len(toks)) AS n_tokens
      |        FROM t GROUP BY source),
      |p2 AS (SELECT source, n_docs, n_tokens,
      |              sqrt(CAST(n_tokens AS DOUBLE)) AS sq
      |       FROM per),
      |tot AS (SELECT sum(n_tokens) AS tot_tokens,
      |               list_reduce(list_prepend(CAST(0 AS DOUBLE), list(sq ORDER BY source)),
      |                           (a, x) -> a + x) AS tot_sq
      |        FROM p2)""".stripMargin

  override def oracle: Map[String, String] = Map(
    "bpe_train_merges" -> bpeOracleSql,
    "bpe_vocab_compression" -> bpeCompressionOracleSql,

    "tfidf_top_terms" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |         unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |         round(tf.tf * (CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS score
         |  FROM tf JOIN dfreq USING (term), n
         |  WHERE tf.doc_id < 10),
         |r AS (SELECT doc_id, term, score,
         |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rnk
         |      FROM scored)
         |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, score
         |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    "stratified_sample_stats" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
        |       round(avg(n_chars), 6) AS avg_chars
        |FROM documents
        |WHERE CAST(('0x'||substr(md5('sample:'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 10 = 0
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "token_shard_packing" ->
      s"""WITH t AS (
         |  SELECT source, doc_id,
         |         len(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS n_tokens
         |  FROM documents),
         |c AS (SELECT source, doc_id, n_tokens,
         |        sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM t),
         |sh AS (SELECT source, (cum - n_tokens) // 500 AS shard, n_tokens FROM c)
         |SELECT source, CAST(shard AS BIGINT) AS shard,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
         |FROM sh WHERE shard < 3
         |GROUP BY source, shard ORDER BY source, shard""".stripMargin,

    "label_outlier_audit" ->
      (labelMeanCtes + """,
        |d AS (SELECT p.label, p.vec_id, p.pos, p.v - m.m AS d
        |      FROM per p JOIN m ON p.label = m.label AND p.pos = m.pos)
        |SELECT vec_id, label,
        |       round(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list(d * d ORDER BY pos)), (a, x) -> a + x)), 6) AS dist
        |FROM d GROUP BY vec_id, label
        |ORDER BY dist DESC, vec_id ASC LIMIT 15""".stripMargin),

    "centroid_separation_audit" ->
      (labelMeanCtes + """,
        |p AS (SELECT x.label AS la, y.label AS lb, x.pos, x.m - y.m AS d
        |      FROM m x JOIN m y ON x.pos = y.pos AND x.label < y.label)
        |SELECT la, lb,
        |       round(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list(d * d ORDER BY pos)), (a, x) -> a + x)), 6) AS dist
        |FROM p GROUP BY la, lb ORDER BY dist ASC, la, lb LIMIT 15""".stripMargin),

    "label_centroid_profile" ->
      (labelMeanCtes + """
        |SELECT label, CAST(max(n) AS BIGINT) AS n_vectors,
        |       round(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list(m * m ORDER BY pos)), (a, x) -> a + x)), 6) AS centroid_norm
        |FROM m GROUP BY label ORDER BY label""".stripMargin),

    // training + scoring replayed from raw text: the same fe CTE as
    // dsir's, class counts over the even half, per-occurrence
    // cross-multiplied posterior votes, integer mean per held-out doc
    "nb_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
        |  FROM documents),
        |fe AS (
        |  SELECT doc_id, source, CAST(('0x'||substr(md5(feat),1,15)) AS BIGINT) % 4096 AS f
        |  FROM (
        |    SELECT doc_id, source, unnest(toks) AS feat FROM t
        |    UNION ALL
        |    SELECT doc_id, source,
        |           unnest(CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
        |                  ELSE list_transform(generate_series(1, len(toks)-1),
        |                         i -> array_to_string(toks[i:i+1], ' ')) END) AS feat
        |    FROM t)),
        |cnt AS (SELECT f,
        |          sum(CASE WHEN doc_id < 10 THEN 1 ELSE 0 END) AS n_p,
        |          sum(CASE WHEN doc_id >= 10 THEN 1 ELSE 0 END) AS n_n
        |        FROM fe WHERE doc_id % 2 = 0 GROUP BY f),
        |tot AS (SELECT sum(n_p) AS tp, sum(n_n) AS tn FROM cnt),
        |sc AS (
        |  SELECT fe.doc_id, fe.source,
        |         count(*) AS n_feats,
        |         sum(((coalesce(c.n_p, 0) + 1) * (t2.tn + 4096) * 1000000)
        |             // ((coalesce(c.n_p, 0) + 1) * (t2.tn + 4096)
        |                + (coalesce(c.n_n, 0) + 1) * (t2.tp + 4096))) AS sq
        |  FROM fe LEFT JOIN cnt c USING (f), tot t2
        |  WHERE fe.doc_id % 2 = 1
        |  GROUP BY fe.doc_id, fe.source)
        |SELECT doc_id, source, CAST(n_feats AS BIGINT) AS n_feats,
        |       CAST(sq // n_feats AS BIGINT) AS nb_ppm
        |FROM sc ORDER BY nb_ppm DESC, doc_id LIMIT 30""".stripMargin,

    // LM train + score replayed from raw text: trigram/context hash
    // buckets over the reference docs, Laplace votes in ppm (integer
    // // — DuckDB sums are HUGEINT, matching the decimal(38,0) Spark
    // side), mean vote per crawl doc
    "lm_fluency_score" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
        |  FROM documents),
        |fe AS (
        |  SELECT doc_id,
        |         CAST(('0x'||substr(md5(array_to_string(toks[i:i+2], ' ')),1,15)) AS BIGINT) % 8192 AS f3,
        |         CAST(('0x'||substr(md5(array_to_string(toks[i:i+1], ' ')),1,15)) AS BIGINT) % 4096 AS f2
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks)-2)) AS i
        |        FROM t WHERE len(toks) >= 3)),
        |c3 AS (SELECT f3, count(*) AS n3 FROM fe WHERE doc_id < 10 GROUP BY f3),
        |c2 AS (SELECT f2, count(*) AS n2 FROM fe WHERE doc_id < 10 GROUP BY f2),
        |sc AS (
        |  SELECT fe.doc_id, count(*) AS n_tris,
        |         sum(((coalesce(c3.n3, 0) + 1) * 1000000)
        |             // (coalesce(c2.n2, 0) + 4096)) AS sq
        |  FROM fe LEFT JOIN c3 USING (f3) LEFT JOIN c2 USING (f2)
        |  WHERE fe.doc_id >= 10
        |  GROUP BY fe.doc_id)
        |SELECT doc_id, CAST(n_tris AS BIGINT) AS n_tris,
        |       CAST(sq // n_tris AS BIGINT) AS lm_ppm
        |FROM sc ORDER BY lm_ppm DESC, doc_id LIMIT 30""".stripMargin,

    "dsir_importance_top" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |         list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
        |  FROM documents),
        |fe AS (
        |  SELECT doc_id, lang, CAST(('0x'||substr(md5(feat),1,15)) AS BIGINT) % 4096 AS f
        |  FROM (
        |    SELECT doc_id, lang, unnest(toks) AS feat FROM t
        |    UNION ALL
        |    SELECT doc_id, lang,
        |           unnest(CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
        |                  ELSE list_transform(generate_series(1, len(toks)-1),
        |                         i -> array_to_string(toks[i:i+1], ' ')) END) AS feat
        |    FROM t)),
        |cnt AS (SELECT f, sum(CASE WHEN doc_id < 10 THEN 1 ELSE 0 END) AS n_t,
        |               sum(CASE WHEN doc_id >= 10 THEN 1 ELSE 0 END) AS n_c
        |        FROM fe GROUP BY f),
        |scored AS (
        |  SELECT fe.doc_id, fe.lang, sum(cnt.n_t + 1) AS st, sum(cnt.n_c + 1) AS sd
        |  FROM fe JOIN cnt USING (f) WHERE fe.doc_id >= 10
        |  GROUP BY fe.doc_id, fe.lang)
        |SELECT doc_id, lang, round(CAST(st AS DOUBLE) / sd, 6) + 0.0 AS weight
        |FROM scored ORDER BY weight DESC, doc_id LIMIT 30""".stripMargin,

    "domain_mixture_weights" ->
      (mixtureCtes + """
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(n_tokens AS BIGINT) AS n_tokens,
        |       round(sq / tot_sq, 6) + 0.0 AS weight,
        |       round((sq / tot_sq) * CAST(tot_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) + 0.0 AS boost,
        |       CAST(floor((sq / tot_sq) * 100000.0) AS BIGINT) AS alloc_tokens_100k
        |FROM p2, tot ORDER BY source""".stripMargin),

    "mixture_resample_audit" ->
      (mixtureCtes + """,
        |rates AS (SELECT source, n_docs,
        |            least(1000000,
        |              CAST(floor((sq / tot_sq) * CAST(tot_tokens AS DOUBLE)
        |                / CAST(n_tokens AS DOUBLE) * 1000000.0) AS BIGINT)) AS micro
        |          FROM p2, tot),
        |h AS (SELECT source,
        |        CAST(('0x'||substr(md5('mix:' || doc_id),1,15)) AS BIGINT) % 1000000 AS h
        |      FROM t)
        |SELECT h.source, CAST(max(r.n_docs) AS BIGINT) AS n_docs,
        |       CAST(max(r.micro) AS BIGINT) AS accept_micro,
        |       CAST(sum(CASE WHEN h.h < r.micro THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        |FROM h JOIN rates r ON h.source = r.source
        |GROUP BY h.source ORDER BY h.source""".stripMargin),

    "cooccurrence_lift" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_distinct(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                                   x -> x <> '')) AS toks
        |  FROM documents),
        |d AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |n AS (SELECT count(*) AS n FROM documents),
        |dfp AS (SELECT tok, count(*) AS df FROM d GROUP BY tok),
        |pr AS (SELECT x.tok AS a, y.tok AS b, count(*) AS df_ab
        |       FROM d x JOIN d y ON x.doc_id = y.doc_id AND x.tok < y.tok
        |       GROUP BY x.tok, y.tok HAVING count(*) >= 20)
        |SELECT pr.a, pr.b, CAST(pr.df_ab AS BIGINT) AS df_ab,
        |       round(CAST(n.n AS DOUBLE) * pr.df_ab / (fa.df * fb.df), 6) + 0.0 AS lift
        |FROM pr
        |JOIN dfp fa ON pr.a = fa.tok
        |JOIN dfp fb ON pr.b = fb.tok
        |CROSS JOIN n
        |ORDER BY lift DESC, a ASC, b ASC
        |LIMIT 30""".stripMargin,
  )
}
