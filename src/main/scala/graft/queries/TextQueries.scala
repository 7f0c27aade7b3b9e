package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.operators.{Components, Dedup}
import graft.operators.Cuts.CutOps

/** Declared queries for the text-analysis / deduplication surface over
  * the `documents` table: tokenization stats, language-ID heuristic,
  * quality scoring, rolling fingerprints, exact dedup, MinHash+LSH and
  * SimHash near-dup detection, exact n-gram Jaccard.
  *
  * Every pipeline is deterministic (md5 hash base, fixed band plan) and
  * each oracle replays the identical arithmetic in DuckDB SQL, so the
  * approximate (LSH) paths are verified end-to-end, not just their
  * exact rerank.
  */
object TextQueries extends QueryRegistry {
  import Tables._
  import OracleFrag.cosine

  /** DuckDB fragments mirroring graft.functions.TextOps bit-for-bit. */
  /** The shared Bloom build+probe CTE prefix (t → cand) for the
    * decontamination oracles — the SQL twin of Dedup's ONE probe
    * formula, kept in one place so the batch and streaming screens can
    * never drift apart; probe indices derive from BloomK. Eval split:
    * doc_id < 10 builds the filter, doc_id >= 10 is the corpus. */
  private[queries] def bloomScreenCtes: String = {
    val probeIdx = (0 until graft.operators.Dedup.BloomK).mkString("[", ",", "]")
    val probe = graft.operators.Dedup.bloomProbeSql("i", "h")
    s"""WITH ${F.hsCtes},
       |bh AS (SELECT DISTINCT unnest(list_distinct(shh)) AS h FROM hs WHERE doc_id < 10),
       |bset AS (SELECT DISTINCT $probe AS p
       |         FROM bh, (SELECT unnest($probeIdx) AS i)),
       |dh AS (SELECT doc_id, unnest(list_distinct(shh)) AS h FROM hs WHERE doc_id >= 10),
       |probes AS (SELECT doc_id, h, $probe AS p
       |           FROM dh, (SELECT unnest($probeIdx) AS i)),
       |hitsh AS (SELECT doc_id, h FROM probes GROUP BY doc_id, h
       |          HAVING sum(CASE WHEN p IN (SELECT p FROM bset) THEN 1 ELSE 0 END) = ${graft.operators.Dedup.BloomK}),
       |cand AS (SELECT DISTINCT doc_id FROM hitsh)""".stripMargin
  }

  private[queries] object F {
    val P = "2147483647"
    def toks(t: String) =
      s"list_filter(string_split_regex(lower($t), '[^a-z]+'), x -> x <> '')"
    def md5L(s: String) = s"CAST(('0x'||substr(md5($s),1,15)) AS BIGINT)"
    val sh =
      s"""CASE WHEN len(toks) < ${Dedup.ShingleN} THEN []::VARCHAR[]
         |     ELSE list_transform(generate_series(1, len(toks)-${Dedup.ShingleN - 1}),
         |            i -> array_to_string(toks[i:i+${Dedup.ShingleN - 1}], ' ')) END""".stripMargin
    def jac(a: String, b: String) =
      s"""(CASE WHEN len(list_distinct($a || $b)) = 0 THEN 0.0
         |      ELSE CAST(len(list_intersect($a, $b)) AS DOUBLE) / len(list_distinct($a || $b)) END)""".stripMargin
    def markers(m: Seq[String]) = m.map("'" + _ + "'").mkString("(", ",", ")")
    val langScores = TextOps.LangMarkers.map { case (l, m) =>
      s"len(list_filter(toks, t -> t IN ${markers(m)})) AS s_$l"
    }.mkString(", ")
    val langCase =
      """CASE WHEN s_zh >= s_fr AND s_zh >= s_es AND s_zh >= s_en AND s_zh >= s_de THEN 'zh'
        |     WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
        |     WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
        |     WHEN s_en >= s_de THEN 'en' ELSE 'de' END""".stripMargin
    val stopRatio = {
      val in = markers(TextOps.StopWords)
      s"(CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, t -> t IN $in)) AS DOUBLE) / len(toks) END)"
    }
    val punct =
      "(CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS DOUBLE) / length(text) END)"
    /** DuckDB mirror of TextOps.splitLabel over an id expression. */
    def split(id: String) =
      s"""(CASE WHEN ${md5L(s"'split:'||$id")} % 100 < 90 THEN 'train'
         |      WHEN ${md5L(s"'split:'||$id")} % 100 < 95 THEN 'val'
         |      ELSE 'test' END)""".stripMargin

    // The CTE lists below carry no leading WITH, so a caller opens its
    // own (plain or RECURSIVE) WITH; none has a line that starts with
    // `|`, so each may be interpolated into a stripMargin template.

    /** `Dedup.shingled` over every document: `t` (doc_id, toks), `sh`
      * (doc_id, sh) and `hs` (doc_id, shh). */
    val hsCtes: String =
      s"""t AS (SELECT doc_id, ${toks("text")} AS toks FROM documents),
         |sh AS (SELECT doc_id, $sh AS sh FROM t),
         |hs AS (SELECT doc_id, list_transform(sh, s -> ${md5L("s")} % $P) AS shh FROM sh)""".stripMargin

    /** The `Dedup.minhashBands` recipe over [[hsCtes]]: `sig` (doc_id,
      * shh, sig) is the MinHash signature under
      * hᵢ(x) = ((2i+1)·x + 7919·i) mod P, all-P for an empty set, and
      * `bnd` (doc_id, band, band_hash) folds each band's slice as
      * (h·31 + x) mod P from 0. A doc with an empty shingle set is in
      * no band. */
    val sigBndCtes: String =
      s"""$hsCtes,
         |sig AS (SELECT doc_id, shh, list_transform(generate_series(0, ${Dedup.MinhashH - 1}), i ->
         |          coalesce(list_min(list_transform(shh, x -> ((i*2+1)*x + 7919*i) % $P)), $P)) AS sig
         |        FROM hs),
         |bnd AS (SELECT doc_id, b AS band,
         |          list_reduce(list_prepend(0::BIGINT, sig[b*${Dedup.Rows}+1 : b*${Dedup.Rows}+${Dedup.Rows}]),
         |                      (h, x) -> (h * 31 + x) % $P) AS band_hash
         |        FROM sig, (SELECT unnest(generate_series(0, ${Dedup.Bands - 1})) AS b)
         |        WHERE len(shh) > 0)""".stripMargin

    /** `Dedup.candidatePairs` over [[sigBndCtes]]: `cand` (a, b), each
      * pair of docs sharing a (band, band_hash) bucket once, a &lt; b. */
    val candCte: String =
      """cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |         FROM bnd x JOIN bnd y
        |           ON x.band = y.band AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id)""".stripMargin

    /** `Dedup.minhashNearDupsFrom` at Jaccard 0.3: [[sigBndCtes]] and
      * [[candCte]], then `j` (a, b, jaccard), every candidate's
      * rounded shingle Jaccard, and `pairs` (a, b), those at 0.3 or
      * above. */
    val nearDupCtes: String =
      s"""$sigBndCtes,
         |$candCte,
         |j AS (SELECT c.a, c.b, round(${jac("x.sh", "y.sh")}, 6) AS jaccard
         |      FROM cand c JOIN sh x ON c.a = x.doc_id JOIN sh y ON c.b = y.doc_id),
         |pairs AS (SELECT a, b FROM j WHERE jaccard >= 0.3)""".stripMargin

    /** `Components.connectedComponents` over `pairs`: `edges` (u, v)
      * both ways, `reach` (node, r), recursive, so the caller's WITH
      * must be RECURSIVE, and `cc` (node, component), the smallest id
      * a node reaches. */
    val componentCtes: String =
      """edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b AS u, a AS v FROM pairs),
        |reach AS (SELECT u AS node, u AS r FROM edges
        |          UNION
        |          SELECT e.v AS node, reach.r AS r FROM reach JOIN edges e ON reach.node = e.u),
        |cc AS (SELECT node, min(r) AS component FROM reach GROUP BY node)""".stripMargin

    /** `TextOps.simhashFromHashes` over the token md5s of the documents
      * `where` selects: `t`, `h` (doc_id, tok), `th` (doc_id, th),
      * `bits` (doc_id, b, bit), bit b set when the ±1 vote of bit b
      * across the tokens is positive, and `sh` (doc_id, simhash). A doc
      * with no token has no row. */
    def simhashCtes(bits: Int, where: String = "TRUE"): String =
      s"""t AS (SELECT doc_id, ${toks("text")} AS toks FROM documents WHERE $where),
         |h AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         |th AS (SELECT doc_id, ${md5L("tok")} AS th FROM h),
         |bits AS (SELECT doc_id, b,
         |           CASE WHEN sum(CASE WHEN (th % (2*(1::BIGINT<<b))) >= (1::BIGINT<<b)
         |                              THEN 1 ELSE -1 END) > 0
         |                THEN (1::BIGINT<<b) ELSE 0 END AS bit
         |         FROM th, (SELECT unnest(generate_series(0, ${bits - 1})) AS b) GROUP BY doc_id, b),
         |sh AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS simhash FROM bits GROUP BY doc_id)""".stripMargin

    /** `dupSpans` over [[hsCtes]]: shingle positions `pe`/`p`, the
      * hashes held by at most 10 docs (`keep`), aligned matches `m`
      * (a, b, pa, pb, diff) and `r`, and `spans` (a, b, diff, grp,
      * a_start, b_start, n_sh), runs of two or more consecutive
      * shared shingles. */
    val spanCtes: String =
      s"""$hsCtes,
         |pe AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(shh)),
         |                       i -> {'pos': i - 1, 'h': shh[i]})) AS e FROM hs),
         |p AS (SELECT doc_id, e.pos AS pos, e.h AS h FROM pe),
         |keep AS (SELECT p.* FROM p JOIN
         |           (SELECT h FROM p GROUP BY h HAVING count(DISTINCT doc_id) <= 10) d USING (h)),
         |m AS (SELECT x.doc_id AS a, y.doc_id AS b, x.pos AS pa, y.pos AS pb, x.pos - y.pos AS diff
         |      FROM keep x JOIN keep y ON x.h = y.h AND x.doc_id < y.doc_id),
         |r AS (SELECT a, b, diff, pa, pb,
         |        pa - row_number() OVER (PARTITION BY a, b, diff ORDER BY pa) AS grp FROM m),
         |spans AS (SELECT a, b, diff, grp, min(pa) AS a_start, min(pb) AS b_start, count(*) AS n_sh
         |          FROM r GROUP BY a, b, diff, grp HAVING count(*) >= 2)""".stripMargin
  }

  /** Shared dedup-index build: the three minhash-family queries
    * (minhash_near_dups, semantic_dedup, near_dup_purge) probe the SAME
    * shingle + candidate tables, so the build runs once per
    * (session, data dir) and is materialized via a Cuts cut — the
    * batch analogue of the reference's build-once/query-many Index
    * contract (kowari src/index.rs:8-12). At 100 TB this is a signature
    * table persisted to parquet between pipeline stages. */
  private def sharedDedupIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    SharedBuilds.of(s, dir, "minhash-dedup") {
      val hashed = Dedup.shingled(documents(s, dir)).cut()
      (hashed, Dedup.candidatesFrom(hashed).cut())
    }

  /** Maximal cross-doc duplicate spans (a < b, ≥ 2 consecutive shingle
    * matches at a constant offset): the shared signal behind
    * dup_span_stats (the audit view) and dup_span_trim_stats (the
    * transform arithmetic). Columns: a, b, diff, a_start, b_start,
    * n_sh. df-capped at 10 docs per shingle hash, run-length merged
    * by one (a, b, diff)-keyed window. Memoized per (session, dir):
    * the posting join + span window run once, shared by the stats and
    * trim queries (the SharedBuilds discipline every other expensive
    * shared artifact follows). */
  private def dupSpans(s: SparkSession, dir: String): DataFrame =
    SharedBuilds.of(s, dir, "dup-spans")(dupSpansUncached(s, dir).cut())

  private def dupSpansUncached(s: SparkSession, dir: String): DataFrame = {
    val (hashed, _) = sharedDedupIndex(s, dir)
    val pos = hashed
      .select(col("doc_id"), posexplode(col("shh")))
      .toDF("doc_id", "pos", "h")
    val dfCap = pos.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= 10)
    val keep = pos.join(dfCap.select(col("h")), "h")
    val a = keep.select(col("doc_id").as("a"), col("pos").as("pa"), col("h"))
    val b = keep.select(col("doc_id").as("b"), col("pos").as("pb"), col("h"))
    val md = a.join(b, "h").filter(col("a") < col("b"))
      .withColumn("diff", col("pa") - col("pb"))
    val w = Window.partitionBy("a", "b", "diff").orderBy("pa")
    md.withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("a"), col("b"), col("diff"), col("grp"))
      .agg(min(col("pa")).as("a_start"), min(col("pb")).as("b_start"),
        count(lit(1)).as("n_sh"))
      .filter(col("n_sh") >= 2)
  }

  /** Shared simhash sketch tables (16-bit and 60-bit): the corpus is
    * tokenized + md5'd ONCE and each declared width's sketch fold runs
    * once per (session, dir) — the sketches are the dedup index's
    * build artifacts (like the minhash signature table above); the
    * declared queries are the banded PROBES over them. */
  private def sharedSimhashSketches(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    SharedBuilds.of(s, dir, "simhash-sketches") {
      val th = Dedup.tokenHashes(documents(s, dir)).cut()
      (Dedup.simhashSketch(th, 16).cut(),
        Dedup.simhashSketch(th, 60).cut())
    }

  /** Connected components over the minhash near-dup pair graph, built
    * once per (session, dir): the cluster map is consumed by both
    * dedup_components (the audit view) and curation_funnel (the
    * canonical-doc purge stage). */
  private def sharedComponents(s: SparkSession, dir: String): DataFrame =
    SharedBuilds.of(s, dir, "dedup-components") {
      val (hashed, cand) = sharedDedupIndex(s, dir)
      Components.connectedComponents(
        Dedup.minhashNearDupsFrom(hashed, cand, 0.3).select(col("a"), col("b")))
        .cut()
    }

  /** Contaminated corpus doc ids (share a 5-gram shingle with the eval
    * stand-ins, docs 0-9), computed the scale way: the eval side's
    * Bloom bitmap broadcasts and screens the corpus MAP-ONLY down to
    * candidates, and the exact shingle join verifies ONLY those (no
    * false negatives, so candidates ⊇ truth). Shared by the funnel's
    * decon stage; decontamination_bloom keeps its own copy because it
    * audits the screen itself (candidate vs exact counts). */
  private def sharedContaminatedIds(s: SparkSession, dir: String): DataFrame =
    SharedBuilds.of(s, dir, "decon-exact-ids") {
      val (hashed, _) = sharedDedupIndex(s, dir)
      // bits built DISTRIBUTED (one-row collect_set head) — the eval
      // hashes themselves never land on the driver
      val bits = typedLit(Dedup.bloomBitsOf(
        hashed.filter(col("doc_id") < 10)
          .select(explode(array_distinct(col("shh"))).as("h"))))
      hashed.filter(col("doc_id") >= 10)
        .filter(exists(array_distinct(col("shh")),
          h => Dedup.bloomMightContain(h, bits)))
        .select(col("doc_id"), explode(array_distinct(col("shh"))).as("h"))
        .join(broadcast(hashed.filter(col("doc_id") < 10)
          .select(explode(array_distinct(col("shh"))).as("h")).distinct()), "h")
        .select(col("doc_id")).distinct()
        .cut()
    }

  /** Per-source cap applied inside the funnel: keep the top
    * [[FunnelCapK]] decon survivors per source by redacted-text
    * quality score — 20 sources × 25–250 docs each in the testdata,
    * so the cap genuinely drops rows at every sf. */
  private[graft] val FunnelCapK = 15

  /** The funnel's PII stage: a deterministic synthetic triple
    * (same formula as pii_redaction_audit) is planted on the doc_id%7
    * minority — the "dirty docs" — then ALL text is scrubbed through
    * the three typed-placeholder replaces. Redaction is a TRANSFORM,
    * not a filter (real pipelines keep the scrubbed doc), so the
    * funnel reports how many survivors NEEDED redaction and computes
    * every downstream quality metric over the REDACTED text. */
  private[queries] def piiPlanted: Column =
    when(col("doc_id") % 7 === 0, concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail"), (col("doc_id") % 7).cast("string"), lit(".com ip 10."),
      (col("doc_id") % 256).cast("string"), lit(".0."),
      (col("doc_id") % 100).cast("string"), lit(" phone +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(col("text"))

  private[queries] def piiRedact(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      PiiEmail, "<EMAIL>"), PiiIp, "<IP>"), PiiPhone, "<PHONE>")

  private def piiMatches(c: Column): Column =
    (size(regexp_extract_all(c, lit(PiiEmail), lit(0))) +
      size(regexp_extract_all(c, lit(PiiIp), lit(0))) +
      size(regexp_extract_all(c, lit(PiiPhone), lit(0)))).cast("long")

  /** The Gopher word statistics of `text` (Rae et al. 2021, appendix
    * A): `ws` (the non-empty whitespace-split words) and `nw` (their
    * count), `mean_len` (mean word length), `sym_ratio` ('#' and '...'
    * per word) and `alpha_ratio` (the share of words with a letter);
    * each ratio is 0.0 for a doc with no words. */
  private def gopherWordStats(docs: DataFrame): DataFrame = docs
    .withColumn("ws", filter(split(col("text"), "\\s+"), w => length(w) > lit(0)))
    .withColumn("nw", size(col("ws")).cast("long"))
    .withColumn("mean_len", when(col("nw") === 0, lit(0.0)).otherwise(
      aggregate(col("ws"), lit(0L), (acc, w) => acc + length(w).cast("long"))
        .cast("double") / col("nw")))
    .withColumn("sym_ratio", when(col("nw") === 0, lit(0.0)).otherwise(
      ((length(col("text")) - length(regexp_replace(col("text"), "#", ""))).cast("double") +
        (length(col("text")) - length(regexp_replace(col("text"), "\\.\\.\\.", ""))).cast("double") / 3.0)
        / col("nw")))
    .withColumn("alpha_ratio", when(col("nw") === 0, lit(0.0)).otherwise(
      size(filter(col("ws"), w => w.rlike("[A-Za-z]"))).cast("double") / col("nw")))

  /** Map-only per-doc PII scrub + quality + lexical-diversity metrics —
    * the text work of the funnel's post-dedup stages, factored out so
    * the FULL pipeline (curation_funnel) and the INCREMENTAL pipeline
    * (incremental_funnel, which runs this over only the new shards)
    * execute the identical arithmetic by construction. Input needs
    * (doc_id, source, text); quality/TTR/score all read the REDACTED
    * text (dedup hashes upstream read the original — scrub runs after
    * dedup, before quality, as in a real pipeline). */
  private[queries] def funnelMetrics(docs: DataFrame): DataFrame = docs
    .withColumn("praw", piiPlanted)
    .withColumn("pii_hit", piiMatches(col("praw")) > 0L)
    .withColumn("text", piiRedact(col("praw")))
    .drop("praw")
    .withColumn("q", round(TextOps.qualityScore(col("text")), 6))
    .withColumn("toks", TextOps.tokens(col("text")))
    .transform(gopherWordStats)
    .select(col("doc_id"), col("source"), col("pii_hit"), col("q"),
      (col("nw").between(50L, 100000L) &&
        col("mean_len") >= 3.0 && col("mean_len") <= 10.0 &&
        col("sym_ratio") < 0.1 && col("alpha_ratio") >= 0.8).as("q_pass"),
      (size(col("toks")) === 0 ||
        size(array_distinct(col("toks"))).cast("double") /
          size(col("toks")) >= 0.32).as("ttr_pass"))

  /** The funnel's cross-doc stages over a THIN per-doc frame
    * (doc_id, ch, component?, contaminated?, source, pii_hit, q,
    * q_pass, ttr_pass): exact-keep window over the content hash,
    * canonical-doc window over the component, decontamination gate,
    * PII-scrub census, per-source cap window, then the one conditional
    * aggregation that closes the funnel. Shared by the full and
    * incremental paths — the exchanges here carry small rows whatever
    * the corpus size; no text survives to this point. Stage order is
    * the real pipeline's: dedup → decon → scrub → source cap →
    * quality → diversity. The cap ranks decon survivors per source by
    * (redacted-text quality score desc, doc_id asc) — survivors sort
    * ahead of non-survivors inside the window, so row_number over the
    * source partition caps exactly the survivor prefix. */
  /** Per-doc stage-keep flags over the thin funnel frame — the shared
    * kernel of the census aggregation AND the export materialization
    * (the two consumers of "which docs survived"). Adds `final_keep`,
    * the gate the exported training set applies. */
  private[queries] def funnelFlags(thin: DataFrame): DataFrame = {
    val wHash = Window.partitionBy(col("ch"))
    val wComp = Window.partitionBy(col("component"))
    val wSrc = Window.partitionBy(col("source"))
      .orderBy(col("decon_keep").desc, col("q").desc, col("doc_id").asc)
    thin
      .withColumn("exact_keep", col("doc_id") === min(col("doc_id")).over(wHash))
      .withColumn("nd_keep", col("exact_keep") && (col("component").isNull ||
        col("doc_id") ===
          min(when(col("exact_keep"), col("doc_id"))).over(wComp)))
      .withColumn("decon_keep",
        col("nd_keep") && !coalesce(col("contaminated"), lit(false)))
      .withColumn("cap_keep",
        col("decon_keep") && row_number().over(wSrc) <= FunnelCapK)
      .withColumn("final_keep",
        col("cap_keep") && col("q_pass") && col("ttr_pass"))
  }

  private[graft] def funnelAgg(thin: DataFrame): DataFrame = {
    def cnt(c: org.apache.spark.sql.Column) =
      sum(when(c, 1L).otherwise(0L)).cast("long")
    funnelFlags(thin)
      .agg(count(lit(1)).cast("long").as("n_raw"),
        cnt(col("exact_keep")).as("n_exact"),
        cnt(col("nd_keep")).as("n_neardup"),
        cnt(col("decon_keep")).as("n_decontaminated"),
        cnt(col("decon_keep") && col("pii_hit")).as("n_pii_redacted"),
        cnt(col("cap_keep")).as("n_capped"),
        cnt(col("cap_keep") && col("q_pass")).as("n_quality"),
        cnt(col("cap_keep") && col("q_pass") && col("ttr_pass")).as("n_final"))
  }

  /** The full-corpus thin funnel frame (doc_id, ch, component?,
    * contaminated?, source, pii_hit, q, q_pass, ttr_pass) — shared by
    * curation_funnel and training_export_census. Decon drops CORPUS
    * docs that leak eval shingles; the eval stand-ins (doc_id < 10)
    * are not on the corpus side of the sweep, so they pass that stage
    * untouched (contam is a broadcast-size id list — a left join,
    * never a shuffle of the funnel frame at scale). */
  private def fullCorpusThin(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val cc = sharedComponents(s, dir).withColumnRenamed("node", "doc_id")
    val contam = sharedContaminatedIds(s, dir)
      .withColumn("contaminated", lit(true))
    docs
      .select(col("doc_id"), TextOps.md5Long(col("text")).as("ch"))
      .join(cc, Seq("doc_id"), "left")
      .join(broadcast(contam), Seq("doc_id"), "left")
      .join(funnelMetrics(docs), "doc_id")
  }

  /** Durable training-set artifact, memoized per (session, dir): the
    * funnel's final survivors written as split×source hive-partitioned
    * parquet shards — doc_id, n_chars (the source doc's char count,
    * the unit the census reports) and the REDACTED text (the funnel's
    * PII scrub is a transform: the exported corpus is the scrubbed
    * one) — then READ BACK from disk. The hive layout is what a
    * trainer's loader consumes (split selection = partition pruning);
    * the funnel's budgets (per-source cap, quality, diversity) arrive
    * enforced through final_keep. Survivors are a cap-bounded set
    * (≤ FunnelCapK per source), so the keep-list join broadcasts. */
  private def sharedTrainingExport(s: SparkSession, dir: String): DataFrame =
    SharedBuilds.of(s, dir, "training-export") {
      val path = buildPath(dir, "training-export")
      val kept = funnelFlags(fullCorpusThin(s, dir))
        .filter(col("final_keep")).select(col("doc_id"))
      documents(s, dir)
        .join(broadcast(kept), "doc_id")
        .withColumn("text", piiRedact(piiPlanted))
        .withColumn("split", TextOps.splitLabel(col("doc_id")))
        .select(col("doc_id"), col("n_chars"), col("text"),
          col("split"), col("source"))
        .write.mode("overwrite").partitionBy("split", "source").parquet(path)
      s.read.parquet(path)
    }

  /** Contaminated ids among `corpus` (a shingle table slice with
    * doc_id >= 10): Bloom screen from the broadcast `bits` literal,
    * exact verify against the broadcast eval shingle-hash frame —
    * the sharedContaminatedIds shape, callable per batch. */
  private[queries] def contamIds(corpus: DataFrame,
      bits: org.apache.spark.sql.Column, evalSh: DataFrame): DataFrame =
    corpus
      .filter(exists(array_distinct(col("shh")),
        h => Dedup.bloomMightContain(h, bits)))
      .select(col("doc_id"), explode(array_distinct(col("shh"))).as("h"))
      .join(broadcast(evalSh), "h")
      .select(col("doc_id")).distinct()

  /** INCREMENTAL curation — the workload a daily 100 TB ingestion job
    * actually runs, composed from the primitives the store layer
    * already provides: the corpus lands in a snapshot-manifested
    * parquet store in TWO commits (KwiSnapshots.commit is
    * format-agnostic — it tracks shard basenames, so the same
    * manifest protocol that versions `.kwi` stores versions this
    * parquet document store), and the funnel then runs as
    *
    *   commit-1 state  = full pipeline over snapshot 1 only
    *   incremental run = `snapshotDiff 1..2` (ONLY the new shards)
    *                     through shingle/hash/quality text work, then
    *                     thin-frame merges against the state:
    *     - new candidate pairs = new×new bands ∪ new×OLD bands (the
    *       state's band table is the static join side);
    *     - components = CC over the state's star edges + the new
    *       verified pairs — a new doc bridging two old clusters MERGES
    *       them, exactly as a full rebuild would (star compression
    *       preserves connectivity and the min-id labels);
    *     - decontamination screens only the new docs against the
    *       state's Bloom bits + eval shingle set;
    *     - quality/TTR metrics run map-only over the new docs.
    *
    * Every byte of TEXT is read exactly once across the two phases,
    * and everything that crosses them is a state TABLE PERSISTED TO
    * PARQUET (content hashes, band keys, shingle sets, component map,
    * contaminated ids, quality metrics, eval shingles) that phase B
    * reads back from disk — no shared in-memory lineage, exactly the
    * two scheduler ticks of a real daily job. The declared oracle is
    * the FULL-corpus funnel SQL, so the green gate IS the
    * incremental == rebuild proof (the append==rebuild discipline of
    * pq_append_audit applied to the whole curation pipeline). */
  private def incrFunnelFlags(s: SparkSession, dir: String): DataFrame =
    SharedBuilds.of(s, dir, "incr-funnel-flags") {
      incrFunnelPhaseB(s, dir).cut()
    }

  /** Bench scale-probe entry: one full phase-B execution (diff-read +
    * state merges + funnel aggregation), re-run per timing pass —
    * phase A's memoized state build lands in the untimed warm-up. */
  private[graft] def incrementalFunnelProbe(s: SparkSession, dir: String): DataFrame =
    funnelAgg(incrFunnelPhaseB(s, dir))

  /** Snapshot read over the funnel's two-commit store (see
    * [[incrFunnelState]]): "1" = first commit, "1..2" = the diff. */
  private[queries] def readSnap(s: SparkSession, path: String, opt: String): DataFrame = {
    import graft.sources.KwiSnapshots
    val files =
      if (opt.contains("..")) KwiSnapshots.resolveDiff(path, opt)
      else KwiSnapshots.resolve(path, opt)
    // same spread rule as Tables.documents: the shingle work is
    // interpreted-mode HOFs, so buy map-side parallelism up front
    s.read.parquet(files: _*)
      .repartition(s.sparkContext.defaultParallelism)
  }

  /** Phase A of the incremental funnel, memoized: the two-commit
    * document store plus every persisted state table a daily job keeps
    * between runs. Returns the store path (state lives at
    * `$path.state`). */
  private[queries] def incrFunnelState(s: SparkSession, dir: String): String =
    SharedBuilds.of(s, dir, "incr-funnel-state") {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      import scala.jdk.CollectionConverters._
      import graft.sources.{CollectionManager, KwiSnapshots}
      // ---- the two-commit document store (batch1 = lower half of the
      // id space, batch2 = the rest; eval stand-ins doc_id<10 are
      // always in batch1, so the decon state is complete after v1)
      val path = Tables.buildPath(dir, "incr-funnel")
      CollectionManager.deleteRecursively(Paths.get(path))
      Files.createDirectories(Paths.get(path))
      // source rides the stored shards: the funnel's cap stage
      // partitions by it and phase B must see it on the diff shards
      val docsAll = documents(s, dir).select(col("doc_id"), col("source"), col("text"))
      val maxId = docsAll.agg(max(col("doc_id"))).collect()(0).getLong(0)
      val cutoff = math.max(10L, (maxId + 1) / 2)
      require(cutoff <= maxId,
        s"corpus too small for a two-commit split (max doc_id $maxId)")
      def commitBatch(batch: DataFrame, tag: String): Unit = {
        val stage = s"$path.stage-$tag"
        batch.write.mode("overwrite").parquet(stage)
        val names = Files.list(Paths.get(stage)).iterator().asScala
          .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
          .toSeq.sorted.zipWithIndex.map { case (n, i) =>
            val dst = f"$tag-$i%04d.parquet"
            Files.move(Paths.get(stage, n), Paths.get(path, dst),
              StandardCopyOption.ATOMIC_MOVE)
            dst
          }
        KwiSnapshots.commit(path, truncate = false, added = names)
        CollectionManager.deleteRecursively(Paths.get(stage))
      }
      commitBatch(docsAll.filter(col("doc_id") < cutoff), "batch1")
      commitBatch(docsAll.filter(col("doc_id") >= cutoff), "batch2")
      // ---- phase A: commit-1 state (text work touches batch1 only;
      // the batch is checkpointed so its three consumers — shingle
      // table, content hashes, quality metrics — scan it once). Every
      // state frame is PERSISTED to parquet and phase B reads it back
      // from disk: the two phases share no in-memory lineage, exactly
      // like the two scheduler ticks of a real daily job (the state
      // tables are what that job keeps between runs).
      val stateDir = s"$path.state"
      CollectionManager.deleteRecursively(Paths.get(stateDir))
      def saveState(df: DataFrame, name: String): DataFrame = {
        val p = s"$stateDir/$name"
        df.write.mode("overwrite").parquet(p)
        s.read.parquet(p)
      }
      val docs1 = readSnap(s, path, "1").cut()
      val hashed1 = Dedup.shingled(docs1).cut()
      val pairs1 = Dedup.minhashNearDupsFrom(
        hashed1, Dedup.candidatesFrom(hashed1), 0.3).select(col("a"), col("b"))
      // the persisted state: band table, shingle sets, component map,
      // contaminated ids, content hashes, quality metrics, eval
      // shingle hashes (the Bloom bits re-derive from the last)
      saveState(Dedup.candidateBands(hashed1), "bands")
      saveState(hashed1.select(col("doc_id"), col("sh")), "shingles")
      saveState(Components.connectedComponents(pairs1), "components")
      val evalSh = saveState(hashed1.filter(col("doc_id") < 10)
        .select(explode(array_distinct(col("shh"))).as("h")).distinct(),
        "eval-shingles")
      saveState(contamIds(hashed1.filter(col("doc_id") >= 10),
        typedLit(Dedup.bloomBitsOf(evalSh)), evalSh), "contam")
      saveState(docs1.select(col("doc_id"),
        TextOps.md5Long(col("text")).as("ch")), "ch")
      saveState(funnelMetrics(docs1), "metrics")
      path
    }

  /** Phase B: the incremental run — TEXT reads only the `1..2` diff
    * shards; everything else comes off the persisted state tables.
    * NOT memoized (callers memoize the result): Bench's scale probe
    * re-executes this whole diff-read + merge to time the headline
    * composition at 1× and 10×. */
  private[graft] def incrFunnelPhaseB(s: SparkSession, dir: String): DataFrame = {
    val path = incrFunnelState(s, dir)
    val stateDir = s"$path.state"
    def state(name: String): DataFrame = s.read.parquet(s"$stateDir/$name")
    val bandsState = state("bands")
    val shState = state("shingles")
    val compState = state("components")
    val evalSh = state("eval-shingles")
    val contamState = state("contam")
    val chState = state("ch")
    val metricsState = state("metrics")
    val bits = typedLit(Dedup.bloomBitsOf(evalSh))
    val newDocs = readSnap(s, path, "1..2").cut()
    val hashedN = Dedup.shingled(newDocs).cut()
    val bandsN = Dedup.candidateBands(hashedN).cut()
    val newNew = Dedup.candidatePairs(bandsN)
    val newOld = bandsState.select(col("doc_id").as("a"), col("band"), col("band_hash"))
      .join(bandsN.select(col("doc_id").as("b"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .select(col("a"), col("b")).distinct() // old id < new id always
    val shUnion = shState
      .union(hashedN.select(col("doc_id"), col("sh")))
    val pairsB = Dedup.minhashNearDupsFrom(
      shUnion, newNew.union(newOld).distinct(), 0.3).select(col("a"), col("b"))
    val starEdges = compState.filter(col("node") =!= col("component"))
      .select(col("component").as("a"), col("node").as("b"))
    val compAll = Components.connectedComponents(starEdges.union(pairsB))
      .withColumnRenamed("node", "doc_id")
    val contamN = contamIds(hashedN, bits, evalSh)
    val chB = newDocs.select(col("doc_id"), TextOps.md5Long(col("text")).as("ch"))
    val metricsN = funnelMetrics(newDocs)
    val contamAll = contamState.union(contamN).distinct()
      .withColumn("contaminated", lit(true))
    chState.union(chB)
      .join(compAll, Seq("doc_id"), "left")
      .join(broadcast(contamAll), Seq("doc_id"), "left")
      .join(metricsState.union(metricsN), "doc_id")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // tokenization stats (token counting op)
    "token_stats" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      documents(s, dir).filter(col("doc_id") < 50)
        .select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          round(size(array_distinct(toks)).cast("double") /
            size(toks).cast("double"), 6).as("distinct_ratio"))
        .orderBy(col("doc_id"))
    }),

    // BPE-ish subword budgeting vs whitespace tokens
    "bpe_token_stats" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      documents(s, dir).filter(col("doc_id") < 50)
        .select(col("doc_id"),
          size(toks).cast("long").as("ws_tokens"),
          TextOps.bpeTokenCount(col("text")).cast("long").as("bpe_tokens"))
        .orderBy(col("doc_id"))
    }),

    // exact dedup with a constructed duplicate block: union the first
    // 10 docs back in under shifted ids, dedup keep-min — the
    // reference's keep-one semantics on a corpus that actually has dups
    "exact_dedup_keep" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val dupes = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
      Dedup.exactDupGroups(docs.unionByName(dupes))
        .filter(col("cnt") > 1)
        .select(col("keep_id"), col("cnt").cast("long").as("group_size"))
        .orderBy(col("keep_id"))
    }),

    // corpus-level token aggregates
    "token_corpus_stats" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      documents(s, dir)
        .select(size(toks).as("n"))
        .agg(sum(col("n")).cast("long").as("total_tokens"),
          round(avg(col("n").cast("double")), 6).as("avg_tokens"),
          sum(when(col("n") >= 40, 1).otherwise(0)).cast("long").as("docs_ge_40"))
    }),

    // language-ID heuristic vs the labeled lang column (confusion counts)
    "lang_confusion" -> ((s, dir) =>
      documents(s, dir)
        .select(col("lang"), TextOps.langId(col("text")).as("pred"))
        .groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("lang"), col("pred"))),

    // quality scoring: top-30 docs by composite score
    "quality_top30" -> ((s, dir) =>
      documents(s, dir)
        .select(col("doc_id"),
          round(TextOps.qualityScore(col("text")), 6).as("quality"))
        .orderBy(col("quality").desc, col("doc_id").asc)
        .limit(30)),

    // rolling-hash document fingerprints
    "doc_fingerprints" -> ((s, dir) =>
      documents(s, dir).filter(col("doc_id") < 50)
        .select(col("doc_id"),
          TextOps.fingerprint(TextOps.tokens(col("text"))).as("fp"))
        .orderBy(col("doc_id"))),

    // winnowing: per-doc fingerprint-set profile (w=4 over 5-gram
    // hashes); shared fingerprints between docs = containment signal
    "winnow_fingerprints" -> ((s, dir) => {
      val shh = TextOps.shingleHashes(Dedup.shingles(col("text")))
      // materialize the shingle hashes before winnowing: winnow embeds
      // its input 4x and `fps` is consumed twice more, so the inlined
      // tree grows to ~8 copies of the tokenize→shingle→md5 pipeline —
      // the optimizer alone then costs seconds per planning pass
      val hashed = documents(s, dir).filter(col("doc_id") < 50)
        .select(col("doc_id"), shh.as("shh")).cut()
      hashed
        .select(col("doc_id"), TextOps.winnow(col("shh"), 4).as("fps"))
        .select(col("doc_id"),
          size(col("fps")).cast("long").as("n_fingerprints"),
          array_min(col("fps")).as("min_fp"))
        .orderBy(col("doc_id"))
    }),

    // winnowing CONTAINMENT join: doc pairs sharing >= 2 winnow
    // fingerprints (MOSS-style containment/plagiarism detection, the
    // cross-doc companion of winnow_fingerprints). Scale shape: one
    // shuffle keyed on the fingerprint (Σ|posting|² candidate work)
    // with ultra-common fingerprints df-capped out first — the
    // standard stop-fingerprint guard that keeps a template-heavy
    // corpus from quadratic posting blowups; the cap is replayed
    // identically in SQL so the result stays hash-matched.
    "winnow_containment" -> ((s, dir) => {
      val (hashed, _) = sharedDedupIndex(s, dir)
      // fps feeds three consumers (df census + both join sides):
      // materialize once, and winnow itself embeds its input 4x, so
      // it must fold over the checkpointed shingle table
      val fps = hashed
        .select(col("doc_id"), explode(TextOps.winnow(col("shh"), 4)).as("fp"))
        .cut()
      val common = fps.groupBy(col("fp"))
        .agg(count(lit(1)).as("df")).filter(col("df") > 20).select(col("fp"))
      val pruned = fps.join(broadcast(common), Seq("fp"), "left_anti")
      val a = pruned.select(col("doc_id").as("a"), col("fp"))
      val b = pruned.select(col("doc_id").as("b"), col("fp"))
      a.join(b, "fp").filter(col("a") < col("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .orderBy(col("a"), col("b"))
    }),

    // per-source quality rollup (decimal-exact mean of rounded scores)
    "source_quality_rollup" -> ((s, dir) =>
      documents(s, dir)
        .select(col("source"),
          round(TextOps.qualityScore(col("text")), 6)
            .cast("decimal(12,6)").as("q"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          // cast the exact decimal sum to double BEFORE dividing —
          // decimal-division scale rules differ between engines
          round(sum(col("q")).cast("double") / count(lit(1)), 6).as("avg_quality"))
        .orderBy(col("source"))),

    // exact dedup: content-hash group-size histogram
    "exact_dup_hist" -> ((s, dir) =>
      Dedup.exactDupGroups(documents(s, dir))
        .groupBy(col("cnt").as("group_size"))
        .agg(count(lit(1)).as("n_groups"))
        .orderBy(col("group_size"))),

    // canonical-form dedup gain: the cheap normalization tier BETWEEN
    // exact hashing and MinHash — canonical form = lowercase alpha
    // tokens re-joined with single spaces (case / punctuation /
    // whitespace variants collapse). Reports how many extra duplicate
    // docs the canonical hash finds over the raw hash: the census a
    // pipeline runs to decide whether normalization-dedup is worth a
    // pass before the expensive near-dup join. Two hash-keyed
    // shuffles, nothing carries text past the hash projection.
    "canonical_dedup_gain" -> ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"),
        TextOps.md5Long(col("text")).as("rh"),
        TextOps.md5Long(concat_ws(" ", TextOps.tokens(col("text")))).as("ch"))
      val ragg = d.groupBy(col("rh")).agg(count(lit(1)).as("rc"))
      val cagg = d.groupBy(col("ch")).agg(count(lit(1)).as("cc"))
      d.join(ragg, "rh").join(cagg, "ch")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rc") > 1, 1L).otherwise(0L)).as("n_raw_dup_docs"),
          sum(when(col("cc") > 1, 1L).otherwise(0L)).as("n_canon_dup_docs"),
          sum(when(col("cc") > 1 && col("rc") === 1, 1L).otherwise(0L))
            .as("n_gain_docs"))
    }),

    // deterministic hash split (90/5/5 train/val/test) with per-split
    // audit stats — map-only over the scan (the split is a pure
    // function of the id, so no assignment table is ever joined)
    "hash_split_stats" -> ((s, dir) =>
      documents(s, dir)
        .withColumn("split", TextOps.splitLabel(col("doc_id")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy(col("split"))),

    // train/test CONTAMINATION audit: near-dup pairs (the minhash
    // pipeline's verified jaccard ≥ 0.3 pairs) labeled with the hash
    // split of each side — a val/test doc near-duplicating a train doc
    // is leakage a benchmark-honest pipeline must count before
    // training. Split labels are computed inline from the pair ids
    // (no join against an assignment table — map-only on top of the
    // banded candidate join).
    "split_leakage_audit" -> ((s, dir) => {
      val (hashed, cand) = sharedDedupIndex(s, dir)
      Dedup.minhashNearDupsFrom(hashed, cand, 0.3)
        .withColumn("split_a", TextOps.splitLabel(col("a")))
        .withColumn("split_b", TextOps.splitLabel(col("b")))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("split_a") =!= col("split_b"), 1L).otherwise(0L))
            .as("n_cross"))
        .orderBy(col("split_a"), col("split_b"))
    }),

    // MinHash+LSH near-dup pipeline, exact-Jaccard reranked
    "minhash_near_dups" -> ((s, dir) => {
      val (hashed, cand) = sharedDedupIndex(s, dir)
      Dedup.minhashNearDupsFrom(hashed, cand, 0.3)
    }),

    // two-signal semantic dedup: MinHash text candidates scored on
    // exact Jaccard AND embedding cosine (doc_id aligns with vec_id)
    "semantic_dedup" -> ((s, dir) => {
      val (hashed, cand) = sharedDedupIndex(s, dir)
      Dedup.semanticNearDupsFrom(hashed, cand, embeddings(s, dir), 0.15)
    }),

    // end-to-end dedup APPLICATION: detect near-dup pairs, drop the
    // higher doc_id of each pair via anti-join, count survivors — the
    // corpus-purge step that follows detection in a real pipeline
    "near_dup_purge" -> ((s, dir) => {
      val docs = documents(s, dir)
      val (hashed, cand) = sharedDedupIndex(s, dir)
      // materialize the drop set: three consumers below (dropped count,
      // anti-join, survivor count) would otherwise re-run the whole
      // MinHash pipeline per consumer
      val drops = Dedup.minhashNearDupsFrom(hashed, cand, 0.3)
        .select(col("b").as("doc_id")).distinct().cut()
      val kept = docs.join(drops, Seq("doc_id"), "left_anti")
      val total = docs.agg(count(lit(1)).as("n_total"))
      val dropped = drops.agg(count(lit(1)).as("n_dropped"))
      val surviving = kept.agg(count(lit(1)).as("n_kept"))
      total.crossJoin(dropped).crossJoin(surviving)
    }),

    // dedup CLUSTERS from dedup PAIRS: alternating large-star/small-star
    // connected components (Kiveris et al., SoCC 2014) over the minhash
    // near-dup pair graph — the step that makes a purge keep exactly one
    // doc per transitive chain a~b~c (pairwise drop rules over-drop).
    // Each half-round is one node-keyed shuffle; O(log n) rounds; the
    // unique fixed point (node → min id of component) is what the
    // DuckDB recursive-CTE oracle replays
    "dedup_components" -> ((s, dir) =>
      sharedComponents(s, dir)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_docs"), max(col("node")).as("max_doc"))
        .orderBy(col("component"))),

    // END-TO-END curation funnel — the composed pipeline a pretraining
    // corpus actually runs, with per-stage survivor counts:
    //   raw → exact dedup (keep-min per content hash)
    //       → near-dup purge (keep the min SURVIVING doc per connected
    //         component of the minhash pair graph — the component view
    //         keeps one doc per transitive chain where pairwise drops
    //         over-delete)
    //       → decontamination (drop corpus docs sharing an eval
    //         shingle; Bloom screen broadcasts, the exact join
    //         verifies only the screened candidates — the real
    //         pipeline's dedup → decon → quality order)
    //       → Gopher quality rules (word count, mean length, symbol
    //         ratio, alpha ratio; the stop-word rule is reported by
    //         gopher_quality_flags but not gated here — the synthetic
    //         vocab has no English function words, so gating on it
    //         would zero the corpus)
    //       → lexical-diversity floor (distinct/total token ratio,
    //         the C4-family degenerate-text cut).
    // Scale shape: the dedup flags need corpus-keyed windows (content
    // hash, component), so those run on a THIN (doc_id, ch, component)
    // frame — the window exchanges carry ~24-byte rows, never the
    // documents; the quality/diversity metrics are map-only over the
    // text and reduce to a thin (doc_id, booleans) frame before the
    // doc_id join. One conditional aggregation closes the funnel — no
    // per-stage jobs, no driver loops
    "curation_funnel" -> ((s, dir) => funnelAgg(fullCorpusThin(s, dir))),

    // the EXPORT census — the pipeline's actual deliverable: the
    // funnel's final survivors materialized as a training set
    // partitioned by (deterministic hash split × source), with per-
    // partition doc and char budgets — what a trainer's data loader
    // reads and what a data card reports. Composes the full funnel
    // flags with the pure-function split label (no assignment table);
    // one extra thin join + one bounded (3×20 partitions) rollup on
    // top of the funnel's cost
    "training_export_census" -> ((s, dir) => {
      val kept = funnelFlags(fullCorpusThin(s, dir))
        .filter(col("final_keep"))
        .select(col("doc_id"), col("source"))
      kept
        .join(documents(s, dir).select(col("doc_id"), col("n_chars")), "doc_id")
        .withColumn("split", TextOps.splitLabel(col("doc_id")))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy(col("split"), col("source"))
    }),

    // the export MATERIALIZED (the census counts the deliverable;
    // this writes it): funnel survivors land as
    // split×source hive-partitioned parquet shards carrying the
    // REDACTED text (the funnel's budgets — per-source cap, quality,
    // diversity — are enforced by final_keep upstream), and THIS query
    // re-reads the written shards and re-derives the census from them.
    // The oracle is the same from-scratch census SQL as
    // training_export_census, so green means the artifact ON DISK
    // reproduces the funnel's census — the read-back discipline of
    // pagerank_append_audit applied to the pipeline's deliverable
    // (lineage proves nothing about what was written; re-reading does)
    "training_export_audit" -> ((s, dir) =>
      sharedTrainingExport(s, dir)
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy(col("split"), col("source"))),

    // the incremental twin: same six funnel counts, computed from the
    // two-commit snapshot store via commit-1 state + a snapshotDiff
    // read of only the new shards (see incrFunnelFlags). The oracle is
    // the FULL-corpus funnel replay, so green == "incremental run
    // produced byte-identical results to a from-scratch rebuild"
    "incremental_funnel" -> ((s, dir) => funnelAgg(incrFunnelFlags(s, dir))),

    // exact-substring duplicate SPANS (the signal behind suffix-array
    // dedup, Lee et al. 2021 "Deduplicating Training Data Makes
    // Language Models Better"): position-indexed shingle hashes,
    // cross-doc equi-join on the hash (df-capped to skip stop-shingles,
    // same discipline as winnow_containment), then consecutive matches
    // at a constant position offset merge into maximal spans via one
    // run-length window. Two keyed shuffles total (hash join + span
    // window) — no pairwise text comparison anywhere
    "dup_span_stats" -> ((s, dir) =>
      dupSpans(s, dir)
        .select(col("a"), col("b"),
          col("a_start").cast("long").as("a_start"),
          col("b_start").cast("long").as("b_start"),
          (col("n_sh") + lit(Dedup.ShingleN - 1)).cast("long").as("span_tokens"))
        .orderBy(col("span_tokens").desc, col("a"), col("b"),
          col("a_start"), col("b_start"))
        .limit(30)),

    // the dedup TRANSFORM the span signal exists for (Lee et al. 2021
    // rewrite the corpus, they don't just count): keep-earliest policy
    // — every span a doc shares with an EARLIER doc is removed from
    // the later one. Per victim doc, the possibly-overlapping spans
    // (many earlier partners) union into disjoint islands via one
    // gaps-and-islands window (running max of span end), and the
    // output is the exact per-doc trim arithmetic: tokens before,
    // removed, kept, islands. All integers; the oracle replays the
    // full chain including the interval union. Scale shape: adds ONE
    // doc-keyed window over the (already df-capped) span frame to the
    // dup_span_stats cost — the corpus text itself is never touched
    // again after hashing.
    "dup_span_trim_stats" -> ((s, dir) => {
      val spans = dupSpans(s, dir)
        .select(col("b").as("doc_id"), col("b_start").as("s0"),
          (col("b_start") + col("n_sh") + lit(Dedup.ShingleN - 1)).as("e0"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("s0"), col("e0"))
      val prevMax = max(col("e0"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
      val islands = spans
        .withColumn("new_isl",
          when(col("s0") > coalesce(prevMax, lit(-1L)), 1L).otherwise(0L))
        .withColumn("isl",
          sum(col("new_isl")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("doc_id"), col("isl"))
        .agg(min(col("s0")).as("s"), max(col("e0")).as("e"))
      val perDoc = islands.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_islands"),
          sum(col("e") - col("s")).as("tokens_removed"))
      val toks = documents(s, dir)
        .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      perDoc.join(toks, "doc_id")
        .select(col("doc_id"), col("n_tokens"),
          col("tokens_removed").cast("long").as("tokens_removed"),
          (col("n_tokens") - col("tokens_removed")).cast("long").as("tokens_kept"),
          col("n_islands").cast("long").as("n_islands"))
        .orderBy(col("tokens_removed").desc, col("doc_id"))
        .limit(30)
    }),

    // Gopher-rule quality filter (Rae et al. 2021, appendix A): the
    // canonical pre-training document filter — word-count bounds, mean
    // word length, symbol-to-word ratio, bullet/ellipsis line ratios,
    // alphabetic-word ratio, stop-word presence — rolled up per lang.
    // Map-only per doc + one lang-keyed aggregation; every ratio is an
    // exact integer-over-integer division so the DuckDB replay is
    // IEEE-identical without rounding
    "gopher_quality_flags" -> ((s, dir) => {
      val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      val perDoc = gopherWordStats(documents(s, dir))
        .withColumn("lns", split(col("text"), "\n"))
        .withColumn("bullet_ratio",
          size(filter(col("lns"), l => ltrim(l).rlike("^[-*]"))).cast("double") /
            size(col("lns")))
        .withColumn("ell_ratio",
          size(filter(col("lns"), l => rtrim(l).endsWith("..."))).cast("double") /
            size(col("lns")))
        .withColumn("n_stop", size(array_distinct(
          filter(transform(col("ws"), w => lower(w)),
            w => w.isin(gopherStops: _*)))).cast("long"))
      val pWc = col("nw").between(50L, 100000L)
      val pMl = col("mean_len") >= 3.0 && col("mean_len") <= 10.0
      val pSy = col("sym_ratio") < 0.1
      val pBu = col("bullet_ratio") <= 0.9
      val pEl = col("ell_ratio") <= 0.3
      val pAl = col("alpha_ratio") >= 0.8
      val pSt = col("n_stop") >= 2L
      def cnt(c: org.apache.spark.sql.Column) =
        sum(when(c, 1L).otherwise(0L)).cast("long")
      perDoc.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          (round(avg(col("nw")), 6) + 0.0).as("avg_words"),
          cnt(pWc).as("pass_word_count"),
          cnt(pMl).as("pass_mean_len"),
          cnt(pSy).as("pass_symbol"),
          cnt(pBu).as("pass_bullet"),
          cnt(pEl).as("pass_ellipsis"),
          cnt(pAl).as("pass_alpha"),
          cnt(pSt).as("pass_stop"),
          cnt(pWc && pMl && pSy && pBu && pEl && pAl && pSt).as("pass_all"))
        .orderBy(col("lang"))
    }),

    // distribution stats: exact interpolated quantiles of doc length
    "lang_char_quantiles" -> ((s, dir) =>
      documents(s, dir)
        .groupBy(col("lang"))
        .agg(
          round(expr("percentile(n_chars, 0.5)"), 6).as("median_chars"),
          round(expr("percentile(n_chars, 0.9)"), 6).as("p90_chars"))
        .orderBy(col("lang"))),

    // exact all-pairs n-gram Jaccard on a bounded subset
    "ngram_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairs(
        documents(s, dir).filter(col("doc_id") < 150), 0.2)),

    // benchmark decontamination: corpus docs sharing any 5-gram shingle
    // with the "benchmark" set (docs 0-9 stand in for an eval set) —
    // the contamination sweep every training-data run does before
    // release. One shuffle keyed on the shingle hash; the benchmark
    // side is tiny and BROADCAST, so the corpus never reshuffles
    "decontamination_hits" -> ((s, dir) => {
      // same shingle table the minhash family probes — built once per
      // (session, dir) via SharedBuilds
      val (hashed, _) = sharedDedupIndex(s, dir)
      val corpus = hashed.filter(col("doc_id") >= 10)
        .select(col("doc_id").as("corpus_id"),
          explode(array_distinct(col("shh"))).as("h"))
      val bench = hashed.filter(col("doc_id") < 10)
        .select(col("doc_id").as("bench_id"),
          explode(array_distinct(col("shh"))).as("h"))
      corpus.join(broadcast(bench), "h")
        .groupBy(col("corpus_id"), col("bench_id"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("corpus_id"), col("bench_id"))
    }),

    // Bloom-filter decontamination pre-filter: the eval set's shingle
    // hashes build a deterministic m-bit filter (distributed, one-row
    // collect_set head — see Dedup.bloomBitsOf) that broadcasts and screens the
    // corpus MAP-ONLY down to candidate docs; the exact shingle join
    // then verifies. No false negatives (superset invariant), false
    // positives only cost verify work — the shape that makes a
    // contamination sweep one scan at 100 TB instead of a corpus-wide
    // join. The filter's determinism makes candidate counts exactly
    // DuckDB-replayable, so precision is hash-verified too
    "decontamination_bloom" -> ((s, dir) => {
      val (hashed, _) = sharedDedupIndex(s, dir)
      val bits = typedLit(Dedup.bloomBitsOf(
        hashed.filter(col("doc_id") < 10)
          .select(explode(array_distinct(col("shh"))).as("h"))))
      val corpus = hashed.filter(col("doc_id") >= 10)
      val cand = corpus
        .filter(exists(array_distinct(col("shh")),
          h => Dedup.bloomMightContain(h, bits)))
        .select(col("doc_id"))
      val exactIds = corpus
        .select(col("doc_id"), explode(array_distinct(col("shh"))).as("h"))
        .join(broadcast(hashed.filter(col("doc_id") < 10)
          .select(explode(array_distinct(col("shh"))).as("h")).distinct()), "h")
        .select(col("doc_id")).distinct()
      val nc = cand.agg(count(lit(1)).as("n_candidates"))
      val ne = exactIds.agg(count(lit(1)).as("n_exact"))
      val missed = exactIds.join(cand, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_missed"))
      nc.crossJoin(ne).crossJoin(missed)
        .select(col("n_candidates").cast("long").as("n_candidates"),
          col("n_exact").cast("long").as("n_exact"),
          (col("n_missed") === 0L).as("no_false_negatives"),
          (round(col("n_exact").cast("double") /
            greatest(col("n_candidates"), lit(1L)), 6) + 0.0).as("bloom_precision"))
    }),

    // repetition scoring: per-doc ratio of the most frequent trigram to
    // all trigrams — the degenerate-text detector (C4-style quality
    // pre-filter); map-only per doc + one (doc, trigram) aggregation
    "repetition_scores" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      documents(s, dir)
        .select(col("doc_id"),
          explode(TextOps.shingles(toks, 3)).as("g"))
        .groupBy(col("doc_id"), col("g"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(max(col("cnt")).as("max_cnt"),
          sum(col("cnt")).as("n_tri"))
        .select(col("doc_id"), col("max_cnt").cast("long").as("max_cnt"),
          round(col("max_cnt").cast("double") / col("n_tri"), 6).as("rep_ratio"))
        .orderBy(col("rep_ratio").desc, col("doc_id").asc)
        .limit(20)
    }),

    // SimHash values
    "simhash_head" -> ((s, dir) =>
      documents(s, dir).filter(col("doc_id") < 20)
        .select(col("doc_id"),
          TextOps.simhash16(TextOps.tokens(col("text"))).as("simhash"))
        .orderBy(col("doc_id"))),

    // SimHash near-dup pairs through the scale path on the FULL corpus:
    // pigeonhole banding (4 disjoint 4-bit bands, equi-join per band,
    // exact Hamming rerank) — never the all-pairs crossJoin, which
    // lives on as the TEST-ONLY correctness baseline (TextSpec proves
    // banded ≡ all-pairs; the oracle here replays all pairs in SQL, so
    // the banding is verified lossless end-to-end)
    "simhash_pairs_banded" -> ((s, dir) =>
      Dedup.simhashPairsFromSketch(sharedSimhashSketches(s, dir)._1, 3)
        .select(col("a"), col("b"), col("hamming").cast("long").as("hamming"))),

    // the production-width sketch on the FULL corpus: 60-bit SimHash
    // (full md5Long width), maxDist=7 → 8 bands of 7-8 bits ≈ 2^7-2^8
    // buckets per band — the banding granularity that keeps Σ|bucket|²
    // sub-quadratic on a large corpus, where 16 bits caps out at 2^4
    // buckets
    "simhash_wide_banded" -> ((s, dir) =>
      Dedup.simhashPairsFromSketch(sharedSimhashSketches(s, dir)._2,
        maxDist = 7, bits = 60)
        .select(col("a"), col("b"), col("hamming").cast("long").as("hamming"))),

    // ingest drift monitor: a Kolmogorov–Smirnov sup-distance between
    // the doc-length distributions of two ingest halves (doc_id
    // parity stands in for yesterday/today), per source — the
    // distribution-drift alarm a 100 TB ingestion pipeline watches
    // (a source whose length profile shifts got a scraper change).
    // INTEGER-EXACT: D is the max of |cumA·nB − cumB·nA| over the
    // merged support, reported in ppm via cross-multiplied division —
    // no float CDFs to drift in the last ulp. One (source, value)
    // agg + one source-keyed window over the bounded support
    "ingest_drift_audit" -> ((s, dir) => {
      val d = documents(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars"))
      val even = col("doc_id") % 2 === 0
      val per = d.groupBy(col("source"), col("n_chars"))
        .agg(sum(when(even, 1L).otherwise(0L)).as("ca"),
          sum(when(!even, 1L).otherwise(0L)).as("cb"))
      val tot = d.groupBy(col("source")).agg(
        sum(when(even, 1L).otherwise(0L)).as("na"),
        sum(when(!even, 1L).otherwise(0L)).as("nb"))
      val w = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      per
        .withColumn("cuma", sum(col("ca")).over(w))
        .withColumn("cumb", sum(col("cb")).over(w))
        .join(broadcast(tot), "source")
        .groupBy(col("source"), col("na"), col("nb"))
        .agg(max(abs(col("cuma") * col("nb") - col("cumb") * col("na"))).as("dmax"))
        .select(col("source"), col("na").as("n_even"), col("nb").as("n_odd"),
          when(col("na") * col("nb") === 0L, lit(0L))
            .otherwise(expr("(dmax * 1000000L) div (na * nb)")).as("ks_ppm"))
        .orderBy(col("source"))
    }),

    // per-source document cap — the Common-Crawl-style spam control
    // that bounds any one host/source's contribution to the training
    // mix: keep the top-K docs per source by quality score, report the
    // kept/dropped census per source. Scale shape: ONE shuffle keyed
    // on source (hash partition), per-partition sort inside the window
    // — the source cardinality bounds the output, and no row carries
    // text past the scoring map. Tie-break doc_id ASC on the rounded
    // score keeps rank assignment identical across engines.
    "source_cap_survivors" -> ((s, dir) => {
      val K = 15
      documents(s, dir)
        .select(col("doc_id"), col("source"),
          round(TextOps.qualityScore(col("text")), 6).as("q"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("q").desc, col("doc_id").asc)))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rnk") <= K, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("rnk") > K, 1L).otherwise(0L)).as("n_dropped"),
          sum(when(col("rnk") <= K, col("doc_id")).otherwise(0L)).as("kept_id_sum"))
        .orderBy(col("source"))
    }),

    // cross-doc n-gram novelty — the freshness census an ingest
    // pipeline tracks per batch/source: for every doc, how many of its
    // distinct 5-gram shingles appear here FIRST (doc_id order) vs in
    // some earlier doc. Scale shape: one shuffle keyed on the shingle
    // hash for the first-seen census, then a join back on the SAME key
    // (co-partitioned — the exchange is reused, pinned in PlanSpec's
    // global sweeps), then a bounded per-source rollup; the shingle
    // frame is the memoized dedup index, so the tokenize→shingle→md5
    // work is shared with the minhash family, not recomputed.
    "ngram_novelty" -> ((s, dir) => {
      val (hashed, _) = sharedDedupIndex(s, dir)
      val ex = hashed.select(col("doc_id"),
        explode(array_distinct(col("shh"))).as("h"))
      val firstSeen = ex.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
      val flags = ex.join(firstSeen, Seq("h"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sh"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_nov"))
      documents(s, dir).select(col("doc_id"), col("source"))
        .join(flags, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_sh", "n_nov"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_sh")).as("n_shingles"),
          sum(col("n_nov")).as("n_novel"),
          when(sum(col("n_sh")) === 0L, lit(0.0)).otherwise(
            round(sum(col("n_nov")).cast("double") / sum(col("n_sh")), 6) + 0.0)
            .as("novelty"))
        .orderBy(col("source"))
    }),

    // PII redaction — the compliance scrub every training-data
    // pipeline runs before tokenization: regexp_replace of emails,
    // IPv4 addresses and phone numbers with typed placeholder tokens.
    // The corpus itself carries no PII, so each doc PLANTS a
    // deterministic synthetic triple derived from doc_id (same formula
    // interpolated on both engines) — the audit then proves (a) every
    // planted item is found and counted, (b) the redacted text carries
    // ZERO residual matches, (c) the redacted corpus checksum matches
    // bit-for-bit. Scale shape: map-only over the scan (three chained
    // codegen'd regexp_replace ops), one bounded per-source rollup.
    // Patterns use the RE2-safe subset (\d, \b, bounded classes) so
    // Java regex (Spark) and RE2 (DuckDB) agree on every match.
    "pii_redaction_audit" -> ((s, dir) => {
      val raw = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail"), (col("doc_id") % 7).cast("string"), lit(".com ip 10."),
        (col("doc_id") % 256).cast("string"), lit(".0."),
        (col("doc_id") % 100).cast("string"), lit(" phone +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      val clean =
        regexp_replace(
          regexp_replace(
            regexp_replace(raw, PiiEmail, "<EMAIL>"),
            PiiIp, "<IP>"),
          PiiPhone, "<PHONE>")
      def matches(c: Column, p: String): Column =
        size(regexp_extract_all(c, lit(p), lit(0))).cast("long")
      documents(s, dir)
        .select(col("source"),
          matches(raw, PiiEmail).as("m_email"),
          matches(raw, PiiIp).as("m_ip"),
          matches(raw, PiiPhone).as("m_phone"),
          (matches(clean, PiiEmail) + matches(clean, PiiIp) +
            matches(clean, PiiPhone)).as("m_res"),
          (TextOps.md5Long(clean) % 1000000007L).as("csum"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("m_email")).as("emails_redacted"),
          sum(col("m_ip")).as("ips_redacted"),
          sum(col("m_phone")).as("phones_redacted"),
          (sum(col("m_res")) === lit(0L)).as("residual_clean"),
          sum(col("csum")).as("checksum"))
        .orderBy(col("source"))
    }),
  )

  /** PII patterns — ONE literal each, interpolated verbatim into the
    * oracle SQL so the engines can never drift. RE2-safe subset only
    * (no lookaround, no backrefs): Java regex and RE2 agree on these. */
  private val PiiEmail = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PiiIp = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val PiiPhone = "\\+\\d{1,2}-\\d{3}-\\d{4}"

  override def oracle: Map[String, String] = Map(
    "token_stats" ->
      s"""WITH t AS (SELECT doc_id, ${F.toks("text")} AS toks FROM documents WHERE doc_id < 50)
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |       round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS distinct_ratio
         |FROM t ORDER BY doc_id""".stripMargin,

    "bpe_token_stats" ->
      s"""SELECT doc_id,
         |       CAST(len(${F.toks("text")}) AS BIGINT) AS ws_tokens,
         |       CAST(len(regexp_extract_all(lower(text), '[a-z]{1,4}|[0-9]+')) AS BIGINT) AS bpe_tokens
         |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin,

    "exact_dedup_keep" ->
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 10),
         |g AS (SELECT ${F.md5L("text")} AS ch, count(*) AS cnt, min(doc_id) AS keep_id
         |      FROM u WHERE text IS NOT NULL GROUP BY 1)
         |SELECT keep_id, CAST(cnt AS BIGINT) AS group_size
         |FROM g WHERE cnt > 1 ORDER BY keep_id""".stripMargin,

    "token_corpus_stats" ->
      s"""WITH t AS (SELECT len(${F.toks("text")}) AS n FROM documents)
         |SELECT CAST(sum(n) AS BIGINT) AS total_tokens,
         |       round(avg(CAST(n AS DOUBLE)), 6) AS avg_tokens,
         |       CAST(sum(CASE WHEN n >= 40 THEN 1 ELSE 0 END) AS BIGINT) AS docs_ge_40
         |FROM t""".stripMargin,

    "lang_confusion" ->
      s"""WITH t AS (SELECT doc_id, lang, ${F.toks("text")} AS toks FROM documents),
         |sc AS (SELECT lang, ${F.langScores} FROM t),
         |p AS (SELECT lang, ${F.langCase} AS pred FROM sc)
         |SELECT lang, pred, CAST(count(*) AS BIGINT) AS cnt
         |FROM p GROUP BY lang, pred ORDER BY lang, pred""".stripMargin,

    "quality_top30" ->
      s"""WITH t AS (SELECT doc_id, text, ${F.toks("text")} AS toks FROM documents)
         |SELECT doc_id,
         |       round(least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.4
         |             + ${F.stopRatio} * 0.3
         |             + (1.0 - ${F.punct}) * 0.3, 6) AS quality
         |FROM t ORDER BY quality DESC, doc_id ASC LIMIT 30""".stripMargin,

    "doc_fingerprints" ->
      s"""WITH t AS (SELECT doc_id, ${F.toks("text")} AS toks FROM documents WHERE doc_id < 50)
         |SELECT doc_id,
         |       CAST(list_reduce(list_prepend(0::BIGINT,
         |              list_transform(toks, t -> ${F.md5L("t")} % ${F.P})),
         |            (h, x) -> (h * 31 + x) % ${F.P}) AS BIGINT) AS fp
         |FROM t ORDER BY doc_id""".stripMargin,

    "winnow_fingerprints" ->
      s"""WITH t AS (SELECT doc_id, ${F.toks("text")} AS toks FROM documents WHERE doc_id < 50),
         |sh AS (SELECT doc_id, ${F.sh} AS sh FROM t),
         |hs AS (SELECT doc_id, list_transform(sh, s -> ${F.md5L("s")} % ${F.P}) AS shh FROM sh),
         |win AS (SELECT doc_id,
         |          CASE WHEN len(shh) < 4 THEN list_distinct(shh)
         |               ELSE list_distinct(list_transform(generate_series(1, len(shh)-3),
         |                      i -> list_min(shh[i:i+3]))) END AS fps
         |        FROM hs)
         |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fingerprints,
         |       CAST(list_min(fps) AS BIGINT) AS min_fp
         |FROM win ORDER BY doc_id""".stripMargin,

    "winnow_containment" ->
      s"""WITH ${F.hsCtes},
         |win AS (SELECT doc_id,
         |          CASE WHEN len(shh) < 4 THEN list_distinct(shh)
         |               ELSE list_distinct(list_transform(generate_series(1, len(shh)-3),
         |                      i -> list_min(shh[i:i+3]))) END AS fps
         |        FROM hs),
         |fp AS (SELECT doc_id, unnest(fps) AS fp FROM win),
         |cm AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) > 20),
         |pr AS (SELECT doc_id, fp FROM fp WHERE fp NOT IN (SELECT fp FROM cm))
         |SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS n_shared
         |FROM pr x JOIN pr y ON x.fp = y.fp AND x.doc_id < y.doc_id
         |GROUP BY 1, 2
         |HAVING count(*) >= 2
         |ORDER BY a, b""".stripMargin,

    "source_quality_rollup" ->
      s"""WITH t AS (SELECT source, text, ${F.toks("text")} AS toks FROM documents),
         |q AS (SELECT source,
         |        CAST(round(least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.4
         |               + ${F.stopRatio} * 0.3
         |               + (1.0 - ${F.punct}) * 0.3, 6) AS DECIMAL(12,6)) AS q
         |      FROM t)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       round(CAST(sum(q) AS DOUBLE) / count(*), 6) AS avg_quality
         |FROM q GROUP BY source ORDER BY source""".stripMargin,

    "exact_dup_hist" ->
      s"""WITH g AS (SELECT ${F.md5L("text")} AS ch, count(*) AS cnt FROM documents
         |           WHERE text IS NOT NULL GROUP BY 1)
         |SELECT CAST(cnt AS BIGINT) AS group_size, CAST(count(*) AS BIGINT) AS n_groups
         |FROM g GROUP BY 1 ORDER BY group_size""".stripMargin,

    "minhash_near_dups" ->
      s"""WITH ${F.nearDupCtes}
         |SELECT a, b, jaccard FROM j WHERE jaccard >= 0.3 ORDER BY a, b""".stripMargin,

    "semantic_dedup" ->
      s"""WITH ${F.sigBndCtes},
         |${F.candCte},
         |j AS (SELECT c.a, c.b,
         |        round(${F.jac("sa.sh", "sb.sh")}, 6) AS jaccard,
         |        round(${cosine("ex.embedding", "ey.embedding")}, 6) + 0.0 AS cos
         |      FROM cand c
         |      JOIN sh sa ON c.a = sa.doc_id JOIN sh sb ON c.b = sb.doc_id
         |      JOIN embeddings ex ON c.a = ex.vec_id JOIN embeddings ey ON c.b = ey.vec_id)
         |SELECT a, b, jaccard, cos,
         |       round(jaccard * 0.5 + greatest(cos, 0.0) * 0.5, 6) AS combined
         |FROM j
         |WHERE round(jaccard * 0.5 + greatest(cos, 0.0) * 0.5, 6) >= 0.15
         |ORDER BY a, b""".stripMargin,

    "canonical_dedup_gain" ->
      s"""WITH d AS (SELECT doc_id, ${F.md5L("text")} AS rh,
         |                  ${F.md5L(s"array_to_string(${F.toks("text")}, ' ')")} AS ch
         |           FROM documents),
         |r AS (SELECT rh, count(*) AS rc FROM d GROUP BY 1),
         |c AS (SELECT ch, count(*) AS cc FROM d GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN rc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_raw_dup_docs,
         |       CAST(sum(CASE WHEN cc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_canon_dup_docs,
         |       CAST(sum(CASE WHEN cc > 1 AND rc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gain_docs
         |FROM d JOIN r USING (rh) JOIN c USING (ch)""".stripMargin,

    "hash_split_stats" ->
      s"""WITH d AS (SELECT ${F.split("doc_id")} AS split, n_chars, lang FROM documents)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         |FROM d GROUP BY split ORDER BY split""".stripMargin,

    "split_leakage_audit" ->
      s"""WITH ${F.nearDupCtes},
         |pr AS (SELECT a, b, ${F.split("a")} AS split_a, ${F.split("b")} AS split_b
         |       FROM pairs)
         |SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END) AS BIGINT) AS n_cross
         |FROM pr GROUP BY split_a, split_b ORDER BY split_a, split_b""".stripMargin,

    "near_dup_purge" ->
      s"""WITH ${F.nearDupCtes},
         |drops AS (SELECT DISTINCT b AS doc_id FROM pairs)
         |SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_total,
         |       CAST((SELECT count(*) FROM drops) AS BIGINT) AS n_dropped,
         |       CAST((SELECT count(*) FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM drops)) AS BIGINT) AS n_kept""".stripMargin,

    "dedup_components" ->
      s"""WITH RECURSIVE ${F.nearDupCtes},
         |${F.componentCtes}
         |SELECT component, CAST(count(*) AS BIGINT) AS n_docs, max(node) AS max_doc
         |FROM cc GROUP BY component ORDER BY component""".stripMargin,

    "curation_funnel" -> funnelOracleSql,
    "training_export_census" -> exportCensusOracleSql,
    // the written artifact must reproduce the same from-scratch census
    "training_export_audit" -> exportCensusOracleSql,

    // the incremental path must land on the IDENTICAL six counts a
    // full-corpus rebuild produces — so its oracle IS the full-corpus
    // funnel replay; any drift in the incremental state/merge logic
    // (missed new×old candidate, unmerged component, stale contam
    // flag) hash-fails this entry
    "incremental_funnel" -> funnelOracleSql,
  ) ++ oracleTail

  // NOTE: concatenation, not interpolation-into-a-stripMargin template:
  // the ctes text itself contains lines whose first non-blank char is a
  // `||` SQL concat — re-running stripMargin over interpolated content
  // would eat those pipes
  private[queries] lazy val funnelOracleSql: String =
    funnelOracleCtes + "\n" +
      """SELECT CAST(count(*) AS BIGINT) AS n_raw,
        |       CAST(sum(CASE WHEN exact_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        |       CAST(sum(CASE WHEN nd_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup,
        |       CAST(sum(CASE WHEN decon_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_decontaminated,
        |       CAST(sum(CASE WHEN decon_keep AND pii_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_redacted,
        |       CAST(sum(CASE WHEN cap_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_capped,
        |       CAST(sum(CASE WHEN q_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
        |       CAST(sum(CASE WHEN final_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_final
        |FROM st4""".stripMargin

  /** The funnel stage chain through st4 (per-doc keep flags) — shared
    * by the census oracle and the export-census oracle. */
  private lazy val funnelOracleCtes: String =
      s"""WITH RECURSIVE ${F.nearDupCtes},
         |${F.componentCtes},
         |bh AS (SELECT DISTINCT unnest(list_distinct(shh)) AS h FROM hs WHERE doc_id < 10),
         |chh AS (SELECT doc_id, unnest(list_distinct(shh)) AS h FROM hs WHERE doc_id >= 10),
         |contam AS (SELECT DISTINCT doc_id FROM chh JOIN bh USING (h)),
         |pb AS (
         |  SELECT d.doc_id, d.source, cc.component, ${F.md5L("d.text")} AS ch,
         |         CASE WHEN d.doc_id % 7 = 0
         |              THEN d.text || ' contact user' || d.doc_id || '@mail' || (d.doc_id % 7)
         |                   || '.com ip 10.' || (d.doc_id % 256) || '.0.' || (d.doc_id % 100)
         |                   || ' phone +1-555-' || lpad(CAST(d.doc_id % 10000 AS VARCHAR), 4, '0')
         |              ELSE d.text END AS praw
         |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.node),
         |base AS (
         |  SELECT doc_id, source, component, ch,
         |         len(regexp_extract_all(praw, '$PiiEmail'))
         |           + len(regexp_extract_all(praw, '$PiiIp'))
         |           + len(regexp_extract_all(praw, '$PiiPhone')) > 0 AS pii_hit,
         |         regexp_replace(regexp_replace(regexp_replace(praw,
         |           '$PiiEmail', '<EMAIL>', 'g'),
         |           '$PiiIp', '<IP>', 'g'),
         |           '$PiiPhone', '<PHONE>', 'g') AS text
         |  FROM pb),
         |bq AS (SELECT *, ${F.toks("text")} AS toks,
         |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
         |       FROM base),
         |bqq AS (SELECT *,
         |          round(least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.4
         |                + ${F.stopRatio} * 0.3
         |                + (1.0 - ${F.punct}) * 0.3, 6) AS q
         |        FROM bq),
         |st1 AS (SELECT *, len(ws) AS nw,
         |          (doc_id = min(doc_id) OVER (PARTITION BY ch)) AS exact_keep
         |        FROM bqq),
         |st2 AS (SELECT *,
         |          (exact_keep AND (component IS NULL OR doc_id =
         |             min(CASE WHEN exact_keep THEN doc_id END) OVER (PARTITION BY component))) AS nd_keep,
         |          CASE WHEN nw = 0 THEN 0.0
         |               ELSE CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / nw END AS mean_len,
         |          CASE WHEN nw = 0 THEN 0.0
         |               ELSE (CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE) +
         |                     CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3.0) / nw END AS sym_ratio,
         |          CASE WHEN nw = 0 THEN 0.0
         |               ELSE CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / nw END AS alpha_ratio
         |        FROM st1),
         |st2d AS (SELECT *, (nd_keep AND doc_id NOT IN (SELECT doc_id FROM contam)) AS decon_keep
         |        FROM st2),
         |stc AS (SELECT *, (decon_keep AND row_number() OVER (
         |          PARTITION BY source
         |          ORDER BY decon_keep DESC, q DESC, doc_id ASC) <= $FunnelCapK) AS cap_keep
         |        FROM st2d),
         |st3 AS (SELECT *, (cap_keep AND nw BETWEEN 50 AND 100000
         |          AND mean_len >= 3 AND mean_len <= 10
         |          AND sym_ratio < 0.1 AND alpha_ratio >= 0.8) AS q_keep
         |        FROM stc),
         |st4 AS (SELECT *, (q_keep AND (len(toks) = 0 OR
         |          CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.32)) AS final_keep
         |        FROM st3)""".stripMargin

  private[queries] lazy val exportCensusOracleSql: String =
    funnelOracleCtes + "\n" +
      s"""SELECT ${F.split("st4.doc_id")} AS split, st4.source,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(d.n_chars) AS BIGINT) AS total_chars
         |FROM st4 JOIN documents d ON st4.doc_id = d.doc_id
         |WHERE st4.final_keep
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Every doc pair within Hamming `maxDist` of each other's
    * `bits`-bit SimHash, all pairs: pigeonhole banding is lossless, so
    * the banded pair search must return exactly these. */
  private def simhashPairsOracle(bits: Int, maxDist: Int): String =
    s"""WITH ${F.simhashCtes(bits)}
       |SELECT x.doc_id AS a, y.doc_id AS b,
       |       CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
       |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= $maxDist
       |ORDER BY a, b""".stripMargin

  private lazy val oracleTail: Map[String, String] = Map(
    "dup_span_stats" ->
      s"""WITH ${F.spanCtes}
         |SELECT a, b, CAST(a_start AS BIGINT) AS a_start, CAST(b_start AS BIGINT) AS b_start,
         |       CAST(n_sh + ${Dedup.ShingleN - 1} AS BIGINT) AS span_tokens
         |FROM spans ORDER BY span_tokens DESC, a, b, a_start, b_start LIMIT 30""".stripMargin,

    "dup_span_trim_stats" ->
      s"""WITH ${F.spanCtes},
         |s2 AS (SELECT b AS doc_id, b_start AS s0,
         |              b_start + n_sh + ${Dedup.ShingleN - 1} AS e0 FROM spans),
         |o AS (SELECT doc_id, s0, e0,
         |        max(e0) OVER (PARTITION BY doc_id ORDER BY s0, e0
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |      FROM s2),
         |i AS (SELECT doc_id, s0, e0,
         |        sum(CASE WHEN pm IS NULL OR s0 > pm THEN 1 ELSE 0 END)
         |          OVER (PARTITION BY doc_id ORDER BY s0, e0
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
         |      FROM o),
         |isle AS (SELECT doc_id, isl, min(s0) AS s, max(e0) AS e FROM i GROUP BY 1, 2),
         |pd AS (SELECT doc_id, count(*) AS n_islands, sum(e - s) AS removed FROM isle GROUP BY 1),
         |tok AS (SELECT doc_id, len(toks) AS n_tokens FROM t)
         |SELECT pd.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       CAST(removed AS BIGINT) AS tokens_removed,
         |       CAST(n_tokens - removed AS BIGINT) AS tokens_kept,
         |       CAST(n_islands AS BIGINT) AS n_islands
         |FROM pd JOIN tok USING (doc_id)
         |ORDER BY tokens_removed DESC, pd.doc_id LIMIT 30""".stripMargin,

    "gopher_quality_flags" ->
      s"""WITH w AS (
         |  SELECT doc_id, lang, text,
         |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws,
         |         string_split(text, chr(10)) AS lns
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, lang,
         |    len(ws) AS nw,
         |    CASE WHEN len(ws) = 0 THEN 0.0
         |         ELSE CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws) END AS mean_len,
         |    CASE WHEN len(ws) = 0 THEN 0.0
         |         ELSE (CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE) +
         |               CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3.0) / len(ws) END AS sym_ratio,
         |    CAST(len(list_filter(lns, l -> regexp_matches(ltrim(l), '^[-*]'))) AS DOUBLE) / len(lns) AS bullet_ratio,
         |    CAST(len(list_filter(lns, l -> rtrim(l) LIKE '%...')) AS DOUBLE) / len(lns) AS ell_ratio,
         |    CASE WHEN len(ws) = 0 THEN 0.0
         |         ELSE CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(ws) END AS alpha_ratio,
         |    len(list_distinct(list_filter(list_transform(ws, x -> lower(x)),
         |          x -> x IN ('the','be','to','of','and','that','have','with')))) AS n_stop
         |  FROM w)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  round(avg(nw), 6) + 0.0 AS avg_words,
         |  CAST(sum(CASE WHEN nw BETWEEN 50 AND 100000 THEN 1 ELSE 0 END) AS BIGINT) AS pass_word_count,
         |  CAST(sum(CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS pass_mean_len,
         |  CAST(sum(CASE WHEN sym_ratio < 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS pass_symbol,
         |  CAST(sum(CASE WHEN bullet_ratio <= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS pass_bullet,
         |  CAST(sum(CASE WHEN ell_ratio <= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS pass_ellipsis,
         |  CAST(sum(CASE WHEN alpha_ratio >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS pass_alpha,
         |  CAST(sum(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS pass_stop,
         |  CAST(sum(CASE WHEN nw BETWEEN 50 AND 100000 AND mean_len >= 3 AND mean_len <= 10
         |       AND sym_ratio < 0.1 AND bullet_ratio <= 0.9 AND ell_ratio <= 0.3
         |       AND alpha_ratio >= 0.8 AND n_stop >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
         |FROM f GROUP BY lang ORDER BY lang""".stripMargin,

    "lang_char_quantiles" ->
      """SELECT lang,
        |       round(quantile_cont(n_chars, 0.5), 6) AS median_chars,
        |       round(quantile_cont(n_chars, 0.9), 6) AS p90_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "ngram_jaccard_pairs" ->
      s"""WITH t AS (SELECT doc_id, ${F.toks("text")} AS toks FROM documents WHERE doc_id < 150),
         |sh AS (SELECT doc_id, ${F.sh} AS sh FROM t),
         |j AS (SELECT x.doc_id AS a, y.doc_id AS b, round(${F.jac("x.sh", "y.sh")}, 6) AS jaccard
         |      FROM sh x JOIN sh y ON x.doc_id < y.doc_id)
         |SELECT a, b, jaccard FROM j WHERE jaccard >= 0.2 ORDER BY a, b""".stripMargin,

    "decontamination_hits" ->
      s"""WITH t AS (SELECT doc_id, ${F.toks("text")} AS toks FROM documents),
         |sh AS (SELECT doc_id, ${F.sh} AS sh FROM t),
         |hs AS (SELECT doc_id, list_distinct(list_transform(sh, s -> ${F.md5L("s")} % ${F.P})) AS shh FROM sh),
         |ce AS (SELECT doc_id AS corpus_id, unnest(shh) AS h FROM hs WHERE doc_id >= 10),
         |be AS (SELECT doc_id AS bench_id, unnest(shh) AS h FROM hs WHERE doc_id < 10)
         |SELECT corpus_id, bench_id, CAST(count(*) AS BIGINT) AS n_shared
         |FROM ce JOIN be USING (h)
         |GROUP BY corpus_id, bench_id
         |ORDER BY corpus_id, bench_id""".stripMargin,

    "decontamination_bloom" ->
      s"""$bloomScreenCtes,
         |ex AS (SELECT DISTINCT dh.doc_id FROM dh JOIN bh USING (h))
         |SELECT CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
         |       CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact,
         |       true AS no_false_negatives,
         |       round(CAST((SELECT count(*) FROM ex) AS DOUBLE) /
         |             greatest((SELECT count(*) FROM cand), 1), 6) + 0.0 AS bloom_precision""".stripMargin,

    "repetition_scores" ->
      s"""WITH t AS (SELECT doc_id, ${F.toks("text")} AS toks FROM documents),
         |tri AS (SELECT doc_id,
         |          unnest(CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
         |                 ELSE list_transform(generate_series(1, len(toks)-2),
         |                        i -> array_to_string(toks[i:i+2], ' ')) END) AS g
         |        FROM t),
         |c AS (SELECT doc_id, g, count(*) AS cnt FROM tri GROUP BY doc_id, g),
         |d AS (SELECT doc_id, max(cnt) AS max_cnt, sum(cnt) AS n_tri FROM c GROUP BY doc_id)
         |SELECT doc_id, CAST(max_cnt AS BIGINT) AS max_cnt,
         |       round(CAST(max_cnt AS DOUBLE) / n_tri, 6) AS rep_ratio
         |FROM d ORDER BY rep_ratio DESC, doc_id ASC LIMIT 20""".stripMargin,

    "simhash_head" ->
      s"""WITH ${F.simhashCtes(16, "doc_id < 20")}
         |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin,

    // 60-bit sketch, all-pairs replay (banding is lossless, so the
    // oracle never needs to know about bands)
    "simhash_wide_banded" -> simhashPairsOracle(60, 7),

    // banding is recall-lossless, so the oracle is the same all-pairs SQL
    "simhash_pairs_banded" -> simhashPairsOracle(16, 3),

    "ingest_drift_audit" ->
      """WITH per AS (
        |  SELECT source, n_chars,
        |         CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |         CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM documents GROUP BY source, n_chars),
        |tot AS (
        |  SELECT source,
        |         CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |         CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM documents GROUP BY source),
        |cm AS (
        |  SELECT source, n_chars, ca, cb,
        |         sum(ca) OVER (PARTITION BY source ORDER BY n_chars) AS cuma,
        |         sum(cb) OVER (PARTITION BY source ORDER BY n_chars) AS cumb
        |  FROM per)
        |SELECT cm.source, t.na AS n_even, t.nb AS n_odd,
        |       CASE WHEN t.na * t.nb = 0 THEN 0
        |            ELSE CAST((max(abs(cuma * t.nb - cumb * t.na)) * 1000000) // (t.na * t.nb) AS BIGINT)
        |       END AS ks_ppm
        |FROM cm JOIN tot t ON cm.source = t.source
        |GROUP BY cm.source, t.na, t.nb ORDER BY cm.source""".stripMargin,

    "source_cap_survivors" ->
      s"""WITH t AS (SELECT doc_id, source, text, ${F.toks("text")} AS toks FROM documents),
         |q AS (SELECT doc_id, source,
         |        round(least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.4
         |              + ${F.stopRatio} * 0.3
         |              + (1.0 - ${F.punct}) * 0.3, 6) AS q
         |      FROM t),
         |r AS (SELECT doc_id, source,
         |        row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id ASC) AS rnk
         |      FROM q)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN rnk <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(sum(CASE WHEN rnk > 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |       CAST(sum(CASE WHEN rnk <= 15 THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
         |FROM r GROUP BY source ORDER BY source""".stripMargin,

    "ngram_novelty" ->
      s"""WITH t AS (SELECT doc_id, source, ${F.toks("text")} AS toks FROM documents),
         |sh AS (SELECT doc_id, source, ${F.sh} AS sh FROM t),
         |hs AS (SELECT doc_id, source,
         |         list_distinct(list_transform(sh, s -> ${F.md5L("s")} % ${F.P})) AS shh
         |       FROM sh),
         |ex AS (SELECT doc_id, unnest(shh) AS h FROM hs),
         |fs AS (SELECT h, min(doc_id) AS first_doc FROM ex GROUP BY h),
         |fl AS (SELECT e.doc_id, count(*) AS n_sh,
         |         sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) AS n_nov
         |       FROM ex e JOIN fs f ON e.h = f.h GROUP BY e.doc_id),
         |d AS (SELECT t.doc_id, t.source,
         |        coalesce(fl.n_sh, 0) AS n_sh, coalesce(fl.n_nov, 0) AS n_nov
         |      FROM t LEFT JOIN fl ON t.doc_id = fl.doc_id)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_sh) AS BIGINT) AS n_shingles,
         |       CAST(sum(n_nov) AS BIGINT) AS n_novel,
         |       CASE WHEN sum(n_sh) = 0 THEN 0.0
         |            ELSE round(CAST(sum(n_nov) AS DOUBLE) / sum(n_sh), 6) + 0.0 END AS novelty
         |FROM d GROUP BY source ORDER BY source""".stripMargin,

    "pii_redaction_audit" ->
      s"""WITH t AS (SELECT doc_id, source,
         |        text || ' contact user' || doc_id || '@mail' || (doc_id % 7)
         |             || '.com ip 10.' || (doc_id % 256) || '.0.' || (doc_id % 100)
         |             || ' phone +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
         |      FROM documents),
         |c AS (SELECT doc_id, source, raw,
         |        regexp_replace(regexp_replace(regexp_replace(raw,
         |          '$PiiEmail', '<EMAIL>', 'g'),
         |          '$PiiIp', '<IP>', 'g'),
         |          '$PiiPhone', '<PHONE>', 'g') AS clean
         |      FROM t),
         |m AS (SELECT source,
         |        len(regexp_extract_all(raw, '$PiiEmail')) AS m_email,
         |        len(regexp_extract_all(raw, '$PiiIp')) AS m_ip,
         |        len(regexp_extract_all(raw, '$PiiPhone')) AS m_phone,
         |        len(regexp_extract_all(clean, '$PiiEmail'))
         |          + len(regexp_extract_all(clean, '$PiiIp'))
         |          + len(regexp_extract_all(clean, '$PiiPhone')) AS m_res,
         |        ${F.md5L("clean")} % 1000000007 AS csum
         |      FROM c)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(m_email) AS BIGINT) AS emails_redacted,
         |       CAST(sum(m_ip) AS BIGINT) AS ips_redacted,
         |       CAST(sum(m_phone) AS BIGINT) AS phones_redacted,
         |       sum(m_res) = 0 AS residual_clean,
         |       CAST(sum(csum) AS BIGINT) AS checksum
         |FROM m GROUP BY source ORDER BY source""".stripMargin,
  )
}
