package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the training-data-pipeline surface:
  * tokenization, document fingerprinting, MinHash, SimHash, quality
  * signals. No UDFs: each op is a composition of built-in expressions,
  * higher-order functions (`transform`/`filter`/`aggregate`, whose
  * lambdas Spark interprets once per element) and, where a lambda would
  * re-evaluate its whole input per element, the single-pass native
  * kernels of graft.expressions.TextKernels (`shingles`, MinHash,
  * SimHash). Everything is deterministic + portable so the DuckDB
  * oracle can mirror each op bit-for-bit (md5 as the shared hash base).
  *
  * Design notes for 100 TB: per-document ops are embarrassingly parallel
  * map work over the parquet scan; only the near-dup joins (see
  * graft.operators.Dedup) shuffle, and they shuffle on band/bucket keys,
  * never on raw text.
  */
object TextOps {

  /** Mersenne prime 2^31 − 1; all rolling/MinHash arithmetic stays below
    * 2^37 so it never overflows a signed 64-bit in either engine (DuckDB
    * errors on BIGINT overflow rather than wrapping). */
  val P: Long = 2147483647L

  /** Lowercase alpha tokens. DuckDB mirror:
    * list_filter(string_split_regex(lower(t),'[^a-z]+'), x -> x <> ''). */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z]+"), t => t =!= "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: alpha runs split into ≤4-char pieces plus
    * digit runs — the cheap `ceil(chars/4)`-grade estimator a pipeline
    * uses for token budgeting before real BPE. DuckDB mirror:
    * len(regexp_extract_all(lower(t), '[a-z]{1,4}|[0-9]+')). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]{1,4}|[0-9]+"), lit(0)))

  /** First 15 hex digits of md5 as a non-negative long (60 bits).
    * Portable: DuckDB CAST('0x'||substr(md5(s),1,15) AS BIGINT) yields
    * the identical value — this is the shared deterministic hash base
    * for fingerprints/MinHash/SimHash. */
  def md5Long(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Token-level hash reduced into the prime field. */
  def tokenHashP(t: Column): Column = md5Long(t) % P

  /** Deterministic train/val/test assignment from the document id:
    * hash-bucket 0–89 → train, 90–94 → val, 95–99 → test. Hash-based
    * (not rand()) so the split is reproducible across engines, runs,
    * and partitionings — the property that makes a 100 TB corpus
    * re-splittable without persisting an assignment table. DuckDB
    * mirror lives in TextQueries.F.split. */
  def splitLabel(id: Column): Column = {
    val h = md5Long(concat(lit("split:"), id.cast("string"))) % 100
    when(h < 90, "train").when(h < 95, "val").otherwise("test")
  }

  /** n-token shingles joined by single spaces; empty array when the doc
    * has fewer than n tokens (native, one pass over `toks`). */
  def shingles(toks: Column, n: Int): Column = {
    require(n >= 1, "shingle width must be >= 1")
    call_function("graft_shingles", toks, lit(n))
  }

  /** Hash each shingle into the prime field. */
  def shingleHashes(sh: Column): Column = transform(sh, s => tokenHashP(s))

  /** MinHash signature of length h over universal hashes
    * hᵢ(x) = ((2i+1)·x + 7919·i) mod P; empty input → all-P sentinel
    * (mirrored with coalesce(list_min(..), P) on the SQL side). Native,
    * one pass over `shHashes` per row. */
  def minhashSignature(shHashes: Column, h: Int): Column = {
    require(h >= 1, "minhash length must be >= 1")
    call_function("graft_minhash", shHashes, lit(h))
  }

  /** Rolling-hash id of one LSH band: fold (h·31 + x) mod P over the
    * band's signature slice, seed 0. */
  def bandHash(sig: Column, band: Column, rows: Int): Column =
    aggregate(slice(sig, band * rows + 1, lit(rows)), lit(0L),
      (h, x) => (h * 31 + x) % P)

  /** Whole-document rolling fingerprint: fold (h·31 + md5(t) mod P)
    * mod P over the token stream, seed 0 — the relational analogue of
    * a streaming Rabin fingerprint. */
  def fingerprint(toks: Column): Column =
    aggregate(toks, lit(0L), (h, t) => (h * 31 + tokenHashP(t)) % P)

  /** Winnowing fingerprints (MOSS-style): the distinct set of
    * per-window minima over the shingle-hash sequence, window size w.
    * Guarantees any shared run of >= w+n-1 tokens between two docs
    * shares at least one fingerprint — the robust containment detector
    * (rolling `fingerprint` is whole-doc; this is local). */
  def winnow(shHashes: Column, w: Int): Column =
    when(size(shHashes) < w, array_distinct(shHashes))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(shHashes) - (w - 1)),
        i => array_min(slice(shHashes, i, lit(w))))))

  /** 16-bit SimHash over token md5s: bit b set iff the ±1 vote sum of
    * that bit across tokens is > 0. Bit tests use modulo arithmetic
    * ((h mod 2^(b+1)) >= 2^b) instead of shifts so the bit index can be
    * a column in both engines. */
  def simhash16(toks: Column): Column =
    simhash16FromHashes(transform(toks, t => md5Long(t)))

  /** 16-bit SimHash from a pre-hashed token array. */
  def simhash16FromHashes(hashes: Column): Column =
    simhashFromHashes(hashes, 16)

  /** Width-parameterized SimHash from pre-hashed tokens. `bits` ≤ 60
    * (md5Long carries 60 hash bits); wider sketches mean finer
    * pigeonhole bands — at 60 bits a maxDist=3 banding yields 2^15
    * buckets per band instead of 2^4, which is what keeps Σ|bucket|²
    * sub-quadratic on a large corpus. Native: one pass over `hashes`
    * per row votes on every bit at once. */
  def simhashFromHashes(hashes: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 60, "simhash width must be 1..60")
    call_function("graft_simhash", hashes, lit(bits))
  }

  /** Hamming distance between two small non-negative longs (≤ 16 bits),
    * expression-only (bit_count(xor) on the DuckDB side). */
  def hamming16(a: Column, b: Column): Column = hammingBits(a, b, 16)

  /** Width-parameterized Hamming distance over non-negative longs —
    * native `bit_count(a ^ b)` (codegen'd popcount). For width-bounded
    * inputs (both &lt; 2^bits, which every sketch this module builds
    * guarantees) the untouched high bits xor to zero, so the full-word
    * popcount equals the per-width fold it replaced. The interpreted
    * `aggregate(transform(sequence…))` formulation cost ~bits element
    * evaluations PER PAIR — at 20M candidate pairs × 60 bits that was
    * the entire probe-time budget of the banded simhash queries. */
  def hammingBits(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 62, "hamming width must be 1..62")
    // Mask to the declared width before counting, so out-of-width bits
    // (or negative longs) can never leak into the distance — the mask
    // is a no-op for width-bounded inputs and keeps the whole thing one
    // codegen'd popcount either way.
    bit_count(a.bitwiseXOR(b).bitwiseAND(lit((1L << bits) - 1))).cast("long")
  }

  /** Exact n-gram Jaccard over two shingle arrays (distinct semantics on
    * both sides: array_intersect/array_union dedup, as do DuckDB's
    * list_intersect / list_distinct(a || b)). */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, lit(0.0))
      .otherwise(size(array_intersect(a, b)).cast("double") /
        size(array_union(a, b)).cast("double"))

  /** Ratio of characters outside [a-z ] — a punctuation/noise signal. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      (length(text) - length(regexp_replace(lower(text), "[^a-z ]", "")))
        .cast("double") / length(text).cast("double"))

  val StopWords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(toks: Column): Column =
    when(size(toks) === 0, lit(0.0)).otherwise(
      size(filter(toks, t => t.isin(StopWords: _*))).cast("double") /
        size(toks).cast("double"))

  /** Composite quality score in [0,1]: length saturation + stopword
    * presence + low punctuation (the classic cheap pre-filters a
    * training-data pipeline runs before expensive dedup). */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val lenSat = least(size(toks).cast("double") / 50.0, lit(1.0))
    lenSat * 0.4 + stopwordRatio(toks) * 0.3 + (lit(1.0) - punctRatio(text)) * 0.3
  }

  /** Language marker lists (shared with the oracle SQL); scores are
    * marker-token counts and ties break toward the lexicographically
    * later language (documented contract, mirrored in the oracle CASE). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("stream", "batch", "window"),
    "en" -> Seq("the", "a", "fast"),
    "es" -> Seq("data", "value", "query"),
    "fr" -> Seq("merge", "join", "sort"),
    "zh" -> Seq("hash", "scan", "table"))

  def langScore(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers: _*))).cast("long")

  /** Argmax language with ties toward the later language code. */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val s = LangMarkers.map { case (l, m) => l -> langScore(toks, m) }.toMap
    when(s("zh") >= s("fr") && s("zh") >= s("es") && s("zh") >= s("en") && s("zh") >= s("de"), "zh")
      .when(s("fr") >= s("es") && s("fr") >= s("en") && s("fr") >= s("de"), "fr")
      .when(s("es") >= s("en") && s("es") >= s("de"), "es")
      .when(s("en") >= s("de"), "en")
      .otherwise("de")
  }
}
