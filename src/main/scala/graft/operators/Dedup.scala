package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.operators.Cuts.CutOps

/** Deduplication operators for a training-data pipeline, built to the
  * shapes that survive 100 TB:
  *
  *  - exact dedup: hash-groupBy on a 60-bit content hash — one shuffle
  *    keyed on the hash, never on raw text;
  *  - MinHash+LSH near-dup: shingle → signature (map-only) → explode to
  *    (band, bandHash) → self-join on the band key (the only shuffle,
  *    and it is keyed on a 32-bit bucket id) → exact Jaccard rerank on
  *    the candidate pairs only;
  *  - SimHash: map-only 16-bit sketch + bucketed pair generation;
  *  - embedding cosine near-dup: brute top-k over pairs (baseline) —
  *    the LSH-bucketed variant lives in graft.operators.Lsh.
  *
  * Every step is deterministic (md5-based hashing, fixed band plan) so
  * the DuckDB oracle replays the identical pipeline.
  */
object Dedup {

  val ShingleN = 5
  val MinhashH = 12
  val Bands = 6
  val Rows = 2 // MinhashH / Bands

  /** The `ShingleN`-token shingles of a text column. */
  def shingles(text: Column): Column = TextOps.shingles(TextOps.tokens(text), ShingleN)

  /** doc_id, shingles, shingle hashes — the shared prefix. */
  def shingled(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingles(col("text")).as("sh"))
      .withColumn("shh", TextOps.shingleHashes(col("sh")))

  /** MinHash signatures (length MinhashH) per doc. */
  def signatures(docs: DataFrame): DataFrame =
    shingled(docs).withColumn(
      "sig", TextOps.minhashSignature(col("shh"), MinhashH))

  /** The one MinHash band recipe: the `keep` columns of `rows` with
    * (band, band_hash) for each of the `Bands` bands of the signature
    * of the shingle hashes `shh`, and the signature itself when
    * `withSig`. The signature is projected once, then one explode
    * fans it out; at scale the result is written bucketed by
    * (band, band_hash) so the candidate join is shuffle-free.
    *
    * A doc with an empty shingle set (NULL, empty or token-free text,
    * or fewer than `ShingleN` tokens) is in no band: its signature is
    * the all-P sentinel, and since h₀ is the identity mod P only a
    * non-empty set has sig[0] &lt; P, so the sentinel explodes a NULL
    * band array. An explode, not a filter, which Catalyst would push
    * below the projection that tokenizes the text and so tokenize
    * every doc twice. */
  def minhashBands(rows: DataFrame, keep: Seq[String], shh: Column,
      withSig: Boolean = false): DataFrame = {
    val kept = keep.map(col)
    val sig = col("sig")
    val bandIds = when(element_at(sig, 1) < TextOps.P, sequence(lit(0), lit(Bands - 1)))
    rows.select(kept :+ TextOps.minhashSignature(shh, MinhashH).as("sig"): _*)
      .select(kept :+ sig :+ explode(bandIds).as("band"): _*)
      .select(kept ++ Seq(col("band"),
        TextOps.bandHash(sig, col("band"), Rows).as("band_hash")) ++
        (if (withSig) Seq(sig) else Nil): _*)
  }

  /** Candidate pairs: docs sharing any band bucket (a < b, distinct). */
  def candidatePairs(bands: DataFrame): DataFrame = {
    val a = bands.select(col("doc_id").as("a"), col("band"), col("band_hash"))
    val b = bands.select(col("doc_id").as("b"), col("band"), col("band_hash"))
    a.join(b, Seq("band", "band_hash"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** Full MinHash+LSH near-dup pipeline: candidates reranked by exact
    * shingle Jaccard >= threshold.
    *
    * The shingle table feeds three consumers (band table, A-side
    * rerank, B-side rerank); it is computed once and cut — without
    * this Spark re-tokenizes and re-hashes the corpus three times. At
    * 100 TB the same role is played by materializing the shingle table
    * to parquet between the two jobs. */
  def minhashNearDups(docs: DataFrame, threshold: Double): DataFrame = {
    // a Cuts cut (not cache) so the blocks are reclaimed by the
    // ContextCleaner once this pipeline's result is consumed —
    // repeated invocations don't pin storage memory
    val hashed = shingled(docs).cut()
    minhashNearDupsFrom(hashed, candidatesFrom(hashed), threshold)
  }

  /** (doc_id, band, band_hash) bucket table from a materialized shingle
    * table — the probe-able dedup index surface (also the static side
    * of the streaming rerank, graft.streaming.DedupStream). */
  def candidateBands(hashed: DataFrame): DataFrame =
    minhashBands(hashed, Seq("doc_id"), col("shh"))

  /** Band-bucket candidate pairs from a materialized shingle table —
    * the build phase of the dedup index (callers may persist and reuse
    * it across queries, the same build/probe split as Index::build,
    * kowari src/index.rs:124-156). */
  def candidatesFrom(hashed: DataFrame): DataFrame =
    candidatePairs(candidateBands(hashed))

  /** Probe phase: exact-Jaccard rerank of candidate pairs against the
    * materialized shingle table. */
  def minhashNearDupsFrom(hashed: DataFrame, cand: DataFrame,
      threshold: Double): DataFrame = {
    // select-based aliases (not withColumnRenamed) so the three branches
    // of this self-join get distinct attribute ids and resolve correctly
    val shA = hashed.select(col("doc_id").as("a"), col("sh").as("sha"))
    val shB = hashed.select(col("doc_id").as("b"), col("sh").as("shb"))
    cand
      .join(shA, "a")
      .join(shB, "b")
      .select(col("a"), col("b"),
        round(TextOps.jaccard(col("sha"), col("shb")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("a"), col("b"))
  }

  /** Exact all-pairs n-gram Jaccard over a bounded doc subset (the
    * correctness baseline the LSH path is judged against). */
  def jaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val sh = shingled(docs).select(col("doc_id"), col("sh"))
    val a = sh.select(col("doc_id").as("a"), col("sh").as("sha"))
    val b = sh.select(col("doc_id").as("b"), col("sh").as("shb"))
    a.crossJoin(b).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(TextOps.jaccard(col("sha"), col("shb")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("a"), col("b"))
  }

  /** Semantic dedup — the two-signal pipeline a real training-data run
    * uses: MinHash bands generate candidates from TEXT, then each
    * candidate pair is scored on BOTH exact shingle Jaccard and
    * embedding cosine, combined 50/50 (cosine clamped at 0). Candidates
    * stay band-bucketed (the only shuffle), so adding the embedding
    * signal costs two broadcast-joinable lookups, not a second n² pass. */
  def semanticNearDups(docs: DataFrame, emb: DataFrame,
      threshold: Double): DataFrame = {
    // a Cuts cut, not cache: see minhashNearDups
    val hashed = shingled(docs).cut()
    semanticNearDupsFrom(hashed, candidatesFrom(hashed), emb, threshold)
  }

  /** Probe phase of semantic dedup over a prebuilt shingle table +
    * candidate set. */
  def semanticNearDupsFrom(hashed: DataFrame, cand: DataFrame,
      emb: DataFrame, threshold: Double): DataFrame = {
    import graft.functions.VectorOps
    val shA = hashed.select(col("doc_id").as("a"), col("sh").as("sha"))
    val shB = hashed.select(col("doc_id").as("b"), col("sh").as("shb"))
    val ea = emb.select(col("vec_id").as("a"), col("embedding").as("ea"))
    val eb = emb.select(col("vec_id").as("b"), col("embedding").as("eb"))
    cand.join(shA, "a").join(shB, "b").join(ea, "a").join(eb, "b")
      .select(col("a"), col("b"),
        round(TextOps.jaccard(col("sha"), col("shb")), 6).as("jaccard"),
        (round(VectorOps.cosine(col("ea"), col("eb")), 6) + lit(0.0)).as("cos"))
      .withColumn("combined",
        round(col("jaccard") * 0.5 + greatest(col("cos"), lit(0.0)) * 0.5, 6))
      .filter(col("combined") >= threshold)
      .orderBy(col("a"), col("b"))
  }

  /** Exact duplicate groups keyed on the 60-bit md5 content hash. A
    * NULL text has no content, so it is in no group. */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull).groupBy(TextOps.md5Long(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keep_id"))

  /** Embedding near-dup via banded sign-LSH with DATA-DEPENDENT
    * hyperplanes: the first nPlanes embeddings act as planes, each
    * vector gets one sign bit per plane, bits group into bands of
    * bandBits, and only pairs sharing a band key are cosine-reranked.
    *
    * This is the 100 TB shape for embedding dedup: the plane set is a
    * broadcast (nPlanes rows), bit computation is a map-only pass, and
    * the single shuffle is keyed on (band, key) — Σ|bucket|² work
    * instead of n². Data-dependent planes also make the whole pipeline
    * SQL-replayable (the oracle reads planes from the same table),
    * unlike a PRNG plane matrix. */
  def lshEmbeddingPairs(emb: DataFrame, nPlanes: Int, bandBits: Int,
      threshold: Double): DataFrame = {
    import graft.functions.VectorOps
    // The plane set is nPlanes ROWS — collect it once and inline it as
    // literals, so every band key is one map-only codegen'd expression
    // per row (exactly Lsh.bucketCol's shape) — never a crossJoin with
    // the planes (a 16× row blowup) whose rows would then be SHUFFLED
    // on (vec_id, band) to regroup bits.
    val planeRows = emb.filter(col("vec_id") < nPlanes)
      .orderBy(col("vec_id")).select(col("vec_id"), col("embedding")).collect()
    // plane i must be the embedding with vec_id == i (the oracle and the
    // band/bit layout both index planes by id); fail fast on a sparse,
    // short, or duplicate-id corpus rather than silently mis-aligning
    // bits — a row-count check alone would pass e.g. ids {0,0,2,...}
    require(planeRows.map(_.getLong(0)).toSeq == (0L until nPlanes).toSeq,
      s"need embeddings with vec_id exactly 0..${nPlanes - 1} as planes; " +
        s"found ids ${planeRows.map(_.getLong(0)).mkString(",")}")
    val planes: Array[Array[Double]] =
      planeRows.map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val nBands = (nPlanes + bandBits - 1) / bandBits
    val bandKeys = (0 until nBands).map { b =>
      val bits = (0 until bandBits).filter(j => b * bandBits + j < nPlanes)
      val key = bits.map { j =>
        when(VectorOps.dot(col("embedding"),
          typedLit(planes(b * bandBits + j).toSeq)) >= 0.0, lit(1L << j))
          .otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(b).cast("int").as("band"), key.as("key"))
    }
    val keys = emb
      .select(col("vec_id"), explode(array(bandKeys: _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val ka = keys.select(col("vec_id").as("a"), col("band"), col("key"))
    val kb = keys.select(col("vec_id").as("b"), col("band"), col("key"))
    val cand = ka.join(kb, Seq("band", "key")).filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val ea = emb.select(col("vec_id").as("a"), col("embedding").as("ea"))
    val eb = emb.select(col("vec_id").as("b"), col("embedding").as("eb"))
    cand.join(ea, "a").join(eb, "b")
      .select(col("a"), col("b"),
        round(VectorOps.cosine(col("ea"), col("eb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
      .orderBy(col("a"), col("b"))
  }

  /** Bloom-filter membership pre-filter — the 100 TB decontamination
    * shape: the benchmark/eval shingle set is tiny by definition, so
    * its Bloom bitmap broadcasts to every task and the corpus is
    * screened map-only (no join, no shuffle) down to the candidate
    * docs that an exact join then verifies. False positives cost a
    * little verify work; false negatives are impossible (every set
    * bit of a true member is set), so the pre-filter is sound.
    *
    * Deterministic by construction — k fixed affine probes over the
    * md5-based shingle hashes (the minhash hash-family style), so the
    * DuckDB oracle rebuilds the IDENTICAL filter and the candidate
    * counts are exactly replayable, not merely invariant-checked.
    * The bitmap is held as a broadcast boolean-array literal (m is a
    * few KB here); a petabyte run sizes m up and swaps the literal
    * for a real bitset — the probe shape is unchanged. */
  val BloomM = 4096
  val BloomK = 4

  /** The ONE probe-position formula — hᵢ(h) = (aᵢ·h + bᵢ) mod m with
    * aᵢ = 2i+1, bᵢ = 7919·i. The driver build side (`bloomBits`), the
    * Column probe side (`bloomPos`) and the DuckDB oracle fragment
    * (`bloomProbeSql`) ALL derive from these coefficients, so build
    * and probe can never drift apart — a drift would silently break
    * the no-false-negative guarantee the decontamination screen
    * relies on (pinned by DedupSpec's build/probe parity test). */
  private def bloomCoef(i: Int): (Long, Long) = (2L * i + 1, 7919L * i)

  /** Scalar probe position (driver build side). Non-negative by
    * construction (floorMod): a negative member hash must land on the
    * same bit the probe side reads, never throw or wrap differently. */
  def bloomProbe(i: Int, h: Long): Long = {
    val (a, b) = bloomCoef(i); java.lang.Math.floorMod(a * h + b, BloomM.toLong)
  }

  private def bloomPos(i: Int, h: Column): Column = {
    val (a, b) = bloomCoef(i); pmod(lit(a) * h + lit(b), lit(BloomM.toLong))
  }

  /** The same probe as a DuckDB SQL fragment over variables `i`/`h`
    * (the oracle rebuilds the identical filter from it). */
  def bloomProbeSql(i: String, h: String): String = {
    // coefficients written symbolically so they come from bloomCoef's
    // shape; constants checked against it at class-init time
    require(bloomCoef(3) == (7L, 23757L), "bloom coefficients drifted")
    // DuckDB's % is signed like Java's; wrap to the same non-negative
    // residue floorMod/pmod give on the build and probe sides
    s"((((2*$i+1)*$h + 7919*$i) % $BloomM) + $BloomM) % $BloomM"
  }

  /** Build the m-bit membership array from the (small) member-hash
    * set. Driver-side by design: the member side of a contamination
    * sweep is the eval set, not the corpus. */
  def bloomBits(memberHashes: Seq[Long]): Seq[Boolean] = {
    val bits = Array.fill(BloomM)(false)
    for (h <- memberHashes; i <- 0 until BloomK)
      bits(bloomProbe(i, h).toInt) = true
    bits.toSeq
  }

  /** True iff every probe position of `h` is set — `h` MIGHT be a
    * member. Pure expression over the broadcast literal (codegen,
    * map-only). */
  def bloomMightContain(h: Column, bits: Column): Column =
    (0 until BloomK).map(i =>
      element_at(bits, bloomPos(i, h).cast("int") + 1)).reduce(_ && _)

  /** Build the m-bit membership array DISTRIBUTED from a one-column
    * member-hash frame: probe positions are computed executor-side via
    * the SAME `bloomPos` expression the probe reads, then a single
    * `collect_set` aggregate lands ≤ m distinct positions in ONE driver
    * row. Identical bits to `bloomBits(collectedHashes)` (DedupSpec
    * pins the parity), but the driver head is O(m) regardless of how
    * large the member side grows — the shape that keeps even a huge
    * eval suite off the driver, and the one the bounded-collect plan
    * sweep can certify. */
  def bloomBitsOf(memberHashes: DataFrame): Seq[Boolean] = {
    val h = col(memberHashes.columns.head)
    val pos = memberHashes
      .select(explode(array((0 until BloomK).map(i => bloomPos(i, h)): _*)).as("p"))
      .agg(collect_set(col("p")).as("ps"))
      .collect()(0).getSeq[Long](0)
    val bits = Array.fill(BloomM)(false)
    pos.foreach(p => bits(p.toInt) = true)
    bits.toSeq
  }

  /** Per-doc token-hash table (doc_id, th ARRAY&lt;BIGINT&gt;) — the shared
    * prefix of every simhash sketch width. */
  def tokenHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      transform(TextOps.tokens(col("text")), t => TextOps.md5Long(t)).as("th"))

  /** Scale-safe SimHash pair generation via pigeonhole banding: split
    * the sketch's `bits` bits into maxDist+1 disjoint bands — two sketches
    * within Hamming distance maxDist differ in at most maxDist bands,
    * so they must agree EXACTLY on at least one band. An equi-join per
    * band therefore finds every qualifying pair (no recall loss), with
    * one shuffle keyed on (band, band bits) — the same Σ|bucket|² shape
    * as the MinHash path — followed by the exact Hamming rerank.
    * Result-identical to the all-pairs `simhashPairs` baseline below,
    * without its O(n²) crossJoin. */
  def simhashPairsBanded(docs: DataFrame, maxDist: Int,
      bits: Int = 16): DataFrame =
    simhashPairsBandedFrom(tokenHashes(docs), maxDist, bits)

  /** (doc_id, simhash) sketch table at the given width from a
    * token-hash table. Both self-join sides of the pair search read
    * it, so callers materialize it (a Cuts cut, or parquet at scale:
    * the sketch table a dedup pipeline persists between its signature
    * and candidate stages) before joining on it. A doc with no token
    * hash (NULL, empty or token-free text) gets no sketch: it has no
    * content to be a near-duplicate of. The row is dropped by the
    * explode of an empty option, not by a filter, which Catalyst
    * would push below the projection that tokenizes `th` and so
    * tokenize every doc twice. */
  def simhashSketch(hashed: DataFrame, bits: Int): DataFrame =
    hashed.select(col("doc_id"), explode(when(size(col("th")) > 0,
      array(TextOps.simhashFromHashes(col("th"), bits)))).as("simhash"))

  /** Banded simhash pairs from a token-hash table — the build/probe
    * split: callers answering several sketch widths (16-bit and 60-bit
    * declared queries) tokenize + md5 the corpus ONCE into a shared
    * table and derive each sketch from it. */
  def simhashPairsBandedFrom(hashed: DataFrame, maxDist: Int,
      bits: Int = 16): DataFrame =
    simhashPairsFromSketch(
      simhashSketch(hashed, bits).cut(), maxDist, bits)

  /** Probe phase: pigeonhole-banded pair generation + exact Hamming
    * rerank over a pre-built sketch table (both self-join sides read
    * it, so it must be materialized). */
  def simhashPairsFromSketch(sh: DataFrame, maxDist: Int,
      bits: Int = 16): DataFrame = {
    val nBands = maxDist + 1
    require(nBands >= 1 && nBands <= bits, s"need 1..$bits bands over $bits bits")
    // nearly-even bit ranges: band b covers [offset, offset+width)
    val base = bits / nBands
    val rem = bits % nBands
    val ranges = (0 until nBands).map { b =>
      val width = base + (if (b < rem) 1 else 0)
      val offset = b * base + math.min(b, rem)
      (b, offset, width)
    }
    val bandCols = ranges.map { case (b, offset, width) =>
      // the sketch is non-negative, so shift+mod extracts the band bits
      struct(lit(b).cast("int").as("band"),
        (shiftright(col("simhash"), offset) % lit(1L << width)).as("key"))
    }
    val banded = sh.select(col("doc_id"), col("simhash"),
      explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val a = banded.select(col("doc_id").as("a"), col("simhash").as("ha"),
      col("band"), col("key"))
    val b = banded.select(col("doc_id").as("b"), col("simhash").as("hb"),
      col("band"), col("key"))
    a.join(b, Seq("band", "key")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        TextOps.hammingBits(col("ha"), col("hb"), bits).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct() // a pair agreeing on several bands appears once
      .orderBy(col("a"), col("b"))
  }

  /** SimHash near-dup pairs over a bounded subset: hamming(simhash16)
    * <= maxDist. All-pairs crossJoin — the bounded correctness baseline
    * for `simhashPairsBanded`; never run this on an unbounded corpus. */
  def simhashPairs(docs: DataFrame, maxDist: Int, bits: Int = 16): DataFrame = {
    val sh = simhashSketch(tokenHashes(docs), bits)
    val a = sh.select(col("doc_id").as("a"), col("simhash").as("ha"))
    val b = sh.select(col("doc_id").as("b"), col("simhash").as("hb"))
    a.crossJoin(b).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        TextOps.hammingBits(col("ha"), col("hb"), bits).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .orderBy(col("a"), col("b"))
  }
}
