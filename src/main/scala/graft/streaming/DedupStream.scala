package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.operators.Dedup

/** Streaming deduplication — the in-flight twin of graft.operators.Dedup
  * for an unbounded document feed (the shape of a continuously-ingesting
  * training-data pipeline).
  *
  * Exact dedup rides Spark's stateful `dropDuplicates` on the 60-bit
  * content hash: state is one small record per distinct hash in the
  * state store (partitioned by hash, never on the driver), and the
  * watermark bounds it — a duplicate arriving later than the watermark
  * delay is outside the contract, exactly like the batch pipeline's
  * per-snapshot semantics.
  *
  * Near-dup candidate *emission* also streams: signature computation is
  * map-only, so the (band, band_hash) bucket stream can feed a
  * downstream batch rerank — the lambda-free split used at 100 TB
  * (stream writes bucket parquet, a periodic batch job joins it).
  */
object DedupStream {

  /** The shingle hashes of the `text` column. */
  private def shingleHashes = TextOps.shingleHashes(Dedup.shingles(col("text")))

  /** Drop exact duplicate documents (by content hash) within the
    * watermark horizon. Input needs (doc_id, ts, text). A NULL text
    * has no content, so it duplicates nothing: its hash is NULL, which
    * the dedup state would treat as equal to every other NULL, so the
    * key also carries the doc_id of a NULL-text doc. */
  def dropExactDuplicates(docs: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash", TextOps.md5Long(col("text")))
      .withColumn("null_text_id", when(col("text").isNull, col("doc_id")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash", "null_text_id")
      .drop("null_text_id")

  /** Streaming contamination screen: drop (or route) documents whose
    * shingles might overlap the eval set, using the SAME deterministic
    * Bloom bitmap the batch sweep builds (Dedup.bloomBits). The bitmap
    * is a literal baked into the plan, so the screen is stateless and
    * map-only — no state store, no join, each micro-batch pays one
    * expression pass; rebuilding the query with a refreshed bitmap is
    * the redeploy-time operation, matching how eval sets actually
    * change (rarely, versioned). Emits the stream with a
    * `maybe_contaminated` flag so the caller chooses drop vs
    * quarantine; false negatives are impossible, so a clean flag is
    * trustworthy. */
  def contaminationScreen(docs: DataFrame, bloomBits: Seq[Boolean]): DataFrame = {
    val bits = typedLit(bloomBits)
    docs.withColumn("maybe_contaminated",
      exists(array_distinct(shingleHashes), h => Dedup.bloomMightContain(h, bits)))
  }

  /** Map-only MinHash band-bucket emission for a document stream:
    * (doc_id, ts, band, band_hash) — joinable by the batch rerank job. */
  def bandStream(docs: DataFrame): DataFrame =
    Dedup.minhashBands(docs, Seq("doc_id", "ts"), shingleHashes)

  /** Rows of the banded signature stream feeding the stateful
    * in-stream pairing. */
  case class BandedDoc(doc_id: Long, ts: java.sql.Timestamp,
      band: Int, band_hash: Long, sig: Seq[Long])

  /** One bucket resident: enough to pair (id + signature) and to age
    * out (event-time millis). */
  case class BucketEntry(doc_id: Long, tsMs: Long, sig: Seq[Long])

  /** In-stream candidate pair: est_jaccard is the minhash
    * component-match estimator from the two signatures. */
  case class CandidatePair(a: Long, b: Long, band: Int, est_jaccard: Double)

  /** In-STREAM near-duplicate candidates — the stream-vs-stream half
    * of the streaming dedup story (nearDupAgainstCorpus covers
    * stream-vs-static). Band-keyed `flatMapGroupsWithState` keeps,
    * per (band, band_hash) bucket, the minhash signatures of docs
    * seen inside the state TTL; each arriving doc pairs against the
    * bucket's residents and joins them. State is BOUNDED on both
    * axes: at most `maxPerBucket` signatures per live bucket — one
    * entry per doc_id (redeliveries refresh, never duplicate) with
    * the oldest EVENT TIME evicted first, so a hot bucket degrades to
    * recent-window pairing and cannot OOM the store — and buckets age
    * out on an event-time timeout tied to the watermark. est_jaccard = matching signature
    * components / MinhashH (the standard estimator); candidates feed
    * an exact downstream rerank, the same contract as the batch
    * banded join. A pair agreeing in several bands emits once per
    * band; the sink dedupes idempotently by (a, b), as with
    * nearDupAgainstCorpus — a distinct here would add a second
    * stateful aggregation for no semantic gain. */
  def inStreamNearDups(docs: DataFrame, watermarkDelay: String = "1 hour",
      stateTtlMs: Long = 3600L * 1000L, maxPerBucket: Int = 64): DataFrame = {
    import graft.operators.Dedup.MinhashH
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    val banded = Dedup.minhashBands(docs.withWatermark("ts", watermarkDelay),
        Seq("doc_id", "ts"), shingleHashes, withSig = true)
      .as[BandedDoc]
    def onBucket(key: (Int, Long), rows: Iterator[BandedDoc],
        state: GroupState[List[BucketEntry]]): Iterator[CandidatePair] =
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        var held = state.getOption.getOrElse(Nil)
        val out = scala.collection.mutable.ArrayBuffer.empty[CandidatePair]
        var maxTs = Long.MinValue
        rows.foreach { d =>
          maxTs = math.max(maxTs, d.ts.getTime)
          held.foreach { e =>
            if (e.doc_id != d.doc_id) {
              val m = e.sig.iterator.zip(d.sig.iterator)
                .count { case (x, y) => x == y }
              out += CandidatePair(
                math.min(e.doc_id, d.doc_id), math.max(e.doc_id, d.doc_id),
                key._1,
                math.rint(m.toDouble / MinhashH * 1e6) / 1e6)
            }
          }
          // one entry per doc_id (an at-least-once redelivery refreshes
          // the doc's entry instead of duplicating it and flushing
          // genuine candidates), ordered newest-EVENT-TIME first so the
          // cap evicts by event time, not arrival order
          held = (BucketEntry(d.doc_id, d.ts.getTime, d.sig)
              :: held.filterNot(_.doc_id == d.doc_id))
            .sortBy(e => (-e.tsMs, e.doc_id))
            .take(maxPerBucket)
        }
        state.update(held)
        // age the bucket out TTL past its newest doc (clamped ahead of
        // the watermark — Spark rejects timeouts at or behind it)
        state.setTimeoutTimestamp(
          math.max(maxTs + stateTtlMs, state.getCurrentWatermarkMs() + 1))
        out.iterator
      }
    banded
      .groupByKey(d => (d.band, d.band_hash))
      .flatMapGroupsWithState[List[BucketEntry], CandidatePair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(onBucket)
      .toDF()
  }

  /** Streaming near-dup rerank against a STATIC corpus index: each
    * incoming doc's band buckets probe the corpus band table (built
    * offline, `Dedup.shingled` + `Dedup.candidatesFrom` family), and
    * band matches are exact-Jaccard reranked against the corpus shingle
    * table, emitting (doc_id, ts, corpus_doc_id, jaccard) pairs at or
    * above the threshold.
    *
    * Scale shape: stream-static inner joins are STATELESS in Spark —
    * no watermark state accumulates — and the static side is an index
    * DataFrame (band-bucketed parquet at 100 TB), so each micro-batch
    * costs Σ|matched bucket| rerank work, never a corpus scan. A doc
    * matching a corpus doc in several bands emits that pair once per
    * matching band; the downstream sink dedupes idempotently by
    * (doc_id, corpus_doc_id) — a distinct here would force stateful
    * aggregation for no semantic gain.
    *
    * @param corpusHashed static (doc_id, sh, shh) from Dedup.shingled */
  def nearDupAgainstCorpus(docs: DataFrame, corpusHashed: DataFrame,
      threshold: Double): DataFrame = {
    val streamSide = Dedup.minhashBands(
      docs.select(col("doc_id"), col("ts"), Dedup.shingles(col("text")).as("sh")),
      Seq("doc_id", "ts", "sh"), TextOps.shingleHashes(col("sh")))
    val corpusBands = Dedup.candidateBands(corpusHashed)
      .select(col("doc_id").as("corpus_doc_id"), col("band"), col("band_hash"))
    val corpusSh = corpusHashed
      .select(col("doc_id").as("corpus_doc_id"), col("sh").as("corpus_sh"))
    streamSide
      .join(corpusBands, Seq("band", "band_hash"))
      .filter(col("doc_id") =!= col("corpus_doc_id"))
      .join(corpusSh, "corpus_doc_id")
      .select(col("doc_id"), col("ts"), col("corpus_doc_id"),
        round(TextOps.jaccard(col("sh"), col("corpus_sh")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }
}
