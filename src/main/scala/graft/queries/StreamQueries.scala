package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType
import graft.functions.TextOps
import graft.operators.Dedup
import graft.streaming.{DedupStream, EventStreams}
import graft.operators.Cuts.CutOps

/** Declared queries for the STREAMING surface, via bounded replay: each
  * runs the real Structured Streaming pipeline (state store, event-time
  * watermark, timeouts) to completion over a finite file source
  * derived from the driver's parquet tables, sinks the output to
  * parquet, and declares the (deterministic) sink — which a DuckDB
  * batch twin then replays value-for-value. This brings the streaming
  * operators under the same rows+schema+hash gate as everything else;
  * the reference engine is batch-only (SURVEY §2.8), so the whole
  * module is extension surface. All replays share one staging rule
  * (`stage`) and one run rule (`replay`).
  *
  * Determinism notes (why the sinks are hash-stable):
  *   - `stream_near_dup_replay`: with every doc in one micro-batch and
  *     no bucket over the state cap (max same-bucket cohort at these
  *     scales is 3 ≪ 64), the emitted candidate SET is exactly "all
  *     same-(band, band_hash) pairs, once per shared band" regardless
  *     of intra-batch iteration order — pair ids are min/max
  *     normalized and est_jaccard is a pure function of the two
  *     signatures.
  *   - `stream_sessions_replay`: the input is staged as TWO
  *     micro-batches, so state genuinely persists across a batch
  *     boundary and the watermark advances between batches; the sink
  *     aggregate (per user: final session count, events in the final
  *     session) is invariant to how updates and timeout re-emissions
  *     interleave because n_sessions is monotone and events-in-session
  *     is monotone within a session.
  *   - `stream_decontam_replay`: the screen is stateless map-only over
  *     a broadcast Bloom bitmap — per-doc flags are order-free.
  *   - `stream_hourly_replay`: Append-mode windows are emitted exactly
  *     when the final watermark (max event time − delay) passes their
  *     end — a deterministic cutoff the oracle applies verbatim.
  *   - `stream_click_attr_replay`: a bounded inner stream-stream join
  *     emits exactly the batch join's pair set (watermarks only bound
  *     state, never filter an in-bound match).
  *   - `stream_exact_dedup_replay`: three micro-batches; per-batch
  *     winners are earliest-event rows (sorted single-file batches),
  *     and state eviction is deterministic end-of-batch watermark math
  *     — see exactDedupReplaySink.
  *   - `stream_graph_replay`: per-batch edge increments are pure
  *     functions of the batch's (whole) orders and the sum-merge is
  *     associative/commutative, so the merged store is batch-order
  *     independent; batchId-keyed overwrite makes a retried batch
  *     rewrite, not double-count.
  *   - `stream_triangle_replay`: each tick's gained-triangle count is
  *     a pure function of (its batch's edges, the id-bounded PREFIX
  *     store), and the staged batch→id assignment is fixed — so deltas
  *     are replay-stable and a re-delivered tick recomputes the same
  *     count (the prefix read filters by id, keeping later batches'
  *     on-disk partitions out of view).
  *   - `stream_funnel_replay`: per-doc increments (bands, shingles,
  *     hashes, metrics, contam flags) are pure per-doc functions;
  *     the pair set is exactly "all qualifying pairs, generated once
  *     by the later side's tick", so its union is batch-split
  *     independent, and the read-side component merge over star
  *     edges + pairs is order-free (min-id CC).
  *   - `stream_export_replay`: each tick's export rows (redaction,
  *     split label) are pure per-doc functions of its batch, landed
  *     as batchId-keyed overwrites of split×source hive partitions —
  *     so the merged store is batch-order independent and a
  *     re-delivered tick rewrites identical bytes.
  */
object StreamQueries extends QueryRegistry {
  import Tables._

  // stream inputs/sinks land via the ONE shared layout rule, Tables.buildPath

  private def rmrf(paths: String*): Unit = paths.foreach(p =>
    graft.sources.CollectionManager.deleteRecursively(java.nio.file.Paths.get(p)))

  /** Epoch seconds of 2024-01-01T00:00:00Z — base of the synthetic
    * per-doc event times (one doc per minute, deterministic in doc_id). */
  private val DocTsBase = 1704067200L

  /** Stage a replay input: part `i` becomes the `i`-th mtime-ordered
    * parquet file of `stream-<tag>-in`, so under `replay` it arrives as
    * micro-batch `i` with a fixed row order. Built once per (session,
    * dir, tag) — `parts` is only evaluated on the build — and shared by
    * every replay that reads the same input. Returns (path, schema). */
  private[graft] def stage(s: SparkSession, dir: String, tag: String,
      parts: => Seq[DataFrame]): (String, StructType) =
    SharedBuilds.of(s, dir, s"stream-$tag-in") {
      val in = buildPath(dir, s"stream-$tag-in")
      rmrf(in)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val ps = parts
      ps.zipWithIndex.foreach { case (df, i) =>
        writeMtimed(dir, in, f"$tag-$i%02d", df, 1700000000000L + i * 100000L)
      }
      (in, ps.head.schema)
    }

  /** Write `df` as the single parquet file `<inDir>/<name>.parquet`
    * with a pinned mtime. The file source orders batches by mtime, so
    * a refused mtime (setLastModified returns false on some
    * filesystems) would silently reorder the batches and change the
    * replay — it is asserted, not ignored. */
  private def writeMtimed(dir: String, inDir: String, name: String,
      df: DataFrame, mtime: Long): Unit = {
    val tmp = buildPath(dir, s"stream-tmp-$name")
    rmrf(tmp)
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dest = java.nio.file.Paths.get(inDir, s"$name.parquet")
    java.nio.file.Files.move(part.toPath, dest,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    require(dest.toFile.setLastModified(mtime),
      s"writeMtimed: filesystem refused mtime on $dest")
    rmrf(tmp)
  }

  /** Run one bounded replay of a staged input to completion: read it
    * one file per micro-batch, in staging order, hand the stream to
    * `sink`, and run the query with the checkpoint `stream-<tag>-ckpt`
    * until every staged batch is committed. The checkpoint is always
    * cleared first — a stale one would silently skip the replay.
    * `reset = true` also clears `stores` (a fresh run);
    * `reset = false` keeps them, so every batch is re-delivered onto
    * the state the previous pass left — the at-least-once retry that
    * StreamReplaySpec drives with two passes. */
  private[graft] def replay(s: SparkSession, dir: String, tag: String,
      reset: Boolean, stores: String*)(staged: (String, StructType))(
      sink: DataFrame => DataStreamWriter[Row]): Unit = {
    val ckpt = buildPath(dir, s"stream-$tag-ckpt")
    rmrf((if (reset) stores else Nil) :+ ckpt: _*)
    sink(s.readStream.schema(staged._2)
        .option("maxFilesPerTrigger", "1").parquet(staged._1))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
  }

  /** A sink that hands each micro-batch and its id to `f`. */
  private def eachBatch(f: (DataFrame, Long) => Unit)(df: DataFrame)
      : DataStreamWriter[Row] = df.writeStream.foreachBatch(f)

  /** A fresh file-sink replay: `op` over the staged stream, appended to
    * the parquet sink `stream-<tag>-sink`; returns the sink path. */
  private def sinkReplay(s: SparkSession, dir: String, tag: String,
      staged: (String, StructType))(op: DataFrame => DataFrame): String = {
    val sink = buildPath(dir, s"stream-$tag-sink")
    replay(s, dir, tag, reset = true, sink)(staged)(st =>
      op(st).writeStream.format("parquet").option("path", sink).outputMode("append"))
    sink
  }

  /** The document stream input: (doc_id, ts, text) as ONE batch, so
    * the whole corpus arrives together (no watermark ordering
    * concerns); both document streams read it. */
  private def docsStreamInput(s: SparkSession, dir: String): (String, StructType) =
    stage(s, dir, "docs", Seq(documents(s, dir).select(col("doc_id"),
      timestamp_micros((lit(DocTsBase) + col("doc_id") * 60L) * 1000000L).as("ts"),
      col("text"))))

  /** The event stream input as ONE batch (no watermark-ordering
    * concerns), shared by the hourly-aggregate and click-attribution
    * replays. */
  private def eventsStreamInput(s: SparkSession, dir: String): (String, StructType) =
    stage(s, dir, "events", Seq(events(s, dir).select(col("event_id"), col("ts"),
      col("user_id"), col("event_type"), col("value"))))

  /** Three whole-order lineitem batches (`l_orderkey % 3`), shared by
    * the graph, reach and triangle replays. */
  private def lineitemStreamInput(s: SparkSession, dir: String): (String, StructType) =
    stage(s, dir, "lineitem", {
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
      (0 until 3).map(i => li.filter(col("l_orderkey") % 3 === i))
    })

  /** The in-stream near-dup pairing (band-keyed
    * flatMapGroupsWithState) over the doc stream; returns the sink. */
  private def nearDupReplaySink(s: SparkSession, dir: String): String =
    SharedBuilds.of(s, dir, "stream-near-dup-replay") {
      sinkReplay(s, dir, "nd", docsStreamInput(s, dir))(DedupStream.inStreamNearDups(_))
    }

  /** The watermarked tumbling-window aggregate. Append mode only emits
    * windows the final watermark (max event time − 2 h) has passed —
    * the no-data batch the trigger runs after the last data batch
    * finalizes them; later windows stay in state and are
    * deterministically ABSENT from the sink (the oracle applies the
    * same cutoff). Returns the sink. */
  private def hourlyReplaySink(s: SparkSession, dir: String): String =
    SharedBuilds.of(s, dir, "stream-hourly-replay") {
      sinkReplay(s, dir, "hr", eventsStreamInput(s, dir))(EventStreams.hourlyAggregate)
    }

  /** The stream-stream interval join (purchases attributed to the same
    * user's clicks in the preceding 30 min); the two sides are
    * watermarked filters of ONE bounded source, so the inner join's
    * emitted pair set equals the batch join exactly. Returns the sink. */
  private def clickAttrReplaySink(s: SparkSession, dir: String): String =
    SharedBuilds.of(s, dir, "stream-click-attr-replay") {
      sinkReplay(s, dir, "ca", eventsStreamInput(s, dir))(st =>
        EventStreams.clickToPurchaseJoin(
          st.filter(col("event_type") === "click"),
          st.filter(col("event_type") === "purchase")))
    }

  /** Streaming index maintenance — the loop a serving tier actually
    * runs: the LSH store is built on the first half of the corpus,
    * then a foreachBatch consumer `Lsh.append`s each of three batches
    * of newly-arriving vectors into the bucket-partitioned store.
    * Append is O(batch) against the frozen data-dependent plane
    * matrix, so the streaming path does exactly what the batch
    * lsh_append_audit path does — and the declared audit over the
    * final store shares that query's full-DuckDB-re-assignment oracle:
    * a dropped batch, a double-applied batch, or a drifted bucket key
    * hash-fails. Lsh.append is not idempotent per micro-batch — a
    * crash AFTER the append but BEFORE the checkpoint commit would
    * re-apply the batch on restart (and the audit would catch the
    * duplicate ids). A production deployment writes the batchId into
    * the store (or compacts through a transactional format) to make
    * redelivery exact; this replay runs each batch exactly once.
    * Returns (half, store). */
  private def indexAppendReplay(s: SparkSession, dir: String): (Long, DataFrame) =
    SharedBuilds.of(s, dir, "stream-index-append") {
      val (lsh, half, emb) = IndexQueries.dataPlanesLsh(s, dir)
      val path = buildPath(dir, "stream-lsh-store")
      lsh.build(emb.filter(col("vec_id") < half), path)
      val staged = stage(s, dir, "vec", {
        val third = (emb.count() - half) / 3 + 1
        (0 until 3).map(i => emb.select(col("vec_id"), col("embedding"))
          .filter(col("vec_id") >= half + i * third &&
            col("vec_id") < half + (i + 1) * third))
      })
      replay(s, dir, "lsh", reset = true)(staged)(eachBatch((batch, _) =>
        lsh.append(path, batch)))
      (half, s.read.parquet(path))
    }

  /** The stateful sessionizer over the events staged as two ts-ranged
    * batches — per-user state crosses a real batch boundary and
    * event-time timeouts can fire on the second batch's advanced
    * watermark. Per-batch Update-mode rows land in the sink via
    * foreachBatch (the file sink itself is append-only). Returns the
    * sink. */
  private def sessionsReplaySink(s: SparkSession, dir: String): String =
    SharedBuilds.of(s, dir, "stream-sessions-replay") {
      import s.implicits._
      val staged = stage(s, dir, "ev", {
        val ev = events(s, dir).select(col("event_id"), col("ts"),
          col("user_id"), col("event_type"), col("value"))
        val cnt = ev.count()
        require(cnt > 0, s"sessionsReplaySink: empty events table at $dir" +
          " — the two-batch replay needs at least one event to split on")
        // boundary = the (n/2)-th smallest event time; ties land in the
        // first file, so batch order equals global (ts, event_id) order
        val ms = unix_millis(col("ts"))
        val boundary = ev.select(ms.as("ms"))
          .orderBy(col("ms")).limit((cnt / 2).toInt.max(1))
          .agg(max(col("ms"))).collect()(0).getLong(0)
        Seq(ev.filter(ms <= boundary), ev.filter(ms > boundary))
      })
      val sink = buildPath(dir, "stream-ev-sink")
      replay(s, dir, "ev", reset = true, sink)(staged)(st =>
        eachBatch((batch, _) => batch.write.mode("append").parquet(sink))(
          EventStreams.sessionize(st.as[EventStreams.EventIn]).toDF())
          .outputMode("update"))
      sink
    }

  /** Exact-dedup horizon delay: 2415 s = 40.25 min. Deliberately NOT a
    * whole number of minutes: every synthetic event time below is
    * minute-aligned, so neither the state-expiry comparison
    * (first_ts + delay vs watermark) nor the late-row comparison can
    * ever land on exact equality — the replay is insensitive to
    * Spark's choice of strict-vs-inclusive at both boundaries. */
  private val XdDelaySec = 2415L

  /** The streaming exact dedup (dropDuplicatesWithinWatermark on the
    * 60-bit content hash) across THREE micro-batches. Three batches
    * because Spark evicts expired dedup state at the END of a
    * micro-batch (after processing its rows, using that batch's
    * watermark): an entry whose horizon lapsed during batch 2 is only
    * gone when batch 3 runs — observed empirically against 4.1 and
    * encoded identically in the oracle. Input = documents plus
    * injected duplicate rows (the exact_dedup_keep convention,
    * doc_id + 10000) at synthetic minute-per-doc event times, three
    * cohorts by timing (sf0.01 geometry — batch splits at the 1/3 and
    * 2/3 event-time order statistics land at ≈165/≈357 min):
    *   - originals 40..64 + dupes 30 min later: both land in batch 1
    *     → the duplicate hits live state and is DROPPED in-batch;
    *   - originals 0..24 + dupes 400 min later (batch 3): the
    *     original's entry expires at END of batch 2 (its ts + delay <
    *     b1max − delay, the batch-2 watermark), so the batch-3
    *     duplicate is RE-EMITTED — the horizon doing exactly what it
    *     promises (at-least-once outside the window);
    *   - originals 100..124 + dupes 310 min later (batch 3): the
    *     entry is still inside the horizon when batch 2 commits, so
    *     the duplicate is DROPPED ACROSS two batch boundaries (state
    *     genuinely persisted and genuinely not over-evicted).
    * Batch files are single sorted parquet (repartition(1) +
    * sortWithinPartitions), so arrival order per hash is event-time
    * order and the within-batch winner is deterministically the
    * earliest row. Returns the sink. */
  private def exactDedupReplaySink(s: SparkSession, dir: String): String =
    SharedBuilds.of(s, dir, "stream-exact-dedup-replay") {
      val staged = stage(s, dir, "xd", {
        val docs = documents(s, dir).select(col("doc_id"), col("text"))
        def cohort(lo: Long, hi: Long, offMin: Long): DataFrame =
          docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
            .select((col("doc_id") + 10000L).as("doc_id"),
              (col("doc_id") + offMin).as("minute"), col("text"))
        val all = docs
          .select(col("doc_id"), col("doc_id").as("minute"), col("text"))
          .unionByName(cohort(0, 25, 400))
          .unionByName(cohort(40, 65, 30))
          .unionByName(cohort(100, 125, 310))
          .select(col("doc_id"),
            timestamp_micros((lit(DocTsBase) + col("minute") * 60L) * 1000000L)
              .as("ts"),
            col("text"))
        val cnt = all.count()
        require(cnt > 0, s"exactDedupReplaySink: empty documents table at $dir")
        val ms = unix_millis(col("ts"))
        def kthMs(k: Long): Long = all.select(ms.as("ms"))
          .orderBy(col("ms")).limit(k.toInt.max(1))
          .agg(max(col("ms"))).collect()(0).getLong(0)
        val (q1, q2) = (kthMs(cnt / 3), kthMs(2 * cnt / 3))
        Seq(ms <= q1, ms > q1 && ms <= q2, ms > q2).map(p =>
          all.filter(p).repartition(1).sortWithinPartitions(col("ts"), col("doc_id")))
      })
      sinkReplay(s, dir, "xd", staged)(st =>
        DedupStream.dropExactDuplicates(st, s"$XdDelaySec seconds")
          .select(col("doc_id"), col("ts"), col("content_hash")))
    }

  /** The stateless streaming contamination screen (broadcast Bloom
    * bitmap of the eval set's shingle hashes — docs with doc_id < 10,
    * the decontamination_bloom split) over the doc stream. Returns the
    * sink. */
  private def decontamReplaySink(s: SparkSession, dir: String): String =
    SharedBuilds.of(s, dir, "stream-decontam-replay") {
      val bits = Dedup.bloomBitsOf(
        documents(s, dir).filter(col("doc_id") < 10)
          .select(explode(array_distinct(
            TextOps.shingleHashes(Dedup.shingles(col("text"))))).as("h")))
      sinkReplay(s, dir, "dc", docsStreamInput(s, dir))(st =>
        DedupStream.contaminationScreen(st.filter(col("doc_id") >= 10), bits)
          .select(col("doc_id"), col("maybe_contaminated")))
    }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // in-STREAM near-duplicate candidates, replayed to completion and
    // value-pinned: every same-(band, band_hash) pair once per shared
    // band with the minhash component-match estimator — the DuckDB twin
    // recomputes signatures, band keys, and estimators from scratch
    "stream_near_dup_replay" -> ((s, dir) => {
      val sink = nearDupReplaySink(s, dir)
      s.read.parquet(sink)
        .select(col("a"), col("b"), col("band").cast("long").as("band"),
          (round(col("est_jaccard"), 6) + 0.0).as("est_jaccard"))
        .orderBy(col("a"), col("b"), col("band"))
    }),

    // stateful sessionization replayed across TWO micro-batches and
    // reduced to its batch-equivalent fixpoint: per user, the final
    // cumulative session count and the event count of the final
    // session. n_sessions is monotone across updates and
    // current_session_events is monotone within a session, so the
    // aggregate is invariant to update/timeout interleaving.
    "stream_sessions_replay" -> ((s, dir) => {
      val sink = sessionsReplaySink(s, dir)
      val w = Window.partitionBy(col("user_id"))
      s.read.parquet(sink)
        .withColumn("mx", max(col("n_sessions")).over(w))
        .filter(col("n_sessions") === col("mx"))
        .groupBy(col("user_id"))
        .agg(max(col("n_sessions")).as("n_sessions"),
          max(col("current_session_events")).as("last_session_events"))
        .orderBy(col("user_id"))
    }),

    // watermarked tumbling-window aggregate, replayed to completion:
    // the sink holds exactly the windows the final watermark finalized
    // (same expressions as the batch events_hourly; the oracle applies
    // the identical end ≤ max(ts)−2h cutoff)
    "stream_hourly_replay" -> ((s, dir) => {
      val sink = hourlyReplaySink(s, dir)
      s.read.parquet(sink)
        .select(date_format(col("hour_start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("n_events"), col("total_value"))
        .orderBy(col("hour"))
    }),

    // stream-stream interval join (two-sided time bound, both sides
    // watermarked), replayed to completion: the emitted pair set must
    // equal the batch join exactly — DuckDB replays it as a plain
    // self-join with the same interval predicate
    "stream_click_attr_replay" -> ((s, dir) => {
      val sink = clickAttrReplaySink(s, dir)
      s.read.parquet(sink)
        .select(col("user_id"), col("purchase_id"), col("click_id"),
          col("gap_ms").cast("long").as("gap_ms"))
        .orderBy(col("user_id"), col("purchase_id"), col("click_id"))
    }),

    // stateless streaming decontamination screen, one flag per corpus
    // doc — the DuckDB twin replays the Bloom build AND probe from the
    // shared probe-position formula (Dedup.bloomProbeSql), so build/
    // probe drift or a bitmap corruption hash-fails per-document
    "stream_decontam_replay" -> ((s, dir) => {
      val sink = decontamReplaySink(s, dir)
      s.read.parquet(sink).orderBy(col("doc_id"))
    }),

    // streaming exact dedup (dropDuplicatesWithinWatermark), replayed
    // across three micro-batches and reduced per content hash: how
    // many times the hash was emitted (1 = deduped or unique, 2 =
    // horizon-expiry re-emission) and which rows won. The DuckDB twin
    // replays first-arrival-wins within the watermark horizon from
    // scratch: same batch splits, same winner rule (earliest event
    // per hash per batch), same end-of-batch state-expiry rule.
    "stream_exact_dedup_replay" -> ((s, dir) => {
      val sink = exactDedupReplaySink(s, dir)
      s.read.parquet(sink)
        .groupBy(col("content_hash").as("ch"))
        .agg(count(lit(1)).as("n_emits"),
          min_by(col("doc_id"), col("ts")).as("first_doc"),
          max_by(col("doc_id"), col("ts")).as("last_doc"))
        .orderBy(col("ch"))
    }),

    // streaming index maintenance: the audit rows come from the store
    // the foreachBatch consumer maintained; the oracle is the same full
    // from-scratch DuckDB re-assignment the batch lsh_append_audit
    // uses — streaming appends must land the store in the exact state
    // a batch rebuild would
    "stream_index_append_replay" -> ((s, dir) => {
      val (half, idx) = indexAppendReplay(s, dir)
      IndexQueries.lshAppendAudit(half, idx)
    }),

    // incremental SKETCH maintenance — each micro-batch appends its
    // partial HLL registers to a durable store via foreachBatch; the
    // serve-side read max-merges them. Because register merge is max
    // (associative, commutative, IDEMPOTENT), a retried batch changes
    // nothing — the one streaming state shape that is exactly-once for
    // free under at-least-once delivery — and the merged estimate
    // equals the batch twin BIT-FOR-BIT, which is what the shared
    // events_hll_distinct oracle checks.
    "stream_hll_replay" -> ((s, dir) => {
      val partials = hllStreamReplay(s, dir)
      val merged = partials.groupBy(col("event_type"), col("b"))
        .agg(max(col("r")).as("r"))
      EventQueries.hllFinish(merged,
        EventQueries.hllRegisterRows(Tables.events(s, dir)))
    }),

    // streaming CLASSIFIER maintenance — each doc micro-batch lands its
    // train-side NB partial count table in a batchId-keyed overwrite
    // partition; the serve side sum-merges the partials into the live
    // count table and scores the held-out docs from it. Counts are
    // additive longs, so sum-merge over a disjoint batch split equals
    // a from-scratch train EXACTLY — the oracle IS nb_quality_score's
    // full train+score SQL replay. Additive state would double-count
    // on a retried batch, hence the overwrite-per-batch discipline
    // (pinned by StreamReplaySpec's two-pass re-delivery).
    "stream_nb_replay" -> ((s, dir) => {
      val store = nbStreamReplay(s, dir)
      val merged = s.read.parquet(store)
        .groupBy(col("f"))
        .agg(sum(col("n_p")).as("n_p"), sum(col("n_n")).as("n_n"))
      val fe = PipelineQueries.nbFeats(documents(s, dir))
      graft.operators.NaiveBayes.score(
          fe.filter(col("doc_id") % 2 === 1), merged, PipelineQueries.NbBuckets,
          Seq("doc_id", "source"))
        .select(col("doc_id"), col("source"), col("n_feats"), col("nb_ppm"))
        .orderBy(col("nb_ppm").desc, col("doc_id"))
        .limit(30)
    }),

    // streaming REACH maintenance — converged HyperBall registers kept
    // fresh as whole-order edge batches land. Each tick overwrites its
    // batchId-keyed edge increment, derives the CURRENT w≥2 backbone
    // from the merged store, and re-converges the register store FROM
    // ITS MAINTAINED STATE (seed = stored registers max-merged with
    // hop-0 registers of the current node set). Register state is a
    // monotone lattice and the backbone only gains edges under
    // whole-order additivity, so converging from any maintained
    // intermediate state lands on the same fixed point as a
    // from-scratch build — the semi-naive incremental evaluation that
    // makes each tick O(newly-opened absorption paths), and makes
    // re-delivery idempotent even AFTER the state was applied (a
    // retried tick re-converges already-converged state: zero rounds,
    // identical overwrite). Serve = the shared register-histogram
    // census; oracle = reach_converged_census's from-scratch connected
    // reach replay VERBATIM.
    "stream_reach_replay" -> ((s, dir) =>
      GraphQueries.reachCensus(s.read.parquet(reachStreamReplay(s, dir)))),

    // streaming GRAPH maintenance — each micro-batch of lineitem rows
    // (whole orders per batch) lands its order-local co-purchase edge
    // increment in a durable store via foreachBatch; the serve-side
    // read sum-merges the increments and runs the 3-iteration integer
    // PageRank. Edge counts are order-additive longs, so merge-at-read
    // equals a full rebuild exactly — and the oracle IS the full
    // from-scratch SQL replay (shared with pagerank_copurchase).
    // Unlike HLL's idempotent max, sum-increments would double-count
    // on a retried batch, so each batch OVERWRITES its own
    // batchId-keyed partition (a retry rewrites, never re-appends).
    "stream_graph_replay" -> ((s, dir) => {
      val g = graphStreamReplay(s, dir)
      graft.operators.PageRank.iterate(g, 3)
        .select(col("node").as("part_id"), col("rank_fp"))
        .orderBy(col("rank_fp").desc, col("part_id"))
        .limit(20)
    }),

    // streaming TRIANGLE-CENSUS maintenance under at-least-once
    // delivery. Each whole-order micro-batch tick anti-joins its edge
    // increment against the PREFIX store (batches < id), counts the
    // triangles it gains with Triangles.delta (batch-anchored
    // inclusion–exclusion — the stored graph's wedges are never
    // re-enumerated), and lands BOTH the edge partition and a
    // (batch_id, n_delta) count row, each batchId-keyed overwrite. The
    // prefix read is by id, so a re-delivered batch sees the SAME
    // prefix and recomputes the SAME delta — idempotent like the graph
    // replay. The oracle recounts every PREFIX graph from scratch with
    // the naive wedge shape: each tick's delta AND each running total
    // must equal a full recount — per-tick exactness, not just the
    // final sum
    "stream_triangle_replay" -> ((s, dir) => {
      val counts = triangleStreamReplay(s, dir)
      val w = Window.orderBy(col("batch_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      counts // 3 bounded rows — the single-partition window is fine
        .select(col("batch_id"), col("n_delta"),
          sum(col("n_delta")).over(w).as("n_cum"))
        .orderBy(col("batch_id"))
    }),

    // the STREAMING curation-funnel tick — the incremental funnel's
    // phase B re-expressed as a live ingest loop. The snapshot-diff
    // docs arrive as three micro-batches; each foreachBatch tick runs
    // the per-batch text work (shingle/band/hash/metrics/PII-scrub/
    // decon) and lands SIX state increments in batchId-keyed store
    // partitions (idempotent overwrite-per-batch, the graph replay's
    // retry story), including the batch's verified near-dup PAIRS
    // against everything seen so far (phase-A state + earlier batches
    // — each cross-batch pair is generated exactly once, by the later
    // side's tick). The read side merges: connected components over
    // phase-A star edges + all appended pairs (star compression
    // preserves connectivity and min-id labels, the incremental_funnel
    // argument), then the same thin-frame funnel aggregation. Oracle =
    // the FULL-corpus funnel SQL, so green == "a funnel maintained by
    // streaming ticks equals a from-scratch batch rebuild"
    "stream_funnel_replay" -> ((s, dir) =>
      TextQueries.funnelAgg(funnelStreamReplay(s, dir))),

    // streaming TRAINING-EXPORT maintenance — the pipeline's
    // deliverable artifact (the batch training_export_audit) kept
    // fresh by ingest ticks. The funnel's final survivors — read from
    // the STREAMING-maintained funnel state, so two streaming stages
    // chain — arrive as three micro-batches; each foreachBatch tick
    // applies the per-doc export transforms (PII redaction, the
    // deterministic split label) and lands its rows as split×source
    // hive partitions under its own batchId-keyed overwrite. The
    // declared result re-reads the store from disk and re-derives the
    // census; the oracle is the SAME from-scratch census SQL as
    // training_export_census/audit, so green means a streaming-
    // maintained artifact reproduces the batch rebuild's census —
    // read-back discipline, not lineage
    "stream_export_replay" -> ((s, dir) =>
      exportStreamReplay(s, dir)
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy(col("split"), col("source"))),
  )

  /** Three survivor micro-batches through foreachBatch into the
    * split×source export store; returns the read-back store rows
    * (memoized). */
  private def exportStreamReplay(s: SparkSession, dir: String): DataFrame =
    SharedBuilds.of(s, dir, "stream-export") {
      exportStreamReplayCore(s, dir, reset = true).cut()
    }

  /** One full pass of the export-maintenance ticks (`reset` as in
    * `replay`). Every tick's rows are a pure function of its batch,
    * and each tick overwrites its own batchId-keyed partition tree, so
    * a re-delivery leaves the census unchanged. */
  private[graft] def exportStreamReplayCore(s: SparkSession, dir: String,
      reset: Boolean): DataFrame = {
    val staged = stage(s, dir, "export", {
      // survivors come from the streaming-maintained funnel thin frame,
      // with text + chars joined back for the export rows; the
      // keep-list is cap-bounded, so it broadcasts
      val kept = TextQueries.funnelFlags(funnelStreamReplay(s, dir))
        .filter(col("final_keep")).select(col("doc_id"))
      val survivors = documents(s, dir)
        .join(broadcast(kept), "doc_id")
        .select(col("doc_id"), col("n_chars"), col("text"), col("source"))
      (0 until 3).map(i => survivors.filter(col("doc_id") % 3 === i))
    })
    val store = buildPath(dir, "stream-export-store")
    replay(s, dir, "export", reset, store)(staged)(eachBatch { (batch, id) =>
      batch
        .withColumn("text",
          TextQueries.piiRedact(TextQueries.piiPlanted))
        .withColumn("split", TextOps.splitLabel(col("doc_id")))
        .select(col("doc_id"), col("n_chars"), col("text"),
          col("split"), col("source"))
        .write.mode("overwrite")
        .partitionBy("split", "source")
        .parquet(s"$store/batch=$id")
    })
    s.read.parquet(store)
  }

  /** Three micro-batches of the funnel store's snapshot-diff docs
    * through foreachBatch; returns the merged thin per-doc frame
    * (memoized). */
  private def funnelStreamReplay(s: SparkSession, dir: String): DataFrame =
    SharedBuilds.of(s, dir, "stream-funnel") {
      funnelStreamReplayCore(s, dir, reset = true).cut()
    }

  /** One full pass of the funnel ticks (`reset` as in `replay`). A
    * re-delivered batch sees LATER batches' state too, so its pairs
    * partition gains extra-but-legitimate pairs (already present in
    * the later batch's partition) — the MERGED funnel result is
    * invariant. */
  private[graft] def funnelStreamReplayCore(s: SparkSession, dir: String,
      reset: Boolean): DataFrame = {
      import graft.operators.Components
      val path = TextQueries.incrFunnelState(s, dir)
      val stateDir = s"$path.state"
      def state(n: String): DataFrame = s.read.parquet(s"$stateDir/$n")
      val evalSh = state("eval-shingles")
      val bits = typedLit(Dedup.bloomBitsOf(evalSh))
      val staged = stage(s, dir, "funnel", {
        val diff = TextQueries.readSnap(s, path, "1..2")
        (0 until 3).map(i => diff.filter(col("doc_id") % 3 === i))
      })
      val store = buildPath(dir, "stream-funnel-store")
      // appended-so-far reader: absent on the first tick → empty frame
      // with the state table's shape (batchId partition column dropped)
      def soFar(name: String, shapeOf: DataFrame): DataFrame = {
        val p = s"$store/$name"
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
          s.read.parquet(p).drop("batch")
        else shapeOf.limit(0)
      }
      replay(s, dir, "funnel", reset, store)(staged)(eachBatch { (batch0, id) =>
        val batch = batch0.cut()
        val hashedB = Dedup.shingled(batch).cut()
        val bandsB = Dedup.candidateBands(hashedB).cut()
        // bands seen BEFORE this batch: phase-A state + earlier ticks
        val stBands = state("bands")
          .unionByName(soFar("bands", state("bands")))
        // candidates: within-batch ∪ batch-vs-seen (id-normalized —
        // an earlier-batch doc may carry a LARGER id than this one)
        val cross = stBands
          .select(col("doc_id").as("x"), col("band"), col("band_hash"))
          .join(bandsB.select(col("doc_id").as("y"), col("band"), col("band_hash")),
            Seq("band", "band_hash"))
          .filter(col("x") =!= col("y"))
          .select(least(col("x"), col("y")).as("a"),
            greatest(col("x"), col("y")).as("b"))
        val cand = Dedup.candidatePairs(bandsB).unionByName(cross).distinct()
        val shAll = state("shingles")
          .unionByName(soFar("sh", state("shingles")))
          .unionByName(hashedB.select(col("doc_id"), col("sh")))
        // MATERIALIZED (an eager Cuts cut) BEFORE any store
        // write: on a re-delivered batch, the lazy pair plan reads
        // this batch's own previous partitions, which the land()
        // overwrites below would delete out from under it —
        // read-completely-before-overwrite is the idempotence
        // discipline
        val pairsB = Dedup.minhashNearDupsFrom(shAll, cand, 0.3)
          .select(col("a"), col("b")).cut()
        def land(df: DataFrame, name: String): Unit =
          df.write.mode("overwrite").parquet(s"$store/$name/batch=$id")
        land(bandsB, "bands")
        land(hashedB.select(col("doc_id"), col("sh")), "sh")
        land(batch.select(col("doc_id"),
          TextOps.md5Long(col("text")).as("ch")), "ch")
        land(TextQueries.funnelMetrics(batch), "metrics")
        land(TextQueries.contamIds(hashedB, bits, evalSh), "contam")
        land(pairsB, "pairs")
      })
      // merge-at-read, exactly the incremental funnel's phase-B shape
      def app(name: String, shapeOf: DataFrame) = soFar(name, shapeOf)
      val starEdges = state("components")
        .filter(col("node") =!= col("component"))
        .select(col("component").as("a"), col("node").as("b"))
      val compAll = Components
        .connectedComponents(starEdges.union(
          app("pairs", starEdges.limit(0))))
        .withColumnRenamed("node", "doc_id")
      val contamAll = state("contam")
        .union(app("contam", state("contam")))
        .distinct().withColumn("contaminated", lit(true))
      state("ch").union(app("ch", state("ch")))
        .join(compAll, Seq("doc_id"), "left")
        .join(broadcast(contamAll), Seq("doc_id"), "left")
        .join(state("metrics").union(app("metrics", state("metrics"))), "doc_id")
  }

  /** The three lineitem batches through foreachBatch, each overwriting
    * its own `batch=<id>` partition of the edge store with its
    * order-local edge increment; returns the PREPARED sum-merged graph
    * (memoized — the build-once/probe-many discipline). */
  private def graphStreamReplay(s: SparkSession, dir: String)
      : graft.operators.PageRank.Graph =
    SharedBuilds.of(s, dir, "stream-graph") {
      graft.operators.PageRank.prepare(
        graphStreamReplayCore(s, dir, reset = true))
    }

  /** One full pass over the three lineitem batches (`reset` as in
    * `replay`), returning the sum-merged edge frame. Every batch
    * OVERWRITES its own batchId-keyed partition, so a re-delivery
    * leaves the merged store byte-identical (no double-count). */
  private[graft] def graphStreamReplayCore(s: SparkSession, dir: String,
      reset: Boolean): DataFrame = {
    val store = buildPath(dir, "stream-graph-store")
    replay(s, dir, "graph", reset, store)(lineitemStreamInput(s, dir))(
      eachBatch { (batch, id) =>
        GraphQueries.edgesOf(batch)
          .write.mode("overwrite").parquet(s"$store/batch=$id")
      })
    s.read.parquet(store)
      .groupBy(col("src"), col("dst"))
      .agg(sum(col("w")).as("w"))
  }

  /** The streaming-maintained converged register store (memoized per
    * session/dir); returns the store path the serve-side census
    * reads. */
  private def reachStreamReplay(s: SparkSession, dir: String): String =
    SharedBuilds.of(s, dir, "stream-reach") {
      reachStreamReplayCore(s, dir, reset = true)
    }

  /** One full pass of the reach-maintenance ticks (`reset` as in
    * `replay`). A re-delivery re-converges already-converged state, so
    * the register store stays value-identical (the lattice idempotence
    * claimed above). The converge input is cut (materialized) before
    * the store overwrite, so the tick never reads the files it is
    * replacing. */
  private[graft] def reachStreamReplayCore(s: SparkSession, dir: String,
      reset: Boolean): String = {
    val edgeStore = buildPath(dir, "stream-reach-edges")
    val regStore = buildPath(dir, "stream-reach-regs")
    replay(s, dir, "reach", reset, edgeStore, regStore)(lineitemStreamInput(s, dir))(
      eachBatch { (batch, id) =>
        GraphQueries.edgesOf(batch)
          .write.mode("overwrite").parquet(s"$edgeStore/batch=$id")
        val bb = s.read.parquet(edgeStore)
          .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
          .filter(col("w") >= 2).select(col("src"), col("dst"))
        val nodes = bb.select(col("src").as("node")).distinct()
        val seed0 = graft.operators.HyperBall.registers0(nodes)
        val seed =
          if (!new java.io.File(regStore).exists()) seed0
          else seed0.unionByName(s.read.parquet(regStore))
            .groupBy(col("root"), col("b")).agg(max(col("r")).as("r"))
        graft.operators.HyperBall.converge(bb, seed, maxRounds = 64)
          .write.mode("overwrite").parquet(regStore)
      })
    regStore
  }

  /** The three lineitem batches through foreachBatch, each landing its
    * edge increment AND its gained-triangle count (vs the prefix
    * store) in batchId-keyed partitions; returns the (batch_id,
    * n_delta) count frame (memoized). */
  private def triangleStreamReplay(s: SparkSession, dir: String): DataFrame =
    SharedBuilds.of(s, dir, "stream-tri") {
      triangleStreamReplayCore(s, dir, reset = true).cut()
    }

  /** One full pass of the triangle-maintenance ticks (`reset` as in
    * `replay`). A re-delivered batch re-reads the SAME id-bounded
    * prefix, recomputes the SAME delta, and overwrites its own
    * partitions, so the count store is unchanged. */
  private[graft] def triangleStreamReplayCore(s: SparkSession, dir: String,
      reset: Boolean): DataFrame = {
    val store = buildPath(dir, "stream-tri-store")
    val counts = buildPath(dir, "stream-tri-counts")
    replay(s, dir, "tri", reset, store, counts)(lineitemStreamInput(s, dir))(
      eachBatch { (batch, id) =>
        val ss = batch.sparkSession
        // land the edge partition FIRST, with the batch's edge-row
        // census observed ON the write job (an Observation piggybacks
        // on the action — no separate count job), so the delta below
        // can size its closure-broadcast choice for free and read the
        // batch edges back columnar instead of re-running the
        // edge-derivation self-join
        val obs = org.apache.spark.sql.Observation()
        GraphQueries.edgesOf(batch)
          .select(col("src"), col("dst"))
          .observe(obs, count(lit(1)).as("n_edges"))
          .write.mode("overwrite").parquet(s"$store/batch=$id")
        val nBatchE = obs.get("n_edges").asInstanceOf[Long]
        val batchE = ss.read.parquet(s"$store/batch=$id")
          .select(col("src"), col("dst"))
        // prefix = batches strictly before this id (exists-filtered:
        // on re-delivery, later batches' partitions are on disk and
        // MUST stay out of this tick's view)
        val prefixPaths = (0L until id).map(k => s"$store/batch=$k")
          .filter(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
        val storedE =
          if (prefixPaths.isEmpty) batchE.limit(0)
          else ss.read.parquet(prefixPaths: _*)
            .select(col("src"), col("dst")).distinct()
        val newE = batchE.join(storedE, Seq("src", "dst"), "left_anti")
        val nDelta = graft.operators.Triangles.delta(storedE, newE, Some(nBatchE))
          .collect()(0).getLong(0) // 1-row head
        import ss.implicits._
        Seq((id, nDelta)).toDF("batch_id", "n_delta")
          .write.mode("overwrite").parquet(s"$counts/batch=$id")
      })
    s.read.parquet(counts).select(col("batch_id"), col("n_delta"))
  }

  /** Three document batches through foreachBatch, each OVERWRITING its
    * own `batch=<id>` partition of the classifier count store with its
    * train-side NB partial counts; returns the store path (memoized).
    * Counts are ADDITIVE (unlike HLL's idempotent max), so idempotence
    * under at-least-once delivery comes from the batchId-keyed
    * overwrite discipline — a retried batch rewrites identical bytes,
    * never re-adds. */
  private def nbStreamReplay(s: SparkSession, dir: String): String =
    SharedBuilds.of(s, dir, "stream-nb") {
      nbStreamReplayCore(s, dir, reset = true)
    }

  /** One full pass of the classifier-maintenance ticks (`reset` as in
    * `replay`). Every batch recomputes the SAME partial counts and
    * overwrites its own partition, so a re-delivery leaves the merged
    * counts unchanged (a naive append store would double-count). */
  private[graft] def nbStreamReplayCore(s: SparkSession, dir: String,
      reset: Boolean): String = {
    val staged = stage(s, dir, "nb", {
      val docs = documents(s, dir).select(col("doc_id"), col("source"), col("text"))
      val third = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) / 3 + 1
      (0 until 3).map(i =>
        docs.filter(col("doc_id") >= i * third && col("doc_id") < (i + 1) * third))
    })
    val store = buildPath(dir, "stream-nb-store")
    replay(s, dir, "nb", reset, store)(staged)(eachBatch { (batch, id) =>
      graft.operators.NaiveBayes.train(
          PipelineQueries.nbFeats(batch).filter(col("doc_id") % 2 === 0),
          col("doc_id") < 10)
        .write.mode("overwrite").parquet(s"$store/batch=$id")
    })
    store
  }

  /** Three event batches through foreachBatch, each appending its
    * per-batch max registers to the store parquet. */
  private def hllStreamReplay(s: SparkSession, dir: String): DataFrame =
    SharedBuilds.of(s, dir, "stream-hll") {
      val staged = stage(s, dir, "hll", {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        val third = ev.agg(max(col("event_id"))).collect()(0).getLong(0) / 3 + 1
        (0 until 3).map(i => ev.filter(col("event_id") >= i * third &&
          col("event_id") < (i + 1) * third))
      })
      val store = buildPath(dir, "stream-hll-store")
      replay(s, dir, "hll", reset = true, store)(staged)(eachBatch { (batch, _) =>
        EventQueries.hllRegisterRows(batch)
          .groupBy(col("event_type"), col("b"))
          .agg(max(col("rank")).as("r"))
          .write.mode("append").parquet(store)
      })
      s.read.parquet(store)
    }

  private def F = TextQueries.F

  override def oracle: Map[String, String] = Map(

    "stream_near_dup_replay" ->
      s"""WITH ${F.sigBndCtes},
         |cand AS (SELECT x.doc_id AS a, y.doc_id AS b, x.band
         |         FROM bnd x JOIN bnd y
         |           ON x.band = y.band AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id)
         |SELECT c.a, c.b, CAST(c.band AS BIGINT) AS band,
         |       round(CAST(len(list_filter(generate_series(1, ${Dedup.MinhashH}),
         |                     i -> sx.sig[i] = sy.sig[i])) AS DOUBLE) / ${Dedup.MinhashH}, 6) + 0.0 AS est_jaccard
         |FROM cand c JOIN sig sx ON c.a = sx.doc_id JOIN sig sy ON c.b = sy.doc_id
         |ORDER BY a, b, band""".stripMargin,

    "stream_sessions_replay" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id, epoch_ms(ts) AS ms,
        |         lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS ns
        |  FROM x),
        |s AS (
        |  SELECT user_id, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |s2 AS (SELECT user_id, sid, max(sid) OVER (PARTITION BY user_id) AS mx FROM s)
        |SELECT user_id, CAST(max(sid) AS BIGINT) AS n_sessions,
        |       CAST(sum(CASE WHEN sid = mx THEN 1 ELSE 0 END) AS BIGINT) AS last_session_events
        |FROM s2 GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the batch events_hourly oracle, restricted to windows the final
    // watermark (max event time − 2 h) finalized before the stream
    // stopped — the deterministic emitted set of a bounded Append run
    "stream_hourly_replay" ->
      """WITH b AS (SELECT date_trunc('hour', ts) AS hs, value FROM events)
        |SELECT strftime(hs, '%Y-%m-%d %H:%M:%S') AS hour,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM b
        |GROUP BY hs
        |HAVING hs + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events) - INTERVAL 2 HOUR
        |ORDER BY hour""".stripMargin,

    "stream_click_attr_replay" ->
      """SELECT c.user_id AS user_id, p.event_id AS purchase_id,
        |       c.event_id AS click_id,
        |       CAST(epoch_ms(p.ts) - epoch_ms(c.ts) AS BIGINT) AS gap_ms
        |FROM events c JOIN events p ON c.user_id = p.user_id
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND c.ts < p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
        |ORDER BY c.user_id, purchase_id, click_id""".stripMargin,

    "stream_decontam_replay" ->
      s"""${TextQueries.bloomScreenCtes}
         |SELECT d.doc_id, (d.doc_id IN (SELECT doc_id FROM cand)) AS maybe_contaminated
         |FROM documents d WHERE d.doc_id >= 10 ORDER BY doc_id""".stripMargin,

    // first-arrival-wins within the watermark horizon, replayed from
    // scratch: rebuild the injected-duplicate input at relative minute
    // timestamps (boundary and expiry math are shift-invariant), split
    // at the same 1/3 and 2/3 event-time order statistics, emit the
    // earliest row per hash per batch, drop any later arrival whose
    // hash is in state, and evict state only at END of batch (Spark's
    // observed semantics): a batch-1 entry is gone for batch 3 iff
    // first_ts + delay < b1max − delay (the watermark current while
    // batch 2 ran). delay = 2415 s, off minute-grid, so no comparison
    // can tie (see XdDelaySec).
    "stream_exact_dedup_replay" ->
      s"""WITH docs AS (SELECT doc_id, text FROM documents),
         |base AS (
         |  SELECT doc_id, doc_id AS minute, text FROM docs
         |  UNION ALL SELECT doc_id + 10000, doc_id + 400, text FROM docs WHERE doc_id < 25
         |  UNION ALL SELECT doc_id + 10000, doc_id + 30, text FROM docs WHERE doc_id >= 40 AND doc_id < 65
         |  UNION ALL SELECT doc_id + 10000, doc_id + 310, text FROM docs WHERE doc_id >= 100 AND doc_id < 125),
         |r AS (SELECT doc_id, minute * 60000 AS ms, ${F.md5L("text")} AS ch FROM base),
         |bnd AS (SELECT
         |    (SELECT max(ms) FROM (SELECT ms FROM r ORDER BY ms LIMIT (SELECT count(*) // 3 FROM r))) AS q1,
         |    (SELECT max(ms) FROM (SELECT ms FROM r ORDER BY ms LIMIT (SELECT 2 * count(*) // 3 FROM r))) AS q2),
         |b1 AS (SELECT r.* FROM r, bnd WHERE ms <= q1),
         |b2 AS (SELECT r.* FROM r, bnd WHERE ms > q1 AND ms <= q2),
         |b3 AS (SELECT r.* FROM r, bnd WHERE ms > q2),
         |w1 AS (SELECT ch, min_by(doc_id, ms) AS doc_id, min(ms) AS ms FROM b1 GROUP BY ch),
         |w2 AS (SELECT ch, min_by(doc_id, ms) AS doc_id, min(ms) AS ms FROM b2 GROUP BY ch
         |       HAVING ch NOT IN (SELECT ch FROM w1)),
         |wmb2 AS (SELECT max(ms) - ${XdDelaySec * 1000} AS wm FROM b1),
         |surv AS (SELECT w1.ch FROM w1, wmb2 WHERE w1.ms + ${XdDelaySec * 1000} >= wmb2.wm
         |         UNION ALL SELECT ch FROM w2),
         |w3 AS (SELECT ch, min_by(doc_id, ms) AS doc_id, min(ms) AS ms FROM b3 GROUP BY ch
         |       HAVING ch NOT IN (SELECT ch FROM surv)),
         |e AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3)
         |SELECT ch, CAST(count(*) AS BIGINT) AS n_emits,
         |       CAST(min_by(doc_id, ms) AS BIGINT) AS first_doc,
         |       CAST(max_by(doc_id, ms) AS BIGINT) AS last_doc
         |FROM e GROUP BY ch ORDER BY ch""".stripMargin,

    // shared with lsh_append_audit / lsh_compact_audit: the streaming
    // append path must land the identical store content
    "stream_index_append_replay" -> IndexQueries.lshMaintenanceOracle,

    // the max-merged streaming registers must finish to the identical
    // estimate — one formula, one oracle (the batch twin's)
    "stream_hll_replay" -> EventQueries.oracle("events_hll_distinct"),

    // the maintained count table must score EXACTLY like a
    // from-scratch train: the oracle is nb_quality_score's full
    // train+score replay verbatim (one formula, two replays — the
    // stream_hll_replay precedent)
    "stream_nb_replay" -> PipelineQueries.oracle("nb_quality_score"),

    // the maintained register store must census EXACTLY like the
    // from-scratch converged build: the oracle is
    // reach_converged_census's connected-reach replay verbatim
    "stream_reach_replay" -> GraphQueries.reachConvergedSql,

    // the full from-scratch edge build + PageRank replay: green means
    // the streaming-maintained edge store ranks identically to a
    // batch rebuild (shared with pagerank_copurchase by design)
    "stream_graph_replay" -> GraphQueries.pagerankFullSql,

    // the from-scratch export census IS the oracle for the streaming-
    // maintained artifact (the training_export_audit convention):
    // green == ticks ≡ rebuild through the deliverable on disk
    "stream_export_replay" -> TextQueries.exportCensusOracleSql,

    // every PREFIX graph recounted from scratch with the naive wedge
    // shape — each streamed tick's delta and running total must match
    // a full rebuild at that point in time, independent of both the
    // incremental path and the degree-ordered algorithm it rides
    "stream_triangle_replay" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |op0 AS (SELECT * FROM op WHERE l_orderkey % 3 = 0),
        |op1 AS (SELECT * FROM op WHERE l_orderkey % 3 <= 1),
        |e0 AS (SELECT a.l_partkey AS src, b.l_partkey AS dst FROM op0 a JOIN op0 b
        |       ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey GROUP BY 1, 2),
        |e1 AS (SELECT a.l_partkey AS src, b.l_partkey AS dst FROM op1 a JOIN op1 b
        |       ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey GROUP BY 1, 2),
        |e2 AS (SELECT a.l_partkey AS src, b.l_partkey AS dst FROM op a JOIN op b
        |       ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey GROUP BY 1, 2),
        |t0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e0 ab
        |       JOIN e0 bc ON ab.dst = bc.src
        |       JOIN e0 ac ON ac.src = ab.src AND ac.dst = bc.dst),
        |t1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e1 ab
        |       JOIN e1 bc ON ab.dst = bc.src
        |       JOIN e1 ac ON ac.src = ab.src AND ac.dst = bc.dst),
        |t2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e2 ab
        |       JOIN e2 bc ON ab.dst = bc.src
        |       JOIN e2 ac ON ac.src = ab.src AND ac.dst = bc.dst)
        |SELECT CAST(0 AS BIGINT) AS batch_id, t0.n AS n_delta, t0.n AS n_cum FROM t0
        |UNION ALL SELECT 1, t1.n - t0.n, t1.n FROM t0, t1
        |UNION ALL SELECT 2, t2.n - t1.n, t2.n FROM t1, t2
        |ORDER BY batch_id""".stripMargin,

    // the FULL-corpus funnel replay (shared with curation_funnel and
    // incremental_funnel): green == streaming ticks ≡ batch rebuild
    "stream_funnel_replay" -> TextQueries.funnelOracleSql,
  )
}
