package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.operators.Dedup
import graft.queries.Tables
import graft.streaming.EventStreams

/** Spark-side cross-checks for the bounded streaming replays (the
  * DuckDB oracle is the second, independent pin): each replay's sink
  * must equal the batch formulation of the same operator computed with
  * ordinary DataFrame code. */
class StreamReplaySpec extends SparkSpec {

  test("stream_hll_replay equals the batch estimate; register appends are idempotent") {
    import org.apache.spark.sql.functions._
    val batch = graft.queries.EventQueries.queries("events_hll_distinct")(spark, sfDir)
      .collect().map(_.toSeq)
    val stream = graft.queries.StreamQueries.queries("stream_hll_replay")(spark, sfDir)
      .collect().map(_.toSeq)
    assert(stream.toSeq == batch.toSeq,
      "max-merged streaming registers must finish to the batch estimate")
    // idempotence: duplicating every partial register row (an
    // at-least-once redelivery) changes no max, so the estimate is
    // unchanged — the property that makes this state shape retry-safe
    val ev = graft.queries.Tables.events(spark, sfDir)
    val partials = spark.read.parquet(
      graft.queries.Tables.buildPath(sfDir, "stream-hll-store"))
    val doubled = partials.union(partials)
      .groupBy(col("event_type"), col("b")).agg(max(col("r")).as("r"))
    val est = graft.queries.EventQueries.hllFinish(doubled,
      graft.queries.EventQueries.hllRegisterRows(ev)).collect().map(_.toSeq)
    assert(est.toSeq == batch.toSeq, "doubled partials must not move the estimate")
  }

  test("stream_near_dup_replay equals the batch banded-candidate twin") {
    val res = SparkEntry.queries("stream_near_dup_replay")(spark, sfDir).collect()
    val streamed = res.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
      r.getDouble(3)).toMap
    assert(streamed.nonEmpty, "vacuous: the replay emitted no candidate pairs")

    val toks = TextOps.tokens(col("text"))
    val sig = Tables.documents(spark, sfDir).select(col("doc_id"),
      TextOps.minhashSignature(
        TextOps.shingleHashes(TextOps.shingles(toks, Dedup.ShingleN)),
        Dedup.MinhashH).as("sig"))
    val bnd = sig
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(Dedup.Bands - 1))).as("band"))
      .select(col("doc_id"), col("sig"), col("band"),
        TextOps.bandHash(col("sig"), col("band"), Dedup.Rows).as("bh"))
    val x = bnd.select(col("doc_id").as("a"), col("sig").as("sa"), col("band"), col("bh"))
    val y = bnd.select(col("doc_id").as("b"), col("sig").as("sb"), col("band"), col("bh"))
    val batch = x.join(y, Seq("band", "bh")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("band").cast("long").as("band"),
        (aggregate(zip_with(col("sa"), col("sb"),
            (p, q) => when(p === q, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / Dedup.MinhashH).as("est"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        r.getDouble(3)).toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (k, v) =>
      assert(math.abs(v - batch(k)) < 1e-6, s"est_jaccard drift at $k")
    }
  }

  test("stream_sessions_replay equals the batch gap analysis") {
    val res = SparkEntry.queries("stream_sessions_replay")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(res.nonEmpty)

    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sess = Tables.events(spark, sfDir)
      .withColumn("prev", lag(unix_millis(col("ts")), 1).over(w))
      .withColumn("ns", when(col("prev").isNull ||
        unix_millis(col("ts")) - col("prev") > EventStreams.SessionGapMs, 1L)
        .otherwise(0L))
      .withColumn("sid", sum(col("ns")).over(w))
      .withColumn("mx", max(col("sid")).over(Window.partitionBy(col("user_id"))))
    val batch = sess.groupBy(col("user_id"))
      .agg(max(col("sid")).as("n_sessions"),
        sum(when(col("sid") === col("mx"), 1L).otherwise(0L)).as("last_session_events"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(res === batch)
  }

  test("stream_hourly_replay equals the batch hourly agg under the watermark cutoff") {
    val res = SparkEntry.queries("stream_hourly_replay")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(res.nonEmpty, "vacuous: no window was finalized")
    val ev = Tables.events(spark, sfDir)
    val cut = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime - 2 * 3600 * 1000L
    val batch = ev
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,4)")).cast("double").as("tv"))
      .filter(unix_millis(col("w.end")) <= cut)
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"), col("n"), col("tv"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(res === batch)
    // and the cutoff really bit: some late windows exist and are absent
    assert(ev.groupBy(window(col("ts"), "1 hour")).count().count() > batch.size)
  }

  test("stream_click_attr_replay equals the batch interval join") {
    val res = SparkEntry.queries("stream_click_attr_replay")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(res.nonEmpty, "vacuous: no click→purchase pair inside 30 min")
    val ev = Tables.events(spark, sfDir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"), col("event_id").as("click_id"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("event_id").as("purchase_id"))
    val batch = c.join(p, Seq("user_id"))
      .filter(col("cts") < col("pts") &&
        col("cts") >= col("pts") - expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        (unix_millis(col("pts")) - unix_millis(col("cts"))).as("gap_ms"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(res === batch)
  }

  test("checkpoint restart: a killed-and-resumed stream produces the one-shot sink") {
    // exactly-once across a process "restart": run the exact-dup
    // screen over file 1 only, stop, drop in file 2, start a FRESH
    // query object on the SAME checkpoint — the resumed query must
    // process only the unseen file, and the combined sink must equal
    // a single uninterrupted run over both files
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.DedupStream
    val base = java.nio.file.Files.createTempDirectory("restart").toString
    val in = s"$base/in"; val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val docs = Tables.documents(spark, sfDir).limit(100)
      .select(col("doc_id"),
        timestamp_micros((lit(1704067200L) + col("doc_id") * 60L) * 1000000L).as("ts"),
        col("text"))
    def drop(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$base/tmp-$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(in, s"$name.parquet"))
    }
    def runOnce(): Unit = {
      val q = DedupStream.dropExactDuplicates(
          spark.readStream.schema(docs.schema).parquet(in))
        .select(col("doc_id"), col("content_hash"))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drop(docs.filter(col("doc_id") < 50), "00-first")
    runOnce() // phase 1: first file only, then the query object dies
    val afterPhase1 = spark.read.parquet(sink).count()
    drop(docs.filter(col("doc_id") >= 50), "01-second")
    runOnce() // phase 2: fresh query, same checkpoint — resumes
    // WHICH doc survives a dedup group is order-dependent, so compare
    // hash MULTISETS: uniqueness proves exactly-once (a reprocessed
    // file 1 would emit its hashes twice), set equality proves the
    // resume covered file 2
    val resumedHashes = spark.read.parquet(sink)
      .collect().map(_.getLong(1)).toSeq
    assert(afterPhase1 > 0 && resumedHashes.size > afterPhase1.toInt,
      "phase 2 added nothing — the resume never processed file 2")
    assert(resumedHashes.distinct.size === resumedHashes.size,
      "a hash appeared twice — the restart reprocessed already-committed data")
    // one-shot reference run over the same two files, fresh state
    val sink2 = s"$base/sink2"; val ckpt2 = s"$base/ckpt2"
    val q2 = DedupStream.dropExactDuplicates(
        spark.readStream.schema(docs.schema).parquet(in))
      .select(col("doc_id"), col("content_hash"))
      .writeStream.format("parquet")
      .option("path", sink2).option("checkpointLocation", ckpt2)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val oneShot = spark.read.parquet(sink2).collect().map(_.getLong(1)).toSet
    assert(resumedHashes.toSet === oneShot)
  }

  test("stream_exact_dedup_replay equals the batch horizon twin, all cohorts live") {
    val res = SparkEntry.queries("stream_exact_dedup_replay")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(res.nonEmpty)

    // batch twin of first-arrival-wins with end-of-batch eviction:
    // same injected cohorts, same 1/3–2/3 splits, same horizon rule
    // (keep the cohort geometry in sync with exactDedupReplaySink)
    val delayMs = 2415L * 1000
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    def cohort(lo: Long, hi: Long, off: Long) =
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .select((col("doc_id") + 10000L).as("doc_id"),
          (col("doc_id") + off).as("minute"), col("text"))
    val all = docs.select(col("doc_id"), col("doc_id").as("minute"), col("text"))
      .unionByName(cohort(0, 25, 400))
      .unionByName(cohort(40, 65, 30))
      .unionByName(cohort(100, 125, 310))
      .select(col("doc_id"), (col("minute") * 60000L).as("ms"),
        TextOps.md5Long(col("text")).as("ch"))
    val cnt = all.count()
    def kth(k: Long): Long = all.orderBy(col("ms")).limit(k.toInt.max(1))
      .agg(max(col("ms"))).collect()(0).getLong(0)
    val (q1, q2) = (kth(cnt / 3), kth(2 * cnt / 3))
    def winners(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("ch")).agg(min_by(col("doc_id"), col("ms")).as("doc_id"),
        min(col("ms")).as("ms"))
    val b1 = all.filter(col("ms") <= q1)
    val w1 = winners(b1)
    val w2 = winners(all.filter(col("ms") > q1 && col("ms") <= q2))
      .join(w1.select(col("ch")), Seq("ch"), "left_anti")
    val wmB2 = b1.agg(max(col("ms"))).collect()(0).getLong(0) - delayMs
    val surv = w1.filter(col("ms") + delayMs >= wmB2).select(col("ch"))
      .unionByName(w2.select(col("ch")))
    val w3 = winners(all.filter(col("ms") > q2))
      .join(surv, Seq("ch"), "left_anti")
    val batch = w1.unionByName(w2).unionByName(w3)
      .groupBy(col("ch"))
      .agg(count(lit(1)).as("n_emits"),
        min_by(col("doc_id"), col("ms")).as("first_doc"),
        max_by(col("doc_id"), col("ms")).as("last_doc"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(res === batch)

    // all three cohorts actually exercised at this scale: horizon
    // re-emissions exist (A), and every emitted hash count is 1 or 2
    val reEmitted = res.values.count(_._1 == 2L)
    assert(reEmitted > 0, "vacuous: no horizon-expiry re-emission")
    assert(res.values.forall(v => v._1 == 1L || v._1 == 2L))
    // suppressed-across-batches (B) and dropped-in-batch (C) cohorts:
    // their duplicates exist in the input but never reached the sink
    val chOf = all.select(col("doc_id"), col("ch")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (100L until 125L).foreach { id =>
      assert(res(chOf(id)) === ((1L, id, id)), s"B-cohort dupe of $id leaked")
    }
    (40L until 65L).foreach { id =>
      assert(res(chOf(id)) === ((1L, id, id)), s"C-cohort dupe of $id leaked")
    }
  }

  test("stream_graph_replay: a full re-delivery (at-least-once) does not double-count") {
    // pass 1: fresh store; pass 2: same inputs and store, checkpoint
    // cleared — AvailableNow redelivers every batch, and each must
    // OVERWRITE its own batchId partition (the idempotence claim the
    // replay's docstring makes). Merged edge content must be
    // byte-identical, with no row-count inflation.
    val first = graft.queries.StreamQueries
      .graphStreamReplayCore(spark, sfDir, reset = true)
      .collect().map(_.toSeq).toSet
    val second = graft.queries.StreamQueries
      .graphStreamReplayCore(spark, sfDir, reset = false)
      .collect().map(_.toSeq).toSet
    assert(first.nonEmpty)
    assert(second == first, "re-delivered batches must rewrite, not re-append")
  }

  test("stream_reach_replay: re-delivery from APPLIED state lands on the same fixed point") {
    // pass 1: fresh stores; pass 2: same inputs, edge AND register
    // stores already applied, checkpoint cleared — every re-delivered
    // tick re-converges already-converged state (the lattice
    // idempotence claim: monotone max-merge from any intermediate
    // state reaches the same fixed point), so the register store must
    // be value-identical, not just census-identical.
    val store1 = graft.queries.StreamQueries
      .reachStreamReplayCore(spark, sfDir, reset = true)
    val first = spark.read.parquet(store1)
      .collect().map(_.toSeq).toSet
    val store2 = graft.queries.StreamQueries
      .reachStreamReplayCore(spark, sfDir, reset = false)
    val second = spark.read.parquet(store2)
      .collect().map(_.toSeq).toSet
    assert(first.nonEmpty)
    assert(second == first, "re-converged register store must be identical")
  }

  test("stream_nb_replay: a full re-delivery leaves the merged count table invariant") {
    // NB counts are ADDITIVE (unlike HLL's idempotent max), so
    // at-least-once delivery would double-count under a naive append
    // store; each tick must OVERWRITE its own batchId partition. Two
    // full passes (second with checkpoint cleared, store kept) must
    // merge to identical counts — and those counts must equal a
    // from-scratch train over the whole corpus (the sum-merge ≡
    // rebuild claim the oracle also checks end-to-end).
    def merged(reset: Boolean): Map[Long, (Long, Long)] = {
      val store = graft.queries.StreamQueries
        .nbStreamReplayCore(spark, sfDir, reset)
      spark.read.parquet(store)
        .groupBy(col("f"))
        .agg(sum(col("n_p")).as("n_p"), sum(col("n_n")).as("n_n"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    val first = merged(reset = true)
    val second = merged(reset = false)
    assert(first.nonEmpty)
    assert(second == first, "re-delivered ticks must rewrite, not re-add")
    val scratch = graft.operators.NaiveBayes.train(
        graft.queries.PipelineQueries
          .nbFeats(Tables.documents(spark, sfDir))
          .filter(col("doc_id") % 2 === 0),
        col("doc_id") < 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(first == scratch, "sum-merged partials must equal a from-scratch train")
  }

  test("stream_triangle_replay: a full re-delivery recomputes identical deltas") {
    // each tick's delta is a pure function of (its batch, the
    // id-bounded PREFIX store) — re-delivery sees later batches'
    // partitions on disk, but the prefix read filters by id, so every
    // tick recomputes the same count and overwrites in place
    val first = graft.queries.StreamQueries
      .triangleStreamReplayCore(spark, sfDir, reset = true)
      .collect().map(_.toSeq).toSet
    val second = graft.queries.StreamQueries
      .triangleStreamReplayCore(spark, sfDir, reset = false)
      .collect().map(_.toSeq).toSet
    assert(first.size == 3)
    assert(second == first, "re-delivered ticks must recompute the same deltas")
  }

  test("stream_funnel_replay: a full re-delivery leaves the merged funnel invariant") {
    // subtler than the graph case: a re-delivered batch now sees LATER
    // batches' state, so its pairs partition gains extra pairs — but
    // every one is a legitimate qualifying pair already present in the
    // later batch's partition, and the component merge is set-based,
    // so the MERGED census must not move.
    def census(reset: Boolean) = graft.queries.TextQueries.funnelAgg(
      graft.queries.StreamQueries.funnelStreamReplayCore(spark, sfDir, reset))
      .collect().map(_.toSeq).toSeq
    val first = census(reset = true)
    val second = census(reset = false)
    assert(first.nonEmpty && first.head.head.asInstanceOf[Long] > 0L)
    assert(second == first, "re-delivery must not change the funnel census")
  }

  test("stream_export_replay: a full re-delivery leaves the export census invariant") {
    // every tick's rows are a pure function of its batch and each tick
    // overwrites its own batchId-keyed partition tree, so a second
    // full delivery must rewrite identical content — the census over
    // the re-read store cannot move, and it must match the batch
    // export artifact's census (training_export_audit's shape)
    def census(reset: Boolean) = graft.queries.StreamQueries
      .exportStreamReplayCore(spark, sfDir, reset)
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"))
      .orderBy(col("split"), col("source"))
      .collect().map(_.toSeq).toSeq
    val first = census(reset = true)
    val second = census(reset = false)
    assert(first.nonEmpty, "the export store must hold survivors")
    assert(second == first, "re-delivery must not change the export census")
    val batchCensus = SparkEntry.queries("training_export_audit")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(first == batchCensus,
      "streaming-maintained export must equal the batch artifact's census")
  }

  test("stage + replay: part i is micro-batch i, and a reset = false pass re-delivers all") {
    // the shared replay protocol: staged parts arrive one file per
    // batch in staging (mtime) order, and clearing only the checkpoint
    // re-delivers every batch from the start
    import graft.queries.StreamQueries.{replay, stage}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val staged = stage(spark, sfDir, "contract",
      (0 until 3).map(i => Seq(i * 10L).toDF("v")))
    def pass(reset: Boolean): Seq[(Long, Long)] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
      replay(spark, sfDir, "contract", reset)(staged)(_.writeStream.foreachBatch {
        (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.collect().foreach(r => seen.add(id -> r.getLong(0))); ()
      })
      seen.asScala.toSeq
    }
    val expected = Seq(0L -> 0L, 1L -> 10L, 2L -> 20L)
    assert(pass(reset = true) == expected, "parts must arrive one per batch, in order")
    assert(pass(reset = false) == expected, "a cleared checkpoint must re-deliver every part")
  }

  test("stream_index_append_replay: every vector lands once, in its full-corpus bucket") {
    val audit = SparkEntry.queries("stream_index_append_replay")(spark, sfDir).collect()
    val (lsh, half, emb) = graft.queries.IndexQueries.dataPlanesLsh(spark, sfDir)
    assert(audit.head.getAs[Long]("n_base") == half)
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select(col("vec_id").cast("long"), col("bucket").cast("long")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val store = pairs(spark.read.parquet(Tables.buildPath(sfDir, "stream-lsh-store")))
    assert(half > 0 && store.size > half, "vacuous: nothing was appended")
    assert(store.map(_._1).distinct.size == store.size, "a vec_id landed twice")
    assert(store.toSet == pairs(lsh.index(emb)).toSet,
      "the streamed store must equal a from-scratch index of the whole corpus")
  }

  test("stream_decontam_replay has no false negatives vs the exact overlap join") {
    val flags = SparkEntry.queries("stream_decontam_replay")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flags.nonEmpty && flags.keys.forall(_ >= 10))

    // exact contaminated set: corpus docs sharing >= 1 shingle hash
    // with the eval split (doc_id < 10) — the Bloom screen must flag
    // every one of them (superset invariant; false positives allowed)
    val toks = TextOps.tokens(col("text"))
    val hashed = Tables.documents(spark, sfDir).select(col("doc_id"),
      array_distinct(TextOps.shingleHashes(
        TextOps.shingles(toks, Dedup.ShingleN))).as("shh"))
    val evalH = hashed.filter(col("doc_id") < 10)
      .select(explode(col("shh")).as("h")).distinct()
    val exact = hashed.filter(col("doc_id") >= 10)
      .select(col("doc_id"), explode(col("shh")).as("h"))
      .join(broadcast(evalH), "h").select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(exact.nonEmpty, "vacuous: no actually-contaminated docs at this scale")
    exact.foreach(id => assert(flags(id), s"false negative: doc $id unflagged"))
  }
}
