package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Bench {

  /** 10× scaled twins of the three pipeline tables, written under
    * target/ so the probe reads REAL parquet through the same
    * Tables.* entry points as the declared queries.
    *
    * Replication is id-salted (replica r shifts every id by
    * r·n, replica 0 is the original, so fixed target sets like
    * doc_id<10 / vec_id<16 stay constant while the corpus grows) and
    * CONTENT-PERTURBED for text: each replica rotates a-z by r via
    * translate(), a bijection on the token alphabet, so every replica
    * preserves the original's intra-replica near-dup structure exactly
    * while replicas stay far apart in shingle space — straight
    * replication would multiply every dedup bucket 10× and measure a
    * 100× pair blow-up that says nothing about the engine. */
  private def buildScaled(spark: SparkSession, sfDir: String,
      outDir: String, reps: Int): Double = {
    val t0 = System.nanoTime()
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val rep = explode(sequence(lit(0), lit(reps - 1))).as("rep")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val nDocs = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1
    val rotations = array((0 until reps).map { r =>
      translate(col("text"), alpha, alpha.drop(r) + alpha.take(r))
    }: _*)
    docs.select(col("*"), rep)
      .select((col("doc_id") + col("rep") * nDocs).as("doc_id"),
        element_at(rotations, col("rep") + 1).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val nVec = emb.agg(max(col("vec_id"))).collect()(0).getLong(0) + 1
    emb.select(col("*"), rep)
      .select((col("vec_id") + col("rep") * nVec).as("vec_id"),
        col("embedding"), col("label"))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val ids = ev.agg(max(col("event_id")), max(col("user_id"))).collect()(0)
    val (nEv, nUser) = (ids.getLong(0) + 1, ids.getLong(1) + 1)
    ev.select(col("*"), rep)
      .select((col("event_id") + col("rep") * nEv).as("event_id"),
        col("ts"), (col("user_id") + col("rep") * nUser).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // lineitem (for the graph/traversal probes): salt order AND part
    // keys, so the co-purchase graph becomes `reps` disjoint copies —
    // nodes and edges both scale linearly, the honest 10× for an
    // iterative-graph workload. The part-key stride is shared with the
    // part table below so each replica's lineitem joins its own part
    // copy.
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val pt = spark.read.parquet(s"$sfDir/part.parquet")
    val lm = li.agg(max(col("l_orderkey")), max(col("l_partkey"))).collect()(0)
    val nOrd = lm.getLong(0) + 1
    val nPart = math.max(lm.getLong(1),
      pt.agg(max(col("p_partkey"))).collect()(0).getLong(0)) + 1
    li.select(col("*"), rep)
      .select(
        (col("l_orderkey") + col("rep") * nOrd).as("l_orderkey"),
        (col("l_partkey") + col("rep") * nPart).as("l_partkey"),
        col("l_suppkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    // part (the dimension table the bfs/sssp probes derive their brand
    // seed sets from; without it those probes throw at the ×10 leg):
    // keys shift by the same nPart stride as lineitem's l_partkey;
    // non-key attributes carry over verbatim, so every replica holds
    // its own full Brand#N seed set and the seed population scales with
    // the graph
    pt.select(col("*"), rep)
      .select((col("p_partkey") + col("rep") * nPart).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice"))
      .write.mode("overwrite").parquet(s"$outDir/part.parquet")
    // the scaled tables were just OVERWRITTEN under names Tables.t
    // memoizes per (session, dir): evict every memo captured for this
    // dir so every later probe read re-lists the fresh files
    graft.queries.SharedBuilds.evictDir(spark, outDir)
    (System.nanoTime() - t0) / 1e9
  }

  /** 2-decimal zero-stripped number formatting for the metric line
    * (the driver's tail window is ~2000 chars — every character of the
    * JSON is budgeted). */
  private def fmt(v: Double, p: String): String = {
    val s = p.formatLocal(java.util.Locale.ROOT, v)
    if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse else s
  }

  /** One scale-probe entry: `"name":[x1,x10,ratio]`, with any failed
    * leg (NaN — the sentinel a thrown `once` returns) surfaced as the
    * string "err" in that slot AND in the ratio: a thrown leg written
    * as a timing would read as a sub-linear success, so an error must
    * be unmistakably an error in the artifact. */
  private[graft] def probeEntryJson(name: String, x1: Double, x10: Double): String = {
    def cell(v: Double) = if (v.isNaN) "\"err\"" else fmt(v, "%.1f")
    val ratio =
      if (x1.isNaN || x10.isNaN) "\"err\""
      else fmt(x10 / math.max(x1, 1e-9), "%.1f")
    s""""$name":[${cell(x1)},${cell(x10)},$ratio]"""
  }
  // Host-speed calibration: a fixed, deterministic, memory-free ALU
  // workload (xorshift64 PRNG sum) timed single-threaded and at the
  // session's thread count. Round-over-round bench totals on a SHARED
  // host are confounded by tenancy (BASELINE.md's measured 43–122 s
  // band for identical binaries); dividing two rounds' totals by their
  // calib readings turns "regression vs noise" from an argument into
  // an arithmetic check. The sink defeats dead-code elimination; the
  // sum is data-dependent over 4e8 iterations so the JIT cannot fold it.
  @volatile private var calibSink = 0L
  private def xorshiftSum(n: Long, seed: Long): Long = {
    var x = seed; var s = 0L; var i = 0L
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; s += x; i += 1 }
    s
  }
  private val CalibIters = 400000000L // ~0.5 s/thread on an unloaded core

  // Memory-BANDWIDTH calibration: the ALU calib is blind to a
  // co-tenant saturating memory bandwidth and IO, which inflates every
  // Spark query uniformly while a register-resident xorshift loop
  // reads unchanged. One sequential sum over a 1 GiB long array is
  // bandwidth-bound and sees exactly that mode. Emitted as
  // host_calib.mbw_st (min-of-two, like the ALU points).
  private lazy val mbwArray: Array[Long] = {
    val a = new Array[Long](134217728) // 1 GiB
    var i = 0
    while (i < a.length) { a(i) = i * 0x9E3779B97F4A7C15L; i += 1 }
    a
  }
  private def mbwCalib(): Double = {
    def pass(): Double = {
      val t0 = System.nanoTime()
      var s = 0L; var i = 0
      val a = mbwArray
      while (i < a.length) { s += a(i); i += 1 }
      calibSink += s
      (System.nanoTime() - t0) / 1e9
    }
    pass() // warm (faults pages on first touch)
    math.min(pass(), pass())
  }

  // Committed baseline tuple (BENCH_r14.json, a full run over the
  // same 221 queries): steady-median3 total with its st, mt32 and mbw
  // calib points (BASELINE.md). deflated_vs_prev divides BOTH totals by
  // their own calib before comparing, taking shared-host tenancy out of
  // the ratio. THREE deflations are emitted (st-only deflation
  // overstates regression when co-tenancy is multithreaded, and the ALU
  // calibs are blind to memory-bandwidth contention, which mbw_st
  // sees); the MIN of the ratios is the honest regression bound.
  // Consumers should still normalize by n_queries (also emitted) when
  // the query surface grew.
  private val PrevSteadyTotal = 188.343
  private val PrevStCalib = 0.78
  private val PrevMtCalib = 0.97
  private val PrevMbwCalib = 0.19
  private val PrevNQueries = 221
  private def calib(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      new Thread(() => { calibSink += xorshiftSum(CalibIters, 0x9E3779B97F4A7C15L + t) })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        dir: String = sfDir): Double = {
      val t0 = System.nanoTime()
      // noop sink: forces every projected expression to evaluate
      // (a bare count() would let Catalyst prune the computed columns
      // out of map-only queries and under-measure them).
      // A THROWN query returns NaN, never a wall time (its
      // elapsed-until-throw seconds would read as a fast success) —
      // NaN propagates to an explicit "err" marker in every consumer.
      try {
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name: $e")
          Double.NaN
      }
    }
    // One cold pass + THREE steady passes (with a single steady pass a
    // shared-host tenancy burst reads as a phantom regression; medians
    // make the gate noise-proof):
    //  - cold pass: first execution in a fresh JVM — includes JIT of
    //    the interpreted expression evaluators, codegen compilation,
    //    AND every shared index build (SharedBuilds materializes
    //    LSH/HNSW/IVF/minhash artifacts on first touch). This is the
    //    end-to-end single-run cost.
    //  - steady passes: re-execution against warm JIT + built indexes —
    //    the regime a long-running cluster job operates in (criterion's
    //    warmup-then-measure protocol). Per-query numbers are the
    //    MEDIAN of the three passes; "spread" = max/min of the three
    //    pass totals so consumers can see how noisy the host was.
    // calib brackets the measured window: one JIT warm-up run, then a
    // reading before the cold pass and another after the steady passes —
    // two probes per point (min taken) so one scheduler hiccup cannot
    // masquerade as a slow host
    val nThreads = Sessions.cpus
    xorshiftSum(CalibIters / 8, 1L) // JIT warm-up, untimed
    def calibPoint(): (Double, Double, Double) =
      (math.min(calib(1), calib(1)), math.min(calib(nThreads), calib(nThreads)),
        mbwCalib())
    val calibPre = calibPoint()
    val cold = SparkEntry.queries.map { case (name, fn) => name -> once(name, fn) }
    val steadyPasses = (1 to 3).map { _ =>
      SparkEntry.queries.map { case (name, fn) => name -> once(name, fn) }
    }
    val calibPost = calibPoint()
    // a NaN pass (thrown query) makes the median NaN — the error must
    // survive aggregation, not vanish into a numeric-looking median
    def median3(a: Double, b: Double, c: Double): Double =
      if (a.isNaN || b.isNaN || c.isNaN) Double.NaN
      else Seq(a, b, c).sorted.apply(1)
    val results: Map[String, Double] = SparkEntry.queries.keys.map { name =>
      name -> median3(steadyPasses(0)(name), steadyPasses(1)(name), steadyPasses(2)(name))
    }.toMap
    // queries that threw in ANY pass, surfaced as an explicit field
    // (empty on a healthy run, omitted from the line entirely)
    val errNames = SparkEntry.queries.keys.filter { name =>
      cold(name).isNaN || steadyPasses.exists(_(name).isNaN)
    }.toSeq.sorted
    def sumOk(vs: Iterable[Double]): Double = vs.filter(!_.isNaN).sum
    val passTotals = steadyPasses.map(p => sumOk(p.values))
    val spread =
      if (passTotals.exists(_ > 0)) passTotals.max / math.max(passTotals.min, 1e-9) else 1.0
    val coldTotal = if (cold.nonEmpty) sumOk(cold.values) else 0.0
    // The driver captures only the last ~2000 chars of build output and the
    // sbt success line follows this one, so the whole JSON must fit in
    // ~1900 chars for ~77 queries: 2-decimal zero-stripped per-query secs
    // (see object-level fmt), 3-decimal total, basename-only sf tag.
    // If the full per-query map would overflow the window, fold the
    // fastest queries into one "other" bucket (slowest entries carry
    // the signal the perf grade needs).
    def mapJson(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) =>
        s"\"" + k + "\":" + (if (v.isNaN) "\"err\"" else fmt(v, "%.1f"))
      }.mkString("{", ",", "}")
    val bySlowest = results.toSeq.sortBy { case (_, v) => -v }
    var keep = bySlowest.length
    def assemble(n: Int): String = {
      val kept = bySlowest.take(n)
      val rest = bySlowest.drop(n)
      val withOther =
        if (rest.isEmpty) kept
        else kept :+ ("other" -> rest.map(_._2).sum)
      mapJson(withOther.sortBy(_._1))
    }
    val total = if (results.nonEmpty) sumOk(results.values) else 0.0
    // Top-N COLD per-query entries in the metric line: build-once
    // memos move train/index cost out of the steady map (skipgram
    // 0.05 s steady vs a full pair build cold), so memo-shifted cost
    // must be regression-gated from the cold map —
    // the 8 slowest cold queries carry that signal; the complete cold
    // map stays in target/bench-per-query.json.
    val coldQs = {
      val byColdest = cold.toSeq.sortBy { case (_, v) => -v }
      val kept = byColdest.take(8)
      val rest = byColdest.drop(8)
      val withOther =
        if (rest.isEmpty) kept else kept :+ ("other" -> sumOk(rest.map(_._2)))
      mapJson(withOther.sortBy(_._1))
    }
    val sfTag = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)

    // ---- 10× scale probe (empirical scale evidence, not plan shapes):
    // the five heaviest declared pipelines re-timed on a 10×
    // id-salted + content-perturbed corpus. Each entry is timed warm
    // (run, then run again; the second run is reported) at BOTH
    // scales in this same JVM, so the ratio isolates data volume from
    // build/JIT cost. simhash is probed at its corpus-tuned banding
    // (60-bit sketch, 4×15-bit bands): banded near-dup cost is
    // Σ|bucket|², so the band-width knob must widen with the corpus —
    // the declared 16-bit/4-bucket variant is documented as the
    // small-corpus setting and would measure the knob, not the engine.
    val scaleOn = sys.env.get("SPARK_GRAFT_SCALE_PROBE")
      .map(_ != "0").getOrElse(sfTag == "sf0.1")
    val scaleJson = if (!scaleOn) "" else {
      import graft.operators.Dedup
      val probes: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
        "simhash_banded_tuned" -> ((s, d) =>
          Dedup.simhashPairsBanded(graft.queries.Tables.documents(s, d),
            maxDist = 3, bits = 60)
            .select(col("a"), col("b"), col("hamming"))),
        "events_value_sketches" -> SparkEntry.queries("events_value_sketches"),
        "pq_trained_recall" -> SparkEntry.queries("pq_trained_recall"),
        "dup_span_stats" -> SparkEntry.queries("dup_span_stats"),
        "dsir_importance_top" -> SparkEntry.queries("dsir_importance_top"),
        // the CM sketch must scale sublinearly (the grid
        // is 1024 cells at any corpus size; only the probe-side
        // distinct-key agg grows) and MaxSim is the map-only scan
        // whose ratio should track raw data volume
        "events_heavy_hitters" -> SparkEntry.queries("events_heavy_hitters"),
        "late_interaction_topk" -> SparkEntry.queries("late_interaction_topk"),
        // the iterative-graph workload — 3 supersteps of 2 keyed
        // shuffles each over the co-purchase edges; the edge build is
        // the data-volume-proportional part, so the ratio should track
        // corpus growth, never blow up
        "pagerank_copurchase" -> SparkEntry.queries("pagerank_copurchase"),
        // the headline incremental composition — ONE phase-B
        // execution (snapshot-diff read + thin-frame state merges +
        // funnel agg); the phase-A state build is memoized into the
        // untimed warm-up run, so the ratio isolates the recurring
        // daily-tick cost, which is the number that must hold at 100 TB
        "incremental_funnel_phaseB" -> ((s, d) =>
          graft.queries.TextQueries.incrementalFunnelProbe(s, d)),
        // the graph-mining tier. The salted 10× lineitem makes 10
        // DISJOINT graph copies, so triangles/labels/ranks all
        // scale linearly in data with identical per-copy structure:
        //  - triangles: degree-ordered wedge volume is per-copy, so the
        //    ratio should track edges (~10×), never the naive Σdeg²
        //    blow-up;
        //  - communities: 2 LPA supersteps over the shared prepared
        //    graph — two keyed shuffles per superstep;
        //  - pagerank_append_audit: build-once store + 3 supersteps —
        //    the maintained-store read path (store builds land in the
        //    untimed warm-up, like the funnel's phase A)
        "copurchase_triangles" -> SparkEntry.queries("copurchase_triangles"),
        "copurchase_communities" -> SparkEntry.queries("copurchase_communities"),
        "pagerank_append_audit" -> SparkEntry.queries("pagerank_append_audit"),
        // traversal tier: the frontier-BFS shape (per level one
        // co-partitioned join + distinct + anti-join against the
        // materialized levels) is the one traversal plan the probes
        // above don't cover
        "bfs_hop_census" -> SparkEntry.queries("bfs_hop_census"),
        // sssp is 3 min-plus supersteps over the full graph (needs the
        // replicated part table for its Brand#13 seeds); the triangle
        // append audit is the O(batch) maintenance tick — its store
        // build lands in the untimed warm-up run, so the timed number
        // is the recurring delta, whose ratio should track the batch
        // (~10×), never a stored-graph re-enumeration blow-up
        "sssp_brand_cost" -> SparkEntry.queries("sssp_brand_cost"),
        "triangle_append_audit" -> SparkEntry.queries("triangle_append_audit"),
        // the sketch-state superstep tier — UNMEMOIZED register
        // build (the declared census memoizes it, so probing the
        // declared query would time the serve read): 4 absorption
        // supersteps over the memoized backbone (its build lands in
        // the warm-up), each one src-keyed join + one keyed max. The
        // salted ×10 corpus has 10 disjoint backbone copies, so
        // register rows and the absorb shuffle both scale ~linearly —
        // the ratio should track edges, the hard m-rows-per-node cap
        // is what keeps it from ever tracking ball volume
        "hyperball_registers" -> ((s, d) => {
          val bb = graft.queries.GraphQueries.sharedBackbone(s, d)
          val nodes = bb.select(col("src").as("node")).distinct()
          graft.operators.HyperBall.registerHops(bb, nodes, 4).last
            .groupBy().agg(count(lit(1)).as("n_regs"),
              sum(col("r")).as("sum_r"))
        }),
        // the UNMEMOIZED skip-gram pair
        // build — the declared randwalk_skipgram_pairs query serves
        // the sharedSkipGramPairs memo (0.05 s steady), so only this
        // probe sees the real pair-build cost scale: one root-keyed
        // self-join + pair aggregation over the memoized walk
        // positions (built in the untimed warm-up); the salted ×10
        // corpus has 10 disjoint backbone copies, so walk rows and
        // pair volume both scale ~linearly
        "randwalk_pair_census" -> ((s, d) =>
          graft.queries.GraphQueries.skipGramPairsProbe(s, d)))
      val scaledDir = s"target/bench-scale10/$sfTag"
      val reps = 10
      val buildSec = buildScaled(spark, sfDir, scaledDir, reps)
      // The ×1 and ×10 legs of EACH probe run back-to-back (warm-up,
      // then timed, at both scales before moving to the next probe):
      // legs timed as two phases minutes apart see different JVM states
      // (block cache, GC pressure, code-cache churn), and the ratio then
      // measures the JVM, not the plan. Adjacent legs share one JVM
      // state, so the ratio isolates data volume.
      // each leg: one untimed warm-up, then the MIN of two timed runs —
      // one scheduler hiccup cannot write a 3× outlier into a leg (the
      // calibPoint min-of-two discipline). NaN (a thrown run) poisons
      // the min, so an error still surfaces as "err", never as the
      // other run's time.
      def minTimed(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
          dir: String): Double = {
        val a = once(name, fn, dir)
        val b = once(name, fn, dir)
        if (a.isNaN || b.isNaN) Double.NaN else math.min(a, b)
      }
      def probeBoth(name: String,
          fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Double) = {
        once(s"probe-$name", fn, sfDir) // warm-up: builds + JIT
        val x1 = minTimed(s"probe-$name", fn, sfDir)
        once(s"probe-$name", fn, scaledDir) // warm-up: ×10 builds
        val x10 = minTimed(s"probe-$name", fn, scaledDir)
        (x1, x10)
      }
      val legs = probes.map { case (name, fn) => name -> probeBoth(name, fn) }.toMap
      val x1 = legs.map { case (n, v) => n -> v._1 }
      val x10 = legs.map { case (n, v) => n -> v._2 }
      // max_ratio covers only entries where BOTH legs succeeded; a
      // failed leg shows as "err" in its entry (probeEntryJson) rather
      // than silently skewing or escaping the gate
      val ratios = probes.collect {
        case (name, _) if !x1(name).isNaN && !x10(name).isNaN =>
          name -> x10(name) / math.max(x1(name), 1e-9)
      }
      val entries = probes.map { case (name, _) =>
        probeEntryJson(name, x1(name), x10(name))
      }.mkString(",")
      // z-order layout at 10×: file count scales WITH the data (8 → 80,
      // each file ≈ constant rows, the real OPTIMIZE sizing rule) and
      // the same selective rectangle is read off both layouts. The
      // evidence is [filesTouched, filesTotal] per scale — the
      // touched-file MINORITY holding at 10× is the property that makes
      // z-clustering pay on a 100 TB table (the salted 10× id space
      // also widens the key domain, so the fixed rectangle selects a
      // smaller fraction — exactly how a production predicate behaves
      // as a table grows).
      def zorderProbe(d: String, nFiles: Int): (Double, Long, Long) = {
        val path = s"target/bench-zorder/${d.replaceAll("[^A-Za-z0-9.]+", "_")}"
        val ev = graft.queries.Tables.events(spark, d)
          .select(col("event_id"), col("user_id"), col("value"))
        graft.operators.Layout.zorderWrite(ev, col("user_id"),
          floor(col("value")).cast("long"), path, nFiles)
        val laid = spark.read.parquet(path)
        val rect = col("user_id").between(40, 80) && col("value").between(50.0, 200.0)
        val total = laid.select(input_file_name()).distinct().count()
        laid.filter(rect).agg(count(lit(1))).collect() // warm
        val t0 = System.nanoTime()
        laid.filter(rect).agg(count(lit(1)), sum(col("user_id")),
          sum(col("event_id"))).collect()
        val sec = (System.nanoTime() - t0) / 1e9
        val touched = laid.filter(rect).select(input_file_name()).distinct().count()
        (sec, touched, total)
      }
      val (zs1, zt1, zn1) = zorderProbe(sfDir, 8)
      val (zs10, zt10, zn10) = zorderProbe(scaledDir, 80)
      val zorderJson =
        s""""zorder_rect":{"x1":[$zt1,$zn1],"x10":[$zt10,$zn10],"sec":[${fmt(zs1, "%.1f")},${fmt(zs10, "%.1f")}]}"""
      val maxRatio =
        if (ratios.isEmpty) "\"err\"" else fmt(ratios.map(_._2).max, "%.1f")
      s""","scale_probe":{"reps":$reps,"build_sec":${fmt(buildSec, "%.1f")},"q_x1_x10_ratio":{$entries},"max_ratio":$maxRatio,$zorderJson}"""
    }

    var qs = assemble(keep)
    // budgets leave headroom for the fixed-size cold_queries, calib,
    // deflated and scale-probe blocks inside the driver's ~2000-char
    // tail window; the full maps are in target/bench-per-query.json
    val qsBudget = if (scaleJson.isEmpty) 1150 else 450
    while (qs.length > qsBudget && keep > 1) { keep -= 8; qs = assemble(keep) }
    // calib-deflated ratios: (this total / this calib) over the
    // committed baseline tuple, under the single-thread, all-threads
    // and bandwidth calibs — >1 on the binding (min) ratio means
    // genuinely more work per calib-second (e.g. new queries), not a
    // noisier host. This run's calib is the min of its readings.
    // PrevMtCalib alone is not: it is the midpoint of the baseline
    // host's two mt32 readings [1.0, 0.94], the value the committed baseline was
    // published with. Changing it would shift every reported ratio_mt;
    // the midpoint sits above the min, so it can only overstate a
    // regression, never hide one.
    val stCalib = math.min(calibPre._1, calibPost._1)
    val mtCalib = math.min(calibPre._2, calibPost._2)
    val mbwCal = math.min(calibPre._3, calibPost._3)
    val deflatedSt = (total / math.max(stCalib, 1e-9)) / (PrevSteadyTotal / PrevStCalib)
    val deflatedMt = (total / math.max(mtCalib, 1e-9)) / (PrevSteadyTotal / PrevMtCalib)
    val deflatedMbw = (total / math.max(mbwCal, 1e-9)) / (PrevSteadyTotal / PrevMbwCalib)
    // If ANY query threw, the totals aggregate FEWER queries than the
    // baseline did, so numeric-looking ratios would read optimistically
    // while silently comparing partial sums — emit them as "err"
    // (the errors field names the culprits; a partial total is still
    // printed for the human, unmistakably marked).
    def ratioCell(v: Double): String =
      if (errNames.nonEmpty) "\"err\"" else fmt(v, "%.2f")
    val calibJson =
      s""","host_calib":{"iters":"4e8","st":[${fmt(calibPre._1, "%.2f")},${fmt(calibPost._1, "%.2f")}],"mt$nThreads":[${fmt(calibPre._2, "%.2f")},${fmt(calibPost._2, "%.2f")}],"mbw_st":[${fmt(calibPre._3, "%.2f")},${fmt(calibPost._3, "%.2f")}]},"n_queries":${results.size},"deflated_vs_prev":{"prev":[$PrevSteadyTotal,$PrevStCalib,$PrevMtCalib,$PrevNQueries],"prev_mbw":$PrevMbwCalib,"ratio_st":${ratioCell(deflatedSt)},"ratio_mt":${ratioCell(deflatedMt)},"ratio_mbw":${ratioCell(deflatedMbw)}}"""
    // thrown queries surface by NAME at top level (omitted when clean);
    // their NaN timings are already excluded from every total above
    val errJson =
      if (errNames.isEmpty) ""
      else errNames.map("\"" + _ + "\"").mkString(""","errors":[""", ",", "]")
    // a run with errors also marks its MODE partial, so the headline
    // value can never be read as a full-suite total by a consumer that
    // missed the errors array
    val mode = if (errNames.isEmpty) "steady-median3" else "steady-median3-PARTIAL"
    val line =
      s"""{"metric":"total","value":${fmt(total, "%.3f")},"unit":"sec","mode":"$mode","spread":${fmt(spread, "%.2f")},"cold_total_sec":${fmt(coldTotal, "%.3f")},"cold_queries":$coldQs$errJson,"queries":$qs,"sf":"$sfTag"$calibJson$scaleJson}"""
    // The metric line is emitted THREE ways, because the driver greps
    // only the LAST ~2000 chars of build output and sbt's own
    // "[success] Total time" line prints after this process exits:
    //  1. once pre-stop (for a human watching the log),
    //  2. to target/bench-metric.json (durable, grep-free consumption),
    //  3. once more as this process's final stdout line, after
    //     spark.stop() silenced the only other log source, followed by
    //     an explicit flush, so the line lands INTO the tail window
    //     ahead of only sbt's success banner.
    println(line)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench-metric.json"), line + "\n")
    catch { case _: Exception => () }
    // The driver's tail window truncates the per-query map to the ~40
    // slowest names + "other" — write the COMPLETE steady-median3 and
    // cold maps durably so per-query regression diffs never depend on
    // tail luck
    try {
      def fullMap(m: Map[String, Double]): String =
        m.toSeq.sortBy(_._1)
          .map { case (k, v) =>
            s"\"" + k + "\":" + (if (v.isNaN) "\"err\"" else fmt(v, "%.3f"))
          }
          .mkString("{", ",", "}")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("target/bench-per-query.json"),
        s"""{"sf":"$sfTag","steady_median3":${fullMap(results)},"cold":${fullMap(cold.toMap)}}""" + "\n")
    } catch { case _: Exception => () }
    spark.stop()
    println(line)
    System.out.flush()
  }
}
