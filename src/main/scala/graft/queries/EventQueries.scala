package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextOps

/** Event-stream analytics over the `events` table, batch-first (the
  * identical expressions re-bind to readStream for the streaming path in
  * graft.streaming): tumbling time windows, sessionization via lag-gap
  * windows, JSON property extraction, running cumulative windows.
  *
  * Time arithmetic uses epoch milliseconds (exact longs both engines);
  * money-ish `value` sums go through DECIMAL(18,4) like the relational
  * suite.
  */
object EventQueries extends QueryRegistry {
  import Tables._

  private val Dec = "decimal(18,4)"
  private val SessionGapMs = 1800000L // 30 min

  /** Each user's events in time order, event id breaking ties. */
  private val byUserTime = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))

  /** `ev` with `new_session` = 1 on each user's first event and after
    * every >30-min silence, else 0. */
  private def sessionFlags(ev: DataFrame): DataFrame = ev
    .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(byUserTime))
    .withColumn("new_session",
      when(col("prev_ms").isNull ||
        unix_millis(col("ts")) - col("prev_ms") > SessionGapMs, 1L).otherwise(0L))

  /** The session number of each event of [[sessionFlags]]: the running
    * count of session starts, per user. */
  private val sessionId = sum(col("new_session")).over(
    byUserTime.rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** `ev` (event_type, event_id, value) with `rnk`, the 1-based rank of
    * each event by (value, event_id) within its type, and `n`, the
    * type's count. */
  private def rankedByValue(ev: DataFrame): DataFrame = {
    val n = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    ev.withColumn("rnk", row_number().over(
      Window.partitionBy(col("event_type"))
        .orderBy(col("value").asc, col("event_id").asc)))
      .join(broadcast(n), Seq("event_type"))
  }

  /** The discrete q-quantile of [[rankedByValue]] rows (percentile_disc:
    * the value whose rank is ceil(q·n)), as an aggregate. */
  private def pick(q: Double, alias: String) =
    max(when(col("rnk") === ceil(lit(q) * col("n")).cast("long"),
      col("value"))).as(alias)

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // tumbling 1-hour windows (batch window(); streaming reuses it)
    "events_hourly" -> ((s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(Dec)).cast("double").as("total_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("n_events"), col("total_value"))
        .orderBy(col("hour"))),

    // linear multi-touch attribution: every click/view by the same
    // user in the 24 h before a purchase shares that conversion's
    // credit equally. Credit is EXACT ppm fixed-point (1e6 per
    // conversion): each touch gets 1e6 div n and the LAST touch
    // (latest ts, event_id tiebreak) absorbs the truncation remainder,
    // so credit conserves to exactly 1e6 × attributed conversions and
    // long sums keep both engines bit-identical — float 1/n shares
    // would drift with aggregation order. Shapes: one user-keyed join
    // (pairs bounded by per-user activity × the 24 h window) + one
    // conversion-keyed window + one type-keyed rollup.
    "multitouch_attribution" -> ((s, dir) => {
      val ev = events(s, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"), col("ts").as("pts"))
      val t = ev.filter(col("event_type").isin("click", "view"))
        .select(col("event_id").as("tid"), col("user_id"),
          col("ts").as("tts"), col("event_type").as("touch_type"))
      val j = p.join(t, "user_id")
        .filter(col("tts") < col("pts") &&
          col("tts") >= col("pts") - expr("INTERVAL 24 HOURS"))
      val byConv = Window.partitionBy(col("pid"))
      val lastFirst = Window.partitionBy(col("pid"))
        .orderBy(col("tts").desc, col("tid").desc)
      j.withColumn("n", count(lit(1)).over(byConv))
        .withColumn("rn", row_number().over(lastFirst))
        .withColumn("credit",
          when(col("rn") === 1,
            lit(1000000L) - (col("n") - 1L) * expr("1000000 div n"))
            .otherwise(expr("1000000 div n")))
        .groupBy(col("touch_type"))
        .agg(count(lit(1)).as("n_touches"),
          sum(col("credit")).as("credit_ppm"),
          countDistinct(col("pid")).as("n_conversions"))
        .orderBy(col("touch_type"))
    }),

    // integer-exact volume anomaly detection: a day is anomalous for a
    // type when its event count x deviates from the type's daily mean
    // by more than 3 population sigmas — tested WITHOUT floats via the
    // cross-multiplied form (n·x − S)² > 9·(n·Q − S²) over exact long
    // sums (S = Σx, Q = Σx²), so both engines agree bit-for-bit where
    // a float sigma could flip on the last ulp. Two keyed shuffles
    // ((type,day) count, then type rollup) + one broadcast-sized join
    // back. At a 100 TB event store the daily-count frame this runs on
    // is already tiny (types × days); long arithmetic holds to ~3e9
    // events/day — past that the same inequality runs in DECIMAL.
    "events_volume_anomalies" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("x"))
      val st = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
          sum(col("x") * col("x")).as("q"))
      val flag = (col("n") * col("x") - col("s")) *
        (col("n") * col("x") - col("s")) >
        lit(9L) * (col("n") * col("q") - col("s") * col("s"))
      daily.join(st, "event_type")
        .groupBy(col("event_type"), col("n").as("n_days"), col("s").as("total"))
        .agg(sum(when(flag, 1L).otherwise(0L)).as("n_anomalous"),
          coalesce(max(when(flag, col("x"))), lit(0L)).as("max_anomalous_cnt"))
        .orderBy(col("event_type"))
    }),

    // strict-ORDER 4-step funnel (signup → view → click → purchase):
    // each step's timestamp is the user's FIRST occurrence strictly
    // after the previous step — the ordered-progression census behind
    // activation dashboards (the 2-step funnel_conversion generalized;
    // order-insensitive co-occurrence would overcount). Four user-keyed
    // aggs chained by three user-keyed joins; exact timestamps, exact
    // counts, one conversion ratio as an IEEE-exact division.
    "events_funnel_steps" -> ((s, dir) => {
      val ev = events(s, dir)
      def firstAfter(typ: String, prev: DataFrame, prevCol: String, out: String) =
        ev.filter(col("event_type") === typ)
          .join(prev, "user_id")
          .filter(col("ts") > col(prevCol))
          .groupBy(col("user_id")).agg(min(col("ts")).as(out))
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val s2 = firstAfter("view", s1, "t1", "t2")
      val s3 = firstAfter("click", s2, "t2", "t3")
      val s4 = firstAfter("purchase", s3, "t3", "t4")
      def cnt(df: DataFrame, alias: String) = df.agg(count(lit(1)).as(alias))
      cnt(s1, "n_signup").crossJoin(cnt(s2, "n_viewed"))
        .crossJoin(cnt(s3, "n_clicked")).crossJoin(cnt(s4, "n_purchased"))
        .withColumn("full_funnel_rate",
          // empty-corpus pin: 0/0 is IEEE NaN in Spark
          // but engine-dependent in SQL — an empty funnel reports 0.0
          when(col("n_signup") === 0L, lit(0.0)).otherwise(
            round(col("n_purchased").cast("double") / col("n_signup"), 6) + 0.0))
    }),

    // time-boxed conversion: of users who signed up, how many made
    // their FIRST post-signup purchase within 1 / 7 / 30 days — the
    // "D7 activation" census every growth dashboard tracks (the
    // unbounded funnel above says IF users convert; this says how
    // FAST). Exact epoch-ms long arithmetic end to end; the one
    // double is the final rounded D7 rate (empty-corpus pinned 0.0)
    "events_conversion_windows" -> ((s, dir) => {
      val ev = events(s, dir)
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(unix_millis(col("ts"))).as("t1"))
      val fp = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_millis(col("ts")).as("tp"))
        .join(s1, "user_id").filter(col("tp") > col("t1"))
        .groupBy(col("user_id"), col("t1")).agg(min(col("tp")).as("tp"))
      def within(days: Int) = coalesce(
        sum(when(col("tp") - col("t1") <= days * 86400000L, 1L).otherwise(0L)),
        lit(0L)).cast("long")
      s1.agg(count(lit(1)).cast("long").as("n_signup"))
        .crossJoin(fp.agg(within(1).as("n_conv_1d"), within(7).as("n_conv_7d"),
          within(30).as("n_conv_30d"))) // 1-row × 1-row stapler
        .withColumn("d7_rate",
          when(col("n_signup") === 0L, lit(0.0)).otherwise(
            round(col("n_conv_7d").cast("double") / col("n_signup"), 6) + 0.0))
    }),

    // fixed-width histogram quantile sketch: per event type, value
    // cents land in 1024 equal-width bins between the observed min and
    // max, and p50/p90/p99 are read off the cumulative counts as the
    // lower edge of the first bin reaching ceil(q·n/100) — the
    // bounded-state quantile shape (state = 1024 longs per type no
    // matter the corpus size; t-digest/KLL are the float-fuzzy cousins,
    // this one is INTEGER-EXACT so DuckDB replays it bit-for-bit).
    // The APPROXIMATE tier next to events_value_quantiles' exact
    // rank-window picks — same contrast as HLL vs countDistinct: the
    // exact twin sorts the whole frame per type, this one never holds
    // more than the bin grid (GraphMiningSpec pins the one-bin-width
    // error bound against the exact quantiles).
    // Two passes: a min/max/count agg, then the binned histogram;
    // both map-side combine. The cum≥q·n test cross-multiplies
    // (cum·100 ≥ n·q) to stay in longs
    "events_quantile_sketch" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_type"),
        floor(col("value") * 100).cast("long").as("c"))
      val st = ev.groupBy(col("event_type")).agg(
        min(col("c")).as("minc"), max(col("c")).as("maxc"),
        count(lit(1)).as("n"))
      val binned = ev.join(broadcast(st), "event_type")
        .withColumn("bin", expr("((c - minc) * 1024) div (maxc - minc + 1)"))
        .groupBy(col("event_type"), col("bin")).agg(count(lit(1)).as("cnt"))
      val wc = Window.partitionBy(col("event_type")).orderBy(col("bin"))
      val cum = binned.withColumn("cum", sum(col("cnt")).over(wc))
        .join(broadcast(st), "event_type")
      def qEdge(q: Int) = min(when(col("cum") * 100 >= col("n") * q,
        expr("minc + (bin * (maxc - minc + 1)) div 1024"))).as(s"p${q}_cents")
      cum.groupBy(col("event_type"))
        .agg(first(col("n")).cast("long").as("n_events"),
          first(col("minc")).as("min_cents"), first(col("maxc")).as("max_cents"),
          qEdge(50), qEdge(90), qEdge(99))
        .orderBy(col("event_type"))
    }),

    // recency-weighted popularity with POWER-OF-TWO decay (half-life =
    // 1 day): each event contributes value_cents >> age_days, so the
    // decayed sum is exact integer arithmetic — the trending score a
    // feed ranker keeps, without the float pow() that would drift in
    // the last ulp across engines (the fixed-point doctrine applied to
    // exponential decay). Age anchors at the corpus max timestamp (a
    // 1-row head; an EMPTY corpus anchors at 0 and yields the empty
    // aggregate instead of NPE-ing on the null max); shift capped at
    // 62 so old NON-NEGATIVE cents contribute exactly 0 instead of a
    // poisoned shift (arithmetic shiftright of a negative long floors
    // at -1, not 0 — value is a price-like non-negative in this
    // corpus; a corpus with refunds would clamp cents at 0 first)
    "events_decayed_popularity" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_type"),
        unix_millis(col("ts")).as("ms"),
        floor(col("value") * 100).cast("long").as("cents"))
      val maxRow = ev.agg(max(col("ms"))).collect()(0)
      val maxMs = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
      ev.withColumn("age_d",
          least(expr(s"(${maxMs}L - ms) div 86400000L"), lit(62L)))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents")).as("raw_cents"),
          sum(expr("shiftright(cents, cast(age_d as int))")).as("decayed_cents"))
        .orderBy(col("event_type"))
    }),

    // behavioral path trigrams: the 15 most common 3-step event-type
    // sequences across user timelines — the n-gram census behind
    // "what do users do next" flow analysis. One user-keyed window
    // (total order: ts, event_id — the sessionization sort reused),
    // two leads, one count shuffle over a bounded (types³) key space
    "events_path_trigrams" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("s2", lead(col("event_type"), 1).over(w))
        .withColumn("s3", lead(col("event_type"), 2).over(w))
        .filter(col("s2").isNotNull && col("s3").isNotNull)
        .groupBy(col("event_type").as("s1"), col("s2"), col("s3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("s1").asc, col("s2").asc, col("s3").asc)
        .limit(15)
    }),

    // per-type stats
    "events_type_stats" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(Dec)).cast("double").as("total_value"))
        .orderBy(col("event_type"))),

    // sessionization: a >30-min silence starts a new session
    "events_user_sessions" -> ((s, dir) =>
      sessionFlags(events(s, dir))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))),

    // JSON props extraction: histogram of k mod 10. One from_json with
    // an explicit schema — get_json_object re-parses the document on
    // every access, so a query touching p fields pays p parses per row;
    // from_json parses once into a struct that whole-stage codegen then
    // field-accesses for free
    "events_props_hist" -> ((s, dir) =>
      events(s, dir)
        .select(from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k LONG")).as("p"))
        .select((col("p.k") % 10).as("k_mod"))
        .groupBy(col("k_mod"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("k_mod"))),

    // session-window aggregation: events grouped into lag-gap sessions,
    // value attributed per session (the batch twin of the streaming
    // session state in graft.streaming.EventStreams)
    "events_session_values" -> ((s, dir) =>
      sessionFlags(events(s, dir))
        .withColumn("session_id", sessionId)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(Dec)).cast("double").as("session_value"))
        .filter(col("user_id") < 3)
        .orderBy(col("user_id"), col("session_id"))),

    // pivot: event counts per user across the 5 fixed event types
    "events_type_pivot" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id"))),

    // exact distinct cardinality per type (shuffles the distinct pairs,
    // the exact twin of the sketch query below)
    "events_distinct_users" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy(col("event_type"))),

    // sketch ops: HLL++ distinct + approx percentiles — the single-pass
    // mergeable-summary shapes a 100 TB profile job uses instead of
    // exact distinct/percentile. Sketch INTERNALS are implementation-
    // defined, so the declared columns are error-bound BOOLEANS: the
    // estimate must land within tolerance of the exact statistic
    // computed in the same pass, and the oracle pins the booleans
    // all-true (plus the genuinely-exact n_events) — a drifting or
    // broken sketch flips a row to false and hash-mismatches. The
    // exact twins are independently oracle-pinned by
    // `events_distinct_users` / `lang_char_quantiles`.
    "events_value_sketches" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          approx_count_distinct(col("user_id"), rsd = 0.02).as("au"),
          countDistinct(col("user_id")).as("eu"),
          expr("approx_percentile(value, array(0.5, 0.9), 1000)").as("ap"),
          expr("percentile(value, array(0.5, 0.9))").as("ep"))
        .select(col("event_type"), col("n_events"),
          (abs(col("au") - col("eu")) <= col("eu") * 0.05)
            .as("users_within_5pct"),
          (abs(element_at(col("ap"), 1) - element_at(col("ep"), 1))
            <= greatest(abs(element_at(col("ep"), 1)) * 0.05, lit(1e-6)))
            .as("p50_within_5pct"),
          (abs(element_at(col("ap"), 2) - element_at(col("ep"), 2))
            <= greatest(abs(element_at(col("ep"), 2)) * 0.05, lit(1e-6)))
            .as("p90_within_5pct"))
        .orderBy(col("event_type"))),

    // salted join on the maximally-skewed event_type key (5 values):
    // the small side replicates per salt bucket, each hot key spreads
    // across reducers; result equals the plain join the oracle runs
    "salted_type_join" -> ((s, dir) => {
      import s.implicits._
      val weights = Seq(("click", 1.0), ("view", 0.5), ("purchase", 10.0),
        ("signup", 5.0), ("error", 0.0)).toDF("event_type", "weight")
      graft.operators.SkewTools.saltedJoin(
        events(s, dir).select(col("event_type"), col("value")),
        weights, Seq("event_type"), saltBuckets = 16)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          // decimal-first: cast the INPUTS, multiply exactly (scale
          // 4+1), never cast a double product (engines disagree on
          // half-way cases — see graft-oracle-portability)
          sum(col("value").cast(Dec) * col("weight").cast("decimal(4,1)"))
            .cast("double").as("weighted_value"))
        .orderBy(col("event_type"))
    }),

    // RANGE-frame moving average: corpus-wide daily counts smoothed
    // over a 4-day [day-3, day] window keyed on a numeric day index
    // (RANGE, not ROWS: calendar gaps widen the frame correctly)
    "events_moving_avg" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .as("day_idx"))
        .agg(count(lit(1)).as("n_events"))
      val w = Window.orderBy(col("day_idx")).rangeBetween(-3, 0)
      daily
        .withColumn("avg_4d", round(avg(col("n_events")).over(w), 6))
        .select(col("day_idx").cast("long").as("day_idx"),
          col("n_events"), col("avg_4d"))
        .orderBy(col("day_idx"))
    }),

    // daily counts with a running cumulative window per user (first 5 users)
    "events_user_running" -> ((s, dir) => {
      val daily = events(s, dir)
        .filter(col("user_id") < 5)
        .groupBy(col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("daily_events"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.withColumn("running_events", sum(col("daily_events")).over(w))
        .orderBy(col("user_id"), col("day"))
    }),

    // count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005,
    // public formula): a 4×256 counter grid — each event increments
    // one bucket per hash row, estimate = min over the 4 rows — then
    // the top-10 user_ids by CM estimate, with the exact count twin
    // and the sketch's one-sided guarantee (est ≥ exact) as a pinned
    // boolean. Unlike approx_count_distinct (events_value_sketches,
    // tolerance-checked), the CM grid is pure integer arithmetic on a
    // cross-engine hash, so DuckDB replays the ESTIMATES bit-for-bit.
    // Scale shape: the grid aggregation is map-side-combined into at
    // most 1024 cells regardless of corpus size; the probe side is
    // one distinct-key aggregation joined to the 1024-row grid
    // (broadcast). At 100 TB you'd probe only candidate keys; the
    // full-distinct probe here doubles as the exactness audit.
    "events_heavy_hitters" -> ((s, dir) => {
      val rows = 4; val width = 256
      val ev = events(s, dir)
        .select(col("user_id"), col("user_id").cast("string").as("us"))
      def bucket(r: org.apache.spark.sql.Column) =
        pmod(TextOps.md5Long(
          concat(lit("cm"), r.cast("string"), lit(":"), col("us"))), lit(width))
      val grid = ev
        .select(col("us"), explode(sequence(lit(0), lit(rows - 1))).as("r"))
        .withColumn("b", bucket(col("r")))
        .groupBy(col("r"), col("b")).agg(count(lit(1)).as("c"))
      val users = ev.groupBy(col("user_id"), col("us"))
        .agg(count(lit(1)).as("exact"))
      users
        .select(col("user_id"), col("us"), col("exact"),
          explode(sequence(lit(0), lit(rows - 1))).as("r"))
        .withColumn("b", bucket(col("r")))
        .join(broadcast(grid), Seq("r", "b"))
        .groupBy(col("user_id"), col("exact"))
        .agg(min(col("c")).as("cm_est"))
        .orderBy(col("cm_est").desc, col("user_id").asc)
        .limit(10)
        .select(col("user_id"), col("cm_est"), col("exact"),
          (col("cm_est") >= col("exact")).as("never_under"))
    }),

    // HyperLogLog distinct-count (Flajolet et al. 2007, public
    // formula) with a BIT-EXACT oracle replay — the companion to
    // events_heavy_hitters' count-min grid: registers are max
    // leading-zero ranks over a cross-engine md5 hash (bucket = low
    // 8 bits, rank from the remaining 52 via minimal-width bin()
    // length — identical in both engines), the harmonic denominator
    // folds EXACT dyadic rationals (2^-r) in bucket order, and the
    // raw-estimator constant is a shared decimal literal:
    // α₂₅₆ = 0.7213/(1 + 1.079/256) ≈ 0.7182726 (Flajolet et al. 2007),
    // rounded to the 6-decimal literal 0.718273 both engines carry. No
    // small/large-range corrections (they need ln(); documented
    // deviation under the log-free determinism doctrine) — the
    // accuracy boolean derives from identically-computed values, so
    // it can never flake. The counted entity is (user, day) pairs per
    // type — ~1.6k at sf0.01, safely ABOVE the raw estimator's known
    // bias floor of 2.5·m = 640 (below it HLL needs the linear-
    // counting correction, which needs ln() — out of bounds under the
    // log-free doctrine, so the operating point is chosen to not need
    // it). Scale shape: the register table is bounded at #types × 256
    // rows whatever the corpus; one map-side-combined shuffle, exactly
    // the sketch contract that makes distinct counts cheap at 100 TB.
    "events_hll_distinct" -> ((s, dir) => {
      val rows = hllRegisterRows(events(s, dir))
      hllFinish(rows.groupBy(col("event_type"), col("b"))
        .agg(max(col("rank")).as("r")), rows)
    }),

    // Morton z-value math pinned cross-engine: bucket (user_id, value)
    // to 16-bit keys, interleave (operators.Layout.zval — pure integer
    // shifts/masks, codegen'd), and histogram the curve by its high
    // bits. Every z bit flows into the tile ids and the exact sums, so
    // a single bit off anywhere in the spread chain hash-fails.
    "zorder_tile_hist" -> ((s, dir) =>
      events(s, dir)
        .select(col("user_id"),
          graft.operators.Layout.zval(
            col("user_id"),
            floor(col("value")).cast("long")).as("z"))
        .groupBy(shiftright(col("z"), 12).as("tile"))
        .agg(count(lit(1)).as("n_events"), sum(col("user_id")).as("sum_uid"),
          min(col("z")).as("z_min"), max(col("z")).as("z_max"))
        .orderBy(col("tile"))),

    // the layout end-to-end: events re-written z-clustered on
    // (user_id, floor(value)) via Layout.zorderWrite (range-partitioned
    // on z → each file a disjoint bounding rectangle; sorted within →
    // tight row-group stats), then a selective rectangle read off the
    // re-laid files. Correctness = the rectangle aggregate equals the
    // base-table twin (re-layout loses/duplicates nothing); the file-
    // level pruning evidence (a small rectangle touches few files)
    // is pinned in LayoutSpec, where file boundaries are observable.
    "zorder_rectangle_scan" -> ((s, dir) => {
      val laid = SharedBuilds.of(s, dir, "zorder-events") {
        val path = buildPath(dir, "zorder-events")
        graft.operators.Layout.zorderWrite(
          events(s, dir).select(col("event_id"), col("user_id"), col("value")),
          col("user_id"), floor(col("value")).cast("long"), path, 8)
        path
      }
      s.read.parquet(laid)
        .filter(col("user_id").between(40, 80) && col("value").between(50.0, 200.0))
        .agg(count(lit(1)).as("n_events"),
          sum(col("user_id")).as("sum_uid"),
          sum(col("event_id")).as("sum_eid"))
    }),

    // retention cohorts — the classic product-analytics matrix: users
    // grouped by first-active day, re-activity counted at day offsets
    // 0..7, retention = active/cohort_size. Scale shape: one
    // user+day distinct (shuffle on the pair), one user-keyed min-agg
    // for cohort assignment, a co-partitioned user-keyed join back,
    // then the output-bounded (days × 8) rollup with the tiny
    // offset-0 size table broadcast back on. Dates truncate in the
    // session's UTC zone on both engines (the events_hourly
    // discipline), and retention is an exact-int division rounded
    // identically, so the matrix hash-matches.
    "retention_cohorts" -> ((s, dir) => {
      val acts = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val cohorts = acts.groupBy(col("user_id")).agg(min(col("d")).as("c"))
      val counts = acts.join(cohorts, Seq("user_id"))
        .select(col("user_id"), col("c"), datediff(col("d"), col("c")).as("off"))
        .filter(col("off") <= 7)
        .groupBy(col("c"), col("off"))
        .agg(count(lit(1)).as("n_active")) // (user, day) already distinct
      val sizes = counts.filter(col("off") === 0)
        .select(col("c"), col("n_active").as("cohort_size"))
      counts.join(broadcast(sizes), Seq("c"))
        .select(date_format(col("c"), "yyyy-MM-dd").as("cohort"),
          col("off").cast("long").as("day_offset"),
          col("n_active"), col("cohort_size"),
          (round(col("n_active").cast("double") / col("cohort_size"), 6) + 0.0)
            .as("retention"))
        .orderBy(col("cohort"), col("day_offset"))
    }),

    // data-completeness / gap audit — the ingest-health check a
    // pipeline runs on every arriving day: bucket events into 5-min
    // slots, report per day how many of the 288 slots carry data and
    // the longest empty run (boundary gaps included via the -1
    // sentinel and the trailing 287-max term). Scale shape: one
    // (day, slot) distinct — the only corpus-sized shuffle — then a
    // per-day window over ≤288 rows and a days-bounded output. Slot
    // arithmetic is exact integer epoch math, identical both engines.
    "events_gap_audit" -> ((s, dir) => {
      val slots = events(s, dir)
        .select(to_date(col("ts")).as("d"),
          floor((col("ts").cast("long") % 86400L) / 300L).cast("int").as("slot"))
        .distinct()
      val w = Window.partitionBy(col("d")).orderBy(col("slot"))
      slots.withColumn("prev", lag(col("slot"), 1, -1).over(w))
        .groupBy(col("d"))
        .agg(count(lit(1)).as("n_active"),
          max(col("slot") - col("prev") - 1).as("maxig"),
          max(col("slot")).as("maxs"))
        .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
          col("n_active").cast("long").as("n_active"),
          (lit(288L) - col("n_active")).as("n_empty"),
          greatest(col("maxig").cast("long"), lit(287L) - col("maxs").cast("long"))
            .as("max_gap_run"))
        .orderBy(col("day"))
    }),

    // EXACT order-statistics quantiles per group — p50/p90/p99 by
    // rank (percentile_disc semantics: smallest value whose rank
    // reaches ceil(q·n)), the exact companion of the approximate
    // events_value_sketches twin. Scale shape: the honest exact cost
    // is one sort within each event_type partition (a type-keyed
    // window); quantile VALUES are raw parquet doubles picked, never
    // computed, so both engines agree bit-for-bit. The tiny per-type
    // count table rides back in broadcast. At 100 TB you reach for
    // the sketch twin; this is the ground-truth auditor.
    "events_value_quantiles" -> ((s, dir) => {
      val ev = events(s, dir)
        .select(col("event_type"), col("event_id"), col("value"))
      rankedByValue(ev).groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          pick(0.5, "p50"), pick(0.9, "p90"), pick(0.99, "p99"))
        .orderBy(col("event_type"))
    }),

    // RFM segmentation (classic marketing analytics): per purchasing
    // user, Recency = days since last purchase vs the corpus max ts,
    // Frequency = purchase count, Monetary = decimal-exact value sum;
    // each scored 1-4 by NTILE over a TOTAL order (metric + user_id
    // tiebreak — ntile is deterministic only under a total order, so
    // the tiebreak is what makes the segment assignment replayable),
    // rolled up into a segment histogram. One user-keyed agg first, so
    // the ntile windows run over the PER-USER frame, not the event
    // stream; the global-order windows are the textbook formulation
    // and honest about their limit — at extreme user cardinality the
    // same segmentation runs map-only off discrete quartile cut
    // points (the events_winsorized_stats rank trick), trading the
    // sort for three broadcast bounds.
    "user_rfm_segments" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
      val maxTs = purchases.agg(max(unix_millis(col("ts"))).as("mx"))
      val per = purchases.groupBy(col("user_id"))
        .agg(max(unix_millis(col("ts"))).as("last_ms"),
          count(lit(1)).as("freq"),
          sum(col("value").cast(Dec)).as("monetary"))
        .crossJoin(broadcast(maxTs))
        .withColumn("recency_days", expr("(mx - last_ms) div 86400000"))
      val r = ntile(4).over(Window.orderBy(col("recency_days").asc, col("user_id").asc))
      val f = ntile(4).over(Window.orderBy(col("freq").desc, col("user_id").asc))
      val m = ntile(4).over(Window.orderBy(col("monetary").desc, col("user_id").asc))
      per
        .withColumn("r", r.cast("long")).withColumn("f", f.cast("long"))
        .withColumn("m", m.cast("long"))
        .groupBy(col("r"), col("f"), col("m"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("monetary")).cast("double").as("segment_value"))
        .orderBy(col("r"), col("f"), col("m"))
    }),

    // winsorized robust stats: clip values at the DISCRETE per-type
    // p05/p95 (the events_value_quantiles rank machinery — discrete
    // picks are engine-exact where interpolated quantiles risk a
    // last-ulp divergence in (1−g)·a + g·b), then compare the clipped
    // decimal-exact mean with the raw one — the outlier-robust
    // aggregation a metrics pipeline uses for skewed value columns.
    // Shapes: one type-keyed rank window + a broadcast-bounded
    // per-type bounds join back.
    "events_winsorized_stats" -> ((s, dir) => {
      val ev = events(s, dir)
        .select(col("event_type"), col("event_id"), col("value"))
      val bounds = rankedByValue(ev).groupBy(col("event_type"))
        .agg(pick(0.05, "p05"), pick(0.95, "p95"))
      ev.join(broadcast(bounds), Seq("event_type"))
        .withColumn("clipped", least(greatest(col("value"), col("p05")), col("p95")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          max(col("p05")).as("p05"), max(col("p95")).as("p95"),
          (round(sum(col("value").cast(Dec)).cast("double") / count(lit(1)), 6) + 0.0)
            .as("raw_mean"),
          (round(sum(col("clipped").cast(Dec)).cast("double") / count(lit(1)), 6) + 0.0)
            .as("wins_mean"))
        .orderBy(col("event_type"))
    }),

    // session path analysis: the event-type transition matrix within
    // 30-min-gap sessions — which action follows which, the input to
    // any funnel/markov model. Three user-keyed window passes (the
    // same partitioning reused: gap flag → session id → lag pair) and
    // a (types × types)-bounded rollup; "_start" rows count session
    // entry points.
    "session_transitions" -> ((s, dir) => {
      val sess = sessionFlags(events(s, dir)).withColumn("sid", sessionId)
      sess.withColumn("prev_type", lag(col("event_type"), 1).over(
          Window.partitionBy(col("user_id"), col("sid"))
            .orderBy(col("ts"), col("event_id"))))
        .select(coalesce(col("prev_type"), lit("_start")).as("from_type"),
          col("event_type").as("to_type"))
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n_transitions"))
        .orderBy(col("from_type"), col("to_type"))
    }),
  )

  /** HLL register universe (m = 256 buckets). */
  private[graft] val HllM = 256

  /** Per-event HLL pre-aggregation rows (event_type, us, b, rank):
    * us = user@day (the distinct unit), bucket = low 8 md5 bits, rank
    * = leading-zero count of the remaining 53 bits via minimal-width
    * bin() length — identical arithmetic in DuckDB. Factored out so
    * the BATCH query and the STREAMING register-maintenance replay
    * share one formula and can never drift. */
  private[graft] def hllRegisterRows(ev: DataFrame): DataFrame =
    ev.select(col("event_type"),
        concat(col("user_id").cast("string"), lit("@"),
          date_format(col("ts"), "yyyy-MM-dd")).as("us"))
      .withColumn("h", TextOps.md5Long(concat(lit("hll:"), col("us"))))
      .withColumn("b", pmod(col("h"), lit(HllM)))
      .withColumn("w", shiftright(col("h"), 8))
      .withColumn("rank",
        when(col("w") === 0, lit(53L))
          .otherwise(lit(53L) - length(bin(col("w")))))

  /** Finish an HLL estimate from MERGED registers (event_type, b, r):
    * exact-dyadic 2^-r fold in bucket order, raw estimator, exact twin
    * + 15% accuracy boolean from `rows`. Register merge is max — the
    * reason the streaming replay is idempotent under at-least-once
    * delivery (a replayed batch re-appends rows that change no max). */
  private[graft] def hllFinish(reg: DataFrame, rows: DataFrame): DataFrame = {
    // 2^-r lookup as an exact-dyadic literal array (Spark's shiftleft
    // needs a static shift; the array IS the shift table)
    val inv = typedLit((0 to 53).map(i => 1.0 / (1L << i).toDouble))
    val denom = reg.groupBy(col("event_type"))
      .agg((Folds.orderedSum(col("b"),
        element_at(inv, (col("r") + 1).cast("int")))
        + (lit(HllM) - count(lit(1))).cast("double")).as("denom"))
    val exact = rows.groupBy(col("event_type"))
      .agg(countDistinct(col("us")).as("exact"))
    denom.join(exact, "event_type")
      .select(col("event_type"),
        (round(lit(0.718273) * lit(65536.0) / col("denom"), 6) + 0.0)
          .as("hll_est"),
        col("exact").cast("long").as("exact"),
        (abs(lit(0.718273) * lit(65536.0) / col("denom")
          - col("exact").cast("double"))
          <= col("exact").cast("double") * 0.15).as("within_15pct"))
      .orderBy(col("event_type"))
  }

  /** DuckDB twin of [[sessionFlags]]: CTE `s`, every events column
    * plus `new_session`. */
  private val sessionSql =
    """x AS (
      |  SELECT *, epoch_ms(ts) AS ms,
      |         lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
      |  FROM events),
      |s AS (
      |  SELECT *,
      |         CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_session
      |  FROM x)""".stripMargin

  /** DuckDB twin of [[sessionId]] over `s`. */
  private val sessionIdSql =
    """sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  /** DuckDB twin of [[rankedByValue]]: CTE `r` (event_type, value, n,
    * rnk). */
  private val rankedSql =
    """n AS (SELECT event_type, count(*) AS n FROM events GROUP BY event_type),
      |r AS (SELECT e.event_type, e.value, n.n,
      |        row_number() OVER (PARTITION BY e.event_type
      |          ORDER BY e.value ASC, e.event_id ASC) AS rnk
      |      FROM events e JOIN n ON e.event_type = n.event_type)""".stripMargin

  override def oracle: Map[String, String] = Map(
    "events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1 ORDER BY hour""".stripMargin,

    "multitouch_attribution" ->
      """WITH p AS (SELECT event_id AS pid, user_id, ts AS pts
        |           FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT event_id AS tid, user_id, ts AS tts, event_type AS touch_type
        |      FROM events WHERE event_type IN ('click', 'view')),
        |j AS (SELECT p.pid, t.tid, t.touch_type, t.tts
        |      FROM p JOIN t ON p.user_id = t.user_id
        |        AND t.tts < p.pts AND t.tts >= p.pts - INTERVAL 24 HOUR),
        |wk AS (SELECT pid, tid, touch_type,
        |         count(*) OVER (PARTITION BY pid) AS n,
        |         row_number() OVER (PARTITION BY pid ORDER BY tts DESC, tid DESC) AS rn
        |       FROM j)
        |SELECT touch_type, CAST(count(*) AS BIGINT) AS n_touches,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1000000 - (n-1)*(1000000//n)
        |                     ELSE 1000000//n END) AS BIGINT) AS credit_ppm,
        |       CAST(count(DISTINCT pid) AS BIGINT) AS n_conversions
        |FROM wk GROUP BY touch_type ORDER BY touch_type""".stripMargin,

    "events_volume_anomalies" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(x) AS BIGINT) AS s, CAST(sum(x*x) AS BIGINT) AS q
        |       FROM daily GROUP BY 1)
        |SELECT d.event_type, st.n AS n_days, st.s AS total,
        |       CAST(sum(CASE WHEN (st.n*d.x - st.s)*(st.n*d.x - st.s) > 9*(st.n*st.q - st.s*st.s)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous,
        |       CAST(coalesce(max(CASE WHEN (st.n*d.x - st.s)*(st.n*d.x - st.s) > 9*(st.n*st.q - st.s*st.s)
        |                          THEN d.x END), 0) AS BIGINT) AS max_anomalous_cnt
        |FROM daily d JOIN st USING (event_type)
        |GROUP BY d.event_type, st.n, st.s ORDER BY d.event_type""".stripMargin,

    "events_type_stats" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_user_sessions" ->
      s"""WITH $sessionSql
        |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin,

    "events_props_hist" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1 ORDER BY k_mod""".stripMargin,

    "events_session_values" ->
      s"""WITH $sessionSql,
        |sid AS (SELECT user_id, value, $sessionIdSql AS session_id FROM s)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS session_value
        |FROM sid WHERE user_id < 3
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "events_type_pivot" ->
      """SELECT user_id,
        |       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
        |       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "events_distinct_users" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the estimates themselves are implementation-defined; the CONTRACT
    // (estimate within tolerance of exact) is not — the booleans must
    // be all-true and n_events is exact, both hash-matched
    "events_value_sketches" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       true AS users_within_5pct,
        |       true AS p50_within_5pct,
        |       true AS p90_within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "salted_type_join" ->
      """WITH w(event_type, weight) AS (VALUES
        |  ('click', 1.0), ('view', 0.5), ('purchase', 10.0),
        |  ('signup', 5.0), ('error', 0.0))
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(e.value AS DECIMAL(18,4)) * CAST(w.weight AS DECIMAL(4,1))) AS DOUBLE) AS weighted_value
        |FROM events e JOIN w ON e.event_type = w.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    "events_moving_avg" ->
      """WITH d AS (
        |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_idx,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1)
        |SELECT CAST(day_idx AS BIGINT) AS day_idx, n_events,
        |       round(avg(n_events) OVER (ORDER BY day_idx
        |         RANGE BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS avg_4d
        |FROM d ORDER BY day_idx""".stripMargin,

    "events_user_running" ->
      """WITH d AS (
        |  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |         CAST(count(*) AS BIGINT) AS daily_events
        |  FROM events WHERE user_id < 5 GROUP BY user_id, day)
        |SELECT user_id, day, daily_events,
        |       CAST(sum(daily_events) OVER (PARTITION BY user_id ORDER BY day
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_events
        |FROM d ORDER BY user_id, day""".stripMargin,

    "events_heavy_hitters" ->
      """WITH ev AS (SELECT user_id, CAST(user_id AS VARCHAR) AS us FROM events),
        |rs AS (SELECT unnest(generate_series(0, 3)) AS r),
        |grid AS (
        |  SELECT r, CAST(('0x'||substr(md5('cm'||r||':'||us),1,15)) AS BIGINT) % 256 AS b,
        |         count(*) AS c
        |  FROM ev, rs GROUP BY 1, 2),
        |users AS (SELECT user_id, us, count(*) AS exact FROM ev GROUP BY 1, 2),
        |probes AS (
        |  SELECT user_id, exact, r,
        |         CAST(('0x'||substr(md5('cm'||r||':'||us),1,15)) AS BIGINT) % 256 AS b
        |  FROM users, rs),
        |est AS (
        |  SELECT user_id, exact, min(c) AS cm_est
        |  FROM probes JOIN grid USING (r, b) GROUP BY 1, 2)
        |SELECT user_id, CAST(cm_est AS BIGINT) AS cm_est,
        |       CAST(exact AS BIGINT) AS exact, cm_est >= exact AS never_under
        |FROM est ORDER BY cm_est DESC, user_id ASC LIMIT 10""".stripMargin,

    "events_hll_distinct" ->
      """WITH ev AS (SELECT event_type,
        |              CAST(user_id AS VARCHAR) || '@' || strftime(ts, '%Y-%m-%d') AS us
        |            FROM events),
        |hx AS (SELECT event_type, us,
        |              CAST(('0x'||substr(md5('hll:'||us),1,15)) AS BIGINT) AS h
        |       FROM ev),
        |rk AS (SELECT event_type, h % 256 AS b,
        |              CASE WHEN (h >> 8) = 0 THEN 53
        |                   ELSE 53 - length(bin(h >> 8)) END AS rank
        |       FROM hx),
        |reg AS (SELECT event_type, b, max(rank) AS r FROM rk GROUP BY 1, 2),
        |den AS (SELECT event_type,
        |          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |            list(CAST(1.0 AS DOUBLE) / (CAST(1 AS BIGINT) << r) ORDER BY b)),
        |            (a, x) -> a + x)
        |          + CAST(256 - count(*) AS DOUBLE) AS denom
        |        FROM reg GROUP BY event_type),
        |ex AS (SELECT event_type, count(DISTINCT us) AS exact FROM ev GROUP BY 1)
        |SELECT den.event_type,
        |       round(CAST(0.718273 AS DOUBLE) * 65536.0 / denom, 6) + 0.0 AS hll_est,
        |       CAST(exact AS BIGINT) AS exact,
        |       abs(CAST(0.718273 AS DOUBLE) * 65536.0 / denom - CAST(exact AS DOUBLE))
        |         <= CAST(exact AS DOUBLE) * 0.15 AS within_15pct
        |FROM den JOIN ex USING (event_type)
        |ORDER BY event_type""".stripMargin,

    "zorder_tile_hist" ->
      s"""WITH z AS (
         |  SELECT user_id,
         |         ${graft.operators.Layout.zvalSql("user_id", "CAST(floor(value) AS BIGINT)")} AS z
         |  FROM events)
         |SELECT (z >> 12) AS tile, CAST(count(*) AS BIGINT) AS n_events,
         |       CAST(sum(user_id) AS BIGINT) AS sum_uid,
         |       CAST(min(z) AS BIGINT) AS z_min, CAST(max(z) AS BIGINT) AS z_max
         |FROM z GROUP BY 1 ORDER BY tile""".stripMargin,

    "zorder_rectangle_scan" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(user_id) AS BIGINT) AS sum_uid,
        |       CAST(sum(event_id) AS BIGINT) AS sum_eid
        |FROM events
        |WHERE user_id BETWEEN 40 AND 80 AND value BETWEEN 50.0 AND 200.0""".stripMargin,

    "retention_cohorts" ->
      """WITH acts AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |c AS (SELECT user_id, min(d) AS c FROM acts GROUP BY user_id),
        |cnt AS (SELECT c.c, date_diff('day', c.c, a.d) AS off,
        |          CAST(count(*) AS BIGINT) AS n_active
        |        FROM acts a JOIN c ON a.user_id = c.user_id
        |        WHERE date_diff('day', c.c, a.d) <= 7
        |        GROUP BY c.c, off),
        |sz AS (SELECT c, n_active AS cohort_size FROM cnt WHERE off = 0)
        |SELECT strftime(cnt.c, '%Y-%m-%d') AS cohort,
        |       CAST(off AS BIGINT) AS day_offset,
        |       cnt.n_active, sz.cohort_size,
        |       round(CAST(cnt.n_active AS DOUBLE) / sz.cohort_size, 6) + 0.0 AS retention
        |FROM cnt JOIN sz ON cnt.c = sz.c
        |ORDER BY cohort, day_offset""".stripMargin,

    "events_gap_audit" ->
      """WITH s AS (SELECT DISTINCT CAST(ts AS DATE) AS d,
        |             -- floor BEFORE the BIGINT cast: DuckDB double->int casts
        |             -- ROUND (Spark's timestamp->long cast truncates)
        |             CAST(floor((CAST(floor(epoch(ts)) AS BIGINT) % 86400) / 300) AS INT) AS slot
        |           FROM events),
        |g AS (SELECT d, slot,
        |        lag(slot, 1, -1) OVER (PARTITION BY d ORDER BY slot) AS prev
        |      FROM s),
        |p AS (SELECT d, count(*) AS n_active, max(slot - prev - 1) AS maxig,
        |        max(slot) AS maxs
        |      FROM g GROUP BY d)
        |SELECT strftime(d, '%Y-%m-%d') AS day,
        |       CAST(n_active AS BIGINT) AS n_active,
        |       CAST(288 - n_active AS BIGINT) AS n_empty,
        |       CAST(greatest(maxig, 287 - maxs) AS BIGINT) AS max_gap_run
        |FROM p ORDER BY day""".stripMargin,

    "events_value_quantiles" ->
      s"""WITH $rankedSql
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |       max(CASE WHEN rnk = CAST(ceil(0.5 * n) AS BIGINT) THEN value END) AS p50,
        |       max(CASE WHEN rnk = CAST(ceil(0.9 * n) AS BIGINT) THEN value END) AS p90,
        |       max(CASE WHEN rnk = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS p99
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    "user_rfm_segments" ->
      """WITH p AS (SELECT user_id, epoch_ms(ts) AS ms, value FROM events
        |           WHERE event_type = 'purchase'),
        |mx AS (SELECT max(ms) AS mx FROM p),
        |per AS (SELECT user_id, max(ms) AS last_ms, count(*) AS freq,
        |               sum(CAST(value AS DECIMAL(18,4))) AS monetary
        |        FROM p GROUP BY user_id),
        |scored AS (SELECT user_id, monetary,
        |             ntile(4) OVER (ORDER BY ((SELECT mx FROM mx) - last_ms)//86400000 ASC, user_id ASC) AS r,
        |             ntile(4) OVER (ORDER BY freq DESC, user_id ASC) AS f,
        |             ntile(4) OVER (ORDER BY monetary DESC, user_id ASC) AS m
        |           FROM per)
        |SELECT CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f, CAST(m AS BIGINT) AS m,
        |       CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(sum(monetary) AS DOUBLE) AS segment_value
        |FROM scored GROUP BY r, f, m ORDER BY r, f, m""".stripMargin,

    "events_funnel_steps" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
        |       WHERE e.event_type = 'view' GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
        |       WHERE e.event_type = 'click' GROUP BY e.user_id),
        |s4 AS (SELECT e.user_id, min(e.ts) AS t4 FROM events e
        |       JOIN s3 ON e.user_id = s3.user_id AND e.ts > s3.t3
        |       WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_signup,
        |       (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_viewed,
        |       (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_clicked,
        |       (SELECT CAST(count(*) AS BIGINT) FROM s4) AS n_purchased,
        |       CASE WHEN (SELECT count(*) FROM s1) = 0 THEN 0.0
        |            ELSE round(CAST((SELECT count(*) FROM s4) AS DOUBLE) / (SELECT count(*) FROM s1), 6) + 0.0
        |       END AS full_funnel_rate""".stripMargin,

    "events_decayed_popularity" ->
      """WITH c AS (SELECT event_type, epoch_ms(ts) AS ms,
        |             CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |mx AS (SELECT max(ms) AS mm FROM c),
        |a AS (SELECT event_type, cents,
        |        least(((SELECT mm FROM mx) - ms) // 86400000, 62) AS age_d
        |      FROM c)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(cents) AS BIGINT) AS raw_cents,
        |       CAST(sum(cents >> CAST(age_d AS INTEGER)) AS BIGINT) AS decayed_cents
        |FROM a GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_path_trigrams" ->
      """WITH s AS (
        |  SELECT event_type AS s1,
        |         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS s2,
        |         lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS s3
        |  FROM events)
        |SELECT s1, s2, s3, CAST(count(*) AS BIGINT) AS n
        |FROM s WHERE s2 IS NOT NULL AND s3 IS NOT NULL
        |GROUP BY s1, s2, s3
        |ORDER BY n DESC, s1, s2, s3 LIMIT 15""".stripMargin,

    "events_conversion_windows" ->
      """WITH s1 AS (SELECT user_id, min(epoch_ms(ts)) AS t1 FROM events
        |            WHERE event_type = 'signup' GROUP BY user_id),
        |fp AS (SELECT e.user_id, s1.t1, min(epoch_ms(e.ts)) AS tp
        |       FROM events e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > s1.t1
        |       GROUP BY e.user_id, s1.t1)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_signup,
        |       (SELECT CAST(coalesce(sum(CASE WHEN tp - t1 <= 86400000 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM fp) AS n_conv_1d,
        |       (SELECT CAST(coalesce(sum(CASE WHEN tp - t1 <= 604800000 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM fp) AS n_conv_7d,
        |       (SELECT CAST(coalesce(sum(CASE WHEN tp - t1 <= 2592000000 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM fp) AS n_conv_30d,
        |       CASE WHEN (SELECT count(*) FROM s1) = 0 THEN 0.0
        |            ELSE round(CAST((SELECT coalesce(sum(CASE WHEN tp - t1 <= 604800000 THEN 1 ELSE 0 END), 0) FROM fp) AS DOUBLE)
        |                       / (SELECT count(*) FROM s1), 6) + 0.0
        |       END AS d7_rate""".stripMargin,

    "events_quantile_sketch" ->
      """WITH c AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS c FROM events),
        |st AS (SELECT event_type, min(c) AS minc, max(c) AS maxc,
        |              CAST(count(*) AS BIGINT) AS n
        |       FROM c GROUP BY event_type),
        |b AS (SELECT c.event_type, ((c.c - st.minc) * 1024) // (st.maxc - st.minc + 1) AS bin,
        |             CAST(count(*) AS BIGINT) AS cnt
        |      FROM c JOIN st USING (event_type) GROUP BY 1, 2),
        |cm AS (SELECT b.event_type, b.bin, b.cnt,
        |              sum(b.cnt) OVER (PARTITION BY b.event_type ORDER BY b.bin) AS cum,
        |              st.minc, st.maxc, st.n
        |       FROM b JOIN st USING (event_type))
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
        |       CAST(max(minc) AS BIGINT) AS min_cents,
        |       CAST(max(maxc) AS BIGINT) AS max_cents,
        |       CAST(min(CASE WHEN cum * 100 >= n * 50
        |                     THEN minc + (bin * (maxc - minc + 1)) // 1024 END) AS BIGINT) AS p50_cents,
        |       CAST(min(CASE WHEN cum * 100 >= n * 90
        |                     THEN minc + (bin * (maxc - minc + 1)) // 1024 END) AS BIGINT) AS p90_cents,
        |       CAST(min(CASE WHEN cum * 100 >= n * 99
        |                     THEN minc + (bin * (maxc - minc + 1)) // 1024 END) AS BIGINT) AS p99_cents
        |FROM cm GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_winsorized_stats" ->
      s"""WITH $rankedSql,
        |b AS (SELECT event_type,
        |        max(CASE WHEN rnk = CAST(ceil(0.05 * n) AS BIGINT) THEN value END) AS p05,
        |        max(CASE WHEN rnk = CAST(ceil(0.95 * n) AS BIGINT) THEN value END) AS p95
        |      FROM r GROUP BY event_type)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n, max(b.p05) AS p05, max(b.p95) AS p95,
        |       round(CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) + 0.0 AS raw_mean,
        |       round(CAST(sum(CAST(least(greatest(e.value, b.p05), b.p95) AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) + 0.0 AS wins_mean
        |FROM events e JOIN b ON e.event_type = b.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    "session_transitions" ->
      s"""WITH $sessionSql,
        |ss AS (SELECT user_id, event_id, ts, event_type, $sessionIdSql AS sid FROM s),
        |p AS (
        |  SELECT coalesce(lag(event_type) OVER (PARTITION BY user_id, sid ORDER BY ts, event_id),
        |                  '_start') AS from_type,
        |         event_type AS to_type
        |  FROM ss)
        |SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions
        |FROM p GROUP BY from_type, to_type ORDER BY from_type, to_type""".stripMargin,
  )
}
