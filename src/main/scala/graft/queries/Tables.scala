package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministically ORDERED float reductions — the ONE fold shape
  * that keeps cross-engine double sums hash-stable: collect (k, x)
  * pairs, sort by k, fold left-to-right from 0.0. DuckDB mirror:
  * `list_reduce(list_prepend(CAST(0 AS DOUBLE), list(x ORDER BY k)),
  * (a, x) -> a + x)`. Shared by every query that sums doubles under
  * the oracle (TF-IDF centroids, HLL denominators, DCG folds) so the
  * two engines can never drift fold-shape independently. */
object Folds {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  def orderedSum(sortKey: Column, value: Column): Column =
    aggregate(
      transform(
        array_sort(collect_list(struct(sortKey.as("k"), value.as("x")))),
        e => e.getField("x")),
      lit(0.0), (a, x) => a + x)
}

/** Parquet table loader for the driver testdata layout
  * (`/root/testdata/sf&lt;sf&gt;/NAME.parquet`). */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // idempotent: every declared query loads at least one table, which
    // guarantees the native expressions are available in its session
    graft.expressions.GraftFunctions.register(spark)
    // The analyzed relation is memoized per (session, dir, table): a
    // fresh `spark.read.parquet` per invocation re-lists the directory
    // and re-reads parquet footers for schema on the DRIVER — pure
    // per-query latency that a 221-query suite pays ~500× per pass
    // (guide §6: file listing is driver-side, single-process work).
    // The DataFrame is an immutable plan over immutable driver
    // testdata, so sharing it never changes results; execution still
    // scans the parquet files on every action (this memoizes the
    // RELATION, never data). Dynamic stores (index builds, stream
    // sinks) do NOT come through here — they re-read their paths
    // directly, so overwrite-then-reread stays correct.
    SharedBuilds.of(spark, dir, s"table-$name")(
      spark.read.parquet(s"$dir/$name.parquet"))
  }

  /** documents feeds per-row-HEAVY pipelines (tokenize + md5-shingle)
    * that Spark evaluates in interpreted mode (HOFs have no codegen).
    * The testdata parquet is a single row group, so the scan yields ONE
    * partition and that work would serialize onto one core of 32. A
    * round-robin repartition costs a sub-MB shuffle here and buys full
    * map-side parallelism — the same move a 100 TB pipeline makes when
    * a source arrives as few large unsplittable files. Filters still
    * push through Repartition to the parquet scan, so pruned reads stay
    * pruned (pinned in PlanSpec).
    *
    * embeddings is NOT spread: its hot consumers
    * (knn family, LSH band keys, point lookups) run on the codegen'd
    * native expressions, where the per-load exchange cost more than the
    * parallelism bought — blanket-spreading it regressed search_join_back
    * 7× (two exchanges + a rebuilt broadcast per query).
    * Relational tables (lineitem etc.) are likewise left alone: their
    * scan+agg paths are whole-stage-codegen'd and measure faster without
    * the extra exchange. Pipelines that genuinely need parallelism for
    * interpreted work over embeddings opt in at the call site. */
  private def spread(df: DataFrame, s: SparkSession): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism)

  /** Durable build-artifact path under target/graft-builds, tagged by
    * the data dir — ONE layout rule for every index store and stream
    * sink (a second copy of this helper drifting would scatter a dir's
    * artifacts across inconsistent locations). */
  def buildPath(dir: String, name: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9.]+", "_")
    val p = java.nio.file.Paths.get("target", "graft-builds", s"$name-$tag")
    java.nio.file.Files.createDirectories(p.getParent)
    p.toAbsolutePath.toString
  }
  def embeddings(s: SparkSession, dir: String): DataFrame = t(s, dir, "embeddings")
  def documents(s: SparkSession, dir: String): DataFrame = spread(t(s, dir, "documents"), s)

  /** `events.parquet` stores ts as TIMESTAMP(NANOS), which Spark only
    * reads with spark.sql.legacy.parquet.nanosAsLong=true (set in every
    * session builder) — it then surfaces as a nanos LongType, normalized
    * here to a microsecond timestamp with integer division (a double
    * division would lose precision at 2^63 nanos scale). */
  def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      // TIMESTAMP(NANOS) parquet + nanosAsLong=true → long nanos
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // TIMESTAMP(MICROS, isAdjustedToUTC=false) → Spark infers NTZ
      // (the testdata's current annotation). The cast
      // interprets wall-clock in the SESSION time zone, so it only
      // relabels (never shifts) the instants when that zone is UTC —
      // enforced here so a future non-UTC entry point fails loudly at
      // the table boundary instead of silently shifting every
      // event-time query off its DuckDB oracle
      case TimestampNTZType =>
        require(s.conf.get("spark.sql.session.timeZone") == "UTC",
          "events NTZ→timestamp normalization requires spark.sql.session.timeZone=UTC; " +
            s"got '${s.conf.get("spark.sql.session.timeZone")}'")
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
  def lineitem(s: SparkSession, dir: String): DataFrame = t(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame = t(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame = t(s, dir, "customer")
  def part(s: SparkSession, dir: String): DataFrame = t(s, dir, "part")
  def supplier(s: SparkSession, dir: String): DataFrame = t(s, dir, "supplier")
  def nation(s: SparkSession, dir: String): DataFrame = t(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame = t(s, dir, "region")
}

/** Session-scoped memo for built index artifacts (LSH buckets, HNSW
  * adjacency, IVF assignment, MinHash signature/candidate tables) shared
  * across the declared queries that probe them — the reference's
  * build-once/query-many Index contract (kowari src/index.rs:8-12)
  * materialized. Keyed by (session identity, data dir, artifact name);
  * entries are Cuts-cut-backed DataFrames (or small driver-side
  * structures), so a session's artifacts are reclaimed with the session.
  * At 100 TB the same role is played by index parquet written once and
  * scanned by every probe job. */
object SharedBuilds {
  // Keyed on the SparkSession object itself (not its identityHashCode,
  // so a hash-reuse can never hand a new session artifacts bound to a
  // dead one). Lifetime contract, stated honestly: the cached values
  // are DataFrames that strongly reference their session, so entries do
  // NOT fall out on their own — weak keys alone cannot collect them.
  // In the intended regimes (one session per driver main / test JVM)
  // that is the desired JVM-lifetime cache; a host that cycles many
  // sessions in one JVM must call evict(session) when it stops one.
  private val m =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]]
  // Open OS resources (kwi IndexedReaders, …) built inside memoized
  // artifacts. Closed on evict() and on application end — without this
  // every (session, dir) serve build leaked a file handle for the JVM
  // lifetime.
  private val closeables =
    new java.util.WeakHashMap[SparkSession, java.util.ArrayDeque[AutoCloseable]]
  // the per-session close hook, tracked so evict() can remove it from
  // the SparkContext (a leftover listener would fire for a dead session
  // and, with a fresh register-after-evict, double up)
  private val listeners =
    new java.util.WeakHashMap[SparkSession, org.apache.spark.scheduler.SparkListener]

  /** Track `c` for closing when `s` is evicted or its application ends.
    * Returns `c` for inline use at the build site. */
  def registerCloseable[C <: AutoCloseable](s: SparkSession, c: C): C = {
    m.synchronized {
      var q = closeables.get(s)
      if (q == null) {
        q = new java.util.ArrayDeque[AutoCloseable]
        closeables.put(s, q)
      }
      if (listeners.get(s) == null) {
        // the listener captures only the QUEUE, never the session: a
        // strong session capture would pin it (and its WeakHashMap
        // entries) for the SparkContext lifetime, defeating the weak
        // keys — and the queue alone is all application-end needs, so
        // the handles still close even if the session object was
        // collected first
        val cq = q
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
            drain(cq)
        }
        listeners.put(s, l)
        s.sparkContext.addSparkListener(l)
      }
      q.add(c)
    }
    c
  }

  private def drain(q: java.util.ArrayDeque[AutoCloseable]): Unit =
    m.synchronized {
      var c = q.poll()
      while (c != null) {
        try c.close() catch { case _: Exception => () } // best-effort on teardown
        c = q.poll()
      }
    }

  private def closeAllFor(s: SparkSession): Unit = m.synchronized {
    val q = closeables.remove(s)
    if (q != null) drain(q)
  }
  // Memoizing cell: the map stores these, and the build thunk runs at
  // most once, on first force (lazy val synchronizes on the holder; a
  // throwing build leaves the cell unpoisoned — lazy vals re-attempt).
  private final class Holder[T](thunk: () => T) { lazy val value: T = thunk() }
  def of[T <: AnyRef](s: SparkSession, dir: String, key: String)(build: => T): T = {
    val perSession = m.synchronized {
      var inner = m.get(s)
      if (inner == null) {
        inner = new java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]
        m.put(s, inner)
      }
      inner
    }
    val k = (dir, key)
    // putIfAbsent a memoizing holder, force it OUTSIDE the map update.
    // Builds are NOT pure (ivfStore/ivfAppendStore overwrite then append
    // the same parquet path), so two same-key racers must not both run
    // the thunk — the holder's lazy val serializes them to exactly one
    // execution. Forcing outside the CHM update keeps nested of() calls
    // legal (sharedComponents → sharedDedupIndex): a computeIfAbsent
    // re-entering the same ConcurrentHashMap would throw
    // IllegalStateException("Recursive update").
    var h = perSession.get(k)
    if (h == null) {
      val fresh = new Holder[T](() => build)
      val prev = perSession.putIfAbsent(k, fresh)
      h = if (prev != null) prev else fresh
    }
    h.asInstanceOf[Holder[T]].value
  }
  /** Drop every artifact built for (`s`, `dir`), so the next `of` on
    * any of its keys rebuilds. A memoized relation (`Tables.t`)
    * captures the directory's file listing at first touch, and an
    * artifact derived from it captures the old contents, so a writer
    * that OVERWRITES `dir`'s table files mid-session must call this
    * before the next read — without it the next query serves a stale
    * or deleted file index, or a stale derived build. Bench.buildScaled
    * (the one in-repo such writer) calls it after rewriting the scaled
    * corpus. */
  def evictDir(s: SparkSession, dir: String): Unit = m.synchronized {
    val inner = m.get(s)
    if (inner != null) inner.keySet().removeIf(_._1 == dir)
  }

  /** Drop every artifact built for `s` (call when stopping a session in
    * a multi-session JVM; checkpointed blocks are then reclaimable).
    * Also detaches the close hook so a later register on the same
    * session installs a fresh one instead of doubling up. */
  def evict(s: SparkSession): Unit = m.synchronized {
    m.remove(s)
    val l = listeners.remove(s)
    if (l != null) s.sparkContext.removeSparkListener(l)
    closeAllFor(s)
  }
}

/** A named query + (optionally) its DuckDB oracle SQL. Registries of
  * these compose into `graft.SparkEntry.queries`/`oracleSql`. */
trait QueryRegistry {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
}

/** DuckDB SQL fragments mirroring graft.functions.VectorOps bit-for-bit:
  * cast each float to double BEFORE multiplying, fold left-to-right.
  * Kept here (not in .sql files) so the Scala expression and its oracle
  * live side by side.
  */
object OracleFrag {
  /** Σ aᵢ·bᵢ in double. */
  def dot(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"

  /** ‖v‖₂ in double. */
  def norm(v: String): String =
    s"sqrt(list_sum(list_transform($v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

  /** cosine with the zero-norm guard (kowari src/utils.rs:9-13). */
  def cosine(a: String, b: String): String =
    s"(CASE WHEN ${norm(a)} = 0 OR ${norm(b)} = 0 THEN 0.0 ELSE ${dot(a, b)} / (${norm(a)} * ${norm(b)}) END)"

  /** Σ (aᵢ−bᵢ)² in double. */
  def sqDist(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"

  /** negated ‖a−b‖₂ (descending-sort-uniform euclidean, src/index.rs:36-38). */
  def negEuclidean(a: String, b: String): String = s"(-sqrt(${sqDist(a, b)}))"

  /** negated Σ|aᵢ−bᵢ|. */
  def negManhattan(a: String, b: String): String =
    s"(-list_sum(list_transform(list_zip($a, $b), x -> abs(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))))"

  // The index replays below render CTE lists without a leading WITH, so
  // a caller can open its own (plain or RECURSIVE) WITH and add CTEs
  // around them. None has a line that starts with `|`, so each may be
  // interpolated into a stripMargin template.

  /** `Ivf.assignExpr` replayed over the data-dependent centroids (the
    * first `nCells` embeddings, cell id = vec_id): each vector's cell is
    * the argmin by (squared distance, centroid id), the tiebreak of
    * assignExpr's (d, c) struct min. Defines `c` (cid, ce), `cd`
    * (vec_id, cid, d) and `cells` (vec_id, cell, d). */
  def ivfCells(nCells: Int): String =
    s"""c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < $nCells),
       |cd AS (SELECT e.vec_id, c.cid, ${sqDist("e.embedding", "c.ce")} AS d
       |      FROM embeddings e CROSS JOIN c),
       |cells AS (SELECT vec_id, cid AS cell, d FROM (
       |    SELECT vec_id, cid, d,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
       |    FROM cd) WHERE rn = 1)""".stripMargin

  /** `Ivf.nearestCells` replayed: the `nProbe` centroids of `c` (see
    * [[ivfCells]]) nearest the query by the same (distance, cid)
    * tiebreak. The query CTE is `qs` (query_id, qe) with `perQuery`,
    * and the cells are picked per query_id; else it is the one-row `q`
    * (qe). Defines `qcd` ([query_id,] cid, d) and `probe`
    * ([query_id,] cid). */
  def ivfProbe(nProbe: Int, perQuery: Boolean): String = {
    val (q, key, part) =
      if (perQuery) ("qs", "query_id, ", "PARTITION BY query_id ") else ("q", "", "")
    s"""qcd AS (SELECT ${key}c.cid, ${sqDist(s"$q.qe", "c.ce")} AS d FROM $q CROSS JOIN c),
       |probe AS (SELECT ${key}cid FROM (
       |    SELECT ${key}cid, row_number() OVER (${part}ORDER BY d ASC, cid ASC) AS rn
       |    FROM qcd) WHERE rn <= $nProbe)""".stripMargin
  }

  /** Squared distance between the `sub`-dim slices of subspace `sp.s`
    * of two vectors, in double. */
  private def subDist(a: String, b: String, sub: Int): String = {
    def at(v: String) = s"CAST($v[sp.s * $sub + i] AS DOUBLE)"
    s"list_sum(list_transform(generate_series(1, $sub), i -> (${at(a)} - ${at(b)}) * (${at(a)} - ${at(b)})))"
  }

  /** `Pq.encodeExpr` replayed with data-dependent seed codebooks: the
    * rows of `src` with vec_id &lt; `k` give code j's slices, and each
    * vector's code in each of the `m` subspaces of `sub` dims is the
    * argmin by (subspace distance, code), the tiebreak of encodeExpr's
    * struct min. `vec` names the encoded array column of `src` (the
    * embedding, or a residual for IVF-PQ). Defines `sp` (s), `b` (j,
    * be), `d` (vec_id, s, j, d) and `codes` (vec_id, s, code). */
  def pqCodes(src: String, vec: String, m: Int, sub: Int, k: Int): String =
    s"""sp AS (SELECT s FROM range(0, $m) t(s)),
       |b AS (SELECT vec_id AS j, $vec AS be FROM $src WHERE vec_id < $k),
       |d AS (SELECT e.vec_id, sp.s, b.j, ${subDist(s"e.$vec", "b.be", sub)} AS d
       |      FROM $src e CROSS JOIN b CROSS JOIN sp),
       |codes AS (SELECT vec_id, s, j AS code FROM (
       |    SELECT vec_id, s, j,
       |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, j ASC) AS rn
       |    FROM d) WHERE rn = 1)""".stripMargin

  /** `Pq.adcTable` replayed: the subspace distance from the query
    * vector `q.vec` to every seed code of [[pqCodes]]'s `b` and `sp`.
    * `key` columns of `q` ride along, one table per query row: none
    * for a single query, query_id for a query batch, cid for IVF-PQ's
    * per-probed-cell residual queries. Defines `qt` (key…, s, j, d). */
  def pqAdc(q: String, vec: String, sub: Int, key: String*): String =
    s"""qt AS (SELECT ${key.map(k => s"$q.$k, ").mkString}sp.s, b.j, ${subDist(s"$q.$vec", "b.be", sub)} AS d
       |      FROM $q CROSS JOIN b CROSS JOIN sp)""".stripMargin

  /** `Lsh.bucketCol` over explicit planes: bit p of the bucket is set
    * when the vector `v` lies on the non-negative side of plane p (the
    * embedding with vec_id = p). Aggregates over the plane rows `p`
    * (pid, pe) of [[lshKeys]]. */
  def lshBucket(v: String): String =
    s"CAST(sum(CASE WHEN ${dot(v, "p.pe")} >= 0 THEN (1::BIGINT << p.pid) ELSE 0 END) AS BIGINT)"

  /** The data-plane LSH store replayed: defines `p` (pid, pe), the first
    * `nPlanes` embeddings as planes, and `keys` (vec_id, bucket), every
    * vector's [[lshBucket]]. */
  def lshKeys(nPlanes: Int): String =
    s"""p AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings WHERE vec_id < $nPlanes),
       |keys AS (SELECT e.vec_id, ${lshBucket("e.embedding")} AS bucket
       |         FROM embeddings e CROSS JOIN p GROUP BY e.vec_id)""".stripMargin

  /** `Dedup.lshEmbeddingPairs`'s banded sign bits replayed: the first
    * `nPlanes` embeddings are planes, plane i sets bit i mod `bandBits`
    * of band i / `bandBits`, and two vectors are candidates when they
    * share a (band, key). Defines `p` (plane_id, pe), `bits` (vec_id,
    * plane_id, bit), `keys` (vec_id, band, key) and `cand` (a, b),
    * distinct with a &lt; b. */
  def signBands(nPlanes: Int, bandBits: Int): String =
    s"""p AS (SELECT vec_id AS plane_id, embedding AS pe FROM embeddings WHERE vec_id < $nPlanes),
       |bits AS (
       |  SELECT e.vec_id, p.plane_id,
       |         CASE WHEN ${dot("e.embedding", "p.pe")} >= 0 THEN 1 ELSE 0 END AS bit
       |  FROM embeddings e CROSS JOIN p),
       |keys AS (
       |  SELECT vec_id, plane_id // $bandBits AS band,
       |         CAST(sum(bit * (1 << (plane_id % $bandBits))) AS BIGINT) AS key
       |  FROM bits GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM keys x JOIN keys y ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id)""".stripMargin
}
