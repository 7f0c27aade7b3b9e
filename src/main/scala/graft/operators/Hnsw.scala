package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import graft.expressions.VectorKernels
import graft.functions.VectorOps
import graft.operators.Cuts.CutOps

/** HNSW — batch graph construction on Spark + a serve-time walk, per the
  * project north star ("Spark for batch index build; online ANN serving
  * requires specialized runtime").
  *
  * Reference: kowari `HNSWIndex` (src/index.rs:188-368), M=16, ef=32
  * defaults (src/index.rs:364-368), distance = 1 − cosine
  * (src/index.rs:227-229).
  *
  * Differences by design:
  *   - levels are a deterministic geometric draw (p=0.5) from a hash of
  *     the id — reproducible across runs, unlike `thread_rng`
  *     (src/index.rs:218-225), and capped (the reference's loop is
  *     unbounded);
  *   - the reference's insertion-order-dependent O(n²) "connect to every
  *     prior node then prune to M" (src/index.rs:231-267) is replaced by
  *     the order-independent batch equivalent: at each level, every node
  *     keeps its M nearest peers among nodes of that level — exactly the
  *     `Window.partitionBy(node, level).orderBy(dist) row_number <= M`
  *     prune of SURVEY §2.2. Still O(n²·d) work like the reference, but
  *     embarrassingly parallel; for big corpora pass an `Lsh` blocker to
  *     generate candidate pairs instead of the full cross join.
  *   - the built index is a plain adjacency DataFrame
  *     `(node_id, level, neighbor_id, dist)` → parquet; the online walk
  *     (greedy descent + ef-bounded BFS, src/index.rs:314-355) runs on
  *     the driver over a NEIGHBOR-LIST SOURCE — either the collected
  *     adjacency map (the index HEAD: n×M edge ids — the small-corpus
  *     fast path) or, at scales where even the edge head outgrows one
  *     driver, LAZY paged point reads of kwi neighbor pages
  *     (`adjacencyPages` + `decodeNeighbors` behind CachingAdjacency:
  *     O(walk-visited) page seeks per query, LRU-bounded residency) —
  *     plus LAZY point reads of only the vectors the walk visits, the
  *     reference's own offset-table seek design
  *     (vector_db/src/binary_index.rs:148-160). Driver-resident vector
  *     bytes are O(ef) per query, never O(n): at 100 TB the corpus
  *     embeddings stay on disk (kwi IndexedReader / pruned parquet
  *     point reads) and the walk pulls ~ef of them.
  */
class Hnsw(val m: Int = 16, val ef: Int = 32, val seed: Long = 42L,
           val maxLevel: Int = 8) {

  /** Deterministic geometric level (p = 0.5): floor(−log₂ u) with
    * u ∈ (0,1] derived from xxhash64(id, seed). */
  def levelCol(id: Column): Column = {
    val h = pmod(xxhash64(id, lit(seed)), lit(1000000L))
    val u = (h.cast("double") + 1.0) / 1000001.0
    least(floor(-log2(u)), lit(maxLevel)).cast("int")
  }

  /** The build blocker used when none is given: 3-plane sign-LSH
    * (8 buckets, 1-bit multi-probe expansion — the declared path's
    * knob; see buildAdjacency's blocker comment). Seeded from this
    * index's seed so builds stay deterministic. */
  def defaultBlocker: Lsh = new Lsh(numPlanes = 3, seed = seed)

  /** Build the adjacency: for every level l ≤ node level, connect each
    * node to its M nearest same-level peers AMONG LSH-blocked candidate
    * pairs. The blocker is REQUIRED (defaulted): the unblocked variant
    * is a full per-level self-join — O(n²) pair rows — so it survives
    * only as the test-only `buildAdjacencyUnblocked` equivalence
    * baseline. Returns (node_id, level, neighbor_id, dist) sorted-free;
    * write to parquet partitioned by level for pruned serve-time
    * loads. */
  def buildAdjacency(vectors: DataFrame,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     blocker: Lsh = defaultBlocker): DataFrame =
    buildAdjacencyImpl(vectors, idCol, vecCol, Some(blocker))

  /** TEST-ONLY: the unblocked full per-level self-join — the O(n²)
    * correctness baseline the blocked build is judged against. Never
    * on a declared path. */
  private[graft] def buildAdjacencyUnblocked(vectors: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    buildAdjacencyImpl(vectors, idCol, vecCol, None)

  private def buildAdjacencyImpl(vectors: DataFrame,
                     idCol: String,
                     vecCol: String,
                     blocker: Option[Lsh]): DataFrame = {
    // One plan for all levels: a node of level L participates in levels
    // 0..L, so explode the level range and self-join per level — a
    // single shuffle + window instead of one Spark job per level (which
    // cost ~9 jobs of pure scheduling overhead at small scale and ~9
    // scans at large scale).
    val exploded = vectors.select(
      col(idCol).as("node_id"), col(vecCol).as("vec"),
      explode(sequence(lit(0), levelCol(col(idCol)))).as("level"))

    val left = exploded.select(col("level"), col("node_id").as("src"), col("vec").as("src_vec"))
    val right = exploded.select(col("level"), col("node_id").as("dst"), col("vec").as("dst_vec"))
    val pairs = blocker match {
      case None =>
        left.join(right, Seq("level")).filter(col("src") =!= col("dst"))
      case Some(lsh) =>
        // LSH-blocked candidate generation: same-level pairs whose sign
        // buckets differ by AT MOST ONE BIT. The 100-TB path — turns
        // O(n²) into Σ|expanded bucket|·|bucket| — but with multi-probe
        // expansion on the build side (each node also lands in every
        // 1-bit-flip bucket, the same probe set queryMultiProbe uses):
        // bucket-ONLY blocking makes the graph's connected components
        // exactly the buckets, and a serve walk can never cross from
        // the entry point's island to the query's. One-bit expansion
        // links every pair of Hamming-adjacent buckets, so the bucket
        // graph is a hypercube — connected whenever buckets are
        // non-empty — while the blowup stays (numPlanes+1)× on one
        // side only.
        val dim = vectors.select(size(col(vecCol))).limit(1).collect()(0).getInt(0)
        val probes = (b: Column) =>
          array(b +: (0 until lsh.numPlanes)
            .map(i => b.bitwiseXOR(lit(1L << i))): _*)
        val lb = left
          .withColumn("bucket", explode(probes(lsh.bucketCol(col("src_vec"), dim))))
        val rb = right.withColumn("bucket", lsh.bucketCol(col("dst_vec"), dim))
        lb.join(rb, Seq("level", "bucket")).filter(col("src") =!= col("dst"))
          .drop("bucket")
    }
    topM(pairs)
  }

  /** The top-`m` prune: each (level, src) keeps its `m` nearest
    * candidates by (1 − cosine, dst), with the distance rounded to 6. */
  private def topM(pairs: DataFrame): DataFrame =
    TopK.per(
      pairs.select(col("level"), col("src"), col("dst"),
        (lit(1.0) - VectorOps.cosine(col("src_vec"), col("dst_vec"))).as("dist")),
      Seq(col("level"), col("src")), Seq(col("dist").asc, col("dst").asc), m)
      .select(col("src").as("node_id"), col("level"),
        col("dst").as("neighbor_id"), round(col("dist"), 6).as("dist"))

  /** O(batch) incremental append — the fourth index tier joins
    * LSH/IVF/PQ in taking batch maintenance without a corpus rebuild.
    * Returns the FULL post-append adjacency, provably CONTENT-EQUAL to
    * `buildAdjacency(old ∪ batch)`:
    *  - levels and LSH buckets are pure functions of (id, seed) /
    *    (vector, seed) — build-order independent — so the candidate
    *    universe is identical either way;
    *  - new-src rows re-derive from the full bucket join (same pairs a
    *    rebuild sees);
    *  - TOUCHED old-src rows — the (level, src) keys that gain at
    *    least one old→new bucket candidate — merge the STORED top-M
    *    with those candidates and re-prune: any old→old candidate the
    *    original prune dropped ranked strictly below all M kept rows
    *    in the (dist, dst) order, so it can never re-enter a top-M of
    *    a superset — the merge loses nothing a rebuild would keep;
    *  - UNTOUCHED old-src rows pass through BYTE-IDENTICAL, with no
    *    vector rehydration and no re-prune: an untouched (level, src)
    *    gains zero candidates, so its rebuild candidate set equals its
    *    base-build candidate set and the stored top-M IS the rebuild
    *    answer, so per-batch work is O(batch·bucket + touched·M),
    *    never an O(|edges|) rehydration and re-prune of every stored
    *    edge.
    * Touched stored dists are REANCHORED from the vectors (not reused
    * rounded) so the merge sorts by the same unrounded keys as a
    * rebuild — a 6-decimal tie could otherwise order differently.
    * An empty batch is a no-op returning `existing` unchanged (the
    * dim probe would throw on an empty frame). */
  def appendAdjacency(existing: DataFrame, oldVectors: DataFrame,
                      newBatch: DataFrame,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      blocker: Lsh = defaultBlocker): DataFrame = {
    appendAdjacencyParts(existing, oldVectors, newBatch, idCol, vecCol, blocker) match {
      case None => existing
      case Some((repruned, untouched)) => repruned.unionByName(untouched)
    }
  }

  /** The two branches of [[appendAdjacency]], exposed for the spec that
    * pins the untouched branch's pass-through shape (no Window, stored
    * rows un-joined to vectors). None = empty batch (append is a
    * no-op). */
  private[graft] def appendAdjacencyParts(existing: DataFrame,
      oldVectors: DataFrame, newBatch: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      blocker: Lsh = defaultBlocker): Option[(DataFrame, DataFrame)] = {
    val dimHead = newBatch.select(size(col(vecCol))).limit(1).collect()
    if (dimHead.isEmpty) return None
    val dim = dimHead(0).getInt(0)
    def exploded(df: DataFrame) = df.select(
      col(idCol).as("node_id"), col(vecCol).as("vec"),
      explode(sequence(lit(0), levelCol(col(idCol)))).as("level"))
    val exNew = exploded(newBatch)
    val exOld = exploded(oldVectors)
    val probes = (b: Column) =>
      array(b +: (0 until blocker.numPlanes)
        .map(i => b.bitwiseXOR(lit(1L << i))): _*)
    def lb(ex: DataFrame) = ex
      .select(col("level"), col("node_id").as("src"), col("vec").as("src_vec"))
      .withColumn("bucket", explode(probes(blocker.bucketCol(col("src_vec"), dim))))
    def rb(ex: DataFrame) = ex
      .select(col("level"), col("node_id").as("dst"), col("vec").as("dst_vec"))
      .withColumn("bucket", blocker.bucketCol(col("dst_vec"), dim))
    // src ∈ batch vs dst ∈ old ∪ batch: rebuild-identical for new srcs
    val newSrcPairs = lb(exNew).join(rb(exOld.unionByName(exNew)), Seq("level", "bucket"))
      .filter(col("src") =!= col("dst")).drop("bucket")
    // src ∈ old vs dst ∈ batch: the candidates old nodes gain
    val oldNewPairs = lb(exOld).join(rb(exNew), Seq("level", "bucket"))
      .filter(col("src") =!= col("dst")).drop("bucket")
    // (level, src) keys with >= 1 gained candidate. Materialized
    // (a Cuts cut) because it keys BOTH branches — without the cut
    // each branch would recompute the old×new bucket join.
    val touched = oldNewPairs.select(col("level"), col("src")).distinct()
      .cut()
    // stored edges of TOUCHED keys only, vectors rehydrated (dst of a
    // stored edge is old) — O(touched·M) rows, not O(|edges|)
    val sv = oldVectors.select(col(idCol).as("src"), col(vecCol).as("src_vec"))
    val dv = oldVectors.select(col(idCol).as("dst"), col(vecCol).as("dst_vec"))
    val storedTouched = existing
      .select(col("level"), col("node_id").as("src"), col("neighbor_id").as("dst"))
      .join(touched, Seq("level", "src"), "left_semi")
      .join(sv, "src").join(dv, "dst")
      .select(col("level"), col("src"), col("dst"), col("src_vec"), col("dst_vec"))
    val repruned = topM(newSrcPairs.unionByName(oldNewPairs).unionByName(storedTouched))
    // untouched stored rows pass through without vectors or windows
    val untouched = existing.join(touched
        .select(col("level"), col("src").as("node_id")),
      Seq("level", "node_id"), "left_anti")
      .select(col("node_id"), col("level"), col("neighbor_id"), col("dist"))
    Some((repruned, untouched))
  }

  /** Entry point = a highest-level node (deterministic: smallest id among
    * them, vs the reference's "last inserted at max level",
    * src/index.rs:263-266). */
  def entryPoint(adjacency: DataFrame): (Long, Int) = {
    val r = adjacency
      .groupBy(col("node_id")).agg(max(col("level")).as("lvl"))
      .orderBy(col("lvl").desc, col("node_id").asc)
      .limit(1).collect()(0)
    (r.getLong(0), r.getInt(1))
  }

  /** Serve-time search: greedy descent on levels max..1
    * (src/index.rs:321-324), ef-bounded BEST-FIRST expansion at level 0,
    * exact cosine rerank of the visited set (src/index.rs:345-354).
    * Runs on the driver over the collected adjacency (index head);
    * vectors arrive through `fetch` — a POINT-READ source (kwi
    * IndexedReader seek, pruned parquet read, or a test map). Each
    * distinct id is fetched at most once per query and only visited /
    * candidate ids are ever fetched, so driver-resident vector bytes
    * are O(ef + descent·M), independent of corpus size — the structure
    * a 100 TB serving tier needs (the reference's own entry-table seek
    * path, vector_db/src/binary_index.rs:148-160).
    *
    * Deviation by design: the reference expands level 0 with a plain
    * FIFO BFS (src/index.rs:326-343); we expand closest-first (the
    * standard HNSW ef-beam). Same visited-set bound, same rerank —
    * strictly better recall per visited node, which matters once the
    * graph is LSH-blocked and mediocre edges exist.
    *
    * Scores come from `VectorKernels.cosine`, which gives NULL for
    * operands of different lengths; so a stored vector whose dimension
    * differs from the query's is treated like a missing one and is
    * never a candidate. The entry point must have a usable vector:
    * without one the walk has no start, and the call fails with an
    * `IllegalArgumentException` naming the id and both dimensions.
    */
  def serveQuery(
      adjacency: ((Long, Int)) => Seq[Long],
      fetch: Long => Option[Array[Float]],
      entry: (Long, Int),
      q: Array[Float],
      k: Int): Seq[(Long, Double)] = {

    // per-query memo: ≤ one point read and one cosine per distinct id;
    // a vector of another dimension is kept out like a missing one
    val vecCache = mutable.Map.empty[Long, Option[Array[Float]]]
    def vecOf(id: Long): Option[Array[Float]] =
      vecCache.getOrElseUpdate(id, fetch(id).filter(_.length == q.length))
    val qa = UnsafeArrayData.fromPrimitiveArray(q)
    val simCache = mutable.Map.empty[Long, Double]
    def sim(id: Long): Double = simCache.getOrElseUpdate(id,
      VectorKernels.cosine(UnsafeArrayData.fromPrimitiveArray(vecOf(id).get), true, qa, true))
    def dist(id: Long): Double = 1.0 - sim(id)

    var (current, level) = entry
    require(vecOf(current).isDefined,
      s"hnsw entry point $current has no vector of the query's dimension ${q.length} " +
        s"(stored dimension: ${fetch(current).fold("none")(_.length.toString)})")
    // greedy descent, levels max..1 (src/index.rs:321-324)
    while (level > 0) {
      var improved = true
      while (improved) {
        improved = false
        val ns = adjacency((current, level))
        for (n <- ns if vecOf(n).isDefined) {
          if (dist(n) < dist(current)) { current = n; improved = true }
        }
      }
      level -= 1
    }
    // ef-bounded best-first expansion at level 0: always expand the
    // closest unexpanded node (max-heap on negated distance)
    val visited = mutable.Set[Long](current)
    val cand = mutable.PriorityQueue[(Double, Long)](
      (-dist(current), current))(Ordering.by(_._1))
    while (cand.nonEmpty && visited.size < ef) {
      val (_, u) = cand.dequeue()
      for (n <- adjacency((u, 0))
           if !visited.contains(n) && visited.size < ef && vecOf(n).isDefined) {
        visited += n
        cand.enqueue((-dist(n), n))
      }
    }
    // exact rerank (src/index.rs:345-354)
    visited.toSeq
      .map(id => id -> sim(id))
      .sortBy { case (id, s) => (-s, id) }
      .take(k)
  }

  /** Collected-map overload — the small-corpus fast path (the map is
    * the whole index head; at true 100 TB use kwi neighbor pages behind
    * `CachingAdjacency` instead). */
  def serveQuery(
      adjacency: Map[(Long, Int), Seq[Long]],
      fetch: Long => Option[Array[Float]],
      entry: (Long, Int),
      q: Array[Float],
      k: Int): Seq[(Long, Double)] =
    serveQuery(key => adjacency.getOrElse(key, Seq.empty), fetch, entry, q, k)

  /** Map-backed convenience overload (tests / tiny serving sets). */
  def serveQuery(
      adjacency: Map[(Long, Int), Seq[Long]],
      vecs: Map[Long, Array[Float]],
      entry: (Long, Int),
      q: Array[Float],
      k: Int): Seq[(Long, Double)] =
    serveQuery(adjacency, vecs.get _, entry, q, k)

  /** Collect the adjacency DataFrame into the serve-time map — the
    * index HEAD only (n×M edge ids, no vectors). Vector bytes stay
    * behind the `fetch` point-read source passed to `serveQuery`; the
    * old full-corpus `vectors.collect()` companion was removed because
    * at 100 TB it is a guaranteed driver OOM.
    *
    * TEST/TINY-CORPUS TIER ONLY — the declared serve path is the fully
    * paged walk (kwi neighbor pages wrapped in `CachingAdjacency`). The
    * `maxNodes` guard makes that contract mechanical rather than
    * conventional: a future declared query (or
    * a user copying test code) that points this at a real corpus fails
    * fast with the pointer to the paged tier, instead of OOMing the
    * driver at scale. The node-count probe is one partial-agg row, not
    * a collect. */
  def collectAdjacency(adjacency: DataFrame,
      maxNodes: Long = 100000L): Map[(Long, Int), Seq[Long]] = {
    val grouped = adjacency
      .groupBy(col("node_id"), col("level"))
      .agg(sort_array(collect_list(col("neighbor_id"))).as("ns"))
    val n = grouped.count()
    require(n <= maxNodes,
      s"collectAdjacency: $n (node, level) groups exceed the tiny-corpus " +
        s"bound $maxNodes — this tier materializes the graph head on the " +
        "driver and is for tests only; serve real corpora with the paged " +
        "walk (kwi neighbor pages + CachingAdjacency)")
    grouped.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getSeq[Long](2))
      .toMap
  }
}

object Hnsw {

  /** Bounded LRU (access-ordered LinkedHashMap): single-entry eviction
    * of the least-recently-used key, so a working set hovering near the
    * boundary stays hot instead of thrashing through whole-cache resets
    * on every overflow. */
  private final class Lru[K, V](maxEntries: Int) {
    private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        size() > maxEntries
    }
    def get(k: K): Option[V] = Option(m.get(k))
    def put(k: K, v: V): Unit = m.put(k, v)
    def values: Iterator[V] = {
      import scala.jdk.CollectionConverters._
      m.values.iterator.asScala
    }
  }

  /** Cross-query caching point-read source: at most one underlying
    * fetch per distinct RESIDENT id, LRU-bounded at `maxEntries`
    * vectors so a long-lived session issuing unbounded query streams
    * holds O(maxEntries) driver memory, not O(corpus) — an evicted id
    * is simply re-fetched (point reads, cheap). `fetched` counts
    * MATERIALIZATIONS paid (equal to distinct fetched ids until the
    * first eviction; a re-fetch after eviction counts again) — the
    * observable the serve contract bounds at O(queries × ef), which
    * IndexSpec asserts stays far below corpus size. Wrap a kwi
    * `IndexedReader.get` (or any point-read lambda) and hand the
    * wrapper to `serveQuery`. */
  final class CachingFetch(fetch: Long => Option[Array[Float]],
      maxEntries: Int = 1 << 16)
      extends (Long => Option[Array[Float]]) {
    require(maxEntries > 0, "maxEntries must be positive")
    private val cache = new Lru[Long, Option[Array[Float]]](maxEntries)
    private var materialized = 0
    def apply(id: Long): Option[Array[Float]] = cache.get(id) match {
      case Some(v) => v
      case None =>
        val v = fetch(id)
        if (v.isDefined) materialized += 1
        cache.put(id, v)
        v
    }
    /** Vector materializations paid so far (see class doc: counts
      * re-materializations after LRU eviction, not distinct ids). */
    def fetched: Int = materialized
    /** Vectors currently driver-resident (always <= maxEntries). */
    def resident: Int = cache.values.count(_.isDefined)
  }

  /** Caching NEIGHBOR-LIST source — the paged serve head. A head that
    * collected the whole adjacency (O(n·M) edge ids on the driver)
    * would outgrow one driver at genuine 100 TB, so this wraps a
    * neighbor-list point read (a kwi page seek through
    * `decodeNeighbors`, or any (node, level) => neighbors lambda) with
    * the same LRU bound and materialization counter as CachingFetch:
    * driver-resident EDGES are O(maxEntries · M) and a walk pays
    * O(visited) list reads. */
  final class CachingAdjacency(fetch: ((Long, Int)) => Seq[Long],
      maxEntries: Int = 1 << 16)
      extends (((Long, Int)) => Seq[Long]) {
    require(maxEntries > 0, "maxEntries must be positive")
    private val cache = new Lru[(Long, Int), Seq[Long]](maxEntries)
    private var materialized = 0
    def apply(key: (Long, Int)): Seq[Long] = cache.get(key) match {
      case Some(ns) => ns
      case None =>
        val ns = fetch(key)
        materialized += 1
        cache.put(key, ns)
        ns
    }
    /** Neighbor-list materializations paid so far (counts re-reads
      * after LRU eviction, not distinct keys). */
    def fetched: Int = materialized
    /** Edge ids currently driver-resident. */
    def residentEdges: Long = cache.values.map(_.size.toLong).sum
  }

  /** Exact-range bound of the 2-float neighbor-id encoding: each id
    * splits into hi = id >> 20 and lo = id & 0xFFFFF, both < 2²⁴, and
    * float32 represents every integer up to 2²⁴ exactly — so any id
    * below 2⁴⁴ (≈17.6 trillion nodes) round-trips bit-exactly. */
  val MaxEncodableId: Long = 1L << 44
  private val LoBits = 20
  private val LoMask = (1L << LoBits) - 1

  /** Encode a neighbor list as the float payload of one kwi record
    * (2 floats per id, exact below [[MaxEncodableId]]). Driver/test
    * twin of the SQL expression in [[adjacencyPages]]. */
  def encodeNeighbors(ids: Seq[Long]): Array[Float] = {
    val out = new Array[Float](ids.length * 2)
    var i = 0
    ids.foreach { n =>
      require(n >= 0 && n < MaxEncodableId,
        s"neighbor id $n outside the exact 2-float range [0, $MaxEncodableId)")
      out(i) = (n >> LoBits).toFloat
      out(i + 1) = (n & LoMask).toFloat
      i += 2
    }
    out
  }

  /** Decode one kwi neighbor page back to ids. */
  def decodeNeighbors(page: Array[Float]): Seq[Long] = {
    require(page.length % 2 == 0, s"odd neighbor page length ${page.length}")
    val out = new Array[Long](page.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = (page(2 * i).toLong << LoBits) | page(2 * i + 1).toLong
      i += 1
    }
    out.toSeq
  }

  /** Neighbor PAGES of the adjacency as kwi rows (id = "node:level",
    * embedding = the sorted neighbor list in the 2-float encoding),
    * computed DISTRIBUTED — one keyed aggregate, no driver map. Write
    * with `KwiFormat.write` and serve through `IndexedReader.get`
    * point reads + [[decodeNeighbors]]: the serve head then pages the
    * GRAPH the same way it already pages the vectors (O(1) offset-table
    * seeks, no Spark job per miss), so driver-resident state is the
    * CachingAdjacency LRU, never O(n·M). */
  def adjacencyPages(adjacency: DataFrame): DataFrame =
    adjacency
      .groupBy(col("node_id"), col("level"))
      .agg(sort_array(collect_list(col("neighbor_id"))).as("ns"))
      .select(
        concat(col("node_id"), lit(":"), col("level")).as("id"),
        // the if/raise_error guard is the SQL twin of encodeNeighbors'
        // require: an id outside [0, 2^44) must FAIL the build, never
        // round silently through the float cast and serve wrong nodes
        expr(s"flatten(transform(ns, n -> array(" +
          s"if(n >= 0 and n < $MaxEncodableId, " +
          s"cast(shiftright(n, $LoBits) as float), " +
          s"raise_error(concat('hnsw: neighbor id ', n, " +
          s"' outside the exact 2-float range'))), " +
          s"cast(n % ${1L << LoBits} as float))))").as("embedding"))
}
