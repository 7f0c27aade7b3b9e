package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.TopK

/** Collection catalog — the Spark-native replacement for the reference's
  * `CollectionManager` (kowari vector_db/src/collection_manager.rs).
  *
  * Layout: `<base>/<name>/{data/ (parquet), _meta.json}` — one parquet
  * directory per collection instead of the reference's dual
  * SQLite + `.kwi` stores (whose non-atomic dual-write can diverge,
  * collection_manager.rs:154-163). A single columnar store per
  * collection removes that hazard by construction and scales to
  * many-file parquet on a real cluster.
  *
  * Semantics pinned from the reference:
  *   - fixed dimension per collection, validated at insert
  *     (collection_manager.rs:146-152) → DimensionMismatchException;
  *   - a non-NULL vector of finite, non-NULL components, validated at
  *     insert and upsert → NonFiniteVectorException;
  *   - root-crate strict CRUD: DuplicateId on re-insert
  *     (src/storage.rs:30-36), MissingId on absent delete (:42-47);
  *   - `upsert` keeps the subcrate's INSERT-OR-REPLACE behavior
  *     (vector_db/src/storage.rs:30-33) for bulk pipelines;
  *   - insertion-ordered scans via a monotone `ingest_seq` column
  *     (the reference's ORDER BY created_at, sqlite_storage.rs:124);
  *   - sidecar stats (`_meta.json`): version, dimension, created_at,
  *     vector_count, last_updated, storage_type
  *     (local_storage.rs:187-199).
  *
  * Collection row schema:
  *   id STRING, embedding ARRAY&lt;FLOAT&gt;, metadata STRING (JSON),
  *   ingest_seq LONG.
  */
class CollectionManager(spark: SparkSession, basePath: String) {
  import CollectionManager._

  private def dir(name: String): Path = Paths.get(basePath, name)
  private def dataDir(name: String): String = dir(name).resolve("data").toString
  private def deletesDir(name: String): Path = dir(name).resolve("deletes")
  private def metaPath(name: String): Path = dir(name).resolve("_meta.json")

  Files.createDirectories(Paths.get(basePath))
  // the managed store hides itself from version control, exactly like
  // the reference's `.vector_storage/.gitignore` containing "*"
  // (local_storage.rs:35-41)
  locally {
    val gi = Paths.get(basePath, ".gitignore")
    if (!Files.exists(gi))
      Files.write(gi, "*\n".getBytes(StandardCharsets.UTF_8))
  }

  // --- catalog ops (collection_manager.rs:44-140) ---

  def createCollection(name: String, dimension: Int): Unit = {
    require(!Files.exists(dir(name)), s"collection exists: $name")
    Files.createDirectories(dir(name))
    val now = System.currentTimeMillis() / 1000
    writeMeta(metaPath(name), Meta(1, dimension, now, 0L, now))
    // seed an empty parquet dir with the canonical schema
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("overwrite").parquet(dataDir(name))
  }

  def listCollections(): Seq[String] =
    if (!Files.exists(Paths.get(basePath))) Seq.empty
    else {
      val s = Files.list(Paths.get(basePath))
      try s.iterator().asScala()
        .filter(p => Files.exists(p.resolve("_meta.json")))
        .map(_.getFileName.toString).toSeq.sorted
      finally s.close()
    }

  def deleteCollection(name: String): Unit = {
    requireExists(name)
    deleteRecursively(dir(name))
  }

  def collectionInfo(name: String): Meta = {
    requireExists(name)
    readMeta(metaPath(name))
  }

  // --- data ops ---

  /** Full scan in insertion order (sqlite_storage.rs:122-138 semantics). */
  def allVectors(name: String): DataFrame =
    scan(name).orderBy(col("ingest_seq"))

  /** Every physical data row, deletion semantics NOT applied. */
  private def rawScan(name: String): DataFrame = {
    requireExists(name)
    spark.read.schema(schema).parquet(dataDir(name))
  }

  /** Unordered LIVE scan — the cheap distributed path for analytics.
    * Tombstone-aware: `delete` appends a marker row to the tiny
    * `deletes/` SIDECAR dir instead of rewriting the data (the kwi
    * `appendTombstone` pattern with the marker stream split out), and
    * the scan drops every row at-or-before its id's latest marker seq —
    * so delete→re-insert leaves the new row live, exactly the
    * oldest-occurrence-dies replay of the kwi reader. Scale shape:
    * marker DISCOVERY reads only the sidecar (O(#deletes-since-
    * compaction) bytes, never a sweep of the data files), and the
    * marker set rides into the scan as a broadcast join — the data
    * itself never reshuffles. */
  def scan(name: String): DataFrame = {
    val live = rawScan(name)
    val dd = deletesDir(name)
    if (!Files.exists(dd)) live
    else {
      val tombs = spark.read.schema(deleteSchema).parquet(dd.toString)
        .groupBy(col("id")).agg(max(col("tomb_seq")).as("__tomb_seq"))
      live.join(broadcast(tombs), Seq("id"), "left")
        .filter(col("__tomb_seq").isNull || col("ingest_seq") > col("__tomb_seq"))
        .drop("__tomb_seq")
    }
  }

  def countVectors(name: String): Long = scan(name).count()

  /** Point lookup (src/query.rs:54-56). */
  def getVector(name: String, id: String): DataFrame =
    scan(name).filter(col("id") === lit(id))

  /** Strict insert: errors on any duplicate id (src/storage.rs:30-36),
    * dimension mismatch (collection_manager.rs:146-152), NULL vector or
    * NULL or non-finite component. `rows` needs columns (id, embedding,
    * metadata?). An id is a duplicate when it is already stored or
    * repeats within the batch — the reference inserts row by row, so the
    * second copy raises. Both kinds are found in one action: a
    * broadcast-friendly semi join against the stored ids (no full
    * shuffle of the existing data) beside a count over the batch's own
    * ids.
    */
  def insert(name: String, rows: DataFrame): Unit = {
    val meta = collectionInfo(name)
    val incoming = normalize(rows)
    validate(incoming, meta.dimension)

    val stored = incoming.join(scan(name).select("id"), Seq("id"), "left_semi")
      .select("id")
    val repeated = incoming.groupBy("id").count().filter(col("count") > 1)
      .select("id")
    val dups = stored.union(repeated).distinct().orderBy("id")
      .limit(5).collect().map(_.getString(0)).toSeq
    if (dups.nonEmpty) throw DuplicateIdException(dups)

    appendRows(name, incoming, meta)
  }

  /** Upsert: INSERT OR REPLACE semantics of the subcrate/SQLite path
    * (vector_db/src/sqlite_storage.rs:82-91). Existing rows with matching
    * ids are replaced in one rewrite. An id repeated within the batch
    * keeps only its last copy (the highest `ingest_seq`), as the
    * reference's row-by-row replace leaves it. */
  def upsert(name: String, rows: DataFrame): Unit = {
    val meta = collectionInfo(name)
    val incoming = normalize(rows)
    validate(incoming, meta.dimension)

    // Rebase incoming ingest_seq past the current max (as appendRows does):
    // raw monotonically_increasing_id values would collide with existing
    // seqs and could sort replaced rows before older ones, breaking the
    // insertion-ordered allVectors contract (sqlite_storage.rs:122-138).
    val base = scan(name)
      .agg(coalesce(max(col("ingest_seq")), lit(-1L))).collect()(0).getLong(0)
    val rebased = TopK.per(incoming, Seq(col("id")), Seq(col("ingest_seq").desc), 1, "__copy")
      .drop("__copy")
      .withColumn("ingest_seq", col("ingest_seq") + lit(base + 1))
    val survivors = scan(name)
      .join(incoming.select("id"), Seq("id"), "left_anti")
      .select(schema.fieldNames.map(col): _*)
    rewrite(name, survivors.unionByName(rebased), meta)
  }

  /** Strict delete: MissingId if the id is not live (src/storage.rs:42-47).
    * Deletion is a TOMBSTONE APPEND (BinaryIndex delete,
    * binary_index.rs:197-212): one (id, tomb_seq) marker row in the
    * `deletes/` sidecar, where tomb_seq = the data's current max
    * ingest_seq — the marker kills every existing occurrence of the id
    * and none inserted later. The data files are never rewritten per id
    * (a 100 TB collection cannot pay a full rewrite for one delete);
    * `optimizeCollection` compacts markers and dead rows away, the same
    * deferred-compaction split the `.kwi` format uses. */
  def delete(name: String, id: String): Unit = {
    val meta = collectionInfo(name)
    if (scan(name).filter(col("id") === lit(id)).isEmpty)
      throw MissingIdException(id)
    val base = rawScan(name)
      .agg(coalesce(max(col("ingest_seq")), lit(-1L))).collect()(0).getLong(0)
    val marker = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(id, base)), deleteSchema)
    marker.write.mode("append").parquet(deletesDir(name).toString)
    bumpMeta(name, meta)
  }

  /** Truncate (src/storage.rs:24-26). */
  def clear(name: String): Unit = {
    val meta = collectionInfo(name)
    rewrite(name, spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema), meta)
  }

  /** Compaction (binary_index.rs:239-257 `optimize`): rewrite the LIVE
    * rows into right-sized files — deletion markers and the rows they
    * killed drop out here, not at delete time. */
  def optimizeCollection(name: String, targetFiles: Int = 1): Unit = {
    val meta = collectionInfo(name)
    rewrite(name, scan(name).coalesce(targetFiles), meta)
  }

  // --- internals ---

  private def requireExists(name: String): Unit =
    if (!Files.exists(metaPath(name))) throw NoSuchCollectionException(name)

  /** Reject a batch holding a vector of the wrong dimension
    * (DimensionMismatchException, which wins), a NULL vector, or one with
    * a NULL, NaN or infinite component (NonFiniteVectorException): a NaN
    * score sorts above every real one under `score DESC`, so one such
    * stored vector would top every search, and a NULL one has no score
    * at all. One action finds every kind. Both tests are written to be
    * true or false, never NULL, so the filter cannot drop a bad row. */
  private def validate(incoming: DataFrame, dimension: Int): Unit = {
    val emb = col("embedding")
    val dimOk = emb.isNull || size(emb) === dimension
    val finite = emb.isNotNull &&
      !exists(emb, x => x.isNull || isnan(x) || abs(x) === Float.PositiveInfinity)
    val bad = incoming.filter(!dimOk || !finite)
      .select(col("id"), size(emb).as("dim"), dimOk.as("dim_ok"))
      .orderBy(col("dim_ok"), col("id")).limit(5).collect()
    val badDims = bad.filterNot(_.getBoolean(2)).map(_.getInt(1)).toSeq
    if (badDims.nonEmpty) throw DimensionMismatchException(dimension, badDims)
    if (bad.nonEmpty) throw NonFiniteVectorException(bad.map(_.getString(0)).toSeq)
  }

  /** Conform incoming rows to the canonical schema; assign ingest_seq
    * after the current max so insertion order is preserved across
    * batches. Within a batch, order follows the incoming row order via
    * a monotone id per partition (zipWithIndex-free, shuffle-free). */
  private def normalize(rows: DataFrame): DataFrame = {
    val withMeta =
      if (rows.columns.contains("metadata")) rows
      else rows.withColumn("metadata", lit(null).cast(StringType))
    withMeta
      .withColumn("embedding", col("embedding").cast(ArrayType(FloatType)))
      .withColumn("id", col("id").cast(StringType))
      .withColumn("ingest_seq", monotonically_increasing_id())
      .select(schema.fieldNames.map(col): _*)
  }

  private def appendRows(name: String, incoming: DataFrame, meta: Meta): Unit = {
    val base = spark.read.schema(schema).parquet(dataDir(name))
      .agg(coalesce(max(col("ingest_seq")), lit(-1L))).collect()(0).getLong(0)
    incoming
      .withColumn("ingest_seq", col("ingest_seq") + lit(base + 1))
      .write.mode("append").parquet(dataDir(name))
    bumpMeta(name, meta)
  }

  /** Atomic-ish rewrite: write to a temp dir, then swap. Spark cannot
    * overwrite a parquet dir it is currently reading. A rewrite bakes
    * deletion semantics into the data (its input comes from the live
    * `scan`), so the marker sidecar is cleared afterwards. */
  private def rewrite(name: String, df: DataFrame, meta: Meta): Unit = {
    val tmp = dir(name).resolve("data.tmp")
    df.select(schema.fieldNames.map(col): _*)
      .write.mode("overwrite").parquet(tmp.toString)
    val dst = dir(name).resolve("data")
    deleteRecursively(dst)
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(deletesDir(name))
    bumpMeta(name, meta)
  }

  private def bumpMeta(name: String, old: Meta): Unit = {
    val n = countVectors(name)
    writeMeta(metaPath(name),
      old.copy(vectorCount = n, lastUpdated = System.currentTimeMillis() / 1000))
  }
}

object CollectionManager {
  val schema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("metadata", StringType, nullable = true),
    StructField("ingest_seq", LongType, nullable = false)))

  /** `deletes/` sidecar row: the marker kills every occurrence of `id`
    * with ingest_seq &lt;= tomb_seq. */
  val deleteSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("tomb_seq", LongType, nullable = false)))

  /** `_meta.json` sidecar — keys per local_storage.rs:187-199. */
  final case class Meta(
      version: Int,
      dimension: Int,
      createdAt: Long,
      vectorCount: Long,
      lastUpdated: Long,
      storageType: String = "graft_parquet")

  private[sources] def writeMeta(p: Path, m: Meta): Unit = {
    val json =
      s"""{"version": ${m.version}, "dimension": ${m.dimension}, "created_at": ${m.createdAt}, "vector_count": ${m.vectorCount}, "last_updated": ${m.lastUpdated}, "storage_type": "${m.storageType}"}"""
    Files.write(p, json.getBytes(StandardCharsets.UTF_8))
  }

  private[sources] def readMeta(p: Path): Meta = {
    val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    def field(k: String): String = {
      val m = ("\"" + k + "\"\\s*:\\s*(\"[^\"]*\"|[0-9-]+)").r
        .findFirstMatchIn(s)
        .getOrElse(throw new IllegalStateException(s"bad meta: missing $k"))
      m.group(1).stripPrefix("\"").stripSuffix("\"")
    }
    Meta(field("version").toInt, field("dimension").toInt,
      field("created_at").toLong, field("vector_count").toLong,
      field("last_updated").toLong, field("storage_type"))
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Scala-friendly java stream iterator. */
  implicit private[sources] class JIter[T](it: java.util.Iterator[T]) {
    def asScala(): Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = it.next()
    }
  }
}
