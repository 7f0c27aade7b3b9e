package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{CollectionManager, JsonStore, KwiFormat}

/** End-to-end storage parity exercised as a declared query: build a
  * collection from the `embeddings` table, export to `.kwi`, read it
  * back, and emit counts that the DuckDB oracle can derive from the
  * source table alone. Runs the whole §2.4–§2.6 surface (catalog create,
  * validated insert, scan, kwi write/read) inside the driver's t2 gate.
  */
object StorageQueries extends QueryRegistry {
  import Tables._

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "storage_roundtrip" -> ((s, dir) => {
      val base = Files.createTempDirectory("graft-verify-store").toString
      val cm = new CollectionManager(s, base)
      val src = embeddings(s, dir).select(
        col("vec_id").cast("string").as("id"),
        col("embedding"),
        to_json(struct(col("label"))).as("metadata"))
      val dim = src.select(size(col("embedding"))).limit(1).collect()(0).getInt(0)
      cm.createCollection("embeddings", dim)
      cm.insert("embeddings", src)

      val kwiPath = s"$base/export.kwi"
      KwiFormat.write(cm.scan("embeddings"), kwiPath)
      val back = s.read.format("kwi").load(kwiPath)
      // counts of the record stream: a bare count() is answered from the
      // header (COUNT(*) pushdown), and the residual filter keeps it off
      def records(): Long = back.filter(col("id").isNotNull).count()

      val nCollection = cm.countVectors("embeddings")
      val nKwi = records()
      val nMetaOk = back
        .filter(get_json_object(col("metadata"), "$.label").isNotNull)
        .count()

      // tombstone-delete ten records (BinaryIndex delete semantics:
      // markers appended, data bytes remain), then compact — reads must
      // agree with the live count at every stage
      (0 until 10).foreach(i => KwiFormat.appendTombstone(kwiPath, i.toString))
      val nAfterDelete = records()
      KwiFormat.optimize(kwiPath)
      val nAfterOptimize = KwiFormat.count(kwiPath)
      CollectionManager.deleteRecursively(java.nio.file.Paths.get(base))

      import s.implicits._
      Seq((nCollection, nKwi, nMetaOk, nAfterDelete, nAfterOptimize))
        .toDF("n_collection", "n_kwi", "n_meta_ok",
          "n_after_delete", "n_after_optimize")
    }),

    // PersistentStorage parity as a declared query: JSONL save + O(1)
    // append + load; counts AND a float value survive the JSON
    // round-trip (shortest-round-trip repr both directions), which is
    // what the e0_first probe pins against the parquet source
    "json_store_roundtrip" -> ((s, dir) => {
      val base = Files.createTempDirectory("graft-verify-json").toString
      val path = s"$base/store"
      val all = embeddings(s, dir)
      def shaped(df: DataFrame): DataFrame = df.select(
        col("vec_id").cast("string").as("id"),
        col("embedding"),
        to_json(struct(col("label"))).as("metadata"))
      JsonStore.save(shaped(all.filter(col("vec_id") < 100)), path)
      JsonStore.append(
        shaped(all.filter(col("vec_id") >= 100 && col("vec_id") < 150)), path)
      val back = JsonStore.load(s, path)
      val nRows = back.count()
      val nMetaOk = back
        .filter(get_json_object(col("metadata"), "$.label").isNotNull).count()
      val e0 = back.filter(col("id") === "0")
        .select(round(element_at(col("embedding"), 1).cast("double"), 6))
        .collect()(0).getDouble(0)
      CollectionManager.deleteRecursively(java.nio.file.Paths.get(base))
      import s.implicits._
      Seq((nRows, nMetaOk, e0)).toDF("n_rows", "n_meta_ok", "e0_first")
    }),

    // The reference's O(1) entry-table point read surfaced to SQL
    // (binary_index.rs:148-160): DSv2 WRITE shards the corpus to .kwi
    // in parallel, then a plain spark.read...filter(id IN ...) routes
    // through SupportsPushDownFilters into the offset-table
    // IndexedReader — values hash-verified against the parquet source,
    // so the pushdown path's row multiset is pinned by the oracle, not
    // just by the plan test in KwiDataSourceSpec
    "kwi_sql_point_read" -> ((s, dir) => {
      s.read.format("kwi").load(kwiSqlStore(s, dir))
        .filter(col("id").isin("7", "42", "123"))
        .select(col("id").cast("long").as("vec_id"),
          (round(element_at(col("embedding"), 1).cast("double"), 6) + 0.0).as("e1"),
          size(col("embedding")).cast("long").as("dim"))
        .orderBy(col("vec_id"))
    }),

    // COUNT(*) over the kwi store answered from the shard HEADERS
    // (DSv2 aggregate pushdown, KwiScanBuilder.pushAggregation) — the
    // reference's O(1) get_vector_count stat surfaced to SQL; the
    // oracle pins the value against the parquet source, and
    // KwiDataSourceSpec pins that the plan really pushed (the scan
    // schema collapses to the count column and tombstoned shards stay
    // exact)
    "kwi_sql_count" -> ((s, dir) =>
      s.read.format("kwi").load(kwiSqlStore(s, dir))
        .agg(count(lit(1)).cast("long").as("n_vectors"))),

    // kwi time travel: every DSv2 commit records a snapshot manifest
    // (the Delta/Iceberg idea applied to the shard directory), so a
    // two-commit store — overwrite of the first half (v1), append of
    // the rest (v2) — serves three reads: snapshot 1 must see ONLY the
    // first half, snapshot 2 and "latest" the whole corpus. Exact row
    // counts and id sums per version, replayed by the oracle from the
    // base table. Scale shape: manifests are O(#shards) text files,
    // resolution is one driver-side read, and each snapshot read
    // plans one input partition per listed shard — time travel adds
    // zero per-row cost.
    "kwi_snapshot_read" -> ((s, dir) => {
      val p = kwiSnapshotStore(s, dir)
      def roll(opt: (String, String), pre: String) =
        s.read.format("kwi").option(opt._1, opt._2).load(p)
          .select(col("id").cast("long").as("i"))
          .agg(count(lit(1)).cast("long").as(pre + "_rows"),
            sum(col("i")).as(pre + "_idsum"))
      roll("snapshot" -> "1", "v1")
        .crossJoin(roll("snapshot" -> "2", "v2"))
        .crossJoin(roll("snapshot" -> "latest", "lt"))
        // incremental consumption: 1..2 must be EXACTLY the appended half
        .crossJoin(roll("snapshotDiff" -> "1..2", "d"))
        .select(col("v1_rows"), col("v1_idsum"), col("v2_rows"), col("v2_idsum"),
          (col("lt_rows") === col("v2_rows") &&
            col("lt_idsum") === col("v2_idsum")).as("latest_matches_v2"),
          col("d_rows").as("diff_rows"), col("d_idsum").as("diff_idsum"))
    }),
  )

  /** The embeddings table written once per session as a kwi store
    * (SharedBuilds, like the other durable artifacts) — the single
    * build both kwi SQL queries read. */
  private def kwiSqlStore(s: SparkSession, dir: String): String =
    SharedBuilds.of(s, dir, "kwi-sql-store") {
      val p = Files.createTempDirectory("graft-verify-kwisql").toString + "/store"
      embeddings(s, dir)
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
        .write.format("kwi").mode("overwrite").save(p)
      p
    }

  /** Two-commit kwi store for the snapshot query: first half via
    * overwrite (snapshot 1), second half via append (snapshot 2). */
  private def kwiSnapshotStore(s: SparkSession, dir: String): String =
    SharedBuilds.of(s, dir, "kwi-snapshot-store") {
      val p = Files.createTempDirectory("graft-verify-kwisnap").toString + "/store"
      val emb = embeddings(s, dir)
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
      val half = embeddings(s, dir).count() / 2
      emb.filter(col("id").cast("long") < half)
        .write.format("kwi").mode("overwrite").save(p)
      emb.filter(col("id").cast("long") >= half)
        .write.format("kwi").mode("append").save(p)
      p
    }

  override def oracle: Map[String, String] = Map(
    "kwi_sql_point_read" ->
      """SELECT vec_id,
        |       round(CAST(embedding[1] AS DOUBLE), 6) + 0.0 AS e1,
        |       CAST(len(embedding) AS BIGINT) AS dim
        |FROM embeddings WHERE vec_id IN (7, 42, 123)
        |ORDER BY vec_id""".stripMargin,

    "kwi_sql_count" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM embeddings""".stripMargin,

    "kwi_snapshot_read" ->
      """WITH h AS (SELECT count(*) // 2 AS h FROM embeddings)
        |SELECT
        |  CAST((SELECT count(*) FROM embeddings, h WHERE vec_id < h.h) AS BIGINT) AS v1_rows,
        |  CAST((SELECT sum(vec_id) FROM embeddings, h WHERE vec_id < h.h) AS BIGINT) AS v1_idsum,
        |  CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS v2_rows,
        |  CAST((SELECT sum(vec_id) FROM embeddings) AS BIGINT) AS v2_idsum,
        |  true AS latest_matches_v2,
        |  CAST((SELECT count(*) FROM embeddings, h WHERE vec_id >= h.h) AS BIGINT) AS diff_rows,
        |  CAST((SELECT sum(vec_id) FROM embeddings, h WHERE vec_id >= h.h) AS BIGINT) AS diff_idsum""".stripMargin,

    "storage_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_collection,
        |       CAST(count(*) AS BIGINT) AS n_kwi,
        |       CAST(count(*) AS BIGINT) AS n_meta_ok,
        |       CAST(count(*) - 10 AS BIGINT) AS n_after_delete,
        |       CAST(count(*) - 10 AS BIGINT) AS n_after_optimize
        |FROM embeddings""".stripMargin,

    "json_store_roundtrip" ->
      """SELECT
        |  CAST((SELECT count(*) FROM embeddings WHERE vec_id < 150) AS BIGINT) AS n_rows,
        |  CAST((SELECT count(*) FROM embeddings WHERE vec_id < 150) AS BIGINT) AS n_meta_ok,
        |  (SELECT round(CAST(embedding[1] AS DOUBLE), 6) FROM embeddings WHERE vec_id = 0) AS e0_first""".stripMargin,
  )
}
