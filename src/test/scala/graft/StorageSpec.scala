package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.sources._

/** Storage parity suite — replicates the reference's CRUD / persistence /
  * error-contract idioms (SURVEY.md §5, FIXTURES.md §A4/§A5). */
class StorageSpec extends SparkSpec {
  import spark.implicits._

  private def freshBase(): String =
    Files.createTempDirectory("graft-collections").toString

  private def rows(ids: (String, Array[Float])*) =
    ids.toSeq.toDF("id", "embedding")

  private val v3a = Array(1.0f, 2.0f, 3.0f)
  private val v3b = Array(4.0f, 5.0f, 6.0f)

  test("create/list/info/delete collection with _meta.json sidecar") {
    val base = freshBase()
    val cm = new CollectionManager(spark, base)
    // managed dir hides itself from git (local_storage.rs:35-41 parity)
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(base, ".gitignore"))) === "*\n")
    cm.createCollection("docs", 3)
    cm.createCollection("embs", 64)
    assert(cm.listCollections() === Seq("docs", "embs"))
    val info = cm.collectionInfo("docs")
    assert(info.dimension === 3)
    assert(info.vectorCount === 0L)
    assert(info.storageType === "graft_parquet")
    cm.deleteCollection("docs")
    assert(cm.listCollections() === Seq("embs"))
    intercept[NoSuchCollectionException](cm.scan("docs"))
  }

  test("insert + round-trip preserves id, data, metadata") {
    val cm = new CollectionManager(spark, freshBase())
    cm.createCollection("c", 3)
    val meta = """{"user":{"id":12345,"preferences":{"theme":"dark"}},"tags":["test","vector"]}"""
    cm.insert("c", Seq(("a", v3a, meta)).toDF("id", "embedding", "metadata"))
    val got = cm.allVectors("c").collect()
    assert(got.length === 1)
    assert(got(0).getAs[String]("id") === "a")
    assert(got(0).getAs[Seq[Float]]("embedding") === v3a.toSeq)
    assert(got(0).getAs[String]("metadata") === meta)
    // nested JSON stays queryable
    val theme = cm.scan("c")
      .select(get_json_object($"metadata", "$.user.preferences.theme"))
      .collect()(0).getString(0)
    assert(theme === "dark")
  }

  test("duplicate insert raises DuplicateIdException (src/storage.rs:30-36)") {
    val cm = new CollectionManager(spark, freshBase())
    cm.createCollection("c", 3)
    cm.insert("c", rows("a" -> v3a))
    val e = intercept[DuplicateIdException](cm.insert("c", rows("a" -> v3b)))
    assert(e.ids === Seq("a"))
    assert(cm.countVectors("c") === 1L)
  }

  test("an id repeated within one insert batch raises DuplicateIdException") {
    val cm = new CollectionManager(spark, freshBase())
    cm.createCollection("c", 3)
    cm.insert("c", rows("z" -> v3a))
    val e = intercept[DuplicateIdException](
      cm.insert("c", rows("a" -> v3a, "b" -> v3b, "a" -> v3b)))
    assert(e.ids === Seq("a"))
    // nothing of the rejected batch is stored
    assert(cm.scan("c").select("id").as[String].collect().toSeq === Seq("z"))
    // a batch mixing a stored id and a repeated one reports both
    val both = intercept[DuplicateIdException](
      cm.insert("c", rows("z" -> v3b, "b" -> v3a, "b" -> v3b)))
    assert(both.ids === Seq("b", "z"))
  }

  test("delete of missing id raises MissingIdException (src/storage.rs:42-47)") {
    val cm = new CollectionManager(spark, freshBase())
    cm.createCollection("c", 3)
    cm.insert("c", rows("a" -> v3a))
    intercept[MissingIdException](cm.delete("c", "nope"))
    cm.delete("c", "a")
    assert(cm.countVectors("c") === 0L)
  }

  test("parquet delete is a tombstone append — no data rewrite; optimize compacts") {
    val base = freshBase()
    val cm = new CollectionManager(spark, base)
    cm.createCollection("c", 3)
    cm.insert("c", rows("a" -> v3a, "b" -> v3b))
    def dataFiles: Set[String] = {
      val s = Files.list(Paths.get(base, "c", "data"))
      try {
        val it = s.iterator()
        val b = Set.newBuilder[String]
        while (it.hasNext) {
          val n = it.next().getFileName.toString
          if (n.endsWith(".parquet")) b += n
        }
        b.result()
      } finally s.close()
    }
    val before = dataFiles
    cm.delete("c", "a")
    // the marker went to the deletes/ SIDECAR: the data files are
    // byte-identical (marker discovery never sweeps the data at scale)
    assert(dataFiles === before, "delete touched the data dir")
    assert(Files.exists(Paths.get(base, "c", "deletes")))
    assert(cm.scan("c").select("id").as[String].collect() === Array("b"))
    assert(cm.countVectors("c") === 1L)
    // delete → re-insert: only the OLD occurrence is dead (kwi replay)
    cm.insert("c", rows("a" -> v3b))
    assert(cm.getVector("c", "a").select($"embedding")
      .collect()(0).getSeq[Float](0) === v3b.toSeq)
    assert(cm.countVectors("c") === 2L)
    // optimize bakes deletes into the data and clears the sidecar
    cm.optimizeCollection("c")
    assert(cm.countVectors("c") === 2L)
    assert(!Files.exists(Paths.get(base, "c", "deletes")))
    val raw = spark.read.schema(CollectionManager.schema)
      .parquet(Paths.get(base, "c", "data").toString)
    assert(raw.count() === 2L)
  }

  test("dimension validation (collection_manager.rs:146-152)") {
    val cm = new CollectionManager(spark, freshBase())
    cm.createCollection("c", 64)
    val e = intercept[DimensionMismatchException](cm.insert("c", rows("a" -> v3a)))
    assert(e.expected === 64)
    assert(e.got === Seq(3))
    cm.insert("c", rows("ok" -> Array.fill(64)(0.5f)))
    assert(cm.countVectors("c") === 1L)
  }

  test("upsert replaces existing ids (sqlite INSERT OR REPLACE parity)") {
    val cm = new CollectionManager(spark, freshBase())
    cm.createCollection("c", 3)
    cm.insert("c", rows("a" -> v3a, "b" -> v3b))
    cm.upsert("c", rows("a" -> v3b, "z" -> v3a))
    val got = cm.scan("c").select($"id", $"embedding").collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
    assert(got.keySet === Set("a", "b", "z"))
    assert(got("a") === v3b.toSeq)
  }

  test("upsert rebases ingest_seq: replaced rows sort after survivors") {
    val cm = new CollectionManager(spark, freshBase())
    cm.createCollection("c", 3)
    cm.insert("c", rows("a" -> v3a, "b" -> v3b))
    cm.upsert("c", rows("a" -> v3b, "z" -> v3a))
    // INSERT OR REPLACE re-inserts: survivors keep their position, the
    // upserted batch lands after them in batch order — and no two rows
    // may share a seq (the raw monotonic ids collided before the fix)
    assert(cm.allVectors("c").select("id").as[String].collect()
      === Array("b", "a", "z"))
    val seqs = cm.scan("c").select("ingest_seq").as[Long].collect()
    assert(seqs.distinct.length === seqs.length)
  }

  test("insertion-order scan + sidecar stats + optimize") {
    val cm = new CollectionManager(spark, freshBase())
    cm.createCollection("c", 3)
    cm.insert("c", rows("first" -> v3a))
    cm.insert("c", rows("second" -> v3b))
    cm.insert("c", rows("third" -> v3a))
    assert(cm.allVectors("c").select("id").as[String].collect()
      === Array("first", "second", "third"))
    assert(cm.collectionInfo("c").vectorCount === 3L)
    cm.optimizeCollection("c")
    assert(cm.allVectors("c").select("id").as[String].collect()
      === Array("first", "second", "third"))
  }

  test("kwi: write/read round-trip with metadata + header count") {
    val base = freshBase()
    val path = s"$base/vectors.kwi"
    val df = Seq(
      ("a", v3a, """{"label":"cat","confidence":0.95}"""),
      ("b", v3b, null.asInstanceOf[String]),
      ("c", Array(7.0f, 8.0f, 9.0f), """{"nested":{"deep":[1,2,3]}}"""))
      .toDF("id", "embedding", "metadata")
    val n = KwiFormat.write(df, path)
    assert(n === 3L)
    assert(KwiFormat.count(path) === 3L)
    val back = KwiFormat.read(spark, path).collect()
      .map(r => (r.getString(0), r.getSeq[Float](1), Option(r.getString(2)))).toSeq
    assert(back.map(_._1).sorted === Seq("a", "b", "c"))
    val byId = back.map(t => t._1 -> t).toMap
    assert(byId("a")._2 === v3a.toSeq)
    assert(byId("a")._3 === Some("""{"label":"cat","confidence":0.95}"""))
    assert(byId("b")._3 === None)
    assert(byId("c")._3 === Some("""{"nested":{"deep":[1,2,3]}}"""))
  }

  test("kwi: compaction via rewrite preserves survivors") {
    val base = freshBase()
    val path = s"$base/vectors.kwi"
    val df = Seq(("a", v3a), ("b", v3b)).toDF("id", "embedding")
    KwiFormat.write(df, path)
    val survivors = KwiFormat.read(spark, path).filter($"id" =!= "a")
    KwiFormat.write(survivors, path)
    assert(KwiFormat.count(path) === 1L)
    assert(KwiFormat.read(spark, path).select("id").as[String].collect() === Array("b"))
  }

  test("kwi: tombstone delete skips the record; optimize compacts it away") {
    val base = freshBase()
    val path = s"$base/vectors.kwi"
    val df = Seq(
      ("a", v3a, """{"k":1}"""),
      ("b", v3b, null.asInstanceOf[String]),
      ("c", Array(7.0f, 8.0f, 9.0f), """{"k":3}"""))
      .toDF("id", "embedding", "metadata")
    KwiFormat.write(df, path)
    val sizeBefore = java.nio.file.Files.size(java.nio.file.Paths.get(path))

    // delete = tombstone append: live count drops, reads skip the dead
    // record, the data bytes REMAIN (file only grows)
    KwiFormat.appendTombstone(path, "b")
    assert(KwiFormat.count(path) === 2L)
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(path)) > sizeBefore)
    assert(KwiFormat.read(spark, path).select("id").as[String].collect().sorted
      === Array("a", "c"))
    // strict contract: a dead or unknown id cannot be deleted again
    intercept[IllegalArgumentException](KwiFormat.appendTombstone(path, "b"))
    intercept[IllegalArgumentException](KwiFormat.appendTombstone(path, "nope"))

    // optimize = compaction: survivors + metadata round-trip intact,
    // tombstone and dead bytes gone (file shrinks below the original)
    assert(KwiFormat.optimize(path) === 2L)
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(path)) < sizeBefore)
    assert(KwiFormat.count(path) === 2L)
    val back = KwiFormat.read(spark, path).collect()
      .map(r => (r.getString(0), r.getSeq[Float](1), Option(r.getString(2))))
      .sortBy(_._1)
    assert(back.map(_._1).toSeq === Seq("a", "c"))
    assert(back(0)._2 === v3a.toSeq)
    assert(back(0)._3 === Some("""{"k":1}"""))

    // delete → re-insert → delete: only the OLDEST occurrence dies per
    // tombstone, so the re-inserted record survives the first marker
    KwiFormat.appendTombstone(path, "a")
    KwiFormat.append(
      Seq(("a", Array(9f, 9f, 9f), """{"k":9}""")).toDF("id", "embedding", "metadata"),
      path)
    assert(KwiFormat.count(path) === 2L) // 2 live - 1 deleted + 1 appended
    val ids = KwiFormat.read(spark, path).collect()
      .map(r => (r.getString(0), r.getSeq[Float](1))).sortBy(_._1)
    assert(ids.map(_._1).toSeq === Seq("a", "c"))
    assert(ids(0)._2 === Seq(9f, 9f, 9f)) // the NEW "a", not the tombstoned one
  }

  test("kwi: indexed reader seek-reads live records, honors tombstones and re-inserts") {
    val base = freshBase()
    val path = s"$base/vectors.kwi"
    KwiFormat.write(Seq(
      ("a", v3a, """{"k":1}"""),
      ("b", v3b, null.asInstanceOf[String]),
      ("c", Array(7f, 8f, 9f), """{"k":3}"""))
      .toDF("id", "embedding", "metadata"), path)
    KwiFormat.appendTombstone(path, "b")
    KwiFormat.append(
      Seq(("b", Array(5f, 5f, 5f), """{"k":5}""")).toDF("id", "embedding", "metadata"),
      path)
    val rdr = new KwiFormat.IndexedReader(path)
    try {
      assert(rdr.liveCount === 3)
      val a = rdr.get("a").get
      assert(a._2.toSeq === v3a.toSeq && a._3 === Some("""{"k":1}"""))
      // re-inserted "b" shadows the tombstoned original
      val b = rdr.get("b").get
      assert(b._2.toSeq === Seq(5f, 5f, 5f) && b._3 === Some("""{"k":5}"""))
      assert(rdr.get("nope").isEmpty)
      // random-access order doesn't matter: read c after b
      assert(rdr.get("c").get._2.toSeq === Seq(7f, 8f, 9f))
    } finally rdr.close()
  }

  test("json store: save/load/append/clear round-trip (persistence.rs parity)") {
    val base = freshBase()
    val path = s"$base/store"
    JsonStore.save(Seq(("a", v3a, """{"k":1}""")).toDF("id", "embedding", "metadata"), path)
    JsonStore.append(Seq(("b", v3b)).toDF("id", "embedding"), path)
    val ids = JsonStore.load(spark, path).select("id").as[String].collect().sorted
    assert(ids === Array("a", "b"))
    val a = JsonStore.load(spark, path).filter($"id" === "a").collect()(0)
    assert(a.getSeq[Float](1) === v3a.toSeq)
    assert(a.getString(2) === """{"k":1}""")
    JsonStore.clear(path)
    assert(!Files.exists(Paths.get(path)))
  }

  test("reference pretty-JSON-array interchange load") {
    val base = freshBase()
    val p = Paths.get(base, "ref.json")
    Files.writeString(p,
      """[
        |  {"id": "x", "data": [1.0, 0.0], "metadata": "{\"src\":\"ref\"}"},
        |  {"id": "y", "data": [0.0, 1.0], "metadata": null}
        |]""".stripMargin)
    val got = JsonStore.loadReferenceArray(spark, p.toString).orderBy("id").collect()
    assert(got.length === 2)
    assert(got(0).getString(0) === "x")
    assert(got(0).getSeq[Float](1) === Seq(1.0f, 0.0f))
  }
}
