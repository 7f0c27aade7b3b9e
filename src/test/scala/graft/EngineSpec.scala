package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Lsh
import graft.sources.CollectionManager

/** End-to-end facade contracts: the reference's QueryEngine surface
  * (store -> index -> search with the full record) on a real collection. */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  private def freshEngine(index: GraftEngine.IndexKind): (CollectionManager, GraftEngine) = {
    val base = Files.createTempDirectory("graft-engine").toString
    val mgr = new CollectionManager(spark, base)
    mgr.createCollection("c", 4)
    val rows = Seq(
      ("a", Array(1f, 0f, 0f, 0f), """{"tag":"x"}"""),
      ("b", Array(0.9f, 0.1f, 0f, 0f), """{"tag":"y"}"""),
      ("c", Array(0f, 1f, 0f, 0f), null),
      ("d", Array(0f, 0f, 1f, 0f), null))
      .toDF("id", "embedding", "metadata")
    mgr.insert("c", rows)
    (mgr, new GraftEngine(mgr, "c", index))
  }

  test("search_with_scores: rank order, self first, metadata carried") {
    val (_, eng) = freshEngine(GraftEngine.BruteForce)
    val r = eng.searchWithScores(Array(1f, 0f, 0f, 0f), 2).collect()
    assert(r.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(r(0).getDouble(r(0).fieldIndex("score")) == 1.0)
    assert(r(0).getString(r(0).fieldIndex("metadata")) == """{"tag":"x"}""")
  }

  test("search_with_scores: output columns are the stored record, then score") {
    for (kind <- Seq(GraftEngine.BruteForce, GraftEngine.BruteForceEuclidean,
        GraftEngine.LshIndex(new Lsh(numPlanes = 8, seed = 7L)))) {
      val (_, eng) = freshEngine(kind)
      assert(eng.searchWithScores(Array(1f, 0f, 0f, 0f), 2).columns.toSeq ===
        Seq("id", "embedding", "metadata", "ingest_seq", "score"), kind)
    }
  }

  test("search_with_scores never returns a deleted id") {
    val (mgr, eng) = freshEngine(GraftEngine.BruteForce)
    mgr.delete("c", "a")
    val ids = eng.searchWithScores(Array(1f, 0f, 0f, 0f), 4).collect().map(_.getString(0))
    assert(ids.toSeq === Seq("b", "c", "d"))
  }

  test("k above the live row count returns every live row in rank order") {
    val (mgr, eng) = freshEngine(GraftEngine.BruteForce)
    mgr.delete("c", "d")
    val r = eng.searchWithScores(Array(1f, 0.5f, 0f, 0f), 10).collect()
    assert(r.map(_.getString(0)).toSeq === Seq("b", "a", "c"))
    val scores = r.map(r => r.getDouble(r.fieldIndex("score")))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("search drops the score column (src/query.rs:15-26)") {
    val (_, eng) = freshEngine(GraftEngine.BruteForce)
    val df = eng.search(Array(1f, 0f, 0f, 0f), 2)
    assert(!df.columns.contains("score"))
    assert(df.count() == 2)
  }

  test("euclidean flavor ranks by negated distance") {
    val (_, eng) = freshEngine(GraftEngine.BruteForceEuclidean)
    val r = eng.searchWithScores(Array(0f, 1f, 0f, 0f), 1).collect()
    assert(r(0).getString(0) == "c")
  }

  test("LSH flavor: under-filled bucket falls back to exact results") {
    val (_, eng) = freshEngine(GraftEngine.LshIndex(new Lsh(numPlanes = 8, seed = 7L)))
    val r = eng.searchWithScores(Array(1f, 0f, 0f, 0f), 3).collect()
    assert(r.map(_.getString(0)).toSeq.take(2) == Seq("a", "b"))
  }

  test("point lookup and count") {
    val (_, eng) = freshEngine(GraftEngine.BruteForce)
    assert(eng.countVectors() == 4L)
    assert(eng.getVector("c").count() == 1L)
    assert(eng.getVector("zz").count() == 0L)
  }

  test("generateRandomVectors: seeded, shaped, in range, reproducible") {
    val v1 = GraftEngine.generateRandomVectors(spark, 8, 20, seed = 5L).collect()
    val v2 = GraftEngine.generateRandomVectors(spark, 8, 20, seed = 5L).collect()
    assert(v1.length == 20)
    val e = v1(3).getSeq[Float](1)
    assert(e.length == 8 && e.forall(x => x >= -1f && x < 1f))
    assert(v1.map(_.getSeq[Float](1)).toSeq == v2.map(_.getSeq[Float](1)).toSeq)
  }
}
