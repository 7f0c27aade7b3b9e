package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ivf, Knn}

/** IVF index contracts: deterministic build, cell coverage, and recall
  * against exact brute force. */
class IvfSpec extends SparkSpec {

  private lazy val vecs =
    spark.read.parquet(s"$sfDir/embeddings.parquet").cache()

  private def firstVec: Array[Float] =
    vecs.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0).toArray

  test("build is deterministic and covers all vectors exactly once") {
    val ivf = new Ivf(nlist = 8, iters = 2)
    val (c1, a1) = ivf.build(vecs)
    val (c2, a2) = ivf.build(vecs)
    assert(c1.map(_._2.toSeq).toSeq == c2.map(_._2.toSeq).toSeq)
    assert(a1.count() == vecs.count())
    val clusters = a1.select(col("cluster")).distinct().collect().map(_.getInt(0)).sorted
    assert(clusters.forall(c => c >= 0 && c < 8))
    assert(a2.groupBy(col("vec_id")).count().filter(col("count") > 1).count() == 0)
  }

  test("probing all cells reproduces exact brute-force top-k") {
    val ivf = new Ivf(nlist = 8, iters = 2)
    val (cents, assigned) = ivf.build(vecs)
    val exact = Knn.topK(vecs,
      vecs.filter(col("vec_id") === 0).select(col("embedding").as("qe")), 10, Knn.Cosine)
      .collect().map(_.getLong(0)).toSeq
    val ivfAll = ivf.query(assigned, cents, firstVec, 10, nprobe = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(ivfAll == exact)
  }

  test("nearestCells ranks by squared distance and rejects a query of another dimension") {
    val cents = Array((0, Array(0.0, 0.0, 0.0)), (1, Array(1.0, 1.0, 1.0)), (2, Array(1.0, 0.0, 0.0)))
    assert(Ivf.nearestCells(Array(0.9f, 0.1f, 0f), cents, 2).map(_._1).toSeq == Seq(2, 0))
    // shorter (a prefix would score) and longer (would read past the centroid)
    for (q <- Seq(Array(0.9f, 0.1f), Array(0.9f, 0.1f, 0f, 0f)))
      intercept[IllegalArgumentException](Ivf.nearestCells(q, cents, 2))
  }

  test("recall@10 with nprobe=3 of 8 cells is >= 0.7 and self is rank 1") {
    val ivf = new Ivf(nlist = 8, iters = 2)
    val (cents, assigned) = ivf.build(vecs)
    val exact = Knn.topK(vecs,
      vecs.filter(col("vec_id") === 0).select(col("embedding").as("qe")), 10, Knn.Cosine)
      .collect().map(_.getLong(0)).toSet
    val approx = ivf.query(assigned, cents, firstVec, 10, nprobe = 3)
      .collect().map(_.getLong(0))
    assert(approx.head == 0L) // self-recall: query vector is vec_id 0
    assert(exact.intersect(approx.toSet).size >= 7)
  }

  test("append against frozen centroids equals assigning the batch directly") {
    val half = vecs.count() / 2
    val ivf = new Ivf(nlist = 8, iters = 2)
    val (cents, assigned) = ivf.build(vecs.filter(col("vec_id") < half))
    val path = java.nio.file.Files
      .createTempDirectory("ivf-append").resolve("idx").toString
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(path)
    ivf.append(path, vecs.filter(col("vec_id") >= half), cents)
    val merged = spark.read.parquet(path)
      .collect().map(r => r.getLong(r.fieldIndex("vec_id")) ->
        r.getInt(r.fieldIndex("cluster"))).toMap
    // reference: one direct assignment pass over the full corpus with
    // the same frozen centroids
    val direct = vecs.select(col("vec_id"),
        ivf.assignExpr(col("embedding"), cents).as("cluster"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(merged.size == vecs.count())
    assert(merged == direct)
    // probing the merged store surfaces appended rows: query an
    // appended vector, expect self-recall at rank 1
    val qRow = vecs.filter(col("vec_id") === half).select(col("embedding"))
      .collect()(0).getSeq[Float](0).toArray
    val hit = ivf.query(spark.read.parquet(path), cents, qRow, 5, nprobe = 8)
      .collect().map(_.getLong(0))
    assert(hit.head == half)
  }

  test("compact collapses append small-files per cluster, content intact") {
    val ivf = new Ivf(nlist = 8, iters = 2)
    val (cents, assigned) = ivf.build(vecs.filter(col("vec_id") < 100))
    val path = java.nio.file.Files
      .createTempDirectory("ivf-compact").resolve("idx").toString
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(path)
    ivf.append(path, vecs.filter(col("vec_id") >= 100 && col("vec_id") < 200), cents)
    ivf.append(path, vecs.filter(col("vec_id") >= 200 && col("vec_id") < 300), cents)
    def contents(): Map[Long, Int] = spark.read.parquet(path).collect()
      .map(r => r.getLong(r.fieldIndex("vec_id")) ->
        r.getInt(r.fieldIndex("cluster"))).toMap
    def maxFiles(): Int =
      new java.io.File(path).listFiles().filter(_.getName.startsWith("cluster="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).max
    val before = contents()
    assert(before.size === 300 && maxFiles() > 1)
    ivf.compact(spark, path)
    assert(contents() === before)
    assert(maxFiles() === 1)
  }

  test("semdedup purge equals an in-memory replica; pairing is cell-local") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = vecs.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    val cents = rows.filter(_._1 < 8).map(_._2)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val x = a(i) - b(i); s += x * x; i += 1 }; s
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dp / (math.sqrt(na) * math.sqrt(nb))
    }
    // assign by (sqDist, cid) argmin; dominance on ROUNDED distances
    // (the declared query's cross-engine comparison contract)
    val assigned = rows.map { case (id, v) =>
      val (_, cell) = cents.zipWithIndex.map { case (c, i) => (d2(v, c), i) }.min
      (id, v, cell, r6(d2(v, cents(cell))))
    }
    val byCell = assigned.groupBy(_._3)
    val expect = (for {
      (_, members) <- byCell.toSeq
      (a, va, cellA, da) <- members
      dominators = members.filter { case (b, vb, _, db) =>
        b != a && r6(cos(va, vb)) >= 0.4 &&
          (db < da || (db == da && b < a))
      } if dominators.nonEmpty
    } yield (a, cellA.toLong, dominators.length.toLong,
        dominators.map { case (_, vb, _, _) => r6(cos(va, vb)) }.max))
      .sortBy(_._1)
    val got = graft.queries.IndexQueries.queries("semdedup_cell_purge")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got.nonEmpty, "threshold must purge something at this scale")
    assert(got == expect, s"got ${got.take(5)}... vs ${expect.take(5)}...")
    // cell-locality: every purged vector's dominators were same-cell by
    // construction of the replica; the declared frame must agree on
    // cell ids for every purged vector
    val cellOf = assigned.map(t => t._1 -> t._3.toLong).toMap
    got.foreach { case (id, cell, _, _) => assert(cellOf(id) == cell) }
  }
}
