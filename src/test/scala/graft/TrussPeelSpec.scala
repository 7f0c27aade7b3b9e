package graft

import org.apache.spark.sql.functions._

/** Pins for the r15 k-truss support-DECREMENT peel round
  * (Triangles.peelRoundSupport): the decrement backend must produce
  * row-identical support frames to the full re-enumeration backend on
  * every round of randomized peels — including rounds where triangles
  * with 2–3 simultaneously-removed edges exercise the dedupe, and
  * rounds where surviving edges drop to support 0 and must keep their
  * row at 0 (the round's edge count is the support frame's row
  * count). */
class TrussPeelSpec extends SparkSpec {

  private def supSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("decrement round == full re-enumeration round, every round of random peels") {
    import spark.implicits._
    val rnd = new scala.util.Random(71)
    for (trial <- 1 to 6) {
      val n = 8 + rnd.nextInt(8)
      val p = 0.3 + rnd.nextDouble() * 0.4
      val orig = (for {
        a <- 0 until n; b <- a + 1 until n
        if rnd.nextDouble() < p
      } yield (a.toLong, b.toLong)).toVector
      if (orig.nonEmpty) {
        val k = 3 + rnd.nextInt(3) // k in 3..5 → thresholds 1..3
        val bothDir = orig.flatMap { case (a, b) => Vector((a, b), (b, a)) }
        var und = bothDir.toDF("src", "dst")
          .filter(col("src") < col("dst"))
          .select(col("src").as("u"), col("dst").as("v"))
        var sup = graft.operators.Triangles.edgeSupport(bothDir.toDF("src", "dst"))
        // walk the cascade several rounds, comparing backends each round
        for (round <- 0 until 4) {
          val keep = sup.filter(col("sup") >= k - 2)
          val byDec = supSet(
            graft.operators.Triangles.peelRoundSupport(und, keep, decrement = true))
          val byFull = supSet(
            graft.operators.Triangles.peelRoundSupport(und, keep, decrement = false))
          assert(byDec == byFull,
            s"trial $trial k=$k round $round: dec=$byDec vs full=$byFull")
          und = keep.select(col("u"), col("v"))
          sup = byDec.toSeq.toDF("u", "v", "sup")
        }
      }
    }
  }

  test("census with mixed backends equals the in-memory replica on a dense core + tail graph") {
    import spark.implicits._
    // a clique (dense core that SURVIVES, exercising the decrement
    // branch: few removals vs many kept) plus pendant wedge edges
    // that peel off in round 1
    val core = (for { a <- 0L until 8L; b <- a + 1 until 8L } yield (a, b)).toVector
    val tail = Vector((0L, 100L), (1L, 100L), (2L, 101L), (100L, 101L), (3L, 102L))
    val orig = core ++ tail
    val k = 5
    def supOf(es: Vector[(Long, Long)]): Map[(Long, Long), Long] = {
      val s = es.toSet
      def adj(x: Long, y: Long) = s((math.min(x, y), math.max(x, y)))
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      es.map { case (u, v) =>
        (u, v) -> nodes.count(w => w != u && w != v && adj(u, w) && adj(v, w)).toLong
      }.toMap
    }
    val expect = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    var undM = orig
    var r = 0L
    var done = false
    while (!done && r <= 8) {
      val s = supOf(undM)
      expect += ((r, undM.size.toLong, s.values.sum))
      if (expect.size > 1 &&
        expect(expect.size - 1)._2 == expect(expect.size - 2)._2 &&
        expect(expect.size - 1)._3 == expect(expect.size - 2)._3) done = true
      else { undM = undM.filter(e => s(e) >= k - 2); r += 1 }
    }
    val bothDir = orig.flatMap { case (a, b) => Vector((a, b), (b, a)) }
    val got = graft.operators.Triangles.kTrussConvergedCensus(
        bothDir.toDF("src", "dst"), k, maxRounds = 8)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(got == expect.toSet, s"$got vs $expect")
  }

  test("decrement peel with ids near 2^62 equals the census of the unshifted graph") {
    import spark.implicits._
    // a clique core that survives k = 5 (so later rounds take the
    // decrement branch) plus pendant wedges that peel off in round 1;
    // the canonical triangle id must not sum ids, whose sum overflows
    // a long near 2^62 and throws under ANSI arithmetic
    val core = (for { a <- 0L until 8L; b <- a + 1 until 8L } yield (a, b)).toVector
    val tail = Vector((0L, 100L), (1L, 100L), (2L, 101L), (100L, 101L), (3L, 102L))
    def bothDir(off: Long) = (core ++ tail).flatMap { case (a, b) =>
      Vector((a + off, b + off), (b + off, a + off)) }.toDF("src", "dst")
    def census(off: Long): Seq[(Long, Long, Long)] =
      graft.operators.Triangles.kTrussConvergedCensus(bothDir(off), 5, maxRounds = 8)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sorted.toSeq
    val off = 1L << 62
    val plain = census(0L)
    assert(plain.size >= 3, s"the peel should run past round 1: $plain")
    assert(census(off) == plain)
    // the decrement round itself, against full re-enumeration, shifted
    val und = bothDir(off).filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
    val keep = graft.operators.Triangles.edgeSupport(bothDir(off)).filter(col("sup") >= 3)
    assert(supSet(graft.operators.Triangles.peelRoundSupport(und, keep, decrement = true)) ==
      supSet(graft.operators.Triangles.peelRoundSupport(und, keep, decrement = false)))
  }
}
