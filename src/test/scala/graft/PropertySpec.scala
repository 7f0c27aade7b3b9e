package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests over the kernels and metrics (SURVEY §7.4):
  * invariants checked across generated inputs with fixed seeds (raw
  * ScalaCheck generators; deterministic, no flaky sampling). */
class PropertySpec extends SparkSpec {
  import graft.functions.{Metrics, VectorOps}
  import graft.operators.Knn

  private val params = Gen.Parameters.default
  private def cases[A](g: Gen[A], n: Int = 30): Seq[A] =
    (0 until n).map(i => g.pureApply(params, Seed(i.toLong)))

  private val vecGen: Gen[Array[Float]] =
    Gen.choose(2, 16).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-100f, 100f)).map(_.toArray))

  private def evalKernel(a: Array[Float], b: Array[Float],
      f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column): Double =
    spark.range(1)
      .select(f(typedLit(a.toSeq), typedLit(b.toSeq)).as("v"))
      .collect()(0).getDouble(0)

  test("cosine is symmetric and bounded; fast == HOF on every case") {
    cases(vecGen).foreach { a =>
      val b = a.map(x => x * 0.5f + 1.0f)
      val ab = evalKernel(a, b, VectorHof.cosine)
      val ba = evalKernel(b, a, VectorHof.cosine)
      val fast = evalKernel(a, b, VectorOps.cosine)
      assert(math.abs(ab - ba) < 1e-12, s"asymmetric for ${a.toSeq}")
      assert(ab >= -1.0 - 1e-9 && ab <= 1.0 + 1e-9)
      assert(ab == fast, s"fast != hof for ${a.toSeq}")
    }
  }

  test("euclidean/manhattan: fast native == HOF bit-for-bit on every case") {
    cases(vecGen).foreach { a =>
      val b = a.map(x => x * -0.3f + 2.0f)
      assert(evalKernel(a, b, VectorHof.euclidean) ==
        evalKernel(a, b, VectorOps.euclidean), s"euclid ${a.toSeq}")
      assert(evalKernel(a, b, VectorHof.manhattan) ==
        evalKernel(a, b, VectorOps.manhattan), s"manhattan ${a.toSeq}")
    }
  }

  test("normalize is idempotent (unit-norm fixed point)") {
    cases(vecGen.suchThat(_.exists(_ != 0f))).foreach { a =>
      val m = spark.range(1)
        .select(VectorOps.magnitude(VectorOps.normalize(typedLit(a.toSeq))).as("m"))
        .collect()(0).getDouble(0)
      assert(math.abs(m - 1.0) < 1e-6, s"norm $m for ${a.toSeq}")
    }
  }

  test("recall@k and precision@k in [0,1]; recall(self,self)=1") {
    // ranked id lists are duplicate-free by construction (and the
    // set-intersection metric, like the reference's HashSet, assumes it)
    val idsGen = Gen.choose(1, 12).flatMap(n =>
      Gen.pick(n, 0L to 20L).map(_.toList))
    cases(Gen.zip(idsGen, idsGen)).foreach { case (e, a) =>
      val row = spark.range(1).select(
        Metrics.recallAtK(typedLit(e), typedLit(a), 5).as("r"),
        Metrics.precisionAtK(typedLit(e), typedLit(a), 5).as("p"),
        Metrics.recallAtK(typedLit(e), typedLit(e), 5).as("self"))
        .collect()(0)
      assert(row.getDouble(0) >= 0.0 && row.getDouble(0) <= 1.0)
      assert(row.getDouble(1) >= 0.0 && row.getDouble(1) <= 1.0)
      assert(row.getDouble(2) == 1.0)
    }
  }

  test("kwi tombstone lifecycle matches a Map model over random op sequences") {
    import graft.sources.KwiFormat
    import spark.implicits._
    // model: insert-then-maybe-delete cycles per id; the file replays the
    // same ops via write + tombstone appends (+ optional optimize) and
    // must always read back exactly the model's surviving entries
    sealed trait Op
    case class Ins(id: String, v: Float) extends Op
    case class Del(id: String) extends Op
    val idGen = Gen.oneOf("a", "b", "c", "d")
    val opGen: Gen[Op] = Gen.frequency(
      (3, Gen.zip(idGen, Gen.choose(0f, 9f)).map { case (i, v) => Ins(i, v) }),
      (2, idGen.map(Del.apply)))
    cases(Gen.listOfN(12, opGen), n = 12).zipWithIndex.foreach { case (ops, ix) =>
      val dir = java.nio.file.Files.createTempDirectory(s"kwiprop$ix")
      val path = s"$dir/v.kwi"
      KwiFormat.write(Seq.empty[(String, Array[Float])].toDF("id", "embedding"), path)
      val model = scala.collection.mutable.Map.empty[String, Float]
      ops.foreach {
        case Ins(id, v) if !model.contains(id) =>
          KwiFormat.append(Seq((id, Array(v))).toDF("id", "embedding"), path)
          model(id) = v
        case Ins(_, _) => () // strict store: duplicate insert skipped
        case Del(id) if model.contains(id) =>
          KwiFormat.appendTombstone(path, id); model.remove(id)
        case Del(_) => ()
      }
      def survivors() = spark.read.format("kwi").load(path).collect()
        .map(r => r.getString(0) -> r.getSeq[Float](1).head).toMap
      assert(survivors() == model.toMap, s"ops=$ops (pre-optimize)")
      KwiFormat.optimize(path)
      assert(survivors() == model.toMap, s"ops=$ops (post-optimize)")
      assert(KwiFormat.count(path) == model.size.toLong)
    }
  }

  test("topK returns min(k, n) rows with monotone non-increasing scores") {
    import spark.implicits._
    cases(Gen.zip(Gen.choose(1, 12), Gen.choose(1, 8)), n = 10).foreach { case (n, k) =>
      val vecs = (0 until n).map(i => (i.toLong, Array(i.toFloat + 1, 1f, 0f)))
        .toDF("vec_id", "embedding")
      val q = Seq(Tuple1(Array(1f, 1f, 0f))).toDF("qe")
      val rows = Knn.topK(vecs, q, k).collect()
      assert(rows.length == math.min(k, n))
      val scores = rows.map(_.getDouble(1))
      assert(scores.zip(scores.tail).forall { case (x, y) => x >= y })
    }
  }

  test("bmp codec: encode→decode round-trips every generated image exactly") {
    import graft.operators.Multimodal
    val imgGen = for {
      w <- Gen.choose(1, 9) // widths 1..9 cover all four stride paddings
      h <- Gen.choose(1, 7)
      px <- Gen.listOfN(w * h, Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield (w, h, px.toArray)
    cases(imgGen, n = 40).foreach { case (w, h, px) =>
      val decoded = Multimodal.decodeBmp(Multimodal.encodeBmpGray(w, h, px)).get
      assert(decoded.length == w * h * 3, s"w=$w h=$h")
      assert(decoded.toSeq == px.flatMap(v => Seq.fill(3)(v.toInt & 0xff)).toSeq,
        s"pixel mismatch at w=$w h=$h")
    }
  }

  test("wav codec: pcm8 encode→decode round-trips every generated clip exactly") {
    import graft.operators.Multimodal
    val clipGen = Gen.choose(0, 64).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray))
    cases(clipGen, n = 40).foreach { pcm =>
      val decoded = Multimodal.decodeWav(Multimodal.encodeWavPcm8(pcm)).get
      assert(decoded.toSeq == pcm.map(_.toInt & 0xff).toSeq)
    }
  }

  test("connected components equal union-find on every generated graph") {
    import graft.operators.Components
    import spark.implicits._
    val graphGen = for {
      nodes <- Gen.choose(2, 40)
      nEdges <- Gen.choose(0, 60)
      edges <- Gen.listOfN(nEdges,
        Gen.zip(Gen.choose(0L, nodes.toLong), Gen.choose(0L, nodes.toLong)))
    } yield edges.filter(e => e._1 != e._2)
    cases(graphGen, n = 15).foreach { pairs =>
      // union-find ground truth with min-id roots
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.map(k => k -> find(k)).toMap
      val got = Components.connectedComponents(pairs.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"diverged on ${pairs.take(10)}...")
    }
  }
}
