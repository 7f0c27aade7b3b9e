package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import graft.functions.VectorOps

/** Exact-value kernel fixtures from the reference test suite
  * (kowari tests/integration_tests.rs:162-181, src/utils.rs guards). */
class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  private val e1 = Array(1.0f, 0.0f, 0.0f)
  private val e2 = Array(0.0f, 1.0f, 0.0f)
  private val e3 = Array(0.0f, 0.0f, 1.0f)
  private val zero = Array(0.0f, 0.0f, 0.0f)
  private val small = Array(1.0f, 2.0f, 3.0f)

  private def pairs = Seq(
    ("e1e2", e1, e2), ("e1e1", e1, e1), ("e1e3", e1, e3),
    ("zeroe1", zero, e1), ("smallsmall", small, small)
  ).toDF("name", "a", "b")

  private def evalMap(c: org.apache.spark.sql.Column): Map[String, Double] =
    pairs.select($"name", c.as("v")).collect()
      .map { case Row(n: String, v: Double) => n -> v }.toMap

  test("cosine: perpendicular=0, self=1, zero-vector guard=0") {
    val m = evalMap(VectorOps.cosine($"a", $"b"))
    assert(math.abs(m("e1e2")) < 1e-12)
    assert(math.abs(m("e1e1") - 1.0) < 1e-12)
    assert(math.abs(m("e1e3")) < 1e-12)
    assert(m("zeroe1") === 0.0) // src/utils.rs:9-13 zero-norm guard
    assert(math.abs(m("smallsmall") - 1.0) < 1e-12)
  }

  test("euclidean: e1-e2 = sqrt(2), self = 0") {
    val m = evalMap(VectorOps.euclidean($"a", $"b"))
    assert(math.abs(m("e1e2") - math.sqrt(2.0)) < 1e-12)
    assert(m("e1e1") === 0.0)
  }

  test("manhattan: e1-e2 = 2, self = 0") {
    val m = evalMap(VectorOps.manhattan($"a", $"b"))
    assert(math.abs(m("e1e2") - 2.0) < 1e-12)
    assert(m("e1e1") === 0.0)
  }

  test("magnitude: |e1|=1, |small|=sqrt(14), |zero|=0") {
    val m = evalMap(VectorOps.magnitude($"a"))
    assert(math.abs(m("e1e2") - 1.0) < 1e-12)
    assert(math.abs(m("smallsmall") - math.sqrt(14.0)) < 1e-12)
    assert(m("zeroe1") === 0.0)
  }

  test("normalize: unit norm after; zero vector unchanged") {
    val normed = pairs.select(
      $"name", VectorOps.magnitude(VectorOps.normalize($"a")).as("m"))
      .collect().map { case Row(n: String, v: Double) => n -> v }.toMap
    assert(math.abs(normed("smallsmall") - 1.0) < 1e-12)
    assert(normed("zeroe1") === 0.0) // unchanged zero vector
  }

  test("int8Quantize: an all-zero vector quantizes to +0.0 components") {
    val q = pairs.filter($"name" === "zeroe1")
      .select(VectorOps.int8Quantize($"a")).collect()(0).getSeq[Double](0)
    assert(q.map(java.lang.Double.doubleToRawLongBits) === Seq.fill(3)(0L), s"got $q")
  }

  test("dot: small·small = 14") {
    val m = evalMap(VectorOps.dot($"a", $"b"))
    assert(m("smallsmall") === 14.0)
  }
}
