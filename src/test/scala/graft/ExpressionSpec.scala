package graft

import org.apache.spark.sql.{AnalysisException, Column}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** The native vector kernels must be BIT-identical to the HOF formulas
  * of [[VectorHof]] — they share result responsibility with the DuckDB
  * oracle, so even a 1-ulp divergence (e.g. different accumulation
  * order) would surface as a hash mismatch. */
class ExpressionSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()

  private type Kernel = (Column, Column) => Column
  private val kernels: Seq[(String, Kernel, Kernel)] = Seq(
    ("dot", VectorOps.dot, VectorHof.dot),
    ("sqdist", VectorOps.sqdist, VectorHof.sqdist),
    ("euclidean", VectorOps.euclidean, VectorHof.euclidean),
    ("manhattan", VectorOps.manhattan, VectorHof.manhattan),
    ("cosine", VectorOps.cosine, VectorHof.cosine))

  test("graft_cosine == HOF cosine exactly, all pairs vs first vector") {
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val diff = emb.crossJoin(q)
      .select(
        VectorHof.cosine(col("embedding"), col("qe")).as("hof"),
        VectorOps.cosine(col("embedding"), col("qe")).as("fast"))
      .filter(col("hof") =!= col("fast"))
      .count()
    assert(diff == 0L)
  }

  test("graft_dot/graft_sqdist == HOF exactly, including double-literal side") {
    // the double side is how Lsh passes its planes and Ivf/Pq their
    // centroids and codebooks
    val p = typedLit((1 to 64).map(i => (i * 0.37) - 12.0))
    val diff = emb
      .select(
        VectorHof.dot(col("embedding"), p).as("hd"),
        VectorOps.dot(col("embedding"), p).as("fd"),
        VectorHof.sqdist(col("embedding"), p).as("hs"),
        VectorOps.sqdist(col("embedding"), p).as("fs"))
      .filter(col("hd") =!= col("fd") || col("hs") =!= col("fs"))
      .count()
    assert(diff == 0L)
  }

  test("graft_euclidean/graft_manhattan == HOF exactly on column data (codegen path)") {
    // column inputs are non-foldable, so this exercises doGenCode, not
    // the constant-folded eval the literal-based property test hits
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val diff = emb.crossJoin(q)
      .select(
        VectorHof.euclidean(col("embedding"), col("qe")).as("he"),
        VectorOps.euclidean(col("embedding"), col("qe")).as("fe"),
        VectorHof.manhattan(col("embedding"), col("qe")).as("hm"),
        VectorOps.manhattan(col("embedding"), col("qe")).as("fm"))
      .filter(col("he") =!= col("fe") || col("hm") =!= col("fm"))
      .count()
    assert(diff == 0L)
  }

  test("ragged arrays yield NULL from every fused kernel, matching the HOF chain") {
    // a wrong-dimension vector must never get a prefix score that could
    // displace a real neighbor from a top-k — HOF zip_with null-pads and
    // the fold returns null; the fused kernels must agree
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val short = slice(col("embedding"), 1, 16)
    val rows = emb.limit(3).crossJoin(q)
      .select(kernels.flatMap { case (k, native, hof) =>
        Seq(native(short, col("qe")).as(s"f$k"), hof(short, col("qe")).as(s"h$k"))
      }: _*)
      .collect()
    rows.foreach { r =>
      (0 until r.length).foreach(i => assert(r.isNullAt(i), s"column ${r.schema(i).name} not null"))
    }
    // the one degenerate corner where the HOF chain does NOT go null:
    // a zero-norm operand hits the reference guard BEFORE the ragged
    // dot, so both paths must yield 0.0 even across lengths
    val z16 = typedLit(Array.fill(16)(0.0f))
    val zrow = emb.limit(1).crossJoin(q)
      .select(VectorOps.cosine(z16, col("qe")).as("fz"),
        VectorHof.cosine(z16, col("qe")).as("hz"))
      .collect()(0)
    assert(zrow.getDouble(0) == 0.0 && zrow.getDouble(1) == 0.0)

    // a NULL element poisons the HOF fold: every kernel gives NULL, except
    // that cosine's zero-norm guard still fires on the other operand;
    // float and double operands alike (repartition keeps the projection
    // out of the local-relation folding, so it runs generated code)
    import spark.implicits._
    val f = None: Option[Float]
    val withNulls = Seq(
      (Seq(Some(1f), f, Some(3f)), Seq(Some(1f), Some(1f), Some(1f)), Seq(Some(1.0), Some(1.0), Some(1.0))),
      (Seq(Some(1f), f), Seq(Some(0f), Some(0f)), Seq(Some(0.0), Some(0.0))),
      (Seq(Some(0f), Some(0f), Some(0f)), Seq(f, Some(1f)), Seq(None, Some(2.0))),
      (Seq(f), Seq(f), Seq(None)),
      (Seq(Some(2f), Some(-1f)), Seq(Some(2f), f), Seq(Some(0.5), Some(0.25))))
      .toDF("a", "b", "c").repartition(2)
    val pairs = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "b"))
    val cmp = withNulls.select(kernels.flatMap { case (k, native, hof) =>
      pairs.map { case (x, y) =>
        (native(col(x), col(y)) <=> hof(col(x), col(y))).as(s"$k($x,$y)")
      }
    }: _*).collect()
    cmp.foreach(r => r.schema.fieldNames.zipWithIndex.foreach { case (n, i) =>
      assert(r.getBoolean(i), s"$n differs from the HOF reference in $r")
    })
    val cos = withNulls.select(VectorOps.cosine(col("a"), col("b")).as("ab"),
      VectorOps.cosine(col("a"), col("c")).as("ac"),
      VectorOps.dot(col("a"), col("b")).as("d")).collect()
    // [1, NULL] against a zero-norm vector scores 0.0; [1, NULL, 3] is NULL
    assert(cos.count(r => !r.isNullAt(0) && r.getDouble(0) == 0.0) == 2)
    assert(cos.count(r => !r.isNullAt(1) && r.getDouble(1) == 0.0) == 2)
    assert(cos.forall(_.isNullAt(2)))
  }

  test("zero-vector guard matches the reference (cosine -> 0.0)") {
    val z = typedLit(Array.fill(64)(0.0f))
    val r = emb.limit(1)
      .select(VectorOps.cosine(col("embedding"), z)).collect()(0).getDouble(0)
    assert(r == 0.0)
  }

  test("native functions are reachable from SQL text; extensions apply cleanly") {
    // SQL route (what spark.sql.extensions enables cluster-wide; here
    // registered via GraftFunctions on the shared test session — a
    // fresh-session extensions test would need its own JVM)
    val r = spark.sql("SELECT graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F))")
      .collect()(0).getDouble(0)
    assert(r == 1.0)
    assert(spark.sql("SELECT graft_sqdist(array(1.0F, 0.0F), array(0.0D, 2.0D))")
      .collect()(0).getDouble(0) == 5.0)
    // only array<float|double> operands pass analysis
    val e = intercept[AnalysisException](
      spark.sql("SELECT graft_cosine(array(1, 2), array(1, 2))"))
    assert(e.getCondition.startsWith("DATATYPE_MISMATCH"), e.getMessage)
    new graft.expressions.GraftExtensions()
      .apply(new org.apache.spark.sql.SparkSessionExtensions) // must not throw
  }

  /** Runs `body` interpreted (`NO_CODEGEN`, whole-stage codegen off)
    * or generated (`CODEGEN_ONLY`), then restores the defaults. */
  private def evalMode[T](codegen: Boolean)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
      spark.conf.set("spark.sql.codegen.factoryMode", if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
      body
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("interpreted eval path agrees with codegen path") {
    // every kernel, with a float column and a double literal operand
    val q = emb.filter(col("vec_id") === 1).select(col("embedding").as("qe"))
    val p = typedLit((1 to 64).map(i => (i * 0.37) - 12.0))
    def scores() = emb.crossJoin(q)
      .select(col("vec_id") +: kernels.flatMap { case (k, native, _) =>
        Seq(native(col("embedding"), col("qe")).as(s"$k-q"), native(col("embedding"), p).as(s"$k-p"))
      }: _*)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val interp = evalMode(codegen = false)(scores())
    val gen = evalMode(codegen = true)(scores())
    assert(interp.size == emb.count())
    assert(interp == gen)
  }

  test("graft_cosine and graft_dot pin NaN components and containsNull arrays") {
    import spark.implicits._
    val nan = Float.NaN
    // containsNull = false: a NaN component poisons every sum, except
    // that cosine's zero-norm guard fires on the other operand
    val plain = Seq((1, Seq(nan, 1f), Seq(1f, 1f)), (2, Seq(nan, 1f), Seq(0f, 0f)),
        (3, Seq(3f, 4f), Seq(4f, 3f)))
      .toDF("id", "a", "b").repartition(2)
    // containsNull = true, with and without a NULL element
    val f = None: Option[Float]
    val nullable = Seq((4, Seq(Some(3f), Some(4f)), Seq(Some(4f), Some(3f))),
        (5, Seq(Some(3f), f), Seq(Some(4f), Some(3f))),
        (6, Seq(Some(3f), f), Seq(Some(0f), Some(0f))))
      .toDF("id", "a", "b").repartition(2)
    assert(!plain.schema("a").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull)
    assert(nullable.schema("a").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull)
    val want: Map[Int, (Option[Double], Option[Double])] = Map(
      1 -> (Some(Double.NaN), Some(Double.NaN)),
      2 -> (Some(0.0), Some(Double.NaN)),
      3 -> (Some(0.96), Some(24.0)),
      4 -> (Some(0.96), Some(24.0)),
      5 -> (None, None),
      6 -> (Some(0.0), None))
    def same(a: Option[Double], b: Option[Double]) = (a, b) match {
      case (Some(x), Some(y)) => java.lang.Double.compare(x, y) == 0
      case _ => a == b
    }
    for (codegen <- Seq(false, true)) {
      val got = evalMode(codegen) {
        Seq(plain, nullable).flatMap(_
          .select(col("id"), VectorOps.cosine(col("a"), col("b")), VectorOps.dot(col("a"), col("b")))
          .collect().map(r => r.getInt(0) ->
            ((if (r.isNullAt(1)) None else Some(r.getDouble(1))),
              (if (r.isNullAt(2)) None else Some(r.getDouble(2)))))).toMap
      }
      want.foreach { case (id, (cos, dot)) =>
        assert(same(got(id)._1, cos) && same(got(id)._2, dot),
          s"row $id (codegen $codegen): got ${got(id)}, pinned ($cos, $dot)")
      }
    }
  }
}
