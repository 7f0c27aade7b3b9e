package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Dense-vector scalar kernels over `ARRAY<FLOAT>` (or `ARRAY<DOUBLE>`)
  * columns, matching the reference semantics of kowari `src/utils.rs:4-48`
  * and `src/vector.rs:41-43`:
  *
  *   - `cosine`:    dot/(‖a‖·‖b‖), returning 0.0 when either norm is zero
  *                  (zero-vector guard, src/utils.rs:9-13)
  *   - `euclidean`: ‖a−b‖₂ (src/utils.rs:16-19)
  *   - `manhattan`: Σ|aᵢ−bᵢ| (src/utils.rs:21-24)
  *   - `magnitude`: ‖v‖₂ (src/vector.rs:41-43)
  *   - `normalize`: v/‖v‖, v unchanged when ‖v‖=0 (src/utils.rs:41-48)
  *
  * All kernels are pure built-in higher-order-function expressions
  * (`zip_with`/`aggregate`/`transform`) — no UDFs — so Catalyst can
  * optimize around them and the whole scan stays distributed. Arithmetic
  * is promoted to Double *before* multiplication so the fold order
  * (left-to-right over the array) produces bit-identical results across
  * engines that use the same promotion, which makes these kernels
  * DuckDB-oracle-friendly.
  */
object VectorOps {

  private def d(c: Column): Column = c.cast(DoubleType)

  /** Σ aᵢ·bᵢ in double precision, left-to-right fold. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => d(x) * d(y)),
      lit(0.0),
      (acc, x) => acc + x)

  /** ‖v‖₂ */
  def magnitude(v: Column): Column = sqrt(dot(v, v))

  /** cos(a,b) with the reference's zero-vector guard: 0.0 when either
    * operand has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val na = magnitude(a)
    val nb = magnitude(b)
    when(na === lit(0.0) || nb === lit(0.0), lit(0.0))
      .otherwise(dot(a, b) / (na * nb))
  }

  /** 1 − cos(a,b) — HNSW's internal distance (src/index.rs:227-229). */
  def cosineDistance(a: Column, b: Column): Column = lit(1.0) - cosine(a, b)

  /** ‖a−b‖₂ */
  def euclidean(a: Column, b: Column): Column =
    sqrt(aggregate(
      zip_with(a, b, (x, y) => (d(x) - d(y)) * (d(x) - d(y))),
      lit(0.0),
      (acc, x) => acc + x))

  /** Σ|aᵢ−bᵢ| */
  def manhattan(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => abs(d(x) - d(y))),
      lit(0.0),
      (acc, x) => acc + x)

  /** `body` over `x` evaluated once per row. A lambda re-evaluates an
    * embedded expression that ignores its own variable once per array
    * element; bound through this one-element lambda, `x` is a variable. */
  private[graft] def let(x: Column)(body: Column => Column): Column =
    element_at(transform(array(x), body), 1)

  /** v/‖v‖ as ARRAY<DOUBLE>; v (cast to double) unchanged when ‖v‖=0. */
  def normalize(v: Column): Column =
    let(magnitude(v))(m =>
      transform(v, x => when(m === lit(0.0), d(x)).otherwise(d(x) / m)))

  /** `size(v)` — dimension of the vector (src/vector.rs:37-39). */
  def dimension(v: Column): Column = size(v)

  /** Elementwise cast to ARRAY&lt;DOUBLE&gt; (for zip_with against
    * double-typed literals, e.g. centroids). */
  def toDouble(v: Column): Column = transform(v, x => d(x))

  /** Fused single-pass cosine via the native codegen expression
    * (graft.expressions.CosineSim) — bit-identical to `cosine` but one
    * array walk instead of three. Requires GraftFunctions.register on
    * the session (done by graft.queries.Tables on first table load). */
  def fastCosine(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  /** Fused dot product (graft.expressions.DotProduct). */
  def fastDot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  /** Symmetric per-vector int8 quantization: scale = max|xᵢ|/127,
    * qᵢ = round(xᵢ/scale) ∈ [-127, 127], emitted as ARRAY<DOUBLE> of
    * integer values (the storage form would be ARRAY<TINYINT> + the
    * scale — 4× smaller than float32, the standard embedding-store
    * compression at corpus scale). Cosine is invariant to the
    * per-vector scale, so quantized similarity search needs only the
    * integer arrays; recall loss is the quantization error alone.
    * All-zero vectors quantize to all zeros. */
  def int8Quantize(v: Column): Column =
    let(array_max(transform(v, x => abs(d(x)))) / 127.0)(s =>
      transform(v, x => when(s === 0.0, d(x) * 0.0).otherwise(round(d(x) / s, 0))))

  /** Fused euclidean distance (graft.expressions.EuclideanDist) —
    * bit-identical to `euclidean`, one primitive loop. */
  def fastEuclidean(a: Column, b: Column): Column =
    call_function("graft_euclidean", a, b)

  /** Fused manhattan distance (graft.expressions.ManhattanDist) —
    * bit-identical to `manhattan`, one primitive loop. */
  def fastManhattan(a: Column, b: Column): Column =
    call_function("graft_manhattan", a, b)
}
