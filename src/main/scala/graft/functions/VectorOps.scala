package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Dense-vector scalar kernels over `ARRAY<FLOAT>` (or `ARRAY<DOUBLE>`)
  * columns, matching the reference semantics of kowari `src/utils.rs:4-48`
  * and `src/vector.rs:41-43`:
  *
  *   - `dot`:       Σ aᵢ·bᵢ
  *   - `sqdist`:    Σ (aᵢ−bᵢ)² (the IVF and PQ argmin distance)
  *   - `cosine`:    dot/(‖a‖·‖b‖), returning 0.0 when either norm is zero
  *                  (zero-vector guard, src/utils.rs:9-13)
  *   - `euclidean`: ‖a−b‖₂ (src/utils.rs:16-19)
  *   - `manhattan`: Σ|aᵢ−bᵢ| (src/utils.rs:21-24)
  *   - `magnitude`: ‖v‖₂ (src/vector.rs:41-43)
  *   - `normalize`: v/‖v‖, v unchanged when ‖v‖=0 (src/utils.rs:41-48)
  *
  * The five distance kernels are the native functions of
  * [[graft.expressions.VectorKernels]], resolved by name: a session needs
  * `GraftFunctions.register` (done by `Sessions.local` and on every
  * `Tables` load) or the `GraftExtensions` extension. They widen every
  * element to double before any arithmetic and fold left to right, so the
  * DuckDB oracle replays them bit for bit; the higher-order-function
  * formulas they equal are kept in the tests as references. Operands of
  * different lengths, or with a NULL element, give NULL.
  */
object VectorOps {

  private def d(c: Column): Column = c.cast(DoubleType)

  /** Σ aᵢ·bᵢ. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Σ (aᵢ−bᵢ)². */
  def sqdist(a: Column, b: Column): Column = call_function("graft_sqdist", a, b)

  /** cos(a,b), 0.0 when either operand has zero norm. */
  def cosine(a: Column, b: Column): Column = call_function("graft_cosine", a, b)

  /** ‖a−b‖₂ */
  def euclidean(a: Column, b: Column): Column = call_function("graft_euclidean", a, b)

  /** Σ|aᵢ−bᵢ| */
  def manhattan(a: Column, b: Column): Column = call_function("graft_manhattan", a, b)

  /** ‖v‖₂ */
  def magnitude(v: Column): Column = sqrt(dot(v, v))

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
}
