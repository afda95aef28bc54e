package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector primitives over `ArrayType(FloatType/DoubleType)`
  * embedding columns — native higher-order expressions (zip_with +
  * aggregate), fully codegen'd, no UDFs, no linear-algebra dependency.
  *
  * Cross-engine determinism: elements are cast to double BEFORE any
  * arithmetic and summed sequentially (Spark's `aggregate` is a left
  * fold; DuckDB's list_dot_product likewise), so dot products are
  * bit-identical to the DuckDB oracle.
  */
object VectorFunctions {

  def toDoubles(a: Column): Column = transform(a, _.cast("double"))

  /** One-pass custom expression; bit-identical to the composed form
    * `aggregate(zip_with(toDoubles(a), toDoubles(b), _ * _), 0.0, _ + _)`
    * (same cast, same multiply, same sequential fold order — pinned by
    * CustomExpressionsSpec) but without three interpreted higher-order
    * passes per row, which dominated the pair-scoring paths.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.expressions.DotProduct.dotProduct(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Symmetric int8 quantization for embedding storage: each vector is
    * scaled by 127/max|x| and rounded; dequantize reverses it. 4x
    * smaller storage for ANN candidate generation — the standard
    * training-data-pipeline trade (exact rerank happens on the float
    * vectors). scaleOf is exposed so both steps share the factor.
    */
  def scaleOf(a: Column): Column =
    aggregate(toDoubles(a), lit(0.0), (acc, v) => greatest(acc, abs(v)))

  def quantize(a: Column): Column = {
    val s = scaleOf(a)
    transform(toDoubles(a),
      x => when(s > 0, round(x * lit(127.0) / s).cast("int"))
        .otherwise(lit(0)))
  }

  def dequantize(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale / lit(127.0))

  /** Sign-bit LSH bucket from the first `nbits` dimensions
    * (axis-aligned random-projection hashing): bucket =
    * Σ (v[i] > 0) << i. Cheap, deterministic, and oracle-expressible.
    * `nbits` must be in [1, 16], the range of
    * [[graft.operators.BlockDials.signBits]]: 0 bits has no bucket, and
    * past 31 the Int shift wraps and merges opposite sign patterns into
    * one bucket.
    */
  def signBucket(a: Column, nbits: Int): Column = {
    require(nbits >= 1 && nbits <= 16,
      s"nbits must be in [1, 16], got $nbits")
    (0 until nbits).map { i =>
      when(element_at(a, i + 1) > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)
  }
}
