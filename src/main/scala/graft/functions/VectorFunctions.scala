package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Vector math over `array<float>` embedding columns.
  *
  * The hot kernel (dot product / squared norm) is the custom codegen'd
  * [[FloatVecDot]] expression; the composition (cosine, distances) stays in
  * plain `Column` algebra. Every element is cast to double BEFORE
  * arithmetic and accumulation runs strictly left-to-right, so results are
  * bit-identical to any engine that does the same (the DuckDB oracle
  * mirrors this with `list_transform` + `list_aggregate('sum')`).
  */
object VectorFunctions {

  private val D = "double"

  /** Sum of a double-array, left-to-right fold. */
  def arraySum(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x)

  /** Dot product of two float vectors, accumulated in double (codegen'd). */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(FloatVecDot(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Squared L2 norm, accumulated in double (dot with itself). */
  def normSq(a: Column): Column = dot(a, a)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity; 0.0 for zero-norm inputs (guarded division). */
  def cosine(a: Column, b: Column): Column = {
    val denom = sqrt(normSq(a)) * sqrt(normSq(b))
    when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / denom)
  }

  /** [[cosine]] with the per-side norms hoisted out: `normA`/`normB` must
    * each be `sqrt(normSq(side))` computed ONCE per row before a pairwise
    * join, so every candidate pair pays one vector kernel (the dot)
    * instead of three. Bit-identical to [[cosine]]: the same IEEE ops
    * (sqrt, multiply, divide, zero guard) in the same order — only WHERE
    * the sqrt(normSq) is evaluated moves. */
  def cosineWithNorms(a: Column, b: Column, normA: Column, normB: Column): Column = {
    val denom = normA * normB
    when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / denom)
  }
}
