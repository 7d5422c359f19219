package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, as Catalyst
  * column expressions (codegen-eligible built-ins; no UDFs).
  *
  * Determinism contract: all reductions fold left-to-right in index
  * order (`aggregate` over `zip_with`), and all arithmetic is double —
  * the DuckDB oracle reproduces the identical float sequence with
  * `list_aggregate(list_transform(...), 'sum')` in the same order.
  */
object Vectors {

  /** Left-to-right dot product in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x
    )

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 for zero-norm vectors (never occurs in the
    * testdata but keeps the expression total). */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n === 0.0, lit(0.0)).otherwise(d / n)
  }

  /** DuckDB SQL for [[dot]] with identical index-order summation.
    * (The engine's hot path uses [[VectorExpressions.DotFloat]], a
    * custom codegen'd loop with this exact IEEE fold order.) */
  def dotSql(a: String, b: String): String =
    s"list_aggregate(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), 'sum')"
}
