package graft.functions

/** Vector math over `array<float>` embedding columns, for the DuckDB
  * oracle twins. The engine's side is [[VectorExpressions]]: custom
  * codegen'd loops with the same fold order.
  *
  * Determinism contract: reductions fold left-to-right in index order
  * in double precision, so the DuckDB SQL reproduces the engine's exact
  * float sequence.
  */
object Vectors {

  /** DuckDB SQL for a dot product with index-order summation — the
    * IEEE fold of [[VectorExpressions.DotFloat]]. */
  def dotSql(a: String, b: String): String =
    s"list_aggregate(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), 'sum')"
}
