package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-engine-portable deterministic primitives.
  *
  * The harness hash-compares Spark results against a DuckDB oracle, so
  * every "random-ish" value (hashes, quantized floats) must be computable
  * bit-identically in both engines. Each rule here has two renderings in
  * one place: the Spark column and its DuckDB twin (the `…Sql` method
  * beside it), which every oracle calls instead of spelling the rule out.
  * These helpers use only constructs with exact, engine-independent
  * semantics:
  *
  *  - `hash60`: first 15 hex chars of md5 as a non-negative BIGINT
  *    ([[hash60Sql]]). Unlike xxhash64/murmur, md5 is identical everywhere.
  *  - `quantize`: fixed-point rounding `floor(x*10000 + 0.5)` — floor is
  *    exact in IEEE, so both engines produce the same integer; all
  *    downstream arithmetic (dot products, norms) is integer-exact and
  *    the final float division/sqrt of identical inputs is identical
  *    (IEEE ops are correctly rounded).
  *  - `topK`: per-group ranking — best first, ties to the smaller id,
  *    keep rank ≤ k ([[rankSql]]), so both engines pick the same rows.
  *
  * All of this stays inside whole-stage codegen (built-ins only, no UDFs).
  */
object Portable {

  /** 60-bit non-negative deterministic hash of a string column.
    * DuckDB twin: [[hash60Sql]]. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** DuckDB twin of [[hash60]] over the SQL string expression `e`. */
  def hash60Sql(e: String): String = s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  /** hash60 reduced mod n (n small → no overflow anywhere). */
  def hashMod(c: Column, n: Int): Column = pmod(hash60(c), lit(n.toLong))

  /** Fixed-point quantization of a float/double array column to BIGINTs at
    * 1e-4 resolution. DuckDB twin: [[quantizeSql]]. */
  def quantize(arr: Column): Column =
    transform(arr, x => floor(x.cast("double") * 10000d + 0.5d).cast("long"))

  /** DuckDB twin of [[quantize]] over the SQL list expression `arr`. */
  def quantizeSql(arr: String): String =
    s"list_transform($arr, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT))"

  /** Exact integer dot product of two quantized (BIGINT) arrays — a
    * native codegen'd expression (see ArrayDotLong for why not the
    * higher-order-function form; results are identical). DuckDB twin:
    * [[dotSql]]. */
  def dotQ(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(ArrayDotLong(
      GraftBridge.expression(a), GraftBridge.expression(b)))
  }

  /** DuckDB twin of [[dotQ]] over the BIGINT list expressions `a` and `b`,
    * `dims` elements wide (the board's embeddings are 64-d). */
  def dotSql(a: String, b: String, dims: Int = 64): String =
    s"CAST(list_sum(list_transform(generate_series(1, $dims), i -> $a[i] * $b[i])) AS BIGINT)"

  /** Exact integer squared norm of a quantized array. DuckDB twin:
    * [[normSqSql]]. */
  def normSqQ(a: Column): Column = dotQ(a, a)

  /** DuckDB twin of [[normSqQ]] over the BIGINT list expression `arr`. */
  def normSqSql(arr: String): String =
    s"CAST(list_sum(list_transform($arr, x -> x*x)) AS BIGINT)"

  /** Cosine from an exact dot product and the two exact squared norms —
    * exact-identical doubles in both engines (integer inputs, then
    * correctly-rounded sqrt and ONE division). DuckDB twin: [[cosineSql]]. */
  def cosine(dot: Column, na: Column, nb: Column): Column =
    dot.cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  /** DuckDB twin of [[cosine]] over the SQL integer expressions `dot`,
    * `na` and `nb`. */
  def cosineSql(dot: String, na: String, nb: String): String =
    s"CAST($dot AS DOUBLE) / (sqrt(CAST($na AS DOUBLE)) * sqrt(CAST($nb AS DOUBLE)))"

  /** Unicode NFC canonical composition — a native codegen'd expression
    * (Spark has no normalization builtin). DuckDB: `nfc_normalize(x)`;
    * both implement Unicode TR15, so outputs are byte-identical. */
  def nfc(c: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(NfcNormalize(GraftBridge.expression(c)))
  }

  /** The per-group top-k rule: appends `rank`, a BIGINT row_number over
    * `by`, ordered by `best` (which carries the direction, e.g.
    * `desc("cosine")` or `col("dist")`) then `id` ascending, and keeps
    * `rank <= k`. The filter sits directly over the window, so a literal
    * `k` plans as WindowGroupLimit (k rows per group per map task before
    * the shuffle); a column `k` (a per-row beam width) filters after the
    * full window. DuckDB twin: [[rankSql]]. */
  def topK(df: DataFrame, by: Seq[String], best: Column, id: String,
           k: Column): DataFrame =
    df.withColumn("rank", row_number().over(
        Window.partitionBy(by.map(col): _*).orderBy(best, col(id))).cast("long"))
      .filter(col("rank") <= k)

  /** DuckDB twin of [[topK]]'s window over the SQL expressions `by`
    * (partition list), `best` (with its direction) and `id`. */
  def rankSql(by: String, best: String, id: String): String =
    s"row_number() OVER (PARTITION BY $by ORDER BY $best, $id)"
}
