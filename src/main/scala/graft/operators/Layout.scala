package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Tables.t

/** Data-layout operators: Z-order (Morton-curve) clustering — the
  * multi-dimensional sort that makes file/row-group statistics
  * selective on MORE THAN ONE column (the Delta/Iceberg `OPTIMIZE
  * ZORDER BY` technique).
  *
  * A linear sort on (a, b) gives perfect skipping on `a` and none on
  * `b`; interleaving the bits of both dimensions into one Morton code
  * and sorting by it keeps ranges of the sorted file CLUSTERED in both
  * dimensions at once — every consecutive chunk covers a bounded
  * rectangle of (a, b) space, so min/max stats prune 2-D predicates.
  * At 100 TB this is a WRITE-TIME layout choice: one extra projection
  * and the same sort-based write path, paid once, skipping forever.
  *
  * The Morton code is pure bit arithmetic (16 bits per dimension →
  * 32-bit code), exactly reproducible in the DuckDB oracle.
  */
object Layout {

  private val dimBits = 16

  /** Bit-interleave two 16-bit grid coordinates into a Morton code:
    * bit i of `x` lands at position 2i, bit i of `y` at 2i+1. A plain
    * 32-term integer expression — whole-stage-codegen'd, no UDF. */
  def morton16(x: Column, y: Column): Column =
    (0 until dimBits).map { i =>
      (shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)): Column
    }.reduce(_ + _)

  private def mortonSql(x: String, y: String): String =
    (0 until dimBits).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  /** Z-range clustering statistics over events laid out on the
    * (user_id, event-hour) Morton curve: rows are assigned to
    * consecutive ranges of the curve (the file/row-group analog) and
    * each range reports its 2-D bounding box. The demonstrable layout
    * property — each range's box is TIGHT in both dimensions — is what
    * a scan planner exploits to prune 2-D predicates; LayoutSpec
    * asserts it quantitatively against a 1-D sort of the same data.
    *
    * Plan: one map stage for grid/Morton columns, one shuffle for the
    * per-range aggregate. */
  def zorderStats(spark: SparkSession, dir: String, rangeShift: Int = 18): DataFrame =
    t(spark, dir, "events")
      .select(
        col("user_id").bitwiseAND(lit(65535L)).as("ux"),
        expr("(ts div 3600000000000) & 65535").as("th"))
      .withColumn("zr", shiftright(morton16(col("ux"), col("th")), rangeShift))
      .groupBy("zr")
      .agg(count(lit(1)).as("n_rows"),
        min("ux").as("min_u"), max("ux").as("max_u"),
        min("th").as("min_t"), max("th").as("max_t"))
      .withColumn("bbox_area",
        (col("max_u") - col("min_u") + 1) * (col("max_t") - col("min_t") + 1))
      .orderBy("zr")

  def zorderStatsSql(rangeShift: Int = 18): String =
    s"""WITH g AS (
       |  SELECT user_id & 65535 AS ux,
       |         (epoch_ns(ts) // 3600000000000) & 65535 AS th
       |  FROM events
       |), z AS (
       |  SELECT ux, th, (${mortonSql("ux", "th")}) >> $rangeShift AS zr FROM g
       |)
       |SELECT zr, count(*) AS n_rows,
       |       min(ux) AS min_u, max(ux) AS max_u,
       |       min(th) AS min_t, max(th) AS max_t,
       |       (max(ux) - min(ux) + 1) * (max(th) - min(th) + 1) AS bbox_area
       |FROM z GROUP BY zr ORDER BY zr""".stripMargin

  /** Small-file compaction planning — the other half of table
    * maintenance next to Z-order: assign the table's file inventory
    * (modeled here as the per-(source, lang) cells of the documents
    * table, sized by their character bytes) to target-sized compaction
    * bins. The assignment is CUMULATIVE-FILL packing: files in a fixed
    * total order, bin = floor(bytes-before / target) — deterministic,
    * partitioning-independent, and what sorted-boundary OPTIMIZE
    * implementations actually do (greedy first-fit is inherently
    * serial and non-deterministic under reordering).
    *
    * The global window runs over the FILE INVENTORY — metadata whose
    * cardinality is the file count, not the data size — which is the
    * one place a global ordered window is the honest plan at 100 TB
    * (a planner node would hold the same list). */
  def compactionBins(spark: SparkSession, dir: String,
                     targetBytes: Long = 65536): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val files = t(spark, dir, "documents")
      .groupBy("source", "lang")
      .agg(sum(col("n_chars")).as("file_bytes"), count(lit(1)).as("n_docs"))
    val w = Window.orderBy("source", "lang")
      .rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("cum_before", coalesce(sum("file_bytes").over(w), lit(0L)))
      .select(col("source"), col("lang"), col("n_docs"), col("file_bytes"),
        expr(s"cum_before DIV $targetBytes").as("bin"))
      .orderBy("source", "lang")
  }

  def compactionBinsSql(targetBytes: Long = 65536): String =
    s"""WITH files AS (
       |  SELECT source, lang, CAST(sum(n_chars) AS BIGINT) AS file_bytes,
       |         count(*) AS n_docs
       |  FROM documents GROUP BY source, lang
       |), packed AS (
       |  SELECT source, lang, n_docs, file_bytes,
       |         coalesce(sum(file_bytes) OVER (ORDER BY source, lang
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM files
       |)
       |SELECT source, lang, n_docs, file_bytes,
       |       CAST(cum_before // $targetBytes AS BIGINT) AS bin
       |FROM packed ORDER BY source, lang""".stripMargin

  private val fileRows = 4096L

  /** The fixed predicate workload for [[skipCompare]]: inclusive
    * (lo_u, hi_u, lo_t, hi_t) boxes — a user-band scan, an hour-band
    * scan, and a 2-D box. 65535 = the open side. */
  private val skipPreds = Seq(
    ("q_user_band", 256L, 511L, 0L, 65535L),
    ("q_time_band", 0L, 65535L, 14800L, 14863L),
    ("q_box", 256L, 511L, 14800L, 14863L))

  /** File-skipping simulation: the SAME rows written under (a) a
    * linear (user, hour) sort and (b) a Morton-curve sort, cut into
    * equal [[fileRows]]-row files, each file keeping its (user, hour)
    * min/max zone map; then the fixed 3-predicate workload is planned
    * against both layouts and the report says how many files each scan
    * touches. The quantified version of this module's header claim:
    * the linear layout wins the prefix-dimension band, the Z-order
    * layout wins the trailing-dimension band and the 2-D box — the
    * numbers a table-maintenance decision actually needs.
    *
    * Both layouts need the rows in their target total order — the
    * global sort IS the simulated write path (a real OPTIMIZE does a
    * range-partitioned sort write; it is paid once at write time, and
    * the report's output is file-inventory-sized). */
  def skipCompare(spark: SparkSession, dir: String,
                  rowsPerFile: Long = fileRows): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = t(spark, dir, "events")
      .select(col("event_id"),
        col("user_id").bitwiseAND(lit(65535L)).as("ux"),
        expr("(ts div 3600000000000) & 65535").as("th"))
      .withColumn("z", morton16(col("ux"), col("th")))
    def boxes(layout: String, order: Seq[Column]): DataFrame =
      g.withColumn("rn", row_number().over(Window.orderBy(order: _*)).cast("long"))
        .withColumn("f", expr(s"(rn - 1) DIV $rowsPerFile"))
        .groupBy("f")
        .agg(min("ux").as("min_u"), max("ux").as("max_u"),
          min("th").as("min_t"), max("th").as("max_t"))
        .select(lit(layout).as("layout"), col("min_u"), col("max_u"),
          col("min_t"), col("max_t"))
    val files = boxes("linear", Seq(col("ux"), col("th"), col("event_id")))
      .unionAll(boxes("zorder", Seq(col("z"), col("event_id")))).localCheckpoint(false)
    val preds = skipPreds.map { case (p, lu, hu, lt, ht) =>
      s"SELECT '$p' AS pred, ${lu}L AS lo_u, ${hu}L AS hi_u, ${lt}L AS lo_t, ${ht}L AS hi_t"
    }.reduce(_ + " UNION ALL " + _)
    files.crossJoin(broadcast(spark.sql(preds)))
      .groupBy("layout", "pred")
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("min_u") <= col("hi_u") && col("max_u") >= col("lo_u") &&
          col("min_t") <= col("hi_t") && col("max_t") >= col("lo_t"), 1L)
          .otherwise(0L)).as("n_scanned"))
      .withColumn("skip_permille",
        expr("(1000 * (n_files - n_scanned)) DIV n_files"))
      .orderBy("layout", "pred")
  }

  def skipCompareSql: String = {
    val preds = skipPreds.map { case (p, lu, hu, lt, ht) =>
      s"SELECT '$p' AS pred, $lu AS lo_u, $hu AS hi_u, $lt AS lo_t, $ht AS hi_t"
    }.mkString(" UNION ALL ")
    s"""WITH g AS (
       |  SELECT event_id, user_id & 65535 AS ux,
       |         (epoch_ns(ts) // 3600000000000) & 65535 AS th
       |  FROM events
       |), z AS (
       |  SELECT event_id, ux, th, ${mortonSql("ux", "th")} AS zc FROM g
       |), files AS (
       |  SELECT 'linear' AS layout,
       |         (row_number() OVER (ORDER BY ux, th, event_id) - 1) // $fileRows AS f,
       |         ux, th
       |  FROM z
       |  UNION ALL
       |  SELECT 'zorder' AS layout,
       |         (row_number() OVER (ORDER BY zc, event_id) - 1) // $fileRows AS f,
       |         ux, th
       |  FROM z
       |), zone AS (
       |  SELECT layout, f, min(ux) AS min_u, max(ux) AS max_u,
       |         min(th) AS min_t, max(th) AS max_t
       |  FROM files GROUP BY layout, f
       |), preds AS ($preds)
       |SELECT layout, pred, count(*) AS n_files,
       |       CAST(sum(CASE WHEN min_u <= hi_u AND max_u >= lo_u
       |                      AND min_t <= hi_t AND max_t >= lo_t
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned,
       |       (1000 * (count(*) - CAST(sum(CASE WHEN min_u <= hi_u AND max_u >= lo_u
       |                                          AND min_t <= hi_t AND max_t >= lo_t
       |                                         THEN 1 ELSE 0 END) AS BIGINT)))
       |         // count(*) AS skip_permille
       |FROM zone CROSS JOIN preds
       |GROUP BY layout, pred ORDER BY layout, pred""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "layout_zorder_stats" -> ((s, d) => zorderStats(s, d)),
    "layout_compaction_bins" -> ((s, d) => compactionBins(s, d)),
    "layout_skip_compare" -> ((s, d) => skipCompare(s, d)))

  val oracles: Map[String, String] = Map(
    "layout_zorder_stats" -> zorderStatsSql(),
    "layout_compaction_bins" -> compactionBinsSql(),
    "layout_skip_compare" -> skipCompareSql)
}
