package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** RAPIDS-readiness classification (north-star alignment: the driver
  * baseline names "Spark SQL with GPU-accelerated execution (RAPIDS)").
  *
  * No GPU exists in this sandbox, so nothing here RUNS on a GPU; what
  * can be verified without one is which logical-plan constructs the
  * public spark-rapids documentation lists as CPU-fallback triggers.
  * [[flags]] walks a query's optimized plan (including subquery plans)
  * and reports every such construct it finds; RapidsReadinessSpec pins
  * the resulting classification for the whole query board, so a future
  * edit that introduces a fallback into a clean query fails a test —
  * the same protection PlanShapeSpec gives shuffle/broadcast shapes.
  *
  * Conservative by construction: anything the docs mark unsupported,
  * partially supported, or whose support is version-dependent is
  * flagged. The categories (public spark-rapids supported_ops docs):
  *
  *  - `higher-order-function`: ArrayTransform / ArrayAggregate /
  *    ArrayFilter / ZipWith / ArrayExists … are not GPU-supported;
  *    plans using them fall back per-exec.
  *  - `scala-udf` / `scala-udaf`: JVM lambdas are opaque to the plugin.
  *  - `custom-expression`: graft's ArrayDotLong has a CPU codegen
  *    implementation only; the plugin has no replacement for it.
  *  - `bin` / `bit-count`: not in the supported expression list
  *    (conservative: flagged even though trivial to replace).
  *  - `rdd-segment` (LogicalRDD): a localCheckpoint boundary scans a
  *    row-based RDD — the scan itself is CPU, so the plan is at best
  *    SEGMENTED into GPU islands with columnar↔row transitions at each
  *    checkpoint, and upstream-of-checkpoint constructs are invisible
  *    to this audit (classified by review in COVERAGE.md instead).
  *  - `object-node` (MapPartitions / mapGroups / typed filter…):
  *    row-object processing, always CPU.
  *
  * Families whose CONSTRUCTION already executes work (streaming runs
  * the micro-batch engine; the aria drain iterates to a fixpoint) are
  * not plan-walkable here and are classified by documentation:
  * stateful streaming (transformWithState / flatMapGroupsWithState /
  * session_window merge state) is CPU per the docs, and the aria drain
  * is checkpoint-segmented by design. See COVERAGE.md §RAPIDS.
  */
object RapidsAudit {

  /** Conservative CPU-fallback triggers found in `df`'s optimized plan,
    * de-duplicated, in first-encounter order. Empty ⇒ every operator
    * and expression in the visible plan is on the public GPU-supported
    * list (parquet scan, filter/project, hash agg, sort, shuffle,
    * broadcast/hash/sort-merge join, window, explode, string/date/math
    * builtins, md5, casts, sequence/array access, conditionals). */
  def flags(df: DataFrame): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet[String]()
    def walkPlan(p: LogicalPlan): Unit = p.foreach { node =>
      node.getClass.getSimpleName match {
        // ExternalRDD: a .rdd round-trip re-entering the plan via toDF
        // (e.g. the T8 zipWithIndex renumber) — caught since the
        // jvm-invoke audit exposed its deserializer Invokes; it was
        // previously misclassified clean
        case "LogicalRDD" | "ExternalRDD" => out += "rdd-segment"
        // a custom DSv2 table (e.g. sources.GeneratorSource) is a
        // row-based scan outside the plugin's supported-source list —
        // the scan runs CPU with a row→columnar transition above it
        // (file formats here read through V1 LogicalRelation, so this
        // only fires on genuinely custom connectors)
        case "DataSourceV2Relation" | "DataSourceV2ScanRelation" =>
          out += "custom-source"
        case "MapPartitions" | "MapElements" | "MapGroups" |
             "FlatMapGroupsWithState" | "TypedFilter" |
             "AppendColumns" | "CoGroup" => out += "object-node"
        case _ => ()
      }
      node.expressions.foreach(walkExpr)
    }
    def walkExpr(e: Expression): Unit = {
      e.getClass.getSimpleName match {
        case "ArrayTransform" | "ArrayAggregate" | "ArrayFilter" |
             "ZipWith" | "ArrayExists" | "ArrayForAll" | "MapFilter" |
             "TransformKeys" | "TransformValues" => out += "higher-order-function"
        case "ScalaUDF" => out += "scala-udf"
        // V2 FunctionCatalog calls: the magic method binds as a
        // reflective Invoke (codegen on CPU, but a JVM call the plugin
        // cannot translate); ApplyFunctionExpression is the row-based
        // fallback form of the same thing
        case "Invoke" | "ApplyFunctionExpression" => out += "jvm-invoke"
        case "ScalaAggregator" | "ScalaUDAF" => out += "scala-udaf"
        case "ArrayDotLong" | "NfcNormalize" => out += "custom-expression"
        case "Bin" => out += "bin"
        case "BitwiseCount" => out += "bit-count"
        case "Percentile" => out += "exact-percentile"
        case _ => ()
      }
      e match {
        case s: SubqueryExpression => walkPlan(s.plan)
        case _ => ()
      }
      e.children.foreach(walkExpr)
    }
    walkPlan(df.queryExecution.optimizedPlan)
    out.toSeq
  }
}
