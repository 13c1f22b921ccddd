package graft

import org.apache.spark.sql.SparkSession

/** The engine's one reuse barrier is `df.localCheckpoint(false)`, written
  * at each call site: a frame read by two or more consumers, or a
  * per-round frontier reassigned in a driver loop, is materialized once
  * as row-based RDD blocks on first use.
  *
  * Every barrier cuts lineage, because a loop's round k must not plan
  * over all rounds < k: a nested plan makes analysis cost and stack depth
  * grow with the round count (measured 16× on the anisotropy report and
  * 5–6× on k-core and doubling CC before those loops cut per round).
  *
  * A second, `persist(MEMORY_AND_DISK)` mode kept the upstream plan
  * visible for a GPU plugin the engine never shipped, and was retired:
  * on CPU the round-10 board ran 10.7% slower under it, its partial board
  * totalled 351 s against 270 s on the same 306 queries, and
  * `sim_mmr_rerank` took 13.1 s against 1.7 s.
  *
  * Only the conf key and a constant mode remain: the benchmark harness
  * under `sparkbench/` still sets the one and stamps the other. */
object Cache {
  val ConfKey = "spark.graft.cache"

  def mode(spark: SparkSession): String = "checkpoint"
}
