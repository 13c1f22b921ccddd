package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Prng

/** Deterministic seeded workload generation (SURVEY.md §2 T1/S15).
  *
  * Reference behavior reproduced:
  *  - Bulk load: keys 1..n-1 with random 10×10-char payloads, metadata 0
  *    (/root/reference/src/database/ycsb/db.h:42-53).
  *  - Txn batch: per txn `operation_numbers ~ U[0,30]`, keys `~ U[1,20000]`,
  *    write flag `~ Bernoulli(0.4)`, Tids assigned 1..n
  *    (/root/reference/src/database/ycsb/Transction_y.h:17-26,
  *    /root/reference/src/database/ycsb/TransctionManager.cuh:59-85).
  *
  * Unlike the reference's thread-seeded RNG, every value here is a pure
  * function of (seed, tid/key, opIdx) — identical across runs and partition
  * counts. Built on `spark.range` (parallel, no driver materialization), so
  * generation scales to arbitrary table sizes on a real cluster.
  */
object Workload {

  /** The KV table as a DataFrame: key INT, f0..f9 STRING. */
  def kvTable(spark: SparkSession, nKeys: Int, seed: Long): DataFrame = {
    val base = spark.range(1, nKeys.toLong + 1).select(col("id").cast("int").as("key"))
    base.select(col("key") +: (0 until 10).map(i =>
      Prng.payloadField(lit(seed), lit("load"), col("key"), lit(i)).as(s"f$i")): _*)
  }

  /** Exploded operation table: tid, epoch, opIdx, key, isUpdate.
    * One row per operation — the read/write-set representation
    * (SURVEY.md §2 T4). Ops-per-txn is U[0,maxOps] inclusive, matching
    * `u_operations(0, max_operations_numbers)` (Transction_y.h:18).
    */
  def txnOps(spark: SparkSession, nTxns: Int, maxOps: Int, writePct: Int,
             keysMax: Int, seed: Long, epoch: Int = 0): DataFrame = {
    val txns = spark.range(1, nTxns.toLong + 1)
      .select(col("id").cast("int").as("tid"))
      .withColumn("n_ops", Prng.uniformInt(maxOps + 1, lit(seed), lit("nops"), col("tid")))
    // n_ops = 0 must yield no rows: guard the sequence — an unguarded
    // sequence(0, -1) defaults to step -1 and produces [0, -1], giving
    // "zero-op" txns two phantom ops. explode drops the null branch.
    txns
      .select(col("tid"),
        explode(when(col("n_ops") > 0, sequence(lit(0), col("n_ops") - 1))).as("opIdx"))
      .select(
        col("tid"),
        lit(epoch).as("epoch"),
        col("opIdx"),
        Prng.uniformRange(1, keysMax, lit(seed), lit("key"), col("tid"), col("opIdx")).as("key"),
        Prng.bernoulliPct(writePct, lit(seed), lit("upd"), col("tid"), col("opIdx")).as("isUpdate"))
  }

  /** Multi-table KV state — the reference's 2-D `table_vec`
    * (database.h:20) instantiated: `nTables` tables of `nKeys` keys each
    * as ONE frame with a `tbl` column (relationally, a vector of hash
    * maps IS the disjoint union keyed by (tbl, key)). Payloads are
    * seeded per (tbl, key) so tables are genuinely distinct. */
  def kvTables(spark: SparkSession, nTables: Int, nKeys: Int, seed: Long): DataFrame = {
    val base = spark.range(nTables.toLong * nKeys)
      .select((col("id") / nKeys).cast("int").as("tbl"),
        (pmod(col("id"), lit(nKeys.toLong)) + 1).cast("int").as("key"))
    base.select(col("tbl") +: col("key") +: (0 until 10).map(i =>
      Prng.payloadField(lit(seed), lit("load"), col("tbl"), col("key"), lit(i)).as(s"f$i")): _*)
  }

  /** Multi-table op batch: [[txnOps]] plus a deterministic per-op table
    * id — txns span tables, exactly the cross-table transactions the
    * reference's `table_vec` declares room for. */
  def txnOpsMulti(spark: SparkSession, nTxns: Int, maxOps: Int, writePct: Int,
                  keysMax: Int, nTables: Int, seed: Long): DataFrame =
    txnOps(spark, nTxns, maxOps, writePct, keysMax, seed)
      .select(col("tid"), col("epoch"), col("opIdx"),
        Prng.uniformInt(nTables, lit(seed), lit("tbl"), col("tid"), col("opIdx")).as("tbl"),
        col("key"), col("isUpdate"))

  /** Deterministic new payload for a committed write — the Spark analog of
    * the reference's in-Execute value generation
    * (/root/reference/src/database/ycsb/TrancM_func.cuh:37-41). Keyed by
    * (seed, epoch, tid, opIdx, field) so retried txns in later epochs write
    * fresh values, like re-running curand does in the reference.
    */
  def writePayload(seed: Long, field: Int): org.apache.spark.sql.Column =
    Prng.payloadField(lit(seed), lit("write"), col("epoch"), col("tid"), col("opIdx"), lit(field))
}
