package graft.aria

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Portable
import graft.gen.Workload
import graft.model.AriaConfig

/** Harness-facing queries over the Aria transaction engine. The epoch
  * loop itself is not SQL-expressible (iterative, state-carrying) — the
  * drain queries are rows-only for the driver, with deep correctness
  * covered by the serial-replay simulator in AriaSpec. The one-epoch
  * Execute→Reserve→Analyze→Decide slice IS SQL-expressible: `Verify`
  * persists the seeded epoch-0 workload to parquet and
  * `epoch0VerdictsSql` recomputes the verdicts in DuckDB over those
  * files (full hash-match oracle).
  *
  * Config is intentionally independent of sfDir (the engine runs on its
  * own deterministic generated workload — matching the reference, which
  * generates its data in memory, db.h:42-53).
  */
object AriaQueries {

  // Harness-sized drain: 100 txns over 3000 hot keys drains in ~7
  // epochs — still several rounds of real aborts/retries, at half the
  // per-round latency of the old 150/2000 config (14 epochs of fixed
  // scheduler overhead). Full-size runs live in AriaMain and the specs.
  private[graft] val cfg = AriaConfig(
    nTxns = 100, maxOps = 30, writePct = 40,
    keysMax = 3000, tableKeys = 20000, seed = 42L, maxEpochs = 32)

  // One drain per (session, mode): the three harness queries all consume
  // the same deterministic run, so recomputing the epoch loop per query
  // would only re-measure scheduler overhead. The first touch launches
  // BOTH modes concurrently (each in its own child SparkSession, so the
  // small-batch conf tuning in Aria.run cannot race on a shared conf):
  // the drains are independent latency-bound job chains, so the sibling
  // overlaps this one's scheduler gaps and the family pays ~max, not
  // sum. The final table stays a lazy merge that each reader prunes.
  private val drainPool = java.util.concurrent.Executors.newFixedThreadPool(2,
    (r: Runnable) => { val t = new Thread(r, "aria-drain"); t.setDaemon(true); t })
  private implicit val drainEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(drainPool)

  private def drain(spark: SparkSession, reorder: Boolean) = graft.Memo(spark, ("aria.drain", reorder))(
    scala.concurrent.Future(Aria.run(spark.newSession(), cfg.copy(reorder = reorder))))

  private def cachedRun(spark: SparkSession, reorder: Boolean): Aria.RunResult = {
    val fut = drain(spark, reorder)
    drain(spark, !reorder)
    scala.concurrent.Await.result(fut, scala.concurrent.duration.Duration.Inf)
  }

  /** Per-epoch commit/abort accounting of the full drain-to-empty run —
    * the reference's observable behavior (printf traces of db.test()). */
  def epochStats(spark: SparkSession, dir: String): DataFrame =
    spark.createDataFrame(cachedRun(spark, reorder = false).stats).orderBy("epoch")

  /** Reorder-mode comparison: both commit rules on the same batch —
    * reorder must commit a superset per epoch 0 (Aria's optimization). */
  def reorderComparison(spark: SparkSession, dir: String): DataFrame = {
    val base = cachedRun(spark, reorder = false).stats
    val reorder = cachedRun(spark, reorder = true).stats
    val rows = Seq(
      ("no_reorder", base.length.toLong, base.map(_.committed).sum, base.head.committed),
      ("reorder", reorder.length.toLong, reorder.map(_.committed).sum, reorder.head.committed))
    spark.createDataFrame(rows)
      .toDF("mode", "epochs_to_drain", "total_committed", "epoch0_committed")
      .orderBy("mode")
  }

  /** Final table state after the drain, summarized (checksum + count) —
    * the serializability-relevant output. The checksum is md5-portable
    * (Portable.hash60 of key + 3 payload fields) so DuckDB can recompute
    * the identical value from the unrolled drain oracle. */
  def finalTableSummary(spark: SparkSession, dir: String): DataFrame = {
    val run = cachedRun(spark, reorder = false)
    checksum(run.table, Seq("key", "f0", "f4", "f9"))
  }

  /** One epoch's verdicts (hazard flags + decision) on the epoch-0 batch
    * — the Execute→Reserve→Analyze→Decide slice as a single DataFrame. */
  def epoch0Verdicts(spark: SparkSession, dir: String): DataFrame = {
    val table = Workload.kvTable(spark, cfg.tableKeys, cfg.seed)
    val ops0 = Workload.txnOps(spark, cfg.nTxns, cfg.maxOps, cfg.writePct,
      cfg.keysMax, cfg.seed)
    val ops = ops0.join(table.select("key"), Seq("key"), "leftsemi")
      .select("tid", "epoch", "opIdx", "key", "isUpdate")
    Aria.decide(Aria.analyze(ops, Aria.reserve(ops)), cfg.reorder)
      .orderBy("tid")
  }

  /** Persist the seeded epoch-0 workload (table keys + exploded ops) so
    * DuckDB can recompute the verdicts independently. Called by Verify
    * before it dumps oracle_sql.json. */
  def persistEpoch0Inputs(spark: SparkSession, outDir: String): Unit = {
    Workload.kvTable(spark, cfg.tableKeys, cfg.seed).select("key")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/aria_epoch0_keys")
    Workload.txnOps(spark, cfg.nTxns, cfg.maxOps, cfg.writePct,
        cfg.keysMax, cfg.seed)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/aria_epoch0_ops")
  }

  /** DuckDB oracle for `epoch0Verdicts` over the persisted workload —
    * the reference's hazard rules (TrancM_func.cuh:126-250): RAW/WAR/WAW
    * against strictly-smaller Tids, zero = unreserved, no-reorder commit
    * rule abort iff raw ∨ waw. `__ARIA_DIR__` is substituted by Verify
    * with the absolute output directory. */
  val epoch0VerdictsSql: String =
    """WITH ops AS (
      |  SELECT tid, key, isUpdate
      |  FROM read_parquet('__ARIA_DIR__/aria_epoch0_ops/*.parquet')
      |  WHERE key IN (SELECT key FROM read_parquet('__ARIA_DIR__/aria_epoch0_keys/*.parquet'))
      |), res AS (
      |  SELECT key, min(tid) AS rts,
      |         coalesce(min(CASE WHEN isUpdate THEN tid END), 0) AS wts
      |  FROM ops GROUP BY key
      |), flags AS (
      |  SELECT tid,
      |         bool_or(wts <> 0 AND wts < tid) AS raw,
      |         bool_or(isUpdate AND rts < tid) AS war,
      |         bool_or(isUpdate AND wts <> 0 AND wts < tid) AS waw
      |  FROM ops JOIN res USING (key)
      |  GROUP BY tid
      |)
      |SELECT tid, raw, war, waw, (raw OR waw) AS abort
      |FROM flags ORDER BY tid""".stripMargin

  // ——— Unrolled drain oracles ———————————————————————————————————————
  //
  // The drain loop is iterative, but for a FIXED config it is a fixed
  // (data-dependently truncated) number of deterministic epochs, each a
  // pure relational transform of the previous epoch's retry batch. So
  // the whole drain — stats trajectory, reorder comparison, and final
  // table — unrolls into a chain of SQL CTEs over NOTHING but the
  // persisted epoch-0 workload: DuckDB independently re-derives every
  // epoch (reserve → analyze → decide → renumbered retry batch) and the
  // md5 write payloads. `unrollEpochs` must cover the drain length
  // (engine: 7 epochs no-reorder / 5 reorder at this config; a config
  // needing more would surface as a row-count mismatch, never silently).
  // CTEs are MATERIALIZED: each epoch must evaluate once, both for cost
  // and to keep DuckDB from re-expanding the parquet scan per reference.
  private val unrollEpochs = 12

  /** The unrolled epoch chain `ops_<mode>_e` → `res` → `flg` → `ab` →
    * `ops_<mode>_{e+1}`, ending in `stats_<mode>` (epoch, txns,
    * committed, aborted). Reservations and hazards key on `keys` — the
    * single table's `key`, or (tbl, key) for the multi-table drain. */
  private def drainChainSql(mode: String, reorder: Boolean,
      opsSrc: String = defaultOpsSrc, nTxns0: Int = cfg.nTxns,
      keys: Seq[String] = Seq("key")): Seq[String] = {
    val dec = if (reorder) "(waw OR (raw AND war))" else "(raw OR waw)"
    val k = keys.mkString(", ")
    val head = Seq(s"ops_${mode}_0 AS MATERIALIZED (\n$opsSrc)")
    val epochs = (0 until unrollEpochs).flatMap { e =>
      Seq(
        s"""res_${mode}_$e AS (
           |  SELECT $k, min(tid) AS rts,
           |         coalesce(min(CASE WHEN isUpdate THEN tid END), 0) AS wts
           |  FROM ops_${mode}_$e GROUP BY $k)""".stripMargin,
        s"""flg_${mode}_$e AS MATERIALIZED (
           |  SELECT tid, bool_or(wts <> 0 AND wts < tid) AS raw,
           |         bool_or(isUpdate AND rts < tid) AS war,
           |         bool_or(isUpdate AND wts <> 0 AND wts < tid) AS waw
           |  FROM ops_${mode}_$e JOIN res_${mode}_$e USING ($k) GROUP BY tid)""".stripMargin,
        s"""ab_${mode}_$e AS MATERIALIZED (
           |  SELECT tid, row_number() OVER (ORDER BY tid) AS new_tid
           |  FROM flg_${mode}_$e WHERE $dec)""".stripMargin,
        s"""ops_${mode}_${e + 1} AS MATERIALIZED (
           |  SELECT ab.new_tid AS tid, o.epoch + 1 AS epoch, o.opIdx, ${keys.map("o." + _).mkString(", ")}, o.isUpdate
           |  FROM ops_${mode}_$e o JOIN ab_${mode}_$e ab ON o.tid = ab.tid)""".stripMargin)
    }
    val statRows = (0 until unrollEpochs).map { e =>
      val txns = if (e == 0) nTxns0.toString
                 else s"(SELECT count(*) FROM ab_${mode}_${e - 1})"
      val ab = s"(SELECT count(*) FROM ab_${mode}_$e)"
      s"""SELECT $e AS epoch, CAST($txns AS BIGINT) AS txns,
         |       CAST($txns - $ab AS BIGINT) AS committed, CAST($ab AS BIGINT) AS aborted
         |WHERE $txns > 0""".stripMargin
    }
    head ++ epochs :+ s"stats_$mode AS (${statRows.mkString("\nUNION ALL\n")})"
  }

  /** Every epoch's committed writes of a [[drainChainSql]] chain, as
    * (keys…, epoch, tid, opIdx) rows; `cond(e)` may restrict epoch e. */
  private def committedSql(mode: String, keys: Seq[String] = Seq("key"),
      cond: Int => String = _ => ""): String =
    (0 until unrollEpochs).map { e =>
      s"""SELECT ${keys.map("o." + _).mkString(", ")}, o.epoch, o.tid, o.opIdx
         |FROM ops_${mode}_$e o JOIN flg_${mode}_$e f USING (tid)
         |WHERE NOT (f.raw OR f.waw) AND o.isUpdate${cond(e)}""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Field `f$i` of a final-table row: the winning write's md5 payload
    * (aliases `w`, the winner, and `k`, the regenerated key row), else
    * the load payload of the key `loadKey` renders — the same strings
    * Workload.writePayload/kvTable produce. */
  private def payloadSql(seed: Long, loadKey: String, i: Int): String =
    s"""CASE WHEN w.key IS NULL THEN substr(md5('${seed}_load_' || $loadKey || '_$i'), 1, 10)
       |     ELSE substr(md5('${seed}_write_' || w.epoch || '_' || w.tid || '_' || w.opIdx || '_$i'), 1, 10) END""".stripMargin

  /** The three payload fields every final-table oracle checksums. */
  private def payloadsSql(seed: Long, loadKey: String): String =
    Seq(0, 4, 9).map(i => s"         ${payloadSql(seed, loadKey, i)} AS f$i").mkString(",\n")

  /** Order-free table checksum: bit_xor of the md5-portable hash60 of
    * `cols` joined by '_'. Spark twin: [[checksum]]. */
  private def checksumSql(cols: Seq[String]): String =
    s"bit_xor(${Portable.hash60Sql(cols.mkString(" || '_' || "))}) AS table_checksum"

  /** Spark twin of [[checksumSql]]: n_rows and table_checksum of
    * `table`'s `cols` per `by` group (no `by`: one row). */
  private def checksum(table: DataFrame, cols: Seq[String],
                       by: Seq[String] = Nil): DataFrame =
    table
      .select(by.map(col) :+ Portable.hash60(concat_ws("_", cols.map(col): _*)).as("h"): _*)
      .groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("table_checksum"))

  /** The single-table epoch-0 batch restricted to present keys — the
    * default ops_0 source of [[drainChainSql]]. */
  private def defaultOpsSrc: String =
    """  SELECT tid, epoch, opIdx, key, isUpdate
      |  FROM read_parquet('__ARIA_DIR__/aria_epoch0_ops/*.parquet')
      |  WHERE key IN (SELECT key FROM read_parquet('__ARIA_DIR__/aria_epoch0_keys/*.parquet'))""".stripMargin

  val epochStatsSql: String =
    s"""WITH ${drainChainSql("nr", reorder = false).mkString(",\n")}
       |SELECT CAST(epoch AS INT) AS epoch, txns, committed, aborted
       |FROM stats_nr ORDER BY epoch""".stripMargin

  val reorderComparisonSql: String =
    s"""WITH ${(drainChainSql("nr", reorder = false) ++ drainChainSql("ro", reorder = true)).mkString(",\n")}
       |SELECT 'no_reorder' AS mode,
       |       (SELECT count(*) FROM stats_nr)::BIGINT AS epochs_to_drain,
       |       (SELECT sum(committed) FROM stats_nr)::BIGINT AS total_committed,
       |       (SELECT committed FROM stats_nr WHERE epoch = 0)::BIGINT AS epoch0_committed
       |UNION ALL
       |SELECT 'reorder',
       |       (SELECT count(*) FROM stats_ro)::BIGINT,
       |       (SELECT sum(committed) FROM stats_ro)::BIGINT,
       |       (SELECT committed FROM stats_ro WHERE epoch = 0)::BIGINT
       |ORDER BY mode""".stripMargin

  /** Final-table oracle: the per-key winning write is the committed
    * update op with the greatest (epoch, opIdx) across the whole drain
    * (install's max(epoch, tid, opIdx) rule; within an epoch the
    * committed writer per key is unique). Payload fields are the same
    * md5 strings Workload.writePayload/kvTable produce. */
  val finalTableSql: String = {
    s"""WITH ${drainChainSql("nr", reorder = false).mkString(",\n")},
       |cw AS (${committedSql("nr")}),
       |win AS (
       |  SELECT key, epoch, tid, opIdx,
       |         row_number() OVER (PARTITION BY key ORDER BY epoch DESC, opIdx DESC) AS rn
       |  FROM cw
       |),
       |fin AS (
       |  SELECT k.key,
       |${payloadsSql(cfg.seed, "k.key")}
       |  FROM read_parquet('__ARIA_DIR__/aria_epoch0_keys/*.parquet') k
       |  LEFT JOIN (SELECT * FROM win WHERE rn = 1) w ON k.key = w.key
       |)
       |SELECT count(*)::BIGINT AS n_rows,
       |       ${checksumSql(Seq("key", "f0", "f4", "f9"))}
       |FROM fin""".stripMargin
  }

  // ——— Contention-collapse fallback drain ————————————————————————————
  //
  // The one regime the reference engine cannot survive: batch≈keyspace,
  // where min-Tid reservations starve and every epoch commits a
  // near-constant handful (BASELINE.md "contention collapse"; the
  // reference only avoids it by its 150-txn/20k-key operating point,
  // Transction.h:24-33). Aria's paper answer is a deterministic
  // fallback; here it is one serial pass whose write set (every update
  // op of the residual) joins the drain's one install merge, under the
  // same max(epoch, tid, opIdx) winner rule. The harness config drains
  // 100 txns over 250 hot keys: epochs 0–2 run normal Aria (commit
  // rates 30% → 12.9% → 8.2%), epoch 2 dips under the 10% threshold,
  // and epoch 3 serially applies the 56-txn residual. The oracle
  // unrolls the same machine and finds the trigger epoch in SQL.

  private[graft] val fbCfg = AriaConfig(
    nTxns = 100, maxOps = 12, writePct = 40,
    keysMax = 250, tableKeys = 300, seed = 42L, maxEpochs = 32,
    fallbackCommitRate = 0.10)

  /** Per-epoch stats of the fallback drain plus the final-table checksum
    * (constant columns) — trajectory and end state in one hash-matched
    * result. Runs in a child session (Aria.run tunes session confs). */
  def fallbackDrain(spark: SparkSession, dir: String): DataFrame = {
    val run = Aria.run(spark.newSession(), fbCfg)
    val sum = checksum(run.table, Seq("key", "f0", "f4", "f9")).head()
    spark.createDataFrame(run.stats)
      .withColumn("n_rows", lit(sum.getLong(0)))
      .withColumn("table_checksum", lit(sum.getLong(1)))
      .orderBy("epoch")
  }

  /** Persist the fallback config's epoch-0 batch (keysMax ≤ tableKeys,
    * so no presence filter is needed; the oracle regenerates the dense
    * key column itself). */
  def persistFallbackInputs(spark: SparkSession, outDir: String): Unit =
    Workload.txnOps(spark, fbCfg.nTxns, fbCfg.maxOps, fbCfg.writePct,
        fbCfg.keysMax, fbCfg.seed)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/aria_fb_ops")

  /** Unrolled fallback-drain oracle: run [[drainChainSql]]'s machine,
    * find the first epoch whose commit rate dips under the threshold
    * (with a nonempty residual), truncate the stats there, append the
    * serial fallback epoch, and checksum the final table built from
    * committed writes of epochs ≤ trigger plus last-writer-wins
    * (tid, opIdx) over the residual batch. */
  val fallbackDrainSql: String = {
    val fbSrc =
      """  SELECT tid, epoch, opIdx, key, isUpdate
        |  FROM read_parquet('__ARIA_DIR__/aria_fb_ops/*.parquet')""".stripMargin
    val thr = fbCfg.fallbackCommitRate
    val cw = committedSql("fb", cond = e =>
      s"\n  AND $e <= coalesce((SELECT f FROM trig), ${unrollEpochs + 1})")
    val fbw = (1 to unrollEpochs).map { e =>
      s"""SELECT key, epoch, tid, opIdx FROM ops_fb_$e
         |WHERE isUpdate AND $e = (SELECT f FROM trig) + 1""".stripMargin
    }
    s"""WITH ${drainChainSql("fb", reorder = false, fbSrc, fbCfg.nTxns).mkString(",\n")},
       |trig AS (
       |  SELECT min(epoch) AS f FROM stats_fb
       |  WHERE aborted > 0 AND committed < $thr * txns),
       |stats_fin AS (
       |  SELECT epoch, txns, committed, aborted FROM stats_fb
       |  WHERE epoch <= coalesce((SELECT f FROM trig), ${unrollEpochs + 1})
       |  UNION ALL
       |  SELECT s.epoch + 1, s.aborted, s.aborted, CAST(0 AS BIGINT)
       |  FROM stats_fb s WHERE s.epoch = (SELECT f FROM trig)),
       |cw_fb AS ($cw),
       |fbw AS (${fbw.mkString("\nUNION ALL\n")}),
       |win_fb AS (
       |  SELECT key, epoch, tid, opIdx,
       |         row_number() OVER (PARTITION BY key
       |           ORDER BY epoch DESC, tid DESC, opIdx DESC) AS rn
       |  FROM (SELECT * FROM cw_fb UNION ALL SELECT * FROM fbw)),
       |keys_fb AS (SELECT (k + 1)::INT AS key FROM range(${fbCfg.tableKeys}) t(k)),
       |fin_fb AS (
       |  SELECT k.key,
       |${payloadsSql(fbCfg.seed, "k.key")}
       |  FROM keys_fb k
       |  LEFT JOIN (SELECT * FROM win_fb WHERE rn = 1) w ON k.key = w.key),
       |sum_fb AS (
       |  SELECT count(*)::BIGINT AS n_rows,
       |         ${checksumSql(Seq("key", "f0", "f4", "f9"))}
       |  FROM fin_fb)
       |SELECT CAST(s.epoch AS INT) AS epoch, s.txns, s.committed, s.aborted,
       |       m.n_rows, m.table_checksum
       |FROM stats_fin s CROSS JOIN sum_fb m ORDER BY epoch""".stripMargin
  }

  // ——— Multi-table drain: the reference's 2-D table_vec instantiated ——
  //
  // database.h:20 declares `table_vec` — a vector of per-table hash maps
  // the reference never exercises with more than one table. Here txns
  // genuinely span tables: every phase keys on (tbl, key) through the
  // SAME generalized Aria phases (keyCols = tbl::key — a wider grouping
  // key, not a second engine, and the same drain loop), and install
  // merges each table's rows independently. The query reports
  // per-table final checksums plus the drain length; the oracle unrolls the whole multi-table drain as
  // per-epoch CTEs over the persisted epoch-0 batch, recomputing every
  // winning payload.

  private[graft] val mtTables = 3
  private[graft] val mtCfg = AriaConfig(nTxns = 60, maxOps = 12, writePct = 40,
    keysMax = 800, tableKeys = 1000, seed = 42L, maxEpochs = 16)
  private val mtKeyCols = Seq("tbl", "key")

  /** The multi-table drain: [[Aria.runFrom]] keyed on (tbl, key) from
    * the generated epoch-0 state, in a child session (the drain tunes
    * session confs). */
  private[graft] def runMulti(spark: SparkSession, cfg: AriaConfig = mtCfg,
      nTables: Int = mtTables): (DataFrame, Seq[graft.model.EpochStats]) = {
    val s = spark.newSession()
    val table = Workload.kvTables(s, nTables, cfg.tableKeys, cfg.seed)
    val ops = Workload.txnOpsMulti(s, cfg.nTxns, cfg.maxOps,
      cfg.writePct, cfg.keysMax, nTables, cfg.seed).localCheckpoint(false)
    val r = Aria.runFrom(s, cfg, table, ops, startEpoch = 0,
      remaining0 = cfg.nTxns.toLong, keyCols = mtKeyCols)
    (r.table, r.stats)
  }

  /** Per-table summary of the drained multi-table state: row count,
    * md5-portable checksum over (tbl, key, f0, f4, f9), and the drain
    * length — the whole multi-table machine behind three columns. */
  def multiTableSummary(spark: SparkSession, dir: String): DataFrame = {
    val (table, stats) = runMulti(spark)
    checksum(table, Seq("tbl", "key", "f0", "f4", "f9"), Seq("tbl"))
      .withColumn("epochs_to_drain", lit(stats.length.toLong))
      .orderBy("tbl")
  }

  /** Persist the multi-table epoch-0 batch for the DuckDB oracle (table
    * keys are dense tbl × 1..tableKeys — the oracle regenerates them). */
  def persistMultiInputs(spark: SparkSession, outDir: String): Unit =
    Workload.txnOpsMulti(spark, mtCfg.nTxns, mtCfg.maxOps, mtCfg.writePct,
        mtCfg.keysMax, mtTables, mtCfg.seed)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/aria_mt_ops")

  /** Unrolled multi-table drain oracle: [[drainChainSql]]'s machine with
    * (tbl, key) reservations/hazards/installs, ending in per-table
    * checksums over regenerated dense keys. */
  val multiTableSql: String = {
    val mtSrc =
      """  SELECT tid, epoch, opIdx, tbl, key, isUpdate
        |  FROM read_parquet('__ARIA_DIR__/aria_mt_ops/*.parquet')""".stripMargin
    s"""WITH ${drainChainSql("mt", reorder = false, mtSrc, mtCfg.nTxns, mtKeyCols).mkString(",\n")},
       |cw_mt AS (${committedSql("mt", mtKeyCols)}),
       |win_mt AS (
       |  SELECT tbl, key, epoch, tid, opIdx,
       |         row_number() OVER (PARTITION BY tbl, key ORDER BY epoch DESC, opIdx DESC) AS rn
       |  FROM cw_mt),
       |keys_mt AS (
       |  SELECT t.t::INT AS tbl, (k.k + 1)::INT AS key
       |  FROM range($mtTables) t(t), range(${mtCfg.tableKeys}) k(k)),
       |fin_mt AS (
       |  SELECT k.tbl, k.key,
       |${payloadsSql(mtCfg.seed, "k.tbl || '_' || k.key")}
       |  FROM keys_mt k
       |  LEFT JOIN (SELECT * FROM win_mt WHERE rn = 1) w
       |    ON k.tbl = w.tbl AND k.key = w.key)
       |SELECT tbl, count(*)::BIGINT AS n_rows,
       |       ${checksumSql(Seq("tbl", "key", "f0", "f4", "f9"))},
       |       (SELECT count(*) FROM stats_mt)::BIGINT AS epochs_to_drain
       |FROM fin_mt GROUP BY tbl ORDER BY tbl""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "aria_fallback_drain" -> fallbackDrain,
    "aria_multitable" -> multiTableSummary,
    "aria_epoch_stats" -> epochStats,
    "aria_reorder_comparison" -> reorderComparison,
    "aria_final_table" -> finalTableSummary,
    "aria_epoch0_verdicts" -> epoch0Verdicts)

  val oracles: Map[String, String] = Map(
    "aria_fallback_drain" -> fallbackDrainSql,
    "aria_multitable" -> multiTableSql,
    "aria_epoch0_verdicts" -> epoch0VerdictsSql,
    "aria_epoch_stats" -> epochStatsSql,
    "aria_reorder_comparison" -> reorderComparisonSql,
    "aria_final_table" -> finalTableSql)
}
