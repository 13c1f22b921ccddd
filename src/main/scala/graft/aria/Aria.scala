package graft.aria

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.gen.Workload
import graft.model.{AriaConfig, EpochStats}

/** Aria-style deterministic epoch-batch transaction processing as Spark
  * dataflow (SURVEY.md §2.2, T2–T11).
  *
  * Reference pipeline (/root/reference/src/database/ycsb/db.h:111-125):
  *   Execute → Commit(analyze) → Install → Collect, with device-wide
  * barriers between phases. Each phase is a pure set-oriented transform
  * over immutable snapshots, so the natural Spark expression is:
  *
  *   Execute/reserve  = ops ⋈ table (snapshot) + groupBy(key).agg(min(tid))
  *   Commit(analyze)  = ops ⋈ reservations + per-txn max(hazard flags)
  *   Install          = committed write sets, merged into the table once
  *                      per drain (max(epoch, tid, opIdx) per key)
  *   Collect          = filter aborted + renumber by rank in the abort set
  *
  * The CAS-min races of the reference (metadatahelper.cuh:36-90) are a
  * commutative min-monoid — exactly Spark's partial+final hash aggregation.
  * A reference-size drain runs on one partition ([[runFrom]]), so every
  * phase's clustering is already satisfied and each epoch is ONE stage
  * with no shuffle. At decade scale the reservations shuffle once on `key`
  * with map-side combine, and each phase is a single shuffle stage; the
  * phase barriers of the reference are Spark's stage boundaries for free.
  *
  * Semantics preserved (SURVEY.md §2.5): min-Tid wins reservations; hazards
  * only against strictly smaller Tids; Tid 0 = unreserved sentinel; every op
  * is a read-set entry, update ops also write-set entries; ops on absent
  * keys are skipped (primary path, TrancM_func.cuh:32-34); aborted txns
  * retry with their original ops, compacted and renumbered 1..m; commit
  * rules: no-reorder → abort iff raw∨waw (TrancM_func.cuh:209), reorder →
  * abort iff waw ∨ (raw∧war) (TrancM_func.cuh:183-187).
  */
object Aria {

  /** T5 Reserve: per-key min-Tid read/write reservations for one epoch.
    * 0 = unreserved (the reference's zero sentinel). Input ops MUST already
    * be restricted to keys present in the table.
    *
    * `keyCols` instantiates the reference's 2-D `table_vec` ambition
    * (database.h:20 — a vector of per-table hash maps it declares but
    * never exercises): multi-table txns reserve per (tbl, key), which
    * relationally is just a wider grouping key — same shuffle, same
    * min-monoid, no second code path. Default = the reference's
    * single-table behavior.
    */
  def reserve(ops: DataFrame, keyCols: Seq[String] = Seq("key")): DataFrame =
    ops.groupBy(keyCols.map(col): _*).agg(
      min("tid").as("rts"),
      coalesce(min(when(col("isUpdate"), col("tid"))), lit(0)).as("wts"))

  /** T6 Commit: per-txn hazard analysis against the reservation table.
    * RAW: any op (read set = all ops) sees a write reservation from a
    * strictly smaller Tid. WAR: any write op sees a read reservation from a
    * strictly smaller Tid. WAW: any write op sees a write reservation from
    * a strictly smaller Tid. (TrancM_func.cuh:126-164.)
    * A shuffled hash join, so no broadcast job runs before the epoch's
    * abort-set collect. On a one-partition drain neither side shuffles;
    * at decade scale [[reserve]] already partitions the reservations on
    * the key, so only the ops shuffle. */
  def analyze(ops: DataFrame, reservations: DataFrame,
              keyCols: Seq[String] = Seq("key")): DataFrame = {
    val j = ops.join(reservations.hint("shuffle_hash"), keyCols)
    j.groupBy("tid").agg(
      max(col("wts") =!= 0 && col("wts") < col("tid")).as("raw"),
      max(col("isUpdate") && col("rts") < col("tid")).as("war"),
      max(col("isUpdate") && col("wts") =!= 0 && col("wts") < col("tid")).as("waw"))
  }

  /** T7 decision: abort column per txn.
    * no-reorder: abort iff raw ∨ waw (WAR computed but ignored, §2.6);
    * reorder (Aria's deterministic reordering): abort iff waw ∨ (raw ∧ war).
    */
  def decide(verdicts: DataFrame, reorder: Boolean): DataFrame = {
    val abortCol =
      if (reorder) col("waw") || (col("raw") && col("war"))
      else col("raw") || col("waw")
    verdicts.withColumn("abort", abortCol)
  }

  /** T7 Install: merge a drain's committed writes into the table, once.
    *
    * The reference's Install copies each committed txn's write set back
    * into its table slots (TrancM_func.cuh:188-197,213-224): an epoch of
    * 150 txns touches at most ~900 of the 199,999 keys. So epochs only
    * emit their write sets ([[committedWrites]]) and the drain merges
    * them here at its end — one aggregation and one merge join, instead
    * of a rebuilt table per epoch.
    *
    * One winner rule covers every epoch: the write with the greatest
    * (epoch, tid, opIdx) per key. A later epoch overwrites an earlier
    * one. Within a normal epoch at most one committed tid writes a key
    * (any non-min-Tid writer carries WAW and aborts — asserted in tests,
    * SURVEY.md §7.4.4), so the last op of that txn wins (ops apply in
    * op order). Within the serial fallback epoch every residual txn
    * commits in Tid order, then op order, so the greatest (tid, opIdx)
    * is the serial outcome. (Writes are pure functions of (seed, epoch,
    * tid, opIdx), so last-writer-wins IS the serial outcome; a
    * read-dependent payload would need T10's per-key op chains.)
    * max(struct) is a commutative agg → partial+final aggregation, one
    * shuffle, no single-partition window.
    */
  def install(table: DataFrame, writes: DataFrame, seed: Long,
              keyCols: Seq[String] = Seq("key")): DataFrame = {
    val winners = writes
      .groupBy(keyCols.map(col): _*)
      .agg(max(struct(col("epoch"), col("tid"), col("opIdx"))).as("w"))
      .select(keyCols.map(col) ++ Seq(col("w.epoch").as("epoch"),
        col("w.tid").as("tid"), col("w.opIdx").as("opIdx")): _*)
    // value each winning op and left-join-merge it into the table.
    // Writes to absent keys drop here (the left join keeps only table
    // keys), matching the reference's skip of ops on missing keys.
    val valued = winners.select(keyCols.map(col) ++
      (0 until 10).map(i => Workload.writePayload(seed, i).as(s"nf$i")): _*)
    table.join(valued, keyCols, "left").select(
      keyCols.map(col) ++ (0 until 10).map(i =>
        coalesce(col(s"nf$i"), col(s"f$i")).as(s"f$i")): _*)
  }

  /** One epoch's write set, the input of [[install]]: the update ops of
    * every txn not in `abortedTids`, as keyCols ++ (epoch, tid, opIdx).
    * A map-only filter over the epoch's ops — the abort set is already
    * on the driver, so no join with the decisions re-runs reserve and
    * analyze. The set is matched by [[abortRank]], so every
    * epoch runs the same generated code. With no aborts (the serial
    * fallback epoch) every update op is a committed write. */
  def committedWrites(ops: DataFrame, abortedTids: Array[Int],
                      keyCols: Seq[String] = Seq("key")): DataFrame =
    ops.filter(col("isUpdate") && abortRank(abortedTids) <= 0)
      .select(keyCols.map(col) ++ Seq(col("epoch"), col("tid"), col("opIdx")): _*)

  /** T8 Collect: keep aborted txns' ops, renumber Tids 1..m preserving
    * original relative order (TransctionManager.cuh:176-184), bump epoch.
    *
    * The aborted-Tid set is already on the driver (the loop needs the
    * count anyway, and it is bounded by the batch size — 150 in the
    * reference, never the table size), so the new Tid is the old one's
    * [[abortRank]], folded into the projection — no join, no broadcast
    * exchange, no global window: one map-side stage per epoch on the
    * latency-bound drain chain, compiled once per JVM.
    */
  def collect(ops: DataFrame, abortedTids: Array[Int],
              keyCols: Seq[String] = Seq("key")): DataFrame = {
    // no aborts: a statically empty frame, which no job computes
    val tid = if (abortedTids.isEmpty) lit(0) else abortRank(abortedTids)
    ops.select(tid.as("tid") +: (col("epoch") + 1).as("epoch") +: col("opIdx") +:
        keyCols.map(col) :+ col("isUpdate"): _*)
      .filter(col("tid") > 0)
  }

  /** `tid`'s 1-based rank in the abort set, ≤ 0 if it did not abort: a
    * binary search of the sorted set, passed as one object literal that
    * codegen references, so the filters above compile once per JVM. An
    * `isin` set is written into the code (an `==` chain or a `switch`):
    * new classes every epoch, which evict the drain's from the cache. */
  private def abortRank(abortedTids: Array[Int]): Column =
    GraftBridge.column(StaticInvoke(classOf[java.util.Arrays], IntegerType, "binarySearch",
      Seq(Literal.fromObject(abortedTids.sorted), GraftBridge.expression(col("tid"))),
      returnNullable = false)) + 1

  final case class EpochResult(writes: DataFrame, retryOps: DataFrame, stats: EpochStats)

  /** T11: one epoch — Execute(restrict to present keys) → Reserve → Analyze
    * → Decide → Collect. Returns the epoch's committed write set (see
    * [[committedWrites]]; [[runFrom]] installs all epochs' sets at the
    * end of the drain) and the renumbered retry batch. `table` is read
    * only for key presence, and only when the generator's keyspace can
    * exceed the table's.
    *
    * `nTxnsInBatch` is the batch size INCLUDING txns whose exploded op set
    * is empty (zero generated ops, or every op on an absent key): those
    * never enter `ops`, carry no hazards, and commit vacuously — exactly
    * the reference, where an op-less thread runs the phases with empty
    * read/write sets and installs nothing.
    */
  def runEpoch(table: DataFrame, opsIn: DataFrame, epoch: Int,
               nTxnsInBatch: Long, cfg: AriaConfig,
               keyCols: Seq[String] = Seq("key")): EpochResult = {
    // Execute: batch point lookups ≡ equi-join; ops on absent keys are
    // dropped entirely (never enter read/write sets, TrancM_func.cuh:32-34).
    // When the generator's keyspace is contained in the table keyspace
    // (keys 1..keysMax ⊆ 1..tableKeys, both dense), the presence filter
    // is statically a no-op — skip the per-epoch semi-join shuffle.
    val shape = Seq("tid", "epoch", "opIdx") ++ keyCols :+ "isUpdate"
    val shaped = opsIn.select(shape.head, shape.tail: _*)
    val ops =
      if (cfg.keysMax <= cfg.tableKeys) shaped
      else shaped.join(table.select(keyCols.map(col): _*), keyCols, "leftsemi")
        .select(shape.head, shape.tail: _*)

    val res = reserve(ops, keyCols)
    val verdicts = decide(analyze(ops, res, keyCols), cfg.reorder)

    // the only driver action of the epoch: the loop needs the abort set
    // anyway (loop condition + Tid renumbering); bounded by batch size.
    val abortedTids = verdicts.filter(col("abort")).select("tid")
      .collect().map(_.getInt(0))

    // the write set reads the ops before the presence semi-join, so the
    // final merge does not re-run it: writes to absent keys drop at
    // [[install]]'s left join, and a txn with no present op never aborts
    val writes = committedWrites(shaped, abortedTids, keyCols)
    val retry = collect(ops, abortedTids, keyCols)
    val nAborted = abortedTids.length.toLong
    EpochResult(writes, retry,
      EpochStats(epoch, nTxnsInBatch, nTxnsInBatch - nAborted, nAborted))
  }

  final case class RunResult(table: DataFrame, stats: Seq[EpochStats])

  /** The full drain-to-empty loop (db.h:104-109) from the generated
    * epoch-0 state: [[runFrom]] over a lazily checkpointed `txnOps` batch
    * and the `kvTable` plan itself, which readers prune to the columns
    * they select. */
  def run(spark: SparkSession, cfg: AriaConfig): RunResult = {
    val ops = Workload.txnOps(spark, cfg.nTxns, cfg.maxOps, cfg.writePct,
      cfg.keysMax, cfg.seed).localCheckpoint(eager = eagerHygiene(cfg))
    runFrom(spark, cfg, Workload.kvTable(spark, cfg.tableKeys, cfg.seed), ops,
      startEpoch = 0, remaining0 = cfg.nTxns.toLong)
  }

  /** Table keys one shuffle task can hold without thrashing the heap —
    * the partition-scaling constant for [[runFrom]]'s clamp (sized from
    * the 10,000×-drain spill failure: tens of millions of rows in one
    * task died; one task per ~10M keys recovered it). */
  private val KeysPerShuffleTask = 10000000L

  /** Table size from which a drain frees each superseded retry batch
    * eagerly — derived from (half of) [[KeysPerShuffleTask]]: decade-
    * scale configs grow the batch with the table, and well before a
    * table needs more shuffle tasks, holding every epoch's retry batch
    * until the final merge already matters. Configs in
    * between (≥ this, < KeysPerShuffleTask) get eager hygiene while
    * still fitting one task — that ordering is deliberate: hygiene must
    * engage BEFORE partition scaling, never after. */
  private val EagerHygieneKeys = KeysPerShuffleTask / 2

  /** Decade-scale configs checkpoint each epoch's write set and retry
    * batch eagerly and free the superseded retry batch's blocks (see
    * [[runFrom]]). The reference-size drain keeps its lazy checkpoints:
    * it holds one retry-batch block set per epoch, each at most the
    * 150-txn batch (≤4,500 ops), until its final merge is read. */
  private def eagerHygiene(cfg: AriaConfig): Boolean =
    cfg.forceEagerHygiene || cfg.tableKeys >= EagerHygieneKeys

  /** Resume (or start) the drain from EXPLICIT state. The durability
    * boundary is the (table, retry batch) pair at an epoch boundary:
    * epochs are deterministic functions of it, so persisting the two
    * frames to parquet and calling this on the read-back resumes the
    * drain to a bit-identical final table, even in a fresh session after
    * driver loss. Inside one call the table is NOT rewritten per epoch —
    * epochs emit write sets and the table is merged once at the end — so
    * a caller that wants a mid-drain boundary builds the table from an
    * epoch's writes with [[install]] (as the restart specs do). Spark's
    * own resilience covers task/executor failure WITHIN the drain.
    * `remaining0` = txns in `ops0`'s batch (its distinct-tid count;
    * passed in because the caller always knows it and the loop must not
    * pay a count job to rediscover it). `keyCols` = the reservation key
    * (see [[reserve]]); (tbl, key) drains a multi-table state.
    *
    * The returned table is [[install]]'s plan, not a checkpoint: each
    * reader plans the merge with its own confs and prunes it to the
    * payload columns it selects. */
  def runFrom(spark: SparkSession, cfg: AriaConfig, table0: DataFrame,
              ops0: DataFrame, startEpoch: Int, remaining0: Long,
              keyCols: Seq[String] = Seq("key")): RunResult = {
    // Size the engine's shuffles to its (small-batch) workload: the
    // reference batch is ≤200 txns over ≤200k keys — dozens of shuffle
    // partitions only add scheduling latency per epoch, and AQE's
    // per-stage re-optimization is pure overhead at this size. The
    // drain is a latency-bound chain of tiny jobs, so every task saved
    // is wall time. Restored after the loop; results are
    // partitioning-independent (asserted in AriaSpec), so this is a
    // latency knob, not a semantics knob. On a real cluster with large
    // batches, keep AQE on and partitions high.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    // ... but the clamp must SCALE WITH THE TABLE: a decade-scale table
    // split a few ways puts tens of millions of rows in one shuffle task
    // and thrashes the heap (the 10,000× drain attempt died on spill
    // space before this sized up). One task per ~10M table keys keeps the
    // drain data-proportional at scale.
    //
    // Below KeysPerShuffleTask table keys that is ONE partition, and the
    // drain's batch is coalesced to it ([[drainWrites]]). CoalesceExec(1)
    // reports SinglePartition, which satisfies every clustering an epoch
    // asks for ([[reserve]]'s grouping, [[analyze]]'s join and per-tid
    // verdicts), so no exchange is planned and the abort-set collect runs
    // as one stage of one task. The bound that makes one task safe: an
    // epoch holds at most nTxns × maxOps ops (150 × 30 in the reference),
    // and the presence semi-join, when the keyspace exceeds the table,
    // reads fewer than KeysPerShuffleTask table keys; decade-scale configs
    // grow the batch with the table and keep the shuffled plan.
    val scaledParts = math.max(1L,
      math.min(prevParts.toLong, cfg.tableKeys.toLong / KeysPerShuffleTask + 1L))
    spark.conf.set("spark.sql.shuffle.partitions", scaledParts.toString)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (writes, stats) = drainWrites(cfg, table0, ops0, startEpoch, remaining0, keyCols,
        onePartition = scaledParts == 1L)
      val table =
        if (writes.isEmpty) table0
        else install(table0, writes.reduce(_ unionByName _), cfg.seed, keyCols)
      RunResult(table, stats)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  /** The epoch loop of [[runFrom]]: every epoch's committed write set
    * (the fallback epoch's included) and the stats trajectory.
    * `onePartition`: run the caller's batch coalesced to one partition;
    * every retry batch keeps SinglePartition through its checkpoint. */
  private def drainWrites(cfg: AriaConfig, table0: DataFrame, ops0: DataFrame,
                          startEpoch: Int, remaining0: Long, keyCols: Seq[String],
                          onePartition: Boolean): (Seq[DataFrame], Seq[EpochStats]) = {
    var ops = ops0
    // A retry batch the loop checkpointed ITSELF is a provably droppable
    // checkpoint root; the caller's generation-0 batch may be anything
    // ([[run]] hands in a checkpoint, a resume hands in a parquet read
    // with no blocks to free) — probe that one instead of asserting.
    var loopOwned = false
    val writes = Seq.newBuilder[DataFrame]
    val stats = Seq.newBuilder[EpochStats]
    // Decade-scale batches: checkpoint the write set EAGERLY (it reads
    // the ops blocks about to be dropped), then free the superseded
    // retry batch at once. A local checkpoint is non-reliable, so blocks
    // must never be dropped while a lazy plan could still read them.
    def keepWrites(w: DataFrame): Unit =
      writes += (if (eagerHygiene(cfg)) w.localCheckpoint(eager = true) else w)
    def dropOps(): Unit =
      if (eagerHygiene(cfg) && (loopOwned || GraftBridge.isCheckpointRoot(ops)))
        GraftBridge.dropCheckpointBlocks(ops)
    var epoch = startEpoch
    var remaining = remaining0
    while (remaining > 0 && epoch < cfg.maxEpochs) {
      // `ops` stays the caller's frame, so dropOps probes and frees it,
      // not the coalesce on top of it
      val in = if (onePartition && !loopOwned) ops.coalesce(1) else ops
      val r = runEpoch(table0, in, epoch, remaining, cfg, keyCols)
      keepWrites(r.writes)
      // reference-size batches: the lazy checkpoint folds
      // materialization into the next epoch's collect job
      val next = r.retryOps.localCheckpoint(eager = eagerHygiene(cfg))
      dropOps()
      ops = next
      loopOwned = true
      stats += r.stats
      remaining = r.stats.aborted
      epoch += 1
      // Contention-collapse fallback (cfg.fallbackCommitRate): min-Tid
      // starvation at batch≈keyspace makes each further epoch commit a
      // near-constant handful of txns — O(batch) epochs to drain (the
      // reference avoids the regime only by its 150/20k operating
      // point). When an epoch's commit rate drops below the threshold,
      // the Aria paper's deterministic fallback applies the whole
      // residual as ONE serial pass in Tid order, ops in op order, which
      // commits every txn: its write set is every update op of the
      // retry batch, and [[install]]'s winner rule is the serial
      // outcome. The retry batch already carries the next epoch number
      // and renumbered Tids, so the fallback epoch's stats row and
      // payload keys line up with what [[collect]] produced.
      if (remaining > 0 && cfg.fallbackCommitRate > 0 &&
          r.stats.committed < cfg.fallbackCommitRate * r.stats.txns) {
        keepWrites(committedWrites(ops, Array.empty, keyCols))
        dropOps()
        stats += EpochStats(epoch, remaining, remaining, 0)
        remaining = 0
        epoch += 1
      }
    }
    (writes.result(), stats.result())
  }
}
