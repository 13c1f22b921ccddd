package graft

import org.apache.spark.sql.functions._
import graft.aria.Aria
import graft.gen.Workload
import graft.model.AriaConfig

import scala.collection.mutable

/** Aria engine vs. an independent plain-Scala simulator (SURVEY.md §5.1-5.2).
  *
  * The simulator consumes the SAME generated inputs (collected once from the
  * Workload DataFrames) but re-implements the epoch state machine with plain
  * collections — reservations, hazards, commit rules, write-back, retry
  * compaction — mirroring /root/reference/src/database/ycsb/TrancM_func.cuh
  * and TransctionManager.cuh semantics directly.
  */
class AriaSpec extends SparkSpec {

  case class Op(tid: Int, opIdx: Int, key: Int, isUpdate: Boolean)

  /** md5-hex prefix — must match Prng.payloadField(md5(concat_ws("_", ...))). */
  def md5_10(parts: Any*): String = {
    val s = parts.mkString("_")
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map(b => f"$b%02x").mkString.substring(0, 10)
  }

  /** `writeEpochs`: per key, the epochs whose committed writes (or
    * serial fallback writes) hit it, in order. */
  case class SimResult(table: Map[Int, IndexedSeq[String]],
                       epochStats: Seq[(Int, Long, Long)], // (epoch, committed, aborted)
                       writeEpochs: Map[Int, Seq[Int]])

  /** Plain-Scala Aria simulator. `ops0` = epoch-0 batch (tid asc, opIdx asc).
    * `fallbackCommitRate` > 0 enables the contention-collapse fallback:
    * when an epoch's commit rate dips under it, the residual is replayed
    * SERIALLY (renumbered tid order, op order) at the next epoch — the
    * ground truth the fallback epoch's write set must reproduce.
    * `nTxns0` = the full epoch-0 batch size including op-less txns (the engine's txns
    * denominator); later epochs' denominators are the abort counts, where
    * the two conventions already agree (aborted txns always carry ops). */
  def simulate(table0: Map[Int, IndexedSeq[String]], ops0: Seq[Op],
               seed: Long, reorder: Boolean, maxEpochs: Int = 64,
               fallbackCommitRate: Double = 0.0,
               nTxns0: Option[Int] = None): SimResult = {
    val table = mutable.Map[Int, IndexedSeq[String]]() ++= table0
    val written = mutable.Map[Int, Vector[Int]]().withDefaultValue(Vector.empty)
    def write(key: Int, epoch: Int, tid: Int, opIdx: Int): Unit = {
      table(key) = (0 until 10).map(i => md5_10(seed, "write", epoch, tid, opIdx, i))
      if (written(key).lastOption != Some(epoch)) written(key) = written(key) :+ epoch
    }
    var batch: Seq[Seq[Op]] = ops0.groupBy(_.tid).toSeq.sortBy(_._1).map(_._2.sortBy(_.opIdx))
    var txnsThisEpoch = nTxns0.getOrElse(batch.size)
    val stats = Seq.newBuilder[(Int, Long, Long)]
    var epoch = 0
    while (batch.nonEmpty && epoch < maxEpochs) {
      // ops on absent keys never enter read/write sets (TrancM_func.cuh:32-34)
      val present: Seq[(Int, Seq[Op])] =
        batch.map(ops => (ops.head.tid, ops.filter(o => table.contains(o.key))))
      // Reserve: per-key min tid (reads) / min update tid (writes)
      val rts = mutable.Map[Int, Int]()
      val wts = mutable.Map[Int, Int]()
      for ((tid, ops) <- present; o <- ops) {
        rts.updateWith(o.key)(v => Some(v.fold(tid)(math.min(_, tid))))
        if (o.isUpdate) wts.updateWith(o.key)(v => Some(v.fold(tid)(math.min(_, tid))))
      }
      // Analyze + decide
      val aborted = present.collect { case (tid, ops)
        if {
          val raw = ops.exists(o => wts.get(o.key).exists(w => w != 0 && w < tid))
          val war = ops.exists(o => o.isUpdate && rts.get(o.key).exists(r => r != 0 && r < tid))
          val waw = ops.exists(o => o.isUpdate && wts.get(o.key).exists(w => w != 0 && w < tid))
          if (reorder) waw || (raw && war) else raw || waw
        } => tid
      }.toSet
      // Install: committed txns in tid order, ops in op order (serial replay)
      for ((tid, ops) <- present if !aborted.contains(tid); o <- ops if o.isUpdate)
        write(o.key, epoch, tid, o.opIdx)
      stats += ((epoch, (txnsThisEpoch - aborted.size).toLong, aborted.size.toLong))
      // Collect: keep aborted txns' FULL op lists, renumber 1..m in order
      batch = present.filter(p => aborted.contains(p._1)).sortBy(_._1)
        .zipWithIndex.map { case ((_, ops), i) =>
          ops.map(o => o.copy(tid = i + 1))
        }.filter(_.nonEmpty)
      val rate = (txnsThisEpoch - aborted.size).toDouble
      if (batch.nonEmpty && fallbackCommitRate > 0 &&
          rate < fallbackCommitRate * txnsThisEpoch) {
        // contention collapse: replay the renumbered residual SERIALLY —
        // txns in (new) tid order, ops in op order — at the next epoch
        epoch += 1
        for (ops <- batch; o <- ops if o.isUpdate && table.contains(o.key))
          write(o.key, epoch, ops.head.tid, o.opIdx)
        stats += ((epoch, batch.size.toLong, 0L))
        batch = Seq.empty
      }
      txnsThisEpoch = batch.size
      epoch += 1
    }
    SimResult(table.toMap, stats.result(), written.toMap)
  }

  def collectTable(df: org.apache.spark.sql.DataFrame): Map[Int, IndexedSeq[String]] =
    df.collect().map { r =>
      r.getInt(0) -> (1 to 10).map(r.getString).toIndexedSeq
    }.toMap

  val cfg = AriaConfig(nTxns = 60, maxOps = 10, writePct = 40, keysMax = 80,
    tableKeys = 120, seed = 42L, maxEpochs = 64)

  def runBoth(reorder: Boolean): Unit = {
    val c = cfg.copy(reorder = reorder)
    val table0 = collectTable(Workload.kvTable(spark, c.tableKeys, c.seed))
    val ops0 = Workload.txnOps(spark, c.nTxns, c.maxOps, c.writePct, c.keysMax, c.seed)
      .collect().map(r => Op(r.getInt(0), r.getInt(2), r.getInt(3), r.getBoolean(4))).toSeq

    val sim = simulate(table0, ops0, c.seed, reorder)
    // the install merge's cross-epoch winner rule must be exercised: some
    // key is written by committed txns of two or more epochs
    assert(sim.writeEpochs.values.exists(_.size >= 2),
      s"no key is committed in two epochs — fixture degenerate: ${sim.epochStats}")
    val run = Aria.run(spark, c)
    val sparkTable = collectTable(run.table)

    // NOTE: spark stats count the whole batch (incl. op-less txns, which
    // commit vacuously); the simulator drops empty-op txns from later
    // epochs. Compare aborted counts (identical by construction) and
    // final state (the real invariant).
    val simAborts = sim.epochStats.map(_._3)
    val sparkAborts = run.stats.map(_.aborted)
    assert(sparkAborts.takeWhile(_ > 0) === simAborts.takeWhile(_ > 0).take(sparkAborts.length),
      s"per-epoch abort counts diverge: spark=$sparkAborts sim=$simAborts")
    assert(sparkTable.size === sim.table.size)
    val diffs = sparkTable.keySet.filter(k => sparkTable(k) != sim.table(k))
    assert(diffs.isEmpty, s"table rows diverge at keys: ${diffs.take(5)}")
  }

  test("drain restart: parquet-persisted mid-drain state resumes bit-identically") {
    val c = cfg
    val full = Aria.run(spark, c)
    // epoch 0 exactly as the loop runs it, then persist the machine
    // state (table + retry batch) through parquet — the durability
    // boundary a driver loss would force
    val table0 = Workload.kvTable(spark, c.tableKeys, c.seed)
    val ops0 = Workload.txnOps(spark, c.nTxns, c.maxOps, c.writePct, c.keysMax, c.seed)
    val r0 = Aria.runEpoch(table0, ops0, 0, c.nTxns, c)
    assert(r0.stats.aborted > 0, "fixture must abort in epoch 0 for the test to mean anything")
    val dir = graft.sources.Formats.fixture("aria_restart")
    Aria.install(table0, r0.writes, c.seed).write.mode("overwrite").parquet(s"$dir/table")
    r0.retryOps.write.mode("overwrite").parquet(s"$dir/ops")
    val resumed = Aria.runFrom(spark, c,
      spark.read.parquet(s"$dir/table"),
      spark.read.parquet(s"$dir/ops"),
      startEpoch = 1, remaining0 = r0.stats.aborted)
    // identical final table and identical epoch trajectory
    assert(collectTable(resumed.table) === collectTable(full.table),
      "resumed drain diverged from the uninterrupted run")
    assert((r0.stats +: resumed.stats) === full.stats,
      s"epoch trajectory diverged: ${r0.stats +: resumed.stats} vs ${full.stats}")
  }

  test("drain restart resumes under EAGER hygiene from a parquet read-back") {
    // the durability boundary is advertised precisely for decade-scale
    // (eager-hygiene) configs — resume must not try to drop checkpoint
    // blocks behind the caller's parquet frames (ADVICE r13)
    val c = cfg.copy(forceEagerHygiene = true)
    val full = Aria.run(spark, c)
    val table0 = Workload.kvTable(spark, c.tableKeys, c.seed)
    val ops0 = Workload.txnOps(spark, c.nTxns, c.maxOps, c.writePct, c.keysMax, c.seed)
    val r0 = Aria.runEpoch(table0, ops0, 0, c.nTxns, c)
    assert(r0.stats.aborted > 0, "fixture must abort in epoch 0 for the test to mean anything")
    val dir = graft.sources.Formats.fixture("aria_restart_eager")
    Aria.install(table0, r0.writes, c.seed).write.mode("overwrite").parquet(s"$dir/table")
    r0.retryOps.write.mode("overwrite").parquet(s"$dir/ops")
    val resumed = Aria.runFrom(spark, c,
      spark.read.parquet(s"$dir/table"),
      spark.read.parquet(s"$dir/ops"),
      startEpoch = 1, remaining0 = r0.stats.aborted)
    assert(collectTable(resumed.table) === collectTable(full.table),
      "eager-hygiene resumed drain diverged from the uninterrupted run")
    assert((r0.stats +: resumed.stats) === full.stats,
      s"epoch trajectory diverged: ${r0.stats +: resumed.stats} vs ${full.stats}")
  }

  test("multi-table drain matches the serial-replay simulator") {
    // composite keys (tbl, key) biject onto Int via tbl·C + key — hazard
    // and install semantics depend only on key IDENTITY, so the plain
    // simulator replays the multi-table machine exactly; write payloads
    // are (epoch, tid, opIdx)-keyed and table-independent in both.
    val nT = 3
    val C = 100000
    val c = cfg.copy(nTxns = 60, maxOps = 10)
    val table0 = graft.gen.Workload.kvTables(spark, nT, c.tableKeys, c.seed)
      .collect().map { r =>
        (r.getInt(0) * C + r.getInt(1)) -> (2 to 11).map(r.getString).toIndexedSeq
      }.toMap
    val ops0 = graft.gen.Workload.txnOpsMulti(spark, c.nTxns, c.maxOps,
        c.writePct, c.keysMax, nT, c.seed)
      .collect().map(r =>
        Op(r.getInt(0), r.getInt(2), r.getInt(3) * C + r.getInt(4), r.getBoolean(5)))
      .toSeq
    val sim = simulate(table0, ops0, c.seed, reorder = false)
    val (sparkTableDf, stats) = graft.aria.AriaQueries.runMulti(spark, c, nT)
    val sparkTable = sparkTableDf.collect().map { r =>
      (r.getInt(0) * C + r.getInt(1)) -> (2 to 11).map(r.getString).toIndexedSeq
    }.toMap
    assert(stats.map(_.aborted).takeWhile(_ > 0) ===
      sim.epochStats.map(_._3).takeWhile(_ > 0).take(stats.length),
      s"multi-table abort trajectory diverges: ${stats.map(_.aborted)} vs ${sim.epochStats.map(_._3)}")
    assert(sparkTable.size === sim.table.size)
    val diffs = sparkTable.keySet.filter(k => sparkTable(k) != sim.table(k))
    assert(diffs.isEmpty, s"multi-table rows diverge at composite keys: ${diffs.take(5)}")
    // cross-table txns must actually occur for the test to mean anything
    val spanning = ops0.groupBy(_.tid).values.count(_.map(_.key / C).distinct.size > 1)
    assert(spanning > 0, "no transaction spans tables — fixture degenerate")
  }

  test("no-reorder mode matches serial-replay simulator") { runBoth(reorder = false) }
  test("reorder mode matches serial-replay simulator") { runBoth(reorder = true) }

  test("simulator equivalence holds on a different seed and shape") {
    val c2 = cfg.copy(seed = 7L, nTxns = 45, maxOps = 12, keysMax = 60, tableKeys = 90)
    val table0 = collectTable(Workload.kvTable(spark, c2.tableKeys, c2.seed))
    val ops0 = Workload.txnOps(spark, c2.nTxns, c2.maxOps, c2.writePct, c2.keysMax, c2.seed)
      .collect().map(r => Op(r.getInt(0), r.getInt(2), r.getInt(3), r.getBoolean(4))).toSeq
    val sim = simulate(table0, ops0, c2.seed, reorder = false)
    val run = Aria.run(spark, c2)
    val sparkTable = collectTable(run.table)
    assert(sparkTable.size === sim.table.size)
    val diffs = sparkTable.keySet.filter(k => sparkTable(k) != sim.table(k))
    assert(diffs.isEmpty, s"table rows diverge at keys: ${diffs.take(5)}")
  }

  test("reservation table = groupwise min(tid)") {
    val ops = Workload.txnOps(spark, 40, 8, 50, 30, 7L)
    val res = Aria.reserve(ops).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    val raw = ops.collect().map(r => (r.getInt(0), r.getInt(3), r.getBoolean(4)))
    val expected = raw.groupBy(_._2).map { case (k, rows) =>
      val rts = rows.map(_._1).min
      val w = rows.filter(_._3).map(_._1)
      (k, rts, if (w.isEmpty) 0 else w.min)
    }.toSeq
    assert(res.sorted === expected.sorted)
  }

  test("at most one committed writer per key per epoch") {
    val c = cfg
    val table = Workload.kvTable(spark, c.tableKeys, c.seed)
    val ops0 = Workload.txnOps(spark, c.nTxns, c.maxOps, c.writePct, c.keysMax, c.seed)
    val ops = ops0.join(table.select("key"), Seq("key"), "leftsemi")
      .select("tid", "epoch", "opIdx", "key", "isUpdate")
    val decisions = Aria.decide(Aria.analyze(ops, Aria.reserve(ops)), reorder = false)
    val writers = ops.filter(col("isUpdate"))
      .join(decisions.filter(!col("abort")).select("tid"), Seq("tid"))
      .select("key", "tid").distinct()
      .groupBy("key").count().filter(col("count") > 1)
    assert(writers.count() === 0)
  }

  test("determinism: same seed, different partitioning → identical final table") {
    // runFrom drains a reference-size batch on one partition whatever the
    // session's shuffle partitions, so the same epochs are driven here
    // through runEpoch outside it, on 7 partitions: the exchange plan a
    // table of 10M keys or more takes
    val c = cfg.copy(nTxns = 30, maxEpochs = 8)
    val one = Aria.run(spark, c)
    val table0 = Workload.kvTable(spark, c.tableKeys, c.seed)
    val confs = Seq("spark.sql.shuffle.partitions" -> "7", "spark.sql.adaptive.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      var ops = Workload.txnOps(spark, c.nTxns, c.maxOps, c.writePct, c.keysMax, c.seed)
        .repartition(7)
      val verdicts = Aria.analyze(ops, Aria.reserve(ops)).queryExecution.executedPlan
      val exchanges = verdicts.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.outputPartitioning.numPartitions
      }
      assert(exchanges.nonEmpty && exchanges.forall(_ == 7),
        s"the 7-partition epoch must shuffle on 7 partitions: $exchanges")
      val writes = Seq.newBuilder[org.apache.spark.sql.DataFrame]
      val stats = Seq.newBuilder[graft.model.EpochStats]
      var remaining = c.nTxns.toLong
      var epoch = 0
      while (remaining > 0 && epoch < c.maxEpochs) {
        val r = Aria.runEpoch(table0, ops, epoch, remaining, c)
        writes += r.writes
        stats += r.stats
        ops = r.retryOps.localCheckpoint(eager = false)
        remaining = r.stats.aborted
        epoch += 1
      }
      assert(stats.result() === one.stats)
      val seven = Aria.install(table0, writes.result().reduce(_ unionByName _), c.seed)
      assert(collectTable(seven) === collectTable(one.table))
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("contention collapse: 20k-txn/20k-key starvation drains via the deterministic fallback") {
    // batch≈keyspace is the regime the reference never survives (its
    // operating point is 150 txns / 20k keys, Transction.h:24-33): min-Tid
    // reservations starve and each epoch commits a near-constant handful.
    // With the fallback the drain is bounded: the collapse is detected and
    // the residual applied as ONE deterministic serial pass, and the final
    // table must equal the serial-replay oracle's.
    val c = AriaConfig(nTxns = 20000, maxOps = 30, writePct = 40,
      keysMax = 20000, tableKeys = 20000, seed = 42L, maxEpochs = 64,
      fallbackCommitRate = 0.10)
    val table0 = collectTable(Workload.kvTable(spark, c.tableKeys, c.seed))
    val ops0 = Workload.txnOps(spark, c.nTxns, c.maxOps, c.writePct, c.keysMax, c.seed)
      .collect().map(r => Op(r.getInt(0), r.getInt(2), r.getInt(3), r.getBoolean(4))).toSeq
    val sim = simulate(table0, ops0, c.seed, reorder = false,
      fallbackCommitRate = c.fallbackCommitRate, nTxns0 = Some(c.nTxns))
    val run = Aria.run(spark, c)
    // drains to empty in bounded epochs (without the fallback this regime
    // needs O(batch) epochs — cf. the 26–57-epoch trajectories in
    // BASELINE.md "contention collapse")
    assert(run.stats.last.aborted === 0L, "drain must end empty")
    assert(run.stats.length <= 4,
      s"fallback must bound the drain; took ${run.stats.length} epochs")
    assert(run.stats.last.txns === run.stats.last.committed,
      "the fallback epoch commits its whole residual")
    assert(run.stats.map(s => (s.epoch, s.committed, s.aborted)) === sim.epochStats,
      s"trajectory diverges: ${run.stats} vs ${sim.epochStats}")
    // the fallback epoch's writes must beat an earlier epoch's committed
    // write on some key, or the winner rule's epoch order goes unchecked
    val fbEpoch = sim.epochStats.last._1
    assert(sim.writeEpochs.values.exists(es => es.last == fbEpoch && es.size >= 2),
      "the fallback epoch overwrites no earlier epoch's write — fixture degenerate")
    val sparkTable = collectTable(run.table)
    assert(sparkTable.size === sim.table.size)
    val diffs = sparkTable.keySet.filter(k => sparkTable(k) != sim.table(k))
    assert(diffs.isEmpty, s"fallback table diverges from serial replay at keys: ${diffs.take(5)}")
  }

  test("fallback that never triggers leaves the drain bit-identical") {
    // a threshold below every epoch's commit rate must be a no-op: same
    // trajectory, same final table as the plain drain
    val plain = Aria.run(spark, cfg)
    val minRate = plain.stats.map(s => s.committed.toDouble / s.txns).min
    val c = cfg.copy(fallbackCommitRate = minRate * 0.5)
    val guarded = Aria.run(spark, c)
    assert(guarded.stats === plain.stats)
    assert(collectTable(guarded.table) === collectTable(plain.table))
  }

  test("harness fallback config collapses mid-drain, not at epoch 0") {
    // fixture meaningfulness: the aria_fallback_drain board query must
    // exercise BOTH regimes — normal Aria epochs first, then the
    // threshold crossing, then the serial fallback epoch
    val run = Aria.run(spark, graft.aria.AriaQueries.fbCfg)
    val thr = graft.aria.AriaQueries.fbCfg.fallbackCommitRate
    assert(run.stats.length >= 3, s"want ≥2 normal epochs + fallback, got ${run.stats}")
    assert(run.stats.last.aborted === 0L)
    assert(run.stats.last.committed === run.stats.last.txns)
    val trigger = run.stats(run.stats.length - 2)
    assert(trigger.committed < thr * trigger.txns, s"penultimate epoch must trip the threshold: ${run.stats}")
    assert(run.stats.head.committed >= thr * run.stats.head.txns,
      s"epoch 0 must NOT trip the threshold: ${run.stats}")
  }

  test("deferred install: a drain submits at most one job per epoch plus 3") {
    // epochs emit write sets and the table is merged once, lazily, by its
    // reader, so no per-epoch install job or table checkpoint remains, and
    // analyze's shuffled hash join leaves the abort-set collect as the
    // epoch's one job. Counts every job of the drain and of reading its
    // final table.
    val (run, jobs) = jobsIn {
      val r = Aria.run(spark, cfg)
      collectTable(r.table)
      r
    }
    val epochs = run.stats.length
    assert(epochs >= 3, s"fixture must drain in 3+ epochs: ${run.stats}")
    assert(jobs <= epochs + 3, s"$jobs jobs for $epochs epochs")
  }

  test("a reference-size epoch runs as one stage and writes no shuffle bytes") {
    // the drain's one partition satisfies reserve's grouping, analyze's
    // join and the per-tid verdicts, so the abort-set collect plans no
    // exchange
    val (run, jobs) = jobShapesIn(Aria.run(spark, cfg))
    assert(run.stats.length >= 3, s"fixture must drain in 3+ epochs: ${run.stats}")
    assert(jobs.size === run.stats.length, s"one job per epoch: $jobs")
    assert(jobs.forall(_ == SparkSpec.JobShape(stages = 1, shuffleWriteBytes = 0L)),
      s"per-epoch jobs: $jobs")
  }

  test("eager hygiene frees the caller's generation-0 checkpoint") {
    // the one-partition drain coalesces the caller's batch; the probe must
    // still test and free the caller's frame, not the coalesce on top
    val c = cfg.copy(forceEagerHygiene = true)
    val ops0 = Workload.txnOps(spark, c.nTxns, c.maxOps, c.writePct, c.keysMax, c.seed)
      .localCheckpoint(eager = true)
    val rddId = ops0.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    val sc = spark.sparkContext
    def live: Boolean = {
      org.apache.spark.sql.GraftBridge.drainListeners(sc)
      sc.getRDDStorageInfo.exists(_.id == rddId)
    }
    assert(live, "the caller's eager checkpoint holds no blocks before the drain")
    val run = Aria.runFrom(spark, c, Workload.kvTable(spark, c.tableKeys, c.seed), ops0,
      startEpoch = 0, remaining0 = c.nTxns.toLong)
    assert(run.stats.length >= 2, s"fixture must run a second epoch: ${run.stats}")
    assert(!live, "the caller's generation-0 checkpoint still holds blocks after the drain")
  }

  test("the final table prunes: a (key, f0) read computes at most two md5s and scans no f1") {
    // no checkpoint sits under the reader's projection, so the merge
    // computes f0 once on the table side and once on the winners side
    val plan = Aria.run(spark, cfg).table.select("key", "f0").queryExecution.optimizedPlan
    val scans = plan.collect { case r: org.apache.spark.sql.execution.LogicalRDD => r }
    assert(!scans.exists(_.output.exists(_.name == "f1")),
      s"a scan under the read carries f1:\n$plan")
    val md5s = plan.flatMap(_.expressions.flatMap(_.collect {
      case m: org.apache.spark.sql.catalyst.expressions.Md5 => m }))
    assert(md5s.size <= 2, s"${md5s.size} md5s under a (key, f0) read:\n$plan")
  }

  test("the abort-set filters generate the same code for every abort set") {
    // an abort set written into the generated code makes every epoch
    // compile new classes; the sizes cross Spark's In→InSet threshold
    // (10) and its switch threshold (400). Code only: the plan text
    // prints the set.
    val ops = Workload.txnOps(spark, 500, 8, 40, 1000, 7L).localCheckpoint(eager = false)
    def code(df: org.apache.spark.sql.DataFrame): Seq[String] =
      org.apache.spark.sql.execution.debug.codegenStringSeq(
        df.queryExecution.executedPlan).map(_._2).sorted
    val sizes = Seq(1, 5, 17, 450)
    for ((name, stage) <- Seq[(String, Array[Int] => org.apache.spark.sql.DataFrame)](
        "collect" -> (Aria.collect(ops, _)),
        "committedWrites" -> (Aria.committedWrites(ops, _)))) {
      val codes = sizes.map(n => code(stage((1 to n).map(_ * 3 - 1).toArray)))
      assert(codes.head.nonEmpty, s"$name: no whole-stage code")
      assert(codes.distinct.size === 1,
        s"$name: ${codes.distinct.size} distinct codes over abort-set sizes $sizes")
    }
  }

  test("epoch loop drains: committed+aborted = batch size each epoch, ends at 0") {
    val run = Aria.run(spark, cfg)
    assert(run.stats.nonEmpty)
    for (s <- run.stats) assert(s.committed + s.aborted === s.txns)
    assert(run.stats.last.aborted === 0 || run.stats.length === cfg.maxEpochs)
    // each epoch's batch = previous epoch's aborts
    for (Seq(a, b) <- run.stats.sliding(2)) assert(b.txns === a.aborted)
  }
}
