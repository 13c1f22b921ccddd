package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.aria.Aria
import graft.functions.Prng
import graft.model.AriaConfig

/** One benchmark workload: a fixed pass of units, driven by Harness. */
trait Workload {
  def unitsPerPass: Int
  /** Fixed untimed warm-up, the same work on every run. */
  def warmUp(spark: SparkSession): Unit
  /** Inputs drawn from the seed, once, after the warm-up. */
  def drawInputs(spark: SparkSession): Unit
  /** Unit `i` of pass `pass`: the fields it adds to its record. */
  def unit(spark: SparkSession, tracer: Tracer, pass: Int, i: Int): Map[String, Any]
  /** Output checks over the recorded units, run after timing. Returns
    * each unit record with "checked" set, plus workload-level fields. */
  def check(spark: SparkSession, units: Seq[Map[String, Any]]): (Seq[Map[String, Any]], Map[String, Any])
}

/** YCSB batches at the reference operating point, drained by Aria.run.
  *
  * A pass is one batch without and one with Aria's deterministic
  * reordering. Batch seeds are drawn in order from a stream derived
  * from the workload seed; each pass slot keeps the first candidate
  * that the reference replay drains in the slot's epoch count, the
  * modal count at this operating point. So every run does the same
  * protocol work on inputs that vary with the seed: left free, epoch
  * counts range from 2 to 7 and a short run's total work would follow
  * its seed. */
final class AriaYcsb(seed: Long, passes: Int) extends Workload {
  private val base = AriaConfig()
  private val WarmUpSeeds = Seq(-1L, -2L)
  /** (reorder, epochs) of each slot in a pass. */
  private val Profile: Seq[(Boolean, Int)] = Seq(false -> 4, true -> 3)
  private val CandidatesPerJob = 8
  private val MaxCandidates = 4000

  final case class Batch(index: Int, seed: Long, reorder: Boolean,
                         replay: AriaReplay.Result, candidate: Int)
  private var batches: IndexedSeq[Batch] = IndexedSeq.empty

  def unitsPerPass: Int = Profile.size

  private def splitmix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & Long.MaxValue
  }

  /** Op lists of candidate batches, generated by the engine's own
    * workload generator in one Spark job. */
  private def candidateOps(spark: SparkSession, seeds: Seq[Long]): Map[Long, Seq[AriaReplay.Op]] =
    seeds.map { s =>
      graft.gen.Workload.txnOps(spark, base.nTxns, base.maxOps, base.writePct, base.keysMax, s)
        .select(lit(s).as("seed"), col("tid"), col("opIdx"), col("key"), col("isUpdate"))
    }.reduce(_ union _).collect().toSeq
      .groupBy(_.getLong(0))
      .map { case (s, rows) =>
        s -> rows.map(r => AriaReplay.Op(r.getInt(1), r.getInt(2), r.getInt(3), r.getBoolean(4)))
      }

  /** Candidates are taken in stream order, each tried only on the first
    * open slot. */
  def drawInputs(spark: SparkSession): Unit = {
    var open = (0 until passes).flatMap(_ => Profile).zipWithIndex.toList
    val chosen = IndexedSeq.newBuilder[Batch]
    var next = 0
    while (open.nonEmpty) {
      require(next < MaxCandidates, s"no batch among $next candidates drains like ${open.head._1}")
      val seeds = (next until next + CandidatesPerJob).map(c => splitmix(seed * 1000003L + c))
      val ops = candidateOps(spark, seeds)
      for ((s, c) <- seeds.zip(next until next + CandidatesPerJob); ((reorder, epochs), b) <- open.headOption) {
        val r = AriaReplay.run(base.nTxns, ops.getOrElse(s, Nil), reorder, base.maxEpochs)
        if (r.stats.size == epochs) {
          chosen += Batch(b, s, reorder, r, c)
          open = open.tail
        }
      }
      next += CandidatesPerJob
    }
    batches = chosen.result()
  }

  def warmUp(spark: SparkSession): Unit =
    WarmUpSeeds.zipWithIndex.foreach { case (s, i) => drain(spark, Tracer.off, s, i % 2 == 1) }

  private def drain(spark: SparkSession, tracer: Tracer, s: Long,
                    reorder: Boolean): (Aria.RunResult, Long, Double, Double) = {
    val t0 = System.nanoTime()
    val r = tracer.span("aria.run") { Aria.run(spark, base.copy(seed = s, reorder = reorder)) }
    val t1 = System.nanoTime()
    // Aria.run leaves the last install lazy: the unit ends only once the
    // final table is materialized, by the checksum job
    val checksum = tracer.span("aria.materialize") {
      r.table.select(xxhash64(col("key"), col("f0"), col("f4"), col("f9")).as("h"))
        .agg(expr("bit_xor(h)")).head.getLong(0)
    }
    val t2 = System.nanoTime()
    (r, checksum, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  def unit(spark: SparkSession, tracer: Tracer, pass: Int, i: Int): Map[String, Any] = {
    val b = batches(pass * unitsPerPass + i)
    val (r, checksum, runS, matS) = drain(spark, tracer, b.seed, b.reorder)
    Map("name" -> s"batch${b.index}", "batch" -> b.index, "seed" -> b.seed,
      "reorder" -> b.reorder, "build_s" -> runS, "exec_s" -> matS, "checksum" -> checksum,
      "stats" -> r.stats.map(s => Seq[Long](s.epoch, s.txns, s.committed, s.aborted)))
  }

  def check(spark: SparkSession, units: Seq[Map[String, Any]]): (Seq[Map[String, Any]], Map[String, Any]) = {
    val ran = units.filter(_("ok") == true).map(_("batch").asInstanceOf[Int]).distinct.sorted
      .map(batches)
    val expected = expectedChecksums(spark, ran)
    val checked = units.map { u =>
      val ok = u("ok") == true && {
        val b = batches(u("batch").asInstanceOf[Int])
        u("stats") == b.replay.stats && expected.get(b.index).contains(u("checksum"))
      }
      u + ("checked" -> ok)
    }
    (checked, Map("replay" -> batches.map(b => Map("batch" -> b.index, "seed" -> b.seed,
      "reorder" -> b.reorder, "candidate" -> b.candidate, "stats" -> b.replay.stats,
      "checksum" -> expected.get(b.index)))))
  }

  /** Checksum the final table must have: the generated table's checksum
    * with each replayed winning write swapped in (XOR is its own inverse).
    * Payloads come from the workload generator's own formulas. */
  private def expectedChecksums(spark: SparkSession, ran: Seq[Batch]): Map[Int, Long] = {
    import spark.implicits._
    if (ran.isEmpty) return Map.empty
    def fields(kind: String, ids: Seq[org.apache.spark.sql.Column]) =
      Seq(0, 4, 9).map(i => Prng.payloadField(Seq(col("seed"), lit(kind)) ++ ids :+ lit(i): _*))
    val loaded = ran.map { b =>
      graft.gen.Workload.kvTable(spark, base.tableKeys, b.seed)
        .select(lit(b.index).as("b"), xxhash64(col("key"), col("f0"), col("f4"), col("f9")).as("h"))
    }.reduce(_ union _).groupBy("b").agg(expr("bit_xor(h)").as("h"))
      .as[(Int, Long)].collect().toMap
    val writes = ran.flatMap { b =>
      b.replay.writes.map(w => (b.index, b.seed, w.key, w.epoch, w.tid, w.opIdx)) }
      .toDF("b", "seed", "key", "epoch", "tid", "opIdx")
    val swapped = writes.select(col("b"),
      xxhash64(col("key") +: fields("load", Seq(col("key"))): _*)
        .bitwiseXOR(xxhash64(col("key") +: fields("write",
          Seq(col("epoch"), col("tid"), col("opIdx"))): _*)).as("h"))
      .groupBy("b").agg(expr("bit_xor(h)").as("h"))
      .as[(Int, Long)].collect().toMap
    loaded.map { case (b, h) => b -> (h ^ swapped.getOrElse(b, 0L)) }
  }
}

/** The board's iterative NN-Descent queries over one scale factor, in
  * board order: the first builds the shared NN-Descent graph memo, the
  * other two consume it. Each unit writes its result to parquet, so
  * run.py can check every timed unit against the DuckDB oracle; the
  * results are small, so the sink costs little beside the query.
  *
  * The warm-up is one untimed pass, memos evicted first, so the measured
  * passes run warm: a first pass in a fresh JVM costs about twice a warm
  * one, most of it loading and compiling code. Even then the JIT is still
  * compiling through the measured passes, so a run measures two passes
  * and reports their median.
  *
  * graph_betweenness, graph_label_prop, graph_hits and
  * sim_nndescent_recall are left out for the time budget: the whole
  * benchmark must finish 48 runs, and two timed passes of them do not
  * fit beside the warm-up. */
final class GraphAnn(sfDir: String, outDir: String) extends Workload {
  val names: Seq[String] =
    Seq("sim_nndescent_beam_curve", "sim_nndescent_graph", "sim_nndescent_topk")
  private lazy val builders = graft.SparkEntry.queries
  private var written = 0

  def unitsPerPass: Int = names.size

  def warmUp(spark: SparkSession): Unit = {
    Memos.evictAll(spark)
    names.foreach(q => run(spark, Tracer.off, q))
  }

  def drawInputs(spark: SparkSession): Unit = ()

  def unit(spark: SparkSession, tracer: Tracer, pass: Int, i: Int): Map[String, Any] =
    run(spark, tracer, names(i))

  private def run(spark: SparkSession, tracer: Tracer, q: String): Map[String, Any] = {
    val output = s"$outDir/out/$written-$q"
    written += 1
    val t0 = System.nanoTime()
    val df = tracer.span("query.build") { builders(q)(spark, sfDir) }
    val t1 = System.nanoTime()
    tracer.span("query.exec") { df.write.parquet(output) }
    val t2 = System.nanoTime()
    Map("name" -> q, "build_s" -> (t1 - t0) / 1e9, "exec_s" -> (t2 - t1) / 1e9,
      "output" -> output)
  }

  /** Output comparison happens in run.py (DuckDB); this hands it the
    * oracle SQL. */
  def check(spark: SparkSession, units: Seq[Map[String, Any]]): (Seq[Map[String, Any]], Map[String, Any]) = {
    val oracles = graft.SparkEntry.oracleSql
    (units, Map("oracle_sql" -> names.map(q => q -> oracles.get(q)).toMap))
  }
}
