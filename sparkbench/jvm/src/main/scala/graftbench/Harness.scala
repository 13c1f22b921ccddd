package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BenchBridge
import org.apache.spark.sql.SparkSession

/** Every memo eviction the engine offers: each `evict*(SparkSession)`
  * method of an engine object, found by reflection so a memo added or
  * renamed later is still evicted. Bench makes the same calls by name
  * between board passes. */
object Memos {
  lazy val evictors: Seq[(String, SparkSession => Unit)] = {
    // the engine's class directory, as sbt compiles it
    val loc = graft.SparkEntry.getClass.getProtectionDomain.getCodeSource.getLocation
    val root = java.nio.file.Paths.get(loc.toURI)
    java.nio.file.Files.walk(root).iterator().asScala
      .map(p => root.relativize(p).toString.replace(java.io.File.separatorChar, '/')).toSeq
      .filter(n => n.startsWith("graft/") && n.endsWith("$.class"))
      .map(_.stripSuffix(".class").replace('/', '.')).sorted
      .flatMap { cn =>
        val cls = Class.forName(cn, false, getClass.getClassLoader)
        cls.getMethods.toSeq
          .filter(m => m.getName.startsWith("evict") &&
            m.getParameterTypes.sameElements(Array(classOf[SparkSession])))
          .sortBy(_.getName)
          .map { m =>
            s"${cn.stripSuffix("$")}.${m.getName}" -> { (s: SparkSession) =>
              m.invoke(cls.getField("MODULE$").get(null), s); () }
          }
      }
  }

  def evictAll(spark: SparkSession): Unit = evictors.foreach(_._2(spark))
}

/** Drives one workload run in one JVM and writes its raw record.
  *
  * Protocol: start the Spark session, run the workload's fixed untimed
  * warm-up and draw the seed's inputs; set-up is everything from process
  * launch to the first timed unit. Then
  *  - untraced (`--trace 0`): whole passes of units, memos evicted before
  *    each, as many as fill `--seconds` at the nominal pass time. The
  *    count depends on `--seconds` only, never on how fast this run
  *    goes, so every run measures the same work;
  *  - traced (`--trace 1`): pass 0 three times: traced, untraced, and
  *    traced without evicting memos first.
  * Output checks run after that. run.py computes every metric. */
object Harness {
  /** Seconds one warm measured pass of either workload takes on a
    * 4-core host. */
  private val NominalPassS = 8.0

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val out = opt("out")
    val cores = opt("cores").toInt
    val launchMs = opt("launch-ms").toDouble
    val passes =
      if (traced) 1 else math.max(1, math.round(seconds / NominalPassS).toInt)
    val workload: Workload = workloadName match {
      case "aria_ycsb" => new AriaYcsb(seed, passes)
      case "graph_ann_iterative" => new GraphAnn(opt("sf"), out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val ledger = if (traced) Some(new Ledger) else None

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-sparkbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.Cache.ConfKey, "checkpoint")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = Clock.nowMs
    ledger.foreach { l =>
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
    }
    val tw = Clock.nowMs
    workload.warmUp(spark)
    val warmupS = (Clock.nowMs - tw) / 1000
    val td = Clock.nowMs
    workload.drawInputs(spark)
    val drawS = (Clock.nowMs - td) / 1000

    val jvm = new JvmCounters
    val units = ArrayBuffer.empty[Map[String, Any]]
    val passRecords = ArrayBuffer.empty[Map[String, Any]]
    var firstUnitMs = Double.NaN

    def runPass(pass: Int, tracer: Tracer, label: String, evict: Boolean): Unit = {
      if (evict) tracer.span("memo.evict") { Memos.evictAll(spark) }
      val before = jvm.sample()
      val start = Clock.nowMs
      tracer.span("pass", Map("pass" -> pass, "segment" -> label)) {
        for (i <- 0 until workload.unitsPerPass) {
          val us = Clock.nowMs
          if (firstUnitMs.isNaN) firstUnitMs = us
          val fields =
            try tracer.span("unit", Map("pass" -> pass, "index" -> i)) {
              workload.unit(spark, tracer, pass, i)
            } + ("ok" -> true)
            catch { case e: Exception =>
              System.err.println(s"[sparkbench] unit $i of pass $pass failed: $e")
              Map("ok" -> false, "error" -> e.toString.take(300))
            }
          val ue = Clock.nowMs
          units += fields ++ Map("pass" -> pass, "index" -> i, "segment" -> label,
            "start_ms" -> us, "end_ms" -> ue, "wall_s" -> (ue - us) / 1000)
        }
      }
      val end = Clock.nowMs
      passRecords += Map("pass" -> pass, "segment" -> label, "start_ms" -> start,
        "end_ms" -> end, "wall_s" -> (end - start) / 1000) ++ jvm.delta(before)
    }

    val tracer = ledger.map(_ => new Tracer(spark.sparkContext, enabled = true))
    val timedStart = Clock.nowMs
    ledger match {
      case None =>
        for (pass <- 0 until passes) runPass(pass, Tracer.off, "timed", evict = true)
      case Some(l) =>
        // per-layer numbers come from the first pass, measured like the
        // first timed pass; the later passes price the tracing and the
        // memo builds
        def segment(label: String, traced: Boolean, evict: Boolean): Unit = {
          BenchBridge.drainListeners(spark.sparkContext)
          l.recording = traced
          runPass(0, if (traced) tracer.get else Tracer.off, label, evict)
          BenchBridge.drainListeners(spark.sparkContext)
          l.recording = false
        }
        segment("traced", traced = true, evict = true)
        segment("untraced", traced = false, evict = true)
        segment("traced_no_evict", traced = true, evict = false)
    }
    val timedEnd = Clock.nowMs
    val liveHeapMb = jvm.liveHeapMb()

    val tc = Clock.nowMs
    val (checked, checkInfo) =
      try workload.check(spark, units.toSeq)
      catch { case e: Exception =>
        System.err.println(s"[sparkbench] output check failed: $e")
        e.printStackTrace()
        (units.toSeq.map(_ + ("checked" -> false)), Map("check_error" -> e.toString.take(300)))
      }
    val checkS = (Clock.nowMs - tc) / 1000
    ledger.foreach(_ => BenchBridge.drainListeners(spark.sparkContext))

    val rt = ManagementFactory.getRuntimeMXBean
    val record = Map(
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "stamp" -> Map(
        "java" -> System.getProperty("java.version"),
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.vm.version")}",
        "spark" -> spark.version, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "jvm_args" -> rt.getInputArguments.asScala.filter(_.startsWith("-X")).toSeq,
        "master" -> spark.sparkContext.master, "cache_mode" -> graft.Cache.mode(spark),
        "memo_evictors" -> Memos.evictors.map(_._1)),
      "setup" -> Map("session_s" -> (sessionMs - launchMs) / 1000, "warmup_s" -> warmupS,
        "draw_s" -> drawS, "check_s" -> checkS,
        "launch_to_first_unit_s" -> (firstUnitMs - launchMs) / 1000),
      "timed" -> Map("start_ms" -> timedStart, "end_ms" -> timedEnd),
      "live_heap_mb" -> liveHeapMb,
      "passes" -> passRecords.toSeq, "units" -> checked, "check" -> checkInfo,
      "spans" -> tracer.map(_.spans.toSeq).getOrElse(Nil),
      "ledger" -> ledger.map(_.snapshot).getOrElse(Map.empty))
    spark.stop()
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(s"$out/record.json"), record)
  }
}

/** Process-wide JVM counters: process CPU (driver, executors, JIT and
  * GC threads together), GC time and JIT compile time. */
final class JvmCounters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean

  def sample(): (Long, Long, Long) =
    (os.getProcessCpuTime, gcs.map(_.getCollectionTime).sum, jit.getTotalCompilationTime)

  def delta(before: (Long, Long, Long)): Map[String, Any] = {
    val now = sample()
    Map("cpu_s" -> (now._1 - before._1) / 1e9, "gc_s" -> (now._2 - before._2) / 1e3,
      "jit_s" -> (now._3 - before._3) / 1e3)
  }

  /** Heap still reachable after full collections. Spark frees blocks of
    * unreachable RDDs on a cleaner thread once a collection has found
    * them, so collect, give the cleaner time, and collect again. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
