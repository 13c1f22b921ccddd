package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/$name"

  /** `body`'s result and the number of Spark jobs it submitted. */
  def jobsIn[T](body: => T): (T, Int) = {
    val (r, jobs) = jobShapesIn(body)
    (r, jobs.size)
  }

  /** `body`'s result and the shape of each Spark job it submitted, in
    * submission order: a listener follows the jobs of a fresh job group
    * and the stages they run, read after the listener bus is drained. */
  def jobShapesIn[T](body: => T): (T, Seq[SparkSpec.JobShape]) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val group = s"spec-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentSkipListMap[Int, SparkSpec.JobShape]()
    val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    def add(stage: Int, stages: Int, bytes: Long): Unit =
      Option(jobOfStage.get(stage)).foreach(j => jobs.computeIfPresent(j,
        (_, s) => SparkSpec.JobShape(s.stages + stages, s.shuffleWriteBytes + bytes)))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.put(e.jobId, SparkSpec.JobShape(0, 0L))
          e.stageIds.foreach(jobOfStage.putIfAbsent(_, e.jobId))
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        add(e.stageInfo.stageId, 1, 0L)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          add(e.stageId, 0, m.shuffleWriteMetrics.bytesWritten))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val r = body
      org.apache.spark.sql.GraftBridge.drainListeners(sc)
      (r, jobs.values.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  /** One job: the stages it ran (skipped stages excluded) and the
    * shuffle bytes its tasks wrote. */
  final case class JobShape(stages: Int, shuffleWriteBytes: Long)

  lazy val session: SparkSession = {
    val s = Session.local("graft-test", cpus = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
