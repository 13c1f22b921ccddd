package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit.NANOSECONDS
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Build-once session memo: the one mechanism behind every family's
  * shared intermediate (a trained model, a built graph, a staged corpus
  * that several queries consume — train once, apply many).
  *
  *  - Entries live per SparkSession. Every access purges the entries of
  *    sessions whose SparkContext has stopped; weak keys would not do,
  *    because memoized DataFrames strongly reference their session.
  *  - The first caller of a key parks a placeholder under the lock, then
  *    runs `build` on its own thread outside the lock, so the build's
  *    jobs carry that caller's thread-local job group and description.
  *    Concurrent callers of the key wait on the placeholder. A build
  *    that throws drops its placeholder, so the next call rebuilds.
  *  - Keys are tuples whose first field names the family. A build that
  *    reads `dir` carries [[input]]`(dir)`, so a rewritten input misses.
  *  - [[evictAll]] drops a session's entries; a build in flight still
  *    answers its waiters but is not re-inserted. Bench evicts between
  *    timing passes, so every pass re-pays each build inside the timed
  *    region of the first query that consumes it.
  */
object Memo {
  private val entries = new java.util.HashMap[SparkSession, Map[Product, Promise[Any]]]

  def apply[T](spark: SparkSession, key: Product)(build: => T): T = {
    val mine = Promise[Any]()
    val slot = entries.synchronized {
      entries.keySet.removeIf(_.sparkContext.isStopped)
      val per = entries.getOrDefault(spark, Map.empty)
      per.getOrElse(key, { entries.put(spark, per + (key -> mine)); mine })
    }
    if (slot ne mine) Await.result(slot.future, Duration.Inf).asInstanceOf[T]
    else try { val v = build; mine.success(v); v } catch { case e: Throwable =>
      entries.synchronized {
        val per = entries.getOrDefault(spark, Map.empty)
        if (per.get(key).contains(mine)) entries.put(spark, per - key)
      }
      mine.failure(e)
      throw e
    }
  }

  /** Drop every memoized build of this session. */
  def evictAll(spark: SparkSession): Unit = entries.synchronized { entries.remove(spark); () }

  /** The keys memoized for this session (completed or in flight). */
  private[graft] def keys(spark: SparkSession): Set[Product] =
    entries.synchronized { entries.getOrDefault(spark, Map.empty).keySet }

  /** `dir` with the relative path, length and mtime of each file under it. */
  def input(dir: String): (String, Seq[(String, Long, Long)]) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (dir, Nil)
    else {
      val walk = Files.walk(root)
      try (dir, walk.iterator.asScala.filter(Files.isRegularFile(_)).map(p =>
        (root.relativize(p).toString, Files.size(p),
          Files.getLastModifiedTime(p).to(NANOSECONDS))).toSeq.sorted)
      finally walk.close()
    }
  }
}
