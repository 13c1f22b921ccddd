package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The session memo's contract: one build per key under concurrency,
  * eviction that a finishing build cannot undo, retry after a failed
  * build, purging of stopped sessions, and staleness keyed on input. */
class MemoSpec extends SparkSpec {

  /** Run `body` on its own thread, already started. */
  private def thread(body: => Unit): Thread = {
    val t = new Thread(() => body)
    t.start()
    t
  }

  test("two threads on one key run exactly one build") {
    val s = spark.newSession()
    val builds = new AtomicInteger
    val started, release = new CountDownLatch(1)
    val key = ("memo.spec.race", 1)
    @volatile var first, second = 0
    val a = thread {
      first = Memo(s, key) {
        builds.incrementAndGet(); started.countDown(); release.await(); 42
      }
    }
    started.await()
    val b = thread { second = Memo(s, key) { builds.incrementAndGet(); -1 } }
    // b must be parked on a's placeholder before the build finishes
    while (b.getState != Thread.State.WAITING && b.getState != Thread.State.TIMED_WAITING)
      Thread.sleep(5)
    release.countDown()
    a.join(); b.join()
    assert(builds.get == 1)
    assert((first, second) == ((42, 42)))
    Memo.evictAll(s)
  }

  test("evictAll during an in-flight build leaves the map empty; the next call rebuilds") {
    val s = spark.newSession()
    val started, release = new CountDownLatch(1)
    val key = ("memo.spec.evict", 1)
    @volatile var got = 0
    val a = thread { got = Memo(s, key) { started.countDown(); release.await(); 1 } }
    started.await()
    Memo.evictAll(s)
    release.countDown()
    a.join()
    assert(got == 1) // the in-flight caller still gets its value
    assert(Memo.keys(s).isEmpty)
    assert(Memo(s, key)(2) == 2)
    Memo.evictAll(s)
  }

  test("a throwing build is retried on the next call") {
    val s = spark.newSession()
    val key = ("memo.spec.throw", 1)
    intercept[IllegalStateException](Memo[Int](s, key)(throw new IllegalStateException("boom")))
    assert(Memo.keys(s).isEmpty)
    assert(Memo(s, key)(7) == 7)
    Memo.evictAll(s)
  }

  test("an entry of a stopped session is purged") {
    // a SparkContext cannot be stopped under the shared spec session, so
    // the check runs in a child JVM on this suite's classpath
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"), "graft.MemoSpec")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor() == 0, out)
    assert(out.contains("before=1 after=0 value=2"), out)
  }

  test("rewriting a parquet file under dir gives a fresh build") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_input").toString
    def write(docs: Seq[(Long, String)]): Unit =
      docs.map { case (id, text) => (id, text, "en", "spec", text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def pairs = graft.dedup.Dedup.jaccardPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val text = "the quick brown fox jumps over the lazy dog"
    write(Seq((0L, text), (1L, text)))
    assert(pairs == Set((0L, 1L)))
    // same dir, new content: a memo keyed on the bare dir would serve
    // the first index again
    write(Seq((0L, text), (1L, "an entirely different sentence about spark memos")))
    assert(pairs.isEmpty)
    Memo.evictAll(spark)
  }
}

object MemoSpec {
  /** Child-JVM half of the stopped-session test: memoize on a session,
    * stop its context, then touch the memo from a fresh session. */
  def main(args: Array[String]): Unit = {
    val key = Tuple1("memo.spec.purge")
    val first = Session.local("memo-purge", cpus = 1)
    Memo(first, key)(1)
    first.stop()
    val before = Memo.keys(first).size
    val second = Session.local("memo-purge", cpus = 1)
    val value = Memo(second, key)(2)
    println(s"before=$before after=${Memo.keys(first).size} value=$value")
    second.stop()
  }
}
