package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streaming
import graft.streaming.Streaming.{EventIn, SessionOut}

/** Structured Streaming semantics: the streaming transforms must agree
  * with their batch counterparts (same Catalyst plans), and stateful
  * sessionization must close sessions on gap boundaries. */
class StreamingSpec extends SparkSpec {
  import StreamingSpec.Ev

  private val hourNs = 3600L * 1000000000L

  def mkEvents(n: Int): Seq[Ev] =
    (0 until n).map { i =>
      Ev(i.toLong, (i.toLong * 737L % 7200L) * 1000000000L + i, i % 5L,
        if (i % 3 == 0) "click" else "view", i * 1.5, "{}")
    }

  test("streaming tumbling agg (complete mode) equals batch tumbling agg") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val events = mkEvents(200)
    val ms = MemoryStream[Ev]
    ms.addData(events)
    Streaming.runToMemory(spark,
      Streaming.tumblingAgg(ms.toDF(), windowSec = 3600, watermarkSec = 60),
      "tumbling_out", outputMode = "complete")
    val streamed = spark.table("tumbling_out")
      .orderBy("window_start", "event_type").collect().toSeq
    val batch = Streaming.tumblingAgg(events.toDF(), windowSec = 3600, watermarkSec = 60)
      .orderBy("window_start", "event_type").collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("stateful sessionization closes sessions at gap boundaries (event-time)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // base > 0: rows at or before the initial watermark (0) are dropped
    // as late data by flatMapGroupsWithState.
    val base = hourNs
    val sec = 1000000000L
    // batch 1 — user 1: two sessions (2h gap); user 2: one session.
    val batch1 = Seq(
      EventIn(1, base, 1L, "a", 1.0),
      EventIn(2, base + 10L * sec, 1L, "a", 1.0),
      EventIn(3, base + 2L * hourNs, 1L, "a", 1.0),
      EventIn(4, base + 2L * hourNs + sec, 1L, "a", 1.0),
      EventIn(5, base, 2L, "b", 1.0))
    val ms = MemoryStream[EventIn]
    val out = Streaming.sessionizeStream(ms.toDS(), gapSec = 1800)
    val q = out.writeStream.format("memory").queryName("sessions_out")
      .outputMode("append")
      .start()
    ms.addData(batch1)
    q.processAllAvailable()
    // first session of user 1 closed in-batch when the 2h-later event
    // arrived (the follow-up no-data batch may already fire user 2's
    // event-time timeout too — watermark = base+2h+1s)
    val afterB1 = spark.table("sessions_out").as[SessionOut].collect().toSeq
    assert(afterB1.contains(SessionOut(1L, base, base + 10L * sec, 2L)))
    // batches 2+3 — far-future events advance the watermark past every
    // earlier session's end+gap → event-time timeouts close them (the
    // watermark lags one batch, hence two pushes).
    ms.addData(Seq(EventIn(6, 10L * hourNs, 3L, "c", 1.0)))
    q.processAllAvailable()
    ms.addData(Seq(EventIn(7, 20L * hourNs, 3L, "c", 1.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sessions_out").as[SessionOut].collect().toSeq
    assert(rows.toSet === Set(
      SessionOut(1L, base, base + 10L * sec, 2L),
      SessionOut(1L, base + 2L * hourNs, base + 2L * hourNs + sec, 2L),
      SessionOut(2L, base, base, 1L),
      SessionOut(3L, 10L * hourNs, 10L * hourNs, 1L)))
  }

  test("streaming dedup drops cross-batch duplicates within the watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sec = 1000000000L
    val ms = MemoryStream[(Long, Long, String)]
    val docs = ms.toDF().toDF("doc_id", "ts", "content_hash")
    val q = Streaming.dedupStream(docs, watermarkSec = 3600)
      .select("doc_id", "content_hash")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    // batch 1: two distinct, one in-batch duplicate
    ms.addData(Seq((1L, 10L * sec, "h1"), (2L, 11L * sec, "h2"), (3L, 12L * sec, "h1")))
    q.processAllAvailable()
    // batch 2: cross-batch duplicate of h2 + one new
    ms.addData(Seq((4L, 20L * sec, "h2"), (5L, 21L * sec, "h3")))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("dedup_out").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept.map(_._2) === Set("h1", "h2", "h3"))
    assert(!kept.exists(_._1 == 4L), s"cross-batch duplicate survived: $kept")
    assert(kept.size === 3)
  }

  test("transformWithState running stats accumulate across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[EventIn]
    val q = Streaming.runningStats(ms.toDS()).toDF()
      .writeStream.format("memory").queryName("running_out")
      .outputMode("update").start()
    ms.addData(Seq(
      EventIn(1, 1L, 1L, "view", 2.0),
      EventIn(2, 2L, 1L, "error", 5.0),
      EventIn(3, 3L, 2L, "view", 1.0)))
    q.processAllAvailable()
    ms.addData(Seq(
      EventIn(4, 4L, 1L, "view", 9.0),
      EventIn(5, 5L, 2L, "error", 7.0)))
    q.processAllAvailable()
    q.stop()
    // update mode emits one row per key per batch; the row with the
    // highest n_events is the final state.
    val latest = spark.table("running_out").as[Streaming.UserRunningOut]
      .collect().toSeq.groupBy(_.user_id)
      .map { case (k, rows) => k -> rows.maxBy(_.n_events) }
    assert(latest(1L) === Streaming.UserRunningOut(1L, 3L, 1L, 9.0))
    assert(latest(2L) === Streaming.UserRunningOut(2L, 2L, 1L, 7.0))
  }

  test("cdc apply: last-writer-wins with tombstones, invariant to batch arrival order") {
    import StreamingSpec.Ev
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val ms = MemoryStream[Ev]
    // key 1 (= user 1): upsert v=10 @t1, delete @t2, upsert v=20 @t3 —
    // delivered OUT of timestamp order across batches
    // key 2 (= user 2): upsert v=5 @t1, delete @t9 → tombstoned
    ms.addData(Seq(
      Ev(30L, 3000L, 1L, "purchase", 20.0, "{}"),
      Ev(90L, 9000L, 2L, "error", 0.0, "{}")))
    ms.addData(Seq(
      Ev(10L, 1000L, 1L, "view", 10.0, "{}"),
      Ev(20L, 2000L, 1L, "error", 0.0, "{}"),
      Ev(11L, 1000L, 2L, "purchase", 5.0, "{}")))
    Streaming.runToMemory(spark,
      Streaming.cdcSnapshot(ms.toDF(), keyMod = 500L),
      "cdc_out", outputMode = "complete")
    val snap = spark.table("cdc_out")
      .select(col("k"), col("last.alive").as("alive"), col("last.cents").as("cents"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(snap(1L) === ((1L, 2000L)))   // newest = t3 upsert, 20.00
    assert(snap(2L) === ((0L, 0L)))      // newest = tombstone
    // and the streamed fold equals the batch fold of the same rows
    val batch = Streaming.cdcSnapshot(Seq(
      Ev(30L, 3000L, 1L, "purchase", 20.0, "{}"),
      Ev(90L, 9000L, 2L, "error", 0.0, "{}"),
      Ev(10L, 1000L, 1L, "view", 10.0, "{}"),
      Ev(20L, 2000L, 1L, "error", 0.0, "{}"),
      Ev(11L, 1000L, 2L, "purchase", 5.0, "{}")).toDF(), keyMod = 500L)
      .select(col("k"), col("last.alive"), col("last.cents"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(batch === snap)
  }

  test("file-based events stream processes the real table incrementally") {
    val stream = Streaming.readEventsStream(spark, sf("sf0.001"))
    assert(stream.isStreaming)
    Streaming.runToMemory(spark,
      Streaming.tumblingAgg(stream), "events_stream_out", outputMode = "complete")
    val n = spark.table("events_stream_out").count()
    assert(n > 0)
    ()
  }

  test("maxFilesPerTrigger paces ingestion: batch count tracks the limit") {
    import org.apache.spark.sql.functions.col
    // 4-file fixture; limit 2 files/trigger → exactly 2 data batches,
    // and the final state equals the unthrottled aggregation
    val path = graft.sources.Formats.fixture("events_rate_spec")
    graft.sources.Formats.writeOnce(s"ratespec|$path") {
      graft.operators.Tables.t(spark, sf("sf0.001"), "events")
        .repartitionByRange(4, col("event_id"))
        .write.mode("overwrite").parquet(path)
    }
    def throttled(filesPerTrigger: Int, name: String): (Int, Seq[org.apache.spark.sql.Row]) = {
      val src = spark.readStream.schema(Streaming.eventsSchema)
        .option("maxFilesPerTrigger", filesPerTrigger).parquet(path)
      val n = Streaming.runToMemoryCountingBatches(spark,
        Streaming.tumblingAgg(src), name, outputMode = "complete")
      (n, spark.table(name).orderBy("window_start", "event_type").collect().toSeq)
    }
    val (n2, rows2) = throttled(2, "rate_spec_2")
    val (n4, rows4) = throttled(4, "rate_spec_4")
    assert(n2 === 2, "2 files/trigger over 4 files must take 2 batches")
    assert(n4 === 1, "4 files/trigger over 4 files must take 1 batch")
    assert(rows2 === rows4, "throttling must change batching, never the answer")
    assert(rows2.nonEmpty)
  }
}

object StreamingSpec {
  // top-level: Spark cannot encode case classes nested in a test class
  case class Ev(event_id: Long, ts: Long, user_id: Long,
                event_type: String, value: Double, props: String)
}

class StreamingBatchParitySpec extends SparkSpec {
  import org.apache.spark.sql.functions.sum

  test("harness streaming tumbling agg equals the batch query row-for-row") {
    val streamed = graft.streaming.StreamingQueries
      .streamTumblingAgg(spark, sf("sf0.001")).collect().toSeq
    val batch = operators.Relational.tumblingAgg(spark, sf("sf0.001"))
      .collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("harness streaming sessionize, dedup and interval join produce rows at sf0.001") {
    assert(graft.streaming.StreamingQueries
      .streamSessionize(spark, sf("sf0.001")).count() > 0)
    assert(graft.streaming.StreamingQueries
      .streamDedup(spark, sf("sf0.001")).count() > 0)
    assert(graft.streaming.StreamingQueries
      .streamIntervalJoin(spark, sf("sf0.001")).count() > 0)
  }

  test("file-stream totals match the batch tumbling query") {
    val stream = Streaming.readEventsStream(spark, sf("sf0.001"))
    Streaming.runToMemory(spark,
      Streaming.tumblingAgg(stream), "events_stream_parity", outputMode = "complete")
    // agrees with the batch query over the same data
    val batch = operators.Relational.tumblingAgg(spark, sf("sf0.001"))
    val streamedTotal = spark.table("events_stream_parity")
      .agg(sum("n_events")).head.getLong(0)
    val batchTotal = batch.agg(sum("n_events")).head.getLong(0)
    assert(streamedTotal === batchTotal)
  }

  test("late-data replay actually drops rows and shrinks the aggregates") {
    val out = graft.streaming.StreamingQueries
      .streamLateData(spark, sf("sf0.001")).collect()
    assert(out.nonEmpty)
    // the replayed shard must really be dropped: the engine-reported
    // watermark drop count is positive...
    assert(out.head.getLong(4) > 0L, s"no rows dropped: ${out.head}")
    // ...and the surviving aggregation is pointwise ≤ the batch (no-drop)
    // aggregation, strictly smaller somewhere
    val batch = operators.Relational.tumblingAgg(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val cmp = out.map(r => (batch((r.getLong(0), r.getString(1))), r.getLong(2)))
    assert(cmp.forall { case (b, s) => s <= b })
    assert(cmp.exists { case (b, s) => s < b }, "nothing was dropped anywhere")
  }

  test("near-dup bucket index is idempotent under re-delivered doc ids") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[Streaming.BandIn]
    val out = Streaming.nearDupStream(ms.toDS())
    val q = out.toDF().writeStream.format("memory").queryName("neardup_redeliver")
      .outputMode("append").start()
    // batch 1: docs 1,2 share bucket (band 0) — doc 2 arrives TWICE in-batch
    ms.addData(Seq(
      Streaming.BandIn("0|x", 0, 1L),
      Streaming.BandIn("0|x", 0, 2L),
      Streaming.BandIn("0|x", 0, 2L)))
    q.processAllAvailable()
    // batch 2: doc 1 RE-DELIVERED (at-least-once replay), plus new doc 3
    ms.addData(Seq(
      Streaming.BandIn("0|x", 0, 1L),
      Streaming.BandIn("0|x", 0, 3L)))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("neardup_redeliver")
      .groupBy("a", "b").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // every unordered pair exactly once — no double-count from either the
    // within-batch duplicate of doc 2 or the cross-batch replay of doc 1
    assert(pairs === Map((1L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 3L) -> 1L),
      s"pair multiset wrong: $pairs")
  }

  test("df cap: a saturated bucket stops indexing and emitting at first-cap-by-arrival") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[Streaming.BandIn]
    val out = Streaming.nearDupStreamCapped(ms.toDS(), cap = 3)
    val q = out.toDF().writeStream.format("memory").queryName("neardup_capped")
      .outputMode("append").start()
    // batch 1: four docs hit one bucket; only the first 3 (by doc_id)
    // may index -> exactly C(3,2) pairs, doc 4 contributes nothing
    ms.addData((1L to 4L).map(i => Streaming.BandIn("0|hot", 0, i)))
    q.processAllAvailable()
    // batch 2: two more arrivals at the saturated bucket -> nothing
    ms.addData(Seq(Streaming.BandIn("0|hot", 0, 5L), Streaming.BandIn("0|hot", 0, 6L)))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("neardup_capped").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (1L, 3L), (2L, 3L)), s"capped pairs: $pairs")
  }

  test("capped stream equals the first-cap-by-arrival batch form on the harness corpus") {
    val dir = sf("sf0.001")
    val k = graft.streaming.StreamingQueries.streamDfCap
    val streamed = graft.streaming.StreamingQueries.streamNearDupCapped(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // batch statement of the same membership rule: first k per bucket in
    // (doc_id % 4, doc_id) arrival order
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "bucket").orderBy(pmod(col("doc_id"), lit(4L)), col("doc_id"))
    val kept = graft.dedup.Dedup.minhashBands(spark, dir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("doc_id", "band", "bucket")
    val batch = kept.select(col("doc_id").as("a"), col("band"), col("bucket"))
      .join(kept.select(col("doc_id").as("b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed === batch, "capped stream diverges from the declarative membership rule")
    // the cap must also be a true subset of the uncapped pair set
    val uncapped = graft.dedup.Dedup.minhashCandidates(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed.forall { case (p, n) => uncapped.get(p).exists(n <= _) })
  }

  test("streaming LSH near-dup equals the batch candidate join, across batches") {
    val dir = sf("sf0.001")
    val streamed = graft.streaming.StreamingQueries.streamNearDup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = graft.dedup.Dedup.minhashCandidates(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed === batch, "stream pair set diverges from the batch LSH join")
    assert(batch.nonEmpty)
    // the state machine must matter: at least one pair crosses a
    // micro-batch boundary (members arrive in different doc_id%4 files)
    assert(streamed.keys.exists { case (a, b) => a % 4 != b % 4 },
      "no cross-batch pair — the stateful bucket index was never exercised")
  }
}
