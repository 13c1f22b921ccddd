package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.operators.{Relational, Relational2}

/** Physical-plan shape assertions: the properties that make these
  * queries scale are checked mechanically, not by eyeball —
  * filter pushdown to the parquet scan, column pruning (ReadSchema),
  * broadcast of dimension sides, and whole-stage codegen presence.
  */
class PlanShapeSpec extends SparkSpec {

  private def planString(df: DataFrame): String = {
    df.queryExecution.executedPlan // force planning
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("point lookup pushes the key filter into the parquet scan") {
    val p = planString(Relational.pointLookup(spark, sf("sf0.001")))
    assert(p.contains("PushedFilters"), p.take(800))
    assert(p.matches("(?s).*PushedFilters: \\[.*EqualTo\\(l_orderkey,42\\).*\\].*"), p)
  }

  test("point lookup prunes columns: ReadSchema has only the 5 projected") {
    val p = planString(Relational.pointLookup(spark, sf("sf0.001")))
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && read.contains("l_quantity"), read)
    assert(!read.contains("l_extendedprice") && !read.contains("l_shipdate"), read)
  }

  test("pricing summary reads only the aggregated columns") {
    val p = planString(Relational.pricingSummary(spark, sf("sf0.001")))
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    for (c <- Seq("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
      "l_discount", "l_shipdate")) assert(read.contains(c), s"$c missing: $read")
    assert(!read.contains("l_partkey") && !read.contains("l_suppkey"), read)
  }

  test("date filter is pushed for the pricing summary") {
    val p = planString(Relational.pricingSummary(spark, sf("sf0.001")))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("5-way star join broadcasts the dimension chain") {
    val p = planString(Relational.localSupplierVolume(spark, sf("sf0.001")))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p.take(1500))
  }

  test("semi/anti joins plan as existence joins, not row-multiplying joins") {
    val p = planString(Relational.semiAntiJoin(spark, sf("sf0.001")))
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p.take(1500))
  }

  test("delete planes as LeftAnti with broadcast") {
    val p = planString(Relational2.deleteAntiJoin(spark, sf("sf0.001")))
    assert(p.contains("LeftAnti"), p.take(1200))
  }

  test("aggregations are partial+final (map-side combine)") {
    val p = planString(Relational.reserveMinAgg(spark, sf("sf0.001")))
    assert(p.contains("HashAggregate"), p.take(1200))
    // partial then final: two HashAggregate nodes around the exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("whole-stage codegen covers the scan→aggregate pipeline") {
    // AQE prints codegen stage spans only for the executed (final) plan
    val df = Relational.pricingSummary(spark, sf("sf0.001"))
    df.collect()
    val p = planString(df)
    // formatted mode marks codegen'd operators with "[codegen id : N]"
    assert(p.contains("[codegen id"), p.take(1500))
    for (op <- Seq("Filter", "HashAggregate"))
      assert(p.linesIterator.exists(l => l.contains(op) && l.contains("[codegen id")),
        s"$op not codegen'd:\n${p.take(1500)}")
  }

  test("top-k per group stays partitioned (no global sort before filter)") {
    val df = Relational.topkPerGroup(spark, sf("sf0.001"))
    val p = planString(df)
    // the window runs partitioned by o_custkey; the only global sort is
    // the final presentation orderBy
    assert(p.contains("Window"), p.take(1200))
    assert(p.contains("o_custkey"), p.take(1200))
  }

  test("cosineTopK broadcasts the query side and plans a partial top-k") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    val df = graft.sim.Similarity.cosineTopK(spark, sf("sf0.001"))
    val root: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val bnlj = root.collectFirst { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.nonEmpty, root.toString.take(1500))
    val j = bnlj.get
    val (build, streamed) =
      if (j.buildSide == BuildRight) (j.right, j.left) else (j.left, j.right)
    // the broadcast/build side is the tiny filtered query set; the
    // corpus streams (no vec_id < 8 filter on the streamed side)
    assert(build.toString.contains("vec_id") && build.toString.contains("< 8"),
      s"build side is not the query set:\n${build.toString.take(800)}")
    assert(!streamed.toString.contains("< 8"),
      s"corpus side unexpectedly filtered:\n${streamed.toString.take(800)}")
    // rank<=k over the partitioned window plans as WindowGroupLimit —
    // per-map-task top-k BEFORE the shuffle, not a global sort
    val p = planString(df)
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("weighted sample bounds per-stratum top-k before the shuffle") {
    val p = planString(graft.operators.Sketches.weightedSample(spark, sf("sf0.001")))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("near-dup pairs plan has no all-pairs join (equi-join candidates only)") {
    val p = planString(graft.sim.Similarity.nearDupPairs(spark, sf("sf0.001")))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("bucketed-table join runs with no shuffle below the join") {
    val df = graft.sources.Formats.bucketedJoin(spark, sf("sf0.001"))
    df.collect() // force execution so the AQE final plan is available
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // AQE wraps stages in leaf QueryStageExec nodes, so assert on the
    // printed tree: nothing below the SortMergeJoin line is an Exchange
    // (the join's children print after it)
    val s = root.toString
    val idx = s.indexOf("SortMergeJoin")
    assert(idx >= 0, s.take(1500))
    assert(!s.substring(idx).contains("Exchange"), s.substring(idx).take(1500))
  }

  test("range join plans as bucketed equi-join, not an inequality nested loop") {
    val p = planString(graft.operators.TimeSeries.rangeJoin(spark, sf("sf0.001")))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("bloom prune broadcasts the bitset side, never the probe") {
    val p = planString(graft.operators.Sketches.bloomPrune(spark, sf("sf0.001")))
    // the position-membership join must be a broadcast hash equi-join
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // the only nested-loop joins are the five 1-row scalar-count
    // combines at the top (Cross with a broadcast 1-row build side)
    // (tree lines carry the join type; the "(n) Op" detail-section
    // headers don't — look only at tree lines)
    val bnlj = p.linesIterator.filter(l =>
      l.contains("BroadcastNestedLoopJoin") && (l.contains("+-") || l.contains(":-"))).toSeq
    assert(bnlj.nonEmpty && bnlj.forall(_.contains("Cross BuildRight")), bnlj.mkString("\n"))
  }

  test("tf-idf per-doc top-k plans as WindowGroupLimit (partial top-k)") {
    val p = planString(graft.text.Retrieval.tfidfTop(spark, sf("sf0.001")))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("bm25 global top-N is a TakeOrdered, not a full sort") {
    val p = planString(graft.text.Retrieval.bm25Rank(spark, sf("sf0.001")))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q14 broadcasts the part dimension") {
    val p = planString(graft.operators.TpchMore.promoEffect(spark, sf("sf0.001")))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("hard negatives broadcast the query panel and bound per-query top-k") {
    val p = planString(graft.sim.Similarity.hardNegatives(spark, sf("sf0.001")))
    // the corpus must stream (query side broadcast under the non-equi
    // label condition) and rank<=k must be partial (WindowGroupLimit)
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("rrf fusion's vector arm is a bounded TakeOrdered, never a corpus sort") {
    val p = planString(graft.text.Retrieval.rrfFusion(spark, sf("sf0.001")))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("NOT IN plans as a null-aware anti join, IN as a plain semi") {
    val df = graft.operators.Relational4.nullAwareAnti(spark, sf("sf0.001"))
    // the simple plan form prints BroadcastHashJoin's isNullAwareAntiJoin
    // as the trailing boolean: both NOT IN arms must carry it, the IN
    // arm must not
    val p = df.queryExecution.executedPlan.toString
    assert("LeftAnti, BuildRight, true".r.findAllIn(p).length == 2, p.take(3000))
    assert(p.contains("LeftSemi, BuildRight, false"), p.take(3000))
  }

  test("q6 pushes all three predicates into the parquet scan") {
    val p = planString(graft.operators.TpchMore.forecastRevenue(spark, sf("sf0.001")))
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(pushed.contains(c), s"$c not pushed: $pushed")
  }

  test("decontamination joins on the gram key (no all-pairs)") {
    val p = planString(graft.text.Retrieval.decontaminate(spark, sf("sf0.001")))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
  }

  test("substring spans: no pair join anywhere — gram count + equi join-back only") {
    // the scale property of the ExactSubstr family: candidate
    // generation is a COUNT keyed on the gram, never a pair-producing
    // self-join, so no df cap is needed and no hot gram can explode
    val p = planString(graft.dedup.Dedup.substringSpans(spark, sf("sf0.001")))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // the island merge is a doc-partitioned window, not a global sort
    assert(p.contains("Window"), p.take(1500))
  }

  test("bpe encode: the corpus-sized accounting join broadcasts the form stats") {
    // the occurrence table is the only corpus-sized frame; the form
    // stats / vocab sides must stay broadcast so encode never shuffles
    // the corpus a second time
    val p = planString(graft.text.Bpe.bpeEncode(spark, sf("sf0.001")))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("ArrayDotLong participates in codegen (no CodegenFallback)") {
    import org.apache.spark.sql.functions._
    import graft.functions.Portable
    // non-foldable input (id column) so the expression reaches runtime
    // codegen instead of being constant-folded (which exercises eval)
    val df = spark.range(4).select(
      Portable.dotQ(array(col("id"), lit(2L)), array(lit(3L), lit(4L))).as("d"))
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(8L, 11L, 14L, 17L))
    val p = planString(df)
    assert(p.linesIterator.exists(l => l.contains("Project") && l.contains("[codegen id")), p)
    assert(!p.contains("CodegenFallback"), p)
  }

  test("triangle enumeration is equi-joins + one semi probe (no all-pairs)") {
    // the memoized per-node counts are lazily checkpointed (like the
    // perplexity tf frame below), so assert on the un-memoized core —
    // the plan graph_triangles/graph_clustering_coeff actually execute
    val (_, tri) = graft.sim.GraphOps.triCore(spark, sf("sf0.001"), 16)
    val p = planString(tri)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
    assert(p.contains("LeftSemi"), p.take(1500))
    // ... and on the plan triShared itself checkpoints, the one
    // graph_triangles reads: the lazy checkpoint hides it from the
    // returned frame, so a listener records the localCheckpoint
    // action's QueryExecution (a child session has its own memo entry)
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val ps = spark.newSession()
    val checkpointed = scala.collection.mutable.ArrayBuffer.empty[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") checkpointed.synchronized(checkpointed += qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ps.listenerManager.register(listener)
    try {
      val (_, shared) = graft.sim.GraphOps.triShared(ps, sf("sf0.001"), 16)
      org.apache.spark.sql.GraftBridge.drainListeners(ps.sparkContext)
      val qe = checkpointed.synchronized(checkpointed.lastOption)
        .getOrElse(fail("triShared took no localCheckpoint"))
      assert(qe.analyzed.output.map(_.name) === shared.columns.toSeq)
      val sp = qe.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!sp.contains("CartesianProduct") && !sp.contains("BroadcastNestedLoopJoin"),
        sp.take(1500))
      assert(sp.contains("LeftSemi"), sp.take(1500))
    } finally {
      ps.listenerManager.unregister(listener)
      graft.Memo.evictAll(ps)
    }
  }

  test("perplexity joins on term only; the sole nested loop is the 1-row total") {
    // NB: the tf frame is lazily checkpointed, so the parquet scan
    // (whose pruning is asserted on its un-checkpointed twin below)
    // does not appear in this plan.
    val p = planString(graft.text.TextAnalysis.perplexity(spark, sf("sf0.001")))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    val bnlj = p.linesIterator.filter(l =>
      l.contains("BroadcastNestedLoopJoin") && (l.contains("+-") || l.contains(":-"))).toSeq
    assert(bnlj.forall(_.contains("Cross BuildRight")), bnlj.mkString("\n"))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("text pipelines prune the documents scan to (doc_id, text)") {
    // the projection every checkpointed text operator reads through
    import org.apache.spark.sql.functions._
    val p = planString(graft.operators.Tables.t(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), explode(graft.text.TextAnalysis.tokens(col("text"))).as("term")))
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text"), read)
    assert(!read.contains("lang") && !read.contains("url"), read)
  }

  test("percentile plan has no cartesian join and a sharded (g,bucket) aggregation") {
    val p = planString(graft.operators.Relational3.percentiles(spark, sf("sf0.001")))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("bucket"), p.take(1500))
  }

  test("distribution windows stay partitioned by o_custkey") {
    val p = planString(Relational2.distributionWindows(spark, sf("sf0.001")))
    assert(p.linesIterator.exists(l => l.contains("Window")), p.take(1200))
    assert(p.contains("o_custkey"), p.take(1200))
  }

  test("LOCF downsample window is partitioned by user (no global sort but presentation)") {
    val p = planString(graft.operators.TimeSeries.downsampleLocf(spark, sf("sf0.001")))
    val winLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.nonEmpty, p.take(1200))
    assert(p.contains("user_id"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("media near-dup candidates are a (piece) equi-join, never all-pairs") {
    // the signature pipeline (with its 1-row plant broadcast) sits
    // behind a checkpoint; the candidate plan proper must be a pure
    // equi-join on (k, piece) with no nested-loop or cartesian node
    val p = planString(graft.multimodal.Multimodal.mediaNearDupPairs(spark, sf("sf0.001")))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
    assert(p.contains("piece"), p.take(1500))
  }

  test("BPE round statistics shuffle on the vocabulary, never the corpus") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val forms = Seq(("ab", 3L), ("abc", 2L)).toDF("w", "wcnt")
      .select(col("w"), col("wcnt"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms"))
    val p = planString(graft.text.Bpe.pairStats(forms))
    // formatted mode prints partitioning in the detail section
    val ex = p.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(ex.nonEmpty, p.take(1500))
    assert(ex.forall(l => l.contains("sym") && l.contains("nxt")), ex.mkString("\n"))
    assert(!p.contains("doc_id"), p.take(1500))
    // map-side combine: partial then final aggregate around the exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("per-group HLL registers aggregate map-side (partial+final)") {
    val p = planString(graft.operators.Sketches.hllGroups(spark, sf("sf0.001")))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
    // the register agg is keyed on (g, bucket) — the mergeable state
    assert(p.contains("bucket"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("z-order stats is one map stage + one aggregation shuffle") {
    val p = planString(graft.operators.Layout.zorderStats(spark, sf("sf0.001")))
    // formatted mode prints partitioning in the detail section
    val hashEx = p.linesIterator.count(_.contains("hashpartitioning("))
    val rangeEx = p.linesIterator.count(_.contains("rangepartitioning("))
    assert(hashEx == 1, s"expected exactly one aggregation shuffle, got $hashEx:\n${p.take(1500)}")
    assert(rangeEx <= 1, s"only the presentation orderBy may range-partition:\n${p.take(1500)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("incremental simhash probe is a (p, piece) equi-join, never all-pairs") {
    val p = planString(graft.dedup.Dedup.simhashIncremental(spark, sf("sf0.001")))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
    assert(p.contains("piece"), p.take(1500))
  }

  test("incremental embedding near-dup: only 1-row broadcasts nest, candidates equi-join") {
    val p = planString(graft.sim.Similarity.nearDupIncremental(spark, sf("sf0.001")))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // the only nested-loop join is the 1-row plant_base scalar combine
    val bnlj = p.linesIterator.filter(l =>
      l.contains("BroadcastNestedLoopJoin") && (l.contains("+-") || l.contains(":-"))).toSeq
    assert(bnlj.forall(_.contains("Cross BuildRight")), bnlj.mkString("\n"))
  }

  test("AQE splits a skewed sort-merge join at runtime (unsalted twin)") {
    // join_salted_skew salts BY HAND; this is the evidence that the
    // UNSALTED form of the same hot-key join self-heals under AQE: one
    // key carrying 90% of the fact side is detected post-shuffle and
    // split into advisory-sized sub-partitions (the right side's
    // matching partition is replicated per split). Thresholds are
    // lowered because local-mode partitions are far below the 256 MB
    // production default — the detection logic exercised is the same.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // keep it SMJ
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      val fact = spark.range(200000).select(
        when(pmod(col("id"), lit(10L)) =!= 0L, lit(0L))
          .otherwise(pmod(col("id"), lit(97L))).as("k"),
        col("id").as("v"))
      val dim = spark.range(97).select(col("id").as("k"), (col("id") * 2).as("label"))
      // global agg (no per-key distribution requirement above the join,
      // so the skew split does not force an extra shuffle)
      val q = fact.join(dim.hint("merge"), "k").agg(sum("label").as("s"))
      q.collect()
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        "AQE skew mitigation did not engage:\n" + p.take(3000))
    } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("source cap bounds per-partition rows before the per-source sort (WindowGroupLimit)") {
    val p = planString(graft.text.Pipeline.sourceCap(spark, sf("sf0.001")))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("dsir select broadcasts the bucket model and plans a partial top-k") {
    val p = planString(graft.text.Pipeline.dsirSelect(spark, sf("sf0.001")))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"),
      "global top-k must be partial heads, not a full sort:\n" + p.take(2000))
  }

  test("k-core peels via semi-joins only (no row-multiplying join in the loop)") {
    val p = planString(graft.sim.GraphOps.kcore(spark, sf("sf0.001")))
    assert(p.contains("LeftSemi"), p.take(2000))
    // survivors' degree agg is partial+final
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("BQ search broadcasts the panel and bounds the shortlist before the rerank joins") {
    val p = planString(graft.sim.Similarity.bqTopK(spark, sf("sf0.001")))
    // Hamming scan side: corpus codes stream past the broadcast panel
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(2000))
    // shortlist top-32 per query is the partial WindowGroupLimit form
    assert(p.contains("WindowGroupLimit"),
      "shortlist must bound per-partition before the shuffle:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("length buckets is one agg over a map with a 1-row broadcast global max") {
    val p = planString(graft.text.Pipeline.lengthBuckets(spark, sf("sf0.001")))
    assert(p.contains("HashAggregate"), p.take(2000))
    // the global max joins as a broadcast, never a shuffle join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("EWMA plans one partitioned window, no self-join") {
    val p = planString(graft.operators.TimeSeries.ewmaSmooth(spark, sf("sf0.001")))
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("Join"), "the 8-tap convolution must come from lag(), not a join:\n" +
      p.take(2000))
  }

  test("MAD outliers broadcast every model row (n / med2 / mad4) onto the corpus") {
    val p = planString(graft.operators.Analytics.madOutliers(spark, sf("sf0.001")))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "group-count/median frames are group-cardinality — they must broadcast:\n" + p.take(2000))
  }

  test("cusum windows run over hour-grain rows; per-type totals broadcast back") {
    val p = planString(graft.operators.Analytics2.cusumChangepoints(spark, sf("sf0.001")))
    assert(p.contains("Window"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), "type-cardinality totals must broadcast:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("lag autocorr is one per-user window + one aggregate, no join at all") {
    val p = planString(graft.operators.Analytics2.lagAutocorr(spark, sf("sf0.001")))
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("Join"), "lag() must come from the window, not a self-join:\n" + p.take(2000))
  }

  test("copurchase pairs come from an okey equi-join and a partial top-k") {
    val p = planString(graft.operators.Analytics2.copurchaseTopk(spark, sf("sf0.001")))
    assert(p.contains("WindowGroupLimit"), "top-3 must push a partial group limit:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "basket pairing must stay an equi-join on the order key:\n" + p.take(1500))
  }

  test("degree histogram is two aggregations, no join") {
    val p = planString(graft.sim.GraphOps.degreeHistogram(spark, sf("sf0.001")))
    assert(p.contains("HashAggregate"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("assortativity joins degrees back by key — no nested loop, no cartesian") {
    val p = planString(graft.sim.GraphOps.assortativity(spark, sf("sf0.001")))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
  }

  test("nb classifier: corpus scoring is a term equi-join; only the 1-row totals nest") {
    val p = planString(graft.text.Classify.nbQuality(spark, sf("sf0.001")))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    val bnlj = p.linesIterator.filter(l =>
      l.contains("BroadcastNestedLoopJoin") && (l.contains("+-") || l.contains(":-"))).toSeq
    assert(bnlj.forall(_.contains("Cross BuildRight")), bnlj.mkString("\n"))
  }

  test("seasonal profile windows over 24-row grain; totals broadcast back") {
    val p = planString(graft.operators.Analytics2.seasonalProfile(spark, sf("sf0.001")))
    assert(p.contains("Window"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("interarrival burstiness is one per-user window + one aggregate, no join") {
    val p = planString(graft.operators.Analytics2.interarrivalBurstiness(spark, sf("sf0.001")))
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("pca power: model-cardinality iteration; only 1-row max scalars nest") {
    val p = planString(graft.sim.Pca.pcaPower(spark, sf("sf0.001")))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    val bnlj = p.linesIterator.filter(l =>
      l.contains("BroadcastNestedLoopJoin") && (l.contains("+-") || l.contains(":-"))).toSeq
    assert(bnlj.forall(_.contains("Cross BuildRight")), bnlj.mkString("\n"))
  }

  test("ks by type: windows over the value grid; only bounded model frames nest") {
    val p = planString(graft.operators.Analytics2.ksByType(spark, sf("sf0.001")))
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    val bnlj = p.linesIterator.filter(l =>
      l.contains("BroadcastNestedLoopJoin") && (l.contains("+-") || l.contains(":-"))).toSeq
    assert(bnlj.forall(_.contains("Cross BuildRight")), bnlj.mkString("\n"))
  }

  test("jaccard neighbors: wedge equi-join + bounded TakeOrdered") {
    val p = planString(graft.sim.GraphOps.jaccardNeighbors(spark, sf("sf0.001")))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
  }

  test("copurchase lift: basket equi-joins; only the 1-row total nests") {
    val p = planString(graft.operators.Analytics2.copurchaseLift(spark, sf("sf0.001")))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    val bnlj = p.linesIterator.filter(l =>
      l.contains("BroadcastNestedLoopJoin") && (l.contains("+-") || l.contains(":-"))).toSeq
    assert(bnlj.forall(_.contains("Cross BuildRight")), bnlj.mkString("\n"))
  }

  test("category pmi: marginal equi-joins; only the 1-row total nests") {
    val p = planString(graft.operators.Analytics2.categoryPmi(spark, sf("sf0.001")))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    val bnlj = p.linesIterator.filter(l =>
      l.contains("BroadcastNestedLoopJoin") && (l.contains("+-") || l.contains(":-"))).toSeq
    assert(bnlj.forall(_.contains("Cross BuildRight")), bnlj.mkString("\n"))
  }

  test("anisotropy report: vec-keyed cells + broadcast models; only 1-row scalars nest") {
    val p = planString(graft.sim.Pca.anisotropyReport(spark, sf("sf0.001")))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    val bnlj = p.linesIterator.filter(l =>
      l.contains("BroadcastNestedLoopJoin") && (l.contains("+-") || l.contains(":-"))).toSeq
    assert(bnlj.forall(_.contains("Cross BuildRight")), bnlj.mkString("\n"))
  }

  test("zipf fit: top-1000 is a bounded TakeOrdered, never a vocabulary sort") {
    val p = planString(graft.text.Classify.zipfFit(spark, sf("sf0.001")))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("label centroids: cell equi-joins only, no nested loop, no cartesian") {
    val p = planString(graft.sim.Embeddings.labelCentroids(spark, sf("sf0.001")))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
  }

  test("bigram LM: scoring is bigram/context equi-joins; only the 1-row V nests") {
    val p = planString(graft.text.Classify.bigramPerplexity(spark, sf("sf0.001")))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    val bnlj = p.linesIterator.filter(l =>
      l.contains("BroadcastNestedLoopJoin") && (l.contains("+-") || l.contains(":-"))).toSeq
    assert(bnlj.forall(_.contains("Cross BuildRight")), bnlj.mkString("\n"))
  }

  test("pareto front: the exact sweep's global window sits above the grid-pruned survivors") {
    // the single-partition window is acceptable ONLY because its input
    // is the staircase-sized survivor set — the plan must show the
    // bucket-staircase broadcast join feeding it, not the raw table
    val p = planString(graft.operators.Analytics4.paretoFront(spark, sf("sf0.001")))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("Window"), p.take(2000))
  }

  test("k-center: the scoring pass has no exchange (panel is literal, top-1 is TakeOrdered)") {
    val corpus = graft.sim.Similarity.quantizedFrom(
      spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")).localCheckpoint(true)
    import org.apache.spark.sql.functions._
    val lits = org.apache.spark.sql.functions.typedLit(Seq.fill(64)(1L))
    val scored = corpus.withColumn("md",
      col("nsq") + lit(5L) - lit(2L) * graft.functions.Portable.dotQ(col("q"), lits))
      .orderBy(desc("md"), col("vec_id")).limit(1)
    val p = planString(scored)
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(!p.contains("ShuffleExchange") && !p.contains("Exchange hashpartitioning"),
      p.take(1500))
  }

  test("delta merge: both partial aggs push their date predicate into the scan") {
    val p = planString(graft.operators.Analytics4.deltaMerge(spark, sf("sf0.001")))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate")
      || p.contains("LessThan(o_orderdate"), p.take(3000))
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p.take(3000))
  }

  test("top paths: the path agg is partial+final, the top-k a TakeOrdered") {
    val p = planString(graft.operators.Analytics4.topPaths(spark, sf("sf0.001")))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("mmr rerank: corpus work is the broadcast-panel partial top-C only") {
    // asserted on the candidate stage directly — the greedy loop's
    // per-round lineage cuts hide it from the full query's plan
    val p = planString(graft.sim.Mmr.candidates(spark, sf("sf0.001")))
    // candidate generation: per-map-task top-C before any shuffle
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    // the query panel (vec_id < 8) broadcasts; the corpus streams
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("sprt monitor: corpus collapses to the day grid via partial+final agg") {
    val p = planString(graft.operators.Analytics4.sprtMonitor(spark, sf("sf0.001")))
    // partial agg before the exchange: the window never sees the corpus
    assert(p.contains("HashAggregate"), p.take(2000))
    assert(p.contains("Window"), p.take(2000))
  }
}
