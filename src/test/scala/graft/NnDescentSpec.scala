package graft

import org.apache.spark.sql.functions._
import graft.sim.{NnDescent, Similarity}

/** Graph-based ANN (NN-Descent build + beam search): structural
  * invariants of the built graph, honesty of reported cosines, recall
  * quality, and the monotonicities the algorithm guarantees. */
class NnDescentSpec extends SparkSpec {

  private lazy val dir = sf("sf0.001")

  test("built graph: <= degree edges per node, no self-loops, covers every vector") {
    val g = NnDescent.knnGraph(spark, dir)
    val perSrc = g.groupBy("src").agg(count(lit(1)).as("d")).collect()
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(perSrc.length === n, "every vector must carry a neighbor list")
    perSrc.foreach(r => assert(r.getAs[Long]("d") <= 16L))
    assert(g.filter(col("src") === col("dst")).count() === 0L)
  }

  /** Quantized vectors (the build's own 1e4 fixed-point axis), driver-side. */
  private lazy val qVecs: Map[Long, Array[Long]] =
    spark.read.parquet(s"$dir/embeddings.parquet").collect()
      .map { r =>
        val v = r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(x => math.floor(x.toDouble * 10000d + 0.5d).toLong).toArray
        r.getAs[Long]("vec_id") -> v
      }.toMap

  private def cos(a: Array[Long], b: Array[Long]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    dot.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) *
      math.sqrt(b.map(x => x * x).sum.toDouble))
  }

  test("graph cosines are honest: spot rows equal the exact quantized cosine") {
    NnDescent.knnGraph(spark, dir).limit(64).collect().foreach { r =>
      val want = cos(qVecs(r.getAs[Long]("src")), qVecs(r.getAs[Long]("dst")))
      assert(r.getAs[Double]("cosine") === want)
    }
  }

  test("each neighbor list is the best-found set: kept best never beats the exact best") {
    // NN-Descent is approximate, but for EVERY node (a) the list is
    // internally consistent (distinct dsts) and (b) the kept best cosine
    // is <= the node's TRUE best over all other vectors (computed from
    // the same quantized axis) — the graph may miss neighbors, never
    // invent better-than-possible ones (ADVICE r15: the comparison is
    // now actually performed, not just stated).
    val g = NnDescent.knnGraph(spark, dir).collect()
    val ids = qVecs.keys.toArray
    val bySrc = g.groupBy(_.getAs[Long]("src"))
    assert(bySrc.nonEmpty)
    bySrc.foreach { case (src, rows) =>
      val dsts = rows.map(_.getAs[Long]("dst"))
      assert(dsts.distinct.length === dsts.length)
      val keptBest = rows.map(_.getAs[Double]("cosine")).max
      val exactBest = ids.iterator.filter(_ != src)
        .map(o => cos(qVecs(src), qVecs(o))).max
      assert(keptBest <= exactBest + 1e-12,
        s"node $src kept cosine $keptBest beats the exact best $exactBest")
    }
  }

  test("beam-search top-k: recall against exact is high on the small fixture and cosines are exact") {
    val approx = NnDescent.nnDescentTopK(spark, dir).collect()
    assert(approx.map(_.getAs[Long]("query_id")).distinct.sorted.toSeq === (0L to 7L))
    // every returned cosine must equal the exact pair cosine (the graph
    // path may MISS neighbors, never mis-score them)
    val exact = Similarity.cosineTopK(spark, dir, 500).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id")) ->
        r.getAs[Double]("cosine")).toMap
    approx.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))
      assert(exact(key) === r.getAs[Double]("cosine"), s"invented cosine at $key")
    }
    val rec = NnDescent.nnDescentRecall(spark, dir).collect()
    val micro = rec.map(_.getAs[Long]("n_hits")).sum.toDouble /
      rec.map(_.getAs[Long]("n_exact")).sum
    // measured 1.0 at both 500-vector SFs and 0.9 at sf0.1; 0.7 floor
    // catches a broken build/search without pinning the fixture
    assert(micro >= 0.7, s"recall collapsed: $micro")
  }

  test("beam curve: widths 5/10/16, recall within [0,1], wider-beam supersets never lose hits") {
    val curve = NnDescent.beamCurve(spark, dir).collect()
    assert(curve.map(_.getAs[Long]("beam")).toSeq === Seq(5L, 10L, 16L))
    curve.foreach { r =>
      assert(r.getAs[Long]("n_exact") === 40L)
      val rc = r.getAs[Double]("recall")
      assert(rc >= 0.0 && rc <= 1.0)
    }
    // beam width is NOT formally monotone round-by-round (a wider beam
    // explores different frontiers). The width-16 row equals the paired
    // recall query's micro recall by construction: top-k and recall read
    // the width-16 rows of the one search the curve runs
    val rec = NnDescent.nnDescentRecall(spark, dir).collect()
    val micro = rec.map(_.getAs[Long]("n_hits")).sum.toDouble /
      rec.map(_.getAs[Long]("n_exact")).sum
    val w16 = curve.find(_.getAs[Long]("beam") == 16L).get.getAs[Double]("recall")
    assert(w16 === micro, s"curve endpoint $w16 != paired recall $micro")
  }

  test("one search serves every budget: after the curve, top-k and recall frames submit no job") {
    // the curve runs the memoized search at every width, flagship
    // included, and fills the exact panel; top-k and recall read both
    Memo.evictAll(spark)
    NnDescent.beamCurve(spark, dir).collect()
    val (_, jobs) = jobsIn {
      NnDescent.nnDescentTopK(spark, dir)
      NnDescent.nnDescentRecall(spark, dir)
    }
    assert(jobs === 0, s"$jobs jobs building the top-k and recall frames")
  }

  test("insert path: every delta vector attaches k base neighbors, never another delta, cosines exact") {
    import graft.text.TextAnalysis
    val ins = NnDescent.nnDescentInsert(spark, dir).collect()
    val deltaIds = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), TextAnalysis.splitHash(col("vec_id")).as("h")).collect()
      .filter(_.getAs[Long]("h") >= 90).map(_.getAs[Long]("vec_id")).toSet
    assert(deltaIds.nonEmpty)
    // one attach list per delta vector, k edges each, all targets in base
    val byQ = ins.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet === deltaIds, "every delta vector must get an attach list")
    byQ.foreach { case (q, rows) =>
      assert(rows.length === 5, s"delta $q attached ${rows.length} edges")
      rows.foreach(r => assert(!deltaIds.contains(r.getAs[Long]("cand_id")),
        s"delta $q attached to another delta — the base projection leaked"))
    }
    // recall gate: sane and high enough to prove the walk reaches the
    // neighborhood from the fixed entry set (measured 0.95 at sf0.001)
    val rec = NnDescent.nnDescentInsertRecall(spark, dir).collect()
    val micro = rec.map(_.getAs[Long]("n_hits")).sum.toDouble /
      rec.map(_.getAs[Long]("n_exact")).sum
    assert(micro >= 0.6, s"insert recall collapsed: $micro")
  }

  test("determinism: a fresh session rebuilds the identical graph") {
    val a = NnDescent.knnGraph(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val s2 = spark.newSession()
    val b = NnDescent.knnGraph(s2, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(a.sorted.toSeq === b.sorted.toSeq)
  }
}
