package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Script-aware (CJK-safe) minhash shingling: planted space-free
  * duplicates must be recovered through the banded path, and the word
  * arm must behave exactly as before for space-delimited docs. */
class CjkDedupSpec extends SparkSpec {
  import spark.implicits._

  /** Write a documents table to a temp dir so the (spark, dir) query
    * surface runs unchanged. */
  private def fixture(rows: Seq[(Long, String, String)]): String = {
    val dir = graft.sources.Formats.fixture("cjk_spec")
    rows.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // genuinely space-free CJK strings (CJK Unified Ideographs block)
  private val cjkBase =
    "数据库系统的查询优化器负责把逻辑计划转换成物理计划并且估计每个算子的代价然后选择最优的执行路径"
  private val cjkNear = // same text, small edit in the middle
    "数据库系统的查询优化器负责把逻辑计划转换成执行计划并且估计每个算子的代价然后选择最优的执行路径"
  private val cjkOther =
    "分布式计算框架通过把作业切分成任务并在集群节点上并行执行来获得横向扩展能力同时容错机制保证失败重试"

  test("planted space-free duplicates are recovered; word arm unaffected") {
    val dir = fixture(Seq(
      (1L, cjkBase, "zh"),
      (2L, cjkBase, "zh"),            // exact dup of 1
      (3L, cjkNear, "zh"),            // near dup of 1 (one-char edit window)
      (4L, cjkOther, "zh"),           // unrelated CJK
      (5L, "the quick brown fox jumps over the lazy dog again and again", "en"),
      (6L, "the quick brown fox jumps over the lazy dog again and again", "en"),
      (7L, "completely different english text about query planners and joins", "en")))
    val pairs = Dedup.minhashCandidatesCjk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // exact CJK dup: all 4 bands collide
    assert(pairs.get((1L, 2L)).contains(4L), s"exact cjk dup missed: $pairs")
    // near CJK dup: shares most char 5-grams → at least one band collides
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      s"near cjk dup missed: $pairs")
    // unrelated CJK doc pairs with nothing
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated cjk doc collided: $pairs")
    // the word arm still pairs the english dups
    assert(pairs.get((5L, 6L)).contains(4L), s"english dup missed: $pairs")
    assert(!pairs.keys.exists(p => p._1 == 7L || p._2 == 7L),
      s"unrelated english doc collided: $pairs")
  }

  test("word-only corpora: script-aware candidates equal the word-arm candidates") {
    // no zh docs → the CASE always takes the word branch, so the output
    // must be IDENTICAL to the plain word-gram pipeline
    val dir = sf("sf0.001")
    val docs = graft.operators.Tables.t(spark, dir, "documents")
      .filter(col("lang") =!= "zh")
    val tmp = graft.sources.Formats.fixture("cjk_spec_nozh")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val a = Dedup.minhashCandidatesCjk(spark, tmp).collect().toSeq
    val b = Dedup.minhashCandidates(spark, tmp).collect().toSeq
    assert(a === b, "script-aware arm changed word-doc results")
  }

  test("space-free docs degenerate under the word arm and not under the char arm") {
    // the motivating failure: the [a-z0-9] tokenizer treats ideographs
    // as separators, so EVERY space-free doc tokenizes to the empty
    // array, shingles to [""], and collides with every other one —
    // unrelated docs report as full-strength duplicates. The char arm
    // separates the genuinely-near pair from the unrelated doc.
    val dir = fixture(Seq(
      (1L, cjkBase, "zh"), (2L, cjkNear, "zh"), (3L, cjkOther, "zh")))
    val word = Dedup.minhashCandidates(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(word === Map((1L, 2L) -> 4L, (1L, 3L) -> 4L, (2L, 3L) -> 4L),
      s"word arm no longer shows the all-collide degeneracy: $word")
    val char = Dedup.minhashCandidatesCjk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(char.contains((1L, 2L)), s"char arm missed the planted near pair: $char")
    assert(!char.keys.exists(p => p._1 == 3L || p._2 == 3L),
      s"char arm paired the unrelated doc: $char")
  }

  test("soft dedup: inverse-multiplicity weights and effective token mass") {
    // 3 copies of one text (4 words), 1 unique text (6 words)
    val tri = "alpha beta gamma delta"
    val uni = "epsilon zeta eta theta iota kappa"
    val dir = fixture(Seq((1L, tri, "en"), (2L, tri, "en"), (3L, tri, "en"),
      (9L, uni, "en")))
    val got = Dedup.softWeights(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got(1L) === ((3L, 333L, 4L, 1333L)))
    assert(got(2L) === got(1L) && got(3L) === got(1L),
      "weights must not depend on which copy is looked at")
    assert(got(9L) === ((1L, 1000L, 6L, 6000L)))
    // Σ effective mass ≈ distinct-text mass (integer floor division):
    // 3·1333 + 6000 = 9999 ~ 4·1000 + 6·1000 = 10000
    assert(got.values.map(_._4).sum === 9999L)
  }

  test("near-dup soft weights: verified clusters reweighted, mass conserved, singletons untouched") {
    // docs 1/2 are NEAR dups (not byte-identical: one word differs), doc
    // 9 is unique — exact-hash soft weights must leave ALL of them at
    // weight 1000 while the near-dup form folds 1 and 2 into one cluster
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val u = "completely different english text about query planners and joins"
    val dir = fixture(Seq((1L, a, "en"), (2L, b, "en"), (9L, u, "en")))
    val exact = Dedup.softWeights(spark, dir).collect()
    exact.foreach(r => assert(r.getAs[Long]("weight_permille") === 1000L,
      s"exact-hash arm must not see the near pair: $r"))
    val near = Dedup.softWeightsNear(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_rep"), r.getAs[Long]("cluster_size"),
          r.getAs[Long]("weight_permille"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("effective_tokens_milli"))).toMap
    assert(near(1L) === ((1L, 2L, 500L, 10L, 5000L)), s"got ${near(1L)}")
    assert(near(2L) === ((1L, 2L, 500L, 10L, 5000L)), s"got ${near(2L)}")
    assert(near(9L) === ((9L, 1L, 1000L, 9L, 9000L)), s"got ${near(9L)}")
    // mass conservation: each cluster's total weight ∈ (1000 - size, 1000]
    near.values.groupBy(_._1).foreach { case (rep, members) =>
      val total = members.map(_._3).sum
      val size = members.head._2
      assert(total <= 1000L && total > 1000L - size,
        s"cluster $rep mass $total outside (${1000 - size}, 1000]")
    }
  }

  test("ExactSubstr char arm: shared space-free passage -> one maximal char span; word arm blind") {
    // docs 1 and 2 embed the same 20-ideograph passage at different
    // offsets inside otherwise-disjoint space-free text; docs 5/6 share
    // a 10-word english prefix (the word arm's regression guard)
    val shared = cjkBase.take(20)
    val d1 = shared + cjkOther.take(15)             // passage at chars 1..20
    val d2 = cjkOther.takeRight(15) + shared        // passage at chars 16..35
    val dir = fixture(Seq(
      (1L, d1, "zh"), (2L, d2, "zh"),
      (5L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"),
      (6L, "alpha beta gamma delta epsilon zeta eta theta iota kappa prime", "en")))
    val got = Dedup.substringSpansCjk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // char spans: the 13 duplicated 8-gram seeds (20-8+1) merge into ONE
    // maximal 20-char interval per doc at the right offset; word spans:
    // the english 10-token shared prefix covers seed starts 1..3 -> one
    // 10-token interval per doc
    assert(got === Set((1L, 1L, 20L), (2L, 16L, 20L),
      (5L, 1L, 10L), (6L, 1L, 10L)), s"spans: $got")
    // the motivating blindness: under the word-token axis the ideograph
    // docs tokenize to the empty array and report NO spans at all
    val word = Dedup.substringSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(word === Set((5L, 1L, 10L), (6L, 1L, 10L)),
      s"word arm span set changed: $word")
  }
}
