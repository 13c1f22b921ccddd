package graft

import graft.sim.GraphOps
import graft.text.TextAnalysis

/** Triangle counting and unigram-LM perplexity on hand-built inputs
  * where the answers are computable by inspection. */
class GraphTextOpsSpec extends SparkSpec {

  test("triangle counting finds exactly the planted triangle and respects the degree cap") {
    import spark.implicits._
    // parts p1..p3 each shared by two suppliers → edges (1,2),(2,3),(1,3)
    // = ONE triangle {1,2,3}; hub part p9 links suppliers 4..9 but its
    // degree (6) exceeds the cap, so no edge (and no triangle) from it.
    val pairs = (Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L), (3L, 1L), (3L, 3L)) ++
      (4L to 9L).map(s => (9L, s))).toDF("part", "supp")
    val got = GraphOps.trianglesFrom(pairs, maxPartDegree = 4, topN = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.toSet === Set((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("k-core: bounded peeling matches a plain-Scala replay of the same rounds") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    // rebuild the same part<->supplier graph the operator peels
    val pairs = spark.read.parquet(s"$dir/lineitem.parquet")
      .select((col("l_partkey") * 2).as("p"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    var edges: Set[(Long, Long)] =
      pairs.map(e => (e._1, e._2)).toSet ++ pairs.map(e => (e._2, e._1)).toSet
    val (k, rounds) = (4, 4)
    for (_ <- 1 to rounds) {
      val deg = edges.groupBy(_._1).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= k).keySet
      edges = edges.filter(e => keep(e._1) && keep(e._2))
    }
    val want = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val got = GraphOps.kcore(spark, dir).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("deg")).toMap
    assert(got === want)
    assert(got.nonEmpty, "sf0.001 must retain a non-trivial 4-core")
    // the sf0.001 graph converges within the bounded rounds: one more
    // peel changes nothing, so every survivor's core degree is >= k
    got.values.foreach(d => assert(d >= k))
  }

  test("triangle counting without the hub cap includes hub triangles") {
    import spark.implicits._
    val pairs = (4L to 7L).map(s => (9L, s)).toDF("part", "supp")
    // K4: every supplier sits in C(3,2)=3 triangles
    val got = GraphOps.trianglesFrom(pairs, maxPartDegree = 10, topN = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.toSet === (4L to 7L).map(s => (s, 3L)).toSet)
  }

  test("degree orientation zeroes hub wedge fanout where by-ID explodes it") {
    import spark.implicits._
    // Planted hub with a MID-RANGE id — the by-ID worst case: 20
    // lower-id neighbors orient INTO the hub and 40 higher-id neighbors
    // OUT, so by-ID wedge fanout at the hub (indeg·outdeg) is 20·40 =
    // 800 rows on one join key. Every spoke has degree 1 vs the hub's
    // 60, so (deg, id) orientation points ALL hub edges inward:
    // out-degree 0, wedge fanout 0 — the last-reducer hot spot is gone.
    val und = ((1L to 20L).map(i => (i, 50L)) ++ (81L to 120L).map(j => (50L, j)))
      .toDF("u", "v")
    val oriented = GraphOps.orientByDegree(und)
    import org.apache.spark.sql.functions._
    val fan = oriented.select(col("u").as("n"), lit(1L).as("out"), lit(0L).as("in"))
      .unionAll(oriented.select(col("v").as("n"), lit(0L).as("out"), lit(1L).as("in")))
      .groupBy("n").agg(sum("out").as("outdeg"), sum("in").as("indeg"))
      .select(col("n"), (col("indeg") * col("outdeg")).as("wedges"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fan(50L) === 0L, s"hub wedge fanout should be 0, got ${fan(50L)}")
    assert(fan.values.max === 0L)
    // by-ID on the same edges: the hub splits 20 in / 40 out
    val idFan = und.select(col("u").as("n"), lit(1L).as("out"), lit(0L).as("in"))
      .unionAll(und.select(col("v").as("n"), lit(0L).as("out"), lit(1L).as("in")))
      .groupBy("n").agg((sum("in") * sum("out")).as("wedges"))
      .filter(col("n") === 50L).collect().head.getLong(1)
    assert(idFan === 800L)
  }

  test("triangle counts are invariant to the degree orientation (hub triangles)") {
    import spark.implicits._
    // hub supplier 50 shares parts with low-id and high-id suppliers;
    // triangles {1,50,81} and {2,50,95} both STRADDLE the hub in id
    // order, the shape where by-ID and by-degree orientations disagree
    // edge-by-edge — the per-node counts must not.
    val pairs = Seq(
      (1L, 1L), (1L, 50L), (2L, 50L), (2L, 81L), (3L, 1L), (3L, 81L),
      (4L, 2L), (4L, 50L), (5L, 50L), (5L, 95L), (6L, 2L), (6L, 95L))
      .toDF("part", "supp")
    val got = GraphOps.trianglesFrom(pairs, maxPartDegree = 10, topN = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((50L, 2L), (1L, 1L), (81L, 1L), (2L, 1L), (95L, 1L)))
  }

  test("BPE fold rewrite learns the hand-checkable merge sequence") {
    import spark.implicits._
    // 6 productive merges, simulated by hand: el, h+el, wo, hel+l,
    // hell+o, l+d — leaving hello whole, world as wo|r|ld, held as
    // hel|d. Counts below follow from those splits.
    val docs = Seq(
      (1L, "hello hello world"),
      (2L, "hello world word"),
      (3L, "held wold")).toDF("doc_id", "text")
    val got = graft.text.Bpe.bpeCountsFrom(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (1L, 3L, 15L, 5L),
      (2L, 3L, 14L, 7L),
      (3L, 2L, 8L, 4L)))
  }

  test("BPE merge table matches the hand-simulated merge sequence with counts") {
    import spark.implicits._
    // same fixture as the counts test; the six merges simulated by hand
    // there, now with the count each pair had the round it won: round-1
    // pair counts are he 4, el 4, lo 3, wo 4, or 3, rl 2, ld 4, rd 1,
    // ol 1 — max 4 ties (el, he, ld, wo), lexicographic picks el; and
    // so on down the sequence.
    val docs = Seq(
      (1L, "hello hello world"),
      (2L, "hello world word"),
      (3L, "held wold")).toDF("doc_id", "text")
    val got = graft.text.Bpe.bpeMergesFrom(docs)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got === Seq(
      (1L, "e", "l", 4L), (2L, "h", "el", 4L), (3L, "w", "o", 4L),
      (4L, "hel", "l", 3L), (5L, "hell", "o", 3L), (6L, "l", "d", 3L)))
  }

  test("BPE vocab report matches hand-derived token frequencies") {
    import spark.implicits._
    // final tokenizations: hello→[hello]×3, world→[wo,r,ld]×2,
    // word→[wo,r,d], held→[hel,d], wold→[wo,ld]
    val docs = Seq(
      (1L, "hello hello world"),
      (2L, "hello world word"),
      (3L, "held wold")).toDF("doc_id", "text")
    val got = graft.text.Bpe.bpeVocabFrom(docs)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === Seq(
      ("wo", 4L), ("hello", 3L), ("ld", 3L), ("r", 3L), ("d", 2L), ("hel", 1L)))
  }

  test("BPE encode replays the merge table onto the hand corpus with OOV byte-fallback") {
    import spark.implicits._
    // same fixture; final tokenizations (see vocab test): hello→[hello]×3,
    // world→[wo,r,ld]×2, word→[wo,r,d], held→[hel,d], wold→[wo,ld].
    // Released vocab top-2 by (occurrences desc, token asc): wo(4),
    // then hello/ld/r tie at 3 → "hello" wins. OOV symbols fall back to
    // characters: r→1, ld→2, d→1, hel→3.
    val docs = Seq(
      (1L, "hello hello world"),
      (2L, "hello world word"),
      (3L, "held wold")).toDF("doc_id", "text")
    val got = graft.text.Bpe.bpeEncodeFrom(docs, vocabK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === Seq(
      (-1L, 16L, 9L, 21L), // corpus-total rollup row
      (1L, 5L, 2L, 6L),    // [hello,hello,wo,r,ld]: r+ld OOV → 3+1+2
      (2L, 7L, 4L, 8L),    // [hello,wo,r,ld,wo,r,d]: r,ld,r,d OOV
      (3L, 4L, 3L, 7L)))   // [hel,d,wo,ld]: hel,d,ld OOV → 1+3+1+2
  }

  test("BPE encode ties out against the trained counts and the full vocabulary") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the shipped-artifact round-trip: replaying merges.txt re-produces
    // the training segmentation, so encode's per-doc n_bpe_tokens must
    // equal bpeCounts' and the corpus-total row must equal the summed
    // full-vocabulary occurrences.
    val docs = Seq(
      (1L, "hello hello world"),
      (2L, "hello world word"),
      (3L, "held wold")).toDF("doc_id", "text")
    val enc = graft.text.Bpe.bpeEncodeFrom(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val counts = graft.text.Bpe.bpeCountsFrom(docs)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    counts.foreach { case (doc, n) => assert(enc(doc) === n) }
    val vocabTotal = graft.text.Bpe.bpeVocabFrom(docs, topK = 1000)
      .agg(sum("occurrences")).head().getLong(0)
    assert(enc(-1L) === vocabTotal)
  }

  test("BPE held-out encode: unseen words stay character-split and score real OOV") {
    import spark.implicits._
    // train on the familiar 3-doc fixture (merges: el, h+el, wo, hel+l,
    // hell+o, l+d; vocab {wo, hello, ld, r, d, hel}); encode a held-out
    // doc with the unseen word "hollo": hello→[hello] (full merge
    // chain), word→[wo,r,d] (rank-3 only), hollo→[h,o,l,l,o] (no merge
    // matches — stays char-split, all five chars out-of-vocab).
    val train = Seq(
      (1L, "hello hello world"),
      (2L, "hello world word"),
      (3L, "held wold")).toDF("doc_id", "text")
    val eval = Seq((10L, "hello word hollo")).toDF("doc_id", "text")
    val got = graft.text.Bpe.bpeEncodeAcross(train, eval)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === Seq(
      (-1L, 9L, 5L, 9L),
      (10L, 9L, 5L, 9L)))
  }

  test("BPE training stops gracefully when no mergeable pair exists") {
    import spark.implicits._
    // every word is single-symbol or pure same-symbol runs ("aa" gives
    // only a sym==nxt pair, excluded from learning) → round 1 finds no
    // candidate; the loop must break and return per-doc counts with
    // each word left at its character-level tokenization, not an
    // annihilated empty frame.
    val docs = Seq((1L, "a b aa"), (2L, "z aa")).toDF("doc_id", "text")
    val got = graft.text.Bpe.bpeCountsFrom(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq((1L, 3L, 4L, 4L), (2L, 2L, 3L, 3L)))
  }

  test("perplexity: a doc of corpus-common tokens scores below a doc of corpus-rare tokens") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the the the the the the the the"), // common: c=10 of T=20
      (2L, "qq zz qq zz xx yy aa bb"), // rare: each c=1..2
      (3L, "the the mixed bag of rare words xx")).toDF("doc_id", "text")
    val rows = TextAnalysis.perplexityFrom(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val byDoc = rows.map(r => r._1 -> r._3).toMap
    assert(rows.map(_._1) === Seq(1L, 2L, 3L)) // ordered by doc_id
    assert(byDoc(1L) < byDoc(3L) && byDoc(3L) < byDoc(2L),
      s"expected common < mixed < rare surprisal, got $byDoc")
    // T=24 tokens, c("the")=10: floor(log2(24·2^20 div 10)) = 21 bits
    assert(byDoc(1L) === 21000L)
  }

  test("char entropy: repeated-char spam scores far below diverse text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"), // H = 0
      (2L, "the quick brown fox jumps over the lazy dog")) // diverse
      .toDF("doc_id", "text")
    val rows = TextAnalysis.charEntropyFrom(docs)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    // h_mbits ≈ 1000·(H+20): zero-entropy doc pins at exactly 20000
    assert(rows(1L) === 20000L, rows.toString)
    assert(rows(2L) > 23000L, rows.toString)
  }

  test("edit-distance verify: candidates carry the exact prefix levenshtein") {
    // sf0.001 has jaccard candidates (the corpus plants near-dup docs);
    // every returned pair must carry dist ≤ prefix length and a sim in
    // [0,1], and the stage must never ADD pairs beyond the candidates
    val cand = graft.dedup.Dedup.jaccardPairs(spark, sf("sf0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = graft.dedup.Dedup.editVerify(spark, sf("sf0.001")).collect()
    assert(got.nonEmpty)
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet == cand)
    got.foreach { r =>
      val (d, s) = (r.getLong(3), r.getDouble(4))
      assert(d >= 0 && d <= graft.dedup.Dedup.editPrefix)
      assert(s >= 0.0 && s <= 1.0)
    }
  }

  test("dedup threshold curve is the verified pairs' own rollup, monotone in tau") {
    val dir = sf("sf0.001")
    val pairs = graft.dedup.Dedup.jaccardPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
    val taus = Seq(200L, 300L, 400L, 500L, 600L, 700L, 800L, 900L)
    val want = taus.flatMap { tau =>
      val kept = pairs.filter(_._3 >= tau.toDouble / 1000.0)
      if (kept.isEmpty) None
      else Some(tau -> (kept.length.toLong,
        kept.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong))
    }.toMap
    val got = graft.dedup.Dedup.thresholdCurve(spark, dir).collect()
      .map(r => r.getAs[Long]("tau_permille") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_dup_docs"))).toMap
    assert(got === want)
    assert(got.nonEmpty)
    // raising the threshold can only drop pairs and participants
    val ps = taus.flatMap(got.get(_).map(_._1))
    assert(ps === ps.sorted.reverse, s"pair counts not monotone: $ps")
  }

  test("containment is asymmetric: a planted quoted doc scores one-way only") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cont").toString
    // doc 1 = a 12-word prefix of doc 0 (50 distinct-ish words): every
    // shingle of 1 is in 0, so containment(1→0)=1.0, while 0's shingle
    // set is ~5× larger → containment(0→1) and jaccard both stay low.
    // doc 2 is unrelated filler so the df cap keeps all shingles rare.
    val big = (0 until 50).map(i => s"w${i}a w${i}b").mkString(" ")
    val small = (0 until 6).map(i => s"w${i}a w${i}b").mkString(" ")
    val other = (0 until 20).map(i => s"z$i").mkString(" ")
    Seq((0L, big, "en", "t", big.length.toLong),
      (1L, small, "en", "t", small.length.toLong),
      (2L, other, "en", "t", other.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = graft.dedup.Dedup.containmentPairs(spark, tmp, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toList
    assert(rows.map(t => (t._1, t._2)) == List((1L, 0L)), rows.toString)
    assert(rows.head._3 == 1.0)
    // and the symmetric jaccard view does NOT pair them at its default τ
    val jac = graft.dedup.Dedup.jaccardPairs(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((0L, 1L)), jac.toString)
    graft.Memo.evictAll(spark) // don't leak the temp index
  }

  test("winnowing: a planted >=10-token shared run is ALWAYS detected; unrelated docs are not") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_winnow").toString
    // docs 0 and 1 share an exact 14-token run (>= w+k-1 = 10, so the
    // Schleimer guarantee applies) inside otherwise-different text;
    // doc 2 shares nothing
    val run = (0 until 14).map(i => s"shared$i").mkString(" ")
    val d0 = (0 until 30).map(i => s"a$i").mkString(" ") + " " + run
    val d1 = run + " " + (0 until 30).map(i => s"b$i").mkString(" ")
    val d2 = (0 until 40).map(i => s"c$i").mkString(" ")
    Seq((0L, d0, "en", "t", d0.length.toLong), (1L, d1, "en", "t", d1.length.toLong),
      (2L, d2, "en", "t", d2.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.dedup.Dedup.winnowingPairs(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("n_shared")))
    assert(got.map(t => (t._1, t._2)).toSet === Set((0L, 1L)), got.mkString(","))
    assert(got.head._3 >= 1L) // the guarantee promises at least one
  }

  test("code ratio: planted code is flagged, prose is not, ratios replay serially") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_code").toString
    val code = "def f(x): return {\"k\": x[0] + 1, \"v\": (x[1] * 2) >= 3};"
    val prose = "the quick brown fox jumps over the lazy dog again and again"
    Seq((0L, code, "en", "t", code.length.toLong), (1L, prose, "en", "t", prose.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.text.TextAnalysis.codeRatio(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("symbol_permille"), r.getBoolean(3)))).toMap
    def sym(s: String): Long =
      1000L * s.count(c => !(c.isLetterOrDigit && c < 128) &&
        c != ' ' && c != '\t' && c != '\n') / s.length
    assert(got(0L)._1 === sym(code) && got(0L)._2 === true, got.toString)
    assert(got(1L)._1 === sym(prose) && got(1L)._2 === false, got.toString)
  }

  test("cdc chunks: a front-of-doc insertion leaves later chunks shared (edit resilience)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    // d1 = d0 with ONE token inserted at the front: fixed-size blocking
    // would shift every block; CDC boundaries resynchronize at the
    // first post-insertion boundary, so duplicate chunks must appear
    val body = (0 until 200).map(i => s"tok$i").mkString(" ")
    val d0 = body
    val d1 = "inserted " + body
    Seq((0L, d0, "en", "t", d0.length.toLong), (1L, d1, "en", "t", d1.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val row = graft.dedup.Dedup.cdcChunks(spark, tmp).collect().head
    val (nch, ntok, ndup, ndtok, pm) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getLong(4))
    assert(ntok === 401L)
    assert(ndup >= 2L, s"CDC failed to resynchronize: $row")
    assert(ndtok * 2 > ntok, s"most token mass should re-deduplicate: $row")
    assert(pm === 1000 * ndtok / ntok && nch >= ndup)
  }

  test("b-bit minhash: identical docs estimate 1000 permille; estimator tracks exact on the panel") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_bbit").toString
    // docs 0/1 identical (J=1 -> all 64 minhash bits match -> est 1000);
    // docs 2..9 pairwise-unrelated (J=0 -> est concentrates near 0)
    val same = (0 until 40).map(i => s"dup$i").mkString(" ")
    val docs = Seq((0L, same), (1L, same)) ++
      (2L to 9L).map(i => i -> (0 until 40).map(j => s"u${i}x$j").mkString(" "))
    docs.map { case (id, tx) => (id, tx, "en", "t", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = graft.dedup.Dedup.bbitMinhash(spark, tmp).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getAs[Long]("m_bits"), r.getAs[Long]("est_permille"),
          r.getAs[Long]("exact_permille")))).toMap
    assert(rows.size === 45) // all pairs of the 10-doc panel
    val (m01, est01, ex01) = rows((0L, 1L))
    assert(m01 === 64L && est01 === 1000L && ex01 === 1000L)
    // unrelated pairs: exact 0, estimator within its 1-bit noise band
    val unrel = rows.filter { case ((a, _), _) => a >= 2 }.values
    assert(unrel.forall(_._3 === 0L))
    val meanEst = unrel.map(_._2).sum.toDouble / unrel.size
    assert(meanEst < 300.0, s"estimator biased high: $meanEst")
  }

  test("random walks replay from a plain-Scala hash walk") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val got = graft.sim.GraphOps.randomWalks(spark, dir).collect()
      .map(r => (r.getAs[Long]("suppkey"), r.getAs[String]("path"),
        r.getAs[Long]("endpoint")))
    val pairs = graft.operators.Tables.t(spark, dir, "lineitem")
      .select((col("l_partkey") * 2).cast("long"),
        (col("l_suppkey") * 2 + 1).cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (pairs ++ pairs.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).sorted }
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16)
    }
    val seeds = adj.keySet.filter(n => n % 2 == 1 && ((n - 1) / 2) % 13 == 0)
    val want = seeds.toSeq.sorted.map { seed =>
      var cur = seed
      var path = seed.toString
      for (t <- 1 to 4) {
        val nbrs = adj(cur)
        val pick = (h60(s"$seed|$t|$cur") % nbrs.size).toInt
        cur = nbrs(pick)
        path += s">$cur"
      }
      ((seed - 1) / 2, path, cur)
    }
    assert(got.toSeq === want)
    assert(got.nonEmpty)
  }

  test("token fertility: per-lang masses tie out against the per-doc BPE counts") {
    val dir = sf("sf0.001")
    val rows = graft.text.Bpe.tokenFertility(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, c, t) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_chars"),
        r.getAs[Long]("n_bpe_tokens"))
      // every word is ≥1 token; every token is ≥1 char; merges happened
      assert(t >= w && c >= t, s"impossible masses in ${r.getString(0)}: w=$w c=$c t=$t")
      assert(r.getAs[Double]("fertility") === t.toDouble / w)
      assert(r.getAs[Double]("chars_per_token") === c.toDouble / t)
      assert(r.getAs[Double]("chars_per_token") > 1.0,
        "no merge fired anywhere — chars/token stuck at 1")
    }
    // conservation: per-lang masses sum to the per-doc report's totals
    val perDoc = graft.text.Bpe.bpeCounts(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("n_bpe_tokens")).sum ===
      perDoc.map(_.getAs[Long]("n_bpe_tokens")).sum)
    assert(rows.map(_.getAs[Long]("n_words")).sum ===
      perDoc.map(_.getAs[Long]("n_words")).sum)
  }
}
