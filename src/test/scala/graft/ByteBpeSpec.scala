package graft

import org.apache.spark.sql.functions._
import graft.text.ByteBpe

/** Byte-level BPE: the GPT-2-regime properties the char family can't
  * show — case/punct-preserving pretokens with the leading-space
  * marker, UTF-8 multi-byte splitting, merges across character
  * boundaries, and the structural absence of UNK. */
class ByteBpeSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(rows: Seq[(Long, String)]): String = {
    val dir = graft.sources.Formats.fixture("bytebpe_spec")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("xx"))
      .withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("pretokenizer: case and punctuation preserved, leading space attached") {
    val got = spark.range(1)
      .select(ByteBpe.preTokens(lit("Hello World! 42  x")).as("t"))
      .head().getAs[scala.collection.Seq[String]]("t")
    assert(got.toSeq === Seq("Hello", " World", "!", " 42", " x"),
      s"pretokens: $got")
  }

  test("multi-byte UTF-8 splits into bytes and merges recombine across char boundaries") {
    // 数据 is 6 UTF-8 bytes (2 CJK chars x 3); repeated often enough the
    // 6 merge rounds collapse each occurrence into ONE learned token
    val cjk = Seq.fill(8)("数据").mkString(" ")
    val dir = fixture(Seq((1L, cjk), (2L, "plain ascii words here")))
    val rows = ByteBpe.byteBpeEncode(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // doc 1: 8 pretokens ("数据", then 7x " 数据"), bytes = 6*8 + 7 spaces
    val (p1, b1, t1, u1) = rows(1L)
    assert(p1 === 8L, s"pretokens $p1")
    assert(b1 === 55L, s"bytes $b1 != 48 CJK bytes + 7 leading-space bytes")
    // 6 rounds over a corpus dominated by one 6-byte form: each
    // occurrence compresses well below its byte count, proving merges
    // crossed the 3-byte character boundaries
    assert(t1 < b1 / 2, s"byte merges did not compress: $t1 tokens for $b1 bytes")
    assert(u1 === 0L)
    // doc 2 ascii: 1 byte per char incl. the attached leading spaces
    val (p2, b2, _, u2) = rows(2L)
    assert(p2 === 4L && b2 === "plain ascii words here".length.toLong)
    assert(u2 === 0L)
    // ROLLUP row is the exact column-wise sum of the per-doc rows
    val tot = rows(-1L)
    assert(tot === ((p1 + p2, b1 + b2, t1 + rows(2L)._3, 0L)), s"rollup $tot")
  }

  test("no-UNK is structural on the harness corpus too") {
    val rows = ByteBpe.byteBpeEncode(spark, sf("sf0.001")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("n_unk_tokens") === 0L))
    // ASCII corpus: byte mass equals pretoken char mass (1 byte = 1 char)
    val perDoc = rows.filter(_.getLong(0) >= 0)
    assert(perDoc.map(_.getAs[Long]("n_bytes")).sum ===
      rows.find(_.getLong(0) == -1L).get.getAs[Long]("n_bytes"))
  }
}
