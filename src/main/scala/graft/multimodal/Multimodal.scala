package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Tables.t
import graft.functions.Portable

/** Multimodal-column handling for training-data pipelines.
  *
  * Model: media (image/audio/video) live as opaque `BINARY` columns with
  * typed metadata alongside — the layout used by parquet-based multimodal
  * datasets. Real decode libraries are not available in this environment,
  * so the decode kernels are STUBS with a deterministic fake
  * implementation ([[FakeCodec]]) — but everything Spark-side is real and
  * tested: schemas, the mapPartitions batch shape, partition sizing, and
  * the metadata dataflow.
  *
  * Scale design: per-row media ops are embarrassingly parallel map
  * stages; the only tuning that matters at 100 TB is partition byte size
  * (`spark.sql.files.maxPartitionBytes`) so a partition of blobs fits in
  * executor memory, and column pruning so metadata-only queries never
  * touch the blob column (parquet reads skip the binary pages entirely).
  */
object Multimodal {

  /** One media blob + typed metadata. */
  final case class MediaRow(
      media_id: Long, kind: String, content: Array[Byte],
      declared_w: Int, declared_h: Int)

  /** Decoded/featurized record (what a real decoder would emit). */
  final case class DecodedRow(
      media_id: Long, kind: String, n_bytes: Int,
      width: Int, height: Int, n_frames: Int, checksum: Long)

  /** STUB decode kernel. A production build replaces this object with
    * bindings to a real codec (e.g. javacpp-ffmpeg / TwelveMonkeys); the
    * call sites, batch shape and schemas do not change. The fake is
    * CONTENT-ADDRESSED: every output is an md5-derived function of the
    * raw blob bytes (a genuine per-row JVM digest call through
    * mapPartitions), which makes the whole decode pipeline exactly
    * reproducible in the DuckDB oracle — swapping in a real codec flips
    * the downstream queries back to rows-only checks, nothing else. */
  object FakeCodec {
    /** First 15 md5 hex chars of salt-bytes ++ blob as a non-negative
      * Long — the byte-level analog of Portable.hash60 (DuckDB:
      * `Portable.hash60Sql("salt || text")` when the blob is the UTF-8
      * encoding of text). */
    private def hash60(salt: String, bytes: Array[Byte]): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(salt.getBytes("UTF-8"))
      md.update(bytes)
      java.lang.Long.parseLong(
        md.digest().take(8).map(b => f"$b%02x").mkString.substring(0, 15), 16)
    }
    def decodeDims(bytes: Array[Byte]): (Int, Int) =
      (64 + (hash60("w", bytes) % 448).toInt, 64 + (hash60("h", bytes) % 448).toInt)
    def frameCount(kind: String, nBytes: Int): Int =
      if (kind == "video") 1 + nBytes / 256 else 1
    /** Bounded below 2^32 so downstream integer math (frame checksums)
      * cannot overflow in engines with non-wrapping BIGINTs. */
    def checksum(bytes: Array[Byte]): Long = hash60("ck", bytes) % 4294967296L
  }

  /** Synthesize a media table from documents (the container has no real
    * media): content = UTF-8 bytes of the text, kind round-robins over
    * image/audio/video. Deterministic. */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
        encode(col("text"), "UTF-8").as("content"),
        (pmod(Portable.hash60(concat(lit("w"), col("doc_id"))), lit(448L)) + 64L)
          .cast("int").as("declared_w"),
        (pmod(Portable.hash60(concat(lit("h"), col("doc_id"))), lit(448L)) + 64L)
          .cast("int").as("declared_h"))

  /** The decode pipeline: typed Dataset → mapPartitions over the codec —
    * the real batch shape (one JVM call per partition, streaming
    * iterator, no per-row driver involvement). */
  def decodeAll(spark: SparkSession, dir: String): Dataset[DecodedRow] = {
    import spark.implicits._
    mediaTable(spark, dir).as[MediaRow].mapPartitions { rows =>
      rows.map { m =>
        val (w, h) = FakeCodec.decodeDims(m.content)
        DecodedRow(m.media_id, m.kind, m.content.length, w, h,
          FakeCodec.frameCount(m.kind, m.content.length), FakeCodec.checksum(m.content))
      }
    }
  }

  final case class ResizedRow(
      media_id: Long, kind: String, width: Int, height: Int,
      target_w: Int, target_h: Int, scale_x: Double, scale_y: Double)
  final case class FrameRow(media_id: Long, frame_idx: Int, frame_checksum: Long)

  /** Resize (stub): computes the real metadata dataflow — per-row target
    * dims + scale factors through the typed pipeline; the pixel resample
    * itself is the documented codec stub. */
  def resizeAll(spark: SparkSession, dir: String, targetW: Int = 224,
                targetH: Int = 224): Dataset[ResizedRow] = {
    import spark.implicits._
    decodeAll(spark, dir).map { d =>
      ResizedRow(d.media_id, d.kind, d.width, d.height, targetW, targetH,
        targetW.toDouble / d.width, targetH.toDouble / d.height)
    }
  }

  /** Frame sampling (stub): every k-th frame of video media, one output
    * row per sampled frame — the explode-shaped dataflow a real
    * frame-extractor produces (bounded per-row fan-out). */
  def sampleFrames(spark: SparkSession, dir: String, every: Int = 4): Dataset[FrameRow] = {
    import spark.implicits._
    decodeAll(spark, dir).filter(_.kind == "video").flatMap { d =>
      (0 until d.n_frames by every).map(i =>
        FrameRow(d.media_id, i, d.checksum * 31 + i))
    }
  }

  /** Metadata-only query — never touches the blob column (column
    * pruning), fully SQL-expressible → has a DuckDB oracle. */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .select(col("media_id"), col("kind"),
        octet_length(col("content")).cast("long").as("n_bytes"),
        col("declared_w"), col("declared_h"),
        (col("declared_w").cast("long") * col("declared_h")).as("declared_pixels"))
      .orderBy("media_id")

  val mediaMetaSql: String =
    s"""SELECT doc_id AS media_id,
      |       ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
      |       octet_length(encode(text))::BIGINT AS n_bytes,
      |       CAST(${Portable.hash60Sql("'w' || doc_id")} % 448 + 64 AS INT) AS declared_w,
      |       CAST(${Portable.hash60Sql("'h' || doc_id")} % 448 + 64 AS INT) AS declared_h,
      |       (${Portable.hash60Sql("'w' || doc_id")} % 448 + 64)
      |         * (${Portable.hash60Sql("'h' || doc_id")} % 448 + 64) AS declared_pixels
      |FROM documents ORDER BY media_id""".stripMargin

  /** Aggregate over the decoded (stub) features: per kind, count/bytes/
    * frame totals — demonstrates decode → relational composition. Fully
    * oracle-checked because the stub codec is content-addressed (md5 of
    * the blob = md5 of the text it encodes). */
  def decodeSummary(spark: SparkSession, dir: String): DataFrame =
    decodeAll(spark, dir).toDF()
      .groupBy("kind")
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_bytes").cast("long")).as("total_bytes"),
        sum(col("n_frames").cast("long")).as("total_frames"),
        max("width").as("max_width"))
      .orderBy("kind")

  /** Decoded rows in SQL (shared CTE): the content blob is the UTF-8
    * encoding of `text`, so md5 over salt||text hashes the same bytes
    * the JVM codec digests. */
  private val decodedSql: String =
    s"""dec AS (
      |  SELECT doc_id AS media_id,
      |         ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
      |         octet_length(encode(text)) AS n_bytes,
      |         CAST(${Portable.hash60Sql("'w' || text")} % 448 + 64 AS INT) AS width,
      |         CAST(${Portable.hash60Sql("'h' || text")} % 448 + 64 AS INT) AS height,
      |         ${Portable.hash60Sql("'ck' || text")} % 4294967296 AS checksum
      |  FROM documents
      |), decf AS (
      |  SELECT *, CAST(CASE WHEN kind = 'video' THEN 1 + n_bytes // 256 ELSE 1 END AS INT) AS n_frames
      |  FROM dec
      |)""".stripMargin

  val decodeSummarySql: String =
    s"""WITH $decodedSql
       |SELECT kind, count(*) AS n_media,
       |       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       |       CAST(sum(n_frames) AS BIGINT) AS total_frames,
       |       max(width) AS max_width
       |FROM decf GROUP BY kind ORDER BY kind""".stripMargin

  /** Resize metadata through the typed decode pipeline (scale factors
    * are exact IEEE divisions of identical integers in both engines). */
  def resizeMeta(spark: SparkSession, dir: String): DataFrame =
    resizeAll(spark, dir).toDF().orderBy("media_id")

  val resizeMetaSql: String =
    s"""WITH $decodedSql
       |SELECT media_id, kind, width, height,
       |       224 AS target_w, 224 AS target_h,
       |       CAST(224 AS DOUBLE) / width AS scale_x,
       |       CAST(224 AS DOUBLE) / height AS scale_y
       |FROM decf ORDER BY media_id""".stripMargin

  /** Every-4th-frame sampling of video media (bounded per-row fan-out). */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    sampleFrames(spark, dir).toDF().orderBy("media_id", "frame_idx")

  val frameSampleSql: String =
    s"""WITH $decodedSql,
       |f AS (
       |  SELECT media_id, checksum,
       |         unnest(generate_series(0, n_frames - 1, 4)) AS fi
       |  FROM decf WHERE kind = 'video'
       |)
       |SELECT media_id, CAST(fi AS INT) AS frame_idx,
       |       checksum * 31 + fi AS frame_checksum
       |FROM f ORDER BY media_id, frame_idx""".stripMargin

  // ——— Perceptual near-duplicate detection over media content ————————
  //
  // A difference-hash (dHash): the decoded media reduces to a 61-cell
  // grid summary; bit j of the signature is the gradient cell(j) >
  // cell(j+1). Local content edits perturb few cells, and each cell
  // feeds only 2 gradient bits — so a near-identical pair lands within
  // a small Hamming radius, found by the same 4×15-bit pigeonhole
  // equi-join as Dedup.simhashPairs (Hamming ≤ 3 ⇒ some piece equal;
  // 2^15-value piece keys keep buckets bounded as the corpus grows).
  //
  // The grid here is the content-addressed FakeCodec convention (cell =
  // md5-derived value of a content chunk, exactly reproducible in
  // DuckDB); a real build swaps in mean-pooled pixels from the decoder
  // via the same mapPartitions shape, and only the rows-only check
  // remains. As with sim_neardup_pairs, the harness corpus has no true
  // near-dup media, so the query SELF-PLANTS: the first 8 media are
  // re-appended past max(media_id) with one mid-content character
  // edited — exactly one grid chunk changes, ≤ 2 dHash bits flip, and
  // the banded path must recover exactly those pairs. The oracle is the
  // exact all-pairs form, proving the bucketed path lossless.

  private val gridCells = 61
  private val dhashPieces = 4
  private val dhashPieceBits = (gridCells - 1) / dhashPieces // 15
  private val maxHamming = 3

  private def cellCol(j: Int): org.apache.spark.sql.Column =
    pmod(Portable.hash60(concat(lit("px"), lit(j), lit("|"),
      expr(s"substring(text, ($j * length(text)) div $gridCells + 1, " +
        s"greatest(1, length(text) div $gridCells))"))), lit(256L))

  /** media_id → 4 signature pieces (one map stage; the 61 cell hashes
    * are shared subexpressions inside one codegen'd projection). */
  private[multimodal] def mediaSignatures(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id").as("media_id"), col("text"))
    // plant ids start past the corpus maximum (1-row broadcast scalar,
    // mirrored in the SQL oracle)
    val edited = expr(
      "concat(substring(text, 1, greatest(1, length(text) div 2) - 1), '~', " +
        "substring(text, greatest(1, length(text) div 2) + 1, length(text)))")
    val planted = docs.filter(col("media_id") < 8)
      .crossJoin(broadcast(docs.agg((max("media_id") + lit(1L)).as("plant_base"))))
      .select((col("media_id") + col("plant_base")).as("media_id"), edited.as("text"))
    val corpus = docs.unionByName(planted)
      .repartition(spark.sparkContext.defaultParallelism, col("media_id"))
    val cells = (0 until gridCells).map(j => cellCol(j).as(s"c$j"))
    val pieceCols = (0 until dhashPieces).map { k =>
      (0 until dhashPieceBits).map { j =>
        val b = k * dhashPieceBits + j
        when(col(s"c$b") > col(s"c${b + 1}"), lit(1L << j)).otherwise(0L)
      }.reduce(_ + _).as(s"p$k")
    }
    corpus.select(col("media_id") +: cells: _*)
      .select(col("media_id") +: pieceCols: _*)
  }

  /** Near-dup media pairs within Hamming ≤ 3 of the 60-bit dHash. */
  def mediaNearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val sig = mediaSignatures(spark, dir).localCheckpoint(false) // both join sides
    val pieceNames = (0 until dhashPieces).map(k => s"p$k")
    val exploded = sig.select(col("media_id") +: pieceNames.map(col) :+
      explode(array((0 until dhashPieces).map(k =>
        struct(lit(k).as("k"), col(s"p$k").as("piece"))): _*)).as("kp"): _*)
      .select(col("media_id") +: pieceNames.map(col) :+
        col("kp.k").as("k") :+ col("kp.piece").as("piece"): _*)
    def side(tag: String) = exploded.select(
      col("media_id").as(tag) +:
        pieceNames.map(p => col(p).as(s"$tag$p")) :+
        col("k") :+ col("piece"): _*)
    val hamming = pieceNames.map(p =>
      bit_count(col(s"a$p").bitwiseXOR(col(s"b$p")))).reduce(_ + _)
    side("a").join(side("b"), Seq("k", "piece"))
      .filter(col("a") < col("b"))
      .withColumn("hamming", hamming.cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming").distinct()
      .orderBy("a", "b")
  }

  val mediaNearDupPairsSql: String = {
    val cell = s"substr(text, (j * length(text)) // $gridCells + 1, greatest(1, length(text) // $gridCells))"
    s"""WITH docs AS (SELECT doc_id AS media_id, text FROM documents),
       |planted AS (
       |  SELECT media_id + (SELECT max(media_id) + 1 FROM docs) AS media_id,
       |         concat(substr(text, 1, greatest(1, length(text) // 2) - 1), '~',
       |                substr(text, greatest(1, length(text) // 2) + 1, length(text))) AS text
       |  FROM docs WHERE media_id < 8),
       |corpus AS (SELECT * FROM docs UNION ALL SELECT * FROM planted),
       |cells AS (
       |  SELECT media_id,
       |         list_transform(generate_series(0, ${gridCells - 1}), j ->
       |           ${Portable.hash60Sql(s"'px' || j || '|' || $cell")} % 256) AS c
       |  FROM corpus),
       |bits AS (
       |  SELECT media_id,
       |         list_transform(generate_series(1, ${gridCells - 1}),
       |                        j -> CASE WHEN c[j] > c[j+1] THEN 1 ELSE 0 END) AS bv
       |  FROM cells),
       |scored AS (
       |  SELECT l.media_id AS a, r.media_id AS b,
       |         CAST(list_sum(list_transform(generate_series(1, ${gridCells - 1}), j ->
       |           CASE WHEN l.bv[j] <> r.bv[j] THEN 1 ELSE 0 END)) AS INT) AS hamming
       |  FROM bits l JOIN bits r ON l.media_id < r.media_id)
       |SELECT a, b, hamming FROM scored WHERE hamming <= $maxHamming
       |ORDER BY a, b""".stripMargin
  }

  // ——— Real-codec arm: javax.imageio PNG through the same pipeline ———
  //
  // FakeCodec keeps the decode pipeline oracle-comparable; this arm
  // proves the SAME Spark shape (binaryFile ingest → typed mapPartitions
  // decode → relational summary) holds for a REAL decoder, not only the
  // stub. The fixture is a set of genuine PNGs written by
  // javax.imageio with a CLOSED-FORM pixel pattern
  // (r,g,b)(x,y,k) = ((7x+13y+29k)%256, (3x+11y+17k)%256, (5x+2y+23k)%256)
  // so the DuckDB oracle recomputes every expected channel sum from
  // arithmetic — the decoded sums tie out only if the codec round-trip
  // is bit-exact (PNG is lossless; TYPE_INT_RGB write → read preserves
  // every sample). Nothing is copied from the decoder into the oracle.

  private val realPngCount = 12
  private def realPngDims(k: Int): (Int, Int) = (16 + 3 * k, 16 + (5 * k) % 24)
  private def realPngRgb(k: Int, x: Int, y: Int): Int = {
    val r = (7 * x + 13 * y + 29 * k) % 256
    val g = (3 * x + 11 * y + 17 * k) % 256
    val b = (5 * x + 2 * y + 23 * k) % 256
    (r << 16) | (g << 8) | b
  }

  /** Write the PNG fixture once per JVM (bench warms it untimed, so the
    * timed pass measures binaryFile read + decode, like the src_* rows). */
  private[multimodal] def realPngFixture(): String = {
    val path = graft.sources.Formats.fixture("mm_real_png")
    graft.sources.Formats.writeOnce(s"mm_png|$path") {
      // fresh dir: the binaryFile scan globs everything here, so stale
      // files from an older fixture shape would surface as phantom rows
      val dir = graft.sources.Formats.freshDir(path)
      (0 until realPngCount).foreach { k =>
        val (w, h) = realPngDims(k)
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { img.setRGB(x, y, realPngRgb(k, x, y)); x += 1 }
          y += 1
        }
        val ok = javax.imageio.ImageIO.write(img, "png",
          new java.io.File(dir, f"img_$k%02d.png"))
        require(ok, s"no PNG writer for fixture image $k")
      }
    }
    path
  }

  final case class RealDecodedRow(
      media_id: Long, width: Long, height: Long, n_pixels: Long,
      sum_r: Long, sum_g: Long, sum_b: Long)

  /** Real decode: binaryFile scan → per-partition ImageIO decode →
    * per-image channel sums. The `dir` arg is unused (the fixture is
    * sf-independent) but kept for the uniform query signature. */
  def realDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = realPngFixture()
    spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (p, bytes) =>
          val k = "img_(\\d+)\\.png$".r.findFirstMatchIn(p)
            .map(_.group(1).toLong)
            .getOrElse(sys.error(s"unexpected fixture file $p"))
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          val (w, h) = (img.getWidth, img.getHeight)
          var (sr, sg, sb) = (0L, 0L, 0L)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
              x += 1
            }
            y += 1
          }
          RealDecodedRow(k, w.toLong, h.toLong, w.toLong * h, sr, sg, sb)
        }
      }
      .toDF()
      .orderBy("media_id")
  }

  /** Oracle: the closed-form pixel pattern summed in pure SQL — ties out
    * only if write→read through the real codec is bit-exact. */
  val realDecodeSql: String =
    s"""WITH dims AS (
       |  SELECT k::BIGINT AS k, 16 + 3*k AS w, 16 + (5*k) % 24 AS h
       |  FROM range($realPngCount) t(k)),
       |px AS (
       |  SELECT k, w, h, unnest(generate_series(0, w*h - 1)) AS i FROM dims),
       |xy AS (SELECT k, w, h, i % w AS x, i // w AS y FROM px)
       |SELECT k AS media_id, any_value(w) AS width, any_value(h) AS height,
       |       count(*) AS n_pixels,
       |       CAST(sum((7*x + 13*y + 29*k) % 256) AS BIGINT) AS sum_r,
       |       CAST(sum((3*x + 11*y + 17*k) % 256) AS BIGINT) AS sum_g,
       |       CAST(sum((5*x + 2*y + 23*k) % 256) AS BIGINT) AS sum_b
       |FROM xy GROUP BY k ORDER BY media_id""".stripMargin

  // ——— Real-pixel RESIZE arm: nearest-neighbor over decoded pixels ——
  //
  // mm_resize_meta computes the resize METADATA dataflow on the stub;
  // this is the pixel half on the real codec: each fixture PNG is
  // decoded and nearest-neighbor-downsampled to a fixed
  // resizeTarget×resizeTarget thumbnail — out(X,Y) samples
  // in((X·w)//T, (Y·h)//T), the integer-exact NN mapping — and the
  // per-thumbnail channel sums are emitted. The DuckDB oracle applies
  // the identical index mapping to the closed-form pattern, so the
  // tie-out proves decode + resample arithmetic end to end (the last
  // stub-only pixel path, closed).

  private val resizeTarget = 16

  final case class RealResizedRow(
      media_id: Long, width: Long, height: Long, target: Long,
      sum_r: Long, sum_g: Long, sum_b: Long)

  /** Real decode + NN-downsample: binaryFile scan → per-partition
    * ImageIO decode → thumbnail channel sums (the decoder knows only
    * pixels, not the fixture pattern). */
  def realResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = realPngFixture()
    val t = resizeTarget
    spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (p, bytes) =>
          val k = "img_(\\d+)\\.png$".r.findFirstMatchIn(p)
            .map(_.group(1).toLong)
            .getOrElse(sys.error(s"unexpected fixture file $p"))
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          val (w, h) = (img.getWidth, img.getHeight)
          var (sr, sg, sb) = (0L, 0L, 0L)
          var yy = 0
          while (yy < t) {
            var xx = 0
            while (xx < t) {
              val rgb = img.getRGB((xx * w) / t, (yy * h) / t)
              sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
              xx += 1
            }
            yy += 1
          }
          RealResizedRow(k, w.toLong, h.toLong, t.toLong, sr, sg, sb)
        }
      }
      .toDF()
      .orderBy("media_id")
  }

  /** Oracle: the closed-form pattern sampled through the identical
    * nearest-neighbor index mapping, in pure SQL. */
  val realResizeSql: String =
    s"""WITH dims AS (
       |  SELECT k::BIGINT AS k, 16 + 3*k AS w, 16 + (5*k) % 24 AS h
       |  FROM range($realPngCount) t(k)),
       |op AS (
       |  SELECT k, w, h, unnest(generate_series(0, ${resizeTarget * resizeTarget - 1})) AS i
       |  FROM dims),
       |xy AS (
       |  SELECT k, w, h,
       |         ((i % $resizeTarget) * w) // $resizeTarget AS x,
       |         ((i // $resizeTarget) * h) // $resizeTarget AS y
       |  FROM op)
       |SELECT k AS media_id, any_value(w) AS width, any_value(h) AS height,
       |       CAST($resizeTarget AS BIGINT) AS target,
       |       CAST(sum((7*x + 13*y + 29*k) % 256) AS BIGINT) AS sum_r,
       |       CAST(sum((3*x + 11*y + 17*k) % 256) AS BIGINT) AS sum_g,
       |       CAST(sum((5*x + 2*y + 23*k) % 256) AS BIGINT) AS sum_b
       |FROM xy GROUP BY k ORDER BY media_id""".stripMargin

  // ——— Real-codec AUDIO arm: javax.sound.sampled WAV, same design ———
  //
  // The image arm proves the pipeline for PNG; this proves it for a
  // second modality with a different JDK codec (AudioSystem). Fixture:
  // genuine RIFF/WAVE files of 8-bit unsigned mono PCM whose sample
  // stream is the closed form u(i,k) = (37·i + 11·k) mod 256 — WAV PCM
  // is uncompressed, so decode must return exactly those bytes, and the
  // DuckDB oracle recomputes every amplitude sum from arithmetic.

  private val realWavCount = 8
  private def realWavFrames(k: Int): Int = 256 + 32 * k
  private def realWavSample(k: Int, i: Int): Int = (37 * i + 11 * k) % 256

  private[multimodal] def realWavFixture(): String = {
    val path = graft.sources.Formats.fixture("mm_real_wav")
    graft.sources.Formats.writeOnce(s"mm_wav|$path") {
      val dir = graft.sources.Formats.freshDir(path)
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1,
        /*signed=*/ false, /*bigEndian=*/ false)
      (0 until realWavCount).foreach { k =>
        val n = realWavFrames(k)
        val bytes = Array.tabulate[Byte](n)(i => realWavSample(k, i).toByte)
        val in = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(bytes), fmt, n.toLong)
        val ok = javax.sound.sampled.AudioSystem.write(in,
          javax.sound.sampled.AudioFileFormat.Type.WAVE,
          new java.io.File(dir, f"clip_$k%02d.wav"))
        require(ok > 0, s"no WAV writer for fixture clip $k")
      }
    }
    path
  }

  final case class RealAudioRow(
      media_id: Long, n_frames: Long, sample_rate: Long,
      sum_amp: Long, sum_sq: Long)

  /** Real audio decode: binaryFile scan → AudioSystem per partition →
    * per-clip amplitude sums (8-bit unsigned PCM → [0,255] ints). */
  def realAudioDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = realWavFixture()
    spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (p, bytes) =>
          val k = "clip_(\\d+)\\.wav$".r.findFirstMatchIn(p)
            .map(_.group(1).toLong)
            .getOrElse(sys.error(s"unexpected fixture file $p"))
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 8 && fmt.getChannels == 1,
            s"unexpected decoded format $fmt")
          val data = ais.readAllBytes()
          var (sa, sq) = (0L, 0L)
          var i = 0
          while (i < data.length) {
            val u = data(i) & 0xff
            sa += u; sq += u.toLong * u
            i += 1
          }
          RealAudioRow(k, data.length.toLong, fmt.getSampleRate.toLong, sa, sq)
        }
      }
      .toDF()
      .orderBy("media_id")
  }

  val realAudioDecodeSql: String =
    s"""WITH clips AS (
       |  SELECT k::BIGINT AS k, 256 + 32*k AS n FROM range($realWavCount) t(k)),
       |smp AS (
       |  SELECT k, n, unnest(generate_series(0, n - 1)) AS i FROM clips),
       |amp AS (SELECT k, n, (37*i + 11*k) % 256 AS u FROM smp)
       |SELECT k AS media_id, any_value(n) AS n_frames,
       |       CAST(8000 AS BIGINT) AS sample_rate,
       |       CAST(sum(u) AS BIGINT) AS sum_amp,
       |       CAST(sum(u*u) AS BIGINT) AS sum_sq
       |FROM amp GROUP BY k ORDER BY media_id""".stripMargin

  // ——— Real MULTI-FRAME arm: animated GIF via javax.imageio —————————
  //
  // mm_frame_sample exercises the frame axis on the stub codec; this is
  // the real-codec twin: genuine multi-frame ANIMATED GIFs written and
  // read through the JDK's GIF plugin (zero new deps), every k-th frame
  // sampled, per-frame pixel sums against a closed-form oracle. The
  // frames are TYPE_BYTE_INDEXED over an identity 256-gray palette —
  // GIF stores palette indices losslessly, so the decoded sample at
  // (x, y) must equal the written v(x,y,f,k) = (3x + 7y + 11f + 29k)
  // mod 256 exactly; any quantization or palette remap breaks the tie.

  private val realGifCount = 6
  private def realGifDims(k: Int): (Int, Int) = (12 + 2 * k, 10 + (3 * k) % 8)
  private def realGifFrames(k: Int): Int = 6 + k % 5
  private def realGifVal(k: Int, f: Int, x: Int, y: Int): Int =
    (3 * x + 7 * y + 11 * f + 29 * k) % 256
  private val gifSampleEvery = 2

  private[multimodal] def realGifFixture(): String = {
    val path = graft.sources.Formats.fixture("mm_real_gif")
    graft.sources.Formats.writeOnce(s"mm_gif|$path") {
      val dir = graft.sources.Formats.freshDir(path)
      val grays = Array.tabulate[Byte](256)(_.toByte)
      val icm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
      (0 until realGifCount).foreach { k =>
        val (w, h) = realGifDims(k)
        val writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("gif").next()
        val out = new java.io.File(dir, f"anim_$k%02d.gif")
        val ios = javax.imageio.ImageIO.createImageOutputStream(out)
        try {
          writer.setOutput(ios)
          writer.prepareWriteSequence(null)
          (0 until realGifFrames(k)).foreach { f =>
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
            val raster = img.getRaster
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                raster.setSample(x, y, 0, realGifVal(k, f, x, y)); x += 1
              }
              y += 1
            }
            writer.writeToSequence(
              new javax.imageio.IIOImage(img, null, null), null)
          }
          writer.endWriteSequence()
        } finally { writer.dispose(); ios.close() }
      }
    }
    path
  }

  final case class RealFrameRow(
      media_id: Long, frame_idx: Long, n_frames: Long,
      width: Long, height: Long, sum_gray: Long)

  /** Real multi-frame decode + sampling: binaryFile scan → per-partition
    * ImageReader over the GIF frame sequence → every
    * [[gifSampleEvery]]-th frame's gray-index sum. The frame loop runs
    * INSIDE the decoder task (one media = one row fan-out), exactly how
    * a video pipeline keyframe-samples at scale. */
  def realFrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = realGifFixture()
    spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (p, bytes) =>
          val k = "anim_(\\d+)\\.gif$".r.findFirstMatchIn(p)
            .map(_.group(1).toLong)
            .getOrElse(sys.error(s"unexpected fixture file $p"))
          val reader = javax.imageio.ImageIO
            .getImageReadersByFormatName("gif").next()
          try {
            reader.setInput(javax.imageio.ImageIO.createImageInputStream(
              new java.io.ByteArrayInputStream(bytes)))
            val n = reader.getNumImages(true)
            (0 until n by gifSampleEvery).map { f =>
              val img = reader.read(f)
              val (w, h) = (img.getWidth, img.getHeight)
              val raster = img.getRaster
              var sum = 0L
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) { sum += raster.getSample(x, y, 0); x += 1 }
                y += 1
              }
              RealFrameRow(k, f.toLong, n.toLong, w.toLong, h.toLong, sum)
            }
          } finally reader.dispose()
        }
      }
      .toDF()
      .orderBy("media_id", "frame_idx")
  }

  val realFrameSampleSql: String =
    s"""WITH gifs AS (
       |  SELECT k::BIGINT AS k, 12 + 2*k AS w, 10 + (3*k) % 8 AS h,
       |         6 + k % 5 AS nf
       |  FROM range($realGifCount) t(k)),
       |fr AS (
       |  SELECT k, w, h, nf,
       |         unnest(generate_series(0, nf - 1, $gifSampleEvery)) AS f
       |  FROM gifs),
       |px AS (
       |  SELECT k, w, h, nf, f, unnest(generate_series(0, w*h - 1)) AS i
       |  FROM fr),
       |xy AS (SELECT k, nf, f, w, h, i % w AS x, i // w AS y FROM px)
       |SELECT k AS media_id, f AS frame_idx, any_value(nf) AS n_frames,
       |       any_value(w) AS width, any_value(h) AS height,
       |       CAST(sum((3*x + 7*y + 11*f + 29*k) % 256) AS BIGINT) AS sum_gray
       |FROM xy GROUP BY k, f ORDER BY media_id, frame_idx""".stripMargin

  // ——— Real-pixel perceptual near-dup: aHash over DECODED pixels ————
  //
  // mm_neardup_pairs runs the banded perceptual search on the stub
  // codec's content summaries; this is the real-pixel twin the round-14
  // review asked for: genuine PNGs (same closed-form pattern as
  // mm_decode_real), decoded by javax.imageio, mean-pooled to an 8×8
  // grid, aHashed, and banded with the identical 4-piece pigeonhole.
  // The fixture SELF-PLANTS near-dups: images 12..15 are copies of
  // 0..3 with the top-left grid cell's red channel lifted by a
  // saturating +96 — a local edit that perturbs ONE pooled cell, so
  // the pair lands at Hamming ≤ 1 while every unrelated pair measures
  // ≥ 16 (verified range; the ≤ 3 radius sits in the gap).
  //
  // Exactness: the aHash threshold is the integer cross-multiplication
  // cell_sum · n_pixels > total_sum · cell_count — no division — so
  // the decoded bits equal the oracle's closed-form bits only if the
  // codec round-trip is bit-exact, making this both a near-dup query
  // and a second pixel-level decoder check.

  private val ndPlantCount = 4
  private val ndGrid = 8 // 8×8 = 64 aHash bits
  private val ndPieces = 4
  private val ndPieceBits = 16
  private val ndMaxHamming = 3

  private[graft] def realNearDupFixture(): String = {
    val path = graft.sources.Formats.fixture("mm_real_neardup")
    graft.sources.Formats.writeOnce(s"mm_nd|$path") {
      val dir = graft.sources.Formats.freshDir(path)
      (0 until realPngCount + ndPlantCount).foreach { id =>
        val k = if (id < realPngCount) id else id - realPngCount
        val planted = id >= realPngCount
        val (w, h) = realPngDims(k)
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = realPngRgb(k, x, y)
            val out =
              if (planted && (x * ndGrid) / w == 0 && (y * ndGrid) / h == 0) {
                val r = math.min(((rgb >> 16) & 0xff) + 96, 255)
                (r << 16) | (rgb & 0xffff)
              } else rgb
            img.setRGB(x, y, out)
            x += 1
          }
          y += 1
        }
        val ok = javax.imageio.ImageIO.write(img, "png",
          new java.io.File(dir, f"nd_$id%02d.png"))
        require(ok, s"no PNG writer for near-dup fixture image $id")
      }
    }
    path
  }

  final case class PooledRow(
      media_id: Long, n_pixels: Long, total: Long,
      cell_sums: Array[Long], cell_counts: Array[Long])

  /** Decode + pool: one pass over the pixels accumulating per-grid-cell
    * luminance (r+g+b) sums and counts — the decoder knows nothing of
    * the fixture pattern, it only reads pixels. */
  private def pooled(spark: SparkSession): Dataset[PooledRow] = {
    import spark.implicits._
    val path = realNearDupFixture()
    spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (p, bytes) =>
          val id = "nd_(\\d+)\\.png$".r.findFirstMatchIn(p)
            .map(_.group(1).toLong)
            .getOrElse(sys.error(s"unexpected fixture file $p"))
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          val (w, h) = (img.getWidth, img.getHeight)
          val sums = new Array[Long](ndGrid * ndGrid)
          val counts = new Array[Long](ndGrid * ndGrid)
          var total = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val lum = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)).toLong
              val c = (y * ndGrid) / h * ndGrid + (x * ndGrid) / w
              sums(c) += lum; counts(c) += 1; total += lum
              x += 1
            }
            y += 1
          }
          PooledRow(id, w.toLong * h, total, sums, counts)
        }
      }
  }

  /** The 16 aHash bits of piece `kp` — integer cross-multiplication,
    * statically unrolled like bqWord so the pack stays codegen'd. */
  private def ndPiece(kp: Int): org.apache.spark.sql.Column =
    (0 until ndPieceBits).map { j =>
      val b = kp * ndPieceBits + j
      when(element_at(col("cell_sums"), b + 1) * col("n_pixels") >
        col("total") * element_at(col("cell_counts"), b + 1), lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _).as(s"p$kp")

  /** Near-dup image pairs within Hamming ≤ 3 of the real-pixel aHash,
    * via the same 4-piece pigeonhole banding as [[mediaNearDupPairs]]
    * (Hamming ≤ 3 over 4 pieces ⇒ some piece equal — the equi-join key
    * that keeps this linear in matches at corpus scale). */
  def realNearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val sig = pooled(spark).toDF()
      .select(col("media_id") +: (0 until ndPieces).map(ndPiece): _*)
      .localCheckpoint(false) // both join sides
    val pieceNames = (0 until ndPieces).map(k => s"p$k")
    val exploded = sig.select(col("media_id") +: pieceNames.map(col) :+
      explode(array((0 until ndPieces).map(k =>
        struct(lit(k).as("k"), col(s"p$k").as("piece"))): _*)).as("kp"): _*)
      .select(col("media_id") +: pieceNames.map(col) :+
        col("kp.k").as("k") :+ col("kp.piece").as("piece"): _*)
    def side(tag: String) = exploded.select(
      col("media_id").as(tag) +:
        pieceNames.map(p => col(p).as(s"$tag$p")) :+
        col("k") :+ col("piece"): _*)
    val hamming = pieceNames.map(p =>
      bit_count(col(s"a$p").bitwiseXOR(col(s"b$p")))).reduce(_ + _)
    side("a").join(side("b"), Seq("k", "piece"))
      .filter(col("a") < col("b"))
      .withColumn("hamming", hamming.cast("int"))
      .filter(col("hamming") <= ndMaxHamming)
      .select("a", "b", "hamming").distinct()
      .orderBy("a", "b")
  }

  /** Oracle: the closed-form pattern pooled and aHashed in pure SQL
    * (exact all-pairs form — proves the banded path lossless AND the
    * decode bit-exact in one tie-out). */
  val realNearDupPairsSql: String =
    s"""WITH imgs AS (
       |  SELECT k::BIGINT AS media_id, k::BIGINT AS src_k, 0 AS planted,
       |         16 + 3*k AS w, 16 + (5*k) % 24 AS h
       |  FROM range($realPngCount) t(k)
       |  UNION ALL
       |  SELECT $realPngCount + k, k, 1, 16 + 3*k, 16 + (5*k) % 24
       |  FROM range($ndPlantCount) t(k)),
       |px AS (
       |  SELECT media_id, src_k, planted, w, h,
       |         unnest(generate_series(0, w*h - 1)) AS i
       |  FROM imgs),
       |lum AS (
       |  SELECT media_id,
       |         ((i // w) * $ndGrid) // h * $ndGrid + ((i % w) * $ndGrid) // w AS cell,
       |         CASE WHEN planted = 1 AND ((i % w) * $ndGrid) // w = 0
       |                   AND ((i // w) * $ndGrid) // h = 0
       |              THEN least((7*(i % w) + 13*(i // w) + 29*src_k) % 256 + 96, 255)
       |              ELSE (7*(i % w) + 13*(i // w) + 29*src_k) % 256 END
       |         + (3*(i % w) + 11*(i // w) + 17*src_k) % 256
       |         + (5*(i % w) + 2*(i // w) + 23*src_k) % 256 AS l
       |  FROM px),
       |cellsum AS (
       |  SELECT media_id, cell, CAST(sum(l) AS BIGINT) AS cs, count(*) AS cc
       |  FROM lum GROUP BY media_id, cell),
       |tot AS (
       |  SELECT media_id, CAST(sum(cs) AS BIGINT) AS total,
       |         CAST(sum(cc) AS BIGINT) AS np
       |  FROM cellsum GROUP BY media_id),
       |bits AS (
       |  SELECT c.media_id, c.cell,
       |         CASE WHEN c.cs * t.np > t.total * c.cc THEN 1 ELSE 0 END AS bit
       |  FROM cellsum c JOIN tot t USING (media_id))
       |SELECT l.media_id AS a, r.media_id AS b,
       |       CAST(sum(CASE WHEN l.bit <> r.bit THEN 1 ELSE 0 END) AS INT) AS hamming
       |FROM bits l JOIN bits r ON l.cell = r.cell AND l.media_id < r.media_id
       |GROUP BY l.media_id, r.media_id
       |HAVING sum(CASE WHEN l.bit <> r.bit THEN 1 ELSE 0 END) <= $ndMaxHamming
       |ORDER BY a, b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_neardup_real" -> realNearDupPairs,
    "mm_resize_real" -> realResize,
    "mm_frame_sample_real" -> realFrameSample,
    "mm_decode_audio_real" -> realAudioDecode,
    "mm_media_meta" -> mediaMeta,
    "mm_decode_summary" -> decodeSummary,
    "mm_resize_meta" -> resizeMeta,
    "mm_frame_sample" -> frameSample,
    "mm_neardup_pairs" -> mediaNearDupPairs,
    "mm_decode_real" -> realDecode)

  val oracles: Map[String, String] = Map(
    "mm_neardup_real" -> realNearDupPairsSql,
    "mm_resize_real" -> realResizeSql,
    "mm_frame_sample_real" -> realFrameSampleSql,
    "mm_decode_audio_real" -> realAudioDecodeSql,
    "mm_media_meta" -> mediaMetaSql,
    "mm_decode_summary" -> decodeSummarySql,
    "mm_resize_meta" -> resizeMetaSql,
    "mm_frame_sample" -> frameSampleSql,
    "mm_neardup_pairs" -> mediaNearDupPairsSql,
    "mm_decode_real" -> realDecodeSql)
}
