package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builds the deliberately-skewed scale fixture for the salted-skew
  * stress measurement (BASELINE.md "Skewed 8× fixture" section).
  *
  * The driver testdata's `l_returnflag` is near-uniform (~33% per
  * value), so the hot-key scenario the salting operators
  * (`operators/Skew.saltedAgg`, `operators/Relational4.saltedJoin`)
  * exist for never actually occurs in the stock tables. This tool
  * rewrites the flag DETERMINISTICALLY (hash of (l_orderkey,
  * l_linenumber), never `rand()`) to a 50/30/20 split — one key ('N')
  * holding half of all rows — and replicates the table `factor`× with
  * `l_orderkey` offset per replica so replica key ranges never collide:
  * the salt hash in both salted operators keys on (l_orderkey,
  * l_linenumber), and its spread domain (the distinct-pair count) must
  * scale ×factor, not fold replicas onto the same cells. (The stock
  * testdata itself reuses ~24% of pairs — a generator artifact the
  * fixture inherits within each replica; SkewFixtureSpec pins the
  * ×factor scaling.)
  *
  * Usage: runMain graft.tools.SkewFixture <srcSfDir> <outDir> <factor>
  * Writes <outDir>/lineitem.parquet; ONLY-mode bench runs then point
  * SPARK_GRAFT_SF_DIR at <outDir> (the two salted queries read nothing
  * but lineitem, and ONLY-mode skips the full-board warmup).
  */
object SkewFixture {
  /** Replica key offset — beyond any stock l_orderkey (max 149,999 at
    * sf0.1), so replica key ranges never overlap. */
  private[graft] val ReplicaOffset = 1000000L

  /** The skewed, replicated frame (pure; main writes it to parquet). */
  private[graft] def skewedLineitem(spark: SparkSession, src: String,
                                    factor: Int): DataFrame = {
    val bucket = pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(10L))
    val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
    // a source whose keys reach the offset would fold replica ranges
    // onto each other — the salt-spread guarantee the fixture exists for
    // would silently break; refuse instead (max() is NULL on an empty
    // source — that's its own refusal, not an NPE)
    val maxKey = Option(lineitem.agg(max("l_orderkey")).head().get(0))
      .map(_.asInstanceOf[Long])
    require(maxKey.exists(_ < ReplicaOffset),
      maxKey.fold(s"source $src/lineitem.parquet is empty — nothing to skew")(k =>
        s"source l_orderkey reaches $k >= ReplicaOffset $ReplicaOffset; " +
          "replica key ranges would collide — raise ReplicaOffset for this source"))
    lineitem
      .withColumn("l_returnflag",
        when(bucket < 5, "N").when(bucket < 8, "A").otherwise("R"))
      .crossJoin(spark.range(factor).select(col("id").as("replica")))
      .withColumn("l_orderkey", col("l_orderkey") + col("replica") * ReplicaOffset)
      .drop("replica")
  }

  /** The hot supplier of the hot-NODE graph fixture (stock suppkey 1 →
    * graph node 2·1+1 = 3 — the minimal odd node id, so the landmark
    * panels of ppr/betweenness/closeness pick it up by construction:
    * the stress runs BFS/walks FROM the hot node, not just past it). */
  private[graft] val HotSupp = 1L

  /** Synthetic-part id base for hot rows — above any stock partkey
    * (max 20,000 at sf0.1) and below the per-replica part offset. */
  private[graft] val SynthPartBase = 1000000L

  /** Per-replica part-id offset. Hot synthetic ids reach
    * SynthPartBase + 8·maxOrderkey + 7 ≈ 2.2M at sf0.1 — under this. */
  private[graft] val PartReplicaOffset = 10000000L

  /** The hot-NODE graph fixture: a lineitem whose derived part↔supplier
    * graph (graft.sim.GraphOps.edges) has ONE supplier node on ~30% of
    * all edges — the web-scale head-node failure mode for the wedge and
    * label-exchange families, which the replica-uniform fixtures never
    * exhibit (stock max supplier degree ≈ mean).
    *
    * Construction: 40% of rows (hash-chosen, never rand()) are rewired
    * to supplier [[HotSupp]] with a row-unique SYNTHETIC part id
    * (8·l_orderkey + l_linenumber is injective on stock data), so every
    * hot row is a distinct edge at the hot node — its degree is ~0.33·|edges|
    * and scales ×factor because the hot SUPPLIER id stays fixed
    * across replicas while every other node id (parts, cold suppliers,
    * orderkeys) gets a disjoint per-replica offset. Cold rows keep the
    * stock graph shape per replica. At factor 8 the hot node holds
    * ~1.4M of ~4M directed edges — one join/agg key with a third of
    * the table behind it. */
  private[graft] def hotNodeLineitem(spark: SparkSession, src: String,
                                     factor: Int): DataFrame = {
    val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
    val maxKey = Option(lineitem.agg(max("l_orderkey")).head().get(0))
      .map(_.asInstanceOf[Long])
    require(maxKey.exists(k => k < ReplicaOffset &&
        SynthPartBase + 8 * k + 7 < PartReplicaOffset),
      s"source $src/lineitem.parquet empty or keys exceed fixture offsets")
    // 4/10 of ROWS → ~1/3 of distinct EDGES at the hot node (the stock
    // generator's ~24% (orderkey, linenumber) pair reuse dedups hot
    // synthetic ids; cold pairs dedup too) — measured 33% at sf0.1
    val hot = pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(10L)) < 4
    lineitem
      .crossJoin(spark.range(factor).select(col("id").as("replica")))
      .withColumn("l_partkey",
        when(hot, lit(SynthPartBase) + col("l_orderkey") * 8 + col("l_linenumber")
          + col("replica") * PartReplicaOffset)
          .otherwise(col("l_partkey") + col("replica") * PartReplicaOffset))
      .withColumn("l_suppkey",
        when(hot, lit(HotSupp))
          // +2 keeps replica-0 cold supplier ids off HotSupp (stock
          // suppkeys START AT 0), so the hot node's adjacency is purely
          // synthetic and scales EXACTLY ×factor (a residual stock-
          // supplier constant would bend the measured exponents at
          // small factors)
          .otherwise(col("l_suppkey") + 2 + col("replica") * ReplicaOffset))
      // l_orderkey offset LAST — the hot predicate and the synthetic
      // part id both read the stock key
      .withColumn("l_orderkey", col("l_orderkey") + col("replica") * ReplicaOffset)
      .drop("replica")
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: SkewFixture <srcSfDir> <outDir> <factor> [hotkey|hotnode]")
    val Array(src, out, factorS) = args.take(3)
    val factor = factorS.toInt
    val mode = args.lift(3).getOrElse("hotkey")
    val spark = graft.Session.local("graft-skew-fixture")

    val frame = mode match {
      case "hotkey" => skewedLineitem(spark, src, factor)
      case "hotnode" => hotNodeLineitem(spark, src, factor)
      case other => sys.error(s"unknown fixture mode $other")
    }
    frame.write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    if (mode == "hotkey") {
      val dist = spark.read.parquet(s"$out/lineitem.parquet")
        .groupBy("l_returnflag").count().orderBy("l_returnflag").collect()
      val total = dist.map(_.getLong(1)).sum
      println(s"SkewFixture: $out/lineitem.parquet rows=$total " +
        dist.map(r => f"${r.getString(0)}=${r.getLong(1) * 100.0 / total}%.1f%%")
          .mkString(" "))
    } else {
      // report the property the fixture exists for: the hot node is an
      // endpoint of hot_degree of the total/2 undirected edges
      val e = graft.sim.GraphOps.edges(spark, out)
      val total = e.count()
      val hotDeg = e.filter(col("src") === lit(HotSupp * 2 + 1)).count()
      println(f"SkewFixture hotnode: $out/lineitem.parquet edges=$total " +
        f"hot_degree=$hotDeg (endpoint of ${hotDeg * 200.0 / total}%.1f%% of undirected edges)")
    }
    spark.stop()
  }
}
