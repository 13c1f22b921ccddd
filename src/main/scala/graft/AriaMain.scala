package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.aria.Aria
import graft.model.AriaConfig

/** CLI driver for the Aria epoch-batch transaction engine — the Spark
  * analog of the reference benchmark entry point
  * (/root/reference/src/main.cu:25-63): load table, generate batch, drain
  * the epoch loop, report per-epoch commit/abort stats and a final table
  * checksum.
  *
  * Usage: runMain graft.AriaMain [nTxns] [tableKeys] [keysMax] [reorder]
  */
object AriaMain {
  def main(args: Array[String]): Unit = {
    val nTxns = args.lift(0).map(_.toInt).getOrElse(150)
    val tableKeys = args.lift(1).map(_.toInt).getOrElse(199999)
    val keysMax = args.lift(2).map(_.toInt).getOrElse(20000)
    val reorder = args.lift(3).exists(_.toBoolean)
    val spark = Session.local("graft-aria")

    val cfg = AriaConfig(nTxns = nTxns, tableKeys = tableKeys,
      keysMax = keysMax, reorder = reorder)
    val t0 = System.nanoTime()
    val result = Aria.run(spark, cfg)
    // bit_xor, not sum: ANSI mode (Spark 4 default) makes sum() throw on
    // Long overflow, and xor is order/partitioning-independent. One
    // aggregation reads the lazy final merge for both figures.
    val Row(rows: Long, checksum: Long) = result.table
      .select(xxhash64(col("key"), col("f0"), col("f4"), col("f9")).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)")).head
    val elapsed = (System.nanoTime() - t0) / 1e9
    result.stats.foreach { s =>
      println(f"epoch=${s.epoch}%2d txns=${s.txns}%5d committed=${s.committed}%5d aborted=${s.aborted}%5d")
    }
    println(f"drained in ${result.stats.length} epochs, ${elapsed}%.2f s; table checksum=$checksum%016x rows=$rows")
    spark.stop()
  }
}
