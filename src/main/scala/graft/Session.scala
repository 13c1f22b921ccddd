package graft

import org.apache.spark.sql.SparkSession

/** The engine's local SparkSession, shared by every main and the specs:
  * `local[cpus]` with one shuffle partition per core, UTC session time,
  * no UI, WARN logging. `cpus` defaults to SPARK_GRAFT_CPUS, else every
  * available core. */
object Session {
  def local(app: String,
            cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
              .getOrElse(Runtime.getRuntime.availableProcessors)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
