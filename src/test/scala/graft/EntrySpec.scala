package graft

import scala.jdk.CollectionConverters._

/** The driver contract surface itself: entry() returns rows, every
  * declared query has a builder, and every oracle key has a query. */
class EntrySpec extends SparkSpec {

  test("entry() produces rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("query names are stable and unique across modules") {
    val total = SparkEntry.modules.map(_._1.size).sum
    assert(SparkEntry.queries.size === total,
      "duplicate query names collapsed in the merged map")
    val oracleTotal = SparkEntry.modules.map(_._2.size).sum
    assert(SparkEntry.oracleSql.size === oracleTotal,
      "duplicate oracle names collapsed in the merged map")
  }

  test("the benchmark's recorded oracle digests match the oracle SQL") {
    // sparkbench's check reuses a recorded DuckDB digest only while the
    // oracle's SQL hashes to the recorded sql_sha256; any edit to that
    // text turns the benchmark check into a live DuckDB run.
    val path = java.nio.file.Paths.get("sparkbench/expected/graph_ann_iterative.json")
    val queries = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(path.toFile).get("queries")
    val recorded = queries.fieldNames.asScala.map(q =>
      q -> queries.get(q).get("sql_sha256").asText).toMap
    assert(recorded.nonEmpty, s"no recorded queries in $path")
    def sha256(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val changed = recorded.toSeq.sorted.collect {
      case (q, want) if !SparkEntry.oracleSql.get(q).map(sha256).contains(want) => q
    }
    assert(changed.isEmpty, s"oracle SQL differs from the recorded digest: $changed")
  }

  test("oracle SQL carries no Scala interpolation text") {
    // a SQL literal built from `${…}` helpers must be an s-interpolator
    val raw = SparkEntry.oracleSql.collect { case (q, sql) if sql.contains("${") => q }
    assert(raw.isEmpty, s"uninterpolated oracle text: $raw")
  }

  test("every query has an oracle (no silently-unverified entries)") {
    val unverified = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unverified.isEmpty, s"query without oracle: $unverified")
  }

  test("no query emits array/map/struct output columns (comparator contract)") {
    // The driver's pandas comparator sorts every output column; nested
    // types are unhashable there and red-row the query even when values
    // match. Scalarize (array_join / to_json) before returning.
    val sfDir = sf("sf0.001")
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      fn(spark, sfDir).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] => s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(offenders.isEmpty, s"nested output columns: $offenders")
  }
}
