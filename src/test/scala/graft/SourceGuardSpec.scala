package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard: session-keyed memo maps live only in graft.Memo,
  * SparkSession builders only in graft.Session, the one reuse barrier
  * is `localCheckpoint`, and fixtures live under `Formats.fixture`'s
  * per-JVM root, so a per-object copy of either mechanism, a second
  * barrier or a fixed path shared between JVMs cannot creep back in. Comment lines
  * are skipped (the GraftExtensions scaladoc shows a builder by
  * example). */
class SourceGuardSpec extends AnyFunSuite {

  private val sources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** (file:line, text) of every non-comment line under `under`
    * matching `pattern` outside `home`. */
  private def hits(pattern: String, home: String = "",
                   under: String = "src"): Seq[String] = {
    val re = pattern.r
    for {
      p <- sources if p.startsWith(under) && (home.isEmpty || !p.endsWith(home))
      (line, n) <- Files.readAllLines(p).asScala.zipWithIndex
      code = line.trim if !code.startsWith("*") && !code.startsWith("//")
      if re.findFirstIn(code).isDefined
    } yield s"$p:${n + 1}: $code"
  }

  test("the scan sees the source tree") {
    assert(sources.exists(_.endsWith("graft/Memo.scala")))
    assert(sources.exists(_.endsWith("graft/MemoSpec.scala")))
  }

  test("no SparkSession-keyed map outside graft/Memo.scala") {
    assert(hits("""Map\s*\[\s*SparkSession\b""", "graft/Memo.scala").isEmpty)
  }

  test("no SparkSession builder outside graft/Session.scala") {
    assert(hits("""SparkSession\s*\.\s*builder\b""", "graft/Session.scala").isEmpty)
  }

  test("src/main has one reuse barrier: no persist, cache or barrier aliases") {
    val found = hits(
      """\.persist\s*\(|\.cache\s*\(\s*\)|\bStorageLevel\b|\.staged\b|\.cutRound\b|\bSPARK_GRAFT_CACHE\b""",
      under = "src/main")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("fixtures live under the per-JVM fixture root: no fixed /tmp path in src") {
    val found = hits(""""/tmp/""", "graft/SourceGuardSpec.scala")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the Aria drain inlines no abort set: no isInCollection or isin under graft/aria") {
    val found = hits("""\.isInCollection\s*\(|\.isin\s*\(""", under = "src/main/scala/graft/aria")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the Aria drain and the generator add columns in one select: no withColumn fold") {
    // each withColumn re-analyzes the growing plan on the driver; the
    // pattern runs from `foldLeft(z)` into the fold's body, across lines
    val fold = """foldLeft\([^)]*\)\s*[({][^{}]*?\.withColumn\(""".r
    val found = for {
      p <- sources
      if p.startsWith("src/main/scala/graft/aria") || p.startsWith("src/main/scala/graft/gen")
      text = new String(Files.readAllBytes(p), "UTF-8")
      m <- fold.findAllMatchIn(text)
    } yield s"$p:${text.take(m.start).count(_ == '\n') + 1}: ${m.matched.linesIterator.next()}"
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the ANN family has one portable cosine and one centroid pack") {
    val cosine = hits("""sqrt\(col\("n[^"]*"\)\.cast\("double"\)\) \* sqrt\(""",
      "functions/Portable.scala")
    val pack = hits("""collect_list\(struct\(col\("cid"\), col\("c"\), col\("csq"\)\)\)""",
      "sim/Clustering.scala")
    val found = cosine ++ pack
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the oracles spell no portable primitive: hash60, cosine, quantize and dot live in Portable") {
    val twins = Seq(
      "hash60" -> """'0x'\s*\|\|""",
      "cosine" -> """sqrt\(CAST\([^()]* AS DOUBLE\)\)\s*\*\s*sqrt\(CAST\(""",
      "quantize" -> """x -> CAST\(floor\(CAST\(x AS DOUBLE\)\s*\*\s*10000""",
      "dot" -> """i -> [\w.$]+\[i\] \* [\w.$]+\[i\]""",
      "normSq" -> """x -> x\s*\*\s*x\b""")
    // the only two allowed: the two-line cosines of NnDescent's build
    // and beam scoring, whose text sparkbench's recorded oracle digests
    // pin (EntrySpec); each site carries that reason
    val pinned = "/ (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE))) AS cosine"
    val found = twins.flatMap { case (rule, re) =>
      hits(re, "functions/Portable.scala", "src/main").map(h => s"$rule: $h")
    }
    val (allowed, rest) = found.partition(h =>
      h.contains("sim/NnDescent.scala:") && h.endsWith(pinned))
    assert(rest.isEmpty, rest.mkString("\n"))
    assert(allowed.size === 2, allowed.mkString("\n"))
  }

  test("the ANN family ranks through Portable.topK/rankSql: no other row_number under graft/sim") {
    // (file, line text) -> why the site stays inline; each matches once
    val allowed = Seq(
      ("sim/Embeddings.scala", "row_number().over(wAdj)") ->
        "walk adjacency index: numbers every edge, keeps all",
      ("sim/Embeddings.scala", "CAST(row_number() OVER (PARTITION BY src ORDER BY dst)") ->
        "DuckDB twin of the walk adjacency index",
      ("sim/Pq.scala", "row_number() OVER (ORDER BY cid) - 1 AS pos") ->
        "centroid position in its codebook, keeps all",
      ("sim/Pq.scala", "row_number() OVER (ORDER BY v DESC, dim) - 1 AS r") ->
        "OPQ variance rank of every dimension, keeps all",
      ("sim/NnDescent.scala", "row_number() OVER (PARTITION BY g.dst ORDER BY g.src) AS rn") ->
        "build text pinned by recorded oracle digests; ranks by id alone",
      ("sim/NnDescent.scala", "SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY") ->
        "build text pinned by recorded oracle digests; two-line hash order",
      ("sim/NnDescent.scala", "row_number() OVER (PARTITION BY a.vec_id ORDER BY") ->
        "beam-curve exact panel pinned by recorded oracle digests; two-line order")
    val found = hits("""row_number\s*\(""", "functions/Portable.scala",
      "src/main/scala/graft/sim")
    def isSite(h: String, site: (String, String)): Boolean =
      h.contains(s"${site._1}:") && h.contains(site._2)
    val rest = found.filterNot(h => allowed.exists { case (site, _) => isSite(h, site) })
    assert(rest.isEmpty, rest.mkString("\n"))
    for ((site, why) <- allowed)
      assert(found.count(isSite(_, site)) === 1, s"$site ($why)")
  }
}
