package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** Code that only its own tests call is dead weight: it is built,
  * documented and kept green without serving a query, an entry point
  * or a workload. This source scan keeps src/main down to what ships. */
class ReachabilitySpec extends AnyFunSuite {

  /** Public members that nothing outside the test tree names, each with
    * the reason it stays. `Owner.*` covers every member of `Owner`. */
  private val allowed: Map[String, String] = Map(
    "EntrySmoke" -> "main object run by name (`runMain graft.EntrySmoke`)",
    "PlanAudit" -> "main object run by name (`runMain graft.PlanAudit`)",
    "Verify" -> "main object run by name (`runMain graft.Verify`)",
    "Padua.*" -> "the Padua facade: PaDuA's API under the reference's names",
    "ScalarFuncs.proteinIdBase" -> "cites the reference (ref io.py:85 `_protein_id`)",
    "ScalarFuncs.buildCombinedLabel" -> "cites the reference (ref utils.py:208-225)",
    "Pca.featureWeights" -> "cites the reference (analysis.py:89-91 `pca.components_`)",
    "Pls.predict" -> "cites the reference (ref analysis.py:164-216 `plsr`)",
    "Summaries.histogram" -> "cites the reference (ref visualize.py:1374-1491)",
    "Volcano.upDownCounts" -> "cites the reference (ref visualize.py:650-660)",
    "Pipelines.silacRatio" -> "the paper's S-2 SILAC chain",
    "Dedup.simHashNearDupPairs" ->
      "DedupSpec's reference for simHashNearDupPairsBounded",
    "Similarity.cosineNearDupPairs" ->
      "TextSimSpec's reference for cosineNearDupPairsBounded",
    "Similarity.semanticNearDupPairs" ->
      "TextSimSpec's reference for semanticNearDupPairsBounded",
    "AnnRecall.bruteForceL2TopK" -> "TextSimSpec's exact L2 reference for Pq's top-k",
    "AnnRecall.measure" ->
      "AnnRecallSpec's reference: LSH, IVF and PQ recall against exact search")

  // string literals are kept (tools name mains inside strings) and
  // comments dropped; `shape` also blanks strings, so braces and
  // keywords inside them neither nest nor declare
  private val scalaLexeme: Regex =
    "(?s)\"\"\".*?\"\"\"|\"(?:\\\\.|[^\"\\\\\n])*\"|'(?:\\\\.|[^'\\\\\n])'|/\\*.*?\\*/|//[^\n]*".r
  private val pythonLexeme: Regex =
    "(?s)\"\"\".*?\"\"\"|'''.*?'''|\"(?:\\\\.|[^\"\\\\\n])*\"|'(?:\\\\.|[^'\\\\\n])*'|#[^\n]*".r

  private def isComment(s: String) = s.startsWith("/") || s.startsWith("#")

  private def code(f: Path): String = {
    val lexeme = if (f.toString.endsWith(".py")) pythonLexeme else scalaLexeme
    lexeme.replaceAllIn(Files.readString(f), m =>
      Regex.quoteReplacement(if (isComment(m.matched)) "" else m.matched))
  }

  private def shape(f: Path): String =
    scalaLexeme.replaceAllIn(Files.readString(f), m =>
      if (isComment(m.matched)) "" else "\"\"")

  private def sources(dir: String, suffixes: String*): Seq[Path] =
    Files.walk(Paths.get(dir)).iterator.asScala
      .filter(f => suffixes.exists(f.toString.endsWith)).toSeq.sortBy(_.toString)

  private val declaration =
    ("""\b((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|implicit\s+|""" +
      """lazy\s+|sealed\s+|abstract\s+|case\s+)*)(object|class|trait|def|val|var)\s+""" +
      """([A-Za-z_]\w*)""").r

  /** (key, name) of every in-scope declaration: public top-level types,
    * and public members directly inside a top-level object. `main` is
    * the JVM's entry point; the allowlist names its object instead. */
  private def declarations(f: Path): Seq[(String, String)] = {
    val text = shape(f)
    var depth = 0
    var pos = 0
    var owner: Option[(String, String)] = None // (kind, name) at depth 0
    declaration.findAllMatchIn(text).flatMap { m =>
      while (pos < m.start) {
        text.charAt(pos) match {
          case '{' => depth += 1
          case '}' => depth -= 1
          case _   =>
        }
        pos += 1
      }
      val (mods, kind, name) = (m.group(1), m.group(2), m.group(3))
      val hidden = mods.contains("private") || mods.contains("protected")
      if (depth == 0 && Set("object", "class", "trait")(kind)) {
        owner = Some(kind -> name)
        if (hidden) None else Some(name -> name)
      } else if (depth == 1 && owner.exists(_._1 == "object") && !hidden &&
          !mods.contains("override") && !(kind == "def" && name == "main"))
        Some(s"${owner.get._2}.$name" -> name)
      else None
    }.toList
  }

  test("every public member of src/main is named by shipped code or allowlisted with a reason") {
    val mains = sources("src/main/scala", ".scala")
    val shipped = mains ++ sources("perfbench/src", ".scala") ++ sources("tools", ".py")
    val identifier = "[A-Za-z_]\\w*".r
    val uses = shipped.iterator.flatMap(f => identifier.findAllIn(code(f)))
      .toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    val decls = mains.flatMap(declarations)
    assert(decls.size > 300, s"scan found only ${decls.size} declarations")
    val declared = decls.groupMapReduce(_._2)(_ => 1)(_ + _)
    val unreached = decls.collect {
      case (key, name) if uses.getOrElse(name, 0) <= declared(name) => key
    }.distinct.sorted
    def allowedKey(key: String) =
      allowed.contains(key) || allowed.contains(key.takeWhile(_ != '.') + ".*")
    val unexplained = unreached.filterNot(allowedKey)
    assert(unexplained.isEmpty, "public members that no query, main, perfbench workload " +
      "or tools script names: delete them with their tests, or allowlist them with a reason")
    val stale = allowed.keySet.filterNot { k =>
      if (k.endsWith(".*")) unreached.exists(_.startsWith(k.dropRight(1))) else unreached.contains(k)
    }
    assert(stale.isEmpty, "allowlisted members that are now reached or gone")
  }
}
