package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Every public `def` in src/main is named somewhere besides its own
  * definition, in src/main or perfbench/src, or is on the allowlist with
  * its reason (README "Entry points"). A source scan with comments
  * blanked and string literals kept (SQL registrations name methods). */
class ReachabilitySpec extends AnyFunSuite {

  private val allowed = Map(
    "main" -> "entry point: the graft.Verify and graft.Inspect mains",
    "apply" -> "Scala sugar: Hplsql's variable scope is called as vars(n)",
    "currentUser_=" -> "Scala setter: called as `auth.currentUser = u`",
    "entry" -> "library API: SparkEntry.entry, the one-call smoke query",
    "variable" -> "library API: reads an HPL/SQL variable after a script"
  ) ++ Seq("partitionCreated", "mapReduceSugar", "unionLimitSplit",
    "withCharCastRetry", "hiveMinMax", "uniqueJoin")
    .map(_ -> "golden-replay harness only (GoldenHarness)")

  // comments and literals in one pass, so `//` inside a string survives
  private val lexeme = ("\"\"\"[\\s\\S]*?\"\"\"" +
    "|\"[^\"\\\\\\n]*(?:\\\\.[^\"\\\\\\n]*)*\"" +
    "|'(?:\\\\.|[^'\\\\])'|/\\*[\\s\\S]*?\\*/|//[^\\n]*").r
  private val word = "[A-Za-z_]\\w*".r
  private val defSite = "\\bdef\\s+([A-Za-z_]\\w*)".r
  private val publicDef =
    "(?m)^[ \\t]*((?:[\\w\\[\\]@]+[ \\t]+)*)def[ \\t]+(\\w+_=|[A-Za-z_]\\w*)".r

  private def sources(dir: String): Seq[(String, String)] =
    Files.walk(Paths.get(dir)).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.map { p =>
        p.toString -> lexeme.replaceAllIn(Files.readString(p), m =>
          if (m.matched.startsWith("/")) " "
          else Regex.quoteReplacement(m.matched))
      }

  test("every public def in src/main is reached from other code or " +
      "allowlisted with a reason") {
    val main = sources("src/main/scala")
    val all = (main ++ sources("perfbench/src")).map(_._2)
    def count(r: Regex, g: Int) =
      all.flatMap(r.findAllMatchIn(_).map(_.group(g)))
        .groupMapReduce(identity)(_ => 1)(_ + _)
    val (uses, defs) = (count(word, 0), count(defSite, 1))
    val unreached = (for {
      (file, text) <- main
      m <- publicDef.findAllMatchIn(text)
      if !m.group(1).matches("(?s).*\\b(private|protected|override)\\b.*")
      name = m.group(2)
      if uses.getOrElse(name, 0) <= defs.getOrElse(name, 0)
    } yield name -> file).groupMap(_._1)(_._2)
    val fresh = (unreached -- allowed.keySet).toSeq.sortBy(_._1)
    if (fresh.nonEmpty) fail("public defs no other code names (call " +
      "them from an entry point, delete them, or allowlist them with a " +
      "reason):\n" + fresh.map { case (n, fs) =>
        s"  $n  (${fs.distinct.mkString(", ")})" }.mkString("\n"))
    val stale = allowed.keySet -- unreached.keySet
    assert(stale.isEmpty, s"allowlisted but now reached or gone: $stale")
  }
}
