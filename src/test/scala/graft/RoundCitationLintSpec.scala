package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** No comment in `src/main` cites a development round, verdict or
  * advisory ("r14 optimization round", "the round-5 version"): a
  * comment states the invariant it guards, and history lives in git.
  * Only comment text is read, so identifiers such as `r1` in code never
  * count. */
class RoundCitationLintSpec extends AnyFunSuite {

  private val Citation: Regex = Seq(
    """(?<![\w/-])r\d{1,2}\b""",
    """\bverdict\b""",
    """(?<![\w-])advisory\b""",
    """\bjudge task""",
    """\bround-[1-9]\d*\b""",
    """\b(?:since|until|through) round \d+""").mkString("|").r

  /** The comment text of a source line: the whole line when it opens a
    * comment or continues a doc comment, else whatever follows ` // `. */
  private def commentOf(line: String): Option[String] = {
    val t = line.trim
    if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) Some(t)
    else line.indexOf(" // ") match {
      case -1 => None
      case i => Some(line.substring(i))
    }
  }

  private def cites(line: String): Boolean =
    commentOf(line).exists(Citation.findFirstIn(_).isDefined)

  test("no comment in src/main cites a round, verdict or advisory") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"expected the main sources, found ${files.size} files")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if cites(line)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the lint reads comments only and catches each citation form") {
    for (line <- Seq("// r14 optimization round", "  * (r12 verdict task #6): the",
        "// the r8 advisory: java.nio", "    * the round-5 CachingFetch behavior",
        "// CONTENT-checked since round 8", """x + 1 // closes the r7 judge task"""))
      assert(cites(line), line)
    for (line <- Seq("""    val ab = o.select(col("rb").as("r1"))""", "// round 0 is the input graph",
        "  *     `plans/r15/isolated_floors.json`)", "// byte-advisory target",
        "// the purge verdicts replay in SQL", "   * computes wrong round-0 supports"))
      assert(!cites(line), line)
  }
}
