package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Each replayed algorithm has one renderer on the oracle side and one
  * recipe on the Scala side: a text that only a copy of one would
  * repeat occurs exactly once in `src/main`. */
class ReplayCopyLintSpec extends AnyFunSuite {

  private val Anchors = Seq(
    // the MinHash signature of TextQueries.F.sigBndCtes
    "list_min(list_transform(shh",
    // the IVF cell argmin of OracleFrag.ivfCells
    "PARTITION BY vec_id ORDER BY d ASC, cid ASC",
    // the PQ code argmin of OracleFrag.pqCodes
    "PARTITION BY vec_id, s ORDER BY d ASC, j ASC",
    // the plane bit of OracleFrag.lshBucket
    "1::BIGINT << p",
    // the band ids Dedup.minhashBands explodes
    "sequence(lit(0), lit(Bands - 1))")

  private def count(text: String, anchor: String): Int =
    java.util.regex.Pattern.quote(anchor).r.findAllIn(text).size

  test("each replay and band recipe is written out once in src/main") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"expected the main sources, found ${files.size} files")
    val text = files.map(Files.readString(_)).mkString("\n")
    val off = Anchors.map(a => a -> count(text, a)).filter(_._2 != 1)
    assert(off.isEmpty, off.map { case (a, n) => s"$n x $a" }.mkString("\n"))
  }

  test("the count sees every copy") {
    assert(count("a 1::BIGINT << p.pid, b 1::BIGINT << p.pid", "1::BIGINT << p") == 2)
    assert(count("list_min(list_transform(sh", "list_min(list_transform(shh") == 0)
  }
}
