package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Each replayed algorithm has one renderer on the oracle side and one
  * recipe on the Scala side: a text that only a copy of one would
  * repeat occurs exactly once in `src/main`. And the count of lines that
  * repeat an earlier 6-line window may not rise. */
class ReplayCopyLintSpec extends AnyFunSuite {

  /** The repeat count `src/main` may not exceed; lower it when a change
    * removes repeats. */
  private val MaxRepeatedLines = 6

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

  /** The main sources in sorted path order: (path, text). */
  private lazy val sources = {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    assert(files.size > 50, s"expected the main sources, found ${files.size} files")
    files.map(f => f.toString -> Files.readString(f))
  }

  /** Lines that lie in a window of 6 consecutive kept lines of one file
    * whose texts already occurred as an earlier window, the files taken
    * in order; and each such window as "file:line repeats file:line",
    * the first line of the window and of its earlier occurrence. A kept
    * line is trimmed and, as `tools/loc.sh` counts them, neither blank
    * nor starting with a line comment, `*` or a block-comment opener. */
  private def repeats(files: Seq[(String, String)]): (Int, Seq[String]) = {
    val seen = scala.collection.mutable.HashMap.empty[Seq[String], String]
    val where = Seq.newBuilder[String]
    val n = files.map { case (name, text) =>
      val kept = text.split("\n", -1).toSeq.map(_.trim).zipWithIndex
        .filterNot { case (l, _) =>
          l.isEmpty || l.startsWith("//") || l.startsWith("*") || l.startsWith("/*") }
      val hit = new Array[Boolean](kept.length)
      kept.sliding(6).zipWithIndex.foreach { case (w, i) =>
        if (w.size == 6) {
          val at = s"$name:${w.head._2 + 1}"
          seen.get(w.map(_._1)) match {
            case Some(first) =>
              (i until i + 6).foreach(hit(_) = true)
              where += s"$at repeats $first"
            case None => seen(w.map(_._1)) = at
          }
        }
      }
      hit.count(identity)
    }.sum
    (n, where.result())
  }

  private def repeatedLines(files: Seq[String]): Int =
    repeats(files.zipWithIndex.map { case (t, i) => s"file$i" -> t })._1

  test("each replay and band recipe is written out once in src/main") {
    val text = sources.map(_._2).mkString("\n")
    val off = Anchors.map(a => a -> count(text, a)).filter(_._2 != 1)
    assert(off.isEmpty, off.map { case (a, n) => s"$n x $a" }.mkString("\n"))
  }

  test("the count sees every copy") {
    assert(count("a 1::BIGINT << p.pid, b 1::BIGINT << p.pid", "1::BIGINT << p") == 2)
    assert(count("list_min(list_transform(sh", "list_min(list_transform(shh") == 0)
  }

  /** "file:line" of each `UnsafeArrayData.fromPrimitiveArray` outside
    * the file that defines `object VectorKernels`. */
  private def primitiveWraps(files: Seq[(String, String)]): Seq[String] =
    files.filterNot(_._2.contains("object VectorKernels")).flatMap { case (name, text) =>
      text.split("\n", -1).zipWithIndex.collect {
        case (l, i) if l.contains("UnsafeArrayData.fromPrimitiveArray") => s"$name:${i + 1}"
      }
    }

  test("driver code reaches the vector kernels only through their raw-array entries") {
    // a driver caller that wraps its arrays pays a copy per scored vector
    // and reads it back through ArrayData; VectorKernels takes the
    // arrays in place
    val found = primitiveWraps(sources)
    assert(found.isEmpty, s"UnsafeArrayData.fromPrimitiveArray outside VectorKernels:\n${found.mkString("\n")}")
    val wrap = "val qa = UnsafeArrayData.fromPrimitiveArray(q)"
    assert(primitiveWraps(Seq("a" -> s"x\n  $wrap", "b" -> s"object VectorKernels {\n$wrap")) == Seq("a:2"))
  }

  test("src/main repeats no more 6-line windows than the ratchet allows") {
    val (n, where) = repeats(sources)
    assert(n <= MaxRepeatedLines,
      s"$n lines repeat an earlier 6-line window (ratchet $MaxRepeatedLines):\n" +
        where.mkString("\n"))
  }

  test("the repeat scan sees every line of a repeated window") {
    val block = (1 to 6).map(i => s"val x$i = $i")
    val a = (block :+ "end a").mkString("\n")
    // indented, with blank and comment lines between: the same window
    val b = ("start b" +: "" +: block.map("  " + _) :+ "  * doc" :+ "// c" :+ "end b").mkString("\n")
    assert(repeatedLines(Seq(a, b)) == 6)
    // a copy within one file counts; a block shorter than 6 lines never does
    assert(repeatedLines(Seq((block ++ ("mid" +: block)).mkString("\n"))) == 6)
    assert(repeatedLines(Seq(block.take(5).mkString("\n"), block.take(5).mkString("\n"))) == 0)
    assert(repeatedLines(Seq(a, a)) == 7)
    // each repeated window names itself and its first occurrence
    assert(repeats(Seq("a" -> a, "b" -> b))._2 == Seq("b:3 repeats a:1"))
  }
}
