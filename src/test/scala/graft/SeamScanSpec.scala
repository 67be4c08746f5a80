package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Library code has one spelling per mechanism: no env-var reads, no
  * process-global mutable toggles and no memo map outside the one
  * registry. An A/B seam is a paired experiment on a branch, not a
  * switch shipped in the operators. Mains (Bench, Verify, ScaleProbe)
  * sit outside the scanned directories. */
class SeamScanSpec extends AnyFunSuite {
  private val scanned = Seq("operators", "arrays", "expressions", "streaming")
    .map(d => Paths.get(s"src/main/scala/graft/$d"))

  private def files = {
    scanned.foreach(d => assert(Files.isDirectory(d), s"$d is gone: update the scan"))
    val fs = scanned.flatMap(d => Files.walk(d).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq)
    assert(fs.nonEmpty)
    fs
  }

  private def hits(in: Seq[java.nio.file.Path])(bad: String => Boolean) = for {
    f <- in
    (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
    if bad(line)
  } yield s"$f:${i + 1}: ${line.trim}"

  test("no sys.env or @volatile var under operators/arrays/expressions/streaming") {
    val found = hits(files)(l => l.contains("sys.env") || l.contains("@volatile var"))
    assert(found.isEmpty, s"seams in library code:\n${found.mkString("\n")}")
  }

  test("concurrent and LRU maps live only in Memo, Persists and Joins") {
    // a process-global memo map belongs in the one Memo registry
    // (Persists and Joins.hotMemo are keyed by canonical plan instead)
    val allowed = Set("Memo.scala", "Persists.scala", "Joins.scala")
    val map = "TrieMap|ConcurrentHashMap|java\\.util\\.LinkedHashMap|java\\.util\\.\\{[^}]*LinkedHashMap".r
    val found = hits(files.filterNot(f => allowed(f.getFileName.toString)))(
      l => map.findFirstIn(l).isDefined)
    assert(found.isEmpty, s"memo maps outside the registry:\n${found.mkString("\n")}")
  }
}
