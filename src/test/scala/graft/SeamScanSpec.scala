package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Library code has one spelling per mechanism: no env-var reads and no
  * process-global mutable toggles. An A/B seam is a paired experiment
  * on a branch, not a switch shipped in the operators. Mains (Bench,
  * Verify, ScaleProbe) sit outside the scanned directories. */
class SeamScanSpec extends AnyFunSuite {
  private val scanned = Seq("operators", "arrays", "expressions", "streaming")
    .map(d => Paths.get(s"src/main/scala/graft/$d"))

  test("no sys.env or @volatile var under operators/arrays/expressions/streaming") {
    scanned.foreach(d => assert(Files.isDirectory(d), s"$d is gone: update the scan"))
    val files = scanned.flatMap(d => Files.walk(d).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq)
    assert(files.nonEmpty)
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("sys.env") || line.contains("@volatile var")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, s"seams in library code:\n${hits.mkString("\n")}")
  }
}
