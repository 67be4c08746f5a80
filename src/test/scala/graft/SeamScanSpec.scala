package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Library code has one spelling per mechanism: no env-var reads, no
  * process-global mutable toggles and no memo map outside the one
  * registry, the streaming loop's idle TTL is spelled only in
  * KeyedState, and the array core assembles halos and divides indices
  * in one place each. An A/B seam is a paired experiment on a branch, not a
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

  test("the array core spells its halo assembly and its fdiv once") {
    // roll, pad, every stencil and HaloStencil assemble their messages
    // through Halo; a second map_from_entries(collect_list(..)) forks
    // the halo exchange, a second fdiv the index geometry
    def under(d: String) = files.filter(_.startsWith(Paths.get(s"src/main/scala/graft/$d")))
    val assemblies = hits(under("arrays") ++ under("streaming"))(
      _.contains("map_from_entries(collect_list"))
    assert(assemblies.size == 1, s"halo assembly spelled more than once:\n${assemblies.mkString("\n")}")
    val fdivs = hits(under("arrays"))(_.contains("def fdiv"))
    assert(fdivs.size == 1, s"fdiv spelled more than once:\n${fdivs.mkString("\n")}")
  }

  test("the streaming loop spells its idle TTL once, in KeyedState") {
    // a state machine wiring its own processing-time timeout forks the
    // TTL contract that KeyedState.fold states once
    val streaming = files.filter(_.startsWith(Paths.get("src/main/scala/graft/streaming")))
    for (word <- Seq("ProcessingTimeTimeout", "setTimeoutDuration")) {
      val found = hits(streaming)(_.contains(word))
      assert(found.size == 1 && found.head.contains("KeyedState.scala:"),
        s"$word must appear once, in KeyedState.fold:\n${found.mkString("\n")}")
    }
  }
}
