package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: a `TrieMap` declared under src/main/scala outside
  * Memo.scala is a session cache bypassing the registry, unless it is
  * one of the named non-cache maps.
  */
class MemoGuardSpec extends AnyFunSuite {

  private val NonCacheMaps = Set("ArtifactStore.locks",
    "ArtifactStore.publishEventCounts", "IngestCommit.commitLocks",
    "DurableArtifact.salts", "Dedup.lastPropagationRounds")

  private val Decl =
    """(?:val|var|def)\s+(\w+)\s*(?::[^=]*)?=\s*(?:new\s+)?(?:scala\.collection\.concurrent\.)?TrieMap\b""".r

  /** The `TrieMap`s `code` declares or uses outside a named
    * declaration, as `Object.name` (or `Object.?` when unnamed).
    */
  private def trieMaps(obj: String, code: String): Seq[String] = {
    val stripped = code.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
      .linesIterator.filterNot(_.trim.startsWith("import ")).mkString("\n")
    val named = Decl.findAllMatchIn(stripped).map(m => s"$obj.${m.group(1)}").toSeq
    val unnamed = "\\bTrieMap\\b".r.findAllMatchIn(Decl.replaceAllIn(stripped, "")).size
    named ++ Seq.fill(unnamed)(s"$obj.?")
  }

  test("no TrieMap under src/main/scala outside Memo.scala but the named non-cache maps") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val found = files.filterNot(_.getFileName.toString == "Memo.scala").flatMap { f =>
      trieMaps(f.getFileName.toString.stripSuffix(".scala"),
        new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
    }
    assert(found.toSet == NonCacheMaps,
      s"TrieMaps outside the registry: ${found.filterNot(NonCacheMaps)}; " +
        s"named maps gone: ${NonCacheMaps -- found}")
    assert(found.size == NonCacheMaps.size, s"a named map is declared twice: $found")
  }

  test("the scan catches a planted cache, typed or qualified") {
    assert(trieMaps("X", """private val fooCache = scala.collection.concurrent.TrieMap
      |    .empty[(Int, String), Long]""".stripMargin) == Seq("X.fooCache"))
    assert(trieMaps("X", "val m: TrieMap[Int, Int] = TrieMap.empty") == Seq("X.m"))
    assert(trieMaps("X", "f(new TrieMap[Int, Int])") == Seq("X.?"))
    assert(trieMaps("X", "// a TrieMap in a comment\nimport scala.collection.concurrent.TrieMap").isEmpty)
  }
}
