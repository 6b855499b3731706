package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scans over src/main/scala: a `TrieMap` declared outside
  * Memo.scala is a session cache bypassing the registry, unless it is
  * one of the named non-cache maps; an `ArtifactStore.findValid` or
  * `ArtifactStore.publish` call outside DurableArtifact.scala is a
  * durable read-through written by hand beside the shared one; and a
  * `"_staging"`/`"_old"` suffix or a `swapIn`/`listComplete` definition
  * outside StagedDir.scala is another copy of the staged-directory
  * protocol; and a `persist`/`unpersist`/`cache()` call or a
  * `StorageLevel` outside Memo.scala is a frame cached by hand, with no
  * owner to release it on a throw or a rebuild.
  */
class MemoGuardSpec extends AnyFunSuite {

  private val NonCacheMaps = Set("StagedDir.locks",
    "ArtifactStore.publishEventCounts", "DurableArtifact.salts",
    "Dedup.lastPropagationRounds")

  private val Decl =
    """(?:val|var|def)\s+(\w+)\s*(?::[^=]*)?=\s*(?:new\s+)?(?:scala\.collection\.concurrent\.)?TrieMap\b""".r

  /** `code` without comments or import lines. */
  private def stripped(code: String): String =
    code.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
      .linesIterator.filterNot(_.trim.startsWith("import ")).mkString("\n")

  /** The `TrieMap`s `code` declares or uses outside a named
    * declaration, as `Object.name` (or `Object.?` when unnamed).
    */
  private def trieMaps(obj: String, code: String): Seq[String] = {
    val bare = stripped(code)
    val named = Decl.findAllMatchIn(bare).map(m => s"$obj.${m.group(1)}").toSeq
    val unnamed = "\\bTrieMap\\b".r.findAllMatchIn(Decl.replaceAllIn(bare, "")).size
    named ++ Seq.fill(unnamed)(s"$obj.?")
  }

  /** Every `.scala` file under src/main/scala, as (object name, code). */
  private lazy val mainSources: Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(f => f.getFileName.toString.stripSuffix(".scala") ->
        new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
    finally s.close()
  }

  /** Calls into the artifact store's read-through primitives. */
  private val StoreCall = """\bArtifactStore\s*\.\s*(?:findValid|publish)\s*\(""".r

  private def storeCalls(code: String): Int =
    StoreCall.findAllMatchIn(stripped(code)).size

  test("no TrieMap under src/main/scala outside Memo.scala but the named non-cache maps") {
    val found = mainSources.filterNot(_._1 == "Memo").flatMap { case (obj, code) =>
      trieMaps(obj, code)
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

  test("ArtifactStore.findValid/publish are called only from DurableArtifact") {
    val callers = mainSources.filter(kv => storeCalls(kv._2) > 0).map(_._1)
    assert(callers == Seq("DurableArtifact"),
      s"a durable read-through written by hand around ArtifactStore: $callers")
  }

  test("the store-call scan catches a planted read-through") {
    assert(storeCalls("ArtifactStore.findValid(spark, p, fp)") == 1)
    assert(storeCalls("ArtifactStore\n  .publish (spark, p, fp) { s => }") == 1)
    assert(storeCalls("// ArtifactStore.publish(spark, p, fp)\n/** [[ArtifactStore.findValid]] */") == 0)
  }

  /** The staged-directory protocol's pieces: its suffix literals (also
    * at the end of an interpolation) and the definitions of its swap
    * and race-checked listing.
    */
  private val ProtocolPiece = """(?<!\w)_(?:staging|old)"|\bdef\s+(?:swapIn|listComplete)\b""".r

  private def protocolPieces(code: String): Int =
    ProtocolPiece.findAllMatchIn(stripped(code)).size

  test("the staging/_old suffixes, swapIn and listComplete live only in StagedDir") {
    val owners = mainSources.filter(kv => protocolPieces(kv._2) > 0).map(_._1)
    assert(owners == Seq("StagedDir"),
      s"a copy of the staged-directory protocol outside StagedDir: $owners")
  }

  test("the protocol scan catches a planted copy") {
    assert(protocolPieces("""fs.rename(new Path(p + "_old"), target)""") == 1)
    assert(protocolPieces("""write.parquet(s"${path}_staging")""") == 1)
    assert(protocolPieces("private[graft] def swapIn(fs: FileSystem, p: String): Unit = ()") == 1)
    assert(protocolPieces("def listComplete(fs: FileSystem, d: Path) = fs.listStatus(d)") == 1)
    assert(protocolPieces("""// p + "_old"
      |/** [[StagedDir.swapIn]] */
      |StagedDir.swapIn(fs, StagedDir.staging(p)); df.as("t_old")""".stripMargin) == 0)
  }

  /** Caching a frame by hand: a persist, unpersist or `cache()` call, or
    * a storage level.
    */
  private val HandCache = """\.\s*(?:persist|unpersist)\s*\(|\.\s*cache\s*\(\s*\)|\bStorageLevel\b""".r

  private def handCaches(code: String): Int =
    HandCache.findAllMatchIn(stripped(code)).size

  test("frames are persisted and unpersisted only in Memo") {
    val owners = mainSources.filter(kv => handCaches(kv._2) > 0).map(_._1)
    assert(owners == Seq("Memo"),
      s"a frame cached outside Memo's pins: $owners")
  }

  test("the cache scan catches a planted persist") {
    assert(handCaches("df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)") == 2)
    assert(handCaches("val c = df\n  .persist()\n  c.unpersist()") == 2)
    assert(handCaches("corpus.cache().count()") == 1)
    assert(handCaches("import org.apache.spark.storage.StorageLevel\nval l = StorageLevel.NONE") == 1)
    assert(handCaches("""// df.persist()
      |/** a `cache()`d frame, see [[Memo]]; `unpersist()` */
      |pins(df); cache.getOrBuild(k)(_ => 1); pins.release(df)""".stripMargin) == 0)
  }
}
