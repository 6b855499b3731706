package graft

import graft.rass.{ChatMessage, ParquetChatStore}

/** High-volume rename-race stress for the chat store's never-partial
  * contract. The 40-iteration EngineSpec race test catches gross
  * regressions; the silent-truncation listing bug this spec pinned
  * (RawLocalFileSystem.listStatus swallowing per-child FileNotFound
  * when the directory renames mid-stat, fixed by
  * [[graft.StagedDir.listComplete]]) reproduced roughly
  * once per ~900 reads — below that test's resolution — so this one
  * hammers 300 reads against a continuous flip. Every read must return
  * the whole conversation or degrade to empty; a subset is the bug.
  */
class RaceStressSpec extends SparkSpec {
  test("history never returns a partial conversation across 300 raced reads") {
    import java.nio.file.Files
    val path = Files.createTempDirectory("chatstress").resolve("messages").toString
    val store = new ParquetChatStore(spark, path)
    store.append(ChatMessage("c", "user", "hello", new java.sql.Timestamp(1748736000000L)))
    store.append(ChatMessage("c", "assistant", "hi", new java.sql.Timestamp(1748736001000L)))
    @volatile var stop = false
    val live = new java.io.File(path)
    val retired = new java.io.File(path + "_old")
    val flipper = new Thread(() => {
      while (!stop) {
        live.renameTo(retired); Thread.sleep(1)
        retired.renameTo(live); Thread.sleep(1)
      }
    })
    flipper.start()
    try (1 to 300).foreach { i =>
      val h = store.history("c", 10).map(_.content)
      assert(h.isEmpty || h == Seq("hello", "hi"),
        s"partial or corrupt read under rename race at iteration $i: $h")
    } finally { stop = true; flipper.join() }
    retired.renameTo(live)
    assert(store.history("c").map(_.content) == Seq("hello", "hi"))
  }
}
