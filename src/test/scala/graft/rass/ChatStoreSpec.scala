package graft.rass

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Timestamp
import graft.SparkSpec

/** The parquet chat store's cost and file-format contract: an append
  * writes one part on the driver and runs no Spark job, a history read
  * is the one scan job whatever the part count, a part left hidden by a
  * killed append is never read and is cleared by the next append, and a
  * table mixing Spark-job-written and driver-written parts reads and
  * compacts to exactly what [[InMemoryChatStore]] holds.
  */
class ChatStoreSpec extends SparkSpec {

  private def table(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("messages").toString

  private def parts(path: String): Seq[String] =
    new File(path).listFiles.map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq

  private def at(ms: Long) = new Timestamp(1748736000000L + ms)

  test("append runs no Spark job; history runs exactly one at 1, 33 and 63 parts") {
    val path = table("chatjobs")
    val store = new ParquetChatStore(spark, path)
    var appended = 0
    for (target <- Seq(1, 33, 63)) {
      val appendJobs = jobsDuring {
        while (appended < target) {
          appended += 1
          store.append(ChatMessage("c", if (appended % 2 == 1) "user" else "assistant",
            s"m$appended", at(appended * 1000L)))
        }
      }.size
      assert(appendJobs == 0, s"appends up to $target parts ran $appendJobs Spark jobs")
      assert(parts(path).size == target)
      var h: Seq[ChatMessage] = Nil
      val historyJobs = jobsDuring { h = store.history("c") }.size
      assert(historyJobs == 1, s"history over $target parts ran $historyJobs Spark jobs")
      assert(h.map(_.content) == (math.max(1, target - 9) to target).map(i => s"m$i"))
    }
  }

  test("a hidden part left by a killed append is never read and is cleared by the next append") {
    val path = table("chatcrash")
    val store = new ParquetChatStore(spark, path, compactAfterFiles = 3)
    store.append(ChatMessage("c", "user", "q1", at(1000)))
    store.append(ChatMessage("c", "assistant", "a1", at(1000)))
    // a complete part that never got its rename, and a truncated one:
    // both shapes a kill mid-append can leave
    val side = table("chatside")
    new ParquetChatStore(spark, side).append(ChatMessage("c", "user", "ghost", at(500)))
    val dir = new File(path)
    Files.copy(new File(side, parts(side).head).toPath,
      new File(dir, "_append-part-00000-killed-c000.snappy.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING)
    Files.write(new File(dir, "_append-part-00000-torn-c000.snappy.parquet").toPath,
      "PAR1torn".getBytes("UTF-8"))
    assert(store.history("c").map(_.content) == Seq("q1", "a1"))
    // two live parts plus the third append make 3, not past the
    // threshold: the hidden parts are cleared first and never counted,
    // so no compaction runs and the appended part stands alone
    store.append(ChatMessage("c", "user", "q2", at(2000)))
    assert(!dir.list().exists(_.startsWith("_append-")), "recovery left a hidden part")
    assert(parts(path).size == 3 && parts(path).forall(_.startsWith("part-")),
      s"hidden parts were counted toward compaction: ${parts(path)}")
    assert(store.history("c").map(_.content) == Seq("q1", "a1", "q2"))
  }

  test("a table of Spark-written and driver-written parts reads and compacts like the in-memory store") {
    import spark.implicits._
    val path = table("chatmixed")
    val store = new ParquetChatStore(spark, path, compactAfterFiles = 12)
    val reference = new InMemoryChatStore
    val texts = Seq("plain", "naïve café — 東京 🩺", "line one\nline two\r\n",
      "she said \"stop\" and 'wait'", "back\\slash\ttab", "")
    // exchanges as ask() writes them: user then assistant, one timestamp
    val exchanges = for (i <- 0 until 9; chat <- Seq("c1", "c2")) yield {
      val ts = at(i * 1000L)
      Seq(ChatMessage(chat, "user", s"$chat q$i ${texts(i % texts.size)}", ts),
        ChatMessage(chat, "assistant", s"$chat a$i ${texts((i + 1) % texts.size)}", ts))
    }
    def check(stage: String): Unit =
      for (chat <- Seq("c1", "c2", "absent"); n <- Seq(1, 3, 10, 40))
        assert(store.history(chat, n) == reference.history(chat, n),
          s"$stage: history($chat, $n) differs from the in-memory store")
    // the first exchanges land the way the store used to write them,
    // one Spark write job per message; the rest go through the store
    val (old, current) = exchanges.splitAt(4)
    old.flatten.foreach { m =>
      Seq(m).toDF().write.mode("append").parquet(path)
      reference.append(m)
    }
    current.take(2).flatten.foreach { m => store.append(m); reference.append(m) }
    val mixed = parts(path)
    assert(mixed.size == 12)
    check("mixed parts")
    // the next append passes the threshold and compacts the mixed table
    current.drop(2).flatten.foreach { m => store.append(m); reference.append(m) }
    assert(parts(path).toSet.intersect(mixed.toSet).isEmpty,
      s"the mixed parts were never compacted: ${parts(path)}")
    check("after compaction")
  }
}
