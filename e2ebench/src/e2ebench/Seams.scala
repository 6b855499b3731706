package e2ebench

import java.util.concurrent.atomic.AtomicLong

import graft.rass.{ChatMessage, ChatStore, Embedder, Generator}
import graft.rass.query.{Entity, Intent, IntentClassifier, Ner}

/** Timing wrappers around the engine's injectable seams. Each records a
  * span named after the layer it times and otherwise delegates, so the
  * engine behaves exactly as with the wrapped implementation.
  */
object Seams {

  final class TracedNer(inner: Ner, t: Trace) extends Ner {
    override def extract(query: String): Seq[Entity] =
      t.span("query.ner")(inner.extract(query))
  }

  final class TracedIntent(inner: IntentClassifier, t: Trace) extends IntentClassifier {
    override def classify(query: String): Intent =
      t.span("query.intent")(inner.classify(query))
  }

  final class TracedEmbedder(inner: Embedder, t: Trace) extends Embedder {
    override def dim: Int = inner.dim
    override def embedBatch(texts: Seq[String]): Seq[Array[Float]] =
      t.span("rass.embed")(inner.embedBatch(texts))
  }

  /** Upload embeds inside Spark tasks, concurrently, so it is busy time
    * summed over tasks rather than a span on the op's thread. Tasks run
    * in this JVM (local mode), so a process-wide counter sees them.
    */
  val ingestEmbedNs = new AtomicLong()

  final class CountingEmbedder(inner: Embedder) extends Embedder {
    override def dim: Int = inner.dim
    override def embedBatch(texts: Seq[String]): Seq[Array[Float]] = {
      val t0 = System.nanoTime()
      try inner.embedBatch(texts)
      finally ingestEmbedNs.addAndGet(System.nanoTime() - t0)
    }
  }

  final class TracedGenerator(inner: Generator, t: Trace) extends Generator {
    override def generate(systemPrompt: String, context: String, query: String): String =
      t.span("rass.generate")(inner.generate(systemPrompt, context, query))
    override def generateStream(systemPrompt: String, context: String,
        query: String)(onToken: String => Unit): String =
      t.span("rass.generate")(inner.generateStream(systemPrompt, context, query)(onToken))
  }

  final class TracedChatStore(inner: ChatStore, t: Trace) extends ChatStore {
    override def append(m: ChatMessage): Unit = t.span("chat.append")(inner.append(m))
    override def history(chatId: String, n: Int): Seq[ChatMessage] =
      t.span("chat.history")(inner.history(chatId, n))
  }
}
