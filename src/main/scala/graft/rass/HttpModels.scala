package graft.rass

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import com.fasterxml.jackson.databind.ObjectMapper

/** HTTP implementations of the model seams — the production
  * counterparts of [[DeterministicEmbedder]] / [[StubGenerator]]
  * (SURVEY §7.3; the hermetic impls stay the default so tests and the
  * correctness gate never depend on a network).
  *
  * Both are Serializable with `@transient lazy` clients, so a closure
  * carrying one ships to executors and each executor builds its own
  * connection pool on first use. Per-partition calls run sequentially;
  * cluster-wide concurrency is the number of partitions — the Spark
  * analogue of the reference's asyncio semaphore of 5
  * (`app/main.py:243-254`).
  */
private[rass] object HttpJson {
  // one mapper per JVM: ObjectMapper is thread-safe after config
  lazy val mapper = new ObjectMapper()

  def post(client: HttpClient, url: String, body: String,
      maxRetries: Int): String = {
    var attempt = 0
    var lastErr: Exception = null
    while (attempt <= maxRetries) {
      try {
        if (attempt > 0) Thread.sleep(200L << (attempt - 1)) // 200/400/800ms
        val req = HttpRequest.newBuilder(URI.create(url))
          .timeout(Duration.ofSeconds(60))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body))
          .build()
        val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
        val code = resp.statusCode()
        if (code / 100 == 2) return resp.body()
        // 429 (rate limit) and 408 (request timeout) are transient and
        // retry like 5xx — honoring Retry-After when the server sends
        // one; any other 4xx is a caller bug retrying can't fix, and
        // hard-failing it fast keeps a misconfigured ingest from
        // burning the whole retry budget per row.
        if (code / 100 == 4 && code != 429 && code != 408)
          throw new IllegalArgumentException(
            s"$url rejected request ($code): ${resp.body()}")
        // Retry-After is honored only when another attempt will follow:
        // sleeping up to 30 s on the FINAL attempt would only delay the
        // failure it can no longer avert
        if ((code == 429 || code == 408) && attempt < maxRetries)
          resp.headers().firstValue("Retry-After").ifPresent { v =>
            v.toLongOption.filter(s => s >= 0 && s <= 30)
              .foreach(s => Thread.sleep(s * 1000L))
          }
        lastErr = new RuntimeException(s"$url returned $code")
      } catch {
        case e: IllegalArgumentException => throw e
        case e: InterruptedException =>
          // cancellation, not a transient fault: restore the interrupt
          // flag (sleep/send cleared it) and abort the retry loop so a
          // task kill doesn't burn the remaining backoff budget
          Thread.currentThread().interrupt()
          throw new RuntimeException(s"$url interrupted during retry", e)
        case e: Exception => lastErr = e
      }
      attempt += 1
    }
    throw new RuntimeException(
      s"$url failed after ${maxRetries + 1} attempts", lastErr)
  }

  /** One BlueHive-style completion (reference `app/main.py:283-312`):
    * POST `{"prompt","systemMessage"}` and read the answer at
    * `choices[0].message.content`. None when the call fails, so the
    * caller falls back to its rule implementation — but not on an
    * interrupt: [[post]] restores the flag before wrapping an
    * InterruptedException, and a task kill must propagate.
    */
  def complete(client: HttpClient, url: String, prompt: String,
      systemMessage: String, maxRetries: Int): Option[String] =
    try {
      val body = mapper.createObjectNode()
      body.put("prompt", prompt)
      body.put("systemMessage", systemMessage)
      val resp = mapper.readTree(post(client, url, mapper.writeValueAsString(body), maxRetries))
      Some(resp.path("choices").path(0).path("message").path("content").asText(""))
    } catch {
      case e: Exception if !Thread.currentThread().isInterrupted => None
    }
}

/** Ollama-style embedding endpoint (reference `app/main.py:225-263`):
  * one POST per text — `{"model": m, "prompt": text}` to
  * `/api/embeddings`, response `{"embedding": [..]}` — with the
  * reference's semantics preserved: empty/blank text short-circuits to
  * a zero vector without a network call (`main.py:227-228`), and the
  * batch shape comes from [[Embedder.embedColumn]]'s
  * mapPartitions-of-64 exactly like the deterministic impl.
  */
final class HttpEmbedder(endpoint: String, model: String,
    val dim: Int = DocSchema.EmbedDim,
    maxRetries: Int = 3) extends Embedder {

  @transient private lazy val client = HttpClient.newHttpClient()

  override def embedBatch(texts: Seq[String]): Seq[Array[Float]] =
    texts.map { t =>
      if (t == null || t.trim.isEmpty) new Array[Float](dim) else embedOne(t)
    }

  private def embedOne(text: String): Array[Float] = {
    val m = HttpJson.mapper
    val body = m.createObjectNode()
    body.put("model", model)
    body.put("prompt", text)
    val resp = m.readTree(HttpJson.post(client, endpoint,
      m.writeValueAsString(body), maxRetries))
    val emb = resp.get("embedding")
    require(emb != null && emb.isArray && emb.size() == dim,
      s"embedding endpoint returned ${if (emb == null) "no" else emb.size().toString} dims, expected $dim")
    Array.tabulate(dim)(i => emb.get(i).floatValue())
  }
}

/** OpenAI-style chat-completions generator (reference
  * `app/main.py:283-331`: BlueHive completion with a citation-enforcing
  * system prompt): POST `{"model", "messages": [system, user]}`,
  * answer at `choices[0].message.content`. The user turn carries the
  * assembled context block then the question, mirroring the
  * reference's prompt layout (`main.py:2924-2942`).
  */
final class HttpGenerator(endpoint: String, model: String,
    maxRetries: Int = 3, streamIdleSeconds: Int = 60) extends Generator {

  @transient private lazy val client = HttpClient.newHttpClient()

  override def generate(systemPrompt: String, context: String,
      query: String): String = {
    val m = HttpJson.mapper
    val body = m.createObjectNode()
    body.put("model", model)
    val msgs = body.putArray("messages")
    val sys = msgs.addObject()
    sys.put("role", "system"); sys.put("content", systemPrompt)
    val usr = msgs.addObject()
    usr.put("role", "user")
    usr.put("content", s"Context:\n$context\n\nQuestion: $query")
    val resp = m.readTree(HttpJson.post(client, endpoint,
      m.writeValueAsString(body), maxRetries))
    val content = resp.path("choices").path(0).path("message").path("content")
    require(!content.isMissingNode, "completion response had no choices[0].message.content")
    content.asText()
  }

  /** True token streaming over SSE (reference `app/main.py:3021-3051`:
    * `stream=True`, deltas at `choices[0].delta.content`). Each delta
    * is pushed to onToken as its `data:` line arrives. No retry — the
    * non-streaming path's retry loop would DUPLICATE tokens already
    * delivered to the consumer; and mirroring the reference
    * (`main.py:3048-3051`), a mid-stream failure is yielded INTO the
    * stream as an `[ERROR] ...` chunk rather than thrown, so the
    * consumer's socket sees the failure in-band.
    */
  override def generateStream(systemPrompt: String, context: String,
      query: String)(onToken: String => Unit): String = {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong, AtomicReference}
    val m = HttpJson.mapper
    val body = m.createObjectNode()
    body.put("model", model)
    body.put("stream", true)
    val msgs = body.putArray("messages")
    val sys = msgs.addObject()
    sys.put("role", "system"); sys.put("content", systemPrompt)
    val usr = msgs.addObject()
    usr.put("role", "user")
    usr.put("content", s"Context:\n$context\n\nQuestion: $query")
    // appended by the drain thread, snapshotted by the task thread —
    // every touch goes through sb.synchronized
    val sb = new StringBuilder
    // single-winner terminal state: natural EOF (drain), stall
    // (watchdog), and drain failure race for ONE CAS out of Running, so
    // a late watchdog tick can never relabel an already-completed
    // stream as stalled (and a stall can't be masked by the unwinding
    // drain's exception)
    val Running = 0; val Eof = 1; val Stalled = 2; val Failed = 3
    val state = new AtomicInteger(Running)
    val stalledAfter = new AtomicLong(0L)
    val failure = new AtomicReference[Throwable](null)
    val abandoned = new AtomicBoolean(false)
    @volatile var streamRef: AutoCloseable = null
    try {
      val req = HttpRequest.newBuilder(URI.create(endpoint))
        .timeout(Duration.ofSeconds(300))
        .header("Content-Type", "application/json")
        .header("Accept", "text/event-stream")
        .POST(HttpRequest.BodyPublishers.ofString(m.writeValueAsString(body)))
        .build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofLines())
      if (resp.statusCode() / 100 != 2) {
        // release the rejected exchange's body before surfacing the
        // status — the error path must not leak the connection
        try resp.body().close() catch { case _: Exception => () }
        throw new RuntimeException(s"$endpoint returned ${resp.statusCode()}")
      }
      // HttpRequest.timeout only bounds the exchange until response
      // HEADERS arrive; a server that stalls mid-body without closing
      // would block the line drain forever. An idle watchdog bounds the
      // gap between lines: on expiry it CLOSES the stream — per the
      // HttpResponse.BodyHandlers.ofLines contract, closing the stream
      // cancels the underlying subscription, which terminates the
      // blocked drain (normally or exceptionally). Nothing ever
      // interrupts the drain: the JDK body drain parks in a queue take
      // that SWALLOWS interrupts (flag cleared, still blocked), which
      // is exactly why the drain runs on its own daemon thread below —
      // the Spark task thread waits on a latch, where an interrupt (a
      // genuine task kill) is always delivered, and propagates.
      val stream = resp.body()
      streamRef = stream
      // lastLine is written BEFORE firstLine in the drain loop, so a
      // watchdog tick can never pair the shrunk post-first-token
      // budget with the stale stream-start timestamp
      val firstLine = new AtomicBoolean(false)
      val lastLine = new AtomicLong(System.nanoTime())
      val done = new CountDownLatch(1)
      val watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
        val t = new Thread(r, "sse-idle-watchdog"); t.setDaemon(true); t
      }
      watchdog.scheduleAtFixedRate({ () =>
        // the FIRST token gets the request-timeout budget (prefill on a
        // slow backend can take minutes before any delta); the idle
        // bound applies between tokens once the stream is flowing
        val budget =
          if (firstLine.get()) streamIdleSeconds.toLong
          else math.max(streamIdleSeconds.toLong, 300L)
        if (state.get() == Running &&
            System.nanoTime() - lastLine.get() > budget * 1000000000L &&
            state.compareAndSet(Running, Stalled)) {
          stalledAfter.set(budget)
          try stream.close() catch { case _: Exception => () }
        }
      }: Runnable, 1000, 250, TimeUnit.MILLISECONDS)
      val drain = new Thread(() => {
        try {
          stream.forEach { line =>
            if (abandoned.get()) throw new HttpGenerator.AbandonedStream
            lastLine.set(System.nanoTime())
            firstLine.set(true)
            if (line.startsWith("data:")) {
              val payload = line.drop(5).trim
              if (payload.nonEmpty && payload != "[DONE]") {
                val tok = m.readTree(payload)
                  .path("choices").path(0).path("delta").path("content")
                if (tok.isTextual && tok.asText().nonEmpty) {
                  sb.synchronized { sb.append(tok.asText()) }
                  onToken(tok.asText())
                }
              }
            }
          }
          state.compareAndSet(Running, Eof)
        } catch {
          case _: HttpGenerator.AbandonedStream => ()
          case e: Throwable =>
            // set the cause BEFORE the CAS: a reader of state=Failed
            // always sees it. If the CAS loses (watchdog close already
            // recorded the stall), the unwind exception is just the
            // closed stream surfacing — the stall stands.
            failure.set(e)
            state.compareAndSet(Running, Failed)
        } finally {
          // forEach does NOT auto-close at EOF or on a parse failure —
          // without this, a mid-stream Failed exit leaks the connection
          // with body bytes still pending
          try stream.close() catch { case _: Exception => () }
          done.countDown()
        }
      }, "sse-drain")
      drain.setDaemon(true)
      drain.start()
      try {
        // interruptible wait for the drain. Once a terminal state is
        // recorded the closed stream unblocks a queue-parked drain
        // almost immediately; the one thing close() cannot free is a
        // drain stuck inside the CONSUMER's onToken callback — after a
        // bounded grace, abandon the daemon drain thread (it delivers
        // nothing further) instead of hanging the Spark task on a
        // consumer that stopped reading.
        var waiting = true
        while (waiting && !done.await(250, TimeUnit.MILLISECONDS)) {
          if (state.get() != Running) {
            if (!done.await(5, TimeUnit.SECONDS)) abandoned.set(true)
            waiting = false
          }
        }
      } finally watchdog.shutdownNow()
      // when the grace expired because the CONSUMER's callback is the
      // stuck thing (abandoned), pushing the error chunk through that
      // same callback would re-block the task thread on it — append to
      // the returned answer only; a consumer that stopped consuming
      // gets the error from the return value, not a push it can't take
      // ...and a callback that already threw once (state=Failed via
      // the drain) may well throw again on this terminal delivery —
      // the error text is ALREADY in the returned answer, so a second
      // throw here must not escape generateStream (the Generator
      // contract returns in-band errors, it doesn't propagate
      // callback exceptions).
      // ...but a cancellation signaled THROUGH the callback must not be
      // lost: re-assert the interrupt flag before swallowing, matching
      // HttpJson.post's discipline, so the caller still observes it
      val deliver: String => Unit =
        if (abandoned.get()) _ => ()
        else s => try onToken(s) catch {
          case _: InterruptedException => Thread.currentThread().interrupt()
          case _: Exception => ()
        }
      state.get() match {
        case Stalled =>
          val err = s"[ERROR] stream stalled: no data for ${stalledAfter.get()}s"
          sb.synchronized { sb.append(err) }
          deliver(err)
        case Failed =>
          val err = s"[ERROR] ${failure.get().getMessage}"
          sb.synchronized { sb.append(err) }
          deliver(err)
        case _ => ()
      }
    } catch {
      // only the task thread's own blocking calls (connect, latch
      // wait) throw here — drain-side failures are recorded in `state`
      // — so an InterruptedException is always a genuine cancellation
      // (Spark task kill): stop the drain, restore the flag, propagate
      // rather than degrade into an in-band [ERROR] chunk.
      case e: InterruptedException =>
        abandoned.set(true)
        try if (streamRef != null) streamRef.close()
        catch { case _: Exception => () }
        Thread.currentThread().interrupt()
        throw new RuntimeException(s"$endpoint interrupted mid-stream", e)
      case e: Exception =>
        val err = s"[ERROR] ${e.getMessage}"
        sb.synchronized { sb.append(err) }
        try onToken(err) catch {
          case _: InterruptedException => Thread.currentThread().interrupt()
          case _: Exception => ()
        }
    }
    sb.synchronized { sb.result() }.trim
  }
}

object HttpGenerator {
  /** Control-flow signal that breaks the SSE drain's forEach once the
    * task thread has abandoned the stream — never user-visible.
    */
  private final class AbandonedStream extends RuntimeException
}
