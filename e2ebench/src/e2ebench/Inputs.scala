package e2ebench

import java.nio.charset.StandardCharsets

import graft.rass.query.{Intent, SyntheticQueries}

/** Seeded input generators. Everything the engine receives is made
  * here from the workload seed, with no Spark involved, so the same
  * seed yields byte-identical inputs ([[Inputs.digest]]) on any box.
  */
object Inputs {

  /** Rows of the two source tables the corpus derivation and the
    * release pipeline read (`documents`, `embeddings`), shaped like the
    * repo's sf test tables (TESTDATA.md): space-joined words from a
    * small vocabulary, 44 to ~580 characters, 20 sources, five
    * languages, unit vectors with a cluster label.
    */
  final case class Doc(docId: Long, text: String, lang: String, source: String)
  final case class Vec(vecId: Long, embedding: Array[Float], label: Int)
  final case class Tables(docs: IndexedSeq[Doc], vecs: IndexedSeq[Vec])

  /** Table sizes: those of the sf0.01 test tables. */
  val Docs = 500
  val Vecs = 500

  private val Vocab = IndexedSeq("batch", "part", "spark", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "a", "hash", "slow",
    "group", "agg", "filter", "query", "big", "key", "window", "row", "table",
    "stream", "merge", "data", "vector", "join", "customer", "the", "index",
    "page", "cache", "block", "shard", "node", "read", "write", "plan", "cost")
  private val Langs = IndexedSeq("en", "en", "en", "zh", "es", "fr", "de")

  def tables(seed: Long, nDocs: Int = Docs, nVecs: Int = Vecs,
      dim: Int = graft.rass.DocSchema.EmbedDim): Tables = {
    val rng = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1L)
    val docs = Array.newBuilder[Doc]
    val texts = scala.collection.mutable.ArrayBuffer[Array[String]]()
    for (id <- 0 until nDocs) {
      // every eighth doc is a lightly edited copy of an earlier one, so
      // the dedup and decontamination stages have real clusters to find
      val words =
        if (id % 8 == 7) {
          val w = texts(rng.nextInt(texts.size)).clone()
          w(rng.nextInt(w.length)) = Vocab(rng.nextInt(Vocab.size))
          w
        } else Array.fill(8 + rng.nextInt(80))(Vocab(rng.nextInt(Vocab.size)))
      texts += words
      docs += Doc(id.toLong, words.mkString(" "), Langs(rng.nextInt(Langs.size)),
        s"src${id % 20}")
    }
    val centers = Array.fill(10)(Array.fill(dim)(rng.nextDouble() * 2 - 1))
    val vecs = (0 until nVecs).map { id =>
      val label = rng.nextInt(centers.length)
      val raw = centers(label).map(_ + (rng.nextDouble() * 2 - 1) * 0.6)
      val n = math.sqrt(raw.map(x => x * x).sum)
      Vec(id.toLong, raw.map(x => (x / n).toFloat), label)
    }
    Tables(docs.result().toIndexedSeq, vecs)
  }

  // ------------------------------------------------------------ asks

  /** One question of the ask stream. `template` indexes
    * [[SyntheticQueries.Templates]]; `repeat` marks a text asked before.
    */
  final case class Ask(text: String, intent: Intent, template: Int,
      repeat: Boolean, chatId: String)

  val Chats = 4

  /** Asks per block: one per intent. */
  val Block: Int = Intent.all.size

  /** Asks of the warm-up: the half of the intents that block 1 repeats. */
  val WarmAsks: Int = Block / 2

  /** The ask stream. Block 0 is the warm-up: a fresh question for each
    * of the even-numbered intents of [[Intent.all]]. Every later block
    * asks each intent once, in [[Intent.all]]'s order, so a window of
    * whole blocks has the same intent mix and order on every seed; the
    * two halves of the intents (each mixing cheap and expensive ones)
    * take turns to repeat: in block b the intents of parity b+1 repeat
    * their latest fresh question word for word, the others ask a fresh
    * one. So every timed block is half repeats, and each pair of blocks
    * asks every intent once fresh and once repeated. An intent's n-th
    * fresh question fills its ⌊n/2⌋-th template (cycling): its first two
    * fresh questions, one in each block of the two-block timed window,
    * share a template, so the window's fresh and repeated halves, and
    * its two blocks, ask the same templates. The stream covers all 25
    * templates, and the templates a block uses are the same on every
    * seed: a seed that picked templates would change the window's cost
    * along with its inputs. The seed picks the slot values
    * and the chat of each ask (one of [[Chats]]).
    */
  def askStream(pools: SyntheticQueries.Pools, seed: Long, blocks: Int): IndexedSeq[Ask] = {
    val nt = SyntheticQueries.Templates.size
    val filled = SyntheticQueries.generate(pools, blocks * nt, seed)
    val rng = new scala.util.Random(seed ^ 0x5DEECE66DL)
    val templates = Intent.all.map(in =>
      SyntheticQueries.Templates.indices.filter(SyntheticQueries.Templates(_)._3 == in))
    val asked = Array.fill(Block)(Vector.empty[(String, Int)])
    (0 until blocks).flatMap { b =>
      val intents = Intent.all.indices.filter(k => b > 0 || k % 2 == 0)
      intents.map { k =>
        val chat = s"chat-${rng.nextInt(Chats)}"
        val earlier = asked(k)
        if (b > 0 && k % 2 == (b + 1) % 2) {
          val (text, t) = earlier.last
          Ask(text, Intent.all(k), t, repeat = true, chat)
        } else {
          val t = templates(k)(earlier.size / 2 % templates(k).size)
          val text = filled(b * nt + t).text
          asked(k) = earlier :+ (text -> t)
          Ask(text, Intent.all(k), t, repeat = false, chat)
        }
      }
    }
  }

  // ------------------------------------------------------------ uploads

  final case class File(name: String, bytes: Array[Byte])

  /** One upload request of at most five files. `newIds` are the doc ids
    * this request adds to the table (an edited re-upload replaces rows
    * and adds none); `probe` is a word only this request's note holds,
    * and `noteStem` the note's file stem, for the read-your-write ask.
    */
  final case class Upload(files: Seq[File], newIds: Set[String],
      probe: String, noteStem: String, replaces: Boolean) {
    def bytes: Long = files.map(_.bytes.length.toLong).sum
  }

  private val Conditions = IndexedSeq("asthma", "migraine", "anemia",
    "hypertension", "influenza", "bronchitis")
  private val Labs = IndexedSeq("glucose level", "heart rate",
    "blood pressure", "oxygen saturation")
  private val Given = IndexedSeq("ada", "ben", "cara", "dan", "eve", "finn",
    "gia", "hal")
  private val Family = IndexedSeq("north", "south", "east", "west", "hill",
    "vale")

  private def words(rng: scala.util.Random, n: Int): String =
    Seq.fill(n)(Vocab(rng.nextInt(Vocab.size))).mkString(" ")

  /** A Synthea-like bundle: Patient, Condition and Observation
    * resources, each with a `text.div` narrative (one chunk each). Its
    * doc ids are the structured row and narrative chunk of every
    * resource, which is what the parser emits for this shape.
    */
  private def bundle(pid: String, rng: scala.util.Random,
      edit: Int): (String, Set[String]) = {
    val cond = Conditions(rng.nextInt(Conditions.size))
    val lab = Labs(rng.nextInt(Labs.size))
    val name = s"${Given(rng.nextInt(Given.size))} ${Family(rng.nextInt(Family.size))}"
    val day = 1 + rng.nextInt(28)
    def div(s: String) = s""""text": {"div": "$s edit $edit ${words(rng, 12)}"}"""
    val resources = Seq(
      "Patient" -> s"""{"resourceType": "Patient", "id": "$pid", ${div("patient narrative")},
        |  "gender": "${if (rng.nextBoolean()) "female" else "male"}", "birthDate": "19${50 + rng.nextInt(49)}-0${1 + rng.nextInt(9)}-1$edit",
        |  "name": [{"family": "${name.split(' ')(1)}", "given": ["${name.split(' ')(0)}"]}]}""".stripMargin,
      "Condition" -> s"""{"resourceType": "Condition", "id": "$pid-c", ${div("condition narrative")},
        |  "subject": {"reference": "Patient/$pid"}, "code": {"text": "$cond"},
        |  "onsetDateTime": "2024-0${1 + rng.nextInt(9)}-${10 + day % 18}T08:00:00Z"}""".stripMargin,
      "Observation" -> s"""{"resourceType": "Observation", "id": "$pid-o", ${div("observation narrative")},
        |  "subject": {"reference": "Patient/$pid"}, "code": {"coding": [{"display": "$lab"}]},
        |  "valueQuantity": {"value": ${60 + rng.nextInt(80)}, "unit": "bpm"},
        |  "effectiveDateTime": "2024-1${rng.nextInt(3)}-${10 + day % 18}T09:00:00Z"}""".stripMargin)
    val json = resources.map(r => s"""{"resource": ${r._2}}""")
      .mkString("""{"resourceType": "Bundle", "type": "collection", "entry": [""", ", ", "]}")
    val ids = resources.flatMap { case (t, body) =>
      val rid = "\"id\": \"([^\"]+)\"".r.findFirstMatchIn(body).get.group(1)
      Seq(s"$t-$rid-structured", s"$t-$rid-unstructured-0")
    }.toSet
    (json, ids)
  }

  /** The upload stream. Every request holds one fresh bundle and a
    * `patient_<n>_note.md`; from the second request on, it also
    * re-uploads an edited copy of the previous request's bundle (same
    * resource ids), so the commit replaces rows and the stats merge
    * subtracts their old versions. The shape is the same on every seed,
    * so every seed's requests do the same work; the seed picks the
    * contents.
    */
  def uploadStream(seed: Long, n: Int): IndexedSeq[Upload] = {
    val rng = new scala.util.Random(seed * 31 + 7)
    (0 until n).map { r =>
      val pid = s"s${seed}r$r"
      val (json, ids) = bundle(pid, rng, 0)
      val fresh = File(s"bundle_$r.json", json.getBytes(StandardCharsets.UTF_8))
      val edited =
        if (r == 0) Nil
        else {
          val (json, _) = bundle(s"s${seed}r${r - 1}", rng, 1 + rng.nextInt(9))
          Seq(File(s"bundle_${r}_edit.json", json.getBytes(StandardCharsets.UTF_8)))
        }
      val patient = 100000 + r
      val probe = s"zq${seed.abs}x${r}k"
      val note = s"# Visit note\n\nPatient $patient seen today. Marker $probe. " +
        words(rng, 20 + rng.nextInt(40)) + "\n"
      val noteFile = File(s"patient_${patient}_note.md", note.getBytes(StandardCharsets.UTF_8))
      // the staged name carries an 8-hex content digest, which is part
      // of the text chunk's doc id; the check matches on the stem
      val noteStem = s"patient_${patient}_note_"
      Upload(fresh +: edited :+ noteFile, ids, probe, noteStem, replaces = r > 0)
    }
  }

  /** The read-your-write question for an upload: no intent cue, so it
    * routes to the default HYBRID search, whose fuzzy text match finds
    * the note by its probe word.
    */
  def probeQuestion(u: Upload): String = s"Notes mentioning ${u.probe}"

  // ------------------------------------------------------------ digest

  /** SHA-256 over a canonical byte rendering of a run's inputs. */
  def digest(t: Tables, asks: Seq[Ask], uploads: Seq[Upload]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = {
      md.update(s.getBytes(StandardCharsets.UTF_8)); md.update(0.toByte)
    }
    t.docs.foreach(d => put(s"${d.docId}|${d.text}|${d.lang}|${d.source}"))
    t.vecs.foreach { v =>
      put(s"${v.vecId}|${v.label}")
      v.embedding.foreach(f => put(java.lang.Float.floatToIntBits(f).toString))
    }
    asks.foreach(a => put(s"${a.text}|${a.intent}|${a.template}|${a.repeat}|${a.chatId}"))
    uploads.foreach { u =>
      u.files.foreach { f => put(f.name); md.update(f.bytes) }
      put(u.newIds.toSeq.sorted.mkString(",") + u.probe)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
