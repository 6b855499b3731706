package graft.rass.query

import java.net.http.HttpClient

import graft.rass.HttpJson

/** LLM-backed NER — the production implementation behind the [[Ner]]
  * seam, the counterpart of [[graft.rass.HttpEmbedder]] /
  * [[graft.rass.HttpGenerator]] for the one trait that previously had
  * only the rule implementation.
  *
  * Mirrors the reference's BlueHive NER (`app/main.py:2483-2528`):
  *   - transport: POST `{"prompt": ..., "systemMessage": ...}`, answer
  *     at `choices[0].message.content` (`main.py:283-312`);
  *   - prompt: strict-JSON system message demanding a bare JSON array
  *     of `{"text","label"}` objects (`main.py:2487-2503`), user turn
  *     framed `Sentence: "<query>"\nEntities:` (`main.py:2484`);
  *   - response hygiene (`main.py:2505-2514`), preserved exactly:
  *     fenced-block strip (```` ```json ````/```` ``` ```` markers
  *     removed), then — when the text doesn't already start with `[` —
  *     slice from the first `[` to the last `]` if both exist, else
  *     coerce to `[]`. Prose with no brackets therefore parses as a
  *     SUCCESSFUL empty extraction (the reference's rule 6 "return []
  *     for ambiguous queries" lands this way), not a failure;
  *   - label validation (`main.py:2520-2524`): keep only elements with
  *     both `text` and `label` where the label is an `ENTITY_FIELD_MAP`
  *     key. Reference quirk preserved: the system message ADVERTISES
  *     `PATIENT_ID` as a valid label (`main.py:2490`) but
  *     `ENTITY_FIELD_MAP` (`main.py:192-219`) has no such key, so
  *     PATIENT_ID entities are always filtered out — patient ids reach
  *     the engine through [[PatientResolver]]'s own extraction instead.
  *
  * Where the reference returns `[]` on a parse error (`main.py:2526-
  *  2528`, it has no other extractor — its BioBERT path is disabled),
  * this implementation degrades to the deterministic [[RuleNer]]
  * `fallback`: an unreachable or babbling model downgrades extraction
  * quality instead of silently extracting nothing.
  */
final class HttpNer(
    endpoint: String,
    fallback: Ner = new RuleNer(),
    maxRetries: Int = 3) extends Ner {

  @transient private lazy val client = HttpClient.newHttpClient()

  override def extract(query: String): Seq[Entity] =
    HttpJson.complete(client, endpoint, HttpNer.promptFor(query),
      HttpNer.SystemMessage, maxRetries)
      .flatMap(HttpNer.parseEntities).getOrElse(fallback.extract(query))
}

object HttpNer {

  /** `ENTITY_FIELD_MAP` keys (`app/main.py:192-219`): the repo splits
    * the reference map into [[EntityFilters.fieldMap]] (scalar fields)
    * plus the DATE → 6-column fan-out, so the valid-label set is the
    * union. PATIENT_ID is deliberately absent — see class doc.
    */
  val ValidLabels: Set[String] = EntityFilters.fieldMap.keySet + "DATE"

  /** The strict-JSON contract (`app/main.py:2487-2503`, condensed):
    * output shape, closed label set, query-only extraction, whole-span
    * boundaries, `[]` for no entities, no prose/markdown/reasoning.
    */
  val SystemMessage: String =
    "You are a named entity recognition assistant for a medical EHR " +
      "search engine. Return ONLY a JSON array where each element is " +
      "an object with 'text' (the entity span) and 'label' (its type); " +
      "example: [{\"text\": \"diabetes\", \"label\": \"CONDITION\"}]. " +
      "No markdown fences, no prefixes, no commentary. " +
      "Valid labels: " + (ValidLabels + "PATIENT_ID").toSeq.sorted.mkString(", ") + ". " +
      "Extract only from the query text itself, never from context or " +
      "outside knowledge. Keep multi-word entities as one whole span. " +
      "If no entities match, return exactly []. Output must be valid " +
      "JSON and nothing else."

  /** `NER_PROMPT_HEAD` + sentence framing (`app/main.py:2395-2408,2484`). */
  def promptFor(query: String): String =
    "Identify the medical entities in the sentence and answer with a " +
      "JSON array of {\"text\", \"label\"} objects.\n\n" +
      s"""Sentence: "$query"\nEntities:\n"""

  /** The reference's response-hygiene chain (`app/main.py:2507-2514`). */
  private[query] def sliceJsonArray(raw0: String): String = {
    val raw = raw0.replaceAll("```(?:json)?\n?", "").trim
    if (raw.startsWith("[")) raw
    else if (raw.contains("[") && raw.contains("]"))
      raw.substring(raw.indexOf('['), raw.lastIndexOf(']') + 1)
    else "[]"
  }

  /** None = unparseable (caller falls back); Some(empty) = the model
    * validly said "no entities" — the reference collapses both to `[]`
    * (`main.py:2526-2528`); the distinction is what lets this impl
    * degrade to the rule extractor only on genuine parse failure.
    */
  private[query] def parseEntities(raw: String): Option[Seq[Entity]] = {
    val sliced = sliceJsonArray(raw)
    try {
      val node = HttpJson.mapper.readTree(sliced)
      if (!node.isArray) None
      else Some((0 until node.size).flatMap { i =>
        val e = node.get(i)
        val t = e.path("text")
        val l = e.path("label")
        // elements missing text/label or carrying an unknown label are
        // silently dropped, not a parse failure (`main.py:2520-2524`)
        if (t.isTextual && l.isTextual && ValidLabels.contains(l.asText()))
          Some(Entity(t.asText(), l.asText()))
        else None
      })
    } catch { case _: Exception => None }
  }
}
