package graft.rass.query

import java.net.http.HttpClient

import graft.rass.HttpJson

/** LLM-backed intent classification — the production implementation
  * behind the [[IntentClassifier]] seam, completing the model-seam
  * symmetry after [[HttpNer]]: every pluggable trait now has both a
  * deterministic rule implementation and an HTTP model one.
  *
  * The reference classifies intent with an IN-PROCESS zero-shot
  * BART-MNLI model (`app/main.py:135-139`, `2613-2634`): one entailment
  * hypothesis per `INTENT_CATEGORIES` label, argmax over the entailment
  * logits. There is no HTTP transport to mirror — so this impl reuses
  * [[HttpNer]]'s transport and output discipline instead of inventing
  * one: POST `{"prompt","systemMessage"}`, answer at
  * `choices[0].message.content`, a strict-output system message over
  * the closed 12-label set, and response hygiene that accepts a label
  * only when the model named EXACTLY ONE of them.
  *
  * Hygiene contract ([[HttpIntent.parseLabel]]): strip markdown fences,
  * uppercase, then find whole-word occurrences of valid label names
  * (underscore is a word character, so `HYBRID` never matches inside
  * `HYBRID_STRUCTURED`). Exactly one distinct label → that intent; zero
  * or several (a babbling model enumerating options) → parse failure →
  * the deterministic `fallback` classifies instead. Unlike the
  * reference — which argmaxes and therefore ALWAYS produces some label
  * — a failed parse here degrades to [[RuleIntentClassifier]], never to
  * a coin flip; the engine-side unknown-name fallback to HYBRID
  * (`main.py:2871`, [[Intent.fromName]]) is unreachable from this
  * classifier because only valid names parse.
  */
final class HttpIntent(
    endpoint: String,
    fallback: IntentClassifier = RuleIntentClassifier,
    maxRetries: Int = 3) extends IntentClassifier {

  @transient private lazy val client = HttpClient.newHttpClient()

  override def classify(query: String): Intent =
    HttpJson.complete(client, endpoint, HttpIntent.promptFor(query),
      HttpIntent.SystemMessage, maxRetries)
      .flatMap(HttpIntent.parseLabel).getOrElse(fallback.classify(query))
}

object HttpIntent {

  /** The closed label set — `INTENT_CATEGORIES` (`app/main.py:
    * 2174-2187`), i.e. [[Intent.all]] by name.
    */
  val ValidLabels: Seq[String] = Intent.all.map(_.name)

  /** Strict-output contract, [[HttpNer.SystemMessage]]'s discipline
    * applied to classification: one label, bare, nothing else.
    */
  val SystemMessage: String =
    "You are an intent classifier for a medical EHR search engine. " +
      "Classify the user query into exactly one of these intents: " +
      ValidLabels.mkString(", ") + ". " +
      "Respond with ONLY the single intent label, exactly as written " +
      "above — no markdown, no punctuation, no explanation, no other " +
      "words."

  def promptFor(query: String): String =
    s"""Query: "$query"\nIntent:"""

  private val LabelRe =
    ("\\b(" + ValidLabels.mkString("|") + ")\\b").r

  /** None = the response did not name exactly one valid label (caller
    * falls back); Some(intent) = an unambiguous classification. Case-
    * insensitive via uppercasing; fenced blocks stripped like
    * [[HttpNer.sliceJsonArray]]'s first step.
    */
  private[query] def parseLabel(raw0: String): Option[Intent] = {
    val raw = raw0.replaceAll("```(?:json)?\n?", "")
      .toUpperCase(java.util.Locale.ROOT)
    val found = LabelRe.findAllMatchIn(raw).map(_.group(1)).toSeq.distinct
    found match {
      case Seq(one) => Intent.all.find(_.name == one)
      case _ => None
    }
  }
}
