package graft.rass.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `term_freq(tokens, terms, maxDist)` — how many tokens match one of
  * the terms, exactly (maxDist=0) or within Levenshtein distance
  * maxDist (`fuzziness: AUTO` support). Native codegen replacement for
  * `size(filter(tokens, t -> ...))`, whose lambda is interpreted per
  * token per term.
  *
  * `terms` is a literal: one string, or an `array<string>` set, so an
  * any-term match over a field is one call, not one per term. It is
  * read once into a [[TermSet]] that the generated code holds as a
  * reference object, so the generated class is the same whatever the
  * terms and however many there are.
  *
  * Exact-count semantics identical to the higher-order form (null
  * tokens skipped, "" can never match a non-empty term), so oracle
  * parity is untouched.
  */
case class TermFrequency(tokens: Expression, terms: Expression, maxDist: Expression)
    extends TernaryExpression {

  override def first: Expression = tokens
  override def second: Expression = terms
  override def third: Expression = maxDist

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (tokens.dataType, terms.dataType, maxDist.dataType) match {
      case (ArrayType(StringType, _), StringType | ArrayType(StringType, _), IntegerType)
          if terms.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"term_freq expects (array<string>, literal string or array<string>, int), got $other")
    }

  @transient private lazy val termSet = TermSet(terms.eval())

  override def nullSafeEval(toks: Any, t: Any, d: Any): Any =
    termSet.count(toks.asInstanceOf[ArrayData], d.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("terms", termSet, classOf[TermSet].getName)
    nullSafeCodeGen(ctx, ev, (toks, _, d) => s"${ev.value} = $k.count($toks, $d);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): TermFrequency =
    copy(tokens = newFirst, terms = newSecond, maxDist = newThird)

  override def prettyName: String = "term_freq"
}

/** The terms of a [[TermFrequency]]: a hash set for the exact count,
  * the terms themselves for the bounded-Levenshtein one.
  */
final class TermSet private (terms: Array[UTF8String]) extends Serializable {

  private val exact = new java.util.HashSet[UTF8String]()
  terms.foreach(exact.add)

  /** How many non-null tokens lie within `dist` edits of some term. */
  def count(toks: ArrayData, dist: Int): Long = {
    var cnt = 0L
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val tok = toks.getUTF8String(i)
        // bounded variant: length-prunes and band-limits the DP to
        // O(len*dist), returning -1 above the threshold — same
        // accept/reject set as `levenshteinDistance(term) <= dist`
        val hit =
          if (dist == 0) exact.contains(tok)
          else terms.exists(t => tok.levenshteinDistance(t, dist) >= 0)
        if (hit) cnt += 1
      }
      i += 1
    }
    cnt
  }
}

object TermSet {
  /** From the literal's value: a string, an array of strings, or null
    * (the expression is then null and the set never read).
    */
  def apply(value: Any): TermSet = new TermSet(value match {
    case s: UTF8String => Array(s.clone())
    case a: ArrayData =>
      (0 until a.numElements()).filterNot(a.isNullAt).map(i => a.getUTF8String(i).clone()).toArray
    case null => Array.empty
  })
}
