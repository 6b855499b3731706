package graft.rass.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `phrase_count(tokens, phrase, prefix_last)` — greedy non-overlapping
  * count of the consecutive token subsequence `phrase` inside `tokens`;
  * with `prefix_last` the final phrase token only needs to be a prefix
  * of the matched token (OpenSearch `match_phrase_prefix`).
  *
  * Native codegen replacement for the padded-token-string +
  * double-`regexp_replace` length-difference trick
  * ([[graft.rass.Analyzer.phraseCount]]): that form re-tokenizes,
  * re-joins, and regex-scans every scored field per row — the dominant
  * cost of the exact-match / entity searches over ~50 fields. Count
  * semantics are identical (greedy left-to-right, a match consumes its
  * tokens, so `[a,a,a]` contains `[a,a]` once), which keeps the DuckDB
  * `replace()` oracle bit-exact.
  */
case class PhraseCount(tokens: Expression, phrase: Expression, prefixLast: Expression)
    extends TernaryExpression {

  override def first: Expression = tokens
  override def second: Expression = phrase
  override def third: Expression = prefixLast

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (tokens.dataType, phrase.dataType, prefixLast.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _), BooleanType) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"phrase_count expects (array<string>, array<string>, boolean), got $other")
    }

  override def nullSafeEval(toks: Any, ph: Any, pfx: Any): Any = {
    val arr = toks.asInstanceOf[ArrayData]
    val p = ph.asInstanceOf[ArrayData]
    val prefix = pfx.asInstanceOf[Boolean]
    val n = arr.numElements()
    val m = p.numElements()
    var cnt = 0L
    if (m > 0) {
      var i = 0
      while (i + m <= n) {
        var ok = true
        var j = 0
        while (ok && j < m) {
          if (arr.isNullAt(i + j) || p.isNullAt(j)) ok = false
          else {
            val tok = arr.getUTF8String(i + j)
            val pt = p.getUTF8String(j)
            val hit =
              if (prefix && j == m - 1) tok.startsWith(pt) else tok.equals(pt)
            if (!hit) ok = false
          }
          j += 1
        }
        if (ok) { cnt += 1L; i += m } else i += 1
      }
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (toks, ph, pfx) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val cnt = ctx.freshName("cnt")
      val ok = ctx.freshName("ok")
      val tok = ctx.freshName("tok")
      val pt = ctx.freshName("pt")
      val hit = ctx.freshName("hit")
      s"""
         |long $cnt = 0L;
         |int $n = $toks.numElements();
         |int $m = $ph.numElements();
         |if ($m > 0) {
         |  int $i = 0;
         |  while ($i + $m <= $n) {
         |    boolean $ok = true;
         |    for (int $j = 0; $ok && $j < $m; $j++) {
         |      if ($toks.isNullAt($i + $j) || $ph.isNullAt($j)) { $ok = false; break; }
         |      org.apache.spark.unsafe.types.UTF8String $tok = $toks.getUTF8String($i + $j);
         |      org.apache.spark.unsafe.types.UTF8String $pt = $ph.getUTF8String($j);
         |      boolean $hit = ($pfx && $j == $m - 1)
         |        ? $tok.startsWith($pt) : $tok.equals($pt);
         |      if (!$hit) $ok = false;
         |    }
         |    if ($ok) { $cnt++; $i += $m; } else { $i++; }
         |  }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): PhraseCount =
    copy(tokens = newFirst, phrase = newSecond, prefixLast = newThird)

  override def prettyName: String = "phrase_count"
}
