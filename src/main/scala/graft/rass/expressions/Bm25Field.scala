package graft.rass.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `bm25_field(tokens, present, accept, params)` — one field's BM25
  * score for a whole query in one pass over the field's tokens: the
  * fused form of [[graft.rass.Bm25]]'s per-term formula, which as a
  * Catalyst tree was (terms x accepted variants) `term_freq` calls and
  * as many copies of the idf/saturation arithmetic per field.
  *
  *   - `tokens`: the field's token array;
  *   - `present`: the field is non-null (a null field scores 0.0);
  *   - `accept`: `array<array<string>>`, one set per query term — the
  *     exact term, its vocabulary typo variants, or (per-row fuzzy
  *     scan) the term alone;
  *   - `params`: `array<double>`, the field's avgdl, then one idf per
  *     term, then one edit distance per term: 0 counts tokens that are
  *     members of the term's set, d > 0 counts tokens within Levenshtein
  *     distance d of the set's one term (`fuzziness: AUTO`).
  *
  * `accept` and `params` must be literals: they are read once into a
  * [[Bm25Kernel]] that the generated code holds as a reference object,
  * so the generated class depends on the field list only, never on the
  * question's terms or statistics, and a new question hits the codegen
  * cache. Both the interpreted and the generated path score through the
  * same kernel, whose arithmetic is the Column formula's, operation for
  * operation (Bm25ParitySpec checks the bits).
  */
case class Bm25Field(tokens: Expression, present: Expression, accept: Expression,
    params: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(tokens, present, accept, params)
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (tokens.dataType, present.dataType, accept.dataType, params.dataType) match {
      case (ArrayType(StringType, _), BooleanType, ArrayType(ArrayType(StringType, _), _),
          ArrayType(DoubleType, _)) if accept.foldable && params.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          "bm25_field expects (array<string>, boolean, literal array<array<string>>, " +
            s"literal array<double>), got $other")
    }

  @transient private lazy val kernel = Bm25Kernel(
    accept.eval().asInstanceOf[ArrayData], params.eval().asInstanceOf[ArrayData])

  override def eval(input: InternalRow): Any = {
    val p = present.eval(input)
    if (p == null || !p.asInstanceOf[Boolean]) 0.0
    else {
      val toks = tokens.eval(input)
      if (toks == null || kernel.nullIdf) null
      else kernel.score(toks.asInstanceOf[ArrayData])
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("bm25", kernel, classOf[Bm25Kernel].getName)
    val p = present.genCode(ctx)
    val t = tokens.genCode(ctx)
    ev.copy(code =
      code"""
         |${p.code}
         |boolean ${ev.isNull} = false;
         |double ${ev.value} = 0.0;
         |if (!${p.isNull} && ${p.value}) {
         |  ${t.code}
         |  if (${t.isNull} || $k.nullIdf()) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $k.score(${t.value});
         |  }
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Bm25Field =
    copy(tokens = newChildren(0), present = newChildren(1),
      accept = newChildren(2), params = newChildren(3))

  override def prettyName: String = "bm25_field"
}

/** A query's scoring state for one field, read once from the literal
  * `accept` and `params` of [[Bm25Field]].
  */
final class Bm25Kernel private (sets: Array[Array[UTF8String]], dist: Array[Int],
    idf: Array[Double], avgdl: Option[Double], val nullIdf: Boolean) extends Serializable {

  import graft.rass.Bm25.{B, K1}

  private val nTerms = sets.length
  // the terms scored by a per-token edit-distance scan
  private val scanned = dist.indices.filter(dist(_) > 0).toArray
  // every other term counts set membership: accepted token -> the
  // terms whose set holds it (two query terms may share a variant)
  private val members: java.util.HashMap[UTF8String, Array[Int]] = {
    val m = new java.util.HashMap[UTF8String, Array[Int]]()
    for (i <- 0 until nTerms if dist(i) == 0; v <- sets(i).distinct)
      m.put(v, Option(m.get(v)).getOrElse(Array.empty[Int]) :+ i)
    m
  }
  private val k1Plus1 = K1 + 1
  // lnorm = CASE WHEN avgdl > 0 THEN dl / avgdl ELSE 0.0, and a null
  // avgdl (a field no document has) takes the ELSE
  private val normed = avgdl.exists(_ > 0)
  private val avgdlValue = avgdl.getOrElse(0.0)

  /** The field's score over a non-null token array. */
  def score(toks: ArrayData): Double = {
    val tf = new Array[Int](nTerms)
    val n = toks.numElements()
    var j = 0
    while (j < n) {
      if (!toks.isNullAt(j)) {
        val tok = toks.getUTF8String(j)
        val hit = members.get(tok)
        if (hit != null) {
          var h = 0
          while (h < hit.length) { tf(hit(h)) += 1; h += 1 }
        }
        var s = 0
        while (s < scanned.length) {
          val i = scanned(s)
          // bounded variant, as term_freq: -1 above the threshold
          if (tok.levenshteinDistance(sets(i)(0), dist(i)) >= 0) tf(i) += 1
          s += 1
        }
      }
      j += 1
    }
    // the Column formula's operation order, bit for bit: per term
    // idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * lnorm)), summed
    // left to right
    val lnorm = if (normed) n.toDouble / avgdlValue else 0.0
    var sum = 0.0
    var i = 0
    while (i < nTerms) {
      val t = tf(i).toDouble
      val term = idf(i) * (t * k1Plus1) / (t + K1 * (1.0 - B + B * lnorm))
      sum = if (i == 0) term else sum + term
      i += 1
    }
    sum
  }
}

object Bm25Kernel {
  def apply(accept: ArrayData, params: ArrayData): Bm25Kernel = {
    val nTerms = accept.numElements()
    require(params.numElements() == 1 + 2 * nTerms,
      s"bm25_field params hold avgdl, $nTerms idfs and $nTerms distances; " +
        s"got ${params.numElements()} values")
    val sets = Array.tabulate(nTerms) { i =>
      if (accept.isNullAt(i)) Array.empty[UTF8String]
      else {
        val s = accept.getArray(i)
        (0 until s.numElements()).filterNot(s.isNullAt)
          .map(j => s.getUTF8String(j).clone()).toArray
      }
    }
    val dist = Array.tabulate(nTerms)(i => params.getDouble(1 + nTerms + i).toInt)
    sets.indices.filter(dist(_) > 0).foreach(i => require(sets(i).length == 1,
      s"bm25_field: a scanned term's set holds the term alone, got ${sets(i).length}"))
    val nullIdf = (0 until nTerms).exists(i => params.isNullAt(1 + i))
    val idf = Array.tabulate(nTerms)(i =>
      if (params.isNullAt(1 + i)) 0.0 else params.getDouble(1 + i))
    val avgdl = if (params.isNullAt(0)) None else Some(params.getDouble(0))
    new Bm25Kernel(sets, dist, idf, avgdl, nullIdf)
  }
}

object Bm25Field {
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bm25_field",
      { exprs: Seq[Expression] => Bm25Field(exprs.head, exprs(1), exprs(2), exprs(3)) },
      "scala_udf")
}
