package graft.rass.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Spark-native extension point: install the engine's custom
  * expressions into any session via
  * `spark.sql.extensions=graft.rass.expressions.GraftExtensions`
  * (or `withExtensions` on the builder). This makes `cosine_sim`
  * available to plain SQL users, not just the Scala API's
  * `call_function` path.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      { exprs: Seq[Expression] => CosineSimilarity(exprs.head, exprs(1)) }))
    ext.injectFunction((
      new FunctionIdentifier("term_freq"),
      new ExpressionInfo(classOf[TermFrequency].getName, "term_freq"),
      { exprs: Seq[Expression] => TermFrequency(exprs.head, exprs(1), exprs(2)) }))
    ext.injectFunction((
      new FunctionIdentifier("phrase_count"),
      new ExpressionInfo(classOf[PhraseCount].getName, "phrase_count"),
      { exprs: Seq[Expression] => PhraseCount(exprs.head, exprs(1), exprs(2)) }))
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      { exprs: Seq[Expression] => DotProduct(exprs.head, exprs(1)) }))
    ext.injectFunction((
      new FunctionIdentifier("bm25_field"),
      new ExpressionInfo(classOf[Bm25Field].getName, "bm25_field"),
      { exprs: Seq[Expression] => Bm25Field(exprs.head, exprs(1), exprs(2), exprs(3)) }))
    ext.injectFunction((
      new FunctionIdentifier("in_window"),
      new ExpressionInfo(classOf[InWindow].getName, "in_window"),
      { exprs: Seq[Expression] => InWindow(exprs.head, exprs(1)) }))
  }
}
