package graft.rass.expressions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression,
  ExpressionInfo, XxHash64}

/** Spark-native extension point: install the engine's custom
  * expressions into any session via
  * `spark.sql.extensions=graft.rass.expressions.GraftExtensions`
  * (or `withExtensions` on the builder). This makes `cosine_sim`
  * available to plain SQL users, not just the Scala API's
  * `call_function` path.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
}

object GraftExtensions {

  /** The native functions, as (SQL name, expression class, builder).
    *
    * `bloom_might_contain` is Spark's own codegen bloom-membership
    * expression ([[BloomFilterMightContain]], the predicate behind
    * Spark's injected runtime filters, reachable in SQL only through
    * the optimizer), so the p09/p10 decontamination sweep's inner loop
    * stays inside whole-stage codegen instead of a boxed Scala UDF. Its
    * first argument is the SERIALIZED sketch
    * (`org.apache.spark.util.sketch.BloomFilter.writeTo` bytes, the
    * wire format `BloomFilterAggregate` produces) as a constant binary;
    * the second is the raw value column. It probes
    * `mightContainLong(xxhash64(value))`, so the sketch MUST have been
    * built over `xxhash64(value)` longs (seed 42, the SQL function's
    * default), not over the raw strings.
    */
  private[expressions] val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity], e => CosineSimilarity(e.head, e(1))),
    ("term_freq", classOf[TermFrequency], e => TermFrequency(e.head, e(1), e(2))),
    ("phrase_count", classOf[PhraseCount], e => PhraseCount(e.head, e(1), e(2))),
    ("dot_product", classOf[DotProduct], e => DotProduct(e.head, e(1))),
    ("bm25_field", classOf[Bm25Field], e => Bm25Field(e.head, e(1), e(2), e(3))),
    ("in_window", classOf[InWindow], e => InWindow(e.head, e(1))),
    ("bloom_might_contain", classOf[BloomFilterMightContain],
      e => BloomFilterMightContain(e.head, XxHash64(Seq(e(1)), 42L))))

  /** Register every native function the session's function registry
    * lacks, so it is callable via `call_function` / SQL. Idempotent: a
    * registered name is left alone, not replaced (a replacement logs a
    * warning, and the search paths call this once per query).
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, _, build) =>
      if (!registry.functionExists(new FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, build, "scala_udf")
    }
  }
}
