package graft.rass

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector expressions over ArrayType columns — higher-order functions
  * only, so everything stays codegen'd and columnar; vectors are never
  * exploded per-dimension (SURVEY §7.4 / 100 TB rule).
  *
  * All folds are sequential left-folds in double precision: IEEE-754
  * then guarantees bit-identical results across engines and across
  * cluster re-runs (no reduction-order nondeterminism).
  */
object VectorOps {

  /** L2 norm with the reference's epsilon (`app/main.py:1249-1251`). */
  val NormEpsilon = 1e-9

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))

  /** v / (||v|| + 1e-9), elementwise (reference ingest+query normalize). */
  def l2Normalize(a: Column): Column = {
    val n = norm(a) + NormEpsilon
    transform(a, x => x / n)
  }

  /** Cosine similarity; callers widen float arrays to double first
    * (`col.cast("array<double>")`) — float->double is exact.
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Fused codegen cosine ([[graft.rass.expressions.CosineSimilarity]]):
    * bit-identical to [[cosine]], ~10-30x faster in scans. Registers the
    * expression in the session on first use.
    */
  def cosineFused(spark: org.apache.spark.sql.SparkSession,
      a: Column, b: Column): Column = {
    graft.rass.expressions.GraftExtensions.register(spark)
    call_function("cosine_sim", a, b)
  }
}
