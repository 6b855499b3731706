package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: substring filter over query names — dev-time
    // single-query iteration; the driver's 2-arg invocation dumps all
    val (sfDir, outDir) = (args(0), args(1))
    val only = if (args.length > 2) Some(args(2)) else None
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // same between-group cache hygiene as Bench: memoized ingest
    // artifacts are shared within a suite-prefix group, released after,
    // so 59 queries' persisted tables never stack up in one session
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(kv._1.contains))
      .groupBy(_._1.takeWhile(_ != '_').takeWhile(!_.isDigit))
      .toSeq.sortBy(_._1).foreach { case (_, group) =>
        group.foreach { case (name, fn) =>
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
        Memo.invalidateAll()
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter(kv => only.forall(kv._1.contains))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
