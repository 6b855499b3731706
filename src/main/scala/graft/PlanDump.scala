package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump full `explain("formatted")` output for registered
  * queries to files (the optimization-round deliverable under
  * `plans/<round>/<query>_<tag>.txt`).
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> [queryName ...]
  * e.g.   runMain graft.PlanDump plans/r19 before d02_ngram_jaccard_pairs
  *
  * Runs at the bench's core count (`SPARK_GRAFT_CPUS`, default 4) and
  * session conf ([[GraftSession]]) so the dumped plan is the one the
  * bench executes (partition counts differ between machines only by
  * the env knobs, never by plan shape).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <tag> <query...>")
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2).toSeq
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      val p = java.nio.file.Paths.get(outDir, s"${name}_$tag.txt")
      java.nio.file.Files.write(p, plan.getBytes("UTF-8"))
      println(s"wrote $p")
    }
    spark.stop()
  }
}
