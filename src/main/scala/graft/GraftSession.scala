package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession conf the bench, the Verify oracle dump,
  * the dev tools and the specs share — so the settings they must agree
  * on (shuffle partitions = cores, UTC session time zone) live in one
  * place. Callers set their own log level.
  */
object GraftSession {
  def local(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
