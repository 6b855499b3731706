package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided test tables (TESTDATA.md).
  *
  * All tables are single parquet files under the sf-dir passed in.
  * At cluster scale these would be partitioned directories; the loader
  * is the single seam where that changes.
  */
object Tables {
  val starTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val allTables: Seq[String] =
    starTables ++ Seq("events", "documents", "embeddings")

  /** The table with the schema Spark would infer, read from its footer
    * on the driver ([[StagedDir.schemaOf]]), so loading runs no job.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(StagedDir.schemaOf(spark, path)).parquet(path)
  }

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  /** events.ts has shipped as TIMESTAMP(NANOS) (which Spark can only
    * read as a long), as TIMESTAMP_NTZ(MICROS), or as plain
    * TIMESTAMP(MICROS) depending on the generator version. Branch on
    * the decoded type and normalize every variant to TimestampType —
    * the type all downstream queries, twins, and specs were written
    * against: a long gets the same ns→µs truncation DuckDB applies; an
    * NTZ cast is micros-identity under the UTC session timezone both
    * Verify and Bench pin.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", raw("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
