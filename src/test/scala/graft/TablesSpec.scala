package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Tables.load` takes its schema from one footer on the driver: the
  * schema equals Spark's inferred one, and loading runs no job.
  *
  * The events loader is the single seam between the driver's parquet and
  * every event query, batch twin, and streaming source. The driver's
  * generator has shipped `ts` three different ways across rounds —
  * TIMESTAMP(NANOS) (readable only as a long), TIMESTAMP_NTZ, and plain
  * TIMESTAMP — and a silent type flip broke all five event queries in
  * round 11. Pin the normalization: whatever the file carries, the
  * loaded frame exposes TimestampType with identical microsecond values.
  */
class TablesSpec extends SparkSpec {

  private val baseUs = 1704067200000000L // 2024-01-01T00:00:00Z in micros

  private def writeVariant(dir: String, tsCol: org.apache.spark.sql.Column): Unit = {
    import spark.implicits._
    Seq((1L, baseUs, 7L, "click", 1.5, "{}"),
      (2L, baseUs + 900000000L, 7L, "view", 2.5, "{}"))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .withColumn("ts", tsCol)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def loadedMicros(dir: String): (DataType, Seq[Long]) = {
    val ev = Tables.events(spark, dir)
    (ev.schema("ts").dataType,
      ev.orderBy("event_id").select(unix_micros(col("ts")))
        .collect().toSeq.map(_.getLong(0)))
  }

  test("events.ts normalizes to TimestampType from nanos-long, NTZ, and TZ parquet") {
    val root = Files.createTempDirectory("tables-events").toString
    // nanos-as-long: the historical TIMESTAMP(NANOS) encoding surfaces
    // as int64 nanoseconds once nanosAsLong is set
    writeVariant(s"$root/long", (col("ts_us") * 1000L).cast(LongType))
    // TIMESTAMP_NTZ: the round-11 generator's encoding
    writeVariant(s"$root/ntz", timestamp_micros(col("ts_us")).cast(TimestampNTZType))
    // plain TIMESTAMP: already the target type — must pass through
    writeVariant(s"$root/tz", timestamp_micros(col("ts_us")))
    val want = Seq(baseUs, baseUs + 900000000L)
    for (variant <- Seq("long", "ntz", "tz")) {
      val (dt, us) = loadedMicros(s"$root/$variant")
      assert(dt == TimestampType, s"$variant: loaded type $dt")
      assert(us == want, s"$variant: micros $us != $want")
    }
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** The test tables at sf0.001 and, beside them, sf0.01. */
  private def sfDirs = Seq(sfDir, new java.io.File(sfDir).getParent + "/sf0.01")
    .filter(d => new java.io.File(d).isDirectory)

  test("Tables.load's schema is the one spark.read.parquet infers, for every table") {
    assert(sfDirs.nonEmpty)
    val prev = spark.conf.getOption(NanosAsLong)
    try for (dir <- sfDirs; name <- Tables.allTables; nanos <- Seq("true", "false")
        if nanos == "true" || name == "events") {
      spark.conf.set(NanosAsLong, nanos)
      assert(Tables.load(spark, dir, name).schema ==
        spark.read.parquet(s"$dir/$name.parquet").schema, s"$dir/$name, nanosAsLong=$nanos")
    } finally prev.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
  }

  test("Tables.load runs no Spark job") {
    for (dir <- sfDirs; name <- Tables.allTables)
      assert(jobsDuring(Tables.load(spark, dir, name)).isEmpty, s"$dir/$name")
  }

  test("a directory's schema is read from its first data file") {
    val dir = Files.createTempDirectory("schemaOf").resolve("t").toString
    spark.range(3).selectExpr("id", "cast(id as string) as s").write.parquet(dir)
    assert(StagedDir.schemaOf(spark, dir) == spark.read.parquet(dir).schema)
  }
}
