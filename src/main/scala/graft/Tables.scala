package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Io

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (see TESTDATA.md). Each table is one parquet file under
  * `<sfDir>/<name>.parquet`, read through [[Io.readParquet]]: its
  * schema comes from the file's footer on the driver, so loading a
  * table runs no Spark job. Scans stay declarative so Catalyst pushes
  * projections and filters into the parquet reader.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else Io.readParquet(spark, s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  /** `events.ts` ships as parquet TIMESTAMP(MICROS) not adjusted to UTC,
    * which Spark reads as TIMESTAMP_NTZ; it is cast to the session-tz
    * TimestampType so every downstream operator sees one type. That
    * cast keeps the wall-clock value only in a UTC session, so the
    * session must be UTC (the mains and the test session build theirs
    * that way); the caller's conf is never changed here. Oracle SQL
    * mirrors the cast via `make_timestamp(epoch_ns(ts)//1000)`, an
    * identity on micros.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    require(DateTimeUtils.getZoneId(tz).normalized() == java.time.ZoneOffset.UTC,
      s"Tables.events needs a UTC session (spark.sql.session.timeZone is $tz): " +
        "events.ts is a TIMESTAMP_NTZ, and casting it to TIMESTAMP keeps its " +
        "wall-clock value only under UTC")
    val raw = Io.readParquet(spark, s"$sfDir/events.parquet")
    val ts = raw.schema("ts").dataType match {
      case TimestampNTZType => col("ts").cast(TimestampType)
      case TimestampType    => col("ts")
      case other => throw new IllegalStateException(
        s"events.ts: expected TIMESTAMP_NTZ or TIMESTAMP, got $other")
    }
    raw.withColumn("ts", ts)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
