package graft

import java.io.File

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.MetadataBuilder

import graft.sources.Io

/** Table reads take their schema from the parquet footer on the driver:
  * building a scan of a single file fires no Spark job, and the schema
  * is the one Spark's inference gives the same file. */
class TablesSpec extends SparkSpec {

  private val dir = new File(s"target/io/tables_spec_${System.nanoTime}").getAbsolutePath

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("every table loads with no job and the schema inference gives") {
    Tables.names.foreach { name =>
      val (df, jobs) = jobsOf(Tables.load(spark, sfDir, name))
      assert(jobs == 0, s"loading $name fired $jobs jobs")
      if (name != "events")
        assert(df.schema == spark.read.parquet(s"$sfDir/$name.parquet").schema, name)
    }
  }

  test("footer schema equals the inferred one for every shipped table file") {
    // every scale next to sfDir, and the tables graftbench ships
    val dirs = new File(sfDir).getParentFile.listFiles()
      .filter(_.getName.startsWith("sf")).toSeq :+ new File("graftbench/data/sf0.01")
    val files = dirs.filter(_.isDirectory)
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
    assert(files.nonEmpty)
    files.foreach { f =>
      assert(Io.parquetSchema(spark, f.getPath) ==
        Some(spark.read.parquet(f.getPath).schema), f.getPath)
    }
  }

  test("the footer schema follows the session's parquet conversion confs") {
    val path = s"$sfDir/events.parquet"
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val inferred = spark.read.parquet(path).schema
      assert(inferred("ts").dataType.typeName == "timestamp")
      assert(Io.parquetSchema(spark, path) == Some(inferred))
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val inferred = spark.read.parquet(path).schema
    assert(inferred("ts").dataType.typeName == "timestamp_ntz")
    assert(Io.parquetSchema(spark, path) == Some(inferred))
  }

  test("a Spark-written file reads back with the schema in its row metadata") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val commented = new MetadataBuilder().putString("comment", "kept").build()
    val src = Seq((1L, "a", 1.5, Seq(1, 2)), (2L, null, -2.0, Seq.empty[Int]))
      .toDF("id", "s", "d", "xs")
      .withColumn("st", struct(col("id").as("i"), col("s").as("t")))
      .withColumn("m", map(col("id").cast("string"), col("d")))
      .withColumn("ts", timestamp_micros(col("id") * 1000000L))
      .withColumn("dec", col("d").cast("decimal(12,3)"))
      .withColumn("s", col("s").as("s", commented))
    src.coalesce(1).write.parquet(s"$dir/spark_written")
    val file = new File(s"$dir/spark_written").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    val inferred = spark.read.parquet(file).schema
    // field metadata only survives through the row-metadata key
    assert(inferred("s").metadata == commented)
    val (df, jobs) = jobsOf(Io.readParquet(spark, file))
    assert(jobs == 0)
    assert(df.schema == inferred)
    assert(rows(df) == rows(spark.read.parquet(file)))
  }

  test("a directory, glob, missing, hidden or non-parquet path reads as spark.read.parquet does") {
    import java.nio.file.Files
    Tables.nation(spark, sfDir).write.parquet(s"$dir/nation_dir")
    Files.copy(new File(s"$sfDir/nation.parquet").toPath,
      new File(s"$dir/_hidden.parquet").toPath)
    Files.write(new File(s"$dir/not_parquet.parquet").toPath, "not parquet".getBytes)
    for (path <- Seq(s"$dir/nation_dir", s"$dir/nation_di?")) {
      assert(Io.parquetSchema(spark, path).isEmpty, path)
      val df = Io.readParquet(spark, path)
      assert(df.schema == spark.read.parquet(path).schema, path)
      assert(rows(df) == rows(spark.read.parquet(path)), path)
    }
    for (path <- Seq(s"$dir/missing.parquet", s"$dir/_hidden.parquet")) {
      assert(Io.parquetSchema(spark, path).isEmpty, path)
      def outcome(read: => DataFrame) =
        Try(rows(read)).toEither.left.map(e => (e.getClass, e.getMessage))
      val theirs = outcome(spark.read.parquet(path))
      assert(theirs.isLeft, path)
      assert(outcome(Io.readParquet(spark, path)) == theirs, path)
    }
    // the footer does not read, so Spark's inference reports the error
    val notParquet = s"$dir/not_parquet.parquet"
    assert(Io.parquetSchema(spark, notParquet).isEmpty)
    def failure(read: => DataFrame) = Try(read.collect()).failed.toOption.map(_.getClass)
    assert(failure(spark.read.parquet(notParquet)).isDefined)
    assert(failure(Io.readParquet(spark, notParquet)) == failure(spark.read.parquet(notParquet)))
  }

  test("a file rewritten between reads is read with its new schema") {
    import java.nio.file.{Files, StandardCopyOption}
    val path = s"$dir/rewritten.parquet"
    new File(dir).mkdirs()
    def copy(name: String) = Files.copy(new File(s"$sfDir/$name.parquet").toPath,
      new File(path).toPath, StandardCopyOption.REPLACE_EXISTING)
    copy("nation")
    assert(Io.readParquet(spark, path).schema == Tables.nation(spark, sfDir).schema)
    copy("region")
    assert(Io.readParquet(spark, path).schema == Tables.region(spark, sfDir).schema)
  }

  test("building a table query fires no job") {
    Seq("q1_pricing_summary", "q_join_inner", "q_merge_asof_backward").foreach { q =>
      spark.catalog.clearCache()
      val (_, jobs) = jobsOf(SparkEntry.queries(q)(spark, sfDir))
      assert(jobs == 0, s"$q fired $jobs jobs while building")
    }
  }

  test("building a Quantiles query fires one job") {
    Seq("q_quantiles", "q_describe", "q_cut_qcut").foreach { q =>
      spark.catalog.clearCache()
      val (_, jobs) = jobsOf(SparkEntry.queries(q)(spark, sfDir))
      assert(jobs == 1, s"$q fired $jobs jobs while building")
    }
  }
}
