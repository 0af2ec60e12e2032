package graft.sources

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Source/sink surface (reference `io/csv.py`, `io/json.py:9-117`,
  * `io/orc.py:5-60`, `io/parquet.py:252-711`, `_collection.py:5092`).
  *
  * Thin by design: Spark's DataSource V2 readers already provide the
  * split computation, projection/filter pushdown and parallel writes
  * the reference hand-builds, so the engine surface is a stable facade
  * over `spark.read`/`df.write`. Explicit schemas are accepted for the
  * text formats, whose inference is an extra pass over the data. A
  * single parquet file needs none: [[readParquet]] takes its schema
  * from the file's footer on the driver, as dask-expr's `ReadParquet`
  * takes its meta from parquet metadata on the client, so building the
  * scan runs no Spark job.
  */
object Io {

  /** Parquet at `path`. A single file is read with the schema of its
    * footer ([[parquetSchema]]) declared; a directory, a glob or a
    * missing path goes to `spark.read.parquet`, which keeps Spark's
    * multi-file merge, partition discovery and `Path does not exist`
    * error (and runs its one-job schema inference). Nothing is memoized:
    * each call reads the footer afresh, so a rewritten file is read
    * with its new schema. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    parquetSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The schema Spark's inference gives the single parquet file at
    * `path`, read from its footer on the driver without a Spark job;
    * None for a directory, a glob, a missing or hidden path or a footer
    * that does not read (Spark's own reader then reports the error).
    * Mirrors `ParquetFileFormat.mergeSchemasInParallel` for one file:
    * the same footer reader, Spark's row-metadata schema when the
    * footer holds one, else the footer's parquet schema through the
    * converter that inference builds from the session confs
    * (`binaryAsString`, `int96AsTimestamp`, `inferTimestampNTZ`, …). */
  private[graft] def parquetSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    // a glob, or a name Spark's file listing hides, is left to Spark
    val file = if (path.exists("{}[]*?\\".contains(_)) ||
        p.getName.startsWith("_") || p.getName.startsWith(".")) None
      else Try(p.getFileSystem(conf).getFileStatus(p)).toOption.filter(_.isFile)
    file.flatMap { st =>
      val sql = spark.sessionState.conf
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = sql.isParquetBinaryAsString,
        assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
        inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
        nanosAsLong = sql.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation)
      Try(ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)).toOption
        .map(meta => ParquetFileFormat.readSchemaFromFooter(
          new Footer(st.getPath, meta), converter))
    }
  }

  def readCsv(spark: SparkSession, path: String, schema: StructType = null,
      header: Boolean = true): DataFrame = {
    val r = spark.read.option("header", header.toString)
    (if (schema != null) r.schema(schema) else r.option("inferSchema", "true")).csv(path)
  }

  def readJson(spark: SparkSession, path: String, schema: StructType = null): DataFrame = {
    val r = spark.read
    (if (schema != null) r.schema(schema) else r).json(path)
  }

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def readText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", header.toString).csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def writeText(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).text(path)

  /** XML source/sink (Spark 4 built-in data source; beyond the
    * reference's format list — rounds out the IO surface the same way
    * csv/json/orc do). `rowTag` names the per-record element. */
  def readXml(spark: SparkSession, path: String, rowTag: String,
      schema: StructType = null): DataFrame = {
    val r = spark.read.format("xml").option("rowTag", rowTag)
    (if (schema != null) r.schema(schema) else r).load(path)
  }

  def writeXml(df: DataFrame, path: String, rowTag: String): Unit =
    df.write.mode(SaveMode.Overwrite).format("xml")
      .option("rowTag", rowTag).save(path)

  /** Fixed-width reader (reference `_collection.py:5092-5150` read_fwf,
    * which delegates to the tabular text layer): one text scan + a
    * substring-and-trim projection per colspec. Split computation and
    * parallelism come from the text source; the width arithmetic is an
    * ordinary projection, so Catalyst prunes unused fields like any
    * other column. `colspecs` are pandas-style half-open 0-based
    * (name, start, end) character ranges; `schema` (by matching field
    * name) adds the type casts.
    */
  def readFwf(spark: SparkSession, path: String,
      colspecs: Seq[(String, Int, Int)], schema: StructType = null): DataFrame = {
    import org.apache.spark.sql.functions._
    val types = if (schema == null) Map.empty[String, org.apache.spark.sql.types.DataType]
      else schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = colspecs.map { case (name, start, end) =>
      val s = trim(substring(col("value"), start + 1, end - start))
      // blank field = null (pandas reads it as NaN; also writeFwf's null
      // sentinel) — and ANSI cast of "" would throw rather than null out
      types.get(name).map(t => nullif(s, lit("")).cast(t)).getOrElse(s).as(name)
    }
    spark.read.text(path).select(cols: _*)
  }

  /** Fixed-width writer (roundtrip companion to [[readFwf]]): each
    * column right-padded to its width and concatenated into one line.
    * Fails fast on values wider than their field — silent truncation
    * would corrupt the roundtrip. Null values write as the all-spaces
    * sentinel (fixed-width has no other null encoding); [[readFwf]]'s
    * trim + cast recovers null for typed columns, empty string for
    * untyped ones. */
  def writeFwf(df: DataFrame, path: String, widths: Seq[Int]): Unit = {
    import org.apache.spark.sql.functions._
    require(widths.length == df.columns.length,
      s"writeFwf: ${widths.length} widths for ${df.columns.length} columns")
    val padded = df.columns.zip(widths).map { case (c, w) =>
      val s = col(c).cast("string")
      val cell = when(length(s) > w, raise_error(
        concat(lit(s"writeFwf: value wider than $w in column $c: "), s)))
        .otherwise(rpad(s, w, " "))
      coalesce(cell, lit(" " * w))
    }
    df.select(concat(padded.toIndexedSeq: _*).as("value")).write
      .mode(SaveMode.Overwrite).text(path)
  }

  /** Generator-table source (reference io/io.py:218 FromMap) — see
    * [[graft.sources.MapSource]] for pushdown semantics. */
  def readMap(spark: SparkSession, rows: Long, partitions: Int): DataFrame =
    spark.read.format("graft.sources.MapSource")
      .option("rows", rows.toString)
      .option("partitions", partitions.toString)
      .load()

  /** JDBC source/sink (reference io/sql.py). Spark's JDBC relation
    * handles predicate pushdown and partitioned reads
    * (partitionColumn/lowerBound/upperBound for parallel scans at
    * scale); tested here against embedded Derby.
    */
  def readJdbc(spark: SparkSession, url: String, table: String): DataFrame =
    spark.read.format("jdbc").option("url", url).option("dbtable", table).load()

  def writeJdbc(df: DataFrame, url: String, table: String): Unit =
    df.write.format("jdbc").option("url", url).option("dbtable", table)
      .mode(SaveMode.Overwrite).save()
}
