package graft

import org.apache.spark.scheduler.SparkListenerJobStart

import graft.operators.{Packing, TextDedup, TextQuality}

/** A library call leaves the caller's session conf alone: its jobs run
  * under the caller's SQL conf. */
class CallerStateSpec extends SparkSpec {

  /** Long ids, one exact-dup pair (1, 2) and one near-dup (1, 3), so
    * nearDuplicates takes its driver-expansion path. */
  private def docs = {
    import spark.implicits._
    val base = (0 until 30).map(i => s"w$i").mkString(" ")
    Seq(
      (1L, base),
      (2L, base),
      (3L, base + " extra"),
      (4L, (0 until 30).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "text")
  }

  test("operator jobs run under the caller's SQL conf") {
    import spark.implicits._
    // SQLExecution copies the session's explicitly set SQL confs into
    // each job's local properties, so a job that ran under a conf the
    // operator set for itself shows it there.
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val ops: Seq[(String, () => Unit)] = Seq(
      "nearDuplicates" -> (() =>
        TextDedup.nearDuplicates(docs, "doc_id", "text").collect()),
      "dupClusters" -> (() =>
        TextDedup.dupClusters(Seq((1L, 2L), (2L, 3L), (5L, 6L))
          .toDF("doc_a", "doc_b"), driverEdgeLimit = 0L).collect()),
      "packSequences" -> (() =>
        Packing.packSequences((0L until 40L).map(i => (i, i % 7))
          .toDF("id", "toks"), "id", "toks", 10L).collect()),
      "curriculumOrder" -> (() =>
        TextQuality.curriculumOrder((0L until 40L).map(i => (i, (i * 13) % 11))
          .toDF("id", "d"), "id", "d", stages = 3, batchRows = 8L).collect()))
    ops.foreach { case (name, run) =>
      val jobs = withEvents(run())._2.collect { case j: SparkListenerJobStart => j }
      assert(jobs.nonEmpty, s"$name ran no job")
      jobs.foreach { j =>
        def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        assert(!prop("spark.sql.adaptive.enabled").contains("false"),
          s"$name job ${j.jobId} ran with AQE off")
        assert(prop("spark.sql.shuffle.partitions").forall(_ == parts),
          s"$name job ${j.jobId} ran with shuffle partitions " +
            s"${prop("spark.sql.shuffle.partitions")}, session has $parts")
      }
    }
  }

  test("Tables.events leaves the session conf unchanged") {
    val before = spark.conf.getAll
    Tables.events(spark, sfDir).collect()
    assert(spark.conf.getAll == before)
  }

  test("Tables.events refuses a non-UTC session") {
    val key = "spark.sql.session.timeZone"
    val tz = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    val e = try intercept[IllegalArgumentException](Tables.events(spark, sfDir))
      finally spark.conf.set(key, tz)
    assert(e.getMessage.contains("Tables.events needs a UTC session"), e.getMessage)
    assert(e.getMessage.contains("America/New_York"), e.getMessage)
  }
}
