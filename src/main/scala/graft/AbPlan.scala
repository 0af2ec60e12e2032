package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** Plan/job-count probe for named registered queries (measurement
  * harness, guide §1.2/§7.2 evidence): for each query name, writes the
  * physical plan (`explain("formatted")`) to `<outDir>/<name>.txt` and
  * prints the number of Spark jobs, stages and tasks one noop-sink run
  * schedules — the constants the per-query wall clock is made of at
  * bench scale. Same session config as Bench (local[$SPARK_GRAFT_CPUS],
  * shuffle partitions = cpus, AQE on).
  *
  * Usage: AbPlan <sfDir> <outDir> <q1,q2,...> [reps]
  */
object AbPlan {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 3) args(3).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))

    val jobs = new AtomicInteger(0)
    val jobEnds = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobEnds.incrementAndGet()
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
      }
    })
    // Listener events are async: a fixed sleep undercounts heavy queries
    // (q_incremental_funnel schedules 45 jobs). Drain by completion —
    // every started job must report its end — with a bounded wait.
    def drainBus(): Unit = {
      val limit = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while (jobEnds.get < jobs.get && System.nanoTime() < limit)
        Thread.sleep(20)
      if (jobEnds.get < jobs.get)
        System.err.println(s"[abplan] WARNING: listener bus did not drain " +
          s"(ends=${jobEnds.get} < starts=${jobs.get}) - counts may be low")
    }

    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      // plan text from a fresh build (pre-execution AQE plan)
      val df = fn(spark, sfDir)
      Files.writeString(Paths.get(s"$outDir/$name.txt"),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      Pins.sweep(spark)
      // cold run (JIT/codegen), then counted+timed reps
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache(); Pins.sweep(spark)
      val ts = (1 to reps).map { _ =>
        drainBus() // flush the previous query's stragglers before zeroing
        jobs.set(0); jobEnds.set(0); stages.set(0); tasks.set(0)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache(); Pins.sweep(spark)
        drainBus()
        println(f"  $name%-28s rep ${t}%6.2f s  jobs=${jobs.get}%3d stages=${stages.get}%3d tasks=${tasks.get}%5d")
        t
      }
      println(f"$name%-30s min ${ts.min}%6.2f s  (plan -> $outDir/$name.txt)")
    }
    spark.stop()
  }
}
