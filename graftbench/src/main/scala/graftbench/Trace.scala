package graftbench

import java.io.{BufferedWriter, FileWriter}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON object writer: enough for flat span records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x }.toSeq: _*)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same time base as Spark's listener event times. */
object Clock {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of this process, all threads, in ms. */
  def cpuMs(): Double = os.getProcessCpuTime / 1e6

  /** Time the machine's CPUs were taken away by the host (`steal` in
    * `/proc/stat`, all CPUs), in ms. */
  def stealMs(): Double = {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+")
    if (f.length > 8) f(8).toDouble * 10 else 0.0
  }
}

/** In-memory span recorder for the traced run. Listener callbacks only
  * append pre-rendered JSON lines; nothing is written until [[dump]].
  *
  * Span kinds: `job`, `stage`, `task` (SparkListener), `qe`
  * (QueryExecutionListener planning phases), `progress`
  * (StreamingQueryListener), and the driver's own `op`, `batch` and
  * `window` (traced part of the run) spans added through [[span]]. Jobs
  * carry the op and phase set around each call. Times are epoch ms.
  */
final class Trace {
  private val lines = new ConcurrentLinkedQueue[String]()

  def span(kind: String, fields: (String, Any)*): Unit =
    lines.add(Json.obj(("kind" -> kind) +: fields: _*))

  def size: Int = lines.size

  def dump(path: String): Unit = {
    val w = new BufferedWriter(new FileWriter(path))
    try lines.asScala.foreach { l => w.write(l); w.write('\n') }
    finally w.close()
  }

  private def prop(p: java.util.Properties, k: String): String =
    if (p == null) null else p.getProperty(k)

  val sparkListener: SparkListener = new SparkListener {
    private val jobT0 = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, String, Seq[Int])]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobT0.put(e.jobId, (e.time, prop(e.properties, Trace.OpKey),
        prop(e.properties, Trace.PhaseKey), e.stageIds))

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobT0.remove(e.jobId)).foreach { case (t0, op, phase, stages) =>
        span("job", "id" -> e.jobId, "t0" -> t0, "t1" -> e.time, "op" -> op,
          "phase" -> phase, "stages" -> stages,
          "ok" -> (e.jobResult == JobSucceeded))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      span("stage", "id" -> i.stageId, "attempt" -> i.attemptNumber(),
        "t0" -> i.submissionTime, "t1" -> i.completionTime,
        "tasks" -> i.numTasks, "skipped" -> i.submissionTime.isEmpty)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m == null) span("task", "stage" -> e.stageId, "t0" -> i.launchTime,
        "t1" -> i.finishTime, "ok" -> false)
      else {
        val sr = m.shuffleReadMetrics
        span("task", "stage" -> e.stageId, "t0" -> i.launchTime,
          "t1" -> i.finishTime, "ok" -> i.successful,
          "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
          "gc_ms" -> m.jvmGCTime, "deser_ms" -> m.executorDeserializeTime,
          "ser_ms" -> m.resultSerializationTime,
          "getres_ms" -> i.gettingResultTime,
          "result_bytes" -> m.resultSize,
          "in_bytes" -> m.inputMetrics.bytesRead,
          "in_rows" -> m.inputMetrics.recordsRead,
          "out_bytes" -> m.outputMetrics.bytesWritten,
          "out_rows" -> m.outputMetrics.recordsWritten,
          "sh_read_bytes" -> sr.totalBytesRead,
          "sh_read_rows" -> sr.recordsRead,
          "sh_fetch_ms" -> sr.fetchWaitTime,
          "sh_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "spill_mem" -> m.memoryBytesSpilled,
          "spill_disk" -> m.diskBytesSpilled)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
      val ph = qe.tracker.phases
      def d(name: String): Any = ph.get(name).map(_.durationMs).orNull
      def t(name: String): Any = ph.get(name).map(_.startTimeMs).orNull
      span("qe", "func" -> func, "ok" -> ok, "t0" -> t("analysis"),
        "analysis_ms" -> d("analysis"), "optimizer_ms" -> d("optimization"),
        "planning_ms" -> d("planning"))
    }
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      record(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe, ok = false)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val st = p.stateOperators
      span("progress", "query" -> p.name, "batch" -> p.batchId,
        "t0" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "trigger_ms" -> d.get("triggerExecution"),
        "add_batch_ms" -> d.get("addBatch"),
        "planning_ms" -> d.get("queryPlanning"),
        "wal_commit_ms" -> d.get("walCommit"),
        "commit_offsets_ms" -> d.get("commitOffsets"),
        "state_rows" -> st.map(_.numRowsTotal).sum,
        "state_mem_bytes" -> st.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> st.map(_.commitTimeMs).sum)
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }
}

object Trace {
  val OpKey = "graftbench.op"
  val PhaseKey = "graftbench.phase"
}
