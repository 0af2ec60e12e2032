package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Pins, SparkEntry}

/** JVM side of the benchmark: one process, one `local[cores]` session.
  *
  * {{{
  * Main --workload api_sf001|corpus_zipf --data DIR --work DIR
  *      --queries q1,q2,... --warm N --seconds S --max-passes N
  *      --trace 0|1 --cores N
  * }}}
  *
  * Inputs are read from `--data` (the test tables, or what `gen.py`
  * wrote); everything the run produces goes under `--work`: `result.json`
  * (raw timings, output-check verdicts, environment stamp), `check/` (one
  * parquet dir per query from the cold pass, compared against the DuckDB
  * oracle afterwards) and, with `--trace 1`, `spans.jsonl`. `run.py` and
  * `stats.py` derive every statistic from these files. The op name
  * [[FrontDoor.Name]] in `--queries` is the streaming op, not a query.
  *
  * With `--trace 1`, [[Trace]]'s listeners are registered on every other
  * timed pass, so the traced and untraced passes give the tracing overhead.
  */
object Main {
  private val processT0 = Clock.ms()

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val cores = args("cores").toInt
    val work = Paths.get(args("work"))
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Clock.ms() - processT0) / 1000
    val run = new Run(spark, args, work)
    val body = try run.closedLoop() finally spark.stop()
    val env = Seq(
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "session_s" -> sessionS,
      "peak_rss_mb" -> vmHwmMb())
    Files.writeString(work.resolve("result.json"), Json.obj(env ++ body: _*))
  }

  /** Peak resident set of this process (`VmHWM`), in MiB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}

/** JVM-wide counters read at the edges of a measured window. */
final class JvmWindow {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private def gcMs = gcs.map(_.getCollectionTime.max(0L)).sum
  private val gc0 = gcMs
  heap.foreach(_.resetPeakUsage())

  def fields: Seq[(String, Any)] = Seq(
    "gc_s" -> (gcMs - gc0) / 1000.0,
    "heap_peak_mb" -> heap.map(_.getPeakUsage.getUsed).sum / 1048576.0)
}

object JvmWindow {
  /** Heap still reachable after full collections: what the session holds
    * on to (caches, pins, state, broadcast indexes), in MiB. Spark's
    * ContextCleaner frees the blocks of collected broadcasts and shuffles
    * asynchronously, so collect until the heap stops shrinking. */
  def liveHeapMb(): Double = {
    def used = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var last = used
    var next = last
    var rounds = 0
    do {
      last = next
      Thread.sleep(500)
      next = used
      rounds += 1
    } while (next < last * 0.99 && rounds < 10)
    next / 1048576.0
  }
}

final class Run(spark: SparkSession, args: Map[String, String], work: Path) {
  private val sc = spark.sparkContext
  private val data = args("data")
  private val traced = args("trace") == "1"

  /** Runs `body` as one named operation: the op and phase go into the
    * thread's local properties so every job it fires is attributed. */
  private def phase[T](op: String, ph: String)(body: => T): T = {
    sc.setLocalProperty(Trace.OpKey, op)
    sc.setLocalProperty(Trace.PhaseKey, ph)
    sc.setJobDescription(s"$op:$ph")
    try body
    finally {
      sc.setLocalProperty(Trace.OpKey, null)
      sc.setLocalProperty(Trace.PhaseKey, null)
      sc.setJobDescription(null)
    }
  }

  private def error(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  /** Listener buses deliver asynchronously: wait until no span arrives
    * for 300 ms before unregistering. */
  private def awaitQuiet(trace: Trace): Unit = {
    var last = -1
    while (trace.size != last) {
      last = trace.size
      Thread.sleep(300)
    }
  }

  /** One pass of an op. A query's build call returns its DataFrame and
    * its run drains it into `sink`; the streaming op has no build call.
    * Returns the time its build call ended. */
  private def execute(name: String, stream: Option[FrontDoor],
      sink: DataFrame => Unit): Double = stream match {
    case Some(fd) if name == FrontDoor.Name =>
      val b = Clock.ms()
      phase(name, "run")(fd.ingestNext())
      b
    case _ =>
      val df = phase(name, "build")(SparkEntry.queries(name)(spark, data))
      val b = Clock.ms()
      phase(name, "run")(sink(df))
      b
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The reference job: a fixed plain-Spark aggregation with a shuffle,
    * no library code. It runs right before every op after the cold pass,
    * so its latency samples the machine's speed at the same times as the
    * ops'. Returns its latency in ms. */
  private def reference(): Double = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val t0 = Clock.ms()
    phase("reference", "run")(noop(spark.range(0, 50000, 1, sc.defaultParallelism)
      .selectExpr("id % 101 AS k", "id * 2 AS v").groupBy("k")
      .agg(sum("v"), count(lit(1)))))
    Clock.ms() - t0
  }

  // ------------------------------------------------------------------
  // closed loop, one client, whole passes
  // ------------------------------------------------------------------

  def closedLoop(): Seq[(String, Any)] = {
    val names = args("queries").split(",").toSeq
    val buildT0 = Clock.ms()
    val stream =
      if (names.contains(FrontDoor.Name)) Some(phase(FrontDoor.Name, "setup")(
        new FrontDoor(spark, Paths.get(data), work)))
      else None
    val buildS = (Clock.ms() - buildT0) / 1000
    // cold (check) pass: every op once, each query's output kept for the check
    val warmT0 = Clock.ms()
    val warm = names.map { name =>
      val err = try {
        execute(name, stream, _.coalesce(1).write.mode("overwrite")
          .parquet(work.resolve("check").resolve(name).toString))
        null
      } catch { case NonFatal(e) => error(e) }
      Pins.sweep(spark)
      Map("name" -> name, "error" -> err)
    } ++ (0 until args("warm").toInt).flatMap { _ =>
      // untimed warm-up passes: the JIT compiles most in the first passes
      names.map { name =>
        reference()
        val err = try { execute(name, stream, noop); null }
        catch { case NonFatal(e) => error(e) }
        Pins.sweep(spark)
        Map("name" -> name, "error" -> err)
      }
    }
    val warmS = (Clock.ms() - warmT0) / 1000
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(work.resolve("oracle_sql.json"), Json.value(oracles))

    // Whole passes until the --seconds window is over (at least three), so
    // within a run every op has the same sample count. With --trace 1, odd
    // passes run with the listeners registered, so traced and untraced
    // passes interleave and drift cancels out.
    val trace = if (traced) Some(new Trace) else None
    val jvm = new JvmWindow
    val ops, tracedOps = Seq.newBuilder[Map[String, Any]]
    val passes, tracedPasses = Seq.newBuilder[Map[String, Any]]
    var pinsReleased, storagePeak = 0L
    val windowEnd = Clock.ms() + args("seconds").toDouble * 1000
    var pass = 0
    while ((pass < 3 || Clock.ms() < windowEnd) && pass < args("max-passes").toInt) {
      val tr = trace.filter(_ => pass % 2 == 1)
      tr.foreach(_.register(spark))
      val p0 = Clock.ms()
      names.foreach { name =>
        val ref = reference()
        val (cpu0, st0) = (Clock.cpuMs(), Clock.stealMs())
        val a = Clock.ms()
        var b = Double.NaN
        val err = try { b = execute(name, stream, noop); null }
        catch { case NonFatal(e) => error(e) }
        val c = Clock.ms()
        val op = Map("name" -> name, "pass" -> pass, "t0" -> a, "tb" -> b, "t1" -> c,
          "ref_ms" -> ref, "cpu_ms" -> (Clock.cpuMs() - cpu0),
          "steal_ms" -> (Clock.stealMs() - st0),
          "error" -> err)
        tr match {
          case Some(t) =>
            storagePeak = storagePeak.max(
              sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
            pinsReleased += Pins.sweep(spark)
            t.span("op", "name" -> name, "t0" -> a, "tb" -> b, "t1" -> c)
            // the reference job before the op falls outside the op's window
            t.span("window", "t0" -> a, "t1" -> c)
            tracedOps += op
          case None =>
            Pins.sweep(spark)
            ops += op
        }
      }
      val p1 = Clock.ms()
      val p = Map("pass" -> pass, "t0" -> p0, "t1" -> p1)
      tr match {
        case Some(t) =>
          tracedPasses += p
          awaitQuiet(t)
          t.unregister(spark)
        case None => passes += p
      }
      pass += 1
    }
    trace.foreach(_.dump(work.resolve("spans.jsonl").toString))
    val measured = Seq("live_heap_mb" -> JvmWindow.liveHeapMb(),
      "ops" -> ops.result(), "passes" -> passes.result(),
      "traced_ops" -> tracedOps.result(), "traced_passes" -> tracedPasses.result(),
      "traced_pins_released" -> pinsReleased,
      "traced_pins_storage_peak_bytes" -> storagePeak) ++ jvm.fields
    // outside the timed window: the stream's sinks vs its batch backfill
    val streamCheck = stream.toSeq.flatMap { fd =>
      fd.stop()
      Seq("stream_mismatched" -> phase(FrontDoor.Name, "check")(fd.check()))
    }
    Seq("index_build_s" -> buildS, "warmup_s" -> warmS, "warm" -> warm) ++
      measured ++ streamCheck
  }
}

/** The corpus workload's streaming op: `StreamOps.ingestFrontDoorV2` over
  * a file-source directory into two checkpointed parquet sinks, started
  * once and kept running across passes.
  *
  * Set-up builds the bloom filter, `nearDupIndex`, `windowHashIndex` and a
  * `QualityModel` from the stored corpus (`stored.parquet`, with
  * `train.parquet` as the model's labels). One run of the op drops the
  * next staged arrival file (`arrivals/`) into the source directory and
  * waits until both sinks have committed it: one micro-batch per file,
  * with the state-store and sink writes beside the reads.
  */
final class FrontDoor(spark: SparkSession, data: Path, work: Path) {
  import FrontDoor.listDir
  import org.apache.spark.sql.functions.col
  import org.apache.spark.sql.streaming.StreamingQuery
  import graft.operators.{QualityModel, Sketches, TextDedup}
  import graft.streaming.StreamOps

  private val bits = 1 << 18
  private val hashes = 4
  private val budget = Long.MaxValue / 4 // non-binding: admission is order-free
  private val staged = data.resolve("arrivals")
  private val files = listDir(staged).map(_.getFileName.toString)
    .filter(_.endsWith(".parquet")).sorted
  private var next = 0

  private val stored = spark.read.parquet(data.resolve("stored.parquet").toString)
  private val packed = Sketches.packBits(Sketches.bloomBuild(stored, "text", bits, hashes), bits)
  private val index = StreamOps.nearDupIndex(stored, "doc_id", "text").cache()
  private val winIndex = TextDedup.windowHashIndex(stored, "text", windowWords = 4).cache()
  index.count(); winIndex.count()
  private val model = {
    val train = spark.read.parquet(data.resolve("train.parquet").toString)
    QualityModel.trainLogReg(spark,
      QualityModel.hashedFeatures(train, "doc_id", "text", 128),
      train.select(col("doc_id"), col("y")), 128, iters = 5, lr = 2.0)
  }

  private def frontDoor(df: DataFrame): (DataFrame, DataFrame) =
    StreamOps.ingestFrontDoorV2(df, "doc_id", "source", "text", packed, bits,
      hashes, model, qualityThreshold = 0.5, index, nearDupThreshold = 0.5,
      winIndex = winIndex, budgetPerSource = budget)

  private val in = Files.createDirectories(work.resolve("stream-in"))
  private val (adm, cands) = frontDoor(spark.readStream
    .schema(spark.read.parquet(staged.resolve(files.head).toString).schema)
    .parquet(in.toString))
  private def sink(df: DataFrame, name: String): (String, StreamingQuery) =
    name -> df.writeStream.format("parquet").queryName(name)
      .option("checkpointLocation", work.resolve(s"ckpt-$name").toString)
      .option("path", work.resolve(s"out-$name").toString)
      .outputMode("append").start()
  private val sinks = Seq(sink(adm, "admitted"), sink(cands, "cands"))

  /** Drops the next arrival file in and waits until both sinks committed
    * it. The copy is renamed into place, so the source never lists a
    * half-written file. */
  def ingestNext(): Unit = {
    require(next < files.size, s"only ${files.size} arrival files staged")
    val f = files(next)
    next += 1
    val tmp = in.resolveSibling(s"stage-$f")
    Files.copy(staged.resolve(f), tmp)
    Files.move(tmp, in.resolve(f), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // A trigger that listed the directory just before the file appeared
    // can end the wait early: wait again until the file's batch committed.
    for ((name, q) <- sinks) {
      q.processAllAvailable()
      while (!committed(name, f)) {
        require(q.isActive, s"sink $name stopped before committing $f")
        q.processAllAvailable()
      }
    }
  }

  /** Whether sink `name` has committed the micro-batch that read file `f`:
    * the file source's log names the batch, the commit log marks it done. */
  private def committed(name: String, f: String): Boolean = {
    val ckpt = work.resolve(s"ckpt-$name")
    val entry = "\"path\"\\s*:\\s*\"([^\"]+)\".*\"batchId\"\\s*:\\s*(\\d+)".r
    val batches = listDir(ckpt.resolve("sources/0"))
      .filter(_.getFileName.toString.matches("\\d+(\\.compact)?"))
      .flatMap(log => Files.readAllLines(log).asScala)
      .flatMap(entry.findFirstMatchIn(_))
      .collect { case m if Paths.get(m.group(1)).getFileName.toString == f => m.group(2) }
    batches.exists(b => Files.exists(ckpt.resolve(s"commits/$b")))
  }

  def stop(): Unit = sinks.foreach(_._2.stop())

  /** Sinks vs the batch backfill of the same front door over every file
    * dropped in. Returns the arrival files holding at least one doc whose
    * admitted row or near-dup candidates differ. */
  def check(): Seq[String] = {
    import org.apache.spark.sql.functions.input_file_name
    val batch = spark.read.parquet(files.take(next).map(f => staged.resolve(f).toString): _*)
    val fileOf = batch.select(col("doc_id"), input_file_name().as("f")).collect()
      .map(r => r.getLong(0) -> Paths.get(new java.net.URI(r.getString(1))).getFileName.toString)
      .toMap
    val (bAdm, bCands) = frontDoor(batch)
    val admCols = Seq("source", "doc_id", "tokens", "n_removed", "text_clean", "admitted")
    def admRows(df: DataFrame) = df.select(admCols.map(col): _*).collect()
      .map(r => r.getLong(1) -> r.toSeq).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    def candRows(df: DataFrame) = df.select("doc_id", "corpus_id").distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1).map { case (k, v) => k -> v.toSet }
    def differ[K, V](a: Map[K, V], b: Map[K, V]) = (a.keySet ++ b.keySet).filter(k => a.get(k) != b.get(k))
    def out(name: String) = spark.read.parquet(work.resolve(s"out-$name").toString)
    val bad = differ(admRows(out("admitted")), admRows(bAdm)) ++
      differ(candRows(out("cands")), candRows(bCands))
    bad.toSeq.map(id => fileOf.getOrElse(id, s"unknown-doc-$id")).distinct.sorted
  }
}

object FrontDoor {
  val Name = "stream_front_door"

  /** The entries of `dir`, or none if it does not exist yet. */
  def listDir(dir: Path): List[Path] =
    if (!Files.isDirectory(dir)) Nil
    else scala.util.Using.resource(Files.list(dir))(_.iterator.asScala.toList)
}
