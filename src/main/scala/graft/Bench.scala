package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark main. Runs every registered query against
  * SPARK_GRAFT_SF_DIR, materializing results through the noop sink so
  * the full plan executes (a bare count() lets Catalyst prune all
  * projections and would time scan+count instead of the query).
  *
  * Protocol: one untimed cold pass (JIT, codegen, classloading), then
  * each query timed SPARK_GRAFT_REPS times (default 3) back to back.
  * `value` is the sum of per-query medians, `min_value` the sum of
  * minima, `dispersion` the summed max-min spread. A fixed
  * constant-cost probe job runs twice back to back before every 8th
  * query and after the last; the faster of each pair is one sample
  * (so a lone GC or JIT pause after the preceding query does not
  * count as contention), and the samples' interquartile range over
  * their median (nearest-rank, graftbench's spread measure) is
  * `noise_index`, a box-contention stamp that travels with the
  * capture. Failures propagate: a broken query fails the bench
  * instead of recording a bogus time.
  *
  * Environment:
  *   - SPARK_GRAFT_SF_DIR: input tables (default /root/testdata/sf0.1)
  *   - SPARK_GRAFT_CPUS: local cores and shuffle partitions (default:
  *     the box's processors)
  *   - SPARK_GRAFT_ONLY: comma-separated query names (dev loop)
  *   - SPARK_GRAFT_REPS: timed reps per query (default 3)
  *   - SPARK_GRAFT_BENCH_DEADLINE_SEC: wall-clock budget (default
  *     1200, 0 disables), matched to the caller's timeout
  *
  * Output: the full per-query capture goes to bench_full.json
  * (bench_partial.json under SPARK_GRAFT_ONLY); the last stdout line is
  * a headline JSON object bounded to 1800 characters, so a caller that
  * keeps only a short tail of stdout can still parse it.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(3).max(1)
    val deadlineSec = sys.env.get("SPARK_GRAFT_BENCH_DEADLINE_SEC").map { s =>
      s.toDoubleOption.getOrElse(
        sys.error(s"SPARK_GRAFT_BENCH_DEADLINE_SEC must be numeric, got '$s'"))
    }.getOrElse(1200.0)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(s"[bench] SPARK_GRAFT_ONLY names match nothing: ${unknown.mkString(",")}")
    }
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => only.forall(_.contains(n)))
    if (names.isEmpty) {
      System.err.println("[bench] filter eliminated every query — nothing to run")
      sys.exit(2)
    }

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Deadline: a bench that outlives its caller's timeout yields no
    // number at all. Past the budget the bench degrades instead of
    // aborting: the cold pass stops at 40% of it, and past 100% the
    // remaining queries get one timed rep each. `deadline_hit` marks
    // such a capture.
    val benchT0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - benchT0) / 1e9
    var deadlineHit = false
    def breach(phase: String, frac: Double): Boolean = {
      val b = deadlineSec > 0 && elapsedSec > deadlineSec * frac
      if (b && !deadlineHit) {
        deadlineHit = true
        System.err.println(f"[bench] wall-clock budget breached in $phase " +
          f"(${elapsedSec}%.0f s > ${deadlineSec * frac}%.0f s) - degrading")
      }
      b
    }

    def timed(run: => Unit): Double = {
      val t0 = System.nanoTime()
      run
      (System.nanoTime() - t0) / 1e9
    }
    def runOnce(name: String): Double = timed(
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save())
    // One scheduled stage over a synthesized range: no IO, no cache.
    def runProbe(): Double = timed(
      spark.range(1L << 20).selectExpr("sum(id) AS s")
        .write.format("noop").mode("overwrite").save())
    // Operators cache and pin intermediates; both are released after
    // every run, since the cache manager matches by logical plan and a
    // timed run would otherwise read the previous run's data.
    def release(): Unit = { spark.catalog.clearCache(); Pins.sweep(spark) }

    val cold = names.map { n =>
      if (breach("cold pass", 0.4)) 0.0
      else { val t = runOnce(n); release(); t }
    }.sum
    runProbe() // JIT the probe's own plan before sampling it

    val probes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val samples: Seq[(String, Seq[Double])] = names.zipWithIndex.map {
      case (name, i) =>
        if (i % 8 == 0) probes += runProbe().min(runProbe())
        val n = if (breach("timed sweep", 1.0)) 1 else reps
        name -> (1 to n).map { _ => val t = runOnce(name); release(); t }.sorted
    }
    probes += runProbe().min(runProbe())
    spark.stop()

    def median(sorted: Seq[Double]): Double = sorted(sorted.size / 2)
    def rank(sorted: Seq[Double], q: Double): Double =
      sorted(math.max(1, math.ceil(q * sorted.size).toInt) - 1)
    val pSorted = probes.toSeq.sorted
    val noiseIndex = (rank(pSorted, 0.75) - rank(pSorted, 0.25)) / median(pSorted)
    val medians = samples.map { case (n, ts) => n -> median(ts) }

    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def jmap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    val stats = Seq(
      "\"value\":" + f(medians.map(_._2).sum),
      "\"unit\":\"sec\"",
      "\"cold_value\":" + f(cold),
      "\"min_value\":" + f(samples.map(_._2.head).sum),
      "\"dispersion\":" + f(samples.map { case (_, ts) => ts.last - ts.head }.sum),
      "\"reps\":" + reps,
      "\"n_queries\":" + samples.size,
      "\"noise_index\":" + f(noiseIndex),
      "\"probe_sec\":" + jmap(Seq("min" -> pSorted.head,
        "median" -> median(pSorted), "max" -> pSorted.last)),
      "\"deadline_hit\":" + deadlineHit,
      "\"deadline_sec\":" + f(deadlineSec),
      "\"elapsed_sec\":" + f(elapsedSec)).mkString(",")
    val full = s"""{"metric":"total",$stats,"queries":${jmap(medians)},""" +
      s""""queries_min":${jmap(samples.map { case (n, ts) => n -> ts.head })},""" +
      s""""queries_max":${jmap(samples.map { case (n, ts) => n -> ts.last })},"sf":"$sfDir"}"""
    val fullPath = Paths.get(if (only.isEmpty) "bench_full.json" else "bench_partial.json")
      .toAbsolutePath
    Files.write(fullPath, full.getBytes("UTF-8"))

    // Headline: a fixed subset of queries, trimmed until the line fits.
    val headline = Seq(
      "q1_pricing_summary", "q_shipping_priority", "q_local_supplier_volume",
      "q_groupby_multi", "q_join_inner", "q_join_broadcast_star",
      "q_merge_asof_backward", "q_window_rank", "q_topk", "q_set_index",
      "q_quantiles", "q_rolling_time", "q_resample_daily", "q_pivot",
      "q_dedup_exact_hash", "q_near_dup_minhash", "q_dup_clusters",
      "q_minhash_bands", "q_simhash", "q_tfidf", "q_cosine_topk",
      "q_ann_lsh", "q_ivf_topk", "q_semantic_dedup", "q_kmeans_cells",
      "q_embedding_near_dup", "q_text_quality", "q_lang_id",
      "q_token_count", "q_doc_fingerprint", "q_pipeline_e2e",
      "q_stratified_sample", "q_cumulative", "q_str_regex",
      "q_tdigest_quantile", "q_multimodal_meta", "q_audio_meta",
      "q_video_meta", "q_pii_redact", "q_categorical_ops", "q_bigram_lm")
    val byName = medians.toMap
    def headLine(hs: Seq[(String, Double)]): String =
      s"""{"metric":"total",$stats,"full":"$fullPath","queries":${jmap(hs)},"sf":"$sfDir"}"""
    var head = headline.flatMap(n => byName.get(n).map(n -> _))
    while (headLine(head).length > 1800 && head.nonEmpty)
      head = head.dropRight(1)
    println(headLine(head))
  }
}
