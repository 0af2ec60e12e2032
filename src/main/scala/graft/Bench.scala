package graft

import org.apache.spark.sql.SparkSession

/** Benchmark harness. Runs every registered query against
  * SPARK_GRAFT_SF_DIR, materializing results through the noop sink so
  * the full plan executes (a bare count() lets Catalyst prune all
  * projections and would time scan+count instead of the query).
  *
  * Protocol: one full untimed/cold pass (JIT + codegen + classloading),
  * then each query timed SPARK_GRAFT_REPS times (default 3) back-to-back
  * and reported as the per-query MEDIAN. Single-timing on a shared box
  * proved contention-fragile two rounds running (r07 heavy-query spikes,
  * r08 small-tail spikes, both 1.3-5x off the clean number); a 3-rep
  * median rejects a transient spike on any one rep. `value` is the sum
  * of medians; `min_value` the sum of per-query minima (contention-free
  * floor); `dispersion` the summed (max-min) spread — a large value
  * flags a contaminated capture. Failures propagate — a broken query
  * must fail the bench, not record -1s.
  *
  * Prints ONE JSON line: {"metric":"total","value":N,"unit":"sec",
  * "queries":{...},"sf":...}.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.ui.enabled", "false")
    // Experiment hook: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" applies arbitrary
    // confs so A/B runs need no recompile — at BUILDER time, so static
    // core confs (spark.shuffle.*, spark.local.dir) work too. Never set
    // by the driver.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach { s =>
      s.split(';').map(_.trim).filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k.trim, v.trim)
      }
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Hard wall-clock budget (r19: the driver's 32-core run hit rc 124
    // with parsed:null because cold pass + 3 reps + burst retries + a
    // full recapture + the pre-sweep gate's probe/backoff loop have no
    // ceiling on a contended box — cold pass alone ran 779 s vs the
    // quiet 228-304 s). A bench that outlives the driver's timeout
    // breaks the one-line-JSON contract exactly like the old stdout
    // overflow did. On breach the bench DEGRADES, never aborts: every
    // query still gets >=1 timed rep, but remaining warm-ups, gate
    // backoffs, contended retries, the noise recapture and cross-flag
    // reruns are skipped, and the capture is stamped deadline_hit:true
    // so a degraded number can't be mistaken for a clean one.
    // SPARK_GRAFT_BENCH_DEADLINE_SEC overrides (0 disables).
    val benchT0 = System.nanoTime()
    val deadlineSec = sys.env.get("SPARK_GRAFT_BENCH_DEADLINE_SEC").map { s =>
      scala.util.Try(s.toDouble).getOrElse(
        sys.error(s"SPARK_GRAFT_BENCH_DEADLINE_SEC must be numeric, got '$s'"))
    }.getOrElse(1200.0)
    def elapsedSec: Double = (System.nanoTime() - benchT0) / 1e9
    def pastBudget(frac: Double): Boolean =
      deadlineSec > 0 && elapsedSec > deadlineSec * frac
    var deadlineHit = false
    def breach(phase: String, frac: Double): Boolean = {
      val b = pastBudget(frac)
      if (b && !deadlineHit) {
        deadlineHit = true
        System.err.println(f"[bench] wall-clock budget breached in $phase " +
          f"(${elapsedSec}%.0f s > ${deadlineSec * frac}%.0f s) - degrading: " +
          "remaining queries at 1 rep, no retries/recapture")
      }
      b
    }

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // Full untimed pass first: JIT, whole-stage-codegen compilation and
    // stage-setup costs are per-process one-offs that would not recur on
    // a long-lived cluster, so the reported figure is the steady-state
    // second pass. The cold total is still emitted for transparency.
    // Caches created inside operators (e.g. the LSH candidate set) are
    // cleared between runs: Spark's cache manager matches by logical
    // plan, so a timed run would otherwise read the warm-up's data.
    // Dev loop: SPARK_GRAFT_ONLY=q_a,q_b restricts the run (the driver
    // never sets it, so round benches always cover the full set).
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
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(3).max(1)

    // Contention sentinel: a fixed constant-cost probe (one scheduled
    // stage over a synthesized range — no IO, no cache, ~60 ms clean)
    // interleaved through the timed phase. Its spread is a box-noise
    // index that travels WITH the capture: three rounds running the
    // official BENCH was contention-poisoned with no in-band way to
    // tell (r12: five queries 3-14x their clean cost in every rep).
    def runProbe(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L << 20).selectExpr("sum(id) AS s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // Cold pass gets at most 40% of the budget: past that, remaining
    // queries skip their warm-up (their first timed rep doubles as the
    // warm-up and the median absorbs it at reps>=3; at 1 rep the
    // deadline_hit stamp marks the whole capture degraded anyway).
    val cold = names.map { n =>
      if (breach("cold pass", 0.4)) 0.0
      else { val t = runOnce(n); Pins.sweep(spark); t }
    }.sum
    spark.catalog.clearCache()
    runProbe() // JIT the probe plan itself before sampling it
    // Pre-sweep quiet-box gate (r18 shipped its driver-visible number
    // from a sweep that STARTED at noise_index 3.6 — the post-hoc
    // flags fired but the recorded total was still the contended one):
    // refuse to start the timed sweep until a probe burst's median is
    // under the clean floor × 1.5, retrying up to 3 times with
    // growing backoff. If the box never quiets, proceed — a number is
    // better than no number — but stamp the capture box_contended so
    // no reader can mistake it for a clean one. Floor default is the
    // committed quiet-capture probe median (~0.15 s on this box);
    // SPARK_GRAFT_PROBE_FLOOR overrides, 0 disables the gate.
    val probeFloor = sys.env.get("SPARK_GRAFT_PROBE_FLOOR").map { s =>
      scala.util.Try(s.toDouble).getOrElse(
        sys.error(s"SPARK_GRAFT_PROBE_FLOOR must be numeric, got '$s'"))
    }.getOrElse(0.15)
    var boxContended = false
    if (probeFloor > 0) {
      val preGate = probeFloor * 1.5
      var attempt = 0
      var quiet = false
      while (!quiet && attempt < 3 && !breach("pre-sweep gate", 0.5)) {
        val burst = (1 to 5).map(_ => runProbe()).sorted
        val pm = burst(burst.size / 2)
        quiet = pm < preGate
        if (!quiet) {
          attempt += 1
          if (attempt < 3) {
            System.err.println(f"[bench] pre-sweep probe median $pm%.3f s" +
              f" > gate $preGate%.3f - box busy, backing off " +
              f"${15 * attempt}s (attempt $attempt/3)")
            Thread.sleep(15000L * attempt)
          } else {
            System.err.println(f"[bench] pre-sweep probe median $pm%.3f s" +
              f" > gate $preGate%.3f after 3 attempts - PROCEEDING ON A " +
              "CONTENDED BOX (capture stamped box_contended:true)")
            boxContended = true
          }
        }
      }
    }
    // reps back-to-back per query, not reps full passes: a contention
    // burst lasting seconds would distort one whole pass; here it can
    // only hit one or two reps of a few queries, and the median drops it.
    def sampleOne(name: String, nReps: Int = reps): Seq[Double] =
      (1 to nReps).map { _ =>
        val t = runOnce(name); spark.catalog.clearCache(); Pins.sweep(spark); t
      }.sorted
    // A rep spread far above the query's own floor means the capture of
    // THAT query was contended. Re-run it once (the burst has usually
    // passed by the end of the sweep), keep the better (lower-median)
    // sample set, and flag it `contended` if even the re-run is noisy —
    // so driver/builder/judge captures become comparable.
    def noisy(ts: Seq[Double]): Boolean =
      ts.last - ts.head > 0.25 && ts.last > ts.head * 1.5
    def median(ts: Seq[Double]): Double = ts(ts.size / 2) // ts sorted, odd reps exact
    def noiseOf(pSorted: Seq[Double]): Double =
      if (pSorted.isEmpty || pSorted.head <= 0) 0.0
      else (pSorted.last - pSorted.head) / median(pSorted)
    // One full timed sweep: interleaved probes + per-query reps + per-
    // query contended retry. Returns (samples, sorted probe times,
    // retry count).
    def sweep(): (Seq[(String, Seq[Double], Boolean)], Seq[Double], Int) = {
      val probeTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
      val firstPass: Seq[(String, Seq[Double])] = names.zipWithIndex.map {
        case (name, i) =>
          if (i % 8 == 0) probeTimes += runProbe()
          // Budget breach mid-sweep: remaining queries drop to 1 rep so
          // every query still lands a number before the driver's timeout.
          name -> sampleOne(name, if (breach("timed sweep", 1.0)) 1 else reps)
      }
      var nRetried = 0
      val samples: Seq[(String, Seq[Double], Boolean)] = firstPass.map {
        case (name, ts) =>
          if (!noisy(ts) || breach("retry phase", 1.0)) (name, ts, noisy(ts))
          else {
            nRetried += 1
            val retry = sampleOne(name)
            val best = if (retry(retry.size / 2) < ts(ts.size / 2)) retry else ts
            (name, best, noisy(best))
          }
      }
      probeTimes += runProbe()
      (samples, probeTimes.toSeq.sorted, nRetried)
    }
    // Round-close noise sentinel (r15 shipped its capture of record at
    // noise_index 1.84 while BASELINE's quotable mid-round capture read
    // 0.994): if the sweep's own probe says the box was contended
    // (noise_index above the gate, default 1.2; SPARK_GRAFT_NOISE_GATE
    // overrides, 0 disables), run ONE full re-sweep and keep the
    // quieter capture — both indices are emitted so a two-capture round
    // is visible in the artifact.
    // Parse the gate BEFORE the timed sweep so a malformed value fails
    // fast with a named error instead of a NumberFormatException after
    // an hour of capture.
    val noiseGate = sys.env.get("SPARK_GRAFT_NOISE_GATE").map { s =>
      scala.util.Try(s.toDouble).getOrElse(
        sys.error(s"SPARK_GRAFT_NOISE_GATE must be numeric, got '$s'"))
    }.getOrElse(1.2)
    var (samples, pSorted, nRetried) = sweep()
    var noiseIndex = noiseOf(pSorted)
    val firstNoise = noiseIndex
    var recaptured = false
    // Both captures of a recaptured round stay auditable: the NON-
    // surviving sweep's full per-query medians are persisted in
    // bench_full.json as discarded_queries (plus its total), so keeping
    // the quieter capture never erases the other measurement.
    // A recapture roughly doubles total wall clock, so it only launches
    // while under HALF the budget — past that, a second sweep is the
    // exact rc-124 path the deadline exists to prevent.
    var discarded: Option[(Double, Seq[(String, Double)])] = None
    if (noiseGate > 0 && noiseIndex > noiseGate && !breach("recapture", 0.5)) {
      recaptured = true
      System.err.println(f"[bench] noise_index $noiseIndex%.2f > gate " +
        f"$noiseGate%.2f - recapturing once")
      val (s2, p2, r2) = sweep()
      val n2 = noiseOf(p2)
      def meds(ss: Seq[(String, Seq[Double], Boolean)]) =
        ss.map { case (n, ts, _) => n -> median(ts) }
      if (n2 < noiseIndex) {
        discarded = Some((noiseIndex, meds(samples)))
        samples = s2; pSorted = p2; nRetried = r2; noiseIndex = n2
      } else discarded = Some((n2, meds(s2)))
    }
    // Cross-capture sanity (r17 verdict task #8): sustained box load
    // inflates medians without tripping the burst sentinel (r17 shipped
    // q_drop_duplicates at 2.13 s vs its 0.30 s isolated cost and
    // neither flag fired). Compare each median against the most recent
    // committed round artifact (bench_full_r{N}.json, same SF); any
    // query k×+0.25 s above its prior value is re-sampled ONCE after
    // the sweep (the load has usually moved on) and BOTH numbers ride
    // the artifact as cross_flags, so an inflated row self-identifies.
    val priorCapture: Map[String, Double] = {
      import scala.jdk.CollectionConverters._
      val re = "bench_full_r(\\d+)\\.json".r
      val files = java.nio.file.Files.list(java.nio.file.Paths.get("."))
        .iterator().asScala.flatMap { p =>
          p.getFileName.toString match {
            case re(n) => Some((n.toInt, p)); case _ => None
          }
        }.toSeq
      if (files.isEmpty) Map.empty
      else try {
        val txt = new String(
          java.nio.file.Files.readAllBytes(files.maxBy(_._1)._2), "UTF-8")
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        val j = JsonMethods.parse(txt)
        val sameSf = (j \ "sf") match {
          case JString(s) => s == sfDir
          case _ => false
        }
        if (!sameSf) Map.empty
        else (j \ "queries") match {
          case JObject(fields) => fields.collect {
            case (k, JDouble(v)) => k -> v
            case (k, JInt(v)) => k -> v.toDouble
          }.toMap
          case _ => Map.empty
        }
      } catch { case _: Throwable => Map.empty }
    }
    val crossFlags: Seq[(String, Double, Double, Double)] = samples
      .flatMap { case (n, ts, _) =>
        priorCapture.get(n).collect {
          case prior if median(ts) > prior * 3 && median(ts) > prior + 0.25 =>
            (n, prior, median(ts))
        }
      }
      .take(10) // bound the tail work on a fully-poisoned capture
      .filter(_ => !breach("cross-flag reruns", 1.0))
      .map { case (n, prior, med) =>
        val rerun = runOnce(n); spark.catalog.clearCache(); Pins.sweep(spark)
        (n, prior, med, rerun)
      }

    val results = samples.map { case (n, ts, _) => n -> median(ts) }
    val mins = samples.map { case (_, ts, _) => ts.head }
    val spread = samples.map { case (_, ts, _) => ts.last - ts.head }
    val contended = samples.collect { case (n, _, true) => n }

    // The round driver captures only a bounded (~4 KB) tail of stdout; a
    // full per-query map over 140+ queries is ~3.5 KB and, together with
    // sbt's trailing "[success]" line, overflows that window and truncates
    // the JSON line start (BENCH_r03/r06 "parsed": null). So: the FULL
    // per-query map goes to bench_full.json (and to an early stdout line
    // that may scroll out of the tail), while the final line — the one the
    // driver parses — carries the total plus a fixed headline subset,
    // bounded well under the capture window.
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def jmap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val minTotal = mins.sum
    val disp = spread.sum
    def jmapN(rs: Seq[(String, Seq[Double])], pick: Seq[Double] => Double): String =
      jmap(rs.map { case (k, ts) => k -> pick(ts) })
    def jlist(ns: Seq[String]): String =
      ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    val stats =
      s""""value":${f(total)},"unit":"sec","cold_value":${f(cold)},"min_value":${f(minTotal)},"dispersion":${f(disp)},"reps":$reps,"n_queries":${results.size},"noise_index":${f(noiseIndex)},"noise_gate":${f(noiseGate)},"recaptured":$recaptured,"box_contended":$boxContended,"noise_index_first":${f(firstNoise)},"probe_sec":${jmap(Seq("min" -> pSorted.head, "median" -> median(pSorted), "max" -> pSorted.last))},"n_contended":${contended.size},"n_retried":$nRetried,"n_cross_flagged":${crossFlags.size},"deadline_hit":$deadlineHit,"deadline_sec":${f(deadlineSec)},"elapsed_sec":${f(elapsedSec)}"""
    val discardedJson = discarded.map { case (ni, qs) =>
      s""","discarded_noise_index":${f(ni)},"discarded_total":${f(qs.map(_._2).sum)},"discarded_queries":${jmap(qs)}"""
    }.getOrElse("")
    val crossJson =
      if (crossFlags.isEmpty) ""
      else ","+"\"cross_flags\":" + crossFlags.map { case (n, prior, med, rerun) =>
        "\"" + n + "\":{\"prior\":" + f(prior) + ",\"median\":" + f(med) +
          ",\"rerun\":" + f(rerun) + "}"
      }.mkString("{", ",", "}")
    val full =
      s"""{"metric":"total",$stats,"contended":${jlist(contended)},"queries":${jmap(results)},"queries_min":${jmapN(samples.map(s => (s._1, s._2)), _.head)},"queries_max":${jmapN(samples.map(s => (s._1, s._2)), _.last)}$discardedJson$crossJson,"sf":"$sfDir"}"""
    // Durable-artifact protocol (r17 verdict task #2 — the round's final
    // capture lived only in the transient bench_full.json and a judge
    // re-bench clobbered it): every FULL sweep also writes a uniquely
    // named bench_full_<tag>.json that is NEVER overwritten (tag =
    // SPARK_GRAFT_BENCH_TAG if set, else a UTC timestamp; an existing
    // file gets an epoch suffix instead of a clobber). Partial
    // SPARK_GRAFT_ONLY dev runs write bench_partial.json and leave
    // bench_full.json (the tooling copy of the latest full capture)
    // alone — no more post-dev-loop `git checkout bench_full.json`.
    val isFull = only.isEmpty
    val livePath = java.nio.file.Paths
      .get(if (isFull) "bench_full.json" else "bench_partial.json")
      .toAbsolutePath
    java.nio.file.Files.write(livePath, full.getBytes("UTF-8"))
    if (isFull) {
      val tag = sys.env.getOrElse("SPARK_GRAFT_BENCH_TAG",
        java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'")
          .withZone(java.time.ZoneOffset.UTC)
          .format(java.time.Instant.now()))
      val base = java.nio.file.Paths.get(s"bench_full_$tag.json").toAbsolutePath
      val durable =
        if (!java.nio.file.Files.exists(base)) base
        else java.nio.file.Paths
          .get(s"bench_full_${tag}_${System.currentTimeMillis / 1000}.json")
          .toAbsolutePath
      java.nio.file.Files.write(durable, full.getBytes("UTF-8"))
      System.err.println(s"[bench] durable capture: $durable")
    }
    // The full line goes ONLY to the json artifacts, never stdout: the
    // driver's bounded (~2000-char) stdout tail used to catch the END
    // of the full per-query line ahead of the headline, so the window
    // opened mid-JSON and the driver has recorded parsed:null every
    // round. With stdout reduced to the single bounded headline line,
    // the tail is headline + sbt epilogue — parseable line-wise from
    // its first character.

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
    val byName = results.toMap
    val head0 = headline.flatMap(n => byName.get(n).map(n -> _))
    // headline (driver-parsed, bounded) line: cap the contended list so
    // a fully-poisoned capture can't overflow the driver's stdout tail,
    // and TRIM the query map until the whole line fits well inside the
    // ~2000-char capture window (sbt's epilogue shares it) — a clipped
    // line head is exactly the parsed:null failure mode.
    def headLine(hs: Seq[(String, Double)]): String =
      s"""{"metric":"total",$stats,"contended":${jlist(contended.take(12))},"full":"${livePath}","queries":${jmap(hs)},"sf":"$sfDir"}"""
    var head = head0
    while (headLine(head).length > 1800 && head.nonEmpty)
      head = head.dropRight(1)
    println(headLine(head))
    spark.stop()
  }
}
