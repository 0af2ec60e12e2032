package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps

/** Structured-streaming operator tests over MemoryStream sources. */
class StreamingSpec extends SparkSpec {

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000)

  test("windowed stats aggregate a stream incrementally") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val df = in.toDF().toDF("sec", "value")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val agg = StreamOps.windowedStats(df, "ts", "value", "10 seconds", "5 seconds")
    val q = agg.writeStream.format("memory").queryName("win_stats")
      .outputMode("complete").start()
    try {
      in.addData((1L, 1.0), (2L, 2.0), (11L, 10.0), (12L, 20.0))
      q.processAllAvailable()
      val rows = spark.table("win_stats").orderBy("window_start").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[Long]("n") == 2 && rows(0).getAs[Double]("total") == 3.0)
      assert(rows(1).getAs[Long]("n") == 2 && rows(1).getAs[Double]("total") == 30.0)
    } finally q.stop()
  }

  test("t-digest aggregates per stream window (mergeable sketch in streaming)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)
    // The mergeable-buffer contract is exactly what a streaming agg
    // needs: per-micro-batch partial digests merge into window state.
    val in = MemoryStream[(Long, Double)]
    val df = in.toDF().toDF("sec", "value")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val agg = df.groupBy(window(col("ts"), "10 seconds"))
      .agg(expr("tdigest_quantile(value, 0.5)").as("p50"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("p50"), col("n"))
    val q = agg.writeStream.format("memory").queryName("td_win")
      .outputMode("complete").start()
    try {
      in.addData((1L, 1.0), (2L, 2.0), (3L, 3.0))
      q.processAllAvailable()
      in.addData((4L, 100.0), (11L, 7.0)) // second batch merges into window state
      q.processAllAvailable()
      val rows = spark.table("td_win").orderBy("ws").collect()
      assert(rows.length == 2)
      val w1 = rows(0)
      assert(w1.getAs[Long]("n") == 4)
      val p50 = w1.getAs[Double]("p50")
      assert(p50 >= 2.0 && p50 <= 3.0, s"window median $p50")
      assert(rows(1).getAs[Double]("p50") == 7.0)
    } finally q.stop()
  }

  test("PII redaction is stateless and runs unchanged on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val out = graft.operators.TextQuality.redactPii(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("pii_stream")
      .outputMode("append").start()
    try {
      in.addData((1L, "mail me at a.b@c.io from 10.1.2.3"), (2L, "clean text"))
      q.processAllAvailable()
      val rows = spark.table("pii_stream").orderBy("doc_id").collect()
      assert(rows(0).getString(1) == "mail me at <EMAIL> from <IP>")
      assert(rows(0).getInt(2) == 1 && rows(0).getInt(3) == 1)
      assert(rows(1).getString(1) == "clean text" && rows(1).getInt(2) == 0)
    } finally q.stop()
  }

  test("streaming dedup drops duplicate keys within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val df = in.toDF().toDF("sec", "content_hash")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val dedup = StreamOps.streamingDedup(df, "ts", "1 minute", Seq("content_hash"))
    val q = dedup.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "ccc"), (5L, "bbb"))
      q.processAllAvailable()
      val hashes = spark.table("dedup_out").select("content_hash")
        .as[String].collect().sorted.toSeq
      assert(hashes == Seq("aaa", "bbb", "ccc"))
    } finally q.stop()
  }

  test("session windows split on the inactivity gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val df = in.toDF().toDF("user", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val sess = StreamOps.sessionCounts(df, "ts", "user", "10 seconds", "5 seconds")
    val q = sess.writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    try {
      // user 7: events at 0s,5s (one session) then 60s (a second session)
      in.addData((7L, 0L), (7L, 5L), (7L, 60L))
      q.processAllAvailable()
      val rows = spark.table("sessions").orderBy("session_start").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[Long]("n_events") == 2)
      assert(rows(1).getAs[Long]("n_events") == 1)
    } finally q.stop()
  }

  test("mapGroupsWithState keeps running totals across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val out = StreamOps.runningTotals(in.toDS())
    val q = out.writeStream.format("memory").queryName("running")
      .outputMode("update").start()
    try {
      in.addData((1L, 2.0), (1L, 3.0), (2L, 10.0))
      q.processAllAvailable()
      in.addData((1L, 5.0))
      q.processAllAvailable()
      val last = spark.table("running").as[(Long, Long, Double)].collect()
        .groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(_._2) }
      assert(last(1L) == ((1L, 3L, 10.0)))
      assert(last(2L) == ((2L, 1L, 10.0)))
    } finally q.stop()
  }

  test("stream-static enrichment join broadcasts the dimension") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val in = MemoryStream[(Long, Double)]
    val stream = in.toDF().toDF("user_id", "value")
    val q = StreamOps.enrich(stream, dim, Seq("user_id"))
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      in.addData((1L, 5.0), (2L, 7.0), (3L, 9.0)) // user 3 has no dim row
      q.processAllAvailable()
      val rows = spark.table("enriched").orderBy("user_id").collect()
      assert(rows.map(r => (r.getLong(0), r.getString(2))).toSeq ==
        Seq((1L, "gold"), (2L, "silver")))
    } finally q.stop()
  }

  test("stream-stream join matches right events within the interval") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long)]   // (user, sec)
    val buys = MemoryStream[(Long, Long)]
    val l = clicks.toDF().toDF("cu", "csec").withColumn("cts", timestamp_seconds(col("csec")))
    val r = buys.toDF().toDF("bu", "bsec").withColumn("bts", timestamp_seconds(col("bsec")))
    val joined = StreamOps.joinWithin(l, r, "cu", "bu", "cts", "bts",
      watermarkDelay = "1 minute", within = "30 seconds")
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      clicks.addData((1L, 100L), (2L, 100L))
      buys.addData((1L, 110L), (2L, 200L)) // user 2 buys too late (100s gap)
      q.processAllAvailable()
      val rows = spark.table("ss_join").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(1L),
        s"expected only user 1 within 30s: ${rows.mkString(";")}")
    } finally q.stop()
  }

  test("projected band signatures equal the aggregating form on the corpus") {
    import graft.operators.TextDedup
    val docs = Tables.documents(spark, sfDir)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val agg = key(TextDedup.bandSignatures(
      TextDedup.shingles(docs, "doc_id", "text", 3, distinct = false),
      "doc_id", 16, 4))
    val proj = key(TextDedup.bandSignaturesProjected(docs, "doc_id", "text", 3, 16, 4))
    assert(proj == agg, s"projected ${proj.size} vs aggregated ${agg.size} rows")
  }

  test("streaming perceptual matches fire against a static fingerprint index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.ImageDedup
    def bmp(seed: Int, flip: Boolean) = ImageDedup.bmpFixture(9, 8, (x, y) => {
      val p = if (flip && (x * 3 + y * 5) % 11 == 0) 24 else 0
      ((seed * 73 + x * 29 + y * 19 + p) % 256,
        (seed * 59 + x * 31 + y * 13 + p) % 256,
        (seed * 41 + x * 23 + y * 17 + p) % 256)
    })
    val corpus = Seq((100L, bmp(3, flip = false)), (200L, bmp(8, flip = false)))
      .toDF("doc_id", "payload")
    val index = ImageDedup.dHashes(corpus, "doc_id", "payload")
      .withColumnRenamed("dhash", "hash").cache()
    val in = MemoryStream[(Long, Array[Byte])]
    // the stateless decode+hash mapPartitions runs unchanged on the stream
    val hashed = ImageDedup.dHashes(
      in.toDF().toDF("doc_id", "payload"), "doc_id", "payload")
      .withColumnRenamed("dhash", "hash")
    val matches = StreamOps.streamingHammingMatches(
      hashed, index, "doc_id", "hash", maxHamming = 8)
    val q = matches.writeStream.format("memory").queryName("perc_stream")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, bmp(3, flip = true)),                       // near-dup of corpus 100
        (2L, bmp(77, flip = false)),                     // unrelated image
        (3L, Array[Byte](1, 2, 3)))                      // undecodable
      q.processAllAvailable()
      val hits = spark.table("perc_stream")
        .select("doc_id", "corpus_id").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits == Set((1L, 100L)), s"got $hits")
      val hams = spark.table("perc_stream").select("hamming")
        .collect().map(_.getInt(0))
      assert(hams.forall(_ <= 8))
    } finally q.stop()
  }

  test("streaming near-dup candidates fire against a static corpus index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextDedup
    val corpus = Seq(
      (100L, "a b c d e f g h i j"),
      (200L, "p q r s t u v w x y")).toDF("doc_id", "text")
    val index = TextDedup.bandSignatures(
      TextDedup.shingles(corpus, "doc_id", "text", 3, distinct = false),
      "doc_id", 16, 4).cache()
    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("doc_id", "text")
    val cands = StreamOps.streamingNearDupCandidates(stream, index, "doc_id", "text")
    val q = cands.writeStream.format("memory").queryName("near_dup_stream")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, "a b c d e f g h i j"),        // exact dup of corpus 100
        (2L, "entirely novel words only here today")) // no corpus match
      q.processAllAvailable()
      val hits = spark.table("near_dup_stream")
        .select("doc_id", "corpus_id").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits == Set((1L, 100L)), s"got $hits")
    } finally { q.stop(); index.unpersist() }
  }

  test("streaming verified near-dup agrees with the batch incremental dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextDedup
    val corpus = Seq(
      (100L, "a b c d e f g h i j k l"),
      (200L, "p q r s t u v w x y z aa")).toDF("doc_id", "text")
    val index = StreamOps.nearDupIndex(corpus, "doc_id", "text").cache()
    val newDocs = Seq(
      (1L, "a b c d e f g h i j k l"),             // exact dup of 100
      (2L, "a b c d e f g h i j k m"),             // near-dup of 100
      (3L, "entirely novel words only here today ok")) // no match
    val in = MemoryStream[(Long, String)]
    val stream = in.toDF.toDF("doc_id", "text")
    val verified = StreamOps.streamingNearDupVerified(
      stream, index, "doc_id", "text", threshold = 0.5)
    val q = verified.writeStream.format("memory").queryName("near_dup_verified")
      .outputMode("append").start()
    try {
      in.addData(newDocs: _*)
      q.processAllAvailable()
      val got = spark.table("near_dup_verified")
        .select("doc_id", "corpus_id", "jaccard").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // the batch incremental op on the same split is the reference
      val batch = TextDedup.dedupAgainstIndex(
          newDocs.toDF("doc_id", "text"), corpus, "doc_id", "text",
          threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // batch keeps only the best match per doc; with one index match
      // apiece the sets must agree exactly
      assert(got === batch, s"stream $got vs batch $batch")
      assert(got.map(_._1) === Set(1L, 2L))
      assert(got.find(_._1 == 1L).get._3 === 1.0)  // exact dup verifies at 1.0
    } finally { q.stop(); index.unpersist() }
  }

  test("windowed distinct counts approximate per-window cardinality") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val df = in.toDF().toDF("sec", "user")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val agg = StreamOps.windowedDistinct(df, "ts", "user", "10 seconds", "5 seconds")
    val q = agg.writeStream.format("memory").queryName("win_distinct")
      .outputMode("complete").start()
    try {
      in.addData((1L, 7L), (2L, 7L), (3L, 8L), (11L, 7L), (12L, 9L), (13L, 9L))
      q.processAllAvailable()
      val rows = spark.table("win_distinct").orderBy("window_start")
        .collect().map(_.getLong(1)).toSeq
      assert(rows == Seq(2L, 2L), s"got $rows")  // {7,8} then {7,9}
    } finally q.stop()
  }

  test("streaming OOV monitor matches exact per-window set arithmetic") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val df = in.toDF().toDF("sec", "text")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val mon = StreamOps.streamingOovMonitor(df, "ts", "text",
      vocab = Seq("alpha", "beta", "gamma"), "10 seconds", "5 seconds")
    val q = mon.writeStream.format("memory").queryName("oov_mon")
      .outputMode("append").start()
    try {
      // window [0,10): 5 tokens, 1 OOV; window [10,20): 4 tokens, 3 OOV
      in.addData((1L, "alpha beta zeta"), (2L, "alpha gamma"),
        (11L, "beta qqq rrr sss"))
      q.processAllAvailable()
      in.addData((100L, "tick"))
      q.processAllAvailable()
      val rows = spark.table("oov_mon").orderBy("window_start")
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSeq
      assert(rows == Seq((2L, 5L, 1L, 0.2), (1L, 4L, 3L, 0.75)), s"$rows")
    } finally q.stop()
  }

  test("streaming vocab drift flags a shifted window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val buckets = 64
    val baseText = "alpha beta gamma delta epsilon zeta alpha beta gamma delta"
    // baseline bucket counts via the same kernel hashing as the stream
    val baseCounts = Seq((1L, baseText)).toDF("doc_id", "text")
      .select(explode(graft.functions.ShingleHashes(col("text"), 1, 7,
        dedup = false)).as("t"))
      .select((col("t") % buckets).as("b")).groupBy("b").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val in = MemoryStream[(Long, String)]
    val df = in.toDF().toDF("sec", "text")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val drift = StreamOps.streamingVocabDrift(df, "ts", "text", baseCounts,
      buckets, "10 seconds", "5 seconds")
    val q = drift.writeStream.format("memory").queryName("vdrift")
      .outputMode("append").start()
    try {
      // window [0,10): baseline-shaped; window [10,20): disjoint vocab
      in.addData((1L, baseText), (2L, baseText),
        (11L, "zzz yyy xxx www vvv uuu"), (12L, "qqq rrr sss ttt"))
      q.processAllAvailable()
      in.addData((100L, "tick")) // advance the watermark past both windows
      q.processAllAvailable()
      val rows = spark.table("vdrift").orderBy("window_start")
        .collect().map(r => (r.getLong(1), r.getDouble(2)))
      assert(rows.length == 2, s"got ${rows.toSeq}")
      val Array((n0, kl0), (n1, kl1)) = rows
      assert(n0 == 20L && n1 == 10L)
      assert(kl1 > kl0, s"shifted window not flagged: kl0=$kl0 kl1=$kl1")
      // the emitted KL equals the closed-form replay of the decomposition
      val nb = baseCounts.values.sum.toDouble
      def p(c: Long) = (c + 1.0) / (nb + buckets)
      val cRef = (0L until buckets.toLong)
        .map { b => val pb = p(baseCounts.getOrElse(b, 0L)); pb * math.log(pb) }.sum
      val w0 = Seq((1L, baseText), (2L, baseText)).toDF("sec", "text")
        .select(explode(graft.functions.ShingleHashes(col("text"), 1, 7,
          dedup = false)).as("t"))
        .select((col("t") % buckets).as("b")).groupBy("b").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expect0 = BigDecimal(cRef -
        w0.map { case (b, c) => p(baseCounts.getOrElse(b, 0L)) * math.log(c + 1.0) }.sum +
        math.log(w0.values.sum + buckets.toDouble))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(kl0 - expect0) < 1e-8, s"kl0=$kl0 expect=$expect0")
    } finally q.stop()
  }

  test("streaming badwords gate equals the batch operator exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq((1L, "clean text"), (2L, "SPAM! here"), (3L, "spam spam"))
    val in = MemoryStream[(Long, String)]
    val out = StreamOps.streamingBadwordsGate(
      in.toDS().toDF("doc_id", "text"), "text", Seq("spam"))
    val q = out.writeStream.format("memory").queryName("badwords_stream")
      .outputMode("append").start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("badwords_stream")
        .select("doc_id", "n_blocked", "flagged").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      val batch = graft.operators.TextQuality.flagBlockedWords(
          rows.toDF("doc_id", "text"), "doc_id", "text", Seq("spam"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      assert(got == batch, s"stream $got vs batch $batch")
    } finally q.stop()
  }

  test("streaming domain cap admits the first cap docs per domain across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val out = StreamOps.streamingDomainCap(in.toDS(), cap = 2)
    val q = out.toDF().toDF("domain", "id", "admitted", "n_seen")
      .writeStream.format("memory").queryName("domcap_stream")
      .outputMode("append").start()
    try {
      in.addData(("a.com", 1L), ("a.com", 2L), ("b.org", 1L))
      q.processAllAvailable()
      in.addData(("a.com", 3L), ("b.org", 2L), ("b.org", 3L))
      q.processAllAvailable()
      val got = spark.table("domcap_stream")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getBoolean(2), r.getLong(3)))).toMap
      assert(got == Map(
        ("a.com", 1L) -> ((true, 1L)), ("a.com", 2L) -> ((true, 2L)),
        ("b.org", 1L) -> ((true, 1L)),
        // state persists: a.com's third doc (batch 2) is over the cap
        ("a.com", 3L) -> ((false, 3L)),
        ("b.org", 2L) -> ((true, 2L)), ("b.org", 3L) -> ((false, 3L))),
        s"got $got")
    } finally q.stop()
  }

  test("streaming token budget admits per-source until exhausted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Long)]
    val out = StreamOps.streamingTokenBudget(in.toDS(), budget = 100L)
    val q = out.toDF().toDF("source", "id", "tok", "keep")
      .writeStream.format("memory").queryName("budget_stream")
      .outputMode("append").start()
    try {
      in.addData(("a", 1L, 60L), ("a", 2L, 30L), ("b", 1L, 90L))
      q.processAllAvailable()
      in.addData(("a", 3L, 20L), ("a", 4L, 10L), ("b", 2L, 20L))  // a: 90 used
      q.processAllAvailable()
      val got = spark.table("budget_stream")
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getBoolean(3)).toMap
      // source a: 60+30 admitted, 20 would exceed (90+20>100), 10 fits
      assert(got == Map(("a", 1L) -> true, ("a", 2L) -> true,
        ("b", 1L) -> true, ("a", 3L) -> false, ("a", 4L) -> true,
        ("b", 2L) -> false), s"got $got")
    } finally q.stop()
  }

  test("progress rows surface throughput, state size and watermark lag") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamObs

    // stateful: token budget via flatMapGroupsWithState — state rows =
    // one per source, and they persist across micro-batches
    val in = MemoryStream[(String, Long, Long)]
    val out = StreamOps.streamingTokenBudget(in.toDS(), budget = 100L)
    val q = out.toDF().toDF("source", "id", "tok", "keep")
      .writeStream.format("memory").queryName("budget_obs")
      .outputMode("append").start()
    try {
      in.addData(("a", 1L, 60L), ("b", 1L, 90L))
      q.processAllAvailable()
      in.addData(("a", 2L, 30L), ("c", 1L, 10L))
      q.processAllAvailable()
      val rows = StreamObs.progressRows(q)
      val stateRows = rows.filter(_.stateRowsTotal.isDefined)
      assert(stateRows.nonEmpty, "no state-operator progress rows")
      assert(stateRows.exists(_.operator.toLowerCase.contains("flatmapgroupswithstate")),
        s"operators seen: ${stateRows.map(_.operator).distinct}")
      // after batch 2 the state holds one row per source seen: a, b, c
      assert(stateRows.maxBy(_.batchId).stateRowsTotal.contains(3L),
        s"state rows: ${stateRows.map(r => r.batchId -> r.stateRowsTotal)}")
      assert(rows.map(_.numInputRows).sum >= 4,
        "input rows across batches not reflected")
      assert(rows.forall(r => !r.inputRowsPerSecond.isNaN))
      // the frame view is a LocalRelation over the same rows
      val frame = StreamObs.progressFrame(spark, q)
      assert(frame.count() == rows.size)
      assert(frame.columns.contains("stateMemoryBytes"))
    } finally q.stop()

    // stateless: the near-dup candidate stream still yields per-batch
    // throughput rows (operator "(query)", no state fields)
    import graft.operators.TextDedup
    val corpus = Seq((100L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val index = TextDedup.bandSignatures(
      TextDedup.shingles(corpus, "doc_id", "text", 3, distinct = false),
      "doc_id", 16, 4).cache()
    val in2 = MemoryStream[(Long, String)]
    val cands = StreamOps.streamingNearDupCandidates(
      in2.toDF().toDF("doc_id", "text"), index, "doc_id", "text")
    val q2 = cands.writeStream.format("memory").queryName("near_dup_obs")
      .outputMode("append").start()
    try {
      in2.addData((1L, "a b c d e f g h i j"))
      q2.processAllAvailable()
      val rows = StreamObs.progressRows(q2)
      assert(rows.nonEmpty && rows.forall(_.operator == "(query)"))
      assert(rows.forall(_.stateRowsTotal.isEmpty))
      assert(rows.map(_.numInputRows).sum == 1)
    } finally { q2.stop(); index.unpersist() }

    // watermarked: windowed stats expose the watermark and its lag
    // behind the newest event once a second batch advances it
    val in3 = MemoryStream[(Long, Double)]
    val agg = StreamOps.windowedStats(in3.toDF().toDF("sec", "value")
      .withColumn("ts", timestamp_seconds(col("sec"))),
      "ts", "value", "10 seconds", "5 seconds")
    val q3 = agg.writeStream.format("memory").queryName("win_obs")
      .outputMode("complete").start()
    try {
      in3.addData((100L, 1.0), (200L, 2.0))
      q3.processAllAvailable()
      in3.addData((300L, 3.0))
      q3.processAllAvailable()
      val rows = StreamObs.progressRows(q3)
      val wm = rows.filter(_.watermark.isDefined)
      assert(wm.nonEmpty, "watermark never surfaced in progress rows")
      val last = wm.maxBy(_.batchId)
      // watermark = max event (300s) - 5s delay; lag = newest event -
      // watermark. Both events in the same progress history.
      assert(last.watermarkDelayMs.exists(_ >= 0L))
      assert(rows.exists(_.stateRowsTotal.exists(_ > 0L)),
        "window aggregate state not reported")
    } finally q3.stop()
  }

  test("streaming quality gate scores and filters with a batch-trained model") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.QualityModel
    // train offline on a separable batch corpus
    val batch = spark.createDataFrame(Seq(
      (0L, "excellent clear prose", 1.0), (1L, "wonderful precise text", 1.0),
      (2L, "spam click buy now", 0.0), (3L, "cheap garbage spam", 0.0)))
      .toDF("doc_id", "text", "y")
    val model = QualityModel.trainLogReg(spark,
      QualityModel.hashedFeatures(batch, "doc_id", "text", 128),
      batch.select(col("doc_id"), col("y")), 128, iters = 5, lr = 2.0)
    // gate a stream with it — stateless projection, no watermark
    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("doc_id", "text")
    val gated = StreamOps.streamingQualityGate(stream, "doc_id", "text", model)
    val q = gated.writeStream.format("memory").queryName("qgate")
      .outputMode("append").start()
    try {
      in.addData((10L, "excellent precise prose"), (11L, "spam buy cheap now"))
      q.processAllAvailable()
      val rows = spark.table("qgate").collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
      assert(rows(10L)._2 && !rows(11L)._2,
        s"gate did not separate the stream: $rows")
      assert(rows(10L)._1 > rows(11L)._1)
      // the streaming score equals the batch inline score exactly
      val batchScore = spark.createDataFrame(Seq((10L, "excellent precise prose")))
        .toDF("doc_id", "text")
        .select(QualityModel.scoreInline(col("text"), model)).head().getDouble(0)
      assert(rows(10L)._1 === batchScore)
    } finally q.stop()
  }

  test("unigram segment runs unchanged on a stream and equals the batch encode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // train offline; the encode is a stateless partition map, so it
    // applies to a stream as-is — the dataloader-facing backfill shape
    val batch = spark.createDataFrame(Seq(
      (0L, "the cat sat on the mat"), (1L, "concatenate the catalogue"),
      (2L, "rats and cats cohabitate"))).toDF("doc_id", "text")
    val model = graft.operators.UnigramLm.train(batch, "text",
      maxLen = 4, seedSize = 20, iters = 1)
    val in = MemoryStream[(Long, String)]
    val seg = graft.operators.UnigramLm.segment(
      in.toDF().toDF("doc_id", "text"), "text", model)
    val q = seg.writeStream.format("memory").queryName("useg")
      .outputMode("append").start()
    try {
      in.addData((10L, "the cat catalogue"), (11L, "cats cohabitate"))
      q.processAllAvailable()
      val streamed = spark.table("useg").collect()
        .map(r => r.getLong(0) -> r.getAs[Seq[String]]("unigram_pieces")).toMap
      val batched = graft.operators.UnigramLm.segment(
        spark.createDataFrame(Seq((10L, "the cat catalogue"),
          (11L, "cats cohabitate"))).toDF("doc_id", "text"), "text", model)
        .collect().map(r => r.getLong(0) -> r.getAs[Seq[String]]("unigram_pieces")).toMap
      assert(streamed == batched, s"stream $streamed != batch $batched")
    } finally q.stop()
  }

  test("streaming bloom dedup gates arrivals against an offline filter") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sketches
    val bits = 1 << 16
    val existing = Seq("doc-a", "doc-b", "doc-c").toDF("k")
    val packed = Sketches.packBits(Sketches.bloomBuild(existing, "k", bits, 4), bits)
    val in = MemoryStream[(Long, String)]
    val gated = StreamOps.streamingBloomDedup(in.toDF().toDF("doc_id", "k"),
      "doc_id", "k", packed, bits, 4)
    val q = gated.writeStream.format("memory").queryName("bloomgate")
      .outputMode("append").start()
    try {
      in.addData((1L, "doc-a"), (2L, "fresh-doc"), (3L, "doc-c"))
      q.processAllAvailable()
      val rows = spark.table("bloomgate").collect()
        .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
      // indexed keys flagged (no false negatives), fresh key kept
      assert(rows(1L) == ((true, false)) && rows(3L) == ((true, false)))
      assert(rows(2L) == ((false, true)))
      // streaming verdicts equal the batch join form exactly
      val batch = Sketches.bloomMightContain(
        Sketches.bloomBuild(existing, "k", bits, 4),
        Seq("doc-a", "fresh-doc", "doc-c").toDF("k"), "k", bits, 4)
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      assert(batch("doc-a") && !batch("fresh-doc") && batch("doc-c"))
    } finally q.stop()
  }

  test("streaming contamination flags docs sharing benchmark n-grams") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextDedup
    val bench = Seq((1L, "a b c d e f g h i j k l")).toDF("doc_id", "text")
    // benchmark gram set via the batch pipeline's hash fold (the same
    // 60-bit md5 prefix the streaming side replays)
    val grams = TextDedup.shingles(bench, "doc_id", "text", 8, distinct = false)
      .select(conv(substring(md5(col("sh")), 1, 15), 16, 10).cast("long").as("h"))
      .distinct().as[Long].collect().toSeq
    assert(grams.length == 5) // 12 words → 5 distinct 8-grams
    val in = MemoryStream[(Long, String)]
    val out = StreamOps.streamingContamination(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", grams)
    val q = out.writeStream.format("memory").queryName("contam_stream")
      .outputMode("append").start()
    try {
      in.addData(
        (10L, "a b c d e f g h i j zz"),  // shares grams 1-3 of the benchmark
        (11L, "totally different words that never overlap benchmark text here"),
        (12L, "too short"))               // < 8 words: zero grams
      q.processAllAvailable()
      val got = spark.table("contam_stream")
        .collect().map(r => r.getLong(0) ->
          (r.getInt(1), r.getInt(2), r.getBoolean(3))).toMap
      assert(got(10L)._2 > 0 && got(10L)._3, s"got $got")
      assert(got(11L) == (2, 0, false), s"got $got") // 9 words → 2 grams, no hits
      assert(got(12L) == (0, 0, false), s"got $got")
    } finally q.stop()
  }

  test("streaming ewm equals the batch recurrence across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Double)]
    val out = StreamOps.streamingEwm(in.toDS(), alpha = 0.3)
    val q = out.toDF().toDF("k", "seq", "ewm")
      .writeStream.format("memory").queryName("ewm_stream")
      .outputMode("append").start()
    try {
      val rows = Seq((1L, 0L, 5.0), (1L, 1L, 7.0), (2L, 0L, 1.0),
        (1L, 2L, -3.0), (2L, 1L, 4.0), (1L, 3L, 9.0))
      in.addData(rows.take(3): _*) // split mid-key: state must carry over
      q.processAllAvailable()
      in.addData(rows.drop(3): _*)
      q.processAllAvailable()
      val got = spark.table("ewm_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val batch = graft.operators.Recurrence.ewm(
          rows.toDF("k", "seq", "v"), "k", Seq("seq"), "v", alpha = 0.3)
        .select("k", "seq", "ewm").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got == batch, s"got $got want $batch")
    } finally q.stop()
  }

  test("streaming heavy hitters: sharded MG state stays bounded with a sound count bound") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val out = StreamOps.streamingHeavyHitters(in.toDS(), k = 4, shards = 1)
    val q = out.toDF().toDF("token", "est", "max_undercount")
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode("update").start()
    try {
      in.addData(Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c"): _*)
      q.processAllAvailable()
      val b1 = spark.table("hh_stream").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // ≤ k distinct tokens so MG is exact: verbatim counts, no decrements
      assert(b1 == Map("a" -> ((5L, 0L)), "b" -> ((3L, 0L)), "c" -> ((1L, 0L))),
        s"got $b1")
      val n1 = spark.table("hh_stream").count().toInt
      // eviction pressure: 6 fresh singletons + 4 more of the heavy token
      in.addData(Seq.fill(4)("a") ++ Seq("d", "e", "f", "g", "h", "i"): _*)
      q.processAllAvailable()
      val b2 = spark.table("hh_stream").collect().drop(n1)
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(b2.length <= 4, s"state leaked past k: $b2") // ≤ k survivors
      // the heavy token (true count 9) survives with a sound bracket:
      // est ≤ true ≤ est + max_undercount
      val a = b2.find(_._1 == "a").getOrElse(fail(s"heavy token evicted: $b2"))
      assert(a._2 <= 9L && a._2 + a._3 >= 9L, s"bound violated: $a")
    } finally q.stop()
  }

  test("streaming vector search probes a static IVF index, scores equal batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Clustering
    def vec(seed: Int): Seq[Float] =
      (0 until 8).map(d => (((seed * 31 + d) * 2654435761L % 1000) / 500.0f) - 1.0f)
    val corpus = (0L until 20L).map(i => (i, vec(i.toInt)))
      .toDF("vec_id", "embedding")
    val cents = Clustering.seedCentroids(corpus, "vec_id", "embedding", 3)
    val index = Clustering.assignCells(corpus, "vec_id", "embedding", cents)
      .cache()
    val in = MemoryStream[(Long, Seq[Float])]
    val out = StreamOps.streamingVectorSearch(
      in.toDF().toDF("query_id", "qv"), index, cents, nprobe = 2)
    val q = out.writeStream.format("memory").queryName("vsearch")
      .outputMode("append").start()
    try {
      in.addData((0L, vec(0)), (7L, vec(7)))
      q.processAllAvailable()
      val got = spark.table("vsearch").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // batch reference: ivfTopK with k >= all candidates keeps every
      // probed-cell candidate with the identical cosine expression
      val batchQ = Seq((0L, vec(0)), (7L, vec(7))).toDF("query_id", "qv")
      val want = Clustering.ivfTopK(batchQ, corpus, "vec_id", "embedding",
          nlist = 3, nprobe = 2, k = 1000)
        .select("query_id", "vec_id", "c").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want, s"stream ${got.size} vs batch ${want.size}")
      assert(got.nonEmpty && got.forall(t => t._1 != t._2))
    } finally { q.stop(); index.unpersist() }
  }

  test("ingest front door e2e: streaming run equals the batch run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{QualityModel, Sketches, TextDedup}
    // --- offline artifacts: corpus bloom filter, near-dup index, model,
    // and an EMPTY window index: the purge stage must pass text through
    val corpus = Seq(
      (100L, "excellent clear precise prose alpha beta gamma delta epsilon zeta"),
      (200L, "p q r s t u v w x y z aa")).toDF("doc_id", "text")
    val bits = 1 << 16
    val packed = Sketches.packBits(Sketches.bloomBuild(corpus, "text", bits, 4), bits)
    val index = StreamOps.nearDupIndex(corpus, "doc_id", "text").cache()
    val noWindows = TextDedup.windowHashIndex(corpus.limit(0), "text",
      windowWords = 4)
    val train = spark.createDataFrame(Seq(
      (0L, "excellent clear prose", 1.0), (1L, "wonderful precise text", 1.0),
      (2L, "spam click buy now", 0.0), (3L, "cheap garbage spam", 0.0)))
      .toDF("doc_id", "text", "y")
    val model = QualityModel.trainLogReg(spark,
      QualityModel.hashedFeatures(train, "doc_id", "text", 128),
      train.select(col("doc_id"), col("y")), 128, iters = 5, lr = 2.0)
    // --- arrivals: per-source totals chosen order-independent (a's docs
    // all fit; b's reject is oversized ALONE) so batch group order and
    // stream arrival order give identical verdicts
    val batch1 = Seq(
      (1L, "a", "excellent clear precise prose alpha beta gamma delta epsilon zeta"), // exact corpus dup → bloom drop
      (2L, "a", "excellent clear precise prose indeed"),  // admitted, 5 toks
      (3L, "a", "spam click buy cheap now"))              // quality drop
    val batch2 = Seq(
      (4L, "a", "excellent clear precise prose alpha beta gamma delta epsilon eta"), // near-dup of 100 → candidate + admitted
      (5L, "b", Seq.fill(30)("excellent clear precise prose").mkString(" ")), // 120 toks > budget alone
      (6L, "b", "excellent clear prose today friends yes")) // admitted, 6 toks
    val in = MemoryStream[(Long, String, String)]
    val stream = in.toDF().toDF("doc_id", "source", "text")
    val (admitted, cands) = StreamOps.ingestFrontDoorV2(stream,
      "doc_id", "source", "text", packed, bits, 4, model, 0.5,
      index, nearDupThreshold = 0.5, winIndex = noWindows,
      budgetPerSource = 100L)
    val qa = admitted.writeStream.format("memory").queryName("fd_admitted")
      .outputMode("append").start()
    val qc = cands.writeStream.format("memory").queryName("fd_cands")
      .outputMode("append").start()
    try {
      in.addData(batch1: _*)
      qa.processAllAvailable(); qc.processAllAvailable()
      in.addData(batch2: _*)
      qa.processAllAvailable(); qc.processAllAvailable()
      val gotAdm = spark.table("fd_admitted")
        .select("source", "doc_id", "tokens", "admitted").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .toSet
      assert(gotAdm == Set(
        ("a", 2L, 5L, true), ("a", 4L, 10L, true),
        ("b", 5L, 120L, false), ("b", 6L, 6L, true)), s"got $gotAdm")
      val gotCands = spark.table("fd_cands")
        .select("doc_id", "corpus_id").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotCands == Set((4L, 100L)), s"got $gotCands")
      // nothing is indexed, so nothing is purged: every admitted-stream
      // row keeps its arrival text whole
      val texts = (batch1 ++ batch2).map(t => t._1 -> t._3).toMap
      val purged = spark.table("fd_admitted")
        .select("doc_id", "n_removed", "text_clean").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      assert(purged.length == gotAdm.size &&
        purged.forall(t => t._2 == 0L && t._3 == texts(t._1)),
        s"got ${purged.toSeq}")
      // --- batch-equivalence: the SAME composition on a batch frame
      // (backfill mode) must produce identical admissions and candidates
      val batchDf = (batch1 ++ batch2).toDF("doc_id", "source", "text")
      val (bAdm, bCands) = StreamOps.ingestFrontDoorV2(batchDf,
        "doc_id", "source", "text", packed, bits, 4, model, 0.5,
        index, nearDupThreshold = 0.5, winIndex = noWindows,
        budgetPerSource = 100L)
      val bAdmSet = bAdm.select("source", "doc_id", "tokens", "admitted")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .toSet
      val bCandSet = bCands.select("doc_id", "corpus_id").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(bAdmSet == gotAdm, s"batch $bAdmSet vs stream $gotAdm")
      assert(bCandSet == gotCands, s"batch $bCandSet vs stream $gotCands")
    } finally { qa.stop(); qc.stop(); index.unpersist() }
  }

  test("ingest front door v2: stream equals batch, purge stage equals purgeAgainstIndex") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{QualityModel, Sketches, TextDedup}
    // --- offline artifacts: corpus bloom, near-dup index, model, and
    // the stored window-hash index the purge gate bakes into the plan
    val corpus = Seq(
      (100L, "excellent clear precise prose alpha beta gamma delta epsilon zeta"),
      (200L, "p q r s t u v w x y z aa")).toDF("doc_id", "text")
    val bits = 1 << 16
    val packed = Sketches.packBits(Sketches.bloomBuild(corpus, "text", bits, 4), bits)
    val index = StreamOps.nearDupIndex(corpus, "doc_id", "text").cache()
    val winIndex = TextDedup.windowHashIndex(corpus, "text", windowWords = 4)
      .cache()
    val train = spark.createDataFrame(Seq(
      (0L, "excellent clear prose", 1.0), (1L, "wonderful precise text", 1.0),
      (2L, "spam click buy now", 0.0), (3L, "cheap garbage spam", 0.0)))
      .toDF("doc_id", "text", "y")
    val model = QualityModel.trainLogReg(spark,
      QualityModel.hashedFeatures(train, "doc_id", "text", 128),
      train.select(col("doc_id"), col("y")), 128, iters = 5, lr = 2.0)
    // --- arrivals: doc 4 shares indexed 4-windows with corpus 100 (its
    // prefix windows purge); doc 2 shares none; doc 3 fails quality;
    // doc 1 is an exact corpus dup (bloom drop); docs 5/6 drive the
    // budget on CLEANED counts
    val batch1 = Seq(
      (1L, "a", "excellent clear precise prose alpha beta gamma delta epsilon zeta"),
      (2L, "a", "excellent clear precise prose indeed"),
      (3L, "a", "spam click buy cheap now"))
    val batch2 = Seq(
      (4L, "a", "excellent clear precise prose alpha beta gamma delta epsilon eta"),
      (5L, "b", Seq.fill(30)("excellent clear precise prose").mkString(" ")),
      (6L, "b", "excellent clear prose today friends yes"))
    val in = MemoryStream[(Long, String, String)]
    val stream = in.toDF().toDF("doc_id", "source", "text")
    val (admitted, cands) = StreamOps.ingestFrontDoorV2(stream,
      "doc_id", "source", "text", packed, bits, 4, model, 0.5,
      index, nearDupThreshold = 0.5, winIndex = winIndex,
      budgetPerSource = 100L)
    val qa = admitted.writeStream.format("memory").queryName("fd2_admitted")
      .outputMode("append").start()
    val qc = cands.writeStream.format("memory").queryName("fd2_cands")
      .outputMode("append").start()
    try {
      in.addData(batch1: _*)
      qa.processAllAvailable(); qc.processAllAvailable()
      in.addData(batch2: _*)
      qa.processAllAvailable(); qc.processAllAvailable()
      def admRows(df: org.apache.spark.sql.DataFrame) = df
        .select("source", "doc_id", "tokens", "n_removed", "text_clean",
          "admitted").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getBoolean(5))).toSet
      val gotAdm = admRows(spark.table("fd2_admitted"))
      val gotCands = spark.table("fd2_cands")
        .select("doc_id", "corpus_id").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // purge visibly fired: doc 4 shares its 7-window prefix with
      // corpus 100 (all but the last word purges, 9 of 10); doc 5 is
      // wall-to-wall indexed windows (fully purged, admitted at 0
      // cleaned tokens); doc 6 shares no indexed window (kept whole)
      assert(gotAdm.exists(t => t._2 == 4L && t._4 == 9L), s"got $gotAdm")
      assert(gotAdm.exists(t => t._2 == 5L && t._4 == 120L && t._5 == "" &&
        t._6), s"got $gotAdm")
      assert(gotAdm.exists(t => t._2 == 6L && t._4 == 0L), s"got $gotAdm")
      assert(gotCands == Set((4L, 100L)), s"got $gotCands")
      // --- stream == batch backfill of the SAME composition
      val batchDf = (batch1 ++ batch2).toDF("doc_id", "source", "text")
      val (bAdm, bCands) = StreamOps.ingestFrontDoorV2(batchDf,
        "doc_id", "source", "text", packed, bits, 4, model, 0.5,
        index, nearDupThreshold = 0.5, winIndex = winIndex,
        budgetPerSource = 100L)
      assert(admRows(bAdm) == gotAdm)
      assert(bCands.select("doc_id", "corpus_id").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet == gotCands)
      // --- the purge stage IS the batch operator: for the gate
      // survivors, (n_removed, text_clean) must equal
      // purgeAgainstIndex(survivors, winIndex) row for row
      val survivors = batchDf
        .withColumn("might_dup", Sketches.mightContainInline(
          col("text"), packed, bits, 4))
        .filter(!col("might_dup"))
        .withColumn("quality", QualityModel.scoreInline(col("text"), model))
        .filter(col("quality") >= 0.5)
        .select("doc_id", "text")
      val batchPurge = TextDedup.purgeAgainstIndex(survivors, winIndex,
          "doc_id", "text", windowWords = 4)
        .select("doc_id", "n_removed", "text_clean").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val gatePurge = gotAdm.map(t => (t._2, t._4, t._5))
      assert(gatePurge == batchPurge,
        s"gate $gatePurge vs batch operator $batchPurge")
    } finally { qa.stop(); qc.stop(); index.unpersist(); winIndex.unpersist() }
  }

  test("streamingLatestState: latest row per key survives batches, idle keys silent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Long, Double)]
    val out = StreamOps.streamingLatestState(in.toDS())
    val q = out.toDF().toDF("key", "ts", "tie", "value", "n")
      .writeStream.format("memory").queryName("latest_stream")
      .outputMode("append").start()
    try {
      in.addData(("k1", 100L, 1L, 1.0), ("k1", 200L, 2L, 2.0),
        ("k2", 50L, 3L, 9.0))
      q.processAllAvailable()
      // batch 2: k1 gets an OLDER row (must not win) and a same-ts row
      // with a larger tie (must win); k2 is idle
      in.addData(("k1", 150L, 4L, 7.0), ("k1", 200L, 5L, 8.0))
      q.processAllAvailable()
      val rows = spark.table("latest_stream").collect()
        .map(r => (r.getString(0), r.getLong(4)) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3))))
        .toMap
      assert(rows(("k1", 2L)) == ((200L, 2L, 2.0)))  // after batch 1
      assert(rows(("k2", 1L)) == ((50L, 3L, 9.0)))
      assert(rows(("k1", 4L)) == ((200L, 5L, 8.0)))  // tie id 5 wins
      // k2 emitted exactly once (idle in batch 2)
      assert(spark.table("latest_stream")
        .filter(col("key") === "k2").count() == 1L)
    } finally q.stop()
  }

  test("scriptProfile: streaming output equals the batch operator row-for-row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the r18 one-pass kernel is a stateless projection, so the SAME
    // batch function runs unchanged on a stream; mixed-script rows
    // exercise all six counters (non-BMP emoji lands in n_other)
    val docs = Seq(
      (1L, "hello world 42"),
      (2L, "\u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440 99"),
      (3L, "\u6f22\u5b57 text \u0645\u0631\u062d\u0628\u0627 \ud83d\ude00"),
      (4L, ""))
    val in = MemoryStream[(Long, String)]
    val out = graft.operators.TextQuality.scriptProfile(
      in.toDF.toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("script_stream")
      .outputMode("append").start()
    try {
      in.addData(docs: _*)
      q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7))).toSet
      val got = rows(spark.table("script_stream"))
      val want = rows(graft.operators.TextQuality.scriptProfile(
        docs.toDF("doc_id", "text"), "doc_id", "text"))
      assert(got == want, s"stream $got vs batch $want")
      assert(got.exists(t => t._1 == 4L && t._8 == "empty"))
      assert(got.exists(t => t._1 == 2L && t._8 == "cyrillic"))
    } finally q.stop()
  }

  test("c4FilterLines: streaming output equals the batch operator row-for-row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // lines firing all three rules: short line, no terminal punctuation,
    // blocked substring — the operator is a stateless projection, so the
    // SAME batch function runs on the stream and must agree exactly
    val docs = Seq(
      (1L, "This line has plenty of words and ends well.\nshort line\nA second good line with enough words to survive here!"),
      (2L, "Contains javascript so it goes even with many words in it.\nAnother fine sentence with more than five words?"),
      (3L, "no terminal punctuation on this long enough line at all"))
    val in = MemoryStream[(Long, String)]
    val out = graft.operators.TextExtract.c4FilterLines(
      in.toDF.toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("c4_stream")
      .outputMode("append").start()
    try {
      in.addData(docs: _*)
      q.processAllAvailable()
      val got = spark.table("c4_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      val batch = graft.operators.TextExtract.c4FilterLines(
          docs.toDF("doc_id", "text"), "doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      assert(got === batch, s"stream $got vs batch $batch")
      assert(batch.find(_._1 == 1L).get._3 == 2L)  // the rules actually fired
    } finally q.stop()
  }

  test("gopherLineRules: streaming output equals the batch operator row-for-row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "- bullet one\n- bullet two\n- bullet three"),        // bullet-heavy
      (2L, "a trailing thought...\nanother one...\nmore dots..."), // ellipsis-heavy
      (3L, "### # # ## hashes everywhere # #"),                    // symbol-heavy
      (4L, "A perfectly ordinary paragraph of clean readable text here."))
    val in = MemoryStream[(Long, String)]
    val out = graft.operators.TextQuality.gopherLineRules(
      in.toDF.toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("gopher_stream")
      .outputMode("append").start()
    try {
      in.addData(docs: _*)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getBoolean(5), r.getBoolean(6), r.getBoolean(7),
          r.getBoolean(8), r.getBoolean(9))
      val got = spark.table("gopher_stream").collect().map(key).toSet
      val batch = graft.operators.TextQuality.gopherLineRules(
        docs.toDF("doc_id", "text"), "doc_id", "text").collect().map(key).toSet
      assert(got === batch, s"stream $got vs batch $batch")
      // each rule fired on its designed doc; the clean doc keeps
      val keepById = batch.map(t => t._1 -> t._10).toMap
      assert(keepById == Map(1L -> false, 2L -> false, 3L -> false, 4L -> true))
    } finally q.stop()
  }

  test("domain cap: stream first-come == batch best-first when arrival follows score") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // batch capPerDomain admits the best `cap` BY SCORE; the streaming
    // gate admits the first `cap` BY ARRIVAL. Feed docs in descending
    // score order per domain — the two contracts must then agree.
    val in = MemoryStream[(String, Long)]
    val capped = StreamOps.streamingDomainCap(in.toDS(), cap = 2)
    val q = capped.writeStream.format("memory").queryName("cap_agree")
      .outputMode("append").start()
    try {
      in.addData(("a.com", 1L), ("a.com", 2L), ("a.com", 3L),
        ("b.org", 10L), ("b.org", 11L))
      q.processAllAvailable()
      val admitted = spark.table("cap_agree").filter(col("_3"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      // scores decrease with arrival: id 1 scores 3.0, id 2 scores 2.0, ...
      val batch = graft.operators.TextExtract.capPerDomain(
          Seq(("a.com", 1L, 3.0), ("a.com", 2L, 2.0), ("a.com", 3L, 1.0),
            ("b.org", 10L, 2.0), ("b.org", 11L, 1.0))
            .toDF("domain", "doc_id", "score"),
          "doc_id", "domain", "score", cap = 2)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(admitted === batch, s"stream $admitted vs batch $batch")
    } finally q.stop()
  }

  test("domain cap: stream first-come DIFFERS from batch best-first under inversion") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the documented contract difference: a late high-scorer loses its
    // slot in the stream (first-come) but wins it in the batch ranking
    val in = MemoryStream[(String, Long)]
    val capped = StreamOps.streamingDomainCap(in.toDS(), cap = 1)
    val q = capped.writeStream.format("memory").queryName("cap_differ")
      .outputMode("append").start()
    try {
      in.addData(("a.com", 1L))   // arrives first, low score
      q.processAllAvailable()
      in.addData(("a.com", 2L))   // arrives second, HIGH score
      q.processAllAvailable()
      val admitted = spark.table("cap_differ").filter(col("_3"))
        .collect().map(r => r.getLong(1)).toSet
      val batch = graft.operators.TextExtract.capPerDomain(
          Seq(("a.com", 1L, 1.0), ("a.com", 2L, 9.0)).toDF("domain", "doc_id", "score"),
          "doc_id", "domain", "score", cap = 1)
        .collect().map(r => r.getLong(1)).toSet
      assert(admitted === Set(1L))  // stream kept the first arrival
      assert(batch === Set(2L))     // batch kept the best score
      // per-domain admitted COUNT is the invariant both contracts share
      assert(admitted.size == batch.size)
    } finally q.stop()
  }

  test("streaming window-hash purge gate equals batch purgeAgainstIndex") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextDedup
    // stored index: windows of an existing corpus doc
    val idxDocs = Seq(
      (1L, "the quick brown fox was here today ok")).toDF("doc_id", "text")
    val winIndex = TextDedup.windowHashIndex(idxDocs, "text", windowWords = 4)
    val batchRows = Seq(
      (10L, "the quick brown fox was elsewhere entirely"), // indexed run purges
      (11L, "zz yy xx ww vv zz yy xx ww vv"),              // batch-local dup survives
      (12L, "the quick brown fox was here today ok"),      // fully indexed -> empty
      (13L, ""))                                           // degenerate
    val in = MemoryStream[(Long, String)]
    val gate = StreamOps.windowPurgeGate(
      in.toDF().toDF("doc_id", "text"), winIndex, "doc_id", "text",
      windowWords = 4)
    val q = gate.writeStream.format("memory").queryName("purge_gate")
      .outputMode("append").start()
    try {
      in.addData(batchRows: _*)
      q.processAllAvailable()
      val stream = spark.table("purge_gate").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(_._1).toSeq
      // stream==batch differential: the stateless kernel gate must
      // reproduce the batch semi-join operator row for row
      val batch = TextDedup.purgeAgainstIndex(
          batchRows.toDF("doc_id", "text"), winIndex, "doc_id", "text",
          windowWords = 4)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(_._1).toSeq
      assert(stream == batch, s"stream=$stream batch=$batch")
      // and the known-answer spot checks
      val byId = stream.map(t => t._1 -> t).toMap
      assert(byId(10L) == ((10L, 7L, 5L, "elsewhere entirely")))
      assert(byId(11L)._3 == 0L)
      assert(byId(12L)._4 == "")
    } finally q.stop()
  }

  test("windowPurgeGate rejects an oversized or mis-typed index") {
    import spark.implicits._
    val good = graft.operators.TextDedup.windowHashIndex(
      Seq((1L, "a b c d e")).toDF("doc_id", "text"), "text", 4)
    intercept[IllegalArgumentException] {
      StreamOps.windowPurgeGate(Seq((1L, "x")).toDF("doc_id", "text"),
        good, "doc_id", "text", maxIndexRows = 0)
    }
    intercept[IllegalArgumentException] {
      StreamOps.windowPurgeGate(Seq((1L, "x")).toDF("doc_id", "text"),
        Seq("aa").toDF("__h"), "doc_id", "text") // hex string, not binary
    }
  }

  test("front door v2 recovers offsets and budget state from a checkpoint restart") {
    // The property a production ingest front door actually relies on:
    // kill the query mid-stream, restart from the SAME checkpoint, and
    // the per-source token-budget counters (flatMapGroupsWithState
    // state) resume where they stopped — post-restart admissions equal
    // the uninterrupted run's, including a doc the budget REJECTS only
    // because the restored counter remembers pre-restart spending.
    // Sink is foreachBatch (the memory sink refuses checkpoint
    // recovery by design); rows are keyed by batchId so a replayed
    // uncommitted batch overwrites instead of duplicating.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{QualityModel, Sketches, TextDedup}
    val corpus = Seq((100L, "zz yy xx ww vv uu tt ss"))
      .toDF("doc_id", "text")
    val bits = 1 << 12
    val packed = Sketches.packBits(
      Sketches.bloomBuild(corpus, "text", bits, 4), bits)
    val index = StreamOps.nearDupIndex(corpus, "doc_id", "text").cache()
    val winIndex = TextDedup.windowHashIndex(corpus, "text",
      windowWords = 4).cache()
    val train = spark.createDataFrame(Seq(
      (0L, "excellent clear prose", 1.0), (1L, "wonderful precise text", 1.0),
      (2L, "spam click buy now", 0.0), (3L, "cheap garbage spam", 0.0)))
      .toDF("doc_id", "text", "y")
    val model = QualityModel.trainLogReg(spark,
      QualityModel.hashedFeatures(train, "doc_id", "text", 128),
      train.select(col("doc_id"), col("y")), 128, iters = 5, lr = 2.0)
    // budget 12 tokens/source: batch1 spends 10 on source a, so
    // batch2's 5-token source-a doc must be REJECTED — but only a
    // restored budget counter knows about the 10.
    val batch1 = Seq(
      (1L, "a", "excellent clear precise prose one two three four five six"),
      (2L, "b", "excellent clear prose"))
    val batch2 = Seq(
      (3L, "a", "excellent clear prose again yes"),
      (4L, "b", "excellent clear prose more"))
    type Adm = (String, Long, Long, Boolean)
    def admitted(stream: org.apache.spark.sql.DataFrame) =
      StreamOps.ingestFrontDoorV2(stream, "doc_id", "source", "text",
        packed, bits, 4, model, qualityThreshold = 0.0, index,
        nearDupThreshold = 0.99, winIndex = winIndex,
        budgetPerSource = 12L)._1
    def collectTo(buf: scala.collection.mutable.Map[Long, Set[Adm]])(
        df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        id: Long): Unit = {
      val rows = df.select("source", "doc_id", "tokens", "admitted")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3))).toSet
      buf.synchronized { buf(id) = rows }
    }
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_fd2_ckpt").toString
    val in = MemoryStream[(Long, String, String)]
    val got = scala.collection.mutable.Map.empty[Long, Set[Adm]]
    val q1 = admitted(in.toDF().toDF("doc_id", "source", "text"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch(collectTo(got) _)
      .start()
    try {
      in.addData(batch1: _*)
      q1.processAllAvailable()
    } finally q1.stop()
    // restart: same source instance, same checkpoint, fresh query
    in.addData(batch2: _*)
    val q2 = admitted(in.toDF().toDF("doc_id", "source", "text"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch(collectTo(got) _)
      .start()
    try q2.processAllAvailable() finally q2.stop()
    val interrupted = got.synchronized { got.values.flatten.toSet }
    // uninterrupted twin: fresh source + fresh checkpoint, same data
    val in2 = MemoryStream[(Long, String, String)]
    val got2 = scala.collection.mutable.Map.empty[Long, Set[Adm]]
    val q3 = admitted(in2.toDF().toDF("doc_id", "source", "text"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_fd2_ckpt2").toString)
      .foreachBatch(collectTo(got2) _)
      .start()
    try {
      in2.addData(batch1: _*)
      q3.processAllAvailable()
      in2.addData(batch2: _*)
      q3.processAllAvailable()
    } finally { q3.stop(); index.unpersist(); winIndex.unpersist() }
    val uninterrupted = got2.synchronized { got2.values.flatten.toSet }
    assert(interrupted == uninterrupted,
      s"interrupted $interrupted vs uninterrupted $uninterrupted")
    // the restart-only evidence: doc 3 rejected by the RESTORED
    // counter (10 spent pre-restart + 5 > 12), doc 4 admitted (3+4)
    assert(interrupted.exists(t => t._2 == 3L && !t._4),
      s"doc 3 should exceed the restored source-a budget: $interrupted")
    assert(interrupted.exists(t => t._2 == 4L && t._4),
      s"doc 4 should fit the restored source-b budget: $interrupted")
  }

  test("streamingLatestState restores per-key latest + count across a checkpoint restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    type Out = (String, Long, Long, Double, Long)
    def collectTo(buf: scala.collection.mutable.Map[Long, Set[Out]])(
        df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        id: Long): Unit = {
      val rows = df.collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getDouble(3), r.getLong(4))).toSet
      buf.synchronized { buf(id) = rows }
    }
    val b1 = Seq(("k1", 200L, 1L, 2.0), ("k2", 50L, 2L, 9.0))
    // post-restart: k1 gets an OLDER row — with restored state the
    // stored (ts 200) row stays the winner and the seen-count reads 2;
    // lost state would emit (150, n=1)
    val b2 = Seq(("k1", 150L, 3L, 7.0))
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_latest_ckpt").toString
    val in = MemoryStream[(String, Long, Long, Double)]
    val got = scala.collection.mutable.Map.empty[Long, Set[Out]]
    def start(src: MemoryStream[(String, Long, Long, Double)], dir: String,
        buf: scala.collection.mutable.Map[Long, Set[Out]]) =
      StreamOps.streamingLatestState(src.toDS()).toDF()
        .writeStream.outputMode("append")
        .option("checkpointLocation", dir)
        .foreachBatch(collectTo(buf) _)
        .start()
    val q1 = start(in, ckpt, got)
    try { in.addData(b1: _*); q1.processAllAvailable() } finally q1.stop()
    in.addData(b2: _*)
    val q2 = start(in, ckpt, got)
    try q2.processAllAvailable() finally q2.stop()
    val interrupted = got.synchronized { got.values.flatten.toSet }
    val in2 = MemoryStream[(String, Long, Long, Double)]
    val got2 = scala.collection.mutable.Map.empty[Long, Set[Out]]
    val q3 = start(in2, java.nio.file.Files
      .createTempDirectory("graft_latest_ckpt2").toString, got2)
    try {
      in2.addData(b1: _*); q3.processAllAvailable()
      in2.addData(b2: _*); q3.processAllAvailable()
    } finally q3.stop()
    val uninterrupted = got2.synchronized { got2.values.flatten.toSet }
    assert(interrupted == uninterrupted,
      s"interrupted $interrupted vs uninterrupted $uninterrupted")
    // restored-state evidence: post-restart k1 emission kept ts 200
    // (the pre-restart winner) with seen-count 2
    assert(interrupted.contains(("k1", 200L, 1L, 2.0, 2L)),
      s"k1 should keep the pre-restart winner with n=2: $interrupted")
  }
}
