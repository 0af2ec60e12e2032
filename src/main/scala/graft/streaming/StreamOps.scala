package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.{BandBank, MinHashBands, NearDupProbe, Shipped, WindowKeys}

/** Streaming variants of the batch operators (engine extension — the
  * reference has no streaming surface at all, SURVEY §2.10): the same
  * declarative plans run incrementally under Structured Streaming with
  * event-time watermarks bounding state.
  *
  * Each entry point takes/returns DataFrames so a batch frame and a
  * `readStream` frame are interchangeable — the Spark property that
  * makes the batch operator inventory double as a streaming one.
  */
object StreamOps {

  /** Tumbling event-time window aggregate with a watermark: the
    * streaming form of `resample` (§2.6). State is dropped once the
    * watermark passes a window's end.
    */
  def windowedStats(events: DataFrame, tsCol: String, valueCol: String,
      windowDur: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur))
      .agg(count(lit(1)).as("n"), sum(valueCol).as("total"),
        avg(valueCol).as("mean"))
      .select(col("window.start").as("window_start"), col("n"),
        col("total"), col("mean"))

  /** Streaming exact dedup by arbitrary key columns (the streaming form
    * of the LLM pipeline's content-hash dedup): duplicates arriving
    * within the watermark horizon are dropped, state expires after it.
    */
  def streamingDedup(df: DataFrame, tsCol: String, watermarkDelay: String,
      keyCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Session windows with an inactivity gap — the event-time
    * sessionization operator (no batch analogue in the reference).
    */
  def sessionCounts(events: DataFrame, tsCol: String, keyCol: String,
      gap: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol), col("session_window.start").as("session_start"),
        col("n_events"))

  /** Stream-static enrichment join: the streaming side joins a batch
    * dimension table (broadcast by Catalyst when small) — the streaming
    * form of the star-schema join (§2.3). Stateless: no watermark
    * needed on the static side.
    */
  def enrich(stream: DataFrame, dim: DataFrame, on: Seq[String]): DataFrame =
    stream.join(dim, on)

  /** Stream-stream inner join with event-time range: each side
    * watermarked, right events join left events within `within` after
    * them — state on both sides is bounded by the watermark + interval
    * (the streaming as-of-like join, §2.3 analogue).
    */
  def joinWithin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String, watermarkDelay: String,
      within: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    l.join(r, expr(s"$leftKey = $rightKey AND $rightTs >= $leftTs" +
      s" AND $rightTs <= $leftTs + INTERVAL $within"))
  }

  /** Streaming near-duplicate detection against a static corpus index:
    * incoming documents get MinHash band signatures via the PROJECTED
    * form (graft.operators.TextDedup.bandSignaturesProjected — a
    * stateless row-local map, so the streaming plan needs no
    * aggregation state and no watermark), then stream-static join the
    * prebuilt (id, band, sig) index on the bucket key. Emits candidate
    * (stream doc, corpus doc) pairs per micro-batch — the online form
    * of the batch LSH dedup, with the corpus index refreshable out of
    * band. At scale the index side is bucketed on (band, sig) so the
    * per-batch join is a bounded hash probe, never a corpus scan.
    */
  def streamingNearDupCandidates(stream: DataFrame, index: DataFrame,
      idCol: String, textCol: String,
      shingleLen: Int = MinHashBands.ShingleLen,
      numHashes: Int = MinHashBands.NumHashes,
      bandRows: Int = MinHashBands.BandRows): DataFrame = {
    val sigs = graft.operators.TextDedup.bandSignaturesProjected(
      stream, idCol, textCol, shingleLen, numHashes, bandRows)
    sigs.join(index
        .withColumnRenamed(idCol, "corpus_id"), Seq("band", "sig"))
      .filter(col(idCol) =!= col("corpus_id"))
      .select(col(idCol), col("corpus_id"), col("band"))
    // deliberately NOT distinct(): cross-batch dedup would need
    // unbounded streaming state; a pair surfaces once per shared band
    // and consumers collapse it in their (bounded) sink.
  }

  /** Precompute the static side of [[streamingNearDupVerified]]: band
    * signatures AND the per-doc 28-bit shingle hash set for an index
    * corpus. Refresh out of band; at scale store bucketed on
    * (band, sig) so each micro-batch join is a bounded probe. */
  def nearDupIndex(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = MinHashBands.ShingleLen,
      numHashes: Int = MinHashBands.NumHashes,
      bandRows: Int = MinHashBands.BandRows): DataFrame =
    graft.operators.TextDedup.bandSignaturesProjected(
        docs, idCol, textCol, shingleLen, numHashes, bandRows)
      .withColumnRenamed(idCol, "corpus_id")
      .join(docs.select(col(idCol).as("corpus_id"),
        graft.functions.ShingleHashes(col(textCol), shingleLen, 7, dedup = true)
          .as("corpus_hs")), "corpus_id")

  /** Streaming near-dup with the exact-Jaccard verify inline: each
    * incoming doc pays ONE kernel digest (ShingleMinHashSet emits the
    * minhash signature and the 28-bit hash set together — a stateless
    * row-local projection, no self-join of the stream), candidates come
    * from the stream-static bucket join against [[nearDupIndex]], and
    * the verify is a pure projection over the joined hash arrays — no
    * aggregation state, no watermark, no second join. Emits
    * (idCol, corpus_id, jaccard ≥ threshold) once per shared band;
    * consumers collapse repeats in their bounded sink (cross-batch
    * distinct would need unbounded state, same policy as the
    * candidates-only form). This join form serves an index of any size
    * and reads it in every micro-batch; [[ingestFrontDoorV2]] emits the
    * same rows from a bounded index collected once, with no join. */
  def streamingNearDupVerified(stream: DataFrame, index: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      shingleLen: Int = MinHashBands.ShingleLen,
      numHashes: Int = MinHashBands.NumHashes,
      bandRows: Int = MinHashBands.BandRows): DataFrame = {
    val bandStructs = (0 until numHashes / bandRows).map(bi =>
      struct(lit(bi).as("band"), MinHashBands.sig(
        i => element_at(col("__p.mins"), i + 1), bi, bandRows).as("sig")))
    val sigs = stream
      .filter(size(split(col(textCol), " ")) >= shingleLen)
      .select(col(idCol),
        graft.functions.ShingleMinHashSet(col(textCol), shingleLen, numHashes).as("__p"))
      .select(col(idCol), col("__p.hs").as("__hs"),
        explode(array(bandStructs: _*)).as("bs"))
      .select(col(idCol), col("__hs"),
        col("bs.band").as("band"), col("bs.sig").as("sig"))
    sigs.join(index, Seq("band", "sig"))
      .filter(col(idCol) =!= col("corpus_id"))
      .withColumn("__ni", size(array_intersect(col("__hs"), col("corpus_hs"))))
      .withColumn("jaccard", MinHashBands.jaccard(col("__ni"),
        size(col("__hs")), size(col("corpus_hs"))))
      .filter(col("jaccard") >= threshold)
      .select(col(idCol), col("corpus_id"), col("jaccard"))
  }

  /** Streaming perceptual near-dup against a static fingerprint index:
    * the online form of the ImageDedup/AudioDedup batch pipelines. The
    * index is a precomputed (corpus_id, hash) table of 64-bit
    * perceptual hashes (dHash / energy fingerprint); incoming items
    * carry their own hash in `hashCol` (computed upstream by the
    * stateless decode+hash mapPartitions — those run unchanged on a
    * stream). Both sides band-explode into 8 one-byte buckets, the
    * bucket join surfaces candidates, and the hamming verify is an
    * inline projection (both hashes ride the joined row) — stateless,
    * no watermark, any output mode. A matching pair surfaces once per
    * shared band, same contract as [[streamingNearDupCandidates]].
    */
  def streamingHammingMatches(stream: DataFrame, index: DataFrame,
      idCol: String, hashCol: String, maxHamming: Int): DataFrame = {
    def bands(df: DataFrame, id: String, hashOut: String) =
      df.filter(col(hashCol).isNotNull).select(col(id), col(hashCol).as(hashOut),
        posexplode(array((0 until 8).map(b =>
          shiftrightunsigned(col(hashCol), b * 8).bitwiseAND(lit(255L))): _*))
          .as(Seq("band", "sig")))
    bands(stream, idCol, "__hs")
      .join(bands(index.withColumnRenamed(idCol, "corpus_id"), "corpus_id", "__hc"),
        Seq("band", "sig"))
      .filter(col(idCol) =!= col("corpus_id"))
      .withColumn("hamming", bit_count(col("__hs").bitwiseXOR(col("__hc"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col(idCol), col("corpus_id"), col("band"), col("hamming"))
  }

  /** Streaming benchmark-contamination check: each incoming document's
    * distinct n-gram hashes are intersected row-locally against the
    * benchmark gram set, carried as a plan literal (benchmark suites
    * are small and static — the same broadcast-sized assumption as the
    * batch q_contamination, made stateless here). Map-only: no
    * aggregation state, no watermark, works in any output mode. The
    * gram hashing replays TextDedup's md5→60-bit fold, so online
    * verdicts are comparable with the batch pipeline's.
    */
  def streamingContamination(stream: DataFrame, idCol: String, textCol: String,
      benchGrams: Seq[Long], n: Int = 8): DataFrame = {
    stream
      .select(col(idCol),
        graft.functions.ShingleHashes(col(textCol), n, 15, dedup = true).as("__g"))
      .select(col(idCol), size(col("__g")).as("n_grams"),
        size(array_intersect(col("__g"), typedLit(benchGrams))).as("n_hit"))
      .withColumn("contaminated", col("n_hit") > 0)
  }

  /** Streaming quality gate: score each arriving document with a
    * batch-trained hashed-LR model ([[graft.operators.QualityModel]])
    * and flag whether it clears `threshold`. The O(B) dense weight
    * vector ships once per executor as a broadcast variable and a
    * stateless per-row projection reads it
    * ([[graft.operators.QualityModel.scoreInline]]) — no shuffle, no
    * state, no watermark: the train-offline / filter-online split a
    * production ingest pipeline uses.
    *
    * Null contract: scoreInline maps a ZERO-TOKEN document to null
    * (not NaN — Spark orders NaN above every number, so a NaN would
    * silently PASS any `quality >= t` gate). Here that means
    * `quality` is null and `keep` is null for empty documents —
    * downstream consumers that want to admit or count them must
    * handle the null explicitly (e.g. `coalesce(keep, false)`).
    */
  def streamingQualityGate(stream: DataFrame, idCol: String, textCol: String,
      model: graft.operators.QualityModel.Model,
      threshold: Double = 0.5): DataFrame =
    stream.select(col(idCol),
      graft.operators.QualityModel.scoreInline(col(textCol), model).as("quality"))
      .withColumn("keep", col("quality") >= threshold)

  /** Cross-snapshot dedup at ingest: probe each arriving document's
    * content hash against a Bloom filter built offline over the
    * existing corpus ([[graft.operators.Sketches.bloomBuild]] →
    * `packBits`), applied as a STATELESS projection — the packed words
    * ship once per executor as a broadcast variable that the
    * `graft_bloom_probe` kernel reads
    * ([[graft.operators.Sketches.mightContainInline]]), so there is no
    * stream-static join, no shuffle, no state store. No false
    * negatives: a `keep = false` row is guaranteed-new; duplicates
    * slip through only at the filter's false-positive rate, the
    * standard ingest-gate trade. */
  def streamingBloomDedup(stream: DataFrame, idCol: String, keyCol: String,
      packed: Array[Long], bits: Int, hashes: Int): DataFrame =
    stream.select(col(idCol),
      graft.operators.Sketches.mightContainInline(col(keyCol), packed, bits,
        hashes).as("might_dup"))
      .withColumn("keep", !col("might_dup"))

  /** Collect a BOUNDED window-hash index into the key bank the
    * stateless purge gate ships to its executors; fails fast, naming
    * `caller`, on schema drift or an index that belongs on the batch
    * path. */
  private def purgeGateKeys(winIndex: DataFrame, maxIndexRows: Int,
      caller: String): Shipped[WindowKeys] = {
    // limit(maxIndexRows + 1) below would overflow to a negative limit
    // for Int.MaxValue and throw an unrelated AnalysisException instead
    // of the intended fail-fast message.
    require(maxIndexRows > 0 && maxIndexRows < Int.MaxValue,
      s"$caller: maxIndexRows must be in [1, ${Int.MaxValue - 1}], " +
        s"got $maxIndexRows")
    require(winIndex.columns.contains("__h") &&
      winIndex.schema("__h").dataType == org.apache.spark.sql.types.BinaryType,
      s"$caller: winIndex must have a BINARY __h column " +
        s"(windowHashIndex output); got ${winIndex.columns.mkString("(", ", ", ")")}")
    val keys = winIndex.select(col("__h")).limit(maxIndexRows + 1)
      .collect().map(_.getAs[Array[Byte]](0)).toSeq
    require(keys.size <= maxIndexRows,
      s"$caller: index exceeds $maxIndexRows windows — a " +
        "corpus-scale index belongs on the batch path (purgeAgainstIndex)")
    WindowKeys.ship(keys)
  }

  /** The stateless purge projection shared by [[windowPurgeGate]] and
    * [[ingestFrontDoorV2]]: one kernel call per row computes the
    * covered positions against the shipped key bank; `keep` columns
    * ride through ahead of (n_words, n_removed, text_clean). */
  private def purgeProjection(df: DataFrame, textCol: String,
      windowWords: Int, keys: Shipped[WindowKeys],
      keep: Seq[org.apache.spark.sql.Column]): DataFrame =
    df.withColumn("__rmv", graft.functions.IndexedCoveredPositions(
        col(textCol), windowWords, keys))
      .select(keep ++ Seq(
        size(split(col(textCol), " ")).cast("long").as("n_words"),
        size(col("__rmv")).cast("long").as("n_removed"),
        when(size(col("__rmv")) === 0, col(textCol))
          .otherwise(graft.functions.RemoveWordPositions(col(textCol),
            col("__rmv")))
          .as("text_clean")): _*)

  /** Streaming window-hash purge gate: every stride-1 `windowWords`
    * window of an incoming document whose CONTENT is in the stored
    * window-hash index is removed and the text rebuilt — the ONLINE
    * form of [[graft.operators.TextDedup.purgeAgainstIndex]], as a
    * STATELESS projection (no stream-static join: a per-doc
    * re-aggregation of joined window rows would need unbounded
    * streaming state, so the whole decision runs row-locally inside
    * one kernel call — `graft_indexed_positions` computes the covered
    * positions against the shipped key bank, byte-identical md5
    * window keys to the batch index). Output schema matches
    * purgeAgainstIndex: (id, n_words, n_removed, text_clean);
    * StreamingSpec pins the MemoryStream run equal to the batch
    * operator row for row.
    *
    * The index is collected once, at the call, and its keys ship once
    * per executor as a broadcast variable whose HashSet each executor
    * builds once; the bank lives in executor memory, so the gate serves
    * BOUNDED window banks (curated boilerplate, a domain's license
    * paragraphs, the hot slice of the corpus index) — `maxIndexRows`
    * (default 2^20 ≈ 16 MB of digests) fails fast on an index that
    * belongs on the batch path instead. */
  def windowPurgeGate(stream: DataFrame, winIndex: DataFrame,
      idCol: String, textCol: String, windowWords: Int = 4,
      maxIndexRows: Int = 1 << 20): DataFrame = {
    val keys = purgeGateKeys(winIndex, maxIndexRows, "windowPurgeGate")
    purgeProjection(stream, textCol, windowWords, keys, Seq(col(idCol)))
  }

  /** Collect a BOUNDED [[nearDupIndex]] into the band bank the front
    * door's `graft_near_dup_probe` ships to its executors, each distinct
    * hash set once; fails fast, naming `caller`, on schema drift, on
    * more than `maxIndexRows` index rows or on more than `maxIndexRows`
    * stored hashes (2^20 longs ≈ 8 MB). Both bounds are checked by an
    * aggregate that returns two counts, before any hash set reaches the
    * driver. */
  private[graft] def nearDupBank(index: DataFrame, maxIndexRows: Int,
      caller: String): Shipped[BandBank] = {
    import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType}
    val types = index.schema.fields.map(f => f.name -> f.dataType).toMap
    require(types.get("band").contains(IntegerType) &&
      types.get("sig").contains(StringType) && types.contains("corpus_id") &&
      types.get("corpus_hs").exists {
        case ArrayType(LongType, _) => true
        case _ => false
      },
      s"$caller: index must have (band int, sig string, corpus_id, " +
        s"corpus_hs array<bigint>) columns (nearDupIndex output); got " +
        index.schema.simpleString)
    // a row with a null band, sig, corpus_id or hash set is never
    // emitted by the join form (its equi-join or its doc_id !=
    // corpus_id filter drops it); one row per distinct hash set, with
    // the index rows that hold it
    val docs = index
      .filter(col("band").isNotNull && col("sig").isNotNull &&
        col("corpus_id").isNotNull && col("corpus_hs").isNotNull)
      .limit(maxIndexRows + 1)
      .groupBy(col("corpus_hs"))
      .agg(collect_list(struct(col("band"), col("sig"), col("corpus_id"))).as("rows"))
    val counts = docs.agg(coalesce(sum(size(col("rows"))), lit(0L)),
      coalesce(sum(size(col("corpus_hs"))), lit(0L))).head()
    require(counts.getLong(0) <= maxIndexRows,
      s"$caller: near-dup index exceeds $maxIndexRows rows — a " +
        "corpus-scale index belongs on the join path (streamingNearDupVerified)")
    require(counts.getLong(1) <= maxIndexRows,
      s"$caller: near-dup index stores ${counts.getLong(1)} shingle hashes, " +
        s"more than $maxIndexRows — a corpus-scale index belongs on the " +
        "join path (streamingNearDupVerified)")
    BandBank.ship(docs.collect().toSeq, types("corpus_id"))
  }

  /** Stages 1+2 of [[ingestFrontDoorV2]] — the stateless exact-dup
    * (`graft_bloom_probe` over the broadcast filter words) and
    * batch-trained-quality gates (scoreInline's null-on-empty contract
    * applies). */
  private def frontDoorGates(stream: DataFrame, textCol: String,
      bloomPacked: Array[Long], bloomBits: Int, bloomHashes: Int,
      model: graft.operators.QualityModel.Model,
      qualityThreshold: Double): DataFrame =
    stream
      .withColumn("might_dup", graft.operators.Sketches.mightContainInline(
        col(textCol), bloomPacked, bloomBits, bloomHashes))
      .filter(!col("might_dup"))
      .withColumn("quality",
        graft.operators.QualityModel.scoreInline(col(textCol), model))
      .filter(col("quality") >= qualityThreshold)

  /** Windowed approximate distinct counts: tumbling event-time windows
    * with `approx_count_distinct` (HLL++) — the streaming form of the
    * batch HLL sketches (q_hll_sketch). Sketch-sized state per window,
    * dropped once the watermark passes; exact distinct would need
    * unbounded per-window sets.
    */
  def windowedDistinct(events: DataFrame, tsCol: String, keyCol: String,
      window: String, watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window))
      .agg(approx_count_distinct(keyCol).as("n_distinct"))
      .select(col("window.start").as("window_start"), col("n_distinct"))

  /** Per-window vocabulary drift against an offline baseline: the
    * streaming form of `TextQuality.vocabDrift`, emitting
    * KL(p_base ‖ q_window) per event-time window — the live alarm for
    * a crawl feed whose token distribution shifts mid-ingest.
    *
    * The baseline rides along as an O(B) probability MAP LITERAL
    * (add-1-smoothed hashed-unigram buckets), and the KL decomposes so
    * two CHAINED windowed aggregations (Spark's multi-stateful-operator
    * support) compute it exactly:
    * KL = Σ p ln p − Σ p ln q = C_ref − Σ_{observed} p_b·ln(c_b+1)
    *      + ln(n_w + B),
    * with C_ref a plan-time constant — first aggregate (window, bucket)
    * counts, then one per-window sum. State per window is B bucket
    * counters, dropped at the watermark.
    *
    * Output: (window_start, n_tokens, kl). */
  def streamingVocabDrift(stream: DataFrame, tsCol: String, textCol: String,
      baseCounts: Map[Long, Long], buckets: Int, window: String,
      watermark: String): DataFrame = {
    val nb = baseCounts.values.sum.toDouble
    def p(c: Long): Double = (c + 1.0) / (nb + buckets)
    val cRef = (0L until buckets.toLong)
      .map { b => val pb = p(baseCounts.getOrElse(b, 0L)); pb * math.log(pb) }
      .sum
    val pLit = typedLit((0L until buckets.toLong)
      .map(b => b -> p(baseCounts.getOrElse(b, 0L))).toMap)
    stream
      .withWatermark(tsCol, watermark)
      .select(col(tsCol),
        explode(graft.functions.ShingleHashes(col(textCol), 1, 7, dedup = false))
          .as("__t"))
      .select(col(tsCol), (col("__t") % buckets).as("bucket"))
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window),
        col("bucket"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("window"))
      .agg(sum("__c").as("n_tokens"),
        sum(element_at(pLit, col("bucket")) * log(col("__c") + lit(1.0)))
          .as("__s"))
      .select(col("window.start").as("window_start"), col("n_tokens"),
        round(lit(cRef) - col("__s") +
          log(col("n_tokens") + lit(buckets.toDouble)), 9).as("kl"))
  }

  /** Streaming tokenizer-coverage monitor: per tumbling event-time
    * window, the OOV rate of arriving text against a FIXED vocabulary —
    * the online form of [[graft.operators.TextQuality.oovReport]] (there
    * the vocabulary is derived from the corpus; online it is the frozen
    * tokenizer vocabulary under test, riding the plan as a map literal
    * like [[streamingQualityGate]]'s weights). Per-row token/OOV counts
    * are a map-only fold over the split array (no explode, no join);
    * state is one (window) aggregate row dropped at the watermark.
    * Rates are divisions of exact integer sums, replayable in batch.
    *
    * Output: (window_start, n_docs, n_tokens, n_oov, oov_rate). */
  def streamingOovMonitor(stream: DataFrame, tsCol: String, textCol: String,
      vocab: Seq[String], window: String, watermark: String): DataFrame = {
    val vLit = typedLit(vocab.map(_ -> true).toMap)
    val toks = split(col(textCol), " ")
    stream
      .withWatermark(tsCol, watermark)
      // null text would count in n_docs but not n_tokens, diverging
      // from the batch oovReport (where explode drops the doc entirely)
      .filter(col(textCol).isNotNull)
      .select(col(tsCol), size(toks).cast("long").as("__n"),
        aggregate(toks, lit(0L), (acc, t) =>
          acc + when(element_at(vLit, t).isNull, lit(1L)).otherwise(lit(0L)))
          .as("__oov"))
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window))
      .agg(count(lit(1)).as("n_docs"), sum("__n").as("n_tokens"),
        sum("__oov").as("n_oov"))
      .select(col("window.start").as("window_start"), col("n_docs"),
        col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .as("oov_rate"))
  }

  /** Online mixture construction: the streaming counterpart of
    * `TextQuality.tokenBudgetMix`. Per-source cumulative token counts
    * live in flatMapGroupsWithState; each arriving (source, id, tokens)
    * row is admitted iff the source's running total stays within
    * budget, and emitted with its verdict. State is one long per
    * source — bounded by source cardinality, no watermark needed.
    * Two deliberate differences from the batch
    * [[graft.operators.TextQuality.tokenBudgetMix]]: admission order is
    * arrival order (no global priority exists online), and the policy
    * is skip-and-continue (an overflowing doc is rejected but smaller
    * later ones may still fit) rather than prefix-cut — a sequential
    * fold is exactly what per-key state gives a stream for free, while
    * the batch form stays a window sum any engine can replay.
    */
  def streamingTokenBudget(rows: Dataset[(String, Long, Long)],
      budget: Long): Dataset[(String, Long, Long, Boolean)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long, Long, Boolean)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (source, it, state: GroupState[Long]) =>
          var used = state.getOption.getOrElse(0L)
          val out = it.map { case (_, id, tok) =>
            val keep = used + tok <= budget
            if (keep) used += tok
            (source, id, tok, keep)
          }.toVector
          state.update(used)
          out.iterator
      }
  }

  /** Streaming C4 blocked-words gate — the stateless online form of
    * [[graft.operators.TextQuality.flagBlockedWords]] (the list rides
    * as a plan literal, so this composes into any micro-batch pipeline
    * with no state, watermark, or join — the streamingQualityGate
    * pattern). Adds (n_blocked, flagged) to every arriving row. */
  def streamingBadwordsGate(stream: DataFrame, textCol: String,
      words: Seq[String]): DataFrame =
    stream
      .withColumn("n_blocked",
        graft.operators.TextQuality.blockedWordCount(col(textCol), words))
      .withColumn("flagged", col("n_blocked") > 0)

  /** Streaming per-domain document cap — the online form of
    * [[graft.operators.TextExtract.capPerDomain]]'s admission decision:
    * in arrival order (batch-first, the sequencing every stateful op
    * here honors), the first `cap` docs of each domain are admitted and
    * later ones flagged. The batch operator ranks best-by-score over a
    * full snapshot; a stream cannot rank what it hasn't seen, so the
    * online contract is first-come-first-admitted with one Long of
    * state per domain — exactly [[streamingTokenBudget]]'s shape, and
    * at 100 TB the state is bounded by the distinct-domain count, never
    * the doc count.
    *
    * Emits (domain, id, admitted, n_seen) for every input doc — rejects
    * included, so a rejects side-output is one filter. */
  def streamingDomainCap(rows: Dataset[(String, Long)],
      cap: Int): Dataset[(String, Long, Boolean, Long)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long, Boolean, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (domain, it, state: GroupState[Long]) =>
          var seen = state.getOption.getOrElse(0L)
          val out = it.map { case (_, id) =>
            seen += 1
            (domain, id, seen <= cap, seen)
          }.toVector
          state.update(seen)
          out.iterator
      }
  }

  /** Streaming latest-state upsert view (the CDC "materialized latest
    * row per key" pattern): each micro-batch emits, for every key WITH
    * new data, the current latest (version ts, value) after folding the
    * batch — later-ts wins, ties broken by the larger tie id (the
    * deterministic max_by(struct) convention). One (ts, tie, value)
    * triple of state per key; keys absent from a batch emit nothing
    * (Append-mode contract, same as streamingDomainCap).
    * Output: (key, ts, tie, value, n_versions_seen). */
  def streamingLatestState(
      rows: Dataset[(String, Long, Long, Double)], // (key, tsMicros, tie, value)
      ): Dataset[(String, Long, Long, Double, Long)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Double, Long),
          (String, Long, Long, Double, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (key, it, state: GroupState[(Long, Long, Double, Long)]) =>
          var (ts, tie, v, n) = state.getOption.getOrElse((Long.MinValue, Long.MinValue, 0.0, 0L))
          it.foreach { case (_, t2, i2, v2) =>
            n += 1
            if (t2 > ts || (t2 == ts && i2 > tie)) { ts = t2; tie = i2; v = v2 }
          }
          state.update((ts, tie, v, n))
          Iterator.single((key, ts, tie, v, n))
      }
  }

  /** Streaming vector search: incoming query vectors probe a static
    * IVF-celled corpus — the online form of
    * [[graft.operators.Clustering.ivfTopK]]. Cell assignment for each
    * arriving query is a pure literal projection (the centroid table
    * rides in the plan, the [[graft.operators.Clustering.cellOf]]
    * contract), candidates come from a stream-static equi-join on
    * `cell` against the precomputed (cell, vec_id, embedding) index —
    * at scale the index is bucketed on `cell` so each micro-batch is a
    * bounded hash probe — and exact cosine scores ride the joined row
    * as a stateless projection. Emits ALL probed-cell candidates
    * (query_id, vec_id, c); consumers keep their top-k in the bounded
    * sink (a per-query top-k aggregate would need streaming state for
    * a one-shot query — same side-output contract as
    * [[streamingNearDupCandidates]]). Stateless: no watermark, any
    * output mode; scores equal the batch operator's exactly.
    */
  def streamingVectorSearch(queries: DataFrame,  // (query_id, qv)
      index: DataFrame,                          // assignCells output
      cents: Seq[(Long, Seq[Double], Double)],
      nprobe: Int): DataFrame = {
    import graft.operators.{Clustering, Similarity}
    val probes = Clustering.probeCells(queries, cents, nprobe)
    probes.join(index.select(col("cell"), col("vec_id"), col("embedding")),
        Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        Similarity.cosine(col("qv"), col("embedding")).as("c"))
  }

  /** The composed streaming ingest FRONT DOOR — the end-to-end online
    * form of the batch prep funnel (q_prep_funnel) and of
    * [[graft.operators.TextDedup.hygieneFunnelAgainstIndex]], stage for
    * stage, chaining the pieces a production crawl-ingest pipeline runs
    * on every arriving document:
    *
    *   1. [[streamingBloomDedup]] form: exact-corpus dup gate, stateless
    *      (the streaming stand-in for the funnel's s1 exact stage);
    *   2. [[streamingQualityGate]] form: batch-trained hashed-LR score,
    *      stateless (train offline / filter online). scoreInline's
    *      null-on-empty contract applies: a zero-token document scores
    *      null, and `null >= threshold` is null, so the gate DROPS
    *      empty documents (under the pre-r15 NaN scoring they passed —
    *      NaN sorts above every number);
    *   3. verified near-dup candidates against the corpus index, emitted
    *      as a SIDE OUTPUT (adjudication queue): the
    *      `graft_near_dup_probe` kernel looks each document's MinHash
    *      bands up in the index's band bank and verifies exact Jaccard
    *      in the same pass — the rows of [[streamingNearDupVerified]]'s
    *      band join (one per shared band, `doc_id != corpus_id`,
    *      jaccard ≥ threshold) with no join. Pairs cannot statelessly
    *      collapse to a per-doc drop flag (any-band-matched needs a
    *      per-doc aggregation = watermark state), and the exact-dup
    *      class is already caught by the Bloom gate, so near-dups are
    *      surfaced rather than silently dropped — the form a human/batch
    *      adjudicator consumes;
    *   4. window-hash purge against the stored window index (the
    *      funnel's idx-purge stage, as the stateless [[windowPurgeGate]]
    *      kernel: the covered-position decision runs row-locally against
    *      the shipped key bank, byte-identical md5 keys to the batch
    *      index); an empty index purges nothing (n_removed 0, text_clean
    *      = text);
    *   5. per-source token budget over the CLEANED token counts
    *      (n_words − n_removed, the funnel's nt2 convention): the
    *      [[streamingTokenBudget]] recurrence inlined so the quality
    *      score rides through — one long of state per source, no
    *      watermark.
    *
    * Static state is built ONCE per call and shipped as broadcast
    * variables, not plan literals: the Bloom words, the model's dense
    * weights, the window key bank and the near-dup band bank. `index`
    * and `winIndex` are collected at the call, and `maxIndexRows` bounds
    * each on its own: the window bank's keys, and the near-dup bank's
    * index rows and stored shingle hashes (each distinct hash set is
    * stored once, about one hash per stored word). A small curated
    * window bank beside a large near-dup index is refused by the
    * near-dup bound; refreshing either index means a new call. So each micro-batch runs one job per query, with
    * no broadcast exchange, and a task carries only the broadcast
    * handles. Preconditions fail at the call: `bloomBits > 0`,
    * `bloomHashes >= 1`, `bloomPacked.length == (bloomBits + 63) / 64`,
    * and the bounds and schemas of both indexes.
    *
    * Two DOCUMENTED deviations from the batch funnel's semantics:
    * (1) stored-index near-dup matches are FLAGGED, not dropped — they
    * surface on the `nearDupCandidates` side output but still flow
    * into `admitted` (the batch funnel drops them at s2_idx_neardup);
    * a caller wanting batch-equal admission anti-joins the verified
    * candidates out of the admitted stream. (2) budget admission is
    * ARRIVAL-ordered: in a live stream that is the only order there
    * is, but when the same call backfills a batch frame the per-group
    * iterator order is engine-chosen, so WHICH docs a binding budget
    * admits is undefined in backfill mode (totals and counts are not).
    *
    * Returns (admitted, nearDupCandidates); `admitted` carries
    * (source, id, tokens, n_removed, quality, text_clean, admitted) so
    * the purged text itself flows to the sink, and the candidates are
    * (id, corpus_id, jaccard). Both are lazily-composed streaming frames
    * off the same source — starting both sinks runs two queries over
    * the input (MemoryStream/Kafka replay this fine). Every stage is a
    * DataFrame transform, so the SAME call backfills a batch frame —
    * StreamingSpec pins stream == batch, ties the purge stage to
    * [[graft.operators.TextDedup.purgeAgainstIndex]] and the candidates
    * to [[streamingNearDupVerified]] row for row. */
  def ingestFrontDoorV2(
      stream: DataFrame,             // (idCol, sourceCol, textCol)
      idCol: String, sourceCol: String, textCol: String,
      bloomPacked: Array[Long], bloomBits: Int, bloomHashes: Int,
      model: graft.operators.QualityModel.Model, qualityThreshold: Double,
      index: DataFrame,              // from [[nearDupIndex]]
      nearDupThreshold: Double,
      winIndex: DataFrame,           // from [[TextDedup.windowHashIndex]]
      budgetPerSource: Long,
      windowWords: Int = 4,
      maxIndexRows: Int = 1 << 20): (DataFrame, DataFrame) = {
    import stream.sparkSession.implicits._
    val caller = "ingestFrontDoorV2"
    graft.operators.Sketches.requireFilter(bloomPacked, bloomBits, bloomHashes, caller)
    val keys = purgeGateKeys(winIndex, maxIndexRows, caller)
    val bank = nearDupBank(index, maxIndexRows, caller)
    // stages 1+2: stateless gates, one projection pass (shared helper)
    val gated = frontDoorGates(stream, textCol, bloomPacked, bloomBits,
      bloomHashes, model, qualityThreshold)
    // stage 3 (side output): verified near-dup candidates, probed
    // row-locally against the band bank in the index's shape
    val candidates = gated
      .select(col(idCol), explode(NearDupProbe(col(textCol), bank,
        index.schema("corpus_id").dataType, MinHashBands.ShingleLen,
        MinHashBands.NumHashes, MinHashBands.BandRows, nearDupThreshold)).as("__m"))
      .filter(col(idCol) =!= col("__m.corpus_id"))
      .select(col(idCol), col("__m.corpus_id").as("corpus_id"),
        col("__m.jaccard").as("jaccard"))
    // stage 4: stateless window-hash purge against the stored index
    // (the windowPurgeGate projection, source/quality riding through)
    val purged = purgeProjection(gated, textCol, windowWords, keys,
      Seq(col(sourceCol), col(idCol), col("quality")))
    // stage 5: per-source sequential token budget over cleaned counts
    val admitted = purged
      .select(col(sourceCol).cast("string"), col(idCol).cast("long"),
        (col("n_words") - col("n_removed")).as("tokens"),
        col("n_removed"), col("quality"), col("text_clean"))
      .as[(String, Long, Long, Long, Double, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long,
        (String, Long, Long, Long, Double, String, Boolean)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (source, it, state: GroupState[Long]) =>
          var used = state.getOption.getOrElse(0L)
          val out = it.map { case (_, id, tok, nrm, qual, txt) =>
            val keep = used + tok <= budgetPerSource
            if (keep) used += tok
            (source, id, tok, nrm, qual, txt, keep)
          }.toVector
          state.update(used)
          out.iterator
      }
      .toDF(sourceCol, idCol, "tokens", "n_removed", "quality",
        "text_clean", "admitted")
    (admitted, candidates)
  }

  /** Streaming heavy hitters: hash-sharded Misra-Gries state — the
    * online form of [[graft.operators.Sketches.frequentTokens]]. A
    * token always routes to the same shard (groupByKey on a hash), so
    * each shard's MG(k) summary covers a DISJOINT sub-stream exactly:
    * a surviving token's estimate undercounts its true stream count by
    * at most that shard's decrement total, which rides along in the
    * output as `max_undercount` (true count ∈ [est, est+max_undercount]).
    * State is ≤ k counters + one long per shard — bounded forever, no
    * watermark. Emission is per-shard-WITH-NEW-DATA (Update mode): a
    * shard that receives rows in a micro-batch re-emits its full
    * current survivor set; idle shards are not invoked (NoTimeout), so
    * downstream must treat absent shards as "unchanged since last
    * emit", not "empty". Null tokens are dropped up front (they carry
    * no vocabulary signal and would NPE the hash routing). Scale:
    * shards spread the vocabulary over executors; k·shards total
    * counters replaces an unbounded streaming groupBy count.
    */
  def streamingHeavyHitters(tokens: Dataset[String], k: Int,
      shards: Int = 8): Dataset[(String, Long, Long)] = {
    import tokens.sparkSession.implicits._
    tokens.filter((t: String) => t != null)
      .groupByKey(t => math.floorMod(t.hashCode, shards))
      .flatMapGroupsWithState[(Map[String, Long], Long), (String, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[(Map[String, Long], Long)]) =>
          val (m0, dec0) = state.getOption.getOrElse((Map.empty[String, Long], 0L))
          val cnt = scala.collection.mutable.HashMap.empty[String, Long] ++= m0
          var dec = dec0
          it.foreach { t =>
            cnt.get(t) match {
              case Some(c) => cnt.update(t, c + 1)
              case None if cnt.size < k => cnt.update(t, 1L)
              case None => // decrement-all; zeros fall out
                dec += 1
                cnt.mapValuesInPlace((_, v) => v - 1)
                cnt.filterInPlace((_, v) => v > 0)
            }
          }
          state.update((cnt.toMap, dec))
          cnt.toVector.map { case (t, c) => (t, c, dec) }.iterator
      }
  }

  /** Streaming EWM: the online form of [[graft.operators.Recurrence
    * .ewm]] — per-key (num, den) recurrence state in
    * flatMapGroupsWithState, two doubles per key forever. Rows are
    * (key, seq, value); each micro-batch folds its rows in `seq` order
    * (sorted within the batch — across batches the stream's arrival
    * order IS the order, the same online-vs-batch caveat as
    * [[streamingTokenBudget]]). Emits (key, seq, ewm) per row; equals
    * the batch operator exactly when rows arrive in seq order.
    */
  def streamingEwm(rows: Dataset[(Long, Long, Double)],
      alpha: Double): Dataset[(Long, Long, Double)] = {
    import rows.sparkSession.implicits._
    val decay = 1.0 - alpha
    rows.groupByKey(_._1)
      .flatMapGroupsWithState[(Double, Double), (Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (key, it, state: GroupState[(Double, Double)]) =>
          var (num, den) = state.getOption.getOrElse((0.0, 0.0))
          val out = it.toVector.sortBy(_._2).map { case (_, seq, x) =>
            num = x + decay * num
            den = 1.0 + decay * den
            (key, seq, num / den)
          }
          state.update((num, den))
          out.iterator
      }
  }

  /** Arbitrary stateful processing via mapGroupsWithState: a per-key
    * running (count, sum) that emits the updated aggregate on every
    * micro-batch — the custom-state escape hatch (§2.11 analogue for
    * streams).
    */
  def runningTotals(events: Dataset[(Long, Double)]): Dataset[(Long, Long, Double)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), (Long, Long, Double)](
        GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var s = s0
          rows.foreach { r => n += 1; s += r._2 }
          state.update((n, s))
          (key, n, s)
      }
  }
}
