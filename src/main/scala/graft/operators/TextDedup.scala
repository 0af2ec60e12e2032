package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document dedup operators for large-scale text pipelines: exact
  * content-hash dedup, MinHash signatures, banded LSH candidate
  * generation, and exact-Jaccard verification.
  *
  * Everything is declarative DataFrame code so Catalyst plans the
  * shuffles; nothing corpus-sized materializes on the driver. Crucially
  * there is NO all-pairs comparison anywhere: candidate pairs come from
  * equality joins on (band, signature) buckets, so the join fan-out at
  * 100 TB is proportional to the number of true near-duplicates, not n².
  *
  * Hashing: ONE md5 per shingle (the expensive digest), folded to a
  * 28-bit integer, then k cheap affine mixes `(h0*a_i + b_i) mod P`
  * (P prime < 2^28 — a 2-universal family, and products stay < 2^59 so
  * engines with checked 64-bit arithmetic can replay the formula
  * exactly). md5-based so any external engine reproduces the exact
  * signatures for verification.
  */
object TextDedup {

  /** Modulus for the affine minhash mixes: largest prime below 2^28
    * (canonical definition in [[graft.functions.TextKernels]], shared
    * with the native kernel). */
  val P: Long = graft.functions.TextKernels.P

  /** Deterministic per-hash affine constants (Knuth/Fibonacci multiplier
    * streams reduced mod P); replayable anywhere from this formula. */
  def mixConsts(k: Int): Seq[(Long, Long)] = graft.functions.TextKernels.mixConsts(k)

  /** Exact dedup, keep-first: one row per distinct content hash with the
    * smallest id. Equivalent shape to dropDuplicates(subset) but with an
    * explicit deterministic keep policy (dropDuplicates keeps an
    * arbitrary row).
    */
  def exactDedupKeepFirst(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("h")).orderBy(col(idCol))
    docs.withColumn("h", md5(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** C4-style boilerplate purge (ref: C4/RefinedWeb line dedup; this
    * corpus has no newlines, so a "line" is a fixed non-overlapping
    * `spanWords`-word span). Every occurrence of a span whose corpus
    * frequency reaches `minFreq` is removed, and each document's text is
    * rebuilt from its surviving spans in order.
    *
    * Scale shape: one span explode (map-only), one span-hash count
    * (shuffle keyed by hash — vocabulary-sized, never all-pairs), an
    * anti-join of spans against the frequent set (AQE broadcasts it when
    * small; at web scale it stays a shuffle join), and one groupBy
    * doc_id to reassemble (bounded per-group state: a document's own
    * spans). Returns every input doc — fully-boilerplate docs come back
    * with empty text_clean, so the output is a drop-in corpus.
    *
    * Output: (doc_id, n_spans, n_kept, text_clean).
    */
  def purgeFrequentSpans(
      docs: DataFrame,      // (doc_id, text, ...)
      idCol: String,
      textCol: String,
      spanWords: Int,
      minFreq: Long): DataFrame = {
    val w = spanWords
    val wsa = col("__ws")
    // (id, chunk_idx, h): the span STRING is hashed and dropped inside
    // the projection — only digests shuffle.
    val spans = docs
      .select(col(idCol), split(col(textCol), " ").as("__ws"))
      .select(col(idCol),
        posexplode(transform(
          sequence(lit(0), ceil(size(wsa) / lit(w.toDouble)).cast("long") - 1),
          i => md5(concat_ws(" ", slice(wsa, i * w + 1, lit(w))))))
          .as(Seq("chunk_idx", "__h")))
    val frequent = spans.groupBy("__h")
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minFreq)
      .select("__h")
    // Removed chunk indices per doc (bounded by doc length), rebuild as
    // ONE native kernel call per affected row — the span text never
    // re-aggregates ([[graft.functions.RemoveWordPositions]]; positions
    // past the partial last chunk are ignored by the kernel).
    val removedByDoc = spans.join(frequent, Seq("__h"), "left_semi")
      .groupBy(idCol).agg(collect_list(col("chunk_idx")).as("__rc"))
    docs
      .select(col(idCol), col(textCol),
        ceil(size(split(col(textCol), " ")) / lit(w.toDouble))
          .cast("long").as("n_spans"))
      .join(removedByDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        (col("n_spans") - coalesce(size(col("__rc")), lit(0)).cast("long"))
          .as("n_kept"),
        when(col("__rc").isNull, col(textCol))
          .otherwise(graft.functions.RemoveWordPositions(col(textCol),
            flatten(transform(col("__rc"),
              c => sequence(c * w, c * w + w - 1)))))
          .as("text_clean"))
  }

  /** Repartitions a source read from fewer files than the session's
    * default parallelism to that parallelism. A corpus read from few
    * splits (one small file locally) would run a per-document kernel
    * chain near-serially. The file count comes from scan metadata (no
    * RDD conversion, which would force an early physical plan);
    * non-file sources (pins, local relations) report no files and are
    * left alone. With a well-split source (the 100 TB case) this is a
    * no-op. */
  private[graft] def spreadSmallSource(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val nFiles = df.inputFiles.length
    if (nFiles > 0 && nFiles < par) df.repartition(par) else df
  }

  /** Word n-gram shingles: (id, sh); `distinct = false` keeps the raw
    * stream (no shuffle) for consumers where duplicates are harmless.
    * `spread = false` skips the small-source fan-out for inputs that are
    * already shuffle-distributed. */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int,
      distinct: Boolean = true, spread: Boolean = true): DataFrame = {
    val src = if (spread) spreadSmallSource(docs) else docs
    // The split array goes through a projection of its own so the
    // transform lambda below consumes a bound ATTRIBUTE. Higher-order
    // functions are interpreted (no whole-stage codegen, no
    // common-subexpression elimination inside the lambda), so an
    // inlined split(text) expression would re-split the document for
    // EVERY element_at reference of every gram — measured ~5× the
    // query time at sf0.1. CollapseProject keeps the projection: the
    // array is referenced more than once and split is not cheap.
    val wsa = col("__ws")
    val raw = src.select(col(idCol), split(col(textCol), " ").as("__ws"))
      .select(col(idCol),
        explode(when(size(wsa) >= n,
          transform(sequence(lit(0), size(wsa) - n),
            i => concat_ws(" ", (0 until n).map(j => element_at(wsa, i + j + 1)): _*)))
          .otherwise(array())).as("sh"))
    if (distinct) raw.distinct() else raw
  }

  /** 28-bit base hash of a shingle: first 7 hex chars of its md5. The
    * one digest evaluation each shingle ever pays. */
  def baseHash(sh: Column): Column =
    conv(substring(md5(sh), 1, 7), 16, 10).cast("long")

  /** Banded signatures: (id, band, sig) with r minhashes concatenated per
    * band in hash-index order, straight from the shingle stream.
    *
    * The base hash is projected once per shingle row, then one
    * groupBy(id) runs k integer-only `min` aggregates: partial
    * aggregation combines map-side, so the only shuffle carries one
    * k-long row per (id, input partition) — not k× the shingle count.
    * Duplicate shingles don't change a min, so the input needs no
    * distinct pass.
    */
  def bandSignatures(sh: DataFrame, idCol: String, k: Int, r: Int): DataFrame =
    bandSignaturesFromHashes(
      sh.select(col(idCol), baseHash(col("sh")).as("__h0")), idCol, k, r)

  /** As `bandSignatures`, over a pre-hashed (id, __h0) stream — lets a
    * pipeline pay the md5 once and feed both the signature and the
    * verification paths from the cached integer stream. */
  def bandSignaturesFromHashes(hashed: DataFrame, idCol: String, k: Int, r: Int): DataFrame = {
    val consts = mixConsts(k)
    val mins = consts.zipWithIndex.map { case ((a, b), i) =>
      min((col("__h0") * a + b) % P).as(s"__mh$i") }
    val wide = hashed.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
    val bandStructs = (0 until k / r).map(b =>
      struct(lit(b).as("band"),
        graft.functions.MinHashBands.sig(i => col(s"__mh$i"), b, r).as("sig")))
    wide.select(col(idCol), explode(array(bandStructs: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Band signatures as a PURE PROJECTION — no explode, no groupBy:
    * all k minhashes come from ONE native codegen'd kernel call per
    * document ([[graft.functions.ShingleMinHashes]]: one split, one
    * reusable digest, the affine mixes folded in a tight JVM loop).
    * Produces exactly the same (id, band, sig) rows as
    * [[bandSignatures]] (differentially tested), but as a stateless
    * map — the form a STREAMING plan needs (no aggregation state, no
    * watermark) and the right shape whenever one row = one document.
    * The aggregating form remains preferable when a single document's
    * shingle set is too large to stream through one kernel call.
    */
  def bandSignaturesProjected(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, r: Int): DataFrame = {
    val bandStructs = (0 until k / r).map(bi =>
      struct(lit(bi).as("band"), graft.functions.MinHashBands.sig(
        i => element_at(col("__mins"), i + 1), bi, r).as("sig")))
    // short docs (< n words) yield an EMPTY mins array from the kernel;
    // the word-count filter keeps them out of banding (an all-sentinel
    // signature would bucket every short doc together)
    docs.filter(size(split(col(textCol), " ")) >= n)
      .select(col(idCol),
        graft.functions.ShingleMinHashes(col(textCol), n, k).as("__mins"))
      .select(col(idCol), explode(array(bandStructs: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Candidate pairs from LSH buckets: ids sharing any (band, sig).
    *
    * `maxBucketSize`: a degenerate bucket with m members yields m²/2
    * pairs — boilerplate-heavy corpora can produce such buckets even
    * after exact dedup. With a cap set, buckets larger than the cap are
    * dropped — detected by a memory-bounded collect_capped aggregate
    * (cap+1 members = over-cap marker), so no buffer anywhere holds
    * more than cap+1 ids — and the pair fan-out is bounded by cap²/2
    * per bucket; near-dups inside a dropped bucket typically still
    * surface through one of the other k/r bands.
    * Default None preserves exact LSH semantics (the oracle-checked
    * configuration).
    */
  def candidatePairs(sig: DataFrame, idCol: String,
      maxBucketSize: Option[Int] = None): DataFrame = {
    // ONE signature-sized exchange: bucket members aggregate in place
    // (collect_list partials merge map-side), replacing the two-sided
    // bucket self-join that shuffled the signature table twice and
    // joined. Pair expansion then STREAMS through two generates —
    // posexplode picks doc_a, slice takes the sorted suffix after it
    // for doc_b — so no bucket ever materializes its m²/2 pairs in one
    // row buffer; a degenerate bucket degrades exactly like the join
    // shape did (streamed quadratic output), not worse. sort_array
    // fixes collect_list's nondeterministic order and gives
    // doc_a < doc_b by construction.
    // With a cap, the aggregate itself is the enforcement: a bounded
    // collect_capped(id, cap+1) buffer means a degenerate bucket is
    // truncated at cap+1 members in every partial, in the shuffle, and
    // at the reducer — where collect_list would buffer the whole
    // bucket before the size filter dropped it (and its postings would
    // all land on one task). Length cap+1 = over-cap marker → dropped.
    maxBucketSize.foreach(cap => require(cap >= 2 && cap < Int.MaxValue,
      s"maxBucketSize must be in [2, Int.MaxValue): $cap (cap + 1 must not overflow)"))
    val capped = maxBucketSize match {
      case Some(cap) => sig.groupBy("band", "sig")
        .agg(sort_array(graft.functions.CollectCapped(col(idCol), cap + 1))
          .as("__ids"))
        .filter(size(col("__ids")).between(lit(2), lit(cap)))
      case None => sig.groupBy("band", "sig")
        .agg(sort_array(collect_list(col(idCol))).as("__ids"))
        .filter(size(col("__ids")) >= 2)
    }
    capped
      .select(col("__ids"), posexplode(col("__ids")).as(Seq("__i", "doc_a")))
      .select(col("doc_a"),
        explode(slice(col("__ids"), col("__i") + lit(2), size(col("__ids")))).as("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** LSH tuning report — the precision side of the band-parameter
    * trade ([[graft.operators.Similarity.recallAtK]] is the recall
    * side): how many band-bucket candidate pairs survive the exact
    * Jaccard verify at `threshold`. Sweeping (numHashes, bandRows)
    * against this one-row report is how the s-curve is tuned before a
    * 100 TB run commits to a configuration.
    *
    * Scale shape: map-only projected signatures, the streamed
    * candidatePairs expansion, per-doc distinct hash arrays from ONE
    * kernel call each joined candidate-sized (only candidate docs pay
    * the array join), and one global aggregate of exact integer
    * counts — precision is a single exact division.
    *
    * Output: one row (n_candidates, n_verified, precision). */
  def bandPrecision(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 16,
      bandRows: Int = 4,
      threshold: Double = 0.8,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val sigs = bandSignaturesProjected(docs, idCol, textCol, shingleLen,
      numHashes, bandRows)
    val cand = candidatePairs(sigs, idCol, maxBucketSize)
    // only candidate docs pay the hash-array pass (same left_semi prune
    // as nearDuplicates' scale path and dedupAgainstIndex)
    val candDocs = cand.select(col("doc_a").as(idCol))
      .union(cand.select(col("doc_b").as(idCol))).distinct()
    val hs = docs.join(candDocs, Seq(idCol), "left_semi")
      .select(col(idCol),
        graft.functions.ShingleHashes(col(textCol), shingleLen, 7,
          dedup = true).as("__hs"))
    cand
      .join(hs.select(col(idCol).as("doc_a"), col("__hs").as("__ha")), "doc_a")
      .join(hs.select(col(idCol).as("doc_b"), col("__hs").as("__hb")), "doc_b")
      .withColumn("__ni", size(array_intersect(col("__ha"), col("__hb"))))
      .withColumn("__j", col("__ni").cast("double") /
        (size(col("__ha")) + size(col("__hb")) - col("__ni")).cast("double"))
      .agg(count(lit(1)).as("n_candidates"),
        coalesce(sum(when(col("__j") >= threshold, 1L).otherwise(0L)), lit(0L))
          .as("n_verified"))
      .withColumn("precision",
        when(col("n_candidates") === 0, lit(0.0))
          .otherwise(col("n_verified").cast("double") /
            col("n_candidates").cast("double")))
  }

  /** LSH recall against exact all-pairs ground truth — bandPrecision's
    * complement, measured on a BOUNDED document slice (exact all-pairs
    * is quadratic; the slice is the standard sampled-ground-truth
    * protocol for tuning the s-curve before a full run). Truth = pairs
    * whose exact shingle-set Jaccard ≥ `threshold` (computed via the
    * shared-hash equi-join, cost ∝ shared postings — a pair with no
    * shared shingle has Jaccard 0 and can't be truth); caught = truth
    * pairs that band-bucketing also proposes.
    *
    * Output: one row (n_true, n_caught, recall) — exact integers, one
    * division. */
  def bandRecall(
      docs: DataFrame,      // pass a bounded slice
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 16,
      bandRows: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    // set size rides the exploded stream (the jaccardTopK trick): the
    // per-pair max() recovers it functionally-dependent, saving two
    // corpus-keyed size joins after the pair aggregate
    val ex = docs.select(col(idCol),
        graft.functions.ShingleHashes(col(textCol), shingleLen, 7,
          dedup = true).as("__hs"))
      .select(col(idCol), size(col("__hs")).cast("long").as("__s"),
        explode(col("__hs")).as("__h"))
    val truth = ex
      .select(col(idCol).as("doc_a"), col("__s").as("__sa"), col("__h"))
      .join(ex.select(col(idCol).as("doc_b"), col("__s").as("__sb"),
        col("__h")), Seq("__h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("__ni"),
        max("__sa").as("__sa"), max("__sb").as("__sb"))
      .filter(col("__ni").cast("double") /
        (col("__sa") + col("__sb") - col("__ni")).cast("double") >= threshold)
      .select("doc_a", "doc_b")
    // "caught" needs only a per-PAIR predicate — the pair shares some
    // (band, sig) — so instead of materializing the full banded
    // candidate-pair set (bucket groupBy + streamed pair expansion +
    // distinct: three exchanges), keep each doc's k/r band signatures
    // as ONE row-local array ("band:sig" strings off the same projected
    // minhash kernel) and test truth pairs with arrays_overlap. The
    // truth stream is already bounded (≥threshold pairs); two joins on
    // its endpoints replace the whole candidate machinery.
    val bandSigArr = array((0 until numHashes / bandRows).map(bi =>
      concat(lit(s"$bi:"), graft.functions.MinHashBands.sig(
        i => element_at(col("__mins"), i + 1), bi, bandRows))): _*)
    val sigs = docs
      .filter(size(split(col(textCol), " ")) >= shingleLen)
      .select(col(idCol),
        graft.functions.ShingleMinHashes(col(textCol), shingleLen,
          numHashes).as("__mins"))
      .select(col(idCol), bandSigArr.as("__sigs"))
    truth
      .join(sigs.select(col(idCol).as("doc_a"), col("__sigs").as("__sa")),
        Seq("doc_a"))
      .join(sigs.select(col(idCol).as("doc_b"), col("__sigs").as("__sb")),
        Seq("doc_b"))
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum(when(arrays_overlap(col("__sa"), col("__sb")), 1L)
          .otherwise(0L)), lit(0L)).as("n_caught"))
      .withColumn("recall",
        when(col("n_true") === 0, lit(0.0))
          .otherwise(col("n_caught").cast("double") /
            col("n_true").cast("double")))
  }

  /** LSH band-plan s-curve table — the THEORY side of the
    * (numHashes, bandRows) trade that [[bandPrecision]] and
    * [[bandRecall]] measure empirically: for every band width r
    * dividing k (b = k/r bands), the probability a pair at similarity
    * `threshold` becomes a candidate, `1 − (1 − t^r)^b`, and the
    * curve's crossover similarity `t* = (1/b)^(1/r)` (pairs above t*
    * are more likely caught than missed). Sweeping this one table is
    * how a 100 TB run picks its configuration BEFORE paying for a
    * measured sweep; data-free, driver-sized, replayable math.
    *
    * Output: (r, b, p_at_threshold, t_star) one row per valid r. */
  def bandSCurve(spark: org.apache.spark.sql.SparkSession, numHashes: Int,
      threshold: Double): DataFrame = {
    import spark.implicits._
    (1 to numHashes).filter(numHashes % _ == 0).toDF("r")
      .withColumn("b", (lit(numHashes) / col("r")).cast("long"))
      .withColumn("p_at_threshold",
        lit(1.0) - pow(lit(1.0) - pow(lit(threshold),
          col("r").cast("double")), col("b").cast("double")))
      .withColumn("t_star",
        pow(lit(1.0) / col("b").cast("double"),
          lit(1.0) / col("r").cast("double")))
      .select(col("r").cast("long").as("r"), col("b"),
        col("p_at_threshold"), col("t_star"))
  }

  /** Incremental (cross-snapshot) near-dup: flag NEW docs that
    * near-duplicate any doc already in the INDEX — the daily-crawl
    * shape, where the index is yesterday's corpus and only the new
    * batch should pay signature work against it. Both sides project
    * band signatures map-only (no shingle explode); candidates come
    * from an asymmetric band-bucket join — never index×index or
    * new×new pairs — and only candidate docs pay the on-demand hash
    * pass for the exact-Jaccard verify. At 100 TB the index signatures
    * are a stable precomputed table (see [[bandSignaturesProjected]]);
    * the per-batch cost is proportional to the batch, not the corpus.
    *
    * Returns one row per matched new doc: (new_id, idx_id, jaccard) for
    * its best index match (highest jaccard, smallest idx_id on ties).
    */
  def dedupAgainstIndex(
      newDocs: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 16,
      bandRows: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // bandSignaturesProjected already filters docs shorter than the
    // shingle width (they have no signature)
    def sigs(df: DataFrame, as: String) =
      bandSignaturesProjected(df, idCol, textCol, shingleLen, numHashes, bandRows)
        .withColumnRenamed(idCol, as)
    val cand = sigs(newDocs, "new_id")
      .join(sigs(index, "idx_id"), Seq("band", "sig"))
      .select("new_id", "idx_id").distinct().cache()
    def hashes(df: DataFrame, as: String) =
      df.withColumnRenamed(idCol, as)
        .join(cand.select(as), Seq(as), "left_semi")
        .select(col(as), graft.functions.ShingleHashes(
          col(textCol), shingleLen, 7, dedup = true).as(s"__h_$as"))
    val verified = cand
      .join(hashes(newDocs, "new_id"), "new_id")
      .join(hashes(index, "idx_id"), "idx_id")
      .withColumn("__ni", size(array_intersect(col("__h_new_id"), col("__h_idx_id"))))
      .select(col("new_id"), col("idx_id"),
        (col("__ni") / (size(col("__h_new_id")) + size(col("__h_idx_id")) - col("__ni")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val w = Window.partitionBy("new_id").orderBy(col("jaccard").desc, col("idx_id"))
    verified.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("new_id", "idx_id", "jaccard")
  }

  /** Oversized-bucket count for a signature table — the observability
    * companion to `candidatePairs(maxBucketSize=...)`: callers log this
    * next to the capped run so silently dropped buckets stay visible. */
  def oversizedBuckets(sig: DataFrame, cap: Int): Long =
    sig.groupBy("band", "sig").agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") > cap).count()

  /** Is `df`'s optimizer-estimated size under ~1 GB? Unknown → large.
    * Picks `nearDuplicates`' fused window regime. */
  private def isSmall(df: DataFrame): Boolean =
    scala.util.Try(
      df.queryExecution.optimizedPlan.stats.sizeInBytes <= (1L << 30)).getOrElse(false)

  /** Full near-duplicate pipeline: exact-dedup (identical texts collapse
    * to one representative) → shingle → MinHash(k) → LSH(r-row bands) →
    * candidate pairs → exact-Jaccard verify ≥ threshold → expand back to
    * member docs. Returns (doc_a, doc_b, jaccard).
    *
    * Exact-dedup-first is the scale guard: a 10k-copy boilerplate doc
    * would otherwise put 10k identical signatures in every one of its
    * buckets (10⁸ candidate pairs); collapsed to one representative it
    * contributes one. Identical texts share every band, so expanding
    * representative-level pairs to clique members (plus jaccard-1.0
    * within-clique pairs) reproduces the all-docs answer exactly.
    *
    * `broadcastLimit` gates the measured broadcast-vs-shuffle decisions
    * (candidate set, dup-clique membership): a corpus whose candidate
    * set outgrows it falls back to shuffle joins instead of OOMing.
    * Tests close the gate (0) to prove the shuffle regime end-to-end.
    */
  def nearDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 16,
      bandRows: Int = 4,
      threshold: Double = 0.8,
      maxBucketSize: Option[Int] = None,
      broadcastLimit: Long = 2000000L): DataFrame = {
    // Exact-dup collapse, regime-selected (measured, like every other
    // gate here):
    // - measured-small + gates open: ONE cached corpus pass — a
    //   whole-partition min/count window over the content hash. The
    //   corpus is optimizer-measured ≤ ~1 GB, so caching it and reading
    //   reps/members as projections has the best constants (~0.3 s
    //   faster than the scan-local shape at sf0.1).
    // - at scale (or gates closed): the corpus TEXT never rides a
    //   window sort — cliques aggregate in one (hash, id)-sized
    //   exchange with map-side combine; representatives come from a
    //   second map-only scan (left-semi on the rep ids) and per-doc dup
    //   membership from a third. What gets cached is one small row per
    //   distinct text plus the post-dedup working set, never the raw
    //   corpus (a 100 TB corpus cannot sit in a cache, and a
    //   full-text window sort is the shuffle that kills the stage).
    //   broadcastLimit == 0 routes HERE, so the scale path is the one
    //   the shuffle-regime tests execute end-to-end.
    val windowRegime = isSmall(docs) && broadcastLimit > 0
    val tagged: Option[DataFrame] =
      if (!windowRegime) None
      else {
        import org.apache.spark.sql.expressions.Window
        val wRep = Window.partitionBy("__th")
        Some(docs.select(col(idCol), col(textCol))
          .withColumn("__th", md5(col(textCol)))
          .withColumn("__rep", min(col(idCol)).over(wRep))
          .withColumn("__csz", count(lit(1)).over(wRep))
          .cache())
      }
    val cliques: Option[DataFrame] =
      if (windowRegime) None
      else Some(docs.select(col(idCol), md5(col(textCol)).as("__th"))
        .groupBy("__th")
        .agg(min(col(idCol)).as("__rep"), count(lit(1)).as("__csz"))
        .cache())
    val reps = tagged match {
      case Some(t) =>
        t.filter(col(idCol) === col("__rep")).select(col(idCol), col(textCol))
      case None =>
        // cached: both the signature projection and the candidate-hash
        // pass read it — the post-dedup working set, not the corpus
        docs.select(col(idCol), col(textCol))
          .join(cliques.get.select(col("__rep").as(idCol)), Seq(idCol), "left_semi")
          .cache()
    }

    // Jaccard over 28-bit shingle hashes is this operator's documented
    // verification semantics (the oracle replays it exactly); within
    // one document a hash collision is ~|shingles| in 2^28 — noise far
    // below the LSH band resolution. Two regime-selected verify shapes,
    // identical output (differentially tested):
    val (repPairs, releaseIntermediates) = if (windowRegime) {
      // FUSED measured-small path: ONE digest pass per document
      // produces the k minhashes AND the deduped hash set together
      // (native shingle_minhash_set kernel), and each doc's hash array
      // RIDES the bucket exchange inside the collect_list structs — so
      // pair expansion computes Jaccard inline while streaming through
      // the two generates. No candidate-hash stage, no verify joins,
      // no broadcast builds: scan → bucket exchange → expand/verify is
      // the whole middle (measured ~0.3 s off the sf0.1 wall-clock).
      // The k/r-fold hash-array duplication through the one exchange is
      // the deliberate small-regime trade (optimizer-measured ≤ ~1 GB
      // corpus); the large regime below never ships corpus hash arrays.
      val bandStructs = (0 until numHashes / bandRows).map(bi =>
        struct(lit(bi).as("band"), graft.functions.MinHashBands.sig(
          i => element_at(col("__p.mins"), i + 1), bi, bandRows).as("sig")))
      val sig = reps
        .filter(size(split(col(textCol), " ")) >= shingleLen)
        .select(col(idCol),
          graft.functions.ShingleMinHashSet(col(textCol), shingleLen, numHashes).as("__p"))
        .select(col(idCol), col("__p.hs").as("__hs"),
          explode(array(bandStructs: _*)).as("bs"))
        .select(col(idCol), col("__hs"),
          col("bs.band").as("band"), col("bs.sig").as("sig"))
      val sized = sig.groupBy("band", "sig")
        .agg(sort_array(collect_list(struct(col(idCol), col("__hs")))).as("__m"))
        .filter(size(col("__m")) >= 2)
      val capped = maxBucketSize match {
        case Some(cap) => sized.filter(size(col("__m")) <= cap)
        case None => sized
      }
      // Streamed expansion exactly like candidatePairs (posexplode picks
      // doc_a, slice takes the sorted suffix for doc_b), but the structs
      // carry the hash arrays so the verify is a projection here; the
      // distinct collapses multi-band pair repeats AFTER the threshold
      // filter, so the exchange carries only verified near-dup pairs.
      val pairs = capped
        .select(col("__m"), posexplode(col("__m")).as(Seq("__i", "__sa")))
        .select(col("__sa")(idCol).as("doc_a"), col("__sa")("__hs").as("__ha"),
          explode(slice(col("__m"), col("__i") + lit(2), size(col("__m")))).as("__sb"))
        .select(col("doc_a"), col("__ha"),
          col("__sb")(idCol).as("doc_b"), col("__sb")("__hs").as("__hb"))
        .withColumn("__ni", size(array_intersect(col("__ha"), col("__hb"))))
        .select(col("doc_a"), col("doc_b"),
          (col("__ni") / (size(col("__ha")) + size(col("__hb")) - col("__ni")))
            .as("jaccard"))
        .filter(col("jaccard") >= threshold)
        .distinct()
        .cache()
      (pairs, () => ())
    } else {
      // Scale path: signatures as a PURE PROJECTION of the
      // representatives (bandSignaturesProjected — map-only, no shingle
      // explode), candidates from the streamed bucket expansion, and
      // Jaccard from two candidate-sized joins against ON-DEMAND hash
      // arrays: only docs that appear in a candidate pair (a tiny set
      // at corpus scale) ever pay the second md5 kernel pass, and the
      // bucket exchange carries signature rows, never hash arrays.
      // Joins stay unhinted — AQE's runtime size measurement picks
      // broadcast vs shuffle per stage (tests close the gates to run
      // this path end-to-end).
      val sig = bandSignaturesProjected(reps, idCol, textCol,
        shingleLen, numHashes, bandRows).cache()
      val cand = candidatePairs(sig, idCol, maxBucketSize).cache()
      // No distinct: the left-semi probe dedups inherently, so the extra
      // exchange would buy nothing.
      val candDocs = cand.select(col("doc_a").as(idCol))
        .union(cand.select(col("doc_b").as(idCol)))
      val candHashes = reps.join(candDocs, Seq(idCol), "left_semi")
        .select(col(idCol), graft.functions.ShingleHashes(
          col(textCol), shingleLen, 7, dedup = true).as("__hs"))
        .cache()
      val pairs = cand
        .join(candHashes.select(col(idCol).as("doc_a"), col("__hs").as("__ha")), "doc_a")
        .join(candHashes.select(col(idCol).as("doc_b"), col("__hs").as("__hb")), "doc_b")
        .withColumn("__ni", size(array_intersect(col("__ha"), col("__hb"))))
        .select(col("doc_a"), col("doc_b"),
          (col("__ni") / (size(col("__ha")) + size(col("__hb")) - col("__ni")))
            .as("jaccard"))
        .filter(col("jaccard") >= threshold)
        .cache()
      (pairs, () => {
        candHashes.unpersist(blocking = false)
        cand.unpersist(blocking = false)
        sig.unpersist(blocking = false)
        reps.unpersist(blocking = false)
      })
    }
    // Scale regime only: the count materializes the cached pairs, so it
    // must run before the intermediate caches (candidate hash arrays,
    // candidates, signatures, reps) are released — after it they have
    // served every consumer. The window regime has nothing to release
    // and sizes its driver-probe gate inside the probe below, so it runs
    // no count. `tagged`/`cliques` stay: the expansion below still reads
    // them.
    if (!windowRegime) {
      repPairs.count()
      releaseIntermediates()
    }

    // Expansion: representative pairs fan out to all clique-member
    // pairs (same texts ⇒ same jaccard); identical-text pairs within a
    // clique are jaccard-1.0 by definition. Output size here equals the
    // true answer size — no blowup beyond the actual duplicates.
    //
    // Only members of non-trivial cliques (clique size > 1 — i.e. the
    // actual duplicates, a set proportional to the corpus' true dup
    // count, not its size) participate: singleton docs ARE their reps,
    // handled by the left-join + coalesce. One agg action against the
    // (small) clique cache sizes that set; a clean corpus skips
    // expansion entirely, and a dup-heavy one falls back from broadcast
    // to shuffle joins.
    val idIsLong = repPairs.schema("doc_a").dataType ==
      org.apache.spark.sql.types.LongType
    // Dup-member probe, window regime: ONE collect fetches the
    // dup-clique member list AND the verified rep pairs, each side
    // limited to `broadcastLimit + 1` rows — each extra action costs a
    // fixed scheduling quantum, which on the measured-small regime is a
    // double-digit share of the operator's wall-clock. The probe side
    // carries a marker column. The driver expansion is taken iff
    // members + pairs ≤ `broadcastLimit` (a side at its limit alone
    // exceeds it); otherwise the distributed path below runs.
    val memberProbe: Option[(Array[org.apache.spark.sql.Row],
        Array[org.apache.spark.sql.Row])] =
      if (!windowRegime || !idIsLong) None
      else {
        val cap = math.min(broadcastLimit, Int.MaxValue - 1L).toInt + 1
        val rows = tagged.get.filter(col("__csz") > 1)
          .select(col("__rep").as("doc_a"), col(idCol).as("doc_b"),
            lit(0.0).as("jaccard"), lit(1).as("__probe"))
          .limit(cap)
          .unionAll(repPairs.select(col("doc_a"), col("doc_b"),
            col("jaccard"), lit(0).as("__probe")).limit(cap))
          .collect()
        if (rows.length <= broadcastLimit) Some(rows.partition(_.getInt(3) == 1))
        else None
      }
    lazy val nDup = tagged match {
      case Some(t) =>
        t.agg(count(when(col("__csz") > 1, lit(1)))).head().getLong(0)
      case None => cliques.get
        .agg(coalesce(sum(when(col("__csz") > 1, col("__csz"))), lit(0L)))
        .head().getLong(0)
    }
    if (memberProbe.isDefined) {
      // Driver expansion: both inputs are MEASURED tiny (the same bound
      // that would have let them broadcast — and a broadcast ships them
      // through the driver anyway, so this holds strictly less there).
      // The clique fan-out runs as plain Scala and the result enters
      // downstream plans as a LocalRelation — replacing four join
      // stages and their broadcast builds with one cached-table collect
      // and zero extra jobs. Same decision shape as dupClusters'
      // union-find gate; the distributed joins below remain the
      // over-limit / gates-closed / non-long-id path.
      val (probeRows, pairRows) = memberProbe.get
      val members = probeRows
        .groupBy(_.getLong(0)).map { case (r, rows) =>
          r -> rows.map(_.getLong(1)).toSeq }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      pairRows.foreach { r =>
        val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        for (x <- members.getOrElse(a, Seq(a)); y <- members.getOrElse(b, Seq(b)))
          out += ((math.min(x, y), math.max(x, y), j))
      }
      members.valuesIterator.foreach { ms =>
        var i = 0
        while (i < ms.size) {
          var k = i + 1
          while (k < ms.size) {
            out += ((math.min(ms(i), ms(k)), math.max(ms(i), ms(k)), 1.0))
            k += 1
          }
          i += 1
        }
      }
      val sp = docs.sparkSession
      import sp.implicits._
      out.toSeq.toDF("doc_a", "doc_b", "jaccard")
    }
    else if (nDup == 0) repPairs
    else {
      def maybeB(df: DataFrame): DataFrame =
        if (nDup <= broadcastLimit) broadcast(df) else df
      val dupMembers = tagged match {
        case Some(t) =>
          t.filter(col("__csz") > 1).select(col("__rep"), col(idCol))
        case None =>
          // per-doc membership re-derives the doc → content-hash map in
          // a THIRD map-only scan — no text moves, and the nontrivial
          // cliques broadcast unless the dup set outgrows the gate
          val dupCliques = cliques.get.filter(col("__csz") > 1)
            .select(col("__th"), col("__rep"))
          docs.select(col(idCol), md5(col(textCol)).as("__th"))
            .join(maybeB(dupCliques), Seq("__th"))
            .select(col("__rep"), col(idCol))
      }
      val mA = dupMembers.select(col("__rep").as("doc_a"), col(idCol).as("__ida"))
      val mB = dupMembers.select(col("__rep").as("doc_b"), col(idCol).as("__idb"))
      val cross = repPairs
        .join(maybeB(mA), Seq("doc_a"), "left")
        .join(maybeB(mB), Seq("doc_b"), "left")
        .select(
          least(coalesce(col("__ida"), col("doc_a")),
            coalesce(col("__idb"), col("doc_b"))).as("doc_a"),
          greatest(coalesce(col("__ida"), col("doc_a")),
            coalesce(col("__idb"), col("doc_b"))).as("doc_b"),
          col("jaccard"))
      val within = dupMembers.select(col("__rep"), col(idCol).as("__x"))
        .join(maybeB(dupMembers.select(col("__rep"), col(idCol).as("__y"))), Seq("__rep"))
        .filter(col("__x") < col("__y"))
        .select(col("__x").as("doc_a"), col("__y").as("doc_b"),
          lit(1.0).as("jaccard"))
      cross.union(within)
    }
  }

  /** Duplicate clusters from near-dup pairs: connected components,
    * labelled by the smallest doc id in each component. Returns
    * (doc_id, cluster_id, is_rep). A pair with a null endpoint is
    * dropped on both paths (a plan filter, no job): it links nothing.
    *
    * Regime: ONE bounded collect of at most `driverEdgeLimit + 1` pair
    * rows picks the path and, when the pair frame has at most
    * `driverEdgeLimit` rows, is also the driver path's whole input —
    * no cache, no count. The gate counts PAIR rows as given (a pair and
    * its mirror count twice), not distinct undirected edges.
    * `driverEdgeLimit = 0` sends every non-empty input to the
    * distributed path. A pair frame that is a local relation (e.g.
    * [[nearDuplicates]]' driver expansion) costs zero jobs: the
    * optimizer folds the projection, filter and limit into it.
    *
    * Driver path: union-find by min id, O(E α(E)), zero iterative
    * jobs; the labels are the component minima in any edge order.
    *
    * Distributed path: iterative min-label propagation with pointer
    * jumping. Each iteration takes one neighbor-min step (one hop) then
    * one pointer-jump step (`lab <- labels[lab]`), so label information
    * travels two-plus hops per round and convergence is
    * O(log diameter), not O(diameter). Both steps are bounded shuffles
    * over the (tiny) pair graph; the per-iteration driver action only
    * reads a change count off the just-checkpointed result — no
    * re-join. A run that has not converged after `maxIters` rounds
    * fails rather than return unconverged labels.
    */
  def dupClusters(pairs: DataFrame, maxIters: Int = 20,
      driverEdgeLimit: Long = 5000000L): DataFrame = {
    val linked = pairs.filter(col("doc_a").isNotNull && col("doc_b").isNotNull)
    // A graph of at most `driverEdgeLimit` pairs fits comfortably on the
    // driver (≤ ~80 MB of long pairs at the default). Same decision
    // shape as AQE's broadcast conversion — the measured size, not the
    // declared plan, picks the execution strategy.
    val cap = math.min(math.max(driverEdgeLimit, 0L), Int.MaxValue - 1L).toInt + 1
    val pairRows = linked.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .limit(cap).collect()
    if (pairRows.length <= driverEdgeLimit) {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      pairRows.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        // union by min id: every root stays its component's minimum
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val spark = pairs.sparkSession
      import spark.implicits._
      // Seq.toDF is a LocalRelation — the labels flow into downstream
      // plans without a single job.
      return parent.keys.toSeq.map { n => val r = find(n); (n, r, n == r) }
        .toDF("doc_id", "cluster_id", "is_rep")
    }
    val edgesRaw = linked.select(col("doc_a").as("n"), col("doc_b").as("m"))
      .union(linked.select(col("doc_b").as("n"), col("doc_a").as("m")))
      .distinct().cache()
    // The pair graph is tiny relative to the corpus (duplicates are the
    // exception); size the iterative stages to it, not to the corpus'
    // shuffle parallelism — locally that collapses each iteration to a
    // single task, at scale it grows with the edge count.
    val nEdges = edgesRaw.count()
    val parts = math.max(1, (nEdges / 500000L).toInt)
    // localCheckpoint (eager) truncates lineage each step — the
    // standard pattern for iterative algorithms; plain cache() would
    // leave every iteration's plan chained to the full upstream
    // pipeline and risk recomputing it on cache misses.
    val edges = edgesRaw.repartition(parts).localCheckpoint()
    // the checkpoint above owns the data now; drop the upstream cache
    edgesRaw.unpersist(blocking = false)
    var labels = edges.select(col("n")).distinct()
      .withColumn("lab", col("n")).repartition(parts).localCheckpoint()
    var iter = 0
    var changed = -1L
    while (changed != 0L) {
      if (iter == maxIters) throw new IllegalStateException(
        s"dupClusters: label propagation did not converge in maxIters=$maxIters rounds" +
          (if (iter > 0) s" ($changed labels changed in the last round)" else ""))
      val nbrMin = edges
        .join(labels.select(col("n").as("m"), col("lab").as("mlab")), "m")
        .groupBy("n").agg(min("mlab").as("nbr_lab"))
      val stepped = labels.join(nbrMin, Seq("n"), "left")
        .select(col("n"), col("lab").as("old"),
          least(col("lab"), coalesce(col("nbr_lab"), col("lab"))).as("mid"))
      // Pointer jump: labels are node ids, so `labels[mid]` resolves a
      // label to its own (possibly smaller) label — path halving.
      val next = stepped.join(
          labels.select(col("n").as("mid"), col("lab").as("jlab")), Seq("mid"), "left")
        .select(col("n"), col("old"),
          least(col("mid"), coalesce(col("jlab"), col("mid"))).as("lab"))
        .localCheckpoint()
      changed = next.filter(col("lab") =!= col("old")).count()
      labels = next.select("n", "lab")
      iter += 1
    }
    labels.select(col("n").as("doc_id"), col("lab").as("cluster_id"),
      (col("n") === col("lab")).as("is_rep"))
  }

  /** SimHash over the token stream (all occurrences, not distinct): for
    * each of `bits` positions, sum +1/-1 according to that bit of the
    * token hash; the sign vector packs into one integer signature.
    * Token hash = first 4 md5 hex chars as an int (16 usable bits) so an
    * external engine reproduces it. Computed row-locally by the native
    * [[graft.functions.SimHash]] kernel — one call per document, no
    * token explode, no per-bit aggregates, no shuffle (differentially
    * tested against the SQL fold in TextKernelsSpec).
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame =
    docs.select(col(idCol),
      graft.functions.SimHash(col(textCol), bits).as("simhash"))

  /** Leakage-safe train/validation split: near-duplicate CLUSTERS are
    * the split unit, so two near-identical documents can never land on
    * opposite sides (the benchmark-contamination failure mode of naive
    * per-row splits). Every doc is assigned its duplicate-cluster id
    * (its own id when it has no near-dup), and the whole cluster goes
    * to `train` when md5-fold(cluster_id) / 2^28 < trainFrac, else to
    * `valid` — the same content-hash split policy as splitByContent,
    * applied at cluster granularity.
    *
    * Scale shape: [[nearDuplicates]] (bucketed LSH, never all-pairs) →
    * [[dupClusters]] (regime-switched union-find / label propagation)
    * produce a table proportional to the DUPLICATED docs only; the
    * corpus joins against it once (AQE broadcasts it when small) and
    * the split itself is a map-only projection.
    *
    * Output: (doc_id, cluster_id, split).
    */
  def leakageSafeSplit(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      trainFrac: Double = 0.8,
      threshold: Double = 0.8,
      shingleLen: Int = 3,
      numHashes: Int = 16,
      bandRows: Int = 4): DataFrame =
    leakageSafeSplitN(docs, idCol, textCol,
      Seq("train" -> trainFrac, "valid" -> (1.0 - trainFrac)), threshold,
      shingleLen, numHashes, bandRows)

  /** N-way cluster-safe split (train/valid/test/...): `splits` are
    * (label, fraction) in order, fractions summing to 1; a cluster
    * lands in the bucket whose cumulative-fraction interval contains
    * its content-hash draw, so near-copies never straddle ANY pair of
    * buckets. The binary [[leakageSafeSplit]] is the 2-entry case
    * (same hash, same thresholds — outputs are backward-identical). */
  def leakageSafeSplitN(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      splits: Seq[(String, Double)],
      threshold: Double = 0.8,
      shingleLen: Int = 3,
      numHashes: Int = 16,
      bandRows: Int = 4): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 >= 0) &&
      math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must be non-negative and sum to 1: $splits")
    val pairs = nearDuplicates(docs, idCol, textCol, shingleLen, numHashes,
      bandRows, threshold).select("doc_a", "doc_b")
    val clusters = dupClusters(pairs).select(
      col("doc_id").as("__cid_doc"), col("cluster_id").as("__cl"))
    val u = conv(substring(md5(col("cluster_id").cast("string")), 1, 7), 16, 10)
      .cast("long") / lit(268435456.0)
    val cums = splits.scanLeft(0.0)(_ + _._2).tail
    val label = splits.init.zip(cums.init)
      .foldRight(lit(splits.last._1): Column) { case (((name, _), cum), rest) =>
        when(u < cum, lit(name)).otherwise(rest)
      }
    docs.select(col(idCol).as("doc_id"))
      .join(clusters, col("doc_id") === col("__cid_doc"), "left")
      .select(col("doc_id"), coalesce(col("__cl"), col("doc_id")).as("cluster_id"))
      .withColumn("split", label)
  }

  /** Exact duplicated-substring purge (the ExactSubstr regime of Lee et
    * al. 2021, "Deduplicating Training Data Makes Language Models
    * Better"): every word position covered by a `windowWords`-word
    * window whose content occurs MORE THAN ONCE in the corpus is
    * removed, and documents are rebuilt from the surviving words. With
    * `keepFirst` the globally first occurrence of each duplicated
    * window (min (doc_id, start)) is spared, so exactly one copy of
    * each duplicated run survives — Lee et al.'s policy; with
    * `keepFirst = false` every copy goes (the boilerplate-scrub
    * policy).
    *
    * Stride-1 windows (unlike [[purgeFrequentSpans]]'s disjoint spans)
    * make the match EXACT: any duplicated run ≥ `windowWords` words is
    * found at every alignment, so maximal duplicated regions are
    * covered end-to-end without a suffix array. The price is a
    * windows-per-word stream; the window STRING is dropped in the same
    * projection that hashes it, so only (id, start, 16-byte md5) rows
    * ever shuffle. A 100 TB run pays one window-hash count shuffle
    * (key space = distinct windows), one join back, and one doc-keyed
    * rebuild — the same shape DuckDB replays in the oracle.
    *
    * This is the one-level case of [[purgeDuplicateSubstringsMulti]]
    * (level (windowWords, 2)), so `windowWords < 1` fails its
    * `require`.
    *
    * Output: (doc_id, n_words, n_removed, text_clean), one row per
    * input document (documents shorter than the window pass through
    * untouched; fully-duplicated documents return empty text).
    */
  def purgeDuplicateSubstrings(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      windowWords: Int = 8,
      keepFirst: Boolean = true): DataFrame =
    purgeDuplicateSubstringsMulti(docs, idCol, textCol,
      Seq((windowWords, 2L)), keepFirst)

  /** Multi-length variant of [[purgeDuplicateSubstrings]] (the Lee et
    * al. 2022 pipeline sweeps substring lengths): duplicated runs are
    * detected at every (windowWords, minCount) level in `windows` and
    * the covered word positions merged before ONE rebuild.
    *
    * The per-level `minCount` is what makes the sweep non-degenerate:
    * with a single global ≥2 threshold the smallest window subsumes
    * every larger one (each w₄-subwindow of a duplicated w₈-run is
    * itself duplicated at a strictly earlier position, so the w₈ level
    * would remove nothing new). Real sweeps therefore pair lengths
    * with support thresholds — a LONG run is strong duplication
    * evidence at count 2, while a SHORT phrase repeats by chance and
    * should only go at higher support (e.g. (8, 2) beside (4, 5)).
    * Keep-first sparing applies per window content (per level).
    *
    * Cost shape: the per-level window streams are tagged and flattened
    * row-locally in ONE source scan and ONE Generate, so the multi-
    * length form pays exactly the single-length form's exchanges (one
    * window-hash exchange, one doc-keyed rebuild aggregate, one join
    * back) — the stream is just Σ levels rows longer. */
  def purgeDuplicateSubstringsMulti(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      windows: Seq[(Int, Long)],
      keepFirst: Boolean = true): DataFrame =
    purgeFromWindows(docs, idCol, textCol, windows, keepFirst, BroadcastDictRows)

  /** The purges' window stream, (id, w, start, __h): one native kernel
    * call per (doc, window length) hashes every stride-1 window (the
    * window text never leaves the kernel), tagged (w, start, h)
    * row-locally and flattened into a single stream — one scan, one
    * Generate. BINARY md5 digests (ShingleMd5Bins): identical
    * collision-freeness at half the key bytes on the exchanges keyed by
    * __h (the oracle compares rebuilt text, never this internal key).
    * The level's support threshold stays OUT of the stream. */
  private[graft] def windowStream(docs: DataFrame, idCol: String,
      textCol: String, lengths: Seq[Int]): DataFrame = {
    val levels = array(lengths.map { w =>
      transform(graft.functions.ShingleMd5Bins(col(textCol), w),
        (h, i) => struct(lit(w).as("w"), i.as("start"), h.as("__h")))
    }: _*)
    spreadSmallSource(docs)
      .select(col(idCol), explode(flatten(levels)).as("e"))
      .select(col(idCol), col("e.w").as("w"),
        col("e.start").as("start"), col("e.__h").as("__h"))
  }

  // ---- substring-purge tail (stats, join back, rebuild) -------------
  // Window strings of different lengths are distinct content, so one
  // hash key serves all levels. The r15 window formulation (count
  // over Window.partitionBy(__h)) concentrated a hot hash's full
  // posting list in one task; everything below keeps the stats a
  // bounded partial aggregate — see purgeFromWindows.

  /** The purge broadcasts the join-back dictionary up to this many
    * rows (~32 MB of (16-byte hash, count, packed witness) payload):
    * below it the window stream NEVER exchanges — the removal decision
    * is a map-side broadcast join, inherently skew-proof (a hot hash's
    * postings stay spread across their source partitions). */
  private val BroadcastDictRows = 1L << 20

  /** Packed-long keep-first witness bounds: (id * 2^20 + start) is
    * order-isomorphic to the (id, start) struct when starts stay below
    * 2^20 (documents under ~1M words) and ids within ±2^42 — checked
    * at runtime against the actual stream; out of range (or non-integer
    * ids) falls back to the struct witness. The packed form matters:
    * min(struct) partials compare interpreted and its broadcast rows
    * carry nested structs. */
  private val PackedStartLimit = 1L << 20
  private val PackedIdLimit = Long.MaxValue >> 21

  /** The packed witness of a window row. */
  private def packedFirst(idCol: String): Column =
    col(idCol).cast("long") * lit(PackedStartLimit) + col("start")

  /** Occurrence stats of a window stream: one row per DUPLICATED
    * window content (count >= 2) carrying the count and, for
    * keep-first, the minimal (doc, start) witness — packed into one
    * long when `packedWitness`, a struct otherwise. Always a partial
    * aggregate (count and min decompose into bounded map-side
    * partials; no posting list ever sits in one task), which is what
    * makes the stats pass safe on any corpus — exposed package-private
    * so PlanAuditSpec pins exactly that property. */
  private[graft] def windowStats(wins: DataFrame, idCol: String,
      keepFirst: Boolean, packedWitness: Boolean): DataFrame = {
    val base = wins.groupBy("__h")
    val agged =
      if (!keepFirst) base.agg(count(lit(1)).as("__c"))
      else if (packedWitness)
        base.agg(count(lit(1)).as("__c"), min(packedFirst(idCol)).as("__first"))
      else
        base.agg(count(lit(1)).as("__c"),
          min(struct(col(idCol).as("d"), col("start").as("p"))).as("__first"))
    agged.filter(col("__c") >= lit(2L))
  }

  /** Body of the substring purges over the `windows` levels: window
    * stream, occurrence stats, join back, rebuild. Each level's support
    * threshold is a literal CASE on the window length at filter time, so
    * no per-row threshold column rides the window stream. Package-private
    * with the broadcast join-back limit as an argument, so tests can
    * force the plain join-back on a small corpus.
    *  1. The window stream is pinned ONCE with an EAGER localCheckpoint
    *     on its own doc-clustered partitioning, so the kernel runs once
    *     for both consumers. Eager, because a lazy pin first
    *     materializes under the stats aggregate, which fuses the partial
    *     aggregate onto live Generate output (the interpreted-row path),
    *     and because in Spark 4.1.2 a lazy pin's first materialization
    *     can deadlock against an AQE stage over the same pin. Never
    *     repartitioned on __h: that would serialize a hot hash's
    *     postings through one task. The pin observes the id and start
    *     bounds that decide the packed witness (`Dataset.observe`: no
    *     job of its own).
    *  2. The occurrence stats ([[windowStats]]) are a partial aggregate
    *     over the pin, pinned eagerly themselves (the join reads them,
    *     maybe as a broadcast build); that pin observes the dictionary's
    *     row count.
    *  3. A dictionary of at most `broadcastRows` rows joins back by
    *     broadcast (the stream never exchanges and hot postings stay
    *     spread); a larger one by a plain join AQE can skew-split.
    *  4. [[rebuildFromRemoved]] rebuilds the documents.
    * Building the purge fires the two pin jobs (with their AQE stage
    * jobs) and nothing else; the pins are released by the session-level
    * sweep ([[graft.Pins]]). */
  private[graft] def purgeFromWindows(docs: DataFrame, idCol: String,
      textCol: String, windows: Seq[(Int, Long)], keepFirst: Boolean,
      broadcastRows: Long): DataFrame = {
    require(windows.nonEmpty &&
      windows.forall { case (w, mc) => w >= 1 && mc >= 2 } &&
      windows.map(_._1).distinct.size == windows.size,
      s"windows must be distinct (length >= 1, minCount >= 2) levels: $windows")
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val wins = windowStream(docs, idCol, textCol, windows.map(_._1))
    val minCount = windows.tail.foldLeft(when(col("w") === windows.head._1,
        lit(windows.head._2))) { case (acc, (w, mc)) =>
      acc.when(col("w") === w, lit(mc))
    }
    val packable = keepFirst && (wins.schema(idCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    })
    val bounds = Observation()
    val pinned = (if (!packable) wins else wins.observe(bounds,
        max(col(idCol).cast("long")).as("xi"),
        min(col(idCol).cast("long")).as("ni"),
        max(col("start").cast("long")).as("xs")))
      .localCheckpoint()
    val packed = packable && {
      val b = bounds.get
      b("xi") == null || (b("xi").asInstanceOf[Long] < PackedIdLimit &&
        b("ni").asInstanceOf[Long] > -PackedIdLimit &&
        b("xs").asInstanceOf[Long] < PackedStartLimit)
    }
    val dict = Observation()
    val stats = windowStats(pinned, idCol, keepFirst, packed)
      .observe(dict, count(lit(1)).as("n"))
      .localCheckpoint()
    val small = dict.get("n").asInstanceOf[Long] <= broadcastRows
    val removed = pinned
      .join(if (small) broadcast(stats) else stats, Seq("__h"))
      .filter(col("__c") >= minCount)
      .filter(
        if (!keepFirst) lit(true)
        else if (packed) !(packedFirst(idCol) === col("__first"))
        else !(col(idCol) === col("__first.d") && col("start") === col("__first.p")))
    rebuildFromRemoved(docs, idCol, textCol, removed)
  }

  /** Rebuild tail of the substring purges: word positions
    * covered by any removed (id, w, start) window collapse into a
    * per-doc position ARRAY (bounded by doc length), and the rebuild
    * is one native kernel call per document
    * (graft.functions.RemoveWordPositions) — the corpus word stream is
    * never exploded. Only docs that lose something join back. Each
    * removed row contributes its w-int position run as a tiny array
    * (no per-position row explode — the aggregate's input is one row
    * per removed WINDOW, not per covered word; same distinct-position
    * output either way). */
  private def rebuildFromRemoved(docs: DataFrame, idCol: String,
      textCol: String, removed: DataFrame): DataFrame = {
    val covered = removed
      .select(col(idCol),
        sequence(col("start"), col("start") + col("w") - 1).as("ps"))
      .groupBy(idCol)
      .agg(array_distinct(flatten(collect_list(col("ps")))).as("__rmv"))
    docs.select(col(idCol), col(textCol),
        size(split(col(textCol), " ")).cast("long").as("n_words"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_words"),
        coalesce(size(col("__rmv")), lit(0)).cast("long").as("n_removed"),
        when(col("__rmv").isNull, col(textCol))
          .otherwise(graft.functions.RemoveWordPositions(col(textCol), col("__rmv")))
          .as("text_clean"))
  }

  /** Distinct window-hash index of a corpus — the stored artifact the
    * incremental substring purge ([[purgeAgainstIndex]]) joins new
    * batches against: one binary-md5 window kernel pass + a distinct
    * (at 100 TB: written once, bucketed on __h). */
  def windowHashIndex(docs: DataFrame, textCol: String,
      windowWords: Int): DataFrame =
    docs.select(explode(
        graft.functions.ShingleMd5Bins(col(textCol), windowWords)).as("__h"))
      .distinct()

  /** Incremental (snapshot-N+1) substring purge: every window of a NEW
    * document whose CONTENT already exists in the stored
    * [[windowHashIndex]] is purged — the cross-snapshot form of
    * [[purgeDuplicateSubstrings]], where the index corpus owns every
    * first occurrence (an indexed window in a new doc is by definition
    * not first, so nothing in the batch is spared). Within-batch
    * duplication is the standard purge's job — compose the two (this
    * stage first), exactly as [[winnowAgainstIndex]] composes with
    * [[winnowOverlap]]. Per-batch cost = the batch's window stream +
    * one semi join against the index (asymmetric — the index is never
    * self-joined, and at 100 TB it is bucketed on __h so only the
    * batch side exchanges). Output matches purgeDuplicateSubstrings:
    * (id, n_words, n_removed, text_clean). */
  def purgeAgainstIndex(newDocs: DataFrame, winIndex: DataFrame,
      idCol: String, textCol: String, windowWords: Int = 4): DataFrame = {
    val w = windowWords
    val src = spreadSmallSource(newDocs)
    val removed = src
      .select(col(idCol), lit(w).as("w"),
        posexplode(graft.functions.ShingleMd5Bins(col(textCol), w))
          .as(Seq("start", "__h")))
      .join(winIndex.select(col("__h")), Seq("__h"), "left_semi")
    rebuildFromRemoved(newDocs, idCol, textCol, removed)
  }

  /** Cross-document duplicated n-gram fraction per document: the share
    * of a document's n-gram INSTANCES whose content also occurs in
    * some other document (corpus count exceeds the document's own
    * count). The RefinedWeb-style per-document duplication signal — a
    * cheap SCORING stage (filter on the fraction) where
    * [[purgeDuplicateSubstrings]] is the rewrite stage.
    *
    * One gram-hash shuffle to (doc, h) counts, then a corpus total per
    * h as a PARTITIONED window sum over that (already vocabulary-sized)
    * aggregate — no second pass over the raw gram stream, no
    * unpartitioned window. Output: (doc_id, n_grams, dup_frac), one
    * row per document; documents shorter than n words report 0 grams.
    */
  def dupGramFraction(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val src = spreadSmallSource(docs)
    // 60-bit md5-prefix fold (ShingleHashes hexLen=15), not the 32-hex
    // string: 8-byte shuffle keys; an external replay computes the same
    // fold, so the (vanishingly rare) collisions agree on both sides.
    val grams = src.select(col(idCol),
      explode(graft.functions.ShingleHashes(col(textCol), n, 15, dedup = false))
        .as("__h"))
    // Both counts ride ONE exchange of the gram stream: the corpus
    // total partitions by __h, and the per-doc count's (__h, doc)
    // clustering is already satisfied by that partitioning (only a
    // local sort is added) — a groupBy(doc, h) pre-aggregate would be
    // a third full exchange (measured slower at sf0.1).
    val flagged = grams
      .withColumn("__ct", count(lit(1)).over(Window.partitionBy("__h")))
      .withColumn("__cd", count(lit(1)).over(Window.partitionBy("__h", idCol)))
    val frac = flagged.groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        round(sum(when(col("__ct") > col("__cd"), lit(1L)).otherwise(lit(0L)))
          / count(lit(1)), 9).as("dup_frac"))
    docs.select(col(idCol))
      .join(frac, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dup_frac"), lit(0.0)).as("dup_frac"))
  }

  /** Near-duplicate cluster collapse keeping the BEST document of each
    * cluster (max `scoreCol`, ties to the smallest id) instead of
    * [[exactDedupKeepFirst]]'s arbitrary-first policy — the form a
    * quality-aware pipeline wants: near-copies differ (boilerplate,
    * truncation, OCR noise) and the kept copy should be the best one.
    *
    * [[nearDuplicates]] (bucketed LSH, never all-pairs) →
    * [[dupClusters]] (regime-switched) → one corpus join (AQE
    * broadcasts the cluster table when small) → a per-cluster
    * row_number window (partitioned by cluster — bounded by the
    * largest clique, never corpus-wide). Output: (doc_id, cluster_id,
    * n_members, kept) for every input document.
    */
  def collapseKeepBest(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      scoreCol: String,
      threshold: Double = 0.8,
      shingleLen: Int = 3,
      numHashes: Int = 16,
      bandRows: Int = 4): DataFrame =
    collapseKeepBestByPairs(docs, idCol, scoreCol,
      nearDuplicates(docs, idCol, textCol, shingleLen, numHashes,
        bandRows, threshold).select("doc_a", "doc_b"))

  /** The pairs-driven core of [[collapseKeepBest]]: cluster any
    * near-dup pair stream — text LSH, embedding-cosine
    * ([[Similarity.cosineNearDup]] pairs), perceptual — and keep each
    * cluster's highest-`scoreCol` member (ties to smallest id);
    * singletons keep themselves. The rank window is bounded by the
    * largest clique, same as the text form. */
  def collapseKeepBestByPairs(
      docs: DataFrame,
      idCol: String,
      scoreCol: String,
      pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = dupClusters(pairs).select(
      col("doc_id").as("__cid_doc"), col("cluster_id").as("__cl"))
    val withCl = docs.select(col(idCol), col(scoreCol))
      .join(clusters, col(idCol) === col("__cid_doc"), "left")
      .select(col(idCol), col(scoreCol),
        coalesce(col("__cl"), col(idCol)).as("cluster_id"))
    withCl
      .withColumn("__rn", row_number().over(
        Window.partitionBy("cluster_id")
          .orderBy(col(scoreCol).desc, col(idCol))))
      .withColumn("__nm", count(lit(1)).over(Window.partitionBy("cluster_id")))
      .select(col(idCol), col("cluster_id"), col("__nm").as("n_members"),
        (col("__rn") === 1).as("kept"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — the MOSS
    * primitive): per document, the DISTINCT minima of every `w`-wide
    * sliding window over the ORDERED word-`k`-gram hash stream. The
    * winnowing guarantee: any word run of ≥ w+k−1 words shared by two
    * documents contributes at least one shared fingerprint — local
    * (edit-robust) overlap detection that whole-doc hashes miss and
    * ExactSubstr pays a full positional shuffle for — at an expected
    * ~2/(w+1) of the shingle-set density, so every downstream
    * shared-postings join is proportionally cheaper. (Value-set
    * variant: windows select min VALUES, not rightmost-min positions —
    * the same containment guarantee, engine-replayable as pure integer
    * min/distinct arithmetic.) Docs with fewer than w k-grams use one
    * window over all of them; docs shorter than k words have no
    * fingerprints. Map-only per doc; one row-local kernel call plus
    * in-plan window minima.
    *
    * Output: (idCol, fp) distinct. */
  def winnowFingerprints(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowFingerprints needs k,w >= 1: k=$k w=$w")
    // Small-file spread (the shingles() discipline): a corpus read from
    // fewer splits than cores would run the whole fingerprint kernel
    // near-serially — one 0.6 MB parquet file is ONE partition, and the
    // r17 funnel paid ~0.3 s of single-task digest time per winnow pass
    // for it. No-op on a well-split source (the 100 TB case) and on
    // non-file inputs (pinned stages spread before their pin instead).
    val src = spreadSmallSource(docs)
    // One fused kernel call per row (graft.functions.WinnowFps): shingle
    // hashing, deque sliding minima and the distinct all run in one
    // codegen'd O(words) pass — the r17 HOF formulation
    // (transform(sequence)/array_min(slice)/array_distinct over a
    // ShingleHashes array) evaluated every window's array_min
    // interpreted, ~2x the whole funnel's fingerprint-stage cost
    // (WinnowKernelSpec pins the bit-identical differential; A/B in
    // BASELINE). Sub-k-word docs return empty arrays — explode drops
    // them, so the contract (no fingerprints for short docs) holds.
    src.select(col(idCol),
      explode(graft.functions.WinnowFps(col(textCol), k, 7, w)).as("fp"))
  }

  /** MOSS-style overlap candidates: document pairs sharing at least
    * `minShared` winnow fingerprints. The same shared-postings
    * equi-join shape as the shingle-based detectors, but over the
    * winnowed ≈2/(w+1)-density set — identical long-run detection
    * guarantee, a fraction of the join postings. Cost ∝ shared
    * fingerprint postings; never all-pairs.
    *
    * `maxPostings > 0` drops fingerprints occurring in more than that
    * many documents before the pair join — the MOSS paper's own
    * discipline ("ignore fingerprints in too many documents":
    * boilerplate/license text otherwise owns a quadratic share of the
    * pairs at scale, exactly the LSH maxBucketSize rule). Enforcement
    * is skew-safe: a bounded collect_capped aggregate truncates hot
    * fingerprints' posting buffers at cap+1 ids map-side, so no task
    * ever buffers — or even receives — a hot key's full posting list.
    * 0 = exact (default; the oracle's form) — set a cap on
    * boilerplate-prone corpora.
    *
    * Output: (doc_a, doc_b, n_shared), doc_a < doc_b. */
  def winnowOverlap(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4,
      minShared: Long = 3L,
      maxPostings: Long = 0L): DataFrame = {
    if (maxPostings <= 0) {
      // Exact path: materialize the fingerprint stream ONCE —
      // repartitioning on fp plants one hash Exchange that BOTH
      // self-join sides canonicalize to, so Spark's ReuseExchange
      // computes the kernel+explode subtree a single time and the
      // second side reads the shuffle files (the same shape
      // prefixFilterJoin gets from its perDoc aggregate). The r13 plan
      // evaluated the stream independently per side.
      val fps = winnowFingerprints(docs, idCol, textCol, k, w)
        .repartition(col("fp"))
      fps.select(col(idCol).as("doc_a"), col("fp"))
        .join(fps.select(col(idCol).as("doc_b"), col("fp")), Seq("fp"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)
    } else {
      // Capped path: ONE fp exchange whose partial aggregation is
      // bounded BY CONSTRUCTION — collect_capped(id, cap+1) stops
      // buffering at cap+1 ids in every map-side partial, every
      // shuffled buffer, and the reduce-side merge, so a boilerplate
      // fingerprint with a million postings costs O(cap) memory
      // everywhere and its postings are truncated map-side instead of
      // concentrating on one reducer. (The r14 shape counted postings
      // with a window over the fp partitioning, which ships EVERY
      // posting of the hot key to one task and buffers the whole
      // group before the filter drops it — the exact skew the cap
      // exists to prevent.) A length-(cap+1) array means "> cap
      // postings, truncated" → dropped; ≤ cap is the exact posting
      // list. Pair expansion then streams through posexplode + slice
      // over the sorted (≤ cap)-element array — doc_a < doc_b by
      // construction, the candidatePairs discipline — replacing the
      // self-join entirely: one exchange, no window, no second pass.
      require(maxPostings < Int.MaxValue,
        s"winnowOverlap: maxPostings must fit in Int, got $maxPostings")
      winnowFingerprints(docs, idCol, textCol, k, w)
        .groupBy("fp")
        .agg(sort_array(graft.functions.CollectCapped(col(idCol),
          (maxPostings + 1).toInt)).as("__ids"))
        .filter(size(col("__ids")).between(lit(2), lit(maxPostings)))
        .select(col("__ids"), posexplode(col("__ids")).as(Seq("__i", "doc_a")))
        .select(col("doc_a"),
          explode(slice(col("__ids"), col("__i") + lit(2), size(col("__ids"))))
            .as("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)
    }
  }

  /** Incremental (cross-snapshot) winnow overlap: NEW docs scored
    * against a STORED fingerprint index — the snapshot-N+1 run of the
    * hygiene funnel's near-dup stage, where yesterday's corpus already
    * has its winnow fingerprints materialized ((idx_id, fp) — the
    * [[winnowFingerprints]] output written once) and only the new batch
    * pays the digest pass. The join is ASYMMETRIC — batch fps × index
    * fps, never index×index (the [[dedupAgainstIndex]] discipline) — so
    * per-batch cost tracks the batch's posting volume, not the corpus:
    * at 100 TB the fp index is a stable table BUCKETED on fp, and only
    * the (small) batch side exchanges. Same winnowing guarantee as
    * [[winnowOverlap]]: any ≥ w+k−1-word run shared with an index doc
    * contributes at least one shared fingerprint.
    *
    * `maxPostings > 0` applies the MOSS boilerplate cap to the INDEX
    * side (a stored index keeps hot-fp posting counts precomputed; here
    * the bounded collect_capped aggregate derives the drop set without
    * concentrating any posting list).
    *
    * Output: (new_id, idx_id, n_shared) with n_shared ≥ minShared.
    * Batch==full differential: for `maxPostings = 0`, restricted to
    * (index, batch) pairs this equals the full-corpus [[winnowOverlap]]
    * (TextDedupEdgeSpec pins exactly that equality). With a cap the
    * two are NOT interchangeable by design: the cap here counts
    * postings over the INDEX side only (what a stored index can know),
    * while winnowOverlap counts over the whole corpus — a fingerprint
    * hot only because of the batch survives here but is dropped there,
    * and vice versa. */
  def winnowAgainstIndex(
      newDocs: DataFrame,
      fpIndex: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4,
      minShared: Long = 3L,
      maxPostings: Long = 0L): DataFrame = {
    val idx =
      if (maxPostings <= 0) fpIndex.select(col("idx_id"), col("fp"))
      else {
        require(maxPostings < Int.MaxValue,
          s"winnowAgainstIndex: maxPostings must fit in Int, got $maxPostings")
        fpIndex
          .groupBy("fp")
          .agg(graft.functions.CollectCapped(col("idx_id"),
            (maxPostings + 1).toInt).as("__ids"))
          .filter(size(col("__ids")) <= maxPostings)
          .select(col("fp"), explode(col("__ids")).as("idx_id"))
      }
    winnowFingerprints(newDocs, idCol, textCol, k, w)
      .select(col(idCol).as("new_id"), col("fp"))
      .join(idx, Seq("fp"))
      .groupBy("new_id", "idx_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Prefix-filtered set-similarity self-join (the AllPairs/PPJoin
    * family — Chaudhuri et al. SSJoin 2006, Xiao et al. PPJoin 2008):
    * exact token-set Jaccard ≥ `threshold` pairs WITHOUT the all-pairs
    * product and without joining on every token.
    *
    * Tokens are canonically ordered by ascending global document
    * frequency (rarest first, ties by token text); a doc with m tokens
    * exposes only its first m − ⌈t·m⌉ + 1 tokens as join keys — any
    * pair with Jaccard ≥ t MUST share a prefix token, so recall is
    * exact. The scale property vs naive token blocking: hot tokens
    * (the skewed postings that blow up an equi-join) sort LAST and
    * almost never land in a prefix, so candidate volume tracks the
    * rare-token postings. A length filter (t·max ≤ min) prunes before
    * pair-dedup; survivors verify exact Jaccard via per-doc token
    * sets — per-pair O(m), never corpus-quadratic.
    *
    * `ngram` picks the set elements: 1 = word tokens, n>1 = word
    * n-gram shingles. Shingles are the production choice — a small or
    * skewed vocabulary (the sf corpora have 31 distinct words, each in
    * ~78% of docs) makes EVERY word token hot and degenerates the
    * prefix filter back to all-pairs (measured 88.8M candidate pairs
    * at sf0.1 with words vs 312K with 3-gram shingles, a 284×
    * reduction); shingle sets are distinctive at any vocabulary.
    *
    * Output: (id_a, id_b, m_a, m_b, jaccard), id_a < id_b,
    * jaccard ≥ threshold. */
  def prefixFilterJoin(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, ngram: Int = 1): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    require(ngram >= 1, s"ngram must be >= 1, got $ngram")
    // Set elements are the 28-bit md5 hashes of the distinct word
    // n-grams (the shingle_hashes kernel — one digest pass per doc, the
    // SAME representation bandRecall's exact ground truth uses): an
    // 8-byte join key instead of a ~20-byte shingle string, numeric
    // canonical ordering on both engines, and array-of-long verify.
    // Jaccard is over the hashed sets; a cross-shingle collision folds
    // two elements into one (p ≈ |vocab|²/2²⁹ — ~0.1% of elements at
    // the sf0.1 vocabulary), identically in engine and oracle.
    val toks = docs.select(col(idCol).as("id"),
      explode(graft.functions.ShingleHashes(col(textCol), ngram, 7,
        dedup = true)).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    // ONE aggregation builds each doc's canonically-ordered (df, tok)
    // array — it serves BOTH the prefix stream and the verify sets, so
    // the shingle explode + df join run once, not three times (measured
    // 6.1 s → ~2 s at sf0.1), and there is no per-doc window at all.
    // Arrays are bounded by the doc's element count. The 1-row-per-doc
    // frame is recomputed per consumer by design: pinning it via
    // localCheckpoint measured SLOWER than recompute for array-heavy
    // frames (round-12 A/B), so the subtree is left to Spark's own
    // ReusedExchange where plans allow.
    val perDoc = toks.join(dfreq, "tok")
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("dl"))
      .select(col("id"), col("dl"), size(col("dl")).cast("long").as("m"))
    val prefix = perDoc.select(col("id"), col("m"),
        explode(slice(col("dl"), lit(1),
          (col("m") - ceil(lit(threshold) * col("m")) + 1).cast("int"))).as("e"))
      .select(col("id"), col("e.tok").as("tok"), col("m"))
    val cand = prefix.select(col("id").as("id_a"), col("tok"), col("m").as("m_a"))
      .join(prefix.select(col("id").as("id_b"), col("tok"), col("m").as("m_b")),
        Seq("tok"))
      .filter(col("id_a") < col("id_b") &&
        lit(threshold) * greatest(col("m_a"), col("m_b")).cast("double") <=
          least(col("m_a"), col("m_b")).cast("double"))
      .select("id_a", "id_b", "m_a", "m_b").distinct()
    val sets = perDoc.select(col("id"),
      transform(col("dl"), e => e.getField("tok")).as("ts"))
    cand
      .join(sets.select(col("id").as("id_a"), col("ts").as("ts_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("ts").as("ts_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("ts_a"), col("ts_b"))))
      .withColumn("jaccard",
        col("inter") / (col("m_a") + col("m_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "m_a", "m_b", "jaccard")
  }

  /** Content-defined chunking (the FastCDC/rolling-Gear family): split
    * each document at positions where a rolling hash of the trailing
    * 31 characters hits a mask, so chunk boundaries move WITH content —
    * an insertion early in a doc shifts byte offsets but not the
    * downstream boundaries, which is what lets chunk-hash dedup find
    * shared passages that fixed-size blocks never re-align on.
    *
    * The hash is the base-2 polynomial h_i = (2·h_{i−1} + g(c_i))
    * mod 2³¹ with g(c) = (code(c)·2654435761) mod 2³¹ — O(1) per
    * character, one forward scan per doc (the mod-2³¹ ring makes the
    * shift-out implicit: a character's influence vanishes after 31
    * shifts). A boundary falls after position i when h_i ≡ 0
    * (mod 2^maskBits); expected chunk ≈ 2^maskBits chars. Integer
    * arithmetic throughout — bit-replayable by any engine.
    *
    * Output: (id, chunk_idx, chunk) — one row per chunk occurrence,
    * map-only (no shuffle; downstream dedup shuffles on md5(chunk)). */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
      maskBits: Int = 5): DataFrame = {
    require(maskBits >= 1 && maskBits <= 20, s"maskBits in [1,20], got $maskBits")
    // Native codegen'd kernel (functions.TextKernels.cdcChunks): one
    // tight byte scan per doc — the interpreted aggregate-lambda fold
    // this replaces measured 8.4 s at sf0.1, the kernel sub-second.
    docs
      .filter(length(col(textCol)) >= 1)
      .select(col(idCol).as("id"),
        posexplode(graft.functions.CdcChunks(col(textCol), maskBits)))
      .select(col("id"), col("pos").as("chunk_idx"), col("col").as("chunk"))
  }

  /** Per-document duplicate report over [[cdcChunks]]: each chunk
    * occurrence is attributed to the earliest doc id owning its hash
    * (keep-first, the exact-dedup convention); a doc's duplication is
    * the share of its chunk characters owned elsewhere. One shuffle on
    * the chunk hash + a broadcast-sized join back — at 100 TB only
    * (hash, owner) digests shuffle, never the text. */
  def cdcDedupReport(docs: DataFrame, idCol: String, textCol: String,
      maskBits: Int = 5): DataFrame = {
    val chunks = cdcChunks(docs, idCol, textCol, maskBits)
      .withColumn("ch", md5(col("chunk")))
    val owners = chunks.groupBy("ch").agg(min(col("id")).as("owner"))
    chunks.join(owners, "ch")
      .groupBy("id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("owner") < col("id"), 1L).otherwise(0L))
          .as("n_dup_chunks"),
        (round(sum(when(col("owner") < col("id"), length(col("chunk")))
            .otherwise(0)).cast("double")
          / sum(length(col("chunk"))).cast("double"), 9) + lit(0.0))
          .as("dup_char_frac"))
  }

  /** Order-independent corpus content digest: XOR over docs of a
    * 60-bit md5 prefix of `id|text` — O(1) aggregation state (partial-
    * aggregable, no global sort or string_agg), so a stage report can
    * pin CONTENT equality, not just counts, at any scale. Oracle twin:
    * `bit_xor(CAST('0x' || substr(md5(id || '|' || text), 1, 15) AS
    * BIGINT))`. */
  private def contentHash60(id: Column, text: Column): Column =
    conv(substring(md5(concat(id.cast("string"), lit("|"), text)), 1, 15),
      16, 10).cast("long")

  // ---- hygiene funnel: the stages its three forms share -------------

  /** Report stages of [[hygieneFunnel]] and [[hygieneFunnelStaged]]. */
  private val FunnelStages = Seq("s0_raw", "s1_exact", "s2_neardup",
    "s3_purged", "s4_domain_capped")

  /** Ids that lose their exact-hash group to a smaller id, from `eh`'s
    * (idCol, __eh) rows. Only the bounded (hash → keep id) aggregate
    * shuffles (min/count decompose into O(1) partials — a billion-copy
    * cloud aggregates map-side), and callers anti-join this DROP set,
    * NOT the keep set: its size is n_docs − n_distinct_texts — empty on
    * a mostly-unique corpus, so the anti join broadcasts and the text
    * column never rides a dedup shuffle in the common case (a keep-set
    * semi join would be ~n_docs ids and force a full-corpus text
    * exchange exactly when there is nothing to dedup). */
  private def exactDropIds(eh: DataFrame, idCol: String): DataFrame = {
    val dupKeeps = eh.groupBy(col("__eh"))
      .agg(min(col(idCol)).as("__keepId"), count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select(col("__eh"), col("__keepId"))
    eh.join(dupKeeps, Seq("__eh"))
      .filter(col(idCol) =!= col("__keepId"))
      .select(col(idCol))
  }

  /** Report leg: each row of `d` is one doc of `stage`. */
  private def pinLeg(stage: String, d: DataFrame, tok: Column,
      th: Column = col("__th")): DataFrame =
    d.select(lit(stage).as("stage"), lit(1L).as("__n"),
      tok.cast("long").as("__tok"), th.as("__th"))

  /** Report leg over pinned (__tok, __th) facts: each row of `d` adds
    * `sign` docs (and sign·__tok tokens) to every stage in `stages`. */
  private def factLeg(stages: Seq[String], d: DataFrame,
      sign: Long): DataFrame =
    d.select(explode(array(stages.map(lit): _*)).as("stage"),
      lit(sign).as("__n"),
      if (sign < 0) (-col("__tok")).as("__tok") else col("__tok"),
      col("__th"))

  /** Subtracts the facts of `base`'s rows dropped by `drop` (an id list)
    * from `stages`: counts and token sums subtract, and bit_xor cancels
    * a dropped row exactly because its 60-bit hash then appears an even
    * number of times. */
  private def negLeg(stages: Seq[String], base: DataFrame, drop: DataFrame,
      idCol: String): DataFrame =
    factLeg(stages, base.join(drop, Seq(idCol), "left_semi"), -1L)

  /** The stage report: ONE aggregate over the tagged union of per-row
    * legs (stage, __n, __tok, __th). Literal zero legs ride the same
    * aggregate so an empty corpus still reports every stage (n_docs 0,
    * sums null — the global-aggregate convention) without a spine
    * join; the final sort runs inside the single output partition (a
    * few-row orderBy would schedule a range-sampling job). */
  private def funnelReport(stages: Seq[String], legs: Seq[DataFrame]): DataFrame = {
    val spark = legs.head.sparkSession
    import spark.implicits._
    val zeroLegs = stages.toDF("stage")
      .select(col("stage"), lit(0L).as("__n"),
        lit(null).cast("long").as("__tok"), lit(null).cast("long").as("__th"))
    (legs :+ zeroLegs).reduce(_ unionByName _).groupBy(col("stage"))
      .agg(sum(col("__n")).as("n_docs"), sum(col("__tok")).as("n_tokens"),
        expr("bit_xor(__th)").as("text_h"))
      .coalesce(1).sortWithinPartitions("stage")
  }

  /** Entry of the pinned funnels: spreads a few-split source (the stage
    * pins inherit its partitioning — a broadcast anti-join preserves its
    * stream side's partitions — so a one-file corpus would otherwise pin
    * as ONE partition and run every later kernel pass single-task), pins
    * the per-row facts (id, __eh, __tok, __th) of ONE raw-text pass — md5
    * and split run once, every report leg reads pinned longs; the exact
    * hash is the 16-byte BINARY md5, the oracle's hex grouping at half
    * the shuffle bytes — and pins the exact-dedup drop set (it feeds the
    * anti join and a report leg) and survivors. Returns (facts,
    * survivors, the report legs of `stages` = raw, exact, and the stage
    * after exact, which later drops subtract from). */
  private def pinnedHead(docs0: DataFrame, idCol: String, sourceCol: String,
      textCol: String, stages: Seq[String]): (DataFrame, DataFrame, Seq[DataFrame]) = {
    val docs = spreadSmallSource(docs0)
      .select(col(idCol), col(sourceCol), col(textCol))
    val rows0 = docs.select(col(idCol), unhex(md5(col(textCol))).as("__eh"),
        size(split(col(textCol), " ")).cast("long").as("__tok"),
        contentHash60(col(idCol), col(textCol)).as("__th"))
      .localCheckpoint(false)
    val dropIds = exactDropIds(rows0, idCol).localCheckpoint(false)
    val s1 = docs.join(dropIds, Seq(idCol), "left_anti").localCheckpoint(false)
    (rows0, s1, Seq(factLeg(stages, rows0, 1L),
      negLeg(stages.tail, rows0, dropIds, idCol)))
  }

  /** Within-batch tail of the pinned funnels over `s` (id, source, text,
    * …): capped winnow near-dup drop → multi-length substring purge →
    * per-domain cap on the post-purge token count. Returns the report
    * legs of `stages` (near-dup, purged, capped); the near-dup leg
    * subtracts the winnow drops from `nearBase`'s pinned facts. The drop
    * ids are pinned (a tiny id list feeding the anti join AND the report
    * leg — unpinned, the report would re-run the winnow posting
    * shuffle); the near-dup survivors are pinned with only the three
    * columns the purge and the source join read; the purge pin keeps
    * only (nt, content hash) of the rebuilt text, so it holds four longs
    * plus source per row instead of a second text copy; the bounded
    * top-k carries __th as a payload column (same (score desc, id) order
    * as TextExtract.capPerDomain, minus the join-back). */
  private def pinnedTail(s: DataFrame, nearBase: DataFrame,
      stages: Seq[String], idCol: String, sourceCol: String,
      textCol: String, k: Int, w: Int, minShared: Long, maxPostings: Long,
      windows: Seq[(Int, Long)], domainCap: Int): Seq[DataFrame] = {
    val docs = s.select(col(idCol), col(sourceCol), col(textCol))
    val dropB = winnowOverlap(docs, idCol, textCol,
        k = k, w = w, minShared = minShared, maxPostings = maxPostings)
      .select(col("doc_b").as(idCol)).distinct()
      .localCheckpoint(false)
    val near = docs.join(dropB, Seq(idCol), "left_anti").localCheckpoint(false)
    val purged = purgeDuplicateSubstringsMulti(near, idCol, textCol,
        windows = windows, keepFirst = true)
      .select(col(idCol), (col("n_words") - col("n_removed")).as("nt"),
        contentHash60(col(idCol), col("text_clean")).as("__th"))
      .join(near.select(col(idCol), col(sourceCol)), Seq(idCol))
      .localCheckpoint(false)
    val capped = Similarity.topKPerQuery(
      purged.select(col(sourceCol), col(idCol), col("nt"), col("__th")),
      domainCap, "nt", scoreDesc = true, idCol = idCol,
      queryCol = sourceCol, payloadCols = Seq("__th"))
    Seq(negLeg(stages.take(1), nearBase, dropB, idCol),
      pinLeg(stages(1), purged, col("nt")),
      pinLeg(stages(2), capped, col("nt")))
  }

  /** Composed training-data hygiene funnel — the production entry point
    * for the flagship pipeline: exact-dup drop (keep-first on the
    * content hash — the cheapest stage, run FIRST so every later stage
    * shrinks; C4/RefinedWeb funnels all lead with it) → capped winnow
    * near-dup drop (skew-safe collect_capped enforcement; a doc drops
    * if it pairs with any smaller id) → multi-length duplicated-
    * substring purge (per-level support thresholds) → per-domain cap on
    * the post-purge token count (the C4/RefinedWeb rule, bounded
    * graft_top_k — no rank window).
    * Returns the stage report: (stage, n_docs, n_tokens, text_h) for
    * s0_raw / s1_exact / s2_neardup / s3_purged / s4_domain_capped,
    * ordered by stage — `text_h` is an order-independent 60-bit content
    * XOR of each stage's surviving (id, text), so the report pins the
    * REBUILT TEXT of the purge stages, not just their token counts.
    * Token counts split the stage's text, except purge stages, which
    * report n_words − n_removed of their purge.
    *
    * Stage boundaries are PINNED (localCheckpoint): each stage feeds
    * both the next stage's multi-pass operator and its own report row —
    * unpinned, the winnow join re-runs per consumer (15 corpus scans vs
    * ≤4 pinned, plan-audited in PlanAuditSpec). At 100 TB these pins
    * ARE the inter-stage parquet writes a production funnel does
    * anyway; localCheckpoint is the local-mode analogue, and
    * [[hygieneFunnelStaged]] is the LITERAL form (StagedFunnelSpec pins
    * the two bit-equal). Release via [[graft.Pins]].
    *
    * The 5-row report is ONE aggregate over a tagged union of per-row
    * facts (no leg touches text or a file scan: the final job reads
    * pinned longs): every raw row contributes to s0/s1/s2 in one scan
    * of the fact pin, and the s1/s2 rows are corrected by tiny NEGATIVE
    * legs over the dropped ids (XOR algebra — empty, and free, on a
    * clean corpus). Every stage is individually oracle-checked
    * (q_winnow_overlap_capped, q_substring_dedup_multi, q_domain_cap)
    * and the composition by q_hygiene_funnel. */
  def hygieneFunnel(docs0: DataFrame, idCol: String, sourceCol: String,
      textCol: String, k: Int = 3, w: Int = 4, minShared: Long = 3L,
      maxPostings: Long = 3L,
      windows: Seq[(Int, Long)] = Seq((4, 5L), (8, 2L)),
      domainCap: Int = 15): DataFrame = {
    val (rows0, s1, headLegs) = pinnedHead(docs0, idCol, sourceCol, textCol,
      FunnelStages.take(3))
    funnelReport(FunnelStages, headLegs ++ pinnedTail(s1, rows0,
      FunnelStages.drop(2), idCol, sourceCol, textCol, k, w, minShared,
      maxPostings, windows, domainCap))
  }

  /** Snapshot-N+1 form of [[hygieneFunnel]] — the composed incremental
    * refresh: after the within-batch exact-dup drop, a NEW batch is
    * cleaned AGAINST the stored corpus indexes (cross-snapshot near-dup
    * drop via [[winnowAgainstIndex]], then cross-snapshot substring
    * purge via [[purgeAgainstIndex]]), and the survivors run
    * [[hygieneFunnel]]'s within-batch tail. Every index-side join is
    * ASYMMETRIC (batch × stored index, never index × index), so
    * per-refresh cost tracks the batch, not the corpus — the 100 TB
    * daily-refresh shape: the fp / window-hash indexes are stable
    * bucketed tables; only the batch side moves.
    *
    * Returns the seven-row stage report (stage, n_docs, n_tokens,
    * text_h): s0_batch_raw / s1_exact / s2_idx_neardup / s3_idx_purged /
    * s4_neardup / s5_purged / s6_domain_capped, ordered by stage, with
    * [[hygieneFunnel]]'s token, content-hash, pinning and report
    * conventions. With EMPTY indexes the report's within-batch stages
    * equal `hygieneFunnel(batch)` row for row (TextDedupEdgeSpec pins
    * that differential). */
  def hygieneFunnelAgainstIndex(batch0: DataFrame, fpIndex: DataFrame,
      winIndex: DataFrame, idCol: String, sourceCol: String,
      textCol: String, k: Int = 3, w: Int = 4, minShared: Long = 3L,
      maxPostings: Long = 3L, indexWindowWords: Int = 4,
      windows: Seq[(Int, Long)] = Seq((4, 5L), (8, 2L)),
      domainCap: Int = 15): DataFrame = {
    val stages = Seq("s0_batch_raw", "s1_exact", "s2_idx_neardup",
      "s3_idx_purged", "s4_neardup", "s5_purged", "s6_domain_capped")
    val (rows0, s1, headLegs) = pinnedHead(batch0, idCol, sourceCol,
      textCol, stages.take(3))
    // cross-snapshot near-dup: any batch doc sharing >= minShared
    // winnow fingerprints with an index doc drops (the index corpus
    // owns every prior occurrence; uncapped by default — a stored
    // index ships its own posting-count stats if a cap is wanted).
    // Pinned: the id list feeds both the s2 anti join and a report leg.
    val idxHits = winnowAgainstIndex(s1, fpIndex, idCol, textCol,
        k = k, w = w, minShared = minShared)
      .select(col("new_id").as(idCol)).distinct()
      .localCheckpoint(false)
    val s2 = s1.join(idxHits, Seq(idCol), "left_anti").localCheckpoint(false)
    // cross-snapshot substring purge: windows already in the stored
    // index vanish from the surviving batch docs. The pin carries the
    // rebuilt text's report facts (nt2 = the purge's kept-word count,
    // __tok = split count of the rebuilt text — 1 for a fully-purged
    // empty string — and the content hash), so the s4 legs read them
    // as the tail's near-dup base and no later leg re-hashes text.
    val s3 = purgeAgainstIndex(s2, winIndex, idCol, textCol,
        windowWords = indexWindowWords)
      .join(s2.select(col(idCol), col(sourceCol)), Seq(idCol))
      .select(col(idCol), col(sourceCol),
        (col("n_words") - col("n_removed")).as("nt2"),
        col("text_clean").as(textCol))
      .withColumn("__tok", size(split(col(textCol), " ")).cast("long"))
      .withColumn("__th", contentHash60(col(idCol), col(textCol)))
      .localCheckpoint(false)
    funnelReport(stages, headLegs ++ Seq(
        negLeg(stages.slice(2, 3), rows0, idxHits, idCol),
        pinLeg(stages(3), s3, col("nt2")),
        pinLeg(stages(4), s3, col("__tok"))) ++
      pinnedTail(s3, s3, stages.drop(4), idCol, sourceCol, textCol, k, w,
        minShared, maxPostings, windows, domainCap))
  }

  /** Materialized-stage form of [[hygieneFunnel]] (same stages, same
    * report) — the literal version of the pinned funnel's "these pins
    * ARE the inter-stage writes a production funnel does anyway": each
    * stage's SURVIVORS (with their text) are written as a
    * source-partitioned catalog table `<tablePrefix>_s{1..4}`, and a
    * stage whose table already exists is NOT recomputed — the run
    * resumes from the last completed stage (catalog registration is the
    * completion marker: a crashed write leaves no table, so a rerun
    * redoes exactly the unfinished stages). Table schemas: s1/s2
    * (idCol, textCol, sourceCol), s3/s4 (idCol, nt, text_clean,
    * sourceCol) — the post-purge stages carry the REBUILT text, and s4
    * is the admitted batch the Layout snapshot cycle feeds to
    * [[graft.sources.Layout.appendHygieneIndexes]] (LayoutSpec drives
    * that composition).
    *
    * The report is computed from the tables — StagedFunnelSpec pins the
    * report AND each stage's contents bit-equal to the in-memory run,
    * and that a resumed run schedules no stage work. Each stage reads
    * only the PREVIOUS stage's table (never the raw corpus), so at
    * 100 TB a resume after a day-3 failure replays nothing of days 1-2. */
  def hygieneFunnelStaged(docs0: DataFrame, idCol: String,
      sourceCol: String, textCol: String, k: Int = 3, w: Int = 4,
      minShared: Long = 3L, maxPostings: Long = 3L,
      windows: Seq[(Int, Long)] = Seq((4, 5L), (8, 2L)),
      domainCap: Int = 15, tablePrefix: String): DataFrame = {
    val spark = docs0.sparkSession
    import org.apache.spark.sql.SaveMode
    val docs = spreadSmallSource(docs0)
      .select(col(idCol), col(sourceCol), col(textCol))
    def stageTable(name: String)(compute: => DataFrame): DataFrame = {
      val t = s"${tablePrefix}_$name"
      if (!spark.catalog.tableExists(t))
        compute.write.mode(SaveMode.Overwrite).partitionBy(sourceCol)
          .format("parquet").saveAsTable(t)
      spark.table(t)
    }
    val s1 = stageTable("s1") {
      docs.join(exactDropIds(docs.select(unhex(md5(col(textCol))).as("__eh"),
        col(idCol)), idCol), Seq(idCol), "left_anti")
    }
    val s2 = stageTable("s2") {
      val dropB = winnowOverlap(s1, idCol, textCol, k = k, w = w,
          minShared = minShared, maxPostings = maxPostings)
        .select(col("doc_b").as(idCol)).distinct()
      s1.join(dropB, Seq(idCol), "left_anti")
    }
    val s3 = stageTable("s3") {
      purgeDuplicateSubstringsMulti(s2, idCol, textCol,
          windows = windows, keepFirst = true)
        .select(col(idCol),
          (col("n_words") - col("n_removed")).as("nt"), col("text_clean"))
        .join(s2.select(col(idCol), col(sourceCol)), Seq(idCol))
    }
    val s4 = stageTable("s4") {
      TextExtract.capPerDomain(
          s3.select(col(idCol), col(sourceCol), col("nt")),
          idCol, sourceCol, "nt", cap = domainCap)
        .select(col(idCol), col("nt"))
        .join(s3.select(col(idCol), col("text_clean"), col(sourceCol)),
          Seq(idCol))
    }
    // the same tok/hash expressions as the pinned form's facts, so the
    // two forms are bit-comparable
    val splitTok = size(split(col(textCol), " ")).cast("long")
    val legs = Seq(docs, s1, s2).map((_, splitTok, col(textCol))) ++
      Seq(s3, s4).map((_, col("nt"), col("text_clean")))
    funnelReport(FunnelStages, FunnelStages.zip(legs).map {
      case (stage, (d, tok, text)) =>
        pinLeg(stage, d, tok, contentHash60(col(idCol), text))
    })
  }
}
