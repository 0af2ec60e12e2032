package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level quality scoring and mixture construction for training
  * pipelines: a corpus-trained bigram language model (the replayable
  * stand-in for CCNet/RefinedWeb's KenLM perplexity filter), per-source
  * token-budget selection (mixture building), and pairwise cross-source
  * n-gram overlap (leakage analytics between corpus subsets).
  *
  * All three are pure declarative plans: the LM is two vocabulary-sized
  * aggregations (shuffles on words, never on documents), the budget mix
  * is one per-source window, and the overlap matrix is a gram-bucket
  * self-join whose fan-out per gram is the number of subsets containing
  * it — nothing is ever all-pairs over documents, and nothing
  * corpus-sized reaches the driver.
  */
object TextQuality {

  /** Mean ln P(w_i | w_{i-1}) per document under an add-one-smoothed
    * bigram LM trained on the corpus itself. Output: (idCol, n_bigrams,
    * avg_logp rounded to 9 dp); documents with fewer than two tokens
    * drop out (they have no bigrams to score).
    *
    * Plan shape: ONE pass materializes per-doc bigram counts
    * (`bgc`), and every other piece derives from it — global bigram
    * counts, prefix counts, and the vocabulary (distinct words seen in
    * any bigram) all come from the vocabulary-sized `c2`, so the corpus
    * is exploded exactly once and the LM training shuffles carry word
    * keys, never documents. Scoring is a weighted mean
    * sum(cnt·logp)/sum(cnt) over `bgc` — no second pass over the raw
    * bigram stream.
    */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    // Per-doc bigram counts from ONE native kernel call per document
    // (graft.functions.BigramPairCounts: one split, row-local hash
    // aggregation) — the explode → groupBy(doc, w1, w2) exchange is
    // gone; (doc_id, w1, w2) rows are unique by construction. A
    // one-word doc yields an empty array and explodes to zero rows,
    // same as DuckDB's empty generate_series(1, 0).
    val bgc = docs
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col(idCol),
        explode(graft.functions.BigramPairCounts(col(textCol))).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"),
        col("b.cnt").as("cnt"))
    // bgc is consumed twice (LM training + scoring). Deliberately NOT
    // cached: measured at sf0.1 the recompute costs nothing over a
    // cache (map-only kernel pipelines) while cache+materialize
    // variants measured 3-4× slower AND leak executor storage across
    // calls. At 100 TB a caller who wants the kernel paid once
    // persists the packed input, not this stream.
    val c2 = bgc.groupBy("w1", "w2").agg(sum("cnt").as("c2"))
    // c1 and v are algebraically derivable from c2, but deriving them
    // THROUGH c2 re-runs the whole scan + kernel + (w1,w2) exchange
    // once per consumer (AQE does not reuse the identical exchange
    // subtrees, and caching c2 measured slower — re-materialization
    // outweighs the reuse at this scale). Instead each gets its
    // cheapest independent formulation: c1 aggregates the bigram
    // stream straight to w1 (sum cnt over w2 — same value as summing
    // c2), and v counts the distinct bigram-participating words from a
    // plain word explode (every word of a ≥2-word doc is a bigram
    // endpoint — no kernel, no bigram shuffle).
    val c1 = bgc.groupBy("w1").agg(sum("cnt").as("c1"))
    val ws = split(col(textCol), " ")
    val v = docs.filter(size(ws) >= 2)
      .select(explode(ws).as("w"))
      .agg(countDistinct("w").as("v"))
    val lm = c2.join(c1, "w1").crossJoin(broadcast(v))
      .select(col("w1"), col("w2"),
        log((col("c2") + lit(1)) / (col("c1") + col("v"))).as("logp"))
    bgc.join(lm, Seq("w1", "w2"))
      .groupBy(idCol)
      .agg(sum("cnt").as("n_bigrams"),
        round(sum(col("cnt") * col("logp")) / sum("cnt"), 9).as("avg_logp"))
  }

  /** PII redaction patterns — written in the regex subset Java and RE2
    * share (no lookaround, no backrefs), so external engines replay the
    * scrub byte-for-byte. Deliberately conservative shapes: redaction
    * wants high precision (a false positive destroys training text). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"
  val PhoneRe = "\\+\\d{1,2} \\d{3}-\\d{3}-\\d{4}"

  /** Scrub emails / IPv4s / international-format phone numbers to typed
    * placeholder tokens, counting each category on the raw text — the
    * standard PII pass before training-data release. Map-only: three
    * codegen'd regexp projections, no shuffle, trivially 100 TB-safe. */
  def redactPii(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>"),
        PhoneRe, "<PHONE>").as("text_redacted"),
      size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(Ipv4Re), lit(0))).as("n_ips"),
      size(regexp_extract_all(col(textCol), lit(PhoneRe), lit(0))).as("n_phones"))

  /** Blocked-word flagging — the C4 "bad words" rule (Raffel et al.
    * 2020 drop any page containing a word from a fixed blocklist):
    * per doc, the count of normalized tokens (lowercase, non-
    * alphanumerics stripped — so "Word!" matches "word") that appear
    * in `words`, plus the drop flag. The list rides the plan as a
    * LITERAL array (the C4 list is ~400 words — a broadcast variable
    * would be overkill and a join unnecessary), so the whole operator
    * is one map-only codegen'd projection at any corpus scale; a
    * million-entry list would instead use the explode + equi-join shape
    * of [[TextExtract.filterBlockedHosts]].
    *
    * Output: (idCol, n_blocked, flagged). */
  def flagBlockedWords(docs: DataFrame, idCol: String, textCol: String,
      words: Seq[String]): DataFrame =
    docs.select(col(idCol),
      blockedWordCount(col(textCol), words).as("n_blocked"))
      .withColumn("flagged", col("n_blocked") > 0)

  /** The [[flagBlockedWords]] counting expression as a bare Column, so
    * streaming/batch pipelines can ride it inline (stateless, no join).
    *
    * List entries get the SAME normalization as document tokens
    * (lowercase, non-alphanumerics stripped) — an asymmetric normalize
    * would silently dead-list every punctuated entry ("in-app" could
    * never match the normalized token "inapp"); a multi-word entry
    * collapses to its concatenation and matches only a single token.
    * Tokens split on ANY whitespace run (web text is multi-line — a
    * space-only split would hide blocked words at line starts). */
  def blockedWordCount(text: Column, words: Seq[String]): Column = {
    val wordsLit = typedLit(words
      .map(_.toLowerCase.replaceAll("[^a-z0-9]", ""))
      .filter(_.nonEmpty).distinct)
    val norm = transform(split(lower(text), "\\s+"),
      t => regexp_replace(t, "[^a-z0-9]", ""))
    size(filter(norm, t => array_contains(wordsLit, t))).cast("long")
  }

  /** Unicode-script profile — the fastText-precursor signal (script ≠
    * language, but a CJK page in an "en" bucket is mislabeled for
    * sure): per doc, character counts of the major BMP script blocks
    * and the dominant script by count (ties resolved by the fixed
    * column order latin > digit > cyrillic > cjk > arabic > other).
    * Counts via `length(text) − length(regexp_replace(text, cls, ""))`
    * — both engines count codepoints, all classes are BMP ranges, so
    * the arithmetic replays exactly. Map-only at any scale.
    *
    * Output: (idCol, n_latin, n_digit, n_cyrillic, n_cjk, n_arabic,
    * n_other, dominant). */
  def scriptProfile(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // One codegen'd kernel pass (graft_script_counts) — the previous
    // shape ran SIX regexp_replace passes per document (each one
    // walked and rebuilt the whole string to count one class by length
    // difference); bit-identical counts are pinned by a differential
    // in TextKernelsSpec.
    val counted = docs
      .select(col(idCol),
        graft.functions.ScriptCounts(col(textCol)).as("__sc"))
      .select(col(idCol), col("__sc.n_latin").as("n_latin"),
        col("__sc.n_digit").as("n_digit"),
        col("__sc.n_cyrillic").as("n_cyrillic"),
        col("__sc.n_cjk").as("n_cjk"),
        col("__sc.n_arabic").as("n_arabic"),
        col("__sc.n_other").as("n_other"))
    val top = greatest(col("n_latin"), col("n_digit"), col("n_cyrillic"),
      col("n_cjk"), col("n_arabic"), col("n_other"))
    counted.withColumn("dominant",
      when(top === 0, "empty")
        .when(col("n_latin") === top, "latin")
        .when(col("n_digit") === top, "digit")
        .when(col("n_cyrillic") === top, "cyrillic")
        .when(col("n_cjk") === top, "cjk")
        .when(col("n_arabic") === top, "arabic")
        .otherwise("other"))
  }

  /** The Gopher line/symbol rule family (Rae et al. 2021 §A1.1) that
    * complements the word-level rules in q_gopher_rules: symbol-to-word
    * ratio ('#' chars + '...' occurrences per word), fraction of lines
    * starting with a bullet, fraction of lines ending in an ellipsis,
    * and fraction of words containing an alphabetic character — with
    * the paper's thresholds (≤0.1, ≤0.1, ≤0.3, ≥0.8) as named booleans
    * plus the composed keep. Pure per-row array/string arithmetic:
    * map-only at any scale, replayable ratio divisions of small exact
    * integers.
    *
    * Output: (idCol, symbol_ratio, bullet_frac, ellipsis_frac,
    * alpha_frac, ok_symbols, ok_bullets, ok_ellipsis, ok_alpha, keep). */
  def gopherLineRules(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    val t = col(textCol)
    val lines = split(t, java.util.regex.Pattern.quote(sep))
    val words = split(t, "\\s+")
    val nw = size(words).cast("double")
    val nl = size(lines).cast("double")
    val nHash = (length(t) - length(regexp_replace(t, "#", ""))).cast("double")
    val nEll = ((length(t) -
      length(call_function("replace", t, lit("..."), lit("")))) / lit(3.0))
    val symbolRatio = (nHash + nEll) / nw
    val bulletFrac = size(filter(lines,
      l => l.startsWith("- ") || l.startsWith("• "))).cast("double") / nl
    val ellipsisFrac = size(filter(lines,
      l => l.endsWith("..."))).cast("double") / nl
    val alphaFrac = size(filter(words,
      w => w.rlike("[A-Za-z]"))).cast("double") / nw
    docs.select(col(idCol),
      symbolRatio.as("symbol_ratio"), bulletFrac.as("bullet_frac"),
      ellipsisFrac.as("ellipsis_frac"), alphaFrac.as("alpha_frac"))
      .withColumn("ok_symbols", col("symbol_ratio") <= 0.1)
      .withColumn("ok_bullets", col("bullet_frac") <= 0.1)
      .withColumn("ok_ellipsis", col("ellipsis_frac") <= 0.3)
      .withColumn("ok_alpha", col("alpha_frac") >= 0.8)
      .withColumn("keep", col("ok_symbols") && col("ok_bullets") &&
        col("ok_ellipsis") && col("ok_alpha"))
  }

  /** Within-document duplicate-line fractions — Gopher's dup_line_frac /
    * dup_line_char_frac rules (Rae 2021 §A1.1: a page whose lines
    * repeat internally is boilerplate even if globally unique; distinct
    * from [[graft.operators.TextExtract.dedupConsecutiveLines]], which
    * only sees ADJACENT repeats). A line counts as duplicated when its
    * content occurs ≥2 times in the same document; both the line share
    * and the character share are reported with the paper thresholds
    * (≤0.30 lines, ≤0.20 chars).
    *
    * Scale shape: explode → one (doc, line)-keyed count aggregate → one
    * doc-keyed rollup. Deliberately NOT the row-local O(lines²)
    * membership probe: a 10k-line document would pay 10⁸ comparisons in
    * one task; the keyed aggregate is linear and partitions freely.
    *
    * Output: (idCol, n_lines, dup_line_frac, dup_char_frac,
    * ok_dup_lines, ok_dup_chars). */
  def withinDocDupLines(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    val lines = split(col(textCol),
      java.util.regex.Pattern.quote(sep))
    // explode_outer keeps NULL-text docs as one NULL-line row (a plain
    // explode would silently DROP the doc from the report — its siblings
    // emit null metrics instead); the NULL group contributes nothing and
    // nullif turns its 0/0 into null fracs
    val valid = when(col("__l").isNotNull, col("__c")).otherwise(0L)
    docs.select(col(idCol), explode_outer(lines).as("__l"))
      .groupBy(col(idCol), col("__l"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(idCol)
      .agg(sum(valid).as("n_lines"),
        (sum(when(col("__l").isNotNull && col("__c") >= 2, col("__c"))
          .otherwise(0L)).cast("double") /
          nullif(sum(valid).cast("double"), lit(0.0))).as("dup_line_frac"),
        (sum(when(col("__l").isNotNull && col("__c") >= 2,
          col("__c") * length(col("__l"))).otherwise(0L)).cast("double") /
          nullif(sum(valid * length(col("__l"))).cast("double"), lit(0.0)))
          .as("dup_char_frac"))
      .withColumn("ok_dup_lines", col("dup_line_frac") <= 0.3)
      .withColumn("ok_dup_chars", col("dup_char_frac") <= 0.2)
  }

  /** Keep each group's rows, in deterministic md5-of-id priority order,
    * while the running `tokensCol` total stays within `budget`. Returns
    * the input plus (pr, cum, keep) — callers filter on `keep` to
    * materialize the mixture or aggregate for a mixture report. One
    * shuffle on `groupCol`; each group sorts independently in parallel.
    *
    * Policy: PREFIX-CUT — `cum` accumulates over every row in priority
    * order and keep = (cum <= budget), so the kept set is a prefix of
    * the priority order. A skip-and-continue greedy (reject the
    * overflowing row, keep trying smaller ones — what
    * [[graft.streaming.StreamOps.streamingTokenBudget]] does online) packs
    * closer to the budget but is a sequential fold no window sum can
    * express — prefix-cut is the declarative, any-engine-replayable
    * batch policy.
    */
  def tokenBudgetMix(df: DataFrame, groupCol: String, idCol: String,
      tokensCol: String, budget: Long): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy("__pr", idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__pr", md5(col(idCol).cast("string").cast("binary")))
      .withColumn("__cum", sum(col(tokensCol).cast("long")).over(w))
      .withColumn("keep", col("__cum") <= budget)
      .withColumnRenamed("__pr", "pr").withColumnRenamed("__cum", "cum")
  }

  /** Characters whose UTF-8 byte sequences, misdecoded as
    * windows-1252 (the single most common real-world encoding bug),
    * produce the classic mojibake artifacts this repair reverses. */
  val mojibakeTargets: Seq[String] = Seq(
    "é", "è", "ê", "á", "à", "â", "ä",
    "ã", "í", "î", "ï", "ó", "ô", "ö",
    "õ", "ú", "û", "ü", "ñ", "ç", "ß",
    "É", "Ö", "Ü", "’", "‘", "“", "”",
    "–", "—", "…", "«", "»", "°")

  /** The mojibake artifact for `s`: its UTF-8 bytes re-decoded as
    * windows-1252 (Java's cp1252 maps all 256 bytes, so this is total
    * and deterministic). */
  def mojibakeOf(s: String): String =
    new String(s.getBytes("UTF-8"), "windows-1252")

  /** (artifact → repaired) pairs, longest artifact first so 3-char
    * punctuation artifacts repair before 2-char accent artifacts.
    * Replacements apply in this exact order; an external engine nesting
    * the same replaces in the same order reproduces the output
    * byte-for-byte. */
  val mojibakeTable: Seq[(String, String)] =
    mojibakeTargets.map(t => mojibakeOf(t) -> t).sortBy(-_._1.length)

  /** Repair double-encoded (UTF-8-as-cp1252) text via the canonical
    * artifact table — a codegen'd chain of literal replaces, map-only,
    * no UDF. Output: (idCol, text_fixed, was_mojibake).
    */
  def fixMojibake(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fixed = mojibakeTable.foldLeft(col(textCol)) {
      case (c, (bad, good)) => replace(c, lit(bad), lit(good))
    }
    df.select(col(idCol), fixed.as("text_fixed"),
      (fixed =!= col(textCol)).as("was_mojibake"))
  }

  /** Temperature-based source mixing (the GPT-3/PaLM data-mixing rule):
    * source `i` gets quota `floor(T * cnt_i^alpha / sum_j cnt_j^alpha)`
    * where `T = floor(total * targetFrac)` — `alpha < 1` up-weights
    * small sources relative to proportional sampling. Within a source,
    * docs are selected by content-hash rank (deterministic
    * pseudo-random, reproducible anywhere). The per-source counts are a
    * bounded O(#sources) driver collect; the weight fold runs in sorted
    * source order so an external engine replaying the same fold gets the
    * identical doubles. Selection itself is one window per source — a
    * map-side projection plus one source-keyed exchange.
    *
    * Output: every input row as (idCol, groupCol, keep).
    */
  def temperatureMix(df: DataFrame, groupCol: String, idCol: String,
      textCol: String, alpha: Double, targetFrac: Double): DataFrame = {
    require(alpha > 0 && targetFrac > 0 && targetFrac <= 1,
      s"need alpha > 0 and 0 < targetFrac <= 1: $alpha/$targetFrac")
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val total = counts.map(_._2).sum
    val t = math.floor(total * targetFrac)
    // alpha = 0.5 routes through sqrt: IEEE-754 requires sqrt correctly
    // rounded but not pow, so sqrt is the only power an external engine
    // is guaranteed to reproduce bit-for-bit
    val powf: Double => Double =
      if (alpha == 0.5) math.sqrt else x => math.pow(x, alpha)
    var sumW = 0.0
    counts.foreach { case (_, c) => sumW += powf(c.toDouble) }
    val quotas = counts.map { case (src, c) =>
      (src, math.floor(t * powf(c.toDouble) / sumW).toLong)
    }
    val spark = df.sparkSession
    import spark.implicits._
    val quotaDf = broadcast(quotas.toSeq.toDF(groupCol, "__quota"))
    val w = Window.partitionBy(groupCol).orderBy(md5(col(textCol)), col(idCol))
    df.join(quotaDf, groupCol)
      .withColumn("__rn", row_number().over(w))
      .select(col(idCol), col(groupCol), (col("__rn") <= col("__quota")).as("keep"))
  }

  /** Content diff between two corpus snapshots (crawl refreshes,
    * source re-extractions): per-document status by content hash —
    * `added` (only in new), `removed` (only in old), `changed` (both,
    * different text), `unchanged`. The companion to [[vocabDrift]]'s
    * distributional view: this one says WHICH documents moved, and its
    * counts are the first sanity gate before re-running a prep
    * pipeline on a refreshed snapshot.
    *
    * One id-keyed full outer join of two hash projections — no text
    * ever shuffles, only 32-hex digests. Output: (idCol, status). */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val o = oldDocs.select(col(idCol), md5(col(textCol)).as("__ho"))
    val n = newDocs.select(col(idCol), md5(col(textCol)).as("__hn"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__ho").isNull, lit("added"))
          .when(col("__hn").isNull, lit("removed"))
          .when(col("__ho") === col("__hn"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Epoch-based mixture replication — the published "data recipe"
    * form (LLaMA's table of per-source epochs; DoReMi's domain
    * weights): each group's documents are repeated `epochs(group)`
    * times in the training stream, with the FRACTIONAL part realized
    * as a deterministic content-hash subset (md5(id)/2^28 < frac, the
    * repo's standard split rule) rather than sampling — so 2.5 epochs
    * means two full copies plus a stable half of the documents getting
    * a third, reproducible under any partitioning.
    *
    * Map-only: the epoch table rides as a plan-time map literal and
    * each row explodes into its copy count (`sequence` guarded for the
    * zero-copy case — epochs < 1 are plain down-sampling). Output: one
    * row per (document, epoch) with the epoch index, ready to union
    * into a shuffled training order or feed [[graft.operators.Packing]].
    */
  def epochMixture(df: DataFrame, idCol: String, groupCol: String,
      epochs: Map[String, Double]): DataFrame = {
    require(epochs.values.forall(_ >= 0), s"epochs must be >= 0: $epochs")
    val eLit = typedLit(epochs)
    val e = coalesce(element_at(eLit, col(groupCol)), lit(1.0))
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 7), 16, 10)
      .cast("long") / lit(268435456.0)
    val copies = (floor(e) +
      when(u < e - floor(e), lit(1.0)).otherwise(lit(0.0))).cast("int")
    df.select(col(idCol), col(groupCol), copies.as("__n"))
      .select(col(idCol), col(groupCol),
        explode(when(col("__n") >= 1, sequence(lit(1), col("__n")))
          .otherwise(array())).as("epoch"))
  }

  /** Sliding-window document chunking (the RAG/embedding-prep shape):
    * word windows of `size` tokens every `stride` tokens, so
    * consecutive chunks overlap by `size - stride`. Row-local explode —
    * a map-only operator; chunk text re-joins with single spaces
    * (whitespace-normalizing, like the shingle pipeline). Output:
    * (idCol, chunk_idx, chunk_text, n_tokens).
    */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize: $chunkSize/$stride")
    val wsa = col("__ws")
    // one chunk per stride step while the window start is in range;
    // the last chunks may be short (slice past the end truncates)
    docs
      .select(col(idCol), split(col(textCol), " ").as("__ws"))
      .select(col(idCol),
        posexplode(transform(
          sequence(lit(0),
            greatest(ceil((size(wsa) - lit(chunkSize)) / lit(stride.toDouble)),
              lit(0)).cast("long")),
          i => concat_ws(" ", slice(wsa, i * stride + 1, lit(chunkSize)))))
          .as(Seq("chunk_idx", "chunk_text")))
      .withColumn("n_tokens", size(split(col("chunk_text"), " ")))
  }

  /** Pairwise distinct word-n-gram intersection and Jaccard between
    * groups (sources). Output: (src_a, src_b, inter, jaccard), one row
    * per unordered pair with src_a < src_b. Grams travel as 60-bit
    * md5-derived ints; the pair stream is a gram-bucket equi-join whose
    * fan-out per gram is the number of groups containing it.
    *
    * `maxGroupsPerGram`: with MANY groups, a gram present in g groups
    * contributes g²/2 pair rows — ubiquitous boilerplate grams are both
    * the quadratic blowup and overlap noise (they carry no
    * discriminative signal, the same reason IDF down-weights them).
    * With a cap set, grams in more than `cap` groups are dropped before
    * the self-join (one extra vocabulary-sized aggregation). Default
    * None keeps exact semantics (the oracle-checked configuration —
    * right for tens of groups).
    */
  def groupOverlap(docs: DataFrame, groupCol: String, textCol: String,
      n: Int, maxGroupsPerGram: Option[Int] = None): DataFrame = {
    // 60-bit gram hashes from the native kernel, deduped WITHIN each doc
    // in-kernel (duplicate-insensitive here: a cross-group distinct
    // follows) — one call per doc replaces the interpreted shingle
    // explode + per-gram md5 projection, and the in-doc dedup shrinks
    // the rows entering the distinct exchange. Same value as
    // conv(substring(md5(sh),1,15),16,10). Spread first: a corpus read
    // from few splits would run the kernel near-serially.
    val src = TextDedup.spreadSmallSource(docs)
    val all = src
      .select(col(groupCol),
        explode(graft.functions.ShingleHashes(col(textCol), n, 15, dedup = true)).as("h"))
      .distinct()
    val g = maxGroupsPerGram match {
      case Some(cap) =>
        val ok = all.groupBy("h").agg(count(lit(1)).as("__gn"))
          .filter(col("__gn") <= cap)
        all.join(ok, Seq("h"), "left_semi")
      case None => all
    }
    val sz = g.groupBy(groupCol).agg(count(lit(1)).as("n"))
    val a = g.select(col(groupCol).as("src_a"), col("h"))
    val b = g.select(col(groupCol).as("src_b"), col("h").as("hb"))
    a.join(b, col("h") === col("hb") && col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
      .join(sz.select(col(groupCol).as("src_a"), col("n").as("na")), "src_a")
      .join(sz.select(col(groupCol).as("src_b"), col("n").as("nb")), "src_b")
      .select(col("src_a"), col("src_b"), col("inter"),
        round(col("inter") / (col("na") + col("nb") - col("inter")), 9).as("jaccard"))
  }

  /** Stupid-backoff trigram LM scoring (Brants et al. 2007 — the
    * scheme DESIGNED for distributed LMs: no normalized discounting,
    * just raw count ratios with a fixed backoff factor, so every model
    * "parameter" is a count a groupBy produces and the score needs no
    * iterative estimation):
    *
    *   S(w3|w1 w2) = f3/f2(w1,w2)                  if f3 > 0
    *               = α · f2(w2,w3)/f1(w2)          else if f2(w2,w3) > 0
    *               = α² · (f1(w3)+1)/(N+V)         otherwise
    *
    * (α = 0.4; the unigram floor is add-1 smoothed so unseen words
    * score finitely). Counts come from the NON-holdout rows; scored
    * docs are the `holdout` rows — on the training split itself every
    * trigram is seen and backoff would never fire.
    *
    * Scale shape: count tables are n-gram-vocabulary-sized groupBys of
    * one token/bigram/trigram stream; the held-out trigram stream joins
    * them keyed by gram (bounded, never corpus×corpus); N/V are a
    * broadcast one-row aggregate; per-doc aggregation is one doc-keyed
    * shuffle. Output: (doc_id, n_trigrams, sb_score = mean ln S,
    * 9-rounded).
    */
  def stupidBackoffScore(docs: DataFrame, idCol: String, textCol: String,
      holdout: org.apache.spark.sql.Column, alpha: Double = 0.4): DataFrame = {
    import graft.functions.ShingleHashes
    // Every n-gram rides as its 60-bit md5 fold from the native kernel
    // (one codegen'd call per doc per order): count tables and the five
    // model joins below are LONG-keyed, not multi-string-keyed — the
    // measured difference is ~4x on the whole query. Distinct grams
    // colliding at 60 bits group together IDENTICALLY in any engine
    // replaying the same fold, so the oracle stays exact.
    def hashed(src: DataFrame, n: Int, out: String) = src
      .select(col("doc_id"), explode(
        ShingleHashes(col("__text"), n, 15, dedup = false)).as(out))
    val ws = docs.select(col(idCol).as("doc_id"), holdout.as("__h"),
      col(textCol).as("__text"))
    val train = ws.filter(!col("__h"))
    val f1 = hashed(train, 1, "h1").groupBy("h1").agg(count(lit(1)).as("c1"))
    val stats = f1.agg(sum("c1").as("n_toks"),
      count(lit(1)).cast("long").as("v"))
    val f2 = hashed(train, 2, "h2").groupBy("h2").agg(count(lit(1)).as("c2"))
    val f3 = hashed(train, 3, "h3").groupBy("h3").agg(count(lit(1)).as("c3"))
    // held-out positions: trigram hash at i plus its context/backoff
    // keys picked from the aligned bigram/unigram hash arrays of the
    // SAME kernel pass (position i, 0-based: ctx bigram = b2[i+1],
    // backoff bigram = b2[i+2], unigrams = u[i+2], u[i+3])
    val tri = ws.filter(col("__h"))
      .select(col("doc_id"),
        ShingleHashes(col("__text"), 1, 15, dedup = false).as("__u"),
        ShingleHashes(col("__text"), 2, 15, dedup = false).as("__b2"),
        ShingleHashes(col("__text"), 3, 15, dedup = false).as("__t3"))
      .select(col("doc_id"), col("__u"), col("__b2"),
        posexplode(col("__t3")).as(Seq("i", "h3")))
      .select(col("doc_id"), col("h3"),
        element_at(col("__b2"), col("i") + 1).as("hctx"),
        element_at(col("__b2"), col("i") + 2).as("hbo"),
        element_at(col("__u"), col("i") + 2).as("hb"),
        element_at(col("__u"), col("i") + 3).as("hc"))
    val scored = tri
      .join(f3, Seq("h3"), "left")
      .join(f2.select(col("h2").as("hctx"), col("c2").as("c2ctx")), Seq("hctx"), "left")
      .join(f2.select(col("h2").as("hbo"), col("c2").as("c2bo")), Seq("hbo"), "left")
      .join(f1.select(col("h1").as("hb"), col("c1").as("c1b")), Seq("hb"), "left")
      .join(f1.select(col("h1").as("hc"), col("c1").as("c1c")), Seq("hc"), "left")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        when(col("c3").isNotNull, log(col("c3") / col("c2ctx")))
          .when(col("c2bo").isNotNull,
            log(lit(alpha) * col("c2bo") / col("c1b")))
          .otherwise(log(lit(alpha) * lit(alpha) *
            (coalesce(col("c1c"), lit(0L)) + lit(1L)) / (col("n_toks") + col("v"))))
          .as("__lp"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        round(sum("__lp") / count(lit(1)), 9).as("sb_score"))
  }

  /** Vocabulary drift between two corpus slices (crawl snapshots,
    * source versions): add-1-smoothed hashed-unigram distributions p
    * (baseline, `isNew` false) and q (new slice), per-bucket KL
    * contribution p·ln(p/q), plus the total KL(p‖q) — the
    * dataset-versioning check that catches a crawl whose token
    * distribution shifted before it trains a model.
    *
    * Scale shape: one kernel-hashed bucket count (token stream shuffled
    * once, bucket table B-sized), totals as a broadcast one-row
    * aggregate, top-`k` drifting buckets via TakeOrdered. The total
    * sums OCCUPIED buckets (both-empty buckets would each add the same
    * smoothing-floor term; with real corpora nearly every bucket is
    * occupied). Output: (bucket, c_base, c_new, contrib, kl_total) —
    * kl_total repeated per row so the result is self-contained.
    */
  /** Curriculum ordering for a training run: rows sorted easy→hard in
    * `stages` equi-width difficulty bands, deterministically shuffled
    * WITHIN each band (md5 of the id — curriculum learning wants
    * difficulty to ramp across the run but stay i.i.d. inside a band),
    * with an explicit global `position` and fixed-size `batch` index.
    *
    * Scale shape: difficulty bounds are ONE one-row aggregate broadcast
    * back (band assignment is then map-only, [[SkewJoin.skewReport]]'s
    * histogram convention); the global position — a global cumulative
    * count, which a naive `Window.orderBy` would funnel through one
    * task — uses the [[Packing]] two-pass offset pattern: range-
    * partition by the (stage, md5, id) curriculum key, pin the layout,
    * collect O(partitions) per-partition counts into cumulative
    * offsets, and add a partition-local rank. No unpartitioned window,
    * nothing corpus-sized on the driver.
    *
    * Output: (idCol, stage, position, batch). */
  def curriculumOrder(docs: DataFrame, idCol: String, difficultyCol: String,
      stages: Int, batchRows: Long): DataFrame = {
    require(stages >= 1, s"stages must be >= 1: $stages")
    require(batchRows >= 1, s"batchRows must be >= 1: $batchRows")
    val d = col(difficultyCol).cast("double")
    val bounds = docs.agg(min(d).as("__lo"), max(d).as("__hi"))
    val staged = docs.select(col(idCol), d.as("__d"))
      .crossJoin(broadcast(bounds))
      .select(col(idCol),
        when(col("__hi") === col("__lo"), lit(0))
          .otherwise(least(
            floor((col("__d") - col("__lo")) /
              ((col("__hi") - col("__lo")) / stages)),
            lit(stages - 1)))
          .cast("int").as("stage"),
        md5(col(idCol).cast("string")).as("__h"))
      .withColumn("__w", lit(1L))
    // global position = unit-weight running offset in curriculum-key
    // order (Packing.runningOffset — the shared two-pass machinery)
    Packing.runningOffset(staged, Seq(col("stage"), col("__h"), col(idCol)))
      .select(col(idCol), col("stage"), col("__off_total").as("position"))
      .withColumn("batch", floor(col("position") / batchRows))
  }

  /** Tokenizer-coverage / OOV report per `groupCol`: the fraction of
    * corpus tokens NOT covered by the top-`vocabSize` vocabulary — the
    * go/no-go check before committing a tokenizer vocabulary to a
    * training run (a vocab tuned on English shows its gaps as OOV
    * spikes per source/language). Companion to [[vocabDrift]] (which
    * compares two corpora; this compares corpus vs vocabulary).
    *
    * Plan shape: ONE token-keyed count aggregate (vocabulary-sized
    * shuffle, never doc-keyed), top-N vocabulary via TakeOrdered
    * (bounded, ties broken by token so any engine picks the same set),
    * broadcast-joined back into the token stream, then a per-group
    * partial aggregate. Rates are single divisions of exact integer
    * sums (micro-average) — bit-reproducible anywhere, no float-sum
    * association drift.
    *
    * Output: (groupCol, n_docs, n_tokens, n_oov, oov_rate). */
  def oovReport(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, vocabSize: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("__id"), col(groupCol),
      explode(split(col(textCol), " ")).as("__t"))
    val vocab = toks.groupBy("__t").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__t")).limit(vocabSize)
      .select(col("__t"), lit(true).as("__in_vocab"))
    toks.join(broadcast(vocab), Seq("__t"), "left")
      .groupBy(groupCol)
      .agg(countDistinct("__id").as("n_docs"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, lit(1L)).otherwise(lit(0L)))
          .as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** Compression-ratio quality signal: per-doc
    * `deflate_len(text) / octet_length(text)` via the codegen'd
    * [[graft.functions.DeflateLen]] kernel — the Gopher/CCNet-class
    * repetitiveness probe. Pathologically repetitive documents
    * (boilerplate loops, keyword stuffing, generator output) compress
    * far below normal prose, so `compression_ratio < minRatio` flags
    * them even when token-level repetition rules miss (the repetition
    * can live at any granularity; DEFLATE's 32 KB window catches all
    * of it at once). Map-only at any scale. Docs shorter than
    * `minBytes` are never flagged (tiny inputs compress badly and
    * noisily — the flag would be meaningless).
    *
    * Spec-gated, not oracle-gated: DEFLATE output is stable per zlib
    * build but not a cross-engine contract (see [[graft.functions
    * .DeflateLen]]).
    *
    * Output: input columns + (compression_ratio, is_repetitive). */
  def compressionRatio(docs: DataFrame, textCol: String,
      minRatio: Double = 0.30, minBytes: Int = 64,
      level: Int = 6): DataFrame = {
    val rawLen = octet_length(col(textCol)).cast("double")
    docs.withColumn("compression_ratio",
        when(col(textCol).isNull || rawLen === 0, lit(null))
          .otherwise(graft.functions.DeflateLen(col(textCol), level)
            .cast("double") / rawLen))
      .withColumn("is_repetitive",
        coalesce(col("compression_ratio") < minRatio &&
          rawLen >= minBytes, lit(false)))
  }

  def vocabDrift(docs: DataFrame, idCol: String, textCol: String,
      isNew: org.apache.spark.sql.Column, buckets: Int = 4096,
      k: Int = 15): DataFrame = {
    val counts = docs
      .select(isNew.as("__new"),
        explode(graft.functions.ShingleHashes(col(textCol), 1, 7, dedup = false))
          .as("__t"))
      .select(col("__new"), (col("__t") % buckets).as("bucket"))
      .groupBy("bucket")
      .agg(sum(when(col("__new"), lit(0L)).otherwise(lit(1L))).as("c_base"),
        sum(when(col("__new"), lit(1L)).otherwise(lit(0L))).as("c_new"))
    val totals = counts.agg(sum("c_base").as("nb"), sum("c_new").as("nn"))
    val contrib = counts.crossJoin(broadcast(totals))
      .select(col("bucket"), col("c_base"), col("c_new"),
        (((col("c_base") + lit(1.0)) / (col("nb") + lit(buckets.toDouble))) *
          log(((col("c_base") + lit(1.0)) / (col("nb") + lit(buckets.toDouble))) /
            ((col("c_new") + lit(1.0)) / (col("nn") + lit(buckets.toDouble)))))
          .as("contrib"))
    val kl = contrib.agg(sum("contrib").as("kl_total"))
    contrib.crossJoin(broadcast(kl))
      .orderBy(col("contrib").desc, col("bucket"))
      .limit(k)
      .select(col("bucket"), col("c_base"), col("c_new"),
        round(col("contrib"), 9).as("contrib"),
        round(col("kl_total"), 9).as("kl_total"))
  }

  /** CCNet-style perplexity bucketing: per `groupCol` (CCNet: per
    * language), split documents into head/middle/tail tertiles of the
    * corpus-trained bigram LM score ([[bigramLmScore]]; higher score =
    * lower perplexity = head). The filtering policy from CCNet
    * (Wenzek et al. 2020) — keep head/middle, drop tail — becomes a
    * plain filter on the output.
    *
    * Tertile thresholds come from [[Quantiles.groupedExactQuantiles]] —
    * the bounded-memory exact path whose few-huge-groups regime is
    * precisely the per-language shape (a buffered `percentile` holds a
    * whole language's scores in one task at 100 TB; the radix select's
    * per-language fold, at most 65536 keys or else a bucket histogram
    * and a wanted-bucket fetch, never does),
    * and whose results are bit-identical to `percentile`, keeping the
    * oracle replayable. Docs with fewer than two words carry no bigram
    * and are excluded (as in q_bigram_lm).
    *
    * Output: (idCol, groupCol, score, ppl_bucket).
    */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame = {
    val scored = bigramLmScore(docs, idCol, textCol)
      .select(col(idCol), col("avg_logp").as("score"))
    // pinned: both the threshold pass and the final bucketing read the
    // LM scores — without the checkpoint the whole bigram-LM pipeline
    // would run twice
    val grouped = docs.select(col(idCol), col(groupCol)).join(scored, Seq(idCol))
      .localCheckpoint(false)
    val th = Quantiles.groupedExactQuantiles(grouped, groupCol, "score",
      Seq(1.0 / 3, 2.0 / 3))
    val thr = th.select(col(groupCol), col(th.columns(1)).as("__t33"),
      col(th.columns(2)).as("__t66"))
    grouped.join(broadcast(thr), Seq(groupCol))
      .select(col(idCol), col(groupCol), col("score"),
        when(col("score") >= col("__t66"), lit("head"))
          .when(col("score") >= col("__t33"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
  }

  /** Top-k bigram collocations by pointwise mutual information:
    * PMI(w1,w2) = ln(B(w1,w2)·N / (L(w1)·R(w2))) over the corpus bigram
    * stream, where L/R are the stream's left/right marginals and N its
    * total — the standard corpus-linguistics collocation extractor
    * (Church & Hanks 1990), useful for spotting templated/boilerplate
    * word pairs that n-gram counts alone rank by raw frequency.
    *
    * One native-kernel corpus pass to (w1, w2, cnt) (the
    * [[graft.functions.BigramPairCounts]] stream summed across docs —
    * vocabulary²-bounded, Zipf-small in practice), marginals as
    * PARTITIONED window sums over that aggregate (no second corpus
    * pass, no unpartitioned window), the grand total as a broadcast
    * one-row aggregate (the value_counts pattern), and the final top-k
    * compiles to TakeOrdered. `minCount` floors the noise: PMI of
    * hapax pairs is maximal by construction, so collocation mining
    * always thresholds count first.
    *
    * Output: (w1, w2, cnt, pmi), the k highest-PMI pairs. */
  def pmiCollocations(docs: DataFrame, textCol: String, minCount: Long,
      topK: Int): DataFrame = {
    val spark = docs.sparkSession
    val bg = docs
      .repartition(spark.sparkContext.defaultParallelism)
      .select(explode(graft.functions.BigramPairCounts(col(textCol))).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(sum("b.cnt").as("cnt"))
    val withMarg = bg
      .withColumn("__l", sum("cnt").over(Window.partitionBy("w1")))
      .withColumn("__r", sum("cnt").over(Window.partitionBy("w2")))
    val total = bg.agg(sum("cnt").as("__n"))
    withMarg.crossJoin(broadcast(total))
      .filter(col("cnt") >= minCount)
      .select(col("w1"), col("w2"), col("cnt"),
        round(log(col("cnt") * col("__n") / (col("__l") * col("__r"))), 9)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Zipf-law diagnostic: least-squares slope of ln(freq) on ln(rank)
    * over the corpus' `topN` most frequent words (ties ranked
    * alphabetically). Natural text sits near slope −1 (Zipf 1949);
    * a corpus whose slope drifts far from the reference snapshot's is
    * the cheap first alarm for template/spam floods or broken
    * extraction — the scalar companion to [[vocabDrift]]'s per-bucket
    * KL view.
    *
    * One word-count shuffle, then TakeOrdered for the top-N (no
    * vocabulary-wide window); ranking happens on the N-row result
    * (bounded by the constant `topN`) and the fit is a closed-form
    * aggregate. Output: one row (n_top, slope, intercept). */
  def zipfSlope(docs: DataFrame, textCol: String, topN: Int): DataFrame = {
    val top = docs.select(explode(split(col(textCol), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(topN)
    val ranked = top
      .withColumn("__rank", row_number().over(
        Window.orderBy(col("c").desc, col("w"))))
      .select(log(col("__rank").cast("double")).as("x"),
        log(col("c").cast("double")).as("y"))
    ranked.agg(count(lit(1)).as("n_top"),
      sum("x").as("__sx"), sum("y").as("__sy"),
      sum(col("x") * col("y")).as("__sxy"), sum(col("x") * col("x")).as("__sxx"))
      .select(col("n_top"),
        round((col("n_top") * col("__sxy") - col("__sx") * col("__sy")) /
          (col("n_top") * col("__sxx") - col("__sx") * col("__sx")), 9)
          .as("slope"),
        round((col("__sy") - ((col("n_top") * col("__sxy") - col("__sx") * col("__sy")) /
          (col("n_top") * col("__sxx") - col("__sx") * col("__sx"))) * col("__sx")) /
          col("n_top"), 9).as("intercept"))
  }
}
