package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Byte-pair-encoding tokenizer for real training-data token budgets
  * (the reference-era chars/4 heuristic under-counts code and
  * punctuation-heavy text badly).
  *
  * Public-knowledge algorithm (Sennrich et al. 2015; the GPT-2 encoder
  * popularized the merge-rank formulation): pre-tokenize into words,
  * start each word as its character symbols, then repeatedly apply the
  * lowest-rank merge rule present until none applies. Token count needs
  * no vocabulary lookup — unknown characters simply remain single-char
  * symbols.
  *
  * Everything here is engine-replayable by construction:
  * - the pre-tokenizer is one shared regex (`[a-z0-9]+|[^a-z0-9\s\x01]`
  *   over the lower-cased text) that both java.util.regex and RE2
  *   interpret identically;
  * - the merge loop's "replace all non-overlapping occurrences
  *   left-to-right" semantics match a plain string `replace` over a
  *   `\x01`-delimited symbol string, which is exactly how the DuckDB
  *   oracle replays it (see [[mergesSqlValues]] and LlmQueries);
  * - the default merge table is LEARNED at class-load from an embedded
  *   seed text by the standard count-best-pair loop, deterministically
  *   (ties break lexicographically), so Spark, tests, and the SQL
  *   oracle all see the same rules with no fixture file to ship.
  *
  * Scale shape: the encoder is a pure per-row map (mapPartitions with a
  * per-partition word→count memo — natural-language word frequency
  * follows Zipf, so the memo hit rate is extreme), no shuffle, no
  * driver state. At 100 TB this is scan-bound, exactly like the other
  * text kernels.
  */
object Bpe {

  /** Shared pre-tokenizer: runs of lower-case alphanumerics, or one
    * single non-space character (the `\x01` exclusion keeps documents
    * from colliding with the oracle's symbol delimiter). */
  val PreTokenPattern = "[a-z0-9]+|[^a-z0-9\\s\\x01]"
  private val preTok = java.util.regex.Pattern.compile(PreTokenPattern)

  /** Seed corpus for the default merge table — original text written
    * for this project, chosen for ordinary English letter statistics. */
  private val seedText: String =
    """the quick brown fox jumps over the lazy dog and then runs back
      |to the barn where the other animals wait for the evening feed
      |a data pipeline reads documents filters them and writes the rest
      |the tokens in a document depend on the merge rules that the
      |encoder learned from the training corpus and on the words used
      |counting tokens with a real encoder matters when the budget for
      |a training run is set in tokens rather than in documents or rows
      |numbers like 12345 and 67890 appear in tables and in the text""".stripMargin

  /** Learn `numMerges` merge rules from `seed` with the standard BPE
    * learner: count adjacent symbol pairs over the word-frequency map,
    * merge the most frequent pair (ties: lexicographically smallest),
    * repeat. Deterministic by construction. */
  def learn(seed: String, numMerges: Int): Seq[(String, String)] = {
    val wordFreq = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val m = preTok.matcher(seed.toLowerCase(java.util.Locale.ROOT))
    while (m.find()) {
      val w = m.group()
      wordFreq.update(w, wordFreq.getOrElse(w, 0L) + 1L)
    }
    // vocab as symbol sequences (code points, so multi-byte characters
    // stay whole like DuckDB's character split)
    var vocab: Vector[(Array[String], Long)] = wordFreq.iterator.map { case (w, f) =>
      (w.codePoints().toArray.map(cp => new String(Character.toChars(cp))), f)
    }.toVector
    val merges = Vector.newBuilder[(String, String)]
    var i = 0
    var exhausted = false
    while (i < numMerges && !exhausted) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        var j = 0
        while (j + 1 < syms.length) {
          val p = (syms(j), syms(j + 1))
          pairCounts.update(p, pairCounts.getOrElse(p, 0L) + f)
          j += 1
        }
      }
      if (pairCounts.isEmpty) exhausted = true
      else {
        val best = pairCounts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        vocab = vocab.map { case (syms, f) => (mergeAll(syms, best), f) }
        i += 1
      }
    }
    merges.result()
  }

  /** Apply one merge rule to all non-overlapping occurrences,
    * left-to-right — the BPE merge step, and precisely what string
    * `replace` does on the oracle's delimited form. */
  private def mergeAll(syms: Array[String], pair: (String, String)): Array[String] = {
    val out = Array.newBuilder[String]
    var j = 0
    while (j < syms.length) {
      if (j + 1 < syms.length && syms(j) == pair._1 && syms(j + 1) == pair._2) {
        out += syms(j) + syms(j + 1)
        j += 2
      } else {
        out += syms(j)
        j += 1
      }
    }
    out.result()
  }

  /** The default rules: 64 merges learned from the embedded seed. */
  lazy val defaultMerges: Seq[(String, String)] = learn(seedText, 64)

  /** Encode one pre-token and return its token (symbol) count. */
  def encodeCount(word: String, ranks: Map[(String, String), Int]): Int =
    encodePieces(word, ranks).length

  /** The word's BPE symbol sequence after all applicable merges — the
    * actual subword pieces, in order. */
  def encodePieces(word: String, ranks: Map[(String, String), Int]): Array[String] = {
    var syms = word.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    var done = syms.length <= 1
    while (!done) {
      var bestRank = Int.MaxValue
      var bestPair: (String, String) = null
      var j = 0
      while (j + 1 < syms.length) {
        val r = ranks.getOrElse((syms(j), syms(j + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestPair = (syms(j), syms(j + 1)) }
        j += 1
      }
      if (bestPair == null) done = true
      else {
        syms = mergeAll(syms, bestPair)
        if (syms.length <= 1) done = true
      }
    }
    syms
  }

  /** BPE token count of a whole text: pre-tokenize, sum per-word symbol
    * counts. `memo` amortizes the merge loop across a partition —
    * word frequency is Zipfian, so nearly every lookup hits. */
  def tokenCount(text: String, ranks: Map[(String, String), Int],
      memo: scala.collection.mutable.HashMap[String, Int]): Long = {
    if (text == null) return 0L
    val m = preTok.matcher(text.toLowerCase(java.util.Locale.ROOT))
    var n = 0L
    while (m.find()) {
      val w = m.group()
      n += memo.getOrElseUpdate(w, encodeCount(w, ranks))
    }
    n
  }

  /** The merge table as a SQL VALUES body — `(0,'t','h'),(1,'th','e')…`
    * — for embedding into an engine-replay oracle. Symbols are always
    * alphanumeric (single-character pre-tokens have no pairs to merge),
    * so no quoting edge cases exist; asserted anyway. */
  def mergesSqlValues(merges: Seq[(String, String)] = defaultMerges): String = {
    require(merges.forall { case (a, b) =>
      (a + b).forall(c => c.isLetterOrDigit) },
      "merge symbols must be alphanumeric for SQL embedding")
    merges.zipWithIndex
      .map { case ((a, b), r) => s"($r,'$a','$b')" }
      .mkString(",")
  }

  /** Distributed BPE merge learning: train the tokenizer ON the corpus
    * instead of the embedded seed. Same algorithm and tie-break as
    * [[learn]] (count best adjacent pair over the word-frequency map,
    * ties lexicographic), so `learnDistributed(docs) ==
    * learn(all docs' text concatenated)` exactly — the differential
    * BpeSpec asserts it.
    *
    * Scale shape: ONE corpus pass builds the (word, count) table
    * (Zipf: vocab-sized, orders of magnitude smaller than the corpus),
    * pinned with a localCheckpoint; every iteration then runs over the
    * VOCAB only — one flatMap to adjacent pairs, one pair-keyed
    * aggregate, one TakeOrdered(1) for the argmax (driver receives a
    * single row), one typed map to apply the merge, re-pinned to keep
    * the lineage flat. numMerges bounded vocab-sized jobs; the corpus
    * is never touched again.
    */
  def learnDistributed(docs: DataFrame, textCol: String,
      numMerges: Int): Seq[(String, String)] = {
    import org.apache.spark.sql.functions._
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select(explode(regexp_extract_all(lower(col(textCol)),
        lit(PreTokenPattern), lit(0))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .as[(String, Long)]
    var vocab = words.map { case (w, f) =>
      (w.codePoints().toArray.map(cp => new String(Character.toChars(cp))).toSeq, f)
    }.localCheckpoint(false)
    val merges = Vector.newBuilder[(String, String)]
    var i = 0
    var exhausted = false
    while (i < numMerges && !exhausted) {
      val best = vocab.flatMap { case (syms, f) =>
        if (syms.length < 2) Iterator.empty
        else syms.iterator.zip(syms.iterator.drop(1)).map { case (a, b) => (a, b, f) }
      }.toDF("a", "b", "f")
        .groupBy("a", "b").agg(sum("f").as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val pair = (best(0).getString(0), best(0).getString(1))
        merges += pair
        val prev = vocab
        // eager: the new checkpoint must own its data BEFORE the old
        // blocks are dropped (a lazy checkpoint would try to recompute
        // through prev's truncated lineage)
        vocab = vocab.map { case (syms, f) =>
          (mergeAll(syms.toArray, pair).toSeq, f)
        }.localCheckpoint(true)
        prev.unpersist(blocking = false)
        i += 1
      }
    }
    merges.result()
  }

  /** Per-document BPE token counts: every input column plus an appended
    * `n_tokens_bpe` — downstream stages (budget mixing, packing) compose
    * without a corpus-sized join back. Pure partition-batched map — no
    * shuffle; the memo and rank map are per-partition locals. */
  def tokenCounts(df: DataFrame, textCol: String,
      merges: Seq[(String, String)] = defaultMerges): DataFrame =
    // r17: codegen'd kernel (functions/BpeKernels) — the old
    // mapPartitions form re-encoded EVERY column through a Row encoder
    // and fenced whole-stage codegen. coalesce keeps the null-text = 0
    // contract (the kernel is null-propagating).
    df.withColumn("n_tokens_bpe",
      coalesce(graft.functions.BpeKernels.count(col(textCol), merges),
        lit(0L)))

  /** Per-document subword TOKENIZATION: every input column plus an
    * appended `bpe_pieces` array<string> — the document's full BPE
    * piece sequence in reading order (what a dataloader consumes after
    * a piece→id dictionary join; counts alone can't feed training).
    * Same pure partition-batched map shape as [[tokenCounts]], with the
    * memo holding piece ARRAYS per distinct word (Zipf-bounded). */
  def tokenPieces(df: DataFrame, textCol: String,
      merges: Seq[(String, String)] = defaultMerges): DataFrame =
    // r17: same kernel move as tokenCounts; null text → empty sequence
    df.withColumn("bpe_pieces",
      coalesce(graft.functions.BpeKernels.pieces(col(textCol), merges),
        typedLit(Seq.empty[String])))
}
