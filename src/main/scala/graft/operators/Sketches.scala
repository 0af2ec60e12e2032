package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch over the corpus token stream (Cormode &
  * Muthukrishnan 2005): a (depth × width) table of counters where
  * counter (j, h_j(w)) accumulates every occurrence of w; the estimate
  * for a word is the MIN over its depth cells — always an
  * OVER-estimate, with error ≤ 2N/width at probability 1 − 2^−depth.
  *
  * Built as a DataFrame, not an opaque buffer: the sketch IS a
  * (depth·width)-row table produced by one bounded groupBy, so it
  * merges across corpora/streams by a further sum (mergeability is the
  * point of the structure), persists as parquet, and stays
  * oracle-replayable. The hash family is the repo-standard md5 28-bit
  * fold + affine mixes ([[TextDedup.mixConsts]]), so an external engine
  * reproduces every cell.
  *
  * Scale shape: token counts first (one shuffle, Zipf-bounded vocab),
  * then depth rows per DISTINCT word into the (j, bucket) aggregate —
  * sketch construction never touches the raw token stream more than
  * once, and the sketch itself is O(depth·width) regardless of corpus
  * size. Point queries join the sketch by (j, bucket) — broadcast, the
  * sketch is tiny.
  */
object Sketches {

  private def fold(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("long")

  /** Bucket of word `w` in hash row `j`: ((fold·a_j + b_j) mod P) mod width. */
  private def bucket(w: Column, a: Long, b: Long, width: Int): Column =
    ((fold(w) * a + b) % TextDedup.P) % width

  /** The sketch table: (j, bkt, s) with depth·width rows (absent cells
    * are zero). `wordCounts` is (w, c) — counts per distinct word. */
  def countMinBuild(wordCounts: DataFrame, depth: Int, width: Int): DataFrame = {
    val mixes = TextDedup.mixConsts(depth)
    val cells = mixes.zipWithIndex.map { case ((a, b), j) =>
      struct(lit(j).as("j"), bucket(col("w"), a, b, width).as("bkt"))
    }
    wordCounts
      .select(explode(array(cells: _*)).as("cell"), col("c"))
      .groupBy(col("cell.j").as("j"), col("cell.bkt").as("bkt"))
      .agg(sum("c").as("s"))
  }

  /** Estimate counts for `probes` (a (w) DataFrame) against a sketch:
    * (w, n_est = min over depth cells). The sketch is broadcast. */
  def countMinQuery(sketch: DataFrame, probes: DataFrame, depth: Int,
      width: Int): DataFrame = {
    val mixes = TextDedup.mixConsts(depth)
    val cells = mixes.zipWithIndex.map { case ((a, b), j) =>
      struct(lit(j).as("j"), bucket(col("w"), a, b, width).as("bkt"))
    }
    probes
      .select(col("w"), explode(array(cells: _*)).as("cell"))
      .join(broadcast(sketch),
        col("cell.j") === col("j") && col("cell.bkt") === col("bkt"))
      .groupBy("w").agg(min("s").as("n_est"))
  }

  /** Bloom filter (Bloom 1970) over a key column, as a table of SET BIT
    * positions rather than an opaque bitmap: `hashes` md5+affine
    * positions per key, distinct-ed to ≤ `bits` rows. Like the
    * count-min sketch this representation is the mergeable, replayable
    * form — filters over different corpus snapshots union by plain
    * `UNION` (set bits are monotone), persist as parquet, and every
    * bit is reproducible by any engine with md5 (Spark's native
    * `bloom_filter_agg` is the opaque-buffer alternative; this table
    * form trades a constant factor of space for auditability).
    *
    * Scale shape: one distinct over ≤ hashes·|keys| small rows, capped
    * at `bits` output rows regardless of corpus size. */
  def bloomBuild(keys: DataFrame, keyCol: String, bits: Int,
      hashes: Int): DataFrame = {
    val mixes = TextDedup.mixConsts(hashes)
    val pos = mixes.map { case (a, b) => bucket(col(keyCol), a, b, bits) }
    keys.select(explode(array(pos: _*)).as("bit")).distinct()
  }

  /** Probe keys against a built filter: (key, might_contain) — true iff
    * ALL `hashes` positions are set. No false negatives; false-positive
    * rate ≈ (1 − e^(−hashes·n/bits))^hashes. The filter is broadcast
    * (≤ `bits` rows); each probe costs `hashes` tiny join lookups —
    * the O(1)-space membership gate for cross-snapshot dedup, vs the
    * signature-index join of [[TextDedup.dedupAgainstIndex]] which
    * finds NEAR duplicates but carries per-doc state. */
  def bloomMightContain(bloom: DataFrame, probes: DataFrame, keyCol: String,
      bits: Int, hashes: Int): DataFrame = {
    val mixes = TextDedup.mixConsts(hashes)
    val pos = mixes.map { case (a, b) => bucket(col(keyCol), a, b, bits) }
    // distinct first: a duplicated probe key would double its position
    // rows and break the count-of-hits == hashes test
    probes.select(col(keyCol)).distinct()
      .select(col(keyCol), explode(array(pos: _*)).as("__p"))
      .join(broadcast(bloom.select(col("bit").as("__p"),
        lit(true).as("__hit"))), Seq("__p"), "left")
      .groupBy(keyCol)
      .agg((count(when(col("__hit"), lit(1))) === hashes).as("might_contain"))
  }

  /** Pack a built filter's bit rows into a dense word array for the
    * inline/streaming form. One bounded collect of ≤ `bits` rows
    * (bits/8 bytes of driver state — a 2^22-bit filter is 512 KiB),
    * the same O(sketch) driver traffic every sketch consumer pays. */
  def packBits(bloom: DataFrame, bits: Int): Array[Long] = {
    val words = new Array[Long]((bits + 63) / 64)
    bloom.select(col("bit")).collect().foreach { r =>
      val b = r.getLong(0)
      words((b / 64).toInt) |= 1L << (b % 64).toInt
    }
    words
  }

  /** Membership test COLUMN: the `graft_bloom_probe` kernel
    * ([[graft.functions.BloomProbe]]) over the packed words, which ship
    * once per executor as a broadcast variable, not as a plan literal.
    * One digest and `hashes` word lookups per row — no explode, no join,
    * no state. This is the streaming-safe form (stateless per-row
    * projection) and equals [[bloomMightContain]] bit-for-bit. Each call
    * broadcasts `packed` once; build the column once and reuse it. */
  def mightContainInline(key: Column, packed: Array[Long], bits: Int,
      hashes: Int): Column = {
    requireFilter(packed, bits, hashes, "mightContainInline")
    graft.functions.BloomProbe(key,
      graft.functions.Shipped.longs(packed, "bloom"), bits, hashes)
  }

  /** The packed-filter preconditions of the inline probe: `bits > 0`,
    * `hashes >= 1` and exactly `(bits + 63) / 64` words, so a short
    * array fails at the call, not inside a task at the first row. */
  private[graft] def requireFilter(packed: Array[Long], bits: Int,
      hashes: Int, caller: String): Unit = {
    require(bits > 0, s"$caller: the Bloom filter needs bits > 0, got $bits")
    require(hashes >= 1, s"$caller: the Bloom filter needs hashes >= 1, got $hashes")
    val words = (bits + 63L) / 64
    require(packed != null && packed.length == words,
      s"$caller: a $bits-bit Bloom filter packs into $words words, got " +
        s"${if (packed == null) "null" else packed.length.toString}")
  }

  /** EXACT frequent items (support ≥ ⌈φ·N⌉) via the two-pass
    * Misra-Gries scheme (Misra & Gries 1982): pass 1 runs an
    * independent MG(k) summary inside each partition — an item absent
    * from partition p's summary has local count ≤ n_p/(k+1), so with
    * k+1 > 1/φ (STRICT — equality is reachable) an item absent from
    * EVERY summary has total count ≤ N/(k+1) < φN and cannot be
    * frequent; the union of per-partition survivors is therefore a
    * guaranteed candidate superset of at most partitions·k items. Pass 2 recounts ONLY the candidates exactly
    * (broadcast semi-join, tiny shuffle) and applies the threshold —
    * the output is exact, the sketch only prunes.
    *
    * Scale: this is THE heavy-hitters plan at 100 TB — a full
    * vocabulary groupBy shuffles every distinct token (billions);
    * here the shuffle carries ≤ partitions·k candidate rows and one
    * count per candidate. Driver never sees raw tokens. The candidate
    * BROADCAST is the same partitions·k bound — size k near ⌈1/φ⌉
    * (the guarantee needs no more) so ten thousand partitions still
    * broadcast only ~10⁷ short strings; an oversized k buys nothing
    * and inflates that table linearly.
    *
    * `tokens` is a single-string-column DataFrame (already exploded);
    * empty tokens are the caller's concern. Returns (token, cnt) for
    * every token with cnt·denom ≥ N·num (integer threshold φ=num/denom
    * — exact arithmetic, no float cutoff).
    */
  def frequentTokens(tokens: DataFrame, tokenCol: String,
      num: Long, denom: Long, k: Int): DataFrame = {
    // STRICT bound: an item absent from a partition's summary has local
    // count ≤ n_p/(k+1) (equality reachable — k+1 occurrences are
    // consumed per decrement event), so the superset guarantee needs
    // (k+1)·φ > 1, not ≥. At equality an item with exactly φN
    // occurrences can be evicted from every summary and silently lost.
    require(num > 0 && denom > 0 && (k.toLong + 1) * num > denom,
      s"MG needs k+1 > 1/phi (strict): k=$k, phi=$num/$denom")
    val spark = tokens.sparkSession
    import spark.implicits._
    val candidates = tokens.select(col(tokenCol).cast("string")).as[String]
      .mapPartitions { it =>
        val counters = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { t =>
          counters.get(t) match {
            case Some(c) => counters.update(t, c + 1)
            case None if counters.size < k => counters.update(t, 1L)
            case None => // decrement-all step; zeros fall out
              counters.mapValuesInPlace((_, v) => v - 1)
              counters.filterInPlace((_, v) => v > 0)
          }
        }
        counters.keysIterator
      }
      .toDF(tokenCol)
      .distinct()
    // N rides in as a broadcast one-row aggregate, not a driver action —
    // the whole operator stays one lazy plan (no collect anywhere).
    val total = tokens.agg(count(lit(1)).as("__n"))
    tokens
      .join(broadcast(candidates), Seq(tokenCol), "left_semi")
      .groupBy(tokenCol)
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * denom >= col("__n") * num)
      .drop("__n")
  }
}
