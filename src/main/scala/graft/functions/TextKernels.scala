package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native text kernels for the dedup / LM-scoring hot paths.
  *
  * Both replace interpreted higher-order-function chains
  * (`transform`/`aggregate` lambdas run with no whole-stage codegen and
  * no common-subexpression elimination) with a single codegen'd call
  * into a tight JVM loop: one split, one reusable digest, zero
  * per-element Catalyst evaluation. Semantics are bit-identical to the
  * SQL formulations they replace (differentially tested), so DuckDB
  * oracles replay them exactly.
  */
object TextKernels {

  /** Modulus for the affine minhash mixes: largest prime below 2^28
    * (canonical home; `TextDedup.P` aliases this). */
  val P: Long = 268435399L

  /** Deterministic per-hash affine constants (Knuth/Fibonacci multiplier
    * streams reduced mod P); replayable anywhere from this formula. */
  def mixConsts(k: Int): Seq[(Long, Long)] = (0 until k).map { i =>
    val a = (2654435761L * (i + 1)) % P
    val b = (2246822519L * (i + 1)) % P
    (if (a == 0) 1L else a, b)
  }

  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** The first 28 bits of the md5 of `bytes`: the SQL value
    * `conv(substring(md5(x), 1, 7), 16, 10)`. */
  def md5Fold28(bytes: Array[Byte]): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(bytes)
    ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
      ((d(2) & 0xffL) << 4) | ((d(3) & 0xffL) >> 4)
  }

  /** k minhash values over the word n-gram shingles of `text`:
    * min over shingles of (h0(shingle) * a_i + b_i) mod P, where h0 is
    * the first 28 bits of the shingle's md5 — exactly
    * `conv(substring(md5(sh),1,7),16,10)` folded with the SQL mixes.
    * Texts with fewer than n words return an EMPTY array: callers must
    * filter them out before banding (an all-sentinel signature would
    * bucket every short doc together).
    */
  def shingleMinHashes(text: UTF8String, n: Int, a: Array[Long], b: Array[Long]): ArrayData = {
    val words = text.toString.split(" ", -1)
    val k = a.length
    if (words.length < n) return new GenericArrayData(Array.empty[Long])
    val wordBytes = new Array[Array[Byte]](words.length)
    var w = 0
    while (w < words.length) {
      wordBytes(w) = words(w).getBytes(StandardCharsets.UTF_8); w += 1
    }
    val md = digests.get()
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    val last = words.length - n
    while (i <= last) {
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(' '.toByte)
        md.update(wordBytes(i + j))
        j += 1
      }
      val d = md.digest()
      val h0 = ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
        ((d(2) & 0xffL) << 4) | ((d(3) & 0xffL) >> 4)
      var t = 0
      while (t < k) {
        val v = (h0 * a(t) + b(t)) % P
        if (v < mins(t)) mins(t) = v
        t += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** All shingle hashes of `text` (word n-grams, hash = first `hexLen`
    * hex chars of the shingle's md5 as a long — the
    * `conv(substring(md5(sh),1,hexLen),16,10)` SQL fold). `dedup`
    * removes within-document duplicates in-kernel (insertion order),
    * valid for duplicate-insensitive consumers (distinct, min folds) —
    * it shrinks the exploded row count before any exchange. Texts with
    * fewer than n words return an empty array. */
  def shingleHashes(text: UTF8String, n: Int, hexLen: Int, dedup: Boolean): ArrayData = {
    val words = text.toString.split(" ", -1)
    if (words.length < n) return new GenericArrayData(Array.empty[Long])
    val wordBytes = new Array[Array[Byte]](words.length)
    var w = 0
    while (w < words.length) {
      wordBytes(w) = words(w).getBytes(StandardCharsets.UTF_8); w += 1
    }
    val md = digests.get()
    val m = words.length - n + 1
    val out = new Array[Long](m)
    val seen = if (dedup) new java.util.HashSet[java.lang.Long](m * 2) else null
    var p = 0
    var i = 0
    while (i < m) {
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(' '.toByte)
        md.update(wordBytes(i + j))
        j += 1
      }
      val d = md.digest()
      var h = 0L
      var b = 0
      while (b < hexLen) {
        val nib = if (b % 2 == 0) (d(b / 2) >> 4) & 0xf else d(b / 2) & 0xf
        h = (h << 4) | nib
        b += 1
      }
      if (seen == null || seen.add(h)) { out(p) = h; p += 1 }
      i += 1
    }
    new GenericArrayData(if (p == m) out else java.util.Arrays.copyOf(out, p))
  }

  /** Winnowing fingerprints (value-set variant, Schleimer/Wilkerson/
    * Aiken 2003): the DISTINCT sliding-window minima (width `w`, first-
    * occurrence order) of the word n-gram hash stream of `text` — the
    * whole `transform(sequence)/array_min(slice)/array_distinct` HOF
    * chain of the SQL formulation fused into one O(words) pass
    * (monotonic-deque sliding minima). Hash = [[shingleHashes]] with
    * the same (n, hexLen), so values are bit-identical to the HOF form
    * and external engines replay them (WinnowKernelSpec pins the
    * differential). Texts with fewer than n words return an empty
    * array; docs with fewer than w n-grams use one window over all of
    * them (weff = min(w, m) — the `least(w, size)` contract). */
  def winnowFps(text: UTF8String, n: Int, hexLen: Int, w: Int): ArrayData = {
    val hsData = shingleHashes(text, n, hexLen, dedup = false)
    val m = hsData.numElements()
    if (m == 0) return hsData
    val hs = hsData.toLongArray()
    val weff = if (w < m) w else m
    val nw = m - weff + 1
    val mins = new Array[Long](nw)
    val dq = new Array[Int](m) // index deque, values non-decreasing
    var head = 0
    var tail = 0 // live range [head, tail)
    var i = 0
    while (i < m) {
      while (tail > head && hs(dq(tail - 1)) >= hs(i)) tail -= 1
      dq(tail) = i; tail += 1
      if (dq(head) <= i - weff) head += 1
      if (i >= weff - 1) mins(i - weff + 1) = hs(dq(head))
      i += 1
    }
    val seen = new java.util.HashSet[java.lang.Long](nw * 2)
    val res = new Array[Long](nw)
    var p = 0
    var j = 0
    while (j < nw) {
      if (seen.add(mins(j))) { res(p) = mins(j); p += 1 }
      j += 1
    }
    new GenericArrayData(if (p == nw) res else java.util.Arrays.copyOf(res, p))
  }

  private val HexChars = "0123456789abcdef".getBytes(StandardCharsets.US_ASCII)

  /** Full 32-hex md5 of every stride-1 word n-gram window of `text`, in
    * window order — the collision-free window fingerprint the exact
    * substring purge keys on (a folded hash would occasionally delete
    * NON-duplicated text at corpus scale). Equals
    * `md5(concat_ws(' ', w_i..w_{i+n-1}))` byte-for-byte, so external
    * engines replay it. Texts with fewer than n words return an empty
    * array. */
  def shingleMd5s(text: UTF8String, n: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    if (words.length < n) return new GenericArrayData(Array.empty[Any])
    val wordBytes = new Array[Array[Byte]](words.length)
    var w = 0
    while (w < words.length) {
      wordBytes(w) = words(w).getBytes(StandardCharsets.UTF_8); w += 1
    }
    val md = digests.get()
    val m = words.length - n + 1
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(' '.toByte)
        md.update(wordBytes(i + j))
        j += 1
      }
      val d = md.digest()
      val hex = new Array[Byte](32)
      var b = 0
      while (b < 16) {
        hex(2 * b) = HexChars((d(b) >> 4) & 0xf)
        hex(2 * b + 1) = HexChars(d(b) & 0xf)
        b += 1
      }
      out(i) = UTF8String.fromBytes(hex)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-document hashed bag-of-words feature vector: every space-split
    * token (INCLUDING empty tokens from consecutive spaces — the
    * shingle_hashes(n=1) stream this replaces hashes them too),
    * md5-7-hex-folded into `buckets`, counts normalized by the
    * document's token count. Same output contract as
    * [[charGramFeatures]]: sparse (b, x = n_b / |d|) pairs SORTED by
    * bucket, so the array doubles as the GD pin's
    * sort_array(collect_list(struct(b, x))). One digest pass — no
    * exploded token stream, no per-doc hash-aggregate exchange. */
  def wordBagFeatures(text: UTF8String, buckets: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    val counts = new Array[Int](buckets)
    val md = digests.get()
    var i = 0
    while (i < words.length) {
      md.reset()
      val d = md.digest(words(i).getBytes(StandardCharsets.UTF_8))
      val h = ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
        ((d(2) & 0xffL) << 4) | ((d(3) & 0xffL) >> 4)
      counts((h % buckets).toInt) += 1
      i += 1
    }
    val dl = words.length.toDouble
    var nb = 0
    var b = 0
    while (b < buckets) { if (counts(b) > 0) nb += 1; b += 1 }
    val out = new Array[Any](nb)
    var p = 0
    b = 0
    while (b < buckets) {
      if (counts(b) > 0) { out(p) = InternalRow(b.toLong, counts(b) / dl); p += 1 }
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Binary (16-byte) variant of [[shingleMd5s]]: the same full md5 of
    * every stride-1 word n-gram window, as raw digest bytes instead of
    * the 32-char hex string — identical collision-freeness, HALF the
    * bytes on every exchange keyed by the window hash (the substring
    * purge shuffles this stream twice; hex↔binary is a bijection so
    * all counts/joins/keep-first decisions are identical, and the
    * purge's oracle compares rebuilt TEXT, not the internal key). */
  def shingleMd5Bins(text: UTF8String, n: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    if (words.length < n) return new GenericArrayData(Array.empty[Any])
    val wordBytes = new Array[Array[Byte]](words.length)
    var w = 0
    while (w < words.length) {
      wordBytes(w) = words(w).getBytes(StandardCharsets.UTF_8); w += 1
    }
    val md = digests.get()
    val m = words.length - n + 1
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(' '.toByte)
        md.update(wordBytes(i + j))
        j += 1
      }
      out(i) = md.digest() // digest() allocates a fresh 16-byte array
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Content-defined chunks of `text` (see TextDedup.cdcChunks): one
    * forward pass over the UTF-8 bytes maintaining the base-2 rolling
    * hash h = (2h + (codepoint·2654435761 mod 2³¹)) mod 2³¹; a chunk
    * boundary falls after every code point where h ≡ 0 (mod
    * 2^maskBits). Replaces the interpreted `aggregate`-lambda fold
    * (measured 8.4 s → sub-second at sf0.1) with identical output: the
    * recursive-CTE oracle replays the same integer recurrence over
    * `unicode(substr(text, i, 1))`. Chunk slices are byte-ranges at
    * code-point boundaries, so multi-byte characters never split. */
  def cdcChunks(text: UTF8String, maskBits: Int): ArrayData = {
    val bytes = text.getBytes
    if (bytes.isEmpty) return new GenericArrayData(Array.empty[Any])
    val mask = (1L << maskBits) - 1L
    val mod = 2147483648L
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var h = 0L
    var i = 0
    var chunkStart = 0
    while (i < bytes.length) {
      val b0 = bytes(i) & 0xff
      var cp = 0
      var len = 1
      if (b0 < 0x80) { cp = b0 }
      else if (b0 < 0xe0) {
        cp = ((b0 & 0x1f) << 6) | (bytes(i + 1) & 0x3f); len = 2
      } else if (b0 < 0xf0) {
        cp = ((b0 & 0x0f) << 12) | ((bytes(i + 1) & 0x3f) << 6) |
          (bytes(i + 2) & 0x3f); len = 3
      } else {
        cp = ((b0 & 0x07) << 18) | ((bytes(i + 1) & 0x3f) << 12) |
          ((bytes(i + 2) & 0x3f) << 6) | (bytes(i + 3) & 0x3f); len = 4
      }
      h = (h * 2L + (cp.toLong * 2654435761L) % mod) % mod
      i += len
      if ((h & mask) == 0L) {
        out += UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(bytes, chunkStart, i))
        chunkStart = i
      }
    }
    if (chunkStart < bytes.length)
      out += UTF8String.fromBytes(
        java.util.Arrays.copyOfRange(bytes, chunkStart, bytes.length))
    new GenericArrayData(out.toArray)
  }

  /** Jaro-Winkler similarity (Winkler 1990, p=0.1, max prefix 4) —
    * the canonical definition, with DuckDB's edge convention (either
    * side empty → 0.0, including both-empty) so oracles replay
    * bit-for-bit: matches within ⌊max(l1,l2)/2⌋−1, transpositions as
    * half the out-of-order matches, jaro = (m/l1 + m/l2 + (m−t)/m)/3,
    * jw = jaro + ℓ·0.1·(1−jaro). Char-level (UTF-16 units) vs
    * DuckDB's code points — identical on BMP text. */
  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val s1 = a.toString; val s2 = b.toString
    val l1 = s1.length; val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    if (s1 == s2) return 1.0
    val md = math.max(l1, l2) / 2 - 1
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - md)
      val hi = math.min(l2, i + md + 1)
      var j = lo
      var matched = false
      while (j < hi && !matched) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; matched = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    val jaro = (m.toDouble / l1 + m.toDouble / l2 + (m - t).toDouble / m) / 3
    // Winkler boost only above the standard 0.7 threshold (Winkler's
    // original, and DuckDB's convention — verified empirically).
    if (jaro <= 0.7) return jaro
    var l = 0
    val maxPre = math.min(4, math.min(l1, l2))
    while (l < maxPre && s1.charAt(l) == s2.charAt(l)) l += 1
    jaro + l * 0.1 * (1 - jaro)
  }

  /** Rebuild a document with the words at the given 0-based positions
    * removed (single-space re-join — the same split/join convention as
    * every shingle consumer). Equals the SQL posexplode → anti-join →
    * ordered string_agg replay byte-for-byte, without exploding the
    * corpus word stream. Out-of-range positions are ignored. */
  def removeWordPositions(text: UTF8String, positions: ArrayData): UTF8String = {
    val words = text.toString.split(" ", -1)
    val drop = new java.util.HashSet[Integer](positions.numElements() * 2)
    var i = 0
    while (i < positions.numElements()) {
      drop.add(positions.getInt(i)); i += 1
    }
    val sb = new java.lang.StringBuilder(text.numBytes())
    var w = 0
    var first = true
    while (w < words.length) {
      if (!drop.contains(w)) {
        if (!first) sb.append(' ')
        sb.append(words(w))
        first = false
      }
      w += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** One pass, BOTH dedup outputs: the k minhash values AND the deduped
    * 28-bit shingle-hash set of `text`'s word n-gram shingles, as a
    * (mins, hs) struct. Each shingle's md5 is computed exactly once and
    * feeds the affine minima and the hash set together — the fused form
    * [[graft.operators.TextDedup.nearDuplicates]]'s small regime uses
    * so signatures and Jaccard-verification inputs cost ONE digest pass
    * over the corpus instead of two. Field values are bit-identical to
    * `shingleMinHashes` / `shingleHashes(hexLen = 7, dedup = true)`
    * (differentially tested). Texts with fewer than n words return two
    * empty arrays. */
  def shingleMinHashSet(text: UTF8String, n: Int, a: Array[Long], b: Array[Long]): InternalRow = {
    val words = text.toString.split(" ", -1)
    val k = a.length
    if (words.length < n)
      return InternalRow(new GenericArrayData(Array.empty[Long]),
        new GenericArrayData(Array.empty[Long]))
    val wordBytes = new Array[Array[Byte]](words.length)
    var w = 0
    while (w < words.length) {
      wordBytes(w) = words(w).getBytes(StandardCharsets.UTF_8); w += 1
    }
    val md = digests.get()
    val mins = Array.fill(k)(Long.MaxValue)
    val m = words.length - n + 1
    val out = new Array[Long](m)
    val seen = new java.util.HashSet[java.lang.Long](m * 2)
    var p = 0
    var i = 0
    while (i < m) {
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(' '.toByte)
        md.update(wordBytes(i + j))
        j += 1
      }
      val d = md.digest()
      val h0 = ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
        ((d(2) & 0xffL) << 4) | ((d(3) & 0xffL) >> 4)
      var t = 0
      while (t < k) {
        val v = (h0 * a(t) + b(t)) % P
        if (v < mins(t)) mins(t) = v
        t += 1
      }
      if (seen.add(h0)) { out(p) = h0; p += 1 }
      i += 1
    }
    InternalRow(new GenericArrayData(mins),
      new GenericArrayData(if (p == m) out else java.util.Arrays.copyOf(out, p)))
  }

  /** SimHash over the token stream (all occurrences, not distinct):
    * for each of `bits` positions, sum +1/−1 according to that bit of
    * the token hash (first 16 bits of the token's md5 — the
    * `conv(substring(md5(w),1,4),16,10)` SQL value); positive sums set
    * the bit. One call per document replaces an explode + `bits`
    * conditional-sum aggregates. */
  def simHash(text: UTF8String, bits: Int): Long = {
    val words = text.toString.split(" ", -1)
    val counts = new Array[Int](bits)
    val md = digests.get()
    var i = 0
    while (i < words.length) {
      md.reset()
      val d = md.digest(words(i).getBytes(StandardCharsets.UTF_8))
      val h = ((d(0) & 0xff) << 8) | (d(1) & 0xff)
      var j = 0
      while (j < bits) {
        if (((h >> j) & 1) == 1) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) { if (counts(j) > 0) sig |= 1L << j; j += 1 }
    sig
  }

  /** Per-document bigram counts: one array of (w1, w2, cnt) structs per
    * text, counted in-kernel — the `explode(bigrams) → groupBy(doc, w1,
    * w2)` shuffle collapsed into a row-local hash aggregation. Texts
    * with fewer than 2 words return an empty array. Insertion-ordered
    * for deterministic output. */
  def bigramPairCounts(text: UTF8String): ArrayData = {
    val words = text.toString.split(" ", -1)
    if (words.length < 2) return new GenericArrayData(Array.empty[Any])
    val counts = new java.util.LinkedHashMap[(String, String), Array[Long]]()
    var i = 0
    while (i < words.length - 1) {
      val key = (words(i), words(i + 1))
      val slot = counts.get(key)
      if (slot == null) counts.put(key, Array(1L)) else slot(0) += 1L
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var p = 0
    while (it.hasNext) {
      val e = it.next()
      out(p) = InternalRow(
        UTF8String.fromString(e.getKey._1),
        UTF8String.fromString(e.getKey._2),
        e.getValue()(0))
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Per-document hashed char-n-gram feature vector: boundary-marked
    * char n-grams of every word (Bojanowski 2017 §3.2 — each word `w`
    * becomes `<w>` before windowing; a word shorter than n yields its
    * single truncated window), md5-7-hex-folded into `buckets`, counts
    * normalized by the document's total gram count. Returns the sparse
    * (b, x = n_b / total) pairs SORTED by bucket — exactly the rows the
    * `explode(grams) → groupBy(doc, b)` pipeline produced (the division
    * is the same count-as-double / total-as-double IEEE op), but counted
    * row-locally in one digest pass: no exploded gram stream, no
    * per-doc hash-aggregate exchange. Sorted output doubles as the
    * `sort_array(collect_list(struct(b, x)))` feature array the GD
    * trainers pin (b is unique per doc, so b-order == struct order).
    * Gram substrings window over CODE POINTS (the SQL `substr`
    * semantics both engines replay). Documents with no non-empty words
    * return an empty array. */
  def charGramFeatures(text: UTF8String, n: Int, buckets: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    val counts = new Array[Int](buckets)
    val md = digests.get()
    var total = 0L
    var w = 0
    while (w < words.length) {
      if (words(w).nonEmpty) {
        val m = new java.lang.StringBuilder(words(w).length + 2)
          .append('<').append(words(w)).append('>').toString
        // code-point start offsets (grams must window over code points,
        // not UTF-16 units, to match substr semantics on non-BMP text)
        val nc = m.codePointCount(0, m.length)
        val starts = new Array[Int](nc + 1)
        var ci = 0
        var off = 0
        while (off < m.length) {
          starts(ci) = off; ci += 1
          off += Character.charCount(m.codePointAt(off))
        }
        starts(nc) = m.length
        val wins = math.max(nc - (n - 1), 1)
        var i = 0
        while (i < wins) {
          val end = math.min(i + n, nc)
          md.reset()
          val d = md.digest(
            m.substring(starts(i), starts(end)).getBytes(StandardCharsets.UTF_8))
          val h = ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
            ((d(2) & 0xffL) << 4) | ((d(3) & 0xffL) >> 4)
          counts((h % buckets).toInt) += 1
          total += 1L
          i += 1
        }
      }
      w += 1
    }
    if (total == 0L) return new GenericArrayData(Array.empty[Any])
    val dl = total.toDouble
    var nb = 0
    var b = 0
    while (b < buckets) { if (counts(b) > 0) nb += 1; b += 1 }
    val out = new Array[Any](nb)
    var p = 0
    b = 0
    while (b < buckets) {
      if (counts(b) > 0) { out(p) = InternalRow(b.toLong, counts(b) / dl); p += 1 }
      b += 1
    }
    new GenericArrayData(out)
  }

  /** One-pass Unicode-script class counts (see [[ScriptCounts]]):
    * codepoint iteration, six counters, no string rebuilds. */
  def scriptCounts(text: UTF8String): InternalRow = {
    val s = text.toString
    var latin = 0L; var digit = 0L; var cyr = 0L
    var cjk = 0L; var ar = 0L; var total = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      total += 1L
      if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')) latin += 1L
      else if (cp >= '0' && cp <= '9') digit += 1L
      else if (cp >= 0x0400 && cp <= 0x04FF) cyr += 1L
      else if (cp >= 0x4E00 && cp <= 0x9FFF) cjk += 1L
      else if (cp >= 0x0600 && cp <= 0x06FF) ar += 1L
    }
    InternalRow(latin, digit, cyr, cjk, ar,
      total - latin - digit - cyr - cjk - ar)
  }
}

/** `shingle_min_hashes(text, n, k)`: array of the k minhash values of
  * `text`'s word n-gram shingles (see [[TextKernels.shingleMinHashes]]).
  */
case class ShingleMinHashes(child: Expression, n: Int, k: Int)
  extends UnaryExpression {

  require(n >= 1, "shingle_min_hashes: n must be >= 1")
  require(k >= 1, "shingle_min_hashes: k must be >= 1")

  @transient private lazy val (aArr, bArr) = {
    val c = TextKernels.mixConsts(k)
    (c.map(_._1).toArray, c.map(_._2).toArray)
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_min_hashes requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_min_hashes"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.shingleMinHashes(input.asInstanceOf[UTF8String], n, aArr, bArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("shingleMixA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("shingleMixB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.shingleMinHashes($c, $n, $aRef, $bRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleMinHashes =
    copy(child = newChild)
}

object ShingleMinHashes {
  /** Column surface; registers the SQL function on the active session
    * (idempotent), same contract as [[ArrayDot]]. */
  def apply(text: Column, n: Int, k: Int): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(GraftFunctions.register)
    org.apache.spark.sql.functions.call_function("shingle_min_hashes",
      text, org.apache.spark.sql.functions.lit(n), org.apache.spark.sql.functions.lit(k))
  }
}

/** `shingle_hashes(text, n, hexLen, dedup)`: all word n-gram shingle
  * hashes of `text` (see [[TextKernels.shingleHashes]]). */
case class ShingleHashes(child: Expression, n: Int, hexLen: Int, dedup: Boolean)
  extends UnaryExpression {

  require(n >= 1, "shingle_hashes: n must be >= 1")
  require(hexLen >= 1 && hexLen <= 15, "shingle_hashes: hexLen must be in [1,15]")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.shingleHashes(input.asInstanceOf[UTF8String], n, hexLen, dedup)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.shingleHashes($c, $n, $hexLen, $dedup);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  /** Column surface; registers the SQL function on the active session
    * (idempotent), same contract as [[ArrayDot]]. */
  def apply(text: Column, n: Int, hexLen: Int, dedup: Boolean): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(GraftFunctions.register)
    org.apache.spark.sql.functions.call_function("shingle_hashes",
      text, org.apache.spark.sql.functions.lit(n),
      org.apache.spark.sql.functions.lit(hexLen),
      org.apache.spark.sql.functions.lit(dedup))
  }
}

/** `remove_word_positions(text, positions)`: document rebuilt with the
  * 0-based word positions removed (see
  * [[TextKernels.removeWordPositions]]). */
case class RemoveWordPositions(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"remove_word_positions requires (string, array<int>), got ($l, $r)")
    }
  override def dataType: DataType = StringType
  override def prettyName: String = "remove_word_positions"

  override protected def nullSafeEval(text: Any, pos: Any): Any =
    TextKernels.removeWordPositions(text.asInstanceOf[UTF8String],
      pos.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, p) =>
      s"${ev.value} = graft.functions.TextKernels.removeWordPositions($t, $p);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): RemoveWordPositions =
    copy(left = newLeft, right = newRight)
}

object RemoveWordPositions {
  def apply(text: Column, positions: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(GraftFunctions.register)
    org.apache.spark.sql.functions.call_function("remove_word_positions",
      text, positions)
  }
}

/** `shingle_md5s(text, n)`: full 32-hex md5 of every stride-1 word
  * n-gram window, in order (see [[TextKernels.shingleMd5s]]). */
case class ShingleMd5s(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "shingle_md5s: n must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_md5s requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_md5s"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.shingleMd5s(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.shingleMd5s($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): ShingleMd5s =
    copy(child = newChild)
}

object ShingleMd5s {
  /** Column surface; registers the SQL function on the active session
    * (idempotent), same contract as [[ArrayDot]]. */
  def apply(text: Column, n: Int): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(GraftFunctions.register)
    org.apache.spark.sql.functions.call_function("shingle_md5s",
      text, org.apache.spark.sql.functions.lit(n))
  }
}

/** `jaro_winkler(a, b)`: Winkler-boosted Jaro similarity (see
  * [[TextKernels.jaroWinkler]]). */
case class JaroWinkler(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"jaro_winkler requires string arguments, got ${left.dataType}, ${right.dataType}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.TextKernels.jaroWinkler($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {
  /** Column surface; registers the SQL function on the active session
    * (idempotent), same contract as [[ArrayDot]]. */
  def apply(a: Column, b: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(GraftFunctions.register)
    org.apache.spark.sql.functions.call_function("jaro_winkler", a, b)
  }
}

/** `cdc_chunks(text, maskBits)`: content-defined chunk strings via the
  * rolling-hash boundary scan (see [[TextKernels.cdcChunks]]). */
case class CdcChunks(child: Expression, maskBits: Int)
  extends UnaryExpression {

  require(maskBits >= 1 && maskBits <= 20,
    s"cdc_chunks: maskBits in [1,20], got $maskBits")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cdc_chunks requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "cdc_chunks"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.cdcChunks(input.asInstanceOf[UTF8String], maskBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.cdcChunks($c, $maskBits);")

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

object CdcChunks {
  /** Column surface; registers the SQL function on the active session
    * (idempotent), same contract as [[ArrayDot]]. */
  def apply(text: Column, maskBits: Int): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(GraftFunctions.register)
    org.apache.spark.sql.functions.call_function("cdc_chunks",
      text, org.apache.spark.sql.functions.lit(maskBits))
  }
}

/** `shingle_minhash_set(text, n, k)`: struct of (mins, hs) — the k
  * minhashes and the deduped shingle-hash set in one digest pass (see
  * [[TextKernels.shingleMinHashSet]]). */
case class ShingleMinHashSet(child: Expression, n: Int, k: Int)
  extends UnaryExpression {

  require(n >= 1, "shingle_minhash_set: n must be >= 1")
  require(k >= 1, "shingle_minhash_set: k must be >= 1")

  @transient private lazy val (aArr, bArr) = {
    val c = TextKernels.mixConsts(k)
    (c.map(_._1).toArray, c.map(_._2).toArray)
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_minhash_set requires a string argument, got ${child.dataType}")
  override def dataType: DataType = StructType(Seq(
    StructField("mins", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("hs", ArrayType(LongType, containsNull = false), nullable = false)))
  override def prettyName: String = "shingle_minhash_set"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.shingleMinHashSet(input.asInstanceOf[UTF8String], n, aArr, bArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("shingleMixA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("shingleMixB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.shingleMinHashSet($c, $n, $aRef, $bRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleMinHashSet =
    copy(child = newChild)
}

object ShingleMinHashSet {
  /** Column surface; registers the SQL function on the active session
    * (idempotent), same contract as [[ArrayDot]]. */
  def apply(text: Column, n: Int, k: Int): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(GraftFunctions.register)
    org.apache.spark.sql.functions.call_function("shingle_minhash_set",
      text, org.apache.spark.sql.functions.lit(n), org.apache.spark.sql.functions.lit(k))
  }
}

/** `sim_hash(text, bits)`: SimHash signature of the token stream (see
  * [[TextKernels.simHash]]). */
case class SimHash(child: Expression, bits: Int) extends UnaryExpression {

  require(bits >= 1 && bits <= 63, "sim_hash: bits must be in [1,63]")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sim_hash requires a string argument, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "sim_hash"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.simHash(input.asInstanceOf[UTF8String], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.simHash($c, $bits);")

  override protected def withNewChildInternal(newChild: Expression): SimHash =
    copy(child = newChild)
}

object SimHash {
  /** Column surface; registers the SQL function on the active session
    * (idempotent), same contract as [[ArrayDot]]. */
  def apply(text: Column, bits: Int): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(GraftFunctions.register)
    org.apache.spark.sql.functions.call_function("sim_hash",
      text, org.apache.spark.sql.functions.lit(bits))
  }
}

/** `bigram_pair_counts(text)`: per-document bigram counts as an array of
  * (w1, w2, cnt) structs (see [[TextKernels.bigramPairCounts]]).
  */
case class BigramPairCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bigram_pair_counts requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("w1", StringType, nullable = false),
    StructField("w2", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "bigram_pair_counts"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.bigramPairCounts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.bigramPairCounts($c);")

  override protected def withNewChildInternal(newChild: Expression): BigramPairCounts =
    copy(child = newChild)
}

object BigramPairCounts {
  /** Column surface; registers the SQL function on the active session
    * (idempotent), same contract as [[ArrayDot]]. */
  def apply(text: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(GraftFunctions.register)
    org.apache.spark.sql.functions.call_function("bigram_pair_counts", text)
  }
}

/** `word_bag_features(text, buckets)`: per-document hashed
  * bag-of-words feature pairs, sorted by bucket (see
  * [[TextKernels.wordBagFeatures]]). */
case class WordBagFeatures(child: Expression, buckets: Int)
  extends UnaryExpression {

  // 2^16 cap: the kernel zeroes and scans a dense Int[buckets] PER ROW
  // (256 KB at the cap — L2-resident), so the bound is what keeps the
  // per-row cost independent of pathological configs; a wider feature
  // space belongs in a sparse accumulator, not this kernel.
  require(buckets >= 1 && buckets <= (1 << 16),
    s"word_bag_features: buckets must be in [1, 2^16], got $buckets")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_bag_features requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("b", LongType, nullable = false),
    StructField("x", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "word_bag_features"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.wordBagFeatures(input.asInstanceOf[UTF8String], buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.wordBagFeatures($c, $buckets);")

  override protected def withNewChildInternal(newChild: Expression): WordBagFeatures =
    copy(child = newChild)
}

object WordBagFeatures {
  /** Column surface; registers the SQL function on the active session
    * (idempotent), same contract as [[ArrayDot]]. */
  def apply(text: Column, buckets: Int): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(GraftFunctions.register)
    org.apache.spark.sql.functions.call_function("word_bag_features",
      text, org.apache.spark.sql.functions.lit(buckets))
  }
}

/** `shingle_md5_bins(text, n)`: binary (16-byte) window md5s (see
  * [[TextKernels.shingleMd5Bins]]). */
case class ShingleMd5Bins(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "shingle_md5_bins: n must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_md5_bins requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def prettyName: String = "shingle_md5_bins"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.shingleMd5Bins(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.shingleMd5Bins($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): ShingleMd5Bins =
    copy(child = newChild)
}

object ShingleMd5Bins {
  /** Column surface; registers the SQL function on the active session
    * (idempotent), same contract as [[ArrayDot]]. */
  def apply(text: Column, n: Int): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(GraftFunctions.register)
    org.apache.spark.sql.functions.call_function("shingle_md5_bins",
      text, org.apache.spark.sql.functions.lit(n))
  }
}

/** `winnow_fps(text, n, hexLen, w)`: distinct width-`w` sliding-window
  * minima of the word n-gram hash stream (see
  * [[TextKernels.winnowFps]]) — the winnowing fingerprint set. */
case class WinnowFps(child: Expression, n: Int, hexLen: Int, w: Int)
  extends UnaryExpression {

  require(n >= 1, "winnow_fps: n must be >= 1")
  require(hexLen >= 1 && hexLen <= 15, "winnow_fps: hexLen must be in [1,15]")
  require(w >= 1, "winnow_fps: w must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"winnow_fps requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.winnowFps(input.asInstanceOf[UTF8String], n, hexLen, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.winnowFps($c, $n, $hexLen, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

object WinnowFps {
  /** Column surface; registers the SQL function on the active session
    * (idempotent), same contract as [[ArrayDot]]. */
  def apply(text: Column, n: Int, hexLen: Int, w: Int): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(GraftFunctions.register)
    org.apache.spark.sql.functions.call_function("winnow_fps",
      text, org.apache.spark.sql.functions.lit(n),
      org.apache.spark.sql.functions.lit(hexLen),
      org.apache.spark.sql.functions.lit(w))
  }
}

/** `char_gram_features(text, n, buckets)`: per-document hashed
  * char-n-gram feature pairs, sorted by bucket (see
  * [[TextKernels.charGramFeatures]]). */
case class CharGramFeatures(child: Expression, n: Int, buckets: Int)
  extends UnaryExpression {

  require(n >= 2, s"char_gram_features: n must be >= 2, got $n")
  // Same dense-accumulator bound as word_bag_features: 2^16 keeps the
  // per-row Int[buckets] zero+scan L2-resident.
  require(buckets >= 1 && buckets <= (1 << 16),
    s"char_gram_features: buckets must be in [1, 2^16], got $buckets")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_gram_features requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("b", LongType, nullable = false),
    StructField("x", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "char_gram_features"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.charGramFeatures(input.asInstanceOf[UTF8String], n, buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.charGramFeatures($c, $n, $buckets);")

  override protected def withNewChildInternal(newChild: Expression): CharGramFeatures =
    copy(child = newChild)
}

object CharGramFeatures {
  /** Column surface; registers the SQL function on the active session
    * (idempotent), same contract as [[ArrayDot]]. */
  def apply(text: Column, n: Int, buckets: Int): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(GraftFunctions.register)
    org.apache.spark.sql.functions.call_function("char_gram_features",
      text, org.apache.spark.sql.functions.lit(n),
      org.apache.spark.sql.functions.lit(buckets))
  }
}

/** `graft_script_counts(text)`: per-codepoint Unicode-script class
  * counts in ONE pass — struct(n_latin, n_digit, n_cyrillic, n_cjk,
  * n_arabic, n_other). Replaces the six regexp_replace scans of
  * TextQuality.scriptProfile (each `length(t) - length(regexp_replace
  * (t, cls, ''))` walked and REBUILT the whole string); the class
  * ranges are the same BMP blocks ([A-Za-z], [0-9], U+0400–U+04FF,
  * U+4E00–U+9FFF, U+0600–U+06FF), counted per CODEPOINT to match both
  * engines' length() semantics on non-BMP text. */
case class ScriptCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_script_counts requires a string argument, got ${child.dataType}")
  override def dataType: DataType = StructType(Seq(
    StructField("n_latin", LongType, nullable = false),
    StructField("n_digit", LongType, nullable = false),
    StructField("n_cyrillic", LongType, nullable = false),
    StructField("n_cjk", LongType, nullable = false),
    StructField("n_arabic", LongType, nullable = false),
    StructField("n_other", LongType, nullable = false)))
  override def prettyName: String = "graft_script_counts"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.scriptCounts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.scriptCounts($c);")

  override protected def withNewChildInternal(newChild: Expression): ScriptCounts =
    copy(child = newChild)
}

object ScriptCounts {
  /** Column surface; registers the SQL function on the active session
    * (idempotent), same contract as [[ArrayDot]]. */
  def apply(text: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(GraftFunctions.register)
    org.apache.spark.sql.functions.call_function("graft_script_counts", text)
  }
}
