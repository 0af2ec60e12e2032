package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Perceptual image dedup: difference hash (dHash) over a downsampled
  * grayscale grid, then banded hamming LSH for near-duplicate pairs.
  *
  * The pixel decode is REAL: `decodeBmpGray` parses an uncompressed
  * 24-bit BMP (BITMAPFILEHEADER data offset, BITMAPINFOHEADER geometry,
  * bottom-up or top-down row order, 4-byte row padding, BGR channel
  * order), `decodePngGray` parses a non-interlaced 8-bit PNG (chunk
  * walk → zlib inflate → None/Sub/Up/Average/Paeth defilter, color
  * types 0/2/3/4/6), `decodeGifGray` parses the first frame of a
  * GIF87a/89a (color tables, extension skip, variable-width LZW,
  * interlace reorder), and [[JpegDecode]] handles baseline JPEG
  * (Huffman entropy decode, dequant, IDCT, luma plane) — all into a
  * top-based grayscale grid behind the `decodeGray` dispatch.
  * Header-only metadata for other containers lives in
  * [[Multimodal.decodeImageHeader]].
  *
  * dHash (public-knowledge perceptual hash): box-resample the grayscale
  * to a 9x8 grid, then one bit per horizontally adjacent pair —
  * `gray[y][x+1] > gray[y][x]` — giving a 64-bit signature that is
  * invariant to uniform brightness shifts and robust to small edits.
  * All arithmetic is integer (BT.601 luma `(299r+587g+114b)/1000`, box
  * means by integer division) so an external engine can replay the hash
  * exactly.
  *
  * Near-dup search reuses the text-LSH shape ([[TextDedup.candidatePairs]]):
  * the 64-bit hash splits into 8 one-byte bands; images sharing any
  * (band, byte) bucket become candidates (never all-pairs — the fan-out
  * is proportional to true near-dups at 100 TB, exactly like the MinHash
  * path), then an exact hamming verify keeps pairs within `maxHamming`.
  * Two hashes within hamming d of each other share at least one of the 8
  * byte-bands whenever d < 8 spreads over fewer than 8 bands — the same
  * banding guarantee MinHash LSH gives, with the same documented
  * candidate-restricted semantics.
  */
object ImageDedup {

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

  /** Decoded grayscale image: top-based rows, `gray(y * width + x)`. */
  final case class GrayImage(width: Int, height: Int, gray: Array[Int])

  /** Parse an uncompressed 24-bit BMP into a top-based grayscale grid.
    * Returns None for non-BMP payloads, unsupported depths/compression,
    * corrupt geometry, or pixel data truncated before the size the
    * header promises — corrupt items are data, not errors. */
  def decodeBmpGray(b: Array[Byte]): Option[GrayImage] = {
    if (b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
    val off = le32(b, 10)
    val hdrSize = le32(b, 14)
    val w = le32(b, 18)
    val hRaw = le32(b, 22)
    val bpp = le16(b, 28)
    val compression = le32(b, 30)
    if (hdrSize < 40 || w <= 0 || hRaw == 0 || hRaw == Int.MinValue ||
      bpp != 24 || compression != 0) return None
    val h = math.abs(hRaw)
    // sanity cap: a corrupt header must not allocate gigabytes
    if (w > (1 << 14) || h > (1 << 14)) return None
    val topDown = hRaw < 0
    val rowSize = ((w * 3 + 3) / 4) * 4
    if (off < 54 || off.toLong + rowSize.toLong * h > b.length) return None
    val gray = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val fileRow = if (topDown) y else h - 1 - y
      val base = off + fileRow * rowSize
      var x = 0
      while (x < w) {
        val i = base + x * 3
        val blue = u8(b, i); val green = u8(b, i + 1); val red = u8(b, i + 2)
        gray(y * w + x) = (299 * red + 587 * green + 114 * blue) / 1000
        x += 1
      }
      y += 1
    }
    Some(GrayImage(w, h, gray))
  }

  private def be32(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)

  private val pngSig: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Parse a non-interlaced 8-bit-depth PNG (color types 0 gray, 2 RGB,
    * 3 palette, 4 gray+alpha, 6 RGBA — the overwhelming majority of real
    * files) into a top-based grayscale grid: chunk walk → zlib inflate of
    * the concatenated IDAT stream (JDK Inflater) → per-row defilter
    * (None/Sub/Up/Average/Paeth) → BT.601 integer luma, alpha ignored.
    * Returns None for anything else (interlaced, 16-bit, sub-byte
    * depths, corrupt or truncated data) — corrupt items are data, not
    * errors. CRCs are not validated, like every fast decode path. */
  def decodePngGray(b: Array[Byte]): Option[GrayImage] = {
    if (b == null || b.length < 8 + 25 ||
      !pngSig.indices.forall(i => b(i) == pngSig(i))) return None
    var w = 0; var h = 0; var depth = 0; var color = -1; var interlace = 0
    var sawIhdr = false; var sawIend = false
    var palette: Array[Int] = null
    val idat = new java.io.ByteArrayOutputStream()
    var i = 8
    while (!sawIend && i + 8 <= b.length) {
      val len = be32(b, i)
      if (len < 0 || i.toLong + 12L + len > b.length) return None // truncated
      val typ = new String(b, i + 4, 4, "US-ASCII")
      typ match {
        case "IHDR" =>
          if (len < 13) return None
          w = be32(b, i + 8); h = be32(b, i + 12)
          depth = u8(b, i + 16); color = u8(b, i + 17)
          interlace = u8(b, i + 20)
          sawIhdr = true
        case "PLTE" =>
          palette = new Array[Int](len / 3)
          var p = 0
          while (p < palette.length) {
            val o = i + 8 + p * 3
            palette(p) = (299 * u8(b, o) + 587 * u8(b, o + 1) + 114 * u8(b, o + 2)) / 1000
            p += 1
          }
        case "IDAT" => idat.write(b, i + 8, len)
        case "IEND" => sawIend = true
        case _      => // ancillary chunk: skip
      }
      i += 12 + len
    }
    if (!sawIhdr || w <= 0 || h <= 0 || w > (1 << 14) || h > (1 << 14)) return None
    if (depth != 8 || interlace != 0) return None
    val channels = color match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
      case _ => return None
    }
    if (color == 3 && palette == null) return None
    val stride = w * channels
    val expected = h.toLong * (stride + 1)
    // DEFLATE expands at most 1032:1, so a header that declares more
    // pixel bytes than the IDAT payload can inflate to is corrupt;
    // refuse it before the allocation, not after
    if (expected > Int.MaxValue || expected > 1032L * idat.size + 1024) return None
    // inflate the concatenated IDAT payload to exactly h*(stride+1) bytes
    val raw = new Array[Byte](expected.toInt)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val n = try inf.inflate(raw, off, raw.length - off) catch {
          case _: java.util.zip.DataFormatException => return None
        }
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return None
        off += n
      }
      if (off < raw.length) return None
    } finally inf.end()
    // defilter in place, row by row (bpp = channels at 8-bit depth)
    val cur = new Array[Int](stride)
    val prev = new Array[Int](stride)
    val gray = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val base = y * (stride + 1)
      val ft = u8(raw, base)
      if (ft > 4) return None
      var k = 0
      while (k < stride) {
        val x = u8(raw, base + 1 + k)
        val a = if (k >= channels) cur(k - channels) else 0
        val up = if (y > 0) prev(k) else 0
        val c = if (k >= channels && y > 0) prev(k - channels) else 0
        cur(k) = ft match {
          case 0 => x
          case 1 => (x + a) & 0xff
          case 2 => (x + up) & 0xff
          case 3 => (x + (a + up) / 2) & 0xff
          case 4 =>
            // Paeth predictor (PNG spec 9.4)
            val p = a + up - c
            val pa = math.abs(p - a); val pb = math.abs(p - up); val pc = math.abs(p - c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
            (x + pred) & 0xff
        }
        k += 1
      }
      var px = 0
      while (px < w) {
        val o = px * channels
        gray(y * w + px) = color match {
          case 0 | 4 => cur(o)
          case 2 | 6 => (299 * cur(o) + 587 * cur(o + 1) + 114 * cur(o + 2)) / 1000
          case 3 =>
            val idx = cur(o)
            if (idx >= palette.length) return None
            palette(idx)
        }
        px += 1
      }
      System.arraycopy(cur, 0, prev, 0, stride)
      y += 1
    }
    Some(GrayImage(w, h, gray))
  }

  /** Parse the FIRST frame of a GIF87a/GIF89a into a top-based
    * grayscale grid: logical-screen + color tables, extension-block
    * skip, LZW decompress of the image data sub-blocks, optional
    * interlace reorder, palette → BT.601 luma. Returns None for corrupt
    * or truncated payloads — corrupt items are data, not errors. */
  def decodeGifGray(b: Array[Byte]): Option[GrayImage] = {
    if (b == null || b.length < 13) return None
    if (!(b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
      (b(4) == '7' || b(4) == '9') && b(5) == 'a')) return None
    val packed = u8(b, 10)
    var i = 13
    var globalPal: Array[Int] = null // luma per palette index
    def readPalette(from: Int, size: Int): Option[Array[Int]] = {
      if (from + size * 3 > b.length) return None
      Some(Array.tabulate(size) { p =>
        val o = from + p * 3
        (299 * u8(b, o) + 587 * u8(b, o + 1) + 114 * u8(b, o + 2)) / 1000
      })
    }
    if ((packed & 0x80) != 0) {
      val size = 2 << (packed & 7)
      globalPal = readPalette(i, size).getOrElse(return None)
      i += size * 3
    }
    // walk blocks to the first image descriptor
    while (i < b.length) {
      u8(b, i) match {
        case 0x21 => // extension: label + length-prefixed sub-blocks
          i += 2
          while (i < b.length && u8(b, i) != 0) i += 1 + u8(b, i)
          i += 1 // block terminator
        case 0x2c => // image descriptor
          if (i + 10 > b.length) return None
          val w = le16(b, i + 5); val h = le16(b, i + 7)
          val ip = u8(b, i + 9)
          if (w <= 0 || h <= 0 || w > (1 << 14) || h > (1 << 14)) return None
          val interlaced = (ip & 0x40) != 0
          i += 10
          val pal =
            if ((ip & 0x80) != 0) {
              val size = 2 << (ip & 7)
              val p = readPalette(i, size).getOrElse(return None)
              i += size * 3
              p
            } else globalPal
          if (pal == null) return None
          if (i >= b.length) return None
          val minCode = u8(b, i); i += 1
          if (minCode < 2 || minCode > 11) return None
          // concatenate the length-prefixed data sub-blocks
          val data = new java.io.ByteArrayOutputStream()
          var ok = true
          while (ok && i < b.length && u8(b, i) != 0) {
            val len = u8(b, i)
            if (i + 1 + len > b.length) ok = false
            else { data.write(b, i + 1, len); i += 1 + len }
          }
          if (!ok) return None
          val indices = lzwDecode(data.toByteArray, minCode, w * h)
            .getOrElse(return None)
          val gray = new Array[Int](w * h)
          // interlace passes: rows 0,8,16.. then 4,12.. then 2,6.. then odd
          val rowOrder: Seq[Int] =
            if (!interlaced) 0 until h
            else (0 until h by 8) ++ (4 until h by 8) ++
              (2 until h by 4) ++ (1 until h by 2)
          var src = 0
          rowOrder.foreach { y =>
            var x = 0
            while (x < w) {
              val idx = indices(src); src += 1
              if (idx >= pal.length) return None
              gray(y * w + x) = pal(idx)
              x += 1
            }
          }
          return Some(GrayImage(w, h, gray))
        case 0x3b => return None // trailer before any image
        case _    => return None // desynced
      }
    }
    None
  }

  /** GIF-variant LZW decode of `data` to exactly `expected` pixel
    * indices. Variable code width from `minCode`+1 up to 12 bits, clear
    * and end-of-information codes per spec; returns None on any corrupt
    * stream (bad first code, premature end, code beyond table). */
  private def lzwDecode(data: Array[Byte], minCode: Int,
      expected: Int): Option[Array[Int]] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    // dictionary as (prefix pointer, appended index) pairs
    val maxEntries = 4096
    val prefix = new Array[Int](maxEntries)
    val append = new Array[Int](maxEntries)
    var next = eoi + 1
    var width = minCode + 1
    val out = new Array[Int](expected)
    var outN = 0
    var bitPos = 0
    val totalBits = data.length * 8
    def read(): Int = {
      if (bitPos + width > totalBits) return -1
      var v = 0; var k = 0
      while (k < width) {
        val bp = bitPos + k
        if ((data(bp >> 3) >> (bp & 7) & 1) != 0) v |= 1 << k
        k += 1
      }
      bitPos += width
      v
    }
    def emit(code: Int): Boolean = {
      // walk the chain into a small stack, then unwind
      var stack = List.empty[Int]
      var c = code
      var guard = 0
      while (c >= clear) { // dictionary entry
        if (guard > maxEntries) return false
        stack = append(c) :: stack
        c = prefix(c)
        guard += 1
      }
      stack = c :: stack
      stack.foreach { v =>
        if (outN < expected) { out(outN) = v; outN += 1 }
      }
      true
    }
    def firstOf(code: Int): Int = {
      var c = code
      var guard = 0
      while (c >= clear) {
        if (guard > maxEntries) return -1
        c = prefix(c); guard += 1
      }
      c
    }
    var prev = -1
    var done = false
    while (!done && outN < expected) {
      val code = read()
      if (code < 0) return None // truncated stream
      if (code == clear) {
        next = eoi + 1; width = minCode + 1; prev = -1
      } else if (code == eoi) {
        done = true
      } else if (prev == -1) {
        if (code >= clear) return None // first code must be a literal
        if (!emit(code)) return None
        prev = code
      } else {
        if (code > next || (code == next && next >= maxEntries)) return None
        val cur = if (code == next) {
          // KwKwK case: new entry = prev + first(prev)
          val f = firstOf(prev); if (f < 0) return None
          if (next < maxEntries) { prefix(next) = prev; append(next) = f; next += 1 }
          code
        } else {
          if (next < maxEntries) {
            val f = firstOf(code); if (f < 0) return None
            prefix(next) = prev; append(next) = f; next += 1
          }
          code
        }
        if (!emit(cur)) return None
        if (next == (1 << width) && width < 12) width += 1
        prev = cur
      }
    }
    if (outN < expected) None else Some(out)
  }

  /** Container dispatch: BMP, PNG, GIF or baseline JPEG → top-based
    * grayscale grid. */
  def decodeGray(b: Array[Byte]): Option[GrayImage] =
    if (b == null || b.length < 2) None
    else if (b(0) == 'B' && b(1) == 'M') decodeBmpGray(b)
    else if (b(0) == 'G' && b(1) == 'I') decodeGifGray(b)
    else if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) JpegDecode.decodeGray(b)
    else decodePngGray(b)

  /** Integer box-mean resample of a grayscale grid to `ow`x`oh`: output
    * cell (cx, cy) averages the source block [cx*w/ow, (cx+1)*w/ow) x
    * [cy*h/oh, (cy+1)*h/oh) with integer division — deterministic,
    * replayable arithmetic (no float filtering). Identity when the
    * source is already the target size. */
  def boxResample(img: GrayImage, ow: Int, oh: Int): Array[Int] = {
    if (img.width == ow && img.height == oh) return img.gray
    val out = new Array[Int](ow * oh)
    var cy = 0
    while (cy < oh) {
      val y0 = cy * img.height / oh
      val y1 = math.max((cy + 1) * img.height / oh, y0 + 1)
      var cx = 0
      while (cx < ow) {
        val x0 = cx * img.width / ow
        val x1 = math.max((cx + 1) * img.width / ow, x0 + 1)
        var sum = 0L; var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += img.gray(y * img.width + x); n += 1; x += 1 }
          y += 1
        }
        out(cy * ow + cx) = (sum / n).toInt
        cx += 1
      }
      cy += 1
    }
    out
  }

  /** 64-bit dHash of a decoded image: bit `y*8 + x` is set when
    * `grid[y][x+1] > grid[y][x]` on the 9x8 box-resampled grid. */
  def dHash64(img: GrayImage): Long = {
    val g = boxResample(img, 9, 8)
    var hash = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (g(y * 9 + x + 1) > g(y * 9 + x)) hash |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    hash
  }

  val hashSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("dhash", LongType)))

  /** Per-image dHash from (id, payload binary) rows; partition-batched
    * like [[Multimodal.extractMeta]] — one task per input partition, no
    * shuffle. Undecodable payloads yield a null hash (and are excluded
    * from near-dup search) rather than failing the batch. */
  def dHashes(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    val payIdx = df.schema.fieldIndex(payloadCol)
    implicit val enc = Encoders.row(hashSchema)
    df.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](payIdx)
        val hash = try decodeGray(bytes).map(dHash64) catch {
          case scala.util.control.NonFatal(_) => None
        }
        Row(r.getLong(idIdx), hash.orNull)
      }
    }
  }

  /** Near-duplicate image pairs from a (id, hash) table: byte-band LSH
    * buckets → candidate pairs ([[TextDedup.candidatePairs]], streamed
    * expansion, optional degenerate-bucket cap) → exact hamming verify.
    * Returns (doc_a, doc_b, hamming) with doc_a < doc_b, hamming ≤
    * `maxHamming`. One hash-sized exchange for the buckets plus two
    * candidate-sized joins for the verify — fan-out proportional to true
    * near-dups, never n². */
  def imageNearDuplicates(hashes: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, maxBucketSize: Option[Int] = None): DataFrame = {
    val hs = hashes.filter(col(hashCol).isNotNull)
    val sig = hs.select(col(idCol),
      posexplode(array((0 until 8).map(band =>
        shiftrightunsigned(col(hashCol), band * 8).bitwiseAND(lit(255L))): _*))
        .as(Seq("band", "sig")))
    val cand = TextDedup.candidatePairs(sig, idCol, maxBucketSize)
    cand
      .join(hs.select(col(idCol).as("doc_a"), col(hashCol).as("__ha")), "doc_a")
      .join(hs.select(col(idCol).as("doc_b"), col(hashCol).as("__hb")), "doc_b")
      .withColumn("hamming", bit_count(col("__ha").bitwiseXOR(col("__hb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Minimal uncompressed 24-bit BMP with pixels from `px(x, y)` →
    * (r, g, b), `(0, 0)` the TOP-left (rows are written bottom-up as the
    * positive-height format requires). Fixture builder for tests and
    * oracle queries; the bytes are a complete, spec-conformant file. */
  def bmpFixture(w: Int, h: Int, px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val rowSize = ((w * 3 + 3) / 4) * 4
    val dataSize = rowSize * h
    val buf = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
    buf.putInt(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
    buf.putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var fy = 0
    while (fy < h) {
      val y = h - 1 - fy // file rows run bottom-up
      var x = 0
      while (x < w) {
        val (r, g, b) = px(x, y)
        buf.put(b.toByte).put(g.toByte).put(r.toByte)
        x += 1
      }
      var pad = w * 3
      while (pad < rowSize) { buf.put(0.toByte); pad += 1 }
      fy += 1
    }
    buf.array()
  }
}
