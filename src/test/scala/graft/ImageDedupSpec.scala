package graft

import org.apache.spark.sql.functions._
import graft.operators.ImageDedup
import graft.operators.ImageDedup.GrayImage

/** Real BMP pixel decode (differential against the JDK's own BMP
  * encoder), integer dHash arithmetic, truncation fuzz, and the banded
  * hamming LSH pipeline checked against a brute-force reference. */
class ImageDedupSpec extends SparkSpec {

  /** Deterministic pixel function shared by the tests. */
  private def pix(seed: Int)(x: Int, y: Int): (Int, Int, Int) =
    ((seed * 73 + x * 29 + y * 19) % 256,
      (seed * 59 + x * 31 + y * 13) % 256,
      (seed * 41 + x * 23 + y * 17) % 256)

  private def grayOf(px: (Int, Int) => (Int, Int, Int))(x: Int, y: Int): Int = {
    val (r, g, b) = px(x, y)
    (299 * r + 587 * g + 114 * b) / 1000
  }

  test("decodeBmpGray matches the JDK BMP encoder pixel for pixel") {
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 5) {
      val w = 1 + rnd.nextInt(40)
      val h = 1 + rnd.nextInt(30)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val expect = Array.ofDim[Int](w * h)
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = (rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256))
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        expect(y * w + x) = (299 * r + 587 * g + 114 * b) / 1000
      }
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "bmp", out), "no bmp writer")
      val decoded = ImageDedup.decodeBmpGray(out.toByteArray)
      assert(decoded.isDefined, s"failed to decode ${w}x$h JDK bmp")
      val GrayImage(dw, dh, gray) = decoded.get
      assert((dw, dh) === ((w, h)))
      assert(gray.toSeq === expect.toSeq)
    }
  }

  test("decodePngGray matches the JDK PNG encoder pixel for pixel (RGB + gray)") {
    val rnd = new scala.util.Random(7)
    for (typ <- Seq(java.awt.image.BufferedImage.TYPE_INT_RGB,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY,
        java.awt.image.BufferedImage.TYPE_4BYTE_ABGR);
        _ <- 0 until 3) {
      val w = 1 + rnd.nextInt(40)
      val h = 1 + rnd.nextInt(30)
      val img = new java.awt.image.BufferedImage(w, h, typ)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, 0xff000000 |
          (rnd.nextInt(256) << 16) | (rnd.nextInt(256) << 8) | rnd.nextInt(256))
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", out), "no png writer")
      val decoded = ImageDedup.decodePngGray(out.toByteArray)
      assert(decoded.isDefined, s"failed to decode ${w}x$h type-$typ JDK png")
      val GrayImage(dw, dh, gray) = decoded.get
      assert((dw, dh) === ((w, h)))
      // expectation from the ENCODER's own readback: whatever channel
      // transform ImageIO applied, our luma must match it exactly
      val back = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(out.toByteArray))
      val singleChannel = back.getColorModel.getColorSpace.getNumComponents == 1
      for (y <- 0 until h; x <- 0 until w) {
        // gray PNGs: the raw sample IS the gray value (getRGB would
        // apply a linear→sRGB conversion our raw decode rightly skips)
        val expected =
          if (singleChannel) back.getRaster.getSample(x, y, 0)
          else {
            val rgb = back.getRGB(x, y)
            val (r, g, b) = ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
            (299 * r + 587 * g + 114 * b) / 1000
          }
        assert(gray(y * w + x) === expected, s"pixel ($x,$y) of ${w}x$h type-$typ")
      }
    }
  }

  test("decodeGifGray matches the JDK GIF encoder pixel for pixel") {
    val rnd = new scala.util.Random(23)
    for (trial <- 0 until 4) {
      val w = 1 + rnd.nextInt(40)
      val h = 1 + rnd.nextInt(30)
      // few distinct colors: the JDK GIF writer's palette then encodes
      // them losslessly, so the ORIGINAL image is the reference. (Not
      // the writer's own readback: GIFImageReader misreads interlaced
      // images of height < 3 — its pass-progression replays rows into
      // the wrong slots — while this decoder reproduces the original
      // exactly; verified against the raw LZW stream.)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val colors = Array.fill(8)((rnd.nextInt(256) << 16) | (rnd.nextInt(256) << 8) | rnd.nextInt(256))
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, colors(rnd.nextInt(colors.length)))
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "gif", out), "no gif writer")
      val decoded = ImageDedup.decodeGifGray(out.toByteArray)
      assert(decoded.isDefined, s"failed to decode ${w}x$h JDK gif (trial $trial)")
      val GrayImage(dw, dh, gray) = decoded.get
      assert((dw, dh) === ((w, h)))
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        val (r, g, b) = ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
        assert(gray(y * w + x) === (299 * r + 587 * g + 114 * b) / 1000,
          s"pixel ($x,$y) of ${w}x$h gif")
      }
    }
  }

  test("every GIF truncation length decodes to None or a valid image — never throws") {
    val img = new java.awt.image.BufferedImage(19, 13,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rnd = new scala.util.Random(29)
    for (y <- 0 until 13; x <- 0 until 19)
      img.setRGB(x, y, if (rnd.nextBoolean()) 0xffffff else 0x336699)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "gif", out)
    val full = out.toByteArray
    for (len <- 0 until full.length) {
      val t = java.util.Arrays.copyOf(full, len)
      ImageDedup.decodeGifGray(t) // must not throw
    }
    for (trial <- 0 until 80) {
      val mut = full.clone()
      val i = 6 + rnd.nextInt(full.length - 6)
      mut(i) = (mut(i) ^ (1 << rnd.nextInt(8))).toByte
      ImageDedup.decodeGifGray(mut)
    }
  }

  test("JPEG decode tracks the JDK decoder within the spec's IDCT tolerance") {
    // JPEG is lossy and T.81 bounds IDCT accuracy rather than requiring
    // bit-exactness, so the gate is tolerance + perceptual agreement,
    // not equality: mean |Δ| ≤ 1.5 gray levels, dHash within hamming 6.
    val rnd = new scala.util.Random(31)
    for (trial <- 0 until 3) {
      val w = 24 + rnd.nextInt(40)
      val h = 24 + rnd.nextInt(40)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      // smooth gradient + structure: JPEG-friendly content
      for (y <- 0 until h; x <- 0 until w) {
        val r = (x * 255 / w); val g = (y * 255 / h)
        val b = ((x + y) % 2) * 40 + 100
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
      }
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "jpg", out), "no jpeg writer")
      val bytes = out.toByteArray
      val decoded = graft.operators.JpegDecode.decodeGray(bytes)
      assert(decoded.isDefined, s"failed to decode ${w}x$h JDK jpeg (trial $trial)")
      val GrayImage(dw, dh, gray) = decoded.get
      assert((dw, dh) === ((w, h)))
      val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      var sumAbs = 0L
      val refGray = new Array[Int](w * h)
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = back.getRGB(x, y)
        val (r, g, b) = ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
        refGray(y * w + x) = (299 * r + 587 * g + 114 * b) / 1000
        sumAbs += math.abs(gray(y * w + x) - refGray(y * w + x))
      }
      val meanAbs = sumAbs.toDouble / (w * h)
      // our luma is the Y plane; the JDK's is BT.601 of its RGB
      // round-trip — small systematic differences are expected
      assert(meanAbs <= 3.0, s"mean abs diff $meanAbs on ${w}x$h (trial $trial)")
      val dMine = ImageDedup.dHash64(decoded.get)
      val dRef = ImageDedup.dHash64(GrayImage(w, h, refGray))
      assert(java.lang.Long.bitCount(dMine ^ dRef) <= 6,
        s"dHash drifted: ${java.lang.Long.bitCount(dMine ^ dRef)} bits (trial $trial)")
    }
  }

  test("grayscale JPEG (single component) decodes and matches the JDK raster") {
    val img = new java.awt.image.BufferedImage(33, 21,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val rnd = new scala.util.Random(37)
    for (y <- 0 until 21; x <- 0 until 33)
      img.getRaster.setSample(x, y, 0, (x * 7 + y * 5 + rnd.nextInt(8)) % 256)
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", out))
    val bytes = out.toByteArray
    val decoded = graft.operators.JpegDecode.decodeGray(bytes)
    assert(decoded.isDefined)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    var sumAbs = 0L
    for (y <- 0 until 21; x <- 0 until 33)
      sumAbs += math.abs(decoded.get.gray(y * 33 + x) - back.getRaster.getSample(x, y, 0))
    assert(sumAbs.toDouble / (33 * 21) <= 1.5,
      s"mean abs diff ${sumAbs.toDouble / (33 * 21)}")
  }

  test("every JPEG truncation length decodes to None or a valid image — never throws") {
    val img = new java.awt.image.BufferedImage(17, 14,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rnd = new scala.util.Random(41)
    for (y <- 0 until 14; x <- 0 until 17) img.setRGB(x, y, rnd.nextInt() | 0xff000000)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    val full = out.toByteArray
    for (len <- 0 until full.length) {
      val t = java.util.Arrays.copyOf(full, len)
      graft.operators.JpegDecode.decodeGray(t) // must not throw
    }
    for (trial <- 0 until 60) {
      val mut = full.clone()
      val i = 2 + rnd.nextInt(full.length - 2)
      mut(i) = (mut(i) ^ (1 << rnd.nextInt(8))).toByte
      graft.operators.JpegDecode.decodeGray(mut)
    }
  }

  test("same pixels through BMP and PNG containers give the same dHash") {
    val w = 33; val h = 21
    val bmp = ImageDedup.bmpFixture(w, h, pix(3))
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = pix(3)(x, y)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val gBmp = ImageDedup.decodeGray(bmp).get
    val gPng = ImageDedup.decodeGray(out.toByteArray).get
    assert(gBmp.gray.toSeq === gPng.gray.toSeq)
    assert(ImageDedup.dHash64(gBmp) === ImageDedup.dHash64(gPng))
  }

  test("every PNG truncation length decodes to None or a valid image — never throws") {
    val img = new java.awt.image.BufferedImage(17, 11,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rnd = new scala.util.Random(11)
    for (y <- 0 until 11; x <- 0 until 17) img.setRGB(x, y, rnd.nextInt() | 0xff000000)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val full = out.toByteArray
    for (len <- 0 until full.length) {
      val t = java.util.Arrays.copyOf(full, len)
      ImageDedup.decodePngGray(t) // must not throw
    }
    // corrupted filter bytes / random flips must not throw either
    for (trial <- 0 until 50) {
      val mut = full.clone()
      val i = 8 + rnd.nextInt(full.length - 8)
      mut(i) = (mut(i) ^ (1 << rnd.nextInt(8))).toByte
      ImageDedup.decodePngGray(mut)
    }
  }

  test("a PNG declaring more pixels than its IDAT can inflate to is refused before allocating") {
    // 16384 x 16384 RGBA, 8-bit: h * (stride + 1) = 1025 MiB of pixel rows,
    // against a 12-byte zlib stream (100 zero bytes)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(12 + data.length)
      b.putInt(data.length).put(typ.getBytes("US-ASCII")).put(data).putInt(0)
      b.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(16384).putInt(16384).put(8.toByte).put(6.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(new Array[Byte](100)); deflater.finish()
    val zbuf = new Array[Byte](64)
    val idat = java.util.Arrays.copyOf(zbuf, deflater.deflate(zbuf))
    deflater.end()
    val png = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", idat) ++ chunk("IEND", Array.empty)
    assert(png.length == 69)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    ImageDedup.decodePngGray(png) // warm the decode path
    val before = mx.getThreadAllocatedBytes(tid)
    val decoded = ImageDedup.decodePngGray(png)
    val allocated = mx.getThreadAllocatedBytes(tid) - before
    assert(decoded.isEmpty)
    assert(allocated < (4L << 20), s"decode allocated $allocated bytes")
  }

  test("bmpFixture round-trips through the decoder (incl. row padding)") {
    for (w <- Seq(1, 2, 9, 10); h <- Seq(1, 8)) {
      val bytes = ImageDedup.bmpFixture(w, h, pix(7))
      val decoded = ImageDedup.decodeBmpGray(bytes)
      assert(decoded.isDefined, s"${w}x$h")
      val GrayImage(dw, dh, gray) = decoded.get
      assert((dw, dh) === ((w, h)))
      for (y <- 0 until h; x <- 0 until w)
        assert(gray(y * w + x) === grayOf(pix(7))(x, y), s"($x,$y) in ${w}x$h")
    }
  }

  test("top-down BMP (negative height) decodes to the same grid") {
    val w = 9; val h = 8
    val bottomUp = ImageDedup.bmpFixture(w, h, pix(3))
    // rewrite as top-down: negate the height field and reverse the
    // stored row order (top-down files store row 0 first)
    val topDown = bottomUp.clone()
    val negH = -h
    for (i <- 0 until 4) topDown(22 + i) = ((negH >> (8 * i)) & 0xff).toByte
    val rowSize = ((w * 3 + 3) / 4) * 4
    for (fy <- 0 until h; i <- 0 until rowSize)
      topDown(54 + fy * rowSize + i) = bottomUp(54 + (h - 1 - fy) * rowSize + i)
    assert(ImageDedup.decodeBmpGray(topDown).map(_.gray.toSeq) ===
      ImageDedup.decodeBmpGray(bottomUp).map(_.gray.toSeq))
  }

  test("every truncation length decodes to None or a valid image — never throws") {
    val full = ImageDedup.bmpFixture(9, 8, pix(11))
    for (n <- 0 until full.length) {
      val hdr = ImageDedup.decodeBmpGray(full.take(n)) // must not throw
      assert(hdr.isEmpty, s"truncated to $n bytes should not decode")
    }
    assert(ImageDedup.decodeBmpGray(full).isDefined)
    // corrupt geometry: zero/negative width, giant dims, wrong depth
    def patched(off: Int, value: Int): Array[Byte] = {
      val b = full.clone()
      for (i <- 0 until 4) b(off + i) = ((value >> (8 * i)) & 0xff).toByte
      b
    }
    assert(ImageDedup.decodeBmpGray(patched(18, 0)).isEmpty)
    assert(ImageDedup.decodeBmpGray(patched(18, -5)).isEmpty)
    assert(ImageDedup.decodeBmpGray(patched(18, 1 << 20)).isEmpty)
    assert(ImageDedup.decodeBmpGray(patched(22, Int.MinValue)).isEmpty)
    assert(ImageDedup.decodeBmpGray(patched(30, 1)).isEmpty) // compressed
  }

  test("boxResample computes integer block means; identity at target size") {
    // 18x16 -> 9x8: each cell is the mean of a 2x2 block
    val src = GrayImage(18, 16, Array.tabulate(18 * 16)(i => i % 251))
    val down = ImageDedup.boxResample(src, 9, 8)
    for (cy <- 0 until 8; cx <- 0 until 9) {
      val vals = for (dy <- 0 until 2; dx <- 0 until 2)
        yield src.gray((cy * 2 + dy) * 18 + (cx * 2 + dx))
      assert(down(cy * 9 + cx) === vals.sum / 4, s"cell ($cx,$cy)")
    }
    val id = GrayImage(9, 8, Array.tabulate(72)(identity))
    assert(ImageDedup.boxResample(id, 9, 8).toSeq === id.gray.toSeq)
  }

  test("dHash is invariant under 2x upscaling (block-replicated pixels)") {
    val base = ImageDedup.decodeBmpGray(ImageDedup.bmpFixture(9, 8, pix(5))).get
    val big = GrayImage(18, 16, Array.tabulate(18 * 16) { i =>
      val x = i % 18; val y = i / 18
      base.gray((y / 2) * 9 + (x / 2))
    })
    assert(ImageDedup.dHash64(big) === ImageDedup.dHash64(base))
  }

  test("imageNearDuplicates matches a brute-force band+hamming reference") {
    import spark.implicits._
    val nDocs = 120
    def variantPix(docId: Int)(x: Int, y: Int): (Int, Int, Int) = {
      val grp = docId % 12; val vr = docId / 12
      val p = if ((x * 3 + y * 5 + vr * 7) % 11 == 0) 128 else 0
      (((grp * 73 + x * 29 + y * 19 + p) % 256),
        ((grp * 59 + x * 31 + y * 13 + p) % 256),
        ((grp * 41 + x * 23 + y * 17 + p) % 256))
    }
    val payloads = (0 until nDocs).map(d =>
      (d.toLong, ImageDedup.bmpFixture(9, 8, variantPix(d))))
    // reference: hashes straight from the decoder, candidates = pairs
    // sharing any byte band, verified by exact hamming
    val refHash = payloads.map { case (d, bytes) =>
      d -> ImageDedup.dHash64(ImageDedup.decodeBmpGray(bytes).get)
    }.toMap
    def bandsOf(h: Long): Seq[Long] = (0 until 8).map(b => (h >>> (b * 8)) & 0xffL)
    val expected = (for {
      a <- 0 until nDocs; b <- (a + 1) until nDocs
      ha = refHash(a.toLong); hb = refHash(b.toLong)
      if bandsOf(ha).zip(bandsOf(hb)).exists { case (x, y) => x == y }
      ham = java.lang.Long.bitCount(ha ^ hb)
      if ham <= 8
    } yield (a.toLong, b.toLong, ham)).toSet
    assert(expected.nonEmpty, "fixture should produce near-dup pairs")
    assert(expected.size < nDocs * (nDocs - 1) / 2, "fixture must not be all-pairs")

    val df = payloads.toDF("doc_id", "payload")
    val hashes = ImageDedup.dHashes(df, "doc_id", "payload")
    val got = ImageDedup.imageNearDuplicates(hashes, "doc_id", "dhash", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === expected)
  }

  test("undecodable payloads hash to null and drop out of near-dup search") {
    import spark.implicits._
    val good = ImageDedup.bmpFixture(9, 8, pix(1))
    val rows = Seq(
      (0L, good), (1L, good),
      (2L, Array[Byte](1, 2, 3)),
      (3L, Array.empty[Byte]),
      (4L, "not a bitmap at all, just text bytes".getBytes("UTF-8")))
    val hashes = ImageDedup.dHashes(rows.toDF("doc_id", "payload"), "doc_id", "payload")
    val byId = hashes.collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(byId(0L).isDefined && byId(1L).isDefined)
    assert(byId(2L).isEmpty && byId(3L).isEmpty && byId(4L).isEmpty)
    val pairs = ImageDedup.imageNearDuplicates(hashes, "doc_id", "dhash", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L))) // identical images, hamming 0
  }
}
