package graft

import org.apache.spark.sql.functions._
import graft.operators.{Sketches, TextDedup, TextQuality}

/** Unit coverage for the corpus-hygiene operators: exact
  * duplicated-substring purge, Bloom-filter membership, duplicated
  * n-gram fraction, PMI collocations, Zipf slope, and quality-aware
  * cluster collapse. */
class CorpusOpsSpec extends SparkSpec {

  private def purge(rows: Seq[(Long, String)], w: Int, keepFirst: Boolean) = {
    import spark.implicits._
    TextDedup.purgeDuplicateSubstrings(rows.toDF("doc_id", "text"),
        "doc_id", "text", windowWords = w, keepFirst = keepFirst)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
  }

  test("dataCard reports exact counts and ratios on a hand corpus") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c", "en", "s1"),
      (1L, "a b c", "en", "s1"),   // exact dup of doc 0
      (2L, "d e", "de", "s2"))
      .toDF("doc_id", "text", "lang", "source")
    val got = graft.operators.Analytics.dataCard(docs, "text", "lang", "en",
        "source")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map(
      "n_docs" -> 3.0, "n_tokens" -> 8.0, "n_chars" -> 13.0,
      "vocab" -> 5.0, "mean_tokens_per_doc" -> 8.0 / 3.0,
      "exact_dup_frac" -> (1.0 - 2.0 / 3.0), "lang_share" -> 2.0 / 3.0,
      "n_sources" -> 2.0, "top_source_frac" -> 2.0 / 3.0), s"$got")
  }

  test("substring purge spares the first occurrence and strips the rest") {
    val got = purge(Seq(
      (1L, "shared run of words here plus unique tail one"),
      (2L, "other head then shared run of words here end")), w = 4, keepFirst = true)
    // doc 1 holds the first occurrence of every duplicated window → untouched
    assert(got(1L) == ((9L, 0L, "shared run of words here plus unique tail one")))
    // doc 2 loses the maximal duplicated span "shared run of words here"
    // (two overlapping 4-windows union to 5 positions)
    assert(got(2L) == ((9L, 5L, "other head then end")))
  }

  test("substring purge keepFirst=false strips every occurrence") {
    val got = purge(Seq(
      (1L, "shared run of words plus unique tail"),
      (2L, "other head then shared run of words end")), w = 4, keepFirst = false)
    assert(got(1L)._2 == 4L && got(1L)._3 == "plus unique tail")
    assert(got(2L)._2 == 4L && got(2L)._3 == "other head then end")
  }

  test("substring purge removes within-document repeats too") {
    val got = purge(Seq(
      (1L, "one two three four filler one two three four")), w = 4, keepFirst = true)
    // second occurrence of the run goes; first stays
    assert(got(1L) == ((9L, 4L, "one two three four filler")))
  }

  test("substring purge passes docs shorter than the window through") {
    val got = purge(Seq((1L, "tiny doc"), (2L, "tiny doc")), w = 4, keepFirst = true)
    assert(got(1L) == ((2L, 0L, "tiny doc")))
    assert(got(2L) == ((2L, 0L, "tiny doc")))
    // a window must hold at least one word
    intercept[IllegalArgumentException](
      purge(Seq((1L, "tiny doc")), w = 0, keepFirst = true))
  }

  test("substring purge empties a fully-duplicated document") {
    val got = purge(Seq(
      (1L, "a b c d"), (2L, "a b c d")), w = 4, keepFirst = true)
    assert(got(1L) == ((4L, 0L, "a b c d")))
    assert(got(2L) == ((4L, 4L, "")))
  }

  test("multi-length purge: thresholds make levels independent") {
    import spark.implicits._
    // "p q r s" repeats twice → BELOW the w=4 support threshold (5), so
    // it survives; the 8-word run repeats twice → AT the w=8 threshold
    // (2), so doc 4's copy goes. A single w=4 purge at count>=2 would
    // have stripped doc 2's phrase — the differential the per-level
    // thresholds exist for.
    val docs = Seq(
      (1L, "p q r s a1 a2 a3 a4"),
      (2L, "b1 p q r s b2 b3 b4"),
      (3L, "m1 m2 m3 m4 m5 m6 m7 m8 tail3"),
      (4L, "head4 m1 m2 m3 m4 m5 m6 m7 m8"),
      (5L, "five words only in here")).toDF("doc_id", "text")
    val got = TextDedup.purgeDuplicateSubstringsMulti(docs, "doc_id", "text",
        windows = Seq((4, 5L), (8, 2L)), keepFirst = true)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(2L) == ((8L, 0L, "b1 p q r s b2 b3 b4")), s"${got(2L)}")
    assert(got(3L) == ((9L, 0L, "m1 m2 m3 m4 m5 m6 m7 m8 tail3")))
    assert(got(4L) == ((9L, 8L, "head4")), s"${got(4L)}")
    // shorter than the w=8 level: only the w=4 level sees it, untouched
    assert(got(5L) == ((5L, 0L, "five words only in here")))
    // and the single-w baseline WOULD strip doc 2's phrase
    val single = TextDedup.purgeDuplicateSubstrings(docs, "doc_id", "text",
        windowWords = 4, keepFirst = true)
      .filter(col("doc_id") === 2L).collect().head.getLong(2)
    assert(single == 4L)
  }

  test("multi-length purge: one scan, same exchange count as single-length") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    val single = plan(TextDedup.purgeDuplicateSubstrings(docs, "doc_id",
      "text", windowWords = 4))
    val multi = plan(TextDedup.purgeDuplicateSubstringsMulti(docs, "doc_id",
      "text", windows = Seq((4, 5L), (8, 2L), (12, 2L))))
    def exchanges(p: String) = "Exchange".r.findAllIn(p).length
    assert(exchanges(multi) <= exchanges(single),
      s"multi=${exchanges(multi)} single=${exchanges(single)}")
    // the three levels flatten into ONE Generate over one window stream
    assert("Generate".r.findAllIn(multi).length ==
      "Generate".r.findAllIn(single).length)
  }

  test("bloom filter has no false negatives and unions by plain UNION") {
    import spark.implicits._
    val a = Seq("k1", "k2", "k3").toDF("k")
    val b = Seq("k4", "k5").toDF("k")
    val bits = 1 << 20
    val ba = Sketches.bloomBuild(a, "k", bits, 4)
    val bb = Sketches.bloomBuild(b, "k", bits, 4)
    val merged = ba.union(bb).distinct()
    val probes = Seq("k1", "k2", "k3", "k4", "k5", "absent-key").toDF("k")
    val got = Sketches.bloomMightContain(merged, probes, "k", bits, 4)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    // every indexed key must hit (no false negatives)
    (1 to 5).foreach(i => assert(got(s"k$i"), s"k$i missing"))
    // 5 keys in 2^20 bits: this particular probe provably misses
    assert(!got("absent-key"))
    // merged filter == filter built over the union of the key sets
    val direct = Sketches.bloomBuild(a.union(b), "k", bits, 4)
    assert(merged.except(direct).count() == 0 && direct.except(merged).count() == 0)
  }

  test("bloom probe tolerates duplicate probe keys") {
    import spark.implicits._
    val bl = Sketches.bloomBuild(Seq("x").toDF("k"), "k", 1 << 16, 4)
    val got = Sketches.bloomMightContain(bl,
        Seq("x", "x", "y", "y").toDF("k"), "k", 1 << 16, 4)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got("x") && !got("y"))
  }

  test("shingle_md5s kernel equals the SQL md5(concat_ws) fold") {
    import spark.implicits._
    val docs = Seq(
      "one two three four five six",
      "a b",                // shorter than the window
      "",                   // empty text
      "x y z x y z x y z",  // repeats
      "unicode ünïcödé mixé tokens here").toDF("text")
    val wsa = col("__ws")
    val viaSql = docs.select(col("text"), split(col("text"), " ").as("__ws"))
      .select(col("text"),
        when(size(wsa) >= 4,
          transform(sequence(lit(0), size(wsa) - 4),
            i => md5(concat_ws(" ",
              (0 until 4).map(j => element_at(wsa, i + j + 1)): _*))))
          .otherwise(array()).as("h"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val viaKernel = docs
      .select(col("text"), graft.functions.ShingleMd5s(col("text"), 4).as("h"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(viaKernel == viaSql)
  }

  test("inline bloom membership equals the join form bit-for-bit") {
    import spark.implicits._
    val bits = 1 << 16
    val keys = (0 until 200).map(i => s"key-$i").toDF("k")
    val bl = Sketches.bloomBuild(keys, "k", bits, 4)
    val packed = Sketches.packBits(bl, bits)
    val probes = ((0 until 200 by 3).map(i => s"key-$i") ++
      (0 until 50).map(i => s"other-$i")).toDF("k")
    val joinForm = Sketches.bloomMightContain(bl, probes, "k", bits, 4)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    val inlineForm = probes
      .select(col("k"), Sketches.mightContainInline(col("k"), packed, bits, 4)
        .as("m"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(inlineForm == joinForm)
    // and every indexed probe is present in both
    (0 until 200 by 3).foreach(i => assert(inlineForm(s"key-$i")))
  }

  test("dup gram fraction: unique, identical, and short docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),     // 2 trigrams, both shared with doc 2
      (2L, "alpha beta gamma delta"),
      (3L, "unique words only here now"), // 3 trigrams, none shared
      (4L, "so")).toDF("doc_id", "text")  // < 3 words
    val got = TextDedup.dupGramFraction(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) == ((2L, 1.0)) && got(2L) == ((2L, 1.0)))
    assert(got(3L) == ((3L, 0.0)))
    assert(got(4L) == ((0L, 0.0)))
  }

  test("PMI ranks an exclusive pair above a promiscuous one") {
    import spark.implicits._
    // "left right": both sides exclusive. "the target": same count but
    // "the" also precedes w$i, so L(the) doubles and the PMI drops.
    // Hapax pairs (the, w$i) fall to minCount.
    val docs = Seq.tabulate(6)(i =>
      (i.toLong, s"left right the target the w$i"))
      .toDF("doc_id", "text")
    val got = TextQuality.pmiCollocations(docs, "text", minCount = 5, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(got.size == 4) // hapax (the, w_i) dropped
    assert(got(("left", "right")) > got(("the", "target")))
    // closed form: N=30; pmi(left,right)=ln(6*30/36), pmi(the,target)=ln(6*30/72)
    assert(math.abs(got(("left", "right")) - math.log(30.0 / 6)) < 1e-8)
    assert(math.abs(got(("the", "target")) - math.log(30.0 / 12)) < 1e-8)
  }

  test("PMI matches the closed form on a hand corpus") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b a b a b a b")).toDF("doc_id", "text")
    // bigram stream: (a,b)x5, (b,a)x4 → N=9; L(a)=R(b)=5, L(b)=R(a)=4
    val got = TextQuality.pmiCollocations(docs, "text", minCount = 1, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(math.abs(got(("a", "b")) - math.log(5.0 * 9 / 25)) < 1e-8)
    assert(math.abs(got(("b", "a")) - math.log(4.0 * 9 / 16)) < 1e-8)
  }

  test("zipf slope recovers an exact power law") {
    import spark.implicits._
    // counts 8,4,2,1 over ranks 1..4 → ln y = ln 8 − (ln 2 / ln ?) … the
    // four (ln rank, ln count) points are NOT collinear; instead verify
    // against the closed-form least squares computed here.
    val words = Seq.fill(8)("w1") ++ Seq.fill(4)("w2") ++ Seq.fill(2)("w3") ++ Seq("w4")
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val pts = Seq(8, 4, 2, 1).zipWithIndex.map { case (c, i) =>
      (math.log(i + 1.0), math.log(c.toDouble)) }
    val n = pts.size
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val r = TextQuality.zipfSlope(docs, "text", topN = 10).collect()(0)
    assert(r.getLong(0) == 4L)
    assert(math.abs(r.getDouble(1) - slope) < 1e-8)
  }

  test("epoch mixture replicates per the recipe, deterministically") {
    import spark.implicits._
    val docs = (0L until 300L).map(i => (i, s"g${i % 3}")).toDF("doc_id", "g")
    val out = TextQuality.epochMixture(docs, "doc_id", "g",
        Map("g0" -> 2.0, "g1" -> 2.5, "g2" -> 0.0))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val byDoc = out.groupBy(_._1).view.mapValues(_.length).toMap
    // g0: exactly 2 copies each; g2: dropped entirely
    (0L until 300L by 3).foreach(i => assert(byDoc(i) == 2, s"doc $i"))
    (2L until 300L by 3).foreach(i => assert(!byDoc.contains(i), s"doc $i"))
    // g1: 2 or 3 copies, roughly half each (loose binomial bounds on 100)
    val g1 = (1L until 300L by 3).map(i => byDoc(i))
    assert(g1.forall(n => n == 2 || n == 3))
    val thirds = g1.count(_ == 3)
    assert(thirds > 20 && thirds < 80, s"fractional epoch picked $thirds/100")
    // epoch indices are 1..n per doc
    assert(out.filter(_._1 == 0L).map(_._3).sorted.toSeq == Seq(1, 2))
    // deterministic: a second evaluation is identical
    val again = TextQuality.epochMixture(docs, "doc_id", "g",
        Map("g0" -> 2.0, "g1" -> 2.5, "g2" -> 0.0))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(out.sorted.toSeq == again.sorted.toSeq)
  }

  test("rendezvous sharding is stable under shard growth") {
    import spark.implicits._
    import graft.operators.Packing
    val ids = (0L until 2000L).toDF("doc_id")
    val both = Packing.rendezvousShard(
        Packing.rendezvousShard(ids, "doc_id", 8, "s8"), "doc_id", 9, "s9")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // no row relocates between existing shards: a changed assignment
    // always lands on the NEW shard
    both.foreach { case (id, s8, s9) =>
      assert(s8 == s9 || s9 == 8, s"doc $id moved $s8 -> $s9 (not the new shard)")
    }
    // roughly 1/9 of rows move (binomial: generous 3x bounds)
    val moved = both.count { case (_, s8, s9) => s8 != s9 }
    assert(moved > 2000 / 27 && moved < 2000 / 3, s"moved=$moved")
    // every shard is populated
    assert(both.map(_._2).distinct.sorted.toSeq == (0 until 8))
  }

  test("N-way leakage-safe split keeps clusters whole and nests with binary") {
    val docs = Tables.documents(spark, sfDir)
    val three = TextDedup.leakageSafeSplitN(docs, "doc_id", "text",
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // every cluster maps to exactly one split label
    three.groupBy(_._2).foreach { case (cl, rows) =>
      assert(rows.map(_._3).distinct.length == 1, s"cluster $cl straddles")
    }
    assert(three.map(_._3).distinct.toSet.subsetOf(Set("train", "valid", "test")))
    // the binary split is the 2-entry case: identical train membership
    // (same hash, same 0.8 threshold)
    val two = TextDedup.leakageSafeSplit(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    three.foreach { case (id, _, s) =>
      assert((s == "train") == (two(id) == "train"), s"doc $id diverges")
    }
  }

  test("snapshot diff classifies added/removed/changed/unchanged") {
    import spark.implicits._
    val oldS = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val newS = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("doc_id", "text")
    val got = TextQuality.snapshotDiff(oldS, newS, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("new operators survive an empty corpus") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextDedup.purgeDuplicateSubstrings(empty, "doc_id", "text", 4).count() == 0)
    assert(TextDedup.dupGramFraction(empty, "doc_id", "text", 3).count() == 0)
    assert(TextQuality.pmiCollocations(empty, "text", 1, 10).count() == 0)
    assert(TextQuality.epochMixture(empty, "doc_id", "text",
      Map("x" -> 2.0)).count() == 0)
    // zipf on an empty corpus: one row, no words considered, null fit
    val z = TextQuality.zipfSlope(empty, "text", 10).collect()
    assert(z.length == 1 && z(0).getLong(0) == 0L && z(0).isNullAt(1))
    // bloom built over nothing rejects everything
    val bl = graft.operators.Sketches.bloomBuild(empty.select(col("text").as("k")),
      "k", 1 << 10, 4)
    val got = graft.operators.Sketches.bloomMightContain(bl,
        Seq("x").toDF("k"), "k", 1 << 10, 4)
      .collect().map(r => r.getBoolean(1))
    assert(got.toSeq == Seq(false))
  }

  test("cluster collapse keeps the highest-scoring member") {
    import spark.implicits._
    val base = "q w e r t y u i o p a s d f g h j k l z"
    val docs = Seq(
      (1L, base, 10L),                 // near-identical trio
      (2L, base + " x", 99L),          // best score → kept
      (3L, base, 10L),
      (9L, "totally different words here for a singleton doc", 5L))
      .toDF("doc_id", "text", "score")
    val got = TextDedup.collapseKeepBest(docs, "doc_id", "text", "score",
        threshold = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(got(1L) == ((1L, 3L, false)))
    assert(got(2L) == ((1L, 3L, true)))
    assert(got(3L) == ((1L, 3L, false)))
    assert(got(9L) == ((9L, 1L, true)))
  }
}
