package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Dsir, Packing, QualityModel, Retrieval, Similarity}

/** Data-selection / retrieval operators: BM25 vs a local reference
  * implementation, DSIR weight ordering, LR training differential vs a
  * driver-side replay, PQ reconstruction identities, and shard-manifest
  * invariants.
  */
class SelectOpsSpec extends SparkSpec {

  private def docsDf(rows: Seq[(Long, String)]) =
    spark.createDataFrame(rows).toDF("doc_id", "text")

  // ---- BM25 -----------------------------------------------------------

  test("bm25TopK matches a local reference implementation") {
    val corpus = Seq(
      0L -> "apple banana cherry apple",
      1L -> "banana banana date",
      2L -> "cherry date elderberry fig grape",
      3L -> "apple apple apple banana",
      4L -> "fig grape")
    val queries = Seq((10L, "apple"), (10L, "banana"), (11L, "fig"))
    val out = Retrieval.bm25TopK(docsDf(corpus), "doc_id", "text",
        spark.createDataFrame(queries).toDF("query_id", "term"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    // local Okapi BM25 with the same k1/b
    val (k1, b) = (1.2, 0.75)
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val n = corpus.size.toDouble
    val avgdl = toks.values.map(_.size).sum / n
    def score(qts: Seq[String], d: Long): Double = qts.map { t =>
      val tf = toks(d).count(_ == t).toDouble
      if (tf == 0) 0.0
      else {
        val df = toks.values.count(_.contains(t)).toDouble
        val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * toks(d).size / avgdl))
      }
    }.sum
    val expected = for {
      (qid, qts) <- Seq(10L -> Seq("apple", "banana"), 11L -> Seq("fig"))
      d <- corpus.map(_._1) if score(qts, d) > 0
    } yield (qid, d) -> score(qts, d)
    val expTop: Map[(Long, Long), Double] =
      expected.groupBy(_._1._1).toSeq.flatMap { case (_, xs) =>
        xs.sortBy { case ((_, d), s) => (-s, d) }.take(3)
      }.toMap
    assert(out.keySet === expTop.keySet)
    expTop.foreach { case (k, s) => assert(math.abs(out(k) - s) < 1e-12, s"$k") }
  }

  test("bm25TopK with no matching terms returns no rows") {
    val corpus = docsDf(Seq(0L -> "alpha beta", 1L -> "gamma"))
    val queries = spark.createDataFrame(Seq((9L, "zzz"))).toDF("query_id", "term")
    assert(Retrieval.bm25TopK(corpus, "doc_id", "text", queries, k = 5).count() === 0)
  }

  // ---- DSIR -----------------------------------------------------------

  test("DSIR weights rank target-like raw docs above off-target docs") {
    // target speaks {red green blue}; raw pool has one doc in the target
    // vocabulary and one in a disjoint vocabulary
    val docs = docsDf(Seq(
      0L -> "red green blue red green",
      1L -> "green blue red blue",
      2L -> "red blue green red",
      10L -> "red green blue green red",       // target-like raw doc
      11L -> "xylophone quartz vortex jumble")) // off-target raw doc
    val w = Dsir.importanceWeights(docs, "doc_id", "text",
        col("doc_id") < 10, buckets = 256)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w.keySet === Set(10L, 11L))
    assert(w(10L) > w(11L), s"expected target-like > off-target: $w")
  }

  test("gumbelTopK is deterministic and returns k rows") {
    val docs = docsDf((0L until 30L).map(i => i -> s"tok$i common word"))
    val w = Dsir.importanceWeights(docs, "doc_id", "text",
      col("doc_id") < 5, buckets = 128)
    val a = Dsir.gumbelTopK(w, "doc_id", "weight", 7).collect().map(_.getLong(0)).toSeq
    val b = Dsir.gumbelTopK(w, "doc_id", "weight", 7).collect().map(_.getLong(0)).toSeq
    assert(a.size === 7)
    assert(a === b)
  }

  test("DSIR single-word docs produce no bigrams and still score") {
    val docs = docsDf(Seq(0L -> "hello", 1L -> "hello", 2L -> "world"))
    val w = Dsir.importanceWeights(docs, "doc_id", "text",
      col("doc_id") === 0, buckets = 64)
    assert(w.count() === 2)
  }

  // ---- quality classifier --------------------------------------------

  test("trainLogReg matches a driver-side replay of the same arithmetic") {
    val docs = docsDf(Seq(
      0L -> "good fine great good",
      1L -> "great good nice",
      2L -> "bad awful bad poor",
      3L -> "poor bad dismal",
      4L -> "good bad fine poor"))
    val feats = QualityModel.hashedFeatures(docs, "doc_id", "text", buckets = 64)
    val labels = spark.createDataFrame(Seq(
      (0L, 1.0), (1L, 1.0), (2L, 0.0), (3L, 0.0), (4L, 1.0))).toDF("doc_id", "y")
    val model = QualityModel.trainLogReg(spark, feats, labels, buckets = 64,
      iters = 2, lr = 1.0)

    // replay on the driver from the collected feature matrix
    val f = feats.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def r9(v: Double) = BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def replay(y: Map[Long, Double]): (Map[Long, Double], Double) = {
      val n = y.size.toDouble
      var w = Map.empty[Long, Double]; var bias = 0.0
      for (_ <- 0 until 2) {
        val s = f.groupBy(_._1).map { case (d, xs) =>
          d -> r9(xs.map { case (_, b, x) => x * w.getOrElse(b, 0.0) }.sum + bias)
        }
        val delta = y.keys.map(d => d -> (1.0 / (1.0 + math.exp(-s(d))) - y(d))).toMap
        val grad = f.groupBy(_._2).map { case (b, xs) =>
          b -> xs.map { case (d, _, x) => x * delta(d) }.sum
        }
        w = grad.map { case (b, g) => b -> r9(w.getOrElse(b, 0.0) - g / n) }
        bias = r9(bias - delta.values.sum / n)
      }
      (w, bias)
    }
    def check(model: QualityModel.Model, y: Map[Long, Double], what: String): Unit = {
      val (w, bias) = replay(y)
      assert(model.bias === bias, what)
      assert(model.weights.keySet === w.keySet, what)
      w.foreach { case (b, v) =>
        assert(math.abs(model.weights(b) - v) < 1e-12, s"$what: bucket $b") }
    }
    val y = Map(0L -> 1.0, 1L -> 1.0, 2L -> 0.0, 3L -> 0.0, 4L -> 1.0)
    check(model, y, "trainLogReg")

    // the same arithmetic over a pin spread across 3 partitions, for the
    // binary trainer and a K = 3 multi trainer (one model per class)
    val cls = Map(0L -> "a", 1L -> "b", 2L -> "c", 3L -> "a", 4L -> "b")
    val pinned = QualityModel.pinLabeledFeatures(feats,
      labels.join(spark.createDataFrame(cls.toSeq).toDF("doc_id", "label"), "doc_id"))
      .repartition(3).localCheckpoint()
    assert(pinned.rdd.getNumPartitions === 3)
    check(QualityModel.trainLogRegPinned(pinned, 64, iters = 2, lr = 1.0), y,
      "3-partition binary")
    val multi = QualityModel.trainLogRegMultiPinned(pinned, Seq("a", "b", "c"), 64,
      iters = 2, lr = 1.0)
    for (c <- Seq("a", "b", "c"))
      check(multi(c), cls.map { case (d, l) => d -> (if (l == c) 1.0 else 0.0) },
        s"3-partition multi, class $c")
  }

  test("trained classifier separates linearly separable classes") {
    val good = (0L until 10L).map(i => i -> "excellent wonderful clear precise prose")
    val bad = (10L until 20L).map(i => i -> "spam garbage click buy now cheap")
    val docs = docsDf(good ++ bad)
    val feats = QualityModel.hashedFeatures(docs, "doc_id", "text", 128)
    val labels = docs.select(col("doc_id"),
      when(col("doc_id") < 10, lit(1.0)).otherwise(lit(0.0)).as("y"))
    val model = QualityModel.trainLogReg(spark, feats, labels, 128, iters = 5, lr = 2.0)
    val scores = QualityModel.classify(spark, feats, model)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val worstGood = (0L until 10L).map(scores).min
    val bestBad = (10L until 20L).map(scores).max
    assert(worstGood > bestBad,
      s"classes not separated: min(good)=$worstGood max(bad)=$bestBad")
  }

  // ---- product quantization ------------------------------------------

  private def embDf(rows: Seq[(Long, Seq[Float])]) = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v) => Row(id, v) }),
      schema)
  }

  private def vec(seed: Int, dim: Int): Seq[Float] =
    (0 until dim).map(d => (((seed * 31 + d) * 2654435761L % 1000) / 500.0f) - 1.0f)

  test("pqCodes emits m codes in [0, ks)") {
    val corpus = embDf((0L until 12L).map(i => i -> vec(i.toInt, 8)))
    val cb = Similarity.pqCodebook(corpus, ks = 4)
    val codes = corpus.select(
        Similarity.pqCodes(col("embedding"), cb, m = 2, subDim = 4).as("codes"))
      .collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == 2 && c.forall(x => x >= 0 && x < 4)))
  }

  test("pqTopK equals exact cosine when the corpus is its own codebook") {
    // ks >= corpus size: every vector reconstructs to itself exactly
    val corpus = embDf((0L until 6L).map(i => i -> vec(i.toInt, 8)))
    val queries = corpus.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val exact = Similarity.cosineTopK(queries, corpus, k = 3)
      .select("query_id", "vec_id", "c").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pq = Similarity.pqTopK(queries, corpus, dim = 8, m = 2, ks = 6, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pq.keySet === exact.keySet)
    pq.foreach { case (k, c) => assert(math.abs(c - exact(k)) < 1e-12, s"$k") }
  }

  test("pqTopK finds cluster mates on well-separated clusters") {
    // two tight clusters around orthogonal prototypes
    val a = Seq.fill(8)(1.0f) ++ Seq.fill(8)(0.0f)
    val b = Seq.fill(8)(0.0f) ++ Seq.fill(8)(1.0f)
    def jitter(base: Seq[Float], seed: Int): Seq[Float] =
      base.zipWithIndex.map { case (v, i) => v + ((seed * 7 + i) % 5) * 0.01f }
    val rows = (0L until 10L).map(i => i -> jitter(if (i < 5) a else b, i.toInt))
    val corpus = embDf(rows)
    val queries = corpus.filter(col("vec_id") === 0 || col("vec_id") === 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val top = Similarity.pqTopK(queries, corpus, dim = 16, m = 4, ks = 4, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val mates0 = top.filter(_._1 == 0L).map(_._2).toSet
    val mates5 = top.filter(_._1 == 5L).map(_._2).toSet
    assert(mates0.forall(_ < 5), s"query 0 leaked across clusters: $mates0")
    assert(mates5.forall(_ >= 5), s"query 5 leaked across clusters: $mates5")
  }

  test("rpProject is linear and rpTopK preserves well-separated clusters") {
    val a: Seq[Float] = Seq.fill(32)(1.0f) ++ Seq.fill(32)(0.0f)
    val b: Seq[Float] = Seq.fill(32)(0.0f) ++ Seq.fill(32)(1.0f)
    def jit(base: Seq[Float], s: Int): Seq[Float] =
      base.zipWithIndex.map { case (x, i) => x + ((s * 13 + i) % 7) * 0.01f }
    val corpus = embDf((0L until 10L).map(i => i -> jit(if (i < 5) a else b, i.toInt)))
    // linearity: rp(2x) == 2*rp(x) (exact: scalar pulls through the fold)
    val one = embDf(Seq(0L -> a))
    val twice = embDf(Seq(0L -> a.map(_ * 2.0f)))
    val p1 = one.select(Similarity.rpProject(col("embedding"), 64, 16))
      .head().getSeq[Double](0)
    val p2 = twice.select(Similarity.rpProject(col("embedding"), 64, 16))
      .head().getSeq[Double](0)
    p1.zip(p2).foreach { case (x, y) => assert(math.abs(y - 2 * x) < 1e-9) }
    // cluster preservation in the reduced space
    val queries = corpus.filter(col("vec_id") === 0 || col("vec_id") === 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val top = Similarity.rpTopK(queries, corpus, dim = 64, outDim = 16, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(top.filter(_._1 == 0L).forall(_._2 < 5), s"${top.toSeq}")
    assert(top.filter(_._1 == 5L).forall(_._2 >= 5), s"${top.toSeq}")
  }

  test("vocabDrift: identical slices give zero KL, disjoint vocab a large one") {
    import graft.operators.TextQuality
    // identical text on both sides: p == q bucket-for-bucket → KL == 0
    val same = docsDf((0L until 20L).map(i => i -> "alpha beta gamma delta"))
    val z = TextQuality.vocabDrift(same, "doc_id", "text",
      isNew = col("doc_id") >= 10, buckets = 256).collect()
    assert(z.forall(_.getDouble(4) === 0.0), s"KL != 0 on identical slices")
    assert(z.forall(_.getDouble(3) === 0.0))
    // disjoint vocabularies drift hard
    val drift = docsDf(
      (0L until 10L).map(i => i -> "alpha beta gamma delta") ++
        (10L until 20L).map(i => i -> "omega psi chi phi"))
    val d = TextQuality.vocabDrift(drift, "doc_id", "text",
      isNew = col("doc_id") >= 10, buckets = 256).collect()
    // add-1 smoothing over 256 buckets damps 4-word vocabularies; the
    // observed value is ~0.32 — assert it clearly dominates the 0 case
    assert(d.head.getDouble(4) > 0.2, s"KL ${d.head.getDouble(4)} too small")
    // top rows are the baseline-only buckets (c_new = 0)
    assert(d.take(4).forall(r => r.getLong(2) === 0L))
  }

  test("jaccardTopK matches set-arithmetic Jaccard and excludes self") {
    import graft.operators.Retrieval
    val corpus = docsDf(Seq(
      0L -> "a b c d e",        // query: shingles {abc, bcd, cde}
      1L -> "a b c d e",        // identical → jaccard 1
      2L -> "a b c d x",        // shares {abc, bcd} of union 4 → 0.5
      3L -> "a b c x y",        // shares {abc} of union 5 → 0.2
      4L -> "p q r s t"))       // disjoint → absent
    val queries = corpus.filter(col("doc_id") === 0L)
      .select(col("doc_id").as("query_id"), col("text"))
    val got = Retrieval.jaccardTopK(corpus, "doc_id", "text", queries,
        n = 3, k = 10)
      .select("doc_id", "jaccard", "rn").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(got == Seq((1L, 1.0, 1), (2L, 0.5, 2), (3L, 0.2, 3)), s"$got")
  }

  test("calibration buckets by predicted probability with exact fractions") {
    import spark.implicits._
    import graft.operators.QualityModel
    val scored = Seq((0L, 0.05), (1L, 0.08), (2L, 0.95), (3L, 0.97),
      (4L, 1.0)).toDF("doc_id", "quality")
    val labels = Seq((0L, 0.0), (1L, 1.0), (2L, 1.0), (3L, 1.0), (4L, 1.0))
      .toDF("doc_id", "y")
    val got = QualityModel.calibration(scored, labels, buckets = 10)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // quality 1.0 clamps into the top bucket (least(floor(10), 9) = 9)
    assert(got == Map(
      0 -> ((2L, 0.5, 0.05)),
      9 -> ((3L, 1.0, 0.95))), s"$got")
  }

  test("new round-12 ops tolerate null and empty text rows") {
    import graft.operators.{Analytics, Retrieval, TextQuality}
    val docs = spark.createDataFrame(Seq(
      (0L, Some("alpha beta gamma"), Some("en"), Some("s1")),
      (1L, None: Option[String], Some("en"), Some("s1")),
      (2L, Some(""), None: Option[String], None: Option[String]),
      (3L, Some("alpha beta gamma delta"), Some("de"), Some("s2"))))
      .toDF("doc_id", "text", "lang", "source")
    // jaccardTopK: null/short docs simply produce no shingles → absent
    val q = docs.filter(col("doc_id") === 0L)
      .select(col("doc_id").as("query_id"), col("text"))
    val knn = Retrieval.jaccardTopK(docs, "doc_id", "text", q, n = 3, k = 5)
      .collect()
    assert(knn.map(_.getLong(1)).toSet == Set(3L), s"${knn.toSeq}")
    // oovReport: null text contributes no tokens; empty text one token
    val oov = TextQuality.oovReport(docs, "doc_id", "text", "source",
      vocabSize = 2).collect()
    assert(oov.nonEmpty)
    // dataCard: runs through nulls (null text drops from sums via
    // count semantics) without throwing
    val card = Analytics.dataCard(docs, "text", "lang", "en", "source")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(card("n_docs") == 4.0)
    // curriculumOrder over a null difficulty row keeps the row (null
    // difficulty → stage of the when/otherwise chain) without NPE
    val cur = TextQuality.curriculumOrder(
      docs.withColumn("diff", length(col("text"))), "doc_id", "diff",
      stages = 2, batchRows = 2L).collect()
    assert(cur.length == 4, s"${cur.toSeq}")
  }

  test("jaccardTopK is invariant to corpus partitioning") {
    import graft.operators.Retrieval
    val rows = (0L until 25L).map(i =>
      i -> s"w${i % 5} w${(i + 1) % 5} w${(i + 2) % 5} w${(i * 3) % 7} end")
    val queries = docsDf(rows.take(2))
      .select(col("doc_id").as("query_id"), col("text"))
    def run(c: org.apache.spark.sql.DataFrame) =
      Retrieval.jaccardTopK(c, "doc_id", "text", queries, n = 2, k = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).sortBy(t => (t._1, t._4)).toSeq
    assert(run(docsDf(rows).repartition(1)) == run(docsDf(rows).repartition(11)))
  }

  test("rrfFuse sums 1/(c+rank) across lists and ranks deterministically") {
    def ranked(rows: Seq[(Long, Long, Int)]) =
      spark.createDataFrame(rows).toDF("query_id", "doc_id", "rn")
    // list A ranks docs (1,2,3); list B ranks (3,2,9) for the same query
    val a = ranked(Seq((7L, 1L, 1), (7L, 2L, 2), (7L, 3L, 3)))
    val b = ranked(Seq((7L, 3L, 1), (7L, 2L, 2), (7L, 9L, 3)))
    val out = Retrieval.rrfFuse(Seq(a, b), k = 4, c = 60.0)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(_._3)
    def w(r: Int) = 1.0 / (60.0 + r)
    // doc 3: ranks 3+1; doc 2: 2+2 (equal score — doc_id tie-break);
    // docs 1 and 9: single-list hits
    assert(out.map(_._1).toSeq == Seq(3L, 2L, 1L, 9L))
    assert(out(0)._2 == w(3) + w(1))
    assert(out(1)._2 == w(2) + w(2))
    assert(out(2)._2 == w(1) && out(3)._2 == w(3))
    assert(out.map(_._3).toSeq == Seq(1, 2, 3, 4))
  }

  test("rrfFuse with one list preserves that list's order, re-scored") {
    val a = spark.createDataFrame(Seq((1L, 10L, 1), (1L, 11L, 2)))
      .toDF("query_id", "doc_id", "rn")
    val out = Retrieval.rrfFuse(Seq(a), k = 5)
      .collect().map(r => (r.getLong(1), r.getInt(3))).sortBy(_._2)
    assert(out.toSeq == Seq(10L -> 1, 11L -> 2))
  }

  test("oovReport counts exactly the tokens outside the top-N vocabulary") {
    import graft.operators.TextQuality
    // "common" appears 4x (in vocab at N=2), "shared" 3x (in vocab),
    // rare tokens once each (OOV at N=2)
    val docs = spark.createDataFrame(Seq(
      (0L, "common shared rare1", "a"),
      (1L, "common shared rare2", "a"),
      (2L, "common shared", "b"),
      (3L, "common unique3", "b")))
      .toDF("doc_id", "text", "source")
    val got = TextQuality.oovReport(docs, "doc_id", "text", "source",
        vocabSize = 2).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // source a: 6 tokens, rare1+rare2 OOV; source b: 4 tokens, unique3 OOV
    assert(got == Map(
      "a" -> ((2L, 6L, 2L, 2.0 / 6.0)),
      "b" -> ((2L, 4L, 1L, 1.0 / 4.0))))
  }

  test("oovReport vocab boundary ties break by token, not hash order") {
    import graft.operators.TextQuality
    // all tokens count 1: top-2 vocab must be the lexicographically
    // first two ("aa", "bb"); "cc" and "dd" are OOV
    val docs = spark.createDataFrame(Seq((0L, "dd cc bb aa", "s")))
      .toDF("doc_id", "text", "source")
    val got = TextQuality.oovReport(docs, "doc_id", "text", "source",
      vocabSize = 2).collect()
    assert(got.head.getLong(3) === 2L, s"${got.toSeq}")
  }

  test("signCode packs sign bits exactly, including the two's-complement bit 63") {
    // dims 0,63 positive, rest negative → bits 0 and 63 set
    val v: Seq[Float] = 1.0f +: Seq.fill(62)(-1.0f) :+ 1.0f
    val corpus = embDf(Seq(42L -> v))
    val code = corpus.select(
      Similarity.signCode(col("embedding"), 64).as("c")).head().getLong(0)
    assert(code === (1L | Long.MinValue), f"code $code%x")
    // all-positive → all 64 bits set (-1)
    val allPos = embDf(Seq(1L -> Seq.fill[Float](64)(0.5f)))
    assert(allPos.select(Similarity.signCode(col("embedding"), 64))
      .head().getLong(0) === -1L)
  }

  test("hammingTopK ranks sign-identical vectors first") {
    // cluster A: positive first half; cluster B: positive second half
    val a: Seq[Float] = Seq.fill(32)(1.0f) ++ Seq.fill(32)(-1.0f)
    val b: Seq[Float] = Seq.fill(32)(-1.0f) ++ Seq.fill(32)(1.0f)
    def jit(base: Seq[Float], s: Int): Seq[Float] =
      base.zipWithIndex.map { case (x, i) => x * (1.0f + ((s + i) % 3) * 0.1f) }
    val corpus = embDf((0L until 8L).map(i =>
      i -> jit(if (i < 4) a else b, i.toInt)))
    val queries = corpus.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val top = Similarity.hammingTopK(queries, corpus, dim = 64, k = 3)
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    // jitter preserves signs: all of cluster A at distance 0
    assert(top.map(_._1).toSet === Set(1L, 2L, 3L), s"got ${top.toSeq}")
    assert(top.forall(_._2 === 0), s"distances ${top.toSeq}")
  }

  test("ivfPqTopK with nprobe = nlist equals plain pqTopK") {
    import graft.operators.Clustering
    val corpus = embDf((0L until 20L).map(i => i -> vec(i.toInt, 8)))
    val queries = corpus.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val pq = Similarity.pqTopK(queries, corpus, dim = 8, m = 2, ks = 4, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivfpq = Clustering.ivfPqTopK(queries, corpus, "vec_id", "embedding",
        nlist = 4, nprobe = 4, dim = 8, m = 2, ks = 4, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(ivfpq.keySet === pq.keySet)
    ivfpq.foreach { case (k, c) => assert(math.abs(c - pq(k)) < 1e-12, s"$k") }
  }

  test("ivfPqTopK probes restrict candidates to nprobe cells") {
    import graft.operators.Clustering
    // alternate cluster membership by id parity so the two seed cells
    // (ids 0 and 1) land in different clusters
    val a = Seq.fill(8)(1.0f) ++ Seq.fill(8)(0.0f)
    val b = Seq.fill(8)(0.0f) ++ Seq.fill(8)(1.0f)
    def jit(base: Seq[Float], s: Int): Seq[Float] =
      base.zipWithIndex.map { case (x, i) => x + ((s * 5 + i) % 4) * 0.01f }
    val corpus = embDf((0L until 12L).map(i =>
      i -> jit(if (i % 2 == 0) a else b, i.toInt)))
    val queries = corpus.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val top = Clustering.ivfPqTopK(queries, corpus, "vec_id", "embedding",
        nlist = 2, nprobe = 1, dim = 16, m = 4, ks = 6, k = 3)
      .collect().map(_.getLong(1))
    assert(top.nonEmpty && top.forall(_ % 2 == 0),
      s"probe leaked across cells: ${top.toSeq}")
  }

  test("kmeans-trained PQ codebook recall >= sampled codebook on clusters") {
    import graft.operators.Clustering
    // 4 tight clusters around orthogonal prototypes; the md5-rank sample
    // can draw its 4 codewords unevenly across clusters, the trained
    // codebook should recover one centroid per cluster per subspace
    val protos = Seq(
      Seq.fill(4)(1.0f) ++ Seq.fill(12)(0.0f),
      Seq.fill(4)(0.0f) ++ Seq.fill(4)(1.0f) ++ Seq.fill(8)(0.0f),
      Seq.fill(8)(0.0f) ++ Seq.fill(4)(1.0f) ++ Seq.fill(4)(0.0f),
      Seq.fill(12)(0.0f) ++ Seq.fill(4)(1.0f))
    def jit(base: Seq[Float], s: Int): Seq[Float] =
      base.zipWithIndex.map { case (v, i) => v + ((s * 17 + i * 3) % 7) * 0.02f }
    val corpus = embDf((0L until 40L).map(i =>
      i -> jit(protos((i % 4).toInt), i.toInt)))
    val queries = corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val exact = Similarity.cosineTopK(queries, corpus, k = 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(cb: Option[Array[Seq[Double]]]): Double = {
      val got = Similarity.pqTopK(queries, corpus, dim = 16, m = 4, ks = 4,
          k = 5, codebook = cb)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got intersect exact).size.toDouble / exact.size
    }
    val trained = Clustering.pqCodebookKmeans(corpus, ks = 4, m = 4,
      dim = 16, iters = 4)
    assert(trained.length == 4 && trained.forall(_.length == 16))
    val rTrained = recall(Some(trained))
    val rSampled = recall(None)
    assert(rTrained >= rSampled,
      s"trained codebook recall $rTrained < sampled $rSampled")
    assert(rTrained > 0.8, s"trained codebook recall $rTrained too low")
    // ivfPqTopK accepts the trained codebook too
    val ivf = Clustering.ivfPqTopK(queries, corpus, "vec_id", "embedding",
      nlist = 4, nprobe = 4, dim = 16, m = 4, ks = 4, k = 5,
      trainedCodebook = Some(trained))
    assert(ivf.count() > 0)
  }

  test("pqTopK rejects dim not divisible by m") {
    val corpus = embDf(Seq(0L -> vec(0, 9)))
    intercept[IllegalArgumentException] {
      Similarity.pqTopK(corpus.select(col("vec_id").as("query_id"),
        col("embedding").as("qv")), corpus, dim = 9, m = 2, ks = 1, k = 1)
    }
  }

  // ---- inline scoring -------------------------------------------------

  test("scoreInline agrees with classify within float association noise") {
    val docs = Tables.documents(spark, sfDir).limit(100)
    val feats = QualityModel.hashedFeatures(docs, "doc_id", "text", 256)
    val labels = docs.select(col("doc_id"),
      when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0)).as("y"))
    val model = QualityModel.trainLogReg(spark, feats, labels, 256, iters = 2)
    val byAgg = QualityModel.classify(spark, feats, model)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val byFold = docs.select(col("doc_id"),
        QualityModel.scoreInline(col("text"), model).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byAgg.keySet === byFold.keySet)
    byAgg.foreach { case (d, v) =>
      assert(math.abs(v - byFold(d)) < 1e-9, s"doc $d: $v vs ${byFold(d)}") }
  }

  // ---- perplexity buckets --------------------------------------------

  test("perplexityBuckets assigns per-group tertiles consistently") {
    import graft.operators.TextQuality
    val docs = Tables.documents(spark, sfDir)
    val out = TextQuality.perplexityBuckets(docs, "doc_id", "text", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    assert(out.nonEmpty)
    // per group: every head score >= every middle score >= every tail
    out.groupBy(_._2).foreach { case (lang, rows) =>
      val byB = rows.groupBy(_._4).view.mapValues(_.map(_._3)).toMap
      for (h <- byB.get("head"); m <- byB.get("middle"))
        assert(h.min >= m.max, s"$lang head/middle overlap")
      for (m <- byB.get("middle"); t <- byB.get("tail"))
        assert(m.min >= t.max, s"$lang middle/tail overlap")
      // tertiles: no bucket exceeds ~1/3 + interpolation slack
      val n = rows.size
      byB.values.foreach(b =>
        assert(b.size <= n / 3 + 2, s"$lang bucket sizes ${byB.view.mapValues(_.size).toMap}"))
    }
  }

  // ---- leakage-safe split --------------------------------------------

  test("leakageSafeSplit never puts near-duplicates on opposite sides") {
    import graft.operators.TextDedup
    val docs = Tables.documents(spark, sfDir)
    val split = TextDedup.leakageSafeSplit(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(split.size === docs.count())
    val pairs = TextDedup.nearDuplicates(docs, "doc_id", "text",
      shingleLen = 3, numHashes = 16, bandRows = 4, threshold = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture corpus lost its near-dup pairs")
    pairs.foreach { case (a, b) =>
      assert(split(a)._2 === split(b)._2, s"near-dups $a/$b straddle the split")
      assert(split(a)._1 === split(b)._1, s"near-dups $a/$b in different clusters")
    }
    // both sides populated at the default 80/20
    val sides = split.values.map(_._2).toSet
    assert(sides === Set("train", "valid"))
  }

  // ---- stupid-backoff trigram LM -------------------------------------

  test("stupidBackoffScore matches a driver reference across all backoff levels") {
    import graft.operators.TextQuality
    // training docs (ids 1,2) and one held-out doc (id 0) constructed so
    // its trigrams hit: seen-trigram, bigram-backoff, and unigram-floor
    val docs = docsDf(Seq(
      1L -> "a b c d a b c",
      2L -> "x y z a b",
      0L -> "a b c q x y zz"))
    val out = TextQuality.stupidBackoffScore(docs, "doc_id", "text",
        holdout = col("doc_id") === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length === 1)
    val (id, nTri, score) = out(0)
    assert(id === 0L && nTri === 5L)
    // driver replay
    val trainToks = Seq("a b c d a b c", "x y z a b").flatMap(_.split(" "))
    val f1 = trainToks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = trainToks.size.toDouble
    val v = f1.size.toDouble
    def pairs(s: Seq[String]) = s.sliding(2).filter(_.size == 2).map(x => (x(0), x(1))).toSeq
    def tris(s: Seq[String]) = s.sliding(3).filter(_.size == 3).map(x => (x(0), x(1), x(2))).toSeq
    val trainSeqs = Seq("a b c d a b c", "x y z a b").map(_.split(" ").toSeq)
    val f2 = trainSeqs.flatMap(pairs).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val f3 = trainSeqs.flatMap(tris).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val lps = tris("a b c q x y zz".split(" ").toSeq).map { case (a, b, c) =>
      if (f3.contains((a, b, c))) math.log(f3((a, b, c)).toDouble / f2((a, b)))
      else if (f2.contains((b, c))) math.log(0.4 * f2((b, c)) / f1(b))
      else math.log(0.4 * 0.4 * (f1.getOrElse(c, 0L) + 1) / (n + v))
    }
    val want = BigDecimal(lps.sum / lps.size)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(score - want) < 1e-9, s"$score vs $want")
    // sanity: the corpus exercises every branch
    val byBranch = tris("a b c q x y zz".split(" ").toSeq).map { case (a, b, c) =>
      if (f3.contains((a, b, c))) 0 else if (f2.contains((b, c))) 1 else 2 }
    assert(byBranch.toSet === Set(0, 1, 2), s"branches hit: $byBranch")
  }

  // ---- count-min sketch ----------------------------------------------

  test("count-min estimates dominate exact counts and merge by summation") {
    import graft.operators.Sketches
    val docs = Tables.documents(spark, sfDir).limit(80)
    val wc = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val sketch = Sketches.countMinBuild(wc, depth = 4, width = 256)
    // every cell bounded, sketch size bounded
    assert(sketch.count() <= 4L * 256)
    // CMS invariant: estimate >= exact for EVERY word
    val est = Sketches.countMinQuery(sketch, wc.select("w"), 4, 256)
      .join(wc, Seq("w")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(est.nonEmpty)
    est.foreach { case (w, e, c) => assert(e >= c, s"$w: est $e < exact $c") }
    // mergeability: sketch(A) + sketch(B) == sketch(A ∪ B), cell-wise
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)
    def cells(df: org.apache.spark.sql.DataFrame) = {
      val c = df.select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      Sketches.countMinBuild(c, 4, 256).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    }
    val merged = (cells(a).toSeq ++ cells(b).toSeq)
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(merged === cells(docs))
  }

  // ---- distributed BPE learning --------------------------------------

  test("learnDistributed equals the driver learner on the same corpus") {
    import graft.operators.Bpe
    val docs = Tables.documents(spark, sfDir).limit(40)
    val dist = Bpe.learnDistributed(docs, "text", numMerges = 24)
    val seed = docs.select("text").collect().map(_.getString(0)).mkString(" ")
    val local = Bpe.learn(seed, 24)
    assert(dist === local)
    assert(dist.size === 24)
  }

  // ---- shard manifest -------------------------------------------------

  test("shardManifest partitions ids contiguously and conserves totals") {
    val rows = (0L until 100L).map(i => (i, 10L + (i % 7) * 3L))
    val df = spark.createDataFrame(rows).toDF("doc_id", "n_tokens")
    val m = Packing.shardManifest(df, "doc_id", "n_tokens", shardTokens = 100L)
      .orderBy("shard_id").collect()
    assert(m.map(_.getLong(1)).sum === 100L)
    assert(m.map(_.getLong(2)).sum === rows.map(_._2).sum)
    // contiguous, ordered id ranges
    m.sliding(2).foreach {
      case Array(x, y) =>
        assert(x.getLong(4) + 1 === y.getLong(3),
          s"gap between shards ${x.getLong(0)} and ${y.getLong(0)}")
      case _ =>
    }
    // offset-cut: each doc's first token lands inside its shard
    val packed = Packing.packSequences(df, "doc_id", "n_tokens", 100L).collect()
    packed.foreach { r =>
      assert(r.getLong(2) / 100L === r.getLong(3)) // tok_offset / B == bin
    }
  }
}
