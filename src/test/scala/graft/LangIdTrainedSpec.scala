package graft

import org.apache.spark.sql.functions._
import graft.operators.QualityModel

/** The trained lang-ID stack (QualityModel.trainLogRegMulti +
  * scoreInline) against the stopword-list heuristic (q_lang_id's
  * shape): the heuristic is blind to any language whose function words
  * are not on its hand lists, while the trained model learns whatever
  * separates the classes. Also pins the fused multiclass trainer to
  * the binary trainer (K=1 must reproduce trainLogReg exactly — same
  * arithmetic, same quantization). */
class LangIdTrainedSpec extends SparkSpec {

  private val langs = Seq("aa", "bb", "cc", "dd")

  /** 40 docs/lang over per-lang vocabularies DISJOINT from any
    * stopword list ("zq<lang><k>" tokens), deterministic. */
  private def corpus = {
    import spark.implicits._
    (0 until 160).map { i =>
      val l = langs(i % 4)
      val words = (0 until 12).map(j => s"zq$l${(i * 7 + j * 13) % 6}")
      (i.toLong, l, words.mkString(" "))
    }.toDF("doc_id", "lang", "text")
  }

  test("trained one-vs-rest lang-ID beats the stopword heuristic off-list") {
    val syn = corpus
    val feats = QualityModel.hashedFeatures(syn, "doc_id", "text", 128)
    val models = QualityModel.trainLogRegMulti(spark, feats,
      syn.select(col("doc_id"), col("lang").as("label")), langs, 128,
      iters = 2, lr = 1.0)
    val scored = syn.select((col("doc_id") +: col("lang").as("actual") +:
      langs.map(l => QualityModel.scoreInline(col("text"), models(l))
        .as(s"s_$l"))): _*)
      .withColumn("pred",
        when(col("s_aa") >= col("s_bb") && col("s_aa") >= col("s_cc")
          && col("s_aa") >= col("s_dd"), "aa")
          .when(col("s_bb") >= col("s_cc") && col("s_bb") >= col("s_dd"), "bb")
          .when(col("s_cc") >= col("s_dd"), "cc")
          .otherwise("dd"))
    val trainedAcc = scored.filter(col("pred") === col("actual")).count()
      .toDouble / 160
    // stopword heuristic with the standard hand lists: every score is 0
    // on this vocabulary, so the fixed-tie-order argmax collapses to one
    // class — 25% accuracy by construction
    val lists = Seq(
      "aa" -> Seq("the", "a", "and", "of", "is"),
      "bb" -> Seq("der", "die", "das", "und"),
      "cc" -> Seq("el", "los", "las", "y"),
      "dd" -> Seq("le", "la", "et", "les"))
    val ws = split(col("text"), " ")
    val heur = syn.select((col("lang").as("actual") +:
      lists.map { case (l, wl) =>
        (size(filter(ws, w => wl.map(w === _).reduce(_ || _))) / size(ws))
          .as(s"s_$l")
      }): _*)
      .withColumn("pred",
        when(col("s_aa") >= col("s_bb") && col("s_aa") >= col("s_cc")
          && col("s_aa") >= col("s_dd"), "aa")
          .when(col("s_bb") >= col("s_cc") && col("s_bb") >= col("s_dd"), "bb")
          .when(col("s_cc") >= col("s_dd"), "cc")
          .otherwise("dd"))
    val heurAcc = heur.filter(col("pred") === col("actual")).count()
      .toDouble / 160
    assert(trainedAcc == 1.0, s"trained accuracy $trainedAcc")
    assert(heurAcc == 0.25, s"heuristic accuracy $heurAcc")
  }

  test("char-n-gram features generalize to unseen vocabulary where word features cannot") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    // each language = one characteristic syllable; train on words of
    // 2-4 repetitions, evaluate on 5-7 repetitions — every TEST word is
    // out-of-vocabulary, but its boundary-marked char 3-grams are all
    // seen in training (fastText's generalization argument)
    val syll = Map("aa" -> "ka", "bb" -> "bo", "cc" -> "mi", "dd" -> "tu")
    def mk(ids: Range, lo: Int): DataFrame = ids.map { i =>
      val l = langs(i % 4)
      (i.toLong, l,
        (0 until 8).map(j => syll(l) * (lo + (i + j) % 3)).mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val trainDf = mk(0 until 160, lo = 2)
    val testDf = mk(1000 until 1080, lo = 5)
    def accuracy(featsOf: DataFrame => DataFrame): Double = {
      val pinned = QualityModel.pinLabeledFeatures(featsOf(trainDf),
        trainDf.select(col("doc_id"), col("lang").as("label")))
      val models = QualityModel.trainLogRegMultiPinned(pinned,
        langs, 128, iters = 2, lr = 1.0)
      val scored = QualityModel.scoreMultiPinned(
        QualityModel.pinLabeledFeatures(featsOf(testDf),
          testDf.select(col("doc_id"), col("lang").as("label"))),
        langs.map(l => l -> models(l)))
        .withColumn("pred",
          when(col("s_aa") >= col("s_bb") && col("s_aa") >= col("s_cc")
            && col("s_aa") >= col("s_dd"), "aa")
            .when(col("s_bb") >= col("s_cc") && col("s_bb") >= col("s_dd"), "bb")
            .when(col("s_cc") >= col("s_dd"), "cc")
            .otherwise("dd"))
      scored.filter(col("pred") === col("label")).count().toDouble /
        testDf.count()
    }
    val wordAcc = accuracy(d =>
      QualityModel.hashedFeatures(d, "doc_id", "text", 128))
    val charAcc = accuracy(d =>
      QualityModel.hashedCharFeatures(d, "doc_id", "text", 128, n = 3))
    assert(charAcc == 1.0, s"char-gram accuracy $charAcc off-list")
    assert(charAcc > wordAcc,
      s"char $charAcc must beat word $wordAcc on unseen vocabulary")
  }

  test("fused multiclass trainer at K=1 reproduces the binary trainer") {
    val syn = corpus
    val feats = QualityModel.hashedFeatures(syn, "doc_id", "text", 64)
    val labels = syn.select(col("doc_id"), col("lang").as("label"))
    val multi = QualityModel.trainLogRegMulti(spark, feats, labels,
      Seq("aa"), 64, iters = 2, lr = 1.0)("aa")
    val binary = QualityModel.trainLogReg(spark, feats,
      syn.select(col("doc_id"),
        (col("lang") === "aa").cast("double").as("y")), 64,
      iters = 2, lr = 1.0)
    assert(multi.weights == binary.weights)
    assert(multi.bias == binary.bias)
    assert(multi.buckets == binary.buckets)
  }
}
