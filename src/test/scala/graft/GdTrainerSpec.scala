package graft

import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.QualityModel

/** The GD trainers' execution shape and preconditions: one map-only job
  * per iteration (the row count rides in the first), no shuffle, bucket
  * ids checked, and the null contract of the bucket-keyed `sum` they
  * replaced. */
class GdTrainerSpec extends SparkSpec {

  private val fxType = ArrayType(StructType(Seq(
    StructField("b", LongType), StructField("x", DoubleType))))

  /** A (doc_id, y, label, fx) pin from literal rows, materialized. */
  private def pin(rows: Seq[(Long, java.lang.Double, String, Seq[(Long, Double)])],
      parts: Int = 2): DataFrame = {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("y", DoubleType), StructField("label", StringType),
      StructField("fx", fxType)))
    val p = spark.createDataFrame(spark.sparkContext.parallelize(rows.map {
      case (d, y, l, fx) => Row(d, y, l, Option(fx).map(_.map(Row.fromTuple)).orNull)
    }, parts), schema).localCheckpoint()
    p.count()
    p
  }

  private def corpusPin = pin((0L until 24L).map { d =>
    (d, java.lang.Double.valueOf((d % 2).toDouble), Seq("a", "b", "c")((d % 3).toInt),
      (0L until 4L).map(j => ((d * 5 + j * 7) % 16, 0.25)).distinct.sortBy(_._1))
  }, parts = 3)

  private def jobs(ev: Seq[SparkListenerEvent]) =
    ev.count(_.isInstanceOf[SparkListenerJobStart])
  private def shuffleBytes(ev: Seq[SparkListenerEvent]) = ev.collect {
    case t: SparkListenerTaskEnd if t.taskMetrics != null =>
      t.taskMetrics.shuffleWriteMetrics.bytesWritten +
        t.taskMetrics.shuffleReadMetrics.totalBytesRead
  }.sum

  test("each GD iteration is one shuffle-free job; iters = 0 runs none") {
    val p = corpusPin
    for (k <- Seq(0, 1, 3)) {
      val (bin, binEv) = withEvents(QualityModel.trainLogRegPinned(p, 16, iters = k))
      assert(jobs(binEv) === k, s"binary, iters = $k")
      assert(shuffleBytes(binEv) === 0L, s"binary, iters = $k")
      val (multi, multiEv) = withEvents(QualityModel.trainLogRegMultiPinned(p,
        Seq("a", "b", "c"), 16, iters = k))
      assert(jobs(multiEv) === k, s"multi, iters = $k")
      assert(shuffleBytes(multiEv) === 0L, s"multi, iters = $k")
      if (k == 0) {
        assert(bin === QualityModel.Model(Map.empty, 0.0, 16))
        assert(multi.values.forall(_ === QualityModel.Model(Map.empty, 0.0, 16)))
      }
    }
  }

  test("a bucket id outside [0, buckets) fails the trainers, naming the id") {
    for (bad <- Seq(16L, -1L)) {
      val p = pin(Seq((0L, java.lang.Double.valueOf(1.0), "a", Seq(0L -> 0.5, bad -> 0.5))))
      val e1 = intercept[Exception](QualityModel.trainLogRegPinned(p, 16, iters = 1))
      assert(e1.getMessage.contains(s"feature bucket id $bad outside [0, 16)"), e1.getMessage)
      val e2 = intercept[Exception](
        QualityModel.trainLogRegMultiPinned(p, Seq("a"), 16, iters = 1))
      assert(e2.getMessage.contains(s"feature bucket id $bad outside [0, 16)"), e2.getMessage)
    }
  }

  test("null fx counts toward N, a null label adds nothing, untouched buckets get no weight") {
    // doc 0: y = 1 on buckets {1, 2}; doc 1: null fx; doc 2: null y on
    // bucket 3. N = 3 (every pin row), and only doc 0's delta enters
    // the sums; bucket 3 is touched (entry, unchanged at 0), bucket 0
    // is not (no entry).
    val p = pin(Seq(
      (0L, java.lang.Double.valueOf(1.0), "a", Seq(1L -> 0.5, 2L -> 0.5)),
      (1L, java.lang.Double.valueOf(0.0), "b", null),
      (2L, null, null, Seq(3L -> 1.0))))
    val m = QualityModel.trainLogRegPinned(p, 4, iters = 1, lr = 1.0)
    def r9(v: Double) = BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d = 0.5 - 1.0 // σ(0) − y for doc 0
    assert(m.weights === Map(1L -> r9(-0.5 * d / 3), 2L -> r9(-0.5 * d / 3), 3L -> 0.0))
    assert(m.bias === r9(-d / 3))
    val multi = QualityModel.trainLogRegMultiPinned(p, Seq("a"), 4, iters = 1, lr = 1.0)("a")
    assert(multi === m)
  }

  test("an empty pin is refused instead of dividing by zero") {
    val e = intercept[IllegalArgumentException](
      QualityModel.trainLogRegPinned(pin(Seq.empty), 4, iters = 1))
    assert(e.getMessage.contains("empty pin"))
  }
}
