package graft

import org.apache.spark.scheduler.{SparkListenerBlockUpdated, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.operators.Quantiles

/** Distributed exact quantiles: differential vs Spark's single-buffer
  * `percentile` aggregate (which is the semantics oracle, just not the
  * scale-safe plan) plus edge cases.
  */
class QuantilesSpec extends SparkSpec {

  private def builtin(df: org.apache.spark.sql.DataFrame, c: String, ps: Seq[Double]): Seq[Double] =
    df.agg(expr(s"percentile($c, array(${ps.mkString(",")}))"))
      .head.getSeq[Double](0)

  private def jobCount(events: Seq[SparkListenerEvent]): Int =
    events.count(_.isInstanceOf[SparkListenerJobStart])

  test("matches built-in percentile bit-for-bit on lineitem") {
    val li = Tables.lineitem(spark, sfDir)
    val ps = Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0)
    val got = Quantiles.exactQuantiles(li, "l_quantity", ps)
    val want = builtin(li, "l_quantity", ps)
    got.zip(want).zip(ps).foreach { case ((g, w), p) =>
      assert(g == w, s"p=$p: got $g want $w")
    }
  }

  test("matches built-in on a column with interpolation between values") {
    val li = Tables.lineitem(spark, sfDir)
    val ps = Seq(0.33, 0.5, 0.667)
    val got = Quantiles.exactQuantiles(li, "l_extendedprice", ps)
    val want = builtin(li, "l_extendedprice", ps)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"got $g want $w") }
  }

  test("excludes nulls and handles tiny inputs") {
    import spark.implicits._
    val df = Seq(Some(3.0), None, Some(1.0), Some(2.0)).toDF("v")
    assert(Quantiles.exactQuantiles(df, "v", Seq(0.5)) == Seq(2.0))
    val one = Seq(42.0).toDF("v")
    assert(Quantiles.exactQuantiles(one, "v", Seq(0.0, 0.5, 1.0)) == Seq(42.0, 42.0, 42.0))
  }

  test("randomized differential vs built-in percentile (12 trials)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 12) {
      val n = 1 + rnd.nextInt(500)
      // duplicate-heavy, skewed, and negative values all appear, plus
      // signed zeros, infinities and runs sharing their top key bits
      val vals = Seq.fill(n)(rnd.nextInt(5) match {
        case 0 => rnd.nextInt(5).toDouble          // heavy ties
        case 1 => rnd.nextDouble() * 1e6           // large range
        case 2 => -rnd.nextDouble()                // negatives
        case 3 => rnd.nextGaussian()
        case _ => rnd.nextInt(4) match {
          case 0 => if (rnd.nextBoolean()) 0.0 else -0.0
          case 1 => if (rnd.nextBoolean()) Double.PositiveInfinity else Double.NegativeInfinity
          case _ => 1.0 + rnd.nextInt(1000) * math.ulp(1.0)
        }
      })
      val df = vals.toDF("v").repartition(1 + rnd.nextInt(7))
      val ps = Seq(0.0, rnd.nextDouble(), 0.5, 1.0)
      val got = Quantiles.exactQuantiles(df, "v", ps)
      val want = builtin(df, "v", ps)
      got.zip(want).zip(ps).foreach { case ((g, w), p) =>
        // random fractions hit interpolation weights that aren't exactly
        // representable; allow last-ulp drift (1e-12 relative — three
        // orders tighter than the oracle gate's 1e-9)
        val tol = math.max(math.abs(w) * 1e-12, 1e-300)
        assert(g == w || (g.isNaN && w.isNaN) || math.abs(g - w) <= tol,
          s"trial $trial n=$n p=$p: got $g want $w")
      }
    }
  }

  test("multi-column one-pass agrees with built-in per column") {
    val li = Tables.lineitem(spark, sfDir)
    val specs = Seq("l_quantity" -> Seq(0.25, 0.5, 0.75),
      "l_extendedprice" -> Seq(0.1, 0.5, 0.9),
      "l_discount" -> Seq(0.5))
    val got = Quantiles.exactQuantilesMulti(li, specs)
    // ULP-level tolerance: Spark's builtin interpolates as
    // (1-w)*lo + w*hi while we pin DuckDB's lo + (hi-lo)*w (the
    // oracle-replayable form) — algebraically equal, one ULP apart.
    specs.foreach { case (c, ps) =>
      val want = builtin(li, c, ps)
      got(c).zip(want).zip(ps).foreach { case ((g, w), p) =>
        assert(math.abs(g - w) <= math.ulp(w) * 4, s"$c p=$p: got $g want $w")
      }
    }
  }

  test("groupedExactQuantiles matches the built-in grouped percentile bit for bit") {
    import spark.implicits._
    val ords = Tables.orders(spark, sfDir)
    val got = Quantiles.groupedExactQuantiles(
        ords, "o_orderstatus", "o_totalprice", Seq(0.25, 0.5, 0.9))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val want = ords.groupBy("o_orderstatus")
      .agg(expr("percentile(o_totalprice, 0.25)").as("a"),
        expr("percentile(o_totalprice, 0.5)").as("b"),
        expr("percentile(o_totalprice, 0.9)").as("c"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(got.keySet === want.keySet)
    got.keySet.foreach { k =>
      val (g1, g2, g3) = got(k); val (w1, w2, w3) = want(k)
      assert(math.abs(g1 - w1) <= math.ulp(w1) * 4, s"$k p25")
      assert(math.abs(g2 - w2) <= math.ulp(w2) * 4, s"$k p50")
      assert(math.abs(g3 - w3) <= math.ulp(w3) * 4, s"$k p90")
    }
    // single giant group degenerates to the global op
    val one = Quantiles.groupedExactQuantiles(
      ords.withColumn("g", lit("all")), "g", "o_totalprice", Seq(0.5))
    assert(one.count() === 1)
    assert(math.abs(one.head().getDouble(1) -
      Quantiles.exactMedian(ords, "o_totalprice")) < 1e-9)
  }

  test("quantile plans contain no unbounded percentile aggregate") {
    // The four rewired queries must never plan Spark's exact
    // percentile/median over a whole column (a TypedImperativeAggregate
    // buffering every value — the 100 TB scale-killer).
    val exactAgg = "(?<!approx_)percentile\\(|\\bmedian\\(".r
    Seq("q_quantiles", "q_describe", "q_quantile_approx", "q_cut_qcut").foreach { name =>
      val p = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(exactAgg.findFirstIn(p).isEmpty,
        s"$name still plans an unbounded exact percentile:\n$p")
    }
  }

  test("refined buckets give the same answers as whole-bucket fetches") {
    import spark.implicits._
    // 5000 keys sharing their top 48 bits: a cap of 4 refines the one
    // top bucket down to the last level, where each bucket is one key.
    val run = (0 until 5000).map(k => 1.0 + k * math.ulp(1.0)).toDF("v")
    val li = Tables.lineitem(spark, sfDir)
    val specs = Seq("l_quantity" -> Seq(0.0, 0.25, 0.5, 0.9, 1.0),
      "l_extendedprice" -> Seq(0.1, 0.5, 0.667))
    for ((df, sp) <- Seq(run -> Seq("v" -> Seq(0.0, 0.3, 0.5, 0.999, 1.0)), li -> specs)) {
      val (whole, wholeEv) = withEvents(Quantiles.exactQuantilesMulti(df, sp))
      val (refined, refinedEv) = withEvents(Quantiles.exactQuantilesMulti(df, sp, 4L))
      assert(refined == whole)
      assert(jobCount(refinedEv) > jobCount(wholeEv),
        s"cap 4 ran ${jobCount(refinedEv)} jobs, default cap ${jobCount(wholeEv)}")
      sp.foreach { case (c, ps) =>
        whole(c).zip(builtin(df, c, ps)).foreach { case (g, w) =>
          assert(math.abs(g - w) <= math.ulp(w) * 4, s"$c: got $g want $w") }
      }
    }
    val ords = Tables.orders(spark, sfDir)
    val ps = Seq(0.25, 0.5, 0.9)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val (whole, wholeEv) = withEvents(rows(
      Quantiles.groupedExactQuantiles(ords, "o_orderstatus", "o_totalprice", ps)))
    val (refined, refinedEv) = withEvents(rows(
      Quantiles.groupedExactQuantiles(ords, "o_orderstatus", "o_totalprice", ps, 4L)))
    assert(refined == whole)
    assert(jobCount(refinedEv) > jobCount(wholeEv))
  }

  test("a column named twice in exactQuantilesMulti is refused") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 3.0).toDF("v")
    for (specs <- Seq(Seq("v" -> Seq(0.25), "v" -> Seq(0.25)),
        Seq("v" -> Seq(0.25), "v" -> Seq(0.5)))) {
      val e = intercept[IllegalArgumentException](Quantiles.exactQuantilesMulti(df, specs))
      assert(e.getMessage.contains("each column at most once") && e.getMessage.endsWith(": v"),
        e.getMessage)
    }
    assert(Quantiles.exactQuantilesMulti(df, Seq("v" -> Seq(0.25, 0.5))) ==
      Map("v" -> Seq(1.5, 2.0)))
  }

  test("exactQuantilesMulti on lineitem fires one job and stores no RDD block") {
    val li = Tables.lineitem(spark, sfDir)
    val specs = Seq("l_quantity" -> Seq(0.25, 0.5, 0.75), "l_extendedprice" -> Seq(0.5))
    val (_, events) = withEvents(Quantiles.exactQuantilesMulti(li, specs))
    assert(jobCount(events) == 1, s"${jobCount(events)} jobs")
    assert(!events.exists { case e: SparkListenerBlockUpdated => e.blockUpdatedInfo.blockId.isRDD
      case _ => false })
  }

  test("a tag of exactly cap keys and one of cap + 1 give the same answers as percentile") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val n = 300
    val vals = Seq.fill(n)(rnd.nextInt(4) match {
      case 0 => rnd.nextInt(20).toDouble
      case 1 => rnd.nextGaussian() * 1e3
      case 2 => if (rnd.nextBoolean()) 0.0 else -0.0
      case _ => if (rnd.nextInt(8) == 0) Double.NegativeInfinity else 1.0 + rnd.nextInt(50) * math.ulp(1.0)
    })
    val ps = Seq(0.0, 0.1, 0.25, 0.5, 0.667, 0.9, 1.0)
    for (parts <- Seq(1, 3)) {
      val df = vals.toDF("v").repartition(parts)
      // cap n keeps all n keys; cap n - 1 turns them into bucket counts
      val (keys, keysJobs) = jobsOf(Quantiles.exactQuantilesMulti(df, Seq("v" -> ps), n.toLong))
      val (counted, countedJobs) = jobsOf(Quantiles.exactQuantilesMulti(df, Seq("v" -> ps), n - 1L))
      assert(keys("v").map(java.lang.Double.doubleToLongBits) ==
        counted("v").map(java.lang.Double.doubleToLongBits), s"$parts partitions")
      // the fetch is one job more (the repartition adds a stage job to each)
      assert(countedJobs > keysJobs, s"jobs: keys $keysJobs, counts $countedJobs")
      keys("v").zip(builtin(df, "v", ps)).zip(ps).foreach { case ((g, w), p) =>
        assert(g == w || (g.isNaN && w.isNaN) || math.abs(g - w) <= math.ulp(w) * 4,
          s"p=$p: got $g want $w") }
    }
    // grouped: under cap n, group "a" holds exactly cap keys and "b" cap + 1
    val grouped = (vals.map("a" -> _) ++ (vals :+ 0.5).map("b" -> _)).toDF("g", "v")
    val gps = Seq(0.25, 0.5, 0.9)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.toSeq.tail.map(_.asInstanceOf[Double])).toMap
    val want = rows(grouped.groupBy("g").agg(
      expr(s"percentile(v, array(${gps.mkString(",")}))").as("q"))
      .select(col("g") +: gps.indices.map(i => col("q")(i)): _*))
    for (parts <- Seq(1, 3); cap <- Seq(n - 1L, n.toLong, n + 1L)) {
      val got = rows(Quantiles.groupedExactQuantiles(grouped.repartition(parts), "g", "v", gps, cap))
      assert(got.keySet == Set("a", "b"))
      got.foreach { case (g, qs) => qs.zip(want(g)).foreach { case (q, w) =>
        assert(math.abs(q - w) <= math.ulp(w) * 4, s"cap $cap, $parts partitions, $g: got $q want $w") } }
    }
  }

  test("exactQuantiles stores no RDD block") {
    val li = Tables.lineitem(spark, sfDir)
    val (_, events) = withEvents(Quantiles.exactQuantiles(li, "l_extendedprice", Seq(0.5, 0.9)))
    val stored = events.collect { case e: SparkListenerBlockUpdated
      if e.blockUpdatedInfo.blockId.isRDD => e.blockUpdatedInfo.blockId }
    assert(stored.isEmpty, s"blocks written: ${stored.mkString(", ")}")
  }
}
