package graft

import org.apache.spark.scheduler.SparkListenerBlockUpdated
import org.apache.spark.storage.RDDBlockId

/** The pin release contract: operators that localCheckpoint
  * intermediates (hygieneFunnel stages, the purge's window stream and
  * stats dictionary, the GD pins) leave blocks in the block manager for
  * the session's lifetime — `catalog.clearCache()` does not touch them.
  * [[Pins.sweep]] is the between-queries release Verify/Bench call;
  * this spec pins that two funnel runs with a sweep between them leave
  * NO block-manager growth behind (the r16 finding: a 289-query sweep
  * accumulated corpus-sized dead blocks, in-sweep sf1 funnel 31.3 s vs
  * 24.1 isolated). */
class PinsSpec extends SparkSpec {

  /** Distinct RDDs one run of each funnel form stores on this spec's
    * corpus, as measured before the funnel forms shared their stages:
    * a refactor must neither add nor drop a stage pin. */
  private val FunnelPins = 4 // two of the six stage pins store no block
  private val IncrementalFunnelPins = 9

  private def docs = {
    import spark.implicits._
    (0L until 60L).map { i =>
      val base = s"alpha bravo charlie delta echo foxtrot golf hotel w$i x${i % 7}"
      (i, if (i % 3 == 0) s"src_a" else "src_b", base)
    }.toDF("doc_id", "source", "text")
  }

  private def runFunnel(): Unit =
    graft.operators.TextDedup.hygieneFunnel(docs, "doc_id", "source",
        "text", k = 3, w = 4, minShared = 3L, maxPostings = 3L,
        windows = Seq((4, 5L), (8, 2L)), domainCap = 15)
      .write.format("noop").mode("overwrite").save()

  test("funnel runs pin blocks; sweep releases every one of them") {
    Pins.sweep(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    runFunnel()
    // the funnel (incl. the purge stage) pinned intermediates
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "expected the funnel to create pins (did the pin layer change?)")
    val released = Pins.sweep(spark)
    assert(released > 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "sweep left blocks behind")
  }

  /** Distinct RDDs that stored a block while `run` ran. Counted from
    * block-update events rather than `getPersistentRDDs` after the run,
    * because ContextCleaner unpersists pins whose RDD objects were
    * garbage-collected, so an after-the-fact count depends on GC timing.
    * Removals (invalid storage level) are not stores. */
  private def rddsStoredBy(run: => Unit): Set[Int] =
    withEvents(run)._2.collect {
      case e: SparkListenerBlockUpdated
          if e.blockUpdatedInfo.storageLevel.isValid =>
        e.blockUpdatedInfo.blockId
    }.collect { case RDDBlockId(rddId, _) => rddId }.toSet

  test("no block-manager growth across two swept funnel runs") {
    Pins.sweep(spark)
    val first = rddsStoredBy(runFunnel())
    Pins.sweep(spark)
    val second = rddsStoredBy(runFunnel())
    Pins.sweep(spark)
    assert(first.nonEmpty,
      "expected the funnel to store pinned blocks (did the pin layer change?)")
    assert(second.size <= first.size,
      s"pinned RDD count grew across runs: ${first.size} -> ${second.size}")
    assert(first.size == FunnelPins,
      s"funnel pinned ${first.size} RDDs, expected $FunnelPins")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("an incremental funnel run pins the same RDD count as before") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.TextDedup
    // 30 docs of 16 doc-unique words, plus an exact copy of doc 0 (exact
    // stage drops 30) and a one-word edit of doc 10 (winnow drops 31)
    def words(i: Int) = ('a' to 'p').map(p => s"$p$i")
    val batch = ((0 until 30).map(i => (i.toLong, words(i).mkString(" "))) ++
        Seq(30L -> words(0).mkString(" "),
          31L -> (words(10).init :+ "zz").mkString(" ")))
      .map { case (i, t) => (i, s"src_${i % 3}", t) }
      .toDF("doc_id", "source", "text")
    // stored corpus: doc 5's text (the fp index drops 5) and a doc
    // sharing one 4-word window with doc 7 (the window index purges it)
    val old = Seq(100L -> words(5).mkString(" "),
        101L -> s"zz ${words(7).slice(1, 5).mkString(" ")} yy")
      .toDF("doc_id", "text")
    val fpIndex = TextDedup.winnowFingerprints(old, "doc_id", "text",
        k = 3, w = 4)
      .select(col("doc_id").as("idx_id"), col("fp"))
    val winIndex = TextDedup.windowHashIndex(old, "text", windowWords = 4)
    def report = TextDedup.hygieneFunnelAgainstIndex(batch, fpIndex,
      winIndex, "doc_id", "source", "text")
    Pins.sweep(spark)
    val stored = rddsStoredBy(
      report.write.format("noop").mode("overwrite").save())
    Pins.sweep(spark)
    assert(stored.size == IncrementalFunnelPins,
      s"incremental funnel pinned ${stored.size} RDDs, expected " +
        s"$IncrementalFunnelPins")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    // every stage the corpus was built for did drop or purge
    val rep = report.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    Pins.sweep(spark)
    assert(Seq("s0_batch_raw", "s1_exact", "s2_idx_neardup", "s4_neardup")
      .map(rep(_)._1) == Seq(32L, 31L, 30L, 29L), s"$rep")
    assert(rep("s3_idx_purged")._2 == rep("s2_idx_neardup")._2 - 4L, s"$rep")
  }

  test("swept pins do not break a subsequent identical query") {
    Pins.sweep(spark)
    runFunnel()
    Pins.sweep(spark)
    // a fresh construction after the sweep must rebuild its own pins
    val report = graft.operators.TextDedup.hygieneFunnel(docs, "doc_id",
      "source", "text").collect()
    assert(report.length == 5)
    assert(report.map(_.getString(0)).toSeq ==
      Seq("s0_raw", "s1_exact", "s2_neardup", "s3_purged",
        "s4_domain_capped"))
    Pins.sweep(spark)
  }
}
