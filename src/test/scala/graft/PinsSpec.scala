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

  /** Distinct RDDs that stored a block while `runFunnel` ran. Counted
    * from block-update events rather than `getPersistentRDDs` after the
    * run, because ContextCleaner unpersists pins whose RDD objects were
    * garbage-collected, so an after-the-fact count depends on GC timing.
    * Removals (invalid storage level) are not stores. */
  private def rddsStoredByFunnel(): Set[Int] =
    withEvents(runFunnel())._2.collect {
      case e: SparkListenerBlockUpdated
          if e.blockUpdatedInfo.storageLevel.isValid =>
        e.blockUpdatedInfo.blockId
    }.collect { case RDDBlockId(rddId, _) => rddId }.toSet

  test("no block-manager growth across two swept funnel runs") {
    Pins.sweep(spark)
    val first = rddsStoredByFunnel()
    Pins.sweep(spark)
    val second = rddsStoredByFunnel()
    Pins.sweep(spark)
    assert(first.nonEmpty,
      "expected the funnel to store pinned blocks (did the pin layer change?)")
    assert(second.size <= first.size,
      s"pinned RDD count grew across runs: ${first.size} -> ${second.size}")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
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
