package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}

import graft.operators.TextDedup

/** Randomized differential for the exact duplicated-substring purge: a
  * direct driver-side reference implementation (hash windows, count
  * occurrences, spare the global first, strike covered positions,
  * rebuild) is compared against the distributed operator on random
  * small-vocabulary corpora — tiny vocabularies force heavy window
  * duplication, overlapping duplicated runs, within-doc repeats and
  * fully-duplicated documents. Every corpus runs through both
  * join-back shapes. */
class SubstringPurgePropSpec extends SparkSpec {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Reference purge: (doc -> (nWords, nRemoved, clean)). */
  private def reference[K: Ordering](docs: Seq[(K, String)], w: Int,
      keepFirst: Boolean): Map[K, (Long, Long, String)] = {
    case class Occ(doc: K, start: Int)
    val wins = docs.flatMap { case (id, text) =>
      val ws = text.split(" ", -1)
      (0 to ws.length - w).map(i =>
        md5hex(ws.slice(i, i + w).mkString(" ")) -> Occ(id, i))
    }
    val byHash = wins.groupBy(_._1)
    val removedOcc = byHash.valuesIterator.flatMap { occs =>
      if (occs.size < 2) Iterator.empty
      else {
        val sorted = occs.map(_._2).sortBy(o => (o.doc, o.start))
        (if (keepFirst) sorted.tail else sorted).iterator
      }
    }.toSeq
    val coveredByDoc = removedOcc
      .flatMap(o => (o.start until o.start + w).map(p => o.doc -> p))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    docs.map { case (id, text) =>
      val ws = text.split(" ", -1)
      val cov = coveredByDoc.getOrElse(id, Set.empty)
      val kept = ws.zipWithIndex.collect { case (word, i) if !cov(i) => word }
      id -> ((ws.length.toLong, cov.size.toLong, kept.mkString(" ")))
    }.toMap
  }

  /** The two join-back shapes: broadcast, and the plain join forced by
    * a broadcast row limit below any dictionary size. */
  private val shapes: Seq[(String, (DataFrame, Int, Boolean) => DataFrame)] = Seq(
    "broadcast" -> ((d, w, kf) => TextDedup.purgeDuplicateSubstrings(d,
      "doc_id", "text", w, kf)),
    "plain join" -> ((d, w, kf) => TextDedup.purgeFromWindows(d, "doc_id",
      "text", Seq((w, 2L)), kf, broadcastRows = -1L)))

  /** Random corpora with ids from `id`, each checked in every shape. */
  private def trials[K: Ordering: Encoder](seed: Long, n: Int)(id: Int => K): Unit = {
    val rnd = new Random(seed)
    for (trial <- 1 to n) {
      val vocab = (1 to (2 + rnd.nextInt(5))).map(i => s"w$i")
      val w = 2 + rnd.nextInt(3)
      val keepFirst = rnd.nextBoolean()
      val docs = (0 until (3 + rnd.nextInt(8))).map { i =>
        val len = rnd.nextInt(25)
        (id(i), (0 until len).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val want = reference(docs, w, keepFirst)
      val df = spark.createDataset(docs)(
          Encoders.tuple(implicitly[Encoder[K]], Encoders.STRING))
        .toDF("doc_id", "text")
      for ((shape, purge) <- shapes) {
        val got = purge(df, w, keepFirst).collect()
          .map(r => r.getAs[K](0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
          .toMap
        assert(got == want,
          s"$shape trial $trial (w=$w keepFirst=$keepFirst vocab=${vocab.size}): " +
            s"first diff ${got.find(kv => want.get(kv._1) != Some(kv._2))}")
      }
    }
    Pins.sweep(spark)
  }

  test("distributed purge equals the reference on random corpora") {
    import spark.implicits._
    trials(20260814L, 12)(_.toLong)
  }

  test("string ids equal the reference") {
    import spark.implicits._
    trials(20260815L, 6)(i => f"d${(i * 7919) % 97}%03d")
  }

  test("long ids beyond the packed range equal the reference") {
    import spark.implicits._
    // ±2^50-scale ids break the packed witness's ±2^42 bound, so these
    // and the string ids take the struct witness
    trials(20260816L, 6)(i => (if (i % 2 == 0) 1L else -1L) * ((i + 1L) << 50))
  }

  test("the join-back follows the broadcast row limit") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e f"), (3L, "x a b c"))
      .toDF("doc_id", "text")
    def hinted(limit: Long): Boolean = TextDedup.purgeFromWindows(docs,
        "doc_id", "text", Seq((3, 2L)), keepFirst = true, broadcastRows = limit)
      .queryExecution.analyzed.toString.contains("strategy=broadcast")
    assert(hinted(1L << 20))
    assert(!hinted(-1L))
    Pins.sweep(spark)
  }

  test("the purge returns on empty and all-short inputs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val short = Seq((1L, "a b"), (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    for ((name, docs) <- Seq("empty" -> empty, "all-short" -> short);
         limit <- Seq(1L << 20, -1L)) {
      val rows = Await.result(Future(TextDedup.purgeFromWindows(docs, "doc_id",
          "text", Seq((4, 2L)), keepFirst = true, broadcastRows = limit)
        .collect()), 2.minutes)
      assert(rows.map(_.getString(3)).sorted.toSeq ==
        docs.collect().map(_.getString(1)).sorted.toSeq, name)
      assert(rows.forall(_.getLong(2) == 0L), name)
    }
    Pins.sweep(spark)
  }

  test("building the purge fires no probe job") {
    // one job for the window pin, two for the stats pin (its shuffle
    // stage and its result); any probe job would exceed 4
    val (_, jobs) = jobsOf(TextDedup.purgeDuplicateSubstrings(
      Tables.documents(spark, sfDir), "doc_id", "text", 4))
    assert(jobs <= 4, s"building the purge fired $jobs jobs")
    Pins.sweep(spark)
  }
}
