package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.operators.{Similarity, TextDedup}

/** Edge cases for the LLM-pipeline operators. */
class TextDedupEdgeSpec extends SparkSpec {

  /** A frame whose optimized plan is a local relation: the driver paths
    * of dupClusters and nearDuplicates return one. */
  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  private def clusterSet(df: DataFrame): Set[(Long, Long, Boolean)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet

  test("near-dup handles docs shorter than the shingle width") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two"),                              // < 3 words: no shingles
      (2L, "a b c d e f g h i j"),
      (3L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val pairs = TextDedup.nearDuplicates(docs, "doc_id", "text").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 3L)))
  }

  test("winnowing guarantee: a shared w+k-1-word run yields a shared fingerprint") {
    import spark.implicits._
    // k=3, w=4 → any shared run of >= 6 words must share a fingerprint.
    // Docs 1 and 2 share exactly the 6-word run "m n o p q r" embedded
    // in otherwise-disjoint text; doc 3 is fully disjoint.
    val docs = Seq(
      (1L, "a1 b1 c1 m n o p q r d1 e1 f1"),
      (2L, "a2 b2 m n o p q r c2 d2"),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z0")).toDF("doc_id", "text")
    val fps = TextDedup.winnowFingerprints(docs, "doc_id", "text", k = 3, w = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty, "shared run lost its fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty)
    // density: winnowed set strictly smaller than the full shingle set
    val shingles1 = docs.filter(col("doc_id") === 1)
      .select(explode(graft.functions.ShingleHashes(col("text"), 3, 7,
        dedup = true))).count()
    assert(fps(1L).size < shingles1, s"${fps(1L).size} vs $shingles1")
  }

  test("winnowFingerprints: short docs use one window; sub-k docs vanish") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"),          // exactly one 3-gram → one fingerprint
      (2L, "a b"),            // < k words → none
      (3L, "a b c d")).toDF("doc_id", "text") // 2 grams < w → single window
    val fps = TextDedup.winnowFingerprints(docs, "doc_id", "text", k = 3, w = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.size).toMap
    assert(fps(1L) == 1 && !fps.contains(2L) && fps(3L) == 1)
  }

  test("winnowOverlap finds near-identical docs and honors minShared") {
    import spark.implicits._
    val base = (0 until 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base + " extra tail words"),
      (3L, (100 until 130).map(i => s"v$i").mkString(" "))).toDF("doc_id", "text")
    val pairs = TextDedup.winnowOverlap(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)))
    assert(pairs.head._3 >= 3L)
    // raising minShared above the overlap removes the pair
    assert(TextDedup.winnowOverlap(docs, "doc_id", "text",
      minShared = pairs.head._3 + 1).count() == 0)
  }

  test("winnowOverlap maxPostings drops boilerplate fingerprints only") {
    import spark.implicits._
    // every doc shares the same boilerplate run (its fingerprints occur
    // in all 6 docs); docs 1 and 2 ALSO share a genuine long run
    val boiler = (0 until 12).map(i => s"lic$i").mkString(" ")
    val run = (0 until 12).map(i => s"dup$i").mkString(" ")
    val docs = ((1L, s"$boiler $run") +: (2L, s"$run $boiler") +:
      (3L to 6L).map(i => (i, s"$boiler " +
        (0 until 12).map(j => s"u${i}_$j").mkString(" ")))).toDF("doc_id", "text")
    // exact: every pair shares the boilerplate fingerprints → 15 pairs
    val exact = TextDedup.winnowOverlap(docs, "doc_id", "text",
      minShared = 1L).count()
    assert(exact == 15L, s"exact $exact")
    val capped = TextDedup.winnowOverlap(docs, "doc_id", "text",
        minShared = 1L, maxPostings = 5L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // differential against the cap's defined semantics: identical to
    // re-running the pair join over fingerprints with ≤5 postings
    val fps = TextDedup.winnowFingerprints(docs, "doc_id", "text")
    val hot = fps.groupBy("fp").count().filter(col("count") > 5)
      .select("fp")
    val cold = fps.join(hot, Seq("fp"), "left_anti")
    val expected = cold.select(col("doc_id").as("a"), col("fp"))
      .join(cold.select(col("doc_id").as("b"), col("fp")), Seq("fp"))
      .filter(col("a") < col("b")).select("a", "b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == expected, s"capped $capped vs $expected")
    // the genuine (1,2) run survives; the all-6 boilerplate pairs drop
    assert(capped.contains((1L, 2L)))
    assert(capped.size < exact, s"cap removed nothing: $capped")
  }

  test("near-dup on an empty corpus returns no pairs") {
    import spark.implicits._
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextDedup.nearDuplicates(docs, "doc_id", "text").count() == 0)
  }

  test("bandPrecision: identical docs verify, disjoint corpus yields no pairs") {
    import spark.implicits._
    val dup = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"),    // exact dup → candidate + verified
      (3L, "p q r s t u v w x y"))    // no shared bucket expected
      .toDF("doc_id", "text")
    val r = TextDedup.bandPrecision(dup, "doc_id", "text").head()
    assert(r.getLong(0) >= 1L)                       // at least the dup pair
    assert(r.getLong(1) >= 1L && r.getLong(1) <= r.getLong(0))
    assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0)
    // empty corpus → one zero row, precision 0 by convention
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val z = TextDedup.bandPrecision(empty, "doc_id", "text").head()
    assert(z.getLong(0) == 0L && z.getLong(1) == 0L && z.getDouble(2) == 0.0)
  }

  test("bandRecall: exact dups are truth AND caught; recall in (0,1]") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"),    // jaccard 1.0 with doc 1 → truth
      (3L, "k l m n o p q r s t"),
      (4L, "k l m n o p q r s t"))    // truth with doc 3
      .toDF("doc_id", "text")
    val r = TextDedup.bandRecall(docs, "doc_id", "text").head()
    // identical docs have identical signatures → always caught
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L && r.getDouble(2) == 1.0,
      s"${r.toSeq}")
  }

  test("dup clusters: chain of pairs collapses to one component") {
    import spark.implicits._
    // 1-2, 2-3, 3-4 chain plus isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L)
    // default: small graph → driver union-find path
    val got = TextDedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    // driverEdgeLimit=0 forces the distributed label-propagation path;
    // both strategies must agree exactly
    val gotDist = TextDedup.dupClusters(pairs, driverEdgeLimit = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDist == expect)
  }

  test("dup clusters: driver and distributed paths agree on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pairs = (1 to 300).map(_ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("doc_a", "doc_b")
    def run(limit: Long) = TextDedup.dupClusters(pairs, driverEdgeLimit = limit)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(run(Long.MaxValue) == run(0L))
  }

  test("dup clusters over a local pair frame fire no job and cache nothing") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    spark.catalog.clearCache()
    val rdds = spark.sparkContext.getPersistentRDDs.keySet
    val (out, jobs) = jobsOf(TextDedup.dupClusters(pairs))
    assert(jobs == 0, s"dupClusters fired $jobs jobs over a local pair frame")
    assert(spark.sharedState.cacheManager.isEmpty, "dupClusters registered a cache entry")
    assert(spark.sparkContext.getPersistentRDDs.keySet == rdds)
    assert(isLocal(out))
    assert(clusterSet(out) == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (5L, 5L, true), (6L, 5L, false)))
  }

  test("dup clusters gate counts pair rows: at the row count driver, one below distributed") {
    import spark.implicits._
    // a mirrored pair counts twice: 5 pair rows, 4 distinct undirected edges
    val pairs = Seq((1L, 2L), (2L, 1L), (2L, 3L), (7L, 3L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val (driver, driverJobs) = jobsOf(TextDedup.dupClusters(pairs, driverEdgeLimit = 5L))
    assert(isLocal(driver) && driverJobs == 0, s"driver path fired $driverJobs jobs")
    val (dist, distJobs) = jobsOf(TextDedup.dupClusters(pairs, driverEdgeLimit = 4L))
    assert(!isLocal(dist) && distJobs > 0, "4 < 5 pair rows must take the distributed path")
    assert(clusterSet(driver) == clusterSet(dist))
    assert(clusterSet(driver) == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (7L, 1L, false), (10L, 10L, true), (11L, 10L, false)))
  }

  test("dup clusters drop pairs with a null endpoint on both paths") {
    import spark.implicits._
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), None), (None, Some(7L)), (None, None),
      (Some(3L), Some(2L)), (Some(8L), Some(9L))).toDF("doc_a", "doc_b")
    val driver = clusterSet(TextDedup.dupClusters(pairs))
    val dist = clusterSet(TextDedup.dupClusters(pairs, driverEdgeLimit = 0L))
    assert(driver == dist)
    assert(driver == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (8L, 8L, true), (9L, 8L, false)))
  }

  test("distributed label propagation fails instead of returning unconverged labels") {
    val chain = spark.range(0L, 63L).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    val e = intercept[IllegalStateException](
      TextDedup.dupClusters(chain, maxIters = 1, driverEdgeLimit = 0L))
    assert(e.getMessage.contains("maxIters=1"), e.getMessage)
    assert(e.getMessage.matches(".*\\(\\d+ labels changed in the last round\\).*"),
      e.getMessage)
    val out = TextDedup.dupClusters(chain, driverEdgeLimit = 0L)
    assert(out.count() == 64L && out.filter(col("cluster_id") =!= 0L).count() == 0)
  }

  /** Mixed corpus: identical-text cliques {1, 3} and {10..14} (they
    * exercise the expansion), a genuine near-dup 1–2 (the Jaccard
    * verify) and a singleton 20. */
  private def mixedDocs: DataFrame = {
    import spark.implicits._
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    (Seq((1L, base), (2L, base + " extra"), (3L, base)) ++      // near-dup + clique
      (10L to 14L).map(i => (i, "dup dup " + (1 to 20).map(j => s"d$j").mkString(" "))) ++
      Seq((20L, (40 to 70).map(i => s"z$i").mkString(" ")))      // singleton
    ).toDF("doc_id", "text")
  }

  private def pairSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      math.round(r.getDouble(2) * 1e9))).toSet

  test("near-dup shuffle-join regime (broadcast gates closed) matches broadcast regime") {
    // With broadcastLimit=0 every measured broadcast gate closes, so the
    // 100TB fallback — shuffle joins end to end — executes locally and
    // must produce the identical answer.
    def run(limit: Long) = pairSet(TextDedup.nearDuplicates(
      mixedDocs, "doc_id", "text", threshold = 0.5, broadcastLimit = limit))
    val broadcastRegime = run(Long.MaxValue)
    val shuffleRegime = run(0L)
    assert(broadcastRegime.nonEmpty)
    assert(shuffleRegime == broadcastRegime)
    // gates open but measured-too-big for the driver-expansion probe
    // (limit 1 truncates the member collect): the mid regime — fused
    // verify, distributed expansion joins — must agree too
    assert(run(1L) == broadcastRegime)
  }

  test("near-dup driver expansion is taken iff clique members + rep pairs <= broadcastLimit") {
    val docs = mixedDocs
    val want = pairSet(TextDedup.nearDuplicates(docs, "doc_id", "text", threshold = 0.5))
    // the rule's inputs, counted without the operator: docs in
    // non-trivial identical-text cliques, and verified pairs of reps
    val cliques = docs.groupBy(md5(col("text")))
      .agg(min("doc_id").as("rep"), count(lit(1)).as("n")).collect()
    val members = cliques.filter(_.getLong(2) > 1).map(_.getLong(2)).sum
    val reps = cliques.map(_.getLong(1)).toSet
    val repPairs = want.count { case (a, b, _) => reps(a) && reps(b) }.toLong
    assert(members == 7L && repPairs == 1L)
    // the rule before the count was folded into the probe: count the
    // rep pairs, then probe the members with the budget left
    def countedRule(limit: Long) =
      repPairs <= limit && members < limit + 1 - repPairs
    val total = members + repPairs
    for (limit <- Seq(total - 1, total, total + 1)) {
      val out = TextDedup.nearDuplicates(docs, "doc_id", "text",
        threshold = 0.5, broadcastLimit = limit)
      assert(isLocal(out) == countedRule(limit), s"broadcastLimit $limit")
      assert(isLocal(out) == (limit >= total), s"broadcastLimit $limit")
      assert(pairSet(out) == want, s"broadcastLimit $limit")
    }
  }

  test("q_dup_clusters builds within its job budget on the sf0.001 tables") {
    // Jobs fired while the query's DataFrame is built, before any action,
    // from a clear cache: nearDuplicates' one probe collect (its stages
    // run as separate jobs under AQE). The table read takes its schema
    // from the parquet footer and dupClusters adds none. Before the probe
    // absorbed the pair count and dupClusters' cache + count + collect
    // became one bounded collect of a local frame, this build fired 14
    // jobs, and 9 while the table read still inferred its schema by a job.
    spark.catalog.clearCache()
    val (_, jobs) = jobsOf(SparkEntry.queries("q_dup_clusters")(spark, sfDir))
    assert(jobs <= 8, s"q_dup_clusters fired $jobs jobs while building")
  }

  test("distributed label propagation clusters a 50k-node chain graph") {
    // 1000 chains of 50 nodes each: 49k edges, diameter 49 — pointer
    // jumping must converge in O(log d) rounds, and with
    // driverEdgeLimit=0 the union-find shortcut is unavailable, so this
    // runs the iterative distributed path on a graph big enough to
    // exercise multi-partition shuffles and the checkpoint loop.
    val chains = 1000
    val len = 50
    val edges = spark.range(0, chains.toLong * (len - 1)).selectExpr(
      // chain c spans ids [c*len, c*len+len); edge i links consecutive ids
      s"(id div ${len - 1}) * $len + (id % ${len - 1}) AS doc_a",
      s"(id div ${len - 1}) * $len + (id % ${len - 1}) + 1 AS doc_b")
    val out = graft.operators.TextDedup.dupClusters(edges, driverEdgeLimit = 0L)
    // every node's cluster is its chain head, exactly one rep per chain
    import org.apache.spark.sql.functions._
    assert(out.count() == chains.toLong * len)
    assert(out.filter(col("cluster_id") =!= (col("doc_id") - (col("doc_id") % len))).count() == 0)
    assert(out.filter(col("is_rep")).count() == chains.toLong)
  }

  test("simhash of identical docs is identical, different docs differ") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark rows columns batch"),
      (2L, "spark rows columns batch"),
      (3L, "entirely different words here")).toDF("doc_id", "text")
    val sh = TextDedup.simHash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(sh(1L) != sh(3L))
  }

  test("1k identical docs: candidate stage stays bounded, answer complete") {
    import spark.implicits._
    // The degenerate LSH input: every doc identical. Without the
    // exact-dedup-first guard this is ~500k candidate pairs through the
    // bucket join; with it, the pipeline sees ONE representative (zero
    // candidate pairs) and the answer comes from clique expansion.
    val docs = (1L to 1000L).map(i => (i, "a b c d e f g h i j")).toDF("doc_id", "text")
    val hashed = docs.withColumn("__th", md5(col("text")))
    val repIds = hashed.groupBy("__th").agg(min(col("doc_id")).as("doc_id"))
    val reps = hashed.join(repIds, Seq("__th", "doc_id"), "left_semi")
    val sig = TextDedup.bandSignatures(
      TextDedup.shingles(reps, "doc_id", "text", 3, distinct = false), "doc_id", 16, 4)
    assert(TextDedup.candidatePairs(sig, "doc_id").count() == 0)
    val pairs = TextDedup.nearDuplicates(docs, "doc_id", "text")
    assert(pairs.count() == 1000L * 999 / 2)
    assert(pairs.filter(col("jaccard") =!= 1.0).count() == 0)
  }

  test("bucket cap drops oversized buckets and bounds the pair fan-out") {
    import spark.implicits._
    // 50 distinct docs that still share every band signature would blow
    // up quadratically; a cap of 10 drops those buckets entirely.
    val docs = (1L to 50L).map(i => (i, s"x$i", 0, "sig")).toDF("doc_id", "t", "band", "sig")
    val sig = docs.select(col("doc_id"), col("band"), col("sig"))
    assert(TextDedup.candidatePairs(sig, "doc_id").count() == 50L * 49 / 2)
    assert(TextDedup.candidatePairs(sig, "doc_id", maxBucketSize = Some(10)).count() == 0)
    assert(TextDedup.oversizedBuckets(sig, 10) == 1)
    assert(TextDedup.oversizedBuckets(sig, 100) == 0)
  }

  test("near-dup pairs across distinct near-identical texts still verify") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base + " extra"),                      // ~0.93 shingle-jaccard
      (3L, (31 to 60).map(i => s"v$i").mkString(" "))).toDF("doc_id", "text")
    val got = TextDedup.nearDuplicates(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
  }

  test("incremental winnow equals the full-corpus run restricted to (index, batch) pairs") {
    // batch==incremental differential: winnowAgainstIndex over a stored
    // fingerprint table must reproduce EXACTLY the cross-subset of the
    // full-corpus winnowOverlap — the snapshot-N+1 contract.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val isIdx = col("doc_id") % 10 < 8
    val full = TextDedup.winnowOverlap(docs, "doc_id", "text",
        k = 3, w = 4, minShared = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // full pairs are (min, max); keep those with exactly one batch side,
    // re-keyed as (new_id, idx_id)
    def inBatch(id: Long) = id % 10 >= 8
    val want = full.collect {
      case (a, b, n) if inBatch(a) != inBatch(b) =>
        if (inBatch(a)) (a, b, n) else (b, a, n)
    }.sorted.toSeq
    val fpIndex = TextDedup.winnowFingerprints(
        docs.filter(isIdx), "doc_id", "text", k = 3, w = 4)
      .select(col("doc_id").as("idx_id"), col("fp"))
    val got = TextDedup.winnowAgainstIndex(docs.filter(!isIdx), fpIndex,
        "doc_id", "text", k = 3, w = 4, minShared = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(got == want, s"got=${got.take(6)} want=${want.take(6)}")
    assert(want.nonEmpty, "differential is vacuous: no cross pairs in the bed")
  }

  test("winnowAgainstIndex maxPostings drops hot index fingerprints before the join") {
    import spark.implicits._
    // fp shared by 3 index docs is hot at cap 2; the pair through the
    // cold fp survives. Runs of 6 words (k=3, w=4) force fingerprints.
    val hot = "h1 h2 h3 h4 h5 h6"
    val cold = "c1 c2 c3 c4 c5 c6"
    val idxDocs = Seq(
      (1L, s"$hot x1 x2 x3"), (2L, s"$hot y1 y2 y3"),
      (3L, s"$hot z1 z2 z3"), (4L, s"$cold w1 w2 w3"))
      .toDF("doc_id", "text")
    val newDocs = Seq((10L, s"$hot $cold")).toDF("doc_id", "text")
    val fpIndex = TextDedup.winnowFingerprints(idxDocs, "doc_id", "text", 3, 4)
      .select(col("doc_id").as("idx_id"), col("fp"))
    val capped = TextDedup.winnowAgainstIndex(newDocs, fpIndex,
        "doc_id", "text", k = 3, w = 4, minShared = 1L, maxPostings = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSet == Set((10L, 4L)),
      s"hot-fp pairs should drop at cap 2: ${capped.mkString(", ")}")
    val uncapped = TextDedup.winnowAgainstIndex(newDocs, fpIndex,
        "doc_id", "text", k = 3, w = 4, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(uncapped.toSet == Set((10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L)))
  }

  test("purgeAgainstIndex removes only already-indexed windows, batch-local dups survive") {
    import spark.implicits._
    val idxDocs = Seq(
      (1L, "the quick brown fox was here today ok")).toDF("doc_id", "text")
    val batch = Seq(
      // contains the indexed 4-gram run "the quick brown fox" → those
      // positions (0..4: two overlapping indexed windows 0-3, 1-4) purge
      (10L, "the quick brown fox was elsewhere entirely"),
      // batch-internal duplicate phrase, NOT in the index → survives
      (11L, "zz yy xx ww vv zz yy xx ww vv"),
      (12L, "totally unrelated words in this one here")).toDF("doc_id", "text")
    val idx = TextDedup.windowHashIndex(idxDocs, "text", windowWords = 4)
    val out = TextDedup.purgeAgainstIndex(batch, idx, "doc_id", "text",
        windowWords = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    // doc 10: windows (0..3)="the quick brown fox", (1..4)="quick brown
    // fox was" are indexed; (2..5) onward are not → positions 0..4 go
    assert(out(10L) == (5L, "elsewhere entirely"), s"got ${out(10L)}")
    assert(out(11L) == (0L, "zz yy xx ww vv zz yy xx ww vv"))
    assert(out(12L) == (0L, "totally unrelated words in this one here"))
  }

  test("incremental funnel with empty indexes equals the within-batch funnel") {
    // batch==full differential for the COMPOSED snapshot-N+1 funnel:
    // with nothing indexed, the two cross-snapshot stages are identity
    // (no fp hits, no indexed windows) and the report's within-batch
    // tail must equal hygieneFunnel(batch) row for row.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val none = docs.limit(0)
    val fpIndex = TextDedup.winnowFingerprints(none, "doc_id", "text",
        k = 3, w = 4)
      .select(col("doc_id").as("idx_id"), col("fp"))
    val winIndex = TextDedup.windowHashIndex(none, "text", windowWords = 4)
    def toMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val inc = toMap(TextDedup.hygieneFunnelAgainstIndex(docs, fpIndex,
      winIndex, "doc_id", "source", "text").collect())
    val full = toMap(TextDedup.hygieneFunnel(docs, "doc_id", "source",
      "text").collect())
    assert(inc("s0_batch_raw") == full("s0_raw"))
    assert(inc("s1_exact") == full("s1_exact"))
    assert(inc("s2_idx_neardup") == full("s1_exact"),
      "empty fp index dropped docs")
    assert(inc("s3_idx_purged") == full("s1_exact"),
      "empty window index purged words")
    assert(inc("s4_neardup") == full("s2_neardup"))
    assert(inc("s5_purged") == full("s3_purged"))
    assert(inc("s6_domain_capped") == full("s4_domain_capped"))
  }

  test("hygiene funnel on an all-identical corpus collapses to one doc at s1") {
    import spark.implicits._
    // 64 exact copies: the exact stage must keep ONLY the smallest id,
    // and every later stage must run (not crash) on the singleton
    val docs = (0L until 64L)
      .map(i => (i, s"s${i % 4}", "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "source", "text")
    val rep = TextDedup.hygieneFunnel(docs, "doc_id", "source", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep("s0_raw") == ((64L, 64L * 8)))
    assert(rep("s1_exact") == ((1L, 8L)))           // keep-first singleton
    assert(rep("s2_neardup") == ((1L, 8L)))         // nothing to pair with
    assert(rep("s3_purged") == ((1L, 8L)))          // no within-doc dups
    assert(rep("s4_domain_capped") == ((1L, 8L)))
  }

  test("hygiene funnel exact stage keeps the smallest id per clique") {
    import spark.implicits._
    // two exact cliques + a unique doc; s1 must keep ids 3, 10, 20 —
    // pinned through text_h (xor of the 60-bit (id|text) digests)
    val docs = Seq(
      (7L, "a", "one two three four five six"),
      (3L, "a", "one two three four five six"),
      (20L, "b", "seven eight nine ten eleven twelve"),
      (10L, "b", "completely different words here now yes"),
      (15L, "b", "completely different words here now yes"))
      .toDF("doc_id", "source", "text")
    val s1 = TextDedup.hygieneFunnel(docs, "doc_id", "source", "text")
      .filter(col("stage") === "s1_exact").head()
    assert(s1.getLong(1) == 3L)
    def h60(id: Long, text: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$id|$text".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val want = h60(3L, "one two three four five six") ^
      h60(20L, "seven eight nine ten eleven twelve") ^
      h60(10L, "completely different words here now yes")
    assert(s1.getLong(3) == want, "s1_exact text_h != xor of kept docs")
  }

  test("purge join-back shapes are bit-identical (broadcast vs plain join)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def run(broadcastRows: Long): Seq[(Long, Long, Long, String)] =
      TextDedup.purgeFromWindows(docs, "doc_id", "text",
          windows = Seq((4, 5L), (8, 2L)), keepFirst = true, broadcastRows)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(_._1).toSeq
    val broadcast = run(1L << 20)
    assert(broadcast == run(-1L))
    assert(broadcast.nonEmpty)
    Pins.sweep(spark)
  }

  test("exact dedup keeps the smallest id per content") {
    import spark.implicits._
    val docs = Seq((5L, "same"), (2L, "same"), (9L, "other")).toDF("doc_id", "text")
    val kept = TextDedup.exactDedupKeepFirst(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 9L))
  }

  test("orthogonal vectors score zero cosine; ANN respects bucket boundaries") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
    assert(math.abs(df.head().getDouble(0)) < 1e-12)
    // annTopK never returns a vector from a different bucket
    val e = Tables.embeddings(spark, sfDir)
    val qs = e.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val ann = Similarity.annTopK(qs, e, dim = 64, numPlanes = 4, k = 3)
    val buckets = e.select(col("vec_id"),
      Similarity.lshBucket(col("embedding"), 64, 4).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ann.select("query_id", "vec_id").collect().foreach { r =>
      assert(buckets(r.getLong(0)) == buckets(r.getLong(1)),
        s"ANN crossed buckets: ${r.getLong(0)} vs ${r.getLong(1)}")
    }
  }

  test("dedupAgainstIndex matches new docs to the index, never new-to-new") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val index = Seq(
      (1L, base),
      (2L, "completely different content about spark shuffles and partitions")
    ).toDF("doc_id", "text")
    val newDocs = Seq(
      (10L, base + " ok"),      // near-dup of index doc 1
      (11L, base + " ok"),      // identical to 10 — a new-to-new pair that must NOT surface
      (12L, "unrelated text mentioning neither foxes nor shuffles at all whatsoever")
    ).toDF("doc_id", "text")
    val out = TextDedup.dedupAgainstIndex(newDocs, index, "doc_id", "text",
      threshold = 0.5).collect()
    val byNew = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byNew.keySet === Set(10L, 11L))        // 12 has no index match
    assert(byNew.values.toSet === Set(1L))        // both match index doc 1, not each other
    out.foreach(r => assert(r.getDouble(2) >= 0.5))
  }

  test("dedupAgainstIndex returns one best match per new doc") {
    import spark.implicits._
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val index = Seq((1L, t), (2L, t)).toDF("doc_id", "text")  // two identical index docs
    val newDocs = Seq((10L, t + " nu")).toDF("doc_id", "text")
    val out = TextDedup.dedupAgainstIndex(newDocs, index, "doc_id", "text",
      threshold = 0.5).collect()
    assert(out.length === 1)
    assert(out.head.getLong(1) === 1L)  // smallest idx_id on the jaccard tie
  }

  test("purgeFrequentSpans removes every occurrence of a frequent span, in order") {
    import spark.implicits._
    val boiler = "subscribe to our newsletter"   // 4-word span, 3 occurrences
    val docs = Seq(
      (1L, s"alpha beta gamma delta $boiler"),
      (2L, s"$boiler epsilon zeta eta theta"),
      (3L, s"iota kappa lambda mu $boiler"),
      (4L, "nu xi omicron pi")).toDF("doc_id", "text")
    val out = TextDedup.purgeFrequentSpans(docs, "doc_id", "text",
        spanWords = 4, minFreq = 3)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
    // span grid is positional: doc 1/3 carry the boilerplate as their
    // second span, doc 2 as its first — all three removed
    assert(out(0).getString(3) === "alpha beta gamma delta")
    assert(out(1).getString(3) === "epsilon zeta eta theta")
    assert(out(2).getString(3) === "iota kappa lambda mu")
    assert(out(3).getString(3) === "nu xi omicron pi")
    assert(out.map(_.getLong(2)).toSeq === Seq(1L, 1L, 1L, 1L))  // n_kept
    assert(out.map(_.getLong(1)).toSeq === Seq(2L, 2L, 2L, 1L))  // n_spans
  }

  test("purgeFrequentSpans keeps fully-boilerplate docs with empty text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "click here now"),
      (2L, "click here now"),
      (3L, "click here now"),
      (4L, "real content words here")).toDF("doc_id", "text")
    val out = TextDedup.purgeFrequentSpans(docs, "doc_id", "text",
        spanWords = 10, minFreq = 3)
      .orderBy("doc_id").collect()
    assert(out.length === 4)                       // no doc vanishes
    assert(out.take(3).forall(r => r.getString(3) == "" && r.getLong(2) == 0L))
    assert(out(3).getString(3) === "real content words here")
  }

  test("purgeFrequentSpans and dedupAgainstIndex handle empty inputs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val docs = Seq((1L, "some words here now")).toDF("doc_id", "text")
    assert(TextDedup.purgeFrequentSpans(empty, "doc_id", "text", 10, 3).count() === 0)
    // empty index: nothing can match, but the op must not fail
    assert(TextDedup.dedupAgainstIndex(docs, empty, "doc_id", "text").count() === 0)
    // empty batch against a real index
    assert(TextDedup.dedupAgainstIndex(empty, docs, "doc_id", "text").count() === 0)
  }

  test("purgeFrequentSpans below threshold is an identity rebuild") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m"),
      (2L, "n o p q r")).toDF("doc_id", "text")
    val out = TextDedup.purgeFrequentSpans(docs, "doc_id", "text",
        spanWords = 5, minFreq = 2)
      .orderBy("doc_id").collect()
    // nothing repeats: every doc reassembles to its original text
    assert(out(0).getString(3) === "a b c d e f g h i j k l m")
    assert(out(1).getString(3) === "n o p q r")
  }
}
