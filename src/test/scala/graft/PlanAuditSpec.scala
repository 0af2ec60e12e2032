package graft

/** Physical-plan audits: the properties that make the query set safe at
  * 100 TB are asserted, not assumed.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("no query plan contains a cartesian product") {
    SparkEntry.queries.keys.foreach { name =>
      assert(!plan(name).contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
    }
  }

  test("projection+filter reach the parquet scan") {
    val p = plan("q_projection_filter")
    assert(p.contains("PushedFilters: ["), "no pushed filters in scan")
    assert(p.contains("GreaterThan(l_quantity") || p.contains("IsNotNull(l_quantity"),
      "quantity filter not pushed to parquet")
    // pruned read schema: only the 4 projected + filtered columns
    assert(!p.contains("l_shipdate"), "unused column not pruned from scan")
  }

  test("star-schema dimensions broadcast") {
    val p = plan("q_join_broadcast_star")
    assert(p.contains("BroadcastHashJoin"), "dimension join did not broadcast")
  }

  test("top-k compiles to TakeOrderedAndProject") {
    assert(plan("q_topk").contains("TakeOrderedAndProject"))
    assert(plan("q_tail").contains("TakeOrderedAndProject"))
  }

  test("cumprod window has no per-row array materialization") {
    val p = plan("q_cumprod")
    assert(!p.contains("collect_list"), "cumprod fell back to collect_list fold")
  }

  test("bucketed tables join without a shuffle") {
    // The co-location story at 100 TB: both sides bucketed+sorted by the
    // join key produce a SortMergeJoin with no Exchange above the scans.
    import org.apache.spark.sql.functions.col
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
      Tables.orders(spark, sfDir).write
        .bucketBy(4, "o_custkey").sortBy("o_custkey").saveAsTable("orders_b")
      Tables.customer(spark, sfDir).write
        .bucketBy(4, "c_custkey").sortBy("c_custkey").saveAsTable("customer_b")
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"), col("o_custkey") === col("c_custkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), "expected a sort-merge join")
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("Explain.stages exposes the reference's staged explain") {
    val df = SparkEntry.queries("q_projection_filter")(spark, sfDir)
    val st = Explain.stages(df)
    assert(st.map(_._1) == Seq("parsed", "analyzed", "optimized", "physical"))
    assert(st.forall(_._2.nonEmpty))
    // the optimized stage must show pushdown did its work: the filter
    // survives while the physical stage shows the parquet-level pushdown
    assert(st.toMap.apply("physical").contains("PushedFilters"))
  }

  test("Explain.analyzeStats returns per-operator runtime metrics") {
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
    val stats = Explain.analyzeStats(df)
    assert(stats.nonEmpty && stats.head._1 == 0)
    // the aggregate must report its actual output rows (6 flag/status
    // groups), and the scan its row count — runtime numbers, not plans
    val aggRows = stats.collect {
      case (_, name, m) if name.contains("HashAggregate") => m.get("numOutputRows")
    }.flatten
    assert(aggRows.contains(6L), s"no 6-row aggregate metric in $aggRows")
    assert(stats.exists { case (_, n, m) =>
      n.toLowerCase.contains("scan") && m.getOrElse("numOutputRows", 0L) > 0L })
  }

  test("train-prep projections prune the document scan to used columns") {
    // q_gopher_rules derives every stat from the word array: the scan
    // must read (doc_id, text) only — lang/source/n_chars pruned.
    val p = plan("q_gopher_rules")
    assert(!p.contains("n_chars") && !p.contains("lang"),
      "gopher rules scan reads columns it never uses")
    val p2 = plan("q_repetition_ratio")
    assert(!p2.contains("n_chars") && !p2.contains("source"),
      "repetition scan reads columns it never uses")
  }

  test("contamination benchmark gram set broadcasts") {
    val p = plan("q_contamination")
    assert(p.contains("BroadcastHashJoin"),
      "benchmark grams did not broadcast — corpus-side shuffle at scale")
  }

  test("winsorize broadcasts the group-quantile table") {
    val p = plan("q_winsorize")
    assert(p.contains("BroadcastHashJoin"),
      "group quantiles did not broadcast — the clip would shuffle the stream")
  }

  test("embedding ops run the native array_dot, not the interpreted fold") {
    val p = plan("q_embedding_near_dup")
    assert(p.contains("array_dot"), "native dot-product expression missing")
    assert(!p.contains("zip_with"), "interpreted zip_with fold still in the plan")
  }

  test("runtime bloom filter prunes a selective join's probe side") {
    // The runtime-filtering story at 100 TB: a selective dimension
    // filter injects a bloom-filter semi-filter on the fact scan, so
    // most probe rows die before the join shuffle. Thresholds are
    // lowered to let the tiny local tables qualify.
    import org.apache.spark.sql.functions.col
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.lineitem(spark, sfDir)
      val ord = Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
      val p = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(p.contains("bloom_filter") || p.contains("BloomFilter"),
        s"no runtime bloom filter injected:\n${p.take(2000)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("value_counts normalizes in-plan via a broadcast total, no global window") {
    val qe = SparkEntry.queries("q_value_counts")(spark, sfDir).queryExecution
    // the grand total must NOT ride an unpartitioned window (single
    // partition at scale) nor an eager driver-side count
    assert(!qe.analyzed.toString.contains("windowspecdefinition"),
      "proportion rides a global window again")
    assert(qe.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
      "total is not joined as a broadcast one-row aggregate")
  }

  test("sq8 retrieval runs the native array_dot and broadcasts the query set") {
    val qe = SparkEntry.queries("q_sq8_topk")(spark, sfDir).queryExecution
    assert(qe.analyzed.toString.contains("array_dot"))
    assert(qe.analyzed.toString.contains("sq8_recon"),
      "dequantize fell back to the interpreted transform")
    assert(qe.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
      "query side is not broadcast")
  }

  test("compressed-retrieval reconstructions run on native kernels") {
    def analyzed(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.analyzed.toString
    assert(analyzed("q_pq_topk").contains("pq_reconstruct"))
    assert(analyzed("q_ivf_pq_topk").contains("pq_reconstruct"))
    assert(analyzed("q_rp_topk").contains("mat_vec_fold"))
  }

  test("frequent-span purge and line rebuild carry no unpartitioned window") {
    val analyzed = SparkEntry.queries("q_line_dedup")(spark, sfDir)
      .queryExecution.analyzed.toString
    assert(!analyzed.contains("windowspecdefinition"),
      "span purge funnels through a global window")
  }

  test("incremental dedup signatures come from the projected minhash kernel") {
    val analyzed = SparkEntry.queries("q_incremental_dedup")(spark, sfDir)
      .queryExecution.analyzed.toString
    assert(analyzed.contains("shingle_min_hashes"))
    assert(analyzed.contains("shingle_hashes"))
  }

  test("temperature mix broadcasts its quota table") {
    val p = plan("q_temperature_mix")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"quota join is not broadcast:\n$p")
  }

  test("mojibake repair is map-only up to its output sort") {
    val exchanges = "Exchange".r.findAllIn(plan("q_fix_encoding")).length
    assert(exchanges <= 1, s"q_fix_encoding plans $exchanges exchanges")
  }

  test("text hot paths run on native kernels, not interpreted lambdas") {
    // The analyzed plans must carry the codegen'd kernel expressions;
    // a regression to transform()/aggregate() lambdas (interpreted, no
    // CSE) would re-introduce the round-7 constants.
    def analyzed(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.analyzed.toString
    assert(analyzed("q_bigram_lm").contains("bigram_pair_counts"))
    assert(analyzed("q_minhash_projected").contains("shingle_min_hashes"))
    assert(analyzed("q_contamination").contains("shingle_hashes"))
    assert(analyzed("q_source_overlap").contains("shingle_hashes"))
    assert(analyzed("q_simhash").contains("sim_hash"))
  }

  test("simhash is shuffle-free up to its output sort") {
    // Row-local signature: the only exchange in the plan is the range
    // partitioning for the final orderBy.
    val exchanges = "Exchange".r.findAllIn(plan("q_simhash")).length
    assert(exchanges <= 1, s"q_simhash plans $exchanges exchanges")
  }

  test("categorize builds its dictionary without an unpartitioned window") {
    // The dictionary discovery must be a capped ordered-limit (a
    // distributed top-k), never row_number() over an unpartitioned
    // window funneling the whole distinct set through one task.
    val p = plan("q_categorical_codes") + plan("q_categorical_ops")
    assert(!p.contains("Window"),
      "categorical dictionary built via a window — single-task funnel at scale")
  }

  test("funnel rejects come from ONE corpus scan, and reconcile with the funnel") {
    // The rejects query flags every stage on a single stream instead of
    // chaining filters: exactly one parquet scan (the corpus; the bench
    // gram set was collected eagerly at build time), and no joins.
    val p = plan("q_prep_funnel_rejects")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"q_prep_funnel_rejects plans $scans corpus scans:\n$p")
    assert(!p.contains("Join"), s"rejects plan contains a join:\n$p")
    // base minus rejects must equal the staged funnel's s4 survivors —
    // the two queries are projections of the same semantics
    val rejects = SparkEntry.queries("q_prep_funnel_rejects")(spark, sfDir)
    val nBase = Tables.documents(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("doc_id") >= 10).count()
    val funnel = SparkEntry.queries("q_prep_funnel")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nBase - rejects.count() == funnel("s4_budgeted"),
      "rejects + survivors != base docs")
    // each stage's reject count equals the funnel's stage-to-stage drop
    val byStage = rejects.groupBy("stage").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStage.getOrElse("s1_quality", 0L) ==
      funnel("s0_raw") - funnel("s1_quality"))
    assert(byStage.getOrElse("s2_dedup", 0L) ==
      funnel("s1_quality") - funnel("s2_dedup"))
    assert(byStage.getOrElse("s3_decontaminated", 0L) ==
      funnel("s2_dedup") - funnel("s3_decontaminated"))
    assert(byStage.getOrElse("s4_budgeted", 0L) ==
      funnel("s3_decontaminated") - funnel("s4_budgeted"))
  }

  test("BM25 cuts the token stream with a broadcast term join before any shuffle") {
    val p = plan("q_bm25_topk")
    // the query-term semi cut, the df table, and the query fan-out all
    // ride broadcast hash joins — the only shuffles are the tf and
    // (query, doc) aggregations
    assert(p.contains("BroadcastHashJoin"), "query-term join is not broadcast")
    // corpus stats (one row) join by broadcast, not a shuffle
    assert(p.contains("BroadcastNestedLoopJoin"),
      "corpus stats are not a broadcast one-row join")
  }

  test("DSIR joins its bucket tables by broadcast") {
    val p = plan("q_dsir_select")
    // the lambda (log-ratio) table is B-sized and must broadcast back to
    // the per-doc counts; totals are a broadcast one-row aggregate
    assert(p.contains("BroadcastHashJoin"), "lambda table join is not broadcast")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "bucket totals are not a broadcast one-row join")
    // selection is a bounded top-k, not a global sort materialization
    assert(p.contains("TakeOrderedAndProject"),
      "Gumbel top-k does not compile to TakeOrdered")
  }

  test("PQ retrieval reconstructs in one projection and broadcasts queries") {
    val qe = SparkEntry.queries("q_pq_topk")(spark, sfDir).queryExecution
    val p = qe.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"), "query side is not broadcast")
    // scoring runs the native array_dot on the reconstruction
    assert(qe.analyzed.toString.contains("array_dot"))
    // the fused encode+reconstruct must appear ONCE in the plan — codes
    // routed through an attribute would inline the argmin per element
    // (the measured O(dim^2) SQ8 trap)
    val argminCount = "array_position".r.findAllIn(p).length
    assert(argminCount <= 1, s"PQ argmin inlined $argminCount times")
  }

  test("shard manifest carries no unpartitioned window") {
    val analyzed = SparkEntry.queries("q_shard_manifest")(spark, sfDir)
      .queryExecution.analyzed.toString
    // global offsets come from the two-pass partition-offset machinery:
    // every window in the plan is partitioned by the range-partition id
    val specs = "windowspecdefinition\\(([^,)]*)".r
      .findAllMatchIn(analyzed).map(_.group(1)).toSeq
    assert(specs.nonEmpty, "expected the partition-local running-sum window")
    assert(specs.forall(_.contains("__pid")),
      s"shard offsets ride an unpartitioned window: $specs")
  }

  test("quality classifier scoring is a joinless kernel map over the pin") {
    // r16 one-pin layout: scoring is one graft_feature_dot projection
    // over the checkpointed feature pin — no weight-table join at all
    // (the pre-r16 classify path broadcast-joined weights and paid a
    // doc-keyed aggregate; the pin scan replaces both).
    val p = plan("q_quality_classifier")
    assert(p.contains("graft_feature_dot"),
      "scoring does not use the feature-dot kernel")
    assert(!p.contains("Join"), s"scoring still pays a join:\n$p")
  }

  test("stupid-backoff model joins are long-keyed kernel hashes") {
    val qe = SparkEntry.queries("q_stupid_backoff")(spark, sfDir).queryExecution
    // n-grams ride the native kernel fold — no interpreted md5/concat
    // per gram, no multi-string join keys
    assert(qe.analyzed.toString.contains("shingle_hashes"),
      "n-gram hashing does not use the native kernel")
    assert(!qe.executedPlan.toString.contains("CartesianProduct"))
  }

  test("binary hamming retrieval broadcasts the query codes") {
    val p = plan("q_binary_hamming")
    assert(p.contains("BroadcastNestedLoopJoin"), "query side is not broadcast")
  }

  test("count-min probes join the sketch by broadcast") {
    val p = plan("q_count_min")
    assert(p.contains("BroadcastHashJoin"), "sketch join is not broadcast")
  }

  test("substring purge stats are skew-safe: no window, partial agg + join") {
    // The purge pins the window stream ONCE (eager localCheckpoint —
    // the kernel runs exactly once for both consumers); the occurrence
    // stats are a groupBy(__h) partial aggregate over the pin, joined
    // back by broadcast up to a measured dictionary size and by a plain
    // AQE join past it. The r15 window form (count over
    // Window.partitionBy(__h)) concentrated a hot hash's full posting
    // list in one task.
    val qe = SparkEntry.queries("q_substring_dedup")(spark, sfDir).queryExecution
    val analyzed = qe.analyzed.toString
    assert(!analyzed.contains("windowspecdefinition"),
      "substring purge still rides a window")
    // ONE kernel invocation: the final plan reads the checkpoint pin;
    // a shingle_md5_bins occurrence here would mean the window stream
    // is being recomputed for a second consumer (the r16 dup-cloud
    // constants floor).
    assert(!analyzed.contains("shingle_md5_bins"),
      "window stream is recomputed instead of read from the pin")
    assert(analyzed.contains("LogicalRDD") ||
      qe.executedPlan.toString.contains("Scan ExistingRDD"),
      "purge does not read the pinned window stream")
    // The stats the pin feeds stay a bounded partial aggregate with
    // the keep-first witness, in its packed-long and its struct form —
    // and the window stream itself uses the binary md5 kernel (audited
    // on the stream builder, since the final plan sits on the pin).
    val docs = Tables.documents(spark, sfDir)
    val wins = graft.operators.TextDedup.windowStream(docs, "doc_id", "text", Seq(4))
    assert(wins.queryExecution.analyzed.toString.contains("shingle_md5_bins"),
      "window hashing does not use the native binary kernel")
    for (packed <- Seq(true, false)) {
      val st = graft.operators.TextDedup.windowStats(
        wins, "doc_id", keepFirst = true, packedWitness = packed)
      val p = st.queryExecution.executedPlan.toString
      assert(p.contains("partial_min") || p.contains("partial min"),
        s"keep-first witness (packed=$packed) is not a partial aggregate")
      assert(st.queryExecution.analyzed.toString
        .indexOf("windowspecdefinition") < 0,
        "stats ride a window")
    }
  }

  test("char-gram lang-ID features come from the one-pass kernel, no gram explode") {
    // r16: char_gram_features emits each doc's sorted (b, x) array
    // row-locally — the (doc, gram) explode and its per-doc
    // hash-aggregate exchange are gone from the feature build. The
    // query's own final plan sits on the localCheckpoint pin
    // (LogicalRDD), so audit the feature-build plan itself.
    import org.apache.spark.sql.functions.{col, lit}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val qe = graft.operators.QualityModel
      .hashedCharFeatures(docs, "doc_id", "text", 512, n = 3)
      .queryExecution
    assert(qe.analyzed.toString.contains("char_gram_features"),
      "char-gram features do not use the kernel")
    val exec = qe.executedPlan.toString
    assert(!exec.contains("Exchange"),
      s"kernel feature build should be map-only, plan:\n$exec")
    // the direct pin path is map-only up to the label join too
    val qe2 = graft.operators.QualityModel.pinLabeledCharFeatures(
      docs, "doc_id", "text",
      docs.select(col("doc_id"), lit("en").as("label")), 512, n = 3)
    assert(qe2.columns.toSeq == Seq("doc_id", "label", "fx"))
  }

  test("unigram-LM Viterbi is the codegen'd kernel, not interpreted folds") {
    import graft.operators.UnigramLm
    import spark.implicits._
    val words = Seq(("abc", 2L), ("cab", 1L)).toDF("w", "f")
    val qe = UnigramLm.viterbiCounts(words,
      Map("a" -> -1.0, "b" -> -1.0, "c" -> -1.0, "ab" -> -1.5), 4)
      .queryExecution
    val analyzed = qe.analyzed.toString
    assert(analyzed.contains("graft_viterbi"),
      "viterbiCounts does not use the kernel")
    assert(!analyzed.contains("aggregate(sequence"),
      "interpreted DP fold still present")
  }

  test("dup-gram counts share one hash-partitioned exchange") {
    // corpus total (partition by h) and per-doc count (partition by
    // h, doc) must ride the SAME exchange — the second window adds only
    // a local sort. A (doc,h) pre-aggregate or reversed window order
    // would exchange the gram stream twice.
    val p = plan("q_dup_gram_fraction")
    val hashEx = "Exchange hashpartitioning\\(__h".r.findAllIn(p).length
    assert(hashEx == 1, s"gram stream exchanged $hashEx times by hash:\n$p")
  }

  test("bloom probe joins the filter by broadcast") {
    val p = plan("q_bloom_dedup")
    assert(p.contains("BroadcastHashJoin"), "bit-table join is not broadcast")
  }

  test("PMI rides the native bigram kernel, broadcast total, and top-k") {
    val qe = SparkEntry.queries("q_pmi_collocations")(spark, sfDir).queryExecution
    assert(qe.analyzed.toString.contains("bigram_pair_counts"),
      "PMI re-splits text instead of using the kernel")
    val p = qe.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"),
      "grand total is not a broadcast one-row aggregate")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k PMI pairs sort the whole pair table")
  }

  test("rendezvous sharding is map-only up to its output sort") {
    val exchanges = "Exchange".r.findAllIn(plan("q_rendezvous_shards")).length
    assert(exchanges <= 1, s"q_rendezvous_shards plans $exchanges exchanges")
  }

  test("semantic contamination probe is map-only: no join, literal bench set") {
    // the bench embeddings ride as plan literals (IVF-centroid pattern);
    // the probe must stay a projection — a join/shuffle here would scan
    // corpus × bench at scale
    val p = plan("q_semantic_contamination")
    assert(!p.contains("Join"), s"bench set joined instead of inlined:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"q_semantic_contamination plans $exchanges exchanges")
  }

  test("zipf top-N is a distributed top-k, not a vocabulary-wide sort") {
    val p = plan("q_zipf_slope")
    assert(p.contains("TakeOrderedAndProject"),
      "top-N words ride a full sort instead of TakeOrdered")
  }

  test("html extraction and url parse are map-only up to their output sort") {
    for (q <- Seq("q_html_extract", "q_url_parse", "q_line_dedup_consecutive")) {
      val exchanges = "Exchange".r.findAllIn(plan(q)).length
      assert(exchanges <= 1, s"$q plans $exchanges exchanges — extraction must scan-stream")
    }
  }

  test("frequent items: candidates broadcast into the semi join, total broadcast, no window") {
    val p = plan("q_frequent_items")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "MG candidate set must broadcast into a semi join")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "corpus total is not a broadcast one-row aggregate")
    assert(!p.contains("windowspecdefinition"),
      "frequent items must not plan a window")
  }

  test("ewm recurrence shuffles exactly once (key repartition)") {
    val exchanges = "Exchange".r.findAllIn(plan("q_ewm")).length
    // one hash exchange for the key repartition + the output orderBy's
    // range exchange — nothing else
    assert(exchanges <= 2, s"q_ewm plans $exchanges exchanges")
  }

  test("corr matrix is one aggregate pass over one scan") {
    val p = plan("q_corr_matrix")
    val scans = "FileScan".r.findAllIn(p).length
    assert(scans == 1, s"q_corr_matrix scans lineitem $scans times")
  }

  test("retrieval top-k never rides a per-query rank window") {
    // Round-11 systemic finding: every brute-force retrieval op ended in
    // row_number() over (partitionBy query_id) — for corpus-wide scoring
    // that is ONE task sorting O(corpus) rows per query at 100 TB. The
    // top-k tail must be the bounded partial-aggregating graft_top_k
    // (map-side k-bounded priority queues, ≤ tasks·k rows shuffled);
    // no Window node may appear anywhere in a retrieval plan.
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q_cosine_topk", "q_sq8_topk", "q_rp_topk",
        "q_binary_hamming", "q_pq_topk", "q_pq_trained_topk", "q_ann_lsh",
        "q_ivf_topk", "q_ivf_pq_topk", "q_bm25_topk", "q_jaccard_topk",
        "q_retrieval_recall", "q_rrf_fusion", "q_margin_mine",
        // per-DOMAIN ranked cap: same rule — a mega-domain is a
        // corpus-sized group, so the cap must be the bounded aggregate
        "q_domain_cap")) {
      val qe = SparkEntry.queries(q)(spark, sfDir).queryExecution
      val windows = qe.executedPlan.collect { case w: WindowExec => w }
      assert(windows.isEmpty,
        s"$q plans a rank window — per-query funnel at scale")
      assert(qe.analyzed.toString.contains("collect_top_k") ||
        qe.analyzed.toString.contains("graft_top_k"),
        s"$q does not use the bounded partial top-k aggregate")
    }
    // q_mmr_rerank's registry form pins each greedy round with a
    // localCheckpoint (plan collapses to LogicalRDD — nothing left to
    // audit), so audit the UNPINNED operator: full lineage, same plan
    // shape production would run per round.
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sfDir)
    val cand = graft.operators.Similarity.cosineTopK(
        e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
        e, k = 8)
      .select(col("query_id"), col("vec_id"), col("c").as("rel"))
      .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    val mmr = graft.operators.Similarity.mmrRerank(cand, k = 3, pin = false)
      .queryExecution
    assert(mmr.executedPlan.collect { case w: WindowExec => w }.isEmpty,
      "mmrRerank plans a rank window — per-query funnel at scale")
    assert(mmr.analyzed.toString.contains("collect_top_k") ||
      mmr.analyzed.toString.contains("graft_top_k"),
      "mmrRerank does not use the bounded partial top-k aggregate")
  }

  test("no registered query plans an unpartitioned window") {
    // The all-rows-through-one-task shape that dies at scale. Operator-
    // INTERNAL global windows over bounded O(partitions)-row tables
    // (offset machinery) execute in separate helper jobs and are
    // documented; the registered plans themselves must carry none.
    import org.apache.spark.sql.execution.window.WindowExec
    val offenders = SparkEntry.queries.keys.flatMap { name =>
      val globals = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
      if (globals.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty, s"unpartitioned windows in: ${offenders.toSeq.sorted}")
  }

  test("hygiene funnel composes the bounded levers") {
    // The registry form pins each stage boundary (localCheckpoint = the
    // inter-stage storage write a 100 TB funnel does anyway), so its
    // FINAL plan must touch the corpus only for the raw stage count;
    // the lever shapes are audited on the same composition UNPINNED
    // (the q_mmr_rerank audit discipline).
    val pinned = SparkEntry.queries("q_hygiene_funnel")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val pinnedScans = "FileScan".r.findAllIn(pinned).length
    assert(pinnedScans <= 4,
      s"pinned funnel scans the corpus $pinnedScans times")

    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
    val dropB = graft.operators.TextDedup.winnowOverlap(docs, "doc_id",
        "text", k = 3, w = 4, minShared = 3L, maxPostings = 3L)
      .select(col("doc_b").as("doc_id")).distinct()
    val s1 = docs.select("doc_id", "source", "text")
      .join(dropB, Seq("doc_id"), "left_anti")
    val purged = graft.operators.TextDedup.purgeDuplicateSubstringsMulti(
      s1, "doc_id", "text", windows = Seq((4, 5L), (8, 2L)),
      keepFirst = true)
    val s2 = purged.select(col("doc_id"),
        (col("n_words") - col("n_removed")).as("nt"))
      .join(s1.select("doc_id", "source"), Seq("doc_id"))
    val s3 = graft.operators.TextExtract.capPerDomain(
      s2, "doc_id", "source", "nt", cap = 15)
    val qe = s3.queryExecution
    assert(qe.executedPlan.toString.contains("partial_collect_capped"),
      "capped winnow stage lost its bounded aggregate")
    assert(qe.analyzed.toString.contains("graft_top_k") ||
      qe.analyzed.toString.contains("collect_top_k"),
      "domain cap is not the bounded partial top-k aggregate")
    // r16: NO windows anywhere in the funnel — the purge's occurrence
    // stats are now a partial-agg groupBy(__h) + join (a window over
    // __h concentrated a hot hash's full posting list in one task; the
    // aggregate decomposes into bounded partials and the join back is
    // AQE-skew-splittable)
    import org.apache.spark.sql.execution.window.WindowExec
    val wins = qe.executedPlan.collect { case w: WindowExec => w }
    assert(wins.isEmpty,
      s"funnel plans a window: ${wins.map(_.partitionSpec.mkString(","))}")
  }

  test("substring purge occurrence stats are a partial aggregate, not a window") {
    // Round-15 weak mark: count-over-Window.partitionBy(__h) shipped
    // every posting of a hot window hash (corpus-wide boilerplate) to
    // one task. The stats must be a groupBy(__h) partial aggregate
    // (count + bounded min-struct keep-first witness) joined back.
    import org.apache.spark.sql.execution.window.WindowExec
    val docs = Tables.documents(spark, sfDir)
    for (windows <- Seq(Seq((8, 2L)), Seq((4, 5L), (8, 2L)))) {
      val df = graft.operators.TextDedup.purgeDuplicateSubstringsMulti(
        docs, "doc_id", "text", windows)
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case w: WindowExec => w }.isEmpty,
        "substring purge plans a WindowExec on the __h stream")
      // r17: the stats subtree is pre-aggregated into a pinned
      // dictionary (its partial-agg shape is pinned by the windowStats
      // audit above); the final plan must read pins, not recompute the
      // kernel, and must join the __c/__first dictionary back.
      val s = plan.toString
      assert(!s.contains("shingle_md5_bins"),
        "window stream recomputed instead of read from the pin")
      assert(s.contains("Scan ExistingRDD"),
        "purge does not read the pinned window stream")
      assert(s.contains("__c"), "occurrence-count join is gone")
    }
  }

  test("cap enforcement is a bounded partial aggregate, not a concentration") {
    // Round-14 weak mark: dropping over-cap groups must never first
    // concentrate the hot key (window count over fp ships every posting
    // of a boilerplate fingerprint to one task; collect_list buffers a
    // degenerate LSH bucket before the size filter drops it). Both cap
    // sites must enforce through collect_capped — buffers bounded at
    // cap+1 map-side — with map-side partial aggregation and no Window.
    import org.apache.spark.sql.execution.window.WindowExec
    val capped = graft.operators.TextDedup.winnowOverlap(
      Tables.documents(spark, sfDir), "doc_id", "text",
      k = 3, w = 4, minShared = 3L, maxPostings = 3L).queryExecution
    assert(capped.executedPlan.collect { case w: WindowExec => w }.isEmpty,
      "winnowOverlap cap rides a window — hot-fp concentration at scale")
    val cp = capped.executedPlan.toString
    assert(cp.contains("partial_collect_capped"),
      s"winnowOverlap cap lacks map-side partial collect_capped:\n$cp")
    assert(!cp.contains("collect_list"),
      "winnowOverlap capped path buffers unbounded posting lists")

    val sigs = graft.operators.TextDedup.bandSignaturesProjected(
      Tables.documents(spark, sfDir), "doc_id", "text", n = 3, k = 16, r = 4)
    val bp = graft.operators.TextDedup
      .candidatePairs(sigs, "doc_id", maxBucketSize = Some(10))
      .queryExecution.executedPlan.toString
    assert(bp.contains("partial_collect_capped"),
      s"candidatePairs cap lacks map-side partial collect_capped:\n$bp")
    assert(!bp.contains("collect_list"),
      "candidatePairs capped path buffers unbounded buckets")
  }
}
