package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search: exact cosine top-k as the correctness
  * baseline, and random-hyperplane LSH bucketing as the scale path.
  *
  * Vector math casts to double before multiplying and folds
  * left-to-right, so an external engine evaluating the same fold
  * reproduces the values bit-for-bit.
  */
object Similarity {

  /** Elementwise dot product of two array columns, accumulated in double
    * in element order — the native codegen'd expression
    * ([[graft.functions.ArrayDot]]): same fold semantics as
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` but inside whole-stage
    * codegen with no per-pair array allocation. */
  def dot(a: Column, b: Column): Column = graft.functions.ArrayDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / norm(a) / norm(b)

  /** Scale-safe deterministic top-k per query over a scored candidate
    * stream: one partial-aggregating `graft_top_k` (Spark's bounded
    * CollectTopK priority queue) keyed by the query id.
    *
    * This replaces the round-11 funnel
    * `row_number() over (partitionBy query_id)` — for brute-force
    * scoring, that window put every scored corpus row for a query into
    * ONE window partition: a single task sorting O(corpus) rows per
    * query at 100 TB. Here each map task's state is bounded at k rows
    * per query and only ≤ tasks·k survivors shuffle to the per-query
    * merge; nothing corpus-sized ever crosses the wire or sits in one
    * task.
    *
    * Results are bit-identical to the window form: ordering is
    * (score desc|asc, id asc) via a (sortKey, id) struct — score
    * negation is a sign flip, exact for doubles — and `rn` is the
    * 1-based rank in that order. (NaN scores, impossible for the
    * finite embeddings this serves, would rank last instead of the
    * window's first.)
    *
    * Output: (queryCol, idCol, scoreCol, rn) — idCol/scoreCol keep
    * their input types.
    */
  def topKPerQuery(scored: DataFrame, k: Int, scoreCol: String,
      scoreDesc: Boolean, idCol: String = "vec_id",
      queryCol: String = "query_id",
      payloadCols: Seq[String] = Nil): DataFrame = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.GraftFunctions.register)
    val sortKey =
      if (scoreDesc) -col(scoreCol).cast("double")
      else col(scoreCol).cast("double")
    // payload columns ride the struct AFTER (sortKey, id): (k, i) is
    // already unique per query, so they can never influence the order —
    // they just avoid a join-back to recover carried columns
    val hit = struct(
      (Seq(sortKey.as("k"), col(idCol).as("i"), col(scoreCol).as("s")) ++
        payloadCols.zipWithIndex.map { case (c, j) => col(c).as(s"p$j") }): _*)
    scored
      .groupBy(queryCol)
      .agg(call_function("graft_top_k", hit, lit(k), lit(true)).as("__topk"))
      // array_sort pins ascending (sortKey, id) order independent of the
      // queue's emission order; k elements, negligible
      .select(col(queryCol),
        posexplode(array_sort(col("__topk"))).as(Seq("__p", "__t")))
      .select((Seq(col(queryCol), col("__t.i").as(idCol),
        col("__t.s").as(scoreCol)) ++
        payloadCols.zipWithIndex.map { case (c, j) =>
          col(s"__t.p$j").as(c) } :+
        (col("__p") + 1).cast("int").as("rn")): _*)
  }

  /** Exact top-k cosine neighbors for each query vector. The query set is
    * expected to be small (it is broadcast); the corpus side is one
    * distributed pass — the brute-force baseline an ANN variant is judged
    * against. Top-k via [[topKPerQuery]]: bounded partial aggregation,
    * never a corpus-sized per-query window partition.
    * Returns (query_id, vec_id, c, rn).
    */
  def cosineTopK(
      queries: DataFrame,   // (query_id, qv)
      corpus: DataFrame,    // (vec_id, embedding, ...)
      k: Int): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("c", cosine(col("qv"), col("embedding")))
    topKPerQuery(scored, k, "c", scoreDesc = true)
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell/Goldstein 1998):
    * greedily select `k` of each query's candidates maximizing
    * `λ·relevance − (1−λ)·max cosine to the already-selected set` — the
    * diversity-aware second stage after any first-stage retriever
    * (dedup-aware retrieval, diverse exemplar mining for training
    * mixes). Pick 1 is the pure-relevance argmax (empty selected set →
    * similarity penalty 0, scored as λ·rel so one formula covers every
    * round); ties break on ascending id, so selection is deterministic.
    *
    * `candidates` must be a BOUNDED per-query list — (queryCol, idCol,
    * relCol, vecCol), the output of a top-N first stage joined back to
    * its vectors. Greedy selection is inherently sequential in k, so
    * the k rounds are unrolled into the plan: each round anti-joins the
    * (≤N-row) per-query remainder against the (<k-row) selected set,
    * scores each remaining candidate's max-similarity-to-selected with
    * a partial-aggregating max over ≤k pair rows, and picks the next
    * winner with the bounded [[topKPerQuery]]. Per query that is
    * O(N·k²) arithmetic on ≤N·k rows — fully parallel across queries,
    * nothing corpus-sized, no rank window. Keep k small (it multiplies
    * plan depth); the candidate frame is cached because every round
    * re-reads it.
    *
    * Output: (queryCol, idCol, mmr, rn) — rn = 1-based selection order.
    */
  def mmrRerank(
      candidates: DataFrame,
      k: Int,
      lambda: Double = 0.5,
      idCol: String = "vec_id",
      queryCol: String = "query_id",
      relCol: String = "rel",
      vecCol: String = "embedding",
      pin: Boolean = true): DataFrame = {
    require(k >= 1, "mmrRerank needs k >= 1")
    // pin=false keeps the full lineage visible (plan audits); the
    // checkpointed default is what production runs
    def pinned(df: DataFrame): DataFrame =
      if (pin) df.localCheckpoint(false) else df
    val cand = candidates.select(col(queryCol), col(idCol),
      col(relCol).cast("double").as(relCol), col(vecCol)).cache()
    val vecs = cand.select(col(queryCol), col(idCol), col(vecCol))
    def withVec(sel: DataFrame) = sel.join(vecs, Seq(queryCol, idCol))
    val first = topKPerQuery(
      cand.withColumn("mmr", lit(lambda) * col(relCol)),
      1, "mmr", scoreDesc = true, idCol = idCol, queryCol = queryCol)
    // selected feeds three consumers per round (anti-join, sim join,
    // union) — pin each round's ≤k·queries-row result so the plan grows
    // linearly in k, not exponentially
    var selected = pinned(withVec(first))
    for (t <- 2 to k) {
      val rem = cand.join(selected.select(queryCol, idCol),
        Seq(queryCol, idCol), "left_anti")
      val scored = rem
        .join(selected.select(col(queryCol), col(vecCol).as("__sv")),
          Seq(queryCol))
        .select(col(queryCol), col(idCol), col(relCol),
          cosine(col(vecCol), col("__sv")).as("__s"))
        .groupBy(queryCol, idCol)
        .agg(max(relCol).as(relCol), max("__s").as("__ms"))
        .withColumn("mmr",
          lit(lambda) * col(relCol) - lit(1.0 - lambda) * col("__ms"))
      val pick = topKPerQuery(scored, 1, "mmr", scoreDesc = true,
          idCol = idCol, queryCol = queryCol)
        .withColumn("rn", lit(t))
      selected = pinned(selected.unionByName(withVec(pick)))
    }
    selected.select(col(queryCol), col(idCol), col("mmr"),
      col("rn").cast("int").as("rn"))
  }

  /** Max cosine of `vec` against a LITERAL set of vectors (id, vector,
    * norm triples, the [[Clustering.seedCentroids]] shape) — the
    * semantic-contamination probe: benchmark/eval embeddings are tiny
    * and ride the plan as literals, so the whole check is a map-only
    * projection — no join, no shuffle, no broadcast round-trip (the
    * IVF-centroid literal pattern). max() is order-independent over
    * IEEE doubles, so any engine replaying the per-vector cosine folds
    * reproduces the value exactly. */
  def maxCosineToSet(vec: Column,
      set: Seq[(Long, Seq[Double], Double)]): Column =
    array_max(array(set.map { case (_, v, nrm) =>
      dot(typedLit(v), vec) / (lit(nrm) * norm(vec))
    }: _*))

  /** Deterministic pseudo-random hyperplane component in [-1, 1):
    * derived from md5(plane "_" dim) so it is reproducible anywhere.
    * Computed once at plan-build time and embedded as literals — the
    * executors never hash.
    */
  def planeComponent(plane: Int, d: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${plane}_$d".getBytes("UTF-8"))
      .take(2).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex, 16) - 32768.0) / 32768.0
  }

  def planeVector(plane: Int, dim: Int): Seq[Double] =
    (0 until dim).map(d => planeComponent(plane, d))

  /** LSH bucket id: one sign bit per hyperplane. Buckets are computed in
    * a single projection — at scale this is the partition key that
    * replaces the all-pairs join.
    */
  def lshBucket(vec: Column, dim: Int, numPlanes: Int): Column =
    (0 until numPlanes).map { p =>
      val w = typedLit(planeVector(p, dim))
      when(dot(w, vec) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Embedding-cosine near-duplicate pairs: LSH-bucket the corpus, pair
    * only WITHIN buckets (the shuffle key at 100 TB — never all-pairs),
    * verify cosine ≥ threshold. Norms are computed once per vector
    * before the join, so each candidate pair costs one dot product.
    * Returns (vec_a, vec_b, cosine).
    */
  def cosineNearDup(
      corpus: DataFrame,    // (vec_id, embedding, ...)
      dim: Int,
      numPlanes: Int,
      threshold: Double): DataFrame = {
    // cached: the self-join references this subtree twice — without
    // storage every vector would pay the bucket + norm dot products
    // (the expensive part) twice
    val b = corpus.select(col("vec_id"), col("embedding"))
      .withColumn("bucket", lshBucket(col("embedding"), dim, numPlanes))
      .withColumn("nrm", norm(col("embedding")))
      .cache()
    val a = b.select(col("bucket"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val c = b.select(col("bucket"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(c, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "cosine")
  }

  /** Scalar-quantized (int8) asymmetric top-k: the corpus is quantized
    * per-dimension to 0..255 codes against corpus min/max (the classic
    * SQ8 storage layout — 4× smaller than float32, int-SIMD scannable),
    * queries stay full-precision, and scoring runs on the dequantized
    * reconstruction (asymmetric distance computation). The per-dimension
    * bounds are a bounded O(dim) driver collect — independent of corpus
    * size, the same literal-projection pattern as IVF centroids — so the
    * quantize + dequantize is a map-only projection with no shuffle.
    * Dequantized vectors and their norms are computed once per corpus
    * row BEFORE the query join: each candidate pair costs one dot.
    *
    * Returns (query_id, vec_id, c) with c = cosine(dequantized corpus
    * vector, full-precision query), top-k per query.
    */
  /** Per-dimension corpus [min, max] — one tiny aggregation (dim
    * groups) collected to the driver: bounded by dim, independent of
    * corpus size. */
  def sq8Bounds(corpus: DataFrame, dim: Int): (Array[Double], Array[Double]) = {
    val mmRows = corpus
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(min(col("x").cast("double")).as("mn"), max(col("x").cast("double")).as("mx"))
      .collect()
    val mn = new Array[Double](dim)
    val mx = new Array[Double](dim)
    mmRows.foreach { r => val p = r.getInt(0); mn(p) = r.getDouble(1); mx(p) = r.getDouble(2) }
    (mn, mx)
  }

  /** The int8 storage column: codes[i] = round((x-mn)*255/(mx-mn)),
    * constant dims encode 0. Materialize this (as TINYINT after a -128
    * shift) for the 4×-smaller at-rest layout; [[sq8TopK]] scores
    * without materializing codes. */
  def sq8Codes(vec: Column, mn: Array[Double], mx: Array[Double], dim: Int): Column = {
    val mnL = typedLit(mn.toSeq)
    val mxL = typedLit(mx.toSeq)
    transform(sequence(lit(0), lit(dim - 1)), i => {
      val x = element_at(vec, i + 1).cast("double")
      val m = element_at(mnL, i + 1)
      val M = element_at(mxL, i + 1)
      when(M > m, round((x - m) * lit(255.0) / (M - m), 0).cast("int")).otherwise(lit(0))
    })
  }

  def sq8TopK(
      queries: DataFrame,   // (query_id, qv)
      corpus: DataFrame,    // (vec_id, embedding, ...)
      dim: Int,
      k: Int): DataFrame = {
    val (mn, mx) = sq8Bounds(corpus, dim)
    val mnL = typedLit(mn.toSeq)
    val mxL = typedLit(mx.toSeq)
    // quantize→dequantize FUSED on the native kernel
    // (graft.functions.Sq8Recon — BigDecimal HALF_UP, bit-identical to
    // the round() SQL form; the historical lesson stands: routing the
    // reconstruction through a codes attribute inlined the codes
    // transform into every element_at and went O(dim²) interpreted,
    // measured 5.8 s vs 0.4 s at sf0.1).
    val deq = graft.functions.Sq8Recon(col("embedding"), mn.toSeq, mx.toSeq)
    val quantized = corpus.select(col("vec_id"), deq.as("deq"))
      .withColumn("nrm", norm(col("deq")))
    val scored = quantized.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("c", dot(col("deq"), col("qv")) / col("nrm") / norm(col("qv")))
    topKPerQuery(scored, k, "c", scoreDesc = true)
      .select("query_id", "vec_id", "c")
  }

  /** ANN via hyperplane LSH: queries only score candidates in their own
    * bucket. Recall is tunable via numPlanes (fewer planes → bigger
    * buckets → higher recall, more work).
    */
  def annTopK(
      queries: DataFrame,   // (query_id, qv)
      corpus: DataFrame,    // (vec_id, embedding, ...)
      dim: Int,
      numPlanes: Int,
      k: Int): DataFrame = {
    val bq = queries.withColumn("bucket", lshBucket(col("qv"), dim, numPlanes))
    val bc = corpus.withColumn("bucket", lshBucket(col("embedding"), dim, numPlanes))
    val scored = bc.join(broadcast(bq), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("c", cosine(col("qv"), col("embedding")))
    topKPerQuery(scored, k, "c", scoreDesc = true)
  }

  // ---- random projection (Johnson-Lindenstrauss) ----------------------

  /** JL random projection to `outDim` dims: y_p = (Σ_d x_d·R_pd)/√outDim
    * with R the deterministic md5-derived plane matrix
    * ([[planeComponent]] — the same family as the LSH hyperplanes, so
    * the matrix is plan-time literal and any engine replays it).
    * Distance-preserving up to the JL bound; one fused projection,
    * O(dim·outDim) per row. */
  def rpProject(vec: Column, dim: Int, outDim: Int): Column = {
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val planes = (0 until outDim).map(p => (0 until dim).map(d =>
      planeComponent(p, d)))
    // native matrix-vector kernel (graft.functions.MatVecFold) — same
    // ascending fold × post-scale as the interpreted HOF it replaces
    graft.functions.MatVecFold(vec, planes, scale)
  }

  /** Top-k cosine in the JL-reduced space: the corpus is projected ONCE
    * (4× smaller vectors at 64→16), queries broadcast — the cheap
    * first-pass ranking whose candidates an exact pass re-ranks at
    * scale. Same plan shape as [[sq8TopK]]. */
  def rpTopK(
      queries: DataFrame,   // (query_id, qv)
      corpus: DataFrame,    // (vec_id, embedding, ...)
      dim: Int,
      outDim: Int,
      k: Int): DataFrame = {
    val proj = corpus.select(col("vec_id"),
        rpProject(col("embedding"), dim, outDim).as("y"))
      .withColumn("nrm", norm(col("y")))
    val qproj = queries.select(col("query_id"),
      rpProject(col("qv"), dim, outDim).as("qy"))
    val scored = proj.crossJoin(broadcast(qproj))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("c", dot(col("y"), col("qy")) / col("nrm") / norm(col("qy")))
    topKPerQuery(scored, k, "c", scoreDesc = true)
      .select("query_id", "vec_id", "c")
  }

  // ---- binary (sign) codes --------------------------------------------

  /** 1-bit-per-dimension binary code: bit i set iff embedding[i] > 0,
    * packed into a single BIGINT for dim ≤ 64 — the 32×-smaller
    * storage column of binary hashing (sign random projections are
    * [[lshBucket]]; identity signs are the standard "binarize the
    * embedding" baseline).
    *
    * The fold is UNROLLED at plan time (dim is a constant) into a sum
    * of per-bit literals, ascending bit order: partial sums peak at
    * 2^63−1 before the (negative, two's-complement) bit-63 literal is
    * added last, so every intermediate stays in BIGINT range under
    * ANSI overflow checking — in Spark and in a replaying engine alike. */
  def signCode(vec: Column, dim: Int): Column = {
    require(dim >= 1 && dim <= 64, s"signCode packs into one BIGINT: dim $dim")
    (0 until dim).map(i =>
      when(element_at(vec, i + 1).cast("double") > 0.0, lit(1L << i))
        .otherwise(lit(0L)))
      .reduce(_ + _)
  }

  /** Hamming top-k over binary sign codes: corpus and queries collapse
    * to one long each; distance is xor + popcount — the cheapest
    * possible per-pair scoring (one ALU op vs dim multiplies), the
    * standard first-pass filter before exact re-ranking at 100 TB.
    * Ties: smaller distance, then smaller vec_id. */
  def hammingTopK(
      queries: DataFrame,   // (query_id, qv)
      corpus: DataFrame,    // (vec_id, embedding, ...)
      dim: Int,
      k: Int): DataFrame = {
    val enc = corpus.select(col("vec_id"), signCode(col("embedding"), dim).as("code"))
    val qenc = queries.select(col("query_id"), signCode(col("qv"), dim).as("qcode"))
    val scored = enc.crossJoin(broadcast(qenc))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("hamming", bit_count(col("code").bitwiseXOR(col("qcode"))))
    topKPerQuery(scored, k, "hamming", scoreDesc = false)
      .select("query_id", "vec_id", "hamming")
  }

  // ---- product quantization (PQ) --------------------------------------

  /** Deterministic PQ codebook: the `ks` corpus vectors with the
    * smallest (md5-fold(vec_id), vec_id) rank, in rank order — a
    * content-hash sample, so any engine reproduces the identical
    * codebook (the k-means-trained variant plugs [[Clustering.kmeans]]
    * per subspace; sampled codewords keep the oracle bit-replayable).
    * One bounded TakeOrdered collect: O(ks·dim) driver bytes. */
  def pqCodebook(corpus: DataFrame, ks: Int): Array[Seq[Double]] =
    corpus
      .select(col("vec_id"), col("embedding"),
        conv(substring(md5(col("vec_id").cast("string")), 1, 7), 16, 10)
          .cast("long").as("__r"))
      .orderBy(col("__r"), col("vec_id"))
      .limit(ks)
      .collect()
      .map(_.getSeq[Float](1).map(_.toDouble))

  /** Fused PQ encode+reconstruct on the NATIVE kernel
    * ([[graft.functions.PqReconstruct]] — a codegen'd triple loop; the
    * interpreted HOF form below ran m·ks·subDim boxed lambda steps per
    * row and dominated both PQ queries). Bit-identical to
    * [[pqReconHof]] and the SQL replay. */
  def pqRecon(vec: Column, codebook: Array[Seq[Double]], m: Int,
      subDim: Int): Column =
    graft.functions.PqReconstruct(vec, codebook, m)

  /** The interpreted higher-order-function formulation — kept as the
    * differential reference for the kernel (one expression, no codes
    * attribute: routing codes through an attribute inlines the argmin
    * into every element_at, the measured O(dim²) SQ8 trap). */
  private[graft] def pqReconHof(vec: Column, codebook: Array[Seq[Double]], m: Int,
      subDim: Int): Column = {
    val cbL = typedLit(codebook.toSeq)
    val ks = codebook.length
    flatten(transform(sequence(lit(0), lit(m - 1)), j0 => {
      val dists = transform(sequence(lit(1), lit(ks)), c =>
        aggregate(sequence(lit(1), lit(subDim)), lit(0.0), (acc, i) => {
          val idx = j0 * subDim + i
          val d = element_at(vec, idx).cast("double") -
            element_at(element_at(cbL, c), idx)
          acc + d * d
        }))
      val best = array_position(dists, array_min(dists)).cast("int")
      slice(element_at(cbL, best), j0 * subDim + 1, lit(subDim))
    }))
  }

  /** PQ storage codes: codes[j] = 0-based index of the nearest codeword
    * in subspace j (first-min tie-break) — the m-byte compressed form
    * (dim·4 bytes → m bytes per vector). */
  def pqCodes(vec: Column, codebook: Array[Seq[Double]], m: Int,
      subDim: Int): Column = {
    val cbL = typedLit(codebook.toSeq)
    val ks = codebook.length
    transform(sequence(lit(0), lit(m - 1)), j0 => {
      // j is a column; build per-j dists by folding over codewords with
      // a strict-< argmin (computes each distance once).
      val dists = transform(sequence(lit(1), lit(ks)), c =>
        aggregate(sequence(lit(1), lit(subDim)), lit(0.0), (acc, i) => {
          val idx = j0 * subDim + i
          val d = element_at(vec, idx).cast("double") -
            element_at(element_at(cbL, c), idx)
          acc + d * d
        }))
      array_position(dists, array_min(dists)).cast("int") - 1
    })
  }

  /** Asymmetric PQ top-k: corpus vectors are replaced by their nearest-
    * codeword reconstruction (per subspace), queries stay exact, cosine
    * on the reconstruction — the PQ-ADC scoring rule on a sampled
    * codebook.
    *
    * Scale shape (mirrors [[sq8TopK]]): codebook = one bounded collect;
    * per-corpus-row encode+reconstruct is a single fused projection
    * (routing codes through an attribute would inline the argmin into
    * every element_at — the measured O(dim²) trap from SQ8); recon and
    * its norm materialize ONCE per corpus row behind a projection
    * boundary before the broadcast query join; top-k is a bounded
    * rank window per query.
    */
  def pqTopK(
      queries: DataFrame,   // (query_id, qv)
      corpus: DataFrame,    // (vec_id, embedding, ...)
      dim: Int,
      m: Int,
      ks: Int,
      k: Int,
      codebook: Option[Array[Seq[Double]]] = None): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val cb = codebook.getOrElse(pqCodebook(corpus, ks))
    val encoded = corpus.select(col("vec_id"),
      pqRecon(col("embedding"), cb, m, dim / m).as("recon"))
      .withColumn("nrm", norm(col("recon")))
    val scored = encoded.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("c", dot(col("recon"), col("qv")) / col("nrm") / norm(col("qv")))
    topKPerQuery(scored, k, "c", scoreDesc = true)
      .select("query_id", "vec_id", "c")
  }

  /** Recall of an approximate retrieval result list against the exact
    * one — the metric every ANN trade (IVF probes, PQ bits, LSH planes)
    * is tuned by. Both inputs are (queryCol, idCol, ...) candidate
    * lists (the `*TopK` output shape, pre-limited to the k under
    * evaluation). Per query: |approx ∩ exact| / |exact| — one left
    * join on the (query, id) pair key and a partial-agg groupBy,
    * queries-×-k-sized throughout.
    *
    * Output: (queryCol, n_exact, n_hit, recall). */
  def recallAtK(exact: DataFrame, approx: DataFrame,
      queryCol: String = "query_id", idCol: String = "vec_id"): DataFrame = {
    // pair-dedup both sides: a non-distinct candidate list (band-join
    // output, unioned probe lists) would otherwise fan out the join and
    // silently inflate both n_exact and n_hit
    val a = approx.select(col(queryCol), col(idCol)).dropDuplicates()
      .withColumn("__hit", lit(1L))
    exact.select(col(queryCol), col(idCol)).dropDuplicates()
      .join(a, Seq(queryCol, idCol), "left")
      .groupBy(queryCol)
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_exact").cast("double"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, ratio margin —
    * the CCMatrix/LASER parallel-corpus mining criterion): score every
    * forward neighbor pair (x, y) by
    * `margin = cos(x,y) / ((avgₖ cos(x, NNₖ(x)) + avgₖ cos(y, NNₖ(y))) / 2)`
    * — raw cosine is miscalibrated across hubness regions, so each
    * pair is normalized by the two points' own neighborhood densities;
    * pairs with margin ≥ `minMargin` are emitted ranked per src.
    *
    * Shape: forward top-k of each src vector against the tgt corpus
    * (`src` is the bounded/broadcast query side — at 100 TB both
    * directions swap in the IVF probe join, same downstream algebra);
    * backward neighborhoods are computed ONLY for the ≤ |src|·k
    * candidate tgt vectors (semi-join prune, the dedupAgainstIndex
    * discipline). Neighborhood means fold in rank order (array_sort →
    * left-to-right aggregate), so every value is a deterministic
    * function of the inputs and a replaying engine matches bit-for-bit.
    * All ranking is the bounded [[topKPerQuery]] aggregate — no rank
    * window anywhere.
    *
    * Output: (src_id, tgt_id, c, margin, rn) — rn ranks a src's
    * surviving pairs by (margin desc, tgt_id asc). */
  def marginMine(src: DataFrame, tgt: DataFrame, k: Int,
      minMargin: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val s = src.select(col(idCol).as("src_id"), col(vecCol).as("sv"))
    val t = tgt.select(col(idCol).as("tgt_id"), col(vecCol).as("tv"))
    // forward: src (bounded query side) against the full tgt corpus
    val fwd = topKPerQuery(
      t.crossJoin(broadcast(s)).withColumn("c", cosine(col("sv"), col("tv"))),
      k, "c", scoreDesc = true, idCol = "tgt_id", queryCol = "src_id")
    // rank-ordered fold mean: collect ≤k (rn, c) pairs, sort, fold —
    // the deterministic-summation discipline from rolling skew/kurt
    def neighborhoodMean(topk: DataFrame, key: String, as: String) =
      topk.groupBy(key)
        .agg(aggregate(
            array_sort(collect_list(struct(col("rn"), col("c")))),
            lit(0.0), (acc, x) => acc + x.getField("c")).as("__sum"),
          count(lit(1)).cast("double").as("__n"))
        .select(col(key), (col("__sum") / col("__n")).as(as))
    val aSrc = neighborhoodMean(fwd, "src_id", "a_src")
    // backward: only candidate tgt vectors pay a neighborhood pass
    val candT = fwd.select("tgt_id").distinct().join(t, "tgt_id")
    val bwd = topKPerQuery(
      s.crossJoin(broadcast(candT))
        .withColumn("c", cosine(col("tv"), col("sv"))),
      k, "c", scoreDesc = true, idCol = "src_id", queryCol = "tgt_id")
    val aTgt = neighborhoodMean(bwd, "tgt_id", "a_tgt")
    val margined = fwd.join(aSrc, "src_id").join(aTgt, "tgt_id")
      .withColumn("margin",
        col("c") / ((col("a_src") + col("a_tgt")) / lit(2.0)))
      .filter(col("margin") >= minMargin)
    // survivors are ≤k per src; rank by margin with the same bounded
    // aggregate (audit-uniform), c riding as struct payload — no
    // join-back, the margined subtree evaluates once
    topKPerQuery(margined, k, "margin", scoreDesc = true,
        idCol = "tgt_id", queryCol = "src_id", payloadCols = Seq("c"))
      .select("src_id", "tgt_id", "c", "margin", "rn")
  }

  /** Per-group embedding-diversity report — mean pairwise squared
    * Euclidean distance of each group's vectors, the corpus-spread
    * readout for a training mix (a collapsing source shows up as a
    * diversity drop long before eval loss does). Computed by the
    * moment identity
    * `E_{i≠j}‖x_i − x_j‖² = 2·n/(n−1)·(E‖x‖² − ‖µ‖²)`
    * so the all-pairs quantity costs two linear aggregates, NEVER a
    * pairs join: one doc-level pass (n, mean squared norm via the
    * ArrayDot fold) and one per-dimension mean (posexplode → (group,
    * dim) partial agg — scalars shuffle, dims·groups rows out), then
    * ‖µ‖² = Σ_d µ_d². Single-vector groups yield NULL via nullif.
    *
    * Output: (groupCol, n_vecs, mean_sq_norm, centroid_sq_norm,
    * mean_pairwise_sq_dist), unrounded — callers round for reports. */
  def embeddingDiversity(df: DataFrame, vecCol: String,
      groupCol: String): DataFrame = {
    val moments = df.groupBy(groupCol).agg(
      count(lit(1)).as("n_vecs"),
      avg(dot(col(vecCol), col(vecCol))).as("mean_sq_norm"))
    val centroid = df
      .select(col(groupCol), posexplode(col(vecCol)).as(Seq("__d", "__x")))
      .groupBy(col(groupCol), col("__d"))
      .agg(avg(col("__x").cast("double")).as("__m"))
      .groupBy(groupCol)
      .agg(sum(col("__m") * col("__m")).as("centroid_sq_norm"))
    moments.join(centroid, Seq(groupCol))
      .withColumn("mean_pairwise_sq_dist",
        lit(2.0) * col("n_vecs") /
          nullif((col("n_vecs") - lit(1L)).cast("double"), lit(0.0)) *
          (col("mean_sq_norm") - col("centroid_sq_norm")))
  }
}
