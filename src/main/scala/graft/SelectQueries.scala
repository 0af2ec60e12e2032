package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dsir, Packing, QualityModel, Retrieval, Similarity}

/** Data-selection and retrieval coverage: BM25 lexical retrieval,
  * DSIR importance resampling, a trained hashed-feature quality
  * classifier, product-quantized ANN, and training-shard manifests.
  *
  * All engine extensions beyond the reference's operator list (public
  * methods: Okapi BM25; Xie et al. 2023 DSIR; Brown et al. 2020 §A.2
  * quality classifier; Jégou et al. 2011 product quantization). Every
  * query has a DuckDB oracle replaying the identical md5-derived
  * hashing and double arithmetic.
  */
object SelectQueries {

  /** DuckDB mirror of [[graft.operators.Retrieval.bm25TopK]] over
    * `documents`: queries = distinct first-6-word terms of docs with
    * doc_id < `cut`, Okapi BM25 (k1=1.2, b=0.75). Ends in relation
    * `bm25r` = (query_id, doc_id, score, rn). Shared by the
    * q_bm25_topk and q_rrf_fusion oracles so they can never drift. */
  private def bm25Ctes(cut: Int): String =
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |q AS (SELECT DISTINCT doc_id AS query_id, unnest(ws[1:6]) AS term
       |      FROM d WHERE doc_id < $cut),
       |toks AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM d),
       |matched AS (SELECT * FROM toks
       |            WHERE term IN (SELECT DISTINCT term FROM q)),
       |tf AS (SELECT doc_id, CAST(dl AS DOUBLE) AS dl, term, count(*) AS tf
       |       FROM matched GROUP BY 1, 2, 3),
       |dfx AS (SELECT term, count(DISTINCT doc_id) AS df FROM matched GROUP BY 1),
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |            avg(CAST(len(ws) AS DOUBLE)) AS avgdl FROM d),
       |contrib AS (SELECT query_id, doc_id,
       |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2) /
       |      (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS c
       |  FROM tf JOIN dfx USING (term) JOIN q USING (term), stats),
       |sc AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY 1, 2),
       |bm25r AS (SELECT query_id, doc_id, score,
       |        row_number() OVER (PARTITION BY query_id
       |                           ORDER BY score DESC, doc_id) AS rn
       |      FROM sc)""".stripMargin

  /** DuckDB mirror of [[graft.operators.Retrieval.jaccardTopK]] over
    * `documents` (word trigrams, 28-bit md5 shingle hashes): queries =
    * docs with doc_id < `cut`, self-matches excluded. Ends in relation
    * `jacr` = (query_id, doc_id, jaccard, rn). Shared by the
    * q_jaccard_topk and q_rrf_fusion oracles so they can never drift. */
  private def jaccardCtes(cut: Int): String =
    s"""words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |sh AS (SELECT DISTINCT doc_id,
       |    CAST('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 7)
       |      AS BIGINT) AS h
       |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i
       |        FROM words)),
       |sizes AS (SELECT doc_id, count(*) AS cs FROM sh GROUP BY 1),
       |qs AS (SELECT doc_id AS query_id, h FROM sh WHERE doc_id < $cut),
       |qsize AS (SELECT query_id, count(*) AS nq FROM qs GROUP BY 1),
       |inter AS (SELECT query_id, s.doc_id, count(*) AS i
       |  FROM qs JOIN sh s USING (h) WHERE s.doc_id <> qs.query_id
       |  GROUP BY 1, 2),
       |scored AS (SELECT query_id, doc_id,
       |    CAST(i AS DOUBLE) / CAST(nq + cs - i AS DOUBLE) AS jaccard
       |  FROM inter JOIN qsize USING (query_id) JOIN sizes USING (doc_id)),
       |jacr AS (SELECT query_id, doc_id, jaccard,
       |        row_number() OVER (PARTITION BY query_id
       |                           ORDER BY jaccard DESC, doc_id) AS rn
       |      FROM scored)""".stripMargin

  def registerAll(reg: (String, Option[String], (SparkSession, String) => DataFrame) => Unit): Unit = {

    def q(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Unit =
      reg(name, Some(oracle), fn)

    // ---- BM25 lexical retrieval ---------------------------------------

    // Queries = the distinct first-6-word terms of docs 0..3; Okapi BM25
    // (k1=1.2, b=0.75), top-5 per query. Inverted-index shape: the token
    // stream is semi-joined against the broadcast query-term set before
    // any shuffle.
    q("q_bm25_topk",
      s"""WITH ${bm25Ctes(4)}
        |SELECT query_id, doc_id, round(score, 6) AS score FROM bm25r WHERE rn <= 5
        |ORDER BY query_id, score DESC, doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val queries = docs.filter(col("doc_id") < 4)
        .select(col("doc_id").as("query_id"),
          explode(slice(split(col("text"), " "), 1, 6)).as("term"))
      Retrieval.bm25TopK(docs, "doc_id", "text", queries, k = 5)
        .select(col("query_id"), col("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("score").desc, col("doc_id"))
    }

    // Lexical doc-kNN (operators.Retrieval.jaccardTopK): top-5 most
    // similar corpus docs per query doc by word-trigram Jaccard, exact
    // over the shared-shingle candidates. Per-doc shingle sets from ONE
    // row-local kernel call; broadcast query side; (query, doc)-keyed
    // partial-agg intersection counts; bounded top-k.
    q("q_jaccard_topk",
      s"""WITH ${jaccardCtes(3)}
        |SELECT query_id, doc_id, round(jaccard, 9) AS jaccard, CAST(rn AS INT) AS rn
        |FROM jacr WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val queries = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"), col("text"))
      Retrieval.jaccardTopK(docs, "doc_id", "text", queries, n = 3, k = 5)
        .select(col("query_id"), col("doc_id"),
          round(col("jaccard"), 9).as("jaccard"), col("rn"))
        .orderBy("query_id", "rn")
    }

    // Hybrid retrieval via reciprocal-rank fusion: the BM25 and
    // trigram-Jaccard top-5 lists above, fused on rank alone
    // (score = Σ 1/(60+rn)) — no score calibration across retrievers.
    // Both CTE stacks are the SHARED defs used by q_bm25_topk /
    // q_jaccard_topk, so this oracle can never drift from them. The
    // fused candidate set is ≤ lists·k per query: everything after the
    // (already bounded) retrievers is map-only + a ≤2-row-group sum.
    q("q_rrf_fusion",
      s"""WITH ${bm25Ctes(3)},
        |${jaccardCtes(3)},
        |u AS (SELECT query_id, doc_id, 1.0 / (60.0 + rn) AS w
        |      FROM bm25r WHERE rn <= 5
        |      UNION ALL
        |      SELECT query_id, doc_id, 1.0 / (60.0 + rn) AS w
        |      FROM jacr WHERE rn <= 5),
        |f AS (SELECT query_id, doc_id, sum(w) AS rrf FROM u GROUP BY 1, 2),
        |fr AS (SELECT query_id, doc_id, rrf,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY rrf DESC, doc_id) AS rn
        |       FROM f)
        |SELECT query_id, doc_id, round(rrf, 9) AS rrf, CAST(rn AS INT) AS rn
        |FROM fr WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val qdocs = docs.filter(col("doc_id") < 3)
      val lex = Retrieval.bm25TopK(docs, "doc_id", "text",
        qdocs.select(col("doc_id").as("query_id"),
          explode(slice(split(col("text"), " "), 1, 6)).as("term")), k = 5)
      val knn = Retrieval.jaccardTopK(docs, "doc_id", "text",
        qdocs.select(col("doc_id").as("query_id"), col("text")), n = 3, k = 5)
      Retrieval.rrfFuse(Seq(lex, knn), k = 5)
        .select(col("query_id"), col("doc_id"),
          round(col("rrf"), 9).as("rrf"), col("rn"))
        .orderBy("query_id", "rn")
    }

    // MMR diversity re-ranking: cosine top-8 per query (3 queries),
    // then greedy λ=0.5 maximal-marginal-relevance selection of 3 —
    // each pick maximizes λ·rel − (1−λ)·max-cos-to-selected. The
    // oracle unrolls the same 3 greedy rounds with the identical
    // double arithmetic (cast-to-double cosine folds, CAST(0.5 AS
    // DOUBLE) factors), so selections and scores match bit-for-bit.
    {
      val cos = LlmQueries.cosSql("qvv", "embedding")
      val ce = LlmQueries.cosSql("c.emb", "s.emb")
      val l = "CAST(0.5 AS DOUBLE)"
      q("q_mmr_rerank",
        s"""WITH qv AS (SELECT vec_id AS query_id, embedding AS qvv
          |            FROM embeddings WHERE vec_id < 3),
          |scx AS (SELECT query_id, vec_id, $cos AS rel, embedding AS emb
          |       FROM embeddings, qv WHERE vec_id != query_id),
          |cand AS (SELECT query_id, vec_id, rel, emb FROM (
          |    SELECT *, row_number() OVER (PARTITION BY query_id
          |                                 ORDER BY rel DESC, vec_id) AS rr
          |    FROM scx) WHERE rr <= 8),
          |s1 AS (SELECT query_id, vec_id, $l * rel AS mmr, 1 AS rn, emb
          |       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          |               ORDER BY $l * rel DESC, vec_id) AS pk FROM cand)
          |       WHERE pk = 1),
          |p2 AS (SELECT c.query_id, c.vec_id, max(c.rel) AS rel,
          |              max($ce) AS ms
          |       FROM cand c JOIN s1 s USING (query_id)
          |       WHERE c.vec_id <> s.vec_id GROUP BY 1, 2),
          |s2 AS (SELECT query_id, vec_id, $l * rel - $l * ms AS mmr, 2 AS rn
          |       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          |               ORDER BY $l * rel - $l * ms DESC, vec_id) AS pk
          |             FROM p2) WHERE pk = 1),
          |sel2 AS (SELECT query_id, vec_id, emb FROM s1
          |         UNION ALL
          |         SELECT s2.query_id, s2.vec_id, c.emb
          |         FROM s2 JOIN cand c ON s2.query_id = c.query_id
          |                            AND s2.vec_id = c.vec_id),
          |p3 AS (SELECT c.query_id, c.vec_id, max(c.rel) AS rel,
          |              max($ce) AS ms
          |       FROM cand c JOIN sel2 s USING (query_id)
          |       WHERE NOT EXISTS (SELECT 1 FROM sel2 x
          |           WHERE x.query_id = c.query_id AND x.vec_id = c.vec_id)
          |       GROUP BY 1, 2),
          |s3 AS (SELECT query_id, vec_id, $l * rel - $l * ms AS mmr, 3 AS rn
          |       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          |               ORDER BY $l * rel - $l * ms DESC, vec_id) AS pk
          |             FROM p3) WHERE pk = 1),
          |outx AS (SELECT query_id, vec_id, mmr, rn FROM s1
          |        UNION ALL SELECT query_id, vec_id, mmr, rn FROM s2
          |        UNION ALL SELECT query_id, vec_id, mmr, rn FROM s3)
          |SELECT query_id, vec_id, round(mmr, 9) AS mmr, CAST(rn AS INT) AS rn
          |FROM outx ORDER BY query_id, rn""".stripMargin) { (s, dir) =>
        val e = Tables.embeddings(s, dir)
        val queries = e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        val cand = Similarity.cosineTopK(queries, e, k = 8)
          .select(col("query_id"), col("vec_id"), col("c").as("rel"))
          .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        Similarity.mmrRerank(cand, k = 3, lambda = 0.5)
          .select(col("query_id"), col("vec_id"),
            round(col("mmr"), 9).as("mmr"), col("rn"))
          .orderBy("query_id", "rn")
      }
    }

    // ---- DSIR importance resampling -----------------------------------

    // Target distribution = English docs; raw pool = the rest. Hashed
    // unigram+bigram buckets (B=4096), add-1-smoothed log ratio, Gumbel
    // top-20 with md5-derived noise — deterministic end to end.
    q("q_dsir_select",
      """WITH base AS (SELECT doc_id, lang = 'en' AS is_t,
        |                string_split(text, ' ') AS ws FROM documents),
        |feats AS (SELECT doc_id, is_t, unnest(list_concat(ws,
        |            list_transform(generate_series(1, len(ws) - 1),
        |                           i -> ws[i] || ' ' || ws[i+1]))) AS f
        |          FROM base),
        |per_doc AS (SELECT doc_id, is_t,
        |              CAST('0x' || substr(md5(f), 1, 7) AS BIGINT) % 4096 AS b,
        |              count(*) AS n
        |            FROM feats GROUP BY 1, 2, 3),
        |bt AS (SELECT b, sum(CASE WHEN is_t THEN n ELSE 0 END) AS ct,
        |         sum(CASE WHEN is_t THEN 0 ELSE n END) AS cr
        |       FROM per_doc GROUP BY 1),
        |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM bt),
        |lam AS (SELECT b, ln(ct + 1.0) - ln(nt + 4096.0)
        |               - ln(cr + 1.0) + ln(nr + 4096.0) AS lam FROM bt, tot),
        |w AS (SELECT doc_id, sum(n * lam) AS weight FROM per_doc JOIN lam USING (b)
        |      WHERE NOT is_t GROUP BY 1),
        |keyed AS (SELECT doc_id, weight, weight - ln(-ln(
        |            (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
        |             + 0.5) / 268435456.0)) AS sel_key
        |          FROM w),
        |-- select on the RAW key (as the engine does), round for output only
        |top AS (SELECT * FROM keyed ORDER BY sel_key DESC, doc_id LIMIT 20)
        |SELECT doc_id, round(weight, 6) AS weight, round(sel_key, 6) AS sel_key
        |FROM top ORDER BY sel_key DESC, doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val w = Dsir.importanceWeights(docs, "doc_id", "text",
        col("lang") === "en", buckets = 4096)
      Dsir.gumbelTopK(w, "doc_id", "weight", k = 20)
        .select(col("doc_id"), round(col("weight"), 6).as("weight"),
          round(col("sel_key"), 6).as("sel_key"))
        .orderBy(col("sel_key").desc, col("doc_id"))
    }

    // ---- trained quality classifier -----------------------------------

    // Logistic regression over hashed bag-of-words (B=512), 2 full-batch
    // GD iterations (lr=1) + final scoring, label = English. The oracle
    // replays the training loop unrolled: w0=0 makes iteration 1's
    // sigmoid exactly 0.5; scores and weights are quantized to 9
    // decimals each iteration on both sides so float noise cannot
    // compound.
    // The unrolled-GD CTE stack, shared by the classifier query and the
    // calibration report below.
    val lrCtes =
      """d AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
        |toks AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS t FROM d),
        |feats AS (SELECT doc_id,
        |            CAST('0x' || substr(md5(t), 1, 7) AS BIGINT) % 512 AS b,
        |            count(*) / CAST(min(dl) AS DOUBLE) AS x
        |          FROM toks GROUP BY doc_id, b),
        |lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y FROM d),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d),
        |-- iteration 1: sigma(0) = 0.5 exactly
        |w1 AS (SELECT b, round(-sum((0.5 - y) * x) / n, 9) AS w
        |       FROM feats JOIN lab USING (doc_id), n GROUP BY b, n),
        |b1 AS (SELECT round(-sum(0.5 - y) / n, 9) AS bias FROM lab, n GROUP BY n),
        |-- iteration 2
        |s2 AS (SELECT doc_id, round(sum(x * w) + any_value(bias), 9) AS s
        |       FROM feats JOIN w1 USING (b), b1 GROUP BY doc_id),
        |d2 AS (SELECT doc_id, 1.0 / (1.0 + exp(-s)) - y AS dd
        |       FROM s2 JOIN lab USING (doc_id)),
        |w2 AS (SELECT b, round(any_value(w) - sum(x * dd) / any_value(n), 9) AS w
        |       FROM feats JOIN d2 USING (doc_id) JOIN w1 USING (b), n GROUP BY b),
        |b2 AS (SELECT round(any_value(bias) - sum(dd) / any_value(n), 9) AS bias
        |       FROM d2, b1, n),
        |-- iteration 3
        |s3 AS (SELECT doc_id, round(sum(x * w) + any_value(bias), 9) AS s
        |       FROM feats JOIN w2 USING (b), b2 GROUP BY doc_id),
        |p AS (SELECT doc_id, 1.0 / (1.0 + exp(-s)) AS p FROM s3)""".stripMargin

    q("q_quality_classifier",
      s"""WITH $lrCtes
         |SELECT doc_id, round(p, 6) AS quality,
         |  CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS pred
         |FROM p ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // ONE word_bag_features pin serves all GD iterations (the first
      // of which also counts it and materializes it) AND inference
      // (r16: the feature kernel runs once; the join-based classify
      // re-ran it and paid a doc-keyed aggregate).
      val labels = docs.select(col("doc_id"),
        when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0)).as("y"))
      val pinned = QualityModel.pinLabeledWordFeatures(docs, "doc_id",
        "text", labels, buckets = 512)
      val model = QualityModel.trainLogRegPinned(pinned,
        buckets = 512, iters = 2, lr = 1.0)
      QualityModel.classifyPinned(pinned, model)
        .select(col("doc_id"), round(col("quality"), 6).as("quality"),
          when(col("quality") >= 0.5, lit(1)).otherwise(lit(0)).as("pred"))
        .orderBy("doc_id")
    }

    // Reliability report for the trained classifier (operators
    // .QualityModel.calibration): predicted-probability deciles vs
    // observed positive fraction. Bin midpoints (not float means) keep
    // every output integer-exact.
    q("q_calibration",
      s"""WITH $lrCtes,
         |j AS (SELECT p.doc_id, p.p, y FROM p JOIN lab USING (doc_id)),
         |bk AS (SELECT CAST(least(floor(p * 10), 9) AS INT) AS bucket,
         |         count(*) AS n,
         |         sum(CASE WHEN y > 0.5 THEN 1 ELSE 0 END) AS pos
         |       FROM j GROUP BY 1)
         |SELECT bucket, n,
         |  CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos,
         |  (CAST(bucket AS DOUBLE) + 0.5) / 10 AS midpoint,
         |  abs(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
         |    - (CAST(bucket AS DOUBLE) + 0.5) / 10) AS gap
         |FROM bk ORDER BY bucket""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // same one-pin discipline as q_quality_classifier
      val labels = docs.select(col("doc_id"),
        when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0)).as("y"))
      val pinned = QualityModel.pinLabeledWordFeatures(docs, "doc_id",
        "text", labels, buckets = 512)
      val model = QualityModel.trainLogRegPinned(pinned,
        buckets = 512, iters = 2, lr = 1.0)
      QualityModel.calibration(QualityModel.classifyPinned(pinned, model),
          labels, buckets = 10)
        .orderBy("bucket")
    }

    // ---- product-quantized retrieval ----------------------------------

    // PQ with m=4 subspaces × 16 dims, ks=8 sampled codewords; queries
    // = vec_id < 3, top-5 by asymmetric (reconstruction) cosine.
    q("q_pq_topk",
      """WITH samp AS (SELECT embedding,
        |    row_number() OVER (ORDER BY
        |      CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7) AS BIGINT),
        |      vec_id) AS rk
        |  FROM embeddings),
        |cb AS (SELECT list(embedding ORDER BY rk) AS cbs FROM samp WHERE rk <= 8),
        |recon AS (SELECT vec_id, flatten(list_transform(generate_series(0, 3), j ->
        |    cbs[list_position(
        |      list_transform(cbs, cw -> list_reduce(
        |        list_prepend(CAST(0 AS DOUBLE),
        |          list_transform(generate_series(1, 16), i ->
        |            (CAST(embedding[j*16+i] AS DOUBLE) - CAST(cw[j*16+i] AS DOUBLE))
        |            * (CAST(embedding[j*16+i] AS DOUBLE) - CAST(cw[j*16+i] AS DOUBLE)))),
        |        (acc, v) -> acc + v)),
        |      list_min(list_transform(cbs, cw -> list_reduce(
        |        list_prepend(CAST(0 AS DOUBLE),
        |          list_transform(generate_series(1, 16), i ->
        |            (CAST(embedding[j*16+i] AS DOUBLE) - CAST(cw[j*16+i] AS DOUBLE))
        |            * (CAST(embedding[j*16+i] AS DOUBLE) - CAST(cw[j*16+i] AS DOUBLE)))),
        |        (acc, v) -> acc + v))))
        |    ][j*16+1 : j*16+16])) AS rv
        |  FROM embeddings, cb),
        |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
        |sc AS (SELECT query_id, vec_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(generate_series(1, 64), i ->
        |        rv[i] * CAST(qv[i] AS DOUBLE))), (acc, v) -> acc + v)
        |    / sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(generate_series(1, 64), i -> rv[i] * rv[i])),
        |        (acc, v) -> acc + v))
        |    / sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(generate_series(1, 64), i ->
        |          CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))),
        |        (acc, v) -> acc + v)) AS c
        |  FROM recon, q WHERE vec_id != query_id),
        |r AS (SELECT query_id, vec_id, c,
        |        row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rn
        |      FROM sc)
        |SELECT query_id, vec_id, round(c, 6) AS cosine_pq FROM r WHERE rn <= 5
        |ORDER BY query_id, cosine_pq DESC, vec_id""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      Similarity.pqTopK(queries, emb, dim = 64, m = 4, ks = 8, k = 5)
        .select(col("query_id"), col("vec_id"), round(col("c"), 6).as("cosine_pq"))
        .orderBy(col("query_id"), col("cosine_pq").desc, col("vec_id"))
    }

    // PQ with a K-MEANS-TRAINED codebook (the FAISS-style quality path,
    // Clustering.pqCodebookKmeans): per-subspace Lloyd's — 2 iterations,
    // ks=8 cells seeded by the lowest vec_ids, trained on the whole
    // corpus (trainRows ≥ corpus so the sample CTE collapses) — then the
    // per-subspace centroid lists CONCATENATED into full-dim codewords.
    // roundTo=6 snaps every centroid mean so the oracle replays
    // seed → assign → round(avg) per subspace exactly (the
    // q_kmeans_cells determinism device), and the recon/scoring CTEs
    // are the q_pq_topk machinery verbatim on the trained codebook.
    {
      val (m, subDim, ks, iters) = (4, 16, 8, 2)
      def sdot(a: String, b: String) =
        s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
          s"list_transform(generate_series(1, $subDim), i -> $a[i] * $b[i])), " +
          "(acc, x) -> acc + x)"
      val sb = new StringBuilder
      for (j <- 0 until m) {
        val off = j * subDim
        sb.append(
          s"""e$j AS (SELECT vec_id, list_transform(generate_series(1, $subDim),
             |    i -> CAST(embedding[$off + i] AS DOUBLE)) AS sv FROM embeddings),
             |c${j}_0 AS (SELECT vec_id AS cell, sv AS cv FROM e$j WHERE vec_id < $ks),
             |""".stripMargin)
        for (it <- 1 to iters) {
          sb.append(
            s"""s${j}_$it AS (SELECT e.vec_id, e.sv, c.cell,
               |    ${sdot("c.cv", "e.sv")}
               |      / (sqrt(${sdot("c.cv", "c.cv")}) * sqrt(${sdot("e.sv", "e.sv")})) AS cc
               |  FROM e$j e, c${j}_${it - 1} c),
               |a${j}_$it AS (SELECT vec_id, sv, cell,
               |    row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cell) AS crn
               |  FROM s${j}_$it),
               |u${j}_$it AS (SELECT cell, i, round(avg(sv[i]), 6) AS mn
               |  FROM (SELECT cell, sv, unnest(generate_series(1, $subDim)) AS i
               |        FROM a${j}_$it WHERE crn = 1)
               |  GROUP BY cell, i),
               |c${j}_$it AS (SELECT c.cell, COALESCE(n.cv, c.cv) AS cv
               |  FROM c${j}_${it - 1} c LEFT JOIN
               |    (SELECT cell, list(mn ORDER BY i) AS cv FROM u${j}_$it GROUP BY cell) n
               |    USING (cell)),
               |""".stripMargin)
        }
      }
      sb.append(
        s"""cb AS (SELECT list(c0.cv || c1.cv || c2.cv || c3.cv ORDER BY c0.cell) AS cbs
           |  FROM c0_$iters c0 JOIN c1_$iters c1 ON c0.cell = c1.cell
           |    JOIN c2_$iters c2 ON c0.cell = c2.cell
           |    JOIN c3_$iters c3 ON c0.cell = c3.cell)""".stripMargin)
      q("q_pq_trained_topk",
        s"""WITH ${sb.toString},
          |recon AS (SELECT vec_id, flatten(list_transform(generate_series(0, 3), j ->
          |    cbs[list_position(
          |      list_transform(cbs, cw -> list_reduce(
          |        list_prepend(CAST(0 AS DOUBLE),
          |          list_transform(generate_series(1, 16), i ->
          |            (CAST(embedding[j*16+i] AS DOUBLE) - CAST(cw[j*16+i] AS DOUBLE))
          |            * (CAST(embedding[j*16+i] AS DOUBLE) - CAST(cw[j*16+i] AS DOUBLE)))),
          |        (acc, v) -> acc + v)),
          |      list_min(list_transform(cbs, cw -> list_reduce(
          |        list_prepend(CAST(0 AS DOUBLE),
          |          list_transform(generate_series(1, 16), i ->
          |            (CAST(embedding[j*16+i] AS DOUBLE) - CAST(cw[j*16+i] AS DOUBLE))
          |            * (CAST(embedding[j*16+i] AS DOUBLE) - CAST(cw[j*16+i] AS DOUBLE)))),
          |        (acc, v) -> acc + v))))
          |    ][j*16+1 : j*16+16])) AS rv
          |  FROM embeddings, cb),
          |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
          |sc AS (SELECT query_id, vec_id,
          |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
          |      list_transform(generate_series(1, 64), i ->
          |        rv[i] * CAST(qv[i] AS DOUBLE))), (acc, v) -> acc + v)
          |    / sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          |        list_transform(generate_series(1, 64), i -> rv[i] * rv[i])),
          |        (acc, v) -> acc + v))
          |    / sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          |        list_transform(generate_series(1, 64), i ->
          |          CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))),
          |        (acc, v) -> acc + v)) AS c
          |  FROM recon, q WHERE vec_id != query_id),
          |r AS (SELECT query_id, vec_id, c,
          |        row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rn
          |      FROM sc)
          |SELECT query_id, vec_id, round(c, 6) AS cosine_pqk FROM r WHERE rn <= 5
          |ORDER BY query_id, cosine_pqk DESC, vec_id""".stripMargin) { (s, dir) =>
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        val cb = graft.operators.Clustering.pqCodebookKmeans(emb, ks = ks,
          m = m, dim = 64, iters = iters, trainRows = 1000000, roundTo = 6)
        Similarity.pqTopK(queries, emb, dim = 64, m = m, ks = ks, k = 5,
            codebook = Some(cb))
          .select(col("query_id"), col("vec_id"),
            round(col("c"), 6).as("cosine_pqk"))
          .orderBy(col("query_id"), col("cosine_pqk").desc, col("vec_id"))
      }
    }

    // ---- CCNet perplexity bucketing -----------------------------------

    // Per-language head/middle/tail tertiles of the corpus bigram-LM
    // score (CCNet's filtering signal). Thresholds ride the
    // bounded-memory exact grouped-quantile operator — bit-identical to
    // percentile/quantile_cont, so the whole bucketing replays.
    q("q_perplexity_buckets",
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
        |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-1)) AS i FROM ws)),
        |bgc AS (SELECT doc_id, w1, w2, count(*) AS cnt FROM bg GROUP BY doc_id, w1, w2),
        |c2 AS (SELECT w1, w2, sum(cnt) AS c2 FROM bgc GROUP BY w1, w2),
        |c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
        |v AS (SELECT count(DISTINCT w) AS v FROM (SELECT w1 AS w FROM c2 UNION ALL SELECT w2 FROM c2)),
        |p AS (SELECT c2.w1, c2.w2, ln((c2.c2 + 1) / (c1.c1 + v.v)) AS logp
        |      FROM c2 JOIN c1 ON c2.w1 = c1.w1 CROSS JOIN v),
        |sc AS (SELECT bgc.doc_id, round(sum(cnt * logp) / sum(cnt), 9) AS score
        |       FROM bgc JOIN p ON bgc.w1 = p.w1 AND bgc.w2 = p.w2
        |       GROUP BY bgc.doc_id),
        |g AS (SELECT doc_id, lang, score FROM sc JOIN documents USING (doc_id)),
        |th AS (SELECT lang, quantile_cont(score, 1.0/3) AS t33,
        |         quantile_cont(score, 2.0/3) AS t66 FROM g GROUP BY lang)
        |SELECT doc_id, lang, score,
        |  CASE WHEN score >= t66 THEN 'head'
        |       WHEN score >= t33 THEN 'middle' ELSE 'tail' END AS ppl_bucket
        |FROM g JOIN th USING (lang) ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.TextQuality
        .perplexityBuckets(Tables.documents(s, dir), "doc_id", "text", "lang")
        .orderBy("doc_id")
    }

    // ---- leakage-safe split -------------------------------------------

    // Near-dup clusters are the split unit: a doc and its near-copies
    // always land on the same side. Oracle replays the LSH pipeline +
    // recursive-CTE closure + the md5 cluster hash.
    q("q_leakage_safe_split",
      s"""WITH RECURSIVE ${LlmQueries.minhashCtes(n = 3, k = 16, r = 4)},
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS nsh FROM shd GROUP BY 1),
         |inter AS (SELECT doc_a, doc_b, count(*) AS ni
         |          FROM cand
         |          JOIN shd sa ON sa.doc_id = doc_a
         |          JOIN shd sb ON sb.doc_id = doc_b AND sb.h0 = sa.h0
         |          GROUP BY 1, 2),
         |pairs AS (SELECT doc_a, doc_b FROM inter
         |          JOIN sizes za ON za.doc_id = doc_a
         |          JOIN sizes zb ON zb.doc_id = doc_b
         |          WHERE ni / (za.nsh + zb.nsh - ni) >= 0.8),
         |edges AS (SELECT doc_a AS n, doc_b AS m FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(n, m) AS (SELECT n, m FROM edges
         |                UNION
         |                SELECT r.n, e.m FROM reach r JOIN edges e ON r.m = e.n),
         |cl AS (SELECT n AS doc_id, least(n, min(m)) AS cluster_id
         |       FROM reach GROUP BY n),
         |alldocs AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
         |            FROM documents d LEFT JOIN cl USING (doc_id))
         |SELECT doc_id, cluster_id,
         |  CASE WHEN CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 7) AS BIGINT)
         |         / 268435456.0 < 0.8 THEN 'train' ELSE 'valid' END AS split
         |FROM alldocs ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.TextDedup
        .leakageSafeSplit(Tables.documents(s, dir), "doc_id", "text",
          trainFrac = 0.8, threshold = 0.8)
        .orderBy("doc_id")
    }

    // Bounded-slice twin of q_leakage_safe_split (sf1 strict-gate
    // protocol): universe capped at doc_id < 5000 in both engines — a
    // no-op at sf <= 0.1, tractable at sf1 where the unsliced oracle's
    // closure costs 170 s.
    q("q_leakage_safe_split_sliced",
      s"""WITH RECURSIVE ${LlmQueries.minhashCtes(n = 3, k = 16, r = 4,
            docWhere = "WHERE doc_id < 5000")},
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS nsh FROM shd GROUP BY 1),
         |inter AS (SELECT doc_a, doc_b, count(*) AS ni
         |          FROM cand
         |          JOIN shd sa ON sa.doc_id = doc_a
         |          JOIN shd sb ON sb.doc_id = doc_b AND sb.h0 = sa.h0
         |          GROUP BY 1, 2),
         |pairs AS (SELECT doc_a, doc_b FROM inter
         |          JOIN sizes za ON za.doc_id = doc_a
         |          JOIN sizes zb ON zb.doc_id = doc_b
         |          WHERE ni / (za.nsh + zb.nsh - ni) >= 0.8),
         |edges AS (SELECT doc_a AS n, doc_b AS m FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(n, m) AS (SELECT n, m FROM edges
         |                UNION
         |                SELECT r.n, e.m FROM reach r JOIN edges e ON r.m = e.n),
         |cl AS (SELECT n AS doc_id, least(n, min(m)) AS cluster_id
         |       FROM reach GROUP BY n),
         |alldocs AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
         |            FROM (SELECT * FROM documents WHERE doc_id < 5000) d
         |            LEFT JOIN cl USING (doc_id))
         |SELECT doc_id, cluster_id,
         |  CASE WHEN CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 7) AS BIGINT)
         |         / 268435456.0 < 0.8 THEN 'train' ELSE 'valid' END AS split
         |FROM alldocs ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.TextDedup
        .leakageSafeSplit(
          Tables.documents(s, dir).filter(col("doc_id") < 5000),
          "doc_id", "text", trainFrac = 0.8, threshold = 0.8)
        .orderBy("doc_id")
    }

    // ---- IVF-PQ retrieval ---------------------------------------------

    // The FAISS IVFPQ layout: coarse inverted file (nlist=8, nprobe=2,
    // same cells as q_ivf_topk) x PQ-compressed scoring (m=4, ks=8,
    // same codebook as q_pq_topk). A query touches nprobe/nlist of the
    // corpus and scores m-byte codes.
    q("q_ivf_pq_topk",
      """WITH c AS (SELECT vec_id AS cell, embedding AS cv,
        |        sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |          list_transform(generate_series(1, len(embedding)), i ->
        |            CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
        |          (acc, x) -> acc + x)) AS cn
        |      FROM embeddings WHERE vec_id < 8),
        |a AS (SELECT e.vec_id, e.embedding, c.cell,
        |        row_number() OVER (PARTITION BY e.vec_id
        |          ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |              list_transform(generate_series(1, len(cv)), i ->
        |                CAST(cv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
        |              (acc, x) -> acc + x)
        |            / (cn * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |              list_transform(generate_series(1, len(e.embedding)), i ->
        |                CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
        |              (acc, x) -> acc + x))) DESC, c.cell) AS crn
        |      FROM embeddings e, c),
        |asn AS (SELECT vec_id, embedding, cell FROM a WHERE crn = 1),
        |probes AS (SELECT vec_id AS query_id, embedding AS qv, cell
        |           FROM a WHERE vec_id < 3 AND crn <= 2),
        |samp AS (SELECT embedding,
        |    row_number() OVER (ORDER BY
        |      CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7) AS BIGINT),
        |      vec_id) AS rk
        |  FROM embeddings),
        |cb AS (SELECT list(embedding ORDER BY rk) AS cbs FROM samp WHERE rk <= 8),
        |recon AS (SELECT vec_id, cell, flatten(list_transform(generate_series(0, 3), j ->
        |    cbs[list_position(
        |      list_transform(cbs, cw -> list_reduce(
        |        list_prepend(CAST(0 AS DOUBLE),
        |          list_transform(generate_series(1, 16), i ->
        |            (CAST(embedding[j*16+i] AS DOUBLE) - CAST(cw[j*16+i] AS DOUBLE))
        |            * (CAST(embedding[j*16+i] AS DOUBLE) - CAST(cw[j*16+i] AS DOUBLE)))),
        |        (acc, v) -> acc + v)),
        |      list_min(list_transform(cbs, cw -> list_reduce(
        |        list_prepend(CAST(0 AS DOUBLE),
        |          list_transform(generate_series(1, 16), i ->
        |            (CAST(embedding[j*16+i] AS DOUBLE) - CAST(cw[j*16+i] AS DOUBLE))
        |            * (CAST(embedding[j*16+i] AS DOUBLE) - CAST(cw[j*16+i] AS DOUBLE)))),
        |        (acc, v) -> acc + v))))
        |    ][j*16+1 : j*16+16])) AS rv
        |  FROM asn, cb),
        |sc AS (SELECT query_id, r.vec_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(generate_series(1, 64), i ->
        |        rv[i] * CAST(qv[i] AS DOUBLE))), (acc, v) -> acc + v)
        |    / sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(generate_series(1, 64), i -> rv[i] * rv[i])),
        |        (acc, v) -> acc + v))
        |    / sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(generate_series(1, 64), i ->
        |          CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))),
        |        (acc, v) -> acc + v)) AS c
        |  FROM recon r JOIN probes USING (cell) WHERE r.vec_id != query_id),
        |rk AS (SELECT query_id, vec_id, c,
        |        row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rn
        |      FROM sc)
        |SELECT query_id, vec_id, round(c, 6) AS cosine_ivfpq FROM rk WHERE rn <= 3
        |ORDER BY query_id, cosine_ivfpq DESC, vec_id""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      graft.operators.Clustering.ivfPqTopK(queries, emb, "vec_id", "embedding",
          nlist = 8, nprobe = 2, dim = 64, m = 4, ks = 8, k = 3)
        .select(col("query_id"), col("vec_id"),
          round(col("c"), 6).as("cosine_ivfpq"))
        .orderBy(col("query_id"), col("cosine_ivfpq").desc, col("vec_id"))
    }

    // ---- JL random-projection retrieval -------------------------------

    // 64 -> 16 dims through the deterministic md5-derived plane matrix
    // (plan-time literal), exact cosine in the reduced space — the
    // cheap first-pass ranking before exact re-rank.
    q("q_rp_topk", {
      val planes = (0 until 16).map(p =>
        (0 until 64).map(d => Similarity.planeComponent(p, d).toString)
          .mkString("[", ", ", "]")).mkString("[", ", ", "]")
      s"""WITH pl AS (SELECT $planes AS m),
         |proj AS (SELECT vec_id,
         |    list_transform(generate_series(1, 16), p ->
         |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(generate_series(1, 64), i ->
         |          CAST(embedding[i] AS DOUBLE) * m[p][i])),
         |        (acc, x) -> acc + x) * 0.25) AS y
         |  FROM embeddings, pl),
         |q AS (SELECT vec_id AS query_id, y AS qy FROM proj WHERE vec_id < 3),
         |sc AS (SELECT query_id, vec_id,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(generate_series(1, 16), i -> y[i] * qy[i])),
         |      (acc, x) -> acc + x)
         |    / sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(generate_series(1, 16), i -> y[i] * y[i])),
         |        (acc, x) -> acc + x))
         |    / sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(generate_series(1, 16), i -> qy[i] * qy[i])),
         |        (acc, x) -> acc + x)) AS c
         |  FROM proj, q WHERE vec_id != query_id),
         |r AS (SELECT query_id, vec_id, c,
         |        row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rn
         |      FROM sc)
         |SELECT query_id, vec_id, round(c, 9) AS cosine_rp FROM r WHERE rn <= 5
         |ORDER BY query_id, cosine_rp DESC, vec_id""".stripMargin
    }) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      Similarity.rpTopK(queries, emb, dim = 64, outDim = 16, k = 5)
        .select(col("query_id"), col("vec_id"), round(col("c"), 9).as("cosine_rp"))
        .orderBy(col("query_id"), col("cosine_rp").desc, col("vec_id"))
    }

    // ---- vocabulary drift ---------------------------------------------

    // KL(p_base || q_new) over hashed unigram buckets between the
    // src0-9 slice (baseline) and src10-19 (new snapshot): top-15
    // drifting buckets + the total.
    q("q_vocab_drift",
      """WITH toks AS (SELECT substr(source, 4) IN ('10','11','12','13','14','15','16','17','18','19') AS isnew,
        |         CAST('0x' || substr(md5(t), 1, 7) AS BIGINT) % 4096 AS bucket
        |       FROM (SELECT source, unnest(string_split(text, ' ')) AS t FROM documents)),
        |counts AS (SELECT bucket,
        |    sum(CASE WHEN isnew THEN 0 ELSE 1 END) AS c_base,
        |    sum(CASE WHEN isnew THEN 1 ELSE 0 END) AS c_new
        |  FROM toks GROUP BY bucket),
        |tot AS (SELECT sum(c_base) AS nb, sum(c_new) AS nn FROM counts),
        |contrib AS (SELECT bucket, c_base, c_new,
        |    ((c_base + 1.0) / (nb + 4096.0)) *
        |      ln(((c_base + 1.0) / (nb + 4096.0)) / ((c_new + 1.0) / (nn + 4096.0)))
        |      AS contrib
        |  FROM counts, tot),
        |kl AS (SELECT sum(contrib) AS kl_total FROM contrib),
        |top AS (SELECT * FROM contrib, kl ORDER BY contrib DESC, bucket LIMIT 15)
        |SELECT bucket, CAST(c_base AS BIGINT) AS c_base, CAST(c_new AS BIGINT) AS c_new,
        |  round(contrib, 9) AS contrib, round(kl_total, 9) AS kl_total
        |FROM top ORDER BY contrib DESC, bucket""".stripMargin) { (s, dir) =>
      graft.operators.TextQuality.vocabDrift(Tables.documents(s, dir),
        "doc_id", "text",
        isNew = expr("substr(source, 4)")
          .isin((10 to 19).map(_.toString): _*))
        .orderBy(col("contrib").desc, col("bucket"))
    }

    // Tokenizer-coverage / OOV report (operators.TextQuality.oovReport):
    // per-source fraction of tokens outside the top-20 corpus
    // vocabulary. Vocabulary = TakeOrdered over the token-count
    // aggregate (ties by token), rates = single divisions of exact
    // integer sums — no float-sum association anywhere.
    q("q_oov_rate",
      """WITH toks AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS t
        |              FROM documents),
        |vocab AS (SELECT t FROM (SELECT t, count(*) AS c FROM toks GROUP BY t
        |                         ORDER BY c DESC, t LIMIT 20)),
        |j AS (SELECT doc_id, source, v.t IS NOT NULL AS hit
        |      FROM toks LEFT JOIN vocab v ON toks.t = v.t)
        |SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN hit THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
        |  CAST(sum(CASE WHEN hit THEN 0 ELSE 1 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS oov_rate
        |FROM j GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      // the synthetic corpus has a ~31-token vocabulary — a top-20
      // vocab leaves a real OOV tail at every SF
      graft.operators.TextQuality.oovReport(Tables.documents(s, dir),
          "doc_id", "text", "source", vocabSize = 20)
        .orderBy("source")
    }

    // ---- binary-code Hamming retrieval --------------------------------

    // Sign-bit binary codes: 64 float dims pack into ONE BIGINT (32x
    // smaller), distance = xor + popcount — the extreme-compression
    // first-pass retrieval before exact re-ranking. Bit 63's literal is
    // negative two's-complement; ascending-order summation keeps every
    // partial sum in BIGINT range under ANSI overflow checks.
    q("q_binary_hamming", {
      val bits = (0 until 64).map { i =>
        val b = if (i == 63) "(-9223372036854775807 - 1)" else (1L << i).toString
        s"CASE WHEN CAST(embedding[${i + 1}] AS DOUBLE) > 0.0 THEN $b ELSE 0 END"
      }.mkString(" + ")
      s"""WITH enc AS (SELECT vec_id, $bits AS code FROM embeddings),
         |q AS (SELECT vec_id AS query_id, code AS qcode FROM enc WHERE vec_id < 3),
         |sc AS (SELECT query_id, vec_id,
         |         CAST(bit_count(xor(code, qcode)) AS INTEGER) AS hamming
         |       FROM enc, q WHERE vec_id != query_id),
         |r AS (SELECT query_id, vec_id, hamming,
         |        row_number() OVER (PARTITION BY query_id
         |                           ORDER BY hamming, vec_id) AS rn
         |      FROM sc)
         |SELECT query_id, vec_id, hamming FROM r WHERE rn <= 5
         |ORDER BY query_id, hamming, vec_id""".stripMargin
    }) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      Similarity.hammingTopK(queries, emb, dim = 64, k = 5)
        .orderBy(col("query_id"), col("hamming"), col("vec_id"))
    }

    // ---- stupid-backoff trigram LM ------------------------------------

    // Brants et al. 2007 distributed LM: counts from the 80% training
    // split (doc_id % 5 != 0), scores over the held-out 20% where
    // backoff genuinely fires. All model state is count tables.
    q("q_stupid_backoff",
      """WITH ws AS (SELECT doc_id, doc_id % 5 = 0 AS h, string_split(text, ' ') AS w
        |            FROM documents),
        |toks AS (SELECT unnest(w) AS t FROM ws WHERE NOT h),
        |f1 AS (SELECT CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h1,
        |         count(*) AS c1 FROM toks GROUP BY 1),
        |st AS (SELECT sum(c1) AS n_toks, count(*) AS v FROM f1),
        |bg AS (SELECT w[i] || ' ' || w[i+1] AS g
        |       FROM (SELECT w, unnest(generate_series(1, len(w)-1)) AS i
        |             FROM ws WHERE NOT h)),
        |f2 AS (SELECT CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS h2,
        |         count(*) AS c2 FROM bg GROUP BY 1),
        |tg AS (SELECT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
        |       FROM (SELECT w, unnest(generate_series(1, len(w)-2)) AS i
        |             FROM ws WHERE NOT h)),
        |f3 AS (SELECT CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS h3,
        |         count(*) AS c3 FROM tg GROUP BY 1),
        |tri AS (SELECT doc_id,
        |    CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT) AS h3,
        |    CAST('0x' || substr(md5(w[i] || ' ' || w[i+1]), 1, 15) AS BIGINT) AS hctx,
        |    CAST('0x' || substr(md5(w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT) AS hbo,
        |    CAST('0x' || substr(md5(w[i+1]), 1, 15) AS BIGINT) AS hb,
        |    CAST('0x' || substr(md5(w[i+2]), 1, 15) AS BIGINT) AS hc
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS i
        |        FROM ws WHERE h)),
        |sc AS (SELECT doc_id,
        |    CASE WHEN f3.c3 IS NOT NULL THEN ln(f3.c3 / f2x.c2)
        |         WHEN f2b.c2 IS NOT NULL THEN ln(0.4 * f2b.c2 / f1b.c1)
        |         ELSE ln(0.4 * 0.4 * (coalesce(f1c.c1, 0) + 1) / (n_toks + v))
        |    END AS lp
        |  FROM tri
        |  LEFT JOIN f3 USING (h3)
        |  LEFT JOIN f2 f2x ON f2x.h2 = tri.hctx
        |  LEFT JOIN f2 f2b ON f2b.h2 = tri.hbo
        |  LEFT JOIN f1 f1b ON f1b.h1 = tri.hb
        |  LEFT JOIN f1 f1c ON f1c.h1 = tri.hc, st)
        |SELECT doc_id, count(*) AS n_trigrams,
        |  round(sum(lp) / count(*), 9) AS sb_score
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.TextQuality
        .stupidBackoffScore(Tables.documents(s, dir), "doc_id", "text",
          holdout = col("doc_id") % 5 === 0)
        .orderBy("doc_id")
    }

    // ---- count-min sketch ---------------------------------------------

    // 4×512 count-min over the token stream; probes = the 20 most
    // frequent words. n_est >= n_exact always (CMS over-estimates).
    q("q_count_min", {
      val seedRows = graft.operators.TextDedup.mixConsts(4).zipWithIndex
        .map { case ((a, b), j) => s"($j, $a, $b)" }.mkString(", ")
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         |wc AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
         |seeds(j, a, b) AS (VALUES $seedRows),
         |cms AS (SELECT j,
         |          ((CAST('0x' || substr(md5(w), 1, 7) AS BIGINT) * a + b)
         |            % ${graft.operators.TextDedup.P}) % 512 AS bkt,
         |          sum(c) AS s
         |        FROM wc, seeds GROUP BY 1, 2),
         |probes AS (SELECT w, c FROM wc ORDER BY c DESC, w LIMIT 20),
         |est AS (SELECT p.w, p.c, min(s) AS est
         |        FROM probes p JOIN seeds ON true
         |        JOIN cms ON cms.j = seeds.j AND cms.bkt =
         |          ((CAST('0x' || substr(md5(p.w), 1, 7) AS BIGINT) * a + b)
         |            % ${graft.operators.TextDedup.P}) % 512
         |        GROUP BY 1, 2)
         |SELECT w AS word, CAST(c AS BIGINT) AS n_exact, CAST(est AS BIGINT) AS n_est
         |FROM est ORDER BY n_exact DESC, word""".stripMargin
    }) { (s, dir) =>
      import graft.operators.Sketches
      val docs = Tables.documents(s, dir)
      val wc = docs.select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val sketch = Sketches.countMinBuild(wc, depth = 4, width = 512)
      val probes = wc.orderBy(col("c").desc, col("w")).limit(20)
      Sketches.countMinQuery(sketch, probes.select("w"), depth = 4, width = 512)
        .join(probes, Seq("w"))
        .select(col("w").as("word"), col("c").as("n_exact"), col("n_est"))
        .orderBy(col("n_exact").desc, col("word"))
    }

    // ---- training-shard manifest --------------------------------------

    // Whitespace token counts, 8192-token shards, offset-cut assignment.
    // The oracle's global window cumsum is the semantics; the engine
    // computes the same offsets with the two-pass partition-offset
    // machinery (no single-partition window).
    q("q_shard_manifest",
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |           FROM documents),
        |o AS (SELECT doc_id, n_tokens,
        |        coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |      FROM t)
        |SELECT CAST(off // 8192 AS BIGINT) AS shard_id, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens, min(doc_id) AS first_doc,
        |  max(doc_id) AS last_doc
        |FROM o GROUP BY 1 ORDER BY shard_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
      Packing.shardManifest(docs, "doc_id", "n_tokens", shardTokens = 8192L)
        .orderBy("shard_id")
    }
  }
}
