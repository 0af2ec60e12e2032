package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AudioDedup, Bpe, ImageDedup, Multimodal, QualityModel, Similarity, TextDedup}

/** Training-data-pipeline operator coverage over the `documents` and
  * `embeddings` tables: dedup (exact / MinHash-LSH / SimHash / n-gram
  * Jaccard), similarity search (exact cosine + hyperplane-LSH ANN),
  * text analysis (quality, language-ID, token counts, fingerprints) and
  * multimodal binary plumbing.
  *
  * Every query has a DuckDB oracle that reproduces the exact same
  * hashes/folds, so the whole pipeline is value-checked, not just
  * row-counted. Hashing is md5-based for that reason (see TextDedup).
  */
object LlmQueries {

  // ---- shared oracle SQL fragments ------------------------------------

  /** DuckDB mirror of Similarity.dot: cast-to-double, fold in order. */
  private[graft] def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(generate_series(1, len($a)), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (acc, x) -> acc + x)"

  private[graft] def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / sqrt(${dotSql(a, a)}) / sqrt(${dotSql(b, b)})"

  /** DuckDB mirror of the shingle → minhash → band CTEs (k hashes,
    * r-row bands, word `n`-grams). Replays TextDedup's formula exactly:
    * one md5 per shingle folded to 28 bits, then k affine mixes mod P
    * (all arithmetic < 2^59 so DuckDB's checked BIGINT math never
    * overflows). */
  private[graft] def minhashCtes(n: Int, k: Int, r: Int,
      docWhere: String = ""): String = {
    val seedRows = TextDedup.mixConsts(k).zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    s"""words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents $docWhere),
       |sh AS (SELECT DISTINCT doc_id,
       |         ${(0 until n).map(j => s"ws[i+$j]").mkString(" || ' ' || ")} AS sh
       |       FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-${n - 1})) AS i
       |             FROM words)),
       |sh0 AS (SELECT doc_id, CAST('0x' || substr(md5(sh), 1, 7) AS BIGINT) AS h0 FROM sh),
       |shd AS (SELECT DISTINCT doc_id, h0 FROM sh0),
       |seeds(i, a, b) AS (VALUES $seedRows),
       |mh AS (SELECT doc_id, i, min((h0 * a + b) % ${TextDedup.P}) AS mh
       |       FROM sh0, seeds GROUP BY 1, 2),
       |bands AS (SELECT doc_id, i // $r AS band,
       |            string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
       |          FROM mh GROUP BY 1, 2)""".stripMargin
  }

  def registerAll(reg: (String, Option[String], (SparkSession, String) => DataFrame) => Unit): Unit = {

    def q(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Unit =
      reg(name, Some(oracle), fn)

    // ---- dedup ---------------------------------------------------------

    // Exact content-hash dedup, keep-first (the 100 TB-scale pattern:
    // hash → shuffle on hash → keep min id; no text comparison).
    q("q_dedup_exact_hash",
      """SELECT doc_id, h FROM (
        |  SELECT doc_id, md5(text) AS h,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextDedup.exactDedupKeepFirst(Tables.documents(s, dir), "doc_id", "text")
        .select("doc_id", "h").orderBy("doc_id")
    }

    // MinHash(16) → 4-band LSH → candidate pairs → exact-Jaccard ≥ 0.8.
    // The oracle replays the identical md5 minhashes, so the candidate
    // sets — and therefore the verified pairs — match exactly.
    q("q_near_dup_minhash",
      s"""WITH ${minhashCtes(n = 3, k = 16, r = 4)},
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS nsh FROM shd GROUP BY 1),
         |inter AS (SELECT doc_a, doc_b, count(*) AS ni
         |          FROM cand
         |          JOIN shd sa ON sa.doc_id = doc_a
         |          JOIN shd sb ON sb.doc_id = doc_b AND sb.h0 = sa.h0
         |          GROUP BY 1, 2)
         |SELECT doc_a, doc_b, ni / (za.nsh + zb.nsh - ni) AS jaccard
         |FROM inter
         |JOIN sizes za ON za.doc_id = doc_a
         |JOIN sizes zb ON zb.doc_id = doc_b
         |WHERE ni / (za.nsh + zb.nsh - ni) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      TextDedup.nearDuplicates(Tables.documents(s, dir), "doc_id", "text",
          shingleLen = 3, numHashes = 16, bandRows = 4, threshold = 0.8)
        .orderBy("doc_a", "doc_b")
    }

    // Incremental (cross-snapshot) dedup: new docs (doc_id % 5 != 0)
    // checked against an existing index (doc_id % 5 == 0) through an
    // asymmetric band join — never index×index or new×new. One best
    // match per new doc (highest jaccard, smallest idx_id on ties).
    q("q_incremental_dedup",
      s"""WITH ${minhashCtes(n = 3, k = 16, r = 4)},
         |cand AS (SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS idx_id
         |         FROM bands n JOIN bands i
         |           ON n.band = i.band AND n.sig = i.sig
         |         WHERE n.doc_id % 5 != 0 AND i.doc_id % 5 = 0),
         |sizes AS (SELECT doc_id, count(*) AS nsh FROM shd GROUP BY 1),
         |inter AS (SELECT new_id, idx_id, count(*) AS ni
         |          FROM cand
         |          JOIN shd sa ON sa.doc_id = new_id
         |          JOIN shd sb ON sb.doc_id = idx_id AND sb.h0 = sa.h0
         |          GROUP BY 1, 2),
         |j AS (SELECT new_id, idx_id, ni / (za.nsh + zb.nsh - ni) AS jaccard
         |      FROM inter
         |      JOIN sizes za ON za.doc_id = new_id
         |      JOIN sizes zb ON zb.doc_id = idx_id
         |      WHERE ni / (za.nsh + zb.nsh - ni) >= 0.8),
         |r AS (SELECT new_id, idx_id, jaccard,
         |        row_number() OVER (PARTITION BY new_id ORDER BY jaccard DESC, idx_id) AS rn
         |      FROM j)
         |SELECT new_id, idx_id, round(jaccard, 9) AS jaccard
         |FROM r WHERE rn = 1 ORDER BY new_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      TextDedup.dedupAgainstIndex(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text",
          shingleLen = 3, numHashes = 16, bandRows = 4, threshold = 0.8)
        .select(col("new_id"), col("idx_id"), round(col("jaccard"), 9).as("jaccard"))
        .orderBy("new_id")
    }

    // Duplicate clusters: connected components over the verified
    // near-dup pairs, keep-one-per-cluster — the step that turns pair
    // detection into an actual dedup decision. Oracle: recursive-CTE
    // transitive closure over the same pairs.
    q("q_dup_clusters",
      s"""WITH RECURSIVE ${minhashCtes(n = 3, k = 16, r = 4)},
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
         |                SELECT r.n, e.m FROM reach r JOIN edges e ON r.m = e.n)
         |SELECT n AS doc_id, least(n, min(m)) AS cluster_id,
         |  n = least(n, min(m)) AS is_rep
         |FROM reach GROUP BY n ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val pairs = TextDedup.nearDuplicates(Tables.documents(s, dir), "doc_id", "text",
        shingleLen = 3, numHashes = 16, bandRows = 4, threshold = 0.8)
      TextDedup.dupClusters(pairs.select("doc_a", "doc_b"))
        .orderBy("doc_id")
    }

    // Bounded-slice twin of q_dup_clusters (the sf1 strict-gate
    // protocol): the universe is capped at doc_id < 5000 IN BOTH
    // ENGINES — a no-op at sf <= 0.1 (all ids are below the cap, so the
    // result is identical to q_dup_clusters there) that keeps the
    // DuckDB replay's recursive closure + all-pairs verify tractable on
    // the 50k-doc sf1 corpus, where the unsliced oracle costs 80 s.
    // The full-corpus operator stays bench-measured at sf1; this query
    // supplies the strict rows+schema+hash evidence on sf1 DATA.
    q("q_dup_clusters_sliced",
      s"""WITH RECURSIVE ${minhashCtes(n = 3, k = 16, r = 4,
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
         |                SELECT r.n, e.m FROM reach r JOIN edges e ON r.m = e.n)
         |SELECT n AS doc_id, least(n, min(m)) AS cluster_id,
         |  n = least(n, min(m)) AS is_rep
         |FROM reach GROUP BY n ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val pairs = TextDedup.nearDuplicates(
        Tables.documents(s, dir).filter(col("doc_id") < 5000),
        "doc_id", "text",
        shingleLen = 3, numHashes = 16, bandRows = 4, threshold = 0.8)
      TextDedup.dupClusters(pairs.select("doc_a", "doc_b"))
        .orderBy("doc_id")
    }

    // End-to-end preprocess pipeline in one declarative plan: quality
    // score → filter → exact dedup keep-first → reproducible hash
    // sample → per-language aggregate.
    q("q_pipeline_e2e",
      """WITH scored AS (
        |  SELECT doc_id, lang, text,
        |    0.4 * (len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')))
        |      + 0.6 * least(len(string_split(text, ' ')) / 50.0, 1.0) AS quality
        |  FROM documents),
        |filtered AS (SELECT * FROM scored WHERE quality >= 0.5),
        |deduped AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM filtered) WHERE rn = 1),
        |sampled AS (SELECT * FROM deduped
        |            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8')
        |SELECT lang, count(*) AS n_docs,
        |  round(avg(quality), 9) AS avg_quality,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM sampled GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ws = split(col("text"), " ")
      val scored = Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text"),
        (lit(0.4) * (size(array_distinct(ws)) / size(ws))
          + lit(0.6) * least(size(ws) / lit(50.0), lit(1.0))).as("quality"))
      val filtered = scored.filter(col("quality") >= 0.5)
      val deduped = filtered
        .withColumn("rn", row_number().over(
          Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
        .filter(col("rn") === 1)
      val sampled = deduped
        .filter(substring(md5(col("doc_id").cast("string")), 1, 1) < "8")
      sampled.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("quality"), 9).as("avg_quality"),
          sum(size(split(col("text"), " "))).as("total_tokens"))
        .orderBy("lang")
    }

    // Banded MinHash signatures themselves (intermediate artifact a
    // pipeline would persist for incremental dedup).
    q("q_minhash_bands",
      s"""WITH ${minhashCtes(n = 3, k = 16, r = 4)}
         |SELECT doc_id, band, sig FROM bands
         |WHERE doc_id < 50 ORDER BY doc_id, band""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      TextDedup.bandSignatures(
          TextDedup.shingles(docs, "doc_id", "text", 3, distinct = false),
          "doc_id", 16, 4)
        .filter(col("doc_id") < 50)
        .orderBy("doc_id", "band")
    }

    // LSH precision report (operators.TextDedup.bandPrecision): the
    // fraction of band-bucket candidate pairs that survive the exact
    // Jaccard verify — the precision half of the (numHashes, bandRows)
    // s-curve trade (recall half: q_retrieval_recall's pattern). One
    // exact-integer aggregate row.
    q("q_lsh_precision",
      s"""WITH ${minhashCtes(n = 3, k = 16, r = 4)},
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |sz AS (SELECT doc_id, count(*) AS s FROM shd GROUP BY 1),
         |iv AS (SELECT doc_a, doc_b, count(*) AS ni
         |  FROM cand JOIN shd ha ON ha.doc_id = cand.doc_a
         |  JOIN shd hb ON hb.doc_id = cand.doc_b AND hb.h0 = ha.h0
         |  GROUP BY 1, 2),
         |v AS (SELECT c.doc_a, c.doc_b, COALESCE(ni, 0) AS ni,
         |    sa.s AS s_a, sb.s AS s_b
         |  FROM cand c LEFT JOIN iv ON iv.doc_a = c.doc_a AND iv.doc_b = c.doc_b
         |  JOIN sz sa ON sa.doc_id = c.doc_a JOIN sz sb ON sb.doc_id = c.doc_b)
         |SELECT count(*) AS n_candidates,
         |  CAST(COALESCE(sum(CASE WHEN CAST(ni AS DOUBLE) / (s_a + s_b - ni) >= 0.8
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_verified,
         |  CASE WHEN count(*) = 0 THEN 0.0
         |    ELSE CAST(COALESCE(sum(CASE WHEN CAST(ni AS DOUBLE) / (s_a + s_b - ni)
         |      >= 0.8 THEN 1 ELSE 0 END), 0) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |  END AS band_precision
         |FROM v""".stripMargin) { (s, dir) =>
      TextDedup.bandPrecision(Tables.documents(s, dir), "doc_id", "text",
          shingleLen = 3, numHashes = 16, bandRows = 4, threshold = 0.8)
        .select(col("n_candidates"), col("n_verified"),
          col("precision").as("band_precision"))
    }

    // LSH recall vs exact ground truth (operators.TextDedup.bandRecall)
    // — the complement of q_lsh_precision; the two together tune the
    // banding s-curve. The query demonstrates the operator's documented
    // BOUNDED-SLICE protocol (the 100 TB shape): exact all-pairs ground
    // truth is quadratic, so it is measured on a deterministic sample —
    // here the doc_id % 5 = 0 slice (20%; the corpus is synthetic-random
    // so the modulo is unbiased) — and the s-curve tuned on the slice
    // carries to the full run. r13 ran the ground truth full-corpus
    // (~1.3M pair rows at sf0.1, 3.1 s); the slice is the shape a real
    // run pays.
    q("q_lsh_recall", {
      val seedRows = TextDedup.mixConsts(16).zipWithIndex
        .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
      s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM documents WHERE doc_id % 5 = 0),
         |sh AS (SELECT DISTINCT doc_id,
         |         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         |       FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i
         |             FROM words)),
         |shd AS (SELECT DISTINCT doc_id,
         |          CAST('0x' || substr(md5(sh), 1, 7) AS BIGINT) AS h0 FROM sh),
         |sz AS (SELECT doc_id, count(*) AS s FROM shd GROUP BY 1),
         |iv AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
         |  FROM shd a JOIN shd b ON a.h0 = b.h0 AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (SELECT doc_a, doc_b FROM iv
         |  JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
         |  WHERE CAST(ni AS DOUBLE) / (sa.s + sb.s - ni) >= 0.8),
         |seeds(i, a, b) AS (VALUES $seedRows),
         |mh AS (SELECT doc_id, i, min((h0 * a + b) % ${TextDedup.P}) AS mh
         |       FROM shd, seeds GROUP BY 1, 2),
         |bands AS (SELECT doc_id, i // 4 AS band,
         |            string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
         |          FROM mh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
         |SELECT count(*) AS n_true,
         |  CAST(COALESCE(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS n_caught,
         |  CASE WHEN count(*) = 0 THEN 0.0
         |    ELSE CAST(COALESCE(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END),
         |      0) AS DOUBLE) / CAST(count(*) AS DOUBLE) END AS recall
         |FROM truth t LEFT JOIN cand c
         |  ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b""".stripMargin
    }) { (s, dir) =>
      TextDedup.bandRecall(
        Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
        "doc_id", "text", shingleLen = 3, numHashes = 16, bandRows = 4,
        threshold = 0.8)
    }

    // Bounded-slice twin of q_lsh_recall (sf1 strict-gate protocol):
    // the %5 ground-truth slice additionally capped at doc_id < 5000 in
    // both engines — identical to q_lsh_recall at sf <= 0.1, tractable
    // quadratic ground truth at sf1 (the unsliced oracle costs 68 s on
    // the 10k-doc slice there).
    q("q_lsh_recall_sliced", {
      val seedRows = TextDedup.mixConsts(16).zipWithIndex
        .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
      s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM documents WHERE doc_id % 5 = 0 AND doc_id < 5000),
         |sh AS (SELECT DISTINCT doc_id,
         |         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         |       FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i
         |             FROM words)),
         |shd AS (SELECT DISTINCT doc_id,
         |          CAST('0x' || substr(md5(sh), 1, 7) AS BIGINT) AS h0 FROM sh),
         |sz AS (SELECT doc_id, count(*) AS s FROM shd GROUP BY 1),
         |iv AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
         |  FROM shd a JOIN shd b ON a.h0 = b.h0 AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (SELECT doc_a, doc_b FROM iv
         |  JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
         |  WHERE CAST(ni AS DOUBLE) / (sa.s + sb.s - ni) >= 0.8),
         |seeds(i, a, b) AS (VALUES $seedRows),
         |mh AS (SELECT doc_id, i, min((h0 * a + b) % ${TextDedup.P}) AS mh
         |       FROM shd, seeds GROUP BY 1, 2),
         |bands AS (SELECT doc_id, i // 4 AS band,
         |            string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
         |          FROM mh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
         |SELECT count(*) AS n_true,
         |  CAST(COALESCE(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS n_caught,
         |  CASE WHEN count(*) = 0 THEN 0.0
         |    ELSE CAST(COALESCE(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END),
         |      0) AS DOUBLE) / CAST(count(*) AS DOUBLE) END AS recall
         |FROM truth t LEFT JOIN cand c
         |  ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b""".stripMargin
    }) { (s, dir) =>
      TextDedup.bandRecall(
        Tables.documents(s, dir)
          .filter(col("doc_id") % 5 === 0 && col("doc_id") < 5000),
        "doc_id", "text", shingleLen = 3, numHashes = 16, bandRows = 4,
        threshold = 0.8)
    }

    // The s-curve THEORY table beside the measured precision/recall
    // reports: candidate probability at the target threshold and the
    // crossover similarity for every band width dividing k. Data-free
    // math both engines replay with the identical pow/arithmetic.
    q("q_lsh_scurve",
      """SELECT CAST(r AS BIGINT) AS r, CAST(16 // r AS BIGINT) AS b,
        |  round(1.0 - pow(1.0 - pow(CAST(0.8 AS DOUBLE), CAST(r AS DOUBLE)),
        |    CAST(16 // r AS DOUBLE)), 6) AS p_at_threshold,
        |  round(pow(1.0 / CAST(16 // r AS DOUBLE), 1.0 / CAST(r AS DOUBLE)), 6)
        |    AS t_star
        |FROM (SELECT unnest(generate_series(1, 16)) AS r)
        |WHERE 16 % r = 0 ORDER BY r""".stripMargin) { (s, dir) =>
      TextDedup.bandSCurve(s, numHashes = 16, threshold = 0.8)
        .select(col("r"), col("b"),
          round(col("p_at_threshold"), 6).as("p_at_threshold"),
          round(col("t_star"), 6).as("t_star"))
        .orderBy("r")
    }

    // Same signatures via the PROJECTED (stateless, streaming-safe)
    // form — one row-local array computation per document, no
    // explode/groupBy. Identical oracle: both forms must reproduce the
    // reference MinHash formula exactly.
    q("q_minhash_projected",
      s"""WITH ${minhashCtes(n = 3, k = 16, r = 4)}
         |SELECT doc_id, band, sig FROM bands
         |WHERE doc_id < 50 ORDER BY doc_id, band""".stripMargin) { (s, dir) =>
      // the projection itself adds no shuffle, so map parallelism comes
      // entirely from input splits: spread the single local file the
      // way a many-split 100 TB source would arrive pre-split
      TextDedup.bandSignaturesProjected(
          Tables.documents(s, dir)
            .repartition(s.sparkContext.defaultParallelism),
          "doc_id", "text", 3, 16, 4)
        .filter(col("doc_id") < 50)
        .orderBy("doc_id", "band")
    }

    // SimHash(16-bit) signatures.
    {
      val bitTerms = (0 until 16).map(j =>
        s"CASE WHEN sum(CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END) > 0 " +
          s"THEN ${1L << j} ELSE 0 END").mkString(" + ")
      q("q_simhash",
        s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
           |             FROM documents),
           |th AS (SELECT doc_id, CAST('0x' || substr(md5(w), 1, 4) AS BIGINT) AS h
           |       FROM toks)
           |SELECT doc_id, $bitTerms AS simhash
           |FROM th GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
        TextDedup.simHash(Tables.documents(s, dir), "doc_id", "text", bits = 16)
          .orderBy("doc_id")
      }
    }

    // Character-trigram Jaccard over a linear pairing (adjacent ids) —
    // the n-gram similarity kernel without any pair explosion.
    q("q_ngram_jaccard",
      """WITH g AS (SELECT doc_id,
        |  list_distinct(list_transform(generate_series(1, length(text)-2),
        |                i -> substr(text, i, 3))) AS gs
        |  FROM documents WHERE doc_id < 200)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.gs, b.gs)) /
        |    (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) AS trigram_jaccard
        |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_a""".stripMargin) { (s, dir) =>
      val g = Tables.documents(s, dir).filter(col("doc_id") < 200)
        // guard: sequence(1, len-2) DESCENDS for len < 3 (negative
        // substr positions → wrong grams); empty array matches the
        // oracle's empty generate_series
        .select(col("doc_id"), array_distinct(
          when(length(col("text")) >= 3,
            transform(sequence(lit(1), length(col("text")) - 2),
              i => col("text").substr(i, lit(3))))
            .otherwise(array().cast("array<string>"))).as("gs"))
      val a = g.select(col("doc_id").as("doc_a"), col("gs").as("ga"))
      val b = g.select(col("doc_id").as("doc_b"), col("gs").as("gb"))
      a.join(b, col("doc_b") === col("doc_a") + 1)
        .select(col("doc_a"), col("doc_b"),
          (size(array_intersect(col("ga"), col("gb"))) /
            (size(col("ga")) + size(col("gb")) -
              size(array_intersect(col("ga"), col("gb"))))).as("trigram_jaccard"))
        .orderBy("doc_a")
    }

    // TF-IDF top terms per document: token counts shuffle on (doc,
    // term), document frequency on (term), idf joined back broadcast —
    // no step touches more than the token stream once.
    q("q_tfidf",
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |              FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (SELECT doc_id, term,
        |             round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
        |           FROM tf JOIN df USING (term), n),
        |ranked AS (SELECT doc_id, term, tfidf,
        |             row_number() OVER (PARTITION BY doc_id
        |                                ORDER BY tfidf DESC, term) AS rn
        |           FROM scored)
        |SELECT doc_id, term, tfidf FROM ranked
        |WHERE rn <= 3 AND doc_id < 50
        |ORDER BY doc_id, tfidf DESC, term""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = toks.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
      val nDocs = docs.select(count(lit(1)).as("n_docs"))
      val scored = tf.join(broadcast(df), "term").crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("term"),
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6).as("tfidf"))
      val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3 && col("doc_id") < 50)
        .select("doc_id", "term", "tfidf")
        .orderBy(col("doc_id"), col("tfidf").desc, col("term"))
    }

    // ---- similarity search over embeddings -----------------------------

    // Exact cosine top-5 for 3 query vectors: brute-force one-pass scan,
    // query side broadcast. The correctness baseline for ANN.
    q("q_cosine_topk",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id < 3),
         |sc AS (SELECT query_id, vec_id, ${cosSql("qv", "embedding")} AS c
         |       FROM embeddings, q WHERE vec_id != query_id),
         |r AS (SELECT query_id, vec_id, c,
         |        row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rn
         |      FROM sc)
         |SELECT query_id, vec_id, round(c, 9) AS cosine
         |FROM r WHERE rn <= 5 ORDER BY query_id, vec_id""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      Similarity.cosineTopK(queries, e, k = 5)
        .select(col("query_id"), col("vec_id"), round(col("c"), 9).as("cosine"))
        .orderBy("query_id", "vec_id")
    }

    // Margin-based bitext mining (Artetxe & Schwenk 2019 ratio margin,
    // the CCMatrix criterion): forward top-k pairs normalized by both
    // endpoints' neighborhood-mean cosines. The oracle replays the
    // identical two retrieval passes and the rank-ordered fold means
    // (list(c ORDER BY rn) + list_reduce == array_sort + aggregate).
    q("q_margin_mine",
      s"""WITH srcv AS (SELECT vec_id AS src_id, embedding AS sv
         |              FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < 80),
         |tgtv AS (SELECT vec_id AS tgt_id, embedding AS tv
         |         FROM embeddings WHERE vec_id % 2 = 1),
         |fs AS (SELECT src_id, tgt_id, ${cosSql("sv", "tv")} AS c
         |       FROM srcv, tgtv),
         |fr AS (SELECT src_id, tgt_id, c,
         |         row_number() OVER (PARTITION BY src_id
         |           ORDER BY c DESC, tgt_id) AS rn
         |       FROM fs),
         |fwd AS (SELECT * FROM fr WHERE rn <= 4),
         |asrc AS (SELECT src_id,
         |           list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |             list(c ORDER BY rn)), (acc, x) -> acc + x)
         |             / count(*) AS a_src
         |         FROM fwd GROUP BY src_id),
         |cand AS (SELECT DISTINCT tgt_id FROM fwd),
         |ct AS (SELECT t.* FROM tgtv t JOIN cand USING (tgt_id)),
         |bs AS (SELECT ct.tgt_id, s.src_id, ${cosSql("ct.tv", "s.sv")} AS c
         |       FROM ct, srcv s),
         |br AS (SELECT tgt_id, src_id, c,
         |         row_number() OVER (PARTITION BY tgt_id
         |           ORDER BY c DESC, src_id) AS rn
         |       FROM bs),
         |bwd AS (SELECT * FROM br WHERE rn <= 4),
         |atgt AS (SELECT tgt_id,
         |           list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |             list(c ORDER BY rn)), (acc, x) -> acc + x)
         |             / count(*) AS a_tgt
         |         FROM bwd GROUP BY tgt_id),
         |m AS (SELECT f.src_id, f.tgt_id, f.c,
         |        f.c / ((a_src + a_tgt) / 2) AS margin
         |      FROM fwd f JOIN asrc USING (src_id) JOIN atgt USING (tgt_id)),
         |mk AS (SELECT *, row_number() OVER (PARTITION BY src_id
         |         ORDER BY margin DESC, tgt_id) AS mrn
         |       FROM m WHERE margin >= 1.0)
         |SELECT src_id, tgt_id, round(c, 9) AS c,
         |  round(margin, 9) AS margin, CAST(mrn AS INT) AS rn
         |FROM mk ORDER BY src_id, rn""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      Similarity.marginMine(
          e.filter(col("vec_id") % 2 === 0 && col("vec_id") < 80),
          e.filter(col("vec_id") % 2 === 1),
          k = 4, minMargin = 1.0)
        .select(col("src_id"), col("tgt_id"), round(col("c"), 9).as("c"),
          round(col("margin"), 9).as("margin"), col("rn"))
        .orderBy("src_id", "rn")
    }

    // Scalar-quantized (int8) asymmetric retrieval: corpus stored as
    // 0..255 per-dim codes against corpus min/max (4x smaller than
    // float32), queries full-precision, scores on the dequantized
    // reconstruction. The oracle replays the identical quantize →
    // dequantize → fold arithmetic, so values match bit-for-bit.
    q("q_sq8_topk",
      s"""WITH mm AS (SELECT pos, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
         |            FROM (SELECT unnest(embedding) AS x,
         |                         unnest(generate_series(1, 64)) AS pos
         |                  FROM embeddings)
         |            GROUP BY pos),
         |ml AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM mm),
         |dq AS (SELECT vec_id,
         |         list_transform(generate_series(1, 64), i ->
         |           CASE WHEN mxs[i] > mns[i]
         |                THEN mns[i] + round((CAST(embedding[i] AS DOUBLE) - mns[i]) * 255.0 / (mxs[i] - mns[i])) * (mxs[i] - mns[i]) / 255.0
         |                ELSE mns[i] END) AS deq
         |       FROM embeddings, ml),
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
         |sc AS (SELECT query_id, vec_id,
         |         ${dotSql("deq", "qv")} / sqrt(${dotSql("deq", "deq")}) / sqrt(${dotSql("qv", "qv")}) AS c
         |       FROM dq, q WHERE vec_id != query_id),
         |r AS (SELECT query_id, vec_id, c,
         |        row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rn
         |      FROM sc)
         |SELECT query_id, vec_id, round(c, 9) AS cosine_sq8
         |FROM r WHERE rn <= 5 ORDER BY query_id, vec_id""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      Similarity.sq8TopK(queries, e, dim = 64, k = 5)
        .select(col("query_id"), col("vec_id"), round(col("c"), 9).as("cosine_sq8"))
        .orderBy("query_id", "vec_id")
    }

    // ANN via 4 random-hyperplane LSH bits: queries score only their own
    // bucket (the scale path — bucket id is the shuffle key at 100 TB).
    {
      val planes = (0 until 4).map(p =>
        s"list_transform(generate_series(1, 64), d -> " +
          s"(CAST('0x' || substr(md5('${p}_' || CAST(d - 1 AS VARCHAR)), 1, 4) AS BIGINT)" +
          s" - CAST(32768 AS DOUBLE)) / CAST(32768 AS DOUBLE)) AS p$p").mkString(", ")
      val bucketOf = (v: String) => (0 until 4).map(p =>
        s"CASE WHEN ${dotSql(s"p$p", v)} >= 0 THEN ${1L << p} ELSE 0 END").mkString(" + ")
      q("q_ann_lsh",
        s"""WITH planes AS (SELECT $planes),
           |b AS (SELECT vec_id, embedding, ${bucketOf("embedding")} AS bucket
           |      FROM embeddings, planes),
           |qs AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM b
           |       WHERE vec_id < 3),
           |sc AS (SELECT query_id, b.vec_id, ${cosSql("qv", "embedding")} AS c
           |       FROM b JOIN qs USING (bucket) WHERE b.vec_id != query_id),
           |r AS (SELECT query_id, vec_id, c,
           |        row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rn
           |      FROM sc)
           |SELECT query_id, vec_id, round(c, 9) AS cosine
           |FROM r WHERE rn <= 3 ORDER BY query_id, vec_id""".stripMargin) { (s, dir) =>
        val e = Tables.embeddings(s, dir)
        val queries = e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        Similarity.annTopK(queries, e, dim = 64, numPlanes = 4, k = 3)
          .select(col("query_id"), col("vec_id"), round(col("c"), 9).as("cosine"))
          .orderBy("query_id", "vec_id")
      }
    }

    // Embedding-cosine near-duplicate pairs: 4-plane LSH buckets, pairs
    // generated only within a bucket, cosine-verified. The oracle
    // replays the identical plane literals and fold arithmetic.
    {
      val planes = (0 until 4).map(p =>
        s"list_transform(generate_series(1, 64), d -> " +
          s"(CAST('0x' || substr(md5('${p}_' || CAST(d - 1 AS VARCHAR)), 1, 4) AS BIGINT)" +
          s" - CAST(32768 AS DOUBLE)) / CAST(32768 AS DOUBLE)) AS p$p").mkString(", ")
      val bucketOf = (v: String) => (0 until 4).map(p =>
        s"CASE WHEN ${dotSql(s"p$p", v)} >= 0 THEN ${1L << p} ELSE 0 END").mkString(" + ")
      q("q_embedding_near_dup",
        s"""WITH planes AS (SELECT $planes),
           |b AS (SELECT vec_id, embedding,
           |        sqrt(${dotSql("embedding", "embedding")}) AS nrm,
           |        ${bucketOf("embedding")} AS bucket
           |      FROM embeddings, planes),
           |pr AS (SELECT a.vec_id AS vec_a, x.vec_id AS vec_b,
           |         ${dotSql("a.embedding", "x.embedding")} / (a.nrm * x.nrm) AS c
           |       FROM b a JOIN b x ON a.bucket = x.bucket AND a.vec_id < x.vec_id)
           |SELECT vec_a, vec_b, round(c, 9) AS cosine
           |FROM pr WHERE c >= 0.3 ORDER BY vec_a, vec_b""".stripMargin) { (s, dir) =>
        Similarity.cosineNearDup(Tables.embeddings(s, dir),
            dim = 64, numPlanes = 4, threshold = 0.3)
          .select(col("vec_a"), col("vec_b"), round(col("cosine"), 9).as("cosine"))
          .orderBy("vec_a", "vec_b")
      }

      // Semantic cluster collapse ACROSS TABLES: embedding-cosine
      // near-dup pairs (the CTEs above) clustered by the recursive
      // closure, then each cluster of DOCUMENTS keeps its longest
      // member — the embedding-space twin of q_cluster_keep_best
      // (paraphrase-level dedup that n-gram LSH cannot see), and the
      // documents⋈embeddings composition in one gate query. Exercises
      // TextDedup.collapseKeepBestByPairs, the pairs-driven core shared
      // by the text, embedding, and perceptual collapse paths.
      q("q_semantic_keep_best",
        s"""WITH RECURSIVE planes AS (SELECT $planes),
           |b AS (SELECT vec_id, embedding,
           |        sqrt(${dotSql("embedding", "embedding")}) AS nrm,
           |        ${bucketOf("embedding")} AS bucket
           |      FROM embeddings, planes),
           |pr AS (SELECT a.vec_id AS doc_a, x.vec_id AS doc_b
           |       FROM b a JOIN b x ON a.bucket = x.bucket AND a.vec_id < x.vec_id
           |       WHERE ${dotSql("a.embedding", "x.embedding")} / (a.nrm * x.nrm)
           |             >= 0.3),
           |edges AS (SELECT doc_a AS n, doc_b AS m FROM pr
           |          UNION SELECT doc_b, doc_a FROM pr),
           |reach(n, m) AS (SELECT n, m FROM edges
           |                UNION
           |                SELECT r.n, e.m FROM reach r JOIN edges e ON r.m = e.n),
           |cl AS (SELECT n AS doc_id, least(n, min(m)) AS cluster_id
           |       FROM reach GROUP BY n),
           |alldocs AS (SELECT d.doc_id, d.n_chars,
           |              coalesce(cl.cluster_id, d.doc_id) AS cluster_id
           |            FROM documents d LEFT JOIN cl USING (doc_id)),
           |rk AS (SELECT doc_id, cluster_id,
           |         count(*) OVER (PARTITION BY cluster_id) AS n_members,
           |         row_number() OVER (PARTITION BY cluster_id
           |                            ORDER BY n_chars DESC, doc_id) AS rn
           |       FROM alldocs)
           |SELECT doc_id, cluster_id, CAST(n_members AS BIGINT) AS n_members,
           |  rn = 1 AS kept
           |FROM rk ORDER BY doc_id""".stripMargin) { (s, dir) =>
        val pairs = Similarity.cosineNearDup(Tables.embeddings(s, dir),
            dim = 64, numPlanes = 4, threshold = 0.3)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
        TextDedup.collapseKeepBestByPairs(Tables.documents(s, dir),
            "doc_id", "n_chars", pairs)
          .orderBy("doc_id")
      }

      // Bounded-slice twin of q_semantic_keep_best (sf1 strict-gate
      // protocol): universe capped at vec_id < 2000 / doc_id < 5000 in
      // both engines — a no-op at sf <= 0.1, tractable at sf1 where the
      // unsliced oracle's within-bucket pair verify costs 727 s.
      q("q_semantic_keep_best_sliced",
        s"""WITH RECURSIVE planes AS (SELECT $planes),
           |b AS (SELECT vec_id, embedding,
           |        sqrt(${dotSql("embedding", "embedding")}) AS nrm,
           |        ${bucketOf("embedding")} AS bucket
           |      FROM embeddings, planes WHERE vec_id < 2000),
           |pr AS (SELECT a.vec_id AS doc_a, x.vec_id AS doc_b
           |       FROM b a JOIN b x ON a.bucket = x.bucket AND a.vec_id < x.vec_id
           |       WHERE ${dotSql("a.embedding", "x.embedding")} / (a.nrm * x.nrm)
           |             >= 0.3),
           |edges AS (SELECT doc_a AS n, doc_b AS m FROM pr
           |          UNION SELECT doc_b, doc_a FROM pr),
           |reach(n, m) AS (SELECT n, m FROM edges
           |                UNION
           |                SELECT r.n, e.m FROM reach r JOIN edges e ON r.m = e.n),
           |cl AS (SELECT n AS doc_id, least(n, min(m)) AS cluster_id
           |       FROM reach GROUP BY n),
           |alldocs AS (SELECT d.doc_id, d.n_chars,
           |              coalesce(cl.cluster_id, d.doc_id) AS cluster_id
           |            FROM (SELECT * FROM documents WHERE doc_id < 5000) d
           |            LEFT JOIN cl USING (doc_id)),
           |rk AS (SELECT doc_id, cluster_id,
           |         count(*) OVER (PARTITION BY cluster_id) AS n_members,
           |         row_number() OVER (PARTITION BY cluster_id
           |                            ORDER BY n_chars DESC, doc_id) AS rn
           |       FROM alldocs)
           |SELECT doc_id, cluster_id, CAST(n_members AS BIGINT) AS n_members,
           |  rn = 1 AS kept
           |FROM rk ORDER BY doc_id""".stripMargin) { (s, dir) =>
        val pairs = Similarity.cosineNearDup(
            Tables.embeddings(s, dir).filter(col("vec_id") < 2000),
            dim = 64, numPlanes = 4, threshold = 0.3)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
        TextDedup.collapseKeepBestByPairs(
            Tables.documents(s, dir).filter(col("doc_id") < 5000),
            "doc_id", "n_chars", pairs)
          .orderBy("doc_id")
      }
    }

    // Semantic benchmark decontamination: max cosine of every corpus
    // embedding against the (tiny) benchmark-embedding set — the
    // EMBEDDING-space companion to the n-gram q_contamination, catching
    // paraphrased eval leakage that exact grams miss. The bench set
    // rides as PLAN LITERALS (the IVF-centroid pattern), so the whole
    // probe is a map-only projection: no join, no shuffle at any scale.
    // max() is order-independent over doubles, so the oracle's
    // aggregate max over the identical cosine folds matches exactly.
    q("q_semantic_contamination",
      s"""WITH b AS (SELECT vec_id AS bench_id, embedding AS bv,
         |             sqrt(${dotSql("embedding", "embedding")}) AS bn
         |           FROM embeddings WHERE vec_id < 5),
         |sc AS (SELECT e.vec_id,
         |         ${dotSql("bv", "e.embedding")}
         |           / (bn * sqrt(${dotSql("e.embedding", "e.embedding")})) AS c
         |       FROM embeddings e, b WHERE e.vec_id >= 5),
         |mx AS (SELECT vec_id, max(c) AS mc FROM sc GROUP BY vec_id)
         |SELECT vec_id, round(mc, 9) AS max_cos, mc >= 0.25 AS contaminated
         |FROM mx ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val bench = operators.Clustering.seedCentroids(
        e.filter(col("vec_id") < 5), "vec_id", "embedding", 5)
      e.filter(col("vec_id") >= 5)
        .select(col("vec_id"),
          Similarity.maxCosineToSet(col("embedding"), bench).as("mc"))
        .select(col("vec_id"), round(col("mc"), 9).as("max_cos"),
          (col("mc") >= 0.25).as("contaminated"))
        .orderBy("vec_id")
    }

    // Per-label embedding statistics (vector-norm reductions).
    q("q_embedding_stats",
      s"""WITH n AS (SELECT label, sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |           FROM embeddings)
         |SELECT label, count(*) AS n_vecs,
         |  round(avg(nrm), 9) AS avg_norm,
         |  round(min(nrm), 9) AS min_norm,
         |  round(max(nrm), 9) AS max_norm
         |FROM n GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"), Similarity.norm(col("embedding")).as("nrm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(avg("nrm"), 9).as("avg_norm"),
          round(min("nrm"), 9).as("min_norm"),
          round(max("nrm"), 9).as("max_norm"))
        .orderBy("label")
    }

    // Per-label centroid components (class prototypes): posexplode to
    // (label, pos, component), average per cell — the distributed form
    // of a vector mean, shuffling scalars instead of arrays.
    q("q_embedding_centroid",
      """SELECT label, i - 1 AS pos,
        |  round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS centroid_c
        |FROM embeddings, (SELECT unnest(generate_series(1, 8)) AS i)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(slice(col("embedding"), 1, 8)).as(Seq("pos", "c")))
        .groupBy("label", "pos")
        .agg(round(avg(col("c").cast("double")), 6).as("centroid_c"))
        .orderBy("label", "pos")
    }

    // Per-label embedding diversity: mean pairwise squared distance by
    // the moment identity 2·n/(n−1)·(E‖x‖² − ‖µ‖²) — two linear
    // aggregates, never a pairs join; the oracle replays the identical
    // moments (same ArrayDot fold for ‖x‖², same per-dim means).
    q("q_embedding_diversity",
      s"""WITH m AS (SELECT label, count(*) AS n_vecs,
         |    avg(${dotSql("embedding", "embedding")}) AS m2
         |  FROM embeddings GROUP BY label),
         |c AS (SELECT label, i, avg(CAST(embedding[i] AS DOUBLE)) AS mv
         |  FROM (SELECT label, embedding,
         |          unnest(generate_series(1, len(embedding))) AS i
         |        FROM embeddings)
         |  GROUP BY label, i),
         |c2 AS (SELECT label, sum(mv * mv) AS c2 FROM c GROUP BY label)
         |SELECT label, n_vecs,
         |  round(m2, 6) AS mean_sq_norm,
         |  round(c2, 6) AS centroid_sq_norm,
         |  round(2.0 * n_vecs / nullif(n_vecs - 1, 0) * (m2 - c2), 6)
         |    AS mean_pairwise_sq_dist
         |FROM m JOIN c2 USING (label) ORDER BY label""".stripMargin) { (s, dir) =>
      Similarity.embeddingDiversity(Tables.embeddings(s, dir),
          "embedding", "label")
        .select(col("label"), col("n_vecs"),
          round(col("mean_sq_norm"), 6).as("mean_sq_norm"),
          round(col("centroid_sq_norm"), 6).as("centroid_sq_norm"),
          round(col("mean_pairwise_sq_dist"), 6).as("mean_pairwise_sq_dist"))
        .orderBy("label")
    }

    // ---- text analysis -------------------------------------------------

    // Quality scoring: length, lexical diversity, stopword density.
    q("q_text_quality",
      """SELECT doc_id,
        |  length(text) AS n_chars_m,
        |  len(string_split(text, ' ')) AS n_words,
        |  len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) AS distinct_ratio,
        |  len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) / len(string_split(text, ' ')) AS stop_ratio,
        |  round(0.3 * least(len(string_split(text, ' ')) / 50.0, 1.0)
        |    + 0.4 * (len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')))
        |    + 0.3 * (1.0 - len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) / len(string_split(text, ' '))), 9) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val ws = split(col("text"), " ")
      val nWords = size(ws)
      val distinctRatio = size(array_distinct(ws)) / nWords
      val stopRatio = size(filter(ws, w => w === "the" || w === "a")) / nWords
      Tables.documents(s, dir).select(col("doc_id"),
        length(col("text")).as("n_chars_m"),
        nWords.as("n_words"),
        distinctRatio.as("distinct_ratio"),
        stopRatio.as("stop_ratio"),
        round(lit(0.3) * least(nWords / lit(50.0), lit(1.0))
          + lit(0.4) * distinctRatio
          + lit(0.3) * (lit(1.0) - stopRatio), 9).as("quality"))
        .orderBy("doc_id")
    }

    // Language-ID by stopword-list hit ratio (n-gram-free heuristic;
    // arg-max with fixed tie order). The synthetic corpus is English-ish
    // so 'en' dominates — the oracle checks the computation, the labels
    // come from the data generator.
    {
      val lists = Seq(
        "en" -> Seq("the", "a", "and", "of", "is"),
        "de" -> Seq("der", "die", "das", "und"),
        "es" -> Seq("el", "los", "las", "y"),
        "fr" -> Seq("le", "la", "et", "les"))
      def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")
      val scoreSql = lists.map { case (l, ws) =>
        s"len(list_filter(string_split(text, ' '), w -> w IN (${inList(ws)}))) " +
          s"/ len(string_split(text, ' ')) AS ${l}_score"
      }.mkString(",\n        |  ")
      q("q_lang_id",
        s"""WITH sc AS (SELECT doc_id, lang AS actual_lang,
           |  $scoreSql
           |FROM documents)
           |SELECT doc_id, actual_lang, en_score, de_score, es_score, fr_score,
           |  CASE WHEN en_score >= de_score AND en_score >= es_score AND en_score >= fr_score THEN 'en'
           |       WHEN de_score >= es_score AND de_score >= fr_score THEN 'de'
           |       WHEN es_score >= fr_score THEN 'es'
           |       ELSE 'fr' END AS pred_lang
           |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
        val ws = split(col("text"), " ")
        def score(words: Seq[String]) =
          size(filter(ws, w => words.map(w === _).reduce(_ || _))) / size(ws)
        val scored = Tables.documents(s, dir).select(
          (col("doc_id") +: col("lang").as("actual_lang") +:
            lists.map { case (l, wl) => score(wl).as(s"${l}_score") }): _*)
        scored.withColumn("pred_lang",
          when(col("en_score") >= col("de_score") && col("en_score") >= col("es_score")
            && col("en_score") >= col("fr_score"), "en")
            .when(col("de_score") >= col("es_score") && col("de_score") >= col("fr_score"), "de")
            .when(col("es_score") >= col("fr_score"), "es")
            .otherwise("fr"))
          .orderBy("doc_id")
      }
    }

    // TRAINED language-ID: one-vs-rest logistic regression over hashed
    // bag-of-words features (operators.QualityModel.trainLogRegMulti —
    // all 4 classes fused into ONE scan + ONE bucket exchange per GD
    // iteration), scored map-only from the shared feature pin
    // (scoreMultiPinned; scoreInline remains the streaming/corpus
    // inference column). The stock corpus
    // text carries no language signal (its lang column is independent
    // of its 31 shared words), so the classifier trains and predicts on
    // a deterministic md5-synthesized multilingual corpus (8
    // characteristic words per language + 8 shared words, ~1/3 shared
    // density) — one synthetic doc per documents row, replayed
    // bit-for-bit by the oracle. The differential spec
    // (LangIdTrainedSpec) shows the trained model beating the stopword
    // heuristic when the vocabulary is disjoint from the hand lists.
    {
      val langs = Seq("en", "de", "es", "fr")
      val shared = Seq("data", "point", "line", "graph", "model", "node",
        "edge", "file")
      val lv = Seq(
        "en" -> Seq("the", "and", "was", "for", "with", "this", "that", "from"),
        "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht", "mit"),
        "es" -> Seq("el", "la", "que", "los", "una", "por", "como", "mas"),
        "fr" -> Seq("le", "les", "des", "une", "dans", "pour", "avec", "sur"))
      val all32 = lv.flatMap(_._2)
      val B = 256
      def sqlList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      // per-language unrolled 2-iteration GD stack (the lrCtes shape)
      val perLang = langs.map { l =>
        s"""lab_$l AS (SELECT doc_id, CASE WHEN lang = '$l' THEN 1.0 ELSE 0.0 END AS y FROM syn),
           |w1_$l AS (SELECT b, round(-sum((0.5 - y) * x) / n, 9) AS w
           |       FROM feats JOIN lab_$l USING (doc_id), n GROUP BY b, n),
           |b1_$l AS (SELECT round(-sum(0.5 - y) / n, 9) AS bias FROM lab_$l, n GROUP BY n),
           |s2_$l AS (SELECT doc_id, round(sum(x * w) + any_value(bias), 9) AS s
           |       FROM feats JOIN w1_$l USING (b), b1_$l GROUP BY doc_id),
           |d2_$l AS (SELECT doc_id, 1.0 / (1.0 + exp(-s)) - y AS dd
           |       FROM s2_$l JOIN lab_$l USING (doc_id)),
           |w2_$l AS (SELECT b, round(any_value(w) - sum(x * dd) / any_value(n), 9) AS w
           |       FROM feats JOIN d2_$l USING (doc_id) JOIN w1_$l USING (b), n GROUP BY b),
           |b2_$l AS (SELECT round(any_value(bias) - sum(dd) / any_value(n), 9) AS bias
           |       FROM d2_$l, b1_$l, n),
           |s3_$l AS (SELECT doc_id, round(sum(x * w) + any_value(bias), 9) AS s
           |       FROM feats JOIN w2_$l USING (b), b2_$l GROUP BY doc_id),
           |p_$l AS (SELECT doc_id, round(1.0 / (1.0 + exp(-s)), 6) AS p FROM s3_$l)""".stripMargin
      }.mkString(",\n")
      q("q_lang_id_trained",
        s"""WITH syn AS (SELECT doc_id,
           |    ${sqlList(langs)}[1 + CAST(doc_id % 4 AS INT)] AS lang,
           |    array_to_string(list_transform(generate_series(0, 23), j ->
           |      CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 7) AS BIGINT) % 3 = 0
           |        THEN ${sqlList(shared)}[1 + CAST((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 7) AS BIGINT) % 24) // 3 AS INT)]
           |        ELSE ${sqlList(all32)}[1 + CAST(doc_id % 4 AS INT) * 8 + CAST((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 7) AS BIGINT) % 24) // 3 AS INT)]
           |      END), ' ') AS text
           |  FROM documents),
           |toks AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
           |           unnest(string_split(text, ' ')) AS t FROM syn),
           |feats AS (SELECT doc_id,
           |            CAST('0x' || substr(md5(t), 1, 7) AS BIGINT) % $B AS b,
           |            count(*) / CAST(min(dl) AS DOUBLE) AS x
           |          FROM toks GROUP BY doc_id, b),
           |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM syn),
           |$perLang
           |SELECT s.doc_id, s.lang AS actual_lang,
           |  p_en.p AS s_en, p_de.p AS s_de, p_es.p AS s_es, p_fr.p AS s_fr,
           |  CASE WHEN p_en.p >= p_de.p AND p_en.p >= p_es.p AND p_en.p >= p_fr.p THEN 'en'
           |       WHEN p_de.p >= p_es.p AND p_de.p >= p_fr.p THEN 'de'
           |       WHEN p_es.p >= p_fr.p THEN 'es'
           |       ELSE 'fr' END AS pred_lang
           |FROM syn s
           |JOIN p_en ON p_en.doc_id = s.doc_id
           |JOIN p_de ON p_de.doc_id = s.doc_id
           |JOIN p_es ON p_es.doc_id = s.doc_id
           |JOIN p_fr ON p_fr.doc_id = s.doc_id
           |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
        def hj(j: Column) = conv(substring(md5(concat(
          col("doc_id").cast("string"), lit(":"), j.cast("string"))), 1, 7),
          16, 10).cast("long")
        def widx(j: Column) = ((hj(j) % 24) / lit(3)).cast("int")
        val wordAt = (j: Column) =>
          when(hj(j) % 3 === 0, element_at(typedLit(shared), widx(j) + 1))
            .otherwise(element_at(typedLit(all32),
              (col("doc_id") % 4).cast("int") * 8 + widx(j) + 1))
        val syn = Tables.documents(s, dir).select(col("doc_id"),
          element_at(typedLit(langs), (col("doc_id") % 4).cast("int") + 1)
            .as("lang"),
          array_join(transform(sequence(lit(0), lit(23)), wordAt), " ")
            .as("text"))
        // ONE grouped+checkpointed feature pin serves all GD iterations
        // (the first also counts the rows — no separate count job) AND
        // inference (r15: the 4 per-language scoreInline kernel re-runs
        // over re-synthesized text are gone — scoring is one map over
        // the 1-row-per-doc pin with the weight vectors as plan
        // literals). r16: the pin is
        // built DIRECTLY from the word_bag_features kernel — no token
        // explode, no group-by-doc exchange (bit-identical features,
        // CharGramFeaturesSpec word twin).
        val pinned = QualityModel.pinLabeledWordFeatures(syn, "doc_id",
          "text", syn.select(col("doc_id"), col("lang").as("label")), B)
        val models = QualityModel.trainLogRegMultiPinned(pinned,
          langs, B, iters = 2, lr = 1.0)
        val scored = QualityModel.scoreMultiPinned(pinned,
          langs.map(l => l -> models(l)))
          .withColumnRenamed("label", "actual_lang")
        // No-feature docs come through pinLabeledFeatures' left join
        // with null fx, so scoreMultiPinned emits null s_* — guard the
        // argmax so they predict null, not the fall-through class.
        scored.withColumn("pred_lang",
          when(col("s_en").isNotNull,
            when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es")
              && col("s_en") >= col("s_fr"), "en")
              .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
              .when(col("s_es") >= col("s_fr"), "es")
              .otherwise("fr")))
          .orderBy("doc_id")
      }

      // Char-n-gram variant (fastText's actual representation —
      // Bojanowski 2017 boundary-marked char 3-grams): word-unigram
      // features carry zero signal on unseen vocabulary and on
      // no-whitespace scripts; char grams generalize through shared
      // morphology (LangIdTrainedSpec differential: char model stays
      // accurate on suffix-extended off-list words where the word
      // model degenerates to the bias). Same synthesized corpus, same
      // fused 4-class GD, only the feats CTE changes: boundary-marked
      // char 3-grams, md5-fold hashed, gram-count-normalized.
      q("q_lang_id_chargram",
        s"""WITH syn AS (SELECT doc_id,
           |    ${sqlList(langs)}[1 + CAST(doc_id % 4 AS INT)] AS lang,
           |    array_to_string(list_transform(generate_series(0, 23), j ->
           |      CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 7) AS BIGINT) % 3 = 0
           |        THEN ${sqlList(shared)}[1 + CAST((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 7) AS BIGINT) % 24) // 3 AS INT)]
           |        ELSE ${sqlList(all32)}[1 + CAST(doc_id % 4 AS INT) * 8 + CAST((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 7) AS BIGINT) % 24) // 3 AS INT)]
           |      END), ' ') AS text
           |  FROM documents),
           |marked AS (SELECT doc_id, '<' || w || '>' AS m FROM
           |  (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM syn)
           |  WHERE length(w) > 0),
           |grams AS (SELECT doc_id, substr(m, gs, 3) AS g
           |  FROM marked, LATERAL (SELECT unnest(generate_series(1,
           |    greatest(length(m) - 2, 1))) AS gs) t),
           |gl AS (SELECT doc_id, count(*) AS dl FROM grams GROUP BY doc_id),
           |feats AS (SELECT doc_id,
           |            CAST('0x' || substr(md5(g), 1, 7) AS BIGINT) % $B AS b,
           |            count(*) / CAST(min(dl) AS DOUBLE) AS x
           |          FROM grams JOIN gl USING (doc_id) GROUP BY doc_id, b),
           |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM syn),
           |$perLang
           |SELECT s.doc_id, s.lang AS actual_lang,
           |  p_en.p AS s_en, p_de.p AS s_de, p_es.p AS s_es, p_fr.p AS s_fr,
           |  CASE WHEN p_en.p >= p_de.p AND p_en.p >= p_es.p AND p_en.p >= p_fr.p THEN 'en'
           |       WHEN p_de.p >= p_es.p AND p_de.p >= p_fr.p THEN 'de'
           |       WHEN p_es.p >= p_fr.p THEN 'es'
           |       ELSE 'fr' END AS pred_lang
           |FROM syn s
           |JOIN p_en ON p_en.doc_id = s.doc_id
           |JOIN p_de ON p_de.doc_id = s.doc_id
           |JOIN p_es ON p_es.doc_id = s.doc_id
           |JOIN p_fr ON p_fr.doc_id = s.doc_id
           |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
        def hj(j: Column) = conv(substring(md5(concat(
          col("doc_id").cast("string"), lit(":"), j.cast("string"))), 1, 7),
          16, 10).cast("long")
        def widx(j: Column) = ((hj(j) % 24) / lit(3)).cast("int")
        val wordAt = (j: Column) =>
          when(hj(j) % 3 === 0, element_at(typedLit(shared), widx(j) + 1))
            .otherwise(element_at(typedLit(all32),
              (col("doc_id") % 4).cast("int") * 8 + widx(j) + 1))
        val syn = Tables.documents(s, dir).select(col("doc_id"),
          element_at(typedLit(langs), (col("doc_id") % 4).cast("int") + 1)
            .as("lang"),
          array_join(transform(sequence(lit(0), lit(23)), wordAt), " ")
            .as("text"))
        // Direct kernel pin: char_gram_features emits each doc's sorted
        // (b, x) array in one digest pass — no exploded gram stream, no
        // doc-keyed group-by exchange (bit-identical to the exploded
        // path; CharGramFeaturesSpec).
        val pinned = QualityModel.pinLabeledCharFeatures(syn, "doc_id",
          "text", syn.select(col("doc_id"), col("lang").as("label")),
          B, n = 3)
        val models = QualityModel.trainLogRegMultiPinned(pinned,
          langs, B, iters = 2, lr = 1.0)
        val scored = QualityModel.scoreMultiPinned(pinned,
          langs.map(l => l -> models(l)))
          .withColumnRenamed("label", "actual_lang")
        // No-feature docs come through pinLabeledFeatures' left join
        // with null fx, so scoreMultiPinned emits null s_* — guard the
        // argmax so they predict null, not the fall-through class.
        scored.withColumn("pred_lang",
          when(col("s_en").isNotNull,
            when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es")
              && col("s_en") >= col("s_fr"), "en")
              .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
              .when(col("s_es") >= col("s_fr"), "es")
              .otherwise("fr")))
          .orderBy("doc_id")
      }
    }

    // Token counting: whitespace tokens, regex word/punct tokens, and the
    // chars/4 BPE estimate.
    q("q_token_count",
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '\w+|[^\w\s]')) AS re_tokens,
        |  CAST(ceil(length(text) / 4) AS BIGINT) AS bpe_est
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0))).as("re_tokens"),
        ceil(length(col("text")) / 4).as("bpe_est"))
        .orderBy("doc_id")
    }

    // Shared oracle CTEs replaying the full BPE merge loop in SQL: each
    // word's symbols ride a \x01-delimited string through a recursive
    // CTE that applies the lowest-rank applicable rule per step (string
    // replace = BPE's left-to-right non-overlapping merge-all), then
    // per-doc counts are word-frequency-weighted sums.
    val bpeCtes =
      s"""merges(rank, a, b) AS (VALUES ${Bpe.mergesSqlValues()}),
         |words AS (
         |  SELECT doc_id, tok, count(*) AS cnt
         |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text),
         |          '${Bpe.PreTokenPattern}')) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |vocab AS (SELECT DISTINCT tok FROM words),
         |enc(tok, s) AS (
         |  SELECT tok, chr(1) || array_to_string(string_split(tok, ''), chr(1)) || chr(1)
         |  FROM vocab
         |  UNION ALL
         |  SELECT e.tok,
         |         replace(e.s, chr(1)||bm.a||chr(1)||bm.b||chr(1),
         |                 chr(1)||bm.a||bm.b||chr(1))
         |  FROM enc e, LATERAL (
         |    SELECT m.a, m.b FROM merges m
         |    WHERE contains(e.s, chr(1)||m.a||chr(1)||m.b||chr(1))
         |    ORDER BY m.rank LIMIT 1) bm),
         |final AS (
         |  SELECT tok, min(length(s) - length(replace(s, chr(1), ''))) - 1 AS ntok
         |  FROM enc GROUP BY tok),
         |per_doc AS (
         |  SELECT w.doc_id, sum(w.cnt * f.ntok) AS n
         |  FROM words w JOIN final f USING (tok) GROUP BY 1)""".stripMargin

    // REAL BPE token counting (operators.Bpe): merge rules learned
    // deterministically from an embedded seed, encoder run as a
    // partition-batched map.
    q("q_token_count_bpe",
      s"""WITH RECURSIVE
         |$bpeCtes
         |SELECT d.doc_id, CAST(coalesce(p.n, 0) AS BIGINT) AS n_tokens_bpe
         |FROM documents d LEFT JOIN per_doc p USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Bpe.tokenCounts(Tables.documents(s, dir), "text")
        .select("doc_id", "n_tokens_bpe").orderBy("doc_id")
    }

    // Token-budget mixing on REAL BPE counts: the q_token_budget_mix
    // prefix-cut policy fed by the BPE encoder instead of the
    // whitespace heuristic — the composition a real training-mixture
    // build runs. Zero joins on the Spark side: tokenCounts appends the
    // count to the document row, the budget window runs per source.
    q("q_token_budget_bpe",
      s"""WITH RECURSIVE
         |$bpeCtes,
         |t AS (SELECT d.doc_id, d.source,
         |        CAST(coalesce(p.n, 0) AS BIGINT) AS n_tokens,
         |        md5(CAST(d.doc_id AS VARCHAR)) AS pr
         |      FROM documents d LEFT JOIN per_doc p USING (doc_id)),
         |c AS (SELECT source, n_tokens,
         |        sum(n_tokens) OVER (PARTITION BY source ORDER BY pr, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM t)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(sum(CASE WHEN cum <= 1500 THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
         |  CAST(sum(CASE WHEN cum <= 1500 THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
         |FROM c GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val t = Bpe.tokenCounts(
          Tables.documents(s, dir).select("doc_id", "source", "text"), "text")
        .select(col("source"), col("n_tokens_bpe").as("n_tokens"), col("doc_id"))
      operators.TextQuality
        .tokenBudgetMix(t, "source", "doc_id", "n_tokens", budget = 1500L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          sum(when(col("cum") <= 1500, 1).otherwise(0)).as("kept_docs"),
          sum(when(col("cum") <= 1500, col("n_tokens")).otherwise(0)).as("kept_tokens"))
        .orderBy("source")
    }

    // REAL BPE tokenization (operators.Bpe.tokenPieces): the document's
    // full subword piece sequence in reading order — what a dataloader
    // consumes after a piece->id dictionary join. The oracle replays the
    // merge loop per distinct word (terminal state = arg_min by length:
    // every merge shortens the delimited symbol string), then flattens
    // per-word pieces back into document order. Pieces are emitted as a
    // '|'-joined string: scalar columns keep the driver's hash compare
    // on proven ground.
    q("q_bpe_tokenize",
      s"""WITH RECURSIVE
         |$bpeCtes,
         |pieces AS (
         |  SELECT tok, substr(s2, 2, length(s2) - 2) AS ps
         |  FROM (SELECT tok, arg_min(s, length(s)) AS s2 FROM enc GROUP BY tok)),
         |stream AS (
         |  SELECT doc_id, i, toks[i] AS tok
         |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
         |        FROM (SELECT doc_id, regexp_extract_all(lower(text),
         |                '${Bpe.PreTokenPattern}') AS toks FROM documents))),
         |doc_pieces AS (
         |  SELECT st.doc_id,
         |    replace(string_agg(p.ps, chr(1) ORDER BY st.i), chr(1), '|') AS pieces_str,
         |    CAST(sum(length(p.ps) - length(replace(p.ps, chr(1), '')) + 1) AS BIGINT)
         |      AS n_pieces
         |  FROM stream st JOIN pieces p USING (tok) GROUP BY st.doc_id)
         |SELECT d.doc_id, coalesce(p.pieces_str, '') AS pieces_str,
         |  coalesce(p.n_pieces, 0) AS n_pieces
         |FROM documents d LEFT JOIN doc_pieces p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      // one-pass fused encode (join + count inside the kernel — no
      // per-row piece array, no second regex scan); Bpe.tokenPieces
      // stays the piece-ARRAY API surface
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.BpeKernels.encode(col("text"),
            Bpe.defaultMerges, "|").as("e"))
        // the kernel null-propagates; the oracle's LEFT JOIN + coalesce
        // contract (and the old Bpe.tokenPieces path) emits ''/0 for a
        // NULL text, so coalesce at the query surface
        .select(col("doc_id"),
          coalesce(col("e.pieces_str"), lit("")).as("pieces_str"),
          coalesce(col("e.n_pieces"), lit(0L)).as("n_pieces"))
        .orderBy("doc_id")
    }

    // Document fingerprinting: 31-ary rolling hash (native codegen'd
    // Catalyst expression — see functions.RollingHash) plus the md5
    // digest; the incremental-dedup key pair.
    q("q_doc_fingerprint",
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT))),
        |    (a, x) -> (a * 31 + x) % 1000000007) AS roll_fp,
        |  md5(text) AS md5_fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      functions.GraftFunctions.register(s)
      Tables.documents(s, dir).select(col("doc_id"),
        expr("rolling_hash(text)").as("roll_fp"),
        md5(col("text")).as("md5_fp"))
        .orderBy("doc_id")
    }

    // Greedy longest-prefix vocabulary tokenizer (WordPiece family,
    // operators.WordPiece): vocabulary = corpus top-10 words + charset;
    // segmentation runs once per DISTINCT word and joins back. The
    // oracle precomputes each word's per-position longest match (a
    // bounded words×positions×vocab aggregate — no aggregation inside
    // the recursion) and walks it in a recursive CTE.
    q("q_wordpiece_fertility",
      """WITH RECURSIVE
        |w AS (SELECT source, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |wv AS (SELECT source, word FROM w WHERE length(word) >= 1),
        |wc AS (SELECT word, count(*) AS cnt FROM wv GROUP BY 1),
        |topw AS (SELECT word AS piece FROM wc ORDER BY cnt DESC, word LIMIT 10),
        |chars AS (SELECT DISTINCT substr(text, i, 1) AS piece
        |  FROM documents, unnest(generate_series(1, length(text))) AS t(i)
        |  WHERE length(text) >= 1),
        |vocab AS (SELECT DISTINCT piece FROM
        |  (SELECT piece FROM topw UNION ALL SELECT piece FROM chars)),
        |dw AS (SELECT DISTINCT word FROM wv),
        |lm AS (SELECT word, i AS pos,
        |    coalesce(max(CASE WHEN substr(word, i, length(piece)) = piece
        |      THEN length(piece) END), 1) AS adv
        |  FROM dw, unnest(generate_series(1, length(word))) AS t(i), vocab
        |  GROUP BY 1, 2),
        |seg AS (
        |  SELECT word, 1 AS pos, 0 AS n FROM dw
        |  UNION ALL
        |  SELECT s.word, s.pos + l.adv, s.n + 1
        |  FROM seg s JOIN lm l ON l.word = s.word AND l.pos = s.pos
        |  WHERE s.pos <= length(s.word)),
        |np AS (SELECT word, max(n) AS n_pieces FROM seg GROUP BY 1)
        |SELECT source, count(*) AS n_words,
        |  CAST(sum(n_pieces) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(n_pieces) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9)
        |    + CAST(0 AS DOUBLE) AS fertility
        |FROM wv JOIN np USING (word)
        |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      graft.operators.WordPiece.fertilityBySource(
          Tables.documents(s, dir), "text", "source", topWords = 10)
        .orderBy("source")
    }

    // Unigram-LM tokenizer trainer (Kudo 2018 / SentencePiece unigram,
    // operators.UnigramLm — the third subword family beside BPE and
    // WordPiece): seed = top-60 frequency-weighted substrings (len<=4)
    // + all chars; 2 hard-EM rounds of in-plan Viterbi over the
    // distinct-word memo with the log-prob table as a map literal. The
    // oracle replays the EM exactly: the forward DP and backtrace run
    // as recursive CTEs carrying the dp/backpointer LISTS and the
    // round-6 log-prob MAP per row (list_max over (score, -start)
    // structs = max score, longest-piece tie-break, same as Spark's
    // array_max); counts are exact integers, probs add-one-smoothed
    // over the fixed vocabulary, rounded at 9.
    // Shared oracle CTE stack for the unigram-LM family: seed vocab,
    // 2 hard-EM rounds of recursive-CTE Viterbi + backtrace, final
    // counts (un2) + totals (ut2). q_unigram_lm_vocab reads the vocab;
    // q_unigram_fertility runs ONE more Viterbi pass under the final
    // probabilities to oracle-check the ENCODE path (segment()).
    // One Viterbi + backtrace round of the oracle's recursive-CTE DP,
    // emitted per EM round (and once more for the fertility encode
    // gate) so the copies cannot drift: uvit$i runs the forward DP
    // under the prob map CTE $pm, ubt$i walks the backpointers.
    def vitCtes(i: Int, pm: String): String =
      s"""uvit$i AS (
        |  SELECT w.w, w.f, 0 AS pos, [CAST(0.0 AS DOUBLE)] AS dp, [0] AS bp, $pm.m AS m
        |  FROM uwords w, $pm
        |  UNION ALL
        |  SELECT w, f, pos + 1,
        |    list_append(dp, best.s), list_append(bp, -best.nj), m
        |  FROM (
        |    SELECT w, f, pos, dp, bp, m,
        |      list_max(list_transform(generate_series(greatest(0, pos + 1 - 4), pos), j ->
        |        {'s': dp[j + 1] + coalesce(map_extract(m, substr(w, j + 1, pos + 1 - j))[1], -1e9),
        |         'nj': -j})) AS best
        |    FROM uvit$i WHERE pos < length(w)) ),
        |uvd$i AS (SELECT w, f, bp FROM uvit$i WHERE pos = length(w)),
        |ubt$i AS (
        |  SELECT w, f, bp, length(w) AS pos, CAST([] AS VARCHAR[]) AS ps FROM uvd$i
        |  UNION ALL
        |  SELECT w, f, bp, bp[pos + 1] AS pos,
        |    list_prepend(substr(w, bp[pos + 1] + 1, pos - bp[pos + 1]), ps)
        |  FROM ubt$i WHERE pos > 0)""".stripMargin

    // Per-round count/prune CTE generators (same no-drift discipline
    // as vitCtes): unigramCounts emits round $i's Viterbi-count join
    // over $vocabCte; prunePmCtes emits the top-$k ∪ single-chars
    // prune, its stats, and the next prob map.
    def unigramCounts(i: Int, vocabCte: String): String =
      s"""ucounts$i AS (
        |  SELECT piece, sum(f) AS c FROM (
        |    SELECT f, unnest(ps) AS piece FROM ubt$i WHERE pos = 0)
        |  GROUP BY piece),
        |un$i AS (SELECT v.piece, coalesce(c.c, 0) AS n FROM $vocabCte v LEFT JOIN ucounts$i c ON v.piece = c.piece)""".stripMargin
    def prunePmCtes(i: Int, k: Int): String =
      s"""uvocab$i AS (
        |  SELECT DISTINCT piece, n FROM (
        |    SELECT piece, n FROM (SELECT piece, n FROM un$i ORDER BY n DESC, piece LIMIT $k)
        |    UNION ALL SELECT piece, n FROM un$i WHERE length(piece) = 1)),
        |uvs$i AS (SELECT count(*) AS v, sum(n) AS t FROM uvocab$i),
        |upm$i AS (SELECT map(list(piece ORDER BY piece),
        |                   list(round(ln((n + 1) / CAST(t + v AS DOUBLE)), 6) ORDER BY piece)) AS m
        |        FROM uvocab$i, uvs$i)""".stripMargin

    // Seed-vocabulary head of the unigram oracle stacks, parameterized
    // by seed size (the pruned query seeds larger, then prunes).
    def unigramHead(seedSize: Int): String =
      s"""uwords AS (
        |  SELECT w, count(*) AS f FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '${Bpe.PreTokenPattern}')) AS w
        |    FROM documents)
        |  GROUP BY w),
        |ucands AS (
        |  SELECT piece, sum(f) AS n FROM (
        |    SELECT w.f, substr(w.w, s.s, l.l) AS piece
        |    FROM uwords w,
        |         LATERAL (SELECT unnest(generate_series(1, length(w.w))) AS s) s,
        |         LATERAL (SELECT unnest(generate_series(1, least(4, length(w.w) - s.s + 1))) AS l) l)
        |  GROUP BY piece),
        |useeds AS (SELECT piece, n FROM ucands ORDER BY n DESC, piece LIMIT $seedSize),
        |uvocab AS (
        |  SELECT DISTINCT piece, n FROM (
        |    SELECT * FROM useeds UNION ALL SELECT piece, n FROM ucands WHERE length(piece) = 1)),
        |uvs AS (SELECT count(*) AS v, sum(n) AS t FROM uvocab),
        |upm0 AS (SELECT map(list(piece ORDER BY piece),
        |                   list(round(ln((n + 1) / CAST(t + v AS DOUBLE)), 6) ORDER BY piece)) AS m
        |        FROM uvocab, uvs)""".stripMargin

    val unigramEmCtes =
      s"""${unigramHead(60)},
        |${vitCtes(1, "upm0")},
        |${unigramCounts(1, "uvocab")},
        |ut1 AS (SELECT sum(n) AS t FROM un1),
        |upm1 AS (SELECT map(list(piece ORDER BY piece),
        |                   list(round(ln((n + 1) / CAST(t.t + v.v AS DOUBLE)), 6) ORDER BY piece)) AS m
        |        FROM un1, ut1 t, uvs v),
        |${vitCtes(2, "upm1")},
        |${unigramCounts(2, "uvocab")},
        |ut2 AS (SELECT sum(n) AS t FROM un2)""".stripMargin

    q("q_unigram_lm_vocab",
      s"""WITH RECURSIVE
        |$unigramEmCtes
        |SELECT un2.piece, CAST(un2.n AS BIGINT) AS n,
        |  round((un2.n + 1) / CAST(ut2.t + v.v AS DOUBLE), 9) AS p
        |FROM un2, ut2, uvs v
        |ORDER BY n DESC, piece""".stripMargin) { (s, dir) =>
      val m = graft.operators.UnigramLm.train(Tables.documents(s, dir),
        "text", maxLen = 4, seedSize = 60, iters = 2)
      graft.operators.UnigramLm.vocabDF(s, m)
        .orderBy(col("n").desc, col("piece"))
    }

    // Unigram-LM with Kudo's vocabulary-size control: seed LARGE
    // (top-120 substrings + chars), then after each EM round keep only
    // the 40 best pieces by Viterbi count (plus all single chars, the
    // coverage floor) — the production SentencePiece discipline, where
    // the final vocabulary is a pruning target rather than the seed
    // size. The oracle replays both pruning rounds: top-40 ∪ chars
    // between the Viterbi passes, re-normalizing over the shrunken
    // vocabulary each time.
    q("q_unigram_lm_pruned",
      s"""WITH RECURSIVE
        |${unigramHead(120)},
        |${vitCtes(1, "upm0")},
        |${unigramCounts(1, "uvocab")},
        |${prunePmCtes(1, 40)},
        |${vitCtes(2, "upm1")},
        |${unigramCounts(2, "uvocab1")},
        |${prunePmCtes(2, 40)}
        |SELECT uvocab2.piece, CAST(uvocab2.n AS BIGINT) AS n,
        |  round((uvocab2.n + 1) / CAST(uvs2.t + uvs2.v AS DOUBLE), 9) AS p
        |FROM uvocab2, uvs2
        |ORDER BY n DESC, piece""".stripMargin) { (s, dir) =>
      val m = graft.operators.UnigramLm.train(Tables.documents(s, dir),
        "text", maxLen = 4, seedSize = 120, iters = 2, pruneTo = 40)
      graft.operators.UnigramLm.vocabDF(s, m)
        .orderBy(col("n").desc, col("piece"))
    }

    // Unigram-LM fertility: pieces-per-word per source under the
    // TRAINED model — the oracle gate for the ENCODE path
    // (operators.UnigramLm.segment, the partition-memo Viterbi a
    // dataloader-facing pipeline runs at corpus scale). The oracle
    // runs a third recursive-CTE Viterbi under the final smoothed
    // probabilities (upm2 = the model segment() scores with), walks
    // the backtrace to per-word piece counts, and weights them by the
    // corpus word stream.
    q("q_unigram_fertility",
      s"""WITH RECURSIVE
        |$unigramEmCtes,
        |upm2 AS (SELECT map(list(piece ORDER BY piece),
        |                   list(round(ln((n + 1) / CAST(t.t + v.v AS DOUBLE)), 6) ORDER BY piece)) AS m
        |        FROM un2, ut2 t, uvs v),
        |${vitCtes(3, "upm2")},
        |uwp AS (SELECT w, len(ps) AS np FROM ubt3 WHERE pos = 0),
        |dtok AS (SELECT source,
        |    unnest(regexp_extract_all(lower(text), '${Bpe.PreTokenPattern}')) AS w
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(np) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(np) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9) AS fertility
        |FROM dtok JOIN uwp ON dtok.w = uwp.w
        |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val m = graft.operators.UnigramLm.train(docs, "text",
        maxLen = 4, seedSize = 60, iters = 2)
      graft.operators.UnigramLm.segment(
          docs.select(col("doc_id"), col("source"), col("text")), "text", m)
        .select(col("source"),
          size(regexp_extract_all(lower(col("text")),
            lit(graft.operators.Bpe.PreTokenPattern), lit(0)))
            .cast("long").as("nw"),
          size(col("unigram_pieces")).cast("long").as("np"))
        // zero-word docs contribute nothing to either sum; dropping
        // them also drops an all-empty SOURCE entirely, matching the
        // oracle's word-stream join (which would emit no row for it
        // where a groupBy would emit (source, 0, 0, NaN))
        .filter(col("nw") > 0)
        .groupBy("source")
        .agg(sum("nw").as("n_words"), sum("np").as("n_tokens"),
          round(sum("np").cast("double") / sum("nw").cast("double"), 9)
            .as("fertility"))
        .orderBy("source")
    }

    // Winnowing (Schleimer 2003, the MOSS primitive): distinct minima
    // of 4-wide windows over the ordered word-trigram hash stream, then
    // pairs sharing >= 3 fingerprints — local edit-robust overlap
    // candidates over a set ~2/(w+1) the density of full shingles. The
    // oracle replays the identical md5 fold, window minima and integer
    // counts.
    q("q_winnow_overlap",
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |hs AS (SELECT doc_id,
        |    list_transform(generate_series(1, len(ws) - 2),
        |      i -> CAST('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 7)
        |             AS BIGINT)) AS h
        |  FROM words WHERE len(ws) >= 3),
        |win AS (SELECT doc_id, least(4, len(h)) AS weff, h FROM hs),
        |fp0 AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(h) - weff + 1),
        |      i -> list_min(h[i:i+weff-1]))) AS fp
        |  FROM win),
        |fps AS (SELECT DISTINCT doc_id, fp FROM fp0),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    count(*) AS n_shared
        |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared FROM pairs WHERE n_shared >= 3
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      TextDedup.winnowOverlap(Tables.documents(s, dir), "doc_id", "text",
          k = 3, w = 4, minShared = 3L)
        .orderBy("doc_a", "doc_b")
    }

    // The capped form (maxPostings = 3): fingerprints shared by more
    // than 3 docs — boilerplate, in MOSS's own "too many documents"
    // sense — drop BEFORE the pair join, bounding the quadratic term.
    // The cap is deliberately low so the drop path genuinely fires at
    // every gate SF (148 hot fingerprints at sf0.001, max posting 9;
    // a production run would set it orders of magnitude higher).
    q("q_winnow_overlap_capped",
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |hs AS (SELECT doc_id,
        |    list_transform(generate_series(1, len(ws) - 2),
        |      i -> CAST('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 7)
        |             AS BIGINT)) AS h
        |  FROM words WHERE len(ws) >= 3),
        |win AS (SELECT doc_id, least(4, len(h)) AS weff, h FROM hs),
        |fp0 AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(h) - weff + 1),
        |      i -> list_min(h[i:i+weff-1]))) AS fp
        |  FROM win),
        |fps AS (SELECT DISTINCT doc_id, fp FROM fp0),
        |cold AS (SELECT doc_id, fp FROM
        |  (SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n FROM fps)
        |  WHERE n <= 3),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    count(*) AS n_shared
        |  FROM cold a JOIN cold b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared FROM pairs WHERE n_shared >= 3
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      TextDedup.winnowOverlap(Tables.documents(s, dir), "doc_id", "text",
          k = 3, w = 4, minShared = 3L, maxPostings = 3L)
        .orderBy("doc_a", "doc_b")
    }

    // Incremental (snapshot-N+1) winnow: the stored fingerprint index
    // (doc_id % 10 < 8 — "yesterday's corpus", its (idx_id, fp) table
    // materialized once) scores only the NEW batch (doc_id % 10 >= 8)
    // via an asymmetric join — never index×index. The oracle replays
    // the same split over the shared fingerprint CTE stack; the
    // batch==full differential (restricted winnowOverlap equality) is
    // pinned in TextDedupEdgeSpec.
    q("q_incremental_winnow",
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |hs AS (SELECT doc_id,
        |    list_transform(generate_series(1, len(ws) - 2),
        |      i -> CAST('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 7)
        |             AS BIGINT)) AS h
        |  FROM words WHERE len(ws) >= 3),
        |win AS (SELECT doc_id, least(4, len(h)) AS weff, h FROM hs),
        |fp0 AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(h) - weff + 1),
        |      i -> list_min(h[i:i+weff-1]))) AS fp
        |  FROM win),
        |fps AS (SELECT DISTINCT doc_id, fp FROM fp0),
        |pairs AS (SELECT b.doc_id AS new_id, a.doc_id AS idx_id,
        |    count(*) AS n_shared
        |  FROM fps a JOIN fps b ON a.fp = b.fp
        |  WHERE a.doc_id % 10 < 8 AND b.doc_id % 10 >= 8
        |  GROUP BY 1, 2)
        |SELECT new_id, idx_id, n_shared FROM pairs WHERE n_shared >= 3
        |ORDER BY new_id, idx_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val fpIndex = TextDedup.winnowFingerprints(
          docs.filter(col("doc_id") % 10 < 8), "doc_id", "text", k = 3, w = 4)
        .select(col("doc_id").as("idx_id"), col("fp"))
      TextDedup.winnowAgainstIndex(docs.filter(col("doc_id") % 10 >= 8),
          fpIndex, "doc_id", "text", k = 3, w = 4, minShared = 3L)
        .orderBy("new_id", "idx_id")
    }

    // Multimodal metadata: each doc carries a REAL container byte stream
    // (PNG IHDR / JPEG SOF behind an APP0 segment / GIF screen
    // descriptor, dims derived from doc_id) with the text bytes as
    // trailing payload; extractMeta must actually parse the header —
    // endian-correct field extraction, marker skipping, color-type →
    // channels — to match the oracle, which re-derives the dims
    // arithmetically and the payload digest by constructing the
    // identical bytes from hex. Byte identity is proven by sha256 over
    // the (uppercase) hex encoding, the blob-hash surface DuckDB shares
    // with Spark.
    q("q_multimodal_meta",
      """WITH p AS (
        |  SELECT doc_id, text,
        |         1 + doc_id % 509 AS w,
        |         1 + (doc_id * 7) % 389 AS h,
        |         doc_id % 3 AS fmt,
        |         doc_id % 2 = 0 AS alt
        |  FROM documents),
        |hdr AS (
        |  SELECT doc_id, text, w, h, fmt, alt,
        |    CASE fmt
        |      WHEN 0 THEN '89504E470D0A1A0A' || '0000000D49484452'
        |        || lpad(to_hex(w), 8, '0') || lpad(to_hex(h), 8, '0')
        |        || '08' || CASE WHEN alt THEN '06' ELSE '02' END || '000000' || '00000000'
        |      WHEN 1 THEN 'FFD8FFE000104A46494600010100000100010000'
        |        || 'FFC0' || CASE WHEN alt THEN '000B' ELSE '0011' END || '08'
        |        || lpad(to_hex(h), 4, '0') || lpad(to_hex(w), 4, '0')
        |        || CASE WHEN alt THEN '01011100' ELSE '03011100021101031101' END
        |      ELSE '474946383961'
        |        || lpad(to_hex(w % 256), 2, '0') || lpad(to_hex(w // 256), 2, '0')
        |        || lpad(to_hex(h % 256), 2, '0') || lpad(to_hex(h // 256), 2, '0')
        |        || '000000'
        |    END AS hex
        |  FROM p)
        |SELECT doc_id,
        |  CAST(octet_length(unhex(hex)) + octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  CASE fmt WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
        |  CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height,
        |  CAST(CASE fmt WHEN 0 THEN CASE WHEN alt THEN 4 ELSE 3 END
        |                WHEN 1 THEN CASE WHEN alt THEN 1 ELSE 3 END
        |                ELSE 3 END AS INTEGER) AS channels,
        |  sha256(to_hex(unhex(hex) || encode(text))) AS payload_sha256
        |FROM hdr ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val mk = udf((docId: Long, text: String) => {
        val w = 1 + (docId % 509).toInt
        val h = 1 + ((docId * 7) % 389).toInt
        val header = docId % 3 match {
          case 0 => Multimodal.pngFixture(w, h, if (docId % 2 == 0) 6 else 2)
          case 1 => Multimodal.jpegFixture(w, h, if (docId % 2 == 0) 1 else 3)
          case _ => Multimodal.gifFixture(w, h)
        }
        header ++ text.getBytes("UTF-8")
      })
      val withPayload = Tables.documents(s, dir)
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("payload"))
      val meta = Multimodal.extractMeta(withPayload, "doc_id", "payload")
        .drop("sha256_hex") // raw-bytes sha: no DuckDB blob-hash to check it against
      val digest = withPayload.select(col("doc_id"),
        sha2(hex(col("payload")), 256).as("payload_sha256"))
      meta.join(digest, Seq("doc_id")).orderBy("doc_id")
    }

    // Audio metadata: real PCM WAV bytes per doc (RIFF/fmt/data chunk
    // layout, parameters derived from doc_id, text bytes as the PCM
    // payload); extractAudioMeta must walk the chunks and read the
    // little-endian fmt fields to match the oracle's arithmetic
    // predictions.
    q("q_audio_meta",
      """WITH p AS (SELECT doc_id, octet_length(encode(text)) AS len,
        |        8000 * (1 + doc_id % 6) AS rate,
        |        1 + doc_id % 2 AS ch,
        |        CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS bits
        |      FROM documents)
        |SELECT doc_id,
        |  CAST(44 + len AS INTEGER) AS n_bytes,
        |  'wav' AS format,
        |  CAST(rate AS INTEGER) AS sample_rate,
        |  CAST(ch AS INTEGER) AS channels,
        |  CAST(bits AS INTEGER) AS bits_per_sample,
        |  CAST(len // (ch * bits // 8) AS BIGINT) AS n_frames
        |FROM p ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val mk = udf((docId: Long, text: String) => {
        val data = text.getBytes("UTF-8")
        val rate = 8000 * (1 + (docId % 6)).toInt
        val ch = 1 + (docId % 2).toInt
        val bits = if (docId % 3 == 0) 8 else 16
        Multimodal.wavFixture(rate, ch, bits, data.length) ++ data
      })
      val withPayload = Tables.documents(s, dir)
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("payload"))
      Multimodal.extractAudioMeta(withPayload, "doc_id", "payload")
        .orderBy("doc_id")
    }

    // Video metadata: real MP4 (ISO BMFF) bytes per doc — ftyp + nested
    // moov{mvhd, trak{tkhd}} boxes with doc_id-derived parameters, text
    // bytes appended as an opaque mdat stand-in; extractVideoMeta must
    // walk the big-endian box tree and decode the 16.16 fixed-point
    // track size to match the oracle's arithmetic.
    q("q_video_meta",
      """WITH p AS (SELECT doc_id, octet_length(encode(text)) AS len,
        |        1000 * (1 + doc_id % 4) AS ts,
        |        CAST(1000 * (1 + doc_id % 4) * (1 + doc_id % 30) AS BIGINT) AS dur,
        |        CAST(16 * (8 + doc_id % 113) AS INTEGER) AS w,
        |        CAST(16 * (8 + (doc_id * 3) % 59) AS INTEGER) AS h
        |      FROM documents)
        |SELECT doc_id,
        |  CAST(232 + len AS INTEGER) AS n_bytes,
        |  'mp4' AS format,
        |  CAST(1000 * (1 + doc_id % 30) AS BIGINT) AS duration_ms,
        |  w AS width, h AS height
        |FROM p ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val mk = udf((docId: Long, text: String) => {
        val ts = 1000 * (1 + (docId % 4)).toInt
        val dur = ts * (1 + (docId % 30)).toInt
        val w = 16 * (8 + (docId % 113)).toInt
        val h = 16 * (8 + ((docId * 3) % 59)).toInt
        Multimodal.mp4Fixture(ts, dur, w, h) ++ text.getBytes("UTF-8")
      })
      val withPayload = Tables.documents(s, dir)
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("payload"))
      Multimodal.extractVideoMeta(withPayload, "doc_id", "payload")
        .orderBy("doc_id")
    }

    // Perceptual image near-dup: each doc < 500 carries a REAL 24-bit
    // BMP (9x8, pixels derived from doc_id: a shared per-group base
    // pattern plus a variant-selected +128 perturbation); the engine
    // decodes the actual bytes (data offset, bottom-up rows, padding,
    // BGR -> BT.601 luma) and dHashes them, then byte-band LSH + exact
    // hamming verify finds pairs. The oracle re-derives the grayscale
    // arithmetically, replays the bit/band construction, the SAME
    // band-bucket candidate restriction, and the hamming cut — so the
    // full decode -> hash -> LSH -> verify pipeline is value-checked.
    q("q_image_near_dup",
      """WITH d AS (SELECT doc_id, doc_id % 25 AS grp, doc_id // 25 AS var
        |           FROM documents WHERE doc_id < 500),
        |     xs AS (SELECT unnest(generate_series(0, 8)) AS x),
        |     ys AS (SELECT unnest(generate_series(0, 7)) AS y),
        |px AS (
        |  SELECT doc_id, x, y,
        |    (grp*73 + x*29 + y*19 + CASE WHEN (x*3 + y*5 + var*7) % 11 = 0 THEN 128 ELSE 0 END) % 256 AS r,
        |    (grp*59 + x*31 + y*13 + CASE WHEN (x*3 + y*5 + var*7) % 11 = 0 THEN 128 ELSE 0 END) % 256 AS g,
        |    (grp*41 + x*23 + y*17 + CASE WHEN (x*3 + y*5 + var*7) % 11 = 0 THEN 128 ELSE 0 END) % 256 AS b
        |  FROM d, xs, ys),
        |gray AS (SELECT doc_id, x, y, (299*r + 587*g + 114*b) // 1000 AS gy FROM px),
        |bands AS (
        |  SELECT a.doc_id, a.y AS band,
        |         CAST(sum(CASE WHEN b.gy > a.gy THEN 1 << a.x ELSE 0 END) AS BIGINT) AS sig
        |  FROM gray a JOIN gray b ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
        |  WHERE a.x < 8 GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands a JOIN bands b
        |           ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        |ham AS (SELECT c.doc_a, c.doc_b,
        |          CAST(sum(bit_count(xor(ba.sig, bb.sig))) AS INTEGER) AS hamming
        |        FROM cand c
        |        JOIN bands ba ON ba.doc_id = c.doc_a
        |        JOIN bands bb ON bb.doc_id = c.doc_b AND bb.band = ba.band
        |        GROUP BY 1, 2)
        |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 8
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      val mk = udf((docId: Long) => {
        val grp = (docId % 25).toInt
        val vr = (docId / 25).toInt
        ImageDedup.bmpFixture(9, 8, (x, y) => {
          val p = if ((x * 3 + y * 5 + vr * 7) % 11 == 0) 128 else 0
          ((grp * 73 + x * 29 + y * 19 + p) % 256,
            (grp * 59 + x * 31 + y * 13 + p) % 256,
            (grp * 41 + x * 23 + y * 17 + p) % 256)
        })
      })
      val imgs = Tables.documents(s, dir).filter(col("doc_id") < 500)
        .select(col("doc_id"), mk(col("doc_id")).as("payload"))
      val hashes = ImageDedup.dHashes(imgs, "doc_id", "payload")
      ImageDedup.imageNearDuplicates(hashes, "doc_id", "dhash", maxHamming = 8)
        .orderBy("doc_a", "doc_b")
    }

    // Perceptual audio near-dup: each doc < 400 carries a REAL 8-bit
    // mono PCM WAV (260 samples derived from doc_id: a multiplicatively
    // mixed per-group base signal plus a variant-selected +24
    // perturbation on ~1/17 of samples); the engine decodes the actual
    // bytes (RIFF chunk walk, PCM validation, sample centering),
    // fingerprints the 65-frame energy envelope (bit i = energy rises
    // frame i -> i+1), then byte-band hamming LSH + exact verify finds
    // pairs. The oracle re-derives the samples arithmetically and
    // replays energy -> bit -> band -> the SAME band-bucket candidate
    // restriction -> hamming cut, so decode -> fingerprint -> LSH ->
    // verify is value-checked end to end.
    q("q_audio_near_dup",
      """WITH d AS (SELECT doc_id, doc_id % 20 AS grp, doc_id // 20 AS var
        |           FROM documents WHERE doc_id < 400),
        |     idx AS (SELECT unnest(generate_series(0, 259)) AS i),
        |smp AS (
        |  SELECT doc_id, i,
        |    ((((grp+7)*(i+13)*2654435761) % 4294967296) // 16777216
        |      + CASE WHEN (i*7 + var*11) % 17 = 0 THEN 24 ELSE 0 END) % 256 - 128 AS c
        |  FROM d, idx),
        |e AS (SELECT doc_id, i // 4 AS f, sum(c*c) AS e FROM smp GROUP BY 1, 2),
        |bands AS (
        |  SELECT a.doc_id, a.f // 8 AS band,
        |         CAST(sum(CASE WHEN b.e > a.e THEN 1 << (a.f % 8) ELSE 0 END) AS BIGINT) AS sig
        |  FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.f = a.f + 1
        |  WHERE a.f < 64 GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands a JOIN bands b
        |           ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        |ham AS (SELECT c.doc_a, c.doc_b,
        |          CAST(sum(bit_count(xor(ba.sig, bb.sig))) AS INTEGER) AS hamming
        |        FROM cand c
        |        JOIN bands ba ON ba.doc_id = c.doc_a
        |        JOIN bands bb ON bb.doc_id = c.doc_b AND bb.band = ba.band
        |        GROUP BY 1, 2)
        |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 6
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      val mk = udf((docId: Long) => {
        val grp = (docId % 20).toInt
        val vr = (docId / 20).toInt
        val data = new Array[Byte](260)
        var i = 0
        while (i < 260) {
          val base = (((grp + 7).toLong * (i + 13) * 2654435761L) % 4294967296L) / 16777216L
          val p = if ((i * 7 + vr * 11) % 17 == 0) 24 else 0
          data(i) = ((base + p) % 256).toByte
          i += 1
        }
        Multimodal.wavFixture(8000, 1, 8, 260) ++ data
      })
      val wavs = Tables.documents(s, dir).filter(col("doc_id") < 400)
        .select(col("doc_id"), mk(col("doc_id")).as("payload"))
      val fps = AudioDedup.fingerprints(wavs, "doc_id", "payload")
      AudioDedup.audioNearDuplicates(fps, "doc_id", "afp", maxHamming = 6)
        .orderBy("doc_a", "doc_b")
    }

    // Frame sampling: every 4th 64-byte frame of the payload, with the
    // frame digest. The oracle mirrors byte slices as char slices
    // (ASCII payload), proving the imperative slicing path.
    q("q_multimodal_frames",
      """SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
        |  CAST(length(substr(text, f * 64 + 1, 64)) AS INTEGER) AS frame_bytes,
        |  md5(substr(text, f * 64 + 1, 64)) AS frame_md5
        |FROM (SELECT doc_id, text,
        |        unnest(generate_series(0, greatest((length(text) - 1) // 64, 0), 4)) AS f
        |      FROM documents WHERE doc_id < 100)
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      val withPayload = Tables.documents(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      Multimodal.sampleFrames(withPayload, "doc_id", "payload",
          frameSize = 64, stride = 4)
        .orderBy("doc_id", "frame_idx")
    }

    // ---- IVF similarity / clustering ------------------------------------

    // Shared oracle CTEs for the IVF family: the 8 lowest-id vectors seed
    // the cells; every vector's nearest cell is rank-1 of (cosine desc,
    // cell asc). The fold arithmetic is bit-identical to
    // Clustering.cosineToLit, so cell decisions replay exactly.
    val ivfCtes =
      s"""c AS (SELECT vec_id AS cell, embedding AS cv,
         |        sqrt(${dotSql("embedding", "embedding")}) AS cn
         |      FROM embeddings WHERE vec_id < 8),
         |a AS (SELECT e.vec_id, e.embedding, c.cell,
         |        ${dotSql("cv", "e.embedding")}
         |          / (cn * sqrt(${dotSql("e.embedding", "e.embedding")})) AS cc,
         |        row_number() OVER (PARTITION BY e.vec_id
         |          ORDER BY ${dotSql("cv", "e.embedding")}
         |            / (cn * sqrt(${dotSql("e.embedding", "e.embedding")})) DESC, c.cell) AS crn
         |      FROM embeddings e, c)""".stripMargin

    // IVF top-k: nlist=8 cells seeded by the lowest-id vectors, queries
    // probe their 2 nearest cells, exact cosine inside. Cell assignment
    // is a literal projection (no shuffle) — the IVF counterpart to
    // q_ann_lsh's hyperplane buckets.
    q("q_ivf_topk",
      s"""WITH $ivfCtes,
         |asn AS (SELECT vec_id, embedding, cell FROM a WHERE crn = 1),
         |probes AS (SELECT vec_id AS query_id, embedding AS qv, cell
         |           FROM a WHERE vec_id < 3 AND crn <= 2),
         |sc AS (SELECT query_id, asn.vec_id,
         |         ${cosSql("qv", "asn.embedding")} AS c
         |       FROM asn JOIN probes USING (cell)
         |       WHERE asn.vec_id != query_id),
         |r AS (SELECT query_id, vec_id, c,
         |        row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rn
         |      FROM sc)
         |SELECT query_id, vec_id, round(c, 9) AS cosine
         |FROM r WHERE rn <= 3 ORDER BY query_id, vec_id""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      operators.Clustering.ivfTopK(queries, e, "vec_id", "embedding",
          nlist = 8, nprobe = 2, k = 3)
        .select(col("query_id"), col("vec_id"), round(col("c"), 9).as("cosine"))
        .orderBy("query_id", "vec_id")
    }

    // Retrieval-quality evaluation (operators.Similarity.recallAtK):
    // recall@3 of the IVF(nprobe=2) candidate list against exact
    // cosine — the metric every ANN trade is tuned by, here under the
    // hash gate (both pipelines replayed in full, then one pair-key
    // left join + per-query aggregate).
    q("q_retrieval_recall",
      s"""WITH $ivfCtes,
         |asn AS (SELECT vec_id, embedding, cell FROM a WHERE crn = 1),
         |probes AS (SELECT vec_id AS query_id, embedding AS qv, cell
         |           FROM a WHERE vec_id < 3 AND crn <= 2),
         |sc AS (SELECT query_id, asn.vec_id,
         |         ${cosSql("qv", "asn.embedding")} AS c
         |       FROM asn JOIN probes USING (cell)
         |       WHERE asn.vec_id != query_id),
         |r AS (SELECT query_id, vec_id, c,
         |        row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rn
         |      FROM sc),
         |ap AS (SELECT query_id, vec_id FROM r WHERE rn <= 3),
         |exq AS (SELECT vec_id AS query_id, embedding AS qv
         |        FROM embeddings WHERE vec_id < 3),
         |exsc AS (SELECT query_id, vec_id, ${cosSql("qv", "embedding")} AS c
         |         FROM embeddings, exq WHERE vec_id != query_id),
         |exr AS (SELECT query_id, vec_id,
         |          row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rn
         |        FROM exsc),
         |ex AS (SELECT query_id, vec_id FROM exr WHERE rn <= 3)
         |SELECT ex.query_id, count(*) AS n_exact,
         |  CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hit,
         |  CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS recall
         |FROM ex LEFT JOIN ap
         |  ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id
         |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val exact = operators.Similarity.cosineTopK(queries, e, k = 3)
        .select("query_id", "vec_id")
      val approx = operators.Clustering.ivfTopK(queries, e, "vec_id",
          "embedding", nlist = 8, nprobe = 2, k = 3)
        .select("query_id", "vec_id")
      operators.Similarity.recallAtK(exact, approx).orderBy("query_id")
    }

    // Semantic dedup: keep the most-central vector per IVF cell — the
    // embedding-space counterpart of MinHash near-dup clustering.
    q("q_semantic_dedup",
      s"""WITH $ivfCtes,
         |asn AS (SELECT vec_id, cell, cc,
         |          row_number() OVER (PARTITION BY cell ORDER BY cc DESC, vec_id) AS rrn
         |        FROM a WHERE crn = 1)
         |SELECT cell, min(CASE WHEN rrn = 1 THEN vec_id END) AS rep_id,
         |  round(max(cc), 9) AS rep_cos, count(*) AS cell_size
         |FROM asn GROUP BY cell ORDER BY cell""".stripMargin) { (s, dir) =>
      operators.Clustering.semanticDedup(Tables.embeddings(s, dir),
          "vec_id", "embedding", nlist = 8)
        .select(col("cell"), col("rep_id"),
          round(col("rep_cos"), 9).as("rep_cos"), col("cell_size"))
        .orderBy("cell")
    }

    // Distributed k-means (3 Lloyd iterations, k=8): centroid updates are
    // scalar shuffles + an O(k×dim) collect per round. roundTo=6 snaps
    // each centroid mean to 6 decimals, absorbing distributed-sum float
    // drift — the whole iteration becomes a deterministic function of
    // the input, so the oracle replays seed → assign → round(avg) three
    // times and every cell decision matches bit-for-bit (see
    // Clustering.kmeans scaladoc). Convergence and
    // partitioning-invariance stay ScalaTest-gated.
    val kmeansIterCtes = {
      val iters = 3
      def cos(cv: String, e: String) =
        s"${dotSql(cv, e)} / (sqrt(${dotSql(cv, cv)}) * sqrt(${dotSql(e, e)}))"
      val sb = new StringBuilder(
        "c0 AS (SELECT vec_id AS cell, embedding AS cv FROM embeddings WHERE vec_id < 8)")
      for (i <- 1 to iters) {
        sb.append(s""",
           |s$i AS (SELECT e.vec_id, e.embedding, c.cell,
           |          ${cos("c.cv", "e.embedding")} AS cc
           |        FROM embeddings e, c${i - 1} c),
           |a$i AS (SELECT vec_id, embedding, cell, cc,
           |          row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cell) AS crn
           |        FROM s$i),
           |u$i AS (SELECT cell, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
           |        FROM (SELECT cell, embedding, unnest(generate_series(1, len(embedding))) AS i
           |              FROM a$i WHERE crn = 1)
           |        GROUP BY cell, i),
           |c$i AS (SELECT c.cell, COALESCE(n.cv, CAST(c.cv AS DOUBLE[])) AS cv
           |        FROM c${i - 1} c LEFT JOIN
           |          (SELECT cell, list(m ORDER BY i) AS cv FROM u$i GROUP BY cell) n
           |          USING (cell))""".stripMargin)
      }
      sb.append(s""",
         |sf AS (SELECT e.vec_id, c.cell, ${cos("c.cv", "e.embedding")} AS cc
         |       FROM embeddings e, c$iters c),
         |af AS (SELECT vec_id, cell, cc,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cell) AS crn
         |       FROM sf)""".stripMargin)
      sb.toString
    }
    q("q_kmeans_cells",
      s"""WITH $kmeansIterCtes
         |SELECT cell, count(*) AS cell_size, round(avg(cc), 6) AS avg_cos
         |FROM af WHERE crn = 1 GROUP BY cell ORDER BY cell""".stripMargin) { (s, dir) =>
      val (assigned, _) = operators.Clustering.kmeans(
        Tables.embeddings(s, dir), "vec_id", "embedding", k = 8, iters = 3,
        roundTo = 6)
      assigned.groupBy("cell")
        .agg(count(lit(1)).as("cell_size"),
          round(avg("cell_cos"), 6).as("avg_cos"))
        .orderBy("cell")
    }

    // Clustering-quality readout over the SAME trained centroids as
    // q_kmeans_cells: simplified (centroid-based) silhouette with
    // cosine distance, s = (cos₁ − cos₂)/(1 − cos₂). The oracle reuses
    // the kmeans CTE stack verbatim — af's crn=1/crn=2 rows are exactly
    // the own/runner-up cosines the Spark projection ranks row-locally.
    q("q_silhouette",
      s"""WITH $kmeansIterCtes,
         |own AS (SELECT vec_id, cell, cc FROM af WHERE crn = 1),
         |nxt AS (SELECT vec_id, cc AS cc2 FROM af WHERE crn = 2),
         |sil AS (SELECT own.cell,
         |          (own.cc - nxt.cc2) / nullif(1 - nxt.cc2, 0) AS sil
         |        FROM own JOIN nxt USING (vec_id))
         |SELECT cell, count(*) AS n_vecs, round(avg(sil), 6) AS avg_silhouette
         |FROM sil GROUP BY cell ORDER BY cell""".stripMargin) { (s, dir) =>
      val (_, cents) = operators.Clustering.kmeans(
        Tables.embeddings(s, dir), "vec_id", "embedding", k = 8, iters = 3,
        roundTo = 6)
      operators.Clustering.silhouette(
          Tables.embeddings(s, dir), "vec_id", "embedding", cents)
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"),
          round(avg("silhouette"), 6).as("avg_silhouette"))
        .orderBy("cell")
    }

    // Stratified sampling: per-group hash thresholds (downsample the
    // dominant language, keep the rest) — the data-balancing op,
    // reproducible under any partitioning.
    q("q_stratified_sample",
      """SELECT lang, count(*) AS n_sampled,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sampled
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
        |      CASE WHEN lang = 'en' THEN '40' ELSE 'c0' END
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .filter(substring(md5(col("doc_id").cast("string")), 1, 2) <
          when(col("lang") === "en", "40").otherwise("c0"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"), sum("n_chars").as("chars_sampled"))
        .orderBy("lang")
    }
  }
}
