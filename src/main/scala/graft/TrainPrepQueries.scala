package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Packing, TextDedup, TextQuality}

/** Training-data preparation surface beyond dedup/similarity: repetition
  * quality signals, rule-composed quality filtering (Gopher-style),
  * passage-level dedup, benchmark-contamination detection, and sequence
  * packing into fixed context windows. Each query has a DuckDB oracle
  * replaying the identical arithmetic (md5 hashes, integer divisions),
  * so results are value-checked end to end.
  */
object TrainPrepQueries {

  def registerAll(reg: (String, Option[String], (SparkSession, String) => DataFrame) => Unit): Unit = {

    def q(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Unit =
      reg(name, Some(oracle), fn)

    // Shared by q_contamination and q_decontam_union: per corpus doc
    // (doc_id >= 10), its distinct-8-gram count and the number of those
    // grams also present in the benchmark docs (doc_id < 10). 60-bit
    // grams from the native kernel, per-doc dedup in-kernel — (doc_id,
    // h) rows are unique by construction, so the train-side distinct
    // exchange disappears; the eval-sized bench set broadcasts.
    def benchGramCounts(docs: DataFrame): DataFrame = {
      def gramHash(d: DataFrame) = d.select(col("doc_id"),
        explode(graft.functions.ShingleHashes(col("text"), 8, 15,
          dedup = true)).as("h"))
      val bench = gramHash(docs.filter(col("doc_id") < 10))
        .select("h").distinct()
      gramHash(docs.filter(col("doc_id") >= 10))
        .join(broadcast(bench.withColumnRenamed("h", "bh")),
          col("h") === col("bh"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("bh").isNotNull, 1).otherwise(0)).as("n_hit"))
    }

    // Repetition signals (the Gopher/RefinedWeb-style dup-text class):
    // top-bigram share of all bigrams plus distinct-word fraction. One
    // bigram explode + two bounded aggregations; the doc-level stats are
    // pure projections joined back on doc_id.
    q("q_repetition_ratio",
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
        |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-1)) AS i FROM ws)),
        |top AS (SELECT doc_id, max(c) AS top_bg FROM (
        |          SELECT doc_id, count(*) AS c FROM bg GROUP BY doc_id, bg)
        |        GROUP BY doc_id),
        |st AS (SELECT doc_id, len(w) AS nw,
        |         len(list_distinct(w)) AS ndw FROM ws)
        |SELECT st.doc_id, round(top_bg / (nw - 1), 9) AS rep_ratio,
        |  round(ndw / nw, 9) AS distinct_frac,
        |  (top_bg / (nw - 1) > 0.1 OR ndw / nw < 0.3) AS is_repetitive
        |FROM st JOIN top ON st.doc_id = top.doc_id
        |ORDER BY st.doc_id""".stripMargin) { (s, dir) =>
      // single local file → spread so the bigram explode and the
      // array_distinct projection use all cores (no-op on a well-split
      // source)
      val docs = Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
      val ws = split(col("text"), " ")
      val wsa = col("__ws")
      val stats = docs.select(col("doc_id"), size(ws).as("nw"),
        size(array_distinct(ws)).as("ndw"))
      // split projected to an attribute first: the transform lambda is
      // interpreted, so an inlined split expression would re-split the
      // document per element_at reference (see TextDedup.shingles)
      val top = docs
        .select(col("doc_id"), ws.as("__ws"))
        // sequence(1, 0) DESCENDS in Spark: guard one-word docs (null
        // branch explodes to zero rows, like DuckDB's empty series)
        .select(col("doc_id"), explode(when(size(wsa) >= 2,
          transform(sequence(lit(1), size(wsa) - 1),
            i => concat(element_at(wsa, i), lit(" "), element_at(wsa, i + 1))))).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("top_bg"))
      stats.join(top, "doc_id")
        .select(col("doc_id"),
          round(col("top_bg") / (col("nw") - 1), 9).as("rep_ratio"),
          round(col("ndw") / col("nw"), 9).as("distinct_frac"),
          (col("top_bg") / (col("nw") - 1) > 0.1 ||
            col("ndw") / col("nw") < 0.3).as("is_repetitive"))
        .orderBy("doc_id")
    }

    // Rule-composed quality filter (Gopher rules shape): word-count
    // bounds, mean word length bounds, stopword presence, lexical
    // diversity — each rule a named boolean, plus the composed keep.
    // Pure projection: scales as a map-only scan.
    q("q_gopher_rules",
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w, n_chars FROM documents),
        |st AS (SELECT doc_id, len(w) AS nw,
        |         list_reduce(list_prepend(0, list_transform(w, x -> len(x))), (a, x) -> a + x) AS wchars,
        |         len(list_filter(w, x -> x IN ('the', 'a'))) AS nstop,
        |         len(list_distinct(w)) AS ndw
        |       FROM ws)
        |SELECT doc_id, nw >= 10 AND nw <= 1000 AS ok_words,
        |  wchars / nw >= 2 AND wchars / nw <= 12 AS ok_wordlen,
        |  nstop / nw >= 0.01 AS ok_stopwords,
        |  ndw / nw >= 0.2 AS ok_diversity,
        |  (nw >= 10 AND nw <= 1000) AND (wchars / nw >= 2 AND wchars / nw <= 12)
        |    AND nstop / nw >= 0.01 AND ndw / nw >= 0.2 AS keep
        |FROM st ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // one split per row: the four consumers read the projected
      // attribute, not four copies of the split expression
      val wsa = col("__ws")
      val st = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("__ws"))
        .select(col("doc_id"),
          size(wsa).as("nw"),
          aggregate(transform(wsa, w => length(w)), lit(0), (a, x) => a + x).as("wchars"),
          size(filter(wsa, w => w === "the" || w === "a")).as("nstop"),
          size(array_distinct(wsa)).as("ndw"))
      val okWords = col("nw") >= 10 && col("nw") <= 1000
      val okWordlen = col("wchars") / col("nw") >= 2 && col("wchars") / col("nw") <= 12
      val okStop = col("nstop") / col("nw") >= 0.01
      val okDiv = col("ndw") / col("nw") >= 0.2
      st.select(col("doc_id"), okWords.as("ok_words"), okWordlen.as("ok_wordlen"),
          okStop.as("ok_stopwords"), okDiv.as("ok_diversity"),
          (okWords && okWordlen && okStop && okDiv).as("keep"))
        .orderBy("doc_id")
    }

    // The Gopher line/symbol rule family over deterministically
    // synthesized line text: every ~31st token becomes '#', 6-word
    // lines, every (doc_id+li)%5==0 line gets a '- ' bullet prefix,
    // %4==0 lines end in '...' (else '.') — so all four rules fire with
    // doc-dependent ratios. Both engines build the identical string
    // (DuckDB list lambdas index 1-based; the synthesis accounts for it).
    q("q_gopher_full",
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |rp AS (SELECT doc_id, list_transform(w, (x, i) ->
        |         CASE WHEN (doc_id + i - 1) % 31 = 0 THEN '#' ELSE x END) AS w
        |       FROM ws),
        |lt AS (SELECT doc_id, array_to_string(list_transform(
        |    generate_series(0, CAST(ceil(len(w) / 6.0) AS INT) - 1),
        |    li -> CASE WHEN (doc_id + li) % 5 = 0 THEN '- ' ELSE '' END ||
        |          array_to_string(w[li*6+1 : least(li*6+6, len(w))], ' ') ||
        |          CASE WHEN (doc_id + li) % 4 = 0 THEN '...' ELSE '.' END),
        |    chr(10)) AS ltext
        |  FROM rp),
        |m AS (SELECT doc_id, ltext,
        |    string_split(ltext, chr(10)) AS ls,
        |    string_split_regex(ltext, '\s+') AS wd
        |  FROM lt),
        |r AS (SELECT doc_id,
        |    (CAST(length(ltext) - length(regexp_replace(ltext, '#', '', 'g')) AS DOUBLE)
        |      + CAST(length(ltext) - length(replace(ltext, '...', '')) AS DOUBLE) / 3.0)
        |      / CAST(len(wd) AS DOUBLE) AS symbol_ratio,
        |    CAST(len(list_filter(ls, l -> starts_with(l, '- ')
        |      OR starts_with(l, '• '))) AS DOUBLE)
        |      / CAST(len(ls) AS DOUBLE) AS bullet_frac,
        |    CAST(len(list_filter(ls, l -> ends_with(l, '...'))) AS DOUBLE)
        |      / CAST(len(ls) AS DOUBLE) AS ellipsis_frac,
        |    CAST(len(list_filter(wd, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
        |      / CAST(len(wd) AS DOUBLE) AS alpha_frac
        |  FROM m)
        |SELECT doc_id, round(symbol_ratio, 9) AS symbol_ratio,
        |  round(bullet_frac, 9) AS bullet_frac,
        |  round(ellipsis_frac, 9) AS ellipsis_frac,
        |  round(alpha_frac, 9) AS alpha_frac,
        |  symbol_ratio <= 0.1 AS ok_symbols,
        |  bullet_frac <= 0.1 AS ok_bullets,
        |  ellipsis_frac <= 0.3 AS ok_ellipsis,
        |  alpha_frac >= 0.8 AS ok_alpha,
        |  (symbol_ratio <= 0.1 AND bullet_frac <= 0.1
        |    AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8) AS keep
        |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val wsa = col("__ws")
      val repl = transform(wsa, (x, i) =>
        when((col("doc_id") + i) % 31 === 0, lit("#")).otherwise(x))
      val rp = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("__ws"))
        .select(col("doc_id"), repl.as("__ws"))
      val nLines = ceil(size(wsa) / lit(6.0)).cast("int")
      val lines = transform(sequence(lit(0), nLines - 1), li =>
        concat(
          when((col("doc_id") + li) % 5 === 0, lit("- ")).otherwise(lit("")),
          array_join(slice(wsa, li * 6 + 1, lit(6)), " "),
          when((col("doc_id") + li) % 4 === 0, lit("..."))
            .otherwise(lit("."))))
      val synth = rp.select(col("doc_id"), array_join(lines, "\n").as("ltext"))
      TextQuality.gopherLineRules(synth, "doc_id", "ltext")
        .select(col("doc_id"),
          round(col("symbol_ratio"), 9).as("symbol_ratio"),
          round(col("bullet_frac"), 9).as("bullet_frac"),
          round(col("ellipsis_frac"), 9).as("ellipsis_frac"),
          round(col("alpha_frac"), 9).as("alpha_frac"),
          col("ok_symbols"), col("ok_bullets"), col("ok_ellipsis"),
          col("ok_alpha"), col("keep"))
        .orderBy("doc_id")
    }

    // Gopher within-doc duplicate-line fractions over synthesized lines
    // (6-word lines; docs re-append their first one or two lines by
    // doc_id mod 3, so dup fractions vary 0 → ~0.3 across docs). A
    // (doc, line)-keyed count aggregate, never a row-local O(lines²)
    // probe.
    q("q_dup_lines_within",
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |l0 AS (SELECT doc_id, list_transform(
        |    generate_series(0, CAST(ceil(len(w) / 6.0) AS INT) - 1),
        |    i -> array_to_string(w[i*6+1 : least(i*6+6, len(w))], ' ')) AS ls
        |  FROM ws),
        |l1 AS (SELECT doc_id, CASE
        |    WHEN doc_id % 3 = 0 THEN list_append(ls, ls[1])
        |    WHEN doc_id % 3 = 1 AND len(ls) >= 2
        |      THEN list_concat(ls, [ls[1], ls[2]])
        |    ELSE ls END AS ls
        |  FROM l0),
        |ex AS (SELECT doc_id, unnest(ls) AS l FROM l1),
        |c AS (SELECT doc_id, l, count(*) AS c FROM ex GROUP BY doc_id, l),
        |r AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
        |    CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
        |      / CAST(sum(c) AS DOUBLE) AS dup_line_frac,
        |    CAST(sum(CASE WHEN c >= 2 THEN c * length(l) ELSE 0 END) AS DOUBLE)
        |      / CAST(sum(c * length(l)) AS DOUBLE) AS dup_char_frac
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id, n_lines,
        |  round(dup_line_frac, 9) AS dup_line_frac,
        |  round(dup_char_frac, 9) AS dup_char_frac,
        |  dup_line_frac <= 0.3 AS ok_dup_lines,
        |  dup_char_frac <= 0.2 AS ok_dup_chars
        |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val wsa = col("__ws")
      val nLines = ceil(size(wsa) / lit(6.0)).cast("int")
      val baseLines = transform(sequence(lit(0), nLines - 1),
        i => array_join(slice(wsa, i * 6 + 1, lit(6)), " "))
      val ls = col("__ls")
      val synth = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("__ws"))
        .select(col("doc_id"), baseLines.as("__ls"))
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(ls, array(element_at(ls, 1))))
          .when(col("doc_id") % 3 === 1 && size(ls) >= 2,
            concat(ls, array(element_at(ls, 1), element_at(ls, 2))))
          .otherwise(ls).as("__ls"))
        .select(col("doc_id"), array_join(col("__ls"), "\n").as("ltext"))
      TextQuality.withinDocDupLines(synth, "doc_id", "ltext")
        .select(col("doc_id"), col("n_lines"),
          round(col("dup_line_frac"), 9).as("dup_line_frac"),
          round(col("dup_char_frac"), 9).as("dup_char_frac"),
          col("ok_dup_lines"), col("ok_dup_chars"))
        .orderBy("doc_id")
    }

    // C4 "bad words" rule: drop any page containing a blocklisted word
    // (Raffel et al. 2020). The list rides as a plan literal — one
    // map-only codegen'd projection; the big-list form is the
    // blocklist-join shape. Both engines normalize tokens identically.
    q("q_badwords",
      """SELECT doc_id,
        |  CAST(len(list_filter(
        |    list_transform(string_split_regex(lower(text), '\s+'),
        |      t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
        |    t -> list_contains(['slow', 'dup'], t))) AS BIGINT) AS n_blocked,
        |  len(list_filter(
        |    list_transform(string_split_regex(lower(text), '\s+'),
        |      t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
        |    t -> list_contains(['slow', 'dup'], t))) > 0 AS flagged
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextQuality.flagBlockedWords(Tables.documents(s, dir), "doc_id",
          "text", Seq("slow", "dup"))
        .orderBy("doc_id")
    }

    // Unicode-script profile: per-doc character counts of the major BMP
    // script blocks + the dominant script. Mixed-script text is
    // synthesized deterministically (Cyrillic/CJK tails by doc_id) so
    // the operator's non-Latin paths are exercised; both engines build
    // the identical string and count codepoints.
    q("q_script_detect",
      """WITH mixed AS (SELECT doc_id,
        |    text || CASE WHEN doc_id % 3 = 1
        |      THEN ' ' || repeat('привет мир ', CAST(n_chars // 10 + 1 AS INT))
        |      WHEN doc_id % 3 = 2
        |      THEN ' ' || repeat('漢字文本 ', CAST(n_chars // 4 + 1 AS INT))
        |      ELSE '' END AS mtext
        |  FROM documents),
        |counted AS (SELECT doc_id, CAST(length(mtext) AS BIGINT) AS n_all,
        |    CAST(length(mtext) - length(regexp_replace(mtext, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_latin,
        |    CAST(length(mtext) - length(regexp_replace(mtext, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
        |    CAST(length(mtext) - length(regexp_replace(mtext, '[Ѐ-ӿ]', '', 'g')) AS BIGINT) AS n_cyrillic,
        |    CAST(length(mtext) - length(regexp_replace(mtext, '[一-鿿]', '', 'g')) AS BIGINT) AS n_cjk,
        |    CAST(length(mtext) - length(regexp_replace(mtext, '[؀-ۿ]', '', 'g')) AS BIGINT) AS n_arabic
        |  FROM mixed),
        |f AS (SELECT doc_id, n_all, n_latin, n_digit, n_cyrillic, n_cjk, n_arabic,
        |    n_all - n_latin - n_digit - n_cyrillic - n_cjk - n_arabic AS n_other
        |  FROM counted)
        |SELECT doc_id, n_latin, n_digit, n_cyrillic, n_cjk, n_arabic, n_other,
        |  CASE WHEN n_all = 0 THEN 'empty'
        |    WHEN n_latin = greatest(n_latin, n_digit, n_cyrillic, n_cjk, n_arabic, n_other) THEN 'latin'
        |    WHEN n_digit = greatest(n_digit, n_cyrillic, n_cjk, n_arabic, n_other) THEN 'digit'
        |    WHEN n_cyrillic = greatest(n_cyrillic, n_cjk, n_arabic, n_other) THEN 'cyrillic'
        |    WHEN n_cjk = greatest(n_cjk, n_arabic, n_other) THEN 'cjk'
        |    WHEN n_arabic = greatest(n_arabic, n_other) THEN 'arabic'
        |    ELSE 'other' END AS dominant
        |FROM f ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val mixed = Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 3 === 1,
              concat(lit(" "), repeat(lit("привет мир "),
                ((col("n_chars") / 10).cast("int") + 1))))
            .when(col("doc_id") % 3 === 2,
              concat(lit(" "), repeat(lit("漢字文本 "),
                ((col("n_chars") / 4).cast("int") + 1))))
            .otherwise(lit(""))).as("mtext"))
      TextQuality.scriptProfile(mixed, "doc_id", "mtext")
        .orderBy("doc_id")
    }

    // Passage-level dedup: non-overlapping 20-word chunks, exact md5
    // keep-first across the corpus — the sub-document counterpart of
    // q_dedup_exact_hash (boilerplate paragraphs dedup at this
    // granularity). One explode + one hash shuffle.
    q("q_passage_dedup",
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ps AS (SELECT doc_id, i AS chunk_idx,
        |         md5(array_to_string(list_slice(w, 20*i + 1, 20*i + 20), ' ')) AS h
        |       FROM (SELECT doc_id, w,
        |               unnest(generate_series(0, CAST(ceil(len(w) / 20.0) AS BIGINT) - 1)) AS i
        |             FROM ws)),
        |rk AS (SELECT doc_id, chunk_idx, h,
        |         row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn
        |       FROM ps)
        |SELECT doc_id, count(*) AS n_passages,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // split projected to an attribute: the slice inside the
      // interpreted lambda would otherwise re-split the document per
      // chunk (see TextDedup.shingles)
      val wsa = col("__ws")
      val passages = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("__ws"))
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0), ceil(size(wsa) / lit(20.0)).cast("long") - 1),
            i => md5(concat_ws(" ", slice(wsa, i * 20 + 1, lit(20))))))
            .as(Seq("chunk_idx", "h")))
      val w = Window.partitionBy("h").orderBy("doc_id", "chunk_idx")
      passages.withColumn("rn", row_number().over(w))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_passages"),
          sum(when(col("rn") === 1, 1).otherwise(0)).as("n_kept"))
        .orderBy("doc_id")
    }

    // C4-style boilerplate purge: every occurrence of a 10-word span
    // seen >= 3 times corpus-wide is removed and documents are rebuilt
    // from their surviving spans — the cleaned corpus itself, not just
    // counts (the text_clean column is hash-checked end to end).
    q("q_line_dedup",
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sp AS (SELECT doc_id, i AS chunk_idx,
        |         array_to_string(list_slice(w, 10*i + 1, 10*i + 10), ' ') AS span
        |       FROM (SELECT doc_id, w,
        |               unnest(generate_series(0, CAST(ceil(len(w) / 10.0) AS BIGINT) - 1)) AS i
        |             FROM ws)),
        |freq AS (SELECT md5(span) AS h FROM sp GROUP BY 1 HAVING count(*) >= 3),
        |reb AS (SELECT doc_id, count(*) AS n_kept,
        |          string_agg(span, ' ' ORDER BY chunk_idx) AS text_clean
        |        FROM sp WHERE md5(span) NOT IN (SELECT h FROM freq)
        |        GROUP BY doc_id)
        |SELECT ws.doc_id, CAST(ceil(len(w) / 10.0) AS BIGINT) AS n_spans,
        |  coalesce(n_kept, 0) AS n_kept, coalesce(text_clean, '') AS text_clean
        |FROM ws LEFT JOIN reb ON ws.doc_id = reb.doc_id
        |ORDER BY ws.doc_id""".stripMargin) { (s, dir) =>
      TextDedup.purgeFrequentSpans(
          Tables.documents(s, dir), "doc_id", "text", spanWords = 10, minFreq = 3)
        .orderBy("doc_id")
    }

    // Per-source corpus diagnostics: vocabulary size, hapax fraction,
    // top-word share — the dashboard a mixing/cleaning run reads before
    // choosing thresholds. One word explode + word-keyed counts
    // (vocabulary-sized shuffle), then per-source rollups.
    q("q_corpus_stats",
      """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |wc AS (SELECT source, w, count(*) AS c FROM w GROUP BY 1, 2),
        |top AS (SELECT source, w AS top_word, c AS top_c FROM (
        |          SELECT source, w, c,
        |            row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS rn
        |          FROM wc) WHERE rn = 1),
        |per AS (SELECT source, count(*) AS vocab, sum(c) AS n_tokens,
        |          sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS hapax
        |        FROM wc GROUP BY 1),
        |nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
        |SELECT per.source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens, vocab,
        |  round(CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE), 9) AS hapax_frac,
        |  top_word,
        |  round(CAST(top_c AS DOUBLE) / CAST(n_tokens AS DOUBLE), 9) AS top_word_frac
        |FROM per JOIN top ON per.source = top.source
        |JOIN nd ON per.source = nd.source
        |ORDER BY per.source""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val wc = docs
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      val win = Window.partitionBy("source").orderBy(col("c").desc, col("w"))
      val top = wc.withColumn("rn", row_number().over(win))
        .filter(col("rn") === 1)
        .select(col("source"), col("w").as("top_word"), col("c").as("top_c"))
      val per = wc.groupBy("source").agg(
        count(lit(1)).as("vocab"),
        sum("c").as("n_tokens"),
        sum(when(col("c") === 1, 1).otherwise(0)).as("hapax"))
      val nd = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      per.join(top, "source").join(nd, "source")
        .select(col("source"), col("n_docs"), col("n_tokens"), col("vocab"),
          round(col("hapax").cast("double") / col("vocab").cast("double"), 9)
            .as("hapax_frac"),
          col("top_word"),
          round(col("top_c").cast("double") / col("n_tokens").cast("double"), 9)
            .as("top_word_frac"))
        .orderBy("source")
    }

    // Mojibake repair: every third doc is deterministically corrupted
    // with the UTF-8-as-cp1252 artifacts of a reference phrase, then
    // repaired through the canonical artifact table. The oracle nests
    // the identical literal replaces in the identical order, so the
    // repaired text hash-matches byte-for-byte.
    {
      import graft.operators.TextQuality
      val phrase = "café résumé — naïve « test »… ‘single’ “double”"
      val corruptLit = TextQuality.mojibakeOf(phrase)
      def sqlLit(s: String) = "'" + s.replace("'", "''") + "'"
      val fixedSql = TextQuality.mojibakeTable.foldLeft("t") {
        case (acc, (bad, good)) => s"replace($acc, ${sqlLit(bad)}, ${sqlLit(good)})"
      }
      q("q_fix_encoding",
        s"""WITH c AS (SELECT doc_id,
           |  CASE WHEN doc_id % 3 = 0 THEN ${sqlLit(corruptLit)} || ' ' || text
           |       ELSE text END AS t FROM documents)
           |SELECT doc_id, $fixedSql AS text_fixed, $fixedSql != t AS was_mojibake
           |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
        val corrupted = Tables.documents(s, dir)
          .select(col("doc_id"),
            when(col("doc_id") % 3 === 0,
              concat(lit(corruptLit), lit(" "), col("text")))
              .otherwise(col("text")).as("t"))
        TextQuality.fixMojibake(corrupted, "doc_id", "t")
          .orderBy("doc_id")
      }
    }

    // Temperature-based source mixing (GPT-3/PaLM mixture rule):
    // per-source quota floor(T * sqrt(cnt)/sum sqrt(cnt)) at T = 40% of
    // the corpus, selection by content-hash rank within source. The
    // oracle replays the identical sorted-order weight fold (sqrt is
    // IEEE-correctly-rounded, so the doubles match bit-for-bit).
    q("q_temperature_mix",
      """WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
        |tot AS (SELECT floor(count(*) * 0.4) AS t FROM documents),
        |s AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |          list(sqrt(CAST(cnt AS DOUBLE)) ORDER BY source)),
        |        (a, x) -> a + x) AS sw FROM c),
        |qta AS (SELECT source,
        |          CAST(floor(t * sqrt(CAST(cnt AS DOUBLE)) / sw) AS BIGINT) AS q
        |        FROM c, tot, s),
        |rk AS (SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rn
        |       FROM documents)
        |SELECT rk.doc_id, rk.source, rn <= q AS keep
        |FROM rk JOIN qta ON rk.source = qta.source
        |ORDER BY rk.doc_id""".stripMargin) { (s, dir) =>
      graft.operators.TextQuality.temperatureMix(
          Tables.documents(s, dir), "source", "doc_id", "text",
          alpha = 0.5, targetFrac = 0.4)
        .orderBy("doc_id")
    }

    // Benchmark-contamination check: fraction of each training doc's
    // distinct 8-grams that appear in the (small) benchmark set — the
    // decontamination op every eval-aware pipeline runs. Grams travel as
    // 60-bit md5-derived integers everywhere past the projection: the
    // distinct exchanges and the probe join carry 8-byte keys instead of
    // ~50-char strings, and the oracle replays the identical hash so
    // distinct-hash counts match exactly (a collision inside one doc is
    // ~n²/2^61 — effectively never, and identically never in both
    // engines). The benchmark side shingles only the filtered benchmark
    // docs; the corpus chain is computed once, never twice.
    q("q_contamination",
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |gr AS (SELECT doc_id,
        |         CAST('0x' || substr(md5(array_to_string(list_slice(w, i, i + 7), ' ')), 1, 15) AS BIGINT) AS h
        |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i FROM ws)),
        |bench AS (SELECT DISTINCT h FROM gr WHERE doc_id < 10),
        |grd AS (SELECT DISTINCT doc_id, h FROM gr WHERE doc_id >= 10),
        |tr AS (SELECT grd.doc_id, count(*) AS n_grams,
        |         CAST(sum(CASE WHEN bench.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        |       FROM grd LEFT JOIN bench ON grd.h = bench.h
        |       GROUP BY grd.doc_id)
        |SELECT doc_id, n_grams, n_hit, n_hit > 0 AS contaminated
        |FROM tr ORDER BY doc_id""".stripMargin) { (s, dir) =>
      benchGramCounts(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_grams"), col("n_hit"),
          (col("n_hit") > 0).as("contaminated"))
        .orderBy("doc_id")
    }

    // Decontamination UNION verdict — the report an eval-aware pipeline
    // actually acts on: per doc, the n-gram flag (exact 8-gram overlap
    // with the benchmark docs, q_contamination's machinery) OR the
    // semantic flag (max cosine vs the benchmark embeddings ≥ τ,
    // q_semantic_contamination's map-only literal probe). Each method
    // alone misses a class (grams miss paraphrase, embeddings miss
    // verbatim snippets below τ); the union is the drop set. The
    // documents and embeddings tables share the id domain, so the two
    // verdicts meet in one equi-join.
    q("q_decontam_union",
      s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |gr AS (SELECT doc_id,
         |         CAST('0x' || substr(md5(array_to_string(list_slice(w, i, i + 7), ' ')), 1, 15) AS BIGINT) AS h
         |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i FROM ws)),
         |bench AS (SELECT DISTINCT h FROM gr WHERE doc_id < 10),
         |grd AS (SELECT DISTINCT doc_id, h FROM gr WHERE doc_id >= 10),
         |tr AS (SELECT grd.doc_id,
         |         CAST(sum(CASE WHEN bench.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |       FROM grd LEFT JOIN bench ON grd.h = bench.h
         |       GROUP BY grd.doc_id),
         |bv AS (SELECT vec_id AS bench_id, embedding AS bvec,
         |         sqrt(${LlmQueries.dotSql("embedding", "embedding")}) AS bn
         |       FROM embeddings WHERE vec_id < 10),
         |sc AS (SELECT e.vec_id AS doc_id,
         |         ${LlmQueries.dotSql("bvec", "e.embedding")}
         |           / (bn * sqrt(${LlmQueries.dotSql("e.embedding", "e.embedding")})) AS c
         |       FROM embeddings e, bv WHERE e.vec_id >= 10),
         |mx AS (SELECT doc_id, max(c) AS mc FROM sc GROUP BY doc_id)
         |SELECT mx.doc_id, coalesce(n_hit, 0) > 0 AS flag_ngram,
         |  round(mc, 9) AS max_cos, mc >= 0.25 AS flag_semantic,
         |  (coalesce(n_hit, 0) > 0 OR mc >= 0.25) AS flagged
         |FROM mx LEFT JOIN tr USING (doc_id) ORDER BY mx.doc_id""".stripMargin) { (s, dir) =>
      import graft.operators.Similarity
      // a short doc (< 8 words) has NO grams: it must still appear in
      // the verdict via the semantic side (left join, n_hit -> 0), not
      // silently vanish from the drop set
      val ng = benchGramCounts(Tables.documents(s, dir))
        .select("doc_id", "n_hit")
      val e = Tables.embeddings(s, dir)
      val benchVecs = graft.operators.Clustering.seedCentroids(
        e.filter(col("vec_id") < 10), "vec_id", "embedding", 10)
      val sem = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("doc_id"),
          Similarity.maxCosineToSet(col("embedding"), benchVecs).as("mc"))
      val hit = coalesce(col("n_hit"), lit(0L)) > 0
      sem.join(ng, Seq("doc_id"), "left")
        .select(col("doc_id"), hit.as("flag_ngram"),
          round(col("mc"), 9).as("max_cos"),
          (col("mc") >= 0.25).as("flag_semantic"),
          (hit || col("mc") >= 0.25).as("flagged"))
        .orderBy("doc_id")
    }

    // Sequence packing: documents in id order cut into 2048-token
    // context windows (offset-cut policy; see operators.Packing for the
    // two-pass no-global-window plan). Oracle replays the global running
    // offset as a plain window cumsum — single-node DuckDB can afford
    // what a cluster cannot.
    q("q_pack_sequences",
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |           FROM documents),
        |o AS (SELECT doc_id, n_tokens,
        |        sum(n_tokens) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS tok_offset
        |      FROM t)
        |SELECT CAST(tok_offset // 2048 AS BIGINT) AS bin, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM o GROUP BY 1 ORDER BY bin""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
      Packing.packSequences(docs, "doc_id", "n_tokens", capacity = 2048L)
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("bin")
    }

    // Corpus data card (operators.Analytics.dataCard): the one-call
    // datasheet summary — volume, vocabulary, exact-dup fraction,
    // source mixture, language share — all integer sums and exact
    // distincts, so every ratio is one exact division.
    q("q_data_card",
      """WITH base AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |    CAST(count(DISTINCT md5(text)) AS DOUBLE) AS n_unique,
        |    CAST(sum(len(string_split(text, ' '))) AS DOUBLE) AS n_tokens,
        |    CAST(sum(length(text)) AS DOUBLE) AS n_chars,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS n_lang,
        |    CAST(count(DISTINCT source) AS DOUBLE) AS n_sources
        |  FROM documents),
        |voc AS (SELECT CAST(count(DISTINCT t) AS DOUBLE) AS vocab
        |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)),
        |top AS (SELECT CAST(max(c) AS DOUBLE) AS top_src
        |  FROM (SELECT count(*) AS c FROM documents GROUP BY source))
        |SELECT metric, value FROM (
        |  SELECT * FROM (VALUES
        |    ('n_docs', (SELECT n_docs FROM base)),
        |    ('n_tokens', (SELECT n_tokens FROM base)),
        |    ('n_chars', (SELECT n_chars FROM base)),
        |    ('vocab', (SELECT vocab FROM voc)),
        |    ('mean_tokens_per_doc', (SELECT n_tokens / n_docs FROM base)),
        |    ('exact_dup_frac', (SELECT 1.0 - n_unique / n_docs FROM base)),
        |    ('lang_share', (SELECT n_lang / n_docs FROM base)),
        |    ('n_sources', (SELECT n_sources FROM base)),
        |    ('top_source_frac',
        |      (SELECT top_src / n_docs FROM top, base))) AS v(metric, value))
        |ORDER BY metric""".stripMargin) { (s, dir) =>
      graft.operators.Analytics.dataCard(Tables.documents(s, dir),
          "text", "lang", "en", "source")
        .orderBy("metric")
    }

    // Curriculum ordering (operators.TextQuality.curriculumOrder):
    // easy→hard equi-width difficulty bands (difficulty = n_chars),
    // md5-shuffled within a band, explicit global positions via the
    // two-pass offset pattern, fixed 256-row batches. Per-batch
    // aggregate keeps the gate result compact while pinning every
    // position (batch boundaries depend on the full global order).
    q("q_curriculum_order",
      """WITH b AS (SELECT min(CAST(n_chars AS DOUBLE)) AS lo,
        |             max(CAST(n_chars AS DOUBLE)) AS hi FROM documents),
        |s AS (SELECT doc_id,
        |    CAST(CASE WHEN hi = lo THEN 0
        |      ELSE least(floor((CAST(n_chars AS DOUBLE) - lo) / ((hi - lo) / 4)), 3)
        |      END AS INT) AS stage,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents, b),
        |r AS (SELECT doc_id, stage,
        |        row_number() OVER (ORDER BY stage, h, doc_id) - 1 AS position
        |      FROM s)
        |SELECT CAST(position // 256 AS BIGINT) AS batch,
        |  count(*) AS n_rows,
        |  CAST(min(stage) AS INT) AS stage_min,
        |  CAST(max(stage) AS INT) AS stage_max,
        |  CAST(min(position) AS BIGINT) AS pos_min,
        |  CAST(max(position) AS BIGINT) AS pos_max
        |FROM r GROUP BY 1 ORDER BY batch""".stripMargin) { (s, dir) =>
      graft.operators.TextQuality.curriculumOrder(
          Tables.documents(s, dir), "doc_id", "n_chars",
          stages = 4, batchRows = 256L)
        .groupBy("batch")
        .agg(count(lit(1)).as("n_rows"),
          min("stage").as("stage_min"), max("stage").as("stage_max"),
          min("position").as("pos_min"), max("position").as("pos_max"))
        .orderBy("batch")
    }

    // Model-based quality scoring, perplexity-filter shape (CCNet/
    // RefinedWeb use a KenLM; here the LM is a corpus-trained bigram
    // model with add-one smoothing, so the whole thing is replayable
    // SQL): score(doc) = mean ln P(w_i | w_{i-1}). Training is two
    // vocabulary-sized aggregations (bigram counts, prefix counts) —
    // they shuffle on words, never on documents — and scoring joins the
    // bigram stream back to the broadcast-or-shuffled LM table. Nothing
    // corpus-sized ever sits on the driver, so the same plan trains on
    // the full 100 TB corpus.
    q("q_bigram_lm",
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
        |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-1)) AS i FROM ws)),
        |bgc AS (SELECT doc_id, w1, w2, count(*) AS cnt FROM bg GROUP BY doc_id, w1, w2),
        |c2 AS (SELECT w1, w2, sum(cnt) AS c2 FROM bgc GROUP BY w1, w2),
        |c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
        |v AS (SELECT count(DISTINCT w) AS v FROM (SELECT w1 AS w FROM c2 UNION ALL SELECT w2 FROM c2)),
        |p AS (SELECT c2.w1, c2.w2, ln((c2.c2 + 1) / (c1.c1 + v.v)) AS logp
        |      FROM c2 JOIN c1 ON c2.w1 = c1.w1 CROSS JOIN v)
        |SELECT bgc.doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        |  round(sum(cnt * logp) / sum(cnt), 9) AS avg_logp
        |FROM bgc JOIN p ON bgc.w1 = p.w1 AND bgc.w2 = p.w2
        |GROUP BY bgc.doc_id ORDER BY bgc.doc_id""".stripMargin) { (s, dir) =>
      operators.TextQuality
        .bigramLmScore(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }

    // Data mixing to a per-source token budget: rank each source's docs
    // by a deterministic md5 priority and keep rows while the running
    // token total stays under budget — the "sample N tokens from each
    // source" step that builds a training mixture. One shuffle on
    // source + a per-source sort; at extreme per-source cardinality the
    // same two-pass offset pattern as operators.Packing applies, but a
    // per-source window is the right default (each source sorts in
    // parallel, nothing global).
    q("q_token_budget_mix",
      """WITH t AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
        |             md5(CAST(doc_id AS VARCHAR)) AS pr FROM documents),
        |c AS (SELECT source, n_tokens,
        |        sum(n_tokens) OVER (PARTITION BY source ORDER BY pr, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM t)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(sum(CASE WHEN cum <= 800 THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
        |  CAST(sum(CASE WHEN cum <= 800 THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
        |FROM c GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val t = Tables.documents(s, dir)
        .select(col("source"), size(split(col("text"), " ")).as("n_tokens"),
          col("doc_id"))
      operators.TextQuality
        .tokenBudgetMix(t, "source", "doc_id", "n_tokens", budget = 800L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          sum(when(col("cum") <= 800, 1).otherwise(0)).as("kept_docs"),
          sum(when(col("cum") <= 800, col("n_tokens")).otherwise(0)).as("kept_tokens"))
        .orderBy("source")
    }

    // Per-group winsorization (outlier clipping to the group's own
    // p05/p95) — the numeric-feature cleaning step before training.
    // Group quantiles via percentile (buffer bounded by the GROUP's
    // rows, the per-group holistic-agg shape q_groupby_median documents)
    // broadcast back onto the stream as a tiny join; the clip itself is
    // a map-only projection. Spark's percentile and DuckDB's
    // quantile_cont share the same linear interpolation, so values
    // match bit-for-bit.
    q("q_winsorize",
      """WITH q AS (SELECT event_type,
        |             quantile_cont(value, 0.05) AS p05,
        |             quantile_cont(value, 0.95) AS p95
        |           FROM events GROUP BY event_type)
        |SELECT e.event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN e.value < q.p05 OR e.value > q.p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
        |  round(avg(greatest(q.p05, least(q.p95, e.value))), 9) AS mean_winsorized
        |FROM events e JOIN q ON e.event_type = q.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val q05 = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.05)").as("p05"),
          expr("percentile(value, 0.95)").as("p95"))
      ev.join(broadcast(q05), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") < col("p05") || col("value") > col("p95"), 1)
            .otherwise(0)).as("n_clipped"),
          round(avg(greatest(col("p05"), least(col("p95"), col("value")))), 9)
            .as("mean_winsorized"))
        .orderBy("event_type")
    }

    // Leakage-safe train/validation split: the split decision hashes the
    // CONTENT (md5 of text), not the row id, so exact duplicates always
    // land in the same split — the train/eval-contamination guard every
    // dedup-aware pipeline needs. `spans` makes the invariant visible:
    // distinct splits per content hash is identically 1. Map-only
    // projection + one bounded aggregation.
    q("q_split_by_content",
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |             CASE WHEN CAST('0x' || substr(md5(text), 1, 7) AS BIGINT) % 10 < 9
        |                  THEN 'train' ELSE 'val' END AS split,
        |             md5(text) AS h
        |           FROM documents),
        |hs AS (SELECT h, split, count(*) AS nd, sum(n_tokens) AS tok
        |       FROM t GROUP BY h, split),
        |spans AS (SELECT max(ns) AS max_splits_per_hash FROM (
        |            SELECT h, count(*) AS ns FROM hs GROUP BY h))
        |SELECT split, CAST(sum(nd) AS BIGINT) AS n_docs,
        |  CAST(sum(tok) AS BIGINT) AS total_tokens,
        |  CAST(count(*) AS BIGINT) AS distinct_texts,
        |  (SELECT max_splits_per_hash FROM spans) AS max_splits_per_hash
        |FROM hs GROUP BY split ORDER BY split""".stripMargin) { (s, dir) =>
      // ONE corpus scan into the (hash, split)-sized table; both the
      // per-split report and the no-hash-spans-splits invariant derive
      // from it (distinct_texts = row count: h is unique within split).
      val hs = Tables.documents(s, dir)
        .select(size(split(col("text"), " ")).as("n_tokens"),
          md5(col("text")).as("h"))
        .withColumn("split",
          when(conv(substring(col("h"), 1, 7), 16, 10).cast("long") % 10 < 9,
            lit("train")).otherwise(lit("val")))
        .groupBy("h", "split")
        .agg(count(lit(1)).as("nd"), sum("n_tokens").as("tok"))
      val spans = hs.groupBy("h").agg(count(lit(1)).as("ns"))
        .agg(max("ns").as("max_splits_per_hash"))
      hs.groupBy("split")
        .agg(sum("nd").as("n_docs"), sum("tok").as("total_tokens"),
          count(lit(1)).as("distinct_texts"))
        .crossJoin(broadcast(spans))
        .orderBy("split")
    }

    // Within-doc word entropy (quality/diversity signal; low entropy =
    // repetitive boilerplate). Uses H = ln(n) - (Σ c·ln c)/n so the
    // whole thing is one (doc, word) count shuffle plus one per-doc
    // aggregation — no per-word probability join.
    q("q_word_entropy",
      """WITH wc AS (SELECT doc_id, u.w, count(*) AS c
        |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |                  FROM documents) u GROUP BY doc_id, u.w)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 9) AS entropy
        |FROM wc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_tokens"),
          round(log(sum("c")) - sum(col("c") * log(col("c"))) / sum("c"), 9)
            .as("entropy"))
        .orderBy("doc_id")
    }

    // Sliding-window chunking (RAG/embedding prep): 32-token windows
    // every 16 tokens (50% overlap). Map-only row-local explode; the
    // per-doc digest hashes the ordered chunk stream so the oracle
    // value-checks every chunk boundary, not just counts.
    q("q_chunk_sliding",
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id, i AS chunk_idx,
        |        array_to_string(list_slice(w, i*16 + 1, i*16 + 32), ' ') AS chunk_text
        |      FROM (SELECT doc_id, w,
        |              unnest(generate_series(0, CAST(greatest(ceil((len(w) - 32) / 16.0), 0) AS BIGINT))) AS i
        |            FROM ws))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(len(string_split(chunk_text, ' '))) AS BIGINT) AS chunk_tokens,
        |  md5(string_agg(chunk_text, '|' ORDER BY chunk_idx)) AS chunks_digest
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      operators.TextQuality
        .chunkDocuments(Tables.documents(s, dir), "doc_id", "text",
          chunkSize = 32, stride = 16)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum("n_tokens").as("chunk_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text")))),
            x => x.getField("chunk_text")), "|").cast("binary")).as("chunks_digest"))
        .orderBy("doc_id")
    }

    // Sequence-length bucketing: assign each doc its token-length
    // quartile — the batching-efficiency step (group similar-length
    // sequences so padding waste stays low). Splits come from the
    // distributed-exact quantile operator (bounded memory everywhere,
    // O(partitions) driver traffic) and enter the plan as literals, so
    // the bucket assignment is a map-only projection; DuckDB's
    // quantile_cont replays the identical interpolation bit-for-bit.
    q("q_length_buckets",
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS nt FROM documents),
        |s AS (SELECT quantile_cont(nt, 0.25) AS q1, quantile_cont(nt, 0.5) AS q2,
        |             quantile_cont(nt, 0.75) AS q3 FROM t),
        |b AS (SELECT doc_id, nt,
        |        (CASE WHEN nt > q1 THEN 1 ELSE 0 END + CASE WHEN nt > q2 THEN 1 ELSE 0 END
        |          + CASE WHEN nt > q3 THEN 1 ELSE 0 END) AS bucket
        |      FROM t CROSS JOIN s)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(nt) AS BIGINT) AS min_tokens, CAST(max(nt) AS BIGINT) AS max_tokens
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nt"))
      val splits = operators.Quantiles.exactQuantiles(t, "nt", Seq(0.25, 0.5, 0.75))
      t.withColumn("bucket",
          splits.map(q => when(col("nt") > q, 1).otherwise(0)).reduce(_ + _))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          min("nt").as("min_tokens"), max("nt").as("max_tokens"))
        .orderBy("bucket")
    }

    // Capstone funnel: the full training-data preparation pipeline as
    // ONE declarative plan — Gopher quality rules → exact dedup
    // (keep-first) → benchmark decontamination → per-source token
    // budget — reporting (docs, tokens) surviving each stage. Every
    // stage is an already-audited pattern (map-only rules, hash-window
    // dedup, broadcast gram probe, per-source budget window); the
    // funnel output is 5 rows. The same composition at 100 TB is the
    // same plan with bigger shuffles.
    q("q_prep_funnel",
      """WITH ws AS (SELECT doc_id, source, text, string_split(text, ' ') AS w
        |            FROM documents WHERE doc_id >= 10),
        |st AS (SELECT doc_id, source, text, len(w) AS nw,
        |         list_reduce(list_prepend(0, list_transform(w, x -> len(x))), (a, x) -> a + x) AS wchars,
        |         len(list_filter(w, x -> x IN ('the', 'a'))) AS nstop,
        |         len(list_distinct(w)) AS ndw
        |       FROM ws),
        |s1 AS (SELECT doc_id, source, text, nw FROM st
        |       WHERE nw >= 10 AND nw <= 1000 AND wchars / nw >= 2 AND wchars / nw <= 12
        |         AND nstop / nw >= 0.01 AND ndw / nw >= 0.2),
        |s2 AS (SELECT s1.* FROM s1 JOIN (
        |         SELECT md5(text) AS h, min(doc_id) AS keep_id FROM s1 GROUP BY md5(text)
        |       ) k ON s1.doc_id = k.keep_id),
        |bench AS (SELECT DISTINCT
        |            CAST('0x' || substr(md5(array_to_string(list_slice(w, i, i + 7), ' ')), 1, 15) AS BIGINT) AS h
        |          FROM (SELECT w, unnest(generate_series(1, len(w) - 7)) AS i
        |                FROM (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id < 10))),
        |hits AS (SELECT DISTINCT g.doc_id FROM (
        |           SELECT DISTINCT doc_id,
        |             CAST('0x' || substr(md5(array_to_string(list_slice(w, i, i + 7), ' ')), 1, 15) AS BIGINT) AS h
        |           FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i
        |                 FROM (SELECT doc_id, string_split(text, ' ') AS w FROM s2))
        |         ) g JOIN bench ON g.h = bench.h),
        |s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
        |s4 AS (SELECT * FROM (
        |         SELECT doc_id, source, nw,
        |           sum(nw) OVER (PARTITION BY source
        |             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |         FROM s3) WHERE cum <= 600)
        |SELECT * FROM (
        |  SELECT 's0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(w)) AS BIGINT) AS n_tokens FROM ws
        |  UNION ALL SELECT 's1_quality', CAST(count(*) AS BIGINT), CAST(sum(nw) AS BIGINT) FROM s1
        |  UNION ALL SELECT 's2_dedup', CAST(count(*) AS BIGINT), CAST(sum(nw) AS BIGINT) FROM s2
        |  UNION ALL SELECT 's3_decontaminated', CAST(count(*) AS BIGINT), CAST(sum(nw) AS BIGINT) FROM s3
        |  UNION ALL SELECT 's4_budgeted', CAST(count(*) AS BIGINT), CAST(sum(nw) AS BIGINT) FROM s4
        |) ORDER BY stage""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val wsa = col("__ws")
      val base = Tables.documents(s, dir).filter(col("doc_id") >= 10)
        .select(col("doc_id"), col("source"), col("text"),
          split(col("text"), " ").as("__ws"))
      val st = base.select(col("doc_id"), col("source"), col("text"),
        size(wsa).as("nw"),
        aggregate(transform(wsa, w => length(w)), lit(0), (a, x) => a + x).as("wchars"),
        size(filter(wsa, w => w === "the" || w === "a")).as("nstop"),
        size(array_distinct(wsa)).as("ndw"))
      val s1 = st.filter(col("nw") >= 10 && col("nw") <= 1000 &&
          col("wchars") / col("nw") >= 2 && col("wchars") / col("nw") <= 12 &&
          col("nstop") / col("nw") >= 0.01 && col("ndw") / col("nw") >= 0.2)
        .select("doc_id", "source", "text", "nw")
      val wRep = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      val s2 = s1.withColumn("__rn", row_number().over(wRep))
        .filter(col("__rn") === 1).drop("__rn")
      // 60-bit grams from the native kernel, deduped per doc in-kernel —
      // (doc_id, h) rows are unique by construction, so the contamination
      // probe needs no distinct exchange before the broadcast semi-join
      def grams(d: DataFrame) = d.select(col("doc_id"),
        explode(graft.functions.ShingleHashes(col("text"), 8, 15, dedup = true)).as("h"))
      val bench = grams(Tables.documents(s, dir).filter(col("doc_id") < 10))
        .select("h").distinct()
      val hits = grams(s2)
        .join(broadcast(bench), Seq("h"), "left_semi")
        .select("doc_id").distinct()
      val s3 = s2.join(hits, Seq("doc_id"), "left_anti")
      val s4 = operators.TextQuality
        .tokenBudgetMix(s3, "source", "doc_id", "nw", budget = 600L)
        .filter(col("keep"))
      def stage(name: String, d: DataFrame,
          tok: org.apache.spark.sql.Column): DataFrame =
        d.agg(count(lit(1)).as("n_docs"), sum(tok).as("n_tokens"))
          .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
      stage("s0_raw", base, size(wsa))
        .unionByName(stage("s1_quality", s1, col("nw")))
        .unionByName(stage("s2_dedup", s2, col("nw")))
        .unionByName(stage("s3_decontaminated", s3, col("nw")))
        .unionByName(stage("s4_budgeted", s4, col("nw")))
        .orderBy("stage")
    }

    // Hygiene funnel: the round-14/15 production levers COMPOSED into
    // one declarative plan — capped winnow near-dup drop (skew-safe
    // collect_capped enforcement, MOSS "too many documents" cap) →
    // multi-length duplicated-substring purge (per-level support
    // thresholds) → per-domain cap on the post-purge token count (the
    // C4/RefinedWeb rule, bounded graft_top_k per source — no rank
    // window). Each stage is individually oracle-checked
    // (q_winnow_overlap_capped, q_substring_dedup_multi, q_domain_cap);
    // this query pins their COMPOSITION, reporting (docs, tokens)
    // surviving each stage. Keep-first pair policy: a doc drops if it
    // near-dup-pairs with any smaller doc_id (doc_a < doc_b by
    // construction, so the drop set is exactly the distinct doc_b's).
    q("q_hygiene_funnel",
      """WITH words AS (SELECT doc_id, source, text,
        |               string_split(text, ' ') AS ws FROM documents),
        |keep AS (SELECT min(doc_id) AS keep_id
        |         FROM documents GROUP BY md5(text)),
        |ex AS (SELECT w.doc_id, w.source, w.text, w.ws FROM words w
        |       JOIN keep k ON w.doc_id = k.keep_id),
        |hs AS (SELECT doc_id,
        |    list_transform(generate_series(1, len(ws) - 2),
        |      i -> CAST('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 7)
        |             AS BIGINT)) AS h
        |  FROM ex WHERE len(ws) >= 3),
        |win AS (SELECT doc_id, least(4, len(h)) AS weff, h FROM hs),
        |fp0 AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(h) - weff + 1),
        |      i -> list_min(h[i:i+weff-1]))) AS fp
        |  FROM win),
        |fps AS (SELECT DISTINCT doc_id, fp FROM fp0),
        |cold AS (SELECT doc_id, fp FROM
        |  (SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n FROM fps)
        |  WHERE n <= 3),
        |ndpairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    count(*) AS n_shared
        |  FROM cold a JOIN cold b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |dropb AS (SELECT DISTINCT doc_b AS doc_id FROM ndpairs WHERE n_shared >= 3),
        |s1 AS (SELECT e.doc_id, e.source, e.text, e.ws FROM ex e
        |       ANTI JOIN dropb USING (doc_id)),
        |pwins AS (SELECT doc_id, w, mc, i - 1 AS start,
        |           md5(array_to_string(ws[i:i+w-1], ' ')) AS h
        |         FROM (SELECT doc_id, ws, w, mc,
        |                 unnest(generate_series(1, len(ws) - w + 1)) AS i
        |               FROM s1, (VALUES (4, 5), (8, 2)) lv(w, mc))),
        |prk AS (SELECT doc_id, w, mc, start,
        |         count(*) OVER (PARTITION BY h) AS c,
        |         row_number() OVER (PARTITION BY h ORDER BY doc_id, start) AS rn
        |       FROM pwins),
        |pcov AS (SELECT DISTINCT doc_id, start + j AS pos
        |        FROM (SELECT doc_id, start, unnest(generate_series(0, w - 1)) AS j
        |              FROM prk WHERE c >= mc AND rn > 1)),
        |pw AS (SELECT doc_id, i - 1 AS pos, ws[i] AS word
        |       FROM (SELECT doc_id, ws,
        |               unnest(generate_series(1, len(ws))) AS i FROM s1)),
        |reb AS (SELECT w.doc_id, count(*) AS n_kept,
        |          string_agg(word, ' ' ORDER BY w.pos) AS text_clean
        |        FROM pw w LEFT JOIN pcov
        |          ON pcov.doc_id = w.doc_id AND pcov.pos = w.pos
        |        WHERE pcov.doc_id IS NULL GROUP BY 1),
        |s2 AS (SELECT s1.doc_id, s1.source, coalesce(reb.n_kept, 0) AS nt,
        |         coalesce(reb.text_clean, '') AS text
        |       FROM s1 LEFT JOIN reb USING (doc_id)),
        |r AS (SELECT source, doc_id, nt, text,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY nt DESC, doc_id) AS rn
        |      FROM s2),
        |s3 AS (SELECT source, doc_id, nt, text FROM r WHERE rn <= 15)
        |SELECT * FROM (
        |  SELECT 's0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(ws)) AS BIGINT) AS n_tokens,
        |    CAST(bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15) AS BIGINT)) AS BIGINT) AS text_h
        |  FROM words
        |  UNION ALL SELECT 's1_exact', CAST(count(*) AS BIGINT),
        |    CAST(sum(len(ws)) AS BIGINT),
        |    CAST(bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15) AS BIGINT)) AS BIGINT) FROM ex
        |  UNION ALL SELECT 's2_neardup', CAST(count(*) AS BIGINT),
        |    CAST(sum(len(ws)) AS BIGINT),
        |    CAST(bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15) AS BIGINT)) AS BIGINT) FROM s1
        |  UNION ALL SELECT 's3_purged', CAST(count(*) AS BIGINT),
        |    CAST(sum(nt) AS BIGINT),
        |    CAST(bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15) AS BIGINT)) AS BIGINT) FROM s2
        |  UNION ALL SELECT 's4_domain_capped', CAST(count(*) AS BIGINT),
        |    CAST(sum(nt) AS BIGINT),
        |    CAST(bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15) AS BIGINT)) AS BIGINT) FROM s3
        |) ORDER BY stage""".stripMargin) { (s, dir) =>
      // Delegates to the production entry point (stage pins, ≤4 corpus
      // scans, composition contract — see TextDedup.hygieneFunnel);
      // Frame.hygieneFunnel is the facade over the same operator.
      TextDedup.hygieneFunnel(Tables.documents(s, dir),
        "doc_id", "source", "text",
        k = 3, w = 4, minShared = 3L, maxPostings = 3L,
        windows = Seq((4, 5L), (8, 2L)), domainCap = 15)
    }

    // Incremental (snapshot-N+1) hygiene funnel: the composed refresh —
    // the stored corpus indexes (winnow fingerprints + window hashes of
    // doc_id % 10 < 8, "yesterday's corpus") first clean the NEW batch
    // (doc_id % 10 >= 8) through two asymmetric joins (incremental
    // winnow drop, incremental substring purge — the q_incremental_
    // winnow / q_purge_against_index stages verbatim), and the
    // survivors run the standard within-batch funnel on their REBUILT
    // text (the q_hygiene_funnel stack). The oracle composes those
    // three proven CTE stacks; the empty-index differential (report
    // tail == hygieneFunnel(batch)) is pinned in TextDedupEdgeSpec.
    def incrementalFunnelSql(docWhere: String): String =
      s"""WITH allw AS (SELECT doc_id, source, text,
        |              string_split(text, ' ') AS ws FROM documents $docWhere),
        |b AS (SELECT doc_id, source, text, ws FROM allw WHERE doc_id % 10 >= 8),
        |keepb AS (SELECT min(doc_id) AS keep_id
        |          FROM b GROUP BY md5(text)),
        |ex AS (SELECT b.doc_id, b.source, b.text, b.ws FROM b
        |       JOIN keepb k ON b.doc_id = k.keep_id),
        |hs AS (SELECT doc_id,
        |    list_transform(generate_series(1, len(ws) - 2),
        |      i -> CAST('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 7)
        |             AS BIGINT)) AS h
        |  FROM allw WHERE len(ws) >= 3),
        |win AS (SELECT doc_id, least(4, len(h)) AS weff, h FROM hs),
        |fp0 AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(h) - weff + 1),
        |      i -> list_min(h[i:i+weff-1]))) AS fp
        |  FROM win),
        |fps AS (SELECT DISTINCT doc_id, fp FROM fp0),
        |ipairs AS (SELECT nb.doc_id AS new_id, a.doc_id AS idx_id,
        |    count(*) AS n_shared
        |  FROM fps a JOIN fps nb ON a.fp = nb.fp
        |  WHERE a.doc_id % 10 < 8 AND nb.doc_id % 10 >= 8
        |  GROUP BY 1, 2),
        |dropi AS (SELECT DISTINCT new_id AS doc_id FROM ipairs WHERE n_shared >= 3),
        |s1 AS (SELECT e.doc_id, e.source, e.text, e.ws FROM ex e
        |       ANTI JOIN dropi USING (doc_id)),
        |idx AS (SELECT DISTINCT md5(array_to_string(ws[i:i+3], ' ')) AS h
        |        FROM (SELECT ws, unnest(generate_series(1, len(ws) - 3)) AS i
        |              FROM allw WHERE doc_id % 10 < 8)),
        |iwins AS (SELECT doc_id, i - 1 AS start,
        |            md5(array_to_string(ws[i:i+3], ' ')) AS h
        |          FROM (SELECT doc_id, ws,
        |                  unnest(generate_series(1, len(ws) - 3)) AS i FROM s1)),
        |icov AS (SELECT DISTINCT doc_id, start + j AS pos
        |         FROM (SELECT doc_id, start, unnest(generate_series(0, 3)) AS j
        |               FROM iwins WHERE h IN (SELECT h FROM idx))),
        |iwrd AS (SELECT doc_id, i - 1 AS pos, ws[i] AS word
        |         FROM (SELECT doc_id, ws,
        |                 unnest(generate_series(1, len(ws))) AS i FROM s1)),
        |ikept AS (SELECT w.doc_id, count(*) AS n_kept,
        |            string_agg(word, ' ' ORDER BY w.pos) AS text_clean
        |          FROM iwrd w LEFT JOIN icov ON icov.doc_id = w.doc_id AND icov.pos = w.pos
        |          WHERE icov.doc_id IS NULL GROUP BY 1),
        |s2 AS (SELECT s1.doc_id, s1.source, coalesce(k.n_kept, 0) AS nt2,
        |         coalesce(k.text_clean, '') AS text
        |       FROM s1 LEFT JOIN ikept k USING (doc_id)),
        |d2 AS (SELECT doc_id, source, text,
        |         string_split(text, ' ') AS ws FROM s2),
        |hs2 AS (SELECT doc_id,
        |    list_transform(generate_series(1, len(ws) - 2),
        |      i -> CAST('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 7)
        |             AS BIGINT)) AS h
        |  FROM d2 WHERE len(ws) >= 3),
        |win2 AS (SELECT doc_id, least(4, len(h)) AS weff, h FROM hs2),
        |fp02 AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(h) - weff + 1),
        |      i -> list_min(h[i:i+weff-1]))) AS fp
        |  FROM win2),
        |fps2 AS (SELECT DISTINCT doc_id, fp FROM fp02),
        |cold2 AS (SELECT doc_id, fp FROM
        |  (SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n FROM fps2)
        |  WHERE n <= 3),
        |ndp AS (SELECT a.doc_id AS doc_a, nb.doc_id AS doc_b,
        |    count(*) AS n_shared
        |  FROM cold2 a JOIN cold2 nb ON a.fp = nb.fp AND a.doc_id < nb.doc_id
        |  GROUP BY 1, 2),
        |dropb AS (SELECT DISTINCT doc_b AS doc_id FROM ndp WHERE n_shared >= 3),
        |s3 AS (SELECT d2.doc_id, d2.source, d2.text, d2.ws FROM d2
        |       ANTI JOIN dropb USING (doc_id)),
        |pwins AS (SELECT doc_id, w, mc, i - 1 AS start,
        |           md5(array_to_string(ws[i:i+w-1], ' ')) AS h
        |         FROM (SELECT doc_id, ws, w, mc,
        |                 unnest(generate_series(1, len(ws) - w + 1)) AS i
        |               FROM s3, (VALUES (4, 5), (8, 2)) lv(w, mc))),
        |prk AS (SELECT doc_id, w, mc, start,
        |         count(*) OVER (PARTITION BY h) AS c,
        |         row_number() OVER (PARTITION BY h ORDER BY doc_id, start) AS rn
        |       FROM pwins),
        |pcov AS (SELECT DISTINCT doc_id, start + j AS pos
        |        FROM (SELECT doc_id, start, unnest(generate_series(0, w - 1)) AS j
        |              FROM prk WHERE c >= mc AND rn > 1)),
        |pw2 AS (SELECT doc_id, i - 1 AS pos, ws[i] AS word
        |        FROM (SELECT doc_id, ws,
        |                unnest(generate_series(1, len(ws))) AS i FROM s3)),
        |reb2 AS (SELECT w.doc_id, count(*) AS n_kept,
        |           string_agg(word, ' ' ORDER BY w.pos) AS text_clean
        |         FROM pw2 w LEFT JOIN pcov
        |           ON pcov.doc_id = w.doc_id AND pcov.pos = w.pos
        |         WHERE pcov.doc_id IS NULL GROUP BY 1),
        |s4 AS (SELECT s3.doc_id, s3.source, coalesce(reb2.n_kept, 0) AS nt,
        |         coalesce(reb2.text_clean, '') AS text
        |       FROM s3 LEFT JOIN reb2 USING (doc_id)),
        |r AS (SELECT source, doc_id, nt, text,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY nt DESC, doc_id) AS rn
        |      FROM s4),
        |s5 AS (SELECT source, doc_id, nt, text FROM r WHERE rn <= 15)
        |SELECT * FROM (
        |  SELECT 's0_batch_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(ws)) AS BIGINT) AS n_tokens,
        |    CAST(bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15) AS BIGINT)) AS BIGINT) AS text_h FROM b
        |  UNION ALL SELECT 's1_exact', CAST(count(*) AS BIGINT),
        |    CAST(sum(len(ws)) AS BIGINT), CAST(bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15) AS BIGINT)) AS BIGINT) FROM ex
        |  UNION ALL SELECT 's2_idx_neardup', CAST(count(*) AS BIGINT),
        |    CAST(sum(len(ws)) AS BIGINT), CAST(bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15) AS BIGINT)) AS BIGINT) FROM s1
        |  UNION ALL SELECT 's3_idx_purged', CAST(count(*) AS BIGINT),
        |    CAST(sum(nt2) AS BIGINT), CAST(bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15) AS BIGINT)) AS BIGINT) FROM s2
        |  UNION ALL SELECT 's4_neardup', CAST(count(*) AS BIGINT),
        |    CAST(sum(len(ws)) AS BIGINT), CAST(bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15) AS BIGINT)) AS BIGINT) FROM s3
        |  UNION ALL SELECT 's5_purged', CAST(count(*) AS BIGINT),
        |    CAST(sum(nt) AS BIGINT), CAST(bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15) AS BIGINT)) AS BIGINT) FROM s4
        |  UNION ALL SELECT 's6_domain_capped', CAST(count(*) AS BIGINT),
        |    CAST(sum(nt) AS BIGINT), CAST(bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15) AS BIGINT)) AS BIGINT) FROM s5
        |) ORDER BY stage""".stripMargin
    def incrementalFunnelSpark(s: SparkSession, dir: String,
        idCap: Option[Long]): DataFrame = {
      val docs0 = Tables.documents(s, dir)
      val docs = idCap.map(c => docs0.filter(col("doc_id") < c))
        .getOrElse(docs0)
      val old = docs.filter(col("doc_id") % 10 < 8)
      val fpIndex = TextDedup.winnowFingerprints(old, "doc_id", "text",
          k = 3, w = 4)
        .select(col("doc_id").as("idx_id"), col("fp"))
      val winIndex = TextDedup.windowHashIndex(old, "text", windowWords = 4)
      TextDedup.hygieneFunnelAgainstIndex(
        docs.filter(col("doc_id") % 10 >= 8), fpIndex, winIndex,
        "doc_id", "source", "text",
        k = 3, w = 4, minShared = 3L, maxPostings = 3L,
        indexWindowWords = 4, windows = Seq((4, 5L), (8, 2L)),
        domainCap = 15)
    }
    q("q_incremental_funnel", incrementalFunnelSql(""))(
      (s, dir) => incrementalFunnelSpark(s, dir, None))

    // Bounded-slice twin of q_incremental_funnel (the r16 sf1
    // strict-gate protocol, e.g. q_dup_clusters_sliced): the universe
    // is capped at doc_id < 5000 IN BOTH ENGINES, selecting the first
    // replication copy. The unsliced oracle is DuckDB-INFEASIBLE at
    // stock-vocab sf1 (the ipairs fp self-join over a 31-word
    // vocabulary spills >79 GB of temp — BASELINE round-18); the
    // sliced universe keeps every stage of the composition exercised
    // on sf1 DATA while the replay stays seconds-cheap. The
    // full-corpus operator stays bench-measured at sf1/zipf1; this
    // query supplies the strict rows+schema+hash evidence.
    q("q_incremental_funnel_sliced",
      incrementalFunnelSql("WHERE doc_id < 5000"))(
      (s, dir) => incrementalFunnelSpark(s, dir, Some(5000L)))

    // Funnel rejects: the audit side of q_prep_funnel — every dropped
    // doc with the stage that dropped it and the specific reason, from
    // ONE corpus scan. Instead of chaining filters (each stage a new
    // pass), every stage becomes a FLAG on the same stream: quality = a
    // first-failing-rule case-when; dedup = "not the min q-passing
    // doc_id in my content-hash clique" (hash-partitioned window);
    // contamination = per-row membership of the doc's 60-bit grams in
    // the benchmark gram set (benchmark suites are eval-sized, so the
    // set ships broadcast in the task closure — the same
    // never-corpus-squared shape as q_contamination, minus the join);
    // budget = a CONDITIONAL cumulative window (only still-alive docs
    // accumulate tokens, so the running total equals the staged
    // pipeline's exactly). Reason priority = stage order, so each doc
    // reports its FIRST failure, exactly as if the filters had chained.
    // A real pipeline selects kept docs and rejects from this one
    // flagged frame — two projections of one plan, no second scan
    // (machine-asserted in PlanAuditSpec).
    q("q_prep_funnel_rejects",
      """WITH ws AS (SELECT doc_id, source, text, string_split(text, ' ') AS w
        |            FROM documents WHERE doc_id >= 10),
        |st AS (SELECT doc_id, source, text, len(w) AS nw,
        |         list_reduce(list_prepend(0, list_transform(w, x -> len(x))), (a, x) -> a + x) AS wchars,
        |         len(list_filter(w, x -> x IN ('the', 'a'))) AS nstop,
        |         len(list_distinct(w)) AS ndw
        |       FROM ws),
        |qr AS (SELECT doc_id, source, text, nw,
        |         CASE WHEN nw < 10 OR nw > 1000 THEN 'word_count'
        |              WHEN wchars / nw < 2 OR wchars / nw > 12 THEN 'word_length'
        |              WHEN nstop / nw < 0.01 THEN 'stopword_ratio'
        |              WHEN ndw / nw < 0.2 THEN 'distinct_ratio' END AS qreason
        |       FROM st),
        |dup AS (SELECT *, coalesce(qreason IS NULL AND doc_id <>
        |            min(CASE WHEN qreason IS NULL THEN doc_id END)
        |              OVER (PARTITION BY md5(text)), false) AS is_dup
        |        FROM qr),
        |bench AS (SELECT DISTINCT
        |            CAST('0x' || substr(md5(array_to_string(list_slice(w, i, i + 7), ' ')), 1, 15) AS BIGINT) AS h
        |          FROM (SELECT w, unnest(generate_series(1, len(w) - 7)) AS i
        |                FROM (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id < 10))),
        |hits AS (SELECT DISTINCT g.doc_id FROM (
        |           SELECT DISTINCT doc_id,
        |             CAST('0x' || substr(md5(array_to_string(list_slice(w, i, i + 7), ' ')), 1, 15) AS BIGINT) AS h
        |           FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i FROM ws)
        |         ) g JOIN bench ON g.h = bench.h),
        |fl AS (SELECT d.*, d.doc_id IN (SELECT doc_id FROM hits) AS cont FROM dup d),
        |cum AS (SELECT *, sum(CASE WHEN qreason IS NULL AND NOT is_dup AND NOT cont
        |                           THEN nw ELSE 0 END)
        |          OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumt
        |        FROM fl)
        |SELECT doc_id,
        |  CASE WHEN qreason IS NOT NULL THEN 's1_quality'
        |       WHEN is_dup THEN 's2_dedup'
        |       WHEN cont THEN 's3_decontaminated'
        |       WHEN cumt > 600 THEN 's4_budgeted' END AS stage,
        |  CASE WHEN qreason IS NOT NULL THEN qreason
        |       WHEN is_dup THEN 'exact_duplicate'
        |       WHEN cont THEN 'benchmark_overlap'
        |       WHEN cumt > 600 THEN 'over_token_budget' END AS reason
        |FROM cum
        |WHERE qreason IS NOT NULL OR is_dup OR cont OR cumt > 600
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val wsa = col("__ws")
      val base = Tables.documents(s, dir).filter(col("doc_id") >= 10)
        .select(col("doc_id"), col("source"), col("text"),
          split(col("text"), " ").as("__ws"))
      val st = base.select(col("doc_id"), col("source"), col("text"),
        size(wsa).as("nw"),
        aggregate(transform(wsa, w => length(w)), lit(0), (a, x) => a + x).as("wchars"),
        size(filter(wsa, w => w === "the" || w === "a")).as("nstop"),
        size(array_distinct(wsa)).as("ndw"))
      val qReason = when(col("nw") < 10 || col("nw") > 1000, lit("word_count"))
        .when(col("wchars") / col("nw") < 2 || col("wchars") / col("nw") > 12,
          lit("word_length"))
        .when(col("nstop") / col("nw") < 0.01, lit("stopword_ratio"))
        .when(col("ndw") / col("nw") < 0.2, lit("distinct_ratio"))
      // the benchmark gram set: one eager collect over the (tiny) bench
      // slice, then a per-row set probe in the main plan — O(|bench|)
      // driver/broadcast traffic, independent of corpus size
      val benchGrams = Tables.documents(s, dir).filter(col("doc_id") < 10)
        .select(explode(graft.functions.ShingleHashes(
          col("text"), 8, 15, dedup = true)).as("h"))
        .distinct().collect().map(_.getLong(0)).toSet
      // codegen'd set probe (same pattern as bandRecall / decontam
      // union) — no serialized closure, the tiny gram set rides as an
      // array literal
      val benchGramsLit = typedLit(benchGrams.toSeq.sorted)
      val wClique = Window.partitionBy(md5(col("text")))
      val wBudget = Window.partitionBy("source").orderBy("__pr", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val flagged = st
        .withColumn("__qr", qReason)
        .withColumn("__dup", coalesce(col("__qr").isNull &&
          col("doc_id") =!= min(when(col("__qr").isNull, col("doc_id")))
            .over(wClique), lit(false)))
        .withColumn("__cont", coalesce(arrays_overlap(
          graft.functions.ShingleHashes(col("text"), 8, 15, dedup = true),
          benchGramsLit), lit(false)))
        .withColumn("__pr", md5(col("doc_id").cast("string").cast("binary")))
        .withColumn("__cum", sum(
          when(col("__qr").isNull && !col("__dup") && !col("__cont"),
            col("nw").cast("long")).otherwise(lit(0L))).over(wBudget))
      flagged.select(col("doc_id"),
          when(col("__qr").isNotNull, lit("s1_quality"))
            .when(col("__dup"), lit("s2_dedup"))
            .when(col("__cont"), lit("s3_decontaminated"))
            .when(col("__cum") > 600, lit("s4_budgeted")).as("stage"),
          when(col("__qr").isNotNull, col("__qr"))
            .when(col("__dup"), lit("exact_duplicate"))
            .when(col("__cont"), lit("benchmark_overlap"))
            .when(col("__cum") > 600, lit("over_token_budget")).as("reason"))
        .filter(col("stage").isNotNull)
        .orderBy("doc_id")
    }

    // PII redaction (the scrub pass before training-data release):
    // PII-bearing text is synthesized deterministically from doc_id so
    // both engines run the same regex scrub over the same bytes and the
    // per-category counts are non-trivially exercised. The regexes are
    // the Java/RE2-shared subset in TextQuality.
    q("q_pii_redact",
      """WITH t AS (SELECT doc_id,
        |    'ping user' || CAST(doc_id AS VARCHAR) || '@mail-' || CAST(doc_id % 7 AS VARCHAR)
        |    || '.com from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.3.4 tel +1 555-010-'
        |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ' || substr(text, 1, 40) AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d{1,2} \d{3}-\d{3}-\d{4}', '<PHONE>', 'g') AS text_redacted,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS INTEGER) AS n_ips,
        |  CAST(len(regexp_extract_all(text, '\+\d{1,2} \d{3}-\d{3}-\d{4}')) AS INTEGER) AS n_phones
        |FROM t ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val synth = Tables.documents(s, dir).select(col("doc_id"),
        concat(lit("ping user"), col("doc_id").cast("string"),
          lit("@mail-"), (col("doc_id") % 7).cast("string"),
          lit(".com from 10."), (col("doc_id") % 200).cast("string"),
          lit(".3.4 tel +1 555-010-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" "), substring(col("text"), 1, 40)).as("text"))
      operators.TextQuality.redactPii(synth, "doc_id", "text")
        .orderBy("doc_id")
    }

    // Cross-source contamination matrix: pairwise 8-gram Jaccard between
    // sources — the corpus-analytics view of leakage between subsets
    // (web snapshot vs books dump sharing boilerplate). Grams travel as
    // 60-bit ints; the pair stream comes from a gram-bucket self-join
    // (fan-out per gram = #sources containing it, never docs²), so at
    // scale the cost is bounded by #distinct grams × source-multiplicity.
    q("q_source_overlap",
      """WITH ws AS (SELECT source, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT source,
        |        CAST('0x' || substr(md5(array_to_string(list_slice(w, i, i + 7), ' ')), 1, 15) AS BIGINT) AS h
        |      FROM (SELECT source, w, unnest(generate_series(1, len(w) - 7)) AS i FROM ws)),
        |sz AS (SELECT source, count(*) AS n FROM g GROUP BY source),
        |ix AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
        |       FROM g a JOIN g b ON a.h = b.h AND a.source < b.source
        |       GROUP BY a.source, b.source)
        |SELECT src_a, src_b, CAST(inter AS BIGINT) AS inter,
        |  round(inter / (sa.n + sb.n - inter), 9) AS jaccard
        |FROM ix JOIN sz sa ON sa.source = src_a JOIN sz sb ON sb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin) { (s, dir) =>
      operators.TextQuality
        .groupOverlap(Tables.documents(s, dir), "source", "text", n = 8)
        .orderBy("src_a", "src_b")
    }
  }
}
