package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-stream analytics: cohort retention, ordered conversion
  * funnels, and PSI (population-stability-index) drift, plus the
  * null-profile and corpus data-card reports — the report family
  * every product/events pipeline composes by hand on the
  * reference engine, provided here as operators with the same
  * scale discipline as the rest of the library: grouped aggregates
  * keyed by user/bucket, broadcast-sized stat joins, no windows over
  * unbounded partitions, no driver loops.
  */
object Analytics {

  /** Cohort retention matrix: users are cohorted by the calendar day of
    * their FIRST event; for each (cohort, day_offset ≤ maxOffsetDays)
    * the distinct returning users and the retention rate vs the
    * cohort's day-0 size.
    *
    * Shape: one groupBy(user) for first-seen, one distinct over
    * (user, day), a user-keyed join, one grouped count-distinct, and a
    * broadcast of the per-cohort day-0 sizes (bounded by the calendar).
    * Every stage is keyed by user or (cohort, offset) — no corpus-wide
    * funnel. Output: (cohort, day_offset, n_users, retention). */
  def cohortRetention(df: DataFrame, userCol: String, tsCol: String,
      maxOffsetDays: Int): DataFrame = {
    require(maxOffsetDays >= 0, s"maxOffsetDays >= 0, got $maxOffsetDays")
    val first = df.groupBy(col(userCol))
      .agg(to_date(min(col(tsCol))).as("cohort"))
    val act = df.select(col(userCol), to_date(col(tsCol)).as("day")).distinct()
    val r = act.join(first, userCol)
      .select(col("cohort"),
        datediff(col("day"), col("cohort")).cast("long").as("day_offset"),
        col(userCol))
      .filter(col("day_offset") <= maxOffsetDays)
      .groupBy("cohort", "day_offset")
      .agg(countDistinct(col(userCol)).as("n_users"))
    val base = r.filter(col("day_offset") === 0)
      .select(col("cohort"), col("n_users").as("cohort_size"))
    r.join(broadcast(base), "cohort")
      .select(col("cohort"), col("day_offset"), col("n_users"),
        (round(col("n_users").cast("double")
          / col("cohort_size").cast("double"), 9) + lit(0.0)).as("retention"))
  }

  /** Ordered conversion funnel over `stages` (event-type values): a
    * user reaches stage i when their FIRST occurrence of every stage
    * ≤ i exists and the first-occurrence times are non-decreasing
    * (the strict "did the steps happen in order" reading). One
    * groupBy(user) computes all first-occurrence times; one global
    * aggregate counts each stage's reach — two shuffles total,
    * independent of the stage count.
    *
    * Output per stage: (stage_idx 1-based, stage, n_users,
    * conv_total = reach / stage-1 reach, conv_prev). */
  def funnelStages(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnelStages needs at least one stage")
    val mins = stages.zipWithIndex.map { case (st, i) =>
      min(when(col(typeCol) === st, col(tsCol))).as(s"__t$i")
    }
    val m = df.groupBy(col(userCol)).agg(mins.head, mins.tail: _*)
    val reached: Seq[Column] = stages.indices
      .foldLeft(Vector.empty[Column]) { (acc, i) =>
        val here =
          if (i == 0) col("__t0").isNotNull
          else acc(i - 1) && col(s"__t$i").isNotNull &&
            col(s"__t${i - 1}") <= col(s"__t$i")
        acc :+ here
      }
    val counts = stages.indices.map(i =>
      sum(when(reached(i), 1L).otherwise(0L)).as(s"__s$i"))
    val agg = m.agg(counts.head, counts.tail: _*)
    def ratio(num: Column, den: Column): Column =
      round(when(den > 0, num.cast("double") / den.cast("double")), 9) + lit(0.0)
    val rows = stages.zipWithIndex.map { case (st, i) =>
      struct(lit(i + 1).as("stage_idx"), lit(st).as("stage"),
        col(s"__s$i").as("n_users"),
        ratio(col(s"__s$i"), col("__s0")).as("conv_total"),
        ratio(col(s"__s$i"), col(s"__s${math.max(i - 1, 0)}")).as("conv_prev"))
    }
    agg.select(explode(array(rows: _*)).as("x")).select("x.*")
  }

  /** Categorical association report between two columns: the full
    * contingency grid (observed cells INCLUDING structural zeros via a
    * margin cross join), Pearson χ², degrees of freedom, Cramér's V,
    * and mutual information in nats (MI summed over observed cells —
    * 0·ln0 = 0). One cell aggregate + two margin aggregates, all
    * bounded by the category-pair cardinality; margins broadcast.
    *
    * Output (one row): chi2, dof, cramers_v, mi_nats, n_rows. */
  def associationReport(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("o"))
    val ra = cells.groupBy(col(aCol)).agg(sum("o").as("rt"))
    val ca = cells.groupBy(col(bCol)).agg(sum("o").as("ct"))
    val grid = ra.select(col(aCol), col("rt"))
      .crossJoin(broadcast(ca.select(col(bCol), col("ct"))))
      .join(cells, Seq(aCol, bCol), "left")
      .select(col("rt"), col("ct"), coalesce(col("o"), lit(0L)).as("o"))
    val totals = cells.agg(sum("o").as("n"),
      countDistinct(col(aCol)).as("na"), countDistinct(col(bCol)).as("nb"))
    val nD = col("n").cast("double")
    val e = col("rt").cast("double") * col("ct").cast("double") / nD
    val oD = col("o").cast("double")
    grid.crossJoin(broadcast(totals))
      .agg(
        sum((oD - e) * (oD - e) / e).as("__chi2"),
        sum(when(col("o") > 0,
          oD / nD * log(oD * nD
            / (col("rt").cast("double") * col("ct").cast("double"))))
          .otherwise(0.0)).as("__mi"),
        first(col("n")).as("__n"), first(col("na")).as("__na"),
        first(col("nb")).as("__nb"))
      .select(
        (round(col("__chi2"), 9) + lit(0.0)).as("chi2"),
        ((col("__na") - 1) * (col("__nb") - 1)).cast("long").as("dof"),
        (round(sqrt(col("__chi2") / (col("__n").cast("double")
          * least(col("__na") - 1, col("__nb") - 1).cast("double"))), 9)
          + lit(0.0)).as("cramers_v"),
        (round(col("__mi"), 9) + lit(0.0)).as("mi_nats"),
        col("__n").cast("long").as("n_rows"))
  }

  /** Per-session ordered-subsequence pattern match (MATCH_RECOGNIZE-
    * lite): sessionize by `gapMinutes` inactivity, then test whether
    * each session's event-type sequence CONTAINS `stages` as an
    * ordered subsequence (greedy left-to-right fold — equivalent to
    * iterated earliest-occurrence search). The per-session event array
    * is bounded by the session, the fold is a row-local expression,
    * and the stage list rides the plan as a literal.
    *
    * Output: (userCol, session_id, n_events, matched). */
  def sessionPatternMatch(df: DataFrame, userCol: String, tsCol: String,
      tieCol: String, typeCol: String, stages: Seq[String],
      gapMinutes: Int = 30): DataFrame = {
    require(stages.nonEmpty, "sessionPatternMatch needs at least one stage")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(tieCol))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessioned = df
      .withColumn("__brk",
        when(lag(col(tsCol), 1).over(w).isNull ||
          unix_micros(col(tsCol)) - unix_micros(lag(col(tsCol), 1).over(w)) >
            gapMinutes.toLong * 60L * 1000000L, 1).otherwise(0))
      .withColumn("session_id", sum(col("__brk")).over(wRun))
    val stagesLit = typedLit(stages)
    val n = stages.length
    sessioned
      .groupBy(col(userCol), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        sort_array(collect_list(
          struct(col(tsCol), col(tieCol), col(typeCol).as("__t")))).as("__evs"))
      .select(col(userCol), col("session_id"), col("n_events"),
        (aggregate(
          transform(col("__evs"), e => e.getField("__t")),
          lit(0),
          (st, e) => when(st < n && e === element_at(stagesLit, st + 1), st + 1)
            .otherwise(st)) === n).as("matched"))
  }

  /** SCD-2 history build: given versioned rows (one row per key per
    * snapshot timestamp), keep only rows where any of `attrCols`
    * CHANGED vs the key's previous version, and attach validity
    * intervals — valid_from = the version's timestamp, valid_to = the
    * next kept version's timestamp (NULL = current), is_current. The
    * lakehouse upsert-history primitive.
    *
    * All windows are per key and bounded by the key's version count
    * (snapshots, not corpus size). Null-safe attribute comparison via
    * the null-safe equality operator. */
  def scd2(df: DataFrame, keyCols: Seq[String], tsCol: String,
      attrCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && attrCols.nonEmpty, "scd2 needs keys and attrs")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol))
    val changed = attrCols
      .map(a => !(col(a) <=> lag(col(a), 1).over(w)))
      .reduce(_ || _) || lag(col(tsCol), 1).over(w).isNull
    val kept = df.withColumn("__chg", changed).filter(col("__chg")).drop("__chg")
    val w2 = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol))
    kept
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w2))
      .withColumn("is_current", col("valid_to").isNull)
      .drop(tsCol)
  }

  /** Population Stability Index of `valueCol` between the rows where
    * `refCond` holds (reference population) and the rest (current):
    * the reference's exact deciles (distributed Quantiles operator —
    * edges enter the plan as literals) bucket both populations, and
    * each bucket contributes (p_cur − p_ref)·ln(p_cur/p_ref); buckets
    * empty on either side contribute 0 (documented convention — the
    * alternative epsilon-clip distorts small buckets). One aggregation
    * pass over the data; the bucket spine is a 10-row literal range.
    *
    * Output per bucket: (bucket, n_ref, n_cur, p_ref, p_cur, psi_term);
    * sum(psi_term) is the PSI. */
  def psiReport(df: DataFrame, valueCol: String, refCond: Column,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 100, s"buckets in [2,100], got $buckets")
    val fracs = (1 until buckets).map(_.toDouble / buckets)
    val edges = Quantiles.exactQuantiles(df.filter(refCond), valueCol, fracs)
    val v = col(valueCol).cast("double")
    val bucket = edges.foldLeft(lit(0)) { (acc, e) =>
      acc + (v > lit(e)).cast("int")
    }
    val counted = df
      .select(bucket.as("bucket"), refCond.as("__ref"))
      .groupBy("bucket")
      .agg(sum(when(col("__ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("__ref"), 1L).otherwise(0L)).as("n_cur"))
    val spine = df.sparkSession.range(buckets)
      .select(col("id").cast("int").as("bucket"))
    val full = spine.join(counted, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val totals = full.agg(sum("n_ref").as("t_ref"), sum("n_cur").as("t_cur"))
    full.crossJoin(broadcast(totals))
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        (round(col("n_ref").cast("double") / col("t_ref").cast("double"), 9)
          + lit(0.0)).as("p_ref"),
        (round(col("n_cur").cast("double") / col("t_cur").cast("double"), 9)
          + lit(0.0)).as("p_cur"),
        (round(when(col("n_ref") > 0 && col("n_cur") > 0,
          (col("n_cur").cast("double") / col("t_cur").cast("double")
            - col("n_ref").cast("double") / col("t_ref").cast("double"))
            * log(col("n_cur").cast("double") / col("t_cur").cast("double")
              / (col("n_ref").cast("double") / col("t_ref").cast("double"))))
          .otherwise(0.0), 9) + lit(0.0)).as("psi_term"))
  }

  /** Tidy null-profile over `cols` — (column, n_rows, n_nulls,
    * null_frac) rows from ONE aggregate pass (count(col) skips nulls),
    * unpivoted like corrMatrix. The completeness half of data
    * profiling beside q_histogram's distribution half. */
  def profileNulls(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileNulls needs at least one column")
    val agged = df.agg(count(lit(1)).as("__n"),
      cols.map(c => count(col(c)).as(s"__c_$c")): _*)
    agged.select(explode(array(cols.map { c =>
        struct(lit(c).as("column"), col("__n").as("n_rows"),
          (col("__n") - col(s"__c_$c")).as("n_nulls"),
          ((col("__n") - col(s"__c_$c")).cast("double") /
            col("__n").cast("double")).as("null_frac"))
      }: _*)).as("r"))
      .select(col("r.column"), col("r.n_rows"), col("r.n_nulls"),
        col("r.null_frac"))
  }

  /** One-call corpus data card (the "datasheet" summary a dataset
    * release ships): tidy (metric, value) rows covering volume
    * (docs/tokens/chars), vocabulary, exact-duplicate fraction, source
    * mixture, and a language share — the headline numbers from the
    * profiling family in ONE result.
    *
    * Scale shape: one doc-level aggregate (long sums + exact
    * countDistinct — all integer arithmetic, so every derived ratio is
    * a single exact division, no float-sum association), one
    * token-keyed distinct for vocabulary, one vocabulary-sized source
    * groupBy for the top-source share; the three one-row results
    * broadcast-crossJoin into the tidy explode. Nothing corpus-sized
    * moves anywhere.
    *
    * Output: (metric, value) — doubles, stable metric order. */
  def dataCard(docs: DataFrame, textCol: String,
      langCol: String, langValue: String, sourceCol: String): DataFrame = {
    val base = docs.agg(
      count(lit(1)).as("__n_docs"),
      countDistinct(md5(col(textCol))).as("__n_unique"),
      sum(size(split(col(textCol), " ")).cast("long")).as("__n_tokens"),
      sum(length(col(textCol)).cast("long")).as("__n_chars"),
      sum(when(col(langCol) === langValue, 1L).otherwise(0L)).as("__n_lang"),
      countDistinct(col(sourceCol)).as("__n_sources"))
    val vocab = docs.select(explode(split(col(textCol), " ")).as("__t"))
      .agg(countDistinct("__t").as("__vocab"))
    val topSrc = docs.groupBy(sourceCol).agg(count(lit(1)).as("__c"))
      .agg(max("__c").as("__top_src"))
    val nd = col("__n_docs").cast("double")
    base.crossJoin(broadcast(vocab)).crossJoin(broadcast(topSrc))
      .select(explode(array(
        struct(lit("n_docs").as("metric"), nd.as("value")),
        struct(lit("n_tokens").as("metric"),
          col("__n_tokens").cast("double").as("value")),
        struct(lit("n_chars").as("metric"),
          col("__n_chars").cast("double").as("value")),
        struct(lit("vocab").as("metric"),
          col("__vocab").cast("double").as("value")),
        struct(lit("mean_tokens_per_doc").as("metric"),
          (col("__n_tokens").cast("double") / nd).as("value")),
        struct(lit("exact_dup_frac").as("metric"),
          (lit(1.0) - col("__n_unique").cast("double") / nd).as("value")),
        struct(lit("lang_share").as("metric"),
          (col("__n_lang").cast("double") / nd).as("value")),
        struct(lit("n_sources").as("metric"),
          col("__n_sources").cast("double").as("value")),
        struct(lit("top_source_frac").as("metric"),
          (col("__top_src").cast("double") / nd).as("value")))).as("r"))
      .select(col("r.metric"), col("r.value"))
  }
}
