package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Execution-regime selection for operators that run their own eager
  * multi-stage pipelines (dedup, clustering, packing).
  *
  * These operators make their own measured size decisions (candidate
  * counts, partition offsets), so on a SMALL input the generic adaptive
  * machinery only adds cost: AQE's stage-at-a-time materialization is a
  * scheduling round-trip per stage without contributing a decision, and
  * a full complement of shuffle tasks costs more to launch than to run
  * (measured ~2× wall-clock on the LSH pipeline at sf0.1). The small
  * regime therefore runs AQE-off with parallelism/4 shuffle partitions.
  * A LARGE input keeps the session exactly as configured — AQE's
  * coalescing and skew handling are the right tool at the 100 TB design
  * point. Settings are restored on exit either way.
  */
object Tuning {

  /** Is `df`'s optimizer-estimated size under ~1 GB? Unknown → large. */
  def isSmall(df: DataFrame): Boolean =
    scala.util.Try(
      df.queryExecution.optimizedPlan.stats.sizeInBytes <= (1L << 30)).getOrElse(false)

  def forSize[A](df: DataFrame)(f: => A): A = scoped(df.sparkSession, isSmall(df))(f)

  /** NOTE: the small regime temporarily mutates session-level conf; the
    * lock below serializes concurrent Tuning scopes on one session so
    * interleaved save/restore pairs can't strand a stale setting. An
    * unrelated query PLANNED by another thread during the scope would
    * still see the scoped values — callers sharing one session across
    * threads should pass their operators a dedicated session
    * (`spark.newSession()` shares the cluster, isolates conf). */
  def scoped[A](spark: SparkSession, small: Boolean)(f: => A): A = {
    if (!small) f
    else spark.synchronized {
      val aqeKey = "spark.sql.adaptive.enabled"
      val partKey = "spark.sql.shuffle.partitions"
      val prevAqe = spark.conf.get(aqeKey, "true")
      val prevPart = spark.conf.get(partKey)
      spark.conf.set(aqeKey, "false")
      spark.conf.set(partKey,
        math.max(1, spark.sparkContext.defaultParallelism / 4).toString)
      try f finally {
        spark.conf.set(aqeKey, prevAqe)
        spark.conf.set(partKey, prevPart)
      }
    }
  }

  /** Key-skew report — the measurement that decides whether a join on
    * `keyCol` needs salting ([[SkewJoin]]) or AQE's skew handling can
    * cope: one count aggregate over the key (vocabulary-sized), top
    * shares via TakeOrdered (no global window, audit-clean), everything
    * rejoined as broadcast one-row tables. Output: n_rows, n_keys,
    * top1_share, top10_share, avg_rows_per_key. */
  def skewReport(df: org.apache.spark.sql.DataFrame, keyCol: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val counts = df.groupBy(keyCol).agg(count(lit(1)).as("__c"))
    val totals = counts.agg(sum("__c").as("n_rows"),
      count(lit(1)).as("n_keys"), max("__c").as("__top1"))
    val top10 = counts.orderBy(col("__c").desc, col(keyCol))
      .limit(10).agg(sum("__c").as("__top10"))
    totals.crossJoin(broadcast(top10))
      .select(col("n_rows"), col("n_keys"),
        (col("__top1").cast("double") / col("n_rows").cast("double"))
          .as("top1_share"),
        (col("__top10").cast("double") / col("n_rows").cast("double"))
          .as("top10_share"),
        (col("n_rows").cast("double") / col("n_keys").cast("double"))
          .as("avg_rows_per_key"))
  }

  /** Tidy null-profile over `cols` — (column, n_rows, n_nulls,
    * null_frac) rows from ONE aggregate pass (count(col) skips nulls),
    * unpivoted like corrMatrix. The completeness half of data
    * profiling beside q_histogram's distribution half. */
  def profileNulls(df: org.apache.spark.sql.DataFrame, cols: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
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
  def dataCard(docs: org.apache.spark.sql.DataFrame, textCol: String,
      langCol: String, langValue: String, sourceCol: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
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
