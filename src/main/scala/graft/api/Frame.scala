package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}

/** The user-facing collection API: a pandas/dask-shaped facade over a
  * Spark `DataFrame` (reference `_collection.py:292` FrameBase, `:2677`
  * DataFrame). Thin and lazy: every method is a direct delegation to
  * the DataFrame/Column algebra (or to a graft operator), so Catalyst
  * sees exactly the plans the operator library produces — the facade
  * adds zero plan nodes of its own.
  *
  * Index policy (SURVEY §7.2): there is no hidden index. `setIndex`
  * records an ordinary column as the frame's index and range-partitions
  * + sorts by it (the Spark analogue of dask divisions); order-dependent
  * operations (`tail`, `locRange`, keep-first dedup) require it.
  */
final case class Frame(df: DataFrame, index: Option[String] = None) {

  private def spark: SparkSession = df.sparkSession
  private def keep(d: DataFrame): Frame = Frame(d, index.filter(d.columns.contains))
  private def idx: String = index.getOrElse(
    throw new IllegalArgumentException(
      "this operation needs an index — call setIndex(col) first"))

  // ---- projections / filters / row ops (reference _expr.py:1996-2122) ----

  def select(cols: String*): Frame = keep(df.select(cols.map(col): _*))

  // ---- pandas-shape conveniences (reference FrameBase properties) ----

  /** (rows, columns) — the row count is an action, as in dask's
    * computed shape. */
  def shape: (Long, Int) = (df.count(), df.columns.length)
  def ndim: Int = 2
  /** rows × columns (pandas `size`; row count is an action). */
  def sizeAll: Long = df.count() * df.columns.length
  /** Schema + layout summary (pandas `info()`), plan-time only — no
    * job. */
  def info: String = {
    val parts = df.rdd.getNumPartitions
    val cols = df.schema.fields.map(f =>
      s"  ${f.name}: ${f.dataType.simpleString}${if (f.nullable) "" else " not null"}")
    (s"Frame: ${df.columns.length} columns, $parts partitions" +:
      index.map(i => s"  index: $i").toSeq) ++: cols.toSeq mkString "\n"
  }
  /** pandas `join`: merge on a key column (the explicit-index analogue
    * of join-on-index; reference `_collection.py` join). */
  def join(other: Frame, on: String, how: String = "left"): Frame =
    merge(other, Seq(on), how)
  /** Hash-based sample (alias of [[sampleByHash]] — content-addressed,
    * reproducible on any engine/partitioning, unlike RNG sampling). */
  def sample(on: String, fraction: Double): Frame = sampleByHash(on, fraction)
  /** Index label of the max/min of `column` (pandas idxmax/idxmin with
    * the engine's deterministic tie-break: smallest index among ties).
    * TakeOrderedAndProject — a distributed top-1, never a full sort. */
  def idxmax(column: String): Any =
    df.orderBy(col(column).desc, col(idx).asc).select(idx).head().get(0)
  def idxmin(column: String): Any =
    df.orderBy(col(column).asc, col(idx).asc).select(idx).head().get(0)
  /** Frame-wide null masks (pandas isna/notna). */
  def isna: Frame = keep(df.select(df.columns.toIndexedSeq.map(c => col(c).isNull.as(c)): _*))
  def notna: Frame = keep(df.select(df.columns.toIndexedSeq.map(c => col(c).isNotNull.as(c)): _*))
  def apply(name: String): Series = Series(df(name))
  def columns: Seq[String] = df.columns.toSeq
  /** Column-positional selection (reference iloc — dask supports the
    * column axis only, `_collection.py` ILocIndexer; so do we). */
  def iloc(positions: Seq[Int]): Frame = {
    val names = df.columns
    keep(df.select(positions.map(i => col(names(i))): _*))
  }
  /** Keep only columns whose Spark SQL type matches `include`
    * (reference select_dtypes; names per `DataType.simpleString`:
    * "bigint", "double", "string", "timestamp", ...). */
  def selectDtypes(include: String*): Frame = {
    val inc = include.toSet
    keep(df.select(df.schema.fields.toIndexedSeq
      .filter(f => inc.contains(f.dataType.simpleString))
      .map(f => col(f.name)): _*))
  }
  /** Apply `f` to this frame (reference pipe — method-chain escape hatch). */
  def pipe(f: Frame => Frame): Frame = f(this)
  /** Remove `column`, returning it alongside the remaining frame
    * (reference pop). */
  def pop(column: String): (Series, Frame) = (apply(column), drop(column))
  /** Collapse a single-column frame to its Series (reference squeeze). */
  def squeeze: Series = {
    require(df.columns.length == 1,
      s"squeeze: expected exactly 1 column, found ${df.columns.length}")
    apply(df.columns.head)
  }
  /** Rename the declared index column (reference rename_axis). */
  def renameAxis(name: String): Frame = index match {
    case Some(i) => Frame(df.withColumnRenamed(i, name), Some(name))
    case None => throw new IllegalStateException("renameAxis: no index declared")
  }
  def filter(cond: Series): Frame = keep(df.filter(cond.col))
  /** `df.query("a > 1 and b < 2")` — Spark SQL predicate string. */
  def query(predicate: String): Frame = keep(df.filter(predicate))
  /** `df.eval("z", "x + y")` — add a column from a SQL expression. */
  def eval(name: String, expression: String): Frame =
    keep(df.withColumn(name, expr(expression)))
  def assign(cols: (String, Series)*): Frame =
    keep(cols.foldLeft(df) { case (d, (n, s)) => d.withColumn(n, s.col) })
  def drop(cols: String*): Frame = keep(df.drop(cols: _*))
  def rename(pairs: (String, String)*): Frame = {
    // SIMULTANEOUS rename (one select) — a sequential fold would cascade
    // when a new name collides with a not-yet-renamed column
    // (rename("a"->"b", "b"->"c") or addPrefix over ["x", "px"]).
    val m = pairs.toMap
    val renamed = df.select(df.columns.map(c => col(c).as(m.getOrElse(c, c))).toIndexedSeq: _*)
    Frame(renamed, index.map(i => m.getOrElse(i, i)))
  }
  def addPrefix(p: String): Frame =
    rename(df.columns.map(c => c -> s"$p$c").toIndexedSeq: _*)
  def addSuffix(s: String): Frame =
    rename(df.columns.map(c => c -> s"$c$s").toIndexedSeq: _*)
  /** Pandas astype, including the `astype("category")` idiom: the
    * "category" target pins the discovered dictionary via [[asKnown]]
    * instead of casting (reference `_categorical.py` — a categorical
    * dtype IS a known dictionary). */
  def astype(casts: (String, String)*): Frame =
    keep(casts.foldLeft(df) { case (d, (c, t)) =>
      if (t == "category") Frame(d).asKnown(c).df
      else d.withColumn(c, col(c).cast(t))
    })
  def explode(column: String, as: String): Frame =
    keep(df.withColumn(as, org.apache.spark.sql.functions.explode(col(column))))
  def dropna(how: String = "any", subset: Seq[String] = Nil): Frame =
    keep(if (subset.isEmpty) df.na.drop(how) else df.na.drop(how, subset))
  def fillna(value: Any, subset: Seq[String] = Nil): Frame = keep {
    (value, subset) match {
      case (v: Double, Nil) => df.na.fill(v)
      case (v: Double, s)   => df.na.fill(v, s)
      case (v: Long, Nil)   => df.na.fill(v)
      case (v: Long, s)     => df.na.fill(v, s)
      case (v: Int, Nil)    => df.na.fill(v.toLong)
      case (v: Int, s)      => df.na.fill(v.toLong, s)
      case (v: String, Nil) => df.na.fill(v)
      case (v: String, s)   => df.na.fill(v, s)
      case (v, _) => throw new IllegalArgumentException(s"fillna: unsupported $v")
    }
  }
  def replaceValues(column: String, mapping: Map[Any, Any]): Frame = keep(
    df.withColumn(column, mapping.foldLeft(when(lit(false), col(column))) {
      case (w, (from, to)) => w.when(col(column) === lit(from), lit(to))
    }.otherwise(col(column))))

  /** Content-hash sample (SURVEY's reproducible, partition-independent
    * policy — reference Sample `_expr.py:1168`): keeps rows whose
    * md5(key) falls under `frac` of the hex space. */
  def sampleByHash(keyCol: String, frac: Double): Frame = {
    require(frac >= 0.0 && frac <= 1.0, s"sampleByHash: frac $frac outside [0,1]")
    val b = math.round(frac * 256).toInt
    if (b >= 256) this // f"%02x" of 256 would be "100", which sorts BELOW "11"
    else if (b <= 0) keep(df.filter(lit(false)))
    else keep(df.filter(
      substring(md5(col(keyCol).cast("string")), 1, 2) < lit(f"$b%02x")))
  }

  // ---- merge / concat (reference _merge.py:50-575) ----

  /** pandas merge: equi-join on `on` with overlap suffixes. `how` ∈
    * inner/left/right/outer/cross/leftsemi/leftanti. */
  def merge(right: Frame, on: Seq[String] = Nil, how: String = "inner",
      suffixes: (String, String) = ("_x", "_y")): Frame = {
    val sparkHow = how match {
      case "outer" => "full_outer"
      case "leftsemi" => "left_semi"
      case "leftanti" => "left_anti"
      case h => h
    }
    if (how == "cross") return keep(df.crossJoin(right.df))
    require(on.nonEmpty, "merge needs join keys (on = ...)")
    val overlap = (df.columns.toSet intersect right.df.columns.toSet) -- on.toSet
    val l = overlap.foldLeft(df)((d, c) => d.withColumnRenamed(c, c + suffixes._1))
    val r = overlap.foldLeft(right.df)((d, c) => d.withColumnRenamed(c, c + suffixes._2))
    keep(l.join(r, on, sparkHow))
  }

  /** pandas merge(left_on=, right_on=): differently-named equi-keys;
    * both key columns survive (pandas semantics). */
  def mergeOn(right: Frame, leftOn: Seq[String], rightOn: Seq[String],
      how: String = "inner", suffixes: (String, String) = ("_x", "_y")): Frame = {
    require(leftOn.length == rightOn.length && leftOn.nonEmpty,
      "mergeOn needs equal-length non-empty key lists")
    val sparkHow = how match {
      case "outer" => "full_outer"
      case "leftsemi" => "left_semi"
      case "leftanti" => "left_anti"
      case h => h
    }
    val overlap = (df.columns.toSet intersect right.df.columns.toSet)
    val l = overlap.foldLeft(df)((d, c) => d.withColumnRenamed(c, c + suffixes._1))
    val r = overlap.foldLeft(right.df)((d, c) => d.withColumnRenamed(c, c + suffixes._2))
    def fix(names: Seq[String], sfx: String) =
      names.map(n => if (overlap(n)) n + sfx else n)
    val cond = fix(leftOn, suffixes._1).zip(fix(rightOn, suffixes._2))
      .map { case (a, b) => l(a) === r(b) }.reduce(_ && _)
    keep(l.join(r, cond, sparkHow))
  }

  /** merge_asof (reference `_merge_asof.py:17-425`) via the graft
    * AsOfJoin operator. */
  def mergeAsof(right: Frame, on: String, by: Seq[String] = Nil,
      direction: String = "backward", tolerance: Option[Double] = None): Frame =
    keep(graft.operators.AsOfJoin.mergeAsOf(df, right.df, on = on, by = by,
      direction = direction, tolerance = tolerance))

  /** Row-wise concat, outer-aligning columns (reference Concat). */
  def concat(other: Frame): Frame = keep(df.unionByName(other.df, allowMissingColumns = true))

  /** n-frame fold join on shared keys (reference JoinRecursive
    * `_merge.py:939-988`): pairwise joins, letting Catalyst reorder. */
  def mergeMulti(others: Seq[Frame], on: Seq[String], how: String = "inner"): Frame =
    others.foldLeft(this)((acc, o) => acc.merge(o, on, how))

  /** Categorical codes with a DYNAMICALLY discovered dictionary
    * (reference `_categorical.py:21-210` Categorize/GetCategories):
    * sorted distinct values → dense codes. The dictionary is discovered
    * with a CAPPED ordered-limit (TakeOrderedAndProject — a distributed
    * per-partition top-k, no single-task window) and fails fast past
    * `maxCategories`: a dictionary that size is no longer categorical
    * data, and silently funneling an unbounded distinct set through one
    * task is exactly the failure mode this guards against. Codes join
    * back as a broadcast dictionary; rows with a null value get code -1
    * (the pandas NaN convention). If the column was marked known via
    * [[asKnown]], the stored dictionary is reused and no discovery job
    * runs at all. */
  def categorize(column: String, maxCategories: Int = 65536): Frame = {
    val field = df.schema(column)
    val vals: Seq[Any] = knownCategories(column) match {
      case Some(cats) => cats
      case None =>
        val rows = df.select(col(column)).na.drop().distinct()
          .orderBy(col(column)).limit(maxCategories + 1).collect()
        require(rows.length <= maxCategories,
          s"categorize($column): over $maxCategories distinct values — raise maxCategories only if this is genuinely categorical")
        rows.map(_.get(0)).toSeq
    }
    val dictRows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(vals.zipWithIndex.map {
        case (v, i) => org.apache.spark.sql.Row(v, i)
      }: _*)
    val dict = spark.createDataFrame(dictRows, org.apache.spark.sql.types.StructType(Seq(
      field.copy(nullable = true),
      org.apache.spark.sql.types.StructField(s"${column}_code",
        org.apache.spark.sql.types.IntegerType))))
    keep(df.join(broadcast(dict), Seq(column), "left")
      .withColumn(s"${column}_code", coalesce(col(s"${column}_code"), lit(-1))))
  }

  // ---- categorical management (reference `_categorical.py:21-155`
  // CategoricalAccessor, as_known/as_unknown) -------------------------
  // The dictionary lives in the column's METADATA — the Spark analogue
  // of pandas' known categorical dtype. Marking a column known makes its
  // categories a plan-time constant: categorize/getDummies/lookups run
  // with zero discovery jobs, the same contract dask's as_known buys by
  // materializing divisions-time categories. String-keyed (categorical
  // data is low-cardinality labels; numeric codes are already numeric).

  private val CatKey = "graft.categories"
  private val OrdKey = "graft.cat_ordered"

  /** Discover and PIN the category dictionary into column metadata
    * (reference `as_known`, `_categorical.py:60`). Sorted, capped,
    * discovered via distributed ordered-limit; `ordered` records the
    * pandas ordered-categorical flag. */
  def asKnown(column: String, maxCategories: Int = 65536, ordered: Boolean = false): Frame = {
    require(df.schema(column).dataType == org.apache.spark.sql.types.StringType,
      s"asKnown($column): categorical metadata is string-keyed; cast first")
    val rows = df.select(col(column)).na.drop().distinct()
      .orderBy(col(column)).limit(maxCategories + 1).collect()
    require(rows.length <= maxCategories,
      s"asKnown($column): over $maxCategories distinct values — not categorical data")
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(df.schema(column).metadata)
      .putStringArray(CatKey, rows.map(_.getString(0)).toArray)
      .putBoolean(OrdKey, ordered).build()
    keep(df.withColumn(column, col(column).as(column, md)))
  }

  /** Drop the known-categories mark (reference `as_unknown`,
    * `_categorical.py:74`). */
  def asUnknown(column: String): Frame = {
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(df.schema(column).metadata)
      .remove(CatKey).remove(OrdKey).build()
    keep(df.withColumn(column, col(column).as(column, md)))
  }

  /** The pinned dictionary, if the column is known (reference accessor
    * `.cat.categories`); None for unknown columns. */
  def knownCategories(column: String): Option[Seq[String]] = {
    val md = df.schema(column).metadata
    if (md.contains(CatKey)) Some(md.getStringArray(CatKey).toSeq) else None
  }

  /** Whether the column carries a pinned dictionary (reference
    * `.cat.known`). */
  def catKnown(column: String): Boolean = knownCategories(column).isDefined

  /** The pandas ordered-categorical flag for a known column (reference
    * `.cat.ordered`). */
  def catOrdered(column: String): Boolean = {
    val md = df.schema(column).metadata
    md.contains(OrdKey) && md.getBoolean(OrdKey)
  }

  /** Repartition so each output partition holds one `freq` bucket of
    * `on` (reference `_repartition.py:278-498` repartition(freq=...)):
    * time-bucketed layout for downstream per-period work. */
  def repartitionByFreq(on: String, freq: String): Frame =
    keep(df.repartitionByRange(date_trunc(freq, col(on)))
      .sortWithinPartitions(on))

  /** Repartition toward a target partition SIZE (reference
    * `_repartition.py` repartition(partition_size=...)): partition count
    * from the optimizer's size estimate — a plan-time decision, no extra
    * job. Inside a shuffle pipeline AQE's advisory size does this
    * adaptively; this is the explicit knob for writes/layout. */
  def repartitionBySize(targetBytes: Long): Frame = {
    require(targetBytes > 0, "repartitionBySize: targetBytes must be > 0")
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = math.max(1L, math.min(
      ((est + targetBytes - 1) / targetBytes).toLong, 1 << 20)).toInt
    keep(df.repartition(n))
  }

  /** One-hot encode with DYNAMICALLY discovered categories (reference
    * `_dummies.py:1-177`, `_categorical.py:157` GetCategories): a
    * bounded distinct pass discovers the dictionary (capped —
    * get_dummies over an unbounded-cardinality column is a modeling
    * bug, not a scale problem), then the encoding is a static
    * projection. */
  def getDummies(column: String, prefix: String = "", maxCategories: Int = 1000): Frame = {
    val vals = df.select(col(column).cast("string")).na.drop()
      .distinct().limit(maxCategories + 1).collect().map(_.getString(0))
    require(vals.length <= maxCategories,
      s"getDummies($column): over $maxCategories categories")
    // sanitization is lossy ("a.b" and "a_b" both → "a_b"); disambiguate
    // collisions with a deterministic ordinal suffix
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val dummies = vals.sorted.toIndexedSeq.map { v =>
      val base = v.replaceAll("[^A-Za-z0-9]", "_")
      val n = seen.getOrElse(base, 0); seen(base) = n + 1
      val safe = if (n == 0) base else s"${base}_$n"
      when(col(column) === lit(v), 1).otherwise(0).as(s"$prefix$safe")
    }
    keep(df.select(df.columns.map(col).toIndexedSeq ++ dummies: _*))
  }

  /** Column-wise concat (pandas concat axis=1) on a shared key: full
    * outer join, key coalesced (reference Concat axis=1). */
  def concatCols(other: Frame, on: String): Frame = {
    val l = df; val r = other.df
    keep(l.join(r, l(on) === r(on), "full_outer")
      .select(Seq(coalesce(l(on), r(on)).as(on)) ++
        l.columns.filterNot(_ == on).map(l(_)) ++
        r.columns.filterNot(_ == on).map(r(_)): _*))
  }

  /** pivot_table (reference PivotTable `_reductions.py:655`). Explicit
    * `pivotValues` keep the output schema static (no distinct pass);
    * empty → Spark discovers them (bounded by its pivot max). */
  def pivotTable(index: String, columns: String, values: String,
      aggFn: String = "sum", pivotValues: Seq[Any] = Nil): Frame = {
    val g = df.groupBy(col(index))
    val p = if (pivotValues.isEmpty) g.pivot(columns) else g.pivot(columns, pivotValues)
    val out = aggFn match {
      case "sum" => p.sum(values)
      case "mean" | "avg" => p.avg(values)
      case "min" => p.min(values)
      case "max" => p.max(values)
      case "count" => p.count()
      case other => throw new IllegalArgumentException(s"pivotTable: unknown fn $other")
    }
    Frame(out, None)
  }

  /** melt / unpivot (reference `_collection.py` melt): value columns may
    * be (column, label) pairs. */
  def melt(ids: Seq[String], values: Seq[(String, String)],
      varName: String = "variable", valueName: String = "value"): Frame =
    keep(df.unpivot(ids.map(col).toArray,
      values.map { case (c, label) => col(c).as(label) }.toArray,
      varName, valueName))

  /** Fixed-bin cut (reference cut): bucket i for bins(i) <= v < bins(i+1),
    * labeled 0..n-1; out-of-range → null. */
  def cut(column: String, bins: Seq[Double], as: String): Frame = {
    val v = col(column)
    val bucket = bins.sliding(2).zipWithIndex.foldLeft(lit(null).cast("int")) {
      case (acc, (Seq(lo, hi), i)) => when(v >= lo && v < hi, i).otherwise(acc)
    }
    keep(df.withColumn(as, bucket))
  }

  /** Quantile-bin qcut (reference qcut): thresholds from the distributed
    * exact-quantile operator, bucket = 1 + #(thresholds below v). */
  def qcut(column: String, nq: Int, as: String): Frame = {
    val ts = quantile(column, (1 until nq).map(_.toDouble / nq))
    // cast-based sum so a NULL input propagates to a NULL bucket
    // (when/otherwise would silently bucket nulls as 1)
    keep(df.withColumn(as,
      ts.map(t => (col(column) > t).cast("int")).reduce(_ + _) + 1))
  }

  // ---- group-by (reference _groupby.py) ----

  def groupby(keys: String*): GroupBy = new GroupBy(this, keys.map(col), keys)

  // ---- sorts / limits / index (reference _expr.py SortValues; _indexing.py) ----

  def sortValues(by: String*): Frame = keep(df.orderBy(by.map(col): _*))
  def sortValuesBy(keys: (String, Boolean)*): Frame =
    keep(df.orderBy(keys.map { case (c, asc) => if (asc) col(c).asc else col(c).desc }: _*))
  def head(n: Int): Frame = keep(df.limit(n))
  /** Last n by index order — TakeOrderedAndProject, not a full sort. */
  def tail(n: Int): Frame = keep(df.orderBy(col(idx).desc).limit(n).orderBy(col(idx)))
  def nlargest(n: Int, by: String*): Frame =
    keep(df.orderBy(by.map(col(_).desc): _*).limit(n))
  def nsmallest(n: Int, by: String*): Frame =
    keep(df.orderBy(by.map(col(_).asc): _*).limit(n))

  /** Declare `column` as the index: range-partition + sort by it — the
    * Spark analogue of dask's divisions (reference SetIndex,
    * `_shuffle.py`). Downstream locRange/tail/dedup-keep-first use it. */
  def setIndex(column: String): Frame =
    Frame(df.repartitionByRange(col(column)).sortWithinPartitions(column), Some(column))
  def resetIndex: Frame = Frame(df, None)

  /** loc[lo:hi] on the index: a between-filter that Catalyst pushes
    * into the scan, culling range partitions / row groups (reference
    * LocIndexer `_indexing.py:38-405`). */
  def locRange(lo: Any, hi: Any): Frame = keep(df.filter(col(idx).between(lo, hi)))
  /** loc[v] point lookup on the index. */
  def loc(v: Any): Frame = keep(df.filter(col(idx) === lit(v)))

  /** Runtime assertion that every row's index falls inside the declared
    * divisions (reference EnforceRuntimeDivisions `_expr.py:1578-1597`):
    * a pass-through whose evaluation throws on the first out-of-bounds
    * row. Zero cost when the data is in bounds (codegen'd predicate). */
  def enforceIndexBounds(lo: Any, hi: Any): Frame = keep(
    df.withColumn("__div_ok",
        assert_true(col(idx).between(lo, hi),
          lit(s"index '${idx}' outside declared divisions [$lo, $hi]")))
      .filter(col("__div_ok").isNull || col("__div_ok").isNotNull)
      .drop("__div_ok"))

  /** Keep first/last row per `subset` by index order; `keep="any"`
    * needs no index (Spark's arbitrary-row dropDuplicates). */
  def dropDuplicates(subset: Seq[String] = Nil, keepRow: String = "any"): Frame = keepRow match {
    case "any" => keep(if (subset.isEmpty) df.dropDuplicates() else df.dropDuplicates(subset))
    case k =>
      val ord = if (k == "first") col(idx).asc else col(idx).desc
      val w = Window.partitionBy(subset.map(col): _*).orderBy(ord)
      keep(df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn"))
  }

  // ---- reductions (reference _reductions.py, _describe.py, _quantile.py) ----

  def count(): Long = df.count()
  def valueCounts(column: String, normalize: Boolean = false): Frame = {
    val counted = df.groupBy(col(column).as("value")).agg(F.count(lit(1)).as("cnt"))
    val out =
      if (!normalize) counted
      // Grand total as a broadcast one-row aggregate, not a global window:
      // a window with no partition keys funnels every distinct value
      // through one partition at scale.
      else counted
        .crossJoin(F.broadcast(df.agg(F.count(lit(1)).cast("double").as("__tot"))))
        .withColumn("proportion", col("cnt") / col("__tot"))
        .drop("__tot")
    keep(out.orderBy(col("cnt").desc, col("value")))
  }
  def nunique(cols: String*): DataFrame =
    df.agg(countDistinct(col(cols.head)).as(s"${cols.head}_nunique"),
      cols.tail.map(c => countDistinct(col(c)).as(s"${c}_nunique")): _*)
  /** Exact PER-GROUP quantiles via the bounded-memory radix select —
    * the at-scale exact path when groups are few and huge (where the
    * buffered grouped percentile dies); see operators.Quantiles for the
    * regime notes. */
  def quantileByGroup(groupCol: String, column: String, qs: Seq[Double]): Frame =
    Frame(graft.operators.Quantiles.groupedExactQuantiles(df, groupCol, column, qs))

  /** Exact quantiles via the distributed Quantiles radix select (never
    * Spark's unbounded-buffer percentile aggregate): a bucket histogram
    * and a fetch of the wanted buckets, two or three jobs, nothing
    * pinned. */
  def quantile(column: String, qs: Seq[Double]): Seq[Double] =
    graft.operators.Quantiles.exactQuantiles(df, column, qs)
  def median(column: String): Double = quantile(column, Seq(0.5)).head
  /** Approximate quantiles in ONE single-pass mergeable aggregation
    * (reference `_collection.py:3881` median_approximate(method=...)):
    * method "dask"/"default" uses Spark's GK approx_percentile sketch;
    * "tdigest" uses the native mergeable t-digest
    * TypedImperativeAggregate ([[graft.functions.TDigestQuantile]] —
    * centroid buffers combine map-side like any partial agg, so the
    * shuffle carries one sketch per partition, never the column). */
  def quantileApproximate(column: String, qs: Seq[Double],
      method: String = "dask"): Seq[Double] = {
    val aggs = method match {
      case "tdigest" =>
        qs.map(q => graft.functions.TDigestQuantile(col(column), q).as(s"q$q"))
      case "dask" | "default" =>
        qs.map(q => expr(s"approx_percentile($column, $q, 1000)").as(s"q$q"))
      case other => throw new IllegalArgumentException(
        s"unknown approximate-quantile method '$other' (expected dask|tdigest)")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    qs.indices.map(i => row.getDouble(i))
  }
  def medianApproximate(column: String, method: String = "dask"): Double =
    quantileApproximate(column, Seq(0.5), method).head

  /** Numeric describe row for `column` (reference `_describe.py:66`). */
  def describe(column: String): DataFrame = {
    val med = median(column)
    df.agg(F.count(col(column)).as("cnt"), avg(column).as("mean"),
      stddev_samp(col(column)).as("std"), min(column).as("min_v"),
      lit(med).as("p50"), max(column).as("max_v"))
  }

  // ---- windows (reference _rolling.py, _resample.py, _expr.py:3292) ----

  def rolling(n: Int, order: Seq[String], by: Seq[String] = Nil): Rolling =
    new Rolling(this, Window.partitionBy(by.map(col): _*).orderBy(order.map(col): _*)
      .rowsBetween(-(n - 1), Window.currentRow))
  def rollingRange(interval: Long, order: Column, by: Seq[String] = Nil): Rolling =
    new Rolling(this, Window.partitionBy(by.map(col): _*).orderBy(order)
      .rangeBetween(-interval, 0))
  def resample(freq: String, on: String): Resampler = new Resampler(this, freq, on)
  def shift(column: String, n: Int, order: String, by: Seq[String] = Nil): Frame = {
    val w = Window.partitionBy(by.map(col): _*).orderBy(order)
    keep(df.withColumn(s"${column}_shift", lag(col(column), n).over(w)))
  }
  def diff(column: String, order: String, by: Seq[String] = Nil): Frame = {
    val w = Window.partitionBy(by.map(col): _*).orderBy(order)
    keep(df.withColumn(s"${column}_diff", col(column) - lag(col(column), 1).over(w)))
  }

  // ---- training-data pipeline (graft extensions beyond the reference) ----

  /** Exact content dedup, keep smallest index per identical `textCol`. */
  def dedupExact(textCol: String): Frame =
    keep(graft.operators.TextDedup.exactDedupKeepFirst(df, idx, textCol)
      .drop("h"))

  /** C4-style boilerplate purge: drop every occurrence of a
    * `spanWords`-word span seen at least `minFreq` times corpus-wide and
    * rebuild each document from its surviving spans
    * (operators.TextDedup.purgeFrequentSpans — one span-hash count plus
    * one reassembly shuffle, never all-pairs). */
  def purgeFrequentSpans(textCol: String, spanWords: Int = 10,
      minFreq: Long = 3): Frame =
    Frame(graft.operators.TextDedup.purgeFrequentSpans(df, idx, textCol,
      spanWords, minFreq), index)

  /** Near-duplicate pairs by MinHash-LSH + exact-Jaccard verify
    * (see operators.TextDedup.nearDuplicates for the scale design). */
  def nearDuplicates(textCol: String, threshold: Double = 0.8,
      maxBucketSize: Option[Int] = None): Frame =
    Frame(graft.operators.TextDedup.nearDuplicates(df, idx, textCol,
      threshold = threshold, maxBucketSize = maxBucketSize))

  /** Exact set-Jaccard ≥ `threshold` pairs via the AllPairs/PPJoin
    * prefix filter — docs join only on their rarest m − ⌈t·m⌉ + 1 set
    * elements, so hot postings never explode the join. `ngram` > 1
    * uses word n-gram shingles as the set elements (the production
    * default; see operators.TextDedup.prefixFilterJoin). */
  def prefixFilterPairs(textCol: String, threshold: Double,
      ngram: Int = 3): Frame =
    Frame(graft.operators.TextDedup.prefixFilterJoin(df, idx, textCol,
      threshold, ngram))

  /** Per-document duplicate share over content-defined chunks
    * (FastCDC-family rolling-hash boundaries; keep-first attribution
    * by chunk hash — operators.TextDedup.cdcDedupReport). */
  def cdcDedupReport(textCol: String, maskBits: Int = 5): Frame =
    Frame(graft.operators.TextDedup.cdcDedupReport(df, idx, textCol,
      maskBits))

  /** LSH candidate precision at `threshold` — the one-row band-tuning
    * report (operators.TextDedup.bandPrecision). */
  def bandPrecision(textCol: String, threshold: Double = 0.8,
      maxBucketSize: Option[Int] = None): Frame =
    Frame(graft.operators.TextDedup.bandPrecision(df, idx, textCol,
      threshold = threshold, maxBucketSize = maxBucketSize))

  /** LSH recall vs exact shared-shingle ground truth — bandPrecision's
    * complement (operators.TextDedup.bandRecall; pass a bounded slice
    * at corpus scale). */
  def bandRecall(textCol: String, threshold: Double = 0.8): Frame =
    Frame(graft.operators.TextDedup.bandRecall(df, idx, textCol,
      threshold = threshold))

  /** Incremental dedup: best near-dup match in an existing `index`
    * frame for each row here — asymmetric band join, never index×index
    * or new×new (operators.TextDedup.dedupAgainstIndex). */
  def dedupAgainstIndex(index: Frame, textCol: String,
      threshold: Double = 0.8): Frame =
    Frame(graft.operators.TextDedup.dedupAgainstIndex(df, index.df, idx,
      textCol, threshold = threshold))

  /** Connected duplicate clusters over `nearDuplicates` output. */
  def dupClusters(textCol: String, threshold: Double = 0.8): Frame =
    Frame(graft.operators.TextDedup.dupClusters(
      graft.operators.TextDedup.nearDuplicates(df, idx, textCol,
        threshold = threshold).select("doc_a", "doc_b")))

  /** Winnowing fingerprints (operators.TextDedup.winnowFingerprints —
    * Schleimer 2003 value-set variant, map-only). (doc_id, fp). */
  def winnowFingerprints(textCol: String, k: Int = 3, w: Int = 4): Frame =
    Frame(graft.operators.TextDedup.winnowFingerprints(df, idx, textCol,
      k, w))

  /** MOSS-style overlap candidates: pairs sharing ≥ minShared winnow
    * fingerprints (operators.TextDedup.winnowOverlap — shared-postings
    * join over the winnowed ≈2/(w+1)-density set). `maxPostings > 0`
    * drops fingerprints shared by more than that many docs first (the
    * MOSS "too many documents" boilerplate guard); 0 = exact. */
  def winnowOverlap(textCol: String, k: Int = 3, w: Int = 4,
      minShared: Long = 3L, maxPostings: Long = 0L): Frame =
    Frame(graft.operators.TextDedup.winnowOverlap(df, idx, textCol, k, w,
      minShared, maxPostings))

  /** PageRank over this frame as an edge list (operators.GraphOps
    * .pageRank — iterative src-keyed join + dst-keyed sum, dangling
    * mass redistributed; the crawl-frontier / host-quality prior).
    * Returns (node, pr). */
  def pageRank(srcCol: String, dstCol: String, iters: Int = 5,
      damping: Double = 0.85, maxDriverNodes: Int = 1 << 20): Frame =
    Frame(graft.operators.GraphOps.pageRank(df, srcCol, dstCol, iters,
      damping, maxDriverNodes))

  /** Exact duplicated-substring purge: remove every word position
    * covered by a `windowWords`-word window whose content repeats in
    * the corpus, sparing the first occurrence when `keepFirst`
    * (operators.TextDedup.purgeDuplicateSubstrings — Lee et al. 2021
    * ExactSubstr shape, one window-hash shuffle). */
  def purgeDuplicateSubstrings(textCol: String, windowWords: Int = 8,
      keepFirst: Boolean = true): Frame =
    Frame(graft.operators.TextDedup.purgeDuplicateSubstrings(df, idx, textCol,
      windowWords, keepFirst), index)

  /** Multi-length duplicated-substring purge: the Lee et al. sweep —
    * duplicated runs detected at every (windowWords, minCount) level
    * in `windows` (long runs purge at low support, short phrases only
    * at high support — see the operator doc for why per-level
    * thresholds are what keep the sweep non-degenerate), positions
    * merged before one rebuild; one source scan, the same exchange
    * count as the single-length form
    * (operators.TextDedup.purgeDuplicateSubstringsMulti). */
  def purgeDuplicateSubstringsMulti(textCol: String,
      windows: Seq[(Int, Long)], keepFirst: Boolean = true): Frame =
    Frame(graft.operators.TextDedup.purgeDuplicateSubstringsMulti(df, idx,
      textCol, windows, keepFirst), index)

  /** Per-row share of n-gram instances whose content also occurs in
    * another row — the cheap cross-corpus duplication score
    * (operators.TextDedup.dupGramFraction). */
  def dupGramFraction(textCol: String, n: Int = 3): Frame =
    Frame(graft.operators.TextDedup.dupGramFraction(df, idx, textCol, n), index)

  /** Near-dup cluster collapse keeping each cluster's highest-`scoreCol`
    * member (operators.TextDedup.collapseKeepBest). */
  def collapseKeepBest(textCol: String, scoreCol: String,
      threshold: Double = 0.8): Frame =
    Frame(graft.operators.TextDedup.collapseKeepBest(df, idx, textCol,
      scoreCol, threshold), index)

  /** Bloom filter over `keyCol` as a mergeable set-bit table
    * (operators.Sketches.bloomBuild); union filters with `concat`. */
  def bloomIndex(keyCol: String, bits: Int = 1 << 22, hashes: Int = 4): Frame =
    Frame(graft.operators.Sketches.bloomBuild(df, keyCol, bits, hashes))

  /** Probe this frame's `keyCol` against a built Bloom filter:
    * (key, might_contain) — the O(1)-space cross-snapshot dedup gate
    * (operators.Sketches.bloomMightContain). */
  def bloomProbe(bloom: Frame, keyCol: String, bits: Int = 1 << 22,
      hashes: Int = 4): Frame =
    Frame(graft.operators.Sketches.bloomMightContain(bloom.df, df, keyCol,
      bits, hashes))

  /** Top-k bigram collocations by pointwise mutual information
    * (operators.TextQuality.pmiCollocations). */
  def pmiCollocations(textCol: String, minCount: Long = 5,
      topK: Int = 100): Frame =
    Frame(graft.operators.TextQuality.pmiCollocations(df, textCol, minCount,
      topK))

  /** Zipf-law least-squares slope over the corpus' top-N words
    * (operators.TextQuality.zipfSlope). */
  def zipfSlope(textCol: String, topN: Int = 1000): Frame =
    Frame(graft.operators.TextQuality.zipfSlope(df, textCol, topN))

  /** Rendezvous (consistent-hash) shard assignment: growing the shard
    * count moves only rows onto the new shard
    * (operators.Packing.rendezvousShard). */
  def rendezvousShard(numShards: Int, outCol: String = "shard"): Frame =
    Frame(graft.operators.Packing.rendezvousShard(df, idx, numShards, outCol),
      index)

  /** Epoch-based mixture replication: repeat each `groupCol` group's
    * rows per its epoch factor, fractional parts as a deterministic
    * content-hash subset (operators.TextQuality.epochMixture). */
  def epochMixture(groupCol: String, epochs: Map[String, Double]): Frame =
    Frame(graft.operators.TextQuality.epochMixture(df, idx, groupCol, epochs),
      index)

  /** Per-document content diff against another snapshot of this corpus:
    * added/removed/changed/unchanged by content hash
    * (operators.TextQuality.snapshotDiff; `this` is the old snapshot). */
  def snapshotDiff(newSnapshot: Frame, textCol: String): Frame =
    Frame(graft.operators.TextQuality.snapshotDiff(df, newSnapshot.df, idx,
      textCol), index)

  /** Pack rows into fixed-capacity token windows in index order
    * (see operators.Packing — two-pass offsets, no global window). */
  def packSequences(tokensCol: String, capacity: Long): Frame =
    Frame(graft.operators.Packing.packSequences(df, idx, tokensCol, capacity),
      index)

  /** Perplexity-style quality score from a corpus-trained bigram LM
    * (see operators.TextQuality.bigramLmScore). */
  def bigramLmScore(textCol: String): Frame =
    Frame(graft.operators.TextQuality.bigramLmScore(df, idx, textCol))

  /** Mark rows to keep under a per-`groupCol` running token budget
    * (mixture construction; operators.TextQuality.tokenBudgetMix). */
  def tokenBudgetMix(groupCol: String, tokensCol: String, budget: Long): Frame =
    keep(graft.operators.TextQuality.tokenBudgetMix(df, groupCol, idx,
      tokensCol, budget))

  /** Key-skew diagnostic: n_rows/n_keys/top-share report over a join
    * key (operators.SkewJoin.skewReport) — the salt-vs-AQE decision
    * input. */
  def skewReport(keyCol: String): Frame =
    Frame(graft.operators.SkewJoin.skewReport(df, keyCol))

  /** Tidy per-column null-completeness report
    * (operators.Analytics.profileNulls; one aggregate pass). */
  def profileNulls(cols: String*): Frame =
    Frame(graft.operators.Analytics.profileNulls(df, cols))

  /** Blocked fuzzy entity matching: within-block pairs at edit distance
    * ≤ maxDist (operators.EntityMatch.fuzzyPairs with the first-token +
    * length blocking default). `maxBlockSize` is the quadratic-verify
    * guard every blocked operator ships with: blocks above the cap are
    * dropped before pairing (one skewed block otherwise owns a
    * quadratic share of the work at scale). Default 0 = disabled
    * (complete results, same as `fuzzyPairsJaro` and the operator
    * default) — set a cap explicitly on skew-prone corpora.
    *
    * CHANGED (r13): the default was 10000; it is now 0 so default
    * results are complete. Existing callers relying on the implicit
    * guard must now pass it. If an uncapped run is slow, diagnose with
    * `skewReport` on the blocking key (first-token + length here) —
    * a top block owning ≫1/n_blocks of the rows is the signature. */
  def fuzzyPairs(nameCol: String, maxDist: Int,
      maxBlockSize: Long = 0L): Frame =
    Frame(graft.operators.EntityMatch.fuzzyPairs(df, idx, nameCol,
      graft.operators.EntityMatch.tokenLengthBlock(nameCol), maxDist,
      maxBlockSize))

  /** k-anonymity report over quasi-identifier columns
    * (operators.EntityMatch.kAnonymity). */
  def kAnonymity(k: Long, quasiCols: String*): Frame =
    Frame(graft.operators.EntityMatch.kAnonymity(df, k, quasiCols: _*))

  /** Per-equivalence-class l-diversity report over the sensitive
    * column (operators.EntityMatch.lDiversity). */
  def lDiversity(l: Long, sensitiveCol: String, quasiCols: String*): Frame =
    Frame(graft.operators.EntityMatch.lDiversity(df, l, sensitiveCol,
      quasiCols: _*))

  /** Temporal train/embargo/test split labels from the corpus clock
    * (operators.TimeGrid.temporalSplit; one broadcast max-ts aggregate
    * plus a map-only CASE). */
  def temporalSplit(tsCol: String, testUnits: Int, embargoUnits: Int,
      unit: String = "day"): Frame =
    Frame(graft.operators.TimeGrid.temporalSplit(df, tsCol, testUnits,
      embargoUnits, unit))

  /** Dense per-key time grid with forward fill — pandas
    * `resample(freq).asfreq().ffill()` (operators.TimeGrid.asFreqFfill;
    * sequence()+explode grid, key-partitioned fill window). */
  def asfreqFfill(keyCol: String, tsCol: String, valueCol: String,
      tieCol: String, unit: String = "day"): Frame =
    Frame(graft.operators.TimeGrid.asFreqFfill(df, keyCol, tsCol, valueCol,
      tieCol, unit))

  /** Exponentially-weighted mean per `keyCol` in `orderCols` order
    * (pandas ewm(alpha).mean(), adjust=True) — keyed sequential
    * recurrence, one shuffle + streaming fold
    * (operators.Recurrence.ewm). */
  def ewm(keyCol: String, orderCols: Seq[String], valueCol: String,
      alpha: Double, out: String = "ewm"): Frame =
    keep(graft.operators.Recurrence.ewm(df, keyCol, orderCols, valueCol,
      alpha, out))

  /** Per-group null imputation (pandas
    * `groupby(g)[v].transform(lambda s: s.fillna(s.mean()/median()))`):
    * nulls in `valueCol` are replaced by the group's mean or exact
    * median of the NON-null values. One grouped aggregate broadcast
    * back — no per-group buffering, no window. */
  def fillnaByGroup(valueCol: String, groupCol: String,
      strategy: String = "mean"): Frame = {
    val agg = strategy match {
      case "mean" => F.avg(col(valueCol))
      case "median" => F.median(col(valueCol))
      case other => throw new IllegalArgumentException(
        s"fillnaByGroup strategy must be mean|median, got $other")
    }
    // plain join: the stat table is one row per group but group
    // cardinality isn't bounded by construction — AQE broadcasts when
    // it measures small
    val stats = df.groupBy(col(groupCol)).agg(agg.as("__fill"))
    keep(df.join(stats, Seq(groupCol), "left")
      .withColumn(valueCol, coalesce(col(valueCol), col("__fill")))
      .drop("__fill"))
  }

  /** pandas between_time: rows whose time-of-day lies in the window —
    * "HH:MM" or "HH:MM:SS" strings, second granularity. Matches pandas
    * semantics: `inclusive` is one of both|left|right|neither (pandas
    * default "both"), and `from` > `until` wraps around midnight (e.g.
    * "22:00"→"04:00" keeps the overnight window). A map-only filter. */
  def betweenTime(tsCol: String, from: String, until: String,
      inclusive: String = "both"): Frame = {
    def secs(s: String): Int = {
      val p = s.split(":")
      require(p.length >= 2 && p.length <= 3, s"time must be HH:MM[:SS], got $s")
      p(0).toInt * 3600 + p(1).toInt * 60 + (if (p.length > 2) p(2).toInt else 0)
    }
    val (incL, incR) = inclusive match {
      case "both"    => (true, true)
      case "left"    => (true, false)
      case "right"   => (false, true)
      case "neither" => (false, false)
      case other => throw new IllegalArgumentException(
        s"inclusive must be both|left|right|neither, got $other")
    }
    val tod = hour(col(tsCol)) * 3600 + minute(col(tsCol)) * 60 +
      second(col(tsCol)).cast("int")
    val f = secs(from); val u = secs(until)
    val lo = if (incL) tod >= f else tod > f
    val hi = if (incR) tod <= u else tod < u
    // from > until = the pandas overnight wrap: OR instead of AND
    keep(df.filter(if (f <= u) lo && hi else lo || hi))
  }

  /** Linear interpolation on the dense `unit` grid per key (pandas
    * resample(unit).interpolate('linear');
    * operators.TimeGrid.interpolateLinear). */
  def interpolate(keyCol: String, tsCol: String, valueCol: String,
      tieCol: String, unit: String = "day"): Frame =
    Frame(graft.operators.TimeGrid.interpolateLinear(df, keyCol, tsCol,
      valueCol, tieCol, unit))

  /** Time-aware EWM over irregular observations (pandas
    * ewm(halflife, times)): decay = 0.5^(Δdays/halflife) per step
    * (operators.Recurrence.ewmIrregular). */
  def ewmIrregular(keyCol: String, orderCols: Seq[String], valueCol: String,
      tsCol: String, halflifeDays: Double, out: String = "ewm_t"): Frame =
    keep(graft.operators.Recurrence.ewmIrregular(df, keyCol, orderCols,
      valueCol, tsCol, halflifeDays, out))

  /** χ² / Cramér's V / mutual-information association between two
    * categorical columns (operators.Analytics.associationReport). */
  def associationReport(aCol: String, bCol: String): Frame =
    Frame(graft.operators.Analytics.associationReport(df, aCol, bCol))

  /** Exponentially-weighted bias-corrected variance/std per `keyCol`
    * (pandas ewm(alpha).var()/.std(), adjust=True, bias=False) — same
    * one-shuffle streaming-fold shape as [[ewm]]
    * (operators.Recurrence.ewmVar). */
  def ewmVar(keyCol: String, orderCols: Seq[String], valueCol: String,
      alpha: Double, outVar: String = "ewm_var",
      outStd: String = "ewm_std"): Frame =
    keep(graft.operators.Recurrence.ewmVar(df, keyCol, orderCols, valueCol,
      alpha, outVar, outStd))

  /** Cohort retention matrix: users cohorted by first-seen day,
    * distinct returning users and retention per (cohort, day_offset)
    * (operators.Analytics.cohortRetention). */
  def cohortRetention(userCol: String, tsCol: String,
      maxOffsetDays: Int = 30): Frame =
    Frame(graft.operators.Analytics.cohortRetention(df, userCol, tsCol,
      maxOffsetDays))

  /** Ordered conversion funnel over event-type `stages`: per-stage
    * reach + conversion rates, two shuffles total
    * (operators.Analytics.funnelStages). */
  def funnel(userCol: String, tsCol: String, typeCol: String,
      stages: Seq[String]): Frame =
    Frame(graft.operators.Analytics.funnelStages(df, userCol, tsCol,
      typeCol, stages))

  /** Population-stability-index drift report of `valueCol` between the
    * `refCond` rows and the rest; sum(psi_term) is the PSI
    * (operators.Analytics.psiReport). */
  def psiReport(valueCol: String, refCond: Column, buckets: Int = 10): Frame =
    Frame(graft.operators.Analytics.psiReport(df, valueCol, refCond, buckets))

  /** Per-session ordered-subsequence pattern match (MATCH_RECOGNIZE-
    * lite): sessionize by inactivity gap, test whether each session
    * contains `stages` in order
    * (operators.Analytics.sessionPatternMatch). */
  def sessionPattern(userCol: String, tsCol: String, tieCol: String,
      typeCol: String, stages: Seq[String], gapMinutes: Int = 30): Frame =
    Frame(graft.operators.Analytics.sessionPatternMatch(df, userCol, tsCol,
      tieCol, typeCol, stages, gapMinutes))

  /** SCD-2 history build: change-detected versions with validity
    * intervals (valid_from / valid_to / is_current)
    * (operators.Analytics.scd2). */
  def scd2(keyCols: Seq[String], tsCol: String, attrCols: Seq[String]): Frame =
    Frame(graft.operators.Analytics.scd2(df, keyCols, tsCol, attrCols))

  /** Full pairwise correlation matrix over `cols` in tidy long form
    * (col_a, col_b, corr), upper triangle, diagonal omitted — all
    * pairs in ONE aggregate pass over the data (pandas `df.corr()`). */
  def corrMatrix(cols: String*): Frame = {
    require(cols.length >= 2, "corrMatrix needs at least two columns")
    val pairs = for { i <- cols.indices; j <- i + 1 until cols.length }
      yield (cols(i), cols(j))
    val agged = df.agg(
      F.corr(col(pairs.head._1), col(pairs.head._2))
        .as(s"${pairs.head._1}__${pairs.head._2}"),
      pairs.tail.map { case (a, b) => F.corr(col(a), col(b)).as(s"${a}__${b}") }: _*)
    Frame(agged.select(F.explode(F.array(pairs.map { case (a, b) =>
        F.struct(lit(a).as("col_a"), lit(b).as("col_b"),
          col(s"${a}__${b}").as("corr"))
      }: _*)).as("r"))
      .select(col("r.col_a"), col("r.col_b"), col("r.corr")))
  }

  /** Per-group corpus diagnostics: docs, tokens, vocabulary, hapax
    * fraction, top-word share — one word explode + word-keyed counts. */
  def corpusStats(groupCol: String, textCol: String): Frame = {
    val wc = df.select(col(groupCol), F.explode(split(col(textCol), " ")).as("__w"))
      .groupBy(groupCol, "__w").agg(F.count(lit(1)).as("__c"))
    val win = Window.partitionBy(groupCol).orderBy(col("__c").desc, col("__w"))
    val top = wc.withColumn("__rn", row_number().over(win))
      .filter(col("__rn") === 1)
      .select(col(groupCol), col("__w").as("top_word"), col("__c").as("__topc"))
    val per = wc.groupBy(groupCol).agg(
      F.count(lit(1)).as("vocab"), sum("__c").as("n_tokens"),
      sum(when(col("__c") === 1, 1).otherwise(0)).as("__hapax"))
    val nd = df.groupBy(groupCol).agg(F.count(lit(1)).as("n_docs"))
    Frame(per.join(top, groupCol).join(nd, groupCol)
      .select(col(groupCol), col("n_docs"), col("n_tokens"), col("vocab"),
        (col("__hapax").cast("double") / col("vocab").cast("double")).as("hapax_frac"),
        col("top_word"),
        (col("__topc").cast("double") / col("n_tokens").cast("double")).as("top_word_frac")))
  }

  /** HTML → text extraction with boilerplate link-density scoring
    * (operators.TextExtract.extractHtml; map-only regexp pipeline). */
  def extractHtml(htmlCol: String, linkDensityMax: Double = 0.35): Frame =
    Frame(graft.operators.TextExtract.extractHtml(df, idx, htmlCol,
      linkDensityMax), index)

  /** URL parse + canonicalization: appends scheme/host/domain/tld/path/
    * query_string/url_canonical (operators.TextExtract.parseUrls). */
  def parseUrls(urlCol: String): Frame =
    keep(graft.operators.TextExtract.parseUrls(df, urlCol))

  /** C4 "bad words" rule: per-row blocked-token count + drop flag
    * (operators.TextQuality.flagBlockedWords; the list rides as a plan
    * literal — map-only). */
  def flagBlockedWords(textCol: String, words: Seq[String]): Frame =
    Frame(graft.operators.TextQuality.flagBlockedWords(df, idx, textCol,
      words), index)

  /** Gopher line/symbol rule family: symbol ratio, bullet/ellipsis line
    * fractions, alpha-word fraction with the paper thresholds
    * (operators.TextQuality.gopherLineRules; map-only). */
  def gopherLineRules(textCol: String): Frame =
    Frame(graft.operators.TextQuality.gopherLineRules(df, idx, textCol),
      index)

  /** Gopher within-doc duplicate-line fractions (operators.TextQuality.
    * withinDocDupLines; (doc, line)-keyed aggregate, never O(lines²)). */
  def withinDocDupLines(textCol: String): Frame =
    Frame(graft.operators.TextQuality.withinDocDupLines(df, idx, textCol),
      index)

  /** Unicode-script character profile + dominant script per row
    * (operators.TextQuality.scriptProfile; map-only). */
  def scriptProfile(textCol: String): Frame =
    Frame(graft.operators.TextQuality.scriptProfile(df, idx, textCol), index)

  /** Blocklist host filter: drop rows whose `hostCol` is a blocked
    * domain or any subdomain of one (operators.TextExtract.
    * filterBlockedHosts; UT1-style crawl blocklist semantics). */
  def filterBlockedHosts(hostCol: String, blocklist: Frame,
      blockCol: String = "host"): Frame =
    keep(graft.operators.TextExtract.filterBlockedHosts(df, idx, hostCol,
      blocklist.df, blockCol))

  /** Per-domain document cap, best-first by `scoreCol` (operators.
    * TextExtract.capPerDomain; the C4/RefinedWeb max-pages-per-site
    * rule — bounded top-k aggregate, never a per-domain rank window). */
  def capPerDomain(domainCol: String, scoreCol: String, cap: Int): Frame =
    Frame(graft.operators.TextExtract.capPerDomain(df, idx, domainCol,
      scoreCol, cap), index)

  /** Deterministic fixed-size sample per group: exactly min(n, group
    * size) rows each, chosen by md5-of-id priority (content-hash
    * sampling policy — reproducible under any partitioning). The
    * per-group-ranked shape rides the same bounded top-k aggregate as
    * capPerDomain, never a rank window over a corpus-sized group. */
  def sampleNPerGroup(groupCol: String, n: Int): Frame = {
    val scored = df.select(col(groupCol), col(idx),
      graft.operators.TextDedup.baseHash(col(idx).cast("string")).as("__pr"))
    val picked = graft.operators.Similarity.topKPerQuery(scored, n, "__pr",
        scoreDesc = false, idCol = idx, queryCol = groupCol)
      // 'sample_rn', not 'rn': a frame that already carries 'rn' (any
      // topKPerQuery-derived output) would otherwise end up with an
      // ambiguous duplicate column after the join
      .select(col(idx), col("rn").as("sample_rn"))
    // join the FULL rows back on the id — callers get the sample's
    // payload (like sample/sampleByHash), plus the within-group rank
    Frame(df.join(picked, Seq(idx)), index)
  }

  /** C4 line-level rule filter: keep lines with ≥ minWords words, a
    * terminal-punctuation ending, and no blocked substring
    * (operators.TextExtract.c4FilterLines; map-only). */
  def c4FilterLines(textCol: String, minWords: Int = 5,
      blocked: Seq[String] = Seq("javascript")): Frame =
    Frame(graft.operators.TextExtract.c4FilterLines(df, idx, textCol,
      minWords, blocked), index)

  /** C4-rule consecutive-duplicate-line removal within each document
    * (operators.TextExtract.dedupConsecutiveLines; map-only). */
  def dedupConsecutiveLines(textCol: String, sep: String = "\n"): Frame =
    Frame(graft.operators.TextExtract.dedupConsecutiveLines(df, idx, textCol,
      sep), index)

  /** EXACT frequent tokens at support ≥ num/denom of the token stream,
    * via two-pass Misra-Gries candidate pruning — no full-vocabulary
    * shuffle (operators.Sketches.frequentTokens). The candidate
    * broadcast is bounded by partitions·k rows, so keep k near 1/φ:
    * at 1024 partitions the default stays ~10⁶ short strings. */
  def frequentTokens(textCol: String, num: Long, denom: Long,
      k: Int = 1024): Frame = {
    val toks = df.select(F.explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
    Frame(graft.operators.Sketches.frequentTokens(toks, "token", num, denom, k))
  }

  /** Temperature-based source mixing: per-`groupCol` quotas from the
    * cnt^alpha rule, deterministic content-hash selection
    * (operators.TextQuality.temperatureMix). */
  def temperatureMix(groupCol: String, textCol: String, alpha: Double = 0.5,
      targetFrac: Double = 0.4): Frame =
    Frame(graft.operators.TextQuality.temperatureMix(df, groupCol, idx,
      textCol, alpha, targetFrac), index)

  /** Append `n_tokens_bpe` — real BPE token counts over `textCol`
    * (operators.Bpe — partition-batched map, no shuffle). */
  def tokenCountBpe(textCol: String): Frame =
    keep(graft.operators.Bpe.tokenCounts(df, textCol))

  /** Append `bpe_pieces` — the document's full BPE subword sequence in
    * reading order (operators.Bpe.tokenPieces; same shuffle-free map). */
  def tokenizeBpe(textCol: String): Frame =
    keep(graft.operators.Bpe.tokenPieces(df, textCol))

  /** Train a unigram-LM (SentencePiece/Kudo) subword vocabulary on
    * `textCol` — hard-EM with in-plan Viterbi over the distinct-word
    * memo, O(seed vocabulary) driver state (operators.UnigramLm). */
  def trainUnigramLm(textCol: String, maxLen: Int = 4, seedSize: Int = 60,
      iters: Int = 2): graft.operators.UnigramLm.UnigramModel =
    graft.operators.UnigramLm.train(df, textCol, maxLen, seedSize, iters)

  /** Append `unigram_pieces` — the document's unigram-LM subword
    * sequence under a trained model (operators.UnigramLm.segment;
    * partition-batched map with a distinct-word memo, no shuffle). */
  def tokenizeUnigram(textCol: String,
      model: graft.operators.UnigramLm.UnigramModel): Frame =
    keep(graft.operators.UnigramLm.segment(df, textCol, model))

  /** Composed training-data hygiene funnel — capped winnow near-dup
    * drop → multi-length duplicated-substring purge → per-domain token
    * cap, led by an exact-dup keep-first stage — returning the stage
    * report (stage, n_docs, n_tokens, text_h) as the contract
    * (operators.TextDedup.hygieneFunnel). The frame's index is
    * the document id. Stage boundaries are pinned (localCheckpoint):
    * at 100 TB those pins are the inter-stage parquet writes a
    * production funnel does anyway — each stage's survivors become an
    * auditable, resumable checkpoint with several consumers. */
  def hygieneFunnel(sourceCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Long = 3L, maxPostings: Long = 3L,
      windows: Seq[(Int, Long)] = Seq((4, 5L), (8, 2L)),
      domainCap: Int = 15): Frame =
    Frame(graft.operators.TextDedup.hygieneFunnel(df, idx, sourceCol,
      textCol, k, w, minShared, maxPostings, windows, domainCap))

  /** Materialized-stage hygiene funnel: each stage's survivors land in
    * a source-partitioned catalog table `<tablePrefix>_s{1..4}` and a
    * rerun RESUMES from the last completed stage; same report contract
    * as [[hygieneFunnel]] (operators.TextDedup.hygieneFunnelStaged).
    * The s4 table is the admitted batch the Layout snapshot cycle
    * appends to the stored hygiene indexes. */
  def hygieneFunnelStaged(sourceCol: String, textCol: String,
      tablePrefix: String,
      k: Int = 3, w: Int = 4, minShared: Long = 3L, maxPostings: Long = 3L,
      windows: Seq[(Int, Long)] = Seq((4, 5L), (8, 2L)),
      domainCap: Int = 15): Frame =
    Frame(graft.operators.TextDedup.hygieneFunnelStaged(df, idx, sourceCol,
      textCol, k, w, minShared, maxPostings, windows, domainCap,
      tablePrefix))

  /** Incremental near-dup: this frame is the NEW batch, scored against
    * a stored winnow-fingerprint index ((idx_id, fp) — a prior
    * snapshot's `winnowFingerprints` output) through an asymmetric
    * join; (new_id, idx_id, n_shared) pairs
    * (operators.TextDedup.winnowAgainstIndex). */
  def winnowAgainstIndex(fpIndex: DataFrame, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Long = 3L,
      maxPostings: Long = 0L): Frame = {
    // Fail at the facade, not deep in analysis: the index contract is
    // positional-by-name (winnowFingerprints output renamed to
    // (idx_id, fp)); a mismatched frame otherwise errors with an
    // unrelated unresolved-column message.
    val cols = fpIndex.columns.toSet
    require(cols.contains("idx_id") && cols.contains("fp"),
      "winnowAgainstIndex: fpIndex must have columns (idx_id, fp) — " +
        s"a prior snapshot's winnowFingerprints output; got ${fpIndex.columns.mkString("(", ", ", ")")}")
    Frame(graft.operators.TextDedup.winnowAgainstIndex(df, fpIndex, idx,
      textCol, k, w, minShared, maxPostings))
  }

  /** Incremental substring purge: every window of this frame's docs
    * whose content exists in the stored window-hash index is removed —
    * one asymmetric semi join + word rebuild
    * (operators.TextDedup.purgeAgainstIndex; build the index once with
    * TextDedup.windowHashIndex). */
  def purgeAgainstIndex(winIndex: DataFrame, textCol: String,
      windowWords: Int = 4): Frame = {
    // The index key is the BINARY 16-byte md5 (windowHashIndex /
    // ShingleMd5Bins) — a hex-string __h would silently join to
    // nothing and return a no-op purge, so the type is part of the
    // contract, not just the column name.
    require(winIndex.columns.contains("__h"),
      "purgeAgainstIndex: winIndex must have column __h — " +
        s"a prior snapshot's windowHashIndex output; got ${winIndex.columns.mkString("(", ", ", ")")}")
    require(winIndex.schema("__h").dataType ==
        org.apache.spark.sql.types.BinaryType,
      "purgeAgainstIndex: winIndex.__h must be BINARY (the 16-byte md5 " +
        s"window digest from windowHashIndex); got ${winIndex.schema("__h").dataType.simpleString} " +
        "— a hex-string key would match nothing and the purge would silently no-op")
    Frame(graft.operators.TextDedup.purgeAgainstIndex(df, winIndex, idx,
      textCol, windowWords))
  }

  /** Snapshot-N+1 hygiene funnel: this frame is the NEW batch, cleaned
    * against the stored corpus indexes (fingerprint index for the
    * cross-snapshot near-dup drop, window-hash index for the
    * cross-snapshot substring purge) before the standard within-batch
    * funnel; returns the seven-row stage report
    * (operators.TextDedup.hygieneFunnelAgainstIndex). Index schema
    * contracts are validated up front exactly like
    * [[winnowAgainstIndex]] / [[purgeAgainstIndex]]. */
  def hygieneFunnelAgainstIndex(fpIndex: DataFrame, winIndex: DataFrame,
      sourceCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Long = 3L, maxPostings: Long = 3L,
      indexWindowWords: Int = 4,
      windows: Seq[(Int, Long)] = Seq((4, 5L), (8, 2L)),
      domainCap: Int = 15): Frame = {
    val cols = fpIndex.columns.toSet
    require(cols.contains("idx_id") && cols.contains("fp"),
      "hygieneFunnelAgainstIndex: fpIndex must have columns (idx_id, fp); " +
        s"got ${fpIndex.columns.mkString("(", ", ", ")")}")
    require(winIndex.columns.contains("__h") &&
      winIndex.schema("__h").dataType ==
        org.apache.spark.sql.types.BinaryType,
      "hygieneFunnelAgainstIndex: winIndex must have a BINARY __h column " +
        "(windowHashIndex output); got " +
        winIndex.columns.mkString("(", ", ", ")"))
    Frame(graft.operators.TextDedup.hygieneFunnelAgainstIndex(df, fpIndex,
      winIndex, idx, sourceCol, textCol, k, w, minShared, maxPostings,
      indexWindowWords, windows, domainCap))
  }

  /** Write this frame's hygiene indexes as bucketed catalog tables —
    * the winnow-fingerprint index bucketed on `fp` and the window-hash
    * index bucketed on `__h` (sources.Layout.writeHygieneIndexes), so
    * the incremental joins ([[winnowAgainstIndex]],
    * [[purgeAgainstIndex]], [[hygieneFunnelAgainstIndex]]) read the
    * stored side straight from its buckets with ZERO index-side
    * exchange. The frame's index is the document id. */
  def writeHygieneIndexes(textCol: String, fpTable: String,
      winTable: String, numBuckets: Int, k: Int = 3, w: Int = 4,
      indexWindowWords: Int = 4): Unit =
    graft.sources.Layout.writeHygieneIndexes(df, idx, textCol, fpTable,
      winTable, numBuckets, k, w, indexWindowWords)

  /** Refresh step of the snapshot cycle: append THIS frame (an
    * admitted batch) to the stored hygiene indexes, preserving their
    * bucket layout (sources.Layout.appendHygieneIndexes) so
    * tomorrow's [[hygieneFunnelAgainstIndex]] still reads the index
    * side straight from its buckets. */
  def appendHygieneIndexes(textCol: String, fpTable: String,
      winTable: String, k: Int = 3, w: Int = 4,
      indexWindowWords: Int = 4): Unit =
    graft.sources.Layout.appendHygieneIndexes(df, idx, textCol, fpTable,
      winTable, k, w, indexWindowWords)

  /** Repair UTF-8-as-cp1252 mojibake in `textCol` via the canonical
    * artifact table (operators.TextQuality.fixMojibake — map-only
    * codegen'd replace chain). */
  def fixMojibake(textCol: String): Frame =
    Frame(graft.operators.TextQuality.fixMojibake(df, idx, textCol))

  /** Scrub emails / IPv4 / phone numbers from `textCol` with per-row
    * redaction counts (operators.TextQuality.redactPii — map-only). */
  def redactPii(textCol: String): Frame =
    Frame(graft.operators.TextQuality.redactPii(df, idx, textCol))

  /** DEFLATE compression-ratio repetitiveness signal
    * (operators.TextQuality.compressionRatio — codegen'd deflate_len
    * kernel, map-only). Adds (compression_ratio, is_repetitive). */
  def compressionRatio(textCol: String, minRatio: Double = 0.30,
      minBytes: Int = 64): Frame =
    Frame(graft.operators.TextQuality.compressionRatio(df, textCol,
      minRatio, minBytes))

  /** Perceptual near-duplicate image pairs over a binary image column:
    * real BMP decode → 64-bit dHash → byte-band hamming LSH
    * (operators.ImageDedup — bucketed candidates, never all-pairs). */
  def imageNearDuplicates(payloadCol: String, maxHamming: Int = 8,
      maxBucketSize: Option[Int] = None): Frame =
    Frame(graft.operators.ImageDedup.imageNearDuplicates(
      graft.operators.ImageDedup.dHashes(df, idx, payloadCol),
      idx, "dhash", maxHamming, maxBucketSize))

  /** Perceptual near-duplicate audio pairs over a binary WAV column:
    * real PCM decode → 64-bit energy-envelope fingerprint → byte-band
    * hamming LSH (operators.AudioDedup — same bucketed shape). */
  def audioNearDuplicates(payloadCol: String, maxHamming: Int = 6,
      maxBucketSize: Option[Int] = None): Frame =
    Frame(graft.operators.AudioDedup.audioNearDuplicates(
      graft.operators.AudioDedup.fingerprints(df, idx, payloadCol),
      idx, "afp", maxHamming, maxBucketSize))

  /** Pairwise distinct-n-gram overlap between values of `groupCol`
    * (leakage analytics; operators.TextQuality.groupOverlap). */
  def groupOverlap(groupCol: String, textCol: String, n: Int = 8,
      maxGroupsPerGram: Option[Int] = None): Frame =
    Frame(graft.operators.TextQuality.groupOverlap(df, groupCol, textCol, n,
      maxGroupsPerGram))

  /** Sliding-window token chunks of `textCol` (RAG/embedding prep;
    * operators.TextQuality.chunkDocuments — map-only explode). */
  def chunkText(textCol: String, chunkSize: Int, stride: Int): Frame =
    Frame(graft.operators.TextQuality.chunkDocuments(df, idx, textCol,
      chunkSize, stride))

  /** Clip `valueCol` to its per-`groupCol` [lo, hi] quantiles
    * (winsorization — outlier trimming before training). The group
    * quantile table is group-count-sized and broadcast back; the clip
    * is a map-only projection. Adds `<valueCol>_winsorized`.
    *
    * Default bounds come from `approx_percentile` (GK sketch — buffer
    * bounded by the accuracy knob, mergeable map-side): with FEW groups
    * over much data, exact `percentile` buffers each group's every
    * value in one task — the unbounded-buffer shape the quantile
    * operator exists to avoid. `exact = true` opts into exact bounds
    * (DuckDB `quantile_cont`-interpolation parity) when group sizes
    * are known to be modest. */
  def winsorize(valueCol: String, groupCol: String,
      lo: Double = 0.05, hi: Double = 0.95, exact: Boolean = false): Frame = {
    val fn = if (exact) "percentile" else "approx_percentile"
    val acc = if (exact) "" else ", 10000"
    val q = df.groupBy(groupCol)
      .agg(expr(s"$fn($valueCol, $lo$acc)").cast("double").as("__qlo"),
        expr(s"$fn($valueCol, $hi$acc)").cast("double").as("__qhi"))
    keep(df.join(broadcast(q), Seq(groupCol))
      .withColumn(s"${valueCol}_winsorized",
        greatest(col("__qlo"), least(col("__qhi"), col(valueCol))))
      .drop("__qlo", "__qhi"))
  }

  /** Okapi BM25 top-k over `textCol` for a (query_id, term) query
    * frame (operators.Retrieval.bm25TopK — broadcast term semi-cut,
    * postings-proportional shuffles). */
  def bm25Search(textCol: String, queries: Frame, k: Int = 10): Frame =
    Frame(graft.operators.Retrieval.bm25TopK(df, idx, textCol, queries.df, k))

  /** Lexical doc-kNN: top-k corpus docs per query row by word n-gram
    * Jaccard (operators.Retrieval.jaccardTopK — row-local shingle
    * sets, broadcast queries, bounded top-k). `queries` must carry
    * (query_id, `textCol`) — the SAME text column name as this frame. */
  def jaccardSearch(textCol: String, queries: Frame, n: Int = 3,
      k: Int = 10): Frame =
    Frame(graft.operators.Retrieval.jaccardTopK(df, idx, textCol,
      queries.df, n, k))

  /** Reciprocal-rank fusion of this ranked list with `others` —
    * hybrid retrieval without score calibration
    * (operators.Retrieval.rrfFuse). Every input must carry
    * (query_id, doc_id, rn) as produced by [[bm25Search]] /
    * [[jaccardSearch]] / the vector `*Search` family. */
  def rrfFuse(others: Seq[Frame], k: Int = 10, c: Double = 60.0,
      queryCol: String = "query_id", idCol: String = "doc_id"): Frame =
    Frame(graft.operators.Retrieval.rrfFuse(df +: others.map(_.df), k, c,
      queryCol, idCol))

  // ---- embedding similarity / vector retrieval (graft extensions) ----

  /** This frame as an operator corpus: index → vec_id, vecCol →
    * embedding (the Similarity/Clustering operator contract). */
  private def asCorpus(vecCol: String): DataFrame =
    df.select(col(idx).as("vec_id"), col(vecCol).as("embedding"))
  /** A query frame as (query_id, qv). */
  private def asQueries(queries: Frame, vecCol: String): DataFrame = {
    val qidx = queries.index.getOrElse(throw new IllegalArgumentException(
      "query frame needs an index — call setIndex(col) first"))
    queries.df.select(col(qidx).as("query_id"), col(vecCol).as("qv"))
  }

  /** Exact brute-force cosine top-k per query vector
    * (operators.Similarity.cosineTopK — bounded partial top-k, never a
    * per-query rank window). Returns (query_id, vec_id, c, rn). */
  def cosineTopK(queries: Frame, vecCol: String, k: Int): Frame =
    Frame(graft.operators.Similarity.cosineTopK(
      asQueries(queries, vecCol), asCorpus(vecCol), k))

  /** Diversity-aware MMR re-ranking of a first-stage top-N: greedily
    * pick `k` per query maximizing λ·rel − (1−λ)·max-cos-to-selected
    * (operators.Similarity.mmrRerank — k unrolled bounded rounds, no
    * rank window). This frame is the vector corpus; `candidates` must
    * carry (query_id, vec_id, `relCol`) from a retriever such as
    * [[cosineTopK]]. Returns (query_id, vec_id, mmr, rn). */
  def mmrRerank(candidates: Frame, vecCol: String, k: Int,
      lambda: Double = 0.5, relCol: String = "rel"): Frame =
    Frame(graft.operators.Similarity.mmrRerank(
      candidates.df.join(asCorpus(vecCol), Seq("vec_id")), k, lambda,
      relCol = relCol))

  /** ANN top-k via random-hyperplane LSH buckets
    * (operators.Similarity.annTopK — bucket id is the join key). */
  def annTopK(queries: Frame, vecCol: String, dim: Int,
      numPlanes: Int = 4, k: Int = 10): Frame =
    Frame(graft.operators.Similarity.annTopK(
      asQueries(queries, vecCol), asCorpus(vecCol), dim, numPlanes, k))

  /** Scalar-quantized (int8) asymmetric top-k
    * (operators.Similarity.sq8TopK). */
  def sq8TopK(queries: Frame, vecCol: String, dim: Int, k: Int): Frame =
    Frame(graft.operators.Similarity.sq8TopK(
      asQueries(queries, vecCol), asCorpus(vecCol), dim, k))

  /** Top-k in the Johnson-Lindenstrauss-reduced space
    * (operators.Similarity.rpTopK). */
  def rpTopK(queries: Frame, vecCol: String, dim: Int, outDim: Int,
      k: Int): Frame =
    Frame(graft.operators.Similarity.rpTopK(
      asQueries(queries, vecCol), asCorpus(vecCol), dim, outDim, k))

  /** Binary sign-code Hamming top-k (operators.Similarity.hammingTopK —
    * 64 dims packed into one BIGINT, xor+popcount distance). */
  def hammingTopK(queries: Frame, vecCol: String, dim: Int, k: Int): Frame =
    Frame(graft.operators.Similarity.hammingTopK(
      asQueries(queries, vecCol), asCorpus(vecCol), dim, k))

  /** Product-quantized asymmetric top-k (operators.Similarity.pqTopK;
    * pass a Clustering.pqCodebookKmeans result for the trained-codebook
    * quality path). */
  def pqTopK(queries: Frame, vecCol: String, dim: Int, m: Int, ks: Int,
      k: Int, codebook: Option[Array[Seq[Double]]] = None): Frame =
    Frame(graft.operators.Similarity.pqTopK(
      asQueries(queries, vecCol), asCorpus(vecCol), dim, m, ks, k, codebook))

  /** IVF approximate top-k: probe the `nprobe` nearest of `nlist`
    * seed-centroid cells (operators.Clustering.ivfTopK). */
  def ivfTopK(queries: Frame, vecCol: String, nlist: Int, nprobe: Int,
      k: Int): Frame =
    Frame(graft.operators.Clustering.ivfTopK(asQueries(queries, vecCol),
      asCorpus(vecCol), "vec_id", "embedding", nlist, nprobe, k))

  /** IVF-PQ top-k — the FAISS IVFPQ layout
    * (operators.Clustering.ivfPqTopK). */
  def ivfPqTopK(queries: Frame, vecCol: String, nlist: Int, nprobe: Int,
      dim: Int, m: Int, ks: Int, k: Int,
      trainedCodebook: Option[Array[Seq[Double]]] = None): Frame =
    Frame(graft.operators.Clustering.ivfPqTopK(asQueries(queries, vecCol),
      asCorpus(vecCol), "vec_id", "embedding", nlist, nprobe, dim, m, ks, k,
      trainedCodebook))

  /** Embedding-cosine near-duplicate pairs within LSH buckets
    * (operators.Similarity.cosineNearDup — never all-pairs). */
  def embeddingNearDuplicates(vecCol: String, dim: Int,
      numPlanes: Int = 4, threshold: Double = 0.9): Frame =
    Frame(graft.operators.Similarity.cosineNearDup(asCorpus(vecCol), dim,
      numPlanes, threshold))

  /** Semantic dedup: one most-central representative per IVF cell
    * (operators.Clustering.semanticDedup). */
  def semanticDedup(vecCol: String, nlist: Int): Frame =
    Frame(graft.operators.Clustering.semanticDedup(asCorpus(vecCol),
      "vec_id", "embedding", nlist))

  /** Distributed Lloyd's k-means cell assignment
    * (operators.Clustering.kmeans; roundTo ≥ 0 makes every iteration
    * externally replayable). Returns the frame with `cell`/`cell_cos`. */
  def kmeansCells(vecCol: String, k: Int, iters: Int,
      roundTo: Int = -1): Frame =
    Frame(graft.operators.Clustering.kmeans(asCorpus(vecCol), "vec_id",
      "embedding", k, iters, roundTo)._1)

  /** Simplified centroid-based silhouette per vector against k-means-
    * trained centroids (operators.Clustering.silhouette; map-only
    * scoring, cluster-quality readout before a semantic-dedup layout
    * commits). Returns (vec_id, cell, cell_cos, next_cos, silhouette). */
  def silhouette(vecCol: String, k: Int, iters: Int,
      roundTo: Int = -1): Frame = {
    val corpus = asCorpus(vecCol)
    val cents = graft.operators.Clustering.kmeans(corpus, "vec_id",
      "embedding", k, iters, roundTo)._2
    Frame(graft.operators.Clustering.silhouette(corpus, "vec_id",
      "embedding", cents))
  }

  /** Margin-based bitext mining against a target-side frame
    * (operators.Similarity.marginMine; Artetxe & Schwenk 2019 ratio
    * margin — forward top-k pairs normalized by both endpoints'
    * neighborhood-mean cosines, pairs ≥ minMargin ranked per src). */
  def marginMine(tgt: Frame, vecCol: String, k: Int,
      minMargin: Double): Frame = {
    val tidx = tgt.index.getOrElse(throw new IllegalArgumentException(
      "target frame needs an index — call setIndex(col) first"))
    Frame(graft.operators.Similarity.marginMine(
      asCorpus(vecCol),
      tgt.df.select(col(tidx).as("vec_id"), col(vecCol).as("embedding")),
      k, minMargin))
  }

  /** Per-group embedding-diversity report (operators.Similarity.
    * embeddingDiversity; the all-pairs mean squared distance by the
    * moment identity — two linear aggregates, never a pairs join). */
  def embeddingDiversity(vecCol: String, groupCol: String): Frame =
    Frame(graft.operators.Similarity.embeddingDiversity(df, vecCol,
      groupCol))

  /** DSIR selection: importance-weight rows whose `isTarget` is false
    * against the target rows' hashed n-gram profile and keep the
    * Gumbel-top-k (operators.Dsir; Xie et al. 2023). */
  def dsirSelect(textCol: String, isTarget: Column, k: Int,
      buckets: Int = 4096): Frame =
    Frame(graft.operators.Dsir.gumbelTopK(
      graft.operators.Dsir.importanceWeights(df, idx, textCol, isTarget,
        buckets), "doc_id", "weight", k))

  /** Train a hashed bag-of-words logistic-regression quality model on
    * `labelCol` (0/1) — distributed full-batch GD, O(buckets) driver
    * state (operators.QualityModel). */
  def trainQualityModel(textCol: String, labelCol: String,
      buckets: Int = 512, iters: Int = 3,
      lr: Double = 1.0): graft.operators.QualityModel.Model =
    graft.operators.QualityModel.trainLogReg(df.sparkSession,
      graft.operators.QualityModel.hashedFeatures(df, idx, textCol, buckets),
      df.select(col(idx).as("doc_id"), col(labelCol).as("y")), buckets, iters, lr)

  /** Score rows with a trained quality model (map-only + broadcast
    * weights); returns (doc_id, quality). */
  def scoreQuality(textCol: String,
      model: graft.operators.QualityModel.Model): Frame =
    Frame(graft.operators.QualityModel.classify(df.sparkSession,
      graft.operators.QualityModel.hashedFeatures(df, idx, textCol,
        model.buckets), model))

  /** CCNet-style per-`groupCol` head/middle/tail perplexity tertiles of
    * the corpus bigram-LM score (operators.TextQuality
    * .perplexityBuckets — exact grouped quantiles, bounded memory). */
  def perplexityBuckets(textCol: String, groupCol: String): Frame =
    Frame(graft.operators.TextQuality.perplexityBuckets(df, idx, textCol,
      groupCol))

  /** Leakage-safe train/valid split: near-dup clusters are the split
    * unit (operators.TextDedup.leakageSafeSplit). */
  def leakageSafeSplit(textCol: String, trainFrac: Double = 0.8,
      threshold: Double = 0.8): Frame =
    Frame(graft.operators.TextDedup.leakageSafeSplit(df, idx, textCol,
      trainFrac, threshold))

  /** N-way cluster-safe split — (label, fraction) buckets, near-copies
    * never straddle (operators.TextDedup.leakageSafeSplitN). */
  def leakageSafeSplitN(textCol: String, splits: Seq[(String, Double)],
      threshold: Double = 0.8): Frame =
    Frame(graft.operators.TextDedup.leakageSafeSplitN(df, idx, textCol,
      splits, threshold))

  /** Learn BPE merge rules from this frame's `textCol` (operators.Bpe
    * .learnDistributed — one corpus pass, then vocab-sized iterations). */
  def learnBpe(textCol: String, numMerges: Int): Seq[(String, String)] =
    graft.operators.Bpe.learnDistributed(df, textCol, numMerges)

  /** KL vocabulary drift between the rows where `isNew` is false
    * (baseline) and true (new slice); top drifting hash buckets + total
    * (operators.TextQuality.vocabDrift). */
  def vocabDrift(textCol: String, isNew: Column, buckets: Int = 4096,
      k: Int = 15): Frame =
    Frame(graft.operators.TextQuality.vocabDrift(df, idx, textCol, isNew,
      buckets, k))

  /** Tokenizer-coverage / OOV report per `groupCol` against the
    * top-`vocabSize` corpus vocabulary
    * (operators.TextQuality.oovReport). */
  def oovReport(textCol: String, groupCol: String, vocabSize: Int): Frame =
    Frame(graft.operators.TextQuality.oovReport(df, idx, textCol, groupCol,
      vocabSize))

  /** One-call corpus data card: tidy (metric, value) datasheet summary
    * (operators.Analytics.dataCard). */
  def dataCard(textCol: String, langCol: String, langValue: String,
      sourceCol: String): Frame =
    Frame(graft.operators.Analytics.dataCard(df, textCol, langCol, langValue,
      sourceCol))

  /** Easy→hard curriculum order with explicit global positions and
    * fixed-size batches (operators.TextQuality.curriculumOrder —
    * two-pass offsets, no unpartitioned window). */
  def curriculumOrder(difficultyCol: String, stages: Int,
      batchRows: Long): Frame =
    Frame(graft.operators.TextQuality.curriculumOrder(df, idx, difficultyCol,
      stages, batchRows))

  /** Fixed-token-budget training-shard manifest in index order
    * (operators.Packing.shardManifest — two-pass offsets). */
  def shardManifest(tokensCol: String, shardTokens: Long): Frame =
    Frame(graft.operators.Packing.shardManifest(df, idx, tokensCol,
      shardTokens))

  // ---- write-side layout (sources.Layout — scan pruning at scale) ----

  def writePartitioned(path: String, cols: String*): Unit =
    graft.sources.Layout.writePartitioned(df, path, cols: _*)
  def writeClustered(path: String, numFiles: Int, cols: String*): Unit =
    graft.sources.Layout.writeClustered(df, path, numFiles, cols: _*)
  def writeZOrdered(path: String, numFiles: Int, bits: Int, cols: String*): Unit =
    graft.sources.Layout.writeZOrdered(df, path, numFiles, bits, cols: _*)
  def writeBucketed(table: String, numBuckets: Int, cols: String*): Unit =
    graft.sources.Layout.writeBucketed(df, table, numBuckets, cols: _*)

  // ---- escape hatches ----

  /** Apply any DataFrame → DataFrame transform (the reference's
    * map_partitions spirit at plan level). */
  def transform(f: DataFrame => DataFrame): Frame = keep(f(df))
  def toDF: DataFrame = df

  // ---- diagnostics (reference diagnostics/_explain.py, _analyze.py) ----

  /** Staged optimizer plans (parsed → analyzed → optimized → physical). */
  def explainStages: Seq[(String, String)] = graft.Explain.stages(df)
  /** Execute and collect per-operator runtime metrics (row counts,
    * shuffle/spill bytes) from the final adaptive plan. */
  def analyze: Seq[(Int, String, Map[String, Long])] = graft.Explain.analyzeStats(df)
  def cache(): Frame = { df.cache(); this }
}

object Frame {
  def apply(df: DataFrame): Frame = Frame(df, None)
  /** Read helpers mirroring the reference io surface. */
  def readParquet(spark: SparkSession, path: String): Frame =
    Frame(graft.sources.Io.readParquet(spark, path))
  def readCsv(spark: SparkSession, path: String, header: Boolean = true): Frame =
    Frame(spark.read.option("header", header.toString).option("inferSchema", "true").csv(path))
  def readJson(spark: SparkSession, path: String): Frame = Frame(spark.read.json(path))
  def readOrc(spark: SparkSession, path: String): Frame = Frame(spark.read.orc(path))
  def fromSeq(spark: SparkSession, rows: Seq[Product], cols: Seq[String]): Frame = {
    import scala.jdk.CollectionConverters._
    val rs = rows.map(p => org.apache.spark.sql.Row.fromTuple(p)).asJava
    val fields = rows.headOption.map(_.productIterator.zipWithIndex.map { case (v, i) =>
      val dt = v match {
        case _: Int => org.apache.spark.sql.types.IntegerType
        case _: Long => org.apache.spark.sql.types.LongType
        case _: Double => org.apache.spark.sql.types.DoubleType
        case _: String => org.apache.spark.sql.types.StringType
        case _: Boolean => org.apache.spark.sql.types.BooleanType
        case other => throw new IllegalArgumentException(s"fromSeq: unsupported $other")
      }
      org.apache.spark.sql.types.StructField(cols(i), dt)
    }.toSeq).getOrElse(cols.map(c => org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.StringType)))
    Frame(spark.createDataFrame(rs, org.apache.spark.sql.types.StructType(fields)))
  }
}

/** Grouped frame (reference `_groupby.py:331` GroupbyAggregation + the
  * apply/transform/head family). */
final class GroupBy(frame: Frame, keys: Seq[Column], keyNames: Seq[String]) {

  private def fnCol(fn: String, c: String): Column = fn match {
    case "sum" => F.sum(c)
    case "mean" | "avg" => avg(c)
    case "min" => F.min(c)
    case "max" => F.max(c)
    case "count" => F.count(col(c))
    case "size" => F.count(lit(1))
    case "nunique" => countDistinct(col(c))
    case "var" => var_samp(col(c))
    case "std" => stddev_samp(col(c))
    case "skew" => skewness(col(c))
    case "kurt" => kurtosis(col(c))
    case "sem" => stddev_samp(col(c)) / sqrt(F.count(col(c)))
    case "prod" =>
      // product via sign/zero-aware exp-sum-log (no product aggregate
      // in Spark; same decomposition as the registry q_prod_sem); the
      // outer coalesce yields pandas' empty-product convention (1.0) for
      // all-null groups. FP caveat: exp-sum-log loses ULP-level
      // precision vs an exact left fold.
      coalesce(
        when(F.sum(when(col(c) === 0, 1).otherwise(0)) > 0, lit(0.0))
          .otherwise(exp(F.sum(log(abs(col(c))))) *
            when(F.sum(when(col(c) < 0, 1).otherwise(0)) % 2 === 1, -1.0).otherwise(1.0)),
        lit(1.0))
    case "first" | "last" =>
      // positional semantics need an order — the declared index
      val i = frame.index.getOrElse(throw new IllegalArgumentException(
        s"groupby $fn($c) needs an index order — call setIndex first"))
      if (fn == "first") min_by(col(c), col(i)) else max_by(col(c), col(i))
    case "collect_set" => sort_array(collect_set(col(c)))
    case other => throw new IllegalArgumentException(s"groupby agg: unknown fn $other")
  }

  /** Dict-style agg: (column, fn) pairs → `<column>_<fn>` columns. */
  def agg(specs: (String, String)*): Frame =
    aggNamed(specs.map { case (c, fn) => (s"${c}_$fn", fn, c) }: _*)
  /** Named agg: (outputName, fn, column) triples. */
  def aggNamed(specs: (String, String, String)*): Frame = {
    val aggs = specs.map { case (out, fn, c) => fnCol(fn, c).as(out) }
    Frame(frame.df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*), None)
  }
  /** Arbitrary column aggregates with explicit names. */
  def aggExpr(aliased: (String, Series)*): Frame = {
    val aggs = aliased.map { case (n, s) => s.col.as(n) }
    Frame(frame.df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*), None)
  }
  def sum(cols: String*): Frame = agg(cols.map(_ -> "sum"): _*)
  def mean(cols: String*): Frame = agg(cols.map(_ -> "mean"): _*)
  def count(): Frame =
    Frame(frame.df.groupBy(keys: _*).agg(org.apache.spark.sql.functions.count(lit(1)).as("count")), None)
  /** Per-group exact median/quantile — bounded by group size, so the
    * per-group percentile aggregate is safe here (SURVEY §2.5). */
  def median(c: String): Frame =
    Frame(frame.df.groupBy(keys: _*).agg(expr(s"percentile($c, 0.5)").as(s"${c}_median")), None)
  /** Per-group approximate median via a mergeable sketch — bounded
    * memory at ANY group size (the exact percentile above buffers a
    * whole group per task; this never does). "tdigest" runs the native
    * mergeable t-digest aggregate, "dask" the GK sketch. */
  def medianApproximate(c: String, method: String = "dask"): Frame = {
    val agg = method match {
      case "tdigest" => graft.functions.TDigestQuantile(col(c), 0.5)
      case "dask" | "default" => expr(s"approx_percentile($c, 0.5, 1000)")
      case other => throw new IllegalArgumentException(
        s"unknown approximate-quantile method '$other' (expected dask|tdigest)")
    }
    Frame(frame.df.groupBy(keys: _*).agg(agg.as(s"${c}_median")), None)
  }

  /** First n rows per group by `order` (reference GroupBy.head). */
  def head(n: Int, order: String*): Frame = {
    val w = Window.partitionBy(keys: _*).orderBy(order.map(col): _*)
    Frame(frame.df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n).drop("__rn"), frame.index)
  }
  /** Group-wise transform: each member row gains `out` computed from a
    * whole-group window aggregate (reference GroupByApply/Transform —
    * the zscore pattern without collecting groups). */
  def transform(out: String, aggFn: WindowSpec => Column): Frame = {
    val w = Window.partitionBy(keys: _*)
    Frame(frame.df.withColumn(out, aggFn(w)), frame.index)
  }
  /** Cumulative aggregate within the group in `order` (reference
    * GroupByCumulative): fn ∈ sum/max/min/count. */
  def cumulative(out: String, fn: String, c: String, order: String*): Frame = {
    val w = Window.partitionBy(keys: _*).orderBy(order.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val a = fn match {
      case "sum" => F.sum(c)
      case "max" => F.max(c)
      case "min" => F.min(c)
      case "count" => F.count(lit(1))
      case other => throw new IllegalArgumentException(s"cumulative: unknown fn $other")
    }
    Frame(frame.df.withColumn(out, a.over(w)), frame.index)
  }
  def cumsum(c: String, order: String*): Frame =
    cumulative(s"${c}_cumsum", "sum", c, order: _*)
  /** One group's rows (reference GetGroup). */
  def getGroup(values: Any*): Frame = {
    val cond = keyNames.zip(values).map { case (k, v) => col(k) === lit(v) }.reduce(_ && _)
    Frame(frame.df.filter(cond), frame.index)
  }
}

/** Rolling window (reference `_rolling.py:43`): aggregates over a
  * trailing row/range frame, appended as named columns. */
final class Rolling(frame: Frame, w: WindowSpec) {
  private def add(out: String, c: Column): Rolling =
    new Rolling(Frame(frame.df.withColumn(out, c.over(w)), frame.index), w)
  def sum(c: String, out: String): Rolling = add(out, org.apache.spark.sql.functions.sum(c))
  def mean(c: String, out: String): Rolling = add(out, avg(c))
  def min(c: String, out: String): Rolling = add(out, org.apache.spark.sql.functions.min(c))
  def max(c: String, out: String): Rolling = add(out, org.apache.spark.sql.functions.max(c))
  def count(out: String): Rolling = add(out, org.apache.spark.sql.functions.count(lit(1)))
  def variance(c: String, out: String): Rolling = add(out, var_samp(col(c)))
  def std(c: String, out: String): Rolling = add(out, stddev_samp(col(c)))

  /** Compute the output through NAMED central-moment columns in one
    * projection chain (each windowed sum evaluated exactly once), then
    * drop the temps — inlining the sum(...).over(w) subtrees into the
    * composite would leave Catalyst to (maybe) deduplicate
    * structurally-equal window expressions across projections, which
    * is not guaranteed. Power sums accumulate in frame order (Spark's
    * sliding frame re-adds rows ascending), so the values match the
    * registry's explicit lag-chain fold bit-for-bit.
    * f receives (n, m2, m3, m4, sv, sd). */
  private def viaMoments(c: String, out: String,
      f: (Column, Column, Column, Column, Column, Column) => Column): Rolling = {
    val v = col(c).cast("double")
    val result = frame.df
      .withColumn("__n", F.count(v).over(w).cast("double"))
      .withColumn("__s1", F.sum(v).over(w))
      .withColumn("__s2", F.sum(v * v).over(w))
      .withColumn("__s3", F.sum(v * v * v).over(w))
      .withColumn("__s4", F.sum(v * v * v * v).over(w))
      .withColumn("__mu", col("__s1") / col("__n"))
      .withColumn("__m2", col("__s2") - col("__mu") * col("__s1"))
      .withColumn("__m3", col("__s3") - lit(3) * col("__mu") * col("__s2")
        + lit(2) * col("__mu") * col("__mu") * col("__s1"))
      .withColumn("__m4", col("__s4") - lit(4) * col("__mu") * col("__s3")
        + lit(6) * col("__mu") * col("__mu") * col("__s2")
        - lit(3) * col("__mu") * col("__mu") * col("__mu") * col("__s1"))
      // nullif: a 1-row frame would divide by zero under ANSI; those
      // rows are NULL'd by the n>=3/4 min-period guard anyway
      .withColumn("__sv", col("__m2") / nullif(col("__n") - lit(1), lit(0.0)))
      .withColumn("__sd", sqrt(col("__sv")))
      .withColumn(out, f(col("__n"), col("__m2"), col("__m3"),
        col("__m4"), col("__sv"), col("__sd")))
      .drop("__n", "__s1", "__s2", "__s3", "__s4", "__mu", "__m2",
        "__m3", "__m4", "__sv", "__sd")
    new Rolling(Frame(result, frame.index), w)
  }

  /** Rolling SAMPLE skewness — the pandas/dask rolling.skew()
    * bias-corrected statistic n·m3 / ((n−1)(n−2)·s³), NULL below the
    * pandas min period (n < 3) and on zero-variance frames (pandas
    * emits NaN there; the engine-wide convention is NULL). */
  def skew(c: String, out: String): Rolling =
    viaMoments(c, out, (n, m2, m3, _, _, sd) => when(n >= 3 && m2 > 0,
      (n * m3) / ((n - lit(1)) * (n - lit(2))) / (sd * sd * sd)))

  /** Rolling SAMPLE excess kurtosis — the pandas/dask rolling.kurt()
    * bias-corrected G2 statistic
    * n(n+1)·m4 / ((n−1)(n−2)(n−3)·s⁴) − 3(n−1)² / ((n−2)(n−3)),
    * NULL below the pandas min period (n < 4) and on zero variance. */
  def kurt(c: String, out: String): Rolling =
    viaMoments(c, out, (n, m2, _, m4, sv, _) => when(n >= 4 && m2 > 0,
      (n * (n + lit(1)) * m4) / ((n - lit(1)) * (n - lit(2)) * (n - lit(3)))
        / (sv * sv)
        - (lit(3) * (n - lit(1)) * (n - lit(1)))
          / ((n - lit(2)) * (n - lit(3)))))
  def toFrame: Frame = frame
}

/** Tumbling-window resample (reference `_resample.py:23`): groups by
  * `window(on, freq)` and exposes the same dict-style agg as GroupBy,
  * with the bucket start as `<on>_bucket`. */
final class Resampler(frame: Frame, freq: String, on: String) {
  def agg(specs: (String, String)*): Frame = aggNamed(
    specs.map { case (c, fn) => (s"${c}_$fn", fn, c) }: _*)
  def aggNamed(specs: (String, String, String)*): Frame = {
    val aggs = specs.map { case (out, fn, c) =>
      (fn match {
        case "sum" => F.sum(c)
        case "mean" | "avg" => avg(c)
        case "min" => F.min(c)
        case "max" => F.max(c)
        case "count" => F.count(col(c))
        case "size" => F.count(lit(1))
        case other => throw new IllegalArgumentException(s"resample agg: unknown fn $other")
      }).as(out)
    }
    Frame(frame.df.groupBy(window(col(on), freq))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn(s"${on}_bucket", col("window.start")).drop("window"), None)
  }
  /** Arbitrary column aggregates with explicit names (e.g. OHLC via
    * min_by/max_by Series expressions). */
  def aggExpr(aliased: (String, Series)*): Frame = {
    val aggs = aliased.map { case (n, se) => se.col.as(n) }
    Frame(frame.df.groupBy(window(col(on), freq))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn(s"${on}_bucket", col("window.start")).drop("window"), None)
  }
}
