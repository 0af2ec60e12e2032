package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Distributed exact quantiles (reference `_quantile.py:14-133`; pandas
  * `quantile(interpolation="linear")` / DuckDB `quantile_cont`).
  *
  * Spark's built-in exact `percentile`/`median` is a
  * `TypedImperativeAggregate` whose buffer holds EVERY value of the
  * column, so the final merge materializes the whole column in one task
  * — a guaranteed OOM at the 100 TB design point. This operator instead
  * works on an order-preserving 64-bit key (`doubleToLongBits` with the
  * magnitude bits of negatives flipped, `-0.0` folded onto `0.0`):
  *
  *  1. one job folds each tag's keys: every partition keeps a tag's keys
  *     while it has at most `BucketCap` of them and counts them by
  *     `key >> 48` past that, and the partials merge up a
  *     `treeAggregate` (keys plus keys stay keys while they total at
  *     most `BucketCap`). A tag that ends as keys is answered on the
  *     driver from its sorted keys, with no further job; for a tag that
  *     ends as counts, the driver turns each requested fraction into its
  *     two neighboring order statistics (floor/ceil of `p·(n-1)`) and
  *     locates each as (bucket, local rank);
  *  2. a bucket holding more than `BucketCap` rows is refined by a
  *     histogram of the next 16 key bits restricted to that bucket — at
  *     most 3 more levels, the last of which names the key itself;
  *  3. one filtered scan collects the keys of the wanted buckets; the
  *     driver sorts them and picks the ranks.
  *
  * Either way the two neighbors interpolate linearly (`lo + (hi - lo) *
  * w`, DuckDB's `quantile_cont` form; equal or infinite neighbors yield
  * their limit, as Spark's `percentile` does).
  *
  * Nothing is pinned or range-partitioned: each pass re-reads the input
  * (recompute over materialize). One job when every column has at most
  * `BucketCap` rows, two when the wanted top-level buckets do, one more
  * per refinement level otherwise. Driver traffic is O(tags × occupied
  * buckets + rows in the wanted buckets): at most `BucketCap` keys or
  * 65536 buckets per tag and level and `BucketCap` rows per wanted
  * bucket, so driver memory stays bounded at any scale; executors hold
  * at most that per tag. Results are bit-identical to `percentile` and
  * DuckDB `quantile_cont` (up to the sign of a zero).
  *
  * Regime note for [[groupedExactQuantiles]] (tag = group): the fold
  * is per group, so this is the at-scale EXACT path when
  * groups are FEW and huge — the case where Spark's `percentile` counts
  * map (memory ∝ distinct values in the largest group) dies. For MANY
  * small groups the buffered aggregate is the right plan (each buffer is
  * bounded by its group), and for many LARGE groups the mergeable
  * t-digest (q_tdigest_quantile) is the approximate answer.
  */
object Quantiles {

  /** Rows a wanted bucket may hold before it is refined instead of
    * collected, and keys a tag may hold before its fold turns them into
    * bucket counts. */
  private val BucketCap = 1L << 16
  /** Key bits resolved per histogram level. */
  private final val Digit = 16
  /** Shift of the top-level bucket, `key >> TopShift`, and half the
    * number of top-level buckets (they span `[-Half, Half)`). */
  private final val TopShift = 64 - Digit
  private final val Half = 1L << (Digit - 1)

  /** Exact linear-interpolation quantiles of `valueCol` (nulls and NaN
    * excluded), as one driver-side Double per requested fraction.
    */
  def exactQuantiles(df: DataFrame, valueCol: String, fractions: Seq[Double]): Seq[Double] =
    exactQuantilesMulti(df, Seq(valueCol -> fractions))(valueCol)

  /** Exact quantiles for SEVERAL distinct columns in one select: the
    * columns union into a (tag, value) stream, so one fold (and one
    * fetch) serves every column.
    */
  def exactQuantilesMulti(df: DataFrame,
      specs: Seq[(String, Seq[Double])]): Map[String, Seq[Double]] =
    exactQuantilesMulti(df, specs, BucketCap)

  private[graft] def exactQuantilesMulti(df: DataFrame,
      specs: Seq[(String, Seq[Double])], cap: Long): Map[String, Seq[Double]] = {
    require(specs.nonEmpty, "at least one (column, fractions) spec")
    val twice = specs.map(_._1).diff(specs.map(_._1).distinct).distinct
    require(twice.isEmpty,
      s"each column at most once (list all its fractions in one spec): ${twice.mkString(", ")}")
    specs.foreach { case (c, fs) => checkFractions(c, fs) }
    val tagged = df.select(explode(array(specs.map { case (c, _) =>
        struct(lit(c).as("__t"), col(c).cast("double").as("__v")) }: _*)).as("s"))
      .select(col("s.__t").as("__t"), col("s.__v").as("__v"))
    val got = select(tagged, specs.toMap, cap)
    specs.map { case (c, _) => c -> got.getOrElse(c,
      throw new IllegalArgumentException(s"exactQuantiles($c): no non-null rows")) }.toMap
  }

  /** Convenience: exact median. */
  def exactMedian(df: DataFrame, valueCol: String): Double =
    exactQuantiles(df, valueCol, Seq(0.5)).head

  /** Exact PER-GROUP quantiles with the same radix select, tag = group
    * (see the regime note on [[Quantiles]]). Same interpolation formula
    * as `percentile`/DuckDB `quantile_cont` — results are bit-identical.
    *
    * Returns (groupCol, q_<frac>... ) one row per group, group order
    * unspecified.
    */
  def groupedExactQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      fractions: Seq[Double]): DataFrame =
    groupedExactQuantiles(df, groupCol, valueCol, fractions, BucketCap)

  private[graft] def groupedExactQuantiles(df: DataFrame, groupCol: String,
      valueCol: String, fractions: Seq[Double], cap: Long): DataFrame = {
    checkFractions(valueCol, fractions)
    val spark = df.sparkSession
    val tagged = df.select(col(groupCol).cast("string").as("__t"),
      col(valueCol).cast("double").as("__v"))
    val out = select(tagged, _ => fractions, cap).toSeq.map { case (tag, qs) =>
      Row.fromSeq(tag +: qs) }
    val schema = StructType(StructField(groupCol, StringType) +:
      fractions.map(f => StructField(s"q_${f.toString.replace('.', '_')}", DoubleType)))
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
  }

  private def checkFractions(c: String, fs: Seq[Double]): Unit =
    require(fs.nonEmpty && fs.forall(f => f >= 0.0 && f <= 1.0),
      s"fractions must be in [0,1] for $c: $fs")

  /** Order-preserving signed key of a non-NaN double; `-0.0` maps to
    * the key of `0.0`. The transform is its own inverse on the bits. */
  private val orderKey = udf { (v: Double) =>
    val b = java.lang.Double.doubleToLongBits(v + 0.0)
    b ^ ((b >> 63) & Long.MaxValue)
  }
  private def fromKey(k: Long): Double =
    java.lang.Double.longBitsToDouble(k ^ ((k >> 63) & Long.MaxValue))

  /** An order statistic of `tag`: local rank `rank` among the `size`
    * keys `k` with `k >> shift == bucket`. */
  private case class Probe(tag: String, shift: Int, bucket: Long, rank: Long, size: Long)

  /** A tag's fold over some rows: its order keys while it has at most
    * `cap` of them, else its ascending (top-level bucket, count) pairs. */
  private sealed trait Partial extends Serializable
  private final case class Keys(ks: Array[Long]) extends Partial
  private final case class Counts(hist: Array[(Long, Long)]) extends Partial

  private def counts(p: Partial): Array[(Long, Long)] = p match {
    case Counts(h) => h
    case Keys(ks) => ks.groupMapReduce(_ >> TopShift)(_ => 1L)(_ + _).toArray.sortBy(_._1)
  }
  private def merge(a: Partial, b: Partial, cap: Long): Partial = (a, b) match {
    case (Keys(x), Keys(y)) if x.length + y.length <= cap => Keys(x ++ y)
    case _ => Counts((counts(a) ++ counts(b)).groupMapReduce(_._1)(_._2)(_ + _)
      .toArray.sortBy(_._1))
  }

  /** One tag's fold within a partition: keys until the `cap + 1`-th,
    * then dense top-level bucket counts. */
  private final class Acc(cap: Long) {
    private var ks = new mutable.ArrayBuilder.ofLong
    private var hist: Array[Long] = null
    private def bump(k: Long): Unit = hist(((k >> TopShift) + Half).toInt) += 1
    def add(k: Long): Unit =
      if (hist != null) bump(k)
      else if (ks.length < cap) ks += k
      else {
        hist = new Array[Long](1 << Digit)
        ks.result().foreach(bump)
        ks = null
        bump(k)
      }
    def result: Partial =
      if (hist == null) Keys(ks.result())
      else Counts(hist.indices.collect { case i if hist(i) > 0 => (i - Half, hist(i)) }.toArray)
  }

  /** One job: every partition folds each tag's keys into a [[Partial]],
    * and the partials merge up a tree. A tag ends as [[Keys]] exactly
    * when it has at most `cap` rows, whatever the partitioning. */
  private def fold(keyed: DataFrame, cap: Long): Map[String, Partial] = {
    def mergeAll(a: Map[String, Partial], b: Map[String, Partial]) =
      b.foldLeft(a) { case (m, (t, p)) => m.updated(t, m.get(t).fold(p)(merge(_, p, cap))) }
    keyed.queryExecution.toRdd.mapPartitions { rows =>
      val accs = new java.util.HashMap[UTF8String, Acc]()
      while (rows.hasNext) {
        val r = rows.next()
        val t = r.getUTF8String(0)
        var acc = accs.get(t)
        if (acc == null) { acc = new Acc(cap); accs.put(t.clone(), acc) }
        acc.add(r.getLong(1))
      }
      Iterator.single(accs.asScala.map { case (t, acc) => t.toString -> acc.result }.toMap)
    }.treeAggregate(Map.empty[String, Partial])(mergeAll, mergeAll)
  }

  /** The radix-select core: quantiles at `fractionsOf(tag)` for every
    * tag of `tagged` (`__t` string, `__v` double; null and NaN rows
    * dropped), one entry per tag with rows. */
  private def select(tagged: DataFrame, fractionsOf: String => Seq[Double],
      cap: Long): Map[String, Seq[Double]] = {
    val keyed = tagged.na.drop("any", Seq("__t", "__v"))
      .select(col("__t"), orderKey(col("__v")).as("__k"))
    // (floor, ceil, weight) of each fraction's position among n keys
    def targets(tag: String, n: Long): Seq[(Long, Long, Double)] =
      fractionsOf(tag).map { p =>
        val pos = p * (n - 1)
        (math.floor(pos).toLong, math.ceil(pos).toLong, pos - math.floor(pos))
      }
    val folded = fold(keyed, cap)
    val sorted = folded.collect { case (tag, Keys(ks)) =>
      java.util.Arrays.sort(ks)
      tag -> targets(tag, ks.length).map { case (lo, hi, w) =>
        lerp(fromKey(ks(lo.toInt)), fromKey(ks(hi.toInt)), w) }
    }
    val top = folded.collect { case (tag, Counts(hist)) => tag -> hist }
    sorted ++ refine(keyed, top, targets, cap)
  }

  /** Steps 2 and 3 of the radix select for the tags whose top-level
    * histogram is `top`. */
  private def refine(keyed: DataFrame, top: Map[String, Array[(Long, Long)]],
      targetsOf: (String, Long) => Seq[(Long, Long, Double)],
      cap: Long): Map[String, Seq[Double]] = {
    def inBuckets(shift: Int, buckets: Seq[(String, Long)]): Column =
      struct(col("__t").as("t"), shiftright(col("__k"), shift).as("b"))
        .isin(buckets.map { case (t, b) => struct(lit(t).as("t"), lit(b).as("b")) }: _*)
    // (tag, parent bucket at shift + Digit) -> ascending (bucket, count)
    def histogram(shift: Int, parents: Seq[(String, Long)]): Map[(String, Long), Array[(Long, Long)]] =
      keyed.filter(inBuckets(shift + Digit, parents))
        .groupBy(col("__t"), shiftright(col("__k"), shift).as("__b")).count().collect()
        .groupBy(r => (r.getString(0), r.getLong(1) >> Digit))
        .map { case (p, rs) => p -> rs.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1) }
    def locate(tag: String, shift: Int, hist: Array[(Long, Long)], rank: Long): Probe = {
      var i = 0; var off = 0L
      while (off + hist(i)._2 <= rank) { off += hist(i)._2; i += 1 }
      Probe(tag, shift, hist(i)._1, rank - off, hist(i)._2)
    }

    val targets = top.map { case (tag, hist) => tag -> targetsOf(tag, hist.map(_._2).sum) }
    var probes = targets.toSeq.flatMap { case (tag, ts) =>
      ts.flatMap(t => Seq(t._1, t._2)).distinct.map(g =>
        (tag, g) -> locate(tag, TopShift, top(tag), g))
    }.toMap
    for (shift <- TopShift - Digit to 0 by -Digit) {
      val big = probes.filter(_._2.size > cap)
      if (big.nonEmpty) {
        val sub = histogram(shift, big.values.map(p => (p.tag, p.bucket)).toSeq.distinct)
        probes ++= big.map { case (g, p) => g -> locate(p.tag, shift, sub((p.tag, p.bucket)), p.rank) }
      }
    }

    // Wanted buckets are disjoint or equal, and each is fetched whole, so
    // a bucket's keys are one contiguous run of its tag's sorted keys.
    val fetch = probes.values.filter(_.shift > 0).toSeq
    val keys: Map[String, Array[Long]] = if (fetch.isEmpty) Map.empty else
      keyed.filter(fetch.groupBy(_.shift).map { case (s, ps) =>
          inBuckets(s, ps.map(p => (p.tag, p.bucket)).distinct) }.reduce(_ || _))
        .collect().groupBy(_.getString(0))
        .map { case (t, rs) => t -> rs.map(_.getLong(1)).sorted }
    def value(p: Probe): Double =
      if (p.shift == 0) fromKey(p.bucket)
      else {
        val ks = keys(p.tag)
        fromKey(ks(ks.indexWhere(_ >= (p.bucket << p.shift)) + p.rank.toInt))
      }
    targets.map { case (tag, ts) =>
      tag -> ts.map { case (lo, hi, w) =>
        lerp(value(probes((tag, lo))), value(probes((tag, hi))), w) }
    }
  }

  private def lerp(a: Double, b: Double, w: Double): Double =
    if (a == b) a
    else if (a.isInfinite || b.isInfinite) (1 - w) * a + w * b
    else a + (b - a) * w
}
