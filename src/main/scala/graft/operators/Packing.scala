package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for training-data preparation: documents in id
  * order are laid head-to-tail into fixed `capacity`-token context
  * windows, and each document is assigned the window (bin) its first
  * token lands in — the deterministic offset-cut packing policy
  * (reproducible under any partitioning, unlike best-fit heuristics
  * whose output depends on visit order).
  *
  * The global running token offset is the same primitive as a global
  * cumulative sum, which Spark's `Window.orderBy` would funnel into ONE
  * partition — the classic scale-killer. Instead this uses the two-pass
  * offset pattern (same shape as [[Quantiles]]):
  *
  *  1. range-partition by id (`repartitionByRange`) and pin the layout
  *     with an eager-on-first-use localCheckpoint, so both passes see
  *     identical partition bounds;
  *  2. one map-only pass collects per-partition token sums →
  *     cumulative partition offsets on the driver (O(partitions) rows);
  *  3. a per-partition window adds the local running sum to the
  *     partition's offset — every window group is one range partition,
  *     no single-partition funnel anywhere.
  */
object Packing {

  /** THE two-pass global-running-offset primitive (shared by
    * [[packSequences]] and
    * [[graft.operators.TextQuality.curriculumOrder]] — previously three
    * hand-rolled copies of this subtle pattern lived side by side):
    * `df` must carry a long `__w` weight column; `orderCols` define the
    * global order. Range-partition on the order key and pin the layout
    * (both passes must see identical partition bounds), collect
    * O(partitions) per-partition weight sums into cumulative offsets,
    * then add a partition-local running sum — the global cumulative sum
    * with no single-partition `Window.orderBy` funnel.
    *
    * Returns the input rows + `__off_total` = total weight strictly
    * BEFORE the row in the global order. */
  private[graft] def runningOffset(df: DataFrame,
      orderCols: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val pinned = df
      .repartitionByRange(parts, orderCols: _*)
      .localCheckpoint(false)
    // Pass 1: per-partition weight sums → cumulative offsets (driver,
    // O(partitions)). One map-only job over the pin, indexed by
    // partition id; null weights count 0, as `sum` skips them.
    val sums = pinned.select(col("__w")).queryExecution.toRdd
      .mapPartitions { rows =>
        var s = 0L
        while (rows.hasNext) { val r = rows.next(); if (!r.isNullAt(0)) s += r.getLong(0) }
        Iterator.single(s)
      }.collect()
    val offsets = sums.scanLeft(0L)(_ + _).init.toSeq
    // Pass 2: partition-local running sum + the partition's offset, read
    // by index from a literal array (O(1) per row, no lookup join).
    val w = Window.partitionBy("__pid").orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pinned.withColumn("__pid", spark_partition_id())
      .withColumn("__cum", sum("__w").over(w))
      .withColumn("__off_total",
        element_at(typedLit(offsets), col("__pid") + 1) + col("__cum") - col("__w"))
      .drop("__pid", "__cum")
  }

  /** Assign each row a `bin` (0-based context-window index) plus its
    * `tok_offset` (global tokens before it). `tokensCol` must be a
    * non-negative integral column; rows are packed in `idCol` order.
    */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
      capacity: Long): DataFrame = {
    require(capacity > 0, s"capacity must be positive: $capacity")
    val weighted = df
      .select(col(idCol), col(tokensCol).cast("long").as("__w"))
    runningOffset(weighted, Seq(col(idCol)))
      .withColumn("tok_offset", col("__off_total"))
      .withColumn("bin", floor(col("tok_offset") / capacity))
      .select(col(idCol), col("__w").as("n_tokens"), col("tok_offset"), col("bin"))
  }

  /** Training-shard manifest: documents in id order are cut into
    * fixed-token-budget shards (a doc belongs to the shard its first
    * token lands in — the same offset-cut policy as [[packSequences]],
    * so shard assignment is reproducible under any partitioning), and
    * the manifest row per shard records what a dataloader needs to
    * address it: document count, token count, and the id range.
    *
    * Scale shape: one packSequences pass (two-pass offsets, no global
    * window) + one shard-keyed aggregate over (shards) groups — output
    * is O(total_tokens / shardTokens) rows. Pair it with a
    * `partitionBy("shard_id")` parquet write for the physical layout.
    */
  def shardManifest(df: DataFrame, idCol: String, tokensCol: String,
      shardTokens: Long): DataFrame = {
    require(shardTokens > 0, s"shardTokens must be positive: $shardTokens")
    packSequences(df, idCol, tokensCol, shardTokens)
      .groupBy(col("bin").as("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        min(idCol).as("first_doc"),
        max(idCol).as("last_doc"))
  }

  /** Rendezvous (highest-random-weight) shard assignment (Thaler &
    * Ravishankar 1998): row → argmax over shards j of
    * md5(id ":" j), ties to the SMALLEST j. The consistent-hashing
    * property a snapshot-refreshed corpus wants from its physical
    * layout: growing `numShards` to n+1 moves only the rows whose new
    * argmax IS the new shard (≈ 1/(n+1) of them) and never relocates a
    * row between existing shards — unlike `id % n`, where almost every
    * row moves.
    *
    * Map-only: the candidate (hash, shard) array is built per row and
    * reduced with `array_max` (struct ordering; the shard component is
    * stored complemented so hash ties resolve to the smallest shard,
    * matching the SQL `ORDER BY h DESC, j` replay). O(numShards) md5s
    * per row — rendezvous hashing's price; fine for the physical-shard
    * counts (≤ thousands) it is meant for. */
  def rendezvousShard(df: DataFrame, idCol: String, numShards: Int,
      outCol: String = "shard"): DataFrame = {
    require(numShards > 0, s"numShards must be positive: $numShards")
    val cand = (0 until numShards).map { j =>
      struct(
        conv(substring(md5(concat(col(idCol).cast("string"), lit(s":$j"))), 1, 7),
          16, 10).cast("long").as("h"),
        lit(numShards - 1 - j).as("cj"))
    }
    df.withColumn(outCol,
      (lit(numShards - 1) - array_max(array(cand: _*)).getField("cj")))
  }
}
