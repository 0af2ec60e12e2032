package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed keys: the explicit fallback when AQE's
  * runtime skew splitting isn't available (e.g. a deliberately
  * partitioned pipeline stage, or a storage-partitioned join that AQE
  * won't touch).
  *
  * The skewed (large) side gets a deterministic salt derived from its
  * whole row, spreading one hot key across `saltFactor` shuffle
  * partitions; the small side is replicated `saltFactor`× via a
  * literal-array explode (no extra shuffle — replication happens in the
  * map stage). Join output is identical to the unsalted join.
  */
object SkewJoin {

  def saltedJoin(
      large: DataFrame,
      small: DataFrame,
      keys: Seq[String],
      saltFactor: Int = 8,
      joinType: String = "inner"): DataFrame = {
    val saltCol = "__graft_salt"
    // xxhash64 over all large-side columns: deterministic, and uniform
    // even when the join key itself is constant (the skew case).
    val salted = large.withColumn(saltCol,
      pmod(xxhash64(large.columns.map(col).toSeq: _*), lit(saltFactor)))
    val replicated = small.withColumn(saltCol,
      explode(array((0 until saltFactor).map(lit): _*)))
    salted.join(replicated, keys :+ saltCol, joinType).drop(saltCol)
  }

  /** The packed filter over `small`'s keys: one aggregation job, a
    * driver buffer of ~bits/8 bytes. Uses Spark's own (internal)
    * BloomFilterAggregate over xxhash64 — the exact machinery of the
    * planner's runtime bloom-filter join pruning, codegen'd end to
    * end (an earlier md5-position table form measured 3× slower on
    * the probe side). */
  def bloomFilterBytes(small: DataFrame, smallKey: String,
      expectedItems: Long, bits: Long): Array[Byte] = {
    graft.functions.GraftFunctions.register(small.sparkSession)
    small.agg(call_function("graft_bloom_agg",
        xxhash64(col(smallKey)), lit(expectedItems), lit(bits)).as("bf"))
      .head.getAs[Array[Byte]](0)
  }

  /** Membership-probe column for a packed filter from
    * [[bloomFilterBytes]]: the filter rides the plan as a binary
    * literal; NULL keys probe NULL (dropped by a filter — inner-join
    * semantics). */
  def bloomMightContain(filter: Array[Byte], key: Column): Column =
    call_function("graft_bloom_contains", lit(filter), xxhash64(key))

  /** Bloom-pruned equi-join: build a Bloom filter over the SMALL
    * side's join keys, filter the BIG side with a stateless codegen'd
    * membership probe BEFORE its shuffle, then join. Join output is
    * identical to the plain join (a Bloom filter has no false
    * negatives; false positives only let a few doomed rows through to
    * the join).
    *
    * This is the explicit form of Spark's runtime bloom-filter join
    * pruning, for when the planner can't inject it (non-obvious
    * selectivity, pre-partitioned stages): at 100 TB the win is that
    * the big side's shuffle carries only rows whose keys might match —
    * a selective small side turns a full-corpus exchange into a
    * trickle. Driver state is the packed filter (bits/8 bytes), the
    * same O(sketch) bound every sketch consumer pays. Both key columns
    * must share a type (xxhash64 hashes the binary representation).
    *
    * `joinType` must be inner or left_semi — types that tolerate
    * pruning non-matching left rows. */
  def bloomPrunedJoin(
      big: DataFrame,
      bigKey: String,
      small: DataFrame,
      smallKey: String,
      expectedItems: Long = 1L << 20,
      bits: Long = 1L << 23,
      joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left_semi", "leftsemi", "semi").contains(joinType),
      s"bloomPrunedJoin supports inner/left_semi, got $joinType")
    val bytes = bloomFilterBytes(small, smallKey, expectedItems, bits)
    // alias both sides so the predicate resolves even when bigKey and
    // smallKey share a name (the common natural-key case)
    val pruned = big.filter(bloomMightContain(bytes, col(bigKey))).as("__bp_b")
    pruned.join(small.as("__bp_s"),
      col(s"__bp_b.$bigKey") === col(s"__bp_s.$smallKey"), joinType)
  }

  /** Key-skew report — the measurement that decides whether a join on
    * `keyCol` needs salting ([[saltedJoin]]) or AQE's skew handling can
    * cope: one count aggregate over the key (vocabulary-sized), top
    * shares via TakeOrdered (no global window, audit-clean), everything
    * rejoined as broadcast one-row tables. Output: n_rows, n_keys,
    * top1_share, top10_share, avg_rows_per_key. */
  def skewReport(df: DataFrame, keyCol: String): DataFrame = {
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
}
