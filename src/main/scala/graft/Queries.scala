package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Operator-coverage query registry (SURVEY.md §2).
  *
  * Each entry is a Spark-first DataFrame program over the TESTDATA
  * tables plus a DuckDB oracle with identically-named output columns.
  * Registration happens via the small `register` helper so the two
  * maps cannot drift apart.
  */
object Queries {

  private val reg = scala.collection.mutable.LinkedHashMap
    .empty[String, (SparkSession, String) => DataFrame]
  private val ora = scala.collection.mutable.LinkedHashMap.empty[String, String]

  private def register(name: String, oracle: Option[String])(
      fn: (SparkSession, String) => DataFrame): Unit = {
    reg += name -> fn
    oracle.foreach(sql => ora += name -> sql)
  }
  private def q(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): Unit =
    register(name, Some(oracle))(fn)
  // ListMap preserves registration order: Verify/Bench iterate queries
  // deterministically (a plain toMap would randomize, landing JVM warm-up
  // on an arbitrary query each run).
  def all: Map[String, (SparkSession, String) => DataFrame] =
    scala.collection.immutable.ListMap(reg.toSeq: _*)
  def oracles: Map[String, String] =
    scala.collection.immutable.ListMap(ora.toSeq: _*)

  // ---------------------------------------------------------------
  // §2.1 + §2.4 + §2.7 — flagship: scan → filter → agg → sort
  // (TPC-H Q1 shape; reference lifecycle SURVEY §3.1/§3.3)
  // ---------------------------------------------------------------
  def q1_pricing_summary(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum("l_quantity").as("sum_qty"),
        sum("l_extendedprice").as("sum_base_price"),
        sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
        avg("l_quantity").as("avg_qty"),
        avg("l_extendedprice").as("avg_price"),
        avg("l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** DuckDB-side mirror of Tables.events's TIMESTAMP_NTZ → TIMESTAMP
    * cast under the UTC session: `make_timestamp(epoch_ns(ts)//1000)`
    * is an identity on the stored micros. */
  val EVENTS_SQL: String =
    "(SELECT event_id, make_timestamp(epoch_ns(ts)//1000) AS ts, " +
      "user_id, event_type, value, props FROM events) AS events"

  q("q1_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity) AS sum_qty,
      |  sum(l_extendedprice) AS sum_base_price,
      |  sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
      |  sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
      |  avg(l_quantity) AS avg_qty,
      |  avg(l_extendedprice) AS avg_price,
      |  avg(l_discount) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin)(q1_pricing_summary _)

  // ---------------------------------------------------------------
  // §2.2 Projections / filters / row ops
  // ---------------------------------------------------------------

  // Projection + Filter (reference _expr.py:2048 Projection, :1996 Filter);
  // both reach the parquet scan via Catalyst pushdown.
  q("q_projection_filter",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_quantity > 45 AND l_discount < 0.02
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_quantity") > 45 && col("l_discount") < 0.02)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")
  }

  // Assign / elemwise binops (reference _expr.py:1852 Assign, :2614 Binop).
  q("q_assign_arithmetic",
    """SELECT l_orderkey, l_linenumber,
      |  l_extendedprice * (1 - l_discount) AS disc_price,
      |  l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
      |  l_quantity + l_linenumber AS qty_plus,
      |  l_extendedprice / l_quantity AS unit_price,
      |  l_orderkey % 7 AS key_mod,
      |  CAST(floor(l_quantity / 5) AS BIGINT) AS qty_div5,
      |  power(l_discount, 2) AS disc_sq,
      |  -l_tax AS neg_tax
      |FROM lineitem
      |WHERE l_orderkey < 2000
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") < 2000)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("disc_price"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("charge"),
        (col("l_quantity") + col("l_linenumber")).as("qty_plus"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price"),
        (col("l_orderkey") % 7).as("key_mod"),
        floor(col("l_quantity") / 5).as("qty_div5"),   // Spark floor → LongType; oracle casts to BIGINT to match

        pow(col("l_discount"), 2).as("disc_sq"),
        (-col("l_tax")).as("neg_tax"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // CaseWhen (reference _expr.py:1966) + comparison ops.
  q("q_case_when",
    """SELECT CASE WHEN l_quantity < 10 THEN 'low'
      |            WHEN l_quantity < 30 THEN 'mid'
      |            ELSE 'high' END AS qty_bucket,
      |  count(*) AS n, sum(l_extendedprice) AS total
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .withColumn("qty_bucket",
        when(col("l_quantity") < 10, "low")
          .when(col("l_quantity") < 30, "mid")
          .otherwise("high"))
      .groupBy("qty_bucket")
      .agg(count(lit(1)).as("n"), sum("l_extendedprice").as("total"))
      .orderBy("qty_bucket")
  }

  // Isin (reference _expr.py:1364) + Between (:1401).
  q("q_isin_between",
    """SELECT l_returnflag, count(*) AS n
      |FROM lineitem
      |WHERE l_returnflag IN ('R', 'A')
      |  AND l_quantity BETWEEN 10 AND 20
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_returnflag").isin("R", "A") &&
        col("l_quantity").between(10, 20))
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  // Null ops: IsNa/NotNull/Fillna/DropNa/Replace (reference _expr.py:1534,
  // 1619, 1349, 1108, 1356). The test tables have no NULLs, so nulls are
  // synthesized identically on both sides with nullif().
  q("q_null_ops",
    """WITH t AS (
      |  SELECT event_id, nullif(value, 0.0) AS v,
      |         nullif(event_type, 'error') AS et
      |  FROM events)
      |SELECT count(*) AS n_rows,
      |  count(v) AS n_notnull,
      |  count(*) - count(v) AS n_null,
      |  sum(coalesce(v, -1.0)) AS filled_sum,
      |  count(et) AS et_notnull
      |FROM t""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .select(
        nullif(col("value"), lit(0.0)).as("v"),
        nullif(col("event_type"), lit("error")).as("et"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("v")).as("n_notnull"),
        (count(lit(1)) - count(col("v"))).as("n_null"),
        sum(coalesce(col("v"), lit(-1.0))).as("filled_sum"),
        count(col("et")).as("et_notnull"))
  }

  // DropnaFrame (reference _expr.py:1108): df.na.drop over synthesized nulls.
  q("q_dropna",
    """SELECT event_id, value FROM (
      |  SELECT event_id, nullif(value, 0.0) AS value FROM events)
      |WHERE value IS NOT NULL
      |ORDER BY event_id LIMIT 2000""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .select(col("event_id"), nullif(col("value"), lit(0.0)).as("value"))
      .na.drop("any", Seq("value"))
      .orderBy("event_id").limit(2000)
  }

  // Clip (reference _expr.py:1381) + Where/Mask (:1553,1540).
  q("q_clip_where_mask",
    """SELECT l_orderkey, l_linenumber,
      |  least(greatest(l_quantity, 5.0), 45.0) AS qty_clipped,
      |  CASE WHEN l_discount > 0.05 THEN l_discount ELSE 0.0 END AS big_disc,
      |  CASE WHEN l_tax > 0.04 THEN NULL ELSE l_tax END AS masked_tax
      |FROM lineitem WHERE l_orderkey < 1500
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir).filter(col("l_orderkey") < 1500)
      .select(col("l_orderkey"), col("l_linenumber"),
        least(greatest(col("l_quantity"), lit(5.0)), lit(45.0)).as("qty_clipped"),
        when(col("l_discount") > 0.05, col("l_discount")).otherwise(lit(0.0)).as("big_disc"),
        when(col("l_tax") > 0.04, lit(null)).otherwise(col("l_tax")).as("masked_tax"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // AsType casts (reference _expr.py:1485). DuckDB CAST(double AS INT)
  // rounds while Spark truncates, so the double→int path goes through
  // floor() on both sides.
  q("q_astype_cast",
    """SELECT l_orderkey,
      |  CAST(floor(l_quantity) AS INTEGER) AS qty_int,
      |  CAST(l_linenumber AS DOUBLE) AS line_dbl,
      |  CAST(l_orderkey AS VARCHAR) AS okey_str,
      |  CAST(l_shipdate AS DATE) AS ship_day
      |FROM lineitem WHERE l_orderkey < 1000
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir).filter(col("l_orderkey") < 1000)
      .orderBy("l_orderkey", "l_linenumber")
      .select(col("l_orderkey"),
        floor(col("l_quantity")).cast("int").as("qty_int"),
        col("l_linenumber").cast("double").as("line_dbl"),
        col("l_orderkey").cast("string").as("okey_str"),
        col("l_shipdate").cast("date").as("ship_day"))
  }

  // Scalar math: Abs/Sqrt/Round + ufuncs (reference _expr.py:1547,1598,1804;
  // ufunc surface _collection.py:6383).
  q("q_scalar_math",
    """SELECT event_id,
      |  abs(value - 10.0) AS abs_dev,
      |  sqrt(value) AS sqrt_v,
      |  round(exp(value / 100.0), 9) AS exp_v,
      |  round(ln(value + 1.0), 9) AS log_v,
      |  CAST(floor(value) AS BIGINT) AS floor_v,
      |  CAST(ceil(value) AS BIGINT) AS ceil_v,
      |  CAST(sign(value - 10.0) AS DOUBLE) AS sign_v
      |FROM events WHERE user_id < 10
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    Tables.events(s, dir).filter(col("user_id") < 10)
      .select(col("event_id"),
        abs(col("value") - 10.0).as("abs_dev"),
        sqrt(col("value")).as("sqrt_v"),
        // JVM and libm transcendentals differ in the last ulp; round to 9
        // digits on both sides so the cross-engine hash is stable.
        round(exp(col("value") / 100.0), 9).as("exp_v"),
        round(log(col("value") + 1.0), 9).as("log_v"),
        floor(col("value")).as("floor_v"),
        ceil(col("value")).as("ceil_v"),
        signum(col("value") - 10.0).as("sign_v"))
      .orderBy("event_id")
  }

  // Rename / Drop (reference _expr.py:1239 RenameFrame, :1822 Drop).
  q("q_rename_drop",
    """SELECT o_orderkey AS order_id, o_totalprice AS total, o_orderstatus AS status
      |FROM orders WHERE o_orderkey < 3000
      |ORDER BY order_id""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir).filter(col("o_orderkey") < 3000)
      .withColumnRenamed("o_orderkey", "order_id")
      .withColumnRenamed("o_totalprice", "total")
      .withColumnRenamed("o_orderstatus", "status")
      .drop("o_custkey", "o_orderdate", "o_orderpriority")
      .orderBy("order_id")
  }

  // ExplodeSeries (reference _expr.py:1809): split text, explode, count.
  q("q_explode_words",
    """SELECT word, count(*) AS cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |WHERE word <> ''
      |GROUP BY word ORDER BY cnt DESC, word LIMIT 100""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(100)
  }

  // ---------------------------------------------------------------
  // §2.9 String accessor surface
  // ---------------------------------------------------------------

  q("q_str_basic",
    """SELECT p_partkey,
      |  upper(p_name) AS up,
      |  lower(p_brand) AS lo,
      |  length(p_name) AS len,
      |  substr(p_name, 1, 8) AS pre,
      |  lpad(p_brand, 12, '_') AS padded,
      |  trim(lpad(p_brand, 12, ' ')) AS trimmed,
      |  contains(p_name, 'a') AS has_a,
      |  starts_with(p_type, 'STANDARD') AS std,
      |  p_name || '/' || p_brand AS joined,
      |  replace(p_type, ' ', '-') AS dashed,
      |  reverse(p_brand) AS rev,
      |  repeat(p_brand, 2) AS rep
      |FROM part WHERE p_partkey < 2000
      |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
    Tables.part(s, dir).filter(col("p_partkey") < 2000)
      .select(col("p_partkey"),
        upper(col("p_name")).as("up"),
        lower(col("p_brand")).as("lo"),
        length(col("p_name")).as("len"),
        substring(col("p_name"), 1, 8).as("pre"),
        lpad(col("p_brand"), 12, "_").as("padded"),
        trim(lpad(col("p_brand"), 12, " ")).as("trimmed"),
        col("p_name").contains("a").as("has_a"),
        col("p_type").startsWith("STANDARD").as("std"),
        concat(col("p_name"), lit("/"), col("p_brand")).as("joined"),
        regexp_replace(col("p_type"), " ", "-").as("dashed"),
        reverse(col("p_brand")).as("rev"),
        repeat(col("p_brand"), 2).as("rep"))
      .orderBy("p_partkey")
  }

  // Regex family: extract / replace / match (reference _str_accessor.py).
  q("q_str_regex",
    """SELECT p_partkey,
      |  regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
      |  regexp_replace(p_name, '[aeiou]', '*', 'g') AS devoweled,
      |  regexp_matches(p_type, '^STANDARD|^SMALL') AS is_std_small
      |FROM part WHERE p_partkey < 2000
      |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
    Tables.part(s, dir).filter(col("p_partkey") < 2000)
      .select(col("p_partkey"),
        regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"),
        regexp_replace(col("p_name"), "[aeiou]", "*").as("devoweled"),
        col("p_type").rlike("^STANDARD|^SMALL").as("is_std_small"))
      .orderBy("p_partkey")
  }

  // split + element access (reference str.split / SplitMap).
  q("q_str_split",
    """SELECT p_partkey,
      |  split_part(p_type, ' ', 1) AS type_head,
      |  split_part(p_type, ' ', -1) AS type_tail,
      |  len(string_split(p_name, ' ')) AS n_words
      |FROM part WHERE p_partkey < 2000
      |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
    Tables.part(s, dir).filter(col("p_partkey") < 2000)
      .select(col("p_partkey"),
        element_at(split(col("p_type"), " "), 1).as("type_head"),
        element_at(split(col("p_type"), " "), -1).as("type_tail"),
        size(split(col("p_name"), " ")).as("n_words"))
      .orderBy("p_partkey")
  }

  // ---------------------------------------------------------------
  // §2.9 Datetime accessor surface
  // ---------------------------------------------------------------

  q("q_dt_parts",
    """SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
      |  count(*) AS n,
      |  min(dayofmonth(o_orderdate)) AS min_day,
      |  max(quarter(o_orderdate)) AS max_q,
      |  min(dayofyear(o_orderdate)) AS min_doy,
      |  max(isodow(o_orderdate)) AS max_wd
      |FROM orders
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n"),
        min(dayofmonth(col("o_orderdate"))).as("min_day"),
        max(quarter(col("o_orderdate"))).as("max_q"),
        min(dayofyear(col("o_orderdate"))).as("min_doy"),
        max(weekday(col("o_orderdate")) + 1).as("max_wd"))
      .orderBy("y", "m")
  }

  q("q_dt_trunc_format",
    """SELECT date_trunc('month', o_orderdate) AS month_start,
      |  strftime(min(o_orderdate), '%Y-%m-%d') AS first_day,
      |  count(*) AS n
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month_start"))
      .agg(date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("first_day"),
        count(lit(1)).as("n"))
      .orderBy("month_start")
  }

  q("q_dt_arith",
    """SELECT o_orderkey,
      |  o_orderdate + INTERVAL 3 DAY AS plus3,
      |  date_diff('day', o_orderdate, TIMESTAMP '1996-01-01') AS days_to_96,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(dayofmonth(o_orderdate) = 1 AS BOOLEAN) AS is_month_start
      |FROM orders WHERE o_orderkey < 2000
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir).filter(col("o_orderkey") < 2000)
      .select(col("o_orderkey"),
        (col("o_orderdate") + expr("INTERVAL 3 DAYS")).as("plus3"),
        datediff(lit("1996-01-01").cast("timestamp"), col("o_orderdate")).as("days_to_96"),
        last_day(col("o_orderdate")).as("month_end"),
        (dayofmonth(col("o_orderdate")) === 1).as("is_month_start"))
      .orderBy("o_orderkey")
  }

  // ---------------------------------------------------------------
  // §2.4 Reductions
  // ---------------------------------------------------------------

  // Standard frame reductions (reference _reductions.py:897-1070).
  // Spark skewness/kurtosis are population moments; the oracle spells
  // out the same formulas so both engines compute identical statistics.
  q("q_reductions",
    """WITH s AS (SELECT avg(l_quantity) AS mu, stddev_pop(l_quantity) AS sp,
      |                  count(*) AS n FROM lineitem)
      |SELECT sum(l_quantity) AS sum_qty,
      |  min(l_quantity) AS min_qty,
      |  max(l_quantity) AS max_qty,
      |  avg(l_quantity) AS avg_qty,
      |  count(*) AS n_rows,
      |  count(l_quantity) AS n_qty,
      |  var_samp(l_quantity) AS var_qty,
      |  stddev_samp(l_quantity) AS std_qty,
      |  sum(l_quantity * l_quantity) AS sumsq,
      |  (sum(pow(l_quantity - mu, 3)) / any_value(n)) / pow(any_value(sp), 3) AS skew_qty,
      |  (sum(pow(l_quantity - mu, 4)) / any_value(n)) / pow(any_value(sp), 4) - 3 AS kurt_qty
      |FROM lineitem, s GROUP BY ALL""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .agg(sum("l_quantity").as("sum_qty"),
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty"),
        avg("l_quantity").as("avg_qty"),
        count(lit(1)).as("n_rows"),
        count(col("l_quantity")).as("n_qty"),
        var_samp(col("l_quantity")).as("var_qty"),
        stddev_samp(col("l_quantity")).as("std_qty"),
        sum(col("l_quantity") * col("l_quantity")).as("sumsq"),
        skewness(col("l_quantity")).as("skew_qty"),
        kurtosis(col("l_quantity")).as("kurt_qty"))
  }

  // Any/All → bool_or/bool_and; count_if; sum(DISTINCT).
  q("q_bool_aggs",
    """SELECT bool_or(l_quantity > 49) AS any_big,
      |  bool_and(l_quantity > 0) AS all_pos,
      |  CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_big_disc,
      |  CAST(sum(DISTINCT l_linenumber) AS BIGINT) AS sum_distinct_line
      |FROM lineitem""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .agg(bool_or(col("l_quantity") > 49).as("any_big"),
        bool_and(col("l_quantity") > 0).as("all_pos"),
        count_if(col("l_discount") > 0.05).as("n_big_disc"),
        sum_distinct(col("l_linenumber")).as("sum_distinct_line"))
  }

  // IdxMin/IdxMax → min_by/max_by (reference _reductions.py:980-1008);
  // Mode (ties impossible on o_orderstatus at these SFs). The ordering
  // key is price*1e9 ± key, so a duplicated extreme price resolves to
  // the smallest key in BOTH engines (bare min_by(key, price) is
  // engine-nondeterministic under ties; o_totalprice has 257 duplicate
  // values at sf0.1). The composite stays exact: price*1e9 ≤ 6e14 with
  // 0.01-price granularity = 1e7 per step > max key 6e6, all < 2^53.
  q("q_idx_mode",
    """SELECT min_by(o_orderkey, o_totalprice * 1000000000 + o_orderkey) AS cheapest_order,
      |  max_by(o_orderkey, o_totalprice * 1000000000 - o_orderkey) AS priciest_order,
      |  mode(o_orderstatus) AS common_status
      |FROM orders""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .agg(
        min_by(col("o_orderkey"),
          col("o_totalprice") * 1000000000L + col("o_orderkey")).as("cheapest_order"),
        max_by(col("o_orderkey"),
          col("o_totalprice") * 1000000000L - col("o_orderkey")).as("priciest_order"),
        mode(col("o_orderstatus")).as("common_status"))
  }

  // NuniqueApprox → HyperLogLog (reference _reductions.py:1295). Sketch
  // estimates are engine-specific, so the gateable contract is a bounds
  // check: the HLL estimate (rsd=0.02) must land within 10% of the exact
  // count, which the oracle asserts as constant-true booleans.
  q("q_nunique_approx",
    "SELECT true AS ok_parts, true AS ok_orders") { (s, dir) =>
    // Exact counts run as separate single-distinct aggregates: mixing
    // two countDistinct columns in one agg triggers an Expand (data
    // duplicated per distinct group) — the sketches stay one pass.
    val li = Tables.lineitem(s, dir)
    val approx = li
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"))
    val exactParts = li.agg(countDistinct(col("l_partkey")).as("exact_parts"))
    val exactOrders = li.agg(countDistinct(col("l_orderkey")).as("exact_orders"))
    approx.crossJoin(exactParts).crossJoin(exactOrders)
      .select(
        (abs(col("approx_parts") - col("exact_parts")) <=
          col("exact_parts") * 0.1).as("ok_parts"),
        (abs(col("approx_orders") - col("exact_orders")) <=
          col("exact_orders") * 0.1).as("ok_orders"))
  }

  // Approximate quantiles (reference _quantile.py:76 t-digest; Spark's
  // sketch is Greenwald-Khanna — SURVEY §7.2 accepted deviation). Like
  // the HLL gate: the estimate must land within the sketch's accuracy
  // band of the exact quantile, asserted as constant-true booleans.
  // The exact side comes from the distributed Quantiles operator, not
  // the unbounded-buffer `percentile` aggregate.
  q("q_quantile_approx",
    "SELECT true AS ok_p50, true AS ok_p90") { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    val exact = operators.Quantiles.exactQuantiles(li, "l_extendedprice", Seq(0.5, 0.9))
    li.agg(
        expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("a50"),
        expr("approx_percentile(l_extendedprice, 0.9, 1000)").as("a90"))
      .select(
        (abs(col("a50") - exact(0)) <= exact(0) * 0.05).as("ok_p50"),
        (abs(col("a90") - exact(1)) <= exact(1) * 0.05).as("ok_p90"))
  }

  // t-digest (reference _quantile.py:76 SeriesQuantileTdigest): the
  // MERGEABLE quantile sketch as a native TypedImperativeAggregate
  // (graft.functions.TDigestQuantile) — centroid buffers merge
  // map-side like any partial agg. Gated like q_quantile_approx:
  // global and per-group t-digest estimates must land within 5% of the
  // GK sketch (itself 0.1%-rank-accurate at accuracy 1000) — one
  // single-pass aggregation, no extra exact-quantile jobs; the
  // differential against TRUE exact quantiles lives in TDigestSpec.
  q("q_tdigest_quantile",
    "SELECT true AS ok_p50, true AS ok_p99, true AS ok_grouped") { (s, dir) =>
    functions.GraftFunctions.register(s)
    val li = Tables.lineitem(s, dir)
    val grouped = li.groupBy("l_returnflag")
      .agg(expr("tdigest_quantile(l_extendedprice, 0.5)").as("t50"),
        expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("e50"))
      .agg(expr("bool_and(abs(t50 - e50) <= e50 * 0.05)").as("ok_grouped"))
    li.agg(
        expr("tdigest_quantile(l_extendedprice, 0.5)").as("t50"),
        expr("tdigest_quantile(l_extendedprice, 0.99)").as("t99"),
        expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("e50"),
        expr("approx_percentile(l_extendedprice, 0.99, 1000)").as("e99"))
      .crossJoin(grouped)
      .select(
        (abs(col("t50") - col("e50")) <= col("e50") * 0.05).as("ok_p50"),
        (abs(col("t99") - col("e99")) <= col("e99") * 0.05).as("ok_p99"),
        col("ok_grouped"))
  }

  // Mergeable HLL sketches (Apache DataSketches via Spark's
  // hll_sketch_agg/hll_union_agg): per-group sketches estimate each
  // group's distinct count, and the SAME sketches re-merge into the
  // global estimate WITHOUT rescanning — the mergeable-summary pattern
  // that makes distinct counts tractable at 100 TB (partial aggregation
  // map-side, sketch-sized shuffle rows, re-aggregation at any
  // granularity). Gated like q_nunique_approx: estimates must land
  // within 5% of exact.
  q("q_hll_sketch",
    "SELECT true AS ok_groups, true AS ok_merged") { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    // sketch and exact distinct in SEPARATE aggregations joined on the
    // handful of group rows: fusing them puts the sketch agg behind
    // countDistinct's Expand (2× input rows through an
    // ObjectHashAggregate), measured ~2× slower than the two plain
    // scans together
    val perGroup = li.groupBy("l_returnflag")
      .agg(expr("hll_sketch_agg(l_partkey, 14)").as("sk"))
      .join(li.groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("exact")), "l_returnflag")
    // per-group gate and union-merge in ONE aggregation over the
    // three sketch rows, so the sketch scan subtree is referenced (and
    // so computed) exactly once
    val gated = perGroup
      .select((abs(expr("hll_sketch_estimate(sk)") - col("exact")) <=
        col("exact") * 0.05).as("ok"), col("sk"))
      .agg(min("ok").as("ok_groups"),
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_all"))
    val exactAll = li.agg(countDistinct(col("l_partkey")).as("exact_all"))
    gated.crossJoin(exactAll)
      .select(col("ok_groups"),
        (abs(col("est_all") - col("exact_all")) <=
          col("exact_all") * 0.05).as("ok_merged"))
  }

  // Unique / NUnique exact (reference _reductions.py:565, _groupby nunique).
  q("q_nunique_exact",
    """SELECT count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps,
      |  count(DISTINCT l_returnflag) AS n_flags
      |FROM lineitem""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_returnflag")).as("n_flags"))
  }

  // ValueCounts + normalize (reference _reductions.py:1394).
  q("q_value_counts",
    """SELECT o_orderpriority AS value, count(*) AS cnt,
      |  count(*) / (SELECT count(*) FROM orders) AS proportion
      |FROM orders GROUP BY 1 ORDER BY cnt DESC, value""".stripMargin) { (s, dir) =>
    // normalize= stays in-plan: the grand total is a broadcast one-row
    // aggregate, not a global window (which would funnel every distinct
    // value through a single partition at scale).
    val orders = Tables.orders(s, dir)
    orders
      .groupBy(col("o_orderpriority").as("value"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(orders.agg(count(lit(1)).cast("double").as("__tot"))))
      .withColumn("proportion", col("cnt") / col("__tot"))
      .drop("__tot")
      .orderBy(col("cnt").desc, col("value"))
  }

  // DropDuplicates distinct-rows (reference _reductions.py:599).
  q("q_drop_duplicates",
    """SELECT DISTINCT l_returnflag, l_linestatus, l_linenumber
      |FROM lineitem ORDER BY 1, 2, 3""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .select("l_returnflag", "l_linestatus", "l_linenumber")
      .dropDuplicates()
      .orderBy("l_returnflag", "l_linestatus", "l_linenumber")
  }

  // keep="last" dedup via descending row_number window (SURVEY §2.4).
  q("q_dedup_keep_last",
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders) WHERE rn = 1
      |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey")
  }

  // NLargest top-k (reference _reductions.py:1341) — Catalyst rewrites
  // ORDER BY + LIMIT to TakeOrderedAndProject (no full sort at scale).
  q("q_topk",
    """SELECT l_orderkey, l_linenumber, l_extendedprice
      |FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      |LIMIT 50""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(50)
  }

  // PivotTable (reference _reductions.py:655): explicit pivot values keep
  // the output schema static (no extra distinct pass at scale).
  q("q_pivot",
    """SELECT year(o_orderdate) AS y,
      |  sum(o_totalprice) FILTER (o_orderstatus = 'F') AS "F",
      |  sum(o_totalprice) FILTER (o_orderstatus = 'O') AS "O",
      |  sum(o_totalprice) FILTER (o_orderstatus = 'P') AS "P"
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .groupBy(year(col("o_orderdate")).as("y"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum("o_totalprice"))
      .orderBy("y")
  }

  // Exact quantiles via the distributed Quantiles operator (reference
  // _quantile.py:14). Spark's own `percentile`/`median` buffers the
  // whole column in one aggregate — the scale-killer this replaces.
  q("q_quantiles",
    """SELECT quantile_cont(l_quantity, 0.25) AS p25,
      |  quantile_cont(l_quantity, 0.5) AS p50,
      |  quantile_cont(l_quantity, 0.75) AS p75,
      |  median(l_extendedprice) AS med_price
      |FROM lineitem""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    // both columns ride one range-partition pipeline (one shuffle, one
    // count, one probe — not two of each)
    val m = operators.Quantiles.exactQuantilesMulti(li, Seq(
      "l_quantity" -> Seq(0.25, 0.5, 0.75), "l_extendedprice" -> Seq(0.5)))
    val qs = m("l_quantity")
    li.sparkSession.range(1).select(
      lit(qs(0)).as("p25"), lit(qs(1)).as("p50"), lit(qs(2)).as("p75"),
      lit(m("l_extendedprice").head).as("med_price"))
  }

  // Describe (reference _describe.py:16) — composed aggs, one row per stat
  // kept as typed columns.
  q("q_describe",
    """SELECT count(value) AS cnt, avg(value) AS mean,
      |  stddev_samp(value) AS std, min(value) AS min_v,
      |  quantile_cont(value, 0.5) AS p50, max(value) AS max_v
      |FROM events""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val med = operators.Quantiles.exactMedian(ev, "value")
    ev.agg(count(col("value")).as("cnt"), avg("value").as("mean"),
        stddev_samp(col("value")).as("std"), min("value").as("min_v"),
        lit(med).as("p50"), max("value").as("max_v"))
  }

  // Cov/Corr (reference _reductions.py:1009) + autocorr-style pairing.
  q("q_corr_cov",
    """SELECT corr(l_quantity, l_extendedprice) AS c_qty_price,
      |  covar_samp(l_quantity, l_extendedprice) AS cov_s,
      |  covar_pop(l_quantity, l_extendedprice) AS cov_p
      |FROM lineitem""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("c_qty_price"),
        covar_samp(col("l_quantity"), col("l_extendedprice")).as("cov_s"),
        covar_pop(col("l_quantity"), col("l_extendedprice")).as("cov_p"))
  }

  // Full correlation matrix (reference DataFrame.corr returns the
  // matrix, not one pair): ALL pairwise corrs in ONE aggregate pass
  // (partial+final HashAggregate — the corpus is scanned once however
  // many pairs there are), unpivoted to tidy (col_a, col_b, corr) rows.
  // Diagonal excluded: it is 1 by definition, and replaying corr(x,x)'s
  // last-ulp float behavior buys nothing.
  private val corrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val corrPairs =
    for { i <- corrCols.indices; j <- i + 1 until corrCols.length }
      yield (corrCols(i), corrCols(j))
  q("q_corr_matrix",
    corrPairs.map { case (a, b) =>
      s"SELECT '$a' AS col_a, '$b' AS col_b, corr($a, $b) AS corr FROM lineitem"
    }.mkString("", " UNION ALL ", " ORDER BY col_a, col_b")) { (s, dir) =>
    // single implementation lives on the facade (api/Frame.corrMatrix);
    // this registry entry pins it under the DuckDB hash gate directly
    graft.api.Frame(Tables.lineitem(s, dir))
      .corrMatrix(corrCols: _*)
      .toDF.orderBy("col_a", "col_b")
  }

  // ---------------------------------------------------------------
  // §2.5 Group-by
  // ---------------------------------------------------------------

  // Multi-agg dict spec (reference _groupby.py:331 GroupbyAggregation):
  // decomposable aggs lower to partial+final HashAggregate in Spark.
  q("q_groupby_multi",
    """SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity) AS sum_qty,
      |  avg(l_extendedprice) AS avg_price,
      |  min(l_discount) AS min_disc,
      |  max(l_discount) AS max_disc,
      |  count(*) AS n,
      |  count(DISTINCT l_orderkey) AS n_orders,
      |  var_samp(l_quantity) AS var_qty,
      |  stddev_samp(l_tax) AS std_tax
      |FROM lineitem
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    // The distinct count runs as its own aggregate joined back on the
    // group keys: mixing countDistinct with plain aggs makes Spark
    // Expand-duplicate every input row, which at 100 TB doubles the
    // aggregation input for no reason.
    val li = Tables.lineitem(s, dir)
    val plain = li.groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"),
        avg("l_extendedprice").as("avg_price"),
        min("l_discount").as("min_disc"),
        max("l_discount").as("max_disc"),
        count(lit(1)).as("n"),
        var_samp(col("l_quantity")).as("var_qty"),
        stddev_samp(col("l_tax")).as("std_tax"))
    val distincts = li.groupBy("l_returnflag", "l_linestatus")
      .agg(countDistinct(col("l_orderkey")).as("n_orders"))
    plain.join(distincts, Seq("l_returnflag", "l_linestatus"))
      .select("l_returnflag", "l_linestatus", "sum_qty", "avg_price",
        "min_disc", "max_disc", "n", "n_orders", "var_qty", "std_tax")
      .orderBy("l_returnflag", "l_linestatus")
  }

  // Holistic grouped median + exact percentile
  // (reference _groupby.py:1066 HolisticGroupbyAggregation — in Spark this
  // is just a sort-based aggregate, no full-group shuffle machinery).
  q("q_groupby_median",
    """SELECT o_orderstatus,
      |  median(o_totalprice) AS med_price,
      |  quantile_cont(o_totalprice, 0.9) AS p90
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .groupBy("o_orderstatus")
      .agg(median(col("o_totalprice")).as("med_price"),
        expr("percentile(o_totalprice, 0.9)").as("p90"))
      .orderBy("o_orderstatus")
  }

  // Grouped idxmin/idxmax + deterministic first/last (by explicit order)
  // (reference _groupby.py:561-677 First/Last/IdxMin/IdxMax).
  // idxmin/idxmax tie-break on the smallest id: a bare min_by(id, value)
  // is engine-nondeterministic when the extreme value is duplicated
  // (bit at sf0.1 — caught by the cross-scale oracle diff), so both
  // engines take min(id) over the rows achieving the group extreme.
  // first/last keep min_by/max_by on the UNIQUE event_id key, which is
  // deterministic by construction.
  q("q_groupby_firstlast",
    """WITH m AS (SELECT event_type, min(value) AS mn, max(value) AS mx
      |           FROM events GROUP BY 1)
      |SELECT e.event_type,
      |  min(CASE WHEN e.value = m.mn THEN e.event_id END) AS idxmin_ev,
      |  min(CASE WHEN e.value = m.mx THEN e.event_id END) AS idxmax_ev,
      |  min_by(e.value, e.event_id) AS first_value,
      |  max_by(e.value, e.event_id) AS last_value
      |FROM events e JOIN m ON e.event_type = m.event_type
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val m = ev.groupBy("event_type")
      .agg(min("value").as("mn"), max("value").as("mx"))
    ev.join(broadcast(m), "event_type")
      .groupBy("event_type")
      .agg(min(when(col("value") === col("mn"), col("event_id"))).as("idxmin_ev"),
        min(when(col("value") === col("mx"), col("event_id"))).as("idxmax_ev"),
        min_by(col("value"), col("event_id")).as("first_value"),
        max_by(col("value"), col("event_id")).as("last_value"))
      .orderBy("event_type")
  }

  // Grouped nunique + unique-set (reference _groupby.py:832 NUnique,
  // :561 Unique → collect_set; sorted for determinism).
  q("q_groupby_unique",
    """SELECT event_type,
      |  count(DISTINCT user_id) AS n_users,
      |  array_to_string(list_sort(list(DISTINCT user_id % 5)), ',') AS user_mods
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    // The unique set is emitted as a comma-joined string: the driver's
    // comparator cannot hash array-typed cells.
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
        array_join(transform(sort_array(collect_set(col("user_id") % 5)),
          _.cast("string")), ",").as("user_mods"))
      .orderBy("event_type")
  }

  // Grouped cov/corr (reference _groupby.py:645-677).
  q("q_groupby_corr",
    """SELECT l_returnflag,
      |  corr(l_quantity, l_extendedprice) AS c,
      |  covar_samp(l_discount, l_tax) AS cv
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("c"),
        covar_samp(col("l_discount"), col("l_tax")).as("cv"))
      .orderBy("l_returnflag")
  }

  // Head-per-group (reference _groupby.py:858): row_number window.
  q("q_group_head",
    """SELECT o_custkey, o_orderkey, o_orderdate FROM (
      |  SELECT o_custkey, o_orderkey, o_orderdate,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_orderdate, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 2
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select("o_custkey", "o_orderkey", "o_orderdate")
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  // Two-level grouped value_counts (reference SeriesGroupBy.value_counts).
  q("q_groupby_value_counts",
    """SELECT event_type, user_id % 10 AS user_bucket, count(*) AS cnt
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("event_type"), (col("user_id") % 10).as("user_bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("event_type", "user_bucket")
  }

  // Superset: cube/rollup/grouping sets (SURVEY §2.5 — absent in the
  // reference, free in Spark; declared as engine capability).
  q("q_rollup",
    """SELECT coalesce(l_returnflag, 'ALL') AS flag,
      |  coalesce(l_linestatus, 'ALL') AS status,
      |  sum(l_quantity) AS sum_qty, count(*) AS n
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("sum_qty"), col("n"))
      .orderBy("flag", "status")
  }

  // ---------------------------------------------------------------
  // §2.3 Joins
  // ---------------------------------------------------------------

  // Inner equi-join (reference _merge.py:50 Merge); Catalyst pushes the
  // filter below the join and picks the physical strategy.
  q("q_join_inner",
    """SELECT o_orderkey, o_totalprice, l_linenumber, l_extendedprice
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey < 1500
      |ORDER BY o_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir).filter(col("o_orderkey") < 1500)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select("o_orderkey", "o_totalprice", "l_linenumber", "l_extendedprice")
      .orderBy("o_orderkey", "l_linenumber")
  }

  // Left outer join preserving unmatched rows (how="left").
  q("q_join_left",
    """SELECT o_orderkey, o_orderstatus, l.l_linenumber, l.l_quantity
      |FROM orders LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity > 48) l
      |  ON o_orderkey = l.l_orderkey
      |WHERE o_orderkey < 3000
      |ORDER BY o_orderkey, l.l_linenumber""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir).filter(col("l_quantity") > 48)
    Tables.orders(s, dir).filter(col("o_orderkey") < 3000)
      .join(li, col("o_orderkey") === col("l_orderkey"), "left")
      .select("o_orderkey", "o_orderstatus", "l_linenumber", "l_quantity")
      .orderBy("o_orderkey", "l_linenumber")
  }

  // Full outer join (how="outer") — both sides' unmatched rows survive.
  q("q_join_outer",
    """SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
      |FROM (SELECT * FROM customer WHERE c_custkey < 500) c
      |FULL OUTER JOIN (SELECT * FROM orders WHERE o_custkey < 300) o
      |  ON c.c_custkey = o.o_custkey
      |ORDER BY c.c_custkey NULLS LAST, o.o_orderkey NULLS LAST""".stripMargin) { (s, dir) =>
    val c = Tables.customer(s, dir).filter(col("c_custkey") < 500)
    val o = Tables.orders(s, dir).filter(col("o_custkey") < 300)
    c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
      .select(c("c_custkey"), c("c_name"), o("o_orderkey"), o("o_totalprice"))
      .orderBy(col("c_custkey").asc_nulls_last, col("o_orderkey").asc_nulls_last)
  }

  // Left-semi (how="leftsemi", reference _merge.py:881 SemiMerge) and
  // left-anti (reference reaches it via indicator+filter).
  q("q_join_semi",
    """SELECT c_custkey, c_acctbal FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val big = Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
    Tables.customer(s, dir)
      .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_acctbal")
      .orderBy("c_custkey")
  }

  q("q_join_anti",
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE c_custkey NOT IN
      |  (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val big = Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
    Tables.customer(s, dir)
      .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")
  }

  // Merge indicator (reference merge(indicator=True)): derived from a
  // full outer join, labels both/left_only/right_only.
  q("q_join_indicator",
    """SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
      |  count(*) AS n,
      |  CASE WHEN c.c_custkey IS NULL THEN 'right_only'
      |       WHEN o.o_custkey IS NULL THEN 'left_only'
      |       ELSE 'both' END AS _merge
      |FROM (SELECT * FROM customer WHERE c_custkey % 3 = 0) c
      |FULL OUTER JOIN (SELECT * FROM orders WHERE o_custkey % 2 = 0) o
      |  ON c.c_custkey = o.o_custkey
      |GROUP BY 1, 3 ORDER BY 1, 3""".stripMargin) { (s, dir) =>
    val c = Tables.customer(s, dir).filter(col("c_custkey") % 3 === 0)
    val o = Tables.orders(s, dir).filter(col("o_custkey") % 2 === 0)
    c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
      .withColumn("custkey", coalesce(c("c_custkey"), o("o_custkey")))
      .withColumn("_merge",
        when(c("c_custkey").isNull, "right_only")
          .when(o("o_custkey").isNull, "left_only")
          .otherwise("both"))
      .groupBy("custkey", "_merge").agg(count(lit(1)).as("n"))
      .orderBy("custkey", "_merge")
  }

  // Broadcast-dimension star join (reference _merge.py:739 BroadcastJoin;
  // explicit broadcast() hint mirrors the broadcast= kwarg).
  q("q_join_broadcast_star",
    """SELECT r_name AS region, n_name AS nation,
      |  count(*) AS n_customers, sum(c_acctbal) AS total_bal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_customers"), sum("c_acctbal").as("total_bal"))
      .orderBy("region", "nation")
  }

  // Multi-column equi-join key (pandas merge on=[k1, k2]).
  q("q_join_multikey",
    """SELECT a.l_orderkey, a.l_linenumber, a.l_quantity, b.l_extendedprice
      |FROM lineitem a JOIN lineitem b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber
      |WHERE a.l_orderkey < 1000
      |ORDER BY a.l_orderkey, a.l_linenumber""".stripMargin) { (s, dir) =>
    val a = Tables.lineitem(s, dir).filter(col("l_orderkey") < 1000).alias("a")
    val b = Tables.lineitem(s, dir).alias("b")
    a.join(b, col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_linenumber") === col("b.l_linenumber"))
      .select(col("a.l_orderkey").as("l_orderkey"),
        col("a.l_linenumber").as("l_linenumber"),
        col("a.l_quantity").as("l_quantity"),
        col("b.l_extendedprice").as("l_extendedprice"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // TPC-H Q3-shaped: 3-way join + agg + top-k (bench headline).
  q("q_shipping_priority",
    """SELECT l_orderkey,
      |  sum(l_extendedprice * (1 - l_discount)) AS revenue,
      |  o_orderdate
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1995-03-15'
      |  AND l_shipdate > TIMESTAMP '1995-03-15'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
    Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .select("l_orderkey", "revenue", "o_orderdate")
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  // TPC-H Q5-shaped: 5-way join, broadcast dims (bench headline).
  q("q_local_supplier_volume",
    """SELECT n_name AS nation,
      |  sum(l_extendedprice * (1 - l_discount)) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY 1 ORDER BY revenue DESC, nation""".stripMargin) { (s, dir) =>
    // Star-schema join order: cull the fact table FIRST through the
    // most selective broadcast dimension chain (region→nation→supplier,
    // ASIA only), so the single unavoidable shuffle — lineitem⋈orders
    // on orderkey — moves a pre-reduced fact stream. customer broadcast-
    // joins ONTO ORDERS before that shuffle (not onto the joined stream
    // after it), so the orders side exchanges just (o_orderkey,
    // c_nationkey) — 2 narrow columns — and the c/s nationkey equality
    // rides the one shuffle join as an extra key. Written-order joins
    // matter: Catalyst does not reorder user join trees without CBO.
    val asiaNations = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val asiaSuppliers = Tables.supplier(s, dir)
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val custOrders = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey"))),
        col("c_custkey") === col("o_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    Tables.lineitem(s, dir)
      .join(broadcast(asiaSuppliers), col("l_suppkey") === col("s_suppkey"))
      .join(custOrders, col("l_orderkey") === col("o_orderkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("nation"))
  }

  // ---------------------------------------------------------------
  // §2.3 merge_asof — custom operator (graft.operators.AsOfJoin;
  // reference _merge_asof.py:17-425). Left = click/view events, right =
  // purchase events per user; match each event to the user's last/next
  // purchase.
  // ---------------------------------------------------------------

  private def asofInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "ts", "user_id", "value")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"),
        col("value").as("purchase_value"))
    (clicks, purchases)
  }

  private val ASOF_L =
    """(SELECT event_id, make_timestamp(epoch_ns(ts)//1000) AS ts, user_id, value
      | FROM events WHERE event_type = 'click') l""".stripMargin
  private val ASOF_R =
    """(SELECT user_id, make_timestamp(epoch_ns(ts)//1000) AS ts,
      |        event_id AS purchase_id, value AS purchase_value
      | FROM events WHERE event_type = 'purchase') r""".stripMargin

  q("q_merge_asof_backward",
    s"""SELECT l.event_id, l.user_id, l.value, r.purchase_id, r.purchase_value
       |FROM $ASOF_L ASOF LEFT JOIN $ASOF_R
       |  ON l.user_id = r.user_id AND l.ts >= r.ts
       |ORDER BY l.event_id""".stripMargin) { (s, dir) =>
    val (clicks, purchases) = asofInputs(s, dir)
    operators.AsOfJoin.mergeAsOf(clicks, purchases, on = "ts", by = Seq("user_id"))
      .select("event_id", "user_id", "value", "purchase_id", "purchase_value")
      .orderBy("event_id")
  }

  q("q_merge_asof_forward",
    s"""SELECT l.event_id, l.user_id, r.purchase_id
       |FROM $ASOF_L ASOF LEFT JOIN $ASOF_R
       |  ON l.user_id = r.user_id AND l.ts <= r.ts
       |ORDER BY l.event_id""".stripMargin) { (s, dir) =>
    val (clicks, purchases) = asofInputs(s, dir)
    operators.AsOfJoin.mergeAsOf(clicks, purchases, on = "ts",
        by = Seq("user_id"), direction = "forward")
      .select("event_id", "user_id", "purchase_id")
      .orderBy("event_id")
  }

  // Tolerance: matches farther than 30 minutes are nulled (left row kept).
  q("q_merge_asof_tolerance",
    s"""SELECT l.event_id, l.user_id,
       |  CASE WHEN l.ts - r.ts <= INTERVAL 30 MINUTE THEN r.purchase_id END AS purchase_id
       |FROM $ASOF_L ASOF LEFT JOIN $ASOF_R
       |  ON l.user_id = r.user_id AND l.ts >= r.ts
       |ORDER BY l.event_id""".stripMargin) { (s, dir) =>
    val (clicks, purchases) = asofInputs(s, dir)
    operators.AsOfJoin.mergeAsOf(clicks, purchases, on = "ts",
        by = Seq("user_id"), tolerance = Some(30.0 * 60 * 1000000))
      .select("event_id", "user_id", "purchase_id")
      .orderBy("event_id")
  }

  // Nearest: closer of backward/forward, ties backward.
  q("q_merge_asof_nearest",
    s"""WITH b AS (
       |  SELECT l.event_id, l.ts AS lts, r.ts AS rts, r.purchase_id
       |  FROM $ASOF_L ASOF LEFT JOIN $ASOF_R
       |    ON l.user_id = r.user_id AND l.ts >= r.ts),
       |f AS (
       |  SELECT l.event_id, l.ts AS lts, r.ts AS rts, r.purchase_id
       |  FROM $ASOF_L ASOF LEFT JOIN $ASOF_R
       |    ON l.user_id = r.user_id AND l.ts <= r.ts)
       |SELECT b.event_id,
       |  CASE WHEN b.rts IS NOT NULL AND (f.rts IS NULL
       |         OR b.lts - b.rts <= f.rts - f.lts) THEN b.purchase_id
       |       ELSE f.purchase_id END AS purchase_id
       |FROM b JOIN f ON b.event_id = f.event_id
       |ORDER BY b.event_id""".stripMargin) { (s, dir) =>
    val (clicks, purchases) = asofInputs(s, dir)
    operators.AsOfJoin.mergeAsOf(clicks, purchases, on = "ts",
        by = Seq("user_id"), direction = "nearest")
      .select("event_id", "purchase_id")
      .orderBy("event_id")
  }

  // Ungrouped as-of (no `by`): exercises the range-bucketed carry path.
  q("q_merge_asof_global",
    s"""SELECT l.event_id, r.purchase_id
       |FROM $ASOF_L ASOF LEFT JOIN $ASOF_R ON l.ts >= r.ts
       |ORDER BY l.event_id""".stripMargin) { (s, dir) =>
    val (clicks, purchases) = asofInputs(s, dir)
    operators.AsOfJoin.mergeAsOf(
        clicks, purchases.drop("user_id"), on = "ts")
      .select("event_id", "purchase_id")
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------
  // §2.6 Window / ordered-frame ops
  // ---------------------------------------------------------------

  // GroupByCumulative (reference _groupby.py:1346): the bespoke
  // sequential partition chain collapses to one window spec in Spark.
  q("q_cumulative",
    s"""SELECT event_id, user_id,
       |  sum(value) OVER w AS cum_sum,
       |  max(value) OVER w AS cum_max,
       |  min(value) OVER w AS cum_min,
       |  count(*) OVER w AS cum_count
       |FROM $EVENTS_SQL
       |WHERE user_id < 20
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |ORDER BY event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir).filter(col("user_id") < 20)
      .select(col("event_id"), col("user_id"),
        sum("value").over(w).as("cum_sum"),
        max("value").over(w).as("cum_max"),
        min("value").over(w).as("cum_min"),
        count(lit(1)).over(w).as("cum_count"))
      .orderBy("event_id")
  }

  // CumProd (reference _cumulative.py:11) — no built-in product window
  // aggregate in Spark, so a tiny product Aggregator runs as the window
  // function. The running frame feeds it incrementally (O(n) per
  // partition, no per-row array), and it multiplies in frame order so
  // values are bit-identical to DuckDB's sequential product().
  q("q_cumprod",
    """SELECT l_orderkey, l_linenumber,
      |  product(1 + l_discount) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_growth
      |FROM lineitem WHERE l_orderkey < 2000
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(s, dir).filter(col("l_orderkey") < 2000)
      .select(col("l_orderkey"), col("l_linenumber"),
        functions.Udafs.product(lit(1) + col("l_discount")).over(w).as("cum_growth"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // Shift/Diff (reference _expr.py:3292): lag/lead windows.
  q("q_shift_diff",
    s"""SELECT event_id, user_id, value,
       |  lag(value) OVER w AS prev_value,
       |  lead(value) OVER w AS next_value,
       |  value - lag(value) OVER w AS diff1,
       |  lag(value, 2) OVER w AS prev2
       |FROM $EVENTS_SQL
       |WHERE user_id < 10
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |ORDER BY event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir).filter(col("user_id") < 10)
      .select(col("event_id"), col("user_id"), col("value"),
        lag("value", 1).over(w).as("prev_value"),
        lead("value", 1).over(w).as("next_value"),
        (col("value") - lag("value", 1).over(w)).as("diff1"),
        lag("value", 2).over(w).as("prev2"))
      .orderBy("event_id")
  }

  // Rolling by row count (reference _rolling.py:43): 3-row trailing frame.
  q("q_rolling_rows",
    s"""SELECT event_id, user_id,
       |  avg(value) OVER w AS roll_avg,
       |  sum(value) OVER w AS roll_sum,
       |  min(value) OVER w AS roll_min,
       |  max(value) OVER w AS roll_max,
       |  count(*) OVER w AS roll_n
       |FROM $EVENTS_SQL
       |WHERE user_id < 10
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
       |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
       |ORDER BY event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-2, Window.currentRow)
    Tables.events(s, dir).filter(col("user_id") < 10)
      .select(col("event_id"), col("user_id"),
        avg("value").over(w).as("roll_avg"),
        sum("value").over(w).as("roll_sum"),
        min("value").over(w).as("roll_min"),
        max("value").over(w).as("roll_max"),
        count(lit(1)).over(w).as("roll_n"))
      .orderBy("event_id")
  }

  // Rolling by time offset (reference _rolling.py time-based windows):
  // trailing 1 hour via rangeBetween on the microsecond epoch.
  q("q_rolling_time",
    s"""SELECT event_id, user_id,
       |  sum(value) OVER w AS hour_sum,
       |  count(*) OVER w AS hour_n
       |FROM $EVENTS_SQL
       |WHERE user_id < 10
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts
       |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
       |ORDER BY event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600L * 1000000, 0)
    Tables.events(s, dir).filter(col("user_id") < 10)
      .select(col("event_id"), col("user_id"),
        sum("value").over(w).as("hour_sum"),
        count(lit(1)).over(w).as("hour_n"))
      .orderBy("event_id")
  }

  // Resample to tumbling buckets (reference _resample.py:23): groupBy
  // time window; OHLC = min_by/max_by on the (sequential) event_id.
  q("q_resample_daily",
    s"""SELECT date_trunc('day', ts) AS day,
       |  count(*) AS n, sum(value) AS total, avg(value) AS mean,
       |  min_by(value, event_id) AS open,
       |  max(value) AS high, min(value) AS low,
       |  max_by(value, event_id) AS close
       |FROM $EVENTS_SQL
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"), avg("value").as("mean"),
        min_by(col("value"), col("event_id")).as("open"),
        max("value").as("high"), min("value").as("low"),
        max_by(col("value"), col("event_id")).as("close"))
      .select(col("window.start").as("day"), col("n"), col("total"),
        col("mean"), col("open"), col("high"), col("low"), col("close"))
      .orderBy("day")
  }

  // FFill/BFill (reference _expr.py:3325): last/first over ignore-nulls
  // frames; nulls synthesized identically on both sides.
  q("q_ffill_bfill",
    s"""SELECT event_id, user_id,
       |  last_value(v IGNORE NULLS) OVER
       |    (PARTITION BY user_id ORDER BY event_id
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffilled,
       |  first_value(v IGNORE NULLS) OVER
       |    (PARTITION BY user_id ORDER BY event_id
       |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bfilled
       |FROM (SELECT event_id, user_id,
       |        CASE WHEN value < 2.0 THEN NULL ELSE value END AS v
       |      FROM $EVENTS_SQL) t
       |WHERE user_id < 10
       |ORDER BY event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val wF = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wB = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    Tables.events(s, dir).filter(col("user_id") < 10)
      .withColumn("v", when(col("value") < 2.0, lit(null)).otherwise(col("value")))
      .select(col("event_id"), col("user_id"),
        last(col("v"), ignoreNulls = true).over(wF).as("ffilled"),
        first(col("v"), ignoreNulls = true).over(wB).as("bfilled"))
      .orderBy("event_id")
  }

  // Ranking windows — absent from the reference's pandas surface
  // (SURVEY §2.6), free in Spark; declared as engine superset.
  q("q_window_rank",
    """SELECT o_orderkey, o_custkey,
      |  rank() OVER w AS rnk,
      |  dense_rank() OVER w AS drnk,
      |  row_number() OVER w AS rn,
      |  ntile(4) OVER w AS quartile,
      |  percent_rank() OVER w AS prank,
      |  cume_dist() OVER w AS cdist
      |FROM orders WHERE o_custkey < 50
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir).filter(col("o_custkey") < 50)
      .select(col("o_orderkey"), col("o_custkey"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        row_number().over(w).as("rn"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"))
      .orderBy("o_orderkey")
  }

  // IsMonotonic (reference _reductions.py:1519): lag + bool_and.
  q("q_is_monotonic",
    s"""SELECT user_id,
       |  bool_and(ts >= prev_ts OR prev_ts IS NULL) AS ts_monotonic,
       |  bool_and(value >= prev_v OR prev_v IS NULL) AS value_monotonic
       |FROM (SELECT user_id, ts, value,
       |        lag(ts) OVER w AS prev_ts, lag(value) OVER w AS prev_v
       |      FROM $EVENTS_SQL
       |      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)) t
       |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("value"),
        lag("ts", 1).over(w).as("prev_ts"),
        lag("value", 1).over(w).as("prev_v"))
      .groupBy("user_id")
      .agg(bool_and(col("ts") >= col("prev_ts") || col("prev_ts").isNull).as("ts_monotonic"),
        bool_and(col("value") >= col("prev_v") || col("prev_v").isNull).as("value_monotonic"))
      .orderBy("user_id")
  }

  // map_overlap custom operator (graft.operators.MapOverlap): centered
  // 3-row moving average over a global ordering, computed with
  // partition-edge overlap; oracle is the equivalent window.
  q("q_map_overlap",
    s"""SELECT event_id,
       |  avg(value) OVER (ORDER BY event_id
       |    ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS centered_ma
       |FROM $EVENTS_SQL
       |ORDER BY event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.types._
    val in = Tables.events(s, dir).select("event_id", "value")
    val outSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("centered_ma", DoubleType)))
    operators.MapOverlap.mapOverlap(in, "event_id", before = 1, after = 1, outSchema) {
      (block, start, end) =>
        (start until end).iterator.map { i =>
          val lo = math.max(0, i - 1)
          val hi = math.min(block.length - 1, i + 1)
          val vals = (lo to hi).map(j => block(j).getDouble(1))
          Row(block(i).getLong(0), vals.sum / vals.size)
        }
    }.orderBy("event_id")
  }

  // ---------------------------------------------------------------
  // LLM training-data pipeline coverage (dedup / similarity / text
  // analysis / multimodal) lives in LlmQueries; registered here so the
  // registry stays one insertion-ordered map.
  // ---------------------------------------------------------------
  LlmQueries.registerAll((name, oracle, fn) => register(name, oracle)(fn))
  TrainPrepQueries.registerAll((name, oracle, fn) => register(name, oracle)(fn))
  ApiQueries.registerAll((name, oracle, fn) => register(name, oracle)(fn))
  IoQueries.registerAll((name, oracle, fn) => register(name, oracle)(fn))
  UdxQueries.registerAll((name, oracle, fn) => register(name, oracle)(fn))
  ExtraQueries.registerAll((name, oracle, fn) => register(name, oracle)(fn))
  SelectQueries.registerAll((name, oracle, fn) => register(name, oracle)(fn))
  CorpusQueries.registerAll((name, oracle, fn) => register(name, oracle)(fn))
}
