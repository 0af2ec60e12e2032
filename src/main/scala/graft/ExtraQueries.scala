package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Remaining reference-surface coverage: deterministic sampling/splits,
  * set operations, melt/get_dummies/categorical codes, string & datetime
  * accessor long tail, combine_first, tail, get_group, query/eval
  * string predicates, and the rolling/resample aggregate tail.
  */
object ExtraQueries {

  def registerAll(reg: (String, Option[String], (SparkSession, String) => DataFrame) => Unit): Unit = {

    def q(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Unit =
      reg(name, Some(oracle), fn)

    // ---- sample / random_split ----------------------------------------
    // (reference _expr.py:1168 Sample, _collection.py:1917 random_split).
    // Hash-based rather than RNG-based: a content-hash sample is
    // reproducible on any engine, any partitioning, any cluster size —
    // the property RNG sampling loses the moment partitioning changes.
    q("q_sample_hash",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '1a'
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .filter(substring(md5(col("o_orderkey").cast("string")), 1, 2) < "1a")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    }

    q("q_random_split",
      """SELECT CASE WHEN h < '8' THEN 'train'
        |            WHEN h < 'c' THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n, sum(o_totalprice) AS total
        |FROM (SELECT substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) AS h,
        |             o_totalprice FROM orders)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .withColumn("h", substring(md5(col("o_orderkey").cast("string")), 1, 1))
        .withColumn("split",
          when(col("h") < "8", "train").when(col("h") < "c", "val").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n"), sum("o_totalprice").as("total"))
        .orderBy("split")
    }

    // ---- set operations (reference _concat.py:25-370) ------------------

    // Outer concat axis=0: schemas unioned, missing columns null-filled.
    q("q_concat_rows",
      """SELECT * FROM (
        |  SELECT o_orderkey AS key, o_totalprice AS price, o_orderstatus AS status,
        |         NULL AS qty
        |  FROM orders WHERE o_orderkey < 500
        |  UNION ALL BY NAME
        |  SELECT l_orderkey AS key, l_extendedprice AS price, NULL AS status,
        |         l_quantity AS qty
        |  FROM lineitem WHERE l_orderkey < 300)
        |ORDER BY key, price""".stripMargin) { (s, dir) =>
      val a = Tables.orders(s, dir).filter(col("o_orderkey") < 500)
        .select(col("o_orderkey").as("key"), col("o_totalprice").as("price"),
          col("o_orderstatus").as("status"))
      val b = Tables.lineitem(s, dir).filter(col("l_orderkey") < 300)
        .select(col("l_orderkey").as("key"), col("l_extendedprice").as("price"),
          col("l_quantity").as("qty"))
      a.unionByName(b, allowMissingColumns = true).orderBy("key", "price")
    }

    // Concat axis=1: column-wise alignment = full outer join on the key.
    q("q_concat_cols",
      """SELECT coalesce(a.k, b.k) AS custkey, a.n_orders, b.total_bal
        |FROM (SELECT o_custkey AS k, count(*) AS n_orders FROM orders GROUP BY 1) a
        |FULL OUTER JOIN (SELECT c_custkey AS k, sum(c_acctbal) AS total_bal
        |                 FROM customer WHERE c_custkey < 700 GROUP BY 1) b
        |  ON a.k = b.k
        |ORDER BY custkey""".stripMargin) { (s, dir) =>
      val a = Tables.orders(s, dir).groupBy(col("o_custkey").as("k"))
        .agg(count(lit(1)).as("n_orders"))
      val b = Tables.customer(s, dir).filter(col("c_custkey") < 700)
        .groupBy(col("c_custkey").as("k")).agg(sum("c_acctbal").as("total_bal"))
      a.join(b, a("k") === b("k"), "full_outer")
        .select(coalesce(a("k"), b("k")).as("custkey"), col("n_orders"), col("total_bal"))
        .orderBy("custkey")
    }

    q("q_intersect",
      """SELECT c_nationkey AS nationkey FROM customer WHERE c_custkey < 400
        |INTERSECT
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir).filter(col("c_custkey") < 400)
        .select(col("c_nationkey").as("nationkey"))
        .intersect(Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")
    }

    // Subtrahend keeps only heavy purchasers so the difference is
    // non-empty at every scale factor.
    q("q_except",
      """SELECT c_custkey FROM customer WHERE c_custkey < 1000
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 250000
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir).filter(col("c_custkey") < 1000).select("c_custkey")
        .except(Tables.orders(s, dir).filter(col("o_totalprice") > 250000)
          .select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey")
    }

    // ---- reshape -------------------------------------------------------

    // melt / unpivot (reference _collection.py:4047).
    q("q_melt",
      """SELECT o_orderkey, var, val FROM (
        |  SELECT o_orderkey, 'totalprice' AS var, o_totalprice AS val
        |  FROM orders WHERE o_orderkey < 1000
        |  UNION ALL
        |  SELECT o_orderkey, 'custkey', CAST(o_custkey AS DOUBLE)
        |  FROM orders WHERE o_orderkey < 1000)
        |ORDER BY o_orderkey, var""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir).filter(col("o_orderkey") < 1000)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_custkey").cast("double").as("o_custkey"))
        .unpivot(Array(col("o_orderkey")),
          Array(col("o_totalprice").as("totalprice"),
            col("o_custkey").as("custkey")), "var", "val")
        .orderBy("o_orderkey", "var")
    }

    // get_dummies (reference _dummies.py:1): fixed category list keeps
    // the schema static — no extra distinct pass at scale.
    q("q_get_dummies",
      """SELECT o_orderkey,
        |  CAST(o_orderstatus = 'F' AS INTEGER) AS status_F,
        |  CAST(o_orderstatus = 'O' AS INTEGER) AS status_O,
        |  CAST(o_orderstatus = 'P' AS INTEGER) AS status_P
        |FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 1000)
      Seq("F", "O", "P").foldLeft(base.select(col("o_orderkey"), col("o_orderstatus"))) {
        (df, v) => df.withColumn(s"status_$v", (col("o_orderstatus") === v).cast("int"))
      }.drop("o_orderstatus").orderBy("o_orderkey")
    }

    // Categorical codes (reference _categorical.py:21): dictionary
    // discovered via the capped ordered-limit in Frame.categorize (a
    // distributed top-k + broadcast join — no window anywhere).
    q("q_categorical_codes",
      """SELECT o_orderkey, o_orderpriority,
        |  dense_rank() OVER (ORDER BY o_orderpriority) - 1 AS code
        |FROM orders WHERE o_orderkey < 1000
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val sub = Tables.orders(s, dir).filter(col("o_orderkey") < 1000)
        .select("o_orderkey", "o_orderpriority")
      graft.api.Frame(sub).categorize("o_orderpriority")
        .rename("o_orderpriority_code" -> "code").df
        .select("o_orderkey", "o_orderpriority", "code")
        .orderBy("o_orderkey")
    }

    // Categorical management surface (reference _categorical.py:21-155
    // as_known/as_unknown/categories/ordered): asKnown pins the sorted
    // dictionary into column metadata; categorize on a known column uses
    // the pinned dictionary with no discovery job; the dictionary size
    // and ordered flag surface as plan-time constants. The oracle
    // re-derives codes as a dense rank and the dictionary size as a
    // scalar subquery over the same filtered set.
    q("q_categorical_ops",
      """SELECT o_orderkey, o_orderpriority,
        |  dense_rank() OVER (ORDER BY o_orderpriority) - 1 AS code,
        |  CAST((SELECT count(DISTINCT o_orderpriority) FROM orders
        |        WHERE o_orderkey < 1000) AS INTEGER) AS n_categories,
        |  TRUE AS is_ordered, TRUE AS unknown_after_drop
        |FROM orders WHERE o_orderkey < 1000
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val base = graft.api.Frame(Tables.orders(s, dir)
        .filter(col("o_orderkey") < 1000)
        .select("o_orderkey", "o_orderpriority"))
      val known = base.asKnown("o_orderpriority", ordered = true)
      val cats = known.knownCategories("o_orderpriority")
        .getOrElse(sys.error("asKnown did not pin categories"))
      known.categorize("o_orderpriority") // pinned dict: no discovery job
        .rename(s"o_orderpriority_code" -> "code")
        .df
        .withColumn("n_categories", lit(cats.length))
        .withColumn("is_ordered", lit(known.catOrdered("o_orderpriority")))
        .withColumn("unknown_after_drop",
          lit(!known.asUnknown("o_orderpriority").catKnown("o_orderpriority")))
        .select("o_orderkey", "o_orderpriority", "code", "n_categories",
          "is_ordered", "unknown_after_drop")
        .orderBy("o_orderkey")
    }

    // ---- frame ops -----------------------------------------------------

    // combine_first (reference _expr.py:1138): null-filling alignment of
    // two frames on a key.
    q("q_combine_first",
      s"""WITH a AS (SELECT event_id, CASE WHEN value < 3 THEN NULL ELSE value END AS v
         |           FROM ${Queries.EVENTS_SQL} WHERE user_id < 10),
         |b AS (SELECT event_id, value * 2 AS v FROM ${Queries.EVENTS_SQL} WHERE user_id < 10)
         |SELECT a.event_id, coalesce(a.v, b.v) AS combined
         |FROM a JOIN b ON a.event_id = b.event_id
         |ORDER BY a.event_id""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir).filter(col("user_id") < 10)
      val a = ev.select(col("event_id"),
        when(col("value") < 3, lit(null)).otherwise(col("value")).as("va"))
      val b = ev.select(col("event_id"), (col("value") * 2).as("vb"))
      a.join(b, "event_id")
        .select(col("event_id"), coalesce(col("va"), col("vb")).as("combined"))
        .orderBy("event_id")
    }

    // tail (reference _expr.py:2421): last n in a defined order — via
    // top-k on the reversed sort, so it is TakeOrderedAndProject at
    // scale, never a single-partition pass.
    q("q_tail",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey DESC LIMIT 5""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_orderkey").desc).limit(5)
    }

    // get_group (reference _groupby.py:1095).
    q("q_get_group",
      s"""SELECT event_id, user_id, value FROM ${Queries.EVENTS_SQL}
         |WHERE event_type = 'purchase' AND user_id < 20
         |ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase" && col("user_id") < 20)
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    }

    // query/eval string predicates (reference _collection.py:3597): the
    // string-expression surface compiles through the same Catalyst path.
    q("q_query_eval",
      """SELECT l_orderkey, l_quantity,
        |  l_extendedprice * (1 - l_discount) AS disc_price
        |FROM lineitem
        |WHERE l_quantity > 40 AND l_returnflag = 'R' AND l_orderkey % 2 = 0
        |ORDER BY l_orderkey, l_quantity, disc_price""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter("l_quantity > 40 AND l_returnflag = 'R' AND l_orderkey % 2 = 0")
        .selectExpr("l_orderkey", "l_quantity",
          "l_extendedprice * (1 - l_discount) AS disc_price")
        .orderBy("l_orderkey", "l_quantity", "disc_price")
    }

    // ---- string accessor long tail ------------------------------------
    // (reference _str_accessor.py:10-176)

    q("q_str_case_pad",
      """SELECT p_partkey,
        |  upper(substr(p_name, 1, 1)) || lower(substr(p_name, 2)) AS capitalized,
        |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS zfilled,
        |  rpad(lpad(p_brand, CAST((10 + length(p_brand)) // 2 AS INTEGER), ' '), 10, ' ') AS centered,
        |  CASE WHEN starts_with(p_type, 'STANDARD ') THEN substr(p_type, 10)
        |       ELSE p_type END AS deprefixed,
        |  substr(p_name, 3, 4) AS sliced
        |FROM part WHERE p_partkey < 1000 ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      Tables.part(s, dir).filter(col("p_partkey") < 1000)
        .select(col("p_partkey"),
          concat(upper(substring(col("p_name"), 1, 1)),
            lower(col("p_name").substr(lit(2), length(col("p_name"))))).as("capitalized"),
          lpad(col("p_partkey").cast("string"), 8, "0").as("zfilled"),
          rpad(lpad(col("p_brand"),
            ((lit(10) + length(col("p_brand"))) / 2).cast("int"), lit(" ")), 10, " ").as("centered"),
          when(col("p_type").startsWith("STANDARD "),
            col("p_type").substr(lit(10), length(col("p_type"))))
            .otherwise(col("p_type")).as("deprefixed"),
          substring(col("p_name"), 3, 4).as("sliced"))
        .orderBy("p_partkey")
    }

    q("q_str_predicates",
      """SELECT p_partkey,
        |  regexp_matches(p_brand, '^[a-zA-Z]+$') AS brand_alpha,
        |  regexp_matches(split_part(p_brand, '#', 2), '^[0-9]+$') AS num_digit,
        |  length(p_name) - length(replace(p_name, 'a', '')) AS count_a,
        |  strpos(p_name, 'ol') - 1 AS find_ol,
        |  length(p_type) - length(replace(p_type, ' ', '')) + 1 AS n_tokens
        |FROM part WHERE p_partkey < 1000 ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      Tables.part(s, dir).filter(col("p_partkey") < 1000)
        .select(col("p_partkey"),
          col("p_brand").rlike("^[a-zA-Z]+$").as("brand_alpha"),
          element_at(split(col("p_brand"), "#"), 2).rlike("^[0-9]+$").as("num_digit"),
          (length(col("p_name")) - length(regexp_replace(col("p_name"), "a", ""))).as("count_a"),
          (instr(col("p_name"), "ol") - 1).as("find_ol"),
          (length(col("p_type")) - length(regexp_replace(col("p_type"), " ", "")) + 1).as("n_tokens"))
        .orderBy("p_partkey")
    }

    q("q_str_strip_just",
      """SELECT p_partkey,
        |  rtrim(ltrim(p_name, 'abc'), 'xyz') AS stripped,
        |  rpad(p_brand, 12, '.') AS ljusted,
        |  lpad(p_brand, 12, '.') AS rjusted,
        |  ends_with(p_type, 'BRASS') AS ends_brass,
        |  CASE WHEN strpos(reverse(p_name), 'a') = 0 THEN -1
        |       ELSE length(p_name) - strpos(reverse(p_name), 'a') END AS rfind_a,
        |  substr(p_name, 5, 1) AS get5,
        |  (p_brand = lower(p_brand)) AS is_lower,
        |  (p_brand = upper(p_brand)) AS is_upper
        |FROM part WHERE p_partkey < 1000 ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      Tables.part(s, dir).filter(col("p_partkey") < 1000)
        .select(col("p_partkey"),
          rtrim(ltrim(col("p_name"), "abc"), "xyz").as("stripped"),
          rpad(col("p_brand"), 12, ".").as("ljusted"),
          lpad(col("p_brand"), 12, ".").as("rjusted"),
          col("p_type").endsWith("BRASS").as("ends_brass"),
          when(instr(reverse(col("p_name")), "a") === 0, -1)
            .otherwise(length(col("p_name")) - instr(reverse(col("p_name")), "a")).as("rfind_a"),
          substring(col("p_name"), 5, 1).as("get5"),
          (col("p_brand") === lower(col("p_brand"))).as("is_lower"),
          (col("p_brand") === upper(col("p_brand"))).as("is_upper"))
        .orderBy("p_partkey")
    }

    q("q_str_title_translate",
      """SELECT p_partkey,
        |  array_to_string(list_transform(string_split(lower(p_name), ' '),
        |    w -> upper(substr(w, 1, 1)) || substr(w, 2)), ' ') AS titled,
        |  translate(p_name, 'aeiou', '_____') AS translated,
        |  lower(p_type) AS casefolded,
        |  regexp_matches(replace(p_name, ' ', ''), '^[a-z0-9]+$') AS is_alnum,
        |  len(regexp_extract_all(p_name, '[aeiou]+')) AS vowel_runs
        |FROM part WHERE p_partkey < 1000 ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      Tables.part(s, dir).filter(col("p_partkey") < 1000)
        .select(col("p_partkey"),
          initcap(lower(col("p_name"))).as("titled"),
          translate(col("p_name"), "aeiou", "_____").as("translated"),
          lower(col("p_type")).as("casefolded"),
          regexp_replace(col("p_name"), " ", "").rlike("^[a-z0-9]+$").as("is_alnum"),
          size(regexp_extract_all(col("p_name"), lit("[aeiou]+"), lit(0))).as("vowel_runs"))
        .orderBy("p_partkey")
    }

    // ---- datetime accessor long tail ----------------------------------

    q("q_dt_tail",
      s"""SELECT event_id,
         |  hour(ts) AS h, minute(ts) AS m, second(ts) AS sec,
         |  CAST(week(ts) AS INTEGER) AS iso_week,
         |  strftime(ts, '%A') AS day_name,
         |  strftime(ts, '%B') AS month_name,
         |  CAST(day(last_day(CAST(ts AS DATE))) AS INTEGER) AS days_in_month,
         |  (month(ts) IN (1, 4, 7, 10) AND day(ts) = 1) AS is_q_start,
         |  (year(ts) % 4 = 0 AND (year(ts) % 100 != 0 OR year(ts) % 400 = 0)) AS is_leap
         |FROM ${Queries.EVENTS_SQL} WHERE user_id < 5
         |ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables.events(s, dir).filter(col("user_id") < 5)
        .select(col("event_id"),
          hour(col("ts")).as("h"), minute(col("ts")).as("m"),
          second(col("ts")).as("sec"),
          weekofyear(col("ts")).as("iso_week"),
          date_format(col("ts"), "EEEE").as("day_name"),
          date_format(col("ts"), "MMMM").as("month_name"),
          dayofmonth(last_day(col("ts"))).as("days_in_month"),
          (month(col("ts")).isin(1, 4, 7, 10) && dayofmonth(col("ts")) === 1).as("is_q_start"),
          (year(col("ts")) % 4 === 0 &&
            (year(col("ts")) % 100 =!= 0 || year(col("ts")) % 400 === 0)).as("is_leap"))
        .orderBy("event_id")
    }

    // persist / FromGraph (reference io/io.py:37): caching is a plan
    // property; content is invariant. The query caches the filtered
    // scan, touches it twice (agg + join back), and the oracle checks
    // the merged result.
    q("q_persist",
      """WITH f AS (SELECT o_custkey, o_totalprice FROM orders WHERE o_orderkey < 3000)
        |SELECT f.o_custkey, f.o_totalprice, t.total
        |FROM f JOIN (SELECT o_custkey, sum(o_totalprice) AS total
        |             FROM f GROUP BY 1) t ON f.o_custkey = t.o_custkey
        |ORDER BY f.o_custkey, f.o_totalprice""".stripMargin) { (s, dir) =>
      val f = Tables.orders(s, dir).filter(col("o_orderkey") < 3000)
        .select("o_custkey", "o_totalprice").persist()
      val totals = f.groupBy("o_custkey").agg(sum("o_totalprice").as("total"))
      f.join(totals, "o_custkey")
        .select(col("o_custkey"), col("o_totalprice"), col("total"))
        .orderBy("o_custkey", "o_totalprice")
    }

    // set_index / divisions policy (reference _shuffle.py:759-1303;
    // SURVEY §7.2): the analogue of a sorted index is an explicit
    // range-partition + within-partition sort on the index column —
    // content-invariant, and downstream ordered ops read it without a
    // further global sort.
    q("q_set_index",
      s"""SELECT event_id, user_id, value FROM ${Queries.EVENTS_SQL}
         |WHERE user_id < 20 ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables.events(s, dir).filter(col("user_id") < 20)
        .select("event_id", "user_id", "value")
        .repartitionByRange(8, col("event_id"))
        .sortWithinPartitions("event_id")
        .orderBy("event_id")
    }

    // merge_asof with allowExactMatches=false (strict inequality).
    q("q_merge_asof_strict",
      s"""SELECT l.event_id, r.purchase_id
         |FROM (SELECT event_id, make_timestamp(epoch_ns(ts)//1000) AS ts, user_id
         |      FROM events WHERE event_type = 'click') l
         |ASOF LEFT JOIN (SELECT user_id, make_timestamp(epoch_ns(ts)//1000) AS ts,
         |                       event_id AS purchase_id
         |                FROM events WHERE event_type = 'purchase') r
         |  ON l.user_id = r.user_id AND l.ts > r.ts
         |ORDER BY l.event_id""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "ts", "user_id")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
      operators.AsOfJoin.mergeAsOf(clicks, purchases, on = "ts",
          by = Seq("user_id"), allowExactMatches = false)
        .select("event_id", "purchase_id")
        .orderBy("event_id")
    }

    // Batch sessionization: a session break is a >30-minute gap; the
    // session id is the running count of breaks per user (lag + window
    // sum, all partitioned by user — no global state).
    q("q_sessionize",
      s"""WITH g AS (SELECT user_id, event_id, ts, value,
         |    CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE OR
         |              lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS brk
         |  FROM ${Queries.EVENTS_SQL} WHERE user_id < 10
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s AS (SELECT user_id, event_id, ts, value,
         |        CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |      FROM g)
         |SELECT user_id, session_id, count(*) AS n_events,
         |  sum(value) AS session_value,
         |  CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_s
         |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir).filter(col("user_id") < 10)
        .withColumn("brk",
          when(lag("ts", 1).over(w).isNull ||
            unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w)) > 1800L * 1000000, 1)
            .otherwise(0))
        .withColumn("session_id", sum("brk").over(wRun))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"), sum("value").as("session_value"),
          (unix_seconds(max(col("ts"))) - unix_seconds(min(col("ts")))).as("duration_s"))
        .orderBy("user_id", "session_id")
    }

    // Per-session ordered-subsequence pattern match (MATCH_RECOGNIZE-
    // lite, operators.Analytics.sessionPatternMatch): did the session
    // contain view → click → purchase IN ORDER? Greedy left-to-right
    // fold over the session-bounded event array; the oracle replays it
    // as iterated earliest-occurrence list searches (equivalent).
    q("q_session_pattern",
      s"""WITH g AS (SELECT user_id, event_id, ts, event_type,
         |    CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE OR
         |              lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS brk
         |  FROM ${Queries.EVENTS_SQL} WHERE user_id < 10
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s AS (SELECT user_id, event_id, ts, event_type,
         |        CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |          AS session_id
         |      FROM g),
         |seq AS (SELECT user_id, session_id, count(*) AS n_events,
         |    list(event_type ORDER BY ts, event_id) AS evs
         |  FROM s GROUP BY 1, 2),
         |p1 AS (SELECT *, coalesce(list_position(evs, 'view'), 0) AS i1
         |  FROM seq),
         |p2 AS (SELECT *, CASE WHEN i1 > 0 THEN
         |    coalesce(list_position(evs[i1+1:], 'click'), 0) ELSE 0 END AS i2
         |  FROM p1),
         |p3 AS (SELECT *, CASE WHEN i1 > 0 AND i2 > 0 THEN
         |    coalesce(list_position(evs[i1+i2+1:], 'purchase'), 0) ELSE 0 END
         |    AS i3
         |  FROM p2)
         |SELECT user_id, session_id, n_events,
         |  (i1 > 0 AND i2 > 0 AND i3 > 0) AS matched
         |FROM p3 ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
      graft.operators.Analytics.sessionPatternMatch(
          Tables.events(s, dir).filter(col("user_id") < 10),
          "user_id", "ts", "event_id", "event_type",
          Seq("view", "click", "purchase"), gapMinutes = 30)
        .orderBy("user_id", "session_id")
    }

    // SCD-2 history build (operators.Analytics.scd2): three
    // deterministic order snapshots → change-detected versions with
    // validity intervals (valid_from / valid_to / is_current) — the
    // lakehouse upsert-history primitive. Per-key windows bounded by
    // the snapshot count.
    q("q_scd2_merge",
      """WITH base AS (SELECT * FROM orders WHERE o_orderkey % 10 = 0),
        |v AS (
        |  SELECT o_orderkey AS key, o_orderstatus AS status,
        |         o_totalprice AS price, TIMESTAMP '2024-01-01' AS snap_ts
        |  FROM base
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 3 = 0
        |           THEN o_totalprice * CAST(1.1 AS DOUBLE)
        |           ELSE o_totalprice END,
        |         TIMESTAMP '2024-02-01'
        |  FROM base
        |  UNION ALL
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END,
        |         CASE WHEN o_orderkey % 3 = 0
        |           THEN o_totalprice * CAST(1.1 AS DOUBLE)
        |           ELSE o_totalprice END,
        |         TIMESTAMP '2024-03-01'
        |  FROM base),
        |c AS (SELECT *,
        |    (NOT (status IS NOT DISTINCT FROM lag(status) OVER w)) OR
        |    (NOT (price IS NOT DISTINCT FROM lag(price) OVER w)) OR
        |    lag(snap_ts) OVER w IS NULL AS chg
        |  FROM v WINDOW w AS (PARTITION BY key ORDER BY snap_ts)),
        |k AS (SELECT key, status, price, snap_ts FROM c WHERE chg),
        |f AS (SELECT key, status, price, snap_ts AS valid_from,
        |        lead(snap_ts) OVER (PARTITION BY key ORDER BY snap_ts)
        |          AS valid_to
        |      FROM k)
        |SELECT key, status, price, valid_from, valid_to,
        |  valid_to IS NULL AS is_current
        |FROM f ORDER BY key, valid_from""".stripMargin) { (s, dir) =>
      val base = Tables.orders(s, dir).filter(col("o_orderkey") % 10 === 0)
      def snap(ts: String, status: Column, price: Column) = base.select(
        col("o_orderkey").as("key"), status.as("status"), price.as("price"),
        lit(ts).cast("timestamp").as("snap_ts"))
      val bumped = when(col("o_orderkey") % 3 === 0,
        col("o_totalprice") * lit(1.1)).otherwise(col("o_totalprice"))
      val v = snap("2024-01-01", col("o_orderstatus"), col("o_totalprice"))
        .unionByName(snap("2024-02-01", col("o_orderstatus"), bumped))
        .unionByName(snap("2024-03-01",
          when(col("o_orderkey") % 5 === 0, lit("X"))
            .otherwise(col("o_orderstatus")), bumped))
      graft.operators.Analytics.scd2(v, Seq("key"), "snap_ts",
          Seq("status", "price"))
        .select("key", "status", "price", "valid_from", "valid_to",
          "is_current")
        .orderBy("key", "valid_from")
    }

    // Interval/range join (operators.RangeJoin): events matched to the
    // 3-day window after each order of the same key — bucketed
    // equi-join, never a nested loop. Oracle is the plain inequality
    // join.
    q("q_range_join",
      """WITH c AS (SELECT event_id, user_id,
        |             epoch_us(make_timestamp(epoch_ns(ts)//1000)) AS ts_us
        |           FROM events WHERE event_type = 'click' AND user_id < 10),
        |p AS (SELECT event_id AS purchase_id, user_id,
        |        epoch_us(make_timestamp(epoch_ns(ts)//1000)) - 7200000000 AS start_us,
        |        epoch_us(make_timestamp(epoch_ns(ts)//1000)) + 7200000000 AS end_us
        |      FROM events WHERE event_type = 'purchase' AND user_id < 10)
        |SELECT c.event_id, p.purchase_id
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND c.ts_us >= p.start_us AND c.ts_us <= p.end_us
        |ORDER BY c.event_id, p.purchase_id""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir).filter(col("user_id") < 10)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          (unix_micros(col("ts")) - 7200000000L).as("start_us"),
          (unix_micros(col("ts")) + 7200000000L).as("end_us"))
      operators.RangeJoin.intervalJoin(clicks, "ts_us", purchases,
          "start_us", "end_us", bucketWidth = 3600L * 1000000, keys = Seq("user_id"))
        .select("event_id", "purchase_id")
        .orderBy("event_id", "purchase_id")
    }

    // cut (fixed-width bins) and qcut (quantile bins). qcut bins by
    // exact-percentile thresholds broadcast back — a global ntile
    // window would funnel every row through one partition at scale.
    q("q_cut_qcut",
      """WITH t AS (SELECT quantile_cont(o_totalprice, 0.25) AS p25,
        |                  quantile_cont(o_totalprice, 0.5) AS p50,
        |                  quantile_cont(o_totalprice, 0.75) AS p75 FROM orders),
        |b AS (SELECT least(CAST(floor(o_totalprice / 100000) AS BIGINT), 5) AS price_bin,
        |        1 + CAST(o_totalprice > p25 AS INTEGER)
        |          + CAST(o_totalprice > p50 AS INTEGER)
        |          + CAST(o_totalprice > p75 AS INTEGER) AS quartile
        |      FROM orders, t)
        |SELECT price_bin, quartile, count(*) AS n
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      // qcut thresholds come from the distributed Quantiles operator
      // (bounded memory) and enter the plan as literals — no crossJoin,
      // no unbounded percentile buffer.
      val o = Tables.orders(s, dir)
      val qs = graft.operators.Quantiles.exactQuantiles(
        o, "o_totalprice", Seq(0.25, 0.5, 0.75))
      o.select(
          least(floor(col("o_totalprice") / 100000).cast("long"), lit(5)).as("price_bin"),
          (lit(1) + (col("o_totalprice") > qs(0)).cast("int")
            + (col("o_totalprice") > qs(1)).cast("int")
            + (col("o_totalprice") > qs(2)).cast("int")).as("quartile"))
        .groupBy("price_bin", "quartile").agg(count(lit(1)).as("n"))
        .orderBy("price_bin", "quartile")
    }

    // Row-wise (axis=1) ops: horizontal min/max/sum and idxmax-by-name
    // across columns — pure projections, no shuffle.
    q("q_rowwise_ops",
      """SELECT l_orderkey, l_linenumber,
        |  least(l_quantity, l_extendedprice / 1000, l_tax * 100) AS row_min,
        |  greatest(l_quantity, l_extendedprice / 1000, l_tax * 100) AS row_max,
        |  l_quantity + l_extendedprice / 1000 + l_tax * 100 AS row_sum,
        |  CASE WHEN l_quantity >= l_extendedprice / 1000 AND l_quantity >= l_tax * 100 THEN 'quantity'
        |       WHEN l_extendedprice / 1000 >= l_tax * 100 THEN 'price'
        |       ELSE 'tax' END AS row_idxmax
        |FROM lineitem WHERE l_orderkey < 1000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      val q = col("l_quantity"); val p = col("l_extendedprice") / 1000; val t = col("l_tax") * 100
      Tables.lineitem(s, dir).filter(col("l_orderkey") < 1000)
        .select(col("l_orderkey"), col("l_linenumber"),
          least(q, p, t).as("row_min"),
          greatest(q, p, t).as("row_max"),
          (q + p + t).as("row_sum"),
          when(q >= p && q >= t, "quantity").when(p >= t, "price")
            .otherwise("tax").as("row_idxmax"))
        .orderBy("l_orderkey", "l_linenumber")
    }

    // merge(how='cross'): small-side broadcast keeps it a
    // BroadcastNestedLoopJoin, never a shuffled CartesianProduct.
    q("q_cross_join",
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |WHERE n_nationkey < 10 ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
      Tables.region(s, dir).select("r_name")
        .crossJoin(broadcast(Tables.nation(s, dir)
          .filter(col("n_nationkey") < 10).select("n_name")))
        .orderBy("r_name", "n_name")
    }

    // Frame metadata surface (shape/size) + add_prefix renames.
    q("q_frame_info",
      """SELECT count(*) AS n_rows, 6 AS n_cols,
        |  count(*) * 6 AS n_cells,
        |  min(x_o_orderkey) AS first_key
        |FROM (SELECT o_orderkey AS x_o_orderkey, o_custkey, o_orderstatus,
        |             o_totalprice, o_orderdate, o_orderpriority
        |      FROM orders)""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
      val prefixed = o.withColumnRenamed("o_orderkey", "x_o_orderkey")
      val nCols = prefixed.columns.length   // schema metadata, no job
      prefixed.agg(count(lit(1)).as("n_rows"), lit(nCols).as("n_cols"),
        (count(lit(1)) * nCols).as("n_cells"),
        min("x_o_orderkey").as("first_key"))
    }

    // Semi-structured JSON column (events.props): extraction + agg over
    // the parsed value — the raw form most pipeline metadata arrives in.
    q("q_json_props",
      """SELECT event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type")
    }

    // Salted skew join (operators.SkewJoin): output must equal the
    // plain join — the oracle proves the salting is semantics-free.
    // Bloom-pruned join (operators.SkewJoin.bloomPrunedJoin): the big
    // side is filtered by a packed plan-literal Bloom filter of the
    // selective small side's keys BEFORE its shuffle — the explicit
    // runtime-filter pattern. Result equality with the plain join is
    // the oracle (no false negatives by construction).
    q("q_bloom_join",
      """SELECT o_orderpriority, count(*) AS n_items,
        |  round(sum(l_quantity), 9) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderpriority")
      graft.operators.SkewJoin.bloomPrunedJoin(
          Tables.lineitem(s, dir).select("l_orderkey", "l_quantity"),
          // sized to the key count (~30K urgent orders at sf0.1)
          "l_orderkey", urgent, "o_orderkey",
          expectedItems = 40000L, bits = 1L << 19)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 9).as("sum_qty"))
        .orderBy("o_orderpriority")
    }

    q("q_salted_join",
      """SELECT o_orderkey, o_totalprice, c_name
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey < 2000
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val orders = Tables.orders(s, dir).filter(col("o_orderkey") < 2000)
        .withColumnRenamed("o_custkey", "custkey")
      val cust = Tables.customer(s, dir)
        .withColumnRenamed("c_custkey", "custkey")
      operators.SkewJoin.saltedJoin(orders, cust, Seq("custkey"), saltFactor = 8)
        .select("o_orderkey", "o_totalprice", "c_name")
        .orderBy("o_orderkey")
    }

    // prod reduction (via the product UDAF) + standard error of mean.
    q("q_prod_sem",
      """SELECT round(product(1 + l_tax), 9) AS prod_tax,
        |  round(stddev_samp(l_quantity) / sqrt(count(l_quantity)), 9) AS sem_qty
        |FROM lineitem WHERE l_orderkey < 100""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir).filter(col("l_orderkey") < 100)
        .agg(round(functions.Udafs.product(lit(1) + col("l_tax")), 9).as("prod_tax"),
          round(stddev_samp(col("l_quantity")) / sqrt(count(col("l_quantity"))), 9).as("sem_qty"))
    }

    // select_dtypes: schema-driven column selection (no data pass).
    q("q_select_dtypes",
      """SELECT CAST(sum(o_orderkey) AS BIGINT) AS s_o_orderkey,
        |  CAST(sum(o_custkey) AS BIGINT) AS s_o_custkey,
        |  round(sum(o_totalprice), 2) AS s_o_totalprice
        |FROM orders""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
      val numeric = o.schema.fields.filter(f => f.dataType match {
        case _: org.apache.spark.sql.types.NumericType => true
        case _ => false
      })
      // Fractional sums are rounded so the cross-engine hash is stable
      // under any accumulation order (sum of 2-decimal values is exact
      // far beyond 2 decimals of fp noise).
      val aggs = numeric.map { f =>
        val s0 = sum(f.name)
        val s = f.dataType match {
          case org.apache.spark.sql.types.DoubleType |
               org.apache.spark.sql.types.FloatType => round(s0, 2)
          case _ => s0
        }
        s.as(s"s_${f.name}")
      }
      o.agg(aggs.head, aggs.tail.toSeq: _*)
    }

    // Series.dot (reference _collection.py:2541) and autocorr (:4547).
    q("q_dot_autocorr",
      s"""WITH l AS (SELECT user_id, value,
         |             lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
         |           FROM ${Queries.EVENTS_SQL})
         |SELECT round(sum(value * coalesce(pv, 0.0)), 6) AS dot_lagged,
         |  round(corr(value, pv), 9) AS autocorr_1
         |FROM l""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("value"), lag("value", 1).over(w).as("pv"))
        .agg(round(sum(col("value") * coalesce(col("pv"), lit(0.0))), 6).as("dot_lagged"),
          round(corr(col("value"), col("pv")), 9).as("autocorr_1"))
    }

    // ---- rolling / resample aggregate tail ----------------------------

    // rolling apply with a custom aggregate (reference _rolling.py:341
    // RollingApply): the product UDAF runs over a bounded window frame.
    q("q_rolling_custom",
      """SELECT l_orderkey, l_linenumber,
        |  product(1 + l_discount) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS roll_growth
        |FROM lineitem WHERE l_orderkey < 1500
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
        .rowsBetween(-2, Window.currentRow)
      Tables.lineitem(s, dir).filter(col("l_orderkey") < 1500)
        .select(col("l_orderkey"), col("l_linenumber"),
          functions.Udafs.product(lit(1) + col("l_discount")).over(w).as("roll_growth"))
        .orderBy("l_orderkey", "l_linenumber")
    }

    // (reference _rolling.py:43-341, _resample.py:23-291)

    q("q_rolling_var",
      s"""SELECT event_id,
         |  round(var_samp(value) OVER w, 9) AS roll_var,
         |  round(stddev_samp(value) OVER w, 9) AS roll_std,
         |  quantile_cont(value, 0.5) OVER w AS roll_med,
         |  round(covar_samp(value, CAST(user_id AS DOUBLE)) OVER w, 9) AS roll_cov
         |FROM ${Queries.EVENTS_SQL}
         |WHERE user_id < 10
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
         |ORDER BY event_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-4, Window.currentRow)
      Tables.events(s, dir).filter(col("user_id") < 10)
        .select(col("event_id"),
          round(var_samp(col("value")).over(w), 9).as("roll_var"),
          round(stddev_samp(col("value")).over(w), 9).as("roll_std"),
          expr("percentile(value, 0.5)").over(w).as("roll_med"),
          round(covar_samp(col("value"), col("user_id").cast("double")).over(w), 9).as("roll_cov"))
        .orderBy("event_id")
    }

    // Rolling SAMPLE skewness / excess kurtosis (the pandas/dask
    // rolling.skew()/kurt() bias-corrected statistics, with the pandas
    // min-period NULLs: skew needs n>=3, kurt n>=4; zero-variance
    // frames are NULL). Order-deterministic by construction: the ≤5
    // frame values come off lag() chains and every power sum folds
    // left-to-right `c4 + c3 + c2 + c1 + v` — the identical scalar
    // expression tree in both engines, so the moment cancellation
    // happens on bit-identical inputs (the round-11 lesson: windowed
    // avg's summed in engine-specific order drifted one ulp and landed
    // on opposite sides of the round(…, 9) boundary). The trailing
    // `+ 0.0` canonicalizes any -0.0 before hashing.
    q("q_rolling_skew",
      s"""WITH base AS (SELECT event_id, CAST(value AS DOUBLE) AS v,
         |    lag(CAST(value AS DOUBLE), 1) OVER w AS l1,
         |    lag(CAST(value AS DOUBLE), 2) OVER w AS l2,
         |    lag(CAST(value AS DOUBLE), 3) OVER w AS l3,
         |    lag(CAST(value AS DOUBLE), 4) OVER w AS l4,
         |    CAST(count(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE) AS nd
         |  FROM ${Queries.EVENTS_SQL}
         |  WHERE user_id < 10
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |cs AS (SELECT event_id, nd, v,
         |    coalesce(l4, CAST(0 AS DOUBLE)) AS c4,
         |    coalesce(l3, CAST(0 AS DOUBLE)) AS c3,
         |    coalesce(l2, CAST(0 AS DOUBLE)) AS c2,
         |    coalesce(l1, CAST(0 AS DOUBLE)) AS c1 FROM base),
         |s AS (SELECT event_id, nd,
         |    c4 + c3 + c2 + c1 + v AS s1,
         |    c4*c4 + c3*c3 + c2*c2 + c1*c1 + v*v AS s2,
         |    c4*c4*c4 + c3*c3*c3 + c2*c2*c2 + c1*c1*c1 + v*v*v AS s3,
         |    c4*c4*c4*c4 + c3*c3*c3*c3 + c2*c2*c2*c2 + c1*c1*c1*c1 + v*v*v*v AS s4
         |  FROM cs),
         |m AS (SELECT event_id, nd, s1 / nd AS mu, s1, s2, s3, s4 FROM s),
         |mm AS (SELECT event_id, nd,
         |    s2 - mu * s1 AS m2,
         |    s3 - 3 * mu * s2 + 2 * mu * mu * s1 AS m3,
         |    s4 - 4 * mu * s3 + 6 * mu * mu * s2 - 3 * mu * mu * mu * s1 AS m4
         |  FROM m),
         |fin AS (SELECT event_id, nd, m2, m3, m4,
         |    m2 / nullif(nd - 1, CAST(0 AS DOUBLE)) AS sv,
         |    sqrt(m2 / nullif(nd - 1, CAST(0 AS DOUBLE))) AS sd FROM mm)
         |SELECT event_id,
         |  round(CASE WHEN nd >= 3 AND m2 > 0 THEN
         |    (nd * m3) / ((nd - 1) * (nd - 2)) / (sd * sd * sd) END, 9)
         |    + CAST(0 AS DOUBLE) AS roll_skew,
         |  round(CASE WHEN nd >= 4 AND m2 > 0 THEN
         |    (nd * (nd + 1) * m4) / ((nd - 1) * (nd - 2) * (nd - 3)) / (sv * sv)
         |      - (3 * (nd - 1) * (nd - 1)) / ((nd - 2) * (nd - 3)) END, 9)
         |    + CAST(0 AS DOUBLE) AS roll_kurt
         |FROM fin
         |ORDER BY event_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ord = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wf = ord.rowsBetween(-4, Window.currentRow)
      val v = col("value").cast("double")
      val base = Tables.events(s, dir).filter(col("user_id") < 10)
        .select(col("event_id"), v.as("v"),
          lag(v, 1).over(ord).as("l1"), lag(v, 2).over(ord).as("l2"),
          lag(v, 3).over(ord).as("l3"), lag(v, 4).over(ord).as("l4"),
          count(col("value")).over(wf).cast("double").as("nd"))
      val cs = base.select(col("event_id"), col("nd"), col("v"),
        coalesce(col("l4"), lit(0.0)).as("c4"),
        coalesce(col("l3"), lit(0.0)).as("c3"),
        coalesce(col("l2"), lit(0.0)).as("c2"),
        coalesce(col("l1"), lit(0.0)).as("c1"))
      val (c4, c3, c2, c1, vv) =
        (col("c4"), col("c3"), col("c2"), col("c1"), col("v"))
      val sums = cs.select(col("event_id"), col("nd"),
        (c4 + c3 + c2 + c1 + vv).as("s1"),
        (c4 * c4 + c3 * c3 + c2 * c2 + c1 * c1 + vv * vv).as("s2"),
        (c4 * c4 * c4 + c3 * c3 * c3 + c2 * c2 * c2 + c1 * c1 * c1
          + vv * vv * vv).as("s3"),
        (c4 * c4 * c4 * c4 + c3 * c3 * c3 * c3 + c2 * c2 * c2 * c2
          + c1 * c1 * c1 * c1 + vv * vv * vv * vv).as("s4"))
      val nd = col("nd"); val mu = col("mu")
      val fin = sums
        .withColumn("mu", col("s1") / nd)
        .withColumn("m2", col("s2") - mu * col("s1"))
        .withColumn("m3",
          col("s3") - lit(3) * mu * col("s2") + lit(2) * mu * mu * col("s1"))
        .withColumn("m4",
          col("s4") - lit(4) * mu * col("s3") + lit(6) * mu * mu * col("s2")
            - lit(3) * mu * mu * mu * col("s1"))
        // nullif: the 1-row partition head would divide by zero under
        // ANSI; those rows are NULL'd by the n>=3/4 min-period CASE anyway
        .withColumn("sv", col("m2") / nullif(nd - lit(1), lit(0.0)))
        .withColumn("sd", sqrt(col("sv")))
      val (m2c, m3c, m4c, sv, sd) =
        (col("m2"), col("m3"), col("m4"), col("sv"), col("sd"))
      fin.select(col("event_id"),
        (round(when(nd >= 3 && m2c > 0,
          (nd * m3c) / ((nd - lit(1)) * (nd - lit(2))) / (sd * sd * sd)), 9)
          + lit(0.0)).as("roll_skew"),
        (round(when(nd >= 4 && m2c > 0,
          (nd * (nd + lit(1)) * m4c)
            / ((nd - lit(1)) * (nd - lit(2)) * (nd - lit(3))) / (sv * sv)
            - (lit(3) * (nd - lit(1)) * (nd - lit(1)))
              / ((nd - lit(2)) * (nd - lit(3)))), 9)
          + lit(0.0)).as("roll_kurt"))
        .orderBy("event_id")
    }

    // Rolling rank (pandas rolling(5).rank(method='min') + pct) — rank
    // of the current value within its trailing 5-row frame. Same
    // lag-chain formulation as q_rolling_skew: the frame is explicit
    // lagged columns, the rank is 1 + a fixed-order sum of strict-less
    // indicators, so both engines compute identical integers (no float
    // path at all until the pct division). min_periods = window: NULL
    // until the frame is full, the pandas fixed-window default.
    q("q_rolling_rank",
      s"""WITH base AS (SELECT event_id, value AS v,
         |    lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2,
         |    lag(value, 3) OVER w AS l3, lag(value, 4) OVER w AS l4,
         |    count(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS nd
         |  FROM ${Queries.EVENTS_SQL}
         |  WHERE user_id < 10
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |rk AS (SELECT event_id, nd,
         |    1 + (CASE WHEN l1 < v THEN 1 ELSE 0 END
         |       + CASE WHEN l2 < v THEN 1 ELSE 0 END
         |       + CASE WHEN l3 < v THEN 1 ELSE 0 END
         |       + CASE WHEN l4 < v THEN 1 ELSE 0 END) AS r FROM base)
         |SELECT event_id,
         |  CAST(CASE WHEN nd = 5 THEN r END AS BIGINT) AS roll_rank,
         |  CASE WHEN nd = 5 THEN CAST(r AS DOUBLE) / CAST(5 AS DOUBLE) END
         |    AS roll_rank_pct
         |FROM rk ORDER BY event_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ord = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wf = ord.rowsBetween(-4, Window.currentRow)
      val v = col("v")
      val base = Tables.events(s, dir).filter(col("user_id") < 10)
        .select(col("event_id"), col("value").as("v"),
          lag(col("value"), 1).over(ord).as("l1"),
          lag(col("value"), 2).over(ord).as("l2"),
          lag(col("value"), 3).over(ord).as("l3"),
          lag(col("value"), 4).over(ord).as("l4"),
          count(col("value")).over(wf).as("nd"))
      val r = lit(1) +
        (when(col("l1") < v, 1).otherwise(0) +
          when(col("l2") < v, 1).otherwise(0) +
          when(col("l3") < v, 1).otherwise(0) +
          when(col("l4") < v, 1).otherwise(0))
      base.select(col("event_id"),
          when(col("nd") === 5, r).cast("long").as("roll_rank"),
          when(col("nd") === 5,
            r.cast("double") / lit(5).cast("double")).as("roll_rank_pct"))
        .orderBy("event_id")
    }

    // Key-skew report (operators.SkewJoin.skewReport): the measurement
    // that decides salting vs AQE skew handling; top shares via
    // TakeOrdered, no global window.
    q("q_skew_report",
      """WITH c AS (SELECT o_custkey, count(*) AS c FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_keys,
        |        max(c) AS top1 FROM c),
        |tt AS (SELECT sum(c) AS top10 FROM
        |        (SELECT c FROM c ORDER BY c DESC, o_custkey LIMIT 10))
        |SELECT n_rows, n_keys,
        |  CAST(top1 AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top1_share,
        |  CAST(top10 AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top10_share,
        |  CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE) AS avg_rows_per_key
        |FROM t, tt""".stripMargin) { (s, dir) =>
      graft.operators.SkewJoin.skewReport(Tables.orders(s, dir), "o_custkey")
    }

    // Cohort retention (operators.Analytics.cohortRetention): users
    // cohorted by first-seen calendar day; distinct returning users and
    // retention rate per (cohort, day_offset). User-keyed joins +
    // grouped count-distinct + a calendar-bounded broadcast — no
    // corpus-wide window.
    q("q_cohort_retention",
      s"""WITH ev AS (SELECT * FROM ${Queries.EVENTS_SQL}),
         |fd AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort
         |  FROM ev GROUP BY 1),
         |act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM ev),
         |r AS (SELECT f.cohort,
         |    date_diff('day', f.cohort, a.day) AS day_offset,
         |    count(DISTINCT a.user_id) AS n_users
         |  FROM act a JOIN fd f USING (user_id)
         |  WHERE date_diff('day', f.cohort, a.day) <= 7 GROUP BY 1, 2),
         |base AS (SELECT cohort, n_users AS cohort_size FROM r
         |  WHERE day_offset = 0)
         |SELECT r.cohort, r.day_offset, r.n_users,
         |  round(CAST(r.n_users AS DOUBLE) / CAST(b.cohort_size AS DOUBLE), 9)
         |    + CAST(0 AS DOUBLE) AS retention
         |FROM r JOIN base b USING (cohort)
         |ORDER BY cohort, day_offset""".stripMargin) { (s, dir) =>
      graft.operators.Analytics.cohortRetention(
          Tables.events(s, dir), "user_id", "ts", maxOffsetDays = 7)
        .orderBy("cohort", "day_offset")
    }

    // Ordered conversion funnel (operators.Analytics.funnelStages):
    // reach at stage i = users whose first-occurrence times of stages
    // 1..i exist in non-decreasing order. Two shuffles total.
    q("q_funnel",
      s"""WITH ev AS (SELECT * FROM ${Queries.EVENTS_SQL}),
         |m AS (SELECT user_id,
         |    min(CASE WHEN event_type = 'view' THEN ts END) AS t0,
         |    min(CASE WHEN event_type = 'click' THEN ts END) AS t1,
         |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
         |  FROM ev GROUP BY 1),
         |a AS (SELECT
         |    CAST(sum(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS s0,
         |    CAST(sum(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL
         |      AND t0 <= t1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
         |    CAST(sum(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL
         |      AND t0 <= t1 AND t2 IS NOT NULL AND t1 <= t2
         |      THEN 1 ELSE 0 END) AS BIGINT) AS s2
         |  FROM m)
         |SELECT * FROM (
         |  SELECT 1 AS stage_idx, 'view' AS stage, s0 AS n_users,
         |    round(CASE WHEN s0 > 0 THEN CAST(s0 AS DOUBLE)
         |      / CAST(s0 AS DOUBLE) END, 9) + CAST(0 AS DOUBLE) AS conv_total,
         |    round(CASE WHEN s0 > 0 THEN CAST(s0 AS DOUBLE)
         |      / CAST(s0 AS DOUBLE) END, 9) + CAST(0 AS DOUBLE) AS conv_prev
         |  FROM a
         |  UNION ALL
         |  SELECT 2, 'click', s1,
         |    round(CASE WHEN s0 > 0 THEN CAST(s1 AS DOUBLE)
         |      / CAST(s0 AS DOUBLE) END, 9) + CAST(0 AS DOUBLE),
         |    round(CASE WHEN s0 > 0 THEN CAST(s1 AS DOUBLE)
         |      / CAST(s0 AS DOUBLE) END, 9) + CAST(0 AS DOUBLE)
         |  FROM a
         |  UNION ALL
         |  SELECT 3, 'purchase', s2,
         |    round(CASE WHEN s0 > 0 THEN CAST(s2 AS DOUBLE)
         |      / CAST(s0 AS DOUBLE) END, 9) + CAST(0 AS DOUBLE),
         |    round(CASE WHEN s1 > 0 THEN CAST(s2 AS DOUBLE)
         |      / CAST(s1 AS DOUBLE) END, 9) + CAST(0 AS DOUBLE)
         |  FROM a)
         |ORDER BY stage_idx""".stripMargin) { (s, dir) =>
      graft.operators.Analytics.funnelStages(
          Tables.events(s, dir), "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"))
        .orderBy("stage_idx")
    }

    // PSI drift report (operators.Analytics.psiReport): reference
    // deciles (exact distributed quantiles, plan literals) bucket both
    // halves of the stream; per-bucket stability terms sum to the PSI.
    q("q_psi_drift",
      s"""WITH ev AS (SELECT * FROM ${Queries.EVENTS_SQL}),
         |e AS (SELECT
         |    quantile_cont(value, 0.1) AS e1, quantile_cont(value, 0.2) AS e2,
         |    quantile_cont(value, 0.3) AS e3, quantile_cont(value, 0.4) AS e4,
         |    quantile_cont(value, 0.5) AS e5, quantile_cont(value, 0.6) AS e6,
         |    quantile_cont(value, 0.7) AS e7, quantile_cont(value, 0.8) AS e8,
         |    quantile_cont(value, 0.9) AS e9
         |  FROM ev WHERE ts < TIMESTAMP '2024-01-16'),
         |b AS (SELECT
         |    CAST(value > e1 AS INTEGER) + CAST(value > e2 AS INTEGER)
         |    + CAST(value > e3 AS INTEGER) + CAST(value > e4 AS INTEGER)
         |    + CAST(value > e5 AS INTEGER) + CAST(value > e6 AS INTEGER)
         |    + CAST(value > e7 AS INTEGER) + CAST(value > e8 AS INTEGER)
         |    + CAST(value > e9 AS INTEGER) AS bucket,
         |    (ts < TIMESTAMP '2024-01-16') AS ref
         |  FROM ev, e),
         |c AS (SELECT bucket,
         |    CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         |    CAST(sum(CASE WHEN NOT ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
         |  FROM b GROUP BY 1),
         |sp AS (SELECT CAST(unnest(generate_series(0, 9)) AS INTEGER)
         |  AS bucket),
         |f AS (SELECT sp.bucket,
         |    coalesce(n_ref, CAST(0 AS BIGINT)) AS n_ref,
         |    coalesce(n_cur, CAST(0 AS BIGINT)) AS n_cur
         |  FROM sp LEFT JOIN c ON c.bucket = sp.bucket),
         |t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
         |    CAST(sum(n_cur) AS BIGINT) AS t_cur FROM f)
         |SELECT bucket, n_ref, n_cur,
         |  round(CAST(n_ref AS DOUBLE) / CAST(t_ref AS DOUBLE), 9)
         |    + CAST(0 AS DOUBLE) AS p_ref,
         |  round(CAST(n_cur AS DOUBLE) / CAST(t_cur AS DOUBLE), 9)
         |    + CAST(0 AS DOUBLE) AS p_cur,
         |  round(CASE WHEN n_ref > 0 AND n_cur > 0 THEN
         |      (CAST(n_cur AS DOUBLE) / CAST(t_cur AS DOUBLE)
         |        - CAST(n_ref AS DOUBLE) / CAST(t_ref AS DOUBLE))
         |      * ln(CAST(n_cur AS DOUBLE) / CAST(t_cur AS DOUBLE)
         |        / (CAST(n_ref AS DOUBLE) / CAST(t_ref AS DOUBLE)))
         |    ELSE 0.0 END, 9) + CAST(0 AS DOUBLE) AS psi_term
         |FROM f, t ORDER BY bucket""".stripMargin) { (s, dir) =>
      graft.operators.Analytics.psiReport(
          Tables.events(s, dir), "value",
          col("ts") < lit("2024-01-16").cast("timestamp"), buckets = 10)
        .orderBy("bucket")
    }

    // Per-group quartile binning (grouped qcut): thresholds from the
    // bounded-memory grouped exact quantiles, broadcast back as a tiny
    // stat join; bins are cumulative strict-greater comparisons.
    q("q_grouped_qcut",
      s"""WITH ev AS (SELECT * FROM ${Queries.EVENTS_SQL}),
         |t AS (SELECT event_type,
         |    quantile_cont(value, 0.25) AS q1,
         |    quantile_cont(value, 0.5) AS q2,
         |    quantile_cont(value, 0.75) AS q3
         |  FROM ev GROUP BY 1),
         |b AS (SELECT e.event_type,
         |    1 + CAST(e.value > t.q1 AS INTEGER)
         |      + CAST(e.value > t.q2 AS INTEGER)
         |      + CAST(e.value > t.q3 AS INTEGER) AS quartile, e.value
         |  FROM ev e JOIN t USING (event_type))
         |SELECT event_type, quartile, count(*) AS n,
         |  min(value) AS lo, max(value) AS hi
         |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val qs = graft.operators.Quantiles.groupedExactQuantiles(
        ev, "event_type", "value", Seq(0.25, 0.5, 0.75))
      ev.join(broadcast(qs), "event_type")
        .select(col("event_type"),
          (lit(1) + (col("value") > col("q_0_25")).cast("int")
            + (col("value") > col("q_0_5")).cast("int")
            + (col("value") > col("q_0_75")).cast("int")).as("quartile"),
          col("value"))
        .groupBy("event_type", "quartile")
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("lo"), max(col("value")).as("hi"))
        .orderBy("event_type", "quartile")
    }

    // Robust outlier profile: per-group median + MAD (median absolute
    // deviation) and the 1.4826-scaled robust z-score outlier count —
    // the outlier detector that, unlike mean/std, one corrupt feed
    // cannot drag. Two holistic grouped medians (sort-based aggregates,
    // parallel by group) + broadcast joins of the tiny per-group stat
    // rows back onto the stream: nothing driver-side, nothing
    // group-buffered, so the shape holds at 100 TB.
    q("q_mad_outliers",
      s"""WITH ev AS (SELECT * FROM ${Queries.EVENTS_SQL}),
         |med AS (SELECT event_type, median(value) AS med
         |  FROM ev GROUP BY 1),
         |mad AS (SELECT e.event_type,
         |    median(abs(e.value - m.med)) AS mad
         |  FROM ev e JOIN med m USING (event_type)
         |  GROUP BY 1),
         |z AS (SELECT e.event_type, m.med, d.mad,
         |    CASE WHEN d.mad > 0 THEN
         |      (e.value - m.med) / (CAST(1.4826 AS DOUBLE) * d.mad) END AS rz
         |  FROM ev e
         |  JOIN med m USING (event_type) JOIN mad d USING (event_type))
         |SELECT event_type,
         |  round(min(med), 9) AS med, round(min(mad), 9) AS mad,
         |  count(*) AS n,
         |  CAST(sum(CASE WHEN abs(rz) > CAST(3.5 AS DOUBLE)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         |  round(CAST(sum(CASE WHEN abs(rz) > CAST(3.5 AS DOUBLE)
         |      THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9)
         |    + CAST(0 AS DOUBLE) AS outlier_frac
         |FROM z GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
        val ev = Tables.events(s, dir)
        val med = ev.groupBy("event_type").agg(median(col("value")).as("med"))
        val mad = ev.join(broadcast(med), "event_type")
          .groupBy("event_type")
          .agg(median(abs(col("value") - col("med"))).as("mad"))
        val rz = when(col("mad") > 0,
          (col("value") - col("med")) / (lit(1.4826) * col("mad")))
        ev.join(broadcast(med), "event_type").join(broadcast(mad), "event_type")
          .select(col("event_type"), col("med"), col("mad"),
            rz.as("rz"))
          .groupBy("event_type")
          .agg(round(first(col("med")), 9).as("med"),
            round(first(col("mad")), 9).as("mad"),
            count(lit(1)).as("n"),
            sum(when(abs(col("rz")) > lit(3.5), 1).otherwise(0))
              .cast("long").as("n_outliers"),
            (round(sum(when(abs(col("rz")) > lit(3.5), 1).otherwise(0))
                .cast("double") / count(lit(1)).cast("double"), 9)
              + lit(0.0)).as("outlier_frac"))
          .orderBy("event_type")
    }

    // Null-profile report (operators.Analytics.profileNulls): one agg pass,
    // tidy per-column completeness rows; nulls synthesized via nullif so
    // the counters are exercised on the null-free TPC-H columns.
    q("q_null_profile",
      """WITH s AS (SELECT nullif(l_returnflag, 'R') AS rf,
        |    nullif(l_linestatus, 'F') AS ls, l_quantity AS q FROM lineitem),
        |a AS (SELECT count(*) AS n, count(rf) AS c_rf, count(ls) AS c_ls,
        |    count(q) AS c_q FROM s)
        |SELECT 'rf' AS "column", n AS n_rows, n - c_rf AS n_nulls,
        |  CAST(n - c_rf AS DOUBLE) / CAST(n AS DOUBLE) AS null_frac FROM a
        |UNION ALL
        |SELECT 'ls', n, n - c_ls, CAST(n - c_ls AS DOUBLE) / CAST(n AS DOUBLE) FROM a
        |UNION ALL
        |SELECT 'q', n, n - c_q, CAST(n - c_q AS DOUBLE) / CAST(n AS DOUBLE) FROM a
        |ORDER BY "column"""".stripMargin) { (s, dir) =>
      val base = Tables.lineitem(s, dir).select(
        nullif(col("l_returnflag"), lit("R")).as("rf"),
        nullif(col("l_linestatus"), lit("F")).as("ls"),
        col("l_quantity").as("q"))
      graft.operators.Analytics.profileNulls(base, Seq("rf", "ls", "q"))
        .orderBy("column")
    }

    // Equi-width histogram: numeric profiling in one scan — bounds ride
    // as a broadcast one-row aggregate (no driver action), bucket math
    // replayed verbatim; the numeric companion to q_length_buckets.
    q("q_histogram",
      """WITH b AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
        |           FROM lineitem)
        |SELECT CAST(least(floor((l_extendedprice - lo) / ((hi - lo) / 20)), 19)
        |    AS INT) AS bucket,
        |  count(*) AS n,
        |  round(min(l_extendedprice), 9) AS bucket_min,
        |  round(max(l_extendedprice), 9) AS bucket_max
        |FROM lineitem, b
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val bounds = li.agg(min("l_extendedprice").as("lo"),
        max("l_extendedprice").as("hi"))
      val v = col("l_extendedprice")
      li.crossJoin(broadcast(bounds))
        .select(least(floor((v - col("lo")) / ((col("hi") - col("lo")) / 20)),
          lit(19)).cast("int").as("bucket"), v.as("p"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          round(min("p"), 9).as("bucket_min"),
          round(max("p"), 9).as("bucket_max"))
        .orderBy("bucket")
    }

    // Blocked fuzzy entity matching (operators.EntityMatch): first-token
    // + exact-length blocking bounds the quadratic, levenshtein verifies;
    // output aggregated per distance so the result stays compact.
    // TPC-H part names are pathologically self-similar (5 words from a
    // ~90-color vocabulary: ~150 true lev<=2 neighbors PER ROW at
    // sf0.1), so the demo runs on a deterministic 10% id slice — the
    // full corpus is the same plan with proportionally larger blocks.
    // Jaro-Winkler similarity (functions.JaroWinkler — codegen'd
    // kernel, canonical Winkler 1990 with DuckDB's empty-side → 0.0
    // edge): the record-linkage scorer levenshtein can't replace (it
    // rewards shared prefixes and tolerates transpositions). Adjacent
    // part-name pairs, the ngram-jaccard protocol.
    q("q_jaro_winkler",
      """SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
        |  round(jaro_winkler_similarity(a.p_name, b.p_name), 9)
        |    + CAST(0 AS DOUBLE) AS jw
        |FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1
        |ORDER BY key_a""".stripMargin) { (s, dir) =>
      val p = Tables.part(s, dir)
      val a = p.select(col("p_partkey").as("key_a"), col("p_name").as("na"))
      val b = p.select(col("p_partkey").as("key_b"), col("p_name").as("nb"))
      a.join(b, col("key_b") === col("key_a") + 1)
        .select(col("key_a"), col("key_b"),
          (round(graft.functions.JaroWinkler(col("na"), col("nb")), 9)
            + lit(0.0)).as("jw"))
        .orderBy("key_a")
    }

    q("q_fuzzy_match",
      """WITH p AS (SELECT p_partkey, p_name,
        |    string_split(p_name, ' ')[1] || '|' || CAST(length(p_name) AS VARCHAR)
        |      AS blk
        |  FROM part WHERE p_partkey % 10 = 0),
        |pairs AS (SELECT levenshtein(a.p_name, b.p_name) AS dist,
        |    a.p_partkey AS id_a, b.p_partkey AS id_b
        |  FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
        |  WHERE levenshtein(a.p_name, b.p_name) <= 2)
        |SELECT CAST(dist AS INT) AS dist, count(*) AS n_pairs,
        |  CAST(count(DISTINCT id_a) AS BIGINT) AS n_left
        |FROM pairs GROUP BY dist ORDER BY dist""".stripMargin) { (s, dir) =>
      import graft.operators.EntityMatch
      EntityMatch.fuzzyPairs(
          Tables.part(s, dir).filter(col("p_partkey") % 10 === 0),
          "p_partkey", "p_name",
          EntityMatch.tokenLengthBlock("p_name"), maxDist = 2)
        .groupBy(col("dist").cast("int").as("dist"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct("id_a").as("n_left"))
        .orderBy("dist")
    }

    // Jaro-Winkler-scored blocked entity pairs
    // (operators.EntityMatch.fuzzyPairsJaro): the prefix-weighted
    // linkage scorer beside the edit-distance form; same blocking, same
    // oversized-block drop. Per-threshold-band pair counts.
    q("q_fuzzy_jw",
      """WITH p AS (SELECT p_partkey, p_name,
        |    string_split(p_name, ' ')[1] || '|' || CAST(length(p_name) AS VARCHAR)
        |      AS blk
        |  FROM part WHERE p_partkey % 10 = 0),
        |pairs AS (SELECT
        |    jaro_winkler_similarity(a.p_name, b.p_name) AS jw,
        |    a.p_partkey AS id_a
        |  FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
        |  WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= CAST(0.85 AS DOUBLE))
        |SELECT CASE WHEN jw >= CAST(0.95 AS DOUBLE) THEN 'high'
        |            WHEN jw >= CAST(0.9 AS DOUBLE) THEN 'mid'
        |            ELSE 'low' END AS band,
        |  count(*) AS n_pairs,
        |  CAST(count(DISTINCT id_a) AS BIGINT) AS n_left,
        |  round(min(jw), 9) + CAST(0 AS DOUBLE) AS min_jw
        |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import graft.operators.EntityMatch
      EntityMatch.fuzzyPairsJaro(
          Tables.part(s, dir).filter(col("p_partkey") % 10 === 0),
          "p_partkey", "p_name",
          EntityMatch.tokenLengthBlock("p_name"), minSim = 0.85)
        .groupBy(when(col("jw") >= 0.95, "high")
          .when(col("jw") >= 0.9, "mid").otherwise("low").as("band"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct("id_a").as("n_left"),
          (round(min(col("jw")), 9) + lit(0.0)).as("min_jw"))
        .orderBy("band")
    }

    // k-anonymity governance report (operators.EntityMatch.kAnonymity):
    // every quasi-identifier equivalence class with its size and flag.
    q("q_k_anonymity",
      """SELECT c_nationkey, c_mktsegment,
        |  count(*) AS class_size, count(*) >= 25 AS anonymous
        |FROM customer GROUP BY 1, 2
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin) { (s, dir) =>
      import graft.operators.EntityMatch
      EntityMatch.kAnonymity(Tables.customer(s, dir), k = 25,
          "c_nationkey", "c_mktsegment")
        .orderBy("c_nationkey", "c_mktsegment")
    }

    // l-diversity report (operators.EntityMatch.lDiversity): class size
    // is not enough — every member sharing one sensitive value still
    // leaks it. Sensitive attribute = account-balance thousand-bucket.
    q("q_l_diversity",
      """SELECT c_nationkey, c_mktsegment, count(*) AS class_size,
        |  count(DISTINCT floor(c_acctbal / 1000)) AS n_sensitive,
        |  count(DISTINCT floor(c_acctbal / 1000)) >= 3 AS diverse
        |FROM customer GROUP BY 1, 2
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin) { (s, dir) =>
      import graft.operators.EntityMatch
      EntityMatch.lDiversity(
          Tables.customer(s, dir)
            .withColumn("bal_bucket", floor(col("c_acctbal") / 1000)),
          l = 3, "bal_bucket", "c_nationkey", "c_mktsegment")
        .orderBy("c_nationkey", "c_mktsegment")
    }

    // Temporal train/test split with embargo (operators.TimeGrid
    // .temporalSplit): trailing 7 days = test, 2-day embargo dropped,
    // rest = train; one one-row max(ts) aggregate broadcast into a
    // map-only CASE. Compact per-split report.
    q("q_temporal_split",
      s"""WITH c AS (SELECT max(ts) - INTERVAL 7 DAY AS test_start,
         |    max(ts) - INTERVAL 9 DAY AS embargo_start
         |  FROM ${Queries.EVENTS_SQL}),
         |lab AS (SELECT events.*, CASE WHEN ts > test_start THEN 'test'
         |    WHEN ts > embargo_start THEN 'embargo' ELSE 'train' END AS split
         |  FROM ${Queries.EVENTS_SQL}, c)
         |SELECT split, count(*) AS n_events,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |  min(ts) AS min_ts, max(ts) AS max_ts
         |FROM lab GROUP BY split ORDER BY split""".stripMargin) { (s, dir) =>
      import graft.operators.TimeGrid
      TimeGrid.temporalSplit(Tables.events(s, dir), "ts",
          testUnits = 7, embargoUnits = 2, unit = "day")
        .groupBy("split")
        .agg(count(lit(1)).as("n_events"),
          countDistinct("user_id").as("n_users"),
          min("ts").as("min_ts"), max("ts").as("max_ts"))
        .orderBy("split")
    }

    // Regular-grid resample + forward fill (pandas asfreq().ffill()):
    // dense per-key day grid via sequence()+explode, per-bucket last
    // observation by (ts, event_id), partitioned running last(ignore
    // nulls) fill (operators.TimeGrid).
    q("q_asfreq_ffill",
      s"""WITH ev AS (SELECT * FROM ${Queries.EVENTS_SQL} WHERE user_id < 6),
         |b AS (SELECT user_id, date_trunc('day', min(ts)) AS d0,
         |        date_trunc('day', max(ts)) AS d1 FROM ev GROUP BY 1),
         |grid AS (SELECT user_id,
         |    unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS bucket FROM b),
         |obs AS (SELECT user_id, date_trunc('day', ts) AS bucket,
         |    arg_max(value, CAST(epoch_ns(ts) AS HUGEINT) * 10000000000
         |      + event_id) AS v FROM ev GROUP BY 1, 2),
         |j AS (SELECT g.user_id, g.bucket, o.v
         |  FROM grid g LEFT JOIN obs o USING (user_id, bucket))
         |SELECT user_id, bucket,
         |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ff,
         |  v IS NOT NULL AS observed
         |FROM j ORDER BY user_id, bucket""".stripMargin) { (s, dir) =>
      import graft.operators.TimeGrid
      TimeGrid.asFreqFfill(
          Tables.events(s, dir).filter(col("user_id") < 6),
          "user_id", "ts", "value", "event_id", unit = "day")
        .orderBy("user_id", "bucket")
    }

    // Linear time interpolation on the dense day grid (pandas
    // resample().interpolate('linear') — operators.TimeGrid
    // .interpolateLinear): interior gaps interpolate by exact
    // microsecond fractions, trailing gaps ffill, leading stay NULL.
    q("q_interpolate",
      s"""WITH ev AS (SELECT * FROM ${Queries.EVENTS_SQL} WHERE user_id < 6),
         |b AS (SELECT user_id, date_trunc('day', min(ts)) AS d0,
         |        date_trunc('day', max(ts)) AS d1 FROM ev GROUP BY 1),
         |grid AS (SELECT user_id,
         |    unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS bucket FROM b),
         |obs AS (SELECT user_id, date_trunc('day', ts) AS bucket,
         |    arg_max(value, CAST(epoch_ns(ts) AS HUGEINT) * 10000000000
         |      + event_id) AS v FROM ev GROUP BY 1, 2),
         |j AS (SELECT g.user_id, g.bucket, o.v
         |  FROM grid g LEFT JOIN obs o USING (user_id, bucket)),
         |t AS (SELECT user_id, bucket, v,
         |    last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
         |      OVER wb AS pb,
         |    last_value(v IGNORE NULLS) OVER wb AS pv,
         |    first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
         |      OVER wf AS nb,
         |    first_value(v IGNORE NULLS) OVER wf AS nv
         |  FROM j WINDOW
         |    wb AS (PARTITION BY user_id ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |    wf AS (PARTITION BY user_id ORDER BY bucket
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT user_id, bucket,
         |  round(CASE WHEN v IS NOT NULL THEN v
         |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
         |      pv + (nv - pv)
         |        * (CAST(epoch_ns(bucket)//1000 - epoch_ns(pb)//1000 AS DOUBLE)
         |          / CAST(epoch_ns(nb)//1000 - epoch_ns(pb)//1000 AS DOUBLE))
         |    WHEN pv IS NOT NULL THEN pv END, 9) + CAST(0 AS DOUBLE)
         |    AS value_li,
         |  v IS NOT NULL AS observed
         |FROM t ORDER BY user_id, bucket""".stripMargin) { (s, dir) =>
      import graft.operators.TimeGrid
      TimeGrid.interpolateLinear(
          Tables.events(s, dir).filter(col("user_id") < 6),
          "user_id", "ts", "value", "event_id", unit = "day")
        .select(col("user_id"), col("bucket"),
          (round(col("value_li"), 9) + lit(0.0)).as("value_li"),
          col("observed"))
        .orderBy("user_id", "bucket")
    }

    // Per-group median imputation (Frame.fillnaByGroup — pandas
    // groupby().transform fillna): nulls synthesized deterministically,
    // filled with the group's exact median; one grouped stat join.
    q("q_impute_group",
      s"""WITH ev AS (SELECT event_type,
         |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
         |  FROM ${Queries.EVENTS_SQL}),
         |m AS (SELECT event_type, median(v) AS med FROM ev GROUP BY 1),
         |f AS (SELECT e.event_type, coalesce(v, med) AS v2, v IS NULL AS imp
         |  FROM ev e JOIN m USING (event_type))
         |SELECT event_type, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN imp THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
         |  round(avg(v2), 9) + CAST(0 AS DOUBLE) AS mean_imputed
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir).select(col("event_type"),
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value"))
          .as("v"))
        .withColumn("imp", col("v").isNull)
      graft.api.Frame(ev).fillnaByGroup("v", "event_type", "median")
        .toDF
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("imp"), 1).otherwise(0)).cast("long").as("n_imputed"),
          (round(avg(col("v")), 9) + lit(0.0)).as("mean_imputed"))
        .orderBy("event_type")
    }

    // pandas between_time: rows whose time-of-day falls in a window —
    // inclusive-both endpoints (the pandas default) plus the overnight
    // wrap-around form ("22:00"→"04:00") in one result.
    q("q_between_time",
      s"""WITH e AS (SELECT event_type,
         |    hour(ts) * 3600 + minute(ts) * 60 + CAST(second(ts) AS INTEGER)
         |      AS tod
         |  FROM ${Queries.EVENTS_SQL})
         |SELECT event_type,
         |  CAST(sum(CASE WHEN tod >= 9 * 3600 + 15 * 60 AND tod <= 17 * 3600
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_day,
         |  CAST(sum(CASE WHEN tod >= 22 * 3600 OR tod <= 4 * 3600
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_overnight
         |FROM e GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val day = graft.api.Frame(ev).betweenTime("ts", "09:15", "17:00")
        .toDF.groupBy("event_type").agg(count(lit(1)).as("n_day"))
      val night = graft.api.Frame(ev).betweenTime("ts", "22:00", "04:00")
        .toDF.groupBy("event_type").agg(count(lit(1)).as("n_overnight"))
      // anchor on ALL event types (the oracle groups the whole table, so
      // a type with zero rows in both windows must still appear as (0,0))
      ev.select(col("event_type")).distinct()
        .join(day, Seq("event_type"), "left")
        .join(night, Seq("event_type"), "left")
        .select(col("event_type"),
          coalesce(col("n_day"), lit(0L)).as("n_day"),
          coalesce(col("n_overnight"), lit(0L)).as("n_overnight"))
        .orderBy("event_type")
    }

    // pandas groupby.nth(2): the 3rd row of each group in key order —
    // via the bounded graft_top_k aggregate (k = 3 smallest per group,
    // take the last), NOT a rank window over a corpus-sized group (the
    // round-12 funnel rule).
    q("q_group_nth",
      """WITH r AS (SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_orderstatus, o_orderkey, o_totalprice
        |FROM r WHERE rn = 3 ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      functions.GraftFunctions.register(s)
      Tables.orders(s, dir)
        .groupBy("o_orderstatus")
        .agg(expr("graft_top_k(struct(o_orderkey, o_totalprice), 3, true)")
          .as("__top"))
        .filter(size(col("__top")) >= 3)
        .select(col("o_orderstatus"),
          col("__top").getItem(2).getField("o_orderkey").as("o_orderkey"),
          col("__top").getItem(2).getField("o_totalprice").as("o_totalprice"))
        .orderBy("o_orderstatus")
    }

    // EWM (pandas ewm(alpha).mean(), adjust=True) — a keyed sequential
    // recurrence no window can express (operators.Recurrence: one key
    // shuffle + streaming fold over sorted partitions). The oracle
    // replays the identical fold in a recursive CTE; (1 - 0.2) is
    // written as the expression on both sides so the decay constant is
    // the same IEEE double.
    q("q_ewm",
      s"""WITH RECURSIVE s AS (
         |  SELECT user_id, event_id, value,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
         |  FROM ${Queries.EVENTS_SQL} WHERE user_id < 10),
         |r AS (
         |  SELECT user_id, i, event_id, value AS num, CAST(1 AS DOUBLE) AS den
         |  FROM s WHERE i = 1
         |  UNION ALL
         |  SELECT s.user_id, s.i, s.event_id,
         |    s.value + (CAST(1 AS DOUBLE) - CAST(0.2 AS DOUBLE)) * r.num,
         |    1 + (CAST(1 AS DOUBLE) - CAST(0.2 AS DOUBLE)) * r.den
         |  FROM r JOIN s ON s.user_id = r.user_id AND s.i = r.i + 1)
         |SELECT event_id, round(num / den, 9) AS ewm
         |FROM r ORDER BY event_id""".stripMargin) { (s, dir) =>
      import graft.operators.Recurrence
      Recurrence.ewm(
          Tables.events(s, dir).filter(col("user_id") < 10)
            .select("user_id", "ts", "event_id", "value"),
          "user_id", Seq("ts", "event_id"), "value", alpha = 0.2)
        .select(col("event_id"), round(col("ewm"), 9).as("ewm"))
        .orderBy("event_id")
    }

    // EWM bias-corrected variance/std (pandas ewm(alpha).var()/.std(),
    // adjust=True, bias=False) — four-accumulator keyed recurrence
    // (operators.Recurrence.ewmVar: one key shuffle + streaming fold).
    // The oracle replays the identical fold step and final rational in
    // a recursive CTE, with the decay constant written as (1 - 0.2) on
    // both sides so every intermediate is the same IEEE double.
    q("q_ewm_var",
      s"""WITH RECURSIVE s AS (
         |  SELECT user_id, event_id, value,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
         |  FROM ${Queries.EVENTS_SQL} WHERE user_id < 10),
         |r AS (
         |  SELECT user_id, i, event_id,
         |    CAST(1 AS DOUBLE) AS sw, CAST(1 AS DOUBLE) AS sw2,
         |    value AS swx, value * value AS sxx
         |  FROM s WHERE i = 1
         |  UNION ALL
         |  SELECT s.user_id, s.i, s.event_id,
         |    1 + (CAST(1 AS DOUBLE) - CAST(0.2 AS DOUBLE)) * r.sw,
         |    1 + (CAST(1 AS DOUBLE) - CAST(0.2 AS DOUBLE))
         |      * (CAST(1 AS DOUBLE) - CAST(0.2 AS DOUBLE)) * r.sw2,
         |    s.value + (CAST(1 AS DOUBLE) - CAST(0.2 AS DOUBLE)) * r.swx,
         |    s.value * s.value
         |      + (CAST(1 AS DOUBLE) - CAST(0.2 AS DOUBLE)) * r.sxx
         |  FROM r JOIN s ON s.user_id = r.user_id AND s.i = r.i + 1),
         |v AS (SELECT event_id,
         |    CASE WHEN sw * sw - sw2 > 0
         |      THEN (sw * sxx - swx * swx) / (sw * sw - sw2) END AS ev
         |  FROM r)
         |SELECT event_id,
         |  round(ev, 9) + CAST(0 AS DOUBLE) AS ewm_var,
         |  round(CASE WHEN ev >= 0 THEN sqrt(ev) END, 9)
         |    + CAST(0 AS DOUBLE) AS ewm_std
         |FROM v ORDER BY event_id""".stripMargin) { (s, dir) =>
      import graft.operators.Recurrence
      Recurrence.ewmVar(
          Tables.events(s, dir).filter(col("user_id") < 10)
            .select("user_id", "ts", "event_id", "value"),
          "user_id", Seq("ts", "event_id"), "value", alpha = 0.2)
        .select(col("event_id"),
          (round(col("ewm_var"), 9) + lit(0.0)).as("ewm_var"),
          (round(col("ewm_std"), 9) + lit(0.0)).as("ewm_std"))
        .orderBy("event_id")
    }

    // Time-aware EWM over irregular gaps (pandas ewm(halflife, times),
    // operators.Recurrence.ewmIrregular): decay = 0.5^(Δdays/halflife)
    // per step. With halflife = 1 day and day-granular gaps every decay
    // is an exact power of two, so the recursive-CTE replay is
    // bit-for-bit (pow(0.5, k) is exact in any correctly-rounded pow).
    q("q_ewm_time",
      s"""WITH RECURSIVE s AS (
         |  SELECT user_id, event_id, ts, value,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
         |  FROM ${Queries.EVENTS_SQL} WHERE user_id < 10),
         |r AS (
         |  SELECT user_id, i, event_id, ts, value AS num,
         |    CAST(1 AS DOUBLE) AS den
         |  FROM s WHERE i = 1
         |  UNION ALL
         |  SELECT s.user_id, s.i, s.event_id, s.ts,
         |    s.value + pow(CAST(0.5 AS DOUBLE),
         |      CAST(date_diff('day', CAST(r.ts AS DATE), CAST(s.ts AS DATE))
         |        AS DOUBLE) / CAST(1 AS DOUBLE)) * r.num,
         |    1 + pow(CAST(0.5 AS DOUBLE),
         |      CAST(date_diff('day', CAST(r.ts AS DATE), CAST(s.ts AS DATE))
         |        AS DOUBLE) / CAST(1 AS DOUBLE)) * r.den
         |  FROM r JOIN s ON s.user_id = r.user_id AND s.i = r.i + 1)
         |SELECT event_id, round(num / den, 9) AS ewm_t
         |FROM r ORDER BY event_id""".stripMargin) { (s, dir) =>
      import graft.operators.Recurrence
      Recurrence.ewmIrregular(
          Tables.events(s, dir).filter(col("user_id") < 10)
            .select("user_id", "ts", "event_id", "value"),
          "user_id", Seq("ts", "event_id"), "value", "ts", halflifeDays = 1.0)
        .select(col("event_id"), round(col("ewm_t"), 9).as("ewm_t"))
        .orderBy("event_id")
    }

    // Last-touch conversion attribution: each purchase attributes to
    // the user's most recent view/click within 7 days (the as-of
    // backward join with tolerance — operators.AsOfJoin composed, the
    // marketing-analytics shape); unmatched purchases report as
    // 'unattributed'. Oracle uses DuckDB's native ASOF JOIN.
    q("q_attribution",
      s"""WITH ev AS (SELECT * FROM ${Queries.EVENTS_SQL}),
         |p AS (SELECT user_id, ts, event_id FROM ev
         |  WHERE event_type = 'purchase'),
         |t AS (SELECT user_id, ts, event_type AS channel FROM ev
         |  WHERE event_type IN ('view', 'click')),
         |j AS (SELECT p.event_id,
         |    CASE WHEN p.ts - t.ts <= INTERVAL 7 DAY THEN t.channel END
         |      AS channel
         |  FROM p ASOF LEFT JOIN t
         |    ON p.user_id = t.user_id AND p.ts >= t.ts),
         |tot AS (SELECT count(*) AS n FROM p)
         |SELECT coalesce(channel, 'unattributed') AS channel,
         |  count(*) AS n_conversions,
         |  round(CAST(count(*) AS DOUBLE) / CAST(min(tot.n) AS DOUBLE), 9)
         |    + CAST(0 AS DOUBLE) AS share
         |FROM j, tot GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id")
      val t = ev.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("ts"), col("event_type").as("channel"))
      val j = graft.operators.AsOfJoin.mergeAsOf(p, t, on = "ts",
        by = Seq("user_id"), tolerance = Some(7.0 * 24 * 3600 * 1000000))
      val tot = p.agg(count(lit(1)).as("n"))
      j.select(coalesce(col("channel"), lit("unattributed")).as("channel"))
        .groupBy("channel").agg(count(lit(1)).as("n_conversions"))
        .crossJoin(broadcast(tot))
        .select(col("channel"), col("n_conversions"),
          (round(col("n_conversions").cast("double") / col("n").cast("double"),
            9) + lit(0.0)).as("share"))
        .orderBy("channel")
    }

    q("q_resample_extra",
      s"""SELECT date_trunc('day', ts) AS day,
         |  round(var_samp(value), 9) AS day_var,
         |  round(stddev_samp(value), 9) AS day_std,
         |  count(DISTINCT user_id) AS day_users,
         |  quantile_cont(value, 0.9) AS day_p90,
         |  round(stddev_samp(value) / sqrt(count(value)), 9) AS day_sem
         |FROM ${Queries.EVENTS_SQL}
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 day"))
        .agg(round(var_samp(col("value")), 9).as("day_var"),
          round(stddev_samp(col("value")), 9).as("day_std"),
          countDistinct(col("user_id")).as("day_users"),
          expr("percentile(value, 0.9)").as("day_p90"),
          round(stddev_samp(col("value")) / sqrt(count(col("value"))), 9).as("day_sem"))
        .select(col("window.start").as("day"), col("day_var"), col("day_std"),
          col("day_users"), col("day_p90"), col("day_sem"))
        .orderBy("day")
    }
  }
}
