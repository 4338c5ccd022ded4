package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** [EXT] Round-2 depth: exact order statistics, multi-distinct profiling,
  * numerically-exact variance, RANGE window frames, SCD2 interval builds,
  * MERGE-style upserts, and date-spine gap filling — the remaining
  * warehouse surfaces a reference user would reach for, each with a DuckDB
  * oracle twin.
  *
  * Oracle-determinism notes (see Tables scaladoc for the cents policy):
  *  - percentiles use only dyadic fractions (.25/.5/.75) over integer
  *    cents, so linear interpolation is exact in double regardless of the
  *    engine's interpolation formula;
  *  - variance avoids the engines' own VAR_SAMP (different streaming
  *    algorithms) and instead derives it from exact integer sums with one
  *    fixed double expression evaluated identically on both sides.
  */
object Depth {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Exact percentiles (order statistics) per group — dyadic fractions
    // over integer cents keep interpolation exact (see object scaladoc).
    "a15_percentiles" -> ((s, d) => lineitem(s, d)
      .withColumn("c", cents(col("l_extendedprice")))
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(c, 0.25D)").as("p25"),
        expr("percentile(c, 0.5D)").as("p50"),
        expr("percentile(c, 0.75D)").as("p75"))
      .orderBy("l_returnflag")),

    // Multiple COUNT(DISTINCT) in one aggregate (expand-based plan).
    "a16_count_distinct" -> ((s, d) => lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("uniq_supp"),
        countDistinct(col("l_partkey")).as("uniq_part"),
        countDistinct(col("l_orderkey")).as("uniq_order"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag")),

    // Sample variance / stddev from exact integer sums: sum and sum-of-
    // squares stay in integer/decimal domain (order-independent), the final
    // double expression has one fixed shape on both engines.
    "a17_variance" -> ((s, d) => lineitem(s, d)
      .withColumn("c", cents(col("l_extendedprice")))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s_cents"),
        sum(col("c").cast("decimal(38,0)") * col("c").cast("decimal(38,0)"))
          .as("ss"))
      .select(col("l_returnflag"), col("n"), col("s_cents"),
        ((col("ss").cast("double")
          - col("s_cents").cast("double") * col("s_cents").cast("double")
            / col("n")) / (col("n") - 1)).as("var_cents"))
      .withColumn("std_cents", sqrt(col("var_cents")))
      .orderBy("l_returnflag")),

    // RANGE window frame: running sum of order totals within $1000 (100k
    // cents) below the current order's price, per priority class.
    "w9_range_frame" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("price_cents")).rangeBetween(-100000L, 0L)
      orders(s, d)
        .withColumn("price_cents", cents(col("o_totalprice")))
        .withColumn("near_sum", sum(col("price_cents")).over(w))
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("price_cents"), col("near_sum"))
        .orderBy("o_orderkey")
    }),

    // SCD Type-2 interval build: each order is a "version" of its
    // customer's state; valid_to = next version's valid_from (open-ended
    // current row), the standard lead()-based SCD2 derivation.
    "x_scd2" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("valid_from"), col("o_orderkey"))
      orders(s, d)
        .withColumn("valid_from", to_date(col("o_orderdate")))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd").as("valid_to"),
          when(col("valid_to").isNull, 1).otherwise(0).as("is_current"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // MERGE-style upsert as an idempotent recompute (the Spark analogue of
    // reference D1 UPDATE...FROM at warehouse scale): full-outer join of
    // target dim vs source delta, action = update/insert/keep.
    "d1_merge_upsert" -> ((s, d) => {
      val target = customer(s, d).filter(pmod(col("c_custkey"), lit(3)) === 0)
        .select(col("c_custkey").as("t_key"),
          cents(col("c_acctbal")).as("acct_cents"))
      val source = orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("o_cnt"))
        .select(col("o_custkey").as("s_key"), col("o_cnt"))
      target.join(source, col("t_key") === col("s_key"), "full")
        .select(
          coalesce(col("t_key"), col("s_key")).as("cust_id"),
          when(col("t_key").isNotNull && col("s_key").isNotNull, "update")
            .when(col("t_key").isNull, "insert")
            .otherwise("keep").as("action"),
          coalesce(col("o_cnt"), lit(0L)).as("o_cnt"),
          coalesce(col("acct_cents"), lit(0L)).as("acct_cents"))
        .orderBy("cust_id")
    }),

    // Date-spine gap fill: dense (day x event_type) grid over the observed
    // range, missing combinations filled with 0 — the time-series
    // completeness operator every reporting layer needs.
    "x_gapfill" -> ((s, d) => {
      val e = events(s, d)
        .select(to_date(col("ts")).as("day"), col("event_type"))
      val spine = e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(expr("sequence(lo, hi)")).as("day"))
      val types = e.select(col("event_type")).distinct()
      val counts = e.groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      spine.crossJoin(types)
        .join(counts, Seq("day", "event_type"), "left")
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("event_type"), coalesce(col("cnt"), lit(0L)).as("cnt"))
        .orderBy("day", "event_type")
    }),

    // TPC-H Q6 shape: single-scan filtered arithmetic aggregate. The
    // 4-decimal product goes through an exact x10000 integer (same policy
    // as cents for 2-decimal money).
    "tpch_q6" -> ((s, d) => lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1996-01-01").cast("timestamp")
        && col("l_discount").between(0.05, 0.07)
        && col("l_quantity") < 24)
      .agg(sum(round(col("l_extendedprice") * col("l_discount") * 10000)
        .cast("long")).as("revenue_x10000"),
        count(lit(1)).as("line_cnt"))),

    // UNPIVOT (melt): wide per-group metrics back to (group, metric, value)
    // rows — the inverse of a12_pivot, needed whenever a wide gold table
    // feeds a long-format consumer.
    "a18_unpivot" -> ((s, d) => lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
        min(cents(col("l_extendedprice"))).as("min_price_cents"),
        max(cents(col("l_extendedprice"))).as("max_price_cents"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_price_cents"), col("min_price_cents"),
          col("max_price_cents")),
        "metric", "value")
      .orderBy("l_returnflag", "metric")),

    // Correlated LATERAL join: top-2 nations by customer balance per
    // region — the per-row-subquery shape (TOP-N per outer row) that plain
    // joins can't express without a window re-shuffle.
    "j17_lateral" -> ((s, d) => {
      region(s, d).createOrReplaceTempView("lat_region")
      nation(s, d).createOrReplaceTempView("lat_nation")
      customer(s, d).createOrReplaceTempView("lat_customer")
      s.sql(
        """SELECT r.r_name, t.n_name, t.bal_cents
          |FROM lat_region r, LATERAL (
          |  SELECT n.n_name,
          |    sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS bal_cents
          |  FROM lat_nation n JOIN lat_customer c
          |    ON c.c_nationkey = n.n_nationkey
          |  WHERE n.n_regionkey = r.r_regionkey
          |  GROUP BY n.n_name ORDER BY bal_cents DESC, n_name LIMIT 2) t
          |ORDER BY r.r_name, t.bal_cents DESC, t.n_name""".stripMargin)
    }),

    // TPC-H Q12 shape: join + dual conditional counts per class (shipmode
    // column absent from the synthetic schema -> l_returnflag stands in).
    "tpch_q12" -> ((s, d) => lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
          .otherwise(0)).as("high_line_cnt"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0)
          .otherwise(1)).as("low_line_cnt"))
      .orderBy("l_returnflag"))
  )

  val oracle: Map[String, String] = Map(
    "a15_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(c, 0.25) AS p25,
        |  quantile_cont(c, 0.5) AS p50,
        |  quantile_cont(c, 0.75) AS p75
        |FROM (SELECT l_returnflag,
        |        CAST(round(l_extendedprice * 100) AS BIGINT) AS c
        |      FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "a16_count_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_suppkey) AS uniq_supp,
        |  count(DISTINCT l_partkey) AS uniq_part,
        |  count(DISTINCT l_orderkey) AS uniq_order,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "a17_variance" ->
      """SELECT l_returnflag, n, s_cents,
        |  (CAST(ss AS DOUBLE) - CAST(s_cents AS DOUBLE) * CAST(s_cents AS DOUBLE) / n)
        |    / (n - 1) AS var_cents,
        |  sqrt((CAST(ss AS DOUBLE) - CAST(s_cents AS DOUBLE) * CAST(s_cents AS DOUBLE) / n)
        |    / (n - 1)) AS std_cents
        |FROM (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(c) AS BIGINT) AS s_cents,
        |    sum(CAST(c AS HUGEINT) * c) AS ss
        |  FROM (SELECT l_returnflag,
        |          CAST(round(l_extendedprice * 100) AS BIGINT) AS c
        |        FROM lineitem)
        |  GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,
    "w9_range_frame" ->
      """SELECT o_orderkey, o_orderpriority, price_cents,
        |  CAST(sum(price_cents) OVER (PARTITION BY o_orderpriority
        |    ORDER BY price_cents
        |    RANGE BETWEEN 100000 PRECEDING AND CURRENT ROW) AS BIGINT) AS near_sum
        |FROM (SELECT o_orderkey, o_orderpriority,
        |        CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |      FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "x_scd2" ->
      """SELECT o_custkey, o_orderkey,
        |  strftime(valid_from, '%Y-%m-%d') AS valid_from,
        |  strftime(valid_to, '%Y-%m-%d') AS valid_to,
        |  CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
        |FROM (
        |  SELECT o_custkey, o_orderkey, valid_from,
        |    lead(valid_from, 1) OVER (PARTITION BY o_custkey
        |      ORDER BY valid_from, o_orderkey) AS valid_to
        |  FROM (SELECT o_custkey, o_orderkey,
        |          CAST(o_orderdate AS DATE) AS valid_from
        |        FROM orders))
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "d1_merge_upsert" ->
      """WITH target AS (
        |  SELECT c_custkey AS t_key,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS acct_cents
        |  FROM customer WHERE c_custkey % 3 = 0
        |), source AS (
        |  SELECT o_custkey AS s_key, count(*) AS o_cnt
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  GROUP BY o_custkey
        |)
        |SELECT coalesce(t_key, s_key) AS cust_id,
        |  CASE WHEN t_key IS NOT NULL AND s_key IS NOT NULL THEN 'update'
        |       WHEN t_key IS NULL THEN 'insert'
        |       ELSE 'keep' END AS action,
        |  coalesce(o_cnt, 0) AS o_cnt,
        |  coalesce(acct_cents, 0) AS acct_cents
        |FROM target FULL OUTER JOIN source ON t_key = s_key
        |ORDER BY cust_id""".stripMargin,
    "x_gapfill" ->
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type FROM events
        |), b AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
        |spine AS (
        |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM b
        |), ty AS (SELECT DISTINCT event_type FROM d),
        |cnt AS (SELECT day, event_type, count(*) AS c FROM d GROUP BY day, event_type)
        |SELECT strftime(s.day, '%Y-%m-%d') AS day, ty.event_type,
        |  coalesce(c, 0) AS cnt
        |FROM spine s CROSS JOIN ty
        |LEFT JOIN cnt ON cnt.day = s.day AND cnt.event_type = ty.event_type
        |ORDER BY 1, 2""".stripMargin,
    "tpch_q6" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT))
        |    AS BIGINT) AS revenue_x10000,
        |  count(*) AS line_cnt
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "a18_unpivot" ->
      """WITH a AS (
        |  SELECT l_returnflag,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS sum_price_cents,
        |    min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS min_price_cents,
        |    max(CAST(round(l_extendedprice * 100) AS BIGINT)) AS max_price_cents
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, metric, value
        |FROM a UNPIVOT (value FOR metric IN
        |  (sum_price_cents, min_price_cents, max_price_cents))
        |ORDER BY l_returnflag, metric""".stripMargin,
    "j17_lateral" ->
      """SELECT r.r_name, t.n_name, t.bal_cents
        |FROM region r, LATERAL (
        |  SELECT n.n_name,
        |    CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |      AS bal_cents
        |  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  GROUP BY n.n_name ORDER BY bal_cents DESC, n_name LIMIT 2) t
        |ORDER BY r.r_name, t.bal_cents DESC, t.n_name""".stripMargin,
    "tpch_q12" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_cnt,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_cnt
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  )
}
