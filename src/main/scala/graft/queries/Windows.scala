package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** [EXT] Window-function catalog (SURVEY §2.5 — absent from the reference,
  * added as planned extensions). Every ordering inside a window uses a
  * unique tiebreak so results are deterministic for the oracle compare.
  */
object Windows {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // row_number: per-customer order sequence (IDENTITY-emulation shape, §7.4).
    "w1_row_number" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(w).as("rn"))
        .orderBy("o_custkey", "rn")
    }),

    // lag: days since the customer's previous order (null on the first).
    "w2_lag" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate").cast("date"),
            lag(col("o_orderdate"), 1).over(w).cast("date"))
            .as("days_since_prev"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // running sum with an explicit ROWS frame.
    "w3_running_sum" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(cents(col("o_totalprice"))).over(w).as("running_cents"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // top-n per group via row_number (the TOP-k-per-key idiom).
    "w4_topn_per_group" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    }),

    // rank vs dense_rank with real ties (customers ranked within nation).
    "w5_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc)
      customer(s, d).select(col("c_nationkey"), col("c_custkey"),
        rank().over(w).as("bal_rank"),
        dense_rank().over(w).as("bal_dense_rank"))
        .orderBy("c_nationkey", "c_custkey")
    }),

    // lead + first/last value over an explicit full-partition frame.
    "w7_lead_first_last" -> ((s, d) => {
      val ord = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          lead(col("o_orderkey"), 1).over(ord).as("next_orderkey"),
          first(col("o_orderkey")).over(full).as("first_orderkey"),
          last(col("o_orderkey")).over(full).as("last_orderkey"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // percent_rank / cume_dist (deterministic: rank arithmetic over ints).
    "w8_percent_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      customer(s, d).select(col("c_nationkey"), col("c_custkey"),
        percent_rank().over(w).as("bal_pct_rank"),
        cume_dist().over(w).as("bal_cume_dist"))
        .orderBy("c_nationkey", "c_custkey")
    }),

    // explicit NULLS FIRST/LAST ordering over an outer-join-produced null.
    "o6_nulls_ordering" -> ((s, d) => {
      val o95 = orders(s, d)
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1995-02-01").cast("timestamp"))
        .groupBy(col("o_custkey").as("k"))
        .agg(max(cents(col("o_totalprice"))).as("max_cents"))
      customer(s, d).join(o95, col("c_custkey") === col("k"), "left")
        .select(col("c_custkey"), col("max_cents"))
        .orderBy(col("max_cents").desc_nulls_last, col("c_custkey"))
        .limit(50)
    }),

    // ntile quartiles (unique ordering → deterministic tile assignment).
    // A global-ORDER-BY window: its single window task carries the whole
    // customer table, so the partition-less-window PlanSpec gate
    // allowlists it by name.
    "w6_ntile" -> ((s, d) => customer(s, d)
      .select(col("c_custkey"),
        ntile(4).over(Window.orderBy(col("c_acctbal"), col("c_custkey")))
          .as("bal_quartile"))
      .orderBy("c_custkey")),

    // ratio-to-report: each order's share of its priority class's total.
    // NOT a window: partitionBy(o_orderpriority) would route the whole
    // fact through 5 tasks (one per priority class) — the textbook
    // scalable form is a partial+final per-class aggregate broadcast back
    // into one scan. Integer-cents sums are order-independent, so this is
    // byte-identical to the window formulation (the DuckDB twin keeps the
    // OVER (PARTITION BY) form — two different plans, one hash).
    "w10_ratio_to_report" -> ((s, d) => {
      val priced = orders(s, d)
        .withColumn("price_cents", cents(col("o_totalprice")))
      val totals = priced.groupBy(col("o_orderpriority"))
        .agg(sum(col("price_cents")).as("prio_total"))
      priced.join(broadcast(totals), "o_orderpriority")
        .select(col("o_orderkey"), col("o_orderpriority"), col("price_cents"),
          (col("price_cents").cast("double")
            / col("prio_total").cast("double")).as("share"))
        .orderBy("o_orderkey")
    }),

    // fixed-width histogram: bucket index by pure integer arithmetic
    // (engine-portable, unlike engine-native histogram aggregates).
    "a19_histogram" -> ((s, d) => orders(s, d)
      .withColumn("price_cents", cents(col("o_totalprice")))
      .withColumn("bucket",
        expr("least(greatest((price_cents - 100000) div 5000000, 0L), 9L)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"),
        min(col("price_cents")).as("lo_cents"),
        max(col("price_cents")).as("hi_cents"))
      .orderBy("bucket"))
  )

  val oracle: Map[String, String] = Map(
    "w1_row_number" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS INT) AS rn
        |FROM orders ORDER BY o_custkey, rn""".stripMargin,
    "w2_lag" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(date_diff('day',
        |    CAST(lag(o_orderdate, 1) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS DATE),
        |    CAST(o_orderdate AS DATE)) AS INT) AS days_since_prev
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "w3_running_sum" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS running_cents
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "w4_topn_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "w5_rank" ->
      """SELECT c_nationkey, c_custkey,
        |  CAST(rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS INT)
        |    AS bal_rank,
        |  CAST(dense_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS INT)
        |    AS bal_dense_rank
        |FROM customer ORDER BY c_nationkey, c_custkey""".stripMargin,
    "w7_lead_first_last" ->
      """SELECT o_custkey, o_orderkey,
        |  lead(o_orderkey, 1) OVER w AS next_orderkey,
        |  first_value(o_orderkey) OVER wf AS first_orderkey,
        |  last_value(o_orderkey) OVER wf AS last_orderkey
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "w8_percent_rank" ->
      """SELECT c_nationkey, c_custkey,
        |  percent_rank() OVER w AS bal_pct_rank,
        |  cume_dist() OVER w AS bal_cume_dist
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_nationkey, c_custkey""".stripMargin,
    "o6_nulls_ordering" ->
      """SELECT c_custkey, max_cents FROM customer
        |LEFT JOIN (
        |  SELECT o_custkey AS k,
        |    CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-02-01'
        |  GROUP BY o_custkey) o ON c_custkey = k
        |ORDER BY max_cents DESC NULLS LAST, c_custkey LIMIT 50""".stripMargin,
    "w6_ntile" ->
      """SELECT c_custkey,
        |  CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS INT) AS bal_quartile
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "w10_ratio_to_report" ->
      """SELECT o_orderkey, o_orderpriority, price_cents,
        |  CAST(price_cents AS DOUBLE) /
        |    CAST(sum(price_cents) OVER (PARTITION BY o_orderpriority) AS DOUBLE)
        |    AS share
        |FROM (SELECT o_orderkey, o_orderpriority,
        |        CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |      FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "a19_histogram" ->
      """SELECT bucket, count(*) AS cnt,
        |  min(price_cents) AS lo_cents, max(price_cents) AS hi_cents
        |FROM (
        |  SELECT least(greatest((price_cents - 100000) // 5000000, 0), 9) AS bucket,
        |    price_cents
        |  FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |        FROM orders))
        |GROUP BY bucket ORDER BY bucket""".stripMargin
  )
}
