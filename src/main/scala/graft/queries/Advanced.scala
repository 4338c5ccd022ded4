package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** [EXT] Operators beyond the reference's surface that Spark gives (nearly)
  * free and a 100 TB warehouse needs: multi-dimensional aggregates
  * (rollup/cube/grouping sets), approximate aggregates (HLL, quantiles),
  * as-of and range joins (the point-in-time lookup SURVEY §2.3 flags for
  * CoveragePeriod), and explicit skew-salting (the manual fallback when AQE
  * skew-join can't help, e.g. skewed aggregation keys).
  */
object Advanced {
  type Q = (SparkSession, String) => DataFrame

  /** Per-invocation scratch dirs for the layout/versioning queries,
    * reaped at JVM exit (see [[graft.Scratch]]) — repeated harness
    * invocations (oracle dump, plan gates, bench passes) would otherwise
    * leak a rewritten table copy per call. */
  private def scratch(prefix: String): String = graft.Scratch.dir(prefix)

  /** Train-once layout caches (the x_media_neardup `computeIfAbsent`
    * pattern): the z-ordered rewrite + zone map and the versioned-table
    * build are WRITE-time costs a serving deployment pays once, so the
    * registered queries bench the READ path — listing-time pruning +
    * aggregate. One build per (session, dataset) under concurrent
    * callers; the write path stays exercised by LayoutSpec/VersionedSpec
    * and the stress sections. */
  private val zorderCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()
  private def zorderLayoutFor(s: SparkSession, d: String): String =
    zorderCache.computeIfAbsent((s, d), { _ =>
      val dir = scratch("graft_zorder_q") + "/data"
      graft.sources.Layout.writeZOrdered(
        lineitem(s, d), dir, Seq("l_orderkey", "l_partkey"), files = 16)
      dir
    })

  private val versionedPrunedCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()
  private def versionedPrunedFor(s: SparkSession, d: String): String =
    versionedPrunedCache.computeIfAbsent((s, d), { _ =>
      val base = scratch("graft_versioned_zm") + "/t"
      val ord = orders(s, d)
      val z = Seq("o_orderkey", "o_custkey")
      // two z-ordered commits, each staged with a zone-map sidecar: the
      // snapshot's file listing is prunable across BOTH commits
      graft.sources.Versioned.commit(graft.sources.Layout.zOrderFrame(
        ord.filter(pmod(col("o_orderkey"), lit(2)) === 0), z, files = 8),
        base, statsCols = z)
      graft.sources.Versioned.commit(graft.sources.Layout.zOrderFrame(
        ord.filter(pmod(col("o_orderkey"), lit(2)) === 1), z, files = 8),
        base, org.apache.spark.sql.SaveMode.Append, statsCols = z)
      base
    })

  private val versionedBloomCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()
  private def versionedBloomFor(s: SparkSession, d: String): String =
    versionedBloomCache.computeIfAbsent((s, d), { _ =>
      val base = scratch("graft_versioned_bf") + "/t"
      val ord = orders(s, d)
      // two range-clustered commits, each staged with a per-file bloom
      // sidecar: a point probe is confined to few files of EITHER
      // commit. Sizing scoped to this build (≈20k rows per bench file)
      // — a leaked session conf would undersize every later bloom table.
      def clustered(df: DataFrame): DataFrame =
        df.repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey")
      graft.sources.Versioned.withBloomSizing(s, 1L << 15, 1L << 18) {
        graft.sources.Versioned.commit(
          clustered(ord.filter(pmod(col("o_orderkey"), lit(2)) === 0)),
          base, bloomCols = Seq("o_orderkey"))
        graft.sources.Versioned.commit(
          clustered(ord.filter(pmod(col("o_orderkey"), lit(2)) === 1)),
          base, org.apache.spark.sql.SaveMode.Append,
          bloomCols = Seq("o_orderkey"))
      }
      base
    })

  private val versionedWhereCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()
  private def versionedWhereFor(s: SparkSession, d: String): String =
    versionedWhereCache.computeIfAbsent((s, d), { _ =>
      val base = scratch("graft_versioned_w") + "/t"
      val ord = orders(s, d)
      val z = Seq("o_orderkey", "o_custkey")
      // both skipping layers on one table: z-ordered commits with a
      // zone map over the z-columns PLUS the DATE column (typed family
      // — epoch-day bounds) AND a bloom sidecar on the customer key —
      // readWhere picks whichever its predicate can use
      val stats = z :+ "o_orderdate"
      graft.sources.Versioned.withBloomSizing(s, 1L << 15, 1L << 18) {
        graft.sources.Versioned.commit(graft.sources.Layout.zOrderFrame(
          ord.filter(pmod(col("o_orderkey"), lit(2)) === 0), z, files = 8),
          base, statsCols = stats, bloomCols = Seq("o_custkey"))
        graft.sources.Versioned.commit(graft.sources.Layout.zOrderFrame(
          ord.filter(pmod(col("o_orderkey"), lit(2)) === 1), z, files = 8),
          base, org.apache.spark.sql.SaveMode.Append,
          statsCols = stats, bloomCols = Seq("o_custkey"))
      }
      base
    })

  val queries: Map[String, Q] = Map(
    // ROLLUP over (year, priority). Grouping nulls are labeled 'ALL' so the
    // oracle compare never depends on engine null-ordering.
    "g1_rollup" -> ((s, d) => orders(s, d)
      .withColumn("yr", year(col("o_orderdate")).cast("int"))
      .rollup(col("yr"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"),
        sum(cents(col("o_totalprice"))).as("total_cents"))
      .select(
        coalesce(col("yr").cast("string"), lit("ALL")).as("yr"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("cnt"), col("total_cents"))
      .orderBy("yr", "priority")),

    // CUBE over (returnflag, linestatus).
    "g2_cube" -> ((s, d) => lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("cnt"))
      .orderBy("returnflag", "linestatus")),

    // GROUPING SETS ((segment), (nation), ()) via SQL.
    "g3_grouping_sets" -> ((s, d) => {
      customer(s, d).createOrReplaceTempView("gs_customer")
      s.sql(
        """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
          |  coalesce(CAST(c_nationkey AS STRING), 'ALL') AS nationkey,
          |  count(*) AS cnt
          |FROM gs_customer
          |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
          |ORDER BY segment, nationkey""".stripMargin)
    }),

    // Approximate distinct (HLL) + approximate quantiles — the sketches a
    // 100 TB pipeline uses instead of exact distincts. The sketch VALUES
    // are engine-specific, so the oracle-checkable result is the exact
    // side plus hard bound checks computed in Spark: the HLL estimate
    // within 5× its rsd=0.05 standard error of the exact distinct
    // (|apx−exact|·4 ≤ exact, exact integer compare), and the approx p50's
    // RANK within ±5% of the true median rank (percentile_approx(acc=1000)
    // guarantees ±0.1%; 5% absorbs value ties). The oracle asserts the
    // flags as literal TRUE — any sketch drift past its published bound
    // flips a flag and fails the hash compare.
    "x_approx_agg" -> ((s, d) => {
      val o = orders(s, d)
      val apx = o.groupBy(col("o_orderpriority"))
        .agg(approx_count_distinct(col("o_custkey")).as("apx_custs"),
          countDistinct(col("o_custkey")).as("exact_custs"),
          percentile_approx(col("o_totalprice"), lit(0.5), lit(1000))
            .as("apx_p50"))
      o.join(broadcast(apx.select(col("o_orderpriority").as("apx_pri"),
          col("apx_p50"))),
          col("o_orderpriority") === col("apx_pri"))
        .groupBy(col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_totalprice") <= col("apx_p50"), 1L).otherwise(0L))
            .as("below"))
        .join(apx, col("pri") === col("o_orderpriority"))
        .select(col("o_orderpriority"), col("exact_custs"),
          (abs(col("apx_custs") - col("exact_custs")) * lit(4L)
            <= col("exact_custs")).as("hll_within_bound"),
          (col("below") * lit(100L) >= col("n") * lit(45L)
            && col("below") * lit(100L) <= col("n") * lit(55L))
            .as("p50_rank_within_bound"))
        .orderBy("o_orderpriority")
    }),

    // As-of join: each purchase matched to the user's latest prior-or-equal
    // click. Implemented shuffle-once: union both event kinds, one window
    // pass carrying the last click timestamp forward (no per-row range
    // probe; at 100 TB this is one sort-merge per user partition).
    "x_asof_join" -> ((s, d) => {
      val e = events(s, d)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.filter(col("event_type").isin("click", "purchase"))
        .withColumn("click_ts",
          when(col("event_type") === "click", col("ts")))
        .withColumn("last_click_ts",
          last(col("click_ts"), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase"
          && col("last_click_ts").isNotNull)
        .select(col("event_id"), col("user_id"),
          (unix_timestamp(col("ts")) - unix_timestamp(col("last_click_ts")))
            .as("secs_since_click"))
        .orderBy("event_id")
    }),

    // Range join: orders matched into derived quarter windows
    // [start, end) — the CoveragePeriod point-in-time shape, via the
    // standard BANDING trick: both sides derive a coarse band key (here
    // the calendar quarter, which tiles the intervals exactly; overlapping
    // intervals would explode into every band they touch), the join is an
    // EQUI-join on the band with the range predicate kept as residual —
    // a broadcast hash join probing one bucket per row instead of a
    // nested loop over every (row, interval) pair. PlanSpec pins the
    // BroadcastHashJoin.
    "x_range_join" -> ((s, d) => {
      val quarters = orders(s, d)
        .select(year(col("o_orderdate")).cast("int").as("yr"),
          quarter(col("o_orderdate")).cast("int").as("qtr"))
        .distinct()
        .withColumn("q_start",
          make_date(col("yr"), (col("qtr") - 1) * 3 + 1, lit(1)))
        .withColumn("q_end", add_months(col("q_start"), 3))
      orders(s, d)
        .withColumn("b_yr", year(col("o_orderdate")).cast("int"))
        .withColumn("b_qtr", quarter(col("o_orderdate")).cast("int"))
        .join(broadcast(quarters),
          col("b_yr") === col("yr") && col("b_qtr") === col("qtr")
            && col("o_orderdate").cast("date") >= col("q_start")
            && col("o_orderdate").cast("date") < col("q_end"))
        .groupBy(col("yr"), col("qtr"))
        .agg(count(lit(1)).as("order_cnt"))
        .orderBy("yr", "qtr")
    }),

    // Bloom-filter semi-join reduction (the manual runtime filter): the
    // fact is pre-filtered through a bloom of the FILTERED dim's join
    // keys before any exchange, so the shuffle only carries rows that can
    // match (~4% here + fpp). No false negatives → result identical to
    // the plain join (the oracle); false positives die in the join.
    "x_bloom_join" -> ((s, d) => {
      val dim = orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT"
          && year(col("o_orderdate")) === 1995)
      graft.functions.BloomJoin.reduceJoin(
          lineitem(s, d), dim, col("l_orderkey"), col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"),
          sum(cents(col("l_extendedprice"))).as("billed_cents"))
        .orderBy("l_returnflag")
    }),

    // Z-order + zone-map scan under the correctness gate: lineitem is
    // re-clustered on (l_orderkey, l_partkey), the zone map prunes the
    // file LISTING for a two-dimension range slice, and the aggregate
    // over the pruned read must equal the plain filtered scan (the
    // oracle) — pruning may only drop files with no matching rows.
    "x_zorder_scan" -> ((s, d) => {
      val li = lineitem(s, d)
      val dir = zorderLayoutFor(s, d) // train-once: bench cost = read path
      val hiOk = li.agg(max(col("l_orderkey"))).head().getLong(0).toDouble / 8
      val hiPk = li.agg(max(col("l_partkey"))).head().getLong(0).toDouble / 8
      graft.sources.Layout.readZonePruned(s, dir,
          Seq(("l_orderkey", 0.0, hiOk), ("l_partkey", 0.0, hiPk)))
        .filter(col("l_orderkey") <= hiOk && col("l_partkey") <= hiPk)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"),
          sum(cents(col("l_extendedprice"))).as("billed_cents"))
        .orderBy("l_returnflag")
    }),

    // Versioned-table commit protocol under the correctness gate: two
    // atomic commits (overwrite, then append) into a fresh table, read
    // back the LATEST snapshot through the manifest — the union of both
    // batches must equal the plain source aggregate (the oracle). The
    // isolation/time-travel/vacuum halves are VersionedSpec's.
    "x_versioned_scan" -> ((s, d) => {
      val base = scratch("graft_versioned_q") + "/t"
      val ord = orders(s, d)
      graft.sources.Versioned.commit(
        ord.filter(pmod(col("o_orderkey"), lit(2)) === 0), base)
      graft.sources.Versioned.commit(
        ord.filter(pmod(col("o_orderkey"), lit(2)) === 1), base,
        org.apache.spark.sql.SaveMode.Append)
      graft.sources.Versioned.read(s, base)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy("o_orderpriority")
    }),

    // Versioned snapshots × zone-map pruning under the correctness gate
    // (the r8 layers composed): both commits staged z-ordered with
    // per-file min/max sidecars, so the LATEST snapshot's file LISTING
    // prunes across commit boundaries — the aggregate over the pruned
    // read must equal the plain filtered scan (the oracle; pruning may
    // only drop files holding no matches). Bench cost is the read path:
    // the table builds once per (session, dataset).
    "x_versioned_pruned" -> ((s, d) => {
      val base = versionedPrunedFor(s, d)
      val ord = orders(s, d)
      val hiOk = ord.agg(max(col("o_orderkey"))).head().getLong(0).toDouble / 8
      val hiCk = ord.agg(max(col("o_custkey"))).head().getLong(0).toDouble / 8
      graft.sources.Versioned.readWhere(s, base,
          col("o_orderkey") <= hiOk && col("o_custkey") <= hiCk)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy("o_orderpriority")
    }),

    // Per-file bloom sidecars under the correctness gate — the POINT-
    // LOOKUP twin of x_versioned_pruned: both commits staged with a
    // bloom filter per (file, key column), so an equality probe on two
    // needle keys plans only the files that might contain them (no
    // false negatives — pruning may only drop files provably empty of
    // the probes); the probed read must equal the plain IN-list scan
    // (the oracle). Sidecar mechanics / DML survival / fail-open are
    // VersionedSpec's. Bench cost is the read path (train-once table).
    "x_versioned_bloomprune" -> ((s, d) => {
      val base = versionedBloomFor(s, d)
      val ord = orders(s, d)
      val mm = ord.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
      val probes = Seq(mm.getLong(0), mm.getLong(1))
      graft.sources.Versioned.readWhere(s, base,
          col("o_orderkey").isin(probes: _*))
        .select(col("o_orderkey"), col("o_orderpriority"),
          cents(col("o_totalprice")).as("price_cents"))
        .orderBy("o_orderkey")
    }),

    // Predicate-driven reads under the correctness gate — readWhere is
    // the planner face of both skipping layers: ONE ordinary filter
    // expression, from which the storage layer extracts the range
    // envelope (zone maps over the z-columns) AND the equality probe
    // (bloom sidecar over the customer key), prunes the file listing
    // through whichever each directory carries, and re-applies the
    // precise predicate — row-identical to the plain filtered scan (the
    // oracle). Index-selection sharpness / fail-open / contradiction
    // short-circuit are VersionedSpec's. Bench cost is the read path.
    "x_versioned_where" -> ((s, d) => {
      val base = versionedWhereFor(s, d)
      val ord = orders(s, d)
      val ck = ord.agg(max(col("o_custkey"))).head().getLong(0)
      val hiOk = ord.agg(max(col("o_orderkey"))).head().getLong(0) / 2.0
      // numeric range + bloom point + a DATE-range DISJUNCTION: the
      // string literals encode as epoch days against the sidecar's
      // date family, and the OR prunes via the per-branch interval hull
      graft.sources.Versioned.readWhere(s, base,
          col("o_custkey") === ck && col("o_orderkey") <= hiOk &&
            (col("o_orderdate") >= "1995-06-01" ||
              col("o_orderdate") < "1993-06-01"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
          cents(col("o_totalprice")).as("price_cents"))
        .orderBy("o_orderkey")
    }),

    // CHECK constraints under the correctness gate: commit half the
    // table, add a price-cap constraint, attempt an append whose
    // transformed prices partly violate it — the batch must be rejected
    // WHOLE (all-or-nothing, no version published) — then append the
    // clean subset; the final snapshot must equal the relational
    // equivalent (the oracle). Add-time validation / carry / schema-
    // evolution null semantics / DML gating are VersionedSpec's.
    "x_versioned_constraints" -> ((s, d) => {
      val base = scratch("graft_versioned_ck") + "/t"
      val V = graft.sources.Versioned
      val ord = orders(s, d)
      V.commit(ord.filter(pmod(col("o_orderkey"), lit(2)) === 0), base)
      V.addConstraint(s, base, "price_cap", "o_totalprice <= 500000")
      val dirty = ord.filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .withColumn("o_totalprice", col("o_totalprice") * 10)
      val rejected =
        try { V.commit(dirty, base, org.apache.spark.sql.SaveMode.Append); false }
        catch { case _: graft.sources.ConstraintViolation => true }
      require(rejected, "the dirty batch must be rejected")
      require(V.versions(s, base).size == 2, // commit + addConstraint only
        "a rejected batch must publish nothing")
      V.commit(dirty.filter(col("o_totalprice") <= 500000), base,
        org.apache.spark.sql.SaveMode.Append)
      V.read(s, base)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy("o_orderpriority")
    }),

    // Versioned copy-on-write DML under the correctness gate: commit the
    // source, transactionally DELETE one slice and UPDATE another, then
    // aggregate the LATEST snapshot — must equal the same DML applied
    // relationally (the oracle). Time travel / isolation / conflict
    // abort are VersionedSpec's.
    "x_versioned_dml" -> ((s, d) => {
      val base = scratch("graft_versioned_dml") + "/t"
      val V = graft.sources.Versioned
      V.commit(orders(s, d), base)
      V.deleteWhere(s, base, pmod(col("o_orderkey"), lit(7)) === 0)
      V.updateWhere(s, base, col("o_orderpriority") === "1-URGENT",
        Map("o_totalprice" -> lit(0.0)))
      V.read(s, base)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy("o_orderpriority")
    }),

    // Net change feed under the correctness gate: three commits (full
    // load → COW delete of every 7th key → append of every 11th≡5 key),
    // then the v1→v3 change feed aggregated by change type — must equal
    // the relational diff (the oracle): deletes are the removed-only
    // keys, inserts the re-added-only keys, and a key hit by BOTH ops
    // nets to nothing. Per-op feed shapes (MOR deltas, update pairs,
    // rollback resurrection) are VersionedSpec's.
    "x_versioned_cdc" -> ((s, d) => {
      val base = scratch("graft_versioned_cdc") + "/t"
      val V = graft.sources.Versioned
      val ord = orders(s, d)
      V.commit(ord, base)
      V.deleteWhere(s, base, pmod(col("o_orderkey"), lit(7)) === 0)
      V.commit(ord.filter(pmod(col("o_orderkey"), lit(11)) === 5), base,
        org.apache.spark.sql.SaveMode.Append)
      V.changes(s, base, 1L, 3L)
        .withColumnRenamed("_change", "change_type")
        .groupBy(col("change_type"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy("change_type", "o_orderpriority")
    }),

    // Merge-on-read DML under the correctness gate: commit the source,
    // then a deletion-vector DELETE (every 7th order tombstoned — zero
    // data dirs rewritten) and a tombstone+patch UPDATE (urgent orders
    // zero-priced), then aggregate the LATEST snapshot — must equal the
    // same DML applied relationally (the oracle; identical to
    // x_versioned_dml's twin by design, proving COW and MOR agree).
    // Vector mechanics / compaction materialization are VersionedSpec's.
    "x_versioned_mor" -> ((s, d) => {
      val base = scratch("graft_versioned_mor") + "/t"
      val V = graft.sources.Versioned
      V.commit(orders(s, d), base)
      V.deleteWhereMor(s, base, pmod(col("o_orderkey"), lit(7)) === 0)
      V.updateWhereMor(s, base, col("o_orderpriority") === "1-URGENT",
        Map("o_totalprice" -> lit(0.0)))
      V.read(s, base)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy("o_orderpriority")
    }),

    // Transactional MERGE under the correctness gate: commit the source
    // table, then one file-level upsert — matched keys (every 5th order)
    // take the source's doubled price, unmatched source rows (every 7th
    // ≡ 3, re-keyed beyond the key space) INSERT — and the latest
    // snapshot's aggregate must equal the same MERGE applied
    // relationally (the oracle). Carry-by-reference and schema-evolution
    // halves are VersionedSpec's.
    "x_versioned_merge" -> ((s, d) => {
      val base = scratch("graft_versioned_mrg") + "/t"
      val V = graft.sources.Versioned
      val ord = orders(s, d)
      V.commit(ord, base)
      val src = ord.filter(pmod(col("o_orderkey"), lit(5)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(ord.filter(pmod(col("o_orderkey"), lit(7)) === 3)
          .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L)))
      V.mergeInto(s, base, src, keys = Seq("o_orderkey"),
        updateCols = Seq("o_totalprice"))
      V.read(s, base)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy("o_orderpriority")
    }),

    // Change-feed-driven rollup sync under the correctness gate — the
    // incremental MATERIALIZED VIEW loop: bootstrap-sync a rollup from
    // the source's v1, run the full DML spectrum against the SOURCE (a
    // COW delete, a count-neutral measure update, a whole-group delete,
    // an append), then one catch-up sync that folds the net v1→v5 change
    // feed as SIGNED partial states — the rollup must equal the one-shot
    // GROUP BY over the final source state (the oracle), with the
    // deleted group VANISHED (its count netted to zero). Raw history is
    // never rescanned; offset recovery / empty windows / vacuumed-gap
    // rebuild are VersionedSpec's.
    "x_versioned_sync" -> ((s, d) => {
      val root = scratch("graft_versioned_sync")
      val src = root + "/t"; val roll = root + "/mv"
      val V = graft.sources.Versioned
      val ord = orders(s, d)
      def prep(df: DataFrame): DataFrame = df.select(col("o_orderpriority"),
        lit(1L).as("cnt"), cents(col("o_totalprice")).as("total_cents"))
      def sync(): Unit = {
        graft.sources.Incremental.syncRollup(s, src, roll, "mv", prep,
          partitionKey = "o_orderpriority", subKeys = Seq.empty,
          measures = Seq("cnt", "total_cents"), countMeasure = "cnt")
        ()
      }
      V.commit(ord, src)
      sync() // bootstrap: full load of v1
      V.deleteWhere(s, src, pmod(col("o_orderkey"), lit(7)) === 0)
      V.updateWhere(s, src, col("o_orderpriority") === "1-URGENT",
        Map("o_totalprice" -> lit(0.0)))
      V.deleteWhere(s, src, col("o_orderpriority") === "5-LOW")
      V.commit(ord.filter(pmod(col("o_orderkey"), lit(11)) === 5
        && col("o_orderpriority") =!= "5-LOW"), src,
        org.apache.spark.sql.SaveMode.Append)
      sync() // catch-up: folds the net v1→v5 change feed, signed
      V.read(s, roll).select("o_orderpriority", "cnt", "total_cents")
        .orderBy("o_orderpriority")
    }),

    // Incremental rollup maintenance under the correctness gate: the
    // event stream arrives as three batches (plus one REPLAYED delivery,
    // which the commit-metadata guard must no-op), each folding additive
    // partial states into the versioned rollup — the final snapshot must
    // equal the one-shot GROUP BY over all events (the oracle). The raw
    // history is never rescanned; each upsert touches the batch and the
    // rollup's affected partitions only.
    "x_incremental_rollup" -> ((s, d) => {
      val base = scratch("graft_incr") + "/t"
      val ev = events(s, d)
      def proj(df: DataFrame): DataFrame = df.select(
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type"),
        lit(1L).as("cnt"),
        cents(col("value")).as("val_cents"))
      def ingest(i: Int): Unit = {
        graft.sources.Incremental.upsertRollup(s, base,
          proj(ev.filter(pmod(col("user_id"), lit(3)) === i)),
          batchId = s"batch-$i", partitionKey = "day",
          subKeys = Seq("event_type"), measures = Seq("cnt", "val_cents"))
        ()
      }
      (0 until 3).foreach(ingest)
      ingest(1) // replayed delivery: exactly-once at the batch level
      graft.sources.Versioned.read(s, base).orderBy("day", "event_type")
    }),

    // Explicit skew salting: two-phase aggregation through a salted key.
    // Result is identical to the direct groupBy (oracle = plain GROUP BY);
    // the shape is what matters — partial aggregation fans the hot key over
    // 16 salts before the final combine.
    "x_salted_agg" -> ((s, d) => lineitem(s, d)
      .withColumn("salt", pmod(hash(col("l_orderkey")), lit(16)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(count(lit(1)).as("pcnt"),
        sum(cents(col("l_extendedprice"))).as("pcents"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("pcnt")).as("cnt"), sum(col("pcents")).as("total_cents"))
      .orderBy("l_returnflag")),

    // Explicit skew-join salting: the manual fallback when one join key is
    // hot enough to overwhelm a single reducer and AQE's skew split can't
    // apply (e.g. the skewed side feeds an aggregation in the same stage).
    // The big side gets a deterministic salt from NON-key columns; the
    // small side is replicated once per salt value, so (key, salt) spreads
    // a hot key over 8 reducers. Result is identical to the unsalted join
    // — the oracle is the plain SQL join — only the shuffle distribution
    // changes.
    "x_salted_join" -> ((s, d) => {
      val S = 8
      val big = lineitem(s, d)
        .withColumn("salt", pmod(hash(col("l_linenumber"), col("l_partkey")), lit(S)))
      val dim = orders(s, d)
        .withColumn("salt", explode(sequence(lit(0), lit(S - 1))))
      big.join(dim, big("l_orderkey") === dim("o_orderkey")
          && big("salt") === dim("salt"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue_cents"))
        .orderBy("o_orderpriority")
    })
  )

  val oracle: Map[String, String] = Map(
    "g1_rollup" ->
      """SELECT coalesce(CAST(yr AS VARCHAR), 'ALL') AS yr,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM (SELECT CAST(year(o_orderdate) AS INT) AS yr, o_orderpriority,
        |        o_totalprice FROM orders)
        |GROUP BY ROLLUP (yr, o_orderpriority)
        |ORDER BY yr, priority""".stripMargin,
    "g2_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus, count(*) AS cnt
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "g3_grouping_sets" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
        |  coalesce(CAST(c_nationkey AS VARCHAR), 'ALL') AS nationkey,
        |  count(*) AS cnt
        |FROM customer
        |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        |ORDER BY segment, nationkey""".stripMargin,
    "x_approx_agg" ->
      """SELECT o_orderpriority,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
        |  true AS hll_within_bound,
        |  true AS p50_rank_within_bound
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "x_asof_join" ->
      """SELECT event_id, user_id,
        |  CAST(epoch(date_trunc('second', ts))
        |    - epoch(date_trunc('second', last_click_ts)) AS BIGINT)
        |    AS secs_since_click
        |FROM (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id
        |            ORDER BY date_trunc('microseconds', ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS last_click_ts
        |  FROM events WHERE event_type IN ('click', 'purchase'))
        |WHERE event_type = 'purchase' AND last_click_ts IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "x_range_join" ->
      """SELECT yr, qtr, count(*) AS order_cnt FROM (
        |  SELECT o.*, q.yr, q.qtr
        |  FROM orders o
        |  JOIN (
        |    SELECT yr, qtr,
        |      make_date(yr, (qtr - 1) * 3 + 1, 1) AS q_start,
        |      make_date(yr, (qtr - 1) * 3 + 1, 1) + INTERVAL 3 MONTH AS q_end
        |    FROM (SELECT DISTINCT CAST(year(o_orderdate) AS INT) AS yr,
        |            CAST(quarter(o_orderdate) AS INT) AS qtr FROM orders)) q
        |  ON CAST(o.o_orderdate AS DATE) >= q.q_start
        |    AND CAST(o.o_orderdate AS DATE) < CAST(q.q_end AS DATE))
        |GROUP BY yr, qtr ORDER BY yr, qtr""".stripMargin,
    "x_bloom_join" ->
      """SELECT l_returnflag, count(*) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS billed_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1995
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x_incremental_rollup" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS val_cents
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "x_versioned_dml" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(round(
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 0.0
        |         ELSE o_totalprice END * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders
        |WHERE o_orderkey % 7 <> 0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "x_versioned_cdc" ->
      """SELECT * FROM (
        |  SELECT 'delete' AS change_type, o_orderpriority,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS total_cents
        |  FROM orders
        |  WHERE o_orderkey % 7 = 0 AND NOT (o_orderkey % 11 = 5)
        |  GROUP BY o_orderpriority
        |  UNION ALL
        |  SELECT 'insert' AS change_type, o_orderpriority,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS total_cents
        |  FROM orders
        |  WHERE o_orderkey % 11 = 5 AND NOT (o_orderkey % 7 = 0)
        |  GROUP BY o_orderpriority
        |)
        |ORDER BY change_type, o_orderpriority""".stripMargin,
    "x_versioned_mor" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(round(
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 0.0
        |         ELSE o_totalprice END * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders
        |WHERE o_orderkey % 7 <> 0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "x_versioned_merge" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM (
        |  SELECT o_orderpriority,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS p
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderpriority, o_totalprice AS p
        |  FROM orders WHERE o_orderkey % 7 = 3
        |)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "x_versioned_where" ->
      """SELECT o_orderkey, o_custkey, o_orderpriority,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM orders
        |WHERE o_custkey = (SELECT max(o_custkey) FROM orders)
        |  AND o_orderkey <= (SELECT max(o_orderkey) FROM orders) / 2.0
        |  AND (o_orderdate >= DATE '1995-06-01'
        |       OR o_orderdate < DATE '1993-06-01')
        |ORDER BY o_orderkey""".stripMargin,
    "x_versioned_constraints" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM (
        |  SELECT o_orderpriority, o_totalprice AS p
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderpriority, o_totalprice * 10 AS p
        |  FROM orders
        |  WHERE o_orderkey % 2 = 1 AND o_totalprice * 10 <= 500000
        |)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "x_versioned_bloomprune" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM orders
        |WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)
        |   OR o_orderkey = (SELECT max(o_orderkey) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "x_versioned_sync" ->
      """SELECT o_orderpriority, CAST(sum(cnt) AS BIGINT) AS cnt,
        |  CAST(sum(c) AS BIGINT) AS total_cents
        |FROM (
        |  SELECT o_orderpriority, 1 AS cnt,
        |    CAST(round(CASE WHEN o_orderpriority = '1-URGENT' THEN 0.0
        |         ELSE o_totalprice END * 100) AS BIGINT) AS c
        |  FROM orders
        |  WHERE o_orderkey % 7 <> 0 AND o_orderpriority <> '5-LOW'
        |  UNION ALL
        |  SELECT o_orderpriority, 1 AS cnt,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders
        |  WHERE o_orderkey % 11 = 5 AND o_orderpriority <> '5-LOW'
        |)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "x_versioned_pruned" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders
        |WHERE o_orderkey <= (SELECT max(o_orderkey) FROM orders) / 8.0
        |  AND o_custkey <= (SELECT max(o_custkey) FROM orders) / 8.0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "x_versioned_scan" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "x_zorder_scan" ->
      """SELECT l_returnflag, count(*) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS billed_cents
        |FROM lineitem
        |WHERE l_orderkey <= (SELECT max(l_orderkey) FROM lineitem) / 8.0
        |  AND l_partkey <= (SELECT max(l_partkey) FROM lineitem) / 8.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x_salted_agg" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x_salted_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  )
}
