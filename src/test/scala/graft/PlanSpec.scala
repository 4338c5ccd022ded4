package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan quality gates: the properties that decide whether these
  * operators survive a 100 TB scale-up. Each assertion pins a plan shape —
  * filters pushed into the parquet scan, columns pruned at the reader,
  * dimension joins broadcast, aggregates map-side partial — so a regression
  * that silently de-optimizes a query fails CI, not the cluster. */
class PlanSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  /** Every registered entry built ONCE per suite — building runs an
    * entry's eager jobs (ANN training, checkpoints) — with what the two
    * catalog-wide gates read: (name, plans a nested-loop join, plans a
    * partition-less window). */
  private lazy val census: Seq[(String, Boolean, Boolean)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, build) =>
      val df = build(spark, sf)
      val p = explain(df)
      (name,
        p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"),
        df.queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }.nonEmpty)
    }

  test("half-open range filter is pushed down to the parquet scan") {
    val p = explain(q("p8_halfopen"))
    assert(p.contains("PushedFilters"), p)
    assert(p.matches("(?s).*PushedFilters:.*l_shipdate.*"), p)
  }

  test("projection prunes the parquet read schema") {
    val p = explain(q("p1_project"))
    // customer has 5 columns; only the 3 projected ones may be read
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("c_custkey"))
    assert(!readSchema.contains("c_acctbal"), readSchema)
    assert(!readSchema.contains("c_nationkey"), readSchema)
  }

  test("star join broadcasts the small dimensions") {
    val p = explain(q("j2_star"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("semi/anti joins plan as left-semi / left-anti hash joins") {
    assert(explain(q("j9_semi")).contains("LeftSemi"))
    assert(explain(q("j10_anti")).contains("LeftAnti"))
  }

  test("global aggregate is partial+final (map-side combine)") {
    val p = explain(q("a1_global_agg"))
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = explain(q("o2_topk"))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("custom cosine expression participates in whole-stage codegen") {
    assert(explain(q("x_ann_bruteforce")).contains("cosine_similarity"))
    // prove doGenCode is used: the generated java contains our fused loop
    import graft.functions.VectorFunctions.cosineSim
    import org.apache.spark.sql.functions._
    val df = graft.Tables.embeddings(spark, sf)
      .select(cosineSim(col("embedding"), col("embedding")).as("c"))
    val gen = df.queryExecution
      .explainString(ExplainMode.fromString("codegen"))
    assert(gen.contains("WholeStageCodegen subtrees"), gen.take(500))
    assert(gen.contains("Math.sqrt"), gen.take(2000))
  }

  test("tpch q5 six-table star: hash joins only, region filter pushed down") {
    val p = explain(q("tpch_q5"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.matches("(?s).*PushedFilters:.*r_name.*"), p)
  }

  test("as-of join is a window pass, not a join: no join operator, one data shuffle") {
    val p = explain(q("x_asof_join"))
    assert(!p.contains("Join"), p) // the range probe is gone entirely
    // exactly: the per-user window repartition + the final presentation sort
    val exchangeNodes = p.linesIterator.count(_.matches("\\(\\d+\\) Exchange.*"))
    assert(exchangeNodes === 2, p)
  }

  test("fact loads in the star ETL are all broadcast joins") {
    val facts = graft.model.Star.buildFacts(spark, graft.model.Star.buildDims(spark))
    val p = explain(facts.factClaimsLine)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("correlated LATERAL decorrelates to WindowGroupLimit, no per-row subquery") {
    val p = explain(q("j17_lateral"))
    // Catalyst must rewrite the per-region top-2 subquery into a windowed
    // group-limit over one join — not a nested-loop re-execution per row
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("merge-upsert full outer join is sort-merge, never nested-loop") {
    val p = explain(q("d1_merge_upsert"))
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // source delta is pre-aggregated map-side before the join
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
  }

  test("q4/q21 correlated (NOT) EXISTS lower to hash semi/anti joins") {
    val p4 = explain(q("tpch_q4"))
    assert(p4.contains("LeftSemi"), p4)
    assert(!p4.contains("BroadcastNestedLoopJoin"), p4)
    val p21 = explain(q("tpch_q21"))
    assert(p21.contains("LeftSemi"), p21)
    assert(p21.contains("LeftAnti"), p21)
    assert(!p21.contains("BroadcastNestedLoopJoin"), p21)
  }

  test("knn join: equi-join grid + partial/final bounded top-k, no cartesian, no window") {
    // The exact k-NN join's scale contract: the O(n²) pair stream must be
    // produced by a plain EQUI-join on the (b, qb) grid keys (never a
    // cartesian) and die inside the map tasks via the k-bounded typed
    // aggregator running in PARTIAL mode before the exchange — the plan
    // must show two ObjectHashAggregate stages (partial + final) and no
    // window (the ranking is a posexplode of the sorted buffer).
    val p = explain(q("x_knn_join"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("partial_topkaggregator") || p.contains("partial_"), p)
    assert(!p.contains("Window"), p)

    // the LSH variant: since the top-k aggregator is idempotent on
    // identical (score, id), the multi-table candidate stream feeds the
    // aggregation DIRECTLY — the plan must NOT contain the old
    // dropDuplicates pre-pass (a keyed HashAggregate over (q_id, c_id)
    // with no aggregate functions, costing a full exchange of the pair
    // stream); duplicates die inside the partial top-k instead
    // the banded CORE is inspected with the r12 zero-recall rescue off:
    // the registered query persists the aggregate (lazily since r13 —
    // the short-set derivation and final assembly share one banded
    // pass through the cached blocks), which wraps the inspectable
    // lineage in an InMemoryRelation
    val pl = explain(graft.ext.Similarity.knnJoinLsh(
      graft.Tables.embeddings(spark, sf), k = 3, rescueCap = 0))
    // the dedup's signature was an Exchange hash-partitioned on BOTH pair
    // keys; the surviving aggregation exchanges on q_id alone
    assert(!pl.matches("(?s).*hashpartitioning\\(q_id#\\d+L?, c_id#.*"),
      "knn_join_lsh still plans the (q_id, c_id) dedup exchange")
    assert("ObjectHashAggregate".r.findAllIn(pl).size >= 2, pl)
    assert(!pl.contains("CartesianProduct"), pl)
  }

  test("no query plans a nested-loop join except the known all-pairs/scalar shapes") {
    // The broad regression net behind the per-query gates: a silent plan
    // de-optimization (lost equi-key, dropped broadcast hint, changed
    // rewrite) that turns ANY registered query into a nested loop fails
    // here, not on the cluster. Allowlisted shapes are inherently
    // non-equi: cross/theta joins, 1-row scalar-threshold broadcasts
    // (q22, daily anomaly), and the all-pairs similarity scans whose
    // small side is the bounded query set.
    val allowed = Set("j6_cross", "j7_theta_self", "tpch_q22",
      "e9_daily_anomaly", "x_ann_bruteforce", "x_ann_pq", "x_dedup_embed",
      "x_gapfill",
      // r15: every x_ann_* recall-contract entry embeds the exact
      // baseline (exactTopK — the bounded-query-set all-pairs scan,
      // same class as x_ann_bruteforce) as its in-plan ground truth
      "x_ann_lsh", "x_ann_ivf", "x_ann_ivfpq",
      // 1-row/class-dictionary broadcast sides: the mixture scalars
      // (s_total / the temperature normalizers) and the NB vocab×class
      // smoothing grid (C-row build)
      "x_mix_rebalance", "x_mix_temperature", "x_text_nb_classify",
      // r12 zero-recall rescue: the broadcast side is the SRP-isolated
      // query set, hard-capped at rescueCap (deterministic lowest-q_id)
      // — bounded independent of corpus size, same class as the
      // all-pairs scans above
      "x_knn_join_lsh",
      // the synthetic-partsupp TPC-H ports: the only non-equi join is
      // the 1-row supplier-count (and, for q11, the 1-row
      // total/nparts threshold) broadcast — the q22 scalar shape
      "tpch_q2", "tpch_q11", "tpch_q16", "tpch_q20")
    val offenders = census.collect {
      case (name, true, _) if !allowed.contains(name) => name
    }
    assert(offenders.isEmpty, s"nested-loop joins appeared in: $offenders")
  }

  test("no query plans a partition-less window except the known post-aggregate shapes") {
    // Regression net for the per-shard packSequences rewrite: a global
    // (partition-less) window serializes its whole input through ONE task —
    // the one plan shape that cannot survive a 100× scale-up. Allowlisted:
    // o1_multisort_ci's CI-rank window covers an input BOUNDED INDEPENDENT
    // OF CORPUS SIZE (s_suppkey < 100 → at most 100 rows at ANY scale
    // factor), and w6_ntile runs the textbook global ntile over the
    // customer table. x_text_vocab (vocab-sized) left this list for good
    // in round 7 (Pipeline.buildVocab — partitioned windows only).
    val global = census.collect { case (name, _, true) => name }.toSet
    val allowed = Set("o1_multisort_ci", "w6_ntile")
    assert((global -- allowed).isEmpty,
      s"partition-less windows appeared in: ${global -- allowed}")
    // a stale allowlist is a bug too: every listed query must still plan one
    assert((allowed -- global).isEmpty,
      s"allowlisted but no longer global: ${allowed -- global}")
  }

  test("w6_ntile: the textbook global ntile plan, bit-identical to the window") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // the textbook (partition-less) formulation as the in-suite oracle
    val expected = graft.Tables.customer(spark, sf)
      .select(col("c_custkey"), ntile(4).over(
        Window.orderBy(col("c_acctbal"), col("c_custkey"))).as("bal_quartile"))
      .orderBy("c_custkey").collect()
    // the registered query IS the textbook plan: global ntile window,
    // no shard join anywhere
    val df = q("w6_ntile")
    assert(df.collect() === expected)
    val p = explain(df)
    assert(!p.contains("Join"), p)
    assert(p.contains("ntile"), p)
  }

  test("w5/w8: textbook nation-partitioned windows, bit for bit, no join") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val cust = graft.Tables.customer(spark, sf)
    val w5w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_acctbal").desc)
    val exp5 = cust.select(col("c_nationkey"), col("c_custkey"),
      rank().over(w5w).as("bal_rank"), dense_rank().over(w5w).as("bal_dense_rank"))
      .orderBy("c_nationkey", "c_custkey").collect()
    val w8w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    val exp8 = cust.select(col("c_nationkey"), col("c_custkey"),
      percent_rank().over(w8w).as("bal_pct_rank"),
      cume_dist().over(w8w).as("bal_cume_dist"))
      .orderBy("c_nationkey", "c_custkey").collect()
    // textbook nation-partitioned windows, no shard join
    Seq("w5_rank" -> exp5, "w8_percent_rank" -> exp8).foreach { case (n, exp) =>
      val df = q(n)
      assert(df.collect() === exp, n)
      assert(!explain(df).contains("Join"), s"$n planned a join")
    }
  }

  test("w9: textbook RANGE window, bit for bit, no ghost-row union") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w9w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("price_cents")).rangeBetween(-100000L, 0L)
    val exp9 = graft.Tables.orders(spark, sf)
      .withColumn("price_cents", graft.Tables.cents(col("o_totalprice")))
      .withColumn("near_sum", sum(col("price_cents")).over(w9w))
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("price_cents"), col("near_sum"))
      .orderBy("o_orderkey").collect()
    // the textbook priority-partitioned window — no ghost-row union
    // doubling the input
    val df = q("w9_range_frame")
    assert(df.collect() === exp9)
    assert(!explain(df).contains("Union"), explain(df))
  }

  test("w10 ratio-to-report: per-class agg + broadcast join, no window at all") {
    // the 5-value o_orderpriority key would route the whole fact through
    // 5 window tasks; the scalable form keeps the fact in one scan joined
    // to a broadcast 5-row total table (hash-identical to the window
    // formulation the DuckDB twin still runs)
    val p = explain(q("w10_ratio_to_report"))
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
  }

  test("top-n-per-group windows pre-prune via WindowGroupLimit before the shuffle") {
    // rank<=k filters over partitioned windows must keep the partial
    // WindowGroupLimit rewrite: each map task cuts to its local top-k per
    // key BEFORE the shuffle, so the exchange carries tasks×keys×k rows
    // instead of the whole input — the property that makes these shapes
    // scale. A formulation change that stops the rewrite firing (e.g.
    // filtering on a derived column) regresses silently without this pin.
    Seq("w4_topn_per_group", "x_sample_stratified").foreach { n =>
      val p = explain(q(n))
      assert(p.contains("WindowGroupLimit"), s"$n lost the group-limit prune:\n$p")
    }
  }

  test("bpe round trip: chain apply is a projection — no explode, no vocab join, hash joins only") {
    val p = explain(q("x_bpe_pack"))
    // the trained-merge apply must stay row-local (array HOFs + string
    // replaces): no Generate (per-token row blowup), no segmentation-table
    // join; the only join is the shard-base broadcast of the pack cumsum
    assert(!p.contains("Generate"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q8 two-role nation star: hash joins only, part filter pushed to scan") {
    val p = explain(q("tpch_q8"))
    assert(p.matches("(?s).*PushedFilters:.*p_type.*"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q17 per-part average runs over the part-filtered fact, filter pushed to part scan") {
    val p = explain(q("tpch_q17"))
    assert(p.matches("(?s).*PushedFilters:.*p_brand.*"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q19 disjunctive-predicate join: part envelope pushed to scan, hash join only") {
    val p = explain(q("tpch_q19"))
    // the explicit brand/size envelope must reach the part parquet scan
    assert(p.matches("(?s).*PushedFilters:.*p_size.*"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q22 threshold is a 1-row broadcast, no-orders is a hash anti join") {
    val p = explain(q("tpch_q22"))
    // the no-orders anti join must be a HASH join (broadcast or shuffled)…
    assert(p.matches("(?s).*(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) LeftAnti.*"), p)
    // …and the only nested-loop in the plan is the 1-row threshold
    // cross-join broadcast (inherently NL, trivially cheap)
    // tree lines carry the join type; the detail section repeats the node
    // name bare, so only inspect lines that state a type
    val nlj = p.linesIterator
      .filter(_.matches(""".*BroadcastNestedLoopJoin (Cross|Inner|Left\w*|Right\w*|Full\w*).*"""))
      .toList
    assert(nlj.forall(_.contains("Cross")), p)
    assert(nlj.size <= 1, p)
  }

  test("banded range join is a broadcast HASH join, not a nested loop") {
    val p = explain(q("x_range_join"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("corpus-prep pipeline fuses to three shuffles and zero joins") {
    val p = explain(q("x_pipeline_corpus"))
    // dedup groupBy(text), stats groupBy(predicted_lang), final sort — the
    // langid/quality/BPE scoring stages must fuse into projections, never
    // materialize as joins or extra shuffles
    assert(!p.contains("Join"), p)
    val exchanges = p.linesIterator.count(_.matches("\\(\\d+\\) Exchange.*"))
    assert(exchanges === 3, p)
    // both aggs are partial+final (map-side combine)
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4, p)
  }

  test("ingest-to-pack flagship: corpus anti-joins broadcast, no nested loop, no global window") {
    val df = q("x_pipeline_full")
    val p = explain(df)
    // the corpus-facing drops past the gate checkpoint (dedup'd ids,
    // contaminated ids) must anti-join as BROADCAST hash joins — the
    // corpus never shuffles to subtract a duplicate-scale id set. Since
    // r17 the pack stage materializes its per-doc size frame (packCumsum
    // runs two actions over it), so these joins live in the PRE-PACK
    // stage plan, not the registered entry's final (post-checkpoint)
    // plan — assert them where they execute. (The gate's own anti-join
    // runs at the eager ingest checkpoint and is pinned below on its
    // standalone plan.)
    val pre = explain(graft.ext.Pipeline.ingestToPackPrePack(spark, sf))
    assert(pre.linesIterator
      .count(l => l.contains("BroadcastHashJoin") && l.contains("LeftAnti")) >= 2, pre)
    assert(!pre.contains("BroadcastNestedLoopJoin"), pre)
    assert(!pre.contains("CartesianProduct"), pre)
    // the gate stage itself: survivors = batch ANTI broadcast(matches)
    val docs = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val gate = graft.ext.Dedup.nearDupIngestGate(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1),
      graft.ext.Dedup.buildIngestIndex(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0)))
    val gp = explain(gate)
    assert(gp.linesIterator
      .count(l => l.contains("BroadcastHashJoin") && l.contains("LeftAnti")) >= 1, gp)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the only sort-merge joins are the banded pair-finder's lean
    // corpus×corpus key joins (band rows / shingle rows — never payloads);
    // the pack stage keeps the shard-offset broadcast
    assert(df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }.isEmpty, p)
  }

  test("substring window stats: no join, two shuffles, top-k without a global sort") {
    val p = explain(q("x_dedup_substring"))
    // the count-agg shape is the skew argument: a corpus-hot window must
    // hit a partial+final aggregation, never a self-join
    assert(!p.contains("Join"), p)
    val exchanges = p.linesIterator.count(_.matches("\\(\\d+\\) Exchange.*"))
    // explicit repartition + the two-phase exact countDistinct(doc_id)
    // (partial on (window_text, doc_id), re-key on window_text) — the
    // price of an exact per-window doc count; approx_count_distinct
    // would fold to one agg exchange but break the oracle
    assert(exchanges === 3, p)
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("IVF assignment is a pure projection: hash joins only, no table shuffle for argmax") {
    // the RAW operator plan (the catalog entry wraps it in the recall
    // contract since r15, whose exact baseline is an allowlisted NLJ)
    val p = explain(graft.ext.Similarity.rawAnn("x_ann_ivf")(spark, sf))
    // driver-resident centroids enter as literals: cell assignment must not
    // plan as a join or an aggregation over the table
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("cosine_similarity"), p)
  }

  test("ngram dedup uses the native shingle expression and a partial+final pair count") {
    val p = explain(q("x_dedup_ngram"))
    assert(p.contains("shingle_set"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
  }

  test("minhash verify reads materialized candidate-scale frames, not the corpus") {
    // r17: verifyJaccard materializes the candidate pairs and the
    // semi-joined shingle sets; the registered plan's verify joins must
    // read those checkpointed frames — a parquet scan here would mean
    // the corpus-wide shingle recompute (and the inferred
    // isnotnull(shingle_set(text)) scan filter it dragged in) is back
    val p = explain(q("x_dedup_minhash"))
    assert(!p.contains("Scan parquet"), p)
    assert(p.contains("Scan ExistingRDD"), p)
  }

  test("cluster singleton anti-joins broadcast the duplicate-scale label side") {
    // r17: without the broadcast hint the checkpointed label frame has
    // no size stats and the planner sort-merges, shuffling + sorting
    // the corpus-scale vertex side of every cluster/split entry
    for (name <- Seq("x_dedup_cluster", "x_dedup_cluster_star",
        "x_split_leakfree")) {
      val p = explain(q(name))
      assert(p.contains("BroadcastHashJoin LeftAnti"), s"$name\n$p")
      assert(!p.contains("SortMergeJoin"), s"$name\n$p")
    }
  }

  test("redaction is a pure projection: scan, project, presentation sort only") {
    val p = explain(q("x_text_redact"))
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
    // the one exchange is the presentation sort; the regexp work itself
    // adds zero shuffles at any scale
    val exchanges = p.linesIterator.count(_.matches("\\(\\d+\\) Exchange.*"))
    assert(exchanges === 1, p)
  }

  test("filter cascade runs in one scan: no explode, no join, one agg exchange") {
    val p = explain(q("x_text_filter_cascade"))
    // the row-local array HOFs must not lower to Generate (explode) —
    // that per-token row blowup is exactly what the cascade shape avoids
    assert(!p.contains("Generate"), p)
    assert(!p.contains("Join"), p)
    val exchanges = p.linesIterator.count(_.matches("\\(\\d+\\) Exchange.*"))
    assert(exchanges === 2, p) // per-lang agg + presentation sort
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
  }

  test("perplexity LM joins broadcast: the exploded corpus never sort-merges") {
    val p = explain(q("x_text_perplexity"))
    // c2⋈c1 (LM build) and bigrams⋈LM (scoring) must both be broadcast
    // hash joins — a sort-merge would shuffle the exploded corpus by
    // bigram, the full-width shuffle the broadcast design avoids
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    // LM aggregates and the per-doc aggregate all partial+final
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4, p)
  }

  test("mixture rebalance: corpus side is scan ⋈ broadcast(rates) + filter, no window") {
    val p = explain(q("x_mix_rebalance"))
    // the whole corpus-side cost is one scan joined to a broadcast rate
    // table and filtered — the zero-corpus-shuffle contract the operator
    // exists for (vs stratifiedSample's per-class row_number window)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
    // shuffle exchanges: the per-lang count aggs + the 1-row s_total agg
    // (each over <= #langs rows) and the presentation sort; the corpus
    // path itself is scan -> filter -> BHJ with NO exchange (visible in
    // the tree: the parquet scan feeds the join directly)
    val exchanges = p.linesIterator.count(_.matches("\\(\\d+\\) Exchange.*"))
    assert(exchanges <= 4, p)
  }

  test("nb classifier: LM and scoring joins all broadcast, exploded corpus never sort-merges") {
    val p = explain(q("x_text_nb_classify"))
    // LM build (class stats, counts, vocab size) and scoring (tokens ⋈ LM,
    // scores ⋈ priors) — every join side is vocab/class-bounded or the
    // corpus stays streaming through a BroadcastHashJoin
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3, p)
    assert(!p.contains("SortMergeJoin"), p)
    // per-(doc, class) sums and the confusion matrix all partial+final
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4, p)
  }

  test("ivfpq: native ADC in plan, hash joins only, top-k lowers to WindowGroupLimit") {
    val p = explain(graft.ext.Similarity.rawAnn("x_ann_ivfpq")(spark, sf))
    assert(p.contains("pq_adc"), p) // codes scan scores via the native expr
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // rank<=k filters over windows prune inside each partition before the
    // shuffle (WindowGroupLimit), not as a post-window global filter
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("bloom join: codegen'd might_contain prefilter guards the fact before the join") {
    val p = explain(q("x_bloom_join"))
    // the probe is might_contain(filter_bytes, xxhash64(l_orderkey)) in a
    // Filter over the lineitem scan — the fact-side exchange only carries
    // rows the bloom passes
    assert(p.contains("might_contain"), p)
    assert(p.matches("(?s).*might_contain.*xxhash64\\(l_orderkey.*"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // structural: the filter sits in the join's FACT subtree, pre-shuffle
    // (sparkPlan, not executedPlan: the AQE wrapper is a leaf to collect)
    val plan = q("x_bloom_join").queryExecution.sparkPlan
    val bloomFilters = plan.collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.toString.contains("might_contain") => f
    }
    assert(bloomFilters.nonEmpty, plan.toString)
    assert(bloomFilters.head.toString.contains("l_orderkey"),
      bloomFilters.head.toString)
  }

  test("bloom join: no false negatives, genuinely selective, empty build side rejects all") {
    import graft.functions.BloomJoin
    import org.apache.spark.sql.functions.{col, year}
    val li = graft.Tables.lineitem(spark, sf)
    val dim = graft.Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT"
        && year(col("o_orderdate")) === 1995)
    val bf = BloomJoin.buildFilter(dim, col("o_orderkey"))
    val total = li.count()
    val kept = li.filter(BloomJoin.mightContain(col("l_orderkey"), bf)).count()
    val matches = li.join(dim, col("l_orderkey") === col("o_orderkey")).count()
    // every true match survives the bloom pass (no false negatives) …
    assert(kept >= matches, s"kept=$kept matches=$matches")
    // … and the pass is a real reduction at this dim selectivity (~4%):
    // false positives may pad it, but nowhere near the full fact
    assert(kept < total / 2, s"kept=$kept total=$total")
    // empty build side → null filter → reject everything
    val none = BloomJoin.buildFilter(dim.filter(col("o_orderkey") < 0),
      col("o_orderkey"))
    assert(none == null)
    assert(li.filter(BloomJoin.mightContain(col("l_orderkey"), none))
      .count() === 0)
  }

  test("heavy hitters: second pass is an InSet scan probe + partial/final agg, no window") {
    val p = explain(q("x_text_heavyhitters"))
    // the registered frame IS pass 2: candidate InSet filter (2048-entry
    // list lowers to INSET, a hash probe in the scan stage), then a
    // partial+final count — the distinct vocabulary never shuffles
    assert(p.contains("INSET") || p.contains(" IN "), p)
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
    assert(!p.contains("Window"), p)
  }

  test("cosine_similarity is callable from SQL after registration") {
    // config-time path is spark.sql.extensions=graft.GraftExtensions; the
    // injector itself must populate a SparkSessionExtensions without error
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    // live-session path: register + run from SQL
    org.apache.spark.sql.GraftBridge.registerFunctions(spark)
    val r = spark.sql(
      """SELECT cosine_similarity(
        |  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c""".stripMargin)
      .collect().head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
    // sketch expressions registered on the same surface
    val row = spark.sql(
      """SELECT size(minhash_signature(array('a', 'b'))) AS n,
        |  simhash64(array('a', 'b')) AS h,
        |  simhash64(array('a', 'b')) = simhash64(array('a', 'b')) AS stable"""
        .stripMargin).collect().head
    assert(row.getInt(0) === 64)
    assert(row.getBoolean(2))
    // md5_simhash60 of a single token == that token's 60-bit md5 prefix
    // (every bit's majority is the bit itself) — pins the digest-bytes
    // shortcut against the hex-string formulation the oracle uses
    val m = spark.sql("SELECT md5_simhash60(array('hello')) AS h")
      .collect().head.getLong(0)
    assert(m === 419982666956583591L) // == int(md5('hello')[:15], 16)
    // shingle_set registered on the same surface
    val sh = spark.sql("SELECT shingle_set(array('a','b','c','d')) AS s")
      .collect().head.getSeq[String](0)
    assert(sh === Seq("a b c", "b c d"))
    // vec_norm + pq_adc complete the SQL-only surface for the vector path
    val vn = spark.sql(
      "SELECT vec_norm(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS n")
      .collect().head.getDouble(0)
    assert(math.abs(vn - 5.0) < 1e-12)
    // codes=49 → nibble 1 then 3: lut[0*16+1]=10 + lut[1*16+3]=20 = 30
    val adc = spark.sql(
      """SELECT pq_adc(49, transform(sequence(0, 31),
        |  i -> CASE WHEN i = 1 THEN CAST(10.0 AS DOUBLE)
        |            WHEN i = 19 THEN CAST(20.0 AS DOUBLE)
        |            ELSE CAST(0.0 AS DOUBLE) END), 2, 16) AS s""".stripMargin)
      .collect().head.getDouble(0)
    assert(adc === 30.0)
    // srp_signature: bands-long array, each bucket within [0, 2^bits)
    val srp = spark.sql(
      """SELECT srp_signature(transform(sequence(1, 64),
        |  i -> CAST(i AS FLOAT)), 4, 5, 64) AS sig""".stripMargin)
      .collect().head.getSeq[Int](0)
    assert(srp.length === 4 && srp.forall(b => b >= 0 && b < 32))
  }
}
