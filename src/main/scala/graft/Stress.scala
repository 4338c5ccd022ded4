package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress harness (manual, not part of the driver contract): runs
  * headline aggregate/join shapes over the sf0.1 lineitem replicated K× by
  * in-memory union (orderkeys offset per replica so join/group cardinality
  * scales too — ~6M lineitem rows at K=10). Measures whether the data-cost
  * curve stays linear past the largest driver scale factor; results are
  * recorded in ROUND2_NOTES.md. */
object Stress {
  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(10)
    val d = "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", 2 * cpus.toInt)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def replicate(df: DataFrame, keyCols: Seq[String]): DataFrame = {
      val offset = 100000000L
      (0 until k).map { i =>
        keyCols.foldLeft(df)((acc, c) =>
          acc.withColumn(c, col(c) + lit(i * offset)))
      }.reduce(_ union _)
    }

    val li = replicate(Tables.lineitem(spark, d), Seq("l_orderkey"))
      .cache()
    val ord = replicate(Tables.orders(spark, d), Seq("o_orderkey"))
      .cache()
    println(s"[stress] lineitem=${li.count()} orders=${ord.count()} (k=$k)")

    def time(name: String)(f: => Long): Long = {
      var last = 0L
      (1 to 2).foreach { run =>
        val t0 = System.nanoTime()
        val n = f
        println(f"[stress] $name run$run ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
        last = n
      }
      last
    }

    time("q1_agg_battery") {
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(Tables.cents(col("l_extendedprice"))), count(lit(1)))
        .count()
    }
    time("q6_filter_sum") {
      li.filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1996-01-01").cast("timestamp")
        && col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(round(col("l_extendedprice") * col("l_discount") * 10000)
          .cast("long"))).count()
    }
    time("join_agg_fact_to_fact") {
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(Tables.cents(col("l_extendedprice"))), count(lit(1)))
        .count()
    }
    // Bloom semi-join reduction (r8) at K×: the dim filter keeps ~4% of
    // 1.5M orders, the bloom pre-filter must hold the fact-side shuffle
    // to that fraction (+fpp) — the wall should track the REDUCED join,
    // not the K×-scaled full fact⋈fact above.
    time("bloom_join_reduce") {
      val dim = ord.filter(col("o_orderpriority") === "1-URGENT"
        && year(col("o_orderdate")) === 1995)
      graft.functions.BloomJoin.reduceJoin(
          li, dim, col("l_orderkey"), col("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(count(lit(1))).count()
    }
    // Z-order + zone map (r8) at K×: clustering 6M rows into 64 files,
    // then listing-time pruning for 1/8-range slices in each dimension —
    // kept-file counts are the artifact (the sqrt-ish bound is the win).
    locally {
      val zdir = graft.Scratch.dir("graft_zstress") + "/data"
      time("zorder_write") {
        graft.sources.Layout.writeZOrdered(
          li, zdir, Seq("l_orderkey", "l_partkey"), files = 64)
        spark.read.parquet(zdir).count()
      }
      val hiOk = li.agg(max(col("l_orderkey"))).head().getLong(0).toDouble / 8
      val hiPk = li.agg(max(col("l_partkey"))).head().getLong(0).toDouble / 8
      val keptOk = graft.sources.Layout.pruneFiles(
        spark, zdir, Seq(("l_orderkey", 0.0, hiOk))).size
      val keptPk = graft.sources.Layout.pruneFiles(
        spark, zdir, Seq(("l_partkey", 0.0, hiPk))).size
      val keptBoth = graft.sources.Layout.pruneFiles(spark, zdir,
        Seq(("l_orderkey", 0.0, hiOk), ("l_partkey", 0.0, hiPk))).size
      println(s"[stress] zorder files kept of 64: orderkey-slice $keptOk, " +
        s"partkey-slice $keptPk, both $keptBoth")
    }
    // Versioned protocol at K×: ten 600k-row append commits, read-latest,
    // in-protocol compaction, vacuum — the manifest layer's cost must be
    // per-commit metadata, not per-row (the data writes dominate; the
    // atomic-rename publication is a constant on top).
    time("versioned_10_appends_compact_vacuum") {
      // fresh table per run so both timed runs do identical work;
      // Scratch-tracked so the multi-GB copies are reaped at exit
      val vbase = graft.Scratch.dir("graft_vstress") + "/t"
      (0 until 10).foreach { i =>
        graft.sources.Versioned.commit(
          li.filter(pmod(col("l_orderkey"), lit(10)) === i), vbase,
          org.apache.spark.sql.SaveMode.Append)
      }
      graft.sources.Versioned.compactLatest(spark, vbase, targetFiles = 64)
      graft.sources.Versioned.vacuum(spark, vbase,
        keepVersions = 1, minAgeMs = 0)
      graft.sources.Versioned.read(spark, vbase).count()
    }
    time("window_topn_per_order") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
      li.withColumn("rk", row_number().over(w)).filter(col("rk") <= 2).count()
    }

    // AQE skew split vs not — the AUTOMATIC complement of the manual
    // x_salted_join: ~17% of the fact collapses onto one hot orderkey,
    // the join is forced sort-merge (a broadcast would hide the skew),
    // and AQE's skew-join split is toggled between runs. On a real
    // cluster the unsplit hot partition is one straggling executor; on
    // local[N] all partitions share the machine, so the gap here only
    // LOWER-bounds the cluster-side effect.
    val liSkew = li.withColumn("l_orderkey",
      when(pmod(col("l_orderkey"), lit(6)) < 1, lit(1L))
        .otherwise(col("l_orderkey")))
    def skewJoinCount(): Long = liSkew
      .join(ord.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n")).count()
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    time("skew_join_no_aqe_split")(skewJoinCount())
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // the hot partition is ~60 MB at K=10 — below AQE's default 256 MB
    // skew threshold; scale the thresholds to the fixture so the split
    // actually engages (on a real cluster the defaults engage unchanged)
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
    time("skew_join_aqe_split")(skewJoinCount())
    spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
    spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")

    // [EXT] dedup at K×, two corpus regimes:
    //  - "dup-heavy": one appended replica token keeps cross-replica copies
    //    ABOVE the Jaccard threshold → every doc has ~K(K-1)/2 true near-dup
    //    copies (45 at K=10; ~250k emitted pairs) — the adversarial case for
    //    prefix filtering, since truly-similar copies share their prefix
    //    shingles and cannot be pruned;
    //  - "distinct": every token gets a replica suffix — an isomorphic
    //    token mapping, so each replica's shingle/posting distribution is
    //    IDENTICAL to the original corpus while cross-replica J=0: pairs
    //    and postings scale linearly in K — the regime a growing real
    //    corpus lives in. (An interleaved marker token was tried first and
    //    manufactured pathological hot shingles like "r0 the r0" shared by
    //    most of a replica — quadratic join blowup from the test fixture
    //    itself, not the operator.)
    val docsDup = (0 until k).map { i =>
      Tables.documents(spark, d).select(
        (col("doc_id") + lit(i * 100000000L)).as("doc_id"),
        concat(col("text"), lit(s" r$i")).as("text"))
    }.reduce(_ union _).repartition(64).cache()
    println(s"[stress] documents=${docsDup.count()} (k=$k, dup-heavy)")
    val exactDupPairs = time("ngram_pairs_dup_heavy") {
      graft.ext.Dedup.ngramJaccardNaive(spark, docsDup).count()
    }
    time("ngram_pairs_dup_heavy_prefix_filtered") {
      graft.ext.Dedup.ngramJaccardPrefixFiltered(spark, docsDup).count()
    }
    // Posting-list cap (round-6 scale fix): hot shingles leave the index,
    // candidates are cut by a sound Jaccard upper bound INSIDE the pair
    // aggregation, survivors re-verify exactly — emitted pairs are a
    // SUBSET of the exact result, so recall is just the count ratio. The
    // dup-heavy regime is the cap's worst case for recall (replica groups
    // share all their shingles, so a pervasive-enough cap orphans groups:
    // cap=50 → 0.79 recall at K=10) and its best case for wall (the
    // K-fold posting inflation is exactly what gets bounded: at K=20,
    // cap=200 runs 2.5x faster than exact at recall 1.0).
    Seq(50, 100).foreach { cap =>
      val capped = time(s"ngram_pairs_dup_heavy_cap$cap") {
        graft.ext.Dedup.ngramJaccardNaive(spark, docsDup, maxPosting = cap).count()
      }
      println(f"[stress] ngram cap=$cap recall=${capped.toDouble / exactDupPairs}%.4f " +
        s"($capped of $exactDupPairs exact pairs)")
    }
    // Substring-level dedup at 10× dup-heavy: every window of every doc
    // repeats K times (the corpus-hot-window worst case). The count-agg
    // shape absorbs it — no join for skew to break.
    time("substring_windows_dup_heavy") {
      graft.ext.Dedup.repeatedWindows(spark, docsDup).count()
    }
    // Asymmetric containment (r8) on the same dup-heavy corpus: emits
    // BOTH directions of every mutual pair (≈ 2× the Jaccard pair count)
    // through the identical count-inside-aggregation shape — the
    // directional denominator must not change the scale behavior.
    time("containment_pairs_dup_heavy") {
      graft.ext.Dedup.ngramContainment(spark, docsDup).count()
    }
    // The two round-7 shard-offset rank decompositions at K×: the trained
    // replace-chain apply + pack (pure projection + per-shard window) and
    // the vocab build with its (cnt, first-char) group ranking. Both must
    // stay linear in K — neither has a partition-less window to saturate.
    time("bpe_pack_10x") {
      graft.ext.Pipeline.bpePack(docsDup).count()
    }
    time("vocab_10x") {
      graft.ext.Pipeline.buildVocab(docsDup).count()
    }
    // Exact heavy hitters (r8) at K×: ~27M tokens through the bounded MG
    // candidate pass (O(tasks × 2048) shuffled) + the InSet recount —
    // must stay linear in K where the plain groupBy's shuffle grows with
    // the distinct vocabulary.
    time("heavy_hitters_10x") {
      graft.ext.TextAnalysis.heavyHitters(docsDup).count()
    }
    // Band-prune formulation A/B (round 5): the two LSH band sites were
    // switched from count-over-window to hash-agg+broadcast-rejoin
    // (Dedup.pruneBuckets), applying the measured doc-freq lesson. Both
    // formulations run here over the SAME cached minhash band frame, so
    // the delta is purely prune+self-join cost; the production end-to-end
    // paths are timed alongside for the record.
    locally {
      import graft.functions.VectorFunctions.{minhashSignature, shingleSet}
      val banded = docsDup
        .withColumn("tokens", split(col("text"), " "))
        .withColumn("sig", minhashSignature(shingleSet(col("tokens"))))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, 15), b -> hash(slice(sig, b * 4 + 1, 4)))"))
          .as(Seq("band_idx", "band_hash")))
        .cache()
      println(s"[stress] banded=${banded.count()} (k=$k, dup-heavy)")
      def selfJoinCount(pruned: DataFrame): Long = pruned.as("a")
        .join(pruned.as("b"),
          col("a.band_idx") === col("b.band_idx")
            && col("a.band_hash") === col("b.band_hash")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
      time("band_prune_window") {
        import org.apache.spark.sql.expressions.Window
        selfJoinCount(banded
          .withColumn("bucket_n", count(lit(1)).over(
            Window.partitionBy(col("band_idx"), col("band_hash"))))
          .filter(col("bucket_n") <= 100).drop("bucket_n"))
      }
      time("band_prune_agg_rejoin") {
        val keep = banded.groupBy(col("band_idx"), col("band_hash"))
          .agg(count(lit(1)).as("bucket_n"))
          .filter(col("bucket_n") <= 100)
          .select(col("band_idx"), col("band_hash"))
        selfJoinCount(banded.join(broadcast(keep), Seq("band_idx", "band_hash")))
      }
      banded.unpersist()
    }
    time("minhash_pairs_dup_heavy") {
      graft.ext.Dedup.minhashNearDups(docsDup).count()
    }
    time("simhash_pairs_dup_heavy") {
      graft.ext.Dedup.simhashNearDups(docsDup).count()
    }
    // CC over the dup-heavy pair graph (each original doc's K replicas form
    // one ~K-clique component): substantiates the O(rounds·E) claim — the
    // loop never shuffles the corpus, only the edge-touched labels — and
    // exercises the localCheckpoint result path at stress scale.
    val pairsDup = graft.ext.Dedup.ngramJaccardNaive(spark, docsDup)
      .select(col("doc_a"), col("doc_b")).cache()
    println(s"[stress] pairs=${pairsDup.count()} (k=$k, dup-heavy)")
    time("connected_components_dup_heavy") {
      graft.ext.Dedup.connectedComponents(
        pairsDup, docsDup.select(col("doc_id"))).count()
    }
    pairsDup.unpersist()
    docsDup.unpersist()
    val docsDistinct = (0 until k).map { i =>
      Tables.documents(spark, d).select(
        (col("doc_id") + lit(i * 100000000L)).as("doc_id"),
        expr(s"array_join(transform(split(text, ' '), t -> concat(t, '_$i')), ' ')")
          .as("text"))
    }.reduce(_ union _).repartition(64).cache()
    println(s"[stress] documents=${docsDistinct.count()} (k=$k, distinct)")
    time("ngram_pairs_distinct") {
      graft.ext.Dedup.ngramJaccardNaive(spark, docsDistinct).count()
    }
    time("ngram_pairs_distinct_prefix_filtered") {
      graft.ext.Dedup.ngramJaccardPrefixFiltered(spark, docsDistinct).count()
    }
    docsDistinct.unpersist()

    val emb = (0 until k).map { i =>
      Tables.embeddings(spark, d).select(
        (col("vec_id") + lit(i * 100000000L)).as("vec_id"), col("embedding"))
    }.reduce(_ union _).repartition(64).cache()
    println(s"[stress] embeddings=${emb.count()} (k=$k)")
    time("pq_topk") {
      graft.ext.Similarity.pqTopK(emb, col("vec_id") < 10).count()
    }
    time("ivf_topk") {
      graft.ext.Similarity.ivfTopK(emb, col("vec_id") < 10).count()
    }
    time("bruteforce_topk") {
      graft.ext.Similarity.exactTopK(emb,
        emb.filter(col("vec_id") < 10)).count()
    }
    // Multi-table LSH (r8 shape: 8 tables × 6 bits, flip-1 probes): the
    // candidate explode is tables× lean (c_id, t, bucket) rows — the
    // knob that must stay linear in K; replicas of the 10 query vectors
    // carry identical embeddings, so recall pressure is maximal.
    time("lsh_topk_multitable") {
      graft.ext.Similarity.lshTopK(emb, col("vec_id") < 10).count()
    }
    // Exact k-NN self-join (r8): O(n²) BY CONTRACT — 50k vectors = 2.5G
    // cosine pairs at K=10 — so the subject under stress is the blocked
    // grid's shape, not the flop count: pairs must die inside the grid
    // tasks (bounded memory via the k-bounded partial aggregation) and
    // wall time must track pairs/cores linearly. Grid dims widened with
    // the input as a cluster would (more slices, same per-task volume).
    time("knn_join_exact") {
      graft.ext.Similarity.knnJoin(emb, k = 3,
        blocks = 16, qblocks = 8).count()
    }
    // Threshold-contract embedding dedup (the sub-quadratic pair-finding
    // scale path): replicas carry IDENTICAL embeddings, so each original
    // vector forms a K-clique at cosine 1.0 — K(K-1)/2 × 2000 true pairs at
    // K=10 — while 16×8-bit SRP bands prune the cross-group space. The
    // baseline this replaces is the 20k² all-pairs join (x_dedup_embed's
    // shape), which is NOT run here — at 100 TB it doesn't exist.
    time("embed_near_dups_lsh") {
      graft.ext.Dedup.embedNearDupsLsh(emb, minCosine = 0.95).count()
    }
    spark.stop()
  }
}
