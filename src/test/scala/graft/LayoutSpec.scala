package graft

import java.nio.file.Files
import graft.sources.Layout
import org.apache.spark.sql.functions._

/** Storage-layout gates: partition pruning on partitioned writes and
  * shuffle-free joins between co-bucketed tables — the two layout choices
  * that carry the 100 TB design (see Layout scaladoc). */
class LayoutSpec extends SparkSpec {

  test("partitioned write enables partition pruning at the scan") {
    val dir = Files.createTempDirectory("graft_part").toString
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    Layout.writePartitioned(li, dir, "l_returnflag")
    val back = spark.read.parquet(dir).filter(col("l_returnflag") === "R")
    val p = explain(back)
    // non-greedy within the bracket so an empty PartitionFilters: [] fails
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*l_returnflag[^\\]]*\\].*"), p)
    assert(back.count() === li.filter(col("l_returnflag") === "R").count())
  }

  test("compaction collapses a small-file dataset, preserving rows") {
    val in = Files.createTempDirectory("graft_small").toString
    val out = Files.createTempDirectory("graft_compact").toString
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    li.repartition(40).write.mode("overwrite").parquet(in)
    def parquetFiles(d: String): Int =
      new java.io.File(d).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(in) === 40)
    val n = Layout.compact(spark, in, s"$out/data", targetFileBytes = 512 * 1024)
    assert(parquetFiles(s"$out/data") === n)
    assert(n < 40, s"expected fewer than 40 files, got $n")
    assert(spark.read.parquet(s"$out/data").count() === li.count())
  }

  test("co-bucketed join plans without a shuffle exchange") {
    // clean any orphan warehouse dirs from interrupted runs
    Seq("b_lineitem", "b_orders").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val os = Tables.orders(spark, "/root/testdata/sf0.001")
    Layout.writeBucketed(li.select("l_orderkey", "l_quantity"),
      "b_lineitem", 8, "l_orderkey")
    Layout.writeBucketed(os.select("o_orderkey", "o_totalprice"),
      "b_orders", 8, "o_orderkey")
    val joined = spark.table("b_lineitem")
      .hint("merge") // force sort-merge: co-bucketing makes it exchange-free
      .join(spark.table("b_orders").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
    val p = explain(joined)
    assert(!p.contains("Exchange"), p)
    // Sort nodes remain: Spark >=3.0 ignores bucket sort metadata unless
    // spark.sql.legacy.bucketedTableScan.outputOrdering is set; the win
    // that matters (and that we pin) is the missing shuffle Exchange.
    assert(p.contains("SortMergeJoin"), p)
    assert(joined.count() === li.count())
  }

  test("z-order + zone map: correct pruned reads, both dimensions skip files") {
    val dir = Files.createTempDirectory("graft_zorder").toString + "/data"
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val files = 16
    Layout.writeZOrdered(li, dir, Seq("l_orderkey", "l_partkey"), files)
    // the _graft_zonemap sidecar is invisible to plain readers
    assert(spark.read.parquet(dir).count() === li.count())

    val maxOk = li.agg(max(col("l_orderkey"))).head.getLong(0).toDouble
    val maxPk = li.agg(max(col("l_partkey"))).head.getLong(0).toDouble
    // a ~1/8 range slice in EACH dimension
    val okRange = ("l_orderkey", 0.0, maxOk / 8)
    val pkRange = ("l_partkey", 0.0, maxPk / 8)

    Seq(okRange, pkRange).foreach { case r @ (c, lo, hi) =>
      // soundness: pruned read + precise filter == full scan + filter
      val pruned = Layout.readZonePruned(spark, dir, Seq(r))
        .filter(col(c) >= lo && col(c) <= hi)
        .orderBy("l_orderkey", "l_linenumber").collect()
      val full = spark.read.parquet(dir)
        .filter(col(c) >= lo && col(c) <= hi)
        .orderBy("l_orderkey", "l_linenumber").collect()
      assert(pruned === full, s"zone-pruned read lost rows for $c")
      // sharpness: a single-dimension slice skips files in BOTH dims —
      // the property a linear sort cannot give
      val kept = Layout.pruneFiles(spark, dir, Seq(r)).size
      assert(kept <= files / 2, s"$c slice kept $kept of $files files")
    }

    // the counter-factual: a LINEAR sort on l_orderkey bounds only that
    // column per file — the l_partkey slice touches (nearly) every file
    val linDir = Files.createTempDirectory("graft_linear").toString + "/data"
    li.repartitionByRange(files, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(linDir)
    Layout.writeZoneMap(spark, linDir, Seq("l_orderkey", "l_partkey"))
    val linKept = Layout.pruneFiles(spark, linDir, Seq(pkRange)).size
    val zKept = Layout.pruneFiles(spark, dir, Seq(pkRange)).size
    assert(zKept < linKept,
      s"z-order ($zKept files) should beat linear layout ($linKept) on the non-sort column")
    assert(linKept >= files - 2, s"linear layout unexpectedly pruned: $linKept")

    // conjunctive two-dimension slice: the intersection prunes hardest
    val both = Layout.pruneFiles(spark, dir, Seq(okRange, pkRange)).size
    assert(both <= files / 4, s"2-dim slice kept $both of $files")
    // empty-overlap range → no files, schema-preserving empty frame
    assert(Layout.readZonePruned(spark, dir,
      Seq(("l_orderkey", maxOk + 1, maxOk + 2))).count() === 0)
  }

  test("morton interleave matches the bit-definition reference on random buckets") {
    import spark.implicits._
    // reference: bit j of bucket i lands at output bit j*n + i
    def ref(bs: Seq[Long], bits: Int): Long =
      (for { (b, i) <- bs.zipWithIndex; j <- 0 until bits }
        yield ((b >> j) & 1L) << (j * bs.size + i)).sum
    val rnd = new scala.util.Random(42)
    for (n <- 2 to 3; bits <- Seq(4, 8)) {
      val rows = Seq.fill(200)(Seq.fill(n)(rnd.nextInt(1 << bits).toLong))
      val df = rows.map {
        case Seq(a, b) => (a, b, 0L)
        case Seq(a, b, c) => (a, b, c)
      }.toDF("b0", "b1", "b2")
      val cols = (0 until n).map(i => col(s"b$i"))
      val got = df.select(Layout.morton(cols, bits).as("z"))
        .as[Long].collect()
      val want = rows.map(ref(_, bits))
      assert(got.toSeq === want, s"n=$n bits=$bits")
    }
  }

  test("zone map handles partitioned layouts and decimal columns correctly") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    // hive-partitioned dataset: files live in key=value SUBDIRECTORIES —
    // the zone map must list recursively or it would be silently empty
    val pdir = Files.createTempDirectory("graft_zm_part").toString + "/data"
    Layout.writePartitioned(li, pdir, "l_returnflag")
    Layout.writeZoneMap(spark, pdir, Seq("l_orderkey"))
    val maxOk = li.agg(max(col("l_orderkey"))).head().getLong(0).toDouble
    val slice = Seq(("l_orderkey", 0.0, maxOk / 8))
    val kept = Layout.pruneFiles(spark, pdir, slice)
    assert(kept.nonEmpty, "recursive listing found no partitioned files")
    val pruned = Layout.readZonePruned(spark, pdir, slice)
      .filter(col("l_orderkey") <= maxOk / 8).count()
    assert(pruned === li.filter(col("l_orderkey") <= maxOk / 8).count())

    // DECIMAL column: parquet stores unscaled ints in the footer stats —
    // the zone map must rescale or pruning drops files that hold matches
    val ddir = Files.createTempDirectory("graft_zm_dec").toString + "/data"
    val dec = li.withColumn("price_dec",
      col("l_extendedprice").cast("decimal(12,2)"))
    dec.repartitionByRange(4, col("price_dec"))
      .write.mode("overwrite").parquet(ddir)
    Layout.writeZoneMap(spark, ddir, Seq("price_dec"))
    val (lo, hi) = (1000.0, 2000.0)
    val keptD = Layout.readZonePruned(spark, ddir,
        Seq(("price_dec", lo, hi)))
      .filter(col("price_dec") >= lo && col("price_dec") <= hi).count()
    val fullD = dec.filter(col("price_dec") >= lo
      && col("price_dec") <= hi).count()
    assert(fullD > 0, "test slice unexpectedly empty")
    assert(keptD === fullD, "decimal zone map lost matching rows")
    // and the bounds really are in VALUE space, not unscaled-int space
    val zm = Layout.readSidecar(spark, ddir, "_graft_zonemap")
    val gmin = zm.agg(min(col("price_dec_min"))).head().getDouble(0)
    val trueMin = dec.agg(min(col("price_dec"))).head()
      .getDecimal(0).doubleValue()
    assert(math.abs(gmin - trueMin) < 0.01, s"$gmin vs $trueMin")

    // wrong column name fails loud instead of writing an all-null map
    assertThrows[IllegalArgumentException](
      Layout.writeZoneMap(spark, ddir, Seq("no_such_column")))
  }

  test("rank-bucketed z-order keeps its selectivity on a heavily skewed column") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val maxOk = li.agg(max(col("l_orderkey"))).head().getLong(0).toDouble
    // log-uniform values: >half the rows land in the lowest 1/256 of the
    // value range — a uniform grid collapses them into one cell and a
    // range slice in the dense region cannot prune.
    // PINNED partitioning (r17, VERDICT r16 item 1): approxQuantile's
    // sketch merge and repartitionByRange's boundary sampling both depend
    // on the INPUT partition layout, which the scan derives from the
    // session's core count — the sharpness assertion below sat one file
    // from its threshold and flipped with the environment (the r16
    // "LayoutSpec flake": 13 > 12 under the driver's box, pass in
    // isolation). A deterministic hash repartition to a fixed width makes
    // the file boundaries — and therefore the kept-file counts — a pure
    // function of the data, whatever session runs the suite.
    val skewed = li.withColumn("skew",
      exp(col("l_orderkey").cast("double") / maxOk * lit(12.0)))
      .repartition(8, col("l_orderkey"), col("l_linenumber"))
    val Array(q40, q60) =
      skewed.stat.approxQuantile("skew", Array(0.4, 0.6), 0.001)
    val files = 16

    val rankDir = Files.createTempDirectory("graft_zrank").toString + "/data"
    Layout.writeZOrdered(skewed, rankDir, Seq("skew", "l_partkey"),
      files, rankBuckets = true)
    val uniDir = Files.createTempDirectory("graft_zuni").toString + "/data"
    Layout.writeZOrdered(skewed, uniDir, Seq("skew", "l_partkey"), files)

    // soundness on the rank layout
    val slice = Seq(("skew", q40, q60))
    val pruned = Layout.readZonePruned(spark, rankDir, slice)
      .filter(col("skew") >= q40 && col("skew") <= q60)
      .orderBy("l_orderkey", "l_linenumber").collect()
    val full = spark.read.parquet(rankDir)
      .filter(col("skew") >= q40 && col("skew") <= q60)
      .orderBy("l_orderkey", "l_linenumber").collect()
    assert(pruned === full)

    // sharpness: the dense-region slice prunes under rank buckets and
    // (essentially) cannot under the uniform grid
    val rankKept = Layout.pruneFiles(spark, rankDir, slice).size
    val uniKept = Layout.pruneFiles(spark, uniDir, slice).size
    // a mid-range slice crosses high z-bit boundaries, so it keeps more
    // files than an edge-anchored slice of the same width — the claim is
    // pruning EXISTS under rank buckets and (essentially) cannot under
    // the uniform grid, where >half the rows share cell 0
    assert(rankKept <= (3 * files) / 4,
      s"rank-bucketed slice kept $rankKept of $files")
    assert(uniKept >= files - 2,
      s"uniform grid unexpectedly pruned the dense region: $uniKept of $files")
    assert(rankKept < uniKept,
      s"rank buckets ($rankKept files) should beat the uniform grid ($uniKept) under skew")
  }

  // Range partitioning that samples its boundaries with an RDD-id seed
  // moved the file boundaries with the SparkContext's history (the
  // skewed-column test above kept 10-13 of 16 files depending on how
  // many RDDs earlier tests had made). The boundaries must come from the
  // data alone.
  test("z-order file boundaries do not move with the SparkContext's RDD history") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .repartition(8, col("l_orderkey"), col("l_linenumber"))
    def layout(): Seq[(Int, Long, Long, Long)] =
      Layout.zOrderFrame(li, Seq("l_orderkey", "l_partkey"), 16,
          rankBuckets = true)
        .groupBy(spark_partition_id().as("file"))
        .agg(count(lit(1)), min(col("l_orderkey") * 10 + col("l_linenumber")),
          max(col("l_orderkey") * 10 + col("l_linenumber")))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq.sorted
    val first = layout()
    assert(first.size > 1)
    (1 to 5).foreach { i =>
      // each offset makes a different number of throwaway RDDs
      (0 until i).foreach(_ => spark.sparkContext.parallelize(1 to 2))
      assert(layout() === first, s"file boundaries moved after $i more RDDs")
    }
  }

  test("pruned read of a partitioned layout reconstructs the partition columns") {
    // without basePath the explicit-file read silently loses the hive
    // partition column and breaks row-identity with the full scan
    val pdir = Files.createTempDirectory("graft_zm_bp").toString + "/data"
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    Layout.writePartitioned(li, pdir, "l_returnflag")
    Layout.writeZoneMap(spark, pdir, Seq("l_orderkey"))
    val maxOk = li.agg(max(col("l_orderkey"))).head().getLong(0).toDouble
    val slice = Seq(("l_orderkey", 0.0, maxOk / 8))
    val pruned = Layout.readZonePruned(spark, pdir, slice)
    assert(pruned.columns.toSet === spark.read.parquet(pdir).columns.toSet,
      "pruned read lost the partition column")
    val byFlag = pruned.filter(col("l_orderkey") <= maxOk / 8)
      .groupBy("l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = li.filter(col("l_orderkey") <= maxOk / 8)
      .groupBy("l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byFlag === full)
  }

  test("zone-map bounds widen conservatively past double precision") {
    import spark.implicits._
    // (1L << 62) + 513 rounds to NEAREST double (1L << 62) + 1024 — a
    // naively narrowed min would sit ABOVE the true value and pruning
    // could drop the file; the widened rectangle must contain it
    val x = (1L << 62) + 513L
    val dir = Files.createTempDirectory("graft_zm_wide").toString + "/data"
    Seq(x).toDF("big").write.mode("overwrite").parquet(dir)
    Layout.writeZoneMap(spark, dir, Seq("big"))
    val zm = Layout.readSidecar(spark, dir, "_graft_zonemap")
      .select("big_min", "big_max").head()
    val (lo, hi) = (zm.getDouble(0), zm.getDouble(1))
    val exact = new java.math.BigDecimal(x)
    assert(new java.math.BigDecimal(lo).compareTo(exact) <= 0,
      s"zone-map min $lo sits above the true value $x")
    assert(new java.math.BigDecimal(hi).compareTo(exact) >= 0,
      s"zone-map max $hi sits below the true value $x")
  }

  test("bloom sidecar meta records the CLAMPED sizing, not the computed one") {
    import spark.implicits._
    // BloomFilterAggregate silently caps its arguments at the session's
    // runtime-bloom maxima; the sidecar's audit trail must record what
    // was BUILT, not what was asked for. Lower the maxima so a small
    // fixture crosses them.
    val dir = Files.createTempDirectory("graft_bloom_clamp").toString + "/d"
    (1L to 5000L).toDF("k").coalesce(1).write.parquet(dir)
    val (itemsKey, bitsKey) = (
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
    val (oldItems, oldBits) =
      (spark.conf.get(itemsKey, "4000000"), spark.conf.get(bitsKey, "67108864"))
    try {
      spark.conf.set(itemsKey, "1000")
      spark.conf.set(bitsKey, "4096")
      Layout.writeBloomSidecar(spark, dir, Seq("k")) // auto-size → 5000 rows
      val meta = Layout.readSidecar(spark, dir, "_graft_bloom")
        .select("bloom_items", "bloom_bits", "bloom_fpp").head()
      assert(meta.getLong(0) === 1000L,
        s"items must record the clamp, got ${meta.getLong(0)}")
      assert(meta.getLong(1) === 4096L,
        s"bits must record the clamp, got ${meta.getLong(1)}")
      // the recorded fpp is the DELIVERED one at the clamped sizing —
      // far worse than the 3% target, which is exactly the honesty the
      // audit trail exists for
      assert(meta.getDouble(2) > 0.1, s"fpp ${meta.getDouble(2)} should " +
        "reflect the undersized filter")
      // soundness survives clamping: a present key always probes true
      val files = Layout.pruneFilesBloom(spark, dir, Seq(("k", Seq[Any](42L))))
      assert(files.nonEmpty, "clamped filters must never drop a real key")
    } finally {
      spark.conf.set(itemsKey, oldItems)
      spark.conf.set(bitsKey, oldBits)
    }
  }
}
