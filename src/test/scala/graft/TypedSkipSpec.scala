package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.sources.{Layout, PredicateRanges, Versioned}

/** The typed (date / timestamp / string) zone-map families and the
  * OR-aware predicate resolution — the r10 skipping-stack upgrade.
  * Soundness pins live here: the string-prefix truncation boundary, the
  * cross-family fail-open, the disjunction hull/union, and the
  * end-to-end file-count proofs that date/string/OR predicates actually
  * PRUNE (not just stay row-identical). */
class TypedSkipSpec extends SparkSpec {
  import spark.implicits._

  private def freshBase(): String =
    java.nio.file.Files.createTempDirectory("graft_typed_skip").toString + "/t"

  /** id-clustered table: 0..799 in two commits of 4 range-partitioned
    * files each; d tracks id (4 ids per day), name is zero-padded id so
    * string order == numeric order, ts is id hours after an epoch. */
  private def clustered(): String = {
    val base = freshBase()
    def frame(lo: Int, hi: Int): DataFrame =
      spark.range(lo, hi).toDF("id")
        .withColumn("d", date_add(lit(java.sql.Date.valueOf("1992-01-01")),
          (col("id") / 4).cast("int")))
        .withColumn("name", format_string("n%04d", col("id")))
        .withColumn("ts", timestamp_seconds(col("id") * 3600L))
        .withColumn("grp", concat(lit("g"), pmod(col("id"), lit(7))))
        .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    val stats = Seq("id", "d", "name", "ts")
    // Spark's default parquet timestamp output is INT96 (no usable
    // stats — the family records `unsupported` and fails open); the
    // skipping-friendly layout writes MICROS, like the public lakehouse
    // formats recommend
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = spark.conf.get(tsKey)
    spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    try Versioned.withBloomSizing(spark, 1L << 11, 1L << 14) {
      Versioned.commit(frame(0, 400), base,
        statsCols = stats, bloomCols = Seq("grp"))
      Versioned.commit(frame(400, 800), base, SaveMode.Append,
        statsCols = stats, bloomCols = Seq("grp"))
    } finally spark.conf.set(tsKey, prevTs)
    base
  }

  private def filesOf(df: DataFrame): Int = df.inputFiles.length

  test("zone map records a family per column, typed bounds encoded") {
    val dir = freshBase()
    spark.range(0, 100).toDF("id")
      .withColumn("d", date_add(lit(java.sql.Date.valueOf("2000-01-01")),
        col("id").cast("int")))
      .withColumn("name", format_string("x%03d", col("id")))
      .repartitionByRange(2, col("id"))
      .write.parquet(dir)
    Layout.writeZoneMap(spark, dir, Seq("id", "d", "name"))
    val zm = Layout.loadZoneMap(spark, dir).get
    assert(zm.family("id") === Some("numeric"))
    assert(zm.family("d") === Some("date"))
    assert(zm.family("name") === Some("string"))
    assert(zm.family("absent") === None)
    // date bounds are epoch days: 2000-01-01 is day 10957
    val ranges = PredicateRanges.rangeSets(
      PredicateRanges.tree(col("d") === lit(java.sql.Date.valueOf("2000-01-01"))),
      zm.family).get
    assert(ranges.size === 1)
    val (c, Seq((lo, hi))) = ranges.head
    assert(c === "d" && lo < 10957.0 && hi > 10957.0 && hi - lo < 1.0)
    // exactly one of the two range-partitioned files holds day 10957
    assert(zm.pruneSets(ranges).size === 1)
  }

  test("string prefix truncation is sound at the boundary") {
    val dir = freshBase()
    // file content max is "abcdefXYZ" — its 6-byte prefix encoding
    // EQUALS enc("abcdef"), so probing "abcdef" must keep the file
    // (sound), while "abcdeg" (past the prefix) must prune it
    Seq("abcdaa", "abcdefXYZ").toDF("s").coalesce(1).write.parquet(dir)
    Layout.writeZoneMap(spark, dir, Seq("s"))
    val zm = Layout.loadZoneMap(spark, dir).get
    def pruneOn(c: org.apache.spark.sql.Column): Int =
      PredicateRanges.rangeSets(PredicateRanges.tree(c), zm.family) match {
        case None => 0
        case Some(rs) => zm.pruneSets(rs).size
      }
    assert(pruneOn(col("s") === "abcdef") === 1,
      "a probe equal to the truncated max must survive")
    assert(pruneOn(col("s") === "abcdefZZZZ") === 1,
      "a longer probe sharing the max's prefix must survive")
    assert(pruneOn(col("s") === "abcdeg") === 0,
      "a probe past the prefix space must prune")
    assert(pruneOn(col("s") >= "abcdeg") === 0)
    assert(pruneOn(col("s") <= "abcczz") === 0)
    assert(pruneOn(col("s") <= "abcdaa") === 1)
    // numeric literal against a string family: fail open, never wrong
    assert(pruneOn(col("s") >= 5) === 1)
  }

  test("readWhere prunes on a DATE range and stays row-identical") {
    val base = clustered()
    val all = Versioned.read(spark, base)
    val totalFiles = filesOf(all)
    // ids 0..799 → days 1992-01-01 .. +199; this window is ~25% of it
    val cond = col("d") >= "1992-02-01" && col("d") < lit("1992-03-01")
    val got = Versioned.readWhere(spark, base, cond)
    assert(filesOf(got) < totalFiles,
      s"date range should prune (planned ${filesOf(got)} of $totalFiles)")
    assert(got.select("id").as[Long].collect().sorted ===
      all.filter(cond).select("id").as[Long].collect().sorted)
    // java.sql.Date literals encode the same way
    val cond2 = col("d") >= lit(java.sql.Date.valueOf("1992-02-01"))
    assert(Versioned.readWhere(spark, base, cond2).count() ===
      all.filter(cond2).count())
  }

  test("readWhere prunes on a STRING range and stays row-identical") {
    val base = clustered()
    val all = Versioned.read(spark, base)
    val totalFiles = filesOf(all)
    val cond = col("name") >= "n0100" && col("name") < "n0200"
    val got = Versioned.readWhere(spark, base, cond)
    assert(filesOf(got) < totalFiles)
    assert(got.select("id").as[Long].collect().sorted ===
      all.filter(cond).select("id").as[Long].collect().sorted)
  }

  test("readWhere prunes on a TIMESTAMP range (micros output) and stays row-identical") {
    val base = clustered()
    val all = Versioned.read(spark, base)
    val cond = col("ts") >= "1970-01-05 00:00:00" &&
      col("ts") < "1970-01-09 00:00:00"
    val got = Versioned.readWhere(spark, base, cond)
    assert(filesOf(got) < filesOf(all),
      s"timestamp range should prune (planned ${filesOf(got)})")
    assert(got.select("id").as[Long].collect().sorted ===
      all.filter(cond).select("id").as[Long].collect().sorted)
  }

  test("a two-branch range OR prunes to the union of its envelopes") {
    val base = clustered()
    val all = Versioned.read(spark, base)
    val totalFiles = filesOf(all)
    // low OR high band: the middle files must drop
    val cond = col("id") <= 50L || col("id") >= 750L
    val got = Versioned.readWhere(spark, base, cond)
    assert(filesOf(got) < totalFiles,
      s"range OR should prune (planned ${filesOf(got)} of $totalFiles)")
    assert(got.select("id").as[Long].collect().sorted ===
      all.filter(cond).select("id").as[Long].collect().sorted)
    // a cross-column OR constrains NO column in every branch: fail open
    val open = col("id") <= 50L || col("name") >= "n0750"
    assert(filesOf(Versioned.readWhere(spark, base, open)) === totalFiles)
    assert(Versioned.readWhere(spark, base, open).count() ===
      all.filter(open).count())
  }

  test("bloom probes union across OR branches; contradictions short-circuit") {
    val base = clustered()
    val all = Versioned.read(spark, base)
    // both branches probe grp → union {g1, g2} prunes via the bloom
    val cond = col("grp") === "g1" || col("grp") === "nope"
    val got = Versioned.readWhere(spark, base, cond)
    assert(got.select("id").as[Long].collect().sorted ===
      all.filter(cond).select("id").as[Long].collect().sorted)
    // an unsatisfiable equality conjunction returns empty without a scan
    val unsat = Versioned.readWhere(spark, base,
      col("grp") === "g1" && col("grp") === "g2")
    assert(unsat.count() === 0)
    // a crossed range is unsatisfiable too — every file prunes
    val crossed = Versioned.readWhere(spark, base,
      col("id") > 10L && col("id") < 5L)
    assert(filesOf(crossed) === 0 && crossed.count() === 0)
    // ...and an unsat OR BRANCH just drops out, the other branch prunes
    val half = Versioned.readWhere(spark, base,
      (col("id") > 10L && col("id") < 5L) || col("id") <= 50L)
    assert(half.count() === all.filter(col("id") <= 50L).count())
    assert(filesOf(half) < filesOf(all))
  }

  test("COW delete discovery prunes on a date predicate; result exact") {
    val base = clustered()
    val before = Versioned.read(spark, base)
      .select("id").as[Long].collect().toSet
    val ents = Versioned.entries(spark, base, 2L)
    // only the FIRST commit (ids 0..399 → days through 1992-04-09)
    // intersects the window; the second dir must carry by reference
    val cond = col("d") < lit("1992-02-01")
    val survivors = Versioned.zoneSurvivors(spark,
      ents, PredicateRanges.tree(cond))
    assert(survivors.map(_.path) === Seq(ents.head.path),
      "date envelope must exclude the high-id dir pre-scan")
    val v = Versioned.deleteWhere(spark, base, cond)
    assert(Versioned.manifestFiles(spark, base, v).contains(ents(1).path),
      "the skipped dir is carried by reference")
    assert(Versioned.read(spark, base).select("id").as[Long]
      .collect().toSet === (before -- (0L until 124L)))
  }

  test("legacy numeric envelopes never touch typed columns") {
    val base = clustered()
    val ents = Versioned.entries(spark, base, 2L)
    // raw doubles against the DATE column: family mismatch → fail open
    // (both dirs survive — sound), NOT pruned wrongly
    val survivors = Versioned.zoneSurvivors(spark, ents,
      PredicateRanges.numericEnvelope(Seq(("d", 0.0, 1.0))))
    assert(survivors.size === ents.size)
    // against the numeric id column they still prune
    val s2 = Versioned.zoneSurvivors(spark, ents,
      PredicateRanges.numericEnvelope(Seq(("id", 0.0, 10.0))))
    assert(s2.map(_.path) === Seq(ents.head.path))
  }
}
