package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout helpers (SURVEY §2.1 S4 sink + 100 TB partitioning
  * strategy): hive-style partitioned parquet for partition pruning, and
  * bucketed tables for shuffle-free co-located joins.
  *
  * At 100 TB these two choices ARE the join/scan strategy: facts
  * partitioned by date land range filters on directories instead of data,
  * and bucketing both sides of a recurring fact↔fact join on the join key
  * removes the shuffle from every downstream query (pay the sort once at
  * write time, reuse it forever).
  */
object Layout {

  /** Write hive-style partitioned parquet. Dynamic partition overwrite:
    * only the partitions present in `df` are replaced — Spark's default
    * static mode would wipe the whole dataset path on incremental loads. */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(cols: _*).parquet(path)

  /** Write a bucketed+sorted managed table. The repartition on the bucket
    * key yields exactly one file per bucket — without it each writer task
    * emits a file per bucket (tasks×buckets small files). Co-bucketed joins
    * then plan with NO shuffle Exchange; the read-side Sort remains unless
    * spark.sql.legacy.bucketedTableScan.outputOrdering is enabled (Spark
    * >=3.0 ignores bucket sort metadata by default). */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      key: String): Unit =
    df.repartition(buckets, col(key))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** [[writeBucketed]] generalized to composite bucket keys and an
    * EXTERNAL location: data lands under `path`, the catalog entry
    * carries the bucket spec (bucketing is catalog metadata — a bare
    * `.parquet(path)` write cannot record it, which is why persistent
    * bucketed datasets are tables). Same one-file-per-bucket repartition
    * discipline as [[writeBucketed]]. */
  def writeBucketedExternal(df: DataFrame, table: String, path: String,
      buckets: Int, keys: Seq[String]): Unit =
    df.repartition(buckets, keys.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet").saveAsTable(table)

  /** Re-register a bucketed EXTERNAL table from its data path — the
    * restore half of [[writeBucketedExternal]] for a session whose
    * catalog does NOT carry the entry (the default in-memory/derby-in-cwd
    * metastore does not survive a restart; the parquet files under `path`
    * do). Bucketing is catalog metadata, so a bare `spark.read.parquet`
    * would lose the bucket spec and every downstream join would re-shuffle
    * the index; this declares the SAME spec the writer used (`buckets` and
    * `keys` must match the save — the files really are hash-bucketed that
    * way, the declaration just restores what the lost catalog knew).
    * Schema is inferred from the files; no-op when the table already
    * exists (same-session loads keep the writer's entry). */
  def registerBucketedExternal(spark: SparkSession, table: String,
      path: String, buckets: Int, keys: Seq[String]): Unit =
    if (!spark.catalog.tableExists(table)) {
      val schema = spark.read.parquet(path).schema
      val keyList = keys.map(k => s"`$k`").mkString(", ")
      spark.sql(
        s"""CREATE TABLE `$table` (${schema.toDDL}) USING parquet
           |CLUSTERED BY ($keyList) SORTED BY ($keyList) INTO $buckets BUCKETS
           |LOCATION '$path'""".stripMargin)
    }

  /** Append half of [[writeBucketedExternal]]: new rows land as NEW
    * correctly-hash-bucketed (and per-file sorted) files alongside the
    * existing ones — the incremental-load path for a persisted bucketed
    * dataset. Spark validates the declared spec against the catalog
    * entry, so a drifted (buckets, keys) call fails instead of silently
    * corrupting co-location. Each append adds one file per non-empty
    * bucket; a fine-grained append cadence should run [[compact]]
    * periodically (write-path hygiene, not an afterthought, at 100 TB). */
  def appendBucketedExternal(df: DataFrame, table: String,
      buckets: Int, keys: Seq[String]): Unit =
    df.repartition(buckets, keys.map(col): _*)
      .write.mode(SaveMode.Append)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet").saveAsTable(table)

  /** Morton (Z-order) interleave of per-column bucket ids: bit j of
    * bucket i lands at output bit j·n + i, so a range slice in ANY single
    * dimension touches only ~files^((n-1)/n) of a range-partitioned
    * layout instead of all of it. Pure integer shifts — codegen'd, no
    * UDF, bits·n terms. */
  private[graft] def morton(buckets: Seq[Column], bits: Int): Column = {
    val n = buckets.size
    val terms = for {
      (b, i) <- buckets.zipWithIndex
      j <- 0 until bits
    } yield shiftleft(shiftright(b, j).bitwiseAND(lit(1L)), j * n + i)
    terms.reduce(_ + _)
  }

  /** Z-ORDERED write + zone map (the multi-column data-skipping layout —
    * the public Delta `OPTIMIZE ZORDER` / Hudi column-stats shape):
    *
    * 1. Each z-column is bucketed into 2^bits cells over its observed
    *    [min, max] (one tiny agg; `width_bucket` is O(1) codegen'd —
    *    heavily skewed columns would want quantile boundaries instead,
    *    the bucketing is the only piece to swap).
    * 2. Rows sort by the Morton interleave of their bucket ids
    *    (range partitions at the z-value's quantiles + in-partition
    *    sort), so
    *    every output file covers a small HYPER-RECTANGLE of the z-column
    *    space rather than a slab of one column. A linear sort bounds one
    *    column per file; z-order bounds ALL of them at once — a range
    *    predicate on ANY z-column skips most files.
    * 3. A zone map (per-file min/max of each z-column) lands in
    *    `_graft_zonemap` under the same path — the leading underscore
    *    makes it invisible to plain `spark.read.parquet(path)` readers,
    *    like parquet's own `_metadata`.
    *
    * Parquet row-group stats already give READ-time skipping once a file
    * is opened; the zone map adds the LISTING-time layer Spark lacks
    * without an external index — at 100 TB, not planning tasks for 95% of
    * the files is the difference, not skipping their row groups after
    * scheduling them. */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
      files: Int, bits: Int = 8, rankBuckets: Boolean = false): Unit = {
    zOrderFrame(df, zCols, files, bits, rankBuckets)
      .write.mode(SaveMode.Overwrite).parquet(path)
    writeZoneMap(df.sparkSession, path, zCols)
  }

  /** The clustering half of [[writeZOrdered]] without the sink: rows
    * range-partitioned and sorted by their Morton z-value, ready for any
    * writer — in particular `Versioned.commit(zOrderFrame(...), path,
    * statsCols = zCols)`, which stages the clustered files and attaches
    * the zone-map sidecar inside the versioned protocol. */
  def zOrderFrame(df: DataFrame, zCols: Seq[String],
      files: Int, bits: Int = 8, rankBuckets: Boolean = false): DataFrame = {
    require(zCols.size >= 2,
      s"z-order needs >= 2 columns (one column = plain range sort), got $zCols")
    require(bits >= 1 && bits * zCols.size <= 62,
      s"bits=$bits over ${zCols.size} columns overflows a long z-value")
    val cells = (1 << bits).toLong
    val buckets =
      if (rankBuckets) {
        // skew-robust cells: approx-quantile boundaries give each cell
        // ~equal POPULATION (a uniform grid would park a skewed column's
        // mass in a few cells and the interleave loses its selectivity).
        // Boundaries are cells-1 doubles per column (driver KB); the
        // per-row bucket is a count-of-boundaries-≤-v fold — write-time
        // cost only, the read path never sees it.
        // one pass for ALL columns' boundaries (the multi-column
        // overload), not one scan per z-column
        val bsAll = df.stat.approxQuantile(zCols.toArray,
          (1 until cells.toInt).map(_.toDouble / cells).toArray, 0.001)
        zCols.zip(bsAll).map { case (c, bs) =>
          require(bs.nonEmpty,
            s"writeZOrdered: no quantiles for z-column '$c' — empty input?")
          val arr = array(bs.toSeq.map(lit): _*)
          aggregate(arr, lit(0L), (acc, b) =>
            acc + when(col(c).cast("double") >= b, 1L).otherwise(0L))
        }
      } else {
        val statCols = zCols.flatMap(c => Seq(
          min(col(c).cast("double")), max(col(c).cast("double"))))
        val mm = df.agg(statCols.head, statCols.tail: _*).head()
        zCols.zipWithIndex.map { case (c, i) =>
          require(!mm.isNullAt(2 * i) && !mm.isNullAt(2 * i + 1),
            s"writeZOrdered: z-column '$c' has no non-null values " +
              "(empty input or all-null column)")
          val (lo, hi) = (mm.getDouble(2 * i), mm.getDouble(2 * i + 1))
          if (hi == lo) lit(0L)
          else least(greatest(
            width_bucket(col(c).cast("double"), lit(lo), lit(hi), lit(cells)) - 1,
            lit(0L)), lit(cells - 1))
        }
      }
    // file boundaries from the data alone: `files`-quantiles of the
    // z-value, and a row's file is the count of boundaries ≤ its z-value.
    // (`repartitionByRange` seeds its boundary sample from the RDD id,
    // which made the layout move with the SparkContext's history.)
    val z = df.withColumn("__z", morton(buckets, bits))
    val bounds =
      if (files <= 1) Array.empty[Double]
      else z.stat.approxQuantile("__z",
        (1 until files).map(_.toDouble / files).toArray,
        math.min(0.001, 0.1 / files))
    val file = aggregate(array(bounds.toSeq.map(lit): _*), lit(0),
      (acc, b) => acc + when(col("__z").cast("double") >= b, 1).otherwise(0))
    z.repartitionById(files, file)
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Per-file min/max of `cols` → `path/_graft_zonemap` (a few rows per
    * file — KB-scale however big the data). Built from parquet FOOTER
    * statistics, not a data scan: the writer already computed every
    * row-group's min/max, so the zone map costs one footer read per file
    * — distributed over the file list (a task reads a few KB of footer,
    * never a data page), then the KB-scale stats collect to the driver
    * and land as the sidecar. At 100 TB this is the difference between
    * "free index at write time" and "second full pass".
    *
    * TYPED: each column's footer logical type picks its [[ZoneCodec]]
    * FAMILY (numeric / date / timestamp / string), bounds land encoded
    * in that family's order-preserving double space, and the family is
    * RECORDED in the sidecar (`{c}_family`, constant per column) — the
    * probe side must encode its literals through the SAME family or
    * refuse, which is what makes a date-range or string-prefix predicate
    * prunable and a cross-family probe fail OPEN instead of wrong.
    * Unsupported types (timestamp-NTZ, INT96, nested, plain binary) get
    * family `unsupported` with null bounds — never pruned on. */
  def writeZoneMap(spark: SparkSession, path: String,
      cols: Seq[String]): Unit = {
    import scala.jdk.CollectionConverters._
    val files = FsUtil.dataFiles(spark, path).map(_.getPath.toString).toList
    require(files.nonEmpty,
      s"no parquet data files under $path — refusing to write an empty " +
        "zone map (it would prune every read to zero rows)")
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val colList = cols.toList
    // per file, per column: (present-in-footer-schema, family, min, max)
    val stats = spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, 64)))
      .map { fp =>
        FsUtil.footer(new Path(fp), conf.value) { m =>
          val blocks = m.getBlocks.asScala
          val chunks = blocks.flatMap(_.getColumns.asScala)
          val hasRows = blocks.nonEmpty
          val mm = colList.map { c =>
            // Spark resolves columns case-insensitively; match footers
            // the same way so a case-mismatched zCol doesn't silently
            // produce an all-null (and thus useless) zone map
            val matching = chunks
              .filter(_.getPath.toDotString.equalsIgnoreCase(c))
            val fams = matching.map(ch => chunkFamily(ch.getPrimitiveType))
              .distinct
            val fam = // absent or mixed: no claim
              if (fams.size == 1) fams.head else ZoneCodec.Unsupported
            val vals =
              if (fam == ZoneCodec.Unsupported) Seq.empty
              else matching.flatMap { ch =>
                val st = ch.getStatistics
                if (st == null || !st.hasNonNullValue) None
                else encodeStat(ch.getPrimitiveType, fam,
                  st.genericGetMin, st.genericGetMax)
              }
            (matching.nonEmpty, fam,
              if (vals.isEmpty) None else Some(vals.map(_._1).min),
              if (vals.isEmpty) None else Some(vals.map(_._2).max))
          }
          (fp, mm, hasRows)
        }
      }
      .collect().toSeq
    // a dataset whose every file is EMPTY (zero row groups) has no
    // column chunks to map — skip the sidecar entirely (the dir has no
    // rows; reading it unpruned is free) instead of tripping the
    // wrong-column check below, so rewrite paths can thread statsCols
    // through unconditionally
    if (stats.forall(!_._3)) return
    // fail loud on a column ABSENT from every file's footer schema: that
    // is a wrong column name. A column that is present but all-null is
    // legitimate — it gets null bounds, which pruneFiles fails OPEN on.
    colList.zipWithIndex.foreach { case (c, i) =>
      require(stats.exists(_._2(i)._1),
        s"zone map column '$c' is absent from every parquet footer " +
          s"under $path — check the column name")
    }
    // ONE family per column across the whole directory: the dominant
    // (first supported) one; a file whose chunks disagree with it gets
    // null bounds there — its stats are in a different space and
    // comparing them would be unsound, so it simply never prunes
    val colFam: Seq[String] = colList.indices.map { i =>
      stats.iterator.map(_._2(i)._2).find(_ != ZoneCodec.Unsupported)
        .getOrElse(ZoneCodec.Unsupported)
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("file",
        org.apache.spark.sql.types.StringType, nullable = false) +:
        colList.flatMap(c => Seq(
          org.apache.spark.sql.types.StructField(s"${c}_min",
            org.apache.spark.sql.types.DoubleType, nullable = true),
          org.apache.spark.sql.types.StructField(s"${c}_max",
            org.apache.spark.sql.types.DoubleType, nullable = true),
          org.apache.spark.sql.types.StructField(s"${c}_family",
            org.apache.spark.sql.types.StringType, nullable = true))))
    val rows = stats.map { case (fp, mm, _) =>
      org.apache.spark.sql.Row.fromSeq(fp +:
        mm.zipWithIndex.flatMap { case ((_, fam, lo, hi), i) =>
          val ok = fam == colFam(i) && fam != ZoneCodec.Unsupported
          Seq(if (ok) lo.map(Double.box).orNull else null,
            if (ok) hi.map(Double.box).orNull else null,
            colFam(i))
        })
    }
    spark.createDataFrame(rows.asJava, schema)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/_graft_zonemap")
  }

  /** The [[ZoneCodec]] family a parquet column chunk's stats encode
    * into, from its physical + logical type. Anything whose order in
    * double space cannot be pinned down (timestamp-NTZ — wall-clock
    * micros, not comparable to a UTC-adjusted literal; INT96; plain
    * binary; interval types) is `unsupported` — recorded, never pruned
    * on. */
  private def chunkFamily(
      pt: org.apache.parquet.schema.PrimitiveType): String = {
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    pt.getLogicalTypeAnnotation match {
      case _: DecimalLogicalTypeAnnotation => ZoneCodec.Numeric
      case _: DateLogicalTypeAnnotation => ZoneCodec.DateF
      case t: TimestampLogicalTypeAnnotation =>
        // only UTC-adjusted MILLIS/MICROS stats are absolute instants a
        // TimestampType literal (epoch micros) can be compared to
        if (t.isAdjustedToUTC && t.getUnit != TimeUnit.NANOS)
          ZoneCodec.TimestampF
        else ZoneCodec.Unsupported
      case _: StringLogicalTypeAnnotation |
           _: EnumLogicalTypeAnnotation =>
        ZoneCodec.StringF
      case _: IntLogicalTypeAnnotation => ZoneCodec.Numeric
      case null => pt.getPrimitiveTypeName match {
        case INT32 | INT64 | FLOAT | DOUBLE | BOOLEAN => ZoneCodec.Numeric
        case _ => ZoneCodec.Unsupported
      }
      case _ => ZoneCodec.Unsupported
    }
  }

  /** Encode one chunk's (min, max) stats into its family's double space
    * ([[ZoneCodec]]'s order-preserving maps), widened two ulps per side
    * — the narrowing rounds to NEAREST, and a rectangle that excludes a
    * real row would let [[pruneFiles]] drop a file that holds matches.
    * `None` for stats the family cannot encode (defensive — a chunk
    * whose stats class contradicts its declared type). */
  private def encodeStat(pt: org.apache.parquet.schema.PrimitiveType,
      fam: String, mn: Comparable[_], mx: Comparable[_])
      : Option[(Double, Double)] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    def num(v: Comparable[_], scaleDiv: Double): Option[Double] = v match {
      case n: java.lang.Number => Some(n.doubleValue() / scaleDiv)
      case b: java.lang.Boolean => Some(if (b) 1.0 else 0.0)
      case b: org.apache.parquet.io.api.Binary =>
        // big-endian two's-complement unscaled decimal
        Some(new java.math.BigInteger(b.getBytes).doubleValue() / scaleDiv)
      case _ => None
    }
    val enc: Comparable[_] => Option[Double] = fam match {
      case ZoneCodec.Numeric =>
        val scaleDiv = pt.getLogicalTypeAnnotation match {
          case d: DecimalLogicalTypeAnnotation => math.pow(10.0, d.getScale)
          case _ => 1.0
        }
        num(_, scaleDiv)
      case ZoneCodec.DateF => num(_, 1.0) // int32 epoch days
      case ZoneCodec.TimestampF =>
        val toMicros = pt.getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation
              if t.getUnit == TimeUnit.MILLIS => 1000.0
          case _ => 1.0 // MICROS (NANOS never reaches here)
        }
        v => num(v, 1.0).map(_ * toMicros)
      case ZoneCodec.StringF => {
        case b: org.apache.parquet.io.api.Binary =>
          Some(ZoneCodec.encodeStringPrefix(b.getBytes))
        case _ => None
      }
      case _ => _ => None
    }
    for (lo <- enc(mn); hi <- enc(mx))
      yield (ZoneCodec.widenLo(lo), ZoneCodec.widenHi(hi))
  }

  /** The sidecar `name` (`_graft_zonemap` / `_graft_bloom`) under data
    * directory `dir`, read through the parquet files INSIDE it: passed
    * as an explicit path, the underscore-named directory trips Spark's
    * hidden-path filter, which logs "All paths were ignored" on every
    * read even though the read goes ahead. Layout writes every sidecar
    * with Spark, so its footer records the row schema and the read
    * takes it from there — no schema-inference job. */
  private[graft] def readSidecar(spark: SparkSession, dir: String,
      name: String): DataFrame = {
    val files = FsUtil.dataFiles(spark, s"$dir/$name").map(_.getPath).toList
    spark.read.schema(FsUtil.sparkSchema(spark, files.head).get)
      .parquet(files.map(_.toString): _*)
  }

  /** A zone-map sidecar loaded to the driver in ONE read (it is KB-scale
    * by construction — a few doubles per file): per-file encoded bounds
    * plus each column's recorded [[ZoneCodec]] FAMILY, against which the
    * probe side resolves its literals. Sidecars written before families
    * existed default every column to `numeric` — exactly the space their
    * bounds were encoded in. */
  final class ZoneMap private[sources] (
      val columns: Set[String],
      private val familyByCol: Map[String, String],
      private[sources] val entries: Seq[
        (String, Map[String, (Double, Double)])]) {

    /** The recorded family of `c` — None when the sidecar does not carry
      * the column at all (the caller must fail open for it). */
    def family(c: String): Option[String] =
      if (columns.contains(c))
        Some(familyByCol.getOrElse(c, ZoneCodec.Numeric))
      else None

    /** Files whose rectangles overlap every `[lo, hi]` — the overlap
      * test is a driver-side loop over #files entries. Fail OPEN on
      * missing bounds (an all-null file, a family-mismatched file, or a
      * column this sidecar lacks): a file whose bounds are unknown must
      * be KEPT — pruning may only drop files proven empty of matches. */
    def prune(ranges: Seq[(String, Double, Double)]): Seq[String] =
      pruneSets(ranges.map { case (c, lo, hi) => (c, Seq((lo, hi))) })

    /** Interval-SET form of [[prune]]: a file survives when, for every
      * listed column, its rectangle overlaps at least ONE of the
      * column's intervals — the shape that lets a disjunction of
      * disjoint bands prune the middle files. */
    def pruneSets(ranges: Seq[(String, Seq[(Double, Double)])])
        : Seq[String] =
      entries.filter { case (_, bounds) =>
        ranges.forall { case (c, ivs) =>
          bounds.get(c) match {
            case Some((mn, mx)) =>
              ivs.exists { case (lo, hi) => mx >= lo && mn <= hi }
            case None => true
          }
        }
      }.map(_._1)
  }

  /** Load `path`'s zone-map sidecar — None when there is none. One fs
    * existence probe + one KB-scale parquet read. */
  def loadZoneMap(spark: SparkSession, path: String): Option[ZoneMap] = {
    val zm = new Path(s"$path/_graft_zonemap")
    if (!FsUtil.fs(spark, zm).exists(zm)) return None
    val df = readSidecar(spark, path, "_graft_zonemap")
    val names = df.schema.fieldNames
    val cols = names.filter(_.endsWith("_min")).map(_.stripSuffix("_min"))
    val rows = df.collect()
    val fams = cols.flatMap { c =>
      val fi = names.indexOf(s"${c}_family")
      if (fi < 0) None
      else rows.iterator.map(r => if (r.isNullAt(fi)) null else r.getString(fi))
        .find(_ != null).map(c -> _)
    }.toMap
    val fileIdx = names.indexOf("file")
    val boundIdx = cols.map(c =>
      (c, names.indexOf(s"${c}_min"), names.indexOf(s"${c}_max")))
    val entries = rows.toSeq.map { r =>
      (r.getString(fileIdx), boundIdx.flatMap { case (c, lo, hi) =>
        if (r.isNullAt(lo) || r.isNullAt(hi)) None
        else Some(c -> (r.getDouble(lo), r.getDouble(hi)))
      }.toMap)
    }
    Some(new ZoneMap(cols.toSet, fams, entries))
  }

  /** Listing-time pruning: the files whose zone-map rectangles overlap
    * every `[lo, hi]` range (ranges in the sidecar's ENCODED double
    * space). Sound for any layout (a file that holds a matching row
    * always overlaps); z-ordering is what makes it SHARP on more than
    * one column at once. Fails open per column; requires the sidecar to
    * exist. */
  def pruneFiles(spark: SparkSession, path: String,
      ranges: Seq[(String, Double, Double)]): Seq[String] = {
    require(ranges.nonEmpty, "pruneFiles needs at least one column range")
    loadZoneMap(spark, path).map(_.prune(ranges)).getOrElse(
      throw new IllegalArgumentException(s"no zone map under $path"))
  }

  /** Scan only the zone-map-surviving files. Callers re-apply their
    * precise predicate (the zone map is file-granular); the result is
    * row-identical to filtering the full scan — pruning can only drop
    * files that hold no matching rows. */
  def readZonePruned(spark: SparkSession, path: String,
      ranges: Seq[(String, Double, Double)]): DataFrame = {
    val files = pruneFiles(spark, path, ranges)
    if (files.isEmpty) spark.read.parquet(path).filter(lit(false))
    // basePath: on a hive-partitioned layout the partition columns live
    // in the directory names ABOVE the surviving files — without it the
    // explicit-file read would silently lose those columns and break
    // row-identity with the full scan
    else spark.read.option("basePath", path).parquet(files: _*)
  }

  /** Per-file BLOOM FILTERS over `cols` → `path/_graft_bloom` — the
    * POINT-LOOKUP complement to the zone map: a min/max rectangle is
    * useless for an equality probe on a high-cardinality key scattered
    * through range-covering files, while a bloom answers "can this file
    * contain key v?" with no false negatives. One distributed pass over
    * the just-written data (grouped on `_metadata.file_path`, Catalyst's
    * own `BloomFilterAggregate` — the same primitive as the runtime
    * filter), so the build cost is a scan of the NEW data only; the
    * sidecar is `numBits/8` bytes per (file, column) — size it to the
    * per-file row count (defaults: 1M items / 1 MiB → ~3% fpp), and at
    * any size the probe side stays distributed over the sidecar frame.
    *
    * Values hash through a canonical STRING cast on both build and probe
    * sides, and the sidecar RECORDS each column's data type so the probe
    * canonicalizes its literals through it first (`cast(cast(v as t) as
    * string)`): a caller probing Int 100 against a DOUBLE column hashes
    * "100.0" like the build did, not "100" — a raw-literal hash would
    * silently BREAK soundness (missed files), the one failure mode a
    * skipping index must never have. Columns with zero non-null values
    * in a file get a null filter — [[pruneFilesBloom]] fails OPEN on
    * it. A dir holding no rows gets no sidecar (readers skip the layer
    * there). */
  def writeBloomSidecar(spark: SparkSession, path: String,
      cols: Seq[String], expectedItems: Long = -1L,
      numBits: Long = -1L, fpp: Double = 0.03): Unit = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    require(cols.nonEmpty, "writeBloomSidecar needs at least one column")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    // ONE footer pass answers emptiness (a zero-row dir has nothing to
    // index, so it gets no sidecar), the auto-size and the read schema
    val footers = FsUtil.footers(spark, path).toList
    if (footers.forall(_._1 == 0L)) return
    // AUTO-SIZING (either parameter < 0): the filters are per FILE, and
    // the writer knows exactly how many rows each file holds — its
    // footers say so (one KB-scale driver-side footer read per file).
    // Size to the LARGEST file's row count against the target fpp
    // (smaller files in the same dir just enjoy a lower fpp); the
    // classic bits formula m = -n·ln(p)/ln(2)². A fixed global default
    // would make tiny staging batches carry MB-scale filters and make
    // genuinely big files exceed the default's capacity into useless
    // all-positive filters — both real failure modes at 100 TB ingest
    // cadence.
    val maxRows: Long =
      if (expectedItems >= 0 && numBits >= 0) -1L
      else footers.map(_._1).foldLeft(1L)(math.max)
    val rawItems =
      if (expectedItems >= 0) expectedItems else maxRows
    val rawBits =
      if (numBits >= 0) numBits
      else math.max(64L,
        math.ceil(-rawItems * math.log(fpp) / (math.log(2) * math.log(2)))
          .toLong)
    // CLAMP to what BloomFilterAggregate will actually build: it
    // silently caps its arguments at the session's runtime-bloom-filter
    // maxima, so past ~4M rows/file the filter would be SMALLER than
    // computed while the sidecar meta claimed the uncapped sizing — an
    // audit trail promising an fpp the filter does not deliver. Record
    // the clamped values (so bloom_fpp below is the DELIVERED rate) and
    // warn: the operator's real fix is smaller files, not bigger blooms.
    val maxItems = spark.conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000")
      .toLong
    val maxBits = spark.conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864")
      .toLong
    val items = math.min(rawItems, maxItems)
    val bits = math.min(rawBits, maxBits)
    if (items < rawItems || bits < rawBits)
      System.err.println(
        s"WARN graft.Layout: bloom sidecar under $path clamped from " +
          s"($rawItems items, $rawBits bits) to ($items, $bits) by " +
          "spark.sql.optimizer.runtime.bloomFilter.maxNumItems/" +
          "maxNumBits — files this large exceed bloom capacity; " +
          "raise the conf maxima or write smaller files")
    // the data dir is Spark-written: its footer gives the read schema
    // without an inference job
    val df = spark.read.schema(footers.head._2.get).parquet(path)
    val types = cols.map { c =>
      val f = df.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"bloom column '$c' is absent from the data under $path"))
      // equality-key types only: timestamps/dates render through the
      // SESSION time zone, so a probe from a differently-zoned session
      // would hash differently — a silent false negative, the one
      // failure a skipping index must never have. Reject them loudly.
      require(f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
          || f.dataType == org.apache.spark.sql.types.StringType
          || f.dataType == org.apache.spark.sql.types.BooleanType,
        s"bloom column '$c' has type ${f.dataType.simpleString} — bloom " +
          "sidecars support numeric, string, and boolean equality keys")
      f.dataType
    }
    val aggs = cols.map { c =>
      GraftBridge.column(new BloomFilterAggregate(
        new XxHash64(Seq(GraftBridge.expression(col(c).cast("string")))),
        Literal(items), Literal(bits)).toAggregateExpression())
        .as(s"${c}_bloom")
    }
    // the COLUMN TYPE rides in the sidecar (constant per column): the
    // probe side canonicalizes its literals through it, so an Int probe
    // against a DOUBLE column hashes as "100.0", not "100"
    val typeCols = cols.zip(types).map { case (c, t) =>
      lit(t.json).as(s"${c}_type")
    }
    // the SIZING rides too (constant): what the filters were built for,
    // and the fpp they DELIVER — p ≈ (1 − e^{−k·n/m})^k with k derived
    // from the (possibly clamped) capacity the filter was built for,
    // but n = the ACTUAL max insertions per file. Under clamping n
    // exceeds the build capacity and the recorded rate degrades
    // accordingly; the clamped-capacity optimal-k shortcut would have
    // kept claiming the design fpp the overfull filter no longer
    // delivers — the exact audit-trail dishonesty this field exists to
    // prevent.
    val insertedN = math.max(1L, if (maxRows >= 0) maxRows else items)
    val k = math.max(1L,
      math.round(bits.toDouble / math.max(1L, items) * math.log(2)))
    val deliveredFpp = math.pow(
      1.0 - math.exp(-k.toDouble * insertedN / math.max(1L, bits)),
      k.toDouble)
    val metaCols = Seq(lit(items).as("bloom_items"),
      lit(bits).as("bloom_bits"),
      lit(deliveredFpp).as("bloom_fpp"))
    df.select(col("_metadata.file_path").as("file") +: cols.map(col): _*)
      .groupBy("file").agg(aggs.head, (aggs.tail ++ typeCols ++ metaCols): _*)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/_graft_bloom")
  }

  /** The exact long [[writeBloomSidecar]]'s aggregate inserts for value
    * `v` in a column of type `t`: Catalyst's own
    * `xxhash64(cast(cast(v as t) as string))`, evaluated once driver-side
    * through the SAME expressions as the build — probe-literal type width
    * or family (Int vs Long vs Double vs Decimal scale) cannot make the
    * hashes drift. Null probes are rejected (equality with null never
    * matches a row); a literal that cannot cast to `t` hashes its null
    * rendering and at worst keeps extra files — never drops one. */
  private def probeHash(v: Any,
      t: org.apache.spark.sql.types.DataType): Option[Long] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
    require(v != null, "bloom probe values must be non-null")
    // Try, not bare eval: ANSI mode throws on a malformed cast ('abc'
    // probed against BIGINT) — an uncastable probe matches no row, so
    // it simply drops
    val canon = scala.util.Try(
      Cast(Cast(Literal(v), t), org.apache.spark.sql.types.StringType)
        .eval(InternalRow.empty)).getOrElse(null)
    // a probe that casts to null (e.g. "abc" against a LONG column) can
    // match no row: the caller may drop it — build-side nulls were never
    // inserted, so hashing null here would only add a meaningless probe
    if (canon == null) None
    else Some(new XxHash64(Seq(Literal(canon,
        org.apache.spark.sql.types.StringType)))
      .eval(InternalRow.empty).asInstanceOf[Long])
  }

  /** Listing-time point-lookup pruning: the files that MIGHT contain, for
    * EVERY probed column, AT LEAST ONE of its probe values (conjunctive
    * across columns, IN-list within one — the `k1 IN (…) AND k2 IN (…)`
    * shape). Sound: no bloom false negatives + fail-open on null/absent
    * filters means a dropped file provably holds no matching row. The
    * membership test runs DISTRIBUTED over the sidecar frame (each task
    * deserializes its rows' filters through the public
    * `spark.util.sketch.BloomFilter` — the exact format
    * `BloomFilterAggregate` serializes — and tests the pre-hashed probe
    * longs); only surviving file names collect. */
  def pruneFilesBloom(spark: SparkSession, path: String,
      probes: Seq[(String, Seq[Any])]): Seq[String] = {
    require(probes.nonEmpty && probes.forall(_._2.nonEmpty),
      "pruneFilesBloom needs at least one probe value per column")
    val bloomAll = readSidecar(spark, path, "_graft_bloom")
    val fields = bloomAll.schema.fieldNames.toSet
    def allFiles(): Seq[String] = bloomAll.select("file")
      .collect().map(_.getString(0)).toSeq
    // a probe column is usable only with BOTH its filter and its
    // recorded type (a sidecar without the type cannot canonicalize the
    // literal, so testing it could silently miss — fail OPEN instead)
    val usable = probes.filter(p =>
      fields.contains(s"${p._1}_bloom") && fields.contains(s"${p._1}_type"))
    if (usable.isEmpty) return allFiles()
    val typeRow = bloomAll
      .select(usable.map(p => col(s"${p._1}_type")): _*).limit(1).collect()
    if (typeRow.isEmpty) return Seq.empty // sidecar with zero rows
    val hashes: Seq[Array[Long]] = usable.zipWithIndex.map { case ((_, vs), i) =>
      val t = org.apache.spark.sql.types.DataType.fromJson(
        typeRow.head.getString(i))
      vs.flatMap(v => probeHash(v, t)).toArray
    }
    // a column whose every probe failed to cast can match no row at all
    // — every file is provably free of matches
    if (hashes.exists(_.isEmpty)) return Seq.empty
    val bloomDf = bloomAll
      .select(col("file") +: usable.map(p => col(s"${p._1}_bloom")): _*)
    bloomDf.filter { (r: org.apache.spark.sql.Row) =>
      hashes.indices.forall { i =>
        val bytes = r.getAs[Array[Byte]](i + 1)
        // fail open: a null filter (all-null column in that file) keeps
        // the file
        bytes == null || {
          val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(bytes))
          hashes(i).exists(bf.mightContainLong)
        }
      }
    }.select("file").collect().map(_.getString(0)).toSeq
  }

  /** Small-file compaction: rewrite a parquet dataset into
    * ceil(totalBytes / targetFileBytes) evenly-sized files. Streaming
    * sinks and fine-grained incremental loads accrete thousands of tiny
    * files; at 100 TB that turns scan planning and NameNode/listing into
    * the bottleneck, so periodic compaction is part of the write path, not
    * an afterthought. Round-robin repartition (one shuffle) buys even
    * output sizes — `coalesce` would be shuffle-free but inherits input
    * skew. Writes to a NEW path (compact-then-swap); compacting in place
    * over the files being read is not safe. Returns the file count. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val total = FsUtil.dataFiles(spark, inPath).map(_.getLen).sum
    val n = math.max(1, math.ceil(total.toDouble / targetFileBytes).toInt)
    spark.read.parquet(inPath)
      .repartition(n).write.mode(SaveMode.Overwrite).parquet(outPath)
    n
  }
}
