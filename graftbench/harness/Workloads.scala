package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.sources.{Incremental, Versioned}

/** Marks the end of an op's build phase: the time spent inside the
  * engine's entry point before the action that consumes its result. */
trait Timer { def built(): Unit }

/** One timed call into the engine. `kind` groups ops for the metrics: the
  * registering module for catalog entries, the lakehouse
  * operation otherwise. `run` returns whether the result checked out. */
final case class Op(name: String, kind: String, run: Timer => Boolean)

/** A workload after its fixture is in place. */
trait Workload {
  /** The fixed op sequence of pass `pass` (0 is the cold pass). */
  def ops(pass: Int): Seq[Op]
  /** Checks outside the timed window after a pass; false fails the pass. */
  def checkPass(): Boolean = true
  /** Workload facts read at the end of the run (layer metrics). */
  def facts(): Map[String, Double] = Map.empty
}

/** Result digest: row count plus an order-independent sum of the
  * `xxhash64` of every column, so the action reads every output column
  * and Catalyst can prune none of the op's work. */
object Digest {
  def of(df: DataFrame): String = {
    // positional names: an op's output may repeat a column name
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(named.columns.toSeq.map(col): _*)
    val r = named.select(count(lit(1)),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L))).head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }
}

object Workloads {
  type Q = (SparkSession, String) => DataFrame

  /** A warm pass's wall on a 4-core box; a run makes
    * max(2, round(seconds / this)) measured passes. */
  val nominalPassS: Map[String, Double] =
    Map("catalog" -> 5.2, "lakehouse" -> 7.7)

  /** Set-ups per run; `setup_s` is their median. A catalog set-up is a
    * session restart of under 0.1 s, so it takes fifteen for a steady
    * median; a lakehouse set-up also commits and syncs its tables. */
  val setupReps: Map[String, Int] = Map("catalog" -> 15, "lakehouse" -> 3)

  /** Unmeasured warm passes after the cold pass. On a 4-core box the
    * first warm passes are still falling: the six `graft.queries` entries
    * took 2.2, 1.6, 1.5 s, then about 1.15 s; the five `graft.ext`
    * entries 4.7-6.7, 3.3-4.9, 3.2-5.1 s, then about 3.5 s (five runs),
    * and they keep falling for several passes more; a lakehouse pass
    * 9.4, 8.3, 8.0, 7.7 s (medians of five runs). The catalog's measured
    * passes are 5-8 and the lakehouse's 2-4: a longer warm-up would not
    * fit the time all runs must end in (see README.md). */
  val warmupPasses: Map[String, Int] = Map("catalog" -> 4, "lakehouse" -> 1)

  private def module(qs: Map[String, Q], name: String): Seq[(String, String, Q)] =
    qs.toSeq.map { case (n, f) => (n, name, f) }

  /** Every 20th entry, in name order, of the relational, TPC-H, window and
    * event catalog registered by `graft.queries`, without the versioned
    * and incremental entries that commit. */
  def catalogEntries: Seq[(String, String, Q)] = {
    import graft.queries._
    val all = (module(Relational.queries, "relational") ++
      module(Windows.queries, "windows") ++ module(Events.queries, "events") ++
      module(Advanced.queries, "advanced") ++
      module(TpchLike.queries, "tpch") ++ module(Extras.queries, "extras") ++
      module(Depth.queries, "depth"))
      .filterNot { case (n, _, _) =>
        n.startsWith("x_versioned_") || n == "x_incremental_rollup" }
      .groupBy(_._1).values.map(_.head).toSeq.sortBy(_._1)
    all.zipWithIndex.collect { case (e, i) if i % 20 == 0 => e }
  }

  /** One entry of `graft.ext` per registering module. */
  val extNames: Seq[String] = Seq(
    "x_dedup_minhash", "x_ann_lsh", "x_text_entropy", "x_pipeline_corpus",
    "x_multimodal_features")

  def extEntries: Seq[(String, String, Q)] = {
    import graft.ext._
    val all = module(Dedup.queries, "dedup") ++
      module(Similarity.queries, "similarity") ++
      module(TextAnalysis.queries, "text") ++
      module(Pipeline.queries, "pipeline") ++
      module(Multimodal.queries, "multimodal")
    extNames.map(n => all.find(_._1 == n).getOrElse(
      throw new IllegalArgumentException(s"no registered entry $n")))
  }

  def open(name: String, spark: SparkSession, data: String, work: String,
      seed: Long, expected: Map[String, String],
      recorded: mutable.Map[String, String]): Workload = name match {
    case "catalog" => new Entries(catalogEntries ++ extEntries, spark, data,
      seed, expected, recorded)
    case "lakehouse" => new Lakehouse(spark, data, work, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (catalog, lakehouse)")
  }
}

/** Registered entries, shuffled per pass, each checked against its stored
  * digest. `recorded` collects the observed digests when the run is
  * recording a new expected file. */
final class Entries(entries: Seq[(String, String, Workloads.Q)],
    spark: SparkSession, data: String, seed: Long,
    expected: Map[String, String],
    recorded: mutable.Map[String, String]) extends Workload {
  def ops(pass: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(entries).map {
      case (name, mod, fn) => Op(name, mod, t => {
        val df = fn(spark, data)
        t.built()
        val d = Digest.of(df)
        recorded(name) = d
        expected.get(name).contains(d)
      })
    }
}

/** One long-lived versioned table built from `orders`, written and read
  * by a seeded schedule and checked against a driver-side model of it.
  * Every pass appends and merges new keys and deletes them again, so the
  * table keeps its size. */
final class Lakehouse(spark: SparkSession, data: String, work: String,
    seed: Long) extends Workload {
  private val base = s"$work/orders"
  private val roll = s"$work/rollup"
  private val Prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")

  private def cents(p: Double): Long = math.round(p * 100)
  private def prep(df: DataFrame): DataFrame = df.select(
    col("o_orderpriority"), lit(1L).as("cnt"),
    Tables.cents(col("o_totalprice")).as("total_cents"))
  private def sync(): Long = Incremental.syncRollup(spark, base, roll, "mv",
    prep, partitionKey = "o_orderpriority", subKeys = Seq.empty,
    measures = Seq("cnt", "total_cents"), countMeasure = "cnt")

  // fixture: base commit and the rollup's bootstrap sync
  Versioned.commit(Tables.orders(spark, data), base)
  sync()
  private val schema: StructType = Versioned.read(spark, base).schema
  /** The model: the table's rows by key, as the engine must return them. */
  private var model: Map[Long, Row] =
    Versioned.read(spark, base).collect().map(r => r.getLong(0) -> r).toMap
  private val baseKeys: IndexedSeq[Long] = model.keys.toIndexedSeq.sorted

  /** Layer counters the harness reads per op: rows the user wrote. */
  var userRows = 0L

  private def agg(rows: Iterable[Row]): Map[String, (Long, Long)] =
    rows.groupBy(_.getString(5)).map { case (p, rs) =>
      p -> (rs.size.toLong, rs.map(r => cents(r.getDouble(3))).sum) }

  private def aggOf(df: DataFrame, key: String): Map[String, (Long, Long)] =
    df.groupBy(key).agg(count(lit(1)), sum(Tables.cents(col("o_totalprice"))))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def newRows(rng: scala.util.Random, keys: Seq[Long]): Seq[Row] =
    keys.map { k =>
      // gen_data.py writes o_orderdate without a time zone: TIMESTAMP_NTZ
      val day = java.time.LocalDate.of(1995, 1, 1).plusDays(rng.nextInt(2405))
      Row(k, rng.nextInt(1500).toLong, Seq("F", "O", "P")(rng.nextInt(3)),
        (100000 + rng.nextInt(49900000)) / 100.0, day.atStartOfDay(),
        Prio(rng.nextInt(5)))
    }

  private def upd(r: Row, status: Option[String], price: Option[Double]) =
    Row(r.get(0), r.get(1), status.getOrElse(r.get(2)),
      price.getOrElse(r.get(3)), r.get(4), r.get(5))

  private def write(name: String, kind: String)(body: => Int): Op =
    Op(name, kind, _ => { userRows += body; true })

  def ops(pass: Int): Seq[Op] = {
    val rng = new scala.util.Random(seed * 7919L + pass)
    val lo = 100000000L + pass * 100000L // this pass's new keys
    val v0 = Versioned.versions(spark, base).last
    val snap0 = model
    def pick(n: Int): Seq[Long] = rng.shuffle(baseKeys).take(n).sorted
    val batch = newRows(rng, lo until lo + 200)
    val mergeOld = pick(100).map(k => upd(model(k), Some("M"),
      Some((100000 + rng.nextInt(49900000)) / 100.0)))
    val mergeNew = newRows(rng, (lo + 1000) until (lo + 1100))
    val cowLo = baseKeys(rng.nextInt(baseKeys.size - 100))
    val cowPrice = (100000 + rng.nextInt(49900000)) / 100.0
    val morKeys = pick(50)
    val pointKey = pick(1).head

    Seq(
      write("append", "append") {
        Versioned.commit(frame(batch), base, SaveMode.Append)
        model ++= batch.map(r => r.getLong(0) -> r)
        batch.size
      },
      Op("scan", "scan", t => {
        val df = Versioned.read(spark, base)
        t.built()
        aggOf(df, "o_orderpriority") == agg(model.values)
      }),
      Op("point", "point", t => {
        val df = Versioned.readWhere(spark, base, col("o_orderkey") === pointKey)
        t.built()
        df.collect().toSeq == Seq(model(pointKey))
      }),
      write("merge", "merge") {
        Versioned.mergeInto(spark, base, frame(mergeOld ++ mergeNew),
          Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
        model ++= (mergeOld ++ mergeNew).map(r => r.getLong(0) -> r)
        mergeOld.size + mergeNew.size
      },
      write("cow_update", "cow_dml") {
        Versioned.updateWhere(spark, base,
          col("o_orderkey").between(cowLo, cowLo + 99),
          Map("o_totalprice" -> lit(cowPrice)))
        val hit = model.keys.filter(k => k >= cowLo && k <= cowLo + 99)
        model ++= hit.map(k => k -> upd(model(k), None, Some(cowPrice)))
        hit.size
      },
      Op("time_travel", "time_travel", t => {
        val df = Versioned.readVersion(spark, base, v0)
        t.built()
        aggOf(df, "o_orderpriority") == agg(snap0.values)
      }),
      write("mor_update", "mor_dml") {
        Versioned.updateWhereMor(spark, base,
          col("o_orderkey").isin(morKeys: _*), Map("o_orderstatus" -> lit("U")))
        model ++= morKeys.map(k => k -> upd(model(k), Some("U"), None))
        morKeys.size
      },
      write("mor_delete", "mor_dml") {
        Versioned.deleteWhereMor(spark, base, col("o_orderkey")
          .between(lo, lo + 199) && pmod(col("o_orderkey"), lit(2L)) === 0)
        val gone = model.keys.filter(k => k >= lo && k < lo + 200 && k % 2 == 0)
        model --= gone
        gone.size
      },
      Op("changes", "changes", t => {
        val df = Versioned.changes(spark, base, v0,
          Versioned.versions(spark, base).last)
        t.built()
        val deleted = snap0.values.toSet -- model.values
        val inserted = model.values.toSet -- snap0.values
        def side(rs: Set[Row]) = (rs.size.toLong, rs.toSeq.map(r =>
          cents(r.getDouble(3))).sum)
        aggOf(df, "_change") ==
          Map("delete" -> side(deleted), "insert" -> side(inserted))
            .filter(_._2._1 > 0)
      }),
      write("cow_delete", "cow_dml") {
        Versioned.deleteWhere(spark, base, col("o_orderkey") >= lo)
        val gone = model.keys.filter(_ >= lo)
        model --= gone
        gone.size
      },
      write("sync", "sync") { sync(); 0 },
      Op("compact", "compact", _ => {
        Versioned.compactLatest(spark, base, targetFiles = 4); true }),
      Op("vacuum", "vacuum", _ => {
        Versioned.vacuum(spark, base, keepVersions = 4, minAgeMs = 0L); true })
    )
  }

  override def checkPass(): Boolean = {
    val rolled = Versioned.read(spark, roll)
      .select("o_orderpriority", "cnt", "total_cents").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val head = Versioned.read(spark, base).collect()
    head.length == model.size && head.toSet == model.values.toSet &&
      rolled == agg(model.values)
  }

  private def files(dir: String): Seq[java.io.File] = {
    val d = new java.io.File(dir)
    if (d.isDirectory) d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) files(f.getPath) else Seq(f))
    else Seq.empty
  }

  /** Bytes of every file under the table directory. */
  def tableBytes(): Long = files(base).map(_.length).sum

  override def facts(): Map[String, Double] = {
    val head = Versioned.versions(spark, base)
    val live = Versioned.entries(spark, base, head.last).filterNot(_.tombstone)
      .flatMap(e => files(if (e.path.startsWith("/") || e.path.contains(":"))
        new org.apache.hadoop.fs.Path(e.path).toUri.getPath
        else s"$base/${e.path}"))
      .filter(_.getName.endsWith(".parquet"))
    Map(
      "live_bytes" -> live.map(_.length).sum.toDouble,
      "live_rows" -> model.size.toDouble,
      "table_bytes" -> tableBytes().toDouble,
      "head_files" -> live.size.toDouble,
      "retained_versions" -> head.size.toDouble)
  }
}

/** Prints `name digest` for every table directory under the given root,
  * e.g. the per-entry outputs `graft.Verify` writes, so stored digests
  * can be tied to results the DuckDB oracle has accepted. */
object DigestDirs {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(args(0)).listFiles().filter(_.isDirectory)
      .sortBy(_.getName).foreach { d =>
        println(s"${d.getName} ${Digest.of(spark.read.parquet(d.getPath))}")
      }
    spark.stop()
  }
}
