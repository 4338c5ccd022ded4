package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints one JSON result line as the last line of
  * standard output. Arguments are `key=value` pairs:
  * workload, seed, seconds, trace (0|1), data, work, expected, ledger,
  * and optionally record (write the observed digests there).
  *
  * A run: set-up several times (session start plus the workload fixture,
  * median reported), one cold pass, the workload's unmeasured warm-up
  * passes, then a fixed number of measured passes. Every op's result is
  * checked; a failed op is counted, never timed. */
object Harness {
  /** One execution of one op. */
  final class Sample(val op: Op, val pass: Int, val measured: Boolean,
      val wallNs: Long, val buildNs: Long, var ok: Boolean,
      val layer: Option[Layer],
      val startMs: Long, val buildEndMs: Long, val endMs: Long,
      val userRows: Long, val bytesWritten: Long)

  def main(args: Array[String]): Unit = {
    val conf = args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = conf("workload")
    val seed = conf("seed").toLong
    val trace = conf("trace") == "1"
    val data = conf("data")
    val work = conf("work")
    // at least two, so that every op's median has more than one sample
    val measured = math.max(2, math.round(conf("seconds").toDouble /
      Workloads.nominalPassS(workload)).toInt)
    val expected: Map[String, String] = {
      val f = new java.io.File(conf("expected"))
      if (!f.exists) Map.empty
      else scala.io.Source.fromFile(f).getLines()
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\\s+")).map(a => a(0) -> a(1)).toMap
    }
    val recorded = mutable.Map.empty[String, String]
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

    def session(): SparkSession = {
      val s = SparkSession.builder().master(s"local[$cpus]")
        .appName("graftbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // set-up, several times; the last session and fixture serve the run
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var wl: Workload = null
    for (rep <- 1 to Workloads.setupReps(workload)) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      wl = Workloads.open(workload, spark, data, s"$work/fixture-$rep", seed,
        expected, recorded)
      setups += (System.nanoTime() - t0) / 1e9
    }
    System.err.println(setups.map(s => f"$s%.3f")
      .mkString("[graftbench] set-ups (s): ", " ", ""))
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val lake = wl match { case l: Lakehouse => Some(l); case _ => None }

    val samples = ArrayBuffer.empty[Sample]
    val passWallS = ArrayBuffer.empty[Double]
    val firstMeasured = 1 + Workloads.warmupPasses(workload)
    for (pass <- 0 until firstMeasured + measured) {
      val ops = wl.ops(pass)
      val first = samples.size
      var passNs = 0L
      for (op <- ops) {
        tracer.foreach(_.start())
        val rows0 = lake.map(_.userRows).getOrElse(0L)
        val bytes0 = if (trace) lake.map(_.tableBytes()).getOrElse(0L) else 0L
        var buildNs = 0L // ops that never call built() have no build phase
        val startMs = System.currentTimeMillis()
        var buildEndMs = startMs
        val t0 = System.nanoTime()
        val timer = new Timer {
          def built(): Unit = {
            buildNs = System.nanoTime() - t0
            buildEndMs = System.currentTimeMillis()
          }
        }
        val ok = try op.run(timer) catch { case e: Throwable =>
          System.err.println(s"[graftbench] ${op.name} failed: $e")
          false
        }
        val wallNs = System.nanoTime() - t0
        val endMs = System.currentTimeMillis()
        passNs += wallNs
        if (!ok) System.err.println(s"[graftbench] ${op.name} check failed")
        samples += new Sample(op, pass, pass >= firstMeasured, wallNs,
          buildNs, ok, tracer.map(_.finish()), startMs, buildEndMs, endMs,
          lake.map(_.userRows).getOrElse(0L) - rows0,
          if (trace) lake.map(_.tableBytes()).getOrElse(0L) - bytes0 else 0L)
      }
      passWallS += passNs / 1e9
      System.err.println(f"[graftbench] pass $pass: ${passNs / 1e9}%.3f s")
      val passOk = try wl.checkPass() catch { case e: Throwable =>
        System.err.println(s"[graftbench] pass $pass check failed: $e"); false
      }
      if (!passOk) {
        System.err.println(s"[graftbench] pass $pass: model mismatch")
        samples.drop(first).foreach(_.ok = false)
      }
    }
    val facts = wl.facts()
    val heapMb = Metrics.heapAfterGcMb()

    val failed = samples.count(!_.ok)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Metrics.endToEnd(samples.toSeq, setups.toSeq, passWallS.head,
        heapMb)
      else Metrics.perLayer(samples.toSeq, measured, facts)
    conf.get("ledger").foreach(p => Ledger.write(p, workload, seed, trace,
      samples.toSeq, metrics))
    conf.get("record").foreach { p =>
      val w = new java.io.PrintWriter(p)
      recorded.toSeq.sorted.foreach { case (k, v) => w.println(s"$k $v") }
      w.close()
    }
    spark.stop()
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${samples.size}, """ +
      s""""failed": $failed, "metrics": {$body}}""")
  }
}

object Json {
  /** A finite JSON number with all its digits. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
      .replace("E", "e")

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
