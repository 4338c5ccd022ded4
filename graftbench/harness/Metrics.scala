package graftbench

import graftbench.Harness.Sample

/** The benchmark's metrics, computed from the op samples of one run. */
object Metrics {
  val writeKinds = Set("append", "merge", "cow_dml", "mor_dml", "sync")
  val maintenanceKinds = Set("compact", "vacuum")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least 10 samples beyond it, as
    * (value, percentile, samples); the maximum under 11 samples. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0.0, 0)
    else if (n < 11) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  private def secs(ss: Seq[Sample]): Seq[Double] = ss.map(_.wallNs / 1e9)

  /** Used heap after GC, repeated until it stops falling by a MB; the
    * pause lets Spark's cleaner drop blocks whose owners the GC freed. */
  def heapAfterGcMb(): Double = {
    val rt = Runtime.getRuntime
    def gcUsed(): Long = {
      System.gc()
      Thread.sleep(200)
      rt.totalMemory - rt.freeMemory
    }
    var prev = Long.MaxValue
    var cur = gcUsed()
    var rounds = 1
    while (cur < prev - 1048576 && rounds < 10) {
      prev = cur
      cur = gcUsed()
      rounds += 1
    }
    math.min(prev, cur) / 1048576.0
  }

  /** [[tail]]'s value; its percentile and sample count go to stderr. */
  private def tailNoted(name: String, xs: Seq[Double]): Double = {
    val (v, pct, n) = tail(xs)
    System.err.println(f"[graftbench] $name: p$pct%.1f of $n samples")
    v
  }

  /** Each op's median latency over the measured passes. */
  private def opMedians(warm: Seq[Sample]): Iterable[Double] =
    warm.groupBy(_.op.name).values.map(ss => median(secs(ss)))

  /** Ops per second of a median pass: distinct ops ÷ the sum of their
    * median latencies, so that one slow sample (a GC pause, a busy
    * neighbour) does not move it the way it moves a plain mean. */
  def opsPerS(warm: Seq[Sample]): Double = {
    val perOp = opMedians(warm)
    if (perOp.isEmpty) 0.0 else perOp.size / perOp.sum
  }

  def endToEnd(samples: Seq[Sample], setups: Seq[Double],
      coldS: Double, heapMb: Double): Seq[(String, Double, String)] = {
    val warm = samples.filter(s => s.measured && s.ok)
    val perOp = opMedians(warm)
    val geomean =
      if (perOp.isEmpty) 0.0 else math.exp(perOp.map(math.log).sum / perOp.size)
    Seq(
      ("setup_s", median(setups), "s"),
      ("cold_pass_s", coldS, "s"),
      ("ops_per_s", opsPerS(warm), "ops/s"),
      ("op_geomean_s", geomean, "s"),
      ("heap_after_gc_mb", heapMb, "MB"))
  }

  def perLayer(samples: Seq[Sample], passes: Int,
      facts: Map[String, Double]): Seq[(String, Double, String)] = {
    val warm = samples.filter(s => s.measured && s.ok)
    val cold = samples.filter(_.pass == 0)
    val layers = warm.flatMap(_.layer)
    val nOps = math.max(1, warm.size).toDouble
    def perPass(v: Double): Double = v / passes
    def sumL(f: Layer => Double): Double = layers.map(f).sum
    def sumC(f: Layer => Long): Double = layers.map(f).sum.toDouble
    val wallS = warm.map(_.wallNs / 1e9).sum
    val gapS = warm.map { s =>
      val l = s.layer.get
      (s.wallNs / 1e6 - Tracer.covered(l.jobSpans.toSeq, s.startMs, s.endMs)) / 1e3
    }.map(math.max(0.0, _)).sum
    val cpuS = sumL(_.taskCpuNs / 1e9)
    val runS = sumL(_.taskRunMs / 1e3)
    def kindWall(kinds: String*): Double =
      perPass(warm.filter(s => kinds.contains(s.op.kind)).map(_.wallNs / 1e9).sum)
    val writes = warm.filter(s => writeKinds(s.op.kind))
    val reads = warm.filter(s => !writeKinds(s.op.kind) &&
      !maintenanceKinds(s.op.kind))
    val graftOps = warm.filter(_.layer.exists(_.graftExprs > 0))
    val liveBytes = facts.getOrElse("live_bytes", 0.0)
    val bytesPerRow = liveBytes / math.max(1.0, facts.getOrElse("live_rows", 1.0))
    val userBytes = writes.map(_.userRows).sum * bytesPerRow
    Seq(
      ("build_s", perPass(warm.map(_.buildNs / 1e9).sum), "s"),
      ("build_jobs", perPass(warm.map(s =>
        s.layer.get.jobStartMs.count(_ <= s.buildEndMs)).sum), "count"),
      ("catalyst.analysis_ms", perPass(sumC(_.analysisMs)), "ms"),
      ("catalyst.optimization_ms", perPass(sumC(_.optimizationMs)), "ms"),
      ("catalyst.planning_ms", perPass(sumC(_.planningMs)), "ms"),
      ("catalyst.sql_execs", perPass(sumC(_.sqlExecs)), "count"),
      ("tables.inference_jobs",
        cold.flatMap(_.layer).map(_.tablesJobs).sum.toDouble, "count"),
      ("spark.jobs", sumC(_.jobs) / nOps, "count"),
      ("spark.stages", sumC(_.stages) / nOps, "count"),
      ("spark.tasks", sumC(_.tasks) / nOps, "count"),
      ("driver.gap_s", perPass(gapS), "s"),
      ("driver.gap_share", if (wallS > 0) gapS / wallS else 0.0, "ratio"),
      ("spark.job_s", perPass(sumL(_.jobSpans.map(j => j._2 - j._1).sum / 1e3)),
        "s"),
      ("spark.task_run_s", perPass(runS), "s"),
      ("spark.task_cpu_s", perPass(cpuS), "s"),
      ("spark.cpu_util", if (runS > 0) cpuS / runS else 0.0, "ratio"),
      ("spark.gc_s", perPass(sumL(_.gcMs / 1e3)), "s"),
      ("spark.shuffle_write_mb", perPass(sumL(_.shuffleWriteB / 1048576.0)), "MB"),
      ("spark.shuffle_read_mb", perPass(sumL(_.shuffleReadB / 1048576.0)), "MB"),
      ("spark.spill_mb", perPass(sumL(_.spillB / 1048576.0)), "MB"),
      ("spark.input_mb", perPass(sumL(_.scanFileB / 1048576.0)), "MB"),
      ("plan.exchanges", perPass(sumC(_.exchanges)), "count"),
      ("plan.smj", perPass(sumC(_.smj)), "count"),
      ("plan.bhj", perPass(sumC(_.bhj)), "count"),
      ("plan.bnlj", perPass(sumC(_.bnlj)), "count"),
      ("plan.unpartitioned_windows", perPass(sumC(_.unpartitionedWindows)),
        "count"),
      ("plan.file_scans", perPass(sumC(_.fileScans)), "count"),
      ("plan.graft_exprs", perPass(sumC(_.graftExprs)), "count"),
      ("plan.graft_task_cpu_s",
        perPass(graftOps.flatMap(_.layer).map(_.taskCpuNs / 1e9).sum), "s"),
      ("ext.dedup_s", kindWall("dedup"), "s"),
      ("ext.similarity_s", kindWall("similarity"), "s"),
      ("ext.text_s", kindWall("text"), "s"),
      ("ext.pipeline_s", kindWall("pipeline"), "s"),
      ("ext.multimodal_s", kindWall("multimodal"), "s"),
      ("versioned.commit_s", kindWall("append"), "s"),
      ("versioned.merge_s", kindWall("merge"), "s"),
      ("versioned.cow_dml_s", kindWall("cow_dml"), "s"),
      ("versioned.mor_dml_s", kindWall("mor_dml"), "s"),
      ("incremental.sync_s", kindWall("sync"), "s"),
      ("versioned.jobs_per_commit",
        if (writes.isEmpty) 0.0
        else writes.flatMap(_.layer).map(_.jobs).sum.toDouble / writes.size,
        "count"),
      ("versioned.snapshot_open_s",
        perPass(reads.filter(s => Set("scan", "point", "time_travel", "changes")
          .contains(s.op.kind)).map(_.buildNs / 1e9).sum), "s"),
      ("versioned.compact_s", kindWall("compact"), "s"),
      ("versioned.vacuum_s", kindWall("vacuum"), "s"),
      ("versioned.head_files", facts.getOrElse("head_files", 0.0), "count"),
      ("versioned.retained_versions", facts.getOrElse("retained_versions", 0.0),
        "count"),
      ("versioned.bytes_written_per_user_byte",
        if (userBytes > 0) writes.map(_.bytesWritten).sum / userBytes else 0.0,
        "ratio"),
      ("op_p50_s", median(secs(warm)), "s"),
      ("op_tail_s", tailNoted("op_tail_s", secs(warm)), "s"),
      ("write_p50_s", median(secs(writes)), "s"),
      ("write_tail_s", tailNoted("write_tail_s", secs(writes)), "s"),
      ("read_p50_s", median(secs(reads)), "s"),
      ("read_tail_s", tailNoted("read_tail_s", secs(reads)), "s"),
      ("bytes_per_live_byte",
        if (liveBytes > 0) facts("table_bytes") / liveBytes else 0.0, "ratio"),
      ("trace.ops_per_s", opsPerS(warm), "ops/s"))
  }
}

/** Per-op ledger of one run: every op's warm median and cold latency,
  * the wall of every op execution by pass; in a traced run also its layer counters averaged over the measured passes
  * and the spans of every op execution with the jobs it caused. */
object Ledger {
  def write(path: String, workload: String, seed: Long, trace: Boolean,
      samples: Seq[Sample], metrics: Seq[(String, Double, String)]): Unit = {
    val ops = samples.groupBy(_.op.name).toSeq.sortBy(_._1).map {
      case (name, ss) =>
        val warm = ss.filter(_.measured)
        val n = math.max(1, warm.size).toDouble
        def avg(f: Layer => Double): String =
          Json.num(warm.flatMap(_.layer).map(f).sum / n)
        def avgC(f: Layer => Long): String = avg(l => f(l).toDouble)
        val base = Seq(
          "op" -> Json.str(name), "kind" -> Json.str(ss.head.op.kind),
          "failed" -> ss.count(!_.ok).toString,
          "cold_s" -> Json.num(ss.filter(_.pass == 0).map(_.wallNs / 1e9).sum),
          "warm_median_s" -> Json.num(Metrics.median(warm.map(_.wallNs / 1e9))),
          "build_s" -> Json.num(Metrics.median(warm.map(_.buildNs / 1e9))))
        val layer = if (!trace) Seq.empty else Seq(
          "jobs" -> avgC(_.jobs), "stages" -> avgC(_.stages),
          "tasks" -> avgC(_.tasks), "tables_jobs" -> avgC(_.tablesJobs),
          "sql_execs" -> avgC(_.sqlExecs),
          "catalyst_ms" -> avgC(l => l.analysisMs + l.optimizationMs + l.planningMs),
          "job_s" -> avg(_.jobSpans.map(j => j._2 - j._1).sum / 1e3),
          "task_run_s" -> avg(_.taskRunMs / 1e3),
          "task_cpu_s" -> avg(_.taskCpuNs / 1e9),
          "shuffle_write_mb" -> avg(_.shuffleWriteB / 1048576.0),
          "input_mb" -> avg(_.scanFileB / 1048576.0),
          "exchanges" -> avgC(_.exchanges), "smj" -> avgC(_.smj),
          "bhj" -> avgC(_.bhj), "bnlj" -> avgC(_.bnlj),
          "unpartitioned_windows" -> avgC(_.unpartitionedWindows),
          "file_scans" -> avgC(_.fileScans), "graft_exprs" -> avgC(_.graftExprs))
        (base ++ layer).map { case (k, v) => s""""$k": $v""" }
          .mkString("    {", ", ", "}")
    }
    val ms = metrics.map { case (n, v, u) =>
      s"""    ${Json.str(n)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}""" }
    val w = new java.io.PrintWriter(path)
    w.println(s"""{"workload": ${Json.str(workload)}, "seed": $seed, """ +
      s""""trace": $trace,""")
    w.println(samples.map(s => Json.str(s.op.name))
      .mkString("  \"sequence\": [", ", ", "],"))
    w.println(ops.mkString("  \"ops\": [\n", ",\n", "\n  ],"))
    w.println(samples.map { s =>
      s"""    {"op": ${Json.str(s.op.name)}, "pass": ${s.pass}, """ +
        s""""wall_s": ${Json.num(s.wallNs / 1e9)}, "ok": ${s.ok}}"""
    }.mkString("  \"samples\": [\n", ",\n", "\n  ],"))
    if (trace) w.println(samples.map { s =>
      val jobs = s.layer.get.jobSpans.map { case (a, b) => s"[$a, $b]" }
      s"""    {"op": ${Json.str(s.op.name)}, "pass": ${s.pass}, """ +
        s""""start_ms": ${s.startMs}, "build_end_ms": ${s.buildEndMs}, """ +
        s""""end_ms": ${s.endMs}, "jobs": ${jobs.mkString("[", ", ", "]")}}"""
    }.mkString("  \"spans\": [\n", ",\n", "\n  ],"))
    w.println(ms.mkString("  \"metrics\": {\n", ",\n", "\n  }"))
    w.println("}")
    w.close()
  }
}
