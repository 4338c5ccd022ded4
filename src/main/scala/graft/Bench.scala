package graft
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: runs the full query catalog at
  * `SPARK_GRAFT_SF_DIR` and prints ONE compact JSON line.
  *
  * Methodology (declared in the JSON so the numbers are interpretable):
  *  - `"warmup":1` — one untimed pass first. Plan analysis + janino codegen
  *    compilation dominate at bench scale factors (x_ann_lsh: 7.9s cold vs
  *    1.1s warm) and amortize to nothing at real data sizes, so the
  *    measured pass reports warm data-path times.
  *  - `"mode":"concurrent8"` — the measured passes submit queries from 8
  *    threads into the shared scheduler (Spark's standard multi-session
  *    serving mode; analytics suites are concurrent in production).
  *    Since round 6 the concurrent pass runs THREE times and `value` is
  *    the MIN wall across them, with every wall in `conc_runs` for
  *    honesty: three same-code r5 measurements of a single concurrent
  *    wall spanned 14–98 s (7×) purely from machine contention, so a
  *    single-run wall cannot be graded round-over-round — the min is the
  *    standard contention-robust estimator (a run can only be SLOWED by
  *    interference, never sped up). `sum_sec` is the per-query latency
  *    sum of the min-wall run; `queries` holds that run's latencies. Set
  *    SPARK_GRAFT_BENCH_MODE=sequential to force one-at-a-time timing.
  *  - A SEQUENTIAL timed pass runs between warmup and the concurrent
  *    passes (`seq_wall_sec`/`seq_sum_sec`, per-query latencies under
  *    `"sequential"` in the detail file). Since round 6 it runs TWICE and
  *    reports per-query MINs and the min wall — single-pass sequential
  *    latencies still carry contention spikes (measured: ~18 s across 3
  *    unchanged queries in one r6 pass). `seq_sum_sec` (sum of per-query
  *    mins) is the primary comparator, not `seq_wall_sec`: a wall cannot
  *    dodge a spike that lands anywhere in its pass (measured r6: walls
  *    >=319 s containing 118.8 s of per-query-min work), while per-query
  *    mins across the two passes can. Concurrent latencies are
  *    contention-inflated and per-query deltas across rounds are
  *    confounded by catalog growth (round 4's wall doubled and could not
  *    be decomposed); the sequential pass is the DECLARED round-over-round
  *    comparator (BASELINE.md) — the clean per-query signal. It runs
  *    before the concurrent passes so it absorbs any post-warmup CPU
  *    frequency ramp (measured: the first timed pass after idle reads
  *    ~1.5× slow) while the min-of-3 concurrent estimator, which is
  *    robust to that by construction, runs last; the extra warmth the
  *    r1-r4 single concurrent pass never had is acknowledged and the
  *    concurrent baseline re-declared at r6 (BASELINE.md).
  *  - `"unstable":true` (round 7) flags a noise-contaminated run
  *    mechanically: conc_runs spreading past 2× max/min, or the two
  *    sequential passes disagreeing past 1.5× on total. Gate readers
  *    discount the headline when set instead of relying on footnotes.
  *  - `"calib_sec"` / `"box_factor_vs_prev"` (round 15): a fixed
  *    code-independent calibration probe (see the in-line note) turns
  *    the round-over-round box swap — r14 measured ~1.2× on untouched
  *    queries after a VM change — into a mechanical divisor:
  *    `common_subset_vs_prev.ratio_box_normalized` = ratio / box
  *    factor is the same-query comparison with the machine factored
  *    out. Null until the banked snapshot carries `calib_sec`. Round 16
  *    adds an I/O leg (`calib_io_sec`, fixed-size parquet write+scan)
  *    blended into the factor once the snapshot carries it, and a
  *    changed-entries exclusion list (`bench_changed_entries.txt`) so
  *    shape-changed queries never pollute the same-query ratio.
  *  - The driver captures only the LAST ~2000 chars of stdout (rounds 1 AND
  *    2 both overflowed it and parsed as null), so the printed line carries
  *    per-query latencies for a fixed headline subset only (~0.7 KB total);
  *    the full per-query map is written to `target/bench_queries.json` and
  *    that path is declared in the line as `"detail"`.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Debug mode: `runMain graft.Bench q1 q2` times the named queries twice
    // each (second run separates plan/codegen warmup from data cost).
    if (args.nonEmpty) {
      args.foreach { name =>
        val fn = SparkEntry.queries(name)
        (1 to 2).foreach { i =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          println(f"[bench-debug] $name run$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      }
      spark.stop()
      return
    }
    val concurrency =
      if (sys.env.get("SPARK_GRAFT_BENCH_MODE").contains("sequential")) 1 else 8

    // A failed query is None → emitted as JSON null (never a numeric
    // sentinel a round-over-round comparator could misread as a latency).
    def runAll(threads: Int): (Map[String, Option[Double]], Double) = {
      val pool = Executors.newFixedThreadPool(threads)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val w0 = System.nanoTime()
      val futures = SparkEntry.queries.toSeq.map { case (name, fn) =>
        Future {
          val t0 = System.nanoTime()
          val ok = try { fn(spark, sfDir).count(); true } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              false
          }
          name -> (if (ok) Some((System.nanoTime() - t0) / 1e9) else None)
        }
      }
      val out = futures.map(Await.result(_, Duration.Inf)).toMap
      pool.shutdown()
      val wall = (System.nanoTime() - w0) / 1e9
      // between passes, never inside one: release the rescue-path
      // persists (and exact-baseline memo) this pass registered
      graft.ext.Similarity.sweepAnnCaches()
      (out, wall)
    }

    runAll(concurrency) // warmup pass (untimed)
    // Sequential timed pass FIRST: per-query latencies free of scheduler
    // contention — the round-over-round comparable signal the concurrent
    // numbers can't provide (round 4's 2x wall growth was undecomposable
    // without it). Then the concurrent pass THREE times; the min wall is
    // the headline `value` (contention can only inflate a wall, so the
    // min is the least-contaminated estimate; all three walls are
    // reported). Per-query concurrent latencies come from the min-wall
    // run so the map and the wall describe the same execution.
    // Two sequential passes, per-query MIN: even one-at-a-time latencies
    // get contention-inflated on this box (r6 local: tpch_q5 11.1 s and
    // a3_group_count 6.7 s in one pass vs 3.1/0.5 s same-code r5 — ~18 s
    // of noise in a single pass), and a round-over-round comparator that
    // can randomly carry such spikes mis-grades rounds. Same estimator
    // argument as the concurrent min-of-3: interference only ever adds.
    val seqPasses =
      if (concurrency == 1) Seq.empty else Seq(runAll(1), runAll(1))
    val (seqResults, seqWall) =
      if (seqPasses.isEmpty) (Map.empty[String, Option[Double]], 0.0)
      else {
        val merged = seqPasses.map(_._1).reduce { (m1, m2) =>
          m1.map { case (k, v1) =>
            val v2 = m2.getOrElse(k, None)
            k -> ((v1, v2) match {
              case (Some(a), Some(b)) => Some(math.min(a, b))
              case (a, b)             => a.orElse(b)
            })
          }
        }
        (merged, seqPasses.map(_._2).min)
      }
    val concRuns = (1 to (if (concurrency == 1) 1 else 3)).map(_ => runAll(concurrency))
    val (results, wall) = concRuns.minBy(_._2)

    // BOX CALIBRATION (r15, VERDICT r14 #7): a fixed, CODE-INDEPENDENT
    // probe workload — pure Spark built-ins over spark.range at constant
    // sizes, no catalog code, no testdata — whose wall depends only on
    // the machine. Its min-of-3 lands in the JSON line AND the banked
    // detail snapshot, so the next round's read divides the same-query
    // ratio by the box factor mechanically instead of appealing to a
    // hand-run prev-HEAD A/B in prose (r14's VM swap measured ~1.2× on
    // untouched queries; this makes that visible in the artifact).
    // Runs AFTER the main passes (warm box — the post-idle frequency
    // ramp measured ~1.5× on first touch) with a CPU leg (codegen'd
    // hash over 3G longs) and a shuffle leg (100M rows → 1k groups),
    // the two resources the catalog's queries spend.
    val calibSec = {
      import org.apache.spark.sql.functions.expr
      def once(): Double = {
        val t0 = System.nanoTime()
        // avg, not sum: summing 3G uniform 64-bit hashes overflows a
        // long under the ANSI default and kills the run (and any larger
        // count a fortiori — avg's double accumulator can't overflow)
        spark.range(0L, 3000000000L, 1L, cpus.toInt)
          .selectExpr("avg(xxhash64(id))").collect()
        spark.range(0L, 100000000L, 1L, cpus.toInt)
          .groupBy(expr("id % 1000")).count()
          .selectExpr("sum(count)").collect()
        (System.nanoTime() - t0) / 1e9
      }
      (1 to 3).map(_ => once()).min
    }

    // I/O CALIBRATION LEG (r16, VERDICT r15 #4): the CPU+shuffle probe
    // above cannot see an I/O-bound box swap (parquet scan speed), so a
    // third leg writes a fixed 50M-row two-column parquet table to
    // local tmp (UNTIMED — measured: timing the write made the leg a
    // writeback-stall lottery, 1.6 vs 5.9 s min-of-3 across two
    // same-box invocations) and times only the SCAN + aggregate — the
    // parquet decode throughput the catalog's reads spend, stable
    // because the just-written file is page-cache-resident. Min-of-3
    // scans per fresh subdir; cleanup outside the timed window.
    // Carried as `calib_io_sec` beside `calib_sec`; once the banked
    // snapshot has both, the box factor blends them (total probe wall
    // ratio) so an I/O-path box change normalizes too.
    val calibIoSec = {
      val base = java.nio.file.Files.createTempDirectory("graft_calib_io")
      val path = base.resolve("t").toString
      spark.range(0L, 50000000L, 1L, cpus.toInt)
        .selectExpr("id", "xxhash64(id) as h")
        .write.mode("overwrite").parquet(path)
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.read.parquet(path).selectExpr("avg(h)", "avg(id)").collect()
        (System.nanoTime() - t0) / 1e9
      }
      val v = (1 to 3).map(_ => once()).min
      // untimed cleanup
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => try java.nio.file.Files.deleteIfExists(p) catch {
          case _: Exception => ()
        })
      v
    }

    // Locale.ROOT: the f-interpolator formats under the default locale —
    // a comma-decimal JVM would emit invalid JSON
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jsonMap(m: Seq[(String, Option[Double])]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v.fold("null")(f3) }
        .mkString("{", ",", "}")
    val sorted = results.toSeq.sortBy(_._1)
    val ok = results.values.flatten
    val sum = ok.sum
    val failed = results.size - ok.size
    // Representative subset printed inline; everything in the detail file.
    // r17 ADDS (never removes/renames — the harness contract) the two
    // entries VERDICT r16 item 10 wants driver-visible: the r16
    // containment-apply materialization and the NB-classifier pass
    // elimination landed after r16's bank and were invisible to the
    // driver's headline comparison.
    val headline = Vector(
      "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q7", "tpch_q10",
      "tpch_q18", "j14_join_agg", "w4_topn_per_group", "e2_sessionize",
      "x_asof_join", "x_range_join", "x_dedup_exact", "x_dedup_minhash",
      "x_dedup_ngram", "x_dedup_simhash", "x_ann_bruteforce", "x_ann_ivf",
      "x_text_quality", "x_text_tokens_bpe",
      "x_dedup_containment_apply", "x_text_nb_classify")
    // Guard against registry drift: a renamed/removed query must not silently
    // vanish from the headline map and break round-over-round comparability.
    val missing = headline.filterNot(results.contains)
    if (missing.nonEmpty)
      System.err.println(s"[bench] WARNING: headline queries missing from registry: ${missing.mkString(", ")}")
    val detailPath = java.nio.file.Paths.get("target/bench_queries.json")
    java.nio.file.Files.createDirectories(detailPath.getParent)
    val seqSorted = seqResults.toSeq.sortBy(_._1)
    val detailJson =
      s"""{"concurrent$concurrency":${jsonMap(sorted)},"sequential":${
        jsonMap(seqSorted)},"calib_sec":${f3(calibSec)},"calib_io_sec":${
        f3(calibIoSec)}}"""
    java.nio.file.Files.write(detailPath,
      detailJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val seqSum = seqResults.values.flatten.sum
    // Successor gate (r14, BASELINE.md): the self-declared absolute rule
    // (seq_sum <= the r5 139.9 s) stops being meaningful as the catalog
    // grows, so the line now carries the two mechanical successors:
    //  - `norm_sec_per_query` = seq_sum / #queries-with-a-latency; the
    //    declared bar is the r5 baseline's 139.9/141 ~ 0.99 s/query, so
    //    catalog growth is neither punished nor a place to hide.
    //  - `common_subset_vs_prev` = this run's seq-min sum over EXACTLY
    //    the queries present (non-null) in both this run and the banked
    //    previous detail snapshot (`bench_prev_detail.json` at the repo
    //    root, refreshed when a round banks a closing run; overridable
    //    via SPARK_GRAFT_BENCH_PREV), vs the same sum from the snapshot
    //    — a flat comparison no catalog delta can confound. `ratio` > 1
    //    is a real same-query regression. null when no snapshot exists
    //    or the run is sequential-mode (no seq pass to compare).
    val seqOkCount = seqResults.values.flatten.size
    val normSec = if (seqOkCount > 0) seqSum / seqOkCount else 0.0
    val prevPath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_PREV", "bench_prev_detail.json")
    val (commonJson: String, boxFactorJson: String) = {
      val p = java.nio.file.Paths.get(prevPath)
      if (seqOkCount == 0 || !java.nio.file.Files.exists(p)) ("null", "null")
      else try {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = mapper.readTree(p.toFile)
        val seqNode = root.get("sequential")
        val prev = scala.collection.mutable.Map[String, Double]()
        val it = seqNode.fields()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.isNumber) prev(e.getKey) = e.getValue.asDouble()
        }
        // box factor: this box's calibration wall over the banked one —
        // >1 means the current box is SLOWER on the code-independent
        // probe and the same-query ratio carries that much machine, not
        // code (null until a snapshot with calib_sec exists). When the
        // banked snapshot also carries calib_io_sec (r16+), the factor
        // BLENDS the legs as a total-probe-wall ratio — CPU + shuffle +
        // parquet I/O over the same — so an I/O-only box change (disk /
        // page-cache swap the CPU probe can't see) normalizes too.
        val calibNode = root.get("calib_sec")
        val calibIoNode = root.get("calib_io_sec")
        val boxFactor =
          if (calibNode != null && calibNode.isNumber && calibNode.asDouble() > 0) {
            if (calibIoNode != null && calibIoNode.isNumber
                && calibIoNode.asDouble() > 0)
              Some((calibSec + calibIoSec) /
                (calibNode.asDouble() + calibIoNode.asDouble()))
            else Some(calibSec / calibNode.asDouble())
          } else None
        // CHANGED-ENTRIES EXCLUSION (r16, ADVICE r15): the common subset
        // matches by NAME, so a query whose registered shape changed this
        // round (e.g. r15's recall-contract wrapping of the six ANN
        // entries) would mix a semantics change into the code-vs-code
        // signal the box normalization keeps clean. The builder lists
        // such names in `bench_changed_entries.txt` (one per line, #
        // comments; refreshed each round alongside the banked snapshot,
        // overridable via SPARK_GRAFT_BENCH_CHANGED); they are excluded
        // from the ratio and surfaced as `excluded_changed`.
        val changedPath = sys.env.getOrElse(
          "SPARK_GRAFT_BENCH_CHANGED", "bench_changed_entries.txt")
        val changed: Set[String] = {
          val cp = java.nio.file.Paths.get(changedPath)
          if (!java.nio.file.Files.exists(cp)) Set.empty
          else {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.readAllLines(cp).asScala
              .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
              .toSet
          }
        }
        val matched = seqResults.toSeq
          .collect { case (k, Some(v)) if prev.contains(k) => (k, v, prev(k)) }
        val (excluded, common) = matched.partition(t => changed.contains(t._1))
        val cj =
          if (common.isEmpty) "null"
          else {
            val cur = common.map(_._2).sum
            val prv = common.map(_._3).sum
            val ratio = cur / prv
            s"""{"n":${common.size},"cur_sec":${f3(cur)},""" +
              s""""prev_sec":${f3(prv)},"ratio":${f3(ratio)}""" +
              boxFactor.fold("")(b =>
                s""","ratio_box_normalized":${f3(ratio / b)}""") +
              s""","excluded_changed":${excluded.size}""" + "}"
          }
        (cj, boxFactor.fold("null")(f3))
      } catch {
        case e: Exception =>
          System.err.println(s"[bench] WARNING: prev detail unreadable: $e")
          ("null", "null")
      }
    }
    val hs = jsonMap(headline.flatMap(k => results.get(k).map(k -> _)))
    val runsJson = concRuns.map(r => f3(r._2)).mkString("[", ",", "]")
    // Honesty flag: when the box was contended enough that the three
    // concurrent walls spread past 2× (r5 measured 7× same-code spread)
    // or the two sequential passes disagree past 1.5× on total, the
    // run's numbers carry machine noise a gate reader must discount —
    // mechanically, not by footnote (BASELINE.md documents the flag).
    val concWalls = concRuns.map(_._2)
    val seqSums = seqPasses.map(_._1.values.flatten.sum).filter(_ > 0)
    val unstable =
      (concWalls.max > concWalls.min * 2.0) ||
        (seqSums.size == 2 && seqSums.max > seqSums.min * 1.5)
    println(s"""{"metric":"total","value":${f3(wall)},"unit":"sec","mode":"concurrent$concurrency","warmup":1,"conc_runs":$runsJson,"unstable":$unstable,"n":${results.size},"failed":$failed,"sum_sec":${f3(sum)},"seq_wall_sec":${f3(seqWall)},"seq_sum_sec":${f3(seqSum)},"norm_sec_per_query":${f3(normSec)},"calib_sec":${f3(calibSec)},"calib_io_sec":${f3(calibIoSec)},"box_factor_vs_prev":$boxFactorJson,"common_subset_vs_prev":$commonJson,"queries":$hs,"detail":"${detailPath.toAbsolutePath}","sf":"$sfDir"}""")
    spark.stop()
  }
}
