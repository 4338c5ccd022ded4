package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Incremental, Versioned}

/** Multi-writer stress for the versioned-table protocol — the CAS
  * re-derivation and conflict-abort paths under REAL thread interleaving
  * (the unit specs pin them single-process/deterministic; this drives
  * them hot). Run: `sbt "runMain graft.StressVersioned"`.
  *
  * Sections (each prints PASS/metrics; any invariant violation throws):
  * 1. Concurrent appenders: N threads × M atomic appends to one table.
  *    Invariants — linear gapless history, every batch's rows present
  *    exactly once, every batch id in the ledger.
  * 2. Appenders + compactor: appends racing periodic `compactLatest`
  *    calls (the copy-on-write conflict path: a compaction derived from
  *    a stale head must abort-retry, never drop an interleaved append).
  * 3. Replay storm: every batch delivered TWICE from different threads
  *    through `appendOnce` — row counts must equal single delivery.
  * 4. Concurrent rollup upserts incl. racing bootstrap: K threads fold
  *    disjoint and overlapping partition batches (plus duplicate ids)
  *    into one rollup — final state must equal the one-shot aggregate
  *    of the distinct batches.
  *
  * On a strict-rename DFS (HDFS) the CAS is the real thing; on local FS
  * rename-to-existing also fails, so the single-JVM race is faithful.
  * Multi-PROCESS object-store deployments need the conditional-put shim
  * the protocol doc describes — out of scope here by design.
  */
object StressVersioned {

  private def freshBase(): String =
    java.nio.file.Files.createTempDirectory("graft_stressv").toString + "/t"

  private def inParallel[A](n: Int)(f: Int => A): Seq[A] = {
    val pool = Executors.newFixedThreadPool(n)
    val gate = new CountDownLatch(1)
    try {
      val futures = (0 until n).map { i =>
        pool.submit(new Callable[A] {
          def call(): A = { gate.await(); f(i) }
        })
      }
      gate.countDown()
      futures.map(_.get(600, TimeUnit.SECONDS))
    } finally pool.shutdown()
  }

  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-stress-versioned")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // --- 1. concurrent appenders -------------------------------------
    locally {
      val base = freshBase()
      val (writers, batches, rows) = (8, 6, 50)
      val t0 = System.nanoTime()
      inParallel(writers) { w =>
        (0 until batches).foreach { b =>
          val lo = (w * batches + b) * rows
          Versioned.commit(
            spark.range(lo, lo + rows).select(col("id"), lit(w).as("writer")),
            base, SaveMode.Append, meta = Map("batch_id" -> s"a-$w-$b"))
        }
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val vs = Versioned.versions(spark, base)
      check(vs == (1L to (writers * batches).toLong),
        s"history not linear/gapless: $vs")
      val ids = Versioned.read(spark, base).select("id").as[Long].collect()
      check(ids.length == writers * batches * rows,
        s"expected ${writers * batches * rows} rows, got ${ids.length}")
      check(ids.toSet.size == ids.length, "duplicate rows under append race")
      val ledger = Versioned.appliedBatchIds(spark, base).toSet
      check((0 until writers).forall(w => (0 until batches).forall(b =>
        ledger.contains(s"a-$w-$b"))), "ledger lost a batch id")
      println(f"1. concurrent appenders: PASS ${writers * batches} commits " +
        f"from $writers threads in $secs%.1f s (${vs.size} versions)")
    }

    // --- 2. appenders racing a compactor -----------------------------
    locally {
      val base = freshBase()
      Versioned.commit(spark.range(0, 10).toDF("id"), base)
      val appenders = 6
      val results = inParallel(appenders + 1) {
        case i if i < appenders =>
          (0 until 5).foreach { b =>
            val lo = 1000 + (i * 5 + b) * 20
            Versioned.commit(spark.range(lo, lo + 20).toDF("id"), base,
              SaveMode.Append)
          }
          0
        case _ =>
          // the compactor: copy-on-write commits racing the appends —
          // stale-head derivations must ABORT (counted), never clobber
          var aborted = 0
          (0 until 8).foreach { _ =>
            try { Versioned.compactLatest(spark, base, targetFiles = 2); () }
            catch { case _: java.util.ConcurrentModificationException =>
              aborted += 1 }
            Thread.sleep(50)
          }
          aborted
      }
      val ids = Versioned.read(spark, base).select("id").as[Long].collect()
      check(ids.length == 10 + appenders * 5 * 20,
        s"expected ${10 + appenders * 5 * 20} rows, got ${ids.length}")
      check(ids.toSet.size == ids.length, "compaction duplicated rows")
      println(s"2. appenders vs compactor: PASS (${results.last} stale " +
        "compactions aborted cleanly, no lost or duplicated append)")
    }

    // --- 3. replay storm through appendOnce --------------------------
    locally {
      val base = freshBase()
      val batches = 24
      val outcomes = inParallel(2) { _ =>
        // BOTH threads deliver the SAME 24 batches (ids r-0..r-23)
        (0 until batches).map { b =>
          Versioned.appendOnce(
            spark.range(b * 10, b * 10 + 10).toDF("id"), base, s"r-$b")
            .isDefined
        }
      }
      val committed = outcomes.flatten.count(identity)
      val n = Versioned.read(spark, base).count()
      check(n == batches * 10,
        s"replay storm: expected ${batches * 10} rows, got $n")
      check(committed == batches,
        s"expected exactly $batches winning deliveries, got $committed")
      println(s"3. replay storm: PASS ($batches batches × 2 deliveries → " +
        s"$committed commits, $n rows — exactly-once)")
    }

    // --- 4. concurrent rollup upserts + racing bootstrap --------------
    locally {
      val base = freshBase()
      val threads = 6
      // thread i folds partitions d{i} (disjoint) and d-hot (overlapping),
      // and every batch is delivered twice (the duplicate must no-op)
      inParallel(threads) { i =>
        (0 until 4).foreach { b =>
          val batch = Seq(
            (s"d$i", "k", 1L), ("d-hot", s"k$i", 1L)
          ).toDF("day", "kind", "cnt")
          (0 until 2).foreach { _ =>
            Incremental.upsertRollup(spark, base, batch, s"u-$i-$b",
              "day", Seq("kind"), Seq("cnt"))
          }
        }
      }
      val state = Versioned.read(spark, base)
        .as[(String, String, Long)].collect().toSet
      val expected =
        (0 until threads).map(i => (s"d$i", "k", 4L)).toSet ++
          (0 until threads).map(i => ("d-hot", s"k$i", 4L)).toSet
      check(state == expected,
        s"rollup state diverged:\n got ${state.toSeq.sorted}\n " +
          s"want ${expected.toSeq.sorted}")
      println(s"4. concurrent rollup (incl. bootstrap race, dup delivery): " +
        s"PASS (${threads} writers, state exact)")
    }

    // --- 5. selective-delete cost ∝ touched data, not table size ------
    locally {
      val base = freshBase()
      val (dirsN, rowsPerDir) = (16, 600000) // ~9.6M rows, 16 data dirs
      (0 until dirsN).foreach { i =>
        Versioned.commit(
          spark.range(i.toLong * rowsPerDir, (i + 1).toLong * rowsPerDir)
            .select(col("id"), pmod(col("id") * 31, lit(1000)).as("payload"),
              sha2(col("id").cast("string"), 256).as("pad")),
          base, SaveMode.Append)
      }
      def bytesOf(paths: Seq[String]): Long = paths.map(p =>
        graft.sources.FsUtil.dataFiles(spark, p).map(_.getLen).sum).sum
      val before = Versioned.manifestFiles(spark, base, dirsN.toLong)
      val tableBytes = bytesOf(before)
      val total = spark.range(0, dirsN.toLong * rowsPerDir).count() // warm
      check(total == dirsN.toLong * rowsPerDir, "warmup sanity")

      // delete a slice INSIDE one dir's id range: 1/16 of the table holds
      // matches, so only that dir may be rewritten
      val (lo, hi) = (3L * rowsPerDir + 1000, 3L * rowsPerDir + 200000)
      val t0 = System.nanoTime()
      val v = Versioned.deleteWhere(spark, base,
        col("id") >= lo && col("id") < hi)
      val selSecs = (System.nanoTime() - t0) / 1e9
      val after = Versioned.manifestFiles(spark, base, v)
      val carried = after.count(before.contains)
      val stagedBytes = bytesOf(after.filterNot(before.contains))
      check(carried == dirsN - 1,
        s"expected ${dirsN - 1} dirs carried by reference, got $carried")
      check(stagedBytes * 4 < tableBytes,
        s"selective delete staged $stagedBytes of $tableBytes table bytes " +
          "— not proportional to touched data")
      check(Versioned.read(spark, base).count() ==
        dirsN.toLong * rowsPerDir - (hi - lo), "row count after delete")

      // the MOR tier on the same table: a second slice deleted via a
      // deletion vector — ZERO data dirs rewritten, staged bytes ∝ the
      // tombstoned row identities
      val (lo2, hi2) = (5L * rowsPerDir + 1000, 5L * rowsPerDir + 200000)
      val t2 = System.nanoTime()
      val vMor = Versioned.deleteWhereMor(spark, base,
        col("id") >= lo2 && col("id") < hi2)
      val morSecs = (System.nanoTime() - t2) / 1e9
      val entsMor = Versioned.entries(spark, base, vMor)
      check(entsMor.filterNot(_.tombstone).map(_.path).toSet == after.toSet,
        "MOR delete must rewrite no data dir")
      val morBytes = bytesOf(entsMor.filter(_.tombstone).map(_.path))
      check(morBytes * 20 < stagedBytes,
        s"deletion vector ($morBytes B) should be far below the COW " +
          s"rewrite ($stagedBytes B)")
      val expectRows =
        dirsN.toLong * rowsPerDir - (hi - lo) - (hi2 - lo2)
      check(Versioned.read(spark, base).count() == expectRows,
        "row count after MOR delete")

      // anchor: what the pre-r9 full rewrite costs on the same table
      // (also materializes the vector away — verified below)
      val t1 = System.nanoTime()
      val vc = Versioned.compactLatest(spark, base, targetFiles = dirsN)
      val fullSecs = (System.nanoTime() - t1) / 1e9
      check(Versioned.entries(spark, base, vc).count(_.tombstone) == 0,
        "full compaction must materialize vectors away")
      check(Versioned.read(spark, base).count() == expectRows,
        "row count after materializing compaction")
      println(f"5. selective delete ∝ touched data: PASS — " +
        f"${dirsN * rowsPerDir / 1e6}%.1fM rows/$dirsN dirs: COW " +
        f"$selSecs%.1f s (staged ${stagedBytes / 1e6}%.0f MB of " +
        f"${tableBytes / 1e6}%.0f MB, $carried dirs by reference); MOR " +
        f"$morSecs%.1f s (staged ${morBytes / 1e3}%.0f KB, 0 dirs " +
        f"rewritten) vs full rewrite $fullSecs%.1f s")
    }

    // --- 6. CDC-driven view sync: catch-up cost ∝ change ---------------
    locally {
      val src = freshBase(); val roll = freshBase()
      val (dirsN, rowsPerDir) = (8, 500000) // 4M rows
      (0 until dirsN).foreach { i =>
        Versioned.commit(
          spark.range(i.toLong * rowsPerDir, (i + 1).toLong * rowsPerDir)
            .select(col("id"), pmod(col("id"), lit(100)).as("grp"),
              (col("id") % 1000).as("v")),
          src, SaveMode.Append)
      }
      def prep(df: org.apache.spark.sql.DataFrame) =
        df.select(col("grp"), lit(1L).as("cnt"), col("v").as("v_sum"))
      def sync(): Long = Incremental.syncRollup(spark, src, roll, "mv",
        prep, "grp", Seq.empty, Seq("cnt", "v_sum"), "cnt")

      val tB = System.nanoTime()
      sync() // bootstrap: full 4M-row aggregate — the anchor cost
      val bootSecs = (System.nanoTime() - tB) / 1e9

      // a SMALL change: one in-dir delete slice + one appended batch
      Versioned.deleteWhere(spark, src,
        col("id") >= 2L * rowsPerDir + 1000 && col("id") < 2L * rowsPerDir + 51000)
      Versioned.commit(
        spark.range(100000000L, 100100000L)
          .select(col("id"), pmod(col("id"), lit(100)).as("grp"),
            (col("id") % 1000).as("v")),
        src, SaveMode.Append)
      // fixed-overhead audit: COUNT the Spark jobs a catch-up costs —
      // the r9 shape paid ~15 (double-run isEmpty probes, two change-
      // feed collects); the stage-then-check + one-job feed resolution
      // shape must stay under 9
      val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
      val counter = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobCount.incrementAndGet()
          println("JOB: " + j.stageInfos.map(_.name).mkString(" | "))
          ()
        }
      }
      spark.sparkContext.addSparkListener(counter)
      val tC = System.nanoTime()
      sync() // catch-up folds ONLY the net delta
      val catchSecs = (System.nanoTime() - tC) / 1e9
      spark.sparkContext.removeSparkListener(counter)
      val catchJobs = jobCount.get()
      check(catchJobs <= 9,
        s"catch-up sync cost $catchJobs Spark jobs — fixed overhead crept back")

      val got = Versioned.read(spark, roll)
        .as[(Long, Long, Long)].collect().toSet
      val want = prep(Versioned.read(spark, src))
        .groupBy("grp").agg(sum("cnt").as("cnt"), sum("v_sum").as("v_sum"))
        .as[(Long, Long, Long)].collect().toSet
      check(got == want, "synced rollup diverged from one-shot aggregate")
      check(Incremental.syncedSourceVersion(spark, roll, "mv")
        .contains(Versioned.versions(spark, src).last), "offset not advanced")
      // the scale contract is WORK, not toy-SF wall clock (at 4M narrow
      // rows the full aggregate is one cheap column-pruned scan while
      // the CDC machinery pays ~15 fixed-overhead jobs): the NET feed
      // the catch-up folded must be exactly the change — 50k deletes +
      // 100k inserts — however large the source grows
      val feedRows = Versioned.changes(spark, src, dirsN.toLong,
        Versioned.versions(spark, src).last).count()
      check(feedRows == 150000L,
        s"net change feed must be change-sized: got $feedRows rows")
      println(f"6. CDC view sync: PASS — 4M-row source, net feed " +
        f"$feedRows rows (= the change), bootstrap $bootSecs%.1f s, " +
        f"catch-up $catchSecs%.1f s / $catchJobs jobs " +
        "(overhead-bound at this SF)")
    }

    // --- 7. bloom point-probe at scale ---------------------------------
    locally {
      val base = freshBase()
      val rows = 4000000L
      Versioned.withBloomSizing(spark, 1L << 19, 1L << 22) {
        Versioned.commit(
          spark.range(0L, rows)
            .select(col("id"), sha2(col("id").cast("string"), 256).as("pad"))
            .repartitionByRange(16, col("id"))
            .sortWithinPartitions("id"),
          base, bloomCols = Seq("id"))
      }
      val probes: Seq[Any] = Seq(12345L, 2000001L, 3999999L)
      val t0 = System.nanoTime()
      val pruned = Versioned.readWhere(spark, base,
        col("id").isin(probes: _*))
      val hits = pruned.select("id").as[Long].collect().toSet
      val probeSecs = (System.nanoTime() - t0) / 1e9
      val planned = pruned.inputFiles.length
      val all = Versioned.read(spark, base).inputFiles.length
      check(hits == probes.map(_.asInstanceOf[Long]).toSet,
        s"bloom probe lost rows: $hits")
      check(planned * 2 <= all,
        s"bloom pruning planned $planned of $all files — no skipping")
      val t1 = System.nanoTime()
      val fullHits = Versioned.read(spark, base)
        .filter(col("id").isin(probes: _*)).select("id").as[Long]
        .collect().toSet
      val fullSecs = (System.nanoTime() - t1) / 1e9
      check(fullHits == hits, "full-scan twin disagrees")
      println(f"7. bloom point-probe: PASS — 4M rows/16 files: " +
        f"$planned files planned (of $all), probe $probeSecs%.1f s vs " +
        f"full scan $fullSecs%.1f s")
    }

    // --- 8. appenders racing a COW deleter: rebase, zero aborts --------
    locally {
      val base = freshBase()
      // seed: 8 dirs of 100k rows, ids 0..800k
      (0 until 8).foreach { i =>
        Versioned.commit(
          spark.range(i * 100000L, (i + 1) * 100000L)
            .select(col("id"), (col("id") % 97).as("v")),
          base, SaveMode.Append)
      }
      // 6 appenders race a deleter that walks disjoint seed slices.
      // Pure appends must COMPOSE with every delete (the rebase path);
      // a single ConcurrentModificationException is a failure. Appended
      // ids live above the seed range, so the expected final set is
      // exact arithmetic.
      val aborts = new java.util.concurrent.atomic.AtomicInteger(0)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(7)
      val appendTasks = (0 until 6).map { t =>
        pool.submit(new Runnable { def run(): Unit =
          (0 until 4).foreach { b =>
            val lo = 1000000L + (t * 4 + b) * 10000L
            Versioned.commit(
              spark.range(lo, lo + 10000L)
                .select(col("id"), (col("id") % 97).as("v")),
              base, SaveMode.Append)
          }
        })
      }
      val delTask = pool.submit(new Runnable { def run(): Unit =
        (0 until 4).foreach { s =>
          // each delete hits one seed slice: 2 dirs' worth of ids
          try Versioned.deleteWhere(spark, base,
            col("id") >= s * 200000L && col("id") < s * 200000L + 50000L)
          catch {
            case _: java.util.ConcurrentModificationException =>
              aborts.incrementAndGet(); ()
          }
        }
      })
      (appendTasks :+ delTask).foreach(_.get())
      pool.shutdown()
      check(aborts.get() == 0,
        s"${aborts.get()} deletes aborted — appends must rebase-compose")
      val expect = 800000L - 4 * 50000L + 6 * 4 * 10000L
      val got = Versioned.read(spark, base).count()
      check(got == expect, s"row count $got != $expect after racing DML")
      val gotDel = Versioned.read(spark, base)
        .filter(col("id") < 800000L && col("id") % 200000L < 50000L)
        .count()
      check(gotDel == 0L, "a deleted slice resurfaced")
      println(s"8. appenders vs COW deleter: PASS — 24 racing appends + " +
        s"4 slice deletes, 0 aborts (all rebased), state exact " +
        s"($expect rows)")
    }

    println("StressVersioned: ALL SECTIONS PASS")
    spark.stop()
  }
}
