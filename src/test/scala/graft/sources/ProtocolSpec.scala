package graft.sources

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Protocol-seam tests that need `private[sources]` access: the
  * publish-time constraint recheck (the addConstraint race, r9's
  * documented optimistic window, now closed) and the pluggable
  * [[Versioned.CommitStore]] (the object-store conditional-put seam). */
class ProtocolSpec extends SparkSpec {
  import spark.implicits._

  private def freshBase(): String =
    java.nio.file.Files.createTempDirectory("graft_protocol").toString + "/t"

  test("a commit racing addConstraint validates the delta or aborts") {
    val base = freshBase()
    Versioned.commit(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amt"), base)

    // interleave, deterministically: stage a VIOLATING batch while no
    // constraint exists (staging validates nothing), then land the
    // constraint, then publish the staged batch through the same
    // recheck closure `commit` uses — the CAS re-read must catch it
    val snap = Versioned.snapshot(spark, base)
    val (dir, stagedWith) = Versioned.stageValidated(
      Seq((3L, 999.0)).toDF("id", "amt"), base, snap)
    assert(stagedWith.isEmpty)
    Versioned.addConstraint(spark, base, "amt_cap", "amt <= 100.0")
    val ex = intercept[ConstraintViolation] {
      Versioned.publish(spark, base, snap,
        _.entries :+ ManifestEntry(dir, None),
        recheck = Versioned.constraintRecheck(spark, base, dir, stagedWith))
    }
    assert(ex.getMessage.contains("amt_cap"))
    // nothing landed: head is the addConstraint's metadata commit, the
    // staged dir is deleted, the data is the original two rows
    val p = new Path(dir)
    assert(!FsUtil.fs(spark, p).exists(p), "staged dir must be deleted")
    assert(Versioned.read(spark, base).count() === 2)

    // the same interleave with a CLEAN batch validates the delta and
    // lands — the recheck is a gate, not a blanket abort
    val snap2 = Versioned.snapshot(spark, base)
    val (dir2, sw2) = Versioned.stageValidated(
      Seq((4L, 40.0)).toDF("id", "amt"), base, snap2)
    Versioned.addConstraint(spark, base, "amt_pos", "amt > 0.0")
    Versioned.publish(spark, base, snap2,
      _.entries :+ ManifestEntry(dir2, None),
      recheck = Versioned.constraintRecheck(spark, base, dir2, sw2))
    assert(Versioned.read(spark, base).count() === 3)
  }

  test("the public commit path rejects a batch violating a constraint added after staging began") {
    // end-to-end shape: commit() itself carries the recheck — a batch
    // that validated against the pre-constraint head cannot land once
    // the constraint is in, however the interleave fell
    val base = freshBase()
    Versioned.commit(Seq((1L, 10.0)).toDF("id", "amt"), base)
    Versioned.addConstraint(spark, base, "amt_cap", "amt <= 100.0")
    intercept[ConstraintViolation] {
      Versioned.commit(Seq((2L, 500.0)).toDF("id", "amt"), base,
        org.apache.spark.sql.SaveMode.Append)
    }
    assert(Versioned.read(spark, base).count() === 1)
  }

  /** Conditional-put shim: emulates an S3-class store where RENAME is
    * not atomic but a compare-and-swap token service is available
    * (If-None-Match / DynamoDB lock — the shape Delta's S3 LogStore
    * uses). `claim` is the linearization point; the copy happens only
    * after winning it, and losers never touch the target. */
  private final class ConditionalPutStore extends Versioned.CommitStore {
    val claimed = new ConcurrentHashMap[String, Boolean]()
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    def putIfAbsent(f: FileSystem, tmp: Path, target: Path): Boolean = {
      if (claimed.putIfAbsent(target.toString, true) != null) return false
      // a real conditional PUT makes the object visible ATOMICALLY once
      // the precondition passes; emulate that on a filesystem with a
      // private copy + rename AFTER winning the claim (only the claim
      // winner ever touches `target`, so this rename cannot race)
      val shadow = new Path(target.getParent, s".put-${target.getName}")
      FileUtil.copy(f, tmp, f, shadow, true, f.getConf)
      require(f.rename(shadow, target))
      wins.incrementAndGet()
      true
    }
  }

  test("racing writers through a conditional-put store lose no commit") {
    val base = freshBase()
    val store = new ConditionalPutStore
    val writers = 4
    val perWriter = 6
    Versioned.withCommitStore(store) {
      val threads = (0 until writers).map { w =>
        new Thread(() => {
          for (i <- 0 until perWriter) {
            Versioned.appendOnce(
              Seq((w.toLong * 100 + i, s"w$w-b$i")).toDF("id", "tag"),
              base, s"writer$w-batch$i")
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    val vs = Versioned.versions(spark, base)
    assert(vs === (1L to (writers * perWriter).toLong),
      "every append must land exactly once, versions contiguous")
    assert(store.wins.get() === writers * perWriter)
    assert(Versioned.read(spark, base).count() ===
      (writers * perWriter).toLong)
    val ids = Versioned.appliedBatchIds(spark, base).toSet
    for (w <- 0 until writers; i <- 0 until perWriter)
      assert(ids.contains(s"writer$w-batch$i"))
  }

  // an op's first CAS attempt reuses the snapshot it opened; if newer
  // heads landed and a vacuum dropped the manifests after that snapshot,
  // the slot v<snapshot+1> is empty again — winning it would publish a
  // version no reader ever sees behind the newer head
  test("a stale snapshot cannot win a version slot a vacuum emptied") {
    val base = freshBase()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), base)
    val stale = Versioned.snapshot(spark, base)
    val dir = Versioned.stage(Seq((9L, "z")).toDF("id", "s"), base, stale)
    for (i <- 2L to 4L) Versioned.commit(Seq((i, "b")).toDF("id", "s"), base,
      org.apache.spark.sql.SaveMode.Append)
    Versioned.vacuum(spark, base, keepVersions = 2)
    assert(Versioned.versions(spark, base) === Seq(3L, 4L),
      "fixture sanity: v1 and v2 were dropped")
    val v = Versioned.publish(spark, base, stale,
      _.entries :+ ManifestEntry(dir, None))
    assert(v === 5L, "the publish must re-read the head, not refill v2")
    assert(Versioned.versions(spark, base) === Seq(3L, 4L, 5L))
    assert(Versioned.read(spark, base).select("id").as[Long].collect()
      .toSet === Set(1L, 2L, 3L, 4L, 9L))

    // an uninitialized snapshot has no manifest to vouch for it: v1 may
    // have been written and vacuumed since, so it is read again
    val fresh = freshBase()
    val empty = Versioned.snapshot(spark, fresh)
    for (i <- 1L to 3L) Versioned.commit(Seq((i, "b")).toDF("id", "s"),
      fresh, org.apache.spark.sql.SaveMode.Append)
    Versioned.vacuum(spark, fresh, keepVersions = 2)
    assert(Versioned.versions(spark, fresh) === Seq(2L, 3L))
    assert(Versioned.publish(spark, fresh, empty, _.entries) === 4L,
      "the publish must re-read the head, not refill v1")
    assert(Versioned.read(spark, fresh).count() === 3)
  }

  test("reader lease: a pinned snapshot survives a concurrent vacuum") {
    val base = freshBase()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), base)
    val lease = Versioned.pinSnapshot(spark, base) // pins v1
    Versioned.commit(Seq((2L, "b")).toDF("id", "s"), base)
    Versioned.commit(Seq((3L, "c")).toDF("id", "s"), base)
    Versioned.vacuum(spark, base, keepVersions = 1, minAgeMs = 0L)
    // the lease floor kept v1 (and so v2) despite keepVersions = 1
    assert(Versioned.versions(spark, base) === Seq(1L, 2L, 3L))
    assert(Versioned.readVersion(spark, base, lease.version)
      .select("s").as[String].collect() === Array("a"))
    lease.close()
    Versioned.vacuum(spark, base, keepVersions = 1, minAgeMs = 0L)
    assert(Versioned.versions(spark, base) === Seq(3L),
      "after release the ordinary retention applies")
  }

  /** Deterministic mid-flight race: on the FIRST publish attempt of the
    * body, land `interleave` (through the plain store) before letting
    * the attempt's conditional put proceed — the interleaved commit
    * wins, the body's publish loses its CAS and re-enters the rebase/
    * abort logic on the retry. */
  private def racing[A](interleave: => Unit)(body: => A): A = {
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    Versioned.withCommitStore(new Versioned.CommitStore {
      def putIfAbsent(f: org.apache.hadoop.fs.FileSystem,
          tmp: Path, target: Path): Boolean = {
        if (raced.compareAndSet(false, true)) interleave
        Versioned.RenameCommitStore.putIfAbsent(f, tmp, target)
      }
    })(body)
  }

  test("a pure append composes with COW delete: rebase, not abort") {
    val base = freshBase()
    Versioned.commit((1L to 4L).map(i => (i, i * 10L)).toDF("id", "v"), base)
    val v = racing {
      Versioned.commit(Seq((9L, 90L)).toDF("id", "v"), base,
        org.apache.spark.sql.SaveMode.Append)
    } {
      Versioned.deleteWhere(spark, base, col("id") === 2L)
    }
    // both effects landed, in write-serializable order (delete@v1, then
    // the append): 3 survivors + the raced row, one version each
    assert(v === 3L)
    assert(Versioned.read(spark, base).select("id").as[Long]
      .collect().toSet === Set(1L, 3L, 4L, 9L))
  }

  test("a pure append composes with a MOR delete's vector") {
    val base = freshBase()
    Versioned.commit((1L to 4L).map(i => (i, i * 10L)).toDF("id", "v"), base)
    val v = racing {
      Versioned.commit(Seq((9L, 90L)).toDF("id", "v"), base,
        org.apache.spark.sql.SaveMode.Append)
    } {
      Versioned.deleteWhereMor(spark, base, col("id") === 2L)
    }
    assert(v === 3L)
    assert(Versioned.read(spark, base).select("id").as[Long]
      .collect().toSet === Set(1L, 3L, 4L, 9L))
  }

  test("overlapping rewrites still conflict: raced delete of the same dir aborts") {
    val base = freshBase()
    Versioned.commit((1L to 4L).map(i => (i, i * 10L)).toDF("id", "v"), base)
    intercept[java.util.ConcurrentModificationException] {
      racing {
        // rewrites the SAME (only) data dir the outer delete derived from
        Versioned.deleteWhere(spark, base, col("id") === 3L)
      } {
        Versioned.deleteWhere(spark, base, col("id") === 2L)
      }
    }
    // the raced delete won; the aborted one left only vacuumable garbage
    assert(Versioned.read(spark, base).select("id").as[Long]
      .collect().toSet === Set(1L, 2L, 4L))
  }

  test("a raced deletion vector forces a COW abort, not a resurrection") {
    val base = freshBase()
    Versioned.commit((1L to 4L).map(i => (i, i * 10L)).toDF("id", "v"), base)
    intercept[java.util.ConcurrentModificationException] {
      racing {
        Versioned.deleteWhereMor(spark, base, col("id") === 3L)
      } {
        // derived without the raced vector: rebasing would resurrect 3
        Versioned.deleteWhere(spark, base, col("id") === 2L)
      }
    }
    assert(Versioned.read(spark, base).select("id").as[Long]
      .collect().toSet === Set(1L, 2L, 4L))
  }

  test("a pure append composes with MERGE: rebase, not abort") {
    val base = freshBase()
    Versioned.commit((1L to 4L).map(i => (i, i * 10L)).toDF("id", "v"), base)
    val v = racing {
      Versioned.commit(Seq((9L, 90L)).toDF("id", "v"), base,
        org.apache.spark.sql.SaveMode.Append)
    } {
      Versioned.mergeInto(spark, base,
        Seq((2L, 222L), (5L, 555L)).toDF("id", "v"),
        keys = Seq("id"), updateCols = Seq("v"))
    }
    // write-serializable order (merge@v1, then the append): the update
    // and the insert both land, and so does the raced row
    assert(v === 3L)
    assert(Versioned.read(spark, base).select("id", "v").as[(Long, Long)]
      .collect().toSet ===
      Set((1L, 10L), (2L, 222L), (3L, 30L), (4L, 40L), (5L, 555L),
        (9L, 90L)))
  }

  test("zone-disjoint deletion vectors compose: MOR delete racing MOR delete") {
    val base = freshBase()
    Versioned.commit((1L to 4L).map(i => (i, i * 10L)).toDF("id", "v"),
      base, statsCols = Seq("id"))
    Versioned.commit((11L to 14L).map(i => (i, i * 10L)).toDF("id", "v"),
      base, org.apache.spark.sql.SaveMode.Append, statsCols = Seq("id"))
    val v = racing {
      Versioned.deleteWhereMor(spark, base, col("id") === 12L)
    } {
      Versioned.deleteWhereMor(spark, base, col("id") === 2L)
    }
    // the zone maps prove the raced vector lives entirely in a
    // directory the victim's discovery never read: both vectors land,
    // one version each, no abort
    assert(v === 4L)
    assert(Versioned.read(spark, base).select("id").as[Long]
      .collect().toSet === Set(1L, 3L, 4L, 11L, 13L, 14L))
  }

  test("a zone-disjoint raced vector composes with a COW delete too") {
    val base = freshBase()
    Versioned.commit((1L to 4L).map(i => (i, i * 10L)).toDF("id", "v"),
      base, statsCols = Seq("id"))
    Versioned.commit((11L to 14L).map(i => (i, i * 10L)).toDF("id", "v"),
      base, org.apache.spark.sql.SaveMode.Append, statsCols = Seq("id"))
    val v = racing {
      Versioned.deleteWhereMor(spark, base, col("id") === 12L)
    } {
      Versioned.deleteWhere(spark, base, col("id") === 2L)
    }
    // the COW rewrite re-stages only the directory it read; the raced
    // vector's rows are elsewhere, so no resurrection is possible
    assert(v === 4L)
    assert(Versioned.read(spark, base).select("id").as[Long]
      .collect().toSet === Set(1L, 3L, 4L, 11L, 13L, 14L))
  }

  test("COW UPDATE racing addConstraint: violating new values abort inside the CAS") {
    // the r10 gate covered commit/commitIfAbsent only; the DML rewrite
    // paths stage new row values BEFORE publish, so a racing
    // addConstraint (metadata-only commit the rebase composes over)
    // must be re-validated by the publish-time recheck — otherwise the
    // update lands values the head's constraint forbids
    val base = freshBase()
    Versioned.commit((1L to 4L).map(i => (i, i * 10L)).toDF("id", "v"), base)
    intercept[ConstraintViolation] {
      racing {
        Versioned.addConstraint(spark, base, "v_cap", "v <= 100")
      } {
        Versioned.updateWhere(spark, base, col("id") === 2L,
          Map("v" -> lit(999L)))
      }
    }
    // the constraint commit won; the update aborted whole — original
    // values intact, no staged dir referenced
    assert(Versioned.read(spark, base).select("id", "v").as[(Long, Long)]
      .collect().toSet ===
      (1L to 4L).map(i => (i, i * 10L)).toSet)
  }

  test("COW UPDATE racing addConstraint: clean new values validate the delta and land") {
    val base = freshBase()
    Versioned.commit((1L to 4L).map(i => (i, i * 10L)).toDF("id", "v"), base)
    val v = racing {
      Versioned.addConstraint(spark, base, "v_cap", "v <= 100")
    } {
      Versioned.updateWhere(spark, base, col("id") === 2L,
        Map("v" -> lit(99L)))
    }
    assert(v === 3L, "constraint@2 then the rebased update@3")
    assert(Versioned.read(spark, base).filter(col("id") === 2L)
      .select("v").as[Long].head() === 99L)
  }

  test("MOR UPDATE racing addConstraint: the patch dir re-validates or aborts") {
    val base = freshBase()
    Versioned.commit((1L to 4L).map(i => (i, i * 10L)).toDF("id", "v"), base)
    intercept[ConstraintViolation] {
      racing {
        Versioned.addConstraint(spark, base, "v_cap", "v <= 100")
      } {
        Versioned.updateWhereMor(spark, base, col("id") === 2L,
          Map("v" -> lit(999L)))
      }
    }
    assert(Versioned.read(spark, base).select("id", "v").as[(Long, Long)]
      .collect().toSet ===
      (1L to 4L).map(i => (i, i * 10L)).toSet)
  }

  test("MERGE racing addConstraint: violating insert or update aborts whole") {
    val base = freshBase()
    Versioned.commit((1L to 4L).map(i => (i, i * 10L)).toDF("id", "v"), base)
    intercept[ConstraintViolation] {
      racing {
        Versioned.addConstraint(spark, base, "v_cap", "v <= 100")
      } {
        // the INSERT row (id=5) violates; both staged dirs must abort —
        // a MERGE is one transaction, not two
        Versioned.mergeInto(spark, base,
          Seq((2L, 22L), (5L, 555L)).toDF("id", "v"),
          keys = Seq("id"), updateCols = Seq("v"))
      }
    }
    assert(Versioned.read(spark, base).select("id", "v").as[(Long, Long)]
      .collect().toSet ===
      (1L to 4L).map(i => (i, i * 10L)).toSet)
  }

  test("write-serializability: every DML form racing a pure append equals op-then-append") {
    // the conflict matrix's CONTRACT, stated as one property: a DML op
    // that rebases over a racing pure append must leave the table equal
    // to running [op, then append] SEQUENTIALLY — the op derived from
    // the pre-append snapshot, so the appended rows are untouched even
    // when they MATCH the op's predicate (append (2, 999) below matches
    // every op's id <= 2 target; an implementation that wrongly
    // re-applied the op after the rebase would mangle it).
    def seed(b: String): Unit =
      Versioned.commit((1L to 6L).map(i => (i, i * 10L)).toDF("id", "v"), b)
    val appendRows = Seq((2L, 999L), (42L, 420L))
    def append(b: String): Unit =
      Versioned.commit(appendRows.toDF("id", "v"), b,
        org.apache.spark.sql.SaveMode.Append)
    val ops: Seq[(String, String => Unit)] = Seq(
      "deleteWhere" -> (b =>
        Versioned.deleteWhere(spark, b, col("id") <= 2L)),
      "deleteWhereMor" -> (b =>
        Versioned.deleteWhereMor(spark, b, col("id") <= 2L)),
      "updateWhere" -> (b =>
        Versioned.updateWhere(spark, b, col("id") <= 2L,
          Map("v" -> lit(0L)))),
      "updateWhereMor" -> (b =>
        Versioned.updateWhereMor(spark, b, col("id") <= 2L,
          Map("v" -> lit(0L)))),
      "mergeInto" -> (b =>
        Versioned.mergeInto(spark, b,
          Seq((2L, 222L), (7L, 777L)).toDF("id", "v"),
          keys = Seq("id"), updateCols = Seq("v"))))
    def state(b: String): Seq[(Long, Long)] =
      Versioned.read(spark, b).select("id", "v").as[(Long, Long)]
        .collect().toSeq.sorted
    for ((name, op) <- ops) {
      val raced = freshBase(); seed(raced)
      racing { append(raced) } { op(raced) }
      val serial = freshBase(); seed(serial)
      op(serial); append(serial)
      assert(state(raced) === state(serial),
        s"$name racing a pure append must equal serial op-then-append")
    }
  }

  // r16 (VERDICT r15 #6): the S3-class failure the CommitStore seam
  // exists for — a store whose "rename" is a NON-atomic copy+delete,
  // with a writer crash injected (a) before any target byte, (b)
  // mid-copy (a torn target), (c) after the copy but before the tmp
  // delete. The pin: a killed publish either fully appears or fully
  // doesn't — (a) leaves the table untouched, (b) is DETECTED loudly by
  // the #eof manifest framing instead of being served as a silently
  // shorter file list, with the documented delete-the-torn-head repair
  // restoring the table, and (c) is a completed commit whose
  // appendOnce retry the applied-batch ledger makes a no-op.
  test("non-atomic copy+delete store: a killed publish fully appears or fully doesn't") {
    val base = freshBase()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), base) // v1, real store
    var mode = "none"
    val store = new Versioned.CommitStore {
      def putIfAbsent(f: FileSystem, tmp: Path, target: Path): Boolean = {
        if (f.exists(target)) return false
        if (mode == "before") throw new RuntimeException("KILL before copy")
        val in = f.open(tmp)
        val bytes = try {
          val b = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](4096)
          var n = in.read(buf)
          while (n >= 0) { b.write(buf, 0, n); n = in.read(buf) }
          b.toByteArray
        } finally in.close()
        val cut = if (mode == "mid") bytes.length / 2 else bytes.length
        val out = f.create(target, false)
        try out.write(bytes, 0, cut) finally out.close()
        if (mode == "mid") throw new RuntimeException("KILL mid-copy")
        if (mode == "after") throw new RuntimeException("KILL before tmp delete")
        f.delete(tmp, false)
        true
      }
    }
    Versioned.withCommitStore(store) {
      // (a) crash before any target byte: fully doesn't appear
      mode = "before"
      intercept[RuntimeException] {
        Versioned.commit(Seq((2L, "b")).toDF("id", "s"), base)
      }
      assert(Versioned.versions(spark, base) === Seq(1L))
      assert(Versioned.read(spark, base).count() === 1)

      // (b) crash mid-copy: the torn head is refused loudly — never
      // parsed as a (silently shorter) manifest
      mode = "mid"
      intercept[RuntimeException] {
        Versioned.commit(Seq((2L, "b")).toDF("id", "s"), base)
      }
      val torn = intercept[IllegalStateException] {
        Versioned.read(spark, base)
      }
      assert(torn.getMessage.contains("torn manifest"))
      intercept[IllegalStateException] { Versioned.entries(spark, base, 2L) }
      // the documented repair (writer known dead): delete the torn head
      val tornPath = new Path(base, "_manifests/v2")
      FsUtil.fs(spark, tornPath).delete(tornPath, false)
      assert(Versioned.read(spark, base).count() === 1,
        "after repair the table reads at the pre-crash head")

      // (c) crash after the copy, before the tmp delete: the commit IS
      // complete (fully appears; the leftover .tmp is invisible to
      // listing), and the ledger makes the caller's natural retry a
      // no-op instead of a double-apply
      mode = "after"
      intercept[RuntimeException] {
        Versioned.appendOnce(Seq((2L, "b")).toDF("id", "s"), base, "batch-2")
      }
      assert(Versioned.versions(spark, base) === Seq(1L, 2L))
      assert(Versioned.read(spark, base).count() === 2)
      mode = "none"
      Versioned.appendOnce(Seq((2L, "b")).toDF("id", "s"), base, "batch-2")
      assert(Versioned.versions(spark, base) === Seq(1L, 2L),
        "crash-retry must not double-apply")
      assert(Versioned.read(spark, base).count() === 2)
    }
  }

  // the manifest framing has no unframed fallback: a head without the
  // #graft header and a matching #eof trailer — the framing stripped, or
  // a tear inside the header line itself — is torn, never an (empty or
  // shorter) snapshot a reader would serve and the next commit would
  // publish over; deleting the torn head restores the previous one.
  test("unframed and header-torn manifests are refused as torn") {
    val base = freshBase()
    Versioned.appendOnce(Seq((1L, "a")).toDF("id", "s"), base, "b1")
    Versioned.appendOnce(Seq((2L, "b")).toDF("id", "s"), base, "b2")
    val head = new Path(base, "_manifests/v2")
    val f = FsUtil.fs(spark, head)
    val in = f.open(head)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList finally in.close()
    assert(lines.head === "#graft=2" && lines.last.startsWith("#eof="))
    def rewriteHead(bytes: String): Unit = {
      f.delete(head, false)
      val out = f.create(head, false)
      try out.write(bytes.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    def assertTorn(): Unit = {
      val e = intercept[IllegalStateException](Versioned.read(spark, base))
      assert(e.getMessage.contains("torn manifest"), e.getMessage)
      intercept[IllegalStateException](Versioned.appliedBatchIds(spark, base))
      intercept[IllegalStateException](
        Versioned.appendOnce(Seq((3L, "c")).toDF("id", "s"), base, "b3"))
      assert(Versioned.versions(spark, base) === Seq(1L, 2L),
        "nothing may publish over a torn head")
    }
    // the framing stripped: the body alone is not a manifest
    rewriteHead(lines.drop(1).dropRight(1).mkString("\n"))
    assertTorn()
    // a tear inside the header line leaves a few bytes of it
    rewriteHead("#graf")
    assertTorn()
    // the documented repair: delete the torn head, v1 is the head again
    f.delete(head, false)
    assert(Versioned.read(spark, base).count() === 1)
    assert(Versioned.appliedBatchIds(spark, base) === Seq("b1"))
    assert(Versioned.appendOnce(Seq((2L, "b")).toDF("id", "s"), base, "b2")
      === Some(2L))
    assert(Versioned.read(spark, base).count() === 2)
  }

  test("durable lease: another process's lease file floors vacuum until it expires") {
    val base = freshBase()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), base)
    Versioned.commit(Seq((2L, "b")).toDF("id", "s"), base)
    Versioned.commit(Seq((3L, "c")).toDF("id", "s"), base)
    // exactly the artifact pinSnapshot leaves behind in ANOTHER JVM:
    // a lease file named for the pinned version, mtime = its renewal
    val dir = new Path(base, "_graft_leases")
    val file = new Path(dir,
      s"lease-${java.util.UUID.randomUUID()}#v=2")
    val f = FsUtil.fs(spark, file)
    f.create(file, false).close()
    Versioned.vacuum(spark, base, keepVersions = 1, minAgeMs = 0L)
    assert(Versioned.versions(spark, base) === Seq(2L, 3L),
      "a live foreign lease must floor retention at its version")
    // the reader crashed: age the lease past the TTL — the next vacuum
    // ignores it, reaps normally, and garbage-collects the file
    f.setTimes(file, System.currentTimeMillis() - 7200000L, -1L)
    Versioned.vacuum(spark, base, keepVersions = 1, minAgeMs = 0L)
    assert(Versioned.versions(spark, base) === Seq(3L),
      "an expired lease must not block retention")
    assert(!f.exists(file), "expired lease files are GC'd")
    // and a this-process pin leaves (then removes) the same artifact
    val lease = Versioned.pinSnapshot(spark, base)
    assert(f.listStatus(dir).nonEmpty, "pin writes a durable lease")
    lease.close()
    assert(f.listStatus(dir).isEmpty, "close removes it")
  }

  test("withPinnedSnapshot scopes the pin to the body") {
    val base = freshBase()
    Versioned.commit(Seq(1L, 2L).toDF("id"), base)
    val n = Versioned.withPinnedSnapshot(spark, base) { snap =>
      Versioned.commit(Seq(3L).toDF("id"), base)
      Versioned.vacuum(spark, base, keepVersions = 1, minAgeMs = 0L)
      snap.count() // v1's files must still be readable here
    }
    assert(n === 2L)
    Versioned.vacuum(spark, base, keepVersions = 1, minAgeMs = 0L)
    assert(Versioned.versions(spark, base) === Seq(2L))
  }

  test("bloom sidecars auto-size from per-file row counts and record their sizing") {
    val base = freshBase()
    // ~300 rows in 2 files, NO sizing confs: the sidecar must size for
    // ~150-row files, not the old 1M-item / 1 MiB default
    Versioned.commit(
      spark.range(0, 300).toDF("id").withColumn("k", col("id") * 7L)
        .repartitionByRange(2, col("id")),
      base, bloomCols = Seq("k"))
    val ents = Versioned.entries(spark, base, 1L)
    val bloom = Layout.readSidecar(spark, ents.head.path, "_graft_bloom")
    val row = bloom.select("bloom_items", "bloom_bits", "bloom_fpp")
      .head()
    assert(row.getLong(0) <= 300L && row.getLong(0) >= 100L,
      s"items must track the max file row count, got ${row.getLong(0)}")
    assert(row.getLong(1) < 64L * 1024,
      s"a 150-row file must not pay a 1M-item filter (${row.getLong(1)} bits)")
    assert(row.getDouble(2) > 0.0 && row.getDouble(2) <= 0.05)
    val filterBytes = bloom.select("k_bloom").head()
      .getAs[Array[Byte]](0).length
    assert(filterBytes < 8 * 1024,
      s"sidecar filter is $filterBytes bytes — not auto-sized")
    // and the layer still works: point probes prune, rows exact
    val got = Versioned.readWhere(spark, base, col("k") === 7L * 42)
    assert(got.count() === 1L)
    assert(got.inputFiles.length === 1,
      "the probe must plan only the file that can hold the key")
  }
}
