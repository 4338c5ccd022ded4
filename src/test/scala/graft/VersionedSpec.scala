package graft

import java.nio.file.Files
import graft.sources.Versioned
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** The versioned-table commit protocol: atomic snapshots, time travel,
  * snapshot isolation from immutability, crash garbage invisibility, and
  * the vacuum retention trade — the properties SURVEY §2.9 claims. */
class VersionedSpec extends SparkSpec {

  private def freshBase(): String =
    Files.createTempDirectory("graft_versioned").toString + "/t"

  test("commit / read / time travel: overwrite and append snapshots") {
    val base = freshBase()
    val ord = Tables.orders(spark, "/root/testdata/sf0.001")

    val v1 = Versioned.commit(ord.filter(col("o_orderkey") < 100), base)
    assert(v1 === 1L)
    val n1 = Versioned.read(spark, base).count()
    assert(n1 === ord.filter(col("o_orderkey") < 100).count())

    // overwrite: latest is exactly the new batch
    val v2 = Versioned.commit(
      ord.filter(col("o_orderkey") >= 100 && col("o_orderkey") < 300), base)
    assert(v2 === 2L)
    assert(Versioned.read(spark, base).agg(min(col("o_orderkey")))
      .head().getLong(0) >= 100)

    // append: latest is previous plus the batch
    val v3 = Versioned.commit(ord.filter(col("o_orderkey") >= 300
      && col("o_orderkey") < 400), base, SaveMode.Append)
    assert(v3 === 3L)
    val n3 = Versioned.read(spark, base).count()
    assert(n3 === Versioned.readVersion(spark, base, 2).count()
      + ord.filter(col("o_orderkey") >= 300 && col("o_orderkey") < 400).count())

    // time travel: every snapshot stays exact
    assert(Versioned.readVersion(spark, base, 1).count() === n1)
    assert(Versioned.versions(spark, base) === Seq(1L, 2L, 3L))
  }

  test("snapshot isolation: a reader resolved before a commit is unaffected by it") {
    val base = freshBase()
    val ord = Tables.orders(spark, "/root/testdata/sf0.001")
    Versioned.commit(ord.filter(col("o_orderkey") < 100), base)
    // resolve version 1 NOW; its file set is immutable
    val snapshot = Versioned.readVersion(spark, base, 1)
    val before = snapshot.count()
    Versioned.commit(ord, base) // v2 lands
    assert(snapshot.count() === before, "v1 reader saw a later commit")
    assert(Versioned.read(spark, base).count() === ord.count())
  }

  test("crash garbage is unreachable: staged dirs and tmp manifests are invisible") {
    val base = freshBase()
    val ord = Tables.orders(spark, "/root/testdata/sf0.001")
    Versioned.commit(ord.filter(col("o_orderkey") < 100), base)
    val n = Versioned.read(spark, base).count()
    // a writer that died after staging, before manifest rename:
    ord.filter(col("o_orderkey") >= 100).write
      .parquet(s"$base/data-dead-writer")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(base, "_manifests", ".tmp-dead"),
      "garbage".getBytes("UTF-8"))
    assert(Versioned.read(spark, base).count() === n)
    assert(Versioned.versions(spark, base) === Seq(1L))
  }

  test("schema evolution: an append batch with a new column widens the snapshot schema") {
    val base = freshBase()
    val ord = Tables.orders(spark, "/root/testdata/sf0.001")
    Versioned.commit(ord.select("o_orderkey", "o_totalprice")
      .filter(col("o_orderkey") < 100), base)
    Versioned.commit(ord.select("o_orderkey", "o_totalprice")
      .filter(col("o_orderkey") >= 100)
      .withColumn("ingest_tag", lit("batch2")), base, SaveMode.Append)
    val latest = Versioned.read(spark, base)
    assert(latest.columns.toSet ===
      Set("o_orderkey", "o_totalprice", "ingest_tag"))
    assert(latest.count() === ord.count())
    // pre-evolution rows read the new column as null
    assert(latest.filter(col("ingest_tag").isNull).count() ===
      ord.filter(col("o_orderkey") < 100).count())
    // time travel still sees the ORIGINAL schema of v1
    assert(Versioned.readVersion(spark, base, 1).columns.toSet ===
      Set("o_orderkey", "o_totalprice"))
  }

  test("streaming sink: each micro-batch is one atomic append commit; compaction folds them") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = freshBase()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = Versioned.commitStream(
      input.toDF().toDF("id", "payload"), base, streamName = "s1")
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      assert(Versioned.read(spark, base).count() === 2)
      input.addData((3L, "c"))
      q.processAllAvailable()
      // one version per non-empty micro-batch, union visible atomically
      assert(Versioned.versions(spark, base).size === 2)
      assert(Versioned.read(spark, base).as[(Long, String)].collect().sorted
        === Array((1L, "a"), (2L, "b"), (3L, "c")))
    } finally q.stop()
    // compaction is itself a commit: same rows, one data dir, history kept
    val v = Versioned.compactLatest(spark, base, targetFiles = 1)
    assert(Versioned.read(spark, base).count() === 3)
    assert(Versioned.readVersion(spark, base, v - 1).count() === 3)
    Versioned.vacuum(spark, base, keepVersions = 1, minAgeMs = 0)
    assert(Versioned.read(spark, base).count() === 3)
  }

  test("optimistic conflict: a copy-on-write commit derived from a stale head aborts") {
    import spark.implicits._
    val base = freshBase()
    Versioned.commit(Seq((1L, "a")).toDF("id", "v"), base)
    val staleHead = Versioned.versions(spark, base).last
    Versioned.commit(Seq((2L, "b")).toDF("id", "v"), base, SaveMode.Append)
    // a rewrite derived from v1 must NOT silently clobber v2's append
    assertThrows[java.util.ConcurrentModificationException](
      Versioned.commit(Seq((9L, "z")).toDF("id", "v"), base,
        expectedHead = Some(staleHead)))
    // nothing was published by the aborted attempt
    assert(Versioned.versions(spark, base).size === 2)
    assert(Versioned.read(spark, base).count() === 2)
  }

  test("copy-on-write delete/update: transactional DML, null-cond rows survive delete") {
    import spark.implicits._
    val base = freshBase()
    Versioned.commit(Seq(
      (1L, Some("drop"), 10.0), (2L, Some("keep"), 20.0),
      (3L, None, 30.0)).toDF("id", "tag", "amt"), base)

    // DELETE WHERE tag = 'drop': row 3's NULL condition must NOT delete it
    Versioned.deleteWhere(spark, base, col("tag") === "drop")
    assert(Versioned.read(spark, base).select("id").as[Long]
      .collect().sorted === Array(2L, 3L))

    // UPDATE WHERE id = 2 SET amt = 0: only the matching row changes
    val vUpd = Versioned.updateWhere(spark, base,
      col("id") === 2, Map("amt" -> lit(0.0)))
    val after = Versioned.read(spark, base)
      .select("id", "amt").as[(Long, Double)].collect().sortBy(_._1)
    assert(after === Array((2L, 0.0), (3L, 30.0)))
    // history intact: the pre-update snapshot still shows amt = 20
    assert(Versioned.readVersion(spark, base, vUpd - 1)
      .filter(col("id") === 2).select("amt").as[Double].head() === 20.0)
  }

  test("incremental rollup: additive merges, late partitions, batch-level exactly-once") {
    import spark.implicits._
    import graft.sources.Incremental
    val base = freshBase()
    def up(rows: Seq[(String, String, Long, Long)], id: String): Long =
      Incremental.upsertRollup(spark, base,
        rows.toDF("day", "kind", "cnt", "cents"), id,
        "day", Seq("kind"), Seq("cnt", "cents"))

    up(Seq(("d1", "a", 1L, 100L), ("d1", "b", 1L, 50L)), "b0")
    // merges into d1/a AND introduces the late partition d2
    up(Seq(("d1", "a", 1L, 25L), ("d2", "a", 1L, 10L)), "b1")
    def state(): Map[(String, String), (Long, Long)] =
      Versioned.read(spark, base).as[(String, String, Long, Long)]
        .collect().map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val expected = Map(
      ("d1", "a") -> (2L, 125L), ("d1", "b") -> (1L, 50L),
      ("d2", "a") -> (1L, 10L))
    assert(state() === expected)
    // replayed batch id: NOTHING changes — not the data, not the history
    val headBefore = Versioned.versions(spark, base).last
    up(Seq(("d1", "a", 99L, 9999L)), "b1")
    assert(state() === expected)
    assert(Versioned.versions(spark, base).last === headBefore)
    // the batch id is committed atomically with its data
    assert(Versioned.commitMeta(spark, base, headBefore)
      .get("batch_id").contains("b1"))
    // time travel still shows the pre-b1 rollup
    assert(Versioned.readVersion(spark, base, 1)
      .as[(String, String, Long, Long)].collect().toSet ===
      Set(("d1", "a", 1L, 100L), ("d1", "b", 1L, 50L)))
  }

  test("streaming rollup: micro-batches fold in exactly-once, state lives in the table") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.Incremental
    val base = freshBase()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, String, Long, Long)]
    val q = Incremental.rollupStream(
      input.toDF().toDF("day", "kind", "cnt", "cents"), base,
      "r1", "day", Seq("kind"), Seq("cnt", "cents"))
    try {
      input.addData(("d1", "a", 1L, 10L), ("d1", "a", 1L, 20L))
      q.processAllAvailable()
      input.addData(("d1", "a", 1L, 5L), ("d2", "b", 1L, 7L))
      q.processAllAvailable()
      val state = Versioned.read(spark, base)
        .as[(String, String, Long, Long)].collect().toSet
      assert(state === Set(("d1", "a", 3L, 35L), ("d2", "b", 1L, 7L)))
      // an epoch redelivered under its original id must no-op: simulate
      // the checkpoint-replay path by re-upserting epoch 0's batch
      Incremental.upsertRollup(spark, base,
        Seq(("d1", "a", 1L, 10L), ("d1", "a", 1L, 20L))
          .toDF("day", "kind", "cnt", "cents"),
        "stream-r1-epoch-0", "day", Seq("kind"), Seq("cnt", "cents"))
      assert(Versioned.read(spark, base)
        .as[(String, String, Long, Long)].collect().toSet === state)
    } finally q.stop()
  }

  test("rollback is a new commit; vacuum keeps referenced data, reaps the rest") {
    val base = freshBase()
    val ord = Tables.orders(spark, "/root/testdata/sf0.001")
    Versioned.commit(ord.filter(col("o_orderkey") < 100), base)   // v1
    Versioned.commit(ord.filter(col("o_orderkey") >= 100), base)  // v2
    val v3 = Versioned.rollbackTo(spark, base, 1)                 // v3 == v1's files
    assert(v3 === 3L)
    val v1n = Versioned.readVersion(spark, base, 1).count()
    assert(Versioned.read(spark, base).count() === v1n)

    // keep only v3: the v1/v2 manifests go, but v3 still references v1's
    // DATA, so those rows survive; v2's data dir is unreferenced → reaped
    def dataDirs(): Int = new java.io.File(base).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("data-"))
    assert(dataDirs() === 2)
    Versioned.vacuum(spark, base, keepVersions = 1, minAgeMs = 0)
    assert(Versioned.versions(spark, base) === Seq(3L))
    assert(Versioned.read(spark, base).count() === v1n)
    assert(dataDirs() === 1, "unreferenced v2 data dir should be reaped")
  }

  test("selective copy-on-write: untouched data dirs are carried by reference") {
    val base = freshBase()
    val ord = Tables.orders(spark, "/root/testdata/sf0.001")
    // three append commits with disjoint key ranges → three data dirs
    Versioned.commit(ord.filter(col("o_orderkey") < 100), base)
    Versioned.commit(ord.filter(col("o_orderkey") >= 100
      && col("o_orderkey") < 300), base, SaveMode.Append)
    Versioned.commit(ord.filter(col("o_orderkey") >= 300), base,
      SaveMode.Append)
    val before = Versioned.manifestFiles(spark, base, 3)
    assert(before.size === 3)

    // the delete predicate only matches the MIDDLE dir's rows
    val v = Versioned.deleteWhere(spark, base,
      col("o_orderkey") >= 150 && col("o_orderkey") < 250)
    val after = Versioned.manifestFiles(spark, base, v)
    assert(after.contains(before(0)) && after.contains(before(2)),
      "untouched dirs must be carried forward verbatim")
    assert(!after.contains(before(1)), "the matching dir must be rewritten")
    assert(after.size === 3, s"expected 2 carried + 1 rewritten, got $after")
    assert(Versioned.read(spark, base).count() ===
      ord.filter(!(col("o_orderkey") >= 150 && col("o_orderkey") < 250))
        .count())

    // a predicate matching NOTHING publishes no new version at all
    assert(Versioned.deleteWhere(spark, base,
      col("o_orderkey") === -1) === v)
    assert(Versioned.versions(spark, base).last === v)

    // file-level UPDATE: same carry-forward, only the matching dir rewritten
    val before2 = Versioned.entries(spark, base, v)
    val v2 = Versioned.updateWhere(spark, base, col("o_orderkey") === 42,
      Map("o_totalprice" -> lit(0.0)))
    val after2 = Versioned.manifestFiles(spark, base, v2)
    assert(before2.tail.map(_.path).forall(after2.contains),
      "update must not rewrite dirs without matches")
    assert(Versioned.read(spark, base)
      .filter(col("o_orderkey") === 42)
      .agg(min(col("o_totalprice"))).head().getDouble(0) === 0.0)
  }

  test("rollup upserts carry disjoint-partition dirs by reference") {
    import spark.implicits._
    import graft.sources.Incremental
    val base = freshBase()
    def up(rows: Seq[(String, String, Long)], id: String): Long =
      Incremental.upsertRollup(spark, base,
        rows.toDF("day", "kind", "cnt"), id, "day", Seq("kind"), Seq("cnt"))

    up(Seq(("d1", "a", 1L)), "b0")               // dir tagged {d1}
    val v2 = up(Seq(("d2", "a", 1L)), "b1")      // touches only d2
    val d1Dir = Versioned.manifestFiles(spark, base, 1).head
    assert(Versioned.manifestFiles(spark, base, v2).contains(d1Dir),
      "the {d1}-tagged dir must be carried by reference when d2 is upserted")
    // partition tags recorded and disjointness honored on the next upsert
    val ents = Versioned.entries(spark, base, v2)
    assert(ents.exists(_.parts.contains(Set("d1"))))
    assert(ents.exists(_.parts.contains(Set("d2"))))
    val v3 = up(Seq(("d2", "b", 2L)), "b2")      // touches only d2 again
    assert(Versioned.manifestFiles(spark, base, v3).contains(d1Dir),
      "a second d2 upsert still must not rewrite the d1 dir")
    // contents stay exact throughout
    assert(Versioned.read(spark, base).as[(String, String, Long)]
      .collect().toSet === Set(("d1", "a", 1L), ("d2", "a", 1L),
        ("d2", "b", 2L)))
  }

  test("replay guard reads one head manifest and survives vacuum") {
    import spark.implicits._
    import graft.sources.Incremental
    val base = freshBase()
    def up(day: String, n: Long, id: String): Long =
      Incremental.upsertRollup(spark, base,
        Seq((day, "k", n)).toDF("day", "kind", "cnt"), id,
        "day", Seq("kind"), Seq("cnt"))
    up("d1", 1L, "b0"); up("d2", 2L, "b1"); up("d3", 3L, "b2")
    // ledger in the HEAD manifest carries every applied id
    assert(Versioned.appliedBatchIds(spark, base).toSet
      === Set("b0", "b1", "b2"))
    // vacuum away all but the newest manifest: the OLD manifests' batch_id
    // lines are gone, but the guard's memory is the head ledger — a replay
    // of the first batch must STILL no-op (pre-r9 this re-applied)
    Versioned.vacuum(spark, base, keepVersions = 1, minAgeMs = 0)
    val head = Versioned.versions(spark, base).last
    up("d1", 99L, "b0")
    assert(Versioned.versions(spark, base).last === head,
      "a replayed batch id must not publish after vacuum")
    assert(Versioned.read(spark, base).as[(String, String, Long)]
      .collect().toSet === Set(("d1", "k", 1L), ("d2", "k", 2L),
        ("d3", "k", 3L)))
  }

  test("bootstrap commits are CAS-pinned; concurrent first upserts both land") {
    import spark.implicits._
    import graft.sources.Incremental
    // the mechanism: a commit pinned to head 0 aborts once anything lands
    val base = freshBase()
    Versioned.commit(Seq((1L, "a")).toDF("id", "v"), base)
    assertThrows[java.util.ConcurrentModificationException](
      Versioned.commit(Seq((2L, "b")).toDF("id", "v"), base,
        expectedHead = Some(0L)))

    // the behavior: two threads racing the FIRST upsert of an empty
    // rollup — the loser must retry through the merge path, never
    // overwrite the winner (the pre-r9 lost-update was permanent because
    // the winner's batch id was recorded, blocking re-application)
    val ec = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      (1 to 3).foreach { round =>
        val b = freshBase()
        val gate = new java.util.concurrent.CountDownLatch(1)
        val fs = (0 to 1).map { i =>
          ec.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = {
              gate.await()
              Incremental.upsertRollup(spark, b,
                Seq((s"d$i", "k", 1L)).toDF("day", "kind", "cnt"),
                s"boot-$i", "day", Seq("kind"), Seq("cnt"))
            }
          })
        }
        gate.countDown()
        fs.foreach(_.get())
        assert(Versioned.read(spark, b).as[(String, String, Long)]
          .collect().toSet === Set(("d0", "k", 1L), ("d1", "k", 1L)),
          s"round $round lost a bootstrap batch")
      }
    } finally ec.shutdown()
  }

  test("appendOnce: a replayed batch id is a no-op, a new id commits") {
    import spark.implicits._
    val base = freshBase()
    assert(Versioned.appendOnce(
      Seq((1L, "a")).toDF("id", "v"), base, "batch-A").contains(1L))
    // replay: no new version, no duplicate rows
    assert(Versioned.appendOnce(
      Seq((1L, "a")).toDF("id", "v"), base, "batch-A").isEmpty)
    assert(Versioned.versions(spark, base) === Seq(1L))
    assert(Versioned.appendOnce(
      Seq((2L, "b")).toDF("id", "v"), base, "batch-B").contains(2L))
    assert(Versioned.read(spark, base).count() === 2)
    // the commitStream path derives its ids the same way: a replayed
    // (streamName, epoch) pair is the same no-op
    assert(Versioned.appendOnce(
      Seq((9L, "z")).toDF("id", "v"), base, "stream-s1-epoch-0").isDefined)
    assert(Versioned.appendOnce(
      Seq((9L, "z")).toDF("id", "v"), base, "stream-s1-epoch-0").isEmpty)
    assert(Versioned.read(spark, base).count() === 3)
  }

  test("mergeInto: matched rows update, unmatched insert, untouched dirs carry by reference") {
    import spark.implicits._
    val base = freshBase()
    // two dirs with disjoint key ranges
    Versioned.commit(Seq((1L, "a", 10.0), (2L, "b", 20.0))
      .toDF("id", "tag", "amt"), base)
    Versioned.commit(Seq((10L, "c", 30.0), (11L, "d", 40.0))
      .toDF("id", "tag", "amt"), base, SaveMode.Append)
    val before = Versioned.manifestFiles(spark, base, 2)

    // source matches only dir 2's keys (update) plus a brand-new key
    // (insert) carrying a NEW column — schema evolution through merge
    val src = Seq((10L, 99.0, "fresh"), (77L, 7.0, "fresh"))
      .toDF("id", "amt", "origin")
    val v = Versioned.mergeInto(spark, base, src,
      keys = Seq("id"), updateCols = Seq("amt"))

    val after = Versioned.manifestFiles(spark, base, v)
    assert(after.contains(before(0)),
      "the unmatched dir must be carried by reference")
    assert(!after.contains(before(1)), "the matched dir must be rewritten")
    assert(after.size === 3, s"carried + rewritten + inserts: $after")

    val state = Versioned.read(spark, base)
      .select("id", "amt").as[(Long, Double)].collect().toMap
    assert(state === Map(1L -> 10.0, 2L -> 20.0, 10L -> 99.0,
      11L -> 40.0, 77L -> 7.0))
    // the insert batch's new column widened the snapshot; old rows null
    val origins = Versioned.read(spark, base)
      .select("id", "origin").as[(Long, Option[String])].collect().toMap
    assert(origins(77L).contains("fresh") && origins(1L).isEmpty)
    // pre-merge snapshot intact (time travel)
    assert(Versioned.readVersion(spark, base, 2)
      .filter(col("id") === 10).select("amt").as[Double].head() === 30.0)

    // cardinality violation rejected loudly
    assertThrows[IllegalArgumentException](Versioned.mergeInto(spark, base,
      Seq((1L, 0.0), (1L, 1.0)).toDF("id", "amt"), Seq("id"), Seq("amt")))
    // match-key update rejected
    assertThrows[IllegalArgumentException](Versioned.mergeInto(spark, base,
      src, Seq("id"), Seq("id", "amt")))
    // empty-effect merge publishes nothing
    val headNow = Versioned.versions(spark, base).last
    assert(Versioned.mergeInto(spark, base,
      Seq.empty[(Long, Double)].toDF("id", "amt"),
      Seq("id"), Seq("amt")) === headNow)
  }

  test("degenerate partition values: empty-string and null groups merge exactly") {
    import spark.implicits._
    import graft.sources.Incremental
    val base = freshBase()
    def up(rows: Seq[(String, String, Long)], id: String): Long =
      Incremental.upsertRollup(spark, base,
        rows.toDF("day", "kind", "cnt"), id, "day", Seq("kind"), Seq("cnt"))
    // "" must NOT round-trip to an empty tag set (which would falsely
    // claim disjointness from everything and duplicate the group)
    up(Seq(("", "a", 1L), ("d1", "a", 1L)), "b0")
    up(Seq(("", "a", 2L)), "b1")
    val state = Versioned.read(spark, base)
      .as[(String, String, Long)].collect().toSet
    assert(state === Set(("", "a", 3L), ("d1", "a", 1L)),
      "empty-string partition groups must merge, not duplicate")
    // the d1 dir from b0's era is NOT blindly carried: "" intersects it
    // (both values live in one dir) — correctness over reuse here
    up(Seq((null.asInstanceOf[String], "a", 5L)), "b2")
    assert(Versioned.read(spark, base).filter(col("day").isNull)
      .select("cnt").as[Long].head() === 5L)
    // a raw empty tag is rejected loudly at the protocol level
    assertThrows[IllegalArgumentException](
      Versioned.commit(Seq((1L, "x")).toDF("id", "v"), base,
        org.apache.spark.sql.SaveMode.Append, parts = Some(Set(""))))
  }

  test("mixed statsCols across commits: readWhere fails open per column") {
    import graft.sources.Layout
    val base = freshBase()
    val ord = Tables.orders(spark, "/root/testdata/sf0.001")
    val mid = ord.agg(max(col("o_orderkey"))).head().getLong(0) / 2
    // first commit maps only o_orderkey; second maps both columns
    Versioned.commit(Layout.zOrderFrame(
      ord.filter(col("o_orderkey") <= mid),
      Seq("o_orderkey", "o_custkey"), files = 4),
      base, statsCols = Seq("o_orderkey"))
    Versioned.commit(Layout.zOrderFrame(
      ord.filter(col("o_orderkey") > mid),
      Seq("o_orderkey", "o_custkey"), files = 4),
      base, SaveMode.Append, statsCols = Seq("o_orderkey", "o_custkey"))
    val hiCk = ord.agg(max(col("o_custkey"))).head().getLong(0).toDouble / 4
    // the first dir's sidecar lacks o_custkey: it prunes on o_orderkey
    // alone instead of failing to resolve the column
    val cond = col("o_orderkey") <= mid && col("o_custkey") <= hiCk
    assert(Versioned.readWhere(spark, base, cond).count() ===
      ord.filter(cond).count())
  }

  test("schema-evolved columns: update and merge resolve against old dirs") {
    import spark.implicits._
    val base = freshBase()
    Versioned.commit(Seq((1L, 10.0)).toDF("id", "amt"), base)
    Versioned.commit(Seq((2L, 20.0, "tagged"))
      .toDF("id", "amt", "note"), base, SaveMode.Append)
    // update `note` where the ONLY touched dir predates the column —
    // pre-fix: AnalysisException from d("note") on the old dir's schema
    Versioned.updateWhere(spark, base, col("id") === 1,
      Map("note" -> lit("backfilled")))
    val notes = Versioned.read(spark, base)
      .select("id", "note").as[(Long, Option[String])].collect().toMap
    assert(notes === Map(1L -> Some("backfilled"), 2L -> Some("tagged")))

    // merge updating a column the matched dir lacks: same hole, same fix
    val base2 = freshBase()
    Versioned.commit(Seq((1L, 10.0)).toDF("id", "amt"), base2)
    Versioned.commit(Seq((2L, 20.0, "x")).toDF("id", "amt", "origin"),
      base2, SaveMode.Append)
    Versioned.mergeInto(spark, base2,
      Seq((1L, "merged")).toDF("id", "origin"),
      keys = Seq("id"), updateCols = Seq("origin"))
    val origins = Versioned.read(spark, base2)
      .select("id", "origin").as[(Long, Option[String])].collect().toMap
    assert(origins === Map(1L -> Some("merged"), 2L -> Some("x")))
  }

  test("DML keeps the zone-map skipping layer on rewritten dirs") {
    import graft.sources.Layout
    val base = freshBase()
    val ord = Tables.orders(spark, "/root/testdata/sf0.001")
    val z = Seq("o_orderkey", "o_custkey")
    Versioned.commit(Layout.zOrderFrame(ord, z, files = 4), base,
      statsCols = z)
    // a COW delete rewrites the (single) dir; its replacement must carry
    // a fresh sidecar, not shed the layer
    Versioned.deleteWhere(spark, base, col("o_orderkey") === 1)
    val head = Versioned.versions(spark, base).last
    val newDir = Versioned.manifestFiles(spark, base, head).head
    assert(new java.io.File(
      new java.net.URI(s"$newDir/_graft_zonemap").getPath).exists(),
      "rewritten dir lost its zone-map sidecar")
    // and compaction preserves it too
    Versioned.compactLatest(spark, base, targetFiles = 2)
    val cDir = Versioned.manifestFiles(spark, base,
      Versioned.versions(spark, base).last).head
    assert(new java.io.File(
      new java.net.URI(s"$cDir/_graft_zonemap").getPath).exists(),
      "compacted dir lost its zone-map sidecar")
  }

  test("change feed: net inserts/deletes across append, COW, MOR, update, rollback") {
    import spark.implicits._
    val base = freshBase()
    def feed(a: Long, b: Long): Set[(String, Long, Double)] =
      Versioned.changes(spark, base, a, b)
        .select("_change", "id", "amt").as[(String, Long, Double)]
        .collect().toSet
    Versioned.commit(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0))
      .toDF("id", "amt"), base)                                   // v1
    Versioned.commit(Seq((4L, 40.0)).toDF("id", "amt"), base,
      SaveMode.Append)                                            // v2
    assert(feed(1, 2) === Set(("insert", 4L, 40.0)))

    // COW delete physically drops one dir and stages another — the net
    // step must cancel the carried-over identical rows
    Versioned.deleteWhere(spark, base, col("id") === 2)           // v3
    assert(feed(2, 3) === Set(("delete", 2L, 20.0)))

    // MOR delete surfaces through the deletion-vector delta, read only
    // from the delta's files
    Versioned.deleteWhereMor(spark, base, col("id") === 4)        // v4
    assert(feed(3, 4) === Set(("delete", 4L, 40.0)))

    // MOR update = one delete + one insert for the changed row
    Versioned.updateWhereMor(spark, base, col("id") === 3,
      Map("amt" -> lit(0.0)))                                     // v5
    assert(feed(4, 5) === Set(("delete", 3L, 30.0), ("insert", 3L, 0.0)))

    // composite net across every op: the appended-then-deleted (4, 40)
    // cancels entirely
    assert(feed(1, 5) === Set(("delete", 2L, 20.0),
      ("delete", 3L, 30.0), ("insert", 3L, 0.0)))
    // identical versions → empty feed with the _change column present
    assert(Versioned.changes(spark, base, 5, 5).count() === 0)

    // rollback resurrects: the feed shows what a consumer must re-apply
    Versioned.rollbackTo(spark, base, 1)                          // v6
    assert(feed(5, 6) === Set(("insert", 2L, 20.0),
      ("insert", 3L, 30.0), ("delete", 3L, 0.0)))
  }

  test("change feed survives user columns named like its own helpers") {
    import spark.implicits._
    // the signed-netting aggregation builds scratch columns; a USER
    // column spelled the same must come through untouched, not be
    // silently replaced by the sign literal
    val base = freshBase()
    Versioned.commit(Seq((1L, 7L, 70L), (2L, 8L, 80L))
      .toDF("id", "__s", "__net"), base)                          // v1
    Versioned.deleteWhere(spark, base, col("id") === 1)           // v2
    Versioned.commit(Seq((3L, 9L, 90L)).toDF("id", "__s", "__net"),
      base, SaveMode.Append)                                      // v3
    val got = Versioned.changes(spark, base, 1, 3)
      .select("_change", "id", "__s", "__net")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got === Set(("delete", 1L, 7L, 70L), ("insert", 3L, 9L, 90L)))
  }

  test("history and timestamp time travel") {
    import spark.implicits._
    val base = freshBase()
    Versioned.commit(Seq((1L, "a")).toDF("id", "v"), base,
      meta = Map("batch_id" -> "b0"))
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(5)
    Versioned.commit(Seq((2L, "b")).toDF("id", "v"), base, SaveMode.Append)
    Versioned.deleteWhereMor(spark, base, col("id") === 1)

    val h = Versioned.history(spark, base).orderBy("version").collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(h(0).getAs[String]("batch_id") === "b0")
    val stamps = h.map(_.getLong(1))
    // STRICTLY monotone: publish clamps each stamp past the head's, so
    // version order and stamp order stay aligned even under clock skew
    assert(stamps.sliding(2).forall { case Array(a, b) => a < b },
      s"commit stamps must strictly increase: ${stamps.toSeq}")
    assert(h(2).getAs[Int]("tombstone_dirs") === 1)
    assert(h(2).getAs[Int]("data_dirs") === 2)

    // AS OF between v1 and v2 resolves v1; AS OF now resolves head
    assert(Versioned.readAsOf(spark, base, afterV1).count() === 1)
    assert(Versioned.readAsOf(spark, base, System.currentTimeMillis())
      .select("id").as[Long].collect().toSeq === Seq(2L))
    // a stamp before the table existed fails loudly, never lies
    assertThrows[IllegalArgumentException](
      Versioned.readAsOf(spark, base, stamps(0) - 1000))
  }

  test("merge-on-read: deletion vectors, patch updates, materializing compaction") {
    import spark.implicits._
    val base = freshBase()
    Versioned.commit(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0))
      .toDF("id", "amt"), base)
    Versioned.commit(Seq((10L, 100.0), (11L, 110.0))
      .toDF("id", "amt"), base, SaveMode.Append)
    val dataBefore = Versioned.manifestFiles(spark, base, 2)

    // MOR delete: NO data dir is rewritten — a tombstone entry appears
    val v3 = Versioned.deleteWhereMor(spark, base, col("id") === 2)
    val e3 = Versioned.entries(spark, base, v3)
    assert(e3.filterNot(_.tombstone).map(_.path) === dataBefore,
      "every data dir must be carried verbatim")
    assert(e3.count(_.tombstone) === 1)
    def ids(): Seq[Long] = Versioned.read(spark, base)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids() === Seq(1L, 3L, 10L, 11L))
    // time travel: the pre-delete snapshot still shows the row
    assert(Versioned.readVersion(spark, base, 2).count() === 5)

    // vectors compose; a no-match delete publishes nothing
    Versioned.deleteWhereMor(spark, base, col("id") === 10)
    assert(ids() === Seq(1L, 3L, 11L))
    val headNow = Versioned.versions(spark, base).last
    assert(Versioned.deleteWhereMor(spark, base, col("id") === 999)
      === headNow)
    // deleting an ALREADY-tombstoned row is also a no-op (the discovery
    // scan applies outstanding vectors first)
    assert(Versioned.deleteWhereMor(spark, base, col("id") === 2)
      === headNow)

    // MOR update: tombstone + patch dir, matched row only
    Versioned.updateWhereMor(spark, base, col("id") === 3,
      Map("amt" -> lit(0.0)))
    val state = Versioned.read(spark, base)
      .select("id", "amt").as[(Long, Double)].collect().toMap
    assert(state === Map(1L -> 10.0, 3L -> 0.0, 11L -> 110.0))

    // a copy-on-write rewrite must NOT resurrect tombstoned rows
    Versioned.deleteWhere(spark, base, col("id") === 1)
    assert(Versioned.read(spark, base).select("id").as[Long]
      .collect().sorted === Array(3L, 11L))

    // full compaction materializes every vector away
    val vc = Versioned.compactLatest(spark, base, targetFiles = 1)
    val ec = Versioned.entries(spark, base, vc)
    assert(ec.count(_.tombstone) === 0, "full compaction must drop vectors")
    assert(ec.size === 1)
    assert(Versioned.read(spark, base)
      .select("id", "amt").as[(Long, Double)].collect().toMap ===
      Map(3L -> 0.0, 11L -> 110.0))
  }

  test("predicate ranges: conjunct extraction is conservative and fail-open") {
    import graft.sources.PredicateRanges
    // per-column hull of the interval sets, every column numeric
    def r(c: org.apache.spark.sql.Column) = PredicateRanges
      .rangeSets(PredicateRanges.tree(c), _ => Some("numeric")).get
      .map { case (n, ivs) =>
        (n, math.ceil(ivs.map(_._1).min), math.floor(ivs.map(_._2).max)) }
    // conjuncts intersect per column; = is a point; IN is an envelope
    assert(r(col("a") >= 5 && col("a") < 10 && col("b") === 3
      && col("c").isin(7, 9, 8)) ===
      Seq(("a", 5.0, 10.0), ("b", 3.0, 3.0), ("c", 7.0, 9.0)))
    // reversed operand order
    assert(r(lit(5) <= col("a") && lit(10) > col("a")) ===
      Seq(("a", 5.0, 10.0)))
    // ORs, casts, functions, strings: extract NOTHING for those columns
    assert(r((col("d") > 1 || col("e") < 2) && col("f") === "x"
      && abs(col("g")) > 3) === Seq.empty)
    // ...but a recognizable conjunct still extracts next to opaque ones
    assert(r((col("d") > 1 || col("e") < 2) && col("h") <= 4) ===
      Seq(("h", -Double.PositiveInfinity, 4.0)))
  }

  test("COW discovery skips dirs whose zone maps exclude the predicate") {
    import graft.sources.{Layout, PredicateRanges, Versioned => V}
    val base = freshBase()
    val ord = Tables.orders(spark, "/root/testdata/sf0.001")
    val maxK = ord.agg(max(col("o_orderkey"))).head().getLong(0)
    val mid = maxK / 2
    val z = Seq("o_orderkey", "o_custkey")
    // two sidecar-equipped commits split on the key range
    V.commit(Layout.zOrderFrame(ord.filter(col("o_orderkey") <= mid),
      z, files = 4), base, statsCols = z)
    V.commit(Layout.zOrderFrame(ord.filter(col("o_orderkey") > mid),
      z, files = 4), base, SaveMode.Append, statsCols = z)
    val ents = V.entries(spark, base, 2)
    // the mechanism: a low-range predicate's intervals exclude dir 2
    val cond = col("o_orderkey") <= mid / 2
    val survivors = V.zoneSurvivors(spark, ents, PredicateRanges.tree(cond))
    assert(survivors.map(_.path) === Seq(ents.head.path),
      "the high-range dir's sidecar must rule it out pre-scan")
    // and the full op stays correct: delete through the pruned discovery
    val v = V.deleteWhere(spark, base, cond)
    assert(V.manifestFiles(spark, base, v).contains(ents(1).path),
      "the skipped dir is carried by reference")
    assert(V.read(spark, base).count() ===
      ord.filter(!(col("o_orderkey") <= mid / 2)).count())
  }

  test("zone-map sidecars in commits: readWhere is row-identical and prunes files") {
    import graft.sources.Layout
    val base = freshBase()
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val z = Seq("l_orderkey", "l_partkey")
    // two z-ordered commits, each staged with a per-file min/max sidecar
    Versioned.commit(Layout.zOrderFrame(
      li.filter(pmod(col("l_orderkey"), lit(2)) === 0), z, files = 8),
      base, statsCols = z)
    Versioned.commit(Layout.zOrderFrame(
      li.filter(pmod(col("l_orderkey"), lit(2)) === 1), z, files = 8),
      base, SaveMode.Append, statsCols = z)
    val maxOk = li.agg(max(col("l_orderkey"))).head().getLong(0).toDouble
    val maxPk = li.agg(max(col("l_partkey"))).head().getLong(0).toDouble
    val cond = col("l_orderkey") <= maxOk / 8 && col("l_partkey") <= maxPk / 8
    val pruned = Versioned.readWhere(spark, base, cond)
    val all = Versioned.read(spark, base)
    // listing-time pruning really dropped files…
    assert(pruned.inputFiles.length * 2 <= all.inputFiles.length,
      s"${pruned.inputFiles.length} of ${all.inputFiles.length} planned")
    // …and the result is row-identical to the full filtered scan
    assert(pruned.count() === all.filter(cond).count())
  }

  test("partitionCol hint: update and merge preserve partition tags") {
    import spark.implicits._
    val base = freshBase()
    Versioned.commit(Seq(("a", 1L, 10.0), ("a", 2L, 20.0))
      .toDF("part", "id", "amt"), base, parts = Some(Set("a")))
    Versioned.commit(Seq(("b", 10L, 30.0)).toDF("part", "id", "amt"),
      base, SaveMode.Append, parts = Some(Set("b")))

    // update that does NOT assign the declared partition column: the
    // rewritten dir keeps the touched dirs' union tag, the disjoint dir
    // is carried verbatim
    val bDir = Versioned.entries(spark, base, 2)
      .find(_.parts.contains(Set("b"))).get.path
    val v3 = Versioned.updateWhere(spark, base, col("id") === 1L,
      Map("amt" -> lit(0.0)), partitionCol = Some("part"))
    val e3 = Versioned.entries(spark, base, v3)
    assert(e3.exists(e => e.path == bDir && e.parts.contains(Set("b"))))
    assert(e3.exists(_.parts.contains(Set("a"))),
      "the rewritten dir must keep its tag when part is not assigned")

    // merge that does not update the partition column: same preservation
    val v4 = Versioned.mergeInto(spark, base,
      Seq(("a", 2L, 99.0)).toDF("part", "id", "amt"),
      keys = Seq("id"), updateCols = Seq("amt"),
      partitionCol = Some("part"))
    assert(Versioned.entries(spark, base, v4)
      .exists(_.parts.contains(Set("a"))),
      "merge must keep the tag when partitionCol is not an updateCol")

    // update that DOES assign the partition column: tag dropped (safe)
    val v5 = Versioned.updateWhere(spark, base, col("id") === 2L,
      Map("part" -> lit("z")), partitionCol = Some("part"))
    val rewritten = Versioned.entries(spark, base, v5)
      .filterNot(e => e.path == bDir)
    assert(rewritten.forall(_.parts.isEmpty),
      "assigning the declared partition column must drop the tag")
    // contents exact throughout
    assert(Versioned.read(spark, base).select("part", "id", "amt")
      .as[(String, Long, Double)].collect().toSet ===
      Set(("a", 1L, 0.0), ("z", 2L, 99.0), ("b", 10L, 30.0)))

    // a CASE-MISMATCHED assignment still rewrites the partition column
    // (withColumn resolves case-insensitively), so the tag must DROP
    val before6 = Versioned.entries(spark, base, v5).map(_.path).toSet
    val v6 = Versioned.updateWhere(spark, base, col("id") === 10L,
      Map("PART" -> lit("y")), partitionCol = Some("part"))
    val rewritten6 = Versioned.entries(spark, base, v6)
      .filterNot(e => before6.contains(e.path))
    assert(rewritten6.nonEmpty && rewritten6.forall(_.parts.isEmpty),
      "a case-mismatched partition-column assignment must drop the tag")
    assert(Versioned.read(spark, base).filter(col("id") === 10L)
      .select("part").as[String].head() === "y")
  }

  test("shallow clone: zero-copy fork, independent evolution, inherited ledger") {
    import spark.implicits._
    val src = freshBase(); val dst = freshBase()
    val ord = Tables.orders(spark, "/root/testdata/sf0.001")
    Versioned.commit(ord.filter(col("o_orderkey") < 500), src)
    Versioned.appendOnce(
      ord.filter(col("o_orderkey") >= 500 && col("o_orderkey") < 900),
      src, "load-2")

    val v = Versioned.cloneTable(spark, src, dst)
    assert(v === 1L)
    // verbatim references, zero data copied under the clone
    assert(Versioned.entries(spark, dst, 1) ===
      Versioned.entries(spark, src, 2))
    val dstData = new java.io.File(dst).listFiles()
    assert(dstData.forall(f => !f.getName.startsWith("data-")),
      "a shallow clone must not copy any data directory")
    assert(Versioned.read(spark, dst).count() ===
      Versioned.read(spark, src).count())

    // inherited ledger: a batch already folded into the source no-ops
    assert(Versioned.appendOnce(ord.limit(5), dst, "load-2").isEmpty,
      "the clone must remember the source's applied batches")

    // independent evolution: DML on the clone leaves the source intact
    val srcCount = Versioned.read(spark, src).count()
    Versioned.deleteWhere(spark, dst, col("o_orderkey") < 100)
    assert(Versioned.read(spark, src).count() === srcCount)
    assert(Versioned.read(spark, dst).count() ===
      srcCount - ord.filter(col("o_orderkey") < 100).count())

    // vacuum on the CLONE cannot reap shared source data
    Versioned.vacuum(spark, dst, keepVersions = 1, minAgeMs = 0L)
    assert(Versioned.read(spark, src).count() === srcCount,
      "clone vacuum must never delete source-owned directories")
    assert(Versioned.read(spark, dst).count() ===
      srcCount - ord.filter(col("o_orderkey") < 100).count())

    // time-travel clone of an older version; target-in-use rejected
    val dst2 = freshBase()
    Versioned.cloneTable(spark, src, dst2, v = Some(1L))
    assert(Versioned.read(spark, dst2).count() ===
      ord.filter(col("o_orderkey") < 500).count())
    assertThrows[IllegalStateException](
      Versioned.cloneTable(spark, src, dst2))
  }

  test("bloom sidecars: point-lookup pruning is row-identical and survives DML") {
    import spark.implicits._
    val base = freshBase()
    val ord = Tables.orders(spark, "/root/testdata/sf0.001")
    // per-file filters sized to the tiny test files, scoped (no leak)
    Versioned.withBloomSizing(spark, 1L << 14, 1L << 17) {
      // range-clustered files so single-key probes confine to few files
      Versioned.commit(ord.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"), base,
        bloomCols = Seq("o_orderkey"))
    }

    val mm = ord.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
    val probes = Seq(mm.getLong(0), mm.getLong(1))
    val probed = col("o_orderkey").isin(probes: _*)
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.filter(probed).select("o_orderkey").as[Long].collect().toSeq.sorted
    val pruned = Versioned.readWhere(spark, base, probed)
    val full = Versioned.read(spark, base)
    assert(pruned.inputFiles.length * 2 <= full.inputFiles.length,
      s"${pruned.inputFiles.length} of ${full.inputFiles.length} planned")
    assert(rowsOf(pruned) === rowsOf(full))

    // probe-literal type width must not break soundness (Int vs Long
    // hash differently raw; the canonical string cast makes them agree)
    val narrow = Versioned.readWhere(spark, base,
      col("o_orderkey") === probes.head.toInt)
    assert(narrow.count() === 1L)
    assert(narrow.inputFiles.length < full.inputFiles.length)

    // DML keeps the bloom layer: the rewritten dir carries a rebuilt
    // sidecar, and the deleted key is gone from the pruned read
    val v = Versioned.deleteWhere(spark, base,
      col("o_orderkey") === probes.head)
    val newDirs = Versioned.manifestFiles(spark, base, v)
      .filterNot(Versioned.manifestFiles(spark, base, 1).toSet)
    assert(newDirs.nonEmpty)
    assert(newDirs.forall(d => new java.io.File(
      d.stripPrefix("file:"), "_graft_bloom").exists()),
      "DML must not shed the bloom skipping layer")
    assert(rowsOf(Versioned.readWhere(spark, base, probed))
      === Seq(probes.last))

    // fail open: an appended commit WITHOUT bloomCols is read in full
    Versioned.commit(ord.limit(50), base, SaveMode.Append)
    assert(rowsOf(Versioned.readWhere(spark, base, probed)) ===
      rowsOf(Versioned.read(spark, base)))
  }

  test("CHECK constraints: protocol-carried, enforced at the staging door") {
    import spark.implicits._
    import graft.sources.ConstraintViolation
    val base = freshBase()
    Versioned.commit(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amt"), base)

    // adding a constraint existing rows violate is rejected
    assertThrows[ConstraintViolation](
      Versioned.addConstraint(spark, base, "amt_neg", "amt < 0"))
    Versioned.addConstraint(spark, base, "amt_pos", "amt >= 0")
    Versioned.addConstraint(spark, base, "id_set", "id IS NOT NULL")
    assert(Versioned.constraints(spark, base).keySet ===
      Set("amt_pos", "id_set"))

    // a violating append is rejected WHOLE: nothing published
    val headBefore = Versioned.versions(spark, base).last
    assertThrows[ConstraintViolation](Versioned.commit(
      Seq((3L, 5.0), (4L, -1.0)).toDF("id", "amt"), base, SaveMode.Append))
    assert(Versioned.versions(spark, base).last === headBefore)
    assert(Versioned.read(spark, base).count() === 2)

    // a valid append passes; the set is carried by every commit
    Versioned.commit(Seq((3L, 5.0)).toDF("id", "amt"), base, SaveMode.Append)
    assert(Versioned.constraints(spark, base).keySet ===
      Set("amt_pos", "id_set"))

    // schema evolution: omitting a NOT-NULL-constrained column is a
    // violation (snapshot reads would materialize null for it)…
    assertThrows[ConstraintViolation](Versioned.commit(
      Seq(Tuple1(9.0)).toDF("amt"), base, SaveMode.Append))
    // …while under a plain CHECK the null row passes (SQL UNKNOWN)
    Versioned.dropConstraint(spark, base, "id_set")
    Versioned.commit(Seq(Tuple1(9.0)).toDF("amt"), base, SaveMode.Append)

    // DML rewrites cannot smuggle a violation in
    assertThrows[ConstraintViolation](Versioned.updateWhere(spark, base,
      col("id") === 3L, Map("amt" -> lit(-5.0))))
    // a deletion-vector stage is row identities, not rows — not gated
    Versioned.deleteWhereMor(spark, base, col("id") === 2L)
    assert(Versioned.read(spark, base).filter(col("id") === 2L).count() === 0)

    // a shallow clone inherits the gate (as-of the cloned version)
    val dst = freshBase()
    Versioned.cloneTable(spark, base, dst)
    assert(Versioned.constraints(spark, dst).keySet === Set("amt_pos"))
    assertThrows[ConstraintViolation](Versioned.commit(
      Seq((7L, -1.0)).toDF("id", "amt"), dst, SaveMode.Append))

    // declare-before-load: a constraint on an uninitialized table gates
    // the very first write
    val fresh = freshBase()
    Versioned.addConstraint(spark, fresh, "amt_pos", "amt >= 0")
    assertThrows[ConstraintViolation](Versioned.commit(
      Seq((1L, -2.0)).toDF("id", "amt"), fresh))
    Versioned.commit(Seq((1L, 2.0)).toDF("id", "amt"), fresh)
    assert(Versioned.read(spark, fresh).count() === 1)
    // malformed expressions fail at declaration, not first write
    assertThrows[Exception](
      Versioned.addConstraint(spark, fresh, "broken", "amt >=== 0"))

    // a NON-BOOLEAN constraint on an empty table parses but cannot be
    // type-checked there — the first write must surface it as a
    // ConstraintViolation pointing at the fix, not a bare analysis error
    val fresh2 = freshBase()
    Versioned.addConstraint(spark, fresh2, "oops", "amt")
    val e = intercept[ConstraintViolation](Versioned.commit(
      Seq((1L, 2.0)).toDF("id", "amt"), fresh2))
    assert(e.getMessage.contains("dropConstraint"))
    Versioned.dropConstraint(spark, fresh2, "oops")
    Versioned.commit(Seq((1L, 2.0)).toDF("id", "amt"), fresh2)
    assert(Versioned.read(spark, fresh2).count() === 1)
  }

  test("optimizeZOrder: one clustered commit, vectors materialized, prunable") {
    val base = freshBase()
    val ord = Tables.orders(spark, "/root/testdata/sf0.001")
    Versioned.withBloomSizing(spark, 1L << 13, 1L << 16) {
      Versioned.commit(ord.filter(pmod(col("o_orderkey"), lit(2)) === 0),
        base, bloomCols = Seq("o_orderkey"))
      Versioned.commit(ord.filter(pmod(col("o_orderkey"), lit(2)) === 1),
        base, SaveMode.Append, bloomCols = Seq("o_orderkey"))
    }
    Versioned.deleteWhereMor(spark, base,
      pmod(col("o_orderkey"), lit(13)) === 0)
    val expect = Versioned.read(spark, base).count()

    val v = Versioned.optimizeZOrder(spark, base,
      Seq("o_orderkey", "o_custkey"), files = 8)
    val ents = Versioned.entries(spark, base, v)
    assert(ents.size === 1 && !ents.head.tombstone,
      "optimize folds everything and materializes the deletion vectors")
    assert(Versioned.read(spark, base).count() === expect)
    // the folded dirs' bloom layer is INHERITED, not shed — the op
    // whose purpose is read acceleration must keep the skipping layers
    assert(new java.io.File(
      ents.head.path.stripPrefix("file:"), "_graft_bloom").exists(),
      "optimize must inherit the folded dirs' bloom sidecars")

    // the rewrite carries a zone map: a range read prunes files
    val maxOk = ord.agg(max(col("o_orderkey"))).head().getLong(0).toDouble
    val low = col("o_orderkey") <= maxOk / 8
    val pruned = Versioned.readWhere(spark, base, low)
    assert(pruned.inputFiles.length * 2 <=
      Versioned.read(spark, base).inputFiles.length)
    assert(pruned.count() === Versioned.read(spark, base).filter(low).count())
  }

  // the two registered pruning entries read through readWhere; this
  // pins the files they plan at sf0.001 — the list the raw range and
  // bloom-probe faces planned before readWhere replaced them — as
  // (manifest entry index / part file) pairs, so the PRUNING is shown
  // unchanged, not just the rows
  test("registered pruning entries plan the pinned surviving files") {
    import org.apache.hadoop.fs.Path
    def planned(name: String): (Seq[String], Int) = {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      val files = df.inputFiles.toSeq.map(new Path(_))
      val base = files.head.getParent.getParent.toString
      val dirs = Versioned.entries(spark, base,
        Versioned.versions(spark, base).last).map(e => new Path(e.path).getName)
      (files.map(f => s"${dirs.indexOf(f.getParent.getName)}/" +
          f.getName.take("part-00000".length)).sorted,
        Versioned.read(spark, base).inputFiles.length)
    }
    assert(planned("x_versioned_pruned") ===
      ((Seq("0/part-00000", "1/part-00000", "1/part-00001"), 16)))
    assert(planned("x_versioned_bloomprune") ===
      ((Seq("0/part-00000", "1/part-00007"), 16)))
  }

  test("bloom probes canonicalize through the recorded column type") {
    import spark.implicits._
    val base = freshBase()
    Versioned.withBloomSizing(spark, 1L << 10, 1L << 14) {
      Versioned.commit(
        Seq((1L, 100.0, "a"), (2L, 250.5, "b")).toDF("id", "price", "tag")
          .repartition(2), base, bloomCols = Seq("id", "price"))
    }
    // an Int probe against the DOUBLE column must hash the way the
    // column renders ("100.0"), or the file holding the match is
    // silently pruned — the forbidden false negative
    val price = Versioned.readWhere(spark, base, col("price") === 100)
    assert(price.count() === 1L && price.inputFiles.length === 1)
    // an uncastable probe can match no row: everything prunes, no error
    // (the bloom layer alone — under ANSI the predicate itself would
    // fail to cast if any file were left to evaluate it on)
    val uncastable = graft.sources.PredicateRanges.probes(
      graft.sources.PredicateRanges.tree(col("id") === "abc")).get
    assert(graft.sources.Layout.pruneFilesBloom(spark,
      Versioned.entries(spark, base, 1L).head.path, uncastable).isEmpty)
    // session-zone-dependent types are rejected at build time
    assertThrows[IllegalArgumentException](
      Versioned.withBloomSizing(spark, 1L << 10, 1L << 14) {
        Versioned.commit(
          Seq((1L, new java.sql.Timestamp(0))).toDF("id", "ts"),
          freshBase(), bloomCols = Seq("ts"))
      })
    // and the sizing scope was cleared when the body threw
    assert(Versioned.bloomSizing.get.isEmpty)
  }

  test("bloom sizing is scoped to its thread: a concurrent commit auto-sizes") {
    val base = freshBase()
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    // thread A holds a 1024-item sizing scope open across the whole commit
    // below; a session-global sizing would leak into that commit
    val a = new Thread(() =>
      Versioned.withBloomSizing(spark, 1L << 10, 1L << 14) {
        entered.countDown()
        release.await()
      })
    a.start()
    try {
      assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS))
      Versioned.commit(
        spark.range(0, 300).toDF("id").withColumn("k", col("id") * 7L)
          .repartitionByRange(2, col("id")),
        base, bloomCols = Seq("k"))
      val items = graft.sources.Layout.readSidecar(spark,
        Versioned.entries(spark, base, 1L).head.path, "_graft_bloom")
        .select("bloom_items").head().getLong(0)
      // auto-size = the largest file's row count (~150 of 300 rows)
      assert(items >= 100L && items <= 300L,
        s"the unscoped commit must auto-size, got $items items")
    } finally {
      release.countDown()
      a.join()
    }
  }

  test("describe: one-row snapshot detail reflects layers and governance") {
    import spark.implicits._
    val base = freshBase()
    Versioned.withBloomSizing(spark, 1L << 12, 1L << 15) {
      Versioned.commit(Seq((1L, 2.0), (3L, 4.0)).toDF("id", "amt"), base,
        statsCols = Seq("id"), bloomCols = Seq("id"),
        parts = Some(Set("p1")))
    }
    Versioned.commit(Seq((5L, 6.0)).toDF("id", "amt"), base,
      SaveMode.Append)
    Versioned.deleteWhereMor(spark, base, col("id") === 3L)
    Versioned.addConstraint(spark, base, "amt_pos", "amt >= 0")
    Versioned.setSchemaPolicy(spark, base, "strict")

    val d = Versioned.describe(spark, base).head()
    assert(d.getAs[Int]("data_dirs") === 2)
    assert(d.getAs[Int]("tombstone_dirs") === 1)
    assert(d.getAs[Long]("bytes") > 0L)
    assert(d.getAs[Int]("tagged_dirs") === 1)
    assert(d.getAs[Int]("zone_mapped_dirs") === 1)
    assert(d.getAs[Int]("bloom_indexed_dirs") === 1)
    assert(d.getAs[Int]("constraints") === 1)
    assert(d.getAs[String]("schema_policy") === "strict")
    assert(d.getAs[Int]("retained_versions") ===
      Versioned.versions(spark, base).size)
    assert(d.getAs[Long]("version") === Versioned.versions(spark, base).last)
  }

  test("readWhere: predicate-driven index selection, fail-open, contradiction") {
    import spark.implicits._
    import graft.sources.Layout
    val base = freshBase()
    val ord = Tables.orders(spark, "/root/testdata/sf0.001")
    val z = Seq("o_orderkey", "o_custkey")
    Versioned.withBloomSizing(spark, 1L << 13, 1L << 16) {
      Versioned.commit(Layout.zOrderFrame(ord, z, files = 8), base,
        statsCols = z, bloomCols = Seq("o_custkey"))
    }
    val ck = ord.agg(max(col("o_custkey"))).head().getLong(0)
    val hiOk = ord.agg(max(col("o_orderkey"))).head().getLong(0) / 2.0
    val cond = col("o_custkey") === ck && col("o_orderkey") <= hiOk

    val got = Versioned.readWhere(spark, base, cond)
    val want = Versioned.read(spark, base).filter(cond)
    assert(got.select("o_orderkey").as[Long].collect().sorted.toSeq ===
      want.select("o_orderkey").as[Long].collect().sorted.toSeq)
    // both layers contributed: fewer files than either the full scan
    assert(got.inputFiles.length * 2 <=
      Versioned.read(spark, base).inputFiles.length,
      s"${got.inputFiles.length} files planned")

    // contradictory equality conjunction short-circuits to empty
    assert(Versioned.readWhere(spark, base,
      col("o_custkey") === 1L && col("o_custkey") === 2L).count() === 0L)

    // a MIXED-TYPE conjunction is NOT a contradiction: Scala's 1 != "1"
    // is not SQL's 1 = '1' (which coerces and matches) — readWhere must
    // stay row-identical to the plain filtered scan, never empty
    val mixed = col("o_custkey") === ck && col("o_custkey") === ck.toString
    assert(Versioned.readWhere(spark, base, mixed).count() ===
      Versioned.read(spark, base).filter(mixed).count())
    assert(Versioned.read(spark, base).filter(mixed).count() > 0,
      "fixture sanity: SQL coercion must make the mixed conjunct match")

    // fail open: an OR predicate extracts nothing and still answers
    val orCond = col("o_custkey") === ck || col("o_orderkey") <= 10L
    assert(Versioned.readWhere(spark, base, orCond).count() ===
      Versioned.read(spark, base).filter(orCond).count())

    // probes on a STRING column route through the bloom too
    val prio = "1-URGENT"
    val pBase = freshBase()
    Versioned.withBloomSizing(spark, 1L << 13, 1L << 16) {
      Versioned.commit(ord.repartition(4), pBase,
        bloomCols = Seq("o_orderpriority"))
    }
    assert(Versioned.readWhere(spark, pBase,
        col("o_orderpriority") === prio).count() ===
      ord.filter(col("o_orderpriority") === prio).count())
  }

  test("strict schema policy: unknown columns and type changes reject whole") {
    import spark.implicits._
    import graft.sources.SchemaPolicyViolation
    val base = freshBase()
    Versioned.commit(Seq((1L, 10.0)).toDF("id", "amt"), base)
    assert(Versioned.schemaPolicy(spark, base) === "evolve")
    Versioned.setSchemaPolicy(spark, base, "strict")

    // unknown column rejected whole; nothing published
    val head = Versioned.versions(spark, base).last
    assertThrows[SchemaPolicyViolation](Versioned.commit(
      Seq((2L, 5.0, "x")).toDF("id", "amt", "extra"), base, SaveMode.Append))
    // type change rejected
    assertThrows[SchemaPolicyViolation](Versioned.commit(
      Seq((2L, 5)).toDF("id", "amt"), base, SaveMode.Append))
    assert(Versioned.versions(spark, base).last === head)

    // same-schema and column-omitting batches pass; policy carries
    Versioned.commit(Seq((2L, 5.0)).toDF("id", "amt"), base, SaveMode.Append)
    Versioned.commit(Seq(Tuple1(3L)).toDF("id"), base, SaveMode.Append)

    // nested-nullability narrowing is NOT a type change: an
    // array<string> batch must not be rejected because its containsNull
    // is narrower than the snapshot's
    val nb = freshBase()
    Versioned.commit(Seq((1L, Seq(Option("x"), None)))
      .toDF("id", "tags"), nb) // containsNull = true
    Versioned.setSchemaPolicy(spark, nb, "strict")
    Versioned.commit(Seq((2L, Seq("a", "b"))).toDF("id", "tags"),
      nb, SaveMode.Append) // containsNull = false — compatible
    assert(Versioned.read(spark, nb).count() === 2)
    assert(Versioned.schemaPolicy(spark, base) === "strict")
    assert(Versioned.read(spark, base).count() === 3)

    // a deliberate evolve re-opens evolution
    Versioned.setSchemaPolicy(spark, base, "evolve")
    Versioned.commit(Seq((4L, 1.0, "y")).toDF("id", "amt", "extra"),
      base, SaveMode.Append)
    assert(Versioned.read(spark, base).columns.toSet ===
      Set("id", "amt", "extra"))

    // declare-before-load: policy on an uninitialized table; the first
    // batch establishes the schema it is then strict against
    val fresh = freshBase()
    Versioned.setSchemaPolicy(spark, fresh, "strict")
    Versioned.commit(Seq((1L, "a")).toDF("id", "tag"), fresh)
    assertThrows[SchemaPolicyViolation](Versioned.commit(
      Seq((2L, "b", 0.5)).toDF("id", "tag", "w"), fresh, SaveMode.Append))

    // a clone forks the policy with the table
    val dst = freshBase()
    Versioned.cloneTable(spark, fresh, dst)
    assert(Versioned.schemaPolicy(spark, dst) === "strict")
  }

  test("syncRollup with subKeys: multi-key groups maintain exactly") {
    import spark.implicits._
    val I = graft.sources.Incremental
    val src = freshBase(); val roll = freshBase()
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    def prep(df: org.apache.spark.sql.DataFrame) = df.select(
      date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"),
      lit(1L).as("cnt"), Tables.cents(col("value")).as("val_cents"))
    def sync(): Long = I.syncRollup(spark, src, roll, "mv", prep,
      "day", Seq("event_type"), Seq("cnt", "val_cents"), "cnt")

    Versioned.commit(ev.filter(pmod(col("user_id"), lit(2)) === 0), src)
    sync()
    Versioned.commit(ev.filter(pmod(col("user_id"), lit(2)) === 1),
      src, SaveMode.Append)
    Versioned.deleteWhere(spark, src, col("event_type") === "click")
    sync()

    val got = Versioned.read(spark, roll)
      .select("day", "event_type", "cnt", "val_cents")
      .as[(String, String, Long, Long)].collect().toSet
    val want = prep(Versioned.read(spark, src))
      .groupBy("day", "event_type")
      .agg(sum("cnt").as("cnt"), sum("val_cents").as("val_cents"))
      .as[(String, String, Long, Long)].collect().toSet
    assert(got === want)
    assert(!got.exists(_._2 == "click"),
      "the deleted event type's groups must have vanished")
  }

  // ---- change-feed-driven rollup sync (incremental materialized view) --

  private def syncPrep(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.select(col("o_orderpriority"), lit(1L).as("cnt"),
      Tables.cents(col("o_totalprice")).as("total_cents"))

  private def syncOnce(srcBase: String, rollBase: String): Long =
    graft.sources.Incremental.syncRollup(spark, srcBase, rollBase,
      consumerName = "mv", prepare = syncPrep,
      partitionKey = "o_orderpriority", subKeys = Seq.empty,
      measures = Seq("cnt", "total_cents"), countMeasure = "cnt")

  private def rollupOf(df: org.apache.spark.sql.DataFrame)
      : Seq[(String, Long, Long)] =
    syncPrep(df).groupBy("o_orderpriority")
      .agg(sum("cnt").as("cnt"), sum("total_cents").as("total_cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)

  private def readRollup(base: String): Seq[(String, Long, Long)] =
    Versioned.read(spark, base)
      .select("o_orderpriority", "cnt", "total_cents")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)

  test("syncRollup: bootstrap, DML catch-up, group vanishing, replay no-op") {
    val I = graft.sources.Incremental
    val src = freshBase(); val roll = freshBase()
    val ord = Tables.orders(spark, "/root/testdata/sf0.001")

    Versioned.commit(ord, src) // v1
    syncOnce(src, roll) // bootstrap = full load of v1
    assert(readRollup(roll) === rollupOf(ord))
    assert(I.syncedSourceVersion(spark, roll, "mv") === Some(1L))

    // DML between syncs: a COW delete, a pure-measure update (count nets
    // to zero in the delta while the cents delta is real — the partials
    // must NOT drop it), a whole-group delete (the group must VANISH),
    // and an append
    Versioned.deleteWhere(spark, src, pmod(col("o_orderkey"), lit(7)) === 0)
    Versioned.updateWhere(spark, src, col("o_orderpriority") === "1-URGENT",
      Map("o_totalprice" -> lit(0.0)))
    Versioned.deleteWhere(spark, src, col("o_orderpriority") === "5-LOW")
    Versioned.commit(
      ord.filter(pmod(col("o_orderkey"), lit(11)) === 5
        && col("o_orderpriority") =!= "5-LOW"),
      src, SaveMode.Append) // v5
    syncOnce(src, roll) // incremental: folds the v1→v5 net change feed

    val expect = rollupOf(Versioned.read(spark, src))
    assert(readRollup(roll) === expect)
    assert(!readRollup(roll).exists(_._1 == "5-LOW"),
      "a group whose count netted to zero must vanish from the rollup")
    // fixture sanity for the pure-measure update: surviving pre-append
    // urgent rows were zero-priced, so the group's cents must equal the
    // APPENDED urgent rows' cents alone — proving the count-neutral
    // update delta was folded, not dropped
    val appendedUrgentCents = syncPrep(
      ord.filter(pmod(col("o_orderkey"), lit(11)) === 5
        && col("o_orderpriority") === "1-URGENT"))
      .agg(sum("total_cents")).head().getLong(0)
    assert(expect.exists { case (p, _, c) =>
      p == "1-URGENT" && c == appendedUrgentCents },
      "the urgent group's cents must be the appended rows' cents only")
    assert(I.syncedSourceVersion(spark, roll, "mv") === Some(5L))

    // replayed sync (same source head): no new rollup version
    val before = Versioned.versions(spark, roll)
    syncOnce(src, roll)
    assert(Versioned.versions(spark, roll) === before,
      "a sync at an already-synced head must be a pure no-op")
  }

  test("syncRollup: an empty change window still advances the offset") {
    val I = graft.sources.Incremental
    val src = freshBase(); val roll = freshBase()
    val ord = Tables.orders(spark, "/root/testdata/sf0.001")
    Versioned.commit(ord, src) // v1
    syncOnce(src, roll)
    // a rollback to the CURRENT head publishes v2 with an identical entry
    // list — a commit whose net change feed is empty
    Versioned.rollbackTo(spark, src, 1L)
    syncOnce(src, roll)
    assert(I.syncedSourceVersion(spark, roll, "mv") === Some(2L),
      "an empty delta must advance the offset (metadata-only commit)")
    assert(readRollup(roll) === rollupOf(ord))
    // and the offset commit carried the data forward untouched
    syncOnce(src, roll) // no-op again
    assert(I.syncedSourceVersion(spark, roll, "mv") === Some(2L))
  }

  test("syncRollup: a vacuumed catch-up window falls back to a full rebuild") {
    val src = freshBase(); val roll = freshBase()
    val ord = Tables.orders(spark, "/root/testdata/sf0.001")
    Versioned.commit(ord.filter(col("o_orderkey") < 1000), src) // v1
    syncOnce(src, roll)
    Versioned.commit(ord, src) // v2 (overwrite: the full table)
    Versioned.deleteWhere(spark, src, pmod(col("o_orderkey"), lit(3)) === 0)
    Versioned.vacuum(spark, src, keepVersions = 1, minAgeMs = 0L)
    assert(Versioned.versions(spark, src) === Seq(3L),
      "fixture sanity: the sync offset's version must be gone")
    syncOnce(src, roll) // v1 is vacuumed — must rebuild, not fail
    assert(readRollup(roll) === rollupOf(Versioned.read(spark, src)))
    assert(graft.sources.Incremental
      .syncedSourceVersion(spark, roll, "mv") === Some(3L))
  }

  test("upsertRollup: a binary partition key merges content-stably across batches") {
    import spark.implicits._
    import graft.sources.Incremental
    // Array[Byte].toString is identity-based — a tag derived from it
    // would differ per batch, so the same group would never merge and
    // the rollup would accrete one row per batch. Hex tags are
    // content-stable; three batches over one binary key must land ONE
    // row with the summed measure.
    val base = freshBase()
    def batch(n: Long) =
      Seq((Array[Byte](1, 2, 3), "g", n)).toDF("k", "sub", "cnt")
    for (i <- 1L to 3L)
      Incremental.upsertRollup(spark, base, batch(i), s"b$i",
        partitionKey = "k", subKeys = Seq("sub"), measures = Seq("cnt"))
    val rows = Versioned.read(spark, base)
      .select(hex(col("k")).as("k"), col("sub"), col("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq === Seq(("010203", "g", 6L)),
      s"one merged row expected, got ${rows.toSeq}")
  }

  // a stored group whose tag equals a touched group's tag while its value
  // differs sits only in the untouched remainder: the remainder must be
  // re-staged, not skipped as empty
  test("upsertRollup: distinct keys sharing a partition tag both survive") {
    import spark.implicits._
    import graft.sources.Incremental
    def check(batches: Seq[org.apache.spark.sql.DataFrame]): Unit = {
      val base = freshBase()
      batches.zipWithIndex.foreach { case (b, i) =>
        Incremental.upsertRollup(spark, base, b, s"b$i",
          partitionKey = "k", subKeys = Seq("sub"), measures = Seq("cnt"))
      }
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("k", "sub").agg(sum("cnt").as("cnt"))
          .select(to_json(struct(col("k"))), col("sub"), col("cnt"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          .toSeq.sortBy(_._1)
      assert(rows(Versioned.read(spark, base)) === rows(batches.reduce(_ unionByName _)))
    }
    // both struct keys print [a,b,c]
    check(Seq(
      Seq((("a,b", "c"), "g", 1L)).toDF("k", "sub", "cnt"),
      Seq((("a", "b,c"), "g", 2L)).toDF("k", "sub", "cnt")))
    // a string that spells the null sentinel shares null's tag
    check(Seq(
      Seq((Option("\u0000null"), "g", 1L)).toDF("k", "sub", "cnt"),
      Seq((Option.empty[String], "g", 2L)).toDF("k", "sub", "cnt")))
  }

  test("vacuumDryRun plans exactly what vacuum then deletes, touching nothing") {
    import spark.implicits._
    val base = freshBase()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), base)       // v1
    Versioned.commit(Seq((2L, "b")).toDF("id", "s"), base)       // v2
    Versioned.commit(Seq((3L, "c")).toDF("id", "s"), base)       // v3
    val plan = Versioned.vacuumDryRun(spark, base,
      keepVersions = 1, minAgeMs = 0L)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(plan.count(_._1 == "drop_version") === 2,
      s"v1 and v2 must be planned for drop, got ${plan.toSeq}")
    assert(plan.count(_._1 == "reap_dir") === 2,
      "the two unreferenced overwrite dirs must be planned for reaping")
    // dry run touched nothing: all versions still readable
    assert(Versioned.versions(spark, base) === Seq(1L, 2L, 3L))
    assert(Versioned.readVersion(spark, base, 1L).count() === 1L)
    // the real vacuum executes exactly the plan
    Versioned.vacuum(spark, base, keepVersions = 1, minAgeMs = 0L)
    assert(Versioned.versions(spark, base) === Seq(3L))
    val stillThere = plan.filter(_._1 == "reap_dir").map(_._2)
      .filter(d => java.nio.file.Files.exists(
        java.nio.file.Paths.get(new java.net.URI(d).getPath)))
    assert(stillThere.isEmpty, s"planned dirs must be reaped: $stillThere")
    // and a lease floors the DRY RUN the same way it floors vacuum
    Versioned.commit(Seq((4L, "d")).toDF("id", "s"), base)       // v4
    val lease = Versioned.pinSnapshot(spark, base, Some(3L))
    try {
      val floored = Versioned.vacuumDryRun(spark, base,
        keepVersions = 1, minAgeMs = 0L).collect()
      assert(!floored.exists(_.getString(1) == "v3"),
        "a pinned version must not appear in the plan")
    } finally lease.close()
  }

  test("vacuumDryRun is a pure read: expired lease files survive it, vacuum GCs them") {
    import spark.implicits._
    val base = freshBase()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), base)
    // a crashed reader's remnant: a lease file aged past the TTL
    val leaseDir = java.nio.file.Paths.get(base, "_graft_leases")
    java.nio.file.Files.createDirectories(leaseDir)
    val stale = leaseDir.resolve("lease-00000000-dead-beef-0000-000000000000#v=1")
    java.nio.file.Files.writeString(stale, "")
    java.nio.file.Files.setLastModifiedTime(stale,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 48L * 3600 * 1000))
    Versioned.vacuumDryRun(spark, base, keepVersions = 1, minAgeMs = 0L)
      .collect()
    assert(java.nio.file.Files.exists(stale),
      "the dry run must not GC lease files — operators script it as a pure read")
    Versioned.vacuum(spark, base, keepVersions = 1, minAgeMs = 0L)
    assert(!java.nio.file.Files.exists(stale),
      "the real vacuum owns expired-lease GC")
  }

  test("incremental bootstrap with an all-empty first batch publishes a TYPED v1") {
    import spark.implicits._
    import graft.sources.Incremental
    val base = freshBase()
    def up(rows: Seq[(String, String, Long)], id: String): Long =
      Incremental.upsertRollup(spark, base,
        rows.toDF("day", "kind", "cnt"), id, "day", Seq("kind"), Seq("cnt"))
    up(Seq.empty, "b0")
    val snap = Versioned.read(spark, base)
    // a zero-entry v1 would hand readers a column-less frame — every
    // downstream column reference would throw until the first real batch
    assert(snap.columns.toSet === Set("day", "kind", "cnt"),
      s"empty bootstrap must still carry the rollup schema, got ${snap.columns.toSeq}")
    assert(snap.count() === 0L)
    // and the first real batch merges through the normal path
    up(Seq(("d1", "a", 2L)), "b1")
    assert(Versioned.read(spark, base).as[(String, String, Long)]
      .collect().toSet === Set(("d1", "a", 2L)))
  }

  test("change feed re-expands a multiplicity past the chunk boundary exactly") {
    import spark.implicits._
    // the netting re-expansion is chunked at 8192 elements per explode;
    // a |net| of 8193 must cross the boundary and still be multiset-
    // exact (8192 + 1, not 8192, not 2x8192)
    val base = freshBase()
    val dup = Seq.fill(8193)((1L, "x")) :+ ((2L, "y"))
    Versioned.commit(dup.toDF("id", "s"), base)                  // v1
    Versioned.deleteWhere(spark, base, col("id") === 1L)         // v2 (COW)
    val feed = Versioned.changes(spark, base, 1L, 2L)
    assert(feed.count() === 8193L,
      "every deleted copy surfaces exactly once across chunk boundaries")
    assert(feed.filter(col("_change") =!= "delete").count() === 0L)
    assert(feed.select("id").distinct().as[Long].collect() === Array(1L),
      "the carried-over survivor must cancel, only the deleted row nets")
  }

  test("change feed fails loudly on a data column named _change") {
    import spark.implicits._
    val base = freshBase()
    // a user column of the feed's marker name would be silently
    // REPLACED in the output — the contract is a loud error instead
    Versioned.commit(Seq((1L, "x")).toDF("id", "_change"), base)
    Versioned.commit(Seq((2L, "y")).toDF("id", "_change"), base,
      SaveMode.Append)
    val ex = intercept[IllegalArgumentException] {
      Versioned.changes(spark, base, 1L, 2L)
    }
    assert(ex.getMessage.contains("_change"))
    // and a collision-free table still feeds normally
    val base2 = freshBase()
    Versioned.commit(Seq((1L, "x")).toDF("id", "s"), base2)
    Versioned.commit(Seq((2L, "y")).toDF("id", "s"), base2,
      SaveMode.Append)
    assert(Versioned.changes(spark, base2, 1L, 2L).count() === 1L)
  }

  test("rollbackTo(validate = true) re-validates against the head's constraints") {
    import spark.implicits._
    val base = freshBase()
    Versioned.commit(Seq((1L, 500.0)).toDF("id", "amt"), base)     // v1
    Versioned.deleteWhere(spark, base, col("amt") > 100.0)         // v2
    Versioned.addConstraint(spark, base, "amt_cap", "amt <= 100.0") // v3
    // verbatim default: restore-what-was-committed always works
    Versioned.rollbackTo(spark, base, 1L)                          // v4
    assert(Versioned.read(spark, base).count() === 1L)
    Versioned.deleteWhere(spark, base, col("amt") > 100.0)         // v5
    // opt-in validation: restoring v1 violates the carried constraint
    val ex = intercept[graft.sources.ConstraintViolation] {
      Versioned.rollbackTo(spark, base, 1L, validate = true)
    }
    assert(ex.getMessage.contains("amt_cap"))
    assert(Versioned.versions(spark, base).last === 5L,
      "a validated rollback that fails must commit nothing")
    // a clean target passes the validated path
    Versioned.rollbackTo(spark, base, 5L, validate = true)
  }

  test("cloneTable(validate = true) checks the clone against the source head's gates") {
    import spark.implicits._
    val src = freshBase()
    Versioned.commit(Seq((1L, 500.0)).toDF("id", "amt"), src)       // v1
    Versioned.deleteWhere(spark, src, col("amt") > 100.0)           // v2
    Versioned.addConstraint(spark, src, "amt_cap", "amt <= 100.0")  // v3
    // verbatim default: pinning a pre-constraint version clones fine
    val dst1 = freshBase()
    Versioned.cloneTable(spark, src, dst1, v = Some(1L))
    assert(Versioned.read(spark, dst1).count() === 1L)
    // opt-in: the same pin fails against the source head's constraint
    val dst2 = freshBase()
    intercept[graft.sources.ConstraintViolation] {
      Versioned.cloneTable(spark, src, dst2, v = Some(1L),
        validate = true)
    }
    assert(Versioned.versions(spark, dst2).isEmpty,
      "a validated clone that fails must initialize nothing")
    // and the head itself validates clean
    val dst3 = freshBase()
    Versioned.cloneTable(spark, src, dst3, validate = true)
    assert(Versioned.read(spark, dst3).count() === 0L)
  }

  /** The parquet directories under `base` that `body` wrote, staged
    * dirs deleted again included. */
  private def dirsWrittenDuring(base: String)(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.datasources
      .InsertIntoHadoopFsRelationCommand
    val out = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.analyzed.foreach {
          case c: InsertIntoHadoopFsRelationCommand
              if c.outputPath.toUri.getPath.startsWith(base + "/") =>
            out.add(c.outputPath.getName)
          case _ => ()
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    org.apache.spark.TestBus.drain(sc)
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.TestBus.drain(sc)
    } finally spark.listenerManager.unregister(listener)
    out.toArray(Array.empty[String]).toSeq
  }

  /** An orders-shaped frame: 1,500 keys over five priorities. */
  private def ordersFixture(): org.apache.spark.sql.DataFrame =
    spark.range(1, 1501).select(col("id").as("o_orderkey"),
      concat(lit("p"), pmod(col("id") * 7, lit(5)).cast("string"))
        .as("o_orderpriority"),
      (pmod(col("id"), lit(997)) + 0.25).as("o_totalprice"))

  private def sortedRows(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): Seq[org.apache.spark.sql.Row] =
    df.select(cols.map(col): _*).orderBy(cols.map(col): _*).collect().toSeq

  // deletion-vector dirs always hold (file_path string, row_index long):
  // opening a snapshot reads them with that schema instead of launching a
  // parquet schema-inference job per open
  test("a snapshot with outstanding deletion vectors opens without a Spark job") {
    val base = freshBase()
    val ord = ordersFixture()
    Versioned.commit(ord, base)
    Versioned.deleteWhereMor(spark, base, pmod(col("o_orderkey"), lit(7)) === 0)
    Versioned.deleteWhereMor(spark, base, pmod(col("o_orderkey"), lit(5)) === 0)
    val head = Versioned.versions(spark, base).last
    assert(Versioned.entries(spark, base, head).count(_.tombstone) === 2,
      "fixture sanity: two outstanding deletion vectors")
    val (df, jobs) = jobsDuring(Versioned.read(spark, base))
    assert(jobs === 0, s"opening the snapshot launched $jobs job(s)")
    val keep = pmod(col("o_orderkey"), lit(7)) =!= 0 &&
      pmod(col("o_orderkey"), lit(5)) =!= 0
    assert(sortedRows(df, ord.columns.toSeq) ===
      sortedRows(ord.filter(keep), ord.columns.toSeq))
  }

  // a compaction rewrites every dir, so the window's two snapshots share
  // none and no deletion-vector delta can land in a common file: the
  // touched-file collect is skipped, and building the feed runs no job
  test("changes across a compactLatest window runs no touched-file collect") {
    val base = freshBase()
    val ord = ordersFixture()
    Versioned.commit(ord, base)
    Versioned.deleteWhereMor(spark, base, pmod(col("o_orderkey"), lit(7)) === 0)
    val v0 = Versioned.versions(spark, base).last
    Versioned.deleteWhereMor(spark, base, pmod(col("o_orderkey"), lit(5)) === 0)
    val toV = Versioned.compactLatest(spark, base, targetFiles = 2)
    val (feed, jobs) = jobsDuring(Versioned.changes(spark, base, v0, toV))
    assert(jobs === 0, s"building the change feed launched $jobs job(s)")
    val cols = ord.columns.toSeq
    assert(feed.filter(col("_change") === "insert").count() === 0L)
    assert(sortedRows(feed.filter(col("_change") === "delete"), cols) ===
      sortedRows(ord.filter(pmod(col("o_orderkey"), lit(5)) === 0 &&
        pmod(col("o_orderkey"), lit(7)) =!= 0), cols))
  }

  // the rollup's dir is tagged with every priority; a window touching
  // all five leaves no untouched remainder to re-stage, while a window
  // touching one still re-stages the other four
  test("syncRollup over a window touching every rollup partition stages no remainder") {
    val src = freshBase(); val roll = freshBase()
    val ord = ordersFixture()
    Versioned.commit(ord, src)
    syncOnce(src, roll) // bootstrap: one dir tagged with all five values
    val every = pmod(col("o_orderkey"), lit(3)) === 0
    assert(ord.filter(every).select("o_orderpriority").distinct().count()
      === ord.select("o_orderpriority").distinct().count(),
      "fixture sanity: the first window touches every priority")
    Versioned.deleteWhereMor(spark, src, every)
    val all = dirsWrittenDuring(roll)(syncOnce(src, roll))
    assert(all.size === 1, s"staged ${all.mkString(", ")}: merged state only")
    assert(readRollup(roll) === rollupOf(Versioned.read(spark, src)))

    Versioned.deleteWhereMor(spark, src,
      col("o_orderpriority") === "p1" &&
        pmod(col("o_orderkey"), lit(3)) === 1)
    val one = dirsWrittenDuring(roll)(syncOnce(src, roll))
    assert(one.size === 2, s"staged ${one.mkString(", ")}: merged + remainder")
    assert(readRollup(roll) === rollupOf(Versioned.read(spark, src)))
  }

  // a dir's size is its data files: the bloom sidecar under it (here a
  // deliberately oversized one) is not data, so it neither inflates
  // describe's bytes nor keeps a small dir from being folded
  test("dirs are sized by their data files: a bloom sidecar neither inflates describe nor blocks a fold") {
    import spark.implicits._
    val base = freshBase()
    Versioned.withBloomSizing(spark, 1L << 20, 1L << 24) {
      Versioned.commit(Seq((1L, 2.0), (3L, 4.0)).toDF("id", "amt"), base,
        bloomCols = Seq("id"))
    }
    val dir = Versioned.entries(spark, base, 1L).head.path
    val local = new java.io.File(new java.net.URI(dir))
    def parquetBytes(d: java.io.File): Long =
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val data = parquetBytes(local)
    val side = parquetBytes(new java.io.File(local, "_graft_bloom"))
    assert(data > 0L && side > 0L, s"fixture sanity: data $data, sidecar $side")
    assert(Versioned.describe(spark, base).head().getAs[Long]("bytes") === data)
    // between the data bytes and data + sidecar bytes: only a dir sized
    // by its data files alone falls under it
    val v = Versioned.compactLatest(spark, base, targetFiles = 1,
      onlyDirsUnderBytes = data + side / 2)
    assert(v === 2L, "the small dir must be folded into a new version")
    assert(!Versioned.entries(spark, base, v).exists(_.path == dir))
    assert(Versioned.read(spark, base).orderBy("id").as[(Long, Double)]
      .collect().toSeq === Seq((1L, 2.0), (3L, 4.0)))
  }

  // every sidecar is Spark-written, so its footer carries the row schema:
  // reading one launches no schema-inference job, and bloom auto-sizing
  // reads the staged footers on the driver instead of running a job
  test("sidecar reads and bloom auto-sizing launch no metadata job") {
    val base = freshBase()
    val df = spark.range(0, 2000, 1, 4)
      .select(col("id"), (col("id") % 7).as("k"))
    val (_, commitJobs) = jobsDuring(Versioned.commit(df, base,
      statsCols = Seq("id"), bloomCols = Seq("id")))
    val dir = Versioned.entries(spark, base, 1L).head.path
    val (zm, zoneJobs) =
      jobsDuring(graft.sources.Layout.loadZoneMap(spark, dir))
    val (hit, readJobs) =
      jobsDuring(Versioned.readWhere(spark, base, col("id") === 1234L))
    info(s"jobs: commit $commitJobs, loadZoneMap $zoneJobs, readWhere $readJobs")
    assert(zm.exists(_.columns == Set("id")))
    assert(hit.collect().map(_.getLong(0)).toSeq === Seq(1234L))
    assert(hit.inputFiles.length === 1, "both layers prune to one file")
    // the sidecar collect alone
    assert(zoneJobs === 1)
    // the zone-map collect, then the bloom sidecar's type row and its
    // membership pass
    assert(readJobs === 3)
    // the data write, the zone-map stats pass and its sidecar write, and
    // the bloom aggregate (its shuffle stage, then its sidecar write)
    assert(commitJobs === 5)
  }

  /** `_manifests` listings and manifest opens among `calls`, per table
    * base (the parent of `_manifests`). */
  private def manifestCalls(calls: Seq[SparkSpec.FsCall])
      : Map[String, (Int, Int)] = {
    val manifest = "(.*)/_manifests/v\\d+".r
    val list = calls.collect { case SparkSpec.FsCall("list", p, _)
      if p.endsWith("/_manifests") => p.stripSuffix("/_manifests") }
    val open = calls.collect {
      case SparkSpec.FsCall("open", manifest(t), _) => t }
    (list ++ open).distinct
      .map(t => t -> (list.count(_ == t), open.count(_ == t))).toMap
  }

  // each op reads the head once: one listing of `_manifests` and one open
  // of the head manifest, which it parses into entries and metadata and
  // hands down to staging and to publish's first CAS attempt
  test("each lakehouse op lists _manifests once and opens one manifest " +
      "per snapshot it reads") {
    import spark.implicits._
    val ord = ordersFixture()
    def counted(setup: String => Unit)(op: String => Any): (Int, Int) = {
      val base = freshBase()
      setup(base)
      val (_, calls) = fsCallsDuring(base)(op(base))
      manifestCalls(calls).getOrElse(base, (0, 0))
    }
    val committed: String => Unit = b => Versioned.commit(ord, b)
    val got = Seq(
      "read" -> counted(committed)(b => Versioned.read(spark, b)),
      "readWhere" -> counted(committed)(b =>
        Versioned.readWhere(spark, b, col("o_orderkey") === 7L)),
      "commit(Append)" -> counted(committed)(b => Versioned.commit(
        ord.limit(10), b, SaveMode.Append)),
      "mergeInto" -> counted(committed)(b => Versioned.mergeInto(spark, b,
        Seq((7L, "p2", 1.5), (9999L, "p1", 2.5))
          .toDF("o_orderkey", "o_orderpriority", "o_totalprice"),
        Seq("o_orderkey"), Seq("o_totalprice"))),
      "deleteWhere" -> counted(committed)(b =>
        Versioned.deleteWhere(spark, b, col("o_orderkey") < 10L)),
      "deleteWhereMor" -> counted(committed)(b =>
        Versioned.deleteWhereMor(spark, b, col("o_orderkey") < 10L)),
      "compactLatest" -> counted { b =>
        committed(b); Versioned.commit(ord.limit(10), b, SaveMode.Append)
      }(b => Versioned.compactLatest(spark, b, targetFiles = 1)))

    // a two-table sync: the source head and the window's base, the
    // rollup head — each table listed once
    val root = Files.createTempDirectory("graft_sync_calls").toString
    val (src, roll) = (root + "/src", root + "/roll")
    Versioned.commit(ord, src)
    syncOnce(src, roll)
    Versioned.deleteWhereMor(spark, src, pmod(col("o_orderkey"), lit(3)) === 0)
    val sync = manifestCalls(fsCallsDuring(root)(syncOnce(src, roll))._2)
    val (srcCalls, rollCalls) =
      (sync.getOrElse(src, (0, 0)), sync.getOrElse(roll, (0, 0)))
    got.foreach { case (op, (l, o)) =>
      info(s"$op: _manifests lists $l, opens $o") }
    info(s"syncRollup: source lists/opens $srcCalls, rollup $rollCalls")
    got.foreach { case (op, c) =>
      assert(c === ((1, 1)), s"$op: (lists, opens) of _manifests")
    }
    assert(srcCalls._1 === 1 && rollCalls._1 === 1,
      s"syncRollup lists each table once: source $srcCalls, rollup $rollCalls")
    assert(srcCalls._2 + rollCalls._2 <= 3, "syncRollup opens the source " +
      "head, its fromV and the rollup head: " +
      s"source $srcCalls, rollup $rollCalls")
  }

  // the emptiness probe, the bloom auto-size and the sidecar's read schema
  // come from one footer pass: graft lists the staged dir once and opens
  // each of its footers at most once
  test("a bloom-staged commit lists its staged dir once and opens each " +
      "footer once") {
    val base = freshBase()
    val df = spark.range(0, 2000, 1, 4)
      .select(col("id"), (col("id") % 7).as("k"))
    val (v, calls) = fsCallsDuring(base)(
      Versioned.commit(df, base, bloomCols = Seq("id")))
    val dir = new org.apache.hadoop.fs.Path(
      Versioned.entries(spark, base, v).head.path).toUri.getPath
    val ours = calls.filter(_.caller.startsWith("graft."))
    val lists = ours.count(c => c.op == "list" && c.path == dir)
    val opens = ours
      .filter(c => c.op == "open" && c.path.startsWith(dir + "/part-"))
      .groupBy(_.path).values.map(_.size)
    info(s"graft listings of the staged dir: $lists, footer opens per file: " +
      opens.toSeq.sorted.mkString(","))
    assert(lists === 1)
    assert(opens.nonEmpty && opens.forall(_ == 1))
  }
}
