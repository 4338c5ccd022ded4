package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, BooleanType, ByteType,
  DecimalType, IntegerType, LongType, ShortType, StringType}

/** Incremental rollup maintenance over a [[Versioned]] table — the
  * materialized-view-refresh pattern a 100 TB warehouse lives on: the
  * raw fact stream is APPEND-ONLY and enormous, the rollup is
  * (partitions × keys) and small, so each batch folds its ADDITIVE
  * partial states into the rollup and the raw history is NEVER rescanned.
  * Two drive modes: callers hand batches to [[upsertRollup]] /
  * [[rollupStream]], or — when the SOURCE is itself a versioned table
  * whose history includes DML — [[syncRollup]] derives the batches from
  * the net change feed, making the rollup a true incremental
  * materialized VIEW (deletes subtract, updates re-point, vanished
  * groups vanish).
  *
  * Shape per batch:
  * 1. Pre-aggregate the batch to partial states per (partitionKey,
  *    subKeys) — the only pass over raw rows, proportional to the BATCH.
  * 2. Split the current rollup's DATA DIRECTORIES on the batch's touched
  *    partition values: every directory whose [[ManifestEntry]] partition
  *    tag is disjoint from the touched set is carried forward BY
  *    REFERENCE (zero bytes rewritten); only the intersecting
  *    directories are read, their touched rows merged with the batch
  *    partials (states are additive sums, so merge == sum) and their
  *    untouched remainder re-staged. Steady state converges to
  *    per-partition-group directories, so an upsert costs the touched
  *    partitions, not the rollup.
  * 3. Publish atomically as the next version, with the batch id in the
  *    COMMIT METADATA — the same atomic rename that makes the data
  *    visible records the ingestion, so replays are batch-level
  *    exactly-once: a re-delivered batch id is a no-op, a crash before
  *    the rename left nothing visible and nothing recorded.
  *
  * Measures must be ADDITIVE (counts, integer-cents sums, any
  * sum-mergeable state). AVG-like outputs derive downstream from
  * (sum, cnt) pairs, the same discipline as the engine's exact-money
  * policy. Concurrent refreshes: every commit (including the bootstrap
  * on an empty table, pinned to expectedHead 0) is CAS-guarded; a loser
  * aborts with ConcurrentModificationException and THIS MODULE retries
  * it — re-reading the head, re-checking the replay guard, re-deriving
  * the merge — up to a bounded attempt count, after which the exception
  * propagates (inside [[rollupStream]]'s foreachBatch that fails the
  * query; the batch replays on restart, and the guard keeps the
  * eventual outcome exactly-once).
  *
  * Replay-guard horizon: the guard is ONE head-manifest read against the
  * applied-batch ledger ([[Versioned.appliedBatchIds]]), which every
  * commit carries forward — it survives [[Versioned.vacuum]] and costs
  * the same at any retained-history depth. Its memory is the ledger cap
  * ([[Versioned.AppliedCap]] most recent batch ids): a batch redelivered
  * later than that re-applies, so size redelivery windows under the cap.
  */
object Incremental {

  /** Partition tags are strings; NULL and EMPTY-STRING partition values
    * map to NUL-prefixed sentinels (URL-encoding-safe, and NUL cannot
    * appear in a real toString) so both degenerate groups get tag
    * semantics. A raw "" tag would vanish in the manifest encoding
    * (enc("") is empty, the decoder drops empty tokens) and the dir
    * would falsely claim disjointness from everything. (The null
    * sentinel was briefly " null" within r9 before release — no
    * persisted manifest ever carried that form, so no migration path
    * exists or is needed; a REAL " null" string value collides with
    * nothing now because NUL cannot appear in a toString.) */
  private val NullPart = "\u0000null"
  private val EmptyPart = "\u0000empty"

  /** Collapse a rollup STATE frame to few write partitions before it
    * stages. States are (touched partitions × subKeys) rows — KB-to-MB
    * by the rollup contract ("the rollup is small") — but they arrive
    * through a `spark.sql.shuffle.partitions`-way aggregation, and
    * staging that raw wrote one near-empty parquet file PER SHUFFLE
    * PARTITION (measured r13: 32 files for a 90-row state),
    * multiplying every later listing/footer/scan cost of the table by
    * the shuffle width. One file per staged state dir is the right
    * shape at any rollup size that honors the contract. */
  private def stateShape(df: DataFrame): DataFrame = df.coalesce(1)

  private def partTag(v: Any): String = v match {
    case null => NullPart
    case b: Array[Byte] =>
      // Array.toString is the JVM identity string ("[B@1a2b3c") —
      // nondeterministic across batches, so a binary partition key
      // would tag the SAME group differently every upsert: existing
      // dirs always look disjoint, the group splits into one row per
      // batch, and vanishing never fires. Hex is content-stable.
      if (b.isEmpty) EmptyPart
      else b.map(x => f"$x%02x").mkString
    case other =>
      val s = other.toString; if (s.isEmpty) EmptyPart else s
  }

  /** Bounded CAS retry with randomized exponential backoff: a merge
    * derivation spans several jobs, so under hot contention a bare retry
    * loop livelocks (every slow derivation loses to a faster writer) —
    * jittered spacing de-synchronizes the writers, the same answer the
    * public lakehouse commit services use. The first attempt derives
    * from the op's snapshot `first`; each retry from one fresh head. */
  private def retryCas[A](label: String, spark: SparkSession,
      basePath: String, first: Versioned.Snapshot)(
      body: Versioned.Snapshot => A): A = {
    var attempts = 0
    var head = first
    while (true) {
      attempts += 1
      require(attempts <= 50,
        s"$label lost $attempts consecutive commit races — giving up")
      try return body(head)
      catch {
        case _: java.util.ConcurrentModificationException =>
          val capMs = math.min(100L << math.min(attempts, 6), 5000L)
          Thread.sleep((capMs * math.random()).toLong)
          head = Versioned.snapshot(spark, basePath)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Fold one batch into the rollup at `basePath`. `batch` carries
    * `partitionKey`, `subKeys`, and numeric `measures` columns (one row
    * per raw event; pre-projected — e.g. `lit(1L).as("cnt")`,
    * `cents(col("value")).as("val_cents")`). `maxEntries`: when the
    * rollup has accreted this many data directories, the upsert
    * consolidates them all into one (self-compaction) instead of adding
    * more — bounding both manifest size and per-read file listing.
    * The untouched remainder of the intersecting dirs is re-staged only
    * when it can hold rows: when every intersecting dir is tagged, all
    * their tags are touched values, and the key's type tags each value
    * exactly (string, integral, boolean, decimal or binary keys), it is
    * skipped (no write, no footer read). Returns the committed (or, for
    * a replayed batch id, the already-current) version. */
  def upsertRollup(spark: SparkSession, basePath: String, batch: DataFrame,
      batchId: String, partitionKey: String, subKeys: Seq[String],
      measures: Seq[String], maxEntries: Int = 64,
      dropZeroMeasure: Option[String] = None): Long =
    upsert(spark, basePath, Versioned.snapshot(spark, basePath), batch,
      batchId, partitionKey, subKeys, measures, maxEntries, dropZeroMeasure)

  /** [[upsertRollup]] from the rollup snapshot `head` the caller holds. */
  private def upsert(spark: SparkSession, basePath: String,
      head: Versioned.Snapshot, batch: DataFrame, batchId: String,
      partitionKey: String, subKeys: Seq[String], measures: Seq[String],
      maxEntries: Int, dropZeroMeasure: Option[String]): Long = {
    require(measures.nonEmpty, "upsertRollup needs at least one measure")
    dropZeroMeasure.foreach(m => require(measures.contains(m),
      s"dropZeroMeasure $m must be one of the measures"))
    // Replay fast path (r16 optimization, [[Versioned.appendOnce]]'s
    // exact pre-check pattern): a redelivered batch id used to pay the
    // FULL batch pre-aggregation (partials cache + touched-partition
    // collect — a scan of the raw batch) before the in-CAS ledger check
    // no-opped it. The op's one head snapshot answers it, and the same
    // snapshot is the first CAS attempt's base; the authoritative
    // re-check inside the CAS stays, so a concurrent first delivery
    // racing this probe still resolves exactly-once.
    if (head.ledger.contains(batchId)) return head.version
    val keys = (partitionKey +: subKeys).map(col)
    def reAgg(df: DataFrame): DataFrame =
      df.groupBy(keys: _*).agg(
        sum(col(measures.head)).as(measures.head),
        measures.tail.map(m => sum(col(m)).as(m)): _*)
    // applied to FINAL states only (merged rollup rows about to be
    // staged), never to batch partials: in a signed delta a pure-update
    // group nets its count to zero while carrying a real measure delta —
    // dropping it from the PARTIALS would lose the update, while a FINAL
    // group whose count reaches zero has vanished from the source and
    // must vanish from the rollup
    def finalizeState(df: DataFrame): DataFrame =
      dropZeroMeasure.fold(df)(m => df.filter(col(m) =!= 0))

    val partials = reAgg(batch).cache()
    try {
      val touchedVals: Seq[Any] = partials
        .select(col(partitionKey)).distinct()
        .collect().map(_.get(0)).toSeq
      val touchedSet: Set[String] = touchedVals.map(partTag).toSet
      if (touchedSet.isEmpty) {
        // nothing to fold (empty batch, or every group netted to zero
        // against itself) — still RECORD the batch id, so an offset-
        // tracking consumer's window advances instead of re-reading the
        // same empty delta forever. On an UNINITIALIZED table the
        // recording bootstraps a TYPED v1 (a zero-row staged dir whose
        // parquet footer carries the rollup schema): a zero-entry v1
        // would hand every reader before the first non-empty batch a
        // column-less frame, and downstream column references that
        // expect the rollup schema would throw AnalysisException.
        val fin = finalizeState(partials)
        return retryCas(s"upsertRollup($batchId) under $basePath",
            spark, basePath, head) { snap =>
          if (snap.version == 0L && fin.schema.nonEmpty)
            // untagged (None): a tagged entry needs >=1 partition value,
            // and the schema-carrier dir holds no partitions at all
            Versioned.publishEntries(spark, basePath, snap,
              Seq(ManifestEntry(
                Versioned.stage(stateShape(fin.limit(0)), basePath, snap),
                None)),
              Map("batch_id" -> batchId))
          // a metadata-only commit records the id (a replayed id is a
          // no-op; two RACING recordings may both land, which records it
          // twice — harmless, the guard only tests membership)
          else if (snap.ledger.contains(batchId)) snap.version
          else Versioned.publish(spark, basePath, snap, _.entries,
            Map("batch_id" -> batchId))
        }
      }
      retryCas(s"upsertRollup($batchId) under $basePath",
          spark, basePath, head) { snap =>
        attemptUpsert(spark, basePath, snap, partials, batchId,
          partitionKey, touchedVals, touchedSet, reAgg, finalizeState,
          mayVanish = dropZeroMeasure.isDefined, maxEntries)
      }
    } finally partials.unpersist()
  }

  private def attemptUpsert(spark: SparkSession, basePath: String,
      head: Versioned.Snapshot, partials: DataFrame, batchId: String,
      partitionKey: String, touchedVals: Seq[Any], touchedSet: Set[String],
      reAgg: DataFrame => DataFrame,
      finalizeState: DataFrame => DataFrame, mayVanish: Boolean,
      maxEntries: Int): Long = {
    // batch-level exactly-once: the head's ledger; the id was committed
    // atomically WITH its data, so presence means fully applied
    if (head.ledger.contains(batchId)) return head.version
    if (head.version == 0L) {
      // CAS-pinned bootstrap: two racing first batches must NOT both see
      // an empty table and Overwrite — the loser aborts here and retries
      // through the non-empty merge path above. Stage-then-check (the
      // merge path's shape): ONE pipeline execution answers both the
      // emptiness probe and the write — the old isEmpty-then-commit ran
      // the full finalized aggregate twice. An all-vanished bootstrap
      // still publishes a TYPED v1: a zero-entry manifest would hand
      // readers between v1 and the first non-empty batch a column-less
      // frame (downstream column references that expect the rollup
      // schema would throw AnalysisException), so stage the typed
      // zero-row dir — its parquet footer carries the schema.
      val fin = finalizeState(partials)
      val stEntry = Versioned.stageNonEmpty(stateShape(fin), basePath, head,
          Some(touchedSet)).toSeq match {
          case Seq() if fin.schema.nonEmpty =>
            Seq(ManifestEntry(
              Versioned.stage(stateShape(fin.limit(0)), basePath, head),
              Some(touchedSet)))
          case st => st
        }
      return Versioned.publishEntries(spark, basePath, head, stEntry,
        Map("batch_id" -> batchId))
    }

    val dels = head.delPaths
    val dataEnts = head.dataEntries
    // directory-level pruning: a tagged dir disjoint from the touched
    // partitions is carried by reference; untagged dirs (legacy or
    // post-update) make no claim and must be treated as intersecting.
    // Past maxEntries, fold everything — self-compaction (which also
    // materializes any outstanding deletion vectors away).
    val foldAll = dataEnts.size >= maxEntries
    val (carried, intersecting) =
      if (foldAll) (Seq.empty[ManifestEntry], dataEnts)
      else dataEnts.partition(_.parts.exists(_.intersect(touchedSet).isEmpty))
    // tombstone entries ride along unless this upsert folds every data
    // dir (then the fold below applies them and they can drop)
    val delEnts =
      if (foldAll || carried.isEmpty) Seq.empty[ManifestEntry]
      else head.entries.filter(_.tombstone)
    if (intersecting.isEmpty) {
      // every existing dir is provably disjoint (a brand-new partition):
      // the batch partials ARE the merged state — nothing to read at
      // all; stage-then-check (footers) answers vanishing in one pass
      val stEntry = Versioned.stageNonEmpty(
        stateShape(finalizeState(partials)), basePath, head,
        Some(touchedSet)).toSeq
      return Versioned.publishEntries(spark, basePath, head,
        delEnts ++ carried ++ stEntry, Map("batch_id" -> batchId))
    }
    // EXPLICIT schema, not mergeSchema: the rollup's dirs were all
    // written by this module with the partials' shape, so the
    // schema-reconciliation job mergeSchema runs per read is pure
    // overhead — and the semantics are identical (a dir missing a newer
    // measure reads it as null, extra legacy columns were dropped by
    // the projection either way)
    val cur = Versioned.applyDels(spark,
        spark.read.schema(partials.schema)
          .parquet(intersecting.map(_.path): _*), dels)
      .select(partials.columns.map(col): _*)
    // touched-group membership as a LITERAL predicate, not a broadcast
    // join: the touched values already sit on the driver (the touchedSet
    // collect), and each broadcast(tp) materialization is a whole extra
    // Spark job per staged frame — `isInCollection` lowers to a codegen
    // InSet with zero jobs. Null-safe: a NULL partition value must merge
    // with the batch's NULL group, not duplicate into remainder AND
    // merged, so NULL membership is an explicit isNull branch and the
    // three-valued `In` result coalesces to false. Key types a Literal
    // can't carry (struct/array/map) fall back to the join shape; the
    // literal fails when `filter` converts the column, so the frames are
    // built inside the try.
    val (inMerged, inRemainder): (DataFrame, DataFrame) =
      try {
        val hasNull = touchedVals.contains(null)
        val nonNull = touchedVals.filterNot(_ == null)
        val base =
          if (nonNull.isEmpty) lit(false)
          else col(partitionKey).isInCollection(nonNull)
        val p = coalesce(
          if (hasNull) base || col(partitionKey).isNull else base,
          lit(false))
        (cur.filter(p), cur.filter(!p))
      } catch {
        case scala.util.control.NonFatal(_) =>
          val tp = partials.select(col(partitionKey).as("__tp")).distinct()
          (cur.join(broadcast(tp),
              cur(partitionKey) <=> col("__tp"), "left_semi").drop("__tp"),
            cur.join(broadcast(tp),
              cur(partitionKey) <=> col("__tp"), "left_anti"))
      }
    val merged = finalizeState(reAgg(inMerged.unionByName(partials)))
    // stage FIRST, decide from the written footers: the old shape ran
    // each frame's full pipeline for `isEmpty` and then AGAIN for the
    // stage (with a cache papering over one of the two) — this runs
    // each pipeline exactly once; an empty result costs a tiny write
    // that is deleted on the spot
    val mergedEntries = Versioned.stageNonEmpty(
      stateShape(merged), basePath, head, Some(touchedSet)).toSeq
    // the remainder keeps the intersecting dirs' confinement minus the
    // touched values — but only if EVERY intersecting dir was tagged
    val untouchedTags: Option[Set[String]] =
      if (intersecting.forall(_.parts.isDefined))
        Some(intersecting.flatMap(_.parts.get).toSet -- touchedSet)
      else None
    // When those tags lie wholly inside the touched set, the remainder is
    // empty only if equal tags mean equal values. Carrying by reference
    // needs just the converse, so check it on the key's type: struct,
    // array and map tags join fields with commas (Row("a,b","c") and
    // Row("a","b,c") both print [a,b,c]), timestamps print local time
    // (shared in a DST fall-back hour), dates print hybrid-calendar
    // fields, float equality (-0.0, NaN) is not string equality, and a
    // string that is literally a sentinel shares its tag with null or "".
    val tagIsExact = partials.schema(partitionKey).dataType match {
      case StringType => !touchedSet.exists(_.startsWith("\u0000"))
      case ByteType | ShortType | IntegerType | LongType | BooleanType |
          BinaryType | _: DecimalType => true
      case _ => false
    }
    val remEntries =
      if (tagIsExact && untouchedTags.exists(_.isEmpty)) Seq.empty
      else Versioned.stageNonEmpty(stateShape(inRemainder), basePath, head,
        untouchedTags.filter(_.nonEmpty)).toSeq
    // a lost CAS leaves the freshly staged dirs orphaned — vacuumable
    // garbage, never visible
    Versioned.publishEntries(spark, basePath, head,
      delEnts ++ carried ++ remEntries ++ mergedEntries,
      Map("batch_id" -> batchId))
  }

  /** The newest source version consumer `consumerName` has fully folded
    * into the rollup at `rollupBase`, recovered from the applied-batch
    * ledger (ONE head-manifest read; survives vacuum) — None when the
    * consumer has never synced, or its newest sync id has aged past the
    * ledger cap ([[Versioned.AppliedCap]] ingested batches), in which
    * case [[syncRollup]] falls back to a full rebuild. */
  def syncedSourceVersion(spark: SparkSession, rollupBase: String,
      consumerName: String): Option[Long] =
    syncedIn(Versioned.snapshot(spark, rollupBase), consumerName)

  private def syncedIn(rollup: Versioned.Snapshot,
      consumerName: String): Option[Long] = {
    val re = ("^sync-" + java.util.regex.Pattern.quote(consumerName) +
      "-to-(\\d+)$").r
    rollup.ledger
      .flatMap(id => re.findFirstMatchIn(id).map(_.group(1).toLong))
      .maxOption
  }

  /** CHANGE-FEED-DRIVEN rollup maintenance — the loop that makes a
    * rollup a true incremental MATERIALIZED VIEW of a [[Versioned]]
    * source table, DML included: each call catches the rollup up from
    * the consumer's last synced source version to the source head by
    * folding the NET row-level change feed ([[Versioned.changes]]) as
    * signed partial states — inserted rows contribute `prepare`'s
    * measures positively, deleted rows negatively — so a COW/MOR DELETE
    * subtracts exactly its rows, an UPDATE lands as one −old +new pair,
    * and a group whose `countMeasure` nets to zero VANISHES from the
    * rollup (it vanished from the source). Cost per sync is the CHANGE
    * (feed cost is manifest-aware) plus the rollup's touched partitions
    * — the raw history is never rescanned.
    *
    * `prepare` maps source-shaped rows to the rollup shape
    * (`partitionKey`, `subKeys`, numeric `measures`) ROW-WISE — one
    * output row per input row, each row's contribution independent of
    * every other (the additivity contract; a `prepare` that aggregates
    * or joins would break signed application). `countMeasure` must be a
    * measure counting contributing rows (`lit(1L)`), the witness for
    * group vanishing.
    *
    * Exactly-once: the sync window's batch id is
    * `sync-<consumer>-to-<srcVersion>`, recorded through the same
    * ledger as every ingest — a replayed sync no-ops, an empty window
    * still advances the offset (metadata-only commit). The consumer's
    * offset is itself recovered FROM the ledger, so it survives vacuum
    * of both tables and needs no side state.
    *
    * Fallback: when the consumer has never synced, or its catch-up
    * window was vacuumed away on the source, or its sync id aged past
    * the ledger cap, the rollup is REBUILT from the source head (one
    * full `prepare` + aggregate, committed as an Overwrite) — correct
    * at any gap, at full-recompute cost.
    *
    * Contracts: one sync driver per (rollup, consumer) at a time — two
    * CONCURRENT syncs of the same consumer observing different source
    * heads would double-apply the shared window (the same
    * caller-stable-identity rule as the streaming forms). The rollup
    * must be maintained exclusively through this consumer's syncs (or
    * bootstrap rebuilds overwrite whatever else was folded in).
    * Returns the committed (or already-current) rollup version. */
  def syncRollup(spark: SparkSession, sourceBase: String, rollupBase: String,
      consumerName: String, prepare: DataFrame => DataFrame,
      partitionKey: String, subKeys: Seq[String], measures: Seq[String],
      countMeasure: String, maxEntries: Int = 64): Long = {
    require(consumerName.matches("[A-Za-z0-9._-]+"),
      s"consumer name must be [A-Za-z0-9._-]+, got '$consumerName'")
    require(measures.contains(countMeasure),
      s"countMeasure $countMeasure must be one of the measures")
    // one listing per table: the source's (its head and whether the
    // window's base is retained) and the rollup's head snapshot, which
    // carries the consumer's offset and is the fold's base
    val srcVs = Versioned.versions(spark, sourceBase)
    require(srcVs.nonEmpty, s"no committed versions under $sourceBase")
    val toV = srcVs.last
    val roll = Versioned.snapshot(spark, rollupBase)
    val from = syncedIn(roll, consumerName)
    if (from.contains(toV)) return roll.version
    val batchId = s"sync-$consumerName-to-$toV"
    from match {
      case Some(f) if srcVs.contains(f) =>
        // incremental catch-up: fold the net change feed, signed
        val feed = Versioned.changes(spark, sourceBase, f, toV).cache()
        try {
          val ins = prepare(
            feed.filter(col("_change") === "insert").drop("_change"))
          val del = measures.foldLeft(prepare(
              feed.filter(col("_change") === "delete").drop("_change"))) {
            (df, m) => df.withColumn(m, negate(col(m)))
          }
          upsert(spark, rollupBase, roll, ins.unionByName(del), batchId,
            partitionKey, subKeys, measures, maxEntries,
            dropZeroMeasure = Some(countMeasure))
        } finally feed.unpersist()
      case _ =>
        // never synced / window vacuumed / offset aged out: full rebuild
        fullLoad(spark, sourceBase, toV, rollupBase, roll, batchId, prepare,
          partitionKey, subKeys, measures)
    }
  }

  /** Rebuild the rollup as an Overwrite of the source head's full
    * aggregate — the bootstrap and gap-recovery path of [[syncRollup]],
    * CAS-guarded and ledger-recorded like every ingest. */
  private def fullLoad(spark: SparkSession, sourceBase: String, toV: Long,
      rollupBase: String, rollup: Versioned.Snapshot, batchId: String,
      prepare: DataFrame => DataFrame, partitionKey: String,
      subKeys: Seq[String], measures: Seq[String]): Long = {
    val keys = (partitionKey +: subKeys).map(col)
    val src = Versioned.readVersion(spark, sourceBase, toV)
    val partials =
      if (src.columns.isEmpty) spark.emptyDataFrame
      else prepare(src).groupBy(keys: _*).agg(
        sum(col(measures.head)).as(measures.head),
        measures.tail.map(m => sum(col(m)).as(m)): _*).cache()
    try {
      val parts: Set[String] =
        if (partials.columns.isEmpty) Set.empty
        else partials.select(col(partitionKey)).distinct()
          .collect().map(r => partTag(r.get(0))).toSet
      retryCas(s"syncRollup($batchId) rebuild under $rollupBase",
          spark, rollupBase, rollup) { head =>
        if (head.ledger.contains(batchId)) head.version
        else Versioned.publishEntries(spark, rollupBase, head,
          // an empty source snapshot leaves the rollup empty too: an
          // empty entry list (an empty staged dir would be unreadable)
          if (parts.isEmpty) Seq.empty
          else Seq(ManifestEntry(
            Versioned.stage(stateShape(partials), rollupBase, head),
            Some(parts))),
          Map("batch_id" -> batchId))
      }
    } finally if (!partials.columns.isEmpty) partials.unpersist()
  }

  /** Continuous MATERIALIZED-VIEW maintenance — the streaming twin of
    * [[syncRollup]]: a cdc stream over the SOURCE versioned table (the
    * `graft-versioned` streaming source) drives signed upserts into the
    * rollup, DML included — the first micro-batch is the source
    * snapshot (all inserts = the bootstrap), every later one is a net
    * change window folded exactly like the pull loop's catch-up
    * (inserts add `prepare`'s measures, deletes subtract, a group whose
    * `countMeasure` nets to zero vanishes). Exactly-once end to end:
    * version offsets replay deterministically from the checkpoint and
    * the rollup's `(streamName, epochId)` ledger no-ops a replayed
    * fold, so crash/restart loses nothing and doubles nothing. The
    * [[rollupStream]] contracts apply (stable `consumerName` across
    * restarts of the same logical stream; one maintainer per rollup);
    * `prepare`/`countMeasure` carry [[syncRollup]]'s additivity
    * contract. `options` should carry `checkpointLocation` in
    * production; vacuum the SOURCE no tighter than consumer lag (an
    * in-flight window is lease-pinned by the source, but a stopped
    * stream's unread backlog is not). */
  def syncRollupStream(spark: SparkSession, sourceBase: String,
      rollupBase: String, consumerName: String,
      prepare: DataFrame => DataFrame, partitionKey: String,
      subKeys: Seq[String], measures: Seq[String], countMeasure: String,
      maxEntries: Int = 64, options: Map[String, String] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(measures.contains(countMeasure),
      s"countMeasure $countMeasure must be one of the measures")
    spark.readStream.format("graft-versioned")
      .option("mode", "cdc").load(sourceBase)
      .writeStream
      .outputMode("append")
      .options(options)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val ins = prepare(
          batch.filter(col("_change") === "insert").drop("_change"))
        val del = measures.foldLeft(prepare(
            batch.filter(col("_change") === "delete").drop("_change"))) {
          (df, m) => df.withColumn(m, negate(col(m)))
        }
        upsertRollup(batch.sparkSession, rollupBase,
          ins.unionByName(del),
          s"stream-$consumerName-epoch-$epochId",
          partitionKey, subKeys, measures, maxEntries,
          dropZeroMeasure = Some(countMeasure))
        ()
      }
      .start()
  }

  /** Continuous refresh: [[upsertRollup]] per micro-batch, keyed by
    * `(streamName, epochId)` — after a restart from checkpoint,
    * Structured Streaming redelivers the same epoch under the same id,
    * the replay guard no-ops it, and the rollup is EXACTLY-ONCE end to
    * end without Spark's state store (aggregation state lives in the
    * versioned table itself, which is also what makes it queryable
    * mid-stream and durable across stream restarts). `streamName` must
    * be stable across restarts of the same logical stream: epoch ids are
    * per-checkpoint (a fresh checkpoint restarts them at 0), and two
    * streams feeding one rollup must not share a name — either would
    * make a genuinely new batch collide with a recorded id and silently
    * no-op. `options` should carry `checkpointLocation` in production. */
  def rollupStream(stream: DataFrame, basePath: String, streamName: String,
      partitionKey: String, subKeys: Seq[String], measures: Seq[String],
      options: Map[String, String] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .options(options)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        if (!batch.isEmpty) {
          upsertRollup(batch.sparkSession, basePath, batch,
            s"stream-$streamName-epoch-$epochId", partitionKey, subKeys,
            measures)
          ()
        }
      }
      .start()
}
