package org.apache.spark.sql.graft

import graft.sources.Versioned
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{StringType, StructType}

/** Structured Streaming READ over a [[graft.sources.Versioned]] table —
  * the consumption half of the lakehouse streaming story (the write
  * half, `commitStream`/`rollupStream`/`indexAppendStream`, has existed
  * since r9): `spark.readStream.format("graft-versioned").load(path)`
  * turns the commit log into a micro-batch stream the way the public
  * lakehouse formats do (reference behavior: continuous consumption of
  * the source-system tables feeding `SQLQueryiesPractice.sql`'s
  * analytics — re-expressed as a first-class Spark streaming source
  * rather than polled batch jobs).
  *
  * Offsets ARE commit versions: `getOffset` is one driver-side manifest
  * listing (no data touched), and a batch `(fromV, toV]` is re-derived
  * deterministically from the retained snapshots, so checkpoint replay
  * is exactly-once end to end — with an exactly-once sink
  * (`Versioned.commitStream`'s ledger, or any idempotent writer) a
  * versioned→versioned pipeline survives crash/restart with no
  * duplicates and no holes. Vacuuming a not-yet-consumed window fails
  * the stream loudly (the change feed refuses a missing snapshot)
  * rather than silently skipping — size retention to consumer lag, or
  * pin with reader leases.
  *
  * Modes:
  *  - `append` (default): batches carry NEW ROWS only, source-schema
  *    shaped. A window whose manifests show removals (COW/MOR delete,
  *    update, rollback) fails the stream — the insert-only contract is
  *    checked manifest-level, zero jobs — unless `ignoreChanges=true`,
  *    which delivers the window's NET inserts (an update arrives as its
  *    new row, deletes are dropped; the public formats' ignoreChanges
  *    semantics).
  *  - `cdc`: batches are the net row-level change feed
  *    ([[Versioned.changes]]) with the `_change` column — deletes
  *    subtract downstream, the streaming twin of `syncRollup`'s pull
  *    loop.
  *
  * Options: `mode` (above), `ignoreChanges`, `startingVersion` (first
  * batch = changes since that version instead of the full snapshot —
  * the "new data only" subscription), `maxVersionsPerTrigger` (bound
  * commits per micro-batch; an unthrottled catch-up after downtime
  * would replay the whole backlog as one giant batch).
  *
  * The first batch with no checkpoint and no `startingVersion` is the
  * FULL SNAPSHOT at the trigger head (initial load), then incremental
  * windows follow. Schema is frozen at stream start from the head
  * snapshot (+`_change` in cdc mode); batches align to it — a column
  * added mid-stream is dropped until restart, a column removed reads
  * null, a TYPE change fails the stream (same loud-on-unsound policy as
  * the schema gate). Scale: every per-trigger decision (offset, window
  * gate, schema) is manifest-metadata work on the driver; data moves
  * only inside the batch plan, with cost ∝ the window's change.
  */
final class VersionedSourceProvider
    extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-versioned"

  private def tablePath(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-versioned source needs a table path: .load(<basePath>) " +
        "or .option(\"path\", <basePath>)"))

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val path = tablePath(parameters)
    // a user-specified schema is REJECTED, not silently honored: in cdc
    // mode a schema without `_change` would make align() drop the
    // marker and deliver deletes indistinguishable from inserts — a
    // signed-fold consumer would ADD deleted rows. The stream's schema
    // is the table's, period (the same stance Kafka and the public
    // lakehouse sources take).
    schema.foreach(_ => throw new UnsupportedOperationException(
      "graft-versioned does not accept a user-specified schema — the " +
        "stream declares the table's snapshot schema" +
        (if (parameters.getOrElse("mode", "append") == "cdc")
          " plus the _change marker" else "")))
    val base = Versioned.read(sqlContext.sparkSession, path).schema
    val s =
      if (parameters.getOrElse("mode", "append") == "cdc") {
        // the marker name is the feed contract; a data column of that
        // name would be silently overwritten by the initial snapshot's
        // lit("insert") — same loud policy as Versioned.changes
        require(!base.fields.exists(_.name.equalsIgnoreCase("_change")),
          s"graft-versioned cdc over $path: the table has a data " +
            "column named '_change', which the change feed reserves " +
            "for its insert/delete marker; rename the data column")
        base.add("_change", StringType, nullable = true)
      } else base
    (s"graft-versioned [$path]", s)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new VersionedStreamSource(sqlContext,
      sourceSchema(sqlContext, schema, providerName, parameters)._2,
      tablePath(parameters), parameters)
}

private[graft] final case class VersionOffset(v: Long) extends OffsetV1 {
  override def json: String = s"""{"version":$v}"""
}

private[graft] object VersionOffset {
  private val Re = """"version"\s*:\s*(\d+)""".r.unanchored
  def fromJson(j: String): VersionOffset = j match {
    case Re(v) => VersionOffset(v.toLong)
    case _ => throw new IllegalArgumentException(
      s"not a graft-versioned offset: $j")
  }
}

private[graft] final class VersionedStreamSource(sqlContext: SQLContext,
    declaredSchema: StructType, basePath: String,
    parameters: Map[String, String]) extends Source
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {

  private val spark = sqlContext.sparkSession
  private val mode = parameters.getOrElse("mode", "append")
  require(mode == "append" || mode == "cdc",
    s"graft-versioned mode must be append|cdc, got '$mode'")
  private val ignoreChanges =
    parameters.getOrElse("ignoreChanges", "false").toBoolean
  private val startingVersion = parameters.get("startingVersion").map(_.toLong)
  private val maxVersions =
    parameters.get("maxVersionsPerTrigger").map(_.toLong)
  maxVersions.foreach(m => require(m > 0, "maxVersionsPerTrigger must be > 0"))
  private val failOnDataLoss =
    parameters.getOrElse("failOnDataLoss", "true").toBoolean

  /** Newest version already HANDED OUT as a batch end (not necessarily
    * committed by the sink) — the throttle anchor. Recovered from the
    * engine's calls after restart: getBatch runs before the next
    * getOffset, so the anchor never regresses across a checkpoint
    * recovery. */
  @volatile private var lastEnd: Option[Long] = None

  override def schema: StructType = declaredSchema

  /** Trigger.AvailableNow support: the prepared head bounds every
    * subsequent offer, so a catch-up run drains the backlog in
    * throttled batches and terminates — without this a v1 source gets
    * Spark's single-batch fallback, which stops after ONE throttled
    * batch and strands the rest of the backlog. */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    // an uninitialized table caps at 0 (nothing to consume): leaving
    // the cap None would let commits landing AFTER the trigger started
    // keep extending a supposedly bounded AvailableNow run
    availableNowCap =
      Some(Versioned.versions(spark, basePath).lastOption.getOrElse(0L))
  }

  /** Admission-control face (declared via SupportsTriggerAvailableNow):
    * once present, the engine calls THIS instead of getOffset and hands
    * back the restart-recovered start offset — fold it into the anchor
    * so the throttle can never re-offer a committed version. */
  override def latestOffset(
      startOffset: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val seen = Option(startOffset).map {
      case o: OffsetV1 => ver(o)
      case o => VersionOffset.fromJson(o.json).v
    }
    next(availableNowCap, seen).orNull
  }

  override def getOffset: Option[OffsetV1] =
    next(None, None).map(o => o: OffsetV1)

  private def next(cap: Option[Long],
      seen: Option[Long]): Option[VersionOffset] = {
    val vs = Versioned.versions(spark, basePath)
    if (vs.isEmpty) None
    else {
      val head = cap.fold(vs.last)(math.min(vs.last, _))
      if (head <= 0L) return None
      // throttle anchor: the newest version already handed out or
      // engine-committed, or startingVersion before any batch ran. A
      // no-checkpoint no-startingVersion first trigger is the SNAPSHOT
      // batch — unthrottled by construction (one initial load, not a
      // backlog of windows). Versions are contiguous by protocol, so
      // `anchor + m` caps the window at m commits.
      val anchor = (lastEnd.toSeq ++ seen ++ startingVersion)
        .maxOption
      val capped = (anchor, maxVersions) match {
        case (Some(a), Some(m)) => math.min(head, a + m)
        case _ => head
      }
      if (anchor.exists(_ >= capped)) None
      else Some(VersionOffset(capped))
    }
  }

  /** After a checkpoint restart the engine hands back SerializedOffset
    * wrappers — resolve ANY v1 offset through its json. */
  private def ver(o: OffsetV1): Long = o match {
    case VersionOffset(v) => v
    case other => VersionOffset.fromJson(other.json).v
  }

  /** One reader lease per in-flight batch, keyed by the batch's end
    * version: pinning a window's FROM snapshot keeps it (and everything
    * after — the whole window) vacuum-safe from getBatch until the
    * engine's commit, so a slow micro-batch cannot have its snapshots
    * reaped out from under its lazy file reads. Released on commit and
    * on stop. */
  private val pins = new java.util.concurrent.ConcurrentHashMap[
    Long, Versioned.SnapshotLease]()

  // durable lease files expire at the TTL; a micro-batch outliving it
  // would silently lose its cross-process vacuum protection mid-read,
  // so a daemon re-stamps every in-flight pin at TTL/3 (renew() warns
  // on failure itself). Shut down with the source.
  private val leaseRenewer = {
    val period = Versioned.LeaseTtlMs / 3
    val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      r => { val t = new Thread(r, s"graft-versioned-lease-renew $basePath")
        t.setDaemon(true); t })
    ex.scheduleAtFixedRate(() => pins.values.forEach(_.renew()),
      period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
    ex
  }

  private def pinFor(endV: Long, v: Long, retained: Seq[Long]): Unit = {
    pins.computeIfAbsent(endV,
      _ => Versioned.pinSnapshot(spark, basePath, Some(v), retained))
    ()
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endV = ver(end)
    val startV = start.map(ver)
    // ONE `_manifests` listing per batch serves the retention check and
    // the window's lease
    lazy val retained = Versioned.versions(spark, basePath)
    val batch = startV.orElse(startingVersion) match {
      case Some(fromV) if fromV < endV =>
        // retention check BEFORE deriving the window: after a restart
        // the engine re-plays getBatch for the last COMMITTED batch
        // purely to restore source state, and a vacuum sized to
        // consumer lag may have dropped that window's start manifest —
        // failing eagerly here would brick an otherwise healthy
        // restart. Kafka's failOnDataLoss contract: loud by default
        // (a genuinely unconsumed vacuumed window IS data loss), an
        // explicit opt-out delivers an empty batch with a warning.
        val gone = Seq(fromV, endV).distinct.filterNot(retained.contains)
        if (gone.nonEmpty) {
          if (failOnDataLoss) throw new IllegalStateException(
            s"graft-versioned stream over $basePath: window " +
              s"($fromV, $endV] is no longer retained (vacuumed " +
              s"manifest(s): ${gone.map(v => s"v$v").mkString(", ")}). " +
              "If the sink already committed this batch (a restart " +
              "replay), set failOnDataLoss=false to skip it; otherwise " +
              "size vacuum retention to consumer lag or pin snapshots " +
              "with reader leases")
          // Kafka's opt-out resets to earliest-available and delivers
          // what it can — skipping the ENTIRE window here would drop
          // changes from intermediate versions that are still retained,
          // more loss than the vacuum caused. Advance the base to the
          // earliest retained version inside the window and deliver the
          // remaining sub-window; only when nothing in (fromV, endV] is
          // readable does the batch come back empty.
          val newFrom = retained.filter(v => v >= fromV && v < endV)
            .minOption
          newFrom match {
            case Some(nf) if retained.contains(endV) =>
              System.err.println(
                s"WARN graft-versioned: window ($fromV, $endV] under " +
                  s"$basePath lost its base manifest to vacuum; " +
                  s"delivering retained sub-window ($nf, $endV] — " +
                  s"changes in ($fromV, $nf] are gone (failOnDataLoss=false)")
              pinFor(endV, nf, retained)
              window(nf, endV)
            case _ =>
              System.err.println(
                s"WARN graft-versioned: skipping unretained window " +
                  s"($fromV, $endV] under $basePath (failOnDataLoss=false)")
              emptyBatch()
          }
        } else {
          pinFor(endV, fromV, retained)
          window(fromV, endV)
        }
      // fromV >= endV: a restart-recovery probe or an already-consumed
      // window — deliver nothing rather than derive a backwards feed
      case Some(_) => emptyBatch()
      case None =>
        // initial load: the full snapshot at the first trigger's head.
        // A checkpoint restart REPLAYS this batch, and a vacuum sized to
        // consumer lag may have dropped that snapshot's manifest — same
        // contract as the window branch above: loud by default, the
        // opt-out loads the earliest retained snapshot instead (its
        // redelivery is the sink ledger's problem, exactly as for any
        // replayed batch).
        val loadV =
          if (retained.contains(endV)) endV
          else {
            if (failOnDataLoss) throw new IllegalStateException(
              s"graft-versioned stream over $basePath: initial snapshot " +
                s"v$endV is no longer retained (vacuumed). If the sink " +
                "already committed it (a restart replay), set " +
                "failOnDataLoss=false to load the earliest retained " +
                "snapshot; otherwise size vacuum retention to consumer " +
                "lag or pin snapshots with reader leases")
            val er = retained.filter(_ >= endV).minOption.getOrElse(
                throw new IllegalStateException(
                  s"graft-versioned stream over $basePath: no retained " +
                    s"version at or after the initial snapshot v$endV"))
            System.err.println(
              s"WARN graft-versioned: initial snapshot v$endV under " +
                s"$basePath was vacuumed; loading earliest retained " +
                s"v$er instead (failOnDataLoss=false)")
            er
          }
        pinFor(endV, loadV, retained)
        val snap = Versioned.readVersion(spark, basePath, loadV)
        if (mode == "cdc") snap.withColumn("_change", lit("insert"))
        else snap
    }
    // anchor on everything seen (end AND start): after a checkpoint
    // restart the engine re-plays the last batch's offsets before
    // asking for new ones, so the throttle must never re-offer a
    // version at or below either
    lastEnd = Some(Seq(Some(endV), startV, lastEnd).flatten.max)
    toStreaming(align(batch))
  }

  override def commit(end: OffsetV1): Unit = {
    val v = ver(end)
    import scala.jdk.CollectionConverters._
    pins.keySet.asScala.toSeq.filter(_ <= v).foreach { k =>
      val l = pins.remove(k)
      if (l != null) l.close()
    }
  }

  private def window(fromV: Long, toV: Long): DataFrame = mode match {
    case "cdc" => Versioned.changes(spark, basePath, fromV, toV)
    case _ =>
      if (!ignoreChanges &&
          Versioned.windowRemovesRows(spark, basePath, fromV, toV))
        throw new IllegalStateException(
          s"graft-versioned stream over $basePath: versions " +
            s"($fromV, $toV] remove or rewrite rows, which append mode " +
            "cannot represent — use mode=cdc for a change feed, or " +
            "ignoreChanges=true to receive the window's net inserts " +
            "(updates arrive as new rows, deletes are dropped)")
      Versioned.changes(spark, basePath, fromV, toV)
        .filter(col("_change") === "insert").drop("_change")
  }

  private def emptyBatch(): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), declaredSchema)

  /** Conform a batch to the stream's frozen schema: missing columns
    * read null (a column dropped mid-stream), extra columns are ignored
    * until a restart refreshes the schema, and a TYPE change fails
    * loudly — silently casting would corrupt a running pipeline. */
  private def align(df: DataFrame): DataFrame =
    df.select(declaredSchema.fields.map { f =>
      if (df.columns.contains(f.name)) {
        val got = df.schema(f.name).dataType
        if (got != f.dataType) throw new IllegalStateException(
          s"graft-versioned stream over $basePath: column '${f.name}' " +
            s"changed type mid-stream (${f.dataType.simpleString} -> " +
            s"${got.simpleString}); restart the stream to adopt the " +
            "new schema")
        col(f.name)
      } else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)

  /** MicroBatchExecution requires the batch plan to be STREAMING
    * (isStreaming=true) so it can splice it over the source relation —
    * the one private[sql] touch, and the reason this class lives under
    * org.apache.spark.sql. */
  private def toStreaming(df: DataFrame): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, declaredSchema,
      isStreaming = true)
  }

  override def stop(): Unit = {
    leaseRenewer.shutdownNow()
    pins.values.forEach(_.close())
    pins.clear()
  }

  override def toString: String = s"VersionedStreamSource[$basePath, $mode]"
}
