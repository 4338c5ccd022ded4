package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.sources.FsUtil

/** [EXT] Structured Streaming over the events schema (SURVEY §2.10 — absent
  * from the reference, which batch-models its time series; these are the
  * streaming twins of the oracle-checked batch queries in queries/Events).
  *
  * All transforms take a DataFrame so they run identically on a batch frame
  * (tested against the batch twin) or a `readStream` source. State size at
  * scale: the tumbling agg keeps one row per (window × event_type) until the
  * watermark closes it; sessionization keeps one [[SessionState]] per active
  * user, evicted by processing-time timeout — both bounded, both safe at
  * 100 TB/day ingest with keyed state partitioned across executors.
  */
object StreamingEvents {

  /** Tumbling 1-hour rollup per event type with a 2-hour watermark.
    * (Streaming twin of batch query e1_hourly_rollup.) */
  def hourlyRollup(events: DataFrame): DataFrame = events
    .withWatermark("ts", "2 hours")
    .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
    .agg(count(lit(1)).as("event_cnt"),
      // the repo's single money policy (exact integer cents) — shared
      // with the batch twin e1_hourly_rollup so the two cannot drift
      sum(graft.Tables.cents(col("value"))).as("value_cents"))
    .select(col("win.start").as("hour"), col("event_type"),
      col("event_cnt"), col("value_cents"))

  /** Sliding 1-hour window every 15 minutes (late data handled by watermark). */
  def slidingActivity(events: DataFrame): DataFrame = events
    .withWatermark("ts", "2 hours")
    .groupBy(window(col("ts"), "1 hour", "15 minutes").as("win"))
    .agg(approx_count_distinct(col("user_id")).as("approx_users"),
      count(lit(1)).as("event_cnt"))
    .select(col("win.start").as("win_start"), col("approx_users"), col("event_cnt"))

  /** Streaming dedup within the watermark horizon. The event-time column
    * must be part of the key set or Spark never evicts dedup state (the
    * id-only form grows the state store unboundedly). */
  def dedupEvents(events: DataFrame): DataFrame = events
    .withWatermark("ts", "2 hours")
    .dropDuplicates("event_id", "ts")

  /** Id-only dedup with watermark-bounded state: catches re-deliveries whose
    * retransmitted timestamp DIFFERS (at-least-once sources re-stamping on
    * retry), which the (id, ts) key form misses. State for an id is evicted
    * once the watermark passes its first-seen event time, so the store stays
    * bounded without putting ts in the key. */
  def dedupEventsById(events: DataFrame): DataFrame = events
    .withWatermark("ts", "2 hours")
    .dropDuplicatesWithinWatermark("event_id")

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionState(count: Long, start: Long, lastSeen: Long)
  case class SessionOut(user_id: Long, events: Long, duration_secs: Long)

  /** Custom stateful sessionization: 30-min inactivity gap closes a session
    * (mapGroupsWithState analog of batch e2_sessionize). Emits one row per
    * closed session; open sessions close via processing-time timeout. */
  def sessionize(events: Dataset[Event],
      gapMs: Long = 30 * 60 * 1000L): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.count, (s.lastSeen - s.start) / 1000))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastSeen <= gapMs =>
                  cur = Some(s.copy(count = s.count + 1, lastSeen = t))
                case Some(s) =>
                  closed ::= SessionOut(userId, s.count, (s.lastSeen - s.start) / 1000)
                  cur = Some(SessionState(1, t, t))
                case None =>
                  cur = Some(SessionState(1, t, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutDuration(gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Stream-stream interval join: each purchase joined to the same user's
    * clicks from the preceding hour (the streaming as-of shape). Both sides
    * carry watermarks and the join condition bounds event-time distance, so
    * Spark can expire buffered state from both sides — unbounded-state-safe
    * at 100 TB/day. */
  def clickToPurchase(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "2 hours")
    purchases.join(clicks,
      col("p_user") === col("c_user")
        && col("click_ts") <= col("purchase_ts")
        && col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("click_id"), col("purchase_ts"), col("click_ts"))
  }

  /** Stream-static enrichment join: events against a slowly-changing
    * dimension frame. The static side is re-planned (and with broadcast,
    * re-shipped) per micro-batch, so a dimension that is itself refreshed
    * between batches is picked up without restarting the query; an inner
    * equi-join against a static frame needs no watermark and keeps no
    * stream state — per-batch cost is one broadcast probe, never a shuffle
    * of the stream side. */
  def enrichWithDim(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"))

  /** Streaming near-dup document filter: key = the winnowed fingerprint
    * ([[graft.ext.TextAnalysis.fingerprints]] — lexicographic-min md5 over
    * rolling token windows), which is stable under small edits away from
    * the minimal window, so re-crawled/near-identical docs collapse to one
    * representative inside the watermark horizon. The state store holds one
    * fingerprint per surviving doc until the watermark passes it — the
    * streaming complement of the batch MinHash/SimHash pipelines (those
    * find ALL near-dup pairs; this cheaply suppresses re-arrivals at
    * ingest time, the standard first line of defense in a crawl pipeline). */
  def dedupDocsByFingerprint(docs: DataFrame, window: Int = 4): DataFrame = {
    val fp = docs.withColumn("tokens", split(col("text"), " "))
      .withColumn("fingerprint", expr(
        s"""array_min(transform(
           |  sequence(0, greatest(size(tokens) - $window, 0)),
           |  i -> md5(concat_ws(' ', slice(tokens, i + 1, $window)))))"""
          .stripMargin))
      .drop("tokens")
    fp.withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("fingerprint")
  }

  /** Production sink shape: stream → foreachBatch → partitioned parquet
    * via [[graft.sources.Layout.writePartitioned]] (dynamic partition
    * overwrite per micro-batch, date-partitioned so downstream scans
    * prune).
    *
    * Update mode emits only the CHANGED (hour × type) aggregate rows,
    * but dynamic overwrite replaces the whole touched `day=` partition
    * — writing the batch verbatim would silently DROP every other hour
    * already landed for that day (the first batch's hours vanish when
    * hour 11 updates). Each batch therefore MERGES: the touched days'
    * existing rows lose their superseded (hour, event_type) keys, the
    * batch's rows replace them, and only then does the partition
    * overwrite run. Cost per batch is a read of the touched days (a
    * pruned scan — the partition column is the point), never the sink.
    * The merged frame is eagerly localCheckpointed to cut lineage from
    * the files being overwritten (Spark refuses a write whose plan
    * still reads the target). */
  def sinkHourlyToPartitionedParquet(rollup: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    rollup
      .withColumn("day", date_format(col("hour"), "yyyy-MM-dd"))
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val b = batch.toDF().localCheckpoint(true)
        val days = b.select("day").distinct().collect()
          .map(_.getString(0)).toSeq
        if (days.nonEmpty) {
          // explicit existence probe, not a broad catch: swallowing a
          // TRANSIENT read failure here would overwrite the touched
          // days with only the batch's rows — the very data loss this
          // merge exists to prevent. The probe is per touched `day=`
          // subdirectory AND requires at least one data file in it
          // ([[FsUtil.dataFiles]]) — a sink root that exists but holds
          // no parquet yet (pre-created dir, crash before the first
          // commit) would make spark.read.parquet(root) throw
          // schema-inference errors and permanently wedge every later
          // micro-batch. Reading only the
          // touched day dirs (basePath reconstructs the partition
          // column) also keeps the per-batch cost a listing of those
          // dirs, never the whole sink root. Any failure past the probe
          // aborts the micro-batch and the engine retries it.
          def hasData(dir: String): Boolean = {
            val p = new org.apache.hadoop.fs.Path(dir)
            FsUtil.fs(spark, p).exists(p) &&
              FsUtil.dataFiles(spark, dir).hasNext
          }
          val touched = days.filter(dd => hasData(s"$path/day=$dd"))
          val existing =
            if (touched.isEmpty) None
            else Some(spark.read.option("basePath", path)
              .parquet(touched.map(dd => s"$path/day=$dd"): _*)
              // partition-type inference would read 'yyyy-MM-dd' back as
              // DATE; the sink schema keeps day as the string it was written
              .withColumn("day", col("day").cast("string")))
          val merged = existing match {
            case None => b
            case Some(ex) => ex
              .join(b.select("hour", "event_type").distinct(),
                Seq("hour", "event_type"), "left_anti")
              .unionByName(b)
              .localCheckpoint(true)
          }
          graft.sources.Layout.writePartitioned(merged, path, "day")
        }
      }
      .start()

  /** Wire a parquet-directory stream source with the events schema —
    * the production entry (`readStream` → transform → `writeStream`).
    * The stream must declare the RAW schema and apply the same
    * ts-normalization as the batch loader (`Tables.events`), or the first
    * micro-batch dies on schema conversion; both paths share
    * [[graft.Tables.normalizeEventTs]] so they cannot drift. */
  def readEventStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // normalizeEventTs's TimestampNTZ branch is only correct under a UTC
    // session — the loader owns its invariants (same pin as Tables.events)
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
    // FileStreamSource wants a directory to watch; glob-filter to the
    // events file so sibling tables' parquet never enters the stream.
    graft.Tables.normalizeEventTs(
      s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }
}
