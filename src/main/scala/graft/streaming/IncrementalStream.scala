package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming-native upgrade path for the reference's recurring
  * incremental extraction (data_extraction.py:59-107 + scheduler.py:252-267:
  * "every N minutes, pull rows past the watermark and append").
  *
  * The batch E2 (graft.engine.Extraction) is the faithful mapping; this
  * module is the Spark-idiomatic replacement: a file-source stream over the
  * source directory with checkpointed exactly-once progress instead of a
  * MAX(first-column) scan per tick, and event-time windowed aggregation
  * with watermark-based late-data handling — capabilities the reference's
  * polling loop cannot express (SURVEY.md §2.9).
  *
  * Scale notes: the file source lists/track files incrementally
  * (maxFilesPerTrigger bounds per-batch work); state for windowed
  * aggregation is keyed by (window, group) in the state store, sized by
  * watermark retention, and shuffle parallelism follows
  * spark.sql.shuffle.partitions like any agg.
  *
  * A stream screened against a corpus ([[streamingMerge]], and the
  * winnow, image, audio and IVF-PQ ingest screens in graft.northstar)
  * anti-joins a STORED artifact: a restart loads the artifact, and no
  * static side lives in a session cache that someone must release.
  */
object IncrementalStream {

  /** Open the source table directory as a stream (schema fixed up-front —
    * required by file sources; pass the batch table's schema).
    */
  def readTableStream(spark: SparkSession, dir: String, table: String,
                      schema: StructType,
                      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(s"$dir/$table.parquet")

  /** The E2-equivalent continuous load: append new source rows to the
    * target layer, exactly-once via checkpoint. Trigger.AvailableNow
    * processes everything present then stops — the batch-job analogue of
    * the reference's one-shot run; pass a ProcessingTime trigger for the
    * every-N-minutes mode (O3).
    */
  def continuousLoad(source: DataFrame, targetDir: String, table: String,
                     checkpointDir: String,
                     trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    source.writeStream
      .format("parquet")
      .option("path", s"$targetDir/$table.parquet")
      .option("checkpointLocation", s"$checkpointDir/$table")
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** Streaming exact dedup — the continuous flavor of T1/ns_exact_dedup:
    * duplicates of the key columns arriving within the watermark horizon
    * are dropped; state is bounded by the watermark (evicted once the
    * horizon passes), so memory doesn't grow with stream length. At
    * scale, state is partitioned by key across executors like any
    * stateful agg.
    */
  def streamingDedup(events: DataFrame, tsNanosCol: String,
                     keyCols: Seq[String],
                     lateness: String = "30 minutes"): DataFrame = {
    // the synthetic event-time column is internal: a plain "event_time"
    // name would clobber a caller's column of that name AND leak an
    // extra column into the output schema, breaking batch/stream schema
    // parity with the T1 twin. Reserved name + dropped after the dedup
    // (the watermark is already attached to the plan by then).
    require(!events.columns.contains("__graft_event_time"),
      "streamingDedup reserves the __graft_event_time column name")
    events
      .withColumn("__graft_event_time",
        graft.engine.Tables.nanosToTimestamp(col(tsNanosCol)))
      .withWatermark("__graft_event_time", lateness)
      .dropDuplicatesWithinWatermark(keyCols)
      .drop("__graft_event_time")
  }

  /** Continuous corpus merge: a stream of incoming documents anti-joined
    * against a corpus's STORED fingerprint set — only docs whose
    * normalized text is unseen pass through. `fingerprints` is the
    * served [[graft.northstar.Artifacts.textFingerprintsFor]] set, which
    * the caller names by `cacheKey` like every other `…For` artifact:
    *
    * {{{
    * streamingMerge(incoming,
    *   Artifacts.textFingerprintsFor(existing, cacheKey))
    * }}}
    *
    * The streaming flavor of the batch ns_corpus_merge ingest dedup: a
    * stream-static anti-join in append mode against the stored parquet,
    * so no state store is involved, no micro-batch re-reads the corpus,
    * a restart (in this JVM or another) loads the same stored set, and
    * the output is exactly-once under the sink checkpoint. Both sides
    * key on [[graft.northstar.Artifacts.textFingerprint]], so null text
    * reads SEEN against a corpus holding a null-text doc.
    */
  def streamingMerge(incoming: DataFrame, fingerprints: DataFrame,
                     textCol: String = "text"): DataFrame = {
    import graft.northstar.Artifacts
    // same reserved-column guard as streamingDedup: withColumn would
    // silently OVERWRITE a caller's __fp and the final drop would then
    // remove it from the output schema entirely
    require(!incoming.columns.contains("__fp"),
      "streamingMerge reserves the __fp column; rename it on the input")
    incoming
      .withColumn("__fp", Artifacts.textFingerprint(col(textCol)))
      .join(fingerprints.select(col("fp").as("__fp")), Seq("__fp"),
        "left_anti")
      .drop("__fp")
  }

  /** One event for [[sessionize]]: epoch-µs event time per user. */
  case class SessionEvent(user_id: Long, event_us: Long)
  /** One closed session: bounds + event count. */
  case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
                        n_events: Long)
  /** Internal per-user state for [[sessionize]] (public: encoder codegen
    * needs constructor access).
    */
  case class SessionState(start: Long, end: Long, n: Long)
  /** Per-user state: ALL gap-separated segments the watermark has not
    * yet closed — not just the latest. A segment whose successor's gap
    * closed it in-batch may still be EXTENDED or MERGED by a
    * legitimately-late event the lateness config admits, so emitting it
    * before the watermark passes `end + gap` fragmented sessions that
    * append-mode output can never retract (code-review r14).
    */
  case class SessionsState(segs: Seq[SessionState])

  /** Custom session state via flatMapGroupsWithState — the arbitrary-state
    * path for semantics `session_window` can't express (here: emit ONE
    * summary row per closed session, closing on `gapMs` inactivity via
    * event-time timeout against the watermark). State per user is the
    * still-open segment set (bounded: segments within the lateness
    * horizon — the watermark closes anything older), partitioned by user
    * across executors; timeouts fire as the watermark advances, so idle
    * users cost nothing after close.
    */
  def sessionize(events: Dataset[SessionEvent], lateness: String,
                 gapMs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMs * 1000
    // a segment is CLOSED only once the watermark strictly passes
    // end + gap: any future event has event_time >= watermark (older
    // rows are watermark-dropped before reaching update), so nothing
    // can land within gap of it. Closed segments emit; the rest stay in
    // state with the timeout at the earliest possible close point
    // (clamped above the watermark — setTimeoutTimestamp refuses
    // timestamps at or below it).
    def emitClosed(user: Long, all: Seq[SessionState],
                   state: GroupState[SessionsState]): Iterator[SessionOut] = {
      val wmUs = state.getCurrentWatermarkMs() * 1000
      val (closed, kept) = all.partition(s => s.end + gapUs < wmUs)
      if (kept.isEmpty) {
        if (state.exists) state.remove()
      } else {
        state.update(SessionsState(kept))
        state.setTimeoutTimestamp(math.max(
          kept.map(_.end).min / 1000 + gapMs,
          state.getCurrentWatermarkMs() + 1))
      }
      closed.sortBy(_.start)
        .map(s => SessionOut(user, s.start, s.end, s.n)).iterator
    }
    def update(user: Long, rows: Iterator[SessionEvent],
               state: GroupState[SessionsState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) emitClosed(user, state.get.segs, state)
      else {
        // split the batch into gap-separated SEGMENTS first: a backfill
        // or AvailableNow batch delivers a user's whole history in one
        // call, and folding it to a single (lo, hi) would bridge every
        // in-batch gap into one mega-session (code-review r13 — events
        // at t=0-10min and t=5h read as a 5-hour session)
        val times = rows.map(_.event_us).toArray
        java.util.Arrays.sort(times)
        val segs = scala.collection.mutable.ArrayBuffer.empty[SessionState]
        var segStart = times(0); var segEnd = times(0); var n = 1L
        var i = 1
        while (i < times.length) {
          val t = times(i)
          if (t - segEnd > gapUs) {
            segs += SessionState(segStart, segEnd, n)
            segStart = t; segEnd = t; n = 1L
          } else { segEnd = t; n += 1 }
          i += 1
        }
        segs += SessionState(segStart, segEnd, n)
        // fold the carried segments into the batch's IN SORT ORDER and
        // re-run the gap merge over the union: merging only with the
        // head by end-to-start distance read a late batch lying wholly
        // BEFORE a carried session (large-negative difference) as
        // contiguous, bridging an arbitrary gap into one mega-session
        // (advice r13)
        val allSegs =
          (state.getOption.toSeq.flatMap(_.segs) ++ segs).sortBy(_.start)
        val merged: Seq[SessionState] =
          allSegs.tail.foldLeft(List(allSegs.head)) { (acc, s) =>
            val cur = acc.head
            if (s.start - cur.end <= gapUs)
              SessionState(cur.start, math.max(cur.end, s.end),
                cur.n + s.n) :: acc.tail
            else s :: acc
          }.reverse
        emitClosed(user, merged, state)
      }
    }
    events
      .withColumn("event_time", timestamp_micros(col("event_us")))
      .withWatermark("event_time", lateness)
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(update)
  }

  /** Event-time windowed aggregation with late-data watermark over an
    * int64-nanos event-time column (the testdata's `ts`): counts + sums
    * per (window, key). The streaming flavor of A1 the reference lacks.
    */
  def windowedCounts(events: DataFrame, tsNanosCol: String, keyCol: String,
                     valueCol: String, windowLen: String = "1 hour",
                     lateness: String = "30 minutes"): DataFrame = {
    // reserved name + guard (the streamingDedup discipline): a plain
    // "event_time" withColumn silently REPLACED a caller's column of
    // that name, so keyCol = "event_time" grouped by the synthetic
    // per-event timestamp — one group per microsecond, silently wrong
    // aggregates (code-review r14)
    require(!events.columns.contains("__graft_event_time"),
      "windowedCounts reserves the __graft_event_time column name")
    // ...and the same clobber class on the OUTPUT side (code-review
    // r18): keyCol = "window" is an ambiguous-reference
    // AnalysisException at the window.start select; keyCol =
    // "window_start"/"n"/"total" yields a duplicate-name output schema
    // that poisons any downstream by-name select or parquet write
    val generated = Seq("window", "window_start", "n", "total")
    require(!generated.contains(keyCol),
      s"windowedCounts generates columns ${generated.mkString(", ")} — " +
        s"keyCol '$keyCol' would collide; rename the key first")
    val withTime = events.withColumn("__graft_event_time",
      graft.engine.Tables.nanosToTimestamp(col(tsNanosCol)))
    withTime
      .withWatermark("__graft_event_time", lateness)
      .groupBy(window(col("__graft_event_time"), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("n"), col("total"))
  }
}
