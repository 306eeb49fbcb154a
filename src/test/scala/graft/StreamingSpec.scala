package graft

import graft.northstar.Artifacts
import graft.streaming.IncrementalStream
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Streaming E2/O3 upgrade path: exactly-once continuous load and
  * event-time windowed aggregation, driven synchronously with
  * Trigger.AvailableNow over parquet fixtures.
  */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp() = TestTmp.dir("graft-stream")

  /** Pin batch k's freshly-written part files to a deterministic mtime
    * (base + k minutes): the sessionize tests rely on FileStreamSource's
    * modification-time ordering to deliver batches in WRITE order, and a
    * coarse-mtime filesystem could stamp two appends identically,
    * reorder them, and late-drop the earlier batch's events — an
    * intermittent exact-set assertion failure (code-review r14). Files
    * from earlier stamped batches sit below the cutoff and are never
    * restamped.
    */
  private def stampBatch(dir: String, batch: Int): Unit = {
    val base = 1704067200000L // 2024-01-01, far below any real mtime
    val cutoff = base + 1000L * 60 * 60
    Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.endsWith(".parquet")
        && f.lastModified > cutoff)
      .foreach(f => assert(f.setLastModified(base + batch * 60000L),
        s"could not stamp ${f.getName}"))
  }

  test("continuousLoad: AvailableNow drains the source once; re-run picks up only new files") {
    val src = tmp(); val dst = tmp(); val ckpt = tmp()
    val t1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    t1.write.mode("append").parquet(s"$src/t.parquet")

    val schema = spark.read.parquet(s"$src/t.parquet").schema
    def runOnce(): Unit = {
      val q = IncrementalStream.continuousLoad(
        IncrementalStream.readTableStream(spark, src, "t", schema),
        dst, "t", ckpt, Trigger.AvailableNow())
      q.awaitTermination(60000)
    }
    runOnce()
    assert(spark.read.parquet(s"$dst/t.parquet").count() == 2)

    // append a new source file; only it is processed (checkpointed offsets)
    Seq((3L, "c")).toDF("id", "v").write.mode("append").parquet(s"$src/t.parquet")
    runOnce()
    val out = spark.read.parquet(s"$dst/t.parquet")
    assert(out.count() == 3)
    assert(rows(out) == Set(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))
  }

  test("dropBoilerplateLines: the frozen line set screens a stream and matches the batch screen") {
    import graft.northstar.TextAnalysis
    val src = tmp(); val ckpt = tmp()
    val corpus = Seq(
      (1L, "keep me\ncookie banner"),
      (2L, "other\ncookie banner"),
      (3L, "cookie banner\nmore"),
    ).toDF("doc_id", "text")
    val boiler = TextAnalysis.boilerplateLines(corpus, maxDocFreq = 2)
    Seq(
      (10L, "fresh\ncookie banner\nlines"),
      (11L, "Cookie  Banner"), // normalization variant → fully screened
    ).toDF("doc_id", "text").write.parquet(s"$src/in.parquet")
    val schema = spark.read.parquet(s"$src/in.parquet").schema
    // stream-static anti-join + narrow explode: runs unchanged on a stream
    val q = TextAnalysis.dropBoilerplateLines(
        IncrementalStream.readTableStream(spark, src, "in", schema), boiler)
      .writeStream.format("memory").queryName("line_serve_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("line_serve_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val batch = TextAnalysis.dropBoilerplateLines(
        spark.read.parquet(s"$src/in.parquet"), boiler).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(streamed == batch)
    assert(streamed == Set((10L, 1L, "fresh"), (10L, 3L, "lines")))
  }

  test("dsirWeights: frozen heads score a stream and match batch") {
    import graft.northstar.TextAnalysis
    val src = tmp(); val ckpt = tmp()
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(50).write.parquet(s"$src/d.parquet")
    val batchDf = spark.read.parquet(s"$src/d.parquet")
    val (tv, tt) = TextAnalysis.lmHead(batchDf.limit(20), topK = 15)
    val (rv, rt) = TextAnalysis.lmHead(batchDf, topK = 15)
    val schema = batchDf.schema
    val q = TextAnalysis.dsirWeights(
        IncrementalStream.readTableStream(spark, src, "d", schema),
        tv, tt, rv, rt)
      .writeStream.format("memory").queryName("dsir_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("dsir_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = TextAnalysis.dsirWeights(batchDf, tv, tt, rv, rt).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streamingDedup: duplicate keys within the watermark horizon collapse") {
    val src = tmp(); val ckpt = tmp()
    val base = 1704067200L * 1000000000L
    Seq(
      (base + 1L, 10L, "a"),
      (base + 2L, 10L, "a-dup"),   // same key 10 → dropped
      (base + 3L, 11L, "b"),
    ).toDF("ts", "k", "v").write.parquet(s"$src/events.parquet")
    val schema = spark.read.parquet(s"$src/events.parquet").schema
    val stream = IncrementalStream.readTableStream(spark, src, "events", schema)
    val out = IncrementalStream.streamingDedup(stream, "ts", Seq("k"))
    // schema parity with the batch twin: the synthetic event-time
    // column must not leak into the output
    assert(out.schema.fieldNames.toSeq == schema.fieldNames.toSeq)
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("dedup_out").collect().map(_.getAs[Long]("k")).sorted
    assert(got.toSeq == Seq(10L, 11L))
  }

  test("sessionize: flatMapGroupsWithState closes sessions on gap and on event-time timeout") {
    val src = tmp(); val ckpt = tmp()
    val t0 = 1704067200L * 1000000L // epoch µs
    val min = 60L * 1000000L; val hour = 60L * min; val day = 24L * hour
    // one file per batch (maxFilesPerTrigger=1) so the watermark advances
    // between batches; flush users push it far enough to fire timeouts
    // coalesce(1): each write must land as EXACTLY one file so batches
    // arrive in event-time order (multi-file writes split across batches
    // and late events get watermark-dropped)
    Seq((1L, t0), (1L, t0 + 10 * min), (2L, t0))
      .toDF("user_id", "event_us").coalesce(1).write.parquet(s"$src/s.parquet")
    stampBatch(s"$src/s.parquet", 1)
    Seq((1L, t0 + 2 * hour))
      .toDF("user_id", "event_us").coalesce(1).write.mode("append").parquet(s"$src/s.parquet")
    stampBatch(s"$src/s.parquet", 2)
    Seq((99L, t0 + 1 * day))
      .toDF("user_id", "event_us").coalesce(1).write.mode("append").parquet(s"$src/s.parquet")
    stampBatch(s"$src/s.parquet", 3)
    Seq((98L, t0 + 2 * day))
      .toDF("user_id", "event_us").coalesce(1).write.mode("append").parquet(s"$src/s.parquet")
    stampBatch(s"$src/s.parquet", 4)

    val schema = spark.read.parquet(s"$src/s.parquet").schema
    val stream = IncrementalStream.readTableStream(spark, src, "s", schema,
      maxFilesPerTrigger = 1)
    val sessions = IncrementalStream.sessionize(
      stream.as[IncrementalStream.SessionEvent], "10 minutes", gapMs = 30 * 60 * 1000L)
    val q = sessions.toDF().writeStream.format("memory").queryName("sess_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.table("sess_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
        r.getAs[Long]("end_us"), r.getAs[Long]("n_events"))).toSet
    // user 1: first session (2 events) closed by the +2h event's gap;
    // second session (1 event), user 2's, and flush user 99's closed by
    // watermark timeouts (the final watermark of +2d-10min passes 99's
    // close point; user 98's never passes its own)
    assert(got == Set(
      (1L, t0, t0 + 10 * min, 2L),
      (1L, t0 + 2 * hour, t0 + 2 * hour, 1L),
      (2L, t0, t0, 1L),
      (99L, t0 + 1 * day, t0 + 1 * day, 1L)))
  }

  test("sessionize splits IN-BATCH gaps: a backfill batch with a user's whole history yields gap-separated sessions") {
    // code-review r13: the old update() folded a whole micro-batch into
    // one (lo, hi) — under AvailableNow backfill, events at t=0-10min
    // and t=5h merged into a single 5-hour session
    val src = tmp(); val ckpt = tmp()
    val t0 = 1704067200L * 1000000L
    val min = 60L * 1000000L; val hour = 60L * min; val day = 24L * hour
    // ONE batch: user 1's entire history (two gap-separated bursts)
    // plus a far-future flush user to advance the watermark next batch
    Seq((1L, t0), (1L, t0 + 10 * min), (1L, t0 + 5 * hour),
        (1L, t0 + 5 * hour + 5 * min))
      .toDF("user_id", "event_us").coalesce(1).write.parquet(s"$src/s.parquet")
    Seq((99L, t0 + 2 * day))
      .toDF("user_id", "event_us").coalesce(1).write.mode("append")
      .parquet(s"$src/s.parquet")
    val schema = spark.read.parquet(s"$src/s.parquet").schema
    val stream = IncrementalStream.readTableStream(spark, src, "s", schema,
      maxFilesPerTrigger = 1)
    val sessions = IncrementalStream.sessionize(
      stream.as[IncrementalStream.SessionEvent], "10 minutes",
      gapMs = 30 * 60 * 1000L)
    val q = sessions.toDF().writeStream.format("memory")
      .queryName("sess_backfill")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("sess_backfill").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
        r.getAs[Long]("end_us"), r.getAs[Long]("n_events"))).toSet
    // burst 1 closed IN-BATCH by burst 2's gap; burst 2 closed by the
    // flush user's watermark advance
    assert(got == Set(
      (1L, t0, t0 + 10 * min, 2L),
      (1L, t0 + 5 * hour, t0 + 5 * hour + 5 * min, 2L)), got.toString)
  }

  test("sessionize: a late batch wholly BEFORE the carried session closes separately, never bridging the gap") {
    // advice r13: the head-only merge condition (segs.head.start -
    // s.end <= gapUs) was trivially true for a large-NEGATIVE
    // difference, so a late burst hours before the carried session
    // bridged into one mega-session
    val src = tmp(); val ckpt = tmp()
    val t0 = 1704067200L * 1000000L
    val hour = 3600L * 1000000L; val day = 24L * hour
    // batch 1 carries a session at t0+5h; batch 2 delivers a LATE event
    // at t0 (inside the 6h lateness, 5h before the carried session —
    // far past the 30min gap); batch 3 flushes the watermark
    Seq((1L, t0 + 5 * hour))
      .toDF("user_id", "event_us").coalesce(1).write.parquet(s"$src/s.parquet")
    stampBatch(s"$src/s.parquet", 1)
    Seq((1L, t0))
      .toDF("user_id", "event_us").coalesce(1).write.mode("append")
      .parquet(s"$src/s.parquet")
    stampBatch(s"$src/s.parquet", 2)
    Seq((99L, t0 + 2 * day))
      .toDF("user_id", "event_us").coalesce(1).write.mode("append")
      .parquet(s"$src/s.parquet")
    stampBatch(s"$src/s.parquet", 3)
    val schema = spark.read.parquet(s"$src/s.parquet").schema
    val stream = IncrementalStream.readTableStream(spark, src, "s", schema,
      maxFilesPerTrigger = 1)
    val sessions = IncrementalStream.sessionize(
      stream.as[IncrementalStream.SessionEvent], "6 hours",
      gapMs = 30 * 60 * 1000L)
    val q = sessions.toDF().writeStream.format("memory")
      .queryName("sess_late")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("sess_late").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
        r.getAs[Long]("end_us"), r.getAs[Long]("n_events"))).toSet
    // the t0 burst closes as its own 1-event session (emitted in-batch,
    // its successor being 5h away); the t0+5h session closes by
    // watermark — NOT one (t0, t0+5h, 2) mega-session
    assert(got.filter(_._1 == 1L) == Set(
      (1L, t0, t0, 1L),
      (1L, t0 + 5 * hour, t0 + 5 * hour, 1L)), got.toString)
  }

  test("sessionize: a late event EXTENDS a gap-closed segment instead of fragmenting it") {
    // code-review r14: in-batch gap-closed segments were emitted
    // immediately, so a legitimately-late event the lateness admits
    // could no longer merge — append output carried fragmented
    // sessions it can never retract. Segments now wait in state until
    // the watermark passes end + gap.
    val src = tmp(); val ckpt = tmp()
    val t0 = 1704067200L * 1000000L
    val min = 60L * 1000000L; val hour = 60L * min; val day = 24L * hour
    // batch 1: two gap-separated segments (t0 and t0+1h; gap 30min) —
    // the old code emitted the t0 segment here, unmergeable forever
    Seq((1L, t0), (1L, t0 + 1 * hour))
      .toDF("user_id", "event_us").coalesce(1).write.parquet(s"$src/s.parquet")
    stampBatch(s"$src/s.parquet", 1)
    // batch 2: a late event at t0+20min (2h lateness admits it) that
    // belongs INSIDE the first session
    Seq((1L, t0 + 20 * min))
      .toDF("user_id", "event_us").coalesce(1).write.mode("append")
      .parquet(s"$src/s.parquet")
    stampBatch(s"$src/s.parquet", 2)
    // batch 3: flush user advances the watermark past both close points
    Seq((99L, t0 + 1 * day))
      .toDF("user_id", "event_us").coalesce(1).write.mode("append")
      .parquet(s"$src/s.parquet")
    stampBatch(s"$src/s.parquet", 3)
    val schema = spark.read.parquet(s"$src/s.parquet").schema
    val stream = IncrementalStream.readTableStream(spark, src, "s", schema,
      maxFilesPerTrigger = 1)
    val sessions = IncrementalStream.sessionize(
      stream.as[IncrementalStream.SessionEvent], "2 hours",
      gapMs = 30 * 60 * 1000L)
    val q = sessions.toDF().writeStream.format("memory")
      .queryName("sess_extend")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("sess_extend").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
        r.getAs[Long]("end_us"), r.getAs[Long]("n_events"))).toSet
    // ONE merged first session [t0, t0+20min] with both events — never
    // the fragmented (t0,t0,1) + (t0+20min,t0+20min,1) pair
    assert(got.filter(_._1 == 1L) == Set(
      (1L, t0, t0 + 20 * min, 2L),
      (1L, t0 + 1 * hour, t0 + 1 * hour, 1L)), got.toString)
  }

  test("streamingMerge: null-text duplicates read as SEEN, matching corpusDiff's null-safe semantics") {
    import spark.implicits._
    val existing = Seq((1L, null: String), (2L, "real text"))
      .toDF("doc_id", "text")
    val incoming = Seq((10L, null: String), (11L, "brand new"))
      .toDF("doc_id", "text")
    // batch evaluation of the same plan (stream parity is covered by
    // the merge test below): the null-text re-delivery must NOT pass
    val out = IncrementalStream.streamingMerge(incoming,
        Artifacts.textFingerprintsFor(existing,
          s"stream-merge-null-${System.nanoTime()}"))
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(11L), out.toString)
  }

  test("streamingMerge: stream-static anti-join drops docs already in the corpus") {
    val src = tmp(); val ckpt = tmp()
    val existing = Seq((1L, "the quick brown fox"), (2L, "hello world"))
      .toDF("doc_id", "text")
    Seq(
      (10L, "THE  Quick   Brown FOX"), // normalization variant of doc 1 → dropped
      (11L, "hello world"),            // exact dup of doc 2 → dropped
      (12L, "genuinely new document"),
    ).toDF("doc_id", "text").write.parquet(s"$src/in.parquet")
    val schema = spark.read.parquet(s"$src/in.parquet").schema
    val out = IncrementalStream.streamingMerge(
      IncrementalStream.readTableStream(spark, src, "in", schema),
      Artifacts.textFingerprintsFor(existing,
        s"stream-merge-${System.nanoTime()}"))
    val q = out.writeStream.format("memory").queryName("merge_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("merge_out").collect().map(_.getAs[Long]("doc_id")).toSet
    assert(got == Set(12L))
  }

  test("streamingMerge restarts against the STORED fingerprint set: two " +
       "AvailableNow runs publish it once, no micro-batch reads the " +
       "corpus, and the output equals the batch anti-join") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import org.apache.spark.sql.graftbridge.Bridge
    val src = tmp(); val ckpt = tmp(); val corpusDir = tmp()
    // one key per test: the suites share the session and the store
    val key = s"stream-merge-restart-${System.nanoTime()}"
    Seq((1L, "the quick brown fox"), (2L, "hello world"), (3L, null: String))
      .toDF("doc_id", "text").write.parquet(s"$corpusDir/docs.parquet")
    val existing = spark.read.parquet(s"$corpusDir/docs.parquet")
    Seq((10L, "THE  Quick   Brown FOX"), (11L, "first new doc"))
      .toDF("doc_id", "text").write.parquet(s"$src/in.parquet")
    val schema = spark.read.parquet(s"$src/in.parquet").schema
    val store = Artifacts.pathFor("textfp", s"$key-text")
    // every stored file with its mtime: a second publish would change it
    def published(): Seq[(String, Long)] = {
      val root = new java.io.File(store).toPath
      val files = Files.walk(root)
      try files.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => root.relativize(f).toString -> f.toFile.lastModified)
        .toSeq.sorted
      finally files.close()
    }
    // the physical plan of every micro-batch: the SQL executions the
    // named query runs that scan the stream's source directory (the
    // foreachBatch body's own collect scans only the batch's rows)
    val name = s"merge_restart_${System.nanoTime()}"
    val batchPlans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.description.contains(name) &&
              s.physicalPlanDescription.contains(src) =>
          batchPlans.add(s.physicalPlanDescription): Unit
        case _ => ()
      }
    }
    // the memory sink cannot restart from a checkpoint; foreachBatch can
    val streamedIds = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def run(): Unit = {
      val q = IncrementalStream.streamingMerge(
          IncrementalStream.readTableStream(spark, src, "in", schema),
          Artifacts.textFingerprintsFor(existing, key))
        .writeStream.queryName(name).option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("doc_id").collect()
            .foreach(r => streamedIds.add(r.getLong(0)))
        }
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000) && q.exception.isEmpty)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      run()
      val first = published()
      assert(first.exists(_._1 == "_SUCCESS"), first.toString)
      // a new batch file, then a restart from the checkpoint, same key
      Seq((12L, "hello   WORLD"), (13L, null: String),
        (14L, "second new doc"))
        .toDF("doc_id", "text").write.mode("append")
        .parquet(s"$src/in.parquet")
      run()
      assert(published() == first,
        "the restart must load the stored set, not publish it again")
      Bridge.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    val plans = batchPlans.asScala.toSeq
    assert(plans.size >= 2, s"expected a micro-batch per run: $plans")
    plans.foreach { plan =>
      assert(!plan.contains(corpusDir), s"a micro-batch read the corpus: $plan")
      assert(plan.contains(store), s"a micro-batch missed the stored set: $plan")
    }
    val streamed = streamedIds.asScala.toSeq.sorted
    val batch = IncrementalStream.streamingMerge(
        spark.read.parquet(s"$src/in.parquet"),
        Artifacts.textFingerprintsFor(existing, key))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(streamed == batch && batch == Seq(11L, 14L),
      s"streamed $streamed vs batch $batch")
  }

  test("winnow ingest: a streamed batch against the stored winnow index matches batch winnowPairsAgainstIndex") {
    import graft.northstar.{Artifacts, Dedup}
    import org.apache.spark.sql.functions.col
    val src = tmp(); val ckpt = tmp()
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").filter(col("doc_id") < 200)
    // the stored index IS the corpus-side state (ns_winnow_incoming's
    // serving shape); the incoming batch reuses corpus text under
    // shifted ids so true overlaps exist
    val stored = Artifacts.winnowSketchFor(corpus,
      s"streaming-spec-win-${System.nanoTime()}")
    corpus.filter(col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .write.parquet(s"$src/in.parquet")
    val schema = spark.read.parquet(s"$src/in.parquet").schema
    // the full serving op applied VERBATIM to the streaming frame: the
    // in-row sketch is narrow, the index probe is a stream-static
    // equi-join, and the shared-fp rollup is a streaming aggregation
    // (complete mode — the batch is finite under AvailableNow)
    val q = Dedup.winnowPairsAgainstIndex(
        IncrementalStream.readTableStream(spark, src, "in", schema), stored)
      .writeStream.format("memory").queryName("win_ingest_out")
      .option("checkpointLocation", ckpt)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("win_ingest_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Dedup.winnowPairsAgainstIndex(
        spark.read.parquet(s"$src/in.parquet"), stored).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch && batch.nonEmpty)
    // every incoming doc must at least rediscover its own corpus source
    val selfPairs = streamed.filter { case (a, b, _) => a - 1000000L == b }
    assert(selfPairs.size == batch.count { case (a, b, _) => a - 1000000L == b }
      && selfPairs.nonEmpty)
  }

  test("image ingest: a streamed asset batch against a static corpus " +
       "fingerprint set matches batch imageDupIncoming (VERDICT r18 task 7)") {
    import graft.northstar.Multimodal
    val src = tmp(); val ckpt = tmp()
    val ids = 0L until 30L
    val originals = ids.map(id =>
      (id, Multimodal.syntheticPatternPng(id, scale = 2)))
    val incoming = ids.filter(_ % 3 == 0).map(id => (id + 1000L,
      Multimodal.syntheticPatternPng(id, flipTopLeft = true, scale = 2)))
    incoming.toDF("asset_id", "payload").write.parquet(s"$src/in.parquet")
    // the corpus is hashed ONCE and pinned by the caller (the op's
    // documented contract); the streaming side is stateless — chunk
    // explode + stream-static equi-join + per-row first-shared-chunk
    // dedup, so append mode needs no watermark and no state store
    val corpusSigs = Multimodal.imageHashes(
      originals.toDF("asset_id", "payload")).persist()
    corpusSigs.count()
    try {
      val schema = spark.read.parquet(s"$src/in.parquet").schema
      val q = Multimodal.imageDupIncoming(
          IncrementalStream.readTableStream(spark, src, "in", schema),
          corpusSigs)
        .writeStream.format("memory").queryName("img_ingest_out")
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Number](2).longValue)).toSet
      val streamed = asSet(spark.table("img_ingest_out"))
      val batch = asSet(Multimodal.imageDupIncoming(
        spark.read.parquet(s"$src/in.parquet"), corpusSigs))
      assert(streamed == batch && batch.nonEmpty)
      // every flipped copy rediscovers exactly its original within
      // Hamming 1 (md5-random patterns keep everything else ~32 away)
      assert(streamed.count { case (a, b, h) =>
        a - 1000L == b && h <= 1 } == incoming.size)
    } finally corpusSigs.unpersist()
  }

  test("embedding ingest: a streamed batch against the stored IVF-PQ codes index matches batch annMatchesIncoming") {
    import graft.northstar.{Artifacts, Pq}
    import org.apache.spark.sql.functions.col
    val src = tmp(); val ckpt = tmp()
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (index, splits, centroids, codebooks) = Artifacts.ivfPqIndexFor(
      emb, cacheKey = s"streaming-spec-pq-${System.nanoTime()}",
      nCells = 4, m = 8)
    emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      .write.parquet(s"$src/in.parquet")
    val schema = spark.read.parquet(s"$src/in.parquet").schema
    // the full serving op applied VERBATIM to the streaming frame:
    // narrow cell/subcell assignment, two stream-static equi-joins, no
    // window, no probed-cell collect — append mode, stateless
    val q = Pq.annMatchesIncoming(
        IncrementalStream.readTableStream(spark, src, "in", schema),
        index, emb, centroids, splits, codebooks, thresholdE4 = 3500)
      .writeStream.format("memory").queryName("pq_ingest_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("pq_ingest_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Pq.annMatchesIncoming(
        spark.read.parquet(s"$src/in.parquet"),
        index, emb, centroids, splits, codebooks, thresholdE4 = 3500)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch && batch.nonEmpty)
    // every incoming copy rediscovers its corpus source at cosine 1.0
    val self = streamed.filter { case (a, b, s) =>
      a - 1000000L == b && s == 10000L }
    assert(self.size == 50)
  }

  test("image ingest serves from the STORED fingerprint index: the " +
       "streamed screen equals the batch screen against the loaded " +
       "CappedIndex.imageHash index — restarts load 8-byte sigs, never " +
       "re-decode (VERDICT r19 task 2)") {
    import graft.northstar.{Artifacts, Multimodal}
    val src = tmp(); val ckpt = tmp()
    val ids = 0L until 30L
    val originals = ids.map(id =>
      (id, Multimodal.syntheticPatternPng(id)))
    val incoming = ids.filter(_ % 3 == 0).map(id => (id + 1000L,
      Multimodal.syntheticPatternPng(id, flipTopLeft = true)))
    incoming.toDF("asset_id", "payload").write.parquet(s"$src/in.parquet")
    val p = s"${tmp()}/phash"
    Artifacts.CappedIndex.imageHash()
      .save(originals.toDF("asset_id", "payload"), p)
    // the serving path: the STORED (id, sig) frame feeds the screen —
    // a stream-static join against parquet, stateless on the stream
    val stored = Artifacts.CappedIndex.imageHash().load(spark, p)
    val schema = spark.read.parquet(s"$src/in.parquet").schema
    val name = s"img_stored_ingest_${System.nanoTime()}"
    val q = Multimodal.imageDupIncoming(
        IncrementalStream.readTableStream(spark, src, "in", schema),
        stored)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue)).toSet
    val streamed = asSet(spark.table(name))
    val batch = asSet(Multimodal.imageDupIncoming(
      spark.read.parquet(s"$src/in.parquet"), stored))
    assert(streamed == batch && batch.nonEmpty)
    assert(streamed.count { case (a, b, h) =>
      a - 1000L == b && h <= 1 } == incoming.size)
  }

  test("audio ingest: a streamed asset batch against the STORED audio " +
       "fingerprint index matches batch audioDupIncoming (VERDICT r19 " +
       "task 5)") {
    import graft.northstar.{Artifacts, Multimodal}
    val src = tmp(); val ckpt = tmp()
    val ids = 0L until 30L
    val originals = ids.map(id =>
      (id, Multimodal.syntheticPatternWav(id)))
    val incoming = ids.filter(_ % 3 == 0).map(id => (id + 1000L,
      Multimodal.syntheticPatternWav(id, flipFirst = true)))
    incoming.toDF("asset_id", "payload").write.parquet(s"$src/in.parquet")
    val p = s"${tmp()}/ahash"
    Artifacts.CappedIndex.audioHash()
      .save(originals.toDF("asset_id", "payload"), p)
    val stored = Artifacts.CappedIndex.audioHash().load(spark, p)
    val schema = spark.read.parquet(s"$src/in.parquet").schema
    val name = s"aud_stored_ingest_${System.nanoTime()}"
    val q = Multimodal.audioDupIncoming(
        IncrementalStream.readTableStream(spark, src, "in", schema),
        stored)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue)).toSet
    val streamed = asSet(spark.table(name))
    val batch = asSet(Multimodal.audioDupIncoming(
      spark.read.parquet(s"$src/in.parquet"), stored))
    assert(streamed == batch && batch.nonEmpty)
    assert(streamed.count { case (a, b, h) =>
      a - 1000L == b && h <= 1 } == incoming.size)
  }

  test("streamingMerge refuses a caller-supplied __fp column instead of clobbering it") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val existing = Seq((1L, "seen")).toDF("doc_id", "text")
    val incoming = Seq((2L, "new")).toDF("doc_id", "text")
      .withColumn("__fp", lit(0L))
    val e = intercept[IllegalArgumentException] {
      IncrementalStream.streamingMerge(incoming,
        Artifacts.textFingerprintsFor(existing,
          s"stream-merge-fp-${System.nanoTime()}"))
    }
    assert(e.getMessage.contains("__fp"), e.getMessage)
  }

  test("nightly loop: foreachBatch screens an embedding stream against the stored index and APPENDS the novel rows") {
    // the full serving lifecycle in one stream: match incoming against
    // the stored codes index (exact duplicates screened out at
    // thresholdE4=9999), append only the novel vectors with the PINNED
    // quantizers — post-stream, the index must be row-identical to a
    // from-scratch rebuild on corpus0 + novel (the append==rebuild
    // contract, exercised through the streaming path end-to-end)
    import graft.northstar.{Artifacts, Ivf, Pq}
    import org.apache.spark.sql.functions.col
    val src = tmp(); val ckpt = tmp()
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus0 = emb.filter(col("vec_id") < 400)
    val cents = Ivf.fitCentroids(corpus0, nCells = 4)
    val cb = graft.northstar.Pq.fitCodebooks(corpus0, m = 8, ksub = 16)
    val path = s"${tmp()}/idx"
    Artifacts.saveIvfPqIndex(corpus0, path, cents, cb, "vec_id",
      "embedding", 100000)
    // incoming batch: 50 exact copies of indexed vectors (must be
    // screened OUT) + the 100 genuinely novel tail vectors
    val copies = emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    copies.unionAll(
        emb.filter(col("vec_id") >= 400).select("vec_id", "embedding"))
      .write.parquet(s"$src/in.parquet")
    val schema = spark.read.parquet(s"$src/in.parquet").schema
    val q = IncrementalStream.readTableStream(spark, src, "in", schema)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val (index, splits) = Artifacts.loadIvfPqIndex(spark, path,
          cents, cb)
        // screen with the wide proven setting (the ADC bar sits at
        // threshold - margin; a 9999 threshold would demand ADC >= 0.85
        // of a 32-bit code, which exact copies routinely miss), then
        // call a survivor a duplicate on its EXACT confirmed cosine —
        // annMatchesIncoming emits true e4 sims, so the dup decision is
        // exact even though the screen is approximate
        val dups = Pq.annMatchesIncoming(batch, index, corpus0, cents,
          splits, cb, thresholdE4 = 3500)
          .filter(col("sim_e4") >= 9999)
          .select(col("incoming_id").as("vec_id")).distinct()
        val novel = batch.join(dups, Seq("vec_id"), "left_anti")
        Artifacts.appendIvfPqIndex(novel, corpus0, path, cents, cb): Unit
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val (idxA, splitsA) = Artifacts.loadIvfPqIndex(spark, path, cents, cb)
    // rebuild on the union the screen should have produced
    val union = corpus0.unionAll(emb.filter(col("vec_id") >= 400))
    val pU = s"${tmp()}/idx"
    Artifacts.saveIvfPqIndex(union, pU, cents, cb, "vec_id", "embedding",
      100000)
    val (idxU, splitsU) = Artifacts.loadIvfPqIndex(spark, pU, cents, cb)
    assert(splitsA == splitsU)
    assert(rows(idxA) == rows(idxU)) // copies screened, novel appended
    // and the appended index serves identically to the rebuilt one
    val probe = emb.filter(col("vec_id") < 5)
    assert(rows(Pq.ivfPqServeTopK(probe, idxA, union, cents, splitsA, cb,
        k = 10, nProbe = 2, rerank = 30))
      == rows(Pq.ivfPqServeTopK(probe, idxU, union, cents, splitsU, cb,
        k = 10, nProbe = 2, rerank = 30)))
    // lifecycle close-out (r14): a TAKEDOWN of the streamed-in tail
    // must bring the live index back to exactly the pre-stream state —
    // ingest → screen → append → remove composes to the identity on
    // the stored artifact
    val removedSplits = Artifacts.removeFromIvfPqIndex(
      emb.filter(col("vec_id") >= 400).select("vec_id"), corpus0, path,
      cents, cb)
    val p0 = s"${tmp()}/idx"
    Artifacts.saveIvfPqIndex(corpus0, p0, cents, cb, "vec_id",
      "embedding", 100000)
    val (idx0, splits0) = Artifacts.loadIvfPqIndex(spark, p0, cents, cb)
    val (idxR, _) = Artifacts.loadIvfPqIndex(spark, path, cents, cb)
    assert(removedSplits == splits0)
    assert(rows(idxR) == rows(idx0))
  }

  test("takedown lands BETWEEN micro-batches: the post-removal batch screens " +
       "against the difference index exactly (VERDICT r14 task 7)") {
    // the stale-static-side hazard: a streaming query that captured the
    // index plan once would keep serving removed documents (or crash on
    // their deleted files) after a mid-stream takedown. The nightly-loop
    // serving pattern loads the index INSIDE foreachBatch, so each
    // micro-batch plans against the live artifact — this pins that a
    // removal landing between batch 0 and batch 1 is fully visible:
    // batch 0 matches the full index (victim pairs present), batch 1
    // matches the difference index exactly (and equals the batch-mode
    // probe against a from-scratch difference rebuild).
    import graft.northstar.{Artifacts, Dedup}
    import org.apache.spark.sql.functions.col
    val src = tmp(); val ckpt = tmp()
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").filter(col("doc_id") < 100)
    val path = s"${tmp()}/winidx"
    val winnow = Artifacts.CappedIndex.winnow(maxBucket = 100)
    winnow.save(corpus, path)
    val victims = corpus.filter(col("doc_id") >= 50).select("doc_id")
    val inDir = s"$src/in.parquet"
    // batch 0: copies of docs 0..59 (ids +1M) — overlaps the victims;
    // batch 1: copies of docs 20..79 (ids +2M). coalesce(1) + mtime
    // stamps + maxFilesPerTrigger=1 make them two ordered micro-batches
    corpus.filter(col("doc_id") < 60)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .coalesce(1).write.mode("append").parquet(inDir)
    stampBatch(inDir, 1)
    corpus.filter(col("doc_id") >= 20 && col("doc_id") < 80)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      .coalesce(1).write.mode("append").parquet(inDir)
    stampBatch(inDir, 2)
    val schema = spark.read.parquet(inDir).schema
    val got = scala.collection.mutable.Map[Long, Set[(Long, Long, Long)]]()
    val q = IncrementalStream
      .readTableStream(spark, src, "in", schema, maxFilesPerTrigger = 1)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val idx = winnow.load(spark, path)
        got.synchronized {
          got(id) = Dedup
            .winnowPairsAgainstIndex(batch, idx, maxBucket = 100)
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        }
        // the takedown, after batch 0 completes and before batch 1 plans
        if (id == 0L)
          winnow.remove(victims, path): Unit
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(got.keySet == Set(0L, 1L), got.keySet.toString)
    // mtime ordering delivered batch 0 = the +1M slice
    assert(got(0L).forall { case (a, _, _) => a >= 1000000L && a < 2000000L })
    assert(got(1L).forall { case (a, _, _) => a >= 2000000L })
    // batch 0 saw the FULL index: the victim copies found their sources
    assert(got(0L).exists { case (_, b, _) => b >= 50L },
      "pre-removal batch produced no victim pairs — nothing to take down")
    // batch 1 saw the DIFFERENCE index: no pair references a victim ...
    assert(got(1L).forall { case (_, b, _) => b < 50L }, got(1L).toString)
    assert(got(1L).nonEmpty) // ... and survivors still match (docs 20..49)
    // ... and it equals the batch-mode probe against a from-scratch
    // build on the difference corpus, row-exactly
    val diffPath = s"${tmp()}/winidx-diff"
    winnow.save(corpus.filter(col("doc_id") < 50), diffPath)
    val expect = Dedup.winnowPairsAgainstIndex(
        corpus.filter(col("doc_id") >= 20 && col("doc_id") < 80)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")),
        winnow.load(spark, diffPath),
        maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got(1L) == expect)
  }

  test("hier embedding ingest: streamed batch == batch screen == the " +
       "literal family under full probing (window-free, append-mode)") {
    import graft.northstar.{Artifacts, Ivf, Pq}
    import org.apache.spark.sql.functions.col
    val src = tmp(); val ckpt = tmp()
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (index, splits, centroids, codebooks) = Artifacts.ivfPqIndexFor(
      emb, cacheKey = s"streaming-spec-pqh-${System.nanoTime()}",
      nCells = 4, m = 8)
    // one supercell + perSuperProbe >= nCells: the hier probe admits
    // every cell, so it must equal the literal screen probing all cells
    // — same stored index (hq.centroids IS the index's quantizer)
    val hq = Ivf.HierarchicalQuantizer(
      Array(Array.fill(64)(0.1f)), centroids, superProbe = 1)
    emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      .write.parquet(s"$src/in.parquet")
    val schema = spark.read.parquet(s"$src/in.parquet").schema
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val q = Pq.annMatchesIncoming(
        IncrementalStream.readTableStream(spark, src, "in", schema),
        index, emb, hq, splits, codebooks, thresholdE4 = 3500,
        perSuperProbe = 4)
      .writeStream.format("memory").queryName("pq_hier_ingest_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = pairs(spark.table("pq_hier_ingest_out"))
    val batchIn = spark.read.parquet(s"$src/in.parquet")
    val batch = pairs(Pq.annMatchesIncoming(batchIn, index, emb, hq,
      splits, codebooks, thresholdE4 = 3500, perSuperProbe = 4))
    assert(streamed == batch && batch.nonEmpty)
    // full probing == the literal family probing all cells
    val literal = pairs(Pq.annMatchesIncoming(batchIn, index, emb,
      centroids, splits, codebooks, thresholdE4 = 3500, nProbe = 4))
    assert(streamed == literal)
    // every incoming copy rediscovers its corpus source at cosine 1.0
    assert(streamed.count { case (a, b, s) =>
      a - 1000000L == b && s == 10000L } == 50)
  }

  test("stored-cells embedding ingest: streamed batch == batch screen " +
       "== the literal family under full probing — window-free even " +
       "with a HIERARCHICAL top level") {
    import graft.northstar.{Artifacts, Ivf, Pq}
    import org.apache.spark.sql.functions.col
    val src = tmp(); val ckpt = tmp()
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (index, splits, centroids, codebooks) = Artifacts.ivfPqIndexFor(
      emb, cacheKey = s"streaming-spec-pqs-${System.nanoTime()}",
      nCells = 4, m = 8)
    // the full three levels: one super²-cell literal, 2 supercells as
    // the hier top's cells, 4 index cells stored as parquet. Full
    // probing (superProbe == nSuper, perSuperProbe >= nCells) admits
    // every cell, so the screen must equal the literal family probing
    // all cells — and the probe must be WINDOW-FREE (streaming refuses
    // windows; the batch stored probe ranks a hier top with one)
    val supers = Ivf.fitCentroids(emb, nCells = 2, seed = 7L)
    val cellsPath = tmp() + "/cells"
    Ivf.HierarchicalQuantizer(supers, centroids, superProbe = 2)
      .cellsRelation(spark).select("cell", "sup", "ccv")
      .write.parquet(cellsPath)
    val topHq = Ivf.HierarchicalQuantizer(
      Array(Array.fill(64)(0.1f)), supers, superProbe = 1)
    val sq = Ivf.StoredQuantizer(topHq, cellsPath, 4,
      centroids(0).length, superProbe = 2)
    emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      .write.parquet(s"$src/in.parquet")
    val schema = spark.read.parquet(s"$src/in.parquet").schema
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val q = Pq.annMatchesIncoming(
        IncrementalStream.readTableStream(spark, src, "in", schema),
        index, emb, sq, splits, codebooks, thresholdE4 = 3500,
        perSuperProbe = 4)
      .writeStream.format("memory").queryName("pq_stored_ingest_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = pairs(spark.table("pq_stored_ingest_out"))
    val batchIn = spark.read.parquet(s"$src/in.parquet")
    val batch = pairs(Pq.annMatchesIncoming(batchIn, index, emb,
      sq, splits, codebooks, thresholdE4 = 3500, perSuperProbe = 4))
    assert(streamed == batch && batch.nonEmpty)
    val literal = pairs(Pq.annMatchesIncoming(batchIn, index, emb,
      centroids, splits, codebooks, thresholdE4 = 3500, nProbe = 4))
    assert(streamed == literal)
    assert(streamed.count { case (a, b, s) =>
      a - 1000000L == b && s == 10000L } == 50)
  }

  test("curation projection runs unchanged on a stream and matches the batch result") {
    import graft.northstar.TextAnalysis
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    val src = tmp(); val ckpt = tmp()
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.parquet(s"$src/docs.parquet")
    // the batch curation pass, applied verbatim to a streaming frame —
    // narrow projections/filters are engine-mode agnostic
    def curate(df: DataFrame): DataFrame =
      TextAnalysis.qualityScore(df)
        .withColumn("lang_guess", TextAnalysis.languageId(col("text")))
        .filter(col("q_score") >= 0.5 && col("lang_guess") === "en")
        .select(col("doc_id"), col("q_score"))
    val schema = spark.read.parquet(s"$src/docs.parquet").schema
    val q = curate(IncrementalStream.readTableStream(spark, src, "docs", schema))
      .writeStream.format("memory").queryName("cur_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("cur_out").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val batch = curate(spark.read.parquet(s"$src/docs.parquet")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("scoreWithLm: the frozen-head scorer runs unchanged on a stream and matches batch") {
    import graft.northstar.TextAnalysis
    import org.apache.spark.sql.functions.col
    val src = tmp(); val ckpt = tmp()
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.parquet(s"$src/docs.parquet")
    val batchDocs = spark.read.parquet(s"$src/docs.parquet")
    // train offline on the batch corpus, then serve the SAME scorer on
    // a stream — stateless narrow plan, no state store, no shuffle
    val (vocab, total) = TextAnalysis.lmHead(batchDocs, topK = 30)
    val schema = batchDocs.schema
    val q = TextAnalysis.scoreWithLm(
        IncrementalStream.readTableStream(spark, src, "docs", schema),
        vocab, total)
      .writeStream.format("memory").queryName("lm_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("lm_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = TextAnalysis.scoreWithLm(batchDocs, vocab, total).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch && batch.nonEmpty)
    // every score is a proper mean log-prob: negative, finite
    assert(batch.forall { case (_, _, lp) => lp < 0 && !lp.isNaN })
  }

  test("scoreQ: the frozen-probe scorer runs unchanged on a stream and matches batch") {
    import graft.northstar.Probe
    val src = tmp(); val ckpt = tmp()
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .write.parquet(s"$src/emb.parquet")
    val batchEmb = spark.read.parquet(s"$src/emb.parquet")
    // train offline on the batch corpus, then serve the SAME frozen
    // weights on a stream — stateless narrow plan, no state store
    val w = Probe.trainQ(batchEmb, iters = 2)
    val schema = batchEmb.schema
    val q = Probe.scoreQ(
        IncrementalStream.readTableStream(spark, src, "emb", schema), w)
      .writeStream.format("memory").queryName("probe_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("probe_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val batch = Probe.scoreQ(batchEmb, w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("corpusDiffIncoming: streamed batch vs static snapshot matches batch diff") {
    import graft.northstar.Dedup
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val src = tmp(); val ckpt = tmp()
    val old = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    // incoming: some edited, some re-keyed (added), rest kept
    old.select(col("doc_id"),
        when(col("doc_id") % 4 === 0, concat(col("text"), lit(" edit")))
          .otherwise(col("text")).as("text"))
      .union(old.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 500000).as("doc_id"), col("text")))
      .write.parquet(s"$src/in.parquet")
    val schema = spark.read.parquet(s"$src/in.parquet").schema
    val q = Dedup.corpusDiffIncoming(
        IncrementalStream.readTableStream(spark, src, "in", schema), old)
      .writeStream.format("memory").queryName("diff_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("diff_out").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = Dedup.corpusDiffIncoming(
        spark.read.parquet(s"$src/in.parquet"), old).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch && batch.nonEmpty)
    assert(Set("added", "changed", "kept").subsetOf(batch.map(_._2)))
  }

  test("scoreWithBm25: the frozen-stats scorer runs unchanged on a stream and matches batch") {
    import graft.northstar.TextAnalysis
    val src = tmp(); val ckpt = tmp()
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.parquet(s"$src/docs.parquet")
    val batchDocs = spark.read.parquet(s"$src/docs.parquet")
    // train the df/avgdl stats offline, then serve the SAME scorer on a
    // stream — in-row tf against driver-side idf constants: stateless,
    // narrow, zero shuffle
    val (dfm, n, s) = TextAnalysis.bm25Stats(batchDocs, Seq("hash", "join"))
    val q = TextAnalysis.scoreWithBm25(
        IncrementalStream.readTableStream(spark, src, "docs", batchDocs.schema),
        dfm, n, s)
      .writeStream.format("memory").queryName("bm25_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("bm25_out").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val batch = TextAnalysis.scoreWithBm25(batchDocs, dfm, n, s).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("gopher rules + normalization run unchanged on a stream and match batch") {
    import graft.northstar.TextAnalysis
    import org.apache.spark.sql.functions.{col, md5}
    val src = tmp(); val ckpt = tmp()
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.parquet(s"$src/docs.parquet")
    val batchDocs = spark.read.parquet(s"$src/docs.parquet")
    val schema = batchDocs.schema
    val streamIn = IncrementalStream.readTableStream(spark, src, "docs", schema)
    val q = TextAnalysis.gopherRules(streamIn, minWords = 20)
      .writeStream.format("memory").queryName("gopher_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("gopher_out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("passes")).toMap
    val batch = TextAnalysis.gopherRules(batchDocs, minWords = 20).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("passes")).toMap
    assert(streamed == batch && batch.nonEmpty)
    // normalization parity, same stream source
    val ckpt2 = tmp()
    val q2 = IncrementalStream.readTableStream(spark, src, "docs", schema)
      .select(col("doc_id"),
        md5(TextAnalysis.normalizeText(col("text"))).as("fp"))
      .writeStream.format("memory").queryName("norm_out")
      .option("checkpointLocation", ckpt2)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    val sFp = spark.table("norm_out").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val bFp = batchDocs.select(col("doc_id"),
        md5(TextAnalysis.normalizeText(col("text"))).as("fp")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sFp == bFp)
  }

  test("bpeApply: the frozen merge table tokenizes a stream and matches batch") {
    import graft.northstar.TextAnalysis
    val src = tmp(); val ckpt = tmp()
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.parquet(s"$src/docs.parquet")
    val batchDocs = spark.read.parquet(s"$src/docs.parquet")
    // train the merge table offline, tokenize the SAME corpus as a
    // stream — the apply side is a stateless narrow pass
    val merges = TextAnalysis.bpeInduct(batchDocs, rounds = 3).collect()
      .sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    val schema = batchDocs.schema
    val q = TextAnalysis.bpeApply(
        IncrementalStream.readTableStream(spark, src, "docs", schema), merges)
      .select("doc_id", "n_words", "n_pieces")
      .writeStream.format("memory").queryName("bpe_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("bpe_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = TextAnalysis.bpeApply(batchDocs, merges)
      .select("doc_id", "n_words", "n_pieces").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch && batch.nonEmpty)
    // merges only ever reduce piece counts below the char count and
    // never below the word count
    assert(batch.forall { case (_, w, p) => p >= w })
  }

  test("frozen curation policy serves a stream and matches the batch application") {
    import graft.northstar.Curation
    val src = tmp(); val ckpt = tmp()
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.parquet(s"$src/docs.parquet")
    val batchDocs = spark.read.parquet(s"$src/docs.parquet")
    val cfg = Curation.parseConfig(
      """{"min_quality": 0.5, "langs": ["en","de","fr","es"],
        |"length_floor": "1/10", "temperature_alpha": 0.5}""".stripMargin)
    val frozen = Curation.freeze(batchDocs, cfg)
    val schema = batchDocs.schema
    val q = Curation.serve(
        IncrementalStream.readTableStream(spark, src, "docs", schema), frozen)
      .writeStream.format("memory").queryName("cur_serve_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("cur_serve_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val batch = Curation.serve(batchDocs, frozen).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("bloom decontamination screens a stream and matches the batch screen") {
    import graft.northstar.Dedup
    import org.apache.spark.sql.functions.col
    val src = tmp(); val ckpt = tmp()
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").write.parquet(s"$src/docs.parquet")
    val batchDocs = spark.read.parquet(s"$src/docs.parquet")
    // freeze the eval-suite filter offline, screen the incoming crawl
    // stream with the SAME artifact — stateless narrow plan, no state
    val bloom = Dedup.benchmarkBloom(batchDocs.filter(col("doc_id") % 97 === 0))
    val schema = batchDocs.schema
    val q = Dedup.decontaminateBloom(
        IncrementalStream.readTableStream(spark, src, "docs", schema), bloom)
      .select("doc_id", "bloom_gram_hits")
      .writeStream.format("memory").queryName("bloom_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("bloom_out").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val batch = Dedup.decontaminateBloom(batchDocs, bloom)
      .select("doc_id", "bloom_gram_hits").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(streamed == batch && batch.nonEmpty)
    // the benchmark slice itself must self-hit (its grams built the filter)
    assert(batch.collect { case (id, h) if id % 97 == 0 => h }.forall(_ > 0))
  }

  test("batch session_window and streaming sessionize agree on a replayed fixture") {
    import org.apache.spark.sql.functions._
    val src = tmp(); val ckpt = tmp()
    val t0 = 1704067200L * 1000000L // epoch µs
    val min = 60L * 1000000L; val hour = 60L * min; val day = 24L * hour
    val gapUs = 30L * min
    // 5 users × 3 sessions each: sessions 2h apart (≫ the 30-min gap),
    // events 7 min apart within a session (≪ the gap), 1-3 events per
    // session so counts vary
    val evs = for {
      u <- 1L to 5L; s <- 0 until 3
      i <- 0 until (1 + ((u + s) % 3).toInt)
    } yield (s, u, t0 + s * 2 * hour + u * min + i * 7 * min)
    // replay chunked by session round: the watermark advances between
    // micro-batches, and no user gets two sessions inside one batch (the
    // documented fold limitation of flatMapGroupsWithState batches)
    for (s <- 0 until 3) {
      evs.filter(_._1 == s).map(e => (e._2, e._3)).toDF("user_id", "event_us")
        .coalesce(1).write.mode("append").parquet(s"$src/s.parquet")
      stampBatch(s"$src/s.parquet", s + 1)
    }
    // flush event: pushes the final watermark past every real session's
    // close point; its own session stays open and is never emitted
    Seq((999L, t0 + 2 * day)).toDF("user_id", "event_us")
      .coalesce(1).write.mode("append").parquet(s"$src/s.parquet")
    stampBatch(s"$src/s.parquet", 4)

    val schema = spark.read.parquet(s"$src/s.parquet").schema
    val stream = IncrementalStream.readTableStream(spark, src, "s", schema,
      maxFilesPerTrigger = 1)
    val sessions = IncrementalStream.sessionize(
      stream.as[IncrementalStream.SessionEvent], "10 minutes",
      gapMs = gapUs / 1000L)
    val q = sessions.toDF().writeStream.format("memory").queryName("parity_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("parity_out").collect()
      .filter(_.getAs[Long]("user_id") != 999L)
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
        r.getAs[Long]("end_us"), r.getAs[Long]("n_events"))).toSet

    // the same events through the batch operator (x_session_windows
    // shape); session_window.end = last event + gap, so subtract the gap
    // to compare close bounds
    val batch = evs.map(e => (e._2, e._3)).toDF("user_id", "event_us")
      .select($"user_id", timestamp_micros($"event_us").as("ets"))
      .groupBy(session_window($"ets", "30 minutes").as("sw"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", unix_micros($"sw.start").as("start_us"),
        (unix_micros($"sw.end") - gapUs).as("end_us"), $"n_events")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    assert(batch.size == 15, s"fixture should yield 15 sessions, got ${batch.size}")
    assert(streamed == batch,
      s"batch-only: ${batch -- streamed}; stream-only: ${streamed -- batch}")
  }

  test("windowedCounts: event-time windows over int64-nanos ts with watermark") {
    val src = tmp(); val ckpt = tmp()
    val hour = 3600L * 1000000000L
    val base = 1704067200L * 1000000000L // 2024-01-01T00:00Z in ns
    Seq(
      (base + 1L, "click", 1.0),
      (base + hour / 2, "click", 2.0),
      (base + hour + 1L, "view", 5.0),
    ).toDF("ts", "event_type", "value")
      .write.parquet(s"$src/events.parquet")

    val schema = spark.read.parquet(s"$src/events.parquet").schema
    val stream = IncrementalStream.readTableStream(spark, src, "events", schema)
    val agg = IncrementalStream.windowedCounts(stream, "ts", "event_type", "value")
    val q = agg.writeStream.format("memory").queryName("win_out")
      .option("checkpointLocation", ckpt)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val out = spark.table("win_out").collect()
      .map(r => (r.getTimestamp(0).toInstant.toString, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    assert(out == Set(
      ("2024-01-01T00:00:00Z", "click", 2L, 3.0),
      ("2024-01-01T01:00:00Z", "view", 1L, 5.0)))

    // a caller column named event_time survives as the GROUP key: the
    // old plain "event_time" withColumn silently replaced it with the
    // synthetic timestamp and grouped per-microsecond (code-review r14)
    val renamed = spark.read.parquet(s"$src/events.parquet")
      .withColumnRenamed("event_type", "event_time")
    val batchStyle = IncrementalStream.windowedCounts(
      renamed, "ts", "event_time", "value")
    val byKey = batchStyle.collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(byKey == Map("click" -> 2L, "view" -> 1L), byKey.toString)
    // the reserved internal name refuses loudly
    val e = intercept[IllegalArgumentException] {
      IncrementalStream.windowedCounts(
        renamed.withColumn("__graft_event_time",
          org.apache.spark.sql.functions.lit(1)),
        "ts", "event_time", "value")
    }
    assert(e.getMessage.contains("__graft_event_time"))
    // ...and so do key names colliding with the GENERATED output
    // columns (code-review r18): keyCol = "window" was an ambiguous
    // reference at the window.start select; "window_start"/"n"/"total"
    // produced duplicate-name output schemas
    for (bad <- Seq("window", "window_start", "n", "total")) {
      val e2 = intercept[IllegalArgumentException] {
        IncrementalStream.windowedCounts(
          renamed.withColumnRenamed("event_time", bad), "ts", bad, "value")
      }
      assert(e2.getMessage.contains(bad), e2.getMessage)
    }
  }
}
