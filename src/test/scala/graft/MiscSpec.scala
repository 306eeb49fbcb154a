package graft

import graft.engine.{Scheduler, Tables}
import java.time.{Duration, LocalDateTime}
import java.nio.file.Files

/** S9 CSV sink, S11 layer reset, O2/O3 scheduling math. */
class MiscSpec extends SparkSpecBase {
  import spark.implicits._

  /** `body`, then the shared session's session-scoped configs that
    * GraftSession.local overrides are put back. */
  private def restoringSessionConfs(body: => Unit): Unit = {
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val prevNanos = spark.conf
      .getOption("spark.sql.legacy.parquet.nanosAsLong")
    val prevExplain = spark.conf.get("spark.sql.ui.explainMode")
    try body
    finally {
      spark.conf.set("spark.sql.session.timeZone", prevTz)
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      // the factory's simple explain mode abbreviates scan locations in
      // the plan descriptions later suites match paths against
      spark.conf.set("spark.sql.ui.explainMode", prevExplain)
      // restore the legacy flag too: leaving it flipped on the shared
      // singleton changes later suites' parquet schemas (code-review
      // r14 — the exact cross-contamination this file's tsnorm test
      // pins against the engine)
      prevNanos match {
        case Some(v) =>
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", v)
        case None =>
          spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
      }
    }
  }

  test("GraftSession.local reapplies session-scoped configs to a pre-existing session") {
    // getOrCreate ignores builder configs when a session already exists
    // (as it does across every suite in this JVM) — the factory must
    // re-assert the engine-critical SQLConf settings on what comes back
    restoringSessionConfs {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      spark.conf.set("spark.sql.shuffle.partitions", "200")
      val s = graft.engine.GraftSession.local(cores = 8)
      assert(s.sparkContext eq spark.sparkContext) // the same singleton
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "8")
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    }
  }

  test("GraftSession.local on a pre-existing session leaves the static codegen cache bound alone and warns") {
    // a static conf: `conf.set` on it throws, and the shared session was
    // built without it, so the engine's bound cannot apply here
    val key = "spark.sql.codegen.cache.maxEntries"
    assert(spark.conf.get(key) == "100")
    assert(graft.engine.GraftSession.CodegenCacheEntries > 100)
    val err = new java.io.ByteArrayOutputStream()
    restoringSessionConfs {
      Console.withErr(new java.io.PrintStream(err, true, "UTF-8")) {
        graft.engine.GraftSession.local(cores = 4)
      }
    }
    assert(spark.conf.get(key) == "100")
    val warned = err.toString("UTF-8").linesIterator.filter(_.contains(key))
      .toSeq
    assert(warned.size == 1 && warned.head.contains("WARN") &&
      warned.head.contains("did not apply"), err.toString("UTF-8"))
  }

  test("GraftSession.local warns once, naming fs.file.impl, when the JVM's file: file system is not the engine's") {
    // the shared session was built without the engine's file system,
    // and Hadoop's per-JVM cache already holds the stock one
    val fileFs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(!fileFs.isInstanceOf[graft.engine.NioLocalFileSystem])
    val err = new java.io.ByteArrayOutputStream()
    restoringSessionConfs {
      Console.withErr(new java.io.PrintStream(err, true, "UTF-8")) {
        graft.engine.GraftSession.local(cores = 4)
      }
    }
    val warned = err.toString("UTF-8").linesIterator
      .filter(_.contains("fs.file.impl")).toSeq
    assert(warned.size == 1 && warned.head.contains("WARN") &&
      warned.head.contains(fileFs.getClass.getName) &&
      warned.head.contains("chmod process"), err.toString("UTF-8"))
  }

  test("corpusKey: a file:-URI corpus gets a new key when a part file is added") {
    val dir = tmpDir("corpus-key")
    val uri = new java.io.File(dir).toURI.toString.stripSuffix("/")
    Seq((1L, "first")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val before = SparkEntry.corpusKey(spark, uri, "documents")
    assert(SparkEntry.corpusKey(spark, uri, "documents") == before)
    Seq((2L, "second")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$dir/documents.parquet")
    assert(SparkEntry.corpusKey(spark, uri, "documents") != before,
      "a regenerated corpus must not keep serving the old key's artifacts")
  }

  test("S9 CSV sink round-trips with header") {
    val dir = TestTmp.dir("csv")
    Tables.writeCsv(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), s"$dir/out")
    val back = spark.read.option("header", "true").csv(s"$dir/out")
    assert(back.columns.toSeq == Seq("id", "v") && back.count() == 2)
  }

  test("normalizeTimestamps: µs TIMESTAMP_NTZ surfaces as exact epoch-nanos long, UTC") {
    import org.apache.spark.sql.functions.col
    // the r11 driver regen writes events.ts as parquet TIMESTAMP(MICROS)
    // (pandas, no tz) — Spark reads TIMESTAMP_NTZ; the engine contract is
    // epoch-nanos int64 whatever the physical type
    val dir = TestTmp.dir("tsnorm")
    Seq(
      (1L, LocalDateTime.of(1970, 1, 1, 0, 0, 1, 500000 * 1000)),
      (2L, LocalDateTime.of(2026, 8, 13, 12, 0, 0))
    ).toDF("event_id", "ts").write.parquet(s"$dir/events.parquet")
    val back = Tables.table(spark, dir, "events")
    assert(back.schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(back.schema.fieldNames.toSeq == Seq("event_id", "ts"),
      "column order preserved")
    val m = back.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == 1500000000L) // 1.5 s → ns, exact
    assert(m(2L) == java.time.Instant.parse("2026-08-13T12:00:00Z")
      .getEpochSecond * 1000000000L) // NTZ interpreted in UTC
    // reading a modern µs file must NOT flip the session-global
    // nanosAsLong legacy flag — it changed the schema of unrelated
    // parquet reads in the same session (code-review r14); only a
    // legacy int64-nanos file whose read FAILS without it sets it
    val prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    try {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      Tables.table(spark, dir, "events").count()
      assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
        == "false")
    } finally spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
  }

  test("normalizeTimestamps: legacy int64 columns and unnamed timestamps pass through") {
    val df = Seq((1L, 42L, LocalDateTime.of(2000, 1, 1, 0, 0)))
      .toDF("id", "ts", "other_ts")
    val out = Tables.normalizeTimestamps(df, Seq("ts"))
    // ts already long → untouched; other_ts not under the contract → stays NTZ
    assert(out.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    assert(out.schema("other_ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    assert(out.collect()(0).getLong(1) == 42L)
  }

  test("S11 resetLayers drops and recreates directories") {
    val dir = TestTmp.dir("layers")
    Seq((1, "x")).toDF("a", "b").write.parquet(s"$dir/raw/t.parquet")
    Tables.resetLayers(Seq(s"$dir/raw", s"$dir/silver"))
    val raw = new java.io.File(s"$dir/raw")
    assert(raw.isDirectory && raw.listFiles().isEmpty)
    assert(new java.io.File(s"$dir/silver").isDirectory)
  }

  test("partitioned sink: partition dirs on disk, filter prunes at planning time") {
    val dir = TestTmp.dir("part")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Tables.writePartitioned(docs, dir, "docs", Seq("lang"))
    assert(new java.io.File(s"$dir/docs.parquet/lang=en").isDirectory)
    val q = spark.read.parquet(s"$dir/docs.parquet")
      .filter($"lang" === "en").select("doc_id")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      plan.take(600))
    // pruning is real: only the matching partition's files are scanned
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }.sum
    assert(scanned == 1, s"expected 1 selected partition, got $scanned")
    assert(q.count() == docs.filter($"lang" === "en").count())
  }

  test("compact: many small files collapse to the size-derived count, data unchanged") {
    val dir = TestTmp.dir("compact")
    val df = (0L until 5000L).toSeq.toDF("id")
    df.repartition(50).write.parquet(s"$dir/t.parquet")
    val before = new java.io.File(s"$dir/t.parquet")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(before == 50)
    // target far above total size → everything fits one file
    val n = Tables.compact(spark, dir, "t", targetFileBytes = 64L * 1024 * 1024)
    assert(n == 1)
    val after = new java.io.File(s"$dir/t.parquet")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(after == 1)
    val back = spark.read.parquet(s"$dir/t.parquet")
    assert(back.count() == 5000 &&
      back.agg(org.apache.spark.sql.functions.sum("id")).collect()(0)
        .getLong(0) == 5000L * 4999L / 2L)
  }

  test("compact on a partitioned table does not multiply files per partition") {
    // code-review r13: a round-robin repartition(nFiles) before the
    // partitionBy rewrite spread every partition value across every
    // task — up to nFiles files PER partition dir, compaction
    // multiplying the small-files count
    val dir = TestTmp.dir("compactpart")
    val df = (0L until 4000L).map(i => (i, s"p${i % 4}")).toDF("id", "p")
    df.repartition(25).write.partitionBy("p").parquet(s"$dir/t.parquet")
    def files() = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(s"$dir/t.parquet"))
    }
    assert(files() > 50, "fixture should start fragmented")
    // tiny target → nFiles > 1, the exact multiplication trigger
    val n = Tables.compact(spark, dir, "t", targetFileBytes = 16L * 1024)
    assert(files() <= 4, s"expected <=1 file per partition value, got ${files()}")
    assert(n == files(), "returned count must be the REAL file count")
    val back = spark.read.parquet(s"$dir/t.parquet")
    assert(back.count() == 4000)
  }

  test("upsert: matching keys replaced, new keys appended, data swapped atomically") {
    val dir = TestTmp.dir("upsert")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
    Tables.upsert(spark, dir, "t",
      Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"))
    val back = spark.read.parquet(s"$dir/t.parquet")
    assert(rows(back) == Set(Seq(1L, "a"), Seq(2L, "B"), Seq(3L, "c")))
    // idempotent re-apply
    Tables.upsert(spark, dir, "t", Seq((3L, "c")).toDF("id", "v"), Seq("id"))
    assert(spark.read.parquet(s"$dir/t.parquet").count() == 3)
  }

  test("GraftExtensions: kernels callable from pure SQL on an extensions-built session") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
    val s2 = org.apache.spark.sql.graftbridge.Bridge
      .sessionWithExtensions(spark.sparkContext, ext)
    val r = s2.sql(
      """SELECT simhash64('a b c d e') AS sh,
        |  vec_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |             array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS cos,
        |  size(shingles('a b c d e')) AS n_sh,
        |  text_stats('one two three')[1] AS n_toks,
        |  vec_cosine(array(3.0, 4.0), array(3.0, 4.0)) AS cos_dbl""".stripMargin)
      .collect()(0)
    assert(r.getLong(0) != 0L)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-9)
    assert(r.getInt(2) == 3)
    assert(r.getLong(3) == 3L)
    // DOUBLE-array literals (SQL has no float-array literal) coerce to
    // the kernel's float inputs instead of reinterpreting 8-byte
    // doubles as 4-byte floats (code-review r13: this read garbage)
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-9, r.getDouble(4).toString)
    // the shared base session is untouched by the injection
    assertThrows[Exception](spark.sql("SELECT simhash64_nonexistent('x')").collect())
  }

  test("compact and upsert preserve hive partition layout") {
    val dir = TestTmp.dir("partmaint")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Tables.writePartitioned(docs, dir, "docs", Seq("lang"))
    Tables.compact(spark, dir, "docs", targetFileBytes = 64L * 1024 * 1024)
    assert(new java.io.File(s"$dir/docs.parquet/lang=en").isDirectory,
      "compact flattened the partition layout")
    val one = spark.read.parquet(s"$dir/docs.parquet")
      .filter($"lang" === "en").limit(1)
      .select("doc_id", "text", "lang", "source", "n_chars")
    Tables.upsert(spark, dir, "docs", one, Seq("doc_id"))
    assert(new java.io.File(s"$dir/docs.parquet/lang=en").isDirectory,
      "upsert flattened the partition layout")
    assert(spark.read.parquet(s"$dir/docs.parquet").count() == docs.count())
  }

  test("O2 delay math: future → positive delay, past → run now") {
    val now = LocalDateTime.of(2026, 8, 12, 12, 0)
    assert(Scheduler.delayUntil(now.plusMinutes(90), now) == Duration.ofMinutes(90))
    assert(Scheduler.delayUntil(now.minusDays(1), now) == Duration.ZERO)
    var ran = false
    Scheduler.runOnce(now.minusHours(1), () => now,
      d => fail("must not sleep for past times")) { () => ran = true }
    assert(ran)
  }

  test("O3 recurring: N iterations, first run AFTER one full interval") {
    var runs = 0; var sleeps = 0
    // schedule.every(m).minutes.do(...) parity: next_run = now + interval,
    // so no immediate t=0 execution — one sleep precedes EVERY run
    // (code-review r14)
    Scheduler.runEvery(5, Some(3),
      _ => { sleeps += 1; assert(sleeps == runs + 1) })(() => runs += 1)
    assert(runs == 3 && sleeps == 3)
    // zero hot-looped forever, negative threw mid-loop after the first
    // run — both refuse up front now
    assertThrows[IllegalArgumentException](
      Scheduler.runEvery(0, Some(1))(() => ()))
    assertThrows[IllegalArgumentException](
      Scheduler.runEvery(-5, Some(1))(() => ()))
  }
}
