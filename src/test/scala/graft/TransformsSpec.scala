package graft

import graft.engine.{DateParse, Transforms}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** T1–T8 null-path semantics from transformations_code.py:78-148 — the
  * edges the null-free driver testdata can't exercise (SURVEY.md §5.2).
  */
class TransformsSpec extends SparkSpecBase {
  import scala.jdk.CollectionConverters._

  private def people = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("first_name", StringType),
      StructField("last_name", StringType),
      StructField("amount", DoubleType),
      StructField("all_null_num", DoubleType),
    ))
    spark.createDataFrame(Seq(
      Row(1L, "  Ada  ", "Lovelace", 10.0, null),
      Row(2L, null, "Turing", null, null),
      Row(3L, "Grace", null, 30.0, null),
      Row(3L, "Grace", null, 30.0, null), // exact duplicate of row 3
    ).asJava, schema)
  }

  test("T1 removeDuplicates: all-column dedup keeps one copy") {
    val out = Transforms.removeDuplicates(people)
    assert(out.count() == 3)
  }

  test("T2 removeNullRows: drops rows with ANY null") {
    val out = Transforms.removeNullRows(people)
    assert(out.count() == 0) // all_null_num nulls every row
    val out2 = Transforms.removeNullRows(people.drop("all_null_num"))
    assert(rows(out2) == Set(Seq(1L, "  Ada  ", "Lovelace", 10.0)))
  }

  test("T3 imputeNulls: numeric→mean (col widens to double only when nulls present), string→N/A, all-null col stays null") {
    val out = Transforms.imputeNulls(people)
    val byId = out.collect().map(r => (r.getLong(0), r)).toMap
    assert(byId(2L).getAs[String]("first_name") == "N/A")
    assert(byId(3L).getAs[String]("last_name") == "N/A")
    // mean over non-nulls incl. the duplicate row: (10+30+30)/3
    assert(byId(2L).getAs[Double]("amount") == 70.0 / 3)
    assert(byId(1L).getAs[Double]("amount") == 10.0)
    // all-null numeric column: mean undefined → stays null (pandas parity)
    assert(out.collect().forall(_.isNullAt(out.columns.indexOf("all_null_num"))))
    // id column had no nulls → keeps LongType (pandas keeps int64)
    assert(out.schema("id").dataType == LongType)
  }

  test("T3 imputeNulls: NaN counts as null, like pandas — mean skips it, fill replaces it") {
    // code-review r13: Spark's avg skips only SQL nulls, so one NaN
    // poisoned the mean to NaN and the null got "filled" with NaN
    import spark.implicits._
    val df = Seq(
      (1L, Some(1.0)), (2L, Some(Double.NaN)), (3L, None),
    ).toDF("id", "v")
    val out = Transforms.imputeNulls(df).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // pandas: mean([1.0, NaN, None]) = 1.0; fillna fills BOTH NaN and None
    assert(out == Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0), out.toString)
  }

  /** A frame T2 cleans to two rows: a string null, a double NaN, a
    * double null and an int null each sit on a row of their own. The
    * date-named and full-name columns give T5 and T7 something to null.
    */
  private def dirty = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("score", DoubleType),
      StructField("qty", IntegerType),
      StructField("birth_date", StringType),
      StructField("full_name", StringType),
    ))
    spark.createDataFrame(Seq(
      Row(1L, "a", 1.5, 3, "garbage", "Plato"),
      Row(2L, null, 2.5, 4, "1999-12-31", "Ada Lovelace"),
      Row(3L, "c", Double.NaN, 5, "1999-12-31", "Ada Lovelace"),
      Row(4L, "d", null, 6, "1999-12-31", "Ada Lovelace"),
      Row(5L, "e", 4.0, null, "1999-12-31", "Ada Lovelace"),
      Row(6L, "f", 3.0, 7, "1999-12-31", "Ada Lovelace"),
    ).asJava, schema)
  }

  /** `selected` built through [[Transforms.pipeline]]: the census jobs
    * its construction started, and the frame. */
  private def built(selected: String*) = {
    var out: DataFrame = null
    val jobs = jobStarts { out = Transforms.pipeline(selected)(dirty) }
    (jobs.size, out)
  }

  test("T8 pipeline: T2 → T3 runs no census job and equals imputeNulls(removeNullRows(df)), nullability included") {
    val (jobs, out) = built("Remove Null Rows", "Impute Nulls")
    assert(jobs == 0, s"$jobs census jobs")
    var expected: DataFrame = null
    // the census the skip replaces really is a job
    assert(jobStarts {
      expected = Transforms.imputeNulls(Transforms.removeNullRows(dirty))
    }.nonEmpty)
    assert(out.schema == expected.schema,
      s"${out.schema.treeString} vs ${expected.schema.treeString}")
    // T2 dropped the NaN row too; no numeric column widened to double
    assert(rows(out) == rows(expected))
    assert(out.collect().map(_.getLong(0)).toSet == Set(1L, 6L))
    assert(out.schema("qty").dataType == IntegerType)
    assert(!out.schema("name").nullable) // T3's "N/A" fill still ran
    // the medallion's full list (T1 and T4 sit in between) skips it too
    val (allJobs, all) = built(Transforms.names.take(4): _*)
    assert(allJobs == 0, s"$allJobs census jobs")
    assert(rows(all) == rows(Transforms.trimWhitespace(expected)))
  }

  test("T8 pipeline: T5 or T7 between T2 and T3 brings the census back, and T3 still imputes") {
    for ((between, f) <- Seq[(String, DataFrame => DataFrame)](
        "Standardize Dates" -> Transforms.standardizeDates,
        "Split Names" -> Transforms.splitNames)) {
      val (jobs, out) = built("Remove Null Rows", between, "Impute Nulls")
      assert(jobs > 0, s"$between: no census job")
      val expected = Transforms.imputeNulls(f(Transforms.removeNullRows(dirty)))
      assert(out.schema == expected.schema, between)
      assert(rows(out) == rows(expected), between)
      // the null the transform added (an unparseable date, a missing
      // second name on row 1) was filled
      val col = if (between == "Split Names") "last_name_split" else "birth_date"
      assert(out.collect().map(_.getAs[String](col)).contains("N/A"), between)
    }
  }

  test("T8 pipeline: T3 with no T2 before it runs the census") {
    for (selected <- Seq(Seq("Impute Nulls"),
                         Seq("Trim Whitespace", "Impute Nulls"),
                         Seq("Impute Nulls", "Remove Null Rows"))) {
      val (jobs, out) = built(selected: _*)
      assert(jobs > 0, s"$selected: no census job")
      val expected = selected.foldLeft(dirty)((d, n) => Transforms.registry(n)(d))
      assert(out.schema == expected.schema, selected.toString)
      assert(rows(out) == rows(expected), selected.toString)
    }
  }

  test("T4 trimWhitespace: strips both ends of every string column") {
    val out = Transforms.trimWhitespace(people)
    assert(out.collect().map(_.getAs[String]("first_name")).contains("Ada"))
    // non-string columns untouched
    assert(out.schema("amount").dataType == DoubleType)
  }

  test("T4 trimWhitespace strips ALL whitespace like pandas str.strip(), not just spaces") {
    import spark.implicits._
    // the one-arg Spark trim() only removes 0x20 — "x\t" kept its tab
    // and silently diverged from the reference (code-review r14)
    val df = Seq("\tx\n", " y\r", "z", "inner\tkept")
      .toDF("s")
    val got = Transforms.trimWhitespace(df).collect().map(_.getString(0))
    assert(got.toSeq == Seq("x", "y", "z", "inner\tkept"))
  }

  test("T5 standardizeDates: date-NAMED string cols → yyyy-MM-dd, garbage → null; non-date names untouched") {
    import spark.implicits._
    val df = Seq(
      ("31/12/1999", "keepme"),
      ("1999-12-31", "x"),
      ("03/04/2020", "y"),   // dayfirst: April 3rd
      ("garbage", "z"),
      (null: String, "w"),
    ).toDF("birth_date", "note")
    val out = Transforms.standardizeDates(df)
      .collect().map(r => (r.getAs[String]("birth_date"), r.getAs[String]("note")))
    assert(out.toSet == Set(
      ("1999-12-31", "keepme"), ("1999-12-31", "x"), ("2020-04-03", "y"),
      (null, "z"), (null, "w")))
  }

  test("T5 standardizeDates: timestamp-typed date column → formatted string") {
    import spark.implicits._
    val df = Seq(java.sql.Timestamp.valueOf("2020-05-06 07:08:09"))
      .toDF("ship_date")
    val out = Transforms.standardizeDates(df)
    assert(out.schema("ship_date").dataType == StringType)
    assert(out.collect()(0).getString(0) == "2020-05-06")
  }

  test("T6 combineNames: fuzzy col detection, nulls→'', single space ALWAYS inserted (concat not concat_ws)") {
    val out = Transforms.combineNames(people)
    val full = out.collect().map(r =>
      (r.getLong(0), r.getAs[String]("full_name"))).toMap
    assert(full(1L) == "Ada Lovelace")   // sides trimmed
    assert(full(2L) == " Turing")        // empty first keeps leading space
    assert(full(3L) == "Grace ")         // empty last keeps trailing space
  }

  test("T6 combineNames: no-op when name columns absent") {
    import spark.implicits._
    val df = Seq((1, "x")).toDF("id", "note")
    assert(Transforms.combineNames(df).columns.toSeq == Seq("id", "note"))
  }

  test("T7 splitNames: first space only; missing second token → null; full_name null→''") {
    import spark.implicits._
    val df = Seq("Ada Lovelace King", "Plato", "", null)
      .toDF("full_name")
    val out = Transforms.splitNames(df).collect().map(r =>
      (r.getAs[String]("full_name"), r.getAs[String]("first_name_split"),
       r.getAs[String]("last_name_split"))).toSet
    assert(out == Set(
      ("Ada Lovelace King", "Ada", "Lovelace King"),
      ("Plato", "Plato", null),
      ("", "", null),
      ("", "", null)))
  }

  test("T8 pipeline: left-fold in list order; unknown names skipped") {
    val out = Transforms.pipeline(
      Seq("Trim Whitespace", "Combine Names", "No Such Transform"))(people)
    assert(out.columns.contains("full_name"))
    // trim ran BEFORE combine, so no double-spacing from padded first_name
    val full = out.collect().map(r => (r.getLong(0), r.getAs[String]("full_name"))).toMap
    assert(full(1L) == "Ada Lovelace")
  }

  test("T1∘T1 idempotent; T4∘T4 idempotent") {
    val once = Transforms.removeDuplicates(people)
    assert(Transforms.removeDuplicates(once).count() == once.count())
    val t4 = Transforms.trimWhitespace(people)
    assert(rows(Transforms.trimWhitespace(t4)) == rows(t4))
  }

  test("ascii_strip kernel == trim(col, TrimChars): tabs, VT/FF, multibyte, NBSP kept") {
    import org.apache.spark.sql.functions.{col, trim}
    import spark.implicits._
    // the T4 strip set, as both the r14-parity two-arg trim and the r15
    // byte-scan kernel — the kernel exists for speed (flagship ~0.2 s at
    // sf0.1), so its contract is exact equality with the generic form
    val cases = Seq(
      "  x  ", "\tx\t", "x\t", "\n\r x y \u000B\u000C", "", "   ",
      // VT (U+000B) and FF (U+000C) ARE in the strip set — a
      // "simplified" predicate dropping them must fail here
      "\t\n\r\u000B\u000C", "\u000Bv\u000C", "héllo wörld ", " é世界\n",
      // NBSP (U+00A0) and ideographic space (U+3000) are NOT in the set
      // and must survive on both sides
      "\u00A0x\u00A0", "\u3000y\u3000", " \u00A0z\u00A0 ",
      "a", " a", "a ", "ab\u00A0", null)
    val df = cases.toDF("s")
    val got = df.select(
        graft.functions.texthash.ascii_strip(col("s")).as("k"),
        trim(col("s"), graft.engine.Transforms.TrimChars).as("t"))
      .collect()
    got.zip(cases).foreach { case (r, in) =>
      assert(r.get(0) == r.get(1),
        s"kernel '${r.get(0)}' != trim '${r.get(1)}' for input '$in'")
    }
    // spot-pin the NBSP-preserving case against a literal expectation,
    // not just the two implementations agreeing with each other
    val nbsp = Seq(" \u00A0z\u00A0 ").toDF("s")
      .select(graft.functions.texthash.ascii_strip(col("s")))
      .head().getString(0)
    assert(nbsp == "\u00A0z\u00A0")
  }

  test("r21 guard: a repeat Tables.table of the same layer path runs " +
       "ZERO jobs \u2014 the parquet-schema cache holds") {
    // optimization r21: schema-less spark.read.parquet runs a
    // footer-reading Spark job at plan-construction time, and the
    // bench re-constructs every query's plan per rep \u2014 the cache was
    // worth ~25% of the whole-suite floor. A regression (someone
    // reverting table() to a bare read) re-adds an inference job to
    // every table reference of every query and fails this guard.
    val dir = "/root/testdata/sf0.001"
    // warm: the first read of this path may pay the one inference job
    graft.engine.Tables.table(spark, dir, "nation").schema
    org.apache.spark.sql.graftbridge.Bridge
      .drainListenerBus(spark.sparkContext)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      // plan construction + schema access only \u2014 no action runs
      val df = graft.engine.Tables.table(spark, dir, "nation")
      assert(df.schema.fieldNames.contains("n_nationkey"))
      org.apache.spark.sql.graftbridge.Bridge
        .drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get == 0,
      s"repeat Tables.table fired ${jobs.get} job(s) \u2014 did table() " +
        "lose the per-JVM parquet-schema cache?")
  }

  test("write-time seeding: Tables.write then Tables.table runs ZERO jobs") {
    import graft.engine.Tables
    import spark.implicits._
    val dir = tmpDir("seed")
    Tables.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir, "t")
    val jobs = jobStarts {
      assert(Tables.table(spark, dir, "t").schema.fieldNames.toSeq ==
        Seq("id", "v"))
    }
    assert(jobs.isEmpty, s"the read after a write fired ${jobs.size} " +
      "job(s) \u2014 did Tables.write stop seeding the schema cache?")
  }

  test("write-time seeding: the seeded schema is the one a fresh read infers") {
    import graft.engine.Tables
    import org.apache.spark.sql.functions._
    val dir = tmpDir("seed")
    // non-nullable top-level fields, array elements and map values: the
    // seed must be the writer's schema made nullable all the way down
    val wide = spark.range(3).select(
      col("id"),
      col("id").cast("int").as("i"),
      lit(1.5f).as("f"),
      lit(true).as("b"),
      lit("s").as("str"),
      lit(Array[Byte](1, 2)).as("bin"),
      col("id").cast("decimal(10,2)").as("dec"),
      col("id").cast("decimal(38,18)").as("dec38"),
      date_add(lit(java.sql.Date.valueOf("2020-01-01")), col("id").cast("int"))
        .as("d"),
      timestamp_seconds(col("id")).as("ts"),
      timestamp_seconds(col("id")).cast("timestamp_ntz").as("ts_ntz"),
      array(col("id"), lit(7L)).as("arr"),
      struct(col("id").as("k"),
        array(struct(lit("x").as("y"), col("id").cast("decimal(5,1)").as("z")))
          .as("nested")).as("st"),
      map(lit("k"), col("id")).as("m"),
      map(col("id"), array(lit(1))).as("m2"))
    assert(!wide.schema("id").nullable, "the probe must carry a non-nullable field")
    Tables.write(wide, dir, "wide")
    val inferred = spark.read.parquet(s"$dir/wide.parquet").schema
    assert(Tables.table(spark, dir, "wide").schema == inferred)
    // the events.ts epoch-nanos contract column, written as a timestamp
    // (what a fresh source holds) and as the normalized long nanos (what
    // Extraction writes to raw): the contract view matches either way
    val events = spark.range(3).select(col("id").as("event_id"),
      timestamp_seconds(col("id")).as("ts"))
    Tables.write(events, dir, "events")
    val contract = Tables.normalizeTimestamps(
      spark.read.parquet(s"$dir/events.parquet"), Seq("ts")).schema
    assert(Tables.table(spark, dir, "events").schema == contract)
    assert(contract("ts").dataType == LongType)
    val raw = tmpDir("seed")
    Tables.write(Tables.table(spark, dir, "events"), raw, "events")
    assert(Tables.table(spark, raw, "events").schema ==
      spark.read.parquet(s"$raw/events.parquet").schema)
  }

  test("write-time seeding: an append never serves a schema older than the files") {
    import graft.engine.Tables
    import spark.implicits._
    val dir = tmpDir("seed")
    def fresh = spark.read.parquet(s"$dir/t.parquet").schema
    Tables.write(Seq(1L).toDF("id"), dir, "t")
    // same schema appended: seeded under the new listing, rows visible
    Tables.write(Seq(2L).toDF("id"), dir, "t", mode = "append")
    assert(jobStarts(Tables.table(spark, dir, "t").schema).isEmpty)
    assert(Tables.table(spark, dir, "t").schema == fresh)
    assert(Tables.table(spark, dir, "t").count() == 2)
    // another writer replaces the table with a wider schema; an append
    // onto THAT must not seed the schema pinned before the rewrite
    Seq((3L, "x")).toDF("id", "note").write.mode("overwrite")
      .parquet(s"$dir/t.parquet")
    Tables.write(Seq((4L, "y")).toDF("id", "note"), dir, "t", mode = "append")
    assert(Tables.table(spark, dir, "t").schema == fresh)
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id", "note"))
    // an append whose schema differs from the files' is left to inference
    Tables.write(Seq(5L).toDF("id"), dir, "t", mode = "append")
    assert(Tables.table(spark, dir, "t").schema == fresh)
    assert(Tables.table(spark, dir, "t").count() == 3)
  }
}

class DateParseSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("ordered-format, dayfirst parsing spec") {
    assert(DateParse.parseDate("31/12/1999") == "1999-12-31")
    assert(DateParse.parseDate("03/04/2020") == "2020-04-03") // dayfirst
    assert(DateParse.parseDate("13/04/2020") == "2020-04-13") // only day-first fits
    assert(DateParse.parseDate("04/13/2020") == "2020-04-13") // US fallback
    assert(DateParse.parseDate("1999-12-31") == "1999-12-31")
    assert(DateParse.parseDate("1999-2-3") == "1999-02-03")
    assert(DateParse.parseDate("2020/01/02") == "2020-01-02")
    assert(DateParse.parseDate("3 Jan 2020") == "2020-01-03")
    assert(DateParse.parseDate("January 3 2020") == "2020-01-03")
    assert(DateParse.parseDate("20200102") == "2020-01-02")
    assert(DateParse.parseDate("2020-01-02 10:11:12") == "2020-01-02")
    assert(DateParse.parseDate(" 2020-01-02 ") == "2020-01-02")
    assert(DateParse.parseDate("2/3/99") == "1999-03-02")
    // digit-free text bails before the formatter storm (every supported
    // format carries digits) — same null answer, none of the ~27·(w+1)
    // exception-driven parse attempts (code-review r14)
    assert(DateParse.parseDate(
      "this free text note mentions no date whatsoever") == null)
    assert(DateParse.parseDate("garbage") == null)
    assert(DateParse.parseDate("32/13/2020") == null)
    assert(DateParse.parseDate("") == null)
    assert(DateParse.parseDate(null) == null)
  }

  test("breadth: comma month names, d-MMM-y, ISO T timestamps, US 2-digit") {
    assert(DateParse.parseDate("Jan 3, 2020") == "2020-01-03")
    assert(DateParse.parseDate("January 3, 2020") == "2020-01-03")
    assert(DateParse.parseDate("03-Jan-2020") == "2020-01-03")
    assert(DateParse.parseDate("03-Jan-20") == "2020-01-03")
    assert(DateParse.parseDate("03-Jan-75") == "1975-01-03") // 50-year window
    assert(DateParse.parseDate("2020-01-02T10:11:12") == "2020-01-02")
    assert(DateParse.parseDate("4/13/99") == "1999-04-13") // only US fits
    assert(DateParse.parseDate("2/3/49") == "2049-03-02")  // window upper half
  }

  test("breadth: month-name+comma+time, 2-digit-year month names, year-first names") {
    // dateutil-parseable shapes assigned in review round 2
    assert(DateParse.parseDate("January 3, 2020 10:30:00") == "2020-01-03")
    assert(DateParse.parseDate("Jan 3, 2020 10:30") == "2020-01-03")
    assert(DateParse.parseDate("March 5, 2021 08:00:00") == "2021-03-05")
    assert(DateParse.parseDate("3 Jan 20") == "2020-01-03")
    assert(DateParse.parseDate("3 January 75") == "1975-01-03") // 50-yr window
    assert(DateParse.parseDate("Jan 3, 20") == "2020-01-03")
    assert(DateParse.parseDate("January 3, 49") == "2049-01-03")
    assert(DateParse.parseDate("2020 Jan 3") == "2020-01-03")
    assert(DateParse.parseDate("3 Jan 2020 10:30:00") == "2020-01-03")
    // longest-prefix retry must not mis-parse when a SHORT prefix is a date
    assert(DateParse.parseDate("20200102 junk trailing") == "2020-01-02")
    assert(DateParse.parseDate("totally not a date at all") == null)
  }
}

