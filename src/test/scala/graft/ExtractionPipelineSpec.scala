package graft

import graft.engine._
import graft.engine.Aggregations.AggSpec
import java.nio.file.Files

/** E1–E3 (data_extraction.py:28-144) and O1/O4 (scheduler.py:58-209). */
class ExtractionPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp() = TestTmp.dir("graft")

  test("E1 full refresh: overwrite, schema preserved, rows reported") {
    val dir = tmp()
    val src = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val r = Extraction.fullRefresh(src, dir, "t")
    assert(r.rows == 2 && r.mode == "Full Refresh")
    // second refresh replaces, not appends
    Extraction.fullRefresh(src, dir, "t")
    assert(spark.read.parquet(s"$dir/t.parquet").count() == 2)
  }

  test("E2 incremental: missing target → full load; then only delta appends; no-delta append is empty") {
    val dir = tmp()
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val r1 = Extraction.incrementalLoad(spark, v1, dir, "t")
    assert(r1.rows == 2)
    val v2 = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v")
    val r2 = Extraction.incrementalLoad(spark, v2, dir, "t")
    assert(r2.rows == 2) // only ids 3,4 past watermark 2
    assert(spark.read.parquet(s"$dir/t.parquet").count() == 4)
    val r3 = Extraction.incrementalLoad(spark, v2, dir, "t")
    assert(r3.rows == 0)
    assert(spark.read.parquet(s"$dir/t.parquet").count() == 4)
  }

  test("E2 invariant: fullRefresh(src) == initial ++ incremental deltas for monotone keys") {
    val dir = tmp()
    val all = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    Extraction.incrementalLoad(spark, all.filter($"id" <= 40), dir, "t")
    Extraction.incrementalLoad(spark, all.filter($"id" <= 75), dir, "t")
    Extraction.incrementalLoad(spark, all, dir, "t")
    val got = spark.read.parquet(s"$dir/t.parquet")
    assert(got.count() == 100)
    assert(rows(got) == rows(all))
  }

  test("E2 typed watermark comparison works on timestamp keys") {
    val dir = tmp()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val v1 = Seq((ts("2020-01-01 00:00:00"), 1)).toDF("event_ts", "x")
    Extraction.incrementalLoad(spark, v1, dir, "t")
    val v2 = Seq((ts("2020-01-01 00:00:00"), 1), (ts("2020-06-01 00:00:00"), 2))
      .toDF("event_ts", "x")
    val r = Extraction.incrementalLoad(spark, v2, dir, "t")
    assert(r.rows == 1)
  }

  test("E3 config job: per-table isolation — bad table errors, good table lands") {
    val srcDir = tmp(); val dstDir = tmp()
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$srcDir/good.parquet")
    val rs = Extraction.runJob(spark, srcDir, dstDir, Seq(
      Extraction.TableJob("good", "Full Refresh"),
      Extraction.TableJob("missing", "Full Refresh")))
    assert(rs.count(_.isRight) == 1 && rs.count(_.isLeft) == 1)
    assert(spark.read.parquet(s"$dstDir/good.parquet").count() == 1)
  }

  test("O1/O4 pipeline: extract → map → transform → aggregate across layer dirs") {
    val src = tmp(); val raw = tmp(); val sm = tmp(); val silver = tmp(); val gold = tmp()
    Seq((1L, "Ada  ", "London"), (2L, "Alan", "Wilmslow"))
      .toDF("customer_id", "name", "city").write.parquet(s"$src/customers.parquet")
    Seq((10L, 1L, 100.0), (11L, 1L, 150.0), (12L, 2L, 99.0))
      .toDF("order_id", "customer_id", "total").write.parquet(s"$src/orders.parquet")

    val statuses = Pipeline.run(spark, Pipeline.Layers(src, raw, sm, silver, gold),
      Pipeline.Config(
        extraction = Seq(Extraction.TableJob("customers", "Full Refresh"),
                         Extraction.TableJob("orders", "Full Refresh")),
        mappingEnabled = true,
        transforms = Seq("Trim Whitespace"),
        aggregations = Map("customers_orders_merged" ->
          AggSpec(Seq("city_customers"), Seq("total_orders"), Seq("sum", "count")))))
    assert(statuses.forall(_.ok), statuses.mkString("; "))

    val merged = spark.read.parquet(s"$silver/transformed_customers_orders_merged.parquet")
    assert(merged.columns.toSeq == Seq("customer_id", "name_customers",
      "city_customers", "order_id_orders", "total_orders"))
    // trim ran: "Ada  " → "Ada"
    assert(merged.collect().map(_.getAs[String]("name_customers")).contains("Ada"))
    val agg = spark.read.parquet(s"$silver/agg_customers_orders_merged.parquet")
    assert(rows(agg) == Set(Seq("London", 250.0, 2L), Seq("Wilmslow", 99.0, 1L)))
  }

  test("O4 mapping off: raw tables copied verbatim to silver-mapping") {
    val src = tmp(); val raw = tmp(); val sm = tmp(); val silver = tmp(); val gold = tmp()
    Seq((1L, "x")).toDF("id", "v").write.parquet(s"$src/solo.parquet")
    val statuses = Pipeline.run(spark, Pipeline.Layers(src, raw, sm, silver, gold),
      Pipeline.Config(
        extraction = Seq(Extraction.TableJob("solo", "Full Refresh")),
        mappingEnabled = false))
    assert(statuses.forall(_.ok))
    assert(spark.read.parquet(s"$sm/solo.parquet").count() == 1)
  }

  test("unknown extraction mode fails the table instead of silently full-refreshing") {
    // code-review r13: the old catch-all sent "incremental load"
    // (wrong case) to fullRefresh — mode=overwrite on an accumulated
    // incremental target, silent history loss
    val src = tmp(); val raw = tmp()
    Seq((1L, "x")).toDF("id", "v").write.parquet(s"$src/t.parquet")
    val rs = Extraction.runJob(spark,
      graft.sources.ParquetStore(src), graft.sources.ParquetStore(raw),
      Seq(Extraction.TableJob("t", "incremental load")))
    assert(rs.size == 1)
    val err = rs.head.swap.toOption.get._2
    assert(err.getMessage.contains("unknown extraction mode"), err.getMessage)
    assert(!new java.io.File(s"$raw/t.parquet").exists(),
      "nothing may be written for an unknown mode")
  }

  test("O1 aborts on extraction failure") {
    val src = tmp(); val raw = tmp()
    val statuses = Pipeline.run(spark,
      Pipeline.Layers(src, raw, tmp(), tmp(), tmp()),
      Pipeline.Config(extraction = Seq(Extraction.TableJob("nope", "Full Refresh"))))
    assert(statuses.size == 1 && !statuses.head.ok)
  }

  test("a bad per-table agg spec skips THAT table with an error detail; valid tables still aggregate") {
    // scheduler.py:158-165 wraps EACH table's aggregation in try/except:
    // one bad spec (e.g. "variance", or the natural Spark spelling
    // "avg" for the supported "mean") logs and continues — the old
    // stage-wide failure silently lost every valid table's aggregates
    // (code-review r14; supersedes the r13 attribution shape, which
    // survives for genuine stage-level failures like an unwritable
    // silver layer)
    val src = tmp(); val raw = tmp(); val sm = tmp(); val silver = tmp()
    Seq((1L, 2.0), (2L, 3.0)).toDF("id", "v").write.parquet(s"$src/t.parquet")
    Seq((1L, 5.0), (1L, 7.0)).toDF("id", "w").write.parquet(s"$src/u.parquet")
    val statuses = Pipeline.run(spark,
      Pipeline.Layers(src, raw, sm, silver, tmp()),
      Pipeline.Config(
        extraction = Seq(Extraction.TableJob("t", "Full Refresh"),
          Extraction.TableJob("u", "Full Refresh")),
        mappingEnabled = false,
        aggregations = Map(
          "t" -> graft.engine.Aggregations.AggSpec(
            Seq("id"), Seq("v"), Seq("variance")), // unsupported func
          "u" -> graft.engine.Aggregations.AggSpec(
            Seq("id"), Seq("w"), Seq("sum")))))
    assert(statuses.map(s => (s.stage, s.ok)) == Seq(
      ("extraction", true), ("mapping", true),
      ("transformation", true), ("aggregation", true)),
      statuses.mkString("; "))
    assert(statuses.last.detail.contains("1 aggregated"))
    assert(statuses.last.detail.contains("unsupported agg function"))
    // the valid table's aggregate is on disk; the bad one left nothing
    assert(spark.read.parquet(s"$silver/agg_u.parquet").count() == 1)
    assert(!new java.io.File(s"$silver/agg_t.parquet").exists())
    // the transform outputs really are on disk despite the bad spec
    assert(spark.read.parquet(s"$silver/transformed_t.parquet").count() == 2)
  }

  test("the observed row count arrives on a DataFrameWriter action, empty frames included") {
    import org.apache.spark.sql.functions.{count, lit}
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val dir = tmp()
    def observedWrite(df: org.apache.spark.sql.DataFrame, name: String): Long = {
      val obs = org.apache.spark.sql.Observation()
      df.observe(obs, count(lit(1)).as("rows"))
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
      // bounded: a metric that never arrives fails here, not hangs
      Await.result(obs.future, 60.seconds).getAs[Long]("rows")
    }
    (1L to 50L).toDF("id").write.parquet(s"$dir/src.parquet")
    val src = spark.read.parquet(s"$dir/src.parquet")
    assert(observedWrite(src, "all") == 50)
    // an empty delta: every row group scanned, no row past the watermark
    assert(observedWrite(src.filter($"id" > 50L), "delta") == 0)
    // a plan the optimizer empties outright
    assert(observedWrite(src.filter(lit(false)), "pruned") == 0)
    // Extraction counts on the write itself: one job, no count pass
    val jobs = jobStarts {
      assert(Extraction.fullRefresh(src, dir, "t").rows == 50)
    }
    assert(jobs.size == 1, s"${jobs.size} jobs")
  }

  test("a file: URI table rewritten by another writer is read back with its new schema") {
    val uri = new java.io.File(tmp()).toURI.toString.stripSuffix("/")
    assert(uri.startsWith("file:"))
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$uri/t.parquet")
    assert(Tables.table(spark, uri, "t").columns.toSeq == Seq("id", "v"))
    Seq(("x", 2.5)).toDF("name", "score").write.mode("overwrite")
      .parquet(s"$uri/t.parquet")
    val back = Tables.table(spark, uri, "t")
    assert(back.columns.toSeq == Seq("name", "score"))
    assert(back.as[(String, Double)].collect().toSeq == Seq(("x", 2.5)))
  }

  test("job budget: an incremental Pipeline.run re-reads its own layers with zero inference jobs") {
    val src = tmp()
    val layers = Pipeline.Layers(src, tmp(), tmp(), tmp(), tmp())
    Seq((1L, "Ada", "London"), (2L, "Alan", "Wilmslow"), (3L, "Grace", "NYC"))
      .toDF("customer_id", "name", "city").write.parquet(s"$src/customers.parquet")
    def orders(ids: Seq[Long]) = ids.map(i => (i, 1L + i % 3, 10.0 * i))
      .toDF("order_id", "customer_id", "total")
    def items(ids: Seq[Long]) = ids.map(i => (100L + i, i, 2L))
      .toDF("item_id", "order_id", "qty")
    orders(1L to 6L).write.parquet(s"$src/orders.parquet")
    items(1L to 6L).write.parquet(s"$src/items.parquet")
    def cfg(incremental: Boolean) = Pipeline.Config(
      extraction = Seq(
        Extraction.TableJob("customers", "Full Refresh"),
        Extraction.TableJob("orders",
          if (incremental) "Incremental Load" else "Full Refresh"),
        Extraction.TableJob("items",
          if (incremental) "Incremental Load" else "Full Refresh")),
      mappingEnabled = true,
      transforms = Transforms.names,
      aggregations = Map("customers_orders_merged" ->
        AggSpec(Seq("city_customers"), Seq("total_orders"), Seq("sum"))))
    val first = Pipeline.run(spark, layers, cfg(incremental = false))
    assert(first.forall(_.ok), first.mkString("; "))
    // the next batch lands in the two fact tables of the source
    orders(7L to 9L).write.mode("append").parquet(s"$src/orders.parquet")
    items(7L to 9L).write.mode("append").parquet(s"$src/items.parquet")
    var tick = Seq.empty[Pipeline.StageStatus]
    val jobs = jobStarts { tick = Pipeline.run(spark, layers, cfg(incremental = true)) }
    assert(tick.forall(_.ok), tick.mkString("; "))
    // schema inference is the one kind of job that runs outside any SQL
    // execution: a footer read at plan construction. Only the two source
    // tables the batch grew may infer; raw, silver_mapping and
    // transformed_* were written by the pipeline itself, which pinned
    // their schemas
    val inference = jobs.filter(
      _.properties.getProperty("spark.sql.execution.id") == null)
    assert(inference.size == 2,
      inference.map(_.stageInfos.map(_.name).mkString(",")).mkString("; "))
    // measured at 14: 2 inference, then the orders and items appends,
    // the mapping, transform and aggregation writes and their AQE
    // stages. No watermark probe: both watermarks come from the full
    // load's recorded writes. No customers write: its source and raw
    // table are unchanged, so the load is reused. No imputeNulls stats
    // pass: Remove Null Rows runs before Impute Nulls, so the pipeline
    // skips it. One job per table more (a probe, the old count pass, a
    // census) or an inference job per re-read layer breaks the budget
    assert(jobs.size <= 14, s"${jobs.size} jobs")
  }
}
