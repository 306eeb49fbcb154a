package graft

import graft.engine._
import graft.engine.Aggregations.AggSpec
import graft.engine.Extraction.TableJob
import graft.sources.JdbcStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The table layer's reuse memo (`Tables.Written`): `Pipeline.run` and
  * `Extraction.runJob` rewrite only the outputs whose inputs changed,
  * and an incremental load takes its watermark from the last recorded
  * write. Every trigger that changes what an output holds recomputes
  * it; frames whose result a fingerprint cannot pin are never reused.
  */
class ReuseSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp() = tmpDir("reuse")

  private def orders(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, 10L + i % 3, 2.5 * i)).toDF("okey", "ckey", "amount")

  /** A small star. Mapping joins region⋈customer on `rkey` (dimensions
    * only) and customer⋈orders on `ckey`, and passes supplier through;
    * `zone` is a second key region and customer share, for a declared FK
    * to pick instead.
    */
  private def star(src: String): Unit = {
    Seq((1L, "north", "z1"), (2L, "south", "z2")).toDF("rkey", "label", "zone")
      .write.parquet(s"$src/region.parquet")
    Seq((10L, 1L, "z2", "Leeds"), (11L, 2L, "z1", "Bath"), (12L, 1L, "z1", "York"))
      .toDF("ckey", "rkey", "zone", "city").write.parquet(s"$src/customer.parquet")
    Seq((7L, "acme"), (8L, "zenith")).toDF("skey", "sname")
      .write.parquet(s"$src/supplier.parquet")
    orders(1L to 6L).write.parquet(s"$src/orders.parquet")
  }

  private val dims = Seq("region", "customer", "supplier")

  private def cfg(incremental: Boolean = false,
                  transforms: Seq[String] = Transforms.names,
                  sum: String = "sum",
                  meta: Map[String, Mapping.TableMeta] = Map.empty) =
    Pipeline.Config(
      extraction = dims.map(TableJob(_, "Full Refresh")) :+
        TableJob("orders", if (incremental) "Incremental Load" else "Full Refresh"),
      transforms = transforms,
      aggregations = Map(
        "customer_orders_merged" ->
          AggSpec(Seq("city_customer"), Seq("amount_orders"), Seq(sum)),
        "region_customer_merged" ->
          AggSpec(Seq("label_region"), Seq("ckey_customer"), Seq("count"))),
      tableMeta = meta)

  private def layers(src: String) = Pipeline.Layers(src, tmp(), tmp(), tmp(), tmp())

  private def run(l: Pipeline.Layers, c: Pipeline.Config): Seq[Pipeline.StageStatus] = {
    val s = Pipeline.run(spark, l, c)
    assert(s.size == 4 && s.forall(_.ok), s.mkString("; "))
    s
  }

  /** Per stage, how many outputs it reused (from its detail). */
  private def reused(s: Seq[Pipeline.StageStatus]): Seq[Int] =
    s.map(st => "(\\d+) reused".r.findFirstMatchIn(st.detail)
      .map(_.group(1).toInt).getOrElse(fail(s"no reuse count: ${st.detail}")))

  /** The data files of a table directory: unchanged names mean no write. */
  private def parts(dir: String, name: String): Set[String] =
    Option(new java.io.File(s"$dir/$name.parquet").listFiles()).toSet.flatten
      .map(_.getName).filter(_.startsWith("part-"))

  /** Schema (nullability included) and an order-independent row digest. */
  private def digest(path: String): (String, String) = {
    val df = spark.read.parquet(path)
    val rowsText = df.collect().map(_.toSeq.mkString("\u0001")).sorted.mkString("\n")
    (df.schema.json, java.security.MessageDigest.getInstance("SHA-256")
      .digest(rowsText.getBytes("UTF-8")).map(b => f"$b%02x").mkString)
  }

  private def tables(dir: String): Seq[String] =
    new java.io.File(dir).list().filter(_.endsWith(".parquet")).sorted.toSeq

  test("a tick whose dimension sources did not change runs no job for a dimension-only table and no watermark probe, and equals a fresh Full-Refresh run") {
    val src = tmp()
    star(src)
    val l = layers(src)
    run(l, cfg())
    val dimOnly = Seq(l.raw -> "region", l.raw -> "customer", l.raw -> "supplier",
      l.silverMapping -> "region_customer_merged", l.silverMapping -> "supplier",
      l.silver -> "transformed_region_customer_merged",
      l.silver -> "transformed_supplier", l.silver -> "agg_region_customer_merged")
    val before = dimOnly.map { case (d, n) => parts(d, n) }
    orders(7L to 9L).write.mode("append").parquet(s"$src/orders.parquet")
    var tick = Seq.empty[Pipeline.StageStatus]
    val jobs = jobStarts { tick = run(l, cfg(incremental = true)) }
    assert(reused(tick) == Seq(3, 2, 2, 1), tick.mkString("; "))
    assert(dimOnly.map { case (d, n) => parts(d, n) } == before)
    // 1 inference job (the grown orders source), the orders append,
    // then customer⋈orders' mapping, transformed and agg writes, 2 jobs
    // each (an AQE stage and the write). A write of a dimension-only
    // table, or a watermark probe, breaks it
    val n = jobs.size
    assert(n == 8, s"$n jobs")
    // the tick's layers are what a fresh Full-Refresh load of the final
    // source writes
    val fresh = layers(src)
    run(fresh, cfg())
    for ((a, b) <- Seq(l.raw -> fresh.raw, l.silverMapping -> fresh.silverMapping,
                       l.silver -> fresh.silver)) {
      assert(tables(a) == tables(b))
      for (t <- tables(a)) assert(digest(s"$a/$t") == digest(s"$b/$t"), t)
    }
  }

  test("an incremental load of an unchanged source into an unchanged target is skipped with 0 rows and no job") {
    val src = tmp(); val raw = tmp()
    orders(1L to 4L).write.parquet(s"$src/orders.parquet")
    val job = Seq(TableJob("orders", "Incremental Load"))
    assert(Extraction.runJob(spark, src, raw, job).head.toOption.get.rows == 4)
    var again = Seq.empty[Either[(String, Throwable), Extraction.ExtractResult]]
    val jobs = jobStarts { again = Extraction.runJob(spark, src, raw, job) }
    assert(again.head.toOption.get.rows == 0)
    assert(jobs.isEmpty, s"${jobs.size} jobs")
    assert(spark.read.parquet(s"$raw/orders.parquet").count() == 4)
  }

  test("a dimension source file added or rewritten recomputes that table and what is built from it") {
    val src = tmp()
    star(src)
    val l = layers(src)
    run(l, cfg())
    // added: a new part file with a new row
    Seq((9L, "east", "z3")).toDF("rkey", "label", "zone")
      .write.mode("append").parquet(s"$src/region.parquet")
    // region and what joins it recompute; customer, supplier and orders
    // (raw), supplier (mapping, transformed) and agg of the fact chain
    // built from the unchanged customer_orders_merged stay
    assert(reused(run(l, cfg())) == Seq(3, 2, 2, 1))
    assert(spark.read.parquet(s"${l.raw}/region.parquet").count() == 3)
    // rewritten with the same rows: new part files, so a new listing
    spark.read.parquet(s"$src/supplier.parquet").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1))).toDF("skey", "sname")
      .write.mode("overwrite").parquet(s"$src/supplier.parquet")
    val rerun = run(l, cfg())
    assert(reused(rerun) == Seq(3, 2, 2, 2), rerun.mkString("; "))
  }

  test("an output deleted or overwritten by another writer is recomputed") {
    val src = tmp()
    star(src)
    val l = layers(src)
    run(l, cfg())
    val mine = digest(s"${l.silver}/transformed_supplier.parquet")
    graft.northstar.Artifacts.deleteRec(
      new java.io.File(s"${l.silver}/transformed_supplier.parquet"))
    assert(reused(run(l, cfg())) == Seq(4, 3, 2, 2))
    assert(digest(s"${l.silver}/transformed_supplier.parquet") == mine)
    Seq((0L, "other")).toDF("skey", "sname")
      .write.mode("overwrite").parquet(s"${l.silverMapping}/supplier.parquet")
    Tables.write(Seq((0L, "x")).toDF("skey", "sname"), l.raw, "customer")
    // the overwritten raw customer recomputes, and so does every output
    // built from it or from the overwritten mapping output
    assert(reused(run(l, cfg())) == Seq(3, 0, 0, 0))
    assert(digest(s"${l.silver}/transformed_supplier.parquet") == mine)
  }

  test("a changed transform list recomputes every transformed output") {
    val src = tmp()
    star(src)
    val l = layers(src)
    run(l, cfg())
    // without Remove Duplicates every table's plan changes
    assert(reused(run(l, cfg(transforms = Transforms.names.tail))) ==
      Seq(4, 3, 0, 0))
    // Split Names finds a name column in supplier only: the other two
    // transformed plans, and their outputs, are what they were
    assert(reused(run(l, cfg(transforms = Transforms.names.tail.dropRight(1)))) ==
      Seq(4, 3, 2, 2))
  }

  test("a changed AggSpec recomputes that aggregate only") {
    val src = tmp()
    star(src)
    val l = layers(src)
    run(l, cfg())
    assert(reused(run(l, cfg(sum = "max"))) == Seq(4, 3, 3, 1))
    assert(spark.read.parquet(s"${l.silver}/agg_customer_orders_merged.parquet")
      .columns.contains("amount_orders_max"))
  }

  test("a changed tableMeta FK recomputes the mapping output it re-keys") {
    val src = tmp()
    star(src)
    val l = layers(src)
    run(l, cfg())
    // region's declared FK `zone` now keys region⋈customer instead of rkey
    val zone = Map("region" -> Mapping.TableMeta(fk = Some("zone")))
    assert(reused(run(l, cfg(meta = zone))) == Seq(4, 2, 2, 1))
    val fresh = layers(src)
    run(fresh, cfg(meta = zone))
    for (t <- Seq("region_customer_merged"))
      assert(digest(s"${l.silverMapping}/$t.parquet") ==
        digest(s"${fresh.silverMapping}/$t.parquet"))
  }

  test("a changed session timezone recomputes every output") {
    val src = tmp()
    star(src)
    val l = layers(src)
    run(l, cfg())
    val key = "spark.sql.session.timeZone"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "America/New_York")
      assert(reused(run(l, cfg())) == Seq(0, 0, 0, 0))
    } finally spark.conf.set(key, old)
  }

  test("a write that throws leaves no reusable entry") {
    val src = tmp(); val raw = tmp()
    Seq((1L, 2)).toDF("id", "v").write.parquet(s"$src/t.parquet")
    val job = Seq(TableJob("t", "Full Refresh"))
    assert(Extraction.runJob(spark, src, raw, job).head.isRight)
    assert(Tables.lastWrite(spark, raw, "t").isDefined)
    // a part file whose `v` is a string: the read plans on the first
    // schema and fails while the write job runs
    Seq((2L, "two")).toDF("id", "v").write.mode("append").parquet(s"$src/t.parquet")
    assert(Extraction.runJob(spark, src, raw, job).head.isLeft)
    assert(Tables.lastWrite(spark, raw, "t").isEmpty)
  }

  test("an appended output never serves a Full Refresh of the frame it appended") {
    val src = tmp(); val raw = tmp()
    orders(1L to 2L).write.parquet(s"$src/orders.parquet")
    val inc = Seq(TableJob("orders", "Incremental Load"))
    Extraction.runJob(spark, src, raw, inc)
    orders(3L to 3L).write.mode("overwrite").parquet(s"$src/orders.parquet")
    // appends okey 3 past watermark 2: raw holds 1, 2, 3
    assert(Extraction.runJob(spark, src, raw, inc).head.toOption.get.rows == 1)
    Extraction.runJob(spark, src, raw, Seq(TableJob("orders", "Full Refresh")))
    assert(spark.read.parquet(s"$raw/orders.parquet").as[(Long, Long, Double)]
      .collect().map(_._1).toSeq == Seq(3L))
  }

  test("frames that read anything but files, are nondeterministic or read the clock have no fingerprint") {
    val dir = tmp()
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
    val files = Tables.table(spark, dir, "t")
    assert(Tables.fingerprint(files).isDefined)
    assert(Tables.fingerprint(files.filter($"id" > 0)) ==
      Tables.fingerprint(Tables.table(spark, dir, "t").filter($"id" > 0)))
    assert(Tables.fingerprint(Seq((1L, "a")).toDF("id", "v")).isEmpty)
    assert(Tables.fingerprint(files.union(Seq((2L, "b")).toDF("id", "v"))).isEmpty)
    val db = JdbcStore(url = s"jdbc:derby:${tmp()}/db;create=true",
      props = Map("driver" -> "org.apache.derby.iapi.jdbc.AutoloadedDriver"))
    db.write(files, "t", "overwrite")
    assert(Tables.fingerprint(db.read(spark, "t")).isEmpty)
    assert(Tables.fingerprint(files.withColumn("r", rand(7))).isEmpty)
    assert(Tables.fingerprint(files.withColumn("at", current_timestamp())).isEmpty)
    assert(Tables.fingerprint(files.withColumn("on", current_date())).isEmpty)
  }

  test("the public Tables.write always writes") {
    val dir = tmp(); val out = tmp()
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
    Tables.write(Tables.table(spark, dir, "t"), out, "t")
    val first = parts(out, "t")
    Tables.write(Tables.table(spark, dir, "t"), out, "t")
    assert(parts(out, "t") != first)
    assert(Tables.lastWrite(spark, out, "t").isEmpty)
  }

  test("two frames that differ only in their 30th projected column get different fingerprints") {
    val dir = tmp()
    spark.range(3).select((0 until 30).map(i => ($"id" + i).as(s"c$i")): _*)
      .write.parquet(s"$dir/wide.parquet")
    def frame(k: Int) = {
      val t = Tables.table(spark, dir, "wide")
      t.select((0 until 29).map(i => col(s"c$i")) :+ (col("c29") + k).as("c29"): _*)
    }
    assert(frame(1).schema == frame(2).schema)
    assert(Tables.fingerprint(frame(1)) == Tables.fingerprint(frame(1)))
    assert(Tables.fingerprint(frame(1)) != Tables.fingerprint(frame(2)))
  }

  test("the memo watermark equals the probe's for long, timestamp and string first columns") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val cases: Seq[(String, DataFrame, DataFrame)] = Seq(
      ("long", Seq((3L, 1), (5L, 2)).toDF("k", "x"), Seq((9L, 3)).toDF("k", "x")),
      ("timestamp",
        Seq((ts("2020-01-01 00:00:00"), 1), (ts("2020-03-01 12:30:00"), 2)).toDF("k", "x"),
        Seq((ts("2021-05-05 05:05:05"), 3)).toDF("k", "x")),
      ("string", Seq(("b", 1), ("d", 2)).toDF("k", "x"), Seq(("zz", 3)).toDF("k", "x")))
    for ((kind, base, batch) <- cases) {
      val src = tmp(); val raw = tmp()
      base.write.parquet(s"$src/t.parquet")
      def probe() = Option(Tables.table(spark, raw, "t").agg(max(col("k")))
        .collect()(0).get(0))
      Extraction.runJob(spark, src, raw, Seq(TableJob("t", "Full Refresh")))
      assert(Tables.lastWrite(spark, raw, "t").flatMap(_.max) == Some(probe()), kind)
      batch.write.mode("append").parquet(s"$src/t.parquet")
      var r = Seq.empty[Either[(String, Throwable), Extraction.ExtractResult]]
      val jobs = jobStarts {
        r = Extraction.runJob(spark, src, raw, Seq(TableJob("t", "Incremental Load")))
      }
      assert(r.head.toOption.get.rows == 1, kind)
      // the grown source's inference job and the append; a watermark
      // probe adds its own
      val n = jobs.size
      assert(n == 2, s"$kind: $n jobs")
      assert(Tables.lastWrite(spark, raw, "t").flatMap(_.max) == Some(probe()), kind)
      assert(rows(Tables.table(spark, raw, "t")) == rows(base.union(batch)), kind)
    }
  }

  test("a first column that is not orderable records no watermark and falls back to the probe") {
    val src = tmp(); val raw = tmp()
    Seq((Map("a" -> 1), 1)).toDF("m", "x").write.parquet(s"$src/t.parquet")
    val inc = Seq(TableJob("t", "Incremental Load"))
    assert(Extraction.runJob(spark, src, raw, inc).head.toOption.get.rows == 1)
    assert(Tables.lastWrite(spark, raw, "t").map(_.max) == Some(None))
    // the probe is a max over the map column, which Spark refuses, as it
    // did before there was a memo
    val again = Extraction.runJob(spark, src, raw, inc).head
    val probed = scala.util.Try(Extraction.incrementalRows(
      Tables.table(spark, src, "t"), Some(Tables.table(spark, raw, "t"))))
    assert(again.isLeft && probed.isFailure)
    assert(again.swap.toOption.get._2.getClass == probed.failed.get.getClass)
  }

  test("a path written and read many times holds one record, and a repeat read after the last write runs no job") {
    val dir = tmp()
    val modes = Seq("overwrite", "append", "append", "overwrite", "append",
      "overwrite", "append")
    for ((mode, i) <- modes.zipWithIndex) {
      Tables.write(orders(Seq(i.toLong)), dir, "t", mode)
      val expected = i - modes.lastIndexOf("overwrite", i) + 1
      assert(Tables.table(spark, dir, "t").count() == expected, s"write $i")
    }
    val paths = Tables.recordedPaths.filter(_.contains(dir))
    assert(paths.size == 1, paths)
    Tables.table(spark, dir, "t").schema
    val jobs = jobStarts(Tables.table(spark, dir, "t").schema)
    assert(jobs.isEmpty, s"${jobs.size} jobs")
  }

  test("the public incrementalLoad into parquet takes its watermark from the record, and probes after another writer appended") {
    val raw = tmp()
    def load(ids: Seq[Long]) =
      Extraction.incrementalLoad(spark, orders(ids), raw, "orders").rows
    assert(load(1L to 3L) == 3)
    var rows = 0L
    // the append is the load's one job; a watermark probe adds its own
    val recorded = jobStarts { rows = load(1L to 5L) }
    val n = recorded.size
    assert(rows == 2)
    assert(n == 1, s"$n jobs")
    // okey 6 and 7 land from outside: the record no longer holds
    orders(6L to 7L).write.mode("append").parquet(s"$raw/orders.parquet")
    val probed = jobStarts { rows = load(1L to 9L) }.size
    assert(rows == 2)
    assert(probed > 1, s"$probed jobs")
    assert(spark.read.parquet(s"$raw/orders.parquet").as[(Long, Long, Double)]
      .collect().map(_._1).sorted.toSeq == (1L to 9L))
  }
}
