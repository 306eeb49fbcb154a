package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.engine._
import graft.engine.Aggregations.AggSpec

/** The paper's workload: a one-shot Full-Refresh load of the seeded
  * e-commerce source, then the every-N-minutes loop. Each tick appends
  * the next growth batch to the source and runs the pipeline with
  * Incremental Load on the fact tables and Full Refresh on the dimension
  * tables, mapping on, all seven transforms and A1 aggregations. Every
  * op ends by refreshing the gold layer: the front-end's saved queries
  * run again through `Sql.runSql` and are saved with `Sql.saveGold`.
  *
  * A plain op is one `Pipeline.run`. A traced op calls the stage entry
  * points in `Pipeline.run`'s own order, each inside its layer's span,
  * on a second set of layer directories: a traced run copies the layers
  * the Full-Refresh load wrote, then runs each tick traced on the copy
  * and plain on the original, so the two sets can be compared digest
  * for digest. The traced tick runs where a plain run's tick runs (the
  * second pipeline run of the JVM), so its time is comparable with the
  * plain runs' `op_p50_s`.
  */
object Medallion {

  def config(run: Main.Run, incremental: Boolean): Pipeline.Config = {
    val facts = run.strs("facts").toSet
    val aggs = run.plan.get("aggregations").properties().asScala.map { e =>
      def list(k: String) = e.getValue.get(k).elements().asScala
        .map(_.asText()).toSeq
      e.getKey -> AggSpec(list("groupby"), list("aggcols"), list("funcs"))
    }.toMap
    Pipeline.Config(
      extraction = run.strs("tables").map { t =>
        Extraction.TableJob(t,
          if (incremental && facts(t)) "Incremental Load" else "Full Refresh")
      },
      mappingEnabled = true,
      transforms = Transforms.names,
      aggregations = aggs)
  }

  def layers(root: String, source: String): Pipeline.Layers =
    Pipeline.Layers(source, s"$root/raw", s"$root/silver_mapping",
      s"$root/silver", s"$root/gold")

  /** `Pipeline.run` stage by stage, each stage inside its span. Mirrors
    * Pipeline.run (bucketBy unused here): the same calls, in the same
    * order, on the same arguments. */
  def tracedRun(run: Main.Run, l: Pipeline.Layers,
                cfg: Pipeline.Config): Unit = {
    val spark = run.spark
    val span = run.spans
    span("pipeline") {
      val extracted = span("extraction") {
        Extraction.runJob(spark, l.source, l.raw, cfg.extraction)
      }
      extracted.collectFirst { case Left((t, e)) =>
        throw new IllegalStateException(s"extraction failed on $t", e)
      }
      val rawNames = cfg.extraction.map(_.table)
      val raw = span("tables")(Tables.load(spark, l.raw, rawNames))
      val mapped = span("mapping") {
        val m = Mapping.mergeTables(raw, cfg.tableMeta, rawNames)
        Tables.writeAll(m, l.silverMapping)
        m
      }
      val silverIn = span("tables") {
        Tables.load(spark, l.silverMapping, mapped.keys.toSeq)
      }
      val transformed = span("transforms") {
        val t = Transforms.transformAll(silverIn, cfg.transforms)
        Tables.writeAll(t, l.silver, prefix = "transformed")
        t
      }
      span("aggregations") {
        val aggregated = for {
          (name, spec) <- cfg.aggregations
          if transformed.contains(name)
          df = span("tables")(Tables.table(spark, l.silver, s"transformed_$name"))
          out <- Aggregations.aggregate(df, spec)
        } yield name -> out
        Tables.writeAll(aggregated, l.silver, prefix = "agg")
      }
    }
  }

  def plainRun(run: Main.Run, l: Pipeline.Layers,
               cfg: Pipeline.Config): Unit = {
    val failed = Pipeline.run(run.spark, l, cfg).filterNot(_.ok)
    if (failed.nonEmpty)
      throw new IllegalStateException(failed.mkString("; "))
  }

  /** The gold layer: the front-end's saved queries re-run over the fresh
    * silver tables through the SQL box and saved again. */
  def refreshGold(run: Main.Run, l: Pipeline.Layers): Unit = {
    val span = run.spans
    span("tables")(Tables.open(run.spark, l.silver, run.strs("gold_views")))
    run.plan.get("gold_queries").properties().asScala.foreach { e =>
      val df = span("sql") {
        val d = Sql.runSql(run.spark, e.getValue.asText())
        d.collect()
        d
      }
      if (df.columns.sameElements(Array("Error")))
        throw new IllegalStateException(
          s"gold query ${e.getKey}: ${df.head().getString(0)}")
      span("gold")(Sql.saveGold(df, l.gold, e.getKey))
    }
  }

  /** One op: the pipeline (plain, or stage by stage when traced), then
    * the gold refresh. */
  def cycle(run: Main.Run, l: Pipeline.Layers, cfg: Pipeline.Config,
            traced: Boolean): Unit = {
    if (traced) tracedRun(run, l, cfg) else plainRun(run, l, cfg)
    refreshGold(run, l)
  }

  /** New source rows arrive: batch `dir`'s part files join the source's
    * table directories. File copies only; no Spark work. */
  def appendBatch(dir: String, source: String): Unit =
    Files.list(Paths.get(dir)).iterator().asScala.foreach { table =>
      Main.copyParts(table.toString,
        Paths.get(source, table.getFileName.toString).toString)
    }

  def run(run: Main.Run): Unit = {
    val source = run.str("source")
    val batches = run.strs("batches")
    val plain = layers(run.str("plain_root"), source)
    val traced = layers(run.str("traced_root"), source)
    val full = config(run, incremental = false)
    val tick = config(run, incremental = true)

    run.op(0, "full_load")(cycle(run, plain, full, traced = false))
    if (run.traced) Main.copyTree(run.str("plain_root"), run.str("traced_root"))
    var i = 1
    // one tick per growth batch, however long they take, so a run always
    // measures the same ops
    for ((batch, tickNo) <- batches.zipWithIndex) {
      appendBatch(batch, source)
      if (run.traced) {
        run.spans.enabled = true
        run.op(i, "tick", traced = true)(cycle(run, traced, tick, traced = true))
        run.spans.enabled = false
        run.lastOp.put("batch", tickNo)
        i += 1
      }
      run.op(i, "tick")(cycle(run, plain, tick, traced = false))
      run.lastOp.put("batch", tickNo)
      i += 1
    }
  }
}
