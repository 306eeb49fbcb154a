package graft.engine

import org.apache.spark.sql.SparkSession
import graft.engine.Aggregations.AggSpec
import graft.sources.ParquetStore

/** O1/O4: config-driven pipeline sequencing
  * (/root/reference/ETL_Pipeline_Entire/scheduler.py:185-209, 58-103) —
  * extraction → mapping → transformation → aggregation over parquet layer
  * directories, mirroring the reference's four JSON config files and its
  * medallion layers (raw → silver_mapping → silver → gold).
  *
  * Stage boundaries materialize to parquet for replayability (the
  * reference's status-file gating). Within a stage each table's transform
  * chain is one plan, so Catalyst fuses the selected transforms into one
  * codegen'd pass, but a stage can still run jobs per table before its
  * writes: imputeNulls' stats pass, unless an earlier Remove Null Rows
  * made it provably zero (Transforms.pipeline), and extraction's
  * watermark probe when the target's record in the table layer cannot
  * give the watermark (Extraction). The tables of a stage are
  * independent, so the stage entry points (Extraction.runJob, Transforms.transformAll and
  * the table writers) run their per-table work concurrently through
  * [[Parallel.map]], and every table's task is joined before the stage
  * returns or fails — the next stage never starts beside a straggler of
  * the last. The tables a stage writes are read back by the next without
  * a schema-inference job (Tables.write pins their schemas).
  *
  * A stage rewrites only the outputs whose inputs changed. [[Tables]]
  * keeps one per-JVM record per output path: the schema pinned for the
  * path's listing and the last recorded write. Reuse needs a
  * fingerprint the engine built, and every stage write (the extraction
  * loads, and the mapping, transformation and aggregation outputs, all
  * frames the engine built itself) passes one: an output whose frame
  * has the fingerprint of its last recorded write — same plan, same
  * confs, same listing of every file it reads — and whose own listing
  * is unchanged since that write is left as it is, and no job runs for
  * it. Watermarks come from the record too (Extraction). Between two
  * ticks only the fact tables grow, so the dimension tables and every
  * output built from them alone are reused. Each stage's detail says
  * how many outputs it reused. A new JVM recomputes everything once;
  * the public writers (Tables.write/writeAll, Sql.saveGold) always
  * write.
  *
  * Time-based scheduling (O2/O3) is driver-side orchestration outside the
  * engine core; the streaming-native upgrade path for recurring incremental
  * loads is graft.streaming.IncrementalStream.
  */
object Pipeline {

  /** The four config files, as one case class tree.
    * - extraction: per-table mode (extraction.json)
    * - mappingEnabled: O4 on/off switch (mapping_status.json)
    * - transforms: selected transform display names in application order
    *   (selected_transformations.json)
    * - aggregations: per-table A1 specs (selected_aggregation_parameters.json)
    * - tableMeta: per-table PK/FK the reference introspects from MySQL
    *
    * A bucketed catalog copy of a silver table is not a pipeline stage:
    * publish one with [[Bucketing.writeBucketed]].
    */
  case class Config(
    extraction: Seq[Extraction.TableJob] = Nil,
    mappingEnabled: Boolean = true,
    transforms: Seq[String] = Nil,
    aggregations: Map[String, AggSpec] = Map.empty,
    tableMeta: Map[String, Mapping.TableMeta] = Map.empty)

  /** Layer directories (the reference's five MySQL databases). */
  case class Layers(source: String, raw: String, silverMapping: String,
                    silver: String, gold: String)

  case class StageStatus(stage: String, ok: Boolean, detail: String)

  /** O1 full pipeline run: abort on stage failure like scheduler.py:185-209,
    * returning per-stage status (the JSON status files' content).
    */
  def run(spark: SparkSession, layers: Layers, cfg: Config): Seq[StageStatus] = {
    val statuses = scala.collection.mutable.ArrayBuffer.empty[StageStatus]

    // 1. extraction: source → raw
    val extracted = Extraction.runStage(spark, ParquetStore(layers.source),
      ParquetStore(layers.raw), cfg.extraction)
    val failures = extracted.collect { case Left((t, e)) => s"$t: ${e.getMessage}" }
    val reusedRaw = extracted.count(_.exists(_._2))
    statuses += StageStatus("extraction", failures.isEmpty,
      if (failures.isEmpty) s"${extracted.size} tables, $reusedRaw reused"
      else failures.mkString("; "))
    if (failures.nonEmpty) return statuses.toSeq

    val rawNames = cfg.extraction.map(_.table)
    val raw = Tables.load(spark, layers.raw, rawNames)

    // Stages 2-4 each get their OWN status + abort boundary — like
    // extraction, and like the reference's per-stage try/except status
    // files. One shared catch here used to attribute a stage-4
    // aggregation failure to "transformation" even though every silver
    // transform output had been written (code-review r13), so a replay
    // gate driven by these statuses would re-run the wrong stage.
    def stage(name: String)(body: => String): Boolean =
      try { statuses += StageStatus(name, ok = true, body); true }
      catch {
        case scala.util.control.NonFatal(e) =>
          statuses += StageStatus(name, ok = false,
            Option(e.getMessage).getOrElse(e.toString))
          false
      }

    // 2. mapping: raw → silver_mapping (O4: off → verbatim copy,
    //    scheduler.py:62-103)
    var mapped = raw
    if (!stage("mapping") {
      mapped =
        if (cfg.mappingEnabled) Mapping.mergeTables(raw, cfg.tableMeta, rawNames)
        else raw
      val reused = Tables.writeAllReusing(mapped, layers.silverMapping)
      (if (cfg.mappingEnabled) s"${mapped.size} outputs" else "skipped (copy)") +
        s", $reused reused"
    }) return statuses.toSeq

    // 3. transformation: silver_mapping → silver, prefix "transformed"
    //    (transformations_code.py:206-213 via scheduler.py:113-183)
    var transformed = Map.empty[String, org.apache.spark.sql.DataFrame]
    if (!stage("transformation") {
      val silverIn = Tables.load(spark, layers.silverMapping, mapped.keys.toSeq)
      transformed = Transforms.transformAll(silverIn, cfg.transforms)
      val reused = Tables.writeAllReusing(transformed, layers.silver,
        prefix = "transformed")
      s"${transformed.size} transformed, $reused reused"
    }) return statuses.toSeq

    // 4. aggregation: per-table A1, prefix "agg" (scheduler.py:143-170);
    //    ineligible specs skip (A3 guard), like the reference.
    //    Aggregate the transformed_* PARQUET stage 3 just wrote, not the
    //    in-memory transform plans: the lazy plans re-execute the whole
    //    scan + transform chain (incl. the dedup shuffle) once per
    //    aggregated table — the stage-boundary materialization exists
    //    precisely so each stage pays its inputs once (code-review r14)
    stage("aggregation") {
      // PER-TABLE error isolation (front_end.py:488-496's try/except):
      // one table's bad spec — e.g. funcs=Seq("avg"), the natural Spark
      // spelling of the supported "mean" — used to throw out of
      // aggregate() and fail the WHOLE stage, silently losing every
      // valid table's aggregates; the reference errors that one table
      // and aggregates the rest (code-review r14)
      val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
      val aggregated = for {
        (name, spec) <- cfg.aggregations
        if transformed.contains(name)
        df = Tables.table(spark, layers.silver, s"transformed_$name")
        out <- (try Aggregations.aggregate(df, spec)
                catch { case scala.util.control.NonFatal(e) =>
                  skipped += s"$name: ${e.getMessage}"
                  None
                })
      } yield name -> out
      val reused = Tables.writeAllReusing(aggregated, layers.silver,
        prefix = "agg")
      s"${aggregated.size} aggregated, $reused reused" +
        (if (skipped.isEmpty) "" else s"; errors: ${skipped.mkString("; ")}")
    }
    statuses.toSeq
  }
}
