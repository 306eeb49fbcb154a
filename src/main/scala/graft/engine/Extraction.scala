package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{ParquetStore, Store}

/** E1–E3: bronze ingest — full refresh and high-watermark incremental load
  * (/root/reference/ETL_Pipeline_Entire/data_extraction.py:28-144).
  *
  * The watermark column is the table's FIRST schema field (ordinal-0
  * assumption, data_extraction.py:86-87), compared TYPED (the reference
  * string-quotes the value and leans on MySQL implicit casts; we keep the
  * declared comparison semantics — SURVEY.md §7.5.4).
  *
  * Scale notes: the incremental filter is a plain predicate on the source
  * scan — Catalyst pushes it into the parquet/JDBC reader, so an
  * incremental pull reads only matching row groups (min/max pruning), not
  * the full table. The target-side MAX is a scalar agg over the watermark
  * column only (column-pruned scan). Appends are partitioned parquet writes
  * — no driver bottleneck at any scale.
  */
object Extraction {

  /** Result row the reference reports per extracted table
    * (rows + timestamp, data_extraction.py:52-53).
    */
  case class ExtractResult(table: String, mode: String, rows: Long)

  /** E1 Full Refresh: overwrite target with the whole source
    * (data_extraction.py:28-56). Schema travels with the parquet write
    * (S6 drop+create for free).
    */
  def fullRefresh(source: DataFrame, targetDir: String,
                  table: String): ExtractResult =
    fullRefresh(source, ParquetStore(targetDir), table)

  /** Store-generic E1: same semantics against parquet or JDBC targets
    * (the reference's target is always a MySQL DB).
    */
  def fullRefresh(source: DataFrame, target: Store,
                  table: String): ExtractResult = {
    val rows = writeCounted(source)(target.write(_, table, mode = "overwrite"))
    ExtractResult(table, "Full Refresh", rows)
  }

  /** Write `df` through `write` and return the number of rows that write
    * consumed. The count rides the write's own job as an `Observation`
    * (the Dedup convergence-statistic discipline): ONE source scan, no
    * cached copy, and what is reported is exactly what was written — a
    * second scan both doubles the dominant cost and, for a live JDBC
    * source, can count rows that were never written (the reference
    * counts the frame it wrote). `write` must run exactly one action on
    * the frame it is given; the observation is read only after it
    * returned, so a failed write throws instead of waiting for metrics.
    */
  private def writeCounted(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = org.apache.spark.sql.Observation()
    write(df.observe(obs, count(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }

  /** The rows of `source` strictly past `target`'s high watermark
    * (max of the first column); whole source when the target is absent or
    * empty (null watermark → initial full load, data_extraction.py:67-92).
    */
  def incrementalRows(source: DataFrame, target: Option[DataFrame]): DataFrame = {
    val wmCol = source.columns.head
    val wm = target.flatMap { t =>
      Option(t.agg(max(col(t.columns.head))).collect()(0).get(0))
    }
    wm match {
      case Some(v) => source.filter(col(wmCol) > lit(v))
      case None    => source
    }
  }

  /** E2 Incremental Load: append source rows past the target's watermark;
    * missing target → create + full load (data_extraction.py:59-107).
    */
  def incrementalLoad(spark: SparkSession, source: DataFrame,
                      targetDir: String, table: String): ExtractResult =
    incrementalLoad(spark, source, ParquetStore(targetDir), table)

  /** Store-generic E2. With a JDBC target the watermark filter is pushed
    * into the source's WHERE clause (when the source is also JDBC) and
    * the append batches `batchsize` rows per INSERT — the reference's
    * chunked `to_sql` (data_extraction.py:51).
    */
  def incrementalLoad(spark: SparkSession, source: DataFrame,
                      target: Store, table: String): ExtractResult = {
    val existing = target.readIfExists(spark, table)
    val mode = if (existing.isDefined) "append" else "overwrite"
    val rows = writeCounted(incrementalRows(source, existing))(
      target.write(_, table, mode))
    ExtractResult(table, "Incremental Load", rows)
  }

  /** Per-table extraction config (extraction.json,
    * data_extraction.py:110-144): mode is "Full Refresh" or
    * "Incremental Load".
    */
  case class TableJob(table: String, mode: String)

  /** E3 config-driven multi-table job: apply E1/E2 per configured table,
    * error-per-table isolation like the reference's try/except-log-continue.
    */
  def runJob(spark: SparkSession, sourceDir: String, targetDir: String,
             jobs: Seq[TableJob]): Seq[Either[(String, Throwable), ExtractResult]] =
    runJob(spark, ParquetStore(sourceDir), ParquetStore(targetDir), jobs)

  /** Store-generic E3 — source and target can each be parquet or JDBC,
    * covering all four reference-shaped flows (DB→DB is the reference's
    * own bronze→silver move). Tables extract concurrently
    * ([[Parallel.map]]); results come back in `jobs` order, and every
    * table has finished when this returns.
    */
  def runJob(spark: SparkSession, source: Store, target: Store,
             jobs: Seq[TableJob]): Seq[Either[(String, Throwable), ExtractResult]] =
    Parallel.map(spark, jobs) { j =>
      try {
        val src = source.read(spark, j.table)
        Right(j.mode match {
          case "Incremental Load" => incrementalLoad(spark, src, target, j.table)
          case "Full Refresh"     => fullRefresh(src, target, j.table)
          // a catch-all-to-fullRefresh turned a typo'd or re-cased mode
          // string ("incremental load") into mode=overwrite — silently
          // replacing an accumulated incremental target with the
          // source's current window (code-review r13). Unknown modes
          // fail the TABLE (a Left), like any other per-table error.
          case other => throw new IllegalArgumentException(
            s"unknown extraction mode '$other' for ${j.table} " +
              "(expected 'Full Refresh' or 'Incremental Load')")
        })
      } catch {
        // NonFatal: swallowing an OutOfMemoryError or interrupt into a
        // per-table Left and continuing 49 more jobs on a broken JVM is
        // worse than failing (the reference catches only Exception)
        case scala.util.control.NonFatal(e) => Left(j.table -> e)
      }
    }
}
