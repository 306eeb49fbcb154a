package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{CsvStore, JsonlStore, ParquetStore, Store}

/** E1–E3: bronze ingest — full refresh and high-watermark incremental load
  * (/root/reference/ETL_Pipeline_Entire/data_extraction.py:28-144).
  *
  * The watermark column is the table's FIRST schema field (ordinal-0
  * assumption, data_extraction.py:86-87), compared TYPED (the reference
  * string-quotes the value and leans on MySQL implicit casts; we keep the
  * declared comparison semantics — SURVEY.md §7.5.4).
  *
  * Every load — [[fullRefresh]], [[incrementalLoad]] and each table of
  * [[runJob]] — is one per-table [[load]]. Into a parquet target it
  * records the max of the written first column, riding the write's own
  * row-count observation, in the table layer's per-JVM record of the
  * target path (`Tables.Written`). Watermarks come from the record:
  * while the target's listing is still the one that write left, the
  * next incremental load takes the watermark from there and runs no job
  * for it. Otherwise — a new JVM, a target another writer touched, a
  * JDBC target, a first column that is not orderable — it probes the
  * target: one scalar MAX job over the watermark column only
  * (column-pruned scan). Skipping a load needs a fingerprint the engine
  * built, which only [[runJob]] passes.
  *
  * Scale notes: the incremental filter is a plain predicate on the source
  * scan — Catalyst pushes it into the parquet/JDBC reader, so an
  * incremental pull reads only matching row groups (min/max pruning), not
  * the full table. Appends are partitioned parquet writes
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
                  table: String): ExtractResult =
    load(source.sparkSession, source, None, target, table, "Full Refresh")._1

  /** The rows of `source` strictly past `target`'s high watermark
    * (max of the first column); whole source when the target is absent or
    * empty (null watermark → initial full load, data_extraction.py:67-92).
    */
  def incrementalRows(source: DataFrame, target: Option[DataFrame]): DataFrame =
    past(source, target.flatMap(probe))

  /** A target's watermark: the max of its first column, None when null. */
  private def probe(target: DataFrame): Option[Any] =
    Option(target.agg(max(col(target.columns.head))).collect()(0).get(0))

  private def past(source: DataFrame, watermark: Option[Any]): DataFrame =
    watermark.fold(source)(v => source.filter(col(source.columns.head) > lit(v)))

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
                      target: Store, table: String): ExtractResult =
    load(spark, source, None, target, table, "Incremental Load")._1

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
    *
    * Each table's source is fingerprinted, so a load into a parquet
    * target that would write what the target's record says it holds is
    * skipped ([[load]]). Only a source read by one of the engine's file
    * stores is fingerprinted: a custom [[Store]]'s read could carry a
    * UDF, whose body no fingerprint sees.
    */
  def runJob(spark: SparkSession, source: Store, target: Store,
             jobs: Seq[TableJob]): Seq[Either[(String, Throwable), ExtractResult]] =
    runStage(spark, source, target, jobs).map(_.map(_._1))

  /** [[runJob]], each result paired with whether its load was skipped. */
  private[engine] def runStage(spark: SparkSession, source: Store,
      target: Store, jobs: Seq[TableJob])
      : Seq[Either[(String, Throwable), (ExtractResult, Boolean)]] =
    Parallel.map(spark, jobs) { j =>
      try {
        val src = source.read(spark, j.table)
        val fp = source match {
          case _: ParquetStore | _: CsvStore | _: JsonlStore =>
            Tables.fingerprint(src)
          case _ => None
        }
        Right(load(spark, src, fp, target, j.table, j.mode))
      } catch {
        // NonFatal: swallowing an OutOfMemoryError or interrupt into a
        // per-table Left and continuing 49 more jobs on a broken JVM is
        // worse than failing (the reference catches only Exception)
        case scala.util.control.NonFatal(e) => Left(j.table -> e)
      }
    }

  /** E1 or E2 (`mode`) of `src` into `target`'s `table`, returning
    * whether it was skipped. Into a parquet target the load reads and
    * leaves the path's record: a Full Refresh is skipped, reporting the
    * rows it wrote, when the record's overwrite was of a frame with
    * fingerprint `fp`; an Incremental Load is skipped with 0 rows when
    * the record's write was of such a frame and left a non-null max.
    * That skip is exact: that write appended (or wrote) every source row
    * past the watermark it used, so every non-null first-column value of
    * the source is at most the recorded max, and `past` would select
    * nothing. Into other stores every load runs, and an incremental
    * one probes.
    */
  private def load(spark: SparkSession, src: DataFrame, fp: Option[String],
      target: Store, table: String,
      mode: String): (ExtractResult, Boolean) = {
    val full = mode match {
      case "Full Refresh" => true
      case "Incremental Load" => false
      // a catch-all-to-fullRefresh turned a typo'd or re-cased mode
      // string ("incremental load") into mode=overwrite — silently
      // replacing an accumulated incremental target with the source's
      // current window (code-review r13). Unknown modes fail the TABLE
      // (a Left in runJob), like any other per-table error.
      case other => throw new IllegalArgumentException(
        s"unknown extraction mode '$other' for $table " +
          "(expected 'Full Refresh' or 'Incremental Load')")
    }
    def result(rows: Long) = ExtractResult(table, mode, rows)
    val dir = Some(target).collect { case ParquetStore(d) => d }
    lazy val last = dir.flatMap(Tables.lastWrite(spark, _, table))
    val reusable = if (fp.isEmpty) None else last.filter(w =>
      w.fingerprint == fp && (if (full) w.overwrite else w.max.flatten.isDefined))
    reusable match {
      case Some(w) => (result(if (full) w.rows else 0), true)
      case None =>
        // Some(watermark) when the target exists
        val wm = if (full) None else last.flatMap(_.max)
          .orElse(target.readIfExists(spark, table).map(probe))
        val (delta, m) =
          wm.fold((src, "overwrite"))(v => (past(src, v), "append"))
        (result(dir match {
          case Some(d) => Tables.writeRecorded(delta, d, table, m, fp, wm.flatten).rows
          case None => Tables.observed(delta)(target.write(_, table, m))._2
        }), false)
    }
  }
}
