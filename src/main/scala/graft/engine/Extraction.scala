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
  * Where the watermark comes from: every load [[runJob]] makes into a
  * parquet target records the max of the written first column, riding
  * the write's own row-count observation, in the table layer's per-JVM
  * reuse memo (`Tables.Written`). While the target's listing is still
  * the one that write left, the next incremental load takes the
  * watermark from there and runs no job for it. Otherwise — a new JVM,
  * a target another writer touched, a JDBC target, a first column that
  * is not orderable, or the public [[incrementalLoad]] — it probes the
  * target: one scalar MAX job over the watermark column only
  * (column-pruned scan).
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
                  table: String): ExtractResult = {
    val (_, rows, _) =
      Tables.observed(source)(target.write(_, table, mode = "overwrite"))
    ExtractResult(table, "Full Refresh", rows)
  }

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
                      target: Store, table: String): ExtractResult = {
    val existing = target.readIfExists(spark, table)
    val mode = if (existing.isDefined) "append" else "overwrite"
    val (_, rows, _) = Tables.observed(incrementalRows(source, existing))(
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
    *
    * A load into a parquet target goes through the table layer's reuse
    * memo (`Tables.Written`): a Full Refresh whose source frame has the
    * fingerprint of the target's recorded overwrite, and whose target
    * still shows the listing that write left, is skipped and reports
    * the rows it wrote; an Incremental Load of a source with the
    * fingerprint of the target's last recorded write (which took every
    * source row up to a known max) is skipped with 0 rows; and an
    * Incremental Load takes its watermark from the memo (see the
    * object's note). Only a source read by one of the engine's file
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
        Right((j.mode, target) match {
          case ("Incremental Load", ParquetStore(dir)) =>
            incrementalRecorded(spark, src, fp, dir, j.table)
          case ("Full Refresh", ParquetStore(dir)) =>
            val (w, reused) = Tables.overwriteReusing(src, dir, j.table, fp)
            (ExtractResult(j.table, j.mode, w.rows), reused)
          case ("Incremental Load", _) =>
            (incrementalLoad(spark, src, target, j.table), false)
          case ("Full Refresh", _) => (fullRefresh(src, target, j.table), false)
          // a catch-all-to-fullRefresh turned a typo'd or re-cased mode
          // string ("incremental load") into mode=overwrite — silently
          // replacing an accumulated incremental target with the
          // source's current window (code-review r13). Unknown modes
          // fail the TABLE (a Left), like any other per-table error.
          case (other, _) => throw new IllegalArgumentException(
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

  /** E2 into the parquet table `dir/table` through the reuse memo. The
    * skip is exact: the recorded write of this same source appended (or
    * wrote) every row past the watermark it used, so every non-null
    * first-column value of the source is at most the recorded max, and
    * `past` would select nothing. A recorded max that is null would
    * select the whole source again, so that load runs.
    */
  private def incrementalRecorded(spark: SparkSession, src: DataFrame,
      fp: Option[String], dir: String,
      table: String): (ExtractResult, Boolean) = {
    val last = Tables.lastWrite(spark, dir, table)
    def result(rows: Long) = ExtractResult(table, "Incremental Load", rows)
    if (last.exists(w => fp.isDefined && w.fingerprint == fp &&
        w.max.flatten.isDefined)) (result(0), true)
    else {
      // Some(watermark) when the target exists
      val wm = last.flatMap(_.max)
        .orElse(ParquetStore(dir).readIfExists(spark, table).map(probe))
      val w = wm match {
        case None => Tables.writeRecorded(src, dir, table, "overwrite", fp)
        case Some(v) =>
          Tables.writeRecorded(past(src, v), dir, table, "append", fp, v)
      }
      (result(w.rows), false)
    }
  }
}
