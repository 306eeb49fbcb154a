package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table-set loading and catalog registration.
  *
  * The reference's only collection abstraction is a named table set
  * (`Dict[table_name, DataFrame]` — /root/reference/ETL_Pipeline_Entire/
  * transformations_code.py:60-72). Here a table set is `Map[String, DataFrame]`
  * backed by one parquet directory per layer; registering every table as a
  * temp view gives `spark.sql` the same catalog the reference's MySQL layer
  * provided (front_end.py:215-225).
  *
  * Scale note: each table is a parquet directory scan — Spark parallelizes by
  * row-group/file split (`spark.sql.files.maxPartitionBytes`), so the same
  * code path serves 6k rows locally and 100 TB on a cluster. Loading is lazy;
  * nothing is read until an action runs, and Catalyst prunes columns/pushes
  * filters into each scan.
  */
object Tables {

  /** All driver-testdata tables (TESTDATA.md + FIXTURES.md). */
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Columns under the epoch-nanos contract, per table. Other timestamp
    * columns (o_orderdate, l_shipdate) keep their native TimestampType —
    * queries use them with date functions directly.
    */
  private val nanosContract: Map[String, Seq[String]] = Map(
    "events" -> Seq("ts"))

  /** The per-JVM path records below ([[records]]) trust a digest of a
    * path's file listing: a record's pinned schema was read or written
    * with that listing, and its recorded write left it. The digest is
    * the full 128-bit MD5 (hex) of the listing's `relative
    * path:size:mtime` entries, read through the session's Hadoop
    * filesystem like every read and write of the path (a local-file walk
    * sees nothing under an `hdfs://`, `s3a://` or `file:` URI). A Spark
    * write always lands fresh part-file names, so every overwrite or
    * append changes the listing. An outside writer that replaces files
    * keeping their name, size and mtime is NOT detected: the record
    * would go on serving what it holds.
    */
  private def qualify(spark: SparkSession, path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  private def hex(algorithm: String, text: String): String =
    java.security.MessageDigest.getInstance(algorithm)
      .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** The listing digest of a qualified path; an absent path lists empty. */
  private def listingDigest(fs: org.apache.hadoop.fs.FileSystem,
                            root: org.apache.hadoop.fs.Path): String = {
    import org.apache.hadoop.fs.FileStatus
    def walk(s: FileStatus): Seq[FileStatus] =
      if (s.isDirectory)
        fs.listStatus(s.getPath).sortBy(_.getPath.getName).toSeq.flatMap(walk)
      else Seq(s)
    val listing =
      try walk(fs.getFileStatus(root))
        .map(s => s"${s.getPath.toString.stripPrefix(root.toString)}:" +
          s"${s.getLen}:${s.getModificationTime}")
        .mkString("|")
      catch { case _: java.io.FileNotFoundException => "" }
    hex("MD5", listing)
  }

  /** A path's qualified form plus its listing digest: the key of
    * [[graft.SparkEntry.corpusKey]].
    */
  private[graft] def listingKey(spark: SparkSession, path: String): String = {
    val (fs, root) = qualify(spark, path)
    s"$root#${listingDigest(fs, root)}"
  }

  /** What the last recorded write of an output left there:
    *   - `fingerprint`: of the frame written, when it may be reused
    *     ([[fingerprint]]);
    *   - `overwrite`: the write replaced the output (false: appended);
    *   - `rows`: the rows written;
    *   - `max`: the max of the first column as the output now holds it,
    *     `Some(None)` when it holds no non-null value, `None` when the
    *     column is not orderable.
    */
  private[graft] final case class Written(fingerprint: Option[String],
      overwrite: Boolean, rows: Long, max: Option[Option[Any]])

  /** What this JVM knows of a path while it shows `listing`: the parquet
    * schema pinned for that listing, if any, and the recorded write that
    * left it, if one did.
    */
  private final case class Record(listing: String,
      schema: Option[org.apache.spark.sql.types.StructType],
      written: Option[Written])

  /** Per-JVM path records: qualified path → [[Record]], one entry per
    * path however often it is rewritten. Every use first checks the
    * record's listing against the one on disk and ignores a record the
    * path no longer shows.
    *
    * The schema (optimization r21, guide §6 — the file-listing-cache
    * class of fix, and the artifact store's `_schemas` discipline
    * applied to the table layer): every schema-less `spark.read.parquet`
    * runs a footer-reading Spark job (`mergeSchemasInParallel`), and
    * plan CONSTRUCTION re-runs it per call — the bench pays it for every
    * table reference of every rep of every query, and on an object store
    * each one is a round-trip before the real read starts. The first
    * read of a listing pins its inferred schema and later reads pass it
    * explicitly — zero inference jobs. This is METADATA only; every
    * action still reads the parquet bytes. A rewrite changes the
    * listing, so the next read re-infers, unless the write SEEDED the
    * schema: an overwrite leaves only files carrying the written frame's
    * schema, which a read infers back made recursively nullable, so that
    * schema is pinned with the listing the write left and the stage that
    * reads the table next (Pipeline's raw → silver_mapping → silver
    * hand-offs) runs no inference job. An append keeps the older files,
    * so it seeds only when the record's listing is the one it appended
    * to and its schema equals the one it writes (every file then
    * carries it).
    *
    * The write (the reuse memo): between two medallion ticks only the
    * fact tables grow, yet every tick used to rewrite the dimension
    * tables and every mapping, transform and aggregate output built from
    * them alone, with the same rows. Pipeline's stages skip an overwrite
    * whose frame has the fingerprint of the recorded write while the
    * output still shows the listing that write left
    * ([[overwriteReusing]]), and Extraction takes its incremental
    * watermark from `max` instead of a probe job. Reuse needs a
    * fingerprint the engine built: the public writers record none. Every
    * write drops the path's record first, so a write that throws leaves
    * none. Nothing is kept on disk: a new JVM recomputes every output
    * once.
    */
  private val records =
    new java.util.concurrent.ConcurrentHashMap[String, Record]()

  /** The qualified paths that hold a record. */
  private[graft] def recordedPaths: Set[String] = {
    import scala.jdk.CollectionConverters._
    records.keySet.asScala.toSet
  }

  /** A qualified path's listing digest, and its record while the path
    * still shows the record's listing.
    */
  private def current(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): (String, Option[Record]) = {
    val listing = listingDigest(fs, root)
    (listing, Option(records.get(root.toString)).filter(_.listing == listing))
  }

  /** The identity of what `df` computes, for reuse: a SHA-256
    * over its canonicalized analyzed plan printed in full (ids
    * normalized, no field elided: Bridge.fullPlanString), its output
    * schema, the session's SQL confs (the timezone among them) and, per
    * file scan, the scan's schemas, options and the path:size:mtime of
    * every file it lists. The transform list, an AggSpec, the mapping
    * keys and the timezone are all covered, with no lineage passed by
    * the caller.
    *
    * None — never reused — when the plan reads anything but files (a
    * `LocalRelation`, JDBC, an RDD), holds a nondeterministic
    * expression (`rand()`), or reads the clock: Spark marks
    * `current_timestamp()` and its kin deterministic, as they are
    * constant within one query but not across two.
    *
    * A UDF prints by its name only, so its body is not covered: only
    * frames the engine built, whose UDFs are its own, are fingerprinted
    * for reuse. The public writers record no fingerprint.
    */
  private[graft] def fingerprint(df: DataFrame): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.{CurrentBatchTimestamp,
      CurrentDate, CurrentTime, CurrentTimestampLike, LocalTimestamp}
    import org.apache.spark.sql.catalyst.plans.logical.LeafNode
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation, PartitioningAwareFileIndex}
    val nodes = df.queryExecution.analyzed.collectWithSubqueries { case p => p }
    val clock = nodes.exists(_.expressions.exists(_.exists {
      case _: CurrentTimestampLike | _: CurrentDate | _: CurrentTime |
           _: LocalTimestamp | _: CurrentBatchTimestamp => true
      case _ => false
    }))
    val scans = nodes.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location match {
          case i: PartitioningAwareFileIndex =>
            Some(Seq(i.rootPaths.mkString(","), h.dataSchema.json,
              h.partitionSchema.json, h.options.toSeq.sorted.mkString(","),
              i.allFiles().map(f =>
                s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
                .sorted.mkString("|")).mkString("\n"))
          case _ => None
        }
        case _ => None
      }
      case _: LeafNode => None
    }
    val deterministic = nodes.forall(_.expressions.forall(_.deterministic))
    if (clock || !deterministic || scans.contains(None)) None
    else Some(hex("SHA-256", (Seq(
      org.apache.spark.sql.graftbridge.Bridge.fullPlanString(df),
      df.schema.json,
      df.sparkSession.conf.getAll.toSeq.sorted.mkString("\n")) ++
      scans.flatten).mkString("\n\u0000\n")))
  }

  /** The recorded write of `dir/name` while the output still shows the
    * listing that write left; None otherwise.
    */
  private[graft] def lastWrite(spark: SparkSession, dir: String,
                               name: String): Option[Written] = {
    val (fs, root) = qualify(spark, s"$dir/$name.parquet")
    current(fs, root)._2.flatMap(_.written)
  }

  /** Write `df` to `dir/name` ("overwrite" or "append") and record the
    * write in the path's record under `fingerprint`. The row count and the
    * first column's max ride the write's one job ([[observed]]). An
    * append's max is the appended rows' max, or `watermark` — the
    * output's max before the append, which every appended row exceeds —
    * when it appended no non-null value.
    */
  private[engine] def writeRecorded(df: DataFrame, dir: String, name: String,
      mode: String, fingerprint: Option[String],
      watermark: Option[Any] = None): Written = {
    val ((path, rec), rows, max) = observed(df)(put(_, dir, name, mode))
    val w = Written(fingerprint, mode == "overwrite", rows,
      if (mode == "overwrite") max else max.map(_.orElse(watermark)))
    records.put(path, rec.copy(written = Some(w)))
    w
  }

  /** Pipeline's sink for one frame the engine built: overwrite `dir/name`
    * unless its recorded write replaced it with a frame of the same
    * `fingerprint` and its listing is still the one that write left.
    * Returns the output's recorded write and whether it was reused
    * (nothing ran).
    */
  private[engine] def overwriteReusing(df: DataFrame, dir: String,
      name: String, fingerprint: Option[String]): (Written, Boolean) =
    lastWrite(df.sparkSession, dir, name)
      .filter(w => w.overwrite && fingerprint.isDefined &&
        w.fingerprint == fingerprint) match {
      case Some(w) => (w, true)
      case None => (writeRecorded(df, dir, name, "overwrite", fingerprint), false)
    }

  /** Run `write` on `df` with the row count and the max of its first
    * column riding the write's own job as an `Observation` (the Dedup
    * convergence-statistic discipline): ONE scan, no cached copy, and
    * what is reported is exactly what was written — a second scan both
    * doubles the dominant cost and, for a live JDBC source, can count
    * rows that were never written. The max is `Some(None)` when no
    * non-null value was written and `None` when the column is not
    * orderable. `write` must run exactly one action on the frame it is
    * given; the observation is read only after it returned, so a failed
    * write throws instead of waiting for metrics.
    */
  private[engine] def observed[B](df: DataFrame)(write: DataFrame => B)
      : (B, Long, Option[Option[Any]]) = {
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    import org.apache.spark.sql.functions.{col, count, lit, max}
    val first = df.schema.fields.headOption
      .filter(f => RowOrdering.isOrderable(f.dataType))
    val obs = org.apache.spark.sql.Observation()
    val b = write(df.observe(obs, count(lit(1)).as("rows"),
      first.map(f => max(col(s"`${f.name.replace("`", "``")}`")).as("max"))
        .toSeq: _*))
    val m = obs.get
    (b, m("rows").asInstanceOf[Long], first.map(_ => Option(m("max"))))
  }

  /** Schema-cached parquet read of an immutable-while-referenced path
    * (the [[records]] note): the first read of a listing infers and
    * pins, later reads of the SAME listing pass the schema explicitly —
    * zero inference jobs. A rewritten path re-infers unless its write
    * seeded the schema. Also serves the artifact store's loaders, whose
    * serve rows otherwise pay one inference job per evaluation.
    */
  def parquetCached(spark: SparkSession, path: String): DataFrame = {
    val (fs, root) = qualify(spark, path)
    val (listing, rec) = current(fs, root)
    rec.flatMap(_.schema) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val d = spark.read.parquet(path)
        records.put(root.toString,
          Record(listing, Some(d.schema), rec.flatMap(_.written)))
        d
    }
  }

  /** S1 full scan: one table from a layer directory.
    *
    * Timestamp columns surface as epoch-NANOS int64, whatever the parquet
    * physical type. Parquet TIMESTAMP(NANOS) has no lossless TimestampType
    * representation (Spark is µs), so it is read as raw int64 nanos
    * (legacy.parquet.nanosAsLong); TIMESTAMP(MICROS) — what the driver's
    * pandas writer emits for events.ts since r11 — reads as
    * TIMESTAMP_NTZ/TIMESTAMP and is converted to nanos by
    * [[normalizeTimestamps]] (exact: µs·1000 is far inside long range).
    * One contract for every consumer; those needing a timestamp view use
    * [[nanosToTimestamp]] explicitly (lossy below µs, exact here).
    *
    * Scale note: the conversion is a narrow per-row projection appended to
    * the scan; filters on OTHER columns still push to parquet. No query
    * filters on raw `ts` at scan time (watermark predicates key on
    * `event_id`), so nothing loses pushdown — if one ever does, filter on
    * the timestamp column before calling normalize.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // the nanosAsLong flag is session-scoped and Spark exposes no
    // per-read switch, so flipping it here unconditionally changed the
    // schema of UNRELATED parquet reads in the same session (a shared
    // application's TIMESTAMP(NANOS) columns silently became LongType —
    // code-review r14). Read plainly first; only a legacy int64-nanos
    // file (pre-r11 testdata, which fails schema conversion without the
    // flag) sets it — and then it must STAY set, because execution-time
    // footer conversion consults the same conf. (The failed first
    // attempt throws at inference, before anything is cached.)
    val path = s"$dir/$name.parquet"
    val df =
      try parquetCached(spark, path)
      catch {
        case e: Throwable if Option(e.getMessage).exists(m =>
            m.contains("TIMESTAMP(NANOS") ||
              m.contains("Illegal Parquet type")) =>
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          parquetCached(spark, path)
      }
    normalizeTimestamps(df, nanosContract.getOrElse(name, Nil))
  }

  /** Rewrite the named timestamp-typed columns to epoch-nanos long
    * (exact: µs·1000). TIMESTAMP_NTZ is interpreted in UTC — the session
    * timezone every graft entrypoint pins — matching DuckDB's epoch_us()
    * of the same naive value. Columns already long (pre-r11 int64-nanos
    * parquet via nanosAsLong) pass through untouched, as do columns not
    * named; order is preserved.
    */
  def normalizeTimestamps(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, unix_micros}
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema.fields.filter(f => cols.contains(f.name)).foldLeft(df) {
      (acc, f) =>
        f.dataType match {
          case TimestampNTZType | TimestampType =>
            acc.withColumn(f.name,
              unix_micros(col(f.name).cast(TimestampType)) * lit(1000L))
          case _ => acc
        }
    }
  }

  /** Explicit lossy ns→µs timestamp view of an int64-nanos column.
    * Truncating division must NOT go through doubles: epoch-ns values are
    * ~1.7e18, far beyond double's 2^53 exact-integer range, so `/ 1000`
    * in double drifts by ±1 µs. Decimal division of a 19-digit value by
    * 1000 at scale 6 is exact; floor then truncates like DuckDB's
    * ns→µs parquet read.
    */
  def nanosToTimestamp(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{floor, lit, timestamp_micros}
    timestamp_micros(
      floor(c.cast("decimal(20,0)") / lit(1000)).cast("long"))
  }

  /** Load a whole layer as a table set. Lazy: no IO until an action. */
  def load(spark: SparkSession, dir: String,
           names: Seq[String] = all): Map[String, DataFrame] =
    names.map(n => n -> table(spark, dir, n)).toMap

  /** Register a table set as temp views so spark.sql resolves them (Q1). */
  def registerViews(tables: Map[String, DataFrame]): Unit =
    tables.foreach { case (n, df) => df.createOrReplaceTempView(n) }

  /** Convenience: load + register a layer, returning the set. */
  def open(spark: SparkSession, dir: String,
           names: Seq[String] = all): Map[String, DataFrame] = {
    val ts = load(spark, dir, names)
    registerViews(ts)
    ts
  }

  /** S4 catalog listing, as a DataFrame for UI parity (front_end.py:67-71). */
  def listTables(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.catalog.listTables().select("name").as[String]
      .collect().sorted.toSeq.toDF("table_name")
  }

  /** S7/S8 sinks: write a table to a layer dir (replace or append).
    * `mode(Overwrite)` is the reference's drop+recreate (data_extraction
    * .py:32-43); parquet keeps the schema with the data (S6 for free).
    */
  def write(df: DataFrame, dir: String, name: String,
            mode: String = "overwrite"): Unit = {
    put(df, dir, name, mode)
    ()
  }

  /** [[write]], returning the qualified output path and the record the
    * write left, which holds no recorded write. Drops the path's record
    * first ([[records]]).
    */
  private def put(df: DataFrame, dir: String, name: String,
                  mode: String): (String, Record) = {
    val path = s"$dir/$name.parquet"
    val (fs, root) = qualify(df.sparkSession, path)
    val schema = org.apache.spark.sql.graftbridge.Bridge.asNullable(df.schema)
    val before = Option(records.remove(root.toString))
    // seed (the [[records]] note): an append keeps the older files, so
    // it seeds only when their pinned schema is the one it writes
    val seed = mode.toLowerCase match {
      case "overwrite" => true
      case "append" => before.exists(r =>
        r.schema.contains(schema) && r.listing == listingDigest(fs, root))
      case _ => false
    }
    df.write.mode(mode).parquet(path)
    val rec = Record(listingDigest(fs, root), Some(schema).filter(_ => seed),
      None)
    records.put(root.toString, rec)
    (root.toString, rec)
  }

  /** S10 bulk loader: write every table with a name prefix
    * (transformations_code.py:206-213). The tables are written
    * concurrently ([[Parallel.map]]); every write has finished when this
    * returns, and the first failure in table order is rethrown.
    */
  def writeAll(tables: Map[String, DataFrame], dir: String,
               prefix: String = ""): Unit =
    eachOutput(tables, prefix)(write(_, dir, _))

  /** [[writeAll]] for the frames of a `Pipeline.run` stage, each through
    * [[overwriteReusing]]. Returns how many outputs were reused.
    */
  private[engine] def writeAllReusing(tables: Map[String, DataFrame],
                                      dir: String, prefix: String = ""): Int =
    eachOutput(tables, prefix) { (t, name) =>
      overwriteReusing(t, dir, name, fingerprint(t))._2
    }.count(identity)

  private def eachOutput[B](tables: Map[String, DataFrame], prefix: String)(
      f: (DataFrame, String) => B): Seq[B] = {
    val ts = tables.toSeq
    ts.headOption.fold(Seq.empty[B]) { case (_, df) =>
      Parallel.map(df.sparkSession, ts) { case (n, t) =>
        f(t, if (prefix.isEmpty) n else s"${prefix}_$n")
      }
    }
  }

  /** S9 CSV sink (mapping.py:183-185 store_dataset). Header on; still a
    * distributed write — one file per partition, `coalesce(1)` only if a
    * single file is genuinely required.
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** Hive-style partitioned sink: the 100 TB scan saver. A query filtering
    * on a partition column prunes whole directories at PLANNING time
    * (PartitionFilters in the scan node) — the dominant cost lever for a
    * large immutable corpus is never reading the data at all. Choose
    * low-cardinality columns (date, source, language); high-cardinality
    * partitioning creates the small-files problem [[compact]] exists for.
    */
  def writePartitioned(df: DataFrame, dir: String, name: String,
                       partitionCols: Seq[String],
                       mode: String = "overwrite"): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*)
      .parquet(s"$dir/$name.parquet")

  /** Hive-style partition columns of a table directory, read from the
    * `col=value` subdirectory names — the rewrite ops ([[compact]],
    * [[upsert]]) must preserve the layout or they'd silently destroy
    * partition pruning.
    */
  private def partitionColsOf(fs: org.apache.hadoop.fs.FileSystem,
                              path: org.apache.hadoop.fs.Path): Seq[String] = {
    def walk(p: org.apache.hadoop.fs.Path, acc: List[String]): List[String] =
      fs.listStatus(p).find(s => s.isDirectory && s.getPath.getName.contains("=")) match {
        case Some(d) => walk(d.getPath, d.getPath.getName.split("=")(0) :: acc)
        case None => acc
      }
    walk(path, Nil).reverse
  }

  /** Rewrite a table directory from a new frame, preserving any hive
    * partition layout, swapping in through a temp directory. Callers
    * pass the partition columns they already walked ([[compact]] needs
    * them for its repartition shape) so the recursive listing isn't
    * paid twice per rewrite — per-listing-billed object stores make
    * that a real cost (code-review r14). Both swap steps CHECK their
    * boolean results: an ignored failed rename after a successful
    * delete is silent table loss — the data stranded in the hidden tmp
    * dir with no error raised (and on HDFS a rename onto a recreated
    * live dir NESTS tmp inside it instead of replacing).
    */
  private def rewriteDir(spark: SparkSession, dir: String, name: String,
                         df: DataFrame,
                         fs: org.apache.hadoop.fs.FileSystem,
                         path: org.apache.hadoop.fs.Path,
                         partCols: Seq[String]): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/.$name.rewrite.tmp")
    val w = df.write.mode("overwrite")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
      .parquet(tmp.toString)
    require(fs.delete(path, true) || !fs.exists(path),
      s"table rewrite at $path: could not delete the old directory — " +
        s"the rewritten data is intact at $tmp")
    require(fs.rename(tmp, path),
      s"table rewrite at $path: rename from $tmp failed (concurrent " +
        s"writer recreated the target?) — the rewritten data is at $tmp, " +
        "the old directory is gone; restore by moving it into place")
  }

  /** MERGE-style upsert: incoming rows replace existing rows that share
    * their key, new keys append — the silver-layer maintenance op that
    * plain replace/append sinks can't express over immutable parquet.
    * Rewrite = existing anti-joined against incoming keys, union
    * incoming, swap in through a temp directory; hive partition layout
    * is preserved. At 100 TB this is the full-rewrite pattern; pair
    * with [[writePartitioned]] and key the table so only affected
    * partitions need rewriting.
    */
  def upsert(spark: SparkSession, dir: String, name: String,
             incoming: DataFrame, keyCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.col
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged = spark.read.parquet(path.toString)
      .join(incoming.select(keyCols.map(col): _*), keyCols, "left_anti")
      .unionByName(incoming)
    rewriteDir(spark, dir, name, merged, fs, path,
      partitionColsOf(fs, path))
  }

  /** Small-files compaction: rewrite a table directory into files of
    * roughly `targetFileBytes`. Long-running ingestion (streaming sinks,
    * per-batch appends) accumulates files far smaller than a parquet
    * row group; at scale, scan planning and the namenode/object-store
    * listing pay per file, not per byte. Sizing is derived from the
    * actual on-disk footprint, the rewrite goes through a temp directory
    * and swaps in atomically-enough (rename), and the data itself is
    * unchanged. Returns the resulting partition-file count.
    */
  def compact(spark: SparkSession, dir: String, name: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    import org.apache.spark.sql.functions.col
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(path).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val read = spark.read.parquet(path.toString)
    val partCols = partitionColsOf(fs, path)
    // hive-partitioned layout: repartition BY the partition columns, so
    // each partition value lands whole in one task and partitionBy
    // writes one file per value. A round-robin repartition(nFiles) here
    // would spread every value across every task and the rewrite would
    // emit up to nFiles × nValues files — compaction MULTIPLYING the
    // small-files count (code-review r13). The cost is one file per
    // value even for an oversized value; re-partition the table on a
    // finer key if single values outgrow the target.
    val sized =
      if (partCols.nonEmpty) read.repartition(nFiles, partCols.map(col): _*)
      else read.repartition(nFiles)
    rewriteDir(spark, dir, name, sized, fs, path, partCols)
    // report the REAL resulting data-file count, not the task count
    def count(p: org.apache.hadoop.fs.Path): Int = {
      val it = fs.listStatus(p)
      it.map { st =>
        if (st.isDirectory) count(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) 1 else 0
      }.sum
    }
    count(path)
  }

  /** S11 database reset (front_end.py:850-859): drop & recreate the layer
    * directories — the parquet analogue of DROP DATABASE + CREATE DATABASE.
    * Through the HADOOP filesystem, not java.io.File: reads and writes
    * resolve layer paths via Hadoop, so a java.io probe on an
    * `hdfs://`/`s3a://` layer URI silently no-ops the reset and stale
    * tables survive and keep resolving (code-review r14 — the exact
    * failure class StorePath documents). A fully-qualified Path carries
    * its scheme, so the default Configuration resolves the right FS;
    * failures are loud, not discarded booleans.
    */
  def resetLayers(dirs: Seq[String]): Unit = dirs.foreach { d =>
    val p = new org.apache.hadoop.fs.Path(d)
    // the ACTIVE session's hadoopConfiguration, not a bare
    // Configuration(): fs.defaultFS / object-store credentials set only
    // via spark.hadoop.* would otherwise resolve a scheme-less layer
    // path to file:/// and 'reset' a local directory while reads keep
    // resolving the real one (code-review r14)
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val fs = p.getFileSystem(conf)
    require(!fs.exists(p) || fs.delete(p, true),
      s"resetLayers: could not delete $d")
    require(fs.mkdirs(p), s"resetLayers: could not recreate $d")
  }
}
