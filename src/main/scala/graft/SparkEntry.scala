package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine._
import graft.engine.Aggregations.AggSpec
import graft.northstar.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry implements one operator row of SURVEY.md §2 via the engine
  * packages (graft.engine.* / graft.northstar.*); `oracleSql` carries the
  * DuckDB-equivalent ANSI SQL for the driver's hash compare.
  *
  * FP discipline for oracle parity: money columns (2-decimal doubles) are
  * pre-cast to DECIMAL before SUM on BOTH sides so the aggregate is exact
  * and order-independent; means are taken over integer-valued columns or
  * derived as exact_sum/count. Plain double SUMs would differ between
  * Spark's 32-partition tree aggregation and DuckDB's in the low bits.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** Artifact cache key for a corpus table: its qualified path plus
    * the digest of its Hadoop listing ([[Tables.listingKey]]: every
    * file's relative name, size and mtime, walked recursively), so a
    * REGENERATED corpus under the same path invalidates the stored
    * train-once artifacts (pinned hyperparameters catch parameter drift;
    * this catches content drift — serving a stale merge table or
    * quantizer against new data would be silently wrong). The listing
    * goes through the path's Hadoop FileSystem, so a `file:`, `hdfs://`
    * or `s3a://` corpus is keyed by its content like a bare local path.
    */
  private[graft] def corpusKey(spark: SparkSession, dir: String,
                               name: String): String =
    Tables.listingKey(spark, s"$dir/$name.parquet")

  /** Fan an ID-ONLY fixture source out across the session's cores
    * before an expensive per-id synthesis/decode map (optimization
    * r21, guide §2 — scale-adaptive partitioning, never a constant).
    * The sf test inputs are single-row-group parquet, so the id scan
    * plans 1-2 tasks and every payload codec behind it serializes on
    * one core with the rest idle; the exchange ships 8-byte ids —
    * payloads do not exist until the map runs — and is SKIPPED when
    * the source is already split at least as wide as the session
    * (real corpus scale: row-group counts make the map embarrassingly
    * parallel on their own, so the shuffle never fires there). This
    * deliberately does NOT touch the text-kernel paths, whose input
    * rows carry the corpus payload — repartitioning those shuffles
    * the data itself, the r20 fan-out experiment's measured loss.
    */
  private def fanOutIds(ids: Dataset[Long]): Dataset[Long] = {
    val p = ids.sparkSession.sparkContext.defaultParallelism
    if (ids.rdd.getNumPartitions >= p) ids else ids.repartition(p)
  }

  /** The hierarchical quantizer of the two `ns_knn_ivf_hier_*` rows:
    * fine level = the pinned 8-cell centroid artifact (shared with the
    * ns_knn_ivf family), top level = an independent train-once 3-cell
    * fit, superProbe = nSuper so the candidate set is every centroid
    * and the rows hash against the brute oracle exactly.
    */
  private def hierQuantizerFor(s: SparkSession,
                               dir: String): graft.northstar.Ivf.HierarchicalQuantizer = {
    val emb = t(s, dir, "embeddings")
    val key = corpusKey(s, dir, "embeddings")
    graft.northstar.Ivf.HierarchicalQuantizer(
      graft.northstar.Artifacts.ivfCentroidsFor(emb, key, nCells = 3),
      graft.northstar.Artifacts.ivfCentroidsFor(emb, key, nCells = 8),
      superProbe = 3)
  }

  /** The PARTIAL-probing hierarchical quantizer of the two
    * `ns_knn_*_hier_recall` rows (VERDICT r16 task 1): the exhaustive
    * hier rows run `superProbe == nSuper` and are exact by
    * construction, so the configuration that actually serves at scale —
    * a row's candidate set drawn from a STRICT SUBSET of supercells —
    * had no contract-level quality pin. 24 fine cells under 6
    * supercells with superProbe = 2 (a third of the top level) makes
    * partial probing meaningful at the 500-vector oracle corpus; both
    * levels are train-once centroid artifacts (driver k-means, fixed
    * seed), so the recall constant is deterministic.
    */
  private def hierQuantizerPartialFor(s: SparkSession,
                                      dir: String): graft.northstar.Ivf.HierarchicalQuantizer = {
    val emb = t(s, dir, "embeddings")
    val key = corpusKey(s, dir, "embeddings")
    graft.northstar.Ivf.HierarchicalQuantizer(
      graft.northstar.Artifacts.ivfCentroidsFor(emb, key, nCells = 6),
      graft.northstar.Artifacts.ivfCentroidsFor(emb, key, nCells = 24),
      superProbe = 2)
  }

  /** Train-once STORED-CELLS quantizer (continuation (b): the
    * three-level family whose cell centroids live as a parquet relation
    * and never assemble on the driver) for the `ns_knn_ivf_stored_*`
    * rows: the distributed [[graft.northstar.Ivf.fitStored]] runs once
    * per corpus content under `ensureTrained`, the handle reconstructs
    * from the stored relation plus the top level — which is passed as
    * an override so the handle's top level IS the one the relation's
    * sup column was assigned under (a refit would be bit-identical —
    * same seed, same corpus — but passing it removes the coupling).
    * Everything is seeded and the init draw is content-hash-ordered,
    * so the fit is deterministic at a fixed sf (the recall row's
    * constant relies on it; IvfSpec pins fit determinism directly).
    */
  private def storedQuantizerFor(s: SparkSession, dir: String,
                                 nCells: Int, superProbe: Int)
      : graft.northstar.Ivf.StoredQuantizer = {
    val emb = t(s, dir, "embeddings")
    val key = corpusKey(s, dir, "embeddings")
    // the SHARED sizing rule (Ivf.autoNSuperTarget), not a local copy —
    // an override fit at a diverged size would silently pin constants
    // for a top-level shape production fitStored no longer produces
    val nSuperTarget = graft.northstar.Ivf.autoNSuperTarget(nCells)
    val superQ = graft.northstar.Ivf.LiteralQuantizer(
      graft.northstar.Artifacts.ivfCentroidsFor(emb, key,
        nCells = nSuperTarget))
    val path = graft.northstar.Artifacts.pathFor("ivfcellsrel",
      s"$key-c$nCells-sp$superProbe")
    graft.northstar.Artifacts.ensureTrained(path) { tmp =>
      graft.northstar.Ivf.fitStored(emb, nCells, tmp + "/cells",
        superProbe = superProbe, superQOverride = Some(superQ)): Unit
    }
    val n = s.read.parquet(path + "/cells").count().toInt
    graft.northstar.Ivf.StoredQuantizer(superQ, path + "/cells", n,
      superQ.centroids(0).length, superProbe)
  }

  /** The shared subtree of the two SemDeDup correctness pins
    * (`ns_semdedup_exact` / `ns_semdedup_keep_best`): single-trivial-
    * cell CLUSTER LABELS over the bounded vec_id < 200 subset — the
    * all-pairs cosine join AND the path-halving CC run once at artifact
    * train time ([[graft.northstar.Artifacts.semanticLabelsFor]], keyed
    * by corpus content + threshold + centroid digest so both replay on
    * any input change), and each pin applies only its keeper rule to
    * the stored (vec_id, cluster_id) frame. Live in-query CC coverage
    * stays with `ns_semdedup` / `ns_dedup_clusters` /
    * `ns_neardup_collapse`.
    */
  private def semdedupPinLabels(emb: DataFrame, dir: String): DataFrame =
    graft.northstar.Artifacts.semanticLabelsFor(emb,
      cacheKey = corpusKey(emb.sparkSession, dir, "embeddings") + "-lt200",
      centroids = Array(Array.fill(64)(1.0f)), thresholdE4 = 3000)

  /** Shared oracle of the three phash-lifecycle rows
    * (`ns_imagedup_incoming`/`_append`/`_remove`): the FULL
    * incoming×corpus screen — every (flipped copy, original) pair
    * within Hamming 3 — replayed as closed-form bit arithmetic over
    * md5(doc_id) (the syntheticPatternPng contract). Build-on-
    * everything, append-then-serve, and remove-then-serve must all
    * produce exactly this frame. The banded join's completeness makes
    * the replay exact: Hamming <= 3 GUARANTEES a shared 16-bit chunk
    * (pigeonhole), bucket caps never engage at this corpus shape
    * (~4 chunk rows per 64Ki bucket space), so screen output ==
    * all-pairs-within-3, which is what this SQL computes.
    */
  private val imagedupIncomingOracle: String =
    """WITH cells AS (
      |  SELECT d.doc_id AS id, tx.x AS x, ty.y AS y,
      |    ((CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
      |        (ty.y*9 + tx.x) // 4 + 1, 1) AS INTEGER)
      |      >> (3 - ((ty.y*9 + tx.x) % 4))) & 1) AS bit
      |  FROM documents d, range(9) tx(x), range(8) ty(y)),
      |allc AS (
      |  SELECT id, x, y, bit FROM cells
      |  UNION ALL
      |  SELECT id + 1099511627776, x, y,
      |    CASE WHEN x = 0 AND y = 0 THEN 1 - bit ELSE bit END
      |  FROM cells),
      |dh AS (
      |  SELECT l.id, l.y*8 + l.x AS j,
      |    CASE WHEN l.bit > r.bit THEN 1 ELSE 0 END AS hb
      |  FROM allc l JOIN allc r ON r.id = l.id AND r.y = l.y
      |    AND r.x = l.x + 1
      |  WHERE l.x < 8)
      |SELECT fa.id AS asset_a, ob.id AS asset_b,
      |  CAST(SUM(CASE WHEN fa.hb <> ob.hb THEN 1 ELSE 0 END) AS BIGINT)
      |    AS hamming
      |FROM dh fa JOIN dh ob ON ob.j = fa.j
      |WHERE fa.id >= 1099511627776 AND ob.id < 1099511627776
      |GROUP BY 1, 2
      |HAVING SUM(CASE WHEN fa.hb <> ob.hb THEN 1 ELSE 0 END) <= 3"""
      .stripMargin

  /** The cross-slice winnow replay, shared verbatim by
    * `ns_winnow_incoming` (capped build-on-everything artifact) and
    * `ns_winnow_append` (appendable index built on the even half, odd
    * half appended): the append lifecycle must not change a single
    * pair, so both rows hash against the SAME oracle.
    */
  private val winnowIncomingOracle: String =
    """WITH corpus AS (SELECT doc_id, text FROM documents),
      |incoming AS (
      |  SELECT doc_id + 300000 AS doc_id,
      |         text || ' quoted with appended commentary' AS text
      |  FROM corpus),
      |cw AS (
      |  SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
      |    ELSE string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
      |    END AS w
      |  FROM corpus),
      |csel AS (
      |  SELECT DISTINCT doc_id, min(fp) OVER (
      |      PARTITION BY doc_id ORDER BY i
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |  FROM (SELECT doc_id, i, md5(array_to_string(w[i : i + 4], ' ')) AS fp
      |        FROM (SELECT doc_id, w,
      |                unnest(generate_series(1, greatest(1, len(w) - 4))) AS i
      |              FROM cw)
      |        WHERE len(w) > 0)),
      |capped AS (
      |  SELECT doc_id, fp FROM csel
      |  WHERE fp IN (SELECT fp FROM (SELECT fp, count(*) AS c FROM csel GROUP BY 1)
      |               WHERE c <= 100)),
      |iw AS (
      |  SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
      |    ELSE string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
      |    END AS w
      |  FROM incoming),
      |isel AS (
      |  SELECT DISTINCT doc_id, min(fp) OVER (
      |      PARTITION BY doc_id ORDER BY i
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |  FROM (SELECT doc_id, i, md5(array_to_string(w[i : i + 4], ' ')) AS fp
      |        FROM (SELECT doc_id, w,
      |                unnest(generate_series(1, greatest(1, len(w) - 4))) AS i
      |              FROM iw)
      |        WHERE len(w) > 0))
      |SELECT i.doc_id AS doc_a, c.doc_id AS doc_b, count(*) AS n_shared_fps
      |FROM isel i JOIN capped c USING (fp)
      |GROUP BY 1, 2""".stripMargin

  /** Per-JVM suffix for artifact paths that are MUTATED per evaluation
    * (the append-lifecycle demos): their save→append sequence must not
    * interleave with a concurrent Bench/Verify process sharing the
    * artifact root; results are data-deterministic either way, so each
    * JVM builds its own small disposable copy.
    */
  private lazy val jvmTag: String =
    java.lang.management.ManagementFactory.getRuntimeMXBean
      .getName.replaceAll("[^A-Za-z0-9]", "")

  /** The append-lifecycle demo behind `ns_knn_ivfpq_append*`: the
    * IVF-PQ serving index is BUILT on the even-id half of the corpus,
    * the odd-id half arrives as ingest and is APPENDED with the
    * quantizers pinned from the initial build (the production nightly
    * pattern [[graft.northstar.Artifacts.appendIvfPqIndex]] exists
    * for), and queries serve from the appended index. save→append is
    * idempotent per evaluation: the save's static overwrite resets the
    * index to the A-half before each append, so repeated runs (Verify,
    * Bench reps, plan guards) are deterministic. The index path folds
    * in the JVM's runtime name: unlike every other artifact here (which
    * ensureTrained publishes once, atomically, and then only reads),
    * this demo MUTATES its directory on every evaluation — overwrite,
    * marker drop, cell renames — which must not interleave with a
    * concurrent Bench/Verify process sharing the artifact root; the
    * results are data-deterministic either way, so each JVM builds its
    * own small disposable copy.
    */
  private def ivfPqAppendServe(s: SparkSession, dir: String, nProbe: Int,
                               rerank: Int, maxCell: Int): DataFrame = {
    import graft.northstar.{Artifacts, Pq}
    val emb = t(s, dir, "embeddings")
    val key = corpusKey(s, dir, "embeddings")
    val embA = emb.filter(col("vec_id") % 2 === 0)
    val embB = emb.filter(col("vec_id") % 2 =!= 0)
    val centroids = Artifacts.ivfCentroidsFor(embA, s"$key/Ahalf",
      nCells = 8)
    val codebooks = Artifacts.pqCodebooksFor(embA, s"$key/Ahalf", m = 8,
      ksub = 16)
    val path = Artifacts.pathFor("ivfpqappend",
      s"$key-m$maxCell-p$nProbe-$jvmTag")
    Artifacts.saveIvfPqIndex(embA, path, centroids, codebooks, "vec_id",
      "embedding", maxCell)
    val splits = Artifacts.appendIvfPqIndex(embB, embA, path, centroids,
      codebooks, maxCell = maxCell)
    // the append just returned the published split map — passing it to
    // the load skips the splits-sidecar re-read (one collect job per
    // serve; optimization r21). Marker + `_params` refusals still run.
    val (index, _) = Artifacts.loadIvfPqIndex(s, path, centroids,
      codebooks, maxCell = maxCell, knownSplits = Some(splits))
    Pq.ivfPqServeTopK(emb.filter(col("vec_id") < 5), index, emb,
      centroids, splits, codebooks, k = 10, nProbe = nProbe,
      rerank = rerank)
  }

  /** The REMOVAL-lifecycle demo behind `ns_knn_ivfpq_remove*` (VERDICT
    * r13 task 2 — takedown without a rebuild): the serving index is
    * built on the corpus PLUS a synthetic contamination slice (every
    * vector duplicated at +500000), the slice is then REMOVED with
    * [[graft.northstar.Artifacts.removeFromIvfPqIndex]], and queries
    * serve from the shrunken index — which must behave exactly like an
    * index that never contained the slice, so the exhaustive variant
    * hashes against the SAME brute-force oracle as the plain rows.
    * The duplicated vectors double every cell's census, so at the
    * non-exhaustive maxCell the removal drives the bits-shrink re-split
    * path in every contract evaluation. Same per-JVM disposable-path
    * discipline as [[ivfPqAppendServe]].
    */
  private def ivfPqRemoveServe(s: SparkSession, dir: String, nProbe: Int,
                               rerank: Int, maxCell: Int): DataFrame = {
    import graft.northstar.{Artifacts, Pq}
    val emb = t(s, dir, "embeddings")
    val key = corpusKey(s, dir, "embeddings")
    val extra = emb.select((col("vec_id") + 500000L).as("vec_id"),
      col("embedding"))
    val centroids = Artifacts.ivfCentroidsFor(emb, cacheKey = key,
      nCells = 8)
    val codebooks = Artifacts.pqCodebooksFor(emb, cacheKey = key, m = 8,
      ksub = 16)
    val path = Artifacts.pathFor("ivfpqremove",
      s"$key-m$maxCell-p$nProbe-$jvmTag")
    Artifacts.saveIvfPqIndex(
      emb.select("vec_id", "embedding").unionAll(extra), path, centroids,
      codebooks, "vec_id", "embedding", maxCell)
    val splits = Artifacts.removeFromIvfPqIndex(extra.select("vec_id"),
      emb, path, centroids, codebooks, maxCell = maxCell)
    // splits from the mutation's return value (the r21 knownSplits
    // discipline — see ivfPqAppendServe)
    val (index, _) = Artifacts.loadIvfPqIndex(s, path, centroids,
      codebooks, maxCell = maxCell, knownSplits = Some(splits))
    Pq.ivfPqServeTopK(emb.filter(col("vec_id") < 5), index, emb,
      centroids, splits, codebooks, k = 10, nProbe = nProbe,
      rerank = rerank)
  }

  /** Deterministic mangled-duplicate corpus shared by `ns_dedup_clusters`
    * (live in-plan CC — the multi-hop min-propagation oracle pin) and
    * `ns_dedup_keep_best` (served from the stored collapse-label
    * artifact): documents is dup-free at every SF, so every 5th doc gets
    * a case/whitespace-mangled copy at +10000 and every 10th a second at
    * +20000 — clusters of size 2 and 3 whose min must propagate 2 hops.
    * Mirrored in both oracle SQLs.
    */
  private def chainCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select("doc_id", "text")
    base
      .union(base.filter(col("doc_id") % 5 === 0).select(
        (col("doc_id") + 10000).as("doc_id"),
        concat(lit("  "), upper(col("text"))).as("text")))
      .union(base.filter(col("doc_id") % 10 === 0).select(
        (col("doc_id") + 20000).as("doc_id"),
        concat(upper(col("text")), lit(" \t ")).as("text")))
  }

  /** CHAIN pairs over [[chainCorpus]]: rank i ↔ i+1 inside each
    * exact-dup group, so pair→cluster resolution must propagate the min
    * id transitively (multi-hop topology), not just join one pair.
    */
  private def chainPairs(corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("nt").orderBy("doc_id")
    corpus.select(col("doc_id"), Dedup.normText(col("text")).as("nt"))
      .withColumn("nxt", lead("doc_id", 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id").as("doc_a"), col("nxt").as("doc_b"))
  }

  /** Deterministic 64-dim probe direction for `ns_embed_probe`. Values
    * are k/1024 with k in [-512, 512]: exactly representable in float32
    * AND in a finite decimal literal, so the Spark Array[Float] and the
    * DuckDB list literal denote bit-identical numbers — the only cross-
    * engine gap left is accumulation order, absorbed by e4 rounding.
    */
  private val probeVec: Array[Float] = Array.tabulate(64) { i =>
    ((((i * 2654435761L + 12345) % 1025) - 512) / 1024.0).toFloat
  }
  private def probeVecSql: String =
    probeVec.map(v => new java.math.BigDecimal(v.toDouble).toPlainString)
      .mkString("[", ", ", "]")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's flagship shape: "total sales by category"
    * (front_end.py:719) = scan → join → trim → multi-agg (S1, J1, T4, A1).
    */
  def entry(spark: SparkSession): DataFrame =
    flagship(spark, "/root/testdata/sf0.001")

  /** lineitem ⋈ orders → T4 trim → A1 {col}_{func} aggregate. */
  private def flagship(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .withColumn("l_extendedprice",
        col("l_extendedprice").cast("decimal(12,2)"))
    val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
    val joined = li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
    val trimmed = Transforms.trimWhitespace(joined)
    Aggregations.aggregate(trimmed, AggSpec(
      groupBy = Seq("l_returnflag", "l_linestatus", "o_orderstatus"),
      aggCols = Seq("l_quantity", "l_extendedprice"),
      funcs = Seq("sum", "count"))).get
      .withColumn("l_quantity_mean",
        col("l_quantity_sum") / col("l_quantity_count"))
      // accumulate exact in DECIMAL, but EXPOSE as DOUBLE: the driver
      // str()-compares cells and str(Decimal) keeps trailing zeros
      // ('38139.20') while DuckDB's frame holds float64 ('38139.2')
      .withColumn("l_extendedprice_sum",
        col("l_extendedprice_sum").cast("double"))
  }

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- flagship (S1+J1+T4+A1 composed) ----
    "q1_flagship" -> ((s, dir) => flagship(s, dir)),

    // ---- S: sources / scans ----
    "s1_scan_full" -> ((s, dir) => t(s, dir, "nation")),
    "s2_scan_incremental" -> ((s, dir) => {
      // E2's filtered pull at a fixed watermark: rows past half the keyspace.
      // ts exposed as epoch µs: DuckDB truncates parquet ns→µs on read, so
      // µs is the largest exactly-comparable precision.
      val ev = t(s, dir, "events")
      val wm = Aggregations.watermark(ev).collect()(0).getLong(0) / 2
      ev.filter(col("event_id") > lit(wm))
        .withColumn("ts", expr("ts div 1000"))
    }),
    "s3_preview" -> ((s, dir) =>
      t(s, dir, "orders").orderBy("o_orderkey").limit(5)),

    // ---- T: transformations ----
    "t1_dedup" -> ((s, dir) =>
      Transforms.removeDuplicates(
        t(s, dir, "lineitem").select("l_returnflag", "l_linestatus", "l_quantity"))),
    "t2_remove_nulls" -> ((s, dir) =>
      Transforms.removeNullRows(t(s, dir, "customer"))),
    "t3_impute" -> ((s, dir) => {
      // supplier is null-free at every SF, so impute-on-raw is the identity
      // (the r1 oracle was vacuous). Null out a deterministic band of the
      // integer-valued s_nationkey so the mean-fill path itself is
      // cross-engine-checked: mean = exact-int-sum / count is ONE IEEE
      // division, identical in both engines (a double money column would
      // hit sum-order ULP drift instead).
      val sup = t(s, dir, "supplier").withColumn("s_nationkey",
        when(col("s_suppkey") % 7 === 0, lit(null).cast("long"))
          .otherwise(col("s_nationkey")))
      Transforms.imputeNulls(sup)
    }),
    "t4_trim" -> ((s, dir) =>
      Transforms.trimWhitespace(t(s, dir, "customer"))),
    // T8 as its own oracle query: a 3-stage registry pipeline (trim →
    // dedup → null-drop) in the reference's left-fold order — q1_flagship
    // composes transforms+aggs, this checks the registry fold itself.
    // A whitespace-mangled copy of every row is unioned in (mirrored in
    // the oracle): it collapses ONLY because trim runs before dedup, so
    // the 1500-row result proves stage ordering, not just each stage.
    "t8_pipeline" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val mangled = c.withColumn("c_name", concat(lit("  "), col("c_name")))
      Transforms.pipeline(Seq(
        "Trim Whitespace", "Remove Duplicates", "Remove Null Rows"))(
        c.union(mangled))
    }),
    "t5_standardize_dates" -> ((s, dir) =>
      Transforms.standardizeDates(t(s, dir, "orders"))),
    "t6_t7_names" -> ((s, dir) => {
      // c_name = "Customer#000000042" → synthesize first/last name columns,
      // then exercise T6 combine (keeps the joining space) and T7 split.
      val base = t(s, dir, "customer").select(
        col("c_custkey"),
        split(col("c_name"), "#", 2).getItem(0).as("first_name"),
        split(col("c_name"), "#", 2).getItem(1).as("last_name"))
      Transforms.splitNames(Transforms.combineNames(base))
    }),

    // ---- A: aggregations ----
    "a1_multi_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").withColumn("l_extendedprice",
        col("l_extendedprice").cast("decimal(12,2)"))
      Aggregations.aggregate(li, AggSpec(
        groupBy = Seq("l_returnflag", "l_linestatus"),
        aggCols = Seq("l_quantity", "l_extendedprice"),
        funcs = Seq("sum", "min", "max", "count"))).get
        // decimal accumulation, DOUBLE exposure (driver str-compare; see q1)
        .withColumn("l_extendedprice_sum", col("l_extendedprice_sum").cast("double"))
        .withColumn("l_extendedprice_min", col("l_extendedprice_min").cast("double"))
        .withColumn("l_extendedprice_max", col("l_extendedprice_max").cast("double"))
    }),
    "a2_mean_agg" -> ((s, dir) =>
      Aggregations.aggregate(t(s, dir, "lineitem"), AggSpec(
        groupBy = Seq("l_returnflag"),
        aggCols = Seq("l_quantity", "l_linenumber"),
        funcs = Seq("mean", "count"))).get),
    "a4_pie" -> ((s, dir) =>
      Aggregations.pie(
        t(s, dir, "orders").withColumn("o_totalprice",
          col("o_totalprice").cast("decimal(12,2)")),
        "o_orderpriority", "o_totalprice")
        // DOUBLE exposure: passed r1 only because no cell had a trailing zero
        .withColumn("o_totalprice_sum",
          col("o_totalprice_sum").cast("double"))),
    "a5_histogram" -> ((s, dir) =>
      Aggregations.histogram(t(s, dir, "lineitem"), "l_extendedprice", 20)),
    "a6_watermark" -> ((s, dir) =>
      Aggregations.watermark(t(s, dir, "events"))),

    // ---- J: auto-mapping joins ----
    "j1_autojoin" -> ((s, dir) => {
      // FK-first → semantic inference finds c_custkey ≈ o_custkey (≥0.8).
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val (k1, k2) = Mapping.inferKey(
        c.columns.toSeq, Mapping.TableMeta(),
        o.columns.toSeq, Mapping.TableMeta()).get
      Mapping.join(c, "customer", k1, o, "orders", k2)
    }),

    // ---- E: extraction (E2's delta computation, driven pure so the
    // oracle can replay it; the write path is covered by unit tests) ----
    "e2_incremental_delta" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val wmMax = Aggregations.watermark(ev).collect()(0).getLong(0)
      val target = ev.filter(col("event_id") <= lit(wmMax * 6 / 10))
      Extraction.incrementalRows(ev, Some(target))
        .withColumn("ts", expr("ts div 1000"))
    }),

    // ---- Q: SQL surface (front_end.py:215-225 shapes, text_to_sql.py:178-182) ----
    "q_sql_topn" -> ((s, dir) => {
      Tables.open(s, dir, Seq("orders"))
      Sql.strictSql(s,
        """SELECT o_orderkey, o_custkey, o_totalprice
          |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)
    }),
    // correlated LATERAL subquery with per-group ORDER BY + LIMIT —
    // top-n-per-group without a window function; identical SQL runs in
    // the oracle
    "q_sql_lateral" -> ((s, dir) => {
      Tables.open(s, dir, Seq("nation", "customer"))
      Sql.strictSql(s,
        """SELECT n_name, c_name, c_acctbal
          |FROM nation n,
          |LATERAL (SELECT c_name, c_acctbal, c_custkey FROM customer
          |         WHERE c_nationkey = n.n_nationkey
          |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c""".stripMargin)
    }),
    "q_sql_monthly" -> ((s, dir) => {
      Tables.open(s, dir, Seq("orders"))
      Sql.strictSql(s,
        """SELECT date_format(o_orderdate, 'yyyy-MM') AS month,
          |       count(*) AS n_orders
          |FROM orders GROUP BY 1""".stripMargin)
    }),
    "q_sql_dow" -> ((s, dir) => {
      Tables.open(s, dir, Seq("orders"))
      Sql.strictSql(s,
        """SELECT date_format(o_orderdate, 'EEEE') AS dow,
          |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
          |        / count(o_totalprice), 2) AS avg_price
          |FROM orders GROUP BY 1""".stripMargin)
    }),
    // ---- J6: full pairwise sweep over a layer subset ----
    "j6_sweep" -> ((s, dir) => {
      // nation+region: semantic inference pairs n_regionkey ≈ r_regionkey
      // (0.909); both tables join so no passthrough remains
      val out = Mapping.mergeTables(
        Map("nation" -> t(s, dir, "nation"), "region" -> t(s, dir, "region")),
        names = Seq("nation", "region"))
      out("nation_region_merged")
    }),

    // ---- Q2 plumbing: model-output SELECT extraction → execution ----
    "q2_extract_exec" -> ((s, dir) => {
      Tables.open(s, dir, Seq("part"))
      val generated = "Sure! Here is your query:\n" +
        "SELECT p_brand, count(*) AS n_parts FROM part GROUP BY p_brand;\n" +
        "Let me know if you need anything else."
      Sql.strictSql(s, Sql.extractSelect(generated).get.stripSuffix(";"))
    }),

    // ---- distinct-count analytics (exact; the approx variant is below) ----
    "q_distinct_counts" -> ((s, dir) => {
      Tables.open(s, dir, Seq("lineitem"))
      Sql.strictSql(s,
        """SELECT count(DISTINCT l_partkey) AS n_parts,
          |       count(DISTINCT l_suppkey) AS n_supps FROM lineitem""".stripMargin)
    }),
    // approx sketches (HLL / approx quantiles): implementations differ per
    // engine by design → rows-only
    "ns_approx_stats" -> ((s, dir) =>
      t(s, dir, "documents").agg(
        approx_count_distinct(col("source")).as("approx_sources"),
        approx_count_distinct(col("text"), 0.02).as("approx_texts"),
        percentile_approx(col("n_chars"), lit(0.5), lit(1000)).as("median_chars"))),

    // ---- custom kernels callable from the SQL surface ----
    "ns_sql_vec_cosine" -> ((s, dir) => {
      graft.functions.registry.registerAll(s)
      Tables.open(s, dir, Seq("embeddings"))
      // similarity exposed as round(sim*1e4) BIGINT: DuckDB's
      // list_cosine_similarity accumulates in float32 (~1e-7 off the
      // kernel's double path) and rounded DOUBLES still differ in the last
      // ULP between engines — integers compare exactly
      Sql.strictSql(s,
        """SELECT a.vec_id AS va, b.vec_id AS vb,
          |  CAST(round(vec_cosine(a.embedding, b.embedding) * 10000) AS BIGINT) AS sim_e4
          |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
          |WHERE a.vec_id < 20""".stripMargin)
    }),

    // ---- multi-table analytics (the flagship shape at full star-schema
    // width: dims broadcast, facts shuffle once on the agg keys) ----
    "q_star_revenue" -> ((s, dir) => {
      // revenue by region and order priority: lineitem ⋈ orders ⋈ customer
      // ⋈ nation ⋈ region — three broadcastable dims, one fact-fact join
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        (col("l_extendedprice").cast("decimal(12,2)") *
         (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)")))
          .as("rev"))
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val n = t(s, dir, "nation").select("n_nationkey", "n_regionkey")
      val r = t(s, dir, "region").select("r_regionkey", "r_name")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("o_orderpriority"))
        // exact decimal sum, exposed as DOUBLE (driver str-compare; see q1)
        .agg(sum(col("rev")).cast("double").as("revenue"),
             count(lit(1)).as("n_items"))
    }),
    // the SAME star query served from the BUCKETED fact layout
    // (Bucketing.bucketedTableFor): lineitem and
    // orders are published to the catalog pre-shuffled into 8 buckets on
    // their orderkey, so the fact⋈fact edge — the one per-query shuffle
    // of q_star_revenue — plans with ZERO Exchange (plan-guarded); the
    // merge hint pins the sort-merge shape a fact-fact join has at scale
    // (tiny-sf AQE would otherwise broadcast and hide the property).
    // Oracle: identical SQL to q_star_revenue — the layout must not
    // change a single value
    "q_star_bucketed" -> ((s, dir) => {
      val liB = Bucketing.bucketedTableFor(t(s, dir, "lineitem"),
        "lineitem", corpusKey(s, dir, "lineitem"), "l_orderkey", 8)
      val oB = Bucketing.bucketedTableFor(t(s, dir, "orders"),
        "orders", corpusKey(s, dir, "orders"), "o_orderkey", 8)
      val li = liB.select(col("l_orderkey"),
        (col("l_extendedprice").cast("decimal(12,2)") *
         (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)")))
          .as("rev"))
      val o = oB.select("o_orderkey", "o_custkey", "o_orderpriority")
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val n = t(s, dir, "nation").select("n_nationkey", "n_regionkey")
      val r = t(s, dir, "region").select("r_regionkey", "r_name")
      li.join(o.hint("merge"), li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("o_orderpriority"))
        .agg(sum(col("rev")).cast("double").as("revenue"),
             count(lit(1)).as("n_items"))
    }),
    "q_top_customers" -> ((s, dir) => {
      val o = t(s, dir, "orders").withColumn("o_totalprice",
        col("o_totalprice").cast("decimal(12,2)"))
      val c = t(s, dir, "customer")
      // top-25 picked on the EXACT decimal sum (double ties could collapse
      // distinct spends and flip the cutoff), then exposed as DOUBLE
      o.groupBy("o_custkey").agg(
          sum("o_totalprice").as("spend_dec"),
          count(lit(1)).as("n_orders"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .orderBy(col("spend_dec").desc, col("c_custkey")).limit(25)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("spend_dec").cast("double").as("spend"), col("n_orders"))
    }),

    "q_json_extract" -> ((s, dir) =>
      // JSON functions over the events.props payload column — another
      // §2.9 free-from-Catalyst surface
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(sum("k").as("k_sum"), count("k").as("k_count"))),

    // ---- custom operators beyond the reference (SURVEY.md §2.9 gaps) ----
    "x_asof_join" -> ((s, dir) => {
      // each event joined to the user's latest order at-or-before the
      // event; right side pre-deduped per (custkey, orderdate) so the
      // as-of pick is deterministic
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        Tables.nanosToTimestamp(col("ts")).as("ets"))
      val ord = t(s, dir, "orders").groupBy("o_custkey", "o_orderdate")
        .agg(max("o_orderkey").as("o_orderkey"))
      graft.plans.AsOfJoin.asofJoin(ev, ord,
          "user_id", "o_custkey", "ets", "o_orderdate")
        .select(col("event_id"), col("user_id"),
          col("asof_o_orderkey").as("latest_orderkey"))
    }),
    "x_session_windows" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        Tables.nanosToTimestamp(col("ts")).as("ets"))
      ev.groupBy(session_window(col("ets"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("session_start_us"),
          col("n_events"))
    }),

    // ---- Q (superset): the SQL surface the reference delegated to MySQL
    // comes from Catalyst for free — windows, set ops, grouping sets,
    // correlated subqueries (SURVEY.md §2.5/§2.9) ----
    "q_sql_window" -> ((s, dir) => {
      Tables.open(s, dir, Seq("orders"))
      Sql.strictSql(s,
        """SELECT o_custkey, o_orderkey,
          |  CAST(row_number() OVER (PARTITION BY o_custkey
          |                     ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS order_seq,
          |  lag(o_orderkey) OVER (PARTITION BY o_custkey
          |                        ORDER BY o_orderdate, o_orderkey) AS prev_orderkey
          |FROM orders""".stripMargin)
    }),
    "q_sql_setops" -> ((s, dir) => {
      Tables.open(s, dir, Seq("customer", "orders"))
      Sql.strictSql(s,
        """SELECT c_custkey FROM customer WHERE c_nationkey < 5
          |INTERSECT
          |SELECT o_custkey FROM orders""".stripMargin)
    }),
    // RANGE frame with numeric bounds: value-based sliding window (vs the
    // ROWS frame in x_session_windows) — count stays exact integers, and
    // the frame is evaluated inside one window sort per partition key
    "q_sql_range_frame" -> ((s, dir) => {
      Tables.open(s, dir, Seq("orders"))
      Sql.strictSql(s,
        """SELECT o_custkey, o_orderkey,
          |  CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
          |    RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING) AS BIGINT)
          |    AS n_near
          |FROM orders""".stripMargin)
    }),
    // percentile_cont WITHIN GROUP: l_quantity is integer-valued, so the
    // 0.25-quantile interpolation lands on exact x.0/x.25/x.5/x.75 values
    // — ×100 integer exposure compares exactly across engines.
    // SCALE NOTE: exact percentile_cont keeps a counts-map over DISTINCT
    // values in the agg buffer — safe here because l_quantity is
    // low-cardinality integer-valued; for high-cardinality doubles at
    // 100 TB use approx_percentile (bounded-memory sketch) instead.
    "q_sql_percentile" -> ((s, dir) => {
      Tables.open(s, dir, Seq("lineitem"))
      Sql.strictSql(s,
        """SELECT l_returnflag,
          |  CAST(round(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) * 100) AS BIGINT) AS p25_e2,
          |  CAST(round(percentile_cont(0.75) WITHIN GROUP (ORDER BY l_quantity) * 100) AS BIGINT) AS p75_e2,
          |  count(*) AS n
          |FROM lineitem GROUP BY l_returnflag""".stripMargin)
    }),
    "q_sql_rollup" -> ((s, dir) => {
      Tables.open(s, dir, Seq("lineitem"))
      Sql.strictSql(s,
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |  sum(l_quantity) AS qty
          |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin)
    }),
    // GROUPING SETS: the general multi-granularity aggregate (rollup's
    // superset) — one shuffle expands each row into its grouping-set
    // combinations, no per-set re-scan; identical SQL runs in DuckDB
    "q_sql_grouping_sets" -> ((s, dir) => {
      Tables.open(s, dir, Seq("orders"))
      Sql.strictSql(s,
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
          |  (o_orderstatus, o_orderpriority))""".stripMargin)
    }),
    // CUBE: all 2^n grouping combinations in one shuffle (grouping-set
    // expansion, no per-set re-scan); identical SQL runs in DuckDB
    "q_sql_cube" -> ((s, dir) => {
      Tables.open(s, dir, Seq("lineitem"))
      Sql.strictSql(s,
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |  sum(l_quantity) AS qty
          |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin)
    }),
    // pivot with an explicit value list (dynamic pivot would scan for
    // values first; fixed lists are the scale-friendly form)
    "q_pivot" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW"))
        .count()
        .na.fill(0L)),
    // exact median (integer-valued l_quantity → e1-integer exposure is
    // exact even at the two-middle-values interpolation). round() on
    // BOTH sides like every other e-exposure: the old bare cast(long)
    // TRUNCATED here while the oracle rounded — identical today only
    // because x.0/x.5 medians scale exactly, and the first non-integer
    // quantity regen would have hash-split the row (code-review r14)
    "q_median" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(round(median(col("l_quantity")) * 10).cast("long")
          .as("med_e1"),
          count(lit(1)).as("n"))),
    "q_sql_anti_join" -> ((s, dir) => {
      Tables.open(s, dir, Seq("customer", "orders"))
      Sql.strictSql(s,
        """SELECT c_custkey, c_mktsegment FROM customer c
          |WHERE NOT EXISTS (SELECT 1 FROM orders o
          |                  WHERE o.o_custkey = c.c_custkey
          |                    AND o.o_orderstatus = 'F')""".stripMargin)
    }),
    "q_sql_subquery" -> ((s, dir) => {
      Tables.open(s, dir, Seq("customer", "orders"))
      Sql.strictSql(s,
        """SELECT c_custkey, c_mktsegment FROM customer c
          |WHERE (SELECT count(*) FROM orders o
          |       WHERE o.o_custkey = c.c_custkey) >= 15""".stripMargin)
    }),
    // correlated EXISTS / NOT EXISTS (the remaining subquery family
    // beside the scalar form above): both plan as one semi/anti hash
    // join on the correlation key — no per-row re-execution at any scale
    "q_sql_exists" -> ((s, dir) => {
      Tables.open(s, dir, Seq("customer", "orders", "nation"))
      Sql.strictSql(s,
        """SELECT n_name, count(*) AS n_inactive FROM customer c
          |JOIN nation ON c_nationkey = n_nationkey
          |WHERE EXISTS (SELECT 1 FROM orders o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_orderstatus = 'F')
          |  AND NOT EXISTS (SELECT 1 FROM orders o
          |                  WHERE o.o_custkey = c.c_custkey
          |                    AND o.o_orderstatus = 'O')
          |GROUP BY n_name""".stripMargin)
    }),
    // ROWS-frame moving window (RANGE frames covered by
    // q_sql_range_frame): 7-row trailing sum of daily order counts —
    // all-integer cells, deterministic under the date total order
    "q_sql_moving" -> ((s, dir) => {
      Tables.open(s, dir, Seq("orders"))
      Sql.strictSql(s,
        """SELECT o_orderdate, n,
          |  sum(n) OVER (ORDER BY o_orderdate
          |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS n_7d
          |FROM (SELECT o_orderdate, count(*) AS n
          |      FROM orders GROUP BY o_orderdate)""".stripMargin)
    }),
    // ntile percentile banding (the remaining window family beside
    // ranking, offset, and frames): quartiles of customers by order
    // count, deterministic under the (cnt, custkey) total order
    "q_sql_ntile" -> ((s, dir) => {
      Tables.open(s, dir, Seq("orders"))
      Sql.strictSql(s,
        """SELECT quartile, count(*) AS n_customers,
          |  min(cnt) AS min_orders, max(cnt) AS max_orders
          |FROM (SELECT o_custkey, count(*) AS cnt,
          |        CAST(ntile(4) OVER (ORDER BY count(*), o_custkey)
          |          AS BIGINT) AS quartile
          |      FROM orders GROUP BY o_custkey)
          |GROUP BY quartile""".stripMargin)
    }),
    // ordered string aggregation (LISTAGG): Spark has no ORDER BY inside
    // string_agg, so the deterministic form is sort-the-array-then-join —
    // array_sort(collect_list) ≡ DuckDB string_agg(... ORDER BY ...).
    // Per-group state is bounded by the group's member count (5 nations
    // per region; at scale, cap or sketch any group that could be huge)
    "q_sql_stringagg" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      n.join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name")).agg(
          count(lit(1)).as("n_nations"),
          array_join(array_sort(collect_list(col("n_name"))), ",")
            .as("nations"))
    }),
    // event funnel (view → click → purchase): per-user stage timestamps
    // in one conditional-min aggregate, then one global rollup — two
    // keyed aggregations, no self-joins. ts compared at µs (the largest
    // precision DuckDB reads from nanos parquet).
    "q_funnel" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("tsu"))
      ev.groupBy("user_id").agg(
          min(when(col("event_type") === "view", col("tsu"))).as("t_view"),
          min(when(col("event_type") === "click", col("tsu"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("tsu"))).as("t_buy"))
        .agg(count(lit(1)).as("n_users"),
          count(when(col("t_view").isNotNull, 1)).as("n_view"),
          count(when(col("t_view") < col("t_click"), 1)).as("n_view_click"),
          count(when(col("t_view") < col("t_click") &&
            col("t_click") < col("t_buy"), 1)).as("n_converted"))
    }),
    // FULL OUTER JOIN (SURVEY §2.9: outer joins enter via the Q1 SQL
    // path) — null-side counts expose both unmatched directions as exact
    // integers; identical SQL runs in DuckDB. At scale this is one
    // shuffle on the join key, same as the inner form.
    "q_sql_outer_join" -> ((s, dir) => {
      Tables.open(s, dir, Seq("customer", "orders"))
      Sql.strictSql(s,
        """SELECT
          |  count(*) AS n_rows,
          |  count(CASE WHEN c_custkey IS NULL THEN 1 END) AS n_order_only,
          |  count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_customer_only,
          |  count(CASE WHEN c_custkey IS NOT NULL AND o_orderkey IS NOT NULL
          |        THEN 1 END) AS n_matched
          |FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey""".stripMargin)
    }),

    // ---- NS: north-star training-data pipeline ops (SURVEY.md §7.4) ----
    "ns_exact_dedup" -> ((s, dir) =>
      Dedup.exactByText(t(s, dir, "documents"))),
    "ns_dedup_clusters" -> ((s, dir) => {
      // pair→cluster resolution over CHAIN pairs (chainCorpus/chainPairs):
      // multi-hop topology, so the oracle verifies the transitive min-id
      // propagation itself, not just a pair join. The same collapse runs
      // unchanged on minhashPairs/simhashPairs output. This is the LIVE
      // in-plan CC pin — its keep-best twin serves from the stored
      // collapse-label artifact instead.
      val corpus = chainCorpus(s, dir)
      Dedup.collapseByPairs(corpus, chainPairs(corpus))
        .select(col("doc_id"), col("cluster_id"), col("is_keeper"))
    }),
    // quality-aware collapse over the SAME derived chains: keeper = the
    // LONGEST copy (mangled copies add 2-3 chars), the opposite of the
    // min-id rule — proving the selection is score-driven, not positional.
    // Cluster labels come from the stored collapse-label artifact
    // (Artifacts.collapseLabelsFor — chain pairs + path-halving CC run
    // once per corpus fingerprint), so steady-state serving is one score
    // join + one row_number window; live CC coverage stays with
    // ns_dedup_clusters / ns_neardup_collapse / ns_semdedup.
    "ns_dedup_keep_best" -> ((s, dir) => {
      val corpus = chainCorpus(s, dir)
      val labels = graft.northstar.Artifacts.collapseLabelsFor(
        corpus, corpusKey(s, dir, "documents") + "-chain")(chainPairs(corpus))
      Similarity.semanticDedupBestFromLabels(
          corpus.select(col("doc_id"), length(col("text")).as("n_chars_d")),
          labels, scoreCol = "n_chars_d", idCol = "doc_id")
        .select(col("doc_id"), col("cluster_id"), col("is_keeper"))
    }),
    "ns_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"))),
    "ns_token_count" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_computed"))),
    "ns_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(t(s, dir, "documents"))
        .select("doc_id", "q_chars", "q_tokens", "q_punct_ratio", "q_score")),
    "ns_subword_count" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.subwordCount(col("text")).cast("long").as("subword_tokens"))),
    "ns_langid" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextAnalysis.languageId(col("text")).as("lang_guess"))),
    // language-ID confusion matrix vs the labeled lang column — the
    // curation-eval report that catches a drifting heuristic; one keyed
    // aggregate over the langid pass, all integer cells
    "ns_langid_confusion" -> ((s, dir) =>
      t(s, dir, "documents").select(col("lang"),
          TextAnalysis.languageId(col("text")).as("lang_guess"))
        .groupBy("lang", "lang_guess").agg(count(lit(1)).as("n"))),
    // the train-offline/score-online LM split: top-50 head PERSISTED as
    // a pinned parquet artifact (Artifacts.lmHeadFor — train-once,
    // serve-by-load like the BPE merge table), scoring a stateless
    // narrow pass with the head as a literal map — the stream-servable
    // form of ns_unigram_lm, OOV floored at 0.5
    "ns_lm_serve" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (vocab, total) = graft.northstar.Artifacts.lmHeadFor(
        docs, cacheKey = corpusKey(s, dir, "documents"), topK = 50)
      TextAnalysis.scoreWithLm(docs, vocab, total)
        .select(col("doc_id"), col("n_tokens"),
          round(col("mean_lp") * 10000).cast("long").as("s_e4"))
    }),
    // DSIR importance weights: mean log-likelihood ratio between the
    // src0-trained target head and the whole-corpus head (both PERSISTED
    // lmHead artifacts — the raw head is the same artifact ns_lm_serve
    // loads), computed in ONE narrow dual-fold pass. w_e4 > 0 = looks
    // like the target domain; the importance-resampling selection signal
    "ns_dsir_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val key = corpusKey(s, dir, "documents")
      val (tv, tt) = graft.northstar.Artifacts.lmHeadFor(
        docs.filter(col("source") === "src0"), s"$key-src0", topK = 50)
      val (rv, rt) = graft.northstar.Artifacts.lmHeadFor(docs, key, topK = 50)
      TextAnalysis.dsirWeights(docs, tv, tt, rv, rt)
        .select(col("doc_id"), col("n_tokens"),
          round(col("llr") * 10000).cast("long").as("w_e4"))
    }),
    // mixture planning: integer shares + a token budget → per-source
    // targets, e6 admission rates, expected tokens, and deficits (incl.
    // a declared-but-absent source) — all integer `div` arithmetic
    "ns_mix_plan" -> ((s, dir) =>
      graft.northstar.Sampling.mixturePlan(t(s, dir, "documents"),
        Map("src0" -> 5L, "src1" -> 3L, "src2" -> 2L, "src_missing" -> 1L),
        budgetTokens = 3000L)),
    // canonical text normalization (control-char strip + horizontal-
    // whitespace collapse + trim) with before/after audit lengths and
    // the post-clean fingerprint — the narrow pass upstream of every
    // dedup/tokenize stage. Control chars are injected deterministically
    // (the ns_redact_pii pattern: the synthetic corpus is clean)
    "ns_normalize_text" -> ((s, dir) => {
      val aug = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit("\u0001ctl\t\t end ")).as("text"))
      aug.select(col("doc_id"),
        length(col("text")).cast("long").as("n_before"),
        length(TextAnalysis.normalizeText(col("text"))).cast("long")
          .as("n_after"),
        md5(TextAnalysis.normalizeText(col("text"))).as("fp"))
    }),
    // per-source KL divergence from the corpus unigram distribution —
    // the drift diagnostic beside ns_source_entropy; exact-integer
    // per-term contributions, order-independent sums
    "ns_source_kl" -> ((s, dir) =>
      TextAnalysis.sourceKl(t(s, dir, "documents"))),
    // bigram LM with unigram backoff — the KenLM-shaped perplexity rung
    // above ns_lm_serve: both heads trained offline (bounded driver
    // artifacts), scoring a stateless narrow pass; the IEEE fold is
    // replayed term-for-term by the oracle
    "ns_bigram_lm" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (vocab, total) = graft.northstar.Artifacts.lmHeadFor(
        docs, cacheKey = corpusKey(s, dir, "documents"), topK = 50)
      val bigrams = graft.northstar.Artifacts.bigramHeadFor(
        docs, cacheKey = corpusKey(s, dir, "documents"), topK = 100)
      TextAnalysis.scoreWithBigramLm(docs, bigrams, vocab, total)
        .select(col("doc_id"), col("n_tokens"),
          round(col("mean_lp2") * 10000).cast("long").as("b_e4"))
    }),
    // the Gopher web-curation rule set (word-count band, mean word
    // length, symbol/bullet/ellipsis ratios, alphabetic-word floor) —
    // raw integer numerators + the combined pass flag, every rule an
    // integer comparison, one narrow pass
    "ns_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(t(s, dir, "documents"), minWords = 20)),
    // eval-leakage audit: documents whose normalized text is EXACTLY
    // duplicated across a train/val/test boundary — the deterministic
    // split is safe against id shuffling but not against content dupes,
    // so a nightly split must be screened before eval numbers are
    // trusted. One shuffle on the fingerprint key + a co-partitioned
    // semi-join back; output = every member of a boundary-spanning group
    "ns_split_leak" -> ((s, dir) => {
      // deterministic duplicate injection (the ns_redact_pii pattern —
      // the raw corpus happens to carry no cross-boundary exact dupes
      // at small sf): every 5th document rides in twice under a far id,
      // whose independent hash lands a fifth of the copies across a
      // split boundary
      val docs = t(s, dir, "documents")
      val aug = docs.select(col("doc_id"), col("text")).unionByName(
        docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      val sp = graft.northstar.Sampling.assignSplit(aug,
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"),
          graft.northstar.Dedup.normText(col("text")).as("__k"), col("split"))
      val leaky = sp.groupBy("__k")
        .agg(countDistinct(col("split")).as("__ns"))
        .filter(col("__ns") >= 2)
      sp.join(leaky.select("__k"), Seq("__k"), "left_semi")
        .select(col("doc_id"), col("split"))
    }),
    // CCNet-style perplexity bucketing: score every document with the
    // corpus-trained LM, then band into quartiles (0 = least probable
    // tail .. 3 = head) — ALL three cuts from ONE histogram pass
    // (Sampling.quantileCuts), integer-exact, the bucket label a pure
    // count of cuts below the score
    "ns_ppl_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (vocab, total) = graft.northstar.Artifacts.lmHeadFor(
        docs, cacheKey = corpusKey(s, dir, "documents"), topK = 50)
      val scored = TextAnalysis.scoreWithLm(docs, vocab, total)
        .select(col("doc_id"),
          round(col("mean_lp") * 10000).cast("long").as("s_e4"))
      scored.crossJoin(broadcast(
          graft.northstar.Sampling.quantileCuts(scored, "s_e4", 4)))
        .select(col("doc_id"), col("s_e4"),
          size(filter(col("__cuts"), c => col("s_e4") > c))
            .cast("long").as("bucket"))
    }),
    // the full config-driven curation pipeline (quality gate → lang
    // gate → length floor → temperature rebalance → budget fill) from
    // one JSON config, one lazy plan; every stage's statistics derive
    // from that stage's input, replayed stage-by-stage by the oracle
    "ns_curation_config" -> ((s, dir) => {
      val cfg = graft.northstar.Curation.parseConfig(
        """{"min_quality": 0.5, "langs": ["de", "en", "es", "fr"],
          |"length_floor": "1/10", "temperature_alpha": 0.5,
          |"budget_per_lang": 3000}""".stripMargin)
      graft.northstar.Curation.run(t(s, dir, "documents"), cfg)
    }),
    // the same pipeline's stage-survivor funnel: docs + tokens through
    // each curation stage, the observability row logged beside a
    // nightly run's output
    "ns_curation_funnel" -> ((s, dir) => {
      val cfg = graft.northstar.Curation.parseConfig(
        """{"min_quality": 0.5, "langs": ["de", "en", "es", "fr"],
          |"length_floor": "1/10", "temperature_alpha": 0.5,
          |"budget_per_lang": 3000}""".stripMargin)
      graft.northstar.Curation.funnel(t(s, dir, "documents"), cfg)
    }),
    // dedup-rewrite → curate: the composed nightly shape where line
    // dedup REWRITES the corpus first (rewriteLines keeps every other
    // column) and the quality/language gates then score the text that
    // will actually be trained on — boilerplate no longer inflates
    // stopword or length signals. One boilerplate train + one narrow
    // rewrite + the standard curation chain
    "ns_pipeline_rewrite" -> ((s, dir) => {
      val aug = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        concat(lit("shared boilerplate header\n"), col("text"),
          lit("\nid line "), col("doc_id")).as("text"))
      val boiler = TextAnalysis.boilerplateLines(aug, maxDocFreq = 10)
      val clean = TextAnalysis.rewriteLines(aug, boiler)
      graft.northstar.Curation.run(clean, graft.northstar.Curation.parseConfig(
        """{"min_quality": 0.5, "langs": ["de", "en", "es", "fr"]}"""))
    }),
    // greedy token-budget mixture fill: per language, admit best-quality
    // documents first (q_score desc, doc_id ties) until the stratum's
    // token budget is reached — per-stratum windows, parallel across
    // languages, never a global sort
    "ns_budget_fill" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val q = TextAnalysis.qualityScore(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang"), col("q_score"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      val w = Window.partitionBy("lang")
        .orderBy(col("q_score").desc, col("doc_id"))
      q.withColumn("cum_before",
          sum(col("n_tokens")).over(w) - col("n_tokens"))
        .filter(col("cum_before") < 3000L)
        .groupBy("lang").agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("tokens_selected"))
    }),
    // tokenizer induction's inner loop: adjacent character-pair counts
    // over in-vocabulary words (the first BPE merge-step statistics);
    // pair explosion is linear in corpus chars, top-k plans as TakeOrdered
    "ns_bpe_pairs" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(lower(col("text")), "\\W+")).as("w"))
        .filter(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(20)),
    // the tokenizer-training outer loop: 5 iterated BPE merge rounds
    // over a localCheckpointed word-frequency vocab (corpus tokenized
    // once; each round is one aggregate over the vocabulary-sized frame
    // + a 1-row collect — the merge table is the bounded driver
    // artifact). Oracle replays the rounds as unrolled CTEs with
    // literal-replace merge application
    "ns_bpe_induct" -> ((s, dir) =>
      TextAnalysis.bpeInduct(t(s, dir, "documents"), rounds = 5)),
    // the serve half of the tokenizer ladder: tokenize with a PERSISTED
    // merge-table artifact (train-once on first request, pinned-rounds
    // parquet, Artifacts.bpeMergesFor) — the serving query never
    // retrains; application is a stateless narrow pass with per-doc
    // word and BPE-piece counts under the learned tokenizer
    "ns_bpe_tokenize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.northstar.Artifacts.bpeMergesFor(
        docs, cacheKey = corpusKey(s, dir, "documents"), rounds = 5)
      TextAnalysis.bpeApply(docs, merges)
        .select(col("doc_id"), col("n_words"), col("n_pieces"))
    }),
    // vocabulary frequency-of-frequencies (the Zipf / Good-Turing
    // spectrum): two keyed aggregates, second input is vocabulary-sized;
    // the corpus-health view that exposes tokenizer or crawl regressions
    "ns_zipf_spectrum" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(lower(col("text")), "\\W+")).as("term"))
        .filter(length(col("term")) >= 1)
        .groupBy("term").agg(count(lit(1)).as("freq"))
        .groupBy("freq").agg(count(lit(1)).as("n_terms"))),
    // Heaps-law vocabulary growth by corpus slice (50-doc ingest
    // buckets): new distinct terms per bucket + cumulative vocabulary —
    // the does-more-data-still-buy-vocabulary saturation curve, over
    // word-3-gram phrase vocabulary (unigram vocab saturates in the
    // first bucket). Distinct BEFORE explode, two keyed shuffles, cumsum
    // over bucket-count rows
    "ns_vocab_growth" -> ((s, dir) =>
      TextAnalysis.vocabGrowth(t(s, dir, "documents"),
        floor(col("doc_id") / 50).cast("long"), ngram = 3)),
    // tokenizer coverage: per-doc token instances a frozen top-100
    // vocabulary would miss (OOV count). Vocab = top-K by corpus
    // frequency, term tiebreak; K-row broadcast against the token stream
    "ns_oov_rate" -> ((s, dir) =>
      TextAnalysis.oovStats(t(s, dir, "documents"), topK = 100)),
    // per-source token-entropy diversity: low entropy = templated/spam
    // domains (the diversity half of source-reputation filtering).
    // Exact-integer discipline: each (source, term) contributes
    // round(tf·ln(tf/N)·1e4) — identical integer operands through one
    // ln and one round on both engines (the ns_tfidf pattern) — and the
    // per-source sum is an order-independent integer. Wordcount shuffle
    // + a 1-row-per-source totals join (broadcast at any corpus size)
    "ns_source_entropy" -> ((s, dir) =>
      TextAnalysis.sourceEntropy(t(s, dir, "documents"))),
    // tokenizer fertility per language: subword pieces per whitespace
    // word — the tokenizer-efficiency metric that decides whether a
    // vocab serves a language well (fertility ≫ 1 = the language is
    // being shredded). Single narrow scoring pass + one keyed rollup;
    // fertility exposed as round(1e4·sum/sum) — one division of exact
    // integer aggregates, identical on any engine
    "ns_fertility" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("nt"),
          TextAnalysis.subwordCount(col("text")).cast("long").as("nsw"))
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum("nt").as("total_tokens"),
          sum("nsw").as("total_subwords"),
          round(sum("nsw") * lit(10000.0) / sum("nt")).cast("long")
            .as("fertility_e4"))),
    // cross-source contamination matrix: distinct word-3-grams shared
    // between each pair of crawl sources (the source-granular form of
    // benchmark decontamination). JOIN-FREE shape: one aggregate to the
    // per-gram source set (state bounded by the source count), pairs
    // expanded LOCALLY from the sorted set (≤ C(sources,2) per gram),
    // one keyed rollup — the gram table is shuffled once, never twice
    "ns_source_overlap" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(Dedup.shingles(col("text"))).as("g"), col("source"))
        .groupBy("g").agg(sort_array(collect_set(col("source"))).as("ss"))
        .select(explode(expr(
          """flatten(transform(ss, (a, i) ->
            |  transform(slice(ss, i + 2, size(ss)),
            |    b -> struct(a AS src_a, b AS src_b))))""".stripMargin))
          .as("p"))
        .select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))),
    // per-label embedding centroids (class prototypes / k-means E-step):
    // posexplode → (label, dim) mean — one shuffle of (labels × dims)
    // cells, e4-rounded means with exact counts
    "ns_label_centroids" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .select(col("label"), col("pos").as("dim"),
          col("col").cast("double").as("x"))
        .groupBy("label", "dim")
        .agg(round(avg(col("x")) * 10000).cast("long").as("c_e4"),
          count(lit(1)).as("n"))),
    // the integrated curation pass a training-data pipeline runs: quality
    // gate + language gate + token budget, one narrow projection + filter
    // (composes the individually-verified quality/langid/token oracles)
    "ns_curation" -> ((s, dir) => {
      val scored = TextAnalysis.qualityScore(t(s, dir, "documents"))
        .withColumn("lang_guess", TextAnalysis.languageId(col("text")))
      scored.filter(col("q_score") >= 0.5 && col("lang_guess") === "en")
        .select(col("doc_id"), col("lang_guess"), col("q_score"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    }),
    // the frozen-policy serve: Curation.freeze's data-derived statistics
    // (quality floor, language allowlist, the exact k-th-smallest length
    // cut) PERSISTED via Artifacts.frozenCurationFor and applied as a
    // stateless narrow pass — the nightly-train/continuously-serve split
    // for the whole curation policy, not just the LM heads. No
    // temperature stage, so the policy is fully deterministic and the
    // oracle replays threshold + gates exactly
    "ns_curation_serve" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cfg = graft.northstar.Curation.parseConfig(
        """{"min_quality": 0.5, "langs": ["en", "de"], "length_floor": "1/10"}""")
      val frozen = graft.northstar.Artifacts.frozenCurationFor(
        docs, cacheKey = corpusKey(s, dir, "documents"), cfg)
      graft.northstar.Curation.serve(docs, frozen)
    }),
    // semantic keep-best composed into the curation chain (VERDICT r10
    // task 6): within each semantic near-dup cluster keep the HIGHEST-
    // QUALITY member — the same q_score the curation gates use feeds
    // the keeper choice — then quality-gate the keepers. Cluster labels
    // are the SAME stored semanticLabelsFor artifact the two SemDeDup
    // pins serve from (zero extra training); docs join embeddings on
    // the shared id. Fully hash-checked: labels replay via the
    // recursive-CTE collapse, q_score via the ns_quality fragment.
    "ns_curation_semantic" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 200)
      graft.northstar.Curation.semanticKeepBest(
        docs, semdedupPinLabels(emb, dir), minQuality = Some(0.3))
    }),
    // source-reputation gate (the C4/RefinedWeb-style curation step):
    // drop every document whose SOURCE's average quality falls below a
    // threshold — bulk domain filtering, not per-doc filtering. The
    // threshold compare runs in exact integer math: q_score is
    // pre-rounded to 4 decimals, so sum(q_score*1e4) is an
    // order-independent integer and avg >= 0.86 ⇔ sum_e4 >= 8600*n.
    // One groupBy on source + one broadcast join of the tiny per-source
    // stats frame (source cardinality ≪ doc count; at web scale with
    // millions of domains the same plan holds with a shuffle join).
    "ns_source_filter" -> ((s, dir) => {
      val scored = TextAnalysis.qualityScore(t(s, dir, "documents"))
        .select(col("doc_id"), col("source"), col("q_score"))
      val srcStats = scored.groupBy("source").agg(
        round(sum(col("q_score") * 10000)).cast("long").as("src_q_sum_e4"),
        count(lit(1)).as("n_docs"))
      val reputable = srcStats
        .filter(col("src_q_sum_e4") >= lit(8600L) * col("n_docs"))
      scored.join(broadcast(reputable), Seq("source"))
        .select(col("doc_id"), col("source"), col("src_q_sum_e4"),
          col("n_docs"))
    }),
    // per-source document cap (the C4/RefinedWeb domain-cap step): no
    // source may contribute more than K docs; keep the longest, doc_id
    // tiebreak. One row_number window = one shuffle on source
    "ns_source_cap" -> ((s, dir) => {
      import graft.northstar.Curation
      Curation.sourceCap(t(s, dir, "documents"), cap = 15)
        .select("doc_id", "source", "n_chars")
    }),
    // exact-N-per-stratum sampling ("take 25 eval docs per language"):
    // sourceCap ordered by a shared-definition hash (md5 of the id
    // string, identical hex in any engine) — uniform-ish, deterministic,
    // replayable; one window shuffle on the stratum key
    "ns_sample_exact_n" -> ((s, dir) => {
      import graft.northstar.Curation
      Curation.sourceCap(t(s, dir, "documents"), cap = 25,
          sourceCol = "lang",
          orderBy = Seq(md5(col("doc_id").cast("string")).asc,
            col("doc_id").asc))
        .select("doc_id", "lang")
    }),
    // corpus health report: per-language doc/token/quality rollup — the
    // dashboard a corpus build publishes nightly. One narrow scoring pass
    // + one groupBy on the language guess; every aggregate exposed as an
    // exact integer (q_score pre-rounded to 4 decimals, so x10000 is
    // integral and the sum is order-independent)
    "ns_corpus_report" -> ((s, dir) => {
      val scored = TextAnalysis.qualityScore(t(s, dir, "documents"))
        .withColumn("lang_guess", TextAnalysis.languageId(col("text")))
      scored.groupBy("lang_guess").agg(
        count(lit(1)).as("n_docs"),
        sum(col("q_tokens")).as("total_tokens"),
        sum(round(col("q_score") * 10000).cast("long")).as("q_sum_e4"),
        sum(when(col("q_score") >= 0.5, 1L).otherwise(0L)).as("n_pass"))
    }),
    // incremental corpus merge: an incoming crawl joins an existing
    // corpus; only docs whose exact fingerprint is unseen survive — one
    // hash anti-join on the fingerprint key, the nightly-ingest dedup
    "ns_corpus_merge" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      val inc = d.filter(col("doc_id") % 3 =!= 0).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      val ex = d.filter(col("doc_id") % 3 === 0)
        .select(TextAnalysis.fingerprint(col("text")).as("fp")).distinct()
      inc.join(ex, Seq("fp"), "left_anti").select("doc_id")
    }),
    // dataset-card report: per (source, lang) doc/token/char totals,
    // exact-distinct content fingerprints (dup-rate numerator), and the
    // e4-integer quality mass — one narrow scoring pass + ONE keyed
    // aggregate (countDistinct plans as the standard two-phase expand).
    // All cells integers: sums of per-doc e4 scores, never float means.
    // (ns_corpus_report is the per-language HEALTH rollup; this is the
    // per-(source, lang) provenance card.)
    "ns_dataset_card" -> ((s, dir) => {
      val q = TextAnalysis.qualityScore(t(s, dir, "documents"))
      q.select(col("source"), col("lang"), col("q_tokens"), col("q_chars"),
          round(col("q_score") * 10000).cast("long").as("q_e4"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("q_tokens")).as("n_tokens"),
          sum(col("q_chars")).as("n_chars"),
          countDistinct(col("fp")).as("n_unique"),
          sum(col("q_e4")).as("q_e4_sum"))
    }),
    // corpus-version diff (dataset versioning between snapshots): a
    // derived "next snapshot" — 1/7 of ids removed, 1/5 content-edited,
    // 1/11 re-keyed as additions — classified added/removed/changed/kept
    // by the canonical normText md5. One full outer join on id over
    // (id, digest) pairs; documents never cross the shuffle.
    "ns_corpus_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      Dedup.corpusDiff(docs, nextSnapshot(docs))
    }),
    // the ingest-side diff: the same derived next snapshot classified
    // against the static old corpus by a stream-static-safe LEFT join
    // (no removed class — unobservable from the incoming side).
    // Stream==batch pinned in StreamingSpec.
    "ns_corpus_diff_incoming" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      Dedup.corpusDiffIncoming(nextSnapshot(docs), docs)
    }),
    // range join without the nested loop Spark would plan for a raw
    // BETWEEN join: events matched to their containing session interval
    // via bin-bucketed equi-join (RangeJoin.binned) + exact filter
    "ns_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        unix_micros(Tables.nanosToTimestamp(col("ts"))).as("t_us"))
      val sw = ev
        .groupBy(session_window(timestamp_micros(col("t_us")), "30 minutes")
          .as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), unix_micros(col("sw.start")).as("lo"),
          unix_micros(col("sw.end")).as("hi"))
      RangeJoin.binned(ev, sw, "user_id", "t_us", "lo", "hi",
          binWidth = 45L * 60 * 1000000)
        .select(col("user_id"), col("t_us"), col("lo").as("session_start_us"))
    }),
    // THE full training-data path in one plan: quality+language curation
    // (narrow) → exact dedup keep-min (one shuffle on the norm-text key)
    // → deterministic hash sample (narrow). What a real corpus build runs
    // nightly, end-to-end under the oracle.
    "ns_pipeline_e2e" -> ((s, dir) => {
      val scored = TextAnalysis.qualityScore(t(s, dir, "documents"))
        .withColumn("lang_guess", TextAnalysis.languageId(col("text")))
      // persisted (optimization r21, guide §1.2/§5): `curated` feeds
      // BOTH sides of the keep-min semi-join below, so the quality/
      // langid/token text kernel ran twice per evaluation — at 100 TB a
      // second full corpus scan thrown away. Lazy recomputable tracked
      // persist, freed by clearCache (the Curation.scoredOnce pattern).
      val curated = Dedup.trackedPersist(scored
        .filter(col("q_score") >= 0.5 && col("lang_guess") === "en")
        .select(col("doc_id"), col("text"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")))
      val keep = curated.groupBy(Dedup.normText(col("text")).as("k"))
        .agg(min("doc_id").as("doc_id")).drop("k")
      curated.join(keep, Seq("doc_id"), "left_semi")
        .filter(graft.northstar.Sampling.hashUnit(col("doc_id")) < 0.6)
        .select("doc_id", "n_tokens")
    }),
    // token-budget shard packing: documents stream into ~2000-token output
    // shards per source (cumulative token window, parallel across sources
    // — no global sort at scale)
    "ns_shard_pack" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("doc_id")
      t(s, dir, "documents").select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .withColumn("shard_id",
          floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / lit(2000.0))
            .cast("long"))
    }),
    // Gopher-style repetition signals: 1 - distinct/total word n-grams
    // per document (boilerplate detector); same shingle definition as the
    // dedup layer, replayed exactly by the oracle
    "ns_rep_ngrams" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.repetitionRatio(col("text"), 2).as("rep2"),
        TextAnalysis.repetitionRatio(col("text"), 3).as("rep3"))),
    // within-doc duplicate-line stats (the Gopher repetition rules next
    // to ns_rep_ngrams' n-gram form): two planted repeats per doc — one
    // a normalization variant, so the dup-char charge must pick the
    // longest representative — plus a unique tail line; all-integer
    // output, Gopher's 30% dup-char threshold replays as a comparison
    "ns_dup_lines" -> ((s, dir) => {
      val aug = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit("\nRepeat Me\nrepeat  me\nunique tail "),
          col("doc_id")).as("text"))
      TextAnalysis.dupLineStats(aug)
    }),
    // per-source duplication report: how polluted is each crawl source —
    // n_docs, distinct normalized texts, duplicate ratio
    "ns_dup_stats" -> ((s, dir) =>
      t(s, dir, "documents").groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(Dedup.normText(col("text"))).as("n_unique"),
        (lit(1.0) - countDistinct(Dedup.normText(col("text"))).cast("double")
          / count(lit(1)).cast("double")).as("dup_ratio"))),
    // corpus vocabulary heavy hitters: doc-frequency of lower-cased terms,
    // per-document distinct taken BEFORE the explode so the shuffle is
    // bounded by (doc, term) pairs; top-25 plans as TakeOrdered
    "ns_heavy_terms" -> ((s, dir) =>
      TextAnalysis.documentFrequency(t(s, dir, "documents"))
        .orderBy(col("doc_freq").desc, col("term")).limit(25)),
    // context-window chunking: consecutive 50-token windows per document —
    // the packing precursor for fixed-context training sequences; ordinals
    // exposed as BIGINT (DuckDB range/len are BIGINT)
    "ns_chunk" -> ((s, dir) =>
      TextAnalysis.chunkByTokens(t(s, dir, "documents"), 50)
        .select(col("doc_id"), col("chunk_ix").cast("long").as("chunk_ix"),
          col("chunk_text"), col("chunk_tokens").cast("long").as("chunk_tokens"))),
    // overlapping context windows (50-token chunks, stride 25 = 50%
    // overlap): the pretraining/RAG form where boundary-straddling
    // spans must appear in some window. Same narrow explode shape
    "ns_chunk_overlap" -> ((s, dir) =>
      TextAnalysis.chunkByTokens(t(s, dir, "documents"), 50, stride = 25)
        .select(col("doc_id"), col("chunk_ix").cast("long").as("chunk_ix"),
          col("chunk_text"), col("chunk_tokens").cast("long").as("chunk_tokens"))),
    // exact-substring overlap (fixed 50-token windows, stride 1): derived
    // "quoting" copies (original + appended tail) share every original
    // window, which fingerprint dedup misses entirely; docs under 50
    // tokens pair only via whole-text equality (exact-dup semantics)
    "ns_substring_overlap" -> ((s, dir) => {
      val base = t(s, dir, "documents").select("doc_id", "text")
      val aug = base.unionAll(base.select(
        (col("doc_id") + 300000).as("doc_id"),
        concat(col("text"), lit(" quoted with appended commentary")).as("text")))
      Dedup.substringOverlapPairs(aug)
    }),
    // winnowing-sketch overlap (MOSS fingerprint selection): the same
    // derived-copy pairs as ns_substring_overlap's stride-1 windows, but
    // the candidate join runs on the ~2/(window+1)-density selected-min
    // sketch — the index-size lever at 100 TB. k=5/window=4: spans >= 8
    // tokens guaranteed detected. maxBucket 100, not the 50-token-window
    // default: a 5-gram shared by hundreds of documents is template
    // idiom, not overlap evidence, and each such bucket costs its
    // square in join pairs
    "ns_winnow_pairs" -> ((s, dir) => {
      val base = t(s, dir, "documents").select("doc_id", "text")
      val aug = base.unionAll(base.select(
        (col("doc_id") + 300000).as("doc_id"),
        concat(col("text"), lit(" quoted with appended commentary")).as("text")))
      Dedup.winnowPairs(aug, maxBucket = 100)
    }),
    // the incremental-ingest half of winnowing (the ns_neardup_incoming
    // shape for exact-substring overlap): the corpus sketch is the
    // PERSISTED winnow index (Artifacts.winnowSketchFor — train-once,
    // k/window pinned in the artifact, mismatch raises in-plan), and an
    // incoming batch of quoting copies joins it cross-slice — the
    // nightly screen never re-sketches the corpus
    "ns_winnow_incoming" -> ((s, dir) => {
      val corpus = t(s, dir, "documents").select("doc_id", "text")
      val incoming = corpus.select((col("doc_id") + 300000).as("doc_id"),
        concat(col("text"), lit(" quoted with appended commentary")).as("text"))
      val index = graft.northstar.Artifacts.winnowSketchFor(
        corpus, cacheKey = corpusKey(s, dir, "documents"), maxBucket = 100)
      // probe with the INDEX'S cap (code-review r14: the independent
      // incoming-side default of 1000 contradicted the documented
      // same-cap contract; hash-neutral — an incoming fp over 100 is
      // over 100 on the corpus side too and already index-dropped)
      Dedup.winnowPairsAgainstIndex(incoming, index, maxBucket = 100)
    }),
    // the dedup-side append lifecycle (the ns_knn_ivfpq_append pattern
    // for text): the APPENDABLE winnow index is built on the even-doc
    // half, the odd half appended (all sketch rows stored, bucket cap
    // applied at load from the refreshed over-cap list), and the same
    // quoting-copy screen serves from the capped view — append-then-
    // serve must be hash-identical to the build-on-everything index, so
    // the oracle is ns_winnow_incoming's cross-slice replay verbatim
    "ns_winnow_append" -> ((s, dir) => {
      import graft.northstar.Artifacts
      val corpus = t(s, dir, "documents").select("doc_id", "text")
      val incoming = corpus.select((col("doc_id") + 300000).as("doc_id"),
        concat(col("text"), lit(" quoted with appended commentary")).as("text"))
      val path = Artifacts.pathFor("winnowappend",
        s"${corpusKey(s, dir, "documents")}-$jvmTag")
      val index = Artifacts.CappedIndex.winnow(maxBucket = 100)
      index.save(corpus.filter(col("doc_id") % 2 === 0), path)
      index.append(corpus.filter(col("doc_id") % 2 =!= 0), path)
      Dedup.winnowPairsAgainstIndex(incoming, index.load(s, path),
        maxBucket = 100)
    }),
    // dedup-side takedown REMOVAL (the ns_knn_ivfpq_remove pattern):
    // the appendable index is built on the corpus plus a duplicated
    // slice (+600000, same text — doubling fp buckets pushes shared
    // ones over the cap), the slice is removed, and the probe must see
    // exactly the corpus-only index — dropped buckets whose counts fall
    // back under the cap RESURRECT, so all three lifecycle rows
    // (incoming/append/remove) hash against the SAME oracle
    "ns_winnow_remove" -> ((s, dir) => {
      import graft.northstar.Artifacts
      val corpus = t(s, dir, "documents").select("doc_id", "text")
      val extra = corpus.select((col("doc_id") + 600000).as("doc_id"),
        col("text"))
      val incoming = corpus.select((col("doc_id") + 300000).as("doc_id"),
        concat(col("text"), lit(" quoted with appended commentary")).as("text"))
      val path = Artifacts.pathFor("winnowremove",
        s"${corpusKey(s, dir, "documents")}-$jvmTag")
      val index = Artifacts.CappedIndex.winnow(maxBucket = 100)
      index.save(corpus.unionAll(extra), path)
      index.remove(extra.select("doc_id"), path)
      Dedup.winnowPairsAgainstIndex(incoming, index.load(s, path),
        maxBucket = 100)
    }),
    // duplicated-span REMOVAL (the remedy half of substring dedup, Lee
    // et al.'s excision): same augmented corpus as ns_substring_overlap;
    // the derived quoting copies lose exactly the spans their lower-id
    // originals hold, originals survive intact (keep-min convention).
    // Output audited by md5 of the rewritten text — the
    // ns_pack_sequences pattern, so the oracle replays the whole
    // rewrite bit-for-bit
    "ns_substring_remove" -> ((s, dir) => {
      val base = t(s, dir, "documents").select("doc_id", "text")
      val aug = base.unionAll(base.select(
        (col("doc_id") + 300000).as("doc_id"),
        concat(col("text"), lit(" quoted with appended commentary")).as("text")))
      Dedup.substringRemove(aug)
    }),
    // CCNet-style line-level boilerplate dedup: a synthetic crawl footer
    // and header ride on every document (the cookie-banner shape), a
    // per-doc id line is unique; lines whose normalized form occurs in
    // > 10 docs are dropped from every doc, blanks and unique lines
    // survive. Distinct-before-count keeps the df shuffle one row per
    // (doc, line); output md5-audited like ns_substring_remove
    "ns_line_dedup" -> ((s, dir) => {
      val aug = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("shared boilerplate header\n"), col("text"),
          lit("\nid line "), col("doc_id")).as("text"))
      TextAnalysis.lineDedup(aug, maxDocFreq = 10)
    }),
    // the serve half of line dedup (nightly-ingest shape): boilerplate
    // line set trained on the corpus, PERSISTED as a pinned artifact
    // (Artifacts.boilerplateLinesFor — train-once, maxDocFreq pinned,
    // mismatch raises at load), applied to an INCOMING batch as a
    // stateless anti-join against the STORED set. FROZEN semantics
    // pinned by construction: the batch-repeated "breaking news" banner
    // is absent from the trained set and survives in all 100 docs,
    // while the trained header is dropped — serve applies last night's
    // statistics, it doesn't learn from the batch
    "ns_line_dedup_serve" -> ((s, dir) => {
      val aug = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("shared boilerplate header\n"), col("text"),
          lit("\nid line "), col("doc_id")).as("text"))
      val boiler = graft.northstar.Artifacts.boilerplateLinesFor(
        aug, cacheKey = s"${corpusKey(s, dir, "documents")}-hdr-aug",
        maxDocFreq = 10)
      val incoming = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select((col("doc_id") + 500000).as("doc_id"),
          concat(lit("shared boilerplate header\n"), col("text"),
            lit("\nbreaking news repeated banner\nfresh line "),
            col("doc_id")).as("text"))
      TextAnalysis.lineDedupServe(incoming, boiler)
    }),
    // per-document salient terms: TF-IDF top-3, rank-exact exposure —
    // ranking keys on the e4-rounded integer score (then term), so both
    // engines order identically and no float crosses the compare
    "ns_tfidf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = TextAnalysis.tfIdf(t(s, dir, "documents"))
        .withColumn("s_e4", round(col("tfidf") * 10000).cast("long"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("s_e4").desc, col("term"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3 && col("doc_id") < 100)
        .select("doc_id", "term", "rank")
    }),
    // distributed Lloyd refinement of IVF coarse centroids — the live
    // full-corpus training pin next to the driver-sample fitCentroids
    // cost model. Two iterations in exact quantized-integer space (every
    // distance/sum/argmin is 64-bit integer or a rounded ratio of
    // integers — Ivf.lloydStepQ scaladoc), so the DuckDB unrolled replay
    // is bit-identical, including argmin ties (lowest cell wins on both
    // engines). Init = the quantized vectors of vec_id 0..3.
    "ns_kmeans_refine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val init: Seq[Seq[Long]] = emb.filter(col("vec_id") < 4)
        .orderBy("vec_id")
        .select(graft.northstar.Ivf.quantizeVec(col("embedding")).as("q"))
        .collect().map(_.getSeq[Long](0).toSeq).toSeq
      val c2 = graft.northstar.Ivf.lloydStepQ(emb,
        graft.northstar.Ivf.lloydStepQ(emb, init))
      emb.select(col("vec_id"),
        graft.northstar.Ivf.assignQ(
          graft.northstar.Ivf.quantizeVec(col("embedding")), c2).as("cell"))
    }),
    // Distributed linear-probe TRAINING (the model-based quality-filter
    // fit): two full-batch least-squares gradient steps from zero
    // weights in exact quantized-integer space (Probe scaladoc — margins
    // 64-bit integer, gradient sums DECIMAL(38,0), update rounding =
    // floor division of non-negatives), so the DuckDB unrolled replay is
    // bit-identical, partition-order-proof, and corpus-size-safe. Output:
    // the dim trained weights on the 1e4 grid.
    "ns_probe_train" -> ((s, dir) => {
      import s.implicits._
      val w = graft.northstar.Probe.trainQ(t(s, dir, "embeddings"))
      w.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("pos", "w")
    }),
    // Frozen-probe SERVING from the pinned weight artifact
    // (Artifacts.probeWeightsFor — trained once per corpus fingerprint):
    // scoring is a pure narrow pass (integer margin against a dim-sized
    // literal, NO shuffle — plan-guarded), the nightly-ingest shape. The
    // oracle re-derives the training recurrence and then scores, so this
    // row pins fit AND serve end-to-end.
    "ns_probe_serve" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val w = graft.northstar.Artifacts.probeWeightsFor(
        emb, cacheKey = corpusKey(s, dir, "embeddings"))
      graft.northstar.Probe.scoreQ(emb, w)
    }),
    // Okapi BM25 relevance against a fixed probe query (the retrieval
    // relevance-filter shape): integer e4 scores end-to-end (per-term
    // rounding before the sum — the ns_tfidf discipline), top-20
    // rank-exposed with doc_id tie-break. orderBy+limit plans as
    // TakeOrdered; the rank window runs over 20 rows.
    "ns_bm25" -> ((s, dir) =>
      bm25Top20(TextAnalysis.bm25(t(s, dir, "documents"), bm25Terms))),
    // BM25 served from the pinned stats artifact (Artifacts.bm25StatsFor
    // — df/avgdl trained once per corpus fingerprint): scoring is then a
    // completely narrow pass (in-row tf counts against driver-side idf
    // constants, NO shuffle — plan-guarded), the nightly-ingest shape.
    // Bit-identical to the in-query ns_bm25 fit, so the oracle is the
    // same SQL.
    "ns_bm25_serve" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (dfMap, n, dlSum) = graft.northstar.Artifacts.bm25StatsFor(
        docs, cacheKey = corpusKey(s, dir, "documents"), queryTerms = bm25Terms)
      bm25Top20(TextAnalysis.scoreWithBm25(docs, dfMap, n, dlSum))
    }),
    // corpus-trained unigram-LM scoring (the CCNet perplexity-filter
    // signal): bottom-20 most-improbable documents, rank-exposed like
    // ns_tfidf (e4-rounded score orders, doc_id breaks ties, values never
    // compared directly). orderBy+limit plans as TakeOrdered — the
    // trailing rank window runs over 20 rows, not the corpus.
    "ns_unigram_lm" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = TextAnalysis.unigramLogProb(t(s, dir, "documents"))
        .withColumn("s_e4", round(col("mean_lp") * 10000).cast("long"))
        .orderBy(col("s_e4").asc, col("doc_id")).limit(20)
      scored.withColumn("rank",
          row_number().over(Window.orderBy(col("s_e4").asc, col("doc_id"))))
        .select("doc_id", "n_tokens", "rank")
    }),
    // linear-probe scoring: cosine vs a fixed classifier direction (the
    // model-based quality-filter shape); score as e4 integer (see
    // ns_sql_vec_cosine), pred derived FROM the rounded integer on both
    // sides so the decision boundary adds no second float comparison
    "ns_embed_probe" -> ((s, dir) =>
      Similarity.probeScore(
          t(s, dir, "embeddings"), probeVec, threshold = 0.05)
        .select(col("vec_id"),
          round(col("score") * 10000).cast("long").as("score_e4"))
        .withColumn("pred", (col("score_e4") >= 500).cast("int"))),
    // int8 embedding quantization: per-vector scale + quantized checksum
    // columns (sum, sum-of-squares — integer-exact) instead of hauling
    // the 64-wide arrays through the dump
    "ns_quantize_embed" -> ((s, dir) =>
      Similarity.quantizeInt8(t(s, dir, "embeddings"))
        .select(col("vec_id"),
          // widen BEFORE the multiply: float*int stays float in Spark
          // (~7 significant digits) while DuckDB promotes to double —
          // the e6 exposure needs the double product on both sides
          round(col("maxabs").cast("double") * 1000000).cast("long")
            .as("maxabs_e6"),
          // q is array<tinyint> since r14: widen per element BEFORE the
          // square — tinyint*tinyint overflows at |q| >= 12 under ANSI
          aggregate(col("q"), lit(0L),
            (acc, x) => acc + x.cast("long")).as("q_sum"),
          aggregate(col("q"), lit(0L),
            (acc, x) => acc + x.cast("long") * x.cast("long")).as("q_sqsum"))),
    // PII scrub: deterministic synthetic contacts (email/url/phone built
    // from doc_id) injected identically on both sides, then the 3-stage
    // URL→email→phone redaction — RE2-safe patterns, so the oracle runs
    // the exact same regexes
    "ns_redact_pii" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.redactPii(concat(col("text"),
          lit(" contact user"), col("doc_id"),
          lit("@example.com at https://ex.com/d/"), col("doc_id"),
          lit(" or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .as("clean_text"))),
    // deterministic mixture sampling: per-language Bernoulli rates from
    // pure id arithmetic — reproducible on any cluster size, and the
    // exact predicate replays in the oracle
    "ns_sample_stratified" -> ((s, dir) =>
      graft.northstar.Sampling.stratifiedSample(
        t(s, dir, "documents"), "lang",
        Map("en" -> 0.5, "zh" -> 0.3), 0.1)
        .select("doc_id", "lang")),
    // deterministic train/val/test assignment: stable eval membership
    // across reruns and cluster sizes, the exact predicate replayed by
    // the oracle
    "ns_split_assign" -> ((s, dir) =>
      graft.northstar.Sampling.assignSplit(
        t(s, dir, "documents").select("doc_id", "lang"),
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))),
    // temperature rebalancing of the language mixture (alpha = 0.5):
    // rates derived from per-language counts IN the plan, keep predicate
    // = the same replayable hash arithmetic; sqrt keeps the threshold
    // cross-engine exact (IEEE-correctly-rounded, unlike pow)
    "ns_sample_temperature" -> ((s, dir) =>
      graft.northstar.Sampling.temperatureSample(
        t(s, dir, "documents").select("doc_id", "lang"), "lang")),
    // seeded deterministic epoch shuffle: (bucket, pos) permutation
    // coordinates, window parallel across buckets (never a global sort);
    // integer-only arithmetic so the oracle replays it exactly
    "ns_epoch_shuffle" -> ((s, dir) =>
      graft.northstar.Sampling.epochShuffle(
        t(s, dir, "documents").select("doc_id"), nBuckets = 8, seed = 7)),
    // length-floor curation: drop the shortest decile by token count;
    // threshold = k-th smallest value via integer-exact histogram
    // cumulation (no percentile-convention drift), per-lang survivors
    "ns_length_floor" -> ((s, dir) => {
      val q = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.northstar.Sampling.quantileFloor(q, "n_tokens")
        .groupBy("lang").agg(count(lit(1)).as("n_kept"),
          min("n_tokens").as("min_tokens"))
    }),
    // shard payload materialization: doc_id-ordered concat per
    // (source, shard) — exposed as digest + sizes so the oracle compares
    // the exact packed bytes without hauling them through the dump
    "ns_pack_sequences" -> ((s, dir) =>
      TextAnalysis.packSequences(t(s, dir, "documents"))
        .select(col("source"), col("shard_id"), col("n_docs"),
          col("shard_tokens"), length(col("packed")).as("packed_chars"),
          md5(col("packed").cast("binary")).as("packed_md5"))),
    // benchmark decontamination: distinct word-3-gram overlap of each
    // corpus doc (id % 97 != 0) against the held-out "eval" slice
    // (id % 97 == 0); broadcast semi-join on the tiny benchmark gram set
    "ns_decontam" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      Dedup.benchmarkOverlap(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0))
    }),
    // decontamination by SPAN EXCISION (the GPT-3 13-gram remedy):
    // instead of dropping whole contaminated documents, every corpus
    // token position covered by a 13-token window occurring in the
    // benchmark slice is excised and the doc rewritten — clean tokens
    // of lightly-contaminated docs survive. Same corpus/benchmark
    // split as ns_decontam; md5-audited rewrite like
    // ns_substring_remove
    "ns_decontam_remove" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      Dedup.decontaminateRemove(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0))
    }),
    // the 100 TB decontamination shape: benchmark grams frozen into a
    // Bloom filter (treeAggregate build, ~1.2 B/gram), corpus screened
    // by a PURE NARROW probe — no join, no shuffle, no broadcast set.
    // Rows-only (the filter's bit layout has no DuckDB analogue); its
    // exact companion ns_decontam is hash-checked, and DecontamSpec pins
    // the one-sided-error contract (bloom hits ⊇ exact hits, zero false
    // negatives) plus fpp quality on the clean side
    "ns_decontam_bloom" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      val bloom = Dedup.benchmarkBloom(d.filter(col("doc_id") % 97 === 0))
      Dedup.decontaminateBloom(d.filter(col("doc_id") % 97 =!= 0), bloom)
        .select("doc_id", "bloom_gram_hits")
    }),
    "ns_minhash_pairs" -> ((s, dir) =>  // rows-only: hash family not in DuckDB
      Dedup.minhashPairs(t(s, dir, "documents"), threshold = 0.5)),
    // THE flagship end-to-end corpus dedup: collapseByPairs ∘ minhashPairs
    // over documents + word-level-edited copies (last word dropped from
    // every ≥30-token doc, +100000 id) — norm-text differs, so exact dedup
    // can NOT find these; MinHash-LSH must. Oracle-exact because the pair
    // set is: the corpus' exact-Jaccard distribution at sf0.01 has NO pair
    // in [0.07, 0.9) (measured), so the j>=0.5 exact filter admits exactly
    // the j>=0.9 population, which banded LSH (k=16, b=8: miss ~1.7e-6 at
    // j=0.9) detects deterministically; DuckDB replays the same exact
    // pairs and resolves clusters with a recursive-CTE transitive closure.
    "ns_neardup_collapse" -> ((s, dir) => {
      val base = t(s, dir, "documents").select("doc_id", "text")
      val w = split(trim(col("text")), "\\s+")
      val copies = base
        .filter(size(w) >= 30)
        .select((col("doc_id") + 100000).as("doc_id"),
          array_join(slice(w, lit(1), size(w) - 1), " ").as("text"))
      val corpus = base.union(copies)
      Dedup.collapseByPairs(corpus, Dedup.minhashPairs(corpus, threshold = 0.5))
        .select(col("doc_id"), col("cluster_id"), col("is_keeper"))
    }),
    // the nightly-ingest NEAR-dedup: an incoming crawl (word-level-edited
    // re-collections of existing pages, same derivation as
    // ns_neardup_collapse) screened against the existing corpus by
    // cross-slice banded LSH + exact-Jaccard verify. Oracle-exact by the
    // same measured-gap argument as the collapse flagship: cross-pair
    // jaccards are either >= 0.9 (copy vs its origin) or < 0.07
    // (unrelated), so the j>=0.5 exact filter admits exactly the
    // population LSH detects deterministically; DuckDB replays the
    // exact cross pairs
    "ns_neardup_incoming" -> ((s, dir) => {
      val base = t(s, dir, "documents").select("doc_id", "text")
      val w = split(trim(col("text")), "\\s+")
      val incoming = base.filter(size(w) >= 30)
        .select((col("doc_id") + 100000).as("doc_id"),
          array_join(slice(w, lit(1), size(w) - 1), " ").as("text"))
      Dedup.minhashPairsAgainst(incoming, base, threshold = 0.5)
    }),
    // hash-checked companion to ns_minhash_pairs: the EXACT-Jaccard
    // verification half (jaccardForPairs + the shingle kernel) over a
    // fixed pair list both engines can build — each doc vs its first-20-
    // words truncation (jaccard in (0,1]) plus consecutive-id pairs
    // (unrelated, jaccard ≈ 0). Counts-ratio division is one IEEE op on
    // identical integer operands, so hashes match exactly.
    "ns_jaccard_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val trunc = docs.select((col("doc_id") + 10000).as("doc_id"),
        array_join(slice(split(lower(trim(col("text"))), "\\s+"), 1, 20), " ")
          .as("text"))
      val corpus = docs.union(trunc)
      val pairs = docs.select(col("doc_id").as("doc_a"),
          (col("doc_id") + 10000).as("doc_b"))
        .union(docs.select(col("doc_id").as("doc_a"),
          (col("doc_id") + 1).as("doc_b"))
          .join(docs.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
          // using-join reorders doc_b first; re-pin before the positional union
          .select("doc_a", "doc_b"))
      Dedup.jaccardForPairs(corpus, pairs)
    }),
    // hash-checked companion to ns_simhash_pairs: the Hamming-distance
    // verification half (bit_count of xor) over 60-bit fingerprints both
    // engines derive the same way (first 15 hex chars of the md5 text
    // fingerprint), for consecutive-id pairs.
    "ns_hamming_pairs" -> ((s, dir) => {
      val fp = t(s, dir, "documents").select(col("doc_id"),
        conv(substring(TextAnalysis.fingerprint(col("text")), 1, 15), 16, 10)
          .cast("long").as("fp"))
      fp.select(col("doc_id").as("doc_a"), col("fp").as("fp_a"))
        .join(fp.select((col("doc_id") - 1).as("doc_a"),
          col("doc_id").as("doc_b"), col("fp").as("fp_b")), Seq("doc_a"))
        .select(col("doc_a"), col("doc_b"),
          bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long")
            .as("hamming"))
    }),
    // maxBucket tightened: the synthetic corpus draws from a tiny shared
    // vocabulary, so fingerprints collide far more than real-world text —
    // chunk buckets above a few hundred docs are all boilerplate-cluster
    "ns_simhash_pairs" -> ((s, dir) =>  // rows-only
      Dedup.simhashPairs(t(s, dir, "documents"), maxHamming = 6,
        maxBucket = 200)),
    "ns_knn_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb, k = 10)
        .withColumn("rank", col("rank").cast("long"))
    }),
    "ns_knn_lsh" -> ((s, dir) => {      // rows-only: ANN, verified vs brute in tests
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb.filter(col("vec_id") < 5), emb, k = 10)
    }),
    // MMR-diversified retrieval (Carbonell & Goldstein 1998): top-10
    // selected from a 30-candidate relevance pool maximizing
    // λ·relevance − (1−λ)·max-cos-to-selected — the redundancy-aware
    // selection step for eval-set / few-shot construction. Rows-only
    // (the greedy trade-off has no SQL analogue); pinned by the λ=1
    // companion below, which must equal brute-force top-k exactly
    "ns_mmr_select" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.mmrTopK(emb.filter(col("vec_id") < 5), emb,
        k = 10, poolSize = 30, lambdaE4 = 7000)
    }),
    // hash-checked companion: λ = 1 makes the MMR score pure relevance,
    // so selection must reproduce brute-force top-k rank-exactly — the
    // oracle is the brute SQL with rnk exposed as mmr_rank
    "ns_mmr_relevance" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.mmrTopK(emb.filter(col("vec_id") < 5), emb,
        k = 10, poolSize = 30, lambdaE4 = 10000)
    }),
    // MMR served from the ANN pool — the composition users run at
    // corpus scale: multi-probe LSH top-30 (vectors carried through the
    // ranking window, no second corpus scan) feeding the same greedy
    // kernel. Rows-only; pinned by the λ=1 ≡ multiprobe-top-k identity
    // (NorthstarSpec) and plan-guarded to contain no cartesian node —
    // unlike ns_mmr_select's exact O(q×corpus) pool
    "ns_mmr_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.mmrTopKAnn(emb.filter(col("vec_id") < 5), emb,
        k = 10, poolSize = 30, lambdaE4 = 7000)
    }),
    // multi-probe LSH (Lv et al. 2007): same index, each query also
    // probes its nFlips lowest-margin neighbor buckets per table —
    // recall above plain LSH at identical corpus-side cost. Rows-only;
    // pinned by the recall floor below (which must exceed plain LSH's)
    // and by the nFlips=0 ≡ lshTopK identity in SimilaritySpec
    "ns_knn_lsh_multiprobe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopKMultiprobe(emb.filter(col("vec_id") < 5), emb,
        k = 10, nFlips = 2)
    }),
    // threshold 0.35: testdata embeddings are near-orthogonal random
    // vectors (max pairwise cosine ≈ 0.51), so a production-style 0.9
    // threshold would legitimately return zero rows; 0.35 exercises the
    // bucket-join + filter path with a non-empty result
    "ns_knn_ivf" -> ((s, dir) => {      // rows-only: ANN, recall-tested vs brute
      val emb = t(s, dir, "embeddings")
      // serve from the persisted quantizer artifact (train-once, pinned
      // nCells/seed parquet) instead of refitting per query
      val centroids = graft.northstar.Artifacts.ivfCentroidsFor(
        emb, cacheKey = corpusKey(s, dir, "embeddings"), nCells = 8)
      graft.northstar.Ivf.ivfTopK(
        emb.filter(col("vec_id") < 5), emb, centroids, k = 10, nProbe = 3)
    }),
    // hash-checked companion to ns_knn_lsh: zero hyperplanes collapse
    // every vector into one bucket, so the LSH plumbing (bucket join,
    // cross-table dedupe, ranking) must reproduce brute force
    // rank-exactly — same oracle SQL as ns_knn_brute
    "ns_knn_lsh_exhaustive" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb.filter(col("vec_id") < 5), emb, k = 10,
        nPlanes = 0, nTables = 1)
    }),
    // hash-checked companion to ns_knn_ivf: probing ALL cells makes the
    // candidate set the whole corpus, so the IVF plumbing (assignment,
    // probe join, ranking) must reproduce brute force rank-exactly —
    // the oracle is the same SQL as ns_knn_brute
    "ns_knn_ivf_exhaustive" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = graft.northstar.Artifacts.ivfCentroidsFor(
        emb, cacheKey = corpusKey(s, dir, "embeddings"), nCells = 8)
      graft.northstar.Ivf.ivfTopK(
        emb.filter(col("vec_id") < 5), emb, centroids, k = 10, nProbe = 8)
    }),
    // the HIERARCHICAL (broadcast-relation) quantizer family (r15,
    // VERDICT r14 task 1) through the driver gate: with full supercell
    // probing every centroid is a candidate, so the broadcast-join
    // assignment + probe must reproduce brute force rank-exactly —
    // same oracle SQL as ns_knn_brute. The quantizer reuses the pinned
    // 8-cell centroid artifact as its fine level and an independent
    // 3-cell fit as its top level.
    "ns_knn_ivf_hier_exhaustive" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val hq = hierQuantizerFor(s, dir)
      graft.northstar.Ivf.ivfTopK(
        emb.filter(col("vec_id") < 5), emb, hq, k = 10, nProbe = 8)
    }),
    // and the hierarchical STORED index (train-once cell-partitioned
    // layout, planning-time pruned): serve must equal the same brute
    // oracle — the serve==fit identity surfaced as a hash row
    "ns_knn_ivf_hier_serve_exhaustive" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val hq = hierQuantizerFor(s, dir)
      val path = graft.northstar.Artifacts.pathFor("ivfhieridx",
        s"${corpusKey(s, dir, "embeddings")}-c8-sp3")
      graft.northstar.Artifacts.ensureTrained(path) { tmp =>
        graft.northstar.Artifacts.saveIvfIndex(emb, tmp, hq)
      }
      val (index, splits) = graft.northstar.Artifacts
        .loadIvfIndex(s, path, hq)
      graft.northstar.Ivf.ivfServeTopK(
        emb.filter(col("vec_id") < 5), index, hq, splits,
        k = 10, nProbe = 8)
    }),
    // the STORED-CELLS (three-level) family — continuation (b): the
    // cell centroids live as a parquet relation that never assembles
    // on the driver (the past-2M-cells configuration where even the
    // broadcast-relation family's driver array would not fit). Fit is
    // the fully distributed fitStored; with full supercell probing and
    // exhaustive nProbe the search must reproduce brute force
    // rank-exactly — same oracle SQL as ns_knn_brute
    "ns_knn_ivf_stored_exhaustive" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val sq = storedQuantizerFor(s, dir, nCells = 8, superProbe = 4)
      graft.northstar.Ivf.ivfTopK(
        emb.filter(col("vec_id") < 5), emb,
        sq.copy(superProbe = sq.nSuper), k = 10, nProbe = 8)
    }),
    // ... and the stored family's SERVING path (cell-partitioned index
    // built under the stored quantizer, planning-time pruned): the
    // serve==fit identity surfaced as a hash row against the same
    // brute oracle
    "ns_knn_ivf_stored_serve_exhaustive" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val sqPart = storedQuantizerFor(s, dir, nCells = 8, superProbe = 4)
      val sq = sqPart.copy(superProbe = sqPart.nSuper)
      val path = graft.northstar.Artifacts.pathFor("ivfstoredidx",
        s"${corpusKey(s, dir, "embeddings")}-c8-full")
      graft.northstar.Artifacts.ensureTrained(path) { tmp =>
        graft.northstar.Artifacts.saveIvfIndex(emb, tmp, sq)
      }
      val (index, splits) = graft.northstar.Artifacts
        .loadIvfIndex(s, path, sq)
      graft.northstar.Ivf.ivfServeTopK(
        emb.filter(col("vec_id") < 5), index, sq, splits,
        k = 10, nProbe = 8)
    }),
    // recall-floor tripwires for the APPROXIMATE ANN modes: recall@10 of
    // the ANN result vs brute force, computed IN Spark as one
    // exact-integer row (n_queries, n_hits). Both sides are
    // deterministic, so at a fixed sf the hit count is a constant; the
    // DuckDB oracle replays the brute-force side for n_queries and pins
    // the expected n_hits — a plane-seeding, bucketing, or probing
    // regression changes n_hits and fails the hash compare (the
    // exhaustive companions prove the scoring math; these pin the
    // approximation quality).
    "ns_knn_lsh_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      Similarity.recallCounts(
        Similarity.lshTopK(q, emb, k = 10),
        Similarity.bruteForceTopK(q, emb, k = 10))
    }),
    "ns_knn_ivf_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      // the recall floor holds AGAINST THE STORED INDEX — the quality
      // tripwire covers the artifact path a production probe would use
      val centroids = graft.northstar.Artifacts.ivfCentroidsFor(
        emb, cacheKey = corpusKey(s, dir, "embeddings"), nCells = 8)
      Similarity.recallCounts(
        graft.northstar.Ivf.ivfTopK(q, emb, centroids, k = 10, nProbe = 3),
        Similarity.bruteForceTopK(q, emb, k = 10))
    }),
    "ns_knn_lsh_multiprobe_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      Similarity.recallCounts(
        Similarity.lshTopKMultiprobe(q, emb, k = 10, nFlips = 2),
        Similarity.bruteForceTopK(q, emb, k = 10))
    }),
    // JL→ANN composition quality pin: top-k computed in the PROJECTED
    // 16-dim space (randomProject feeding the exact ranker) vs brute
    // force in the original 64-dim space — the pinned n_hits constant is
    // the distance-preservation contract of the projection as the ANN
    // pipeline would actually consume it (project → index → search);
    // a matrix-derivation or quantization regression moves it. The
    // absolute recall is LOW BY CONSTRUCTION on this corpus: i.i.d.
    // near-orthogonal vectors are JL's ranking worst case (all cosines
    // ≈ 0, so the (1±ε) distortion at 64→16 reshuffles near-tied
    // ranks — measured 6/50 at 16 dims, 13/50 at 32); real embedding
    // corpora have cluster structure whose neighbor gaps survive the
    // distortion. The pin is the determinism tripwire, not a quality
    // claim — quality scales with outDim per the JL bound.
    "ns_knn_jl_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val proj = emb.select(col("vec_id"),
        Similarity.randomProject(col("embedding"), dim = 64, outDim = 16)
          .as("embedding"))
      val q = emb.filter(col("vec_id") < 5)
      Similarity.recallCounts(
        Similarity.bruteForceTopK(proj.filter(col("vec_id") < 5), proj,
          k = 10),
        Similarity.bruteForceTopK(q, emb, k = 10))
    }),
    // STORED-index serving for IVF ANN: the corpus is written once,
    // hive-partitioned by cell (Artifacts.ivfIndexFor), and the probe
    // reads ONLY the probed cell directories — PartitionFilters at
    // planning time, no in-plan re-assignment. Rows-only like
    // ns_knn_ivf: by construction the output is row-identical to
    // ns_knn_ivf (same centroids, same split census — IvfSpec asserts
    // the equality exactly), so it inherits ns_knn_ivf's pins
    // (rank-exact exhaustive companion + recall floor)
    "ns_knn_ivf_serve" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // ONE artifact resolution: ivfIndexFor resolves (and digest-pins)
      // the quantizer internally and returns it, so the serving path
      // pays no second ivfCentroidsFor round-trip
      val (index, splits, centroids) = graft.northstar.Artifacts.ivfIndexFor(
        emb, cacheKey = corpusKey(s, dir, "embeddings"), nCells = 8)
      graft.northstar.Ivf.ivfServeTopK(
        emb.filter(col("vec_id") < 5), index, centroids, splits,
        k = 10, nProbe = 3)
    }),
    // IVF-PQ ANN (Jégou et al. 2011): the candidate join ships m-int PQ
    // codes instead of raw vectors (at dim=1024/m=16 a 64× reduction on
    // the dominant shuffle edge — the 100-TB serving win), candidates
    // rank by codegen'd ADC cosine against the reconstruction, and the
    // top-`rerank` survivors re-rank by EXACT cosine via a keyed join
    // back to the corpus. Rows-only like ns_knn_ivf; pinned by the
    // rank-exact exhaustive companion + recall floor below.
    "ns_knn_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val key = corpusKey(s, dir, "embeddings")
      val centroids = graft.northstar.Artifacts.ivfCentroidsFor(
        emb, cacheKey = key, nCells = 8)
      val codebooks = graft.northstar.Artifacts.pqCodebooksFor(
        emb, cacheKey = key, m = 8, ksub = 16)
      graft.northstar.Pq.ivfPqTopK(emb.filter(col("vec_id") < 5), emb,
        centroids, codebooks, k = 10, nProbe = 3, rerank = 30)
    }),
    // hash-checked companion to ns_knn_ivfpq: probing ALL cells with an
    // unbounded rerank makes the exact re-rank see every corpus row, so
    // the IVF-PQ plumbing (codes-only probe join, ADC ranking, re-rank
    // join) must reproduce brute force rank-exactly REGARDLESS of
    // codebook quality — the oracle is the same SQL as ns_knn_brute
    "ns_knn_ivfpq_exhaustive" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val key = corpusKey(s, dir, "embeddings")
      val centroids = graft.northstar.Artifacts.ivfCentroidsFor(
        emb, cacheKey = key, nCells = 8)
      val codebooks = graft.northstar.Artifacts.pqCodebooksFor(
        emb, cacheKey = key, m = 8, ksub = 16)
      graft.northstar.Pq.ivfPqTopK(emb.filter(col("vec_id") < 5), emb,
        centroids, codebooks, k = 10, nProbe = 8, rerank = 1 << 30)
    }),
    // the 100 TB configuration composed (r15): HIERARCHICAL coarse
    // quantizer (broadcast-relation assignment, no centroid literal) +
    // codes-only candidate join + exact re-rank — with full supercell
    // probing, all cells probed, and an unbounded rerank the exact
    // re-rank sees every corpus row, so this must equal brute force
    // rank-exactly regardless of codebook quality
    "ns_knn_ivfpq_hier_exhaustive" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val key = corpusKey(s, dir, "embeddings")
      val codebooks = graft.northstar.Artifacts.pqCodebooksFor(
        emb, cacheKey = key, m = 8, ksub = 16)
      graft.northstar.Pq.ivfPqTopK(emb.filter(col("vec_id") < 5),
        emb, hierQuantizerFor(s, dir), codebooks, k = 10, nProbe = 8,
        rerank = 1 << 30)
    }),
    // ... and the EXABYTE configuration composed: STORED-CELLS coarse
    // quantizer (parquet-backed relation, never driver-resident) +
    // codes-only candidate join + exact re-rank — full supercell
    // probing + all cells + unbounded rerank must equal brute force
    // rank-exactly regardless of fit quality
    "ns_knn_ivfpq_stored_exhaustive" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val key = corpusKey(s, dir, "embeddings")
      val codebooks = graft.northstar.Artifacts.pqCodebooksFor(
        emb, cacheKey = key, m = 8, ksub = 16)
      val sq = storedQuantizerFor(s, dir, nCells = 8, superProbe = 4)
      graft.northstar.Pq.ivfPqTopK(emb.filter(col("vec_id") < 5),
        emb, sq.copy(superProbe = sq.nSuper), codebooks, k = 10,
        nProbe = 8, rerank = 1 << 30)
    }),
    // STORED-index serving for IVF-PQ: the corpus is encoded and written
    // once, hive-partitioned by cell with ONLY (neighbor_id, codes,
    // subcell) — the index a probe reads is ~dim/m× smaller than the raw
    // corpus on disk, on top of planning-time partition pruning; only
    // the rerank survivors fetch full vectors. Rows-only like
    // ns_knn_ivfpq: by construction row-identical to ns_knn_ivfpq (same
    // centroids, codebooks, and shared ADC-rerank tail — PqSpec asserts
    // the equality exactly), so it inherits its pins
    "ns_knn_ivfpq_serve" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (index, splits, centroids, codebooks) =
        graft.northstar.Artifacts.ivfPqIndexFor(
          emb, cacheKey = corpusKey(s, dir, "embeddings"), nCells = 8, m = 8,
          ksub = 16)
      graft.northstar.Pq.ivfPqServeTopK(emb.filter(col("vec_id") < 5),
        index, emb, centroids, splits, codebooks,
        k = 10, nProbe = 3, rerank = 30)
    }),
    // INCREMENTAL index maintenance — the serving-lifecycle piece
    // between "build once" and "rebuild nightly" (VERDICT r12 task 1):
    // the index is built on HALF the corpus, the other half arrives as
    // ingest and is APPENDED with the pinned quantizers
    // (Artifacts.appendIvfPqIndex), then queries serve from the
    // appended index. maxCell 40 forces the append to re-split
    // over-cap cells, so the census-merge + cell-rewrite path runs in
    // every contract evaluation. Rows-only; pinned by the
    // append==rebuild hash identity (ArtifactsSpec) and by the
    // exhaustive companion below
    "ns_knn_ivfpq_append" -> ((s, dir) =>
      ivfPqAppendServe(s, dir, nProbe = 3, rerank = 30, maxCell = 40)),
    // hash-checked companion: same append lifecycle, but probing ALL
    // cells with an unbounded rerank (and no sub-cell splits) makes the
    // exact re-rank see every indexed row — so a lost, duplicated, or
    // mis-celled row from the append machinery breaks the brute-force
    // rank identity the DuckDB oracle replays (same SQL as ns_knn_brute)
    "ns_knn_ivfpq_append_exhaustive" -> ((s, dir) =>
      ivfPqAppendServe(s, dir, nProbe = 8, rerank = 1 << 30,
        maxCell = 100000)),
    // TAKEDOWN removal — the lifecycle piece append left open (VERDICT
    // r13 task 2): the index is built on the corpus plus a duplicated
    // contamination slice, the slice is REMOVED (per-cell rewrite, no
    // rebuild), and queries serve from the shrunken index. maxCell 40
    // with doubled cells forces the bits-SHRINK re-split path every
    // evaluation. Rows-only; pinned by the remove==difference-rebuild
    // hash identity (ArtifactsSpec) and the exhaustive companion below
    "ns_knn_ivfpq_remove" -> ((s, dir) =>
      ivfPqRemoveServe(s, dir, nProbe = 3, rerank = 30, maxCell = 40)),
    // hash-checked companion: after remove, exhaustive probing must
    // reproduce brute force over the ORIGINAL corpus exactly — a row
    // the removal left behind, dropped too eagerly, or mis-celled
    // breaks the rank identity (same SQL as ns_knn_brute)
    "ns_knn_ivfpq_remove_exhaustive" -> ((s, dir) =>
      ivfPqRemoveServe(s, dir, nProbe = 8, rerank = 1 << 30,
        maxCell = 100000)),
    // recall tripwire for the APPROXIMATE IVF-PQ mode (the ns_knn_*_recall
    // contract): n_hits vs brute force pinned by the DuckDB oracle — a
    // codebook-fit, ADC, or rerank regression moves the constant
    "ns_knn_ivfpq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val key = corpusKey(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val centroids = graft.northstar.Artifacts.ivfCentroidsFor(
        emb, cacheKey = key, nCells = 8)
      val codebooks = graft.northstar.Artifacts.pqCodebooksFor(
        emb, cacheKey = key, m = 8, ksub = 16)
      Similarity.recallCounts(
        graft.northstar.Pq.ivfPqTopK(q, emb, centroids, codebooks,
          k = 10, nProbe = 3, rerank = 30),
        Similarity.bruteForceTopK(q, emb, k = 10))
    }),
    // the CORPUS-GROWTH retune of the row above (ScaleProbe r13: fixed
    // rerank=30/ksub=16 recall degrades 0.52 → 0.19 as the corpus grows
    // 500 → 10k; ksub=64 + rerank=100 holds flat): same stored-artifact
    // path at the scale-proof settings, recall floor pinned by the
    // oracle constant — a regression in the wide-code fit or the bigger
    // rerank fetch moves n_hits
    "ns_knn_ivfpq_tuned_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val key = corpusKey(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val centroids = graft.northstar.Artifacts.ivfCentroidsFor(
        emb, cacheKey = key, nCells = 8)
      val codebooks = graft.northstar.Artifacts.pqCodebooksFor(
        emb, cacheKey = key, m = 8, ksub = 64)
      Similarity.recallCounts(
        graft.northstar.Pq.ivfPqTopK(q, emb, centroids, codebooks,
          k = 10, nProbe = 3, rerank = 100),
        Similarity.bruteForceTopK(q, emb, k = 10))
    }),
    // the SELF-SCALING COARSE-QUANTIZER default path (the task-1
    // contract extended to the IVF side, r14): no nCells, no nProbe —
    // Ivf.autoNCells sizes the cell count at √N (22 at the 500-vector
    // oracle corpus, vs the pinned rows' fixed 8) and Ivf.autoNProbe
    // probes √nCells (5), so the scan fraction SHRINKS with corpus
    // growth instead of a fixed 3/8 of the corpus. n_hits is a new
    // pinned constant (the formulas do not resolve to the 8-cell
    // base); ScaleProbe tracks the auto path's recall at 2k/10k
    "ns_knn_ivf_auto_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val key = corpusKey(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val centroids = graft.northstar.Artifacts.ivfCentroidsFor(
        emb, cacheKey = key)
      Similarity.recallCounts(
        graft.northstar.Ivf.ivfTopK(q, emb, centroids, k = 10),
        Similarity.bruteForceTopK(q, emb, k = 10))
    }),
    // the SELF-SCALING default path (VERDICT r13 task 1): no rerank, no
    // ksub — Pq.autoRerank/autoKsub derive both from corpus size, so a
    // caller who never read the sizing scaladoc gets the corpus-tracking
    // budget instead of silently degraded recall. At the 500-vector
    // oracle corpus the formulas resolve to exactly the contract base
    // (ksub=16, rerank=30), pinning auto==base at base scale; ScaleProbe
    // asserts the auto path DOMINATES the fixed base at 2k and 10k
    "ns_knn_ivfpq_auto_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val key = corpusKey(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val centroids = graft.northstar.Artifacts.ivfCentroidsFor(
        emb, cacheKey = key, nCells = 8)
      val codebooks = graft.northstar.Artifacts.pqCodebooksFor(
        emb, cacheKey = key, m = 8)
      Similarity.recallCounts(
        graft.northstar.Pq.ivfPqTopK(q, emb, centroids, codebooks,
          k = 10, nProbe = 3),
        Similarity.bruteForceTopK(q, emb, k = 10))
    }),
    // recall-floor tripwire for the HIERARCHICAL family under PARTIAL
    // probing (VERDICT r16 task 1): the three hier contract rows run
    // superProbe == nSuper and are exact by construction, so a
    // probe-ordering or tie-break regression in the supercell kernel
    // passed every hier row. This pins the 100 TB-serving shape — a
    // candidate set drawn from 2 of 6 supercells and 5 of 24 cells —
    // as a hash row: n_hits vs the DuckDB brute-force replay is a
    // deterministic constant (both centroid levels are train-once
    // seeded driver fits)
    "ns_knn_ivf_hier_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      Similarity.recallCounts(
        graft.northstar.Ivf.ivfTopK(
          q, emb, hierQuantizerPartialFor(s, dir), k = 10, nProbe = 5),
        Similarity.bruteForceTopK(q, emb, k = 10))
    }),
    // and the same partial-probe pin through the IVF-PQ tail (ADC
    // screen + bounded exact rerank) — the full hierarchical serving
    // pipeline's approximation quality as one constant
    "ns_knn_ivfpq_hier_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val key = corpusKey(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val codebooks = graft.northstar.Artifacts.pqCodebooksFor(
        emb, cacheKey = key, m = 8, ksub = 16)
      Similarity.recallCounts(
        graft.northstar.Pq.ivfPqTopK(
          q, emb, hierQuantizerPartialFor(s, dir), codebooks,
          k = 10, nProbe = 5, rerank = 30),
        Similarity.bruteForceTopK(q, emb, k = 10))
    }),
    // recall-floor tripwire for the STORED-CELLS family under PARTIAL
    // probing: 24 stored cells under 5 supercells, superProbe 2/5 and
    // nProbe 5/24 — the exhaustive stored rows are exact by
    // construction, so the distributed fit's quality and the
    // three-level probe ordering need their own hash pin. The
    // fully-distributed fitStored is deterministic (seeded draws,
    // content-hash-ordered init, exact-integer Lloyd), so n_hits is a
    // constant the DuckDB brute replay pins
    "ns_knn_ivf_stored_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      Similarity.recallCounts(
        graft.northstar.Ivf.ivfTopK(
          q, emb, storedQuantizerFor(s, dir, nCells = 24, superProbe = 2),
          k = 10, nProbe = 5),
        Similarity.bruteForceTopK(q, emb, k = 10))
    }),
    // the same partial-probe stored configuration through the IVF-PQ
    // ADC+rerank tail — the full exabyte serving pipeline's
    // approximation quality as one constant
    "ns_knn_ivfpq_stored_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val key = corpusKey(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val codebooks = graft.northstar.Artifacts.pqCodebooksFor(
        emb, cacheKey = key, m = 8, ksub = 16)
      Similarity.recallCounts(
        graft.northstar.Pq.ivfPqTopK(
          q, emb, storedQuantizerFor(s, dir, nCells = 24, superProbe = 2),
          codebooks, k = 10, nProbe = 5, rerank = 30),
        Similarity.bruteForceTopK(q, emb, k = 10))
    }),
    // ingest-side embedding near-match served from the COMPRESSED codes
    // index: incoming vectors ADC-screened against the stored IVF-PQ
    // index, survivors confirmed by exact cosine — the embedding flavor
    // of ns_neardup_incoming, stream-safe (StreamingSpec pins
    // stream==batch). Rows-only: the cell scoping and codebooks derive
    // from driver fits DuckDB can't replay; the exact companion below
    // pins the screen+confirm math
    "ns_ann_incoming" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (index, splits, centroids, codebooks) =
        graft.northstar.Artifacts.ivfPqIndexFor(
          emb, cacheKey = corpusKey(s, dir, "embeddings"), nCells = 8, m = 8,
          ksub = 16)
      val incoming = emb.filter(col("vec_id") < 100)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      graft.northstar.Pq.annMatchesIncoming(incoming, index, emb,
        centroids, splits, codebooks, thresholdE4 = 3500)
    }),
    // hash-checked companion to ns_ann_incoming: ONE trivial cell and a
    // screen margin >= 2e4 admit every (incoming, corpus) pair into the
    // exact confirm, so the op must equal the flat exact threshold join
    // DuckDB replays (bounded 100×500 pair space)
    "ns_ann_incoming_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 500)
      val centroids = Array(Array.fill(64)(1.0f))
      val codebooks = graft.northstar.Pq.fitCodebooks(emb, m = 8, ksub = 4)
      val index = emb.select(col("vec_id").as("neighbor_id"),
        lit(0).as("cell"), lit(0L).as("subcell"),
        graft.northstar.Pq.encode(col("embedding"), codebooks).as("codes"))
      val incoming = emb.filter(col("vec_id") < 100)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      graft.northstar.Pq.annMatchesIncoming(incoming, index, emb,
        centroids, splits = Map.empty, codebooks, thresholdE4 = 3500,
        screenMarginE4 = 20001, nProbe = 1)
    }),
    // quantized-exact Johnson–Lindenstrauss random projection: 64→16
    // integer dot products per vector against the stateless splitmix
    // matrix — the dimensionality-reduction narrow pass an embedding
    // pipeline runs before ANN indexing/clustering at scale (zero
    // shuffle, zero driver state); the oracle replays the SAME integer
    // arithmetic from the literal matrix, so the result is hash-exact
    "ns_rand_proj" -> ((s, dir) =>
      Similarity.randomProjectQ(t(s, dir, "embeddings"), dim = 64,
        outDim = 16)),
    "ns_neardup_cosine" -> ((s, dir) => // rows-only
      Similarity.cosineNearDupPairs(t(s, dir, "embeddings"), threshold = 0.35)),
    // SemDeDup: cluster-scoped semantic dedup over the STORED quantizer
    // artifact — pairs compared within k-means cells only, connected
    // groups collapsed keep-min. Rows-only (cell scoping derives from
    // the driver-fit centroids DuckDB can't replay); threshold e4 3000
    // matches the near-orthogonal testdata (see the ns_knn_ivf note);
    // the exhaustive companion pins the collapse math
    "ns_semdedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = graft.northstar.Artifacts.ivfCentroidsFor(
        emb, cacheKey = corpusKey(s, dir, "embeddings"), nCells = 8)
      Similarity.semanticDedup(emb, centroids, thresholdE4 = 3000)
    }),
    // hash-checked companion to ns_semdedup: ONE trivial cell makes the
    // cluster scoping a no-op, so the full SemDeDup plumbing
    // (assignment, subcells, pair join, CC collapse) must reproduce the
    // flat all-pairs collapse — replayed by a recursive-CTE oracle on
    // the bounded ns_neardup_cosine_exact subset. The all-pairs join
    // AND the CC collapse are computed ONCE and pinned as a
    // semanticLabelsFor artifact shared with ns_semdedup_keep_best
    // (VERDICT r10 task 2: the two pins were 12% of the driver bench
    // for one identity) — pair generation and CC still replay whenever
    // corpus content, threshold, or centroids change (all ride the
    // cache key), so the pin is as strong and a fraction of the price.
    "ns_semdedup_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 200)
      Similarity.semanticDedupFromLabels(semdedupPinLabels(emb, dir))
    }),
    // SemDeDup with the quality-aware keeper (collapseByPairsBest's
    // rule): same single-cell bounded subset (and the SAME stored
    // label artifact) as ns_semdedup_exact so the whole pipeline is
    // hash-checked, with quality = vec_id % 7 — a score both engines
    // derive that makes the keeper provably NOT the min id for any
    // cluster holding an id with a larger residue
    "ns_semdedup_keep_best" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 200)
      Similarity.semanticDedupBestFromLabels(
          emb.select(col("vec_id"))
            .withColumn("q", (col("vec_id") % 7).cast("long")),
          semdedupPinLabels(emb, dir), scoreCol = "q")
        .select(col("vec_id"), col("cluster_id"), col("is_keeper"))
    }),
    // hash-checked companion to ns_neardup_cosine: the EXACT cosine
    // threshold-pair semantics the LSH buckets approximate, on a bounded
    // id subset (the all-pairs join is the oracle baseline, not the scale
    // path). Threshold applied to the e4-rounded INTEGER both engines
    // agree on, so near-threshold membership can't flip on float noise.
    "ns_neardup_cosine_exact" -> ((s, dir) => {
      graft.functions.registry.registerAll(s)
      Tables.open(s, dir, Seq("embeddings"))
      Sql.strictSql(s,
        """WITH e AS (SELECT * FROM embeddings WHERE vec_id < 200)
          |SELECT id_a, id_b, sim_e4 FROM (
          |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |    CAST(round(vec_cosine(a.embedding, b.embedding) * 10000) AS BIGINT) AS sim_e4
          |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
          |WHERE sim_e4 >= 3000""".stripMargin)
    }),
    "ns_multimodal" -> ((s, dir) => {   // rows-only: codec output (no SQL analogue)
      val pooled = Multimodal.poolFeatures(
        Multimodal.decodeAssets(multimodalAssets(s, dir)))
      // scalar-only exposure: the driver's pandas canonicalizer can't sort
      // raw array cells (r1 crash); the array form stays unit-tested
      val featCols = (0 until Multimodal.StubCodec.FeatureDim / 2).map(i =>
        get(col("features_pooled"), lit(i)).cast("double").as(s"feat_$i"))
      pooled.select(Seq(col("asset_id"), col("width"), col("height"),
        col("format")) ++ featCols: _*)
    }),
    // multimodal curation gates (VERDICT r13 task 6): config-driven
    // predicates over the DECODED metadata — formats allow-list plus
    // width/height bounds (pixel dims for image/video, samples/channels
    // for audio, so the width bound IS the audio duration gate). The
    // fixture formats carry fixed true dims (png 16x16, mp4 320x240,
    // mkv 640x360, flac 441000 samples x 2ch), so the oracle replays
    // decode+gate as pure id arithmetic — the ns_gopher_rules exposure
    // style: min_width 300 drops every png, max_width 100000 drops
    // every flac, the formats list drops the text/stub assets
    "ns_asset_curation" -> ((s, dir) => {
      val decoded = Multimodal.decodeAssets(multimodalAssets(s, dir))
      val cfg = graft.northstar.Curation.parseAssetConfig(
        """{"formats": ["png","mp4","mkv","flac"],
          | "min_width": 300, "max_width": 100000,
          | "min_height": 100}""".stripMargin)
      graft.northstar.Curation.curateAssets(decoded, cfg)
        .select("asset_id", "width", "height", "format")
    }),
    // IMAGE perceptual-hash near-dup (VERDICT r18 task 7; SURVEY §7.4 —
    // multimodal dedup as a first-class pipeline op): dHash64
    // fingerprints of real synthesized PNGs through the SimHash
    // banded-Hamming machinery. The corpus plants a flipped-cell
    // near-dup (Hamming <= 1) for every 5th doc and a 2x-scaled exact
    // copy (Hamming 0 — dHash is scale-invariant by construction) for
    // every 7th; md5-random patterns keep unrelated pairs ~32 bits
    // apart, so the banded join surfaces exactly the planted family.
    // Rows-only (LSH bucket caps make completeness configuration-
    // dependent in general); the closed-form companion below pins the
    // PNG→decode→luminance→dHash→Hamming pipeline hash-exactly.
    "ns_imagedup_pairs" -> ((s, dir) => {
      import s.implicits._
      // high-bit copy offsets (1L<<40, 1L<<41), not +100000 — fixed
      // small offsets collide with real doc_ids once the table reaches
      // 100k rows and SPARK_GRAFT_SF_DIR is arbitrary (code-review r19)
      val ids = fanOutIds(t(s, dir, "documents").select("doc_id").as[Long])
      val assets = ids.flatMap { id =>
        Seq((id, Multimodal.syntheticPatternPng(id, scale = 4))) ++
          (if (id % 5 == 0)
            Seq((id + (1L << 40), Multimodal.syntheticPatternPng(id,
              flipTopLeft = true, scale = 4))) else Nil) ++
          (if (id % 7 == 0)
            Seq((id + (1L << 41),
              Multimodal.syntheticPatternPng(id, scale = 2))) else Nil)
      }.toDF("asset_id", "payload")
      Multimodal.imageDupPairs(assets, maxHamming = 3)
    }),
    // hash-checked companion: the 9×8 pattern fixture's dHash is a
    // CLOSED FORM of md5(doc_id) (syntheticPatternPng's contract), so
    // DuckDB replays the whole pipeline as bit arithmetic over a fixed
    // pair list — each doc vs its flipped-cell copy (hamming <= 1) and
    // consecutive ids (unrelated, ~32)
    "ns_imagedup_hamming" -> ((s, dir) => {
      import s.implicits._
      val ids = fanOutIds(t(s, dir, "documents").select("doc_id").as[Long])
      fixedPairHamming(s, dir, Multimodal.imageHashes(
        ids.flatMap(id => Seq(
          (id, Multimodal.syntheticPatternPng(id)),
          (id + (1L << 40),
            Multimodal.syntheticPatternPng(id, flipTopLeft = true))))
          .toDF("asset_id", "payload")))
    }),
    // STORED image-fingerprint serve (VERDICT r19 task 2): the corpus
    // PNGs are decoded+hashed once into the train-once phash artifact
    // (Artifacts.CappedIndex.imageHash().indexFor), and the ingest
    // screen joins the STORED 8-byte fingerprints — a restart never
    // re-decodes the corpus. The incoming batch is every doc's flipped-cell copy
    // (Hamming <= 1 by the fixture's closed form), so the screen's
    // full output — every (incoming, corpus) pair within Hamming 3 —
    // replays in DuckDB as bit arithmetic over md5(doc_id), hash-exact
    "ns_imagedup_incoming" -> ((s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").select("doc_id").as[Long]
      val corpus = ids.map(id =>
        (id, Multimodal.syntheticPatternPng(id)))
        .toDF("asset_id", "payload")
      val incoming = ids.map(id => (id + (1L << 40),
        Multimodal.syntheticPatternPng(id, flipTopLeft = true)))
        .toDF("asset_id", "payload")
      val sigs = graft.northstar.Artifacts.CappedIndex.imageHash()
        .indexFor(corpus, cacheKey = corpusKey(s, dir, "documents"))
      Multimodal.imageDupIncoming(incoming, sigs)
        .withColumn("hamming", col("hamming").cast("long"))
    }),
    // phash append lifecycle (the ns_winnow_append pattern for images):
    // index built on the even-doc half, odd half APPENDED (each image
    // decoded exactly once, at the tick that first sees it), same
    // screen — append-then-serve must be hash-identical to the
    // build-on-everything index, so the oracle is
    // ns_imagedup_incoming's replay verbatim
    "ns_imagedup_append" -> ((s, dir) => {
      import s.implicits._
      import graft.northstar.Artifacts
      val ids = t(s, dir, "documents").select("doc_id").as[Long]
      // halves pre-filtered on the ID side (optimization r21): the PNG
      // synthesis map is opaque to Catalyst, so filtering the
      // synthesized frame by asset_id ran the encoder over the FULL
      // corpus for each half — 2n synths for n payloads. asset_id ==
      // doc_id by construction, so the id-side filter selects the
      // identical rows with each payload synthesized exactly once.
      val evens = ids.filter(id => id % 2 == 0).map(id =>
        (id, Multimodal.syntheticPatternPng(id)))
        .toDF("asset_id", "payload")
      val odds = ids.filter(id => id % 2 != 0).map(id =>
        (id, Multimodal.syntheticPatternPng(id)))
        .toDF("asset_id", "payload")
      val incoming = ids.map(id => (id + (1L << 40),
        Multimodal.syntheticPatternPng(id, flipTopLeft = true)))
        .toDF("asset_id", "payload")
      val path = Artifacts.pathFor("phashappend",
        s"${corpusKey(s, dir, "documents")}-$jvmTag")
      val index = Artifacts.CappedIndex.imageHash()
      index.save(evens, path)
      index.append(odds, path)
      Multimodal.imageDupIncoming(incoming, index.load(s, path))
        .withColumn("hamming", col("hamming").cast("long"))
    }),
    // phash takedown REMOVAL (the ns_winnow_remove pattern): the index
    // is built on the corpus plus an exact-duplicate slice (+2^41,
    // same pixels — each duplicate would match every flipped incoming
    // its original matches), the slice is removed, and the screen must
    // see exactly the corpus-only fingerprints — all three lifecycle
    // rows hash against the SAME oracle
    "ns_imagedup_remove" -> ((s, dir) => {
      import s.implicits._
      import graft.northstar.Artifacts
      val ids = t(s, dir, "documents").select("doc_id").as[Long]
      // the +2^41 duplicate slice carries the SAME pixels as the
      // corpus row (that is the point of the fixture), so synthesize
      // each payload once and derive the slice by id arithmetic
      // (optimization r21) — the save still decodes and indexes both
      // copies, exactly as before. The persist lives inside this
      // evaluation; the bench's per-rep hygiene frees it.
      val base = Dedup.trackedPersist(ids.map(id =>
        (id, Multimodal.syntheticPatternPng(id)))
        .toDF("asset_id", "payload"))
      val corpus = base
      val extra = base.select(
        (col("asset_id") + (1L << 41)).as("asset_id"), col("payload"))
      val incoming = ids.map(id => (id + (1L << 40),
        Multimodal.syntheticPatternPng(id, flipTopLeft = true)))
        .toDF("asset_id", "payload")
      val path = Artifacts.pathFor("phashremove",
        s"${corpusKey(s, dir, "documents")}-$jvmTag")
      val index = Artifacts.CappedIndex.imageHash()
      index.save(corpus.unionAll(extra), path)
      index.remove(extra.select("asset_id"), path)
      Multimodal.imageDupIncoming(incoming, index.load(s, path))
        .withColumn("hamming", col("hamming").cast("long"))
    }),
    // AUDIO near-dup (VERDICT r19 task 5 — the multimodal dedup
    // family's audio member): Haitsma–Kalker-style 65-stripe
    // energy-gradient fingerprints of real synthesized WAVs through
    // the same banded-Hamming machinery. The corpus plants a
    // first-stripe-flipped near-dup (Hamming <= 1) for every 5th doc
    // and a HALF-DURATION copy (spf 32 vs 64 — stripe RMS is
    // duration-invariant, so Hamming 0: the robustness the hash
    // exists for) for every 7th. Rows-only like ns_imagedup_pairs;
    // the closed-form companion below pins the decode pipeline
    // hash-exactly
    "ns_audiodup_pairs" -> ((s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").select("doc_id").as[Long]
      val assets = ids.flatMap { id =>
        Seq((id, Multimodal.syntheticPatternWav(id))) ++
          (if (id % 5 == 0)
            Seq((id + (1L << 40),
              Multimodal.syntheticPatternWav(id, flipFirst = true)))
          else Nil) ++
          (if (id % 7 == 0)
            Seq((id + (1L << 41),
              Multimodal.syntheticPatternWav(id, spf = 32)))
          else Nil)
      }.toDF("asset_id", "payload")
      Multimodal.audioDupPairs(assets, maxHamming = 3)
    }),
    // hash-checked companion: the 65-stripe WAV fixture's robust hash
    // is a CLOSED FORM of md5(doc_id) (syntheticPatternWav's
    // contract: hash bit j = bit(j+1) AND NOT bit(j)), so DuckDB
    // replays the whole RIFF→PCM→stripe-RMS→sign-delta pipeline as
    // bit arithmetic over a fixed pair list — each doc vs its
    // flipped-stripe copy (hamming <= 1) and consecutive ids
    // (unrelated, ~24)
    "ns_audiodup_hamming" -> ((s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").select("doc_id").as[Long]
      fixedPairHamming(s, dir, Multimodal.audioHashes(
        ids.flatMap(id => Seq(
          (id, Multimodal.syntheticPatternWav(id)),
          (id + (1L << 40),
            Multimodal.syntheticPatternWav(id, flipFirst = true))))
          .toDF("asset_id", "payload")))
    }),
  )

  /** The shared fixed-pair Hamming scaffold of `ns_imagedup_hamming` /
    * `ns_audiodup_hamming` (code-review r20 — the two companions must
    * not drift apart): each doc paired with its +2^40 perturbed copy
    * (the planted near-dup) plus consecutive-id pairs (unrelated
    * controls), hamming = bit_count(xor) over the supplied (id, sig)
    * fingerprint frame.
    */
  private def fixedPairHamming(s: SparkSession, dir: String,
                               hashes: DataFrame): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id")
    val pairs = docs.select(col("doc_id").as("asset_a"),
        (col("doc_id") + (1L << 40)).as("asset_b"))
      .union(docs.select(col("doc_id").as("asset_a"),
          (col("doc_id") + 1).as("asset_b"))
        .join(docs.select(col("doc_id").as("asset_b")),
          Seq("asset_b"), "left_semi")
        // using-join reorders asset_b first; re-pin before the union
        .select("asset_a", "asset_b"))
    pairs
      .join(hashes.select(col("id").as("asset_a"),
        col("sig").as("sig_a")), Seq("asset_a"))
      .join(hashes.select(col("id").as("asset_b"),
        col("sig").as("sig_b")), Seq("asset_b"))
      .select(col("asset_a"), col("asset_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b")))
          .cast("long").as("hamming"))
  }

  /** The multimodal asset fixture shared by `ns_multimodal` and
    * `ns_asset_curation`: even ids carry REAL synthesized PNG payloads
    * (ImageCodec path: true 16x16 dims, png format, luminance
    * features); ids ≡1 mod 4 carry REAL minimal MP4 containers
    * (VideoCodec path: true tkhd dims, mp4 format); ids ≡3 mod 8 carry
    * REAL minimal Matroska containers (MkvCodec EBML walk: true pixel
    * dims, mkv format); ids ≡7 mod 16 carry REAL minimal FLAC headers
    * (FlacCodec STREAMINFO parse: true rate/channels/samples, flac
    * format); remaining odd ids carry utf-8 text bytes (stub path) —
    * one driver-visible fixture exercises the codec dispatch
    * deterministically. The typed map is fixture synthesis, not an
    * operator.
    */
  private def multimodalAssets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val payloads = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .as[(Long, String, String)]
      .map { case (id, text, src) =>
        val p = if (id % 2 == 0) Multimodal.syntheticPng(id)
                else if (id % 4 == 1) Multimodal.syntheticMp4(id)
                else if (id % 8 == 3) Multimodal.syntheticMkv(id)
                else if (id % 16 == 7) Multimodal.syntheticFlac(id)
                else text.getBytes("UTF-8")
        (id, p, src)
      }.toDF("asset_id", "payload", "source")
    payloads.select(col("asset_id"),
      when(col("asset_id") % 2 === 0, "image")
        .when(col("asset_id") % 4 === 1, "video")
        .when(col("asset_id") % 8 === 3, "video")
        .when(col("asset_id") % 16 === 7, "audio").otherwise("text")
        .as("modality"),
      col("payload"),
      struct(coalesce(length(col("payload")).cast("long"), lit(0L))
        .as("n_bytes"), col("source").cast("string").as("source"))
        .as("meta"))
  }

  /** The probe query and the top-20 rank-exact exposure shared by
    * `ns_bm25` and `ns_bm25_serve`. ONE definition: the pair's premise
    * is that serve is provably the fit (same oracle SQL), so the
    * limit/tie-break scaffold must not be able to drift one-sided.
    */
  private val bm25Terms: Seq[String] = Seq("hash", "join", "scan")

  private def bm25Top20(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scored.orderBy(col("bm25_e4").desc, col("doc_id")).limit(20)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("bm25_e4").desc, col("doc_id"))))
      .select(col("doc_id"), col("dl").cast("long").as("dl"),
        col("bm25_e4"), col("rank"))
  }

  /** The derived "next snapshot" both corpus-diff queries classify:
    * 1/7 of ids removed, 1/5 content-edited, 1/11 re-keyed as
    * additions. ONE definition on each engine — the whole premise of
    * `ns_corpus_diff` vs `ns_corpus_diff_incoming` is that they see
    * the SAME snapshot, so the derivation must not be able to drift
    * between them.
    */
  private def nextSnapshot(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .union(docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("text")))

  /** The DuckDB CTE of [[nextSnapshot]] (open-ended: callers append
    * further CTEs and the final SELECT).
    */
  private val nextSnapshotCte: String =
    """WITH neu AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 7 <> 0
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id, text
      |  FROM documents WHERE doc_id % 11 = 0),
      |""".stripMargin

  /** Shared by `ns_probe_train` (exposed weights) and `ns_probe_serve`
    * (artifact-pinned scoring): the two fixed-point gradient steps of
    * [[graft.northstar.Probe.trainQ]] unrolled as CTE pairs — BIGINT
    * margins, HUGEINT gradient sums (the DECIMAL(38,0) twin), and the
    * round-half-away update expressed as floor division of
    * non-negatives, exactly the Spark recurrence. Open-ended: callers
    * append further CTEs and the final SELECT.
    */
  private val probeTrainCtes: String =
    """WITH qv AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q,
      |    CASE WHEN label < 5 THEN 1 ELSE -1 END AS y
      |  FROM embeddings),
      |nn AS (SELECT count(*) AS n FROM qv),
      |g1 AS (
      |  SELECT g.pos,
      |    sum(CAST(v.q[g.pos + 1] * (0 - v.y * 100000000) AS HUGEINT)) AS g
      |  FROM qv v CROSS JOIN (SELECT unnest(range(0, 64)) AS pos) g
      |  GROUP BY 1),
      |w1 AS (
      |  SELECT pos,
      |    CAST(CASE WHEN wp >= 0 THEN (2 * wp + d) // (2 * d)
      |              ELSE -((2 * (-wp) + d) // (2 * d)) END AS BIGINT) AS w
      |  FROM (SELECT g1.pos, 0 - g1.g AS wp,
      |               CAST(2 AS HUGEINT) * nn.n * 100000000 AS d
      |        FROM g1 CROSS JOIN nn)),
      |wl1 AS (SELECT list(w ORDER BY pos) AS wl FROM w1),
      |m2 AS (
      |  SELECT v.vec_id, v.y, v.q,
      |    CAST(list_sum(list_transform(range(1, 65),
      |      i -> v.q[i] * w.wl[i])) AS BIGINT) AS m
      |  FROM qv v CROSS JOIN wl1 w),
      |g2 AS (
      |  SELECT g.pos,
      |    sum(CAST(v.q[g.pos + 1] AS HUGEINT) * (v.m - v.y * 100000000)) AS g
      |  FROM m2 v CROSS JOIN (SELECT unnest(range(0, 64)) AS pos) g
      |  GROUP BY 1),
      |w2 AS (
      |  SELECT pos,
      |    CAST(CASE WHEN wp >= 0 THEN (2 * wp + d) // (2 * d)
      |              ELSE -((2 * (-wp) + d) // (2 * d)) END AS BIGINT) AS w
      |  FROM (SELECT g2.pos,
      |          CAST(w1.w AS HUGEINT) * 2 * nn.n * 100000000 - g2.g AS wp,
      |          CAST(2 AS HUGEINT) * nn.n * 100000000 AS d
      |        FROM g2 JOIN w1 USING (pos) CROSS JOIN nn))
      |""".stripMargin

  /** Shared by `ns_bm25` (in-query fit) and `ns_bm25_serve` (pinned
    * stats artifact): the serve path is bit-identical to the fit by
    * construction, so both replay against the same SQL. Arithmetic
    * mirrors the Spark expression tree token-for-token (same
    * parenthesization, avgdl as the exact integer pair n·dl/Σdl), so e4
    * rounding sees the identical IEEE double on both engines.
    */
  private val bm25OracleSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\W+'),
      |                x -> len(x) >= 3) AS toks
      |  FROM documents),
      |docs AS (SELECT doc_id, len(toks) AS dl, toks FROM d),
      |stats AS (SELECT count(*) AS n_docs, sum(dl) AS dl_sum FROM docs),
      |hits AS (
      |  SELECT doc_id, dl,
      |    unnest(list_filter(toks,
      |      x -> list_contains(['hash','join','scan'], x))) AS term
      |  FROM docs),
      |tf AS (SELECT doc_id, dl, term, count(*) AS tf
      |       FROM hits GROUP BY 1, 2, 3),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |contrib AS (
      |  SELECT doc_id, dl,
      |    CAST(round(
      |      ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0) *
      |      (tf * (1.2 + 1.0)) /
      |      (tf + 1.2 * (1.0 - 0.75 +
      |        0.75 * (dl * n_docs / CAST(dl_sum AS DOUBLE)))) * 10000)
      |      AS BIGINT) AS c_e4
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
      |scored AS (
      |  SELECT doc_id, dl, CAST(sum(c_e4) AS BIGINT) AS bm25_e4
      |  FROM contrib GROUP BY 1, 2),
      |top AS (SELECT * FROM scored
      |        ORDER BY bm25_e4 DESC, doc_id LIMIT 20)
      |SELECT doc_id, dl, bm25_e4,
      |  row_number() OVER (ORDER BY bm25_e4 DESC, doc_id) AS rank
      |FROM top""".stripMargin

  /** The ONE brute-force top-10 oracle every exhaustive ANN identity
    * row hashes against (ns_knn_brute and its 6 "must equal brute"
    * companions) — defined once so a tweak to the ranking tie-break or
    * the query slice cannot drift between them.
    */
  private val BruteKnnOracleSql: String =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
        |             list_cosine_similarity(q.qv, e.embedding) AS sim
        |      FROM q, embeddings e WHERE e.vec_id != q.qid),
        |r AS (SELECT query_id, neighbor_id,
        |             row_number() OVER (PARTITION BY query_id
        |                                ORDER BY sim DESC, neighbor_id) AS rnk
        |      FROM s)
        |SELECT query_id, neighbor_id, rnk AS "rank" FROM r WHERE rnk <= 10""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    // l_quantity is integer-valued → double sums are exact and
    // order-independent, so the sum/mean stay DOUBLE to match Spark's type
    "q1_flagship" ->
      """SELECT l_returnflag, l_linestatus, o_orderstatus,
        |  sum(l_quantity) AS l_quantity_sum,
        |  count(l_quantity) AS l_quantity_count,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS l_extendedprice_sum,
        |  count(l_extendedprice) AS l_extendedprice_count,
        |  sum(l_quantity) / count(l_quantity) AS l_quantity_mean
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2, 3""".stripMargin,
    "s1_scan_full" -> "SELECT * FROM nation",
    // ts surfaces as epoch MICROSECONDS on both sides: Spark reads the
    // parquet ns column as int64 nanos (Tables.table) and divides; DuckDB
    // truncates ns→µs timestamps on parquet read, so epoch_us is exact.
    "s2_scan_incremental" ->
      """SELECT event_id, epoch_us(ts) AS ts, user_id, event_type, value, props
        |FROM events
        |WHERE event_id > (SELECT max(event_id) // 2 FROM events)""".stripMargin,
    "s3_preview" -> "SELECT * FROM orders ORDER BY o_orderkey LIMIT 5",
    "t1_dedup" ->
      "SELECT DISTINCT l_returnflag, l_linestatus, l_quantity FROM lineitem",
    "t2_remove_nulls" ->
      """SELECT * FROM customer
        |WHERE c_custkey IS NOT NULL AND c_name IS NOT NULL
        |  AND c_nationkey IS NOT NULL AND c_acctbal IS NOT NULL
        |  AND c_mktsegment IS NOT NULL""".stripMargin,
    // nulls injected on s_suppkey % 7 = 0 (mirrors the Spark query), so the
    // mean-fill path is genuinely cross-engine-checked; the fill value is
    // exact-int-sum / count — one deterministic IEEE division per engine.
    "t3_impute" ->
      """WITH s AS (
        |  SELECT s_suppkey, s_name,
        |    CASE WHEN s_suppkey % 7 = 0 THEN NULL ELSE s_nationkey END AS s_nationkey,
        |    s_acctbal
        |  FROM supplier),
        |m AS (SELECT CAST(sum(s_nationkey) AS DOUBLE) / count(s_nationkey) AS mean_nk
        |      FROM s)
        |SELECT s_suppkey, s_name,
        |  coalesce(CAST(s_nationkey AS DOUBLE), (SELECT mean_nk FROM m)) AS s_nationkey,
        |  s_acctbal
        |FROM s""".stripMargin,
    "t4_trim" ->
      """SELECT c_custkey, trim(c_name, ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)) AS c_name,
        |       c_nationkey, c_acctbal,
        |       trim(c_mktsegment, ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)) AS c_mktsegment
        |FROM customer""".stripMargin,
    // registry fold order: trim → distinct-all-columns → any-null drop;
    // the mangled union collapses only because trim precedes dedup
    "t8_pipeline" ->
      """WITH src AS (
        |  SELECT * FROM customer
        |  UNION ALL
        |  SELECT c_custkey, '  ' || c_name, c_nationkey, c_acctbal,
        |         c_mktsegment FROM customer),
        |t AS (SELECT c_custkey, trim(c_name, ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)) AS c_name, c_nationkey,
        |             c_acctbal, trim(c_mktsegment, ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)) AS c_mktsegment
        |      FROM src),
        |d AS (SELECT DISTINCT * FROM t)
        |SELECT * FROM d
        |WHERE c_custkey IS NOT NULL AND c_name IS NOT NULL
        |  AND c_nationkey IS NOT NULL AND c_acctbal IS NOT NULL
        |  AND c_mktsegment IS NOT NULL""".stripMargin,
    "t5_standardize_dates" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       o_orderpriority FROM orders""".stripMargin,
    "t6_t7_names" ->
      """SELECT c_custkey,
        |  split_part(c_name, '#', 1) AS first_name,
        |  split_part(c_name, '#', 2) AS last_name,
        |  trim(split_part(c_name, '#', 1), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)) || ' ' || trim(split_part(c_name, '#', 2), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)) AS full_name,
        |  split_part(trim(split_part(c_name, '#', 1), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)) || ' ' || trim(split_part(c_name, '#', 2), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), ' ', 1) AS first_name_split,
        |  split_part(trim(split_part(c_name, '#', 1), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)) || ' ' || trim(split_part(c_name, '#', 2), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), ' ', 2) AS last_name_split
        |FROM customer""".stripMargin,
    "a1_multi_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS l_quantity_sum,
        |  min(l_quantity) AS l_quantity_min,
        |  max(l_quantity) AS l_quantity_max,
        |  count(l_quantity) AS l_quantity_count,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS l_extendedprice_sum,
        |  CAST(min(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS l_extendedprice_min,
        |  CAST(max(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS l_extendedprice_max,
        |  count(l_extendedprice) AS l_extendedprice_count
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "a2_mean_agg" ->
      """SELECT l_returnflag,
        |  avg(l_quantity) AS l_quantity_mean,
        |  count(l_quantity) AS l_quantity_count,
        |  avg(l_linenumber) AS l_linenumber_mean,
        |  count(l_linenumber) AS l_linenumber_count
        |FROM lineitem GROUP BY 1""".stripMargin,
    "a4_pie" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS o_totalprice_sum
        |FROM orders GROUP BY 1""".stripMargin,
    "a5_histogram" ->
      // pandas value_counts(bins=N) parity (r14): right-closed buckets
      // (ceil, min clamped into bucket 0) over the SAME double math as
      // the Spark side, left-joined onto a 20-row spine so empty
      // buckets emit with cnt 0
      """WITH b AS (SELECT CAST(min(l_extendedprice) AS DOUBLE) AS mn,
        |                  CAST(max(l_extendedprice) AS DOUBLE) AS mx
        |           FROM lineitem),
        |h AS (SELECT CAST(least(greatest(ceil((CAST(l_extendedprice AS DOUBLE) - mn) * 20 / (mx - mn)), 1), 20) - 1 AS INT) AS bucket
        |      FROM lineitem, b WHERE l_extendedprice IS NOT NULL),
        |c AS (SELECT bucket, count(*) AS cnt FROM h GROUP BY bucket),
        |g AS (SELECT CAST(range AS INT) AS bucket FROM range(20))
        |SELECT g.bucket,
        |  (SELECT mn FROM b) + g.bucket * ((SELECT (mx - mn) FROM b) / 20) AS lo,
        |  (SELECT mn FROM b) + (g.bucket + 1) * ((SELECT (mx - mn) FROM b) / 20) AS hi,
        |  COALESCE(c.cnt, 0) AS cnt
        |FROM g LEFT JOIN c ON g.bucket = c.bucket ORDER BY g.bucket""".stripMargin,
    "a6_watermark" -> "SELECT max(event_id) AS max_event_id FROM events",
    "j1_autojoin" ->
      """SELECT c.c_custkey AS c_custkey,
        |  c.c_name AS c_name_customer, c.c_nationkey AS c_nationkey_customer,
        |  c.c_acctbal AS c_acctbal_customer, c.c_mktsegment AS c_mktsegment_customer,
        |  o.o_orderkey AS o_orderkey_orders, o.o_orderstatus AS o_orderstatus_orders,
        |  o.o_totalprice AS o_totalprice_orders, o.o_orderdate AS o_orderdate_orders,
        |  o.o_orderpriority AS o_orderpriority_orders
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey""".stripMargin,
    "e2_incremental_delta" ->
      """SELECT event_id, epoch_us(ts) AS ts, user_id, event_type, value, props
        |FROM events
        |WHERE event_id > (SELECT max(event_id) FROM events
        |                  WHERE event_id <= (SELECT max(event_id) * 6 // 10 FROM events))""".stripMargin,
    "q_sql_topn" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_sql_lateral" ->
      """SELECT n_name, c_name, c_acctbal
        |FROM nation n,
        |LATERAL (SELECT c_name, c_acctbal, c_custkey FROM customer
        |         WHERE c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c""".stripMargin,
    "q_sql_monthly" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n_orders
        |FROM orders GROUP BY 1""".stripMargin,
    "q_sql_dow" ->
      """SELECT dayname(o_orderdate) AS dow,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |        / count(o_totalprice), 2) AS avg_price
        |FROM orders GROUP BY 1""".stripMargin,
    "j6_sweep" ->
      """SELECT n.n_regionkey AS n_regionkey,
        |  n.n_nationkey AS n_nationkey_nation, n.n_name AS n_name_nation,
        |  r.r_name AS r_name_region
        |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey""".stripMargin,
    "q2_extract_exec" ->
      "SELECT p_brand, count(*) AS n_parts FROM part GROUP BY p_brand",
    "q_distinct_counts" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps FROM lineitem""".stripMargin,
    "ns_sql_vec_cosine" ->
      """SELECT a.vec_id AS va, b.vec_id AS vb,
        |  CAST(round(list_cosine_similarity(a.embedding, b.embedding) * 10000) AS BIGINT) AS sim_e4
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |WHERE a.vec_id < 20""".stripMargin,
    "ns_neardup_cosine_exact" ->
      """WITH e AS (SELECT * FROM embeddings WHERE vec_id < 200)
        |SELECT id_a, id_b, sim_e4 FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    CAST(round(list_cosine_similarity(a.embedding, b.embedding) * 10000) AS BIGINT) AS sim_e4
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |WHERE sim_e4 >= 3000""".stripMargin,
    "q_star_revenue" ->
      """SELECT r_name, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |      (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin,
    // identical to the q_star_revenue oracle: the bucketed layout must
    // not change a single value
    "q_star_bucketed" ->
      """SELECT r_name, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |      (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin,
    "q_top_customers" ->
      """WITH s AS (
        |  SELECT c_custkey, c_mktsegment,
        |    sum(CAST(o_totalprice AS DECIMAL(12,2))) AS spend_dec,
        |    count(*) AS n_orders
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2 ORDER BY spend_dec DESC, c_custkey LIMIT 25)
        |SELECT c_custkey, c_mktsegment, CAST(spend_dec AS DOUBLE) AS spend,
        |       n_orders FROM s""".stripMargin,
    // outer CAST: DuckDB sum(BIGINT) widens to HUGEINT, Spark stays long
    "q_json_extract" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_count
        |FROM events GROUP BY 1""".stripMargin,
    "x_asof_join" ->
      """WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |           FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, o.o_orderkey AS latest_orderkey
        |FROM events e ASOF JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin,
    // gap-based sessionization via lag + cumulative session ids; Spark's
    // session_window merges events with gap < 30min, so the new-session
    // flag here uses strict >
    "x_session_windows" ->
      """WITH m AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, epoch_us(min(ts)) AS session_start_us,
        |       count(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,
    "q_sql_window" ->
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey
        |                     ORDER BY o_orderdate, o_orderkey) AS order_seq,
        |  lag(o_orderkey) OVER (PARTITION BY o_custkey
        |                        ORDER BY o_orderdate, o_orderkey) AS prev_orderkey
        |FROM orders""".stripMargin,
    "q_sql_setops" ->
      """SELECT c_custkey FROM customer WHERE c_nationkey < 5
        |INTERSECT
        |SELECT o_custkey FROM orders""".stripMargin,
    "q_sql_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |    RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING) AS BIGINT)
        |    AS n_near
        |FROM orders""".stripMargin,
    "q_sql_percentile" ->
      """SELECT l_returnflag,
        |  CAST(round(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) * 100) AS BIGINT) AS p25_e2,
        |  CAST(round(percentile_cont(0.75) WITHIN GROUP (ORDER BY l_quantity) * 100) AS BIGINT) AS p75_e2,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderstatus,
        |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS "1-URGENT",
        |  count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS "2-HIGH",
        |  count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
        |  count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
        |  count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS "5-LOW"
        |FROM orders GROUP BY 1""".stripMargin,
    "q_median" ->
      """SELECT l_returnflag,
        |  CAST(round(median(l_quantity) * 10) AS BIGINT) AS med_e1,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,
    // l_quantity is integer-valued → double sum exact and order-independent
    "q_sql_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  sum(l_quantity) AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "q_sql_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
        |  (o_orderstatus, o_orderpriority))""".stripMargin,
    // l_quantity is integer-valued → double sum exact and order-independent
    "q_sql_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  sum(l_quantity) AS qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "q_sql_anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderstatus = 'F')""".stripMargin,
    "q_sql_subquery" ->
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE (SELECT count(*) FROM orders o
        |       WHERE o.o_custkey = c.c_custkey) >= 15""".stripMargin,
    "q_sql_exists" ->
      """SELECT n_name, count(*) AS n_inactive FROM customer c
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderstatus = 'F')
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderstatus = 'O')
        |GROUP BY n_name""".stripMargin,
    "q_sql_outer_join" ->
      """SELECT
        |  count(*) AS n_rows,
        |  count(CASE WHEN c_custkey IS NULL THEN 1 END) AS n_order_only,
        |  count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_customer_only,
        |  count(CASE WHEN c_custkey IS NOT NULL AND o_orderkey IS NOT NULL
        |        THEN 1 END) AS n_matched
        |FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey""".stripMargin,
    "ns_subword_count" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS subword_tokens
        |FROM documents""".stripMargin,
    // argmax over per-language stopword hits; Spark breaks ties toward the
    // lexicographically greatest language code (struct max) → the CASE
    // chain checks languages in reverse-lex order
    "ns_langid" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','and','of','to','in','is','that','it','for','with'))) AS en,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('der','die','das','und','ist','nicht','ein','mit','auf','für'))) AS de,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('le','la','les','et','est','pas','une','dans','pour','que'))) AS fr,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('el','la','los','y','es','no','una','en','para','que'))) AS es
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
        |       WHEN fr = greatest(en, de, fr, es) THEN 'fr'
        |       WHEN es = greatest(en, de, fr, es) THEN 'es'
        |       WHEN en = greatest(en, de, fr, es) THEN 'en'
        |       ELSE 'de' END AS lang_guess
        |FROM h""".stripMargin,
    // the ns_langid heuristic re-aggregated into a confusion matrix
    "ns_langid_confusion" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','and','of','to','in','is','that','it','for','with'))) AS en,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('der','die','das','und','ist','nicht','ein','mit','auf','für'))) AS de,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('le','la','les','et','est','pas','une','dans','pour','que'))) AS fr,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('el','la','los','y','es','no','una','en','para','que'))) AS es
        |  FROM documents),
        |g AS (
        |  SELECT lang,
        |    CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
        |         WHEN fr = greatest(en, de, fr, es) THEN 'fr'
        |         WHEN es = greatest(en, de, fr, es) THEN 'es'
        |         WHEN en = greatest(en, de, fr, es) THEN 'en'
        |         ELSE 'de' END AS lang_guess
        |  FROM h)
        |SELECT lang, lang_guess, count(*) AS n
        |FROM g GROUP BY lang, lang_guess""".stripMargin,
    // DuckDB 1.0 map indexing returns a LIST ([v] or []), hence lm[t][1];
    // the per-doc list_sum walks tokens sequentially exactly like the
    // Spark aggregate, so the doubles match before rounding
    "ns_lm_serve" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) >= 1)) AS term
        |  FROM documents),
        |c AS (SELECT term, count(*) AS cnt FROM terms GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM c),
        |head AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 50),
        |m AS (SELECT map(list(term), list(cnt)) AS lm FROM head),
        |toks AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) >= 1) AS toks
        |  FROM documents)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(round(list_sum(list_transform(toks, t ->
        |    ln(coalesce(CAST(lm[t][1] AS DOUBLE), 0.5) / total)))
        |    / len(toks) * 10000) AS BIGINT) AS s_e4
        |FROM toks CROSS JOIN tot CROSS JOIN m
        |WHERE len(toks) > 0""".stripMargin,
    // two lm_serve-shaped head chains (target = src0 slice, raw = whole
    // corpus), folds subtracted before the one e4 rounding — the same
    // list_sum arithmetic ns_lm_serve pins against Spark's fold
    "ns_dsir_weights" ->
      """WITH tterms AS (
        |  SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) >= 1)) AS term
        |  FROM documents WHERE source = 'src0'),
        |tcnt AS (SELECT term, count(*) AS cnt FROM tterms GROUP BY 1),
        |ttot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS ttotal FROM tcnt),
        |thead AS (SELECT term, cnt FROM tcnt ORDER BY cnt DESC, term LIMIT 50),
        |tmap AS (SELECT map(list(term), list(cnt)) AS tm FROM thead),
        |rterms AS (
        |  SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) >= 1)) AS term
        |  FROM documents),
        |rcnt AS (SELECT term, count(*) AS cnt FROM rterms GROUP BY 1),
        |rtot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS rtotal FROM rcnt),
        |rhead AS (SELECT term, cnt FROM rcnt ORDER BY cnt DESC, term LIMIT 50),
        |rmap AS (SELECT map(list(term), list(cnt)) AS rm FROM rhead),
        |toks AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) >= 1) AS toks
        |  FROM documents)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(round((list_sum(list_transform(toks, t ->
        |      ln(coalesce(CAST(tm[t][1] AS DOUBLE), 0.5) / ttotal)))
        |    - list_sum(list_transform(toks, t ->
        |      ln(coalesce(CAST(rm[t][1] AS DOUBLE), 0.5) / rtotal))))
        |    / len(toks) * 10000) AS BIGINT) AS w_e4
        |FROM toks CROSS JOIN ttot CROSS JOIN tmap
        |CROSS JOIN rtot CROSS JOIN rmap
        |WHERE len(toks) > 0""".stripMargin,
    // shares as a VALUES literal; the whitespace token count is the
    // pinned expression every token oracle uses; integer div throughout
    "ns_mix_plan" ->
      """WITH shares(source, share) AS (
        |  VALUES ('src0', 5), ('src1', 3), ('src2', 2), ('src_missing', 1)),
        |stats AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END)
        |      AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |j AS (
        |  SELECT s.source, coalesce(n_docs, 0) AS n_docs,
        |    coalesce(n_tokens, 0) AS n_tokens, CAST(share AS BIGINT) AS share,
        |    CAST(share * 3000 // 11 AS BIGINT) AS target_tokens
        |  FROM shares s LEFT JOIN stats USING (source)),
        |r AS (
        |  SELECT *, CASE WHEN n_tokens > 0
        |      THEN least(1000000, target_tokens * 1000000 // n_tokens)
        |      ELSE 0 END AS rate_e6
        |  FROM j)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens, share,
        |  target_tokens, CAST(rate_e6 AS BIGINT) AS rate_e6,
        |  CAST(n_tokens * rate_e6 // 1000000 AS BIGINT) AS expected_tokens,
        |  CAST(greatest(0, target_tokens - n_tokens * rate_e6 // 1000000)
        |    AS BIGINT) AS deficit_tokens
        |FROM r""".stripMargin,
    // same injected suffix via chr(); RE2 hex classes mirror the Java
    // pattern; md5 hex is lowercase in both engines
    "ns_normalize_text" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || chr(1) || 'ctl' || chr(9) || chr(9) || ' end ' AS text
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(text,
        |      '[\x00-\x08\x0b-\x1f\x7f]', '', 'g'),
        |      '[ \t]+', ' ', 'g')) AS clean
        |  FROM aug)
        |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_before,
        |  CAST(length(clean) AS BIGINT) AS n_after, md5(clean) AS fp
        |FROM n""".stripMargin,
    // identical integer-operand discipline to the ns_source_entropy
    // oracle; double chain CAST*N/n_s/tf is left-to-right on both sides
    "ns_source_kl" ->
      """WITH t AS (
        |  SELECT source, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) >= 1)) AS term
        |  FROM documents),
        |tfs AS (SELECT source, term, count(*) AS tf_s FROM t GROUP BY 1, 2),
        |tfc AS (SELECT term, CAST(sum(tf_s) AS BIGINT) AS tf
        |        FROM tfs GROUP BY 1),
        |ns AS (SELECT source, CAST(sum(tf_s) AS BIGINT) AS n_s
        |       FROM tfs GROUP BY 1),
        |ntot AS (SELECT CAST(sum(tf) AS BIGINT) AS n_total FROM tfc)
        |SELECT source, max(n_s) AS n_tokens,
        |  CAST(sum(CAST(round(tf_s *
        |    ln(CAST(tf_s AS DOUBLE) * n_total / n_s / tf) * 10000)
        |    AS BIGINT)) AS BIGINT) AS kl_e4
        |FROM tfs JOIN tfc USING (term) JOIN ns USING (source)
        |  CROSS JOIN ntot
        |GROUP BY source""".stripMargin,
    // unigram + bigram heads as map CTEs; the per-doc fold walks pair
    // indices 2..n exactly like the Spark aggregate so the doubles
    // match before the e4 rounding
    "ns_bigram_lm" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) >= 1)) AS term
        |  FROM documents),
        |c AS (SELECT term, count(*) AS cnt FROM terms GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM c),
        |uhead AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 50),
        |ug AS (SELECT map(list(term), list(cnt)) AS ug FROM uhead),
        |toks AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) >= 1) AS toks
        |  FROM documents),
        |bgs AS (
        |  SELECT unnest(list_transform(range(2, len(toks) + 1),
        |    i -> toks[i-1] || ' ' || toks[i])) AS bgr
        |  FROM toks WHERE len(toks) >= 2),
        |bc AS (SELECT bgr, count(*) AS cnt FROM bgs GROUP BY 1),
        |bhead AS (SELECT bgr, cnt FROM bc ORDER BY cnt DESC, bgr LIMIT 100),
        |bg AS (SELECT map(list(bgr), list(cnt)) AS bg FROM bhead)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(round(list_sum(list_transform(range(2, len(toks) + 1), i ->
        |    CASE WHEN bg[toks[i-1] || ' ' || toks[i]][1] IS NOT NULL
        |          AND ug[toks[i-1]][1] IS NOT NULL
        |         THEN ln(CAST(bg[toks[i-1] || ' ' || toks[i]][1] AS DOUBLE)
        |                 / CAST(ug[toks[i-1]][1] AS DOUBLE))
        |         ELSE ln(coalesce(CAST(ug[toks[i]][1] AS DOUBLE), 0.5)
        |                 / total) END))
        |    / (len(toks) - 1) * 10000) AS BIGINT) AS b_e4
        |FROM toks CROSS JOIN tot CROSS JOIN ug CROSS JOIN bg
        |WHERE len(toks) >= 2""".stripMargin,
    // every Gopher rule replayed as the same integer comparisons over
    // list kernels; '...' counting is literal-replace length deltas on
    // both sides (identical left-to-right non-overlap semantics)
    "ns_gopher_rules" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(text, '\s+'),
        |      w -> len(w) >= 1) AS ws,
        |    list_filter(regexp_split_to_array(text, '\n'),
        |      l -> len(trim(l)) >= 1) AS ls
        |  FROM documents),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(coalesce(list_sum(list_transform(ws, w -> len(w))), 0)
        |      AS BIGINT) AS sum_wlen,
        |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
        |      AS BIGINT) AS alpha_words,
        |    CAST((length(text) - length(replace(text, '#', '')))
        |       + (length(text) - length(replace(text, '...', ''))) / 3
        |      AS BIGINT) AS sym_marks,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(ls, l -> regexp_matches(l, '^\s*[-*]')))
        |      AS BIGINT) AS bullet_lines,
        |    CAST(len(list_filter(ls, l -> regexp_matches(l, '\.\.\.\s*$')))
        |      AS BIGINT) AS ellipsis_lines
        |  FROM d)
        |SELECT doc_id, n_words, sum_wlen, alpha_words, sym_marks, n_lines,
        |  bullet_lines, ellipsis_lines,
        |  CAST(CASE WHEN n_words >= 20 AND n_words <= 100000
        |    AND sum_wlen >= 3 * n_words AND sum_wlen <= 10 * n_words
        |    AND sym_marks * 10 <= n_words
        |    AND bullet_lines * 10 <= n_lines * 9
        |    AND ellipsis_lines * 10 <= n_lines * 3
        |    AND alpha_words * 10 >= n_words * 8
        |    THEN 1 ELSE 0 END AS BIGINT) AS passes
        |FROM sig""".stripMargin,
    // split replay identical to ns_split_assign; leaky groups via
    // HAVING count(DISTINCT split) >= 2 on the normalized text key
    "ns_split_leak" ->
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 5 = 0),
        |sp AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS k,
        |    CASE WHEN h < 0.9 THEN 'train'
        |         WHEN h < 0.95 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT doc_id, text,
        |          doc_id % 2147483647 * 2654435761 % 2147483647 * 2246822519 % 2147483647 / 2147483647.0 AS h
        |        FROM aug)),
        |g AS (SELECT k FROM sp GROUP BY k HAVING count(DISTINCT split) >= 2)
        |SELECT doc_id, split FROM sp JOIN g USING (k)""".stripMargin,
    // same LM chain as ns_lm_serve, then quartile cuts as three scalar
    // min-over-cumulative-histogram subqueries; bucket = count of cuts
    // strictly below the score (duplicate cuts skip swallowed bands on
    // both sides)
    "ns_ppl_buckets" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) >= 1)) AS term
        |  FROM documents),
        |c AS (SELECT term, count(*) AS cnt FROM terms GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM c),
        |head AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 50),
        |m AS (SELECT map(list(term), list(cnt)) AS lm FROM head),
        |toks AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) >= 1) AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(round(list_sum(list_transform(toks, t ->
        |      ln(coalesce(CAST(lm[t][1] AS DOUBLE), 0.5) / total)))
        |      / len(toks) * 10000) AS BIGINT) AS s_e4
        |  FROM toks CROSS JOIN tot CROSS JOIN m
        |  WHERE len(toks) > 0),
        |h AS (SELECT s_e4 AS v, count(*) AS c FROM s GROUP BY 1),
        |cum AS (
        |  SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
        |         sum(c) OVER () AS n
        |  FROM h),
        |c1 AS (SELECT min(v) AS t FROM cum WHERE cum * 4 >= n),
        |c2 AS (SELECT min(v) AS t FROM cum WHERE cum * 4 >= 2 * n),
        |c3 AS (SELECT min(v) AS t FROM cum WHERE cum * 4 >= 3 * n)
        |SELECT doc_id, s_e4,
        |  CAST((CASE WHEN s_e4 > c1.t THEN 1 ELSE 0 END)
        |     + (CASE WHEN s_e4 > c2.t THEN 1 ELSE 0 END)
        |     + (CASE WHEN s_e4 > c3.t THEN 1 ELSE 0 END) AS BIGINT) AS bucket
        |FROM s CROSS JOIN c1 CROSS JOIN c2 CROSS JOIN c3""".stripMargin,
    // stage-by-stage replay of the config pipeline: gate → floor
    // (threshold from gated survivors) → temperature (counts from
    // floored survivors) → budget window
    // line-dedup rewrite CTEs (the ns_line_dedup_serve shape) feeding
    // the quality/lang gates of the curation chain, over the REWRITTEN
    // text
    "ns_pipeline_rewrite" ->
      """WITH aug AS (
        |  SELECT doc_id, lang,
        |    'shared boilerplate header' || chr(10) || text || chr(10)
        |      || 'id line ' || doc_id AS text
        |  FROM documents),
        |l0 AS (SELECT doc_id, lang, string_split(text, chr(10)) AS l FROM aug),
        |lines AS (
        |  SELECT doc_id, i AS ix, l[i] AS raw,
        |    regexp_replace(lower(trim(l[i])), '\s+', ' ', 'g') AS norm
        |  FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i
        |        FROM l0)),
        |dfreq AS (
        |  SELECT norm, count(DISTINCT doc_id) AS df FROM lines
        |  WHERE norm <> '' GROUP BY 1),
        |boiler AS (SELECT norm FROM dfreq WHERE df > 10),
        |kept AS (
        |  SELECT doc_id, ix, raw FROM lines
        |  WHERE norm = '' OR norm NOT IN (SELECT norm FROM boiler)),
        |reb AS (
        |  SELECT doc_id, string_agg(raw, chr(10) ORDER BY ix) AS text
        |  FROM kept GROUP BY 1),
        |clean AS (
        |  SELECT l0.doc_id, l0.lang, coalesce(r.text, '') AS text
        |  FROM l0 LEFT JOIN reb r USING (doc_id)),
        |f AS (
        |  SELECT doc_id, lang,
        |    CAST(length(text) AS DOUBLE) AS nc,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS nt,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS np,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is','it',
        |                 'that','for','on','with','as','at','by','be','this'))) AS DOUBLE) AS ns
        |  FROM clean),
        |g AS (
        |  SELECT doc_id, lang, CAST(nt AS BIGINT) AS n_tokens,
        |    round(((CASE WHEN (CASE WHEN nt = 0 THEN 0.0 ELSE nc / nt END) >= 3
        |                  AND (CASE WHEN nt = 0 THEN 0.0 ELSE nc / nt END) <= 12
        |             THEN 1.0 ELSE 0.0 END)
        |         + (CASE WHEN (CASE WHEN nc = 0 THEN 0.0 ELSE np / nc END) <= 0.1
        |             THEN 1.0 ELSE 0.0 END)
        |         + (CASE WHEN (CASE WHEN nt = 0 THEN 0.0 ELSE ns / nt END) >= 0.05
        |             THEN 1.0 ELSE 0.0 END)) / 3, 4) AS q_score
        |  FROM f)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(round(q_score * 10000) AS BIGINT) AS q_e4
        |FROM g WHERE q_score >= 0.5 AND lang IN ('de', 'en', 'es', 'fr')""".stripMargin,
    "ns_curation_config" ->
      """WITH f AS (
        |  SELECT doc_id, lang,
        |    CAST(length(text) AS DOUBLE) AS nc,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS nt,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS np,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is','it',
        |                 'that','for','on','with','as','at','by','be','this'))) AS DOUBLE) AS ns
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang, CAST(nt AS BIGINT) AS n_tokens,
        |    round(((CASE WHEN (CASE WHEN nt = 0 THEN 0.0 ELSE nc / nt END) >= 3
        |                  AND (CASE WHEN nt = 0 THEN 0.0 ELSE nc / nt END) <= 12
        |             THEN 1.0 ELSE 0.0 END)
        |         + (CASE WHEN (CASE WHEN nc = 0 THEN 0.0 ELSE np / nc END) <= 0.1
        |             THEN 1.0 ELSE 0.0 END)
        |         + (CASE WHEN (CASE WHEN nt = 0 THEN 0.0 ELSE ns / nt END) >= 0.05
        |             THEN 1.0 ELSE 0.0 END)) / 3, 4) AS q_score
        |  FROM f),
        |gated AS (
        |  SELECT * FROM g
        |  WHERE q_score >= 0.5 AND lang IN ('de', 'en', 'es', 'fr')),
        |h AS (SELECT n_tokens AS v, count(*) AS c FROM gated GROUP BY 1),
        |cum AS (
        |  SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
        |         sum(c) OVER () AS n
        |  FROM h),
        |thr AS (SELECT min(v) AS thr FROM cum WHERE cum * 10 >= n),
        |fl AS (SELECT gated.* FROM gated CROSS JOIN thr WHERE n_tokens > thr),
        |c2 AS (SELECT lang, count(*) AS c FROM fl GROUP BY 1),
        |m2 AS (SELECT min(c) AS cmin FROM c2),
        |r2 AS (SELECT lang, sqrt(CAST(cmin AS DOUBLE) / c) AS rate
        |       FROM c2 CROSS JOIN m2),
        |sam AS (
        |  SELECT fl.* FROM fl JOIN r2 USING (lang)
        |  WHERE doc_id % 2147483647 * 2654435761 % 2147483647 * 2246822519 % 2147483647 / 2147483647.0 < rate),
        |fill AS (
        |  SELECT doc_id, lang, n_tokens, q_score,
        |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY q_score DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens AS cb
        |  FROM sam)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(round(q_score * 10000) AS BIGINT) AS q_e4
        |FROM fill WHERE cb < 3000""".stripMargin,
    // identical stage CTEs, reduced to per-stage doc/token counts
    "ns_curation_funnel" ->
      """WITH f AS (
        |  SELECT doc_id, lang,
        |    CAST(length(text) AS DOUBLE) AS nc,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS nt,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS np,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is','it',
        |                 'that','for','on','with','as','at','by','be','this'))) AS DOUBLE) AS ns
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang, CAST(nt AS BIGINT) AS n_tokens,
        |    round(((CASE WHEN (CASE WHEN nt = 0 THEN 0.0 ELSE nc / nt END) >= 3
        |                  AND (CASE WHEN nt = 0 THEN 0.0 ELSE nc / nt END) <= 12
        |             THEN 1.0 ELSE 0.0 END)
        |         + (CASE WHEN (CASE WHEN nc = 0 THEN 0.0 ELSE np / nc END) <= 0.1
        |             THEN 1.0 ELSE 0.0 END)
        |         + (CASE WHEN (CASE WHEN nt = 0 THEN 0.0 ELSE ns / nt END) >= 0.05
        |             THEN 1.0 ELSE 0.0 END)) / 3, 4) AS q_score
        |  FROM f),
        |gated AS (
        |  SELECT * FROM g
        |  WHERE q_score >= 0.5 AND lang IN ('de', 'en', 'es', 'fr')),
        |h AS (SELECT n_tokens AS v, count(*) AS c FROM gated GROUP BY 1),
        |cum AS (
        |  SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
        |         sum(c) OVER () AS n
        |  FROM h),
        |thr AS (SELECT min(v) AS thr FROM cum WHERE cum * 10 >= n),
        |fl AS (SELECT gated.* FROM gated CROSS JOIN thr WHERE n_tokens > thr),
        |c2 AS (SELECT lang, count(*) AS c FROM fl GROUP BY 1),
        |m2 AS (SELECT min(c) AS cmin FROM c2),
        |r2 AS (SELECT lang, sqrt(CAST(cmin AS DOUBLE) / c) AS rate
        |       FROM c2 CROSS JOIN m2),
        |sam AS (
        |  SELECT fl.* FROM fl JOIN r2 USING (lang)
        |  WHERE doc_id % 2147483647 * 2654435761 % 2147483647 * 2246822519 % 2147483647 / 2147483647.0 < rate),
        |fill AS (
        |  SELECT doc_id, lang, n_tokens, q_score,
        |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY q_score DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens AS cb
        |  FROM sam),
        |sel AS (SELECT * FROM fill WHERE cb < 3000)
        |SELECT
        |  (SELECT count(*) FROM g) AS n_input,
        |  (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM g) AS tok_input,
        |  (SELECT count(*) FROM gated) AS n_gated,
        |  (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM gated) AS tok_gated,
        |  (SELECT count(*) FROM fl) AS n_floored,
        |  (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM fl) AS tok_floored,
        |  (SELECT count(*) FROM sam) AS n_sampled,
        |  (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM sam) AS tok_sampled,
        |  (SELECT count(*) FROM sel) AS n_selected,
        |  (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM sel) AS tok_selected""".stripMargin,
    // q_score CTE identical to the ns_quality oracle; greedy admission
    // replayed by the same per-lang cumulative window
    "ns_budget_fill" ->
      """WITH f AS (
        |  SELECT doc_id, lang,
        |    CAST(length(text) AS DOUBLE) AS nc,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS nt,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS np,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is','it',
        |                 'that','for','on','with','as','at','by','be','this'))) AS DOUBLE) AS ns
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang, CAST(nt AS BIGINT) AS n_tokens,
        |    round(((CASE WHEN (CASE WHEN nt = 0 THEN 0.0 ELSE nc / nt END) >= 3
        |                  AND (CASE WHEN nt = 0 THEN 0.0 ELSE nc / nt END) <= 12
        |             THEN 1.0 ELSE 0.0 END)
        |         + (CASE WHEN (CASE WHEN nc = 0 THEN 0.0 ELSE np / nc END) <= 0.1
        |             THEN 1.0 ELSE 0.0 END)
        |         + (CASE WHEN (CASE WHEN nt = 0 THEN 0.0 ELSE ns / nt END) >= 0.05
        |             THEN 1.0 ELSE 0.0 END)) / 3, 4) AS q_score
        |  FROM f),
        |c AS (
        |  SELECT lang, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY q_score DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
        |  FROM g)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens_selected
        |FROM c WHERE cum_before < 3000 GROUP BY lang""".stripMargin,
    "ns_bpe_pairs" ->
      """WITH w AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) >= 2)) AS w
        |  FROM documents),
        |p AS (
        |  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
        |    i -> substr(w, i, 2))) AS pair
        |  FROM w)
        |SELECT pair, count(*) AS cnt FROM p GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,
    // 5 unrolled BPE merge rounds: words ride as pipe-delimited symbol
    // strings; each round's winner (a 1-row CTE) is applied by LITERAL
    // replace — left-to-right non-overlapping in both engines
    "ns_bpe_induct" ->
      """WITH w0 AS (
        |  SELECT regexp_replace(w, '(.)', '|\1|', 'g') AS s, count(*) AS freq
        |  FROM (SELECT unnest(list_filter(
        |          regexp_split_to_array(lower(text), '\W+'),
        |          x -> len(x) >= 1)) AS w
        |        FROM documents)
        |  GROUP BY 1),
        |p1 AS (
        |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT freq, unnest(list_transform(range(1, len(l)),
        |      i -> l[i] || ' ' || l[i+1])) AS pair
        |    FROM (SELECT freq, string_split(trim(s, '|'), '||') AS l FROM w0)
        |    WHERE len(l) >= 2)
        |  GROUP BY 1),
        |m1 AS (SELECT split_part(pair, ' ', 1) AS a,
        |              split_part(pair, ' ', 2) AS b, cnt
        |       FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
        |w1 AS (SELECT replace(s, '|'||a||'||'||b||'|', '|'||a||b||'|') AS s, freq
        |       FROM w0 CROSS JOIN m1),
        |p2 AS (
        |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT freq, unnest(list_transform(range(1, len(l)),
        |      i -> l[i] || ' ' || l[i+1])) AS pair
        |    FROM (SELECT freq, string_split(trim(s, '|'), '||') AS l FROM w1)
        |    WHERE len(l) >= 2)
        |  GROUP BY 1),
        |m2 AS (SELECT split_part(pair, ' ', 1) AS a,
        |              split_part(pair, ' ', 2) AS b, cnt
        |       FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
        |w2 AS (SELECT replace(s, '|'||a||'||'||b||'|', '|'||a||b||'|') AS s, freq
        |       FROM w1 CROSS JOIN m2),
        |p3 AS (
        |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT freq, unnest(list_transform(range(1, len(l)),
        |      i -> l[i] || ' ' || l[i+1])) AS pair
        |    FROM (SELECT freq, string_split(trim(s, '|'), '||') AS l FROM w2)
        |    WHERE len(l) >= 2)
        |  GROUP BY 1),
        |m3 AS (SELECT split_part(pair, ' ', 1) AS a,
        |              split_part(pair, ' ', 2) AS b, cnt
        |       FROM p3 ORDER BY cnt DESC, pair LIMIT 1),
        |w3 AS (SELECT replace(s, '|'||a||'||'||b||'|', '|'||a||b||'|') AS s, freq
        |       FROM w2 CROSS JOIN m3),
        |p4 AS (
        |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT freq, unnest(list_transform(range(1, len(l)),
        |      i -> l[i] || ' ' || l[i+1])) AS pair
        |    FROM (SELECT freq, string_split(trim(s, '|'), '||') AS l FROM w3)
        |    WHERE len(l) >= 2)
        |  GROUP BY 1),
        |m4 AS (SELECT split_part(pair, ' ', 1) AS a,
        |              split_part(pair, ' ', 2) AS b, cnt
        |       FROM p4 ORDER BY cnt DESC, pair LIMIT 1),
        |w4 AS (SELECT replace(s, '|'||a||'||'||b||'|', '|'||a||b||'|') AS s, freq
        |       FROM w3 CROSS JOIN m4),
        |p5 AS (
        |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT freq, unnest(list_transform(range(1, len(l)),
        |      i -> l[i] || ' ' || l[i+1])) AS pair
        |    FROM (SELECT freq, string_split(trim(s, '|'), '||') AS l FROM w4)
        |    WHERE len(l) >= 2)
        |  GROUP BY 1),
        |m5 AS (SELECT split_part(pair, ' ', 1) AS a,
        |              split_part(pair, ' ', 2) AS b, cnt
        |       FROM p5 ORDER BY cnt DESC, pair LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS step, a AS lhs, b AS rhs, cnt FROM m1
        |UNION ALL SELECT 2, a, b, cnt FROM m2
        |UNION ALL SELECT 3, a, b, cnt FROM m3
        |UNION ALL SELECT 4, a, b, cnt FROM m4
        |UNION ALL SELECT 5, a, b, cnt FROM m5""".stripMargin,
    // same 5 induction rounds, then tokenize every document with the
    // learned merges: nested literal replaces in learned order (m1
    // innermost), winners carried by 1-row cross joins
    "ns_bpe_tokenize" ->
      """WITH w0 AS (
        |  SELECT regexp_replace(w, '(.)', '|\1|', 'g') AS s, count(*) AS freq
        |  FROM (SELECT unnest(list_filter(
        |          regexp_split_to_array(lower(text), '\W+'),
        |          x -> len(x) >= 1)) AS w
        |        FROM documents)
        |  GROUP BY 1),
        |p1 AS (
        |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT freq, unnest(list_transform(range(1, len(l)),
        |      i -> l[i] || ' ' || l[i+1])) AS pair
        |    FROM (SELECT freq, string_split(trim(s, '|'), '||') AS l FROM w0)
        |    WHERE len(l) >= 2)
        |  GROUP BY 1),
        |m1 AS (SELECT split_part(pair, ' ', 1) AS a,
        |              split_part(pair, ' ', 2) AS b, cnt
        |       FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
        |w1 AS (SELECT replace(s, '|'||a||'||'||b||'|', '|'||a||b||'|') AS s, freq
        |       FROM w0 CROSS JOIN m1),
        |p2 AS (
        |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT freq, unnest(list_transform(range(1, len(l)),
        |      i -> l[i] || ' ' || l[i+1])) AS pair
        |    FROM (SELECT freq, string_split(trim(s, '|'), '||') AS l FROM w1)
        |    WHERE len(l) >= 2)
        |  GROUP BY 1),
        |m2 AS (SELECT split_part(pair, ' ', 1) AS a,
        |              split_part(pair, ' ', 2) AS b, cnt
        |       FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
        |w2 AS (SELECT replace(s, '|'||a||'||'||b||'|', '|'||a||b||'|') AS s, freq
        |       FROM w1 CROSS JOIN m2),
        |p3 AS (
        |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT freq, unnest(list_transform(range(1, len(l)),
        |      i -> l[i] || ' ' || l[i+1])) AS pair
        |    FROM (SELECT freq, string_split(trim(s, '|'), '||') AS l FROM w2)
        |    WHERE len(l) >= 2)
        |  GROUP BY 1),
        |m3 AS (SELECT split_part(pair, ' ', 1) AS a,
        |              split_part(pair, ' ', 2) AS b, cnt
        |       FROM p3 ORDER BY cnt DESC, pair LIMIT 1),
        |w3 AS (SELECT replace(s, '|'||a||'||'||b||'|', '|'||a||b||'|') AS s, freq
        |       FROM w2 CROSS JOIN m3),
        |p4 AS (
        |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT freq, unnest(list_transform(range(1, len(l)),
        |      i -> l[i] || ' ' || l[i+1])) AS pair
        |    FROM (SELECT freq, string_split(trim(s, '|'), '||') AS l FROM w3)
        |    WHERE len(l) >= 2)
        |  GROUP BY 1),
        |m4 AS (SELECT split_part(pair, ' ', 1) AS a,
        |              split_part(pair, ' ', 2) AS b, cnt
        |       FROM p4 ORDER BY cnt DESC, pair LIMIT 1),
        |w4 AS (SELECT replace(s, '|'||a||'||'||b||'|', '|'||a||b||'|') AS s, freq
        |       FROM w3 CROSS JOIN m4),
        |p5 AS (
        |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT freq, unnest(list_transform(range(1, len(l)),
        |      i -> l[i] || ' ' || l[i+1])) AS pair
        |    FROM (SELECT freq, string_split(trim(s, '|'), '||') AS l FROM w4)
        |    WHERE len(l) >= 2)
        |  GROUP BY 1),
        |m5 AS (SELECT split_part(pair, ' ', 1) AS a,
        |              split_part(pair, ' ', 2) AS b, cnt
        |       FROM p5 ORDER BY cnt DESC, pair LIMIT 1),
        |tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) >= 1) AS ws
        |  FROM documents)
        |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |  CAST(coalesce(list_sum(list_transform(ws, w ->
        |    len(string_split(trim(
        |      replace(replace(replace(replace(replace(
        |        regexp_replace(w, '(.)', '|\1|', 'g'),
        |        '|'||m1.a||'||'||m1.b||'|', '|'||m1.a||m1.b||'|'),
        |        '|'||m2.a||'||'||m2.b||'|', '|'||m2.a||m2.b||'|'),
        |        '|'||m3.a||'||'||m3.b||'|', '|'||m3.a||m3.b||'|'),
        |        '|'||m4.a||'||'||m4.b||'|', '|'||m4.a||m4.b||'|'),
        |        '|'||m5.a||'||'||m5.b||'|', '|'||m5.a||m5.b||'|'),
        |      '|'), '||')))), 0) AS BIGINT) AS n_pieces
        |FROM tok CROSS JOIN m1 CROSS JOIN m2 CROSS JOIN m3
        |  CROSS JOIN m4 CROSS JOIN m5""".stripMargin,
    "ns_zipf_spectrum" ->
      """WITH terms AS (
        |  SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) >= 1)) AS term
        |  FROM documents),
        |freqs AS (SELECT term, count(*) AS freq FROM terms GROUP BY 1)
        |SELECT freq, count(*) AS n_terms FROM freqs GROUP BY freq""".stripMargin,
    // same 3-gram shingle construction as the ns_jaccard_pairs /
    // ns_source_overlap oracles
    "ns_vocab_growth" ->
      """WITH w AS (
        |  SELECT doc_id // 50 AS bucket,
        |    string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
        |  FROM documents),
        |terms AS (
        |  SELECT DISTINCT bucket, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(1, len(w) - 2)),
        |    i -> array_to_string(w[i:least(i + 2, len(w))], ' ')))) AS term
        |  FROM w),
        |first_seen AS (
        |  SELECT term, min(bucket) AS bucket FROM terms
        |  WHERE len(term) >= 1 GROUP BY term),
        |growth AS (
        |  SELECT bucket, count(*) AS new_terms FROM first_seen GROUP BY bucket)
        |SELECT bucket, new_terms,
        |  CAST(sum(new_terms) OVER (ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
        |FROM growth""".stripMargin,
    // same token/subword kernels as ns_token_count / ns_subword_count;
    // fertility = one double division of exact integer sums, then round
    "ns_fertility" ->
      """WITH d AS (
        |  SELECT lang,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt,
        |    len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS nsw
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS total_tokens,
        |  CAST(sum(nsw) AS BIGINT) AS total_subwords,
        |  CAST(round(sum(nsw) * 10000.0 / sum(nt)) AS BIGINT) AS fertility_e4
        |FROM d GROUP BY lang""".stripMargin,
    // per-term e4 rounding BEFORE the sum (the ns_tfidf discipline): the
    // summed quantity is an integer, so accumulation order can't differ
    "ns_source_entropy" ->
      """WITH terms AS (
        |  SELECT source, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) >= 1)) AS term
        |  FROM documents),
        |tf AS (SELECT source, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |n AS (SELECT source, sum(tf) AS n_tokens FROM tf GROUP BY 1)
        |SELECT source, CAST(max(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(-sum(CAST(round(tf * ln(CAST(tf AS DOUBLE) / n_tokens) * 10000)
        |    AS BIGINT)) AS BIGINT) AS entropy_e4
        |FROM tf JOIN n USING (source) GROUP BY source""".stripMargin,
    "ns_oov_rate" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) >= 1)) AS term
        |  FROM documents),
        |vocab AS (
        |  SELECT term, 1 AS in_vocab FROM (
        |    SELECT term, count(*) AS cnt FROM toks GROUP BY term
        |    ORDER BY cnt DESC, term LIMIT 100)),
        |j AS (SELECT t.doc_id, v.in_vocab FROM toks t
        |      LEFT JOIN vocab v USING (term))
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |FROM j GROUP BY doc_id""".stripMargin,
    // same 3-gram shingle construction as the ns_jaccard_pairs /
    // ns_decontam oracles
    "ns_source_overlap" ->
      """WITH w AS (
        |  SELECT source,
        |    string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
        |  FROM documents),
        |k AS (
        |  SELECT DISTINCT source, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(1, len(w) - 2)),
        |    i -> array_to_string(w[i:least(i + 2, len(w))], ' ')))) AS g
        |  FROM w)
        |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
        |FROM k a JOIN k b ON a.g = b.g AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,
    // CAST on the window sum: DuckDB sums BIGINT into HUGEINT, which
    // pandas renders as float ("35.0" vs "35" in the str-compare)
    "q_sql_moving" ->
      """SELECT o_orderdate, n,
        |  CAST(sum(n) OVER (ORDER BY o_orderdate
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d
        |FROM (SELECT o_orderdate, count(*) AS n
        |      FROM orders GROUP BY o_orderdate)""".stripMargin,
    "q_sql_stringagg" ->
      """SELECT r_name, count(*) AS n_nations,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "q_sql_ntile" ->
      """SELECT quartile, count(*) AS n_customers,
        |  min(cnt) AS min_orders, max(cnt) AS max_orders
        |FROM (SELECT o_custkey, count(*) AS cnt,
        |        CAST(ntile(4) OVER (ORDER BY count(*), o_custkey)
        |          AS BIGINT) AS quartile
        |      FROM orders GROUP BY o_custkey)
        |GROUP BY quartile""".stripMargin,
    "q_funnel" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_buy
        |  FROM events GROUP BY user_id)
        |SELECT count(*) AS n_users,
        |  count(CASE WHEN t_view IS NOT NULL THEN 1 END) AS n_view,
        |  count(CASE WHEN t_view < t_click THEN 1 END) AS n_view_click,
        |  count(CASE WHEN t_view < t_click AND t_click < t_buy THEN 1 END)
        |    AS n_converted
        |FROM f""".stripMargin,
    "ns_label_centroids" ->
      """WITH x AS (
        |  SELECT label, embedding,
        |    unnest(generate_series(1, len(embedding))) AS i
        |  FROM embeddings)
        |SELECT label, CAST(i - 1 AS INT) AS dim,
        |  CAST(round(avg(CAST(embedding[i] AS DOUBLE)) * 10000) AS BIGINT)
        |    AS c_e4,
        |  count(*) AS n
        |FROM x GROUP BY label, dim""".stripMargin,
    // composition of the ns_quality + ns_langid + ns_token_count oracles
    "ns_curation" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    CAST(length(text) AS DOUBLE) AS nc,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS nt,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS np,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is','it',
        |                 'that','for','on','with','as','at','by','be','this'))) AS DOUBLE) AS ns,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','and','of','to','in','is','that','it','for','with'))) AS en,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('der','die','das','und','ist','nicht','ein','mit','auf','für'))) AS de,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('le','la','les','et','est','pas','une','dans','pour','que'))) AS fr,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('el','la','los','y','es','no','una','en','para','que'))) AS es
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, text, nt,
        |    round(((CASE WHEN (CASE WHEN nt = 0 THEN 0.0 ELSE nc / nt END) >= 3
        |                  AND (CASE WHEN nt = 0 THEN 0.0 ELSE nc / nt END) <= 12
        |             THEN 1.0 ELSE 0.0 END)
        |         + (CASE WHEN (CASE WHEN nc = 0 THEN 0.0 ELSE np / nc END) <= 0.1
        |             THEN 1.0 ELSE 0.0 END)
        |         + (CASE WHEN (CASE WHEN nt = 0 THEN 0.0 ELSE ns / nt END) >= 0.05
        |             THEN 1.0 ELSE 0.0 END)) / 3, 4) AS q_score,
        |    CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
        |         WHEN fr = greatest(en, de, fr, es) THEN 'fr'
        |         WHEN es = greatest(en, de, fr, es) THEN 'es'
        |         WHEN en = greatest(en, de, fr, es) THEN 'en'
        |         ELSE 'de' END AS lang_guess
        |  FROM f)
        |SELECT doc_id, lang_guess, q_score, CAST(nt AS BIGINT) AS n_tokens
        |FROM g WHERE q_score >= 0.5 AND lang_guess = 'en'""".stripMargin,
    // frozen-policy serve: quality + labeled-lang gates, then the exact
    // k-th-smallest length cut (the ns_length_floor threshold CTE) the
    // freeze derived from the GATED set
    "ns_curation_serve" ->
      """WITH f AS (
        |  SELECT doc_id, lang,
        |    CAST(length(text) AS DOUBLE) AS nc,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS nt,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS np,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is','it',
        |                 'that','for','on','with','as','at','by','be','this'))) AS DOUBLE) AS ns
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang, CAST(nt AS BIGINT) AS n_tokens,
        |    round(((CASE WHEN (CASE WHEN nt = 0 THEN 0.0 ELSE nc / nt END) >= 3
        |                  AND (CASE WHEN nt = 0 THEN 0.0 ELSE nc / nt END) <= 12
        |             THEN 1.0 ELSE 0.0 END)
        |         + (CASE WHEN (CASE WHEN nc = 0 THEN 0.0 ELSE np / nc END) <= 0.1
        |             THEN 1.0 ELSE 0.0 END)
        |         + (CASE WHEN (CASE WHEN nt = 0 THEN 0.0 ELSE ns / nt END) >= 0.05
        |             THEN 1.0 ELSE 0.0 END)) / 3, 4) AS q_score
        |  FROM f),
        |gated AS (
        |  SELECT * FROM g WHERE q_score >= 0.5 AND lang IN ('en', 'de')),
        |h AS (SELECT n_tokens AS v, count(*) AS c FROM gated GROUP BY 1),
        |cum AS (
        |  SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
        |         sum(c) OVER () AS n
        |  FROM h),
        |thr AS (SELECT min(v) AS thr FROM cum WHERE cum * 10 >= n)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(round(q_score * 10000) AS BIGINT) AS q_e4
        |FROM gated CROSS JOIN thr WHERE n_tokens > thr""".stripMargin,
    // same f/g quality fragments, rolled up per source then joined back —
    // the source-reputation gate replayed exactly (integer threshold math)
    "ns_source_filter" ->
      """WITH f AS (
        |  SELECT doc_id, source,
        |    CAST(length(text) AS DOUBLE) AS nc,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS nt,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS np,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is','it',
        |                 'that','for','on','with','as','at','by','be','this'))) AS DOUBLE) AS ns
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source,
        |    round(((CASE WHEN (CASE WHEN nt = 0 THEN 0.0 ELSE nc / nt END) >= 3
        |                  AND (CASE WHEN nt = 0 THEN 0.0 ELSE nc / nt END) <= 12
        |             THEN 1.0 ELSE 0.0 END)
        |         + (CASE WHEN (CASE WHEN nc = 0 THEN 0.0 ELSE np / nc END) <= 0.1
        |             THEN 1.0 ELSE 0.0 END)
        |         + (CASE WHEN (CASE WHEN nt = 0 THEN 0.0 ELSE ns / nt END) >= 0.05
        |             THEN 1.0 ELSE 0.0 END)) / 3, 4) AS q_score
        |  FROM f),
        |src AS (
        |  SELECT source, CAST(round(sum(q_score * 10000)) AS BIGINT) AS src_q_sum_e4,
        |         count(*) AS n_docs
        |  FROM g GROUP BY source)
        |SELECT g.doc_id, g.source, src.src_q_sum_e4, src.n_docs
        |FROM g JOIN src ON g.source = src.source
        |WHERE src.src_q_sum_e4 >= 8600 * src.n_docs""".stripMargin,
    "ns_sample_exact_n" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 25""".stripMargin,
    "ns_source_cap" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 15""".stripMargin,
    // same f/g fragments as ns_curation, rolled up per language
    "ns_corpus_report" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    CAST(length(text) AS DOUBLE) AS nc,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS nt,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS np,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is','it',
        |                 'that','for','on','with','as','at','by','be','this'))) AS DOUBLE) AS ns,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','and','of','to','in','is','that','it','for','with'))) AS en,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('der','die','das','und','ist','nicht','ein','mit','auf','für'))) AS de,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('le','la','les','et','est','pas','une','dans','pour','que'))) AS fr,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('el','la','los','y','es','no','una','en','para','que'))) AS es
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, nt,
        |    round(((CASE WHEN (CASE WHEN nt = 0 THEN 0.0 ELSE nc / nt END) >= 3
        |                  AND (CASE WHEN nt = 0 THEN 0.0 ELSE nc / nt END) <= 12
        |             THEN 1.0 ELSE 0.0 END)
        |         + (CASE WHEN (CASE WHEN nc = 0 THEN 0.0 ELSE np / nc END) <= 0.1
        |             THEN 1.0 ELSE 0.0 END)
        |         + (CASE WHEN (CASE WHEN nt = 0 THEN 0.0 ELSE ns / nt END) >= 0.05
        |             THEN 1.0 ELSE 0.0 END)) / 3, 4) AS q_score,
        |    CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
        |         WHEN fr = greatest(en, de, fr, es) THEN 'fr'
        |         WHEN es = greatest(en, de, fr, es) THEN 'es'
        |         WHEN en = greatest(en, de, fr, es) THEN 'en'
        |         ELSE 'de' END AS lang_guess
        |  FROM f)
        |SELECT lang_guess,
        |  count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS total_tokens,
        |  CAST(sum(CAST(round(q_score * 10000) AS BIGINT)) AS BIGINT) AS q_sum_e4,
        |  CAST(sum(CASE WHEN q_score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        |FROM g GROUP BY lang_guess""".stripMargin,
    "ns_exact_dedup" ->
      """SELECT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm_text,
        |       min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    // cluster_id = component min over chain pairs within an exact-dup
    // group == group-min of doc_id — DuckDB-expressible as a window min.
    // The derived +10000/+20000 copies mirror the Spark query (documents
    // itself is dup-free at every SF).
    "ns_dedup_clusters" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, concat('  ', upper(text))
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 20000, concat(upper(text), ' ' || chr(9) || ' ')
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS cluster_id,
        |  doc_id = min(doc_id) OVER (PARTITION BY
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS is_keeper
        |FROM corpus""".stripMargin,
    "ns_dedup_keep_best" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, concat('  ', upper(text))
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 20000, concat(upper(text), ' ' || chr(9) || ' ')
        |  FROM documents WHERE doc_id % 10 = 0),
        |scored AS (
        |  SELECT doc_id, length(text) AS n_chars_d,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
        |  FROM corpus)
        |SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY nt) AS cluster_id,
        |  row_number() OVER (PARTITION BY nt
        |    ORDER BY n_chars_d DESC, doc_id) = 1 AS is_keeper
        |FROM scored""".stripMargin,
    "ns_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents""".stripMargin,
    // exact-Jaccard verification half of minhash dedup: word-3-gram
    // shingles (same normalization + gram rule as the Spark kernel:
    // lower/trim/split-\s+, max(1, len-2) grams, distinct), fixed pairs =
    // doc vs its 20-word truncation (+10000) and consecutive ids
    // incoming slice = the ns_neardup_collapse copy derivation; exact
    // cross-slice Jaccard >= 0.5 (the same measured-gap argument makes
    // the LSH screen + exact verify equal the pure exact population)
    "ns_neardup_incoming" ->
      """WITH w0 AS (
        |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |inc AS (
        |  SELECT doc_id + 100000 AS doc_id,
        |    array_to_string(w[1:len(w)-1], ' ') AS text
        |  FROM w0 WHERE len(w) >= 30),
        |shi AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(1, len(w) - 2)),
        |    i -> array_to_string(w[i:least(i + 2, len(w))], ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
        |        FROM inc)),
        |shc AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(1, len(w) - 2)),
        |    i -> array_to_string(w[i:least(i + 2, len(w))], ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
        |        FROM documents))
        |SELECT i.doc_id AS doc_a, c.doc_id AS doc_b,
        |  CAST(len(list_intersect(i.sh, c.sh)) AS DOUBLE) /
        |       len(list_distinct(list_concat(i.sh, c.sh))) AS jaccard
        |FROM shi i JOIN shc c ON
        |  CAST(len(list_intersect(i.sh, c.sh)) AS DOUBLE) /
        |  len(list_distinct(list_concat(i.sh, c.sh))) >= 0.5""".stripMargin,
    "ns_jaccard_pairs" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(1, len(w) - 2)),
        |    i -> array_to_string(w[i:least(i + 2, len(w))], ' '))) AS sh
        |  FROM w
        |  UNION ALL
        |  SELECT doc_id + 10000, list_distinct(list_transform(
        |    generate_series(1, greatest(1, least(20, len(w)) - 2)),
        |    i -> array_to_string(w[i:least(i + 2, least(20, len(w)))], ' ')))
        |  FROM w),
        |pairs AS (
        |  SELECT doc_id AS doc_a, doc_id + 10000 AS doc_b FROM documents
        |  UNION ALL
        |  SELECT a.doc_id, b.doc_id FROM documents a
        |  JOIN documents b ON b.doc_id = a.doc_id + 1)
        |SELECT p.doc_a, p.doc_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |       len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |FROM pairs p
        |JOIN sh a ON a.doc_id = p.doc_a
        |JOIN sh b ON b.doc_id = p.doc_b""".stripMargin,
    // Hamming verification half of simhash dedup over 60-bit fingerprints
    // both engines derive identically (first 15 hex chars of the md5 text
    // fingerprint)
    "ns_hamming_pairs" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 15)
        |         AS BIGINT) AS fp
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
        |FROM fp a JOIN fp b ON b.doc_id = a.doc_id + 1""".stripMargin,
    "ns_token_count" ->
      """SELECT doc_id,
        |  CASE WHEN trim(text) = '' THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  length(text) AS n_chars_computed
        |FROM documents""".stripMargin,
    "ns_corpus_merge" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents)
        |SELECT a.doc_id FROM fp a
        |WHERE a.doc_id % 3 <> 0
        |  AND NOT EXISTS (
        |    SELECT 1 FROM fp b WHERE b.doc_id % 3 = 0 AND b.fp = a.fp)""".stripMargin,
    // the ns_quality fragment grouped: per-doc q_score e4-rounded BEFORE
    // the sum, so the group mass is an exact integer on both engines
    "ns_dataset_card" ->
      """WITH f AS (
        |  SELECT doc_id, source, lang, text,
        |    CAST(length(text) AS DOUBLE) AS nc,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS nt,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS np,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is','it',
        |                 'that','for','on','with','as','at','by','be','this'))) AS DOUBLE) AS ns
        |  FROM documents),
        |g AS (
        |  SELECT source, lang, text,
        |    CAST(nt AS BIGINT) AS ntl, CAST(nc AS BIGINT) AS ncl,
        |    CASE WHEN nt = 0 THEN 0.0 ELSE nc / nt END AS mean_tok,
        |    CASE WHEN nc = 0 THEN 0.0 ELSE np / nc END AS punct_ratio,
        |    CASE WHEN nt = 0 THEN 0.0 ELSE ns / nt END AS stop_ratio
        |  FROM f),
        |q AS (
        |  SELECT source, lang, ntl, ncl,
        |    CAST(round(round(
        |      ((CASE WHEN mean_tok >= 3 AND mean_tok <= 12 THEN 1.0 ELSE 0.0 END)
        |     + (CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 0.0 END)
        |     + (CASE WHEN stop_ratio >= 0.05 THEN 1.0 ELSE 0.0 END)) / 3, 4)
        |      * 10000) AS BIGINT) AS q_e4,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM g)
        |SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(ntl) AS BIGINT) AS n_tokens,
        |  CAST(sum(ncl) AS BIGINT) AS n_chars,
        |  count(DISTINCT fp) AS n_unique,
        |  CAST(sum(q_e4) AS BIGINT) AS q_e4_sum
        |FROM q GROUP BY 1, 2""".stripMargin,
    "ns_corpus_diff_incoming" ->
      (nextSnapshotCte +
      """o AS (SELECT doc_id,
        |        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_old
        |      FROM documents),
        |n AS (SELECT doc_id,
        |        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_new
        |      FROM neu)
        |SELECT n.doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN o.fp_old IS NOT DISTINCT FROM n.fp_new THEN 'kept'
        |       ELSE 'changed' END AS status
        |FROM n LEFT JOIN o ON o.doc_id = n.doc_id""".stripMargin),
    // presence from JOIN-SIDE id nullness and a null-safe digest
    // compare — mirroring Dedup.corpusDiff's explicit presence flags,
    // so a null-text doc reads kept/changed/removed identically on
    // both engines (the misclassification corpusDiff's scaladoc warns
    // about must not survive in the pin)
    "ns_corpus_diff" ->
      (nextSnapshotCte +
      """o AS (SELECT doc_id,
        |        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_old
        |      FROM documents),
        |n AS (SELECT doc_id,
        |        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_new
        |      FROM neu)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.fp_old IS NOT DISTINCT FROM n.fp_new THEN 'kept'
        |       ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin),
    // session derivation as in the x_session_windows oracle (lag/gap in
    // epoch-µs), then a plain BETWEEN containment join
    "ns_range_join" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t_us FROM events),
        |m AS (
        |  SELECT user_id, t_us,
        |    CASE WHEN lag(t_us) OVER w IS NULL
        |           OR t_us - lag(t_us) OVER w > 30 * 60 * 1000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_us)),
        |s AS (
        |  SELECT user_id, t_us,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY t_us
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |sess AS (
        |  SELECT user_id, min(t_us) AS lo, max(t_us) + 30 * 60 * 1000000 AS hi
        |  FROM s GROUP BY user_id, sid)
        |SELECT e.user_id, e.t_us, sess.lo AS session_start_us
        |FROM e JOIN sess ON sess.user_id = e.user_id
        |  AND e.t_us >= sess.lo AND e.t_us <= sess.hi""".stripMargin,
    // ns_curation's CTE extended by the dedup keep-min and the hash-sample
    // predicate — the whole pipeline replayed in SQL
    "ns_pipeline_e2e" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    CAST(length(text) AS DOUBLE) AS nc,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS nt,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS np,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is','it',
        |                 'that','for','on','with','as','at','by','be','this'))) AS DOUBLE) AS ns,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','and','of','to','in','is','that','it','for','with'))) AS en,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('der','die','das','und','ist','nicht','ein','mit','auf','für'))) AS de,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('le','la','les','et','est','pas','une','dans','pour','que'))) AS fr,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('el','la','los','y','es','no','una','en','para','que'))) AS es
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, text, nt,
        |    round(((CASE WHEN (CASE WHEN nt = 0 THEN 0.0 ELSE nc / nt END) >= 3
        |                  AND (CASE WHEN nt = 0 THEN 0.0 ELSE nc / nt END) <= 12
        |             THEN 1.0 ELSE 0.0 END)
        |         + (CASE WHEN (CASE WHEN nc = 0 THEN 0.0 ELSE np / nc END) <= 0.1
        |             THEN 1.0 ELSE 0.0 END)
        |         + (CASE WHEN (CASE WHEN nt = 0 THEN 0.0 ELSE ns / nt END) >= 0.05
        |             THEN 1.0 ELSE 0.0 END)) / 3, 4) AS q_score,
        |    CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
        |         WHEN fr = greatest(en, de, fr, es) THEN 'fr'
        |         WHEN es = greatest(en, de, fr, es) THEN 'es'
        |         WHEN en = greatest(en, de, fr, es) THEN 'en'
        |         ELSE 'de' END AS lang_guess
        |  FROM f),
        |cur AS (
        |  SELECT doc_id, text, CAST(nt AS BIGINT) AS n_tokens FROM g
        |  WHERE q_score >= 0.5 AND lang_guess = 'en'),
        |k AS (
        |  SELECT min(doc_id) AS doc_id FROM cur
        |  GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |SELECT c.doc_id, c.n_tokens FROM cur c JOIN k USING (doc_id)
        |WHERE c.doc_id % 2147483647 * 2654435761 % 2147483647 * 2246822519 % 2147483647 / 2147483647.0 < 0.6""".stripMargin,
    "ns_shard_pack" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt
        |  FROM documents)
        |SELECT doc_id, source, CAST(nt AS BIGINT) AS n_tokens,
        |  CAST(floor((sum(nt) OVER (PARTITION BY source ORDER BY doc_id
        |         ROWS UNBOUNDED PRECEDING) - nt) / 2000.0) AS BIGINT) AS shard_id
        |FROM t""".stripMargin,
    "ns_rep_ngrams" ->
      """WITH s AS (
        |  SELECT doc_id, regexp_replace(text, '^\s+|\s+$', '', 'g') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    CASE WHEN t = '' THEN []::VARCHAR[]
        |         ELSE string_split_regex(regexp_replace(lower(t), '\s+', ' ', 'g'), ' ')
        |    END AS w
        |  FROM s)
        |SELECT doc_id,
        |  CASE WHEN len(w) < 2 THEN 0.0
        |       ELSE 1.0 - CAST(len(list_distinct(list_transform(
        |         generate_series(1, len(w) - 1),
        |         i -> array_to_string(w[i:i + 1], ' ')))) AS DOUBLE) / (len(w) - 1)
        |  END AS rep2,
        |  CASE WHEN len(w) < 3 THEN 0.0
        |       ELSE 1.0 - CAST(len(list_distinct(list_transform(
        |         generate_series(1, len(w) - 2),
        |         i -> array_to_string(w[i:i + 2], ' ')))) AS DOUBLE) / (len(w) - 2)
        |  END AS rep3
        |FROM w""".stripMargin,
    "ns_dup_stats" ->
      """SELECT source,
        |  count(*) AS n_docs,
        |  count(DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS n_unique,
        |  1.0 - CAST(count(DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS DOUBLE)
        |    / count(*) AS dup_ratio
        |FROM documents GROUP BY source""".stripMargin,
    "ns_heavy_terms" ->
      """SELECT term, count(*) AS doc_freq
        |FROM (SELECT unnest(list_distinct(list_filter(
        |         regexp_split_to_array(lower(text), '\W+'),
        |         x -> len(x) >= 3))) AS term
        |      FROM documents)
        |GROUP BY term
        |ORDER BY doc_freq DESC, term
        |LIMIT 25""".stripMargin,
    "ns_chunk" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE trim(text) <> ''),
        |x AS (
        |  SELECT doc_id, w,
        |    unnest(generate_series(0, (len(w) - 1) // 50)) AS i
        |  FROM d)
        |SELECT doc_id, i AS chunk_ix,
        |  array_to_string(w[i * 50 + 1 : i * 50 + 50], ' ') AS chunk_text,
        |  least(50, len(w) - i * 50) AS chunk_tokens
        |FROM x""".stripMargin,
    "ns_chunk_overlap" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE trim(text) <> ''),
        |x AS (
        |  SELECT doc_id, w,
        |    unnest(generate_series(0, (len(w) - 1) // 25)) AS i
        |  FROM d)
        |SELECT doc_id, i AS chunk_ix,
        |  array_to_string(w[i * 25 + 1 : i * 25 + 50], ' ') AS chunk_text,
        |  least(50, len(w) - i * 25) AS chunk_tokens
        |FROM x""".stripMargin,
    "ns_substring_overlap" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |aug AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 300000, text || ' quoted with appended commentary'
        |  FROM base),
        |w0 AS (
        |  SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |    ELSE string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
        |    END AS w
        |  FROM aug),
        |wins AS (
        |  SELECT DISTINCT doc_id,
        |    md5(array_to_string(w[i : i + 49], ' ')) AS wh
        |  FROM (SELECT doc_id, w,
        |          unnest(generate_series(1, greatest(1, len(w) - 49))) AS i
        |        FROM w0)
        |  WHERE len(w) > 0),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM wins a JOIN wins b USING (wh)
        |  WHERE a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, count(*) AS n_shared_windows
        |FROM pairs GROUP BY 1, 2""".stripMargin,
    "ns_winnow_pairs" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |aug AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 300000, text || ' quoted with appended commentary'
        |  FROM base),
        |w0 AS (
        |  SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |    ELSE string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
        |    END AS w
        |  FROM aug),
        |grams AS (
        |  SELECT doc_id, i, md5(array_to_string(w[i : i + 4], ' ')) AS fp
        |  FROM (SELECT doc_id, w,
        |          unnest(generate_series(1, greatest(1, len(w) - 4))) AS i
        |        FROM w0)
        |  WHERE len(w) > 0),
        |sel AS (
        |  SELECT DISTINCT doc_id, min(fp) OVER (
        |      PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |  FROM grams),
        |capped AS (
        |  SELECT fp FROM (SELECT fp, count(*) AS c FROM sel GROUP BY 1)
        |  WHERE c <= 100),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sel a JOIN sel b USING (fp)
        |  WHERE a.doc_id < b.doc_id AND fp IN (SELECT fp FROM capped))
        |SELECT doc_a, doc_b, count(*) AS n_shared_fps
        |FROM pairs GROUP BY 1, 2""".stripMargin,
    // the cross-slice replay: corpus-side sketch capped at 100 (the
    // artifact build cap), incoming side uncapped, join on fp
    "ns_winnow_incoming" -> winnowIncomingOracle,
    // append-then-serve must replay IDENTICALLY to the
    // build-on-everything index — same oracle, verbatim
    "ns_winnow_append" -> winnowIncomingOracle,
    // build-on-(corpus ∪ slice) + remove-slice must serve the
    // corpus-only index — same oracle as incoming/append
    "ns_winnow_remove" -> winnowIncomingOracle,
    "ns_substring_remove" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |aug AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 300000, text || ' quoted with appended commentary'
        |  FROM base),
        |w0 AS (
        |  SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |    ELSE string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
        |    END AS w
        |  FROM aug),
        |wins AS (
        |  SELECT doc_id, i, md5(array_to_string(w[i : i + 49], ' ')) AS wh,
        |    least(50, len(w) - i + 1) AS wlen
        |  FROM (SELECT doc_id, w,
        |          unnest(generate_series(1, greatest(1, len(w) - 49))) AS i
        |        FROM w0)
        |  WHERE len(w) > 0),
        |stats AS (
        |  SELECT wh, min(doc_id) AS min_doc, count(DISTINCT doc_id) AS n_docs
        |  FROM wins GROUP BY 1),
        |flagged AS (
        |  SELECT doc_id, i, wlen FROM wins JOIN stats USING (wh)
        |  WHERE n_docs <= 1000 AND min_doc < doc_id),
        |covered AS (
        |  SELECT DISTINCT doc_id, pos FROM (
        |    SELECT doc_id, unnest(generate_series(i, i + wlen - 1)) AS pos
        |    FROM flagged)),
        |toks AS (
        |  SELECT doc_id, i AS pos, w[i] AS tok
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
        |        FROM w0 WHERE len(w) > 0)),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.tok FROM toks t
        |  LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
        |  WHERE c.pos IS NULL),
        |rebuilt AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    md5(string_agg(tok, ' ' ORDER BY pos)) AS text_md5
        |  FROM kept GROUP BY 1)
        |SELECT w0.doc_id, len(w0.w) AS n_tokens,
        |  len(w0.w) - coalesce(r.n_kept, 0) AS n_removed,
        |  coalesce(r.text_md5, md5('')) AS text_md5
        |FROM w0 LEFT JOIN rebuilt r USING (doc_id)""".stripMargin,
    "ns_decontam_remove" ->
      """WITH cw AS (
        |  SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |    ELSE string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
        |    END AS w
        |  FROM documents WHERE doc_id % 97 <> 0),
        |bw AS (
        |  SELECT CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |    ELSE string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
        |    END AS w
        |  FROM documents WHERE doc_id % 97 = 0),
        |cwin AS (
        |  SELECT doc_id, i, md5(array_to_string(w[i : i + 12], ' ')) AS wh,
        |    least(13, len(w) - i + 1) AS wlen
        |  FROM (SELECT doc_id, w,
        |          unnest(generate_series(1, greatest(1, len(w) - 12))) AS i
        |        FROM cw)
        |  WHERE len(w) > 0),
        |bwh AS (
        |  SELECT DISTINCT md5(array_to_string(w[i : i + 12], ' ')) AS wh
        |  FROM (SELECT w,
        |          unnest(generate_series(1, greatest(1, len(w) - 12))) AS i
        |        FROM bw)
        |  WHERE len(w) > 0),
        |flagged AS (
        |  SELECT doc_id, i, wlen FROM cwin
        |  WHERE wh IN (SELECT wh FROM bwh)),
        |covered AS (
        |  SELECT DISTINCT doc_id, pos FROM (
        |    SELECT doc_id, unnest(generate_series(i, i + wlen - 1)) AS pos
        |    FROM flagged)),
        |toks AS (
        |  SELECT doc_id, i AS pos, w[i] AS tok
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
        |        FROM cw WHERE len(w) > 0)),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.tok FROM toks t
        |  LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
        |  WHERE c.pos IS NULL),
        |rebuilt AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    md5(string_agg(tok, ' ' ORDER BY pos)) AS text_md5
        |  FROM kept GROUP BY 1)
        |SELECT cw.doc_id, len(cw.w) AS n_tokens,
        |  len(cw.w) - coalesce(r.n_kept, 0) AS n_removed,
        |  coalesce(r.text_md5, md5('')) AS text_md5
        |FROM cw LEFT JOIN rebuilt r USING (doc_id)""".stripMargin,
    "ns_dup_lines" ->
      """WITH aug AS (
        |  SELECT doc_id, text || chr(10) || 'Repeat Me' || chr(10)
        |    || 'repeat  me' || chr(10) || 'unique tail ' || doc_id AS text
        |  FROM documents),
        |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM aug),
        |lines AS (
        |  SELECT doc_id, l[i] AS raw,
        |    regexp_replace(lower(trim(l[i])), '\s+', ' ', 'g') AS norm
        |  FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i
        |        FROM l0)),
        |per AS (
        |  SELECT doc_id, norm, count(*) AS cnt,
        |    sum(length(raw)) AS chars, max(length(raw)) AS maxchars
        |  FROM lines WHERE norm <> '' GROUP BY 1, 2),
        |roll AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_lines,
        |    CAST(sum(cnt - 1) AS BIGINT) AS dup_lines,
        |    CAST(sum(chars - maxchars) AS BIGINT) AS dup_chars
        |  FROM per GROUP BY 1)
        |SELECT a.doc_id, coalesce(r.n_lines, 0) AS n_lines,
        |  coalesce(r.dup_lines, 0) AS dup_lines,
        |  coalesce(r.dup_chars, 0) AS dup_chars
        |FROM aug a LEFT JOIN roll r ON r.doc_id = a.doc_id""".stripMargin,
    "ns_line_dedup" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    'shared boilerplate header' || chr(10) || text || chr(10)
        |      || 'id line ' || doc_id AS text
        |  FROM documents),
        |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM aug),
        |lines AS (
        |  SELECT doc_id, i AS ix, l[i] AS raw,
        |    regexp_replace(lower(trim(l[i])), '\s+', ' ', 'g') AS norm
        |  FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i
        |        FROM l0)),
        |dfreq AS (
        |  SELECT norm, count(DISTINCT doc_id) AS df FROM lines
        |  WHERE norm <> '' GROUP BY 1),
        |boiler AS (SELECT norm FROM dfreq WHERE df > 10),
        |kept AS (
        |  SELECT doc_id, ix, raw FROM lines
        |  WHERE norm = '' OR norm NOT IN (SELECT norm FROM boiler)),
        |reb AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    md5(string_agg(raw, chr(10) ORDER BY ix)) AS text_md5
        |  FROM kept GROUP BY 1)
        |SELECT l0.doc_id, len(l0.l) AS n_lines,
        |  coalesce(r.n_kept, 0) AS n_kept,
        |  coalesce(r.text_md5, md5('')) AS text_md5
        |FROM l0 LEFT JOIN reb r USING (doc_id)""".stripMargin,
    "ns_line_dedup_serve" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    'shared boilerplate header' || chr(10) || text || chr(10)
        |      || 'id line ' || doc_id AS text
        |  FROM documents),
        |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM aug),
        |lines AS (
        |  SELECT doc_id, regexp_replace(lower(trim(l[i])), '\s+', ' ', 'g') AS norm
        |  FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i
        |        FROM l0)),
        |dfreq AS (
        |  SELECT norm, count(DISTINCT doc_id) AS df FROM lines
        |  WHERE norm <> '' GROUP BY 1),
        |boiler AS (SELECT norm FROM dfreq WHERE df > 10),
        |inc AS (
        |  SELECT doc_id + 500000 AS doc_id,
        |    'shared boilerplate header' || chr(10) || text || chr(10)
        |      || 'breaking news repeated banner' || chr(10)
        |      || 'fresh line ' || doc_id AS text
        |  FROM documents WHERE doc_id < 100),
        |il0 AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM inc),
        |ilines AS (
        |  SELECT doc_id, i AS ix, l[i] AS raw,
        |    regexp_replace(lower(trim(l[i])), '\s+', ' ', 'g') AS norm
        |  FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i
        |        FROM il0)),
        |kept AS (
        |  SELECT doc_id, ix, raw FROM ilines
        |  WHERE norm NOT IN (SELECT norm FROM boiler)),
        |reb AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    md5(string_agg(raw, chr(10) ORDER BY ix)) AS text_md5
        |  FROM kept GROUP BY 1)
        |SELECT il0.doc_id, len(il0.l) AS n_lines,
        |  coalesce(r.n_kept, 0) AS n_kept,
        |  coalesce(r.text_md5, md5('')) AS text_md5
        |FROM il0 LEFT JOIN reb r USING (doc_id)""".stripMargin,
    "ns_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) >= 3)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, term,
        |    CAST(round(tf * ln(CAST(n.n AS DOUBLE) / df) * 10000) AS BIGINT) AS s_e4
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY s_e4 DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, term, rank FROM ranked
        |WHERE rank <= 3 AND doc_id < 100""".stripMargin,
    // k-means: the two Lloyd iterations unrolled as CTE pairs; all
    // arithmetic in the same quantized-integer domain as Ivf.lloydStepQ
    // (BIGINT distances, round(sum/count) centroid updates), argmin via
    // row_number ordered (dist2, cell) = Spark's first-min array_position
    "ns_kmeans_refine" ->
      """WITH qv AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
        |  FROM embeddings),
        |c0 AS (SELECT vec_id AS cell, q AS qc FROM qv WHERE vec_id < 4),
        |d1 AS (
        |  SELECT v.vec_id, c.cell,
        |    list_sum(list_transform(range(1, 65),
        |      i -> (v.q[i] - c.qc[i]) * (v.q[i] - c.qc[i]))) AS dist2
        |  FROM qv v CROSS JOIN c0 c),
        |a1 AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id
        |                         ORDER BY dist2, cell) AS rn
        |    FROM d1) WHERE rn = 1),
        |s1 AS (
        |  SELECT a1.cell, g.pos, sum(v.q[g.pos]) AS s, count(*) AS n
        |  FROM a1 JOIN qv v USING (vec_id)
        |  CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) g
        |  GROUP BY 1, 2),
        |u1 AS (
        |  SELECT cell, list(CAST(round(CAST(s AS DOUBLE) / n) AS BIGINT)
        |                    ORDER BY pos) AS qc
        |  FROM s1 GROUP BY 1),
        |c1 AS (
        |  SELECT c0.cell, coalesce(u1.qc, c0.qc) AS qc
        |  FROM c0 LEFT JOIN u1 USING (cell)),
        |d2 AS (
        |  SELECT v.vec_id, c.cell,
        |    list_sum(list_transform(range(1, 65),
        |      i -> (v.q[i] - c.qc[i]) * (v.q[i] - c.qc[i]))) AS dist2
        |  FROM qv v CROSS JOIN c1 c),
        |a2 AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id
        |                         ORDER BY dist2, cell) AS rn
        |    FROM d2) WHERE rn = 1),
        |s2 AS (
        |  SELECT a2.cell, g.pos, sum(v.q[g.pos]) AS s, count(*) AS n
        |  FROM a2 JOIN qv v USING (vec_id)
        |  CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) g
        |  GROUP BY 1, 2),
        |u2 AS (
        |  SELECT cell, list(CAST(round(CAST(s AS DOUBLE) / n) AS BIGINT)
        |                    ORDER BY pos) AS qc
        |  FROM s2 GROUP BY 1),
        |c2 AS (
        |  SELECT c1.cell, coalesce(u2.qc, c1.qc) AS qc
        |  FROM c1 LEFT JOIN u2 USING (cell)),
        |df AS (
        |  SELECT v.vec_id, c.cell,
        |    list_sum(list_transform(range(1, 65),
        |      i -> (v.q[i] - c.qc[i]) * (v.q[i] - c.qc[i]))) AS dist2
        |  FROM qv v CROSS JOIN c2 c)
        |SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY vec_id
        |                       ORDER BY dist2, cell) AS rn
        |  FROM df) WHERE rn = 1""".stripMargin,
    "ns_probe_train" ->
      (probeTrainCtes + "SELECT CAST(pos AS BIGINT) AS pos, w FROM w2"),
    "ns_probe_serve" ->
      (probeTrainCtes +
        """,
          |wl2 AS (SELECT list(w ORDER BY pos) AS wl FROM w2),
          |sc AS (
          |  SELECT v.vec_id,
          |    CAST(list_sum(list_transform(range(1, 65),
          |      i -> v.q[i] * w.wl[i])) AS BIGINT) AS score_q
          |  FROM qv v CROSS JOIN wl2 w)
          |SELECT vec_id, score_q,
          |  CASE WHEN score_q >= 0 THEN 1 ELSE 0 END AS pred
          |FROM sc""".stripMargin),
    "ns_bm25" -> bm25OracleSql,
    "ns_bm25_serve" -> bm25OracleSql,
    "ns_quantize_embed" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(x))) AS m
        |  FROM embeddings),
        |qv AS (
        |  SELECT vec_id, m,
        |    CASE WHEN m = 0
        |      THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |      ELSE list_transform(embedding,
        |             x -> CAST(round(x * 127.0 / m) AS BIGINT)) END AS qv
        |  FROM m)
        |SELECT vec_id,
        |  CAST(round(CAST(m AS DOUBLE) * 1000000) AS BIGINT) AS maxabs_e6,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS q_sqsum
        |FROM qv""".stripMargin,
    "ns_unigram_lm" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) >= 1)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |c AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY 1),
        |tot AS (SELECT sum(cnt) AS total FROM c),
        |doc AS (
        |  SELECT doc_id, sum(tf) AS n_tokens,
        |    sum(tf * ln(CAST(cnt AS DOUBLE) / total)) / sum(tf) AS mean_lp
        |  FROM tf JOIN c USING (term) CROSS JOIN tot GROUP BY doc_id),
        |ranked AS (
        |  SELECT doc_id, n_tokens, row_number() OVER (
        |    ORDER BY CAST(round(mean_lp * 10000) AS BIGINT), doc_id) AS rank
        |  FROM doc)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, rank
        |FROM ranked WHERE rank <= 20""".stripMargin,
    "ns_embed_probe" ->
      s"""WITH s AS (
        |  SELECT vec_id,
        |    CAST(round(list_cosine_similarity(embedding,
        |      $probeVecSql) * 10000) AS BIGINT) AS score_e4
        |  FROM embeddings)
        |SELECT vec_id, score_e4, CAST(score_e4 >= 500 AS INT) AS pred
        |FROM s""".stripMargin,
    "ns_redact_pii" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com at https://ex.com/d/' || CAST(doc_id AS VARCHAR)
        |      || ' or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
        |    'https?://\S+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9\-]{6,}[0-9]', '<PHONE>', 'g') AS clean_text
        |FROM documents""".stripMargin,
    "ns_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE doc_id % 2147483647 * 2654435761 % 2147483647 * 2246822519 % 2147483647 / 2147483647.0 <
        |  CASE WHEN lang = 'en' THEN 0.5
        |       WHEN lang = 'zh' THEN 0.3 ELSE 0.1 END""".stripMargin,
    "ns_split_assign" ->
      """SELECT doc_id, lang,
        |  CASE WHEN h < 0.9 THEN 'train'
        |       WHEN h < 0.95 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, lang,
        |        doc_id % 2147483647 * 2654435761 % 2147483647 * 2246822519 % 2147483647 / 2147483647.0 AS h
        |      FROM documents)""".stripMargin,
    // rate_l = sqrt(cmin / c_l): both engines compute the identical
    // correctly-rounded double, and the hash unit is exact rational
    // arithmetic, so the kept set matches bit-for-bit
    "ns_sample_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
        |m AS (SELECT min(c) AS cmin FROM c),
        |r AS (SELECT lang, sqrt(CAST(cmin AS DOUBLE) / c) AS rate
        |      FROM c CROSS JOIN m)
        |SELECT doc_id, lang FROM documents JOIN r USING (lang)
        |WHERE doc_id % 2147483647 * 2654435761 % 2147483647 * 2246822519 % 2147483647 / 2147483647.0 < rate""".stripMargin,
    "ns_epoch_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    (doc_id + 7) % 2147483647 * 2654435761 % 2147483647
        |      * 2246822519 % 2147483647 AS h
        |  FROM documents)
        |SELECT doc_id, h % 8 AS bucket,
        |  row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
        |FROM h""".stripMargin,
    // threshold = k-th smallest token count (k = ceil(n/10)) via the
    // cumulative value histogram; keep strictly above it — identical
    // integer arithmetic on both sides
    "ns_length_floor" ->
      """WITH q AS (
        |  SELECT doc_id, lang,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |      AS BIGINT) AS n_tokens
        |  FROM documents),
        |h AS (SELECT n_tokens AS v, count(*) AS c FROM q GROUP BY 1),
        |cum AS (
        |  SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
        |         sum(c) OVER () AS n
        |  FROM h),
        |thr AS (SELECT min(v) AS thr FROM cum WHERE cum * 10 >= n)
        |SELECT lang, count(*) AS n_kept, min(n_tokens) AS min_tokens
        |FROM q CROSS JOIN thr WHERE n_tokens > thr
        |GROUP BY lang""".stripMargin,
    // same shard window as ns_shard_pack; packed payload compared by
    // md5 over the identical doc_id-ordered concatenation
    "ns_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, source, text,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, source, text, nt,
        |    CAST(floor((sum(nt) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS UNBOUNDED PRECEDING) - nt) / 2000.0) AS BIGINT) AS shard_id
        |  FROM t)
        |SELECT source, shard_id, count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS shard_tokens,
        |  CAST(length(string_agg(text, ' <eot> ' ORDER BY doc_id)) AS INT)
        |    AS packed_chars,
        |  md5(string_agg(text, ' <eot> ' ORDER BY doc_id)) AS packed_md5
        |FROM sh GROUP BY source, shard_id""".stripMargin,
    // same shingle construction as the ns_jaccard_pairs oracle; benchmark
    // slice = doc_id % 97 = 0, overlap counted on distinct shared grams
    "ns_decontam" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(1, len(w) - 2)),
        |    i -> array_to_string(w[i:least(i + 2, len(w))], ' '))) AS sh
        |  FROM w),
        |bg AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 97 = 0),
        |cg AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 97 <> 0),
        |hits AS (
        |  SELECT cg.doc_id, count(DISTINCT cg.g) AS n
        |  FROM cg JOIN bg USING (g) GROUP BY cg.doc_id)
        |SELECT d.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_shared
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |WHERE d.doc_id % 97 <> 0""".stripMargin,
    "ns_quality" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS DOUBLE) AS nc,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS nt,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS np,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is','it',
        |                 'that','for','on','with','as','at','by','be','this'))) AS DOUBLE) AS ns
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, nc, nt,
        |    CASE WHEN nt = 0 THEN 0.0 ELSE nc / nt END AS mean_tok,
        |    CASE WHEN nc = 0 THEN 0.0 ELSE np / nc END AS punct_ratio,
        |    CASE WHEN nt = 0 THEN 0.0 ELSE ns / nt END AS stop_ratio
        |  FROM f)
        |SELECT doc_id, CAST(nc AS BIGINT) AS q_chars, CAST(nt AS BIGINT) AS q_tokens,
        |  round(punct_ratio, 4) AS q_punct_ratio,
        |  round(((CASE WHEN mean_tok >= 3 AND mean_tok <= 12 THEN 1.0 ELSE 0.0 END)
        |       + (CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 0.0 END)
        |       + (CASE WHEN stop_ratio >= 0.05 THEN 1.0 ELSE 0.0 END)) / 3, 4) AS q_score
        |FROM g""".stripMargin,
    // end-to-end near-dup collapse: same derived corpus as the Spark query;
    // pair set = exact word-3-gram Jaccard >= 0.5 (identical to what LSH +
    // exact verification yields on this corpus — the measured pair-j
    // distribution is empty on [0.07, 0.9)); clusters = min label over the
    // transitive closure (recursive CTE; components are small near-dup
    // groups, so the closure is tiny)
    "ns_neardup_collapse" ->
      """WITH RECURSIVE
        |w0 AS (
        |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |corpus AS (
        |  SELECT doc_id, text FROM w0
        |  UNION ALL
        |  SELECT doc_id + 100000, array_to_string(w[1:len(w)-1], ' ')
        |  FROM w0 WHERE len(w) >= 30),
        |wrd AS (
        |  SELECT doc_id,
        |    string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
        |  FROM corpus),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(1, len(w) - 2)),
        |    i -> array_to_string(w[i:least(i + 2, len(w))], ' '))) AS sh
        |  FROM wrd),
        |pairs AS (
        |  SELECT a.doc_id AS pa, b.doc_id AS pb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT pa, pb FROM pairs UNION SELECT pb, pa FROM pairs),
        |reach AS (
        |  SELECT doc_id AS id, doc_id AS r FROM corpus
        |  UNION
        |  SELECT reach.id, e.pb FROM reach JOIN edges e ON e.pa = reach.r),
        |lbl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT c.doc_id, l.cluster_id, c.doc_id = l.cluster_id AS is_keeper
        |FROM corpus c JOIN lbl l ON l.id = c.doc_id""".stripMargin,
    // the flat all-pairs collapse the single-cell SemDeDup must equal:
    // exact e4-integer cosine pairs on the bounded subset, recursive-CTE
    // reachability, keep-min labels (the ns_neardup_collapse pattern)
    "ns_semdedup_exact" ->
      """WITH RECURSIVE
        |e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
        |pairs AS (
        |  SELECT a.vec_id AS pa, b.vec_id AS pb
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE CAST(round(list_cosine_similarity(a.embedding, b.embedding)
        |        * 10000) AS BIGINT) >= 3000),
        |edges AS (SELECT pa, pb FROM pairs UNION SELECT pb, pa FROM pairs),
        |reach AS (
        |  SELECT vec_id AS id, vec_id AS r FROM e
        |  UNION
        |  SELECT reach.id, g.pb FROM reach JOIN edges g ON g.pa = reach.r),
        |lbl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT e.vec_id, l.cluster_id, e.vec_id = l.cluster_id AS is_keeper
        |FROM e JOIN lbl l ON l.id = e.vec_id""".stripMargin,
    // curation-chain semantic keep-best: recursive-CTE cluster labels
    // (the ns_semdedup_exact collapse) + the ns_quality score fragment
    // feeding the keeper window, keepers then quality-gated
    "ns_curation_semantic" ->
      """WITH RECURSIVE
        |e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
        |pairs AS (
        |  SELECT a.vec_id AS pa, b.vec_id AS pb
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE CAST(round(list_cosine_similarity(a.embedding, b.embedding)
        |        * 10000) AS BIGINT) >= 3000),
        |edges AS (SELECT pa, pb FROM pairs UNION SELECT pb, pa FROM pairs),
        |reach AS (
        |  SELECT vec_id AS id, vec_id AS r FROM e
        |  UNION
        |  SELECT reach.id, g.pb FROM reach JOIN edges g ON g.pa = reach.r),
        |lbl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |f AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS DOUBLE) AS nc,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS nt,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS np,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is','it',
        |                 'that','for','on','with','as','at','by','be','this'))) AS DOUBLE) AS ns
        |  FROM documents WHERE doc_id < 200),
        |q AS (
        |  SELECT doc_id,
        |    round(((CASE WHEN (CASE WHEN nt = 0 THEN 0.0 ELSE nc / nt END) >= 3
        |              AND (CASE WHEN nt = 0 THEN 0.0 ELSE nc / nt END) <= 12
        |              THEN 1.0 ELSE 0.0 END)
        |         + (CASE WHEN (CASE WHEN nc = 0 THEN 0.0 ELSE np / nc END) <= 0.1
        |              THEN 1.0 ELSE 0.0 END)
        |         + (CASE WHEN (CASE WHEN nt = 0 THEN 0.0 ELSE ns / nt END) >= 0.05
        |              THEN 1.0 ELSE 0.0 END)) / 3, 4) AS q_score
        |  FROM f),
        |ranked AS (
        |  SELECT q.doc_id, l.cluster_id, q.q_score,
        |    row_number() OVER (PARTITION BY l.cluster_id
        |      ORDER BY q.q_score DESC, q.doc_id) AS rnk
        |  FROM q JOIN lbl l ON l.id = q.doc_id)
        |SELECT doc_id, cluster_id, q_score
        |FROM ranked WHERE rnk = 1 AND q_score >= 0.3""".stripMargin,
    // keep-best replay: same recursive-CTE labels, keeper re-derived as
    // the max-(vec_id % 7) member per cluster (tie -> lowest id)
    "ns_semdedup_keep_best" ->
      """WITH RECURSIVE
        |e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
        |pairs AS (
        |  SELECT a.vec_id AS pa, b.vec_id AS pb
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE CAST(round(list_cosine_similarity(a.embedding, b.embedding)
        |        * 10000) AS BIGINT) >= 3000),
        |edges AS (SELECT pa, pb FROM pairs UNION SELECT pb, pa FROM pairs),
        |reach AS (
        |  SELECT vec_id AS id, vec_id AS r FROM e
        |  UNION
        |  SELECT reach.id, g.pb FROM reach JOIN edges g ON g.pa = reach.r),
        |lbl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |ranked AS (
        |  SELECT e.vec_id, l.cluster_id,
        |    row_number() OVER (PARTITION BY l.cluster_id
        |      ORDER BY (e.vec_id % 7) DESC, e.vec_id) AS rnk
        |  FROM e JOIN lbl l ON l.id = e.vec_id)
        |SELECT vec_id, cluster_id, rnk = 1 AS is_keeper
        |FROM ranked""".stripMargin,
    "ns_knn_brute" -> BruteKnnOracleSql,
    // identical to the ns_knn_brute oracle: one-bucket LSH must equal
    // brute force
    "ns_knn_lsh_exhaustive" -> BruteKnnOracleSql,
    // recall tripwires: DuckDB replays the brute-force side (n_queries)
    // and pins the deterministic ANN hit count observed at sf0.01 — the
    // Spark side recomputes it from the live LSH/IVF plumbing, so any
    // drift in plane seeding / bucketing / probing moves n_hits and
    // fails the hash compare. The pinned constant is sf0.01-specific
    // (the driver's correctness sf); smoke runs at other sf don't
    // evaluate oracles.
    "ns_knn_lsh_recall" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid AS query_id,
        |             row_number() OVER (PARTITION BY q.qid
        |               ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC,
        |                        e.vec_id) AS rnk
        |      FROM q, embeddings e WHERE e.vec_id != q.qid)
        |SELECT count(DISTINCT query_id) AS n_queries,
        |       CAST(29 AS BIGINT) AS n_hits
        |FROM s WHERE rnk <= 10""".stripMargin,
    // λ=1 MMR ≡ brute-force top-k: rnk exposed under the MMR schema
    "ns_mmr_relevance" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
        |             list_cosine_similarity(q.qv, e.embedding) AS sim
        |      FROM q, embeddings e WHERE e.vec_id != q.qid),
        |r AS (SELECT query_id, neighbor_id,
        |             row_number() OVER (PARTITION BY query_id
        |                                ORDER BY sim DESC, neighbor_id) AS rnk
        |      FROM s)
        |SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS mmr_rank
        |FROM r WHERE rnk <= 10""".stripMargin,
    // multi-probe must beat plain LSH's 29 at the same planes/tables —
    // the pinned constant IS that claim
    "ns_knn_lsh_multiprobe_recall" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid AS query_id,
        |             row_number() OVER (PARTITION BY q.qid
        |               ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC,
        |                        e.vec_id) AS rnk
        |      FROM q, embeddings e WHERE e.vec_id != q.qid)
        |SELECT count(DISTINCT query_id) AS n_queries,
        |       CAST(46 AS BIGINT) AS n_hits
        |FROM s WHERE rnk <= 10""".stripMargin,
    "ns_knn_ivf_recall" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid AS query_id,
        |             row_number() OVER (PARTITION BY q.qid
        |               ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC,
        |                        e.vec_id) AS rnk
        |      FROM q, embeddings e WHERE e.vec_id != q.qid)
        |SELECT count(DISTINCT query_id) AS n_queries,
        |       CAST(33 AS BIGINT) AS n_hits
        |FROM s WHERE rnk <= 10""".stripMargin,
    // the √N-cells/√nCells-probes auto path: 30/50 vs the fixed rows'
    // 33/50 at a 23% scan fraction instead of 37.5% — the recall/cost
    // point the auto rule buys; at corpus scale the fixed rule's
    // fraction stays constant (unaffordable) while auto's shrinks
    "ns_knn_ivf_auto_recall" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid AS query_id,
        |             row_number() OVER (PARTITION BY q.qid
        |               ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC,
        |                        e.vec_id) AS rnk
        |      FROM q, embeddings e WHERE e.vec_id != q.qid)
        |SELECT count(DISTINCT query_id) AS n_queries,
        |       CAST(30 AS BIGINT) AS n_hits
        |FROM s WHERE rnk <= 10""".stripMargin,
    // exact screen+confirm identity: one trivial cell + unbounded screen
    // margin reduce the ADC path to the flat exact threshold join
    "ns_ann_incoming_exact" ->
      """WITH inc AS (SELECT vec_id + 100000 AS incoming_id, embedding AS qv
        |            FROM embeddings WHERE vec_id < 100),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv
        |      FROM embeddings WHERE vec_id < 500)
        |SELECT incoming_id, neighbor_id, sim_e4 FROM (
        |  SELECT incoming_id, neighbor_id,
        |    CAST(round(list_cosine_similarity(qv, cv) * 10000) AS BIGINT) AS sim_e4
        |  FROM inc, c)
        |WHERE sim_e4 >= 3500""".stripMargin,
    // the JL projection replayed from the literal integer matrix: the
    // VALUES table is generated from the SAME jlMatrixQ the Spark side
    // uses, so matrix, quantization, and dot products are all
    // integer-exact on both engines
    "ns_rand_proj" -> {
      val w = graft.northstar.Similarity.jlMatrixQ(64, 16)
      val values = w.indices.flatMap(j =>
        w(j).indices.map(i => s"($j,$i,${w(j)(i)})")).mkString(",")
      s"""WITH m(j, i, w) AS (VALUES $values),
         |e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         |             unnest(embedding) AS x
         |      FROM embeddings)
         |SELECT e.vec_id, m.j,
         |       CAST(SUM(CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) * m.w) AS BIGINT) AS dot_q
         |FROM e JOIN m ON m.i = e.i
         |GROUP BY e.vec_id, m.j""".stripMargin
    },
    // identical to the ns_knn_brute oracle: exhaustive probing with an
    // unbounded rerank must equal brute force regardless of codebook
    // quality (the re-rank is exact over the full candidate set)
    "ns_knn_ivfpq_exhaustive" -> BruteKnnOracleSql,
    // identical to the ns_knn_brute oracle: hierarchical coarse + PQ
    // codes + unbounded exact rerank must reproduce brute force
    "ns_knn_ivfpq_hier_exhaustive" -> BruteKnnOracleSql,
    "ns_knn_jl_recall" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid AS query_id,
        |             row_number() OVER (PARTITION BY q.qid
        |               ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC,
        |                        e.vec_id) AS rnk
        |      FROM q, embeddings e WHERE e.vec_id != q.qid)
        |SELECT count(DISTINCT query_id) AS n_queries,
        |       CAST(6 AS BIGINT) AS n_hits
        |FROM s WHERE rnk <= 10""".stripMargin,
    "ns_knn_ivfpq_recall" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid AS query_id,
        |             row_number() OVER (PARTITION BY q.qid
        |               ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC,
        |                        e.vec_id) AS rnk
        |      FROM q, embeddings e WHERE e.vec_id != q.qid)
        |SELECT count(DISTINCT query_id) AS n_queries,
        |       CAST(22 AS BIGINT) AS n_hits
        |FROM s WHERE rnk <= 10""".stripMargin,
    // at the 500-row oracle corpus autoRerank/autoKsub resolve to the
    // contract base (rerank=30, ksub=16), so the auto row pins the SAME
    // n_hits as ns_knn_ivfpq_recall — the formula anchors exactly at
    // base scale (its scale behavior is ScaleProbe-asserted at 2k/10k)
    "ns_knn_ivfpq_auto_recall" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid AS query_id,
        |             row_number() OVER (PARTITION BY q.qid
        |               ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC,
        |                        e.vec_id) AS rnk
        |      FROM q, embeddings e WHERE e.vec_id != q.qid)
        |SELECT count(DISTINCT query_id) AS n_queries,
        |       CAST(22 AS BIGINT) AS n_hits
        |FROM s WHERE rnk <= 10""".stripMargin,
    // the ksub=64/rerank=100 retune: 33 > the 22 of the row above — the
    // corpus-growth settings must also dominate at the oracle corpus
    "ns_knn_ivfpq_tuned_recall" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid AS query_id,
        |             row_number() OVER (PARTITION BY q.qid
        |               ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC,
        |                        e.vec_id) AS rnk
        |      FROM q, embeddings e WHERE e.vec_id != q.qid)
        |SELECT count(DISTINCT query_id) AS n_queries,
        |       CAST(33 AS BIGINT) AS n_hits
        |FROM s WHERE rnk <= 10""".stripMargin,
    // the hierarchical family under PARTIAL probing (2/6 supercells,
    // 5/24 cells — VERDICT r16 task 1): 20/50 pins the approximation
    // quality of the scale-serving shape; the exhaustive hier rows are
    // exact by construction and would pass a probe-ordering regression
    "ns_knn_ivf_hier_recall" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid AS query_id,
        |             row_number() OVER (PARTITION BY q.qid
        |               ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC,
        |                        e.vec_id) AS rnk
        |      FROM q, embeddings e WHERE e.vec_id != q.qid)
        |SELECT count(DISTINCT query_id) AS n_queries,
        |       CAST(20 AS BIGINT) AS n_hits
        |FROM s WHERE rnk <= 10""".stripMargin,
    // same partial-probe configuration through the IVF-PQ ADC+rerank
    // tail: 18/50 — two hits under the raw-vector row, the PQ
    // approximation's price at rerank=30
    "ns_knn_ivfpq_hier_recall" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid AS query_id,
        |             row_number() OVER (PARTITION BY q.qid
        |               ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC,
        |                        e.vec_id) AS rnk
        |      FROM q, embeddings e WHERE e.vec_id != q.qid)
        |SELECT count(DISTINCT query_id) AS n_queries,
        |       CAST(18 AS BIGINT) AS n_hits
        |FROM s WHERE rnk <= 10""".stripMargin,
    // identical to the ns_knn_brute oracle: exhaustive probing must equal
    // brute force
    "ns_knn_ivf_exhaustive" -> BruteKnnOracleSql,
    // identical to the ns_knn_brute oracle: the hierarchical
    // broadcast-relation family under full supercell probing must
    // reproduce brute force rank-exactly — fit-and-search path
    "ns_knn_ivf_hier_exhaustive" -> BruteKnnOracleSql,
    // ... and the stored-index serve path of the same family
    "ns_knn_ivf_hier_serve_exhaustive" -> BruteKnnOracleSql,
    // identical to the ns_knn_brute oracle: the STORED-CELLS
    // (three-level) family — distributed fit, cells as a parquet
    // relation — under full supercell probing must reproduce brute
    // force rank-exactly; fit-and-search, serve, and PQ-codes paths
    "ns_knn_ivf_stored_exhaustive" -> BruteKnnOracleSql,
    "ns_knn_ivf_stored_serve_exhaustive" -> BruteKnnOracleSql,
    "ns_knn_ivfpq_stored_exhaustive" -> BruteKnnOracleSql,
    // the stored configuration through the IVF-PQ ADC+rerank tail at
    // partial probing: the PQ approximation's price on top of the
    // ns_knn_ivf_stored_recall constant
    "ns_knn_ivfpq_stored_recall" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid AS query_id,
        |             row_number() OVER (PARTITION BY q.qid
        |               ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC,
        |                        e.vec_id) AS rnk
        |      FROM q, embeddings e WHERE e.vec_id != q.qid)
        |SELECT count(DISTINCT query_id) AS n_queries,
        |       CAST(26 AS BIGINT) AS n_hits
        |FROM s WHERE rnk <= 10""".stripMargin,
    // the stored family under PARTIAL probing (2/5 supercells, 5/24
    // cells): the distributed fit's approximation quality as one
    // constant vs the DuckDB brute-force replay
    "ns_knn_ivf_stored_recall" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid AS query_id,
        |             row_number() OVER (PARTITION BY q.qid
        |               ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC,
        |                        e.vec_id) AS rnk
        |      FROM q, embeddings e WHERE e.vec_id != q.qid)
        |SELECT count(DISTINCT query_id) AS n_queries,
        |       CAST(29 AS BIGINT) AS n_hits
        |FROM s WHERE rnk <= 10""".stripMargin,
    // identical to the ns_knn_brute oracle: after build-on-half +
    // append-the-rest, exhaustive probing over the APPENDED index must
    // still reproduce brute force over the whole corpus — any row the
    // append lost, duplicated, or mis-celled breaks the rank identity
    "ns_knn_ivfpq_append_exhaustive" -> BruteKnnOracleSql,
    // identical to the ns_knn_brute oracle: after build-on-(corpus ∪
    // duplicated slice) + remove-slice, exhaustive probing must
    // reproduce brute force over the original corpus — a leftover,
    // over-deleted, or mis-celled row breaks the rank identity
    "ns_knn_ivfpq_remove_exhaustive" -> BruteKnnOracleSql,
    // the decoded metadata of the synthetic fixtures is pure id
    // arithmetic (fixed true dims per format), so the oracle replays
    // decode + every gate of the asset curation config exactly
    "ns_asset_curation" ->
      """WITH d AS (
        |  SELECT doc_id AS asset_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'png'
        |         WHEN doc_id % 4 = 1 THEN 'mp4'
        |         WHEN doc_id % 8 = 3 THEN 'mkv'
        |         WHEN doc_id % 16 = 7 THEN 'flac'
        |         ELSE 'stub' END AS format,
        |    CASE WHEN doc_id % 2 = 0 THEN 16
        |         WHEN doc_id % 4 = 1 THEN 320
        |         WHEN doc_id % 8 = 3 THEN 640
        |         WHEN doc_id % 16 = 7 THEN 441000
        |         ELSE 0 END AS width,
        |    CASE WHEN doc_id % 2 = 0 THEN 16
        |         WHEN doc_id % 4 = 1 THEN 240
        |         WHEN doc_id % 8 = 3 THEN 360
        |         WHEN doc_id % 16 = 7 THEN 2
        |         ELSE 0 END AS height
        |  FROM documents)
        |SELECT asset_id, width, height, format FROM d
        |WHERE format IN ('png', 'mp4', 'mkv', 'flac')
        |  AND width >= 300 AND width <= 100000 AND height >= 100""".stripMargin,
    // the 9×8 pattern fixture's dHash is a closed form of md5(doc_id)
    // (cell (x,y) = bit y*9+x of the first 72 bits, hex-nibble
    // MSB-first; dHash bit j=y*8+x is cell(x,y) > cell(x+1,y)), so the
    // whole PNG→decode→luminance→dHash→Hamming pipeline replays as
    // pure bit arithmetic; the flipped copies invert cell (0,0)
    "ns_imagedup_hamming" ->
      """WITH b AS (
        |  SELECT d.doc_id AS id, tx.x AS x, ty.y AS y,
        |    ((CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
        |        (ty.y*9 + tx.x) // 4 + 1, 1) AS INTEGER)
        |      >> (3 - ((ty.y*9 + tx.x) % 4))) & 1) AS bit
        |  FROM documents d, range(9) tx(x), range(8) ty(y)),
        |allb AS (
        |  SELECT id, x, y, bit FROM b
        |  UNION ALL
        |  SELECT id + 1099511627776, x, y,
        |    CASE WHEN x = 0 AND y = 0 THEN 1 - bit ELSE bit END
        |  FROM b),
        |dh AS (
        |  SELECT l.id, l.y*8 + l.x AS j,
        |    CASE WHEN l.bit > r.bit THEN 1 ELSE 0 END AS hb
        |  FROM allb l JOIN allb r ON r.id = l.id AND r.y = l.y
        |    AND r.x = l.x + 1
        |  WHERE l.x < 8),
        |pairs AS (
        |  SELECT doc_id AS asset_a, doc_id + 1099511627776 AS asset_b
        |  FROM documents
        |  UNION ALL
        |  SELECT d.doc_id, d.doc_id + 1 FROM documents d
        |  JOIN documents e ON e.doc_id = d.doc_id + 1)
        |SELECT p.asset_a, p.asset_b,
        |  CAST(SUM(CASE WHEN ha.hb <> hb2.hb THEN 1 ELSE 0 END)
        |       AS BIGINT) AS hamming
        |FROM pairs p
        |JOIN dh ha ON ha.id = p.asset_a
        |JOIN dh hb2 ON hb2.id = p.asset_b AND hb2.j = ha.j
        |GROUP BY 1, 2""".stripMargin,
    // the three phash-lifecycle rows share ONE oracle (the winnow
    // lifecycle discipline): stored-then-serve, append-then-serve and
    // remove-then-serve must each equal the full-screen closed form
    "ns_imagedup_incoming" -> imagedupIncomingOracle,
    "ns_imagedup_append" -> imagedupIncomingOracle,
    "ns_imagedup_remove" -> imagedupIncomingOracle,
    // the 65-stripe WAV fixture's robust hash is a closed form of
    // md5(doc_id) (hash bit j = bit(j+1) AND NOT bit(j), hex-nibble
    // MSB-first), so the whole RIFF→PCM→stripe-RMS→sign-delta
    // pipeline replays as bit arithmetic; the flipped copies invert
    // stripe 0, touching only hash bit 0
    "ns_audiodup_hamming" ->
      """WITH bits AS (
        |  SELECT d.doc_id AS id, tk.k AS k,
        |    ((CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
        |        tk.k // 4 + 1, 1) AS INTEGER)
        |      >> (3 - (tk.k % 4))) & 1) AS bit
        |  FROM documents d, range(65) tk(k)),
        |allb AS (
        |  SELECT id, k, bit FROM bits
        |  UNION ALL
        |  SELECT id + 1099511627776, k,
        |    CASE WHEN k = 0 THEN 1 - bit ELSE bit END
        |  FROM bits),
        |hb AS (
        |  SELECT l.id, l.k AS j,
        |    CASE WHEN r.bit = 1 AND l.bit = 0 THEN 1 ELSE 0 END AS hb
        |  FROM allb l JOIN allb r ON r.id = l.id AND r.k = l.k + 1
        |  WHERE l.k < 64),
        |pairs AS (
        |  SELECT doc_id AS asset_a, doc_id + 1099511627776 AS asset_b
        |  FROM documents
        |  UNION ALL
        |  SELECT d.doc_id, d.doc_id + 1 FROM documents d
        |  JOIN documents e ON e.doc_id = d.doc_id + 1)
        |SELECT p.asset_a, p.asset_b,
        |  CAST(SUM(CASE WHEN ha.hb <> h2.hb THEN 1 ELSE 0 END)
        |       AS BIGINT) AS hamming
        |FROM pairs p
        |JOIN hb ha ON ha.id = p.asset_a
        |JOIN hb h2 ON h2.id = p.asset_b AND h2.j = ha.j
        |GROUP BY 1, 2""".stripMargin,
  )
}
