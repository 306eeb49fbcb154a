package graft.northstar

import graft.functions.vectors
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (ArrayType(FloatType)) — BASELINE.json north-star (SURVEY.md §7.4).
  *
  * Baseline: brute-force cosine top-k (exact). Scale path: random-
  * hyperplane LSH — embeddings bucketed by the sign pattern of dot
  * products with `nPlanes` deterministic pseudo-random hyperplanes, the
  * query joins only its bucket (plus optional multi-probe neighbors).
  * At 100 TB the brute-force cross join is O(queries × corpus) and only
  * viable for small query sets; the LSH variant turns it into a bucket
  * equi-join whose shuffle is O(corpus), independent of query count.
  *
  * All math runs through the custom codegen'd Catalyst kernels in
  * graft.functions (FloatVecCosine / HyperplaneBuckets) — one primitive
  * loop per row inside whole-stage codegen, no UDF boxing, no driver-side
  * vectors. Hyperplanes derive from splitmix64(dim, plane, table), so the
  * whole index is deterministic and needs no model state.
  */
object Similarity {

  /** Dot product of two float-array columns, accumulated in double —
    * the codegen'd kernel (graft.functions.FloatVecDot), one primitive
    * loop per row inside whole-stage codegen.
    */
  def dot(a: Column, b: Column): Column = vectors.vec_dot(a, b)

  /** L2 norm of a float-array column. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either side has zero norm. Single-pass
    * codegen'd kernel; element accumulation order matches a sequential
    * left-fold, so results are bit-identical to the naive formulation.
    */
  def cosine(a: Column, b: Column): Column = vectors.vec_cosine(a, b)

  /** Exact brute-force top-k: every query row against every corpus row,
    * ranked per query. Correct at any scale but O(|queries| × |corpus|) —
    * the oracle baseline the ANN variant is measured against.
    * Output: (query_id, neighbor_id, rank), self-match excluded.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int = 10,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    exactScored(queries, corpus, idCol, vecCol)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /** The exact all-pairs scored frame shared by [[bruteForceTopK]] and
    * [[mmrTopK]]'s pool builder: (query_id, neighbor_id, cv, sim),
    * self-pairs excluded. ONE definition — the `ns_mmr_relevance`
    * oracle pins λ=1 MMR rank-exactly to brute force, so the two paths'
    * scorer (self-exclusion, cosine, column shapes) must be
    * structurally the same code, not parallel copies (the lshRank
    * discipline).
    */
  private def exactScored(queries: DataFrame, corpus: DataFrame,
                          idCol: String, vecCol: String): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cv"),
        cosine(col("qv"), col("cv")).as("sim"))
  }

  /** All `nTables` LSH bucket ids for a vector: per table, the sign bits
    * of `nPlanes` deterministic hyperplane dot products, table id offset
    * into its own keyspace (codegen'd kernel HyperplaneBuckets; planes
    * derive from splitmix64(dim, plane, table) — the "index" is pure
    * arithmetic, no model state, identical on any cluster).
    */
  def hyperplaneBuckets(vec: Column, nPlanes: Int, nTables: Int): Column =
    vectors.lsh_buckets(vec, nPlanes, nTables)

  /** Single-table LSH bucket id (table 0). */
  def hyperplaneBucket(vec: Column, nPlanes: Int): Column =
    element_at(vectors.lsh_buckets(vec, nPlanes, 1), 1)

  /** ANN top-k via multi-table hyperplane LSH: a row is a candidate for a
    * query iff they share a bucket in ANY of the `nTables` independent
    * tables (recall ≈ 1-(1-p^nPlanes)^nTables, p = 1-θ/π). Candidates are
    * deduped across tables before ranking. The shuffle is the bucket
    * equi-join: O(corpus × nTables) rows, independent of query count —
    * the 100 TB path where brute force is O(queries × corpus).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int = 10,
              nPlanes: Int = 4, nTables: Int = 8, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(hyperplaneBuckets(col(vecCol), nPlanes, nTables)).as("bucket"))
    lshRank(q, corpus, k, nPlanes, nTables, idCol, vecCol)
  }

  /** Multi-probe LSH top-k (Lv et al. 2007): the corpus keeps its
    * single-bucket-per-table assignment — the INDEX is unchanged — and
    * each query additionally probes, per table, the `nFlips` neighbor
    * buckets across its lowest-|margin| hyperplanes (a vector close to
    * a plane is nearly as likely to be on its other side, so those
    * buckets hold the near-miss candidates). Recall rises toward the
    * multi-table limit without growing the corpus-side index or
    * shuffle: the extra cost is query-side fan-out only, nTables ×
    * (1 + min(nFlips, nPlanes)) rows per query (only nPlanes bits
    * exist to flip). With nFlips = 0 this IS [[lshTopK]];
    * the candidate set is always a superset of the same-plane lshTopK
    * candidates (SimilaritySpec pins both).
    */
  def lshTopKMultiprobe(queries: DataFrame, corpus: DataFrame, k: Int = 10,
                        nPlanes: Int = 4, nTables: Int = 8, nFlips: Int = 2,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(vectors.lsh_buckets_multiprobe(col(vecCol), nPlanes, nTables,
        nFlips)).as("bucket"))
    lshRank(q, corpus, k, nPlanes, nTables, idCol, vecCol)
  }

  /** Shared bucket-join → dedup → exact-cosine ranking tail of
    * [[lshTopK]] and [[lshTopKMultiprobe]] — a single definition so a
    * ranking change cannot drift between probe variants. Candidates
    * must be deduped here: the same pair collides in multiple tables
    * (and, multi-probe, in flip variants of the same table).
    */
  private def lshRank(q: DataFrame, corpus: DataFrame, k: Int,
                      nPlanes: Int, nTables: Int, idCol: String,
                      vecCol: String): DataFrame =
    lshRankScored(q, corpus, k, nPlanes, nTables, idCol, vecCol)
      .select("query_id", "neighbor_id", "rank")

  /** The ranking tail with sim + candidate vector retained — the MMR
    * pool builder ([[mmrTopKAnn]]) needs (rel, cv) per survivor, and
    * carrying cv through the rank window costs only k·dim floats per
    * query, versus a SECOND corpus join (another full corpus scan) to
    * re-fetch vectors after ranking.
    */
  private def lshRankScored(q: DataFrame, corpus: DataFrame, k: Int,
                            nPlanes: Int, nTables: Int, idCol: String,
                            vecCol: String): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      explode(hyperplaneBuckets(col(vecCol), nPlanes, nTables)).as("bucket"))
    val candidates = q.join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id", "qv", "cv")
      .dropDuplicates("query_id", "neighbor_id")
    val scored = candidates.select(col("query_id"), col("neighbor_id"),
      cosine(col("qv"), col("cv")).as("sim"), col("cv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** MMR-diversified top-k (Carbonell & Goldstein 1998): retrieve a
    * relevance pool, then greedily select k results maximizing
    * λ·relevance − (1−λ)·max-cosine-to-already-selected — the standard
    * redundancy-aware retrieval step for eval-set construction and
    * few-shot example selection (plain top-k returns near-duplicate
    * neighbors; MMR spends the k slots on DISTINCT relevant results).
    * λ rides the 1e-4 grid; λ=10000 is pure relevance and must equal
    * [[bruteForceTopK]] exactly (the `ns_mmr_relevance` oracle pin).
    *
    * The selection itself is the codegen'd in-row kernel
    * ([[graft.functions.VecOps.mmrSelect]]) over the per-query pool —
    * O(k·pool·dim) per query, no shuffle beyond the pool grouping. Pool
    * generation here is the exact scorer (O(q×corpus), the oracle
    * baseline); at 100 TB feed [[mmrFromPool]] an ANN pool instead
    * ([[lshTopKMultiprobe]]/[[Ivf.ivfTopK]] joined back to vectors) —
    * the selection cost is identical either way.
    * Output: (query_id, neighbor_id, mmr_rank) in selection order.
    */
  def mmrTopK(queries: DataFrame, corpus: DataFrame, k: Int = 10,
              poolSize: Int = 30, lambdaE4: Int = 7000,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    val pool = exactScored(queries, corpus, idCol, vecCol)
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= poolSize)
      .select(col("query_id"), col("neighbor_id"),
        col("sim").as("rel"), col("cv"))
    mmrFromPool(pool, k, lambdaE4)
  }

  /** MMR selection over a PRECOMPUTED candidate pool — (query_id,
    * neighbor_id, rel, cv) rows, typically an ANN top-R joined back to
    * its vectors. Pools are sorted (rel desc, id) in-row before the
    * kernel so selection order is deterministic on any partition
    * layout.
    */
  def mmrFromPool(pool: DataFrame, k: Int, lambdaE4: Int): DataFrame = {
    // explicit field casts: the kernel reads <long, double, array<float>>
    // by ordinal, and a pool carrying e.g. an array<double> cv straight
    // from its source table would otherwise fail MmrSelect's analysis
    // check (struct children don't implicit-cast) — the casts are no-ops
    // on already-correct pools (code-review r14)
    val cands = array_sort(
      collect_list(struct(col("neighbor_id").cast("long").as("id"),
        col("rel").cast("double").as("rel"),
        col("cv").cast("array<float>").as("v"))),
      (l, r) => when(l.getField("rel") > r.getField("rel"), -1)
        .when(l.getField("rel") < r.getField("rel"), 1)
        .when(l.getField("id") < r.getField("id"), -1)
        .when(l.getField("id") > r.getField("id"), 1).otherwise(0))
    pool.groupBy("query_id").agg(cands.as("cands"))
      .select(col("query_id"),
        posexplode(vectors.mmr_select(col("cands"), k, lambdaE4))
          .as(Seq("pos", "neighbor_id")))
      .select(col("query_id"), col("neighbor_id"),
        (col("pos") + 1).cast("long").as("mmr_rank"))
  }

  /** MMR over an ANN pool — the path to run at corpus scale. The
    * relevance pool is the multi-probe LSH top-`poolSize`
    * ([[lshTopKMultiprobe]]'s exact ranking tail, with the candidate
    * vector carried through the rank window so NO second corpus scan is
    * needed to re-fetch vectors), then the same greedy kernel as
    * [[mmrTopK]] selects k. Total cost = one ANN retrieval at
    * k=poolSize + O(k·poolSize·dim) in-row selection per query — the
    * whole-corpus exact scorer never runs. λ=10000 must reproduce
    * [[lshTopKMultiprobe]]'s own top-k rank-exactly (NorthstarSpec pins
    * it); the `ns_mmr_ann` contract row is plan-guarded to contain no
    * cartesian node.
    */
  def mmrTopKAnn(queries: DataFrame, corpus: DataFrame, k: Int = 10,
                 poolSize: Int = 30, lambdaE4: Int = 7000,
                 nPlanes: Int = 4, nTables: Int = 8, nFlips: Int = 2,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(vectors.lsh_buckets_multiprobe(col(vecCol), nPlanes, nTables,
        nFlips)).as("bucket"))
    val pool = lshRankScored(q, corpus, poolSize, nPlanes, nTables,
        idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"),
        col("sim").as("rel"), col("cv"))
    mmrFromPool(pool, k, lambdaE4)
  }

  /** Recall tripwire for the approximate ANN variants: one exact-integer
    * row (n_queries, n_hits) with n_hits = |ann ∩ exact| on
    * (query_id, neighbor_id) pairs and n_queries from the exact side.
    * Both inputs are deterministic (stateless splitmix64 planes, seeded
    * k-means), so at a fixed dataset the counts are constants an
    * external oracle can pin — any drift in plane seeding, bucketing,
    * probing, or ranking moves n_hits. Inputs are k rows per query, so
    * the join and aggregate are tiny at any corpus scale.
    */
  def recallCounts(ann: DataFrame, exact: DataFrame): DataFrame =
    exact.select("query_id", "neighbor_id")
      .join(ann.select(col("query_id"), col("neighbor_id"), lit(1).as("hit")),
        Seq("query_id", "neighbor_id"), "left")
      .agg(countDistinct(col("query_id")).as("n_queries"),
        count(col("hit")).as("n_hits"))

  /** Linear-probe scoring: cosine of each embedding against a fixed probe
    * direction (a trained classifier weight vector, a centroid of curated
    * examples, a topic direction) — the fastText-style model-based
    * quality/topic filter of modern corpus curation, reduced to one
    * narrow codegen'd pass. The probe rides into the plan as a literal
    * array (broadcast-free: it is part of the serialized expression), so
    * at 100 TB this is a pure map with no shuffle and no driver state.
    * Output: (id, score, pred) with pred = score >= threshold.
    */
  def probeScore(df: DataFrame, probe: Array[Float], threshold: Double,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val score = cosine(col(vecCol), typedLit(probe.toSeq))
    df.select(col(idCol), score.as("score"),
      (score >= threshold).cast("int").as("pred"))
  }

  /** Symmetric int8 quantization of an embedding column — the standard
    * 4× storage/IO reduction before vectors are shipped to an ANN
    * index or training job: q_i = round(127 · x_i / max|x|) per vector,
    * with the per-vector scale kept alongside for dequantization.
    * Zero vectors quantize to zeros (scale kept as 0). Pure narrow
    * arithmetic on codegen'd higher-order functions — no shuffle, no
    * UDF, no driver state; every value is reproducible by any engine
    * (float→double widening is exact; |x| ≤ max|x| bounds q to ±127, so
    * there is no clipping branch to disagree on).
    * Output: input columns + `maxabs` (the scale) + `q` (array<tinyint>
    * — values are bounded to ±127, and an array<long> here would make
    * the "4× smaller" shipment 2× LARGER than the float input in
    * shuffles and row formats; code-review r14).
    */
  def quantizeInt8(df: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val m = array_max(transform(col(vecCol), x => abs(x)))
    df.withColumn("maxabs", m)
      .withColumn("q",
        when(col("maxabs") === 0,
          transform(col(vecCol), _ => lit(0).cast("tinyint")))
          .otherwise(transform(col(vecCol),
            x => round(x * lit(127.0) / col("maxabs")).cast("tinyint"))))
  }

  /** Plane-family id for the Johnson–Lindenstrauss projection matrix,
    * decorrelated from the LSH tables (0..nTables-1) and the IVF
    * mega-cell split family (7777).
    */
  val JlTable = 424242

  /** The quantized JL projection matrix: outDim × dim integer weights on
    * the 1e-`scaleLog` grid, derived from the stateless splitmix plane
    * family — no model state, identical on any cluster, and exactly
    * replayable by an external engine from the emitted literals.
    */
  def jlMatrixQ(dim: Int, outDim: Int,
                scale: Int = 10000): Array[Array[Long]] =
    Array.tabulate(outDim)(j => Array.tabulate(dim)(i =>
      math.round(
        graft.functions.VecOps.planeComponent(i, j, JlTable) * scale)))

  /** Johnson–Lindenstrauss random projection (Johnson & Lindenstrauss
    * 1984; the database form follows Achlioptas 2003 — public
    * knowledge) in the QUANTIZED-INTEGER domain: embeddings round to
    * the 1e-4 grid ([[Ivf.quantizeVec]]), the projection matrix is
    * integer weights on the same grid ([[jlMatrixQ]]), and each output
    * component is a 64-bit integer dot product — bit-deterministic
    * across engines and partition orders (|q|·|w| ≤ 1e8/element,
    * dim·1e8 ≪ 2^63), so a DuckDB replay from the literal matrix is
    * hash-exact. This is THE dimensionality-reduction pass a 100-TB
    * embedding pipeline runs before ANN indexing or clustering: a pure
    * narrow map (zero shuffle, zero driver state), emitting outDim ≪
    * dim components whose pairwise distances approximate the originals
    * within the JL bound.
    * Output: (idCol, j, dot_q) — one row per (vector, output dim).
    */
  def randomProjectQ(df: DataFrame, dim: Int, outDim: Int,
                     scale: Int = 10000, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol),
      posexplode(jlDots(col(vecCol), dim, outDim, scale))
        .as(Seq("j", "dot_q")))

  /** The outDim integer dots as one array column — the codegen'd
    * one-pass kernel ([[graft.functions.VecOps.jlProject]]: each
    * element quantized once, multiply-added into every accumulator),
    * not an outDim × dim boxed-lambda HOF chain.
    */
  private def jlDots(vec: Column, dim: Int, outDim: Int,
                     scale: Int): Column =
    graft.functions.vectors.jl_project(vec,
      typedLit(jlMatrixQ(dim, outDim, scale).flatten.toSeq), outDim, scale)

  /** Float-vector form of the projection for in-engine composition
    * (project, then feed [[lshTopK]]/[[Ivf.ivfTopK]] the reduced
    * column): the same integer dots de-scaled by scale² — so the float
    * form is a deterministic function of the exact integer one.
    */
  def randomProject(vec: Column, dim: Int, outDim: Int,
                    scale: Int = 10000): Column = {
    val denom = scale.toDouble * scale
    transform(jlDots(vec, dim, outDim, scale),
      d => (d / denom).cast("float"))
  }

  /** Embedding-cosine near-duplicate pairs: corpus self-joined within LSH
    * buckets, kept when cosine >= threshold (the embedding flavor of
    * near-dup dedup).
    */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double = 0.95,
                         nPlanes: Int = 8, idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    // single table suffices: true near-dups (cos ≥ 0.95, θ ≤ 18°) agree on
    // each hyperplane with p ≈ 0.9, so p^8 ≈ 0.43 per table — acceptable
    // for dedup sweeps; raise to multi-table for exhaustive passes
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      hyperplaneBucket(col(vecCol), nPlanes).as("bucket"))
    val a = c.select(col("bucket"), col("id").as("doc_a"), col("v").as("va"))
    val b = c.select(col("bucket"), col("id").as("doc_b"), col("v").as("vb"))
    // no pair-dedupe aggregate: with a SINGLE table each doc holds
    // exactly one bucket, so a pair can only meet once and the old
    // groupBy(doc_a, doc_b) was a pure extra shuffle over the pair
    // stream (code-review r14). A multi-table variant would need the
    // dedupe back.
    a.join(b, Seq("bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), cosine(col("va"), col("vb")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** SemDeDup — cluster-scoped semantic deduplication (Abbas et al.
    * 2023, arXiv:2303.09540; public knowledge): assign every embedding
    * to its k-means cell, compare pairs WITHIN a cell only, and
    * collapse connected groups above the cosine threshold to one
    * keeper (keep-min). The cluster scoping is what makes semantic
    * dedup tractable at corpus scale — the pair join is quadratic per
    * cell, never per corpus, and the published recipe accepts the
    * cross-cell miss rate (semantic duplicates land in the same cell
    * with high probability because they are near-identical vectors).
    *
    * Composes the existing machinery end-to-end: the quantizer is the
    * stored IVF artifact ([[Artifacts.ivfCentroidsFor]] — train-once,
    * pinned parameters), mega-cells are re-split by [[Ivf.subcellOf]]'s
    * secondary hyperplane bits exactly like the probe join (so one
    * boilerplate-region cell can't go quadratic), and the collapse is
    * [[Dedup.collapseByPairs]]'s path-halving CC. The threshold
    * compares the e4-rounded INTEGER cosine, so near-threshold pair
    * membership replays exactly in an external engine. With a single
    * trivial cell the scoping is a no-op and the result must equal the
    * flat all-pairs collapse — the exhaustive-companion identity
    * `ns_semdedup_exact` pins. Output: (idCol, cluster_id, is_keeper).
    */
  def semanticDedup(emb: DataFrame, centroids: Array[Array[Float]],
                    thresholdE4: Long, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    maxCell: Int = 100000): DataFrame =
    Dedup.collapseByPairs(emb.select(col(idCol)),
      semanticDedupPairs(emb, centroids, thresholdE4, idCol, vecCol,
        maxCell), idCol)

  /** [[semanticDedup]] with a quality-aware keeper (the
    * [[Dedup.collapseByPairsBest]] rule): within each semantic cluster
    * the keeper is the row maximizing `scoreCol` (ties → lowest id)
    * instead of the minimum id — curation keeps the BEST copy of a
    * near-duplicate group (highest quality score, preferred source),
    * not the one that happened to be crawled first. Same cell-scoped
    * pair generation and CC labels; one extra row_number window.
    */
  def semanticDedupBest(emb: DataFrame, centroids: Array[Array[Float]],
                        thresholdE4: Long, scoreCol: String,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        maxCell: Int = 100000): DataFrame =
    Dedup.collapseByPairsBest(emb.select(col(idCol), col(scoreCol)),
      semanticDedupPairs(emb, centroids, thresholdE4, idCol, vecCol,
        maxCell), scoreCol, idCol)

  /** Keep-min collapse served from PRECOMPUTED cluster labels (the
    * stored [[Artifacts.semanticLabelsFor]] artifact — one row per
    * document, `cluster_id` = its connected-component label). The CC
    * label is the minimum member id by construction
    * ([[Dedup.connectedComponents]]), so the keep-min keeper flag is a
    * narrow per-row comparison — no join, no iteration: the cheapest
    * honest serving form of [[semanticDedup]].
    */
  def semanticDedupFromLabels(labels: DataFrame,
                              idCol: String = "vec_id"): DataFrame =
    labels.withColumn("is_keeper",
      col(idCol).cast("long") === col("cluster_id"))

  /** Quality-aware keeper over precomputed cluster labels
    * ([[semanticDedupBest]]'s rule): `scored` carries (idCol, scoreCol),
    * the stored labels supply cluster membership, and the keeper is one
    * row_number window per cluster — bit-identical to
    * [[Dedup.collapseByPairsBest]] over the same pairs.
    *
    * Documents ABSENT from the labels frame (labels computed over a
    * subset, or a label artifact predating newly ingested ids) are
    * singleton clusters labeled by their own id — kept, keeper = true —
    * matching the live collapse ops, which keep every input row. An
    * inner join here would silently drop unlabeled documents from the
    * curated corpus.
    */
  def semanticDedupBestFromLabels(scored: DataFrame, labels: DataFrame,
                                  scoreCol: String,
                                  idCol: String = "vec_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the keeper window partitions on a STRING key derived from the id
    // itself for unlabeled docs: coalescing to id.cast(long) would be
    // null for non-numeric ids (URLs, hashes), collapsing every
    // unlabeled document into ONE null-cluster window and silently
    // dropping all but one — the opposite of the singleton contract.
    // The exposed cluster_id keeps the numeric form (null for a
    // non-numeric unlabeled id — visible, not wrong).
    val wKey = coalesce(col("cluster_id").cast("string"),
      concat(lit("s:"), col(idCol).cast("string")))
    val w = Window.partitionBy(wKey)
      .orderBy(col(scoreCol).desc, col(idCol))
    scored.join(labels, Seq(idCol), "left")
      .withColumn("cluster_id",
        coalesce(col("cluster_id"), col(idCol).cast("long")))
      .withColumn("is_keeper", row_number().over(w) === 1)
  }

  /** The (cell, subcell) scoping key every SemDeDup pair join groups
    * by: coarse cell from the quantizer, oversized cells re-split by
    * centroid-centered hyperplane bits. Public so diagnostics
    * (ScaleProbe's candidate-volume census) measure the EXACT keying
    * the pair generator uses — a probe with its own copy would keep
    * measuring a stale grouping if the split policy ever changed.
    * Output: (id, v, cell, subcell).
    */
  def cellSubcellKeys(emb: DataFrame, centroids: Array[Array[Float]],
                      maxCell: Int, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    // assign cells ONCE into a tracked persist: the split census and
    // the keyed frame both need the nCells-cosine assignment — the
    // dominant narrow pass, previously paid twice (census action +
    // keyed build)
    val assigned = Dedup.trackedPersist(
      emb.select(col(idCol).as("id"), col(vecCol).as("v"),
        Ivf.cellOf(col(vecCol), centroids).as("cell")))
    val splits = Ivf.splitBitsFromCensus(
      assigned.groupBy("cell").count(), maxCell)
    assigned.withColumn("subcell",
      Ivf.subcellOf(col("v"), col("cell"), centroids, splits))
  }

  /** The cell-scoped above-threshold pair list shared by
    * [[semanticDedup]] and [[semanticDedupBest]]: one row per unordered
    * in-cell pair with e4-integer cosine >= thresholdE4. Public so the
    * pair list can be persisted once ([[Artifacts.semanticPairsFor]])
    * and served to every collapse variant.
    */
  def semanticDedupPairs(emb: DataFrame,
                                 centroids: Array[Array[Float]],
                                 thresholdE4: Long, idCol: String,
                                 vecCol: String,
                                 maxCell: Int): DataFrame = {
    val c = cellSubcellKeys(emb, centroids, maxCell, idCol, vecCol)
    val a = c.select(col("cell"), col("subcell"),
      col("id").as("doc_a"), col("v").as("va"))
    val b = c.select(col("cell"), col("subcell"),
      col("id").as("doc_b"), col("v").as("vb"))
    a.join(b, Seq("cell", "subcell"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(round(cosine(col("va"), col("vb")) * 10000).cast("long")
        >= thresholdE4)
      .select("doc_a", "doc_b")
  }
}
