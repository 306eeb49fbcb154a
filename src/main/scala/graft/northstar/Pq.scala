package graft.northstar

import graft.functions.vectors
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search", IEEE TPAMI — public knowledge): each
  * embedding is split into `m` contiguous subspaces and every subspace
  * is vector-quantized independently against its own `ksub`-entry
  * codebook, so a dim-float vector compresses to m small integer codes.
  * Composed with the IVF coarse quantizer ([[Ivf]]) this is the
  * standard IVF-PQ layout — the 100-TB ANN cost model:
  *
  *   - the candidate join ships m ints (4m bytes) per corpus row
  *     instead of 4·dim bytes of raw floats — at dim=1024, m=16 that is
  *     a 64× shuffle/storage reduction on the dominant data-sized edge;
  *   - candidate ranking is asymmetric-distance (ADC): the full-precision
  *     query against each candidate's RECONSTRUCTION, a codegen'd
  *     one-pass kernel ([[graft.functions.VecOps.pqAdcCosine]]);
  *   - the top `rerank` ADC survivors per query — a query-bounded,
  *     corpus-independent set — are re-ranked by exact cosine after a
  *     keyed join back to the full vectors, so final ranks use exact
  *     similarity and the ADC approximation only decides WHICH
  *     candidates get the exact treatment.
  *
  * Codebooks train like the coarse quantizer: per-subspace seeded
  * k-means over the bounded driver sample ([[Ivf.boundedSample]] — a
  * corpus-size-independent collect), deterministic via fixed seeds, and
  * they ride into the plan as a flattened literal array (KB-sized: m ×
  * ksub × dim/m floats = ksub × dim), no model state at scan time.
  *
  * Degenerate identity pinned by tests and the DuckDB oracle: while no
  * cell holds more than `maxCell` rows, probing ALL cells with an
  * unbounded rerank makes the exact re-rank see every corpus row, so the
  * output must equal [[Similarity.bruteForceTopK]] rank-exactly
  * regardless of codebook quality. A cell past `maxCell` is re-split,
  * and a query probes only its own subcell of it, so an all-cells probe
  * can then miss neighbours in the other subcells.
  */
object Pq {

  /** Training rows the auto sample targets per sub-centroid (same budget
    * rationale as [[Ivf.TrainRowsPerCell]]).
    */
  val TrainRowsPerCode: Long = 256L

  /** Sentinel: derive `rerank` from corpus/index size at run time —
    * the DEFAULT for [[ivfPqTopK]]/[[ivfPqServeTopK]], so a caller who
    * doesn't think about corpus growth gets the scale-tracking budget
    * instead of silently degraded recall (ScaleProbe r13 measured the
    * fixed base settings collapsing 0.52 → 0.19 over a 20× corpus).
    * Pass an explicit rerank to opt out (the pinned oracle rows do).
    */
  val AutoRerank: Int = -1

  /** Sentinel: derive `ksub` from corpus size in [[fitCodebooks]] /
    * [[Artifacts.pqCodebooksFor]] (the fit-path half of the same
    * corpus-tracking contract).
    */
  val AutoKsub: Int = -1

  /** Hard ceiling on the auto-derived exact-rerank budget: past ~300k
    * rows the 3×-per-4× growth rule would ask for corpus-scale
    * candidate fetches (3M/query at 1B rows), but rerank past a few
    * hundred× k buys little once the ADC screen is wide enough — at
    * extreme scale the recall burden belongs to [[autoKsub]]'s code
    * width (and nProbe), not an unbounded exact fetch.
    */
  val MaxAutoRerank: Int = 5000

  /** The corpus-tracking exact-rerank budget: base 30 at the 500-row
    * oracle corpus, grown ~3× per ~4× corpus (exponent log₄3 ≈ 0.79 —
    * the ScaleProbe r13 rule of thumb: rerank=100 recovered most of the
    * fixed-30 recall loss at 2k–10k), clamped to [max(30, 3k),
    * [[MaxAutoRerank]]] so the fetch stays query-bounded at any corpus
    * size.
    */
  def autoRerank(corpusRows: Long, k: Int): Int = {
    val grown = 30.0 * math.pow(math.max(corpusRows, 1L) / 500.0,
      math.log(3) / math.log(4))
    math.min(MaxAutoRerank,
      math.max(math.max(3 * k, 30), math.round(grown).toInt))
  }

  /** The corpus-tracking code width: 16 sub-codes (4-bit) below ~1k
    * rows, 64 (6-bit) through ~100k, 256 (8-bit) beyond — the ScaleProbe
    * r13 step schedule (ksub=64 held recall@10 FLAT at 0.56 from 2k to
    * 10k where ksub=16 decayed). Codes stay 4–8 bytes/vector at every
    * step, far below the 4·dim bytes the probe shuffle would otherwise
    * carry.
    */
  def autoKsub(corpusRows: Long): Int =
    if (corpusRows < 1000L) 16
    else if (corpusRows < 100000L) 64
    else 256

  /** Train the m per-subspace codebooks over a bounded corpus sample.
    * Deterministic: subspace j clusters with seed `seed + j` (decorrelated
    * sub-quantizers from one base seed). Requires dim % m == 0 — the
    * standard PQ layout slices the vector into equal contiguous blocks.
    * Returns codebooks[j][c] = the c-th sub-centroid of subspace j.
    */
  def fitCodebooks(corpus: DataFrame, m: Int, ksub: Int = AutoKsub,
                   vecCol: String = "embedding",
                   sampleFraction: Double = Ivf.AutoSample,
                   seed: Long = 42L): Array[Array[Array[Float]]] = {
    require(m >= 1, s"m must be positive, got $m")
    // one count serves BOTH the auto-ksub resolution and boundedSample's
    // fraction sizing — the auto path used to pay two full corpus scans
    // (the exact double-scan fitCentroids forwards knownRows to avoid;
    // code-review r14)
    val counted = if (ksub == AutoKsub) Some(corpus.count()) else None
    val ksubR = counted.map(autoKsub).getOrElse(ksub)
    require(ksubR >= 1, s"ksub must be positive, got $ksubR")
    val points = Ivf.boundedSample(corpus, ksubR * TrainRowsPerCode, vecCol,
      sampleFraction, seed, knownRows = counted)
    require(points.nonEmpty, "empty PQ training sample")
    val dim = points.head.length
    require(dim % m == 0,
      s"embedding dim $dim is not divisible by m=$m subspaces")
    val sub = dim / m
    Array.tabulate(m) { j =>
      val subPoints = points.map(p =>
        java.util.Arrays.copyOfRange(p, j * sub, (j + 1) * sub))
      Ivf.lloyd(subPoints, ksubR, seed + j, iters = 10)
    }
  }

  /** Flatten codebooks to the [m][ksub][sub] row-major literal layout the
    * kernels index.
    */
  def flatten(codebooks: Array[Array[Array[Float]]]): Array[Float] =
    codebooks.flatten.flatten

  /** PQ codes column for a vector column: array<int> of length m. */
  def encode(vec: Column, codebooks: Array[Array[Array[Float]]]): Column =
    vectors.pq_encode(vec, typedLit(flatten(codebooks).toSeq),
      codebooks.length, codebooks.head.length)

  /** ADC cosine of a full-precision query column against a codes column.
    * m rides from the codebook (a plan-time constant) so a codes column
    * produced under a DIFFERENT m fails loudly in the kernel instead of
    * silently reading misaligned sub-centroids.
    */
  def adcCosine(q: Column, codes: Column,
                codebooks: Array[Array[Array[Float]]]): Column =
    vectors.pq_adc_cosine(q, codes, typedLit(flatten(codebooks).toSeq),
      codebooks.length, codebooks.head.length)

  /** IVF-PQ top-k: the corpus is assigned to coarse cells once and
    * REDUCED TO CODES before the candidate join (the full vector never
    * crosses the probe shuffle); each query probes its `nProbe` best
    * cells, candidates rank by ADC cosine, and the top `rerank`
    * survivors per query are re-ranked by exact cosine via a keyed join
    * back to the corpus vectors. Mega-cells re-split by secondary
    * hyperplane bits exactly like [[Ivf.ivfTopK]].
    * Output: (query_id, neighbor_id, rank) — ranks from EXACT cosine.
    *
    * One body for every quantizer family (a bare centroid array is the
    * literal one): the hierarchical family is the 100 TB configuration
    * (broadcast-relation cell assignment past `Ivf.MaxAutoCells`, no
    * centroid plan literal), the stored family the exabyte one (cell
    * centroids as a parquet relation that never assembles on the
    * driver, subcell thresholds from the SPLIT cells only). With full
    * supercell probing the relation families row-equal the literal
    * family on the same centroids (PqSpec pins it).
    *
    * SIZING WITH CORPUS GROWTH (ScaleProbe, measured r13): `rerank` and
    * `ksub` are the corpus-tracking knobs — the ADC screen's rank noise
    * grows with corpus size while a fixed exact-rerank budget stays
    * constant, so recall@10 at (ksub=16, rerank=30) fell 0.52 → 0.25 →
    * 0.19 across a 500 → 2k → 10k corpus. rerank=100 recovered
    * 0.48/0.34 and widening codes to ksub=64 (48-bit) held 0.56 FLAT
    * from 2k to 10k. Rule of thumb: grow rerank ~3x per ~4x corpus, and
    * step ksub 16 → 64 → 256 as the corpus crosses ~1k/~100k rows —
    * codes stay 4-8 bytes/vector, far below the dim·4 bytes the probe
    * shuffle would otherwise carry. Since r14 both knobs SELF-SCALE by
    * default ([[autoRerank]]/[[autoKsub]]; ScaleProbe measured the auto
    * path at 0.56 recall@10 on 2k and 0.65 on 10k vs 0.25/0.19 for the
    * fixed base) — pass explicit values only to pin a configuration.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                quantizer: Ivf.CoarseQuantizer,
                codebooks: Array[Array[Array[Float]]],
                k: Int = 10, nProbe: Int = Ivf.AutoProbe,
                rerank: Int = AutoRerank,
                idCol: String = "vec_id", vecCol: String = "embedding",
                maxCell: Int = 100000): DataFrame = {
    val fam = Ivf.family(quantizer, corpus.sparkSession)
    val nProbeR = Ivf.resolveNProbe(nProbe, fam.nCells)
    // one persisted assignment pass feeds the split census, the join
    // build, AND the auto-rerank sizing (the Ivf.ivfTopK contract)
    val assigned = Dedup.trackedPersist(fam.assign(corpus, idCol, vecCol))
    // sentinel → size the exact-rerank budget from the corpus the
    // screen actually runs over (a count on the already-persisted
    // assignment — no extra scan)
    val rerankR = resolveRerank(rerank, k, assigned.count())
    val subcell = fam.subcell(fam.splitsOf(assigned, maxCell))
    // codes, not vectors, on the corpus side of the probe join
    val c = assigned.select(col("neighbor_id"), col("cell"),
      subcell(col("cv")).as("subcell"),
      encode(col("cv"), codebooks).as("codes"))
    val q = fam.probeKeyed(queries, nProbeR, subcell, idCol, vecCol)
    adcRerank(q, c, assigned, codebooks, k, rerankR)
  }

  /** The [[AutoRerank]] sentinel resolution and its refusal, shared by
    * the top-k and serve shapes; `rows` is by-name so an explicit
    * budget never pays the count.
    */
  private def resolveRerank(rerank: Int, k: Int, rows: => Long): Int = {
    val rerankR = if (rerank == AutoRerank) autoRerank(rows, k) else rerank
    require(rerankR >= k,
      s"rerank=$rerankR must be >= k=$k: the exact re-rank can only " +
        "return candidates the ADC stage kept")
    rerankR
  }

  /** Ingest-side embedding near-match: every INCOMING vector screened
    * against the stored codes-only IVF-PQ index by ADC cosine, with
    * survivors confirmed by EXACT cosine against the corpus vectors —
    * the embedding flavor of incremental near-dedup at ingest
    * ([[Dedup.minhashPairsAgainst]] is the text flavor), served from
    * the compressed index.
    *
    * STREAM-SAFE by construction (StreamingSpec pins stream==batch):
    * cell/subcell assignment is a per-row pass or a join against static
    * state — deliberately NO probed-cell collect (a stream cannot
    * census its cells at planning time; the (cell, subcell) equi-join
    * prunes instead), the index probe and the vector fetch are
    * stream-static equi-joins, and there is no window — output is the
    * match PAIR list, not top-k, so append-mode streaming works without
    * state.
    *
    * The probe width is per family: the literal family probes each
    * incoming row's `nProbe` best cells; the relation families read
    * `perSuperProbe` instead — the top `perSuperProbe` cells WITHIN
    * each of the row's superProbe supercells, a per-row partial
    * selection rather than a window (a hierarchical top level of the
    * stored family probes through the window-free
    * [[Ivf.probeSupsIngest]] superset).
    *
    * The ADC screen admits candidates with adc_e4 >= thresholdE4 −
    * screenMarginE4: reconstruction error can push a true match's ADC
    * below the exact threshold, so the margin buys screen recall while
    * the exact confirm keeps precision exact — every emitted pair
    * carries its true e4 cosine >= thresholdE4. With a single trivial
    * cell (or one supercell and perSuperProbe >= nCells) and a margin
    * >= 2·10⁴ the screen admits everything and the result must equal
    * the flat exact threshold join — the `ns_ann_incoming_exact`
    * oracle identity.
    * Output: (incoming_id, neighbor_id, sim_e4).
    */
  def annMatchesIncoming(incoming: DataFrame, index: DataFrame,
                         corpus: DataFrame,
                         quantizer: Ivf.CoarseQuantizer,
                         splits: Map[Int, Int],
                         codebooks: Array[Array[Array[Float]]],
                         thresholdE4: Long, screenMarginE4: Long = 1500,
                         nProbe: Int = Ivf.AutoProbe,
                         perSuperProbe: Int = 3,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    val fam = Ivf.family(quantizer, incoming.sparkSession)
    val subcell = fam.subcell(splits)
    val q = fam.ingestProbe(incoming, nProbe, perSuperProbe, idCol, vecCol)
      .select(col("query_id").as("incoming_id"), col("qv"), col("cell"),
        subcell(col("qv")).as("subcell"))
    // (incoming, neighbor) pairs unique without dedup: distinct probed
    // cells × one (cell, subcell) per index row — the rankCandidates
    // argument, which is what keeps this append-safe on a stream
    val screened = q.join(index, Seq("cell", "subcell"))
      .filter(round(adcCosine(col("qv"), col("codes"), codebooks) * 10000)
        .cast("long") >= thresholdE4 - screenMarginE4)
      .select("incoming_id", "qv", "neighbor_id")
    // exact confirm: survivors fetch their corpus vector and every
    // emitted pair carries its true e4 cosine >= thresholdE4
    val full = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"))
    screened.join(full, Seq("neighbor_id"))
      .select(col("incoming_id"), col("neighbor_id"),
        round(vectors.vec_cosine(col("qv"), col("cv")) * 10000)
          .cast("long").as("sim_e4"))
      .filter(col("sim_e4") >= thresholdE4)
  }

  /** Shared ADC-candidates → exact-re-rank tail of [[ivfPqTopK]] and
    * [[ivfPqServeTopK]]: (cell, subcell) equi-join over codes, self-pair
    * filter, ADC ranking, top-`rerank` cut, keyed join back to the full
    * vectors, exact-cosine ranking with neighbor-id tie-break. The two
    * paths' row-identity is a pinned contract (PqSpec asserts it
    * exactly) — sharing the tail makes the identity structural.
    *
    * (query, neighbor) pairs are unique by construction: probeCells
    * yields DISTINCT cells and each index row has exactly one
    * (cell, subcell) — no dedup exchange before ranking.
    *
    * `full` is the (neighbor_id, cv) vector-fetch relation for the exact
    * re-rank — the caller picks the cheapest source: the fit path hands
    * its already-persisted assignment frame (cache-served, no second
    * corpus scan — code-review r14), the serve path the raw corpus.
    */
  private def adcRerank(q: DataFrame, c: DataFrame, full: DataFrame,
                        codebooks: Array[Array[Array[Float]]],
                        k: Int, rerank: Int): DataFrame = {
    val adc = q.join(c, Seq("cell", "subcell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("qv"), col("neighbor_id"),
        adcCosine(col("qv"), col("codes"), codebooks).as("adc"))
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("neighbor_id"))
    val cands = adc.withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= rerank)
      .select("query_id", "qv", "neighbor_id")
    // exact re-rank: only the rerank survivors fetch their full vector
    val scored = cands.join(full.select("neighbor_id", "cv"),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        vectors.vec_cosine(col("qv"), col("cv")).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /** IVF-PQ top-k over a STORED, cell-partitioned, CODES-ONLY serving
    * index (see [[Artifacts.ivfPqIndexFor]]): the corpus was assigned and
    * encoded ONCE and written hive-partitioned by cell carrying
    * (neighbor_id, codes, subcell) — 4m bytes of codes per row instead
    * of 4·dim of floats, so the index a probe reads is ~dim/m× smaller
    * than the raw corpus ON DISK, on top of the [[Ivf.ivfServeTopK]]
    * planning-time partition pruning (the probed cell set collapses to a
    * literal IN on the partition column). Only the `rerank` ADC
    * survivors per query — a query-bounded set — touch `corpus` for
    * their full vectors in the exact re-rank.
    *
    * `index`/`splits` come from [[Artifacts.loadIvfPqIndex]] under the
    * same quantizer (any family). Given the same quantizer, splits, and
    * codebooks, the result is row-identical to [[ivfPqTopK]] (same ADC
    * candidate generation, same shared exact-re-rank tail) — PqSpec
    * pins the equality.
    *
    * MEMBERSHIP CONTRACT (code-review r12): `corpus` must contain every
    * id the stored index carries — the exact re-rank is an inner join
    * on neighbor_id, so an index row whose corpus row was deleted or
    * recompacted away silently VANISHES from the candidate set and a
    * query can return fewer than k rows with no error. The `_params`
    * digests pin the quantizers, not corpus membership; keep the two in
    * sync by maintaining the index through
    * [[Artifacts.appendIvfPqIndex]] on ingest and rebuilding on any
    * delete/rewrite of the corpus table. (The IVF path is immune:
    * [[Ivf.ivfServeTopK]] ranks from index-resident vectors.)
    */
  def ivfPqServeTopK(queries: DataFrame, index: DataFrame, corpus: DataFrame,
                     quantizer: Ivf.CoarseQuantizer, splits: Map[Int, Int],
                     codebooks: Array[Array[Array[Float]]],
                     k: Int = 10, nProbe: Int = Ivf.AutoProbe,
                     rerank: Int = AutoRerank,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val fam = Ivf.family(quantizer, queries.sparkSession)
    val nProbeR = Ivf.resolveNProbe(nProbe, fam.nCells)
    // sentinel → size the budget from the STORED index (a parquet
    // count — row-group metadata, no column IO), so a serving endpoint
    // tracks nightly appends without redeploys
    val rerankR = resolveRerank(rerank, k, index.count())
    // persisted for the same reason as Ivf.ivfServeTopK: the probed-cell
    // census below is an action over this frame
    val q = Dedup.trackedPersist(
      fam.probeKeyed(queries, nProbeR, fam.subcell(splits), idCol, vecCol))
    // bounded probed-cell census → literal IN → PartitionFilters at
    // planning time (the Ivf.ivfServeTopK contract, shared code)
    val c = Ivf.pruneToProbedCells(index, q)
    adcRerank(q, c,
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
      codebooks, k, rerankR)
  }
}
