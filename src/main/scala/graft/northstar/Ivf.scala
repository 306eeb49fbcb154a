package graft.northstar

import graft.functions.vectors
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path next to hyperplane LSH (SURVEY.md §7.4): a k-means coarse
  * quantizer partitions the corpus into cells; queries probe only the
  * `nProbe` cells whose centroids are most similar, so the search join
  * touches nProbe/nCells of the corpus instead of all of it.
  *
  * Training samples the corpus (bounded, corpus-size-independent sample,
  * clustered on the driver with seeded k-means++/Lloyd — fixed seed);
  * the resulting centroids are a small Array[Array[Float]] broadcast
  * into closed-form column expressions — assignment and probing are pure
  * per-row arithmetic over the codegen'd cosine kernel, no model object
  * at scan time. At 100 TB: train on the bounded sample (k-means scales
  * O(sample × k)), assignment is one narrow pass, the probe join
  * shuffles on cell id with per-cell fan-out bounded by the mega-cell
  * re-split cap.
  */
object Ivf {

  /** Auto-sampling sentinel for [[fitCentroids]]. */
  val AutoSample: Double = -1.0

  /** Training rows the auto sample targets per centroid (k-means needs a
    * stable coarse partition, not the full corpus — ~256 points/cell is
    * the standard IVF training budget).
    */
  val TrainRowsPerCell: Long = 256L

  /** Sentinel: derive `nCells` from corpus size at fit time — the
    * [[Pq.AutoKsub]] contract extended to the coarse quantizer. A fixed
    * cell count is the same silent-degradation hazard as a fixed
    * rerank: 8 cells over 1B rows means every probe scans an eighth of
    * the corpus. Pass an explicit nCells to pin a configuration (the
    * oracle rows do).
    */
  val AutoCells: Int = -1

  /** Hard ceiling on the auto-derived cell count. Since the r14
    * nearest-cells kernel the expression tree is one node at any cell
    * count; the binding constraints are now (a) the flattened centroid
    * literal riding the serialized plan (nCells × dim floats — 16 MB at
    * 4096 cells × 1024 dims) and (b) the DRIVER k-means fit, whose
    * Lloyd cost is O(nCells² × TrainRowsPerCell × dim × iters) under
    * the per-cell sample budget. Past this ceiling the √N rule switches
    * (in [[fitQuantizer]]) to the HIERARCHICAL family: a distributed
    * quantized-Lloyd fit ([[fitHierarchical]]) and a broadcast-relation
    * centroid set ([[HierarchicalQuantizer]]) — the >16M-row path, where
    * assignment is a BroadcastHashJoin instead of a multi-MB plan
    * literal.
    */
  val MaxAutoCells: Int = 4096

  /** Size above which the hierarchical centroid relation stops being
    * BROADCAST and its `sup` equi-joins degrade to a shuffle-hash join
    * (relation = build side). 4 GiB: half Spark's hard 8 GB torrent
    * block limit, leaving headroom for serialization overhead and the
    * executor-side deserialized copy. Overridable per session via the
    * `graft.hier.relationBroadcastCeiling` conf — see
    * [[RelationQuantizer.joinPackedRelation]].
    */
  val RelationBroadcastCeiling: Long = 4L << 30

  /** The √N cell-count rule (the standard IVF sizing guideline:
    * nlist ≈ √corpus balances cells scanned per probe against rows per
    * cell), clamped to [4, [[MaxAutoCells]]]. 22 at the 500-row oracle
    * corpus, 4096 from ~16M rows up.
    */
  def autoNCells(corpusRows: Long): Int =
    math.min(MaxAutoCells, math.max(4,
      math.round(math.sqrt(math.max(corpusRows, 1L).toDouble)).toInt))

  /** Sentinel: derive `nProbe` from the centroid count at query time
    * (no extra job — the centroid array is in hand).
    */
  val AutoProbe: Int = -1

  /** nProbe ≈ √nCells — scan fraction 1/√nCells, shrinking with corpus
    * growth while absolute probed rows grow: 3 at the pinned 8-cell
    * contract rows (√8 rounds to 3 — the formula anchors exactly at
    * the base), 64 at the 4096-cell ceiling (1.6% of the corpus).
    */
  def autoNProbe(nCells: Int): Int =
    math.max(3, math.round(math.sqrt(nCells.toDouble)).toInt)

  /** One definition of the [[AutoProbe]] sentinel resolution, shared by
    * every probe entry point here and in [[Pq]] — a future change to
    * the rule (e.g. clamping to the live cell count) lands once. Any
    * other width below 1 is refused, naming the value: it would probe
    * no cell, and the relation families' ranking cut would return an
    * empty result with no error.
    */
  def resolveNProbe(nProbe: Int, nCells: Int): Int =
    if (nProbe == AutoProbe) autoNProbe(nCells)
    else {
      require(nProbe >= 1, s"nProbe must be >= 1 (or Ivf.AutoProbe), " +
        s"got $nProbe: a probe of no cell returns no neighbor")
      nProbe
    }

  /** One definition of the [[AutoCells]] sentinel resolution; `rows` is
    * by-name so explicit callers never pay the count.
    */
  def resolveNCells(nCells: Int, rows: => Long): Int =
    if (nCells == AutoCells) autoNCells(rows) else nCells

  /** Train the coarse quantizer: k-means centroids over a SAMPLE of the
    * corpus embedding column. Deterministic via fixed seed.
    *
    * By default the sample is bounded: min(1, nCells*256 / corpusRows) —
    * full-corpus k-means is a genuine scale hazard (iterating the whole
    * training set nIter times), and quantizer quality saturates at a few
    * hundred points per cell. Pass an explicit `sampleFraction` to
    * override (1.0 = train on everything).
    *
    * The bounded sample (≤ ~1.2 × nCells × 256 rows regardless of corpus
    * size) is collected and clustered ON THE DRIVER with seeded
    * k-means++ and Lloyd iterations — milliseconds of pure arithmetic,
    * where a distributed fit pays seconds of job overhead to cluster a
    * few thousand rows. Collecting a corpus-size-independent training
    * sample is the sanctioned use of collect().
    */
  def fitCentroids(corpus: DataFrame, nCells: Int = AutoCells,
                   vecCol: String = "embedding",
                   sampleFraction: Double = AutoSample,
                   seed: Long = 42L): Array[Array[Float]] = {
    // the auto-cells count doubles as boundedSample's corpus size, so
    // the auto fit path pays ONE corpus scan, not two (code-review r14)
    val knownRows =
      if (nCells == AutoCells) Some(corpus.count()) else None
    val nCellsR = resolveNCells(nCells, knownRows.get)
    lloyd(boundedSample(corpus, nCellsR * TrainRowsPerCell, vecCol,
      sampleFraction, seed, knownRows), nCellsR, seed, iters = 10)
  }

  /** The bounded, corpus-size-independent training sample shared by the
    * coarse quantizer and the PQ codebook fit ([[Pq.fitCodebooks]]):
    * min(1, targetRows/corpusRows) content-hash sample, collected and
    * content-ordered. The 1.2× slack compensates sampling undershoot;
    * quantizer quality only needs the order of magnitude right.
    *
    * CONTENT-determined, not position-determined (VERDICT r18 task 2):
    * the old positional Bernoulli `sample()` consumed its per-partition
    * RNG stream in row order and `collect()` returned rows in shuffle-
    * block arrival order — both nondeterministic for a post-shuffle
    * corpus (a retrain's resolve join), so two fits of the SAME logical
    * corpus drew different init samples and the seeded k-means++ (which
    * picks by index) produced different quantizers — the root cause of
    * the drift probe's 0.275-wide pinned-budget recall band. Now
    * membership is a seeded hash predicate on the vector itself (the
    * [[fitStored]] init discipline, via [[hashSampled]]) and order is
    * a (content hash, content) sort with a hard row cap, so the draw
    * is a pure function of (content multiset, seed, fraction) whatever
    * the partitioning did.
    */
  private[graft] def boundedSample(corpus: DataFrame, targetRows: Long,
                                   vecCol: String,
                                   sampleFraction: Double,
                                   seed: Long,
                                   knownRows: Option[Long] = None)
      : Array[Array[Float]] = {
    val fraction =
      if (sampleFraction > 0.0) sampleFraction
      else {
        val n = knownRows.getOrElse(corpus.count())
        if (n <= targetRows) 1.0
        else math.min(1.0, 1.2 * targetRows.toDouble / n)
      }
    // the collect is HARD-BOUNDED by a sorted limit, not just the hash
    // fraction (code-review r19): the hash predicate admits or rejects
    // every copy of a duplicate vector TOGETHER, so on a duplicate-heavy
    // pre-dedup corpus one boilerplate embedding repeated 10M times
    // would ride a single admitted hash value into a driver-OOM collect
    // — deterministically, on every retry. The sort keys are
    // (content hash, content), so ties are bit-identical rows and any
    // tie-break yields the same multiset: the limit is deterministic
    // (and plans as a per-partition top-K + driver merge, no shuffle).
    // 4x headroom over the 1.2x-slack target keeps the cap from biasing
    // normal draws (it only engages under pathological duplication).
    val cap = math.min(Int.MaxValue.toLong, 4L * targetRows + 4L).toInt
    def collectSorted(df: DataFrame): Array[Array[Float]] =
      df.select(col(vecCol).as("__bs"))
        .orderBy(xxhash64(col("__bs"), lit(seed + 7)), col("__bs"))
        .limit(cap)
        .collect()
        .map(_.getSeq[Float](0).toArray)
    if (sampleFraction >= 1.0) {
      // the documented override — "1.0 = train on everything" — is
      // honored literally (code-review r19, second pass: the cap
      // silently truncated an explicit full-corpus draw). The caller
      // opted into a corpus-sized collect; only the deterministic
      // ordering is imposed.
      val pts = corpus.select(col(vecCol)).collect()
        .map(_.getSeq[Float](0).toArray)
      java.util.Arrays.sort(pts, floatArrayOrder)
      pts
    } else {
      val sampledFrame =
        if (fraction >= 1.0) corpus
        else hashSampled(corpus, vecCol, fraction, seed)
      val pts = collectSorted(sampledFrame)
      if (pts.length == cap) {
        // cap engaged = pathological duplication or overshoot: the
        // hash-prefix rows may be copies of ONE low-hash duplicate
        // (code-review r19, second pass — a collapsed init sample
        // shrinks the quantizer with only a WARN downstream).
        // Recollect on DISTINCT values: same bound, full diversity up
        // to the cap. Said out loud — no silent caps.
        Console.err.println(
          s"[graft] boundedSample: capped draw ($cap rows) on a " +
            "duplicate-heavy corpus — recollecting distinct values")
        collectSorted(sampledFrame.select(col(vecCol)).distinct())
      } else if (pts.isEmpty && fraction < 1.0) {
        // few-DISTINCT-value fallback: all-copies-together admission
        // means a corpus with fewer distinct vectors than ~1/fraction
        // can have EVERY value rejected — an empty training sample
        // where the old positional sampler never drew one. Retry on
        // the distinct values (the fallback only fires when the
        // distinct count is of order 1/fraction, so the shuffle is
        // small and the sorted limit still caps the collect).
        collectSorted(corpus.select(col(vecCol)).distinct())
      } else pts
    }
  }

  /** Total lexicographic order on float vectors (Float.compare
    * semantics, length breaks ties) — the deterministic ordering of
    * the explicit full-corpus draw.
    */
  private val floatArrayOrder: java.util.Comparator[Array[Float]] =
    new java.util.Comparator[Array[Float]] {
      def compare(a: Array[Float], b: Array[Float]): Int = {
        val n = math.min(a.length, b.length)
        var i = 0
        while (i < n) {
          val c = java.lang.Float.compare(a(i), b(i))
          if (c != 0) return c
          i += 1
        }
        a.length - b.length
      }
    }

  /** The ONE content-hash sample predicate (shared by [[boundedSample]]
    * and [[fitStored]]'s init draw — code-review r19: an inline respell
    * of the modulus is exactly the divergence class the deleteRec
    * consolidation note warns about): keep a row iff
    * xxhash64(vec, seed) mod 2^40 falls under fraction·2^40. The
    * modulus is a power of two, so the masked hash is uniform and the
    * realized fraction tracks the requested one to ~1e-12; the
    * threshold is floored at 1 (code-review r19: plain truncation hit
    * ZERO below fraction ≈ 1e-6 — a >1.3e9-row corpus drew an EMPTY
    * training sample where the old positional sample still returned
    * ~targetRows).
    */
  private[northstar] def hashSampled(corpus: DataFrame, vecCol: String,
                                     fraction: Double,
                                     seed: Long): DataFrame = {
    val buckets = 1L << 40
    val threshold = math.max(1L, (fraction * buckets).toLong)
    corpus.filter(
      xxhash64(col(vecCol), lit(seed)).bitwiseAND(lit(buckets - 1)) <
        lit(threshold))
  }

  private def sqDist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Seeded k-means++ init + Lloyd iterations over an in-memory sample.
    * 10 iterations: cell assignment only needs a stable coarse
    * partition, not converged centroids — recall is governed by nProbe.
    * Empty clusters are reseeded to the point farthest from its center.
    */
  private[northstar] def lloyd(points: Array[Array[Float]], k: Int, seed: Long,
                    iters: Int): Array[Array[Float]] = {
    require(points.nonEmpty, "empty training sample")
    val dim = points.head.length
    val rnd = new scala.util.Random(seed)
    // k-means++: each next center drawn with probability ∝ D²
    val centers = Array.ofDim[Array[Float]](math.min(k, points.length))
    centers(0) = points(rnd.nextInt(points.length)).clone()
    val d2 = points.map(p => sqDist(p, centers(0)))
    var c = 1
    while (c < centers.length) {
      val total = d2.sum
      val pick = if (total <= 0) rnd.nextInt(points.length)
        else {
          var r = rnd.nextDouble() * total
          var i = 0
          while (i < points.length - 1 && r > d2(i)) { r -= d2(i); i += 1 }
          i
        }
      centers(c) = points(pick).clone()
      var i = 0
      while (i < points.length) {
        val nd = sqDist(points(i), centers(c))
        if (nd < d2(i)) d2(i) = nd
        i += 1
      }
      c += 1
    }
    val assign = new Array[Int](points.length)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < points.length) {
        var best = 0; var bd = Double.MaxValue
        var j = 0
        while (j < centers.length) {
          val d = sqDist(points(i), centers(j))
          if (d < bd) { bd = d; best = j }
          j += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.fill(centers.length)(new Array[Double](dim))
      val counts = new Array[Int](centers.length)
      i = 0
      while (i < points.length) {
        val a = assign(i); counts(a) += 1
        var x = 0
        while (x < dim) { sums(a)(x) += points(i)(x); x += 1 }
        i += 1
      }
      // reseed tracking: when SEVERAL clusters empty in the same
      // iteration, each must take a DIFFERENT farthest point — the
      // unguarded scan returned the identical point for all of them,
      // permanently merging their cells (duplicate centroids tie every
      // row to the higher index)
      val reseeded = new java.util.HashSet[Int]()
      var j = 0
      while (j < centers.length) {
        if (counts(j) > 0)
          centers(j) = Array.tabulate(dim)(x => (sums(j)(x) / counts(j)).toFloat)
        else {
          var far = -1; var fd = -1.0
          var p = 0
          while (p < points.length) {
            if (!reseeded.contains(p)) {
              val d = sqDist(points(p), centers(assign(p)))
              if (d > fd) { fd = d; far = p }
            }
            p += 1
          }
          if (far >= 0) {
            reseeded.add(far)
            centers(j) = points(far).clone()
          }
        }
        j += 1
      }
      it += 1
    }
    // pad (degenerate: fewer points than cells) by repeating centers
    if (centers.length < k)
      Array.tabulate(k)(i => centers(i % centers.length).clone())
    else centers
  }

  /** The centroid matrix as ONE flattened plan-constant literal — the
    * PqEncode codebook convention. Replaces the pre-r14 nCells separate
    * per-centroid literals (same bytes on the wire, but the expression
    * tree was nCells-ary).
    */
  private def centroidLit(centroids: Array[Array[Float]]): Column =
    typedLit(centroids.flatten.toSeq)

  /** Nearest-centroid cell id. One fused kernel pass
    * ([[graft.functions.VecOps.nearestCells]]) replacing the pre-r14
    * `greatest()` over nCells per-centroid cosine arms: the query norm
    * is computed once instead of per centroid, centroid norms are
    * cached per literal, and the expression tree is ONE node — so the
    * assignment cost no longer bounds how many cells a quantizer may
    * have. Arithmetic replays the compose form's fold order bit-for-bit
    * (IvfSpec pins kernel == compose equality incl. NaN/zero/duplicate
    * centroids); ties go to the HIGHER cell, as before.
    */
  def cellOf(vec: Column, centroids: Array[Array[Float]]): Column =
    vectors.nearest_cells(vec, centroidLit(centroids),
      centroids.length, 1).getItem(0)

  /** The `nProbe` nearest cell ids for a query vector, as an array to
    * explode — best cell first, the same fused kernel as [[cellOf]].
    * Tie-break HIGHER cell first, agreeing with cellOf: with duplicate
    * centroids (lloyd's degenerate padding when the training sample is
    * smaller than nCells) the corpus assigns ties to the HIGHEST
    * duplicate cell, so a probe order that kept the lowest first would
    * spend its nProbe budget on cells the corpus never occupies — empty
    * ANN results with no error (code-review r13).
    */
  def probeCells(vec: Column, centroids: Array[Array[Float]],
                 nProbe: Int): Column =
    vectors.nearest_cells(vec, centroidLit(centroids),
      centroids.length, nProbe)

  /** Maximum secondary split planes for oversized-cell refinement: 16 bits
    * = up to 65536-way re-split of one mega-cell.
    */
  val MaxSplitBits: Int = 16

  /** Census of oversized cells → number of secondary hyperplane split bits
    * each needs so its expected sub-cell size is <= maxCell. The aggregate
    * is one narrow pass over the corpus collapsing to <= nCells rows —
    * O(k) driver data, not corpus data.
    *
    * K-means on real embedding corpora reliably produces mega-cells (the
    * boilerplate region of the space); without a cap one hot cell makes
    * the probe join quadratic-ish in that cell at scale.
    */
  def splitBitsByCell(corpus: DataFrame, centroids: Array[Array[Float]],
                      vecCol: String = "embedding",
                      maxCell: Int = 100000): Map[Int, Int] =
    splitBitsFromCensus(
      corpus.select(cellOf(col(vecCol), centroids).as("cell"))
        .groupBy("cell").count(), maxCell)

  /** The split policy over an ALREADY-assigned (cell, count) census —
    * callers that persist the cell assignment (ivfTopK,
    * Similarity.cellSubcellKeys) derive the census from the cached
    * frame instead of paying the nCells-cosine assignment pass twice.
    */
  def splitBitsFromCensus(census: DataFrame, maxCell: Int): Map[Int, Int] =
    splitBitsFromCounts(collectCensus(census), maxCell)

  /** Collect a (cell, count) census frame to a driver map with the
    * named null-cell refusal — the query-path form
    * ([[splitBitsFromCensus]]: ivfTopK and friends, whose literal/hier
    * censuses are bounded by their driver-resident centroid arrays
    * anyway). The index save/append paths stopped collecting censuses
    * in r18 — they use [[splitBitsFromAssigned]] and
    * [[censusDriftFrames]] instead.
    */
  private[northstar] def collectCensus(census: DataFrame): Map[Int, Long] = {
    val rows = census.collect()
    // a null embedding assigns to a NULL cell (cellOf's nullSafeEval),
    // which used to die here as a bare NPE on getInt — and the rows
    // behind it would silently vanish from the probe join either way.
    // Name the problem instead (code-review r14).
    rows.find(_.isNullAt(0)).foreach { r =>
      throw new IllegalArgumentException(
        s"corpus contains ${r.getLong(1)} rows with null embeddings " +
          "(null cell assignment) — they cannot be indexed and would " +
          "silently vanish from ANN results; drop or repair them first")
    }
    rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  /** The split policy as a pure driver-side function of per-cell counts —
    * the single definition [[splitBitsFromCensus]] and the index APPEND
    * path ([[Artifacts.appendIvfIndex]]) both use, so an appended index's
    * split map cannot drift from what a from-scratch rebuild on the same
    * union census would compute (the append==rebuild hash identity).
    */
  def splitBitsFromCounts(counts: Map[Int, Long],
                          maxCell: Int): Map[Int, Int] =
    counts.iterator.filter(_._2 > maxCell).map { case (cell, n) =>
      val bits = math.ceil(
        math.log(n.toDouble / maxCell) / math.log(2.0)).toInt
      cell -> math.min(math.max(bits, 1), MaxSplitBits)
    }.toMap

  /** Plane-family id for sub-cell splitting, decorrelated from the LSH
    * index's table ids.
    */
  private val SplitTable = 7777

  /** Refined sub-cell key for a vector given the oversized-cell census:
    * 0 for normal cells; for an oversized cell, `bits` sign bits of
    * CENTROID-CENTERED hyperplane tests. A mega-cell is a cluster offset
    * from the origin, so origin-hyperplane signs are heavily biased (most
    * of the cell lands on one side of every plane); testing the normalized
    * vector's projection against the plane·centroid threshold centers the
    * split at the cluster, making the bits balanced. Planes derive from
    * the same stateless splitmix family as the LSH index (distinct table
    * id), thresholds are driver-side constants from the centroids — both
    * join sides compute the key independently, no model state, no dropped
    * rows. Sub-cell membership is angular, so a query's true neighbors
    * inside a split mega-cell still collide with high probability; the
    * recall loss is confined to the boilerplate region the cap targets.
    * A cell of exact-duplicate vectors cannot be split geometrically —
    * that degenerate case is exact dedup's job, not ANN's.
    */
  def subcellOf(vec: Column, cellCol: Column,
                centroids: Array[Array[Float]],
                splitBits: Map[Int, Int]): Column =
    subcellOfSparse(vec, cellCol, centroids(_), splitBits)

  /** [[subcellOf]] with the centroid lookup abstracted to a function of
    * cell id — the stored-cells family ([[StoredQuantizer]]) never
    * assembles its full centroid array on the driver, but the split
    * policy only ever needs the centroids of the OVERSIZED cells
    * (bounded by corpus skew, not nCells), which it collects
    * individually. The threshold arithmetic, plane family, and kernel
    * are byte-identical to the dense form — [[subcellOf]] delegates
    * here, so the two cannot drift.
    */
  def subcellOfSparse(vec: Column, cellCol: Column,
                      centroidOf: Int => Array[Float],
                      splitBits: Map[Int, Int]): Column =
    if (splitBits.isEmpty) lit(0L)
    else {
      // ONE fused kernel ([[graft.functions.VecOps.subcellBits]])
      // replacing the pre-r14 per-oversized-cell `when` chain whose
      // per-plane vec_dot arm count grew with corpus skew — hundreds
      // of arms on BOTH probe-join sides of a realistically skewed
      // corpus. The split policy stays driver-derived exactly as
      // before: per-cell bit counts and centroid-centered thresholds
      // (plane·(centroid/‖centroid‖), ascending fold) computed here,
      // shipped as plan data. IvfSpec pins kernel == compose-form
      // equality incl. NaN/zero vectors and non-split cells.
      val entries = splitBits.toArray.sortBy(_._1)
      val thrs = entries.flatMap { case (cellId, bits) =>
        val c = centroidOf(cellId)
        val cn = math.max(math.sqrt(c.map(x => x.toDouble * x).sum), 1e-12)
        (0 until bits).map { p =>
          Array.tabulate(c.length)(i =>
            graft.functions.VecOps.planeComponent(i, p, SplitTable).toFloat)
            .zip(c).map { case (hi, ci) =>
              hi.toDouble * (ci.toDouble / cn) }.sum
        }
      }
      vectors.subcell_bits(vec, cellCol, entries.map(_._1),
        entries.map(_._2), thrs, SplitTable)
    }

  /** The search-time routines of one quantizer family, built once per
    * call by [[family]] — the one place that knows how a family assigns
    * and probes. Every search shape ([[ivfTopK]], [[ivfServeTopK]],
    * [[Pq.ivfPqTopK]], [[Pq.ivfPqServeTopK]], [[Pq.annMatchesIncoming]])
    * is one body over it, and the [[Artifacts]] cell-index verbs take
    * their assignment and subcell derivation from it, so a probing or
    * subcell change cannot drift between shapes or between the index
    * build and the search.
    */
  private[northstar] sealed abstract class Family(val nCells: Int) {

    /** rows → (neighbor_id, cv, cell): the [[cellOf]] kernel,
      * [[assignCellsJoin]] or [[assignCellsStored]].
      */
    def assign(rows: DataFrame, idCol: String, vecCol: String): DataFrame

    /** The split map of an [[assign]]ed frame — the collected census
      * ([[splitBitsFromCensus]]); the stored family never collects it
      * ([[splitBitsFromAssigned]]).
      */
    def splitsOf(assigned: DataFrame, maxCell: Int): Map[Int, Int] =
      splitBitsFromCensus(assigned.groupBy("cell").count(), maxCell)

    /** The subcell key of a vector column (next to a `cell` column)
      * under `splits`: [[subcellOf]], or for the stored family
      * [[subcellOfSparse]] over the split cells' centroids, fetched
      * once per call of this method.
      */
    def subcell(splits: Map[Int, Int]): Column => Column

    /** queries → (query_id, qv, cell), each query's `nProbe` cells: the
      * [[probeCells]] explode, [[probeCellsJoin]] or
      * [[probeCellsStored]].
      */
    def probe(queries: DataFrame, nProbe: Int, idCol: String,
              vecCol: String): DataFrame

    /** The STREAM-SAFE probe of the ingest screen, (query_id, qv, cell)
      * with no window: the literal family's [[probe]] (its `nProbe`
      * resolved here); for the relation families the top
      * `perSuperProbe` cells inside each probed supercell through the
      * packed relation and the [[graft.functions.VecOps.topCellsIn]]
      * kernel — the stored family reaching its supercells through
      * [[probeSupsIngest]].
      */
    def ingestProbe(incoming: DataFrame, nProbe: Int, perSuperProbe: Int,
                    idCol: String, vecCol: String): DataFrame

    /** [[probe]] with the subcell key attached: the probe side of every
      * top-k and serve shape.
      */
    final def probeKeyed(queries: DataFrame, nProbe: Int,
                         subcell: Column => Column, idCol: String,
                         vecCol: String): DataFrame =
      probe(queries, nProbe, idCol, vecCol)
        .withColumn("subcell", subcell(col("qv")))
  }

  /** The [[Family]] of `quantizer`. Building it runs no Spark job. */
  private[northstar] def family(quantizer: CoarseQuantizer,
                                spark: org.apache.spark.sql.SparkSession)
      : Family = quantizer match {
    case LiteralQuantizer(c) => new Family(c.length) {
      def assign(rows: DataFrame, idCol: String, vecCol: String) =
        rows.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
          cellOf(col(vecCol), c).as("cell"))
      def subcell(splits: Map[Int, Int]) =
        subcellOf(_, col("cell"), c, splits)
      def probe(queries: DataFrame, nProbe: Int, idCol: String,
                vecCol: String) =
        queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
          explode(probeCells(col(vecCol), c, nProbe)).as("cell"))
      def ingestProbe(incoming: DataFrame, nProbe: Int,
                      perSuperProbe: Int, idCol: String, vecCol: String) =
        probe(incoming, resolveNProbe(nProbe, nCells), idCol, vecCol)
    }
    case hq: HierarchicalQuantizer => new Family(hq.nCells) {
      def assign(rows: DataFrame, idCol: String, vecCol: String) =
        assignCellsJoin(rows, hq, idCol, vecCol)
          .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
            col("cell"))
      def subcell(splits: Map[Int, Int]) =
        subcellOf(_, col("cell"), hq.centroids, splits)
      def probe(queries: DataFrame, nProbe: Int, idCol: String,
                vecCol: String) =
        probeCellsJoin(queries, hq, nProbe, idCol, vecCol)
      def ingestProbe(incoming: DataFrame, nProbe: Int,
                      perSuperProbe: Int, idCol: String, vecCol: String) =
        topCellsPerSuper(
          incoming.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
            explode(probeCells(col(vecCol), hq.superCentroids,
              math.min(hq.superProbe, hq.nSuper))).as("sup")),
          hq, perSuperProbe)
    }
    case sq: StoredQuantizer => new Family(sq.nCells) {
      def assign(rows: DataFrame, idCol: String, vecCol: String) =
        assignCellsStored(rows, sq, idCol, vecCol)
          .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
            col("cell"))
      override def splitsOf(assigned: DataFrame, maxCell: Int) =
        splitBitsFromAssigned(assigned, "cv", maxCell)
      def subcell(splits: Map[Int, Int]) = {
        val splitCents = storedSplitCentroids(sq, spark, splits)
        subcellOfSparse(_, col("cell"), splitCents(_), splits)
      }
      def probe(queries: DataFrame, nProbe: Int, idCol: String,
                vecCol: String) =
        probeCellsStored(queries, sq, nProbe, idCol, vecCol)
      def ingestProbe(incoming: DataFrame, nProbe: Int,
                      perSuperProbe: Int, idCol: String, vecCol: String) =
        topCellsPerSuper(
          probeSupsIngest(
            incoming.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
            sq, math.min(sq.superProbe, sq.nSuper), "query_id", "qv"),
          sq, perSuperProbe)
    }
  }

  /** The relation families' ingest tail: each probed supercell's top
    * `perSuperProbe` cells by the packed-group kernel — a per-row
    * partial selection, not a window, so the cell fan-out is bounded at
    * supercells × perSuperProbe per row on an append-mode stream.
    * `sups` carries (query_id, qv, sup).
    */
  private def topCellsPerSuper(sups: DataFrame, rq: RelationQuantizer,
                               perSuperProbe: Int): DataFrame =
    sups.join(rq.joinPackedRelation(sups.sparkSession), "sup")
      .select(col("query_id"), col("qv"),
        explode(vectors.top_cells_in(col("qv"), col("flat"), col("cells"),
          perSuperProbe)).as("cell"))

  /** Planning-time partition pruning for a stored cell-partitioned
    * index: the probed-cell census is bounded by nCells regardless of
    * batch size (the sanctioned bounded collect), and the literal IN on
    * the partition column is what turns it into PartitionFilters at
    * planning time rather than a per-row filter at execution time.
    * Shared by [[ivfServeTopK]] and [[Pq.ivfPqServeTopK]].
    */
  private[northstar] def pruneToProbedCells(index: DataFrame,
                                            q: DataFrame): DataFrame = {
    val probed = q.select("cell").distinct().collect().map(_.getInt(0))
    index.filter(col("cell").isin(probed.map(Int.box): _*))
  }

  /** IVF top-k: corpus assigned to cells once, each query probes its
    * `nProbe` best cells, candidates ranked by exact cosine. Cells larger
    * than `maxCell` are re-split by secondary hyperplane bits (see
    * [[splitBitsByCell]]) so no mega-cell can dominate the probe join.
    * Output: (query_id, neighbor_id, rank).
    *
    * One body for every quantizer family (a bare centroid array is the
    * literal one; the auto pipeline is
    * `ivfTopK(q, corpus, fitQuantizer(corpus), ...)`): the hierarchical
    * and stored families assign and probe through their centroid
    * relation ([[Family]]), and the stored family derives subcell
    * thresholds from the SPLIT cells' centroids only. With every
    * supercell and every cell probed, and no cell past `maxCell`, the
    * result is exact (rank-identical to brute force) whatever the
    * centroid content; a re-split cell is probed only in the query's
    * own subcell, so its other subcells' rows are never candidates.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              quantizer: CoarseQuantizer, k: Int = 10,
              nProbe: Int = AutoProbe,
              idCol: String = "vec_id", vecCol: String = "embedding",
              maxCell: Int = 100000): DataFrame = {
    val fam = family(quantizer, corpus.sparkSession)
    val nProbeR = resolveNProbe(nProbe, fam.nCells)
    // the corpus assignment is the dominant pass — persist it once and
    // derive BOTH the split census and the join side from the cached
    // frame (unpersisted, the full pass ran twice: once inside the
    // census action, again for the join build)
    val assigned = Dedup.trackedPersist(fam.assign(corpus, idCol, vecCol))
    val subcell = fam.subcell(fam.splitsOf(assigned, maxCell))
    val c = assigned.withColumn("subcell", subcell(col("cv")))
    val q = fam.probeKeyed(queries, nProbeR, subcell, idCol, vecCol)
    rankCandidates(q, c, k)
  }

  /** Shared candidate-ranking tail of [[ivfTopK]] and [[ivfServeTopK]]:
    * (cell, subcell) equi-join, self-pair filter, exact cosine, per-query
    * rank with neighbor-id tie-break. The two paths' row-identity is a
    * pinned contract (IvfSpec asserts it exactly) — sharing the tail
    * makes that identity structural, so a ranking change cannot land on
    * one path and silently break serve==fit parity.
    *
    * (query, neighbor) pairs are unique by construction — probeCells
    * yields DISTINCT cells and each corpus row has exactly one
    * (cell, subcell) — so no dedup exchange is needed before ranking.
    */
  private def rankCandidates(q: DataFrame, c: DataFrame,
                             k: Int): DataFrame = {
    val scored = q.join(c, Seq("cell", "subcell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        vectors.vec_cosine(col("qv"), col("cv")).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /** IVF top-k over a STORED, cell-partitioned serving index (see
    * [[Artifacts.ivfIndexFor]]): the corpus was assigned and written
    * ONCE, hive-partitioned by cell, so a probe never re-derives
    * assignments in-plan — and because the probed cell set is bounded
    * by nCells it is collected to literals and pushed as an IN-filter
    * on the partition column, which Spark turns into PartitionFilters
    * at PLANNING time. At 100 TB that is the serving cost model: a
    * query batch reads nProbe/nCells of the corpus from disk and
    * nothing else — the unprobed cell directories are never opened.
    *
    * `index` must carry (neighbor_id, cv, subcell) with partition
    * column `cell`, and `splits` must be the split-bits map the index
    * was BUILT with under the same quantizer (both come from
    * [[Artifacts.ivfIndexFor]] or [[Artifacts.loadIvfIndex]]; the
    * `_params` sidecar pins the quantizer and maxCell so a mismatched
    * serve fails loudly). Given the same quantizer and splits, the
    * result is row-identical to [[ivfTopK]] for every family — the
    * ranking join is the same (cell, subcell) equi-join over exact
    * cosine.
    */
  def ivfServeTopK(queries: DataFrame, index: DataFrame,
                   quantizer: CoarseQuantizer, splits: Map[Int, Int],
                   k: Int = 10, nProbe: Int = AutoProbe,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val fam = family(quantizer, queries.sparkSession)
    val nProbeR = resolveNProbe(nProbe, fam.nCells)
    // persisted: pruneToProbedCells COLLECTS the probed-cell census, so
    // an unpersisted probe frame would pay the probe (the per-query
    // cosines, or the relation-join ranking) twice
    val q = Dedup.trackedPersist(
      fam.probeKeyed(queries, nProbeR, fam.subcell(splits), idCol, vecCol))
    rankCandidates(q, pruneToProbedCells(index, q), k)
  }

  // ---- quantizer distribution-drift policy (VERDICT r14 task 5) ----

  /** Total-variation distance between two per-cell occupancy censuses
    * (0 = identical distribution, 1 = disjoint): the retrain trigger
    * for PINNED quantizers. Index appends keep the initial build's
    * centroids/codebooks (correct for the append==rebuild hash
    * identity), so when appended data drifts from the train sample the
    * quantizer silently degrades — recall decays with no error anywhere.
    * The per-cell census of an incoming batch under the pinned
    * centroids is already computed by every append (the split-map
    * refresh); comparing its SHAPE against the build census is a free
    * drift statistic.
    *
    * Policy (calibrated by ScaleProbe's drift probe — see the measured
    * curve there): retrain when a batch's drift vs the build census
    * exceeds [[RetrainDriftThreshold]]. In-distribution batches measure
    * well under it; distribution-shifted batches (new language/domain)
    * land far above it while serve recall on the drifted rows is
    * already decaying.
    */
  def censusDrift(base: Map[Int, Long], incoming: Map[Int, Long]): Double = {
    val nb = base.values.sum.toDouble
    val ni = incoming.values.sum.toDouble
    require(nb > 0 && ni > 0,
      s"censusDrift needs non-empty censuses (base ${nb.toLong} rows, " +
        s"incoming ${ni.toLong})")
    (base.keySet ++ incoming.keySet).toSeq.map { c =>
      math.abs(base.getOrElse(c, 0L) / nb - incoming.getOrElse(c, 0L) / ni)
    }.sum / 2.0
  }

  /** [[censusDrift]] over (cell, count) FRAMES — the form the index
    * append path uses since r18 (VERDICT r17 task 4), so the drift
    * statistic never materializes a cell-proportional census on the
    * driver: two scalar total aggregates plus one tv sum over a
    * full-outer join of the censuses. Same arithmetic as the Map form
    * up to float summation order (the retrain bar has ~0.07 of margin
    * on both sides; summation order moves the value by ulps).
    */
  def censusDriftFrames(base: DataFrame, incoming: DataFrame,
                        baseTotal: Option[Long] = None,
                        incomingTotal: Option[Long] = None): Double = {
    // callers that already aggregated a total (the append path's >0
    // guards) pass it in — for a legacy artifact the base fallback is
    // a full index scan, which must not run twice inside the mutex
    // window (code-review r18)
    def total(df: DataFrame): Double = df
      .agg(coalesce(sum("count"), lit(0L)).as("n"))
      .collect()(0).getLong(0).toDouble
    val nb = baseTotal.map(_.toDouble).getOrElse(total(base))
    val ni = incomingTotal.map(_.toDouble).getOrElse(total(incoming))
    require(nb > 0 && ni > 0,
      s"censusDrift needs non-empty censuses (base ${nb.toLong} rows, " +
        s"incoming ${ni.toLong})")
    base.select(col("cell"), col("count").as("__bn"))
      .join(incoming.select(col("cell"), col("count").as("__in")),
        Seq("cell"), "full_outer")
      .agg(coalesce(sum(abs(
        coalesce(col("__bn"), lit(0L)) / nb -
          coalesce(col("__in"), lit(0L)) / ni)), lit(0.0)).as("tv"))
      .collect()(0).getDouble(0) / 2.0
  }

  /** The calibrated [[censusDrift]] retrain bar (ScaleProbe drift
    * probe, measured r15: in-distribution append batches tv=0.000;
    * shifted-distribution batches tv≈0.37 while their serve recall@10
    * decays 1.00→0.40 over five appends with resident recall
    * untouched — the bar sits between with margin on both sides).
    */
  val RetrainDriftThreshold: Double = 0.3

  // ---- hierarchical (two-level) quantizer: past MaxAutoCells ----
  //
  // Past [[MaxAutoCells]] the centroid matrix must stop being a plan
  // literal (a 31k × 1024 matrix is 128 MB of expression tree — Catalyst
  // copies it on every rule application and codegen chokes on it) and the
  // driver Lloyd fit must stop iterating O(nCells² · 256 · dim). The
  // standard answer (FAISS's IVF with a secondary coarse quantizer) is
  // two-level: a SMALL top-level quantizer (nSuper ≈ √nCells, always
  // under the literal ceiling) rides the plan as before, and the full
  // centroid set becomes a broadcast RELATION keyed by supercell.
  // Assignment is then: narrow kernel pass to the row's `superProbe`
  // nearest supercells → BroadcastHashJoin against the centroid relation
  // (only centroids in those supercells are candidates) → per-row argmax
  // by exact cosine, collapsed map-side by partial aggregation, so the
  // one exchange ships one narrow row per input row. At 100 TB the
  // centroid set crosses to each executor exactly once via torrent
  // broadcast instead of riding every serialized plan fragment.
  //
  // The assignment is approximate in exactly one place: a centroid whose
  // supercell the row did not probe is never a candidate. With
  // superProbe ≈ √nSuper-scaled probing the miss probability is the same
  // boundary effect nProbe already accepts at query time; when
  // `superProbe == nSuper` every centroid is a candidate and the
  // assignment is EXACTLY [[cellOf]] (IvfSpec pins that identity).

  /** Two-level coarse quantizer (see block comment above). `centroids`
    * stays a driver-side array — that is fine at any realistic cell
    * count (31k × 1k dims = 128 MB on the driver) — but it reaches
    * executors only through [[cellsRelation]]'s broadcast, never as an
    * expression literal. `superProbe` is the number of top-level cells a
    * row's candidate set draws from; it is part of the quantizer
    * identity because corpus assignment and query probing must agree on
    * it for the probe join to be consistent.
    *
    * '''How far two levels reach.''' [[fitHierarchical]] caps
    * `nSuper = min(MaxAutoCells, √nCells)`, so the top level saturates
    * at 4096 supercells once nCells ≥ ~16.8M — but that cap is not the
    * binding constraint. The packed centroid relation is
    * nCells × dim × 4 B (4 KB/centroid at 1024 dims), and Spark's 8 GB
    * broadcast ceiling therefore binds first, at ~2M cells — by the √N
    * rule a ~4×10¹²-row corpus (~4 PB at 1 KB/row). The 100 TB design
    * point (~10¹¹ rows → ~316k cells → ~1.2 GB broadcast, nSuper ≈ 562)
    * sits comfortably inside — [[fitHierarchical]]'s 4×-oversampled
    * init draw additionally collects ~4.8 × nCells vectors on the
    * driver transiently (~6 GB of heap at 316k cells × 1024 dims),
    * which small-driver deployments should budget for. Past
    * [[Ivf.RelationBroadcastCeiling]] the relation joins degrade
    * automatically to a SHUFFLE-HASH join with the centroid relation
    * as the build side (continuation (a), r17 — see [[joinPackedRelation]]):
    * same plan shape, one extra exchange of the exploded row side, no
    * 8 GB torrent block. The binding constraints past that are (i) the
    * centroid set still materializing as a DRIVER array (heap-bound —
    * ~8 GB at 2M cells × 1024 dims, plus the transient init draw
    * above) and (ii) nSuper saturating at [[MaxAutoCells]] once
    * nCells ≥ ~16.8M. The continuation past THOSE is (b): a third
    * quantizer level — super²-cells as the plan literal, supercells
    * broadcast, cells sharded as a stored relation that never
    * assembles on the driver — repeating the literal→hierarchical
    * move one level up. (b) is [[StoredQuantizer]] (r17, fit via
    * [[fitStored]]): past ~2M cells, store the cells and keep only the
    * √nCells-sized top level driver-resident.
    */
  final case class HierarchicalQuantizer(
      superCentroids: Array[Array[Float]],
      centroids: Array[Array[Float]],
      superProbe: Int) extends RelationQuantizer {
    def nCells: Int = centroids.length
    def nSuper: Int = superCentroids.length

    /** The centroid RELATION (cell, ccv, sup): RDD-backed (not a
      * LocalRelation, whose rows would ride the logical plan through
      * every Catalyst copy), supercell assigned by the SAME kernel the
      * row side uses so the two sides cannot disagree on tie-breaks.
      */
    def cellsRelation(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      val rows = centroids.toSeq.zipWithIndex.map { case (c, i) =>
        (i, c.toSeq)
      }
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1)).toDF("cell", "ccv")
        .withColumn("sup", cellOf(col("ccv"), superCentroids))
    }

    def relationBytes: Long =
      nCells.toLong * (4L * centroids(0).length + 32L)
  }

  /** The quantizer families: [[fitQuantizer]] picks one from the
    * resolved cell count. Every search shape ([[ivfTopK]],
    * [[ivfServeTopK]], [[Pq.ivfPqTopK]], [[Pq.ivfPqServeTopK]],
    * [[Pq.annMatchesIncoming]]) and every [[Artifacts]] cell-index verb
    * takes one, and [[family]] is the one place that turns it into the
    * family's assignment and probe routines.
    */
  sealed trait CoarseQuantizer

  /** The two families whose cell centroids are a RELATION joined on
    * `sup` ([[HierarchicalQuantizer]], [[StoredQuantizer]]) rather than
    * a plan literal. Each supplies its (cell, ccv, sup) relation and its
    * byte estimate; the packed form and the join sizing are defined
    * here once.
    */
  sealed trait RelationQuantizer extends CoarseQuantizer {

    /** The centroid relation (cell, ccv, sup). */
    def cellsRelation(spark: org.apache.spark.sql.SparkSession): DataFrame

    /** Estimated serialized bytes of the centroid relation: 4 B/float
      * plus per-row framing. Flat and packed forms carry the same
      * float payload, so one estimate serves both.
      */
    def relationBytes: Long

    /** [[cellsRelation]] PACKED one row per supercell — (sup,
      * cells array&lt;int&gt;, flat array&lt;float&gt;) with the
      * sub-matrix flattened in ascending-cell order (for the stored
      * family one nCells-row shuffle on `sup`, never a driver pass).
      * The assignment join fans out superProbe rows per input instead
      * of superProbe × cells-per-supercell; the per-group argmax runs
      * inside the [[graft.functions.VecOps.bestCellIn]] kernel
      * (measured 40× fewer join rows at nCells=8192, nSuper=91).
      */
    def packedRelation(spark: org.apache.spark.sql.SparkSession): DataFrame =
      cellsRelation(spark)
        .groupBy("sup")
        .agg(array_sort(collect_list(struct(col("cell"), col("ccv"))))
          .as("packed"))
        .select(col("sup"),
          transform(col("packed"), x => x.getField("cell")).as("cells"),
          flatten(transform(col("packed"), x => x.getField("ccv")))
            .as("flat"))

    /** [[packedRelation]] SIZED for its `sup` equi-join
      * (continuation (a) of the scale story in
      * [[HierarchicalQuantizer]]'s scaladoc): under
      * [[Ivf.RelationBroadcastCeiling]] it is broadcast — the relation
      * reaches each executor once via torrent and the exploded row
      * side never exchanges; past the ceiling (where an 8 GB torrent
      * block is a hard refusal, not a tuning knob) it degrades to a
      * SHUFFLE-HASH join — both sides exchange on `sup`, and the hint
      * keeps the relation the per-partition hash BUILD side (a
      * sort-merge would sort the superProbe-exploded row side — the
      * exact materialization the packed-relation design exists to
      * avoid). Same plan shape otherwise, one extra exchange of the row
      * side. The ceiling is overridable per session via the
      * `graft.hier.relationBroadcastCeiling` conf (tests force the
      * shuffle path with 0; an operator with generous executor memory
      * can raise it toward the 8 GB hard limit).
      */
    def joinPackedRelation(
        spark: org.apache.spark.sql.SparkSession): DataFrame =
      sizedForJoin(spark, packedRelation(spark))

    /** [[cellsRelation]] sized for its `sup` join, as
      * [[joinPackedRelation]].
      */
    def joinCellsRelation(
        spark: org.apache.spark.sql.SparkSession): DataFrame =
      sizedForJoin(spark, cellsRelation(spark))

    private def sizedForJoin(spark: org.apache.spark.sql.SparkSession,
                             rel: DataFrame): DataFrame = {
      // Spark byte-string parse ("4g", "512m", plain bytes) with the
      // conf key named on failure — a bare toLong would surface an
      // operator's natural "4g" spelling as an uncontextualized
      // NumberFormatException from deep inside plan construction
      // (code-review r17)
      val ceiling = spark.conf
        .getOption("graft.hier.relationBroadcastCeiling")
        .map { v =>
          try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v)
          catch { case e: NumberFormatException =>
            throw new IllegalArgumentException(
              "graft.hier.relationBroadcastCeiling: cannot parse '" + v +
                "' as a byte size (plain bytes or a Spark byte string " +
                "like 4g / 512m)", e)
          }
        }
        .getOrElse(RelationBroadcastCeiling)
      if (relationBytes <= ceiling) broadcast(rel)
      else rel.hint("shuffle_hash")
    }
  }

  object CoarseQuantizer {
    import scala.language.implicitConversions

    /** A bare centroid matrix IS the literal family, so callers holding
      * plain [[fitCentroids]] output pass it straight to the
      * quantizer-keyed cell-index verbs ([[Artifacts.saveIvfIndex]] and
      * the rest) without a second entry point per verb.
      */
    implicit def literal(centroids: Array[Array[Float]]): LiteralQuantizer =
      LiteralQuantizer(centroids)
  }

  /** The pre-r15 single-level quantizer: centroids as a plan literal via
    * the fused [[cellOf]] kernel. Right up to [[MaxAutoCells]].
    */
  final case class LiteralQuantizer(centroids: Array[Array[Float]])
      extends CoarseQuantizer

  /** THREE-LEVEL coarse quantizer — continuation (b) of the scale story
    * in [[HierarchicalQuantizer]]'s scaladoc: the cell centroids live as
    * a STORED parquet relation (`cellsPath`: cell, sup, ccv) that never
    * assembles on the driver, removing the two-level family's binding
    * constraints (the ~8 GB driver centroid array at ~2M cells and the
    * broadcast/torrent ceiling). Only the TOP level (`superQ` — a
    * [[LiteralQuantizer]] up to [[MaxAutoCells]] supercells, a
    * [[HierarchicalQuantizer]] past it, i.e. the full three levels:
    * super²-cells as the plan literal, supercells broadcast, cells
    * stored) is driver-resident, and it is √nCells-sized: 16.8M cells
    * ride under a 4096-supercell literal; ~4×10¹² cells (≈ an exabyte
    * corpus by the √N rule) under a hierarchical top level whose OWN
    * driver footprint is ~8 GB — the exabyte regime is the new honest
    * edge, now bounded by the top level one rung up, not by the cells.
    *
    * Assignment and probing repeat the literal→hierarchical move one
    * level up: a row finds its `superProbe` nearest supercells through
    * `superQ` (narrow kernel when literal; the relation join when
    * hierarchical), then joins the stored cell relation on `sup` —
    * broadcast under [[RelationBroadcastCeiling]], shuffle-hash build
    * side past it (the same [[RelationQuantizer.joinPackedRelation]]
    * degrade the two-level family uses). The candidate-set semantics are identical
    * to [[HierarchicalQuantizer]]: a centroid whose supercell the row
    * did not probe is never a candidate; at `superProbe == nSuper` the
    * assignment is exactly [[cellOf]] PROVIDED the top level itself
    * admits every supercell as a candidate — trivially true for a
    * literal top, but a hierarchical top ranks supercells through its
    * OWN `superProbe`, so the identity needs the top level fully
    * probing too (`topHq.superProbe == topHq.nSuper`, which is how
    * IvfSpec pins it against [[assignCellsJoin]] on the same centroid
    * content). With a partially-probing hier top, some supercells are
    * never candidates even at this level's `superProbe == nSuper`, and
    * the assignment is the usual IVF approximation, not [[cellOf]].
    *
    * `dim` rides the quantizer (the relation never materializes
    * driver-side, so the byte estimate for the broadcast/shuffle sizing
    * cannot read `centroids(0).length`). Reading the relation costs one
    * parquet scan per evaluation — at nCells this is centroid-sized,
    * not corpus-sized, and planning-time stable.
    */
  final case class StoredQuantizer(
      superQ: CoarseQuantizer,
      cellsPath: String,
      nCells: Int,
      dim: Int,
      superProbe: Int) extends RelationQuantizer {
    require(!superQ.isInstanceOf[StoredQuantizer],
      "a StoredQuantizer top level is unsupported: the top level must " +
        "be driver-resident (literal or hierarchical) — a stored top " +
        "level would mean a fourth level was needed, i.e. nCells past " +
        "the exabyte regime; fit the corpus with a larger maxCell " +
        "instead")

    def nSuper: Int = superQ match {
      case LiteralQuantizer(c) => c.length
      case hq: HierarchicalQuantizer => hq.nCells
      case _: StoredQuantizer => 0 // unreachable (constructor refusal)
    }

    /** The stored centroid relation (cell, sup, ccv) — one parquet scan,
      * no driver materialization.
      */
    def cellsRelation(spark: org.apache.spark.sql.SparkSession): DataFrame =
      spark.read.parquet(cellsPath).select("cell", "sup", "ccv")

    def relationBytes: Long = nCells.toLong * (4L * dim + 32L)
  }

  /** The √N rule WITHOUT the literal ceiling — what a corpus actually
    * wants. [[autoNCells]] clamps this to [[MaxAutoCells]] for the
    * literal path; when the unclamped value exceeds the ceiling,
    * [[fitQuantizer]] switches to the hierarchical family instead of
    * saturating (pre-r15 the scan fraction stopped shrinking at ~16M
    * rows; now 10⁹ rows get their ~31k cells).
    */
  def autoNCellsUnbounded(corpusRows: Long): Int =
    math.max(4,
      math.round(math.sqrt(math.max(corpusRows, 1L).toDouble)).toInt)

  /** Default supercell fan-out for hierarchical assignment: probing
    * √nSuper top-level cells mirrors the nProbe ≈ √nCells rule one level
    * up (candidate set ≈ superProbe·nCells/nSuper centroids per row).
    */
  def autoSuperProbe(nSuper: Int): Int =
    math.max(3, math.round(math.sqrt(nSuper.toDouble)).toInt)

  /** The stored family's top-level size for a requested cell count —
    * the √nCells rule with the 4-cell floor. ONE definition (code-
    * review r17): [[fitStored]] sizes its internal top-level fit with
    * it, and callers that pre-fit a top level to pass as
    * `superQOverride` (the contract rows' train-once pattern) must
    * derive the SAME size, or the override would silently pin a shape
    * production fitStored no longer produces.
    */
  def autoNSuperTarget(nCells: Int): Int =
    math.max(4, math.round(math.sqrt(nCells.toDouble)).toInt)

  /** Fit the right quantizer family for the corpus: literal centroids up
    * to [[MaxAutoCells]], the two-level broadcast-relation quantizer past
    * it. This is the auto entry point the verdict asked for — callers
    * that pin an explicit small nCells (the oracle rows) keep the exact
    * pre-r15 plan and hashes.
    */
  def fitQuantizer(corpus: DataFrame, nCells: Int = AutoCells,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   seed: Long = 42L): CoarseQuantizer = {
    val knownRows =
      if (nCells == AutoCells) Some(corpus.count()) else None
    val n = if (nCells == AutoCells) autoNCellsUnbounded(knownRows.get)
            else nCells
    if (n <= MaxAutoCells)
      LiteralQuantizer(fitCentroids(corpus, n, vecCol, seed = seed))
    else fitHierarchical(corpus, n, idCol, vecCol, seed = seed,
      knownRows = knownRows)
  }

  /** Distributed fit for cell counts past the driver-Lloyd ceiling:
    * top-level quantizer via the normal bounded-sample driver fit,
    * centroid INIT from a seeded corpus sample (k-means++ at 31k centers
    * over an 8M sample is itself O(k²·s) — out of driver budget; random
    * init + distributed Lloyd is the standard trade), then `iters`
    * distributed Lloyd steps where assignment is the broadcast-join path
    * and the mean update runs in the [[lloydStepQ]] quantized-integer
    * domain (per-dim sums are exact longs, so the update is
    * partition-order deterministic — no float crosses an aggregation
    * boundary).
    *
    * Two iterations: as with the driver fit, cell assignment needs a
    * stable coarse partition, not converged centroids — each extra
    * iteration is a full corpus pass through the assignment join.
    *
    * `idCol` is retained for signature stability but no longer read:
    * the fit loop assigns under a synthetic per-row id, so training
    * (like [[fitCentroids]]) needs no id column and tolerates repeated
    * ids (ADVICE r15).
    */
  def fitHierarchical(corpus: DataFrame, nCells: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      seed: Long = 42L, iters: Int = 2,
                      superProbe: Int = AutoProbe,
                      knownRows: Option[Long] = None): HierarchicalQuantizer = {
    val rows = knownRows.getOrElse(corpus.count())
    // init: a seeded OVERSAMPLED draw (4× nCells — ADVICE r16: a ~1.2×
    // draw made nCellsEff the distinct count of the SAMPLE, so a
    // duplicate-heavy corpus that still had ≥ nCells distinct vectors
    // silently got a lower-resolution quantizer than requested),
    // content-deduped (Seq equality — Array equality is by reference:
    // duplicate init centroids would permanently merge their cells)
    // and truncated to nCells.
    val initSample = boundedSample(corpus, 4L * nCells, vecCol,
      AutoSample, seed + 1, Some(rows))
      .map(_.toSeq).distinct.take(nCells).map(_.toArray)
    require(initSample.nonEmpty, "empty corpus: nothing to fit")
    // degenerate fewer-distinct-points-than-cells: SHRINK nCells to the
    // distinct sample size instead of padding by repetition — the
    // distributed Lloyd below never reseeds (unlike the driver lloyd()),
    // so padded duplicate centroids would stay permanently merged and
    // the quantizer would silently carry dead cells (ADVICE r15). A
    // corpus with fewer distinct vectors than requested cells cannot
    // meaningfully occupy them anyway. Named, not silent (ADVICE r16):
    // the caller asked for a resolution the corpus can't fill.
    val nCellsEff = math.min(nCells, initSample.length)
    if (nCellsEff < nCells)
      Console.err.println(
        s"[graft] WARN fitHierarchical: the 4x-oversampled init draw " +
          s"holds only $nCellsEff distinct vectors — shrinking the " +
          s"quantizer from the requested $nCells cells (a duplicate-" +
          "heavy or tiny corpus cannot occupy more)")
    val nSuper = math.min(MaxAutoCells,
      math.max(4, math.round(math.sqrt(nCellsEff.toDouble)).toInt))
    val superC = lloyd(
      boundedSample(corpus, nSuper * TrainRowsPerCell, vecCol,
        AutoSample, seed, Some(rows)), nSuper, seed, iters = 10)
    val sProbe =
      if (superProbe == AutoProbe) autoSuperProbe(nSuper) else superProbe
    val init = Array.tabulate(nCellsEff)(i => initSample(i).clone())
    var hq = HierarchicalQuantizer(superC, init, sProbe)
    val scale = 10000
    // the fit loop assigns with a SYNTHETIC per-row id: training needs
    // per-ROW assignments, not per-id ones, so routing it through the
    // caller's id column both hard-failed on corpora with repeated ids
    // (the duplicate-id tripwire protects INDEXING, where a collapsed
    // row becomes unreachable — for a mean update collapsing duplicates
    // is merely a reweighting) and required an id column at all, which
    // the literal fitCentroids path never did (ADVICE r15)
    // MATERIALIZED ONCE, lineage truncated (ADVICE r16 medium):
    // monotonically_increasing_id is nondeterministic across
    // re-evaluations — assignCellsJoin reads the frame on BOTH sides of
    // its reattach equi-join (argmax side + vector side), and the loop
    // reads it again every iteration. If the caller's corpus contains a
    // shuffle/sample whose within-partition order is not stable across
    // re-evaluations, independently recomputed sides would assign
    // DIFFERENT ids to the same row and the join would silently pair a
    // vector with another row's argmax cell, corrupting the mean update
    // with no error raised. localCheckpoint — not trackedPersist — is
    // correct here by the materializeOnce doctrine itself: lineage
    // truncation IS the point (a persist block is recomputable from
    // lineage, so an executor loss would regenerate divergent ids and
    // corrupt silently; a lost checkpoint block fails the fit job
    // loudly, and a training job is retryable). Side benefit: the
    // corpus scan runs once, not ~2×iters times.
    val fitInput = corpus.select(
      monotonically_increasing_id().as("__fit_id"), col(vecCol))
      .localCheckpoint(eager = true)
    try {
      var it = 0
      while (it < iters) {
        // the shared quantizedMeans update (the lloydStepQ machinery);
        // cells that lose every member keep their centroid
        val updated = quantizedMeans(
          assignCellsJoin(fitInput, hq, "__fit_id", vecCol)
            .select(col("cell"), col(vecCol)),
          vecCol, scale)
          .map { case (c, qc) =>
            c.toInt -> qc.map(q => (q.toDouble / scale).toFloat).toArray }
        hq = hq.copy(centroids = Array.tabulate(nCellsEff)(j =>
          updated.getOrElse(j, hq.centroids(j))))
        it += 1
      }
    } finally {
      // Dataset.unpersist routes only through the CacheManager, which
      // has no entry for a localCheckpoint'd frame — it frees NOTHING
      // here (code-review r17). Release the checkpointed RDD's blocks
      // directly (the bpeInduct idiom), in a finally so a failed Lloyd
      // step can't pin a corpus-sized block set for the JVM's lifetime.
      org.apache.spark.sql.graftbridge.Bridge.checkpointRdd(fitInput)
        .foreach(_.unpersist(blocking = false))
    }
    hq
  }

  /** Distributed fit for the STORED family — continuation (b): NOTHING
    * cell-level ever materializes on the driver. The top level is the
    * normal family dispatch one rung down ([[LiteralQuantizer]] driver
    * fit for ≤ [[MaxAutoCells]] supercells, [[fitHierarchical]] past
    * it); the cell centroids are initialized from a distributed
    * 4×-oversampled seeded draw (deduped, pseudo-randomly ordered by a
    * content hash so the truncation to nCells is unbiased, ids by
    * sort + zipWithIndex — deterministic for a fixed distinct set) and
    * refined by `iters` distributed Lloyd steps whose assignment is
    * [[assignCellsStored]] and whose mean update is the shared
    * [[quantizedMeansFrame]] arithmetic KEPT AS A FRAME — the update
    * joins back to the previous relation (absent cell = keep previous
    * centroid, the shared convention) and each iteration is written to
    * parquet, which is both the lineage truncation and the determinism
    * anchor. Every per-row step is the exact-integer quantized domain,
    * so the fit is replayable bit-for-bit.
    *
    * The final relation lands at `cellsPath` (cell, sup, ccv);
    * iteration scratch lives under `cellsPath + ".fit"` and is removed
    * on success or failure. `superQOverride` lets tests (and operators
    * resuming with a pinned top level) skip the top-level fit.
    */
  def fitStored(corpus: DataFrame, nCells: Int, cellsPath: String,
                idCol: String = "vec_id", vecCol: String = "embedding",
                seed: Long = 42L, iters: Int = 2,
                superProbe: Int = AutoProbe,
                knownRows: Option[Long] = None,
                superQOverride: Option[CoarseQuantizer] = None)
      : StoredQuantizer = {
    val spark = corpus.sparkSession
    val rows = knownRows.getOrElse(corpus.count())
    val nSuperTarget = autoNSuperTarget(nCells)
    val superQ = superQOverride.getOrElse(
      if (nSuperTarget <= MaxAutoCells)
        LiteralQuantizer(fitCentroids(corpus, nSuperTarget, vecCol,
          seed = seed))
      else fitHierarchical(corpus, nSuperTarget, idCol, vecCol,
        seed = seed, knownRows = Some(rows)))
    val dim = superQ match {
      case LiteralQuantizer(c) => c(0).length
      case hq: HierarchicalQuantizer => hq.centroids(0).length
      case _: StoredQuantizer => throw new IllegalArgumentException(
        "fitStored: a stored top level is unsupported (see " +
          "StoredQuantizer's constructor refusal)")
    }
    // ---- init: the fitHierarchical draw, distributed. 4× oversample
    // (ADVICE r16), content-dedup, hash-ordered truncation to nCells —
    // ordering by the vector ITSELF would bias the kept set toward the
    // low lexicographic region; xxhash64 gives a deterministic
    // pseudo-random order (ccv tie-break for exact-duplicate hashes).
    val fraction =
      if (rows <= 4L * nCells) 1.0
      else math.min(1.0, 1.2 * (4.0 * nCells) / rows)
    // membership by CONTENT hash, not positional Bernoulli (VERDICT r18
    // task 2, the boundedSample discipline — via the ONE shared
    // hashSampled predicate): a positional sample of a post-shuffle
    // corpus draws a different SUBSET each run even under a fixed
    // seed — the hash-ordered truncation below only fixed the
    // ordering half of the determinism story. Few-DISTINCT fallback
    // (code-review r19, second pass — the boundedSample hole existed
    // here too): hash admission is all-copies-together, so a corpus
    // with fewer distinct vectors than ~1/fraction can have EVERY
    // value rejected — the filtered draw would read as "empty corpus"
    // on a non-empty one, deterministically. An empty filtered side
    // retries on the full corpus; the fallback only fires when the
    // distinct count is of order 1/fraction, so the distinct below
    // stays small.
    val drawnBase =
      if (fraction >= 1.0) corpus
      else {
        val filtered = hashSampled(corpus, vecCol, fraction, seed + 1)
        if (filtered.isEmpty) corpus else filtered
      }
    val drawn = drawnBase
      .select(col(vecCol).as("ccv")).distinct()
      .orderBy(xxhash64(col("ccv")), col("ccv"))
    // sort + zipWithIndex: the deterministic distributed id assignment
    // (a global row_number window would single-partition nCells rows;
    // zipWithIndex over the range-sorted RDD keeps the sort sharded and
    // assigns ids in sort order — the one sanctioned RDD hop here)
    val initRdd = drawn.rdd.zipWithIndex()
      .filter(_._2 < nCells)
      .map { case (r, i) =>
        org.apache.spark.sql.Row(i.toInt, r.getSeq[Float](0)) }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("ccv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false),
        nullable = false)))
    val work = new java.io.File(cellsPath + ".fit")
    val scale = 10000
    try {
      var cur = new java.io.File(work, "it0").toString
      // sup assigned through the SAME top level rows will use — the
      // relation and the row side cannot disagree on tie-breaks
      withSupStored(spark.createDataFrame(initRdd, schema), superQ)
        .write.mode("overwrite").parquet(cur)
      val nCellsEff = spark.read.parquet(cur).count().toInt
      require(nCellsEff > 0, "empty corpus: nothing to fit")
      if (nCellsEff < nCells)
        Console.err.println(
          s"[graft] WARN fitStored: the 4x-oversampled init draw " +
            s"holds only $nCellsEff distinct vectors — shrinking the " +
            s"quantizer from the requested $nCells cells (a duplicate-" +
            "heavy or tiny corpus cannot occupy more)")
      val sProbe = superQ match {
        case LiteralQuantizer(c) =>
          if (superProbe == AutoProbe) autoSuperProbe(c.length)
          else superProbe
        case hq: HierarchicalQuantizer =>
          if (superProbe == AutoProbe) autoSuperProbe(hq.nCells)
          else superProbe
        case _: StoredQuantizer => 0 // unreachable
      }
      // the fit frame: synthetic ids, materialized ONCE (the
      // fitHierarchical doctrine — monotonically_increasing_id is
      // nondeterministic across re-evaluations, and the assignment
      // join reads the frame on both sides)
      val fitInput = corpus.select(
        monotonically_increasing_id().as("__fit_id"), col(vecCol))
        .localCheckpoint(eager = true)
      try {
        var it = 0
        while (it < iters) {
          val sqIter =
            StoredQuantizer(superQ, cur, nCellsEff, dim, sProbe)
          val assigned =
            assignCellsStored(fitInput, sqIter, "__fit_id", vecCol)
              .select(col("cell"), col(vecCol))
          val updated = quantizedMeansFrame(assigned, vecCol, scale)
            .select(col("cell").cast("int").as("cell"),
              transform(col("qc"),
                q => (q.cast("double") / scale).cast("float"))
                .as("newccv"))
          val next = new java.io.File(work, s"it${it + 1}").toString
          // absent cell = keep the previous centroid (the shared
          // empty-cell convention); sup re-derived — an updated
          // centroid may cross a supercell boundary
          withSupStored(
            spark.read.parquet(cur)
              .join(updated, Seq("cell"), "left")
              .select(col("cell"),
                coalesce(col("newccv"), col("ccv")).as("ccv")),
            superQ)
            .write.mode("overwrite").parquet(next)
          cur = next
          it += 1
        }
      } finally {
        org.apache.spark.sql.graftbridge.Bridge.checkpointRdd(fitInput)
          .foreach(_.unpersist(blocking = false))
      }
      // ---- empty-supercell prune (r18): a supercell owning zero cells
      // can never contribute a candidate, so keeping it in the top
      // level wastes probe slots — and when superProbe < nSuper it can
      // ORPHAN rows whose probed supercells are all empty (valid
      // embedding, NULL cell — the census refusal's second cause,
      // which a tiny-nCells fit hits readily: the 4-supercell floor
      // can exceed what the fitted cells occupy). Pruning a LITERAL
      // top is exact and strictly monotone: every previously-probed
      // owning supercell stays probed, freed slots go to the
      // next-best owners, so partial-probe candidate sets only grow
      // and full-probe results are identical. Sup ids are REMAPPED
      // (not re-derived): the old argmax super of each cell is kept,
      // so its restricted argmax cannot change, and a float-tie flip
      // under renumbering cannot creep in. A hierarchical top is left
      // alone — at nCells = nSuper² scale emptiness needs extreme
      // skew, and the census refusal names it if it happens.
      val finalRel = spark.read.parquet(cur)
      val owning = finalRel.select("sup").distinct()
        .collect().map(_.getInt(0)).sorted
      val (prunedQ, sProbeEff) = superQ match {
        case LiteralQuantizer(supers) if owning.length < supers.length =>
          Console.err.println(
            s"[graft] WARN fitStored: ${supers.length - owning.length} " +
              s"of ${supers.length} supercells own zero cells — " +
              "pruning them from the top level (empty supercells " +
              "waste probe slots and can orphan rows under partial " +
              "probing)")
          (LiteralQuantizer(owning.map(supers)),
            math.min(sProbe, owning.length))
        case q => (q, sProbe)
      }
      val written = prunedQ match {
        case LiteralQuantizer(_) if !(prunedQ eq superQ) =>
          import spark.implicits._
          val remap = owning.toSeq.zipWithIndex.toDF("sup", "supNew")
          finalRel.join(broadcast(remap), "sup")
            .select(col("cell"), col("supNew").as("sup"), col("ccv"))
        case _ => finalRel.select("cell", "sup", "ccv")
      }
      written.write.mode("overwrite").parquet(cellsPath)
      StoredQuantizer(prunedQ, cellsPath, nCellsEff, dim, sProbeEff)
    } finally Artifacts.deleteRec(work)
  }

  /** Attach each cell centroid's supercell through the stored family's
    * top level — the relation side of the three-level agreement: the
    * SAME kernel/join the row side uses, so tie-breaks cannot diverge.
    * Input (cell, ccv) [+ extra columns dropped]; output
    * (cell, sup, ccv).
    */
  private def withSupStored(cells: DataFrame,
                            superQ: CoarseQuantizer): DataFrame =
    superQ match {
      case LiteralQuantizer(supers) =>
        cells.select(col("cell"),
          cellOf(col("ccv"), supers).as("sup"), col("ccv"))
      case hq: HierarchicalQuantizer =>
        // rename around the cell/cell clash: the assignment's output
        // column is also named "cell"
        assignCellsJoin(cells.withColumnRenamed("cell", "cid"),
          hq, "cid", "ccv")
          .select(col("cid").as("cell"), col("cell").as("sup"),
            col("ccv"))
      case _: StoredQuantizer => throw new IllegalStateException(
        "unreachable: StoredQuantizer refuses a stored top level at " +
          "construction")
    }

  /** Broadcast-relation cell assignment (the hierarchical counterpart of
    * `select(..., cellOf(vec))`): narrow kernel pass to the row's
    * superProbe supercells, BroadcastHashJoin against
    * [[RelationQuantizer.packedRelation]] (one packed row per
    * supercell; past [[RelationBroadcastCeiling]] the join degrades to
    * shuffle-hash — [[RelationQuantizer.joinPackedRelation]]),
    * per-group argmax inside the
    * [[graft.functions.VecOps.bestCellIn]] kernel, cross-group argmax as
    * a plain `max` on the (sim, cell) struct — Spark's nan-safe double
    * ordering plus tie-to-higher-cell is exactly the [[cellOf]] order,
    * so with full supercell probing the result IS cellOf (IvfSpec pins
    * it). Partial aggregation collapses each row's superProbe candidate
    * rows map-side; the exchange ships one (id, vec, best) row per input
    * row.
    *
    * Output: (idCol, vecCol, cell).
    */
  def assignCellsJoin(dfIn: DataFrame, hq: HierarchicalQuantizer,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val sProbe = math.min(hq.superProbe, hq.nSuper)
    assignCellsViaRelation(dfIn,
      hq.joinPackedRelation(dfIn.sparkSession), sProbe, "hierarchical",
      idCol, vecCol)(df =>
      df.select(col(idCol), col(vecCol),
        explode(probeCells(col(vecCol), hq.superCentroids,
          sProbe)).as("sup")))
  }

  /** The relation-join argmax assignment shared by the hierarchical and
    * the stored-cells families ([[assignCellsJoin]] /
    * [[assignCellsStored]]) — `probedOf` supplies the family's
    * (id, vec, sup) supercell-probe frame; everything downstream (the
    * packed-group argmax kernel, the null-id refusal, the duplicate-id
    * tripwire, the null-embedding-preserving reattach) is ONE
    * definition, so a tripwire or ordering change cannot drift between
    * families. `bound` is the family's per-row candidate ceiling (each
    * probed supercell contributes at most one packed row).
    */
  private def assignCellsViaRelation(dfIn: DataFrame, rel: DataFrame,
                                     bound: Int, what: String,
                                     idCol: String, vecCol: String)(
      probedOf: DataFrame => DataFrame): DataFrame = {
    // null-id refusal (ADVICE r15): the vector reattach below is an id
    // EQUI-join, so a null-id row would never match its own argmax row
    // — it got a NULL cell despite a valid embedding (misreported
    // downstream as a null-embedding row), and several null-id rows
    // could trip the duplicate-id tripwire with a null-concat message.
    // The literal cellOf path assigns per row and has no such hazard;
    // here the id IS the join key, so refuse nulls up front with the
    // problem named (the null-EMBEDDING refusal's convention).
    val df = dfIn.withColumn(idCol,
      when(col(idCol).isNotNull, col(idCol)).otherwise(raise_error(lit(
        s"null id in $what cell assignment: the per-row argmax " +
          "reattaches vectors by an id equi-join, so a null-id row " +
          "would silently get a NULL cell despite a valid embedding; " +
          "assign real ids before indexing"))))
    // the kernel is PROJECTED before the aggregate, and the argmax agg
    // carries only (id, best) — the agg is sort-based (a struct buffer
    // is not hash-aggregable), so anything in its input rides a
    // corpus-wide sort; the first-draft shape evaluated the kernel
    // INSIDE the agg and sorted superProbe exploded rows each carrying
    // the embedding AND the joined sub-matrix. Vectors re-attach by an
    // id equi-join afterwards: one exchange of the corpus (vec shipped
    // once) beats superProbe embedding copies through the agg sort at
    // any production dim.
    val best = probedOf(df)
      .join(rel, "sup")
      .select(col(idCol),
        vectors.best_cell_in(col(vecCol), col("flat"), col("cells"))
          .as("best"))
      .groupBy(idCol)
      .agg(max(col("best")).as("best"), count(lit(1)).as("__cands"))
      // unique-id tripwire (code-review r15): the argmax groups BY ID,
      // so two rows sharing an id would collapse to one global best and
      // the reattach join would fan that cell onto both — the second
      // row stored in a cell that is not its nearest, silently
      // unreachable at probe time (the literal path assigns per ROW).
      // One row contributes AT MOST `bound` candidates (the probe frame
      // emits distinct supercells; the join is 1:1 on sup — possibly
      // fewer when a probed supercell owns no centroids), so a group
      // past `bound` is definitely a duplicated id — refused in-plan
      // with the id named, no extra pass. Duplicates whose probe sets
      // land only on empty supercells can slip this bound; the artifact
      // paths' membership tripwires remain the backstop there.
      .select(col(idCol),
        when(col("__cands") <= bound, col("best.cell"))
          .otherwise(raise_error(concat(
            lit(s"duplicate ids in $what cell assignment: id '"),
            col(idCol),
            lit(s"' produced more than $bound candidate rows — the " +
              "per-id argmax would collapse distinct rows to one cell " +
              "(the literal cellOf path assigns per row); dedupe or " +
              "re-key the corpus first")))).as("cell"))
    // LEFT join: a null embedding produces no candidate rows (the
    // kernel's null gate), so an inner join would silently DROP the row
    // — the literal path assigns it a NULL cell and the downstream
    // census raises the named null-embedding refusal; the left join
    // preserves exactly that contract (IvfSpec pins the parity)
    df.select(col(idCol), col(vecCol)).join(best, Seq(idCol), "left")
  }

  /** A row's `sProbe` nearest supercells under the stored family's top
    * level, as an exploded (id, vec, sup) frame — the one place the
    * three-level dispatch lives: a narrow kernel pass when the top
    * level is literal (≤ [[MaxAutoCells]] supercells), the
    * hierarchical relation-join ranking ([[probeCellsJoin]] — one
    * window exchange of the row side) past it. Both orders are the
    * shared (sim desc, cell desc) tie-break, so corpus assignment and
    * query probing agree whichever branch runs.
    */
  private[northstar] def probeSupsFrame(df: DataFrame,
                                        sq: StoredQuantizer,
                                        sProbe: Int, idCol: String,
                                        vecCol: String): DataFrame =
    sq.superQ match {
    case LiteralQuantizer(supers) =>
      df.select(col(idCol), col(vecCol),
        explode(probeCells(col(vecCol), supers,
          math.min(sProbe, supers.length))).as("sup"))
    case hq: HierarchicalQuantizer =>
      probeCellsJoin(df, hq, sProbe, idCol, vecCol)
        .select(col("query_id").as(idCol), col("qv").as(vecCol),
          col("cell").as("sup"))
    case _: StoredQuantizer =>
      throw new IllegalStateException(
        "unreachable: StoredQuantizer refuses a stored top level at " +
          "construction")
  }

  /** STREAM-SAFE variant of [[probeSupsFrame]] for the ingest screen
    * ([[Pq.annMatchesIncoming]] under a stored quantizer): the batch form ranks a
    * hierarchical top level's supercells with a window
    * ([[probeCellsJoin]]), which Structured Streaming refuses. Here the
    * hier-top branch takes the per-super²-group top-`sProbe`
    * supercells via the packed-group kernel and UNIONS them — a
    * SUPERSET of the exact global top-sProbe (per-group tops, never
    * window-ranked), admissible for candidate generation because the
    * screen is followed by an exact confirm: extra candidates cost
    * work, never correctness. The literal-top branch is the same exact
    * kernel both forms use.
    */
  private[northstar] def probeSupsIngest(df: DataFrame,
                                         sq: StoredQuantizer,
                                         sProbe: Int, idCol: String,
                                         vecCol: String): DataFrame =
    sq.superQ match {
      case _: LiteralQuantizer =>
        // the batch form's literal branch IS already window-free and
        // exact — delegate so the ingest and batch probes cannot drift
        // on tie-breaks (code-review r17)
        probeSupsFrame(df, sq, sProbe, idCol, vecCol)
      case hq2: HierarchicalQuantizer =>
        val rel = hq2.joinPackedRelation(df.sparkSession)
          .select(col("sup").as("sup2"), col("cells"), col("flat"))
        df.select(col(idCol), col(vecCol),
            explode(probeCells(col(vecCol), hq2.superCentroids,
              math.min(hq2.superProbe, hq2.nSuper))).as("sup2"))
          .join(rel, "sup2")
          .select(col(idCol), col(vecCol),
            explode(vectors.top_cells_in(col(vecCol), col("flat"),
              col("cells"), sProbe)).as("sup"))
      case _: StoredQuantizer =>
        throw new IllegalStateException(
          "unreachable: StoredQuantizer refuses a stored top level at " +
            "construction")
    }

  /** [[assignCellsJoin]] for the STORED family: same argmax, tripwires,
    * and reattach (the shared [[assignCellsViaRelation]] body), with
    * the supercell probe routed through the three-level top and the
    * packed relation read from parquet instead of built from a driver
    * array. Output: (idCol, vecCol, cell).
    */
  def assignCellsStored(dfIn: DataFrame, sq: StoredQuantizer,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val sProbe = math.min(sq.superProbe, sq.nSuper)
    assignCellsViaRelation(dfIn,
      sq.joinPackedRelation(dfIn.sparkSession), sProbe, "stored-cells",
      idCol, vecCol)(df => probeSupsFrame(df, sq, sProbe, idCol, vecCol))
  }

  /** Hierarchical probe side: each query's nProbe nearest cells among
    * the candidates its superProbe supercells admit — same supercell
    * kernel and same (sim desc, cell desc) ordering as
    * [[assignCellsJoin]], so a corpus row and a query that land in the
    * same supercells rank the same centroids identically. Output is
    * [[Family.probe]]'s: (query_id, qv, cell).
    *
    * Duplicate-id tripwire (ADVICE r17): the ranking window in
    * [[probeOverCellsRelation]] partitions by query_id ALONE, so two
    * rows sharing an id would have their candidates MERGED and cut to
    * nProbe total — downstream, [[assignCellsViaRelation]]'s `__cands`
    * refusal could then never fire for the stored family's hier-top
    * branch ([[probeSupsFrame]]), and duplicated ids silently collapsed
    * to one cell, exactly in the >2M-cell three-level configuration
    * this path exists for. Detection must happen where per-row
    * structure is still visible: the supercell explode emits AT MOST
    * `sSup` rows per input row (exactly `sSup` for a non-null
    * embedding), so any id with more than `sSup` probe rows is
    * definitely duplicated — refused in-plan with the id named. The
    * count window needs no ordering and hash-partitions by query_id,
    * the same exchange the ranking window downstream requires, so under
    * a broadcast cells-relation join the plan's exchange count is
    * unchanged (the shuffle moves to the slimmer pre-join frame); only
    * the shuffle-hash degrade path pays one extra slim exchange.
    * Residual (same as the literal branch's `__cands` bound): a
    * duplicate pair whose OTHER row has a null embedding emits ≤ sSup
    * rows and slips through — the artifact paths' membership tripwires
    * remain the backstop there.
    */
  private[northstar] def probeCellsJoin(queries: DataFrame,
                                        hq: HierarchicalQuantizer,
                                        nProbe: Int, idCol: String,
                                        vecCol: String): DataFrame = {
    val sSup = math.min(hq.superProbe, hq.nSuper)
    val probed = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"),
      explode(probeCells(col(vecCol), hq.superCentroids, sSup)).as("sup"))
    // the refusal rides the join key — every consumer reads `sup`, so
    // column pruning cannot drop the guard
    val guarded = probed
      .withColumn("__perId",
        count(lit(1)).over(Window.partitionBy("query_id")))
      .select(col("query_id"), col("qv"),
        when(col("__perId") <= sSup, col("sup"))
          .otherwise(raise_error(concat(
            lit("duplicate ids in hierarchical cell probe: id '"),
            col("query_id"),
            lit(s"' produced more than $sSup supercell-probe rows — " +
              "the per-id ranking window would merge distinct rows' " +
              "candidates (corpus rows silently collapse to one cell; " +
              "query rows merge their top-k); dedupe or re-key the " +
              "probing frame first")))).as("sup"))
    probeOverCellsRelation(guarded,
      hq.joinCellsRelation(queries.sparkSession), nProbe)
  }

  /** The probe-ranking tail shared by [[probeCellsJoin]] and the stored
    * family's [[probeCellsStored]]: score every centroid the probed
    * supercells admit by exact cosine, keep each query's nProbe best
    * under the (sim desc, cell desc) order corpus assignment uses — one
    * definition, so a tie-break change cannot desynchronize the two
    * families' corpus and query sides. `probed` carries
    * (query_id, qv, sup); `rel` the (cell, ccv, sup) centroid relation.
    */
  private def probeOverCellsRelation(probed: DataFrame, rel: DataFrame,
                                     nProbe: Int): DataFrame = {
    val cand = probed
      .join(rel, "sup")
      .select(col("query_id"), col("qv"), col("cell"),
        vectors.vec_cosine(col("qv"), col("ccv")).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("cell").desc)
    cand.withColumn("_pr", row_number().over(w))
      .filter(col("_pr") <= nProbe)
      .select("query_id", "qv", "cell")
  }

  /** [[probeCellsJoin]] for the STORED family: the query's supercells
    * through the three-level top ([[probeSupsFrame]]), centroid scoring
    * and the nProbe cut through the shared ranking tail. Output:
    * (query_id, qv, cell).
    */
  private[northstar] def probeCellsStored(queries: DataFrame,
                                          sq: StoredQuantizer,
                                          nProbe: Int, idCol: String,
                                          vecCol: String): DataFrame =
    probeOverCellsRelation(
      probeSupsFrame(
        queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
        sq, math.min(sq.superProbe, sq.nSuper), "query_id", "qv"),
      sq.joinCellsRelation(queries.sparkSession), nProbe)

  /** Split policy over an assigned frame WITHOUT collecting the
    * census — the null-cell refusal and the oversized filter run as
    * two bounded actions (≤1 row and ≤#oversized rows reach the
    * driver). Born as the stored family's form; since r18 (VERDICT
    * r17 task 4) it is also the publish protocol's
    * ([[Artifacts]] save paths), so NO save path collects a
    * cell-proportional census. The policy arithmetic is
    * [[splitBitsFromCounts]] — identical bits for identical counts,
    * so frame and collected paths cannot diverge.
    *
    * Takes the ASSIGNED frame, not a pre-aggregated census, because the
    * null-cell refusal must name the right repair (ADVICE r17): in the
    * relation-join families a NULL cell has TWO causes — a null
    * embedding (the kernel's null gate emitted no candidates), or a
    * VALID embedding whose probed supercells all own zero cell
    * centroids (the left-join miss; likelier in the stored family,
    * where the distributed init's truncation can leave supercells
    * empty). Blaming both on null embeddings sent the operator to
    * repair rows when the index itself needed a refit. The census here
    * carries a per-cell null-embedding count so the refusal can split
    * the blame; `vecCol` names the assigned frame's vector column.
    */
  private[northstar] def splitBitsFromAssigned(
      assigned: DataFrame, vecCol: String,
      maxCell: Int): Map[Int, Int] = {
    val census = assigned.groupBy("cell").agg(
      count(lit(1)).as("count"),
      sum(when(col(vecCol).isNull, 1L).otherwise(0L)).as("null_emb"))
    // two tiny jobs over the (persisted) assigned frame's census: the
    // null check must not ride the oversized filter, or Catalyst could
    // prune the refusal for under-sized null cells
    if (!census.filter(col("cell").isNull).isEmpty)
      refuseNullCells(assigned, vecCol)
    splitBitsFromCounts(
      census.filter(col("count") > maxCell).select("cell", "count")
        .collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap, maxCell)
  }

  /** The ADVICE-r17 null-cell refusal, callable from any path that
    * DETECTED a null cell cheaply (a census relation probe) and now
    * needs the nulls-vs-orphaned blame split: one aggregation over the
    * assigned frame, paid only on the failure path. Always throws.
    */
  private[northstar] def refuseNullCells(assigned: DataFrame,
                                         vecCol: String): Nothing = {
    val r = assigned.filter(col("cell").isNull).agg(
      count(lit(1)).as("count"),
      sum(when(col(vecCol).isNull, 1L).otherwise(0L)).as("null_emb"))
      .collect()(0)
    val total = r.getLong(0)
    val nulls = r.getLong(1)
    val orphaned = total - nulls
    val causes = Seq(
      if (nulls > 0) Some(s"$nulls rows with null embeddings (the " +
        "kernel's null gate assigns them a NULL cell) — drop or " +
        "repair those rows") else None,
      if (orphaned > 0) Some(s"$orphaned rows with VALID embeddings " +
        "whose probed supercells all own zero cell centroids (the " +
        "distributed init can leave supercells empty) — refit the " +
        "quantizer or raise superProbe") else None).flatten
    throw new IllegalArgumentException(
      s"corpus contains $total rows with a NULL cell assignment — " +
        "they cannot be indexed and would silently vanish from ANN " +
        "results: " + causes.mkString("; "))
  }

  /** The centroids of the SPLIT cells only — the stored family's
    * [[subcellOfSparse]] input. Bounded by corpus skew (#oversized
    * cells), never by nCells; the one sanctioned driver materialization
    * the stored family performs on centroid data.
    */
  private[northstar] def storedSplitCentroids(
      sq: StoredQuantizer, spark: org.apache.spark.sql.SparkSession,
      splits: Map[Int, Int]): Map[Int, Array[Float]] =
    if (splits.isEmpty) Map.empty
    else sq.cellsRelation(spark)
      .filter(col("cell").isin(splits.keys.toSeq.map(Int.box): _*))
      .select("cell", "ccv").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap

  // ---- distributed Lloyd refinement, exact quantized-integer space ----
  //
  // The driver-sample fit above is the right TRAINING cost model, but
  // refining those centroids against the FULL corpus is a distributed
  // job: assignment is a narrow pass, the mean update one shuffle. Done
  // in a quantized integer domain so the whole iteration is
  // cross-engine/partition-order deterministic: components round to a
  // 1e-4 grid (exact: float32 widens to double losslessly), squared
  // distances and per-dim sums are 64-bit integer arithmetic (|q| ≤
  // 1e4·|x|, dist² ≤ dim·4e8 — no overflow for unit-scale embeddings),
  // argmin ties break to the lowest cell, and updated centroids round
  // back to the grid before the next pass. No float ever crosses an
  // aggregation boundary, so a DuckDB replay of the same arithmetic
  // produces bit-identical assignments.

  /** Quantize a float vector column to the 1e-`scale` integer grid. */
  def quantizeVec(vec: Column, scale: Int = 10000): Column =
    transform(vec, x => round(x.cast("double") * scale).cast("long"))

  /** Integer squared distance to each centroid; cell = first argmin
    * (0-based, ties to the lowest cell id).
    */
  def assignQ(qv: Column, centroidsQ: Seq[Seq[Long]]): Column = {
    val dists = array(centroidsQ.map { c =>
      aggregate(zip_with(qv, typedLit(c), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
    }: _*)
    (array_position(dists, array_min(dists)) - 1).cast("long")
  }

  /** One distributed Lloyd iteration: assign every corpus vector to its
    * nearest centroid, then recompute each centroid as the per-dim mean
    * of its members, rounded back to the quantized grid. Cells that
    * lose every member keep their previous centroid. The k·dim update
    * table (≤ a few thousand rows for any real quantizer) is the only
    * driver-side materialization — the sanctioned bounded collect, same
    * contract as [[fitCentroids]].
    *
    * Plan shape: narrow quantize+assign pass → posexplode (dim rows per
    * vector) → one (cell, pos) aggregate. At 100 TB the explode is the
    * data-sized intermediate; partial aggregation collapses it to
    * k·dim·shufflePartitions rows before the exchange.
    */
  def lloydStepQ(emb: DataFrame, centroidsQ: Seq[Seq[Long]],
                 vecCol: String = "embedding",
                 scale: Int = 10000): Seq[Seq[Long]] = {
    val qv = quantizeVec(col(vecCol), scale)
    val updated = quantizedMeans(
      emb.select(assignQ(qv, centroidsQ).as("cell"), col(vecCol)),
      vecCol, scale)
    centroidsQ.indices.map(j => updated.getOrElse(j.toLong, centroidsQ(j)))
  }

  /** The quantized-integer per-cell mean update over an ALREADY-assigned
    * (cell, vector) frame — ONE definition shared by [[lloydStepQ]] and
    * [[fitHierarchical]]'s distributed Lloyd (whose assignment is the
    * broadcast join), so a change to the rounding, the sort key, or the
    * empty-cell convention cannot drift between them (code-review r15).
    * All arithmetic is exact integer (sums of 1e-`scale`-grid longs);
    * the ≤k·dim result is the sanctioned bounded collect. Cells with no
    * members are simply absent — callers keep their previous centroid.
    */
  private def quantizedMeans(assigned: DataFrame, vecCol: String,
                             scale: Int): Map[Long, Seq[Long]] =
    quantizedMeansFrame(assigned, vecCol, scale)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap

  /** The mean-update ARITHMETIC of [[quantizedMeans]] as a frame —
    * (cell long, qc array&lt;long&gt;) — shared with [[fitStored]]'s
    * fully-distributed Lloyd, whose update must never materialize on
    * the driver. One definition: the rounding, the per-dim sort key,
    * and the empty-cell convention (absent row = keep the previous
    * centroid) cannot drift between the collected and the stored fits.
    */
  private def quantizedMeansFrame(assigned: DataFrame, vecCol: String,
                                  scale: Int): DataFrame =
    assigned
      .select(col("cell").cast("long").as("cell"),
        posexplode(quantizeVec(col(vecCol), scale)).as(Seq("pos", "q")))
      .groupBy("cell", "pos")
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .groupBy("cell")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("s"), col("n")))),
        x => round(x.getField("s").cast("double") / x.getField("n"))
          .cast("long")).as("qc"))
}
