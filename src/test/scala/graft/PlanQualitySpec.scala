package graft

/** Plan-shape regression guards: the properties that make these queries
  * scale (pushdown, pruning, broadcast) asserted on the optimized plans,
  * so a refactor that silently degrades the plan fails loudly.
  */
class PlanQualitySpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"
  private def planOf(name: String): String = {
    // plan-SHAPE assertions must see the freshly-BUILT plan: suites
    // share one session, and a tracked persist left by an earlier
    // suite over a value-identical subtree (artifact-derived centroids
    // canonicalize equal) otherwise serves part of the tree from an
    // InMemoryRelation — the codegen markers and join shapes the
    // asserts grep for then vanish, flakily by suite order (first
    // seen when the stored-cells suites joined the run, r17)
    graft.northstar.Dedup.releasePersisted()
    spark.catalog.clearCache()
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("s2 incremental scan: watermark predicate pushed to parquet") {
    val p = planOf("s2_scan_incremental")
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(event_id"), p.take(800))
  }

  test("flagship join: dimension side broadcast, no sort-merge") {
    val p = planOf("q1_flagship")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("flagship scan: column pruning reads only needed lineitem columns") {
    val p = planOf("q1_flagship")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_shipdate"), readSchema)
  }

  test("star revenue: all three dimension joins broadcast") {
    val p = planOf("q_star_revenue")
    val n = "BroadcastHashJoin".r.findAllIn(p).length
    assert(n >= 3, s"expected >=3 broadcast joins, got $n")
  }

  test("star bucketed: fact-fact edge joins bucket-to-bucket — zero Exchange on orderkey, only the agg shuffle remains") {
    val p = planOf("q_star_bucketed")
    // the one per-query shuffle q_star_revenue pays on lineitem ⋈ orders
    // must be GONE: both sides scan pre-bucketed layout
    assert(!p.contains("Exchange hashpartitioning(l_orderkey")
      && !p.contains("Exchange hashpartitioning(o_orderkey"),
      "fact join still shuffles:\n" + p.take(1500))
    // exactly one keyed exchange total: the (r_name, o_orderpriority) agg
    assert(shuffles(p) == 1, s"expected 1 exchange, got ${shuffles(p)}:\n${p.take(1500)}")
    // the three dims still broadcast; the fact join is the pinned SMJ
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3, p.take(1500))
    assert(p.contains("SortMergeJoin"), p.take(1500))
    // bucket pruning metadata proves the scans are BUCKETED scans, not
    // plain parquet directories
    assert(p.contains("SelectedBucketsCount"), p.take(1500))
  }

  test("winnow append serve: no cartesian; the bucket cap is a broadcast anti-join against the small dropped list") {
    val p = planOf("ns_winnow_append")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    val antiLines = p.linesIterator.filter(_.contains("LeftAnti")).toSeq
    assert(antiLines.nonEmpty,
      "expected the dropped-bucket anti-join:\n" + p.take(1200))
    assert(antiLines.forall(_.contains("BroadcastHashJoin")),
      "cap anti-join must broadcast, not shuffle, the dropped list:\n" +
        antiLines.mkString("\n"))
  }

  test("mmr over ANN pool: no cartesian node — the exact O(q×corpus) scorer never runs") {
    val p = planOf("ns_mmr_ann")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      "ANN-pooled MMR planned a cartesian:\n" + p.take(1500))
    // and the pool really is the LSH bucket join: an equi-join on bucket
    assert(p.contains("bucket"), p.take(1500))
  }

  test("aggregate uses map-side partial aggregation") {
    val p = planOf("a1_multi_agg")
    // TWO HashAggregate nodes = partial + final; the old fallback arm
    // matched the final node alone, so losing map-side combining could
    // not fail this test (code-review r14)
    assert(p.contains("partial_sum")
      || "HashAggregate".r.findAllIn(p).size >= 2, p.take(800))
  }

  // ---- bench top-5: the heavy queries fail CI on plan regressions, not
  // ---- in the bench numbers

  private def shuffles(p: String): Int =
    "Exchange hashpartitioning".r.findAllIn(p).length

  private def assertNoQuadratic(p: String): Unit = {
    assert(!p.contains("CartesianProduct"), "CartesianProduct in plan")
    assert(!p.contains("BroadcastNestedLoopJoin"), "BroadcastNestedLoopJoin in plan")
  }

  test("decontam: benchmark gram set broadcast into a semi-join, no shuffle join") {
    val p = planOf("ns_decontam")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p.take(800))
    assertNoQuadratic(p)
  }

  test("stratified sample: pure narrow filter — zero exchanges before the scan") {
    val p = planOf("ns_sample_stratified")
    assert(shuffles(p) == 0, s"sampling must not shuffle:\n${p.take(800)}")
  }

  test("pipeline e2e: dedup semi-join present, no quadratic node") {
    val p = planOf("ns_pipeline_e2e")
    assert(p.contains("LeftSemi"), p.take(800))
    assertNoQuadratic(p)
  }

  test("corpus merge: hash anti-join on the fingerprint key, never a nested loop") {
    val p = planOf("ns_corpus_merge")
    assert(p.contains("LeftAnti"), p.take(800))
    assertNoQuadratic(p)
  }

  test("shard pack: one window shuffle partitioned by source") {
    val p = planOf("ns_shard_pack")
    assert(p.contains("Window"), p.take(800))
    assert(shuffles(p) <= 1, s"expected <=1 exchange:\n${p.take(800)}")
  }

  test("range join: bin-bucketed equi-join, never a nested loop") {
    val p = planOf("ns_range_join")
    assert(p.contains("__bin"), p.take(800)) // joined on the bin key
    assertNoQuadratic(p)
  }

  test("minhash pairs: bucket-cap semi-joins present, no quadratic join") {
    val p = planOf("ns_minhash_pairs")
    // capBuckets guards BOTH sides of the candidate self-join
    assert("LeftSemi".r.findAllIn(p).length >= 2, p.take(800))
    assertNoQuadratic(p)
  }

  test("simhash pairs: bucket-cap semi-joins present, no quadratic join") {
    val p = planOf("ns_simhash_pairs")
    assert("LeftSemi".r.findAllIn(p).length >= 2, p.take(800))
    assertNoQuadratic(p)
  }

  test("imagedup pairs: bucket-cap semi-joins present, no quadratic " +
       "join — fingerprints, never pixels, ride the banded join") {
    val p = planOf("ns_imagedup_pairs")
    assert("LeftSemi".r.findAllIn(p).length >= 2, p.take(800))
    assertNoQuadratic(p)
    // NOTE deliberately no payload-column assert: the payload NAME
    // legitimately appears in the decode stage (mapPartitions directly
    // on the scan, before any exchange); bytes-through-a-shuffle is
    // ShuffleBudgetSpec's ceiling, not a string match
  }

  test("audiodup pairs: the same banded-join shape for audio " +
       "fingerprints — capped, no quadratic") {
    val p = planOf("ns_audiodup_pairs")
    assert("LeftSemi".r.findAllIn(p).length >= 2, p.take(800))
    assertNoQuadratic(p)
  }

  test("imagedup incoming over the STORED index: stream-shaped screen " +
       "— corpus side capped, no quadratic; the corpus side reads " +
       "the 8-byte artifact, not images") {
    val p = planOf("ns_imagedup_incoming")
    assert("LeftSemi".r.findAllIn(p).length >= 1, p.take(800))
    assertNoQuadratic(p)
  }

  test("neardup collapse: LSH pair generation materialized once — final plan is checkpoint scans, no band join") {
    val p = planOf("ns_neardup_collapse")
    // connectedComponents checkpoints the pair list up front, so the
    // composed plan must scan the materialized RDD, NOT re-run the LSH
    // band join (losing the ckpt would re-evaluate it per CC branch)
    assert(p.contains("ExistingRDD"), "expected checkpoint scan in plan:\n" + p.take(800))
    assert(!p.contains("band_hash"), "LSH band join re-evaluated in final plan")
    assert("LeftSemi".r.findAllIn(p).isEmpty, "bucket-cap semi-join re-evaluated in final plan")
    assertNoQuadratic(p)
  }

  test("ivf topk: probe join is an equi join on cell id, no quadratic join") {
    val p = planOf("ns_knn_ivf")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin")
      || p.contains("SortMergeJoin"), p.take(800))
    // the fused nearest-cells kernel must stay inside whole-stage
    // codegen: a non-codegen fallback (e.g. a future edit that breaks
    // doGenCode) would silently revert the assignment pass to
    // interpreted per-row evaluation — the cost class the kernel was
    // built to remove (r14)
    val assignLine = p.linesIterator
      .find(l => l.contains("nearestcells") && l.contains("Project"))
      .getOrElse("")
    assert(assignLine.nonEmpty,
      "nearest-cells kernel absent from the ivf plan:\n" + p.take(1200))
    // `*(n)` is the simple-format WholeStageCodegen marker
    assert(assignLine.contains("*("),
      "ivf assignment fell out of whole-stage codegen:\n" + assignLine.take(300))
    assertNoQuadratic(p)
  }

  test("ivfpq serve: codes-only index scan pruned to probed cells at planning time, no quadratic join") {
    val p = planOf("ns_knn_ivfpq_serve")
    val pf = "PartitionFilters: \\[[^\\]]*cell".r
    assert(pf.findFirstIn(p).isDefined,
      "expected non-empty PartitionFilters on cell in plan:\n" + p.take(1200))
    // the index scan must read codes, never a raw embedding column (the
    // dim/m on-disk reduction is the point of the PQ index)
    val idxScan = p.linesIterator.find(l =>
      l.contains("ReadSchema") && l.contains("codes")).getOrElse("")
    assert(idxScan.nonEmpty && !idxScan.contains("cv"),
      "codes-only index scan missing or carrying raw vectors:\n" + idxScan)
    assertNoQuadratic(p)
  }

  test("rand proj: pure narrow map — zero exchanges") {
    val p = planOf("ns_rand_proj")
    assert(shuffles(p) == 0,
      s"JL projection must not shuffle:\n${p.take(800)}")
    assertNoQuadratic(p)
  }

  test("ann incoming: stream-safe shape — equi-joins only, no window, no quadratic node") {
    val p = planOf("ns_ann_incoming")
    assert(!p.contains("Window"),
      "a window would break append-mode streaming:\n" + p.take(800))
    assertNoQuadratic(p)
  }

  test("multiprobe lsh: bucket equi-join, no quadratic node") {
    val p = planOf("ns_knn_lsh_multiprobe")
    assert(p.contains("bucket"), p.take(800))
    assertNoQuadratic(p)
  }

  test("ivf serve: stored-index scan pruned to probed cells at PLANNING time, no quadratic join") {
    val p = planOf("ns_knn_ivf_serve")
    // the probed-cell IN-list must land in the scan node's
    // PartitionFilters (directory pruning decided before execution),
    // not ride as a post-scan Filter over all cells
    val pf = "PartitionFilters: \\[[^\\]]*cell".r
    assert(pf.findFirstIn(p).isDefined,
      "expected non-empty PartitionFilters on cell in plan:\n" + p.take(1200))
    assertNoQuadratic(p)
  }

  test("heavy terms: top-k plans as TakeOrdered with partial aggregation — no global sort") {
    val p = planOf("ns_heavy_terms")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(p.contains("partial_count")
      || "HashAggregate".r.findAllIn(p).size >= 2, p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(800))
  }

  test("substring overlap: bucket-cap semi-join present, no quadratic join") {
    val p = planOf("ns_substring_overlap")
    assert(p.contains("LeftSemi"), p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p.take(800))
  }

  test("substring remove: flagged spans via equi-joins + anti-join on position, no quadratic node") {
    val p = planOf("ns_substring_remove")
    assert(p.contains("LeftAnti"), p.take(800))
    assertNoQuadratic(p)
  }

  test("line dedup: boilerplate set anti-joined on the line digest, no quadratic node") {
    val p = planOf("ns_line_dedup")
    assert(p.contains("LeftAnti"), p.take(800))
    assertNoQuadratic(p)
    // the df count aggregates DISTINCT (doc, line-hash) pairs with a
    // partial phase — the skew-resistant shape (a window over the line
    // partition would sort a cookie banner's entire occurrence list on
    // one reducer)
    assert(p.contains("HashAggregate"), p.take(800))
  }

  test("semdedup: cell-scoped pair join materialized through the CC checkpoint, no quadratic node") {
    val p = planOf("ns_semdedup")
    // collapseByPairs checkpoints the pair list: the final plan scans the
    // materialized RDD instead of re-running the cell join per CC branch
    assert(p.contains("ExistingRDD"), p.take(800))
    assertNoQuadratic(p)
  }

  test("winnow pairs: in-row sketch (no Window/Sort/checkpoint), one fp shuffle, no quadratic node") {
    val p = planOf("ns_winnow_pairs")
    // the r9 shape exploded one row per token and ran a per-doc window
    // sort through a localCheckpoint — 9.7 s / 15% of the driver bench;
    // the array-native sketch must never reintroduce any of the three
    assert(!p.contains("Window"), "per-doc window sort is back: " + p.take(800))
    assert(!p.contains("Sort "), "sort before the sketch is back: " + p.take(800))
    assert(!p.contains("ExistingRDD"), "checkpoint is back: " + p.take(800))
    // one pass: sketch → groupBy(fp) collect_list → size cap → pair
    // explode → pair rollup. Exactly two key exchanges (fp, pair).
    assert(shuffles(p) == 2, s"expected 2 exchanges, got ${shuffles(p)}: " + p.take(800))
    assertNoQuadratic(p)
  }

  test("winnow pairs: the fused JVM sketch kernel is in the plan, not the HOF chain (r21 guard)") {
    // r20 fused the transform/slice/md5 higher-order chain (string +
    // byte[] + digest alloc per gram, the suite's largest codegen
    // method) into TextOps.winnowSketch; a revert would reintroduce
    // the alloc storm invisibly — wall time at sf0.1 hides it
    val p = planOf("ns_winnow_pairs")
    assert(p.contains("winnowsketchexpr"),
      "fused winnow kernel gone from the plan: " + p.take(800))
    val pIn = planOf("ns_winnow_incoming")
    assert(pIn.contains("winnowsketchexpr"),
      "fused winnow kernel gone from the incoming plan: " + pIn.take(800))
  }

  test("length floor: the cumulative window runs over the distinct-value histogram, never raw rows (r21 guard)") {
    // quantileFloor's unpartitioned window is safe ONLY because its
    // input is the value-domain histogram (KB-sized for integer token
    // counts at any corpus). A refactor that hoists the window onto
    // the document rows would single-partition the corpus. The
    // histogram aggregate must sit BELOW the window in the plan
    // (children print after parents).
    val p = planOf("ns_length_floor")
    val wIdx = p.indexOf("Window ")
    val hIdx = p.indexOf("HashAggregate(keys=[n_tokens")
    assert(wIdx >= 0 && hIdx > wIdx,
      s"window input is not the n_tokens histogram (window@$wIdx, " +
        s"histogram@$hIdx):\n" + p.take(1200))
  }

  test("curation semantic keep-best: one lazy plan — stored-label scan + score join + ONE keeper window, no in-plan CC") {
    val p = planOf("ns_curation_semantic")
    // labels come from the pinned artifact (parquet scan), never an
    // in-query CC iteration (that would plan as ExistingRDD checkpoint
    // scans); keeper choice is exactly one row_number window
    assert(!p.contains("ExistingRDD"), "in-plan CC is back: " + p.take(800))
    // exactly one Window NODE (the plan also shows windowspecdefinition
    // and the WindowGroupLimit rank-pushdown — both belong to it)
    assert("\\+- Window \\[".r.findAllIn(p).size == 1,
      "expected exactly one keeper window: " + p.take(800))
    assertNoQuadratic(p)
  }

  test("dedup keep-best: served from the stored collapse-label artifact — no in-plan CC, ONE keeper window") {
    val p = planOf("ns_dedup_keep_best")
    // cluster labels come from Artifacts.collapseLabelsFor (parquet
    // scan), never an in-query CC iteration (that would plan as
    // ExistingRDD checkpoint scans); keeper choice is one row_number
    // window. Live in-plan CC stays with ns_dedup_clusters.
    assert(!p.contains("ExistingRDD"), "in-plan CC is back: " + p.take(800))
    assert("\\+- Window \\[".r.findAllIn(p).size == 1,
      "expected exactly one keeper window: " + p.take(800))
    assertNoQuadratic(p)
  }

  test("decontam remove: benchmark window set broadcast into a semi-join, no quadratic node") {
    val p = planOf("ns_decontam_remove")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p.take(800))
    assertNoQuadratic(p)
  }

  test("line dedup serve: frozen set anti-joined, no quadratic node") {
    val p = planOf("ns_line_dedup_serve")
    assert(p.contains("LeftAnti"), p.take(800))
    assertNoQuadratic(p)
  }

  test("tfidf: doc-subset filter pushed into the tf scan, df branch stays corpus-global") {
    val p = planOf("ns_tfidf")
    assert(p.contains("LessThan(doc_id,100)"), p.take(1200))
    val scans = "PushedFilters: \\[[^\\]]*\\]".r.findAllIn(p).toSeq
    assert(scans.exists(_.contains("LessThan")) && scans.exists(!_.contains("LessThan")),
      s"expected one pruned and one global scan, got: $scans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p.take(800))
  }

  test("chunking and probe scoring: pure narrow passes — zero exchanges") {
    // ns_probe_serve: the TRAINED-weight scorer — training happens in
    // query construction (artifact-pinned), the returned plan must be
    // the zero-shuffle narrow serving pass
    for (q <- Seq("ns_chunk", "ns_embed_probe", "ns_probe_serve")) {
      val p = planOf(q)
      assert(!p.contains("Exchange"), s"$q has a shuffle:\n" + p.take(800))
    }
  }

  test("source filter: tiny per-source stats frame broadcast back, no quadratic join") {
    val p = planOf("ns_source_filter")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assertNoQuadratic(p)
  }

  test("full outer join: equi-join on custkey, never a nested loop") {
    val p = planOf("q_sql_outer_join")
    assert(p.contains("FullOuter"), p.take(800))
    assertNoQuadratic(p)
  }

  test("as-of join: union + window formulation — no join node, bounded shuffles") {
    val p = planOf("x_asof_join")
    assert(!p.contains("Join"), "as-of should be join-free (union + window)")
    assert(shuffles(p) <= 2, s"expected <=2 shuffles, got ${shuffles(p)}:\n${p.take(800)}")
  }

  test("session windows: one shuffle, no join") {
    val p = planOf("x_session_windows")
    assert(!p.contains("Join"), "session windows should be join-free")
    assert(shuffles(p) == 1, s"expected 1 shuffle, got ${shuffles(p)}:\n${p.take(800)}")
  }

  test("exists/not-exists: both rewrite to semi/anti hash joins, never per-row subqueries") {
    val p = planOf("q_sql_exists")
    assert(p.contains("LeftSemi"), p.take(800))
    assert(p.contains("LeftAnti"), p.take(800))
    assertNoQuadratic(p)
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("temperature sample: rate frame broadcast-joined on the stratum key") {
    val p = planOf("ns_sample_temperature")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("epoch shuffle: exactly one exchange — the bucket-partitioned window, no global sort") {
    val p = planOf("ns_epoch_shuffle")
    assert(shuffles(p) == 1, s"expected 1 shuffle, got ${shuffles(p)}:\n${p.take(800)}")
    assert(!p.contains("Join"), "epoch shuffle must be join-free")
  }

  test("length floor: scalar threshold rides a 1-row broadcast, data side never sort-merged") {
    val p = planOf("ns_length_floor")
    // the only nested-loop allowed is the 1-row threshold broadcast
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(800))
  }

  test("pack sequences: at most two keyed shuffles (source window, shard agg), no join") {
    val p = planOf("ns_pack_sequences")
    assert(shuffles(p) <= 2, s"expected <=2 shuffles, got ${shuffles(p)}:\n${p.take(800)}")
    assert(!p.contains("Join"), "pack sequences must be join-free")
  }

  test("quantize embed: pure narrow arithmetic — zero exchanges, no join") {
    val p = planOf("ns_quantize_embed")
    assert(shuffles(p) == 0, s"expected 0 shuffles, got ${shuffles(p)}:\n${p.take(800)}")
    assert(!p.contains("Join"), "quantization must be join-free")
  }

  test("unigram LM: only the 1-row total broadcast beyond keyed joins — no cartesian, no sort-merge") {
    val p = planOf("ns_unigram_lm")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p.take(800))
  }

  test("label centroids: one keyed shuffle, no join") {
    val p = planOf("ns_label_centroids")
    assert(shuffles(p) == 1, s"expected 1 shuffle, got ${shuffles(p)}:\n${p.take(800)}")
    assert(!p.contains("Join"), "centroid aggregation must be join-free")
  }

  test("source overlap: join-free — per-gram source sets expanded locally, two keyed shuffles") {
    val p = planOf("ns_source_overlap")
    assert(!p.contains("Join"), "source overlap must be join-free")
    assert(shuffles(p) <= 2, s"expected <=2 shuffles, got ${shuffles(p)}:\n${p.take(800)}")
  }

  test("funnel: two keyed aggregations, no self-joins") {
    val p = planOf("q_funnel")
    assert(!p.contains("Join"), "funnel must be join-free")
    assert(shuffles(p) <= 1, s"expected <=1 keyed shuffle, got ${shuffles(p)}:\n${p.take(800)}")
  }

  test("lm serve: the frozen head is a literal in a pure narrow plan — zero shuffles, no join") {
    val p = planOf("ns_lm_serve")
    assert(shuffles(p) == 0, s"expected 0 shuffles, got ${shuffles(p)}:\n${p.take(800)}")
    assert(!p.contains("Join"), "serving-time scoring must be join-free")
  }

  test("budget fill: per-stratum window + rollup only, no join") {
    val p = planOf("ns_budget_fill")
    assert(shuffles(p) <= 2, s"expected <=2 shuffles, got ${shuffles(p)}:\n${p.take(800)}")
    assert(!p.contains("Join"), "budget fill must be join-free")
  }

  test("bpe pairs: top-k plans as TakeOrdered after partial aggregation — no global sort") {
    val p = planOf("ns_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("Join"), "pair counting must be join-free")
  }

  test("incoming near-dup: band-bucket equi-join, never a cartesian or nested loop") {
    val p = planOf("ns_neardup_incoming")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("bloom decontamination: pure narrow probe — zero shuffles, no join, no broadcast set") {
    val p = planOf("ns_decontam_bloom")
    assert(shuffles(p) == 0, s"expected 0 shuffles, got ${shuffles(p)}:\n${p.take(800)}")
    assert(!p.contains("Join"), "bloom screen must be join-free")
  }

  test("source cap: one keyed shuffle for the per-source window, no join") {
    val p = planOf("ns_source_cap")
    assert(shuffles(p) == 1, s"expected 1 shuffle, got ${shuffles(p)}:\n${p.take(800)}")
    assert(!p.contains("Join"), "source cap must be join-free")
  }

  test("vocab growth: distinct-before-explode, two keyed shuffles + bucket-rows window only") {
    val p = planOf("ns_vocab_growth")
    assert(!p.contains("Join"), "vocab growth must be join-free")
    // term min-agg + bucket count-agg + single-partition cumsum window
    // (its input is one row per bucket, so the single partition is safe)
    assert(shuffles(p) <= 3, s"expected <=3 shuffles, got ${shuffles(p)}:\n${p.take(800)}")
  }

  test("source entropy: totals frame broadcast back onto tf, never sort-merged") {
    val p = planOf("ns_source_entropy")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(800))
  }

  test("oov stats: K-row vocab broadcast against the token stream, never sort-merged") {
    val p = planOf("ns_oov_rate")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(800))
  }

  test("curation pipeline: one composed plan, stats ride broadcasts, no sort-merge or cartesian") {
    val p = planOf("ns_curation_config")
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the data path is scanned per derived-statistic branch but every
    // join back is a broadcast (threshold, rates) — keyed exchanges stay
    // bounded by the stage count
    assert(shuffles(p) <= 6, s"expected <=6 keyed shuffles, got ${shuffles(p)}:\n${p.take(1200)}")
  }

  test("quality screens and frozen-LM scorers: pure narrow passes — zero exchanges") {
    // gopher rules and normalization are per-row kernels; the bigram
    // scorer's heads ride as literal maps (no join side at all). Any
    // Exchange here means a statistic side leaked out of its artifact.
    for (q <- Seq("ns_gopher_rules", "ns_normalize_text", "ns_bigram_lm")) {
      val p = planOf(q)
      assert(!p.contains("Exchange"), s"$q has a shuffle:\n" + p.take(800))
      assert(!p.contains("Join"), s"$q has a join:\n" + p.take(800))
    }
  }

  test("source KL: keyed equi-joins only (term join left to AQE), never cartesian") {
    val p = planOf("ns_source_kl")
    // the per-source totals ride a broadcast hash join; the 1-row
    // corpus-total side is a broadcast cross join (the standard tiny-
    // stat shape, NOT quadratic — one build row); the vocabulary-sized
    // term join is deliberately unhinted (AQE decides at runtime)
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("bm25: df and corpus-stat sides broadcast, hit-filtered explode, no sort-merge") {
    val p = planOf("ns_bm25")
    // |Q|-row dfreq and the 1-row stats frame both broadcast; the only
    // shuffles are the tf/df/doc aggregates. A SortMergeJoin here would
    // mean the hint was lost and the vocabulary join shuffles the corpus.
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(800))
    // the explode feeds from an in-row filtered array (query hits only),
    // never the raw token stream: the generator input carries the
    // array_filter lambda
    assert(p.contains("Generate explode"), p.take(800))
    assert(p.contains("filter(split(lower("), p.take(1200))
  }

  test("bm25 serve: scoring from pinned stats is narrow — no hash exchange, no join") {
    val p = planOf("ns_bm25_serve")
    // idf/df/avgdl are driver-side constants from the artifact; per-term
    // tf is an in-row array count. The only exchange allowed is the
    // single-partition move of the 20 TakeOrdered survivors under the
    // rank window.
    assert(!p.contains("Exchange hashpartitioning"), p.take(1000))
    assert(!p.contains("Join"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("kmeans refine: final assignment is one narrow pass — no exchange, no join") {
    val p = planOf("ns_kmeans_refine")
    // the Lloyd iterations run eagerly (bounded k·dim collects); the
    // exposed frame is pure per-row arithmetic against centroid
    // literals — a regression that turns serving into a shuffle or a
    // join would show here
    assert(!p.contains("Exchange") && !p.contains("Join"), p.take(800))
  }

  test("curation funnel: single-pass — corpus scans bounded by the stat subtrees, not the stage count") {
    val p = planOf("ns_curation_funnel")
    // the r7 form aggregated 5 independent stage frames and re-derived
    // the scoring kernel ~12x (~12 parquet scans of documents); the
    // single-pass rewrite carries one main scan plus the quantile-
    // threshold and temperature-rate subtrees (which re-derive gated =
    // 1 and floored = 2 scans). A regression back to per-stage
    // aggregation would push this past 4.
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 4, s"expected <=4 corpus scans, got $scans:\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(800))
  }

  test("hier assignment: BroadcastHashJoin + ONE exchange (the map-side-" +
       "collapsed argmax), no sort-merge, no quadratic node") {
    import graft.northstar.Ivf
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val hq = Ivf.HierarchicalQuantizer(
      Ivf.fitCentroids(emb, nCells = 3, seed = 7L),
      Ivf.fitCentroids(emb, nCells = 8), superProbe = 2)
    val p = Ivf.assignCellsJoin(emb, hq)
      .queryExecution.executedPlan.toString
    // the whole point of the family: centroids reach the join as a
    // broadcast relation, not a plan literal
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    // the argmax agg is sort-based (struct buffer), so its input must
    // stay NARROW: the kernel is projected before it — a bestcellin
    // inside the aggregate functions means exploded rows carry the
    // joined sub-matrix and the embedding through a corpus-wide sort
    // (the first-draft shape, 2.4x slower at the 1M-row probe)
    assert(!p.linesIterator.filter(_.contains("SortAggregate"))
        .exists(_.contains("bestcellin")),
      "bestcellin evaluated inside the aggregate:\n" + p.take(1500))
    assert("partial".r.findFirstIn(p).isDefined,
      "argmax lost map-side partial aggregation:\n" + p.take(1200))
    // exchange budget: the narrow argmax, the two sides of the
    // vector re-attach join, and the <=nCells-row relation prep under
    // the BroadcastExchange — nothing corpus-sized beyond those
    assert(shuffles(p) <= 4, s"expected <=4 exchanges, got ${shuffles(p)}:\n${p.take(1500)}")
    assertNoQuadratic(p)
    // and the serve probe prunes the stored index at planning time,
    // like the literal family's serve test
    val path = TestTmp.dir("pq-hier") + "/idx"
    graft.northstar.Artifacts.saveIvfIndex(emb, path, hq)
    val (index, splits) = graft.northstar.Artifacts
      .loadIvfIndex(spark, path, hq)
    val sp = Ivf.ivfServeTopK(emb.filter(col("vec_id") < 5), index,
      hq, splits, k = 10, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(sp).isDefined,
      "expected planning-time cell pruning:\n" + sp.take(1200))
    assertNoQuadratic(sp)
  }
}
