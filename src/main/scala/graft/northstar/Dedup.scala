package graft.northstar

import graft.functions.texthash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines
  * (BASELINE.json north-star; SURVEY.md §7.4).
  *
  * All variants follow the scalable pattern: per-row signature computation
  * (narrow, via the codegen kernels in graft.functions — no UDFs, no
  * shuffle), then ONE shuffle keyed on a compact signature (band hash /
  * simhash chunk / normalized text hash), cheap per-row screening before
  * any pair-dedupe shuffle, and exact verification only for survivors.
  * Candidate generation never compares all pairs — the bucket join is the
  * only wide shuffle and mega-buckets are capped (capBuckets), so no
  * boilerplate cluster can go quadratic at 100 TB.
  *
  * Everything is deterministic: the hash family is FNV-1a/splitmix with
  * literal seeds (graft.functions.TextOps), so results are reproducible
  * across runs and cluster sizes.
  */
object Dedup {

  /** Id types the CC/collapse layer accepts: anything else (strings,
    * decimals) would survive a lossy cast as null and silently empty
    * the output. (IntegralType itself is private[sql].)
    */
  private val integralIdTypes: Set[org.apache.spark.sql.types.DataType] =
    Set(org.apache.spark.sql.types.ByteType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType)

  // ---------------------------------------------------------------- exact

  /** Exact dedup on a key expression: keep the row with the minimum id per
    * normalized-text group. groupBy+min is Spark's scalable exact dedup
    * (map-side partial min, one shuffle on the text hash).
    */
  def exactByText(df: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame =
    df.groupBy(normText(col(textCol)).as("norm_text"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Whitespace-collapsed, lower-cased, trimmed view of a text column —
    * the canonical form all text dedup/fingerprint ops key on.
    */
  def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Corpus-version diff — the dataset-versioning report an incremental
    * pipeline runs between snapshots: every id classified as `added`
    * (new only), `removed` (old only), `changed` (both, content
    * fingerprint differs), or `kept` (both, fingerprint equal). Content
    * identity is the md5 of [[normText]] — the same canonical form the
    * exact-dedup layer keys on, so a whitespace-only edit reads `kept`.
    *
    * One shuffle: both sides reduce to (id, fingerprint) in-row, then a
    * single full outer join on id. At 100 TB both inputs prune to two
    * columns at the scan and the join carries 16-byte digests, not
    * documents; the per-status rollup is a free second aggregate over
    * the join output.
    */
  def corpusDiff(oldCorpus: DataFrame, newCorpus: DataFrame,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    // presence is carried by an explicit flag, NOT fingerprint nullness:
    // a null text fingerprints to null, and reading that as absence
    // would misclassify a present-but-null doc as added/removed. The
    // fingerprint compare is null-safe, so null text == null text reads
    // kept.
    def side(df: DataFrame, tag: String) = df.select(col(idCol),
      md5(normText(col(textCol)).cast("binary")).as(s"fp_$tag"),
      lit(true).as(s"in_$tag"))
    side(oldCorpus, "old").join(side(newCorpus, "new"),
        Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("in_old").isNull, lit("added"))
          .when(col("in_new").isNull, lit("removed"))
          .when(col("fp_old") <=> col("fp_new"), lit("kept"))
          .otherwise(lit("changed")).as("status"))
  }

  /** The ingest-side half of [[corpusDiff]]: classify an INCOMING batch
    * (or stream) against the static previous snapshot — `added` (id
    * unseen), `changed` (id present, content digest differs), `kept`
    * (digest equal). `removed` is unobservable from the incoming side
    * by construction (it needs the full outer view; run [[corpusDiff]]
    * batch-side for that). A stream-static LEFT join on id, so it runs
    * unchanged under Structured Streaming in append mode with no state
    * store (StreamingSpec parity) — the continuous flavor of snapshot
    * versioning.
    */
  def corpusDiffIncoming(incoming: DataFrame, oldCorpus: DataFrame,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val fpIn = incoming.select(col(idCol),
      md5(normText(col(textCol)).cast("binary")).as("fp_new"))
    val fpOld = oldCorpus.select(col(idCol),
      md5(normText(col(textCol)).cast("binary")).as("fp_old"),
      lit(true).as("in_old"))
    fpIn.join(fpOld, Seq(idCol), "left")
      .select(col(idCol),
        when(col("in_old").isNull, lit("added"))
          .when(col("fp_old") <=> col("fp_new"), lit("kept"))
          .otherwise(lit("changed")).as("status"))
  }

  // -------------------------------------------------------------- minhash

  /** Word n-gram shingles of the normalized text (distinct). Kernel
    * expression (graft.functions.ShinglesExpr) — same normalization and
    * gram definition as the MinHashSig kernel, so signature estimates and
    * exact Jaccard agree on the feature set.
    */
  def shingles(c: Column, n: Int = 3): Column = texthash.shingles(c, n)

  /** Materialize a frame the surrounding plan references more than once
    * (the 4x-recompute shape: capBuckets' count branch + both candidate
    * self-join sides re-running an expensive kernel subtree).
    * persist(MEMORY_AND_DISK), NOT localCheckpoint (ADVICE r9): persist
    * is LAZY — constructing the DataFrame runs nothing — and its blocks
    * are RECOMPUTABLE from lineage, so an executor loss or cache
    * eviction recomputes instead of killing a multi-hour 100 TB run the
    * way localCheckpoint's truncated-lineage executor-local blocks do.
    * The blocks are also freeable (`spark.catalog.clearCache()` —
    * Bench's per-query hygiene), where pinned localCheckpoint blocks
    * were the block-manager pressure behind r9's 6.4x driver/builder
    * divergence on ns_winnow_pairs. localCheckpoint remains only where
    * lineage truncation is the point (the CC / BPE iteration loops).
    */
  private def materializeOnce(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    persisted.add((p, Thread.currentThread().getId))
    // self-bounding: past MaxTracked the oldest tracked frame is
    // unpersisted and dropped. Safe — persist is lazy and recomputable,
    // so an old frame still referenced simply recomputes — and it keeps
    // the queue from accumulating DataFrame (plan/session) references
    // forever in applications that free blocks via
    // spark.catalog.clearCache() and never call releasePersisted (the
    // clearCache path frees the BLOCKS but cannot drain this queue).
    while (persisted.size() > MaxTracked) {
      val old = persisted.poll()
      if (old != null) old._1.unpersist(blocking = false)
    }
    p
  }

  /** Materialize-once persist for sibling graft modules (Ivf's corpus
    * cell assignment, Similarity's cell/subcell keying): same tracked,
    * self-bounding, lazily-recomputable contract as the in-module
    * [[materializeOnce]] call sites; released by
    * [[releasePersisted]]/clearCache like every other tracked frame.
    */
  private[graft] def trackedPersist(df: DataFrame): DataFrame =
    materializeOnce(df)

  /** Cap on tracked persists; above it the oldest is released. 32
    * comfortably covers the deepest op chain (a pipeline composing
    * every dedup family still registers < 20 frames per job).
    */
  private val MaxTracked = 32

  /** Frames [[materializeOnce]] has persisted and nobody released yet
    * (ADVICE r10 #4): persist is lazy and recomputable, but its blocks
    * — including disk-spilled ones — live until someone unpersists, and
    * a long-lived application calling dedup ops per job would otherwise
    * accumulate them until `spark.catalog.clearCache()`. Bounded at
    * [[MaxTracked]] so the tracking itself can't leak.
    */
  private val persisted =
    new java.util.concurrent.ConcurrentLinkedQueue[(DataFrame, Long)]()

  /** Release every cached frame the dedup ops have created so far — the
    * caller-side contract for LONG-LIVED applications: ops like
    * [[minhashPairs]]/[[winnowPairs]]/[[connectedComponents]] persist
    * intermediate frames (lazily, recomputable) and deliberately do NOT
    * unpersist them before returning, because the returned plan still
    * references the cached subtree. Call this after each job's results
    * are materialized/written (or run `spark.catalog.clearCache()`, a
    * superset, as Bench/Verify do per query) to free the blocks.
    * Unpersist is non-blocking and lineage-safe: a released frame that
    * is referenced again simply recomputes.
    */
  def releasePersisted(): Unit = {
    var e = persisted.poll()
    while (e != null) {
      e._1.unpersist(blocking = false)
      e = persisted.poll()
    }
  }

  /** Snapshot of the frames the CURRENT THREAD has tracked so far
    * (registration happens synchronously on the registering thread),
    * for [[releaseThreadTrackedSince]].
    */
  private[graft] def threadTrackedSnapshot(): Set[DataFrame] = {
    import scala.jdk.CollectionConverters._
    val tid = Thread.currentThread().getId
    persisted.iterator().asScala.filter(_._2 == tid).map(_._1).toSet
  }

  /** Release every frame THIS THREAD tracked after `before` was
    * snapshotted — the library-internal job boundary (an index retrain
    * freeing its own corpus-resolve join and its inner save's assigned
    * frame). Unlike [[releasePersisted]] — the CALLER-side
    * whole-session contract — this cannot touch frames concurrent jobs
    * on OTHER threads registered or are mid-query over (code-review
    * r17: a plain snapshot-diff of the whole queue still released
    * concurrent registrations landing during the minutes-long fit).
    */
  private[graft] def releaseThreadTrackedSince(
      before: Set[DataFrame]): Unit = {
    import scala.jdk.CollectionConverters._
    val tid = Thread.currentThread().getId
    persisted.iterator().asScala
      .filter(e => e._2 == tid && !before(e._1)).toList
      .foreach { e =>
        persisted.remove(e): Unit
        e._1.unpersist(blocking = false)
      }
  }

  /** Drop LSH buckets larger than `maxBucket`: a bucket of B rows costs
    * B² candidate pairs, so one boilerplate-heavy mega-bucket dominates the
    * whole job. Capping is standard practice at scale — membership in a
    * huge bucket means "similar to thousands of documents", i.e.
    * boilerplate, which near-dup dedup handles by other means. Implemented
    * as count + semi-join on the SAME key as the candidate join, so AQE
    * coalesces the two shuffles.
    */
  private def capBuckets(banded: DataFrame, keys: Seq[String],
                         maxBucket: Int): DataFrame = {
    val small = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxBucket)
      .drop("__n")
    banded.join(small, keys, "left_semi")
  }

  /** Exact-substring overlap pairs: documents sharing at least one
    * distinct `windowTokens`-token sliding window (stride 1), the
    * fixed-window form of exact-substring dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL'22 — their suffix
    * array is single-machine; sliding-window fingerprints are the
    * distributed equivalent). Any substring of >= windowTokens shared
    * tokens contains a common aligned window, so stride 1 guarantees
    * detection; documents shorter than the window contribute their whole
    * normalized text (exact-dup semantics for shorts). Output:
    * (doc_a, doc_b, n_shared_windows).
    *
    * Plan: one tokenize+shingle pass (distinct within doc via the
    * ShinglesExpr kernel) → O(total tokens) window rows through ONE
    * equi-join on the 128-bit md5 window digest — a fixed 32-byte key
    * instead of the ~windowTokens×word-length string, so the shuffle is
    * ~10× thinner and collision risk is negligible (and the digest is
    * engine-portable, so the oracle replays it bit-for-bit). Mega-buckets
    * (boilerplate windows shared by > maxBucket docs) are capped by the
    * count+semi-join pattern before they go quadratic.
    */
  def substringOverlapPairs(docs: DataFrame, windowTokens: Int = 50,
                            idCol: String = "doc_id",
                            textCol: String = "text",
                            maxBucket: Int = 1000): DataFrame = {
    val wins = docs.select(col(idCol).as("doc"),
        explode(shingles(col(textCol), windowTokens)).as("win"))
      .filter(length(col("win")) > 0)
      .select(col("doc"), md5(col("win").cast("binary")).as("wh"))
    // materialize the fingerprints ONCE: the bucket-cap count branch
    // and both sides of the candidate self-join would otherwise re-run
    // the tokenize + shingle + md5 pass 4x (it dominates the op). The
    // materialized frame is the window index — the write-once artifact
    // the incremental-ingest path stores as parquet anyway.
    val capped = capBuckets(materializeOnce(wins), Seq("wh"), maxBucket)
    val a = capped.select(col("wh"), col("doc").as("doc_a"))
    val b = capped.select(col("wh"), col("doc").as("doc_b"))
    // windows are distinct per doc, so each shared window contributes
    // exactly one (doc_a, doc_b) row: count(*) IS the distinct overlap
    a.join(b, Seq("wh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_windows"))
  }

  /** Duplicated-span REMOVAL — the remedy half of exact-substring dedup
    * ([[substringOverlapPairs]] is the detection half): every token
    * position covered by a `windowTokens`-token window that also occurs
    * in a LOWER-id document is excised, and the document is rewritten
    * from its surviving tokens (Lee et al., ACL'22: remove all but one
    * occurrence of each duplicated span; the keeper is the lowest id
    * holding the span — the keep-min convention of [[exactByText]] /
    * [[collapseByPairs]], so originals survive intact and derived
    * quoting copies lose exactly the quoted span). Whole-document
    * collapse handles full copies; this handles the boilerplate-heavy
    * crawls where documents share paragraphs but are not duplicates.
    *
    * Output: one row per input document — (idCol, n_tokens, n_removed,
    * text_md5) with text_md5 = md5 of the space-joined surviving tokens
    * (md5('') for fully-excised or empty docs) — the audit frame; join
    * back on id when the rewritten text itself is wanted.
    *
    * Plan: ONE tokenize pass feeds both the window fingerprints and the
    * token stream; per-window stats (min holder id, holder count) are
    * one md5-keyed shuffle; flagged occurrences explode to covered
    * positions — ≤ windowTokens rows per flagged window BEFORE
    * map-side-combine distinct collapses them to ≤ n_tokens per doc
    * (positions of one doc originate in one upstream partition, so the
    * amplification dies in the partial aggregate, not the shuffle) —
    * then one anti-join and one per-doc rebuild. Boilerplate windows
    * held by > maxBucket docs are left IN PLACE (same cap as the
    * detection side): "shared with thousands of documents" is
    * line/paragraph-dedup's job ([[TextAnalysis.lineDedup]]), and
    * excising them here would 1000×-amplify the covered explode.
    * Documents shorter than the window carry one whole-text window —
    * exact-dup semantics for shorts.
    *
    * Repeated-subtree note: the window-fingerprint frame feeds both the
    * stats aggregate and the flag join, so it is CHECKPOINTED once —
    * one tokenize pass, while the stats stay a partial-aggregated
    * groupBy (the alternative, per-window stats as whole-partition
    * window functions, sorts each fingerprint's full occurrence list on
    * one reducer — a skew cliff on boilerplate windows that partial
    * aggregation absorbs).
    */
  def substringRemove(docs: DataFrame, windowTokens: Int = 50,
                      idCol: String = "doc_id", textCol: String = "text",
                      maxBucket: Int = 1000): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be positive")
    // materialize the TOKENIZE once too (code-review r13): base feeds
    // the fingerprint build, exciseFlagged's token stream, AND the
    // final length join — unpersisted, the corpus-wide regex tokenize
    // ran three times per call
    val base = materializeOnce(tokenized(docs, idCol, textCol))
    // materialize the fingerprints once: the stats aggregate and the
    // flag join would otherwise re-run the tokenize + window pass twice
    // (see the repeated-subtree note below — checkpointing beats both
    // documented alternatives: one pass AND skew-safe partial
    // aggregation)
    val wins = materializeOnce(windowFingerprints(base, windowTokens))
    val stats = wins.groupBy("wh").agg(
      min(col("doc")).as("__min_doc"),
      countDistinct(col("doc")).as("__n_docs"))
    val flagged = wins.join(stats, Seq("wh"))
      .filter(col("__n_docs") <= maxBucket && col("__min_doc") < col("doc"))
    exciseFlagged(base, flagged, idCol)
  }

  /** (doc, w) frame with the normalized token array
    * (substringOverlapPairs' shingle-kernel rule: lower, trim,
    * whitespace runs to one space; blank text → empty array).
    */
  private def tokenized(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    docs.select(col(idCol).as("doc"),
      // isNull arm: a null text made the when() condition null, the
      // otherwise branch produced a null token array, and
      // size(null) = -1 surfaced as n_tokens/n_removed = -1 in the
      // excision audit frames (code-review r14). The otherwise branch
      // reuses [[normText]] — it inlined the identical expression, and
      // two copies of the canonical form can silently drift.
      when(col(textCol).isNull || length(trim(col(textCol))) === 0,
          array().cast("array<string>"))
        .otherwise(split(normText(col(textCol)), " ")).as("w"))

  /** Stride-1 window fingerprints with positions: (doc, i, wh, wlen) —
    * every `windowTokens`-token window's 128-bit md5 digest plus its
    * start position and (end-clamped) length; documents shorter than
    * the window carry one whole-text window.
    */
  private def windowFingerprints(base: DataFrame,
                                 windowTokens: Int): DataFrame =
    base.filter(size(col("w")) > 0)
      .select(col("doc"), col("w"), explode(sequence(lit(1),
        greatest(lit(1), size(col("w")) - lit(windowTokens - 1)))).as("i"))
      .select(col("doc"), col("i"),
        md5(array_join(slice(col("w"), col("i"), lit(windowTokens)), " ")
          .cast("binary")).as("wh"),
        least(size(col("w")) - col("i") + 1, lit(windowTokens)).as("wlen"))

  /** Excise every token position covered by a flagged (doc, i, wlen)
    * window occurrence and rebuild: the shared tail of
    * [[substringRemove]] and [[decontaminateRemove]]. Output:
    * (idCol, n_tokens, n_removed, text_md5).
    */
  private def exciseFlagged(base: DataFrame, flagged: DataFrame,
                            idCol: String): DataFrame = {
    val covered = flagged
      .select(col("doc"), explode(
        sequence(col("i"), col("i") + col("wlen") - 1)).as("pos"))
      .distinct()
    val toks = base.select(col("doc"), posexplode(col("w")))
      .select(col("doc"), (col("pos") + 1).as("pos"), col("col").as("tok"))
    val kept = toks.join(covered, Seq("doc", "pos"), "left_anti")
    val rebuilt = kept.groupBy("doc").agg(
      count(lit(1)).as("__n_kept"),
      md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          e => e.getField("tok")), " ").cast("binary")).as("__md5"))
    base.join(rebuilt, Seq("doc"), "left")
      .select(col("doc").as(idCol),
        size(col("w")).cast("long").as("n_tokens"),
        (size(col("w")) - coalesce(col("__n_kept"), lit(0L)))
          .cast("long").as("n_removed"),
        coalesce(col("__md5"), md5(lit("").cast("binary"))).as("text_md5"))
  }

  /** Winnowing document sketch (Schleimer, Wilkerson & Aiken, SIGMOD'03
    * — the MOSS local-fingerprinting algorithm; public knowledge): from
    * the stride-1 k-gram fingerprint stream, SELECT the minimum
    * fingerprint of every `window` consecutive fingerprints. The
    * guarantee: any shared token run of >= window + k - 1 tokens shares
    * at least one SELECTED fingerprint — the same detection contract as
    * [[substringOverlapPairs]]'s full window set at matching span
    * length — while the expected sketch density is 2/(window+1), so the
    * index the candidate join shuffles is ~window/2× THINNER. That is
    * the 100 TB lever: stride-1 fingerprints are O(total tokens) rows;
    * winnowing stores the same guarantee in a fraction of them.
    *
    * Selection is the plain windowed min (not the rightmost-tie
    * refinement — ties only affect which position is charged, and the
    * sketch is a distinct fingerprint SET); min over md5 hex strings is
    * deterministic and engine-portable, and the end-clamped tail
    * windows only ever ADD selections (a superset never misses).
    * Output: (doc, fp) distinct sketch rows (requires one row per id —
    * the contract every dedup op here assumes).
    *
    * Plan: ARRAY-NATIVE — both the gram fingerprints and the windowed
    * min are `transform()`s over the in-row token array, the distinct
    * is `array_distinct` within the row, and the only explode emits the
    * ~2/(window+1)-density selected set. Zero shuffle, zero sort, no
    * materialization: the per-token explode + per-doc window sort this
    * replaces was the single largest avoidable Exchange in the codebase
    * (VERDICT r9 — 9.7 s under the driver bench), and its
    * localCheckpoint pinned non-recomputable blocks in the bench JVM's
    * contended block manager.
    *
    * Long-document bound (VERDICT r10 watch #2): the in-row shape
    * allocates two O(n_tokens) arrays per row, so one multi-MB outlier
    * document would cost per-ROW memory the old exploded shape
    * amortized across rows. Documents longer than `chunkTokens` are
    * therefore sketched in overlapping CHUNKS: token slices of
    * `chunkTokens` at stride `chunkTokens - (window + k - 2)`, each
    * sketched independently, selections flattened + deduped in-row.
    * The window+k-2 overlap means every full fingerprint window lies
    * inside some chunk, so the chunked selection set is a SUPERSET of
    * the unchunked one (chunk-tail clamped windows only ADD real
    * fingerprints of the document) — the detection guarantee is
    * preserved, and a probe sketched under a DIFFERENT chunkTokens
    * still matches (both sides contain the full unchunked selection
    * set), which is why chunkTokens is a memory bound, not a pinned
    * artifact parameter like k/window. Peak per-row memory drops to
    * O(chunkTokens + selections); density gains only the chunk-tail
    * term (~window/chunkTokens). Short rows take the single-chunk path
    * unchanged — at the default 8192-token bound, no testdata document
    * chunks, and the sketch is bit-identical to r10's.
    */
  val DefaultChunkTokens: Int = 8192

  def winnowSketch(docs: DataFrame, k: Int = 5, window: Int = 4,
                   idCol: String = "doc_id", textCol: String = "text",
                   chunkTokens: Int = DefaultChunkTokens): DataFrame = {
    require(k > 0 && window > 0, s"need positive k/window, got $k/$window")
    require(chunkTokens >= window + k - 1,
      s"chunkTokens=$chunkTokens must cover one full window+gram span " +
        s"(>= ${window + k - 1})")
    // ONE fused kernel per row (optimization r20, guide "per-task
    // work"): the former higher-order formulation — transform(sequence)
    // grams → md5(array_join(slice)) → transform(array_min(slice))
    // windows, chunked for long docs — allocated a string, a byte
    // array, and a digest per GRAM and compiled into the suite's
    // largest codegen method (the r12 JIT-variance root cause).
    // [[graft.functions.TextOps.winnowSketch]] computes the identical
    // selected-fingerprint set (same gram joins, same md5 hex values,
    // same windowed-min/chunking/distinct semantics — DedupSpec pins
    // kernel-vs-expression equality, and the DuckDB winnow oracles
    // replay the construction) in one JVM loop with a reused digest
    // and gram buffer. Output rows and values are unchanged.
    val base = tokenized(docs, idCol, textCol)
    base.filter(size(col("w")) > 0)
      .select(col("doc"), explode(graft.functions.texthash
        .winnow_sketch(col("w"), k, window, chunkTokens)).as("fp"))
  }

  /** Overlap pairs from winnowing sketches: documents sharing at least
    * one selected fingerprint, with the shared-selection count — the
    * sketch-economical alternative to [[substringOverlapPairs]] (same
    * guarantee for spans >= window + k - 1 tokens, ~window/2× thinner
    * candidate join). Mega-buckets capped like every LSH join here.
    * Output: (doc_a, doc_b, n_shared_fps).
    */
  def winnowPairs(docs: DataFrame, k: Int = 5, window: Int = 4,
                  idCol: String = "doc_id", textCol: String = "text",
                  maxBucket: Int = 1000): DataFrame = {
    // ONE pass over the sketch, no self-join, no materialization: the
    // sketch (distinct (doc, fp) by construction) groups by fp into the
    // per-fingerprint doc list — the bucket cap is a size() filter on
    // that list, and the candidate pairs fall out of exploding its
    // within-bucket combinations. One shuffle on fp + the pair rollup,
    // vs the former checkpoint + count branch + semi-join + self-join.
    // The collect is the CAPPED kernel (ADVICE r10 #2): built-in
    // collect_list would materialize a pathological boilerplate
    // fingerprint's ENTIRE bucket in aggregation state before the
    // size() filter dropped it; collect_list_capped stops appending at
    // maxBucket+1 elements in both the partial and merge paths, so
    // per-fp state is O(maxBucket) no matter how hot the fingerprint —
    // the memory guard the old count+semi-join capBuckets provided,
    // without its extra shuffle. Kept buckets (<= maxBucket) are
    // complete, over-cap buckets report maxBucket+1 and are dropped.
    val sk = winnowSketch(docs, k, window, idCol, textCol)
    val buckets = sk.groupBy("fp")
      .agg(graft.functions.aggkernels
        .collect_list_capped(col("doc"), maxBucket + 1).as("docs"))
      .filter(size(col("docs")) <= maxBucket)
    buckets.select(explode(col("docs")).as("doc_a"), col("docs"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_fps"))
  }

  /** The corpus's winnowing sketch as the write-once overlap INDEX —
    * [[winnowSketch]] with the bucket cap applied and the selection
    * parameters pinned as `__k`/`__window` constant columns (the
    * [[bandIndex]] artifact discipline: a sketch probed with mismatched
    * k/window would silently report zero overlap — fingerprints of
    * different gram sizes never collide — so the parameters ride the
    * artifact and the probe FAILS LOUDLY on disagreement). Persist via
    * [[Artifacts.winnowSketchFor]]; the nightly ingest then pays only
    * the incoming batch's in-row sketch plus one equi-join against the
    * stored index.
    */
  def winnowIndex(docs: DataFrame, k: Int = 5, window: Int = 4,
                  idCol: String = "doc_id", textCol: String = "text",
                  maxBucket: Int = 1000): DataFrame = {
    val sk = winnowSketch(docs, k, window, idCol, textCol)
    // cap at BUILD time so it is part of the artifact: fp buckets wider
    // than maxBucket are template idiom, not overlap evidence. The
    // sketch is in-row (narrow, no shuffle), so the cap's count branch
    // and semi-join probe recompute a cheap codegen pass instead of
    // forcing a checkpoint.
    capBuckets(sk, Seq("fp"), maxBucket)
      .withColumn("__k", lit(k)).withColumn("__window", lit(window))
  }

  /** Overlap pairs between an INCOMING batch and a PREBUILT corpus
    * winnowing index (from [[winnowIndex]], typically parquet-round-
    * tripped via [[Artifacts.winnowSketchFor]]) — the incremental-ingest
    * form of [[winnowPairs]]: candidates are cross-slice only, the
    * corpus side is never re-sketched. Ids must be unique across the
    * two frames. The index must carry the `__k`/`__window` artifact
    * columns; the parameter check rides the plan as an `assert_true`,
    * so a mismatch fails the job instead of silently finding no overlap.
    * Output: (doc_a ∈ incoming, doc_b ∈ corpus, n_shared_fps).
    */
  def winnowPairsAgainstIndex(incoming: DataFrame, corpusIndex: DataFrame,
                              k: Int = 5, window: Int = 4,
                              idCol: String = "doc_id",
                              textCol: String = "text",
                              maxBucket: Int = 1000): DataFrame = {
    requirePinned(corpusIndex, "__window", "winnow", "winnowIndex")
    val checked = corpusIndex.withColumn("fp",
      when(assert_true(col("__k") === k && col("__window") === window,
          concat(lit("winnow sketch built with k/window = "), col("__k"),
            lit("/"), col("__window"),
            lit(s", probed with $k/$window"))).isNull,
        col("fp")))
    // the INCOMING side gets the same per-fingerprint bucket cap the
    // index was built under: a boilerplate fingerprint shared by a
    // million incoming docs against a just-under-cap corpus bucket is a
    // billion-row candidate join — exactly the mega-bucket the
    // capBuckets discipline exists to prevent, and the one side this
    // path left uncapped (code-review r14). Same default as
    // [[winnowPairs]]/[[winnowIndex]]; the sketch is materialized ONCE
    // (the winnowPairs discipline) — the cap's count branch, its
    // semi-join side, and the candidate join would otherwise re-run the
    // in-row sketch kernel over the batch 3x (bench-measured +1.4-2.3 s
    // per serving row at sf0.1 before this persist). A STREAMING
    // incoming frame skips the cap: capBuckets is a global count + self
    // semi-join, which append-mode streaming cannot express — and
    // doesn't need, because the micro-batch (maxFilesPerTrigger) bounds
    // the incoming bucket size per trigger; the static index side stays
    // capped either way.
    val incomingSketch = winnowSketch(incoming, k, window, idCol, textCol)
    val cappedIncoming =
      if (incoming.isStreaming) incomingSketch
      else capBuckets(materializeOnce(incomingSketch), Seq("fp"), maxBucket)
    cappedIncoming
      .select(col("fp"), col("doc").as("doc_a"))
      .join(checked.select(col("fp"), col("doc").as("doc_b")), Seq("fp"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_fps"))
  }

  /** Decontamination by SPAN EXCISION — the remedy form of benchmark
    * decontamination ([[benchmarkOverlap]] detects; this rewrites): every
    * corpus token position covered by a `windowTokens`-token window that
    * also occurs anywhere in the benchmark is excised, GPT-3's 13-gram
    * collision removal at window granularity (Brown et al. 2020, §C —
    * they cut a fixed span around each colliding 13-gram; excising
    * exactly the colliding windows is the deterministic, replayable
    * form). Whole-document dropping ([[benchmarkOverlap]] + filter)
    * loses every clean token of a document that quotes one benchmark
    * sentence; excision keeps them.
    *
    * Output: the [[substringRemove]] audit frame (idCol, n_tokens,
    * n_removed, text_md5). Default windowTokens=13 (the GPT-3 n-gram);
    * benchmark documents shorter than the window contribute their
    * whole normalized text, so short eval questions still match
    * verbatim quotes of themselves.
    *
    * Plan: corpus window fingerprints (one tokenize pass) semi-joined
    * against the DISTINCT benchmark window-digest set — benchmark-sized,
    * BROADCAST like [[benchmarkOverlap]]'s gram set — then the shared
    * excise tail. No corpus-keyed shuffle beyond the rebuild; the
    * benchmark side is scanned once.
    */
  def decontaminateRemove(corpus: DataFrame, benchmark: DataFrame,
                          windowTokens: Int = 13,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be positive")
    // same three-way reuse as substringRemove: one tokenize, not three
    val base = materializeOnce(tokenized(corpus, idCol, textCol))
    val wins = windowFingerprints(base, windowTokens)
    // only the window digests are used from the benchmark side, so a
    // text-only benchmark frame (valid input to benchmarkOverlap and
    // the Bloom screen) must not be rejected for lacking idCol — give
    // it a synthetic constant id instead (code-review r14)
    val benchWhs = windowFingerprints(
      tokenized(benchmark.select(lit(0L).as("__bench_id"), col(textCol)),
        "__bench_id", textCol), windowTokens)
      .select("wh").distinct()
    val flagged = wins.join(broadcast(benchWhs), Seq("wh"), "left_semi")
    exciseFlagged(base, flagged, idCol)
  }

  /** Estimated Jaccard from two minhash signatures: fraction of matching
    * components (the classic unbiased MinHash estimator). Kernel
    * expression (graft.functions.MinHashEst).
    */
  def estimatedJaccard(mhA: Column, mhB: Column): Column =
    texthash.minhash_est(mhA, mhB)

  /** MinHash-LSH near-dup pairs: signatures banded (bands × rowsPerBand =
    * k), documents sharing any band bucket become candidates; candidates
    * are screened by the minhash ESTIMATE of Jaccard, and only survivors
    * get the exact shingle-set Jaccard.
    *
    * Plan shape (the 100 TB path): the band join moves (band_hash, id,
    * mh[k]) — ~150 bytes/row — never the shingle sets; pairs dedupe across
    * bands before scoring; the estimate (pure signature arithmetic) prunes
    * the candidate set so the exact scoring join — the only step that
    * touches shingle arrays — runs on near-dups only; mega-buckets are
    * capped (see capBuckets). Estimate slack of 2/k admits borderline
    * pairs into exact scoring rather than dropping them on estimator
    * variance.
    *
    * Banding default k=16, bands=8 (2 rows/band): the detection S-curve
    * midpoint sits at j = (1/bands)^(1/rowsPer) ≈ 0.35, so pairs at
    * typical near-dup thresholds (0.5–0.9) are caught with probability
    * ≥ 0.99; the extra false-positive candidates the wide banding admits
    * die cheaply in the estimate screen.
    *
    * Output: (doc_a, doc_b, jaccard), doc_a < doc_b, exact Jaccard >=
    * threshold.
    */
  def minhashPairs(df: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id", k: Int = 16, bands: Int = 8,
                   threshold: Double = 0.7, maxBucket: Int = 1000): DataFrame = {
    // banding via the ONE [[bandRows]] definition the against-index
    // path uses (it also carries the bands-divides-k require — the
    // r13 degenerate-banding guard): this used to be an inline verbatim
    // copy, and a banding change landing in one place would silently
    // make the self-join and against-index paths compute different
    // band hashes (code-review r14). Materialize the banded signatures
    // ONCE (~150 B/row): the cap's count branch and both sides of the
    // candidate self-join would otherwise re-run the minhash kernel
    // over the corpus 4x. The persisted form of this frame is exactly
    // [[bandIndex]].
    val banded = capBuckets(
      materializeOnce(bandRows(df, textCol, idCol, k, bands)),
      Seq("band_hash"), maxBucket)
    // estimate BEFORE the pair dedupe: the filter is narrow per-row math,
    // so losers never reach the dedupe shuffle
    val screened = banded
      .select(col("band_hash"), col("id").as("doc_a"), col("mh").as("mh_a"))
      .join(banded.select(col("band_hash"), col("id").as("doc_b"),
        col("mh").as("mh_b")), Seq("band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(estimatedJaccard(col("mh_a"), col("mh_b"))
        >= threshold - 2.0 / k)
      .select("doc_a", "doc_b").distinct()
    jaccardForPairs(df, screened, textCol, idCol)
      .filter(col("jaccard") >= threshold)
  }

  /** Exact Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(1.0)).otherwise(inter / uni)
  }

  /** n-gram Jaccard similarity scored for explicit candidate pairs
    * (pairsDf: doc_a, doc_b) — the verification half of near-dup dedup,
    * reusable against candidates from any generator (LSH, metadata, etc.).
    */
  def jaccardForPairs(docs: DataFrame, pairs: DataFrame,
                      textCol: String = "text", idCol: String = "doc_id",
                      n: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
    pairs
      .join(sh.withColumnRenamed("id", "doc_a").withColumnRenamed("sh", "sh_a"), Seq("doc_a"))
      .join(sh.withColumnRenamed("id", "doc_b").withColumnRenamed("sh", "sh_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
  }

  /** Benchmark decontamination: per corpus document, the number of
    * distinct word n-grams shared with ANY benchmark document — a
    * training-data pipeline drops or flags documents overlapping the
    * eval suite. The benchmark gram set is tiny next to the corpus, so
    * the membership test is a broadcast semi-join; the corpus side is
    * one shingle explode + one aggregation keyed by doc id — nothing
    * pairwise, nothing quadratic. Output: (doc_id, n_shared) for EVERY
    * corpus document (0 when clean).
    */
  def benchmarkOverlap(corpus: DataFrame, benchmark: DataFrame,
                       textCol: String = "text", idCol: String = "doc_id",
                       n: Int = 3): DataFrame = {
    val bg = benchmark.select(explode(shingles(col(textCol), n)).as("g"))
      .distinct()
    val hits = corpus
      .select(col(idCol), explode(shingles(col(textCol), n)).as("g"))
      .join(broadcast(bg), Seq("g"), "left_semi")
      .groupBy(idCol).agg(countDistinct(col("g")).as("n_shared"))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
  }

  /** Cross-slice MinHash-LSH: near-dup pairs between an INCOMING batch
    * and an EXISTING corpus — the nightly-ingest near-dedup (the exact
    * half is [[graft.northstar]]'s fingerprint anti-join, `ns_corpus_merge`;
    * this catches re-crawled pages with small edits that exact
    * fingerprints miss). Same banding, bucket caps, estimate screen and
    * exact-Jaccard verify as [[minhashPairs]], but the band-bucket join
    * is incoming ⋈ corpus instead of a self-join: candidates are only
    * cross-slice, never within-slice. Output: (doc_a ∈ incoming,
    * doc_b ∈ corpus, jaccard ≥ threshold).
    *
    * Plan ([[screenAgainst]]): the corpus is signed once, and only the
    * corpus buckets the batch touches go further — its band rows are
    * semi-joined against the batch's broadcast band hashes, and the
    * `maxBucket` cap counts each touched bucket over that subset, which
    * holds every corpus row of the bucket, so the count (and the kept
    * rows) equal a cap over the whole corpus. Only candidate pairs are
    * shingled for the exact Jaccard. Nothing is persisted.
    *
    * Ids are expected to be unique across the two frames; an id present
    * in both is verified against each of its texts, one output row per
    * (doc_a text, doc_b text) combination that passes the threshold.
    */
  def minhashPairsAgainst(incoming: DataFrame, corpus: DataFrame,
                          textCol: String = "text", idCol: String = "doc_id",
                          k: Int = 16, bands: Int = 8,
                          threshold: Double = 0.7,
                          maxBucket: Int = 1000): DataFrame =
    screenAgainst(incoming, bandRows(corpus, textCol, idCol, k, bands),
      capCorpus = true, corpus, textCol, idCol, k, bands, threshold,
      maxBucket)

  /** The corpus's banded-signature index as a plain frame
    * (id, mh, band_hash) — every column is hash-deterministic, so the
    * index can be WRITTEN ONCE (parquet, bucketed by band_hash at scale)
    * and reused by every subsequent [[minhashPairsAgainstIndex]] screen:
    * the nightly ingest then pays only the incoming batch's signature
    * build plus one equi-join against the stored index. Bucket caps are
    * applied at BUILD time, so they're part of the artifact — and so are
    * the signature parameters: `__k`/`__bands` ride as constant columns,
    * letting [[minhashPairsAgainstIndex]] FAIL LOUDLY when a reader's
    * k/bands disagree with what the index was built with (band hashes of
    * mismatched parameters never collide, so the silent outcome would be
    * zero pairs — a false-clean at the safety-critical dedup layer).
    *
    * This is the artifact builder: the in-query screen
    * [[minhashPairsAgainst]] does not go through it. The signed rows
    * are persisted once (tracked, see [[releasePersisted]]) because the
    * cap's count branch and its semi-join would each re-run the minhash
    * kernel over the whole frame.
    */
  def bandIndex(df: DataFrame, textCol: String = "text",
                idCol: String = "doc_id", k: Int = 16, bands: Int = 8,
                maxBucket: Int = 1000): DataFrame =
    capBuckets(materializeOnce(bandRows(df, textCol, idCol, k, bands)),
      Seq("band_hash"), maxBucket)
      .withColumn("__k", lit(k)).withColumn("__bands", lit(bands))

  /** The UNCAPPED banded-signature rows of [[bandIndex]] — the row
    * stream the appendable artifact stores
    * ([[Artifacts.CappedIndex.band]] keeps all rows and applies the
    * bucket cap at load, so an append can re-derive the over-cap set
    * exactly as a rebuild would).
    */
  private[northstar] def bandRows(df: DataFrame, textCol: String,
                                  idCol: String, k: Int,
                                  bands: Int): DataFrame = {
    require(bands >= 1 && k % bands == 0,
      s"bands must divide the signature length: k=$k, bands=$bands")
    val rowsPer = k / bands
    val bandHashes = array((0 until bands).map(b =>
      xxhash64(slice(col("mh"), b * rowsPer + 1, rowsPer), lit(b))): _*)
    df.select(col(idCol).as("id"),
        texthash.minhash_sig(col(textCol), 3, k).as("mh"))
      .select(col("id"), col("mh"), explode(bandHashes).as("band_hash"))
  }

  /** [[minhashPairsAgainst]] with a PREBUILT corpus index (from
    * [[bandIndex]], possibly parquet-round-tripped) plus the (id, text)
    * corpus frame for the exact-Jaccard verify of the candidates. The
    * index's caps were applied when it was built, so only the batch
    * side is capped here; the index is semi-joined against the batch's
    * band hashes like the frame form's corpus rows.
    *
    * INVARIANT: the caller's k/bands MUST match the parameters the index
    * was built with. The index must carry the `__k`/`__bands` artifact
    * columns; the check rides the plan as an `assert_true` on every
    * index row, so a mismatch fails the job instead of silently
    * screening zero pairs.
    */
  def minhashPairsAgainstIndex(incoming: DataFrame, corpusIndex: DataFrame,
                               corpusTexts: DataFrame,
                               textCol: String = "text",
                               idCol: String = "doc_id",
                               k: Int = 16, bands: Int = 8,
                               threshold: Double = 0.7,
                               maxBucket: Int = 1000): DataFrame = {
    requirePinned(corpusIndex, "__bands", "band", "bandIndex")
    val checked = corpusIndex.withColumn("band_hash",
      when(assert_true(col("__k") === k && col("__bands") === bands,
          concat(lit(s"band index built with k/bands = "), col("__k"),
            lit("/"), col("__bands"),
            lit(s", probed with $k/$bands"))).isNull,
        col("band_hash")))
    screenAgainst(incoming, checked, capCorpus = false, corpusTexts,
      textCol, idCol, k, bands, threshold, maxBucket)
  }

  /** A prebuilt index without its pinned parameter columns cannot be
    * checked against the probe's parameters, so it is refused.
    */
  private def requirePinned(index: DataFrame, pin: String, kind: String,
                            builder: String): Unit =
    require(index.columns.contains("__k") && index.columns.contains(pin),
      s"$kind index lacks its pinned __k/$pin columns, so its parameters " +
        s"cannot be checked; rebuild it with Dedup.$builder")

  /** The one screen body of [[minhashPairsAgainst]] and
    * [[minhashPairsAgainstIndex]]. `corpusRows` are (id, mh, band_hash)
    * corpus band rows; with `capCorpus` they are uncapped and the
    * `maxBucket` cap is applied here, over the buckets the batch touches.
    */
  private def screenAgainst(incoming: DataFrame, corpusRows: DataFrame,
                            capCorpus: Boolean, corpusTexts: DataFrame,
                            textCol: String, idCol: String, k: Int,
                            bands: Int, threshold: Double,
                            maxBucket: Int): DataFrame = {
    val batchRows = bandRows(incoming, textCol, idCol, k, bands)
    val batch = capByCount(batchRows, maxBucket)
    // the semi-join keeps every corpus row of each touched bucket, so a
    // count over the subset is the whole-corpus bucket count. It screens
    // on the UNcapped batch hashes: a superset of the capped batch's,
    // whose extra buckets the candidate join drops, and a broadcast that
    // needs no shuffle of the batch first
    val touched = corpusRows.select("id", "mh", "band_hash")
      .join(broadcast(batchRows.select("band_hash")), Seq("band_hash"),
        "left_semi")
    val corpusSide = if (capCorpus) capByCount(touched, maxBucket) else touched
    val candidates = batch
      .select(col("band_hash"), col("id").as("doc_a"), col("mh").as("mh_a"))
      .join(corpusSide.select(col("band_hash"), col("id").as("doc_b"),
        col("mh").as("mh_b")), Seq("band_hash"))
      .filter(estimatedJaccard(col("mh_a"), col("mh_b"))
        >= threshold - 2.0 / k)
      .select("doc_a", "doc_b").distinct()
    // the texts of both frames, looked up by id on either side of a
    // pair: an id in both frames verifies against each of its texts
    val texts = incoming.select(col(idCol).as("__id"), col(textCol).as("__t"))
      .unionByName(corpusTexts.select(col(idCol).as("__id"),
        col(textCol).as("__t")))
    def side(doc: String, text: String): DataFrame =
      texts.select(col("__id").as(doc), col("__t").as(text))
    candidates
      .join(side("doc_a", "text_a"), Seq("doc_a"))
      .join(side("doc_b", "text_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        jaccard(shingles(col("text_a")), shingles(col("text_b")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** [[capBuckets]] on `band_hash` as ONE pass: a per-bucket window count
    * keeps each row of a bucket of at most `maxBucket` rows, so the
    * frame is evaluated once instead of once per branch.
    */
  private def capByCount(banded: DataFrame, maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    banded
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("band_hash")))
      .filter(col("__n") <= maxBucket).drop("__n")
  }

  /** Freeze a benchmark's distinct word n-grams into a serialized Bloom
    * filter — the deployable decontamination artifact for when the gram
    * set outgrows [[benchmarkOverlap]]'s broadcast hash set (~1.2
    * bytes/gram at 1% fpp vs tens of bytes/gram for exact strings; 100M
    * grams ≈ 120 MB). The build is a distributed treeAggregate of
    * per-partition filters (the sketch-build analogue of Ivf's bounded
    * driver fit): each task folds its grams into a local filter, merges
    * combine pairwise up the tree, and only the final ~MB artifact
    * reaches the driver. Key encoding is pinned to UTF-8 gram bytes
    * (putBinary), matching [[graft.functions.BloomOps.gramHits]] on the
    * probe side.
    */
  def benchmarkBloom(benchmark: DataFrame, textCol: String = "text",
                     n: Int = 3, expectedGrams: Long = 1L << 20,
                     fpp: Double = 0.01): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    val grams = benchmark
      .select(explode(shingles(col(textCol), n)).as("g")).distinct()
      .as[String](org.apache.spark.sql.Encoders.STRING)
    // the fold carries the exact distinct-gram count alongside the
    // filter: a benchmark whose gram set exceeds `expectedGrams` would
    // silently saturate the bits and degrade the fpp toward all-hits —
    // gutting the clean-side screen (one-sided safety still holds, but
    // every document would need the exact re-check). Fail loudly
    // instead: the caller must size expectedGrams to the benchmark.
    val (bf, nGrams) = grams.rdd.treeAggregate(
      (BloomFilter.create(expectedGrams, fpp), 0L))(
      { case ((f, c), g) =>
        f.putBinary(g.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        (f, c + 1)
      },
      { case ((a, ca), (b, cb)) => a.mergeInPlace(b); (a, ca + cb) })
    require(nGrams <= expectedGrams,
      s"benchmark has $nGrams distinct $n-grams but the filter was sized " +
        s"for $expectedGrams — raise expectedGrams or the advertised fpp " +
        s"of $fpp is void")
    graft.functions.BloomOps.serialize(bf)
  }

  /** Probe a corpus against a frozen benchmark Bloom filter from
    * [[benchmarkBloom]]: every document annotated with the number of its
    * word n-grams that (maybe) hit the benchmark set. A PURE NARROW pass
    * — no join, no shuffle, no broadcast set; the filter rides the plan
    * as a reference object, so this runs unchanged on a streaming frame
    * (the "screen the incoming crawl against last night's eval suite"
    * path). One-sided error: `bloom_gram_hits = 0` is PROVABLY clean (no
    * false negatives); flagged documents are re-checked by the exact
    * [[benchmarkOverlap]] when the fpp matters — sketch screen → exact
    * verify, the same two-phase shape as minhashPairs' estimate screen.
    */
  def decontaminateBloom(corpus: DataFrame, filterBytes: Array[Byte],
                         textCol: String = "text", n: Int = 3): DataFrame =
    corpus.withColumn("bloom_gram_hits",
      graft.functions.bloomops.bloom_gram_hits(col(textCol), filterBytes, n))

  // ------------------------------------------------------- cluster collapse

  /** Connected components over an undirected pair list (doc_a, doc_b) →
    * (id, cluster_id) where cluster_id is the minimum id in the component.
    * Only ids appearing in some pair are returned — singletons are the
    * caller's identity case ([[collapseByPairs]] coalesces them to self).
    *
    * Algorithm: min-label propagation with path halving. Each round is
    * (a) one hash join + groupBy-min pushing labels across edges, then
    * (b) one self-join jump `label := label(label)` that halves pointer
    * chains — together converging in O(log diameter) rounds, each round a
    * constant number of shuffles on the id key. Labels are (id, long)
    * pairs only; document payloads never enter the loop. `localCheckpoint`
    * truncates the lineage each round so the plan doesn't grow with the
    * iteration count; its blocks live in executor storage, so an
    * executor loss mid-loop fails the job. This is the standard Spark
    * re-expression of small-star/large-star CC (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14).
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
                          bCol: String = "doc_b", maxIter: Int = 25): DataFrame = {
    // ids must be integral: a lossy string→long cast would null EVERY
    // id, the label join would match nothing, and collapseByPairs would
    // silently delete the whole corpus (code-review r13). URL/UUID-keyed
    // corpora hash ids to long first (the semanticDedupBestFromLabels
    // pattern: xxhash64 + a collision audit) rather than casting.
    Seq(aCol, bCol).foreach { c =>
      val dt = pairs.schema(c).dataType
      require(integralIdTypes(dt),
        s"connectedComponents needs integral ids, got $c: ${dt.simpleString}" +
          " — hash non-numeric ids to long (e.g. xxhash64) before CC")
    }
    // per-call unique observation names: two concurrent runs must not
    // read each other's convergence statistic
    val runTag = java.util.UUID.randomUUID().toString.take(12)
    // convergence statistic FUSED into the checkpoint's own
    // materialization job (optimization r21, guide §1.2 — fewer
    // actions): the loop used to run a second scalar-agg action per
    // round over the frame the checkpoint had just materialized, so
    // every iteration paid two driver round-trips (plus the agg's AQE
    // job chain). `observe` rides the statistic on the materializing
    // pass — same rows, same SUM, zero extra jobs. Sum/count semantics
    // are identical to the old `total()` agg: DECIMAL(38,0) so the sum
    // can't overflow at corpus scale, NULL (empty frame) → ZERO.
    var obsSeq = 0
    def ckptLabelsObserved(df: DataFrame)
        : (DataFrame, java.math.BigDecimal, Long) = {
      val obs = org.apache.spark.sql.Observation(s"cc-$runTag-$obsSeq")
      obsSeq += 1
      val snap = df.observe(obs,
        sum(col("cluster_id").cast("decimal(38,0)")).as("total"),
        count(lit(1)).as("n")).localCheckpoint()
      val m = obs.get
      val tot = m("total") match {
        case null => java.math.BigDecimal.ZERO
        case d: java.math.BigDecimal => d
        case d: scala.math.BigDecimal => d.bigDecimal
      }
      (snap, tot, m("n").asInstanceOf[Long])
    }
    // materialize the pair list ONCE up front: it is referenced five times
    // below (two edge directions, self-loops via nodes), and the caller's
    // pair generator is typically an expensive LSH join that must not be
    // re-evaluated per branch
    val p = pairs.localCheckpoint()
    val a = col(aCol).cast("long"); val b = col(bCol).cast("long")
    val nodes = p.select(a.as("id"))
      .union(p.select(b.as("id"))).distinct()
    // symmetric edges + self-loops: one groupBy-min then computes
    // min(self, neighbors) in a single pass
    val edges = p.select(a.as("src"), b.as("dst"))
      .union(p.select(b.as("src"), a.as("dst")))
      .union(nodes.select(col("id").as("src"), col("id").as("dst")))
      .localCheckpoint()
    // labels only decrease, and every round's frame carries the SAME id
    // set (self-loops put every node in every round's dst set), so an
    // unchanged DECIMAL(38,0) sum round-over-round proves NO row changed
    // — the monotone convergence witness. The initial checkpoint's
    // observed count doubles as the old isEmpty probe (empty pair list
    // → converged immediately), and its observed sum seeds prevTotal:
    // a graph the first push doesn't change (all-self-pair input) now
    // converges one confirming round earlier with identical labels
    // (sum unchanged ⇒ every row unchanged, by monotonicity).
    var (labels, prevTotal, n0) = ckptLabelsObserved(
      nodes.select(col("id"), col("id").as("cluster_id")))
    var converged = n0 == 0L
    var it = 0
    while (!converged && it < maxIter) {
      // (a) push labels across edges
      val pushed = edges.join(labels, edges("src") === labels("id"))
        .groupBy(col("dst").as("id2"))
        .agg(min(col("cluster_id")).as("cluster_id"))
        .withColumnRenamed("id2", "id")
      // (b) path halving: label := label(label) (cluster ids are node ids,
      // so the inner join always matches)
      val (jumped, newTotal, _) = ckptLabelsObserved(pushed.alias("l1")
        .join(pushed.alias("l2"), col("l1.cluster_id") === col("l2.id"))
        .select(col("l1.id").as("id"), col("l2.cluster_id").as("cluster_id")))
      converged = newTotal.compareTo(prevTotal) == 0
      prevTotal = newTotal
      labels = jumped
      it += 1
    }
    // silently returning unconverged labels would hand callers SPLIT
    // clusters — collapseByPairs would then mark several "keepers"
    // inside one duplicate cluster and under-remove with no signal
    // (code-review r14). Path halving converges in O(log diameter)
    // rounds, so the default budget only exhausts on a pathological
    // graph or a deliberately tiny maxIter — both deserve a loud stop.
    require(converged,
      s"connectedComponents did not converge within maxIter=$maxIter " +
        "rounds — raise maxIter (label propagation with path halving " +
        "needs ~log2(component diameter) rounds)")
    labels
  }

  /** Pair→cluster resolution: collapse near-dup PAIRS (from any generator —
    * [[minhashPairs]], [[simhashPairs]], metadata joins) into per-document
    * cluster assignments and a keep flag. Documents in no pair are their
    * own singleton cluster. The keeper is the minimum id per cluster —
    * deterministic, and computable without a second shuffle because the
    * cluster label IS the minimum member id.
    *
    * Output: all rows of `docs` + (cluster_id, is_keeper). Filtering on
    * is_keeper yields the deduplicated corpus — the end state a real
    * dedup pipeline needs (pair lists are an intermediate).
    */
  def collapseByPairs(docs: DataFrame, pairs: DataFrame,
                      idCol: String = "doc_id"): DataFrame = {
    // docs' id must be integral for the same silent-null reason the CC
    // guard documents (a string id would coalesce every unpaired row's
    // cluster to null and null === null keeps nothing)
    require(integralIdTypes(docs.schema(idCol).dataType),
      s"collapseByPairs needs an integral $idCol, got " +
        docs.schema(idCol).dataType.simpleString)
    // rename the CC label id before joining: with idCol == "id" a
    // by-name drop("id") would remove BOTH columns and the docs(idCol)
    // reference below would fail to resolve (code-review r13)
    val cc = connectedComponents(pairs)
      .withColumnRenamed("id", "__cc_id")
    docs.join(cc, docs(idCol) === col("__cc_id"), "left")
      .drop("__cc_id")
      .withColumn("cluster_id",
        coalesce(col("cluster_id"), docs(idCol).cast("long")))
      .withColumn("is_keeper", docs(idCol).cast("long") === col("cluster_id"))
  }

  /** collapseByPairs with a quality-aware keeper: within each cluster the
    * keeper is the row maximizing `scoreCol` (ties → lowest id) instead
    * of the minimum id — curation should keep the BEST copy of a near-dup
    * cluster (highest quality score, longest text, preferred source), not
    * an arbitrary one. Same CC labels; the keeper choice is one
    * row_number window over cluster_id (a single extra shuffle, no
    * join-back; cluster cardinality is small so the window state is
    * bounded).
    */
  def collapseByPairsBest(docs: DataFrame, pairs: DataFrame,
                          scoreCol: String, idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labeled = collapseByPairs(docs, pairs, idCol)
    val w = Window.partitionBy("cluster_id")
      .orderBy(col(scoreCol).desc, col(idCol))
    labeled.withColumn("is_keeper", row_number().over(w) === 1)
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash of the token set: bit j of the fingerprint is 1 iff
    * sum over distinct tokens of (bit j of hash(token) ? +1 : -1) > 0.
    * Kernel expression (graft.functions.SimHash64): one JVM loop per row,
    * no shuffle, stays inside whole-stage codegen.
    */
  def simhash(textC: Column): Column = texthash.simhash64(textC)

  /** SimHash near-dup candidates: fingerprints sharing any of four 16-bit
    * chunks collide (pigeonhole: any pair within Hamming distance 3 shares
    * a chunk), then exact Hamming distance filters to <= maxHamming.
    * Signatures (8 bytes) ride through the join; pairs dedupe BEFORE the
    * Hamming filter; mega-buckets capped like minhashPairs.
    */
  def simhashPairs(df: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id", maxHamming: Int = 3,
                   maxBucket: Int = 1000): DataFrame =
    hammingPairs64(
      df.select(col(idCol).as("id"), simhash(col(textCol)).as("sig")),
      maxHamming, maxBucket)

  /** The banded-Hamming pair machinery behind [[simhashPairs]], over
    * ANY 64-bit fingerprint column — factored out (r19) so the image
    * and audio perceptual-hash near-dups ([[Multimodal.imageDupPairs]]
    * / [[Multimodal.audioDupPairs]]) ride the SAME join shape instead
    * of respelling it. `sigs` must carry (id, sig: long).
    *
    * Banding is THRESHOLD-SELECTED so the candidate set is always
    * COMPLETE up to bucket capping (VERDICT r19 task 6 — the old
    * fixed-4-chunk banding silently went incomplete past Hamming 3):
    * maxHamming <= 3 bands into four 16-bit chunks, 4..7 into eight
    * 8-bit chunks (pigeonhole: k chunks guarantee a shared chunk for
    * any pair within Hamming k-1). maxHamming > 7 is REFUSED — 64-bit
    * fingerprints carry no complete banding past 7 short of 2-bit
    * chunks whose buckets are all boilerplate, and a silently-partial
    * candidate list is the trap this bound closes. (The fix is visible
    * in the contract: ns_simhash_pairs probes at maxHamming=6 and now
    * surfaces 23 planted pairs at sf0.01 where the old incomplete
    * banding found 17.)
    *
    * Scale note: an 8-bit band has only 256 key values, so at large
    * corpus sizes its buckets saturate `maxBucket` and capped recall
    * falls — at 100 TB prefer maxHamming <= 3, whose 16-bit bands
    * spread over 65,536 keys; thresholds past 3 are a small-corpus /
    * within-partition tool.
    */
  def hammingPairs64(sigs: DataFrame, maxHamming: Int = 3,
                     maxBucket: Int = 1000): DataFrame = {
    val chunked = chunkedBands(sigs, maxBucket, nChunksFor(maxHamming))
    val a = chunked.select(col("chunk_val"),
      col("id").as("doc_a"), col("sig").as("sig_a"))
    val b = chunked.select(col("chunk_val"),
      col("id").as("doc_b"), col("sig").as("sig_b"))
    // Hamming filter BEFORE the pair dedupe: bit_count is free per-row
    // codegen, so losers never reach the distinct's shuffle
    a.join(b, Seq("chunk_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Ingest-side flavor of [[hammingPairs64]]: each INCOMING fingerprint
    * against a STATIC corpus fingerprint set — the batch body of a
    * streaming image-dedup ingest (the [[minhashPairsAgainst]] shape:
    * no incoming×incoming pairs, no corpus self-join). Both frames must
    * carry (id, sig: long).
    *
    * Banding (and its completeness bound) is [[hammingPairs64]]'s
    * threshold-selected scheme — 4×16-bit chunks for maxHamming <= 3,
    * 8×8-bit for 4..7, refused past 7.
    *
    * STREAM-SAFE by construction: the incoming side is never persisted,
    * aggregated, or distinct'd (all unsupported on an append-mode
    * micro-batch frame) — chunk explode, a stream-static equi-join, and
    * per-row filters only. Pair dedup (a pair within Hamming 3 can
    * share up to four chunks) is the FIRST-SURVIVING-SHARED-CHUNK
    * predicate (a pair within the threshold can share several chunks):
    * the row is emitted only at the lowest chunk index where the
    * fingerprints agree AND the corpus row's bucket survived capping —
    * the corpus side carries a per-row bitmask of its surviving chunk
    * indexes (a STATIC aggregation, legal here), so an
    * earlier shared-but-capped chunk cannot shadow a surviving match
    * (code-review r19: a sig-equality-only guard silently dropped
    * pairs whose lowest shared chunk was a capped boilerplate bucket,
    * diverging from the batch path's any-surviving-chunk recall). No
    * shuffle or state on the stream side; a pair sharing ONLY capped
    * buckets is dropped on both paths (the capBuckets contract).
    */
  def hammingPairs64Against(incoming: DataFrame, corpus: DataFrame,
                            maxHamming: Int = 3,
                            maxBucket: Int = 1000): DataFrame = {
    val n = nChunksFor(maxHamming)
    val w = 64 / n
    val mask = (1L << w) - 1
    val in = incoming.select(col("id").as("doc_a"), col("sig").as("sig_a"),
      explode(array((0 until n).map(i =>
        shiftright(col("sig"), i * w).bitwiseAND(lit(mask)) +
          lit(i.toLong << 16)): _*)).as("chunk_val"))
    val chunkedCorpus = chunkedBands(corpus, maxBucket, n)
    // per corpus row: which of its chunk rows survived capping.
    // bit_or, not sum (code-review r19, second pass): a duplicated
    // corpus id would sum 1<<i twice into 2<<i — the NEXT chunk's bit
    // — silently corrupting the guard either way; OR is idempotent.
    val masks = chunkedCorpus
      .groupBy(col("id"))
      .agg(expr(
        "bit_or(shiftleft(1L, cast(shiftright(chunk_val, 16) as int)))")
        .as("__alive"))
    // materialized ONCE (code-review r19, second pass): this side is
    // STATIC for a stream's lifetime, and without the persist every
    // micro-batch re-ran the mask aggregation + join over the corpus
    val cp = materializeOnce(chunkedCorpus.join(masks, Seq("id"))
      .select(col("chunk_val"), col("id").as("doc_b"),
        col("sig").as("sig_b"), col("__alive")))
    // an EARLIER chunk both fingerprints share, whose corpus bucket
    // survived => this pair was already emitted there
    val dupGuard = (0 until n - 1).map(ip =>
      (shiftright(col("chunk_val"), 16) > ip) &&
        (shiftright(col("sig_a"), ip * w).bitwiseAND(lit(mask)) ===
          shiftright(col("sig_b"), ip * w).bitwiseAND(lit(mask))) &&
        (col("__alive").bitwiseAND(lit(1L << ip)) =!= 0L))
      .reduce(_ || _)
    in.join(cp, Seq("chunk_val"))
      .filter(!dupGuard)
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** The threshold-selected chunk count of the complete 64-bit banding
    * ([[hammingPairs64]]'s contract): 4×16-bit for maxHamming <= 3,
    * 8×8-bit for 4..7, refused past 7.
    */
  private def nChunksFor(maxHamming: Int): Int = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"maxHamming must be in [0, 7], got $maxHamming — the 64-bit " +
        "banded join is complete only up to Hamming 7 (8x8-bit chunks " +
        "by pigeonhole); a larger threshold would return a " +
        "silently-partial candidate list")
    if (maxHamming <= 3) 4 else 8
  }

  /** The shared chunk banding of a (id, sig) fingerprint frame:
    * `nChunks` equal-width chunk keys per row (4×16-bit or 8×8-bit —
    * [[nChunksFor]]), chunk index folded into the key at bit 16 (chunk
    * values are < 2^16 either way) so the candidate join is
    * single-column; materialized once (cap count branch + both join
    * sides would recompute the input thrice) and mega-buckets capped
    * like minhashPairs.
    */
  private def chunkedBands(sigs: DataFrame, maxBucket: Int,
                           nChunks: Int): DataFrame = {
    val w = 64 / nChunks
    val mask = (1L << w) - 1
    val chunkVals = array((0 until nChunks).map(i =>
      shiftright(col("sig"), i * w).bitwiseAND(lit(mask)) +
        lit(i.toLong << 16)): _*)
    capBuckets(
      materializeOnce(sigs.select(col("id"), col("sig"),
        explode(chunkVals).as("chunk_val"))),
      Seq("chunk_val"), maxBucket)
  }
}
