package graft

import graft.northstar.{Artifacts, Ivf, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Pinned-parameter serving artifacts (BPE merge table, IVF centroids):
  * parquet round-trip fidelity, loud parameter-mismatch failure, and the
  * train-once/serve-by-load contract.
  */
class ArtifactsSpec extends SparkSpecBase {
  import spark.implicits._

  private def tempDir(prefix: String): String =
    TestTmp.dir(prefix)

  /** Measured job budget for the r21 remove-census guard (see the
    * test): 21 observed on the fixture (probe, census, tripwire, two
    * rewrite branches, splits republish + their AQE stage jobs), bound
    * carries ~30% headroom for AQE stage-count jitter while still
    * catching a reintroduced full-index aggregation (2+ jobs).
    */
  private val JobBudgetRemove = 27

  lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "text")

  lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("BPE merges round-trip parquet in learned order; serving with the loaded table is bit-identical") {
    val induced = TextAnalysis.bpeInduct(docs, rounds = 5)
    val direct = induced.collect().sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val path = s"${tempDir("bpeart")}/merges"
    Artifacts.BpeMerges.save(spark, induced, path, 5)
    val loaded = Artifacts.BpeMerges.load(spark, path, 5)
    assert(loaded == direct)
    // serving: identical output frame through the stored artifact
    val a = TextAnalysis.bpeApply(docs, direct)
      .select("doc_id", "n_words", "n_pieces").collect().map(_.toSeq).toSet
    val b = TextAnalysis.bpeApply(docs, loaded)
      .select("doc_id", "n_words", "n_pieces").collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("BPE artifact with mismatched rounds fails loudly at load") {
    val path = s"${tempDir("bpeart")}/merges"
    Artifacts.BpeMerges.save(
      spark, TextAnalysis.bpeInduct(docs.limit(50), rounds = 3), path, 3)
    val e = intercept[IllegalArgumentException] {
      Artifacts.BpeMerges.load(spark, path, 5)
    }
    assert(e.getMessage.contains("rounds=3"))
  }

  test("bpeMergesFor serves BY LOADING: same cache key returns the stored table, not a retrain") {
    val key = s"artifacts-spec-bpe-${System.nanoTime()}"
    val first = Artifacts.bpeMergesFor(docs, key, rounds = 3)
    assert(first.nonEmpty)
    // different corpus content, same key: a retrain would learn different
    // merges; serve-by-load returns the stored table unchanged
    val other = Seq((1L, "zz zz zz zz qq qq")).toDF("doc_id", "text")
    assert(Artifacts.bpeMergesFor(other, key, rounds = 3) == first)
    // a different rounds value under the same corpus key is a DIFFERENT
    // artifact (rounds rides in the path AND the _params pin)
    val r2 = Artifacts.bpeMergesFor(docs, key, rounds = 2)
    assert(r2 == first.take(2))
  }

  test("LM heads round-trip parquet; serving with loaded heads is bit-identical; mismatch fails loudly") {
    val (vocab, total) = TextAnalysis.lmHead(docs, topK = 25)
    val path = s"${tempDir("lmart")}/head"
    Artifacts.LmHead.save(spark, (vocab, total), path, 25)
    val (lv, lt) = Artifacts.LmHead.load(spark, path, 25)
    assert(lv == vocab && lt == total)
    val a = TextAnalysis.scoreWithLm(docs, vocab, total)
      .collect().map(_.toSeq).toSet
    val b = TextAnalysis.scoreWithLm(docs, lv, lt)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
    assert(intercept[IllegalArgumentException] {
      Artifacts.LmHead.load(spark, path, 50)
    }.getMessage.contains("topK=25"))
    // bigram head: round-trip + mismatch
    val bg = TextAnalysis.bigramHead(docs, topK = 40)
    val bpath = s"${tempDir("lmart")}/bg"
    Artifacts.BigramHead.save(spark, bg, bpath, 40)
    assert(Artifacts.BigramHead.load(spark, bpath, 40) == bg)
    assert(intercept[IllegalArgumentException] {
      Artifacts.BigramHead.load(spark, bpath, 10)
    }.getMessage.contains("topK=40"))
  }

  test("BM25 stats round-trip parquet; serving equals the in-query fit; mismatches fail loudly") {
    val terms = Seq("the", "and")
    val (dfm, n, s) = TextAnalysis.bm25Stats(docs, terms, minTermLen = 1)
    val path = s"${tempDir("bmart")}/stats"
    Artifacts.Bm25Stats.save(spark, (dfm, n, s), path, (terms, 1))
    val (ld, ln, ls) = Artifacts.Bm25Stats.load(spark, path, (terms, 1))
    assert(ld == dfm && ln == n && ls == s)
    // serving from the loaded stats == serving the in-memory fit,
    // and == the one-plan bm25 on the same corpus
    val a = TextAnalysis.scoreWithBm25(docs, dfm, n, s, minTermLen = 1)
      .collect().map(_.toSeq).toSet
    val b = TextAnalysis.scoreWithBm25(docs, ld, ln, ls, minTermLen = 1)
      .collect().map(_.toSeq).toSet
    val c = TextAnalysis.bm25(docs, terms, minTermLen = 1)
      .select("doc_id", "dl", "bm25_e4")
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
    assert(a == c)
    assert(intercept[IllegalArgumentException] {
      Artifacts.Bm25Stats.load(spark, path, (terms, 3))
    }.getMessage.contains("minTermLen=1"))
    assert(intercept[IllegalArgumentException] {
      Artifacts.Bm25Stats.load(spark, path, (Seq("the", "of"), 1))
    }.getMessage.contains("cover terms"))
  }

  test("EMPTY semantic-pair artifact still validates pinned parameters at load") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // zero pairs crossed the threshold: there are no rows to check, so
    // the _params sidecar carries the validation — without it an empty
    // list would serve 'no duplicates' under ANY threshold
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_a", LongType),
        StructField("doc_b", LongType))))
    val path = s"${tempDir("semart")}/pairs"
    Artifacts.SemanticPairs.save(spark, empty, path, (9999L, "ckA"))
    // matching parameters: the empty frame serves fine
    assert(
      Artifacts.SemanticPairs.load(spark, path, (9999L, "ckA")).count() == 0)
    assert(intercept[IllegalArgumentException] {
      Artifacts.SemanticPairs.load(spark, path, (3000L, "ckA"))
    }.getMessage.contains("9999"))
    assert(intercept[IllegalArgumentException] {
      Artifacts.SemanticPairs.load(spark, path, (9999L, "ckB"))
    }.getMessage.contains("ckA"))
  }

  test("lmHeadFor / bigramHeadFor serve by loading the stored heads") {
    val key = s"artifacts-spec-lm-${System.nanoTime()}"
    val first = Artifacts.lmHeadFor(docs, key, topK = 10)
    val other = Seq((1L, "zz zz zz")).toDF("doc_id", "text")
    // same key, different corpus: serve-by-load returns the stored head
    assert(Artifacts.lmHeadFor(other, key, topK = 10) == first)
    val bfirst = Artifacts.bigramHeadFor(docs, key, topK = 10)
    assert(Artifacts.bigramHeadFor(other, key, topK = 10) == bfirst)
  }

  test("IVF centroids round-trip parquet with exact float equality; probing parity") {
    val fit = Ivf.fitCentroids(emb, nCells = 4)
    val path = s"${tempDir("ivfart")}/centroids"
    Artifacts.IvfCentroids.save(spark, fit, path, (4, 42L))
    val loaded = Artifacts.IvfCentroids.load(spark, path, (4, 42L))
    assert(loaded.map(_.toSeq).toSeq == fit.map(_.toSeq).toSeq)
    val q = emb.filter(col("vec_id") < 3)
    val a = Ivf.ivfTopK(q, emb, fit, k = 5, nProbe = 2)
      .collect().map(_.toSeq).toSet
    val b = Ivf.ivfTopK(q, emb, loaded, k = 5, nProbe = 2)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("IVF artifact with mismatched parameters fails loudly at load") {
    val path = s"${tempDir("ivfart")}/centroids"
    Artifacts.IvfCentroids.save(spark, Ivf.fitCentroids(emb, nCells = 4),
      path, (4, 42L))
    assert(intercept[IllegalArgumentException] {
      Artifacts.IvfCentroids.load(spark, path, (8, 42L))
    }.getMessage.contains("nCells=4"))
    assert(intercept[IllegalArgumentException] {
      Artifacts.IvfCentroids.load(spark, path, (4, 7L))
    }.getMessage.contains("seed=42"))
  }

  test("ivfCentroidsFor serves by loading the stored quantizer") {
    val key = s"artifacts-spec-ivf-${System.nanoTime()}"
    val first = Artifacts.ivfCentroidsFor(emb, key, nCells = 4)
    // shifted corpus under the same key: a refit would move centroids;
    // serve-by-load returns the stored quantizer
    val shifted = emb.withColumn("embedding",
      transform(col("embedding"), x => x + lit(10.0f)))
    val again = Artifacts.ivfCentroidsFor(shifted, key, nCells = 4)
    assert(again.map(_.toSeq).toSeq == first.map(_.toSeq).toSeq)
  }

  test("ivfIndexFor: stored cell-partitioned index serves row-identical to ivfTopK; serve-by-load") {
    val key = s"artifacts-spec-ivfidx-${System.nanoTime()}"
    val (index, splits, centroids) = Artifacts.ivfIndexFor(emb, key, nCells = 4)
    // the returned quantizer IS the stored ivfCentroidsFor artifact
    assert(centroids.map(_.toSeq).toSeq ==
      Artifacts.ivfCentroidsFor(emb, key, nCells = 4).map(_.toSeq).toSeq)
    val q = emb.filter(col("vec_id") < 5)
    val serve = Ivf.ivfServeTopK(q, index, centroids, splits,
      k = 10, nProbe = 2).collect().map(_.toSeq).toSet
    val mem = Ivf.ivfTopK(q, emb, centroids, k = 10, nProbe = 2)
      .collect().map(_.toSeq).toSet
    assert(serve == mem && serve.nonEmpty)
    // serve-by-load: a shifted corpus under the same key must serve the
    // STORED assignment, not re-derive one from the new vectors
    val shifted = emb.withColumn("embedding",
      transform(col("embedding"), x => x + lit(10.0f)))
    val (again, splitsAgain, _) = Artifacts.ivfIndexFor(shifted, key, nCells = 4)
    assert(splitsAgain == splits)
    assert(rows(again.select("neighbor_id", "cell", "subcell")) ==
      rows(index.select("neighbor_id", "cell", "subcell")))
  }

  test("winnow sketch round-trips parquet; stored-index probe equals the direct pairs; mismatch fails loudly") {
    val index = graft.northstar.Dedup.winnowIndex(docs, maxBucket = 100)
    val path = s"${tempDir("winart")}/sketch"
    Artifacts.WinnowSketch.save(spark, index, path, (5, 4))
    val loaded = Artifacts.WinnowSketch.load(spark, path, (5, 4))
    assert(loaded.select("doc", "fp").collect().map(_.toSeq).toSet ==
      index.select("doc", "fp").collect().map(_.toSeq).toSet)
    // driver-side pinned-parameter check
    assert(intercept[IllegalArgumentException] {
      Artifacts.WinnowSketch.load(spark, path, (7, 4))
    }.getMessage.contains("k=5"))
    // the _params sidecar makes the pin hold even for an EMPTY sketch
    // (code-review r13)
    val emptyPath = s"${tempDir("winart")}/empty"
    Artifacts.WinnowSketch.save(spark,
      graft.northstar.Dedup.winnowIndex(docs.limit(0)), emptyPath, (5, 4))
    assert(intercept[IllegalArgumentException] {
      Artifacts.WinnowSketch.load(spark, emptyPath, (7, 4))
    }.getMessage.contains("generated with"))
    // probing the STORED index equals probing the in-memory one
    val incoming = docs.select((col("doc_id") + 900000).as("doc_id"),
      concat(col("text"), lit(" quoted tail")).as("text"))
    val viaStored = graft.northstar.Dedup
      .winnowPairsAgainstIndex(incoming, loaded)
      .collect().map(_.toSeq).toSet
    val direct = graft.northstar.Dedup
      .winnowPairsAgainstIndex(incoming, index)
      .collect().map(_.toSeq).toSet
    assert(viaStored == direct && direct.nonEmpty)
    // cross-slice only: doc_a from incoming, doc_b from corpus
    assert(direct.forall(r => r.head.asInstanceOf[Long] >= 900000L
      && r(1).asInstanceOf[Long] < 900000L))
    // in-plan guard: a k/window mismatch fails the JOB, not zero-pairs
    // (fingerprints of different gram sizes never collide)
    intercept[Throwable] {
      graft.northstar.Dedup
        .winnowPairsAgainstIndex(incoming, loaded, k = 7, window = 4).count()
    }
    // advice r13: saving a non-default sketch WITHOUT passing the build
    // params must fail loudly, not stamp a k=5/w=4 sidecar on k=7/w=6
    // rows (an empty such sketch would then load under wrong params)
    val k7 = graft.northstar.Dedup.winnowIndex(docs, k = 7, window = 6,
      maxBucket = 100)
    assert(intercept[IllegalArgumentException] {
      Artifacts.WinnowSketch.save(spark, k7, s"${tempDir("winart")}/k7bad",
        (5, 4))
    }.getMessage.contains("pass the build parameters explicitly"))
    // a mismatched save must not destroy an EXISTING valid artifact:
    // the sketch stages, validates, and only then replaces
    // (code-review r14 — the post-overwrite check left k=7 rows with
    // no sidecar and the k=5 artifact gone)
    val preserved = loaded.count()
    assert(intercept[IllegalArgumentException] {
      Artifacts.WinnowSketch.save(spark, k7, path, (5, 4))
    }.getMessage.contains("pass the build parameters explicitly"))
    assert(Artifacts.WinnowSketch.load(spark, path, (5, 4))
      .count() == preserved)
    val k7Path = s"${tempDir("winart")}/k7good"
    Artifacts.WinnowSketch.save(spark, k7, k7Path, (7, 6))
    assert(Artifacts.WinnowSketch.load(spark, k7Path, (7, 6))
      .count() == k7.count())
  }

  test("boilerplate line set round-trips parquet; serving the stored set equals in-query training; mismatch fails loudly") {
    val aug = docs.select(col("doc_id"),
      concat(lit("shared header line\n"), col("text")).as("text"))
    val trained = TextAnalysis.boilerplateLines(aug, maxDocFreq = 10)
    val path = s"${tempDir("boilart")}/lines"
    Artifacts.BoilerplateLines.save(spark, trained, path, 10)
    val loaded = Artifacts.BoilerplateLines.load(spark, path, 10)
    assert(loaded.collect().map(_.getString(0)).toSet ==
      trained.collect().map(_.getString(0)).toSet)
    assert(loaded.collect().nonEmpty, "header must cross the df threshold")
    // serving with the STORED set is bit-identical to the in-query set
    val a = TextAnalysis.lineDedupServe(aug, trained)
      .collect().map(_.toSeq).toSet
    val b = TextAnalysis.lineDedupServe(aug, loaded)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
    assert(intercept[IllegalArgumentException] {
      Artifacts.BoilerplateLines.load(spark, path, 5)
    }.getMessage.contains("10"))
    // an EMPTY set (legitimately zero rows at a high cut) still pins
    // (code-review r13)
    val emptyPath = s"${tempDir("boilart")}/empty"
    Artifacts.BoilerplateLines.save(spark,
      TextAnalysis.boilerplateLines(docs, maxDocFreq = 1000000), emptyPath,
      1000000)
    assert(intercept[IllegalArgumentException] {
      Artifacts.BoilerplateLines.load(spark, emptyPath, 2)
    }.getMessage.contains("generated with"))
  }

  test("frozen curation policy round-trips parquet; serving the stored policy equals the in-memory freeze; cfg mismatch fails loudly") {
    import graft.northstar.Curation
    val cfg = Curation.parseConfig(
      """{"min_quality": 0.5, "langs": ["en", "de"],
        | "length_floor": "1/10", "temperature_alpha": 0.5}""".stripMargin)
    val corpus = docs.join(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "lang"), Seq("doc_id"))
    val frozen = Curation.freeze(corpus, cfg)
    val path = s"${tempDir("curart")}/policy"
    Artifacts.CurationPolicy.save(spark, frozen, path, cfg.toString)
    val loaded = Artifacts.CurationPolicy.load(spark, path, cfg.toString)
    assert(loaded == frozen)
    val a = Curation.serve(corpus, frozen).collect().map(_.toSeq).toSet
    val b = Curation.serve(corpus, loaded).collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
    val other = cfg.copy(minQuality = Some(0.9))
    assert(intercept[IllegalArgumentException] {
      Artifacts.CurationPolicy.load(spark, path, other.toString)
    }.getMessage.contains("cfg="))
  }

  test("semantic pair artifact: stored pairs equal the direct list; both collapse variants identical through the store; mismatch fails loudly") {
    import graft.northstar.{Dedup, Similarity}
    val centroids = Array(Array.fill(64)(1.0f))
    val sub = emb.filter(col("vec_id") < 120)
    val direct = Similarity.semanticDedupPairs(sub, centroids,
      thresholdE4 = 3000, "vec_id", "embedding", 100000)
    val key = s"artifacts-spec-sp-${System.nanoTime()}"
    val stored = Artifacts.semanticPairsFor(sub, key, centroids,
      thresholdE4 = 3000)
    assert(rows(stored) == rows(direct) && stored.count() > 0)
    // keep-min collapse through the stored list == the one-shot op
    val ids = sub.select(col("vec_id"))
    assert(rows(Dedup.collapseByPairs(ids, stored, "vec_id")) ==
      rows(Similarity.semanticDedup(sub, centroids, thresholdE4 = 3000)))
    // keep-best collapse through the stored list == the one-shot op
    val scored = sub.withColumn("q", (col("vec_id") % 7).cast("long"))
    assert(rows(Dedup.collapseByPairsBest(
        scored.select(col("vec_id"), col("q")), stored, scoreCol = "q",
        idCol = "vec_id")) ==
      rows(Similarity.semanticDedupBest(scored, centroids,
        thresholdE4 = 3000, scoreCol = "q")))
    // serve-by-load: different corpus under the same key returns the
    // stored pairs, not a recompute
    val again = Artifacts.semanticPairsFor(sub.filter(col("vec_id") < 10),
      key, centroids, thresholdE4 = 3000)
    assert(rows(again) == rows(stored))
    // threshold / quantizer mismatch at load fails loudly
    val path = s"${tempDir("spart")}/pairs"
    Artifacts.SemanticPairs.save(spark, direct, path, (3000, "ckey"))
    assert(intercept[IllegalArgumentException] {
      Artifacts.SemanticPairs.load(spark, path, (4000, "ckey"))
    }.getMessage.contains("thresholdE4=3000"))
    assert(intercept[IllegalArgumentException] {
      Artifacts.SemanticPairs.load(spark, path, (3000, "other"))
    }.getMessage.contains("centroids=ckey"))
  }

  test("semantic label artifact: stored labels serve both keeper rules bit-identical to the one-shot ops; mismatch fails loudly") {
    import graft.northstar.Similarity
    val centroids = Array(Array.fill(64)(1.0f))
    val sub = emb.filter(col("vec_id") < 120)
    val key = s"artifacts-spec-sl-${System.nanoTime()}"
    val labels = Artifacts.semanticLabelsFor(sub, key, centroids,
      thresholdE4 = 3000)
    // keep-min over stored labels == the one-shot op (narrow flag only)
    assert(rows(Similarity.semanticDedupFromLabels(labels)) ==
      rows(Similarity.semanticDedup(sub, centroids, thresholdE4 = 3000)))
    // keep-best over stored labels == the one-shot op (one window only)
    val scored = sub.select(col("vec_id"))
      .withColumn("q", (col("vec_id") % 7).cast("long"))
    assert(rows(Similarity.semanticDedupBestFromLabels(scored, labels,
        scoreCol = "q")
        .select(col("vec_id"), col("cluster_id"), col("is_keeper"))) ==
      rows(Similarity.semanticDedupBest(
        sub.withColumn("q", (col("vec_id") % 7).cast("long")),
        centroids, thresholdE4 = 3000, scoreCol = "q")
        .select(col("vec_id"), col("cluster_id"), col("is_keeper"))))
    // serve-by-load: a different corpus under the same key returns the
    // stored labels, not a recompute
    val again = Artifacts.semanticLabelsFor(sub.filter(col("vec_id") < 10),
      key, centroids, thresholdE4 = 3000)
    assert(rows(again) == rows(labels))
    // threshold / quantizer mismatch at load fails loudly
    val path = s"${tempDir("slart")}/labels"
    Artifacts.SemanticLabels.save(spark, labels, path,
      ("vec_id", 3000, "ckey"))
    assert(intercept[IllegalArgumentException] {
      Artifacts.SemanticLabels.load(spark, path, ("vec_id", 4000, "ckey"))
    }.getMessage.contains("thresholdE4=3000"))
  }

  test("collapse label artifact: stored labels serve both keeper rules bit-identical to collapseByPairs/Best; trains once; idCol mismatch fails loudly") {
    import graft.northstar.{Dedup, Similarity}
    import spark.implicits._
    // 3-node chain {1,2,3} + pair {10,11} + singleton 20: multi-hop
    // min propagation plus a row CC never sees
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val pairList = Seq((1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    var trainRuns = 0
    val key = s"artifacts-spec-ccl-${System.nanoTime()}"
    def labels() = Artifacts.collapseLabelsFor(ids, key) {
      trainRuns += 1; pairList
    }
    val stored = labels()
    assert(trainRuns == 1)
    // keep-min over stored labels == the one-shot collapse
    assert(rows(Similarity.semanticDedupFromLabels(stored, idCol = "doc_id")) ==
      rows(Dedup.collapseByPairs(ids, pairList)
        .select(col("doc_id"), col("cluster_id"), col("is_keeper"))))
    // keep-best over stored labels == the one-shot op (score favors the
    // HIGHEST id, the opposite of the min-id label rule)
    val scored = ids.withColumn("sc", col("doc_id").cast("long"))
    assert(rows(Similarity.semanticDedupBestFromLabels(scored, stored,
        scoreCol = "sc", idCol = "doc_id")
        .select(col("doc_id"), col("cluster_id"), col("is_keeper"))) ==
      rows(Dedup.collapseByPairsBest(scored, pairList, scoreCol = "sc")
        .select(col("doc_id"), col("cluster_id"), col("is_keeper"))))
    // serve-by-load: a second request under the same key does NOT re-run
    // the pair generator or the CC
    val again = labels()
    assert(trainRuns == 1)
    assert(rows(again) == rows(stored))
    // pinned id column mismatch at load fails loudly
    val path = s"${tempDir("cclart")}/labels"
    Artifacts.CollapseLabels.save(spark, stored, path, "doc_id")
    assert(intercept[IllegalArgumentException] {
      Artifacts.CollapseLabels.load(spark, path, "vec_id")
    }.getMessage.contains("idCol=doc_id"))
  }

  test("probe weights round-trip parquet; probeWeightsFor trains once; recipe mismatch fails loudly") {
    import graft.northstar.Probe
    val key = s"artifacts-spec-probe-${System.nanoTime()}"
    val direct = Probe.trainQ(emb, dim = 64, iters = 2)
    val served = Artifacts.probeWeightsFor(emb, key, dim = 64, iters = 2)
    assert(served == direct)
    // serve-by-load: a label-flipped corpus under the same key would
    // train the OPPOSITE direction; the store must return the pinned fit
    val flipped = emb.withColumn("label", lit(9) - col("label"))
    assert(Artifacts.probeWeightsFor(flipped, key, dim = 64, iters = 2)
      == direct)
    // recipe mismatch on the stored artifact fails loudly (sidecar pins
    // iters/splitAt/labelCol/dim even though the weight rows look alike)
    val path = tempDir("probe-art")
    Artifacts.ProbeWeights.save(spark, direct, path, (64, 2, 5, "label"))
    assert(
      Artifacts.ProbeWeights.load(spark, path, (64, 2, 5, "label")) == direct)
    intercept[IllegalArgumentException] {
      Artifacts.ProbeWeights.load(spark, path, (64, 3, 5, "label"))
    }
    intercept[IllegalArgumentException] {
      Artifacts.ProbeWeights.load(spark, path, (64, 2, 4, "label"))
    }
  }

  test("pruneStore: TTL-stale entries and trainer leftovers deleted, overflow dropped oldest-first, foreign children untouched") {
    val root = new java.io.File(tempDir("prunestore"))
    val now = System.currentTimeMillis()
    def mk(name: String, ageMs: Long): java.io.File = {
      val d = new java.io.File(root, name)
      d.mkdirs()
      new java.io.File(d, "part-00000").createNewFile()
      d.setLastModified(now - ageMs)
      d
    }
    val h = "0123456789abcdef0123456789abcdef"
    val day = 24L * 3600 * 1000
    val stale = mk(s"bpe-$h", 10 * day)
    val tmpLeftover = mk(s"lmhead-$h.tmp-123@host-99", 10 * day)
    // a crash between ensureTrained's rename-aside and its delete used
    // to strand wrecks FOREVER — the prune pattern skipped them
    val wreckLeftover = mk(s"ivf-$h.wreck-123@host-77", 10 * day)
    val old1 = mk(s"ivf-${h.reverse}", 3 * day)
    val new1 = mk(s"winnow-${h.replace('0', 'f')}", 1 * day)
    val new2 = mk(s"boiler-${h.replace('1', 'e')}", 2 * 3600 * 1000L)
    // foreign children must survive: wrong-pattern dir and a plain file
    val foreignDir = mk("user-data-not-an-artifact", 30 * day)
    val foreignFile = new java.io.File(root, "notes.txt")
    foreignFile.createNewFile()
    val n = Artifacts.pruneStore(root, ttlMs = 7 * day, maxEntries = 2)
    assert(n == 4, "stale + tmp leftover + wreck leftover + one overflow")
    assert(!stale.exists() && !tmpLeftover.exists())
    assert(!wreckLeftover.exists(), "stranded .wreck- dirs must prune")
    assert(!old1.exists(), "overflow drops oldest-first beyond maxEntries")
    assert(new1.exists() && new2.exists())
    assert(foreignDir.exists() && foreignFile.exists())
    // a second prune is a no-op
    assert(Artifacts.pruneStore(root, ttlMs = 7 * day, maxEntries = 2) == 0)
  }

  test("stale destination without _SUCCESS is cleared and retrained (crashed-trainer recovery)") {
    val key = s"artifacts-spec-stale-${System.nanoTime()}"
    val first = Artifacts.bpeMergesFor(docs, key, rounds = 3)
    // locate the published artifact dir through the store's own keying
    val dst = new java.io.File(Artifacts.pathFor("bpe", s"$key-r3"))
    assert(dst.isDirectory, s"expected artifact at $dst")
    // simulate a crashed trainer: destination exists but has no _SUCCESS
    assert(new java.io.File(dst, "_SUCCESS").delete())
    // next request must clear the wreck and retrain — on a DIFFERENT
    // corpus, so a successful retrain is observable in the result
    val other = Seq((1L, "zz zz zz zz qq qq zz qq")).toDF("doc_id", "text")
    val retrained = Artifacts.bpeMergesFor(other, key, rounds = 3)
    assert(new java.io.File(dst, "_SUCCESS").exists(), "retrain must republish")
    assert(retrained != first, "recovery must retrain, not serve the wreck")
  }

  test("pathFor folds the layout Version into its digest: an overridden " +
       "store root never serves another layout version's entries") {
    def md5(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val key = "artifacts-spec-version-key"
    val dst = new java.io.File(Artifacts.pathFor("bpe", key))
    // the test build overrides the root, so the root's own name carries
    // no version — the digest must
    assert(dst.getParent == sys.props("graft.artifacts.root"))
    assert(dst.getName != s"bpe-${md5(key)}",
      "an unversioned digest would serve an older layout's entry")
    assert(dst.getName == s"bpe-${md5(s"${Artifacts.Version}/$key")}")
    // the versioned name is still a store entry: pruneStore collects it
    val root = new java.io.File(tempDir("versionprune"))
    val entry = new java.io.File(root, dst.getName)
    assert(entry.mkdirs() && entry.setLastModified(0L))
    assert(Artifacts.pruneStore(root, ttlMs = 1000L, maxEntries = 8) == 1)
    assert(!entry.exists())
  }

  test("an EMPTY BPE merge table or bigram head still refuses a " +
       "different rounds/topK at load") {
    import org.apache.spark.sql.types._
    val bpe = s"${tempDir("emptypin")}/bpe"
    Artifacts.BpeMerges.save(spark, spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("step", LongType),
        StructField("lhs", StringType), StructField("rhs", StringType),
        StructField("cnt", LongType)))), bpe, 3)
    assert(Artifacts.BpeMerges.load(spark, bpe, 3).isEmpty)
    assert(intercept[IllegalArgumentException] {
      Artifacts.BpeMerges.load(spark, bpe, 5)
    }.getMessage.contains("rounds=3"))
    val bg = s"${tempDir("emptypin")}/bigram"
    Artifacts.BigramHead.save(spark, Map.empty[String, Long], bg, 10)
    assert(Artifacts.BigramHead.load(spark, bg, 10).isEmpty)
    assert(intercept[IllegalArgumentException] {
      Artifacts.BigramHead.load(spark, bg, 20)
    }.getMessage.contains("topK=10"))
  }

  test("_params refuses a caller string it cannot store: a line break " +
       "in a pinned value fails the save before anything is written") {
    val labels = Seq((1L, 1L)).toDF("doc_id", "cluster_id")
    val p = s"${tempDir("badpin")}/labels"
    val e = intercept[IllegalArgumentException] {
      Artifacts.CollapseLabels.save(spark, labels, p, "a\nb")
    }
    assert(e.getMessage.contains("line breaks"), e.getMessage)
    assert(!new java.io.File(p).exists(), "a refused pin must write nothing")
    val pw = s"${tempDir("badpin")}/probe"
    intercept[IllegalArgumentException] {
      Artifacts.ProbeWeights.save(spark, Seq(1L, 2L), pw,
        (2, 2, 5, "label\r"))
    }
    assert(!new java.io.File(pw).exists())
  }

  test("a repeat load of a semantic pair, semantic label, collapse label, " +
       "winnow sketch or boilerplate artifact runs zero Spark jobs") {
    import graft.northstar.Dedup
    val d = tempDir("loadjobs")
    Artifacts.SemanticPairs.save(spark, Seq((1L, 2L)).toDF("doc_a", "doc_b"),
      s"$d/pairs", (3000L, "ck"))
    Artifacts.SemanticLabels.save(spark,
      Seq((1L, 1L)).toDF("vec_id", "cluster_id"), s"$d/semlabels",
      ("vec_id", 3000L, "ck"))
    Artifacts.CollapseLabels.save(spark,
      Seq((1L, 1L)).toDF("doc_id", "cluster_id"), s"$d/cclabels", "doc_id")
    Artifacts.WinnowSketch.save(spark, Dedup.winnowIndex(docs.limit(20)),
      s"$d/winnow", (5, 4))
    Artifacts.BoilerplateLines.save(spark, Seq("h").toDF("nh"), s"$d/boiler",
      10L)
    val loads: Seq[(String, () => Any)] = Seq(
      "semantic pairs" -> (() =>
        Artifacts.SemanticPairs.load(spark, s"$d/pairs", (3000L, "ck"))),
      "semantic labels" -> (() => Artifacts.SemanticLabels.load(spark,
        s"$d/semlabels", ("vec_id", 3000L, "ck"))),
      "collapse labels" -> (() =>
        Artifacts.CollapseLabels.load(spark, s"$d/cclabels", "doc_id")),
      "winnow sketch" -> (() =>
        Artifacts.WinnowSketch.load(spark, s"$d/winnow", (5, 4))),
      "boilerplate" -> (() =>
        Artifacts.BoilerplateLines.load(spark, s"$d/boiler", 10L)))
    for ((name, load) <- loads) {
      load(): Unit // the first load infers and caches the schema
      val jobs = jobStarts { load(): Unit }
      assert(jobs.isEmpty, s"a repeat $name load ran ${jobs.size} job(s)")
    }
  }

  test("winnowSketchFor serves by loading the stored index, not a re-sketch") {
    val key = s"artifacts-spec-win-${System.nanoTime()}"
    val first = Artifacts.winnowSketchFor(docs, key)
      .select("doc", "fp").collect().map(_.toSeq).toSet
    assert(first.nonEmpty)
    // different corpus content, same key: a re-sketch would differ;
    // serve-by-load returns the stored rows unchanged
    val other = Seq((1L, "totally different text about nothing at all here"))
      .toDF("doc_id", "text")
    val again = Artifacts.winnowSketchFor(other, key)
      .select("doc", "fp").collect().map(_.toSeq).toSet
    assert(again == first)
  }

  test("textFingerprintsFor serves the stored fingerprint set by load: " +
       "text_col pinned, a pin mismatch refused, an empty set served, " +
       "and null text keyed by the shared sentinel") {
    val key = s"artifacts-spec-textfp-${System.nanoTime()}"
    val corpus = Seq((1L, "Hello  World"), (2L, "hello world"),
      (3L, null: String), (4L, null: String)).toDF("doc_id", "text")
    val expected = corpus.select(Artifacts.textFingerprint(col("text")))
      .collect().map(_.getString(0)).toSet
    assert(expected.size == 2 && expected.contains("__null_text__"))
    val served = Artifacts.textFingerprintsFor(corpus, key)
    assert(served.columns.toSeq == Seq("fp"))
    assert(served.collect().map(_.getString(0)).sorted.toSeq ==
      expected.toSeq.sorted)
    // same key, different corpus: served from the store, not refit
    val other = Seq((9L, "something else")).toDF("doc_id", "text")
    assert(Artifacts.textFingerprintsFor(other, key)
      .collect().map(_.getString(0)).toSet == expected)
    val p = s"${tempDir("textfp")}/fp"
    Artifacts.TextFingerprints.save(spark, corpus.limit(0), p, "text")
    assert(new String(java.nio.file.Files.readAllBytes(
      new java.io.File(p, "_params").toPath), "UTF-8") == "text_col=text")
    assert(Artifacts.TextFingerprints.load(spark, p, "text").count() == 0)
    val e = intercept[IllegalArgumentException](
      Artifacts.TextFingerprints.load(spark, p, "body"))
    assert(e.getMessage.contains("text_col=text"), e.getMessage)
  }

  // ------------------------------ incremental ANN index append (r13)

  // the append fixtures: quantizers pinned from the INITIAL build
  // (corpus half A), part B arrives later — the nightly-ingest story
  private lazy val embA = emb.filter(col("vec_id") % 2 === 0)
  private lazy val embB = emb.filter(col("vec_id") % 2 =!= 0)

  test("r21 schema sidecar: pinned index/rows/dropped schemas equal parquet inference exactly") {
    // the _schemas sidecar replaces a footer-reading inference job per
    // artifact read — but an explicit schema that DIFFERS from what
    // inference would report (field order, partition-column placement,
    // nullability, types) silently changes the served frame. Pin
    // equality on both artifact families.
    val cents = Array(Array.fill(8)(0.0f), Array.fill(8)(1.0f))
    val p = tempDir("schemas-ivf")
    Artifacts.saveIvfIndex(emb.select("vec_id", "embedding")
        .withColumn("embedding", slice(col("embedding"), 1, 8)),
      p, cents, "vec_id", "embedding", 100000)
    val (idx, _) = Artifacts.loadIvfIndex(spark, p, cents,
      maxCell = 100000)
    val inferred = spark.read.parquet(new java.io.File(p, "index").toString)
    assert(idx.schema === inferred.schema,
      s"pinned ${idx.schema.treeString} vs inferred ${inferred.schema.treeString}")
    // capped (appendable winnow) family: rows/ and dropped/
    val pw = tempDir("schemas-winnow")
    Artifacts.CappedIndex.winnow(maxBucket = 2).save(docs, pw)
    val rowsInf = spark.read.parquet(new java.io.File(pw, "rows").toString)
    val dropInf = spark.read.parquet(new java.io.File(pw, "dropped").toString)
    val pinnedRows = Artifacts.storedSchema(pw, "rows")
    assert(pinnedRows.contains(rowsInf.schema),
      s"pinned $pinnedRows vs inferred ${rowsInf.schema.treeString}")
    val pinnedDrop = Artifacts.storedSchema(pw, "dropped")
    assert(pinnedDrop.contains(dropInf.schema),
      s"pinned $pinnedDrop vs inferred ${dropInf.schema.treeString}")
  }

  test("IVF append-then-serve is hash-identical to a from-scratch rebuild on the union (over-cap cells re-split)") {
    val cents = Ivf.fitCentroids(embA, nCells = 4)
    // maxCell 40: A-cells (~62 avg) already split some, the union
    // (~125 avg) pushes bits further — the append MUST re-split
    val maxCell = 40
    val pA = s"${tempDir("ivfapp")}/idx"
    Artifacts.saveIvfIndex(embA, pA, cents, "vec_id", "embedding", maxCell)
    val (_, splits0) = Artifacts.loadIvfIndex(spark, pA, cents,
      maxCell = maxCell)
    val newSplits = Artifacts.appendIvfIndex(embB, pA, cents,
      maxCell = maxCell)
    assert(newSplits != splits0,
      "fixture must exercise the re-split path: bits should change")
    val pU = s"${tempDir("ivfapp")}/idx"
    Artifacts.saveIvfIndex(emb, pU, cents, "vec_id", "embedding", maxCell)
    val (idxU, splitsU) = Artifacts.loadIvfIndex(spark, pU, cents,
      maxCell = maxCell)
    assert(newSplits == splitsU, "append split map must equal rebuild's")
    val (idxA, splitsA) = Artifacts.loadIvfIndex(spark, pA, cents,
      maxCell = maxCell)
    assert(splitsA == splitsU)
    // stored CONTENT identical, not just serve results
    assert(rows(idxA.select("neighbor_id", "cell", "subcell")) ==
      rows(idxU.select("neighbor_id", "cell", "subcell")))
    assert(idxA.count() == emb.count())
    val q = emb.filter(col("vec_id") < 5)
    assert(rows(Ivf.ivfServeTopK(q, idxA, cents, splitsA, k = 10, nProbe = 2))
      == rows(Ivf.ivfServeTopK(q, idxU, cents, splitsU, k = 10, nProbe = 2)))
  }

  test("IVF-PQ append-then-serve equals the union rebuild; corpus drift trips the append loudly") {
    val cents = Ivf.fitCentroids(embA, nCells = 4)
    val cb = graft.northstar.Pq.fitCodebooks(embA, m = 8, ksub = 8)
    val maxCell = 40
    val pA = s"${tempDir("pqapp")}/idx"
    Artifacts.saveIvfPqIndex(embA, pA, cents, cb, "vec_id", "embedding",
      maxCell)
    val newSplits = Artifacts.appendIvfPqIndex(embB, embA, pA, cents, cb,
      maxCell = maxCell)
    val pU = s"${tempDir("pqapp")}/idx"
    Artifacts.saveIvfPqIndex(emb, pU, cents, cb, "vec_id", "embedding",
      maxCell)
    val (idxU, splitsU) = Artifacts.loadIvfPqIndex(spark, pU, cents, cb,
      maxCell = maxCell)
    val (idxA, splitsA) = Artifacts.loadIvfPqIndex(spark, pA, cents, cb,
      maxCell = maxCell)
    assert(newSplits == splitsU && splitsA == splitsU)
    // codes included: an appended row must encode exactly as a rebuilt one
    assert(rows(idxA) == rows(idxU))
    val q = emb.filter(col("vec_id") < 5)
    assert(rows(graft.northstar.Pq.ivfPqServeTopK(q, idxA, emb, cents,
        splitsA, cb, k = 10, nProbe = 2, rerank = 30))
      == rows(graft.northstar.Pq.ivfPqServeTopK(q, idxU, emb, cents,
        splitsU, cb, k = 10, nProbe = 2, rerank = 30)))
    // drift tripwire: a corpus that lost rows the index references must
    // fail the NEXT append loudly, not silently drop candidates
    val shrunk = emb.filter(col("vec_id") < 100)
    val e = intercept[IllegalArgumentException] {
      // maxCell 10 forces every cell into the rewrite path, which is
      // where the vectors-resolved join runs
      val p2 = s"${tempDir("pqapp")}/idx"
      Artifacts.saveIvfPqIndex(embA, p2, cents, cb, "vec_id", "embedding",
        10)
      Artifacts.appendIvfPqIndex(embB, shrunk, p2, cents, cb, maxCell = 10)
    }
    assert(e.getMessage.contains("drifted"), e.getMessage)
    // duplicated corpus rows for an indexed id are drift too — and a
    // LOSS+DUPLICATE combination keeps the row COUNT unchanged, which
    // the pre-r13 count-based tripwire silently passed
    val lostPlusDup = emb.filter(col("vec_id") =!= 0)
      .unionAll(emb.filter(col("vec_id") === 2))
    val e2 = intercept[IllegalArgumentException] {
      val p3 = s"${tempDir("pqapp")}/idx"
      Artifacts.saveIvfPqIndex(embA, p3, cents, cb, "vec_id", "embedding",
        10)
      Artifacts.appendIvfPqIndex(embB, lostPlusDup, p3, cents, cb,
        maxCell = 10)
    }
    assert(e2.getMessage.contains("drifted"), e2.getMessage)
    // empty incoming is a no-op append that still censuses, re-splits,
    // and republishes the marker: splits and rows unchanged
    val late = emb.limit(0)
    val lateSplits = Artifacts.appendIvfPqIndex(late, emb, pA, cents, cb,
      maxCell = maxCell)
    assert(lateSplits == splitsU)
    val (idxL, _) = Artifacts.loadIvfPqIndex(spark, pA, cents, cb,
      maxCell = maxCell)
    assert(rows(idxL) == rows(idxU))
  }

  test("IVF remove-then-serve is hash-identical to a rebuild on the difference (bits shrink back, emptied cell vanishes)") {
    val cents = Ivf.fitCentroids(emb, nCells = 4)
    // maxCell 40: the full corpus splits cells; removing half must
    // SHRINK bits back exactly as a rebuild on the difference computes
    val maxCell = 40
    val p = s"${tempDir("ivfrm")}/idx"
    Artifacts.saveIvfIndex(emb, p, cents, "vec_id", "embedding", maxCell)
    val (_, splits0) = Artifacts.loadIvfIndex(spark, p, cents,
      maxCell = maxCell)
    val newSplits = Artifacts.removeFromIvfIndex(
      embB.select("vec_id"), p, cents, maxCell = maxCell)
    assert(newSplits != splits0,
      "fixture must exercise the bits-shrink path")
    val pD = s"${tempDir("ivfrm")}/idx"
    Artifacts.saveIvfIndex(embA, pD, cents, "vec_id", "embedding", maxCell)
    val (idxD, splitsD) = Artifacts.loadIvfIndex(spark, pD, cents,
      maxCell = maxCell)
    val (idxR, splitsR) = Artifacts.loadIvfIndex(spark, p, cents,
      maxCell = maxCell)
    assert(newSplits == splitsD && splitsR == splitsD,
      "removal split map must equal the difference rebuild's")
    assert(rows(idxR.select("neighbor_id", "cell", "subcell")) ==
      rows(idxD.select("neighbor_id", "cell", "subcell")))
    val q = embA.filter(col("vec_id") < 10)
    assert(rows(Ivf.ivfServeTopK(q, idxR, cents, splitsR, k = 10, nProbe = 2))
      == rows(Ivf.ivfServeTopK(q, idxD, cents, splitsD, k = 10, nProbe = 2)))
    // replayed takedown (ids already gone / never indexed) is a no-op
    val replay = Artifacts.removeFromIvfIndex(
      embB.select("vec_id"), p, cents, maxCell = maxCell)
    assert(replay == newSplits)
    val (idxR2, _) = Artifacts.loadIvfIndex(spark, p, cents,
      maxCell = maxCell)
    assert(rows(idxR2.select("neighbor_id", "cell", "subcell")) ==
      rows(idxD.select("neighbor_id", "cell", "subcell")))
    // emptying a whole cell deletes its partition directory — the
    // layout a rebuild on the difference would produce
    val someCell = idxR2.select("cell").head().getInt(0)
    val cellIds = idxR2.filter(col("cell") === someCell)
      .select(col("neighbor_id").as("vec_id"))
    Artifacts.removeFromIvfIndex(cellIds, p, cents, maxCell = maxCell)
    assert(!new java.io.File(s"$p/index/cell=$someCell").exists())
    val (idxR3, _) = Artifacts.loadIvfIndex(spark, p, cents,
      maxCell = maxCell)
    assert(idxR3.filter(col("cell") === someCell).count() == 0)
  }

  test("IVF-PQ remove-then-serve equals the difference rebuild; surviving-row drift trips the re-split loudly") {
    val cents = Ivf.fitCentroids(emb, nCells = 4)
    val cb = graft.northstar.Pq.fitCodebooks(emb, m = 8, ksub = 8)
    val maxCell = 40
    val p = s"${tempDir("pqrm")}/idx"
    Artifacts.saveIvfPqIndex(emb, p, cents, cb, "vec_id", "embedding",
      maxCell)
    val newSplits = Artifacts.removeFromIvfPqIndex(
      embB.select("vec_id"), emb, p, cents, cb, maxCell = maxCell)
    val pD = s"${tempDir("pqrm")}/idx"
    Artifacts.saveIvfPqIndex(embA, pD, cents, cb, "vec_id", "embedding",
      maxCell)
    val (idxD, splitsD) = Artifacts.loadIvfPqIndex(spark, pD, cents, cb,
      maxCell = maxCell)
    val (idxR, splitsR) = Artifacts.loadIvfPqIndex(spark, p, cents, cb,
      maxCell = maxCell)
    assert(newSplits == splitsD && splitsR == splitsD)
    // codes included: a surviving row re-projected under the shrunken
    // bits must encode exactly as a rebuilt one
    assert(rows(idxR) == rows(idxD))
    val q = embA.filter(col("vec_id") < 10)
    assert(rows(graft.northstar.Pq.ivfPqServeTopK(q, idxR, embA, cents,
        splitsR, cb, k = 10, nProbe = 2, rerank = 30))
      == rows(graft.northstar.Pq.ivfPqServeTopK(q, idxD, embA, cents,
        splitsD, cb, k = 10, nProbe = 2, rerank = 30)))
    // a corpus that lost SURVIVING rows must trip the re-split's vector
    // resolution loudly, not silently drop them from the rewrite
    val p2 = s"${tempDir("pqrm")}/idx"
    Artifacts.saveIvfPqIndex(emb, p2, cents, cb, "vec_id", "embedding", 10)
    val e = intercept[IllegalArgumentException] {
      Artifacts.removeFromIvfPqIndex(embB.select("vec_id"),
        emb.filter(col("vec_id") < 100), p2, cents, cb, maxCell = 10)
    }
    assert(e.getMessage.contains("drifted"), e.getMessage)
  }

  test("r21 guard: removeFromIvfPqIndex fires a bounded job count — the removal census stays ONE index scan") {
    // r20 collapsed the removal census + post-removal oversized set
    // into one left-join scan of the index (two full-index aggregations
    // before). The census is invisible in any declared query's final
    // plan, so the guard counts Spark JOBS across the mutation: a
    // regression that reintroduces a second full-index aggregate adds
    // at least one job (its action) and fails this bound.
    val cents = Ivf.fitCentroids(emb, nCells = 4)
    val cb = graft.northstar.Pq.fitCodebooks(emb, m = 8, ksub = 8)
    val maxCell = 40
    val p = s"${tempDir("pqrmjobs")}/idx"
    Artifacts.saveIvfPqIndex(emb, p, cents, cb, "vec_id", "embedding",
      maxCell)
    org.apache.spark.sql.graftbridge.Bridge
      .drainListenerBus(spark.sparkContext)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      Artifacts.removeFromIvfPqIndex(embB.select("vec_id"), emb, p,
        cents, cb, maxCell = maxCell)
      org.apache.spark.sql.graftbridge.Bridge
        .drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    info(s"removeFromIvfPqIndex fired ${jobs.get} jobs")
    // the budget constant above documents the measured count; a
    // reintroduced full-index aggregation costs 2+ jobs and trips it.
    assert(jobs.get <= JobBudgetRemove,
      s"removeFromIvfPqIndex fired ${jobs.get} jobs — " +
        s"budget $JobBudgetRemove; did the removal census regain a " +
        "second full-index pass?")
  }

  test("torn remove refuses: marker gone → remove/load/append all fail until rebuilt; successful remove republishes") {
    val cents = Ivf.fitCentroids(emb, nCells = 4)
    val p = s"${tempDir("ivfrmtorn")}/idx"
    Artifacts.saveIvfIndex(emb, p, cents, "vec_id", "embedding", 100000)
    assert(new java.io.File(p, "_SUCCESS").delete())
    val e = intercept[IllegalArgumentException] {
      Artifacts.removeFromIvfIndex(embB.select("vec_id"), p, cents,
        maxCell = 100000)
    }
    assert(e.getMessage.contains("_SUCCESS"), e.getMessage)
    // rebuild, then a successful remove republishes the marker and the
    // index stays appendable
    Artifacts.saveIvfIndex(emb, p, cents, "vec_id", "embedding", 100000)
    Artifacts.removeFromIvfIndex(embB.select("vec_id"), p, cents,
      maxCell = 100000)
    assert(new java.io.File(p, "_SUCCESS").exists())
    Artifacts.appendIvfIndex(embB, p, cents, maxCell = 100000)
    val (idx, _) = Artifacts.loadIvfIndex(spark, p, cents)
    assert(idx.count() == emb.count())
  }

  test("appendable winnow/band removal == capped rebuild on the difference; under-cap bucket resurrects") {
    import graft.northstar.Dedup
    // 8 boilerplate copies: their shared fps are OVER the cap (8 > 5)
    // in the full corpus but UNDER it (4) once the odd-id half is
    // removed — a rebuild on the difference KEEPS the bucket, so the
    // removal must resurrect it, not remember the drop
    val boiler = spark.range(8).select((col("id") + 800000).as("doc_id"),
      lit("alpha beta gamma delta epsilon zeta eta theta iota kappa")
        .as("text"))
    val corpus = docs.unionAll(boiler)
    val removedHalf = corpus.filter(col("doc_id") % 2 =!= 0)
    val difference = corpus.filter(col("doc_id") % 2 === 0)
    val cap = 5
    val p = s"${tempDir("winrm")}/idx"
    val winnow = Artifacts.CappedIndex.winnow(maxBucket = cap)
    winnow.save(corpus, p)
    // the boiler bucket must be dropped pre-removal (8 > cap)
    assert(spark.read.parquet(s"$p/dropped").count() > 0)
    winnow.remove(removedHalf.select("doc_id"), p)
    val loaded = winnow.load(spark, p)
    val rebuilt = Dedup.winnowIndex(difference, maxBucket = cap)
    assert(rows(loaded) == rows(rebuilt))
    // resurrection is live: the surviving boiler docs serve from the
    // previously-dropped bucket
    assert(loaded.filter(col("doc") >= 800000).count() > 0)
    // absent-id removal is a no-op
    winnow.remove(
      spark.range(5).select((col("id") + 7000000).as("doc_id")), p)
    assert(rows(winnow.load(spark, p)) == rows(rebuilt))
    // band index: same protocol, same identity
    val pb = s"${tempDir("bandrm")}/idx"
    val band = Artifacts.CappedIndex.band(maxBucket = 50)
    band.save(docs, pb)
    band.remove(docs.filter(col("doc_id") % 2 =!= 0).select("doc_id"), pb)
    assert(rows(band.load(spark, pb))
      == rows(Dedup.bandIndex(docs.filter(col("doc_id") % 2 === 0),
        maxBucket = 50)))
    // torn remove refuses
    assert(new java.io.File(pb, "_SUCCESS").delete())
    val e = intercept[IllegalArgumentException] {
      band.remove(docs.select("doc_id"), pb)
    }
    assert(e.getMessage.contains("_SUCCESS"), e.getMessage)
  }

  test("compaction after repeated appends: file counts shrink, served rows identical; no-op under threshold; torn refuses") {
    val cents = Ivf.fitCentroids(emb, nCells = 4)
    val p = s"${tempDir("ivfcmp")}/idx"
    Artifacts.saveIvfIndex(emb.filter(col("vec_id") < 10), p, cents,
      "vec_id", "embedding", 100000)
    // 8 nightly micro-appends fragment the cell partitions
    for (i <- 0 until 8)
      Artifacts.appendIvfIndex(
        emb.filter(col("vec_id") >= 10 + i * 5 && col("vec_id") < 15 + i * 5),
        p, cents, maxCell = 100000)
    def fileCount: Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
          .map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(p, "index"))
    }
    val (before, splitsB) = Artifacts.loadIvfIndex(spark, p, cents)
    val beforeRows = rows(before.select("neighbor_id", "cell", "subcell"))
    val fBefore = fileCount
    val n = Artifacts.compactCellIndex(spark, p, maxFilesPerCell = 2)
    assert(n > 0, s"fixture must fragment past the threshold ($fBefore files)")
    assert(fileCount < fBefore)
    assert(new java.io.File(p, "_SUCCESS").exists())
    val (after, splitsA) = Artifacts.loadIvfIndex(spark, p, cents)
    assert(splitsA == splitsB)
    assert(rows(after.select("neighbor_id", "cell", "subcell"))
      == beforeRows)
    // compact==no-op once under threshold: returns 0, content untouched
    assert(Artifacts.compactCellIndex(spark, p, maxFilesPerCell = 2) == 0)
    assert(rows(Artifacts.loadIvfIndex(spark, p, cents)._1
      .select("neighbor_id", "cell", "subcell")) == beforeRows)
    // appendable (rows/) flavor: fragment with 4 appends, compact,
    // loaded capped view identical
    import graft.northstar.Dedup
    val pw = s"${tempDir("wincmp")}/idx"
    val winnow = Artifacts.CappedIndex.winnow(maxBucket = 100)
    winnow.save(docs.filter(col("doc_id") % 8 === 0), pw)
    for (r <- 1 to 7)
      winnow.append(docs.filter(col("doc_id") % 8 === r), pw)
    val beforeW = rows(winnow.load(spark, pw))
    assert(Artifacts.compactAppendableIndex(spark, pw, maxFiles = 4))
    assert(rows(winnow.load(spark, pw)) == beforeW)
    assert(rows(winnow.load(spark, pw)) ==
      rows(Dedup.winnowIndex(docs, maxBucket = 100)))
    assert(!Artifacts.compactAppendableIndex(spark, pw, maxFiles = 4))
    // torn: marker gone → both compactors refuse
    assert(new java.io.File(p, "_SUCCESS").delete())
    assert(intercept[IllegalArgumentException] {
      Artifacts.compactCellIndex(spark, p, maxFilesPerCell = 2)
    }.getMessage.contains("_SUCCESS"))
    assert(new java.io.File(pw, "_SUCCESS").delete())
    assert(intercept[IllegalArgumentException] {
      Artifacts.compactAppendableIndex(spark, pw, maxFiles = 4)
    }.getMessage.contains("_SUCCESS"))
  }

  test("append on a torn index fails loudly; ensureTrained recovery rebuilds the wreck") {
    val cents = Ivf.fitCentroids(embA, nCells = 4)
    val p = s"${tempDir("ivftorn")}/idx"
    Artifacts.saveIvfIndex(embA, p, cents, "vec_id", "embedding", 100000)
    // simulate a torn append: marker gone, one cell dir half-mutated
    assert(new java.io.File(p, "_SUCCESS").delete())
    val someCell = new java.io.File(p, "index").listFiles()
      .find(_.getName.startsWith("cell=")).get
    someCell.listFiles().foreach(f => f.delete(): Unit)
    val e = intercept[IllegalArgumentException] {
      Artifacts.appendIvfIndex(embB, p, cents, maxCell = 100000)
    }
    assert(e.getMessage.contains("_SUCCESS"), e.getMessage)
    // the *For resolution path treats the marker-less dir as a wreck:
    // clears it and rebuilds from scratch
    Artifacts.ensureTrained(p) { tmp =>
      Artifacts.saveIvfIndex(emb, tmp, cents, "vec_id", "embedding", 100000)
    }
    val (idx, _) = Artifacts.loadIvfIndex(spark, p, cents)
    assert(idx.count() == emb.count())
  }

  test("append planning failure refuses loudly and leaves the index servable (marker republished)") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val cents = Ivf.fitCentroids(embA, nCells = 4)
    val p = s"${tempDir("ivfplanfail")}/idx"
    Artifacts.saveIvfIndex(embA, p, cents, "vec_id", "embedding", 100000)
    // an incoming batch with a null embedding fails in the PLANNING
    // phase — named message (not a bare NPE), and since nothing was
    // mutated the marker must come back: the index stays appendable
    // and servable instead of a rebuild-only wreck (code-review r14)
    val withNull = embB.select(col("vec_id"),
      when(col("vec_id") === embB.select("vec_id").head().getLong(0),
          lit(null).cast("array<float>"))
        .otherwise(col("embedding")).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Artifacts.appendIvfIndex(withNull, p, cents, maxCell = 100000)
    }
    assert(e.getMessage.contains("null embeddings"), e.getMessage)
    assert(new java.io.File(p, "_SUCCESS").exists(),
      "planning failure must republish the marker")
    // the clean batch then appends fine
    Artifacts.appendIvfIndex(embB, p, cents, maxCell = 100000)
    val (idx, _) = Artifacts.loadIvfIndex(spark, p, cents)
    assert(idx.count() == embA.count() + embB.count())
  }

  test("ensureTrained cleans its scratch when training fails") {
    val store = new java.io.File(tempDir("trainfail"))
    val dst = new java.io.File(store, "probe-" + "ab" * 16)
    intercept[RuntimeException] {
      Artifacts.ensureTrained(dst.toString) { tmp =>
        new java.io.File(tmp).mkdirs()
        new java.io.File(tmp, "partial").createNewFile()
        throw new RuntimeException("boom mid-train")
      }
    }
    // the corpus-sized partial scratch must not sit out the 7-day TTL
    val leftovers = Option(store.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.contains(".tmp-"))
    assert(leftovers.isEmpty, leftovers.map(_.getName).mkString(","))
    assert(!dst.exists())
  }

  test("append against a foreign quantizer fails the params pin") {
    val cents = Ivf.fitCentroids(embA, nCells = 4)
    val p = s"${tempDir("ivfpin")}/idx"
    Artifacts.saveIvfIndex(embA, p, cents, "vec_id", "embedding", 100000)
    val other = Ivf.fitCentroids(embA, nCells = 4, seed = 7L)
    val e = intercept[IllegalArgumentException] {
      Artifacts.appendIvfIndex(embB, p, other, maxCell = 100000)
    }
    assert(e.getMessage.contains("generated with"), e.getMessage)
  }

  test("appendable winnow index: append-then-load == capped rebuild on the union; torn append refuses") {
    import graft.northstar.Dedup
    // 8 boilerplate copies straddling the A/B halves: their shared
    // sketch fps sit UNDER the cap in A alone (4 copies) but OVER it on
    // the union (8 > 5) — the exact case a memoryless append gets
    // wrong (partial resurrection of a dropped bucket)
    val boiler = spark.range(8).select((col("id") + 800000).as("doc_id"),
      lit("alpha beta gamma delta epsilon zeta eta theta iota kappa")
        .as("text"))
    val corpus = docs.unionAll(boiler)
    val docsA = corpus.filter(col("doc_id") % 2 === 0)
    val docsB = corpus.filter(col("doc_id") % 2 =!= 0)
    val cap = 5
    val p = s"${tempDir("winapp")}/idx"
    Artifacts.CappedIndex.winnow(maxBucket = cap).save(docsA, p)
    Artifacts.CappedIndex.winnow(maxBucket = cap).append(docsB, p)
    val loaded = Artifacts.CappedIndex.winnow(maxBucket = cap).load(spark, p)
    val rebuilt = Dedup.winnowIndex(corpus, maxBucket = cap)
    assert(rows(loaded) == rows(rebuilt))
    // the dropped list is live (a cap of 5 on 500 shared-vocab docs
    // must drop something) — the identity above would hold vacuously on
    // an empty dropped set otherwise
    assert(spark.read.parquet(s"$p/dropped").count() > 0)
    // the capped view serves the overlap probe identically to the
    // in-memory index
    val probe = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 900000).as("doc_id"), col("text"))
    assert(rows(Dedup.winnowPairsAgainstIndex(probe, loaded))
      == rows(Dedup.winnowPairsAgainstIndex(probe, rebuilt)))
    // torn append: marker gone → both load and append refuse
    assert(new java.io.File(p, "_SUCCESS").delete())
    val e1 = intercept[IllegalArgumentException] {
      Artifacts.CappedIndex.winnow(maxBucket = cap).load(spark, p)
    }
    assert(e1.getMessage.contains("_SUCCESS"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Artifacts.CappedIndex.winnow(maxBucket = cap).append(docsB, p)
    }
    assert(e2.getMessage.contains("_SUCCESS"), e2.getMessage)
    // parameter drift (different cap) fails the params pin
    Artifacts.CappedIndex.winnow(maxBucket = cap).save(docsA, p)
    val e3 = intercept[IllegalArgumentException] {
      Artifacts.CappedIndex.winnow(maxBucket = cap + 1).append(docsB, p)
    }
    assert(e3.getMessage.contains("generated with"), e3.getMessage)
  }

  test("appendable band index: append-then-load == capped rebuild; screen parity through minhashPairsAgainstIndex") {
    import graft.northstar.Dedup
    val docsA = docs.filter(col("doc_id") % 2 === 0)
    val docsB = docs.filter(col("doc_id") % 2 =!= 0)
    val cap = 50
    val p = s"${tempDir("bandapp")}/idx"
    Artifacts.CappedIndex.band(maxBucket = cap).save(docsA, p)
    Artifacts.CappedIndex.band(maxBucket = cap).append(docsB, p)
    val loaded = Artifacts.CappedIndex.band(maxBucket = cap).load(spark, p)
    val rebuilt = Dedup.bandIndex(docs, maxBucket = cap)
    assert(rows(loaded) == rows(rebuilt))
    // nightly screen parity: quoting copies of accumulated docs must
    // find their sources through the stored index exactly as through
    // the in-memory one
    val probe = docs.filter(col("doc_id") < 20).select(
      (col("doc_id") + 900000).as("doc_id"),
      concat(col("text"), lit(" trailing commentary")).as("text"))
    val viaStored = Dedup.minhashPairsAgainstIndex(probe, loaded,
      docs.select("doc_id", "text"), threshold = 0.5, maxBucket = cap)
    val viaMemory = Dedup.minhashPairsAgainstIndex(probe, rebuilt,
      docs.select("doc_id", "text"), threshold = 0.5, maxBucket = cap)
    assert(rows(viaStored) == rows(viaMemory))
    assert(viaStored.count() > 0)
  }

  test("the append census-drift WARN names, in plain text, the one retrain " +
       "of an IVF-PQ literal root and of an IVF-PQ stored-cells root") {
    val shifted = embB.select((col("vec_id") + 5000L).as("vec_id"),
      expr("transform(embedding, x -> cast(x + 1.5 as float))")
        .as("embedding"))
    val cb = graft.northstar.Pq.fitCodebooks(embA, m = 8, ksub = 8)
    def warning(q: Ivf.CoarseQuantizer): String = {
      val p = s"${tempDir("pqdriftwarn")}/idx"
      Artifacts.saveIvfPqIndex(embA, p, q, cb)
      val err = new java.io.ByteArrayOutputStream()
      Console.withErr(new java.io.PrintStream(err, true, "UTF-8")) {
        Artifacts.appendIvfPqIndex(shifted, embA, p, q, cb): Unit
      }
      val out = err.toString("UTF-8")
      val lines = out.linesIterator.filter(_.contains("census drift")).toSeq
      assert(lines.size == 1, out)
      lines.head
    }
    val hq = Ivf.HierarchicalQuantizer(
      Ivf.fitCentroids(embA, nCells = 3, seed = 7L),
      Ivf.fitCentroids(embA, nCells = 8), superProbe = 3)
    val cells = s"${tempDir("pqdriftwarn")}/cells"
    hq.cellsRelation(spark).select("cell", "sup", "ccv").write.parquet(cells)
    val stored = Ivf.StoredQuantizer(Ivf.LiteralQuantizer(hq.superCentroids),
      cells, hq.nCells, hq.centroids(0).length, superProbe = 3)
    for ((q, retrain) <- Seq(
        Ivf.CoarseQuantizer.literal(hq.centroids) -> "retrainIvfPqIndex",
        stored -> "retrainIvfPqIndexStored")) {
      val w = warning(q)
      assert(w.contains(s"schedule $retrain (") && !w.contains("[[") &&
        "retrain\\w+".r.findAllIn(w).toSeq == Seq(retrain), w)
    }
  }

  test("append drift telemetry: in-distribution append stays under the " +
       "retrain bar, a shifted batch trips it; rebuild resets history") {
    import org.apache.spark.sql.functions.expr
    // the operational form of the ScaleProbe drift probe: every
    // appendCellIndex records Ivf.censusDrift(stored, incoming) — free,
    // both censuses exist for the split refresh — into drift.log, and
    // WARNs past Ivf.RetrainDriftThreshold
    val cents = Ivf.fitCentroids(embA, nCells = 4)
    val p = s"${tempDir("ivfdrift")}/idx"
    Artifacts.saveIvfIndex(embA, p, cents, "vec_id", "embedding", 100000)
    assert(Artifacts.appendDriftHistory(p).isEmpty)
    Artifacts.appendIvfIndex(embB, p, cents): Unit
    // shifted batch: constant bias on every component pulls every
    // direction toward the ones-vector — occupancy collapses to the
    // cell(s) nearest it, the distribution-shift signature
    val shifted = embB.select((col("vec_id") + 5000L).as("vec_id"),
      expr("transform(embedding, x -> cast(x + 1.5 as float))")
        .as("embedding"))
    Artifacts.appendIvfIndex(shifted, p, cents): Unit
    // NON-DILUTION (code-review r15): the baseline is the persisted
    // BUILD census, not the live stored one — a second shifted batch
    // must read essentially the SAME drift as the first, even though
    // the store is now part drifted data (against the live census the
    // signal would halve per batch and go silent under sustained
    // drift, the exact scenario the hook exists for)
    val shifted2 = shifted.select((col("vec_id") + 5000L).as("vec_id"),
      col("embedding"))
    Artifacts.appendIvfIndex(shifted2, p, cents): Unit
    val h = Artifacts.appendDriftHistory(p)
    assert(h.size == 3, h.toString)
    assert(h(0)._3 < Ivf.RetrainDriftThreshold,
      s"in-distribution append read drift ${h(0)._3}")
    assert(h(1)._3 > Ivf.RetrainDriftThreshold,
      s"shifted append read drift ${h(1)._3}")
    assert(math.abs(h(2)._3 - h(1)._3) < 0.02,
      s"drift signal diluted: ${h(1)._3} then ${h(2)._3} on identical " +
        "distribution shifts")
    assert(h.forall(_._2 == embB.count()))
    // the decision predicate the WARN asks the operator to make, as
    // one call: the window-MEDIAN drift over the last `window` appends
    // vs the retrain bar. Over [in-dist, shifted, shifted] the median
    // is a shifted batch and trips; an empty history (fresh build)
    // never trips
    assert(Artifacts.driftExceeded(p),
      s"sustained shift must trip driftExceeded: $h")
    assert(!Artifacts.driftExceeded(p, window = 30),
      "a window wider than the history is a cold start — the evidence " +
        "for SUSTAINED drift does not exist yet, so the predicate waits")
    // a from-scratch rebuild starts a new quantizer story
    Artifacts.saveIvfIndex(embA, p, cents, "vec_id", "embedding", 100000)
    assert(Artifacts.appendDriftHistory(p).isEmpty)
    assert(!Artifacts.driftExceeded(p),
      "an empty drift history must not trip the retrain predicate")
    // one in-distribution append: under the bar, predicate stays false
    Artifacts.appendIvfIndex(embB, p, cents): Unit
    assert(!Artifacts.driftExceeded(p),
      "an in-distribution append must not trip the retrain predicate")
    // SINGLE-OUTLIER IMMUNITY (code-review r17): one anomalous batch
    // after an in-distribution history must NOT trip the predicate —
    // the median of [in, shifted] is the in-distribution entry (the
    // pre-fix mean fired a minutes-long retrain off one bad upstream
    // file)
    Artifacts.appendIvfIndex(shifted, p, cents): Unit
    assert(!Artifacts.driftExceeded(p),
      "a single outlier batch must not trip the retrain predicate: " +
        Artifacts.appendDriftHistory(p).toString)
    // ... and a SECOND consecutive shifted batch makes it sustained
    Artifacts.appendIvfIndex(shifted2, p, cents): Unit
    assert(Artifacts.driftExceeded(p),
      "two consecutive shifted batches are sustained drift: " +
        Artifacts.appendDriftHistory(p).toString)
    // COLD-START GUARD (VERDICT r17): right after a rebuild, ONE
    // anomalous append must not trip — with a 1-entry history that
    // batch IS the median, the exact single-outlier scenario the
    // median was adopted against; the predicate requires a full
    // window of evidence before it can fire a minutes-long retrain
    Artifacts.saveIvfIndex(embA, p, cents, "vec_id", "embedding", 100000)
    Artifacts.appendIvfIndex(shifted, p, cents): Unit
    assert(Artifacts.appendDriftHistory(p).size == 1)
    assert(!Artifacts.driftExceeded(p),
      "one anomalous post-rebuild append must not trip the retrain " +
        "predicate: the history must be window-deep first")
  }

  test("maintainIndex: one-call maintenance reads the layout, applies " +
       "the drift decision, dispatches the right retrain, and " +
       "reports — composed from the O3 scheduler (VERDICT r17 task 1)") {
    import org.apache.spark.sql.functions.expr
    def shift(df: org.apache.spark.sql.DataFrame, off: Long) =
      df.select((col("vec_id") + off).as("vec_id"),
        expr("transform(embedding, x -> cast(x + 1.5 as float))")
          .as("embedding"))
    val cents = Ivf.fitCentroids(embA, nCells = 4)
    val p = s"${tempDir("ivfmaint")}/idx"
    Artifacts.saveIvfIndex(embA, p, cents, "vec_id", "embedding", 100000)
    // tick 0: fresh build, empty history — the cold-start guard holds
    val r0 = Artifacts.maintainIndex(spark, p)
    assert(r0.layout == "raw" && r0.family == "literal/hier")
    assert(!r0.driftExceeded && !r0.retrained && r0.medianDrift.isEmpty
      && r0.appendsObserved == 0, r0.toString)
    // the nightly pattern: Scheduler.runEvery (O3) drives append-then-
    // maintain ticks (fake sleep, three iterations) — one
    // in-distribution batch, then two shifted; only the third tick
    // sees a window-deep history whose MEDIAN is over the bar
    val batches = Iterator(embB, shift(embB, 5000L), shift(embB, 10000L))
    val reports = scala.collection.mutable.Buffer
      .empty[Artifacts.IndexMaintenanceReport]
    graft.engine.Scheduler.runEvery(minutes = 60, times = Some(3),
        sleep = _ => ()) { () =>
      Artifacts.appendIvfIndex(batches.next(), p, cents): Unit
      reports += Artifacts.maintainIndex(spark, p)
    }
    assert(reports.map(r => (r.driftExceeded, r.retrained)).toSeq
      == Seq((false, false), (false, false), (true, true)),
      reports.mkString(" | "))
    assert(reports(2).medianDrift.exists(_ > Ivf.RetrainDriftThreshold))
    // the retrain swapped in a complete fresh artifact: marker
    // republished, drift history reset, every current row present
    assert(new java.io.File(p, "_SUCCESS").exists())
    assert(Artifacts.appendDriftHistory(p).isEmpty)
    assert(spark.read.parquet(p + "/index").count()
      == embA.count() + 3 * embB.count())
    // the report hands the NEW quantizer back (code-review r18: the
    // raw literal family's centroids live nowhere but the operator's
    // hands — without this the nightly append job could never
    // recover); the old handle refuses at the digest pin, the adopted
    // one appends cleanly — the runbook's recovery loop
    assert(reports.take(2).forall(_.retrainedQuantizer.isEmpty))
    intercept[IllegalArgumentException] {
      Artifacts.appendIvfIndex(shift(embB, 20000L), p, cents): Unit
    }
    reports(2).retrainedQuantizer match {
      case Some(Ivf.LiteralQuantizer(c2)) =>
        Artifacts.appendIvfIndex(shift(embB, 20000L), p, c2): Unit
      case other => fail(s"expected a literal retrained quantizer: $other")
    }
    // steady-state tick (1-entry history → no retrain): the same call
    // covers the OTHER maintenance dimension — the retrain+append
    // fragmented cell directories, and a no-retrain tick compacts
    // them; a second tick converges to zero rewrites
    val rC = Artifacts.maintainIndex(spark, p, compactOver = 1)
    assert(!rC.retrained && rC.cellsCompacted > 0, rC.toString)
    val rC2 = Artifacts.maintainIndex(spark, p, compactOver = 1)
    assert(rC2.cellsCompacted == 0,
      s"compaction must converge, got $rC2")
    assert(spark.read.parquet(p + "/index").count()
      == embA.count() + 4 * embB.count(),
      "compaction must not change the served rows")
    // codes-only dispatch: without the corpus the refusal names the
    // repair; with it the tick retrains the codes layout in place
    val pq = s"${tempDir("ivfpqmaint")}/idx"
    val cb = graft.northstar.Pq.fitCodebooks(embA, m = 8, ksub = 8)
    Artifacts.saveIvfPqIndex(embA, pq, cents, cb, "vec_id", "embedding",
      100000)
    var corpusAll = embA.select("vec_id", "embedding")
    for (off <- Seq(5000L, 10000L, 15000L)) {
      val b = shift(embB, off)
      corpusAll = corpusAll.unionAll(b)
      Artifacts.appendIvfPqIndex(b, corpusAll, pq, cents, cb): Unit
    }
    val e = intercept[IllegalArgumentException] {
      Artifacts.maintainIndex(spark, pq)
    }
    assert(e.getMessage.contains("codes-only"), e.getMessage)
    val r1 = Artifacts.maintainIndex(spark, pq,
      corpus = Some(corpusAll), m = 8, ksub = 8)
    assert(r1.layout == "codes" && r1.family == "literal/hier"
      && r1.retrained, r1.toString)
    assert(r1.retrainedQuantizer.isDefined
      && r1.retrainedCodebooks.isDefined,
      "a codes-only retrain must hand back quantizer AND codebooks")
    assert(Artifacts.appendDriftHistory(pq).isEmpty)
    // stored-family detection rides the _params pin, not caller
    // knowledge (a fresh stored save keeps its cells outside the
    // artifact, so a directory probe would misread it)
    val pS = s"${tempDir("ivfmaintstored")}/idx"
    val sq = Ivf.fitStored(embA, nCells = 4,
      s"${tempDir("ivfmaintstored")}/cellsrc")
    Artifacts.saveIvfIndex(embA, pS, sq)
    val rS = Artifacts.maintainIndex(spark, pS)
    assert(rS.family == "stored-cells" && rS.layout == "raw"
      && !rS.retrained, rS.toString)
  }

  test("maintainIndex dispatches the APPENDABLE winnow index by its " +
       "kind pin: nightly O3 ticks own rows/ fragmentation too " +
       "(VERDICT r18 task 4)") {
    import graft.northstar.Dedup
    val p = s"${tempDir("winmaint")}/idx"
    Artifacts.CappedIndex.winnow(maxBucket = 100).save(
      docs.filter(col("doc_id") % 8 === 0), p)
    // the nightly pattern: Scheduler.runEvery (O3) drives append-then-
    // maintain ticks; with the tick threshold at 4 files the LAST
    // ticks must see the fragmentation and rewrite rows/ exactly when
    // it crosses, converging to no-op in between
    val batches = Iterator.from(1).map(r =>
      docs.filter(col("doc_id") % 8 === r))
    val reports = scala.collection.mutable.Buffer
      .empty[Artifacts.IndexMaintenanceReport]
    graft.engine.Scheduler.runEvery(minutes = 60, times = Some(7),
        sleep = _ => ()) { () =>
      Artifacts.CappedIndex.winnow(maxBucket = 100).append(batches.next(), p)
      reports += Artifacts.maintainIndex(spark, p, compactOver = 4)
    }
    assert(reports.forall(r => r.family == "appendable-winnow"
      && r.layout == "rows" && !r.retrained && !r.driftExceeded
      && r.medianDrift.isEmpty), reports.mkString(" | "))
    assert(reports.exists(_.cellsCompacted > 0),
      s"seven nightly appends over a 4-file threshold must have " +
        s"compacted at least once: ${reports.mkString(" | ")}")
    // marker republished; the served capped view equals a from-scratch
    // rebuild on the accumulated corpus (compaction is content-neutral)
    assert(new java.io.File(p, "_SUCCESS").exists())
    assert(rows(Artifacts.CappedIndex.winnow(maxBucket = 100).load(spark, p))
      == rows(Dedup.winnowIndex(docs, maxBucket = 100)))
    // a quiet tick is a no-op report (below threshold after compaction
    // + nothing appended)
    val rq = Artifacts.maintainIndex(spark, p, compactOver = 16)
    assert(rq.cellsCompacted == 0, rq.toString)
  }

  /** Replace a saved cell index's parquet `drift_base` with the older
    * builds' "cell=count" text form carrying `lines`, or — when empty —
    * with the census itself in that form; returns the census.
    */
  private def forgeTextDriftBase(p: String,
                                 lines: Seq[String] = Nil): Seq[(Int, Long)] = {
    val baseDir = new java.io.File(p, "drift_base")
    val census = spark.read.parquet(baseDir.toString).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1).toSeq
    Artifacts.deleteRec(baseDir)
    val text = if (lines.nonEmpty) lines
      else census.map { case (c, n) => s"$c=$n" }
    java.nio.file.Files.write(baseDir.toPath,
      text.mkString("", "\n", "\n").getBytes("UTF-8"))
    census
  }

  test("maintainIndex canonicalizes a torn drift.log under the marker " +
       "mutex; a forged text drift_base is refused and retrainIvfIndex " +
       "unblocks it") {
    val cents = Ivf.fitCentroids(embA, nCells = 4)
    val p = s"${tempDir("ivfmigrate")}/idx"
    Artifacts.saveIvfIndex(embA, p, cents, "vec_id", "embedding", 100000)
    Artifacts.appendIvfIndex(embB, p, cents): Unit
    val histBefore = Artifacts.appendDriftHistory(p)
    assert(histBefore.size == 1, "fixture needs one real history line")
    // forge an older build's text drift_base; drift.log gains a torn
    // tail line (a crashed append's flush)
    forgeTextDriftBase(p)
    val baseDir = new java.io.File(p, "drift_base")
    val logFile = new java.io.File(p, "drift.log")
    java.nio.file.Files.write(logFile.toPath,
      "ts=123 rows=45 drift=0.1".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    assert(Artifacts.appendDriftHistory(p) == histBefore,
      "the anchored parse must drop the torn line (fixture sanity)")
    // the maintenance tick canonicalizes the log under the marker mutex
    val r = Artifacts.maintainIndex(spark, p)
    assert(!r.retrained && new java.io.File(p, "_SUCCESS").exists())
    val logLines = java.nio.file.Files.readAllLines(logFile.toPath)
      .asScala.toSeq
    assert(logLines.size == 1 && !logLines.exists(_.contains("ts=123")),
      s"torn line must be gone, real line kept: $logLines")
    assert(Artifacts.appendDriftHistory(p) == histBefore,
      "canonicalization must not change what the parse reads")
    // the text baseline is not migrated: the append refuses it, keeping
    // the marker up
    assert(baseDir.isFile)
    val e = intercept[IllegalArgumentException] {
      Artifacts.appendIvfIndex(embB, p, cents)
    }
    assert(e.getMessage.contains("drift_base") &&
      e.getMessage.contains("retrainIvfIndex"), e.getMessage)
    assert(new java.io.File(p, "_SUCCESS").exists())
    // the retrain rewrites every sidecar; the next append records drift
    // against the new parquet baseline
    val (q, _) = Artifacts.retrainIvfIndex(spark, p, nCells = 4)
    assert(baseDir.isDirectory)
    Artifacts.appendIvfIndex(
      embB.select((col("vec_id") + 7000L).as("vec_id"),
        col("embedding")), p, q): Unit
    assert(Artifacts.appendDriftHistory(p).size == 1)
    // a second contact has nothing to canonicalize
    val r2 = Artifacts.maintainIndex(spark, p)
    assert(new java.io.File(p, "_SUCCESS").exists() && !r2.retrained)
  }

  test("a torn or garbage text drift_base never bricks maintenance: the " +
       "tick still runs, append refuses naming retrainIvfIndex, and a " +
       "retrain restores a parquet baseline") {
    val cents = Ivf.fitCentroids(embA, nCells = 4)
    // ALL lines torn, and a MIXED file: maintenance must not throw on
    // either (an earlier parse threw AFTER the mutex claim — permanent
    // maintenance failure)
    for (lines <- Seq(Seq("cell=cou", "= ", "garbage"),
                      Seq("2=7", "cell=cou", "3=11"))) {
      val p = s"${tempDir("ivftorn")}/idx"
      Artifacts.saveIvfIndex(embA, p, cents, "vec_id", "embedding", 100000)
      forgeTextDriftBase(p, lines)
      val r = Artifacts.maintainIndex(spark, p)
      assert(!r.retrained && new java.io.File(p, "_SUCCESS").exists())
      val e = intercept[IllegalArgumentException] {
        Artifacts.appendIvfIndex(embB, p, cents)
      }
      assert(e.getMessage.contains("retrainIvfIndex"), e.getMessage)
      assert(new java.io.File(p, "_SUCCESS").exists())
      val (q, _) = Artifacts.retrainIvfIndex(spark, p, nCells = 4)
      val baseDir = new java.io.File(p, "drift_base")
      assert(baseDir.isDirectory, "the retrain must write a parquet baseline")
      assert(spark.read.parquet(baseDir.toString)
        .agg(sum("count")).collect()(0).getLong(0) == embA.count())
      Artifacts.appendIvfIndex(embB, p, q): Unit
      assert(Artifacts.appendDriftHistory(p).size == 1)
    }
  }

  test("a text drift_base REFUSES to serve: append names retrainIvfIndex " +
       "as the remedy and keeps the marker up; a retrain then unblocks " +
       "the append") {
    val cents = Ivf.fitCentroids(embA, nCells = 4)
    val p = s"${tempDir("ivfrefuse")}/idx"
    Artifacts.saveIvfIndex(embA, p, cents, "vec_id", "embedding", 100000)
    val census = forgeTextDriftBase(p)
    val e = intercept[IllegalArgumentException] {
      Artifacts.appendIvfIndex(embB, p, cents)
    }
    assert(e.getMessage.contains("retrainIvfIndex"), e.getMessage)
    // a refusal, never a wreck: the index still carries its marker
    assert(new java.io.File(p, "_SUCCESS").exists(),
      "a sidecar refusal must not strand the artifact markerless")
    val (q, _) = Artifacts.retrainIvfIndex(spark, p, nCells = 4)
    val baseDir = new java.io.File(p, "drift_base")
    assert(baseDir.isDirectory)
    assert(spark.read.parquet(baseDir.toString).agg(sum("count"))
      .collect()(0).getLong(0) == census.map(_._2).sum,
      "the retrained baseline covers the same corpus")
    Artifacts.appendIvfIndex(embB, p, q): Unit
    assert(Artifacts.appendDriftHistory(p).size == 1,
      "post-retrain append must record drift against the parquet baseline")
  }

  test("every required sidecar is refused when missing: load, append and " +
       "remove of an IVF, IVF-PQ and every capped index name the " +
       "remedy, leave _SUCCESS and the data untouched, and the remedy " +
       "restores service") {
    import graft.northstar.Dedup
    // name + size of every file under `part`: an untouched artifact
    // keeps exactly this listing
    def listing(p: String, part: String): Seq[(String, Long)] = {
      val root = new java.io.File(p, part).toPath
      val files = java.nio.file.Files.walk(root)
      try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => root.relativize(f).toString -> f.toFile.length)
        .toSeq.sorted
      finally files.close()
    }
    def refuses(p: String, part: String, sidecar: String,
                remedy: String)(body: => Any): Unit = {
      val before = listing(p, part)
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains(sidecar) &&
        e.getMessage.contains(remedy), e.getMessage)
      assert(new java.io.File(p, "_SUCCESS").exists(),
        "the refusal must leave the commit marker up")
      assert(listing(p, part) == before, s"the refusal must not touch $part/")
    }
    // the sidecar gone, or (drift_base) replaced by the older text form
    def damage(p: String, sidecar: String, text: Boolean): Unit =
      if (text) forgeTextDriftBase(p): Unit
      else Artifacts.deleteRec(new java.io.File(p, sidecar))
    val cellSidecars = Seq("_splits" -> false, "_schemas" -> false,
      "drift_total" -> false, "drift_base" -> false, "drift_base" -> true)
    val takedown = embA.select("vec_id").limit(5)

    val cents = Ivf.fitCentroids(embA, nCells = 4)
    val pRaw = s"${tempDir("sidecars")}/raw"
    Artifacts.saveIvfIndex(embA, pRaw, cents, "vec_id", "embedding", 100000)
    var q: Ivf.CoarseQuantizer = Ivf.LiteralQuantizer(cents)
    for ((sidecar, text) <- cellSidecars) {
      damage(pRaw, sidecar, text)
      refuses(pRaw, "index", sidecar, "retrainIvfIndex")(
        Artifacts.loadIvfIndex(spark, pRaw, q))
      refuses(pRaw, "index", sidecar, "saveIvfIndex")(
        Artifacts.appendIvfIndex(embB, pRaw, q))
      refuses(pRaw, "index", sidecar, "retrainIvfIndex")(
        Artifacts.removeFromIvfIndex(takedown, pRaw, q))
      val (q2, splits) = Artifacts.retrainIvfIndex(spark, pRaw, nCells = 4)
      q = q2
      val (idx, splitsL) = Artifacts.loadIvfIndex(spark, pRaw, q)
      assert(splitsL == splits && idx.count() == embA.count())
    }

    val cb = graft.northstar.Pq.fitCodebooks(embA, m = 8, ksub = 8)
    val pPq = s"${tempDir("sidecars")}/pq"
    Artifacts.saveIvfPqIndex(embA, pPq, cents, cb, "vec_id", "embedding",
      100000)
    var qPq: Ivf.CoarseQuantizer = Ivf.LiteralQuantizer(cents)
    var cbPq = cb
    for ((sidecar, text) <- cellSidecars) {
      damage(pPq, sidecar, text)
      refuses(pPq, "index", sidecar, "retrainIvfPqIndex")(
        Artifacts.loadIvfPqIndex(spark, pPq, qPq, cbPq))
      refuses(pPq, "index", sidecar, "saveIvfPqIndex")(
        Artifacts.appendIvfPqIndex(embB, embA, pPq, qPq, cbPq))
      refuses(pPq, "index", sidecar, "retrainIvfPqIndex")(
        Artifacts.removeFromIvfPqIndex(takedown, embA, pPq, qPq, cbPq))
      val (q2, cb2, splits) = Artifacts.retrainIvfPqIndex(spark, embA, pPq,
        nCells = 4, m = 8, ksub = 8)
      qPq = q2; cbPq = cb2
      val (idx, splitsL) = Artifacts.loadIvfPqIndex(spark, pPq, qPq, cbPq)
      assert(splitsL == splits && idx.count() == embA.count())
    }

    // the capped arm runs over all four kinds; each refusal names its
    // own kind's save verb
    import graft.northstar.Multimodal
    val base = docs.filter(col("doc_id") % 4 === 0)
    def assets(payload: Long => Array[Byte], sel: Long => Boolean) =
      (0L until 8L).filter(sel).map(id => (id, payload(id)))
        .toDF("asset_id", "payload")
    def png(id: Long) = Multimodal.syntheticPatternPng(id)
    def wav(id: Long) = Multimodal.syntheticPatternWav(id)
    val capped: Seq[(String, Artifacts.CappedIndex,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)] = Seq(
      ("winnow", Artifacts.CappedIndex.winnow(maxBucket = 100), base,
        docs.filter(col("doc_id") % 4 === 1), base.select("doc_id").limit(3)),
      ("band", Artifacts.CappedIndex.band(maxBucket = 100), base,
        docs.filter(col("doc_id") % 4 === 1), base.select("doc_id").limit(3)),
      ("imageHash", Artifacts.CappedIndex.imageHash(),
        assets(png, _ % 2 == 0), assets(png, _ % 2 == 1),
        assets(png, _ < 3).select("asset_id")),
      ("audioHash", Artifacts.CappedIndex.audioHash(),
        assets(wav, _ % 2 == 0), assets(wav, _ % 2 == 1),
        assets(wav, _ < 3).select("asset_id")))
    for ((ctor, ix, built, delta, takedown) <- capped) {
      val pW = s"${tempDir("sidecars")}/$ctor"
      ix.save(built, pW)
      val served = rows(ix.load(spark, pW))
      for (sidecar <- Seq("_params", "_schemas")) {
        damage(pW, sidecar, text = false)
        val remedy = s"CappedIndex.$ctor(...).save"
        refuses(pW, "rows", sidecar, remedy)(ix.load(spark, pW))
        refuses(pW, "rows", sidecar, remedy)(ix.append(delta, pW))
        refuses(pW, "rows", sidecar, remedy)(ix.remove(takedown, pW))
        ix.save(built, pW)
        assert(rows(ix.load(spark, pW)) == served)
      }
      if (ctor == "winnow")
        assert(served == rows(Dedup.winnowIndex(base, maxBucket = 100)))
    }
  }

  test("stored image fingerprint index (VERDICT r19 task 2): " +
       "append-then-load == imageHashes(union), remove == difference, " +
       "maintainIndex dispatches kind=phash, cross-kind load refuses") {
    import graft.northstar.Multimodal
    val ids = 0L until 24L
    def assets(sel: Long => Boolean) = ids.filter(sel)
      .map(id => (id, Multimodal.syntheticPatternPng(id)))
      .toDF("asset_id", "payload")
    val even = assets(_ % 2 == 0); val odd = assets(_ % 2 == 1)
    val all = assets(_ => true)
    def sigSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val p = s"${tempDir("phashidx")}/idx"
    Artifacts.CappedIndex.imageHash().save(even, p)
    Artifacts.CappedIndex.imageHash().append(odd, p)
    assert(sigSet(Artifacts.CappedIndex.imageHash().load(spark, p))
      == sigSet(Multimodal.imageHashes(all)),
      "append-then-load must equal hashing the union corpus — the " +
        "decode-once contract")
    // nightly tick owns rows/ fragmentation via the kind pin
    val r = Artifacts.maintainIndex(spark, p, compactOver = 1)
    assert(r.family == "appendable-phash" && r.layout == "rows"
      && !r.retrained && r.cellsCompacted == 1, r.toString)
    assert(sigSet(Artifacts.CappedIndex.imageHash().load(spark, p))
      == sigSet(Multimodal.imageHashes(all)),
      "compaction must not change the served fingerprints")
    // takedown: remove-then-load == hashing the difference corpus
    Artifacts.CappedIndex.imageHash().remove(odd.select("asset_id"), p)
    assert(sigSet(Artifacts.CappedIndex.imageHash().load(spark, p))
      == sigSet(Multimodal.imageHashes(even)))
    assert(new java.io.File(p, "_SUCCESS").exists())
    // the artifact pins its kind: serving it as an AUDIO index is the
    // silent-wrong class the sidecar exists to refuse
    val eKind = intercept[IllegalArgumentException] {
      Artifacts.CappedIndex.audioHash().load(spark, p)
    }
    assert(eKind.getMessage.contains("kind=phash"), eKind.getMessage)
    // train-once: imageHashIndexFor serves BY LOADING (same key ->
    // stored rows, even under different corpus content)
    val key = s"artifacts-spec-phash-${System.nanoTime()}"
    val first = sigSet(Artifacts.CappedIndex.imageHash().indexFor(even, key))
    assert(first == sigSet(Multimodal.imageHashes(even)))
    assert(
      sigSet(Artifacts.CappedIndex.imageHash().indexFor(odd, key)) == first,
      "same cache key must serve the stored fingerprints, not re-decode")
  }

  test("stored audio fingerprint index: the phash lifecycle contract " +
       "for kind=ahash (VERDICT r19 task 5)") {
    import graft.northstar.Multimodal
    val ids = 0L until 16L
    def assets(sel: Long => Boolean) = ids.filter(sel)
      .map(id => (id, Multimodal.syntheticPatternWav(id)))
      .toDF("asset_id", "payload")
    val even = assets(_ % 2 == 0); val odd = assets(_ % 2 == 1)
    def sigSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val p = s"${tempDir("ahashidx")}/idx"
    Artifacts.CappedIndex.audioHash().save(even, p)
    Artifacts.CappedIndex.audioHash().append(odd, p)
    assert(sigSet(Artifacts.CappedIndex.audioHash().load(spark, p))
      == sigSet(Multimodal.audioHashes(assets(_ => true))))
    Artifacts.CappedIndex.audioHash().remove(odd.select("asset_id"), p)
    assert(sigSet(Artifacts.CappedIndex.audioHash().load(spark, p))
      == sigSet(Multimodal.audioHashes(even)))
    val r = Artifacts.maintainIndex(spark, p, compactOver = 1)
    assert(r.family == "appendable-ahash" && r.cellsCompacted == 1,
      r.toString)
  }

  test("hierarchical IVF lifecycle: append == union rebuild, remove == " +
       "difference rebuild, serve parity throughout") {
    // PARTIAL supercell probing (2 of 3): the lifecycle identities must
    // hold for the approximate assignment too — both sides of each
    // identity run the same deterministic broadcast-join assignment
    val hq = Ivf.HierarchicalQuantizer(
      Ivf.fitCentroids(embA, nCells = 3, seed = 7L),
      Ivf.fitCentroids(embA, nCells = 8), superProbe = 2)
    val maxCell = 40 // forces re-splits on the union (the literal test's fixture)
    val p = s"${tempDir("ivfhier")}/idx"
    Artifacts.saveIvfIndex(embA, p, hq, maxCell = maxCell)
    val splitsApp = Artifacts.appendIvfIndex(embB, p, hq,
      maxCell = maxCell)
    val pU = s"${tempDir("ivfhier")}/idx"
    Artifacts.saveIvfIndex(emb, pU, hq, maxCell = maxCell)
    val (idxU, splitsU) = Artifacts.loadIvfIndex(spark, pU, hq,
      maxCell = maxCell)
    assert(splitsApp == splitsU, "append split map must equal rebuild's")
    val (idxA, splitsA) = Artifacts.loadIvfIndex(spark, p, hq,
      maxCell = maxCell)
    assert(rows(idxA.select("neighbor_id", "cell", "subcell")) ==
      rows(idxU.select("neighbor_id", "cell", "subcell")))
    val q = emb.filter(col("vec_id") < 5)
    assert(rows(Ivf.ivfServeTopK(q, idxA, hq, splitsA, k = 10, nProbe = 3))
      == rows(Ivf.ivfServeTopK(q, idxU, hq, splitsU, k = 10, nProbe = 3)))
    // takedown: removing the appended half must restore the embA build
    val splitsR = Artifacts.removeFromIvfIndex(
      embB.select("vec_id"), p, hq, maxCell = maxCell)
    val p0 = s"${tempDir("ivfhier")}/idx"
    Artifacts.saveIvfIndex(embA, p0, hq, maxCell = maxCell)
    val (idx0, splits0) = Artifacts.loadIvfIndex(spark, p0, hq,
      maxCell = maxCell)
    assert(splitsR == splits0)
    val (idxR, _) = Artifacts.loadIvfIndex(spark, p, hq,
      maxCell = maxCell)
    assert(rows(idxR.select("neighbor_id", "cell", "subcell")) ==
      rows(idx0.select("neighbor_id", "cell", "subcell")))
    // the params pin refuses a cross-family serve: the same path read
    // as a LITERAL-family index must fail loudly, not serve
    intercept[IllegalArgumentException] {
      Artifacts.loadIvfIndex(spark, p, hq.centroids, maxCell = maxCell)
    }: Unit
  }

  test("stored-cells IVF lifecycle: append == union rebuild, remove == " +
       "difference rebuild, serve parity throughout") {
    // PARTIAL supercell probing (2 of 3) under the STORED family — the
    // lifecycle identities must hold with the cells read from parquet
    // and the incoming assignment routed through the relation join
    val hq = Ivf.HierarchicalQuantizer(
      Ivf.fitCentroids(embA, nCells = 3, seed = 7L),
      Ivf.fitCentroids(embA, nCells = 8), superProbe = 2)
    val cellsPath = s"${tempDir("ivfstored")}/cells"
    hq.cellsRelation(spark).select("cell", "sup", "ccv")
      .write.parquet(cellsPath)
    val sq = Ivf.StoredQuantizer(Ivf.LiteralQuantizer(hq.superCentroids),
      cellsPath, hq.nCells, hq.centroids(0).length, superProbe = 2)
    val maxCell = 40 // forces re-splits on the union (the hier fixture)
    val p = s"${tempDir("ivfstored")}/idx"
    Artifacts.saveIvfIndex(embA, p, sq, maxCell = maxCell)
    val splitsApp = Artifacts.appendIvfIndex(embB, p, sq,
      maxCell = maxCell)
    val pU = s"${tempDir("ivfstored")}/idx"
    Artifacts.saveIvfIndex(emb, pU, sq, maxCell = maxCell)
    val (idxU, splitsU) = Artifacts.loadIvfIndex(spark, pU, sq,
      maxCell = maxCell)
    assert(splitsApp == splitsU, "append split map must equal rebuild's")
    val (idxA, splitsA) = Artifacts.loadIvfIndex(spark, p, sq,
      maxCell = maxCell)
    assert(rows(idxA.select("neighbor_id", "cell", "subcell")) ==
      rows(idxU.select("neighbor_id", "cell", "subcell")))
    val q = emb.filter(col("vec_id") < 5)
    assert(rows(Ivf.ivfServeTopK(q, idxA, sq, splitsA, k = 10,
        nProbe = 3))
      == rows(Ivf.ivfServeTopK(q, idxU, sq, splitsU, k = 10,
        nProbe = 3)))
    // ... and the stored serve equals the HIER serve on identical
    // content — the cross-family identity, through the artifact layer
    val pH = s"${tempDir("ivfstored")}/idx"
    Artifacts.saveIvfIndex(emb, pH, hq, maxCell = maxCell)
    val (idxH, splitsH) = Artifacts.loadIvfIndex(spark, pH, hq,
      maxCell = maxCell)
    assert(rows(Ivf.ivfServeTopK(q, idxU, sq, splitsU, k = 10,
        nProbe = 3))
      == rows(Ivf.ivfServeTopK(q, idxH, hq, splitsH, k = 10,
        nProbe = 3)))
    // takedown: removing the appended half must restore the embA build
    val splitsR = Artifacts.removeFromIvfIndex(
      embB.select("vec_id"), p, sq, maxCell = maxCell)
    val p0 = s"${tempDir("ivfstored")}/idx"
    Artifacts.saveIvfIndex(embA, p0, sq, maxCell = maxCell)
    val (idx0, splits0) = Artifacts.loadIvfIndex(spark, p0, sq,
      maxCell = maxCell)
    assert(splitsR == splits0)
    val (idxR, _) = Artifacts.loadIvfIndex(spark, p, sq,
      maxCell = maxCell)
    assert(rows(idxR.select("neighbor_id", "cell", "subcell")) ==
      rows(idx0.select("neighbor_id", "cell", "subcell")))
    // the params pin refuses a cross-family serve: the same path read
    // as a hier-family index must fail loudly, not serve
    intercept[IllegalArgumentException] {
      Artifacts.loadIvfIndex(spark, p, hq, maxCell = maxCell)
    }: Unit
  }

  test("retrainIvfIndexStored == fresh stored build on the current " +
       "corpus; the refit cells travel inside the artifact; the old " +
       "relation's load refuses") {
    // build on HALF the corpus under content derived from a driver fit,
    // append the other half — the drifted-census fixture
    val hq = Ivf.HierarchicalQuantizer(
      Ivf.fitCentroids(embA, nCells = 3, seed = 7L),
      Ivf.fitCentroids(embA, nCells = 8), superProbe = 3)
    val oldCells = s"${tempDir("ivfstretrain")}/cells"
    hq.cellsRelation(spark).select("cell", "sup", "ccv")
      .write.parquet(oldCells)
    val sqOld = Ivf.StoredQuantizer(
      Ivf.LiteralQuantizer(hq.superCentroids), oldCells, hq.nCells,
      hq.centroids(0).length, superProbe = 3)
    val p = s"${tempDir("ivfstretrain")}/idx"
    Artifacts.saveIvfIndex(embA, p, sqOld)
    Artifacts.appendIvfIndex(embB, p, sqOld): Unit
    // retrain on the CURRENT corpus (A ∪ B, read from the stored rows)
    val (sqNew, splits) = Artifacts.retrainIvfIndexStored(spark, p,
      nCells = 16)
    assert(sqNew.cellsPath == new java.io.File(p, "cells").toString,
      "the retrained handle must point inside the swapped artifact")
    assert(sqNew.nCells == 16)
    // identity: retrain == a fresh saveIvfIndex on the union
    // corpus under the SAME retrained quantizer (the literal retrain
    // test's shape: an INDEPENDENT refit is not comparable, because the
    // top-level driver k-means++ is collect-order-sensitive and the
    // retrain reads its corpus from the stored rows, not the testdata
    // parquet — same set, different physical order)
    val pF = s"${tempDir("ivfstretrain")}/idx"
    Artifacts.saveIvfIndex(emb, pF, sqNew)
    val (idxF, splitsF) = Artifacts.loadIvfIndex(spark, pF, sqNew)
    val (idxR, splitsR) = Artifacts.loadIvfIndex(spark, p, sqNew)
    assert(splits == splitsF && splitsR == splitsF)
    assert(rows(idxR.select("neighbor_id", "cell", "subcell")) ==
      rows(idxF.select("neighbor_id", "cell", "subcell")))
    assert(idxR.count() == emb.count())
    // fresh telemetry; the old quantizer is retired
    assert(Artifacts.appendDriftHistory(p).isEmpty,
      "retrain must start a fresh drift history")
    intercept[IllegalArgumentException] {
      Artifacts.loadIvfIndex(spark, p, sqOld)
    }: Unit
    // serving with the returned handle: full probing == brute force
    val qs = emb.filter(col("vec_id") < 5)
    assert(rows(Ivf.ivfServeTopK(qs, idxR,
        sqNew.copy(superProbe = sqNew.nSuper), splitsR, k = 10,
        nProbe = 16))
      == rows(Similarity.bruteForceTopK(qs, emb, k = 10)))
  }

  test("retrainIvfPqIndexStored refits the three-level quantizer AND " +
       "codebooks == fresh stored PQ build; wrong-family calls refuse " +
       "both ways") {
    val hq = Ivf.HierarchicalQuantizer(
      Ivf.fitCentroids(embA, nCells = 3, seed = 7L),
      Ivf.fitCentroids(embA, nCells = 8), superProbe = 3)
    val oldCells = s"${tempDir("pqstretrain")}/cells"
    hq.cellsRelation(spark).select("cell", "sup", "ccv")
      .write.parquet(oldCells)
    val sqOld = Ivf.StoredQuantizer(
      Ivf.LiteralQuantizer(hq.superCentroids), oldCells, hq.nCells,
      hq.centroids(0).length, superProbe = 3)
    val cbOld = graft.northstar.Pq.fitCodebooks(embA, m = 8, ksub = 8)
    val p = s"${tempDir("pqstretrain")}/idx"
    Artifacts.saveIvfPqIndex(embA, p, sqOld, cbOld)
    Artifacts.appendIvfPqIndex(embB, embA, p, sqOld, cbOld): Unit
    // wrong-family guard both ways: the raw-vector stored retrain on a
    // codes-only root, and the codes retrain on a raw-vector root
    val eFam = intercept[IllegalArgumentException] {
      Artifacts.retrainIvfIndexStored(spark, p)
    }
    assert(eFam.getMessage.contains("retrainIvfPqIndexStored"),
      eFam.getMessage)
    // the real retrain: both quantizers refit on the union corpus
    val (sqNew, cbNew, splits) = Artifacts.retrainIvfPqIndexStored(
      spark, emb, p, nCells = 16, m = 8, ksub = 8)
    assert(sqNew.cellsPath == new java.io.File(p, "cells").toString)
    assert(sqNew.nCells == 16)
    // identity: retrain == fresh save under the SAME retrained
    // quantizers (independent refits are collect-order-sensitive)
    val pF = s"${tempDir("pqstretrain")}/idx"
    Artifacts.saveIvfPqIndex(emb, pF, sqNew, cbNew)
    val (idxF, splitsF) =
      Artifacts.loadIvfPqIndex(spark, pF, sqNew, cbNew)
    val (idxR, splitsR) =
      Artifacts.loadIvfPqIndex(spark, p, sqNew, cbNew)
    assert(splits == splitsF && splitsR == splitsF)
    assert(rows(idxR.select("neighbor_id", "cell", "subcell", "codes")) ==
      rows(idxF.select("neighbor_id", "cell", "subcell", "codes")))
    // old quantizer retired; fresh drift story
    intercept[IllegalArgumentException] {
      Artifacts.loadIvfPqIndex(spark, p, sqOld, cbOld)
    }: Unit
    assert(Artifacts.appendDriftHistory(p).isEmpty)
    // serving with the returned handles: full probing + unbounded
    // rerank == brute force
    val qs = emb.filter(col("vec_id") < 5)
    assert(rows(graft.northstar.Pq.ivfPqServeTopK(qs, idxR, emb,
        sqNew.copy(superProbe = sqNew.nSuper), splitsR, cbNew, k = 10,
        nProbe = 16, rerank = 1 << 30))
      == rows(Similarity.bruteForceTopK(qs, emb, k = 10)))
  }

  test("retrainIvfIndex == fresh build on the current corpus; drift " +
       "history resets; the old quantizer's load refuses (VERDICT r16 task 2)") {
    val cents = Ivf.fitCentroids(embA, nCells = 4)
    val p = s"${tempDir("ivfretrain")}/idx"
    Artifacts.saveIvfIndex(embA, p, cents, "vec_id", "embedding", 100000)
    Artifacts.appendIvfIndex(embB, p, cents): Unit
    assert(Artifacts.appendDriftHistory(p).size == 1,
      "fixture must have a drift line to clear")
    // retrain on the CURRENT corpus (A ∪ B, read from the stored rows)
    val (q, splits) = Artifacts.retrainIvfIndex(spark, p, nCells = 8)
    val newCents = q match {
      case Ivf.LiteralQuantizer(c) => c
      case _ => fail("nCells=8 must stay in the literal family")
    }
    assert(!java.util.Arrays.deepEquals(
      newCents.asInstanceOf[Array[AnyRef]],
      cents.asInstanceOf[Array[AnyRef]]),
      "retrain must refit (8 cells on A∪B ≠ 4 cells on A)")
    // identity: retrain == a fresh saveIvfIndex on the union corpus
    // under the SAME retrained quantizer — stored content and splits
    val pF = s"${tempDir("ivfretrain")}/idx"
    Artifacts.saveIvfIndex(emb, pF, newCents, "vec_id", "embedding",
      100000)
    val (idxF, splitsF) = Artifacts.loadIvfIndex(spark, pF, newCents)
    val (idxR, splitsR) = Artifacts.loadIvfIndex(spark, p, newCents)
    assert(splits == splitsF && splitsR == splitsF)
    assert(rows(idxR.select("neighbor_id", "cell", "subcell")) ==
      rows(idxF.select("neighbor_id", "cell", "subcell")))
    assert(idxR.count() == emb.count())
    // fresh telemetry: history cleared, baseline = the NEW build census
    assert(Artifacts.appendDriftHistory(p).isEmpty,
      "retrain must start a fresh drift history")
    // the old quantizer is retired: its params no longer match
    intercept[IllegalArgumentException] {
      Artifacts.loadIvfIndex(spark, p, cents)
    }: Unit
    // and serving with the returned quantizer works
    val qs = emb.filter(col("vec_id") < 5)
    assert(rows(Ivf.ivfServeTopK(qs, idxR, newCents, splitsR, k = 10,
        nProbe = 8))
      == rows(Similarity.bruteForceTopK(qs, emb, k = 10)))
  }

  test("retrain scratch swept between mkdirs and the owner-token write " +
       "is a CLASSIFIED retryable mutex loss, data-safe (judge r18)") {
    // the 695/696 full-suite failure: a concurrent rebuild's
    // sweepSiblingTmp deleted the fresh, still-token-less scratch and
    // the token write's NoSuchFileException escaped unclassified —
    // neither a race outcome nor retryLoud-retryable. The seam injects
    // that sweep deterministically (the live race needs full-suite
    // load to stretch the window).
    val cents = Ivf.fitCentroids(embA, nCells = 4)
    val p = s"${tempDir("ivfsweepgap")}/idx"
    Artifacts.saveIvfIndex(embA, p, cents, "vec_id", "embedding", 100000)
    val marker = new java.io.File(p, "_SUCCESS")
    assert(marker.exists())
    var swept: java.io.File = null
    Artifacts.retrainPreTokenSeam.set { tmp =>
      swept = tmp
      Artifacts.deleteRec(tmp) // what a concurrent rebuild's sweep does
    }
    val e =
      try intercept[IllegalArgumentException] {
        Artifacts.retrainIvfIndex(spark, p, nCells = 8): Unit
      } finally Artifacts.retrainPreTokenSeam.remove()
    // the documented loss class: retryLoud keys on "commit marker"
    assert(e.getMessage != null && e.getMessage.contains("commit marker"),
      s"must be the retryable mutex-loss class, got: ${e.getMessage}")
    // pre-claim loss is data-safe: live marker untouched, index still
    // serves under the original quantizer, no scratch residue
    assert(marker.exists(), "the live commit marker must be untouched")
    assert(swept != null && !swept.exists(), "no scratch residue")
    val (idx, _) = Artifacts.loadIvfIndex(spark, p, cents)
    assert(idx.count() == embA.count())
    // ...and the retry the classification licenses succeeds outright
    val (q, _) = Artifacts.retrainIvfIndex(spark, p, nCells = 8)
    val (idx2, _) = Artifacts.loadIvfIndex(spark, p, q match {
      case Ivf.LiteralQuantizer(c) => c
      case _ => fail("nCells=8 must stay in the literal family")
    })
    assert(idx2.count() == embA.count())
  }

  test("retrainIvfIndex migrates a literal index to the hierarchical " +
       "family when the cell count crosses MaxAutoCells (VERDICT r16 task 3)") {
    val cents = Ivf.fitCentroids(embA, nCells = 4)
    val p = s"${tempDir("ivfmigrate")}/idx"
    Artifacts.saveIvfIndex(embA, p, cents, "vec_id", "embedding", 100000)
    Artifacts.appendIvfIndex(embB, p, cents): Unit
    // a requested cell count past the literal ceiling selects the
    // hierarchical family (in production the AutoCells √N rule crosses
    // it at ~MaxAutoCells² rows; the explicit count pins the dispatch
    // without a 16M-row fixture — fitHierarchical SHRINKS to the
    // corpus's distinct vectors, the family stays hierarchical)
    val (q, splits) = Artifacts.retrainIvfIndex(spark, p,
      nCells = Ivf.MaxAutoCells + 1)
    val hq = q match {
      case h: Ivf.HierarchicalQuantizer => h
      case _ => fail("past MaxAutoCells the retrain must come back " +
        "hierarchical")
    }
    // the migrated index serves through the hier load path and equals
    // the fit path on the same corpus (serve == fit, post-migration)
    val (idx, splitsL) = Artifacts.loadIvfIndex(spark, p, hq)
    assert(splitsL == splits)
    val qs = emb.filter(col("vec_id") < 5)
    assert(rows(Ivf.ivfServeTopK(qs, idx, hq, splitsL, k = 10,
        nProbe = 8))
      == rows(Ivf.ivfTopK(qs, emb, hq, k = 10, nProbe = 8)))
    // cross-family reads refuse: the literal loader on a hier index
    intercept[IllegalArgumentException] {
      Artifacts.loadIvfIndex(spark, p, hq.centroids)
    }: Unit
  }

  test("retrainIvfPqIndex refits both quantizers == fresh PQ build; " +
       "corpus drift and wrong-family calls refuse; a failed retrain " +
       "leaves the index servable") {
    val cents = Ivf.fitCentroids(embA, nCells = 4)
    val cb = graft.northstar.Pq.fitCodebooks(embA, m = 8, ksub = 8)
    val p = s"${tempDir("pqretrain")}/idx"
    Artifacts.saveIvfPqIndex(embA, p, cents, cb, "vec_id", "embedding",
      100000)
    Artifacts.appendIvfPqIndex(embB, embA, p, cents, cb): Unit
    // wrong-family guard: the raw-vector retrain cannot recover
    // vectors from codes
    val eFam = intercept[IllegalArgumentException] {
      Artifacts.retrainIvfIndex(spark, p)
    }
    assert(eFam.getMessage.contains("codes-only"), eFam.getMessage)
    // a corpus that lost an indexed id fails the membership tripwire
    // INSIDE the mutex — and the marker must be republished so the
    // index stays servable (the failed-retrain recovery contract)
    val eDrift = intercept[IllegalArgumentException] {
      Artifacts.retrainIvfPqIndex(spark,
        emb.filter(col("vec_id") < 100), p, nCells = 8, m = 8, ksub = 8)
    }
    assert(eDrift.getMessage.contains("drifted"), eDrift.getMessage)
    val (idxStill, _) = Artifacts.loadIvfPqIndex(spark, p, cents, cb)
    assert(idxStill.count() == emb.count(),
      "failed retrain must leave the index fully servable")
    // the real retrain: both quantizers refit on the union corpus
    val (q, cb2, splits) = Artifacts.retrainIvfPqIndex(spark, emb, p,
      nCells = 8, m = 8, ksub = 8)
    val newCents = q match {
      case Ivf.LiteralQuantizer(c) => c
      case _ => fail("nCells=8 must stay in the literal family")
    }
    // identity: retrain == fresh saveIvfPqIndex under the SAME refit
    // quantizers — codes included (an ADC regression would show here)
    val pF = s"${tempDir("pqretrain")}/idx"
    Artifacts.saveIvfPqIndex(emb, pF, newCents, cb2, "vec_id",
      "embedding", 100000)
    val (idxF, splitsF) =
      Artifacts.loadIvfPqIndex(spark, pF, newCents, cb2)
    val (idxR, splitsR) =
      Artifacts.loadIvfPqIndex(spark, p, newCents, cb2)
    assert(splits == splitsF && splitsR == splitsF)
    assert(rows(idxR) == rows(idxF))
    // old quantizers retired; fresh drift history
    intercept[IllegalArgumentException] {
      Artifacts.loadIvfPqIndex(spark, p, cents, cb)
    }: Unit
    assert(Artifacts.appendDriftHistory(p).isEmpty)
    // wrong-family guard, other direction: PQ retrain on a raw index
    val pRaw = s"${tempDir("pqretrain")}/idx"
    Artifacts.saveIvfIndex(embA, pRaw, cents, "vec_id", "embedding",
      100000)
    val eRaw = intercept[IllegalArgumentException] {
      Artifacts.retrainIvfPqIndex(spark, emb, pRaw)
    }
    assert(eRaw.getMessage.contains("raw"), eRaw.getMessage)
    // a torn index refuses retrain up front
    assert(new java.io.File(p, "_SUCCESS").delete())
    intercept[IllegalArgumentException] {
      Artifacts.retrainIvfPqIndex(spark, emb, p, nCells = 8, m = 8,
        ksub = 8)
    }: Unit
  }

  test("retrain and from-scratch rebuild sweep a stale retrain scratch " +
       "SIBLING (code-review r17: kill -9 mid-retrain strands a full-" +
       "index-size copy the in-directory sweep never sees)") {
    val cents = Ivf.fitCentroids(embA, nCells = 4)
    val p = s"${tempDir("ivfsibling")}/idx"
    Artifacts.saveIvfIndex(embA, p, cents, "vec_id", "embedding", 100000)
    def plantStale(): java.io.File = {
      val stale = new java.io.File(p + ".tmp-crashed-1")
      stale.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(stale, "part-00000").toPath, Array[Byte](1))
      stale
    }
    // retrain (with the mutation mutex held) sweeps the wreck
    val s1 = plantStale()
    Artifacts.retrainIvfIndex(spark, p, nCells = 4): Unit
    assert(!s1.exists(),
      "retrain did not sweep the stale sibling scratch")
    // the documented recovery for a marker-less wreck — a from-scratch
    // save over the same path — sweeps it too
    val s2 = plantStale()
    Artifacts.saveIvfIndex(embA, p, cents, "vec_id", "embedding", 100000)
    assert(!s2.exists(),
      "from-scratch rebuild did not sweep the stale sibling scratch")
  }

  test("retrain with a trailing-slash path builds its scratch as a " +
       "SIBLING, not nested inside the live index (code-review r17: " +
       "string-concat scratch paths nested under the index dir, and " +
       "the swap's deleteRec destroyed old index AND replacement)") {
    val cents = Ivf.fitCentroids(embA, nCells = 4)
    val p = s"${tempDir("ivfslash")}/idx"
    Artifacts.saveIvfIndex(embA, p, cents, "vec_id", "embedding", 100000)
    // the exact spelling that nested the scratch pre-fix
    val (q, splits) = Artifacts.retrainIvfIndex(spark, p + "/",
      nCells = 4)
    val newCents = q match {
      case Ivf.LiteralQuantizer(c) => c
      case _ => fail("nCells=4 must stay in the literal family")
    }
    // the index survived the swap and serves
    val (idx, splitsL) = Artifacts.loadIvfIndex(spark, p, newCents)
    assert(splitsL == splits)
    assert(idx.count() == embA.count(),
      "trailing-slash retrain lost the index contents")
    assert(new java.io.File(p, "_SUCCESS").exists())
  }

  test("retrain layout guards hold for LEGACY artifacts with no _params " +
       "sidecar (code-review r17: the params-only guard silently " +
       "skipped, and retrainIvfPqIndex would destructively convert a " +
       "raw-vector index to codes-only)") {
    val cents = Ivf.fitCentroids(embA, nCells = 4)
    val cb = graft.northstar.Pq.fitCodebooks(embA, m = 8, ksub = 8)
    // legacy raw-vector index: sidecar removed
    val pRaw = s"${tempDir("legacyguard")}/idx"
    Artifacts.saveIvfIndex(embA, pRaw, cents, "vec_id", "embedding",
      100000)
    assert(new java.io.File(pRaw, "_params").delete())
    val eRaw = intercept[IllegalArgumentException] {
      Artifacts.retrainIvfPqIndex(spark, embA, pRaw)
    }
    assert(eRaw.getMessage.contains("no 'codes'"), eRaw.getMessage)
    // untouched: marker up, every row still under index/ (a load would
    // refuse the sidecar-less index, so the check reads index/ directly)
    assert(new java.io.File(pRaw, "_SUCCESS").exists() &&
      spark.read.parquet(s"$pRaw/index").count() == embA.count(),
      "the refusal must leave the raw index untouched")
    // legacy codes-only index: sidecar removed
    val pPq = s"${tempDir("legacyguard")}/idx"
    Artifacts.saveIvfPqIndex(embA, pPq, cents, cb, "vec_id", "embedding",
      100000)
    assert(new java.io.File(pPq, "_params").delete())
    val ePq = intercept[IllegalArgumentException] {
      Artifacts.retrainIvfIndex(spark, pPq)
    }
    assert(ePq.getMessage.contains("no 'cv'"), ePq.getMessage)
  }

  test("retrainIvfPqIndex releases its corpus-resolve persist (code-" +
       "review r17: the pqResolveVectors tracked join held the corpus " +
       "cached — with lineage over the DELETED old index files — for " +
       "the rest of the session)") {
    val cents = Ivf.fitCentroids(embA, nCells = 4)
    val cb = graft.northstar.Pq.fitCodebooks(embA, m = 8, ksub = 8)
    val p = s"${tempDir("pqretrainrel")}/idx"
    Artifacts.saveIvfPqIndex(embA, p, cents, cb, "vec_id", "embedding",
      100000)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Artifacts.retrainIvfPqIndex(spark, embA, p, nCells = 4, m = 8,
      ksub = 8): Unit
    val leaked =
      spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty,
      s"retrain left ${leaked.size} persistent RDD(s) pinned")
  }

  test("a cell index with no _params sidecar refuses load, append and " +
       "remove, leaves the index untouched, and a retrain makes it " +
       "loadable again") {
    val cents = Ivf.fitCentroids(embA, nCells = 4)
    val cb = graft.northstar.Pq.fitCodebooks(embA, m = 8, ksub = 8)
    // name + size of every file under index/: an untouched index keeps
    // exactly this listing
    def listing(p: String): Seq[(String, Long)] = {
      val root = new java.io.File(p, "index").toPath
      val files = java.nio.file.Files.walk(root)
      try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => root.relativize(f).toString -> f.toFile.length)
        .toSeq.sorted
      finally files.close()
    }
    def refuses(p: String, remedy: String)(body: => Any): Unit = {
      val before = listing(p)
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("no _params sidecar") &&
        e.getMessage.contains(remedy), e.getMessage)
      assert(new java.io.File(p, "_SUCCESS").exists(),
        "the refusal must leave the commit marker up")
      assert(listing(p) == before, "the refusal must not touch index/")
      assert(spark.read.parquet(s"$p/index").count() == embA.count())
    }
    val takedown = embA.select("vec_id").limit(5)

    val pRaw = s"${tempDir("noparams")}/idx"
    Artifacts.saveIvfIndex(embA, pRaw, cents, "vec_id", "embedding", 100000)
    assert(new java.io.File(pRaw, "_params").delete())
    refuses(pRaw, "retrainIvfIndex")(Artifacts.loadIvfIndex(spark, pRaw, cents))
    refuses(pRaw, "retrainIvfIndex")(Artifacts.appendIvfIndex(embB, pRaw, cents))
    refuses(pRaw, "retrainIvfIndex")(
      Artifacts.removeFromIvfIndex(takedown, pRaw, cents))
    val (q, splits) = Artifacts.retrainIvfIndex(spark, pRaw, nCells = 4)
    val (idx, splitsL) = Artifacts.loadIvfIndex(spark, pRaw, q)
    assert(splitsL == splits && idx.count() == embA.count())

    val pPq = s"${tempDir("noparams")}/idx"
    Artifacts.saveIvfPqIndex(embA, pPq, cents, cb, "vec_id", "embedding",
      100000)
    assert(new java.io.File(pPq, "_params").delete())
    refuses(pPq, "retrainIvfPqIndex")(
      Artifacts.loadIvfPqIndex(spark, pPq, cents, cb))
    refuses(pPq, "retrainIvfPqIndex")(
      Artifacts.appendIvfPqIndex(embB, embA, pPq, cents, cb))
    refuses(pPq, "retrainIvfPqIndex")(
      Artifacts.removeFromIvfPqIndex(takedown, embA, pPq, cents, cb))
    val (qPq, cbPq, splitsPq) = Artifacts.retrainIvfPqIndex(spark, embA, pPq,
      nCells = 4, m = 8, ksub = 8)
    val (idxPq, splitsPqL) = Artifacts.loadIvfPqIndex(spark, pPq, qPq, cbPq)
    assert(splitsPqL == splitsPq && idxPq.count() == embA.count())
  }

  test("_params format of all six cell-index families: exact key set " +
       "and family pin (every index on disk is refused if these drift)") {
    val cents = Ivf.fitCentroids(embA, nCells = 4)
    val cb = graft.northstar.Pq.fitCodebooks(embA, m = 8, ksub = 8)
    val hq = Ivf.HierarchicalQuantizer(
      Ivf.fitCentroids(embA, nCells = 2, seed = 7L), cents, superProbe = 2)
    val sq = Ivf.fitStored(embA, nCells = 4, s"${tempDir("pfmt")}/cells")
    def params(p: String): Map[String, String] = {
      val lines = java.nio.file.Files.readAllLines(
        new java.io.File(p, "_params").toPath).asScala
      lines.map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
        .toMap
    }
    val literal = Set("centroids", "maxCell", "vecCol")
    val hier = literal ++ Set("family", "supers", "superProbe")
    val stored = Set("family", "cells", "ncells", "dim", "top",
      "superProbe", "maxCell", "vecCol")
    val families: Seq[(String, Ivf.CoarseQuantizer, Set[String],
        Option[String])] = Seq(
      ("literal", Ivf.LiteralQuantizer(cents), literal, None),
      ("hier", hq, hier, Some("hier")),
      ("stored", sq, stored, Some("stored")))
    for ((name, q, keys, family) <- families) {
      val pRaw = s"${tempDir("pfmt")}/$name-raw"
      Artifacts.saveIvfIndex(embA, pRaw, q)
      val pCodes = s"${tempDir("pfmt")}/$name-codes"
      Artifacts.saveIvfPqIndex(embA, pCodes, q, cb)
      for ((p, expected) <- Seq(pRaw -> keys, pCodes -> (keys + "codebooks"))) {
        val got = params(p)
        assert(got.keySet == expected, s"$p: ${got.keySet}")
        assert(got.get("family") == family, s"$p: ${got.get("family")}")
        assert(got("maxCell") == "100000" && got("vecCol") == "embedding")
      }
    }
  }

  test("the benchmark's call shapes: literal IVF-PQ verbs with positional " +
       "centroids and named maxCell/knownSplits; a knownSplits load " +
       "matches a plain load and runs no Spark job") {
    import org.apache.spark.sql.DataFrame
    // the shapes perfbench/CorpusIngest.scala compiles against
    val base = embA
    val maxCell = 40 // over-cap cells on the union, so the map is non-empty
    val nCells = 4
    val (m, ksub, seed) = (8, 8, 42L)
    val path = s"${tempDir("benchshape")}/idx"
    val c = Ivf.fitCentroids(base, nCells, seed = seed)
    val cb = graft.northstar.Pq.fitCodebooks(base, m, ksub, seed = seed)
    Artifacts.saveIvfPqIndex(base, path, c, cb, "vec_id", "embedding", maxCell)
    val centroids: Array[Array[Float]] = c
    val codebooks = cb
    var splits: Option[Map[Int, Int]] = None
    val queries = base.filter(col("vec_id") < 10)
    def serve(live: DataFrame): Unit = {
      val (plain, plainSplits) = Artifacts.loadIvfPqIndex(spark, path,
        centroids, codebooks, maxCell = maxCell)
      var known: (DataFrame, Map[Int, Int]) = null
      val jobs = jobStarts {
        known = Artifacts.loadIvfPqIndex(spark, path, centroids, codebooks,
          maxCell = maxCell, knownSplits = splits)
      }
      assert(jobs.isEmpty, s"a knownSplits load ran ${jobs.size} job(s)")
      assert(known._2 == plainSplits)
      splits.foreach(s => assert(s == plainSplits))
      assert(rows(known._1) == rows(plain))
      // the serve shapes: positional bare centroids, named k, and named
      // nProbe/rerank for the all-cells serve; each equals the in-memory
      // top-k over the live corpus
      val (index, sp) = known
      assert(rows(graft.northstar.Pq.ivfPqServeTopK(queries, index, live,
          centroids, sp, codebooks, k = 10))
        == rows(graft.northstar.Pq.ivfPqTopK(queries, live, centroids,
          codebooks, k = 10, maxCell = maxCell)))
      val rerank = live.count().toInt + 10
      assert(rows(graft.northstar.Pq.ivfPqServeTopK(queries, index, live,
          centroids, sp, codebooks, k = 10, nProbe = centroids.length,
          rerank = rerank))
        == rows(graft.northstar.Pq.ivfPqTopK(queries, live, centroids,
          codebooks, k = 10, nProbe = centroids.length, rerank = rerank,
          maxCell = maxCell)))
    }
    serve(base)
    splits = Some(Artifacts.appendIvfPqIndex(embB, base, path, centroids,
      codebooks, maxCell = maxCell))
    assert(splits.get.nonEmpty, "the fixture must split a cell")
    serve(emb)
    val ids = embB.select("vec_id").as[Long].collect().take(40).toSeq
    splits = Some(Artifacts.removeFromIvfPqIndex(ids.toDF("vec_id"),
      emb, path, centroids, codebooks,
      maxCell = maxCell))
    serve(emb.filter(!col("vec_id").isin(ids: _*)))
  }

  test("_params format of all 13 pinned and 4 capped kinds: exact " +
       "sidecar text, and a load with one pin changed names the stored " +
       "pin (empty artifacts included)") {
    import graft.northstar.{Curation, Dedup, Multimodal}
    import org.apache.spark.sql.DataFrame
    val d = tempDir("pinfmt")
    def text(p: String, name: String): String =
      new String(java.nio.file.Files.readAllBytes(
        new java.io.File(p, name).toPath), "UTF-8")
    def kv(m: Map[String, String]): String =
      m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\n")
    def empty(cols: (String, String)*): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          cols.map { case (c, t) => s"$c $t" }.mkString(", ")))
    // (kind, exact pins, save, matching load, same load with one pin
    // changed, the stored pin its refusal must name, whether the stored
    // artifact is empty and the kind refuses to serve it, and for a
    // capped kind its exact _schemas text)
    case class Kind(name: String, pins: Map[String, String],
                    save: String => Unit, load: String => Any,
                    mismatched: String => Any, stored: String,
                    refusesEmpty: Boolean = false,
                    schemas: Option[String] = None)
    val cfg = Curation.CurationConfig(minQuality = Some(0.5))
    val pinned = Seq(
      Kind("bpe", Map("rounds" -> "3"),
        Artifacts.BpeMerges.save(spark, empty("step" -> "BIGINT",
          "lhs" -> "STRING", "rhs" -> "STRING", "cnt" -> "BIGINT"), _, 3),
        Artifacts.BpeMerges.load(spark, _, 3),
        Artifacts.BpeMerges.load(spark, _, 4), "rounds=3"),
      Kind("lmhead", Map("topK" -> "25"),
        Artifacts.LmHead.save(spark, (Map.empty, 7L), _, 25),
        Artifacts.LmHead.load(spark, _, 25),
        Artifacts.LmHead.load(spark, _, 26), "topK=25",
        refusesEmpty = true),
      Kind("bghead", Map("topK" -> "10"),
        Artifacts.BigramHead.save(spark, Map.empty, _, 10),
        Artifacts.BigramHead.load(spark, _, 10),
        Artifacts.BigramHead.load(spark, _, 11), "topK=10"),
      Kind("bm25", Map("minTermLen" -> "1"),
        Artifacts.Bm25Stats.save(spark, (Map.empty, 3L, 9L), _, (Nil, 1)),
        Artifacts.Bm25Stats.load(spark, _, (Nil, 1)),
        Artifacts.Bm25Stats.load(spark, _, (Nil, 2)),
        "minTermLen=1", refusesEmpty = true),
      Kind("probe", Map("iters" -> "2", "split_at" -> "5",
          "label_col" -> "label", "dim" -> "2"),
        Artifacts.ProbeWeights.save(spark, Seq(3L, 4L), _,
          (2, 2, 5, "label")),
        Artifacts.ProbeWeights.load(spark, _, (2, 2, 5, "label")),
        Artifacts.ProbeWeights.load(spark, _, (2, 2, 5, "y")),
        "label_col=label"),
      Kind("ivf", Map("nCells" -> "2", "seed" -> "42"),
        Artifacts.IvfCentroids.save(spark, Array.empty, _, (2, 42L)),
        Artifacts.IvfCentroids.load(spark, _, (2, 42L)),
        Artifacts.IvfCentroids.load(spark, _, (2, 7L)),
        "seed=42", refusesEmpty = true),
      Kind("pq", Map("m" -> "2", "ksub" -> "4", "seed" -> "42"),
        Artifacts.PqCodebooks.save(spark, Array.empty, _, (2, 4, 42L)),
        Artifacts.PqCodebooks.load(spark, _, (2, 4, 42L)),
        Artifacts.PqCodebooks.load(spark, _, (2, 8, 42L)),
        "ksub=4", refusesEmpty = true),
      Kind("sempairs", Map("thresholdE4" -> "3000", "centroids" -> "ck"),
        Artifacts.SemanticPairs.save(spark, empty("doc_a" -> "BIGINT",
          "doc_b" -> "BIGINT"), _, (3000L, "ck")),
        Artifacts.SemanticPairs.load(spark, _, (3000L, "ck")),
        Artifacts.SemanticPairs.load(spark, _, (3000L, "other")),
        "centroids=ck"),
      Kind("semlabels", Map("thresholdE4" -> "3000", "centroids" -> "ck"),
        Artifacts.SemanticLabels.save(spark, empty("vec_id" -> "BIGINT",
          "cluster_id" -> "BIGINT"), _, ("vec_id", 3000L, "ck")),
        Artifacts.SemanticLabels.load(spark, _, ("vec_id", 3000L, "ck")),
        Artifacts.SemanticLabels.load(spark, _, ("vec_id", 4000L, "ck")),
        "thresholdE4=3000"),
      Kind("cclabels", Map("idCol" -> "doc_id"),
        Artifacts.CollapseLabels.save(spark, empty("doc_id" -> "BIGINT",
          "cluster_id" -> "BIGINT"), _, "doc_id"),
        Artifacts.CollapseLabels.load(spark, _, "doc_id"),
        Artifacts.CollapseLabels.load(spark, _, "vec_id"), "idCol=doc_id"),
      Kind("winnow", Map("k" -> "5", "window" -> "4"),
        Artifacts.WinnowSketch.save(spark, Dedup.winnowIndex(docs.limit(0)),
          _, (5, 4)),
        Artifacts.WinnowSketch.load(spark, _, (5, 4)),
        Artifacts.WinnowSketch.load(spark, _, (5, 6)),
        "window=4"),
      Kind("boiler", Map("max_doc_freq" -> "10"),
        Artifacts.BoilerplateLines.save(spark, empty("nh" -> "STRING"), _,
          10L),
        Artifacts.BoilerplateLines.load(spark, _, 10L),
        Artifacts.BoilerplateLines.load(spark, _, 11L), "max_doc_freq=10"),
      Kind("curation",
        Map("cfg" -> "CurationConfig(Some(0.5),None,None,None,None,None)"),
        Artifacts.CurationPolicy.save(spark,
          Curation.FrozenCuration(Some(0.5), None, None, None), _,
          cfg.toString),
        Artifacts.CurationPolicy.load(spark, _, cfg.toString),
        Artifacts.CurationPolicy.load(spark, _,
          cfg.copy(minQuality = Some(0.6)).toString),
        "cfg=CurationConfig(Some(0.5)"))
    val ids = 0L until 4L
    def images = ids.map(id => (id, Multimodal.syntheticPatternPng(id)))
      .toDF("asset_id", "payload")
    def audio = ids.map(id => (id, Multimodal.syntheticPatternWav(id)))
      .toDF("asset_id", "payload")
    val corpus = docs.limit(20)
    def field(n: String, t: String): String =
      s"""{"name":"$n","type":$t,"nullable":true,"metadata":{}}"""
    def struct(fs: String*): String =
      fs.mkString("""{"type":"struct","fields":[""", ",", "]}")
    val (long, int, str) = ("\"long\"", "\"integer\"", "\"string\"")
    def schemaText(dropped: String, rows: String): Option[String] =
      Some(s"dropped=$dropped\nrows=$rows")
    val sigSchemas = schemaText(struct(field("sig", long), field("n", long)),
      struct(field("id", long), field("sig", long)))
    val capped = Seq(
      Kind("cwinnow", Map("kind" -> "winnow", "k" -> "5", "window" -> "4",
          "maxBucket" -> "100"),
        Artifacts.CappedIndex.winnow(maxBucket = 100).save(corpus, _),
        Artifacts.CappedIndex.winnow(maxBucket = 100).load(spark, _),
        Artifacts.CappedIndex.winnow(k = 6, maxBucket = 100).load(spark, _),
        "k=5",
        schemas = schemaText(struct(field("fp", str), field("n", long)),
          struct(field("doc", long), field("fp", str), field("__k", int),
            field("__window", int)))),
      Kind("cband", Map("kind" -> "band", "k" -> "16", "bands" -> "8",
          "maxBucket" -> "100"),
        Artifacts.CappedIndex.band(maxBucket = 100).save(corpus, _),
        Artifacts.CappedIndex.band(maxBucket = 100).load(spark, _),
        Artifacts.CappedIndex.band(bands = 4, maxBucket = 100)
          .load(spark, _), "bands=8",
        schemas = schemaText(struct(field("band_hash", long), field("n", long)),
          struct(field("id", long), field("mh", """{"type":"array",""" +
            """"elementType":"long","containsNull":false}"""),
            field("band_hash", long), field("__k", int),
            field("__bands", int)))),
      Kind("phash", Map("kind" -> "phash", "algo" -> "dhash64"),
        Artifacts.CappedIndex.imageHash().save(images, _),
        Artifacts.CappedIndex.imageHash().load(spark, _),
        Artifacts.CappedIndex.audioHash().load(spark, _), "kind=phash",
        schemas = sigSchemas),
      Kind("ahash", Map("kind" -> "ahash", "algo" -> "hk65"),
        Artifacts.CappedIndex.audioHash().save(audio, _),
        Artifacts.CappedIndex.audioHash().load(spark, _),
        Artifacts.CappedIndex.imageHash().load(spark, _), "kind=ahash",
        schemas = sigSchemas))
    for (k <- pinned ++ capped) {
      val p = s"$d/${k.name}"
      k.save(p)
      assert(text(p, "_params") == kv(k.pins), s"${k.name} _params")
      k.schemas.foreach(s =>
        assert(text(p, "_schemas") == s, s"${k.name} _schemas"))
      if (k.refusesEmpty)
        assert(intercept[IllegalArgumentException](k.load(p))
          .getMessage.contains("empty"), k.name)
      else k.load(p): Unit
      val e = intercept[IllegalArgumentException](k.mismatched(p))
      assert(e.getMessage.contains(k.stored) &&
        e.getMessage.contains("generated with"), s"${k.name}: ${e.getMessage}")
    }
  }

  test("maintainIndex refuses window < 1 before touching any file: a torn " +
       "drift.log stays byte-identical with the marker up, and a capped " +
       "index refuses too") {
    val cents = Ivf.fitCentroids(embA, nCells = 4)
    val p = s"${tempDir("ivfwindow")}/idx"
    Artifacts.saveIvfIndex(embA, p, cents, "vec_id", "embedding", 100000)
    Artifacts.appendIvfIndex(embB, p, cents): Unit
    // a crashed append's torn tail: the tick would canonicalize it
    val logFile = new java.io.File(p, "drift.log")
    java.nio.file.Files.write(logFile.toPath,
      "ts=123 rows=45 drift=0.1".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    val before = java.nio.file.Files.readAllBytes(logFile.toPath)
    val e = intercept[IllegalArgumentException] {
      Artifacts.maintainIndex(spark, p, window = 0)
    }
    assert(e.getMessage.contains("window must be >= 1"), e.getMessage)
    assert(java.util.Arrays.equals(before,
      java.nio.file.Files.readAllBytes(logFile.toPath)),
      "a refused window must not rewrite drift.log")
    assert(new java.io.File(p, "_SUCCESS").exists())
    intercept[IllegalArgumentException](Artifacts.driftExceeded(p, 0))
    val pw = s"${tempDir("winwindow")}/idx"
    Artifacts.CappedIndex.winnow(maxBucket = 100).save(docs.limit(20), pw)
    assert(intercept[IllegalArgumentException] {
      Artifacts.maintainIndex(spark, pw, window = 0)
    }.getMessage.contains("window must be >= 1"))
    assert(new java.io.File(pw, "_SUCCESS").exists())
  }

  test("CappedIndex.indexFor serves the winnow and band indexes by " +
       "loading: the same cache key returns the stored rows") {
    val key = s"artifacts-spec-capped-${System.nanoTime()}"
    val other = Seq((1L, "totally different text about nothing at all"))
      .toDF("doc_id", "text")
    val base = docs.limit(30)
    for (ix <- Seq(Artifacts.CappedIndex.winnow(maxBucket = 100),
                   Artifacts.CappedIndex.band(maxBucket = 100))) {
      val first = rows(ix.indexFor(base, key))
      val p = s"${tempDir("cappedfor")}/idx"
      ix.save(base, p)
      assert(first.nonEmpty && first == rows(ix.load(spark, p)))
      assert(rows(ix.indexFor(other, key)) == first,
        "same cache key must serve the stored rows, not re-sketch")
    }
  }

  test("a pinned artifact trains once when Spark writes no job-commit " +
       "marker (marksuccessfuljobs=false): ensureTrained stamps its own") {
    // the standard Hadoop setting suppresses the committer's marker file;
    // the entry must still read as published, not as a wreck to retrain
    val conf = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    val key = s"artifacts-spec-nomarker-${System.nanoTime()}"
    var trained = 0
    def serve() = Artifacts.BpeMerges.serve(spark, key, 2) {
      trained += 1
      TextAnalysis.bpeInduct(docs.limit(20), 2)
    }
    spark.conf.set(conf, "false")
    try {
      val first = serve()
      val second = serve()
      assert(trained == 1, s"the stored entry was retrained ($trained runs)")
      assert(second == first)
    } finally spark.conf.unset(conf)
  }

  test("a capped append whose batch fails at run time keeps the index " +
       "servable: marker back, rows unchanged, the next append works") {
    import graft.northstar.Multimodal
    import org.apache.spark.sql.DataFrame
    val texts = docs.orderBy("doc_id").limit(24).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.toDF("doc_id", "text")
    def assets(gen: Long => Array[Byte]) =
      (0L until 12L).map(id => (id, gen(id))).toDF("asset_id", "payload")
    // (name, kind, corpus, id column, payload column the sketch reads)
    val cases = Seq(
      ("winnow", Artifacts.CappedIndex.winnow(maxBucket = 100), texts,
        "doc_id", "text"),
      ("band", Artifacts.CappedIndex.band(maxBucket = 100), texts,
        "doc_id", "text"),
      ("imageHash", Artifacts.CappedIndex.imageHash(),
        assets(Multimodal.syntheticPatternPng(_)), "asset_id", "payload"),
      ("audioHash", Artifacts.CappedIndex.audioHash(),
        assets(Multimodal.syntheticPatternWav(_)), "asset_id", "payload"))
    for ((name, ix, corpus, idCol, payloadCol) <- cases) {
      val half = (df: DataFrame, r: Int) => df.filter(col(idCol) % 2 === r)
      val p = s"${tempDir("cappedpoison")}/idx"
      ix.save(half(corpus, 0), p)
      val before = rows(ix.load(spark, p))
      // one row's payload is an ANSI cast that fails only when the
      // append's write evaluates it
      val poisonId = half(corpus, 1).agg(min(idCol)).head().getLong(0)
      val payloadType = corpus.schema(payloadCol).dataType
      val poisoned = half(corpus, 1).withColumn(payloadCol,
        when(col(idCol) === poisonId,
            expr("cast('x' as int)").cast("string").cast(payloadType))
          .otherwise(col(payloadCol)))
      intercept[Exception](ix.append(poisoned, p))
      assert(new java.io.File(p, "_SUCCESS").exists(),
        s"$name: a failed batch must republish the commit marker")
      assert(rows(ix.load(spark, p)) == before,
        s"$name: a failed batch must leave the served rows as they were")
      ix.append(half(corpus, 1), p)
      val union = s"${tempDir("cappedpoison")}/idx"
      ix.save(corpus, union)
      assert(rows(ix.load(spark, p)) == rows(ix.load(spark, union)),
        s"$name: the clean append after the failure must land whole")
    }
  }

  test("the commit marker's file name is spelled in exactly one place " +
       "in the program sources") {
    // every refusal, claim, stamp and swap goes through the Artifacts
    // marker defs; a second spelling is a verb that hand-rolls the
    // protocol again
    val spellings = java.nio.file.Files.walk(
        java.nio.file.Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
          .filter(_._1.contains("_SUCCESS"))
          .map { case (_, i) => s"$f:${i + 1}" }
      }
    assert(spellings.size == 1 &&
      spellings.head.contains("northstar/Artifacts.scala:"),
      s"the marker name must be spelled once, found: $spellings")
  }
}
