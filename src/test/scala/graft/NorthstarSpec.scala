package graft

import graft.northstar._
import org.apache.spark.sql.functions._

/** North-star operators (SURVEY.md §7.4): dedup family, similarity search,
  * text analysis, multimodal plumbing.
  */
class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
    (3L, "THE  quick brown fox jumps over the lazy dog again and again today"), // exact after norm
    (4L, "completely different content about spark engines and parquet files"),
  ).toDF("doc_id", "text")

  test("exact dedup: normalized-text groups keep min id") {
    val out = Dedup.exactByText(docs).collect()
      .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies"))).toSet
    assert(out == Set((1L, 2L), (2L, 1L), (4L, 1L))) // 1 & 3 collapse
  }

  test("corpusDiff: added/removed/changed/kept classified; whitespace-only edits read kept") {
    val old = Seq(
      (1L, "alpha beta"), (2L, "gamma delta"), (3L, "epsilon"),
    ).toDF("doc_id", "text")
    val neu = Seq(
      (1L, "  ALPHA   beta "), // normText-equal → kept
      (2L, "gamma delta prime"), // content edit → changed
      (4L, "zeta"), // new id → added; id 3 absent → removed
    ).toDF("doc_id", "text")
    val out = Dedup.corpusDiff(old, neu).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "kept", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
    // null text is content, not absence: present on both sides with
    // null text → kept; null → text → changed
    val o2 = Seq((1L, null: String), (2L, null: String))
      .toDF("doc_id", "text")
    val n2 = Seq((1L, null: String), (2L, "now real"))
      .toDF("doc_id", "text")
    val out2 = Dedup.corpusDiff(o2, n2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2 == Map(1L -> "kept", 2L -> "changed"))
  }

  test("minhash LSH: near-dups found, unrelated not; pairs deduped across bands") {
    val pairs = Dedup.minhashPairs(docs, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhashPairsAgainst: cross-slice pairs only, exact-verified, unrelated stay out") {
    val corpus = docs // ids 1-4
    val incoming = Seq(
      (11L, "the quick brown fox jumps over the lazy dog again and again"), // near-dup of 1 (suffix dropped)
      (12L, "nothing in common with any existing corpus document at all"),
    ).toDF("doc_id", "text")
    val out = Dedup.minhashPairsAgainst(incoming, corpus, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((11L, 1L)))
    assert(!out.exists(_._1 == 12L), "unrelated incoming doc must not pair")
    // never within-slice: doc_a always from incoming, doc_b from corpus
    val all = Dedup.minhashPairsAgainst(incoming, corpus, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(all.forall { case (a, b) => a >= 11L && b <= 4L })
  }

  test("bandIndex round-trips through parquet: stored-index screen equals direct screen") {
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val w = split(trim(col("text")), "\\s+")
    val incoming = base.filter(size(w) >= 30)
      .select((col("doc_id") + 100000).as("doc_id"),
        array_join(slice(w, lit(1), size(w) - 1), " ").as("text"))
    val dir = TestTmp.dir("bandidx")
    Dedup.bandIndex(base).write.parquet(s"$dir/index.parquet")
    val stored = spark.read.parquet(s"$dir/index.parquet")
    val viaIndex = Dedup.minhashPairsAgainstIndex(
        incoming, stored, base, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Dedup.minhashPairsAgainst(incoming, base, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex == direct && direct.nonEmpty)
  }

  test("minhashPairsAgainstIndex: k/bands mismatch vs stored index fails loudly, not zero-pairs") {
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(50)
    val dir = TestTmp.dir("bandidx2")
    Dedup.bandIndex(base).write.parquet(s"$dir/index.parquet") // k=16, bands=8
    val stored = spark.read.parquet(s"$dir/index.parquet")
    // silent outcome would be 0 candidate pairs (band hashes of different
    // parameters never collide) — the artifact's __k/__bands must trip
    intercept[Throwable] {
      Dedup.minhashPairsAgainstIndex(base, stored, base,
        k = 16, bands = 4, threshold = 0.5).count()
    }
  }

  test("an index without its pinned parameter columns is refused, naming the rebuild") {
    val words = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, words)).toDF("doc_id", "text")
    val incoming = Seq((101L, words)).toDF("doc_id", "text")
    val band = Dedup.bandIndex(docs)
    for (pin <- Seq("__k", "__bands")) {
      val e = intercept[IllegalArgumentException] {
        Dedup.minhashPairsAgainstIndex(incoming, band.drop(pin), docs).count()
      }
      assert(e.getMessage.contains("rebuild it with Dedup.bandIndex"),
        e.getMessage)
    }
    val winnow = Dedup.winnowIndex(docs)
    for (pin <- Seq("__k", "__window")) {
      val e = intercept[IllegalArgumentException] {
        Dedup.winnowPairsAgainstIndex(incoming, winnow.drop(pin)).count()
      }
      assert(e.getMessage.contains("rebuild it with Dedup.winnowIndex"),
        e.getMessage)
    }
    // with the pins in place the same probes pair the clone
    assert(Dedup.minhashPairsAgainstIndex(incoming, band, docs).count() == 1)
    assert(Dedup.winnowPairsAgainstIndex(incoming, winnow).count() == 1)
  }

  test("collapseByPairsBest: keeper is the highest-scoring cluster member, not the min id") {
    val scored = Seq(
      (1L, "a", 0.2), (2L, "a dup", 0.9), (3L, "a dup dup", 0.5), // cluster of 1-2-3
      (4L, "alone", 0.1),
    ).toDF("doc_id", "text", "score")
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.collapseByPairsBest(scored, chain, "score").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[Boolean]("is_keeper")))).toMap
    assert(out(1L) == ((1L, false)))
    assert(out(2L) == ((1L, true)))  // best score wins, not min id
    assert(out(3L) == ((1L, false)))
    assert(out(4L) == ((4L, true)))  // singleton keeps itself
  }

  test("Curation.semanticKeepBest: quality score picks the keeper; the gate screens whole clusters via their keeper") {
    import graft.northstar.Curation
    // q_score components: mean token length in [3,12], punct ratio
    // <= 0.1, stopword ratio >= 0.05 — each 1/3 of the score
    val docs2 = Seq(
      (1L, "the cat sat on the mat"), // all three pass -> 1.0
      (2L, "?!?!?!"),                 // only mean-tok passes -> 0.3333
      (3L, "the fox runs by the den"),// all three pass -> 1.0
      (4L, "!!!!!!"),                 // 0.3333
      (5L, "??????"),                 // 0.3333
    ).toDF("doc_id", "text")
    // labels use the vec_id column name (the stored-artifact shape)
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L), (5L, 4L))
      .toDF("vec_id", "cluster_id")
    val kept = Curation.semanticKeepBest(docs2, labels,
        minQuality = Some(0.7)).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Double]("q_score"))).toSet
    // cluster 1: doc 1 wins on quality; cluster 3: singleton keeper;
    // cluster 4: keeper (0.3333) fails the gate -> the whole cluster
    // contributes nothing, its members do NOT get promoted past it
    assert(kept == Set((1L, 1L, 1.0), (3L, 3L, 1.0)))
    // without the gate the low-quality cluster still elects ONE keeper
    // deterministically (tie on q_score -> lowest id)
    val ungated = Curation.semanticKeepBest(docs2, labels).collect()
      .map(r => r.getAs[Long]("doc_id")).toSet
    assert(ungated == Set(1L, 3L, 4L))
    // docs ABSENT from the labels (subset labels, stale artifact) are
    // singleton clusters, kept — not silently dropped from the corpus
    val partial = Seq((1L, 1L), (2L, 1L)).toDF("vec_id", "cluster_id")
    val kept2 = Curation.semanticKeepBest(docs2, partial).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
      .toSet
    assert(kept2 == Set((1L, 1L), (3L, 3L), (4L, 4L), (5L, 5L)))
  }

  test("substringOverlapPairs: containment found at window size, disjoint and sub-window docs not") {
    val words = (1 to 12).map(i => s"w$i")
    val docs2 = Seq(
      (1L, words.mkString(" ")),                        // 12 tokens
      (2L, (words ++ Seq("tail", "extra")).mkString(" ")), // contains doc 1 verbatim
      (3L, (1 to 12).map(i => s"x$i").mkString(" ")),   // disjoint
      (4L, "short doc"),                                 // < window, unique
      (5L, "short doc"),                                 // < window, exact dup of 4
    ).toDF("doc_id", "text")
    val out = Dedup.substringOverlapPairs(docs2, windowTokens = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((1L, 2L)) == 3L) // windows at offsets 0,1,2 of doc 1 all in doc 2
    assert(out((4L, 5L)) == 1L) // whole-text window equality for shorts
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!out.contains((1L, 4L)))
  }

  test("substringRemove: copies lose exactly the shared spans, originals and unrelated docs survive intact") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs2 = Seq(
      (1L, "a b c d e f"),      // original: keeps everything (lowest holder)
      (2L, "x y a b c d z"),    // shares 3-windows "a b c"/"b c d" with 1
      (3L, "p q r"),            // unrelated
      (4L, "a b c"),            // short: whole-text window dup of doc 1's
      (5L, "   "),              // blank: 0 tokens, md5('')
    ).toDF("doc_id", "text")
    val out = Dedup.substringRemove(docs2, windowTokens = 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((6L, 0L, md5hex("a b c d e f"))))
    // doc 2: flagged windows at i=3,4 cover positions 3..6 → "x y z" kept
    assert(out(2L) == ((7L, 4L, md5hex("x y z"))))
    assert(out(3L) == ((3L, 0L, md5hex("p q r"))))
    // doc 4 is one whole-text window held lower by doc 1 → fully excised
    assert(out(4L) == ((3L, 3L, md5hex(""))))
    assert(out(5L) == ((0L, 0L, md5hex(""))))
    // boilerplate cap: a window held by more docs than maxBucket is left
    // in place everywhere (line-dedup's job, not span excision's)
    val boiler = Seq((1L, "m n o"), (2L, "m n o"), (3L, "m n o"))
      .toDF("doc_id", "text")
    val capped = Dedup.substringRemove(boiler, windowTokens = 3, maxBucket = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(capped == Map(1L -> 0L, 2L -> 0L, 3L -> 0L))
    // ...and with the cap open, keep-min excises the two higher copies
    val open = Dedup.substringRemove(boiler, windowTokens = 3, maxBucket = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(open == Map(1L -> 0L, 2L -> 3L, 3L -> 3L))
  }

  test("winnowing: guarantee holds at window+k-1 span, sketch thinner than the gram stream, disjoint docs unpaired") {
    val words = (1 to 30).map(i => s"w$i")
    val docs2 = Seq(
      (1L, words.mkString(" ")),                           // 30 tokens
      (2L, (words ++ Seq("tail", "extra")).mkString(" ")), // contains doc 1
      (3L, (1 to 30).map(i => s"x$i").mkString(" ")),      // disjoint
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs2, k = 5, window = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // shared 30-token run >= window + k - 1 = 8 → guaranteed detection
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // density: the selected sketch is a strict subset of the gram stream
    // (expected ~2/(window+1) = 40%)
    val sketch = Dedup.winnowSketch(docs2, k = 5, window = 4)
      .filter($"doc" === 1L).count()
    assert(sketch < 26 && sketch > 0, s"sketch $sketch of 26 grams")
    // determinism under repartition (windowed min is per-doc, ordered)
    val again = Dedup.winnowPairs(docs2.repartition(7), k = 5, window = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == pairs)
  }

  test("excision/winnowing edges: empty benchmark is identity, blank docs sketch to nothing, single-token docs") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val corpus = Seq((1L, "a b c"), (2L, "   "), (3L, "solo")).toDF("doc_id", "text")
    // empty benchmark: nothing flagged, every doc rewritten to itself
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = Dedup.decontaminateRemove(corpus, empty, windowTokens = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((0L, md5hex("a b c"))))
    assert(out(2L) == ((0L, md5hex(""))))
    assert(out(3L) == ((0L, md5hex("solo"))))
    // blank docs contribute no sketch rows; single-token docs carry one
    // whole-text gram; identical single tokens pair via it
    val sk = Dedup.winnowSketch(corpus, k = 5, window = 4)
      .collect().map(r => r.getLong(0)).toSet
    assert(sk == Set(1L, 3L))
    val solos = Seq((1L, "solo"), (2L, "solo"), (3L, "other")).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(solos, k = 5, window = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("null-text docs tokenize empty: audit frames carry n_tokens=0, never size(null) = -1") {
    val corpus = Seq((1L, "a b c d"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Dedup.substringRemove(corpus, windowTokens = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(2L) == ((0L, 0L)), s"null text must audit as empty: $out")
    assert(out(1L) == ((4L, 0L)))
  }

  test("decontaminateRemove accepts a text-only benchmark frame (no id column)") {
    val corpus = Seq((1L, "x a b c y"), (2L, "clean doc here present"))
      .toDF("doc_id", "text")
    val bench = Seq("a b c").toDF("text") // benchmark dumps often carry only text
    val out = Dedup.decontaminateRemove(corpus, bench, windowTokens = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) > 0L, s"quoting doc not excised: $out")
    assert(out(2L) == 0L)
  }

  test("winnowPairsAgainstIndex caps incoming-side fingerprint buckets") {
    val words = (1 to 30).map(i => s"w$i").mkString(" ")
    val index = Dedup.winnowIndex(Seq((1L, words)).toDF("doc_id", "text"))
    // three incoming clones share EVERY fingerprint — the boilerplate
    // mega-bucket shape on the side the pre-r14 path left uncapped
    val clones = Seq(101L, 102L, 103L).map(i => (i, words))
      .toDF("doc_id", "text")
    assert(Dedup.winnowPairsAgainstIndex(clones, index).count() == 3)
    assert(Dedup.winnowPairsAgainstIndex(clones, index, maxBucket = 2)
      .count() == 0)
    // a lone incoming doc is under the cap and still pairs
    assert(Dedup.winnowPairsAgainstIndex(
      clones.filter(col("doc_id") === 101L), index, maxBucket = 2)
      .count() == 1)
  }

  test("decontaminateRemove: benchmark-colliding windows excised, window-granular, clean docs intact") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val bench = Seq((100L, "a b c d"), (101L, "q r")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "x a b c d y"),          // quotes bench 100: 3-windows abc, bcd
      (2L, "no overlap here at all"),
      (3L, "q r"),                   // short: whole-text window = bench 101's
      (4L, "p q r s"),               // contains "q r" but no 3-window matches
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminateRemove(corpus, bench, windowTokens = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // flagged windows at i=2 ("a b c") and i=3 ("b c d") cover 2..5
    assert(out(1L) == ((6L, 4L, md5hex("x y"))))
    assert(out(2L) == ((5L, 0L, md5hex("no overlap here at all"))))
    // short corpus doc = one whole-text window, equal to the short
    // benchmark doc's whole-text window → fully excised
    assert(out(3L) == ((2L, 2L, md5hex(""))))
    // window-granular: "q r" inside a longer doc only matches via full
    // 3-token windows ("p q r"/"q r s"), which the benchmark lacks
    assert(out(4L) == ((4L, 0L, md5hex("p q r s"))))
  }

  test("jaccard: identical → 1.0, disjoint → 0.0") {
    val df = Seq((Seq("a b c", "b c d"), Seq("a b c", "b c d")),
                 (Seq("a b c"), Seq("x y z"))).toDF("a", "b")
    val sims = df.select(Dedup.jaccard($"a", $"b")).collect().map(_.getDouble(0))
    assert(sims(0) == 1.0 && sims(1) == 0.0)
  }

  test("simhash: norm-identical texts share fingerprints; near-dups within small hamming; pairs surface them") {
    val sigs = docs.select($"doc_id", Dedup.simhash($"text").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(3L)) // identical after normalization
    val ham12 = java.lang.Long.bitCount(sigs(1L) ^ sigs(2L))
    assert(ham12 <= 10, s"near-dup hamming was $ham12")
    // maxHamming 7, not the pre-r20 10: thresholds past 7 are now
    // REFUSED (no complete 64-bit banding exists there — the old 10
    // silently rode an incomplete candidate set; VERDICT r19 task 6,
    // refusal pinned in MultimodalSpec). The identical pair this
    // asserts on is Hamming 0 either way.
    val pairs = Dedup.simhashPairs(docs, maxHamming = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L)))
  }

  test("hammingPairs64Against: a capped shared chunk cannot shadow a " +
       "surviving match, and surviving multi-chunk pairs emit ONCE " +
       "(r19 review — the first-SURVIVING-shared-chunk dedup)") {
    // chunk layout: chunk i = bits [16i, 16i+16). Corpus B shares
    // chunks 0, 2, 3 with incoming A; chunks 0 and 3 ride mega-buckets
    // (12 rows > maxBucket 5, capped), chunk 2 survives. A guard that
    // tests sig agreement instead of bucket survival sees the earlier
    // shared chunk 0 and drops the pair — the silent recall loss.
    val sigB = (0xFFL << 32) | (1L << 16)
    val sigA = (0xFFL << 32) | (3L << 16)  // hamming(A,B) = 1
    val sigC = sigA                         // exact copy: hamming 0
    val fillers = (4L to 13L).map(k => (k + 100L, k << 16))
    val corpus = (Seq((1L, sigB), (2L, sigC)) ++ fillers)
      .toDF("id", "sig")
    val incoming = Seq((900L, sigA)).toDF("id", "sig")
    val got = Dedup.hammingPairs64Against(incoming, corpus,
        maxHamming = 3, maxBucket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue)).toSet
    // B found through the SURVIVING chunk 2 despite the capped shared
    // chunk 0; C (sharing chunks 1 AND 2, both surviving) emits
    // exactly once — no duplicate row from the second shared chunk
    assert(got == Set((900L, 1L, 1L), (900L, 2L, 0L)), got.toString)
  }

  test("jaccardForPairs scores explicit candidates") {
    val pairs = Seq((1L, 2L), (1L, 4L)).toDF("doc_a", "doc_b")
    val out = Dedup.jaccardForPairs(docs, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((1L, 2L)) > 0.5)
    assert(out((1L, 4L)) < 0.1)
  }

  test("connected components: transitivity across chains, disjoint components stay apart") {
    // 1-2-3-4-5 is a pure chain (no shortcut edges): the min label must
    // propagate 4 hops; 10-11 is a separate component
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (5L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(cc(_) == 1L), s"chain not collapsed: $cc")
    assert(cc(10L) == 10L && cc(11L) == 10L)
  }

  test("collapseByPairs: keepers are cluster minima; singletons keep themselves") {
    val corpus = Seq(1L, 2L, 3L, 7L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.collapseByPairs(corpus, pairs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[Boolean]("is_keeper")))).toMap
    assert(out(1L) == ((1L, true)) && out(2L) == ((1L, false))
      && out(3L) == ((1L, false)))
    assert(out(7L) == ((7L, true))) // in no pair → own cluster
    // idCol == "id" must not collide with the CC label column
    // (code-review r13: by-name drop removed BOTH and the op failed)
    val renamed = corpus.withColumnRenamed("doc_id", "id")
    val out2 = Dedup.collapseByPairs(renamed, pairs, idCol = "id").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("is_keeper")).toMap
    assert(out2 == Map(1L -> true, 2L -> false, 3L -> false, 7L -> true))
    // string ids would cast to null and silently DELETE the corpus —
    // both the CC and the collapse entrance refuse them loudly
    val strCorpus = corpus.select(concat(lit("d"),
      col("doc_id").cast("string")).as("doc_id"), col("text"))
    val e1 = intercept[IllegalArgumentException] {
      Dedup.collapseByPairs(strCorpus,
        pairs.selectExpr("CAST(doc_a AS STRING) doc_a",
          "CAST(doc_b AS STRING) doc_b"))
    }
    assert(e1.getMessage.contains("integral"), e1.getMessage)
    // bands must divide the signature (bands > k made every band hash
    // degenerate — a silent zero-pairs false-clean)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.minhashPairs(corpus, k = 16, bands = 32)
    }
    assert(e2.getMessage.contains("bands"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      Dedup.minhashPairs(corpus, k = 20, bands = 8)
    }
    assert(e3.getMessage.contains("bands"), e3.getMessage)
  }

  test("connected components matches union-find on seeded random graphs") {
    for (seed <- Seq(7, 21, 99)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val edges = Seq.fill(45)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // reference: in-memory union-find with min-id root normalization
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(id => id -> find(id.toInt).toLong).toMap
      val got = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed $seed: CC diverged from union-find")
    }
  }

  test("connectedComponents refuses to return unconverged labels") {
    // a 40-node chain needs several path-halving rounds; maxIter=1 must
    // stop loudly, not hand back silently SPLIT clusters
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxIter = 1)
    }
    assert(e.getMessage.contains("converge"), e.getMessage)
    // the default budget collapses the same chain to one cluster
    val cc = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(1)).toSet
    assert(cc == Set(1L))
  }

  test("collapseByPairs composes with minhashPairs: near-dup corpus collapses to keepers") {
    val pairs = Dedup.minhashPairs(docs, threshold = 0.5)
    val keep = Dedup.collapseByPairs(docs, pairs)
      .filter(col("is_keeper")).collect().map(_.getAs[Long]("doc_id")).toSet
    // 1,2,3 are one near-dup cluster (keeper 1); 4 is unrelated
    assert(keep == Set(1L, 4L))
  }
}

class SimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  test("quantizeInt8: scale = max|x|, extremes map to ±127, zero vectors stay zero") {
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f)),   // maxabs 1.0 → q = (64, -127, 32)
      (2L, Seq(0f, 0f, 0f)),           // zero vector → scale 0, q all 0
      (3L, Seq(-2.0f, 1.0f, 0f)),      // maxabs 2.0 → q = (-127, 64, 0)
    ).toDF("vec_id", "embedding")
    val quantized = Similarity.quantizeInt8(df)
    // int8-sized codes for real: array<tinyint>, not an 8x-per-element
    // array<long> masquerading as the "4x smaller" shipment
    assert(quantized.schema("q").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType))
    val out = quantized.collect()
      .map(r => r.getLong(0) ->
        ((r.getFloat(2), r.getSeq[Byte](3).toSeq))).toMap
    assert(out(1L) == ((1.0f, Seq[Byte](64, -127, 32))))
    assert(out(2L) == ((0.0f, Seq[Byte](0, 0, 0))))
    assert(out(3L) == ((2.0f, Seq[Byte](-127, 64, 0))))
    // |q| never exceeds 127 on real data shapes (|x| <= max|x|)
    assert(out.values.flatMap(_._2).forall(q => q >= -127 && q <= 127))
  }

  test("array<double> embeddings coerce into the LSH/JL/MMR kernels: results identical to float") {
    // pre-r14 HyperplaneBucketsMultiprobe/JlProject declared no input
    // types, so a double embedding column reached getFloat uncast and
    // bucketed/projected reinterpreted garbage with no error; the MMR
    // pool struct carried a double cv into getFloat the same way
    val vecsF = (1 to 24).map(i => (i.toLong,
      Seq.tabulate(8)(j => (((i * 7 + j * 3) % 11) - 5) / 5.0f)))
      .toDF("vec_id", "embedding")
    val vecsD = vecsF.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val qF = vecsF.filter(col("vec_id") <= 3)
    val qD = vecsD.filter(col("vec_id") <= 3)
    assert(rows(Similarity.lshTopKMultiprobe(qD, vecsD, k = 5))
      == rows(Similarity.lshTopKMultiprobe(qF, vecsF, k = 5)))
    assert(rows(Similarity.randomProjectQ(vecsD, dim = 8, outDim = 4))
      == rows(Similarity.randomProjectQ(vecsF, dim = 8, outDim = 4)))
    assert(rows(Similarity.mmrTopK(qD, vecsD, k = 5, poolSize = 10))
      == rows(Similarity.mmrTopK(qF, vecsF, k = 5, poolSize = 10)))
  }

  test("semanticDedup: within-cell collapse keep-min; single trivial cell equals the flat all-pairs collapse") {
    // 1 and 2 share a direction (cos = 1), 3 and 4 are mutually and
    // jointly near-orthogonal to them
    val emb = Seq(
      (1L, Seq(1f, 0f, 0f)),
      (2L, Seq(2f, 0f, 0f)),
      (3L, Seq(0f, 1f, 0f)),
      (4L, Seq(0f, 0f, 1f)),
    ).toDF("vec_id", "embedding")
    val one = Array(Array(1.0f, 1.0f, 1.0f))
    val out = Similarity.semanticDedup(emb, one, thresholdE4 = 9000)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(1L) == ((1L, true)))
    assert(out(2L) == ((1L, false))) // collapsed into 1's cluster
    assert(out(3L) == ((3L, true)))
    assert(out(4L) == ((4L, true)))
    // cluster scoping with a real multi-cell quantizer still labels
    // every row exactly once, keepers = one per cluster
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter($"vec_id" < 100)
    val cents = Ivf.fitCentroids(corpus, nCells = 4)
    val sem = Similarity.semanticDedup(corpus, cents, thresholdE4 = 3000)
      .collect()
    assert(sem.length == 100)
    val byCluster = sem.groupBy(_.getLong(1))
    assert(byCluster.values.forall(_.count(_.getBoolean(2)) == 1))
    // scoping only ever MISSES cross-cell pairs: single-cell (flat)
    // collapse has <= as many clusters as the scoped one
    val flat = Similarity.semanticDedup(corpus,
      Array(Array.fill(64)(1.0f)), thresholdE4 = 3000).collect()
    assert(flat.count(_.getBoolean(2)) <= sem.count(_.getBoolean(2)))
  }

  test("cosine: orthogonal → 0, identical → 1, zero-norm → 0") {
    val df = Seq(
      (Seq(1f, 0f), Seq(0f, 1f)),
      (Seq(1f, 2f), Seq(1f, 2f)),
      (Seq(0f, 0f), Seq(1f, 1f)),
    ).toDF("a", "b")
    val sims = df.select(round(Similarity.cosine($"a", $"b"), 9)).collect().map(_.getDouble(0))
    assert(sims.toSeq == Seq(0.0, 1.0, 0.0))
  }

  test("randomProjectQ: BigInt replay, shape, and zero-shuffle plan") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.randomProjectQ(emb, dim = 64, outDim = 16)
    // shape: outDim rows per vector
    assert(out.count() == emb.count() * 16)
    // exact replay: recompute three vectors' projections with BigInt
    // arithmetic from the same matrix — any drift in quantization,
    // matrix derivation, or fold order breaks the equality
    val w = Similarity.jlMatrixQ(64, 16)
    val raw = emb.filter($"vec_id" < 3).orderBy("vec_id")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val got = out.filter($"vec_id" < 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    for ((id, v) <- raw; j <- 0 until 16) {
      val expect = v.indices.map { i =>
        // Spark round() is HALF_UP (away from zero) — math.round would
        // diverge on negative exact halves (-312.5 → -312, not -313)
        val q = BigDecimal(v(i).toDouble * 10000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt
        q * BigInt(w(j)(i))
      }.sum
      assert(BigInt(got((id, j))) == expect, s"vec $id dim $j")
    }
    // the scale contract: a pure narrow map — no exchange in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(800))
  }

  test("randomProject float form preserves relative distances (JL sanity)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter($"vec_id" < 40)
    val proj = emb.select($"vec_id",
      Similarity.randomProject($"embedding", dim = 64, outDim = 16)
        .as("embedding"))
    assert(proj.schema("embedding").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType ==
      org.apache.spark.sql.types.FloatType)
    // near-orthogonal inputs stay spread out after projection: the mean
    // projected pairwise |cosine| must not collapse toward 1 (which
    // would mean the projection destroyed the geometry)
    val sims = proj.as("a").crossJoin(proj.as("b"))
      .filter($"a.vec_id" < $"b.vec_id")
      .select(Similarity.cosine($"a.embedding", $"b.embedding").as("s"))
      .agg(avg(abs($"s"))).collect().head.getDouble(0)
    assert(sims < 0.5, s"mean |cos| after projection = $sims")
  }

  test("bruteForceTopK: exact ranking, self excluded") {
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f)), (1L, Seq(0.9f, 0.1f, 0f)),
      (2L, Seq(0f, 1f, 0f)), (3L, Seq(0.8f, 0.2f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(
        vecs.filter($"vec_id" === 0L), vecs, k = 2)
      .collect().map(r => (r.getInt(2), r.getLong(1))).sorted
    assert(out.toSeq == Seq((1, 1L), (2, 3L))) // by descending cosine to e_x
  }

  test("multi-table LSH top-k achieves reasonable recall@10 vs brute force on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 20)
    val brute = Similarity.bruteForceTopK(queries, emb, k = 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshDf = Similarity.lshTopK(queries, emb, k = 10, nPlanes = 4, nTables = 8)
    val lsh = lshDf.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall > 0.4, s"recall@10 was $recall")
    // sanity: no duplicate ranks per query
    val ranks = lshDf.groupBy("query_id", "rank").count().filter($"count" > 1).count()
    assert(ranks == 0)
  }

  test("multi-probe LSH: flip buckets are single-bit neighbors, nFlips=0 equals plain, recall never drops") {
    import graft.functions.vectors
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // kernel-level: per table, the probe list leads with the base
    // bucket and each variant differs from it by exactly one plane bit
    val kern = emb.limit(50).select(
        vectors.lsh_buckets(org.apache.spark.sql.functions.col("embedding"), 4, 8).as("base"),
        vectors.lsh_buckets_multiprobe(org.apache.spark.sql.functions.col("embedding"), 4, 8, 2).as("mp"))
      .collect()
    kern.foreach { r =>
      val base = r.getSeq[Long](0)
      val mp = r.getSeq[Long](1)
      assert(mp.size == 8 * 3)
      (0 until 8).foreach { t =>
        val b = mp(t * 3)
        assert(b == base(t))
        Seq(mp(t * 3 + 1), mp(t * 3 + 2)).foreach { v =>
          assert(v != b)
          assert((v >> 32) == (b >> 32)) // same table tag
          assert(java.lang.Long.bitCount((v ^ b) & 0xFFFFFFFFL) == 1)
        }
      }
    }
    val q = emb.filter($"vec_id" < 20)
    // nFlips = 0 is exactly lshTopK
    assert(rows(Similarity.lshTopKMultiprobe(q, emb, k = 10, nFlips = 0))
      == rows(Similarity.lshTopK(q, emb, k = 10)))
    // recall is monotone: the multiprobe candidate set is a superset,
    // and exact re-ranking of a superset can only match or beat recall
    val brute = Similarity.bruteForceTopK(q, emb, k = 10)
    def hits(ann: org.apache.spark.sql.DataFrame): Long =
      Similarity.recallCounts(ann, brute).collect().head.getLong(1)
    val plain = hits(Similarity.lshTopK(q, emb, k = 10))
    val multi = hits(Similarity.lshTopKMultiprobe(q, emb, k = 10, nFlips = 2))
    assert(multi >= plain, s"multiprobe hits $multi < plain $plain")
  }

  test("MMR: λ=1 equals brute top-k; lower λ spends slots across clusters; deterministic") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" < 5)
    // λ = 1: pure relevance must reproduce brute force rank-exactly
    val pure = Similarity.mmrTopK(q, emb, k = 10, poolSize = 30,
        lambdaE4 = 10000)
      .select($"query_id", $"neighbor_id", $"mmr_rank".as("rank"))
    val brute = Similarity.bruteForceTopK(q, emb, k = 10)
      .withColumn("rank", $"rank".cast("long"))
    assert(rows(pure) == rows(brute))
    // diversity: a corpus of two tight clusters (copies of two base
    // vectors) — plain top-2 picks two copies of the nearer cluster;
    // MMR at λ=0.5 must spend slot 2 on the OTHER cluster
    val a = Array.fill(8)(0f); a(0) = 1f
    val b = Array.fill(8)(0f); b(1) = 1f; b(0) = 0.3f
    val qv = Array.fill(8)(0f); qv(0) = 1f; qv(1) = 0.2f
    val corpus = ((0 until 3).map(i => (10L + i, a.toSeq)) ++
      (0 until 3).map(i => (20L + i, b.toSeq)) :+ (1L, qv.toSeq))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" === 1L)
    def picks(lambdaE4: Int) = Similarity.mmrTopK(queries, corpus, k = 2,
        poolSize = 6, lambdaE4 = lambdaE4)
      .orderBy("mmr_rank").collect().map(_.getLong(1)).toSeq
    assert(picks(10000) == Seq(10L, 11L)) // relevance-only: twin copies
    val diverse = picks(5000)
    assert(diverse.head == 10L && diverse(1) >= 20L,
      s"expected cross-cluster pick, got $diverse")
    // determinism across runs
    assert(picks(5000) == picks(5000))
  }

  test("MMR composes with an ANN pool: λ=1 over the multiprobe top-30 equals multiprobe top-10") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" < 5)
    // the scale path mmrTopK's scaladoc promises: ANN top-R joined back
    // to vectors as the pool — λ=1 must reduce to the ANN's own ranks
    val pool = Similarity.lshTopKMultiprobe(q, emb, k = 30, nFlips = 2)
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv")), Seq("neighbor_id"))
      .join(emb.select(col("vec_id").as("query_id"),
        col("embedding").as("qv")), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("qv"), col("cv")).as("rel"), col("cv"))
    val got = Similarity.mmrFromPool(pool, k = 10, lambdaE4 = 10000)
      .select($"query_id", $"neighbor_id",
        $"mmr_rank".cast("int").as("rank"))
    val want = Similarity.lshTopKMultiprobe(q, emb, k = 10, nFlips = 2)
    assert(rows(got) == rows(want))
    // the packaged scale path (ns_mmr_ann's mmrTopKAnn, which carries
    // vectors through the ranking window instead of re-joining the
    // corpus) must satisfy the SAME identity
    val gotPkg = Similarity.mmrTopKAnn(q, emb, k = 10, poolSize = 30,
        lambdaE4 = 10000, nFlips = 2)
      .select($"query_id", $"neighbor_id",
        $"mmr_rank".cast("int").as("rank"))
    assert(rows(gotPkg) == rows(want))
    // and at λ<1 it diversifies over the identical pool: same picks as
    // mmrFromPool over the manually-built ANN pool
    val divPkg = Similarity.mmrTopKAnn(q, emb, k = 10, poolSize = 30,
      lambdaE4 = 7000, nFlips = 2)
    val divMan = Similarity.mmrFromPool(pool, k = 10, lambdaE4 = 7000)
    assert(rows(divPkg) == rows(divMan))
  }

  test("MMR: anti-similar candidates earn a diversity BONUS (signed maxSim), NaN pools truncate instead of crashing") {
    // c2 is ANTI-similar to the first pick (cos = -1): true MMR scores
    // it 0.5·0.6 − 0.5·(−1) = 0.8 > c3's 0.35 — a kernel that clamps
    // max-cos-to-selected at 0 would pick c3 (code-review r12)
    val pool = Seq(
      (1L, 10L, 0.9, Seq(1f, 0f)),
      (1L, 20L, 0.6, Seq(-1f, 0f)),
      (1L, 30L, 0.7, Seq(0f, 1f)),
    ).toDF("query_id", "neighbor_id", "rel", "cv")
    val got = Similarity.mmrFromPool(pool, k = 2, lambdaE4 = 5000)
      .orderBy("mmr_rank").collect().map(_.getLong(1)).toSeq
    assert(got == Seq(10L, 20L), s"expected the anti-similar pick, got $got")
    // a NaN candidate (corrupt embedding) must not index at -1 and
    // kill the task: selection stops with what it has
    val bad = Seq(
      (1L, 10L, 0.9, Seq(1f, 0f)),
      (1L, 20L, Double.NaN, Seq(Float.NaN, 0f)),
    ).toDF("query_id", "neighbor_id", "rel", "cv")
    val trunc = Similarity.mmrFromPool(bad, k = 2, lambdaE4 = 5000)
      .collect().map(_.getLong(1)).toSeq
    assert(trunc == Seq(10L), s"expected truncated selection, got $trunc")
    // FINITE rel + NaN vector (ADVICE r12 #1): its cosine vs the
    // selected set is NaN, so maxSim never updates off -inf and the
    // score -(1-λ)·(-inf) = +inf would PROMOTE the corrupt candidate
    // over a clean one — the guard must disqualify it instead
    val mixed = Seq(
      (1L, 10L, 0.9, Seq(1f, 0f)),
      (1L, 20L, 0.8, Seq(Float.NaN, 0f)), // corrupt vector, finite rel
      (1L, 30L, 0.2, Seq(0f, 1f)),
    ).toDF("query_id", "neighbor_id", "rel", "cv")
    val picks = Similarity.mmrFromPool(mixed, k = 3, lambdaE4 = 5000)
      .orderBy("mmr_rank").collect().map(_.getLong(1)).toSeq
    assert(picks == Seq(10L, 30L),
      s"corrupt candidate must be disqualified, not promoted: got $picks")
  }

  test("cosineNearDupPairs: duplicate vectors found at threshold 0.999") {
    val vecs = Seq(
      (0L, Seq(1f, 2f, 3f)), (1L, Seq(1f, 2f, 3f)),
      (2L, Seq(-3f, 1f, 0.5f))).toDF("vec_id", "embedding")
    val out = Similarity.cosineNearDupPairs(vecs, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((0L, 1L)))
  }

  test("probeScore: aligned vector scores 1, opposed scores -1, pred follows threshold") {
    val probe = Array(1f, 0f, 0f)
    val vecs = Seq(
      (0L, Seq(2f, 0f, 0f)),   // aligned: cos = 1
      (1L, Seq(-1f, 0f, 0f)),  // opposed: cos = -1
      (2L, Seq(0f, 5f, 0f))).toDF("vec_id", "embedding") // orthogonal: 0
    val out = Similarity.probeScore(vecs, probe, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> ((math.round(r.getDouble(1) * 1e6), r.getInt(2)))).toMap
    assert(out(0L) == ((1000000L, 1)))
    assert(out(1L) == ((-1000000L, 0)))
    assert(out(2L) == ((0L, 0)))
  }
}

class TextAnalysisSpec extends SparkSpecBase {
  import spark.implicits._

  test("lineDedup: boilerplate lines dropped everywhere, unique and blank lines survive, edge docs exact") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // "Footer!" normalized appears in docs 1,2,3 (> maxDocFreq 2);
    // "unique N" lines are singletons; doc 4 is ONLY boilerplate;
    // doc 5 is empty text; blank middle lines are structural
    val docs2 = Seq(
      (1L, "unique one\n\n  footer!  \ntail one"),
      (2L, "unique two\nFooter!"),
      (3L, "footer!\nunique three"),
      (4L, "FOOTER!"),
      (5L, ""),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lineDedup(docs2, maxDocFreq = 2).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // normalization: lower + trim + collapse, so all four footer
    // variants hash alike and every occurrence is dropped
    assert(out(1L) == ((4L, 3L, md5hex("unique one\n\ntail one"))))
    assert(out(2L) == ((2L, 1L, md5hex("unique two"))))
    assert(out(3L) == ((2L, 1L, md5hex("unique three"))))
    // all-boilerplate doc: nothing survives
    assert(out(4L) == ((1L, 0L, md5hex(""))))
    // empty text splits to one blank line, which is structural and kept
    assert(out(5L) == ((1L, 1L, md5hex(""))))
    // threshold boundary: the footer's df is exactly 4, and removal
    // requires df > maxDocFreq, so at maxDocFreq = 4 every line survives
    val boundary = TextAnalysis.lineDedup(docs2, maxDocFreq = 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(boundary.forall { case (_, (n, k)) => n == k })
  }

  test("lineDedup train/serve split: serving the trained set reproduces the one-shot pass; frozen semantics pinned") {
    val corpus = Seq(
      (1L, "unique one\nfooter!"),
      (2L, "unique two\nFooter!"),
      (3L, "footer!\nunique three"),
    ).toDF("doc_id", "text")
    val boiler = TextAnalysis.boilerplateLines(corpus, maxDocFreq = 2)
    // parity: serve(corpus, train(corpus)) == one-shot lineDedup
    val served = TextAnalysis.lineDedupServe(corpus, boiler)
      .collect().map(_.toSeq).toSet
    val oneShot = TextAnalysis.lineDedup(corpus, maxDocFreq = 2)
      .collect().map(_.toSeq).toSet
    assert(served == oneShot && served.nonEmpty)
    // frozen semantics: a line repeated across the whole INCOMING batch
    // but absent from the trained set is KEPT; the trained footer drops
    val incoming = Seq(
      (10L, "batch banner\nfooter!\nnew a"),
      (11L, "batch banner\nFOOTER!\nnew b"),
      (12L, "batch banner\nnew c"),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lineDedupServe(incoming, boiler).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(10L) == ((3L, 2L))) // banner + new a kept, footer dropped
    assert(out(11L) == ((3L, 2L)))
    assert(out(12L) == ((2L, 2L))) // nothing trained matches
    // line-level serve core is join+projection only (the stream-safe
    // shape StreamingSpec drives end-to-end)
    val keptLines = TextAnalysis.dropBoilerplateLines(incoming, boiler)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(keptLines.contains((10L, "batch banner")) &&
      !keptLines.exists(_._2.equalsIgnoreCase("footer!")))
  }

  test("serve edges: empty boilerplate set keeps everything; dsirWeights rejects non-positive totals") {
    val docs2 = Seq((1L, "a\nb"), (2L, "")).toDF("doc_id", "text")
    val noBoiler = TextAnalysis.boilerplateLines(docs2, maxDocFreq = 100)
    assert(noBoiler.count() == 0)
    val out = TextAnalysis.lineDedupServe(docs2, noBoiler).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((2L, 2L)) && out(2L) == ((1L, 1L)))
    assert(intercept[IllegalArgumentException] {
      TextAnalysis.dsirWeights(docs2, Map("a" -> 1L), 0L, Map("a" -> 1L), 1L)
    }.getMessage.contains("positive"))
  }

  test("rewriteLines: text replaced in place, other columns untouched, audit md5 agrees with the serve form") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val corpus = Seq(
      (1L, "en", "keep a\nfooter!"),
      (2L, "de", "keep b\nfooter!"),
      (3L, "fr", "footer!\nkeep c"),
      (4L, "es", "FOOTER!"),
    ).toDF("doc_id", "lang", "text")
    val boiler = TextAnalysis.boilerplateLines(corpus, maxDocFreq = 2)
    val out = TextAnalysis.rewriteLines(corpus, boiler).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(out(1L) == (("en", "keep a")))
    assert(out(3L) == (("fr", "keep c")))
    assert(out(4L) == (("es", ""))) // fully boilerplate → empty text
    // the rewritten text's md5 is exactly what lineDedupServe audits
    val audits = TextAnalysis.lineDedupServe(corpus, boiler).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    out.foreach { case (id, (_, text)) =>
      assert(audits(id) == md5hex(text), s"doc $id audit mismatch")
    }
  }

  test("dsirWeights: hand-computed log-likelihood ratios; target-like docs score positive") {
    val tv = Map("aa" -> 3L); val tt = 3L
    val rv = Map("aa" -> 3L, "bb" -> 3L); val rt = 6L
    val docs2 = Seq(
      (1L, "aa aa"), // per token: ln(3/3) - ln(3/6) = +ln 2
      (2L, "bb"),    // ln(0.5/3) - ln(3/6) = ln(1/6) + ln 2
      (3L, ""),      // blank → no row
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dsirWeights(docs2, tv, tt, rv, rt).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out.size == 2)
    assert(out(1L)._1 == 2L &&
      math.abs(out(1L)._2 - math.log(2.0)) < 1e-12)
    assert(out(2L)._1 == 1L &&
      math.abs(out(2L)._2 - (math.log(0.5 / 3) - math.log(0.5))) < 1e-12)
    // the target-domain doc is preferred, the off-domain doc penalized
    assert(out(1L)._2 > 0 && out(2L)._2 < 0)
  }

  test("dupLineStats: repeats counted beyond the first, longest representative charged, blanks excluded") {
    val docs2 = Seq(
      (1L, "A\na\n  a  \nb"), // "a" occurs 3x (two are variants), "b" once
      (2L, "x\ny"),
      (3L, ""),
      (4L, "same\n\nsame"),   // blank middle line is structural
      (5L, "\n  \n"),         // ALL-blank doc: must still emit a row
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dupLineStats(docs2).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: 4 non-blank lines, 2 repeats; raw lengths of the "a" group
    // are 1, 1, 5 → chars charged = 7 - 5 = 2
    assert(out(1L) == ((4L, 2L, 2L)))
    assert(out(2L) == ((2L, 0L, 0L)))
    assert(out(3L) == ((0L, 0L, 0L)))
    assert(out(4L) == ((2L, 1L, 4L)))
    // the ADVICE r9 #4 convention, now shared with the ns_dup_lines
    // oracle (which left-joins its rollup back to the documents table):
    // a document whose lines are all blank is PRESENT with zero stats,
    // not omitted
    assert(out(5L) == ((0L, 0L, 0L)))
  }

  test("tokenCount / subwordCount / punctCount") {
    val df = Seq("hello world", "", "  ", "don't-stop123 now!").toDF("text")
    val out = df.select(
      TextAnalysis.tokenCount($"text"),
      TextAnalysis.subwordCount($"text"),
      TextAnalysis.punctCount($"text")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    assert(out(0) == ((2, 2, 0)))
    assert(out(1) == ((0, 0, 0)))
    assert(out(2) == ((0, 0, 0)))
    // subwords: don | ' | t | - | stop | 123 | now | ! = 8;
    // punct class is [.,;:!?] so only "!" counts
    assert(out(3)._1 == 2 && out(3)._2 == 8 && out(3)._3 == 1)
  }

  test("quality score: natural prose scores higher than garbage") {
    val df = Seq(
      (1L, "the quick brown fox is seen in the field and it runs to the barn"),
      (2L, "!!!???...;;;:::!!!???...;;;:::"),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.qualityScore(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("q_score")).toMap
    assert(out(1L) == 1.0)
    assert(out(2L) <= 1.0 / 3)
  }

  test("languageId: clear-cut samples per language; gibberish → und") {
    val df = Seq(
      "the cat and the dog went to the house in the morning",
      "der Hund und die Katze sind nicht in der Wohnung für immer",
      "le chat est dans la maison et il ne sort pas pour le moment",
      "el perro y el gato no están en la casa para siempre",
      "zzz qqq xxx www",
    ).toDF("text")
    val out = df.select(TextAnalysis.languageId($"text")).collect().map(_.getString(0))
    assert(out.toSeq == Seq("en", "de", "fr", "es", "und"))
    // null text → null lang, not "fr" (code-review r13: the null hit
    // counts tied the argmax structs and the lexicographic tiebreak won)
    val withNull = Seq((1L, null: String)).toDF("id", "text")
      .select(TextAnalysis.languageId($"text")).collect()
    assert(withNull(0).isNullAt(0))
  }

  test("fingerprint: whitespace/case variants collapse, distinct texts differ") {
    val df = Seq("Hello   World", "hello world", "other").toDF("text")
    val fps = df.select(TextAnalysis.fingerprint($"text")).collect().map(_.getString(0))
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
    assert(fps(0).matches("[0-9a-f]{32}"))
  }

  test("vocabGrowth: terms charged to earliest bucket, cumulative curve exact") {
    val df = Seq(
      (0L, "a b a"), (0L, "b c"), (1L, "c d"), (2L, "a e"),
    ).toDF("b", "text")
    val out = TextAnalysis.vocabGrowth(df, $"b").collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("new_terms"),
        r.getAs[Long]("cum_vocab"))).sortBy(_._1)
    // a,b,c first seen in bucket 0; d in 1; e in 2
    assert(out.toSeq == Seq((0L, 3L, 3L), (1L, 1L, 4L), (2L, 1L, 5L)))
  }

  test("oovStats: frozen top-K vocab, instance-level OOV counts, blanks dropped") {
    val df = Seq(
      (1L, "a a b x"), (2L, "a b y"), (3L, "b z z"), (4L, ""),
    ).toDF("doc_id", "text")
    // counts: a=3 b=3 z=2 x=1 y=1 → top-2 (cnt desc, term asc) = {a, b}
    val out = TextAnalysis.oovStats(df, topK = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov")))).toMap
    assert(out == Map(1L -> ((4L, 1L)), 2L -> ((3L, 1L)), 3L -> ((3L, 2L))))
  }

  test("sourceEntropy: repetitive source scores below diverse source; integers exact") {
    val df = Seq(
      ("spam", "buy buy buy buy buy buy buy buy"),
      ("spam", "buy buy buy buy buy buy buy now"),
      ("wiki", "alpha beta gamma delta epsilon zeta eta theta"),
      ("wiki", "iota kappa lambda mu nu xi omicron pi"),
    ).toDF("source", "text")
    val out = TextAnalysis.sourceEntropy(df).collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("entropy_e4")))).toMap
    assert(out("spam")._1 == 16L && out("wiki")._1 == 16L)
    // 16 uniform singleton terms: H = ln(16), entropy_e4 = 16·round(ln(1/16)·1e4)
    assert(out("wiki")._2 == 16L * math.round(-math.log(1.0 / 16) * 10000))
    assert(out("spam")._2 < out("wiki")._2 / 4,
      s"near-constant source must score far below uniform: $out")
  }

  test("text_stats kernel matches the column formulations on edge cases") {
    import org.apache.spark.sql.functions.{get, length, lit}
    val df = Seq(
      "", " ", "   ", "one", "a  b", "\tleading tab", "a\nb\tc",
      "The AND of IT", "no, stop; words! here?", "über straße naïve",
      " padded  with   spaces ", "the the the",
      // trailing non-space whitespace: Spark split (limit -1) KEEPS the
      // trailing empty token, unlike Java split — r11 found the kernel
      // dropping it
      "trailing tab\t", "line\n", "a\nb\n", "\n", " \n ",
    ).toDF("text")
    val stats = graft.functions.texthash.text_stats($"text",
      TextAnalysis.defaultStopwords)
    val rows = df.select(
      get(stats, lit(0)).as("k_chars"), length($"text").cast("long").as("c_chars"),
      get(stats, lit(1)).as("k_toks"), TextAnalysis.tokenCount($"text").cast("long").as("c_toks"),
      get(stats, lit(2)).as("k_punct"), TextAnalysis.punctCount($"text").cast("long").as("c_punct"),
      get(stats, lit(3)).as("k_stops"), TextAnalysis.stopwordCount($"text").cast("long").as("c_stops"),
      $"text").collect()
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"chars: ${r.getString(8)}")
      assert(r.getLong(2) == r.getLong(3), s"tokens: '${r.getString(8)}'")
      assert(r.getLong(4) == r.getLong(5), s"punct: ${r.getString(8)}")
      assert(r.getLong(6) == r.getLong(7), s"stops: ${r.getString(8)}")
    }
  }

  test("repetitionRatio: degenerate repetition scores high, unique text scores 0") {
    val df = Seq(
      (1L, "a b a b a b"),          // 2-grams: 2 distinct of 5 → 0.6
      (2L, "all words unique here"),
      (3L, "one"),
      (4L, ""),
    ).toDF("doc_id", "text")
    val out = df.select($"doc_id",
      TextAnalysis.repetitionRatio($"text", 2).as("r2"),
      TextAnalysis.repetitionRatio($"text", 3).as("r3")).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((1.0 - 2.0 / 5, 1.0 - 2.0 / 4)))
    assert(out(2L) == ((0.0, 0.0)))
    assert(out(3L) == ((0.0, 0.0)))
    assert(out(4L) == ((0.0, 0.0)))
    // trailing non-space whitespace must not mint a phantom token
    // (code-review r13: tokenCount keeps the trailing empty token by
    // its own pandas-parity contract, which read "hello world\n" as 3
    // tokens → rep2 = 0.5 on a zero-repetition doc)
    val trail = Seq((1L, "hello world\n"), (2L, "  a b  \t"))
      .toDF("doc_id", "text")
      .select($"doc_id", TextAnalysis.repetitionRatio($"text", 2).as("r2"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(trail == Map(1L -> 0.0, 2L -> 0.0), trail.toString)
  }

  test("redactPii: urls, emails, phones become placeholders; clean text untouched") {
    val df = Seq(
      "mail me at jane.doe+spam@corp.example.org today",
      "see https://ex.com/a?b=1&c=2 for details",
      "call +1-555-0123 or 020-7946-0958 now",
      "a url-with-email https://ex.com/u/bob@ex.com trailing",
      "nothing sensitive here at all",
    ).toDF("text")
    val out = df.select(TextAnalysis.redactPii($"text")).collect().map(_.getString(0))
    assert(out(0) == "mail me at <EMAIL> today")
    assert(out(1) == "see <URL> for details")
    assert(out(2) == "call <PHONE> or <PHONE> now")
    assert(out(3) == "a url-with-email <URL> trailing") // URL eats the email
    assert(out(4) == "nothing sensitive here at all")
  }

  test("documentFrequency: per-document distinct, case-folded, short terms dropped") {
    val df = Seq(
      (1L, "Spark spark SPARK engine"), // 'spark' counts once for this doc
      (2L, "spark is an engine"),       // 'is'/'an' dropped (< 3 chars)
      (3L, "parquet files"),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.documentFrequency(df).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("spark") == 2L)
    assert(out("engine") == 2L)
    assert(out("parquet") == 1L)
    assert(!out.contains("is") && !out.contains("an"))
  }

  test("tfIdf: corpus-wide term scores ubiquitous words 0, rare words by tf x ln(N/df)") {
    val df = Seq(
      (1L, "common rare rare"),
      (2L, "common middle"),
      (3L, "common middle"),
      (4L, "common only"),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdf(df).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out((1L, "common")) == ((1L, 4L, 0.0))) // in every doc: idf = ln(1) = 0
    assert(out((1L, "rare")) == ((2L, 1L, 2 * math.log(4.0))))
    assert(out((2L, "middle")) == ((1L, 2L, math.log(2.0))))
    assert(!out.contains((2L, "rare")))
  }

  test("bm25: hand-computed scores, tf saturation, length normalization, no-hit docs absent") {
    // corpus (minTermLen=3 keeps all words): dl = 4,4,2; N=3, Σdl=10
    val df = Seq(
      (1L, "cat cat dog bird"),
      (2L, "dog dog dog dog"),
      (3L, "fish fish"),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25(df, Seq("cat", "dog")).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val (k1, b) = (1.2, 0.75)
    def contrib(tf: Long, dfq: Long, dl: Long): Long = {
      val idf = math.log((3.0 - dfq + 0.5) / (dfq + 0.5) + 1.0)
      math.round(idf * (tf * (k1 + 1.0)) /
        (tf + k1 * (1.0 - b + b * (dl * 3 / 10.0))) * 10000)
    }
    // doc 1: cat (tf=2, df=1) + dog (tf=1, df=2); doc 2: dog tf=4
    assert(out(1L) == ((4, contrib(2, 1, 4) + contrib(1, 2, 4))))
    assert(out(2L) == ((4, contrib(4, 2, 4))))
    assert(!out.contains(3L)) // no query hits → no row
    // tf saturation: doc 2's 4 dog-hits score < 4× one hit
    assert(out(2L)._2 < 4 * contrib(1, 2, 4))
  }

  test("unigramLogProb: blank documents produce no row (no tokens to score)") {
    val df = Seq((1L, "a b"), (2L, "   "), (3L, "")).toDF("doc_id", "text")
    val ids = TextAnalysis.unigramLogProb(df).collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L))
  }

  test("unigramLogProb: mean token log-prob from corpus-trained counts, hand-computed") {
    // corpus tokens: a a b | a b | c  → total 6, counts a=3, b=2, c=1
    val df = Seq(
      (1L, "a a b"),
      (2L, "a b"),
      (3L, "c"),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val (la, lb, lc) =
      (math.log(3 / 6.0), math.log(2 / 6.0), math.log(1 / 6.0))
    assert(out(1L)._1 == 3L)
    assert(math.abs(out(1L)._2 - (2 * la + lb) / 3) < 1e-12)
    assert(math.abs(out(2L)._2 - (la + lb) / 2) < 1e-12)
    assert(math.abs(out(3L)._2 - lc) < 1e-12)
    // rare-token doc is strictly less probable than common-token docs
    assert(out(3L)._2 < out(1L)._2 && out(3L)._2 < out(2L)._2)
    // mean log-prob is always <= 0 (probabilities <= 1)
    assert(out.values.forall(_._2 <= 0.0))
  }

  test("packSequences: doc_id-ordered concat per shard, budget splits, stable on any layout") {
    val df = Seq(
      (3L, "s1", "c c"),        // cumsum-before: 4 → shard 1 (budget 4)
      (1L, "s1", "a a"),        // 0 → shard 0
      (2L, "s1", "b b"),        // 2 → shard 0
      (4L, "s1", "d"),          // 6 → shard 1
      (9L, "s2", "x y z"),      // 0 → shard 0
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.packSequences(df, tokenBudget = 4L, sep = " | ")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // shard (s1,0) holds docs 1,2 (cumsum-before 0 and 2 < 4), in id order
    assert(out(("s1", 0L)) == ((2L, 4L, "a a | b b")))
    assert(out(("s1", 1L)) == ((2L, 3L, "c c | d")))
    assert(out(("s2", 0L)) == ((1L, 3L, "x y z")))
    // deterministic concat regardless of input partitioning
    val re = TextAnalysis.packSequences(df.repartition(5), tokenBudget = 4L,
      sep = " | ").collect().map(r => r.getString(4)).sorted.toSeq
    assert(re == out.values.map(_._3).toSeq.sorted)
  }

  test("chunkByTokens: full windows + ragged tail, ordinals dense, blank docs dropped") {
    val df = Seq(
      (1L, (1 to 7).map(i => s"w$i").mkString(" ")), // 7 tokens → 3+3+1
      (2L, "single"),
      (3L, "   "),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkByTokens(df, chunkSize = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val doc1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(doc1.map(c => (c._3, c._4)).toSeq == Seq(
      ("w1 w2 w3", 3), ("w4 w5 w6", 3), ("w7", 1)))
    assert(doc1.map(_._2).toSeq == Seq(0, 1, 2))
    assert(out.filter(_._1 == 2L).map(c => (c._2, c._3, c._4)).toSeq ==
      Seq((0, "single", 1)))
    assert(!out.exists(_._1 == 3L))
  }

  test("chunkByTokens with stride: 50% overlap, every adjacent span covered, tail ragged") {
    val df = Seq((1L, (1 to 5).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val out = TextAnalysis.chunkByTokens(df, chunkSize = 4, stride = 2).collect()
      .map(r => (r.getInt(1), r.getString(2), r.getInt(3))).sortBy(_._1)
    assert(out.toSeq == Seq(
      (0, "w1 w2 w3 w4", 4), (1, "w3 w4 w5", 3), (2, "w5", 1)))
    // stride = chunkSize reproduces the non-overlapping form exactly
    val plain = TextAnalysis.chunkByTokens(df, chunkSize = 3)
      .collect().map(r => (r.getInt(1), r.getString(2))).toSet
    val strided = TextAnalysis.chunkByTokens(df, chunkSize = 3, stride = 3)
      .collect().map(r => (r.getInt(1), r.getString(2))).toSet
    assert(plain == strided)
    // stride > chunkSize would leave token gaps unseen — rejected
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.chunkByTokens(df, chunkSize = 3, stride = 4)
    }
    assert(e.getMessage.contains("skip tokens"))
  }

  test("bpeInduct: hand-computed merge sequence, greedy left-to-right, count-desc/pair-asc winner") {
    val df = Seq((1L, "aaab aaab banana")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeInduct(df, rounds = 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    // r1: aa wins 4 (aaab has TWO overlapping 'a a' but one-pass merge
    //     counts both occurrences; merging leaves [aa, a, b]);
    // r2: tie at 2 between 'a b', 'a n', 'aa a', 'n a' → 'a b' by pair
    //     order; r3: 'a n' (banana → [b, an, an, a]); r4: 'aa ab' = 2
    //     beats the 1-count banana pairs; r5: 'an a' at count 1
    assert(out.toSeq == Seq(
      (1L, "a", "a", 4L), (2L, "a", "b", 2L), (3L, "a", "n", 2L),
      (4L, "aa", "ab", 2L), (5L, "an", "a", 1L)))
    // merge supply exhausts → rounds stop early, no padding rows
    val tiny = Seq((1L, "ab")).toDF("doc_id", "text")
    val short = TextAnalysis.bpeInduct(tiny, rounds = 5).collect()
    assert(short.length == 1 && short(0).getString(1) == "a"
      && short(0).getString(2) == "b")
    def table(text: String, rounds: Int) =
      TextAnalysis.bpeInduct(Seq((1L, text)).toDF("doc_id", "text"), rounds)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    // symbol-disjoint frontier: (cnt desc, pair asc) with the corpus
    // counts; the ef/gh tie breaks by pair order
    assert(table("ab ab ab ab gh gh cd cd cd ef ef", rounds = 4) == Seq(
      (1L, "a", "b", 4L), (2L, "c", "d", 3L), (3L, "e", "f", 2L),
      (4L, "g", "h", 2L)))
    // chained pairs: each merge leaves the next pair's count intact
    assert(table("ab ab ab bc bc cd", rounds = 3) == Seq(
      (1L, "a", "b", 3L), (2L, "b", "c", 2L), (3L, "c", "d", 1L)))
    // merging (a,b) leaves count(c,a) intact, so (c,a) comes before the
    // lower-count (c,d)
    val text = (Seq.fill(10)("ab") ++ Seq.fill(9)("ca") ++
      Seq.fill(8)("cd")).mkString(" ")
    assert(table(text, rounds = 3) == Seq(
      (1L, "a", "b", 10L), (2L, "c", "a", 9L), (3L, "c", "d", 8L)))
  }

  test("bpeInduct releases every vocab checkpoint it registers") {
    // one checkpoint per round is registered; each superseded one and
    // the last must be unpersisted, or a long induction pins every
    // round's vocab copy. The registry holds weak values, so GC may
    // drop older entries: compare the ids the call added
    val df = Seq((1L, "alpha bravo charlie delta echo foxtrot golf hotel"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(TextAnalysis.bpeInduct(df, rounds = 20).count() == 20)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"vocab checkpoints left registered: $added")
  }

  test("normalizeText: strips control chars, keeps newline structure, collapses runs, trims") {
    val df = Seq(
      ("a\u0001\u0002bc", "abc"),             // control chars removed
      ("  x \t\t y\t", "x y"),                // runs collapsed, trimmed
      ("l1  \nl2\t\tl2b", "l1 \nl2 l2b"),     // newline preserved
      ("\u007f\u001b[0m", "[0m"),             // DEL + ESC stripped
    ).toDF("raw", "want")
    val out = df.select(TextAnalysis.normalizeText($"raw"), $"want").collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1),
      s"got '${r.getString(0)}' want '${r.getString(1)}'"))
  }

  test("sourceKl: identical distribution scores 0, skewed source positive, Gibbs holds") {
    val docs = Seq(
      (1L, "s1", "a b"), (2L, "s1", "a b"),   // p_s1 = corpus-marginal-ish
      (3L, "s2", "a b"), (4L, "s2", "a b"),   // p_s2 identical to s1
      (5L, "s3", "z z z z"),                  // s3 concentrated on z
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.sourceKl(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // corpus: a:4 b:4 z:4, N=12. s1/s2: p(a)=p(b)=1/2 vs corpus 1/3 →
    // KL = ln(3/2) > 0; s3: p(z)=1 vs 1/3 → KL = ln 3
    assert(out("s1")._1 == 4 && out("s3")._1 == 4)
    assert(out("s1") == out("s2"), "identical distributions must tie")
    val kl13 = out("s1")._2 / 4.0 / 10000
    assert(math.abs(kl13 - math.log(1.5)) < 1e-3, s"s1 per-token KL $kl13")
    val kl3 = out("s3")._2 / 4.0 / 10000
    assert(math.abs(kl3 - math.log(3.0)) < 1e-3, s"s3 per-token KL $kl3")
    // Gibbs: KL >= 0 for every source
    assert(out.values.forall(_._2 >= 0))
  }

  test("bigramHead/scoreWithBigramLm: hand-computed pair probabilities with backoff") {
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "z a"), (4L, "a z"))
      .toDF("doc_id", "text")
    // unigrams: a:5, b:3, z:2, total 10; bigrams: "a b":3, "a z"/"b a"/"z a":1
    val (vocab, total) = TextAnalysis.lmHead(docs, topK = 10)
    assert(vocab == Map("a" -> 5L, "b" -> 3L, "z" -> 2L) && total == 10L)
    val bgs = TextAnalysis.bigramHead(docs, topK = 2)
    // top-2 by (cnt desc, pair asc): "a b":3 then "a z":1
    assert(bgs == Map("a b" -> 3L, "a z" -> 1L))
    val out = TextAnalysis.scoreWithBigramLm(docs, bgs, vocab, total)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val eps = 1e-12
    // d1: ln(3/5) + backoff("b a" miss → ug[a]/total) ln(5/10) + ln(3/5), /3
    assert(math.abs(out(1L) -
      (2 * math.log(3.0 / 5) + math.log(0.5)) / 3) < eps)
    // d2: single in-head pair
    assert(math.abs(out(2L) - math.log(3.0 / 5)) < eps)
    // d3: "z a" not in head → backoff to ug[a]
    assert(math.abs(out(3L) - math.log(0.5)) < eps)
    // d4: "a z" in head AND prev in ug → ln(1/5)
    assert(math.abs(out(4L) - math.log(1.0 / 5)) < eps)
  }

  test("gopherRules: each rule trips on a crafted violator, clean doc passes") {
    val ok = (1 to 60).map(i => s"word$i").mkString(" ")   // 60 sane words
    val docs = Seq(
      (1L, ok),                                            // passes all
      (2L, "too few words here"),                          // word-count floor
      (3L, (1 to 60).map(_ => "a").mkString(" ")),         // mean len < 3
      (4L, (1 to 60).map(i => s"w$i ###").mkString(" ")),  // symbol ratio
      (5L, (1 to 60).map(i => s"- bullet $i").mkString("\n")), // bullets > 90%
      (6L, (1 to 60).map(i => s"line $i word ...").mkString("\n")), // ellipses
      (7L, (1 to 60).map(i => s"$i$i$i").mkString(" ")),   // alpha words < 80%
      (8L, ""),                                            // empty
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, minWords = 20).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("passes")).toMap
    assert(out == Map(1L -> 1L, 2L -> 0L, 3L -> 0L, 4L -> 0L,
      5L -> 0L, 6L -> 0L, 7L -> 0L, 8L -> 0L))
    // signal integers exposed for audit, not just the flag
    val row = TextAnalysis.gopherRules(docs, minWords = 20)
      .filter($"doc_id" === 1L).collect()(0)
    assert(row.getAs[Long]("n_words") == 60)
    assert(row.getAs[Long]("alpha_words") == 60)
    assert(row.getAs[Long]("n_lines") == 1)
  }

  test("bpeApply: frozen merges tokenize per learned order; piece counts hand-checked") {
    val df = Seq((1L, "aaab aaab banana")).toDF("doc_id", "text")
    val merges = Seq(("a", "a"), ("a", "b"), ("a", "n"), ("aa", "ab"), ("an", "a"))
    val out = TextAnalysis.bpeApply(df, merges)
      .select("doc_id", "n_words", "n_pieces").collect()(0)
    // aaab → [aaab] (1 piece, via aa+ab then aaab); banana → [b, an, ana]
    assert((out.getLong(1), out.getLong(2)) == ((3L, 5L)))
    // no merges = character tokenization
    val none = TextAnalysis.bpeApply(df, Nil)
      .select("n_pieces").collect()(0).getLong(0)
    assert(none == 4 + 4 + 6)
    // non-\w symbols are rejected (they would break the regex-free
    // delimiter scheme)
    intercept[IllegalArgumentException] {
      TextAnalysis.bpeApply(df, Seq(("a", "|")))
    }
  }
}

class SamplingSpec extends SparkSpecBase {
  import spark.implicits._
  import graft.northstar.Sampling

  val docs = (0L until 2000L).map(i =>
    (i, if (i % 2 == 0) "en" else "de")).toDF("doc_id", "lang")

  test("deterministic: same rows on repeated runs, rate approximately honored") {
    val s1 = Sampling.stratifiedSample(docs, "lang", Map("en" -> 0.5), 0.1)
      .collect().map(_.getLong(0)).toSet
    val s2 = Sampling.stratifiedSample(docs, "lang", Map("en" -> 0.5), 0.1)
      .collect().map(_.getLong(0)).toSet
    assert(s1 == s2)
    val en = s1.count(_ % 2 == 0); val de = s1.count(_ % 2 != 0)
    assert(math.abs(en - 500) < 75, s"en kept $en of 1000 at rate 0.5")
    assert(math.abs(de - 100) < 50, s"de kept $de of 1000 at rate 0.1")
  }

  test("assignSplit: exhaustive, deterministic, approximately weighted") {
    val s1 = Sampling.assignSplit(docs,
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val s2 = Sampling.assignSplit(docs,
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(s1 == s2 && s1.size == 2000)      // every row, same split each run
    val counts = s1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(math.abs(counts("train") - 1800) < 120, counts.toString)
    assert(math.abs(counts("val") - 100) < 60, counts.toString)
  }

  test("hashUnit: negative and string ids sample at the rate, not degenerately") {
    // code-review r13: sign-preserving % put negative ids' unit in
    // (-1,0) — every Bernoulli sampler kept them unconditionally and
    // assignSplit routed them all into the first split; non-numeric
    // string ids cast to null and were silently dropped entirely
    val negDocs = docs.select((-$"doc_id" - 1).as("doc_id"), $"lang")
    val kept = Sampling.stratifiedSample(negDocs, "lang",
      Map.empty, defaultRate = 0.3).count()
    assert(kept > 300 && kept < 900,
      s"negative ids must sample at ~30%, kept $kept of 2000")
    val neg = Sampling.assignSplit(negDocs,
        Seq("train" -> 0.5, "val" -> 0.5))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(neg.keySet == Set("train", "val") &&
      neg.values.forall(n => n > 700 && n < 1300), neg.toString)
    val strDocs = docs.select(concat(lit("doc://"),
      $"doc_id".cast("string")).as("doc_id"), $"lang")
    val keptStr = Sampling.stratifiedSample(strDocs, "lang",
      Map.empty, defaultRate = 0.3).count()
    assert(keptStr > 300 && keptStr < 900,
      s"string ids must sample at ~30%, kept $keptStr of 2000")
    // deterministic across runs for both id shapes
    assert(Sampling.stratifiedSample(strDocs, "lang", Map.empty, 0.3)
      .count() == keptStr)
  }

  test("monotone rates: raising a stratum's rate only adds rows") {
    val low = Sampling.stratifiedSample(docs, "lang", Map("en" -> 0.2), 0.1)
      .collect().map(_.getLong(0)).toSet
    val high = Sampling.stratifiedSample(docs, "lang", Map("en" -> 0.6), 0.1)
      .collect().map(_.getLong(0)).toSet
    assert(low.subsetOf(high))
  }

  // 1500 en : 500 de — at alpha=0.5 the de (smallest) stratum keeps all
  // rows and en thins at sqrt(500/1500) ≈ 0.577
  val skewed = (0L until 2000L).map(i =>
    (i, if (i % 4 == 3) "de" else "en")).toDF("doc_id", "lang")

  test("temperatureSample: smallest stratum keeps everything, larger thins toward sqrt ratio") {
    val kept = Sampling.temperatureSample(skewed, "lang")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val de = kept.count(_._2 == "de"); val en = kept.count(_._2 == "en")
    assert(de == 500, s"smallest stratum must keep all rows, kept $de of 500")
    assert(math.abs(en - 866) < 100, s"en kept $en, expected ~1500*sqrt(1/3)=866")
    assert(kept.map(_._1).distinct.length == kept.length)
  }

  test("temperatureSample: alpha=1 is the identity (natural distribution)") {
    assert(Sampling.temperatureSample(skewed, "lang", alpha = 1.0).count() == 2000)
  }

  test("temperatureSample: deterministic and schema-preserving") {
    val a = Sampling.temperatureSample(skewed, "lang").collect().map(_.getLong(0)).toSet
    val b = Sampling.temperatureSample(skewed.repartition(7), "lang")
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
    assert(Sampling.temperatureSample(skewed, "lang").columns.toSeq ==
      Seq("doc_id", "lang"))
  }

  test("temperatureSample: single stratum is the identity (rate 1 everywhere)") {
    val one = (0L until 100L).map((_, "en")).toDF("doc_id", "lang")
    assert(Sampling.temperatureSample(one, "lang").count() == 100)
  }

  test("quantileFloor: single distinct value drops everything (threshold ties)") {
    val same = Seq.fill(5)(42L).toDF("v")
    assert(Sampling.quantileFloor(same, "v").count() == 0)
  }

  test("quantileFloor: matches the scala reference on seeded random multisets") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 8) {
      val n = 1 + rnd.nextInt(200)
      val vals = Seq.fill(n)(rnd.nextInt(20).toLong)
      val num = 1 + rnd.nextInt(10); val den = 10
      // reference: threshold = k-th smallest (k = ceil(n*num/den)),
      // keep strictly above it
      val k = ((n.toLong * num + den - 1) / den).toInt
      val thr = vals.sorted.apply(k - 1)
      val expected = vals.filter(_ > thr).sorted
      val got = Sampling.quantileFloor(vals.toDF("v"), "v", num, den)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == expected, s"n=$n num=$num: got $got expected $expected")
    }
  }

  test("quantileFloor: drops the bottom num/den by value, k-th-smallest threshold, ties all dropped") {
    val vals = (1L to 10L).toDF("v")
    // n=10, k=ceil(10/10)=1 → thr=1 → keep 2..10
    assert(Sampling.quantileFloor(vals, "v").collect().map(_.getLong(0)).sorted
      .toSeq == (2L to 10L))
    // 3/10 → k=3 → thr=3 → keep 4..10
    assert(Sampling.quantileFloor(vals, "v", 3, 10).collect()
      .map(_.getLong(0)).sorted.toSeq == (4L to 10L))
    // ties at the threshold are all dropped: [1,1,1,2], k=1, thr=1 → [2]
    val ties = Seq(1L, 1L, 1L, 2L).toDF("v")
    assert(Sampling.quantileFloor(ties, "v").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    // num=den drops everything (thr = max value)
    assert(Sampling.quantileFloor(vals, "v", 10, 10).count() == 0)
  }

  test("quantileCuts: matches the k-th-smallest reference on seeded random multisets") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 8) {
      val n = 1 + rnd.nextInt(200)
      val b = 2 + rnd.nextInt(6)
      val vals = Seq.fill(n)(rnd.nextInt(15).toLong)
      val sorted = vals.sorted
      // reference: cut_k = k-th smallest with k = ceil(n*k/b)
      val expect = (1 until b).map { k =>
        sorted(((n.toLong * k + b - 1) / b).toInt - 1)
      }
      val got = Sampling.quantileCuts(vals.toDF("v"), "v", b)
        .collect()(0).getSeq[Long](0)
      assert(got == expect, s"n=$n b=$b: got $got expect $expect")
    }
  }

  test("mixturePlan: targets, capped rates, deficits hand-checked; absent source alarms") {
    val corpus = ((1L to 10L).map(i => (i, "s1", "w w")) ++
        (11L to 15L).map(i => (i, "s2", "w")))
      .toDF("doc_id", "source", "text")
    val out = Sampling.mixturePlan(corpus,
        Map("s1" -> 1L, "s2" -> 1L, "s3" -> 2L), budgetTokens = 40L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7)))).toMap
    // s1: 20 tokens, target 10 → rate 0.5, expected 10, no deficit
    assert(out("s1") == ((10L, 20L, 10L, 500000L, 10L, 0L)))
    // s2: 5 tokens can't supply target 10 → rate capped at 1, deficit 5
    assert(out("s2") == ((5L, 5L, 10L, 1000000L, 5L, 5L)))
    // s3 declared but absent from the corpus: full deficit
    assert(out("s3") == ((0L, 0L, 20L, 0L, 0L, 20L)))
    // executing the plan: feeding rate_e6/1e6 to stratifiedSample admits
    // ~expected tokens for the in-corpus sources
    val kept = Sampling.stratifiedSample(corpus, "source",
      Map("s1" -> 0.5, "s2" -> 1.0), 0.0)
    assert(kept.filter($"source" === "s2").count() == 5)
  }

  test("quantileCuts: every cut agrees with quantileThresholdFrame; one histogram pass") {
    val vals = (1L to 10L).toDF("v")
    val cuts = Sampling.quantileCuts(vals, "v", 4).collect()(0)
      .getSeq[Long](0)
    // quartile cuts of 1..10: k=ceil(10k/4)-th smallest = 3, 5, 8
    assert(cuts == Seq(3L, 5L, 8L))
    for ((c, k) <- cuts.zipWithIndex) {
      val single = Sampling.quantileThresholdFrame(vals, "v", k + 1, 4)
        .collect()(0).getLong(0)
      assert(c == single, s"cut ${k + 1}/4: array $c vs single $single")
    }
    // bucket = count(cuts < x): 1..3→0, 4..5→1, 6..8→2, 9..10→3
    val bucketOf = (x: Long) => cuts.count(_ < x)
    assert((1L to 10L).map(bucketOf) ==
      Seq(0, 0, 0, 1, 1, 2, 2, 2, 3, 3))
    // a value spanning multiple bands yields DUPLICATE cuts, so higher
    // values skip the swallowed bucket (9x42 + one 100: all three cuts
    // are 42, 100 lands in bucket 3, the 42s in bucket 0)
    val skew = (Seq.fill(9)(42L) :+ 100L).toDF("v")
    val dcuts = Sampling.quantileCuts(skew, "v", 4).collect()(0)
      .getSeq[Long](0)
    assert(dcuts == Seq(42L, 42L, 42L))
    // deterministic under repartition
    assert(Sampling.quantileCuts(vals.repartition(7), "v", 4).collect()(0)
      .getSeq[Long](0) == Seq(3L, 5L, 8L))
    // double-typed value columns keep fractional cuts intact (the
    // pre-r9 cast("long") silently truncated them)
    val dbl = Seq(0.5, 1.5, 2.5, 3.5).toDF("v")
    assert(Sampling.quantileCuts(dbl, "v", 4).collect()(0)
      .getSeq[Double](0) == Seq(0.5, 1.5, 2.5))
  }

  test("epochShuffle: a true permutation — pos is 1..n within each bucket, every row coordinated") {
    val out = Sampling.epochShuffle(docs, nBuckets = 8, seed = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(out.length == 2000)
    assert(out.map(_._1).distinct.length == 2000)
    out.groupBy(_._2).foreach { case (b, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"bucket $b pos sequence broken")
    }
  }

  test("epochShuffle: stable across partitioning, reordered by seed") {
    def coords(df: org.apache.spark.sql.DataFrame, seed: Long) =
      Sampling.epochShuffle(df, nBuckets = 4, seed = seed)
        .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val a = coords(docs, 1); val b = coords(docs.repartition(13), 1)
    assert(a == b, "same seed must give the same coordinates on any layout")
    val c = coords(docs, 2)
    assert(a != c, "different seeds must permute differently")
  }
}

class CurationSpec extends SparkSpecBase {
  import spark.implicits._
  import graft.northstar.Curation

  test("parseConfig: full and empty forms") {
    val cfg = Curation.parseConfig(
      """{"min_quality": 0.5, "langs": ["en","de"], "length_floor": "3/10",
        |"temperature_alpha": 0.5, "budget_per_lang": 2000}""".stripMargin)
    assert(cfg.minQuality.contains(0.5))
    assert(cfg.langs.contains(Seq("en", "de")))
    assert((cfg.lengthFloorNum, cfg.lengthFloorDen) == (Some(3L), Some(10L)))
    assert(cfg.temperatureAlpha.contains(0.5))
    assert(cfg.budgetPerLang.contains(2000L))
    val empty = Curation.parseConfig("{}")
    assert(empty == Curation.CurationConfig())
    // an explicit empty langs array means "no filter", NOT Some(Nil) —
    // zero-arg isin() is false for every row and would silently drop
    // the whole corpus (code-review r13)
    assert(Curation.parseConfig("""{"langs": []}""").langs.isEmpty)
    // a typoed key must refuse, not silently disable its gate
    val e = intercept[IllegalArgumentException] {
      Curation.parseConfig("""{"min_qualty": 0.9}""")
    }
    assert(e.getMessage.contains("min_qualty"), e.getMessage)
    // malformed scalars must refuse, not Jackson-coerce to 0: a "3k"
    // budget silently dropped the whole corpus, a "strict" min_quality
    // silently disabled the gate (code-review r14)
    assert(intercept[IllegalArgumentException] {
      Curation.parseConfig("""{"budget_per_lang": "3k"}""")
    }.getMessage.contains("budget_per_lang"))
    assert(intercept[IllegalArgumentException] {
      Curation.parseConfig("""{"min_quality": "strict"}""")
    }.getMessage.contains("min_quality"))
    assert(intercept[IllegalArgumentException] {
      Curation.parseConfig("""{"budget_per_lang": 0}""")
    }.getMessage.contains("positive"))
    assert(intercept[IllegalArgumentException] {
      Curation.parseAssetConfig("""{"max_width": "4k"}""")
    }.getMessage.contains("max_width"))
  }

  test("boundary refusals: degenerate split weights, short bm25 terms; capitalized terms normalize") {
    import org.apache.spark.sql.functions.col
    // all-zero weights silently routed 100% into the LAST split
    assert(intercept[IllegalArgumentException] {
      Sampling.assignSplit(docs,
        Seq("train" -> 0.0, "val" -> 0.0, "test" -> 0.0))
    }.getMessage.contains("sum > 0"))
    // a query term shorter than minTermLen can never match a token
    assert(intercept[IllegalArgumentException] {
      TextAnalysis.bm25(docs, Seq("ai"))
    }.getMessage.contains("minTermLen"))
    // a capitalized term matches the lower-cased token stream instead
    // of silently scoring nothing
    val lo = TextAnalysis.bm25(docs, Seq("the")).collect().map(_.toSeq).toSet
    val hi = TextAnalysis.bm25(docs, Seq("The")).collect().map(_.toSeq).toSet
    assert(lo == hi && lo.nonEmpty)
  }

  private val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  test("empty config is the identity selection") {
    val out = Curation.run(docs, Curation.CurationConfig())
    assert(out.count() == docs.count())
    assert(out.columns.toSeq == Seq("doc_id", "lang", "n_tokens", "q_e4"))
  }

  test("stages compose: gates enforced, budget bounded, deterministic rerun") {
    val cfg = Curation.parseConfig(
      """{"min_quality": 0.5, "langs": ["en","de"], "length_floor": "1/10",
        |"temperature_alpha": 0.5, "budget_per_lang": 1000}""".stripMargin)
    val out = Curation.run(docs, cfg).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    assert(out.forall(_._4 >= 5000), "quality gate: q_e4 >= 5000")
    assert(out.map(_._2).toSet.subsetOf(Set("en", "de")), "language gate")
    // budget: per-lang tokens minus the (admitted) boundary doc stay
    // under the budget — greedy fill admits the doc that crosses it
    out.groupBy(_._2).foreach { case (lang, rows) =>
      val toks = rows.map(_._3).sum
      assert(toks - rows.map(_._3).max < 1000,
        s"$lang cumulative-before must be < budget, total $toks")
    }
    val again = Curation.run(docs, cfg).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet == again.toSet)
  }

  test("sourceCap: per-source cap enforced, longest-first with doc_id tiebreak") {
    val df = Seq(
      (1L, "s1", 10L), (2L, "s1", 20L), (3L, "s1", 20L), (4L, "s1", 5L),
      (5L, "s2", 7L),
    ).toDF("doc_id", "source", "n_chars")
    val out = Curation.sourceCap(df, cap = 2).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    // s1 keeps the two longest (20,20) with doc_id breaking the tie; s2 all
    assert(out == Set(2L, 3L, 5L))
    // cap respected on the real table, deterministic rerun
    val capped = Curation.sourceCap(docs, cap = 3)
    val bySrc = capped.groupBy("source").count().collect()
      .map(_.getLong(1))
    assert(bySrc.forall(_ <= 3))
    assert(capped.collect().map(_.getLong(0)).toSet ==
      Curation.sourceCap(docs, cap = 3).collect().map(_.getLong(0)).toSet)
  }

  test("sourceCap: a caller's own __rk column is neither overwritten nor dropped") {
    val df = Seq(
      (1L, "s1", 10L, 7L), (2L, "s1", 20L, 8L), (3L, "s2", 5L, 9L),
    ).toDF("doc_id", "source", "n_chars", "__rk")
    val out = Curation.sourceCap(df, cap = 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("__rk")).toMap
    assert(out == Map(2L -> 8L, 3L -> 9L))
  }

  // every single-stage config, the full config, and the full config
  // without its budget (the one a frozen policy can serve)
  private val stageConfigs = Seq(
    """{"min_quality": 0.5}""", """{"langs": ["en","de"]}""",
    """{"length_floor": "1/10"}""", """{"temperature_alpha": 0.5}""",
    """{"budget_per_lang": 1000}""",
    """{"min_quality": 0.5, "langs": ["en","de"], "length_floor": "1/10",
      |"temperature_alpha": 0.5, "budget_per_lang": 1000}""".stripMargin,
    """{"min_quality": 0.5, "langs": ["en","de","fr","es"],
      |"length_floor": "1/10", "temperature_alpha": 0.5}""".stripMargin)
    .map(Curation.parseConfig)

  // 20 quality documents: six 10-token ones tie at the length floor
  // (k = ceil(20/10) = 2 lands on 10, so all six go), and four carry a
  // null language; plus two all-'z' documents the quality gate drops
  private lazy val edgeDocs = {
    val line = "the and of to in is it that for with"
    val langs = Seq("en", "de", null, "en", "fr")
    ((1 to 20).map { i =>
      (i.toLong, Seq.fill(if (i <= 6) 1 else i)(line).mkString(" "),
        langs(i % langs.size))
    } ++ Seq((21L, "z z", "en"), (22L, "z z", null: String)))
      .toDF("doc_id", "text", "lang")
  }

  private def curationInputs = Seq("sf0.001" -> docs, "edge" -> edgeDocs,
    "empty" -> docs.limit(0))

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  test("funnel: stage counts are monotone non-increasing and match run()'s output") {
    for ((name, in) <- curationInputs; cfg <- stageConfigs) {
      val row = Curation.funnel(in, cfg).collect()(0)
      val ns = Seq("n_input", "n_gated", "n_floored", "n_sampled", "n_selected")
        .map(n => row.getLong(row.fieldIndex(n)))
      assert(ns == ns.sorted.reverse, s"$name $cfg: stage counts must not increase: $ns")
      assert(ns.head == in.count(), s"$name $cfg")
      val out = Curation.run(in, cfg).collect()
      assert(ns.last == out.length, s"$name $cfg: n_selected vs run")
      assert(row.getLong(row.fieldIndex("tok_selected")) == out.map(_.getLong(2)).sum,
        s"$name $cfg: tok_selected vs run")
    }
  }

  test("freeze/serve reproduces the batch pipeline exactly (budget stage excluded by design)") {
    val cfg = Curation.parseConfig(
      """{"min_quality": 0.5, "langs": ["en","de","fr","es"],
        |"length_floor": "1/10", "temperature_alpha": 0.5}""".stripMargin)
    val frozen = Curation.freeze(docs, cfg)
    assert(frozen.lengthThreshold.nonEmpty && frozen.rates.nonEmpty)
    // every frozen rate is a valid Bernoulli rate with max 1 (smallest
    // stratum keeps everything)
    val rates = frozen.rates.get
    assert(rates.values.forall(r => r > 0 && r <= 1.0))
    assert(rates.values.max == 1.0)
    val served = Curation.serve(docs, frozen).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = Curation.run(docs, cfg).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(served == batch && batch.nonEmpty)
    for ((name, in) <- curationInputs; c <- stageConfigs
         if c.budgetPerLang.isEmpty) {
      val kept = ids(Curation.run(in, c))
      assert(ids(Curation.serve(in, Curation.freeze(in, c))) == kept,
        s"$name $c")
      if (name == "empty") assert(kept.isEmpty)
      else assert(kept.nonEmpty, s"$name $c keeps nothing")
    }
    // the edge fixture: the tie at the floor goes whole (null-language
    // rows 7, 12 and 17 stay), and null languages pass the quality gate
    // but never the temperature stage
    val floorOnly = Curation.CurationConfig(lengthFloorNum = Some(1L),
      lengthFloorDen = Some(10L))
    assert(Curation.freeze(edgeDocs.filter("doc_id <= 20"), floorOnly)
      .lengthThreshold.contains(10L))
    assert(ids(Curation.run(edgeDocs.filter("doc_id <= 20"), floorOnly))
      == (7L to 20L).toSet)
    val nullLang = edgeDocs.filter("lang IS NULL").collect().map(_.getLong(0)).toSet
    assert(nullLang.size == 5)
    val tempered = ids(Curation.run(edgeDocs,
      Curation.CurationConfig(temperatureAlpha = Some(0.5))))
    assert(tempered.nonEmpty && tempered.intersect(nullLang).isEmpty)
    assert((nullLang - 22L).subsetOf(ids(Curation.run(edgeDocs,
      Curation.CurationConfig(minQuality = Some(0.5))))))
  }

  test("serve drops languages absent from the frozen rates") {
    val frozen = Curation.FrozenCuration(None, None, None,
      Some(Map("en" -> 1.0)))
    val out = Curation.serve(docs, frozen).collect().map(_.getString(1)).toSet
    assert(out == Set("en"))
  }

  test("length floor derives from the gated survivors, not the raw corpus") {
    // all-'z' docs fail the quality gate (mean token length 2 < 3, no
    // stopwords); among the 23 gated survivors
    // k = ceil(23/10) = 3, so the floor lands exactly on the three
    // 10-token docs — they are dropped even though raw-corpus
    // percentiles (41 docs, k=5) would put the threshold elsewhere
    val fixture = (
      (1L to 20L).map(i => (i, "the and of to in is it that for with " * 5, "en")) ++
      (21L to 23L).map(i => (i, "the and of to in is it that for with", "en")) ++
      (24L to 41L).map(i => (i, "z " * 2, "en"))
    ).toDF("doc_id", "text", "lang")
    val cfg = Curation.CurationConfig(minQuality = Some(0.5),
      lengthFloorNum = Some(1L), lengthFloorDen = Some(10L))
    val kept = Curation.run(fixture, cfg).collect().map(_.getLong(0)).toSet
    assert(!kept.exists(id => id >= 24L), "low-quality docs gated out")
    assert(Set(21L, 22L, 23L).forall(!kept.contains(_)),
      "shortest decile of the GATED set dropped")
    assert(kept == (1L to 20L).toSet)
  }
}

class DecontamSpec extends SparkSpecBase {
  import spark.implicits._

  test("benchmarkOverlap counts distinct shared 3-grams; clean docs report 0") {
    val benchmark = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma xylophone"),     // shares gram "alpha beta gamma"
      (2L, "beta gamma delta epsilon zeta"),  // shares gram "beta gamma delta"
      (3L, "alpha beta gamma delta"),         // shares both grams
      (4L, "totally unrelated words only"),   // clean
    ).toDF("doc_id", "text")
    val out = graft.northstar.Dedup.benchmarkOverlap(corpus, benchmark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 0L))
  }

  test("bloom decontamination: no false negatives vs exact, deterministic, key-encoding pinned") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val bench = docs.filter($"doc_id" % 97 === 0)
    val corpus = docs.filter($"doc_id" % 97 =!= 0)
    val bloom = graft.northstar.Dedup.benchmarkBloom(bench)
    val byBloom = graft.northstar.Dedup.decontaminateBloom(corpus, bloom)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Int]("bloom_gram_hits")).toMap
    val byExact = graft.northstar.Dedup.benchmarkOverlap(corpus, bench)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byBloom.keySet == byExact.keySet)
    // one-sided error: every exact hit must be a bloom hit (a false
    // negative here means build/probe key encodings diverged)
    byExact.foreach { case (id, exactHits) =>
      assert(byBloom(id) >= exactHits,
        s"doc $id: bloom=${byBloom(id)} < exact=$exactHits — false negative")
    }
    // quality: at 1% fpp, clean docs stay overwhelmingly clean
    val clean = byExact.collect { case (id, 0L) => id }
    val falsePos = clean.count(id => byBloom(id) > 0)
    assert(falsePos <= math.max(2, clean.size / 20),
      s"$falsePos of ${clean.size} clean docs false-flagged")
    // deterministic: same frozen artifact → identical screen
    val again = graft.northstar.Dedup.decontaminateBloom(corpus, bloom)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Int]("bloom_gram_hits")).toMap
    assert(byBloom == again)
  }

  test("benchmarkBloom: undersized expectedGrams fails loudly instead of silently degrading fpp") {
    val bench = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(50)
    val e = intercept[IllegalArgumentException] {
      graft.northstar.Dedup.benchmarkBloom(bench, expectedGrams = 10L)
    }
    assert(e.getMessage.contains("expectedGrams"))
  }
}

class MultimodalSpec extends SparkSpecBase {
  import spark.implicits._

  val docs = Seq((1L, "hello multimodal world", "web"),
                 (2L, "", "crawl")).toDF("doc_id", "text", "source")
  def assets = Multimodal.toAssets(docs, "doc_id", "text", "image", "source")

  test("toAssets: schema matches the declared asset schema") {
    assert(assets.schema == Multimodal.assetSchema)
    val r = assets.filter($"asset_id" === 1L).collect()(0)
    assert(r.getAs[org.apache.spark.sql.Row]("meta").getAs[Long]("n_bytes") == 22L)
  }

  test("decodeAssets: deterministic stub decode, feature dim fixed, empty payload handled") {
    val d1 = Multimodal.decodeAssets(assets).collect()
      .map(r => r.getAs[Long]("asset_id") -> r).toMap
    val d2 = Multimodal.decodeAssets(assets).collect()
      .map(r => r.getAs[Long]("asset_id") -> r).toMap
    def feats(r: org.apache.spark.sql.Row) =
      r.getAs[scala.collection.Seq[Float]]("features").toSeq
    assert(feats(d1(1L)) == feats(d2(1L)))
    assert(feats(d1(1L)).size == Multimodal.StubCodec.FeatureDim)
    assert(d1(2L).getAs[String]("format") == "empty")
    assert(d1(1L).getAs[Int]("width") >= 16)
  }

  test("asset curation gates: formats + dim bounds over decoded metadata; config boundary refuses bad shapes") {
    import graft.northstar.Curation
    val df = Seq(
      (1L, Multimodal.syntheticPng(1L)),   // png 16x16
      (2L, Multimodal.syntheticMp4(2L)),   // mp4 320x240
      (3L, Multimodal.syntheticMkv(3L)),   // mkv 640x360
      (4L, Multimodal.syntheticFlac(4L)),  // flac 441000 samples x 2ch
      (5L, "just text".getBytes("UTF-8"))  // stub
    ).toDF("asset_id", "payload")
    val decoded = Multimodal.decodeAssets(df)
    // every gate bites something: formats drops the stub, min_width the
    // png, max_width the flac — mp4 + mkv survive
    val got = Curation.curateAssets(decoded, Curation.parseAssetConfig(
      """{"formats": ["png","mp4","mkv","flac"], "min_width": 300,
        | "max_width": 100000, "min_height": 100}""".stripMargin))
      .select("asset_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(2L, 3L))
    // the audio duration gate IS the width bound at a known sample
    // rate: >= 5 s at 44.1 kHz = min_width 220500 (fixture is 10 s)
    assert(Curation.curateAssets(decoded, Curation.parseAssetConfig(
      """{"formats": ["flac"], "min_width": 220500}"""))
      .select("asset_id").collect().map(_.getLong(0)).toSeq == Seq(4L))
    assert(Curation.curateAssets(decoded, Curation.parseAssetConfig(
      """{"formats": ["flac"], "min_width": 441001}""")).count() == 0)
    // JSON null reads as absent; empty formats array = no format gate
    assert(Curation.curateAssets(decoded, Curation.parseAssetConfig(
      """{"formats": [], "min_width": null}""")).count() == 5)
    // a typoed key must refuse, not silently disable its gate
    assert(intercept[IllegalArgumentException] {
      Curation.parseAssetConfig("""{"min_witdh": 3}""")
    }.getMessage.contains("unknown"))
    assert(intercept[IllegalArgumentException] {
      Curation.parseAssetConfig("""{"formats": "png"}""")
    }.getMessage.contains("array"))
  }

  test("image payloads decode for real: true dims, format, luminance gradient") {
    import java.awt.image.BufferedImage
    def encode(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      // left-to-right black→white gradient → ascending stripe features
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 255) / math.max(1, w - 1)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos))
      bos.toByteArray
    }
    val df = Seq(
      (10L, encode("png", 32, 16)),
      (11L, encode("bmp", 20, 10)),
      (12L, "definitely not an image".getBytes("UTF-8"))
    ).toDF("asset_id", "payload")
      .selectExpr("asset_id", "'image' as modality", "payload",
        "named_struct('n_bytes', cast(length(payload) as long), 'source', 'test') as meta")
    val out = Multimodal.decodeAssets(df).collect()
      .map(r => r.getAs[Long]("asset_id") -> r).toMap
    assert(out(10L).getAs[Int]("width") == 32 && out(10L).getAs[Int]("height") == 16)
    assert(out(10L).getAs[String]("format") == "png")
    assert(out(11L).getAs[Int]("width") == 20 && out(11L).getAs[Int]("height") == 10)
    assert(out(11L).getAs[String]("format") == "bmp")
    val feats = out(10L).getAs[scala.collection.Seq[Float]]("features")
    assert(feats.size == Multimodal.StubCodec.FeatureDim)
    assert(feats.head < 0.2f && feats.last > 0.8f, s"gradient not seen: $feats")
    assert(feats.sliding(2).forall(p => p(0) <= p(1)), s"not ascending: $feats")
    // non-image payload falls back to the deterministic stub
    assert(out(12L).getAs[String]("format") == "stub")
  }

  test("perceptualHash: closed-form dHash on the pattern fixture, " +
       "scale-invariant, flip = Hamming <= 1 (VERDICT r18 task 7)") {
    // the oracle's premise: the REAL pipeline (PNG encode → ImageIO
    // decode → luminance → 9×8 grid → dHash) reproduces pure md5-bit
    // arithmetic — the same closed form the DuckDB ns_imagedup_hamming
    // oracle spells in SQL
    def closedForm(id: Long): Long = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      def bit(k: Int): Int = (md5(k / 8) >> (7 - (k % 8))) & 1
      var fp = 0L
      for (y <- 0 until 8; x <- 0 until 8)
        if (bit(y * 9 + x) > bit(y * 9 + x + 1)) fp |= 1L << (y * 8 + x)
      fp
    }
    for (id <- 0L until 25L) {
      val h1 = Multimodal.ImageCodec.perceptualHash(
        Multimodal.syntheticPatternPng(id)).get
      assert(h1 == closedForm(id), s"id=$id: pipeline != closed form")
      // scale invariance: 4×4 pixel blocks average back to the cells
      val h4 = Multimodal.ImageCodec.perceptualHash(
        Multimodal.syntheticPatternPng(id, scale = 4)).get
      assert(h4 == h1, s"id=$id: dHash must be scale-invariant")
      // the planted perturbation flips at most the j=0 comparison
      val hf = Multimodal.ImageCodec.perceptualHash(
        Multimodal.syntheticPatternPng(id, flipTopLeft = true)).get
      assert(java.lang.Long.bitCount(h1 ^ hf) <= 1, s"id=$id")
    }
    // non-images have no perceptual hash (and don't throw)
    assert(Multimodal.ImageCodec.perceptualHash(
      "definitely not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.ImageCodec.perceptualHash(null).isEmpty)
  }

  test("imageDupPairs == the exact Hamming-threshold join on the " +
       "planted corpus; ingest flavor matches its brute split") {
    val ids = 0L until 40L
    val originals = ids.map(id =>
      (id, Multimodal.syntheticPatternPng(id, scale = 4)))
    val copies = ids.filter(_ % 5 == 0).map(id => (id + 1000L,
        Multimodal.syntheticPatternPng(id, flipTopLeft = true, scale = 4))) ++
      ids.filter(_ % 7 == 0).map(id => (id + 2000L,
        Multimodal.syntheticPatternPng(id, scale = 2)))
    val all = originals ++ copies
    val assets = all.toDF("asset_id", "payload")
    // ground truth: brute-force threshold join over the real hashes
    val fp = all.map { case (id, p) =>
      id -> Multimodal.ImageCodec.perceptualHash(p).get }.toMap
    def ham(a: Long, b: Long): Int =
      java.lang.Long.bitCount(fp(a) ^ fp(b))
    val brute = (for {
      a <- fp.keys; b <- fp.keys
      if a < b && ham(a, b) <= 3
    } yield (a, b, ham(a, b).toLong)).toSet
    val got = Multimodal.imageDupPairs(assets, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue)).toSet
    // chunk-16 banding is COMPLETE for Hamming <= 3 (pigeonhole), and
    // no bucket here approaches the cap — exact equality, both ways
    assert(got == brute, s"got ${got.size} vs brute ${brute.size}")
    assert(brute.exists { case (a, b, h) => b == a + 1000L && h <= 1 }
      && brute.exists { case (a, b, h) => b == a + 2000L && h == 0L },
      "fixture must plant both a near-dup and a scaled exact copy")
    // ingest flavor: incoming copies vs the static original corpus
    val corpusSigs = Multimodal.imageHashes(originals.toDF("asset_id", "payload"))
    val inc = Multimodal.imageDupIncoming(
        copies.toDF("asset_id", "payload"), corpusSigs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue)).toSet
    val bruteInc = (for {
      (a, _) <- copies; (b, _) <- originals
      if ham(a, b) <= 3
    } yield (a, b, ham(a, b).toLong)).toSet
    assert(inc == bruteInc, s"ingest ${inc.size} vs brute ${bruteInc.size}")
  }

  test("robustHash: closed-form on the WAV pattern fixture, " +
       "duration-invariant, flip = Hamming <= 1 (VERDICT r19 task 5)") {
    // the oracle's premise: the REAL pipeline (RIFF parse → PCM →
    // 65-stripe RMS → sign deltas) reproduces pure md5-bit arithmetic
    // — the same closed form the DuckDB ns_audiodup_hamming oracle
    // spells in SQL: hash bit j = bit(j+1) AND NOT bit(j)
    def closedForm(id: Long): Long = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      def bit(k: Int): Int = (md5(k / 8) >> (7 - (k % 8))) & 1
      var fp = 0L
      for (j <- 0 until 64)
        if (bit(j + 1) == 1 && bit(j) == 0) fp |= 1L << j
      fp
    }
    for (id <- 0L until 25L) {
      val h1 = Multimodal.AudioCodec.robustHash(
        Multimodal.syntheticPatternWav(id)).get
      assert(h1 == closedForm(id), s"id=$id: pipeline != closed form")
      // duration invariance: stripe RMS doesn't depend on stripe
      // length, so a half-duration rendering hashes identically —
      // the robustness (resampling/time-scaling) the hash exists for
      val h32 = Multimodal.AudioCodec.robustHash(
        Multimodal.syntheticPatternWav(id, spf = 32)).get
      assert(h32 == h1, s"id=$id: hash must be duration-invariant")
      // the planted perturbation flips stripe 0 — only the j=0
      // comparison can change
      val hf = Multimodal.AudioCodec.robustHash(
        Multimodal.syntheticPatternWav(id, flipFirst = true)).get
      assert(java.lang.Long.bitCount(h1 ^ hf) <= 1, s"id=$id")
    }
    // a constant signal (all stripes equal) has no ascending gradient
    // anywhere: strict > comparisons are all false → 0L
    val silencePcm = new Array[Byte](65 * 8 * 2)
    java.util.Arrays.fill(silencePcm, 0.toByte)
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(silencePcm), fmt,
        silencePcm.length / 2),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    assert(Multimodal.AudioCodec.robustHash(bos.toByteArray).contains(0L))
    // non-audio has no hash (and doesn't throw)
    assert(Multimodal.AudioCodec.robustHash(
      "definitely not audio".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.AudioCodec.robustHash(null).isEmpty)
  }

  test("audioDupPairs == the exact Hamming-threshold join on the " +
       "planted corpus; ingest flavor matches its brute split") {
    val ids = 0L until 40L
    val originals = ids.map(id =>
      (id, Multimodal.syntheticPatternWav(id)))
    val copies = ids.filter(_ % 5 == 0).map(id => (id + 1000L,
        Multimodal.syntheticPatternWav(id, flipFirst = true))) ++
      ids.filter(_ % 7 == 0).map(id => (id + 2000L,
        Multimodal.syntheticPatternWav(id, spf = 32)))
    val all = originals ++ copies
    val assets = all.toDF("asset_id", "payload")
    val fp = all.map { case (id, p) =>
      id -> Multimodal.AudioCodec.robustHash(p).get }.toMap
    def ham(a: Long, b: Long): Int =
      java.lang.Long.bitCount(fp(a) ^ fp(b))
    val brute = (for {
      a <- fp.keys; b <- fp.keys
      if a < b && ham(a, b) <= 3
    } yield (a, b, ham(a, b).toLong)).toSet
    val got = Multimodal.audioDupPairs(assets, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue)).toSet
    assert(got == brute, s"got ${got.size} vs brute ${brute.size}")
    assert(brute.exists { case (a, b, h) => b == a + 1000L && h <= 1 }
      && brute.exists { case (a, b, h) => b == a + 2000L && h == 0L },
      "fixture must plant both a near-dup and a duration-scaled copy")
    val corpusSigs = Multimodal.audioHashes(originals.toDF("asset_id", "payload"))
    val inc = Multimodal.audioDupIncoming(
        copies.toDF("asset_id", "payload"), corpusSigs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue)).toSet
    val bruteInc = (for {
      (a, _) <- copies; (b, _) <- originals
      if ham(a, b) <= 3
    } yield (a, b, ham(a, b).toLong)).toSet
    assert(inc == bruteInc, s"ingest ${inc.size} vs brute ${bruteInc.size}")
  }

  test("hammingPairs64: threshold-selected banding is COMPLETE past " +
       "Hamming 3 (8x8-bit chunks), and refuses maxHamming > 7 " +
       "(VERDICT r19 task 6)") {
    import graft.northstar.Dedup
    // adversarial pair: Hamming 4 with the flipped bits spread across
    // ALL FOUR 16-bit chunks — the old fixed 4x16 banding had no
    // shared chunk and silently dropped it; the 8-bit banding shares
    // chunks 1,3,5,7 and must surface it
    val base = 0x0123456789ABCDEFL
    val ham4 = base ^ ((1L << 0) | (1L << 16) | (1L << 32) | (1L << 48))
    // Hamming 7 spread across seven 8-bit chunks — shares exactly one
    val ham7 = base ^ (0 until 7).map(i => 1L << (8 * i)).reduce(_ | _)
    val sigs = Seq((1L, base), (2L, ham4), (3L, ham7), (4L, ~base))
      .toDF("id", "sig")
    def pairsAt(mh: Int): Set[(Long, Long, Long)] =
      Dedup.hammingPairs64(sigs, maxHamming = mh).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Number](2).longValue)).toSet
    // d(2,3) = |{0,16,32,48} Δ {0,8,16,24,32,40,48}| = 3 rides along
    assert(pairsAt(4) == Set((1L, 2L, 4L), (2L, 3L, 3L)),
      s"got ${pairsAt(4)}")
    assert(pairsAt(7) == Set((1L, 2L, 4L), (1L, 3L, 7L), (2L, 3L, 3L)),
      s"got ${pairsAt(7)}")
    // the ingest flavor rides the same selection
    val inc = Dedup.hammingPairs64Against(
        Seq((10L, ham4)).toDF("id", "sig"),
        Seq((1L, base)).toDF("id", "sig"), maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue)).toSet
    assert(inc == Set((10L, 1L, 4L)))
    // past 7 there is no complete 64-bit banding: refuse loudly
    // instead of returning a silently-partial candidate list
    val e = intercept[IllegalArgumentException] {
      Dedup.hammingPairs64(sigs, maxHamming = 8).collect()
    }
    assert(e.getMessage.contains("maxHamming"), e.getMessage)
  }

  test("wav payloads decode for real: frames, channels, RMS envelope") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val frames = 800
    val pcm = new Array[Byte](frames * 2)
    for (i <- 0 until frames) {
      // amplitude ramps quiet → loud across the clip → ascending RMS stripes
      val amp = (i.toDouble / frames) * 30000
      val s = (math.sin(i * 0.3) * amp).toInt.toShort
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false) // PCM signed, little-endian
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
      AudioFileFormat.Type.WAVE, bos)
    val df = Seq((20L, bos.toByteArray)).toDF("asset_id", "payload")
      .selectExpr("asset_id", "'audio' as modality", "payload",
        "named_struct('n_bytes', cast(length(payload) as long), 'source', 'test') as meta")
    val out = Multimodal.decodeAssets(df).collect()(0)
    assert(out.getAs[String]("format") == "wav")
    assert(out.getAs[Int]("width") == frames && out.getAs[Int]("height") == 1)
    val feats = out.getAs[scala.collection.Seq[Float]]("features")
    assert(feats.head < feats.last && feats.last > 0.3f, s"RMS envelope: $feats")
  }

  test("8-bit WAV decodes: the standard on-disk form is UNSIGNED PCM " +
       "(a signed-only gate stubbed every real 8-bit corpus)") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat,
      AudioInputStream, AudioSystem}
    val frames = 400
    val pcm = new Array[Byte](frames)
    for (i <- 0 until frames) {
      // unsigned 8-bit: silence is 128; ramp quiet → loud
      val amp = (i.toDouble / frames) * 120
      pcm(i) = ((math.sin(i * 0.3) * amp).toInt + 128).toByte
    }
    val fmt = new AudioFormat(8000f, 8, 1, false, false) // PCM unsigned
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
      AudioFileFormat.Type.WAVE, bos)
    val d = Multimodal.AudioCodec.decode(21L, bos.toByteArray)
      .getOrElse(fail("unsigned 8-bit WAV must decode, not stub"))
    assert(d.format == "wav" && d.width == frames && d.height == 1)
    // unsigned bytes recentered at 0: the RMS envelope still ascends
    assert(d.features.head < d.features.last && d.features.last > 0.3f,
      s"RMS envelope: ${d.features.toSeq}")
  }

  test("mp4 payloads decode for real: tkhd dims, mvhd duration, format tag") {
    val p = Multimodal.syntheticMp4(7L, w = 640, h = 360, durationMs = 12345L)
    assert(Multimodal.VideoCodec.looksLikeMp4(p))
    val meta = Multimodal.VideoCodec.parse(p).get
    assert(meta.width == 640 && meta.height == 360)
    assert(meta.durationMs == 12345L)
    // not-mp4 payloads are rejected by the magic screen
    assert(Multimodal.VideoCodec.parse("RIFFxxxxWAVE not mp4".getBytes).isEmpty)
    // truncated container (header only, no moov) parses to None, not a throw
    assert(Multimodal.VideoCodec.parse(p.take(24)).isEmpty)
    // corrupt interior box size must not throw either
    val corrupt = p.clone(); corrupt(24) = 0x7F
    Multimodal.VideoCodec.parse(corrupt) // no exception = pass
    // crafted 64-bit box size near 2^63 (code-review r18): `off + size`
    // overflowed Long, boxEnd took the truncated low 32 bits and moved
    // the cursor BACKWARD — pre-fix this payload looped the box
    // iterator forever (off cycling 0→16→0), hanging the executor task
    val evil = java.nio.ByteBuffer.allocate(40)
    evil.putInt(16).put("ftyp".getBytes("ISO-8859-1"))
      .put(new Array[Byte](8))
    evil.putInt(1).put("moov".getBytes("ISO-8859-1"))
      .putLong(0x7FFFFFFFFFFFFFF0L)
    Multimodal.VideoCodec.parse(evil.array()) // terminates, no throw
  }

  test("mkv payloads decode for real: EBML walk finds pixel dims and scaled duration") {
    val p = Multimodal.syntheticMkv(9L, w = 1280, h = 720, durationMs = 98765L)
    assert(Multimodal.MkvCodec.looksLikeMkv(p))
    val meta = Multimodal.MkvCodec.parse(p).get
    assert(meta.width == 1280 && meta.height == 720)
    assert(meta.durationMs == 98765L)
    // mp4/png/text payloads are rejected by the EBML magic screen — and
    // vice versa, MKV doesn't look like MP4
    assert(Multimodal.MkvCodec.parse(
      Multimodal.syntheticMp4(9L)).isEmpty)
    assert(!Multimodal.VideoCodec.looksLikeMp4(p))
    // truncated container (EBML header only, no Segment) → None, no throw
    assert(Multimodal.MkvCodec.parse(p.take(20)).isEmpty)
    // corrupt interior vint must not throw either
    val corrupt = p.clone(); corrupt(p.length / 2) = 0x00
    Multimodal.MkvCodec.parse(corrupt) // no exception = pass
    // crafted header size of 2^31: .toInt would overflow segOff
    // negative — must bail to None, never index p(negative)
    val overflow = Array[Byte](0x1A, 0x45.toByte, 0xDF.toByte, 0xA3.toByte,
      0x08, 0x80.toByte, 0x00, 0x00, 0x00)
    assert(Multimodal.MkvCodec.parse(overflow).isEmpty)
    // size vint straddling the parent extent: iteration must stop at
    // the boundary, not read the next sibling's bytes
    val straddle = p.clone(); straddle(p.length - 1) = 0xFE.toByte
    Multimodal.MkvCodec.parse(straddle) // no exception = pass
  }

  test("mkv payloads route through decodeAssets with the mkv format tag") {
    val df = Seq(
      (40L, Multimodal.syntheticMkv(40L, w = 640, h = 480, durationMs = 3000L)),
      (41L, Multimodal.syntheticMp4(41L, w = 320, h = 240, durationMs = 2000L))
    ).toDF("asset_id", "payload")
      .selectExpr("asset_id", "'video' as modality", "payload",
        "named_struct('n_bytes', cast(length(payload) as long), 'source', 'test') as meta")
    val out = Multimodal.decodeAssets(df).collect()
      .map(r => r.getAs[Long]("asset_id") -> r).toMap
    assert(out(40L).getAs[String]("format") == "mkv")
    assert(out(40L).getAs[Int]("width") == 640 && out(40L).getAs[Int]("height") == 480)
    assert(out(41L).getAs[String]("format") == "mp4")
  }

  test("mp4 payloads route through decodeAssets as real video metadata") {
    val df = Seq(
      (30L, Multimodal.syntheticMp4(30L, w = 320, h = 240, durationMs = 2000L)),
      (31L, "plain text payload".getBytes("UTF-8"))
    ).toDF("asset_id", "payload")
      .selectExpr("asset_id", "'video' as modality", "payload",
        "named_struct('n_bytes', cast(length(payload) as long), 'source', 'test') as meta")
    val out = Multimodal.decodeAssets(df).collect()
      .map(r => r.getAs[Long]("asset_id") -> r).toMap
    assert(out(30L).getAs[String]("format") == "mp4")
    assert(out(30L).getAs[Int]("width") == 320 && out(30L).getAs[Int]("height") == 240)
    val feats = out(30L).getAs[scala.collection.Seq[Float]]("features")
    assert(feats.size == Multimodal.StubCodec.FeatureDim)
    // deterministic: same payload → same features
    val again = Multimodal.decodeAssets(df).collect()
      .map(r => r.getAs[Long]("asset_id") -> r).toMap
    assert(again(30L).getAs[scala.collection.Seq[Float]]("features").toSeq == feats.toSeq)
    assert(out(31L).getAs[String]("format") == "stub")
  }

  test("version-1 (64-bit) mvhd/tkhd parse: dims and duration from the v1 field layout") {
    // VERDICT r12 task 6: the v0 parse was pinned; v1 boxes (64-bit
    // times/duration, +12-byte payloads) take the other offset branch
    def mp4v1(w: Int, h: Int, durMs: Long): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      def u32(v: Long): Unit = { bos.write(((v >> 24) & 0xFF).toInt)
        bos.write(((v >> 16) & 0xFF).toInt); bos.write(((v >> 8) & 0xFF).toInt)
        bos.write((v & 0xFF).toInt) }
      def u64(v: Long): Unit = { u32(v >>> 32); u32(v & 0xFFFFFFFFL) }
      def fourcc(s: String): Unit = bos.write(s.getBytes("ISO-8859-1"))
      def zeros(n: Int): Unit = (0 until n).foreach(_ => bos.write(0))
      u32(24); fourcc("ftyp"); fourcc("isom"); u32(0); fourcc("isom"); u32(0)
      val mvhdLen = 120; val tkhdLen = 104 // v1: 8 hdr + 112 / + 96 payload
      val trakLen = 8 + tkhdLen; val moovLen = 8 + mvhdLen + trakLen
      u32(moovLen); fourcc("moov")
      u32(mvhdLen); fourcc("mvhd")
      u32(0x01000000)          // version 1
      u64(0); u64(0)           // creation, modification (u64 in v1)
      u32(1000)                // timescale
      u64(durMs)               // duration u64
      u32(0x00010000); zeros(2 + 2 + 8)
      u32(0x00010000); u32(0); u32(0); u32(0); u32(0x00010000); u32(0)
      u32(0); u32(0); u32(0x40000000)
      zeros(24); u32(2)
      u32(trakLen); fourcc("trak")
      u32(tkhdLen); fourcc("tkhd")
      u32(0x01000007)          // version 1, enabled flags
      u64(0); u64(0)           // creation, modification
      u32(1); u32(0)           // track_ID, reserved
      u64(durMs)               // duration u64
      zeros(8); zeros(2 + 2 + 2 + 2)
      u32(0x00010000); u32(0); u32(0); u32(0); u32(0x00010000); u32(0)
      u32(0); u32(0); u32(0x40000000)
      u32(w.toLong << 16); u32(h.toLong << 16)
      bos.toByteArray
    }
    val meta = Multimodal.VideoCodec.parse(mp4v1(1920, 1080, 654321L)).get
    assert(meta.width == 1920 && meta.height == 1080)
    assert(meta.durationMs == 654321L)
  }

  test("fragmented MP4 (moof/mvex, 64-bit box size): moov still yields dims; fragments don't confuse the walk") {
    // fMP4 layout: moov carries mvex + the sized trak but duration 0
    // (real duration lives per-fragment); moof/mdat fragments follow.
    // The mdat uses a size==1 64-bit largesize header — the third box
    // size form next to normal and run-to-EOF.
    def frag(w: Int, h: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      def u32(v: Long): Unit = { bos.write(((v >> 24) & 0xFF).toInt)
        bos.write(((v >> 16) & 0xFF).toInt); bos.write(((v >> 8) & 0xFF).toInt)
        bos.write((v & 0xFF).toInt) }
      def fourcc(s: String): Unit = bos.write(s.getBytes("ISO-8859-1"))
      def zeros(n: Int): Unit = (0 until n).foreach(_ => bos.write(0))
      u32(24); fourcc("ftyp"); fourcc("iso5"); u32(0); fourcc("iso5"); u32(0)
      val mvhdLen = 108; val tkhdLen = 92; val trakLen = 8 + tkhdLen
      val mvexLen = 8 + 32 // trex box
      val moovLen = 8 + mvhdLen + mvexLen + trakLen
      u32(moovLen); fourcc("moov")
      u32(mvhdLen); fourcc("mvhd")
      u32(0); u32(0); u32(0); u32(1000)
      u32(0)                  // duration 0: fragmented
      u32(0x00010000); zeros(2 + 2 + 8)
      u32(0x00010000); u32(0); u32(0); u32(0); u32(0x00010000); u32(0)
      u32(0); u32(0); u32(0x40000000); zeros(24); u32(2)
      u32(mvexLen); fourcc("mvex")
      u32(32); fourcc("trex"); u32(0); u32(1); u32(1); u32(0); u32(0); u32(0)
      u32(trakLen); fourcc("trak")
      u32(tkhdLen); fourcc("tkhd")
      u32(0x00000007); u32(0); u32(0); u32(1); u32(0); u32(0)
      zeros(8); zeros(2 + 2 + 2 + 2)
      u32(0x00010000); u32(0); u32(0); u32(0); u32(0x00010000); u32(0)
      u32(0); u32(0); u32(0x40000000)
      u32(w.toLong << 16); u32(h.toLong << 16)
      // fragment: moof(mfhd) + mdat with 64-bit largesize header
      val moofLen = 8 + 16
      u32(moofLen); fourcc("moof")
      u32(16); fourcc("mfhd"); u32(0); u32(1)
      u32(1); fourcc("mdat")  // size==1 → 64-bit largesize follows
      u32(0); u32(16 + 8)     // largesize: header(16) + 8 payload bytes
      (0 until 8).foreach(i => bos.write(i * 17))
      bos.toByteArray
    }
    val meta = Multimodal.VideoCodec.parse(frag(854, 480)).get
    assert(meta.width == 854 && meta.height == 480)
    assert(meta.durationMs == 0L) // fragmented: moov-level duration absent
  }

  test("MKV with unknown-size elements (streamed form): clamped to EOF, dims and duration still found") {
    // RFC 9559: an all-value-bits-ones size vint means "unknown,
    // extends to end of parent" — the normal shape for live-muxed
    // .mkv. Rebuild the synthetic fixture with an unknown-size Segment
    // AND an unknown-size Tracks child (nested unknown sizes).
    def idBytes(v: Long): Array[Byte] = {
      val n = (64 - java.lang.Long.numberOfLeadingZeros(v) + 7) / 8
      (0 until n).map(i => ((v >> (8 * (n - 1 - i))) & 0xFF).toByte).toArray
    }
    def el(eid: Long, payload: Array[Byte]): Array[Byte] =
      idBytes(eid) ++ Array((0x80 | payload.length).toByte) ++ payload
    def uintP(v: Long): Array[Byte] = {
      val n = math.max(1, (64 - java.lang.Long.numberOfLeadingZeros(v) + 7) / 8)
      (0 until n).map(i => ((v >> (8 * (n - 1 - i))) & 0xFF).toByte).toArray
    }
    def floatP(v: Double): Array[Byte] = {
      val bits = java.lang.Double.doubleToLongBits(v)
      (0 until 8).map(i => ((bits >> (8 * (7 - i))) & 0xFF).toByte).toArray
    }
    val hdr = el(0x1A45DFA3L,
      el(0x4286L, uintP(1)) ++ el(0x42F7L, uintP(1)) ++
      el(0x4282L, "matroska".getBytes("ISO-8859-1")) ++ el(0x4287L, uintP(1)))
    val info = el(0x1549A966L,
      el(0x2AD7B1L, uintP(1000000L)) ++ el(0x4489L, floatP(31416.0)))
    val video = el(0xE0L, el(0xB0L, uintP(720)) ++ el(0xBAL, uintP(576)))
    val track = el(0xAEL, el(0xD7L, uintP(1)) ++ el(0x83L, uintP(1)) ++ video)
    // Tracks with unknown size (0xFF = 1-byte all-ones vint): clamps to
    // the Segment end; it MUST be the last child for the walk to stay
    // spec-shaped (unknown size swallows the rest of the parent)
    val tracksUnknown = idBytes(0x1654AE6BL) ++ Array(0xFF.toByte) ++ track
    // Segment with unknown size: clamps to EOF
    val seg = idBytes(0x18538067L) ++ Array(0xFF.toByte) ++ info ++ tracksUnknown
    val meta = Multimodal.MkvCodec.parse(hdr ++ seg).get
    assert(meta.width == 720 && meta.height == 576)
    assert(meta.durationMs == 31416L)
  }

  test("random and mutated payloads never throw in any codec (fuzz, seeded)") {
    val rnd = new scala.util.Random(42)
    val valid = Seq(
      Multimodal.syntheticMp4(1L), Multimodal.syntheticMkv(2L),
      Multimodal.syntheticPng(3L), Multimodal.syntheticFlac(4L))
    def checkAll(p: Array[Byte]): Unit = {
      Multimodal.VideoCodec.parse(p)
      Multimodal.MkvCodec.parse(p)
      Multimodal.FlacCodec.parse(p)
      Multimodal.ImageCodec.decode(0L, p)
      Multimodal.AudioCodec.decode(0L, p)
      Multimodal.StubCodec.decode(0L, p)
    }
    // pure-random payloads of varied lengths (including the magic bytes
    // of each container so the parse goes past the pre-screen)
    for (_ <- 0 until 150) {
      val len = rnd.nextInt(256)
      val p = Array.fill[Byte](len)(rnd.nextInt().toByte)
      checkAll(p)
      if (len >= 8) {
        val mp4ish = p.clone()
        mp4ish(4) = 'f'; mp4ish(5) = 't'; mp4ish(6) = 'y'; mp4ish(7) = 'p'
        checkAll(mp4ish)
        val mkvish = p.clone()
        mkvish(0) = 0x1A; mkvish(1) = 0x45; mkvish(2) = 0xDF.toByte
        mkvish(3) = 0xA3.toByte
        checkAll(mkvish)
      }
    }
    // byte-flip mutations of VALID containers: the deep-parse paths
    for (v <- valid; _ <- 0 until 100) {
      val m = v.clone()
      m(rnd.nextInt(m.length)) = rnd.nextInt().toByte
      checkAll(m)
    }
    // truncations of valid containers at every interesting boundary
    for (v <- valid; cut <- 0 until math.min(v.length, 64))
      checkAll(v.take(cut))
  }

  test("FLAC STREAMINFO parse: rate/channels/bits/samples from the packed layout") {
    val p = Multimodal.syntheticFlac(7L, sampleRate = 48000, channels = 2,
      bitsPerSample = 24, totalSamples = 96000L)
    val m = Multimodal.FlacCodec.parse(p).get
    assert(m.sampleRate == 48000 && m.channels == 2 &&
      m.bitsPerSample == 24 && m.totalSamples == 96000L)
    assert(m.durationMs == 2000L)
    // a 36-bit sample count survives the packed split across bytes 13-17
    val big = Multimodal.FlacCodec.parse(Multimodal.syntheticFlac(8L,
      totalSamples = (5L << 32) | 123456789L)).get
    assert(big.totalSamples == ((5L << 32) | 123456789L))
    // decode: width = clamped sample count, height = channels
    val d = Multimodal.FlacCodec.decode(7L, p).get
    assert(d.width == 96000 && d.height == 2 && d.format == "flac")
    // cross-magic rejection: the other containers are not FLAC
    assert(Multimodal.FlacCodec.parse(Multimodal.syntheticMp4(1L)).isEmpty)
    assert(Multimodal.FlacCodec.parse("RIFFxxxxWAVE not flac".getBytes).isEmpty)
    // and FLAC is not WAV/MP4/MKV
    assert(Multimodal.AudioCodec.decode(7L, p).isEmpty)
    assert(Multimodal.VideoCodec.parse(p).isEmpty)
    // a payload whose STREAMINFO is not the first block is malformed
    val wrongType = p.clone(); wrongType(4) = (0x80 | 4).toByte
    assert(Multimodal.FlacCodec.parse(wrongType).isEmpty)
    // RFC 9639: sample rate 0 is invalid even with a sample count —
    // zero the 20-bit rate field (bytes 10-11 + high nibble of 12,
    // offset by the 8-byte magic+header)
    val zeroRate = p.clone()
    zeroRate(18) = 0; zeroRate(19) = 0
    zeroRate(20) = (zeroRate(20) & 0x0F).toByte
    assert(Multimodal.FlacCodec.parse(zeroRate).isEmpty)
  }

  test("poolFeatures refuses a factor that is zero or does not divide the feature dim") {
    val decoded = Multimodal.decodeAssets(assets)
    assertThrows[IllegalArgumentException](Multimodal.poolFeatures(decoded, 0))
    assertThrows[IllegalArgumentException](Multimodal.poolFeatures(decoded, 3))
  }

  test("poolFeatures halves the feature grid") {
    val out = Multimodal.poolFeatures(Multimodal.decodeAssets(assets), 2)
    assert(out.collect()(0)
      .getAs[scala.collection.Seq[Float]]("features_pooled").size == 4)
  }

  test("sampleFrames: strided fixed-size chunks, empty payload yields nothing") {
    val df = Seq((1L, Array.fill[Byte](300)(7)), (2L, Array.empty[Byte]))
      .toDF("asset_id", "payload")
    val frames = Multimodal.sampleFrames(df, frameBytes = 64, stride = 2).collect()
    // 300 bytes → frames 0..4 (four full 64B frames + the 44B tail —
    // ceil semantics, the tail is covered), stride 2 → 0, 2, 4
    assert(frames.map(r => (r.getLong(0), r.getInt(1))).toSet ==
      Set((1L, 0), (1L, 2), (1L, 4)))
    assert(frames.forall(_.getAs[Array[Byte]]("frame_bytes").nonEmpty))
    val tail = frames.find(_.getInt(1) == 4).get
    assert(tail.getAs[Array[Byte]]("frame_bytes").length == 44)
    // misconfig fails at plan-build time with the problem named, not
    // as a mid-job ANSI divide-by-zero / sequence step-zero error
    // (code-review r18, the poolFeatures guard's rationale)
    intercept[IllegalArgumentException] {
      Multimodal.sampleFrames(df, frameBytes = 0)
    }
    intercept[IllegalArgumentException] {
      Multimodal.sampleFrames(df, stride = 0)
    }
  }
}
