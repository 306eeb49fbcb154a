package graft

import graft.northstar.{Artifacts, Ivf, Pq, Similarity}
import org.apache.spark.sql.functions.{col, lit, round}

/** Product quantization: codebook fit determinism, encode/ADC kernel
  * identities, and the IVF-PQ exhaustive-equals-brute contract.
  */
class PqSpec extends SparkSpecBase {
  import spark.implicits._

  lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("fitCodebooks is deterministic and shaped [m][ksub][dim/m]") {
    val c1 = Pq.fitCodebooks(emb, m = 8, ksub = 16)
    val c2 = Pq.fitCodebooks(emb, m = 8, ksub = 16)
    assert(c1.map(_.map(_.toSeq).toSeq).toSeq == c2.map(_.map(_.toSeq).toSeq).toSeq)
    assert(c1.length == 8)
    assert(c1.forall(_.length == 16))
    assert(c1.forall(_.forall(_.length == 8)))
  }

  test("fitCodebooks is a pure function of corpus CONTENT — identical " +
       "across partitionings and row orders (VERDICT r18 task 2)") {
    import org.apache.spark.sql.functions.desc
    // replicate so the shared boundedSample path runs with fraction < 1
    val big = (0 until 4).map(i =>
      emb.withColumn("vec_id", col("vec_id") + i * 100000L))
      .reduce(_ unionAll _)
    val a = Pq.fitCodebooks(big.repartition(7), m = 8, ksub = 4)
    val b = Pq.fitCodebooks(
      big.repartition(3).sortWithinPartitions(desc("vec_id")),
      m = 8, ksub = 4)
    assert(a.map(_.map(_.toSeq).toSeq).toSeq ==
      b.map(_.map(_.toSeq).toSeq).toSeq,
      "the codebooks must not depend on physical layout")
  }

  test("subspaces train decorrelated: distinct seeds per subspace") {
    // identical sub-distributions would STILL fit different codebooks
    // because subspace j clusters with seed+j — feed a corpus whose 2
    // subspaces carry the same values and assert the codebooks differ
    val dup = emb.select(col("vec_id"),
      org.apache.spark.sql.functions.expr(
        "concat(slice(embedding, 1, 8), slice(embedding, 1, 8))")
        .as("embedding"))
    val cb = Pq.fitCodebooks(dup, m = 2, ksub = 4)
    assert(cb(0).map(_.toSeq).toSeq != cb(1).map(_.toSeq).toSeq)
  }

  test("fitCodebooks rejects a dim not divisible by m") {
    val e = intercept[IllegalArgumentException] {
      Pq.fitCodebooks(emb, m = 7, ksub = 4)
    }
    assert(e.getMessage.contains("not divisible"))
  }

  test("encode ties break to the lowest code (duplicate sub-centroids)") {
    // a 1-point training set pads lloyd's single center across all ksub
    // slots → every sub-distance ties → every code must be 0
    val one = emb.filter(col("vec_id") === 0)
    val cb = Pq.fitCodebooks(one, m = 8, ksub = 4, sampleFraction = 1.0)
    assert(cb(0).map(_.toSeq).distinct.length == 1)
    val codes = one.select(Pq.encode(col("embedding"), cb).as("c"))
      .collect().head.getSeq[Int](0)
    assert(codes == Seq.fill(8)(0))
  }

  test("ADC cosine equals exact cosine when the codebook reconstructs exactly") {
    // train on the full tiny corpus with ksub >= distinct sub-vectors is
    // not guaranteed; instead hand-build the codebook FROM one vector's
    // own sub-vectors so its reconstruction is the vector itself
    val v = emb.filter(col("vec_id") === 3)
    val raw = v.select("embedding").collect().head.getSeq[Float](0).toArray
    val m = 8; val sub = raw.length / m
    val cb: Array[Array[Array[Float]]] = Array.tabulate(m) { j =>
      Array(java.util.Arrays.copyOfRange(raw, j * sub, (j + 1) * sub))
    }
    val q = emb.filter(col("vec_id") < 20)
    val got = q.select(col("vec_id"),
        Pq.adcCosine(col("embedding"), Pq.encode(
          org.apache.spark.sql.functions.typedLit(raw.toSeq), cb), cb)
          .as("adc"),
        graft.functions.vectors.vec_cosine(col("embedding"),
          org.apache.spark.sql.functions.typedLit(raw.toSeq)).as("exact"))
      .collect()
    got.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2),
        s"vec ${r.getLong(0)}: adc ${r.getDouble(1)} != exact ${r.getDouble(2)}")
    }
  }

  test("exhaustive IVF-PQ (all cells, unbounded rerank) equals brute force rank-exactly") {
    val centroids = Ivf.fitCentroids(emb, nCells = 4)
    val codebooks = Pq.fitCodebooks(emb, m = 8, ksub = 16)
    val q = emb.filter(col("vec_id") < 5)
    val pq = Pq.ivfPqTopK(q, emb, centroids, codebooks,
      k = 10, nProbe = 4, rerank = 1 << 30)
    val brute = Similarity.bruteForceTopK(q, emb, k = 10)
    assert(rows(pq) == rows(brute))
  }

  test("array<double> corpora coerce into the PQ kernels: results identical to the float corpus") {
    // pre-r14 PqEncode/PqAdcCosine declared no input types, so a double
    // embedding column reached getFloat uncast and encoded reinterpreted
    // garbage that PASSED the shape check (numElements unchanged) —
    // recall collapsed silently while the plain IVF path worked
    val centroids = Ivf.fitCentroids(emb, nCells = 4)
    val codebooks = Pq.fitCodebooks(emb, m = 8, ksub = 16)
    val dbl = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val q = emb.filter(col("vec_id") < 5)
    val qDbl = dbl.filter(col("vec_id") < 5)
    val float = Pq.ivfPqTopK(q, emb, centroids, codebooks,
      k = 10, nProbe = 2, rerank = 30)
    val double = Pq.ivfPqTopK(qDbl, dbl, centroids, codebooks,
      k = 10, nProbe = 2, rerank = 30)
    assert(rows(double) == rows(float) && rows(float).nonEmpty)
  }

  test("approximate IVF-PQ keeps recall above the floor and per-query k rows") {
    val centroids = Ivf.fitCentroids(emb, nCells = 4)
    val codebooks = Pq.fitCodebooks(emb, m = 8, ksub = 16)
    val q = emb.filter(col("vec_id") < 10)
    val pq = Pq.ivfPqTopK(q, emb, centroids, codebooks,
      k = 10, nProbe = 2, rerank = 30)
    val counts = pq.groupBy("query_id").count().collect()
    assert(counts.forall(_.getLong(1) <= 10))
    val brute = Similarity.bruteForceTopK(q, emb, k = 10)
    val r = Similarity.recallCounts(pq, brute).collect().head
    val recall = r.getLong(1).toDouble / (r.getLong(0) * 10.0)
    // near-orthogonal synthetic embeddings are ANN's worst case; the
    // floor guards against collapse, not production-grade recall
    assert(recall >= 0.4, s"recall@10 = $recall")
  }

  test("distribution shift: stale-but-valid quantizers stay rank-exact on the exhaustive path; recall delta recorded") {
    // the nightly-staleness scenario (VERDICT r12 task 5): quantizers
    // trained on corpus A remain pinned (same corpus key, params valid)
    // while the QUERY distribution shifts to B. Correctness must be
    // shift-proof — the quantizer only routes, the exact rerank
    // decides — so the exhaustive path (all cells, unbounded rerank)
    // rank-matches brute force even for queries far outside the
    // training cloud.
    val centroids = Ivf.fitCentroids(emb, nCells = 4)
    val codebooks = Pq.fitCodebooks(emb, m = 8, ksub = 16)
    val shifted = emb.filter(col("vec_id") < 10).select(col("vec_id"),
      org.apache.spark.sql.functions.expr(
        "transform(embedding, x -> x + cast(0.5 as float))").as("embedding"))
    val exhaustive = Pq.ivfPqTopK(shifted, emb, centroids, codebooks,
      k = 10, nProbe = 4, rerank = 1 << 30)
    assert(rows(exhaustive) == rows(Similarity.bruteForceTopK(shifted, emb, k = 10)))
    // the APPROXIMATE path degrades gracefully under the same shift,
    // not to zero: same settings as the recall-floor test (nProbe=2,
    // rerank=30), in-distribution vs shifted queries. Both corpora are
    // deterministic, so the recalls are pinned constants; the delta is
    // recorded in COVERAGE.md.
    def recallOf(q: org.apache.spark.sql.DataFrame): Double = {
      val pq = Pq.ivfPqTopK(q, emb, centroids, codebooks,
        k = 10, nProbe = 2, rerank = 30)
      val r = Similarity.recallCounts(pq,
        Similarity.bruteForceTopK(q, emb, k = 10)).collect().head
      r.getLong(1).toDouble / (r.getLong(0) * 10.0)
    }
    val inDist = recallOf(emb.filter(col("vec_id") < 10))
    val outDist = recallOf(shifted)
    // measured 2026-08-14: in-dist 0.51, shifted 0.30 — graceful ~20pt
    // degradation; the floor guards collapse with margin for testdata
    // regeneration
    assert(outDist >= 0.25,
      f"shifted-query recall collapsed: $outDist%.2f (in-dist $inDist%.2f)")
    info(f"recall@10 nProbe=2/4 rerank=30: in-dist $inDist%.2f, shifted $outDist%.2f")
  }

  test("dim-mismatched codebook fails loudly in the kernel, not silently") {
    // fit on 16-dim vectors, encode 64-dim ones: without the shape
    // check the kernel would read misaligned sub-centroids and emit
    // garbage codes with no error
    val short = emb.select(col("vec_id"),
      org.apache.spark.sql.functions.expr("slice(embedding, 1, 16)")
        .as("embedding"))
    val cb = Pq.fitCodebooks(short, m = 8, ksub = 4)
    val e = intercept[org.apache.spark.SparkException] {
      emb.select(Pq.encode(col("embedding"), cb)).collect()
    }
    assert(e.getMessage.contains("PQ shape mismatch")
      || Option(e.getCause).exists(_.getMessage.contains("PQ shape mismatch")))
  }

  test("annMatchesIncoming: trivial cell + unbounded margin equals the exact threshold join; emitted sims are exact") {
    val sub = emb.filter(col("vec_id") < 120)
    val centroids = Array(Array.fill(64)(1.0f))
    val codebooks = Pq.fitCodebooks(sub, m = 8, ksub = 4)
    val index = sub.select(col("vec_id").as("neighbor_id"),
      lit(0).as("cell"), lit(0L).as("subcell"),
      Pq.encode(col("embedding"), codebooks).as("codes"))
    val incoming = sub.filter(col("vec_id") < 30)
      .select((col("vec_id") + 5000).as("vec_id"), col("embedding"))
    val got = Pq.annMatchesIncoming(incoming, index, sub, centroids,
      splits = Map.empty, codebooks, thresholdE4 = 3000,
      screenMarginE4 = 20001, nProbe = 1)
    val qv = incoming.select(col("vec_id").as("incoming_id"),
      col("embedding").as("qv"))
    val cv = sub.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"))
    val exact = qv.crossJoin(cv)
      .select(col("incoming_id"), col("neighbor_id"),
        round(graft.functions.vectors.vec_cosine(col("qv"), col("cv"))
          * 10000).cast("long").as("sim_e4"))
      .filter(col("sim_e4") >= 3000)
    assert(rows(got) == rows(exact))
    assert(got.count() >= 30) // each copy rediscovers its source at 1.0
    // precision is exact at ANY margin: a tighter screen can only LOSE
    // pairs, never emit one below the exact threshold
    val tight = Pq.annMatchesIncoming(incoming, index, sub, centroids,
      splits = Map.empty, codebooks, thresholdE4 = 3000,
      screenMarginE4 = 0, nProbe = 1)
    assert(rows(tight).subsetOf(rows(got)))
    assert(tight.filter(col("sim_e4") < 3000).count() == 0)
  }

  test("codes/codebook m mismatch fails loudly (m cancels out of the size check)") {
    // codeLen == m·ksub·(dim/m) = ksub·dim for EVERY m dividing dim, so
    // only the plan-time m from the codebook can catch serving m=4
    // codes against an m=8 codebook — silently misaligned reads
    // otherwise (code-review r12)
    val cb4 = Pq.fitCodebooks(emb, m = 4, ksub = 16)
    val cb8 = Pq.fitCodebooks(emb, m = 8, ksub = 16)
    val codes4 = emb.select(col("vec_id"), col("embedding"),
      Pq.encode(col("embedding"), cb4).as("codes"))
    val e = intercept[org.apache.spark.SparkException] {
      codes4.select(Pq.adcCosine(col("embedding"), col("codes"), cb8))
        .collect()
    }
    def msg(t: Throwable): String =
      Option(t.getMessage).getOrElse("") +
        Option(t.getCause).map(msg).getOrElse("")
    assert(msg(e).contains("PQ shape mismatch"), msg(e))
  }

  test("auto-scaling parameters: formula anchors, monotone growth, defaulted-path identity") {
    // anchors: base 30 at the 500-row oracle corpus, ~3x per ~4x corpus
    assert(Pq.autoRerank(500, 10) == 30)
    assert(Pq.autoRerank(2000, 10) == 90)
    assert(Pq.autoRerank(8000, 10) == 270)
    assert(Pq.autoRerank(1, 10) == 30) // floor: never below the base
    assert(Pq.autoRerank(100, 20) == 60) // nor below 3k
    // the ceiling keeps the fetch query-bounded at any corpus size
    assert(Pq.autoRerank(1000000000L, 10) == Pq.MaxAutoRerank)
    assert(Pq.autoRerank(1000000L, 10) > Pq.autoRerank(10000L, 10))
    // code-width step schedule
    assert(Pq.autoKsub(999) == 16)
    assert(Pq.autoKsub(1000) == 64)
    assert(Pq.autoKsub(99999) == 64)
    assert(Pq.autoKsub(100000) == 256)
    // the AutoRerank sentinel (the default) resolves to exactly the
    // explicit budget for the measured corpus
    val n = emb.count()
    val centroids = Ivf.fitCentroids(emb, nCells = 4)
    val cb = Pq.fitCodebooks(emb, m = 8, ksub = 16)
    val q = emb.filter(col("vec_id") < 5)
    val auto = Pq.ivfPqTopK(q, emb, centroids, cb, k = 10, nProbe = 2)
    val explicit = Pq.ivfPqTopK(q, emb, centroids, cb, k = 10, nProbe = 2,
      rerank = Pq.autoRerank(n, 10))
    assert(rows(auto) == rows(explicit))
    // the AutoKsub sentinel (the fit default) trains the same codebooks
    // as the explicit schedule width
    val cbAuto = Pq.fitCodebooks(emb, m = 8)
    val cbExp = Pq.fitCodebooks(emb, m = 8, ksub = Pq.autoKsub(n))
    assert(cbAuto.map(_.map(_.toSeq).toSeq).toSeq ==
      cbExp.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("rerank < k is rejected") {
    val centroids = Ivf.fitCentroids(emb, nCells = 2)
    val codebooks = Pq.fitCodebooks(emb, m = 8, ksub = 4)
    val e = intercept[IllegalArgumentException] {
      Pq.ivfPqTopK(emb.limit(1), emb, centroids, codebooks,
        k = 10, rerank = 5)
    }
    assert(e.getMessage.contains("rerank"))
  }

  test("codebook artifact round-trips bit-exactly and pins its parameters") {
    val dir = new java.io.File(TestTmp.dir("pq-art"))
    try {
      val cb = Pq.fitCodebooks(emb, m = 8, ksub = 16)
      val p = new java.io.File(dir, "cb").toString
      Artifacts.PqCodebooks.save(spark, cb, p, (8, 16, 42L))
      val loaded = Artifacts.PqCodebooks.load(spark, p, (8, 16, 42L))
      assert(loaded.map(_.map(_.toSeq).toSeq).toSeq ==
        cb.map(_.map(_.toSeq).toSeq).toSeq)
      val e = intercept[IllegalArgumentException] {
        Artifacts.PqCodebooks.load(spark, p, (8, 16, 7L))
      }
      assert(e.getMessage.contains("seed"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("stored-index serve is row-identical to the in-memory IVF-PQ path") {
    val dir = new java.io.File(TestTmp.dir("pq-idx"))
    try {
      val centroids = Ivf.fitCentroids(emb, nCells = 4)
      val codebooks = Pq.fitCodebooks(emb, m = 8, ksub = 16)
      val p = new java.io.File(dir, "idx").toString
      Artifacts.saveIvfPqIndex(emb, p, centroids, codebooks,
        idCol = "vec_id", vecCol = "embedding", maxCell = 100000)
      val index = spark.read.parquet(new java.io.File(p, "index").toString)
      // the split map through the public load (r21: it lives in the
      // _splits local sidecar, not a parquet part)
      val (_, splits) = Artifacts.loadIvfPqIndex(spark, p, centroids,
        codebooks, maxCell = 100000)
      val q = emb.filter(col("vec_id") < 5)
      val served = Pq.ivfPqServeTopK(q, index, emb, centroids, splits,
        codebooks, k = 10, nProbe = 2, rerank = 30)
      val fit = Pq.ivfPqTopK(q, emb, centroids, codebooks,
        k = 10, nProbe = 2, rerank = 30)
      assert(rows(served) == rows(fit))
      // serve-side auto sentinel: defaulted rerank sizes from the
      // STORED index row count
      val servedAuto = Pq.ivfPqServeTopK(q, index, emb, centroids,
        splits, codebooks, k = 10, nProbe = 2)
      val servedExp = Pq.ivfPqServeTopK(q, index, emb, centroids,
        splits, codebooks, k = 10, nProbe = 2,
        rerank = Pq.autoRerank(index.count(), 10))
      assert(rows(servedAuto) == rows(servedExp))
      // the stored index carries codes and subcell only — never the
      // raw embedding (the dim/m on-disk reduction is the contract)
      assert(index.columns.toSet == Set("neighbor_id", "codes",
        "subcell", "cell"))
      // probed-cell pruning reaches the parquet source at planning time
      val plan = served.queryExecution.executedPlan.toString
      val pf = "PartitionFilters: \\[[^\\]]*cell".r
      assert(pf.findFirstIn(plan).isDefined,
        "expected non-empty PartitionFilters on cell in plan:\n" +
          plan.take(1500))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("the IVF-PQ candidate join carries codes, not corpus vectors") {
    // the scale contract: the probe-join corpus side reduces each row to
    // (id, cell, subcell, codes) BEFORE the shuffle — the raw embedding
    // array must not appear in any Exchange above the corpus scan except
    // the bounded rerank fetch (which joins on neighbor_id, not cell)
    val centroids = Ivf.fitCentroids(emb, nCells = 4)
    val codebooks = Pq.fitCodebooks(emb, m = 8, ksub = 16)
    val q = emb.filter(col("vec_id") < 5)
    val plan = Pq.ivfPqTopK(q, emb, centroids, codebooks, k = 10,
      nProbe = 2, rerank = 30).queryExecution.executedPlan.toString
    // the ADC-stage join key set (cell, subcell) must co-occur with
    // codes but never with the corpus vector column cv
    assert(plan.contains("codes"))
    assert(!plan.linesIterator.exists(l =>
      l.contains("subcell") && l.contains("hashpartitioning") &&
        l.contains("cv")), s"corpus vectors cross the probe shuffle:\n$plan")
  }

  test("hierarchical IVF-PQ: full supercell probing row-equals the literal " +
       "family; serve == fit; append == union rebuild") {
    import graft.northstar.{Artifacts, Ivf}
    import org.apache.spark.sql.functions.col
    // the 100 TB configuration composed: broadcast-relation coarse
    // quantizer + codes-only candidate join + exact re-rank
    val cents = Pq.fitCodebooks(emb, m = 8, ksub = 16) // codebooks
    val coarse = Ivf.fitCentroids(emb, nCells = 8)
    val supers = Ivf.fitCentroids(emb, nCells = 3, seed = 7L)
    val hqFull = Ivf.HierarchicalQuantizer(supers, coarse, superProbe = 3)
    val q = emb.filter(col("vec_id") < 5)
    // full supercell probing: candidate set == the literal family's
    val viaHier = rows(Pq.ivfPqTopK(q, emb, hqFull, cents,
      k = 10, nProbe = 4, rerank = 50))
    val viaLit = rows(Pq.ivfPqTopK(q, emb, coarse, cents,
      k = 10, nProbe = 4, rerank = 50))
    assert(viaHier == viaLit)
    // stored lifecycle under PARTIAL probing: serve == fit, append ==
    // union rebuild (both sides of each identity share the assignment)
    val hq = hqFull.copy(superProbe = 2)
    val embA = emb.filter(col("vec_id") % 2 === 0)
    val embB = emb.filter(col("vec_id") % 2 =!= 0)
    val p = TestTmp.dir("pq-hier-life") + "/idx"
    Artifacts.saveIvfPqIndex(embA, p, hq, cents)
    Artifacts.appendIvfPqIndex(embB, embA, p, hq, cents): Unit
    val (idxA, splitsA) = Artifacts.loadIvfPqIndex(spark, p, hq, cents)
    val pU = TestTmp.dir("pq-hier-life") + "/idx"
    Artifacts.saveIvfPqIndex(emb, pU, hq, cents)
    val (idxU, splitsU) = Artifacts.loadIvfPqIndex(spark, pU, hq, cents)
    assert(splitsA == splitsU)
    assert(rows(idxA.select("neighbor_id", "cell", "subcell", "codes")) ==
      rows(idxU.select("neighbor_id", "cell", "subcell", "codes")))
    val served = rows(Pq.ivfPqServeTopK(q, idxA, emb, hq, splitsA,
      cents, k = 10, nProbe = 3, rerank = 50))
    assert(served == rows(Pq.ivfPqTopK(q, emb, hq, cents,
      k = 10, nProbe = 3, rerank = 50)))
    // takedown: removing the appended half restores the embA-only index
    Artifacts.removeFromIvfPqIndex(embB.select("vec_id"), embA, p,
      hq, cents): Unit
    val p0 = TestTmp.dir("pq-hier-life") + "/idx"
    Artifacts.saveIvfPqIndex(embA, p0, hq, cents)
    val (idx0, _) = Artifacts.loadIvfPqIndex(spark, p0, hq, cents)
    val (idxR, _) = Artifacts.loadIvfPqIndex(spark, p, hq, cents)
    assert(rows(idxR.select("neighbor_id", "cell", "subcell", "codes")) ==
      rows(idx0.select("neighbor_id", "cell", "subcell", "codes")))
  }

  test("stored-cells IVF-PQ: row-equals the hier family on identical " +
       "content (full AND partial probing); serve == fit; append == " +
       "union rebuild; remove == difference rebuild") {
    import graft.northstar.{Artifacts, Ivf}
    import org.apache.spark.sql.functions.col
    // the exabyte configuration composed: parquet-backed coarse
    // quantizer (cells never on the driver) + codes-only candidate
    // join + exact re-rank
    val cents = Pq.fitCodebooks(emb, m = 8, ksub = 16)
    val coarse = Ivf.fitCentroids(emb, nCells = 8)
    val supers = Ivf.fitCentroids(emb, nCells = 3, seed = 7L)
    val hqFull = Ivf.HierarchicalQuantizer(supers, coarse, superProbe = 3)
    val cellsPath = TestTmp.dir("pq-stored") + "/cells"
    hqFull.cellsRelation(spark).select("cell", "sup", "ccv")
      .write.parquet(cellsPath)
    val sqFull = Ivf.StoredQuantizer(Ivf.LiteralQuantizer(supers),
      cellsPath, 8, coarse(0).length, superProbe = 3)
    val q = emb.filter(col("vec_id") < 5)
    // full supercell probing: candidate set == the literal family's
    val viaStored = rows(Pq.ivfPqTopK(q, emb, sqFull, cents,
      k = 10, nProbe = 4, rerank = 50))
    assert(viaStored == rows(Pq.ivfPqTopK(q, emb, coarse, cents,
      k = 10, nProbe = 4, rerank = 50)))
    // PARTIAL probing: identical to the hier family on equal content
    val hq = hqFull.copy(superProbe = 2)
    val sq = sqFull.copy(superProbe = 2)
    assert(rows(Pq.ivfPqTopK(q, emb, sq, cents,
        k = 10, nProbe = 3, rerank = 50))
      == rows(Pq.ivfPqTopK(q, emb, hq, cents,
        k = 10, nProbe = 3, rerank = 50)))
    // lifecycle under PARTIAL probing
    val embA = emb.filter(col("vec_id") % 2 === 0)
    val embB = emb.filter(col("vec_id") % 2 =!= 0)
    val p = TestTmp.dir("pq-stored-life") + "/idx"
    Artifacts.saveIvfPqIndex(embA, p, sq, cents)
    Artifacts.appendIvfPqIndex(embB, embA, p, sq, cents): Unit
    val (idxA, splitsA) =
      Artifacts.loadIvfPqIndex(spark, p, sq, cents)
    val pU = TestTmp.dir("pq-stored-life") + "/idx"
    Artifacts.saveIvfPqIndex(emb, pU, sq, cents)
    val (idxU, splitsU) =
      Artifacts.loadIvfPqIndex(spark, pU, sq, cents)
    assert(splitsA == splitsU)
    assert(rows(idxA.select("neighbor_id", "cell", "subcell", "codes")) ==
      rows(idxU.select("neighbor_id", "cell", "subcell", "codes")))
    val served = rows(Pq.ivfPqServeTopK(q, idxA, emb, sq, splitsA,
      cents, k = 10, nProbe = 3, rerank = 50))
    assert(served == rows(Pq.ivfPqTopK(q, emb, sq, cents,
      k = 10, nProbe = 3, rerank = 50)))
    // ... and == the hier serve on identical content through the
    // artifact layer
    val pH = TestTmp.dir("pq-stored-life") + "/idx"
    Artifacts.saveIvfPqIndex(emb, pH, hq, cents)
    val (idxH, splitsH) = Artifacts.loadIvfPqIndex(spark, pH, hq, cents)
    assert(rows(Pq.ivfPqServeTopK(q, idxU, emb, sq, splitsU,
        cents, k = 10, nProbe = 3, rerank = 50))
      == rows(Pq.ivfPqServeTopK(q, idxH, emb, hq, splitsH,
        cents, k = 10, nProbe = 3, rerank = 50)))
    // takedown: removing the appended half restores the embA-only index
    Artifacts.removeFromIvfPqIndex(embB.select("vec_id"), embA, p,
      sq, cents): Unit
    val p0 = TestTmp.dir("pq-stored-life") + "/idx"
    Artifacts.saveIvfPqIndex(embA, p0, sq, cents)
    val (idx0, _) = Artifacts.loadIvfPqIndex(spark, p0, sq, cents)
    val (idxR, _) = Artifacts.loadIvfPqIndex(spark, p, sq, cents)
    assert(rows(idxR.select("neighbor_id", "cell", "subcell", "codes")) ==
      rows(idx0.select("neighbor_id", "cell", "subcell", "codes")))
    // cross-family params refusal on the same path
    intercept[IllegalArgumentException] {
      Artifacts.loadIvfPqIndex(spark, p, hq, cents)
    }: Unit
    // ingest-side screen: the stored form equals the hier form on
    // identical content (same index rows, same probed cells, same ADC
    // margin, same exact confirm)
    val incoming = emb.filter(col("vec_id") >= 5 && col("vec_id") < 15)
    assert(rows(Pq.annMatchesIncoming(incoming, idxU, emb, sq,
        splitsU, cents, thresholdE4 = 7000))
      == rows(Pq.annMatchesIncoming(incoming, idxU, emb, hq,
        splitsU, cents, thresholdE4 = 7000)))
  }

  test("one table over the literal, hierarchical and stored quantizers: " +
       "every IVF / IVF-PQ top-k, serve and ingest-screen call fires a " +
       "pinned number of Spark jobs and returns pinned rows") {
    import Ivf.{CoarseQuantizer, HierarchicalQuantizer, LiteralQuantizer,
      StoredQuantizer}
    import org.apache.spark.sql.DataFrame
    // partial supercell probing (2 of 3) so the relation families'
    // probe ranking genuinely cuts, and maxCell under the ~62-row mean
    // cell so every family builds a non-empty split map (the stored
    // family's split-centroid fetch is one of the pinned jobs)
    val coarse = Ivf.fitCentroids(emb, nCells = 8)
    val supers = Ivf.fitCentroids(emb, nCells = 3, seed = 7L)
    val cb = Pq.fitCodebooks(emb, m = 8, ksub = 16)
    val hq = HierarchicalQuantizer(supers, coarse, superProbe = 2)
    val cellsPath = TestTmp.dir("pq-table") + "/cells"
    hq.cellsRelation(spark).select("cell", "sup", "ccv")
      .write.parquet(cellsPath)
    val sq = StoredQuantizer(LiteralQuantizer(supers), cellsPath, 8,
      coarse(0).length, superProbe = 2)
    val maxCell = 40
    val q = emb.filter(col("vec_id") < 2)
    val incoming = emb.filter(col("vec_id") < 2)
      .select((col("vec_id") + 5000).as("vec_id"), col("embedding"))
    // "query>neighbor,neighbor,…" in rank order, queries ascending
    def topK(df: DataFrame): String =
      df.collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1)))
        .sorted.groupBy(_._1).toSeq.sortBy(_._1).map { case (qid, rs) =>
          s"$qid>${rs.map(_._3).mkString(",")}" }.mkString(" ")
    def pairs(df: DataFrame): String =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.map { case (i, n, s) => s"$i>$n@$s" }.mkString(" ")
    def calls(fam: CoarseQuantizer, p: String)
        : Seq[(String, () => DataFrame, DataFrame => String)] = {
      Artifacts.saveIvfIndex(emb, p + "/ivf", fam, maxCell = maxCell)
      Artifacts.saveIvfPqIndex(emb, p + "/pq", fam, cb, maxCell = maxCell)
      val (ivfIdx, ivfSplits) =
        Artifacts.loadIvfIndex(spark, p + "/ivf", fam, maxCell = maxCell)
      val (pqIdx, pqSplits) =
        Artifacts.loadIvfPqIndex(spark, p + "/pq", fam, cb,
          maxCell = maxCell)
      assert(ivfSplits.nonEmpty && pqSplits.nonEmpty)
      // the literal family reads nProbe, the relation families read
      // perSuperProbe
      Seq(
        ("ivfTopK", () => Ivf.ivfTopK(q, emb, fam, k = 3, nProbe = 2,
          maxCell = maxCell), topK),
        ("ivfServeTopK", () => Ivf.ivfServeTopK(q, ivfIdx, fam, ivfSplits,
          k = 3), topK),
        ("ivfPqTopK", () => Pq.ivfPqTopK(q, emb, fam, cb, k = 3,
          nProbe = 2, maxCell = maxCell), topK),
        ("ivfPqServeTopK", () => Pq.ivfPqServeTopK(q, pqIdx, emb, fam,
          pqSplits, cb, k = 3, nProbe = 2), topK),
        ("annMatchesIncoming", () => Pq.annMatchesIncoming(incoming,
          pqIdx, emb, fam, pqSplits, cb, thresholdE4 = 3000, nProbe = 2,
          perSuperProbe = 2), pairs))
    }
    // (family, shape) -> (Spark jobs of build + collect, rendered rows)
    val expected: Map[(String, String), (Int, String)] = Map(
      ("literal", "ivfTopK") -> (6, "0>225,347,299 1>257,440,260"),
      ("literal", "ivfServeTopK") -> (6, "0>17,225,212 1>257,129,440"),
      ("literal", "ivfPqTopK") -> (9, "0>225,299,497 1>257,440,260"),
      ("literal", "ivfPqServeTopK") -> (9, "0>225,299,497 1>257,440,260"),
      ("literal", "annMatchesIncoming") ->
        (3, "5000>0@10000 5001>1@10000 5001>257@3918"),
      ("hierarchical", "ivfTopK") -> (12, "0>225,347,299 1>257,129,75"),
      ("hierarchical", "ivfServeTopK") -> (8, "0>225,73,347 1>257,129,75"),
      ("hierarchical", "ivfPqTopK") -> (15, "0>225,299,497 1>257,129,75"),
      ("hierarchical", "ivfPqServeTopK") ->
        (11, "0>225,299,497 1>257,129,75"),
      ("hierarchical", "annMatchesIncoming") ->
        (5, "5000>0@10000 5001>1@10000 5001>129@3515 5001>257@3918"),
      ("stored", "ivfTopK") -> (16, "0>225,347,299 1>257,129,75"),
      ("stored", "ivfServeTopK") -> (11, "0>225,73,347 1>257,129,75"),
      ("stored", "ivfPqTopK") -> (19, "0>225,299,497 1>257,129,75"),
      ("stored", "ivfPqServeTopK") -> (14, "0>225,299,497 1>257,129,75"),
      ("stored", "annMatchesIncoming") ->
        (8, "5000>0@10000 5001>1@10000 5001>129@3515 5001>257@3918"))
    val measured = for {
      (name, fam) <- Seq("literal" -> LiteralQuantizer(coarse),
        "hierarchical" -> hq, "stored" -> sq)
      (shape, call, render) <- calls(fam, TestTmp.dir(s"pq-table-$name"))
    } yield {
      // a cached frame from an earlier suite over a value-identical
      // subtree would serve a persisted assignment and hide its jobs
      graft.northstar.Dedup.releasePersisted()
      spark.catalog.clearCache()
      var out = ""
      val jobs = jobStarts { out = render(call()) }
      (name, shape) -> (jobs.size, out)
    }
    assert(measured.toMap == expected)
  }
}
