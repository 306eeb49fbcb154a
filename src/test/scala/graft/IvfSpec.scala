package graft

import graft.northstar.{Ivf, Similarity}

/** IVF ANN: quantizer determinism, probing mechanics, recall vs brute. */
class IvfSpec extends SparkSpecBase {
  import spark.implicits._

  lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("fitCentroids is deterministic for a fixed seed") {
    val c1 = Ivf.fitCentroids(emb, nCells = 4)
    val c2 = Ivf.fitCentroids(emb, nCells = 4)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    assert(c1.length == 4 && c1.head.length == 64)
  }

  test("fitCentroids is a pure function of corpus CONTENT — identical " +
       "across partitionings and row orders (VERDICT r18 task 2)") {
    import org.apache.spark.sql.functions.{col, desc}
    // 4× replication so the auto fraction < 1 and the SAMPLING path
    // (membership + ordering) is what's under test: the old positional
    // Bernoulli draw + arrival-order collect gave a different init per
    // layout — the root cause of the drift probe's 0.275-wide
    // pinned-budget recall band across retrain runs
    val big = (0 until 4).map(i =>
      emb.withColumn("vec_id", col("vec_id") + i * 100000L))
      .reduce(_ unionAll _)
    val a = Ivf.fitCentroids(big.repartition(7), nCells = 2)
    val b = Ivf.fitCentroids(
      big.repartition(3).sortWithinPartitions(desc("vec_id")), nCells = 2)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq,
      "the quantizer must not depend on physical layout")
    // the distributed family holds the same property
    val ha = Ivf.fitHierarchical(big.repartition(7), nCells = 8)
    val hb = Ivf.fitHierarchical(
      big.repartition(3).sortWithinPartitions(desc("vec_id")), nCells = 8)
    assert(ha.centroids.map(_.toSeq).toSeq == hb.centroids.map(_.toSeq).toSeq
      && ha.superCentroids.map(_.toSeq).toSeq ==
        hb.superCentroids.map(_.toSeq).toSeq,
      "the hierarchical quantizer must not depend on physical layout")
  }

  test("boundedSample: duplicate-heavy corpora neither flood the driver " +
       "nor draw empty nor collapse diversity (r19 review, both passes)") {
    import org.apache.spark.sql.functions.{col, when, expr}
    // 100k rows, TWO distinct vectors: the content-hash predicate
    // admits or rejects every copy of a value together
    val two = spark.range(100000L).select(
      when(col("id") % 2 === 0,
          expr("array(cast(1.0 as float), cast(2.0 as float))"))
        .otherwise(expr("array(cast(9.0 as float), cast(8.0 as float))"))
        .as("embedding"))
    // empty-draw fallback: a fraction so small the hash predicate
    // rejects both values (threshold 1 of 2^40) must NOT return an
    // empty training sample — the distinct fallback recovers FULL
    // value coverage, deterministically
    val fb = Ivf.boundedSample(two, 512, "embedding", 1e-9, 42L)
    assert(fb.map(_.toSeq).toSet == Set(Seq(1.0f, 2.0f), Seq(9.0f, 8.0f)),
      s"fallback must return both distinct values, got ${fb.length}")
    val fb2 = Ivf.boundedSample(two, 512, "embedding", 1e-9, 42L)
    assert(fb.map(_.toSeq).toSeq == fb2.map(_.toSeq).toSeq)
    // explicit 1.0 honors the documented "train on everything" —
    // never silently capped (second pass)
    assert(Ivf.boundedSample(two, 512, "embedding", 1.0, 42L)
      .length == 100000L)
    // cap engagement preserves DIVERSITY: 10k distinct values x 20
    // copies at a 0.9 fraction over-admits past the 4*512+4 cap, and
    // the capped recollect must return cap DISTINCT values, not cap
    // copies of whichever value hashes lowest (second pass)
    val many = spark.range(200000L).select(
      expr("array(cast(id % 10000 as float), cast(1.0 as float))")
        .as("embedding"))
    val cap = 4 * 512 + 4
    val d = Ivf.boundedSample(many, 512, "embedding", 0.9, 42L)
    assert(d.length == cap, s"got ${d.length}")
    assert(d.map(_.toSeq).distinct.length == cap,
      "capped draw must be distinct values, not duplicate mass")
  }

  test("null embeddings refuse loudly at the cell census, not a bare NPE") {
    import org.apache.spark.sql.functions.{col, lit, when}
    // a null vector assigns to a NULL cell and would (a) crash the
    // census collect with an unnamed NPE and (b) silently vanish from
    // the probe join — name the problem instead (code-review r14)
    val centroids = Ivf.fitCentroids(emb, nCells = 4)
    val withNull = emb.select(col("vec_id"),
      when(col("vec_id") === emb.select("vec_id").head().getLong(0),
          lit(null).cast("array<float>"))
        .otherwise(col("embedding")).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Ivf.splitBitsByCell(withNull, centroids)
    }
    assert(e.getMessage.contains("null embeddings"), e.getMessage)
  }

  test("auto-sampling bounds the training set, stays deterministic, keeps recall") {
    import org.apache.spark.sql.functions.col
    // 4× replication (2000 rows) with nCells=2 → target 512 rows: the
    // auto fraction is ~0.3, so the sampled path genuinely runs
    val big = (0 until 4).map(i =>
      emb.withColumn("vec_id", col("vec_id") + i * 100000L)).reduce(_ unionAll _)
    val c1 = Ivf.fitCentroids(big, nCells = 2)
    val c2 = Ivf.fitCentroids(big, nCells = 2)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    // quantizer quality: sampled-trained centroids cluster the FULL corpus
    // nearly as tightly as full-trained ones (SSE within a small factor) —
    // the property IVF recall actually depends on (centroid identity is
    // arbitrary on near-random synthetic embeddings)
    val full = Ivf.fitCentroids(big, nCells = 2, sampleFraction = 1.0)
    val vecs = big.select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    def sse(cents: Array[Array[Float]]): Double = vecs.map { v =>
      cents.map(c => v.zip(c).map { case (x, y) =>
        val d = x.toDouble - y; d * d }.sum).min
    }.sum
    val (s1, sf) = (sse(c1), sse(full))
    assert(s1 <= 1.2 * sf, s"sampled SSE $s1 vs full SSE $sf")
  }

  test("auto-scaling coarse quantizer: formula anchors; defaulted paths equal explicit") {
    import org.apache.spark.sql.functions.col
    // √N cell rule, clamped
    assert(Ivf.autoNCells(500) == 22)
    assert(Ivf.autoNCells(1) == 4)  // floor
    assert(Ivf.autoNCells(64) == 8)
    assert(Ivf.autoNCells(1000000000L) == Ivf.MaxAutoCells) // literal cap
    // √nCells probe rule anchors at the pinned 8-cell contract rows
    assert(Ivf.autoNProbe(8) == 3)
    assert(Ivf.autoNProbe(22) == 5)
    assert(Ivf.autoNProbe(4096) == 64)
    assert(Ivf.autoNProbe(1) == 3) // floor
    // the AutoCells sentinel (the fit default) trains the same
    // quantizer as the explicit √N count
    val n = emb.count()
    val auto = Ivf.fitCentroids(emb)
    val explicit = Ivf.fitCentroids(emb, Ivf.autoNCells(n))
    assert(auto.map(_.toSeq).toSeq == explicit.map(_.toSeq).toSeq)
    // the AutoProbe sentinel (the query default) probes exactly
    // autoNProbe(nCells) cells
    val q = emb.filter(col("vec_id") < 3)
    assert(rows(Ivf.ivfTopK(q, emb, explicit, k = 5)) ==
      rows(Ivf.ivfTopK(q, emb, explicit, k = 5,
        nProbe = Ivf.autoNProbe(explicit.length))))
  }

  test("probeCells returns nProbe distinct cells, best cell first") {
    val centroids = Ivf.fitCentroids(emb, nCells = 8)
    val probed = emb.limit(5).select(
      Ivf.probeCells($"embedding", centroids, 3).as("cells"),
      Ivf.cellOf($"embedding", centroids).as("best"))
    probed.collect().foreach { r =>
      val cells = r.getAs[scala.collection.Seq[Int]]("cells")
      assert(cells.size == 3 && cells.distinct.size == 3)
      assert(cells.head == r.getAs[Int]("best"))
    }
  }

  test("nearest-cells kernel equals the greatest/array_sort compose form (ordering, ties, NaN, zero)") {
    import org.apache.spark.sql.functions.{array, array_sort, greatest, lit, slice, struct, transform, typedLit, when}
    import graft.functions.vectors
    // the pre-r14 compose form, rebuilt verbatim as the reference: the
    // kernel replaced it for plan-size and per-row cost, and this pin is
    // what guarantees no assignment or probe-order drift came with that
    def composeSims(vec: org.apache.spark.sql.Column,
                    cents: Array[Array[Float]]) =
      cents.zipWithIndex.map { case (c, i) =>
        struct(vectors.vec_cosine(vec, typedLit(c.toSeq)).as("sim"),
               lit(i).as("cell"))
      }.toSeq
    def composeCell(vec: org.apache.spark.sql.Column,
                    cents: Array[Array[Float]]) =
      greatest(composeSims(vec, cents): _*).getField("cell")
    def composeProbe(vec: org.apache.spark.sql.Column,
                     cents: Array[Array[Float]], nProbe: Int) = {
      val sorted = array_sort(array(composeSims(vec, cents): _*),
        (l, r) => when(l.getField("sim") > r.getField("sim"), -1)
          .when(l.getField("sim") < r.getField("sim"), 1)
          .when(l.getField("cell") > r.getField("cell"), -1)
          .when(l.getField("cell") < r.getField("cell"), 1)
          .otherwise(0))
      transform(slice(sorted, 1, nProbe), s => s.getField("cell"))
    }
    val rnd = new scala.util.Random(29)
    val dim = 8
    val base = (0 until 200).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f)))
    val edge = Seq(
      (900L, Array.fill(dim)(0.0f)),              // zero vector: all sims 0.0
      (901L, Array.fill(dim)(Float.NaN)),         // NaN sims: ties to top cell
      (902L, base.head._2.clone()))               // exact centroid duplicate
    val df = (base ++ edge).toDF("vec_id", "embedding")
    val cents = Array.fill(7)(Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
    cents(3) = cents(2).clone()     // duplicate centroids: tie → higher cell
    cents(6) = base.head._2.clone() // exact centroid match for vec 902
    val got = df.select($"vec_id",
        Ivf.cellOf($"embedding", cents).as("cell"),
        Ivf.probeCells($"embedding", cents, 4).as("probes"))
      .collect().map(r => (r.getLong(0),
        (r.getInt(1), r.getSeq[Int](2).toList))).toMap
    val want = df.select($"vec_id",
        composeCell($"embedding", cents).as("cell"),
        composeProbe($"embedding", cents, 4).as("probes"))
      .collect().map(r => (r.getLong(0),
        (r.getInt(1), r.getSeq[Int](2).toList))).toMap
    assert(got == want)
    // nProbe beyond nCells returns every cell exactly once
    val all = df.limit(3).select(
      Ivf.probeCells($"embedding", cents, 99).as("p")).collect()
    all.foreach(r => assert(r.getSeq[Int](0).sorted == (0 until 7).toList))
    // subcellOf: kernel == the pre-r14 per-cell when-chain replica,
    // including the NaN/zero rows and cells outside the split set
    def composeSubcell(vec: org.apache.spark.sql.Column,
                       cellCol: org.apache.spark.sql.Column,
                       cents2: Array[Array[Float]],
                       splitBits: Map[Int, Int]) = {
      import org.apache.spark.sql.functions.{greatest => sgreatest, sqrt => ssqrt}
      val nv = sgreatest(ssqrt(vectors.vec_dot(vec, vec)), lit(1e-12))
      splitBits.foldLeft(lit(0L)) { case (acc, (cellId, bits)) =>
        val cc = cents2(cellId)
        val cn = math.max(math.sqrt(cc.map(x => x.toDouble * x).sum), 1e-12)
        val sub = (0 until bits).map { p =>
          val h = Array.tabulate(cc.length)(i =>
            graft.functions.VecOps.planeComponent(i, p, 7777).toFloat)
          val thr = h.zip(cc).map { case (hi, ci) =>
            hi.toDouble * (ci.toDouble / cn) }.sum
          when(vectors.vec_dot(vec, typedLit(h.toSeq)) / nv > thr,
            lit(1L << p)).otherwise(lit(0L))
        }.reduce(_ + _)
        when(cellCol === cellId, sub).otherwise(acc)
      }
    }
    val splits = Map(2 -> 3, 6 -> 5)
    val assignedDf = df.select($"vec_id",
      Ivf.cellOf($"embedding", cents).as("cell"), $"embedding")
    val subGot = assignedDf.select($"vec_id",
        Ivf.subcellOf($"embedding", $"cell", cents, splits).as("sub"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val subWant = assignedDf.select($"vec_id",
        composeSubcell($"embedding", $"cell", cents, splits).as("sub"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(subGot == subWant)
    assert(subGot.values.exists(_ != 0L), "split cells never matched — " +
      "the fixture stopped exercising the kernel")
    // a foreign-dim corpus fails loudly (the compose form silently
    // folded over min(dim) — garbage assignments with no error)
    val bad = Seq((1L, Array.fill(4)(0.5f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      bad.select(Ivf.cellOf($"embedding", cents)).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString("; ")
    assert(msgs.contains("shape mismatch"), msgs)
  }

  test("duplicate centroids (degenerate padding): probe order agrees with assignment, results stay brute-exact") {
    // lloyd pads by repetition when the training sample is smaller than
    // nCells. cellOf ties to the HIGHEST duplicate cell; probeCells
    // must agree (code-review r13: its stable sort kept the LOWEST
    // first, so nProbe=1 probed a cell the corpus never occupies —
    // empty results, no error)
    val one = emb.limit(1).select("embedding").collect()(0)
      .getSeq[Float](0).toArray
    val dupCents = Array(one, one) // identical centroids, cells 0 and 1
    val q = emb.filter($"vec_id" < 5)
    val got = Ivf.ivfTopK(q, emb, dupCents, k = 10, nProbe = 1)
    val brute = Similarity.bruteForceTopK(q, emb, k = 10)
    assert(rows(got) == rows(brute))
  }

  test("skewed corpus: mega-cell is re-split into bounded sub-cells, no rows dropped") {
    import org.apache.spark.sql.functions.{col, countDistinct, max => smax, sum => ssum}
    val rnd = new scala.util.Random(7)
    val dim = 16
    // positive-orthant vectors: all land in the all-ones centroid's cell
    // (a worst-case mega-cell), yet are angularly diverse enough that
    // secondary hyperplane bits split them
    val corpus = (0 until 2000).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() + 0.05f))
    }.toDF("vec_id", "embedding")
    val centroids = Array(Array.fill(dim)(1.0f), Array.fill(dim)(-1.0f))
    val splits = Ivf.splitBitsByCell(corpus, centroids, maxCell = 100)
    assert(splits == Map(0 -> 5), s"census was $splits") // ceil(log2(2000/100)) = 5
    val assigned = corpus
      .select(Ivf.cellOf($"embedding", centroids).as("cell"), $"embedding")
      .withColumn("subcell", Ivf.subcellOf($"embedding", $"cell", centroids, splits))
    val sizes = assigned.groupBy("cell", "subcell").count()
      .agg(ssum("count").as("total"), smax("count").as("biggest"),
        countDistinct("subcell").as("nsub")).collect()(0)
    assert(sizes.getLong(0) == 2000L)              // re-split drops nothing
    assert(sizes.getLong(1) <= 400L,               // 4x slack over maxCell
      s"biggest sub-cell ${sizes.getLong(1)}")
    assert(sizes.getLong(2) >= 16L)                // split genuinely fans out
    // the capped index still serves queries end-to-end
    val res = Ivf.ivfTopK(corpus.filter($"vec_id" < 3), corpus, centroids,
      k = 5, nProbe = 2, maxCell = 100)
    assert(res.groupBy("query_id").count().collect().forall(_.getLong(1) == 5L))
  }

  test("ivfServeTopK on a split mega-cell corpus equals ivfTopK (stored-index parity under subcells)") {
    import graft.northstar.Artifacts
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(13)
    // positive-orthant cluster → at least one cell far over maxCell=100,
    // so the stored index genuinely carries nonzero split bits and the
    // serve path must reproduce them to keep (cell, subcell) keys aligned
    val corpus = (0 until 1500).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() + 0.05f))
    }.toDF("vec_id", "embedding")
    val key = s"ivfspec-serve-${System.nanoTime()}"
    val (index, splits, centroids) = Artifacts.ivfIndexFor(corpus, key,
      nCells = 2, maxCell = 100)
    assert(splits.nonEmpty, "corpus was built to force a mega-cell split")
    val q = corpus.filter(col("vec_id") < 5)
    val serve = Ivf.ivfServeTopK(q, index, centroids, splits,
      k = 5, nProbe = 2).collect().map(_.toSeq).toSet
    val mem = Ivf.ivfTopK(q, corpus, centroids, k = 5, nProbe = 2,
      maxCell = 100).collect().map(_.toSeq).toSet
    assert(serve == mem && serve.nonEmpty)
  }

  test("ivfTopK recall@10 vs brute force is reasonable with generous probing") {
    val centroids = Ivf.fitCentroids(emb, nCells = 8)
    val queries = emb.filter($"vec_id" < 20)
    val brute = Similarity.bruteForceTopK(queries, emb, k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ivf.ivfTopK(queries, emb, centroids, k = 10, nProbe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall > 0.5, s"recall@10 was $recall (nProbe=4 of 8 cells)")
  }

  test("assignQ: exact integer argmin; ties break to the lowest cell") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, Seq(0.0f, 0.0f)),   // dist² 0 to c0, 8e8 to c1 → cell 0
      (2L, Seq(2.0f, 2.0f)),   // dist² 8e8 to c0, 0 to c1 → cell 1
      (3L, Seq(1.0f, 1.0f)),   // equidistant (2e8 each) → tie → cell 0
    ).toDF("vec_id", "embedding")
    val cents: Seq[Seq[Long]] = Seq(Seq(0L, 0L), Seq(20000L, 20000L))
    val out = df.select(col("vec_id"),
        Ivf.assignQ(Ivf.quantizeVec(col("embedding")), cents).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 0L))
  }

  test("lloydStepQ: hand-computed mean update; emptied cells keep their centroid") {
    val df = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.0f, 0.2f)),
      (3L, Seq(1.0f, 1.0f)), (4L, Seq(1.0f, 1.2f)),
    ).toDF("vec_id", "embedding")
    // init at the two natural groups → means (0, 0.1) and (1, 1.1)
    val c1 = Ivf.lloydStepQ(df,
      Seq(Seq(0L, 0L), Seq(10000L, 10000L)))
    assert(c1 == Seq(Seq(0L, 1000L), Seq(10000L, 11000L)))
    // a far-away centroid attracts nothing and survives unchanged
    val c2 = Ivf.lloydStepQ(df,
      Seq(Seq(0L, 0L), Seq(900000L, 900000L)))
    assert(c2(1) == Seq(900000L, 900000L))
    assert(c2(0) == Seq(5000L, 6000L)) // all four points: mean (.5, .6)
  }

  // ---- hierarchical (broadcast-relation) quantizer, r15 ----

  test("hierarchical assignment with full supercell probing IS cellOf, " +
       "and the plan is a BroadcastHashJoin, not a literal") {
    import org.apache.spark.sql.functions.col
    // superProbe == nSuper admits every centroid as a candidate, so the
    // broadcast-join argmax must reproduce the fused literal kernel's
    // assignment EXACTLY (same cosine kernel, same tie-to-higher-cell)
    val centroids = Ivf.fitCentroids(emb, nCells = 8)
    val supers = Ivf.fitCentroids(emb, nCells = 3, seed = 7L)
    val hq = Ivf.HierarchicalQuantizer(supers, centroids, superProbe = 3)
    val viaJoin = Ivf.assignCellsJoin(emb, hq)
    val plan = viaJoin.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    val joinCells = viaJoin.select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val kernelCells = emb.select(col("vec_id"),
        Ivf.cellOf(col("embedding"), centroids).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(joinCells == kernelCells)
  }

  test("past the broadcast ceiling the relation joins degrade to a " +
       "shuffle-hash join with IDENTICAL results (continuation (a): " +
       "no 8 GB torrent block past ~2M cells)") {
    import org.apache.spark.sql.functions.col
    val centroids = Ivf.fitCentroids(emb, nCells = 8)
    val supers = Ivf.fitCentroids(emb, nCells = 3, seed = 7L)
    val hq = Ivf.HierarchicalQuantizer(supers, centroids, superProbe = 3)
    val q = emb.filter(col("vec_id") < 5)
    // reference results on the default (broadcast) path
    val assignB = Ivf.assignCellsJoin(emb, hq).select("vec_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val topB = rows(Ivf.ivfTopK(q, emb, hq, k = 10, nProbe = 4))
    spark.conf.set("graft.hier.relationBroadcastCeiling", "0")
    try {
      val assigned = Ivf.assignCellsJoin(emb, hq)
      val plan = assigned.queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"), plan.take(2000))
      assert(!plan.contains("BroadcastHashJoin"), plan.take(2000))
      // build side must be the centroid relation, not the exploded
      // corpus — "BuildRight" with the relation on the right
      assert(plan.contains("BuildRight"), plan.take(2000))
      assert(assigned.select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap == assignB,
        "shuffle-path assignment diverged from the broadcast path")
      assert(rows(Ivf.ivfTopK(q, emb, hq, k = 10, nProbe = 4))
        == topB,
        "shuffle-path probe results diverged from the broadcast path")
      // the ceiling accepts Spark byte strings (the spelling every
      // built-in size conf uses): 1k < the 8-cell relation's ~2.3 KB
      // estimate, so the shuffle plan must hold
      spark.conf.set("graft.hier.relationBroadcastCeiling", "1k")
      assert(Ivf.assignCellsJoin(emb, hq).queryExecution.executedPlan
        .toString.contains("ShuffledHashJoin"))
      // and a malformed value names the conf key instead of surfacing
      // a bare NumberFormatException from inside plan construction
      spark.conf.set("graft.hier.relationBroadcastCeiling", "4x")
      val e = intercept[IllegalArgumentException] {
        Ivf.assignCellsJoin(emb, hq).queryExecution.executedPlan: Unit
      }
      assert(e.getMessage.contains("relationBroadcastCeiling"),
        e.getMessage)
    } finally spark.conf.unset("graft.hier.relationBroadcastCeiling")
  }

  test("ivfTopKHier with full supercell probing row-equals ivfTopK") {
    import org.apache.spark.sql.functions.col
    val centroids = Ivf.fitCentroids(emb, nCells = 8)
    val supers = Ivf.fitCentroids(emb, nCells = 3, seed = 7L)
    val hq = Ivf.HierarchicalQuantizer(supers, centroids, superProbe = 3)
    val q = emb.filter(col("vec_id") < 5)
    val viaHier = rows(Ivf.ivfTopK(q, emb, hq, k = 10, nProbe = 4))
    val viaLit = rows(Ivf.ivfTopK(q, emb, centroids, k = 10, nProbe = 4))
    assert(viaHier == viaLit)
    // the CoarseQuantizer dispatch hits the same paths
    assert(rows(Ivf.ivfTopK(q, emb, Ivf.LiteralQuantizer(centroids),
      10, 4, "vec_id", "embedding", 100000)) == viaLit)
    assert(rows(Ivf.ivfTopK(q, emb, hq,
      10, 4, "vec_id", "embedding", 100000)) == viaHier)
  }

  test("fitQuantizer: literal family under MaxAutoCells, hierarchical past it") {
    import org.apache.spark.sql.functions.col
    assert(Ivf.fitQuantizer(emb, nCells = 4)
      .isInstanceOf[Ivf.LiteralQuantizer])
    // the unbounded √N rule past the ceiling selects the hierarchical
    // family (nCells survives unclamped — the whole point of the path)
    assert(Ivf.autoNCellsUnbounded(1000000000L) == 31623)
    assert(Ivf.autoNCells(1000000000L) == Ivf.MaxAutoCells)
    val hq = Ivf.fitQuantizer(emb, nCells = Ivf.MaxAutoCells + 1)
    assert(hq.isInstanceOf[Ivf.HierarchicalQuantizer])
    // the degenerate fewer-distinct-points-than-cells fit SHRINKS the
    // cell count to the distinct sample size instead of padding the
    // init with duplicates (ADVICE r15: the distributed Lloyd never
    // reseeds, so padded duplicates stayed permanently merged) — on
    // this corpus the bounded sample is the whole corpus, so the cell
    // count lands at the number of distinct embeddings
    val nDistinct = emb.select("embedding").distinct().count()
    assert(hq.asInstanceOf[Ivf.HierarchicalQuantizer].nCells ==
      math.min(Ivf.MaxAutoCells + 1, nDistinct.toInt))
    // degenerate nCells >> corpus still searches correctly: with FULL
    // supercell probing and exhaustive nProbe (every cell holds ≤1
    // vector) the candidate set is the whole corpus, so the result must
    // be EXACTLY brute force — the ns_knn_ivf_exhaustive identity on the
    // hierarchical path
    val hqFull = hq.asInstanceOf[Ivf.HierarchicalQuantizer]
    val q = emb.filter(col("vec_id") < 3)
    val hier = rows(Ivf.ivfTopK(q, emb,
      hqFull.copy(superProbe = hqFull.nSuper), k = 5,
      nProbe = Ivf.MaxAutoCells + 1))
    val brute = rows(Similarity.bruteForceTopK(q, emb, k = 5))
    assert(hier == brute)
  }

  test("hierarchical stored index: serve == fit == literal under full probing; " +
       "mismatched quantizer refuses") {
    import graft.northstar.Artifacts
    import org.apache.spark.sql.functions.col
    val centroids = Ivf.fitCentroids(emb, nCells = 8)
    val supers = Ivf.fitCentroids(emb, nCells = 3, seed = 7L)
    val hq = Ivf.HierarchicalQuantizer(supers, centroids, superProbe = 3)
    val path = TestTmp.dir("ivf-hier") + "/idx"
    Artifacts.saveIvfIndex(emb, path, hq)
    val (index, splits) = Artifacts.loadIvfIndex(spark, path, hq)
    val q = emb.filter(col("vec_id") < 5)
    val served = rows(
      Ivf.ivfServeTopK(q, index, hq, splits, k = 10, nProbe = 8))
    // serve == fit (the ivfServeTopK == ivfTopK contract, hier family)
    assert(served == rows(Ivf.ivfTopK(q, emb, hq, k = 10, nProbe = 8)))
    // and with full supercell probing both equal the LITERAL family
    assert(served == rows(Ivf.ivfTopK(q, emb, centroids, k = 10, nProbe = 8)))
    // the _params pin: a different superProbe is a different quantizer —
    // corpus assignment and probing would disagree — so the load refuses
    val e = intercept[IllegalArgumentException] {
      Artifacts.loadIvfIndex(spark, path, hq.copy(superProbe = 2))
    }
    assert(e.getMessage != null && e.getMessage.nonEmpty)
  }

  test("hierarchical assignment: null embeddings keep their row with a " +
       "NULL cell and the census refuses loudly (literal-path parity)") {
    import org.apache.spark.sql.functions.{col, lit, when}
    // an inner vector-reattach join would silently DROP the row —
    // the silent-vanish class the literal path's named refusal exists
    // to prevent (code-review r15)
    val centroids = Ivf.fitCentroids(emb, nCells = 4)
    val supers = Ivf.fitCentroids(emb, nCells = 2, seed = 7L)
    val hq = Ivf.HierarchicalQuantizer(supers, centroids, superProbe = 2)
    val nullId = emb.select("vec_id").head().getLong(0)
    val withNull = emb.select(col("vec_id"),
      when(col("vec_id") === nullId, lit(null).cast("array<float>"))
        .otherwise(col("embedding")).as("embedding"))
    val assigned = Ivf.assignCellsJoin(withNull, hq)
    assert(assigned.count() == emb.count(), "null-embedding row dropped")
    assert(assigned.filter(col("vec_id") === nullId)
      .head().isNullAt(2), "null embedding must map to a NULL cell")
    val e = intercept[IllegalArgumentException] {
      Ivf.splitBitsFromCensus(assigned.groupBy("cell").count(), 100000)
    }
    assert(e.getMessage.contains("null embeddings"), e.getMessage)
  }

  test("hierarchical assignment refuses duplicated ids in-plan " +
       "(the per-id argmax would collapse distinct rows to one cell)") {
    import org.apache.spark.sql.functions.col
    val centroids = Ivf.fitCentroids(emb, nCells = 4)
    val supers = Ivf.fitCentroids(emb, nCells = 2, seed = 7L)
    val hq = Ivf.HierarchicalQuantizer(supers, centroids, superProbe = 2)
    val dup = emb.unionAll(emb.limit(1)) // one id twice
    val e = intercept[Exception] {
      // the refusal rides the cell column (every real consumer — build,
      // census, probe — reads it; a count() would prune it away)
      Ivf.assignCellsJoin(dup, hq).select("cell").collect()
    }
    // Spark wraps the raise_error; match the named message anywhere in
    // the chain
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("duplicate ids")),
      messages(e).mkString(" | "))
  }

  test("hierarchical assignment refuses NULL ids up front with the " +
       "problem named (the reattach is an id equi-join)") {
    import org.apache.spark.sql.functions.{col, lit, when}
    // pre-fix: a null-id row never matched its own argmax row in the
    // reattach join, so it got a NULL cell DESPITE a valid embedding —
    // the census then misreported it as a null-embedding row (ADVICE
    // r15). Now the named null-ID refusal fires instead.
    val centroids = Ivf.fitCentroids(emb, nCells = 4)
    val supers = Ivf.fitCentroids(emb, nCells = 2, seed = 7L)
    val hq = Ivf.HierarchicalQuantizer(supers, centroids, superProbe = 2)
    val someId = emb.select("vec_id").head().getLong(0)
    val withNullId = emb.select(
      when(col("vec_id") === someId, lit(null).cast("long"))
        .otherwise(col("vec_id")).as("vec_id"), col("embedding"))
    val e = intercept[Exception] {
      Ivf.assignCellsJoin(withNullId, hq).select("cell").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("null id")),
      messages(e).mkString(" | "))
  }

  test("fitHierarchical trains on corpora with repeated (or no useful) " +
       "ids — the fit loop assigns under a synthetic per-row id") {
    // pre-fix: every Lloyd iteration routed through assignCellsJoin on
    // the caller's id column, so FITTING hard-failed on repeated ids
    // via the duplicate-id tripwire — which protects indexing, not
    // training, where collapsing duplicates is harmless (ADVICE r15).
    val dup = emb.unionAll(emb.limit(3)) // three ids twice
    val hq = Ivf.fitHierarchical(dup, nCells = 6, iters = 1)
    assert(hq.nCells == 6)
    // and the fit is usable: full-probing search over the ORIGINAL
    // corpus (unique ids) stays well-formed
    import org.apache.spark.sql.functions.col
    val q = emb.filter(col("vec_id") < 2)
    val res = Ivf.ivfTopK(q, emb,
      hq.copy(superProbe = hq.nSuper), k = 5, nProbe = 6)
    assert(res.groupBy("query_id").count().collect()
      .forall(_.getLong(1) == 5))
  }

  test("fitHierarchical releases its localCheckpoint blocks (code-" +
       "review r17: Dataset.unpersist is a CacheManager no-op for a " +
       "checkpointed frame)") {
    // a long-lived app fitting repeatedly must not accumulate pinned
    // corpus-sized block sets; the fit loop's only materialization is
    // the synthetic-id checkpoint, so the persistent-RDD census must
    // return to its pre-fit value once the fit returns
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Ivf.fitHierarchical(emb, nCells = 6, iters = 1): Unit
    val leaked =
      spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty,
      s"fitHierarchical left ${leaked.size} persistent RDD(s) pinned")
  }
  // ---- stored-cells (three-level) quantizer, continuation (b), r17 ----

  /** A StoredQuantizer with the SAME centroid content as `hq`, its cell
    * relation written to parquet — the identity-pin fixture: every
    * stored-vs-hier comparison below is exact because the quantizers
    * agree bit-for-bit on centroids, supercells, and tie-breaks.
    */
  private def storedFromHq(hq: Ivf.HierarchicalQuantizer,
                           prefix: String): Ivf.StoredQuantizer = {
    val cellsPath = tmpDir(prefix) + "/cells"
    hq.cellsRelation(spark).select("cell", "sup", "ccv")
      .write.parquet(cellsPath)
    Ivf.StoredQuantizer(Ivf.LiteralQuantizer(hq.superCentroids),
      cellsPath, hq.nCells, hq.centroids(0).length, hq.superProbe)
  }

  test("stored-cells assignment with full supercell probing IS cellOf " +
       "and row-equals the hierarchical assignment (same content)") {
    import org.apache.spark.sql.functions.col
    val centroids = Ivf.fitCentroids(emb, nCells = 8)
    val supers = Ivf.fitCentroids(emb, nCells = 3, seed = 7L)
    val hq = Ivf.HierarchicalQuantizer(supers, centroids, superProbe = 3)
    val sq = storedFromHq(hq, "ivf-stored-assign")
    // plan-shape asserts below need the freshly-built plan: a tracked
    // persist from an earlier suite over a value-identical subtree
    // would serve it as an InMemoryRelation (the PlanQualitySpec
    // planOf rationale)
    graft.northstar.Dedup.releasePersisted()
    spark.catalog.clearCache()
    val viaStored = Ivf.assignCellsStored(emb, sq)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val kernelCells = emb.select(col("vec_id"),
        Ivf.cellOf(col("embedding"), centroids).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaStored == kernelCells)
    // and the relation never rides the plan as a literal: the packed
    // relation is parquet-scan-backed
    val plan = Ivf.assignCellsStored(emb, sq)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("ivfTopKStored: full probing row-equals the literal and hier " +
       "families; PARTIAL probing row-equals hier (same content); " +
       "dispatch routes the family") {
    import org.apache.spark.sql.functions.col
    val centroids = Ivf.fitCentroids(emb, nCells = 8)
    val supers = Ivf.fitCentroids(emb, nCells = 3, seed = 7L)
    val hq = Ivf.HierarchicalQuantizer(supers, centroids, superProbe = 3)
    val sq = storedFromHq(hq, "ivf-stored-topk")
    val q = emb.filter(col("vec_id") < 5)
    val full = rows(Ivf.ivfTopK(q, emb, sq, k = 10, nProbe = 4))
    assert(full == rows(Ivf.ivfTopK(q, emb, centroids, k = 10, nProbe = 4)))
    assert(full == rows(Ivf.ivfTopK(q, emb, hq, k = 10, nProbe = 4)))
    // partial supercell probing: the approximation must agree with the
    // hier family's on identical content — same candidate admission,
    // same tie-breaks, one family over
    val hqP = hq.copy(superProbe = 1)
    val sqP = sq.copy(superProbe = 1)
    assert(rows(Ivf.ivfTopK(q, emb, sqP, k = 10, nProbe = 2))
      == rows(Ivf.ivfTopK(q, emb, hqP, k = 10, nProbe = 2)))
    assert(rows(Ivf.ivfTopK(q, emb, sq,
      10, 4, "vec_id", "embedding", 100000)) == full)
  }

  test("stored-cells index: serve == fit; params pin refuses a " +
       "different quantizer AND a rewritten cells relation") {
    import graft.northstar.Artifacts
    import org.apache.spark.sql.functions.col
    val centroids = Ivf.fitCentroids(emb, nCells = 8)
    val supers = Ivf.fitCentroids(emb, nCells = 3, seed = 7L)
    val hq = Ivf.HierarchicalQuantizer(supers, centroids, superProbe = 3)
    val sq = storedFromHq(hq, "ivf-stored-serve")
    val path = tmpDir("ivf-stored-idx") + "/idx"
    Artifacts.saveIvfIndex(emb, path, sq)
    val (index, splits) = Artifacts.loadIvfIndex(spark, path, sq)
    val q = emb.filter(col("vec_id") < 5)
    val served = rows(
      Ivf.ivfServeTopK(q, index, sq, splits, k = 10, nProbe = 8))
    assert(served ==
      rows(Ivf.ivfTopK(q, emb, sq, k = 10, nProbe = 8)))
    // full probing: the stored family serves brute-exactly
    assert(served == rows(Similarity.bruteForceTopK(q, emb, k = 10)))
    // params pin: a different superProbe is a different quantizer
    intercept[IllegalArgumentException] {
      Artifacts.loadIvfIndex(spark, path, sq.copy(superProbe = 2))
    }
    // params pin: different cells CONTENT under the same path — the
    // digest is content-derived, so a silently rewritten relation
    // refuses
    val otherCells = tmpDir("ivf-stored-rewrite") + "/cells"
    hq.copy(centroids = centroids.map(_.map(v => v + 1.0f)))
      .cellsRelation(spark).select("cell", "sup", "ccv")
      .write.parquet(otherCells)
    intercept[IllegalArgumentException] {
      Artifacts.loadIvfIndex(spark, path,
        sq.copy(cellsPath = otherCells))
    }
  }

  test("stored-cells relation joins degrade to shuffle-hash past the " +
       "broadcast ceiling with identical results") {
    import org.apache.spark.sql.functions.col
    val centroids = Ivf.fitCentroids(emb, nCells = 8)
    val supers = Ivf.fitCentroids(emb, nCells = 3, seed = 7L)
    val hq = Ivf.HierarchicalQuantizer(supers, centroids, superProbe = 3)
    val sq = storedFromHq(hq, "ivf-stored-shj")
    val q = emb.filter(col("vec_id") < 5)
    val assignB = Ivf.assignCellsStored(emb, sq).select("vec_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val topB = rows(Ivf.ivfTopK(q, emb, sq, k = 10, nProbe = 4))
    // drop the reference run's tracked persists: the stored family's
    // relation is parquet-backed (same path ⇒ same canonical plan), so
    // the cached assignment subtree would otherwise serve the ceiling=0
    // run from an InMemoryRelation and hide the join-shape change the
    // assertions below pin (the hier family dodges this only because
    // its relation is a fresh RDD per call)
    graft.northstar.Dedup.releasePersisted()
    spark.catalog.clearCache()
    spark.conf.set("graft.hier.relationBroadcastCeiling", "0")
    try {
      val assigned = Ivf.assignCellsStored(emb, sq)
      val plan = assigned.queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"), plan.take(2000))
      assert(plan.contains("BuildRight"), plan.take(2000))
      assert(assigned.select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap == assignB)
      assert(rows(Ivf.ivfTopK(q, emb, sq, k = 10, nProbe = 4))
        == topB)
    } finally spark.conf.unset("graft.hier.relationBroadcastCeiling")
  }

  test("stored-cells assignment refuses NULL and duplicated ids " +
       "in-plan (the shared tripwires, third family over)") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val centroids = Ivf.fitCentroids(emb, nCells = 8)
    val supers = Ivf.fitCentroids(emb, nCells = 3, seed = 7L)
    val hq = Ivf.HierarchicalQuantizer(supers, centroids, superProbe = 3)
    val sq = storedFromHq(hq, "ivf-stored-tripwire")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    val withNull = emb.withColumn("vec_id",
      when(col("vec_id") === 3L, lit(null)).otherwise(col("vec_id")))
    val e1 = intercept[Exception] {
      Ivf.assignCellsStored(withNull, sq).collect(): Unit
    }
    assert(messages(e1).exists(_.contains("null id")),
      messages(e1).mkString(" | "))
    val dup = emb.unionAll(emb.filter(col("vec_id") === 3L))
    val e2 = intercept[Exception] {
      Ivf.assignCellsStored(dup, sq).collect(): Unit
    }
    assert(messages(e2).exists(_.contains("duplicate ids")),
      messages(e2).mkString(" | "))
  }

  test("fitStored: deterministic distributed fit, no driver cells, " +
       "scratch swept, usable search with generous probing") {
    import org.apache.spark.sql.functions.col
    val base = tmpDir("ivf-stored-fit")
    val sq1 = Ivf.fitStored(emb, nCells = 8, base + "/cells1")
    val sq2 = Ivf.fitStored(emb, nCells = 8, base + "/cells2")
    assert(sq1.nCells == 8 && sq2.nCells == 8)
    // deterministic: the two fits' relations agree row-for-row
    assert(rows(spark.read.parquet(sq1.cellsPath))
      == rows(spark.read.parquet(sq2.cellsPath)))
    // iteration scratch is swept on success
    assert(!new java.io.File(sq1.cellsPath + ".fit").exists())
    // full supercell probing + exhaustive nProbe == brute force (the
    // exactness-by-construction identity, stored family)
    val q = emb.filter(col("vec_id") < 3)
    assert(rows(Ivf.ivfTopK(q, emb,
        sq1.copy(superProbe = sq1.nSuper), k = 5, nProbe = 8))
      == rows(Similarity.bruteForceTopK(q, emb, k = 5)))
    // and the checkpoint blocks are released (the fitHierarchical
    // discipline)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Ivf.fitStored(emb, nCells = 6, base + "/cells3"): Unit
    val leaked =
      spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty,
      s"fitStored left ${leaked.size} persistent RDD(s) pinned")
  }

  test("fitStored under a HIERARCHICAL top level (the full three " +
       "levels): full probing stays brute-exact") {
    import org.apache.spark.sql.functions.col
    val base = tmpDir("ivf-stored-3lvl")
    // force the three-level shape at test scale: a hier top level over
    // 6 supercells (super2 = its own top), cells stored
    val topHq = Ivf.fitHierarchical(emb, nCells = 6, iters = 1)
    val sq = Ivf.fitStored(emb, nCells = 12, base + "/cells",
      superQOverride = Some(topHq.copy(superProbe = topHq.nSuper)))
    assert(sq.nSuper == 6)
    val q = emb.filter(col("vec_id") < 3)
    assert(rows(Ivf.ivfTopK(q, emb,
        sq.copy(superProbe = sq.nSuper), k = 5, nProbe = 12))
      == rows(Similarity.bruteForceTopK(q, emb, k = 5)))
  }

  test("fitStored shrinks (with a WARN) when the corpus holds fewer " +
       "distinct vectors than requested cells") {
    import org.apache.spark.sql.functions.col
    val tiny = emb.filter(col("vec_id") < 4)
    val sq = Ivf.fitStored(tiny, nCells = 16,
      tmpDir("ivf-stored-shrink") + "/cells")
    assert(sq.nCells == 4)
  }

  test("fitStored prunes supercells that own zero cells from a " +
       "literal top (empty supers waste probe slots and can orphan " +
       "rows to NULL cells under partial probing)") {
    import org.apache.spark.sql.functions.col
    // the 4-supercell floor exceeds what a 4-cell fit occupies on this
    // corpus — pre-prune, rows whose superProbe probed supercells all
    // owned zero cells were orphaned (valid embedding, NULL cell)
    val sq = Ivf.fitStored(emb, nCells = 4,
      tmpDir("ivf-stored-prune") + "/cells")
    val rel = spark.read.parquet(sq.cellsPath)
    val owned = rel.select("sup").distinct().count()
    assert(owned == sq.nSuper,
      s"every post-prune supercell must own >= 1 cell: " +
        s"$owned owners vs nSuper=${sq.nSuper}")
    assert(sq.superProbe <= sq.nSuper)
    // sup ids are renumbered compactly
    assert(rel.select("sup").distinct().collect().map(_.getInt(0))
      .sorted.toSeq == (0 until sq.nSuper))
    // no orphans under the fit's own partial probing
    assert(Ivf.assignCellsStored(emb, sq)
      .filter(col("cell").isNull).count() == 0)
    // and full probing stays brute-exact through the pruned top
    val q = emb.filter(col("vec_id") < 3)
    assert(rows(Ivf.ivfTopK(q, emb,
        sq.copy(superProbe = sq.nSuper), k = 5, nProbe = 4))
      == rows(Similarity.bruteForceTopK(q, emb, k = 5)))
  }

  test("stored-cells assignment with a HIERARCHICAL top level refuses " +
       "duplicated ids in-plan (ADVICE r17: the ranking window used " +
       "to merge their candidates below the __cands tripwire)") {
    import org.apache.spark.sql.functions.col
    val base = tmpDir("ivf-stored-hiertop-dup")
    // the full three-level shape: a hier top level, cells stored —
    // probeSupsFrame's hier branch routes through probeCellsJoin,
    // whose per-query_id ranking window is exactly where duplicates
    // used to collapse silently
    val topHq = Ivf.fitHierarchical(emb, nCells = 6, iters = 1)
    val sq = Ivf.fitStored(emb, nCells = 12, base + "/cells",
      superQOverride = Some(topHq.copy(superProbe = topHq.nSuper)))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    val dup = emb.unionAll(emb.filter(col("vec_id") === 3L))
    val e = intercept[Exception] {
      Ivf.assignCellsStored(dup, sq).select("cell").collect(): Unit
    }
    assert(messages(e).exists(_.contains("duplicate ids")),
      messages(e).mkString(" | "))
    // and unique ids still clear the guard: the hier-top assignment
    // stays well-formed, one row per input row
    assert(Ivf.assignCellsStored(emb, sq).count() == emb.count())
  }

  test("stored-family null-cell refusal names the right cause: " +
       "empty probed supercells vs null embeddings (ADVICE r17)") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val centroids = Ivf.fitCentroids(emb, nCells = 8)
    val supers = Ivf.fitCentroids(emb, nCells = 3, seed = 7L)
    val hq = Ivf.HierarchicalQuantizer(supers, centroids, superProbe = 3)
    // a cells relation that owns cells only under supercell 0: a row
    // whose single probed supercell is 1 or 2 left-join-misses into a
    // NULL cell DESPITE a valid embedding — pre-fix the refusal blamed
    // null embeddings and sent the operator to repair healthy rows
    val cellsPath = tmpDir("ivf-stored-nullcell") + "/cells"
    hq.cellsRelation(spark).select("cell", "sup", "ccv")
      .filter(col("sup") === 0).write.parquet(cellsPath)
    val nOwned = spark.read.parquet(cellsPath).count().toInt
    val sq = Ivf.StoredQuantizer(
      Ivf.LiteralQuantizer(hq.superCentroids), cellsPath, nOwned,
      centroids(0).length, superProbe = 1)
    val q = emb.filter(col("vec_id") < 2)
    val e1 = intercept[IllegalArgumentException] {
      Ivf.ivfTopK(q, emb, sq, k = 5, nProbe = 4): Unit
    }
    assert(e1.getMessage.contains("zero cell centroids"), e1.getMessage)
    assert(!e1.getMessage.contains("null embeddings"), e1.getMessage)
    // a null embedding is still blamed as such, and only as such
    val sqFull = storedFromHq(hq, "ivf-stored-nullemb")
    val withNull = emb.withColumn("embedding",
      when(col("vec_id") === 3L, lit(null)).otherwise(col("embedding")))
    val e2 = intercept[IllegalArgumentException] {
      Ivf.ivfTopK(q, withNull, sqFull, k = 5, nProbe = 4): Unit
    }
    assert(e2.getMessage.contains("null embeddings"), e2.getMessage)
    assert(!e2.getMessage.contains("zero cell centroids"), e2.getMessage)
  }

  test("nProbe below 1 is refused before any Spark job under every " +
       "quantizer family (the relation families used to return an " +
       "empty result with no error)") {
    import graft.northstar.{Artifacts, Pq}
    import org.apache.spark.sql.functions.col
    val centroids = Ivf.fitCentroids(emb, nCells = 8)
    val supers = Ivf.fitCentroids(emb, nCells = 3, seed = 7L)
    val hq = Ivf.HierarchicalQuantizer(supers, centroids, superProbe = 2)
    val cb = Pq.fitCodebooks(emb, m = 8, ksub = 16)
    val q = emb.filter(col("vec_id") < 2)
    for ((name, quant) <- Seq[(String, Ivf.CoarseQuantizer)](
        "literal" -> Ivf.LiteralQuantizer(centroids),
        "hierarchical" -> hq,
        "stored" -> storedFromHq(hq, "ivf-nprobe0"))) {
      val p = tmpDir(s"ivf-nprobe0-$name")
      Artifacts.saveIvfIndex(emb, p + "/ivf", quant)
      Artifacts.saveIvfPqIndex(emb, p + "/pq", quant, cb)
      val (ivfIdx, ivfSplits) = Artifacts.loadIvfIndex(spark, p + "/ivf",
        quant)
      val (pqIdx, pqSplits) = Artifacts.loadIvfPqIndex(spark, p + "/pq",
        quant, cb)
      for ((shape, call) <- Seq[(String, () => Unit)](
          "ivfTopK" -> (() => Ivf.ivfTopK(q, emb, quant, nProbe = 0)),
          "ivfServeTopK" -> (() =>
            Ivf.ivfServeTopK(q, ivfIdx, quant, ivfSplits, nProbe = 0)),
          "ivfPqTopK" -> (() =>
            Pq.ivfPqTopK(q, emb, quant, cb, nProbe = 0)),
          "ivfPqServeTopK" -> (() =>
            Pq.ivfPqServeTopK(q, pqIdx, emb, quant, pqSplits, cb,
              nProbe = 0)))) {
        var e: IllegalArgumentException = null
        val jobs = jobStarts {
          e = intercept[IllegalArgumentException] { call() }
        }
        assert(e.getMessage.contains("nProbe must be >= 1") &&
          e.getMessage.contains("got 0"), s"$name $shape: ${e.getMessage}")
        assert(jobs.isEmpty, s"$name $shape ran ${jobs.size} job(s)")
      }
    }
  }
}
