package graft

import graft.engine.{DateParse, SchemaMatch, Transforms}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (SURVEY.md §5.3): idempotence / invariants on the pure
  * driver-side pieces, plus Spark-level invariants on small generated
  * frames. (scalacheck driven directly — the scalatestplus bridge isn't a
  * dependency.)
  */
class PropertySpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default, p)
    assert(res.passed, res.status.toString)
  }

  val word: Gen[String] = Gen.alphaNumStr.map(_.take(12))

  test("SchemaMatch.ratio is symmetric-in-score-range, reflexive, bounded") {
    check(Prop.forAll(word, word) { (a, b) =>
      val r = SchemaMatch.ratio(a, b)
      r >= 0.0 && r <= 1.0 && SchemaMatch.ratio(a, a) == 1.0
    })
  }

  test("DateParse output is canonical: reparsing a parsed date is identity") {
    val dateGen = for {
      y <- Gen.choose(1900, 2099); m <- Gen.choose(1, 12); d <- Gen.choose(1, 28)
    } yield f"$d%02d/$m%02d/$y%04d"
    check(Prop.forAll(dateGen) { s =>
      val once = DateParse.parseDate(s)
      once != null && DateParse.parseDate(once) == once
    })
  }

  test("DateParse never throws on arbitrary strings") {
    check(Prop.forAll(Gen.asciiPrintableStr) { s =>
      DateParse.parseDate(s); true
    })
  }

  test("month-name formats agree with the equivalent numeric form") {
    val gen = for {
      y <- Gen.choose(1900, 2099); m <- Gen.choose(1, 12); d <- Gen.choose(1, 28)
    } yield (y, m, d)
    val months = Seq("January", "February", "March", "April", "May", "June",
      "July", "August", "September", "October", "November", "December")
    check(Prop.forAll(gen) { case (y, m, d) =>
      val expect = f"$y%04d-$m%02d-$d%02d"
      DateParse.parseDate(s"${months(m - 1)} $d, $y") == expect &&
        DateParse.parseDate(s"$d ${months(m - 1)} $y") == expect &&
        DateParse.parseDate(s"${months(m - 1)} $d, $y 10:30:00") == expect
    })
  }

  test("jl kernel quantization (mirrored Math.round) equals Spark round's decimal HALF_UP") {
    // the kernel quantizes with binary nearest-ties-away-from-zero; the
    // oracle replays Spark round() = BigDecimal-decimal HALF_UP. The two
    // agree on every float×1e4 (shortest-decimal ties coincide with
    // binary ties) — this pins it across the float range including
    // exact halves (x = k/2e4 are representable floats)
    val gen = Gen.oneOf(
      Gen.choose(-10f, 10f),
      Gen.choose(-200000, 200000).map(_ / 20000.0f)) // dense in exact halves
    check(Prop.forAll(gen) { x =>
      val a = x.toDouble * 10000.0
      val kern = if (a < 0) -Math.round(-a) else Math.round(a)
      val bd = BigDecimal(a)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      kern == bd
    })
  }
}

/** Spark-level invariants on small generated frames. */
class SparkPropertySpec extends SparkSpecBase {
  import spark.implicits._

  // per-FIXTURE seeds, not one shared mutable Random: a shared stream
  // makes each test's data depend on how many draws earlier tests
  // consumed, so a full-suite failure regenerates DIFFERENT frames
  // under testOnly -z and becomes unreproducible (code-review r14)
  private def randomDf(n: Int, seed: Int) = {
    val rng = new scala.util.Random(seed)
    val rows = Seq.fill(n)((rng.nextInt(5).toLong,
      if (rng.nextBoolean()) s"  v${rng.nextInt(3)}  " else null,
      if (rng.nextBoolean()) rng.nextInt(100).toDouble else Double.NaN))
      .map { case (a, b, c) => (a, b, if (c.isNaN) None else Some(c)) }
    rows.toDF("k", "s", "x")
  }

  test("T1 idempotent and row-subset on random frames") {
    (1 to 3).foreach { i =>
      val df = randomDf(50, 42 + i)
      val once = Transforms.removeDuplicates(df)
      assert(Transforms.removeDuplicates(once).count() == once.count())
      assert(once.count() <= df.count())
      assert(once.exceptAll(df).count() == 0) // no invented rows
    }
  }

  test("T4 idempotent; T2 then T2 is T2") {
    val df = randomDf(50, 46)
    val t4 = Transforms.trimWhitespace(df)
    assert(rows(Transforms.trimWhitespace(t4)) == rows(t4))
    val t2 = Transforms.removeNullRows(df)
    assert(rows(Transforms.removeNullRows(t2)) == rows(t2))
  }

  private def randomDocs(n: Int, seed: Int) = {
    val rng = new scala.util.Random(seed)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    (0 until n).map { i =>
      val words = Seq.fill(3 + rng.nextInt(20))(vocab(rng.nextInt(vocab.size)))
      val text = words.mkString(" ")
      (i.toLong, s"s${rng.nextInt(6)}", text, text.length.toLong)
    }.toDF("doc_id", "source", "text", "n_chars")
  }

  test("sourceCap: exact per-group counts, output subset, idempotent") {
    import graft.northstar.Curation
    (1 to 3).foreach { cap =>
      val df = randomDocs(60, 47)
      val out = Curation.sourceCap(df, cap)
      val expected = df.groupBy("source").count().collect()
        .map(r => r.getString(0) -> math.min(cap.toLong, r.getLong(1))).toMap
      val got = out.groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expected, s"cap=$cap")
      assert(out.exceptAll(df).count() == 0, "no invented rows")
      assert(rows(Curation.sourceCap(out, cap)) == rows(out), "idempotent")
    }
  }

  test("oovStats: bounded by token count, zero OOV under a full vocab, monotone in K") {
    import graft.northstar.TextAnalysis
    val df = randomDocs(40, 48).select("doc_id", "text")
    val full = TextAnalysis.oovStats(df, topK = 10000).collect()
    assert(full.nonEmpty)
    assert(full.forall(_.getAs[Long]("n_oov") == 0L),
      "a vocab covering every term leaves no OOV instance")
    def oov(k: Int) = TextAnalysis.oovStats(df, k).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_oov")))).toMap
    val k3 = oov(3); val k6 = oov(6)
    assert(k3.forall { case (_, (nt, no)) => no <= nt })
    assert(k6.forall { case (id, (_, no)) => no <= k3(id)._2 },
      "growing the vocab never increases OOV")
  }

  test("vocabGrowth: new terms partition the vocabulary, cumulative hits the total") {
    import graft.northstar.TextAnalysis
    import org.apache.spark.sql.functions.{col, explode, lower, split}
    val df = randomDocs(50, 49).withColumn("b", col("doc_id") % 5)
    val out = TextAnalysis.vocabGrowth(df, col("b")).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("new_terms"),
        r.getAs[Long]("cum_vocab"))).sortBy(_._1)
    val total = df.select(explode(split(lower(col("text")), "\\W+")))
      .distinct().count()
    assert(out.map(_._2).sum == total, "every term charged exactly once")
    assert(out.last._3 == total)
    assert(out.map(_._3).toSeq == out.map(_._3).toSeq.sorted, "cumulative monotone")
    assert(out.forall(_._2 > 0), "empty buckets produce no row")
  }

  test("winnowing guarantee: every planted shared run of >= window+k-1 tokens is detected") {
    import graft.northstar.Dedup
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 6) {
      // two docs of unique per-doc tokens with a shared 8-token run
      // (window + k - 1 = 4 + 5 - 1) planted at random offsets
      val shared = (1 to 8).map(i => s"s${trial}_$i")
      def doc(prefix: String): Seq[String] = {
        val n = 10 + rnd.nextInt(30)
        val toks = (1 to n).map(i => s"${prefix}_$i")
        val at = rnd.nextInt(n + 1)
        toks.take(at) ++ shared ++ toks.drop(at)
      }
      val docs = Seq(
        (1L, doc("a").mkString(" ")),
        (2L, doc("b").mkString(" ")),
        (3L, (1 to 40).map(i => s"c_$i").mkString(" ")), // no shared run
      ).toDF("doc_id", "text")
      val pairs = Dedup.winnowPairs(docs, k = 5, window = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 2L)), s"trial $trial missed the planted run")
      assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), s"trial $trial false pair")
    }
  }

  test("probe training: update equals BigDecimal HALF_UP average-gradient step; invariant under corpus replication") {
    import graft.northstar.Probe
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 4) {
      val dim = 6
      val data = (0 until 40).map { i =>
        // components exactly on the 1e4 grid so quantization is identity
        // and the BigDecimal reference sees the same integers
        val v = Seq.fill(dim)((rnd.nextInt(2001) - 1000) / 10000.0f)
        (i.toLong, v, rnd.nextInt(10))
      }
      val df = data.toDF("vec_id", "embedding", "label")
      val w0 = Seq.fill(dim)(rnd.nextInt(201).toLong - 100)
      val got = Probe.trainStepQ(df, w0)
      // independent formulation: exact rational average-gradient step
      // rounded HALF_UP (round half away from zero) — the semantic the
      // floor-division trick implements
      val q = data.map { case (_, v, lab) =>
        (v.map(x => math.round(x.toDouble * 10000)), if (lab < 5) 1L else -1L)
      }
      val n = q.size
      val d = java.math.BigDecimal.valueOf(2L * n * 10000L * 10000L)
      val want = (0 until dim).map { j =>
        val g = q.map { case (x, y) =>
          val m = x.indices.map(i => BigInt(x(i)) * w0(i)).sum
          (m - BigInt(y) * 100000000L) * x(j)
        }.sum
        new java.math.BigDecimal(
          (BigInt(w0(j)) * BigInt(d.toBigInteger) - g).bigInteger)
          .divide(d, 0, java.math.RoundingMode.HALF_UP).longValueExact()
      }
      assert(got == want, s"trial $trial: integer step != HALF_UP reference")
      // replication invariance: duplicating the corpus k× scales both the
      // gradient and the divisor by k, so the update — and therefore the
      // whole training trajectory — is unchanged. This is the property
      // that makes the fixed-point recurrence corpus-size-stable.
      val df3 = df.unionAll(df).unionAll(df)
      assert(Probe.trainStepQ(df3, w0) == got,
        s"trial $trial: 3x-replicated corpus moved the update")
      assert(Probe.trainQ(df3, dim, iters = 2) == Probe.trainQ(df, dim, iters = 2),
        s"trial $trial: 3x-replicated corpus moved the trajectory")
    }
  }

  test("minhashPairsAgainst agrees with self-join LSH restricted to cross-slice pairs") {
    import graft.northstar.Dedup
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val w = split(trim(col("text")), "\\s+")
    val incoming = base.filter(size(w) >= 30)
      .select((col("doc_id") + 100000).as("doc_id"),
        array_join(slice(w, lit(1), size(w) - 1), " ").as("text"))
    val cross = Dedup.minhashPairsAgainst(incoming, base, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val self = Dedup.minhashPairs(base.union(incoming), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a < 100000L && b >= 100000L }
      .map { case (a, b) => (b, a) }.toSet
    assert(cross == self && cross.nonEmpty)
  }

  test("hashUnit: ids 1e6 apart do not share sampling fate (r7 defect)") {
    // the r7 single-round mix folded ids mod 1e6 first, so ids in the
    // same residue class received IDENTICAL hash units and every
    // sampling decision was perfectly correlated across classes; the
    // two-round mix over 2^31-1 must break that
    import graft.northstar.Sampling
    import org.apache.spark.sql.functions._
    val ids = spark.range(0, 1000).toDF("doc_id")
    val both = ids.select(col("doc_id"),
      Sampling.hashUnit(col("doc_id")).as("h0"),
      Sampling.hashUnit(col("doc_id") + 1000000L).as("h1"))
    val rows = both.collect()
    val sameUnit = rows.count(r => r.getDouble(1) == r.getDouble(2))
    assert(sameUnit == 0, s"$sameUnit ids share the exact unit across +1e6")
    // fate at a 0.5-rate gate must differ for roughly half the pairs
    val sameFate = rows.count(r => (r.getDouble(1) < 0.5) == (r.getDouble(2) < 0.5))
    assert(sameFate < 700 && sameFate > 300,
      s"fate correlation across +1e6 looks degenerate: $sameFate/1000 agree")
    // units stay in [0,1) and are well-spread (no 1e6-bucket quantization:
    // 1000 consecutive ids must produce 1000 distinct units)
    assert(rows.forall(r => r.getDouble(1) >= 0 && r.getDouble(1) < 1))
    assert(rows.map(_.getDouble(1)).distinct.length == 1000)
  }

  test("epochShuffle: sort keys are not quantized to 1e6 buckets") {
    // with the r7 mix, rows whose ids differ by 1e6 got the same hash
    // key and fell back to raw-id order inside a bucket (a strided
    // interleave, not a permutation); now their (bucket, pos) paths
    // must diverge for most pairs
    import graft.northstar.Sampling
    import org.apache.spark.sql.functions._
    val n = 2000L
    val df = spark.range(0, n).toDF("doc_id")
      .union(spark.range(1000000L, 1000000L + n).toDF("doc_id"))
    val out = Sampling.epochShuffle(df, nBuckets = 8, seed = 3)
      .select("doc_id", "bucket", "pos").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val sameBucket = (0L until n).count(i => out(i)._1 == out(i + 1000000L)._1)
    assert(sameBucket < n * 0.3,
      s"$sameBucket/$n id-pairs 1e6 apart landed in the same bucket")
  }

  test("incremental-load invariant on generated monotone batches") {
    val dir = TestTmp.dir("prop")
    val all = (1L to 60L).map(i => (i, s"r$i")).toDF("id", "v")
    val cuts = Seq(10L, 25L, 25L, 47L, 60L) // includes a no-progress batch
    cuts.foreach { c =>
      graft.engine.Extraction.incrementalLoad(
        spark, all.filter($"id" <= c), dir, "t")
    }
    val got = spark.read.parquet(s"$dir/t.parquet")
    assert(got.count() == 60)
    assert(rows(got) == rows(all))
  }

  test("bm25 score is strictly monotone in query-term frequency on random docs") {
    import graft.northstar.TextAnalysis
    val words = Seq("cat", "dog", "fish", "bird", "lion")
    (1 to 3).foreach { pass =>
      val rng = new scala.util.Random(52 + pass)
      val docs = (1L to 20L).map { i =>
        val n = 1 + rng.nextInt(12)
        (i, Seq.fill(n)(words(rng.nextInt(words.length))).mkString(" "))
      }
      // append one extra query-term occurrence under FROZEN corpus
      // stats. In real arithmetic the score strictly rises: the +1 on
      // (tf, dl) changes the contribution by a factor whose sign is
      // A + B·(dl − tf) with A = k1(1−b) > 0 and dl ≥ tf — a theorem,
      // not a tendency. e4 rounding can collapse a sub-1e-4 rise for
      // high-df terms, so the pinned property is non-decrease plus
      // presence.
      val df = docs.toDF("doc_id", "text")
      val (dfm, n, s) = TextAnalysis.bm25Stats(df, Seq("cat"))
      val plus = docs.map { case (i, t) => (i, t + " cat") }.toDF("doc_id", "text")
      val base = TextAnalysis.scoreWithBm25(df, dfm, n, s).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      val more = TextAnalysis.scoreWithBm25(plus, dfm, n, s).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      docs.foreach { case (i, _) =>
        assert(more(i) >= base.getOrElse(i, 0L) && more(i) > 0,
          s"doc $i: +1 tf lowered the score (${base.get(i)} -> ${more(i)})")
      }
    }
  }

  test("pq kernels: codes are the true sub-argmins (ties low), ADC equals independent reconstruction cosine") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def ad(a: Array[Float]) = new GenericArrayData(a.map(x => x: Any))
    val m = 4; val ksub = 3; val sub = 4; val dim = m * sub
    val fgen = Gen.choose(-1.0f, 1.0f)
    val vgen = Gen.listOfN(dim, fgen).map(_.toArray)
    val cbgen = Gen.listOfN(m * ksub * sub, fgen).map(_.toArray)
    // pure-JVM kernel property but this suite shares a Spark session:
    // scalacheck driven directly (the PropertySpec.check helper lives in
    // the sessionless suite above)
    val prop = Prop.forAll(vgen, cbgen, vgen) { (v, cb, q) =>
      val codes = graft.functions.VecOps.pqEncode(ad(v), ad(cb), m, ksub)
      val codesArr = (0 until m).map(codes.getInt).toArray
      // independent argmin replay (minBy keeps the FIRST min — the
      // kernel's ties-to-lowest-code contract)
      val expectCodes = (0 until m).map { j =>
        (0 until ksub).minBy { c =>
          val base = (j * ksub + c) * sub
          (0 until sub).map { i =>
            val d = v(j * sub + i).toDouble - cb(base + i).toDouble
            d * d
          }.sum
        }
      }
      // ADC must equal a from-scratch cosine of q against the
      // reconstruction (same element order, so bit-exact)
      val recon = (0 until m).flatMap { j =>
        val base = (j * ksub + codesArr(j)) * sub
        (0 until sub).map(i => cb(base + i))
      }.toArray
      val adc = graft.functions.VecOps.pqAdcCosine(ad(q),
        new GenericArrayData(codesArr.map(x => x: Any)), ad(cb), m, ksub)
      var dot = 0.0; var nq = 0.0; var nr = 0.0
      q.indices.foreach { i =>
        val x = q(i).toDouble; val y = recon(i).toDouble
        dot += x * y; nq += x * x; nr += y * y
      }
      val denom = math.sqrt(nq) * math.sqrt(nr)
      val exact = if (denom == 0.0) 0.0 else dot / denom
      codesArr.forall(c => c >= 0 && c < ksub) &&
        codesArr.toSeq == expectCodes && adc == exact
    }
    val res = SCTest.check(SCTest.Parameters.default, prop)
    assert(res.passed, res.status.toString)
  }

  test("corpusDiff identities: self-diff is all kept; vs empty is all added/removed") {
    import graft.northstar.Dedup
    val rng = new scala.util.Random(60)
    val docs = (1L to 30L).map(i =>
      (i, Seq.fill(1 + rng.nextInt(6))(s"w${rng.nextInt(9)}").mkString(" ")))
      .toDF("doc_id", "text")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val self = Dedup.corpusDiff(docs, docs).collect().map(_.getString(1))
    assert(self.length == 30 && self.forall(_ == "kept"))
    assert(Dedup.corpusDiff(empty, docs).collect()
      .map(_.getString(1)).forall(_ == "added"))
    assert(Dedup.corpusDiff(docs, empty).collect()
      .map(_.getString(1)).forall(_ == "removed"))
  }
}
