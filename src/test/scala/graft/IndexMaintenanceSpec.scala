package graft

import graft.northstar.{Artifacts, Ivf, Pq}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The cell-index and capped-index mutation verbs, beyond what
  * ArtifactsSpec pins: the append's census-drift statistic (its value,
  * its failure semantics, and that no job of it outlives the call), the
  * persists the verbs release, and the on-disk layout a save → append →
  * remove → compact script writes.
  */
class IndexMaintenanceSpec extends SparkSpecBase {
  import spark.implicits._

  // 500 seeded 64-dim vectors and 500 seeded texts over a 60-word
  // vocabulary (the sizes of the sf0.001 embeddings and documents)
  private lazy val emb = {
    val rnd = new scala.util.Random(7)
    (0L until 500L).map(id =>
      (id, Seq.fill(64)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
  }
  private lazy val embA = emb.filter(col("vec_id") % 2 === 0)
  private lazy val embB = emb.filter(col("vec_id") % 2 =!= 0)
  private lazy val docs = {
    val rnd = new scala.util.Random(11)
    (0L until 500L).map(id => (id, Seq.fill(20 + rnd.nextInt(40))(
      s"w${rnd.nextInt(60)}").mkString(" "))).toDF("doc_id", "text")
  }

  // a batch off the build distribution, so the drift is far from zero
  private lazy val shifted = embB.select((col("vec_id") + 5000L).as("vec_id"),
    expr("transform(embedding, x -> cast(x + 1.5 as float))")
      .as("embedding"))

  private lazy val cents = Ivf.fitCentroids(embA, nCells = 4)
  private lazy val cb = Pq.fitCodebooks(embA, m = 8, ksub = 8)

  /** (cell, rows) of a stored cell index's `index/` part. */
  private def census(p: String): Map[Int, Long] =
    spark.read.parquet(new java.io.File(p, "index").toString)
      .groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** The build census a cell index stores as its drift baseline. */
  private def driftBase(p: String): Map[Int, Long] =
    spark.read.parquet(new java.io.File(p, "drift_base").toString)
      .select("cell", "count").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

  test("the drift.log value equals Ivf.censusDrift over the Map censuses " +
       "(to the line's six decimals)") {
    for (batch <- Seq(embB, shifted)) {
      val p = s"${tmpDir("driftvalue")}/idx"
      Artifacts.saveIvfPqIndex(embA, p, cents, cb, "vec_id", "embedding",
        40)
      val before = census(p)
      Artifacts.appendIvfPqIndex(batch, embA, p, cents, cb, maxCell = 40)
      // the append adds exactly the batch's rows, so the index census
      // grew by the incoming census
      val incoming = census(p).map { case (c, n) =>
        c -> (n - before.getOrElse(c, 0L)) }.filter(_._2 > 0)
      val expected = Ivf.censusDrift(driftBase(p), incoming)
      val logged = Artifacts.appendDriftHistory(p)
      assert(logged.size == 1, logged.toString)
      val want = String.format(java.util.Locale.ROOT, "%.6f",
        Double.box(expected)).toDouble
      assert(math.abs(logged.head._3 - want) < 1e-9,
        s"logged ${logged.head._3}, Map census drift $expected")
      assert(logged.head._2 == incoming.values.sum)
    }
  }

  test("a drift aggregate that throws leaves the append committed and " +
       "servable, records no drift line, and prints one WARN") {
    val p = s"${tmpDir("driftfail")}/idx"
    Artifacts.saveIvfPqIndex(embA, p, cents, cb, "vec_id", "embedding", 40)
    // the drift baseline's data files become unreadable; nothing else
    // in the append reads them
    val base = new java.io.File(p, "drift_base")
    base.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.write(f.toPath, "not parquet".getBytes("UTF-8"))
    }
    val err = new java.io.ByteArrayOutputStream()
    val splits = Console.withErr(new java.io.PrintStream(err, true, "UTF-8")) {
      Artifacts.appendIvfPqIndex(embB, embA, p, cents, cb, maxCell = 40)
    }
    val warns = err.toString("UTF-8").linesIterator
      .filter(_.contains("[graft] WARN")).toSeq
    assert(warns.size == 1 && warns.head.contains("drift telemetry") &&
      warns.head.contains("the append itself succeeded"), warns.toString)
    assert(new java.io.File(p, "_SUCCESS").exists())
    assert(Artifacts.appendDriftHistory(p).isEmpty)
    val (idx, served) = Artifacts.loadIvfPqIndex(spark, p, cents, cb,
      maxCell = 40)
    assert(served == splits)
    assert(rows(idx.select("neighbor_id")) ==
      rows(emb.select(col("vec_id").as("neighbor_id"))))
  }

  test("no job of appendIvfPqIndex is still running when it returns") {
    val p = s"${tmpDir("driftjoin")}/idx"
    Artifacts.saveIvfPqIndex(embA, p, cents, cb, "vec_id", "embedding", 40)
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart}
    val started = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val ended = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(e.jobId): Unit
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ended.add(e.jobId): Unit
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      Artifacts.appendIvfPqIndex(shifted, embA, p, cents, cb, maxCell = 40)
      assert(sc.statusTracker.getActiveJobIds().isEmpty)
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(l)
    assert(started.asScala.nonEmpty &&
      started.asScala.toSet == ended.asScala.toSet)
    assert(Artifacts.appendDriftHistory(p).size == 1)
  }

  test("appendIvfPqIndex and removeFromIvfPqIndex leave the cache manager " +
       "and the persisted RDDs as they found them") {
    import org.apache.spark.sql.graftbridge.CacheProbe.cachedEntries
    val p = s"${tmpDir("pqrelease")}/idx"
    Artifacts.saveIvfPqIndex(embA, p, cents, cb, "vec_id", "embedding", 40)
    def held() = (cachedEntries(spark),
      spark.sparkContext.getPersistentRDDs.keySet.toSet)
    val before = held()
    val splits0 = census(p)
    val splits1 = Artifacts.appendIvfPqIndex(embB, embA, p, cents, cb,
      maxCell = 40)
    assert(held() == before, "append")
    // a takedown that shrinks cells back, so the resolver runs again
    Artifacts.removeFromIvfPqIndex(embB.select("vec_id"), emb, p, cents,
      cb, maxCell = 40): Unit
    assert(held() == before, "remove")
    assert(census(p) == splits0 && splits1.nonEmpty)
  }

  /** Every file under `root` (drift.log aside: its lines carry a
    * timestamp) as its parent directory relative to `root` and the md5
    * of its bytes. File names carry a per-write UUID, so they are left
    * out.
    */
  private def layout(root: String): Seq[(String, String)] = {
    val r = new java.io.File(root).toPath
    val files = java.nio.file.Files.walk(r)
    try files.iterator().asScala
      .filter(f => java.nio.file.Files.isRegularFile(f) &&
        f.getFileName.toString != "drift.log")
      .map { f =>
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(f))
          .map(b => f"$b%02x").mkString
        Option(r.relativize(f).getParent).fold("")(_.toString) -> md5
      }.toSeq.sorted
    finally files.close()
  }

  test("save → append → remove → compact writes the same files on two " +
       "fresh roots: cell indexes and capped indexes") {
    import graft.northstar.Multimodal
    // two appends, so cells the two-id takedown leaves alone hold
    // several files for the compaction
    val takedown = emb.filter(col("vec_id") < 2).select("vec_id")
    val (embB1, embB2) = (embB.filter(col("vec_id") % 4 === 1),
      embB.filter(col("vec_id") % 4 === 3))
    def assets(sel: Long => Boolean) = (0L until 30L).filter(sel)
      .map(id => (id, Multimodal.syntheticPatternPng(id)))
      .toDF("asset_id", "payload")
    val docThirds = Seq(0, 1, 2).map(i => docs.filter(col("doc_id") % 3 === i))
    val docTakedown = docs.filter(col("doc_id") % 5 === 0).select("doc_id")
    // a capped index: the removal rewrites rows/ into one file, so the
    // later appends give the compaction files to merge
    def capped(name: String, ix: Artifacts.CappedIndex,
               parts: Seq[DataFrame], takedown: DataFrame,
               later: Seq[DataFrame],
               root: String): Seq[(String, () => Unit)] = {
      val p = s"$root/$name"
      Seq(s"$name save" -> (() => ix.save(parts(0), p)),
        s"$name append" -> (() => ix.append(parts(1), p)),
        s"$name remove" -> (() => ix.remove(takedown, p))) ++
        later.map(batch => s"$name append" -> (() => ix.append(batch, p))) :+
        (s"$name compact" -> (() =>
          assert(Artifacts.compactAppendableIndex(spark, p, maxFiles = 1))))
    }
    // (step, run) in order; a step's name starts with its index's
    // directory under the root
    def script(root: String): Seq[(String, () => Unit)] = {
      val ivf = s"$root/ivf"; val pq = s"$root/pq"
      val bandIx = Artifacts.CappedIndex.band(maxBucket = 4)
      val winnowIx = Artifacts.CappedIndex.winnow(maxBucket = 4)
      val imageIx = Artifacts.CappedIndex.imageHash()
      Seq[(String, () => Unit)](
        "ivf save" -> (() => Artifacts.saveIvfIndex(embA, ivf, cents,
          "vec_id", "embedding", 40)),
        "ivf append" -> (() => Artifacts.appendIvfIndex(embB1, ivf, cents,
          maxCell = 40): Unit),
        "ivf append" -> (() => Artifacts.appendIvfIndex(embB2, ivf, cents,
          maxCell = 40): Unit),
        "ivf remove" -> (() => Artifacts.removeFromIvfIndex(takedown, ivf,
          cents, maxCell = 40): Unit),
        "ivf compact" -> (() => assert(Artifacts.compactCellIndex(spark, ivf,
          maxFilesPerCell = 1) > 0)),
        "pq save" -> (() => Artifacts.saveIvfPqIndex(embA, pq, cents, cb,
          "vec_id", "embedding", 40)),
        "pq append" -> (() => Artifacts.appendIvfPqIndex(embB1, embA, pq,
          cents, cb, maxCell = 40): Unit),
        "pq append" -> (() => Artifacts.appendIvfPqIndex(embB2,
          embA.unionByName(embB1), pq, cents, cb, maxCell = 40): Unit),
        "pq remove" -> (() => Artifacts.removeFromIvfPqIndex(takedown, emb,
          pq, cents, cb, maxCell = 40): Unit),
        "pq compact" -> (() => assert(Artifacts.compactCellIndex(spark, pq,
          maxFilesPerCell = 1) > 0))
      ) ++ capped("band", bandIx, docThirds, docTakedown,
          docThirds.drop(2), root) ++
        capped("winnow", winnowIx, docThirds, docTakedown,
          docThirds.drop(2), root) ++
        // one asset per append: equal-sized files, which a read lists
        // in an order that differs between roots
        capped("image", imageIx, Seq(0, 1).map(i => assets(
            id => id < 24 && id % 2 == i)),
          assets(_ % 5 == 0).select("asset_id"),
          (24L until 30L).map(id => assets(_ == id)), root)
    }
    val roots = Seq(tmpDir("layout-a"), tmpDir("layout-b"))
    val runs = roots.map { root =>
      script(root).map { case (step, run) =>
        run()
        step -> layout(s"$root/${step.takeWhile(_ != ' ')}")
      }
    }
    runs(0).zip(runs(1)).foreach { case ((step, a), (_, b)) =>
      assert(a == b, s"$step: the two roots differ")
    }
  }
}
