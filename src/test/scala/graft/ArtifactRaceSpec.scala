package graft

import graft.northstar.Artifacts
import org.scalatest.funsuite.AnyFunSuite

/** Cross-JVM artifact-store race (VERDICT r11 task 5): the r11 TTL/
  * max-entries pruner documents a reader-races-pruner failure mode —
  * "fails loudly on the next load (then retrains) rather than serving
  * partial data". ArtifactsSpec covers single-JVM cases; this spec
  * races two EXTRA JVMs (ProcessBuilder, same classpath) against a
  * hostile pruner loop in the spec JVM (ttl=0: every entry is always
  * stale) on one shared store directory and asserts the contract: any
  * number of loud failures, ZERO torn artifacts.
  */
class ArtifactRaceSpec extends AnyFunSuite {

  // worker-JVM launch ingredients, shared with every forked-JVM suite
  import ForkedJvm.{addOpens, javaBin, classPath => cp}

  /** Shared worker-launch scaffolding of the two append-vs-remove races
    * (code-review r17: the add-opens list, ProcessBuilder wiring, and
    * go-file handshake were copy-pasted between them — a fix to either
    * had to be found and applied twice, and a miss would silently
    * weaken one race's overlap guarantee). Launches
    * [[ArtifactMutateRaceMain]] as a second JVM (4 appends of 5 ids
    * from 100) against `path`, then blocks until the worker's go-file
    * lands — the worker stamps it right before its first append (after
    * its ~10 s Spark startup and any quantizer fits), so the caller's
    * removals genuinely overlap the append window.
    */
  private def launchMutateWorker(root: java.io.File, path: String,
                                 extraArgs: Seq[String])
      : (Process, java.io.File) = {
    val out = java.io.File.createTempFile("mutate-race-out", ".txt")
    val pb = new ProcessBuilder(
      (Seq(javaBin) ++ addOpens ++ Seq("-Dspark.ui.enabled=false",
        "-cp", cp, "graft.ArtifactMutateRaceMain",
        path, "100", "4", "5",
        new java.io.File(root, "worker-go").getPath) ++ extraArgs): _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(out)
    val p = pb.start()
    val go = new java.io.File(root, "worker-go")
    val goDeadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
    while (!go.exists() && p.isAlive && System.nanoTime() < goDeadline)
      Thread.sleep(20)
    assert(go.exists(), "worker never signalled its first append")
    (p, out)
  }

  /** The matching tail: wait for the worker, require a zero exit, parse
    * its `start=/end=` window report, and assert the two mutation
    * windows genuinely overlapped — without which no race ran and the
    * final-state identity below it is theater.
    */
  private def awaitWorkerAssertOverlap(p: Process, out: java.io.File,
                                       t0: Long, t1: Long,
                                       specRetries: Int): Unit = {
    assert(p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
      "append worker did not finish in 180s")
    val report = new String(
      java.nio.file.Files.readAllBytes(out.toPath), "UTF-8")
    assert(p.exitValue() == 0, s"append worker failed:\n$report")
    val m = "start=(\\d+) end=(\\d+) retries=(\\d+)".r
      .findFirstMatchIn(report)
      .getOrElse(fail(s"no worker window report:\n$report"))
    val (ws, we) = (m.group(1).toLong, m.group(2).toLong)
    info(s"worker window [$ws,$we] retries=${m.group(3)}; " +
      s"spec window [$t0,$t1] retries=$specRetries")
    assert(ws < t1 && t0 < we,
      s"mutation windows did not overlap (worker [$ws,$we], spec " +
        s"[$t0,$t1]) — the race was not exercised; widen the batches")
  }

  test("two JVMs + a ttl-0 pruner on one store: loud failures only, no torn artifact in 100+100 iterations") {
    val root = new java.io.File(TestTmp.dir("graft-race"))
    def launch(seed: Int): (Process, java.io.File) = {
      val out = java.io.File.createTempFile("race-out", ".txt")
      val pb = new ProcessBuilder(javaBin, "-cp", cp,
        "graft.ArtifactRaceMain", root.getPath, "100", seed.toString)
      pb.redirectErrorStream(true)
      pb.redirectOutput(out)
      (pb.start(), out)
    }
    val (p1, o1) = launch(0)
    val (p2, o2) = launch(2)
    // hostile pruner: ttl 0 makes every published entry immediately
    // stale, so deletion constantly races the workers' resolve/read
    var pruned = 0
    val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
    while ((p1.isAlive || p2.isAlive) && System.nanoTime() < deadline) {
      pruned += Artifacts.pruneStore(root, ttlMs = 0, maxEntries = 1)
      Thread.sleep(2)
    }
    assert(!p1.isAlive && !p2.isAlive, "race workers did not finish in 120s")
    def report(o: java.io.File) = new String(
      java.nio.file.Files.readAllBytes(o.toPath), "UTF-8")
    assert(p1.exitValue() == 0, s"worker 1 saw a torn artifact:\n${report(o1)}")
    assert(p2.exitValue() == 0, s"worker 2 saw a torn artifact:\n${report(o2)}")
    // the pruner really contended — without deletions the test proves nothing
    assert(pruned > 0, "pruner never deleted anything; no race exercised")
    val louds = Seq(o1, o2).map(o =>
      "loud=(\\d+)".r.findFirstMatchIn(report(o)).map(_.group(1).toInt)
        .getOrElse(fail(s"no loud report:\n${report(o)}")))
    // the torn-content comparison only executes on SUCCESSFUL reads: a
    // store where every resolve fails would report loud=100 twice and
    // pass vacuously, green-lighting a non-functional store
    // (code-review r14)
    assert(louds.forall(_ < 100),
      s"every iteration failed loud ($louds of 100) — the zero-torn " +
        "contract was never actually exercised")
    info(s"pruned=$pruned loudFailures=$louds")
  }

  test("reader racing the pruner mid-load fails loudly, never serves partial data") {
    // deterministic replay of the documented loud path for a REAL
    // (Spark-parquet) artifact: the pruner deletes part files while a
    // reader holds the resolved path; the next load must throw, not
    // return an empty/partial model
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").appName("race-loud")
      .config("spark.ui.enabled", "false").getOrCreate()
    val path = TestTmp.dir("probe-pruned")
    Artifacts.ProbeWeights.save(spark, Seq.fill(8)(1L), path,
      (8, 2, 5, "label"))
    new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    val e = intercept[Exception] {
      Artifacts.ProbeWeights.load(spark, path, (8, 2, 5, "label"))
    }
    // pin that the failure is the PRUNED-DATA path (schema inference /
    // missing files at this path), not some unrelated early error the
    // old non-null-message check accepted (code-review r14)
    assert(Option(e.getMessage).exists(m =>
        m.contains(path) || m.toLowerCase.contains("schema")
          || m.toLowerCase.contains("path")),
      s"expected a pruned-data load failure, got: ${e.getMessage}")
  }

  test("two JVMs racing append vs remove on one index: final state is the " +
       "serialized order, never torn (VERDICT r14 task 6)") {
    // takedown compliance runs the winnow index's remove while the nightly
    // ingest appends elsewhere. The _SUCCESS marker delete is the
    // cross-process mutex: losers fail LOUDLY and retry, so with
    // disjoint slices every interleaving converges to one state —
    // initial ∪ appended ∖ removed — and it must equal a from-scratch
    // build on that difference corpus exactly (the append/remove ==
    // rebuild identity, now asserted ACROSS processes).
    import ArtifactMutateRaceMain.{docs, retryLoud}
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("mutate-race")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    val root = new java.io.File(TestTmp.dir("graft-mutate-race"))
    val path = new java.io.File(root, "winnow-idx").getPath
    // initial index: keepers 0..19 plus removal victims 200..239
    Artifacts.CappedIndex.winnow(maxBucket = 100).save(
      docs(spark, (0 until 20) ++ (200 until 240)), path)

    // worker: 4 appends of 5 docs each (ids 100..119)
    val (p, out) = launchMutateWorker(root, path, Seq.empty)

    // spec side: 4 removals of 10 victims each (ids 200..239),
    // retrying loud mutex losses exactly like the worker
    val t0 = System.currentTimeMillis()
    var retries = 0
    for (b <- 0 until 4) {
      val ids = (200 + b * 10) until (200 + (b + 1) * 10)
      retries += retryLoud(180000) {
        Artifacts.CappedIndex.winnow(maxBucket = 100).remove(
          docs(spark, ids).select("doc_id"), path)
      }
    }
    val t1 = System.currentTimeMillis()
    awaitWorkerAssertOverlap(p, out, t0, t1, retries)

    // final state == from-scratch build on the difference corpus
    val expectPath = new java.io.File(root, "winnow-expect").getPath
    Artifacts.CappedIndex.winnow(maxBucket = 100).save(
      docs(spark, (0 until 20) ++ (100 until 120)), expectPath)
    def loaded(p0: String): Set[Seq[Any]] =
      Artifacts.CappedIndex.winnow(maxBucket = 100).load(spark, p0)
        .select("fp", "doc").collect().map(_.toSeq).toSet
    assert(loaded(path) == loaded(expectPath),
      "raced index diverged from the serialized-order rebuild")
    assert(new java.io.File(path, "_SUCCESS").exists(),
      "raced index left without its commit marker")
    Artifacts.deleteRec(root)
  }

  test("two JVMs racing append vs remove on a CELL-PARTITIONED IVF-PQ " +
       "index: final state is the serialized order, drift telemetry " +
       "consistent (VERDICT r16 task 4)") {
    // the cell-partitioned family has a larger torn-state surface than
    // the flat winnow rows: per-cell directory rewrites, the splits
    // sidecar republish, and the mutex-scoped drift.log — maxCell=10
    // forces re-splits on BOTH mutation directions so every
    // interleaving exercises the rewrite path. Quantizers are pinned
    // from the same deterministic fit in both JVMs (exact rational
    // vectors, seeded k-means), so `_params` digests agree.
    import ArtifactMutateRaceMain.{ivfPqQuantizers, retryLoud, vecs}
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("mutate-race-pq")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    val (cents, cb) = ivfPqQuantizers(spark)
    val root = new java.io.File(TestTmp.dir("graft-pq-race"))
    val path = new java.io.File(root, "pq-idx").getPath
    val universe = vecs(spark,
      (0 until 20) ++ (100 until 120) ++ (200 until 240))
    Artifacts.saveIvfPqIndex(vecs(spark, (0 until 20) ++ (200 until 240)),
      path, cents, cb, "vec_id", "embedding", 10)

    // worker: 4 appends of 5 vectors each (ids 100..119), ivfpq mode
    val (p, out) = launchMutateWorker(root, path, Seq("ivfpq"))

    // spec side: 4 removals of 10 victims each (ids 200..239)
    val t0 = System.currentTimeMillis()
    var retries = 0
    for (b <- 0 until 4) {
      val ids = (200 + b * 10) until (200 + (b + 1) * 10)
      retries += retryLoud(180000) {
        Artifacts.removeFromIvfPqIndex(
          vecs(spark, ids).select("vec_id"), universe, path, cents, cb,
          maxCell = 10): Unit
      }
    }
    val t1 = System.currentTimeMillis()
    awaitWorkerAssertOverlap(p, out, t0, t1, retries)

    // final state == from-scratch build on the difference corpus —
    // codes, subcells, AND the splits sidecar
    val expectPath = new java.io.File(root, "pq-expect").getPath
    Artifacts.saveIvfPqIndex(vecs(spark, (0 until 20) ++ (100 until 120)),
      expectPath, cents, cb, "vec_id", "embedding", 10)
    def loaded(p0: String): (Set[Seq[Any]], Map[Int, Int]) = {
      val (idx, splits) = Artifacts.loadIvfPqIndex(spark, p0, cents, cb,
        maxCell = 10)
      (idx.collect().map(_.toSeq).toSet, splits)
    }
    val (gotRows, gotSplits) = loaded(path)
    val (expRows, expSplits) = loaded(expectPath)
    assert(gotSplits == expSplits,
      "raced splits sidecar diverged from the serialized-order rebuild")
    assert(gotRows == expRows,
      "raced index rows diverged from the serialized-order rebuild")
    assert(new java.io.File(path, "_SUCCESS").exists(),
      "raced index left without its commit marker")
    // drift telemetry consistency: only the 4 appends write drift
    // lines (removals never do; the build reset the log), each for a
    // 5-row batch — a torn or resurrected write would break this
    val hist = Artifacts.appendDriftHistory(path)
    assert(hist.size == 4 && hist.forall(_._2 == 5L),
      s"drift history inconsistent with the winning order: $hist")
    Artifacts.deleteRec(root)
  }

  test("two JVMs racing a from-scratch REBUILD against a RETRAIN on one " +
       "index root: the marker never stamps a torn state (the r17 " +
       "token-witness contract)") {
    // The from-scratch save is the documented recovery for a
    // marker-less root and takes NO mutex, so it is the retrain's
    // adversary: its sibling sweep may kill a live retrain scratch at
    // any point in the minutes-long fit window. The contract under
    // test: every interleaving ends in (a) a coherent rebuild state,
    // (b) a coherent retrain state — only reachable when the worker
    // reported winning — or (c) a LOUD marker-less wreck that every
    // reader refuses and one recovery rebuild restores. What must
    // never happen is a _SUCCESS marker over mixed halves — the exact
    // state the pre-token witness could stamp (scratch republish over
    // a claimer's half-written index).
    import ArtifactMutateRaceMain.vecs
    import graft.northstar.Ivf
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("rebuild-retrain-race")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    val root = new java.io.File(TestTmp.dir("graft-retrain-race"))
    val path = new java.io.File(root, "idx").getPath
    val corpus = vecs(spark, 0 until 60)
    val cents4 = Ivf.fitCentroids(corpus, nCells = 4)
    def rebuild(): Unit = Artifacts.saveIvfIndex(corpus, path, cents4,
      "vec_id", "embedding", 100000)
    rebuild()
    val params4 = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(path, "_params").toPath), "UTF-8")

    // worker: one classified retrain attempt (nCells=8, so the winning
    // retrain is distinguishable from the 4-cell rebuild via _params)
    val (p, out) = launchMutateWorker(root, path, Seq("retrain"))
    val t0 = System.currentTimeMillis()
    var (rebuilds, rebuildFails) = (0, 0)
    while (p.isAlive) {
      // rebuild failures are legitimate race outcomes (the retrain's
      // swap can delete files under a mid-flight rebuild write) — they
      // must be LOUD here and leave a refusing wreck, never a served
      // torn state; the final-state branch below asserts exactly that
      try { rebuild(); rebuilds += 1 }
      catch { case scala.util.control.NonFatal(_) => rebuildFails += 1 }
      Thread.sleep(5)
    }
    val t1 = System.currentTimeMillis()
    assert(p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS))
    val report = new String(
      java.nio.file.Files.readAllBytes(out.toPath), "UTF-8")
    assert(p.exitValue() == 0, s"retrain worker failed:\n$report")
    val m = "start=(\\d+) end=(\\d+) retries=\\d+ outcome=(\\w+)".r
      .findFirstMatchIn(report)
      .getOrElse(fail(s"no worker outcome report:\n$report"))
    val (ws, we, outcome) =
      (m.group(1).toLong, m.group(2).toLong, m.group(3))
    assert(Set("retrained", "swept", "lostswap")(outcome),
      s"unclassified worker outcome $outcome:\n$report")
    assert(ws < t1 && t0 < we,
      s"windows did not overlap (worker [$ws,$we], spec [$t0,$t1])")
    assert(rebuilds + rebuildFails > 0, "spec never rebuilt; no race ran")

    val marker = new java.io.File(path, "_SUCCESS")
    if (marker.exists()) {
      val params = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(path, "_params").toPath), "UTF-8")
      if (params == params4) {
        // (a) rebuild state: serves coherently under the 4-cell config
        // — and every stored CELL matches the 4-cell quantizer, which
        // is what actually detects "marker over mixed halves" (a
        // retrain's 8-cell index under rebuild params keeps all 60
        // distinct ids, so a row count alone would pass it;
        // code-review r17)
        val (idx, _) = Artifacts.loadIvfIndex(spark, path, cents4)
        val got = idx.select("neighbor_id", "cell").collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
        val exp = corpus.select(
            org.apache.spark.sql.functions.col("vec_id"),
            Ivf.cellOf(org.apache.spark.sql.functions.col("embedding"),
              cents4).as("cell"))
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        assert(got == exp,
          "rebuild-state cells do not match the 4-cell quantizer — " +
            "a marker is stamped over mixed halves")
      } else {
        // (b) retrain state is only reachable by the worker's swap
        assert(outcome == "retrained",
          s"non-rebuild params but the worker reported $outcome — a " +
            "failure path republished the marker over foreign state")
        intercept[IllegalArgumentException] {
          Artifacts.loadIvfIndex(spark, path, cents4)
        }: Unit
        assert(spark.read.parquet(s"$path/index")
          .select("neighbor_id").distinct().count() == 60,
          "retrain-state index lost rows")
      }
      info(s"final=${if (params == params4) "rebuild" else "retrain"} " +
        s"outcome=$outcome rebuilds=$rebuilds fails=$rebuildFails")
    } else {
      // (c) loud wreck: every reader refuses with the marker named,
      // and the documented recovery restores service
      val e = intercept[IllegalArgumentException] {
        Artifacts.loadIvfIndex(spark, path, cents4)
      }
      assert(e.getMessage.contains("_SUCCESS"), e.getMessage)
      rebuild()
      assert(Artifacts.loadIvfIndex(spark, path, cents4)._1
        .select("neighbor_id").distinct().count() == 60,
        "recovery rebuild did not restore service")
      info(s"final=wreck(recovered) outcome=$outcome " +
        s"rebuilds=$rebuilds fails=$rebuildFails")
    }
    Artifacts.deleteRec(root)
  }
}
