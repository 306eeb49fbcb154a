package graft

import org.apache.spark.sql.SparkSession

/** Second-JVM worker for the cross-process MUTATION race test
  * (ArtifactRaceSpec, VERDICT r14 task 6): appends `batches` disjoint
  * document slices into a shared appendable winnow index while the spec
  * JVM concurrently removes a different slice set. The `_SUCCESS`
  * marker delete is the cross-process mutex, so concurrent mutators are
  * expected to fail LOUDLY sometimes — this worker retries those; any
  * other failure (or retry starvation) exits nonzero.
  *
  * Stdout: `start=<ms> end=<ms> retries=<n>` (epoch millis — nanoTime
  * origins are not comparable across JVMs) — the spec asserts the
  * two processes' mutation windows actually overlapped.
  */
object ArtifactMutateRaceMain {

  /** The shared deterministic corpus both JVMs generate: ~20 words with
    * a common prefix phrase so sketches share some fingerprint buckets.
    */
  def docText(i: Int): String =
    s"shared preamble phrase alpha beta gamma delta epsilon " +
      s"document $i unique${i}a unique${i}b unique${i}c " +
      s"zeta eta theta iota kappa closing shared phrase tail"

  def docs(spark: SparkSession, ids: Seq[Int]) = {
    import spark.implicits._
    ids.map(i => (i.toLong, docText(i))).toDF("doc_id", "text")
  }

  /** Deterministic cross-JVM vector corpus for the IVF-PQ race mode:
    * exact rational float arithmetic (no transcendental library calls),
    * so both processes derive bit-identical vectors — and therefore
    * bit-identical seeded k-means quantizers — from the id list alone.
    */
  def vecOf(i: Int): Array[Float] =
    Array.tabulate(8)(j => ((i * 31 + j * 17) % 97) / 97.0f + 0.25f)

  def vecs(spark: SparkSession, ids: Seq[Int]) = {
    import spark.implicits._
    ids.map(i => (i.toLong, vecOf(i).toSeq)).toDF("vec_id", "embedding")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding")
          .cast("array<float>").as("embedding"))
  }

  /** The shared quantizers of the IVF-PQ race: both JVMs fit on the
    * SAME deterministic initial corpus (keepers 0..19 ∪ victims
    * 200..239), so the pinned centroids/codebooks are identical and
    * the `_params` digests match across processes.
    */
  def ivfPqQuantizers(spark: SparkSession)
      : (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    val init = vecs(spark, (0 until 20) ++ (200 until 240))
    (graft.northstar.Ivf.fitCentroids(init, nCells = 4,
        vecCol = "embedding"),
      graft.northstar.Pq.fitCodebooks(init, m = 4, ksub = 8))
  }

  /** Retry a mutation through loud mutex losses (the documented
    * concurrent-mutator failure mode); anything else rethrows.
    *
    * The deadline is a LIVENESS budget, not a correctness gate (the
    * torn-state contract is the identity asserts downstream) — sized
    * for a host running the full suite concurrently (r18: a 60 s
    * budget starved once under full-suite load while the same code
    * passed standalone and in two other full runs). The sleep is
    * jittered so the two JVMs don't convoy in lockstep on the
    * marker-delete mutex.
    */
  def retryLoud(maxMs: Long)(op: => Unit): Int = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    val rnd = new scala.util.Random()
    var retries = 0
    while (true) {
      try { op; return retries }
      catch {
        case e: IllegalArgumentException
            if e.getMessage != null &&
              (e.getMessage.contains("commit marker") ||
                e.getMessage.contains("no _SUCCESS marker")) =>
          retries += 1
          if (System.nanoTime() > deadline)
            throw new IllegalStateException(
              s"mutation starved after $retries loud losses", e)
          Thread.sleep(40L + rnd.nextInt(80))
      }
    }
    retries
  }

  def main(args: Array[String]): Unit = {
    val path = args(0)
    val startId = args(1).toInt
    val batches = args(2).toInt
    val batchSize = args(3).toInt
    val spark = SparkSession.builder()
      .master("local[3]")
      .appName("graft-mutate-race-worker")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val mode = if (args.length > 5) args(5) else "winnow"
    // one-time setup OUTSIDE the reported window and BEFORE the go
    // file: the ivfpq quantizer fits run two Spark k-means jobs, and
    // releasing the spec (or stamping t0) before them let the spec
    // finish every removal while this JVM was still fitting — the
    // overlap tripwire then passed with fully serialized mutations
    // (code-review r17)
    if (mode == "retrain") {
      // rebuild-vs-retrain race (code-review r17 token witness): ONE
      // retrain attempt, classified — the spec JVM hammers from-scratch
      // rebuilds on the same root, so every documented loss mode is a
      // legitimate outcome here, and each is terminal:
      //   retrained — the retrain won the mutex and swapped;
      //   swept     — a rebuild claimed the marker-less root mid-fit
      //               (the token witness fired, no marker republish);
      //   lostswap  — a rebuild landed inside the delete→rename
      //               microseconds and the rename failed loudly.
      // Anything else (a torn read served, a silent partial state)
      // exits nonzero and fails the spec.
      val t0r = System.currentTimeMillis()
      if (args.length > 4)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(args(4)), Array.empty[Byte]): Unit
      var rt = 0
      val outcome =
        try {
          rt = retryLoud(180000) {
            graft.northstar.Artifacts.retrainIvfIndex(spark, path,
              nCells = 8): Unit
          }
          "retrained"
        } catch {
          case e: IllegalStateException if e.getMessage != null &&
              e.getMessage.contains("swept by a concurrent") => "swept"
          case e: IllegalArgumentException if e.getMessage != null &&
              e.getMessage.contains("could not swap") => "lostswap"
        }
      val t1r = System.currentTimeMillis()
      println(s"start=$t0r end=$t1r retries=$rt outcome=$outcome")
      spark.stop()
      return
    }
    val (centsOpt, cbOpt) =
      if (mode == "ivfpq") {
        val (c, cb) = ivfPqQuantizers(spark)
        (Some(c), Some(cb))
      } else (None, None)
    // the IVF-PQ resolver corpus: every id EITHER process may have in
    // the index at any interleaving (initial ∪ both append ranges) —
    // extra ids are harmless (the resolver left-joins by stored id),
    // missing ones would trip the membership tripwire
    val universe = vecs(spark,
      (0 until 20) ++ (100 until 120) ++ (200 until 240))
    val t0 = System.currentTimeMillis()
    // go-file handshake: the spec holds its removals until this lands,
    // so the two processes' mutation windows genuinely overlap
    if (args.length > 4)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(args(4)), Array.empty[Byte]): Unit
    var retries = 0
    for (b <- 0 until batches) {
      val ids = (0 until batchSize).map(j => startId + b * batchSize + j)
      retries += retryLoud(180000) {
        if (mode == "ivfpq")
          graft.northstar.Artifacts.appendIvfPqIndex(
            vecs(spark, ids), universe, path, centsOpt.get, cbOpt.get,
            maxCell = 10): Unit
        else
          graft.northstar.Artifacts.CappedIndex.winnow(maxBucket = 100).append(
            docs(spark, ids), path)
      }
    }
    val t1 = System.currentTimeMillis()
    println(s"start=$t0 end=$t1 retries=$retries")
    spark.stop()
  }
}
