package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.engine.Tables
import graft.northstar.{Artifacts, Curation, Dedup, Ivf, Pq}

/** The north-star nightly ingest. Set-up trains the coarse centroids and
  * PQ codebooks on the base corpus and saves the IVF-PQ index. Each op
  * ingests one batch: `Curation.run`, `Dedup.minhashPairsAgainst` against
  * the live corpus, `Artifacts.appendIvfPqIndex` of the survivors, then
  * `removeFromIvfPqIndex` of the batch's seeded takedown slice, so every
  * op has the same shape.
  * After every mutation the index is loaded and a seeded query batch is
  * served with `Pq.ivfPqServeTopK`; each of those serves is timed on its
  * own as well. Every batch of the plan runs, however long it takes, so
  * a run always measures the same ops. The first batch is a warm-up op:
  * it runs the same calls on a cold JVM and counts as set-up. Each op
  * records the ids curation kept and the ids Dedup flagged, for the
  * checks.
  *
  * The live corpus (the vectors and texts the index covers) is kept by
  * the benchmark as two parquet tables it appends to with `Tables.write`;
  * taken-down ids are filtered out of every read.
  */
object CorpusIngest {

  def run(run: Main.Run): Unit = {
    val spark = run.spark
    import spark.implicits._
    val span = run.spans
    val corpusDir = run.str("corpus")
    val live = run.str("live")
    val batches = run.strs("batches")
    val nCells = run.plan.get("n_cells").asInt()
    val m = run.plan.get("pq_m").asInt()
    val ksub = run.plan.get("pq_ksub").asInt()
    val maxCell = run.plan.get("max_cell").asInt()
    val seed = run.plan.get("seed").asLong()
    val takedown = run.plan.get("takedown").elements().asScala
      .map(_.elements().asScala.map(_.asLong()).toSeq).toIndexedSeq
    val cur = Curation.parseConfig(run.plan.get("curation").toString)
    val reps = run.plan.get("setup_reps").asInt()

    val base = spark.read.parquet(s"$corpusDir/embeddings.parquet")
    val (path, centroids, codebooks) = run.setup(reps) { r =>
      val p = s"${run.str("index_root")}/index$r"
      val c = Ivf.fitCentroids(base, nCells, seed = seed)
      val cb = Pq.fitCodebooks(base, m, ksub, seed = seed)
      Artifacts.saveIvfPqIndex(base, p, c, cb, "vec_id", "embedding", maxCell)
      (p, c, cb)
    }
    run.extra.put("index", path)
    // the live corpus starts as a copy of the base tables
    for (t <- Seq("embeddings", "documents"))
      Main.copyParts(s"$corpusDir/$t.parquet", s"$live/$t.parquet")
    val queries = spark.read.parquet(run.str("queries")).cache()
    queries.count()

    var removed = Vector.empty[Long]
    def liveTable(name: String, id: String): DataFrame = {
      val t = span("tables")(Tables.table(spark, live, name))
      if (removed.isEmpty) t else t.filter(!col(id).isin(removed: _*))
    }
    val serveMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var splits = Option.empty[Map[Int, Int]]
    var lastServe = Seq.empty[org.apache.spark.sql.Row]
    var served = 0L

    def serve(): Unit = {
      val t0 = System.nanoTime()
      val (index, sp) = span("artifacts") {
        Artifacts.loadIvfPqIndex(spark, path, centroids, codebooks,
          maxCell = maxCell, knownSplits = splits)
      }
      lastServe = span("pq") {
        Pq.ivfPqServeTopK(queries, index, liveTable("embeddings", "vec_id"),
          centroids, sp, codebooks, k = 10).collect().toSeq
      }
      serveMs += (System.nanoTime() - t0) / 1e6
      served += lastServe.size
    }

    for (b <- batches.indices) {
      // a traced run traces batches 1 and 2; 0 is the warm-up and 3 and
      // 4 run plain
      span.enabled = run.traced && (b == 1 || b == 2)
      val dir = batches(b)
      var kept = Array.empty[Long]
      var dups = Set.empty[Long]
      served = 0L
      serveMs.clear()
      run.op(b, if (b == 0) "warmup" else "batch", traced = span.enabled) {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        kept = span("curation") {
          Curation.run(docs, cur).select("doc_id").collect().map(_.getLong(0))
        }
        val keptDocs = docs.filter(col("doc_id").isin(kept: _*))
        dups = span("dedup") {
          Dedup.minhashPairsAgainst(keptDocs,
            liveTable("documents", "doc_id").select("doc_id", "text"))
            .select("doc_a").distinct().collect().map(_.getLong(0)).toSet
        }
        val accepted = kept.filterNot(dups)
        val incoming = emb.filter(col("vec_id").isin(accepted: _*))
        splits = Some(span("artifacts") {
          Artifacts.appendIvfPqIndex(incoming, liveTable("embeddings", "vec_id"),
            path, centroids, codebooks, maxCell = maxCell)
        })
        span("tables") {
          Tables.write(incoming, live, "embeddings", "append")
          Tables.write(docs.filter(col("doc_id").isin(accepted: _*)), live,
            "documents", "append")
        }
        serve()
        val ids = takedown(b)
        splits = Some(span("artifacts") {
          Artifacts.removeFromIvfPqIndex(ids.toDF("vec_id"),
            liveTable("embeddings", "vec_id"), path, centroids, codebooks,
            maxCell = maxCell)
        })
        removed ++= ids
        serve()
      }
      val o = run.lastOp.put("batch", b).put("served", served)
      val serveOut = o.putArray("serve_ms")
      serveMs.foreach(serveOut.add(_))
      val keptOut = o.putArray("kept")
      kept.foreach(keptOut.add(_))
      val dupsOut = o.putArray("near_dups")
      dups.toSeq.sorted.foreach(dupsOut.add(_))
    }
    span.enabled = false
    val removedOut = run.extra.putArray("removed")
    removed.foreach(removedOut.add(_))
    def rows(rs: Seq[org.apache.spark.sql.Row], key: String): Unit = {
      val out = run.extra.putArray(key)
      rs.foreach(r => out.addArray().add(r.getLong(0)).add(r.getLong(1))
        .add(r.getInt(2)))
    }
    rows(lastServe, "last_serve")
    // outside the timed loop: an exhaustive probe with a re-rank budget
    // past the live corpus size is exact, so it must equal brute force
    val (index, sp) = Artifacts.loadIvfPqIndex(spark, path, centroids,
      codebooks, maxCell = maxCell, knownSplits = splits)
    val liveEmb = liveTable("embeddings", "vec_id")
    rows(Pq.ivfPqServeTopK(queries, index, liveEmb, centroids, sp, codebooks,
      k = 10, nProbe = centroids.length,
      rerank = liveEmb.count().toInt + 10).collect().toSeq, "exhaustive_serve")
  }
}
