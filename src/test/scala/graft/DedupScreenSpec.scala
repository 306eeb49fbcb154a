package graft

import graft.northstar.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The cross-slice MinHash screen (`Dedup.minhashPairsAgainst` and
  * `minhashPairsAgainstIndex`): row identity against the formulation
  * that capped the whole corpus and shingled every text, and the
  * screen's job and cache footprint.
  */
class DedupScreenSpec extends SparkSpecBase {
  import spark.implicits._

  /** The earlier screen, kept as the reference: the batch and the
    * corpus each go through `bandIndex` (capped over the whole frame),
    * and the exact Jaccard shingles every text of both frames.
    */
  private def referenceAgainstIndex(incoming: DataFrame,
                                    corpusIndex: DataFrame,
                                    corpusTexts: DataFrame, k: Int,
                                    bands: Int, threshold: Double,
                                    maxBucket: Int): DataFrame = {
    val screened = Dedup.bandIndex(incoming, "text", "doc_id", k, bands,
        maxBucket)
      .select(col("band_hash"), col("id").as("doc_a"), col("mh").as("mh_a"))
      .join(corpusIndex.select(col("band_hash"), col("id").as("doc_b"),
        col("mh").as("mh_b")), Seq("band_hash"))
      .filter(Dedup.estimatedJaccard(col("mh_a"), col("mh_b"))
        >= threshold - 2.0 / k)
      .select("doc_a", "doc_b").distinct()
    Dedup.jaccardForPairs(
      incoming.select(col("doc_id"), col("text"))
        .unionByName(corpusTexts.select(col("doc_id"), col("text"))),
      screened, "text", "doc_id")
      .filter(col("jaccard") >= threshold)
  }

  private def referenceAgainst(incoming: DataFrame, corpus: DataFrame,
                               k: Int, bands: Int, threshold: Double,
                               maxBucket: Int): DataFrame =
    referenceAgainstIndex(incoming,
      Dedup.bandIndex(corpus, "text", "doc_id", k, bands, maxBucket),
      corpus.select("doc_id", "text"), k, bands, threshold, maxBucket)

  /** Every output row with its multiplicity. */
  private def bag(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private val words = (0 until 40).map(i => s"w$i")
  private def text(from: Int, n: Int): String =
    words.slice(from, from + n).mkString(" ")

  // the corpus: distinct documents, one bucket-flooding group of five
  // identical documents, null and blank text, and id 7, which the batch
  // carries too
  private val corpus = (
    (1 to 12).filter(_ != 7).map(i => (i.toLong, text(i, 12))) ++
      (20 to 24).map(i => (i.toLong, text(30, 9))) ++
      Seq((30L, null: String), (31L, ""), (32L, "   "),
        (7L, text(7, 12)))
  ).toDF("doc_id", "text").withColumn("source", lit("crawl"))

  // the batch: near-duplicates of corpus documents (one word dropped or
  // added), a near-duplicate of the flooding group, four identical
  // documents (a batch-side bucket over a small cap), null and blank
  // text, and id 7 again under another text
  private val batch = (
    Seq((101L, text(1, 11)), (102L, text(3, 12) + " extra"),
      (103L, text(5, 11)), (104L, text(30, 9) + " tail"),
      (7L, text(8, 12)), (105L, null: String), (106L, ""),
      (107L, "  ")) ++
      (110 to 113).map(i => (i.toLong, text(9, 12)))
  ).toDF("doc_id", "text")

  test("minhashPairsAgainst and minhashPairsAgainstIndex are row-identical " +
       "to the whole-corpus formulation: ids on both sides, null and blank " +
       "text, capped buckets on either side, non-default k/bands, an empty " +
       "batch") {
    val empty = batch.filter(lit(false))
    var capBites = false
    for {
      (k, bands) <- Seq((16, 8), (12, 4))
      maxBucket <- Seq(3, 1000)
      threshold <- Seq(0.5, 0.7)
      in <- Seq(batch, empty)
    } {
      val want = bag(referenceAgainst(in, corpus, k, bands, threshold,
        maxBucket))
      val got = bag(Dedup.minhashPairsAgainst(in, corpus, k = k,
        bands = bands, threshold = threshold, maxBucket = maxBucket))
      assert(got == want, s"k=$k bands=$bands cap=$maxBucket t=$threshold")
      // a stored index built under one cap, probed under another: the
      // index's own caps stand, only the batch is capped at probe time
      for (buildCap <- Seq(3, 1000)) {
        val index = Dedup.bandIndex(corpus, "text", "doc_id", k, bands,
          buildCap)
        val texts = corpus.select("doc_id", "text")
        assert(bag(Dedup.minhashPairsAgainstIndex(in, index, texts,
            k = k, bands = bands, threshold = threshold,
            maxBucket = maxBucket)) ==
          bag(referenceAgainstIndex(in, index, texts, k, bands, threshold,
            maxBucket)),
          s"index k=$k bands=$bands build=$buildCap probe=$maxBucket")
      }
      if (in eq batch) {
        assert(want.nonEmpty)
        // id 7 is on both sides: its self-pair verifies every text pair
        assert(want.count(_.startsWith("7|7|")) == 4, want.toString)
        if (maxBucket == 3)
          capBites ||= want != bag(referenceAgainst(in, corpus, k, bands,
            threshold, 1000))
      } else assert(want.isEmpty)
      Dedup.releasePersisted()
    }
    assert(capBites, "the small cap never dropped a pair: the fixture " +
      "does not exercise it")
  }

  test("minhashPairsAgainst persists nothing and stays within its job " +
       "budget") {
    import org.apache.spark.sql.graftbridge.CacheProbe.cachedEntries
    Dedup.releasePersisted()
    spark.catalog.clearCache()
    val before = (cachedEntries(spark),
      spark.sparkContext.getPersistentRDDs.keySet.toSet)
    var out = Seq.empty[String]
    val jobs = jobStarts {
      out = bag(Dedup.minhashPairsAgainst(batch, corpus, threshold = 0.5))
    }
    assert(out.nonEmpty)
    assert((cachedEntries(spark),
      spark.sparkContext.getPersistentRDDs.keySet.toSet) == before,
      "the screen must leave no cached frame behind")
    val n = jobs.size
    assert(n <= JobBudget, jobs.map(j => Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.rdd.scope"))).getOrElse(""))
      .mkString("; "))
  }

  /** Jobs of one collected screen on the fixture (local[4], AQE on): 7
    * in every standalone run; one full-suite run counted 8, one more
    * broadcast job (AQE timing). The persisting formulation this screen
    * replaced ran 12 on a cold cache.
    */
  private val JobBudget = 8
}
