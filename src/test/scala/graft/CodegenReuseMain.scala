package graft

import graft.engine.{Extraction, GraftSession, Pipeline, Transforms}
import graft.engine.Aggregations.AggSpec
import org.apache.spark.metrics.source.CodegenMetrics

/** Fresh-JVM worker for [[CodegenReuseSpec]]: starts the engine's session
  * with `GraftSession.local`, writes a source of `tables` small tables
  * of distinct schemas under `root`, then runs the same Full-Refresh
  * `Pipeline.run` over it twice. Before the second run every source
  * table is rewritten with the same rows: new part files give every
  * table a new listing, so the second run recomputes every output
  * instead of reusing the first run's. A class that whole-stage codegen
  * compiles is counted by Spark's `CodegenMetrics`; a cache hit is not.
  *
  * Stdout: `first=<n> second=<m> reused=<k>`, the classes each run
  * compiled and the outputs the second run's stages reused.
  */
object CodegenReuseMain {

  def main(args: Array[String]): Unit = {
    val Array(root, tables) = args
    val spark = GraftSession.local(cores = 2, appName = "codegen-reuse")
    import spark.implicits._
    val src = s"$root/source"
    // table k carries k + 1 value columns of rotating types, so no two
    // tables share a generated class
    val names = (0 until tables.toInt).map { k =>
      val values = (0 to k).map { j =>
        val v = $"id" * (j + 1)
        (j % 3 match {
          case 0 => v.cast("double")
          case 1 => v.cast("long")
          case _ => v.cast("int")
        }).as(s"v$j")
      }
      spark.range(1, 4).select(($"id" +: ($"id".cast("string").as("name") +:
        values)): _*).write.parquet(s"$src/t$k.parquet")
      s"t$k"
    }
    val cfg = Pipeline.Config(
      extraction = names.map(Extraction.TableJob(_, "Full Refresh")),
      mappingEnabled = false,
      transforms = Transforms.names,
      aggregations = names.map(_ ->
        AggSpec(Seq("name"), Seq("v0"), Seq("sum"))).toMap)
    val layers = Pipeline.Layers(src, s"$root/raw", s"$root/silver_mapping",
      s"$root/silver", s"$root/gold")
    def compiled(): (Long, Seq[Pipeline.StageStatus]) = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val statuses = Pipeline.run(spark, layers, cfg)
      require(statuses.forall(_.ok), statuses.mkString("; "))
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before, statuses)
    }
    val (first, _) = compiled()
    for (n <- names) {
      val path = s"$src/$n.parquet"
      val t = spark.read.parquet(path)
      spark.createDataFrame(java.util.Arrays.asList(t.collect(): _*), t.schema)
        .write.mode("overwrite").parquet(path)
    }
    val (second, statuses) = compiled()
    val reused = statuses.map(s => "(\\d+) reused".r.findFirstMatchIn(s.detail)
      .map(_.group(1).toInt)
      .getOrElse(sys.error(s"no reuse count in: ${s.detail}"))).sum
    println(s"first=$first second=$second reused=$reused")
    spark.stop()
  }
}
