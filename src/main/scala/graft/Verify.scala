package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = DevSession.local(cpus, "graft-verify")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated query filter (the Bench ONLY convention):
    // lets an iteration loop re-dump just the queries it touched; the
    // driver never sets it, so the contract path dumps everything
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      // remove any PREVIOUS dump for this query first: a failing query
      // must leave NO output, never a stale prior round's parquet that
      // the DuckDB compare would pass on (code-review r13)
      graft.northstar.Artifacts.deleteRec(new java.io.File(s"$outDir/$name"))
      // NonFatal, not Throwable: continuing ~130 more queries after an
      // OutOfMemoryError runs them on a corrupted JVM
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // same per-query block hygiene as Bench: drop cached relations and
      // checkpoint blocks so 135 sequential queries don't accumulate
      // pinned storage in one JVM
      DevSession.releaseBlocks(spark)
    }
    // Jackson (on Spark's classpath; Configs uses it) instead of a
    // hand-rolled escaper: a missed escape class would break the
    // driver's json.load and silently zero the round's correctness
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    import scala.jdk.CollectionConverters._
    val json = mapper.writeValueAsString(
      new java.util.LinkedHashMap[String, String](
        SparkEntry.oracleSql.asJava))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} queries FAILED: ${failed.mkString(", ")}")
    // count what actually RAN: under SPARK_GRAFT_VERIFY_ONLY the old
    // full-suite count told a grepping iteration loop its 2-query
    // re-dump had dumped everything (code-review r14)
    println(s"[verify] dumped ${selected.size - failed.size} " +
      s"queries, ${failed.size} failed")
    spark.stop()
  }
}
