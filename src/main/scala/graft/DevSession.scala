package graft

import org.apache.spark.sql.SparkSession

/** The ONE local-session builder for the driver-contract entrypoints
  * (Smoke, Verify, Bench, Plans, ScaleProbe). Five hand-copied builder
  * blocks had already drifted — Bench silently omitted the UTC session
  * timezone the other four set (code-review r14) — and a config fix
  * landing in one copy would not reach the rest. Library code uses
  * [[graft.engine.GraftSession]] (AQE, ns-parquet tolerance, reuse
  * warnings); this helper is deliberately minimal for dev mains.
  */
object DevSession {
  def local(cpus: String, appName: String = "graft-dev"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The per-query block release of the dev mains: cached relations
    * (`Dedup.materializeOnce` persists) via clearCache, and
    * lineage-truncated checkpoint blocks (the CC loop's
    * localCheckpoint) via explicit unpersist — `getPersistentRDDs` sees
    * both. Blocks one query leaves pinned contend the block manager for
    * every query after it.
    */
  def releaseBlocks(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
