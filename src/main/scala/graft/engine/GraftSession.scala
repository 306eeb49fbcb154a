package graft.engine

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration: AQE on
  * (skew-join handling + runtime coalescing), shuffle parallelism sized to
  * the machine instead of the 200 default, UTC session time for stable
  * date semantics, and ns-parquet tolerance. On a real cluster the same
  * settings apply with shufflePartitions sized to total cores (or left to
  * AQE's coalescing with a high initial value).
  *
  * The codegen cache is sized to [[CodegenCacheEntries]]. Spark keeps the
  * classes whole-stage codegen compiled in one JVM-wide LRU cache, and a
  * repeated plan reuses its class only while the cache still holds it.
  * A medallion run (Full-Refresh load, then a tick, each with the gold
  * refresh) generates about 200 distinct classes and a corpus ingest run
  * about 230. Spark's default of 100 would evict every class before the
  * next tick asks for it again, and each tick would recompile its whole
  * plan set. The cache takes its size once per JVM, from the session
  * that first generates code; a later session's value never applies.
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries`: about four times the classes
    * one medallion or corpus ingest run generates, so a larger table set
    * still fits, and the classes of per-tick literals (such as the
    * watermark filter, about ten a tick) age out of the LRU instead of
    * evicting the tick's reusable plans.
    */
  val CodegenCacheEntries = 1000

  private val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(CodegenCacheKey, CodegenCacheEntries.toString)
      .getOrCreate()
    // getOrCreate silently IGNORES every config above when any session
    // already exists in the JVM — the caller would run with 200 shuffle
    // partitions, the host timezone, and no ns-parquet tolerance, and
    // the date/parquet differences are brutal to trace back here
    // (code-review r14). The engine-critical settings are
    // session-scoped (SQLConf), so apply them to whatever session came
    // back — calling THIS factory is an explicit request for the graft
    // configuration — but never SILENTLY: a host application sharing
    // the session would otherwise see its own timestamp semantics
    // change with no signal (code-review r14, second pass), so every
    // overridden setting is named on stderr. Only a differing MASTER is
    // unfixable and warns. Hosts that need their own settings should
    // use their own session and pass frames in, not share the factory.
    val wanted = Seq(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    val changed = scala.collection.mutable.ArrayBuffer.empty[String]
    wanted.foreach { case (key, value) =>
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, value)
      if (prev.exists(_ != value)) changed += s"$key: ${prev.get} -> $value"
    }
    // the shuffle-partitions override joins the same named report — it
    // was the one silent mutation left after the warning was added
    // (code-review r14, third pass)
    if (spark.conf.get("spark.sql.shuffle.partitions") == "200") {
      spark.conf.set("spark.sql.shuffle.partitions", cores.toString)
      changed += s"spark.sql.shuffle.partitions: 200 -> $cores"
    }
    if (changed.nonEmpty)
      Console.err.println(
        "[graft] WARN: reusing an existing session; overrode session " +
          s"configs (${changed.mkString("; ")})")
    // the codegen cache bound is a STATIC conf: `conf.set` throws on it,
    // and the JVM's cache was sized when the session that came back
    // first generated code, so a smaller live value cannot be raised
    val cacheEntries = spark.conf.get(CodegenCacheKey).toInt
    if (cacheEntries < CodegenCacheEntries)
      Console.err.println(
        s"[graft] WARN: reusing an existing session with $CodegenCacheKey=" +
          s"$cacheEntries; the engine's bound of $CodegenCacheEntries did " +
          "not apply (static, sized once per JVM), so repeated plans may " +
          "recompile")
    if (spark.sparkContext.master != s"local[$cores]")
      Console.err.println(
        s"[graft] WARN: reusing existing session with master " +
          s"${spark.sparkContext.master} (requested local[$cores]) — " +
          "session-scoped configs applied, master cannot be changed")
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.registry.registerAll(spark)
    spark
  }
}
