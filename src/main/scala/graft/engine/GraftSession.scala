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
  *
  * The `file:` file system is [[NioLocalFileSystem]], registered through
  * `spark.hadoop.fs.file.impl`. Hadoop sets the permission of every
  * directory and file a write creates, `.crc` files included, and
  * without its native library (libhadoop) it does so by starting a
  * `chmod` process each time: 593 processes over a perfbench medallion
  * run (a full load and a tick, 4 cores). The engine's file system is Hadoop's checksummed local file
  * system with that one call made in the JVM; checksums, the committer,
  * the file layout and the permission bits stay as they are. Hadoop
  * keeps one `file:` file system per JVM and user, built by whichever
  * code asked for it first, so a reused session or an earlier caller in
  * the same JVM can keep the stock one; the factory then warns.
  *
  * `spark.sql.ui.explainMode` is `simple`. Spark formats the plan of
  * every SQL execution start and every adaptive re-plan for its event
  * (the physical plan description), on the query thread, whether or
  * not a UI is there to show it; the default `formatted` mode prints
  * the tree and then each operator again with its details. `simple`
  * prints the tree once; a file scan's location in it is abbreviated to
  * `spark.sql.maxMetadataStringLength` characters.
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

  private val FileImplKey = "fs.file.impl"

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
      .config("spark.sql.ui.explainMode", "simple")
      .config(s"spark.hadoop.$FileImplKey", classOf[NioLocalFileSystem].getName)
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
    // Hadoop's per-JVM cache hands back the `file:` file system it
    // built first, whatever the session's conf now says
    val fileFs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    if (!fileFs.isInstanceOf[NioLocalFileSystem])
      Console.err.println(
        s"[graft] WARN: the file: file system is ${fileFs.getClass.getName}, " +
          s"not the engine's $FileImplKey=${classOf[NioLocalFileSystem].getName} " +
          "(a reused session or an earlier JVM-cached file system), so every " +
          "file and directory a write creates may start a chmod process")
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

/** The engine's `file:` file system ([[GraftSession]]): Hadoop's
  * checksummed `LocalFileSystem` over [[NioRawLocalFileSystem]].
  */
final class NioLocalFileSystem
    extends org.apache.hadoop.fs.LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's raw local file system with one override: `setPermission`
  * sets the nine permission bits with `java.nio` (one chmod(2) call in
  * the JVM) where Hadoop, without libhadoop, starts a `chmod` process.
  * Hadoop's own path still runs for a sticky bit, which `java.nio`
  * cannot set; for a path carrying a set-user- or set-group-ID bit,
  * which the `chmod` command keeps on a directory and a nine-bit
  * chmod(2) would clear; and where the default file system has no
  * POSIX attribute view.
  */
class NioRawLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: org.apache.hadoop.fs.Path,
      permission: org.apache.hadoop.fs.permission.FsPermission): Unit = {
    val mode = permission.toShort.toInt
    val file = pathToFile(p).toPath
    if (!Unix || (mode & Sticky) != 0 ||
        (java.nio.file.Files.getAttribute(file, "unix:mode")
          .asInstanceOf[Int] & SetId) != 0)
      super.setPermission(p, permission)
    else java.nio.file.Files.setPosixFilePermissions(
      file, posixPermissions(mode)): Unit
  }
}

object NioRawLocalFileSystem {
  /** Mode bits, octal 01000 and 06000. */
  private val Sticky = 0x200
  private val SetId = 0xC00

  /** The default file system reads and sets POSIX modes. */
  private val Unix = java.nio.file.FileSystems.getDefault
    .supportedFileAttributeViews.contains("unix")

  /** The nine permission bits of `mode` (owner, group, others; read,
    * write, execute), in `PosixFilePermission`'s declaration order.
    */
  def posixPermissions(mode: Int): java.util.Set[java.nio.file.attribute.PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(
      classOf[java.nio.file.attribute.PosixFilePermission])
    java.nio.file.attribute.PosixFilePermission.values.foreach { b =>
      if ((mode & (0x100 >> b.ordinal)) != 0) out.add(b)
    }
    out
  }
}
