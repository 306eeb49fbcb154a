package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (SparkSession.getOrCreate reuses
  * the singleton across suites in the forked test JVM).
  */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** The Spark jobs `body` starts, as their job-start events. The
    * listener bus is drained on both sides, so the window holds exactly
    * the jobs submitted while `body` ran.
    */
  def jobStarts(body: => Unit)
      : Seq[org.apache.spark.scheduler.SparkListenerJobStart] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { seen.add(e): Unit }
    }
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(l)
    seen.toArray(Array.empty[SparkListenerJobStart]).toSeq
  }

  /** Registered scratch dir, swept when the forked test JVM exits. */
  def tmpDir(prefix: String): String = TestTmp.dir(prefix)
}

/** Shutdown-hook sweep for test scratch directories: a full `sbt test`
  * used to strand thousands of createTempDirectory dirs in /tmp — after
  * a day of runs the listing/inode pressure measurably skewed bench
  * timings on the same machine (the r15 bench-vs-bench forensics found
  * 5000+ stale dirs inflating artifact-heavy rows ~25%). Register every
  * scratch dir here; the hook deletes them when the suite JVM exits, so
  * mid-run debugging still sees live files.
  */
object TestTmp {
  private val dirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    dirs.forEach(f =>
      try graft.northstar.Artifacts.deleteRec(f)
      catch { case _: Throwable => () })
  }))
  def dir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    dirs.add(d.toFile)
    d.toString
  }
}

/** What a suite needs to run a main of the test classpath in a fresh
  * JVM: the java binary, the classpath, and the module opens Spark 4
  * needs outside spark-submit (build.sbt's list for forked runs).
  */
object ForkedJvm {
  val javaBin: String = new java.io.File(new java.io.File(
    System.getProperty("java.home"), "bin"), "java").getPath
  val classPath: String = System.getProperty("java.class.path")
  val addOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Run `main` of the test classpath in a fresh 1 GiB JVM; its exit
    * code and its stdout and stderr together. Throws when it has not
    * finished within 300 s.
    */
  def run(main: String, args: String*): (Int, String) = {
    val out = java.io.File.createTempFile("forked-jvm-out", ".txt")
    try {
      val pb = new ProcessBuilder((Seq(javaBin) ++ addOpens ++ Seq("-Xmx1g",
        "-Dspark.ui.enabled=false", "-cp", classPath, main) ++ args): _*)
      pb.redirectErrorStream(true)
      pb.redirectOutput(out)
      val p = pb.start()
      if (!p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)) {
        p.destroyForcibly()
        throw new IllegalStateException(s"$main did not finish in 300 s")
      }
      (p.exitValue(),
        new String(java.nio.file.Files.readAllBytes(out.toPath), "UTF-8"))
    } finally out.delete(): Unit
  }
}
