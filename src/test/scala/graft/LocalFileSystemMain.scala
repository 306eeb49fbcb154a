package graft

import graft.engine.{Extraction, GraftSession, Pipeline, Tables}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Fresh-JVM worker for [[LocalFileSystemSpec]]: starts the engine's
  * session with `GraftSession.local`, then makes the same writes twice
  * under a JFR recording of process starts (`jdk.ProcessStart`): a
  * `Tables.write` of a two-partition table, then a Full-Refresh
  * `Pipeline.run` with that table as its source. The first pass
  * (`engine`) writes through the engine's `file:` file system; for the
  * second (`stock`) the session's Hadoop conf names Hadoop's stock
  * `LocalFileSystem` and bypasses the per-JVM file system cache.
  *
  * Stdout, per pass: `<pass> processes=<n> <command>|<command>|…`, then
  * one `<pass> mode <path> <octal mode>` line per directory and file
  * the pass left, its path relative to the pass's directory with each
  * generated UUID replaced by `*`.
  */
object LocalFileSystemMain {

  private val Uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  def main(args: Array[String]): Unit = {
    val Array(root) = args
    val spark = GraftSession.local(cores = 2, appName = "local-fs")
    def pass(name: String): Unit = {
      val dir = Paths.get(root, name)
      val layer = (l: String) => dir.resolve(l).toString
      val rec = new jdk.jfr.Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      Tables.write(spark.range(0, 100).repartition(2).toDF("id"),
        layer("source"), "t")
      val statuses = Pipeline.run(spark,
        Pipeline.Layers(layer("source"), layer("raw"),
          layer("silver_mapping"), layer("silver"), layer("gold")),
        Pipeline.Config(extraction = Seq(Extraction.TableJob("t", "Full Refresh")),
          mappingEnabled = false))
      require(statuses.forall(_.ok), statuses.mkString("; "))
      rec.stop()
      val jfr = Files.createTempFile("local-fs", ".jfr")
      rec.dump(jfr)
      rec.close()
      val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
        .map(_.getString("command"))
      Files.delete(jfr)
      println(s"$name processes=${starts.size} ${starts.mkString("|")}")
      Files.walk(dir).iterator.asScala.filter(_ != dir).foreach { p =>
        val mode = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xFFF
        println(s"$name mode ${Uuid.replaceAllIn(dir.relativize(p).toString, "*")} " +
          Integer.toOctalString(mode))
      }
    }
    pass("engine")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    conf.set("fs.file.impl.disable.cache", "true")
    pass("stock")
    spark.stop()
  }
}
