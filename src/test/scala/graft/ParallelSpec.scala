package graft

import scala.jdk.CollectionConverters._

import graft.engine.{Extraction, Tables, Transforms}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}

/** The per-table concurrency contract of the medallion stage entry points
  * (`Extraction.runJob`, `Transforms.transformAll`, `Tables.writeAll`,
  * all through `graft.engine.Parallel`): input-order results, per-table
  * error isolation where the stage has it, every task joined before the
  * call returns or throws, and the caller's local properties on every
  * job.
  */
class ParallelSpec extends SparkSpecBase {
  import spark.implicits._

  private def sc = spark.sparkContext

  /** One row whose only task sleeps `ms`, then yields the row or throws
    * `fail`.
    */
  private def slow(ms: Long, fail: String = null): DataFrame = {
    val f = udf { (x: Long) =>
      Thread.sleep(ms)
      if (fail != null) throw new IllegalStateException(fail)
      x
    }
    spark.range(1).select(f(col("id")).as("id"))
  }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.toString).mkString(" <- ")

  /** Nothing the call started is still running. */
  private def assertQuiet(): Unit = {
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
    assert(sc.statusTracker.getActiveJobIds.isEmpty,
      s"jobs still active: ${sc.statusTracker.getActiveJobIds.mkString(",")}")
    val alive = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-parallel") && t.isAlive)
    assert(alive.isEmpty, s"pool threads alive: ${alive.map(_.getName)}")
  }

  private def source(names: Seq[String]): String = {
    val dir = tmpDir("par")
    names.zipWithIndex.foreach { case (n, i) =>
      Seq((i.toLong, n)).toDF("id", "v").write.parquet(s"$dir/$n.parquet")
    }
    dir
  }

  test("runJob: results in config order; a failing table is a Left while the others land") {
    val names = Seq("t0", "t1", "t2", "t3", "t4", "t5")
    val src = source(names.filter(_ != "t3"))
    val dst = tmpDir("par")
    val rs = Extraction.runJob(spark, src, dst,
      names.map(Extraction.TableJob(_, "Full Refresh")))
    assertQuiet()
    assert(rs.map(_.fold(_._1, _.table)) == names)
    assert(rs(3).isLeft && rs.count(_.isRight) == 5)
    assert(rs.collect { case Right(r) => r.rows } == Seq.fill(5)(1L))
    for (n <- names if n != "t3")
      assert(spark.read.parquet(s"$dst/$n.parquet").as[(Long, String)]
        .collect().map(_._2).toSeq == Seq(n))
  }

  test("writeAll: joins every write, then rethrows the FIRST failure in input order") {
    val dir = tmpDir("par")
    // a four-entry Map keeps insertion order: a, b, c, d. `b` fails
    // AFTER `d`, yet precedes it in the input
    val tables = Map("a" -> slow(1500), "b" -> slow(700, "boom-b"),
      "c" -> slow(10), "d" -> slow(10, "boom-d"))
    val e = intercept[Throwable](Tables.writeAll(tables, dir, prefix = "w"))
    assertQuiet()
    assert(messages(e).contains("boom-b"), messages(e))
    assert(e.getSuppressed.exists(s => messages(s).contains("boom-d")))
    // the slowest write had finished before the throw
    for (n <- Seq("a", "c"))
      assert(new java.io.File(s"$dir/w_$n.parquet/_SUCCESS").exists(), n)
  }

  test("transformAll: joins every table, then rethrows the FIRST failure in input order") {
    // Impute Nulls runs a stats job per numeric table while the map is built
    val tables = Map("a" -> slow(1500), "b" -> slow(700, "boom-b"),
      "c" -> slow(10), "d" -> slow(10, "boom-d"))
    val e = intercept[Throwable](
      Transforms.transformAll(tables, Seq("Impute Nulls")))
    assertQuiet()
    assert(messages(e).contains("boom-b"), messages(e))
    assert(e.getSuppressed.exists(s => messages(s).contains("boom-d")))
    // success: every table back under its own name
    val ok = Transforms.transformAll(
      Map("x" -> slow(10), "y" -> slow(10), "z" -> slow(10)),
      Seq("Impute Nulls"))
    assertQuiet()
    assert(ok.keySet == Set("x", "y", "z"))
  }

  test("a local property the caller sets reaches every job the call launches") {
    val names = Seq("p0", "p1", "p2", "p3", "p4")
    val src = source(names)
    val raw = tmpDir("par"); val out = tmpDir("par")
    sc.setLocalProperty("graft.spec.caller", "caller-42")
    val jobs = try jobStarts {
      Extraction.runJob(spark, src, raw,
        names.map(Extraction.TableJob(_, "Full Refresh")))
      val t = Transforms.transformAll(Tables.load(spark, raw, names),
        Seq("Impute Nulls"))
      Tables.writeAll(t, out)
    } finally sc.setLocalProperty("graft.spec.caller", null)
    assertQuiet()
    // per table: a source read, a write, a stats pass, a write
    assert(jobs.size >= 3 * names.size, s"${jobs.size} jobs")
    val missing = jobs.filter(
      _.properties.getProperty("graft.spec.caller") != "caller-42")
    assert(missing.isEmpty,
      s"jobs without the caller's property: ${missing.map(_.jobId)}")
  }
}
