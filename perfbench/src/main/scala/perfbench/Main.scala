package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.SparkSession

/** Runs one workload of the benchmark in this JVM and writes its raw
  * record (set-up times, op intervals, spans, jobs, outputs) as JSON.
  * The Python driver (run.py) generates the inputs, writes the plan this
  * reads, and turns the record into metrics and checks.
  *
  * Usage: perfbench.Main <plan.json> <record.json>
  */
object Main {
  val mapper = new ObjectMapper()

  /** What every workload gets: the session, the plan, span recording
    * and the record under construction. */
  final class Run(val spark: SparkSession, val plan: JsonNode) {
    val spans = new Spans(spark.sparkContext)
    val log = new JobLog
    val record: ObjectNode = mapper.createObjectNode()
    val ops: ArrayNode = record.putArray("ops")
    val extra: ObjectNode = record.putObject("extra")
    def traced: Boolean = plan.get("trace").asBoolean()
    def str(key: String): String = plan.get(key).asText()
    def strs(key: String): Seq[String] =
      plan.get(key).elements().asScala.map(_.asText()).toSeq

    /** Time `body` as op `i`; a throwing op is recorded as failed and
      * the loop goes on. */
    def op(i: Int, kind: String, traced: Boolean = false)(
        body: => Unit): Unit = {
      spans.op = i
      val o = ops.addObject()
      o.put("i", i).put("kind", kind).put("traced", traced)
      val t0 = Clock.nowMs
      val ok =
        try { body; true }
        catch { case scala.util.control.NonFatal(e) =>
          o.put("error", s"${e.getClass.getSimpleName}: ${e.getMessage}"
            .take(500))
          false
        }
      o.put("t0", t0).put("t1", Clock.nowMs).put("ok", ok)
    }

    def lastOp: ObjectNode = ops.get(ops.size - 1).asInstanceOf[ObjectNode]

    /** Set-up repeated `reps` times; each repetition's seconds go to the
      * record and the value of the last one is kept. */
    def setup[A](reps: Int)(body: Int => A): A = {
      val times = record.putArray("setup_s")
      var out: Option[A] = None
      for (r <- 0 until reps) {
        val t0 = System.nanoTime()
        out = Some(body(r))
        times.add((System.nanoTime() - t0) / 1e9)
      }
      out.get
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: perfbench.Main <plan.json> <record.json>")
    val plan = mapper.readTree(Files.readString(Paths.get(args(0))))
    // set-up starts the engine's session several times (each earlier one
    // is stopped again), so its median is part of every workload's setup_s
    val sessionTimes = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 0 until plan.get("session_reps").asInt()) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = graft.engine.GraftSession.local(plan.get("cores").asInt(),
        "perfbench")
      sessionTimes += (System.nanoTime() - t0) / 1e9
    }
    val run = new Run(spark, plan)
    val sessions = run.record.putArray("session_s")
    sessionTimes.foreach(sessions.add(_))
    spark.sparkContext.addSparkListener(run.log)
    try {
      plan.get("workload").asText() match {
        case "medallion" => Medallion.run(run)
        case "corpus_ingest" => CorpusIngest.run(run)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      JobLog.drain(spark.sparkContext)
      writeTrace(run)
      Files.writeString(Paths.get(args(1)),
        mapper.writerWithDefaultPrettyPrinter().writeValueAsString(run.record))
    } finally spark.stop()
  }

  private def writeTrace(run: Run): Unit = {
    val spans = run.record.putArray("spans")
    run.spans.all.foreach { s =>
      spans.addObject().put("id", s.id).put("parent", s.parent)
        .put("layer", s.layer).put("op", s.op).put("t0", s.t0).put("t1", s.t1)
    }
    val jobs = run.record.putArray("jobs")
    run.log.allJobs.foreach { j =>
      jobs.addObject().put("id", j.id).put("span", j.span)
        .put("t0", j.t0).put("t1", j.t1).put("execution", j.execution)
        .put("tasks", j.tasks).put("run_ms", j.runMs).put("cpu_ns", j.cpuNs)
        .put("gc_ms", j.gcMs).put("shuffle_bytes", j.shuffleBytes)
        .put("input_bytes", j.inputBytes).put("input_records", j.inputRecords)
        .put("output_bytes", j.outputBytes)
        .put("output_records", j.outputRecords)
    }
    val execs = run.record.putArray("executions")
    run.log.allExecutions.foreach { case (id, t) =>
      execs.addObject().put("id", id).put("t", t)
    }
  }

  /** Copy the directory tree `from` to `to`. */
  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).iterator().asScala.foreach { p =>
      val target = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target)
    }
  }

  /** Copy every file of directory `from` into directory `to`. */
  def copyParts(from: String, to: String): Unit = {
    val target = Files.createDirectories(Paths.get(to))
    Files.list(Paths.get(from)).iterator().asScala.foreach { part =>
      Files.copy(part, target.resolve(part.getFileName),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
