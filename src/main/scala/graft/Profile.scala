package graft

import java.util.concurrent.ConcurrentHashMap
import scala.collection.JavaConverters._

import org.apache.spark.scheduler._

/** Per-job profiling for one contract query (optimization round
  * measurement harness, guide §1): runs the named queries once untimed
  * (JIT/artifact warm-up, the Bench discipline), then once timed, with
  * a listener that records every Spark job's wall time, task count and
  * call site. The report attributes a query's seconds to the jobs the
  * lifecycle fires (save / append / census / serve), which wall-clock
  * medians alone cannot do.
  * Usage: runMain graft.Profile <query> [query ...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object Profile {
  private final class JobLog extends SparkListener {
    case class J(id: Int, desc: String, site: String, t0: Long,
                 var tasks: Int = 0, var dt: Long = 0L,
                 var runMs: Long = 0L, var cpuMs: Long = 0L,
                 var gcMs: Long = 0L)
    val jobs = new ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    private val stageToJob = new ConcurrentHashMap[Int, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("callSite.short")))
        .orElse(e.stageInfos.lastOption.map(_.name))
        .getOrElse("")
      val nTasks = e.stageInfos.map(_.numTasks).sum
      jobs.put(e.jobId,
        J(e.jobId, desc, s"stages=${e.stageInfos.size} tasks=$nTasks " +
          site.take(60), System.nanoTime()))
      e.stageInfos.foreach(si => stageToJob.put(si.stageId, e.jobId))
      order.add(e.jobId): Unit
    }
    // task run/CPU/GC attribution: cpu ≈ run means real compute; cpu
    // far under run means the tasks were BLOCKED (lock contention, IO
    // waits) — the signal that separates "the kernel is expensive"
    // from "the kernel serializes on a global" (guide §7.1 reads this
    // off the UI's task metrics; the UI is disabled here)
    override def onTaskEnd(e: org.apache.spark.scheduler
        .SparkListenerTaskEnd): Unit = {
      val jid = stageToJob.get(e.stageId)
      val j = jobs.get(jid)
      val m = e.taskMetrics
      if (j != null && m != null) j.synchronized {
        j.runMs += m.executorRunTime
        j.cpuMs += m.executorCpuTime / 1000000L
        j.gcMs += m.jvmGCTime
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.dt = System.nanoTime() - j.t0
    }
    def report(): Unit = {
      val js = order.asScala.flatMap(id => Option(jobs.get(id)))
      val total = js.map(_.dt).sum / 1e9
      println(f"[profile] ${js.size} jobs, sum of job walls $total%.3f s")
      js.foreach { j =>
        println(f"[profile]   job ${j.id}%3d ${j.dt / 1e9}%7.3f s  " +
          f"run=${j.runMs / 1000.0}%7.2f cpu=${j.cpuMs / 1000.0}%7.2f " +
          f"gc=${j.gcMs / 1000.0}%5.2f  " +
          s"${j.site}  ${j.desc.take(80)}")
      }
    }
    def reset(): Unit = { jobs.clear(); order.clear(); stageToJob.clear() }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: runMain graft.Profile <query> [...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = DevSession.local(cpus, "graft-profile")
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    val qs = SparkEntry.queries
    try args.foreach { n =>
      qs.get(n) match {
        case Some(fn) =>
          // untimed warm-up (JIT + one-time artifact training)
          try { fn(spark, sfDir).count() } catch { case t: Throwable =>
            println(s"[profile] $n warm-up FAILED: ${t.getMessage}") }
          DevSession.releaseBlocks(spark)
          System.gc()
          org.apache.spark.sql.graftbridge.Bridge
            .drainListenerBus(spark.sparkContext)
          log.reset()
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          org.apache.spark.sql.graftbridge.Bridge
            .drainListenerBus(spark.sparkContext)
          println(f"\n========== $n%s  wall $dt%.3f s ==========")
          log.report()
          DevSession.releaseBlocks(spark)
        case None => println(s"[profile] unknown query '$n'")
      }
    } finally spark.stop()
  }
}
