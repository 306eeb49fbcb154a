package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Job-to-span attribution on the JVM side: every job carries the id of
  * the innermost span open when it was submitted, jobs outside any span
  * carry none, and disabled tracing records nothing.
  */
class SpansSpec extends AnyFunSuite {

  test("jobs are attributed to the innermost open span") {
    val spark = graft.engine.GraftSession.local(2, "perfbench-test")
    try {
      val sc = spark.sparkContext
      val log = new JobLog
      sc.addSparkListener(log)
      val spans = new Spans(sc)
      sc.parallelize(1 to 10).count()                   // before tracing
      spans.enabled = true
      spans.op = 7
      spans("pipeline") {
        sc.parallelize(1 to 10).count()                    // pipeline's own job
        spans("extraction") {
          spans("tables")(sc.parallelize(1 to 10).count()) // innermost: tables
          sc.parallelize(1 to 10).count()                  // back in extraction
        }
      }
      sc.parallelize(1 to 10).count()                      // after: no span
      spans.enabled = false
      spans("mapping")(sc.parallelize(1 to 10).count())    // disabled: no span
      JobLog.drain(sc)
      val recorded = spans.all
      assert(recorded.map(_.layer) == Seq("pipeline", "extraction", "tables"))
      assert(recorded.map(_.parent) == Seq(-1, 0, 1))
      assert(recorded.forall(s => s.op == 7 && s.t1 >= s.t0))
      val jobSpans = log.allJobs.map(_.span)
      assert(jobSpans == Seq(-1, 0, 2, 1, -1, -1))
      assert(log.allJobs.forall(j => j.t1 >= j.t0 && j.tasks > 0))
      assert(sc.getLocalProperty(Spans.SpanKey) == null)
    } finally spark.stop()
  }
}
