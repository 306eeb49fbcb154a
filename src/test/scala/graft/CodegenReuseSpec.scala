package graft

import org.scalatest.funsuite.AnyFunSuite

/** A repeated `Pipeline.run` must reuse the classes the first run
  * compiled. Spark keeps them in one JVM-wide cache that takes its size
  * from the first session that generates code, so the check needs a JVM
  * whose first session is `GraftSession.local`: [[CodegenReuseMain]],
  * launched here with the test classpath.
  */
class CodegenReuseSpec extends AnyFunSuite {

  test("a repeated Pipeline.run on an unchanged source compiles almost no whole-stage-codegen classes") {
    val root = TestTmp.dir("codegen-reuse")
    val (exit, report) = ForkedJvm.run("graft.CodegenReuseMain", root, "16")
    assert(exit == 0, s"worker failed:\n$report")
    val m = "first=(\\d+) second=(\\d+) reused=(\\d+)".r.findFirstMatchIn(report)
      .getOrElse(fail(s"no compile-count report:\n$report"))
    val (first, second) = (m.group(1).toLong, m.group(2).toLong)
    // the worker rewrote every source table before the second run, so
    // every output was recomputed: the count is of classes the second
    // run's plans needed, not of a run that skipped them
    assert(m.group(3) == "0", s"the second run reused ${m.group(3)} outputs")
    info(s"classes compiled: first run $first, second run $second")
    // more classes than Spark's default cache of 100 holds, so the check
    // sees an undersized cache evict them between the runs
    assert(first > 100, s"only $first classes; the source is too small")
    assert(second <= 5, s"the second run recompiled $second of $first classes")
  }
}
