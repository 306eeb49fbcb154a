package graft.engine

import org.apache.spark.sql.SparkSession

/** Per-table fan-out for the medallion stages. Each stage's tables are
  * independent, yet one table's work is a chain of small Spark jobs
  * (a watermark probe, a stats pass, a write) that leave most cores idle;
  * submitting the tables' chains side by side lets the scheduler fill
  * those gaps. No data moves differently: each table runs exactly the
  * jobs it ran alone.
  */
object Parallel {

  /** `f` over `items` on a pool of at most `defaultParallelism` threads,
    * created for this call and gone when it returns.
    *
    * The threads are constructed on the calling thread, so they inherit
    * its Spark local properties (job group, description, scheduler pool)
    * and active session, and every job they launch is attributed as if
    * the caller had launched it. Every task is joined before the call
    * returns or throws — no job of the call outlives it. Results come
    * back in input order; if any task threw, the first failure in input
    * order is rethrown after the join, the later ones suppressed onto it.
    */
  def map[A, B](spark: SparkSession, items: Seq[A])(f: A => B): Seq[B] = {
    val in = items.toIndexedSeq
    val out = new Array[Either[Throwable, B]](in.size)
    val next = new java.util.concurrent.atomic.AtomicInteger
    def drain(): Unit = {
      var j = next.getAndIncrement()
      while (j < in.size) {
        out(j) = try Right(f(in(j))) catch { case e: Throwable => Left(e) }
        j = next.getAndIncrement()
      }
    }
    val n = math.min(in.size, spark.sparkContext.defaultParallelism)
    if (n <= 1) drain()
    else {
      val workers = Seq.tabulate(n) { i =>
        val t = new Thread(() => drain(), s"graft-parallel-$i")
        t.setDaemon(true)
        t
      }
      workers.foreach(_.start())
      // an interrupt of the caller must not abandon running tasks: finish
      // the join, then hand the interrupt back
      var interrupted = false
      workers.foreach { w =>
        while (w.isAlive)
          try w.join() catch { case _: InterruptedException => interrupted = true }
      }
      if (interrupted) Thread.currentThread().interrupt()
    }
    val failures = out.iterator.collect { case Left(e) => e }.toSeq
    failures.headOption.foreach { first =>
      failures.tail.foreach(e => if (e ne first) first.addSuppressed(e))
      throw first
    }
    out.iterator.map(_.toOption.get).toSeq
  }
}
