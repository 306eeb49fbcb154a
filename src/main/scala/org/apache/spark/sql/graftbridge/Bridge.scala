package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Input-type declaration for graft kernels: `AbstractDataType` (the
  * element type of `ImplicitCastInputTypes.inputTypes`) is private[sql],
  * so expressions living in graft.functions cannot write the override
  * themselves — this sql-subpackage trait adapts a public `DataType`
  * list into it. With it, the analyzer COERCES SQL-surface arguments
  * (array(0.1,0.2) is array<double>; without coercion the float kernels
  * reinterpreted 8-byte doubles as 4-byte floats — silent garbage) or
  * rejects them with a clean AnalysisException instead of an executor
  * ClassCastException.
  */
trait KernelInputTypes
    extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  def kernelInputTypes: Seq[org.apache.spark.sql.types.DataType]
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    kernelInputTypes
}

/** Column ⇄ Expression bridge. Spark 4 made these conversions
  * private[sql] (Column now wraps a ColumnNode); a custom Catalyst
  * Expression still needs them to surface as a Column. This object lives
  * in an org.apache.spark.sql subpackage purely to satisfy that access
  * qualifier — it adds no behavior.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** True when the Column is a plan constant — a literal, or an
    * expression that constant-folds to one. The Spark 4 Column wraps a
    * ColumnNode and [[expression]] returns a lazy ColumnNodeExpression
    * whose `foldable` is pinned false pre-analysis, so callers that
    * need a literal-only contract (the PQ/JL kernels' identity caches)
    * must inspect the NODE, which this sql-subpackage bridge can.
    */
  def isPlanConstant(c: Column): Boolean = c.node match {
    case _: org.apache.spark.sql.internal.Literal => true
    case org.apache.spark.sql.classic.ExpressionColumnNode(e, _) => e.foldable
    case _ =>
      // a COMPOSED constant — array(lit(...)), a cast of a literal —
      // arrives as an UnresolvedFunction/Cast node that the two fast
      // paths cannot judge. Resolve it for real: analyze the column
      // against a columnless 1-row plan and ask the resolved
      // expression's own foldable (CreateArray of literals → true,
      // rand(seed) → false). A node referencing any input column fails
      // analysis → not a constant. One analyzer pass at plan-build
      // time, nothing per-row.
      try {
        val spark = org.apache.spark.sql.SparkSession.active
        spark.range(1).select(c).queryExecution.analyzed.expressions.forall {
          // the analyzer wraps the projection in an Alias, whose
          // foldable is pinned false — judge its child
          case a: org.apache.spark.sql.catalyst.expressions.Alias =>
            a.child.foldable
          case e => e.foldable
        }
      } catch { case scala.util.control.NonFatal(_) => false }
  }

  /** Build a session over an existing SparkContext with the given
    * extensions applied. Builder.getOrCreate silently ignores
    * withExtensions when a session already exists, so tests (which share
    * one context) need this to exercise an extensions install
    * end-to-end. The classic constructor is Scala-private but
    * bytecode-public — reflection reaches it without access overrides.
    */
  def sessionWithExtensions(
      sc: org.apache.spark.SparkContext,
      ext: org.apache.spark.sql.SparkSessionExtensions): org.apache.spark.sql.SparkSession = {
    val ctor = classOf[org.apache.spark.sql.classic.SparkSession].getConstructor(
      classOf[org.apache.spark.SparkContext],
      classOf[Option[_]], classOf[Option[_]],
      classOf[org.apache.spark.sql.SparkSessionExtensions],
      classOf[scala.collection.immutable.Map[_, _]],
      classOf[scala.collection.immutable.Map[_, _]])
    ctor.newInstance(sc, None, None, ext,
      Map.empty[String, String], Map.empty[String, String])
  }

  /** The canonicalized analyzed plan of `df`, printed in full: no node
    * or expression elides fields past `spark.sql.debug.maxToStringFields`
    * and the text is not cut at `spark.sql.maxPlanStringLength`, so two
    * plans that differ only past either limit print differently. The
    * print runs under a copy of the session's conf
    * (`SQLConf.withExistingConf`, private[sql]); the session is not
    * touched.
    */
  def fullPlanString(df: org.apache.spark.sql.Dataset[_]): String = {
    import org.apache.spark.sql.internal.SQLConf
    val qe = df.queryExecution
    val conf = qe.sparkSession.sessionState.conf.clone()
    conf.setConf(SQLConf.MAX_TO_STRING_FIELDS, Int.MaxValue)
    conf.unsetConf(SQLConf.MAX_PLAN_STRING_LENGTH)
    SQLConf.withExistingConf(conf) {
      qe.analyzed.canonicalized.treeString(verbose = true,
        addSuffix = false, maxFields = Int.MaxValue, printOperatorId = false)
    }
  }

  /** `StructType.asNullable` (private[spark]): every field, array
    * element and map value made nullable, recursively — the schema a
    * file-source read of data written with `s` reports.
    */
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable

  /** Block until the asynchronous listener bus has delivered every
    * queued event (bounded wait). `SparkContext.listenerBus` is
    * private[spark]; [[graft.Bench]]'s per-query shuffle-bytes
    * instrumentation needs the drain so task-end metrics posted by a
    * just-finished job are counted in that query's window, not the
    * next one's.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(30000)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        // a corrupted metric window must be distinguishable from a
        // clean one: still-queued task-end events will land in the
        // NEXT window and mis-attribute shuffle bytes
        Console.err.println("[bridge] WARN: listener bus drain timed " +
          "out after 30 s — per-query metric windows may bleed")
    }

  /** The concrete RDD behind a `localCheckpoint`ed Dataset (its
    * analyzed plan is a LogicalRDD — private[sql], hence this bridge).
    * Iterative trainers ([[graft.northstar.TextAnalysis.bpeInduct]])
    * re-checkpoint a working frame every round; without a handle to the
    * superseded round's RDD its truncated-lineage blocks stay pinned
    * until GC gets around to the reference — hundreds of live copies
    * of the frame over a tokenizer-scale run. None when the plan is
    * not a materialized-RDD scan.
    */
  def checkpointRdd(df: org.apache.spark.sql.Dataset[_])
      : Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }
}
