package org.apache.spark.sql.graft

import org.apache.spark.{Partition, SparkContext, SparkEnv, TaskContext, TaskContextImpl}
import org.apache.spark.memory.{MemoryMode, TaskMemoryManager}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow, QueryPlanningTracker}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LocalTableScanExec, LogicalRDD, QueryExecution, RDDScanExec, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.Utils

import java.util.concurrent.atomic.AtomicLong
import scala.reflect.ClassTag

/** Column ↔ Catalyst `Expression` / DataFrame ↔ `InternalRow` bridge.
  *
  * Spark 4 moved the public `Column` API to column nodes and made the
  * classic converters `private[sql]`; extension libraries that ship native
  * expressions host a one-line bridge inside the `org.apache.spark.sql`
  * namespace to reach them (the standard pattern across public Spark
  * connector/extension projects). Everything else in this library lives
  * under `graft.*`.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Fully convert a `Column` tree to a Catalyst `Expression` tree.
    * [[expression]] wraps the column NODE lazily — fine inside Dataset
    * analysis, but a `FunctionRegistry` builder must hand the analyzer a
    * real expression or the wrapper survives to codegen as Unevaluable.
    */
  def toCatalyst(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Execute the frame's physical plan and hand back the raw Tungsten rows.
    * Lets per-partition kernels read individual fixed-width fields lazily
    * (`UnsafeRow` getters) without paying the full row encoder — variable
    * width columns (arrays, maps) stay as undecoded bytes unless touched.
    */
  def toInternalRows(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution.toRdd

  /** Rebuild a DataFrame from Tungsten rows produced by a kernel over
    * [[toInternalRows]] output. The rows must already match `schema`.
    */
  def fromInternalRows(spark: SparkSession, rdd: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** A DataFrame over a logical plan built or rewritten by the caller. */
  def ofPlan(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** [[ofPlan]] of a plan that is already analyzed, for example an
    * analyzed plan with a leaf swapped for one with the same output: the
    * plan is marked analyzed, so the analyzer returns it as it is.
    */
  def ofAnalyzedPlan(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    ofPlan(spark, plan)
  }

  /** Task-attempt ids of [[computeOnDriver]] runs: negative and below
    * the block manager's reserved ids (-1, -1024), so one never collides
    * with a scheduled task's id or with another run's.
    */
  private val driverTaskIds = new AtomicLong(-2048L)

  /** Computes the one partition of `rdd` with `f` on the calling thread,
    * instead of submitting a job. It runs as an executor would run the
    * task: on its own deserialized copy of `rdd`, `f` and the partition,
    * under a task context of its own (see [[runAsTask]]).
    * The copy matters: expressions keep evaluation state (the variables of
    * a higher-order function's lambda, for one), and a plan built from a
    * kept plan shares them with every other plan built from it, which
    * other threads may be running. A pushed frame's consumers that have a
    * [[KeptPlan]] run without it: each kept instance was copied once, when
    * it was built, and serves one push at a time.
    */
  def computeOnDriver[T, U](rdd: RDD[T])(f: (TaskContext, Iterator[T]) => U): U = {
    require(rdd.partitions.length == 1, s"computeOnDriver: ${rdd.partitions.length} partitions, not 1")
    val (taskRdd, taskF, part) = taskCopy((rdd, f, rdd.partitions(0)))
    runAsTask(rdd.sparkContext, taskRdd, part)(taskF)
  }

  /** A closure-serializer copy of `value`, an RDD's lineage among it, as a
    * task receives it. References within `value` stay shared in the copy.
    */
  private def taskCopy[A <: AnyRef: ClassTag](value: A): A = {
    // the lineage walk a job's scheduling makes: it fills each RDD's
    // dependencies, which a serialized RDD carries instead of its parents
    def walk(r: RDD[_]): Unit = r.dependencies.foreach(d => walk(d.rdd))
    value match {
      case p: Product => p.productIterator.foreach { case r: RDD[_] => walk(r); case _ => }
      case _ =>
    }
    val ser = SparkEnv.get.closureSerializer.newInstance()
    ser.deserialize[A](ser.serialize(value), Utils.getContextOrSparkClassLoader)
  }

  /** Computes `part` of `rdd` with `f` on the calling thread under a task
    * context of its own, with a task memory manager and the caller's local
    * properties; completion and failure listeners run at its end, and its
    * memory and block locks are released in a `finally`.
    */
  private[graft] def runAsTask[T, U](sc: SparkContext, rdd: RDD[T], part: Partition)(
      f: (TaskContext, Iterator[T]) => U): U = {
    val env = SparkEnv.get
    val id = driverTaskIds.decrementAndGet()
    val memory = new TaskMemoryManager(env.memoryManager, id)
    val ctx = new TaskContextImpl(0, 0, 0, id, 0, 1, memory,
      Utils.cloneProperties(sc.getLocalProperties), env.metricsSystem)
    TaskContext.setTaskContext(ctx)
    env.blockManager.registerTask(id)
    try {
      try f(ctx, rdd.iterator(part, ctx))
      catch {
        case e: Throwable =>
          try ctx.markTaskFailed(e) catch { case t: Throwable => e.addSuppressed(t) }
          throw e
      } finally ctx.markTaskCompleted(None)
    } finally {
      try {
        env.blockManager.memoryStore.releaseUnrollMemoryForThisTask(MemoryMode.ON_HEAP)
        env.blockManager.memoryStore.releaseUnrollMemoryForThisTask(MemoryMode.OFF_HEAP)
        env.blockManager.releaseAllLocksForTask(id)
        memory.cleanUpAllAllocatedMemory()
      } finally TaskContext.unset()
    }
  }

  /** Whether `plan` reads only rows held on the driver in one task's
    * reach: every leaf a `LocalTableScanExec` or a scan of `held`, no
    * exchange and no subquery. An adaptive plan is judged by its current
    * plan, which holds its exchanges before execution.
    */
  def driverLocal(plan: SparkPlan, held: RDD[InternalRow] = null): Boolean = {
    val p = plan match { case a: AdaptiveSparkPlanExec => a.executedPlan; case p => p }
    p.collectLeaves().forall {
      case _: LocalTableScanExec => true
      case s: RDDScanExec => held != null && (s.rdd eq held)
      case _ => false
    } && p.find(_.isInstanceOf[Exchange]).isEmpty && p.subqueriesAll.isEmpty
  }

  /** The plan `consumer` builds over `template`, optimized, planned and
    * code-generated once, for running on the rows of many pushes. Each
    * leaf of `template` that `input` accepts becomes a scan of rows bound
    * per run: a one-partition leaf the optimizer cannot see into, so
    * neither `ConvertToLocalRelation` nor `PropagateEmptyRelation` folds
    * the plan around one push's rows. None when the plan cannot be kept:
    * it holds a nondeterministic expression, or a value fixed per
    * execution (`current_timestamp()` and the other `current_*`), or it
    * reads anything but driver-local rows in one partition. An analysis
    * error of `consumer` is thrown.
    */
  def keptPlan(spark: SparkSession, template: LogicalPlan, input: LocalRelation => Boolean)(
      consumer: DataFrame => DataFrame): Option[KeptPlan] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val held = new HeldRows(spark.sparkContext)
    val plan = template.transformUp {
      case l: LocalRelation if input(l) => LogicalRDD(l.output, held, SinglePartition)(session)
    }
    val qe = consumer(ofAnalyzedPlan(spark, plan)).queryExecution
    if (!qe.analyzed.deterministic || qe.analyzed.containsPattern(CURRENT_LIKE) ||
        !driverLocal(qe.executedPlan, held) || qe.toRdd.partitions.length != 1) None
    else {
      // the instance's own expressions, as a task's: a copy of the lineage
      // with the generated code's references, and the copy's row holder
      val (rdd, rows, part) = taskCopy((qe.toRdd, held, qe.toRdd.partitions(0)))
      Some(new KeptPlan(spark.sparkContext, qe, rdd, rows, part))
    }
  }

  /** Register a SQL function builder on a LIVE session (the runtime twin
    * of `SparkSessionExtensions.injectFunction`, which only applies at
    * session build time). Same triple shape as injectFunction.
    */
  def registerFunction(spark: SparkSession,
      fn: (org.apache.spark.sql.catalyst.FunctionIdentifier,
           org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
           Seq[Expression] => Expression)): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(fn._1, fn._2, fn._3)
}

/** The rows a [[KeptPlan]] reads, bound for one run: one partition,
  * computed only on the driver. The rows are never serialized.
  */
private[graft] final class HeldRows(sc: SparkContext) extends RDD[InternalRow](sc, Nil) {
  @transient var rows: Seq[InternalRow] = _

  override protected def getPartitions: Array[Partition] = Array(HeldRows.Only)

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
    val r = rows
    require(r != null, "HeldRows: no rows bound")
    r.iterator
  }
}

private object HeldRows {
  object Only extends Partition { override def index: Int = 0 }
}

/** A consumer plan of pushed rows kept with its physical plan, generated
  * code and a copy of its executable lineage of its own (see
  * [[Bridge.keptPlan]]). [[run]] binds one push's rows and computes the
  * plan's one partition on the calling thread: no Catalyst phase, no code
  * generation, no job and no task copy per run. An instance holds
  * evaluation state, so it runs one push at a time.
  */
final class KeptPlan private[graft] (sc: SparkContext, qe: QueryExecution, rdd: RDD[InternalRow],
                                    held: HeldRows, part: Partition) {
  /** Whether the instance ran before. */
  private var ran = false

  /** `f` over the plan's rows for `rows`, inside one SQL execution named
    * `name` that listeners see. The first run reports the kept plan's
    * query execution, whose tracker holds the Catalyst phases of the
    * build; a later run reports the same plans under an empty tracker of
    * its own, since it planned nothing.
    */
  def run[U](rows: Seq[InternalRow], name: String)(f: (TaskContext, Iterator[InternalRow]) => U): U = {
    val execution = if (ran) new KeptExecution(qe) else qe
    ran = true
    held.rows = rows
    try SQLExecution.withNewExecutionId(execution, Some(name))(Bridge.runAsTask(sc, rdd, part)(f))
    finally held.rows = null
  }

  /** The plan's rows for `rows`, as `Dataset.collect` returns them. */
  def collect(rows: Seq[InternalRow]): Array[Row] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(qe.analyzed.schema)
    run(rows, "collect")((_, it) => it.map(r => toRow(r).asInstanceOf[Row]).toArray)
  }
}

/** A query execution over the plans of `kept`, with its own (empty)
  * planning tracker, so a listener sees what each run planned. It plans
  * nothing itself: every plan it reports is `kept`'s.
  */
private final class KeptExecution(kept: QueryExecution)
    extends QueryExecution(kept.sparkSession, kept.logical, new QueryPlanningTracker(None),
      kept.mode, kept.shuffleCleanupMode, kept.refreshPhaseEnabled) {
  override def analyzed: LogicalPlan = kept.analyzed
  override def commandExecuted: LogicalPlan = kept.commandExecuted
  override def normalized: LogicalPlan = kept.normalized
  override def withCachedData: LogicalPlan = kept.withCachedData
  override def optimizedPlan: LogicalPlan = kept.optimizedPlan
  override def sparkPlan: SparkPlan = kept.sparkPlan
  override def executedPlan: SparkPlan = kept.executedPlan
  override def toRdd: RDD[InternalRow] = kept.toRdd
}
