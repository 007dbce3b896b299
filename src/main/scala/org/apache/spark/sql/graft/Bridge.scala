package org.apache.spark.sql.graft

import org.apache.spark.{Partition, SparkEnv, TaskContext, TaskContextImpl}
import org.apache.spark.memory.{MemoryMode, TaskMemoryManager}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.Utils

import java.util.concurrent.atomic.AtomicLong

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
    * under a task context of its own with a task memory manager and the
    * caller's local properties; completion and failure listeners run at
    * its end, and its memory and block locks are released in a `finally`.
    * The copy matters: expressions keep evaluation state (the variables of
    * a higher-order function's lambda, for one), and a plan built from a
    * kept plan shares them with every other plan built from it, which
    * other threads may be running.
    */
  def computeOnDriver[T, U](rdd: RDD[T])(f: (TaskContext, Iterator[T]) => U): U = {
    require(rdd.partitions.length == 1, s"computeOnDriver: ${rdd.partitions.length} partitions, not 1")
    // the lineage walk a job's scheduling makes: it fills each RDD's
    // dependencies, which a serialized RDD carries instead of its parents
    def walk(r: RDD[_]): Unit = r.dependencies.foreach(d => walk(d.rdd))
    walk(rdd)
    val env = SparkEnv.get
    val ser = env.closureSerializer.newInstance()
    val (taskRdd, taskF, part) = ser.deserialize[(RDD[T], (TaskContext, Iterator[T]) => U, Partition)](
      ser.serialize((rdd, f, rdd.partitions(0))), Utils.getContextOrSparkClassLoader)
    val id = driverTaskIds.decrementAndGet()
    val memory = new TaskMemoryManager(env.memoryManager, id)
    val ctx = new TaskContextImpl(0, 0, 0, id, 0, 1, memory,
      Utils.cloneProperties(rdd.sparkContext.getLocalProperties), env.metricsSystem)
    TaskContext.setTaskContext(ctx)
    env.blockManager.registerTask(id)
    try {
      try taskF(ctx, taskRdd.iterator(part, ctx))
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
