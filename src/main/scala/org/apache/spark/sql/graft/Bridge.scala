package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

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
