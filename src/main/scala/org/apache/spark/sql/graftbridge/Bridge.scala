package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge.
  *
  * Spark 4 made the classic Column/Expression converters
  * `private[sql]`; extension libraries that ship custom Catalyst
  * expressions conventionally expose them through a shim in the
  * `org.apache.spark.sql` namespace (same pattern as Delta/Sedona/
  * frameless). Only these two converters and temp-function
  * registration leak through — nothing else.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit = {
    // idempotent: re-registering an identical builder only buys a
    // SimpleFunctionRegistry WARN per name per call — registerAll runs
    // before every SQL-surface query, so skip names already present
    val reg = spark.sessionState.functionRegistry
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
    if (!reg.functionExists(id))
      reg.createOrReplaceTempFunction(name, builder, "built-in")
  }

  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed

  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session's SQL conf and a fresh Hadoop conf carrying it: what
    * Spark's own file scans build their readers with.
    */
  def sqlConf(spark: SparkSession): org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf

  def newHadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  /** A file source's output schema: every field nullable, nested ones
    * too, as a `spark.read.schema(st)` scan reports it.
    */
  def asNullable(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = st.asNullable
}
