package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.classic.{ExpressionUtils, UserDefinedFunctionUtils}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedFunction}

/** Column ↔ Catalyst `Expression` bridge.
  *
  * Spark 4 made the converters `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`), so engine code
  * that must build an expression NODE directly — bypassing
  * name-based `FunctionRegistry` resolution, e.g.
  * [[graft.criteria.Criteria.withPartitionColumns]]'s registry-immune
  * `DateFormatClass` — reaches it through this subpackage object.
  * No Spark internals are reimplemented here; this is visibility
  * plumbing only.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A call of the `functions.udf` UDF `f` under `name`: the arity
    * check and `ScalaUDF` node Spark's own UDF registration builds.
    */
  def scalaUdf(name: String, f: UserDefinedFunction,
      args: Seq[Expression]): ScalaUDF = {
    val u = f.asInstanceOf[SparkUserDefinedFunction].withName(name)
    if (args.length != u.inputEncoders.length)
      throw QueryCompilationErrors.wrongNumArgsError(
        name, Seq(u.inputEncoders.length), args.length)
    UserDefinedFunctionUtils.toScalaUDF(u, args)
  }
}
