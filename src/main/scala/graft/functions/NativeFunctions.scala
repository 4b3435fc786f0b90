package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** Session registration of the native (Catalyst) expressions. */
private[graft] object NativeFunctions {

  /** Register `name` in the session's function registry unless the
    * session already has it. Queries register the functions they use on
    * every run, and replacing a registered function logs a WARN each
    * time; registering once per session keeps the logs quiet. */
  def registerOnce(spark: SparkSession, name: String)(
      builder: Seq[Expression] => Expression): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, builder, "built-in")
  }
}
