package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DoubleType, FloatType, LongType, StringType}

/** Bridge into `private[sql]` Spark internals needed by graft's native
  * Catalyst expressions (Column↔Expression conversion, the
  * AbstractDataType input-type contract) and by the pgwire server
  * (session cloning). Lives under the org.apache.spark.sql namespace
  * for access; contains no logic.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A session sharing `root`'s SparkContext and shared state, with a
    * copy of its conf, functions and temp views. */
  def cloneSession(root: SparkSession): SparkSession =
    root.asInstanceOf[classic.SparkSession].cloneSession()

  /** Null-propagating concat built directly on catalyst — internal
    * operators must use THIS, not `functions.concat`: Spark 4 resolves
    * `functions.*` through the session registry by name, and graft
    * re-registers `concat` with DuckDB's NULL-skipping stringify
    * semantics (DuckVocab10). */
  def rawConcat(cols: Column*): Column =
    column(org.apache.spark.sql.catalyst.expressions.Concat(
      cols.map(expression)))
  val floatArrayBinaryInput: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  val stringBinaryInput: Seq[AbstractDataType] = Seq(StringType, StringType)
  val stringUnaryInput: Seq[AbstractDataType] = Seq(StringType)
  val longBinaryInput: Seq[AbstractDataType] = Seq(LongType, LongType)
  val doubleQuadInput: Seq[AbstractDataType] =
    Seq(DoubleType, DoubleType, DoubleType, DoubleType)
}
