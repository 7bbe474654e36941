package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, LiteralValue}
import org.apache.spark.sql.types.DataType
import org.apache.spark.storage.RDDInfo

/** Minimal bridge to `private[spark]` members the engine offers no public
  * form of:
  *  - a typed V2 literal (Expressions.literal INFERS the type from a Scala
  *    value and cannot carry internal representations like UTF8String).
  *    Used by LakeSinkTable.columns() to surface stored column DEFAULTs
  *    through the V2 Column API;
  *  - the active SparkContext, without creating one (the public
  *    `SparkContext.getOrCreate()` would). Used by GraftViewExtensions,
  *    which runs after the session's context exists;
  *  - an RDD's operation-scope name (`Exchange`, `WholeStageCodegen (2)`:
  *    the SQL operator that built it), which `RDDOperationScope` keeps
  *    `private[spark]`. Used by Profile to name stages. */
object ConnectorBridge {
  def literal(value: Any, dt: DataType): V2Literal[_] = LiteralValue(value, dt)

  def activeContext: Option[SparkContext] = SparkContext.getActive

  def scopeName(rdd: RDDInfo): Option[String] = rdd.scope.map(_.name)
}
