package org.apache.spark.sql.graft

import java.util.Properties
import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.util.Utils

/** Column ↔ Expression bridge. Spark 4 made `Column` wrap a ColumnNode and
  * scoped the conversion helpers `private[sql]`, so this one-file shim lives
  * in the org.apache.spark.sql namespace — the standard extension seam for
  * libraries contributing native expressions. The same seam reaches the
  * `private[spark]` getter/setter of a thread's Spark local properties,
  * which pooled job threads need to carry their submitter's job group. */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A private copy of the calling thread's local properties. */
  def copyLocalProperties(sc: SparkContext): Properties =
    Utils.cloneProperties(sc.getLocalProperties)
  def localProperties(sc: SparkContext): Properties = sc.getLocalProperties
  def setLocalProperties(sc: SparkContext, props: Properties): Unit =
    sc.setLocalProperties(props)
}
