package org.apache.spark.sql.graftshim

import org.apache.spark.TaskContext
import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to Spark's private[sql] Column <-> Expression conversion
  * (Spark 4.x hid direct Column construction behind ColumnNode). This is the
  * standard third-party-library escape hatch: one object inside the sql
  * package namespace, nothing else.
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** The task's memory manager, which Spark exposes only inside its own
  * packages; the sketch partial aggregate charges its buffers to it.
  */
object TaskMemory {
  def manager(ctx: TaskContext): TaskMemoryManager = ctx.taskMemoryManager()
}
