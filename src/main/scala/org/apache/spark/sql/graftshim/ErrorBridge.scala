package org.apache.spark.sql.graftshim

import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Spark's own error constructors for native expressions. Spark 4 keeps
  * `QueryExecutionErrors` `private[sql]`, so a kernel that must fail
  * exactly like the built-in it replaces (same error condition, same
  * message) reaches it through this one-file shim — same technique as
  * [[ColumnBridge]]; nothing in Spark is modified.
  */
object ErrorBridge {
  /** The ANSI `CAST_OVERFLOW` error of `CAST(value AS INT)` on a BIGINT. */
  def longToIntOverflow(value: Long): ArithmeticException =
    QueryExecutionErrors.castingCauseOverflowError(value, LongType, IntegerType)
}
