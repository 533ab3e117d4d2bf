package graft

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

package object functions {

  /** The integer value of a literal argument to an injected function's
    * builder; `fn` is the SQL name the error message reports. */
  private[functions] def litInt(fn: String, e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal integer, got $other")
  }
}
