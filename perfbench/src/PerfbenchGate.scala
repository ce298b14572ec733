package graft.ops

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.types.StructType

/** The bounded-collect aggregate behind `KgPipeline.runWithCleanup`'s
  * surface gate, which the program keeps package-private; the traced KG
  * operation runs the same gate.
  */
object PerfbenchGate {
  def agg(cap: Int, schema: StructType): UserDefinedFunction = BoundedCollect.agg(cap, schema)
}
