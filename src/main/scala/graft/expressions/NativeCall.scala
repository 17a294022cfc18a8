package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.types.DataType

/** The one way the graft's per-row native code enters a Catalyst plan.
  *
  * Spark generates the call and its interpreted (reflective) twin, so no
  * expression here carries hand-written codegen: a stateless native is a
  * static method of a Scala object ([[static]]), and a native that holds
  * state — the regex chains' precompiled patterns — is a method of a
  * serializable evaluator carried in the plan as an object literal
  * ([[evaluator]]). The SQL-registered names are `RuntimeReplaceable`
  * shells whose `replacement` is one of these calls, so executed plans
  * show the call itself (`static_invoke(graft.expressions.X.method(…))`).
  */
object NativeCall {

  /** `method(args)` through the static forwarder on `owner`, the class of
    * a Scala object (`X.getClass`); the method never returns null. With
    * `propagateNull` a NULL argument yields NULL without the call; without
    * it the method owns NULL inputs.
    */
  def static(owner: Class[_], method: String, dataType: DataType,
      args: Seq[Expression], propagateNull: Boolean = true): Expression =
    StaticInvoke(owner, dataType, method, args,
      propagateNull = propagateNull, returnNullable = false)

  /** `evaluator.eval(arg)`: NULL for a NULL `arg` or a NULL result. */
  def evaluator(evaluator: Serializable, dataType: DataType,
      arg: Expression): Expression =
    Invoke(Literal.fromObject(evaluator), "eval", dataType, Seq(arg))
}
