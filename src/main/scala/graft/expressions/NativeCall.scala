package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.types.DataType

/** The one way the graft's per-row native code enters a Catalyst plan.
  *
  * Spark generates the call and its interpreted (reflective) twin, so no
  * expression here carries hand-written codegen: a stateless native is a
  * static method of a Scala object ([[static]]), and a native that holds
  * state — the regex chains' precompiled patterns — is a method of a
  * serializable evaluator carried in the plan as an object literal
  * ([[evaluator]]). A named native is a [[NativeFunction]] whose
  * `replacement` is one of these calls, so executed plans show the call
  * itself (`static_invoke(graft.expressions.X.method(…))`).
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

/** A named native, `name(children)`: the SQL shell over
  * `NativeCall.static(owner, method, outType, children ++ constants)`.
  *
  * The name and the children's SQL are the column name (`constants` stay
  * out of it, so `minhash_sig(h)` carries its family size unseen), and
  * `inputTypes` is the argument contract: a mistyped argument fails
  * analysis with `DATATYPE_MISMATCH`, a coercible one gets a cast. The
  * optimizer's first batch swaps the shell for its `replacement`, so no
  * executed plan holds it.
  */
case class NativeFunction(name: String, owner: Class[_], method: String,
    outType: DataType, override val inputTypes: Seq[DataType],
    children: Seq[Expression], constants: Seq[Any] = Nil)
    extends RuntimeReplaceable with ImplicitCastInputTypes {

  override def prettyName: String = name
  override lazy val replacement: Expression =
    NativeCall.static(owner, method, outType, children ++ constants.map(Literal(_)))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NativeFunction =
    copy(children = newChildren)
}
