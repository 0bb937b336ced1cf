package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, FloatType, TypeCollection}

/** The one expression shape of the [[graft.functions.ArrayOps]] kernels:
  * SQL function `name` over the column arguments `children` (of the
  * declared input types), computed by the Scala body
  * `ArrayOps.name(children…, params…)`. Interpreted `eval` and
  * generated code both run a `StaticInvoke` of that body, which returns
  * null when any argument is null. Plans show `name(children)`; the
  * params stay out of them. (It lives in this package because the input
  * type declarations are `private[sql]`.)
  */
case class Kernel(name: String, dataType: DataType,
    accepts: Seq[Seq[DataType]], children: Seq[Expression],
    params: Seq[Any]) extends Expression with ExpectsInputTypes {

  /** Argument i accepts any type of `accepts(i)`. (A `TypeCollection`
    * is not serializable, so the plan carries the lists.) */
  override def inputTypes: Seq[AbstractDataType] = accepts.map {
    case Seq(t) => t
    case ts => TypeCollection(ts: _*)
  }

  override def prettyName: String = name
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override protected def stringArgs: Iterator[Any] = children.iterator

  @transient private lazy val call = StaticInvoke(graft.functions.ArrayOps.getClass,
    dataType, name, children ++ params.map {
      case Kernel.FloatElements => Literal(children.head.dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      })
      case a: Array[_] => Literal.fromObject(a)
      case v => Literal(v)
    }, returnNullable = false)

  override def eval(input: InternalRow): Any = call.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    call.genCode(ctx)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Kernel = copy(children = newChildren)
}

object Kernel {
  /** Column of kernel `name` with result type `out` over `args`, where
    * `args(i)` may be of any type in `in(i)`; `params` follow the
    * arguments in the body's call. */
  def column(name: String, out: DataType, in: Seq[DataType]*)(
      args: Column*)(params: Any*): Column =
    Bridge.column(Kernel(name, out, in, args.map(Bridge.expression), params))

  /** A param the shape fills in once the input is resolved: whether the
    * first argument's elements are floats (else doubles). */
  case object FloatElements
}
