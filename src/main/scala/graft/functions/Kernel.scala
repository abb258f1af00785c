package graft.functions

import java.util.Arrays

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.graftbridge.ColumnBridge.InputType
import org.apache.spark.sql.types._

/** The one Catalyst expression behind every native graft kernel: the
  * static call `obj.method(args…)` on a `*Kernels` object, shown in
  * plans and column names as `name(children…)`.
  *
  * Evaluation is Spark's own [[StaticInvoke]], built lazily from these
  * fields: whole-stage codegen emits the plain static call, and the
  * interpreted path invokes the same method by reflection, so the two
  * paths cannot drift. Nulls propagate: a null child gives a null
  * result without calling the method. `returnNullable` marks methods
  * that may themselves return null; a nullable primitive result is
  * declared boxed (`java.lang.Integer`, `java.lang.Double`).
  *
  * The static call's arguments are the children followed by `consts`.
  * A constant is an Int, Long, Double or Boolean literal, or any
  * other object, which rides as an object-typed plan literal in the
  * generated class's references (so per-iteration models keep the
  * generated source byte-identical). Two markers are resolved when
  * the call is built: [[Kernel.Arg]] moves a child from the front to
  * its place among the constants, and [[Kernel.IsFloat]] is whether
  * the first child is `ARRAY<FLOAT>`. Constants compare by value,
  * arrays included, so two separately built calls with equal
  * parameters are one expression to subexpression elimination and
  * the cache manager.
  *
  * Generators: a column that shares a `select` with a generator
  * (`posexplode`, `explode`, …) runs once per GENERATED row, because
  * Spark leaves every non-generator column in a `Project` above the
  * `Generate`. Project the kernel in its own `select` first, explode
  * in the next one, and never filter on the kernel's alias: predicate
  * pushdown substitutes the alias and copies the kernel into a second
  * call below the generator. `graft.operators.Similarity.lloydRound`
  * and `graft.streaming.StreamingNearDup` follow the rule;
  * `graft.PlanDump --generators` lists what still runs above one.
  */
case class Kernel(
    name: String,
    obj: Class[_],
    method: String,
    dataType: DataType,
    children: Seq[Expression],
    inputTypes: Seq[InputType],
    consts: Seq[Any] = Nil,
    returnNullable: Boolean = false) extends Expression with ExpectsInputTypes {

  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = children.iterator
  override def nullable: Boolean = returnNullable || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  // the StaticInvoke reuses one argument buffer per instance
  override def stateful: Boolean = true

  @transient private lazy val call: StaticInvoke = {
    val placed = consts.collect { case Kernel.Arg(i) => i }.toSet
    val args = children.indices.filterNot(placed).map(children) ++ consts.map {
      case Kernel.Arg(i) => children(i)
      case Kernel.IsFloat => Literal(children.head.dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      })
      case v @ (_: Int | _: Long | _: Double | _: Boolean) => Literal(v)
      case v: AnyRef => Literal(v, ObjectType(v.getClass))
    }
    StaticInvoke(obj, dataType, method, args, returnNullable = returnNullable)
  }

  override def eval(input: InternalRow): Any = call.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    call.genCode(ctx)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Kernel = copy(children = newChildren)

  private def fields: Array[AnyRef] = Array(name, obj, method, dataType, children,
    inputTypes, consts.map(_.asInstanceOf[AnyRef]).toArray, Boolean.box(returnNullable))
  override def equals(other: Any): Boolean = other match {
    case k: Kernel => (this eq k) || Arrays.deepEquals(fields, k.fields)
    case _ => false
  }
  @transient private lazy val hash = Arrays.deepHashCode(fields)
  override def hashCode(): Int = hash
}

object Kernel {
  /** Marks where child `i` goes among the constants of a method that
    * interleaves columns and constants.
    */
  final case class Arg(i: Int)

  /** Resolved to whether the first child is `ARRAY<FLOAT>` (the
    * centroid kernels read either float or double vectors).
    */
  case object IsFloat

  /** The kernel `obj.method` as a Column over `args`. */
  def column(name: String, obj: AnyRef, method: String, dataType: DataType,
      args: Seq[Column], inputTypes: Seq[InputType],
      consts: Seq[Any] = Nil, returnNullable: Boolean = false): Column =
    ColumnBridge.column(Kernel(name, obj.getClass, method, dataType,
      args.map(ColumnBridge.expression), inputTypes, consts, returnNullable))
}
