package graft.functions

import java.lang.reflect.{InvocationTargetException, Method, Modifier}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodegenContext, CodeGenerator, EmptyBlock, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** One accepted type of one kernel argument; `name` is how the type
  * reads in the kernel's error message.
  */
final case class ArgType(name: String)(val accepts: Expression => Boolean)

object ArgType {
  private def exact(t: DataType): ArgType = ArgType(t.simpleString)(_.dataType == t)

  val string: ArgType = exact(StringType)
  val int: ArgType = exact(IntegerType)
  val double: ArgType = exact(DoubleType)
  val binary: ArgType = exact(BinaryType)

  /** `array<elem>`, whether or not its elements may be null. */
  def arrayOf(elem: DataType): ArgType = ArgType(s"array<${elem.simpleString}>")(
    _.dataType match {
      case ArrayType(`elem`, _) => true
      case _ => false
    })

  /** `array<elem>` with non-null elements only. */
  def strictArrayOf(elem: DataType): ArgType = exact(ArrayType(elem, containsNull = false))

  /** A float or double vector, one accepted set. */
  val vector: ArgType = ArgType("array<float>|array<double>")(e =>
    arrayOf(FloatType).accepts(e) || arrayOf(DoubleType).accepts(e))

  /** Any integral type (folded to an `Int` at plan time). */
  val integral: ArgType = ArgType("tinyint|smallint|int|bigint")(
    e => Seq(ByteType, ShortType, IntegerType, LongType).contains(e.dataType))

  /** `t`, given as a literal (any foldable expression). */
  def literal(t: ArgType): ArgType = ArgType(s"literal ${t.name}")(e => e.foldable && t.accepts(e))
}

/** What a kernel does with null arguments. */
sealed trait Nulls
object Nulls {
  /** A null argument gives a null result without calling the kernel. */
  case object Propagate extends Nulls
  /** The kernel receives null arguments; a null return is a null result. */
  case object Passed extends Nulls
  /** The kernel receives null arguments and never returns null. */
  case object NeverNull extends Nulls
}

/** A graft SQL kernel: one call of one static method per row.
  *
  * A kernel case class declares its SQL `name`, the accepted type of
  * each argument, its result type, the `target` object and `method`
  * it calls and its null rule; `callArgs` adds any plan-time arguments.
  * This base owns the rest: the analysis-time type check (`<name>
  * expects (<types>), got (<types>)`), interpreted eval, boxing of a
  * nullable primitive result, and a `doGenCode` that emits that one
  * static call, so the enclosing Project stays in whole-stage codegen.
  * The plan string stays `<name>(<children>)`.
  *
  * `target` must be a top-level Scala `object`: generated code calls
  * its static forwarder, and interpreted eval calls the same method
  * through reflection.
  */
abstract class StaticKernel(name: String, argTypes: Seq[ArgType], resultType: DataType,
    target: AnyRef, method: String, nulls: Nulls = Nulls.Propagate)
  extends Expression with Serializable {

  // the object's class, not the object (a Scala object need not be
  // serializable); `owner` is the static class generated code calls
  private val module: Class[_] = target.getClass
  private val owner: String = module.getName.stripSuffix("$")

  /** The method's arguments in order. A child expression is evaluated
    * per row; any other value is a plan-time constant: a `Boolean` or
    * `Int` is written into the generated code, any other object is
    * passed by reference.
    */
  protected def callArgs: Seq[Any] = children

  /** Whether an array argument holds floats (else doubles). */
  protected def floatInput(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def prettyName: String = name
  override def dataType: DataType = resultType
  override def nullable: Boolean = nulls != Nulls.NeverNull
  override def foldable: Boolean = children.forall(_.foldable)
  override lazy val children: Seq[Expression] =
    productIterator.collect { case e: Expression => e }.toIndexedSeq

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    makeCopy(newChildren.toArray[AnyRef])

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.size == argTypes.size && argTypes.zip(children).forall { case (t, c) => t.accepts(c) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects (${argTypes.map(_.name).mkString(", ")}), got " +
        s"(${children.map(_.dataType.simpleString).mkString(", ")})")

  private lazy val args: Seq[Any] = callArgs

  @transient private lazy val static: Method = {
    val found = Class.forName(owner, true, module.getClassLoader).getMethods
      .filter(m => m.getName == method && m.getParameterCount == args.size &&
        Modifier.isStatic(m.getModifiers))
    require(found.length == 1, s"$name: no single static $owner.$method of ${args.size} arguments")
    found.head
  }

  override def eval(input: InternalRow): Any = {
    val values = args.map {
      case e: Expression => e.eval(input)
      case constant => constant
    }
    val skip = nulls == Nulls.Propagate &&
      args.zip(values).exists { case (a, v) => a.isInstanceOf[Expression] && v == null }
    if (skip) null
    else try static.invoke(null, values.map(_.asInstanceOf[AnyRef]): _*)
    catch { case e: InvocationTargetException if e.getCause != null => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // per argument: the child's code, if it is a child, and the Java argument
    val parts: Seq[(Option[ExprCode], String)] = args.map {
      case e: Expression =>
        val c = e.genCode(ctx)
        val passNull = nulls != Nulls.Propagate && !CodeGenerator.isPrimitiveType(e.dataType)
        Some(c) -> (if (passNull) s"${c.isNull} ? null : ${c.value}" else c.value.toString)
      case b: Boolean => None -> b.toString
      case i: Int => None -> i.toString
      case obj: AnyRef => None -> ctx.addReferenceObj("kernelArg", obj)
    }
    val rowArgs = parts.flatMap(_._1)
    val call = s"$owner.$method(${parts.map(_._2).mkString(", ")})"
    val anyNull =
      if (nulls == Nulls.Propagate && rowArgs.nonEmpty) rowArgs.map(_.isNull.toString).mkString(" || ")
      else "false"
    val assign =
      if (static.getReturnType.isPrimitive) s"${ev.value} = $call;"
      else if (CodeGenerator.isPrimitiveType(dataType)) {
        val boxedType = CodeGenerator.boxedType(dataType)
        val boxed = ctx.freshName("boxed")
        s"""$boxedType $boxed = ($boxedType) $call;
           |${ev.isNull} = $boxed == null;
           |if (!${ev.isNull}) ${ev.value} = $boxed;""".stripMargin
      } else s"${ev.value} = $call;\n${ev.isNull} = ${ev.value} == null;"
    val argCode = rowArgs.map(_.code).foldLeft(EmptyBlock: Block)(_ + _)
    val code = code"""
      |$argCode
      |boolean ${ev.isNull} = $anyNull;
      |${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      |if (!${ev.isNull}) {
      |  $assign
      |}""".stripMargin
    if (nullable) ev.copy(code = code) else ev.copy(code = code, isNull = FalseLiteral)
  }
}
