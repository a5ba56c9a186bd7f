package graft.sql

import scala.reflect.ClassTag
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** How a graft SQL function is declared and installed: one
  * `name -> (info, builder)` entry per function, in the one table of
  * the object that owns it, and one loop that installs a table into a
  * session registry.
  *
  * Holds no table itself. The kernel objects build their tables through
  * it while [[GraftExtensions]] concatenates those tables; were the
  * helper on an object whose initializer read them, a kernel table
  * would call back into it mid-initialization and see `null`.
  */
object FunctionTable {
  type Entry[T] = (String, (ExpressionInfo, Seq[Expression] => T))

  /** Scalar kernel `name`; `E` is the expression class its info names. */
  def kernel[E <: Expression: ClassTag](name: String)(
      build: Seq[Expression] => Expression): Entry[Expression] =
    name -> (new ExpressionInfo(implicitly[ClassTag[E]].runtimeClass.getName, name), build)

  /** Install every entry of `table` in `registry`, replacing same-named
    * functions (idempotent).
    */
  def install[T](registry: FunctionRegistryBase[T], table: Iterable[Entry[T]]): Unit =
    table.foreach { case (name, (_, build)) =>
      registry.createOrReplaceTempFunction(name, build, "built-in")
    }

  /** Install a scalar table in the session's function registry. */
  def register(spark: SparkSession, table: Iterable[Entry[Expression]]): Unit =
    install(spark.sessionState.functionRegistry, table)
}
