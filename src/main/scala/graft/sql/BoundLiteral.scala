package graft.sql

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.DataType

/** A numeric constant whose generated code reads its value from the
  * generated class's `references` instead of spelling it in the source.
  *
  * Contract: a `BoundLiteral` IS a [[Literal]] — same value, type,
  * equality, `toString`, `sql`, interpreted `eval` and foldability — and
  * differs only in `doGenCode`. So constant folding, filter translation
  * (parquet `PushedFilters`), partition pruning and EXPLAIN text treat
  * it as the plain literal it was; a rule that rebuilds it (`copy`,
  * `Literal.create`) gets a plain literal back, which is only slower to
  * compile, never different in answer.
  *
  * Why: whole-stage codegen writes a plain literal's value into the Java
  * source (`id = 4711L`), so every new constant is a new source text and
  * a new Janino compile. Bound, the source is the same for every value
  * of one statement shape and Spark's codegen cache serves it: the
  * value is registered with `addReferenceObj` and loaded once into a
  * field of the generated class. Strings need no binding, Spark already
  * reads `UTF8String` literals from `references`. */
class BoundLiteral(value: Any, dataType: DataType)
    extends Literal(value, dataType) {

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("boundLiteral", value,
      CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "boundLiteral",
      v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

object BoundLiteral {
  private val Name = "graft_bound_literal"

  /** Register, unless it is there, the builder that turns
    * `graft_bound_literal(<literal>)` into a [[BoundLiteral]] in
    * `spark`'s function registry. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(Name)))
      registry.createOrReplaceTempFunction(Name, {
        case Seq(l: Literal) => new BoundLiteral(l.value, l.dataType)
        case other => throw new IllegalArgumentException(
          s"$Name takes one literal, got ${other.mkString(", ")}")
      }: Seq[Expression] => Expression, "built-in")
  }

  /** `v` (a non-null `Long` or `Double`) as a bound constant, the
    * builder registered in the active session on first use. */
  def apply(v: Any): Column = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(register)
    call_function(Name, lit(v))
  }
}
