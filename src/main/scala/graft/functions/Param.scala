package graft.functions

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Expression, InSet, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, ShortType}

/** Per-call values (a key, a query id, a probe-key set, a loop round) as
  * parameters of generated code. Whole-stage codegen inlines a numeric
  * literal into the Java source it compiles, so a point query run with a
  * new key is a new source: another janino compile, and another entry in
  * the codegen cache (`spark.sql.codegen.cache.maxEntries`) that evicts
  * some other shape. `Param(v)` and `Param.in(c, values)` reach generated
  * code through its `references` array instead, so every value shares one
  * class.
  *
  * They are still a `Literal` and an `InSet`, so every rule matching on
  * those classes keeps working: parquet pushdown, bucket pruning,
  * in-memory batch stats, ConstantFolding. A parameter must have its
  * column's type: a cast around it is folded (ConstantFolding,
  * UnwrapCastInBinaryComparison) into a plain, inlined `Literal`.
  */
object Param {
  /** `v` (Int, Long, Double, String, …) as a literal of its own type. */
  def apply(v: Any): Column = {
    val l = Literal(v)
    GraftColumn.of(new ParamLiteral(l.value, l.dataType))
  }

  /** `c` in `values`; the values must have `c`'s type. */
  def in(c: Column, values: Iterable[Any]): Column =
    GraftColumn.of(new ParamInSet(GraftColumn.exprOf(c),
      values.map(CatalystTypeConverters.convertToCatalyst).toSet))
}

/** A literal whose primitive value generated code reads by reference. */
class ParamLiteral(v: Any, dt: DataType) extends Literal(v, dt) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // null and non-primitive literals are already the same source per value
    if (value == null || !CodeGenerator.isPrimitiveType(dataType)) super.doGenCode(ctx, ev)
    else {
      val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
      ExprCode.forNonNullValue(JavaCode.expression(
        s"$ref.${CodeGenerator.javaType(dataType)}Value()", dataType))
    }
}

/** An `InSet` that always tests its referenced set: Spark's own form
  * compiles a small int set into `switch` cases, one source per set. */
class ParamInSet(child: Expression, hset: Set[Any]) extends InSet(child, hset) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.dataType match {
      case ByteType | ShortType | IntegerType | DateType if hset.nonEmpty =>
        nullSafeCodeGen(ctx, ev, c => {
          val setTerm = ctx.addReferenceObj("set", set)
          s"${ev.value} = $setTerm.contains($c);" +
            (if (hset.contains(null)) s"\n${ev.isNull} = !${ev.value};" else "")
        })
      case _ => super.doGenCode(ctx, ev)
    }

  // a tree copy must keep this class, or the switch comes back
  override protected def withNewChildInternal(newChild: Expression): InSet =
    new ParamInSet(newChild, hset)
}
