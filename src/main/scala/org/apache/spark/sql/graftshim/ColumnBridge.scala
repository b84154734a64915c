package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `new Column(expr)` / `Column.expr` bridge
  * (Spark Connect split). This shim re-exposes the classic conversions for
  * our custom Catalyst expressions — the same in-package-shim pattern
  * third-party Spark extensions use.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Fail-open translation of a predicate Column to per-column range
    * bounds `(name, lower?, upper?)` — the zone-map planning step for
    * the managed table's row-level DML paths (deleteWhere /
    * replaceWhere tombstone discovery). Lives HERE because a Spark-4
    * Column is an unresolved `internal.ColumnNode` tree (comparison
    * operators are `UnresolvedFunction("="/"<"/…)` nodes) and that
    * node type is private[sql].
    *
    * Every emitted bound is IMPLIED by the predicate (a row satisfying
    * the predicate has that column's value inside the emitted range):
    *   - only `column <cmp> literal` conjuncts under top-level `and`s
    *     translate; anything else (`or`, `not`, arithmetic like
    *     `doc_id % 5 === 0`, functions, nested fields) contributes
    *     nothing — soundness over coverage;
    *   - strict comparisons widen to inclusive bounds (x > v ⇒ x ≥ v);
    *   - a bound is emitted only when the literal's runtime class and
    *     the column's declared type sit in the same comparison family
    *     (numeric/numeric, string/string, date/date, ts/ts), so the
    *     downstream stats comparison obeys exactly the comparison SQL
    *     will run — a cross-family literal (where SQL's implicit cast
    *     has its own semantics) is skipped rather than risked;
    *   - literal values stay in the EXTERNAL form the Column API
    *     carries (String, java.sql.Timestamp/Date, numerics) — the
    *     form the manifest-stats render already accepts;
    *   - null literals emit nothing (`x = NULL` is never true, but
    *     fail-open is the simpler invariant); bounds over non-null
    *     stats are sound because no comparison is satisfied by a null
    *     row.
    */
  def predicateBounds(schema: org.apache.spark.sql.types.StructType,
      predicate: Column): Seq[(String, Option[Any], Option[Any])] = {
    import org.apache.spark.sql.internal.{ColumnNode,
      Literal => NLit, UnresolvedAttribute => NAttr,
      UnresolvedFunction => NFn}
    import org.apache.spark.sql.types._
    def numeric(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType => true
      case _: DecimalType => true
      case _ => false
    }
    // the literal's runtime class must sit in the same comparison
    // family as the column's declared type
    def familyOk(colT: DataType, v: Any): Boolean = v match {
      case _: Byte | _: Short | _: Int | _: Long |
           _: Float | _: Double => numeric(colT)
      case _: java.math.BigDecimal => numeric(colT)
      case _: scala.math.BigDecimal => numeric(colT)
      case _: org.apache.spark.sql.types.Decimal => numeric(colT)
      case _: String => colT == StringType
      case _: java.sql.Date | _: java.time.LocalDate => colT == DateType
      case _: java.sql.Timestamp | _: java.time.Instant =>
        colT == TimestampType
      case _ => false
    }
    def nameOf(x: ColumnNode): Option[String] = x match {
      case NAttr(parts, _, false, _) if parts.length == 1 =>
        Some(parts.head)
      // a resolved df("x") column arrives as a classic
      // ExpressionColumnNode wrapping the Catalyst attribute
      case org.apache.spark.sql.classic.ExpressionColumnNode(inner, _) =>
        inner match {
          case a: org.apache.spark.sql.catalyst.expressions
              .AttributeReference => Some(a.name)
          case u: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute if u.nameParts.length == 1 =>
            Some(u.nameParts.head)
          case _ => None
        }
      case _ => None
    }
    def litOf(x: ColumnNode): Option[Any] = x match {
      case NLit(v, _, _) if v != null => Some(v)
      case _ => None
    }
    // (attr, lit) in that role order; emits nothing unless both shape
    // up AND the declared column type is literal-comparison-compatible
    def b(a: ColumnNode, v: ColumnNode)(
        f: Any => (Option[Any], Option[Any]))
        : Seq[(String, Option[Any], Option[Any])] =
      (nameOf(a), litOf(v)) match {
        case (Some(n), Some(value)) if schema.fields.exists(sf =>
            sf.name == n && familyOk(sf.dataType, value)) =>
          val (lo, hi) = f(value); Seq((n, lo, hi))
        case _ => Nil
      }
    def eq(a: ColumnNode, v: ColumnNode) = b(a, v)(x => (Some(x), Some(x)))
    def lower(a: ColumnNode, v: ColumnNode) = b(a, v)(x => (Some(x), None))
    def upper(a: ColumnNode, v: ColumnNode) = b(a, v)(x => (None, Some(x)))
    def walk(e: ColumnNode): Seq[(String, Option[Any], Option[Any])] =
      e match {
        case NFn(name, Seq(l, r), false, _, _, _) => name match {
          case "and" => walk(l) ++ walk(r)
          case "=" | "==" | "<=>" => eq(l, r) ++ eq(r, l)
          case ">"  => lower(l, r) ++ upper(r, l)
          case ">=" => lower(l, r) ++ upper(r, l)
          case "<"  => upper(l, r) ++ lower(r, l)
          case "<=" => upper(l, r) ++ lower(r, l)
          case _ => Nil
        }
        case _ => Nil
      }
    walk(predicate.node)
  }

  /** Wrap a custom LogicalPlan as a DataFrame (classic-session route —
    * what Dataset.ofRows did before the Connect split).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `schema` with every field (nested ones too) nullable — what a file
    * source does to a user-specified read schema (`asNullable` is
    * private[spark]).
    */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** Register a function builder on an EXISTING session's registry (the
    * withExtensions route only applies at session construction).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
