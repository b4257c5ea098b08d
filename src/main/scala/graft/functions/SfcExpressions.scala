package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, LongType}

import graft.core.{Geometry, Morton, Polygon}

/** Native Catalyst expressions for the SFC kernels — pure long bit-ops,
  * so `doGenCode` emits a direct static call that stays inside
  * whole-stage codegen (no UDF boxing, no closure serialization).
  * Replaces the reference's numba-JIT kernels (pcsfc/encoder.py:8-48,
  * decoder.py:4-80) at the expression level.
  */
case class MortonEncode2D(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "morton_encode2d"
  override protected def nullSafeEval(x: Any, y: Any): Any =
    Morton.encode(x.asInstanceOf[Long], y.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.core.Morton.encode($x, $y)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

case class MortonDecode2DX(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "morton_decode2d_x"
  override protected def nullSafeEval(m: Any): Any =
    Morton.decodeX(m.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, m => s"graft.core.Morton.decodeX($m)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class MortonDecode2DY(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "morton_decode2d_y"
  override protected def nullSafeEval(m: Any): Any =
    Morton.decodeY(m.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, m => s"graft.core.Morton.decodeY($m)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** 3D Morton interleave (x bits 0,3,6,…; y offset 1; z offset 2) —
  * volumetric keys for z-pruned height selections (graft.core.Morton3). */
case class MortonEncode3D(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "morton_encode3d"
  override protected def nullSafeEval(x: Any, y: Any, z: Any): Any =
    graft.core.Morton3.encode(x.asInstanceOf[Long], y.asInstanceOf[Long],
      z.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y, z) => s"graft.core.Morton3.encode($x, $y, $z)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression) = copy(first = a, second = b, third = c)
}

case class MortonDecode3D(child: Expression, dim: Int) extends UnaryExpression {
  require(dim >= 0 && dim <= 2, s"dim must be 0 (x), 1 (y) or 2 (z), got $dim")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"morton_decode3d_$dim"
  override protected def nullSafeEval(m: Any): Any =
    graft.core.Morton3.compact3(m.asInstanceOf[Long] >>> dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, m => s"graft.core.Morton3.compact3($m >>> $dim)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Even-odd point-in-polygon against a query-constant polygon (rings
  * broadcast into the generated class as a reference object). Codegen
  * calls the same static kernel the interpreted path uses — semantics
  * of the reference's ST_Within refinement (retrieve_data.py:76-83),
  * boundary points excluded by fixture convention.
  */
case class PointInPolygon(left: Expression, right: Expression, polygon: Polygon)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "point_in_polygon"
  @transient private lazy val rings = polygon.rings
  override protected def nullSafeEval(x: Any, y: Any): Any =
    Geometry.pointInRings(x.asInstanceOf[Double], y.asInstanceOf[Double], rings)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ringsRef = ctx.addReferenceObj("rings", polygon.rings, "double[][]")
    defineCodeGen(ctx, ev, (x, y) => s"graft.core.Geometry.pointInRings($x, $y, $ringsRef)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Membership of a long in a set of sorted, disjoint, inclusive
  * ranges — O(log n) binary search per row. The scan-predicate
  * companion to the pushed OR-of-BETWEEN: past a few hundred ranges a
  * single OR tree re-evaluates per row at O(n) and overflows codegen
  * method limits (measured 6x regression at 2048 terms), while this
  * expression stays flat however fine the range decomposition. */
object RangeKernels {
  def containsSorted(v: Long, los: Array[Long], his: Array[Long]): Boolean = {
    var lo = 0
    var hi = los.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (v < los(mid)) hi = mid - 1
      else if (v > his(mid)) lo = mid + 1
      else return true
    }
    false
  }
}

case class InSortedRanges(child: Expression, los: Array[Long], his: Array[Long])
    extends UnaryExpression {
  require(los.length == his.length && los.nonEmpty)
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "in_sorted_ranges"
  override protected def nullSafeEval(v: Any): Any =
    RangeKernels.containsSorted(v.asInstanceOf[Long], los, his)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = ctx.addReferenceObj("los", los, "long[]")
    val h = ctx.addReferenceObj("his", his, "long[]")
    defineCodeGen(ctx, ev, v => s"graft.functions.RangeKernels.containsSorted($v, $l, $h)")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** A per-query constant (Double or Long) that reaches generated code by
  * reference. Spark writes a `Literal`'s value into the generated Java
  * source, so two selects that differ only in a bbox edge compile two
  * classes; with the value in the references array instead, plans that
  * differ only in their constants share one compiled class. Not
  * foldable, so the optimizer cannot fold it back into a literal. */
case class QueryConst(value: Any, dataType: DataType) extends LeafExpression {
  require((dataType == DoubleType && value.isInstanceOf[Double]) ||
    (dataType == LongType && value.isInstanceOf[Long]),
    s"query constant must be a Double or a Long, got $value: $dataType")
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "query_const"
  override def toString: String = s"qc($value)"
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("qc", value, CodeGenerator.boxedType(dataType))
    // read once at init into a field, not per row from the array
    val field = ctx.addMutableState(javaType, "qc", v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = code"", isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

object QueryConst {
  def apply(v: Double): QueryConst = QueryConst(v, DoubleType)
  def apply(v: Long): QueryConst = QueryConst(v, LongType)
}

/** Column-level API over the expressions above. */
object sfc {
  private def expr(c: Column): Expression = GraftBridge.expression(c)
  private def col(e: Expression): Column = GraftBridge.column(e)

  /** Interleave two non-negative long grid coordinates into a Morton key. */
  def morton_encode(x: Column, y: Column): Column = col(MortonEncode2D(expr(x), expr(y)))

  /** Even-bit (x) component of a Morton key. */
  def morton_x(m: Column): Column = col(MortonDecode2DX(expr(m)))

  /** Odd-bit (y) component of a Morton key. */
  def morton_y(m: Column): Column = col(MortonDecode2DY(expr(m)))

  /** True iff (x, y) is strictly inside the polygon (even-odd rule, holes ok). */
  def point_in_polygon(x: Column, y: Column, polygon: Polygon): Column =
    col(PointInPolygon(expr(x), expr(y), polygon))

  /** Binary-search membership in sorted disjoint inclusive ranges. */
  def in_sorted_ranges(v: Column, los: Array[Long], his: Array[Long]): Column =
    col(InSortedRanges(expr(v), los, his))

  /** A per-query constant that generated code reads by reference, so
    * selects differing only in constants share one compiled class. Use
    * it, not `lit`, for every value that changes from query to query. */
  def query_const(v: Double): Column = col(QueryConst(v))
  def query_const(v: Long): Column = col(QueryConst(v))

  /** Interleave three non-negative grid coordinates (<= 21 bits each). */
  def morton3_encode(x: Column, y: Column, z: Column): Column =
    col(MortonEncode3D(expr(x), expr(y), expr(z)))

  def morton3_x(m: Column): Column = col(MortonDecode3D(expr(m), 0))
  def morton3_y(m: Column): Column = col(MortonDecode3D(expr(m), 1))
  def morton3_z(m: Column): Column = col(MortonDecode3D(expr(m), 2))
}
