package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, CodegenFallback}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.{Bridge, GraftExpectsInputTypes}
import org.apache.spark.sql.types._

import graft.geom.{Cells, EarClip, Geom, Vec3}

/** Catalyst data-type schemas + InternalRow ↔ geometry converters shared by
  * all custom expressions (SURVEY.md §2.10 UDF surface).
  */
object GeomSchemas {
  val vec3Type: StructType = StructType(Seq(
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false),
    StructField("z", DoubleType, nullable = false)))
  val ringType: ArrayType = ArrayType(vec3Type, containsNull = false)
  val holesType: ArrayType = ArrayType(ringType, containsNull = false)
  val triType: StructType = StructType(Seq(
    StructField("a", vec3Type, nullable = false),
    StructField("b", vec3Type, nullable = false),
    StructField("c", vec3Type, nullable = false)))
  val trisType: ArrayType = ArrayType(triType, containsNull = false)

  def toRing(a: ArrayData): IndexedSeq[Vec3] = {
    val n = a.numElements()
    val out = new Array[Vec3](n)
    var i = 0
    while (i < n) {
      val r = a.getStruct(i, 3)
      out(i) = Vec3(r.getDouble(0), r.getDouble(1), r.getDouble(2))
      i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  def toHoles(a: ArrayData): Seq[IndexedSeq[Vec3]] = {
    if (a == null) return Nil
    val n = a.numElements()
    val out = new Array[IndexedSeq[Vec3]](n)
    var i = 0
    while (i < n) { out(i) = toRing(a.getArray(i)); i += 1 }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  def vecRow(v: Vec3): InternalRow =
    new GenericInternalRow(Array[Any](v.x, v.y, v.z))

  def ringData(r: Seq[Vec3]): ArrayData =
    new GenericArrayData(r.map(vecRow).toArray[Any])

  def triRow(t: EarClip.Tri): InternalRow =
    new GenericInternalRow(Array[Any](vecRow(t.a), vecRow(t.b), vecRow(t.c)))
}

import GeomSchemas._

/** O-12 `remove_reccuring` (CityGML2OBJs.py:87-96): order-preserving ring
  * de-dup keeping the closing point.
  */
case class CleanRingExpr(child: Expression) extends UnaryExpression
    with CodegenFallback with GraftExpectsInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(ringType)
  override def dataType: DataType = ringType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    ringData(Geom.cleanRing(toRing(v.asInstanceOf[ArrayData])))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** O-14a `isPolyValid` (polygon3dmodule.py:70-102). */
case class IsPolyValidExpr(child: Expression) extends UnaryExpression
    with CodegenFallback with GraftExpectsInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(ringType)
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    Geom.isPolyValid(toRing(v.asInstanceOf[ArrayData]))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** O-23 Newell polygon normal (polygon3dmodule.py:509-548). */
case class PolyNormalExpr(child: Expression) extends UnaryExpression
    with CodegenFallback with GraftExpectsInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(ringType)
  override def dataType: DataType = vec3Type
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    vecRow(Geom.newellNormal(toRing(v.asInstanceOf[ArrayData])))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** O-22 azimuth/tilt angles (polygon3dmodule.py:277-292) — the semantic
  * surface-classification signal (tilt≈0 roof/ground, tilt≈90 wall).
  */
case class AnglesExpr(child: Expression) extends UnaryExpression
    with CodegenFallback with GraftExpectsInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(ringType)
  override def dataType: DataType = StructType(Seq(
    StructField("azimuth", DoubleType, nullable = false),
    StructField("tilt", DoubleType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val (az, tilt) = Geom.angles(toRing(v.asInstanceOf[ArrayData]))
    new GenericInternalRow(Array[Any](az, tilt))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** O-18 3D shoelace area (polygon3dmodule.py:245-261). */
case class Area3DExpr(child: Expression) extends UnaryExpression
    with CodegenFallback with GraftExpectsInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(ringType)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    Geom.area3D(toRing(v.asInstanceOf[ArrayData]))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** O-20 net area = exterior − holes, validity-gated (polygon3dmodule.py:41-66). */
case class AreaGMLExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with GraftExpectsInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(ringType, holesType)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = false
  override def eval(input: InternalRow): Any = {
    val e = left.eval(input)
    if (e == null) null
    else {
      val h = right.eval(input)
      Geom.areaGML(toRing(e.asInstanceOf[ArrayData]),
        toHoles(h.asInstanceOf[ArrayData]))
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}

/** O-36 triangulation — ear-clip with holes (polygon3dmodule.py:551-716).
  * Degenerate input → empty array (reference swallow-errors contract).
  */
case class EarClipExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with GraftExpectsInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(ringType, holesType)
  override def dataType: DataType = trisType
  override def nullIntolerant: Boolean = false
  override def eval(input: InternalRow): Any = {
    val e = left.eval(input)
    if (e == null) new GenericArrayData(Array.empty[Any])
    else {
      val h = right.eval(input)
      val tris = EarClip.triangulate(toRing(e.asInstanceOf[ArrayData]),
        toHoles(h.asInstanceOf[ArrayData]))
      new GenericArrayData(tris.map(triRow).toArray[Any])
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}

/** Static kernel for PipContainsExpr codegen (object ⇒ Java-callable static
  * forwarder, same pattern as Cells.encode).
  */
object PipKernel {
  def contains(px: Double, py: Double, t: InternalRow): Boolean = {
    val a = t.getStruct(0, 3); val b = t.getStruct(1, 3); val c = t.getStruct(2, 3)
    Geom.pointInTri2D(px, py,
      a.getDouble(0), a.getDouble(1), b.getDouble(0), b.getDouble(1),
      c.getDouble(0), c.getDouble(1))
  }
}

/** O-38 exact point-in-triangle refinement predicate of the spatial join —
  * 2D half-plane test on (x, y), boundary-inclusive. Full codegen: it is the
  * post-join filter of the headline spatial join, so a CodegenFallback here
  * would split the probe side's whole-stage-codegen span at the hottest
  * operator.
  */
case class PipContainsExpr(px: Expression, py: Expression, tri: Expression)
    extends TernaryExpression with GraftExpectsInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(DoubleType, DoubleType, triType)
  override def first: Expression = px
  override def second: Expression = py
  override def third: Expression = tri
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(x: Any, y: Any, t: Any): Any =
    PipKernel.contains(x.asInstanceOf[Double], y.asInstanceOf[Double],
      t.asInstanceOf[InternalRow])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y, t) =>
      s"${ev.value} = graft.expr.PipKernel.contains($x, $y, $t);")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

/** O-55 CellEncode — Morton/quadtree cell id (SURVEY.md §2.9). Full codegen:
  * the generated code calls the static kernel directly, keeping the hot
  * ingest path inside whole-stage codegen.
  */
case class CellEncodeExpr(px: Expression, py: Expression, lvl: Expression)
    extends TernaryExpression with GraftExpectsInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(DoubleType, DoubleType, IntegerType)
  override def first: Expression = px
  override def second: Expression = py
  override def third: Expression = lvl
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(x: Any, y: Any, l: Any): Any =
    Cells.encode(x.asInstanceOf[Double], y.asInstanceOf[Double], l.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y, l) =>
      s"${ev.value} = graft.geom.Cells.encode($x, $y, $l);")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}


/** Hilbert index on a 2^bits grid — full codegen (static kernel call), so
  * layout writes keep the key inside whole-stage codegen.
  */
case class HilbertIndexExpr(px: Expression, py: Expression, bits: Expression)
    extends TernaryExpression with GraftExpectsInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(LongType, LongType, IntegerType)
  override def first: Expression = px
  override def second: Expression = py
  override def third: Expression = bits
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(x: Any, y: Any, b: Any): Any =
    Cells.hilbert(x.asInstanceOf[Long], y.asInstanceOf[Long], b.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y, b) =>
      s"${ev.value} = graft.geom.Cells.hilbert($x, $y, $b);")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

/** O-56 CellCover — cells overlapping an AABB at a level (array<long>). */
case class CellCoverExpr(children: Seq[Expression])
    extends Expression with CodegenFallback with GraftExpectsInputTypes {
  override def graftInputTypes: Seq[DataType] =
    Seq(DoubleType, DoubleType, DoubleType, DoubleType, IntegerType)
  require(children.length == 5, "cell_cover(xmin, ymin, xmax, ymax, level)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) return null
    new GenericArrayData(Cells.cover(
      vs(0).asInstanceOf[Double], vs(1).asInstanceOf[Double],
      vs(2).asInstanceOf[Double], vs(3).asInstanceOf[Double],
      vs(4).asInstanceOf[Int]))
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(cs)
}

/** kNN candidate cells: 3×3 neighbor ring incl. self (SURVEY.md O-39). */
case class CellNeighborsExpr(child: Expression) extends UnaryExpression
    with CodegenFallback with GraftExpectsInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(Cells.neighbors(v.asInstanceOf[Long]))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Column-API + SQL-registration surface for the custom expression library. */
object GeomFunctions {
  private def col(e: Expression): Column = Bridge.column(e)
  private def x(c: Column): Expression = Bridge.expression(c)

  def clean_ring(ring: Column): Column = col(CleanRingExpr(x(ring)))
  def is_poly_valid(ring: Column): Column = col(IsPolyValidExpr(x(ring)))
  def poly_normal(ring: Column): Column = col(PolyNormalExpr(x(ring)))
  def poly_angles(ring: Column): Column = col(AnglesExpr(x(ring)))
  def area_3d(ring: Column): Column = col(Area3DExpr(x(ring)))
  def area_gml(ext: Column, holes: Column): Column = col(AreaGMLExpr(x(ext), x(holes)))
  def ear_clip(ext: Column, holes: Column): Column = col(EarClipExpr(x(ext), x(holes)))
  def pip_contains(px: Column, py: Column, tri: Column): Column =
    col(PipContainsExpr(x(px), x(py), x(tri)))
  def cell_encode(px: Column, py: Column, level: Column): Column =
    col(CellEncodeExpr(x(px), x(py), x(level)))
  def hilbert_index(px: Column, py: Column, bits: Column): Column =
    col(HilbertIndexExpr(x(px), x(py), x(bits)))
  def cell_cover(xmin: Column, ymin: Column, xmax: Column, ymax: Column, level: Column): Column =
    col(CellCoverExpr(Seq(x(xmin), x(ymin), x(xmax), x(ymax), x(level))))
  def cell_neighbors(cell: Column): Column = col(CellNeighborsExpr(x(cell)))
  def hull_3d(points: Column): Column = col(Hull3DExpr(x(points)))

  /** (name → builder) for every SQL-exposed expression — injected at
    * session build by `graft.GraftExtensions`.
    */
  val injections: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "clean_ring" -> (es => CleanRingExpr(es.head)),
    "is_poly_valid" -> (es => IsPolyValidExpr(es.head)),
    "poly_normal" -> (es => PolyNormalExpr(es.head)),
    "poly_angles" -> (es => AnglesExpr(es.head)),
    "area_3d" -> (es => Area3DExpr(es.head)),
    "area_gml" -> (es => AreaGMLExpr(es(0), es(1))),
    "ear_clip" -> (es => EarClipExpr(es(0), es(1))),
    "pip_contains" -> (es => PipContainsExpr(es(0), es(1), es(2))),
    "cell_encode" -> (es => CellEncodeExpr(es(0), es(1), es(2))),
    "cell_cover" -> (es => CellCoverExpr(es)),
    "hilbert_index" -> (es => HilbertIndexExpr(es(0), es(1), es(2))),
    "cell_neighbors" -> (es => CellNeighborsExpr(es.head)),
    "hull_3d" -> (es => Hull3DExpr(es.head)),
    "simhash64" -> (es => SimHashExpr(es.head)),
    "tile_encode" -> (es => TileEncodeExpr(es(0), es(1), es(2), es(3), es(4))),
    "edge_kernel" -> (es => EdgeKernelExpr(es.head)),
    "area_2d" -> (es => Area2DExpr(es.head)),
    "plane_probe" -> (es => PlaneProbeExpr(es.head)),
    "pca_resid" -> (es => PcaResidExpr(es.head)),
    "weighted_centroid" -> (es => WeightedCentroidExpr(es.head)),
    "tri_align" -> (es => TriAlignExpr(es(0), es(1))),
    "dead_kernels" -> (es => DeadKernelsExpr(es.head)))
}

/** O-46 convex-hull window approximation: ring points → hull triangle
  * faces (componentseparationmodule.py:420-450; RNG perturbation replaced
  * by a deterministic hash-salted epsilon, SURVEY.md §7.5.3).
  */
case class Hull3DExpr(child: Expression) extends UnaryExpression
    with CodegenFallback with org.apache.spark.sql.graft.GraftExpectsInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(ringType)
  override def dataType: DataType = trisType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val tris = graft.geom.Hull3D.hull(toRing(v.asInstanceOf[ArrayData]))
    new GenericArrayData(tris.map(t =>
      new GenericInternalRow(Array[Any](vecRow(t.a), vecRow(t.b), vecRow(t.c)))).toArray[Any])
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
