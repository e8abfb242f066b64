package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit, typedLit}
import org.apache.spark.sql.types._

/**
 * Native Catalyst expressions for the cell/tile/geodesic math. Each generates
 * a single static call inside whole-stage codegen (no boxing, no UDF
 * serialization), which is what keeps the spatial-join key computation on the
 * scan side of the shuffle at full codegen speed.
 *
 * Semantics mirror the reference's covering/tile/unit rules:
 *  - coverings: src/diagonal.works/b6/search/spatial.go:10-113
 *  - tile cover: src/diagonal.works/b6/tiles.go:259-343
 *  - earth radius 6371010 m: src/diagonal.works/b6/units/units.go:7
 */
object CellExprs {

  case class CellOf(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "cell_of"
    override protected def nullSafeEval(lat: Any, lng: Any, lvl: Any): Any =
      graft.core.Cells.cellOf(lat.asInstanceOf[Double], lng.asInstanceOf[Double], lvl.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b, c) => s"graft.core.Cells.cellOf($a, $b, $c)")
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
      copy(f, s, t)
  }

  case class CellParentAt(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "cell_parent_at"
    override protected def nullSafeEval(c: Any, l: Any): Any =
      graft.core.Cells.parentAt(c.asInstanceOf[Long], l.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.core.Cells.parentAt($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  }

  case class CellLevel(child: Expression) extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "cell_level"
    override protected def nullSafeEval(c: Any): Any = graft.core.Cells.level(c.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.core.Cells.level($a)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  case class CellCenterLat(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "cell_center_lat"
    override protected def nullSafeEval(c: Any): Any = graft.core.Cells.centerLat(c.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.core.Cells.centerLat($a)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  case class CellCenterLng(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "cell_center_lng"
    override protected def nullSafeEval(c: Any): Any = graft.core.Cells.centerLng(c.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.core.Cells.centerLng($a)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  case class CellAncestors(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "cell_ancestors"
    override protected def nullSafeEval(c: Any): Any =
      new GenericArrayData(graft.core.Cells.ancestors(c.asInstanceOf[Long]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a =>
        s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.core.Cells.ancestors($a))")
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  case class CellNeighborDisk(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "cell_neighbor_disk"
    override protected def nullSafeEval(c: Any, r: Any): Any =
      new GenericArrayData(graft.core.Cells.neighborDisk(c.asInstanceOf[Long], r.asInstanceOf[Int]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.core.Cells.neighborDisk($a, $b))")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  }

  case class CellCoveringWkb(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "cell_covering"
    override protected def nullSafeEval(wkb: Any, maxLevel: Any, maxCells: Any): Any =
      new GenericArrayData(graft.core.GeoOps.coveringWkb(
        wkb.asInstanceOf[Array[Byte]], maxLevel.asInstanceOf[Int], maxCells.asInstanceOf[Int]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b, c) =>
        s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.core.GeoOps.coveringWkb($a, $b, $c))")
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
      copy(f, s, t)
  }

  case class WkbCoversPoint(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "wkb_covers_point"
    override protected def nullSafeEval(wkb: Any, lat: Any, lng: Any): Any =
      graft.core.GeoOps.wkbCoversPoint(
        wkb.asInstanceOf[Array[Byte]], lat.asInstanceOf[Double], lng.asInstanceOf[Double])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b, c) => s"graft.core.GeoOps.wkbCoversPoint($a, $b, $c)")
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
      copy(f, s, t)
  }

  case class WkbIntersects(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "wkb_intersects"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      graft.core.GeoOps.wkbIntersects(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.core.GeoOps.wkbIntersects($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  }

  /** s2-grid analogue (api/functions/s2.go:30-44): single-level sorted cell
    * grid intersecting a geometry. */
  case class CellGrid(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "cell_grid"
    override protected def nullSafeEval(wkb: Any, lvl: Any): Any =
      new GenericArrayData(graft.core.GeoOps.gridAtLevel(
        wkb.asInstanceOf[Array[Byte]], lvl.asInstanceOf[Int]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.core.GeoOps.gridAtLevel($a, $b))")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  }

  /** s2-polygon analogue (api/functions/s2.go:66-74): cell boundary as WKB. */
  case class CellPolygon(child: Expression) extends UnaryExpression {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "cell_polygon"
    override protected def nullSafeEval(c: Any): Any =
      graft.core.GeoOps.cellPolygonWkb(c.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.core.GeoOps.cellPolygonWkb($c)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  case class HaversineM(children: Seq[Expression]) extends Expression {
    require(children.length == 4, "haversine_m(lat1, lng1, lat2, lng2)")
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = children.exists(_.nullable)
    override def prettyName: String = "haversine_m"
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val vs = children.map(_.eval(input))
      if (vs.contains(null)) null
      else graft.core.GeoOps.haversineMeters(
        vs(0).asInstanceOf[Double], vs(1).asInstanceOf[Double],
        vs(2).asInstanceOf[Double], vs(3).asInstanceOf[Double])
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val evs = children.map(_.genCode(ctx))
      val childCode = evs.map(_.code).reduce(_ + _)
      val nullCheck = evs.map(_.isNull.toString).mkString(" || ")
      val call = s"graft.core.GeoOps.haversineMeters(${evs.map(_.value).mkString(", ")})"
      ev.copy(code =
        code"""
          $childCode
          boolean ${ev.isNull} = $nullCheck;
          double ${ev.value} = ${ev.isNull} ? 0.0 : $call;
        """)
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
  }

  /** `cap_within(lat, lng, centreLat, centreLng, radiusMeters)`: the point is
    * strictly inside the cap — `haversine_m(lat, lng, centreLat, centreLng) <
    * radiusMeters`, same call, same argument order. The cap is a field of the
    * expression, not a literal child: Catalyst inlines double literals into
    * the generated Java, so the haversine form compiled new code for every
    * centre and radius. Here the cap reaches generated code through
    * `ctx.addReferenceObj`, so every cap shares one compiled class. */
  case class CapWithin(left: Expression, right: Expression,
                       centreLat: Double, centreLng: Double, radiusMeters: Double)
      extends BinaryExpression with Predicate {
    override def prettyName: String = "cap_within"
    override protected def nullSafeEval(lat: Any, lng: Any): Any =
      graft.core.GeoOps.haversineMeters(lat.asInstanceOf[Double], lng.asInstanceOf[Double],
        centreLat, centreLng) < radiusMeters
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cap = ctx.addReferenceObj("cap", Array(centreLat, centreLng, radiusMeters), "double[]")
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.core.GeoOps.haversineMeters($a, $b, $cap[0], $cap[1]) < $cap[2]")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** `cell_in_ranges(cell, ranges)`: `cell` lies in one of the inclusive id
    * ranges, a binary search ([[graft.core.Cells.inRanges]]). `ranges` is a
    * constant array of flattened (lo, hi) pairs; `bounds` holds their union
    * as sorted, disjoint pairs and, like [[CapWithin]]'s cap, is a field
    * passed to generated code by reference, so the code is the same whatever
    * the ranges. */
  case class CellInRanges(child: Expression, bounds: Vector[Long])
      extends UnaryExpression with Predicate {
    @transient private lazy val boundsArray = bounds.toArray
    override def prettyName: String = "cell_in_ranges"
    override protected def nullSafeEval(c: Any): Any =
      graft.core.Cells.inRanges(boundsArray, c.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ranges = ctx.addReferenceObj("cellRanges", bounds.toArray, "long[]")
      defineCodeGen(ctx, ev, c => s"graft.core.Cells.inRanges($ranges, $c)")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** `tile_covers(geom, zoom, tile)`: the geometry's tile cover at `zoom`
    * holds `tile` — `array_contains(tile_cover(geom, zoom), tile)`, with the
    * zoom and tile id as fields passed to generated code by reference like
    * [[CapWithin]], so every tile shares one compiled class. */
  case class TileCovers(child: Expression, zoom: Int, tile: Long)
      extends UnaryExpression with Predicate {
    override def prettyName: String = "tile_covers"
    override protected def nullSafeEval(wkb: Any): Any =
      graft.core.GeoOps.tileCovers(wkb.asInstanceOf[Array[Byte]], zoom, tile)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val t = ctx.addReferenceObj("tile", Array(zoom.toLong, tile), "long[]")
      defineCodeGen(ctx, ev, g => s"graft.core.GeoOps.tileCovers($g, (int) $t[0], $t[1])")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Sorted, disjoint flattened bounds of the union of inclusive ranges. */
  private def mergeRanges(ranges: Seq[(Long, Long)]): Vector[Long] =
    ranges.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((lo, hi) :: rest, (l, h)) if l <= hi => (lo, math.max(hi, h)) :: rest
      case (acc, r) => r :: acc
    }.reverse.flatMap { case (l, h) => Seq(l, h) }.toVector

  case class TileXExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "tile_x"
    override protected def nullSafeEval(lng: Any, z: Any): Any =
      graft.core.GeoOps.tileX(lng.asInstanceOf[Double], z.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.core.GeoOps.tileX($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  }

  case class TileYExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "tile_y"
    override protected def nullSafeEval(lat: Any, z: Any): Any =
      graft.core.GeoOps.tileY(lat.asInstanceOf[Double], z.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.core.GeoOps.tileY($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  }

  case class TileCoverWkbExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "tile_cover"
    override protected def nullSafeEval(wkb: Any, z: Any): Any =
      new GenericArrayData(graft.core.GeoOps.tileCoverWkb(wkb.asInstanceOf[Array[Byte]], z.asInstanceOf[Int]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.core.GeoOps.tileCoverWkb($a, $b))")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  }

  // ---- registration + Column API -------------------------------------------

  private def asD(e: Expression): Expression = Cast(e, DoubleType)
  private def asI(e: Expression): Expression = Cast(e, IntegerType)
  private def asL(e: Expression): Expression = Cast(e, LongType)

  /** A parameter that must be a constant: evaluated once, at analysis. */
  private def const(fn: String, e: Expression): Any = {
    if (!e.foldable) throw new IllegalArgumentException(s"$fn: parameter $e is not a constant")
    e.eval()
  }
  private def constD(fn: String, e: Expression): Double =
    const(fn, asD(e)).asInstanceOf[Double]

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cell_of" -> (es => CellOf(asD(es(0)), asD(es(1)), asI(es(2)))),
    "cell_parent_at" -> (es => CellParentAt(asL(es(0)), asI(es(1)))),
    "cell_level" -> (es => CellLevel(asL(es(0)))),
    "cell_center_lat" -> (es => CellCenterLat(asL(es(0)))),
    "cell_center_lng" -> (es => CellCenterLng(asL(es(0)))),
    "cell_ancestors" -> (es => CellAncestors(asL(es(0)))),
    "cell_neighbor_disk" -> (es => CellNeighborDisk(asL(es(0)), asI(es(1)))),
    "cell_covering" -> (es => CellCoveringWkb(es(0), asI(es(1)), asI(es(2)))),
    "wkb_covers_point" -> (es => WkbCoversPoint(es(0), asD(es(1)), asD(es(2)))),
    "wkb_intersects" -> (es => WkbIntersects(es(0), es(1))),
    "haversine_m" -> (es => HaversineM(es.map(asD))),
    "cap_within" -> (es => CapWithin(asD(es(0)), asD(es(1)),
      constD("cap_within", es(2)), constD("cap_within", es(3)), constD("cap_within", es(4)))),
    "tile_covers" -> (es => TileCovers(es(0),
      const("tile_covers", asI(es(1))).asInstanceOf[Int], const("tile_covers", asL(es(2))).asInstanceOf[Long])),
    "cell_in_ranges" -> { es =>
      val flat = const("cell_in_ranges", Cast(es(1), ArrayType(LongType)))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
      if (flat.length % 2 != 0)
        throw new IllegalArgumentException("cell_in_ranges: ranges must be (lo, hi) pairs")
      CellInRanges(asL(es(0)), mergeRanges(flat.grouped(2).map(p => (p(0), p(1))).toSeq))
    },
    "tile_x" -> (es => TileXExpr(asD(es(0)), asI(es(1)))),
    "tile_y" -> (es => TileYExpr(asD(es(0)), asI(es(1)))),
    "tile_cover" -> (es => TileCoverWkbExpr(es(0), asI(es(1)))),
    "cell_grid" -> (es => CellGrid(es(0), asI(es(1)))),
    "cell_polygon" -> (es => CellPolygon(asL(es(0)))),
  )

  /** Expression builders by SQL name (shared with GraftExtensions). */
  def registrations: Seq[(String, Seq[Expression] => Expression)] = builders

  /** Register all graft expressions in the session's function registry. Idempotent. */
  def install(spark: SparkSession): Unit = builders.foreach { case (name, b) =>
    val ident = new org.apache.spark.sql.catalyst.FunctionIdentifier(name)
    if (!spark.sessionState.functionRegistry.functionExists(ident)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, b, "built-in")
    }
  }

  def cell_of(lat: Column, lng: Column, level: Column): Column = call_function("cell_of", lat, lng, level)
  def cell_parent_at(cell: Column, level: Column): Column = call_function("cell_parent_at", cell, level)
  def cell_level(cell: Column): Column = call_function("cell_level", cell)
  def cell_ancestors(cell: Column): Column = call_function("cell_ancestors", cell)
  def cell_neighbor_disk(cell: Column, r: Column): Column = call_function("cell_neighbor_disk", cell, r)
  def cell_covering(wkb: Column, maxLevel: Column, maxCells: Column): Column =
    call_function("cell_covering", wkb, maxLevel, maxCells)
  def wkb_covers_point(wkb: Column, lat: Column, lng: Column): Column =
    call_function("wkb_covers_point", wkb, lat, lng)
  def wkb_intersects(a: Column, b: Column): Column = call_function("wkb_intersects", a, b)
  def haversine_m(lat1: Column, lng1: Column, lat2: Column, lng2: Column): Column =
    call_function("haversine_m", lat1, lng1, lat2, lng2)
  /** Strictly inside the cap: `haversine_m(lat, lng, centreLat, centreLng) <
    * radiusMeters`, with one compiled class for every cap. */
  def cap_within(lat: Column, lng: Column, centreLat: Double, centreLng: Double,
                 radiusMeters: Double): Column =
    call_function("cap_within", lat, lng, lit(centreLat), lit(centreLng), lit(radiusMeters))
  /** `cell` lies in one of the inclusive (lo, hi) id ranges, with one compiled
    * class for every range set. */
  def cell_in_ranges(cell: Column, ranges: Seq[(Long, Long)]): Column =
    call_function("cell_in_ranges", cell, typedLit(ranges.flatMap { case (lo, hi) => Seq(lo, hi) }))
  /** s2-center analogue: cell centroid (functions/s2.go:13-74). */
  def cell_center_lat(cell: Column): Column = call_function("cell_center_lat", cell)
  def cell_center_lng(cell: Column): Column = call_function("cell_center_lng", cell)
  def tile_x(lng: Column, zoom: Column): Column = call_function("tile_x", lng, zoom)
  def tile_y(lat: Column, zoom: Column): Column = call_function("tile_y", lat, zoom)
  def tile_cover(wkb: Column, zoom: Column): Column = call_function("tile_cover", wkb, zoom)
  /** The geometry's tile cover at `zoom` holds `tile`, with one compiled
    * class for every tile. */
  def tile_covers(wkb: Column, zoom: Int, tile: Long): Column =
    call_function("tile_covers", wkb, lit(zoom), lit(tile))
}
