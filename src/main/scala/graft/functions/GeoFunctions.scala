package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf
import org.locationtech.jts.geom.{Coordinate, Geometry}
import graft.core.GeoOps

/**
 * Geometry scalar functions mirroring the reference's registry
 * (src/diagonal.works/b6/api/functions/geometry.go, features.go):
 * area, centroid (convex-hull rule for areas, b6/world.go:868-886),
 * path length, interpolate, sample-points, convex hull, rectangle/cap
 * constructors, distance-along-path. JTS-backed Scala UDFs (these are
 * feature-table-sized, not probe-side-hot; the hot predicates live in
 * CellExprs as codegen'd expressions).
 */
object GeoFunctions {

  val EarthMetersPerDegLat: Double = math.Pi * GeoOps.EarthRadiusMeters / 180.0

  /** Planar area scaled to m² at the geometry's latitude (small-extent
    * approximation consistent with validated-loop area, geometry.go:97-106). */
  def areaM2(g: Geometry): Double = {
    val latRef = g.getCentroid.getY
    val mPerDegLng = EarthMetersPerDegLat * math.cos(math.toRadians(latRef))
    g.getArea * EarthMetersPerDegLat * mPerDegLng
  }

  /** Centroid with b6's rule: for areas, the centroid of the CONVEX HULL
    * (b6/world.go:868-886); points/lines use the plain centroid. */
  def centroid(g: Geometry): (Double, Double) = {
    val c = if (g.getDimension >= 2) g.convexHull().getCentroid else g.getCentroid
    (c.getY, c.getX)
  }

  /** Point at `fraction` (0..1) along a linestring by metric length
    * (geometry.go:78-82). */
  def interpolate(g: Geometry, fraction: Double): (Double, Double) = {
    val cs = g.getCoordinates
    val total = GeoOps.wkbLengthMeters(GeoOps.toWkb(g))
    if (total == 0.0 || cs.length < 2) return (cs(0).y, cs(0).x)
    var remaining = fraction * total
    var i = 1
    while (i < cs.length) {
      val seg = GeoOps.haversineMeters(cs(i - 1).y, cs(i - 1).x, cs(i).y, cs(i).x)
      if (remaining <= seg && seg > 0) {
        val t = remaining / seg
        return (cs(i - 1).y + t * (cs(i).y - cs(i - 1).y),
          cs(i - 1).x + t * (cs(i).x - cs(i - 1).x))
      }
      remaining -= seg
      i += 1
    }
    (cs.last.y, cs.last.x)
  }

  /** Equidistant points along a path, every `spacingMeters`
    * (sample-points, features.go:410-462). */
  def samplePoints(g: Geometry, spacingMeters: Double): Seq[(Double, Double)] = {
    val total = GeoOps.wkbLengthMeters(GeoOps.toWkb(g))
    if (total == 0) return Seq(centroid(g))
    val n = math.max(1, (total / spacingMeters).toInt)
    (0 to n).map(i => interpolate(g, math.min(1.0, i * spacingMeters / total)))
  }

  /** rectangle-polygon from two corners (geometry.go:109-113). */
  def rectanglePolygon(lat1: Double, lng1: Double, lat2: Double, lng2: Double): Geometry = {
    val (la0, la1) = (math.min(lat1, lat2), math.max(lat1, lat2))
    val (lo0, lo1) = (math.min(lng1, lng2), math.max(lng1, lng2))
    GeoOps.factory.createPolygon(Array(
      new Coordinate(lo0, la0), new Coordinate(lo1, la0),
      new Coordinate(lo1, la1), new Coordinate(lo0, la1), new Coordinate(lo0, la0)))
  }

  /** cap-polygon: 128-gon approximation of a cap (geometry.go:115-121). */
  def capPolygon(lat: Double, lng: Double, radiusMeters: Double): Geometry = {
    val dLat = radiusMeters / EarthMetersPerDegLat
    val dLng = radiusMeters / (EarthMetersPerDegLat * math.cos(math.toRadians(lat)))
    val coords = (0 to 128).map { i =>
      val a = 2 * math.Pi * i / 128
      new Coordinate(lng + dLng * math.cos(a), lat + dLat * math.sin(a))
    }.toArray
    coords(128) = coords(0)
    GeoOps.factory.createPolygon(coords)
  }

  /** Convex hull of many geometries (convex-hull, geometry.go:207-232). */
  def convexHullAll(wkbs: Seq[Array[Byte]]): Array[Byte] = {
    val gc = GeoOps.factory.createGeometryCollection(wkbs.map(GeoOps.fromWkb).toArray)
    GeoOps.toWkb(gc.convexHull())
  }

  /** Distance along a path to the projection of a point
    * (distance-to-point-meters, geometry.go:45-54). The projection is metric
    * (lng scaled by cos(lat) like the reference's spherical projection) —
    * projecting in raw degree space would bias the projected vertex. */
  def distanceToPointMeters(path: Geometry, lat: Double, lng: Double): Double = {
    val cs = path.getCoordinates
    val kx = EarthMetersPerDegLat * math.cos(math.toRadians(lat))
    val ky = EarthMetersPerDegLat
    val px = lng * kx; val py = lat * ky
    var bestD = Double.MaxValue
    var bestArc = 0.0
    var arc = 0.0
    var i = 1
    while (i < cs.length) {
      val ax = cs(i - 1).x * kx; val ay = cs(i - 1).y * ky
      val bx = cs(i).x * kx; val by = cs(i).y * ky
      val dx = bx - ax; val dy = by - ay
      val len2 = dx * dx + dy * dy
      val t = if (len2 == 0) 0.0 else math.max(0.0, math.min(1.0,
        ((px - ax) * dx + (py - ay) * dy) / len2))
      val qx = ax + t * dx; val qy = ay + t * dy
      val d = math.hypot(px - qx, py - qy)
      val segLen = GeoOps.haversineMeters(cs(i - 1).y, cs(i - 1).x, cs(i).y, cs(i).x)
      if (d < bestD) { bestD = d; bestArc = arc + t * segLen }
      arc += segLen
      i += 1
    }
    bestArc
  }

  /**
   * Degree-space shoelace terms over a polygon's exterior ring, accumulated
   * in STRICT vertex order (one left-to-right fold, like a left-associated
   * SQL `+` chain): s = Σ (x_i·y_{i+1} − x_{i+1}·y_i),
   * cx = Σ (x_i + x_{i+1})·cr_i, cy likewise. Every operation is IEEE
   * +,-,* in the same sequence the DuckDB oracle's literal expression uses,
   * so signed area (s/2), and centroid (cx/(3s), cy/(3s)) are bit-identical
   * cross-engine. Metric scaling (trig) stays a DRIVER-computed literal —
   * no trig ever crosses the engine boundary (geometry.go:97-106 semantics;
   * the latitude-scaled JTS path is areaM2 above, ScalaTest-covered).
   */
  def shoelaceDeg(g: Geometry): (Double, Double, Double) = {
    val cs = g.getCoordinates // exterior ring, closed (first == last)
    var s = 0.0; var cx = 0.0; var cy = 0.0
    var i = 0
    while (i < cs.length - 1) {
      val cr = cs(i).x * cs(i + 1).y - cs(i + 1).x * cs(i).y
      s += cr
      cx += (cs(i).x + cs(i + 1).x) * cr
      cy += (cs(i).y + cs(i + 1).y) * cr
      i += 1
    }
    (s, cx, cy)
  }

  /** m² per deg² at `latRef` — the literal factor for shoelace areas. */
  def metersPerDeg2(latRef: Double): Double =
    EarthMetersPerDegLat * (EarthMetersPerDegLat * math.cos(math.toRadians(latRef)))

  // ---- Column API (UDFs) ----

  /** Signed shoelace area in deg² (CCW positive). */
  val shoelace_area_deg2 = udf((wkb: Array[Byte]) =>
    shoelaceDeg(GeoOps.fromWkb(wkb))._1 * 0.5)
  val shoelace_centroid_lat = udf((wkb: Array[Byte]) => {
    val (s, _, cy) = shoelaceDeg(GeoOps.fromWkb(wkb)); cy / (3.0 * s)
  })
  val shoelace_centroid_lng = udf((wkb: Array[Byte]) => {
    val (s, cx, _) = shoelaceDeg(GeoOps.fromWkb(wkb)); cx / (3.0 * s)
  })

  val area_m2 = udf((wkb: Array[Byte]) => areaM2(GeoOps.fromWkb(wkb)))
  val centroid_lat = udf((wkb: Array[Byte]) => centroid(GeoOps.fromWkb(wkb))._1)
  val centroid_lng = udf((wkb: Array[Byte]) => centroid(GeoOps.fromWkb(wkb))._2)
  val length_m = udf((wkb: Array[Byte]) => GeoOps.wkbLengthMeters(wkb))

  def install(spark: SparkSession): Unit = {
    spark.udf.register("area_m2", area_m2)
    spark.udf.register("centroid_lat", centroid_lat)
    spark.udf.register("centroid_lng", centroid_lng)
    spark.udf.register("length_m", length_m)
  }
}
