package graft

import graft.core.GeoOps
import graft.functions.GeoFunctions
import graft.operators.Sightline

class SightlineSpec extends SparkSuite {
  import spark.implicits._

  val origin = (51.5353, -0.1258)

  test("no occluders: visibility approximates the full disk") {
    val vis = Sightline.visibilityPolygon(origin._1, origin._2, Nil, 500.0, 256)
    val area = GeoFunctions.areaM2(vis)
    val disk = math.Pi * 500.0 * 500.0
    assert(math.abs(area - disk) / disk < 0.01, s"$area vs $disk")
    assert(vis.covers(GeoOps.point(51.5353 + 0.004, -0.1258)))
  }

  test("a wall occludes points behind it") {
    // wall ~100m east of the origin, north-south oriented
    val wall = GeoOps.fromWkt(
      "POLYGON ((-0.12435 51.5333, -0.12425 51.5333, -0.12425 51.5373, -0.12435 51.5373, -0.12435 51.5333))")
    val vis = Sightline.visibilityPolygon(origin._1, origin._2, Seq(wall), 500.0, 512)
    // a point well behind the wall (further east) must not be visible
    assert(!vis.covers(GeoOps.point(51.5353, -0.1200)))
    // a point in the clear (west) is visible
    assert(vis.covers(GeoOps.point(51.5353, -0.1300)))
    // occluded area strictly smaller than the free disk
    assert(GeoFunctions.areaM2(vis) < math.Pi * 500.0 * 500.0 * 0.95)
  }

  test("vertex-angle rays make corners exact: coarse ray count converges to fine") {
    // with rays cast at occluder vertex angles, the shadow boundary is set by
    // the corners, not the ray spacing — 64 base rays must already agree with
    // 4096 base rays to well under the spacing-error a pure 64-ray cast has
    val box = GeoOps.fromWkt(
      "POLYGON ((-0.1245 51.5340, -0.1235 51.5340, -0.1235 51.5350, -0.1245 51.5350, -0.1245 51.5340))")
    val coarse = GeoFunctions.areaM2(
      Sightline.visibilityPolygon(origin._1, origin._2, Seq(box), 500.0, 64))
    val fine = GeoFunctions.areaM2(
      Sightline.visibilityPolygon(origin._1, origin._2, Seq(box), 500.0, 4096))
    assert(math.abs(coarse - fine) / fine < 0.005, s"$coarse vs $fine")
    // the exact corner is a vertex of the visibility polygon
    val vis = Sightline.visibilityPolygon(origin._1, origin._2, Seq(box), 500.0, 64)
    val hasCorner = vis.getCoordinates.exists(c =>
      math.abs(c.x - -0.1245) < 1e-6 && math.abs(c.y - 51.5350) < 1e-6)
    assert(hasCorner, "visible corner must appear as a polygon vertex")
  }

  test("distributed sightlines: camden buildings occlude the granary-square view") {
    val world = graft.sources.OsmWorld.features(spark, RefData("granary-square.osm.pbf"))
    val buildings = world.where(
      org.apache.spark.sql.functions.col("tags").getItem("#building").isNotNull &&
        org.apache.spark.sql.functions.col("id.ftype") === "area")
    val origins = Seq((1L, origin._1, origin._2)).toDF("origin_id", "lat", "lng")
    val rows = Sightline.sightlines(origins, buildings, 300.0, rays = 128).collect()
    assert(rows.length == 1)
    val freeDisk = math.Pi * 300.0 * 300.0
    assert(rows(0).area_m2 < freeDisk * 0.98, s"buildings must occlude: ${rows(0).area_m2} vs $freeDisk")
    assert(rows(0).area_m2 > freeDisk * 0.05)
  }
}
