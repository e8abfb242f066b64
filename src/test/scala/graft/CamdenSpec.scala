package graft

import graft.core.GeoOps
import graft.query._
import graft.sources.OsmWorld
import org.apache.spark.sql.functions._

/** The reference's search-benchmark workload over its camden fixture
  * (src/diagonal.works/b6/ingest/compact/world_test.go:241-254):
  * Keyed(#building) AND IntersectsCap(51.5305, -0.1232, 1km). */
class CamdenSpec extends SparkSuite {

  lazy val world = OsmWorld.features(spark, RefData("camden.osm.pbf")).cache()

  test("camden: #building AND 1km-cap query matches brute force; index pre-prune is a superset") {
    import spark.implicits._
    val q = And(Seq(Keyed("#building"), IntersectsCap(51.5305, -0.1232, 1000.0)))
    val got = QueryPlanner.find(world, q)
      .select(col("id.ftype"), col("id.value")).as[(String, Long)].collect().toSet
    val expected = world
      .select(col("id.ftype"), col("id.value"), col("lat"), col("lng"),
        col("tags").getItem("#building").isNotNull.as("b")).as[(String, Long, Double, Double, Boolean)]
      .collect()
      .collect { case (t, v, la, lo, b)
        if b && GeoOps.haversineMeters(la, lo, 51.5305, -0.1232) < 1000.0 => (t, v) }.toSet
    assert(got == expected)
    assert(got.size > 1000, s"camden 1km cap should contain thousands of buildings, got ${got.size}")
  }

  test("camden: the reference's own benchmark query runs VERBATIM-shaped through the shell") {
    // BenchmarkSearchWorld (ingest/compact/world_test.go:241-254):
    // Keyed(#building) AND IntersectsCap(51.5305,-0.1232,1km)
    val viaShell = graft.shell.Shell.run(world,
      "find (and [#building] (intersecting-cap 51.5305, -0.1232 1000.0)) | count")
    val direct = QueryPlanner.find(world,
      And(Seq(Keyed("#building"), IntersectsCap(51.5305, -0.1232, 1000.0)))).count()
    assert(viaShell == direct, s"shell=$viaShell direct=$direct")
  }

  test("camden: typed area + cap query equals brute force on centroids") {
    import spark.implicits._
    val squareCap = IntersectsCap(51.5353, -0.1258, 250.0)
    val got = QueryPlanner.find(world, And(Seq(TypedQ("area", Keyed("#building")), squareCap)))
      .select(col("id.value")).as[Long].collect().toSet
    val expected = world
      .select(col("id.ftype"), col("id.value"), col("lat"), col("lng"),
        col("tags").getItem("#building").isNotNull.as("b")).as[(String, Long, Double, Double, Boolean)]
      .collect()
      .collect { case ("area", v, la, lo, b)
        if b && GeoOps.haversineMeters(la, lo, 51.5353, -0.1258) < 250.0 => v }.toSet
    assert(got == expected && got.nonEmpty)
  }
}
