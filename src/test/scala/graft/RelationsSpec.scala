package graft

import graft.operators.Relations
import graft.sources.OsmWorld
import org.apache.spark.sql.functions._

/** Reverse-reference lookups against the reference's own relation goldens
  * (python/diagonal_b6/b6_test.py:78-81, :107-109). */
class RelationsSpec extends SparkSuite {
  import spark.implicits._

  lazy val pbf = RefData("granary-square.osm.pbf")
  lazy val refs = OsmWorld.references(spark, pbf).cache()

  val JubileeGreenway = 380856L // b6_test.py:17

  test("RELATION MEMBERS golden: Jubilee Greenway has 10 < path members < 800 (b6_test.py:78)") {
    val paths = Relations.members(refs, JubileeGreenway)
      .where(col("to_type") === "path").count()
    assert(paths > 10 && paths < 800, s"got $paths")
  }

  test("RELATION NAMES golden: #route relations include Jubilee Greenway (b6_test.py:107)") {
    val world = OsmWorld.features(spark, pbf)
    val names = world.where(col("id.ftype") === "relation" &&
        col("tags").getItem("#route").isNotNull)
      .select(col("tags").getItem("name")).as[String].collect().toSet
    assert(names.contains("Jubilee Greenway"), names.take(10).toString)
  }

  test("entrance-approach: an approach point lands outside its building, near it (sightline.go:801-855)") {
    val world = OsmWorld.features(spark, pbf).cache()
    val buildings = world.where(col("id.ftype") === "area" &&
        col("id.ns") === "openstreetmap.org/way" &&
        col("tags").getItem("#building").isNotNull)
      .select(col("id.value"), col("geom")).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
    var found = 0
    buildings.foreach { case (id, wkb) =>
      graft.operators.Entrances.entranceApproach(world, refs, id).foreach { case (lat, lng) =>
        found += 1
        val area = graft.core.GeoOps.fromWkb(wkb)
        val p = graft.core.GeoOps.point(lat, lng)
        assert(!area.covers(p), s"approach for $id must be outside the building")
        assert(area.distance(p) < 0.001, s"approach for $id must be near the building")
      }
    }
    assert(found > 0, "at least one granary building has a walkable approach")
  }
}
