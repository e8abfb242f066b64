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
  val StableStreetBridge = 140633010L // b6_test.py:18
  val BridgeSouthEnd = 1540349979L

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

  test("point-paths: the Stable Street bridge is among paths referencing its south-end node") {
    val paths = Relations.pointPaths(refs, BridgeSouthEnd)
      .select("from_id").as[Long].collect().toSet
    assert(paths.contains(StableStreetBridge), paths.toString)
  }

  test("point-features: bridge vertices come back in order with the south end at an endpoint") {
    val verts = Relations.pointFeatures(refs, StableStreetBridge)
      .select("to_id").as[Long].collect()
    assert(verts.length >= 2)
    assert(verts.head == BridgeSouthEnd || verts.last == BridgeSouthEnd, verts.mkString(","))
  }

  test("relationsByFeature finds the relations a path belongs to") {
    // any Jubilee Greenway member path must reverse-lookup to the relation
    val member = Relations.members(refs, JubileeGreenway)
      .where(col("to_type") === "path").select("to_id").as[Long].head()
    val rels = Relations.relationsByFeature(refs, member)
      .select("from_id").as[Long].collect().toSet
    assert(rels.contains(JubileeGreenway))
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

  test("entranceApproachAll (distributed) equals the per-area path on every granary building") {
    val world = OsmWorld.features(spark, pbf).cache()
    val buildingIds = world.where(col("id.ftype") === "area" &&
        col("id.ns") === "openstreetmap.org/way" &&
        col("tags").getItem("#building").isNotNull)
      .select(col("id.value")).as[Long].collect()
    val single = buildingIds.flatMap { id =>
      graft.operators.Entrances.entranceApproach(world, refs, id).map(a => id -> a)
    }.toMap
    val batch = graft.operators.Entrances.entranceApproachAll(
        world, refs, buildingIds.toSeq.toDF("area_id"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(batch.keySet == single.keySet,
      s"coverage differs: only-batch=${batch.keySet -- single.keySet} only-single=${single.keySet -- batch.keySet}")
    batch.foreach { case (id, a) =>
      assert(a == single(id), s"approach for $id differs: batch=$a single=${single(id)}")
    }
  }

  test("referencesFor batch lookup equals per-id lookups") {
    val ids = Seq(BridgeSouthEnd, 999999999999L).toDF("fid")
    val batch = Relations.referencesFor(refs, ids, Seq("path"))
      .select("from_id", "to_id").as[(Long, Long)].collect().toSet
    val single = Relations.pointPaths(refs, BridgeSouthEnd)
      .select("from_id", "to_id").as[(Long, Long)].collect().toSet
    assert(batch == single)
  }
}
