package graft

import graft.core.GeoOps
import graft.functions.TileIds
import graft.index.FeatureIndex
import graft.model.Fixtures
import graft.sources.GeoJson
import org.apache.spark.sql.functions._

class SourcesSpec extends SparkSuite {

  test("GeoJSON round-trips point/linestring/polygon/multipolygon") {
    val wkts = Seq(
      "POINT (-0.12 51.53)",
      "LINESTRING (-0.12 51.5, -0.12 51.51, -0.11 51.51)",
      graft.model.Fixtures.concaveWkts.head._2,
      graft.model.Fixtures.concaveWkts(1)._2)
    wkts.foreach { wkt =>
      val g = GeoOps.fromWkt(wkt)
      val back = GeoJson.parseGeometry(GeoJson.geometryToJson(g))
      assert(back.equalsExact(g, 1e-12), s"round trip failed for $wkt")
    }
  }

  test("GeoJSON feature collection frames features with properties") {
    val f = GeoJson.featureToJson(GeoOps.point(51.5, -0.1), Map("name" -> "a \"b\""))
    val fc = GeoJson.featureCollection(Seq(f))
    assert(fc.startsWith("""{"type":"FeatureCollection""""))
    assert(fc.contains("\\\"b\\\""))
  }

  test("parseFeatures + importGeoJson over the reference's own geojson fixtures") {
    import org.apache.spark.sql.functions._
    val fc = java.nio.file.Files.readString(
      java.nio.file.Paths.get(RefData("granary-square.geojson")))
    val feats = GeoJson.parseFeatures(fc)
    assert(feats.length == 1 && feats.head._1.getGeometryType == "Polygon")
    val colours = java.nio.file.Files.readString(
      java.nio.file.Paths.get(RefData("colour-areas.geojson")))
    val cf = GeoJson.parseFeatures(colours)
    assert(cf.nonEmpty && cf.forall(_._1.getGeometryType == "Polygon"))
    assert(cf.head._2.get("id").contains("0"), cf.head._2.toString)
    // import: world-shaped rows with index ids, geometry and covering columns
    val world = GeoJson.importGeoJson(spark, colours, "geojson/test")
    assert(world.count() == cf.length)
    assert(world.where(col("id.ftype") === "area").count() == cf.length)
    assert(world.select("covering").head.getSeq[Long](0).nonEmpty)
  }

  test("map-geometries applies a transform to every geometry, keeping properties") {
    val fc = GeoJson.featureCollection(Seq(
      GeoJson.featureToJson(GeoOps.point(51.5, -0.1), Map("name" -> "a")),
      GeoJson.featureToJson(GeoOps.point(51.6, -0.2), Map("name" -> "b"))))
    val out = GeoJson.mapGeometries(fc, g => GeoOps.point(g.getCoordinate.y + 1.0, g.getCoordinate.x))
    val feats = GeoJson.parseFeatures(out)
    assert(feats.map(_._1.getCoordinate.y).toSet == Set(52.5, 52.6))
    assert(feats.map(_._2("name")).toSet == Set("a", "b"))
  }

  test("geojson-areas inverts wrong-winding rings and drops invalid polygons (geojson.go:144-156)") {
    // same square wound CW (the reference's >2-pi loop case)
    val cw = """{"type":"Polygon","coordinates":[[[-0.13,51.53],[-0.13,51.54],[-0.12,51.54],[-0.12,51.53],[-0.13,51.53]]]}"""
    val areas = GeoJson.geojsonAreas(cw)
    assert(areas.length == 1)
    assert(org.locationtech.jts.algorithm.Orientation.isCCW(
      areas.head.asInstanceOf[org.locationtech.jts.geom.Polygon].getExteriorRing.getCoordinates))
    // a self-intersecting bowtie is invalid and dropped
    val bowtie = """{"type":"Polygon","coordinates":[[[0,0],[1,1],[1,0],[0,1],[0,0]]]}"""
    assert(GeoJson.geojsonAreas(bowtie).isEmpty)
  }

  test("FNV-1 tile feature ids match the reference algorithm (golden vectors)") {
    assert(TileIds.tileFeatureId(0L, "graft/events", 0L) == 7414288829670906107L)
    assert(TileIds.tileFeatureId(0L, "graft/events", 123L) == -5979490527527117250L)
    assert(TileIds.tileFeatureId(2L, "openstreetmap.org/way", 427900370L) == -8835161884861920015L)
  }

  test("index tokens follow the reference scheme (*, s2:, a2:, #k=v, @k)") {
    val feats = SparkEntry.features(spark, sf001).limit(50)
      .withColumn("covering", org.apache.spark.sql.functions.array(col("cell16")))
    val toks = FeatureIndex.tokens(feats)
    import spark.implicits._
    val perKind = toks.select("token").as[String].collect()
      .groupBy(t => t.takeWhile(_ != ':') match {
        case "s2" => "s2"; case "a2" => "a2"
        case x if x.startsWith("#") => "#"; case x if x.startsWith("@") => "@"
        case "*" => "*"; case _ => "?"
      }).view.mapValues(_.length).toMap
    assert(perKind("*") == 50)
    assert(perKind("s2") == 50)
    assert(perKind("a2") >= 50 * 17 - 100, s"ancestors per cell16: $perKind") // 17 levels, some shared
    assert(perKind.contains("#"))
  }

  test("debug-all-query returns a token's posting list; count-tag-value is the 1-row collection") {
    import org.apache.spark.sql.functions._
    val world = graft.sources.OsmWorld.features(
      spark, RefData("granary-square.osm.pbf"))
    val posting = graft.index.FeatureIndex.debugAllQuery(world, "#amenity=bicycle_parking")
    assert(posting.count() == 11) // BIKE_PARKING_IN_GRANARY_SQUARE golden
    val ctv = graft.index.FeatureIndex.countTagValue(
      world, "area", "openstreetmap.org/way", 427900370L, "name").collect()
    assert(ctv.length == 1 && ctv(0).getString(1) == "The Lighterman" && ctv(0).getLong(2) == 1L)
  }

  test("FeatureIndex: build writes every feature, partitioned by cell_bucket") {
    val path = java.nio.file.Files.createTempDirectory("fidx").toString
    val feats = Fixtures.points(spark, sf001)
    FeatureIndex.build(feats, path, bucketLevel = 12)
    import spark.implicits._
    val back = spark.read.parquet(path)
    assert(back.select("point_id").as[Long].collect().sorted.toSeq ==
      feats.select("point_id").as[Long].collect().sorted.toSeq)
    // one directory per bucket, and every row sits in its cell16's bucket
    val bucketDirs = new java.io.File(path).listFiles().count(_.getName.startsWith("cell_bucket="))
    assert(bucketDirs > 1 && bucketDirs == back.select("cell_bucket").distinct().count())
    assert(back.select("cell16", "cell_bucket").as[(Long, Long)].collect()
      .forall { case (c, b) => graft.core.Cells.parentAt(c, 12) == b })
  }
}
