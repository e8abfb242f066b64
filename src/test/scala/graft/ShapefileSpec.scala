package graft

import graft.sources.Shapefile
import org.apache.spark.sql.functions._

/** Shapefile ingest vs the reference's own gdal source tests
  * (ingest/gdal/source_test.go:16-80) over lsoa-camden.shp. */
class ShapefileSpec extends SparkSuite {
  import spark.implicits._

  lazy val shp = RefData("lsoa-camden.shp")

  test("ONS id strategy matches the reference golden (b6_test.py:71-72)") {
    assert(Shapefile.onsId("E01000953", 2011) == 76343044687353L)
    assert(Shapefile.onsCodeFromId(76343044687353L) == (("E01000953", 2011)))
    assert(Shapefile.onsId("BAD", 2011) == -1L)
  }

  test("LSOA GOLDEN: E01000858 is Camden 018B with #boundary=lsoa (source_test.go:16-47)") {
    val world = Shapefile.features(spark, shp, "LSOA11CD",
      copyTags = Map("LSOA11CD" -> "code", "LSOA11NM" -> "name", "POPULATION" -> "population"),
      addTags = Map("#boundary" -> "lsoa"))
    val found = world.where(col("id.value") === Shapefile.onsId("E01000858", 2011))
      .select(col("id.ns"), col("id.ftype"), col("tags")).collect()
    assert(found.length == 1, "boundary must be found by ONS id")
    val tags = found(0).getAs[Map[String, String]](2)
    assert(found(0).getString(0) == Shapefile.OnsNamespace)
    assert(found(0).getString(1) == "area")
    assert(tags("name") == "Camden 018B" && tags("#boundary") == "lsoa")
  }

  test("copy-all-fields copies the remaining attributes (source_test.go:49-80)") {
    val world = Shapefile.features(spark, shp, "LSOA11CD",
      copyTags = Map("LSOA11CD" -> "code"), copyAllFields = true,
      addTags = Map("#boundary" -> "lsoa"))
    val tags = world.where(col("id.value") === Shapefile.onsId("E01000858", 2011))
      .select("tags").as[Map[String, String]].head()
    assert(tags("code") == "E01000858" && tags("LSOA11NM") == "Camden 018B")
  }

  test("BNG coordinates transform to WGS84: camden LSOAs land in camden") {
    val world = Shapefile.features(spark, shp, "LSOA11CD")
    val stats = world.agg(min("lat"), max("lat"), min("lng"), max("lng")).head()
    assert(stats.getDouble(0) > 51.4 && stats.getDouble(1) < 51.7, stats.toString)
    assert(stats.getDouble(2) > -0.3 && stats.getDouble(3) < 0.05, stats.toString)
    // polygons are valid areas with coverings
    assert(world.count() == 77, "the camden fixture carries 77 LSOAs")
    assert(world.select("covering").head.getSeq[Long](0).nonEmpty)
  }

  test("LSOA polygons compose with the spatial plane: PIP join finds every interior point") {
    val world = Shapefile.features(spark, shp, "LSOA11CD",
      copyTags = Map("LSOA11NM" -> "name")).cache()
    graft.functions.CellExprs.install(spark)
    // probe with a guaranteed-interior point of every 7th LSOA: each must land
    // in its own polygon through the engine's covering join
    val probes = Shapefile.read(shp).zipWithIndex.collect { case (r, i) if i % 7 == 0 =>
      val ip = r.geom.getInteriorPoint.getCoordinate
      (Shapefile.onsId(r.attrs("LSOA11CD"), 2011), ip.y, ip.x)
    }
    val pts = probes.toDF("point_id", "lat", "lng")
      .withColumn("cell16", graft.functions.CellExprs.cell_of(col("lat"), col("lng"), lit(16)))
    val polys = world.select(col("id.value").as("poly_id"), col("geom"), col("covering"))
    val hit = graft.operators.SpatialJoins.pointInPolygonJoin(pts, polys)
      .where(col("point_id") === col("poly_id"))
    assert(hit.count() == probes.length, s"${hit.count()} of ${probes.length} probes found home")
  }
}
