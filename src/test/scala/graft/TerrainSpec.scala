package graft

import graft.sources.Terrain

/** Terrain ingest: ESRI ASCII grid parsing, spot transform, and the incline
  * annotation (cmd/b6-ingest-terrain, graph/graph.go:161-212). */
class TerrainSpec extends SparkSuite {
  import spark.implicits._

  def writeAsc(): String = {
    val dir = java.nio.file.Files.createTempDirectory("terrain")
    // 3x2 grid over central London eastings/northings, 50m cells, one NODATA
    java.nio.file.Files.writeString(dir.resolve("dem.asc"),
      """ncols 3
        |nrows 2
        |xllcorner 529000
        |yllcorner 181000
        |cellsize 50
        |NODATA_value -9999
        |10 20 30
        |5 -9999 25
        |""".stripMargin)
    dir.resolve("dem.asc").toString
  }

  test("ASCII grid parses cell centers, north row first, NODATA dropped") {
    val grid = Terrain.readAsciiGrid(writeAsc())
    assert(grid.length == 5, "one NODATA cell dropped")
    // north-west cell: value 10 at center (529025, 181075)
    val nw = grid.find(_._3 == 10.0).get
    assert(nw._1 == 529025.0 && nw._2 == 181075.0)
    // south-west cell: value 5 at (529025, 181025)
    val sw = grid.find(_._3 == 5.0).get
    assert(sw._2 == 181025.0)
  }

  test("spots transform to WGS84 London coordinates") {
    val s = Terrain.spots(spark, writeAsc())
    val rows = s.collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getDouble(0) > 51.4 && r.getDouble(0) < 51.7)
      assert(r.getDouble(1) > -0.3 && r.getDouble(1) < 0.0)
    }
  }

  test("climbForEdges adds positive gain only") {
    val s = Terrain.spots(spark, writeAsc())
    // two nodes near the west (low ~5-10m) and east (high ~25-30m) cells
    val west = graft.sources.GbCodePoint.wgs84FromGrid(529025, 181050)
    val east = graft.sources.GbCodePoint.wgs84FromGrid(529125, 181050)
    val nodes = Seq((1L, west._1, west._2), (2L, east._1, east._2)).toDF("node_id", "lat", "lng")
    val edges = Seq((1L, 2L, 100.0), (2L, 1L, 100.0)).toDF("src", "dst", "cost_m")
    val rows = Terrain.climbForEdges(edges, nodes, s, radiusMeters = 60.0)
      .select("src", "climb").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows(1L) > 0.0, "uphill east gains elevation")
    assert(rows(2L) == 0.0, "downhill west is free")
  }
}
