package graft

import graft.operators.Changes
import graft.render.Renderers
import graft.render.Renderers.{DefaultWorldId, WorldId, World, WorldRegistry}
import org.apache.spark.sql.functions._

/**
 * Named worlds + per-tile query/collection renderers vs the reference's
 * serving surface (ingest/worlds.go, renderer/query.go:14-120,
 * renderer/collection.go, renderer/handler.go).
 */
class RenderersSpec extends SparkSuite {
  import spark.implicits._

  private def emptyRefs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    org.apache.spark.sql.types.StructType.fromDDL(
      "from_type string, from_id long, to_type string, to_id long, role string, pos int"))

  private def emptyItems = Seq.empty[Changes.ItemAdd].toDF()

  private def baseWorld = {
    val pbf = RefData("granary-square.osm.pbf")
    World(graft.sources.OsmWorld.features(spark, pbf).cache(), emptyRefs, emptyItems)
  }

  // ---- minimal MVT wire walker: count features in a named layer ---------------
  private def countFeatures(mvt: Array[Byte]): Int = {
    var i = 0
    var features = 0
    def varint(): Long = {
      var v = 0L; var shift = 0
      while ({ val b = mvt(i); i += 1; v |= (b & 0x7fL) << shift; shift += 7; (b & 0x80) != 0 }) ()
      v
    }
    // NB `i += varint()` would read the OLD i before varint()'s side effect
    def skipLen(): Unit = { val len = varint().toInt; i += len }
    while (i < mvt.length) {
      val key = varint(); val field = (key >> 3).toInt; val wire = (key & 7).toInt
      if (field == 3 && wire == 2) { // layer
        val len = varint().toInt
        val end = i + len
        while (i < end) {
          val k2 = varint(); val f2 = (k2 >> 3).toInt; val w2 = (k2 & 7).toInt
          if (f2 == 2 && w2 == 2) { features += 1; skipLen() }
          else if (w2 == 2) skipLen()
          else if (w2 == 5) i += 4
          else if (w2 == 1) i += 8
          else varint()
        }
      } else if (wire == 2) skipLen()
      else if (wire == 5) i += 4
      else if (wire == 1) i += 8
      else varint()
    }
    features
  }

  test("worlds registry: a named scenario overlays the base without touching it (ingest/worlds.go)") {
    val reg = new WorldRegistry(spark, baseWorld)
    val scenario = WorldId("collection", "graft/scenario", 1L)
    // change a building's amenity in the scenario world only
    val anyBuilding = reg.findOrCreate(DefaultWorldId).features
      .where(col("tags").getItem("#building").isNotNull).select("id.ftype", "id.ns", "id.value").head
    reg.applyChange(scenario, Changes.tagChange(
      anyBuilding.getString(0), anyBuilding.getString(1), anyBuilding.getLong(2),
      "#amenity", Some("test-cafe")))
    def amenityCount(id: WorldId) = reg.findOrCreate(id).features
      .where(col("tags").getItem("#amenity") === "test-cafe").count()
    assert(amenityCount(scenario) == 1L)
    assert(amenityCount(DefaultWorldId) == 0L, "base world must stay untouched")
    assert(reg.listWorlds.toSet.contains(scenario))
    reg.deleteWorld(scenario)
    assert(!reg.listWorlds.toSet.contains(scenario))
  }

  test("queryTiles renders the query layer with rule tags; single-tile fetch matches") {
    val reg = new WorldRegistry(spark, baseWorld)
    val tiles = Renderers.queryTiles(reg, DefaultWorldId, 16, "[#building]")
      .orderBy("x", "y").collect()
    assert(tiles.nonEmpty)
    val t = tiles.map(r => (r.getAs[Long]("x"), r.getAs[Long]("y"),
      r.getAs[Array[Byte]]("mvt"))).maxBy(_._3.length)
    assert(countFeatures(t._3) > 0)
    // the single-tile path returns the identical bytes
    val one = Renderers.queryTile(reg, DefaultWorldId, 16, t._1, t._2, "[#building]")
    assert(java.util.Arrays.equals(one, t._3))
  }

  test("queryTiles caps at 10k features per tile (renderer/query.go:36,112-114)") {
    // 12k synthetic point features in ONE zoom-14 tile
    graft.functions.CellExprs.install(spark)
    val wkbPoint = udf((lat: Double, lng: Double) =>
      graft.core.GeoOps.toWkb(graft.core.GeoOps.point(lat, lng)))
    val many = spark.range(12000).select(
      struct(lit("point").as("ftype"), lit("graft/cap").as("ns"), col("id").as("value")).as("id"),
      map(lit("#amenity"), lit("bench")).as("tags"),
      (lit(51.53530) + col("id") / 1e9).as("lat"), lit(-0.12580).as("lng"))
      .withColumn("geom", wkbPoint(col("lat"), col("lng")))
      .withColumn("cell16", graft.functions.CellExprs.cell_of(col("lat"), col("lng"), lit(16)))
      .withColumn("covering", graft.functions.CellExprs.cell_covering(col("geom"), lit(16), lit(5)))
    val reg = new WorldRegistry(spark, World(many, emptyRefs, emptyItems))
    val tiles = Renderers.queryTiles(reg, DefaultWorldId, 14, "[#amenity=bench]").collect()
    assert(tiles.nonEmpty)
    val counts = tiles.map(r => countFeatures(r.getAs[Array[Byte]]("mvt")))
    assert(counts.max == Renderers.MaxFeaturesPerTile,
      s"expected the hot tile capped at 10000, got ${counts.toSeq}")
  }

  test("renderCapped: low-zoom tiles never funnel through one task (salted two-stage cap)") {
    // z=2: ONE tile covers the whole fixture region. The r3 implementation
    // ranked all of a tile's features in a single Window task; the two-stage
    // cap must rank (tile, salt) groups first and only then the bounded
    // survivors (reference cap is a streaming counter, renderer/query.go:112-114).
    graft.functions.CellExprs.install(spark)
    val wkbPoint = udf((lat: Double, lng: Double) =>
      graft.core.GeoOps.toWkb(graft.core.GeoOps.point(lat, lng)))
    val many = spark.range(100000).select(
      struct(lit("point").as("ftype"), lit("graft/cap").as("ns"), col("id").as("value")).as("id"),
      map(lit("#amenity"), lit("bench")).as("tags"),
      (lit(51.5) + col("id") / 1e7).as("lat"), (lit(-0.2) + col("id") / 1e7).as("lng"))
      .withColumn("geom", wkbPoint(col("lat"), col("lng")))
      .withColumn("cell16", graft.functions.CellExprs.cell_of(col("lat"), col("lng"), lit(16)))
      .withColumn("covering", graft.functions.CellExprs.cell_covering(col("geom"), lit(16), lit(5)))
    val reg = new WorldRegistry(spark, World(many, emptyRefs, emptyItems))
    val df = Renderers.queryTiles(reg, DefaultWorldId, 2, "[#amenity=bench]")
    // structural guarantee: a Window clustered by (__tile, __salt) feeds the
    // per-tile rank, so no Window partitioned by the tile alone ever sees an
    // uncapped tile
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec.map(_.toString)
    }
    assert(windows.exists(ps => ps.exists(_.contains("__tile")) && ps.exists(_.contains("__salt"))),
      s"expected a (tile, salt) pre-rank window, got $windows")
    val tiles = df.collect()
    assert(tiles.nonEmpty)
    val counts = tiles.map(r => countFeatures(r.getAs[Array[Byte]]("mvt")))
    assert(counts.max == Renderers.MaxFeaturesPerTile,
      s"expected the z2 tile capped at 10000, got ${counts.toSeq}")
  }

  test("a feature spanning several tiles renders once per tile (no re-explode duplication)") {
    graft.functions.CellExprs.install(spark)
    // one polygon straddling a z14 tile boundary -> covers >= 2 tiles
    val wkb = graft.core.GeoOps.toWkb(graft.core.GeoOps.fromWkt(
      "POLYGON ((-0.14 51.50, -0.08 51.50, -0.08 51.54, -0.14 51.54, -0.14 51.50))"))
    val one = spark.range(1).select(
      struct(lit("area").as("ftype"), lit("graft/dup").as("ns"), col("id").as("value")).as("id"),
      map(lit("#amenity"), lit("park")).as("tags"),
      lit(51.52).as("lat"), lit(-0.11).as("lng"))
      .withColumn("geom", lit(wkb))
      .withColumn("cell16", graft.functions.CellExprs.cell_of(col("lat"), col("lng"), lit(16)))
      .withColumn("covering", graft.functions.CellExprs.cell_covering(col("geom"), lit(16), lit(64)))
    val reg = new WorldRegistry(spark, World(one, emptyRefs, emptyItems))
    val tiles = Renderers.queryTiles(reg, DefaultWorldId, 14, "[#amenity=park]").collect()
    assert(tiles.length >= 2, "polygon should cover several z14 tiles")
    tiles.foreach { r =>
      assert(countFeatures(r.getAs[Array[Byte]]("mvt")) == 1,
        s"tile (${r.getAs[Long]("x")},${r.getAs[Long]("y")}) duplicated the feature")
    }
  }

  test("queryTiles evaluates the per-feature value expression into the v attribute") {
    val reg = new WorldRegistry(spark, baseWorld)
    val tiles = Renderers.queryTiles(reg, DefaultWorldId, 16,
      "[#amenity=bicycle_parking]", valueExpr = Some("{f -> get f \"capacity\"}"))
      .collect()
    assert(tiles.nonEmpty) // wire-level tag assertions are covered by RenderSpec
  }

  test("HTTP tile handler serves /tiles/z/x/y.mvt (renderer/handler.go)") {
    val reg = new WorldRegistry(spark, baseWorld)
    val nonEmptyTile = Renderers.queryTiles(reg, DefaultWorldId, 16, "[#building]")
      .orderBy(length(col("mvt")).desc).head
    val server = Renderers.serveTiles(reg)
    try {
      val port = server.getAddress.getPort
      val z = nonEmptyTile.getAs[Int]("z"); val x = nonEmptyTile.getAs[Long]("x")
      val y = nonEmptyTile.getAs[Long]("y")
      val url = new java.net.URL(
        s"http://127.0.0.1:$port/tiles/$z/$x/$y.mvt?q=%5B%23building%5D")
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val bytes = conn.getInputStream.readAllBytes()
      assert(conn.getResponseCode == 200)
      assert(java.util.Arrays.equals(bytes, nonEmptyTile.getAs[Array[Byte]]("mvt")))
    } finally server.stop(0)
  }

  // ---- the tile door over the fixture-free sf world ------------------------------

  private lazy val sfReg = ServingWorld.registry(spark, ServingWorld.sf(spark, sf001).cache())

  /** The fullest z14 `[#amenity=cafe]` tile of the sf world: (x, y, mvt). */
  private lazy val cafeTile = {
    val t = Renderers.queryTiles(sfReg, DefaultWorldId, 14, "[#amenity=cafe]")
      .orderBy(length(col("mvt")).desc).head
    (t.getAs[Long]("x"), t.getAs[Long]("y"), t.getAs[Array[Byte]]("mvt"))
  }

  private def withTileServer[A](f: Int => A): A = {
    val server = Renderers.serveTiles(sfReg)
    try f(server.getAddress.getPort) finally server.stop(0)
  }

  test("sf world: /tiles answers 200 with the tile's bytes, 204 for an empty tile, 400 for a bad path") {
    val (x, y, mvt) = cafeTile
    withTileServer { port =>
      val (status, bytes) = ServingWorld.http(port, s"/tiles/14/$x/$y.mvt?q=%5B%23amenity%3Dcafe%5D")
      assert(status == 200 && java.util.Arrays.equals(bytes, mvt))
      val (emptyStatus, empty) = ServingWorld.http(port, "/tiles/14/0/0.mvt?q=%5B%23amenity%3Dcafe%5D")
      assert(emptyStatus == 204 && empty.isEmpty)
      for (bad <- Seq("/tiles/14/x/y.mvt", "/tiles/14/1.mvt")) {
        val (badStatus, body) = ServingWorld.http(port, bad)
        assert(badStatus == 400 && new String(body, "UTF-8").startsWith("{\"error\":"), s"$bad -> $badStatus")
      }
    }
  }

  test("sf world: a '&' inside the tile query is the shell's AND, not a parameter separator") {
    val (x, y, mvt) = cafeTile
    withTileServer { port =>
      val (status, bytes) = ServingWorld.http(port,
        s"/tiles/14/$x/$y.mvt?q=%5B%23amenity%3Dcafe%20%26%20%23amenity%5D")
      assert(status == 200, new String(bytes, "UTF-8"))
      assert(java.util.Arrays.equals(bytes, mvt))
    }
  }

  test("sf world: queryTile bytes equal queryTiles' row of that tile, for every non-empty tile at z12 and z14") {
    import graft.core.GeoOps
    // one added cafe area straddling a z12 tile edge (so a z14 edge too)
    val (lat, lng) = (51.53, -0.125)
    val x12 = GeoOps.tileX(lng, 12)
    val edge = x12.toDouble / (1L << 12) * 360.0 - 180.0
    val square = GeoOps.toWkb(GeoOps.fromWkt(
      s"POLYGON ((${edge - 0.003} ${lat - 0.002}, ${edge + 0.003} ${lat - 0.002}, " +
        s"${edge + 0.003} ${lat + 0.002}, ${edge - 0.003} ${lat + 0.002}, ${edge - 0.003} ${lat - 0.002}))"))
    val polys = Seq((900L, square)).toDF("poly_id", "geom")
      .withColumn("covering", graft.functions.CellExprs.cell_covering(col("geom"), lit(16), lit(5)))
    val world = ServingWorld.withAreas(ServingWorld.sf(spark, sf001), polys,
      Map("#amenity" -> "cafe", "name" -> "edge")).cache()
    val reg = ServingWorld.registry(spark, world)
    try {
      for (z <- Seq(12, 14)) {
        val tiles = Renderers.queryTiles(reg, DefaultWorldId, z, "[#amenity=cafe]").collect()
          .map(t => ((t.getAs[Long]("x"), t.getAs[Long]("y")), t.getAs[Array[Byte]]("mvt"))).toMap
        val (ex, ey) = (GeoOps.tileX(edge, z), GeoOps.tileY(lat, z))
        assert(tiles.contains((ex - 1, ey)) && tiles.contains((ex, ey)), s"z$z edge tiles")
        tiles.foreach { case ((x, y), mvt) =>
          val one = Renderers.queryTile(reg, DefaultWorldId, z, x, y, "[#amenity=cafe]")
          assert(java.util.Arrays.equals(one, mvt), s"z$z tile $x/$y")
        }
        assert(Renderers.queryTile(reg, DefaultWorldId, z, 0, 0, "[#amenity=cafe]").isEmpty)
      }
    } finally world.unpersist()
  }
}
