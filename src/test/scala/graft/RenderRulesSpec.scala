package graft

import graft.core.GeoOps
import graft.render.{Mvt, RenderRules}
import graft.sources.OsmWorld
import org.apache.spark.sql.functions._

/** Zoom rule table + simplification vs the reference's basemap renderer
  * (renderer/renderer.go:171-209, encoder.go:77-105, simplify.go). */
class RenderRulesSpec extends SparkSuite {

  lazy val pbf = RefData("granary-square.osm.pbf")
  lazy val world = OsmWorld.features(spark, pbf).cache()

  /** Wire-decode just the layer names and per-layer feature counts. */
  def decodeLayers(bytes: Array[Byte]): Seq[(String, Int)] = {
    val out = Seq.newBuilder[(String, Int)]
    var pos = 0
    def varint(b: Array[Byte]): Long = {
      var shift = 0; var v = 0L; var x = 0
      do { x = b(pos); pos += 1; v |= (x & 0x7fL) << shift; shift += 7 } while ((x & 0x80) != 0)
      v
    }
    while (pos < bytes.length) {
      val key = varint(bytes)
      assert((key >>> 3) == 3 && (key & 7) == 2)
      val len = varint(bytes).toInt
      val end = pos + len
      var name = ""; var nFeatures = 0
      while (pos < end) {
        val k2 = varint(bytes)
        (k2 >>> 3).toInt match {
          case 1 => val l = varint(bytes).toInt; name = new String(bytes, pos, l, "UTF-8"); pos += l
          case 2 => val l = varint(bytes).toInt; pos += l; nFeatures += 1
          case _ => (k2 & 7).toInt match {
            case 0 => varint(bytes)
            case 2 => val l = varint(bytes).toInt; pos += l
            case 5 => pos += 4
            case 1 => pos += 8
          }
        }
      }
      out += ((name, nFeatures))
    }
    out.result()
  }

  test("layer assignment is first-match over the full rule table") {
    import spark.implicits._
    val df = Seq(
      Map("#building" -> "train_station"),
      Map("#leisure" -> "park"),
      Map("#place" -> "city"),
      Map("#waterway" -> "canal"),
    ).toDF("tags").select(RenderRules.layerColumn(col("tags")).as("layer"))
    assert(df.as[String].collect().toSeq == Seq("building", "landuse", "label", "water"))
  }

  test("zoom gate: fewer features render at z8 than z14 (rule min zooms)") {
    val z8 = world.where(RenderRules.zoomPredicate(8, col("tags"))).count()
    val z14 = world.where(RenderRules.zoomPredicate(14, col("tags"))).count()
    assert(z8 < z14, s"z8=$z8 z14=$z14")
    assert(z8 > 0, "canal/rail/trunk features exist in granary at z8")
  }

  test("basemapTiles: layers decode in enum order with rule-filtered membership") {
    val tiles14 = RenderRules.basemapTiles(world, 14).collect()
    assert(tiles14.nonEmpty)
    val rank = RenderRules.layerOrder.zipWithIndex.toMap
    var sawBuilding = false
    tiles14.foreach { row =>
      val layers = decodeLayers(row.getAs[Array[Byte]]("mvt"))
      val ranks = layers.map(l => rank(l._1)) // every layer must be a basemap layer
      assert(ranks == ranks.sorted, s"layer order violated: ${layers.map(_._1)}")
      if (layers.exists(_._1 == "building")) sawBuilding = true
    }
    assert(sawBuilding, "granary has buildings at z14")
    // footway roads (min zoom 14) must NOT appear at z12, but landuse does
    val all12 = RenderRules.basemapTiles(world, 12).collect()
      .flatMap(r => decodeLayers(r.getAs[Array[Byte]]("mvt"))).groupBy(_._1)
    val all14 = tiles14
      .flatMap(r => decodeLayers(r.getAs[Array[Byte]]("mvt"))).groupBy(_._1)
    val roads12 = all12.getOrElse("road", Array.empty).map(_._2).sum
    val roads14 = all14.getOrElse("road", Array.empty).map(_._2).sum
    assert(roads14 > roads12, s"footway/path roads appear only at z14: z12=$roads12 z14=$roads14")
  }

  test("Douglas-Peucker simplification: long rings shrink, short rings don't") {
    // a 1500-point near-circle: DP at 5 tile units keeps a small subset
    val n = 1500
    val ring = (0 until n).map { i =>
      val a = 2 * math.Pi * i / n
      new org.locationtech.jts.geom.Coordinate(-0.125 + 0.01 * math.cos(a), 51.535 + 0.006 * math.sin(a))
    } :+ new org.locationtech.jts.geom.Coordinate(-0.115, 51.535)
    val poly = GeoOps.factory.createPolygon(ring.toArray)
    val z = 12
    val tx = GeoOps.tileX(-0.125, z); val ty = GeoOps.tileY(51.535, z)
    val (gtype, cmds) = Mvt.geometryCommands(poly, z, tx, ty)
    assert(gtype == 3)
    // MoveTo(1)+pair + LineTo header + 2 per vertex + ClosePath
    val vertices = (cmds.length - 4) / 2 + 1
    assert(vertices < n / 2, s"ring must simplify: $vertices of $n")
    assert(vertices >= 3, "still a ring")
    // endpoints preserved exactly by DP
    val small = Array((0.0, 0.0), (10.0, 0.1), (20.0, 0.0))
    assert(Mvt.douglasPeucker(small, 5.0).toSeq == Seq((0.0, 0.0), (20.0, 0.0)))
    assert(Mvt.douglasPeucker(small, 0.05).length == 3)
  }
}
