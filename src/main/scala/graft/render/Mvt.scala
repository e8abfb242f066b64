package graft.render

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom._
import graft.core.GeoOps
import graft.proto.ExprProto.Writer
import graft.operators.Sorted

/**
 * Mapbox Vector Tile encoder — the rendering sink of the reference
 * (src/diagonal.works/b6/renderer/encoder.go:16-60: Mercator projection to a
 * 4096-unit tile grid, zigzag deltas, MoveTo/LineTo/ClosePath commands per
 * MVT spec 2.1; feature ordering by layer then id, renderer/renderer.go:18-37;
 * 10_000 features/tile cap, renderer/query.go:36).
 *
 * Spark shape: tile assignment explodes (feature, tile) pairs; encoding is a
 * per-tile mapGroups producing one binary tile — embarrassingly parallel,
 * shuffling only the features that intersect each tile.
 */
object Mvt {

  val Extent = 4096
  val MaxFeaturesPerTile = 10000
  /** Rings longer than this simplify before encoding (encoder.go:82). */
  val SimplifyThreshold = 1000
  /** Douglas-Peucker tolerance in tile units (encoder.go:83). */
  val SimplifyEpsilon = 5.0

  /** Perpendicular distance from p to the line through a-b (simplify.go:41-46);
    * degenerates to point distance when a == b. */
  private def perpDistance(ax: Double, ay: Double, bx: Double, by: Double,
                           px: Double, py: Double): Double = {
    val dx = bx - ax; val dy = by - ay
    val n = math.hypot(dx, dy)
    if (n == 0.0) math.hypot(px - ax, py - ay)
    else math.abs(dy * (px - ax) - dx * (py - ay)) / n
  }

  /** Iterative Douglas-Peucker (simplify.go:73-110's explicit-stack form).
    * Keeps endpoints; exact for chains under the tolerance. */
  def douglasPeucker(pts: Array[(Double, Double)], epsilon: Double): Array[(Double, Double)] = {
    if (pts.length <= 2) return pts
    val keep = new Array[Boolean](pts.length)
    keep(0) = true; keep(pts.length - 1) = true
    val stack = scala.collection.mutable.Stack((0, pts.length - 1))
    while (stack.nonEmpty) {
      val (b, e) = stack.pop()
      if (e - b >= 2) {
        var maxD = 0.0; var maxI = -1
        val (ax, ay) = pts(b); val (ex, ey) = pts(e)
        var i = b + 1
        while (i < e) {
          val d = perpDistance(ax, ay, ex, ey, pts(i)._1, pts(i)._2)
          if (d > maxD) { maxD = d; maxI = i }
          i += 1
        }
        if (maxD > epsilon) {
          keep(maxI) = true
          stack.push((b, maxI)); stack.push((maxI, e))
        }
      }
    }
    pts.indices.collect { case i if keep(i) => pts(i) }.toArray
  }

  @inline def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)

  /** Mercator world fraction [0,1) of a lng/lat. */
  def worldX(lng: Double): Double = (lng + 180.0) / 360.0
  def worldY(lat: Double): Double = {
    val latR = math.toRadians(lat)
    (1.0 - math.log(math.tan(latR) + 1.0 / math.cos(latR)) / math.Pi) / 2.0
  }

  /** Geometry commands for a JTS geometry in tile-local coords. Polygon rings
    * beyond SimplifyThreshold points are Douglas-Peucker-simplified in tile
    * units before encoding (≙ encoder.go:77-105). */
  def geometryCommands(g: Geometry, z: Int, tx: Long, ty: Long): (Int, Seq[Long]) = {
    def encodeLine(cs: Array[Coordinate], close: Boolean): Seq[Long] = {
      val n = (1L << z).toDouble
      var raw = cs.map(c => ((worldX(c.x) * n - tx) * Extent, (worldY(c.y) * n - ty) * Extent))
      if (close && raw.length > SimplifyThreshold) raw = douglasPeucker(raw, SimplifyEpsilon)
      val pts = raw.map(p => (math.round(p._1), math.round(p._2)))
      val unique = if (close) pts.dropRight(1) else pts
      if (unique.isEmpty) return Nil
      val out = Seq.newBuilder[Long]
      out += ((1L) | (1L << 3)) // MoveTo count 1
      var (cx, cy) = (0L, 0L)
      out += zigzag(unique(0)._1 - cx); out += zigzag(unique(0)._2 - cy)
      cx = unique(0)._1; cy = unique(0)._2
      if (unique.length > 1) {
        out += (2L | ((unique.length - 1).toLong << 3)) // LineTo count n-1
        unique.drop(1).foreach { case (x, y) =>
          out += zigzag(x - cx); out += zigzag(y - cy); cx = x; cy = y
        }
      }
      if (close) out += (7L | (1L << 3)) // ClosePath, count 1
      out.result()
    }
    // MVT 2.1 requires exteriors with POSITIVE surveyor's-formula area in
    // y-DOWN tile coords (visually clockwise); the reference relies on S2's
    // canonical loop orientation for this (renderer/encoder.go:90-93). JTS
    // stores whatever the source had, so normalise in lon/lat: the worldY
    // flip negates the shoelace sign, so exteriors must be CW in lon/lat
    // (negative lon/lat shoelace) and interiors CCW.
    def oriented(cs: Array[Coordinate], wantCcwLonLat: Boolean): Array[Coordinate] =
      if (org.locationtech.jts.algorithm.Orientation.isCCW(cs) == wantCcwLonLat) cs
      else cs.reverse
    def polygonCmds(p: Polygon): Seq[Long] =
      encodeLine(oriented(p.getExteriorRing.getCoordinates, wantCcwLonLat = false), close = true) ++
        (0 until p.getNumInteriorRing).flatMap(i =>
          encodeLine(oriented(p.getInteriorRingN(i).getCoordinates, wantCcwLonLat = true), close = true))
    g match {
      case p: Point =>
        (1, encodeLine(Array(p.getCoordinate), close = false))
      case l: LineString =>
        (2, encodeLine(l.getCoordinates, close = false))
      case p: Polygon =>
        (3, polygonCmds(p))
      case mp: MultiPolygon =>
        val polys = (0 until mp.getNumGeometries).map(mp.getGeometryN(_).asInstanceOf[Polygon])
        (3, polys.flatMap(polygonCmds))
      case other =>
        (1, encodeLine(Array(other.getCentroid.getCoordinate), close = false))
    }
  }

  case class TileFeature(fid: Long, layer: String, wkbGeom: Array[Byte],
                         tags: Map[String, String], sortRank: Int = 0)

  /** Encode one tile's features as an MVT binary. Features are sorted by
    * (sortRank ≙ the 'layer' OSM tag, id) within each layer
    * (renderer.go:18-37 byLayerThenID) and capped at MaxFeaturesPerTile;
    * layers are emitted in `layerRank` order (the basemap enum order,
    * renderer.go:41-55), unranked layers alphabetically after. */
  def encodeTile(z: Int, tx: Long, ty: Long, features: Seq[TileFeature],
                 layerRank: Map[String, Int] = Map.empty): Array[Byte] = {
    val tile = new Writer
    features.groupBy(_.layer).toSeq
      .sortBy { case (name, _) => (layerRank.getOrElse(name, Int.MaxValue), name) }
      .foreach { case (layerName, fs) =>
      val sorted = fs.sortBy(f => (f.sortRank, f.fid)).take(MaxFeaturesPerTile)
      val keys = scala.collection.mutable.LinkedHashMap[String, Int]()
      val values = scala.collection.mutable.LinkedHashMap[String, Int]()
      val layer = new Writer
      layer.uint(15, 2) // version
      layer.string(1, layerName)
      sorted.foreach { f =>
        val geom = GeoOps.fromWkb(f.wkbGeom)
        val (gtype, cmds) = geometryCommands(geom, z, tx, ty)
        if (cmds.nonEmpty) {
          val fw = new Writer
          fw.uint(1, f.fid)
          val tagIdx = f.tags.toSeq.sortBy(_._1).flatMap { case (k, v) =>
            val ki = keys.getOrElseUpdate(k, keys.size)
            val vi = values.getOrElseUpdate(v, values.size)
            Seq(ki.toLong, vi.toLong)
          }
          fw.packed(2, tagIdx)
          fw.uint(3, gtype)
          fw.packed(4, cmds)
          layer.bytes(2, fw.result)
        }
      }
      keys.keys.foreach(k => layer.string(3, k))
      values.keys.foreach { v =>
        val vw = new Writer
        vw.string(1, v) // string_value
        layer.bytes(4, vw.result)
      }
      layer.uint(5, Extent)
      tile.bytes(3, layer.result)
    }
    tile.result
  }

  /**
   * Render features (id, layer, geom wkb, tags map, tile cover at zoom) into
   * binary MVT tiles: one row per (z, x, y, bytes).
   */
  def renderTiles(features: DataFrame, zoom: Int, tagsCol: String = "tags",
                  sortRankCol: Option[String] = None,
                  layerOrder: Seq[String] = Nil,
                  tileCol: Option[String] = None): DataFrame = {
    val spark = features.sparkSession
    import spark.implicits._
    graft.functions.CellExprs.install(spark)
    val rank = layerOrder.zipWithIndex.toMap
    val rankCol = sortRankCol.map(col).getOrElse(lit(0))
    // callers that already exploded the cover (e.g. the capped renderers)
    // pass their tile column; re-exploding pre-assigned rows would duplicate
    // a multi-tile feature inside every tile it covers
    val covered = tileCol.map(tc => features.withColumn("__tile", col(tc)))
      .getOrElse(features.withColumn("__tile",
        explode(graft.functions.CellExprs.tile_cover(col("geom"), lit(zoom)))))
      .select(col("__tile"), col("fid").as("fid"), col("layer").as("layer"),
        col("geom").as("geom"), col(tagsCol).as("tags"), rankCol.cast("int").as("srank"))
    // ONE tile-keyed shuffle + an ordered streaming pass (guide §2.4):
    // hash-repartition on the tile, sort within partitions on
    // (tile, layer, srank, fid), then cap + encode in a single mapPartitions.
    // encodeTile keeps only the first MaxFeaturesPerTile of each (tile,
    // layer) in (srank, fid) order, which is exactly the first cap rows of
    // each (tile, layer) group in this sort — so the kept set (and the
    // encoded bytes, encodeTile canonicalises layer order internally) is
    // identical to the previous two-Window + groupByKey plan, which paid
    // THREE Exchanges (salted local rank, layer rank, groupByKey) where this
    // pays one. Per-task memory stays bounded at cap x #layers features per
    // tile — the same bound the old post-cap mapGroups had — and an uncapped
    // hot tile streams through the sort's spillable buffer, never the heap.
    val np = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("z",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("y",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("mvt",
        org.apache.spark.sql.types.BinaryType, nullable = true)))
    val rankB = rank
    covered
      .repartition(np, col("__tile"))
      .sortWithinPartitions(col("__tile"), col("layer"), col("srank"), col("fid"))
      .mapPartitions { it =>
        Sorted.runs(it)(_.getLong(0)).map { case (tile, rows) =>
          val fs = Sorted.runs(rows)(_.getString(2)).flatMap(_._2.take(MaxFeaturesPerTile))
            .map(r => TileFeature(r.getLong(1), r.getString(2), r.getAs[Array[Byte]](3),
              Option(r.getAs[scala.collection.Map[String, String]](4))
                .map(_.toMap).getOrElse(Map.empty), r.getInt(5)))
            .toSeq
          val (z, tx, ty) = (GeoOps.tileIdZ(tile), GeoOps.tileIdX(tile), GeoOps.tileIdY(tile))
          org.apache.spark.sql.Row(z, tx, ty, encodeTile(z, tx, ty, fs, rankB))
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }
}
