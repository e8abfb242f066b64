package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, Geometry}
import graft.core.GeoOps
import graft.functions.CellExprs

/**
 * Sightline / visibility polygons (src/diagonal.works/b6/api/functions/
 * sightline.go:21-120: visibility from a point within a radius, occluded by
 * #building areas). Like the reference's polar sweep, rays are cast at every
 * occluder VERTEX angle (plus epsilon on each side, so both the corner and
 * the silhouette edge behind it register) in addition to `rays` uniform base
 * angles — the base angles reproduce the reference's 128-gon free-field
 * boundary (s2.RegularLoop(center, radius, 128), sightline.go:102), the
 * vertex angles make occlusion transitions exact at corners instead of
 * quantized to the ray spacing.
 *
 * Spark shape: occluders pair with origins through the level-13 covering-cell join
 * (only buildings within the radius disk are shipped to an origin's task);
 * the per-origin sweep runs in one mapGroups pass.
 */
object Sightline {

  case class SightlineRow(origin_id: Long, visible_wkb: Array[Byte], area_m2: Double)

  def sightlines(origins: DataFrame, occluders: DataFrame, radiusMeters: Double,
                 rays: Int = 256): Dataset[SightlineRow] = {
    val spark = origins.sparkSession
    val level = 13 // origin and occluder cells of ~2.4 km
    import spark.implicits._
    CellExprs.install(spark)
    val metersPerDegLat = math.Pi * GeoOps.EarthRadiusMeters / 180.0
    val cellLatMeters = 180.0 / (1L << level).toDouble * metersPerDegLat
    val ring = math.ceil(radiusMeters / (cellLatMeters * 0.5)).toInt + 1

    val o = origins.select(col("origin_id"), col("lat"), col("lng"))
      .withColumn("__c", explode(CellExprs.cell_neighbor_disk(
        CellExprs.cell_of(col("lat"), col("lng"), lit(level)), lit(ring))))
    val b = occluders.select(col("geom"))
      .withColumn("__c", explode(CellExprs.cell_covering(col("geom"), lit(level), lit(32))))
      .withColumn("__c", CellExprs.cell_parent_at(col("__c"), lit(level)))
    // candidates: (origin, occluder wkb) pairs whose cells collide
    val cand = o.join(b, "__c")
      .select(col("origin_id"), col("lat"), col("lng"), col("geom"))
      .dropDuplicates("origin_id", "geom")
      .as[(Long, Double, Double, Array[Byte])]

    cand.groupByKey(_._1).mapGroups { (oid, it) =>
      val rowsSeq = it.toSeq
      val (lat, lng) = (rowsSeq.head._2, rowsSeq.head._3)
      val geoms = rowsSeq.map(r => GeoOps.fromWkb(r._4))
      val vis = visibilityPolygon(lat, lng, geoms, radiusMeters, rays)
      SightlineRow(oid, GeoOps.toWkb(vis),
        graft.functions.GeoFunctions.areaM2(vis))
    }
  }

  /**
   * The polar sweep's segment-intersection core as a fully ORACLED operator:
   * per (origin, ray) the occlusion parameter t in (0,1] — the fraction of
   * the ray at which the first occluder edge is hit (1.0 = unobstructed),
   * the quantity each visibilityPolygon vertex is built from
   * (sightline.go:21-120's OcclusionPoint). Rays are RATIONAL directions
   * (integer (dx,dy) normalized once on the driver) spanning fixed
   * degree-space radii, and the t/u parameters are the textbook 2x2 cross
   * solve — every arithmetic step is +,-,*,/ over literal doubles, so a
   * DuckDB oracle replays the whole cast bit-exactly (no trig crosses the
   * engine boundary; the trig-angle polygon stays covered by SightlineSpec).
   *
   * origins: (origin_id, px=lng, py=lat); dirs: (ray_idx, ex, ey) — the ray
   * ENDPOINT offsets in degrees; edges: (ax, ay, bx, by) occluder segments
   * in lng/lat. dirs and edges are driver-side: they reach each origin row
   * as array literals, so the cast needs no join, no broadcast and no
   * exchange. Returns (origin_id, ray_idx, occlusion), one row per origin
   * and ray.
   */
  def rayOcclusions(origins: DataFrame, dirs: Seq[(Int, Double, Double)],
                    edges: Seq[(Double, Double, Double, Double)]): DataFrame = {
    // exploding the bare int indices keeps ray_idx non-null
    val i = col("__i")
    origins.select(col("origin_id"), col("px"), col("py"),
        posexplode(typedLit(dirs.map(_._1))).as(Seq("__i", "ray_idx")))
      .select(col("origin_id"), col("ray_idx"), occlusion(col("px"), col("py"),
        typedLit(dirs.map(_._2)).getItem(i), typedLit(dirs.map(_._3)).getItem(i), edges).as("occlusion"))
  }

  /**
   * The visibility polygon over the rational ray fan as a shoelace area in
   * degree²: vertex_i = origin + occlusion_i * dir_i ([[rayOcclusions]]'
   * occlusions), and per origin the terms vx_i*vy_{i+1} − vx_{i+1}*vy_i
   * (i+1 wrapping to the first ray) summed from 0.0 in ray_idx order, times
   * 0.5. Each origin's vertex list is built once, in ray order, on its own
   * row: no self-join and no exchange. Returns (origin_id, area_deg2).
   */
  def fanArea(origins: DataFrame, dirs: Seq[(Int, Double, Double)],
              edges: Seq[(Double, Double, Double, Double)]): DataFrame = {
    val (px, py) = (col("px"), col("py"))
    val vertices = transform(typedLit(dirs.sortBy(_._1)), d => {
      val occ = occlusion(px, py, d("_2"), d("_3"), edges)
      struct((px + occ * d("_2")).as("vx"), (py + occ * d("_3")).as("vy"))
    })
    val v = col("__v")
    val terms = transform(v, (a, i) => {
      val b = v.getItem((i + 1) % dirs.length)
      a("vx") * b("vy") - b("vx") * a("vy")
    })
    origins.select(col("origin_id"), vertices.as("__v"))
      .select(col("origin_id"),
        (aggregate(terms, lit(0.0), (acc, x) => acc + x) * 0.5).as("area_deg2"))
  }

  /** The occlusion of the ray from (px, py) to (px + ex, py + ey): the least
    * t over the edges it crosses, 1.0 when it crosses none. */
  private def occlusion(px: Column, py: Column, ex: Column, ey: Column,
                        edges: Seq[(Double, Double, Double, Double)]): Column =
    coalesce(array_min(transform(typedLit(edges), e => {
      val (ax, ay, bx, by) = (e("_1"), e("_2"), e("_3"), e("_4"))
      val denom0 = ex * (by - ay) - ey * (bx - ax)
      // parallel ray/edge -> NULL denominator (not 0: ANSI mode raises on /0
      // and And does not short-circuit); NULL propagates through t/u and the
      // comparisons, dropping the edge — nullif() mirrors this in the oracle
      val denom = when(denom0 =!= 0.0, denom0)
      val t = ((ax - px) * (by - ay) - (ay - py) * (bx - ax)) / denom
      val u = ((ax - px) * ey - (ay - py) * ex) / denom
      when(t > 0.0 && t <= 1.0 && u >= 0.0 && u <= 1.0, t)
    })), lit(1.0))

  /** 16 rational ray directions as degree-space endpoint offsets: integer
    * (dx,dy) scaled to a fixed (0.006 lng, 0.004 lat) span — driver-computed
    * doubles shared verbatim with the oracle's VALUES literals. */
  val rationalDirections: Seq[(Int, Double, Double)] = {
    val ints = Seq((1, 0), (2, 1), (1, 1), (1, 2), (0, 1), (-1, 2), (-1, 1),
      (-2, 1), (-1, 0), (-2, -1), (-1, -1), (-1, -2), (0, -1), (1, -2), (1, -1), (2, -1))
    ints.zipWithIndex.map { case ((dx, dy), i) =>
      val n = math.sqrt((dx * dx + dy * dy).toDouble)
      (i, dx / n * 0.006, dy / n * 0.004)
    }
  }

  /** Ray-cast visibility polygon around (lat,lng): `rays` uniform angles plus
    * every occluder vertex angle ±ε (the polar-sweep event points). */
  def visibilityPolygon(lat: Double, lng: Double, occluders: Seq[Geometry],
                        radiusMeters: Double, rays: Int): Geometry = {
    val mPerDegLat = math.Pi * GeoOps.EarthRadiusMeters / 180.0
    val mPerDegLng = mPerDegLat * math.cos(math.toRadians(lat))
    val dLat = radiusMeters / mPerDegLat
    val dLng = radiusMeters / mPerDegLng
    val originC = new Coordinate(lng, lat)
    val prepared = occluders.map(GeoOps.prepare)
    val eps = 1e-7
    val vertexAngles = occluders.iterator.flatMap(_.getCoordinates.iterator).flatMap { c =>
      // normalized offsets so the angle matches the (cos a, sin a) ray space
      val ux = (c.x - lng) / dLng
      val uy = (c.y - lat) / dLat
      if (ux * ux + uy * uy <= 1.21) { // within 1.1 * radius, like the sweep boundary
        val a = math.atan2(uy, ux)
        Seq(a - eps, a, a + eps)
      } else Nil
    }.toSeq
    val base = (0 until rays).map(i => 2 * math.Pi * i / rays)
    val angles = (base ++ vertexAngles.map(a => (a % (2 * math.Pi) + 2 * math.Pi) % (2 * math.Pi)))
      .distinct.sorted
    val coords = angles.map { a =>
      val end = new Coordinate(lng + dLng * math.cos(a), lat + dLat * math.sin(a))
      val ray = GeoOps.factory.createLineString(Array(originC, end))
      var best = end
      var bestFrac = 1.0
      occluders.indices.foreach { j =>
        if (prepared(j).intersects(ray)) {
          val inter = occluders(j).intersection(ray)
          val cs = inter.getCoordinates
          cs.foreach { c =>
            val frac = math.max(
              math.abs(c.x - lng) / math.max(math.abs(end.x - lng), 1e-12),
              math.abs(c.y - lat) / math.max(math.abs(end.y - lat), 1e-12))
            if (frac < bestFrac && frac > 1e-9) { bestFrac = frac; best = c }
          }
        }
      }
      best
    }
    GeoOps.factory.createPolygon((coords :+ coords.head).toArray)
  }
}
