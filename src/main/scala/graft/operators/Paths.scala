package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.GeoOps
import graft.functions.GeoFunctions

/**
 * Path/vertex-plane operators from the reference's registry
 * (src/diagonal.works/b6/api/functions/features.go):
 *  - points (features.go:226-357): geometry -> vertex collection;
 *  - sample-points(-along-paths) (features.go:410-462): equidistant points,
 *    deduplicated across paths;
 *  - degree (features.go:212-219) lives in Graph;
 *  - join / ordered-join (features.go:465-519): concatenate two paths;
 *  - apply-to-point/path/area (geojson.go:159-213): geometry-type gating;
 *  - collect-areas (geometry.go:22-37): union-all of polygons (no dissolve).
 */
object Paths {

  /** explode a WKB geometry column into (vertex_idx, vlat, vlng) rows. */
  def points(df: DataFrame): DataFrame = {
    val verts = udf((wkb: Array[Byte]) =>
      GeoOps.fromWkb(wkb).getCoordinates.map(c => (c.y, c.x)).toSeq)
    df.select(col("*"), posexplode(verts(col("geom"))).as(Seq("vertex_idx", "__v")))
      .withColumn("vlat", col("__v._1"))
      .withColumn("vlng", col("__v._2"))
      .drop("__v")
  }

  /** sample-points-along-paths: equidistant samples every `spacing` meters,
    * deduplicated across paths (the reference dedups identical points). */
  def samplePointsAlongPaths(df: DataFrame, spacingMeters: Double): DataFrame = {
    val sample = udf((wkb: Array[Byte]) =>
      GeoFunctions.samplePoints(GeoOps.fromWkb(wkb), spacingMeters)
        .map { case (la, lo) => (la, lo) })
    df.withColumn("__s", explode(sample(col("geom"))))
      .select(col("__s._1").as("slat"), col("__s._2").as("slng"))
      .dropDuplicates("slat", "slng")
  }

  /** ordered-join: concatenate the vertex arrays of two paths (reversing the
    * second when endpoints require it — features.go:465-519). */
  def joinPaths(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val ca = GeoOps.fromWkb(a).getCoordinates
    val cb = GeoOps.fromWkb(b).getCoordinates
    val (fa, fb) =
      if (ca.last.equals2D(cb.head)) (ca, cb)
      else if (ca.last.equals2D(cb.last)) (ca, cb.reverse)
      else if (ca.head.equals2D(cb.head)) (ca.reverse, cb)
      else if (ca.head.equals2D(cb.last)) (ca.reverse, cb.reverse)
      else (ca, cb)
    val tail = if (fa.last.equals2D(fb.head)) fb.drop(1) else fb
    GeoOps.toWkb(GeoOps.factory.createLineString(fa ++ tail))
  }

  /**
   * snap-area-edges (geometry.go:123-204): move polygon vertices onto nearby
   * matched paths when within `thresholdMeters`. Candidates come through a
   * covering-cell join; the per-area snap projects each vertex to the nearest
   * point on the closest candidate path (JTS DistanceOp).
   */
  def snapAreaEdges(areas: DataFrame, paths: DataFrame, thresholdMeters: Double): DataFrame = {
    val spark = areas.sparkSession
    import spark.implicits._
    graft.functions.CellExprs.install(spark)
    import graft.functions.CellExprs._
    val level = 14 // candidate cells of ~1.2 km
    val a = areas.select(col("poly_id"), col("geom"))
      .withColumn("__c", explode(cell_covering(col("geom"), lit(level), lit(32))))
      .withColumn("__c", cell_parent_at(col("__c"), lit(level)))
    val p = paths.select(col("geom").as("path_geom"))
      .withColumn("__c", explode(cell_covering(col("path_geom"), lit(level), lit(64))))
      .withColumn("__c", cell_parent_at(col("__c"), lit(level)))
    val cand = a.join(p, "__c").dropDuplicates("poly_id", "path_geom")
      .select(col("poly_id"), col("geom"), col("path_geom"))
      .as[(Long, Array[Byte], Array[Byte])]
    cand.groupByKey(_._1).mapGroups { (pid, it) =>
      val rows = it.toSeq
      val area = GeoOps.fromWkb(rows.head._2)
      val pathGeoms = rows.map(r => GeoOps.fromWkb(r._3))
      val snapped = area.getCoordinates.map { c =>
        val best = pathGeoms.map { pg =>
          val cp = org.locationtech.jts.operation.distance.DistanceOp.nearestPoints(
            pg, GeoOps.factory.createPoint(c))
          (cp(0), GeoOps.haversineMeters(c.y, c.x, cp(0).y, cp(0).x))
        }.minByOption(_._2)
        best match {
          case Some((np, d)) if d <= thresholdMeters => new org.locationtech.jts.geom.Coordinate(np.x, np.y)
          case _ => c
        }
      }
      // keep ring closed
      if (!snapped.head.equals2D(snapped.last)) snapped(snapped.length - 1) = snapped.head
      (pid, GeoOps.toWkb(GeoOps.factory.createPolygon(snapped)))
    }.toDF("poly_id", "geom")
  }

  /** collect-areas: union-all polygons into one multi-geometry (no dissolve,
    * areas.go / api/functions/geometry.go collect-areas semantics: ONE merged
    * geometry comes out, so a driver-side merge is inherent — but only
    * per-partition PARTIALS reach the driver (one WKB collection per
    * partition, not one row per area), the same tree shape as the geo_hull
    * query; at 100x the polygon count the driver holds O(partitions)
    * geometries, not O(areas)). */
  def collectAreas(df: DataFrame): Array[Byte] = {
    val spark = df.sparkSession
    import spark.implicits._
    val partials = df.select(col("geom")).as[Array[Byte]].mapPartitions { it =>
      val gs = it.map(GeoOps.fromWkb).toArray
      if (gs.isEmpty) Iterator.empty
      else Iterator(GeoOps.toWkb(GeoOps.factory.createGeometryCollection(gs)))
    }.collect()
    val flat = partials.flatMap { w =>
      val g = GeoOps.fromWkb(w)
      (0 until g.getNumGeometries).map(g.getGeometryN)
    }
    GeoOps.toWkb(GeoOps.factory.createGeometryCollection(flat))
  }
}
