package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Coordinate
import graft.core.GeoOps
import graft.functions.GeoFunctions

/**
 * entrance-approach (src/diagonal.works/b6/api/functions/sightline.go:801-855):
 * the point 4 m along a #highway way leaving one of an area's entrances, used
 * as the "where you actually stand" proxy for a building. Candidate points are
 * the area boundary's entrance-tagged vertices, falling back to ALL boundary
 * vertices when none are tagged (possibleEntraces :823-843); the first
 * approach point that lands OUTSIDE the area wins (pointApproach :803-821;
 * segments shorter than 4 m use their midpoint).
 *
 * The reference walks Traverse() segments (entrance -> next graph vertex);
 * here the walk follows the referencing way's vertex chain from the entrance
 * to the way end — identical whenever the next graph vertex is >= 4 m out.
 * One area is driver-scale work, like the reference's per-area evaluation;
 * the data access goes through the references table (Relations plane).
 */
object Entrances {

  val ApproachDistanceMeters = 4.0

  def entranceApproach(world: DataFrame, refs: DataFrame, areaWayId: Long): Option[(Double, Double)] = {
    val spark = world.sparkSession
    import spark.implicits._
    val areaWkb = world.where(col("id.ftype") === "area" && col("id.value") === areaWayId)
      .select("geom").as[Array[Byte]].collect()
    if (areaWkb.isEmpty) return None
    val area = GeoOps.prepare(GeoOps.fromWkb(areaWkb(0)))

    // boundary vertices in ring order (the closed way's refs)
    val boundary = refs.where(col("from_type") === "path" && col("from_id") === areaWayId)
      .orderBy("pos").select("to_id").as[Long].collect().distinct
    if (boundary.isEmpty) return None
    val pts = world.where(col("id.ftype") === "point" && col("id.value").isin(boundary: _*))
      .select(col("id.value"), col("tags")).collect()
      .map(r => r.getLong(0) -> r.getAs[Map[String, String]](1)).toMap
    val entrances = boundary.filter(id => pts.get(id).exists(_.contains("entrance")))
    val candidates = if (entrances.nonEmpty) entrances else boundary

    // #highway ways touching any candidate, with the vertex position; sorted
    // (way id, pos) so the first-outside-point-wins rule is deterministic
    // (the reference's Traverse order is graph-iteration order — unspecified)
    val touching = refs.where(col("from_type") === "path" && col("to_id").isin(candidates: _*))
      .select("from_id", "to_id", "pos").as[(Long, Long, Int)].collect()
      .sortBy(t => (t._1, t._3))
    val wayIds = touching.map(_._1).distinct
    if (wayIds.isEmpty) return None
    val ways = world.where(col("id.ftype") === "path" && col("id.value").isin(wayIds: _*) &&
        col("tags").getItem("#highway").isNotNull)
      .select(col("id.value"), col("geom")).collect()
      .map(r => r.getLong(0) -> GeoOps.fromWkb(r.getAs[Array[Byte]](1)).getCoordinates).toMap

    val byPoint = touching.groupBy(_._2)
    candidates.foreach { cand =>
      byPoint.getOrElse(cand, Array.empty).foreach { case (wayId, _, pos) =>
        ways.get(wayId).foreach { coords =>
          // both directions from the entrance vertex along the way
          Seq(coords.drop(pos), coords.take(pos + 1).reverse).foreach { chain =>
            if (chain.length >= 2) {
              approachAlong(chain).foreach { a =>
                if (!area.covers(GeoOps.point(a._1, a._2)))
                  return Some(a)
              }
            }
          }
        }
      }
    }
    None
  }

  /** Point 4 m along a vertex chain (midpoint when shorter). */
  private def approachAlong(chain: Array[Coordinate]): Option[(Double, Double)] = {
    val line = GeoOps.factory.createLineString(chain)
    val lenM = GeoOps.wkbLengthMeters(GeoOps.toWkb(line))
    if (lenM <= 0.0) None
    else {
      val frac = if (lenM > ApproachDistanceMeters) ApproachDistanceMeters / lenM else 0.5
      Some(GeoFunctions.interpolate(line, frac))
    }
  }
}
