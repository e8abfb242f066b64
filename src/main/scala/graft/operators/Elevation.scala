package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.CellExprs._

/**
 * Elevation field: inverse-distance-weighted interpolation of spot heights
 * within a radius, found via the cell index — the reference's ElevationField
 * (src/diagonal.works/b6/elevation.go:18-64: sorted-cell array of spots,
 * query = 1/d weighting of spots within radius via covering search).
 *
 * Spark shape: spots carry a level-12 cell; queries explode a neighbor disk
 * large enough to cover `radius`, equi-join on cell, refine by haversine and
 * aggregate sum(e/d)/sum(1/d). Spot tables are usually broadcastable; at
 * terrain scale the equi-join sort-merges on cell with no skew (heights are
 * uniform-grid).
 */
object Elevation {

  /**
   * queries: (qid, lat, lng); spots: (slat, slng, elevation).
   * Returns (qid, elevation) — IDW over spots within radiusMeters; queries with
   * no spot in range are absent (the reference returns an error for those).
   */
  def elevationAt(queries: DataFrame, spots: DataFrame, radiusMeters: Double): DataFrame = {
    val level = 12
    val metersPerDegLat = math.Pi * graft.core.GeoOps.EarthRadiusMeters / 180.0
    val cellLatMeters = 180.0 / (1L << level).toDouble * metersPerDegLat
    // disk radius in cells: ceil(radius / min-cell-dimension) + 1 for safety;
    // lng cells shrink by cos(lat) so use the lat dimension (smaller count is
    // unsafe, larger is just more candidates)
    val ring = math.ceil(radiusMeters / (cellLatMeters * 0.5)).toInt + 1

    val s = spots.withColumn("__cell", cell_of(col("slat"), col("slng"), lit(level)))
    val q = queries.withColumn("__qcell", explode(cell_neighbor_disk(
      cell_of(col("lat"), col("lng"), lit(level)), lit(ring))))
    q.join(s, col("__qcell") === col("__cell"))
      .withColumn("__d", haversine_m(col("lat"), col("lng"), col("slat"), col("slng")))
      .where(col("__d") < radiusMeters)
      .withColumn("__w", lit(1.0) / greatest(col("__d"), lit(0.001)))
      .groupBy(col("qid"))
      .agg((sum(col("__w") * col("elevation")) / sum(col("__w"))).as("elevation"))
  }
}
