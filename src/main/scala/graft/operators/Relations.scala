package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Relations as queryable structure over a `references` table (from_type,
 * from_id, to_type, to_id, role, pos), built by ingest (OsmWorld.references)
 * or synthetically.
 */
object Relations {

  /** Ordered member list of one relation (RelationFeature members,
    * b6/world.go:1077-1087). */
  def members(refs: DataFrame, relId: Long): DataFrame =
    refs.where(col("from_type") === "relation" && col("from_id") === relId)
      .orderBy("pos")
}
