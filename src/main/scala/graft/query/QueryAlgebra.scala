package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.CellExprs

/**
 * The reference's query algebra (src/diagonal.works/b6/search.go + spatial.go)
 * as a sealed ADT compiled to Catalyst `Column` predicates over a features
 * table with columns:
 *   id struct(ftype string, ns string, value long), tags map<string,string>,
 *   lat double, lng double, cell16 long [, geom binary, covering array<long>]
 *
 * Tag-key conventions match b6 (b6/search.go:107-114): '#' keys are indexed
 * key=value, '@' keys by key only — here both live in the `tags` map and the
 * distinction shows up in which predicates the planner will push to the scan
 * (map-key filters prune row groups once hot keys are promoted to columns).
 *
 * Non-spatial queries compile to pure predicates (Catalyst pushes them down);
 * spatial queries compile to covering-join plans via `find`.
 */
sealed trait Query {
  /** Exact post-filter, the analogue of b6's Query.Matches. */
  def toColumn: Column
}

case object All extends Query { def toColumn: Column = lit(true) }
case object Empty extends Query { def toColumn: Column = lit(false) }

case class Tagged(key: String, value: String) extends Query {
  def toColumn: Column = col("tags").getItem(key) === value
}
case class Keyed(key: String) extends Query {
  def toColumn: Column = col("tags").getItem(key).isNotNull
}
case class TypedQ(ftype: String, q: Query) extends Query {
  def toColumn: Column = col("id.ftype") === ftype && q.toColumn
}
case class And(qs: Seq[Query]) extends Query {
  def toColumn: Column = qs.map(_.toColumn).reduce(_ && _)
}
case class Or(qs: Seq[Query]) extends Query {
  def toColumn: Column = qs.map(_.toColumn).reduce(_ || _)
}
case class KeyRange(lo: Long, hi: Long) extends Query {
  def toColumn: Column = col("id.value") >= lo && col("id.value") < hi
}
case class TokenPrefix(key: String, prefix: String) extends Query {
  def toColumn: Column = col("tags").getItem(key).startsWith(prefix)
}
case class IntersectsCap(lat: Double, lng: Double, radiusMeters: Double) extends Query {
  def toColumn: Column = CellExprs.cap_within(col("lat"), col("lng"), lat, lng, radiusMeters)
}
/** Point-in-polygon against a literal WKB geometry (IntersectsPoint inverted:
  * features whose location falls inside the geometry). */
case class IntersectsGeom(wkb: Array[Byte]) extends Query {
  def toColumn: Column = CellExprs.wkb_covers_point(lit(wkb), col("lat"), col("lng"))
}

object QueryPlanner {
  /**
   * b6 `find`: features matching the query. Non-spatial predicates are plain
   * pushdown filters; IntersectsGeom additionally pre-prunes by the covering
   * cells of the geometry before the exact test (the s2:/a2: token rewrite of
   * search/spatial.go:65-83, realised as an ancestor-cell semi-filter).
   */
  /** Ancestor-cell pre-prune: `cell16` has an ancestor in the cover iff it
    * lies in one cover cell's level-16 descendant range (one contiguous id
    * range per cell in the Morton order), so the test is one binary search
    * over the merged ranges. The ranges reach generated code by reference,
    * so every cover shares one compiled class. */
  private def coverPrune(cover: Array[Long]): Column =
    CellExprs.cell_in_ranges(col("cell16"),
      cover.toSeq.map(c => graft.core.Cells.descendantRange(c, 16)))

  def find(features: DataFrame, q: Query): DataFrame = q match {
    case IntersectsGeom(wkb) =>
      val cover = graft.core.GeoOps.coveringWkb(wkb, 16, 8)
      features
        .where(coverPrune(cover))
        .where(q.toColumn)
    case cap @ IntersectsCap(lat, lng, r) =>
      // cap -> 128-gon covering -> ancestor-cell pre-prune (the s2:/a2: token
      // rewrite of search/spatial.go:65-83), exact haversine refine
      val capGeom = graft.functions.GeoFunctions.capPolygon(lat, lng, r)
      val cover = graft.core.GeoOps.covering(capGeom, 16, 8)
      features
        .where(coverPrune(cover))
        .where(cap.toColumn)
    case And(qs) if qs.exists(isSpatial) =>
      val (spatial, rest) = qs.partition(isSpatial)
      val base = if (rest.isEmpty) features else features.where(And(rest).toColumn)
      spatial.foldLeft(base) { (df, s) => find(df, s) }
    case other => features.where(other.toColumn)
  }

  private def isSpatial(q: Query): Boolean = q match {
    case _: IntersectsGeom | _: IntersectsCap => true
    case _ => false
  }
}
