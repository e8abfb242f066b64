package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.core.{Cells, GeoOps}
import graft.functions.CellExprs._

/**
 * The north-star spatial operators, Spark-first.
 *
 * Join shape mirrors the reference's spatial index duality
 * (src/diagonal.works/b6/search/spatial.go:65-113): polygon features are keyed
 * by their covering cells; a point's candidate polygons are those whose
 * covering contains one of the point's ancestors. One guarded collect of
 * the exploded polygon covering decides the build side: when it fits on the
 * driver it becomes an [[SpatialJoins.AreaIndex]] that each point probes,
 * per covering level, inside the point scan; a larger one is joined on its
 * cells (one join key per point and level) and left to Catalyst/AQE, which
 * picks broadcast vs sort-merge and splits skewed cells. Either way the
 * refine is exact JTS covers.
 */
object SpatialJoins {

  /**
   * Point-in-polygon join.
   * points: must have (lat, lng, cell16) columns; polygons: (geom wkb, covering).
   * Returns points columns + polygon columns for each containment
   * (boundary-inclusive `covers`, matching the reference's ContainsPoint refine,
   * src/diagonal.works/b6/api/functions/features.go:49-105).
   * A polygon side that fits on the driver is probed through an
   * [[AreaIndex]]; a larger one, or one carrying a join hint, takes
   * [[cellJoin]].
   */
  def pointInPolygonJoin(points: DataFrame, polygons: DataFrame): DataFrame =
    AreaIndex(polygons).fold(cellJoin(points, polygons))(_.join(points))

  /** [[pointInPolygonJoin]] as an equi-join on covering cells: the covering
    * levels come from a distinct over the (<= MaxLevel+1 values) level
    * column, each point emits one join key per level, and Catalyst/AQE picks
    * broadcast vs sort-merge (a caller's hint, e.g. `hint("merge")`,
    * decides it) and splits skewed cells. */
  def cellJoin(points: DataFrame, polygons: DataFrame): DataFrame = {
    graft.functions.CellExprs.install(points.sparkSession)
    val polyCells = polygons.withColumn("__jcell", explode(col("covering")))
    val levels = polyCells.select(cell_level(col("__jcell")).as("l")).distinct().collect()
      .map(_.getInt(0)).sorted
    val keyed = points.withColumn("__jcell",
      explode(array(levels.map(l => cell_parent_at(col("cell16"), lit(l))): _*)))
    keyed.join(polyCells, "__jcell")
      .where(wkb_covers_point(col("geom"), col("lat"), col("lng")))
      .drop("__jcell")
  }

  /** Exploded polygon cells up to which [[AreaIndex]] holds a polygon side
    * on the driver. */
  private val MaxDriverCells = 20000

  /**
   * The small build side of [[pointInPolygonJoin]]: the polygon rows, their
   * covering levels and a covering cell -> polygon ordinals map, in one
   * broadcast variable. Each executor prepares every polygon's locator once.
   * [[join]] probes it inside the point scan: per covering level, a hash
   * lookup of the point's parent cell, then the covers test of each
   * candidate. It needs no exchange and no broadcast job.
   */
  final class AreaIndex private (polygons: StructType, areas: Broadcast[AreaIndex.Areas]) {

    /** The points columns, then the polygon columns, of each containment:
      * one row per (point, matching covering cell, polygon), as the
      * equi-join of [[cellJoin]] gives. The ordinals of a point's polygons
      * are exploded and each polygon column is a lookup by ordinal, so the
      * points stay in Spark's row format and a column nobody selects is
      * never looked up. */
    def join(points: DataFrame): DataFrame = {
      val areas = this.areas
      val within = udf((cell16: Long, lat: Double, lng: Double) => areas.value.containing(cell16, lat, lng))
      val polygonCols = polygons.fields.indices.map { k =>
        val field: UDF1[Int, Any] = i => areas.value.rows(i).get(k)
        udf(field, polygons(k).dataType)(col("__area")).as(polygons(k).name)
      }
      points.withColumn("__area", explode(within(col("cell16"), col("lat"), col("lng"))))
        .select(points.columns.map(points.col) ++ polygonCols: _*)
    }

    /** Drop the executors' copies. A task already holding the index still
      * runs: the driver keeps the value (unlike `destroy`). */
    def unpersist(): Unit = areas.unpersist(false)
  }

  object AreaIndex {

    /** The broadcast value. `cells` maps a covering cell to the ordinals
      * (into `rows`) of the polygons it covers, one entry per covering cell
      * of a polygon. */
    private[SpatialJoins] final class Areas(val rows: Array[Row], geomAt: Int, levels: Array[Int],
        cells: java.util.HashMap[java.lang.Long, Array[Int]]) extends Serializable {

      /** Each polygon's covers test, built on an executor's first use and
        * then shared by its task threads. */
      @transient private lazy val covers: Array[(Double, Double) => Boolean] =
        rows.map(r => if (r.isNullAt(geomAt)) null else GeoOps.pointCovers(r.getAs[Array[Byte]](geomAt)))

      /** The ordinals of the polygons covering the point, or null for none. */
      def containing(cell16: Long, lat: Double, lng: Double): Array[Int] = {
        val c = covers
        var out: Array[Int] = null
        levels.foreach { l =>
          val hit = cells.get(Cells.parentAt(cell16, l))
          if (hit != null) hit.foreach { i =>
            if (c(i) != null && c(i)(lat, lng)) out = if (out == null) Array(i) else out :+ i
          }
        }
        out
      }
    }

    /**
     * The index of `polygons` from one guarded `limit(N + 1).collect()` of
     * their exploded covering cells, or None above [[MaxDriverCells]] cells
     * or when the polygon side carries a join hint (the hint then decides
     * the join). `posexplode` numbers each polygon's cells from 0, and a
     * polygon's cells arrive together (nothing reorders rows between the
     * generator and the collect), so cell 0 starts the next polygon.
     */
    def apply(polygons: DataFrame): Option[AreaIndex] = {
      val hinted = polygons.queryExecution.analyzed.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.ResolvedHint])
      if (hinted) return None
      val n = polygons.schema.length
      val rows = polygons.select(col("*"), posexplode(col("covering")).as(Seq("__jpos", "__jcell")))
        .limit(MaxDriverCells + 1).collect()
      Option.when(rows.length <= MaxDriverCells) {
        val areas = Array.newBuilder[Row]
        var ordinal = -1
        val byCell = new java.util.HashMap[java.lang.Long, Array[Int]]()
        rows.foreach { r =>
          if (r.getInt(n) == 0) { areas += Row.fromSeq(r.toSeq.take(n)); ordinal += 1 }
          byCell.merge(r.getLong(n + 1), Array(ordinal), (a, b) => a ++ b)
        }
        val levels = byCell.keySet.toArray(Array.empty[java.lang.Long]).map(c => Cells.level(c)).distinct.sorted
        new AreaIndex(polygons.schema, polygons.sparkSession.sparkContext.broadcast(
          new Areas(areas.result(), polygons.schema.fieldIndex("geom"), levels, byCell)))
      }
    }
  }

  /**
   * Geometry-intersection join (polyline/polygon features vs polygon query
   * geometries): candidate pairs via covering-cell overlap at a common level,
   * refined by exact JTS intersects — the IntersectsPolygon/IntersectsPolyline
   * semantics of src/diagonal.works/b6/spatial.go:509-711.
   */
  def intersectionJoin(left: DataFrame, right: DataFrame,
                       leftGeom: String, rightGeom: String,
                       level: Int = 12): DataFrame = {
    val l = left.withColumn("__lc", explode(cell_covering(col(leftGeom), lit(level), lit(64))))
      .withColumn("__lc", cell_parent_at(col("__lc"), lit(level) /* normalise */))
    val r = right.withColumn("__rc", explode(cell_covering(col(rightGeom), lit(level), lit(64))))
      .withColumn("__rc", cell_parent_at(col("__rc"), lit(level)))
    l.join(r, col("__lc") === col("__rc"))
      .where(wkb_intersects(col(leftGeom), col(rightGeom)))
      .drop("__lc", "__rc")
      .dropDuplicates()
  }

  /**
   * kNN join: for each site (small side; site_lat, site_lng), the k nearest
   * points (lat, lng, cell16) by haversine.
   * Neighbor-ring expansion (the reference's expanding closest-search,
   * src/diagonal.works/b6/api/functions/graph.go:402-446, geodesic variant):
   * candidates come from grid disks of growing Chebyshev radius around each
   * site at `level`; expansion stops when every site's k-th best distance is
   * provably <= the minimum distance to any cell outside its disk — so results
   * are EXACT, while only a small neighborhood of the big table is scanned.
   */
  /** With `maxDistance` set, neighbors beyond it are not wanted: a site
    * whose disk boundary is already >= maxDistance away settles with
    * whatever it found (possibly fewer than k rows) — anything outside the
    * disk is provably farther than the cap, so the un-found remainder would
    * be filtered by the caller anyway. Cuts the hunt for sites far from any
    * point (e.g. features beyond connect-to-network's threshold) to the
    * first qualifying ring instead of doubling to the grid limit. */
  def knnJoin(points: DataFrame, sites: DataFrame, k: Int, level: Int = 10,
              maxDistance: Option[Double] = None): DataFrame = {
    // Auto-select the execution mode by site count: up to DriverMaxSites the
    // driver-resident active set (broadcast LocalRelation per ring, settled
    // rows on the heap) is fastest; above it, million-site callers
    // (connect-to-network-all over a metro, graph/connectivity.go:39-199)
    // must keep sites distributed — the driver holds only per-ring counts.
    // ONE job decides the mode AND seeds driver mode: collect up to
    // DriverMaxSites + 1 site rows — when the table is small (the common
    // driver-mode case) these rows ARE the active set; the distributed path
    // re-derives from the DataFrame.
    val headRows = sites.limit(DriverMaxSites + 1).collect()
    if (headRows.length <= DriverMaxSites)
      knnJoinDriver(points, sites, headRows, k, level, maxDistance)
    else knnJoinDistributed(points, sites, k, level, maxDistance)
  }

  /** Site count up to which [[knnJoin]] keeps the active set on the driver. */
  private val DriverMaxSites = 50000

  private def knnJoinDriver(points: DataFrame, sites: DataFrame,
              siteRows: Array[org.apache.spark.sql.Row], k: Int, level: Int,
              maxDistance: Option[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = points.sparkSession
    graft.functions.CellExprs.install(spark)
    val metersPerDegLat = math.Pi * GeoOps.EarthRadiusMeters / 180.0
    val degPerCell = 180.0 / (1L << level).toDouble

    val pCellAtLevel = cell_parent_at(col("cell16"), lit(level))
    val pts = points.withColumn("__pc", pCellAtLevel)

    // Ring-loop scale shape — EXACTLY ONE Spark action per ring. Each ring's
    // NEW annulus joins against the big side once and is lazily
    // localCheckpoint()ed; the accumulated candidate set is a union of those
    // materialized deltas (references, never rewritten). The single per-ring
    // collect (a) forces the lazy delta checkpoint and (b) returns the top-k
    // ROWS of every site whose exactness guarantee now holds — sites are the
    // small side by contract, so settled rows (<= k per site) live on the
    // driver. Active sites are tracked as driver rows of the small site table
    // and re-enter each ring as a broadcast LocalRelation: no `isin` literal
    // lists, no per-ring rewrite of the accumulated set, no separate
    // guarantee job.
    val siteSchema = sites.schema
    var active: Array[org.apache.spark.sql.Row] = siteRows
    // result schema of the loop below (points + site cols + __dist + rank,
    // join keys dropped), derivable without running a job — covers the
    // zero-sites case where the loop never executes
    val emptySchema = pts.limit(0)
      .join(sites.limit(0).withColumn("__sc", lit(0L)), col("__pc") === col("__sc"))
      .withColumn("__dist", lit(0.0)).withColumn("rank", lit(1))
      .drop("__pc", "__sc").schema
    var ring = 1 // disk radius of the CURRENT candidate set
    var prevRing = 0 // radius already scanned (annulus growth, not rescans)
    var deltas: List[DataFrame] = Nil
    val settledRows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    var resultSchema: org.apache.spark.sql.types.StructType = emptySchema
    while (active.nonEmpty) {
      val activeDf = spark.createDataFrame(
        java.util.Arrays.asList(active: _*), siteSchema)
      // only the NEW annulus of cells joins against the big side; earlier
      // rings' candidates are accumulated, so each doubling scans the probe
      // table once for the delta instead of re-scanning the whole disk
      val siteCell = cell_of(col("site_lat"), col("site_lng"), lit(level))
      val annulus =
        if (prevRing == 0) cell_neighbor_disk(siteCell, lit(ring))
        else array_except(cell_neighbor_disk(siteCell, lit(ring)),
          cell_neighbor_disk(siteCell, lit(prevRing)))
      val siteCells = activeDf.withColumn("__sc", explode(annulus))
      val delta = pts.join(broadcast(siteCells), col("__pc") === col("__sc"))
        .withColumn("__dist", haversine_m(col("lat"), col("lng"), col("site_lat"), col("site_lng")))
        .localCheckpoint(eager = false) // materializes inside this ring's collect
      deltas ::= delta
      // accumulated candidates, filtered to the still-active sites by a
      // broadcast semi-join (earlier deltas still hold settled sites' rows)
      val cand = deltas.reduceLeft(_ unionByName _)
        .join(broadcast(activeDf.select(col("site_id"))), Seq("site_id"), "left_semi")
      val w = Window.partitionBy(col("site_id")).orderBy(col("__dist"), col("point_id"))
      val wSite = Window.partitionBy(col("site_id"))
      // guarantee: any point outside disk `ring` is >= ring * minCellDim away.
      // The longitudinal cell width must be evaluated at the DISK'S EXTREME
      // latitude (|site lat| + (ring+1) cells, clamped to the pole) — a fixed
      // margin at the site's own latitude under-covers high-latitude disks
      // where the cells at the disk edge are materially narrower. The 0.99
      // covers the sin(dLng/2) curvature of the haversine lower bound.
      val extremeLat = least(lit(90.0),
        abs(col("site_lat")) + lit((ring + 1).toDouble * degPerCell))
      val minDim = least(
        lit(degPerCell * metersPerDegLat),
        cos(radians(extremeLat)) * lit(2.0 * 0.99 * degPerCell * metersPerDegLat))
      val gridExhausted = ring >= (1L << level)
      // capped mode: once the disk boundary is provably >= maxDistance away,
      // the site settles with its current rows — everything outside would be
      // filtered by the caller's cap anyway
      val capSettled = maxDistance
        .map(md => lit(ring.toDouble) * minDim >= lit(md)).getOrElse(lit(false))
      val top = cand.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
        .withColumn("__ok",
          if (gridExhausted) lit(true)
          else (count(lit(1)).over(wSite) === k &&
            max(col("__dist")).over(wSite) <= lit(ring.toDouble) * minDim) || capSettled)
      val finished = top.where(col("__ok")).drop("__ok", "__pc", "__sc")
      // THE per-ring action: materializes this ring's delta checkpoint and
      // brings home the rows of every site that settled this ring
      val rows = finished.collect()
      resultSchema = finished.schema
      settledRows ++= rows
      val settledIds = rows.iterator.map(_.getAs[Any]("site_id")).toSet
      val siteIdIdx = siteSchema.fieldIndex("site_id")
      // a cap-settled site with ZERO candidates emits no row, so the active
      // pruning replays the cap test driver-side (identical JVM double
      // arithmetic to the Column form above)
      val latIdx = siteSchema.fieldIndex("site_lat")
      def capSettledDriver(lat: Double): Boolean = maxDistance.exists { md =>
        val extreme = math.min(90.0, math.abs(lat) + (ring + 1).toDouble * degPerCell)
        val minDimD = math.min(degPerCell * metersPerDegLat,
          math.cos(math.toRadians(extreme)) * 2.0 * 0.99 * degPerCell * metersPerDegLat)
        ring.toDouble * minDimD >= md
      }
      active =
        if (gridExhausted) Array.empty
        else active.filterNot(r => settledIds.contains(r.get(siteIdIdx)) ||
          capSettledDriver(r.getDouble(latIdx)))
      prevRing = ring
      ring *= 2
    }
    spark.createDataFrame(
      java.util.Arrays.asList(settledRows.toSeq: _*), resultSchema)
  }

  /**
   * Distributed-active-set kNN ring join — identical semantics and guarantee
   * to the driver-mode loop above, but NOTHING site-sized ever touches the
   * driver: active sites stay a (checkpointed) DataFrame pruned per ring by
   * an anti-join against that ring's settled site ids; settled result rows
   * append as lazy localCheckpoint deltas; the ONLY per-ring action is the
   * `count()` of the next active set, which transitively materializes the
   * ring's candidate delta, its settled delta, and the pruned active set.
   * This is the connect-to-network-all scale path
   * (graph/connectivity.go:39-199 runs over every building of a metro:
   * 10^5-10^6 sites), auto-selected by knnJoin above the site-count
   * threshold.
   */
  def knnJoinDistributed(points: DataFrame, sites: DataFrame, k: Int, level: Int = 10,
              maxDistance: Option[Double] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = points.sparkSession
    graft.functions.CellExprs.install(spark)
    val metersPerDegLat = math.Pi * GeoOps.EarthRadiusMeters / 180.0
    val degPerCell = 180.0 / (1L << level).toDouble

    val pts = points.withColumn("__pc", cell_parent_at(col("cell16"), lit(level)))

    // guarantee margin for disk radius `ring`, evaluated per row from the
    // site latitude column — same formula as driver mode (see there for the
    // extreme-latitude rationale)
    def minDim(ring: Int, latCol: Column): Column = {
      val extremeLat = least(lit(90.0),
        abs(latCol) + lit((ring + 1).toDouble * degPerCell))
      least(
        lit(degPerCell * metersPerDegLat),
        cos(radians(extremeLat)) * lit(2.0 * 0.99 * degPerCell * metersPerDegLat))
    }
    def capSettledCol(ring: Int, latCol: Column): Column = maxDistance
      .map(md => lit(ring.toDouble) * minDim(ring, latCol) >= lit(md))
      .getOrElse(lit(false))

    // loop-result schema without running a job (covers the zero-sites case)
    val emptySettled = pts.limit(0)
      .join(sites.limit(0).withColumn("__sc", lit(0L)), col("__pc") === col("__sc"))
      .withColumn("__dist", lit(0.0)).withColumn("rank", lit(1))
      .drop("__pc", "__sc")

    var active: DataFrame = sites.localCheckpoint(eager = false)
    var nActive: Long = active.count()
    var ring = 1
    var prevRing = 0
    // candidates carried between rings: ONLY each still-active site's current
    // top-k (top-k merging is associative — top-k(A ∪ B) = top-k(top-k(A) ∪ B)
    // on the (dist, point_id) order — so shrinking to top-k per ring is
    // lossless for the k-NN result). vs carrying raw ring deltas: wall time
    // is flat on the dense 2-4-ring fixtures (the tail actives are few, so
    // re-scanning old deltas was cheap there), but the carried set is
    // BOUNDED at active x k rows regardless of ring count — the property
    // that matters for sparse sites / distance-capped runs where the ring
    // tail is long and the delta list would otherwise keep growing.
    var carried: Option[DataFrame] = None
    var settled: List[DataFrame] = List(emptySettled)
    while (nActive > 0) {
      val siteCell = cell_of(col("site_lat"), col("site_lng"), lit(level))
      val annulus =
        if (prevRing == 0) cell_neighbor_disk(siteCell, lit(ring))
        else array_except(cell_neighbor_disk(siteCell, lit(ring)),
          cell_neighbor_disk(siteCell, lit(prevRing)))
      // only the NEW annulus joins the big side; AQE picks broadcast vs
      // sort-merge by the actual size of the exploded active-site side
      val siteCells = active.withColumn("__sc", explode(annulus))
      val delta = pts.join(siteCells, col("__pc") === col("__sc"))
        .withColumn("__dist", haversine_m(col("lat"), col("lng"), col("site_lat"), col("site_lng")))
        .localCheckpoint(eager = false)
      val cand = carried.map(_.unionByName(delta)).getOrElse(delta)
        .join(active.select(col("site_id")), Seq("site_id"), "left_semi")
      val w = Window.partitionBy(col("site_id")).orderBy(col("__dist"), col("point_id"))
      val wSite = Window.partitionBy(col("site_id"))
      val gridExhausted = ring >= (1L << level)
      val top = cand.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
        .withColumn("__ok",
          if (gridExhausted) lit(true)
          else (count(lit(1)).over(wSite) === k &&
            max(col("__dist")).over(wSite) <= lit(ring.toDouble) * minDim(ring, col("site_lat"))) ||
            capSettledCol(ring, col("site_lat")))
      val finished = top.where(col("__ok")).drop("__ok", "__pc", "__sc")
        .localCheckpoint(eager = false)
      settled ::= finished
      // prune actives: sites that emitted settled rows this ring (anti-join)
      // and cap-settled sites with ZERO candidates (pure column test on the
      // site latitude — no settled row needed)
      val nextActive =
        if (gridExhausted) active.limit(0)
        else active.where(!capSettledCol(ring, col("site_lat")))
          .join(finished.select(col("site_id")), Seq("site_id"), "left_anti")
          .localCheckpoint(eager = false)
      // next ring's carried set: the unsettled sites' top-k (<= active x k
      // rows — the carried set never grows with ring count)
      carried = Some(top.where(!col("__ok")).drop("rank", "__ok")
        .localCheckpoint(eager = false))
      // THE per-ring action: materializes the candidate delta, the settled
      // delta (via the anti-join's build side) and the pruned active set
      nActive = if (gridExhausted) 0 else nextActive.count()
      active = nextActive
      prevRing = ring
      ring *= 2
    }
    settled.reduceLeft(_ unionByName _)
  }

  /**
   * Raster<->vector tile assignment for points at `zoom` — the reference's
   * Mercator XYZ tiling (src/diagonal.works/b6/tiles.go:202-343). Pure
   * arithmetic on the scan; no shuffle until the per-tile aggregation.
   */
  def tileAssignment(points: DataFrame, zoom: Int): DataFrame =
    points
      .withColumn("tile_z", lit(zoom))
      .withColumn("tile_xx", tile_x(col("lng"), lit(zoom)))
      .withColumn("tile_yy", tile_y(col("lat"), lit(zoom)))

  /** Tile cover of polygon features at `zoom`: explode the per-geometry tile
    * range (CoverCellUnionWithTiles semantics, tiles.go:284-300). */
  def tileCoverJoin(polygons: DataFrame, zoom: Int): DataFrame =
    polygons.withColumn("tile", explode(tile_cover(col("geom"), lit(zoom))))

  /** The finest cell level whose latitudinal cell span still covers
    * `radiusMeters` — callers with a distance cap pick this so the kNN ring-1
    * disk is as tight as possible while still settling on the first ring
    * (cell span >= radius => ring*minDim >= radius holds at ring 1 for the
    * latitudinal bound; results stay exact at ANY level, only candidate
    * volume changes). Clamped to [4, 16]. */
  def levelForRadius(radiusMeters: Double): Int = {
    val mPerDegLat = math.Pi * GeoOps.EarthRadiusMeters / 180.0
    var lvl = 4
    while (lvl < 16 && 180.0 / (1L << (lvl + 1)).toDouble * mPerDegLat >= radiusMeters)
      lvl += 1
    lvl
  }

  /** Cap (centre+radius) containment — IntersectsCap for points
    * (src/diagonal.works/b6/spatial.go:203-371). */
  def withinCap(points: DataFrame, lat: Double, lng: Double, radiusMeters: Double): DataFrame =
    points.where(haversine_m(col("lat"), col("lng"), lit(lat), lit(lng)) < lit(radiusMeters))
}
