package graft.core

import org.locationtech.jts.geom._
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.io.{WKBReader, WKBWriter, WKTReader}

/**
 * Geometry scalar functions matching the reference's observable semantics:
 *  - great-circle distances use earth radius 6_371_010 m
 *    (reference: src/diagonal.works/b6/units/units.go:7-15);
 *  - area/centroid/length via JTS (jts-core ships with the Spark image);
 *  - Web-Mercator XYZ tile math mirroring src/diagonal.works/b6/tiles.go:202-343.
 *
 * Static, allocation-light methods usable from Catalyst codegen.
 */
object GeoOps {
  val EarthRadiusMeters: Double = 6371010.0

  def haversineMeters(lat1: Double, lng1: Double, lat2: Double, lng2: Double): Double = {
    val p1 = math.toRadians(lat1); val p2 = math.toRadians(lat2)
    val dp = math.toRadians(lat2 - lat1); val dl = math.toRadians(lng2 - lng1)
    val a = math.sin(dp / 2) * math.sin(dp / 2) +
      math.cos(p1) * math.cos(p2) * math.sin(dl / 2) * math.sin(dl / 2)
    2.0 * EarthRadiusMeters * math.asin(math.min(1.0, math.sqrt(a)))
  }

  // ---- Web-Mercator XYZ tiles ----------------------------------------------

  /** Tile x at zoom; pure arithmetic (identical in any IEEE engine). */
  def tileX(lng: Double, zoom: Int): Long = {
    val n = (1L << zoom).toDouble
    val v = math.floor((lng + 180.0) / 360.0 * n).toLong
    val max = (1L << zoom) - 1
    if (v < 0) 0L else if (v > max) max else v
  }

  /** Tile y at zoom (Web-Mercator). */
  def tileY(lat: Double, zoom: Int): Long = {
    val n = (1L << zoom).toDouble
    val latR = math.toRadians(lat)
    val v = math.floor((1.0 - asinh(math.tan(latR)) / math.Pi) / 2.0 * n).toLong
    val max = (1L << zoom) - 1
    if (v < 0) 0L else if (v > max) max else v
  }

  @inline private def asinh(v: Double): Double = math.log(v + math.sqrt(v * v + 1.0))

  /** Packed tile id: (z << 58) | (x << 29) | y. Positive for z <= 29. */
  def tileId(zoom: Int, x: Long, y: Long): Long = (zoom.toLong << 58) | (x << 29) | y
  def tileIdZ(id: Long): Int = (id >>> 58).toInt
  def tileIdX(id: Long): Long = (id >>> 29) & ((1L << 29) - 1)
  def tileIdY(id: Long): Long = id & ((1L << 29) - 1)

  /**
   * Tiles covering a lat/lng bbox at `zoom` — inclusive tile range over the
   * projected corners, mirroring CoverCellIDWithTiles
   * (src/diagonal.works/b6/tiles.go:259-294).
   */
  def tileCoverBBox(latLo: Double, lngLo: Double, latHi: Double, lngHi: Double, zoom: Int): Array[Long] = {
    val x0 = tileX(lngLo, zoom); val x1 = tileX(lngHi, zoom)
    val y0 = tileY(latHi, zoom); val y1 = tileY(latLo, zoom) // y grows southward
    val out = new Array[Long](((x1 - x0 + 1) * (y1 - y0 + 1)).toInt)
    var i = 0; var yy = y0
    while (yy <= y1) {
      var xx = x0
      while (xx <= x1) { out(i) = tileId(zoom, xx, yy); i += 1; xx += 1 }
      yy += 1
    }
    out
  }

  // ---- JTS plumbing --------------------------------------------------------

  val factory = new GeometryFactory(new PrecisionModel(), 4326)
  private val wkbWriterTL = ThreadLocal.withInitial[WKBWriter](() => new WKBWriter())
  private val wkbReaderTL = ThreadLocal.withInitial[WKBReader](() => new WKBReader(factory))
  private val wktReaderTL = ThreadLocal.withInitial[WKTReader](() => new WKTReader(factory))

  def toWkb(g: Geometry): Array[Byte] = wkbWriterTL.get.write(g)
  def fromWkb(b: Array[Byte]): Geometry = wkbReaderTL.get.read(b)
  def fromWkt(s: String): Geometry = wktReaderTL.get.read(s)

  def point(lat: Double, lng: Double): Point =
    factory.createPoint(new Coordinate(lng, lat)) // JTS is (x=lng, y=lat)

  def prepare(g: Geometry): PreparedGeometry = PreparedGeometryFactory.prepare(g)

  /**
   * `make(wkb)` cached per thread in a 512-entry LRU keyed by the WKB
   * content. Identity caching does NOT work here: the join's build side
   * stores rows in unsafe format and materializes a fresh byte array per
   * probe row, so the content hash (one pass over the geometry bytes) is the
   * unavoidable per-row lookup cost.
   */
  private def wkbLru[V <: AnyRef](make: Array[Byte] => V): Array[Byte] => V = {
    val caches = ThreadLocal.withInitial[java.util.LinkedHashMap[java.nio.ByteBuffer, V]](() =>
      new java.util.LinkedHashMap[java.nio.ByteBuffer, V](64, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[java.nio.ByteBuffer, V]): Boolean =
          size() > 512
      })
    wkb => caches.get.computeIfAbsent(java.nio.ByteBuffer.wrap(wkb), _ => make(wkb))
  }

  private val preparedOf = wkbLru(wkb => prepare(fromWkb(wkb)))
  private val coversOf = wkbLru(pointCovers)

  /** The prepared geometry of a WKB: in a spatial join the (small) geometry
    * side repeats per probe row; preparing once makes the exact refine test
    * ~constant after the first hit per task. */
  def prepared(wkb: Array[Byte]): PreparedGeometry = preparedOf(wkb)

  /** covers (boundary-inclusive containment) of a lat/lng point by a WKB geometry. */
  def wkbCoversPoint(wkb: Array[Byte], lat: Double, lng: Double): Boolean = coversOf(wkb)(lat, lng)

  /** covers of (lat, lng) points by one WKB geometry, prepared once and safe
    * to share between threads: an area locates points through an
    * `IndexedPointInAreaLocator` whose index is built here (its lazy build
    * is then done before any thread reads it); any other geometry tests
    * `covers` directly. */
  def pointCovers(wkb: Array[Byte]): (Double, Double) => Boolean = {
    val g = fromWkb(wkb)
    if (g.getDimension == 2) {
      val loc = new org.locationtech.jts.algorithm.locate.IndexedPointInAreaLocator(g)
      loc.locate(new Coordinate())
      (lat, lng) => loc.locate(new Coordinate(lng, lat)) != org.locationtech.jts.geom.Location.EXTERIOR
    } else (lat, lng) => g.covers(point(lat, lng))
  }

  /** exact intersection of two WKB geometries (refine step of intersection joins). */
  def wkbIntersects(a: Array[Byte], b: Array[Byte]): Boolean =
    prepared(a).intersects(fromWkb(b))

  /** Polyline length in meters: sum of haversine segment lengths. */
  def wkbLengthMeters(wkb: Array[Byte]): Double = {
    val cs = fromWkb(wkb).getCoordinates
    var s = 0.0; var i = 1
    while (i < cs.length) {
      s += haversineMeters(cs(i - 1).y, cs(i - 1).x, cs(i).y, cs(i).x); i += 1
    }
    s
  }

  // ---- region coverer ------------------------------------------------------

  /**
   * Covering of a geometry: disjoint cells whose union contains the geometry,
   * with at most `maxCells` cells, none finer than `maxLevel`. Greedy quadtree
   * refinement: repeatedly split the coarsest cell while the (filtered) result
   * stays within budget. Mirrors the role of b6.Covering
   * (src/diagonal.works/b6/world.go:848-866; MaxLevel 16, MaxCells 5 defaults
   * at search/spatial.go:10,:30).
   */
  def covering(g: Geometry, maxLevel: Int, maxCells: Int): Array[Long] = {
    val env = g.getEnvelopeInternal
    val prep = prepare(g)
    // smallest single cell containing the bbox = common ancestor of corner cells
    var seed = commonAncestor(
      Cells.cellOf(env.getMinY, env.getMinX, Cells.MaxLevel),
      Cells.cellOf(env.getMaxY, env.getMaxX, Cells.MaxLevel))
    if (Cells.level(seed) > maxLevel) seed = Cells.parentAt(seed, maxLevel)
    var cur: Vector[Long] = Vector(seed)
    var progress = true
    while (progress) {
      progress = false
      // split the coarsest cell whose children keep us within budget
      val idx = cur.indices.minBy(i => Cells.level(cur(i)))
      val cell = cur(idx)
      if (Cells.level(cell) < maxLevel) {
        val kids = Cells.children(cell).filter(c => cellIntersects(prep, c))
        if (cur.size - 1 + kids.length <= maxCells && kids.nonEmpty) {
          cur = (cur.patch(idx, Nil, 1) ++ kids)
          // stop if every cell is at maxLevel
          progress = cur.exists(c => Cells.level(c) < maxLevel)
        }
      }
    }
    cur.sorted.toArray
  }

  def coveringWkb(wkb: Array[Byte], maxLevel: Int, maxCells: Int): Array[Long] =
    covering(fromWkb(wkb), maxLevel, maxCells)

  def cellIntersects(prep: PreparedGeometry, cell: Long): Boolean = {
    val e = new Envelope(Cells.lngLo(cell), Cells.lngHi(cell), Cells.latLo(cell), Cells.latHi(cell))
    prep.intersects(factory.toGeometry(e))
  }

  def commonAncestor(a: Long, b: Long): Long = {
    var l = math.min(Cells.level(a), Cells.level(b))
    while (l > 0 && Cells.parentAt(a, l) != Cells.parentAt(b, l)) l -= 1
    Cells.parentAt(a, l)
  }

  /** Tiles covering a WKB geometry at `zoom` — covers the geometry's CELL
    * UNION, not its envelope, so an L-shaped geometry's empty corner
    * contributes no tiles (CoverCellUnionWithTiles, b6/tiles.go:296-343;
    * per-cell rect cover ≙ CoverCellIDWithTiles :259-294). */
  def tileCoverWkb(wkb: Array[Byte], zoom: Int): Array[Long] = {
    val g = fromWkb(wkb)
    val cells = covering(g, Cells.MaxLevel, 16)
    val set = new java.util.TreeSet[java.lang.Long]()
    cells.foreach { c =>
      tileCoverBBox(Cells.latLo(c), Cells.lngLo(c), Cells.latHi(c), Cells.lngHi(c), zoom)
        .foreach(t => set.add(t))
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** True if `tile` is in the tile cover of the WKB geometry at `zoom`. */
  def tileCovers(wkb: Array[Byte], zoom: Int, tile: Long): Boolean =
    java.util.Arrays.binarySearch(tileCoverWkb(wkb, zoom), tile) >= 0

  /** Single-level grid of cells intersecting a geometry — the s2-grid
    * semantics (api/functions/s2.go:30-44: min=max=level covering, sorted).
    * Realised as the covering with an unbounded cell budget, which refines
    * every cell to exactly `level`. */
  def gridAtLevel(wkb: Array[Byte], level: Int): Array[Long] =
    covering(fromWkb(wkb), level, Int.MaxValue)

  /** Andrew's monotone-chain convex hull over (x, y) pairs — the
    * JTS-independent driver-side oracle path for reachable-area/convex-hull
    * semantics (src/diagonal.works/b6/api/functions/geometry.go:207-232).
    * Cross-product signs are decided in exact BigDecimal arithmetic so
    * exactly-collinear triples are eliminated identically to JTS's robust
    * orientation predicate. Returns the hull CCW starting at the
    * lexicographically smallest (x, y) vertex. */
  def convexHullChain(pts: Seq[(Double, Double)]): IndexedSeq[(Double, Double)] = {
    val sorted = pts.distinct.sorted.toIndexedSeq
    if (sorted.length <= 2) return sorted
    def cross(o: (Double, Double), a: (Double, Double), b: (Double, Double)): Int = {
      val ox = BigDecimal(o._1); val oy = BigDecimal(o._2)
      ((BigDecimal(a._1) - ox) * (BigDecimal(b._2) - oy) -
        (BigDecimal(a._2) - oy) * (BigDecimal(b._1) - ox)).signum
    }
    def half(ps: IndexedSeq[(Double, Double)]): IndexedSeq[(Double, Double)] = {
      val h = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      ps.foreach { p =>
        while (h.length >= 2 && cross(h(h.length - 2), h(h.length - 1), p) <= 0)
          h.remove(h.length - 1)
        h += p
      }
      h.toIndexedSeq
    }
    half(sorted).dropRight(1) ++ half(sorted.reverse).dropRight(1)
  }

  /** Canonical form of an OPEN simple ring: oriented CCW (exact-shoelace
    * sign), rotated so the lexicographically smallest (x, y) vertex is
    * first — the deterministic vertex order shared by the geo_hull query and
    * its DuckDB oracle literals. */
  def canonicalRing(open: IndexedSeq[(Double, Double)]): IndexedSeq[(Double, Double)] = {
    if (open.length <= 2) return open.sorted
    val sign = open.indices.foldLeft(BigDecimal(0)) { (s, i) =>
      val (x1, y1) = open(i); val (x2, y2) = open((i + 1) % open.length)
      s + BigDecimal(x1) * BigDecimal(y2) - BigDecimal(x2) * BigDecimal(y1)
    }.signum
    val ccw = if (sign >= 0) open else open.reverse
    val m = ccw.indices.minBy(ccw)
    ccw.drop(m) ++ ccw.take(m)
  }

  /** Shoelace area over an open ring, terms summed in ASCENDING vertex order
    * (the fixed fold DuckDB's `list_reduce(list(t ORDER BY i), ...)` replays
    * bit-exactly). */
  def shoelaceAscending(verts: IndexedSeq[(Double, Double)]): Double = {
    var area = 0.0
    var i = 0
    while (i < verts.length) {
      val (x1, y1) = verts(i); val (x2, y2) = verts((i + 1) % verts.length)
      area += x1 * y2 - x2 * y1
      i += 1
    }
    area * 0.5
  }

  /** Boundary polygon of one cell — s2-polygon (api/functions/s2.go:66-74). */
  def cellPolygonWkb(cell: Long): Array[Byte] = {
    val (x0, y0) = (Cells.lngLo(cell), Cells.latLo(cell))
    val (x1, y1) = (Cells.lngHi(cell), Cells.latHi(cell))
    toWkb(factory.createPolygon(Array(
      new Coordinate(x0, y0), new Coordinate(x1, y0), new Coordinate(x1, y1),
      new Coordinate(x0, y1), new Coordinate(x0, y0))))
  }
}
