package graft.core

/**
 * Hierarchical spatial cell ids ("cell64").
 *
 * The reference engine (diagonal-b6) indexes every feature with an S2 cell
 * covering at level <=16 with <=5 cells, plus all ancestors of each cell
 * (reference: src/diagonal.works/b6/search/spatial.go:10,:30, ingest/tokens.go:9-28).
 * We keep those semantics — a hierarchy with parent/child/range/neighbor ops and
 * a region coverer — but use our own encoding: a Morton (Z-order) quadtree over
 * equirectangular lat/lng.
 *
 * Encoding: at level L (0..29), the world is a 2^L x 2^L grid;
 * x indexes longitude [-180,180), y indexes latitude [-90,90).
 * id = (morton(x,y) << 5) | L   — morton has 2L bits, level in the low 5 bits.
 * This fits 2*29+5 = 63 bits, keeping ids positive longs (safe to sort,
 * partition and join on in Spark / Parquet).
 *
 * All methods are static and branch-light so they can be called from
 * generated code (Catalyst `doGenCode`) without boxing.
 */
object Cells {
  val MaxLevel = 29
  private val Scale = (1L << MaxLevel).toDouble

  /** Normalised fraction in [0,1) for a longitude. */
  @inline private def fx(lng: Double): Double = (lng + 180.0) / 360.0
  @inline private def fy(lat: Double): Double = (lat + 90.0) / 180.0

  @inline private def clampIdx(i: Long, level: Int): Long = {
    val max = (1L << level) - 1
    if (i < 0) 0L else if (i > max) max else i
  }

  /** Grid x index of a longitude at `level`. */
  def xOf(lng: Double, level: Int): Long =
    clampIdx(math.floor(fx(lng) * Scale).toLong >> (MaxLevel - level), level)

  /** Grid y index of a latitude at `level`. */
  def yOf(lat: Double, level: Int): Long =
    clampIdx(math.floor(fy(lat) * Scale).toLong >> (MaxLevel - level), level)

  /** Interleave the low 32 bits of v into even bit positions. */
  @inline private def spread(v: Long): Long = {
    var x = v & 0xffffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8))  & 0x00ff00ff00ff00ffL
    x = (x | (x << 4))  & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2))  & 0x3333333333333333L
    x = (x | (x << 1))  & 0x5555555555555555L
    x
  }

  @inline private def unspread(v: Long): Long = {
    var x = v & 0x5555555555555555L
    x = (x | (x >> 1))  & 0x3333333333333333L
    x = (x | (x >> 2))  & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x >> 4))  & 0x00ff00ff00ff00ffL
    x = (x | (x >> 8))  & 0x0000ffff0000ffffL
    x = (x | (x >> 16)) & 0x00000000ffffffffL
    x
  }

  def fromXY(x: Long, y: Long, level: Int): Long =
    ((spread(x) | (spread(y) << 1)) << 5) | level.toLong

  /** Cell id containing (lat, lng) at `level`. */
  def cellOf(lat: Double, lng: Double, level: Int): Long =
    fromXY(xOf(lng, level), yOf(lat, level), level)

  def level(cell: Long): Int = (cell & 0x1fL).toInt
  def x(cell: Long): Long = unspread(cell >>> 5)
  def y(cell: Long): Long = unspread(cell >>> 6)

  /** Ancestor of `cell` at `lvl` (lvl <= level(cell)); identity at own level. */
  def parentAt(cell: Long, lvl: Int): Long = {
    val l = level(cell)
    (((cell >>> 5) >>> (2 * (l - lvl))) << 5) | lvl.toLong
  }

  /** Ancestors from level 0 up to and including the cell itself. */
  def ancestors(cell: Long): Array[Long] = {
    val l = level(cell)
    val out = new Array[Long](l + 1)
    var i = 0
    while (i <= l) { out(i) = parentAt(cell, i); i += 1 }
    out
  }

  /** The four children of a cell. */
  def children(cell: Long): Array[Long] = {
    val l = level(cell)
    val base = (cell >>> 5) << 2
    Array(((base | 0L) << 5) | (l + 1L), ((base | 1L) << 5) | (l + 1L),
          ((base | 2L) << 5) | (l + 1L), ((base | 3L) << 5) | (l + 1L))
  }

  /** First and last descendant of `cell` at `lvl` (lvl >= level(cell)): in a
    * Morton order the descendants at one level are one contiguous id range,
    * so `parentAt(d, level(cell)) == cell` iff lo <= d <= hi for every `d`
    * at `lvl`. */
  def descendantRange(cell: Long, lvl: Int): (Long, Long) = {
    val l = level(cell)
    require(l <= lvl && lvl <= MaxLevel, s"level $lvl is not at or below cell level $l")
    val shift = 2 * (lvl - l)
    val m = cell >>> 5
    (((m << shift) << 5) | lvl.toLong, ((((m + 1) << shift) - 1) << 5) | lvl.toLong)
  }

  /** True if `cell` lies in one of the inclusive ranges of `bounds`, which
    * holds sorted, disjoint (lo, hi) pairs flattened as lo0, hi0, lo1, hi1 ...
    * Binary search over the lows. */
  def inRanges(bounds: Array[Long], cell: Long): Boolean = {
    var lo = 0
    var hi = bounds.length / 2 - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(2 * mid) > cell) hi = mid - 1
      else if (cell <= bounds(2 * mid + 1)) return true
      else lo = mid + 1
    }
    false
  }

  // ---- geometry of a cell --------------------------------------------------

  def lngLo(cell: Long): Double = x(cell).toDouble / (1L << level(cell)).toDouble * 360.0 - 180.0
  def lngHi(cell: Long): Double = (x(cell) + 1).toDouble / (1L << level(cell)).toDouble * 360.0 - 180.0
  def latLo(cell: Long): Double = y(cell).toDouble / (1L << level(cell)).toDouble * 180.0 - 90.0
  def latHi(cell: Long): Double = (y(cell) + 1).toDouble / (1L << level(cell)).toDouble * 180.0 - 90.0

  def centerLat(cell: Long): Double = (latLo(cell) + latHi(cell)) / 2.0
  def centerLng(cell: Long): Double = (lngLo(cell) + lngHi(cell)) / 2.0

  /**
   * Ring `r` of neighbor cells at the same level (Chebyshev distance == r on the
   * grid; r=0 is the cell itself). Longitude wraps; latitude clamps (rows beyond
   * the poles are dropped). Used by the kNN neighbor-ring expansion
   * (reference closest-search semantics: src/diagonal.works/b6/api/functions/graph.go:402-446).
   */
  def neighborRing(cell: Long, r: Int): Array[Long] = {
    val l = level(cell)
    if (r == 0) return Array(cell)
    val n = 1L << l
    val cx = x(cell); val cy = y(cell)
    val out = Array.newBuilder[Long]
    var dy = -r
    while (dy <= r) {
      val yy = cy + dy
      if (yy >= 0 && yy < n) {
        if (dy == -r || dy == r) {
          var dx = -r
          while (dx <= r) {
            out += fromXY(java.lang.Math.floorMod(cx + dx, n), yy, l); dx += 1
          }
        } else {
          out += fromXY(java.lang.Math.floorMod(cx - r, n), yy, l)
          out += fromXY(java.lang.Math.floorMod(cx + r, n), yy, l)
        }
      }
      dy += 1
    }
    out.result()
  }

  /** All cells within Chebyshev ring radius `r` (disk: rings 0..r). */
  def neighborDisk(cell: Long, r: Int): Array[Long] = {
    val out = Array.newBuilder[Long]
    var i = 0
    while (i <= r) { out ++= neighborRing(cell, i); i += 1 }
    out.result()
  }
}
