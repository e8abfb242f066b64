package graft.functions

/**
 * Feature-id hashing for vector tiles, replicating the reference bit-for-bit:
 * FNV-1 64-bit over (type as uint64 LE) ++ namespace bytes ++ (value as
 * uint64 LE) — src/diagonal.works/b6/api/tiles.go:10-32 (Go fnv.New64 is
 * FNV-1: h = h * prime ^ b).
 */
object TileIds {
  val OffsetBasis: Long = -3750763034362895579L // 14695981039346656037
  val Prime: Long = 1099511628211L

  def fnv1(bytes: Array[Byte], h0: Long = OffsetBasis): Long = {
    var h = h0
    var i = 0
    while (i < bytes.length) {
      h = h * Prime
      h = h ^ (bytes(i) & 0xffL)
      i += 1
    }
    h
  }

  private def le64(v: Long): Array[Byte] = {
    val b = new Array[Byte](8)
    var i = 0
    while (i < 8) { b(i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
    b
  }

  /** TileFeatureID(id) — api/tiles.go:10-20. `ftype` uses b6's FeatureType
    * ordinal (point=0, path=1, area=2, relation=3, collection=4, expression=5). */
  def tileFeatureId(ftype: Long, namespace: String, value: Long): Long = {
    var h = fnv1(le64(ftype))
    h = fnv1(namespace.getBytes("UTF-8"), h)
    fnv1(le64(value), h)
  }

  /** FNV-1a over a string (xor THEN multiply — the reference's
    * encoding.HashString, encoding/strings.go:16-24). */
  def fnv1a(s: String): Long = {
    var h = OffsetBasis
    val bytes = s.getBytes("UTF-8")
    var i = 0
    while (i < bytes.length) {
      h = h ^ (bytes(i) & 0xffL)
      h = h * Prime
      i += 1
    }
    h
  }

  /** id-to-relation-id (api/functions/change.go:14-17): hash the rendered
    * feature-id string ("point/openstreetmap.org/node/123") into a relation
    * id under the given namespace. */
  def idToRelationId(ftype: String, ns: String, value: Long): Long =
    fnv1a(s"$ftype/$ns/$value")
}
