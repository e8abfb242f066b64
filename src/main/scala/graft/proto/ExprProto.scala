package graft.proto

import graft.shell.Shell
import graft.query._

/**
 * Hand-rolled proto3 wire codec for the reference's expression protos —
 * the gRPC entry point's payload (grpc/service.go:26-90 evaluates a
 * `NodeProto` expression tree; python/diagonal_b6/expression.py:7-60 builds
 * the same trees client-side). The message shapes mirror proto/api.proto:
 * NodeProto (:106), LiteralNodeProto (:118), CallNodeProto (:140),
 * LambdaNodeProto (:146), QueryProto (:184), TagProto (:9),
 * FeatureIDProto (:24), CapProto (:175) and geometry.proto's PointProto
 * (lat_e7/lng_e7, :26). The wire format itself is the public proto3 spec:
 * base-128 varints, (field << 3 | wire-type) keys, length-delimited
 * submessages, little-endian 64-bit doubles.
 *
 * Encoding is canonical-deterministic: fields emit in ascending field-number
 * order; non-oneof fields at their default value are omitted; a set oneof
 * member is always emitted (even at its zero value) so the arm survives the
 * round trip — the same choices protobuf-go makes, so byte-exact re-encoding
 * of decoded messages holds.
 */
object ExprProto {

  // ---- wire primitives -------------------------------------------------------

  /** The protobuf wire writer: NodeProto replies here and MVT tiles
    * (render.Mvt) are written with it. */
  final class Writer {
    private val buf = new java.io.ByteArrayOutputStream()
    def varint(v: Long): Unit = {
      var x = v
      while ((x & ~0x7fL) != 0) { buf.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      buf.write(x.toInt)
    }
    def key(field: Int, wire: Int): Unit = varint((field.toLong << 3) | wire)
    def uint(field: Int, v: Long): Unit = { key(field, 0); varint(v) }
    def double(field: Int, v: Double): Unit = {
      key(field, 1)
      val bits = java.lang.Double.doubleToLongBits(v)
      var i = 0
      while (i < 8) { buf.write(((bits >>> (8 * i)) & 0xff).toInt); i += 1 }
    }
    def bytes(field: Int, b: Array[Byte]): Unit = { key(field, 2); varint(b.length); buf.write(b) }
    def string(field: Int, s: String): Unit = bytes(field, s.getBytes("UTF-8"))
    /** A packed repeated varint field: one length-delimited run of varints. */
    def packed(field: Int, vs: Seq[Long]): Unit = {
      val w = new Writer
      vs.foreach(w.varint)
      bytes(field, w.result)
    }
    def result: Array[Byte] = buf.toByteArray
  }

  /** Reads `b[from, until)`; a length or fixed-width value that runs past
    * `until` (a truncated message) throws instead of reading zeros or the
    * enclosing message's bytes. */
  final class Reader(b: Array[Byte], from: Int, until: Int) {
    def this(b: Array[Byte]) = this(b, 0, b.length)
    private var pos = from
    def hasNext: Boolean = pos < until
    /** Advance over `n` bytes, returning where they start. */
    private def take(n: Int): Int = {
      if (n < 0 || n > until - pos)
        throw new IllegalArgumentException(
          s"truncated message: $n bytes declared, ${until - pos} left")
      val at = pos
      pos += n
      at
    }
    def readVarint(): Long = {
      var shift = 0; var out = 0L
      var more = true
      while (more) {
        val x = b(take(1)) & 0xff
        out |= (x & 0x7fL) << shift
        shift += 7
        more = (x & 0x80) != 0
      }
      out
    }
    def readKey(): (Int, Int) = { val k = readVarint(); ((k >>> 3).toInt, (k & 7).toInt) }
    def readDouble(): Double = {
      val at = take(8)
      var bits = 0L; var i = 0
      while (i < 8) { bits |= (b(at + i) & 0xffL) << (8 * i); i += 1 }
      java.lang.Double.longBitsToDouble(bits)
    }
    def readBytes(): Array[Byte] = {
      val n = readVarint().toInt
      val at = take(n)
      java.util.Arrays.copyOfRange(b, at, at + n)
    }
    def readString(): String = new String(readBytes(), "UTF-8")
    def sub(): Reader = { // length-delimited submessage view
      val n = readVarint().toInt
      val at = take(n)
      new Reader(b, at, at + n)
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => readVarint()
      case 1 => take(8)
      case 2 => take(readVarint().toInt)
      case 5 => take(4)
      case other => throw new IllegalArgumentException(s"wire type $other")
    }
  }

  // ---- FeatureType enum (api.proto:14-22) -----------------------------------

  private val ftypeToEnum = Map(
    "point" -> 1, "path" -> 2, "area" -> 3, "relation" -> 4,
    "collection" -> 5, "expression" -> 6)
  private val enumToFtype = ftypeToEnum.map(_.swap)

  // ---- QueryProto (api.proto:184-202 subset the shell emits) ----------------

  def writeQuery(q: Query): Array[Byte] = {
    val w = new Writer
    q match {
      case All => w.bytes(1, Array.emptyByteArray) // AllQueryProto {}
      case Empty => w.bytes(2, Array.emptyByteArray)
      case Keyed(k) => w.string(3, k)
      case Tagged(k, v) => w.bytes(4, writeTag(k, v))
      case TypedQ(ft, inner) =>
        val tw = new Writer // TypedQueryProto (api.proto:160-163)
        ftypeToEnum.get(ft).filter(_ != 0).foreach(e => tw.uint(1, e))
        tw.bytes(2, writeQuery(inner))
        w.bytes(5, tw.result)
      case And(qs) =>
        val qw = new Writer // QueriesProto (api.proto:165-167)
        qs.foreach(s => qw.bytes(1, writeQuery(s)))
        w.bytes(6, qw.result)
      case Or(qs) =>
        val qw = new Writer
        qs.foreach(s => qw.bytes(1, writeQuery(s)))
        w.bytes(7, qw.result)
      case IntersectsCap(lat, lng, r) =>
        val cw = new Writer // CapProto (api.proto:175-178)
        cw.bytes(1, writePoint(lat, lng))
        if (r != 0.0) cw.double(2, r)
        w.bytes(8, cw.result)
      case other =>
        throw new IllegalArgumentException(s"query not proto-expressible here: $other")
    }
    w.result
  }

  def readQuery(r: Reader): Query = {
    var out: Query = All
    while (r.hasNext) {
      val (f, wt) = r.readKey()
      f match {
        case 1 => r.skip(wt); out = All
        case 2 => r.skip(wt); out = Empty
        case 3 => out = Keyed(r.readString())
        case 4 => val (k, v) = readTag(r.sub()); out = Tagged(k, v)
        case 5 =>
          val tr = r.sub()
          var ft = 0; var inner: Query = All
          while (tr.hasNext) {
            val (tf, twt) = tr.readKey()
            tf match {
              case 1 => ft = tr.readVarint().toInt
              case 2 => inner = readQuery(tr.sub())
              case _ => tr.skip(twt)
            }
          }
          out = TypedQ(enumToFtype.getOrElse(ft, "invalid"), inner)
        case 6 => out = And(readQueries(r.sub()))
        case 7 => out = Or(readQueries(r.sub()))
        case 8 =>
          val cr = r.sub()
          var lat = 0.0; var lng = 0.0; var rad = 0.0
          while (cr.hasNext) {
            val (cf, cwt) = cr.readKey()
            cf match {
              case 1 => val (la, ln) = readPoint(cr.sub()); lat = la; lng = ln
              case 2 => rad = cr.readDouble()
              case _ => cr.skip(cwt)
            }
          }
          out = IntersectsCap(lat, lng, rad)
        case _ => r.skip(wt)
      }
    }
    out
  }

  private def readQueries(r: Reader): Seq[Query] = {
    val out = Seq.newBuilder[Query]
    while (r.hasNext) {
      val (f, wt) = r.readKey()
      if (f == 1) out += readQuery(r.sub()) else r.skip(wt)
    }
    out.result()
  }

  private def writeTag(k: String, v: String): Array[Byte] = {
    val w = new Writer
    if (k.nonEmpty) w.string(1, k)
    if (v.nonEmpty) w.string(2, v)
    w.result
  }
  private def readTag(r: Reader): (String, String) = {
    var k = ""; var v = ""
    while (r.hasNext) {
      val (f, wt) = r.readKey()
      f match {
        case 1 => k = r.readString()
        case 2 => v = r.readString()
        case _ => r.skip(wt)
      }
    }
    (k, v)
  }

  /** geometry.PointProto: int32 lat_e7 / lng_e7 (geometry.proto:26-29). */
  private def writePoint(lat: Double, lng: Double): Array[Byte] = {
    val w = new Writer
    val latE7 = math.round(lat * 1e7).toInt
    val lngE7 = math.round(lng * 1e7).toInt
    // int32 on the wire is the sign-extended 64-bit varint (proto3 spec)
    if (latE7 != 0) w.uint(1, latE7.toLong)
    if (lngE7 != 0) w.uint(2, lngE7.toLong)
    w.result
  }
  private def readPoint(r: Reader): (Double, Double) = {
    var latE7 = 0; var lngE7 = 0
    while (r.hasNext) {
      val (f, wt) = r.readKey()
      f match {
        case 1 => latE7 = r.readVarint().toInt
        case 2 => lngE7 = r.readVarint().toInt
        case _ => r.skip(wt)
      }
    }
    (latE7 / 1e7, lngE7 / 1e7)
  }

  // ---- NodeProto <-> Shell.Expr ---------------------------------------------

  /** Encode a shell expression as NodeProto bytes (api.proto:106-116). */
  def encode(e: Shell.Expr): Array[Byte] = {
    val w = new Writer
    e match {
      case Shell.SymbolE(s) => w.string(1, s)
      case Shell.CallE(fn, args, pipelined) =>
        val cw = new Writer // CallNodeProto (api.proto:140-144)
        cw.bytes(1, encode(fn))
        args.foreach(a => cw.bytes(2, encode(a)))
        if (pipelined) cw.uint(3, 1)
        w.bytes(3, cw.result)
      case Shell.LambdaE(args, body) =>
        val lw = new Writer // LambdaNodeProto (api.proto:146-149)
        args.foreach(a => lw.string(1, a))
        lw.bytes(2, encode(body))
        w.bytes(4, lw.result)
      case lit => w.bytes(2, encodeLiteral(lit))
    }
    w.result
  }

  /** LiteralNodeProto (api.proto:118-138, the arms the shell grammar emits). */
  private def encodeLiteral(e: Shell.Expr): Array[Byte] = {
    val w = new Writer
    e match {
      case Shell.StringE(s) => w.string(3, s)
      case Shell.IntE(v) => w.uint(4, v)
      case Shell.FloatE(v) => w.double(5, v)
      case Shell.QueryE(q) => w.bytes(9, writeQuery(q))
      case Shell.FeatureIdE(ft, ns, v) =>
        w.bytes(10, writeFeatureId(ft, ns, v))
      case Shell.LatLngE(lat, lng) => w.bytes(11, writePoint(lat, lng))
      case Shell.TagE(k, v) => w.bytes(16, writeTag(k, v))
      case other =>
        throw new IllegalArgumentException(s"not a literal: $other")
    }
    w.result
  }

  private[graft] def decodeNode(r: Reader): Shell.Expr = {
    var out: Shell.Expr = Shell.SymbolE("")
    while (r.hasNext) {
      val (f, wt) = r.readKey()
      f match {
        case 1 => out = Shell.SymbolE(r.readString())
        case 2 => out = decodeLiteral(r.sub())
        case 3 =>
          val cr = r.sub()
          var fn: Shell.Expr = Shell.SymbolE("")
          val args = List.newBuilder[Shell.Expr]
          var pipelined = false
          while (cr.hasNext) {
            val (cf, cwt) = cr.readKey()
            cf match {
              case 1 => fn = decodeNode(cr.sub())
              case 2 => args += decodeNode(cr.sub())
              case 3 => pipelined = cr.readVarint() != 0
              case _ => cr.skip(cwt)
            }
          }
          out = Shell.CallE(fn, args.result(), pipelined)
        case 4 =>
          val lr = r.sub()
          val args = List.newBuilder[String]
          var body: Shell.Expr = Shell.SymbolE("")
          while (lr.hasNext) {
            val (lf, lwt) = lr.readKey()
            lf match {
              case 1 => args += lr.readString()
              case 2 => body = decodeNode(lr.sub())
              case _ => lr.skip(lwt)
            }
          }
          out = Shell.LambdaE(args.result(), body)
        case 5 | 6 | 7 => r.skip(wt) // name/begin/end: no AST slot here
        case _ => r.skip(wt)
      }
    }
    out
  }

  private[graft] def decodeLiteral(r: Reader): Shell.Expr = {
    var out: Shell.Expr = Shell.StringE("")
    while (r.hasNext) {
      val (f, wt) = r.readKey()
      f match {
        case 3 => out = Shell.StringE(r.readString())
        case 4 => out = Shell.IntE(r.readVarint())
        case 5 => out = Shell.FloatE(r.readDouble())
        case 9 => out = Shell.QueryE(readQuery(r.sub()))
        case 10 =>
          val (ft, ns, v) = readFeatureId(r.sub())
          out = Shell.FeatureIdE(ft, ns, v)
        case 11 => val (lat, lng) = readPoint(r.sub()); out = Shell.LatLngE(lat, lng)
        case 16 => val (k, v) = readTag(r.sub()); out = Shell.TagE(k, v)
        case _ => r.skip(wt)
      }
    }
    out
  }

  // ---- FeatureIDProto (api.proto:24-28) -------------------------------------

  private[graft] def writeFeatureId(ftype: String, ns: String, v: Long): Array[Byte] = {
    val fw = new Writer
    ftypeToEnum.get(ftype).filter(_ != 0).foreach(x => fw.uint(1, x))
    if (ns.nonEmpty) fw.string(2, ns)
    if (v != 0L) fw.uint(3, v)
    fw.result
  }

  private[graft] def readFeatureId(r: Reader): (String, String, Long) = {
    var ft = 0; var ns = ""; var v = 0L
    while (r.hasNext) {
      val (f, wt) = r.readKey()
      f match {
        case 1 => ft = r.readVarint().toInt
        case 2 => ns = r.readString()
        case 3 => v = r.readVarint()
        case _ => r.skip(wt)
      }
    }
    (enumToFtype.getOrElse(ft, "invalid"), ns, v)
  }

  // ---- B6 service RPC messages (api.proto:243-263, service at :265-269) -----

  /** EvaluateRequestProto: request=1 (NodeProto), version=2, root=3. */
  def decodeEvaluateRequest(bytes: Array[Byte])
      : (Shell.Expr, String, Option[(String, String, Long)]) = {
    val r = new Reader(bytes)
    var node: Shell.Expr = Shell.SymbolE("")
    var version = ""
    var root: Option[(String, String, Long)] = None
    while (r.hasNext) {
      val (f, wt) = r.readKey()
      f match {
        case 1 => node = decodeNode(r.sub())
        case 2 => version = r.readString()
        case 3 => root = Some(readFeatureId(r.sub()))
        case _ => r.skip(wt)
      }
    }
    (node, version, root)
  }

  /** EvaluateResponseProto: result=1 (NodeProto). Takes/returns the inner
    * NodeProto bytes so result arms the shell grammar lacks (collections,
    * applied changes) can be built with the dedicated helpers below. */
  def encodeEvaluateResponse(resultNode: Array[Byte]): Array[Byte] = {
    val w = new Writer; w.bytes(1, resultNode); w.result
  }

  /** DeleteWorldRequestProto: id=1 (api.proto:253-255). */
  def decodeDeleteWorldRequest(bytes: Array[Byte]): (String, String, Long) = {
    val r = new Reader(bytes)
    var id = ("invalid", "", 0L)
    while (r.hasNext) {
      val (f, wt) = r.readKey()
      if (f == 1) id = readFeatureId(r.sub()) else r.skip(wt)
    }
    id
  }

  /** ListWorldsResponseProto: ids=1 repeated FeatureIDProto (api.proto:261-263). */
  def encodeListWorldsResponse(ids: Seq[(String, String, Long)]): Array[Byte] = {
    val w = new Writer
    ids.foreach { case (t, ns, v) => w.bytes(1, writeFeatureId(t, ns, v)) }
    w.result
  }

  // ---- result literal arms beyond the shell grammar -------------------------

  private def nodeOfLiteral(lit: Array[Byte]): Array[Byte] = {
    val w = new Writer; w.bytes(2, lit); w.result
  }

  /** boolValue literal NodeProto (field 2; the set oneof arm always emits). */
  def boolNode(v: Boolean): Array[Byte] = {
    val w = new Writer; w.uint(2, if (v) 1L else 0L); nodeOfLiteral(w.result)
  }

  /** nilValue literal NodeProto (field 1). */
  def nilNode: Array[Byte] = {
    val w = new Writer; w.uint(1, 1L); nodeOfLiteral(w.result)
  }

  /** collectionValue literal NodeProto: CollectionProto keys=2 / values=4
    * (api.proto:87-90), each element a LiteralNodeProto. */
  def collectionNode(keys: Seq[Shell.Expr], values: Seq[Shell.Expr]): Array[Byte] = {
    val cw = new Writer
    keys.foreach(k => cw.bytes(2, encodeLiteral(k)))
    values.foreach(v => cw.bytes(4, encodeLiteral(v)))
    val lw = new Writer
    lw.bytes(6, cw.result)
    nodeOfLiteral(lw.result)
  }

  /** appliedChangeValue literal NodeProto: AppliedChangeProto original=1 /
    * modified=2 (api.proto:101-104). */
  def appliedChangeNode(modified: Seq[(String, String, Long)]): Array[Byte] = {
    val aw = new Writer
    modified.foreach { case (t, ns, v) => aw.bytes(2, writeFeatureId(t, ns, v)) }
    val lw = new Writer
    lw.bytes(14, aw.result)
    nodeOfLiteral(lw.result)
  }
}
