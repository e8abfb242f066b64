package graft

import graft.proto.ExprProto
import graft.shell.Shell

/** The client side of the B6 service messages (api.proto:243-263): what a
  * caller encodes and decodes around the server's [[ExprProto]] codec. */
object ExprProtoClient {

  /** Decode NodeProto bytes back to a shell expression. */
  def decode(bytes: Array[Byte]): Shell.Expr = ExprProto.decodeNode(new ExprProto.Reader(bytes))

  /** EvaluateRequestProto: request=1 (NodeProto), version=2, root=3. */
  def encodeEvaluateRequest(node: Shell.Expr, version: String,
                            root: Option[(String, String, Long)]): Array[Byte] = {
    val w = new ExprProto.Writer
    w.bytes(1, ExprProto.encode(node))
    if (version.nonEmpty) w.string(2, version)
    root.foreach { case (t, ns, v) => w.bytes(3, ExprProto.writeFeatureId(t, ns, v)) }
    w.result
  }

  /** EvaluateResponseProto: result=1 (NodeProto); returns the inner bytes. */
  def decodeEvaluateResponse(bytes: Array[Byte]): Array[Byte] = {
    val r = new ExprProto.Reader(bytes)
    var node = Array.emptyByteArray
    while (r.hasNext) {
      val (f, wt) = r.readKey()
      if (f == 1) node = r.readBytes() else r.skip(wt)
    }
    node
  }

  /** DeleteWorldRequestProto: id=1 (api.proto:253-255). */
  def encodeDeleteWorldRequest(id: (String, String, Long)): Array[Byte] = {
    val w = new ExprProto.Writer; w.bytes(1, ExprProto.writeFeatureId(id._1, id._2, id._3)); w.result
  }

  /** ListWorldsResponseProto: ids=1 repeated FeatureIDProto (api.proto:261-263). */
  def decodeListWorldsResponse(bytes: Array[Byte]): Seq[(String, String, Long)] = {
    val r = new ExprProto.Reader(bytes)
    val out = Seq.newBuilder[(String, String, Long)]
    while (r.hasNext) {
      val (f, wt) = r.readKey()
      if (f == 1) out += ExprProto.readFeatureId(r.sub()) else r.skip(wt)
    }
    out.result()
  }

  /** Inverse of [[ExprProto.collectionNode]]: decode a collectionValue
    * literal NodeProto back to (keys, values). */
  def decodeCollectionNode(node: Array[Byte]): (Seq[Shell.Expr], Seq[Shell.Expr]) = {
    val r = new ExprProto.Reader(node)
    val keys = Seq.newBuilder[Shell.Expr]
    val values = Seq.newBuilder[Shell.Expr]
    while (r.hasNext) {
      val (f, wt) = r.readKey()
      if (f == 2) {
        val lr = r.sub()
        while (lr.hasNext) {
          val (lf, lwt) = lr.readKey()
          if (lf == 6) {
            val cr = lr.sub()
            while (cr.hasNext) {
              val (cf, cwt) = cr.readKey()
              cf match {
                case 2 => keys += ExprProto.decodeLiteral(cr.sub())
                case 4 => values += ExprProto.decodeLiteral(cr.sub())
                case _ => cr.skip(cwt)
              }
            }
          } else lr.skip(lwt)
        }
      } else r.skip(wt)
    }
    (keys.result(), values.result())
  }
}
