package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.proto.ExprProto
import graft.shell.Shell

/** Proto3 wire round-trip of shell expressions — the expression corpus is
  * the reference's shell parser golden set (api/shell_test.go:36-340), so
  * the NodeProto trees exercised here are the ones the gRPC entry point
  * actually carries (grpc/service.go:26-90). */
class ExprProtoSpec extends AnyFunSuite {

  // expressions lifted from api/shell_test.go (LiteralInt, LiteralFloat,
  // LiteralLatLng, LiteralTag, LiteralSearchableTagWithToken,
  // LiteralTagWithQuotes, SimpleCall, Pipeline2Stages, Group, FeatureID,
  // NestedGroups, ExplicitLambdaWithArg + query literals)
  val corpus: Seq[String] = Seq(
    "42",
    "42.0",
    "19.4008, -99.1663",
    "#highway=path",
    "#nhs:hospital=yes",
    "name=\"The Lighterman\"",
    "find-feature /n/6082053666",
    "find \"highway=primary\" | highlight",
    "find (intersecting 19.4008, -99.1663)",
    "pair 55.614929, -2.8048709 /area/openstreetmap.org/way/115912092",
    "find (intersecting (find-area /area/openstreetmap.org/way/115912092))",
    "map {f -> tag f \"name\"} (all-areas)",
    "find [#amenity=cafe & @name]",
    "find [#building | #amenity=restaurant]",
    "count (find [#amenity=cafe])",
  )

  test("NodeProto round-trip is AST-exact and byte-exact for the shell_test.go corpus") {
    assert(corpus.size >= 10)
    corpus.foreach { src =>
      val ast = Shell.parse(src)
      val bytes = ExprProto.encode(ast)
      val back = ExprProtoClient.decode(bytes)
      assert(back == ast, s"AST round-trip failed for: $src\n  got $back\n  want $ast")
      val bytes2 = ExprProto.encode(back)
      assert(java.util.Arrays.equals(bytes, bytes2),
        s"re-encode not byte-exact for: $src")
    }
  }

  test("oneof arms at zero values survive the round trip") {
    val zeros: Seq[Shell.Expr] = Seq(
      Shell.IntE(0), // intValue 0 must still mark the oneof arm
      Shell.FloatE(0.0),
      Shell.StringE(""),
      Shell.IntE(-42), // negative int64: 10-byte varint
      Shell.FloatE(-1.5),
      Shell.LatLngE(0.0, -99.1663))
    zeros.foreach { ast =>
      val bytes = ExprProto.encode(ast)
      val back = ExprProtoClient.decode(bytes)
      assert(back == ast, s"zero-value round-trip failed: $ast -> $back")
      assert(java.util.Arrays.equals(bytes, ExprProto.encode(back)))
    }
  }

  test("B6 service RPC messages round-trip (EvaluateRequest/Response, DeleteWorld, ListWorlds)") {
    val node = Shell.CallE(Shell.SymbolE("count"),
      List(Shell.CallE(Shell.SymbolE("find"),
        List(Shell.QueryE(graft.query.Keyed("#building"))))), pipelined = true)
    // request: node + version + root world id (api.proto:243-247)
    val req = ExprProtoClient.encodeEvaluateRequest(node, "1",
      Some(("collection", "graft/scenario", 7L)))
    val (n2, v2, r2) = ExprProto.decodeEvaluateRequest(req)
    assert(n2 == node && v2 == "1" && r2.contains(("collection", "graft/scenario", 7L)))
    // absent root stays absent
    val (_, _, noRoot) = ExprProto.decodeEvaluateRequest(
      ExprProtoClient.encodeEvaluateRequest(node, "1", None))
    assert(noRoot.isEmpty)
    // response wraps the result NodeProto (api.proto:249-251)
    val resp = ExprProto.encodeEvaluateResponse(ExprProto.encode(Shell.IntE(13)))
    assert(ExprProtoClient.decode(ExprProtoClient.decodeEvaluateResponse(resp)) == Shell.IntE(13))
    // DeleteWorldRequestProto / ListWorldsResponseProto (api.proto:253-263)
    assert(ExprProto.decodeDeleteWorldRequest(
      ExprProtoClient.encodeDeleteWorldRequest(("area", "osm", 42L))) == (("area", "osm", 42L)))
    val ids = Seq(("collection", "a", 1L), ("area", "b/c", 2L))
    assert(ExprProtoClient.decodeListWorldsResponse(ExprProto.encodeListWorldsResponse(ids)) == ids)
  }

  test("a length that runs past its message throws instead of reading zeros") {
    // EvaluateRequestProto{version: "1.0.0"} cut two bytes short: the string
    // must not come back as "1.0" plus two zero bytes
    val w = new ExprProto.Writer
    w.string(2, "1.0.0")
    intercept[IllegalArgumentException](ExprProto.decodeEvaluateRequest(w.result.dropRight(2)))
    // a submessage (root) whose declared length runs past the request
    val req = ExprProtoClient.encodeEvaluateRequest(Shell.IntE(1), "1",
      Some(("collection", "graft/cut", 5L)))
    intercept[IllegalArgumentException](ExprProto.decodeEvaluateRequest(req.dropRight(3)))
    // a literal whose double has 7 of its 8 bytes: the 8th must not come from
    // the field after the literal
    val shortDouble = Array[Byte](0x12, 0x08, 0x29, 0, 0, 0, 0, 0, 0, 0xf0.toByte) ++
      ExprProto.encode(Shell.SymbolE("go"))
    intercept[IllegalArgumentException](ExprProtoClient.decode(shortDouble))
  }

  test("result-only literal arms: bool, nil, collection, applied change") {
    val (k, v) = (Seq[Shell.Expr](Shell.StringE("x"), Shell.StringE("y")),
      Seq[Shell.Expr](Shell.IntE(1), Shell.IntE(2)))
    val (k2, v2) = ExprProtoClient.decodeCollectionNode(ExprProto.collectionNode(k, v))
    assert(k2 == k && v2 == v)
    // boolNode emits the set oneof arm: literal field 2 varint
    assert(ExprProto.boolNode(true).toSeq == Seq[Byte](0x12, 0x02, 0x10, 0x01))
    assert(ExprProto.boolNode(false).toSeq == Seq[Byte](0x12, 0x02, 0x10, 0x00))
    assert(ExprProto.nilNode.toSeq == Seq[Byte](0x12, 0x02, 0x08, 0x01))
    // appliedChangeNode: literal field 14 with modified FeatureIDProtos
    val ac = ExprProto.appliedChangeNode(Seq(("area", "osm", 9L)))
    assert(ac(0) == 0x12) // NodeProto literal arm
  }

  test("wire layout spot-check: varints, keys and doubles match the proto3 spec") {
    // NodeProto{symbol: "go"} = field 1, wire 2, len 2, 'g','o'
    assert(ExprProto.encode(Shell.SymbolE("go")).toSeq ==
      Seq[Byte](0x0a, 0x02, 'g'.toByte, 'o'.toByte))
    // NodeProto{literal{intValue: 300}} = 0x12 len [0x20 varint(300)]
    assert(ExprProto.encode(Shell.IntE(300)).toSeq ==
      Seq[Byte](0x12, 0x03, 0x20, 0xac.toByte, 0x02))
    // double 1.0 is 8 LE bytes 00..f0 3f under field 5 wire 1 (0x29)
    assert(ExprProto.encode(Shell.FloatE(1.0)).toSeq ==
      Seq[Byte](0x12, 0x09, 0x29, 0, 0, 0, 0, 0, 0, 0xf0.toByte, 0x3f))
  }
}
