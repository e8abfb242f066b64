package graft

import graft.operators.Changes
import graft.render.Renderers.{WorldId, World, WorldRegistry}
import graft.server.EvaluateService
import org.apache.spark.sql.functions._

/** The remote-evaluation boundary vs the reference contract
  * (grpc/service.go:26-90): expression + world id in, world-scoped typed
  * result out, version gate. */
class EvaluateServiceSpec extends SparkSuite {
  import spark.implicits._

  private def emptyRefs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    org.apache.spark.sql.types.StructType.fromDDL(
      "from_type string, from_id long, to_type string, to_id long, role string, pos int"))

  lazy val reg = new WorldRegistry(spark, World(
    graft.sources.OsmWorld.features(
      spark, RefData("granary-square.osm.pbf")).cache(),
    emptyRefs, Seq.empty[Changes.ItemAdd].toDF()))

  test("evaluate: counts, collections and scalars come back typed") {
    val count = EvaluateService.evaluate(reg,
      "find [#amenity=bicycle_parking] | count", None, "1")
    assert(count.kind == "long" && count.json == "11")
    val coll = EvaluateService.evaluate(reg, "find-areas [#building] | take 2", None, "1")
    assert(coll.kind == "collection" && coll.json.startsWith("[{"))
    val s = EvaluateService.evaluate(reg, "divide 7 2", None, "1")
    assert(s.kind == "long" && s.json == "3")
  }

  test("evaluate: version gate rejects incompatible majors (grpc/service.go:37-41)") {
    intercept[Exception] {
      EvaluateService.evaluate(reg, "42", None, "2.0.0")
    }
  }

  test("evaluate: a named world sees its change, the default world does not") {
    val scenario = WorldId("collection", "graft/eval", 3L)
    val building = reg.findOrCreate(graft.render.Renderers.DefaultWorldId).features
      .where(col("id.ftype") === "area" && col("tags").getItem("#building").isNotNull)
      .select("id.value").head.getLong(0)
    reg.applyChange(scenario, Changes.tagChange(
      "area", "openstreetmap.org/way", building, "#amenity", Some("eval-test")))
    val inScenario = EvaluateService.evaluate(reg,
      "find [#amenity=eval-test] | count", Some("/collection/graft/eval/3"), "1")
    assert(inScenario.json == "1")
    val inBase = EvaluateService.evaluate(reg,
      "find [#amenity=eval-test] | count", None, "1")
    assert(inBase.json == "0")
  }

  test("with-change through the shell applies transactionally to the requested world (service.go:60-67)") {
    val scenario = WorldId("collection", "graft/eval", 7L)
    val building = reg.findOrCreate(graft.render.Renderers.DefaultWorldId).features
      .where(col("id.ftype") === "area" && col("tags").getItem("#building").isNotNull)
      .select("id.value").head.getLong(0)
    val r = EvaluateService.evaluate(reg,
      s"""with-change {-> add-tag /a/$building #amenity=shell-change}""",
      Some("/collection/graft/eval/7"), "1")
    assert(r.kind == "change-applied", r.toString)
    assert(r.json.contains(s"/area/openstreetmap.org/way/$building"))
    val after = EvaluateService.evaluate(reg,
      "find [#amenity=shell-change] | count", Some("/collection/graft/eval/7"), "1")
    assert(after.json == "1")
    val base = EvaluateService.evaluate(reg,
      "find [#amenity=shell-change] | count", None, "1")
    assert(base.json == "0")
  }

  test("stored expression features run through evaluate-feature against the scenario world") {
    val scenario = WorldId("collection", "graft/eval", 11L)
    reg.applyChange(scenario, Changes.addExpression("graft/expr", 42L,
      Map("b6" -> "expression"), "find [#amenity=bicycle_parking] | count"))
    val r = EvaluateService.evaluate(reg,
      "evaluate-feature /expression/graft/expr/42",
      Some("/collection/graft/eval/11"), "1")
    assert(r.kind == "long" && r.json == "11", r.toString)
  }

  test("python stdlib client runs the b6_test.py golden corpus over HTTP (python/graft_b6.py)") {
    val server = EvaluateService.serve(reg)
    try {
      val port = server.getAddress.getPort
      val proc = new ProcessBuilder("python3", "python/client_test.py", port.toString)
        .directory(new java.io.File("."))
        .redirectErrorStream(true).start()
      val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
      assert(proc.waitFor() == 0, s"python client failed:\n$out")
      assert(out.contains("OK 12 goldens"), out)
    } finally server.stop(0)
  }

  test("GET /functions serves the stub-generation manifest (b6-api --functions analogue)") {
    val server = EvaluateService.serve(reg)
    try {
      val port = server.getAddress.getPort
      val resp = new String(new java.net.URL(s"http://127.0.0.1:$port/functions")
        .openStream().readAllBytes(), "UTF-8")
      assert(resp.contains("\"name\":\"find\",\"arity\":1"), resp.take(200))
      assert(resp.contains("\"name\":\"percentiles\""))
    } finally server.stop(0)
  }

  private def postGrpcWeb(port: Int, path: String, body: Array[Byte]): Array[Byte] = {
    val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/grpc-web+proto")
    conn.getOutputStream.write(body)
    assert(conn.getResponseCode == 200) // gRPC errors ride trailers, not HTTP
    conn.getInputStream.readAllBytes()
  }

  test("b6.grpc.B6/Evaluate speaks gRPC-Web framed EvaluateRequest/ResponseProto") {
    import graft.proto.ExprProto
    import graft.server.EvaluateService.{grpcFrame, grpcFrames}
    import graft.shell.Shell._
    val server = EvaluateService.serve(reg)
    try {
      val port = server.getAddress.getPort
      // scalar: (add-ints 40 2) -> intValue literal node
      val req = ExprProto.encodeEvaluateRequest(
        CallE(SymbolE("add-ints"), List(IntE(40), IntE(2))), "1", None)
      val frames = grpcFrames(postGrpcWeb(port, "/b6.grpc.B6/Evaluate", grpcFrame(0, req)))
      val trailer = new String(frames.collect { case (f, p) if (f & 0x80) != 0 => p }.head, "UTF-8")
      assert(trailer.contains("grpc-status: 0"), trailer)
      val result = ExprProto.decode(ExprProto.decodeEvaluateResponse(
        frames.collectFirst { case (f, p) if (f & 0x80) == 0 => p }.get))
      assert(result == IntE(42), result)

      // a pipelined find | count through the full shell dispatch
      val count = ExprProto.encodeEvaluateRequest(
        CallE(SymbolE("count"), List(
          CallE(SymbolE("find"), List(QueryE(graft.query.Keyed("#amenity"))))),
          pipelined = true), "1", None)
      val countFrames = grpcFrames(postGrpcWeb(port, "/b6.grpc.B6/Evaluate", grpcFrame(0, count)))
      val countResult = ExprProto.decode(ExprProto.decodeEvaluateResponse(
        countFrames.collectFirst { case (f, p) if (f & 0x80) == 0 => p }.get))
      assert(countResult.isInstanceOf[IntE] && countResult.asInstanceOf[IntE].v > 0, countResult)

      // version gate + unknown function -> trailers-only grpc-status 2
      val bad = ExprProto.encodeEvaluateRequest(IntE(1), "9.0", None)
      val badTrailer = new String(grpcFrames(
        postGrpcWeb(port, "/b6.grpc.B6/Evaluate", grpcFrame(0, bad)))
        .collect { case (f, p) if (f & 0x80) != 0 => p }.head, "UTF-8")
      assert(badTrailer.contains("grpc-status: 2") && badTrailer.contains("grpc-message"), badTrailer)
    } finally server.stop(0)
  }

  test("b6.grpc.B6/Evaluate returns two-column frames as collectionValue keys/values") {
    import graft.proto.ExprProto
    import graft.server.EvaluateService.{grpcFrame, grpcFrames}
    import graft.shell.Shell._
    val server = EvaluateService.serve(reg)
    try {
      val port = server.getAddress.getPort
      // the ShellSpec count-values golden, through the RPC: a (value, count)
      // two-column frame comes back as CollectionProto keys/values
      val req = ExprProto.encodeEvaluateRequest(
        CallE(SymbolE("count-values"), List(
          CallE(SymbolE("map"), List(
            CallE(SymbolE("find"), List(QueryE(graft.query.Keyed("#amenity")))),
            LambdaE(List("f"), CallE(SymbolE("tag"),
              List(SymbolE("f"), StringE("#amenity"))))),
            pipelined = true)), pipelined = true), "1", None)
      val frames = grpcFrames(postGrpcWeb(port, "/b6.grpc.B6/Evaluate", grpcFrame(0, req)))
      val trailer = new String(frames.collect { case (f, p) if (f & 0x80) != 0 => p }.head, "UTF-8")
      assert(trailer.contains("grpc-status: 0"), trailer)
      val node = ExprProto.decodeEvaluateResponse(
        frames.collectFirst { case (f, p) if (f & 0x80) == 0 => p }.get)
      val (keys, values) = ExprProto.decodeCollectionNode(node)
      assert(keys.nonEmpty && keys.length == values.length)
      val byValue = keys.zip(values).collect {
        case (StringE(k), IntE(n)) => k -> n
      }.toMap
      assert(byValue("bicycle_parking") == 11L, byValue) // b6_test.py golden
    } finally server.stop(0)
  }

  test("b6.grpc.B6/ListWorlds + DeleteWorld manage the registry (service.go:91-105)") {
    import graft.proto.ExprProto
    import graft.server.EvaluateService.{grpcFrame, grpcFrames}
    val server = EvaluateService.serve(reg)
    try {
      val port = server.getAddress.getPort
      val scenario = WorldId("collection", "graft/grpcweb", 21L)
      reg.findOrCreate(scenario)
      def listIds(): Seq[(String, String, Long)] = {
        val frames = grpcFrames(postGrpcWeb(port, "/b6.grpc.B6/ListWorlds",
          grpcFrame(0, Array.emptyByteArray)))
        ExprProto.decodeListWorldsResponse(
          frames.collectFirst { case (f, p) if (f & 0x80) == 0 => p }.get)
      }
      assert(listIds().contains(("collection", "graft/grpcweb", 21L)))
      postGrpcWeb(port, "/b6.grpc.B6/DeleteWorld", grpcFrame(0,
        ExprProto.encodeDeleteWorldRequest(("collection", "graft/grpcweb", 21L))))
      assert(!listIds().contains(("collection", "graft/grpcweb", 21L)))
    } finally server.stop(0)
  }

  test("HTTP POST /evaluate round-trips JSON") {
    val server = EvaluateService.serve(reg)
    try {
      val port = server.getAddress.getPort
      val conn = new java.net.URL(s"http://127.0.0.1:$port/evaluate")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.write(
        """{"expression": "find [#building] | count", "version": "1"}""".getBytes("UTF-8"))
      val resp = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      assert(conn.getResponseCode == 200)
      assert(resp.contains("\"type\":\"long\""), resp)
      // a bad expression comes back as a 400 with an error body
      val bad = new java.net.URL(s"http://127.0.0.1:$port/evaluate")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      bad.setRequestMethod("POST")
      bad.setDoOutput(true)
      bad.getOutputStream.write("""{"expression": "no-such-fn 1 2 3"}""".getBytes("UTF-8"))
      assert(bad.getResponseCode == 400)
    } finally server.stop(0)
  }
}
