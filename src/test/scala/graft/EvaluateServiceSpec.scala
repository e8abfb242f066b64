package graft

import graft.operators.Changes
import graft.render.Renderers
import graft.render.Renderers.{DefaultWorldId, WorldId, WorldRegistry}
import graft.server.EvaluateService
import org.apache.spark.sql.functions._

/** The remote-evaluation boundary vs the reference contract
  * (grpc/service.go:26-90): expression + world id in, world-scoped typed
  * result out, version gate. */
class EvaluateServiceSpec extends SparkSuite {

  lazy val reg = ServingWorld.registry(spark, graft.sources.OsmWorld.features(
    spark, RefData("granary-square.osm.pbf")).cache())

  /** The fixture-free world: SparkEntry.features over sf0.001. */
  lazy val sfFeatures = ServingWorld.sf(spark, sf001).cache()
  lazy val sfReg = ServingWorld.registry(spark, sfFeatures)

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
    val (status, reply) = ServingWorld.http(port, path, Some(body), "application/grpc-web+proto")
    assert(status == 200) // gRPC errors ride trailers, not HTTP
    reply
  }

  /** A gRPC-Web call: (trailer text, the data frame's message if any). */
  private def grpcWeb(port: Int, path: String, msg: Array[Byte]): (String, Option[Array[Byte]]) =
    grpcWebRaw(port, path, EvaluateService.grpcFrame(0, msg))

  private def grpcWebRaw(port: Int, path: String, body: Array[Byte]): (String, Option[Array[Byte]]) = {
    val frames = EvaluateService.grpcFrames(postGrpcWeb(port, path, body))
    (frames.collect { case (f, p) if (f & 0x80) != 0 => new String(p, "UTF-8") }.mkString,
      frames.collectFirst { case (f, p) if (f & 0x80) == 0 => p })
  }

  private def withServer[A](r: WorldRegistry)(f: Int => A): A = {
    val server = EvaluateService.serve(r)
    try f(server.getAddress.getPort) finally server.stop(0)
  }

  private def evaluateJson(port: Int, body: String): (Int, String) = {
    val (status, reply) = ServingWorld.http(port, "/evaluate", Some(body.getBytes("UTF-8")))
    (status, new String(reply, "UTF-8"))
  }

  test("b6.grpc.B6/Evaluate speaks gRPC-Web framed EvaluateRequest/ResponseProto") {
    import graft.proto.ExprProto
    import graft.server.EvaluateService.{grpcFrame, grpcFrames}
    import graft.shell.Shell._
    val server = EvaluateService.serve(reg)
    try {
      val port = server.getAddress.getPort
      // scalar: (add-ints 40 2) -> intValue literal node
      val req = ExprProtoClient.encodeEvaluateRequest(
        CallE(SymbolE("add-ints"), List(IntE(40), IntE(2))), "1", None)
      val frames = grpcFrames(postGrpcWeb(port, "/b6.grpc.B6/Evaluate", grpcFrame(0, req)))
      val trailer = new String(frames.collect { case (f, p) if (f & 0x80) != 0 => p }.head, "UTF-8")
      assert(trailer.contains("grpc-status: 0"), trailer)
      val result = ExprProtoClient.decode(ExprProtoClient.decodeEvaluateResponse(
        frames.collectFirst { case (f, p) if (f & 0x80) == 0 => p }.get))
      assert(result == IntE(42), result)

      // a pipelined find | count through the full shell dispatch
      val count = ExprProtoClient.encodeEvaluateRequest(
        CallE(SymbolE("count"), List(
          CallE(SymbolE("find"), List(QueryE(graft.query.Keyed("#amenity"))))),
          pipelined = true), "1", None)
      val countFrames = grpcFrames(postGrpcWeb(port, "/b6.grpc.B6/Evaluate", grpcFrame(0, count)))
      val countResult = ExprProtoClient.decode(ExprProtoClient.decodeEvaluateResponse(
        countFrames.collectFirst { case (f, p) if (f & 0x80) == 0 => p }.get))
      assert(countResult.isInstanceOf[IntE] && countResult.asInstanceOf[IntE].v > 0, countResult)

      // version gate + unknown function -> trailers-only grpc-status 2
      val bad = ExprProtoClient.encodeEvaluateRequest(IntE(1), "9.0", None)
      val badTrailer = new String(grpcFrames(
        postGrpcWeb(port, "/b6.grpc.B6/Evaluate", grpcFrame(0, bad)))
        .collect { case (f, p) if (f & 0x80) != 0 => p }.head, "UTF-8")
      assert(badTrailer.contains("grpc-status: 2") && badTrailer.contains("grpc-message"), badTrailer)
    } finally server.stop(0)
  }

  test("b6.grpc.B6/Evaluate returns two-column frames as collectionValue keys/values") {
    import graft.server.EvaluateService.{grpcFrame, grpcFrames}
    import graft.shell.Shell._
    val server = EvaluateService.serve(reg)
    try {
      val port = server.getAddress.getPort
      // the ShellSpec count-values golden, through the RPC: a (value, count)
      // two-column frame comes back as CollectionProto keys/values
      val req = ExprProtoClient.encodeEvaluateRequest(
        CallE(SymbolE("count-values"), List(
          CallE(SymbolE("map"), List(
            CallE(SymbolE("find"), List(QueryE(graft.query.Keyed("#amenity")))),
            LambdaE(List("f"), CallE(SymbolE("tag"),
              List(SymbolE("f"), StringE("#amenity"))))),
            pipelined = true)), pipelined = true), "1", None)
      val frames = grpcFrames(postGrpcWeb(port, "/b6.grpc.B6/Evaluate", grpcFrame(0, req)))
      val trailer = new String(frames.collect { case (f, p) if (f & 0x80) != 0 => p }.head, "UTF-8")
      assert(trailer.contains("grpc-status: 0"), trailer)
      val node = ExprProtoClient.decodeEvaluateResponse(
        frames.collectFirst { case (f, p) if (f & 0x80) == 0 => p }.get)
      val (keys, values) = ExprProtoClient.decodeCollectionNode(node)
      assert(keys.nonEmpty && keys.length == values.length)
      val byValue = keys.zip(values).collect {
        case (StringE(k), IntE(n)) => k -> n
      }.toMap
      assert(byValue("bicycle_parking") == 11L, byValue) // b6_test.py golden
    } finally server.stop(0)
  }

  test("b6.grpc.B6/ListWorlds + DeleteWorld manage the registry (service.go:91-105)") {
    import graft.server.EvaluateService.{grpcFrame, grpcFrames}
    val server = EvaluateService.serve(reg)
    try {
      val port = server.getAddress.getPort
      val scenario = WorldId("collection", "graft/grpcweb", 21L)
      reg.findOrCreate(scenario)
      def listIds(): Seq[(String, String, Long)] = {
        val frames = grpcFrames(postGrpcWeb(port, "/b6.grpc.B6/ListWorlds",
          grpcFrame(0, Array.emptyByteArray)))
        ExprProtoClient.decodeListWorldsResponse(
          frames.collectFirst { case (f, p) if (f & 0x80) == 0 => p }.get)
      }
      assert(listIds().contains(("collection", "graft/grpcweb", 21L)))
      postGrpcWeb(port, "/b6.grpc.B6/DeleteWorld", grpcFrame(0,
        ExprProtoClient.encodeDeleteWorldRequest(("collection", "graft/grpcweb", 21L))))
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

  // ---- fixture-free round trips over the sf world, one per door ----------------

  private lazy val cafes = sfFeatures.where(col("tags").getItem("#amenity") === "cafe").count()

  test("sf world: POST /evaluate and GET /functions round-trip JSON") {
    withServer(sfReg) { port =>
      val (status, resp) = evaluateJson(port,
        """{"expression": "find [#amenity=cafe] | count", "version": "1"}""")
      assert(status == 200, resp)
      assert(resp == s"""{"type":"long","result":$cafes}""", resp)
      val (fStatus, fns) = ServingWorld.http(port, "/functions")
      assert(fStatus == 200)
      assert(new String(fns, "UTF-8").contains("\"name\":\"find\",\"arity\":1"))
    }
  }

  test("sf world: bad input answers 400 with an error body") {
    withServer(sfReg) { port =>
      for (body <- Seq(
        """{"expression": "find [#amenity=cafe", "version": "1"}""", // bad expression
        """{"expression": "no-such-fn 1 2 3"}""", // unknown function
        """{"expression": "42", "version": "2.0.0"}""", // version gate
        """{"version": "1"}""")) { // missing expression field
        val (status, resp) = evaluateJson(port, body)
        assert(status == 400 && resp.startsWith("{\"error\":"), s"$body -> $status $resp")
      }
    }
  }

  test("sf world: an engine failure answers 500, not 400") {
    // the base world reads a parquet directory deleted after the registry is
    // built: the request is well-formed, the engine cannot answer it
    val dir = java.nio.file.Files.createTempDirectory("graft-gone").resolve("world").toString
    ServingWorld.sf(spark, sf001).drop("geom").write.parquet(dir)
    val gone = ServingWorld.registry(spark, spark.read.parquet(dir))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    withServer(gone) { port =>
      val (status, resp) = evaluateJson(port,
        """{"expression": "find [#amenity=cafe] | count", "version": "1"}""")
      assert(status == 500 && resp.startsWith("{\"error\":"), s"$status $resp")
    }
  }

  test("sf world: gRPC-Web Evaluate, ListWorlds and DeleteWorld; unknown method is status 12") {
    import graft.proto.ExprProto
    import graft.shell.Shell._
    withServer(sfReg) { port =>
      val req = ExprProtoClient.encodeEvaluateRequest(CallE(SymbolE("count"), List(
        CallE(SymbolE("find"), List(QueryE(graft.query.Tagged("#amenity", "cafe"))))),
        pipelined = true), "1", None)
      val (trailer, msg) = grpcWeb(port, "/b6.grpc.B6/Evaluate", req)
      assert(trailer.contains("grpc-status: 0"), trailer)
      assert(ExprProtoClient.decode(ExprProtoClient.decodeEvaluateResponse(msg.get)) == IntE(cafes))

      val scenario = ("collection", "graft/sf-grpcweb", 4L)
      sfReg.findOrCreate(WorldId(scenario._1, scenario._2, scenario._3))
      def listIds() = ExprProtoClient.decodeListWorldsResponse(
        grpcWeb(port, "/b6.grpc.B6/ListWorlds", Array.emptyByteArray)._2.get)
      assert(listIds().contains(scenario))
      val (delTrailer, _) = grpcWeb(port, "/b6.grpc.B6/DeleteWorld",
        ExprProtoClient.encodeDeleteWorldRequest(scenario))
      assert(delTrailer.contains("grpc-status: 0"), delTrailer)
      assert(!listIds().contains(scenario))

      val (unk, unkMsg) = grpcWeb(port, "/b6.grpc.B6/NoSuchMethod", Array.emptyByteArray)
      assert(unk.contains("grpc-status: 12") && unkMsg.isEmpty, unk)
    }
  }

  test("gRPC-Web: a truncated EvaluateRequest is rejected, not zero-padded") {
    import graft.shell.Shell._
    withServer(sfReg) { port =>
      val expr = CallE(SymbolE("count"), List(
        CallE(SymbolE("find"), List(QueryE(graft.query.Keyed("#amenity"))))), pipelined = true)
      val req = ExprProtoClient.encodeEvaluateRequest(expr, "1", Some(("collection", "graft/cuts", 5L)))
      // root (field 3) is encoded last: the request without it is a prefix
      val noRoot = ExprProtoClient.encodeEvaluateRequest(expr, "1", None)
      assert(req.startsWith(noRoot))
      // an even number of missing bytes: zero-padded, they would decode as
      // (key 0, varint 0) pairs and the request would run in the default world
      assert((req.length - noRoot.length) % 2 == 0)
      // the frame declares the whole request but carries it only up to root
      val cutFrame = EvaluateService.grpcFrame(0, req).take(5 + noRoot.length)
      val (t1, m1) = grpcWebRaw(port, "/b6.grpc.B6/Evaluate", cutFrame)
      assert(!t1.contains("grpc-status: 0") && t1.contains("grpc-status:") && m1.isEmpty, t1)
      // a whole frame around a message cut inside root's declared length
      val (t2, m2) = grpcWeb(port, "/b6.grpc.B6/Evaluate", req.dropRight(3))
      assert(!t2.contains("grpc-status: 0") && t2.contains("grpc-status:") && m2.isEmpty, t2)
    }
  }

  /** The JSON rows of `df` as the /evaluate reply carries them. */
  private def jsonRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(to_json(struct(col("*")))).collect().map(_.getString(0)).toSeq

  /** `reply` is a collection reply holding exactly `rows`, in any order. */
  private def holdsExactly(reply: String, rows: Seq[String]): Boolean =
    reply.startsWith("""{"type":"collection","result":[""") && rows.forall(reply.contains) &&
      reply.length == """{"type":"collection","result":[]}""".length + rows.map(_.length).sum +
        math.max(rows.length - 1, 0)

  test("sf world: materialise evaluates an added expression feature and answers its rows") {
    val root = java.nio.file.Files.createTempDirectory("graft-eval-mat").toString
    sys.props("graft.materialise.root") = root
    try withServer(ServingWorld.registry(spark, sfFeatures)) { port =>
      val (added, addResp) = evaluateJson(port,
        """{"expression": "add-expression /expression/graft/mat/7 \"find [#amenity=cafe]\"", "version": "1"}""")
      assert(added == 200 && addResp.contains("/expression/graft/mat/7"), addResp)
      val (status, resp) = evaluateJson(port,
        """{"expression": "materialise /expression/graft/mat/7", "version": "1"}""")
      assert(status == 200, resp)
      val cafeRows = jsonRows(sfFeatures.where(col("tags").getItem("#amenity") === "cafe"))
      assert(cafeRows.nonEmpty && holdsExactly(resp, cafeRows), resp.take(300))
    } finally sys.props.remove("graft.materialise.root")
  }

  /** Runs `f` with the materialise root at a fresh temp directory and a
    * server over a fresh registry of the sf world; `f` gets an /evaluate
    * caller taking an expression and an optional world token. */
  private def withMaterialiseServer(f: ((String, Option[String]) => (Int, String)) => Unit): Unit = {
    sys.props("graft.materialise.root") = java.nio.file.Files.createTempDirectory("graft-eval-mat").toString
    try withServer(ServingWorld.registry(spark, sfFeatures)) { port =>
      f((e, world) => evaluateJson(port, s"""{"expression": "${graft.server.Http.escape(e)}", """ +
        world.map(w => s""""world": "$w", """).getOrElse("") + """"version": "1"}"""))
    } finally sys.props.remove("graft.materialise.root")
  }

  private def amenityRows(amenity: String) =
    jsonRows(sfFeatures.where(col("tags").getItem("#amenity") === amenity))

  test("sf world: materialise after add-expression with new text under the same id answers the new rows") {
    withMaterialiseServer { evaluate =>
      assert(evaluate("add-expression /expression/graft/mat/9 \"find [#amenity=cafe]\"", None)._1 == 200)
      val (s1, cafes) = evaluate("materialise /expression/graft/mat/9", None)
      assert(s1 == 200 && holdsExactly(cafes, amenityRows("cafe")), cafes.take(300))
      assert(evaluate("add-expression /expression/graft/mat/9 \"find [#amenity=school]\"", None)._1 == 200)
      val (s2, schools) = evaluate("materialise /expression/graft/mat/9", None)
      val want = amenityRows("school")
      assert(want.nonEmpty && want != amenityRows("cafe"))
      assert(s2 == 200 && holdsExactly(schools, want), schools.take(300))
    }
  }

  test("sf world: materialise of one id on the base and a scenario world answers each world's rows") {
    val cafe = sfFeatures.where(col("tags").getItem("#amenity") === "cafe")
      .orderBy("id.value").select("id.ftype", "id.value").head
    val (ftype, fid) = (cafe.getString(0), cafe.getLong(1))
    val scenario = Some("/collection/graft/mat-scenario/1")
    withMaterialiseServer { evaluate =>
      val add = "add-expression /expression/graft/mat/10 \"find [#amenity=cafe]\""
      assert(evaluate(add, None)._1 == 200 && evaluate(add, scenario)._1 == 200)
      val (s0, base) = evaluate("materialise /expression/graft/mat/10", None)
      assert(s0 == 200 && holdsExactly(base, amenityRows("cafe")), base.take(300))
      // the scenario world re-tags one cafe as a bench
      assert(evaluate(s"with-change {-> add-tag /$ftype/graft/events/$fid #amenity=bench}", scenario)._1 == 200)
      val (s1, changed) = evaluate("materialise /expression/graft/mat/10", scenario)
      val want = jsonRows(sfFeatures.where(col("tags").getItem("#amenity") === "cafe" &&
        !(col("id.ftype") === ftype && col("id.value") === fid)))
      assert(want.length == amenityRows("cafe").length - 1)
      assert(s1 == 200 && holdsExactly(changed, want), changed.take(300))
      val (s2, baseAgain) = evaluate("materialise /expression/graft/mat/10", None)
      assert(s2 == 200 && holdsExactly(baseAgain, amenityRows("cafe")), baseAgain.take(300))
    }
  }

  test("sf world: point-features over /evaluate reads the registry world's references table") {
    import spark.implicits._
    val cafeIds = sfFeatures.where(col("tags").getItem("#amenity") === "cafe")
      .orderBy("id.value").select("id.value").as[Long].take(2)
    val refs = Seq(("path", 900001L, "point", cafeIds(0), "", 0),
        ("area", 900002L, "point", cafeIds(1), "", 1))
      .toDF("from_type", "from_id", "to_type", "to_id", "role", "pos")
    val withRefs = new WorldRegistry(spark,
      Renderers.World(sfFeatures, refs, Seq.empty[Changes.ItemAdd].toDF()))
    withServer(withRefs) { port =>
      val (status, resp) = evaluateJson(port,
        """{"expression": "find [#amenity=cafe] | point-features", "version": "1"}""")
      assert(status == 200, resp)
      val expected = Seq(s"""{"to_id":${cafeIds(0)},"from_type":"path","from_id":900001}""",
        s"""{"to_id":${cafeIds(1)},"from_type":"area","from_id":900002}""")
      assert(holdsExactly(resp, expected), resp)
    }
  }

  test("count-valid-ids runs one Spark job") {
    budgetWorld.count()
    val (n, jobs) = JobCount(spark)(graft.shell.Shell.run(budgetWorld,
      "find [#amenity=cafe] | map {f -> get f \"#amenity\"} | count-valid-ids"))
    assert(n == cafes && jobs == 1, s"$n ids, $jobs jobs")
  }

  // ---- serving budget: Spark jobs and code compiles per request ---------------

  /** The sf world plus the fixture polygons as areas, cached in 5 partitions
    * like the benchmark's serving world. */
  private lazy val budgetWorld = ServingWorld.withAreas(ServingWorld.sf(spark, sf001),
    graft.model.Fixtures.polygons(spark), Map("#landuse" -> "test")).repartition(5).cache()
  private lazy val budgetReg = ServingWorld.registry(spark, budgetWorld)

  /** Two cafes of the sf world, as cap centres. */
  private lazy val centres = sfFeatures.where(col("tags").getItem("#amenity") === "cafe")
    .orderBy("point_id").select("lat", "lng").take(2).map(r => (r.getDouble(0), r.getDouble(1)))

  private def cap(c: (Double, Double), r: Double) = f"(intersecting-cap ${c._1}%.6f, ${c._2}%.6f $r%.1f)"

  /** Code compiles a block starts (the codegen compile-time histogram counts
    * one sample per compile). */
  private def compiles[A](body: => A): (A, Long) = {
    val metric = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = metric.getCount
    val out = body
    (out, metric.getCount - before)
  }

  test("serving budget: find, cap and take requests and a /tiles render run one Spark job each") {
    budgetWorld.count()
    def jobs(expression: String) =
      JobCount(spark)(EvaluateService.evaluate(budgetReg, expression, None, "1"))
    val (count, countJobs) = jobs("find [#amenity=cafe] | count")
    assert(count.kind == "long" && countJobs == 1, count)
    val (capCount, capJobs) = jobs(s"find (and [#amenity=cafe] ${cap(centres(0), 800)}) | count")
    assert(capCount.kind == "long" && capJobs == 1, capCount)
    val (take, takeJobs) = jobs("find [#amenity=cafe] | take 5")
    assert(take.kind == "collection" && takeJobs == 1, take)
    val (x, y) = (graft.core.GeoOps.tileX(centres(0)._2, 14), graft.core.GeoOps.tileY(centres(0)._1, 14))
    val (tile, tileJobs) = JobCount(spark)(
      Renderers.queryTile(budgetReg, DefaultWorldId, 14, x, y, "[#amenity=cafe]"))
    assert(tile.nonEmpty && tileJobs == 1)
  }

  test("serving budget: a warm containing-areas | count runs one Spark job") {
    budgetWorld.count()
    def eval() = EvaluateService.evaluate(budgetReg,
      "find [#amenity=cafe] | containing-areas | count", None, "1")
    val first = eval()
    val (r, jobs) = JobCount(spark)(eval())
    assert(r.kind == "long" && r.json.toLong > 0 && r == first, r)
    assert(jobs == 1, s"$jobs jobs")
  }

  test("serving budget: count-values and count-keys run one Spark job each, and equal a groupBy") {
    budgetWorld.count()
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val amenities = budgetWorld.where(col("tags").getItem("#amenity").isNotNull)
    val (values, valueJobs) = JobCount(spark)(counts(graft.shell.Shell.runDf(budgetWorld,
      "find [#amenity] | map {f -> get f \"#amenity\"} | count-values")))
    assert(valueJobs == 1, s"$valueJobs jobs")
    assert(values == counts(amenities.groupBy(col("tags").getItem("#amenity")).count()))
    val (keys, keyJobs) = JobCount(spark)(counts(graft.shell.Shell.runDf(budgetWorld,
      "find [#amenity] | all-tags | count-keys")))
    assert(keyJobs == 1, s"$keyJobs jobs")
    assert(keys == counts(amenities.select(explode(map_keys(col("tags"))).as("k")).groupBy("k").count()))
    val (reply, replyJobs) = JobCount(spark)(EvaluateService.evaluate(budgetReg,
      "find [#amenity] | map {f -> get f \"#amenity\"} | count-values", None, "1"))
    assert(reply.kind == "collection" && replyJobs == 1, s"$replyJobs jobs: $reply")
  }

  /** The cafes of a registry world joined to its areas, as a served
    * containing-areas builds them, and the same pairs from the cell join. */
  private def cafeAreas(r: WorldRegistry, id: WorldId) = {
    val world = r.findOrCreate(id)
    val served = graft.shell.Shell.run(world.env, "find [#amenity=cafe] | containing-areas")
      .asInstanceOf[org.apache.spark.sql.DataFrame]
    val direct = graft.operators.SpatialJoins.cellJoin(
      world.features.where(col("tags").getItem("#amenity") === "cafe")
        .select(col("id.value").as("point_fid"), col("lat"), col("lng"), col("cell16")),
      world.features.where(col("id.ftype") === "area" && col("geom").isNotNull)
        .select(col("id.value").as("poly_id"), col("geom"), col("covering")))
    (served, direct)
  }

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.select("point_fid", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("serving: a served containing-areas plans no exchange and no areas scan, and equals the cell join") {
    val (served, direct) = cafeAreas(budgetReg, DefaultWorldId)
    // the physical operators over the cached world (its own cached plan,
    // repartition included, is an inner child of the cache scan)
    val plan = served.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val nodes = plan.collect { case p => p.nodeName }
    assert(nodes.contains("InMemoryTableScan") && nodes.contains("Generate"), plan)
    assert(!nodes.exists(n => n.contains("Exchange") || n.contains("LocalTableScan")), plan)
    assert(pairs(served).nonEmpty && pairs(served) == pairs(direct))
    assert(served.columns.toSeq == direct.columns.toSeq)
  }

  test("serving: an area added by applyChange is found in the changed world, not in the base") {
    val id = WorldId("collection", "graft/areas", 1L)
    val cafe = sfFeatures.where(col("tags").getItem("#amenity") === "cafe")
      .orderBy("point_id").select("id.value", "lat", "lng").head()
    val added = 990001L
    // the base world has answered (and indexed) before the change
    assert(!pairs(cafeAreas(budgetReg, DefaultWorldId)._1).exists(_._2 == added))
    budgetReg.applyChange(id, Changes.ChangeSet(adds = Seq(Changes.FeatureAdd(
      "area", "graft/test", added, Map("#landuse" -> "added"), cafe.getDouble(1), cafe.getDouble(2)))))
    val (changed, direct) = cafeAreas(budgetReg, id)
    assert(pairs(changed).contains((cafe.getLong(0), added)))
    assert(pairs(changed) == pairs(direct))
    assert(!pairs(cafeAreas(budgetReg, DefaultWorldId)._1).exists(_._2 == added))
  }

  test("serving: deleting or replacing a world does not fail a request already running on it") {
    val id = WorldId("collection", "graft/areas", 2L)
    def change(v: String) = Changes.tagChange("point", "graft/test", 1L, "#note", Some(v))
    budgetReg.applyChange(id, change("a"))
    // each request has built its plan over the world's index; the world is
    // then replaced, or deleted, before the request's job runs
    val (beforeReplace, expected) = cafeAreas(budgetReg, id)
    budgetReg.applyChange(id, change("b"))
    assert(pairs(beforeReplace) == pairs(expected))
    val (beforeDelete, _) = cafeAreas(budgetReg, id)
    budgetReg.deleteWorld(id)
    assert(pairs(beforeDelete) == pairs(expected))
    assert(!budgetReg.listWorlds.contains(id))
  }

  test("serving budget: a new cap centre and radius, a new take n, or a new tile compiles no code") {
    budgetWorld.count()
    def eval(expression: String) = EvaluateService.evaluate(budgetReg, expression, None, "1")
    eval(s"find (and [#amenity=cafe] ${cap(centres(0), 800)}) | count")
    val (_, capCompiles) = compiles(eval(s"find (and [#amenity=cafe] ${cap(centres(1), 650)}) | count"))
    assert(capCompiles == 0)
    eval("find [#amenity=cafe] | take 5")
    val (take, takeCompiles) = compiles(eval("find [#amenity=cafe] | take 7"))
    assert("\\{\"point_id\":".r.findAllIn(take.json).length == 7 && takeCompiles == 0, take.json)
    def tile(c: (Double, Double)) = Renderers.queryTile(budgetReg, DefaultWorldId, 14,
      graft.core.GeoOps.tileX(c._2, 14), graft.core.GeoOps.tileY(c._1, 14), "[#amenity=cafe]")
    tile(centres(0))
    val (bytes, tileCompiles) = compiles(tile(centres(1)))
    assert(bytes.nonEmpty && tileCompiles == 0)
  }

  test("collections: the to_json rows equal Dataset.toJSON for struct, map, binary, array and double columns") {
    // areas carry a binary polygon geom and a covering array; points a null
    // covering and a map with a null @name value
    val world = budgetReg.findOrCreate(DefaultWorldId).features
    val expected = world.where(col("id.ftype") === "area").toJSON.collect()
    assert(expected.length < 1000 && expected.exists(_.contains("\"covering\":[")))
    val types = world.schema.map(_.dataType.typeName).toSet
    assert(Set("struct", "map", "binary", "array", "double").subsetOf(types), types)
    val got = EvaluateService.evaluate(budgetReg, "all-areas", None, "1")
    assert(got.kind == "collection")
    assert(got.json == expected.mkString("[", ",", "]"), got.json.take(300))
  }

  test("to-geojson-collection: above the reply bound a 400 naming the bound, at the bound the whole FeatureCollection") {
    val bound = EvaluateService.MaxRows
    // the sf world holds exactly `bound` features, most with a null @name;
    // with the areas it holds more
    assert(sfFeatures.count() == bound && budgetWorld.count() > bound)
    withServer(budgetReg) { port =>
      val (status, resp) = evaluateJson(port,
        """{"expression": "find (all) | to-geojson-collection", "version": "1"}""")
      assert(status == 400 && resp.startsWith("{\"error\":") &&
        resp.contains("to-geojson-collection") && resp.contains(s"$bound"), resp)
      val (next, count) = evaluateJson(port,
        """{"expression": "find (all) | count", "version": "1"}""")
      assert(next == 200, count)
    }
    val expected = graft.sources.GeoJson.featureCollection(
      sfFeatures.select("geom", "tags").collect().map { r =>
        graft.sources.GeoJson.featureToJson(graft.core.GeoOps.fromWkb(r.getAs[Array[Byte]](0)),
          r.getMap[String, String](1).toMap.filter(_._2 != null))
      }.toSeq)
    assert(graft.shell.Shell.run(sfFeatures, "find (all) | to-geojson-collection") == expected)
  }
}
