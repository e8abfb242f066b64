package graft.server

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct, to_json}
import graft.render.Renderers.{DefaultWorldId, WorldId, WorldRegistry, worldId}
import graft.shell.Shell

/**
 * The remote-evaluation boundary — entry point A of the reference
 * (grpc/service.go:26-90, python/diagonal_b6/expression.py:7-60): a client
 * submits an expression plus a world id; the server evaluates it against
 * that world and returns the result. Every door runs one core: decode the
 * request, evaluate it once through [[evaluateOutcome]], encode the outcome
 * as JSON or as a NodeProto. The doors are JSON over HTTP/1.1 (below), the
 * reference's own B6 service RPCs (api.proto:265-269 Evaluate / DeleteWorld /
 * ListWorlds) over gRPC-Web unary framing on the same HTTP/1.1 server, and
 * the same RPCs over true gRPC on HTTP/2 ([[GrpcServer]]). Replies are
 * written by [[Http]] (400 for bad input, 500 for an engine failure) or, for
 * gRPC, by [[unaryCall]].
 *
 * POST /evaluate  {"expression": "...", "world": "/collection/ns/id",
 *                  "version": "1"}
 * -> {"type": "collection"|"long"|"double"|"string"|"query"|"tag",
 *     "result": ... }   (collections return up to `MaxRows` rows as JSON
 *     arrays of the projected columns)
 */
object EvaluateService {

  /** Major API version — requests must match (grpc/service.go:37-41). */
  val ApiVersion = "1"

  /** Rows a collection result carries, over every door; also the most
    * features `to-geojson-collection` renders. */
  final val MaxRows = 1000

  case class EvaluateResult(kind: String, json: String)

  /** Up to `MaxRows` rows of a collection as JSON objects, in one Spark job:
    * the JSON is a column and the limit stays at the plan root, where it
    * plans as `CollectLimit`. (`limit(n).toJSON` put a `GlobalLimit` under
    * toJSON's `mapPartitions`: an exchange, a second job, and a codegen
    * compile for every distinct limit.) */
  private def jsonRows(df: DataFrame): Array[String] =
    df.select(to_json(struct(col("*")))).limit(MaxRows).collect().map(_.getString(0))

  def evaluate(reg: WorldRegistry, expression: String,
               world: Option[String], version: String): EvaluateResult =
    toJson(evaluateOutcome(reg, worldId(world), version, env => Shell.run(env, expression)))

  /** What an evaluation produced, before response encoding — shared by the
    * JSON and the gRPC doors so change application happens exactly once in
    * exactly one place. */
  private sealed trait Outcome
  private case class ChangeApplied(ids: Seq[(String, String, Long)]) extends Outcome
  private case class WorldCreated(t: String, ns: String, v: Long) extends Outcome
  private case class Value(v: Any) extends Outcome

  private def evaluateOutcome(reg: WorldRegistry, id: WorldId,
                              version: String, runIn: Shell.Env => Any): Outcome = {
    if (version.takeWhile(_ != '.') != ApiVersion)
      throw Shell.ShellException(
        s"client version $version is not compatible with b6 version $ApiVersion")
    runIn(reg.findOrCreate(id).env) match {
      case change: graft.operators.Changes.ChangeSet =>
        // a Change result applies TRANSACTIONALLY to the requested world and
        // the changed ids come back (grpc/service.go:60-67)
        reg.applyChange(id, change)
        ChangeApplied(change.adds.map(a => (a.ftype, a.ns, a.value)) ++
          change.tagEdits.map(e => (e.ftype, e.ns, e.value)))
      case Shell.WorldChange(t, ns, v, change) =>
        // add-world-with-change: the change lands under ITS OWN world id
        // (change.go:213-218), which comes back to the client
        reg.applyChange(WorldId(t, ns, v), change)
        WorldCreated(t, ns, v)
      case other => Value(other)
    }
  }

  private def toJson(outcome: Outcome): EvaluateResult =
    outcome match {
      case ChangeApplied(ids) =>
        EvaluateResult("change-applied",
          ids.map { case (t, ns, v) => s""""/$t/$ns/$v"""" }.mkString("[", ",", "]"))
      case WorldCreated(t, ns, v) =>
        EvaluateResult("world-created", s""""/$t/$ns/$v"""")
      case Value(v) => v match {
        case ds: org.apache.spark.sql.Dataset[_] =>
          EvaluateResult("collection", jsonRows(ds.toDF()).mkString("[", ",", "]"))
        case l: Long => EvaluateResult("long", l.toString)
        case d: Double => EvaluateResult("double", d.toString)
        case s: String => EvaluateResult("string", "\"" + Http.escape(s) + "\"")
        case Shell.TagE(k, tv) =>
          EvaluateResult("tag", s"""{"key":"${Http.escape(k)}","value":"${Http.escape(tv)}"}""")
        case q: graft.query.Query =>
          EvaluateResult("query", "\"" + Http.escape(Shell.unparseQuery(q)) + "\"")
        case other => EvaluateResult("value", "\"" + Http.escape(other.toString) + "\"")
      }
    }

  /** Encode an [[Outcome]] as the LiteralNodeProto-bearing NodeProto the
    * reference's Evaluate RPC returns (grpc/service.go:42-58: results map to
    * api.NodeProto literals — ints, floats, strings, tags, queries,
    * collections, applied changes). Collections follow b6's key/value shape:
    * a two-column frame maps columns to keys/values; anything wider keys by
    * row index with the row JSON as the value. */
  private def resultNode(outcome: Outcome): Array[Byte] = {
    def lit(x: Any): Shell.Expr = x match {
      case l: Long => Shell.IntE(l)
      case i: Int => Shell.IntE(i.toLong)
      case d: Double => Shell.FloatE(d)
      case s: String => Shell.StringE(s)
      case other => Shell.StringE(String.valueOf(other))
    }
    outcome match {
      case ChangeApplied(ids) => graft.proto.ExprProto.appliedChangeNode(ids)
      case WorldCreated(t, ns, v) =>
        graft.proto.ExprProto.encode(Shell.FeatureIdE(t, ns, v))
      case Value(v) => v match {
        case ds: org.apache.spark.sql.Dataset[_] =>
          val df = ds.toDF()
          if (df.columns.length == 2) {
            val rows = df.limit(MaxRows).collect()
            graft.proto.ExprProto.collectionNode(
              rows.toSeq.map(r => lit(r.get(0))), rows.toSeq.map(r => lit(r.get(1))))
          } else {
            val rows = jsonRows(df)
            graft.proto.ExprProto.collectionNode(
              rows.indices.map(i => Shell.IntE(i.toLong)),
              rows.toSeq.map(Shell.StringE))
          }
        case l: Long => graft.proto.ExprProto.encode(Shell.IntE(l))
        case i: Int => graft.proto.ExprProto.encode(Shell.IntE(i.toLong))
        case d: Double => graft.proto.ExprProto.encode(Shell.FloatE(d))
        case s: String => graft.proto.ExprProto.encode(Shell.StringE(s))
        case b: Boolean => graft.proto.ExprProto.boolNode(b)
        case t: Shell.TagE => graft.proto.ExprProto.encode(t)
        case q: graft.query.Query =>
          // queries outside the proto subset fall back to their shell text
          try graft.proto.ExprProto.encode(Shell.QueryE(q))
          catch { case _: IllegalArgumentException =>
            graft.proto.ExprProto.encode(Shell.StringE(Shell.unparseQuery(q))) }
        case null => graft.proto.ExprProto.nilNode
        case other => graft.proto.ExprProto.encode(Shell.StringE(other.toString))
      }
    }
  }

  /** Serve the two HTTP/1.1 doors: POST /evaluate (JSON) and the B6 RPCs
    * over gRPC-Web, plus GET /functions. Returns the bound server (port via
    * getAddress). */
  def serve(reg: WorldRegistry, port: Int = 0): com.sun.net.httpserver.HttpServer = {
    val methods = grpcMethods(reg)
    Http.serve(port,
      "/evaluate" -> { exchange =>
        val (expression, world, version) = Http.decode {
          val body = new String(exchange.getRequestBody.readAllBytes(), "UTF-8")
          (jsonField(body, "expression").getOrElse(
            throw new IllegalArgumentException("missing field: expression")),
            jsonField(body, "world"), jsonField(body, "version").getOrElse(ApiVersion))
        }
        val result = evaluate(reg, expression, world, version)
        Http.json(200, s"""{"type":"${result.kind}","result":${result.json}}""")
      },
      // The reference's gRPC service surface (api.proto:265-269), spoken over
      // gRPC-Web unary framing — the PUBLISHED grpc-web protocol (1 flag byte,
      // bit 7 = trailer, then 4-byte big-endian length, then the message;
      // responses end with a trailer frame carrying grpc-status) — so a client
      // that frames protobuf the gRPC way talks to the engine without any
      // HTTP/2 stack on either side. gRPC errors ride the trailer; HTTP stays
      // 200. [[GrpcServer]] serves the same calls over HTTP/2.
      "/b6.grpc.B6/" -> { exchange =>
        def trailer(status: Int, message: String) = grpcFrame(0x80,
          (s"grpc-status: $status\r\n" +
            (if (message.isEmpty) "" else s"grpc-message: $message\r\n")).getBytes("UTF-8"))
        val body = unaryCall(methods, exchange.getRequestURI.getPath,
          exchange.getRequestBody.readAllBytes()) match {
          case Right(msg) => grpcFrame(0, msg) ++ trailer(0, "")
          case Left((status, message)) => trailer(status, message)
        }
        Http.Reply(200, "application/grpc-web+proto", body)
      },
      // GET /functions: the machine-readable registry manifest — the
      // `b6-api --functions` analogue (reference Makefile:79-80) that the
      // python client generates its stubs from
      "/functions" -> { _ =>
        val fns = Shell.functionManifest
          .map { case (n, a) => s"""{"name":"${Http.escape(n)}","arity":$a}""" }
          .mkString("[", ",", "]")
        Http.json(200, s"""{"version":"$ApiVersion","functions":$fns}""")
      })
  }

  /** The three unary B6 service methods (api.proto:265-269 Evaluate /
    * ListWorlds / DeleteWorld) as a path → (request-message bytes →
    * response-message bytes) table — the ONE dispatch surface behind both
    * wire framings: gRPC-Web over HTTP/1.1 (here) and true gRPC over HTTP/2
    * ([[GrpcServer]]). */
  def grpcMethods(reg: WorldRegistry): Map[String, Array[Byte] => Array[Byte]] = Map(
    "/b6.grpc.B6/Evaluate" -> { msg =>
      val (node, version, root) = graft.proto.ExprProto.decodeEvaluateRequest(msg)
      val id = root.map { case (t, ns, v) => WorldId(t, ns, v) }
        .getOrElse(DefaultWorldId)
      val outcome = evaluateOutcome(reg, id,
        if (version.isEmpty) ApiVersion else version,
        env => Shell.runParsed(env, node))
      graft.proto.ExprProto.encodeEvaluateResponse(resultNode(outcome))
    },
    "/b6.grpc.B6/ListWorlds" -> { _ =>
      graft.proto.ExprProto.encodeListWorldsResponse(
        reg.listWorlds.map(id => (id.ftype, id.ns, id.value)))
    },
    "/b6.grpc.B6/DeleteWorld" -> { msg =>
      val (t, ns, v) = graft.proto.ExprProto.decodeDeleteWorldRequest(msg)
      reg.deleteWorld(WorldId(t, ns, v))
      Array.emptyByteArray // DeleteWorldResponseProto {}
    })

  // ---- unary gRPC calls, either framing ----------------------------------------

  /** One unary call, shared by the gRPC-Web and the h2c framings: the request
    * body's frames in; the response message out, or a gRPC status —
    * UNIMPLEMENTED (12) for an unknown method, UNKNOWN (2) for anything thrown
    * — with its grpc-message (printable ASCII without '%', the spec's
    * unescaped subset). */
  def unaryCall(methods: Map[String, Array[Byte] => Array[Byte]], path: String,
                body: Array[Byte]): Either[(Int, String), Array[Byte]] = {
    def status(code: Int, message: String) =
      Left((code, message.filter(c => c >= ' ' && c <= '~' && c != '%').take(512)))
    methods.get(path) match {
      case None => status(12, s"unknown method $path")
      case Some(handle) =>
        try {
          val msg = grpcFrames(body).collectFirst { case (f, p) if (f & 0x80) == 0 => p }
            .getOrElse(throw new IllegalArgumentException("missing gRPC data frame"))
          Right(handle(msg))
        } catch { case e: Exception => status(2, Http.message(e)) }
    }
  }

  /** One gRPC frame: flag byte (0x80 = grpc-web trailer) + 4-byte BE length + payload. */
  def grpcFrame(flag: Int, payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(payload.length + 5)
    out.write(flag)
    val n = payload.length
    out.write((n >>> 24) & 0xff); out.write((n >>> 16) & 0xff)
    out.write((n >>> 8) & 0xff); out.write(n & 0xff)
    out.write(payload, 0, n)
    out.toByteArray
  }

  /** Split a gRPC body into (flag, payload) frames; a frame whose header or
    * declared length runs past the body is rejected, not padded. */
  def grpcFrames(body: Array[Byte]): Seq[(Int, Array[Byte])] = {
    val out = Seq.newBuilder[(Int, Array[Byte])]
    var pos = 0
    while (pos < body.length) {
      val left = body.length - pos - 5
      if (left < 0) throw new IllegalArgumentException("truncated gRPC frame header")
      val flag = body(pos) & 0xff
      val n = ((body(pos + 1) & 0xff) << 24) | ((body(pos + 2) & 0xff) << 16) |
        ((body(pos + 3) & 0xff) << 8) | (body(pos + 4) & 0xff)
      if (n < 0 || n > left)
        throw new IllegalArgumentException(s"truncated gRPC frame: $n bytes declared, $left present")
      out += ((flag, java.util.Arrays.copyOfRange(body, pos + 5, pos + 5 + n)))
      pos += 5 + n
    }
    out.result()
  }

  /** Minimal JSON string-field extractor (flat request objects only). */
  private[server] def jsonField(json: String, name: String): Option[String] = {
    val m = java.util.regex.Pattern
      .compile("\"" + java.util.regex.Pattern.quote(name) + "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"")
      .matcher(json)
    if (m.find())
      Some(m.group(1).replace("\\\"", "\"").replace("\\\\", "\\").replace("\\n", "\n"))
    else None
  }
}
