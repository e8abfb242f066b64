package graft

import graft.server.{EvaluateService, GrpcServer}

import io.netty.bootstrap.Bootstrap
import io.netty.buffer.Unpooled
import io.netty.channel.{Channel, ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer, MultiThreadIoEventLoopGroup}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioSocketChannel
import io.netty.handler.codec.http2.{DefaultHttp2DataFrame, DefaultHttp2Headers, DefaultHttp2HeadersFrame, Http2DataFrame, Http2FrameCodecBuilder, Http2HeadersFrame, Http2MultiplexHandler, Http2StreamChannelBootstrap}

import scala.concurrent.duration._
import scala.concurrent.{Await, Promise}
import scala.jdk.CollectionConverters._

/** The TRUE gRPC wire protocol (HTTP/2 h2c + 5-byte gRPC frames + trailer
  * status — what the reference's grpcio/google.golang.org/grpc stubs speak,
  * grpc/service.go:26-90), asserted at the frame level with an independent
  * Netty HTTP/2 client: prior-knowledge preface, HPACK headers, stream
  * multiplexing on one connection, trailers-only errors. */
class GrpcServerSpec extends SparkSuite {
  import graft.shell.Shell._

  private lazy val reg = ServingWorld.registry(spark, graft.sources.OsmWorld.features(
    spark, RefData("granary-square.osm.pbf")).cache())

  /** One unary gRPC call over an existing h2c connection: returns
    * (response+trailer headers lowercased, concatenated DATA bytes). */
  private def unaryCall(conn: Channel, port: Int, path: String,
                        message: Array[Byte]): (Map[String, String], Array[Byte]) = {
    val done = Promise[(Map[String, String], Array[Byte])]()
    val headers = scala.collection.mutable.Map.empty[String, String]
    val data = new java.io.ByteArrayOutputStream()
    val sb = new Http2StreamChannelBootstrap(conn)
    sb.handler(new ChannelInitializer[Channel] {
      override def initChannel(sc: Channel): Unit =
        sc.pipeline.addLast(new ChannelInboundHandlerAdapter {
          override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit = msg match {
            case h: Http2HeadersFrame =>
              h.headers.iterator.asScala.foreach(e =>
                headers(e.getKey.toString.toLowerCase) = e.getValue.toString)
              if (h.isEndStream) done.trySuccess((headers.toMap, data.toByteArray))
            case d: Http2DataFrame =>
              val arr = new Array[Byte](d.content.readableBytes())
              d.content.readBytes(arr)
              data.write(arr, 0, arr.length)
              val end = d.isEndStream
              d.release()
              if (end) done.trySuccess((headers.toMap, data.toByteArray))
            case other => io.netty.util.ReferenceCountUtil.release(other)
          }
          override def exceptionCaught(ctx: ChannelHandlerContext, cause: Throwable): Unit =
            done.tryFailure(cause)
        })
    })
    val stream = sb.open().syncUninterruptibly().getNow
    val h = new DefaultHttp2Headers()
    h.method("POST").scheme("http").authority(s"127.0.0.1:$port").path(path)
    h.set("content-type", "application/grpc")
    h.set("te", "trailers")
    stream.write(new DefaultHttp2HeadersFrame(h, false))
    stream.writeAndFlush(new DefaultHttp2DataFrame(
      Unpooled.wrappedBuffer(EvaluateService.grpcFrame(0, message)), true))
    Await.result(done.future, 30.seconds)
  }

  private def withClient[A](port: Int)(f: (Channel, Int) => A): A = {
    val group = new MultiThreadIoEventLoopGroup(1, NioIoHandler.newFactory())
    try {
      val bs = new Bootstrap().group(group).channel(classOf[NioSocketChannel])
        .handler(new ChannelInitializer[SocketChannel] {
          override def initChannel(ch: SocketChannel): Unit = {
            ch.pipeline.addLast(Http2FrameCodecBuilder.forClient().build())
            // server-initiated streams don't happen in unary gRPC; the
            // multiplex handler still requires an inbound-stream handler
            ch.pipeline.addLast(new Http2MultiplexHandler(new ChannelInboundHandlerAdapter()))
          }
        })
      val conn = bs.connect("127.0.0.1", port).syncUninterruptibly().channel()
      try f(conn, port)
      finally conn.close().syncUninterruptibly()
    } finally group.shutdownGracefully(
      0, 100, java.util.concurrent.TimeUnit.MILLISECONDS).syncUninterruptibly()
  }

  test("Evaluate over true HTTP/2 gRPC: framed request, DATA reply, grpc-status 0 trailer") {
    import graft.proto.ExprProto
    val server = GrpcServer.serve(reg)
    try withClient(server.port) { (conn, port) =>
      val req = ExprProtoClient.encodeEvaluateRequest(
        CallE(SymbolE("add-ints"), List(IntE(40), IntE(2))), "1", None)
      val (hdrs, body) = unaryCall(conn, port, "/b6.grpc.B6/Evaluate", req)
      assert(hdrs.get(":status").contains("200"), hdrs)
      assert(hdrs.get("content-type").contains("application/grpc"), hdrs)
      assert(hdrs.get("grpc-status").contains("0"), hdrs)
      val frames = EvaluateService.grpcFrames(body)
      val result = ExprProtoClient.decode(ExprProtoClient.decodeEvaluateResponse(
        frames.collectFirst { case (f, p) if (f & 0x80) == 0 => p }.get))
      assert(result == IntE(42), result)

      // second stream on the SAME connection — h2 multiplexing, full shell
      // dispatch against the granary world
      val count = ExprProtoClient.encodeEvaluateRequest(
        CallE(SymbolE("count"), List(
          CallE(SymbolE("find"), List(QueryE(graft.query.Keyed("#amenity"))))),
          pipelined = true), "1", None)
      val (hdrs2, body2) = unaryCall(conn, port, "/b6.grpc.B6/Evaluate", count)
      assert(hdrs2.get("grpc-status").contains("0"), hdrs2)
      val countResult = ExprProtoClient.decode(ExprProtoClient.decodeEvaluateResponse(
        EvaluateService.grpcFrames(body2)
          .collectFirst { case (f, p) if (f & 0x80) == 0 => p }.get))
      assert(countResult.isInstanceOf[IntE] && countResult.asInstanceOf[IntE].v > 0, countResult)
    } finally server.close()
  }

  test("ListWorlds + errors: trailers-only grpc-status 2 (bad version) and 12 (unknown method)") {
    val server = GrpcServer.serve(reg)
    try withClient(server.port) { (conn, port) =>
      val (hdrs, body) = unaryCall(conn, port, "/b6.grpc.B6/ListWorlds",
        Array.emptyByteArray)
      assert(hdrs.get("grpc-status").contains("0"), hdrs)
      // the default world always exists; decode must round-trip
      ExprProtoClient.decodeListWorldsResponse(EvaluateService.grpcFrames(body)
        .collectFirst { case (f, p) if (f & 0x80) == 0 => p }.get)

      val bad = ExprProtoClient.encodeEvaluateRequest(IntE(1), "9.0", None)
      val (badHdrs, badBody) = unaryCall(conn, port, "/b6.grpc.B6/Evaluate", bad)
      assert(badHdrs.get("grpc-status").contains("2"), badHdrs)
      assert(badHdrs.get("grpc-message").exists(_.contains("not compatible")), badHdrs)
      assert(badBody.isEmpty, "trailers-only error must carry no DATA")

      val (unk, _) = unaryCall(conn, port, "/b6.grpc.B6/NoSuchMethod",
        Array.emptyByteArray)
      assert(unk.get("grpc-status").contains("12"), unk)
    } finally server.close()
  }

  test("sf world: h2c Evaluate round trip, truncated request and unknown method rejected") {
    import graft.proto.ExprProto
    val features = ServingWorld.sf(spark, sf001)
    val cafes = features.where(org.apache.spark.sql.functions.col("tags")
      .getItem("#amenity") === "cafe").count()
    val server = GrpcServer.serve(ServingWorld.registry(spark, features))
    try withClient(server.port) { (conn, port) =>
      val req = ExprProtoClient.encodeEvaluateRequest(CallE(SymbolE("count"), List(
        CallE(SymbolE("find"), List(QueryE(graft.query.Tagged("#amenity", "cafe"))))),
        pipelined = true), "1", None)
      val (hdrs, body) = unaryCall(conn, port, "/b6.grpc.B6/Evaluate", req)
      assert(hdrs.get("grpc-status").contains("0"), hdrs)
      val result = ExprProtoClient.decode(ExprProtoClient.decodeEvaluateResponse(
        EvaluateService.grpcFrames(body).collectFirst { case (f, p) if (f & 0x80) == 0 => p }.get))
      assert(result == IntE(cafes), result)

      val (cut, cutBody) = unaryCall(conn, port, "/b6.grpc.B6/Evaluate", req.dropRight(2))
      assert(cut.get("grpc-status").contains("2"), cut)
      assert(cutBody.isEmpty, "trailers-only error must carry no DATA")

      val (unk, _) = unaryCall(conn, port, "/b6.grpc.B6/NoSuchMethod", Array.emptyByteArray)
      assert(unk.get("grpc-status").contains("12"), unk)
    } finally server.close()
  }
}
