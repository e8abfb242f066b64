package graft.server

import graft.render.Renderers.WorldRegistry

import io.netty.bootstrap.ServerBootstrap
import io.netty.buffer.Unpooled
import io.netty.channel.{Channel, ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer, MultiThreadIoEventLoopGroup}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioServerSocketChannel
import io.netty.handler.codec.http2.{DefaultHttp2DataFrame, DefaultHttp2Headers, DefaultHttp2HeadersFrame, Http2DataFrame, Http2FrameCodecBuilder, Http2HeadersFrame, Http2MultiplexHandler}
import io.netty.util.ReferenceCountUtil

/**
 * TRUE gRPC over HTTP/2 — the wire protocol the reference's generated stubs
 * speak natively (grpc/service.go:26-90 is served by google.golang.org/grpc;
 * python/diagonal_b6/ connects with grpcio). The published gRPC-over-HTTP/2
 * spec is: an h2c (prior-knowledge cleartext HTTP/2) POST to
 * /package.Service/Method with content-type `application/grpc`, the request
 * and response messages length-prefixed with the 5-byte gRPC frame
 * (1 compressed-flag byte + 4-byte big-endian length), and the call status
 * delivered as HTTP/2 TRAILERS carrying `grpc-status` / `grpc-message`
 * (trailers-only responses for immediate errors).
 *
 * Protobuf payloads come from the hand-rolled proto3 codec
 * (graft.proto.ExprProto); HTTP/2 framing + HPACK come from Netty's
 * http2 codec (already on Spark's classpath) — no gRPC library involved.
 * Each call runs EvaluateService.unaryCall over EvaluateService.grpcMethods:
 * exactly the path and table the gRPC-Web door uses, so the two framings
 * cannot drift.
 */
object GrpcServer {

  /** A bound server; `close()` releases the port and the event loops. */
  final case class Bound(private val group: MultiThreadIoEventLoopGroup,
                         private val channel: Channel, port: Int) {
    def close(): Unit = {
      channel.close().syncUninterruptibly()
      group.shutdownGracefully(0, 100, java.util.concurrent.TimeUnit.MILLISECONDS)
        .syncUninterruptibly()
    }
  }

  def serve(reg: WorldRegistry, port: Int = 0): Bound = {
    val methods = EvaluateService.grpcMethods(reg)
    val group = new MultiThreadIoEventLoopGroup(2, NioIoHandler.newFactory())
    val bootstrap = new ServerBootstrap()
      .group(group)
      .channel(classOf[NioServerSocketChannel])
      .childHandler(new ChannelInitializer[SocketChannel] {
        override def initChannel(ch: SocketChannel): Unit = {
          ch.pipeline.addLast(Http2FrameCodecBuilder.forServer().build())
          // one child channel per HTTP/2 stream: concurrent RPCs on one
          // connection each get their own handler instance (the h2
          // multiplexing gRPC relies on)
          ch.pipeline.addLast(new Http2MultiplexHandler(new ChannelInitializer[Channel] {
            override def initChannel(sc: Channel): Unit =
              sc.pipeline.addLast(new UnaryCallHandler(methods))
          }))
        }
      })
    val ch = bootstrap.bind("127.0.0.1", port).syncUninterruptibly().channel()
    val bound = ch.localAddress().asInstanceOf[java.net.InetSocketAddress].getPort
    Bound(group, ch, bound)
  }

  /** One unary call = one HTTP/2 stream: buffer DATA until END_STREAM, run
    * [[EvaluateService.unaryCall]], answer HEADERS + DATA + trailers (or a
    * trailers-only error response, the gRPC way — HTTP status stays 200). */
  private final class UnaryCallHandler(methods: Map[String, Array[Byte] => Array[Byte]])
      extends ChannelInboundHandlerAdapter {
    private var path: String = ""
    private val body = new java.io.ByteArrayOutputStream()

    override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit = msg match {
      case h: Http2HeadersFrame =>
        path = String.valueOf(h.headers.path)
        if (h.isEndStream) respond(ctx)
      case d: Http2DataFrame =>
        val n = d.content.readableBytes()
        val arr = new Array[Byte](n)
        d.content.readBytes(arr)
        body.write(arr, 0, n)
        val end = d.isEndStream
        d.release()
        if (end) respond(ctx)
      case other => ReferenceCountUtil.release(other)
    }

    private def headers(endStream: Boolean, fields: (String, String)*) = {
      val h = new DefaultHttp2Headers()
      fields.foreach { case (k, v) => h.set(k, v) }
      new DefaultHttp2HeadersFrame(h, endStream)
    }

    private def respond(ctx: ChannelHandlerContext): Unit =
      EvaluateService.unaryCall(methods, path, body.toByteArray) match {
        case Right(msg) =>
          ctx.write(headers(false, ":status" -> "200", "content-type" -> "application/grpc"))
          ctx.write(new DefaultHttp2DataFrame(
            Unpooled.wrappedBuffer(EvaluateService.grpcFrame(0, msg)), false))
          ctx.writeAndFlush(headers(true, "grpc-status" -> "0"))
        case Left((status, message)) =>
          ctx.writeAndFlush(headers(true, ":status" -> "200",
            "content-type" -> "application/grpc", "grpc-status" -> status.toString,
            "grpc-message" -> message))
      }

    override def exceptionCaught(ctx: ChannelHandlerContext, cause: Throwable): Unit =
      ctx.close()
  }
}
