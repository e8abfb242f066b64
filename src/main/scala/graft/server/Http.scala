package graft.server

import java.nio.charset.StandardCharsets.UTF_8
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.shell.Shell

/**
 * The one HTTP/1.1 responder under both JDK servers ([[EvaluateService.serve]]
 * and `Renderers.serveTiles`). A route decodes its request, evaluates it and
 * returns a [[Http.Reply]]; only [[respond]] writes to the exchange. A failure
 * to decode the request ([[BadRequest]]) or a shell error (bad expression,
 * unknown function, version gate) answers 400; anything else thrown while
 * evaluating or encoding is an engine failure and answers 500. Both carry
 * `{"error": ...}`.
 */
object Http {

  final case class Reply(status: Int, contentType: String, body: Array[Byte])

  /** The request could not be decoded: the client's fault. */
  final class BadRequest(cause: Exception) extends RuntimeException(message(cause), cause)

  /** Run the decoding of a request; whatever it throws answers 400. */
  def decode[A](f: => A): A =
    try f catch { case e: Exception => throw new BadRequest(e) }

  /** Bind 127.0.0.1:`port` (0 = any), register each (path prefix, route) on
    * the server's one dispatcher thread and start. */
  def serve(port: Int, routes: (String, HttpExchange => Reply)*): HttpServer = {
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", port), 0)
    routes.foreach { case (path, route) => server.createContext(path, respond(_, route)) }
    server.start()
    server
  }

  private def respond(exchange: HttpExchange, route: HttpExchange => Reply): Unit = {
    val reply = try route(exchange) catch {
      case e @ (_: BadRequest | _: Shell.ShellException) => error(400, e)
      case e: Exception => error(500, e)
    }
    exchange.getResponseHeaders.add("Content-Type", reply.contentType)
    // -1: no body (a 204, say); a 0 here would mean chunked
    exchange.sendResponseHeaders(reply.status,
      if (reply.body.isEmpty) -1L else reply.body.length.toLong)
    exchange.getResponseBody.write(reply.body)
    exchange.close()
  }

  def json(status: Int, body: String): Reply =
    Reply(status, "application/json", body.getBytes(UTF_8))

  private def error(status: Int, e: Throwable): Reply =
    json(status, s"""{"error":"${escape(message(e))}"}""")

  def message(e: Throwable): String = Option(e.getMessage).getOrElse(e.toString)

  /** The query string's parameters, URL-decoded exactly once (the raw query:
    * a decoded `&` inside a value is the shell's query-AND, not a separator). */
  def params(exchange: HttpExchange): Map[String, String] =
    Option(exchange.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, UTF_8) -> java.net.URLDecoder.decode(v, UTF_8)
      }.toMap

  /** A JSON string literal's contents. */
  def escape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
}
