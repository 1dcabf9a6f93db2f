package graft.app

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import graft.util.Json
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Minimal dependency-free HTTP serving face of the query path (R6): the
  * reference exposes `search`/`fetch` tools over MCP/HTTP
  * (ref:src/fancyrag/mcp/runtime.py:353-417); this serves the same two
  * operations from the JDK's built-in HttpServer, so the engine is
  * reachable over the wire without adding a single library. The server is a
  * thin single-node front — Spark behind it is the part that scales; in
  * production N stateless replicas of this front share one long-lived
  * session each.
  *
  *   GET /health                          -> {"status":"ok"}
  *   GET /ask?q=<question>&k=<n>&semantic=<bool>  -> JSON array of matches
  *   GET /fetch?id=<node id>              -> node row (embedding stripped)
  *
  * A missing `q`/`id`, a `k` that is not a positive integer or a `semantic`
  * that is not true/false is answered 400. A malformed `%` escape never
  * reaches a handler: HttpServer rejects the request URI with 400 itself.
  *
  * Usage: runMain graft.app.AskServer --graph /tmp/kg --port 8080
  *        [--bind 127.0.0.1]   (loopback default; wildcard is an opt-in)
  *        [--token <secret>]   (or GRAFT_ASK_TOKEN; enables static bearer
  *                              auth on /ask and /fetch — /health stays open)
  */
object AskServer {

  /** Malformed client input: answered 400 with the message, not 500. */
  private final class BadRequest(msg: String) extends Exception(msg)

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> URLDecoder.decode(v, "UTF-8")
      }.toMap

  /** An optional parameter: `default` when absent, 400 when `parse` rejects it. */
  private def param[T](p: Map[String, String], key: String, default: T, expected: String)(
      parse: String => Option[T]): T =
    p.get(key).fold(default)(v => parse(v).getOrElse(throw new BadRequest(s"$key must be $expected")))

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** Malformed input gets 400 and a message naming the parameter. Internal
    * errors return a generic body; the exception goes to the server log, not
    * the client (raw messages can carry paths/query fragments).
    */
  private def handleSafely(ex: HttpExchange)(body: => Unit): Unit =
    try body
    catch {
      case e: BadRequest => respond(ex, 400, s"""{"error":${Json.str(e.getMessage)}}""")
      case e: Throwable =>
        System.err.println(s"[ask-server] ${ex.getRequestURI.getPath}: $e")
        respond(ex, 500, """{"error":"internal error"}""")
    }

  /** Static-bearer-token check (the reference's static-token auth mode on
    * its MCP/HTTP surface, ref:src/fancyrag/mcp/runtime.py:275-342). With no
    * token configured every request passes (loopback dev mode); with one,
    * the query endpoints require `Authorization: Bearer <token>` —
    * constant-time compare, so the token can't be recovered byte-by-byte
    * through response timing. /health stays open (liveness probes don't
    * carry credentials).
    */
  private def authorized(ex: HttpExchange, token: Option[String]): Boolean =
    token.forall { t =>
      Option(ex.getRequestHeaders.getFirst("Authorization")).exists(h =>
        java.security.MessageDigest.isEqual(
          h.getBytes(StandardCharsets.UTF_8),
          s"Bearer $t".getBytes(StandardCharsets.UTF_8)))
    }

  private def requireAuth(ex: HttpExchange, token: Option[String])(body: => Unit): Unit =
    if (authorized(ex, token)) body
    else {
      ex.getResponseHeaders.set("WWW-Authenticate", "Bearer")
      respond(ex, 401, """{"error":"unauthorized"}""")
    }

  /** Start the server (port 0 = ephemeral; read the bound port off the
    * returned server). One Spark session serves every request. Binds
    * loopback by default — exposing an unauthenticated query surface on a
    * wildcard interface is an explicit `--bind 0.0.0.0` opt-in; pair it with
    * `token` (static bearer auth) when leaving loopback. Handlers run
    * on a small pool so a slow /ask never blocks /health.
    */
  def start(spark: SparkSession, graphDir: String, port: Int,
      bind: String = "127.0.0.1", token: Option[String] = None): HttpServer = {
    // Load the MERGE-clean graph view ONCE, cached and warmed: per-request
    // work is then only the query itself, which is what keeps the warm /ask
    // round-trip inside the 1.5 s serving budget AskSpec enforces.
    val view = AskMain.loadGraph(spark, graphDir)
    val server = HttpServer.create(
      new InetSocketAddress(java.net.InetAddress.getByName(bind), port), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.createContext("/health", (ex: HttpExchange) =>
      respond(ex, 200, """{"status":"ok"}"""))
    server.createContext("/ask", (ex: HttpExchange) =>
      handleSafely(ex) { requireAuth(ex, token) {
        val p = params(ex)
        val q = p.getOrElse("q", "")
        if (q.isEmpty) respond(ex, 400, """{"error":"missing q"}""")
        else {
          val k = param(p, "k", 5, "a positive integer")(_.toIntOption.filter(_ > 0))
          val semantic = param(p, "semantic", true, "true or false")(_.toBooleanOption)
          val rows = AskMain.ask(spark, view, q, k, semantic)
            .orderBy(col("score").desc).collect()
          val items = rows.map(AskMain.matchJson(_, semantic))
          respond(ex, 200,
            s"""{"question":${Json.str(q)},"matches":${items.mkString("[", ",", "]")}}""")
        }
      } })
    server.createContext("/fetch", (ex: HttpExchange) =>
      handleSafely(ex) { requireAuth(ex, token) {
        val p = params(ex)
        p.get("id") match {
          case None => respond(ex, 400, """{"error":"missing id"}""")
          case Some(id) =>
            val rows = graft.operators.Retrieval.fetchById(view.nodes, id)
              .select("id", "labels", "name").collect()
            val items = rows.map { r =>
              s"""{"id":${Json.str(r.getAs[String]("id"))},""" +
                s""""labels":${Json.strs(r.getSeq[String](1))},""" +
                s""""name":${Json.str(r.getAs[String]("name"))}}"""
            }
            respond(ex, 200, items.mkString("[", ",", "]"))
        }
      } })
    server.start()
    server
  }

  def main(args: Array[String]): Unit = {
    val a = KgBuildMain.parseArgs(args)
    val graphDir = a.getOrElse("graph", "/tmp/graft-kg-out")
    val bind = a.getOrElse("bind", "127.0.0.1")
    val port = a.get("port").map(_.toInt).getOrElse(8080)
    // static bearer token: --token beats the env var; neither = open
    // (loopback dev mode)
    val token = a.get("token").orElse(sys.env.get("GRAFT_ASK_TOKEN"))
    val spark = Session("graft-ask-server")
    val server = start(spark, graphDir, port, bind, token)
    println(s"""{"serving":"http://localhost:${server.getAddress.getPort}","graph":${Json.str(graphDir)}}""")
    Thread.currentThread.join() // serve until killed
  }
}
