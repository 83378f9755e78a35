package graft.core

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutorService, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The HTTP shim under the engine's two services
  * ([[graft.reco.RecommenderService]], [[graft.streaming.LiveCountsService]]):
  * a JDK built-in `HttpServer` whose handlers run on a fixed pool of
  * named daemon threads, so concurrent clients are served in parallel
  * instead of queueing on the server's single dispatcher thread. Zero
  * added dependencies.
  */
object HttpShim {

  /** Handler threads per server. Threads start on demand, not here. */
  private val Threads = 4

  // The JDK server writes a response's headers and body as two TCP
  // segments. With Nagle's algorithm on, the body waits for the
  // client's delayed ACK of the headers: a 40 ms floor (on Linux)
  // under every request's latency. The server reads this property
  // once, when the first server in the JVM is created; an explicit
  // setting is left alone.
  if (System.getProperty("sun.net.httpserver.nodelay") == null)
    System.setProperty("sun.net.httpserver.nodelay", "true")

  /** `method` requests under `path` (a prefix, as `HttpServer` contexts
    * are) run `handle`; any other method gets a bodyless 404. */
  final case class Route(method: String, path: String, handle: HttpExchange => Unit)

  final class Handle private[HttpShim] (server: HttpServer,
      pool: ExecutorService, threads: ConcurrentLinkedQueue[Thread]) {
    def port: Int = server.getAddress.getPort

    /** Stops the server, then the pool; returns once every handler
      * thread has ended (a handler still running gets 10 s). */
    def stop(): Unit = {
      server.stop(0)
      pool.shutdown()
      threads.asScala.foreach(_.join(10000L))
    }
  }

  /** Serves `routes` on `port` (0 picks a free one); paths no route
    * covers get a bodyless 404. Handler threads are named `<name>-http-<i>`. */
  def start(name: String, port: Int, routes: Route*): Handle = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    val threads = new ConcurrentLinkedQueue[Thread]()
    val ids = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(Threads, new ThreadFactory {
      override def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"$name-http-${ids.incrementAndGet()}")
        t.setDaemon(true)
        threads.add(t)
        t
      }
    })
    server.setExecutor(pool)
    routes.foreach { r =>
      server.createContext(r.path, (ex: HttpExchange) =>
        if (ex.getRequestMethod == r.method) r.handle(ex) else notFound(ex))
    }
    if (!routes.exists(_.path == "/")) server.createContext("/", notFound(_))
    server.start()
    new Handle(server, pool, threads)
  }

  def respond(ex: HttpExchange, code: Int, contentType: String,
      body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, body.length.toLong)
    ex.getResponseBody.write(body)
    ex.close()
  }

  /** `code` with the error's message as plain text. */
  def error(ex: HttpExchange, code: Int, e: Exception): Unit =
    respond(ex, code, "text/plain",
      String.valueOf(e.getMessage).getBytes(StandardCharsets.UTF_8))

  def notFound(ex: HttpExchange): Unit = {
    ex.sendResponseHeaders(404, -1); ex.close()
  }
}
