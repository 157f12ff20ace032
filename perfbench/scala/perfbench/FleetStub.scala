package perfbench

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ExecutorService, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.sources.{HttpTransport, TransportFactory, VcoSource}

/** Localhost JSON-RPC stand-in for a VCO fleet.
  *
  * Serves `enterprise/getEnterpriseEdges` on `/portal/` for every VCO
  * in `bodies`; each VCO's `result` array is rendered once, up front,
  * so a request costs only the copy onto the socket. The pool has at
  * most `threads` daemon threads and is shut down by [[close]], so a
  * forgotten stub cannot keep the JVM alive.
  */
final class FleetStub(bodies: Map[String, Array[Byte]], threads: Int)
    extends AutoCloseable {

  val calls = new AtomicLong
  val failed = new AtomicLong
  val bytes = new AtomicLong

  private val pool: ExecutorService = Executors.newFixedThreadPool(threads,
    new ThreadFactory {
      private val n = new AtomicLong
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"fleet-stub-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })

  private val server: HttpServer = {
    val s = HttpServer.create(
      new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 64)
    s.createContext("/portal/", (ex: HttpExchange) => handle(ex))
    s.setExecutor(pool)
    s.start()
    s
  }

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  private val IdRe = "\"id\"\\s*:\\s*(\\d+)".r
  private val VcoRe = "\"vco\"\\s*:\\s*\"([^\"]*)\"".r

  private def handle(ex: HttpExchange): Unit =
    try {
      calls.incrementAndGet()
      val req = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val id = IdRe.findFirstMatchIn(req).map(_.group(1)).getOrElse("null")
      val body = VcoRe.findFirstMatchIn(req).flatMap(m => bodies.get(m.group(1)))
      val parts: Seq[Array[Byte]] = body match {
        case Some(result) =>
          Seq(s"""{"jsonrpc":"2.0","id":$id,"result":""".getBytes(UTF_8),
            result, "}".getBytes(UTF_8))
        case None =>
          failed.incrementAndGet()
          Seq(s"""{"jsonrpc":"2.0","id":$id,"error":{"code":-32000,"message":"unknown vco"}}"""
            .getBytes(UTF_8))
      }
      val len = parts.map(_.length.toLong).sum
      bytes.addAndGet(len)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, len)
      val out = ex.getResponseBody
      parts.foreach(out.write)
      out.close()
    } finally ex.close()

  override def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object FleetStub {
  /** The stub the transport factories dial; set by the benchmark
    * before a scan (local mode: executors share this JVM).
    */
  @volatile var current: FleetStub = _

  def transport(): HttpTransport =
    new HttpTransport(current.url, "perfbench-token")
}

/** Plain transport, as a nightly job would configure it. */
final class StubTransportFactory extends TransportFactory {
  override def create(): VcoSource.Transport = FleetStub.transport()
}

/** Traced runs only: the same transport behind a timing decorator
  * that logs every call to [[RpcLog]].
  */
final class TimedStubTransportFactory extends TransportFactory {
  override def create(): VcoSource.Transport = new VcoSource.Transport {
    private val inner = FleetStub.transport()
    override def call(method: String,
        paramsJson: String): Either[String, Seq[String]] = {
      val t0 = System.nanoTime()
      val out = inner.call(method, paramsJson)
      RpcLog.calls.add(RpcCall(t0, System.nanoTime(),
        out.map(_.size).getOrElse(0), out.isRight))
      out
    }
  }
}
