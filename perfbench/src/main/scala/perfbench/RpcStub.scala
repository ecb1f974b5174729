package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory}
import java.util.concurrent.atomic.LongAdder

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.sources.rpc.{RpcCodec, SyntheticRpcServer}

/** Loopback JSON-RPC node for the `graft-rpc` source. Results are the
  * engine's own [[SyntheticRpcServer]] content, rendered once per
  * (method, block) by [[prerender]] so that serving a batch is a lookup
  * plus string concatenation: the measurement then covers the client's
  * fetch and decode, not the stub generating responses.
  *
  * Batches are answered in reverse id order (clients must re-key by id).
  * Every element counts one call of its method; each POST counts once,
  * with its request and response bytes and the handler's busy time. */
final class RpcStub(threads: Int) {
  private val mapper = new ObjectMapper()
  private val rendered = new ConcurrentHashMap[String, String]()
  private val calls = new ConcurrentHashMap[String, LongAdder]()
  private val postCount = new LongAdder
  private val bytesIn = new LongAdder
  private val bytesOut = new LongAdder
  private val busyNs = new LongAdder
  private val errorCount = new LongAdder
  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  private def key(method: String, fullTxs: Boolean, block: Long): String =
    s"$method|$fullTxs|$block"

  /** Render every result the ingest of `[lo, hi]` asks for. */
  def prerender(lo: Long, hi: Long): Unit = {
    rendered.clear()
    for (from <- lo to hi by 100L) {
      val to = math.min(hi, from + 99L)
      def put(method: String, fullTxs: Boolean, request: String): Unit = {
        val resp = mapper.readTree(SyntheticRpcServer.handle(request, tip = hi))
        (0 until resp.size).foreach { i =>
          val el = resp.get(i)
          rendered.put(key(method, fullTxs, from + el.get("id").asLong),
            mapper.writeValueAsString(el.get("result")))
        }
      }
      put("eth_getBlockByNumber", fullTxs = false, RpcCodec.blocksRequest(from, to, fullTxs = false))
      put("eth_getBlockByNumber", fullTxs = true, RpcCodec.blocksRequest(from, to, fullTxs = true))
      put("eth_getBlockReceipts", fullTxs = false, RpcCodec.receiptsRequest(from, to))
      put("trace_block", fullTxs = false, RpcCodec.tracesRequest(from, to))
    }
  }

  def renderedCount: Int = rendered.size

  /** Answer one batch body from the rendered results. */
  def handle(body: String): String = {
    val req = mapper.readTree(body)
    require(req.isArray, "stub accepts batch requests only")
    val sb = new java.lang.StringBuilder("[")
    (req.size - 1 to 0 by -1).foreach { k =>
      val r = req.get(k)
      val id = r.path("id").asLong
      val method = r.path("method").asText
      calls.computeIfAbsent(method, _ => new LongAdder).increment()
      val params = r.path("params")
      val block = if (params.size > 0) RpcCodec.parseQty(params.get(0)).toLong else -1L
      val result = rendered.get(key(method, params.path(1).asBoolean(false), block))
      if (sb.length > 1) sb.append(',')
      sb.append("{\"jsonrpc\":\"2.0\",\"id\":").append(id)
      if (result != null) sb.append(",\"result\":").append(result).append('}')
      else {
        errorCount.increment()
        sb.append(",\"error\":{\"code\":-32601,\"message\":\"not rendered: ")
          .append(method).append("\"}}")
      }
    }
    sb.append(']').toString
  }

  /** Start serving on a loopback port; returns the node URL. */
  def start(): String = {
    val daemons: ThreadFactory = r => {
      val t = new Thread(r, "rpc-stub"); t.setDaemon(true); t
    }
    pool = Executors.newFixedThreadPool(threads, daemons)
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
    server.setExecutor(pool)
    server.createContext("/", (ex: HttpExchange) => {
      val t0 = System.nanoTime()
      try {
        val in = ex.getRequestBody.readAllBytes()
        val out = handle(new String(in, UTF_8)).getBytes(UTF_8)
        postCount.increment()
        bytesIn.add(in.length.toLong)
        bytesOut.add(out.length.toLong)
        ex.sendResponseHeaders(200, out.length.toLong)
        ex.getResponseBody.write(out)
      } catch {
        case e: Exception =>
          errorCount.increment()
          val msg = String.valueOf(e.getMessage).getBytes(UTF_8)
          ex.sendResponseHeaders(500, msg.length.toLong)
          ex.getResponseBody.write(msg)
      } finally {
        ex.close()
        busyNs.add(System.nanoTime() - t0)
      }
    })
    server.start()
    s"http://127.0.0.1:${server.getAddress.getPort}/"
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) pool.shutdownNow()
    server = null; pool = null
  }

  /** Counter snapshot: `calls.<method>`, posts, bytes, busy seconds, errors. */
  def snapshot(): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    calls.asScala.map { case (m, n) => s"calls.$m" -> n.sum.toDouble }.toMap ++ Map(
      "posts" -> postCount.sum.toDouble,
      "bytes_in" -> bytesIn.sum.toDouble,
      "bytes_out" -> bytesOut.sum.toDouble,
      "busy_s" -> busyNs.sum / 1e9,
      "errors" -> errorCount.sum.toDouble)
  }
}
