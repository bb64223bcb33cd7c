package graft.perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** In-process webhook receiver: the far end of `WebhookSink.postWithRetry`.
  *
  * Two handler threads serve every POST. Each accepted (2xx) POST records
  * (payload id, receipt ns, body hash) into preallocated arrays — no
  * allocation beyond the HTTP exchange itself. The payload id is
  * the number behind the `"Id":"R…"` field of the webhook body, which is
  * unique per delivery row across every client of a run.
  *
  * Faults apply to POSTs whose path starts with `faultPath`, once [[arm]]
  * has been called, and follow a seeded schedule:
  *   - `rejectEvery`: one POST in every `rejectEvery` is rejected with
  *     503, at a seeded offset — transient failures the sink's retry
  *     absorbs;
  *   - outages: full-down windows of the fault path, each opened by the
  *     first accepted payload whose id reaches a scheduled id, and held
  *     for `outageMs` — long enough to exhaust the sink's attempts and
  *     abort the epoch.
  * With outages scheduled, the 503s start `outageMs` after the last
  * outage ends, so that each recovery's length is that of the abort and
  * restart path alone.
  *
  * `busyNs` is the handlers' own time, so a run where the receiver is the
  * bottleneck shows it next to the sink's delivery time.
  */
final class Receiver(capacity: Int, faultPath: String = "",
    rejectEvery: Int = 0, rejectOffset: Int = 0, outageAtId: Array[Long] = Array.empty,
    outageMs: Long = 0L) {
  private val ids = new Array[Long](capacity)
  private val atNs = new Array[Long](capacity)
  private val bodyHash = new Array[Int](capacity)
  private val accepted = new AtomicInteger(0)
  val posts = new AtomicLong(0)
  val rejected = new AtomicLong(0)
  val busyNs = new AtomicLong(0)
  val outagesOpened = new AtomicInteger(0)
  @volatile private var downUntilNs = Long.MinValue
  @volatile private var quietUntilNs = if (outageAtId.isEmpty) Long.MinValue else Long.MaxValue
  @volatile private var armed = false
  private var nextOutage = 0
  private var faultPosts = 0L

  /** Start the fault schedule. */
  def arm(): Unit = armed = true

  private val pool = Executors.newFixedThreadPool(2)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  def url(path: String): String =
    s"http://127.0.0.1:${server.getAddress.getPort}$path"

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val body = ex.getRequestBody.readAllBytes()
    posts.incrementAndGet()
    val faulty = armed && faultPath.nonEmpty && ex.getRequestURI.getPath.startsWith(faultPath)
    val status = synchronized {
      if (faulty && t0 < downUntilNs) 503
      else if (faulty && rejectEvery > 0 && t0 >= quietUntilNs &&
          { faultPosts += 1; (faultPosts + rejectOffset) % rejectEvery == 0 }) 503
      else {
        val id = Receiver.payloadId(body)
        val k = accepted.getAndIncrement()
        if (k < capacity) {
          ids(k) = id; atNs(k) = t0
          bodyHash(k) = java.util.Arrays.hashCode(body)
        }
        if (faulty && nextOutage < outageAtId.length && id >= outageAtId(nextOutage)) {
          nextOutage += 1
          downUntilNs = t0 + outageMs * 1000000L
          quietUntilNs = if (nextOutage < outageAtId.length) Long.MaxValue
            else t0 + 2 * outageMs * 1000000L
          outagesOpened.incrementAndGet()
        }
        200
      }
    }
    if (status != 200) rejected.incrementAndGet()
    ex.sendResponseHeaders(status, -1)
    ex.close()
    busyNs.addAndGet(System.nanoTime() - t0)
  }

  /** Accepted receipts so far (bounded by capacity). */
  def count: Int = math.min(accepted.get(), capacity)
  def overflowed: Boolean = accepted.get() > capacity

  /** Snapshot of (payload ids, receipt ns, body hashes) of the receipts. */
  def receipts: (Array[Long], Array[Long], Array[Int]) = synchronized {
    val n = count
    (java.util.Arrays.copyOf(ids, n), java.util.Arrays.copyOf(atNs, n),
      java.util.Arrays.copyOf(bodyHash, n))
  }

  def close(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object Receiver {
  private val Marker = "\"Id\":\"R".getBytes("US-ASCII")

  /** The numeric part of the payload's `"Id":"R<n>"` field, or -1. */
  def payloadId(body: Array[Byte]): Long = {
    var i = 0
    while (i + Marker.length <= body.length) {
      var j = 0
      while (j < Marker.length && body(i + j) == Marker(j)) j += 1
      if (j == Marker.length) {
        var k = i + j
        var v = 0L
        while (k < body.length && body(k) >= '0' && body(k) <= '9') {
          v = v * 10 + (body(k) - '0'); k += 1
        }
        return v
      }
      i += 1
    }
    -1L
  }
}
