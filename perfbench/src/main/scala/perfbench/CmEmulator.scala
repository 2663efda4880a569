package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.util.concurrent.{ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicLong

/** Loopback emulator of Cloudera Manager's `impalaQueries` endpoint.
  *
  * Serves pre-serialized documents with the API's contract:
  *  - basic auth (the reader decodes its password from a base64 file);
  *  - `from`/`to` windows over `startTime`, `filter`, `limit`/`offset`;
  *  - newest rows first; a window holding more than `cap` rows is cut to
  *    its newest `cap` rows, and every page of a cut window carries the
  *    truncation warning whose last token is the earliest start time
  *    considered. The reader then narrows `to` to that instant, so each
  *    row is served once across window shifts (start instants are unique
  *    to the millisecond);
  *  - a fixed per-request delay that stands for a remote server.
  *
  * Each dataset is mounted at its own path. Counters cover every request
  * since the last [[reset]].
  */
final class CmEmulator(threads: Int, delayMs: Long, cap: Int,
    val user: String, val password: String) {

  private final class Dataset(rows: IndexedSeq[QRow]) {
    // ascending by start; documents pre-serialized
    private val sorted = rows.sortBy(_.startMs)
    val starts: Array[Long] = sorted.map(_.startMs).toArray
    val docs: Array[Array[Byte]] =
      sorted.map(q => QuerylogGen.restDoc(q).getBytes(UTF_8)).toArray
    val served = new java.util.BitSet(starts.length)
    var duplicates = 0L // guarded by the dataset's lock, like `served`
  }

  private val datasets =
    new java.util.concurrent.ConcurrentHashMap[String, Dataset]()

  val requests = new AtomicLong
  val rowsServed = new AtomicLong
  val bytesServed = new AtomicLong
  val windowShifts = new AtomicLong
  val serveNs = new AtomicLong

  private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(
    new InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 0)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  def url(name: String): String =
    s"http://127.0.0.1:${server.getAddress.getPort}/api/v19/$name/impalaQueries"

  def mount(name: String, rows: IndexedSeq[QRow]): Unit =
    datasets.put(s"/api/v19/$name/impalaQueries", new Dataset(rows))

  def reset(): Unit = {
    Seq(requests, rowsServed, bytesServed, windowShifts, serveNs)
      .foreach(_.set(0))
    datasets.values().forEach { d =>
      d.synchronized { d.served.clear(); d.duplicates = 0 } }
  }

  /** (rows served at least once, rows served more than once) of one
    * dataset since the last reset.
    */
  def delivery(name: String): (Long, Long) = {
    val d = datasets.get(s"/api/v19/$name/impalaQueries")
    d.synchronized { (d.served.cardinality().toLong, d.duplicates) }
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }

  private val expectedAuth = "Basic " + java.util.Base64.getEncoder
    .encodeToString(s"$user:$password".getBytes(UTF_8))

  private def params(q: String): Map[String, String] =
    Option(q).toSeq.flatMap(_.split('&')).map { kv =>
      val i = kv.indexOf('=')
      kv.take(i) -> URLDecoder.decode(kv.drop(i + 1), UTF_8)
    }.toMap

  private def lowerBound(a: Array[Long], key: Long): Int = {
    val i = java.util.Arrays.binarySearch(a, key)
    if (i >= 0) i else -i - 1
  }

  private def reply(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, body.length.toLong)
    val os = ex.getResponseBody
    try os.write(body) finally os.close()
  }

  private def handle(ex: HttpExchange): Unit = {
    Thread.sleep(delayMs)
    val t0 = System.nanoTime()
    requests.incrementAndGet()
    val ds = datasets.get(ex.getRequestURI.getPath)
    if (ex.getRequestHeaders.getFirst("Authorization") != expectedAuth)
      reply(ex, 401, "{}".getBytes(UTF_8))
    else if (ds == null) reply(ex, 404, "{}".getBytes(UTF_8))
    else {
      val p = params(ex.getRequestURI.getRawQuery)
      val from = Instant.parse(p("from")).toEpochMilli
      val to = Instant.parse(p("to")).toEpochMilli
      val limit = p("limit").toInt
      val offset = p("offset").toInt
      require(p("filter").startsWith("queryType = QUERY"), p("filter"))
      val lo = lowerBound(ds.starts, from)
      val hi = lowerBound(ds.starts, to) // [lo, hi) is the window
      val truncated = hi - lo > cap
      val first = if (truncated) hi - cap else lo // earliest considered
      // newest first: this page holds indexes top down to bottom
      val top = hi - 1 - offset
      val bottom = math.max(first, top - limit + 1)
      val out = new java.io.ByteArrayOutputStream()
      out.write("""{"queries":[""".getBytes(UTF_8))
      var i = top
      while (i >= bottom) {
        if (i < top) out.write(',')
        out.write(ds.docs(i))
        ds.synchronized {
          if (ds.served.get(i)) ds.duplicates += 1 else ds.served.set(i)
        }
        i -= 1
      }
      val n = math.max(0, top - bottom + 1)
      out.write(']')
      if (truncated) {
        out.write((""","warnings":["Impala query scan limit reached. """ +
          "Last end time considered is " +
          s"""${QuerylogGen.fmt(ds.starts(first))}"]""").getBytes(UTF_8))
        if (n < limit) windowShifts.incrementAndGet()
      }
      out.write('}')
      val body = out.toByteArray
      rowsServed.addAndGet(n)
      bytesServed.addAndGet(body.length)
      reply(ex, 200, body)
    }
    serveNs.addAndGet(System.nanoTime() - t0)
  }
}
