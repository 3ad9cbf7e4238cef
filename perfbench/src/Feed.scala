package perfbench

import java.net.{InetSocketAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import scala.jdk.CollectionConverters._

/** In-process AEMO feed over loopback HTTP: `/feed` lists every zip
  * published so far as `<a href>` links, `/zips/<name>` serves one zip.
  * Counts requests, bytes served and repeated downloads (retries), so the
  * fetch layer is measured at the server. At most four requests are
  * served at once, as the daemon downloads with four workers.
  */
final class Feed {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 16)
  private val pool = Executors.newFixedThreadPool(4)
  private val zips = new ConcurrentHashMap[String, Array[Byte]]()
  private val listed = new java.util.ArrayList[String]()
  private val gets = new ConcurrentHashMap[String, AtomicInteger]()
  val requests = new AtomicLong()
  val bytes = new AtomicLong()

  private def reply(x: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    requests.incrementAndGet()
    x.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) { val o = x.getResponseBody; o.write(body); o.close() }
    bytes.addAndGet(body.length.toLong)
    x.close()
  }

  server.createContext("/feed", (x: HttpExchange) => {
    val names = listed.synchronized(listed.asScala.toVector)
    val html = names.map(n => s"""<a href="/zips/$n">$n</a><br>""")
      .mkString("<html><body>\n", "\n", "\n</body></html>")
    reply(x, 200, html.getBytes("UTF-8"))
  })
  server.createContext("/zips/", (x: HttpExchange) => {
    val name = x.getRequestURI.getPath.stripPrefix("/zips/")
    Option(zips.get(name)) match {
      case Some(b) =>
        gets.computeIfAbsent(name, _ => new AtomicInteger()).incrementAndGet()
        reply(x, 200, b)
      case None => reply(x, 404, Array.emptyByteArray)
    }
  })
  server.setExecutor(pool)
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/feed"
  private val client = HttpClient.newHttpClient()

  def publish(z: Zip): Unit = {
    zips.put(z.name, z.bytes)
    listed.synchronized(listed.add(z.name))
  }

  /** GET the feed page, as the daemon's scraper does each tick. */
  def page(): String =
    client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()

  /** Downloads beyond the first of each zip. */
  def retries: Long = gets.values.asScala.map(_.get - 1L).filter(_ > 0).sum

  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}

/** Open-loop publisher: item `i` is due at `t0 + i * intervalNs`, no
  * matter when item `i - 1` was actually published, so a slow consumer
  * cannot slow the arrivals down. `actual(i)` stamps when it went out;
  * lateness is actual minus due. Runs on its own thread.
  */
final class Publisher[A](items: IndexedSeq[A], t0: Long, intervalNs: Long,
    publish: A => Unit, clock: () => Long = () => System.nanoTime()) extends Thread("perfbench-publisher") {
  setDaemon(true)
  val actual: Array[Long] = Array.fill(items.size)(-1L)
  def due(i: Int): Long = t0 + i * intervalNs
  private val done = new AtomicInteger()

  override def run(): Unit = items.indices.foreach { i =>
    var wait = due(i) - clock()
    while (wait > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(wait)
      wait = due(i) - clock()
    }
    publish(items(i))
    actual(i) = clock()
    done.incrementAndGet()
  }

  def published: Int = done.get
  def lateNs(i: Int): Long = actual(i) - due(i)
  def maxLateS: Double =
    if (items.isEmpty) 0.0 else items.indices.map(lateNs).max.max(0L) / 1e9
}
