package graftbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

/** One answered request: client-side send and receive times (nanoTime)
  * and the server's request number, which names its Spark job group.
  */
final case class Done(cls: String, path: String, body: Option[String], startNs: Long, endNs: Long,
    code: Int, response: String, reqNo: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Minimal blocking HTTP client for one WarehouseServer. */
final class Http(port: Int) {
  import Http.sent

  def call(cls: String, method: String, path: String, body: Option[String] = None): Done = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setConnectTimeout(10000)
    c.setReadTimeout(170000)
    val bytes = body.map(_.getBytes(UTF_8))
    bytes.foreach { _ => c.setDoOutput(true); c.setRequestProperty("Content-Type", "application/json") }
    val t0 = System.nanoTime()
    val no = sent.incrementAndGet()
    bytes.foreach { b => val o = c.getOutputStream; try o.write(b) finally o.close() }
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val text = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
    Done(cls, path, body, t0, System.nanoTime(), code, text, no)
  }
}

object Http {
  /** WarehouseServer numbers requests in arrival order, across all
    * servers of the JVM (job group `graft-serve-<n>`); this counter
    * mirrors that number, so every request the JVM sends to a server
    * must go through this client.
    */
  private val sent = new AtomicLong(0L)
}
