package perfbench

import java.net.InetSocketAddress
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process Wazimap upload endpoint. It answers a fixed 1-in-20 of
  * first upload attempts with 503 (one seeded slot in every block of
  * twenty), so the sink's retry and backoff run on every run; a retry is
  * recognised by its multipart boundary, which the sink keeps across
  * attempts. It records attempts, bytes and the last accepted body.
  */
final class Stub(seed: Long) {
  val attempts = new AtomicLong
  val bytes = new AtomicLong
  private var firsts = 0L

  /** Restart the fault blocks, so a timed window of twenty uploads holds
    * exactly one fault. */
  def restartBlocks(): Unit = synchronized { firsts = 0L }
  private val failed = ConcurrentHashMap.newKeySet[String]()
  /** Body of the last accepted upload. */
  @volatile var last: Array[Byte] = Array.emptyByteArray

  private def faultSlot(block: Long): Long =
    new java.util.SplittableRandom(seed * 7919L + block).nextInt(20)

  private val server = HttpServer.create(
    new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/api/v1/datasets/", (ex: HttpExchange) => {
    val body = ex.getRequestBody.readAllBytes()
    attempts.incrementAndGet()
    bytes.addAndGet(body.length)
    val boundary = Option(ex.getRequestHeaders.getFirst("Content-Type"))
      .getOrElse("")
    val retry = failed.remove(boundary)
    val fault = !retry && synchronized {
      val i = firsts; firsts += 1
      i % 20 == faultSlot(i / 20)
    }
    val code = if (fault) { failed.add(boundary); 503 }
      else { last = body; 200 }
    val reply = if (code == 200) "ok" else "unavailable"
    ex.sendResponseHeaders(code, reply.length)
    ex.getResponseBody.write(reply.getBytes)
    ex.close()
  })
  server.start()

  val endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = server.stop(0)
}

object Stub {
  /** The file part of a multipart body, as the sink frames it. */
  def filePart(body: Array[Byte]): Array[Byte] = {
    val s = new String(body, java.nio.charset.StandardCharsets.ISO_8859_1)
    val head = s.indexOf("Content-Type: text/csv\r\n\r\n")
    val start = head + "Content-Type: text/csv\r\n\r\n".length
    val end = s.lastIndexOf("\r\n--")
    if (head < 0 || end < start) Array.emptyByteArray
    else s.substring(start, end).getBytes(
      java.nio.charset.StandardCharsets.ISO_8859_1)
  }
}
