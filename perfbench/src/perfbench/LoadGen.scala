package perfbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.collection.immutable.ListMap

/** The raw record of one open-loop phase. Times are ns relative to the
  * phase start; `sendNs` is -1 for a request that was still unsent when
  * the phase ended (it counts as missing the latency limit).
  */
final case class Phase(name: String, rate: Double, seconds: Double,
                       dueNs: Array[Long], sendNs: Array[Long], doneNs: Array[Long],
                       status: Array[Int], ok: Array[Boolean]) {
  def toMap: ListMap[String, Any] = ListMap(
    "name" -> name, "rate" -> rate, "seconds" -> seconds,
    "due_ns" -> dueNs, "send_ns" -> sendNs, "done_ns" -> doneNs,
    "status" -> status, "ok" -> ok)
}

/** One keep-alive HTTP/1.1 connection, used by one thread at a time. */
final class Conn(port: Int) {
  private var sock: Socket = _
  private var in: InputStream = _
  private var out: OutputStream = _

  private def open(): Unit = {
    sock = new Socket()
    sock.setTcpNoDelay(true)
    sock.connect(new InetSocketAddress("127.0.0.1", port))
    in = new BufferedInputStream(sock.getInputStream, 1 << 16)
    out = sock.getOutputStream
  }

  def close(): Unit = if (sock != null) { sock.close(); sock = null }

  /** POST `body` to `path`; returns (status, response body). A broken
    * connection is closed and reopened by the next call.
    */
  def post(path: String, body: Array[Byte]): (Int, String) = {
    if (sock == null) open()
    try {
      val head = s"POST $path HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
        s"Content-Type: application/octet-stream\r\nContent-Length: ${body.length}\r\n\r\n"
      out.write(head.getBytes(US_ASCII)); out.write(body); out.flush()
      val status = line().split(" ")(1).toInt
      var len = 0
      var h = line()
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        if (i > 0 && h.substring(0, i).trim.equalsIgnoreCase("content-length"))
          len = h.substring(i + 1).trim.toInt
        h = line()
      }
      (status, new String(in.readNBytes(len), "UTF-8"))
    } catch {
      case e: java.io.IOException => close(); throw e
    }
  }

  private def line(): String = {
    val b = new ByteArrayOutputStream()
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed")
      if (c != '\r') b.write(c)
      c = in.read()
    }
    b.toString("US-ASCII")
  }
}

/** Open-loop load from one client: `conns` threads, one keep-alive
  * connection each. Request `i` is due at `i / rate` seconds; a free
  * thread takes the next request in order and sends it at its due time, or
  * at once when it is already late. Latency is measured from the due time,
  * so a stall is charged to every request queued behind it. Requests still
  * unsent when the phase's time is up are recorded as unsent.
  */
final class LoadGen(port: Int, conns: Int) {
  private val pool = Array.fill(conns)(new Conn(port))

  def close(): Unit = pool.foreach(_.close())

  def run(name: String, rate: Double, seconds: Double,
          body: Int => Array[Byte], valid: String => Boolean,
          onDone: (Int, Long, Long) => Unit = (_, _, _) => ()): Phase = {
    val n = math.max(1, math.round(rate * seconds).toInt)
    val due = Array.tabulate(n)(i => math.round(i * 1e9 / rate))
    val send = Array.fill(n)(-1L)
    val done = Array.fill(n)(-1L)
    val status = new Array[Int](n)
    val ok = new Array[Boolean](n)
    val next = new AtomicInteger(0)
    val limitNs = math.round(seconds * 1e9)
    val t0 = System.nanoTime() + 5000000L
    val threads = pool.map { c =>
      val th = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < n) {
          val wait = t0 + due(i) - System.nanoTime()
          if (wait > 0) LockSupport.parkNanos(wait)
          val s = System.nanoTime() - t0
          if (s <= limitNs) {
            send(i) = s
            val (code, resp) =
              try c.post("/search", body(i))
              catch { case _: java.io.IOException => (-1, "") }
            done(i) = System.nanoTime() - t0
            status(i) = code
            ok(i) = code == 200 && valid(resp)
            onDone(i, t0 + s, t0 + done(i))
          }
          i = next.getAndIncrement()
        }
      })
      th.start()
      th
    }
    threads.foreach(_.join())
    Phase(name, rate, seconds, due, send, done, status, ok)
  }
}
