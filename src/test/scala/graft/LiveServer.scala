package graft

/** Live push server over loopback: each connection gets the HTTP headers
  * and every byte sent so far, and its socket is KEPT open (the
  * reference's real ingress — one streaming GET that stays up). `send`
  * appends to the stream and writes to every open connection, so a
  * reader that re-opens and skips sees the same documents as one that
  * stayed connected. With `replay = false` a connection gets only the
  * bytes sent after it opened, as the real feed does. Counts accepts, and
  * `connected` counts the connections that `send` reaches. */
class LiveServer(initial: Array[Byte], replay: Boolean = true) {
  private val server = new java.net.ServerSocket(0)
  val accepted = new java.util.concurrent.atomic.AtomicInteger(0)
  val connected = new java.util.concurrent.atomic.AtomicInteger(0)
  private val sent = new java.io.ByteArrayOutputStream()
  sent.write(initial)
  private val outs = scala.collection.mutable.ArrayBuffer.empty[java.io.OutputStream]
  private val socks =
    new java.util.concurrent.ConcurrentLinkedQueue[java.net.Socket]()
  @volatile private var running = true
  def url: String = s"http://127.0.0.1:${server.getLocalPort}/transis/pushservice"

  /** Append `bytes` to the stream and push them to every open connection. */
  def send(bytes: Array[Byte]): Unit = synchronized {
    sent.write(bytes)
    outs.foreach { out =>
      try { out.write(bytes); out.flush() }
      catch { case _: java.io.IOException => () }
    }
  }

  private val thread = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        accepted.incrementAndGet()
        socks.add(sock)
        val in = sock.getInputStream
        val req = new StringBuilder
        var b = in.read()
        while (b >= 0 && !req.endsWith("\r\n\r\n")) {
          req.append(b.toChar)
          b = if (req.endsWith("\r\n\r\n")) -1 else in.read()
        }
        val out = sock.getOutputStream
        LiveServer.this.synchronized {
          out.write("HTTP/1.0 200 OK\r\nContent-Type: text/xml\r\n\r\n"
            .getBytes("UTF-8"))
          if (replay) sent.writeTo(out)
          out.flush() // socket intentionally left open
          outs += out
          connected.incrementAndGet()
        }
      } catch {
        case _: Throwable if !running => ()
        case _: java.io.IOException => ()
      }
    }
  })
  thread.setDaemon(true)
  thread.start()

  def close(): Unit = {
    running = false
    server.close()
    socks.forEach(s => try s.close() catch { case _: java.io.IOException => () })
  }
}
