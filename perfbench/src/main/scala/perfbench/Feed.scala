package perfbench

import java.net.InetSocketAddress
import java.nio.ByteBuffer
import java.nio.channels.{SelectionKey, Selector, ServerSocketChannel, SocketChannel}
import scala.collection.mutable

/** Loopback Transis push server on one selector thread.
  *
  * Document `i` is released at `t0 + i * periodMs` (an open loop: the
  * schedule does not wait for the pipeline). Every GET is answered with
  * the stream from its start — every document released so far — and is
  * then kept open, receiving each later document as it is released.
  * That is the replayable endpoint `HttpPayloadTransport` needs for its
  * open-and-skip reads.
  *
  * Counts what the transport costs on the wire: connections accepted
  * and bytes written, against the payload's own size. */
final class Feed(docs: IndexedSeq[Array[Byte]], periodMs: Double) {
  private val selector = Selector.open()
  private val server = ServerSocketChannel.open()
  server.bind(new InetSocketAddress("127.0.0.1", 0))
  server.configureBlocking(false)
  server.register(selector, SelectionKey.OP_ACCEPT)

  val port: Int = server.socket().getLocalPort
  @volatile var connections = 0
  @volatile var bytesWritten = 0L
  @volatile private var released = 0
  /** Due and actual release time of each document, in nanoTime. */
  val dueNs = new Array[Long](docs.size)
  val sentNs = new Array[Long](docs.size)
  @volatile private var t0Ns = Long.MaxValue
  @volatile private var running = true
  @volatile private var paused = false

  private final class Conn(val ch: SocketChannel) {
    val request = new StringBuilder
    var responding = false
    val out = mutable.Queue.empty[ByteBuffer]
  }
  private val conns = mutable.ArrayBuffer.empty[Conn]
  private val header =
    "HTTP/1.1 200 OK\r\nContent-Type: text/xml\r\nConnection: close\r\n\r\n"
      .getBytes("US-ASCII")

  private val thread = new Thread(() => loop(), "perfbench-feed")
  thread.setDaemon(true)
  thread.start()

  /** Start the release schedule: document 0 is due `leadMs` from now. */
  def start(leadMs: Long): Unit = {
    val t = System.nanoTime() + leadMs * 1000000L
    var i = 0
    while (i < docs.size) { dueNs(i) = t + (i * periodMs * 1e6).toLong; i += 1 }
    t0Ns = t
    selector.wakeup()
  }

  def releasedCount: Int = released
  def payloadBytes: Long = docs.map(_.length.toLong).sum

  private def enqueue(c: Conn, b: Array[Byte]): Unit = {
    c.out.enqueue(ByteBuffer.wrap(b))
    if (c.ch.isOpen) {
      val k = c.ch.keyFor(selector)
      if (k != null && k.isValid) k.interestOps(SelectionKey.OP_WRITE)
    }
  }

  private def loop(): Unit =
    try {
      while (running) {
        val now = System.nanoTime()
        while (!paused && released < docs.size && t0Ns != Long.MaxValue &&
            dueNs(released) <= now) {
          val i = released
          sentNs(i) = System.nanoTime()
          released = i + 1
          conns.foreach(c => if (c.responding) enqueue(c, docs(i)))
          Trace.record("gen.send", sentNs(i), System.nanoTime(), 0, Trace.nextId())
        }
        val waitMs =
          if (released < docs.size && t0Ns != Long.MaxValue)
            math.max(1L, (dueNs(released) - now) / 1000000L)
          else 50L
        selector.select(waitMs)
        val it = selector.selectedKeys().iterator()
        while (it.hasNext) {
          val k = it.next(); it.remove()
          if (k.isValid && k.isAcceptable) accept()
          else if (k.isValid && k.isReadable) readRequest(k)
          else if (k.isValid && k.isWritable) flush(k)
        }
      }
    } catch {
      case _: java.nio.channels.ClosedSelectorException => ()
    } finally closeAll()

  private def accept(): Unit = {
    val ch = server.accept()
    if (ch != null) {
      ch.configureBlocking(false)
      val c = new Conn(ch)
      conns += c
      connections += 1
      ch.register(selector, SelectionKey.OP_READ, c)
    }
  }

  private def readRequest(k: SelectionKey): Unit = {
    val c = k.attachment().asInstanceOf[Conn]
    val buf = ByteBuffer.allocate(4096)
    val n = try c.ch.read(buf) catch { case _: java.io.IOException => -1 }
    if (n < 0) drop(c)
    else {
      c.request.append(new String(buf.array(), 0, n, "US-ASCII"))
      if (!c.responding && c.request.indexOf("\r\n\r\n") >= 0) {
        c.responding = true
        enqueue(c, header)
        var i = 0
        while (i < released) { enqueue(c, docs(i)); i += 1 }
        if (c.out.isEmpty) k.interestOps(0)
      }
    }
  }

  private def flush(k: SelectionKey): Unit = {
    val c = k.attachment().asInstanceOf[Conn]
    try {
      while (c.out.nonEmpty && {
        val b = c.out.head
        bytesWritten += c.ch.write(b)
        !b.hasRemaining
      }) c.out.dequeue()
      if (c.out.isEmpty) k.interestOps(SelectionKey.OP_READ)
    } catch { case _: java.io.IOException => drop(c) }
  }

  private def drop(c: Conn): Unit = {
    conns -= c
    try c.ch.close() catch { case _: java.io.IOException => () }
  }

  private def closeAll(): Unit = {
    conns.foreach(c => try c.ch.close() catch { case _: Exception => () })
    conns.clear()
    try server.close() catch { case _: Exception => () }
    try selector.close() catch { case _: Exception => () }
  }

  /** Release no further documents; connections stay open. */
  def pause(): Unit = { paused = true; selector.wakeup() }

  /** Close the listener and every connection, and wait for the thread. */
  def stop(): Unit = {
    running = false
    selector.wakeup()
    thread.join(10000)
  }

  /** How late the release thread ran, worst case, in ms. */
  def lateMsMax: Double = {
    var m = 0L
    var i = 0
    while (i < released) { m = math.max(m, sentNs(i) - dueNs(i)); i += 1 }
    m / 1e6
  }
}
