package perfbench

import java.io.{BufferedOutputStream, EOFException, InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** An append-only binlog file held in memory: whole events and their start
  * positions. Readers block in [[await]] until more is appended. */
final class Binlog(fde: Array[Byte]) {
  private val events = mutable.ArrayBuffer[Array[Byte]](fde)
  private val starts = mutable.ArrayBuffer[Long](4L)
  private var end = 4L + fde.length

  def append(evs: Seq[Array[Byte]]): Unit = synchronized {
    evs.foreach { e => events += e; starts += end; end += e.length }
    notifyAll()
  }
  def size: Int = synchronized(events.size)
  def apply(i: Int): Array[Byte] = synchronized(events(i))
  /** Index of the event starting at `pos`, if one does; the end of the log
    * is where the next append will start, so a replica may resume there. */
  def indexAt(pos: Long): Option[Int] = synchronized {
    if (pos == end) return Some(events.size)
    var lo = 0; var hi = starts.size - 1
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (starts(mid) < pos) lo = mid + 1 else hi = mid }
    if (starts(lo) == pos) Some(lo) else None
  }
  /** Block until the log holds more than `n` events or `timeoutMs` passes. */
  def await(n: Int, timeoutMs: Long): Int = synchronized {
    if (events.size <= n) wait(timeoutMs)
    events.size
  }
}

/** A MySQL master for one replica at a time, speaking the public client
  * protocol: the HandshakeV10 greeting and OK, the replica's S2 checks
  * (`binlog_format`, `binlog_row_image`), the heartbeat and checksum SETs,
  * `SELECT @@global.binlog_checksum`, COM_REGISTER_SLAVE, and
  * COM_BINLOG_DUMP from any (file, pos) that starts an event — the artificial
  * ROTATE and the FORMAT_DESCRIPTION event first, as a real master does, then
  * the log from that event on, waiting for appends and never sending EOF.
  *
  * It records when each dump was requested, when it last handed an event to
  * a replica, and how long its socket writes were blocked by a slow reader. */
final class FakeMaster(log: Binlog) {
  import Traffic.W

  private val server = new ServerSocket(0, 4, InetAddress.getByName("127.0.0.1"))
  @volatile private var closed = false
  def port: Int = server.getLocalPort

  final case class Dump(file: String, pos: Long, atNanos: Long)
  val dumps = new java.util.concurrent.LinkedBlockingQueue[Dump]()
  /** Nanoseconds spent inside socket writes (blocked on the replica). */
  val blockedNanos = new java.util.concurrent.atomic.AtomicLong()
  /** When the latest connection last handed an event to its socket. */
  @volatile var lastSendNanos = 0L
  @volatile private var conn: Option[Socket] = None

  def start(): FakeMaster = {
    val t = new Thread(() => {
      while (!closed) {
        try {
          val s = server.accept()
          conn.foreach(c => try c.close() catch { case _: Exception => () })
          conn = Some(s)
          val h = new Thread(() => serve(s), "fake-master-conn")
          h.setDaemon(true)
          h.start()
        } catch { case _: Exception => () }
      }
    }, "fake-master-accept")
    t.setDaemon(true)
    t.start()
    this
  }

  def close(): Unit = {
    closed = true
    server.close()
    conn.foreach(c => try c.close() catch { case _: Exception => () })
  }

  private def frame(out: OutputStream, seq: Int, payload: Array[Byte]): Unit = {
    val n = payload.length
    out.write(n & 0xff); out.write((n >> 8) & 0xff); out.write((n >> 16) & 0xff); out.write(seq & 0xff)
    out.write(payload)
  }

  private def read(in: InputStream): (Int, Array[Byte]) = {
    def n(k: Int): Array[Byte] = {
      val b = new Array[Byte](k); var off = 0
      while (off < k) { val r = in.read(b, off, k - off); if (r < 0) throw new EOFException(); off += r }
      b
    }
    val h = n(4)
    (h(3) & 0xff, n((h(0) & 0xff) | ((h(1) & 0xff) << 8) | ((h(2) & 0xff) << 16)))
  }

  private def serve(s: Socket): Unit =
    try {
      s.setTcpNoDelay(true)
      val in = new java.io.BufferedInputStream(s.getInputStream)
      val out = new BufferedOutputStream(s.getOutputStream, 1 << 16)
      frame(out, 0, FakeMaster.greeting); out.flush()
      read(in) // HandshakeResponse41: any credentials are accepted
      frame(out, 2, FakeMaster.ok); out.flush()
      var dumping = false
      while (!dumping && !closed) {
        val (_, p) = read(in)
        (p(0) & 0xff) match {
          case 0x03 => // COM_QUERY
            val sql = new String(p, 1, p.length - 1, UTF_8).trim
            val low = sql.toLowerCase
            val replies =
              if (low.contains("binlog_format")) FakeMaster.variable("binlog_format", "ROW")
              else if (low.contains("binlog_row_image")) FakeMaster.variable("binlog_row_image", "FULL")
              else if (low.startsWith("set ")) Seq(FakeMaster.ok)
              else if (low.startsWith("select @@global.binlog_checksum"))
                FakeMaster.resultSet(Seq("@@global.binlog_checksum"), Seq("CRC32"))
              else Seq(FakeMaster.err(1064, s"unsupported statement: $sql"))
            replies.zipWithIndex.foreach { case (r, i) => frame(out, i + 1, r) }
            out.flush()
          case 0x15 => frame(out, 1, FakeMaster.ok); out.flush() // COM_REGISTER_SLAVE
          case 0x12 => // COM_BINLOG_DUMP
            val r = java.nio.ByteBuffer.wrap(p).order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val pos = r.getInt(1) & 0xffffffffL
            val file = new String(p, 11, p.length - 11, UTF_8)
            val d = Dump(file, pos, System.nanoTime())
            dumps.put(d)
            log.indexAt(if (pos < 4) 4 else pos).filter(_ => file.isEmpty || file == Traffic.File) match {
              case Some(i) => dumping = true; stream(s, out, i, pos)
              case None =>
                frame(out, 1, FakeMaster.err(1236,
                  s"Client requested master to start replication from impossible position ($file, $pos)"))
                out.flush()
            }
          case 0x01 => return // COM_QUIT
          case other => frame(out, 1, FakeMaster.err(1047, s"unknown command $other")); out.flush()
        }
      }
    } catch {
      case _: EOFException | _: java.net.SocketException => ()
    } finally s.close()

  /** Stream from event `from`: artificial ROTATE, the FDE, then the log. */
  private def stream(s: Socket, out: OutputStream, from: Int, pos: Long): Unit = {
    var seq = 1
    def send(ev: Array[Byte]): Unit = {
      val payload = new Array[Byte](ev.length + 1)
      System.arraycopy(ev, 0, payload, 1, ev.length)
      val t0 = System.nanoTime()
      frame(out, seq, payload)
      blockedNanos.addAndGet(System.nanoTime() - t0)
      seq += 1
    }
    send(FakeMaster.rotate(math.max(pos, 4L)))
    send(FakeMaster.withLogPos(log(0), if (from == 0) 4L + log(0).length else 0L))
    var i = math.max(from, 1)
    while (!closed && !s.isClosed) {
      val n = log.size
      while (i < n) {
        send(log(i))
        lastSendNanos = System.nanoTime()
        i += 1
      }
      val t0 = System.nanoTime()
      out.flush()
      blockedNanos.addAndGet(System.nanoTime() - t0)
      log.await(i, 50)
    }
  }
}

object FakeMaster {
  import Traffic.W

  val greeting: Array[Byte] = {
    val w = new W
    w.u8(10); w.raw("8.0.36-perfbench".getBytes(UTF_8)); w.u8(0)
    w.u32(7)
    w.raw("abcdefgh".getBytes(UTF_8)); w.u8(0)
    w.u16(0xa200 | 0x0002) // PROTOCOL_41 | SECURE_CONNECTION | TRANSACTIONS
    w.u8(33); w.u16(2); w.u16(0x0008) // charset, status, caps high: PLUGIN_AUTH
    w.u8(21); w.zeros(10)
    w.raw("ijklmnopqrst".getBytes(UTF_8)); w.u8(0)
    w.raw("mysql_native_password".getBytes(UTF_8)); w.u8(0)
    w.result
  }
  val ok: Array[Byte] = new W().u8(0).u8(0).u8(0).u16(2).u16(0).result
  val eof: Array[Byte] = new W().u8(0xfe).u16(0).u16(2).result
  def err(code: Int, msg: String): Array[Byte] =
    new W().u8(0xff).u16(code).u8('#').raw("HY000".getBytes(UTF_8)).raw(msg.getBytes(UTF_8)).result

  private def lenencStr(w: W, s: String): Unit = {
    val b = s.getBytes(UTF_8); w.lenenc(b.length); w.raw(b)
  }
  private def colDef(name: String): Array[Byte] = {
    val w = new W
    Seq("def", "", "", "", name, name).foreach(lenencStr(w, _))
    w.u8(0x0c); w.u16(33); w.u32(255); w.u8(253); w.u16(0); w.u8(0); w.u16(0)
    w.result
  }
  /** Text-protocol resultset payloads (one row), framed by the caller. */
  def resultSet(cols: Seq[String], row: Seq[String]): Seq[Array[Byte]] = {
    val r = new W; row.foreach(lenencStr(r, _))
    Seq(new W().lenenc(cols.size).result) ++ cols.map(colDef) ++ Seq(eof, r.result, eof)
  }
  def variable(name: String, value: String): Seq[Array[Byte]] =
    resultSet(Seq("Variable_name", "Value"), Seq(name, value))

  private def crcd(headerAndBody: Array[Byte]): Array[Byte] = {
    val c = new java.util.zip.CRC32(); c.update(headerAndBody)
    new W().raw(headerAndBody).u32(c.getValue).result
  }

  /** The artificial ROTATE a master sends first on every dump. */
  def rotate(pos: Long): Array[Byte] = {
    val body = new W().u64(pos).raw(Traffic.File.getBytes(UTF_8)).result
    val w = new W
    w.u32(0); w.u8(Traffic.Rotate); w.u32(Traffic.ServerId); w.u32(19 + body.length + 4)
    w.u32(0); w.u16(0x20) // LOG_EVENT_ARTIFICIAL_F
    w.raw(body)
    crcd(w.result)
  }

  /** A copy of `ev` with its header log_pos replaced and the CRC redone. */
  def withLogPos(ev: Array[Byte], logPos: Long): Array[Byte] = {
    val hb = java.util.Arrays.copyOf(ev, ev.length - 4)
    val p = new W().u32(logPos).result
    System.arraycopy(p, 0, hb, 13, 4)
    crcd(hb)
  }
}
