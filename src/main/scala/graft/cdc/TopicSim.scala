package graft.cdc

import java.io.{DataInputStream, DataOutputStream, EOFException}
import java.net.{InetAddress, ServerSocket, Socket}
import scala.collection.mutable

/** A socket-served single-partition topic — the wire-twin's stand-in for a
  * Kafka broker (no kafka-clients jar resolves in this environment, see
  * SURVEY §2.12), so the K1 recovery scan (S5) runs against a SERVER
  * rather than a local file. The surface mirrors exactly what the
  * reference's recovery consumes from sarama
  * (/root/reference/sink/kafka/kafka.go:134-255): the partition's high
  * water mark, and a fetch of (offset, message) pairs from a given offset.
  *
  * Wire protocol (all big-endian):
  *   request  = 0x01                      — high water mark
  *            | 0x02 ++ int64 fromOffset  — fetch to current hwm
  *            | 0x03 ++ int32 len ++ data — append one message (producer)
  *            | 0x04 ++ int64 fromOffset ++ int32 maxMessages — one
  *              BOUNDED page (the streaming consumer's poll unit: without
  *              it the paged consume path would re-stream the whole tail
  *              per page — quadratic on the wire)
  *   response = int64 hwm                          (for 0x01 and 0x03)
  *            | { int64 offset, int32 len, data }* ++ int64 -1   (for 0x02/0x04)
  * Every request and response is self-delimiting, so requests ride one
  * persistent connection back-to-back (the server loops until EOF) — the
  * original one-request-per-connection shape cost ~10x in the ordered
  * produce loop (BENCH_cdc: 6.3k vs 61.6k ops/s) because every produce
  * paid a TCP dial. A client may still dial per request; the topic itself
  * is in-memory + optionally seeded from the wire-twin's b64 lines.
  */
final class TopicServer(seed: Seq[Array[Byte]] = Nil) {

  private val messages = mutable.ArrayBuffer[Array[Byte]](seed: _*)
  private val server = new ServerSocket(0, 16, InetAddress.getByName("127.0.0.1"))
  @volatile private var closed = false

  def port: Int = server.getLocalPort
  def highWaterMark: Long = synchronized(messages.size.toLong)
  def append(msg: Array[Byte]): Long = synchronized { messages += msg; messages.size - 1L }
  def messageAt(offset: Long): Array[Byte] = synchronized(messages(offset.toInt))

  def start(): TopicServer = {
    val t = new Thread(() => {
      while (!closed) {
        try {
          val sock = server.accept()
          val h = new Thread(() => handle(sock), "topic-sim-conn")
          h.setDaemon(true)
          h.start()
        } catch { case _: Exception => () } // closed
      }
    }, "topic-sim-accept")
    t.setDaemon(true)
    t.start()
    this
  }

  private def handle(sock: Socket): Unit =
    try {
      // NODELAY + buffered streams: DataOutputStream.writeLong on a raw
      // socket is eight 1-byte writes — under Nagle each response would
      // wait on the peer's delayed ACK (~40ms per request, a 1000x stall
      // on the persistent-connection produce loop). Buffering coalesces a
      // response into one segment; the explicit flush after serveOne is
      // the frame boundary.
      sock.setTcpNoDelay(true)
      val in = new DataInputStream(
        new java.io.BufferedInputStream(sock.getInputStream))
      val out = new DataOutputStream(
        new java.io.BufferedOutputStream(sock.getOutputStream))
      while (true) serveOne(in, out)
    } catch { case _: EOFException => () }
    finally sock.close()

  private def serveOne(in: DataInputStream, out: DataOutputStream): Unit = {
    in.readByte() match {
        case 0x01 =>
          out.writeLong(highWaterMark)
        case 0x02 =>
          val from = in.readLong()
          // snapshot hwm first: fetch is bounded, like a consumer reading
          // up to the hwm it observed
          val hwm = highWaterMark
          var off = from
          while (off < hwm) {
            val m = messageAt(off)
            out.writeLong(off); out.writeInt(m.length); out.write(m)
            off += 1
          }
          out.writeLong(-1L) // end of fetch
        case 0x04 =>
          val from = in.readLong()
          val max = in.readInt()
          val hwm = highWaterMark
          var off = from
          val end = math.min(hwm, from + math.max(max, 0))
          while (off < end) {
            val m = messageAt(off)
            out.writeLong(off); out.writeInt(m.length); out.write(m)
            off += 1
          }
          out.writeLong(-1L) // end of page
        case 0x03 =>
          val data = new Array[Byte](in.readInt())
          in.readFully(data)
          // ack THIS append's own offset (+1, matching the hwm-style
          // response shape) — answering with a re-queried highWaterMark
          // would cover messages a concurrent second writer appended in
          // between, and a checkpoint derived from it would skip them in
          // the next recovery scan (the deposed-leader race)
          out.writeLong(append(data) + 1L)
        case other =>
          throw new IllegalStateException(s"unknown topic-sim command $other")
    }
    out.flush()
  }

  def close(): Unit = { closed = true; server.close() }
}

/** The producer/consumer surface the K1 sink lifecycle needs — GetOffset +
  * ConsumePartition + per-message-acked produce in the reference. Two
  * implementations: [[TopicClient]] (the length-prefixed simulator wire)
  * and [[graft.kafka.KafkaTopicClient]] (the real Kafka protocol). */
trait TopicLike {
  def highWaterMark(): Long
  /** First retained offset. The simulator never purges (0); the Kafka
    * client asks ListOffsets(earliest). Consumers use it to tell a
    * retention purge (logStart > wanted) from the benign offset gaps a
    * real broker has (log compaction, transaction control records). */
  def logStartOffset(): Long = 0L
  /** Appends `msg`; returns THIS message's offset + 1 (its own per-message
    * ack), NOT a topic-hwm re-query — see TopicClient.produce. */
  def produce(msg: Array[Byte]): Long
  /** All (offset, message) pairs in [fromOffset, hwm-at-fetch-time). */
  def fetchFrom(fromOffset: Long): Vector[(Long, Array[Byte])]
  /** One bounded page starting at `fromOffset` (empty = reached the high
    * water mark) — for streaming consumers that must not materialize the
    * whole topic. Default trims `fetchFrom`; the simulator's wire protocol
    * sends everything anyway (test-scale only), the Kafka client overrides
    * with a single bounded Fetch round. */
  def fetchPage(fromOffset: Long, maxMessages: Int): Vector[(Long, Array[Byte])] =
    fetchFrom(fromOffset).take(maxMessages)
  /** Release any held connection. Both [[TopicClient]] and
    * [[graft.kafka.KafkaTopicClient]] hold one persistent socket that
    * would otherwise leak for the process lifetime — callers (Replay
    * shutdown, TopicCat) must close unconditionally. */
  def close(): Unit = ()
}

object TopicLike {
  /** Shared broker-address parser for the wire dialects —
    * `kafka://host:port/topic` (the real 0.10 protocol, message format v1),
    * `kafka2://host:port/topic` (the modern magic-2 RecordBatch dialect,
    * Produce v3 / Fetch v4), or `host:port` (the TopicSim dialect). The
    * kafka schemes REQUIRE an explicit topic: a silent default could
    * produce into the wrong topic and split the stream. Clear errors
    * instead of substring crashes on malformed input. */
  def connect(addr: String): TopicLike = {
    def hostPort(hp: String): (String, Int) = {
      val colon = hp.lastIndexOf(':')
      require(colon > 0 && colon < hp.length - 1,
        s"broker address needs host:port, got '$hp' (from '$addr')")
      val port = try hp.substring(colon + 1).toInt
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"broker port is not a number in '$addr'") }
      (hp.substring(0, colon), port)
    }
    def kafka(scheme: String, format: Int): TopicLike = {
      val rest = addr.stripPrefix(scheme)
      val slash = rest.indexOf('/')
      require(slash > 0 && slash < rest.length - 1,
        s"$scheme address needs an explicit /topic, got '$addr'")
      val (host, port) = hostPort(rest.substring(0, slash))
      new graft.kafka.KafkaTopicClient(host, port, rest.substring(slash + 1),
        messageFormat = format)
    }
    if (addr.startsWith("kafka2://")) kafka("kafka2://", 2)
    else if (addr.startsWith("kafka://")) kafka("kafka://", 1)
    else dialects.toSeq.sortBy(-_._1.length).collectFirst {
      // longest scheme wins, so overlapping prefixes resolve
      // deterministically (TrieMap iteration order is not stable)
      case (scheme, mk) if addr.startsWith(scheme) => mk(addr)
    }.getOrElse {
      val (host, port) = hostPort(addr)
      new TopicClient(host, port)
    }
  }

  // Pluggable broker dialects: scheme prefix -> client factory. Lets a
  // deployment (or a spec) route `addr` to a custom TopicLike without
  // touching the consume source; kafka:// and kafka2:// stay built in and
  // are checked FIRST (a registered "kafka://" is shadowed by design).
  // Registrations are process-global and live for the JVM.
  private val dialects =
    scala.collection.concurrent.TrieMap.empty[String, String => TopicLike]
  def registerDialect(scheme: String, mk: String => TopicLike): Unit =
    dialects.put(scheme, mk)
}

/** Client side of the simulator — the consumer surface the recovery scan
  * needs (GetOffset + ConsumePartition in the reference). */
final class TopicClient(host: String, port: Int) extends TopicLike {

  // One persistent connection, lazily dialed — requests are
  // self-delimiting, so they ride the socket back-to-back like the Kafka
  // client's (the old dial-per-request shape made every synchronous
  // produce pay a TCP handshake: ~10x slower in BENCH_cdc's ordered
  // drain). On any IO error the socket is dropped, not reused: a half-read
  // response would desync every later call, and the next request simply
  // re-dials (which also transparently survives a server restart).
  private var sock: Socket = _
  private var in: DataInputStream = _
  private var out: DataOutputStream = _

  private def withConn[A](f: (DataInputStream, DataOutputStream) => A): A =
    synchronized {
      if (sock == null || sock.isClosed) {
        sock = new Socket(host, port)
        // same NODELAY + buffering as the server side: a request is
        // assembled in the buffer and hits the wire as ONE segment at
        // flush, never as writeByte/writeInt's 1-byte TCP writes
        sock.setTcpNoDelay(true)
        in = new DataInputStream(
          new java.io.BufferedInputStream(sock.getInputStream))
        out = new DataOutputStream(
          new java.io.BufferedOutputStream(sock.getOutputStream))
      }
      try f(in, out)
      catch { case e: java.io.IOException => close(); throw e }
    }

  override def close(): Unit = synchronized {
    if (sock != null) { try sock.close() catch { case _: Exception => () }; sock = null }
  }

  def highWaterMark(): Long = withConn { (in, out) =>
    out.writeByte(0x01); out.flush()
    in.readLong()
  }

  /** Appends `msg`; returns THIS message's offset + 1 (its own per-message
    * ack — sarama's `ProducerMessage.Offset` analog), NOT the topic hwm,
    * which under a second writer would cover messages this producer never
    * sent. */
  def produce(msg: Array[Byte]): Long = withConn { (in, out) =>
    out.writeByte(0x03); out.writeInt(msg.length); out.write(msg); out.flush()
    in.readLong()
  }

  /** All (offset, message) pairs in [fromOffset, hwm-at-fetch-time). */
  def fetchFrom(fromOffset: Long): Vector[(Long, Array[Byte])] = withConn { (in, out) =>
    out.writeByte(0x02); out.writeLong(fromOffset); out.flush()
    readFetchStream(in)
  }

  /** One BOUNDED page over the 0x04 opcode — the streaming consumer's
    * poll unit. The base trait's `fetchFrom(...).take(n)` default would
    * re-stream the whole topic tail per page (quadratic on the wire);
    * this asks the server for exactly `maxMessages`. */
  override def fetchPage(fromOffset: Long,
      maxMessages: Int): Vector[(Long, Array[Byte])] = withConn { (in, out) =>
    out.writeByte(0x04); out.writeLong(fromOffset); out.writeInt(maxMessages)
    out.flush()
    readFetchStream(in)
  }

  private def readFetchStream(in: DataInputStream): Vector[(Long, Array[Byte])] = {
    val res = Vector.newBuilder[(Long, Array[Byte])]
    var done = false
    while (!done) {
      val off = in.readLong()
      if (off < 0) done = true
      else {
        val data = new Array[Byte](in.readInt())
        in.readFully(data)
        res += ((off, data))
      }
    }
    res.result()
  }
}

/** The K1 recovery scan (S5) over the served topic — the exact semantics
  * of the reference's KafkaSink.Initialize + recover
  * (/root/reference/sink/kafka/kafka.go:134-255): read acked state from
  * the checkpoint, fast-path when the topic has nothing newer, otherwise
  * scan from ackedOffset+1 through the seq-dedup decoder and advance
  * acked seq/offset/progress to the last Commit/DDL the topic holds. The
  * producer then restarts its seq from the recovered ackedSeq, so the
  * (topic ++ re-produced ops) stream never carries a duplicate. */
object KafkaRecovery {

  /** Sentinel: "no acked offset recorded yet" (the reference's maxOffset). */
  val NoOffset: Long = Long.MaxValue

  final case class Recovered(ckp: Checkpoint, scanned: Int) {
    def ackedSeq: Long = ckp.getIntCtx("acked_seq", 0L)
    def ackedOffset: Long = ckp.getIntCtx("acked_offset", NoOffset)
  }

  def recover(client: TopicLike, ckp: Checkpoint, codec: WireCodec = Wire): Recovered = {
    var ackedOffset = ckp.getIntCtx("acked_offset", NoOffset)
    var ackedSeq = ckp.getIntCtx("acked_seq", 0L)
    var ackedProgress = ckp.progress
    val hwm = client.highWaterMark()
    if (ackedOffset == NoOffset) ackedOffset = hwm - 1 // first run: nothing to scan
    require(hwm >= ackedOffset + 1, "invalid topic high water mark")
    var scanned = 0
    if (hwm > ackedOffset + 1) {
      val dec = new OperationDecoder(codec, lastCommitSeq = ackedSeq)
      client.fetchFrom(ackedOffset + 1).foreach { case (off, data) =>
        scanned += 1
        // offset and seq move only TOGETHER with a Commit/DDL progress: a
        // complete message without one (the first half of a split
        // transaction, a Rotate flush) is re-produced after the restart,
        // which resumes from that progress — under the same seq, so the
        // consumer's seq dedup drops the copy already in the topic
        dec.feed(data, off).foreach { batch =>
          batch.ops.foreach { op =>
            if (op.opType == OpType.Commit || op.opType == OpType.Ddl)
              op.progress.foreach { p =>
                ackedProgress = p
                ackedOffset = batch.commitOffset
                ackedSeq = batch.commitSeq
              }
          }
        }
      }
    }
    Recovered(Checkpoint(ackedProgress)
      .withIntCtx("acked_seq", ackedSeq)
      .withIntCtx("acked_offset", ackedOffset), scanned)
  }
}
