package graft.sources

import graft.cdc._
import graft.mysql.{BinlogClient, BinlogEvents, MysqlScript, Packets}
import graft.streaming.OperationJson
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxRows}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8

/** The live source wired end-to-end over a scripted conversation: the feed
  * runs the reference's startup order (connect → ROW check → heartbeat →
  * register → dump — canal.go prepare + sync.go loop), buffers threaded
  * envelopes, and the DSv2 stream slices it with Progress offsets; commit
  * trims the buffer. No live server — the transport is the scripted byte
  * stream, which is exactly what the socket would carry. */
class BinlogLiveSourceSpec extends AnyFunSuite {

  import BinlogEvents._
  import MysqlScript._

  private def tableMapPayload: Array[Byte] = {
    val w = new Packets.Writer
    w.raw(Array[Byte](9, 0, 0, 0, 0, 0)); w.u16(1)
    w.u8(4); w.eofStr("shop"); w.u8(0)
    w.u8(6); w.eofStr("orders"); w.u8(0)
    w.lenenc(2L)
    w.u8(3); w.u8(15) // LONG, VARCHAR
    w.lenenc(2L); w.u16(100)
    w.u8(0x03)
    w.result
  }

  private def writeRowsPayload: Array[Byte] = {
    val w = new Packets.Writer
    w.raw(Array[Byte](9, 0, 0, 0, 0, 0)); w.u16(1)
    w.u16(2)
    w.lenenc(2L)
    w.u8(0x03)
    w.u8(0x00); w.u32(7); w.u8(2); w.eofStr("ok")
    w.result
  }

  private def beginPayload: Array[Byte] = {
    val w = new Packets.Writer
    w.u32(11); w.u32(0); w.u8(4); w.u16(0); w.u16(0)
    w.eofStr("shop"); w.u8(0); w.eofStr("BEGIN")
    w.result
  }

  private def conversation = script(
    (Seq(frame(0, greeting), frame(2, okPacket)) ++ // connect
      binlogFormatResult("ROW") ++ // S2
      binlogRowImageResult("FULL") ++ // S2 row image
      Seq(
        frame(1, okPacket), // SET heartbeat
        frame(1, okPacket)) ++ // register slave
      checksumAnnounce("CRC32") ++
      Seq(
        frame(1, eventPacket(FORMAT_DESCRIPTION_EVENT, 124, fdePayload(alg = 1), crc = true)),
        frame(2, eventPacket(ROTATE_EVENT, 0,
          new Packets.Writer().u64(4L).eofStr("mysql-bin.000099").result,
          crc = true, timestamp = 0)),
        frame(3, eventPacket(QUERY_EVENT, 260, beginPayload, crc = true)),
        frame(4, eventPacket(TABLE_MAP_EVENT, 320, tableMapPayload, crc = true)),
        frame(5, eventPacket(WRITE_ROWS_V2, 400, writeRowsPayload, crc = true)),
        frame(6, eventPacket(XID_EVENT, 440,
          new Packets.Writer().u64(777L).result, crc = true)),
        frame(7, eofPacket))): _*)

  private def newFeed: LiveBinlogFeed = {
    val (in, out) = conversation
    val tracker = new SchemaTracker
    tracker.execDdl("CREATE DATABASE shop", "")
    tracker.execDdl("CREATE TABLE orders (id INT, name VARCHAR(100))", "shop")
    new LiveBinlogFeed(new BinlogClient(in, out, "repl", "secret"),
      serverId = 1001, startFile = "mysql-bin.000099", startPos = 4,
      schemaLookup = tracker.getTableDef(_, _))
  }

  test("feed runs the reference startup order and buffers threaded envelopes") {
    val feed = newFeed
    feed.run() // synchronous: the scripted stream is finite
    assert(feed.failure.isEmpty)
    assert(feed.watermark == 4) // rotate, begin, insert, commit
    val evs = feed.slice(0, 4)
    assert(evs.map(_.op.opType) ==
      Vector(OpType.Rotate, OpType.Begin, OpType.Insert, OpType.Commit))
    assert(evs.map(_.seqNo) == Vector(1L, 2L, 3L, 4L))
    assert(evs.forall(_.logName == "mysql-bin.000099"))
    val ins = evs(2).op
    assert(ins.table.get.columns.map(_.name) == Vector("id", "name"))
    assert(ins.rows == Vector(OpRow(None, Some(Vector(Some("7"), Some("ok"))))))
  }

  test("S2 gate: a STATEMENT-format server fails the feed") {
    val (in, out) = script(
      (Seq(frame(0, greeting), frame(2, okPacket)) ++
        binlogFormatResult("STATEMENT")): _*)
    val feed = new LiveBinlogFeed(new BinlogClient(in, out, "repl", "secret"),
      1001, "mysql-bin.000099", 4, (_, _) => None)
    feed.run()
    assert(feed.failure.exists(_.getMessage.contains("binlog must be ROW format")))
  }

  test("S2 gate: a MINIMAL row-image server fails the feed") {
    val (in, out) = script(
      (Seq(frame(0, greeting), frame(2, okPacket)) ++
        binlogFormatResult("ROW") ++
        binlogRowImageResult("MINIMAL")): _*)
    val feed = new LiveBinlogFeed(new BinlogClient(in, out, "repl", "secret"),
      1001, "mysql-bin.000099", 4, (_, _) => None)
    feed.run()
    assert(feed.failure.exists(_.getMessage ==
      "MySQL uses MINIMAL binlog row image, but we want FULL"))
  }

  test("restart from a persisted GtidSet issues COM_BINLOG_DUMP_GTID and " +
      "resumes the stream (file+pos is the fallback)") {
    val (in, out) = conversation
    val feed = new LiveBinlogFeed(new BinlogClient(in, out, "repl", "secret"),
      serverId = 1001, startFile = "", startPos = 4, schemaLookup = (_, _) => None,
      startGtid = Some(GtidSet.parse("01020304-0506-0708-090a-0b0c0d0e0f10:1-42")))
    feed.run()
    assert(feed.failure.isEmpty)
    assert(feed.watermark == 4) // same stream, GTID-started
    // the dump command on the wire must be the GTID form
    val sent = out.toByteArray
    var off = 0
    val cmds = Vector.newBuilder[Int]
    while (off < sent.length) {
      val len = (sent(off) & 0xff) | ((sent(off + 1) & 0xff) << 8) | ((sent(off + 2) & 0xff) << 16)
      cmds += (sent(off + 4) & 0xff)
      off += 4 + len
    }
    assert(cmds.result().contains(Packets.COM_BINLOG_DUMP_GTID))
    assert(!cmds.result().contains(Packets.COM_BINLOG_DUMP))
  }

  test("MariaDB flavor: a Mariadb start set dispatches to the session-var " +
      "announce + plain dump, and the feed accumulates per-domain GTIDs") {
    val (in, out) = script(
      (Seq(frame(0, greeting), frame(2, okPacket)) ++ // connect
        binlogFormatResult("ROW") ++ // S2
        binlogRowImageResult("FULL") ++ // S2 row image
        Seq(
          frame(1, okPacket), // SET heartbeat
          frame(1, okPacket), // register slave
          frame(1, okPacket), frame(1, okPacket), // 4 session-var SETs
          frame(1, okPacket), frame(1, okPacket)) ++
        checksumAnnounce("CRC32") ++
        Seq(
          frame(1, eventPacket(FORMAT_DESCRIPTION_EVENT, 124, fdePayload(alg = 1), crc = true)),
          frame(2, eventPacket(ROTATE_EVENT, 0,
            new Packets.Writer().u64(4L).eofStr("mariadb-bin.000007").result,
            crc = true, timestamp = 0)),
          frame(3, eventPacket(MARIADB_GTID_EVENT, 200,
            new Packets.Writer().u64(101L).u32(0L).u8(0).result, crc = true)),
          frame(4, eventPacket(QUERY_EVENT, 260, beginPayload, crc = true)),
          frame(5, eventPacket(XID_EVENT, 300,
            new Packets.Writer().u64(9L).result, crc = true)),
          frame(6, eofPacket))): _*)
    val feed = new LiveBinlogFeed(new BinlogClient(in, out, "repl", "secret"),
      serverId = 1001, startFile = "", startPos = 4, schemaLookup = (_, _) => None,
      startGtid = Some(Gset.parse("0-77-100"))) // auto-detected MariaDB flavor
    feed.run()
    assert(feed.failure.isEmpty, s"feed failed: ${feed.failure}")
    // gtid, begin, commit (+ rotate)
    val evs = feed.slice(0, feed.watermark)
    assert(evs.map(_.op.opType) ==
      Vector(OpType.Rotate, OpType.Gtid, OpType.Begin, OpType.Commit))
    // the gtid operation carries the MariaDB-form GTID (server id from header)
    assert(evs(1).op.gtid.contains("0-77-101"))
    // the commit's progress carries the ACCUMULATED Mariadb set, which
    // round-trips through Gset.parse (checkpoint resume path)
    val prog = evs(3).op.progress.get
    assert(prog.gset.map(_.toString).contains("0-77-101"))
    assert(Gset.parse(prog.gset.get.toString).isInstanceOf[GtidSet.Mariadb])
    // on the wire: session-var announce + plain dump, NOT COM_BINLOG_DUMP_GTID
    val sentStr = new String(out.toByteArray, UTF_8)
    assert(sentStr.contains("SET @slave_connect_state = '0-77-100'"))
    val sent = out.toByteArray
    var off = 0
    val cmds = Vector.newBuilder[Int]
    while (off < sent.length) {
      val len = (sent(off) & 0xff) | ((sent(off + 1) & 0xff) << 8) | ((sent(off + 2) & 0xff) << 16)
      cmds += (sent(off + 4) & 0xff)
      off += 4 + len
    }
    assert(cmds.result().contains(Packets.COM_BINLOG_DUMP))
    assert(!cmds.result().contains(Packets.COM_BINLOG_DUMP_GTID))
  }

  test("an empty GtidSet falls back to the (file, pos) dump") {
    val (in, out) = conversation
    val feed = new LiveBinlogFeed(new BinlogClient(in, out, "repl", "secret"),
      serverId = 1001, startFile = "mysql-bin.000099", startPos = 4,
      schemaLookup = (_, _) => None, startGtid = Some(GtidSet.empty))
    feed.run()
    assert(feed.failure.isEmpty)
    val sent = out.toByteArray
    var off = 0
    val cmds = Vector.newBuilder[Int]
    while (off < sent.length) {
      val len = (sent(off) & 0xff) | ((sent(off + 1) & 0xff) << 8) | ((sent(off + 2) & 0xff) << 16)
      cmds += (sent(off + 4) & 0xff)
      off += 4 + len
    }
    assert(cmds.result().contains(Packets.COM_BINLOG_DUMP))
  }

  test("micro-batch stream slices the buffer with Progress offsets; commit trims") {
    val feed = newFeed
    feed.run()
    val stream = new LiveBinlogMicroBatchStream(feed, maxPerTrigger = 2)

    val o1 = stream.latestOffset(ReplayOffset.zero, ReadLimit.maxRows(2))
      .asInstanceOf[ReplayOffset]
    assert(o1.eventIdx == 2)
    assert(o1.logName == "mysql-bin.000099")
    val parts = stream.planInputPartitions(ReplayOffset.zero, o1)
    assert(parts.length == 1)
    val reader = stream.createReaderFactory().createReader(parts(0))
    val rows = Iterator.continually(reader)
      .takeWhile(_.next()).map(_.get().copy()).toVector
    assert(rows.size == 2)
    assert(rows.map(_.getLong(0)) == Vector(1L, 2L)) // seq_no column
    assert(rows.map(_.getUTF8String(3).toString) == Vector("rotate", "begin"))

    val o2 = stream.latestOffset(o1, ReadLimit.allAvailable()).asInstanceOf[ReplayOffset]
    assert(o2.eventIdx == 4)

    stream.commit(o1)
    assert(feed.slice(2, 4).size == 2) // tail intact after trim
    assert(feed.watermark == 4)
  }

  private def rowsPayload(id: Int): Array[Byte] = {
    val w = new Packets.Writer
    w.raw(Array[Byte](9, 0, 0, 0, 0, 0)); w.u16(1)
    w.u16(2)
    w.lenenc(2L)
    w.u8(0x03)
    w.u8(0x00); w.u32(id.toLong); w.u8(2); w.eofStr("ok")
    w.result
  }

  /** A finite feed of `trxs` one-row transactions: rotate + 3 events each. */
  private def backlogFeed(trxs: Int): LiveBinlogFeed = {
    var n = 0
    def ev(tpe: Int, pos: Long, payload: Array[Byte], ts: Long = 1546300800L) = {
      n += 1; frame(n, eventPacket(tpe, pos, payload, crc = true, timestamp = ts))
    }
    val events = Seq(
      ev(FORMAT_DESCRIPTION_EVENT, 124, fdePayload(alg = 1)),
      ev(ROTATE_EVENT, 0, new Packets.Writer().u64(4L).eofStr("mysql-bin.000099").result,
        ts = 0)) ++
      (0 until trxs).flatMap { i =>
        val base = 1000L + 400L * i
        Seq(ev(QUERY_EVENT, base, beginPayload),
          ev(TABLE_MAP_EVENT, base + 100, tableMapPayload),
          ev(WRITE_ROWS_V2, base + 200, rowsPayload(i)),
          ev(XID_EVENT, base + 300, new Packets.Writer().u64(i.toLong).result))
      } :+ frame(n + 1, eofPacket)
    val (in, out) = script((startupFrames ++ events): _*)
    val tracker = new SchemaTracker
    tracker.execDdl("CREATE DATABASE shop", "")
    tracker.execDdl("CREATE TABLE orders (id INT, name VARCHAR(100))", "shop")
    val feed = new LiveBinlogFeed(new BinlogClient(in, out, "repl", "secret"),
      serverId = 1001, startFile = "mysql-bin.000099", startPos = 4,
      schemaLookup = tracker.getTableDef(_, _))
    feed.run()
    assert(feed.failure.isEmpty, s"feed failed: ${feed.failure}")
    feed
  }

  /** Drives the stream the way MicroBatchExecution does under its default
    * read limit; returns each batch's (seq_no, op_json) rows. */
  private def drainBatches(stream: LiveBinlogMicroBatchStream,
      feed: LiveBinlogFeed): Vector[Vector[(Long, String)]] = {
    val batches = Vector.newBuilder[Vector[(Long, String)]]
    val jsonCol = BinlogReplaySource.SCHEMA.fieldIndex("op_json")
    var start = ReplayOffset.zero
    while (start.eventIdx < feed.watermark) {
      val end = stream.latestOffset(start, stream.getDefaultReadLimit).asInstanceOf[ReplayOffset]
      val factory = stream.createReaderFactory()
      batches += stream.planInputPartitions(start, end).toVector.flatMap { p =>
        val r = factory.createReader(p)
        Iterator.continually(r).takeWhile(_.next()).map(_.get())
          .map(row => (row.getLong(0), row.getUTF8String(jsonCol).toString)).toVector
      }
      stream.commit(end)
      start = end
    }
    batches.result()
  }

  test("a backlog drains in micro-batches of at most 2048 events by default; " +
      "an explicit maxEventsPerTrigger wins; every event arrives once, in order") {
    val trxs = 1000
    val total = 1 + 3 * trxs // rotate + begin/insert/commit per trx
    def check(batches: Vector[Vector[(Long, String)]]): Unit = {
      val rows = batches.flatten
      assert(rows.map(_._1) == (1L to total.toLong), "each event once, in seq order")
      val ids = rows.map(r => OperationJson.parse(r._2))
        .filter(_.opType == OpType.Insert).map(_.rows.head.after.get.head.get)
      assert(ids == (0 until trxs).map(_.toString))
    }

    val feed = backlogFeed(trxs)
    val byDefault = new LiveBinlogMicroBatchStream(feed)
    assert(byDefault.getDefaultReadLimit.asInstanceOf[ReadMaxRows].maxRows == 2048)
    val batches = drainBatches(byDefault, feed)
    assert(batches.map(_.size) == Vector(2048, total - 2048))
    check(batches)

    val explicit = backlogFeed(trxs)
    val small = drainBatches(new LiveBinlogMicroBatchStream(explicit, maxPerTrigger = 700), explicit)
    assert(small.map(_.size) == Vector(700, 700, 700, 700, total - 2800))
    check(small)
  }

  test("backpressure: a full uncommitted window blocks the feed until commit trims") {
    val (in, out) = conversation
    val tracker = new SchemaTracker
    tracker.execDdl("CREATE DATABASE shop", "")
    tracker.execDdl("CREATE TABLE orders (id INT, name VARCHAR(100))", "shop")
    val feed = new LiveBinlogFeed(new BinlogClient(in, out, "repl", "secret"),
      1001, "mysql-bin.000099", 4, tracker.getTableDef(_, _), maxBuffer = 2)
    val t = new Thread(() => feed.run())
    t.setDaemon(true)
    t.start()
    val deadline = System.nanoTime() + 10_000_000_000L
    while (feed.watermark < 2 && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200) // would overfill here if backpressure were absent
    assert(feed.watermark == 2, "feed must stall at the buffer cap")
    assert(t.isAlive)
    feed.trimTo(2) // consumer commits -> feed resumes
    while (feed.watermark < 4 && System.nanoTime() < deadline) Thread.sleep(20)
    assert(feed.failure.isEmpty, s"feed failed: ${feed.failure}")
    assert(feed.watermark == 4)
    // and the uncommitted tail is exactly the post-trim events
    assert(feed.slice(2, 4).map(_.op.opType) == Vector(OpType.Insert, OpType.Commit))
  }

  private def startupFrames: Seq[Array[Byte]] =
    Seq(frame(0, greeting), frame(2, okPacket)) ++
      binlogFormatResult("ROW") ++
      binlogRowImageResult("FULL") ++
      Seq(frame(1, okPacket), frame(1, okPacket)) ++
      checksumAnnounce("CRC32")

  test("a dropped transport reconnects and resumes at the in-session cursor — " +
      "no duplicates, no gaps, dump issued at (file, last event end pos)") {
    // connection 1: startup + rotate/begin/tablemap/rows ingested, then the
    // XID frame arrives TRUNCATED (socket died mid-frame)
    val conn1Bytes = (startupFrames ++ Seq(
      frame(1, eventPacket(FORMAT_DESCRIPTION_EVENT, 124, fdePayload(alg = 1), crc = true)),
      frame(2, eventPacket(ROTATE_EVENT, 0,
        new Packets.Writer().u64(4L).eofStr("mysql-bin.000099").result,
        crc = true, timestamp = 0)),
      frame(3, eventPacket(QUERY_EVENT, 260, beginPayload, crc = true)),
      frame(4, eventPacket(TABLE_MAP_EVENT, 320, tableMapPayload, crc = true)),
      frame(5, eventPacket(WRITE_ROWS_V2, 400, writeRowsPayload, crc = true)),
      frame(6, eventPacket(XID_EVENT, 440,
        new Packets.Writer().u64(777L).result, crc = true)))).flatten.toArray
    val cut = new java.io.ByteArrayInputStream(conn1Bytes, 0, conn1Bytes.length - 10)
    val out1 = new java.io.ByteArrayOutputStream()

    // connection 2: fresh startup, then the remainder of the stream
    val (in2, out2) = script(
      (startupFrames ++ Seq(
        frame(1, eventPacket(FORMAT_DESCRIPTION_EVENT, 124, fdePayload(alg = 1), crc = true)),
        frame(2, eventPacket(XID_EVENT, 440,
          new Packets.Writer().u64(777L).result, crc = true)),
        frame(3, eofPacket))): _*)

    val tracker = new SchemaTracker
    tracker.execDdl("CREATE DATABASE shop", "")
    tracker.execDdl("CREATE TABLE orders (id INT, name VARCHAR(100))", "shop")
    val feed = new LiveBinlogFeed(new BinlogClient(cut, out1, "repl", "secret"),
      1001, "mysql-bin.000099", 4, tracker.getTableDef(_, _),
      reconnect = Some(LiveBinlogFeed.Reconnect(
        () => new BinlogClient(in2, out2, "repl", "secret"),
        maxRetries = 3, backoffMs = 1)))
    feed.run()

    assert(feed.failure.isEmpty, s"feed failed: ${feed.failure}")
    assert(feed.reconnectCount == 1)
    // the full logical stream, exactly once, seq numbering continuous
    val evs = feed.slice(0, feed.watermark)
    assert(evs.map(_.op.opType) ==
      Vector(OpType.Rotate, OpType.Begin, OpType.Insert, OpType.Commit))
    assert(evs.map(_.seqNo) == Vector(1L, 2L, 3L, 4L))
    // connection 2's dump command resumed at the cursor: COM_BINLOG_DUMP
    // with pos = 400 (end of the last fully ingested event) on the
    // rotated-to file
    val sent = out2.toByteArray
    var off = 0
    var dump: Option[Array[Byte]] = None
    while (off < sent.length) {
      val len = (sent(off) & 0xff) | ((sent(off + 1) & 0xff) << 8) | ((sent(off + 2) & 0xff) << 16)
      if ((sent(off + 4) & 0xff) == Packets.COM_BINLOG_DUMP)
        dump = Some(sent.slice(off + 4, off + 4 + len))
      off += 4 + len
    }
    assert(dump.isDefined, "no COM_BINLOG_DUMP on connection 2")
    val d = dump.get
    val pos = (d(1) & 0xffL) | ((d(2) & 0xffL) << 8) | ((d(3) & 0xffL) << 16) | ((d(4) & 0xffL) << 24)
    assert(pos == 400L, s"resume pos was $pos, expected 400")
    assert(new String(d.drop(11), UTF_8) == "mysql-bin.000099")
  }

  test("reconnects stop at maxRetries; the transport error then surfaces") {
    def truncated: BinlogClient = {
      val bytes = (startupFrames ++ Seq(
        frame(1, eventPacket(FORMAT_DESCRIPTION_EVENT, 124, fdePayload(alg = 1), crc = true)),
        frame(2, eventPacket(QUERY_EVENT, 260, beginPayload, crc = true)))).flatten.toArray
      new BinlogClient(new java.io.ByteArrayInputStream(bytes, 0, bytes.length - 5),
        new java.io.ByteArrayOutputStream(), "repl", "secret")
    }
    val feed = new LiveBinlogFeed(truncated,
      1001, "mysql-bin.000099", 4, (_, _) => None,
      reconnect = Some(LiveBinlogFeed.Reconnect(() => truncated, maxRetries = 2, backoffMs = 1)))
    feed.run()
    assert(feed.reconnectCount == 2)
    assert(feed.failure.exists(_.isInstanceOf[java.io.IOException]))
  }

  test("non-transport failures do not retry: the S2 gate fails fast even with a policy") {
    val (in, out) = script(
      (Seq(frame(0, greeting), frame(2, okPacket)) ++
        binlogFormatResult("STATEMENT")): _*)
    val feed = new LiveBinlogFeed(new BinlogClient(in, out, "repl", "secret"),
      1001, "mysql-bin.000099", 4, (_, _) => None,
      reconnect = Some(LiveBinlogFeed.Reconnect(
        () => throw new AssertionError("factory must not be called for a config error"),
        maxRetries = 3, backoffMs = 1)))
    feed.run()
    assert(feed.reconnectCount == 0)
    assert(feed.failure.exists(_.getMessage.contains("binlog must be ROW format")))
  }

  test("spark.readStream format binlog-live over a real localhost socket") {
    // a minimal scripted "server": accept one connection, stream the
    // recorded bytes, half-close — the client reads the exact bytes a
    // MySQL master would send
    val (scriptIn, _) = conversation
    val scriptBytes = scriptIn.readAllBytes()
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getByName("127.0.0.1"))
    val serverThread = new Thread(() => {
      val sock = server.accept()
      sock.getOutputStream.write(scriptBytes)
      sock.getOutputStream.flush()
      sock.shutdownOutput() // EOF for the client; keep reading side open
      val in = sock.getInputStream
      while (in.read() >= 0) () // drain client writes until it closes
    }, "scripted-mysql-server")
    serverThread.setDaemon(true)
    serverThread.start()

    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .appName("binlog-live-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val q = spark.readStream.format("binlog-live")
        .option("host", "127.0.0.1")
        .option("port", server.getLocalPort.toString)
        .option("user", "repl")
        .option("password", "secret")
        .option("serverId", "1001")
        .option("startFile", "mysql-bin.000099")
        .load()
        .writeStream.format("memory").queryName("livemem").outputMode("append")
        .start()
      try {
        val deadline = System.nanoTime() + 30_000_000_000L
        def rows() = spark.sql("SELECT op_type FROM livemem").collect()
        while (rows().length < 4 && System.nanoTime() < deadline) Thread.sleep(100)
        assert(rows().map(_.getString(0)).toVector ==
          Vector("rotate", "begin", "insert", "commit"))
      } finally q.stop()
    } finally { spark.stop(); server.close() }
  }
}
