package graft.streaming

import graft.cdc._
import graft.mysql.{MysqlScript, Packets}
import graft.mysql.BinlogEvents._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import java.net.{InetAddress, ServerSocket}
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The live pipeline end-to-end over a real localhost socket: binlog-live
  * source → the SAME two-sink stack as the fixture replay (fused executor
  * render, ordered driver pass, per-sink checkpoints), then a restart that
  * resumes replication FROM THE CHECKPOINT — the dump command on the wire
  * carries the checkpointed position, and no operation re-emits. Admin
  * /status exposes the live progress. */
class ReplayLiveSpec extends AnyFunSuite with BeforeAndAfterAll {

  import MysqlScript._

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .appName("replay-live-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // ---------- payloads (same public layouts as BinlogLiveSourceSpec) ----------

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

  private def insertPayload(id: Long, name: String): Array[Byte] = {
    val w = new Packets.Writer
    w.raw(Array[Byte](9, 0, 0, 0, 0, 0)); w.u16(1)
    w.u16(2)
    w.lenenc(2L)
    w.u8(0x03)
    w.u8(0x00); w.u32(id); w.u8(name.length); w.eofStr(name)
    w.result
  }

  private def beginPayload: Array[Byte] = {
    val w = new Packets.Writer
    w.u32(11); w.u32(0); w.u8(4); w.u16(0); w.u16(0)
    w.eofStr("shop"); w.u8(0); w.eofStr("BEGIN")
    w.result
  }

  private def gtidPayload(gno: Long): Array[Byte] = {
    val w = new Packets.Writer
    w.u8(1)
    w.raw((1 to 16).map(_.toByte).toArray)
    w.u64(gno)
    w.result
  }

  private def preamble: Seq[Array[Byte]] =
    Seq(frame(0, greeting), frame(2, okPacket)) ++
      binlogFormatResult("ROW") ++
      binlogRowImageResult("FULL") ++
      Seq(frame(1, okPacket), frame(1, okPacket)) ++ // heartbeat, register
      checksumAnnounce("CRC32")

  /** trx events (gtid, begin, tablemap, insert, xid) at ascending log_pos. */
  private def trx(gno: Long, basePos: Long, id: Long, name: String,
      startSeq: Int): Seq[Array[Byte]] = Seq(
    frame(startSeq, eventPacket(GTID_EVENT, basePos + 10, gtidPayload(gno), crc = true)),
    frame(startSeq + 1, eventPacket(QUERY_EVENT, basePos + 20, beginPayload, crc = true)),
    frame(startSeq + 2, eventPacket(TABLE_MAP_EVENT, basePos + 40, tableMapPayload, crc = true)),
    frame(startSeq + 3, eventPacket(WRITE_ROWS_V2, basePos + 60,
      insertPayload(id, name), crc = true)),
    frame(startSeq + 4, eventPacket(XID_EVENT, basePos + 100,
      new Packets.Writer().u64(700 + gno).result, crc = true)))

  /** Scripted server: stream `script`, capture everything the client sends. */
  private def serve(script: Array[Byte]): (ServerSocket, Thread, java.io.ByteArrayOutputStream) = {
    val server = new ServerSocket(0, 1, InetAddress.getByName("127.0.0.1"))
    val received = new java.io.ByteArrayOutputStream()
    val t = new Thread(() => {
      val sock = server.accept()
      sock.getOutputStream.write(script)
      sock.getOutputStream.flush()
      sock.shutdownOutput()
      val in = sock.getInputStream
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n >= 0) { received.write(buf, 0, n); n = in.read(buf) }
    }, "scripted-mysql-server")
    t.setDaemon(true)
    t.start()
    (server, t, received)
  }

  private def dumpCommands(received: Array[Byte]): Seq[(Int, Long, String)] = {
    var off = 0
    val cmds = Vector.newBuilder[(Int, Long, String)]
    while (off + 4 <= received.length) {
      val len = (received(off) & 0xff) | ((received(off + 1) & 0xff) << 8) |
        ((received(off + 2) & 0xff) << 16)
      val payload = java.util.Arrays.copyOfRange(received, off + 4, off + 4 + len)
      if (payload.nonEmpty && (payload(0) & 0xff) == Packets.COM_BINLOG_DUMP) {
        val r = new Packets.Reader(payload)
        r.u8()
        val pos = r.u32(); r.u16(); r.u32()
        cmds += ((Packets.COM_BINLOG_DUMP, pos, r.restString()))
      }
      off += 4 + len
    }
    cmds.result()
  }

  /** shop.prices (id INT, amount DECIMAL(5,2) NOT NULL), table id 9. */
  private def pricesTableMapPayload: Array[Byte] = {
    val w = new Packets.Writer
    w.raw(Array[Byte](9, 0, 0, 0, 0, 0)); w.u16(1)
    w.u8(4); w.eofStr("shop"); w.u8(0)
    w.u8(6); w.eofStr("prices"); w.u8(0)
    w.lenenc(2L)
    w.u8(3); w.u8(246) // LONG, NEWDECIMAL
    w.lenenc(2L); w.u8(5); w.u8(2) // precision, scale
    w.u8(0x01) // only id is nullable
    w.result
  }

  /** One row (1, 1.50): DECIMAL(5,2) packs 3 integer digits in 2 bytes and
    * 2 fraction digits in 1, sign bit flipped. */
  private def pricesInsertPayload: Array[Byte] = {
    val w = new Packets.Writer
    w.raw(Array[Byte](9, 0, 0, 0, 0, 0)); w.u16(1)
    w.u16(2)
    w.lenenc(2L)
    w.u8(0x03)
    w.u8(0x00); w.u32(1L); w.raw(Array[Byte](0x80.toByte, 0x01, 0x32))
    w.result
  }

  test("live values reach both sinks as decoded: DECIMAL 1.50 stays 1.50 on " +
      "stdout, and the wire keeps NOT NULL and the table's charset") {
    val out = Files.createTempDirectory("livefidelity")
    val script = (preamble ++ Seq(
      frame(1, eventPacket(FORMAT_DESCRIPTION_EVENT, 124, fdePayload(alg = 1), crc = true)),
      frame(2, eventPacket(ROTATE_EVENT, 0,
        new Packets.Writer().u64(4L).eofStr("mysql-bin.000099").result,
        crc = true, timestamp = 0)),
      frame(3, eventPacket(QUERY_EVENT, 220, beginPayload, crc = true)),
      frame(4, eventPacket(TABLE_MAP_EVENT, 240, pricesTableMapPayload, crc = true)),
      frame(5, eventPacket(WRITE_ROWS_V2, 260, pricesInsertPayload, crc = true)),
      frame(6, eventPacket(XID_EVENT, 300, new Packets.Writer().u64(701L).result, crc = true)),
      frame(7, eofPacket))).flatten.toArray
    val (server, _, _) = serve(script)
    val seedSql = Files.createTempFile("seed", ".sql")
    Files.writeString(seedSql,
      "CREATE DATABASE shop\nCREATE TABLE shop.prices (id INT, amount DECIMAL(5,2) NOT NULL)\n")
    val tracker = new SchemaTracker
    Files.readAllLines(seedSql).asScala.filter(_.nonEmpty).foreach(tracker.execDdl(_, ""))
    val expected = tracker.getTableDef("shop", "prices").get
    val live = Replay.runLive(spark, "127.0.0.1", server.getLocalPort,
      "repl", "secret", serverId = 1001, outDir = out, schemaSql = Some(seedSql.toString))
    try {
      val deadline = System.nanoTime() + 30_000_000_000L
      while (live.minProgress.isZero && System.nanoTime() < deadline) {
        live.query.processAllAvailable()
        Thread.sleep(50)
      }
      assert(!live.minProgress.isZero, "checkpoint must land after the trx")
    } finally { live.stop(); server.close() }

    val insertLine = Files.readAllLines(out.resolve("operations.jsonl")).asScala
      .find(_.contains("\"type\":\"insert\"")).get
    assert(insertLine.contains("\"after\":[1,1.50]"), insertLine)

    val decoder = new OperationDecoder(Wire)
    val wireOps = Files.readAllLines(out.resolve("wire.b64l")).asScala.zipWithIndex
      .flatMap { case (l, i) => decoder.feed(java.util.Base64.getDecoder.decode(l), i).toSeq }
      .flatMap(_.ops)
    val ins = wireOps.find(_.opType == OpType.Insert).get
    assert(ins.rows == Vector(OpRow(None, Some(Vector(Some("1"), Some("1.50"))))))
    assert(ins.table.get == expected)
    assert(ins.table.get.columns.map(_.nullable) == Vector(true, false))
    assert(ins.table.get.charset == expected.charset)
  }

  test("live feed → both sinks; restart resumes from the checkpoint " +
      "position on the wire and re-emits nothing; /status shows progress") {
    val out = Files.createTempDirectory("livepipe")

    // ---- run 1: fresh — rotate + trx1 ----
    val script1 = (preamble ++
      Seq(
        frame(1, eventPacket(FORMAT_DESCRIPTION_EVENT, 124, fdePayload(alg = 1), crc = true)),
        frame(2, eventPacket(ROTATE_EVENT, 0,
          new Packets.Writer().u64(4L).eofStr("mysql-bin.000099").result,
          crc = true, timestamp = 0))) ++
      trx(gno = 7, basePos = 200, id = 1, name = "aa", startSeq = 3) ++
      Seq(frame(8, eofPacket))).flatten.toArray
    val (server1, t1, _) = serve(script1)
    // schema seed names the row columns (the binlog only carries type codes)
    val seedSql = Files.createTempFile("seed", ".sql")
    Files.writeString(seedSql,
      "CREATE DATABASE shop\nCREATE TABLE shop.orders (id INT, name VARCHAR(100))\n")
    val live1 = Replay.runLive(spark, "127.0.0.1", server1.getLocalPort,
      "repl", "secret", serverId = 1001, outDir = out,
      schemaSql = Some(seedSql.toString))
    val admin = new graft.http.AdminServer(new SchemaTracker,
      new DdlGate(new SchemaTracker), new graft.metrics.Counters, port = 0,
      progress = () => Some(live1.minProgress.toString)).start()
    try {
      val deadline = System.nanoTime() + 30_000_000_000L
      while (live1.minProgress.isZero && System.nanoTime() < deadline) {
        live1.query.processAllAvailable()
        Thread.sleep(50)
      }
      assert(!live1.minProgress.isZero, "checkpoint must land after trx1")
      assert(live1.minProgress.pos == Position("mysql-bin.000099", 300, 77))
      assert(live1.minProgress.gset.exists(_.toString.endsWith(":7")))

      // admin /status exposes the live progress
      val client = java.net.http.HttpClient.newHttpClient()
      val res = client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:${admin.boundPort}/status")).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      // Progress.toString prefers the GTID form when a set is tracked
      assert(res.body.contains("\"progress\":\"01020304-0506-0708-090a-0b0c0d0e0f10:7\""))
    } finally { admin.stop(); live1.stop(); server1.close() }

    val jsonAfter1 = Files.readAllLines(out.resolve("operations.jsonl")).asScala.toVector
    assert(jsonAfter1.exists(_.contains("\"type\":\"insert\"")))
    // the schema mirror named the columns — not positional col_N fallbacks
    val insertLine = jsonAfter1.find(_.contains("\"type\":\"insert\"")).get
    assert(insertLine.contains("\"name\":\"id\""))
    assert(!insertLine.contains("col_0"))
    val wireAfter1 = Files.readAllLines(out.resolve("wire.b64l")).asScala.toVector
    assert(wireAfter1.nonEmpty)

    // ---- run 2: restart — the server streams trx2 from the resume point ----
    val script2 = (preamble ++
      Seq(frame(1, eventPacket(FORMAT_DESCRIPTION_EVENT, 124, fdePayload(alg = 1), crc = true))) ++
      trx(gno = 8, basePos = 400, id = 2, name = "bb", startSeq = 2) ++
      Seq(frame(7, eofPacket))).flatten.toArray
    val (server2, t2, received2) = serve(script2)
    val live2 = Replay.runLive(spark, "127.0.0.1", server2.getLocalPort,
      "repl", "secret", serverId = 1001, outDir = out)
    try {
      val deadline = System.nanoTime() + 30_000_000_000L
      while (live2.minProgress.pos.pos < 500 && System.nanoTime() < deadline) {
        live2.query.processAllAvailable()
        Thread.sleep(50)
      }
      assert(live2.minProgress.pos == Position("mysql-bin.000099", 500, 77))
    } finally { live2.stop(); server2.close() }
    t2.join(5000)

    // the dump request carried the checkpointed (file, pos) — a true
    // mid-stream resume, not a replay-from-the-start
    val dumps = dumpCommands(received2.toByteArray)
    assert(dumps == Seq((Packets.COM_BINLOG_DUMP, 300L, "mysql-bin.000099")))

    // no duplicates: run 2 appended exactly trx2's sink-visible ops
    val jsonAfter2 = Files.readAllLines(out.resolve("operations.jsonl")).asScala.toVector
    val appended = jsonAfter2.drop(jsonAfter1.size)
    assert(appended.count(_.contains("\"type\":\"insert\"")) == 1)
    assert(appended.exists(_.contains("\"bb\"")))
    assert(!appended.exists(_.contains("\"aa\"")))
    // full-file sanity: each insert appears exactly once
    assert(jsonAfter2.count(_.contains("\"aa\"")) == 1)
    assert(jsonAfter2.count(_.contains("\"bb\"")) == 1)
  }
}
