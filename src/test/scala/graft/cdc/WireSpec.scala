package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

class WireSpec extends AnyFunSuite {

  private def op(logPos: Long, opType: String = OpType.Insert,
      payloadSize: Int = 10): Operation = {
    val table = TableDef("test", "canal_test", Vector(
      ColumnDef("id", "int(11)", InnerType.LONG, key = "PRI", nullable = false),
      ColumnDef("content", "blob", InnerType.BLOB),
      ColumnDef("name", "varchar(100)", InnerType.VARCHAR, charset = "utf8")))
    Operation(
      OperationHeader(66693, opType, 1546300800L, logPos),
      table = Some(table),
      rows = Vector(OpRow(None, Some(Vector(Some(logPos.toString),
        None, Some(Random.alphanumeric.take(payloadSize).mkString))))))
  }

  private def commitOp(logPos: Long): Operation =
    Operation(OperationHeader(66693, OpType.Commit, 1546300800L, logPos),
      progress = Some(Progress(Position("mysql-bin.000008", logPos, 66693),
        Some(GtidSet.parse("cb477437-aacb-11e8-90e7-0242ac110002:1-9")))))

  test("operation codec round-trips every op shape") {
    val ops = Vector(
      Operation(OperationHeader(1, OpType.Rotate, 0, 0),
        nextLogName = Some("mysql-bin.000008"), nextLogPos = Some(4L)),
      Operation(OperationHeader(1, OpType.Gtid, 10, 194),
        gtid = Some("cb477437-aacb-11e8-90e7-0242ac110002:9")),
      Operation(OperationHeader(1, OpType.Begin, 10, 259)),
      op(420),
      Operation(OperationHeader(1, OpType.Update, 11, 561),
        table = op(1).table,
        rows = Operation.pairUpdateRows(Seq(
          Vector(Some("4"), None, Some("d")), Vector(Some("4"), None, Some("e"))))),
      Operation(OperationHeader(1, OpType.Ddl, 12, 803),
        database = Some("test"),
        statement = Some("ALTER TABLE test.canal_test ADD `age` INT(5) NOT NULL AFTER `name`"),
        progress = Some(Progress("mysql-bin.000008", 803, 66693))),
      commitOp(602))
    assert(Wire.decodeOps(Wire.encodeOps(ops)) == ops)
  }

  test("decodeOp inverts encodeOp: gset progress (MySQL and MariaDB), NOT NULL " +
      "columns, table charset, DDL and Rotate") {
    val ops = Vector(
      Operation(OperationHeader(1, OpType.Rotate, 0, 0),
        nextLogName = Some("mysql-bin.000009"), nextLogPos = Some(4L)),
      op(420).copy(table = op(420).table.map(_.copy(charset = "latin1"))),
      Operation(OperationHeader(1, OpType.Ddl, 12, 803),
        database = Some("test"),
        statement = Some("ALTER TABLE test.canal_test ADD `age` INT(5) NOT NULL AFTER `name`"),
        progress = Some(Progress(Position("mysql-bin.000008", 803, 66693),
          Some(Gset.parse("0-77-101"))))),
      commitOp(602))
    ops.foreach { o =>
      val back = Wire.decodeOp(Wire.encodeOp(o))
      assert(back == o)
      assert(back.table.map(_.columns.map(_.nullable)) == o.table.map(_.columns.map(_.nullable)))
    }
    assert(Wire.decodeOp(Wire.encodeOp(ops(1))).table.get.charset == "latin1")
    assert(Wire.decodeOp(Wire.encodeOp(ops(1))).table.get.columns.head.nullable == false)
  }

  test("zlib round-trip") {
    val data = ("abc" * 10000).getBytes("UTF-8")
    val z = Wire.compress(data)
    assert(z.length < data.length / 10)
    assert(Wire.decompress(z).sameElements(data))
  }

  test("producer: small batch is one message with consecutive seq") {
    val p = new FragmentingProducer(producerId = 1, maxPayloadSize = 1 << 20)
    val m1 = p.produce(Seq(op(100), commitOp(101)))
    val m2 = p.produce(Seq(op(200), commitOp(201)))
    assert(m1.size == 1 && m2.size == 1)
    assert(m1.head.seq == 1 && m2.head.seq == 2)
    assert(!m1.head.moreFragment)
  }

  test("producer: oversized batch binary-splits preserving op order") {
    val ops = (1 to 16).map(i => op(i.toLong, payloadSize = 400))
    val p = new FragmentingProducer(producerId = 1, maxPayloadSize = 1200)
    val msgs = p.produce(ops)
    assert(msgs.size > 1)
    val dec = new OperationDecoder
    val decoded = msgs.zipWithIndex.flatMap { case (m, i) =>
      dec.feed(Wire.encodeMessage(m), i.toLong).toSeq.flatMap(_.ops)
    }
    assert(decoded.map(_.header.logPos) == ops.map(_.header.logPos))
  }

  test("producer: single op bigger than max payload fragments IPv4-style") {
    val big = op(1, payloadSize = 5000)
    val p = new FragmentingProducer(producerId = 1, maxPayloadSize = 1000)
    val msgs = p.produce(Seq(big))
    assert(msgs.size > 1)
    assert(msgs.init.forall(_.moreFragment))
    assert(!msgs.last.moreFragment)
    assert(msgs.map(_.groupId).distinct.size == 1)
    // seq strictly consecutive
    assert(msgs.map(_.seq) == (1L to msgs.size.toLong).toVector)

    val dec = new OperationDecoder
    val out = msgs.zipWithIndex.flatMap { case (m, i) =>
      dec.feed(Wire.encodeMessage(m), i.toLong).toSeq
    }
    assert(out.size == 1)
    assert(out.head.ops == Vector(big))
    assert(out.head.beginSeq == 1 && out.head.endSeq == msgs.size.toLong)
  }

  test("producer+decoder: compressed payloads round-trip") {
    val p = new FragmentingProducer(producerId = 9, maxPayloadSize = 1 << 20, compress = true)
    val ops = (1 to 50).map(i => op(i.toLong, payloadSize = 200))
    val msgs = p.produce(ops)
    val dec = new OperationDecoder
    val decoded = msgs.zipWithIndex.flatMap { case (m, i) =>
      dec.feed(Wire.encodeMessage(m), i.toLong).toSeq.flatMap(_.ops)
    }
    assert(decoded == ops.toVector)
  }

  test("decoder: duplicates drop silently; a seq GAP raises (exactly-once)") {
    val p = new FragmentingProducer(producerId = 1, maxPayloadSize = 1 << 20)
    val m1 = p.produce(Seq(op(1))).head
    val m2 = p.produce(Seq(op(2))).head
    val m3 = p.produce(Seq(op(3))).head
    val dec = new OperationDecoder
    assert(dec.feed(Wire.encodeMessage(m1), 0).isDefined)
    assert(dec.feed(Wire.encodeMessage(m1), 1).isEmpty) // duplicate → drop
    // the topic is a strictly-ordered log: seeing m3 while expecting m2
    // means m2 is ABSENT (it can never arrive later), so a dup-style
    // ignore would silently drop every subsequent message forever — the
    // decoder must surface it
    val e = intercept[IllegalStateException] {
      dec.feed(Wire.encodeMessage(m3), 2)
    }
    assert(e.getMessage.contains("sequence gap"))
    // in-order consumption after the duplicate still proceeds
    assert(dec.feed(Wire.encodeMessage(m2), 3).isDefined)
    assert(dec.feed(Wire.encodeMessage(m3), 4).isDefined)
  }

  test("decoder: producer change drops incomplete fragment group") {
    val p1 = new FragmentingProducer(producerId = 1, maxPayloadSize = 500)
    val frags = p1.produce(Seq(op(1, payloadSize = 2000)))
    assert(frags.size > 2)
    val dec = new OperationDecoder
    assert(dec.feed(Wire.encodeMessage(frags.head), 0).isEmpty)
    // new producer takes over mid-group at the next seq
    val takeover = Wire.Message(producerId = 2, seq = frags(1).seq, groupId = 99,
      compressed = false, moreFragment = false, payload = Wire.encodeOps(Seq(op(7))))
    val out = dec.feed(Wire.encodeMessage(takeover), 1)
    assert(out.isDefined)
    assert(out.get.ops.head.header.logPos == 7)
  }

  test("property: split∘merge = id for random op batches and payload caps") {
    val r = new Random(42)
    (1 to 30).foreach { _ =>
      val n = 1 + r.nextInt(20)
      val ops = (1 to n).map(i => op(i.toLong, payloadSize = 1 + r.nextInt(3000)))
      val cap = 300 + r.nextInt(5000)
      val p = new FragmentingProducer(producerId = 1, maxPayloadSize = cap,
        compress = r.nextBoolean())
      val msgs = p.produce(ops)
      val dec = new OperationDecoder
      val decoded = msgs.zipWithIndex.flatMap { case (m, i) =>
        dec.feed(Wire.encodeMessage(m), i.toLong).toSeq.flatMap(_.ops)
      }
      assert(decoded == ops.toVector, s"n=$n cap=$cap")
    }
  }

  test("trx batcher: groups BEGIN..COMMIT, coalesces empty trx at limit") {
    val b = new TrxBatcher(emptyTrxLimit = 3)
    def begin(pos: Long) = Operation(OperationHeader(1, OpType.Begin, 0, pos))
    // a DML transaction produces immediately at commit
    assert(b.offer(begin(1)).isEmpty)
    assert(b.offer(op(2)).isEmpty)
    val batch = b.offer(commitOp(3))
    assert(batch.isDefined && batch.get.size == 3)
    // empty transactions coalesce until the limit forces a produce
    assert(b.offer(begin(4)).isEmpty)
    assert(b.offer(commitOp(5)).isEmpty) // empty #1 → buffered away
    assert(b.offer(begin(6)).isEmpty)
    assert(b.offer(commitOp(7)).isEmpty) // empty #2
    assert(b.offer(begin(8)).isEmpty)
    val forced = b.offer(commitOp(9)) // empty #3 → forced
    assert(forced.isDefined)
    assert(forced.get.last.header.logPos == 9)
    // DDL is a barrier: always flushes
    val ddl = Operation(OperationHeader(1, OpType.Ddl, 0, 10),
      database = Some("test"), statement = Some("CREATE TABLE test.t (a INT)"))
    val out = b.offer(ddl)
    assert(out.isDefined && out.get.last.opType == OpType.Ddl)
  }
}
