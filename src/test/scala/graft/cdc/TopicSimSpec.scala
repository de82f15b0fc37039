package graft.cdc

import org.scalatest.funsuite.AnyFunSuite

/** S5 against a SERVER: the recovery scan runs over the socket-served
  * topic simulator instead of a local file, with the reference's exact
  * Initialize/recover semantics (kafka.go:134-255) — and a restart after
  * a lost ack produces no duplicate into the topic. */
class TopicSimSpec extends AnyFunSuite {

  private def insert(logPos: Long, id: Long): Operation = {
    val table = TableDef("test", "t", Vector(
      ColumnDef("id", "int(11)", InnerType.LONG, key = "PRI", nullable = false)))
    Operation(
      OperationHeader(66693, OpType.Insert, 1546300800L, logPos),
      table = Some(table),
      rows = Vector(OpRow(None, Some(Vector(Some(id.toString))))))
  }

  private def begin(logPos: Long): Operation =
    Operation(OperationHeader(66693, OpType.Begin, 1546300800L, logPos))

  private def commit(logPos: Long): Operation =
    Operation(OperationHeader(66693, OpType.Commit, 1546300800L, logPos),
      progress = Some(Progress(Position("mysql-bin.000008", logPos, 66693), None)))

  private def trx(basePos: Long, id: Long): Seq[Operation] =
    Seq(begin(basePos), insert(basePos + 50, id), commit(basePos + 100))

  test("server round-trip: hwm, produce, bounded fetch") {
    val server = new TopicServer().start()
    try {
      val client = new TopicClient("127.0.0.1", server.port)
      assert(client.highWaterMark() == 0L)
      assert(client.produce("m0".getBytes) == 1L)
      assert(client.produce("m1".getBytes) == 2L)
      val all = client.fetchFrom(0L)
      assert(all.map(_._1) == Vector(0L, 1L))
      assert(all.map(p => new String(p._2)) == Vector("m0", "m1"))
      assert(client.fetchFrom(1L).map(p => new String(p._2)) == Vector("m1"))
      assert(client.fetchFrom(2L).isEmpty)
      // paged fetch (0x04): exactly maxMessages per round, resumable
      assert(client.produce("m2".getBytes) == 3L)
      val p0 = client.fetchPage(0L, 2)
      assert(p0.map(_._1) == Vector(0L, 1L))
      val p1 = client.fetchPage(p0.last._1 + 1, 2)
      assert(p1.map(p => new String(p._2)) == Vector("m2"))
      assert(client.fetchPage(3L, 2).isEmpty)
      assert(client.fetchPage(0L, 0).isEmpty)
    } finally server.close()
  }

  test("first run: nothing acked, nothing scanned — ackedOffset snaps to hwm-1") {
    val server = new TopicServer().start()
    try {
      val producer = new FragmentingProducer(producerId = 1L)
      val client = new TopicClient("127.0.0.1", server.port)
      producer.produce(trx(200, 1)).foreach(m => client.produce(Wire.encodeMessage(m)))
      val rec = KafkaRecovery.recover(client, Checkpoint(Progress.zero))
      assert(rec.scanned == 0)
      assert(rec.ackedOffset == server.highWaterMark - 1)
      assert(rec.ackedSeq == 0L)
    } finally server.close()
  }

  test("crash after produce, before ack: the scan advances acked state to " +
      "the topic tail; restart re-produces nothing (no duplicates)") {
    val server = new TopicServer().start()
    try {
      val client = new TopicClient("127.0.0.1", server.port)
      val producer = new FragmentingProducer(producerId = 1L)

      // trx1 produced AND acked; trx2 produced but the ack was lost
      val msgs1 = producer.produce(trx(200, 1))
      msgs1.foreach(m => client.produce(Wire.encodeMessage(m)))
      val ackedAfter1 = Checkpoint(Progress(Position("mysql-bin.000008", 300, 66693), None))
        .withIntCtx("acked_seq", msgs1.last.seq)
        .withIntCtx("acked_offset", client.highWaterMark() - 1)
      val msgs2 = producer.produce(trx(400, 2))
      msgs2.foreach(m => client.produce(Wire.encodeMessage(m)))

      // restart: recovery scans offsets after the acked one, over the socket
      val rec = KafkaRecovery.recover(client, ackedAfter1)
      assert(rec.scanned == msgs2.size)
      assert(rec.ackedSeq == msgs2.last.seq)
      assert(rec.ackedOffset == client.highWaterMark() - 1)
      assert(rec.ckp.progress.pos == Position("mysql-bin.000008", 500, 66693))

      // resume: producer seq continues from the recovered ackedSeq, and F3
      // against the recovered progress drops the already-produced trxs —
      // re-feeding the full source stream produces NOTHING new
      val resumed = new FragmentingProducer(producerId = 1L, startSeq = rec.ackedSeq)
      val source = trx(200, 1) ++ trx(400, 2)
      val fresh = source.filter(op =>
        Position("mysql-bin.000008", op.header.logPos, op.header.serverId)
          .compare(rec.ckp.progress.pos) > 0)
      assert(fresh.isEmpty) // nothing survives F3 → nothing reaches produce
      // (an empty trx never reaches the producer: TypedTrxBatcher (F6)
      // coalesces it — tested in WireSpec)

      // a genuinely new trx3 continues the seq chain with no gap
      val msgs3 = resumed.produce(trx(600, 3))
      msgs3.foreach(m => client.produce(Wire.encodeMessage(m)))
      assert(msgs3.head.seq == rec.ackedSeq + 1)

      // consumer proof: decoding the WHOLE topic yields each insert exactly
      // once, seqs strictly consecutive — the no-duplicate contract
      val dec = new OperationDecoder
      val ops = client.fetchFrom(0L).flatMap { case (off, data) =>
        dec.feed(data, off).toSeq.flatMap(_.ops)
      }
      val ids = ops.filter(_.opType == OpType.Insert)
        .flatMap(_.rows).flatMap(_.after.toSeq).flatMap(_.headOption.flatten)
      assert(ids == Vector("1", "2", "3"))
    } finally server.close()
  }

  test("kill between the split messages of one transaction: the relaunch " +
      "re-produces the first half under its old seq, and every op arrives once") {
    val server = new TopicServer().start()
    try {
      val client = new TopicClient("127.0.0.1", server.port)
      val t2 = begin(400) +: (2L to 7L).map(id => insert(400 + 10 * id, id)) :+ commit(500)
      // just under T2's whole payload: T2 splits into two messages, T1 fits one
      val maxPayload = Wire.encodeOps(t2).length - 1
      val producer = new FragmentingProducer(producerId = 1L, maxPayloadSize = maxPayload)

      val msgs1 = producer.produce(trx(200, 1))
      assert(msgs1.size == 1)
      msgs1.foreach(m => client.produce(Wire.encodeMessage(m)))
      val ackedAfter1 = Checkpoint(Progress(Position("mysql-bin.000008", 300, 66693), None))
        .withIntCtx("acked_seq", msgs1.last.seq)
        .withIntCtx("acked_offset", client.highWaterMark() - 1)
      val msgs2 = producer.produce(t2)
      assert(msgs2.size == 2 && !msgs2.exists(_.moreFragment))
      client.produce(Wire.encodeMessage(msgs2.head)) // SIGKILL before the second

      // the half holds no Commit: acked seq/offset stay paired with T1's progress
      val rec = KafkaRecovery.recover(client, ackedAfter1)
      assert(rec.scanned == 1)
      assert(rec.ackedSeq == msgs1.last.seq)
      assert(rec.ackedOffset == 0L)
      assert(rec.ckp.progress.pos == Position("mysql-bin.000008", 300, 66693))

      // relaunch: F3 against the recovered progress replays all of T2
      val resumed = new FragmentingProducer(producerId = 1L, maxPayloadSize = maxPayload,
        startSeq = rec.ackedSeq)
      val fresh = (trx(200, 1) ++ t2).filter(op =>
        Position("mysql-bin.000008", op.header.logPos, op.header.serverId)
          .compare(rec.ckp.progress.pos) > 0)
      val again = resumed.produce(fresh)
      assert(again.map(_.seq) == msgs2.map(_.seq), "re-produced halves keep their seqs")
      again.foreach(m => client.produce(Wire.encodeMessage(m)))

      val dec = new OperationDecoder
      val ops = client.fetchFrom(0L).flatMap { case (off, data) =>
        dec.feed(data, off).toSeq.flatMap(_.ops)
      }
      val ids = ops.filter(_.opType == OpType.Insert)
        .flatMap(_.rows).flatMap(_.after.toSeq).flatMap(_.headOption.flatten)
      assert(ids == (1L to 7L).map(_.toString))
      assert(ops.count(_.opType == OpType.Begin) == 2)
      assert(ops.count(_.opType == OpType.Commit) == 2)

      // a later recovery lands on T2's commit: nothing left to re-produce
      val rec2 = KafkaRecovery.recover(client, rec.ckp)
      assert(rec2.ackedSeq == again.last.seq)
      assert(rec2.ackedOffset == client.highWaterMark() - 1)
      assert(rec2.ckp.progress.pos == Position("mysql-bin.000008", 500, 66693))
    } finally server.close()
  }

  test("HA second writer: acks from produce() returns never cover a deposed " +
      "leader's appends — the recovery scan still sees them") {
    val server = new TopicServer().start()
    try {
      val mine = new TopicClient("127.0.0.1", server.port)
      val producer = new FragmentingProducer(producerId = 1L)

      // this producer sends trx1 and records its ack from the produce()
      // RETURN (post-append hwm - 1 of each append), not a hwm re-query
      val msgs1 = producer.produce(trx(200, 1))
      var myAckedOffset = -1L
      msgs1.foreach(m => myAckedOffset = mine.produce(Wire.encodeMessage(m)) - 1)

      // a deposed-but-still-writing leader (second writer) appends trx2
      // AFTER our last produce but BEFORE we checkpoint
      val deposed = new TopicClient("127.0.0.1", server.port)
      val theirProducer = new FragmentingProducer(producerId = 2L, startSeq = msgs1.last.seq)
      val msgs2 = theirProducer.produce(trx(400, 2))
      msgs2.foreach(m => deposed.produce(Wire.encodeMessage(m)))

      // the hwm now covers THEIR messages; our per-message ack does not
      assert(mine.highWaterMark() - 1 > myAckedOffset)
      val ckp = Checkpoint(Progress(Position("mysql-bin.000008", 300, 66693), None))
        .withIntCtx("acked_seq", msgs1.last.seq)
        .withIntCtx("acked_offset", myAckedOffset) // the fixed semantics
      // restart: the recovery scan starts after OUR ack and replays the
      // second writer's tail instead of silently skipping it
      val rec = KafkaRecovery.recover(mine, ckp)
      assert(rec.scanned == msgs2.size)
      assert(rec.ackedSeq == msgs2.last.seq)
      assert(rec.ackedOffset == mine.highWaterMark() - 1)
      assert(rec.ckp.progress.pos == Position("mysql-bin.000008", 500, 66693))
      // (with the old hwm-derived ack, acked_offset would have been hwm-1
      // already and rec.scanned == 0 — trx2 lost to the next consumer scan)
    } finally server.close()
  }

  test("produce() ack is the append's OWN offset even under a concurrent writer") {
    val server = new TopicServer().start()
    try {
      // two writers race: each produce() must ack the offset ITS append
      // landed at (+1), never a hwm re-query that covers the other
      // writer's interleaved appends
      val n = 100
      def run(tag: String): (Thread, Array[Long]) = {
        val acks = new Array[Long](n)
        val t = new Thread(() => {
          val c = new TopicClient("127.0.0.1", server.port)
          for (i <- 0 until n)
            acks(i) = c.produce(s"$tag-$i".getBytes("UTF-8")) - 1
        })
        (t, acks)
      }
      val (ta, acksA) = run("a"); val (tb, acksB) = run("b")
      ta.start(); tb.start(); ta.join(); tb.join()

      val reader = new TopicClient("127.0.0.1", server.port)
      val byPayload = reader.fetchFrom(0L)
        .map { case (off, data) => new String(data, "UTF-8") -> off }.toMap
      for (i <- 0 until n) {
        assert(acksA(i) == byPayload(s"a-$i"), s"writer A message $i")
        assert(acksB(i) == byPayload(s"b-$i"), s"writer B message $i")
      }
    } finally server.close()
  }

  test("seeding from existing wire messages serves the same bytes") {
    val producer = new FragmentingProducer(producerId = 9L)
    val seed = producer.produce(trx(100, 7)).map(Wire.encodeMessage)
    val server = new TopicServer(seed).start()
    try {
      val client = new TopicClient("127.0.0.1", server.port)
      assert(client.highWaterMark() == seed.size.toLong)
      val dec = new OperationDecoder
      val ops = client.fetchFrom(0L).flatMap { case (off, d) =>
        dec.feed(d, off).toSeq.flatMap(_.ops)
      }
      assert(ops.map(_.opType) == Vector(OpType.Begin, OpType.Insert, OpType.Commit))
    } finally server.close()
  }
}
