package graft.streaming

import graft.cdc._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import java.nio.file.{Files, Paths}

/** The wire sink against the served topic (K1 end-to-end): Replay produces
  * into a TopicServer with the reference's broker lifecycle — recovery
  * scan at startup, acked seq/offset in the checkpoint, producer seq
  * resumed — and restarts (including a LOST ack) never duplicate a
  * message in the topic. */
class ReplayTopicSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("replay-topic-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val fixture = Paths.get("fixtures/canal_test.jsonl")

  private def decodeAll(client: TopicClient): Vector[Operation] = {
    val dec = new OperationDecoder
    client.fetchFrom(0L).flatMap { case (off, d) =>
      dec.feed(d, off).toSeq.flatMap(_.ops)
    }
  }

  test("produce into the topic; clean restart and lost-ack restart both " +
      "leave the topic duplicate-free") {
    val server = new TopicServer().start()
    try {
      val addr = s"127.0.0.1:${server.port}"
      val out = Files.createTempDirectory("topicrun")

      // ---- run 1: everything lands in the topic, ckp records acked state ----
      val stats1 = Replay.run(spark, fixture, out, topicAddr = Some(addr))
      assert(stats1.wireMessages > 0)
      val hwm1 = server.highWaterMark
      assert(hwm1 == stats1.wireMessages)
      assert(Files.notExists(out.resolve("wire.b64l"))) // topic replaced the file
      val ops1 = decodeAll(new TopicClient("127.0.0.1", server.port))
      val inserts1 = ops1.count(_.opType == OpType.Insert)
      assert(inserts1 > 0)
      val ckp1 = new CkpManager(new FileCkpStorage(out.resolve("ckp"))).get("wire").get
      assert(ckp1.getIntCtx("acked_offset", -99) == hwm1 - 1)
      assert(ckp1.getIntCtx("acked_seq", -99) > 0)

      // ---- run 2: clean restart — F3 + recovery produce nothing new ----
      val stats2 = Replay.run(spark, fixture, out, topicAddr = Some(addr))
      assert(stats2.wireMessages == 0)
      assert(server.highWaterMark == hwm1)

      // ---- run 3: the ack was LOST (ckp rewound to pre-run-1) but the
      // topic retains the messages — the recovery scan repairs the acked
      // state from the topic itself, so still nothing re-produces ----
      val mgr = new CkpManager(new FileCkpStorage(out.resolve("ckp")))
      mgr.update("wire", Checkpoint(Progress.zero)
        .withIntCtx("acked_seq", 0L).withIntCtx("acked_offset", -1L))
      mgr.persist()
      val stats3 = Replay.run(spark, fixture, out, topicAddr = Some(addr))
      assert(stats3.wireMessages == 0, "recovery scan must repair the lost ack")
      assert(server.highWaterMark == hwm1)
      // and the topic still decodes to exactly the original stream
      val ops3 = decodeAll(new TopicClient("127.0.0.1", server.port))
      assert(ops3.count(_.opType == OpType.Insert) == inserts1)
      assert(ops3.map(_.header.logPos) == ops1.map(_.header.logPos))
    } finally server.close()
  }

  test("a Rotate flushed after the last commit is re-produced under its own " +
      "seq on restart, so the consumer sees it once") {
    val server = new TopicServer().start()
    try {
      val addr = s"127.0.0.1:${server.port}"
      val out = Files.createTempDirectory("topicrotate")
      val rotated = Files.createTempFile("rotate-tail", ".jsonl")
      Files.write(rotated, (Files.readAllLines(fixture).toArray.toSeq.map(_.toString) :+
        """{"header":{"server_id":66693,"type":"rotate","timestamp":0,"log_pos":1300},""" +
          """"next_log_name":"mysql-bin.000009","next_log_pos":4}""").mkString("\n").getBytes)

      val stats1 = Replay.run(spark, rotated, out, topicAddr = Some(addr))
      val hwm1 = server.highWaterMark
      assert(hwm1 == stats1.wireMessages)
      // the checkpoint pairs acked seq/offset with the last commit, not
      // with the Rotate message that follows it
      val ckp1 = new CkpManager(new FileCkpStorage(out.resolve("ckp"))).get("wire").get
      assert(ckp1.getIntCtx("acked_offset", -99) == hwm1 - 2)
      val ops1 = decodeAll(new TopicClient("127.0.0.1", server.port))
      assert(ops1.count(op => op.opType == OpType.Rotate && op.header.logPos == 1300) == 1)

      // restart: the Rotate lies past the checkpointed progress, so it is
      // produced again — under the seq it had, which the consumer drops
      val stats2 = Replay.run(spark, rotated, out, topicAddr = Some(addr))
      assert(stats2.wireMessages == 1)
      assert(server.highWaterMark == hwm1 + 1)
      val ops2 = decodeAll(new TopicClient("127.0.0.1", server.port))
      assert(ops2.map(op => (op.opType, op.header.logPos)) ==
        ops1.map(op => (op.opType, op.header.logPos)), "the consumer sees every op once")
    } finally server.close()
  }

  test("same lifecycle over the modern RecordBatch dialect (kafka2:// sink)") {
    val broker = new graft.kafka.KafkaBroker().start()
    try {
      val addr = s"kafka2://127.0.0.1:${broker.port}/ops"
      val out = Files.createTempDirectory("kafka2run")
      def topicOps: Vector[Operation] = {
        val c = new graft.kafka.KafkaTopicClient("127.0.0.1", broker.port, "ops",
          messageFormat = 2)
        try {
          val dec = new OperationDecoder
          c.fetchFrom(0L).flatMap { case (off, d) =>
            dec.feed(d, off).toSeq.flatMap(_.ops)
          }
        } finally c.close()
      }

      val stats1 = Replay.run(spark, fixture, out, topicAddr = Some(addr))
      assert(stats1.wireMessages > 0)
      val hwm1 = broker.highWaterMark("ops", 0)
      assert(hwm1 == stats1.wireMessages)
      val ops1 = topicOps
      assert(ops1.count(_.opType == OpType.Insert) > 0)

      // lost ack over v2 frames: rewind the checkpoint; the recovery scan
      // (ListOffsets v1 + Fetch v4 + batch decode) repairs it
      val mgr = new CkpManager(new FileCkpStorage(out.resolve("ckp")))
      mgr.update("wire", Checkpoint(Progress.zero)
        .withIntCtx("acked_seq", 0L).withIntCtx("acked_offset", -1L))
      mgr.persist()
      val stats2 = Replay.run(spark, fixture, out, topicAddr = Some(addr))
      assert(stats2.wireMessages == 0, "recovery scan must repair the lost ack")
      assert(broker.highWaterMark("ops", 0) == hwm1)
      assert(topicOps.map(_.header.logPos) == ops1.map(_.header.logPos))
    } finally broker.close()
  }

  test("same lifecycle over the REAL Kafka wire protocol (kafka:// sink)") {
    val broker = new graft.kafka.KafkaBroker().start()
    try {
      val addr = s"kafka://127.0.0.1:${broker.port}/ops"
      val out = Files.createTempDirectory("kafkarun")
      def topicOps: Vector[Operation] = {
        val c = new graft.kafka.KafkaTopicClient("127.0.0.1", broker.port, "ops")
        try {
          val dec = new OperationDecoder
          c.fetchFrom(0L).flatMap { case (off, d) =>
            dec.feed(d, off).toSeq.flatMap(_.ops)
          }
        } finally c.close()
      }

      val stats1 = Replay.run(spark, fixture, out, topicAddr = Some(addr))
      assert(stats1.wireMessages > 0)
      val hwm1 = broker.highWaterMark("ops", 0)
      assert(hwm1 == stats1.wireMessages)
      val ops1 = topicOps
      val inserts1 = ops1.count(_.opType == OpType.Insert)
      assert(inserts1 > 0)

      // clean restart: F3 + recovery over Produce/Fetch/ListOffsets frames
      val stats2 = Replay.run(spark, fixture, out, topicAddr = Some(addr))
      assert(stats2.wireMessages == 0)
      assert(broker.highWaterMark("ops", 0) == hwm1)

      // lost ack: rewind the checkpoint; the recovery scan repairs it from
      // the broker itself — nothing re-produces, no duplicates
      val mgr = new CkpManager(new FileCkpStorage(out.resolve("ckp")))
      mgr.update("wire", Checkpoint(Progress.zero)
        .withIntCtx("acked_seq", 0L).withIntCtx("acked_offset", -1L))
      mgr.persist()
      val stats3 = Replay.run(spark, fixture, out, topicAddr = Some(addr))
      assert(stats3.wireMessages == 0, "recovery scan must repair the lost ack")
      assert(broker.highWaterMark("ops", 0) == hwm1)
      val ops3 = topicOps
      assert(ops3.count(_.opType == OpType.Insert) == inserts1)
      assert(ops3.map(_.header.logPos) == ops1.map(_.header.logPos))
    } finally broker.close()
  }
}
