package perfbench

import graft.cdc._
import graft.kafka.{KafkaBroker, KafkaTopicClient}
import graft.mysql.{BinlogClient, BinlogEvents, BinlogToOps}
import graft.streaming.OperationJson

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** A single-threaded pass over a workload's generated binlog that calls each
  * CDC module's public functions in pipeline order: `BinlogClient` over an
  * in-memory stream, `BinlogToOps`, `OperationJson` render and parse,
  * `CanalTableFilter`, `DdlGate`, `Wire.encodeOp`, `TypedTrxBatcher` with
  * `FragmentingProducer`, `KafkaTopicClient.produce`, `CkpManager.persist`
  * and, at the end, `KafkaRecovery.recover` over what it produced.
  *
  * With `spans` every call is a span (layer, start, end) kept in memory and
  * written to `<topic>-spans.tsv` in the work directory; without, only the
  * whole pass is timed — the two give the tracing overhead. The layers are called one after another from
  * this loop, so each span's duration is its layer's self time. */
final class LayerPass(traffic: Traffic, units: Seq[Txn], broker: KafkaBroker, work: Path) {
  import LayerPass._

  /** The replica's side of a whole conversation, ending in an EOF packet. */
  private val script: Array[Byte] = {
    val b = new ByteArrayOutputStream()
    def frame(seq: Int, p: Array[Byte]): Unit = {
      b.write(p.length & 0xff); b.write((p.length >> 8) & 0xff); b.write((p.length >> 16) & 0xff)
      b.write(seq & 0xff); b.write(p)
    }
    frame(0, FakeMaster.greeting); frame(2, FakeMaster.ok)
    def replies(rs: Seq[Array[Byte]]): Unit = rs.zipWithIndex.foreach { case (r, i) => frame(i + 1, r) }
    replies(FakeMaster.variable("binlog_format", "ROW"))
    replies(FakeMaster.variable("binlog_row_image", "FULL"))
    replies(Seq(FakeMaster.ok)) // heartbeat period
    replies(Seq(FakeMaster.ok)) // register
    replies(Seq(FakeMaster.ok)) // checksum announce
    replies(FakeMaster.resultSet(Seq("@@global.binlog_checksum"), Seq("CRC32")))
    val events = Iterator(FakeMaster.rotate(4), traffic.fde) ++ units.iterator.flatMap(_.events)
    events.zipWithIndex.foreach { case (e, i) => frame(i + 1, 0.toByte +: e) }
    frame(0, FakeMaster.eof)
    b.toByteArray
  }

  /** One pass; returns (ops, wall nanos, per-layer (count, nanos), produced topic). */
  def run(spans: Boolean, topic: String): (Long, Long, Map[String, (Long, Long)]) = {
    val layerN = Array.fill(Layers.size)(0L)
    val layerNs = Array.fill(Layers.size)(0L)
    val spanBuf = new LongBuf
    def span[A](layer: Int)(f: => A): A =
      if (!spans) f
      else {
        val t0 = System.nanoTime(); val a = f; val t1 = System.nanoTime()
        layerN(layer) += 1; layerNs(layer) += t1 - t0
        spanBuf += layer; spanBuf += t0; spanBuf += t1
        a
      }
    val tracker = new SchemaTracker
    traffic.seedSql.foreach(tracker.execDdl(_, ""))
    val seedLookup = new SchemaTracker
    traffic.seedSql.foreach(seedLookup.execDdl(_, ""))
    val gate = new DdlGate(tracker)
    val mapper = new BinlogToOps(seedLookup.getTableDef(_, _))
    val wireF = CanalTableFilter(Seq(s"${Traffic.Db}\\..*"), Seq(s"${Traffic.Db}\\.audit"))
    val batcher = new TypedTrxBatcher[(String, Array[Byte])](_._1)
    val producer = new FragmentingProducer(producerId = 1L, maxPayloadSize = 1 << 20, codec = Wire)
    val client = new KafkaTopicClient("127.0.0.1", broker.port, topic, messageFormat = 2)
    val ckpDir = Files.createDirectories(work.resolve(s"layerpass-ckp-$topic"))
    val ckp = new CkpManager(new FileCkpStorage(ckpDir))
    val tables = mutable.Map.empty[Long, BinlogEvents.TableMap]
    var ops = 0L
    var trx = 0L

    val t0 = System.nanoTime()
    val bc = new BinlogClient(new ByteArrayInputStream(script), new ByteArrayOutputStream(), "repl", "")
    bc.connect(); bc.checkBinlogRowFormat(); bc.checkBinlogRowImage()
    bc.setHeartbeatPeriod(30); bc.registerSlave(1001)
    val it = bc.dump(Traffic.File, 4, 1001)
    var logName = Traffic.File
    while (span(Decode)(it.hasNext)) {
      val (h, ev) = it.next()
      val out: Seq[Operation] = span(Render) {
        ev match {
          case r: BinlogEvents.Rows => Seq(mapper.toRowsOperation(h, r, tables(r.tableId)))
          case tm: BinlogEvents.TableMap => tables(tm.tableId) = tm; Nil
          case other => mapper.toOperation(h, other).toSeq
        }
      }
      out.foreach { op0 =>
        if (op0.opType == OpType.Rotate) op0.nextLogName.foreach(logName = _)
        val op1 =
          if (op0.opType == OpType.Commit || op0.opType == OpType.Ddl)
            op0.copy(progress = Some(Progress(Position(logName, op0.header.logPos, op0.header.serverId), None)))
          else op0
        val json = span(Render)(OperationJson.render(op1))
        val op = span(Parse)(OperationJson.parse(json))
        ops += 1
        if (span(Filter)(op.table.forall(t => wireF.matches(t.database, t.name)))) {
          if (op.opType == OpType.Ddl) span(DdlApply)(gate(op.statement.get, op.database.getOrElse("")))
          val bytes = span(Encode)(Wire.encodeOp(op))
          span(Batch)(batcher.offer((op.opType, bytes))).foreach { t =>
            trx += 1
            val msgs = span(Batch)(producer.produceEncoded(t.map(_._2)).map(Wire.encodeMessage))
            msgs.foreach(m => span(Produce)(client.produce(m)))
            if (trx % 200 == 0) span(Persist) {
              ckp.update("wire", Checkpoint(op.progress.getOrElse(Progress.zero)))
              ckp.persist()
            }
          }
        }
      }
    }
    val wall = System.nanoTime() - t0
    client.close()
    if (spans) {
      val w = new java.io.PrintWriter(Files.newBufferedWriter(work.resolve(s"$topic-spans.tsv")))
      try {
        w.println("layer\tstart_ns\tend_ns")
        var i = 0
        while (i < spanBuf.size) { w.println(s"${Layers(spanBuf(i).toInt)}\t${spanBuf(i + 1)}\t${spanBuf(i + 2)}"); i += 3 }
      } finally w.close()
    }
    (ops, wall, Layers.indices.map(i => Layers(i) -> (layerN(i), layerNs(i))).toMap)
  }

  /** Recovery scan from the start of the topic the traced pass produced. */
  def recover(topic: String): (Int, Long) = {
    val client = new KafkaTopicClient("127.0.0.1", broker.port, topic, messageFormat = 2)
    try {
      val t0 = System.nanoTime()
      val r = KafkaRecovery.recover(client,
        Checkpoint(Progress.zero).withIntCtx("acked_offset", -1L).withIntCtx("acked_seq", 0L))
      (r.scanned, System.nanoTime() - t0)
    } finally client.close()
  }

  /** The trace run's layer metrics: a warm-up pass (JIT), then untraced,
    * traced, traced and untraced passes, so that a drift in the machine's
    * speed cancels out of the overhead, and a recovery scan over the first
    * traced pass's topic, whose spans give the layers. */
  def metrics(): Map[String, Double] = {
    run(spans = false, "layerpass-warmup")
    val (_, plainNs1, _) = run(spans = false, "layerpass-plain-1")
    val (ops, tracedNs1, layers) = run(spans = true, "layerpass")
    val (_, tracedNs2, _) = run(spans = true, "layerpass-2")
    val (_, plainNs2, _) = run(spans = false, "layerpass-plain-2")
    val plainNs = (plainNs1 + plainNs2) / 2.0
    val (scanned, recNs) = recover("layerpass")
    def layer(i: Int) = layers(Layers(i))
    def us(i: Int, per: Double): Double = layer(i)._2 / 1000.0 / math.max(1.0, per)
    val events = layer(Decode)._1.toDouble
    val trxs = units.size.toDouble
    Map(
      "mysql.decode_us_per_event" -> us(Decode, events),
      "sources.render_us_per_op" -> us(Render, ops),
      "streaming.parse_us_per_op" -> us(Parse, ops),
      "cdc.filter_us_per_op" -> us(Filter, ops),
      "cdc.encode_us_per_op" -> us(Encode, layer(Encode)._1),
      "cdc.batch_us_per_trx" -> us(Batch, trxs),
      "cdc.ddl_apply_us" -> us(DdlApply, layer(DdlApply)._1),
      "cdc.recovery_msgs_per_s" -> scanned / (recNs / 1e9),
      "trace.single_thread_ops_per_s" -> ops / (plainNs / 1e9),
      "trace.overhead_frac" -> ((tracedNs1 + tracedNs2) / 2.0 / plainNs - 1))
  }
}

object LayerPass {
  val Layers: IndexedSeq[String] =
    Vector("decode", "render", "parse", "filter", "ddl_apply", "encode", "batch", "produce", "persist")
  val Decode = 0; val Render = 1; val Parse = 2; val Filter = 3; val DdlApply = 4
  val Encode = 5; val Batch = 6; val Produce = 7; val Persist = 8
}
