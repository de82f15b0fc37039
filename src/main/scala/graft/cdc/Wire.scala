package graft.cdc

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{DeflaterOutputStream, InflaterInputStream}
import scala.collection.mutable

/** The sink wire protocol, re-expressed from the reference's Kafka sink
  * (semantics, not code):
  *
  *  - every produced message carries (producer_id, seq, group_id,
  *    compression, more_fragment, payload) — the exactly-once envelope of
  *    /root/reference/sink/kafka/protocol/protocol.proto + kafka.go:421-430;
  *  - oversized op batches are BINARY-SPLIT until each payload fits
  *    (kafka.go:386-419); a single op that still doesn't fit is byte-sliced
  *    into IPv4-style fragments sharing a group_id, all but the last with
  *    more_fragment=true (kafka.go:434-488);
  *  - consumers dedup by consecutive seq and reassemble fragment groups
  *    before decode (/root/reference/sink/kafka/client/go/decoder.go:146-266).
  *
  * The reference encodes with protobuf; this object is the no-dependency
  * explicit binary codec (length-prefixed, versioned), and [[ProtoWire]] is
  * the protobuf-wire-compatible alternative honoring the reference's .proto
  * layout — both plug into the producer/decoder via [[WireCodec]]; the
  * protocol-level semantics (seq, grouping, fragmentation, zlib) are
  * identical. Note: the reference's produce() has a
  * double-send fall-through for single oversized ops (kafka.go:403-416 lacks
  * a continue); we implement the evident intent (send once).
  */
/** Pluggable ops/envelope serialization: [[Wire]] is the no-dependency
  * length-prefixed codec; [[ProtoWire]] is the reference-compatible
  * protobuf layout. Producer/decoder are codec-agnostic — the seq/
  * fragmentation/compression semantics live above this seam. */
trait WireCodec extends Serializable {
  def encodeOps(ops: Seq[Operation]): Array[Byte]
  def decodeOps(bytes: Array[Byte]): Vector[Operation]
  def encodeMessage(m: Wire.Message): Array[Byte]
  def decodeMessage(bytes: Array[Byte]): Wire.Message
  /** Single-op fragment, such that `assembleOps(ops.map(encodeOp))` is
    * byte-identical to `encodeOps(ops)`. The contract that lets executors
    * encode ops in parallel while the ordered sink assembles payloads
    * without re-encoding (see [[FragmentingProducer.produceEncoded]]). */
  def encodeOp(op: Operation): Array[Byte]
  def assembleOps(fragments: Seq[Array[Byte]]): Array[Byte]
}

object Wire extends WireCodec {

  final case class Message(
      producerId: Long,
      seq: Long,
      groupId: Long,
      compressed: Boolean,
      moreFragment: Boolean,
      payload: Array[Byte])

  // ---------- Operation <-> bytes ----------

  private def writeStr(out: DataOutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    out.writeInt(b.length)
    out.write(b)
  }
  private def readStr(in: DataInputStream): String = {
    val n = in.readInt()
    val b = new Array[Byte](n)
    in.readFully(b)
    new String(b, UTF_8)
  }
  private def writeOptStr(out: DataOutputStream, s: Option[String]): Unit = {
    out.writeBoolean(s.isDefined); s.foreach(writeStr(out, _))
  }
  private def readOptStr(in: DataInputStream): Option[String] =
    if (in.readBoolean()) Some(readStr(in)) else None

  private def writeValues(out: DataOutputStream, vs: Option[Vector[Option[String]]]): Unit = {
    out.writeBoolean(vs.isDefined)
    vs.foreach { v =>
      out.writeInt(v.length)
      v.foreach(writeOptStr(out, _))
    }
  }
  private def readValues(in: DataInputStream): Option[Vector[Option[String]]] =
    if (!in.readBoolean()) None
    else Some(Vector.fill(in.readInt())(readOptStr(in)))

  def encodeOps(ops: Seq[Operation]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(ops.length)
    ops.foreach(writeOp(out, _))
    out.flush()
    bos.toByteArray
  }

  def encodeOp(op: Operation): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    writeOp(out, op)
    out.flush()
    bos.toByteArray
  }

  /** int32 count ++ concatenated per-op records == encodeOps. */
  def assembleOps(fragments: Seq[Array[Byte]]): Array[Byte] = {
    val total = 4 + fragments.iterator.map(_.length).sum
    val buf = java.nio.ByteBuffer.allocate(total)
    buf.putInt(fragments.length)
    fragments.foreach(buf.put)
    buf.array()
  }

  private def writeOp(out: DataOutputStream, op: Operation): Unit = {
      out.writeLong(op.header.serverId)
      writeStr(out, op.header.opType)
      out.writeLong(op.header.timestamp)
      out.writeLong(op.header.logPos)
      writeOptStr(out, op.nextLogName)
      out.writeBoolean(op.nextLogPos.isDefined); op.nextLogPos.foreach(out.writeLong)
      writeOptStr(out, op.gtid)
      writeOptStr(out, op.database)
      writeOptStr(out, op.statement)
      out.writeBoolean(op.table.isDefined)
      op.table.foreach { t =>
        writeStr(out, t.database); writeStr(out, t.name); writeStr(out, t.charset)
        out.writeInt(t.columns.length)
        t.columns.foreach { c =>
          writeStr(out, c.name); writeStr(out, c.sqlType); out.writeInt(c.innerType)
          writeStr(out, c.key); writeStr(out, c.charset)
          out.writeBoolean(c.unsigned); out.writeBoolean(c.nullable)
        }
      }
      out.writeInt(op.rows.length)
      op.rows.foreach { r => writeValues(out, r.before); writeValues(out, r.after) }
      out.writeBoolean(op.progress.isDefined)
      op.progress.foreach { p =>
        writeStr(out, p.pos.name); out.writeLong(p.pos.pos); out.writeLong(p.pos.serverId)
        writeOptStr(out, p.gset.map(_.toString))
      }
  }

  def decodeOps(bytes: Array[Byte]): Vector[Operation] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    Vector.fill(in.readInt())(readOp(in))
  }

  /** The single-record inverse of [[encodeOp]]: `decodeOp(encodeOp(op)) == op`. */
  def decodeOp(bytes: Array[Byte]): Operation =
    readOp(new DataInputStream(new ByteArrayInputStream(bytes)))

  private def readOp(in: DataInputStream): Operation = {
    val serverId = in.readLong()
    val opType = readStr(in)
    val ts = in.readLong()
    val logPos = in.readLong()
    val nextLogName = readOptStr(in)
    val nextLogPos = if (in.readBoolean()) Some(in.readLong()) else None
    val gtid = readOptStr(in)
    val database = readOptStr(in)
    val statement = readOptStr(in)
    val table = if (!in.readBoolean()) None else Some {
      val db = readStr(in); val name = readStr(in); val charset = readStr(in)
      val cols = Vector.fill(in.readInt()) {
        ColumnDef(readStr(in), readStr(in), in.readInt(), readStr(in), readStr(in),
          in.readBoolean(), in.readBoolean())
      }
      TableDef(db, name, cols, charset)
    }
    val rows = Vector.fill(in.readInt())(OpRow(readValues(in), readValues(in)))
    val progress = if (!in.readBoolean()) None else {
      val name = readStr(in); val pos = in.readLong(); val sid = in.readLong()
      val gset = readOptStr(in)
      Some(Progress(Position(name, pos, sid), gset.map(Gset.parse)))
    }
    Operation(OperationHeader(serverId, opType, ts, logPos),
      nextLogName, nextLogPos, gtid, database, statement, table, rows, progress)
  }

  // ---------- zlib (X6) ----------

  def compress(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new DeflaterOutputStream(bos)
    z.write(data); z.close()
    bos.toByteArray
  }

  def decompress(data: Array[Byte]): Array[Byte] = {
    val in = new InflaterInputStream(new ByteArrayInputStream(data))
    in.readAllBytes()
  }

  // ---------- Message <-> bytes ----------

  def encodeMessage(m: Message): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(m.producerId); out.writeLong(m.seq); out.writeLong(m.groupId)
    out.writeBoolean(m.compressed); out.writeBoolean(m.moreFragment)
    out.writeInt(m.payload.length); out.write(m.payload)
    out.flush()
    bos.toByteArray
  }

  def decodeMessage(bytes: Array[Byte]): Message = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val pid = in.readLong(); val seq = in.readLong(); val gid = in.readLong()
    val comp = in.readBoolean(); val more = in.readBoolean()
    val payload = new Array[Byte](in.readInt())
    in.readFully(payload)
    Message(pid, seq, gid, comp, more, payload)
  }
}

/** Producer side: trx batch → messages. Stateful per sink (seq counter),
  * like /root/reference/sink/kafka/kafka.go (o.seq). */
final class FragmentingProducer(
    producerId: Long,
    maxPayloadSize: Int = 1 << 20, // 1 MiB default (kafka.go:109)
    compress: Boolean = false,
    codec: WireCodec = Wire,
    startSeq: Long = 0L) { // restart: seq resumes from the recovered ackedSeq

  private var seq: Long = startSeq
  def currentSeq: Long = seq

  private def next(groupId: Long, payload: Array[Byte], more: Boolean): Wire.Message = {
    seq += 1
    Wire.Message(producerId, seq, groupId, compress, more, payload)
  }

  private def marshal(ops: Seq[Operation]): Array[Byte] = {
    val raw = codec.encodeOps(ops)
    if (compress) Wire.compress(raw) else raw
  }

  /** Binary split + fragmentation (kafka.go:386-419 + :434-488). */
  def produce(ops: Seq[Operation]): Vector[Wire.Message] = {
    val out = Vector.newBuilder[Wire.Message]
    val stack = mutable.Stack[Seq[Operation]](ops)
    while (stack.nonEmpty) {
      val batch = stack.pop()
      val payload = marshal(batch)
      if (payload.length > maxPayloadSize && batch.length != 1) {
        val mid = batch.length / 2
        stack.push(batch.drop(mid)) // second half popped after first
        stack.push(batch.take(mid))
      } else {
        out ++= doProduce(payload)
      }
    }
    out.result()
  }

  /** Same protocol over ops pre-encoded with [[WireCodec.encodeOp]] (in
    * executors, in parallel): payloads are assembled by concatenation, so
    * the ordered sink never re-encodes. Byte-identical to `produce` on the
    * corresponding Operations — split decisions use the same marshaled
    * lengths, seq/group assignment is the same code path. */
  def produceEncoded(fragments: Seq[Array[Byte]]): Vector[Wire.Message] = {
    def marshalFrags(fs: Seq[Array[Byte]]): Array[Byte] = {
      val raw = codec.assembleOps(fs)
      if (compress) Wire.compress(raw) else raw
    }
    val out = Vector.newBuilder[Wire.Message]
    val stack = mutable.Stack[Seq[Array[Byte]]](fragments)
    while (stack.nonEmpty) {
      val batch = stack.pop()
      val payload = marshalFrags(batch)
      if (payload.length > maxPayloadSize && batch.length != 1) {
        val mid = batch.length / 2
        stack.push(batch.drop(mid))
        stack.push(batch.take(mid))
      } else {
        out ++= doProduce(payload)
      }
    }
    out.result()
  }

  private def doProduce(payload: Array[Byte]): Vector[Wire.Message] = {
    val groupId = seq + 1
    if (payload.length < maxPayloadSize) Vector(next(groupId, payload, more = false))
    else {
      payload.grouped(maxPayloadSize).toVector match {
        case init :+ last =>
          init.map(f => next(groupId, f, more = true)) :+ next(groupId, last, more = false)
        case _ => Vector(next(groupId, payload, more = false))
      }
    }
  }
}

/** Transaction batching with empty-transaction coalescing (W3 + F6 —
  * /root/reference/sink/kafka/kafka.go:294-336): ops buffer from BEGIN to
  * COMMIT/DDL; commits with zero DML only force a produce every
  * `emptyTrxLimit` consecutive empties (default 1000, kafka.go:322), so
  * progress keeps moving without spamming the sink.
  */
class TypedTrxBatcher[T](opTypeOf: T => String, emptyTrxLimit: Int = 1000) {
  private val buf = mutable.ArrayBuffer.empty[T]
  private var emptyTrxCount = 0
  private var hasDml = false

  /** Feed one operation; returns a batch to produce, if any. */
  def offer(op: T): Option[Vector[T]] = opTypeOf(op) match {
    case OpType.Begin | OpType.Gtid =>
      buf += op; None
    case OpType.Insert | OpType.Update | OpType.Delete =>
      buf += op; hasDml = true; None
    case OpType.Query =>
      buf += op; None
    case OpType.Commit =>
      buf += op
      if (hasDml) { emptyTrxCount = 0; flush() }
      else {
        emptyTrxCount += 1
        if (emptyTrxCount >= emptyTrxLimit) { emptyTrxCount = 0; flush() }
        else { buf.clear(); None }
      }
    case OpType.Ddl | OpType.Rotate =>
      buf += op; flush() // barrier events always produce
    case _ =>
      buf += op; None
  }

  def flush(): Option[Vector[T]] = {
    hasDml = false
    if (buf.isEmpty) None
    else {
      val out = buf.toVector
      buf.clear()
      Some(out)
    }
  }

  def pendingCount: Int = buf.size
  def consecutiveEmptyTrx: Int = emptyTrxCount
}

final class TrxBatcher(emptyTrxLimit: Int = 1000)
  extends TypedTrxBatcher[Operation](_.opType, emptyTrxLimit)

/** Consumer side: seq dedup + fragment reassembly + decode
  * (/root/reference/sink/kafka/client/go/decoder.go:146-266).
  */
final class OperationDecoder(codec: WireCodec = Wire, lastCommitSeq: Long = 0L) {
  private var curSeq: Long = lastCommitSeq
  private var curProducerId: Long = -1L
  private var fragments = Vector.empty[Array[Byte]]
  private var groupId: Long = 0L
  private var groupCompressed = false
  private var beginSeq = 0L
  private var beginOffset = 0L

  final case class DecodedBatch(
      ops: Vector[Operation],
      beginSeq: Long,
      endSeq: Long,
      beginOffset: Long,
      endOffset: Long,
      commitSeq: Long,
      commitOffset: Long)

  /** Feed one raw message; emits a batch when a fragment group completes.
    * Duplicated seq (≤ current) → dropped (exactly-once consumption); a
    * seq GAP raises — a gap means a message is missing from the topic and
    * every later message would be silently dropped forever by a
    * dup-style ignore (the consumer would read the whole topic producing
    * zero batches and no error). */
  def feed(data: Array[Byte], offset: Long): Option[DecodedBatch] = {
    val msg = codec.decodeMessage(data)

    if (curSeq == 0L) curSeq = msg.seq - 1 // init from first message
    if (msg.seq <= curSeq) return None // duplicate/stale → ignore
    if (msg.seq != curSeq + 1) throw new IllegalStateException(
      s"sequence gap: expected ${curSeq + 1}, got ${msg.seq} at offset $offset " +
        "— a message is missing from the topic")

    if (msg.producerId != curProducerId && fragments.nonEmpty) {
      fragments = Vector.empty // failover: drop incomplete group
    }
    curProducerId = msg.producerId
    curSeq = msg.seq

    if (fragments.isEmpty) {
      groupId = msg.groupId
      groupCompressed = msg.compressed
      beginSeq = msg.seq
      beginOffset = offset
    } else {
      require(msg.groupId == groupId,
        s"unexpected new fragment group ${msg.groupId} inside group $groupId")
    }
    fragments :+= msg.payload

    if (msg.moreFragment) None
    else {
      val whole = fragments.reduce(_ ++ _)
      fragments = Vector.empty
      val raw = if (groupCompressed) Wire.decompress(whole) else whole
      Some(DecodedBatch(codec.decodeOps(raw), beginSeq, msg.seq, beginOffset, offset,
        commitSeq = msg.seq, commitOffset = offset))
    }
  }
}
