package graft.sources

import graft.cdc._
import graft.streaming.{ChangeStream, OperationJson}
import graft.streaming.ChangeStream.OpEnvelope
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In, IsNotNull}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.{Files, Paths}
import java.util
import scala.jdk.CollectionConverters._

/** DSv2 streaming source for a recorded binlog-operation stream — the Spark
  * mapping of the reference's binlog syncer (S1, /root/reference/canal/
  * sync.go:69-225), replaying fixture JSON lines (FIXTURES.md) instead of a
  * live MySQL socket.
  *
  * Shape (SURVEY.md §1.4):
  *  - The offset axis is `Progress`: each offset serializes
  *    `(event_idx, log_name, log_pos, server_id)` — event_idx orders the
  *    stream (binlog order is total), the position fields mirror what a live
  *    source would checkpoint so restart resumes exactly at a binlog
  *    position, never mid-event.
  *  - Rotate/server-id threading is done once, single-threaded, when the
  *    fixture loads — the protocol-parse stage is inherently sequential
  *    (single replication connection); everything downstream distributes.
  *  - Rows are the generic envelope: flattened header columns (filterable,
  *    prunable) + the full operation as `op_wire`, its [[Wire.encodeOp]]
  *    record, for exact decode at the consumer edge ([[Wire.decodeOp]]);
  *    it is encoded only when the column is read. Filters on header
  *    columns are accepted by the scan (`SupportsPushDownFilters`) and
  *    applied before row materialization —
  *    the reference's excluded-tables-skip-row-decode pushdown
  *    (/root/reference/canal/canal.go:328-335).
  *
  * Options: `path` (fixture .jsonl, required), `maxEventsPerTrigger`
  * (micro-batch cap, default unbounded).
  *
  * Usage: `spark.readStream.format("binlog-replay").option("path", f).load()`
  * (also supports batch `spark.read`).
  */
class BinlogReplaySource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "binlog-replay"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BinlogReplaySource.SCHEMA

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // option keys arrive case-insensitively (lower-cased by DSv2)
    val opts = new CaseInsensitiveStringMap(properties)
    new BinlogReplayTable(opts.get("path"),
      Option(opts.get("maxEventsPerTrigger")).map(_.toLong),
      Option(opts.get("maxEventsPerSlice")).map(_.toInt).getOrElse(65536))
  }
}

object BinlogReplaySource {
  val SCHEMA: StructType = StructType(Seq(
    StructField("seq_no", LongType, nullable = false),
    StructField("log_name", StringType),
    StructField("server_id", LongType, nullable = false),
    StructField("op_type", StringType, nullable = false),
    StructField("timestamp", LongType, nullable = false),
    StructField("log_pos", LongType, nullable = false),
    StructField("database", StringType),
    StructField("table_name", StringType),
    StructField("statement", StringType),
    StructField("gtid", StringType),
    StructField("n_rows", IntegerType, nullable = false),
    StructField("progress_name", StringType),
    StructField("progress_pos", LongType),
    StructField("op_wire", BinaryType, nullable = false)))

  /** Per-JVM parsed-fixture cache, keyed by (path, size, mtime): the
    * protocol-parse stage runs ONCE per file per JVM. Driver and executors
    * each pay one parse; tasks ship only (path, index range), never the
    * event data (a live source would ship (connection, offset range) the
    * same way). Bounded: replay fixtures are small and test-scoped. */
  private val evCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Vector[OpEnvelope]]()

  /** The fixture's threaded events, parsed driver-side at load. */
  def load(path: String): Vector[OpEnvelope] = {
    val p = Paths.get(path)
    val key = (path, Files.size(p), Files.getLastModifiedTime(p).toMillis)
    if (evCache.size > 8) evCache.clear() // crude cap; reload is cheap
    evCache.computeIfAbsent(key, _ => doLoad(path))
  }

  private def doLoad(path: String): Vector[OpEnvelope] =
    ChangeStream.threadLogNames(Files.readAllLines(Paths.get(path)).asScala.iterator
      .map(_.trim).filter(_.nonEmpty).map(OperationJson.parse)).toVector

  /** Contiguous index-range slices in seqNo order: partition i holds seqNos
    * strictly below partition i+1's, so downstream narrow stages can restore
    * TOTAL order by draining partitions in index order — no range shuffle,
    * no sampling pass (W1 at scale). */
  def sliceRanges(total: Int, maxPerSlice: Int): Array[(Int, Int)] = {
    if (total == 0) Array((0, 0))
    else (0 until total by math.max(1, maxPerSlice))
      .map(s => (s, math.min(total, s + math.max(1, maxPerSlice)))).toArray
  }

  private def u(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  /** Column `i` of [[SCHEMA]] for one event; `wire` (the `op_wire` value)
    * is evaluated only when that column is asked for. */
  def column(i: Int, seqNo: Long, logName: String, op: Operation,
      wire: => Array[Byte]): Any = i match {
    case 0 => seqNo
    case 1 => u(logName)
    case 2 => op.header.serverId
    case 3 => u(op.header.opType)
    case 4 => op.header.timestamp
    case 5 => op.header.logPos
    case 6 => u(op.database.orElse(op.table.map(_.database)).orNull)
    case 7 => u(op.table.map(_.name).orNull)
    case 8 => u(op.statement.orNull)
    case 9 => u(op.gtid.orNull)
    case 10 => op.rows.size
    case 11 => u(op.progress.map(_.pos.name).orNull)
    case 12 => op.progress.map(p => java.lang.Long.valueOf(p.pos.pos)).orNull
    case 13 => wire
  }

  /** Evaluate a pushed filter against an event (header columns only). */
  def eval(f: Filter, e: OpEnvelope): Boolean = {
    def field(name: String): Option[Any] = name match {
      case "op_type" => Some(e.op.header.opType)
      case "server_id" => Some(e.op.header.serverId)
      case "database" => e.op.database.orElse(e.op.table.map(_.database))
      case "table_name" => e.op.table.map(_.name)
      case "log_name" => Some(e.logName)
      case _ => None
    }
    f match {
      case EqualTo(a, v) => field(a).forall(_ == v)
      case In(a, vs) => field(a).forall(x => vs.contains(x))
      case IsNotNull(a) => a match {
        case "database" | "table_name" => field(a).isDefined
        case _ => true
      }
      case _ => true
    }
  }

  def supported(f: Filter): Boolean = f match {
    case EqualTo(a, _) => pushable(a)
    case In(a, _) => pushable(a)
    case IsNotNull(a) => pushable(a)
    case _ => false
  }
  private def pushable(a: String): Boolean =
    Set("op_type", "server_id", "database", "table_name", "log_name")(a)
}

class BinlogReplayTable(path: String, maxPerTrigger: Option[Long], maxPerSlice: Int = 65536)
    extends Table with SupportsRead {
  require(path != null, "binlog-replay requires option 'path'")
  override def name(): String = s"binlog-replay($path)"
  override def schema(): StructType = BinlogReplaySource.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BinlogReplayScanBuilder(path, maxPerTrigger, maxPerSlice)
}

class BinlogReplayScanBuilder(path: String, maxPerTrigger: Option[Long], maxPerSlice: Int = 65536)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = BinlogReplaySource.SCHEMA

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(BinlogReplaySource.supported)
    // report everything back as residual: the source filter is an
    // optimization (skip row materialization), Spark re-checks exactly —
    // same contract as parquet row-group filters
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // column pruning: a projection that skips op_wire (the wide column)
    // never encodes it
    required = requiredSchema

  override def build(): Scan =
    new BinlogReplayScan(path, maxPerTrigger, maxPerSlice, pushed, required)
}

class BinlogReplayScan(path: String, maxPerTrigger: Option[Long], maxPerSlice: Int,
    pushed: Array[Filter], required: StructType) extends Scan {
  override def readSchema(): StructType = required
  override def description(): String =
    s"binlog-replay $path pushed=[${pushed.mkString(", ")}]"

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      BinlogReplaySource.sliceRanges(BinlogReplaySource.load(path).size, maxPerSlice)
        .map { case (s, e) => ReplaySlice(path, s, e): InputPartition }
    override def createReaderFactory(): PartitionReaderFactory =
      new ReplayReaderFactory(required, pushed)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new BinlogReplayMicroBatchStream(path, maxPerTrigger, maxPerSlice, pushed, required)
}

/** Offset = event index + the binlog position reached at that index
  * (the Progress axis a live source would persist). */
final case class ReplayOffset(eventIdx: Long, logName: String, logPos: Long,
    serverId: Long) extends Offset {
  override def json(): String = {
    // escape via Jackson — a quote/backslash in a log name interpolated
    // raw would write malformed JSON into the streaming offset log, and
    // the checkpoint could never be deserialized again
    val n = ReplayOffset.mapper.createObjectNode()
    n.put("event_idx", eventIdx)
    n.put("log_name", logName)
    n.put("log_pos", logPos)
    n.put("server_id", serverId)
    n.toString
  }
}

object ReplayOffset {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def fromJson(s: String): ReplayOffset = {
    val n = mapper.readTree(s)
    ReplayOffset(n.get("event_idx").asLong, n.get("log_name").asText,
      n.get("log_pos").asLong, n.get("server_id").asLong)
  }
  val zero: ReplayOffset = ReplayOffset(0L, "", 0L, 0L)
}

/** An index-range slice of the threaded event file. Ships only coordinates —
  * the executor materializes events from its per-JVM parsed cache. A live
  * source would ship (connection params, offset range) the same way. */
final case class ReplaySlice(path: String, start: Int, end: Int) extends InputPartition

class ReplayReaderFactory(required: StructType, pushed: Array[Filter])
    extends PartitionReaderFactory {
  private val ordinals: Array[Int] =
    required.fieldNames.map(BinlogReplaySource.SCHEMA.fieldIndex)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val slice = partition.asInstanceOf[ReplaySlice]
    new PartitionReader[InternalRow] {
      private val it = BinlogReplaySource.load(slice.path)
        .slice(slice.start, slice.end).iterator
        .filter(ev => pushed.forall(BinlogReplaySource.eval(_, ev)))
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) {
          val e = it.next()
          cur = new GenericInternalRow(ordinals.map(i =>
            BinlogReplaySource.column(i, e.seqNo, e.logName, e.op, Wire.encodeOp(e.op))))
          true
        } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

class BinlogReplayMicroBatchStream(path: String, maxPerTrigger: Option[Long],
    maxPerSlice: Int, pushed: Array[Filter], required: StructType) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import BinlogReplaySource._
  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxRows}

  private lazy val events: Vector[OpEnvelope] = load(path)

  /** Trigger.AvailableNow: fix the end of the replay at trigger time; the
    * per-batch ReadLimit below still paces the catch-up (same contract as
    * the Kafka source — without this interface the AvailableNow wrapper
    * ignores read limits and does one giant batch). */
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(events.size.toLong)

  private def offsetAt(idx: Long): ReplayOffset =
    if (idx <= 0) ReplayOffset.zero
    else {
      val e = events((idx - 1).toInt)
      // position reached AFTER consuming event idx-1: its own log_pos
      ReplayOffset(idx, e.logName, e.op.header.logPos, e.op.header.serverId)
    }

  override def initialOffset(): Offset = ReplayOffset.zero

  override def latestOffset(): Offset = offsetAt(events.size.toLong)

  /** Rate limiting goes through admission control — capping anywhere else
    * (e.g. planInputPartitions) would skip events, because Spark records
    * the END offset it asked for in the commit log, not what was read. */
  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(m => ReadLimit.maxRows(m)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[ReplayOffset].eventIdx
    val cap = availableNowCap.getOrElse(events.size.toLong)
    limit match {
      case mr: ReadMaxRows => offsetAt(math.min(cap, s + mr.maxRows))
      case _ => offsetAt(cap)
    }
  }

  override def deserializeOffset(json: String): Offset = {
    val off = ReplayOffset.fromJson(json)
    // restart safety: the offset persists (event_idx, log_name, log_pos,
    // server_id) so resumption can be VALIDATED, not just trusted — a
    // fixture regenerated with events inserted (the load cache already
    // anticipates file changes) would otherwise silently resume at the
    // wrong event and replay wrong or duplicate data
    require(off.eventIdx <= events.size.toLong,
      s"checkpointed offset ${off.eventIdx} is beyond the fixture " +
        s"(${events.size} events) — was the fixture truncated?")
    if (off.eventIdx > 0) {
      val e = events((off.eventIdx - 1).toInt)
      require(e.op.header.logPos == off.logPos &&
          e.op.header.serverId == off.serverId && e.logName == off.logName,
        s"checkpointed position (${off.logName}, ${off.logPos}, ${off.serverId}) " +
          s"does not match the fixture at index ${off.eventIdx}: found " +
          s"(${e.logName}, ${e.op.header.logPos}, ${e.op.header.serverId}) " +
          "— was the fixture regenerated?")
    }
    off
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ReplayOffset].eventIdx.toInt
    val e = end.asInstanceOf[ReplayOffset].eventIdx.toInt
    sliceRanges(e - s, maxPerSlice)
      .map { case (a, b) => ReplaySlice(path, s + a, s + b): InputPartition }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ReplayReaderFactory(required, pushed)

  override def commit(end: Offset): Unit = () // file replay: nothing to ack

  override def stop(): Unit = ()
}
